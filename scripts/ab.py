"""Interleaved A/B of the repository benchmark: a base commit against this
checkout, in fresh processes, pair by pair.

    python scripts/ab.py --base HEAD~1 --workload dashboard --pairs 10 --seed 41

exports the base ref read-only into a temporary directory (``git archive``,
so the repository's own refs and worktree list stay untouched), reuses this
checkout's ``jvm/uwheel-shim.jar`` there when both trees hold a
byte-identical ``jvm/UwheelShim.scala`` (no shim rebuild), then runs
``perfbench/run.py --workload W --seed S --trace T`` once per side for each
of N pairs. Pair ``i`` uses seed ``S + i`` on both sides, and the side that
runs first alternates between pairs, so a host that drifts slower or faster
over the session tilts neither side.

Per metric it prints each side's median and quartiles, the base's
interquartile range, the median of the per-pair differences, and how many
pairs the change won (direction from ``BENCHMARK.json``'s ``better``), then
each side's ``failed`` counts. Each end-to-end metric also gets one verdict
(:func:`verdict`): ``gain``, ``regression``, ``unresolved`` or ``flat``.
The exit status is 1 when any run failed an operation or an answer check.
``--out FILE`` also writes every run's raw result as JSON. Nothing under
``perfbench/`` or ``BENCHMARK.json`` is modified.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAR = os.path.join("jvm", "uwheel-shim.jar")
SHIM_SRC = os.path.join("jvm", "UwheelShim.scala")


def log(msg: str) -> None:
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def export_base(ref: str, dest: str) -> str:
    """Write the tree of ``ref`` into ``dest`` and return its commit id."""
    sha = subprocess.run(
        ["git", "rev-parse", "--verify", f"{ref}^{{commit}}"],
        cwd=ROOT, check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.strip()
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait():
        raise RuntimeError(f"git archive {sha} failed")
    src_here, src_base = os.path.join(ROOT, SHIM_SRC), os.path.join(dest, SHIM_SRC)
    if (
        os.path.exists(os.path.join(ROOT, JAR))
        and os.path.exists(src_base)
        and filecmp.cmp(src_here, src_base, shallow=False)
    ):
        shutil.copy2(os.path.join(ROOT, JAR), os.path.join(dest, JAR))
        log("shim source identical: reusing this checkout's jar")
    return sha


def run_side(root: str, args, seed: int) -> dict:
    cmd = [
        sys.executable, os.path.join("perfbench", "run.py"),
        "--workload", args.workload, "--seed", str(seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]
    out = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode or not lines:
        raise RuntimeError(f"{' '.join(cmd)} in {root} exited {out.returncode}")
    return json.loads(lines[-1])


def benchmark_spec() -> tuple[dict[str, str], dict[str, float]]:
    """``({metric: better}, {end-to-end metric: bound})`` from the
    read-only ``BENCHMARK.json``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    better = {
        m["name"]: m["better"]
        for m in spec.get("end_to_end", []) + spec.get("per_layer", [])
    }
    return better, {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}


def quartiles(vs: list[float]) -> tuple[float, float, float]:
    if len(vs) < 2:
        return (vs[0],) * 3
    q1, q2, q3 = statistics.quantiles(vs, n=4)
    return q1, q2, q3


def verdict(base: list[float], change: list[float], lower: bool, bound: float) -> str:
    """One word per end-to-end metric, checked in this order:

    - ``regression``: the change's median is worse than the base median by
      more than ``bound`` (relative, as ``BENCHMARK.json`` states it);
    - ``unresolved``: the base runs spread (IQR / median) wider than
      ``bound``, too widely to tell;
    - ``gain``: the change won at least 9 in 10 pairs and its median
      difference is larger than the base IQR;
    - ``flat``: anything else."""
    bq, cq = quartiles(base), quartiles(change)
    sign = 1 if lower else -1
    if bq[1] and sign * (cq[1] - bq[1]) / bq[1] > bound:
        return "regression"
    if bq[1] and (bq[2] - bq[0]) / bq[1] > bound:
        return "unresolved"
    diffs = [sign * (y - x) for x, y in zip(base, change)]
    wins = sum(d < 0 for d in diffs)
    if 10 * wins >= 9 * len(diffs) and -statistics.median(diffs) > bq[2] - bq[0]:
        return "gain"
    return "flat"


def report(runs: list[dict], better: dict[str, str], bounds: dict[str, float]) -> bool:
    """Print the table, the verdicts and each side's failures; ``True``
    when every run of both sides passed every check."""
    names = [k for k in runs[0]["base"]["metrics"] if k in runs[0]["change"]["metrics"]]
    print(
        f"{'metric':40s} {'base q1/med/q3':>32s} {'change q1/med/q3':>32s} "
        f"{'base IQR':>10s} {'med diff':>10s} {'wins':>6s}"
    )
    for k in names:
        b = [r["base"]["metrics"][k]["value"] for r in runs]
        c = [r["change"]["metrics"][k]["value"] for r in runs]
        bq, cq = quartiles(b), quartiles(c)
        diffs = [y - x for x, y in zip(b, c)]
        lower = better.get(k, "lower") == "lower"
        wins = sum((d < 0) if lower else (d > 0) for d in diffs)
        print(
            f"{k:40s} {bq[0]:10.4g} {bq[1]:10.4g} {bq[2]:10.4g} "
            f"{cq[0]:10.4g} {cq[1]:10.4g} {cq[2]:10.4g} "
            f"{bq[2] - bq[0]:10.4g} {statistics.median(diffs):10.4g} "
            f"{wins:3d}/{len(runs)}"
        )
    for k in names:
        if k in bounds:
            b = [r["base"]["metrics"][k]["value"] for r in runs]
            c = [r["change"]["metrics"][k]["value"] for r in runs]
            lower = better.get(k, "lower") == "lower"
            print(f"verdict {k}: {verdict(b, c, lower, bounds[k])}")
    ok = True
    for side in ("base", "change"):
        failed = [r[side]["failed"] for r in runs]
        correct = all(r[side]["correct"] for r in runs)
        ok = ok and correct and not any(failed)
        print(f"{side} failed per run: {failed} (correct in every run: {correct})")
    return ok


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--base", required=True, help="git ref to compare against")
    p.add_argument("--workload", default="dashboard", choices=("dashboard", "ingest"))
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=41, help="seed of the first pair")
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--workdir", help="where to export the base (default: a temp dir)")
    p.add_argument("--out", help="write every run's raw result to this JSON file")
    args = p.parse_args(argv)

    workdir = args.workdir or tempfile.mkdtemp(prefix="uwheel-ab-")
    base_root = os.path.join(workdir, "base")
    try:
        sha = export_base(args.base, base_root)
        log(f"base {args.base} = {sha[:12]} exported to {base_root}")
        runs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_side(base_root if side == "base" else ROOT, args, seed)
            runs.append(pair)
            log(
                f"pair {i + 1}/{args.pairs} seed {seed} ({order[0]} first): " + " ".join(
                    f"{k} {pair['base']['metrics'][k]['value']:.4g}"
                    f"->{pair['change']['metrics'][k]['value']:.4g}"
                    for k in pair["base"]["metrics"]
                    if k in pair["change"]["metrics"]
                )
            )
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"base": sha, "workload": args.workload, "runs": runs}, f)
        print(f"A/B {args.workload}: base {sha[:12]} vs this checkout, "
              f"{args.pairs} pairs from seed {args.seed}, trace {args.trace}")
        ok = report(runs, *benchmark_spec())
    finally:
        if not args.workdir:
            shutil.rmtree(workdir, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

"""Per-layer metrics of the traced run, derived from its spans, the Spark
job groups and the corpus operators' executed plans.

A layer is a package module; each metric names the module it measures
(``sqlparse``, ``router``, ``lookup``, ``engine``, ``jvmshim``,
``catalog``, the sketch rollups, ``maintenance`` and the corpus operators)
or the Spark boundary under it (``py4j``, ``delegate``, ``spark``).
"""

from __future__ import annotations

import statistics

from perfbench.tracing import ASK, END, NAME, PARENT, START, TAG

#: Route kinds the pinned families produce.
KINDS = ("count_range", "single_agg", "group_by", "hybrid_agg", "prune_minmax", "delegate")
LOOKUPS = ("count_range", "combine_range", "group_by", "min_max_range", "at_start")
DOORS = ("rows", "hot", "df", "shim", "sketch", "delegate")
CORPUS = {"dedup": "dedup", "decon": "contamination", "pack": "packing"}
CORPUS_COUNTS = ("spark_jobs", "stages", "tasks", "exchanges", "python_eval_nodes")

UNITS = (("_us", "us"), ("_ms", "ms"), ("_s", "s"), ("_share", "ratio"), ("_growth", "ratio"),
         ("_bytes", "bytes"))


def unit_of(name: str) -> str:
    """Unit from the name's suffix (``router.try_rewrite_us.group_by`` is
    in µs, ``lookup.index_bytes_per_batch`` in bytes); counts otherwise."""
    for suffix, unit in UNITS:
        if name.endswith(suffix) or suffix + "." in name or suffix + "_" in name:
            return unit
    return "count"


def pct(values, q: float):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def med(values, scale: float = 1.0) -> float:
    return statistics.median(values) / scale if values else 0.0


def per_layer(run, job_counts: dict[str, int]) -> dict:
    tr = run.tracer
    spans = tr.spans
    own = tr.self_times()
    recs = run.records
    traced_ask = {i for i, r in enumerate(recs) if r.traced}

    def durs(name, where=lambda s: True):
        return [s[END] - s[START] for s in spans if s[NAME] == name and where(s)]

    def in_door(*doors):
        return lambda s: s[ASK] in traced_ask and recs[s[ASK]].ask.door in doors

    m: dict[str, float] = {}

    # engine build (the three measured set-ups)
    m["engine.ctor_s"] = med(durs("engine.ctor", lambda s: s[ASK] < 0), 1e9)
    m["rollups.build_index_s"] = med(durs("engine.build_index", lambda s: s[ASK] < 0), 1e9)
    m["rollups.build_partitioned_s"] = med(
        durs("engine.build_partitioned_index", lambda s: s[ASK] < 0), 1e9)
    m["sketch.build_s"] = med(durs("engine.build_sketch_indexes", lambda s: s[ASK] < 0), 1e9)
    setups = [i for i, s in enumerate(spans) if s[NAME] == "setup"]
    reg = {i: 0 for i in setups}
    for s in spans:
        if s[NAME].startswith("jvmshim.register") and s[PARENT] in reg:
            reg[s[PARENT]] += s[END] - s[START]
    m["jvmshim.register_s"] = med(list(reg.values()), 1e9)
    m["spark.jobs.setup"] = len(run.jobs("setup")) / max(1, len(setups))
    m["lookup.index_bytes"] = run.index_bytes[0]

    # parse and route (traced asks)
    m["sqlparse.parse_us"] = med(durs("sqlparse.parse_select", in_door(*DOORS)), 1e3)
    routes = [s for s in spans if s[NAME] == "router.try_rewrite" and s[ASK] in traced_ask]
    for kind in KINDS:
        m[f"router.try_rewrite_us.{kind}"] = med(
            [s[END] - s[START] for s in routes if s[TAG][0] == kind], 1e3)
    m["router.routed_share"] = (
        sum(1 for s in routes if s[TAG][0] != "delegate") / len(routes) if routes else 0.0)
    m["router.delegates.residual_filter"] = sum(
        1 for s in routes if s[TAG][0] == "delegate" and recs[s[ASK]].ask.door == "delegate")
    m["router.delegates.unpinned"] = sum(
        1 for s in routes if s[TAG][0] == "delegate" and recs[s[ASK]].ask.kind != "delegate")

    # wheel lookups: calls per fresh Row-door ask, call time over every door
    rows_fresh = [i for i in traced_ask if recs[i].ask.door == "rows"]
    lookups = [s for s in spans if s[NAME].startswith("lookup.") and s[NAME] != "lookup.merge_delta"
               and s[ASK] in traced_ask]
    m["lookup.calls_per_ask"] = sum(
        1 for s in lookups if recs[s[ASK]].ask.door == "rows") / max(1, len(rows_fresh))
    for name in LOOKUPS:
        m[f"lookup.call_us.{name}"] = med(
            [s[END] - s[START] for s in lookups if s[NAME] == f"lookup.{name}"], 1e3)

    # doors and memos
    routed_asks = {s[ASK] for s in routes}
    row_door = [i for i in traced_ask if recs[i].ask.door in ("rows", "hot")]
    m["engine.memo_hit_share"] = (
        sum(1 for i in row_door if i not in routed_asks) / len(row_door) if row_door else 0.0)
    m["engine.rows_self_us"] = med(
        [own[j] for j, s in enumerate(spans)
         if s[NAME] == "engine.sql_rows" and in_door("rows")(s)], 1e3)
    m["router.constant_df_ms"] = med(durs("router.constant_df", in_door("df")), 1e6)
    m["py4j.collect_ms"] = med(durs(
        "spark.collect", lambda s: in_door("df")(s) and recs[s[ASK]].ask.family != "cte"), 1e6)
    # door latencies as the end-to-end metrics define them (untraced half)
    for door in ("df", "shim", "sketch", "delegate"):
        m[f"{door}.p50_ms"] = run.door_p50(door) / 1e3
    m["hot.post_merge_us"] = med(run.door_us("hot", False, True) + run.door_us("hot", True, True))
    m["ingest.batch_p50_ms"] = med(run.batch_ms)
    rows = run.door_us("rows", True) + run.door_us("rows", False)
    m["rows.p99_us"] = pct(rows, 0.99) if rows else 0.0
    m["rows.samples"] = len(rows)
    df = run.door_us("df", True) + run.door_us("df", False)
    m["df.p99_ms"] = pct(df, 0.99) / 1e3 if df else 0.0
    m["df.samples"] = len(df)
    for door in DOORS:
        n = sum(1 for r in recs if r.ask.door == door)
        m[f"spark.jobs_per_ask.{door}"] = job_counts.get(door, 0) / max(1, n)

    # Catalyst shim
    m["jvmshim.plan_ms"] = med(durs("spark.sql", in_door("shim")), 1e6)
    m["jvmshim.collect_ms"] = med(durs("spark.collect", in_door("shim")), 1e6)
    shim = [r for r in recs if r.ask.door == "shim" and r.ok]
    m["jvmshim.rewritten_share"] = (
        sum(1 for r in shim if run.events_dir not in r.plan) / len(shim) if shim else 0.0)
    m["jvmshim.view_scan_share"] = (
        sum(1 for r in shim if "uwheel_shim_" in r.plan) / len(shim) if shim else 0.0)

    # catalog CTE join, sketches, delegate
    m["catalog.cte_ask_ms"] = med(
        [r.ns for r in recs if r.traced and r.ask.family == "cte" and r.ok], 1e6)
    for fam, name in (("distinct", "distinct"), ("quantile", "quantile"), ("theta", "theta")):
        m[f"sketch.ask_ms.{name}"] = med(durs(f"sketch.ask.{fam}", in_door("sketch")), 1e6)
    m["sketch.refresh_jobs"] = run.sketch_refresh_jobs
    refresh = run.door_us("sketch", False, True) + run.door_us("sketch", True, True)
    m["sketch.refresh_ask_ms"] = med(refresh, 1e3)
    m["sketch.merge_ms"] = med(durs("sketch.merge_batch"), 1e6)
    m["delegate.plan_ms"] = med(durs("spark.sql", in_door("delegate")), 1e6)
    m["delegate.exec_ms"] = med(durs("spark.collect", in_door("delegate")), 1e6)

    # streaming maintenance, per batch
    batches = [i for i, s in enumerate(spans) if s[NAME] == "maintenance.merge_batch"]
    delta = {i: 0 for i in batches}
    for s in spans:
        if s[NAME] == "lookup.merge_delta":
            p = s[PARENT]
            while p >= 0 and p not in delta:
                p = spans[p][PARENT]
            if p >= 0:
                delta[p] += s[END] - s[START]
    merge = [spans[i][END] - spans[i][START] for i in batches]
    m["maintenance.merge_ms"] = med(merge, 1e6)
    m["lookup.merge_delta_ms"] = med(list(delta.values()), 1e6)
    m["maintenance.spark_ms"] = med([d - delta[i] for i, d in zip(batches, merge)], 1e6)
    m["maintenance.merge_growth"] = merge[-1] / merge[0] if merge else 0.0
    m["spark.jobs_per_batch"] = len(run.jobs("ingest")) / max(1, len(run.batch_ms))
    m["lookup.index_bytes_per_batch"] = (
        (run.index_bytes[-1] - run.index_bytes[0]) / max(1, len(run.index_bytes) - 1))

    # corpus operators
    for op, module in CORPUS.items():
        m[f"{module}.wall_s"] = med(run.corpus_s.get(op, []))
        counts = run.corpus_layers.get(op, {})
        for c in CORPUS_COUNTS:
            m[f"{module}.{c}"] = counts.get(c, 0)

    # tracing overhead: traced minus untraced medians of the same window
    for door, key, scale in (("rows", "trace.overhead_us.rows", 1.0),
                             ("df", "trace.overhead_ms.df", 1e3)):
        m[key] = (med(run.door_us(door, True)) - med(run.door_us(door, False))) / scale

    return {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()}

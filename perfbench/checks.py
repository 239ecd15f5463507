"""Answer checks, run outside every timed region.

Routed answers are compared with DuckDB over exactly the rows the engine
had merged when the ask ran; sketch estimates against DuckDB's exact
answers at the bounds in the notes; corpus outputs against the package's
DuckDB oracles (``datafusion_uwheel_spark.oracles``).
"""

from __future__ import annotations

import math

#: Relative tolerance for floating-point answers: double summation order
#: differs between engines.
REL_TOL = 1e-9
#: HLL / theta estimates: within 5% of the exact distinct count (or 2).
DISTINCT_TOL = 0.05
#: KLL estimates: between the exact quantiles at q -/+ this rank error.
RANK_TOL = 0.04


def same_value(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if type(a) is not type(b):
        return False
    if isinstance(a, float):
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=REL_TOL)
    return a == b


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(same_value(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def row_names(rows) -> list[str] | None:
    return list(rows[0].__fields__) if rows else None


def duck_answer(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def sketch_ok(con, family: str, args: tuple, est) -> bool:
    if family == "distinct":
        col, a, b = args
        exact = con.execute(
            f"SELECT COUNT(DISTINCT {col}) FROM events WHERE ts >= '{a}' AND ts < '{b}'"
        ).fetchone()[0]
        return abs(est - exact) <= max(DISTINCT_TOL * exact, 2)
    if family == "quantile":
        col, q, a, b = args
        lo, hi = con.execute(
            f"SELECT quantile_cont({col}, {max(0.0, q - RANK_TOL)}), "
            f"quantile_cont({col}, {min(1.0, q + RANK_TOL)}) "
            f"FROM events WHERE ts >= '{a}' AND ts < '{b}'"
        ).fetchone()
        return lo is not None and lo - 1e-9 <= est <= hi + 1e-9
    if family == "retained":
        col, (a1, b1), (a2, b2) = args
        exact = con.execute(
            f"SELECT COUNT(*) FROM (SELECT DISTINCT {col} FROM events WHERE ts >= '{a1}' "
            f"AND ts < '{b1}' INTERSECT SELECT DISTINCT {col} FROM events "
            f"WHERE ts >= '{a2}' AND ts < '{b2}')"
        ).fetchone()[0]
        return abs(est - exact) <= max(DISTINCT_TOL * exact, 2)
    raise ValueError(family)


def components(pairs) -> dict[int, int]:
    """Union-find over ``(a, b)`` pairs → ``{id: smallest id in its
    component}`` — the reference answer for ``dedup.dup_clusters``."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def packing_ok(rows, doc_tokens: dict[int, int], max_tokens: int) -> bool:
    """Every document lands in exactly one sequence; a sequence holds at
    most ``max_tokens`` tokens unless it is an oversize singleton."""
    ids = [r["doc_id"] for r in rows]
    if sorted(ids) != sorted(doc_tokens) or len(set(ids)) != len(ids):
        return False
    seqs: dict = {}
    for r in rows:
        if r["n_tokens"] != doc_tokens[r["doc_id"]]:
            return False
        if r["oversize"] != (r["n_tokens"] > max_tokens):
            return False
        seqs.setdefault(r["seq_id"], []).append(r)
    for members in seqs.values():
        total = sum(m["n_tokens"] for m in members)
        if total > max_tokens and not (len(members) == 1 and members[0]["oversize"]):
            return False
    return True

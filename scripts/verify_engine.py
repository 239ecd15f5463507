"""Verify-skill driver: public-surface flows + routing + zero-job checks.

Run: python scripts/verify_engine.py
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, "/root/repo")

from datafusion_uwheel_spark import WheelEngine, get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"
FAIL = 0


def check(name, cond, detail=""):
    global FAIL
    print(("ok  " if cond else "FAIL"), name, detail if not cond else "")
    if not cond:
        FAIL += 1


def main():
    spark = get_spark("verify", master="local[4]", shuffle_partitions=4)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{SF}/events.parquet'")

    eng = WheelEngine(
        spark, "events", f"{SF}/events.parquet", time_column="ts", min_max_columns=("value",)
    )
    eng.build_index("value")
    eng.build_index("value", filter="event_type = 'click'")

    A, B = "2024-01-03 00:00:00", "2024-01-10 00:00:00"

    def routed(sql, kind):
        tracker = spark.sparkContext.statusTracker()
        before = set(tracker.getJobIdsForGroup(None))
        df = eng.sql(sql)
        rows = df.collect()
        after = set(tracker.getJobIdsForGroup(None))
        check(f"route[{kind}]", eng.last_route.kind == kind, f"got {eng.last_route}")
        check(f"nojobs[{kind}]", after == before, f"jobs launched: {after - before}")
        return rows

    # -------- routed kinds, cross-checked against duckdb
    rows = routed(f"SELECT COUNT(*) AS cnt FROM events WHERE ts >= '{A}' AND ts < '{B}'", "count_range")
    oracle = con.sql(f"SELECT count(*) FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}'").fetchone()[0]
    check("count_value", rows[0][0] == oracle, f"{rows[0][0]} != {oracle}")

    rows = routed(f"SELECT SUM(value) AS s FROM events WHERE ts >= '{A}' AND ts < '{B}'", "single_agg")
    oracle = con.sql(f"SELECT sum(value) FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}'").fetchone()[0]
    check("sum_value", math.isclose(rows[0][0], oracle, rel_tol=1e-9))

    rows = routed(
        f"SELECT AVG(value) AS a, MIN(value) AS lo, MAX(value) AS hi FROM events WHERE ts >= '{A}' AND ts < '{B}'",
        "multi_agg",
    )
    o = con.sql(f"SELECT avg(value), min(value), max(value) FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}'").fetchone()
    check("multi_value", all(math.isclose(a, b, rel_tol=1e-9) for a, b in zip(rows[0], o)))

    for gran in ("day", "week", "month", "quarter", "year"):
        lo, hi = ("2024-01-01 00:00:00", "2024-01-29 00:00:00")
        rows = routed(
            f"SELECT date_trunc('{gran}', ts) AS b, COUNT(*) AS n FROM events "
            f"WHERE ts >= '{lo}' AND ts < '{hi}' GROUP BY date_trunc('{gran}', ts)",
            "group_by",
        )
        o = con.sql(
            f"SELECT CAST(date_trunc('{gran}', ts) AS TIMESTAMP), count(*) FROM events "
            f"WHERE ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}' GROUP BY 1 ORDER BY 1"
        ).fetchall()
        got = sorted((r[0], r[1]) for r in rows)
        check(f"groupby_{gran}", got == [(a.replace(tzinfo=None) if a.tzinfo else a, b) for a, b in o], f"{got[:2]} vs {o[:2]}")

    rows = routed(
        f"SELECT SUM(value) AS s FROM events WHERE ts >= '{A}' AND ts < '{B}' AND event_type = 'click'",
        "single_agg",
    )
    oracle = con.sql(
        f"SELECT sum(value) FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' AND event_type = 'click'"
    ).fetchone()[0]
    check("keyed_sum_value", math.isclose(rows[0][0], oracle, rel_tol=1e-9))

    rows = routed("SELECT SUM(value) AS s FROM events", "landmark")
    oracle = con.sql("SELECT sum(value) FROM events").fetchone()[0]
    check("landmark_value", math.isclose(rows[0][0], oracle, rel_tol=1e-9))

    rows = routed(
        "SELECT * FROM events WHERE ts >= '2024-01-05 00:45:00' AND ts < '2024-01-05 00:46:00'",
        "prune_count",
    )
    check("prune_count_empty", rows == [])

    rows = routed(
        f"SELECT * FROM events WHERE ts >= '{A}' AND ts < '{B}' AND value > 100000.0",
        "prune_minmax",
    )
    check("prune_minmax_empty", rows == [])

    # Out-of-span range on a complete (unrestricted) index: answered 0 from
    # the index — deliberate deviation from the reference's strict gate.
    rows = routed(
        "SELECT COUNT(*) AS c FROM events WHERE ts >= '2030-01-01 00:00:00' AND ts < '2030-02-01 00:00:00'",
        "count_range",
    )
    check("out_of_span_zero", rows[0][0] == 0)

    # -------- round-2 routed kinds (boundary algebra / OR / HAVING / point)
    rows = routed(
        f"SELECT COUNT(*) AS c FROM events WHERE ts BETWEEN '{A}' AND '2024-01-09 23:59:59'",
        "hybrid_agg",
    )
    want = con.sql(
        f"SELECT count(*) FROM events WHERE ts BETWEEN TIMESTAMP '{A}' "
        "AND TIMESTAMP '2024-01-09 23:59:59'"
    ).fetchone()[0]
    check("hybrid_between_value", rows[0][0] == want, f"{rows[0][0]} != {want}")

    rows = routed(
        f"SELECT COUNT(*) AS c FROM events WHERE ts = '{A}'",
        "point_agg",
    )
    want = con.sql(f"SELECT count(*) FROM events WHERE ts = TIMESTAMP '{A}'").fetchone()[0]
    check("point_instant_value", rows[0][0] == want, f"{rows[0][0]} != {want}")

    rows = routed(
        "SELECT COUNT(*) AS c FROM events WHERE "
        f"(ts >= '{A}' AND ts < '2024-01-04 00:00:00') OR "
        "(ts >= '2024-01-06 00:00:00' AND ts < '2024-01-07 00:00:00')",
        "or_ranges",
    )
    want = con.sql(
        "SELECT count(*) FROM events WHERE "
        f"(ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '2024-01-04 00:00:00') OR "
        "(ts >= TIMESTAMP '2024-01-06 00:00:00' AND ts < TIMESTAMP '2024-01-07 00:00:00')"
    ).fetchone()[0]
    check("or_ranges_value", rows[0][0] == want, f"{rows[0][0]} != {want}")

    rows = routed(
        "SELECT date_trunc('hour', ts) AS b, COUNT(*) AS c FROM events "
        f"WHERE ts >= '{A}' AND ts < '{B}' GROUP BY date_trunc('hour', ts) "
        "HAVING COUNT(*) > 10 ORDER BY b LIMIT 5",
        "group_by",
    )
    check("having_order_limit_shape", len(rows) <= 5)

    rows = routed(
        "SELECT date_trunc('day', ts) AS b, COUNT(*) AS c FROM events "
        "GROUP BY date_trunc('day', ts)",
        "group_by_landmark",
    )
    want = con.sql("SELECT count(DISTINCT date_trunc('day', ts)) FROM events").fetchone()[0]
    check("landmark_group_by_rows", len(rows) == want, f"{len(rows)} != {want}")

    # -------- direct-rows path (r6): same values as the DataFrame path,
    # zero Spark jobs, zero JVM round trips
    direct_sqls = [
        f"SELECT COUNT(*) AS c FROM events WHERE ts >= '{A}' AND ts < '{B}'",
        f"SELECT COUNT(*) AS c, SUM(value) AS s, MIN(value) AS lo FROM events "
        f"WHERE ts >= '{A}' AND ts < '{B}'",
        f"SELECT date_trunc('day', ts) AS b, COUNT(*) AS c FROM events "
        f"WHERE ts >= '{A}' AND ts < '{B}' GROUP BY date_trunc('day', ts) ORDER BY b",
    ]
    sc = spark.sparkContext
    for sql in direct_sqls:
        rows = eng.sql_rows(sql)
        check(f"sql_rows routed[{sql[:48]}…]", eng.last_route.rewritten, str(eng.last_route))
        df_rows = eng.sql(sql).collect()
        same = [tuple(r) for r in rows] == [tuple(r) for r in df_rows]
        check("  …sql_rows parity", same, f"{rows[:2]} != {df_rows[:2]}")
    # the eng.sql().collect() comparisons may launch jobs on some paths;
    # run the direct calls alone and require NO new jobs from them
    jobs_before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    for sql in direct_sqls:
        eng._route_memo.clear()
        eng.sql_rows(sql)
    jobs_after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    check("sql_rows zero jobs", jobs_after == jobs_before, f"{jobs_before}->{jobs_after}")

    # -------- delegation probes: must delegate AND stay correct
    probes = [
        (f"SELECT COUNT(*) AS c FROM events WHERE ts >= '2024-01-03 00:00:00.250' AND ts < '{B}'",
         f"SELECT count(*) FROM events WHERE ts >= TIMESTAMP '2024-01-03 00:00:00.250' AND ts < TIMESTAMP '{B}'"),
        (f"SELECT COUNT(*) AS c FROM events WHERE (ts >= '{A}' AND ts < '{B}') OR event_type = 'view'", None),
        (f"SELECT SUM(value) AS s FROM events WHERE ts >= '{A}' AND ts < '{B}' AND event_type = 'purchase'",
         f"SELECT sum(value) FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' AND event_type = 'purchase'"),
        (f"SELECT COUNT(*) AS c FROM events WHERE ts >= '{A}' AND ts < '{B}' GROUP BY event_type", None),
    ]
    for sql, osql in probes:
        df = eng.sql(sql)
        check(f"delegate[{sql[:58]}…]", not eng.last_route.rewritten, str(eng.last_route))
        if osql:
            got = df.collect()[0][0]
            want = con.sql(osql).fetchone()[0]
            ok = got == want if isinstance(want, int) else math.isclose(got, want, rel_tol=1e-9)
            check("  …delegated result", ok, f"{got} != {want}")

    check_setup_jobs(spark)

    print(f"\n{FAIL} failures")
    sys.exit(1 if FAIL else 0)


#: Spark jobs each phase of the benchmark's set-up sequence may launch.
#: ctor: the parquet read's schema job (its own scan is deferred to the
#: first build); build_index: rollup shuffle + executor-side sort (range
#: sampling, sort shuffle, result); partitioned: shuffle + result;
#: sketches: shuffle + the shared cache + one sizing action + ONE mirror
#: collect; count view: the NULL-timestamp probe; file-backed views read
#: with their written schema: none. A phase over its ceiling re-added work.
#: The last phase is not the benchmark's: a one-family sketch build is the
#: same builder's one-column case, so it keeps the three-family ceiling.
SETUP_JOB_CEILINGS = {
    "ctor": 1, "build_index": 4, "build_partitioned_index": 2,
    "build_sketch_indexes": 4, "register_count_rollup": 1,
    "register_agg_rollup": 0, "register_dim_rollup": 0,
    "build_theta_index": 4,
}


def check_setup_jobs(spark):
    """Set-up jobs per phase: the benchmark's set-up sequence on the
    testdata (rollup views forced onto the parquet backing), then a
    one-family sketch build, each phase in its own Spark job group."""
    import tempfile

    from datafusion_uwheel_spark.jvmshim import (
        register_agg_rollup, register_count_rollup, register_dim_rollup,
    )

    sc = spark.sparkContext
    jobs = {}

    def phase(name, fn):
        sc.setJobGroup(f"setup:{name}", name)
        out = fn()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"setup:{name}"))
        return out

    views = tempfile.mkdtemp(prefix="verify_setup_views_")
    e = phase("ctor", lambda: WheelEngine(
        spark, "events_setup", f"{SF}/events.parquet", time_column="ts",
        min_max_columns=("value",),
    ))
    phase("build_index", lambda: e.build_index("value"))
    phase("build_partitioned_index",
          lambda: e.build_partitioned_index("value", partition_by="event_type"))
    phase("build_sketch_indexes", lambda: e.build_sketch_indexes(
        distinct=("user_id",), quantile=("value",), theta=("user_id",)))
    phase("register_count_rollup", lambda: register_count_rollup(
        spark, e, storage_dir=views, max_local_rows=0))
    phase("register_agg_rollup", lambda: register_agg_rollup(spark, e, "value"))
    phase("register_dim_rollup", lambda: register_dim_rollup(spark, e, "event_type"))
    phase("build_theta_index", lambda: e.build_theta_index("event_type"))
    sc.setLocalProperty("spark.jobGroup.id", None)
    bench = sum(n for name, n in jobs.items() if name != "build_theta_index")
    print("set-up jobs per phase:", jobs, "benchmark set-up total", bench)
    for name, ceiling in SETUP_JOB_CEILINGS.items():
        check(f"setup_jobs[{name}]", jobs[name] <= ceiling,
              f"{jobs[name]} jobs > ceiling {ceiling}")
    check("setup_minmax_seeded", e.min_max_wheels.get("value") is not None
          and not e._min_max_pending)
    for rollups, *_ in e.sketch_families():
        for r in rollups.values():
            r.unpersist()


if __name__ == "__main__":
    main()

"""Hybrid boundary rewrite: BETWEEN / ``<=`` / ``>`` temporal bounds are
answered exactly (wheel core + pruned boundary-sliver scan), where the
reference silently approximates (``>`` → ``>=``, ``<=`` → ``<``,
``expr.rs:219-222``). Every routed answer must equal delegated spark.sql."""

from __future__ import annotations

from datetime import datetime

import pytest

from datafusion_uwheel_spark import WheelEngine
from pyspark.sql import types as T


@pytest.fixture(scope="module")
def hybrid_engine(spark, minimal_agg):
    e = WheelEngine(spark, "hybrid_fix", minimal_agg, time_column="timestamp")
    e.build_index("agg_col")
    return e


@pytest.fixture(scope="module")
def subsec_engine(spark):
    """Sub-second timestamps — the case the reference's slop mis-answers."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )
    rows = [
        (datetime(2024, 5, 10, 0, 0, 2), 100.0),  # exactly on the lower bound
        (datetime(2024, 5, 10, 0, 0, 2, 500000), 1.0),  # in (2, 3) — `> 2` keeps it
        (datetime(2024, 5, 10, 0, 0, 4), 2.0),
        (datetime(2024, 5, 10, 0, 0, 7), 4.0),  # exactly on the upper bound
        (datetime(2024, 5, 10, 0, 0, 7, 250000), 200.0),  # after it — `<= 7` drops it
    ]
    e = WheelEngine(spark, "subsec", spark.createDataFrame(rows, schema), time_column="ts")
    e.build_index("v")
    return e


def check(engine, sql, kind="hybrid_agg"):
    routed = engine.sql(sql)
    assert engine.last_route.kind == kind, (sql, engine.last_route)
    delegated = engine.spark.sql(sql)
    assert routed.dtypes == delegated.dtypes
    assert routed.collect() == delegated.collect()
    return routed.collect()[0]


def test_between_count(hybrid_engine):
    r = check(
        hybrid_engine,
        "SELECT COUNT(*) AS c FROM hybrid_fix WHERE timestamp BETWEEN "
        "'2024-05-10 00:00:02' AND '2024-05-10 00:00:07'",
    )
    assert r["c"] == 6  # seconds 2..7 inclusive


def test_between_aggregates(hybrid_engine):
    check(
        hybrid_engine,
        "SELECT SUM(agg_col) AS s, AVG(agg_col) AS a, MIN(agg_col) AS mn, "
        "MAX(agg_col) AS mx, COUNT(agg_col) AS cv FROM hybrid_fix WHERE "
        "timestamp BETWEEN '2024-05-10 00:00:02' AND '2024-05-10 00:00:07'",
    )


def test_strict_lower_bound(hybrid_engine):
    r = check(
        hybrid_engine,
        "SELECT COUNT(*) AS c FROM hybrid_fix WHERE "
        "timestamp > '2024-05-10 00:00:02' AND timestamp < '2024-05-10 00:00:08'",
    )
    assert r["c"] == 5  # the row AT second 2 is excluded


def test_inclusive_upper_bound(hybrid_engine):
    r = check(
        hybrid_engine,
        "SELECT SUM(agg_col) AS s FROM hybrid_fix WHERE "
        "timestamp >= '2024-05-10 00:00:00' AND timestamp <= '2024-05-10 00:00:09'",
    )
    assert r["s"] == 55.0  # all ten rows (second 9 row included by <=)


def test_stddev_over_boundary(hybrid_engine):
    sql = (
        "SELECT STDDEV(agg_col) AS sd FROM hybrid_fix WHERE "
        "timestamp BETWEEN '2024-05-10 00:00:01' AND '2024-05-10 00:00:08'"
    )
    routed = hybrid_engine.sql(sql)
    assert hybrid_engine.last_route.kind == "hybrid_agg"
    a = routed.collect()[0][0]
    b = hybrid_engine.spark.sql(sql).collect()[0][0]
    assert a == pytest.approx(b, rel=1e-9)


def test_subsecond_rows_handled_exactly(subsec_engine):
    # `> 2` excludes the row AT second 2 but keeps 2.5; `<= 7` keeps the row
    # AT second 7 but drops 7.25 — the reference's approximation gets BOTH
    # wrong (would include 100.0 and 200.0).
    r = check(
        subsec_engine,
        "SELECT SUM(v) AS s, COUNT(*) AS c FROM subsec WHERE "
        "ts > '2024-05-10 00:00:02' AND ts <= '2024-05-10 00:00:07'",
    )
    assert r["s"] == 7.0 and r["c"] == 3


def test_between_with_keyed_filter(spark):
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )
    rows = [
        (datetime(2024, 5, 10, 0, 0, i, 300000 * (i % 2)), "a" if i % 3 else "b", float(i))
        for i in range(10)
    ]
    e = WheelEngine(spark, "hyb_keyed", spark.createDataFrame(rows, schema), time_column="ts")
    e.build_index("v", filter="k = 'a'")
    sql = (
        "SELECT SUM(v) AS s FROM hyb_keyed WHERE "
        "ts BETWEEN '2024-05-10 00:00:01' AND '2024-05-10 00:00:08' AND k = 'a'"
    )
    routed = e.sql(sql)
    assert e.last_route.kind == "hybrid_agg"
    assert routed.collect() == e.spark.sql(sql).collect()


def test_subsecond_literal_still_delegates(hybrid_engine):
    hybrid_engine.sql(
        "SELECT COUNT(*) AS c FROM hybrid_fix WHERE "
        "timestamp >= '2024-05-10 00:00:02.5' AND timestamp <= '2024-05-10 00:00:07'"
    )
    assert hybrid_engine.last_route.kind == "delegate"


def test_between_zero_jobs_via_at_start_states(hybrid_engine, spark):
    """With at-start sliver states tracked, BETWEEN resolves entirely from
    the wheel — zero Spark jobs, like every other routed answer."""
    sql = (
        "SELECT COUNT(*) AS c, SUM(agg_col) AS s FROM hybrid_fix WHERE "
        "timestamp BETWEEN '2024-05-10 00:00:03' AND '2024-05-10 00:00:06'"
    )
    hybrid_engine.sql(sql).collect()  # warm (parse caches etc.)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = hybrid_engine.sql(
        "SELECT COUNT(*) AS c, SUM(agg_col) AS s FROM hybrid_fix WHERE "
        "timestamp BETWEEN '2024-05-10 00:00:02' AND '2024-05-10 00:00:06'"
    )
    assert hybrid_engine.last_route.kind == "hybrid_agg"
    assert hybrid_engine.last_route.detail["boundary"] == "wheel"
    assert df.collect()[0]["c"] == 5
    assert tracker.getJobIdsForGroup(None) == before


def test_strict_lower_minmax_mixed_bucket_falls_back_to_scan(subsec_engine):
    """Bucket 2 holds a row AT second 2 and one at 2.5 — MIN over `> 2` is
    not derivable from monoid states, so the router uses the pruned boundary
    scan (still exact, just one tiny job)."""
    sql = (
        "SELECT MIN(v) AS mn FROM subsec WHERE "
        "ts > '2024-05-10 00:00:02' AND ts <= '2024-05-10 00:00:07'"
    )
    routed = subsec_engine.sql(sql)
    assert subsec_engine.last_route.kind == "hybrid_agg"
    assert subsec_engine.last_route.detail["boundary"] != "wheel"
    assert routed.collect() == subsec_engine.spark.sql(sql).collect()


def test_point_equality_routes_from_at_start(hybrid_engine, spark):
    sql = (
        "SELECT COUNT(*) AS c, SUM(agg_col) AS s FROM hybrid_fix "
        "WHERE timestamp = '2024-05-10 00:00:04'"
    )
    hybrid_engine.sql(sql).collect()
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = hybrid_engine.sql(
        "SELECT COUNT(*) AS c, SUM(agg_col) AS s FROM hybrid_fix "
        "WHERE timestamp = '2024-05-10 00:00:05'"
    )
    assert hybrid_engine.last_route.kind == "point_agg"
    row = df.collect()[0]
    assert (row["c"], row["s"]) == (1, 6.0)
    assert tracker.getJobIdsForGroup(None) == before


def test_point_equality_subsecond_rows_excluded(subsec_engine):
    # second 2 holds a row AT 2.000000 (v=100) and one at 2.5 — equality
    # must count only the exact instant
    sql = "SELECT COUNT(*) AS c, SUM(v) AS s FROM subsec WHERE ts = '2024-05-10 00:00:02'"
    routed = subsec_engine.sql(sql)
    assert subsec_engine.last_route.kind == "point_agg"
    assert routed.collect() == subsec_engine.spark.sql(sql).collect()
    assert routed.collect()[0]["s"] == 100.0


def test_point_equality_unaligned_delegates(subsec_engine):
    sql = "SELECT COUNT(*) AS c FROM subsec WHERE ts = '2024-05-10 00:00:02.5'"
    df = subsec_engine.sql(sql)
    assert subsec_engine.last_route.kind == "delegate"
    assert df.collect()[0][0] == 1


def test_point_equality_empty_instant(hybrid_engine):
    sql = (
        "SELECT COUNT(*) AS c, MIN(agg_col) AS mn FROM hybrid_fix "
        "WHERE timestamp = '2024-05-10 00:00:30'"
    )
    routed = hybrid_engine.sql(sql)
    assert hybrid_engine.last_route.kind == "point_agg"
    assert routed.collect() == hybrid_engine.spark.sql(sql).collect()


def test_time_range_restricted_wheel_upper_sliver_is_exact(spark, minimal_agg):
    """A wheel whose ``time_range`` ends exactly at the query's inclusive
    upper bound has NO indexed rows at that instant — at_start answers a
    zero state.  The router must not trust it (ADVICE r2, high): it falls
    back to the pruned boundary scan, which reads the base table and keeps
    the boundary rows."""
    e = WheelEngine(spark, "tr_upper", minimal_agg, time_column="timestamp")
    e.build_index(
        "agg_col",
        time_range=(datetime(2024, 5, 10, 0, 0, 0), datetime(2024, 5, 10, 0, 0, 5)),
    )
    sql = (
        "SELECT SUM(agg_col) AS s, COUNT(*) AS c FROM tr_upper WHERE "
        "timestamp > '2024-05-10 00:00:01' AND timestamp <= '2024-05-10 00:00:05'"
    )
    routed = e.sql(sql)
    assert e.last_route.kind == "hybrid_agg"
    # must NOT have answered the sliver from the (restricted) wheel
    assert e.last_route.detail["boundary"] != "wheel"
    row = routed.collect()[0]
    ref = e.spark.sql(sql).collect()[0]
    assert (row["s"], row["c"]) == (ref["s"], ref["c"]) == (18.0, 4)


def test_time_range_past_data_end_upper_sliver(spark, minimal_agg):
    """``ts <= b`` where b is one bucket past the wheel's indexed span: the
    sliver bucket is uncovered, so an incomplete wheel must fall back."""
    e = WheelEngine(spark, "tr_past", minimal_agg, time_column="timestamp")
    e.build_index(
        "agg_col",
        time_range=(datetime(2024, 5, 10, 0, 0, 0), datetime(2024, 5, 10, 0, 0, 8)),
    )
    sql = (
        "SELECT COUNT(*) AS c FROM tr_past WHERE "
        "timestamp >= '2024-05-10 00:00:02' AND timestamp <= '2024-05-10 00:00:07'"
    )
    routed = e.sql(sql)
    assert routed.collect() == e.spark.sql(sql).collect()


def test_hybrid_wheel_boundary_respects_limit_zero(hybrid_engine):
    """ORDER BY / LIMIT must survive the wheel-boundary success path."""
    sql = (
        "SELECT COUNT(*) AS c FROM hybrid_fix WHERE "
        "timestamp BETWEEN '2024-05-10 00:00:02' AND '2024-05-10 00:00:06' LIMIT 0"
    )
    routed = hybrid_engine.sql(sql)
    assert hybrid_engine.last_route.kind == "hybrid_agg"
    assert hybrid_engine.last_route.detail["boundary"] == "wheel"
    assert routed.collect() == hybrid_engine.spark.sql(sql).collect() == []


def test_hybrid_wheel_boundary_order_by_alias(hybrid_engine):
    sql = (
        "SELECT SUM(agg_col) AS s FROM hybrid_fix WHERE "
        "timestamp BETWEEN '2024-05-10 00:00:02' AND '2024-05-10 00:00:06' "
        "ORDER BY s LIMIT 1"
    )
    routed = hybrid_engine.sql(sql)
    assert hybrid_engine.last_route.kind == "hybrid_agg"
    assert routed.collect() == hybrid_engine.spark.sql(sql).collect()


def test_degenerate_range_delegates(hybrid_engine):
    hybrid_engine.sql(
        "SELECT COUNT(*) AS c FROM hybrid_fix WHERE "
        "timestamp > '2024-05-10 00:00:02' AND timestamp <= '2024-05-10 00:00:02'"
    )
    assert hybrid_engine.last_route.kind == "delegate"


# ------------------------------------------------ grouped hybrid (r5)
@pytest.fixture(scope="module")
def gb_engine(spark, sf_small_dir):
    from datafusion_uwheel_spark.sources import read_parquet

    e = WheelEngine(
        spark, "gbh_events", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    e.build_index("value")
    e.build_index("value", filter="event_type = 'click'")
    read_parquet(spark, f"{sf_small_dir}/events.parquet").createOrReplaceTempView(
        "gbh_events"
    )
    return e


def gb_check(engine, sql, kind="group_by_hybrid"):
    routed = engine.sql(sql)
    assert engine.last_route.kind == kind, (sql, engine.last_route)
    want = engine.spark.sql(sql).collect()
    got = routed.collect()
    assert len(got) == len(want), (sql, len(got), len(want))
    for g, w in zip(got, want):
        for x, y in zip(g, w):
            if isinstance(x, float):
                assert abs(x - y) <= 1e-9 * max(1.0, abs(y)), (sql, g, w)
            else:
                assert x == y, (sql, g, w)
    return got


@pytest.mark.parametrize(
    "gran", ["hour", "day", "week", "month"]
)
def test_grouped_between(gb_engine, gran):
    gb_check(
        gb_engine,
        f"SELECT date_trunc('{gran}', ts) AS b, COUNT(*) AS n, "
        "SUM(value) AS s, AVG(value) AS a FROM gbh_events "
        "WHERE ts BETWEEN '2024-01-03 00:00:00' AND '2024-01-09 23:59:59' "
        f"GROUP BY date_trunc('{gran}', ts) ORDER BY b",
    )


def test_grouped_strict_lower(gb_engine):
    gb_check(
        gb_engine,
        "SELECT date_trunc('day', ts) AS b, COUNT(*) AS n, SUM(value) AS s "
        "FROM gbh_events WHERE ts > '2024-01-03 00:00:00' "
        "AND ts <= '2024-01-07 00:00:00' "
        "GROUP BY date_trunc('day', ts) ORDER BY b",
    )


def test_grouped_window_tumbling(gb_engine):
    gb_check(
        gb_engine,
        "SELECT window(ts, '6 hours').start AS b, COUNT(*) AS n "
        "FROM gbh_events WHERE ts > '2024-01-03 00:00:00' "
        "AND ts < '2024-01-08 00:00:00' "
        "GROUP BY window(ts, '6 hours') ORDER BY b",
    )


def test_grouped_keyed_residual(gb_engine):
    gb_check(
        gb_engine,
        "SELECT date_trunc('day', ts) AS b, COUNT(*) AS n, SUM(value) AS s "
        "FROM gbh_events WHERE ts BETWEEN '2024-01-03 00:00:00' AND "
        "'2024-01-09 23:59:59' AND event_type = 'click' "
        "GROUP BY date_trunc('day', ts) ORDER BY b",
    )


def test_grouped_upper_sliver_opens_new_cell(spark):
    """A `<=` instant exactly at a day boundary opens a cell the core range
    never touches — the sliver must appear as its OWN group row (the
    identity `States` + at-start path), and sub-second rows after the instant
    stay excluded."""
    rows = [
        ("2024-05-09 10:00:00", 1.0),
        ("2024-05-09 22:30:00", 2.0),
        ("2024-05-10 00:00:00", 40.0),  # exactly the <= instant: own cell
        ("2024-05-10 00:00:00.300", 99.0),  # after it — must be excluded
        ("2024-05-10 06:00:00", 7.0),
    ]
    df = (
        spark.createDataFrame(rows, "ts string, v double")
        .selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v")
    )
    e = WheelEngine(spark, "gbh_cell", df, time_column="ts")
    e.build_index("v")
    df.createOrReplaceTempView("gbh_cell")
    got = gb_check(
        e,
        "SELECT date_trunc('day', ts) AS b, COUNT(*) AS n, SUM(v) AS s "
        "FROM gbh_cell WHERE ts BETWEEN '2024-05-09 00:00:00' "
        "AND '2024-05-10 00:00:00' "
        "GROUP BY date_trunc('day', ts) ORDER BY b",
    )
    assert [(r["n"], r["s"]) for r in got] == [(2, 3.0), (1, 40.0)]


def test_grouped_hybrid_having(gb_engine):
    """HAVING aggregates get the same hybrid-corrected per-cell values —
    including a HAVING aggregate absent from the select list."""
    gb_check(
        gb_engine,
        "SELECT date_trunc('day', ts) AS b, COUNT(*) AS n FROM gbh_events "
        "WHERE ts BETWEEN '2024-01-03 00:00:00' AND '2024-01-09 23:59:59' "
        "GROUP BY date_trunc('day', ts) HAVING COUNT(*) > 5 ORDER BY b",
    )
    gb_check(
        gb_engine,
        "SELECT date_trunc('day', ts) AS b, COUNT(*) AS n FROM gbh_events "
        "WHERE ts > '2024-01-03 00:00:00' AND ts <= '2024-01-09 00:00:00' "
        "GROUP BY date_trunc('day', ts) HAVING AVG(value) > 45 ORDER BY b",
    )


def test_grouped_hybrid_gates(gb_engine):
    # hopping windows delegate, sub-second bounds delegate — and the
    # delegated answers are still correct
    for sql in (
        "SELECT window(ts, '6 hours', '2 hours').start AS b, COUNT(*) AS n "
        "FROM gbh_events WHERE ts > '2024-01-03 00:00:00' "
        "AND ts <= '2024-01-08 00:00:00' "
        "GROUP BY window(ts, '6 hours', '2 hours') ORDER BY b",
        "SELECT date_trunc('day', ts) AS b, COUNT(*) AS n FROM gbh_events "
        "WHERE ts BETWEEN '2024-01-03 00:00:00.250' AND '2024-01-09 23:59:59' "
        "GROUP BY date_trunc('day', ts) ORDER BY b",
    ):
        gb_check(gb_engine, sql, kind="delegate")


def test_grouped_min_over_boundary(gb_engine):
    """MIN/MAX with a strict lower bound: the sliver bucket usually mixes
    at-start and interior rows (not subtractable) — route or delegate, the
    answer must match either way."""
    routed = gb_engine.sql(
        "SELECT date_trunc('day', ts) AS b, MIN(value) AS lo, MAX(value) AS hi "
        "FROM gbh_events WHERE ts > '2024-01-03 00:00:00' "
        "AND ts <= '2024-01-07 00:00:00' GROUP BY date_trunc('day', ts) ORDER BY b"
    )
    assert gb_engine.last_route.kind in ("group_by_hybrid", "delegate")
    want = gb_engine.spark.sql(
        "SELECT date_trunc('day', ts) AS b, MIN(value) AS lo, MAX(value) AS hi "
        "FROM gbh_events WHERE ts > '2024-01-03 00:00:00' "
        "AND ts <= '2024-01-07 00:00:00' GROUP BY date_trunc('day', ts) ORDER BY b"
    ).collect()
    assert routed.collect() == want


# ---------------------------------- empty core + subset-state wheel (r6)
@pytest.fixture(scope="module")
def subset_gb_engine(spark):
    """COUNT-only wheel over data whose rows sit ONLY on hybrid boundary
    instants — the grouped hybrid's core range is empty, so the per-cell
    state gate cannot lean on occupied core cells."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )
    rows = [
        (datetime(2024, 5, 10, 0, 0, 0), 1.0),
        (datetime(2024, 5, 10, 0, 0, 10), 3.0),  # upper-bound instant
        (datetime(2024, 5, 10, 0, 0, 10), 4.5),  # upper-bound instant
    ]
    df = spark.createDataFrame(rows, schema)
    e = WheelEngine(spark, "subset_gb", df, time_column="ts")
    e.build_index("v", aggs=("count",))
    return e


def test_grouped_hybrid_empty_core_subset_state_delegates(subset_gb_engine):
    """A grouped hybrid whose core range is empty but whose boundary sliver
    is not must DELEGATE unindexed states, not fabricate values from empty
    defaults: SUM(v) on a count-only wheel (ADVICE r5, router.py:1764)."""
    sql = (
        "SELECT date_trunc('minute', ts) AS b, SUM(v) AS s FROM subset_gb "
        "WHERE ts > '2024-05-10 00:00:02' AND ts <= '2024-05-10 00:00:10' "
        "GROUP BY date_trunc('minute', ts) ORDER BY b"
    )
    routed = subset_gb_engine.sql(sql)
    assert subset_gb_engine.last_route.kind == "delegate", (
        subset_gb_engine.last_route
    )
    want = subset_gb_engine.spark.sql(sql).collect()
    assert routed.collect() == want
    assert want[0]["s"] == 7.5


def test_grouped_hybrid_empty_core_count_still_routes(subset_gb_engine):
    """The state the wheel DOES carry keeps routing in the same empty-core
    shape — the fix must not over-delegate."""
    sql = (
        "SELECT date_trunc('minute', ts) AS b, COUNT(*) AS n FROM subset_gb "
        "WHERE ts > '2024-05-10 00:00:02' AND ts <= '2024-05-10 00:00:10' "
        "GROUP BY date_trunc('minute', ts) ORDER BY b"
    )
    routed = subset_gb_engine.sql(sql)
    assert subset_gb_engine.last_route.kind == "group_by_hybrid", (
        subset_gb_engine.last_route
    )
    want = subset_gb_engine.spark.sql(sql).collect()
    assert routed.collect() == want
    assert want[0]["n"] == 2


def test_empty_at_sliver_skips_landing_but_answers_match(spark):
    """r15 regression pin: a rollup whose at-start sliver is entirely empty
    (no row exactly on a bucket-start instant) must land EMPTY at-arrays
    (the skip path — the __at* columns are never converted to numpy) and
    still answer inclusive/strict boundary queries exactly; data WITH
    on-boundary rows must keep the populated-sliver path byte-for-byte."""
    from datetime import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )
    # every ts offset off the second boundary -> at-sliver empty everywhere
    off_rows = [
        (datetime(2024, 5, 10, 0, 0, s, 250000), float(s)) for s in range(2, 9)
    ]
    e_off = WheelEngine(
        spark, "atskip_off", spark.createDataFrame(off_rows, schema),
        time_column="ts",
    )
    e_off.build_index("v")
    from datafusion_uwheel_spark.plans.router import STAR_AGGREGATION_ALIAS

    w = e_off.count_wheels[STAR_AGGREGATION_ALIAS]
    assert w.at_secs_.size == 0 and w.at_cnt_.size == 0
    vw = e_off.agg_wheels[("v", STAR_AGGREGATION_ALIAS)]
    assert vw.at_secs_.size == 0 and vw.at_vcnt_.size == 0

    # on-boundary rows -> populated sliver, same construction path answers
    on_rows = off_rows + [(datetime(2024, 5, 10, 0, 0, 5), 50.0)]
    e_on = WheelEngine(
        spark, "atskip_on", spark.createDataFrame(on_rows, schema),
        time_column="ts",
    )
    e_on.build_index("v")
    w_on = e_on.count_wheels[STAR_AGGREGATION_ALIAS]
    assert w_on.at_secs_.size == 1 and int(w_on.at_cnt_[0]) == 1

    for eng, name in ((e_off, "atskip_off"), (e_on, "atskip_on")):
        for q in (
            f"SELECT SUM(v) AS s FROM {name} WHERE ts > '2024-05-10 00:00:03' AND ts <= '2024-05-10 00:00:07'",
            f"SELECT COUNT(*) AS c FROM {name} WHERE ts BETWEEN '2024-05-10 00:00:02' AND '2024-05-10 00:00:05'",
        ):
            got = [tuple(r) for r in eng.sql(q).collect()]
            want = [tuple(r) for r in spark.sql(q).collect()]
            assert got == want, (name, q, got, want)

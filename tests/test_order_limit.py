"""ORDER BY / LIMIT on routable queries — dashboards sort timelines, so the
router must keep these zero-job instead of delegating. LIMIT on a grouped
result routes when the ORDER BY columns contain the rows' unique key (time
bucket, category key, or both) anywhere in the sort list — a total order;
otherwise a tied aggregate at the cut makes the kept set engine-dependent
→ delegate (r8: before, only a LEADING unique-bucket sort passed, so the
classic top-k shape `ORDER BY n DESC, key LIMIT k` delegated)."""

from __future__ import annotations

import pytest

from datafusion_uwheel_spark import WheelEngine

RANGE = "timestamp >= '2024-05-10 00:00:00' AND timestamp < '2024-05-10 00:00:10'"


@pytest.fixture(scope="module")
def eng(spark, minimal_agg):
    e = WheelEngine(spark, "ol_fix", minimal_agg, time_column="timestamp")
    e.build_index("agg_col")
    return e


def check(e, sql, kind):
    routed = e.sql(sql)
    assert e.last_route.kind == kind, (sql, e.last_route)
    delegated = e.spark.sql(sql)
    assert routed.dtypes == delegated.dtypes
    assert routed.collect() == delegated.collect()
    return routed


def test_group_by_order_by_bucket(eng, spark):
    sql = (
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s "
        f"FROM ol_fix WHERE {RANGE} GROUP BY date_trunc('second', timestamp) "
        "ORDER BY b"
    )
    eng.sql(sql).collect()
    sql2 = sql.replace("ORDER BY b", "ORDER BY b DESC")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    routed = eng.sql(sql2)
    assert eng.last_route.kind == "group_by"
    got = routed.collect()
    assert tracker.getJobIdsForGroup(None) == before  # still zero jobs
    assert got == eng.spark.sql(sql2).collect()


def test_group_by_order_by_bucket_limit(eng):
    df = check(
        eng,
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s "
        f"FROM ol_fix WHERE {RANGE} GROUP BY date_trunc('second', timestamp) "
        "ORDER BY b DESC LIMIT 3",
        "group_by",
    )
    assert len(df.collect()) == 3


def test_group_by_order_by_value(eng):
    # agg values here are unique so delegate comparison is deterministic
    check(
        eng,
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s "
        f"FROM ol_fix WHERE {RANGE} GROUP BY date_trunc('second', timestamp) "
        "ORDER BY s DESC",
        "group_by",
    )


def test_limit_without_bucket_order_delegates(eng):
    eng.sql(
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s "
        f"FROM ol_fix WHERE {RANGE} GROUP BY date_trunc('second', timestamp) "
        "ORDER BY s DESC LIMIT 3"
    )
    assert eng.last_route.kind == "delegate"
    eng.sql(
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s "
        f"FROM ol_fix WHERE {RANGE} GROUP BY date_trunc('second', timestamp) LIMIT 3"
    )
    assert eng.last_route.kind == "delegate"


def test_limit_with_bucket_tiebreak_routes(eng):
    """r8: ORDER BY <aggregate>, <unique bucket> LIMIT is a TOTAL order —
    the top-k-by-value shape routes (the unique key may appear anywhere in
    the sort list, not only leading)."""
    check(
        eng,
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s "
        f"FROM ol_fix WHERE {RANGE} GROUP BY date_trunc('second', timestamp) "
        "ORDER BY s DESC, b LIMIT 3",
        "group_by",
    )


def test_topk_sql_over_categories(spark, sf_small_dir):
    """The classic top-k SQL (`GROUP BY key ORDER BY n DESC, key LIMIT k`)
    routes from the partitioned family and matches Spark row-for-row;
    without the key tie-break it still delegates (ties at the cut)."""
    from datafusion_uwheel_spark import WheelEngine as WE

    e = WE(spark, "ol_events", f"{sf_small_dir}/events.parquet",
           time_column="ts", min_max_columns=("value",))
    e.build_partitioned_index("value", partition_by="event_type")
    a, b = "2024-01-05 00:00:00", "2024-01-12 00:00:00"
    sql = (
        "SELECT event_type AS k, COUNT(*) AS n FROM ol_events "
        f"WHERE ts >= '{a}' AND ts < '{b}' "
        "GROUP BY event_type ORDER BY n DESC, k LIMIT 3"
    )
    routed = e.sql(sql)
    assert e.last_route.kind == "group_by", e.last_route
    assert routed.collect() == spark.sql(sql).collect()
    # dim form: total order needs BOTH bucket and key in the sort list
    dim = (
        "SELECT date_trunc('day', ts) AS b, event_type AS et, COUNT(*) AS n "
        f"FROM ol_events WHERE ts >= '{a}' AND ts < '{b}' "
        "GROUP BY date_trunc('day', ts), event_type "
        "ORDER BY n DESC, b, et LIMIT 5"
    )
    routed = e.sql(dim)
    assert e.last_route.kind == "group_by", e.last_route
    assert routed.collect() == spark.sql(dim).collect()
    e.sql(dim.replace(", b, et LIMIT", ", b LIMIT"))  # et missing: partial
    assert e.last_route.kind == "delegate"
    e.sql(sql.replace(", k LIMIT", " LIMIT"))
    assert e.last_route.kind == "delegate"


def test_window_topk_routes(eng):
    """r8: a window-bucket group-by passes the total-order gate through its
    start/end FIELD alias (the GROUP BY window() expression itself is never
    a select output)."""
    sql = (
        "SELECT window(timestamp, '2 seconds').start AS w, SUM(agg_col) AS s "
        f"FROM ol_fix WHERE {RANGE} GROUP BY window(timestamp, '2 seconds') "
        "ORDER BY s DESC, w LIMIT 3"
    )
    routed = eng.sql(sql)
    assert eng.last_route.rewritten, eng.last_route
    assert routed.collect() == eng.spark.sql(sql).collect()
    eng.sql(sql.replace(", w LIMIT", " LIMIT"))  # no window field in sort
    assert eng.last_route.kind == "delegate"


def test_limit_nan_ordering_matches_spark(spark):
    """Spark orders NaN GREATER than every double (ASC last, DESC first);
    the constant-row sort must match or a value-ordered LIMIT keeps a
    different row SET than the delegate (r8: found in review once the
    total-order gate made aggregate sorts limit-decisive)."""
    from datetime import datetime

    rows = [
        (datetime(2024, 5, 10, 0, 0, 0), 9.0),
        (datetime(2024, 5, 10, 0, 0, 1), float("nan")),
        (datetime(2024, 5, 10, 0, 0, 2), 7.0),
        (datetime(2024, 5, 10, 0, 0, 3), 8.0),
    ]
    df = spark.createDataFrame(rows, "timestamp timestamp, agg_col double")
    e = WheelEngine(spark, "nan_fix", df, time_column="timestamp")
    e.build_index("agg_col")
    for order in ("a DESC, b", "a ASC, b", "a DESC, b DESC"):
        sql = (
            "SELECT date_trunc('second', timestamp) AS b, AVG(agg_col) AS a "
            f"FROM nan_fix WHERE {RANGE} "
            "GROUP BY date_trunc('second', timestamp) "
            f"ORDER BY {order} LIMIT 2"
        )
        routed = e.sql(sql)
        assert e.last_route.kind == "group_by", (sql, e.last_route)
        got = [(r["b"], str(r["a"])) for r in routed.collect()]
        want = [(r["b"], str(r["a"])) for r in e.spark.sql(sql).collect()]
        assert got == want, (order, got, want)


def test_scalar_limit_zero(eng):
    df = check(eng, f"SELECT COUNT(*) AS c FROM ol_fix WHERE {RANGE} LIMIT 0", "count_range")
    assert df.collect() == []


def test_scalar_order_by_is_noop(eng):
    check(eng, f"SELECT SUM(agg_col) AS s FROM ol_fix WHERE {RANGE} ORDER BY s", "single_agg")


def test_order_by_expression_delegates(eng):
    # ORDER BY an expression outside the routable grammar → delegate, still correct
    df = eng.sql(
        "SELECT date_trunc('second', timestamp) AS b, COUNT(*) AS c FROM ol_fix "
        f"WHERE {RANGE} GROUP BY date_trunc('second', timestamp) ORDER BY MAX(agg_col)"
    )
    assert eng.last_route.kind == "delegate"
    assert len(df.collect()) == 10


def test_landmark_group_by_order_limit(eng):
    df = check(
        eng,
        "SELECT date_trunc('second', timestamp) AS b, COUNT(*) AS c FROM ol_fix "
        "GROUP BY date_trunc('second', timestamp) ORDER BY b LIMIT 4",
        "group_by_landmark",
    )
    assert len(df.collect()) == 4


# ------------------------------------------------------------------ HAVING
def test_having_on_select_agg(eng):
    check(
        eng,
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s "
        f"FROM ol_fix WHERE {RANGE} GROUP BY date_trunc('second', timestamp) "
        "HAVING SUM(agg_col) > 5 ORDER BY b",
        "group_by",
    )


def test_having_alias(eng):
    df = check(
        eng,
        "SELECT date_trunc('second', timestamp) AS b, COUNT(*) AS c "
        f"FROM ol_fix WHERE {RANGE} GROUP BY date_trunc('second', timestamp) "
        "HAVING c >= 1 ORDER BY b",
        "group_by",
    )
    assert len(df.collect()) == 10


def test_having_agg_not_in_select(eng):
    # HAVING references MAX which is not selected — evaluated from states
    df = check(
        eng,
        "SELECT date_trunc('second', timestamp) AS b, COUNT(*) AS c "
        f"FROM ol_fix WHERE {RANGE} GROUP BY date_trunc('second', timestamp) "
        "HAVING MAX(agg_col) >= 8 ORDER BY b",
        "group_by",
    )
    assert len(df.collect()) == 3  # agg_col 8, 9, 10


def test_having_conjunction_and_landmark(eng):
    df = check(
        eng,
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s FROM ol_fix "
        "GROUP BY date_trunc('second', timestamp) "
        "HAVING SUM(agg_col) >= 3 AND COUNT(*) <= 1 ORDER BY b",
        "group_by_landmark",
    )
    assert len(df.collect()) == 8  # agg_col 3..10


def test_having_without_group_by_delegates(eng):
    df = eng.sql(f"SELECT SUM(agg_col) AS s FROM ol_fix WHERE {RANGE} HAVING COUNT(*) > 3")
    assert eng.last_route.kind == "delegate"
    assert df.collect()[0][0] == 55.0


def _same_answer(e, sql, kind):
    """Routed ``sql_rows`` equals plain ``spark.sql``: names, types, and
    values in order (``repr`` per value, so NaN equals NaN)."""
    got = e.sql_rows(sql)
    assert e.last_route.kind == kind, (sql, e.last_route)
    want = e.spark.sql(sql)
    assert e.sql(sql).dtypes == want.dtypes
    want = want.collect()
    assert [list(r.__fields__) for r in got] == [list(r.__fields__) for r in want]
    assert [tuple(map(repr, r)) for r in got] == [tuple(map(repr, r)) for r in want]
    return got


def test_having_keeps_nan_groups(spark):
    """Spark's NaN is greater than every number, so ``HAVING SUM(v) > 4``
    keeps a NaN group (the HAVING compare once dropped it as unknown)."""
    from datetime import datetime

    rows = [
        (datetime(2024, 5, 10, h), v) for h, v in enumerate((1.0, float("nan"), 5.0, 3.0))
    ]
    spark.createDataFrame(rows, "ts timestamp, v double").createOrReplaceTempView("having_nan")
    e = WheelEngine(spark, "having_nan", spark.table("having_nan"), time_column="ts")
    e.build_index("v")
    head = (
        "SELECT date_trunc('hour', ts) AS h, SUM(v) AS s FROM having_nan "
        "GROUP BY date_trunc('hour', ts) HAVING "
    )
    got = _same_answer(e, head + "SUM(v) > 4 ORDER BY h", "group_by_landmark")
    assert len(got) == 2
    _same_answer(e, head + "MAX(v) >= 5 ORDER BY s DESC", "group_by_landmark")


def test_having_integer_literal_stays_exact(spark):
    """An integer HAVING literal keeps its integer value: over a BIGINT
    column holding 2^53 + 1, ``SUM(v) > 9007199254740993`` holds for no
    group and ``=`` for that one (a float literal rounds to 2^53)."""
    from datetime import datetime

    big = 2**53 + 1
    rows = [(datetime(2024, 5, 10, 0), big), (datetime(2024, 5, 10, 1), 1)]
    spark.createDataFrame(rows, "ts timestamp, v bigint").createOrReplaceTempView("having_big")
    e = WheelEngine(spark, "having_big", spark.table("having_big"), time_column="ts")
    e.build_index("v")
    head = (
        "SELECT date_trunc('hour', ts) AS h, SUM(v) AS s FROM having_big "
        "GROUP BY date_trunc('hour', ts) HAVING SUM(v) "
    )
    assert _same_answer(e, head + f"> {big} ORDER BY h", "group_by_landmark") == []
    got = _same_answer(e, head + f"= {big} ORDER BY h", "group_by_landmark")
    assert [r["s"] for r in got] == [big]
    # a decimal literal compares exactly too (Spark: BIGINT vs DECIMAL)
    got = _same_answer(e, head + f"> {big - 1}.5 ORDER BY h", "group_by_landmark")
    assert [r["s"] for r in got] == [big]

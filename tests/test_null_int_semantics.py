"""Round-2 hardening: SQL NULL semantics of value wheels, exact integer
states, landmark completeness gating, per-aggregate builds, and stale keyed
wheels after streaming merges.

The invariant under test everywhere: a ROUTED answer must equal (value AND
schema) what delegated ``spark.sql`` returns for the same query — the wheel
is an index, never an approximation.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from datafusion_uwheel_spark import WheelEngine
from pyspark.sql import types as T

R = "ts >= '2024-05-10 00:00:00' AND ts < '2024-05-10 00:00:10'"
R_NULLS = "ts >= '2024-05-10 00:00:03' AND ts < '2024-05-10 00:00:06'"


@pytest.fixture(scope="module")
def null_df(spark):
    """10 seconds; v is NULL on seconds 3,4,5 (one all-NULL range), and the
    bucket at second 7 has a NULL alongside a value (mixed bucket)."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    rows = []
    for i in range(10):
        val = None if i in (3, 4, 5) else float(i + 1)
        rows.append((datetime(2024, 5, 10, 0, 0, i), val))
    rows.append((datetime(2024, 5, 10, 0, 0, 7), None))  # mixed bucket
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def null_engine(spark, null_df):
    e = WheelEngine(spark, "nulltab", null_df, time_column="ts", min_max_columns=("v",))
    e.build_index("v")
    return e


def routed_vs_delegate(engine, sql):
    routed = engine.sql(sql)
    assert engine.last_route.rewritten, engine.last_route
    delegated = engine.spark.sql(sql)
    # dtypes (name, type) must match; nullability legitimately differs
    # between a constant literal and an aggregate expression
    assert routed.dtypes == delegated.dtypes, (routed.dtypes, delegated.dtypes)
    assert routed.collect() == delegated.collect()
    return routed.collect()


@pytest.mark.parametrize(
    "expr",
    [
        "SUM(v) AS s",
        "AVG(v) AS a",
        "MIN(v) AS mn",
        "MAX(v) AS mx",
        "COUNT(*) AS c",
        "COUNT(v) AS cv",
        "STDDEV(v) AS sd",
        "VAR_POP(v) AS vp",
    ],
)
def test_null_aware_aggregates_match_delegate(null_engine, expr):
    if "STDDEV" in expr or "VAR_POP" in expr:
        # float formula differences: compare rounded values, schema exact
        sql = f"SELECT {expr} FROM nulltab WHERE {R}"
        routed = null_engine.sql(sql)
        assert null_engine.last_route.rewritten
        delegated = null_engine.spark.sql(sql)
        assert routed.dtypes == delegated.dtypes
        a, b = routed.collect()[0][0], delegated.collect()[0][0]
        assert a == pytest.approx(b, rel=1e-9)
        return
    routed_vs_delegate(null_engine, f"SELECT {expr} FROM nulltab WHERE {R}")


def test_all_null_range_answers_null_not_nan(null_engine):
    rows = routed_vs_delegate(
        null_engine,
        f"SELECT SUM(v) AS s, AVG(v) AS a, MIN(v) AS mn, MAX(v) AS mx, "
        f"COUNT(*) AS c, COUNT(v) AS cv FROM nulltab WHERE {R_NULLS}",
    )
    r = rows[0]
    assert r["s"] is None and r["a"] is None and r["mn"] is None and r["mx"] is None
    assert r["c"] == 3 and r["cv"] == 0


def test_count_col_routes(null_engine):
    null_engine.sql(f"SELECT COUNT(v) AS cv FROM nulltab WHERE {R}")
    assert null_engine.last_route.rewritten


def test_null_group_by_matches_delegate(null_engine):
    sql = (
        "SELECT date_trunc('second', ts) AS b, SUM(v) AS s, AVG(v) AS a, COUNT(v) AS cv "
        f"FROM nulltab WHERE {R} GROUP BY date_trunc('second', ts) ORDER BY b"
    )
    routed = null_engine.sql(sql.replace(" ORDER BY b", ""))
    assert null_engine.last_route.kind == "group_by"
    delegated = null_engine.spark.sql(sql)
    # nullability may differ (constant literal vs date_trunc) — types must match
    assert routed.dtypes == delegated.dtypes
    assert sorted(routed.collect(), key=lambda r: r["b"]) == delegated.collect()


def test_minmax_prune_ignores_all_null_range(null_engine):
    # min/max over an all-NULL range is unknowable — must NOT prune by bounds,
    # but the count wheel still knows rows exist → delegate (not wrong-empty).
    sql = f"SELECT * FROM nulltab WHERE {R_NULLS} AND v > 100.0"
    null_engine.sql(sql)
    assert null_engine.last_route.kind == "delegate"


# ---------------------------------------------------------------- integers
@pytest.fixture(scope="module")
def int_engine(spark):
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("big", T.LongType(), True),
            T.StructField("small", T.IntegerType(), True),
        ]
    )
    base = 2**53  # beyond exact float64 integers
    rows = [
        (datetime(2024, 5, 10, 0, 0, i), base + 2 * i + 1, i * 10) for i in range(10)
    ]
    df = spark.createDataFrame(rows, schema)
    e = WheelEngine(spark, "inttab", df, time_column="ts")
    e.build_index("big")
    e.build_index("small")
    return e


def test_bigint_sum_exact_past_2_53(int_engine):
    rows = routed_vs_delegate(int_engine, f"SELECT SUM(big) AS s FROM inttab WHERE {R}")
    # Σ (2^53 + 2i + 1) for i in 0..9 — odd increments are invisible to f64
    assert rows[0]["s"] == 10 * 2**53 + sum(2 * i + 1 for i in range(10))


def test_bigint_min_max_schema_and_values(int_engine):
    routed_vs_delegate(
        int_engine, f"SELECT MIN(big) AS mn, MAX(big) AS mx FROM inttab WHERE {R}"
    )


def test_int_column_keeps_int_schema(int_engine):
    # MIN/MAX of an INT column must come back as INT, SUM as BIGINT, AVG as
    # DOUBLE — exactly the delegate path's types.
    routed_vs_delegate(
        int_engine,
        f"SELECT MIN(small) AS mn, MAX(small) AS mx, SUM(small) AS s, AVG(small) AS a "
        f"FROM inttab WHERE {R}",
    )


# ---------------------------------------------------------------- landmark
def test_unfiltered_landmark_delegates_on_time_range_build(spark, minimal_agg):
    e = WheelEngine(
        spark,
        "restricted_lm",
        minimal_agg,
        time_column="timestamp",
        time_range=(datetime(2024, 5, 10, 0, 0, 0), datetime(2024, 5, 10, 0, 0, 5)),
    )
    e.build_index("agg_col")
    df = e.sql("SELECT SUM(agg_col) AS s FROM restricted_lm")
    # the wheel only indexed [0,5) → answering 15 would be wrong; delegate → 55
    assert e.last_route.kind == "delegate"
    assert df.collect()[0][0] == 55.0


def test_complete_landmark_still_routes(spark, minimal_agg):
    e = WheelEngine(spark, "complete_lm", minimal_agg, time_column="timestamp")
    e.build_index("agg_col")
    assert e.sql("SELECT SUM(agg_col) AS s FROM complete_lm").collect()[0][0] == 55.0
    assert e.last_route.kind == "landmark"


# ----------------------------------------------------------- per-agg builds
def test_per_aggregate_state_subset(spark, minimal_agg):
    e = WheelEngine(spark, "subset_tab", minimal_agg, time_column="timestamp")
    e.build_index("agg_col", aggs=("sum", "count"))
    r = "timestamp >= '2024-05-10 00:00:00' AND timestamp < '2024-05-10 00:00:10'"
    assert e.sql(f"SELECT SUM(agg_col) AS s FROM subset_tab WHERE {r}").collect()[0][0] == 55.0
    assert e.last_route.rewritten
    # MIN state was not built → delegate, still correct
    assert e.sql(f"SELECT MIN(agg_col) AS m FROM subset_tab WHERE {r}").collect()[0][0] == 1.0
    assert e.last_route.kind == "delegate"
    # STDDEV needs sumsq → delegate
    e.sql(f"SELECT STDDEV(agg_col) AS sd FROM subset_tab WHERE {r}")
    assert e.last_route.kind == "delegate"
    sub = next(i for i in e.list_indexes() if i["kind"] == "agg")
    assert sub["states"] == ("sum",)

    e_full = WheelEngine(spark, "subset_tab_full", minimal_agg, time_column="timestamp")
    e_full.build_index("agg_col")
    full = next(i for i in e_full.list_indexes() if i["kind"] == "agg")
    assert sub["size_bytes"] < full["size_bytes"]


# ------------------------------------------------------- streaming staleness
def test_unmaintained_keyed_wheel_goes_incomplete(spark):
    from datafusion_uwheel_spark.streaming.maintenance import StreamingWheelMaintainer

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("k", T.StringType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )
    rows = [(datetime(2024, 5, 10, 0, 0, i), "a" if i % 2 else "b", float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, schema)
    e = WheelEngine(spark, "stale_tab", df, time_column="ts")
    e.build_index("v")  # unfiltered — maintained
    e.build_index("v", filter="k = 'a'")  # keyed — NOT registered with maintainer

    m = StreamingWheelMaintainer(e)  # no filters → keyed wheel unmaintained
    batch = spark.createDataFrame(
        [(datetime(2024, 5, 10, 0, 1, 0), "a", 100.0)], schema
    )
    m.merge_batch(batch)

    # the keyed wheel must no longer claim completeness: a keyed query over
    # the newly ingested minute delegates instead of answering 0 from stale state
    keyed = next(w for (_c, fk), w in e.agg_wheels.items() if fk != "*_AGG")
    assert keyed.complete is False
    e.sql(
        "SELECT SUM(v) AS s FROM stale_tab "
        "WHERE ts >= '2024-05-10 00:01:00' AND ts < '2024-05-10 00:02:00' AND k = 'a'"
    )
    assert e.last_route.kind == "delegate"
    # the maintained unfiltered wheel still answers the new range
    got = e.sql(
        "SELECT SUM(v) AS s FROM stale_tab "
        "WHERE ts >= '2024-05-10 00:01:00' AND ts < '2024-05-10 00:02:00'"
    ).collect()[0][0]
    assert e.last_route.rewritten and got == 100.0


def test_build_indexes_multi_column_one_pass(spark, minimal_agg):
    from pyspark.sql import functions as F

    df = minimal_agg.withColumn("second_col", F.col("agg_col") * 2)
    e = WheelEngine(spark, "multi_build", df, time_column="timestamp")
    keys = e.build_indexes(["agg_col", "second_col"])
    assert len(keys) == 2
    r = "timestamp >= '2024-05-10 00:00:00' AND timestamp < '2024-05-10 00:00:10'"
    assert e.sql(f"SELECT SUM(agg_col) AS s FROM multi_build WHERE {r}").collect()[0][0] == 55.0
    assert e.last_route.rewritten
    assert e.sql(f"SELECT SUM(second_col) AS s FROM multi_build WHERE {r}").collect()[0][0] == 110.0
    assert e.last_route.rewritten


# -------------------------------------------------------- NaN (float order)
# Spark orders NaN above +inf: MIN skips NaN unless every value is NaN, MAX
# is NaN as soon as any value is. Routed answers must follow that order on
# every path that combines MIN/MAX states. These engines register no shim
# rollup, so ``spark.sql`` is the plain scan.
NAN_R = "ts >= '2024-05-10 00:00:00' AND ts < '2024-05-10 00:00:06'"


def _nan_aware(rows):
    return [tuple(repr(v) for v in r) for r in rows]


def routed_vs_delegate_nan(engine, sql, kind=None):
    routed = engine.sql(sql)
    assert engine.last_route.rewritten, engine.last_route
    if kind is not None:
        assert engine.last_route.kind == kind, engine.last_route
    delegated = engine.spark.sql(sql)
    assert routed.dtypes == delegated.dtypes
    got, want = _nan_aware(routed.collect()), _nan_aware(delegated.collect())
    assert got == want, (got, want)
    return got


@pytest.fixture(scope="module")
def nan_engine(spark):
    """One value per second: NaN, -inf, NULL, NaN, then NaN and 2.0 in the
    same second, then 1.0 — so ranges cross all-NaN, all-NULL and mixed
    buckets."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("v", T.DoubleType(), True),
        ]
    )
    nan, inf = float("nan"), float("inf")
    vals = [(0, nan), (1, -inf), (2, None), (3, nan), (4, nan), (4, 2.0), (5, 1.0)]
    rows = [(datetime(2024, 5, 10, 0, 0, s), v) for s, v in vals]
    e = WheelEngine(spark, "nantab", spark.createDataFrame(rows, schema), time_column="ts")
    e.build_index("v")
    return e


def test_min_skips_nan_over_neg_inf(nan_engine):
    """MIN over {NaN, -inf} is -inf (NaN sorts above +inf); MAX is NaN."""
    rows = routed_vs_delegate_nan(
        nan_engine,
        "SELECT MIN(v) AS mn, MAX(v) AS mx FROM nantab "
        "WHERE ts >= '2024-05-10 00:00:00' AND ts < '2024-05-10 00:00:02'",
        "multi_agg",
    )
    assert rows == [("-inf", "nan")]


@pytest.mark.parametrize(
    "where",
    [
        NAN_R,
        # all-NaN bucket next to an all-NULL one
        "ts >= '2024-05-10 00:00:02' AND ts < '2024-05-10 00:00:04'",
        # merged parts: OR of ranges, hybrid core + upper sliver
        "(ts >= '2024-05-10 00:00:00' AND ts < '2024-05-10 00:00:01') OR "
        "(ts >= '2024-05-10 00:00:03' AND ts < '2024-05-10 00:00:04')",
        "ts >= '2024-05-10 00:00:02' AND ts <= '2024-05-10 00:00:04'",
    ],
)
def test_min_max_nan_order_on_every_combine(nan_engine, where):
    routed_vs_delegate_nan(
        nan_engine, f"SELECT MIN(v) AS mn, MAX(v) AS mx, COUNT(v) AS cv FROM nantab WHERE {where}"
    )


def test_min_max_nan_order_grouped(nan_engine):
    routed_vs_delegate_nan(
        nan_engine,
        "SELECT window(ts, '2 seconds').start AS w, MIN(v) AS mn, MAX(v) AS mx "
        f"FROM nantab WHERE {NAN_R} GROUP BY window(ts, '2 seconds') ORDER BY w",
        "group_by",
    )


def test_partitioned_star_wheel_max_is_nan(spark):
    """The star wheel of ``build_partitioned_index`` folds per-key states of
    one second: a NaN under one key and 1.0 under another must fold to a
    NaN MAX (and a 1.0 MIN), as Spark's own MAX over the rows."""
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("k", T.StringType(), False),
            T.StructField("value", T.DoubleType(), True),
        ]
    )
    rows = [
        (datetime(2024, 5, 10, 0, 0, 0), "a", float("nan")),
        (datetime(2024, 5, 10, 0, 0, 0), "b", 1.0),
        (datetime(2024, 5, 10, 0, 0, 1), "a", 2.0),
    ]
    e = WheelEngine(spark, "nan_part", spark.createDataFrame(rows, schema), time_column="ts")
    e.build_partitioned_index("value", partition_by="k")
    got = routed_vs_delegate_nan(
        e,
        "SELECT MAX(value) AS mx, MIN(value) AS mn FROM nan_part "
        "WHERE ts >= '2024-05-10 00:00:00' AND ts < '2024-05-10 00:00:02'",
        "multi_agg",
    )
    assert got == [("nan", "1.0")]

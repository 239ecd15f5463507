"""Dim (time × category) group-bys from partitioned wheel families:
routing decisions + exact parity with delegated Spark evaluation,
including NULL key groups, hopping windows, HAVING, and keyed reuse."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from datafusion_uwheel_spark import WheelEngine

RANGE = "timestamp >= '2024-06-01 00:00:00' AND timestamp < '2024-06-01 00:01:00'"


@pytest.fixture(scope="module")
def dim_engine(spark):
    base = datetime(2024, 6, 1)
    rows = []
    for i in range(60):  # one row per second, cycling categories + NULLs
        cat = [None, "a", "b", "c"][i % 4]
        rows.append((base + timedelta(seconds=i), float(i + 1), cat, i % 3))
    df = spark.createDataFrame(rows, "timestamp timestamp, v double, cat string, grp int")
    eng = WheelEngine(spark, "dimfix", df, time_column="timestamp")
    eng.build_partitioned_index("v", partition_by="cat")
    eng.build_partitioned_index("v", partition_by="grp")
    return eng


def _key(row):
    return tuple((v is not None, v) for v in row)


def _check(eng, sql, expect_kind="group_by"):
    df = eng.sql(sql)
    assert eng.last_route.kind == expect_kind, eng.last_route
    got = sorted(map(tuple, df.collect()), key=_key)
    want = sorted(map(tuple, eng.spark.sql(sql).collect()), key=_key)
    assert got == want and got
    return got


def test_trunc_by_string_key_with_nulls(dim_engine):
    got = _check(
        dim_engine,
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n, "
        f"SUM(v) AS s FROM dimfix WHERE {RANGE} "
        "GROUP BY date_trunc('minute', timestamp), cat",
    )
    assert dim_engine.last_route.detail["partition_by"] == "cat"
    assert any(r[1] is None for r in got)  # the NULL key group is present


def test_int_key_and_key_first_order(dim_engine):
    _check(
        dim_engine,
        "SELECT grp, date_trunc('minute', timestamp) AS b, AVG(v) AS a "
        f"FROM dimfix WHERE {RANGE} GROUP BY grp, date_trunc('minute', timestamp)",
    )


def test_window_and_hopping_by_key(dim_engine):
    _check(
        dim_engine,
        "SELECT window(timestamp, '15 seconds').start AS ws, cat, COUNT(*) AS n "
        f"FROM dimfix WHERE {RANGE} GROUP BY window(timestamp, '15 seconds'), cat",
    )
    _check(
        dim_engine,
        "SELECT window(timestamp, '20 seconds', '10 seconds').start AS ws, "
        "window(timestamp, '20 seconds', '10 seconds').end AS we, cat, SUM(v) AS s "
        f"FROM dimfix WHERE {RANGE} "
        "GROUP BY window(timestamp, '20 seconds', '10 seconds'), cat",
    )


def test_landmark_and_having(dim_engine):
    _check(
        dim_engine,
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n "
        "FROM dimfix GROUP BY date_trunc('minute', timestamp), cat",
        expect_kind="group_by_landmark",
    )
    _check(
        dim_engine,
        "SELECT date_trunc('minute', timestamp) AS b, grp, SUM(v) AS s "
        f"FROM dimfix WHERE {RANGE} GROUP BY date_trunc('minute', timestamp), grp "
        "HAVING COUNT(*) >= 20 ORDER BY b, grp",
    )


def test_no_job_for_dim_groupby(dim_engine, spark):
    tracker = spark.sparkContext.statusTracker()
    sql = (
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n "
        f"FROM dimfix WHERE {RANGE} GROUP BY date_trunc('minute', timestamp), cat"
    )
    dim_engine.sql(sql).collect()  # warm the route cache
    before = tracker.getJobIdsForGroup(None)
    rows = dim_engine.sql(sql).collect()
    assert tracker.getJobIdsForGroup(None) == before
    assert len(rows) == 4


def test_keyed_equality_reuse(dim_engine):
    got = dim_engine.sql(
        f"SELECT SUM(v) AS s FROM dimfix WHERE {RANGE} AND cat = 'a'"
    ).collect()[0][0]
    assert dim_engine.last_route.kind == "single_agg"
    want = dim_engine.spark.sql(
        f"SELECT SUM(v) AS s FROM dimfix WHERE {RANGE} AND cat = 'a'"
    ).collect()[0][0]
    assert got == want
    # int key equality routes too (number canonicalization)
    got = dim_engine.sql(
        f"SELECT COUNT(*) AS n FROM dimfix WHERE {RANGE} AND grp = 1"
    ).collect()[0][0]
    assert dim_engine.last_route.rewritten
    assert got == 20


def test_delegate_cases(dim_engine):
    # unpartitioned key column
    r = dim_engine.explain_route(
        "SELECT date_trunc('minute', timestamp) AS b, v, COUNT(*) AS n "
        f"FROM dimfix WHERE {RANGE} GROUP BY date_trunc('minute', timestamp), v"
    )
    assert r.kind == "delegate"
    # residual filter alongside the dim group-by
    r = dim_engine.explain_route(
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n "
        f"FROM dimfix WHERE {RANGE} AND grp = 1 "
        "GROUP BY date_trunc('minute', timestamp), cat"
    )
    assert r.kind == "delegate"
    # LIMIT over (bucket, key) rows is never deterministic on bucket alone
    r = dim_engine.explain_route(
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n "
        f"FROM dimfix WHERE {RANGE} GROUP BY date_trunc('minute', timestamp), cat "
        "ORDER BY b LIMIT 2"
    )
    assert r.kind == "delegate"
    # bare column without a matching GROUP BY key
    r = dim_engine.explain_route(f"SELECT cat FROM dimfix WHERE {RANGE}")
    assert r.kind == "delegate"


def test_build_guards(dim_engine, spark):
    with pytest.raises(ValueError, match="time column"):
        dim_engine.build_partitioned_index("v", partition_by="timestamp")
    with pytest.raises(ValueError, match="max_keys"):
        dim_engine.build_partitioned_index("v", partition_by="v", max_keys=3)
    eng = WheelEngine(
        spark,
        "dimfix_spark",
        dim_engine.df,
        time_column="timestamp",
        index_backend="spark",
    )
    with pytest.raises(ValueError, match="driver"):
        eng.build_partitioned_index("v", partition_by="cat")


def test_partition_sets_save_load_round_trip(dim_engine, spark, tmp_path):
    out = str(tmp_path / "dim_idx")
    dim_engine.save_indexes(out)
    eng2 = WheelEngine(
        spark, "dimfix2", dim_engine.df, time_column="timestamp", load_indexes=out
    )
    sql = (
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n, SUM(v) AS s "
        f"FROM dimfix2 WHERE {RANGE} GROUP BY date_trunc('minute', timestamp), cat"
    )
    got = sorted(map(tuple, eng2.sql(sql).collect()), key=_key)
    assert eng2.last_route.kind == "group_by"
    assert eng2.partition_sets["cat"]["key_sql_type"] == "STRING"
    ref = (
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n, SUM(v) AS s "
        f"FROM dimfix WHERE {RANGE} GROUP BY date_trunc('minute', timestamp), cat"
    )
    want = sorted(map(tuple, dim_engine.sql(ref).collect()), key=_key)
    assert got == want
    # keyed equality reuse survives the reload
    eng2.sql(f"SELECT SUM(v) AS s FROM dimfix2 WHERE {RANGE} AND cat = 'b'").collect()
    assert eng2.last_route.kind == "single_agg"
    # int keys round-trip as ints (JSON-tokenized, not stringified)
    assert all(isinstance(k, int) for k in eng2.partition_sets["grp"]["wheels"])


def test_merge_marks_partition_sets_incomplete(spark):
    from datetime import datetime, timedelta

    from datafusion_uwheel_spark.streaming.maintenance import StreamingWheelMaintainer

    base = datetime(2024, 6, 2)
    rows = [
        (base + timedelta(seconds=i), float(i), ["x", "y", None][i % 3])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "timestamp timestamp, v double, cat string")
    eng = WheelEngine(spark, "dimstale", df, time_column="timestamp")
    eng.build_index("v")
    eng.build_partitioned_index("v", partition_by="cat")
    lm = (
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n "
        "FROM dimstale GROUP BY date_trunc('minute', timestamp), cat"
    )
    assert eng.explain_route(lm).kind == "group_by_landmark"
    m = StreamingWheelMaintainer(eng, maintain_partitions=False)
    late = spark.createDataFrame(
        [(base + timedelta(seconds=60), 1.0, "x")], "timestamp timestamp, v double, cat string"
    )
    m.merge_batch(late)
    # unmaintained family is now incomplete: the landmark delegates instead
    # of answering from pre-merge state
    assert eng.explain_route(lm).kind == "delegate"


def test_streaming_maintains_partition_sets(spark):
    from datetime import datetime, timedelta

    from datafusion_uwheel_spark.streaming.maintenance import StreamingWheelMaintainer

    base = datetime(2024, 6, 3)
    mk = lambda i, cat: (base + timedelta(seconds=i), float(i + 1), cat)
    rows1 = [mk(i, ["x", "y", None][i % 3]) for i in range(30)]
    schema = "timestamp timestamp, v double, cat string"
    df1 = spark.createDataFrame(rows1, schema)
    eng = WheelEngine(spark, "dimstream", df1, time_column="timestamp")
    eng.build_index("v")
    eng.build_partitioned_index("v", partition_by="cat")
    # batch 2: late data into existing keys, NULL keys, and a NEVER-SEEN key
    rows2 = [mk(i, "x") for i in (5, 40)] + [mk(41, None), mk(42, "z")]
    m = StreamingWheelMaintainer(eng)
    m.merge_batch(spark.createDataFrame(rows2, schema))

    union = spark.createDataFrame(rows1 + rows2, schema)
    union.createOrReplaceTempView("dimstream_union")
    lm = (
        "SELECT date_trunc('minute', {t}) AS b, cat, COUNT(*) AS n, SUM(v) AS s "
        "FROM {tbl} GROUP BY date_trunc('minute', {t}), cat"
    )
    got = eng.sql(lm.format(t="timestamp", tbl="dimstream"))
    assert eng.last_route.kind == "group_by_landmark", eng.last_route
    want = spark.sql(lm.format(t="timestamp", tbl="dimstream_union"))
    assert sorted(map(tuple, got.collect()), key=_key) == sorted(
        map(tuple, want.collect()), key=_key
    )
    # the mid-stream key got a wheel and an equality filter registration
    assert "z" in eng.partition_sets["cat"]["wheels"]
    n = eng.sql("SELECT COUNT(*) AS n FROM dimstream WHERE cat = 'z'").collect()[0][0]
    assert eng.last_route.rewritten and n == 1


# --------------------------------------------------------------- IN routing
def test_in_scalar_aggregates(dim_engine):
    for sql in (
        f"SELECT COUNT(*) AS n, SUM(v) AS s FROM dimfix WHERE {RANGE} AND cat IN ('a', 'b')",
        f"SELECT AVG(v) AS a, MIN(v) AS mn, MAX(v) AS mx FROM dimfix WHERE {RANGE} "
        "AND cat IN ('b', 'c', 'b')",
        f"SELECT STDDEV(v) AS sd FROM dimfix WHERE {RANGE} AND grp IN (0, 2)",
        # landmark form: IN residual only, no temporal bounds
        "SELECT COUNT(*) AS n, SUM(v) AS s FROM dimfix WHERE cat IN ('a', 'c')",
    ):
        got = [tuple(r) for r in dim_engine.sql(sql).collect()]
        assert dim_engine.last_route.rewritten, (sql, dim_engine.last_route)
        assert dim_engine.last_route.detail.get("in_keys") is not None
        want = [tuple(r) for r in dim_engine.spark.sql(sql).collect()]
        assert got == want, sql


def test_in_values_absent_from_family(dim_engine):
    # key-complete family proves absence: unseen values contribute zero rows
    sql = (
        f"SELECT COUNT(*) AS n, SUM(v) AS s FROM dimfix WHERE {RANGE} "
        "AND cat IN ('a', 'zzz')"
    )
    got = dim_engine.sql(sql).collect()[0]
    assert dim_engine.last_route.rewritten
    want = dim_engine.spark.sql(sql).collect()[0]
    assert tuple(got) == tuple(want)
    # every value absent → COUNT 0, SUM NULL — still routed, still right
    sql0 = f"SELECT COUNT(*) AS n, SUM(v) AS s FROM dimfix WHERE {RANGE} AND cat IN ('zzz')"
    got0 = dim_engine.sql(sql0).collect()[0]
    assert dim_engine.last_route.rewritten
    assert tuple(got0) == tuple(dim_engine.spark.sql(sql0).collect()[0]) == (0, None)


def test_in_temporal_group_by(dim_engine):
    sql = (
        "SELECT date_trunc('minute', timestamp) AS b, COUNT(*) AS n, SUM(v) AS s "
        f"FROM dimfix WHERE {RANGE} AND cat IN ('a', 'b') "
        "GROUP BY date_trunc('minute', timestamp)"
    )
    _check(dim_engine, sql)
    assert dim_engine.last_route.detail["in_keys"] == 2
    # hopping windows + HAVING through the same merge
    sql2 = (
        "SELECT window(timestamp, '20 seconds', '10 seconds').start AS ws, SUM(v) AS s "
        f"FROM dimfix WHERE {RANGE} AND grp IN (1, 2) "
        "GROUP BY window(timestamp, '20 seconds', '10 seconds') "
        "HAVING COUNT(*) >= 10 ORDER BY ws"
    )
    _check(dim_engine, sql2)
    # landmark group-by with IN residual only
    sql3 = (
        "SELECT date_trunc('minute', timestamp) AS b, COUNT(*) AS n "
        "FROM dimfix WHERE cat IN ('a', 'b') GROUP BY date_trunc('minute', timestamp)"
    )
    _check(dim_engine, sql3, expect_kind="group_by_landmark")


def test_in_restricts_dim_group_by(dim_engine):
    sql = (
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n "
        f"FROM dimfix WHERE {RANGE} AND cat IN ('a', 'c') "
        "GROUP BY date_trunc('minute', timestamp), cat ORDER BY b, cat"
    )
    got = _check(dim_engine, sql)
    assert {r[1] for r in got} == {"a", "c"}  # NULL group excluded by IN
    # the IN alone, no temporal bound: the listed keys' landmark, as the
    # other keyed families answer it
    got = _check(
        dim_engine,
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n "
        "FROM dimfix WHERE cat IN ('a', 'c') "
        "GROUP BY date_trunc('minute', timestamp), cat ORDER BY b, cat",
        "group_by_landmark",
    )
    assert {r[1] for r in got} == {"a", "c"}
    # IN on a different partitioned column than the group key → delegate
    r = dim_engine.explain_route(
        "SELECT date_trunc('minute', timestamp) AS b, cat, COUNT(*) AS n "
        f"FROM dimfix WHERE {RANGE} AND grp IN (1) "
        "GROUP BY date_trunc('minute', timestamp), cat"
    )
    assert r.kind == "delegate"


def test_in_unpartitioned_column_delegates(dim_engine):
    r = dim_engine.explain_route(
        f"SELECT COUNT(*) AS n FROM dimfix WHERE {RANGE} AND v IN (1.0, 2.0)"
    )
    assert r.kind == "delegate"


# ----------------------------------------------------------- keys-only GROUP BY
def test_key_only_group_by(dim_engine):
    for sql in (
        f"SELECT cat, COUNT(*) AS n, SUM(v) AS s FROM dimfix WHERE {RANGE} GROUP BY cat",
        # categorical landmark (no WHERE), NULL group included
        "SELECT cat, COUNT(*) AS n, AVG(v) AS a FROM dimfix GROUP BY cat",
        # int key + HAVING + ORDER BY
        f"SELECT grp, MAX(v) AS mx FROM dimfix WHERE {RANGE} GROUP BY grp "
        "HAVING COUNT(*) >= 20 ORDER BY grp",
        # IN restriction on the same key
        f"SELECT cat, COUNT(*) AS n FROM dimfix WHERE {RANGE} AND cat IN ('a', 'b') GROUP BY cat",
        # zero-aggregate DISTINCT-keys form
        f"SELECT cat FROM dimfix WHERE {RANGE} GROUP BY cat",
    ):
        df = dim_engine.sql(sql)
        assert dim_engine.last_route.rewritten, (sql, dim_engine.last_route)
        got = sorted(map(tuple, df.collect()), key=_key)
        want = sorted(map(tuple, dim_engine.spark.sql(sql).collect()), key=_key)
        assert got == want and got, sql


def test_key_only_group_by_limit_and_delegates(dim_engine):
    # LIMIT deterministic only when the key leads the ORDER BY
    sql = (
        f"SELECT cat, COUNT(*) AS n FROM dimfix WHERE {RANGE} "
        "GROUP BY cat ORDER BY cat DESC LIMIT 2"
    )
    got = [tuple(r) for r in dim_engine.sql(sql).collect()]
    assert dim_engine.last_route.rewritten
    assert got == [tuple(r) for r in dim_engine.spark.sql(sql).collect()]
    r = dim_engine.explain_route(
        f"SELECT cat, COUNT(*) AS n FROM dimfix WHERE {RANGE} "
        "GROUP BY cat ORDER BY n LIMIT 2"
    )
    assert r.kind == "delegate"
    # unpartitioned key column delegates
    r = dim_engine.explain_route(
        f"SELECT v, COUNT(*) AS n FROM dimfix WHERE {RANGE} GROUP BY v"
    )
    assert r.kind == "delegate"


# ------------------------------------------- COUNT(DISTINCT) / SELECT DISTINCT
def test_count_distinct_key(dim_engine):
    for sql in (
        f"SELECT COUNT(DISTINCT cat) AS n FROM dimfix WHERE {RANGE}",
        "SELECT COUNT(DISTINCT cat) AS n FROM dimfix",  # landmark
        f"SELECT COUNT(DISTINCT grp) AS n FROM dimfix WHERE {RANGE}",
        # IN restriction on the same key; 'zzz' provably contributes nothing
        f"SELECT COUNT(DISTINCT cat) AS n FROM dimfix WHERE {RANGE} AND cat IN ('a', 'zzz')",
        # narrow range where only some keys occur
        "SELECT COUNT(DISTINCT cat) AS n FROM dimfix WHERE "
        "timestamp >= '2024-06-01 00:00:00' AND timestamp < '2024-06-01 00:00:02'",
    ):
        got = dim_engine.sql(sql).collect()[0][0]
        assert dim_engine.last_route.kind == "count_distinct", (sql, dim_engine.last_route)
        want = dim_engine.spark.sql(sql).collect()[0][0]
        assert got == want, sql


def test_count_distinct_delegates(dim_engine):
    # unpartitioned column
    r = dim_engine.explain_route(
        f"SELECT COUNT(DISTINCT v) AS n FROM dimfix WHERE {RANGE}"
    )
    assert r.kind == "delegate"
    # mixed with other aggregates
    r = dim_engine.explain_route(
        f"SELECT COUNT(DISTINCT cat) AS n, SUM(v) AS s FROM dimfix WHERE {RANGE}"
    )
    assert r.kind == "delegate"
    # correctness of the delegated answers (never wrong, just slower)
    sql = f"SELECT COUNT(DISTINCT v) AS n FROM dimfix WHERE {RANGE}"
    assert dim_engine.sql(sql).collect() == dim_engine.spark.sql(sql).collect()


def test_select_distinct_key(dim_engine):
    for sql in (
        f"SELECT DISTINCT cat FROM dimfix WHERE {RANGE}",
        "SELECT DISTINCT grp FROM dimfix ORDER BY grp",
        f"SELECT DISTINCT cat FROM dimfix WHERE {RANGE} AND cat IN ('a', 'b')",
    ):
        df = dim_engine.sql(sql)
        assert dim_engine.last_route.rewritten, (sql, dim_engine.last_route)
        got = sorted(map(tuple, df.collect()), key=_key)
        want = sorted(map(tuple, dim_engine.spark.sql(sql).collect()), key=_key)
        assert got == want and got, sql
    # DISTINCT over anything else delegates
    r = dim_engine.explain_route("SELECT DISTINCT cat, grp FROM dimfix")
    assert r.kind == "delegate"
    r = dim_engine.explain_route(f"SELECT DISTINCT v FROM dimfix WHERE {RANGE}")
    assert r.kind == "delegate"


def test_in_group_by_variance_family(spark, sf_small_dir):
    """key IN (...) + grouped STDDEV — the pre-existing sibling of the r6
    grouped-OR KeyError('_sumsq'): interval/key cell combination needs the
    raw sum-of-squares monoid in every group_by cell."""
    from datafusion_uwheel_spark import WheelEngine
    from datafusion_uwheel_spark.sources import read_parquet

    e = WheelEngine(
        spark, "invar_events", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    e.build_index("value")
    e.build_partitioned_index("value", partition_by="event_type")
    read_parquet(spark, f"{sf_small_dir}/events.parquet").createOrReplaceTempView(
        "invar_events"
    )
    sql = (
        "SELECT date_trunc('day', ts) AS b, STDDEV(value) AS sd FROM invar_events "
        "WHERE ts >= '2024-01-03 00:00:00' AND ts < '2024-01-06 00:00:00' "
        "AND event_type IN ('click', 'view') "
        "GROUP BY date_trunc('day', ts) ORDER BY b"
    )
    routed = e.sql(sql)
    assert e.last_route.rewritten, e.last_route
    got = routed.collect()
    want = spark.sql(sql).collect()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g["b"] == w["b"]
        assert abs(g["sd"] - w["sd"]) <= 1e-9 * max(1.0, abs(w["sd"]))


def test_derived_star_wheels_from_one_scan(spark):
    """r8: build_partitioned_index also yields the UNFILTERED wheels by
    monoid-folding the per-key rollup driver-side — one scan serves dim
    group-bys, keyed equality AND plain aggregates. Counts/min/max/bounds
    must equal a direct build exactly; float sums within re-add tolerance;
    at-start sliver states survive (hybrid boundaries route)."""
    base = datetime(2024, 6, 2)
    rows = []
    for i in range(90):
        cat = [None, "a", "b"][i % 3]
        v = None if i % 7 == 0 else float(i) - 40.0
        # sub-second offsets except every 3rd row exactly on the second
        micro = 0 if i % 3 == 0 else 123456
        rows.append((base + timedelta(seconds=i // 3, microseconds=micro), v, cat))
    df = spark.createDataFrame(rows, "timestamp timestamp, v double, cat string")
    derived = WheelEngine(spark, "star_derived", df, time_column="timestamp")
    derived.build_partitioned_index("v", partition_by="cat")
    direct = WheelEngine(spark, "star_direct", df, time_column="timestamp")
    direct.build_index("v")

    a, b = "2024-06-02 00:00:05", "2024-06-02 00:00:25"
    for sql_t, kind in (
        ("SELECT COUNT(*) AS c, COUNT(v) AS cv, MIN(v) AS mn, MAX(v) AS mx, "
         "SUM(v) AS s, AVG(v) AS av FROM {t} "
         f"WHERE timestamp >= '{a}' AND timestamp < '{b}'", "multi_agg"),
        ("SELECT STDDEV(v) AS sd FROM {t} "
         f"WHERE timestamp >= '{a}' AND timestamp < '{b}'", "single_agg"),
        ("SELECT COUNT(*) AS c, SUM(v) AS s FROM {t} "
         f"WHERE timestamp BETWEEN '{a}' AND '2024-06-02 00:00:24'", "hybrid_agg"),
        ("SELECT COUNT(*) AS c, SUM(v) AS s FROM {t}", "landmark"),
    ):
        d_rows = derived.sql(sql_t.format(t="star_derived"))
        assert derived.last_route.kind == kind, (sql_t, derived.last_route)
        e_rows = direct.sql(sql_t.format(t="star_direct"))
        assert direct.last_route.kind == kind
        got, want = d_rows.collect()[0], e_rows.collect()[0]
        spark_want = spark.sql(sql_t.format(t="star_derived")).collect()[0]
        for g, w, sw in zip(got, want, spark_want):
            if g is None:
                assert w is None and sw is None
            else:
                assert abs(g - w) <= 1e-9 * max(1.0, abs(w)), (sql_t, got, want)
                assert abs(g - sw) <= 1e-9 * max(1.0, abs(sw)), (sql_t, got, spark_want)

    # wheel-level equivalence: exact for integral states and bounds
    dw = derived.agg_wheels[("v", "*_AGG")]
    xw = direct.agg_wheels[("v", "*_AGG")]
    assert (dw.secs == xw.secs).all()
    assert (dw.cnt == xw.cnt).all()
    assert (dw.vcnt_ == xw.vcnt_).all()
    assert (dw.min_ == xw.min_).all() and (dw.max_ == xw.max_).all()
    assert dw.min_ts_us == xw.min_ts_us and dw.max_ts_us == xw.max_ts_us


def test_derived_star_does_not_clobber_explicit_build(spark):
    base = datetime(2024, 6, 3)
    df = spark.createDataFrame(
        [(base + timedelta(seconds=i), float(i), "x") for i in range(10)],
        "timestamp timestamp, v double, cat string",
    )
    e = WheelEngine(spark, "star_prec", df, time_column="timestamp")
    e.build_index("v")
    explicit = e.agg_wheels[("v", "*_AGG")]
    e.build_partitioned_index("v", partition_by="cat")
    assert e.agg_wheels[("v", "*_AGG")] is explicit  # setdefault precedence


def test_multi_column_family_one_scan(spark):
    """r8: build_partitioned_index accepts a COLUMN TUPLE — every listed
    column's states ride the same (bucket, key) job, so mixed-column dim
    group-bys, keyed equality on either column, and unfiltered aggregates
    over both all route from ONE build."""
    base = datetime(2024, 6, 4)
    rows = []
    for i in range(80):
        cat = ["a", "b", None][i % 3]
        rows.append((base + timedelta(seconds=i), float(i) / 2.0, i * 3, cat))
    df = spark.createDataFrame(
        rows, "timestamp timestamp, v double, qty long, cat string"
    )
    e = WheelEngine(spark, "multicol_fam", df, time_column="timestamp")
    e.build_partitioned_index(("v", "qty"), partition_by="cat")
    a, b = "2024-06-04 00:00:10", "2024-06-04 00:01:00"
    # mixed-column dim group-by
    _check(
        e,
        "SELECT date_trunc('minute', timestamp) AS bkt, cat AS k, "
        "SUM(v) AS sv, SUM(qty) AS sq, MAX(qty) AS mq, COUNT(*) AS n "
        f"FROM multicol_fam WHERE timestamp >= '{a}' AND timestamp < '{b}' "
        "GROUP BY date_trunc('minute', timestamp), cat",
    )
    # keyed equality on the second column
    sql = (
        "SELECT SUM(qty) AS sq FROM multicol_fam "
        f"WHERE timestamp >= '{a}' AND timestamp < '{b}' AND cat = 'b'"
    )
    routed = e.sql(sql)
    assert e.last_route.rewritten, e.last_route
    assert routed.collect() == e.spark.sql(sql).collect()
    # derived unfiltered wheels exist for BOTH columns
    sql = (
        "SELECT SUM(qty) AS sq, AVG(v) AS av FROM multicol_fam "
        f"WHERE timestamp >= '{a}' AND timestamp < '{b}'"
    )
    routed = e.sql(sql)
    assert e.last_route.kind == "multi_agg", e.last_route
    got, want = routed.collect()[0], e.spark.sql(sql).collect()[0]
    assert got["sq"] == want["sq"]
    assert abs(got["av"] - want["av"]) <= 1e-9 * max(1.0, abs(want["av"]))


def test_regroup_op_prefix_not_substring(spark):
    """r8 review repro: a column literally named '_min_x' embeds '__min_'
    in every state alias; substring classification MIN-folded its counts
    and sums across keys in the derived star wheels (silent wrong
    answer). Prefix matching keeps the monoids straight."""
    base = datetime(2024, 6, 5)
    rows = [
        (base + timedelta(seconds=i), float(10 + i), ["a", "b"][i % 2])
        for i in range(40)
    ]
    df = spark.createDataFrame(
        rows, "timestamp timestamp, _min_x double, cat string"
    )
    e = WheelEngine(spark, "minx_fam", df, time_column="timestamp")
    e.build_partitioned_index("_min_x", partition_by="cat")
    sql = (
        "SELECT COUNT(_min_x) AS c, SUM(_min_x) AS s FROM minx_fam "
        "WHERE timestamp >= '2024-06-05 00:00:00' "
        "AND timestamp < '2024-06-05 00:01:00'"
    )
    routed = e.sql(sql)
    assert e.last_route.rewritten, e.last_route
    got, want = routed.collect()[0], spark.sql(sql).collect()[0]
    assert got["c"] == want["c"] == 40
    assert abs(got["s"] - want["s"]) <= 1e-9 * abs(want["s"])


def test_maintainer_stale_marks_missing_column(spark):
    """r8 review repro: after a partitioned build derives (col, *_AGG)
    wheels, a maintenance batch that lacks the value column must
    STALE-MARK those wheels (the documented contract) instead of dying in
    an unresolved-column AnalysisException and killing the stream."""
    from datafusion_uwheel_spark.operators.lookup import STAR_AGGREGATION_ALIAS
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    base = datetime(2024, 6, 6)
    df = spark.createDataFrame(
        [(base + timedelta(seconds=i), float(i), "a") for i in range(20)],
        "timestamp timestamp, v double, cat string",
    )
    e = WheelEngine(spark, "narrow_stream", df, time_column="timestamp")
    e.build_partitioned_index("v", partition_by="cat")
    vw = e.agg_wheels[("v", STAR_AGGREGATION_ALIAS)]
    assert vw.complete
    batch = spark.createDataFrame(
        [(base + timedelta(seconds=100 + i),) for i in range(5)],
        "timestamp timestamp",
    )
    StreamingWheelMaintainer(e, maintain_partitions=False).merge_batch(batch)
    assert not vw.complete  # stale-marked, not crashed
    cw = e.count_wheels[STAR_AGGREGATION_ALIAS]
    assert cw.max_ts_us >= int(
        (base + timedelta(seconds=104)).timestamp() * 1_000_000
    )  # the count wheel DID take the batch


def test_duplicate_columns_rejected(spark):
    base = datetime(2024, 6, 7)
    df = spark.createDataFrame(
        [(base, 1.0, "a")], "timestamp timestamp, v double, cat string"
    )
    e = WheelEngine(spark, "dup_cols", df, time_column="timestamp")
    with pytest.raises(ValueError, match="duplicate"):
        e.build_partitioned_index(("v", "v"), partition_by="cat")
    with pytest.raises(ValueError, match="duplicate"):
        e.build_indexes(["v", "V"])

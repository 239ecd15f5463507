"""Save/load round-trip: a reloaded engine must route and answer identically
without running any index-build Spark job."""

from __future__ import annotations

from datafusion_uwheel_spark import WheelEngine

RANGE = "timestamp >= '2024-05-10 00:00:00' AND timestamp < '2024-05-10 00:00:10'"


def test_round_trip(spark, minimal_agg, tmp_path):
    eng = WheelEngine(
        spark, "persist_tbl", minimal_agg, time_column="timestamp",
        min_max_columns=("agg_col",),
    )
    eng.build_index("agg_col")
    eng.build_index("agg_col", filter="agg_col >= 5.0")
    manifest = eng.save_indexes(str(tmp_path / "idx"))
    assert manifest.endswith("index.json")

    eng2 = WheelEngine(
        spark, "persist_tbl", minimal_agg, time_column="timestamp",
        load_indexes=str(tmp_path / "idx"),
    )
    assert eng2.index_keys() == eng.index_keys()
    assert eng2.index_usage_bytes() == eng.index_usage_bytes()
    # the build-seeded pruning wheel is the aggregate wheel, before and
    # after the round trip (written once, loaded as one object)
    mm = eng2.min_max_wheels["agg_col"]
    assert mm is eng2.agg_wheels[("agg_col", "*_AGG")]

    for sql, want, kind in [
        (f"SELECT COUNT(*) AS c FROM persist_tbl WHERE {RANGE}", 10, "count_range"),
        (f"SELECT SUM(agg_col) AS s FROM persist_tbl WHERE {RANGE}", 55.0, "single_agg"),
        (
            f"SELECT SUM(agg_col) AS s FROM persist_tbl WHERE {RANGE} AND agg_col >= 5.0",
            sum(range(5, 11)) * 1.0,
            "single_agg",
        ),
        ("SELECT AVG(agg_col) AS a FROM persist_tbl", 5.5, "landmark"),
    ]:
        got = eng2.sql(sql).collect()[0][0]
        assert eng2.last_route.kind == kind, (sql, eng2.last_route)
        assert got == want, sql

    # pruning wheels survive the round trip too
    df = eng2.sql(f"SELECT * FROM persist_tbl WHERE {RANGE} AND agg_col > 99.0")
    assert eng2.last_route.kind == "prune_minmax"
    assert df.collect() == []


def test_round_trip_spark_backend(spark, minimal_agg, tmp_path):
    eng = WheelEngine(
        spark, "persist_spk", minimal_agg, time_column="timestamp",
        index_backend="spark",
    )
    eng.build_index("agg_col")
    eng.save_indexes(str(tmp_path / "sidx"))

    eng2 = WheelEngine(
        spark, "persist_spk", minimal_agg, time_column="timestamp",
        load_indexes=str(tmp_path / "sidx"), index_backend="spark",
    )
    sql = f"SELECT SUM(agg_col) AS s, COUNT(*) AS c FROM persist_spk WHERE {RANGE}"
    row = eng2.sql(sql).collect()[0]
    assert eng2.last_route.kind == "multi_agg"
    assert (row["s"], row["c"]) == (55.0, 10)

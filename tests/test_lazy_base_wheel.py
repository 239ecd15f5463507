"""The ctor defers its table scan — the base COUNT wheel and any
``min_max_columns`` pruning wheels. The first unfiltered build_index seeds
them from its own single pass (``indices[None]``, and the value wheel
itself as the pruning wheel), so the standard ctor+build sequence costs
ONE table scan instead of two. Any reader that arrives first materializes
the identical wheels in one pass through ``_ensure_base``; observable
answers never change."""

from __future__ import annotations

from datetime import datetime, timezone

from datafusion_uwheel_spark import WheelEngine
from datafusion_uwheel_spark.operators.lookup import STAR_AGGREGATION_ALIAS


def _jobs(spark):
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def test_build_seeds_deferred_base_and_routes_zero_job(spark, sf_small_dir):
    eng = WheelEngine(
        spark, "lzb_events", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    assert eng._base_pending
    assert STAR_AGGREGATION_ALIAS not in eng.count_wheels
    eng.build_index("value")
    # seeded for free from the build pass — no second scan
    assert not eng._base_pending
    assert STAR_AGGREGATION_ALIAS in eng.count_wheels
    j0 = _jobs(spark)
    rows = eng.sql_rows(
        "SELECT COUNT(*) AS n FROM lzb_events "
        "WHERE ts >= '2024-01-03 00:00:00' AND ts < '2024-01-05 00:00:00'"
    )
    assert eng.last_route.kind == "count_range"
    assert _jobs(spark) == j0  # routed stays zero-job
    want = (
        spark.read.parquet(f"{sf_small_dir}/events.parquet")
        .filter("ts >= '2024-01-03 00:00:00' AND ts < '2024-01-05 00:00:00'")
        .count()
    )
    assert rows[0][0] == want


def test_query_before_any_build_materializes_lazily(spark, sf_small_dir):
    eng = WheelEngine(
        spark, "lzb_events2", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    q = (
        "SELECT COUNT(*) AS n FROM lzb_events2 "
        "WHERE ts >= '2024-01-03 00:00:00' AND ts < '2024-01-05 00:00:00'"
    )
    rows = eng.sql_rows(q)
    assert eng.last_route.kind == "count_range"
    assert not eng._base_pending
    want = (
        spark.read.parquet(f"{sf_small_dir}/events.parquet")
        .filter("ts >= '2024-01-03 00:00:00' AND ts < '2024-01-05 00:00:00'")
        .count()
    )
    assert rows[0][0] == want
    # second ask is zero-job (the wheel now exists)
    want2 = (
        spark.read.parquet(f"{sf_small_dir}/events.parquet")
        .filter("ts >= '2024-01-03 00:00:00' AND ts < '2024-01-04 00:00:00'")
        .count()
    )
    j0 = _jobs(spark)
    assert eng.sql_rows(q.replace("01-05", "01-04"))[0][0] == want2
    assert _jobs(spark) == j0


def _minmax_engine(spark, sf_small_dir, name):
    return WheelEngine(
        spark,
        name,
        f"{sf_small_dir}/events.parquet",
        time_column="ts",
        min_max_columns=("value",),
    )


def test_minmax_ctor_launches_no_rollup_job(spark, sf_small_dir):
    j0 = _jobs(spark)
    eng = _minmax_engine(spark, sf_small_dir, "lzb_events3")
    # at most the parquet read's schema job: the pruning pass is deferred
    assert _jobs(spark) - j0 <= 1
    assert eng._base_pending
    assert eng._min_max_pending == ("value",)
    assert eng.min_max_wheels == {}
    assert STAR_AGGREGATION_ALIAS not in eng.count_wheels


def test_minmax_ctor_still_refuses_non_numeric_column(spark, sf_small_dir):
    import pytest

    with pytest.raises(ValueError, match="cannot build a value wheel"):
        WheelEngine(
            spark, "lzb_events3b", f"{sf_small_dir}/events.parquet",
            time_column="ts", min_max_columns=("event_type",),
        )


def test_first_build_seeds_minmax_wheel(spark, sf_small_dir):
    import numpy as np

    eng = _minmax_engine(spark, sf_small_dir, "lzb_events3c")
    eng.build_index("value")
    j0 = _jobs(spark)
    mm = eng.min_max_wheels["value"]
    assert not eng._base_pending and eng._min_max_pending == ()
    # the build's own wheel, shared — listed under both roles, counted once
    assert mm is eng.agg_wheels[("value", STAR_AGGREGATION_ALIAS)]
    kinds = {(d["kind"], d["column"]) for d in eng.list_indexes()}
    assert {("min_max", "value"), ("agg", "value")} <= kinds
    assert eng.index_usage_bytes() == sum(
        w.size_bytes() for w in (eng.count_wheels[STAR_AGGREGATION_ALIAS], mm)
    )
    rows = eng.sql_rows(
        "SELECT * FROM lzb_events3c WHERE ts >= '2024-01-03 00:00:00' "
        "AND ts < '2024-01-10 00:00:00' AND value > 1000000000.0"
    )
    assert eng.last_route.kind == "prune_minmax" and rows == []
    assert _jobs(spark) == j0  # no further job: nothing was pending
    solo = WheelEngine(
        spark, "lzb_events3d", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    solo.build_min_max_index("value")
    ref = solo.min_max_wheels["value"]
    assert np.array_equal(mm.secs, ref.secs)
    assert np.array_equal(mm.min_, ref.min_)
    assert np.array_equal(mm.max_, ref.max_)
    assert np.array_equal(mm.at_min_, ref.at_min_)
    assert np.array_equal(mm.at_max_, ref.at_max_)
    assert (mm.min_ts_us, mm.max_ts_us) == (ref.min_ts_us, ref.max_ts_us)
    for a, b in (("2024-01-03 00:00:00", "2024-01-10 00:00:00"),
                 ("2024-01-05 06:00:00", "2024-01-05 07:00:00")):
        sa, sb = (
            int(datetime.fromisoformat(x).replace(tzinfo=timezone.utc).timestamp())
            for x in (a, b)
        )
        assert mm.min_max_range(sa, sb) == ref.min_max_range(sa, sb)


def test_ctor_only_engine_first_prune_materializes(spark, sf_small_dir):
    eng = _minmax_engine(spark, sf_small_dir, "lzb_events3e")
    rng = "ts >= '2024-01-03 00:00:00' AND ts < '2024-01-10 00:00:00'"
    for pred, kind in (("value > 1000000000.0", "prune_minmax"),
                       ("value > 50.0", "delegate")):
        q = f"SELECT * FROM lzb_events3e WHERE {rng} AND {pred}"
        got = eng.sql_rows(q)
        assert eng.last_route.kind == kind
        assert sorted(got) == sorted(spark.sql(q).collect())
    # materialized in ONE pass exactly as the eager ctor built it:
    # min/max states only, the count wheel from the same pass
    assert not eng._base_pending and eng._min_max_pending == ()
    mm = eng.min_max_wheels["value"]
    assert mm.sum_ is None and mm.sumsq_ is None
    assert mm.min_ is not None and mm.max_ is not None
    assert eng.last_build["rollup_rows"] == mm.secs.size


def test_subset_build_without_minmax_leaves_pruning_pending(spark, sf_small_dir):
    eng = _minmax_engine(spark, sf_small_dir, "lzb_events3f")
    eng.build_index("value", aggs=("sum",))
    # the count wheel is seeded; the pruning wheel needs states this pass
    # did not compute, so it stays owed
    assert not eng._base_pending and eng._min_max_pending == ("value",)
    assert eng.explain_route(
        "SELECT * FROM lzb_events3f WHERE ts >= '2024-01-03 00:00:00' "
        "AND ts < '2024-01-10 00:00:00' AND value > 1000000000.0"
    ).kind == "prune_minmax"
    mm = eng.min_max_wheels["value"]
    assert mm is not eng.agg_wheels[("value", STAR_AGGREGATION_ALIAS)]
    assert mm.sum_ is None


def test_partitioned_build_seeds_only_the_base(spark, sf_small_dir):
    """The partitioned build's star wheels fold per-key states on the
    driver, where MAX skips NaN but Spark's MAX returns it: they seed the
    base COUNT wheel, never a pruning wheel."""
    eng = _minmax_engine(spark, sf_small_dir, "lzb_events3g")
    eng.build_partitioned_index("value", partition_by="event_type")
    assert not eng._base_pending and eng._min_max_pending == ("value",)
    assert eng.explain_route(
        "SELECT * FROM lzb_events3g WHERE ts >= '2024-01-03 00:00:00' "
        "AND ts < '2024-01-10 00:00:00' AND value > 1000000000.0"
    ).kind == "prune_minmax"
    assert eng.min_max_wheels["value"].sum_ is None


def test_last_build_is_per_engine(spark, sf_small_dir):
    a = WheelEngine(
        spark, "lzb_events3h", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    b = WheelEngine(
        spark, "lzb_events3i", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    assert a.last_build == {} and b.last_build == {}
    a.build_index("value")
    assert set(a.last_build) == {
        "scan_rollup_collect_s", "mirror_construct_s", "rollup_rows",
        "mirror_steps",
    }
    assert a.last_build["rollup_rows"] == a.count_wheels[STAR_AGGREGATION_ALIAS].secs.size
    assert b.last_build == {}  # another engine's build is not this one's


def test_filtered_build_on_deferred_engine_materializes_base(spark, sf_small_dir):
    eng = WheelEngine(
        spark, "lzb_events4", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    eng.build_index("value", filter="event_type = 'click'")
    # the keyed build widened its span against the (now materialized) base
    assert not eng._base_pending
    assert STAR_AGGREGATION_ALIAS in eng.count_wheels
    rows = eng.sql_rows(
        "SELECT COUNT(*) AS n FROM lzb_events4 WHERE event_type = 'click' "
        "AND ts >= '2024-01-03 00:00:00' AND ts < '2024-01-05 00:00:00'"
    )
    assert eng.last_route.kind == "count_range"
    want = (
        spark.read.parquet(f"{sf_small_dir}/events.parquet")
        .filter(
            "event_type = 'click' AND ts >= '2024-01-03 00:00:00' "
            "AND ts < '2024-01-05 00:00:00'"
        )
        .count()
    )
    assert rows[0][0] == want


def test_introspection_and_persistence_materialize(spark, sf_small_dir, tmp_path):
    eng = WheelEngine(
        spark, "lzb_events5", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    assert eng.index_usage_bytes() > 0  # reader guard materialized the base
    assert not eng._base_pending
    eng2 = WheelEngine(
        spark, "lzb_events6", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    out = str(tmp_path / "idx")
    eng2.save_indexes(out)
    eng3 = WheelEngine(
        spark,
        "lzb_events7",
        f"{sf_small_dir}/events.parquet",
        time_column="ts",
        load_indexes=out,
    )
    assert STAR_AGGREGATION_ALIAS in eng3.count_wheels


def test_restricted_first_build_does_not_clobber_deferred_base(
    spark, sf_small_dir
):
    """A time_range-restricted unfiltered build on a deferred-base engine
    must NOT install its span-restricted count wheel as the STAR base (in
    the eager-ctor era the base already existed and the setdefault was a
    no-op); full-span COUNTs must still answer from the true full base."""
    eng = WheelEngine(
        spark, "lzb_events9", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    eng.build_index(
        "value",
        time_range=("2024-01-03 00:00:00", "2024-01-05 00:00:00"),
    )
    # the restricted build neither seeds nor occupies the base slot
    assert eng._base_pending
    assert STAR_AGGREGATION_ALIAS not in eng.count_wheels
    rows = eng.sql_rows(
        "SELECT COUNT(*) AS n FROM lzb_events9 "
        "WHERE ts >= '2024-01-01 00:00:00' AND ts < '2024-02-01 00:00:00'"
    )
    # the lazily materialized base is COMPLETE: the wide ask routes and
    # matches the raw table
    assert eng.last_route.kind == "count_range"
    assert not eng._base_pending
    base = eng.count_wheels[STAR_AGGREGATION_ALIAS]
    assert base.complete
    want = (
        spark.read.parquet(f"{sf_small_dir}/events.parquet")
        .filter("ts >= '2024-01-01 00:00:00' AND ts < '2024-02-01 00:00:00'")
        .count()
    )
    assert rows[0][0] == want


def test_restricted_build_after_seed_keeps_full_base(spark, sf_small_dir):
    """Inverse order: once the base is seeded by an unrestricted build, a
    later restricted build must leave it untouched (the pre-r14 setdefault
    semantics)."""
    eng = WheelEngine(
        spark, "lzb_events10", f"{sf_small_dir}/events.parquet",
        time_column="ts",
    )
    eng.build_index("value")
    base = eng.count_wheels[STAR_AGGREGATION_ALIAS]
    eng.build_index(
        "value",
        time_range=("2024-01-03 00:00:00", "2024-01-05 00:00:00"),
    )
    assert eng.count_wheels[STAR_AGGREGATION_ALIAS] is base
    assert base.complete


def test_streaming_merge_materializes_before_merge(spark, sf_small_dir):
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    eng = WheelEngine(
        spark, "lzb_events8", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    m = StreamingWheelMaintainer(eng)
    batch = spark.read.parquet(f"{sf_small_dir}/events.parquet").limit(10)
    m.merge_batch(batch)
    # base existed BEFORE the merge: it saw the batch and was not rebuilt
    # later from the parquet alone
    assert not eng._base_pending
    assert STAR_AGGREGATION_ALIAS in eng.count_wheels


def test_index_management(spark, minimal_agg):
    eng = WheelEngine(spark, "mgmt_tbl", minimal_agg, time_column="timestamp",
                      min_max_columns=("agg_col",))
    eng.build_index("agg_col")
    eng.build_index("agg_col", filter="agg_col >= 5.0")
    meta = eng.list_indexes()
    assert {m["kind"] for m in meta} == {"count", "min_max", "agg"}
    assert any(m["filter"] == "agg_col >= 5.0" for m in meta)
    assert all(m["size_bytes"] >= 0 for m in meta)

    epoch = eng.index_epoch
    assert eng.drop_index("agg_col", filter="agg_col >= 5.0")
    assert eng.index_epoch == epoch + 1
    assert not eng.drop_index("agg_col", filter="agg_col >= 5.0")  # already gone
    sql = "SELECT SUM(agg_col) AS s FROM mgmt_tbl WHERE timestamp >= '2024-05-10 00:00:00' AND timestamp < '2024-05-10 00:00:10' AND agg_col >= 5.0"
    assert eng.explain_route(sql).kind == "delegate"  # keyed wheel dropped

"""HLL distinct-count rollup: estimates vs exact COUNT(DISTINCT), range
composition, and the probe-never-scans discipline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_uwheel_spark import WheelEngine
from datafusion_uwheel_spark.operators.distinct import build_distinct_rollup
from datafusion_uwheel_spark.sources import read_parquet

A, B = "2024-01-05 00:00:00", "2024-01-12 00:00:00"


@pytest.fixture(scope="module")
def events(spark, sf_small_dir):
    return read_parquet(spark, f"{sf_small_dir}/events.parquet")


@pytest.fixture(scope="module")
def rollup(events):
    r = build_distinct_rollup(events, "ts", "user_id", bucket_seconds=3600)
    yield r
    r.unpersist()


def exact(spark, events, a, b):
    return (
        events.filter(f"ts >= '{a}' AND ts < '{b}'")
        .select("user_id")
        .distinct()
        .count()
    )


def test_estimate_within_hll_error(spark, events, rollup):
    est = rollup.approx_distinct(A, B)
    truth = exact(spark, events, A, B)
    assert truth > 0
    assert abs(est - truth) / truth < 0.05  # lgK=12 → ~1.6% typical


def test_empty_range_is_zero(rollup):
    assert rollup.approx_distinct("2030-01-01 00:00:00", "2030-01-02 00:00:00") == 0


def test_merged_sketch_composes_across_ranges(spark, events, rollup):
    """Union of two half-range sketches must estimate the full range —
    the mergeable-monoid property that makes this a wheel state."""
    from pyspark.sql import functions as F

    mid = "2024-01-08 00:00:00"
    s1 = rollup.merged_sketch(A, mid)
    s2 = rollup.merged_sketch(mid, B)
    merged_est = (
        spark.createDataFrame([(s1,), (s2,)], "sk binary")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e"))
        .collect()[0]["e"]
    )
    assert merged_est == rollup.approx_distinct(A, B)


def test_unaligned_start_includes_leading_partial_bucket(spark, events, rollup):
    """An unaligned range start must include the leading partially-covered
    bucket whole (superset semantics) — never silently drop it and
    undercount. With 3600 s buckets, starting mid-bucket must give the
    same estimate as starting at the bucket boundary."""
    unaligned = "2024-01-05 00:30:00"  # mid-bucket for bucket_seconds=3600
    aligned = "2024-01-05 00:00:00"
    assert rollup.approx_distinct(unaligned, B) == rollup.approx_distinct(aligned, B)


def test_engine_no_rollup_raises_keyerror(spark, events):
    """approx_distinct on an engine that never built a distinct index must
    raise the documented KeyError, not AttributeError."""
    eng = WheelEngine(spark, "ev_no_rollup", events, time_column="ts")
    with pytest.raises(KeyError):
        eng.approx_distinct("user_id", A, B)


def test_engine_facade(spark, sf_small_dir, events):
    eng = WheelEngine(
        spark, "ev_distinct", events, time_column="ts"
    )
    eng.build_distinct_index("user_id")
    est = eng.approx_distinct("user_id", A, B)
    truth = exact(spark, events, A, B)
    assert abs(est - truth) / truth < 0.05
    with pytest.raises(KeyError):
        eng.approx_distinct("value", A, B)  # approximate answers are opt-in
    eng.distinct_rollups["user_id"].unpersist()


def test_save_load_round_trip(spark, events, rollup, tmp_path):
    """Persisted sketch table → reload → identical estimates (the sketches
    ARE the state; before r4 the rollup was cache-only and a restart lost
    it)."""
    from datafusion_uwheel_spark.operators.distinct import load_distinct_rollup

    path = str(tmp_path / "distinct_rollup")
    rollup.save(path)
    fresh = load_distinct_rollup(spark, path)
    assert fresh.bucket_seconds == rollup.bucket_seconds
    assert fresh.lg_k == rollup.lg_k
    assert fresh.column == rollup.column
    assert fresh.approx_distinct(A, B) == rollup.approx_distinct(A, B)
    mid = "2024-01-08 00:00:00"
    assert fresh.approx_distinct(A, mid) == rollup.approx_distinct(A, mid)
    fresh.unpersist()


def test_engine_save_load_includes_distinct(spark, events, tmp_path):
    eng = WheelEngine(spark, "ev_dsave", events, time_column="ts")
    eng.build_index("value")
    eng.build_distinct_index("user_id")
    want = eng.approx_distinct("user_id", A, B)
    out = str(tmp_path / "idx")
    eng.save_indexes(out)
    eng2 = WheelEngine(
        spark, "ev_dsave2", events, time_column="ts", load_indexes=out
    )
    assert eng2.approx_distinct("user_id", A, B) == want
    # wheels survive alongside (routed query still answers)
    sql = f"SELECT SUM(value) AS s FROM ev_dsave2 WHERE ts >= '{A}' AND ts < '{B}'"
    assert eng2.explain_route(sql).kind == "single_agg"
    eng.distinct_rollups["user_id"].unpersist()
    eng2.distinct_rollups["user_id"].unpersist()


def test_streamed_merges_equal_fresh_batch_build(spark, events):
    """Micro-batch merges ≡ fresh batch build over the union — sketches are
    mergeable monoids (the wheel maintainers' correctness model applied to
    the HLL rollup)."""
    halves = [
        events.filter("ts < '2024-01-15 00:00:00'"),
        events.filter(
            "ts >= '2024-01-15 00:00:00' AND ts < '2024-01-22 00:00:00'"
        ),
        events.filter("ts >= '2024-01-22 00:00:00'"),  # late-ish tail batch
    ]
    r = build_distinct_rollup(halves[0], "ts", "user_id", bucket_seconds=3600)
    for batch in halves[1:]:
        r.merge_batch(batch, "ts")
    full = build_distinct_rollup(events, "ts", "user_id", bucket_seconds=3600)
    span = ("2024-01-01 00:00:00", "2024-01-31 00:00:00")
    assert r.approx_distinct(*span) == full.approx_distinct(*span)
    assert r.approx_distinct(A, B) == full.approx_distinct(A, B)
    r.unpersist()
    full.unpersist()


def test_wheel_maintainer_drives_distinct_rollup(spark, events):
    """StreamingWheelMaintainer.merge_batch also maintains the engine's
    distinct rollups, so one foreachBatch hook keeps both index families
    fresh."""
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    old = events.filter("ts < '2024-01-15 00:00:00'")
    new = events.filter("ts >= '2024-01-15 00:00:00'")
    eng = WheelEngine(spark, "ev_dmaint", old, time_column="ts")
    eng.build_index("value")
    eng.build_distinct_index("user_id")
    StreamingWheelMaintainer(eng).merge_batch(new)
    full = build_distinct_rollup(events, "ts", "user_id", bucket_seconds=3600)
    span = ("2024-01-01 00:00:00", "2024-01-31 00:00:00")
    assert eng.approx_distinct("user_id", *span) == full.approx_distinct(*span)
    full.unpersist()
    eng.distinct_rollups["user_id"].unpersist()


def test_keyed_rollup_per_key_distincts(spark, events):
    """partition_by=event_type → distinct users per segment from ONE build;
    the unkeyed ask still answers by idempotent union across keys."""
    r = build_distinct_rollup(
        events, "ts", "user_id", bucket_seconds=3600, partition_by="event_type"
    )
    got = {
        row["event_type"]: row["approx_distinct"]
        for row in r.approx_distinct_by_key(A, B).collect()
    }
    exact_rows = (
        events.filter(f"ts >= '{A}' AND ts < '{B}'")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    )
    assert len(got) == len(exact_rows) > 1
    for row in exact_rows:
        est = got[row["event_type"]]
        assert abs(est - row["n"]) <= max(2, 0.05 * row["n"]), (row, est)
    some_key = exact_rows[0]["event_type"]
    one = r.approx_distinct(A, B, key=some_key)
    assert abs(one - exact_rows[0]["n"]) <= max(2, 0.05 * exact_rows[0]["n"])
    # unkeyed union across keys must NOT double-count shared users
    est = r.approx_distinct(A, B)
    truth = exact(spark, events, A, B)
    assert abs(est - truth) / truth < 0.05
    assert r.approx_distinct(A, B, key="no_such_key") == 0
    with pytest.raises(ValueError, match="partition column"):
        r.merge_batch(events.select("ts", "user_id"), "ts")
    r.unpersist()


def test_one_pass_multi_column_build(spark, events):
    from datafusion_uwheel_spark.operators.multibuild import build_sketch_rollups

    rollups = build_sketch_rollups(
        events, "ts", distinct=["user_id", "event_type"]
    )["distinct"]
    assert set(rollups) == {"user_id", "event_type"}
    est = rollups["user_id"].approx_distinct(A, B)
    truth = exact(spark, events, A, B)
    assert abs(est - truth) / truth < 0.05
    et = rollups["event_type"].approx_distinct(A, B)
    true_et = (
        events.filter(f"ts >= '{A}' AND ts < '{B}'")
        .select("event_type").distinct().count()
    )
    assert abs(et - true_et) <= max(1, 0.05 * true_et)
    rollups["user_id"].unpersist()
    rollups["event_type"].unpersist()


def test_one_pass_cache_lifecycle_with_merge(spark, events):
    """Mirror of the quantile lifecycle pin: merge_batch detaches the
    handle from the shared one-pass parent without leaking the merged
    frame; the parent lives until the last sibling unpersists."""
    from datafusion_uwheel_spark.operators.multibuild import build_sketch_rollups

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_cached()
    rollups = build_sketch_rollups(
        events, "ts", distinct=["user_id", "event_type"]
    )["distinct"]
    assert n_cached() == base + 1
    rollups["user_id"].merge_batch(events.limit(500), "ts")
    assert n_cached() == base + 2
    rollups["user_id"].merge_batch(events.limit(100), "ts")
    assert n_cached() == base + 2
    assert rollups["event_type"].approx_distinct(A, B) > 0
    rollups["user_id"].unpersist()
    assert n_cached() == base + 1
    rollups["event_type"].unpersist()
    assert n_cached() == base


def test_group_by_estimates_within_error(spark, events, rollup):
    # daily COUNT(DISTINCT user_id) from hourly sketches vs the exact scan
    got = {
        r["bucket"]: r["approx_distinct"]
        for r in rollup.approx_distinct_by("day", A, B).collect()
    }
    exact_rows = (
        events.filter(f"ts >= '{A}' AND ts < '{B}'")
        .groupBy(F.date_trunc("day", "ts").alias("bucket"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    )
    assert len(got) == len(exact_rows) > 0
    for r in exact_rows:
        est = got[r["bucket"]]
        assert abs(est - r["n"]) <= max(2, 0.05 * r["n"]), (r["bucket"], est, r["n"])


def test_group_by_tumbling_width(spark, events, rollup):
    # 6-hour epoch-aligned windows; widths the buckets can't tile raise
    got = rollup.approx_distinct_by(6 * 3600, A, B).collect()
    assert len(got) == 28  # 7 days x 4 windows
    secs = [r["bucket"].timestamp() for r in got]
    assert all(s % (6 * 3600) == 0 for s in secs)
    with pytest.raises(ValueError, match="not tiled"):
        rollup.approx_distinct_by(5400)


def test_group_by_engine_facade(spark, events):
    from datafusion_uwheel_spark import WheelEngine

    eng = WheelEngine(spark, "ev_adby", events, time_column="ts")
    eng.build_distinct_index("user_id")
    df = eng.approx_distinct_by("user_id", "week")
    rows = df.collect()
    assert rows and all(r["approx_distinct"] > 0 for r in rows)
    # unrestricted group-by covers the whole indexed span
    total = eng.approx_distinct("user_id", "2024-01-01 00:00:00", "2024-02-01 00:00:00")
    assert max(r["approx_distinct"] for r in rows) <= total

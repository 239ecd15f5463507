"""KLL quantile rollup: rank-bound accuracy vs exact percentiles, range
composition, streaming maintenance, persistence, and the opt-in facade."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_uwheel_spark import WheelEngine
from datafusion_uwheel_spark.operators.quantiles import (
    build_quantile_rollup,
    load_quantile_rollup,
)
from datafusion_uwheel_spark.sources import read_parquet

A, B = "2024-01-05 00:00:00", "2024-01-12 00:00:00"
# KLL k=200 guarantees ~1.65% two-sided rank error (99% conf.); we assert
# the returned value's true rank lands within ±EPS of the asked rank by
# bracketing with exact percentiles at q ∓ EPS.
EPS = 0.04


@pytest.fixture(scope="module")
def events(spark, sf_small_dir):
    return read_parquet(spark, f"{sf_small_dir}/events.parquet")


@pytest.fixture(scope="module")
def rollup(events):
    r = build_quantile_rollup(events, "ts", "value", bucket_seconds=3600)
    yield r
    r.unpersist()


def exact_percentile(events, col, q, a=A, b=B):
    return (
        events.filter(f"ts >= '{a}' AND ts < '{b}'")
        .agg(F.expr(f"percentile({col}, {q})").alias("p"))
        .collect()[0]["p"]
    )


def assert_rank_bracket(events, col, q, got, a=A, b=B):
    lo = exact_percentile(events, col, max(0.0, q - EPS), a, b)
    hi = exact_percentile(events, col, min(1.0, q + EPS), a, b)
    assert lo <= got <= hi, (q, lo, got, hi)


def test_estimates_within_rank_bound(events, rollup):
    for q in (0.1, 0.5, 0.9, 0.99):
        assert_rank_bracket(events, "value", q, rollup.approx_quantile(q, A, B))


def test_multi_rank_single_merge(events, rollup):
    qs = [0.25, 0.5, 0.75]
    got = rollup.approx_quantile(qs, A, B)
    assert isinstance(got, list) and len(got) == 3
    assert got == sorted(got)  # quantiles of one sketch are monotone
    for q, v in zip(qs, got):
        assert_rank_bracket(events, "value", q, v)


def test_empty_range_returns_none(rollup):
    assert rollup.approx_quantile(0.5, "2030-01-01 00:00:00", "2030-01-02 00:00:00") is None
    assert rollup.approx_quantile([0.5, 0.9], "2030-01-01", "2030-01-02") == [None, None]
    assert rollup.approx_rank(1.0, "2030-01-01", "2030-01-02") is None


def test_invalid_rank_raises(rollup):
    with pytest.raises(ValueError, match="outside"):
        rollup.approx_quantile(1.5, A, B)


def test_rank_is_inverse_of_quantile(rollup):
    med = rollup.approx_quantile(0.5, A, B)
    r = rollup.approx_rank(med, A, B)
    assert abs(r - 0.5) < 2 * EPS, (med, r)


def test_bigint_column_keeps_exact_int_values(events):
    """Integral columns dispatch to the bigint sketch family — estimates
    are actual int64 data values, not interpolated doubles (the engine's
    exact-integral-state discipline applied to sketches)."""
    r = build_quantile_rollup(events, "ts", "user_id", bucket_seconds=3600)
    got = r.approx_quantile(0.5, A, B)
    assert isinstance(got, int)
    lo = exact_percentile(events, "user_id", 0.5 - EPS)
    hi = exact_percentile(events, "user_id", 0.5 + EPS)
    assert lo <= got <= hi
    r.unpersist()


def test_unaligned_start_includes_leading_partial_bucket(rollup):
    """Unaligned range starts include the leading partially-covered bucket
    whole (superset semantics) — same discipline as the HLL rollup.
    Asserted on the selected bucket SET (deterministic), not on two merge
    results: KLL merge compaction is randomized, so two merges of the same
    buckets may return adjacent data values."""
    unaligned = "2024-01-05 00:30:00"  # mid-bucket for bucket_seconds=3600
    aligned = "2024-01-05 00:00:00"
    pick = lambda a: sorted(
        r["__sec"]
        for r in rollup._df.filter(rollup._range_filter(a, B)).select("__sec").collect()
    )
    got = pick(unaligned)
    assert got == pick(aligned)
    assert min(got) == 1704412800  # 2024-01-05 00:00 UTC — leading bucket kept


def test_group_by_day_within_rank_bound(events, rollup):
    got = {
        r["bucket"]: r["approx_quantile"]
        for r in rollup.approx_quantile_by("day", 0.5, A, B).collect()
    }
    exact_rows = (
        events.filter(f"ts >= '{A}' AND ts < '{B}'")
        .groupBy(F.date_trunc("day", "ts").alias("bucket"))
        .agg(
            F.expr(f"percentile(value, {0.5 - EPS})").alias("lo"),
            F.expr(f"percentile(value, {0.5 + EPS})").alias("hi"),
        )
        .collect()
    )
    assert len(got) == len(exact_rows) > 0
    for r in exact_rows:
        est = got[r["bucket"]]
        assert r["lo"] <= est <= r["hi"], (r["bucket"], r["lo"], est, r["hi"])


def test_group_by_multi_rank_columns(rollup):
    df = rollup.approx_quantile_by("day", [0.5, 0.95], A, B)
    assert df.columns == ["bucket", "approx_quantile_0", "approx_quantile_1"]
    rows = df.collect()
    assert rows and all(
        r["approx_quantile_0"] <= r["approx_quantile_1"] for r in rows
    )


def test_group_by_tumbling_width(rollup):
    got = rollup.approx_quantile_by(6 * 3600, 0.5, A, B).collect()
    assert len(got) == 28  # 7 days x 4 windows
    secs = [r["bucket"].timestamp() for r in got]
    assert all(s % (6 * 3600) == 0 for s in secs)
    with pytest.raises(ValueError, match="not tiled"):
        rollup.approx_quantile_by(5400, 0.5)


def test_engine_facade_and_opt_in(spark, events):
    eng = WheelEngine(spark, "ev_quant", events, time_column="ts")
    with pytest.raises(KeyError):
        eng.approx_quantile("value", 0.5, A, B)  # opt-in, never silent
    eng.build_quantile_index("value")
    got = eng.approx_quantile("value", 0.5, A, B)
    assert_rank_bracket(events, "value", 0.5, got)
    assert abs(eng.approx_rank("value", got, A, B) - 0.5) < 2 * EPS
    rows = eng.approx_quantile_by("value", "week", 0.9).collect()
    assert rows and all(r["approx_quantile"] is not None for r in rows)
    with pytest.raises(KeyError):
        eng.approx_quantile("user_id", 0.5, A, B)
    eng.quantile_rollups["value"].unpersist()


def test_save_load_round_trip(spark, events, rollup, tmp_path):
    """Persisted sketch table → reload → same rank-error contract (the
    sketch bytes ARE the state, but the query-time MERGE of bucket sketches
    is randomized KLL compaction, so repeated merges may return adjacent
    data values — equality holds at the rank bound, not the byte)."""
    path = str(tmp_path / "quantile_rollup")
    rollup.save(path)
    fresh = load_quantile_rollup(spark, path)
    assert (fresh.bucket_seconds, fresh.k, fresh.suffix, fresh.column) == (
        rollup.bucket_seconds,
        rollup.k,
        rollup.suffix,
        rollup.column,
    )
    for q in (0.5, 0.99):
        assert_rank_bracket(events, "value", q, fresh.approx_quantile(q, A, B))
    fresh.unpersist()


def test_engine_save_load_includes_quantiles(spark, events, tmp_path):
    eng = WheelEngine(spark, "ev_qsave", events, time_column="ts")
    eng.build_index("value")
    eng.build_quantile_index("value")
    out = str(tmp_path / "idx")
    eng.save_indexes(out)
    eng2 = WheelEngine(
        spark, "ev_qsave2", events, time_column="ts", load_indexes=out
    )
    assert_rank_bracket(events, "value", 0.5, eng2.approx_quantile("value", 0.5, A, B))
    # wheels survive alongside (routed query still answers)
    sql = f"SELECT SUM(value) AS s FROM ev_qsave2 WHERE ts >= '{A}' AND ts < '{B}'"
    assert eng2.explain_route(sql).kind == "single_agg"
    eng.quantile_rollups["value"].unpersist()
    eng2.quantile_rollups["value"].unpersist()


def test_streamed_merges_within_rank_bound(events):
    """Micro-batch merges answer like a fresh batch build: KLL merge is a
    monoid with the same rank-error bound (sketch bytes may differ — KLL
    compaction is randomized — so the contract is the bound, not byte
    equality)."""
    halves = [
        events.filter("ts < '2024-01-15 00:00:00'"),
        events.filter(
            "ts >= '2024-01-15 00:00:00' AND ts < '2024-01-22 00:00:00'"
        ),
        events.filter("ts >= '2024-01-22 00:00:00'"),  # late-ish tail batch
    ]
    r = build_quantile_rollup(halves[0], "ts", "value", bucket_seconds=3600)
    for batch in halves[1:]:
        r.merge_batch(batch, "ts")
    span = ("2024-01-01 00:00:00", "2024-01-31 00:00:00")
    for q in (0.5, 0.9):
        assert_rank_bracket(events, "value", q, r.approx_quantile(q, *span), *span)
    r.unpersist()


def test_keyed_rollup_per_key_quantiles(spark, events):
    """partition_by=event_type → per-key percentiles from ONE build; the
    unkeyed ask still answers by merging across keys."""
    r = build_quantile_rollup(
        events, "ts", "value", bucket_seconds=3600, partition_by="event_type"
    )
    got = {
        row["event_type"]: row["approx_quantile"]
        for row in r.approx_quantile_by_key(0.5, A, B).collect()
    }
    exact_rows = (
        events.filter(f"ts >= '{A}' AND ts < '{B}'")
        .groupBy("event_type")
        .agg(
            F.expr(f"percentile(value, {0.5 - EPS})").alias("lo"),
            F.expr(f"percentile(value, {0.5 + EPS})").alias("hi"),
        )
        .collect()
    )
    assert len(got) == len(exact_rows) > 1
    for row in exact_rows:
        est = got[row["event_type"]]
        assert row["lo"] <= est <= row["hi"], (row["event_type"], est)
    # key= restriction matches the by_key row's partition
    some_key = exact_rows[0]["event_type"]
    one = r.approx_quantile(0.5, A, B, key=some_key)
    lo, hi = exact_rows[0]["lo"], exact_rows[0]["hi"]
    assert lo <= one <= hi
    # unkeyed ask on the keyed rollup: merged across keys, same bound
    assert_rank_bracket(events, "value", 0.5, r.approx_quantile(0.5, A, B))
    # unknown key → empty partition → None
    assert r.approx_quantile(0.5, A, B, key="no_such_key") is None
    r.unpersist()


def test_keyed_rollup_round_trip_and_merge(spark, events, tmp_path):
    from datafusion_uwheel_spark.operators.quantiles import load_quantile_rollup

    halves = [
        events.filter("ts < '2024-01-15 00:00:00'"),
        events.filter("ts >= '2024-01-15 00:00:00'"),
    ]
    r = build_quantile_rollup(
        halves[0], "ts", "value", partition_by="event_type"
    )
    r.merge_batch(halves[1], "ts")
    span = ("2024-01-01 00:00:00", "2024-01-31 00:00:00")
    keys = [x["event_type"] for x in events.select("event_type").distinct().collect()]
    per_key = {
        row["event_type"]: row["approx_quantile"]
        for row in r.approx_quantile_by_key(0.9, *span).collect()
    }
    assert set(per_key) == set(keys)
    path = str(tmp_path / "keyed_quantiles")
    r.save(path)
    fresh = load_quantile_rollup(spark, path)
    assert fresh.key_column == "event_type"
    assert set(
        row["event_type"]
        for row in fresh.approx_quantile_by_key(0.9, *span).collect()
    ) == set(keys)
    # a batch without the key column cannot maintain a keyed rollup
    with pytest.raises(ValueError, match="partition column"):
        fresh.merge_batch(events.select("ts", "value"), "ts")
    fresh.unpersist()
    r.unpersist()


def test_one_pass_multi_column_build(spark, events):
    """build_sketch_rollups: N columns from ONE scan — per-column handles
    answer within the same rank bound as individual builds, bigint dispatch
    preserved per column."""
    from datafusion_uwheel_spark.operators.multibuild import build_sketch_rollups

    rollups = build_sketch_rollups(events, "ts", quantile=["value", "user_id"])["quantile"]
    assert set(rollups) == {"value", "user_id"}
    assert rollups["value"].suffix == "double"
    assert rollups["user_id"].suffix == "bigint"
    assert_rank_bracket(events, "value", 0.5, rollups["value"].approx_quantile(0.5, A, B))
    got = rollups["user_id"].approx_quantile(0.9, A, B)
    assert isinstance(got, int)
    lo = exact_percentile(events, "user_id", 0.9 - EPS)
    hi = exact_percentile(events, "user_id", 0.9 + EPS)
    assert lo <= got <= hi
    rollups["value"].unpersist()
    rollups["user_id"].unpersist()


def test_one_pass_cache_lifecycle_with_merge(spark, events):
    """The ADVICE-flagged leak: merge_batch on a one-pass handle must hand
    it a private frame (releasing its shared-parent claim), later merges
    must release exactly the replaced frame, and the shared parent must
    survive until the LAST sibling lets go — ending with nothing cached."""
    from datafusion_uwheel_spark.operators.multibuild import build_sketch_rollups

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_cached()
    rollups = build_sketch_rollups(events, "ts", quantile=["value", "user_id"])["quantile"]
    assert n_cached() == base + 1  # ONE shared parent for both handles
    rollups["value"].merge_batch(events.limit(500), "ts")
    # merged handle owns a private frame; the parent survives for the
    # sibling (the old code leaked the merged frame and let any handle's
    # unpersist yank the sibling's cache)
    assert n_cached() == base + 2
    rollups["value"].merge_batch(events.limit(100), "ts")
    assert n_cached() == base + 2  # replaced private frame was released
    assert isinstance(rollups["user_id"].approx_quantile(0.5, A, B), int)
    rollups["value"].unpersist()
    assert n_cached() == base + 1  # private frame gone, parent still shared
    rollups["user_id"].unpersist()
    assert n_cached() == base  # last sibling released the parent


def test_engine_one_pass_facade(spark, events):
    eng = WheelEngine(spark, "ev_qmulti", events, time_column="ts")
    eng.build_quantile_indexes(["value", "user_id"])
    assert_rank_bracket(events, "value", 0.5, eng.approx_quantile("value", 0.5, A, B))
    assert isinstance(eng.approx_quantile("user_id", 0.5, A, B), int)
    eng.quantile_rollups["value"].unpersist()


def test_unkeyed_rollup_rejects_key_asks(rollup):
    with pytest.raises(ValueError, match="partition_by"):
        rollup.approx_quantile(0.5, A, B, key="click")
    with pytest.raises(ValueError, match="partition_by"):
        rollup.approx_quantile_by_key(0.5)


def test_wheel_maintainer_drives_quantile_rollup(spark, events):
    """One foreachBatch hook keeps wheels + HLL + KLL rollups fresh."""
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    old = events.filter("ts < '2024-01-15 00:00:00'")
    new = events.filter("ts >= '2024-01-15 00:00:00'")
    eng = WheelEngine(spark, "ev_qmaint", old, time_column="ts")
    eng.build_index("value")
    eng.build_quantile_index("value")
    StreamingWheelMaintainer(eng).merge_batch(new)
    span = ("2024-01-01 00:00:00", "2024-01-31 00:00:00")
    got = eng.approx_quantile("value", 0.9, *span)
    assert_rank_bracket(events, "value", 0.9, got, *span)
    eng.quantile_rollups["value"].unpersist()

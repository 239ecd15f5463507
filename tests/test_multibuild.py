"""Cross-family one-pass sketch build: answer parity with standalone
builds, the shared-cache refcount discipline, and engine registration."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_uwheel_spark import WheelEngine
from datafusion_uwheel_spark.operators.distinct import build_distinct_rollup
from datafusion_uwheel_spark.operators.multibuild import build_sketch_rollups
from datafusion_uwheel_spark.operators.theta import build_theta_rollup
from datafusion_uwheel_spark.sources import read_parquet

A, B = "2024-01-05 00:00:00", "2024-01-12 00:00:00"
R1 = ("2024-01-02 00:00:00", "2024-01-05 00:00:00")
R2 = ("2024-01-05 00:00:00", "2024-01-08 00:00:00")
EPS = 0.04  # KLL k=200 rank-error bracket, as in test_quantiles


@pytest.fixture(scope="module")
def events(spark, sf_small_dir):
    return read_parquet(spark, f"{sf_small_dir}/events.parquet")


@pytest.fixture(scope="module")
def combined(events):
    out = build_sketch_rollups(
        events, "ts",
        distinct=("user_id",), quantile=("value",), theta=("user_id",),
    )
    yield out
    for fam in out.values():
        for h in fam.values():
            h.unpersist()


def exact_percentile(events, col, q, a=A, b=B):
    return (
        events.filter(f"ts >= '{a}' AND ts < '{b}'")
        .agg(F.expr(f"percentile({col}, {q})").alias("p"))
        .collect()[0]["p"]
    )


def test_hll_estimates_equal_standalone_build(events, combined):
    """HLL register state is order-independent — the one-pass build's
    estimates must EQUAL a standalone build's, not merely approximate."""
    solo = build_distinct_rollup(events, "ts", "user_id", bucket_seconds=3600)
    try:
        assert combined["distinct"]["user_id"].approx_distinct(A, B) == \
            solo.approx_distinct(A, B)
    finally:
        solo.unpersist()


def test_theta_answers_equal_standalone_build(events, combined):
    """Theta smallest-hash state is order-independent — retained/new/
    jaccard must equal a standalone build's answers."""
    solo = build_theta_rollup(events, "ts", "user_id", bucket_seconds=3600)
    try:
        th = combined["theta"]["user_id"]
        assert th.approx_retained(R1, R2) == solo.approx_retained(R1, R2)
        assert th.approx_new(R1, R2) == solo.approx_new(R1, R2)
    finally:
        solo.unpersist()


def test_kll_estimates_within_rank_bound(events, combined):
    qr = combined["quantile"]["value"]
    for q in (0.1, 0.5, 0.9):
        got = qr.approx_quantile(q, A, B)
        lo = exact_percentile(events, "value", max(0.0, q - EPS))
        hi = exact_percentile(events, "value", min(1.0, q + EPS))
        assert lo <= got <= hi, (q, lo, got, hi)


def test_handles_share_one_cached_frame(combined):
    holders = [
        h._shared
        for fam in combined.values()
        for h in fam.values()
    ]
    assert len(holders) == 3
    assert all(hd is holders[0] for hd in holders)
    assert holders[0]["refs"] == 3


def test_unpersist_releases_only_on_last_detach(events):
    out = build_sketch_rollups(
        events, "ts", distinct=("user_id",), theta=("user_id",),
    )
    dr, th = out["distinct"]["user_id"], out["theta"]["user_id"]
    shared_df = dr._shared["df"]
    dr.unpersist()
    assert dr._shared is None
    # sibling still claims the cache and still answers
    assert shared_df.storageLevel.useMemory or shared_df.storageLevel.useDisk
    assert th.approx_retained(R1, R2) >= 0
    th.unpersist()
    assert not (
        shared_df.storageLevel.useMemory or shared_df.storageLevel.useDisk
    )


def test_theta_merge_batch_detaches_from_shared_cache(spark, events):
    """A streaming merge on a shared theta handle must replace its frame
    PRIVATELY: the sibling keeps the shared cache and its answers, and the
    merged handle folds the batch in."""
    out = build_sketch_rollups(
        events, "ts", distinct=("user_id",), theta=("user_id",),
    )
    dr, th = out["distinct"]["user_id"], out["theta"]["user_id"]
    before_distinct = dr.approx_distinct(A, B)
    batch = events.filter(f"ts >= '{R2[0]}' AND ts < '{R2[1]}'").limit(50)
    th.merge_batch(batch, "ts")
    assert th._shared is None
    assert dr._shared is not None and dr._shared["refs"] == 1
    assert dr.approx_distinct(A, B) == before_distinct
    assert th.approx_retained(R1, R2) >= 0
    th.unpersist()
    dr.unpersist()


def test_empty_request_raises(events):
    with pytest.raises(ValueError):
        build_sketch_rollups(events, "ts")


def test_duplicate_columns_raise(events):
    """A duplicate column would orphan one refcount claim on the shared
    cache (the handles dict is keyed by column) — refuse up front, like
    WheelEngine.build_indexes."""
    with pytest.raises(ValueError, match="duplicate"):
        build_sketch_rollups(events, "ts", distinct=("user_id", "user_id"))
    with pytest.raises(ValueError, match="duplicate"):
        build_sketch_rollups(
            events, "ts", quantile=("value", "VALUE"), theta=("user_id",)
        )


def test_keyed_build_matches_standalone_keyed(events):
    out = build_sketch_rollups(
        events, "ts", distinct=("user_id",), partition_by="event_type",
    )
    dr = out["distinct"]["user_id"]
    solo = build_distinct_rollup(
        events, "ts", "user_id", partition_by="event_type"
    )
    try:
        got = {r["event_type"]: r["approx_distinct"]
               for r in dr.approx_distinct_by_key(A, B).collect()}
        want = {r["event_type"]: r["approx_distinct"]
                for r in solo.approx_distinct_by_key(A, B).collect()}
        assert got and got == want
    finally:
        solo.unpersist()
        dr.unpersist()


def test_engine_registration_serves_all_three_families(spark, sf_small_dir):
    eng = WheelEngine(
        spark, "events_multibuild", f"{sf_small_dir}/events.parquet",
        time_column="ts",
    )
    out = eng.build_sketch_indexes(
        distinct=("user_id",), quantile=("value",), theta=("user_id",),
    )
    try:
        assert eng.approx_distinct("user_id", A, B) == \
            out["distinct"]["user_id"].approx_distinct(A, B)
        assert eng.approx_quantile("value", 0.5, A, B) is not None
        assert eng.approx_retained("user_id", R1, R2) >= 0
    finally:
        for fam in out.values():
            for h in fam.values():
                h.unpersist()


def _jobs(spark):
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


#: each family's sketch column in its handle's view
_COL = {"distinct": "__hll", "quantile": "__kll", "theta": "__theta"}


def _assert_same_mirror(got, want):
    import numpy as np

    assert np.array_equal(got[0], want[0])
    assert got[1] == want[1]  # sketch bytes, byte for byte
    assert got[2] == want[2]


@pytest.mark.parametrize("partition_by", [None, "event_type"])
def test_one_collect_lands_what_bytes_mirror_collects(events, partition_by):
    """The build lands every family's mirror from ONE collect of the
    shared frame; each must equal what the handle's own ``_bytes_mirror``
    collects from its view (same rows, same order, same bytes)."""
    out = build_sketch_rollups(
        events, "ts", distinct=("user_id",), quantile=("value",),
        theta=("user_id",), partition_by=partition_by,
    )
    try:
        for fam, handles in out.items():
            for h in handles.values():
                box = h._mirror_box()
                landed = box["m"]
                assert landed, fam
                box["m"] = None
                _assert_same_mirror(landed, h._bytes_mirror(_COL[fam], box))
    finally:
        for fam in out.values():
            for h in fam.values():
                h.unpersist()


def test_hll_and_theta_mirrors_equal_standalone_builds(events, combined):
    solos = {
        "distinct": build_distinct_rollup(events, "ts", "user_id", bucket_seconds=3600),
        "theta": build_theta_rollup(events, "ts", "user_id", bucket_seconds=3600),
    }
    try:
        for fam, solo in solos.items():
            _assert_same_mirror(
                combined[fam]["user_id"]._mirror_box()["m"],
                solo._bytes_mirror(_COL[fam]),
            )
    finally:
        for solo in solos.values():
            solo.unpersist()


def test_three_family_build_job_ceiling(spark, events):
    """Set-up cost pin: the build is the scan that fills the shared cache
    (a shuffle job and the cache's own job), one action over it that also
    sizes every mirror, and ONE collect landing all three mirrors — no
    sizing job and collect per family. Every direct ask after it is
    zero-job."""
    j0 = _jobs(spark)
    out = build_sketch_rollups(
        events, "ts", distinct=("user_id",), quantile=("value",), theta=("user_id",),
    )
    try:
        assert _jobs(spark) - j0 <= 4
        j1 = _jobs(spark)
        out["distinct"]["user_id"].approx_distinct(A, B)
        out["quantile"]["value"].approx_quantile(0.5, A, B)
        out["theta"]["user_id"].approx_retained(R1, R2)
        assert _jobs(spark) == j1
    finally:
        for fam in out.values():
            for h in fam.values():
                h.unpersist()


def test_over_cap_family_gets_no_mirror(events, monkeypatch):
    """A family over its own mirror cap keeps the job path (``m`` is
    False) while its siblings still land their mirrors; answers hold."""
    from datafusion_uwheel_spark.operators.quantiles import QuantileRollup

    monkeypatch.setattr(QuantileRollup, "_MIRROR_MAX_BYTES", 0)
    out = build_sketch_rollups(
        events, "ts", distinct=("user_id",), quantile=("value",), theta=("user_id",),
    )
    try:
        qr = out["quantile"]["value"]
        assert qr._mirror_box()["m"] is False
        assert out["distinct"]["user_id"]._mirror_box()["m"]
        assert out["theta"]["user_id"]._mirror_box()["m"]
        got = qr.approx_quantile(0.5, A, B)
        lo = exact_percentile(events, "value", 0.5 - EPS)
        hi = exact_percentile(events, "value", 0.5 + EPS)
        assert lo <= got <= hi
    finally:
        for fam in out.values():
            for h in fam.values():
                h.unpersist()


#: one-family engine builds and a direct ask each: (build, ask)
_SINGLE_FAMILY = {
    "theta": (
        lambda e: e.build_theta_index("user_id"),
        lambda e: e.approx_retained("user_id", R1, R2),
    ),
    "distinct": (
        lambda e: e.build_distinct_index("user_id"),
        lambda e: e.approx_distinct("user_id", A, B),
    ),
    "quantile": (
        lambda e: e.build_quantile_index("value"),
        lambda e: e.approx_quantile("value", 0.5, A, B),
    ),
}


@pytest.mark.parametrize("family", sorted(_SINGLE_FAMILY))
def test_single_family_build_job_ceiling(spark, sf_small_dir, family):
    """A one-family build is the shared builder's one-column case: the
    same scan, sizing action and ONE mirror collect as the three-family
    build (≤4 jobs), then zero-job direct asks."""
    build, ask = _SINGLE_FAMILY[family]
    eng = WheelEngine(
        spark, f"events_single_{family}", f"{sf_small_dir}/events.parquet",
        time_column="ts",
    )
    j0 = _jobs(spark)
    r = build(eng)
    try:
        assert _jobs(spark) - j0 <= 4
        j1 = _jobs(spark)
        ask(eng)
        assert _jobs(spark) == j1
    finally:
        r.unpersist()

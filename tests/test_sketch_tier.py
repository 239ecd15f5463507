"""Coarse day-tier pre-merge for grouped direct sketch asks (r12 — the
r11 verdict's grouped-at-scale finding): a FULL-SPAN series ask at
day-or-coarser granularity over a deep mirror answers from per-UTC-day
PRE-MERGED sketches (one ``*MergeGrouped`` py4j call, cached per mirror
box) instead of framing every raw bucket's bytes per ask. The measured
sf1 week series shipped 7.1 MB (7,200 hourly theta sketches) per fresh
ask; the day tier ships ~350 merged sketches.

Contract: (a) tier-served rows EQUAL the raw direct framing — bit-exact
for theta (exact set algebra); for HLL the REGISTER STATE is identical
(union associativity) and the estimate exact-equal in the coupon regime
these fixtures stay in (beyond it, estimator selection is path-dependent
— the same documented bound-based direct-vs-job contract); rank-bounded
for KLL (randomized merge compaction, the documented multi-bucket
contract); (b) warm tier asks launch ZERO Spark jobs;
(c) RESTRICTED asks ride the tier exactly when day-aligned bounds meet
bucket widths that divide a day (then the width-aware edge-sliver
selection provably degenerates to whole-day slicing); unaligned bounds or
non-dividing widths keep the raw framing; (d) sub-day and
non-day-aligned granularities keep the raw framing; (e) count-0 cells
(all-NULL sketch days) keep the job path's NULL algebra through the
tier's raw counts; (f) mutations retire the tier with its mirror box."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from datafusion_uwheel_spark.operators.distinct import build_distinct_rollup
from datafusion_uwheel_spark.operators.quantiles import build_quantile_rollup
from datafusion_uwheel_spark.operators.theta import build_theta_rollup

BASE = datetime(2024, 3, 1)
N_HOURS = 21 * 24  # three weeks of hourly buckets


@pytest.fixture(scope="module")
def events(spark):
    # one row per (hour, j) — uids overlap day-to-day so retention is
    # non-trivial; day 5 carries only NULLs (a count-0 tier cell)
    rows = []
    for h in range(N_HOURS):
        ts = BASE + timedelta(hours=h)
        for j in range(3):
            null_day = (h // 24) == 5
            rows.append(
                (
                    ts,
                    None if null_day else (h * 7 + j * 13) % 97,
                    None if null_day else float((h * 31 + j) % 211),
                    "click" if (h + j) % 3 else "view",
                )
            )
    return spark.createDataFrame(
        rows, "ts timestamp, uid bigint, v double, et string"
    )


def _no_jobs(spark, fn):
    sc = spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    out = fn()
    after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    return out, after == before


def _level_state(rollup, col, cell):
    """The mirror box's cached merged level of ``col`` at ``cell`` (a
    ``Level``, ``False`` for a refused build, None when never tried)."""
    return rollup._mirror_box().get("levels", {}).get((col, cell))


def _tier_state(rollup, col):
    return _level_state(rollup, col, "day")


# ------------------------------------------------------------------ theta
def test_theta_week_series_tier_bit_equal_and_job_free(spark, events):
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._TIER_MIN_ROWS = 10**9  # force RAW framing
        raw = r.retention_rows_by("week")
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0  # force the TIER
        tiered = r.retention_rows_by("week")
        assert tiered == raw  # theta union algebra is exact
        assert _tier_state(r, "__theta") not in (None, False)
        # warm tier ask: zero jobs (tier built above), day + month too
        for gran in ("day", "month", 2 * 86400):
            r.invalidate_asks()
            got, job_free = _no_jobs(
                spark, lambda g=gran: r.retention_rows_by(g)
            )
            assert job_free
            r._TIER_MIN_ROWS = 10**9
            r.invalidate_asks()
            assert got == r.retention_rows_by(gran)
            r._TIER_MIN_ROWS = 0
        # ...and equal the JOB path wholesale
        r._jvm_ops = None
        r.invalidate_asks()
        job = r.retention_rows_by("week")
        del r._jvm_ops
        assert tiered == job
    finally:
        r.unpersist()


def test_theta_null_day_keeps_null_algebra(spark, events):
    """Day 5's all-NULL input yields EMPTY (non-NULL) hourly sketches —
    the tier must reproduce the job path's algebra around it exactly:
    estimate 0 that day, retention 0.0 INTO it, retention NULL OUT of it
    (previous estimate 0 -> the n_prev > 0 arm)."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._jvm_ops = None
        job = r.retention_rows_by("day")
        del r._jvm_ops
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        rows = r.retention_rows_by("day")
        assert rows == job
        by_day = {b.date(): (n, p, ret, f) for b, n, p, ret, f in rows}
        null_day = (BASE + timedelta(days=5)).date()
        assert by_day[null_day][0] == 0  # empty union estimates 0
        assert by_day[null_day][3] == 0.0  # retention INTO the empty day
        after = (BASE + timedelta(days=6)).date()
        assert by_day[after][1:] == (0, 0, None)  # NULL out (n_prev == 0)
    finally:
        r.unpersist()


def test_restricted_and_subday_asks_tier_gating(spark, events):
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._TIER_MIN_ROWS = 0
        # sub-day granularity: ineligible, no tier is built
        r.retention_rows_by("hour")
        assert _tier_state(r, "__theta") is None
        # non-day-aligned int width: ineligible
        r.invalidate_asks()
        r.retention_rows_by(86400 + 3600)
        assert _tier_state(r, "__theta") is None
        # UNALIGNED restricted bound: raw framing (the width-aware sliver
        # rule is not whole-day slicing there), no tier built, job-equal
        r.invalidate_asks()
        got = r.retention_rows_by(
            "day", "2024-03-03 06:00:00", "2024-03-10 00:00:00"
        )
        assert _tier_state(r, "__theta") is None
        r._jvm_ops = None
        r.invalidate_asks()
        assert got == r.retention_rows_by(
            "day", "2024-03-03 06:00:00", "2024-03-10 00:00:00"
        )
        del r._jvm_ops
        r.invalidate_asks()
        # DAY-ALIGNED restricted ask (r12): tier-served — hour buckets
        # divide a day, so edge slivers degenerate to whole-day slicing;
        # one-sided and two-sided forms both equal the job path
        for s, e in [
            ("2024-03-03 00:00:00", "2024-03-10 00:00:00"),
            (None, "2024-03-10 00:00:00"),
            ("2024-03-03 00:00:00", None),
        ]:
            r.invalidate_asks()
            got = r.retention_rows_by("week", s, e)
            assert _tier_state(r, "__theta") not in (None, False)
            r._jvm_ops = None
            r.invalidate_asks()
            assert got == r.retention_rows_by("week", s, e), (s, e)
            del r._jvm_ops
    finally:
        r.unpersist()


def test_day_aligned_restriction_vs_raw_on_compacted_tiers(spark, events):
    """Compaction to a 6h grid (divides a day) keeps the tier eligible;
    compaction to a 2-day grid must force the raw framing back (a 2-day
    bucket crosses ask-day boundaries)."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._TIER_MIN_ROWS = 0
        c1 = int((BASE + timedelta(days=7)).timestamp())
        r.compact_before(c1, 6 * 3600)
        got = r.retention_rows_by(
            "day", "2024-03-02 00:00:00", "2024-03-12 00:00:00"
        )
        assert _tier_state(r, "__theta") not in (None, False)
        r._jvm_ops = None
        r.invalidate_asks()
        assert got == r.retention_rows_by(
            "day", "2024-03-02 00:00:00", "2024-03-12 00:00:00"
        )
        del r._jvm_ops
        r.invalidate_asks()
        # ladder cutoffs are non-decreasing: floor(BASE+8d) on the
        # epoch 2-day grid lands exactly on the 6h tier's end
        c2 = int((BASE + timedelta(days=8)).timestamp())
        r.compact_before(c2, 2 * 86400)
        # 2-day width does not divide a day: restricted asks must refuse
        # the tier (full-span asks still may — assignment-by-start holds)
        got = r.retention_rows_by(
            2 * 86400, "2024-03-01 00:00:00", "2024-03-13 00:00:00"
        )
        assert _tier_state(r, "__theta") is None
        r._jvm_ops = None
        r.invalidate_asks()
        assert got == r.retention_rows_by(
            2 * 86400, "2024-03-01 00:00:00", "2024-03-13 00:00:00"
        )
        del r._jvm_ops
    finally:
        r.unpersist()


def test_mutation_retires_tier(spark, events):
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._TIER_MIN_ROWS = 0
        before = r.retention_rows_by("week")
        assert _tier_state(r, "__theta") is not None
        late = spark.createDataFrame(
            [(BASE + timedelta(days=26, hours=1), 9999)], "ts timestamp, uid bigint"
        )
        r.merge_batch(late, "ts")
        after = r.retention_rows_by("week")
        assert _tier_state(r, "__theta") is not None  # rebuilt in new box
        assert len(after) == len(before) + 1  # the late row adds a week
        r._TIER_MIN_ROWS = 10**9
        r.invalidate_asks()
        assert after == r.retention_rows_by("week")
    finally:
        r.unpersist()


# -------------------------------------------------------------------- HLL
def test_hll_day_series_tier_equals_raw(spark, events):
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._TIER_MIN_ROWS = 10**9
        raw = r.distinct_rows_by("day")
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        tiered, job_free_build = _no_jobs(
            spark, lambda: r.distinct_rows_by("day")
        )
        assert job_free_build  # the pre-merge is a py4j call, not a job
        # identical register state; estimate EXACT-equal because this
        # fixture stays in the coupon regime (~97 distinct/day) — at
        # promoted cardinalities the contract is the documented bound
        assert tiered == raw
        assert _tier_state(r, "__hll") not in (None, False)
        r.invalidate_asks()
        week, job_free = _no_jobs(spark, lambda: r.distinct_rows_by("week"))
        assert job_free
        r._TIER_MIN_ROWS = 10**9
        r.invalidate_asks()
        assert week == r.distinct_rows_by("week")
    finally:
        r.unpersist()


# -------------------------------------------------------------------- KLL
def test_kll_day_series_tier_rank_bounded(spark, events):
    r = build_quantile_rollup(events, "ts", "v", bucket_seconds=3600)
    try:
        r._TIER_MIN_ROWS = 0
        tiered, job_free = _no_jobs(
            spark, lambda: r.quantile_rows_by("day", 0.5)
        )
        assert job_free
        assert _tier_state(r, "__kll") not in (None, False)
        by_day: dict = {}
        for row in events.select("ts", "v").collect():
            if row[1] is not None:
                by_day.setdefault(row[0].date(), []).append(row[1])
        assert len(tiered) == N_HOURS // 24
        for bucket, val in tiered:
            vals = sorted(by_day.get(bucket.date(), []))
            if not vals:
                assert val is None  # the all-NULL day
                continue
            rank = vals.index(val) / len(vals)
            assert abs(rank - 0.5) < 0.06  # ~3x the k=200 bound
    finally:
        r.unpersist()


def test_job_built_tier_over_socket_cap(spark, events):
    """When the raw pre-merge framing exceeds _DIRECT_MAX_BYTES, the tier
    builds via ONE Spark job (day-grouped union agg) instead of refusing —
    same cells, same answers; later full-span asks are zero-job."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._jvm_ops = None
        job = r.retention_rows_by("week")
        del r._jvm_ops
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        # force the socket cap UNDER the raw framing but ABOVE the ~21
        # day-merged sketches the tier frames per ask
        raw_bytes = sum(
            len(b) for b in r._bytes_mirror("__theta")[1] if b is not None
        )
        r._DIRECT_MAX_BYTES = raw_bytes // 2
        tiered = r.retention_rows_by("week")
        assert tiered == job
        t = _tier_state(r, "__theta")
        assert t not in (None, False) and len(t[0]) == N_HOURS // 24
        # warm asks answer zero-job from the job-built tier
        r.invalidate_asks()
        got, job_free = _no_jobs(spark, lambda: r.retention_rows_by("day"))
        assert job_free
        r._jvm_ops = None
        r.invalidate_asks()
        assert got == r.retention_rows_by("day")
        del r._jvm_ops
    finally:
        r.unpersist()


# ------------------------------------------------------- keyed tier (r12)
def _key_tier_state(rollup, col):
    return _level_state(rollup, col, "key+day")


def test_keyed_day_tier_distinct_by_key(spark, events):
    """The (key, day) tier serves the *_by_key forms: full span and
    day-aligned ranges equal the raw framing and the job path exactly
    (HLL register unions are associative); unaligned bounds keep raw."""
    r = build_distinct_rollup(
        events, "ts", "uid", bucket_seconds=3600, partition_by="et"
    )
    try:
        cases = [
            (None, None),
            ("2024-03-04 00:00:00", "2024-03-18 00:00:00"),
        ]
        for s, e in cases:
            r._TIER_MIN_ROWS = 10**9
            r.invalidate_asks()
            raw = r.distinct_rows_by_key(s, e)
            r._jvm_ops = None
            r.invalidate_asks()
            job = [
                tuple(x) for x in r.approx_distinct_by_key(s, e).collect()
            ]
            del r._jvm_ops
            r._TIER_MIN_ROWS = 0
            r.invalidate_asks()
            tiered, job_free = _no_jobs(
                spark, lambda s=s, e=e: r.distinct_rows_by_key(s, e)
            )
            assert _key_tier_state(r, "__hll") not in (None, False)
            assert tiered == raw == job, (s, e)
        # unaligned bound: raw framing, no divergence
        r.invalidate_asks()
        got = r.distinct_rows_by_key("2024-03-04 06:00:00", None)
        r._TIER_MIN_ROWS = 10**9
        r.invalidate_asks()
        assert got == r.distinct_rows_by_key("2024-03-04 06:00:00", None)
    finally:
        r.unpersist()


def test_keyed_day_tier_theta_cohort(spark, events):
    """retained_rows_by_key / cohort_rows_by_key through the (key, day)
    tier: day-aligned range pairs equal the raw framing and the job path
    exactly (theta algebra); a key with rows in only one range stays in
    the output with the empty-side semantics."""
    r = build_theta_rollup(
        events, "ts", "uid", bucket_seconds=3600, partition_by="et"
    )
    try:
        r1 = ("2024-03-04 00:00:00", "2024-03-11 00:00:00")
        r2 = ("2024-03-11 00:00:00", "2024-03-18 00:00:00")
        r._TIER_MIN_ROWS = 10**9
        raw = r.retained_rows_by_key(r1, r2)
        raw_cohort = r.cohort_rows_by_key(r1, r2)
        r._jvm_ops = None
        r.invalidate_asks()
        job = r.retained_rows_by_key(r1, r2)
        del r._jvm_ops
        r._TIER_MIN_ROWS = 0
        r.invalidate_asks()
        tiered, job_free = _no_jobs(
            spark, lambda: r.retained_rows_by_key(r1, r2)
        )
        assert _key_tier_state(r, "__theta") not in (None, False)
        assert tiered == raw == job
        r.invalidate_asks()
        assert r.cohort_rows_by_key(r1, r2) == raw_cohort
        # warm asks zero-job once the tier exists
        r.invalidate_asks()
        got, jf = _no_jobs(spark, lambda: r.retained_rows_by_key(r1, r2))
        assert jf and got == raw
        # unaligned pair: raw framing (tier refused), still equal
        ru = ("2024-03-04 06:00:00", "2024-03-11 00:00:00")
        r.invalidate_asks()
        got = r.retained_rows_by_key(ru, r2)
        r._TIER_MIN_ROWS = 10**9
        r.invalidate_asks()
        assert got == r.retained_rows_by_key(ru, r2)
    finally:
        r.unpersist()


def test_keyed_day_tier_job_built_over_cap(spark, events):
    r = build_distinct_rollup(
        events, "ts", "uid", bucket_seconds=3600, partition_by="et"
    )
    try:
        r._TIER_MIN_ROWS = 0
        raw_bytes = sum(
            len(b) for b in r._bytes_mirror("__hll")[1] if b is not None
        )
        r._DIRECT_MAX_BYTES = raw_bytes // 2
        r._jvm_ops = None
        job = [tuple(x) for x in r.approx_distinct_by_key(None, None).collect()]
        del r._jvm_ops
        r.invalidate_asks()
        tiered = r.distinct_rows_by_key(None, None)
        assert _key_tier_state(r, "__hll") not in (None, False)
        assert tiered == job
        r.invalidate_asks()
        got, jf = _no_jobs(spark, lambda: r.distinct_rows_by_key(None, None))
        assert jf and got == job
    finally:
        r.unpersist()


def test_keyed_day_tier_quantile_by_key_rank_bounded(spark, events):
    """quantile_rows_by_key through the (key, day) tier: per-key medians
    stay rank-bounded against the per-key truth (KLL merges are
    randomized), NULL-only keys surface NULL, and the day-aligned range
    matches the raw framing's key set exactly."""
    r = build_quantile_rollup(
        events, "ts", "v", bucket_seconds=3600, partition_by="et"
    )
    try:
        s, e = "2024-03-04 00:00:00", "2024-03-18 00:00:00"
        r._TIER_MIN_ROWS = 0
        tiered, _ = _no_jobs(
            spark, lambda: r.quantile_rows_by_key(0.5, s, e)
        )
        assert _key_tier_state(r, "__kll") not in (None, False)
        r._TIER_MIN_ROWS = 10**9
        r.invalidate_asks()
        raw = r.quantile_rows_by_key(0.5, s, e)
        assert [k for k, _ in tiered] == [k for k, _ in raw]
        import datetime

        lo = datetime.datetime(2024, 3, 4)
        hi = datetime.datetime(2024, 3, 18)
        by_key: dict = {}
        for row in events.collect():
            if lo <= row["ts"] < hi and row["v"] is not None:
                by_key.setdefault(row["et"], []).append(row["v"])
        for k, val in tiered:
            vals = sorted(by_key.get(k, []))
            if not vals:
                assert val is None
                continue
            rank = vals.index(val) / len(vals)
            assert abs(rank - 0.5) < 0.06, (k, val)
    finally:
        r.unpersist()


def test_over_cap_mirror_served_by_job_tier(spark, events):
    """When the RAW mirror itself refuses (the 100 TB shape: too many
    buckets for the driver), tier-eligible series still answer direct
    from the job-built day tier — days are 24x+ fewer than raw buckets.
    Non-eligible asks (sub-day, unaligned restriction) stay on the job
    path, identical answers."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._jvm_ops = None
        job_week = r.retention_rows_by("week")
        job_hour = r.retention_rows_by("hour")
        del r._jvm_ops
        r.invalidate_asks()
        # cap between the tier's 21 day rows and the mirror's 504 raw
        # rows: the mirror refuses, the job-built tier fits
        r._MIRROR_MAX_ROWS = 30
        r._drop_mirror()
        assert r._bytes_mirror("__theta") is False
        tiered = r.retention_rows_by("week")
        assert tiered == job_week
        assert _tier_state(r, "__theta") not in (None, False)
        # warm: zero-job from the cached job-built tier
        r.invalidate_asks()
        got, jf = _no_jobs(spark, lambda: r.retention_rows_by("week"))
        assert jf and got == job_week
        # sub-day granularity cannot tier: transparent job path
        r.invalidate_asks()
        assert r.retention_rows_by("hour") == job_hour
    finally:
        r.unpersist()


def test_over_cap_keyed_mirror_served_by_job_tier(spark, events):
    r = build_distinct_rollup(
        events, "ts", "uid", bucket_seconds=3600, partition_by="et"
    )
    try:
        r._jvm_ops = None
        job = [tuple(x) for x in r.approx_distinct_by_key(None, None).collect()]
        del r._jvm_ops
        r.invalidate_asks()
        # between the keyed tier's ~42 (day, key) rows and the keyed
        # mirror's ~1000 raw rows
        r._MIRROR_MAX_ROWS = 100
        r._drop_mirror()
        assert r._bytes_mirror("__hll") is False
        tiered = r.distinct_rows_by_key(None, None)
        assert tiered == job
        assert _key_tier_state(r, "__hll") not in (None, False)
        r.invalidate_asks()
        got, jf = _no_jobs(spark, lambda: r.distinct_rows_by_key(None, None))
        assert jf and got == job
        # unaligned restriction on the over-cap mirror: job path, equal
        r.invalidate_asks()
        got = r.distinct_rows_by_key("2024-03-04 06:00:00", None)
        r._jvm_ops = None
        r.invalidate_asks()
        assert got == r.distinct_rows_by_key("2024-03-04 06:00:00", None)
        del r._jvm_ops
    finally:
        r.unpersist()


def test_scalar_asks_ride_the_tier(spark, events):
    """Day-aligned SCALAR range asks frame the tier's day merges under
    the same slicing proof — exact for theta/HLL vs the raw framing and
    the job path, including on an over-cap mirror, with raw counts
    deciding the empty-range semantics."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        A, B = "2024-03-04 00:00:00", "2024-03-18 00:00:00"
        r._jvm_ops = None
        job = r.approx_distinct(A, B)
        del r._jvm_ops
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 10**9
        raw = r.approx_distinct(A, B)
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        tiered, jf = _no_jobs(spark, lambda: r.approx_distinct(A, B))
        assert tiered == raw == job
        assert _tier_state(r, "__theta") not in (None, False)
        # the all-NULL-day span: n == 0 through tier counts
        r.invalidate_asks()
        n0 = r.approx_distinct("2024-03-06 00:00:00", "2024-03-07 00:00:00")
        assert n0 == 0
        # over-cap mirror: scalar day-aligned asks stay zero-job direct
        r._MIRROR_MAX_ROWS = 30
        r._drop_mirror()
        r.invalidate_asks()
        assert r._bytes_mirror("__theta") is False
        got = r.approx_distinct(A, B)
        assert got == job
        r.invalidate_asks()
        got, jf = _no_jobs(spark, lambda: r.approx_distinct(A, B))
        assert jf and got == job
        # unaligned bounds on the over-cap mirror: transparent job path
        r.invalidate_asks()
        r._jvm_ops = None
        want = r.approx_distinct("2024-03-04 06:00:00", B)
        del r._jvm_ops
        r.invalidate_asks()
        assert r.approx_distinct("2024-03-04 06:00:00", B) == want
    finally:
        r.unpersist()


def test_keyed_scalar_asks_ride_the_keyed_tier(spark, events):
    r = build_distinct_rollup(
        events, "ts", "uid", bucket_seconds=3600, partition_by="et"
    )
    try:
        A, B = "2024-03-04 00:00:00", "2024-03-18 00:00:00"
        r._jvm_ops = None
        job = r.approx_distinct(A, B, key="click")
        del r._jvm_ops
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 10**9
        raw = r.approx_distinct(A, B, key="click")
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        tiered, _ = _no_jobs(
            spark, lambda: r.approx_distinct(A, B, key="click")
        )
        assert tiered == raw == job
        assert _key_tier_state(r, "__hll") not in (None, False)
        # absent key: 0 like the job path's empty aggregate
        r.invalidate_asks()
        assert r.approx_distinct(A, B, key="no-such-key") == 0
    finally:
        r.unpersist()


# ------------------------------------------------- coarse rung (r13)
def _rung_state(rollup, col, gran):
    return _level_state(rollup, col, gran)


def _key_rung_state(rollup, col):
    return _level_state(rollup, col, "key")


def test_theta_week_rung_bit_equal_and_job_free(spark, events):
    """r13 (the r12 verdict's full-span finding): a coarser-than-day
    series over a deep day tier climbs one more pre-merged rung AT the
    ask granularity — O(weeks) frames instead of O(days) — and the
    answers stay bit-equal to the raw framing AND the job path (theta
    union algebra is exact and associative, so one more merge level
    cannot move a bit)."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        # RAW oracles first: the tier/rung caches never see these asks
        # (building after would serve the cached tier regardless of the
        # floor knobs — caches are per-box data, not per-ask)
        r._TIER_MIN_ROWS = 10**9
        raw = {g: r.retention_rows_by(g) for g in ("week", "month", 7 * 86400)}
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        r._RUNG_MIN_DAYS = 0
        rung = r.retention_rows_by("week")
        assert rung == raw["week"]
        t = _rung_state(r, "__theta", "week")
        assert t not in (None, False)
        assert len(t[0]) < N_HOURS // 24  # strictly fewer cells than days
        # warm rung ask: zero jobs (day tier + rung built above)
        r.invalidate_asks()
        got, job_free = _no_jobs(spark, lambda: r.retention_rows_by("week"))
        assert job_free and got == raw["week"]
        # month + a 7-day int width climb their own rungs, equal to raw
        for gran in ("month", 7 * 86400):
            r.invalidate_asks()
            rung_g, jf = _no_jobs(
                spark, lambda g=gran: r.retention_rows_by(g)
            )
            assert _rung_state(r, "__theta", gran) not in (None, False)
            assert rung_g == raw[gran]
        # ...and the job path agrees wholesale
        r._jvm_ops = None
        r.invalidate_asks()
        job = r.retention_rows_by("week")
        del r._jvm_ops
        assert rung == job
    finally:
        r.unpersist()


def test_rung_bounds_gating(spark, events):
    """Restricted asks ride the rung ONLY when both bounds are fixed
    points of the ask granularity's truncation (whole rung cells);
    day-aligned-but-not-week-aligned bounds keep the DAY tier (whose
    edge cells group partially into the ask's first/last bucket) — and
    both equal the raw framing."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        # 2024-03-04 / 2024-03-18 are Mondays: week-aligned
        A, B = "2024-03-04 00:00:00", "2024-03-18 00:00:00"
        r._TIER_MIN_ROWS = 10**9  # raw oracle BEFORE any tier caches
        raw_aligned = r.retention_rows_by("week", A, B)
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        r._RUNG_MIN_DAYS = 0
        aligned = r.retention_rows_by("week", A, B)
        assert _rung_state(r, "__theta", "week") not in (None, False)
        assert aligned == raw_aligned
        # day-aligned but NOT week-aligned: rung must NOT serve (2024-03-05
        # is a Tuesday) — the day tier does, and still equals raw
        r2 = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
        try:
            A2, B2 = "2024-03-05 00:00:00", "2024-03-19 00:00:00"
            r2._TIER_MIN_ROWS = 10**9
            raw_unaligned = r2.retention_rows_by("week", A2, B2)
            r2.invalidate_asks()
            r2._TIER_MIN_ROWS = 0
            r2._RUNG_MIN_DAYS = 0
            unaligned = r2.retention_rows_by("week", A2, B2)
            assert _rung_state(r2, "__theta", "week") is None  # never built
            assert _tier_state(r2, "__theta") not in (None, False)
            assert unaligned == raw_unaligned
        finally:
            r2.unpersist()
    finally:
        r.unpersist()


def test_rung_floor_keeps_day_tier(spark, events):
    """Below _RUNG_MIN_DAYS (default 180 — this fixture has 21 days) the
    ladder stops at the day tier: no rung is cached, answers unchanged."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._TIER_MIN_ROWS = 10**9
        raw = r.retention_rows_by("week")
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        assert r.retention_rows_by("week") == raw
        assert _rung_state(r, "__theta", "week") is False  # tried, too shallow
        assert _tier_state(r, "__theta") not in (None, False)
    finally:
        r.unpersist()


def test_hll_and_kll_rungs(spark, events):
    """The rung is family-generic: HLL register unions are associative
    (week rung == raw framing exactly in this coupon-regime fixture);
    KLL stays rank-bounded — the documented multi-bucket contract."""
    d = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        d._TIER_MIN_ROWS = 10**9
        raw = d.distinct_rows_by("week")
        d.invalidate_asks()
        d._TIER_MIN_ROWS = 0
        d._RUNG_MIN_DAYS = 0
        assert d.distinct_rows_by("week") == raw
        assert _rung_state(d, "__hll", "week") not in (None, False)
    finally:
        d.unpersist()
    q = build_quantile_rollup(events, "ts", "v", bucket_seconds=3600)
    try:
        q._TIER_MIN_ROWS = 0
        q._RUNG_MIN_DAYS = 0
        rows = q.quantile_rows_by("week", 0.5)
        assert _rung_state(q, "__kll", "week") not in (None, False)
        by_week: dict = {}
        for bucket, val in rows:
            by_week[bucket] = val
        vals_by_week: dict = {}
        for row in events.select("ts", "v").collect():
            if row[1] is not None:
                wk = (row[0].date() - timedelta(days=row[0].weekday()))
                vals_by_week.setdefault(wk, []).append(row[1])
        assert len(rows) == len(vals_by_week)
        for bucket, val in rows:
            vals = sorted(vals_by_week[bucket.date()])
            rank = vals.index(val) / len(vals)
            assert abs(rank - 0.5) < 0.06
    finally:
        q.unpersist()


def test_rung_over_cap_mirror_and_mutation_retire(spark, events):
    """The rung composes with the job-built day tier (over-cap mirror)
    and dies with the mirror box on mutation, like the tier."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._TIER_MIN_ROWS = 0
        r._RUNG_MIN_DAYS = 0
        r._jvm_ops = None
        job = r.retention_rows_by("week")
        del r._jvm_ops
        r.invalidate_asks()
        # cap between the tier's 21 day rows and the mirror's 504 raw
        # rows: the mirror refuses, the job-built day tier + rung serve
        r._MIRROR_MAX_ROWS = 30
        r._drop_mirror()
        assert r._bytes_mirror("__theta") is False
        got = r.retention_rows_by("week")
        assert got == job
        assert _rung_state(r, "__theta", "week") not in (None, False)
        # mutation retires the box — and the rung with it
        r._MIRROR_MAX_ROWS = 120_000
        late = spark.createDataFrame(
            [(BASE + timedelta(days=40), 9999)], "ts timestamp, uid bigint"
        )
        r.merge_batch(late, "ts")
        assert _rung_state(r, "__theta", "week") is None
        r._TIER_MIN_ROWS = 10**9
        r.invalidate_asks()
        raw2 = r.retention_rows_by("week")
        r._TIER_MIN_ROWS = 0
        r.invalidate_asks()
        assert r.retention_rows_by("week") == raw2
    finally:
        r.unpersist()


def test_tier_job_escape_hatch(spark, events):
    """r13: past _TIER_JOB_ESCAPE_BYTES of framed tier bytes a series
    ask routes to the ONE-job path instead of driver framing (the r12
    verdict's rule — direct must not cost more than its own job floor).
    Same answers either way: the escape is a physical routing choice."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        r._jvm_ops = None
        job = r.retention_rows_by("day")
        del r._jvm_ops
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        r._TIER_JOB_ESCAPE_BYTES = 0
        got, job_free = _no_jobs(spark, lambda: r.retention_rows_by("day"))
        assert got == job
        assert not job_free  # escaped to the job path past the threshold
        assert _tier_state(r, "__theta") not in (None, False)  # tier built
        # raising the threshold restores zero-job direct service
        r._TIER_JOB_ESCAPE_BYTES = 32 << 20
        r.invalidate_asks()
        got2, job_free2 = _no_jobs(spark, lambda: r.retention_rows_by("day"))
        assert job_free2 and got2 == job
    finally:
        r.unpersist()


def test_keyed_total_rung_full_span(spark, events):
    """r13: full-span *_by_key asks climb to the key-total rung —
    O(keys) merged frames instead of O(keys × days) — and stay equal to
    the raw framing and the job path (HLL register unions associative;
    one more union-monoid level cannot move the state). Restricted asks
    never touch it (a total can't be sliced): they keep the (key, day)
    tier."""
    r = build_distinct_rollup(
        events, "ts", "uid", bucket_seconds=3600, partition_by="et"
    )
    try:
        r._TIER_MIN_ROWS = 10**9  # raw oracle BEFORE any tier caches
        raw = r.distinct_rows_by_key(None, None)
        r._jvm_ops = None
        r.invalidate_asks()
        job = [tuple(x) for x in r.approx_distinct_by_key(None, None).collect()]
        del r._jvm_ops
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        r._RUNG_MIN_DAYS = 0
        rung = r.distinct_rows_by_key(None, None)
        t = _key_rung_state(r, "__hll")
        assert t not in (None, False)
        assert rung == raw == job
        # O(keys): exactly one merged frame (or None) per key
        assert len(t.keys) == len(set(t.keys))
        assert set(t.keys) == {k for k, _ in raw}
        # warm full-span ask: zero jobs
        r.invalidate_asks()
        got, jf = _no_jobs(spark, lambda: r.distinct_rows_by_key(None, None))
        assert jf and got == raw
        # restricted ask keeps the (key, day) tier, still equal
        A, B = "2024-03-04 00:00:00", "2024-03-18 00:00:00"
        r.invalidate_asks()
        got_r = r.distinct_rows_by_key(A, B)
        r._jvm_ops = None
        r.invalidate_asks()
        assert got_r == r.distinct_rows_by_key(A, B)
        del r._jvm_ops
    finally:
        r.unpersist()


def test_keyed_tier_escape_hatch(spark, events):
    """r13: keyed tier framings past _TIER_JOB_ESCAPE_BYTES route to the
    one-job path (same rule as the series escape), answers equal. The
    key-total rung still serves full spans O(keys) below the cap."""
    r = build_distinct_rollup(
        events, "ts", "uid", bucket_seconds=3600, partition_by="et"
    )
    try:
        A, B = "2024-03-04 00:00:00", "2024-03-18 00:00:00"
        r._jvm_ops = None
        job = r.distinct_rows_by_key(A, B)
        del r._jvm_ops
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        r._TIER_JOB_ESCAPE_BYTES = 0
        got, job_free = _no_jobs(spark, lambda: r.distinct_rows_by_key(A, B))
        assert got == job
        assert not job_free  # escaped: the (key, day) framing costs jobs
        r._TIER_JOB_ESCAPE_BYTES = 32 << 20
        r.invalidate_asks()
        got2, jf2 = _no_jobs(spark, lambda: r.distinct_rows_by_key(A, B))
        assert jf2 and got2 == job
    finally:
        r.unpersist()


def test_keyed_total_rung_escape_hatch(spark, events):
    """r14 (the r13 verdict's #2): the FULL-SPAN key-total rung framing
    obeys _TIER_JOB_ESCAPE_BYTES like every other tier/rung surface —
    r13 gated it only on _DIRECT_MAX_BYTES, leaving a 32-64 MB band
    (large-k sketches × thousands of keys) where O(keys) framing still
    loses to the one-job floor. Past the threshold the ask job-routes
    with EQUAL answers; restoring it restores zero-job rung service."""
    r = build_distinct_rollup(
        events, "ts", "uid", bucket_seconds=3600, partition_by="et"
    )
    try:
        r._jvm_ops = None
        job = r.distinct_rows_by_key(None, None)
        del r._jvm_ops
        r.invalidate_asks()
        r._TIER_MIN_ROWS = 0
        r._RUNG_MIN_DAYS = 0
        r._TIER_JOB_ESCAPE_BYTES = 0
        got, job_free = _no_jobs(
            spark, lambda: r.distinct_rows_by_key(None, None)
        )
        assert got == job
        assert not job_free  # escaped: past the cap, the one-job merge wins
        # the rung itself was still built (the escape is ask-side routing)
        assert _key_rung_state(r, "__hll") not in (
            None,
            False,
        )
        r._TIER_JOB_ESCAPE_BYTES = 32 << 20
        r.invalidate_asks()
        got2, jf2 = _no_jobs(
            spark, lambda: r.distinct_rows_by_key(None, None)
        )
        assert jf2 and got2 == job
    finally:
        r.unpersist()


def test_keyed_rung_floor_counts_depth_not_cells(spark):
    """r14 (the r13 verdict's #2, second half): the key-total rung floor
    gates on per-key day DEPTH, not total (key, day) cells — 200 keys ×
    2 days each (400 cells, depth 2) must NOT build a rung at a floor of
    3 (r13's sum-of-cells rule would have sailed past a 180 floor), and
    MUST build at a floor of 2. Answers identical either way: the floor
    is an economics heuristic, never semantics."""
    rows = []
    for k in range(200):
        for d in range(2):
            ts = BASE + timedelta(days=d, minutes=k)
            rows.append((ts, (k * 17 + d) % 997, f"k{k:03d}"))
    wide = spark.createDataFrame(rows, "ts timestamp, uid bigint, k string")
    r = build_distinct_rollup(
        wide, "ts", "uid", bucket_seconds=3600, partition_by="k"
    )
    try:
        r._TIER_MIN_ROWS = 0
        r._RUNG_MIN_DAYS = 3  # deepest key has 2 days -> refuse
        base = r.distinct_rows_by_key(None, None)
        assert _key_rung_state(r, "__hll") is False
        r.invalidate_asks()
        r._drop_mirror()
        r._RUNG_MIN_DAYS = 2  # deepest key meets the floor -> build
        got = r.distinct_rows_by_key(None, None)
        assert _key_rung_state(r, "__hll") not in (
            None,
            False,
        )
        assert got == base
    finally:
        r.unpersist()


# ------------------------------------------- seeded ladder differential
GRANS = ("day", "week", "month", 2 * 86400)


@pytest.fixture(scope="module")
def null_key_events(spark):
    # the module's hourly corpus (day 5 all-NULL values) with a partition
    # key that is NULL on every fifth row, so each level carries a
    # NULL-key run
    rows = []
    for h in range(N_HOURS):
        ts = BASE + timedelta(hours=h)
        null_day = (h // 24) == 5
        for j in range(3):
            rows.append(
                (
                    ts,
                    None if null_day else (h * 7 + j * 13) % 97,
                    None if null_day else float((h * 31 + j) % 211),
                    None if (h + j) % 5 == 0 else ("a" if j else "b"),
                )
            )
    return spark.createDataFrame(rows, "ts timestamp, uid bigint, v double, k string")


def _rand_bounds(rng, open_ok: bool):
    """A random ``[start, end)`` over the corpus: day-aligned or not (an
    hour offset keeps bucket-edge selection exact), one side open when
    ``open_ok``."""
    lo = rng.randrange(0, 14)
    hi = rng.randrange(lo + 1, 22)

    def at(day):
        off = 0 if rng.random() < 0.7 else rng.randrange(1, 24)
        return str(BASE + timedelta(days=day, hours=off))

    s, e = at(lo), at(hi)
    if open_ok and rng.random() < 0.3:
        return rng.choice([(None, None), (None, e), (s, None)])
    return s, e


def _three_ways(r, ask, built: set):
    """``ask()`` on the raw level, on the merged levels (day level and
    rungs forced on) and on the job path; adds the cells of the merged
    levels the second ask built to ``built``."""
    r._mirror_box().pop("levels", None)
    r._TIER_MIN_ROWS = 10**9
    r.invalidate_asks()
    raw = ask()
    r._TIER_MIN_ROWS = 0
    r._RUNG_MIN_DAYS = 0
    r.invalidate_asks()
    merged = ask()
    levels = r._mirror_box().get("levels", {})
    built.update(cell for (_col, cell), lv in levels.items() if lv is not False)
    r._jvm_ops = None
    r.invalidate_asks()
    job = ask()
    del r._jvm_ops
    return raw, merged, job


def _truth(rows, col, s, e, cell_of):
    """Sorted non-NULL values of ``col`` per output cell inside
    ``[s, e)`` (None: open side)."""
    lo = datetime.fromisoformat(s) if s else datetime.min
    hi = datetime.fromisoformat(e) if e else datetime.max
    out: dict = {}
    for row in rows:
        if lo <= row["ts"] < hi and row[col] is not None:
            out.setdefault(cell_of(row), []).append(row[col])
    return {c: sorted(v) for c, v in out.items()}


def _rank_ok(vals, val, q=0.5, eps=0.06) -> bool:
    import bisect

    lo = bisect.bisect_left(vals, val) / len(vals)
    hi = bisect.bisect_right(vals, val) / len(vals)
    return val in vals and lo - eps <= q <= hi + eps


def _bucket_of(gran):
    import numpy as np

    from datafusion_uwheel_spark.functions.timestamps import bucket_starts

    def cell(row):
        sec = int(row["ts"].replace(tzinfo=timezone.utc).timestamp())
        b = int(bucket_starts(np.asarray([sec], dtype=np.int64), gran)[0])
        return datetime.fromtimestamp(b, tz=timezone.utc).replace(tzinfo=None)

    return cell


@pytest.mark.parametrize("family", ["theta", "hll", "kll"])
@pytest.mark.parametrize("keyed", [False, True])
def test_ladder_differential_seeded(spark, null_key_events, family, keyed):
    """Random bound / granularity / level combinations through every
    direct entry point — scalar, series, per-key and theta's per-key
    range pairs — on the raw level, the merged levels and the job path:
    theta and HLL (coupon regime) answers equal, KLL inside its rank
    bound with equal cells."""
    import random

    build = {
        "theta": (build_theta_rollup, "uid"),
        "hll": (build_distinct_rollup, "uid"),
        "kll": (build_quantile_rollup, "v"),
    }[family]
    kw = {"partition_by": "k"} if keyed else {}
    r = build[0](null_key_events, "ts", build[1], bucket_seconds=3600, **kw)
    rng = random.Random(f"{family}-{keyed}")
    rows = null_key_events.collect()
    built: set = set()
    try:
        for case in range(3):
            # the first case asks the full span at a rung granularity,
            # so every rung is exercised whatever the draws
            gran = rng.choice(GRANS[1:] if case == 0 else GRANS)
            s, e = (None, None) if case == 0 else _rand_bounds(rng, True)
            a, b = _rand_bounds(rng, open_ok=False)
            key = rng.choice(["a", "b", None])
            asks = {}
            if family == "theta":
                asks["series"] = lambda: r.retention_rows_by(gran, s, e)
                asks["scalar"] = lambda: r.approx_distinct(a, b)
                if keyed:
                    r2 = _rand_bounds(rng, open_ok=False)
                    asks["pair"] = lambda: r.retained_rows_by_key((a, b), r2)
                    asks["cohort"] = lambda: r.cohort_rows_by_key((a, b), r2)
            elif family == "hll":
                asks["series"] = lambda: r.distinct_rows_by(gran, s, e)
                asks["scalar"] = lambda: r.approx_distinct(a, b)
                if keyed:
                    asks["by_key"] = lambda: r.distinct_rows_by_key(s, e)
                    asks["key_scalar"] = lambda: r.approx_distinct(a, b, key=key)
            else:
                asks["series"] = lambda: r.quantile_rows_by(gran, 0.5, s, e)
                asks["scalar"] = lambda: r.approx_quantile(0.5, a, b)
                if keyed:
                    asks["by_key"] = lambda: r.quantile_rows_by_key(0.5, s, e)
                    asks["key_scalar"] = lambda: r.approx_quantile(
                        0.5, a, b, key=key
                    )
            for name, ask in asks.items():
                raw, merged, job = _three_ways(r, ask, built)
                where = (family, keyed, name, gran, s, e, a, b, key)
                if family != "kll":
                    assert raw == merged == job, where
                    continue
                if name in ("scalar", "key_scalar"):
                    truth = _truth(
                        rows, "v", a, b,
                        (lambda row: 0) if name == "scalar"
                        else (lambda row: 0 if row["k"] == key else 1),
                    ).get(0)
                    for got in (raw, merged, job):
                        assert (got is None) == (truth is None), where
                        assert got is None or _rank_ok(truth, got), where
                    continue
                cell_of = (
                    _bucket_of(gran) if name == "series"
                    else (lambda row: row["k"])
                )
                truth = _truth(rows, "v", s, e, cell_of)
                assert [c for c, _ in raw] == [c for c, _ in merged]
                assert [c for c, _ in raw] == [c for c, _ in job], where
                for got in (raw, merged, job):
                    for cell, val in got:
                        vals = truth.get(cell)
                        assert (val is None) == (not vals), (where, cell)
                        assert val is None or _rank_ok(vals, val), (where, cell)
        # every merged level was served: the day level and a rung, or the
        # (key, day) level and (theta has no single-range keyed series)
        # the key-total rung
        if keyed:
            assert "key+day" in built, built
            assert family == "theta" or "key" in built, built
        else:
            assert "day" in built and len(built) > 1, built
    finally:
        r.unpersist()

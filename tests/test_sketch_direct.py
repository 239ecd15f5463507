"""Direct (zero-job) sketch asks (r10): the frequency family's
driver-mirror economics extended to HLL / KLL / theta WITHOUT touching
sketch wire formats in Python — the rollup's (sec, sketch_bytes) rows
mirror to the driver, a range ask numpy-slices them exactly like the job
path's `_range_filter`, and ONE py4j call hands the framed bytes to
`jvm/UwheelShim.scala`'s `UwheelSketchOps`, which merges them with the
SAME bundled datasketches-java classes Spark's own expressions use (call
chains pinned from the bundled bytecode; live probe r10: exact parity on
HLL estimate, KLL quantile/rank, theta i/u/d/e).

The contract under test: (a) direct answers EQUAL the job path's —
exact for theta (k-smallest-hashes algebra, order-free) and for HLL in
the coupon-exact regime these fixtures stay in (at real cardinalities
HLL's HIP estimator is update-order-dependent, so direct and job are
both valid estimates within the bound — probe-pinned r11); rank-bounded
for multi-bucket KLL, whose merge compaction is randomized — (b) warm
direct asks launch ZERO
Spark jobs, (c) sessions without the shim class fall back to the job path
transparently, (d) mutations drop the mirror so direct answers track the
new data, and (e) bounds the job path would RAISE on (ANSI cast) still
raise — the direct path never swallows them."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from datafusion_uwheel_spark.operators.distinct import (
    build_distinct_rollup,
    load_distinct_rollup,
)
from datafusion_uwheel_spark.operators.quantiles import build_quantile_rollup
from datafusion_uwheel_spark.operators.theta import build_theta_rollup

BASE = datetime(2024, 2, 1)
A, B = "2024-02-01 00:00:00", "2024-02-01 06:00:00"
R1 = ("2024-02-01 00:00:00", "2024-02-01 03:00:00")
R2 = ("2024-02-01 03:00:00", "2024-02-01 06:00:00")


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        (BASE + timedelta(hours=h, minutes=m), (h * 11 + m) % 53, float(h * 60 + m))
        for h in range(6)
        for m in range(0, 60, 2)
    ]
    return spark.createDataFrame(rows, "ts timestamp, uid bigint, v double")


def _no_jobs(spark, fn):
    sc = spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    out = fn()
    after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    return out, after == before


def _force_job_path(rollup):
    """Disable the shim handle so compute() takes the job branch — the
    shim-less-session simulation (ListAgents-style bare harness)."""
    rollup._jvm_ops = None


def _reenable(rollup):
    if hasattr(rollup, "_jvm_ops"):
        del rollup._jvm_ops


def test_session_has_sketch_ops(spark):
    """conftest builds through get_spark, which puts the shim jar on the
    driver classpath — the suite below tests the REAL direct path, not a
    permanently-falling-back one."""
    assert spark._jvm.io.uwheel.spark.UwheelSketchOps.ping() == 1


# ------------------------------------------------------------------- HLL
def test_hll_direct_matches_job_and_is_job_free(spark, events):
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        direct, job_free = _no_jobs(spark, lambda: r.approx_distinct(A, B))
        assert job_free  # build warmed the mirror — zero jobs, no memo yet
        r.invalidate_asks()
        _force_job_path(r)
        job = r.approx_distinct(A, B)
        assert direct == job  # HLL union is deterministic algebra
        # sub-range parity too (different bucket slices)
        _reenable(r)
        r.invalidate_asks()
        d2, job_free = _no_jobs(
            spark, lambda: r.approx_distinct(A, "2024-02-01 02:00:00")
        )
        assert job_free
        _force_job_path(r)
        r.invalidate_asks()
        assert d2 == r.approx_distinct(A, "2024-02-01 02:00:00")
        # empty range: 0 on both paths
        _reenable(r)
        r.invalidate_asks()
        assert r.approx_distinct("2030-01-01", "2030-01-02") == 0
    finally:
        r.unpersist()


def test_hll_direct_int_epochs_and_ansi_raise(spark, events):
    from datetime import timezone

    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        a = int(BASE.replace(tzinfo=timezone.utc).timestamp())
        got, job_free = _no_jobs(spark, lambda: r.approx_distinct(a, a + 6 * 3600))
        assert job_free and got == r.approx_distinct(A, B)
        # a bound the job path raises on must STILL raise — the direct
        # path refuses to resolve it and delegates
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            r.approx_distinct(str(a), str(a + 60))
    finally:
        r.unpersist()


def test_hll_keyed_rollup_unkeyed_and_same_type_keyed_direct(spark, events):
    from pyspark.sql import functions as F

    keyed = events.withColumn("seg", (F.col("uid") % 3).cast("long"))
    r = build_distinct_rollup(
        keyed, "ts", "uid", bucket_seconds=3600, partition_by="seg"
    )
    try:
        # unkeyed ask on a keyed rollup: mirror unions across keys — must
        # match the job path's union exactly, zero jobs
        direct, job_free = _no_jobs(spark, lambda: r.approx_distinct(A, B))
        assert job_free
        _force_job_path(r)
        r.invalidate_asks()
        assert direct == r.approx_distinct(A, B)
        # r11 (the r10 verdict's #6): SAME-TYPE keyed asks ride the direct
        # path — int ask on a bigint key, zero jobs, exact job parity
        _reenable(r)
        for k in (0, 1, 2, 99):
            r.invalidate_asks()
            d, job_free = _no_jobs(
                spark, lambda: r.approx_distinct(A, B, key=k)
            )
            assert job_free, k
            _force_job_path(r)
            r.invalidate_asks()
            assert d == r.approx_distinct(A, B, key=k), k
            _reenable(r)
        # CROSS-TYPE asks never ride the gate (the coercion grammar is
        # Spark's): a bool ask is NOT an int ask, an out-of-long int must
        # keep the job path's own error, unkeyed rollups delegate the
        # "no key column" raise
        assert r._key_gate(True) is False
        assert r._key_gate(2**64) is False
        assert r._key_gate("1") is False  # string ask on a bigint column
        # whatever Spark does with the cross-type compare, both paths do
        # THE SAME thing (the gate only ever delegates)
        def run(f):
            try:
                return ("ok", f())
            except Exception as e:
                return ("err", type(e).__name__)

        r.invalidate_asks()
        direct_out = run(lambda: r.approx_distinct(A, B, key=True))
        _force_job_path(r)
        r.invalidate_asks()
        assert direct_out == run(lambda: r.approx_distinct(A, B, key=True))
    finally:
        r.unpersist()


def test_keyed_direct_string_keys_nulls_and_cross_type_raise(spark, events):
    from pyspark.sql import functions as F

    keyed = events.withColumn(
        "et",
        F.when(F.col("uid") % 7 == 0, F.lit(None)).otherwise(
            F.when(F.col("uid") % 2 == 0, F.lit("click")).otherwise(F.lit("view"))
        ),
    )
    r = build_distinct_rollup(
        keyed, "ts", "uid", bucket_seconds=3600, partition_by="et"
    )
    try:
        # string keys (incl. the NULL partition and a missing key): direct
        # equals the forced job path, zero jobs
        for k in ("click", "view", None, "missing"):
            r.invalidate_asks()
            d, job_free = _no_jobs(
                spark, lambda: r.approx_distinct(A, B, key=k)
            )
            assert job_free, k
            _force_job_path(r)
            r.invalidate_asks()
            assert d == r.approx_distinct(A, B, key=k), k
            _reenable(r)
        # an INT ask on a string key column: eqNullSafe casts the COLUMN
        # to bigint — the job path's ANSI error must still raise (the
        # direct path refuses cross-type and delegates; probed r11)
        r.invalidate_asks()
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            r.approx_distinct(A, B, key=7)
    finally:
        r.unpersist()


def test_kll_keyed_direct_parity(spark, events):
    from pyspark.sql import functions as F

    keyed = events.withColumn("seg", (F.col("uid") % 5).cast("int"))
    r = build_quantile_rollup(
        keyed, "ts", "v", bucket_seconds=3600, partition_by="seg"
    )
    try:
        one_hr = ("2024-02-01 02:00:00", "2024-02-01 03:00:00")
        for k in (0, 3, None, 99):
            r.invalidate_asks()
            d, job_free = _no_jobs(
                spark, lambda: r.approx_quantile(0.5, *one_hr, key=k)
            )
            assert job_free, k
            _force_job_path(r)
            r.invalidate_asks()
            # single-bucket cells: no merge randomization — exact parity
            assert d == r.approx_quantile(0.5, *one_hr, key=k), k
            _reenable(r)
        # keyed rank too
        r.invalidate_asks()
        d, job_free = _no_jobs(
            spark, lambda: r.approx_rank(150.0, *one_hr, key=2)
        )
        assert job_free
        _force_job_path(r)
        r.invalidate_asks()
        assert d == r.approx_rank(150.0, *one_hr, key=2)
    finally:
        r.unpersist()


def test_hll_merge_drops_mirror_and_tracks_new_data(spark, events):
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        before = r.approx_distinct(A, B)
        extra = spark.createDataFrame(
            [(BASE + timedelta(hours=1), 10_000 + i, 0.0) for i in range(300)],
            "ts timestamp, uid bigint, v double",
        )
        r.merge_batch(extra, "ts")
        after = r.approx_distinct(A, B)  # re-collects the mirror
        assert after > before
        _force_job_path(r)
        r.invalidate_asks()
        assert after == r.approx_distinct(A, B)
    finally:
        r.unpersist()


def test_hll_direct_after_compaction_uses_tier_widths(spark, events):
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        want = r.approx_distinct(A, B)
        cutoff = int(datetime(2024, 2, 1, 3).timestamp())
        r.compact_before(cutoff, 3600 * 3)
        r.invalidate_asks()
        got = r.approx_distinct(A, B)  # first ask re-collects the mirror
        assert got == want  # union algebra: compaction changes nothing
        # ...and the SECOND ask is warm: zero jobs even post-compaction
        r.invalidate_asks()
        got2, job_free = _no_jobs(spark, lambda: r.approx_distinct(A, B))
        assert got2 == want and job_free
        # the coarse bucket must still be included whole for a range
        # starting INSIDE it (the _width_expr slop, mirrored driver-side
        # with the tier-aware per-row width)
        mid = ("2024-02-01 01:00:00", "2024-02-01 03:00:00")
        r.invalidate_asks()
        d_direct = r.approx_distinct(*mid)
        _force_job_path(r)
        r.invalidate_asks()
        assert d_direct == r.approx_distinct(*mid)
    finally:
        r.unpersist()


def test_hll_save_load_roundtrip_direct(spark, events, tmp_path):
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    path = str(tmp_path / "hll_direct")
    want = r.approx_distinct(A, B)
    r.save(path)
    r.unpersist()
    lo = load_distinct_rollup(spark, path)
    try:
        got, job_free = _no_jobs(spark, lambda: lo.approx_distinct(A, B))
        assert got == want and job_free  # load warmed the mirror
    finally:
        lo.unpersist()


# ------------------------------------------------------------------- KLL
def test_kll_direct_single_bucket_exact_and_multi_bounded(spark, events):
    r = build_quantile_rollup(events, "ts", "v", bucket_seconds=3600)
    try:
        one_hr = ("2024-02-01 02:00:00", "2024-02-01 03:00:00")
        direct, job_free = _no_jobs(
            spark, lambda: r.approx_quantile([0.25, 0.5, 0.9], *one_hr)
        )
        assert job_free
        _force_job_path(r)
        r.invalidate_asks()
        # single bucket: no merge randomization — byte-deterministic
        assert direct == r.approx_quantile([0.25, 0.5, 0.9], *one_hr)
        # multi-bucket: randomized merge compaction — both answers valid,
        # true rank of each within the KLL bound of the asked rank
        _reenable(r)
        r.invalidate_asks()
        d_all, job_free = _no_jobs(spark, lambda: r.approx_quantile(0.5, A, B))
        assert job_free
        vals = sorted(x[0] for x in events.select("v").collect())
        rank = vals.index(d_all) / len(vals)
        assert abs(rank - 0.5) < 0.05  # ~3x the k=200 bound
        # rank ask parity (single bucket, exact)
        _reenable(r)
        r.invalidate_asks()
        rk, job_free = _no_jobs(spark, lambda: r.approx_rank(150.0, *one_hr))
        assert job_free
        _force_job_path(r)
        r.invalidate_asks()
        assert rk == r.approx_rank(150.0, *one_hr)
        # empty range: None on both paths
        _reenable(r)
        r.invalidate_asks()
        assert r.approx_quantile(0.5, "2030-01-01", "2030-01-02") is None
        assert r.approx_rank(1.0, "2030-01-01", "2030-01-02") is None
    finally:
        r.unpersist()


def test_kll_bigint_direct_parity(spark, events):
    r = build_quantile_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        assert r.suffix == "bigint"
        one_hr = ("2024-02-01 02:00:00", "2024-02-01 03:00:00")
        direct, job_free = _no_jobs(
            spark, lambda: r.approx_quantile(0.5, *one_hr)
        )
        assert job_free and isinstance(direct, int)
        _force_job_path(r)
        r.invalidate_asks()
        assert direct == r.approx_quantile(0.5, *one_hr)
        _reenable(r)
        r.invalidate_asks()
        rk, job_free = _no_jobs(spark, lambda: r.approx_rank(26, *one_hr))
        assert job_free
        _force_job_path(r)
        r.invalidate_asks()
        assert rk == r.approx_rank(26, *one_hr)
    finally:
        r.unpersist()


# ----------------------------------------------------------------- theta
def test_theta_direct_full_parity(spark, events):
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        direct, job_free = _no_jobs(
            spark,
            lambda: (
                r.approx_distinct(A, B),
                r.approx_retained(R1, R2),
                r.approx_new(R1, R2),
                r.approx_jaccard(R1, R2),
            ),
        )
        assert job_free
        _force_job_path(r)
        r.invalidate_asks()
        job = (
            r.approx_distinct(A, B),
            r.approx_retained(R1, R2),
            r.approx_new(R1, R2),
            r.approx_jaccard(R1, R2),
        )
        assert direct == job  # theta set algebra is deterministic
    finally:
        r.unpersist()


def test_theta_empty_side_semantics_match_job(spark, events):
    """Empty sides are NOT a NULL gate: theta_union_agg over all-NULL
    inputs yields an EMPTY SKETCH (probe r10 — the f1|f2 projection keeps
    the other range's rows with this side NULL), so the job path's
    ``approx_new(empty, R2)`` is |R2| — everything is new vs an empty
    baseline — while intersections with an empty side are 0. The direct
    path's plain empty-union algebra reproduces every case, including
    both-sides-empty (zero-row agg → NULL → 0 vs empty∩empty → 0)."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        empty = ("2030-01-01 00:00:00", "2030-01-02 00:00:00")

        def all_asks():
            return (
                r.approx_retained(R1, empty),
                r.approx_retained(empty, R2),
                r.approx_new(R1, empty),
                r.approx_new(empty, R2),
                r.approx_jaccard(R1, empty),
                r.approx_retained(empty, empty),
                r.approx_new(empty, empty),
                r.approx_jaccard(empty, empty),
            )

        direct = all_asks()
        _force_job_path(r)
        r.invalidate_asks()
        job = all_asks()
        assert direct == job
        # the load-bearing shape: new-vs-empty is |R2|, not 0
        assert direct[3] == r.approx_distinct(*R2) > 0
        assert direct[:3] == (0, 0, 0) and direct[4:] == (0.0, 0, 0, 0.0)
    finally:
        r.unpersist()


def test_theta_merge_output_format_wraps(spark, events):
    """merge_batch stores theta_union_agg outputs (a different compact
    encoding than theta_sketch_agg's) — the direct path must wrap BOTH."""
    r = build_theta_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        extra = spark.createDataFrame(
            [(BASE + timedelta(hours=2), 900_000 + i, 0.0) for i in range(100)],
            "ts timestamp, uid bigint, v double",
        )
        r.merge_batch(extra, "ts")
        direct = r.approx_distinct(A, B)
        _force_job_path(r)
        r.invalidate_asks()
        assert direct == r.approx_distinct(A, B)
    finally:
        r.unpersist()


def test_exotic_iso_strings_keep_job_path_errors(spark, events):
    """Review r10p3: parse_ts_literal (fromisoformat-based) accepts ISO
    basic '20240201' and week dates '2024-W05-1' that Spark's ANSI cast
    REJECTS — the direct path must refuse to resolve them so the job
    path's error (or its own parse) stays authoritative."""
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        for bad in ("20240201", "2024-W05-1"):
            with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
                r.approx_distinct(bad, "2024-03-01")
    finally:
        r.unpersist()


def test_non_utc_session_tz_disables_direct(spark, events):
    """Review r10p3: driver literal math assumes the engine's pinned UTC
    session; under any other timezone the direct path must refuse (job
    and direct would select different bucket sets for string bounds)."""
    tz = spark.conf.get("spark.sql.session.timeZone")
    assert tz == "UTC"
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
        try:
            assert r._sketch_ops() is None  # refused, falls back
        finally:
            r.unpersist()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_size_caps_fall_back_to_job_path(spark, events, monkeypatch):
    """Review r10p3: above the mirror/blob caps the JOB path is the right
    plan (sketch bytes stay in executor cache) — the direct path must
    yield, not ship hundreds of MB through the py4j socket."""
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        want = r.approx_distinct(A, B)
        # mirror cap: rollup "too big" → _bytes_mirror returns False
        monkeypatch.setattr(type(r), "_MIRROR_MAX_ROWS", 2)
        r._drop_mirror()
        r.invalidate_asks()
        got, job_free = _no_jobs(spark, lambda: r.approx_distinct(A, B))
        assert got == want and not job_free
        # blob cap: selection bytes over the ceiling → job path
        monkeypatch.setattr(type(r), "_MIRROR_MAX_ROWS", 120_000)
        monkeypatch.setattr(type(r), "_DIRECT_MAX_BYTES", 8)
        r._drop_mirror()
        r.invalidate_asks()
        got, job_free = _no_jobs(spark, lambda: r.approx_distinct(A, B))
        assert got == want and not job_free
    finally:
        r.unpersist()


def test_stale_mirror_box_cannot_poison_post_merge_asks(spark, events):
    """Review r10p3 (publish race): a direct ask racing a streaming merge
    may finish its collect AFTER the mutation swapped the frame. The
    mirror lives in a box keyed to the frame by IDENTITY, so the racer
    publishes into ITS box and any post-swap ask opens a fresh one —
    simulated here by poisoning the pre-merge box after the merge."""
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        stale_box = r._mirror_box()
        extra = spark.createDataFrame(
            [(BASE + timedelta(hours=1), 77_000 + i, 0.0) for i in range(200)],
            "ts timestamp, uid bigint, v double",
        )
        r.merge_batch(extra, "ts")
        stale_box["m"] = ("poison",)  # the racer's late publish
        after = r.approx_distinct(A, B)  # must open a fresh box
        _force_job_path(r)
        r.invalidate_asks()
        assert after == r.approx_distinct(A, B)
    finally:
        r.unpersist()


def test_invalid_date_shaped_strings_fall_back_to_job_error(spark, events):
    """Review r10p4: '2024-02-30' passes the literal-shape gate but the
    parser's DATE branch raises ValueError — the direct path must swallow
    that into a fallback so the JOB path owns the error (ANSI cast)."""
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        with pytest.raises(Exception, match="CAST_INVALID_INPUT"):
            r.approx_distinct("2024-02-30", "2024-03-01")
    finally:
        r.unpersist()


def test_datetime_bounds_mirror_pyspark_converter(spark, events):
    """Review r10p4: PySpark converts a NAIVE datetime literal via
    time.mktime(timetuple()) in the PYTHON PROCESS's timezone (and
    datetime.timestamp() disagrees for subclasses / DST folds). Under a
    non-UTC process tz, direct and job bounds must still land on the SAME
    buckets — proven by parity on a shifted window."""
    import os
    import time as _t

    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    old_tz = os.environ.get("TZ")
    try:
        os.environ["TZ"] = "America/New_York"
        _t.tzset()
        lo = datetime(2024, 1, 31, 20, 0)  # NY-local = 2024-02-01 01:00Z
        hi = datetime(2024, 2, 1, 1, 0)
        direct, job_free = _no_jobs(spark, lambda: r.approx_distinct(lo, hi))
        assert job_free
        _force_job_path(r)
        r.invalidate_asks()
        assert direct == r.approx_distinct(lo, hi) > 0
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        _t.tzset()
        r.unpersist()


def test_mirror_byte_cap_falls_back(spark, events, monkeypatch):
    """Review r10p4: the rows-only cap missed multi-GB large-sketch
    mirrors — the BYTE cap prices the mirror in one pre-job and yields to
    the job path when it would not fit."""
    r = build_distinct_rollup(events, "ts", "uid", bucket_seconds=3600)
    try:
        want = r.approx_distinct(A, B)
        monkeypatch.setattr(type(r), "_MIRROR_MAX_BYTES", 64)
        r._drop_mirror()
        r.invalidate_asks()
        got, job_free = _no_jobs(spark, lambda: r.approx_distinct(A, B))
        assert got == want and not job_free
    finally:
        r.unpersist()


def test_kll_empty_range_is_none_until_a_merge_lands_rows(spark, events):
    """The engine contract an ingest replay meets: a quantile ask over a
    range that holds no rows yet answers ``None`` (the documented
    ``approx_quantile`` contract, not an estimate) on the direct path and
    the job path alike; once a ``merge_batch`` lands rows in that range,
    both paths answer inside the KLL rank bound of those rows."""
    lo_ts, hi_ts = BASE + timedelta(hours=8), BASE + timedelta(hours=9)
    rng = (str(lo_ts), str(hi_ts))
    r = build_quantile_rollup(events, "ts", "v", bucket_seconds=3600)

    def both_paths():
        out = []
        for force_job in (False, True):
            if force_job:
                _force_job_path(r)
            else:
                _reenable(r)
            assert (r._sketch_ops() is None) == force_job
            r.invalidate_asks()
            out.append(r.approx_quantile(0.9, *rng))
        _reenable(r)
        return out

    try:
        assert both_paths() == [None, None]
        vals = [1000.0 + 7 * i for i in range(60)]
        batch = spark.createDataFrame(
            [(lo_ts + timedelta(seconds=30 * i), 0, v) for i, v in enumerate(vals)],
            "ts timestamp, uid bigint, v double",
        )
        r.merge_batch(batch, "ts")
        eps = 0.04  # KLL k=200 rank-error bracket, as in test_quantiles
        n = len(vals)
        lo = vals[max(0, int((0.9 - eps) * (n - 1)))]
        hi = vals[min(n - 1, int((0.9 + eps) * (n - 1)) + 1)]
        for got in both_paths():
            assert got is not None and lo <= got <= hi, (lo, got, hi)
    finally:
        r.unpersist()

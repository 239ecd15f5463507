"""The r12 day-tier ladder, end to end: a dashboard's series and scalar
asks answered zero-job from per-UTC-day PRE-MERGED sketches — at every
mirror regime, including the one where the raw mirror cannot exist.

Three demos over the driver testdata's events table (hourly theta/HLL
rollups on ``user_id``):

1. SERIES — ``retention_rows_by("week")`` full-span and day-aligned
   restricted: tier-served answers must equal the forced-raw framing and
   the forced job path row-for-row (theta set algebra is exact).
2. SCALAR — ``approx_distinct(a, b)`` with day-aligned bounds rides the
   same tier; unaligned bounds transparently keep the raw/job paths.
3. OVER-CAP — with the mirror caps forced below the rollup's size (the
   100 TB regime: too many raw buckets for driver residency), the tier
   builds via ONE Spark job and every later eligible ask is zero-job.

Run: ``python examples/day_tier_series.py`` (env ``SPARK_GRAFT_SF_DIR``
to point at a larger SF).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def njobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def main() -> None:
    from datafusion_uwheel_spark import WheelEngine, get_spark

    spark = get_spark("day-tier-demo", master="local[8]", shuffle_partitions=8)
    eng = WheelEngine(
        spark, "events", f"{SF_DIR}/events.parquet", time_column="ts"
    )
    tr = eng.build_theta_index("user_id")
    dr = eng.build_distinct_index("user_id")
    A, B = "2024-01-08 00:00:00", "2024-01-22 00:00:00"

    # ---- 1. series: tier == raw == job ---------------------------------
    tr._TIER_MIN_ROWS = 0  # the demo corpus is small; force the tier on
    tiered = tr.retention_rows_by("week", A, B)  # builds the tier once
    tr.invalidate_asks()
    t0 = time.perf_counter()
    j0 = njobs(spark)
    tiered = tr.retention_rows_by("week", A, B)
    dt_tier = time.perf_counter() - t0
    assert njobs(spark) == j0, "warm tier series ask must be zero-job"
    tr._TIER_MIN_ROWS = 10**9
    tr.invalidate_asks()
    raw = tr.retention_rows_by("week", A, B)
    tr._jvm_ops = None
    tr.invalidate_asks()
    t0 = time.perf_counter()
    job = tr.retention_rows_by("week", A, B)
    dt_job = time.perf_counter() - t0
    del tr._jvm_ops
    assert tiered == raw == job, "tier-served series must be exact"
    print(
        f"series by week [{A[:10]}..{B[:10]}]: {len(tiered)} rows — "
        f"tier {dt_tier*1e3:.1f} ms vs job path {dt_job*1e3:.0f} ms"
    )

    # ---- 2. scalar: day-aligned rides the tier, unaligned stays raw ----
    tr._TIER_MIN_ROWS = 0
    tr.invalidate_asks()
    j0 = njobs(spark)
    n_aligned = tr.approx_distinct(A, B)
    assert njobs(spark) == j0, "warm tier scalar ask must be zero-job"
    n_unaligned = tr.approx_distinct("2024-01-08 06:00:00", B)
    print(
        f"scalar approx_distinct: aligned {n_aligned} (zero-job via tier), "
        f"unaligned {n_unaligned} (raw framing, still direct)"
    )

    # ---- 3. over-cap mirror: the job-built tier is the direct path -----
    dr._jvm_ops = None
    want = [tuple(r) for r in (dr.approx_distinct_by("day", A, B).collect())]
    del dr._jvm_ops
    dr.invalidate_asks()
    # force "mirror cannot exist" (the 100 TB regime): a cap between the
    # tier's ~28 day rows and the raw mirror's ~672 hourly rows
    dr._MIRROR_MAX_ROWS = 100
    dr._drop_mirror()
    assert dr._bytes_mirror("__hll") is False
    got = dr.distinct_rows_by("day", A, B)
    # HLL estimates are exact-equal in the coupon regime and bound-equal
    # beyond it (estimator selection is path-dependent) — assert the
    # documented bound so the demo holds at ANY SF_DIR
    assert len(got) == len(want)
    for (bk_g, n_g), (bk_w, n_w) in zip(got, want):
        assert bk_g == bk_w
        if n_w is None:
            assert n_g is None
        else:
            assert abs(n_g - n_w) <= max(2, 0.05 * n_w), (bk_g, n_g, n_w)
    dr.invalidate_asks()
    j0 = njobs(spark)
    got2 = dr.distinct_rows_by("day", A, B)
    assert njobs(spark) == j0 and got2 == got
    print(
        f"over-cap mirror: {len(got)} day cells served zero-job from the "
        "job-built tier (job-path parity at the HLL bound)"
    )

    # ---- 4. r13 rungs: week-level pre-merge + key-total pre-merge ------
    # the coarse rung frames O(weeks) instead of O(days) on a full-span
    # week series; the key-total rung frames O(keys) on full-span keyed
    # asks — both one more level of the same union monoid, so answers are
    # unchanged (theta exact; HLL register-equal).
    tr._TIER_MIN_ROWS = 0
    tr._RUNG_MIN_DAYS = 0  # demo corpus is shallow; force the rung on
    tr._mirror_box().setdefault("levels", {}).pop(("__theta", "week"), None)
    tr.invalidate_asks()
    rung = tr.retention_rows_by("week")  # builds the rung once
    tr.invalidate_asks()
    j0 = njobs(spark)
    rung = tr.retention_rows_by("week")
    assert njobs(spark) == j0, "warm rung ask must be zero-job"
    t = tr._mirror_box()["levels"][("__theta", "week")]
    # the same ask framed from the DAY tier (rung disabled + cache
    # cleared) must give the identical rows — one more merge level of an
    # exact set algebra cannot move a bit
    tr._mirror_box()["levels"].pop(("__theta", "week"))
    tr._RUNG_MIN_DAYS = 10**9
    tr.invalidate_asks()
    assert rung == tr.retention_rows_by("week"), "rung must equal day tier"
    print(
        f"week rung: {len(t[0])} pre-merged week cells serve the "
        f"full-span series (vs per-day framing)"
    )

    # ---- 5. key-total rung + its escape hatch (r13/r14) ----------------
    # full-span *_by_key asks frame O(keys) pre-merged totals; past
    # _TIER_JOB_ESCAPE_BYTES of framing the ask job-routes with EQUAL
    # answers (r14 closed the gap: the keyed rung obeys the same escape
    # as every other tier/rung surface).
    dk = eng.build_distinct_index(
        "user_id", partition_by="event_type"
    )
    dk._jvm_ops = None
    want_k = dk.distinct_rows_by_key(None, None)
    del dk._jvm_ops
    dk.invalidate_asks()
    dk._TIER_MIN_ROWS = 0
    dk._RUNG_MIN_DAYS = 0  # demo corpus is shallow; force the rung on
    got_k = dk.distinct_rows_by_key(None, None)  # builds the rung once
    rung_state = dk._mirror_box()["levels"][("__hll", "key")]
    assert rung_state not in (None, False)
    assert got_k == want_k, "key-total rung must equal the job path"
    dk.invalidate_asks()
    j0 = njobs(spark)
    assert dk.distinct_rows_by_key(None, None) == want_k
    assert njobs(spark) == j0, "warm keyed rung ask must be zero-job"
    dk._TIER_JOB_ESCAPE_BYTES = 0  # force the escape: framing too big
    dk.invalidate_asks()
    j0 = njobs(spark)
    assert dk.distinct_rows_by_key(None, None) == want_k
    assert njobs(spark) > j0, "escaped ask must take the one-job path"
    dk._TIER_JOB_ESCAPE_BYTES = 32 << 20
    print(
        f"key-total rung: {len(rung_state.keys)} per-key totals serve the "
        "full-span keyed series zero-job; past the escape threshold the "
        "one-job merge answers identically"
    )
    print("OK")


if __name__ == "__main__":
    main()

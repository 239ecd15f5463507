"""Benchmark harness — the analogue of the reference's ``nyc_taxi_bench``
(``/root/reference/benchmarks/nyc_taxi_bench/src/main.rs:187-305``): random
second/minute/hour-aligned temporal ranges over the events table, indexed
(wheel lookup, zero Spark jobs) vs vanilla Spark SQL (full scan), plus the
LLM-data operator throughput at the same scale factor.

Prints ONE JSON line:
    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Env: ``SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1),
``SPARK_GRAFT_CPUS`` (default 32).
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from datetime import datetime, timedelta, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

N_INDEXED = 1000  # per family — reference sample size (nyc_taxi_bench/src/main.rs:32-34)
N_VANILLA = 9  # full scans — median; the speedup denominators, so jitter here
               # swings the headline ratios more than anything routed
N_HYBRID = 20  # boundary-sliver queries run one tiny pruned job each
N_PROBE = 15  # materialized-ANN probes (median; local jitter is ±50%)

SPAN_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
SPAN_END = datetime(2024, 1, 30, tzinfo=timezone.utc)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def random_range(rng: random.Random, align_sec: int, min_len: int, max_len: int):
    """Aligned [a, b) range inside the data span — mirrors the reference's
    generators (second/minute/hour alignment, random width)."""
    span = int((SPAN_END - SPAN_START).total_seconds())
    length = rng.randrange(min_len, max_len + 1) * align_sec
    start_off = rng.randrange(0, max(1, (span - length) // align_sec)) * align_sec
    a = SPAN_START + timedelta(seconds=start_off)
    b = a + timedelta(seconds=length)
    fmt = "%Y-%m-%d %H:%M:%S"
    return a.strftime(fmt), b.strftime(fmt)


def sample_calls(fn, n: int) -> list:
    """Seconds per call, IN EXECUTION ORDER (call → fully materialized
    result) — the one sampler every row statistic derives from."""
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return times


def time_calls(fn, n: int) -> float:
    """Median seconds over n calls (nearest-rank, like every quantile in
    this file — an interpolating median could fall OUTSIDE the
    half_medians spread published next to it)."""
    return quantile(sorted(sample_calls(fn, n)), 0.5)


def half_quantiles(times_in_order: list, q: float) -> list:
    """The in-run noise bar (r10), generalized to any quantile (r11
    verdict #6 — the p99/p999 rows were the last naked numbers in BENCH):
    split a row's samples, IN EXECUTION ORDER, into a first and a second
    pass and return [min, max] of the two pass q-quantiles. This is the
    A/B probe discipline (SURVEY 6) moved inside the bench — three rounds
    in a row a shipped p50 drifted +20-30%, each time proven environmental
    by a worktree A/B that burned a session; a reader of BENCH_r{N} can
    now see "row X ms, spread [lo, hi]" and discount any cross-round
    delta smaller than the box's own in-run swing without re-measuring
    anything."""
    n = len(times_in_order)
    if n < 2:
        # A single sample has no in-run spread; substituting 0.0 for the
        # empty first half would publish a fake [0, x] lower bound that
        # reads as infinite noise (ADVICE r10). Degenerate spread instead.
        m = quantile(sorted(times_in_order), q) if n else 0.0
        return [round(m, 5), round(m, 5)]
    h1 = sorted(times_in_order[: n // 2])
    h2 = sorted(times_in_order[n // 2 :])
    m1, m2 = quantile(h1, q), quantile(h2, q)
    return [round(min(m1, m2), 5), round(max(m1, m2), 5)]


def half_medians(times_in_order: list) -> list:
    return half_quantiles(times_in_order, 0.5)


def quantile(sorted_times: list[float], q: float) -> float:
    """The q-quantile of an ascending sample (nearest-rank, ceil(q·n)-th
    order statistic). The r3 spelling ``times[int(n*q)]`` returned the
    sample MAX for p99.9 at n=1000 (index 999), so a single scheduler/GC
    stall owned the published tail (r3 uw_keyed_sum_p999 was 48× the r2
    value from one stall); ceil(0.999·1000)−1 = 998 is the true p99.9."""
    import math

    n = len(sorted_times)
    return sorted_times[max(0, min(n - 1, math.ceil(q * n) - 1))]


def main() -> None:
    from pyspark.sql import functions as F

    from datafusion_uwheel_spark import WheelEngine, get_spark
    from datafusion_uwheel_spark.operators import dedup, model_scoring, similarity
    from datafusion_uwheel_spark.operators import text as text_ops
    from datafusion_uwheel_spark.sources import read_parquet

    spark = get_spark(
        "uwheel-bench", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    queries: dict[str, float] = {}
    #: per-row [min, max] of two in-run pass medians (half_medians) for the
    #: headline rows — read alongside queries[row] to separate code deltas
    #: from box noise without an out-of-band A/B session
    spreads: dict[str, list] = {}

    def timed_spread(family, fn, n):
        """time_calls + the noise bar: record the row's overall median
        AND the two-pass spread from ONE ordered sample (both
        nearest-rank, so the row median always lies inside-or-at its own
        spread)."""
        times = sample_calls(fn, n)
        queries[family] = quantile(sorted(times), 0.5)
        spreads[family] = half_medians(times)
        return queries[family]

    # ------------------------------------------------ engine + index build
    t0 = time.perf_counter()
    eng = WheelEngine(
        spark, "events", f"{SF_DIR}/events.parquet", time_column="ts",
        min_max_columns=("value",),
    )
    eng.build_index("value")
    eng.build_index("value", filter="event_type = 'click'")
    queries["index_build"] = time.perf_counter() - t0
    log(f"index build {queries['index_build']:.2f}s, "
        f"{eng.index_usage_bytes() / 1e6:.1f} MB driver-side")
    t0 = time.perf_counter()
    n_keys = eng.build_partitioned_index("value", partition_by="event_type")
    queries["partitioned_index_build"] = time.perf_counter() - t0
    log(
        f"partitioned_index_build: {queries['partitioned_index_build']:.2f}s "
        f"({n_keys} event_type keys)"
    )

    # Sketch rollups (r4): build once (one aggregation scan each), then
    # probe — each probe is an O(buckets) merge job over the cached sketch
    # table, never a scan of the events table.
    t0 = time.perf_counter()
    dr = eng.build_distinct_index("user_id")
    queries["distinct_index_build"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    qr = eng.build_quantile_index("value")
    queries["quantile_index_build"] = time.perf_counter() - t0
    log(
        f"distinct_index_build {queries['distinct_index_build']:.2f}s, "
        f"quantile_index_build {queries['quantile_index_build']:.2f}s"
    )
    _qa, _qb = "2024-01-05 00:00:00", "2024-01-12 00:00:00"

    def fresh(rollup, ask):
        # r9: repeated asks memoize (sketch_retention._memoized_ask), so
        # the existing probe rows clear the memo per call to keep pricing
        # the FRESH-ask job; the *_memo rows price the hit path.
        def run():
            rollup.invalidate_asks()
            return ask()
        return run

    # fresh asks (memo cleared per call). Since r10 these answer DIRECT —
    # the range's sketch bytes merge in the driver's JVM through ONE py4j
    # call (sketch_retention.py), zero Spark jobs; the *_jobpath rows pin
    # what the same ask costs through a Spark job over the cached rollup
    # (the pre-r10 economics, and the fallback on shim-less sessions).
    timed_spread(
        "uw_approx_distinct",
        fresh(dr, lambda: dr.approx_distinct(_qa, _qb)), N_PROBE,
    )
    dr._jvm_ops = None
    timed_spread(
        "uw_approx_distinct_jobpath",
        fresh(dr, lambda: dr.approx_distinct(_qa, _qb)), N_PROBE,
    )
    del dr._jvm_ops
    timed_spread("uw_approx_distinct_memo", 
        lambda: dr.approx_distinct(_qa, _qb), N_PROBE
    )
    timed_spread(
        "uw_approx_quantile",
        fresh(qr, lambda: qr.approx_quantile([0.5, 0.95, 0.99], _qa, _qb)),
        N_PROBE,
    )
    qr._jvm_ops = None
    timed_spread(
        "uw_approx_quantile_jobpath",
        fresh(qr, lambda: qr.approx_quantile([0.5, 0.95, 0.99], _qa, _qb)),
        N_PROBE,
    )
    del qr._jvm_ops
    timed_spread("uw_approx_quantile_memo", 
        lambda: qr.approx_quantile([0.5, 0.95, 0.99], _qa, _qb), N_PROBE
    )
    log(
        f"sketch fresh asks: distinct direct "
        f"{queries['uw_approx_distinct']*1e3:.2f} ms vs job "
        f"{queries['uw_approx_distinct_jobpath']*1e3:.0f} ms; quantile "
        f"direct {queries['uw_approx_quantile']*1e3:.2f} ms vs job "
        f"{queries['uw_approx_quantile_jobpath']*1e3:.0f} ms; memo hits "
        f"{queries['uw_approx_distinct_memo']*1e6:.0f} / "
        f"{queries['uw_approx_quantile_memo']*1e6:.0f} µs"
    )
    timed_spread("uw_approx_quantile_by_day", 
        lambda: qr.approx_quantile_by("day", 0.95).count(), N_PROBE
    )
    # r11: the GROUPED (dashboard-series) forms' direct path — the whole
    # per-day series answers from the driver mirror in ONE batched py4j
    # call (UwheelSketchOps.*Grouped); the *_jobpath controls pin the
    # per-ask Spark-job floor the r10 verdict flagged (~180-400 ms).
    timed_spread(
        "uw_distinct_by_day_direct",
        fresh(dr, lambda: dr.distinct_rows_by("day")), N_PROBE,
    )
    dr._jvm_ops = None
    timed_spread(
        "uw_distinct_by_day_jobpath",
        fresh(dr, lambda: dr.distinct_rows_by("day")), N_PROBE,
    )
    del dr._jvm_ops
    timed_spread(
        "uw_quantile_by_day_direct",
        fresh(qr, lambda: qr.quantile_rows_by("day", 0.95)), N_PROBE,
    )
    qr._jvm_ops = None
    timed_spread(
        "uw_quantile_by_day_jobpath",
        fresh(qr, lambda: qr.quantile_rows_by("day", 0.95)), N_PROBE,
    )
    del qr._jvm_ops
    # parity guard, BOUND-based for HLL (probe-pinned r11: per-bucket
    # sketches at real scale stay in coupon mode, where the union's HIP
    # estimator is UPDATE-ORDER-dependent — six shuffles of one day's 24
    # sketches gave six estimates in [1318, 1330] around the true ~1330,
    # and the job's own aggregation order is arbitrary. Direct and job
    # are both valid estimates within the HLL bound; exact equality is a
    # small-scale/exact-regime property only, like KLL's randomized
    # merges). invalidate FIRST — the memo still holds the jobpath
    # loop's last answer (r11 review: the old assert compared job to job)
    dr.invalidate_asks()
    _gd = dr.distinct_rows_by("day")  # genuinely direct
    dr._jvm_ops = None
    dr.invalidate_asks()
    _gj = dr.distinct_rows_by("day")
    assert len(_gd) == len(_gj) and all(
        a[0] == b[0]
        and (a[1] is None) == (b[1] is None)
        and (a[1] is None or abs(a[1] - b[1]) <= max(2, 0.05 * b[1]))
        for a, b in zip(_gd, _gj)
    ), "grouped HLL direct outside the estimate bound of the job rows"
    del dr._jvm_ops
    dr.invalidate_asks()
    log(
        f"grouped sketch asks (per-day series): distinct direct "
        f"{queries['uw_distinct_by_day_direct']*1e3:.2f} ms vs job "
        f"{queries['uw_distinct_by_day_jobpath']*1e3:.0f} ms; quantile "
        f"direct {queries['uw_quantile_by_day_direct']*1e3:.2f} ms vs job "
        f"{queries['uw_quantile_by_day_jobpath']*1e3:.0f} ms"
    )
    # r11: KEYED direct asks (same-type gate — string ask on the string
    # partition key; cross-type coercion stays on the job path). Closes
    # the last scalar-ask job floor the r10 verdict listed as #6.
    from datafusion_uwheel_spark.operators.distinct import build_distinct_rollup

    drk = build_distinct_rollup(
        eng.table(), "ts", "user_id", bucket_seconds=3600,
        partition_by="event_type",
    )
    timed_spread(
        "uw_keyed_distinct_direct",
        fresh(drk, lambda: drk.approx_distinct(_qa, _qb, key="click")),
        N_PROBE,
    )
    drk._jvm_ops = None
    timed_spread(
        "uw_keyed_distinct_jobpath",
        fresh(drk, lambda: drk.approx_distinct(_qa, _qb, key="click")),
        N_PROBE,
    )
    del drk._jvm_ops  # BEFORE the by_key direct row (r11: the first run
    # of this block timed the 'direct' row with the handle still forced
    # to None from the jobpath above — 210 ms of job path labeled direct)
    # the per-key SERIES form too (approx_distinct_by_key's floor — the
    # last *_by_key shape from the r10 verdict's #1)
    timed_spread(
        "uw_distinct_by_key_direct",
        fresh(drk, lambda: drk.distinct_rows_by_key(_qa, _qb)), N_PROBE,
    )
    drk._jvm_ops = None
    timed_spread(
        "uw_distinct_by_key_jobpath",
        fresh(drk, lambda: drk.distinct_rows_by_key(_qa, _qb)), N_PROBE,
    )
    del drk._jvm_ops
    drk.invalidate_asks()
    _kd = drk.approx_distinct(_qa, _qb, key="click")  # genuinely direct
    drk._jvm_ops = None
    drk.invalidate_asks()
    _kj = drk.approx_distinct(_qa, _qb, key="click")
    # bound-based like the grouped HLL guard above (coupon-regime HIP
    # estimates are update-order-dependent on BOTH paths)
    assert abs(_kd - _kj) <= max(2, 0.05 * _kj), (
        "keyed direct outside the estimate bound of the job value"
    )
    del drk._jvm_ops
    drk.unpersist()
    log(
        f"keyed sketch ask: direct {queries['uw_keyed_distinct_direct']*1e3:.2f} ms "
        f"vs job {queries['uw_keyed_distinct_jobpath']*1e3:.0f} ms"
    )
    # Theta set algebra (r5): retention between two weeks from the cached
    # sketch wheel — the vanilla equivalent is TWO distinct scans + an
    # intersection shuffle; the probe is one tiny job over the buckets.
    t0 = time.perf_counter()
    tr = eng.build_theta_index("user_id")
    queries["theta_index_build"] = time.perf_counter() - t0
    _r1 = ("2024-01-01 00:00:00", "2024-01-08 00:00:00")
    _r2 = ("2024-01-08 00:00:00", "2024-01-15 00:00:00")
    timed_spread(
        "uw_theta_retained",
        fresh(tr, lambda: tr.approx_retained(_r1, _r2)), N_PROBE,
    )
    tr._jvm_ops = None
    timed_spread(
        "uw_theta_retained_jobpath",
        fresh(tr, lambda: tr.approx_retained(_r1, _r2)), N_PROBE,
    )
    del tr._jvm_ops
    timed_spread("uw_theta_retained_memo", 
        lambda: tr.approx_retained(_r1, _r2), N_PROBE
    )
    # r11: the retention SERIES (period-over-period, per week) — unions
    # AND consecutive intersections in one batched call vs one job per ask
    timed_spread(
        "uw_retention_by_week_direct",
        fresh(tr, lambda: tr.retention_rows_by("week")), N_PROBE,
    )
    tr._jvm_ops = None
    timed_spread(
        "uw_retention_by_week_jobpath",
        fresh(tr, lambda: tr.retention_rows_by("week")), N_PROBE,
    )
    del tr._jvm_ops
    tr.invalidate_asks()  # see the HLL twin: memo holds the JOB rows here
    _gr = tr.retention_rows_by("week")  # genuinely direct
    tr._jvm_ops = None
    tr.invalidate_asks()
    assert tr.retention_rows_by("week") == _gr, "grouped theta direct != job"
    del tr._jvm_ops
    tr.invalidate_asks()
    log(
        f"retention series (per-week): direct "
        f"{queries['uw_retention_by_week_direct']*1e3:.2f} ms vs job "
        f"{queries['uw_retention_by_week_jobpath']*1e3:.0f} ms"
    )
    _tn = tr.approx_retained(_r1, _r2)
    assert _tn > 0, "theta retention probe returned 0 on sf data"
    log(
        f"theta_index_build {queries['theta_index_build']:.2f}s, "
        f"retained={_tn}"
    )
    # r11: the per-key COHORT table (retained_by_key's floor — the last
    # *_by_key form): both ranges' per-key unions AND intersections in
    # one batched py4j call vs one Spark job per ask.
    from datafusion_uwheel_spark.operators.theta import build_theta_rollup

    trk = build_theta_rollup(
        eng.table(), "ts", "user_id", bucket_seconds=3600,
        partition_by="event_type",
    )
    timed_spread(
        "uw_retained_by_key_direct",
        fresh(trk, lambda: trk.retained_rows_by_key(_r1, _r2)), N_PROBE,
    )
    trk._jvm_ops = None
    timed_spread(
        "uw_retained_by_key_jobpath",
        fresh(trk, lambda: trk.retained_rows_by_key(_r1, _r2)), N_PROBE,
    )
    del trk._jvm_ops
    trk.invalidate_asks()  # memo holds the JOB rows here
    _ck = trk.retained_rows_by_key(_r1, _r2)  # genuinely direct
    trk._jvm_ops = None
    trk.invalidate_asks()
    # theta algebra is update-order-free: parity is EXACT, no bound needed
    assert trk.retained_rows_by_key(_r1, _r2) == _ck, (
        "keyed theta cohort direct != job rows"
    )
    del trk._jvm_ops
    trk.unpersist()
    log(
        f"cohort retention by key: direct "
        f"{queries['uw_retained_by_key_direct']*1e3:.2f} ms vs job "
        f"{queries['uw_retained_by_key_jobpath']*1e3:.0f} ms"
    )
    # Heavy-hitters top-k (r8): "top event types in a week" from the
    # truncated-counter rollup — one tiny job over the cached buckets; the
    # vanilla equivalent scans + full GROUP BY + sort every ask.
    t0 = time.perf_counter()
    fr = eng.build_topk_index("event_type", bucket_seconds=3600, capacity=8)
    queries["freq_index_build"] = time.perf_counter() - t0
    timed_spread(
        "uw_freq_topk",
        lambda: fr.approx_topk(_qa, _qb, k=4).collect(), N_PROBE,
    )
    timed_spread("uw_freq_topk_by_day", 
        lambda: fr.approx_topk_by("day", k=2).count(), N_PROBE
    )
    # r9: the driver-resident direct path — same (item, est, upper) rows
    # from the numpy kept-rows mirror, ZERO Spark jobs (the wheels'
    # sql_rows economics extended to the sketch probe; kills the ~100 ms
    # small-job floor that made the probe slower than the scan at sf0.1)
    timed_spread("uw_freq_topk_direct", 
        lambda: fr.topk_rows(_qa, _qb, k=4), N_PROBE
    )
    timed_spread("uw_freq_topk_by_day_direct", 
        lambda: fr.topk_rows_by("day", k=2), N_PROBE
    )
    _fk = fr.approx_topk(_qa, _qb, k=4).collect()
    assert len(_fk) == 4 and fr.total_err(_qa, _qb) == 0, _fk
    assert [tuple(r) for r in _fk] == fr.topk_rows(_qa, _qb, k=4)
    assert [tuple(r) for r in fr.approx_topk_by("day", k=2).collect()] == (
        fr.topk_rows_by("day", k=2)
    )
    log(f"uw_freq_topk_direct: {queries['uw_freq_topk_direct']*1e3:.2f} ms median")
    log(
        f"freq_index_build {queries['freq_index_build']:.2f}s, "
        f"top={_fk[0]['item']}={_fk[0]['est']}"
    )
    # The scan-path denominators for the sketch probes (exact answers, full
    # reads). The probes sit at the local small-job floor (~130 ms: a bare
    # count() on the cached sketch table costs the same); at scale the scan
    # grows with the table while the probe stays O(buckets).
    ev_view = read_parquet(spark, f"{SF_DIR}/events.parquet")
    ev_view.createOrReplaceTempView("events_raw")
    timed_spread("vanilla_count_distinct", lambda: spark.sql(
            f"SELECT COUNT(DISTINCT user_id) FROM events_raw "
            f"WHERE ts >= '{_qa}' AND ts < '{_qb}'"
        ).collect(),
        N_VANILLA,
    )
    timed_spread("vanilla_percentile", lambda: spark.sql(
            f"SELECT percentile_approx(value, array(0.5, 0.95, 0.99)) "
            f"FROM events_raw WHERE ts >= '{_qa}' AND ts < '{_qb}'"
        ).collect(),
        N_VANILLA,
    )
    timed_spread("vanilla_topk", lambda: spark.sql(
            "SELECT event_type, count(*) AS n FROM events_raw "
            f"WHERE ts >= '{_qa}' AND ts < '{_qb}' "
            "GROUP BY 1 ORDER BY n DESC, event_type LIMIT 4"
        ).collect(),
        N_VANILLA,
    )
    timed_spread("vanilla_retained", lambda: spark.sql(
            "SELECT count(*) FROM ("
            "SELECT DISTINCT user_id FROM events_raw "
            f"WHERE ts >= '{_r1[0]}' AND ts < '{_r1[1]}' "
            "INTERSECT SELECT DISTINCT user_id FROM events_raw "
            f"WHERE ts >= '{_r2[0]}' AND ts < '{_r2[1]}')"
        ).collect(),
        N_VANILLA,
    )

    # ------------------------------------------------- LLM-data operators
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.createOrReplaceTempView("documents")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # Bounded JVM warmup so the first timed rows are not cold-JIT
    # measurements, while staying decoupled from the 1000-query routed
    # families' codegen-cache aging (these rows ran AFTER those families
    # until r3; both contexts skewed them — cold-start up to ~2x, aged JVM
    # up to ~1.6x).
    wrng = random.Random(7)
    for _ in range(100):
        a, b = random_range(wrng, 60, 10, 2880)
        eng.sql(
            f"SELECT COUNT(*) AS n FROM events WHERE ts >= '{a}' AND ts < '{b}'"
        ).collect()
    spark.sql(
        "SELECT event_type, COUNT(*) AS n, SUM(value) AS s FROM events GROUP BY event_type"
    ).collect()
    from datafusion_uwheel_spark.operators import dedup as _warm_dedup

    _warm_dedup.with_minhash_signature(docs.limit(64)).count()  # Arrow path
    docs.join(docs.limit(64), on="doc_id", how="left_semi").count()  # join codegen

    # Operator rows: median of N_OP full runs (single-shot timings carried
    # ±20% box noise round-over-round — r3 VERDICT "what's wrong" item 3).
    N_OP = 3

    def med(family, fn, n=N_OP):
        times, rows = [], None
        for _ in range(n):
            t0 = time.perf_counter()
            rows = fn()
            times.append(time.perf_counter() - t0)
        # nearest-rank like every other row statistic in this file: a
        # published value is always an OBSERVED sample; spread since r11
        # (dedup_minhash warm medians were a known spread-less noise row)
        queries[family] = quantile(sorted(times), 0.5)
        spreads[family] = half_medians(times)
        log(f"{family}: {queries[family]:.2f}s median of {n} ({rows} rows)")

    med("dedup_exact", lambda: dedup.dedup_exact(docs).count())

    def stream_dedup_run():
        # ingestion-time dedup: a fresh batch filtered against a digest
        # corpus seeded from the documents table (bucket-pruned anti-join
        # + per-bucket state append per micro-batch)
        import shutil
        import tempfile

        from datafusion_uwheel_spark.operators.stream_dedup import CorpusDedup

        d = tempfile.mkdtemp(prefix="bench_stream_dedup_")
        try:
            cd = CorpusDedup(spark, f"{d}/digests", n_buckets=64)
            # the r6 at-least-once contract, priced end-to-end: prepare
            # (filter + eager checkpoint), "sink write" (the count stands
            # in), THEN commit the state append — the exact two-phase
            # sequence attach() drives per micro-batch
            survivors, pending = cd.prepare_batch(docs)  # seed the corpus
            survivors.count()
            cd.commit(pending)
            batch = docs.withColumn(
                "doc_id", F.col("doc_id") + 1_000_000
            )  # same content, new ids → all dropped
            survivors, pending = cd.prepare_batch(batch)
            n = survivors.count()
            cd.commit(pending)
            assert n == 0, f"seeded content leaked through: {n}"
            return n
        finally:
            shutil.rmtree(d, ignore_errors=True)

    med("dedup_stream_corpus", stream_dedup_run)

    # Ingestion-time per-key cap (r6 operator, first bench row r7): a real
    # checkpointed stream where one hot key floods every micro-batch and 50
    # cold keys trickle. Steady-state per-batch latency is the metric;
    # state must stay ONE bigint per distinct key (flat as batches pass —
    # the state-rows figure is recorded alongside).
    def stream_cap_run():
        import shutil
        import tempfile

        from datafusion_uwheel_spark.streaming import stream_cap_per_key

        d = tempfile.mkdtemp(prefix="bench_stream_cap_")
        cap_schema = "doc_id long, source string"

        def write_batch(b):
            rows = [(b * 100_000 + i, "hot") for i in range(2_000)] + [
                (b * 100_000 + 50_000 + i, f"cold_{i % 50}")
                for i in range(500)
            ]
            spark.createDataFrame(rows, cap_schema).write.mode(
                "append"
            ).parquet(f"{d}/src")

        try:
            write_batch(0)
            stream = spark.readStream.schema(cap_schema).parquet(f"{d}/src")
            out = stream_cap_per_key(stream, "source", 100, order_by="doc_id")
            q = (
                out.writeStream.format("memory")
                .queryName("bench_cap_out")
                .option("checkpointLocation", f"{d}/ckpt")
                .start()
            )
            try:
                q.processAllAvailable()  # batch 0: hot hits its cap here
                btimes = []
                for b in range(1, 6):
                    write_batch(b)
                    t0 = time.perf_counter()
                    q.processAllAvailable()
                    btimes.append(time.perf_counter() - t0)
                state_rows = (q.lastProgress or {}).get(
                    "stateOperators", [{}]
                )[0].get("numRowsTotal")
                admitted = spark.sql(
                    "SELECT count(*) AS n FROM bench_cap_out"
                ).collect()[0]["n"]
            finally:
                q.stop()
            # hot capped at 100 forever; 50 cold keys × 10 rows × 6 batches
            assert admitted == 100 + 50 * 10 * 6, admitted
            assert state_rows is None or state_rows == 51, state_rows
            btimes.sort()
            queries["stream_cap_per_key"] = btimes[len(btimes) // 2]
            if state_rows is not None:
                queries["stream_cap_state_rows"] = state_rows
            log(
                f"stream_cap_per_key: p50 {queries['stream_cap_per_key']:.2f}s "
                f"per 2500-row batch (hot key past cap), state rows "
                f"{state_rows} (= distinct keys, flat)"
            )
        finally:
            shutil.rmtree(d, ignore_errors=True)

    stream_cap_run()

    def minhash_run():
        pairs = dedup.lsh_candidate_pairs(
            dedup.with_minhash_signature(docs), min_est_jaccard=0.35
        )
        n = pairs.count()
        dedup.release_signatures(pairs)  # no cached blocks linger post-bench
        return n

    med("dedup_minhash_lsh", minhash_run)

    def cluster_run():
        # the full dedup pipeline: signatures → banded pairs → connected
        # components → transitive keep-one
        pairs = dedup.lsh_candidate_pairs(
            dedup.with_minhash_signature(docs), min_est_jaccard=0.35
        )
        n = dedup.dedup_clustered(docs, pairs).count()
        dedup.release_signatures(pairs)
        return n

    med("dedup_cluster_pipeline", cluster_run)
    # Aggregate over the fingerprint so the column cannot be pruned — a bare
    # count() lets Catalyst drop the simhash expression entirely (r2's
    # 0.23 s for this row measured a pruned no-op, not SimHash).
    med(
        "dedup_simhash",
        lambda: dedup.with_simhash(docs).agg(F.sum("simhash")).collect()[0][0],
    )
    # Same pruning trap as simhash: a bare count() let Catalyst drop every
    # computed column, so the r2/r3 numbers timed a bare scan (r3 VERDICT
    # "what's wrong" item 1). Aggregating over one output of each stage
    # forces token stats, quality, and lang-id to actually evaluate.
    # The text ops are pure projections (no implicit repartition — the
    # operators stay shuffle-free for callers); the bench input is ONE
    # parquet file, so spread it across cores first, as any production
    # multi-file source already arrives.
    docs_wide = docs.repartition(int(CPUS))
    med(
        "text_pipeline",
        lambda: text_ops.with_lang_id(
            text_ops.with_quality(text_ops.with_token_stats(docs_wide))
        )
        .agg(
            F.sum("n_tokens"),
            F.sum("quality_score"),
            F.count_distinct("lang_pred"),
        )
        .collect()[0][0],
    )

    def gopher_run():
        # aggregate over every rule column so Catalyst cannot prune any of
        # the gate's work (the text_pipeline pruning lesson)
        r = (
            text_ops.with_gopher_rules(docs_wide, min_words=10)
            .agg(
                F.sum(F.col("gopher_pass").cast("long")).alias("n_pass"),
                *[
                    F.sum(F.col(c).cast("long"))
                    for c in (
                        "gr_word_count", "gr_mean_word_len",
                        "gr_symbol_ratio", "gr_bullet_lines",
                        "gr_ellipsis_lines", "gr_alpha_words",
                        "gr_required_words",
                    )
                ],
            )
            .collect()[0]
        )
        assert r["n_pass"] is not None
        return int(r["n_pass"])

    med("text_gopher_gate", gopher_run)

    # model-scoring injection point (r9): prices the Arrow/mapInPandas
    # plumbing with a cheap deterministic stand-in scorer — the per-call
    # model cost is the user's; the row tracks OUR overhead per doc
    def _bench_scorer():
        def scorer(texts):
            return [min(len(t) / 1000.0, 1.0) for t in texts]
        return scorer

    med(
        "model_score_filter",
        lambda: model_scoring.filter_by_score(
            docs_wide, _bench_scorer(), 0.5, keep_score=False
        ).count(),
    )
    med(
        "text_chunk_256",
        lambda: text_ops.chunk_documents(docs_wide, 256, overlap=32)
        .agg(F.count(F.lit(1)), F.sum("chunk_tokens"))
        .collect()[0][0],
    )
    # Temporal-join operators (r4) on the events table: sessionize by user,
    # as-of enrich each event with the latest per-type hourly rollup, and
    # count events per session interval via the bucketized range join.
    from datafusion_uwheel_spark.operators import asof, rangejoin, sessions

    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    med(
        "sessionize_events",
        lambda: sessions.session_agg(ev, on="ts", by=("user_id",), gap=1800.0)
        .agg(F.count(F.lit(1)), F.sum("n_events"))
        .collect()[0][0],
    )
    hourly = (
        ev.groupBy(F.date_trunc("hour", "ts").alias("ts"), "event_type")
        .agg(F.avg("value").alias("hr_avg"), F.count(F.lit(1)).alias("hr_n"))
    )
    med(
        "asof_enrich_events",
        lambda: asof.asof_join(
            ev.select("event_id", "ts", "event_type"),
            hourly,
            on="ts",
            by=("event_type",),
            tolerance=7200.0,
        )
        .agg(F.count(F.lit(1)), F.sum("hr_n"))
        .collect()[0][0],
    )
    sess_iv = sessions.session_agg(ev, on="ts", by=("user_id",), gap=1800.0)
    med(
        "range_join_sessions",
        lambda: rangejoin.range_join(
            ev.select("event_id", "ts", "user_id"),
            sess_iv,
            "ts",
            "session_start",
            "session_end",
            by=("user_id",),
            bucket=1800.0,
            bounds="[]",
        )
        .agg(F.count(F.lit(1)))
        .collect()[0][0],
    )

    from datafusion_uwheel_spark.operators import packing

    med(
        "pack_sequences_2k",
        lambda: packing.pack_sequences(
            text_ops.with_token_stats(docs_wide).select("doc_id", "n_tokens"),
            2048,
        )
        .select("seq_id")
        .distinct()
        .count(),
    )
    # domain-frequency cap (r6): skew-safe two-stage top-k per source —
    # best 100 docs per domain by length, no SinglePartition funnel
    med(
        "cap_per_key_100",
        lambda: packing.cap_per_key(
            docs, "source", 100, order_by=F.col("n_chars").desc()
        ).count(),
    )
    # Seed PII-bearing docs: the synthetic corpus carries no emails/phones,
    # so without them a zero count can't distinguish "scrub ran" from
    # "regexes broke" (r4 VERDICT "what's wrong" item 3). The asserts make
    # the row FAIL on a regex regression instead of printing a quiet zero.
    pii_seed = spark.createDataFrame(
        [
            (-1, "contact alice@example.com or bob@test.org today"),
            (-2, "call 415-555-0123 or +14155550123 from 10.0.0.1"),
        ],
        "doc_id long, text string",
    )
    pii_docs = docs_wide.select("doc_id", "text").unionByName(pii_seed)

    def pii_run():
        row = (
            text_ops.with_repetition_stats(text_ops.with_pii_scrub(pii_docs))
            .agg(
                F.sum("n_email").alias("e"),
                F.sum("n_phone").alias("p"),
                F.sum("n_ipv4").alias("ip"),
                F.sum("dup_token_ratio").alias("d"),
                F.sum(F.length("text_scrubbed")).alias("s"),
            )
            .collect()[0]
        )
        assert row["e"] >= 2 and row["p"] >= 2 and row["ip"] >= 1, (
            f"PII regexes matched nothing on seeded docs: {row}"
        )
        assert row["s"] and row["s"] > 0, "scrubbed text evaluated empty"
        return row["e"]

    med("text_pii_repetition", pii_run)

    # Train/eval decontamination: held-out = verbatim snippets of a few
    # corpus docs (guaranteed hits — the assert fails if the gram join
    # breaks) against the full corpus; one gram join, held-out side
    # broadcast by AQE.
    from datafusion_uwheel_spark.operators import contamination

    held_seed = docs.limit(5).select(
        "doc_id", F.substring("text", 1, 400).alias("text")
    )

    def contam_run():
        row = (
            contamination.with_contamination(
                docs_wide.select("doc_id", "text"), held_seed, n=13
            )
            .agg(
                F.sum(F.col("contaminated").cast("long")).alias("c"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        assert row["c"] >= 1, "seeded held-out snippets were not flagged"
        return row["c"]

    med("text_decontaminate", contam_run)

    # Bloom-prefiltered variant (r11): held-out grams collapse into one
    # fixed-size blob, the corpus gram stream filters on a codegen'd
    # uw_might_contain literal (no join on the big side), exact verify
    # join only on survivors — identical answer, which the assert pins
    # against the exact row's count above.
    _exact_contam = contam_run()  # outside the timed row

    def contam_bloom_run():
        row = (
            contamination.with_contamination_bloom(
                docs_wide.select("doc_id", "text"), held_seed, n=13
            )
            .agg(
                F.sum(F.col("contaminated").cast("long")).alias("c"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        assert row["c"] == _exact_contam, (
            f"bloom path diverged from exact: {row['c']} != {_exact_contam}"
        )
        return row["c"]

    med("text_decontaminate_bloom", contam_bloom_run)

    # Fuzzy (MinHash) decontamination (r11): the NON-verbatim leak guard —
    # truncated snippets of one-seventh of the docs as the held-out set
    # (truncation makes the leak non-verbatim by construction). The assert
    # pins a floor: at least half of the snippet SOURCES must come back
    # flagged (their own truncations are guaranteed near-dups; the
    # shortfall budget covers shingle-less/short docs).
    def contam_fuzzy_run():
        held_fz = docs.filter(F.col("doc_id") % 7 == 0).select(
            "doc_id", F.substring("text", 1, 400).alias("text")
        )
        out = contamination.with_contamination_fuzzy(
            docs_wide.select("doc_id", "text"), held_fz, min_est_jaccard=0.5
        )
        n_src = out.filter("contaminated AND doc_id % 7 = 0").count()
        n = out.filter("contaminated").count()
        out._uw_release()
        assert n_src >= held_fz.count() // 2, (n_src, held_fz.count())
        return n

    med("text_decontaminate_fuzzy", contam_fuzzy_run)

    # Exact substring-span dedup (r11, the ExactSubstr pass at window
    # granularity): gram groupBy with map-side combine + a 1-row-per-key
    # join back + per-doc island merge — hashed keys (the corpus-scale
    # shuffle shape). The real documents table carries genuinely repeated
    # passages (the verify drive found 47 spans at window=8), so the
    # assert guards the whole gram->count->join->island chain.
    from datafusion_uwheel_spark.operators import substring as subdup

    def substr_run():
        n = subdup.duplicate_spans(
            docs_wide.select("doc_id", "text"), window=8, hashed=True
        ).count()
        assert n > 0, "no duplicated spans on the documents corpus"
        return n

    med("dedup_substring_spans", substr_run)

    def substr_mask_run():
        # the full remove-all-but-one pass: spans + per-doc collect + token
        # filter rebuild; count of shortened docs proves the mask applied
        return subdup.mask_duplicate_spans(
            docs_wide.select("doc_id", "text"), window=8, hashed=True
        ).filter("length(text_dedup) < length(text)").count()

    med("dedup_substring_mask", substr_mask_run)

    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 1).select("embedding").head()[0]
    ]
    dim = len(qvec)

    # SemDeDup (r11): cluster-pruned semantic dedup — trained spherical-
    # k-means centroids (one seeded-sample job, timed separately), then
    # the within-cluster self-join + greedy earlier-neighbor rule. The
    # per-cluster quadratic is the design point: cost is governed by k,
    # never all-pairs across the corpus.
    from datafusion_uwheel_spark.operators import semantic_dedup as semdd

    _sd_times = []
    for _ in range(2):  # two-sample spread, the one-shot-build discipline
        t0 = time.perf_counter()
        _sd_cents = similarity.train_ivf_centroids(emb, dim, k=16, seed=42)
        _sd_times.append(time.perf_counter() - t0)
    queries["semdedup_train"] = quantile(sorted(_sd_times), 0.5)
    spreads["semdedup_train"] = half_medians(_sd_times)
    log(f"semdedup_train: {queries['semdedup_train']:.2f}s (k=16 spherical k-means)")
    _sd_total = emb.count()  # assert baseline, outside the timed rows

    _sd_kept = {}  # batch-row kept count, pinned against the stream row

    def semdedup_run(kernel=True):
        # threshold matches the corpus's similarity structure (synthetic
        # embeddings cluster loosely — 0.4 is where dup pairs live, see
        # EMB_DUP_T): the assert proves the pass actually drops rows
        kept = semdd.semdedup(
            emb, _sd_cents, threshold=0.4, use_pandas_udf=kernel
        ).count()
        assert 0 < kept < _sd_total, (kept, _sd_total)
        _sd_kept["n"] = kept
        return kept

    med("dedup_semantic", semdedup_run)
    # expression-path control (the oracle-mirrored spec): same answer,
    # prices the per-cluster numpy matrix vs the fold self-join
    med("dedup_semantic_expr", lambda: semdedup_run(kernel=False))

    def _dir_bytes(p):
        import os as _os

        total = 0
        for root, _dirs, files in _os.walk(p):
            for f in files:
                total += _os.path.getsize(_os.path.join(root, f))
        return total

    _sem_state_bytes = {}

    def semantic_stream_run(quantize=None):
        # ingestion-time SEMANTIC dedup (r11): batch 1 seeds the IVF-celled
        # vector state (within-batch SemDeDup included), batch 2 re-crawls
        # the same embeddings under new ids — every row must drop against
        # the recorded corpus (cell-pruned join + per-cell state append)
        import shutil
        import tempfile

        from datafusion_uwheel_spark.operators.stream_dedup import (
            SemanticCorpusDedup,
        )

        d = tempfile.mkdtemp(prefix="bench_sem_stream_")
        try:
            sd = SemanticCorpusDedup(
                spark, f"{d}/vectors", _sd_cents, threshold=0.4,
                quantize=quantize,
            )
            survivors, pending = sd.prepare_batch(emb)
            n1 = survivors.count()
            sd.commit(pending)
            batch = emb.withColumn("vec_id", F.col("vec_id") + 1_000_000)
            survivors, pending = sd.prepare_batch(batch)
            n = survivors.count()
            sd.commit(pending)
            # batch/stream consistency PINNED: seeding an empty state is
            # exactly the batch SemDeDup pass (same centroids, threshold,
            # keep order), so the kept counts must be equal. Zero/NULL
            # embeddings pass through SemanticCorpusDedup BY DESIGN (NULL
            # cosine pairs with nothing), so the replay floor is the
            # pass-through count, not a hard 0 — the pin must not depend
            # on the synthetic generator never emitting a degenerate
            # vector (r11 ADVICE).
            n_pass = emb.where(
                F.col("embedding").isNull()
                | (similarity.norm_sq_col("embedding") == 0.0)
            ).count()
            assert n1 == _sd_kept["n"] and n == n_pass, (
                n1, _sd_kept, n, n_pass,
            )
            _sem_state_bytes[quantize or "float32"] = _dir_bytes(
                f"{d}/vectors/vectors"
            )
            return n1
        finally:
            shutil.rmtree(d, ignore_errors=True)
            # each run leaves two eager localCheckpoints per batch pinned
            # until Python GC drops the frame refs — across the four
            # samples (float32 + q8, two each) the accumulated blocks
            # degraded later samples 2-4x in-session (r12: [17, 32] s then
            # [69, 91] s, while a fresh session ran the SAME q8 code at
            # 20 s). Collect promptly so each sample prices the operator,
            # not its predecessors' leftovers.
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()

    # two samples: the row prices TWO full batch passes (~30 s each run at
    # sf0.1) and the [min, max] spread needs no more; n1 equals the batch
    # dedup_semantic row's kept count — cross-form consistency for free
    med("dedup_semantic_stream", semantic_stream_run, n=2)
    # int8-state variant (r12): SAME kept counts pinned by the asserts
    # inside the run (decision parity on this corpus), state ~4x smaller —
    # the verdict's state-size lever, measured not claimed
    med(
        "dedup_semantic_stream_q8",
        lambda: semantic_stream_run(quantize="int8"),
        n=2,
    )
    # bytes ride a TOP-LEVEL field like stream_retention_bytes_per_day —
    # queries{} holds seconds only (bench_total sums it)
    if _sem_state_bytes.get("float32"):
        log(
            f"semantic stream state: float32 "
            f"{_sem_state_bytes['float32']/1e6:.2f} MB -> int8 "
            f"{_sem_state_bytes['int8']/1e6:.2f} MB "
            f"({_sem_state_bytes['float32']/max(1,_sem_state_bytes['int8']):.1f}x)"
        )
        assert _sem_state_bytes["int8"] < 0.6 * _sem_state_bytes["float32"], (
            _sem_state_bytes
        )
    # Median of repeated probes (matches the indexed-probe measurement below
    # so indexed-vs-brute is apples to apples).
    queries["sim_topk_bruteforce"] = time_calls(
        lambda: len(similarity.cosine_topk(emb, qvec, k=10).collect()), N_PROBE
    )
    log(f"sim_topk_bruteforce: {queries['sim_topk_bruteforce']*1e3:.0f} ms median")

    # Shipped ANN path: SimilarityEngine registry — build the partitioned
    # indexes once (timed separately), then every topk/dup_pairs call routes
    # to a partition-pruned probe. The query-time operators are benched
    # below under *_fallback for the margin story only.
    from datafusion_uwheel_spark import SimilarityEngine

    sim_eng = SimilarityEngine(
        spark, "embeddings", emb, dim=dim, index_root="/tmp/bench_sim_idx"
    )
    t0 = time.perf_counter()
    sim_eng.build_index(kind="lsh", bits=4, tables=2)
    sim_eng.build_index(kind="ivf", n_centroids=8)
    queries["ann_index_build"] = time.perf_counter() - t0
    log(f"ann_index_build: {queries['ann_index_build']:.2f}s (lsh4 + ivf)")
    t0 = time.perf_counter()
    sim_eng.build_index(kind="lsh", bits=8, tables=2)
    queries["ann_index_build_lsh8"] = time.perf_counter() - t0
    log(f"ann_index_build_lsh8: {queries['ann_index_build_lsh8']:.2f}s")

    # int8-quantized index (r5): same layout/candidates, ~8x smaller files;
    # the probe rescored against the source recovers exact ranking.
    from datafusion_uwheel_spark.operators.ann_index import (
        build_ann_index as _build_ann,
        load_ann_index as _load_ann,
    )

    q8_path = "/tmp/bench_sim_idx/lsh4_q8"
    t0 = time.perf_counter()
    _build_ann(
        emb, q8_path, kind="lsh", dim=dim, bits=4, tables=2, quantize="int8"
    )
    queries["ann_index_build_q8"] = time.perf_counter() - t0
    q8_idx = _load_ann(spark, q8_path)

    def _dir_mb(p):
        import os as _o

        return sum(
            _o.path.getsize(_o.path.join(r, f))
            for r, _, fs in _o.walk(p)
            for f in fs
        ) / 1e6

    log(
        f"ann_index_build_q8: {queries['ann_index_build_q8']:.2f}s "
        f"({_dir_mb(q8_path):.1f} MB vs full-precision twin)"
    )
    queries["sim_ann_q8_rescored"] = time_calls(
        lambda: len(
            q8_idx.topk(qvec, k=10, rescore_with=emb).collect()
        ),
        N_PROBE,
    )
    log(
        f"sim_ann_q8_rescored: {queries['sim_ann_q8_rescored']*1e3:.0f} ms "
        "median (quantized probe + exact rescore join)"
    )

    def routed_topk(**kw):
        out = len(sim_eng.topk(qvec, k=10, **kw).collect())
        assert sim_eng.last_route.kind == "indexed", sim_eng.last_route
        return out

    queries["sim_ann_lsh"] = time_calls(
        lambda: routed_topk(kind="lsh", bits=4, tables=2), N_PROBE
    )
    log(f"sim_ann_lsh: {queries['sim_ann_lsh']*1e3:.0f} ms median (engine-routed probe)")
    queries["sim_ivf_topk"] = time_calls(
        lambda: routed_topk(kind="ivf", nprobe=2, n_centroids=8), N_PROBE
    )
    log(f"sim_ivf_topk: {queries['sim_ivf_topk']*1e3:.0f} ms median (engine-routed probe)")
    # Registry-handle probes (identical physical plan to the routed rows;
    # kept for r1/r2 series comparability).
    lsh_idx = sim_eng.indexes[("lsh", 4, 2, 42)]
    ivf_idx = sim_eng.indexes[("ivf", 8, 42)]
    queries["sim_ann_indexed"] = time_calls(
        lambda: len(lsh_idx.topk(qvec, k=10).collect()), N_PROBE
    )
    log(f"sim_ann_indexed: {queries['sim_ann_indexed']*1e3:.0f} ms median probe")
    queries["sim_ivf_indexed"] = time_calls(
        lambda: len(ivf_idx.topk(qvec, k=10, nprobe=2).collect()), N_PROBE
    )
    log(f"sim_ivf_indexed: {queries['sim_ivf_indexed']*1e3:.0f} ms median probe")

    def routed_dup_pairs():
        n = sim_eng.dup_pairs(threshold=0.4, bits=8, tables=2).count()
        assert sim_eng.last_route.kind == "indexed", sim_eng.last_route
        return n

    med("sim_dup_pairs_indexed", routed_dup_pairs)

    def routed_knn_join():
        n = sim_eng.knn_join(
            emb.limit(200), k=10, kind="lsh", bits=4, tables=2
        ).count()
        assert sim_eng.last_route.kind == "indexed", sim_eng.last_route
        return n

    med("sim_knn_join_200q", routed_knn_join)

    # Query-time fallbacks (what runs when no index is registered) — NOT the
    # shipped path; measured to document the indexed-vs-fallback margin.
    queries["sim_ann_lsh_fallback"] = time_calls(
        lambda: len(similarity.ann_topk(emb, qvec, k=10, bits=4, tables=2).collect()),
        N_PROBE,
    )
    log(
        f"sim_ann_lsh_fallback: {queries['sim_ann_lsh_fallback']*1e3:.0f} ms median "
        "(query-time hashing; fallback only)"
    )
    queries["sim_ivf_topk_fallback"] = time_calls(
        lambda: len(
            similarity.ivf_topk(emb, qvec, k=10, nprobe=2, n_centroids=8).collect()
        ),
        N_PROBE,
    )
    log(
        f"sim_ivf_topk_fallback: {queries['sim_ivf_topk_fallback']*1e3:.0f} ms median "
        "(query-time cells; fallback only)"
    )
    med(
        "sim_embedding_dup_pairs",
        lambda: similarity.embedding_dup_pairs(emb, threshold=0.4, bits=8, tables=2, dim=dim).count(),
    )

    # Multimodal → ANN end-to-end: binary payloads → mapInPandas feature
    # extraction → partitioned index build → routed probe (the composed
    # training-data pipeline, examples/media_pipeline.py).
    def media_ann_e2e():
        from datafusion_uwheel_spark.operators import multimodal

        media = docs.select("doc_id", F.encode("text", "UTF-8").alias("data"))
        # Materialize the features ONCE (the real pipeline shape at scale:
        # the feature table is written, then indexed) — without this the
        # mapInPandas extraction re-runs in every downstream job (index
        # build branches, query-vector head, probe rerank).
        multimodal.extract_features(media, dim=32, id_col="doc_id").write.mode(
            "overwrite"
        ).parquet("/tmp/bench_media_feats")
        feats = spark.read.parquet("/tmp/bench_media_feats")
        m_eng = SimilarityEngine(
            spark, "media_features", feats, dim=32,
            vec_col="feature", id_col="doc_id",
            index_root="/tmp/bench_media_ann",
        )
        m_eng.build_index(kind="lsh", bits=6, tables=2)
        q = [float(x) for x in feats.select("feature").head()[0]]
        n = len(m_eng.topk(q, k=10, kind="lsh", bits=6, tables=2).collect())
        assert m_eng.last_route.kind == "indexed", m_eng.last_route
        return n

    med("mm_features_ann_e2e", media_ann_e2e)


    rng = random.Random(42)
    ranges_sec = [random_range(rng, 1, 60, 3600) for _ in range(N_INDEXED)]
    ranges_min = [random_range(rng, 60, 10, 2880) for _ in range(N_INDEXED)]
    ranges_hour = [random_range(rng, 3600, 2, 240) for _ in range(N_INDEXED)]

    # ------------------------------------- indexed families (wheel lookups)
    # All routed families run INTERLEAVED (round-robin, one query per family
    # per round) so a single scheduler/GC stall lands in at most one sample
    # of each family instead of owning one family's whole tail (r3 VERDICT
    # "what's wrong" item 4: a 0.87 s p999 on one family, flat p50/p99).
    indexed_specs = [
        (
            "uw_count_range",
            lambda a, b: f"SELECT COUNT(*) AS n FROM events WHERE ts >= '{a}' AND ts < '{b}'",
            ranges_sec,
        ),
        (
            "uw_sum_range",
            lambda a, b: f"SELECT SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}'",
            ranges_min,
        ),
        (
            "uw_keyed_sum",
            lambda a, b: (
                f"SELECT SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}' "
                "AND event_type = 'click'"
            ),
            ranges_min,
        ),
        (
            "uw_groupby_hour",
            lambda a, b: (
                "SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, SUM(value) AS s "
                f"FROM events WHERE ts >= '{a}' AND ts < '{b}' GROUP BY date_trunc('hour', ts)"
            ),
            ranges_hour,
        ),
        (
            "uw_window_tumbling",
            lambda a, b: (
                "SELECT window(ts, '15 minutes').start AS ws, COUNT(*) AS n, SUM(value) AS s "
                f"FROM events WHERE ts >= '{a}' AND ts < '{b}' GROUP BY window(ts, '15 minutes')"
            ),
            ranges_hour,
        ),
        (
            "uw_dim_groupby",
            lambda a, b: (
                "SELECT date_trunc('hour', ts) AS bucket, event_type AS et, "
                f"COUNT(*) AS n, SUM(value) AS s FROM events WHERE ts >= '{a}' "
                f"AND ts < '{b}' GROUP BY date_trunc('hour', ts), event_type"
            ),
            ranges_hour,
        ),
        (
            "uw_window_hopping",
            lambda a, b: (
                "SELECT window(ts, '1 hour', '15 minutes').start AS ws, COUNT(*) AS n, "
                f"SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}' "
                "GROUP BY window(ts, '1 hour', '15 minutes')"
            ),
            ranges_hour,
        ),
        (
            "uw_prune_minmax",
            lambda a, b: (
                f"SELECT * FROM events WHERE ts >= '{a}' AND ts < '{b}' AND value > 100000.0"
            ),
            ranges_min,
        ),
        (
            "uw_stddev_range",
            lambda a, b: (
                f"SELECT STDDEV(value) AS sd FROM events WHERE ts >= '{a}' AND ts < '{b}'"
            ),
            ranges_min,
        ),
        (
            "uw_groupby_month",
            lambda a, b: (
                "SELECT date_trunc('month', ts) AS bucket, COUNT(*) AS n "
                f"FROM events WHERE ts >= '{a}' AND ts < '{b}' GROUP BY date_trunc('month', ts)"
            ),
            ranges_hour,
        ),
    ]
    fam_times: dict[str, list[float]] = {f: [] for f, _, _ in indexed_specs}
    for i in range(N_INDEXED):
        for family, sql_of, ranges in indexed_specs:
            a, b = ranges[i]
            t0 = time.perf_counter()
            eng.sql(sql_of(a, b)).collect()
            fam_times[family].append(time.perf_counter() - t0)
            assert eng.last_route.rewritten, (family, eng.last_route)
    for family, _, _ in indexed_specs:
        spreads[family] = half_medians(fam_times[family])
        times = sorted(fam_times[family])
        queries[family] = quantile(times, 0.5)
        queries[f"{family}_p99"] = quantile(times, 0.99)
        queries[f"{family}_p999"] = quantile(times, 0.999)
        spreads[f"{family}_p99"] = half_quantiles(fam_times[family], 0.99)
        spreads[f"{family}_p999"] = half_quantiles(fam_times[family], 0.999)
        log(
            f"{family}: p50 {queries[family]*1e3:.2f} ms, "
            f"p99 {queries[f'{family}_p99']*1e3:.2f} ms, "
            f"p99.9 {queries[f'{family}_p999']*1e3:.2f} ms, "
            f"spread [{spreads[family][0]*1e3:.2f}, {spreads[family][1]*1e3:.2f}]"
        )

    # Repeated-query (dashboard) pattern: the route cache skips parse +
    # rewrite, leaving only the collect — the engine's true steady-state
    # latency for a hot query.
    hot_a, hot_b = ranges_sec[0]
    hot_sql = f"SELECT COUNT(*) AS n FROM events WHERE ts >= '{hot_a}' AND ts < '{hot_b}'"
    eng.sql(hot_sql).collect()
    hot_times = []
    for _ in range(N_INDEXED):
        t0 = time.perf_counter()
        eng.sql(hot_sql).collect()
        hot_times.append(time.perf_counter() - t0)
    spreads["uw_repeat_cached"] = half_medians(hot_times)
    spreads["uw_repeat_cached_p999"] = half_quantiles(hot_times, 0.999)
    hot_times.sort()
    queries["uw_repeat_cached"] = quantile(hot_times, 0.5)
    queries["uw_repeat_cached_p999"] = quantile(hot_times, 0.999)
    log(f"uw_repeat_cached: p50 {queries['uw_repeat_cached']*1e3:.2f} ms")

    # Direct-rows path (r6): sql_rows answers routed queries with ZERO JVM
    # round trips — plain Row lists, no VALUES parse, no collect. This is
    # the µs regime the reference's published numbers live in (59 µs COUNT
    # p50); the DataFrame rows above pay the ~5-10 ms py4j floor per
    # materialization, which is contract overhead, not lookup cost.
    direct_specs = [
        (
            "uw_count_direct",
            lambda a, b: f"SELECT COUNT(*) AS n FROM events WHERE ts >= '{a}' AND ts < '{b}'",
            ranges_sec,
        ),
        (
            "uw_keyed_sum_direct",
            lambda a, b: (
                f"SELECT SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}' "
                "AND event_type = 'click'"
            ),
            ranges_min,
        ),
        (
            # the dashboard shape: GROUP BY date_trunc rows straight off the
            # router's answer — no LocalRelation build, no py4j
            "uw_groupby_hour_direct",
            lambda a, b: (
                "SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, "
                f"SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}' "
                "GROUP BY date_trunc('hour', ts)"
            ),
            ranges_hour,
        ),
        (
            # dim group-by (bucket x event_type from the partitioned
            # family) — the widest dashboard shape, most rows per answer,
            # so skipping the py4j floor pays the most here (r8)
            "uw_dim_groupby_direct",
            lambda a, b: (
                "SELECT date_trunc('day', ts) AS bucket, event_type AS et, "
                f"COUNT(*) AS n, SUM(value) AS s FROM events "
                f"WHERE ts >= '{a}' AND ts < '{b}' "
                "GROUP BY date_trunc('day', ts), event_type ORDER BY bucket, et"
            ),
            ranges_hour,
        ),
    ]
    for family, sql_of, dranges in direct_specs:
        dtimes = []
        for i in range(N_INDEXED):
            a, b = dranges[i]
            q = sql_of(a, b)
            eng._route_memo.pop(q, None)  # time the full route, not the memo
            t0 = time.perf_counter()
            eng.sql_rows(q)
            dtimes.append(time.perf_counter() - t0)
            assert eng.last_route.rewritten, (family, eng.last_route)
        spreads[family] = half_medians(dtimes)
        spreads[f"{family}_p99"] = half_quantiles(dtimes, 0.99)
        spreads[f"{family}_p999"] = half_quantiles(dtimes, 0.999)
        dtimes.sort()
        queries[family] = quantile(dtimes, 0.5)
        queries[f"{family}_p99"] = quantile(dtimes, 0.99)
        queries[f"{family}_p999"] = quantile(dtimes, 0.999)
        log(
            f"{family}: p50 {queries[family]*1e6:.0f} us, "
            f"p99 {queries[f'{family}_p99']*1e6:.0f} us, "
            f"p99.9 {queries[f'{family}_p999']*1e6:.0f} us"
        )

    # Streaming-dashboard reroute: every micro-batch merge bumps
    # index_epoch, invalidating the memoized ANSWER — but the dashboard's
    # query TEXT is unchanged, so the parse memo stays warm and the reroute
    # pays only routing + wheel lookup. Simulated by popping the rows memo
    # while leaving the parse memo alone (exactly what an epoch bump does).
    for family, q in (
        ("uw_count_reroute_direct", direct_specs[0][1](*ranges_sec[0])),
        ("uw_keyed_reroute_direct", direct_specs[1][1](*ranges_min[0])),
    ):
        eng.sql_rows(q)  # warm the parse memo
        rtimes = []
        for _ in range(N_INDEXED):
            eng._route_memo.pop(q, None)
            t0 = time.perf_counter()
            eng.sql_rows(q)
            rtimes.append(time.perf_counter() - t0)
            assert eng.last_route.rewritten, (family, eng.last_route)
        spreads[family] = half_medians(rtimes)
        spreads[f"{family}_p99"] = half_quantiles(rtimes, 0.99)
        rtimes.sort()
        queries[family] = quantile(rtimes, 0.5)
        queries[f"{family}_p99"] = quantile(rtimes, 0.99)
        log(
            f"{family}: p50 {queries[family]*1e6:.0f} us, "
            f"p99 {queries[f'{family}_p99']*1e6:.0f} us"
        )

    # Catalog front door: WheelCatalog.sql_rows dispatches by parsed table
    # name and forwards the parse — multi-table dashboards get the direct
    # path without per-engine handles, at one tokenize total per distinct
    # text.
    from datafusion_uwheel_spark.catalog import WheelCatalog

    cat = WheelCatalog(spark)
    cat.adopt(eng)
    ctimes = []
    for i in range(N_INDEXED):
        a, b = ranges_sec[i]
        q = f"SELECT COUNT(*) AS n FROM events WHERE ts >= '{a}' AND ts < '{b}'"
        eng._route_memo.pop(q, None)
        t0 = time.perf_counter()
        cat.sql_rows(q)
        ctimes.append(time.perf_counter() - t0)
        assert eng.last_route.rewritten, ("uw_catalog_rows_direct", eng.last_route)
    spreads["uw_catalog_rows_direct"] = half_medians(ctimes)
    spreads["uw_catalog_rows_direct_p99"] = half_quantiles(ctimes, 0.99)
    ctimes.sort()
    queries["uw_catalog_rows_direct"] = quantile(ctimes, 0.5)
    queries["uw_catalog_rows_direct_p99"] = quantile(ctimes, 0.99)
    log(
        f"uw_catalog_rows_direct: p50 {queries['uw_catalog_rows_direct']*1e6:.0f} us, "
        f"p99 {queries['uw_catalog_rows_direct_p99']*1e6:.0f} us"
    )

    # Hybrid boundary family (BETWEEN → wheel core + pruned sliver scan):
    # runs one tiny job per query, still far below a full-range scan.
    run_hybrid_ranges = [random_range(rng, 60, 10, 2880) for _ in range(N_HYBRID)]
    it = iter(run_hybrid_ranges)

    def hybrid_call():
        a, b = next(it)
        df = eng.sql(
            f"SELECT COUNT(*) AS n, SUM(value) AS s FROM events WHERE ts BETWEEN '{a}' AND '{b}'"
        )
        df.collect()
        assert eng.last_route.kind == "hybrid_agg", eng.last_route

    h_times = []
    for _ in range(N_HYBRID):
        t0 = time.perf_counter()
        hybrid_call()
        h_times.append(time.perf_counter() - t0)
    spreads["uw_between_hybrid"] = half_medians(h_times)
    h_times.sort()
    queries["uw_between_hybrid"] = h_times[len(h_times) // 2]
    log(f"uw_between_hybrid: p50 {queries['uw_between_hybrid']*1e3:.1f} ms")

    # Round-2 surface families: HAVING+ORDER BY group-by, OR-of-ranges,
    # point instants — all zero-job routed answers.
    def run_family(family, sql_of, ranges, expect_kind):
        it2 = iter(ranges)
        times = []
        for _ in range(len(ranges)):
            a, b = next(it2)
            t0 = time.perf_counter()
            eng.sql(sql_of(a, b)).collect()
            assert eng.last_route.kind == expect_kind, eng.last_route
            times.append(time.perf_counter() - t0)
        # r11: these were exactly the rows whose cross-round deltas kept
        # reading as regressions with no in-run noise bar (r10 verdict
        # "what's wrong" #1) — spread from the ORDERED sample, like the
        # 1000-query families
        spreads[family] = half_medians(times)
        times.sort()
        queries[family] = times[len(times) // 2]
        log(
            f"{family}: p50 {queries[family]*1e3:.2f} ms, spread "
            f"[{spreads[family][0]*1e3:.2f}, {spreads[family][1]*1e3:.2f}]"
        )

    run_family(
        "uw_having_groupby",
        lambda a, b: (
            "SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, AVG(value) AS a "
            f"FROM events WHERE ts >= '{a}' AND ts < '{b}' "
            "GROUP BY date_trunc('hour', ts) HAVING AVG(value) > 50 ORDER BY bucket"
        ),
        [random_range(rng, 3600, 2, 240) for _ in range(100)],
        "group_by",
    )
    or_ranges_pairs = [
        (random_range(rng, 60, 10, 720), random_range(rng, 60, 10, 720))
        for _ in range(100)
    ]
    it3 = iter(or_ranges_pairs)
    times = []
    for _ in range(len(or_ranges_pairs)):
        (a1, b1), (a2, b2) = next(it3)
        t0 = time.perf_counter()
        eng.sql(
            "SELECT COUNT(*) AS n, SUM(value) AS s FROM events WHERE "
            f"(ts >= '{a1}' AND ts < '{b1}') OR (ts >= '{a2}' AND ts < '{b2}')"
        ).collect()
        assert eng.last_route.kind == "or_ranges", eng.last_route
        times.append(time.perf_counter() - t0)
    spreads["uw_or_ranges"] = half_medians(times)
    times.sort()
    queries["uw_or_ranges"] = times[len(times) // 2]
    log(f"uw_or_ranges: p50 {queries['uw_or_ranges']*1e3:.2f} ms")
    run_family(
        "uw_point_instant",
        lambda a, b: f"SELECT COUNT(*) AS n, SUM(value) AS s FROM events WHERE ts = '{a}'",
        [random_range(rng, 1, 60, 3600) for _ in range(100)],
        "point_agg",
    )
    # top-k SQL shape (r8): ORDER BY n DESC, k LIMIT is a total order, so
    # the categorical rollup answers it zero-job (before r8 it delegated
    # to the full scan the vanilla_topk row prices)
    run_family(
        "uw_topk_sql",
        lambda a, b: (
            "SELECT event_type AS k, COUNT(*) AS n FROM events "
            f"WHERE ts >= '{a}' AND ts < '{b}' "
            "GROUP BY event_type ORDER BY n DESC, k LIMIT 3"
        ),
        [random_range(rng, 3600, 2, 240) for _ in range(100)],
        "group_by",
    )

    # Routed-CTE join (r4): both hourly-rollup CTEs answered from the wheel,
    # the join + scalar subquery run over the spliced-in broadcast answers;
    # vanilla_cte_join below runs the identical SQL as two full scans + join.
    from datafusion_uwheel_spark.catalog import WheelCatalog

    cte_sql = (
        "WITH cur AS (SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, "
        "SUM(value) AS s FROM events WHERE ts >= '2024-01-08 00:00:00' AND "
        "ts < '2024-01-09 00:00:00' GROUP BY date_trunc('hour', ts)), "
        "prev AS (SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, "
        "SUM(value) AS s FROM events WHERE ts >= '2024-01-07 00:00:00' AND "
        "ts < '2024-01-08 00:00:00' GROUP BY date_trunc('hour', ts)) "
        "SELECT cur.bucket AS bucket, cur.n AS n, prev.n AS prev_n, cur.s AS s, "
        "prev.s AS prev_s FROM cur JOIN prev ON prev.bucket = cur.bucket - INTERVAL 1 DAY "
        "WHERE cur.n > (SELECT AVG(n) FROM prev) ORDER BY bucket"
    )
    cat = WheelCatalog(spark)
    cat.engines["events"] = eng

    def cte_call():
        cat.sql(cte_sql).collect()
        assert cat.last_route.kind == "cte_rewrite", cat.last_route
        # r15: the outer join/filter/sort is evaluated DRIVER-side over
        # the routed CTE answers (plans/cte_eval) — zero Spark jobs;
        # assert it so a silent fallback to the splice can't masquerade
        # as a slow box. uw_cte_join_floor below still prices the splice.
        assert cat.last_route.detail.get("evaluated") == "driver", (
            cat.last_route
        )

    timed_spread("uw_cte_join", cte_call, N_VANILLA)
    # r13 (verdict #5, the 1.14x-margin question): the routed row's cost
    # structure, measured and plan-asserted in-bench. The spliced plan is
    # the one we'd want — both CTE answers are LocalTableScans, the join
    # BROADCASTS them, the scalar subquery aggregates a LocalTableScan,
    # and no FileScan appears anywhere — so the wheel removed everything
    # it can remove (the two hourly scans). What remains is Spark's
    # execution floor for the main query over the already-spliced views
    # (three tiny jobs: subquery, broadcast, sorted join), measured here
    # as uw_cte_join_floor. Amdahl ceiling: routed ~= splice (~tens of
    # ms, memoized CTE answers) + floor, so the margin over vanilla is
    # bounded by vanilla / floor and SHRINKS as the box makes tiny jobs
    # slower — the r12 thinning was the floor moving, not the splice.
    _cte_rewritten = cat.last_route.detail["sql"]
    _cte_plan = (
        spark.sql(_cte_rewritten)._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in _cte_plan, _cte_plan
    assert "LocalTableScan" in _cte_plan, _cte_plan
    assert "FileScan" not in _cte_plan, _cte_plan
    timed_spread(
        "uw_cte_join_floor",
        lambda: spark.sql(_cte_rewritten).collect(),
        N_VANILLA,
    )
    log(
        f"uw_cte_join: {queries['uw_cte_join']*1e3:.1f} ms median "
        "(routed CTEs + broadcast join; plan-asserted LocalTableScan + "
        "BroadcastHashJoin, no FileScan) vs its own main-query floor "
        f"{queries['uw_cte_join_floor']*1e3:.1f} ms — the gap to the "
        "floor is the splice; the gap to vanilla is Amdahl"
    )

    # ------------------------------------------- vanilla Spark comparisons
    def run_vanilla(family, sql):
        def call():
            spark.sql(sql).collect()

        timed_spread(family, call, N_VANILLA)
        log(
            f"{family}: {queries[family]*1e3:.1f} ms median, spread "
            f"[{spreads[family][0]*1e3:.1f}, {spreads[family][1]*1e3:.1f}]"
        )

    a, b = ranges_sec[0]
    run_vanilla(
        "vanilla_count_range",
        f"SELECT COUNT(*) AS n FROM events WHERE ts >= '{a}' AND ts < '{b}'",
    )
    a, b = ranges_min[0]
    run_vanilla(
        "vanilla_sum_range",
        f"SELECT SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}'",
    )
    run_vanilla(
        "vanilla_keyed_sum",
        f"SELECT SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}' "
        "AND event_type = 'click'",
    )
    run_vanilla(
        "vanilla_prune_minmax",
        f"SELECT * FROM events WHERE ts >= '{a}' AND ts < '{b}' AND value > 100000.0",
    )
    a, b = ranges_hour[0]
    run_vanilla(
        "vanilla_groupby_hour",
        "SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, SUM(value) AS s "
        f"FROM events WHERE ts >= '{a}' AND ts < '{b}' GROUP BY date_trunc('hour', ts)",
    )
    run_vanilla("vanilla_cte_join", cte_sql)
    a, b = ranges_hour[0]
    run_vanilla(
        "vanilla_dim_groupby",
        "SELECT date_trunc('hour', ts) AS bucket, event_type AS et, COUNT(*) AS n, "
        f"SUM(value) AS s FROM events WHERE ts >= '{a}' AND ts < '{b}' "
        "GROUP BY date_trunc('hour', ts), event_type",
    )
    a, b = ranges_min[0]
    run_vanilla(
        "vanilla_between",
        f"SELECT COUNT(*) AS n, SUM(value) AS s FROM events WHERE ts BETWEEN '{a}' AND '{b}'",
    )
    # Non-empty SELECT * temporal family (reference's 5th family,
    # nyc_taxi_bench/src/main.rs:187-230): the engine correctly delegates —
    # this measures the passthrough scan cost of returning actual rows.
    a, b = random_range(rng, 60, 2, 10)
    star_sql = f"SELECT * FROM events WHERE ts >= '{a}' AND ts < '{b}'"

    def star_call():
        eng.sql(star_sql).collect()
        assert not eng.last_route.rewritten or eng.last_route.kind.startswith("prune")

    queries["select_star_range"] = time_calls(star_call, N_VANILLA)
    log(f"select_star_range: {queries['select_star_range']*1e3:.1f} ms median (delegated scan)")
    speedups = {}
    for fam in (
        "count_range",
        "sum_range",
        "keyed_sum",
        "groupby_hour",
        "dim_groupby",
        "prune_minmax",
    ):
        speedups[fam] = round(queries[f"vanilla_{fam}"] / queries[f"uw_{fam}"], 2)
        log(f"speedup_{fam}: {speedups[fam]}x")
    speedups["between_hybrid"] = round(
        queries["vanilla_between"] / queries["uw_between_hybrid"], 2
    )
    log(f"speedup_between_hybrid: {speedups['between_hybrid']}x")
    speedups["cte_join"] = round(
        queries["vanilla_cte_join"] / queries["uw_cte_join"], 2
    )
    log(f"speedup_cte_join: {speedups['cte_join']}x")

    # Tiered retention (LAST — compaction coarsens the wheels, so every
    # second-aligned measurement above must already be recorded): roll the
    # first ~⅔ of the timeline to hour buckets, then probe an hour-aligned
    # range over the compacted span — still routed, still zero-job.
    mb_before = eng.index_usage_bytes() / 1e6
    t0 = time.perf_counter()
    reclaimed = eng.compact_indexes("2024-01-20 00:00:00", "hour")
    queries["uw_compact_to_hour"] = time.perf_counter() - t0
    log(
        f"uw_compact_to_hour: {queries['uw_compact_to_hour']*1e3:.0f} ms, "
        f"{reclaimed} buckets reclaimed, "
        f"{mb_before:.1f} -> {eng.index_usage_bytes()/1e6:.1f} MB driver-side"
    )
    assert reclaimed > 0

    def compacted_call():
        df = eng.sql(
            "SELECT COUNT(*) AS c, SUM(value) AS s FROM events "
            "WHERE ts >= '2024-01-08 00:00:00' AND ts < '2024-01-15 00:00:00'"
        )
        assert eng.last_route.rewritten
        df.collect()

    timed_spread("uw_compacted_range", compacted_call, N_PROBE)
    log(f"uw_compacted_range: {queries['uw_compacted_range']*1e3:.1f} ms median")

    # Streaming retention steady state (r6): the bounded-on-endless-streams
    # claim, MEASURED — a fresh engine streams 14 daily batches (rows
    # spread across each day at second granularity) with
    # retention=(1 day, "hour"); index bytes must go flat once the ladder
    # engages instead of growing with the timeline. Sketch rollups ride
    # the same compaction call, so their rows are bounded too.
    from datafusion_uwheel_spark import WheelEngine as _WE
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer as _SWM,
    )

    base = spark.createDataFrame(
        [("2024-01-01 00:00:00", 0.0)], "ts string, v double"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v")
    ret_eng = _WE(spark, "bench_ret_stream", base, time_column="ts")
    ret_eng.build_index("v")
    ret_m = _SWM(ret_eng, retention=(86400, "hour"))
    per_day, day_bytes, merge_times = 2000, [], []
    for day in range(1, 15):
        d0 = SPAN_START + timedelta(days=day - 1)
        rows = [
            (
                (d0 + timedelta(seconds=i * 86400 // per_day)).strftime(
                    "%Y-%m-%d %H:%M:%S"
                ),
                float(day * 1000 + i),
            )
            for i in range(per_day)
        ]
        batch = spark.createDataFrame(rows, "ts string, v double").selectExpr(
            "CAST(ts AS TIMESTAMP) AS ts", "v"
        )
        t0 = time.perf_counter()
        ret_m.merge_batch(batch)
        merge_times.append(time.perf_counter() - t0)
        day_bytes.append(ret_eng.index_usage_bytes())
    spreads["uw_stream_retention_merge"] = half_medians(merge_times)
    queries["uw_stream_retention_merge"] = quantile(sorted(merge_times), 0.5)
    # flat tail: once >1 day is behind the watermark the per-day footprint
    # is the fine window (1 day) + a bounded hourly prefix
    assert day_bytes[-1] <= int(day_bytes[6] * 1.25) + 4096, day_bytes
    retention_bytes = [int(b) for b in day_bytes]
    log(
        f"uw_stream_retention_merge: {queries['uw_stream_retention_merge']:.2f}s "
        f"median/batch; bytes/day {retention_bytes[0]} -> "
        f"{retention_bytes[6]} -> {retention_bytes[-1]} (flat tail)"
    )

    # ------------------------------------------------ scaling point (r8)
    # The 100 TB story anchored by a measurement instead of plans: derive a
    # 10x "sf1" from the driver testdata (10 timeline-shifted copies of
    # events -> 10x rows AND 10x occupied buckets; 10 token-suffixed copies
    # of documents -> 10x docs, cross-copy Jaccard 0, within-copy near-dup
    # structure intact) and measure the design curves:
    #   index_build_sf1        ~ linear in rows (one scan + groupBy(sec))
    #   uw_count_sf1           flat vs sf (answers are O(range buckets))
    #   uw_count_direct_sf1    flat us (driver lookup, no JVM)
    #   dedup_minhash_lsh_sf1  ~ linear (banded equi-join, never all-pairs)
    # Gated to the default sf0.1 run so sf0.01 iteration stays fast; the
    # derived parquet is cached under .scale_cache/ (gitignored).
    if sf == "0.1":
        scale_dir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), ".scale_cache", "sf1"
        )
        ev1_path = os.path.join(scale_dir, "events.parquet")
        doc1_path = os.path.join(scale_dir, "documents.parquet")
        if not (os.path.isdir(ev1_path) and os.path.isdir(doc1_path)):
            t0 = time.perf_counter()
            ev0 = read_parquet(spark, f"{SF_DIR}/events.parquet")
            u = None
            for k in range(10):
                part = ev0.withColumn(
                    "ts", F.col("ts") + F.expr(f"INTERVAL {35 * k} DAYS")
                )
                u = part if u is None else u.unionByName(part)
            u.repartition(int(CPUS)).write.mode("overwrite").parquet(ev1_path)
            d0 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
            u = None
            for k in range(10):
                part = d0.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"$1_c{k}")
                ).withColumn("doc_id", F.col("doc_id") + F.lit(k * 10_000_000))
                u = part if u is None else u.unionByName(part)
            u.repartition(int(CPUS)).write.mode("overwrite").parquet(doc1_path)
            log(f"sf1 scale data derived in {time.perf_counter() - t0:.1f}s")
        # warm same-shape sf0.1 rebuild first: the session-opening
        # index_build row pays cold-JVM/first-scan overhead, so the honest
        # scaling ratio is warm-vs-warm. r11: each build row runs TWICE —
        # the [min, max] of the two samples is its spread; index_build_sf1
        # / _sf10 were the rows whose 5-25 s / 24-147 s within-round swings
        # kept being adjudicated by SURVEY prose instead of data (r10
        # verdict #3), and a one-shot duration has no in-run noise bar.
        def timed_build(family, build_once, n=2):
            times = []
            for i in range(n):
                t0 = time.perf_counter()
                out = build_once(i)
                times.append(time.perf_counter() - t0)
            queries[family] = quantile(sorted(times), 0.5)
            spreads[family] = half_medians(times)
            return out  # the LAST built engine serves the query rows

        def build_warm(i):
            e = WheelEngine(
                spark, f"events_sf01_warm_{i}", f"{SF_DIR}/events.parquet",
                time_column="ts", min_max_columns=("value",),
            )
            e.build_index("value")
            return e

        eng01 = timed_build("index_build_warm", build_warm)

        def build_sf1(i):
            e = WheelEngine(
                spark, f"events_sf1_{i}" if i else "events_sf1", ev1_path,
                time_column="ts", min_max_columns=("value",),
            )
            e.build_index("value")
            return e

        # sample order: the REGISTERED name builds last so the query rows
        # below hit a fresh-named view; sample 0 is the throwaway
        eng1 = timed_build("index_build_sf1", lambda i: build_sf1(1 - i))
        log(
            f"index_build_sf1: {queries['index_build_sf1']:.2f}s "
            f"(warm sf0.1 {queries['index_build_warm']:.2f}s -> ratio "
            f"{queries['index_build_sf1'] / queries['index_build_warm']:.1f}x "
            f"for 10x rows), {eng1.index_usage_bytes() / 1e6:.1f} MB driver"
        )
        s_ranges = [random_range(rng, 1, 60, 3600) for _ in range(200)]
        stimes = []
        for a, b in s_ranges:
            q = f"SELECT COUNT(*) AS n FROM events_sf1 WHERE ts >= '{a}' AND ts < '{b}'"
            t0 = time.perf_counter()
            eng1.sql(q).collect()
            stimes.append(time.perf_counter() - t0)
            assert eng1.last_route.kind == "count_range", eng1.last_route
        spreads["uw_count_sf1"] = half_medians(stimes)
        stimes.sort()
        queries["uw_count_sf1"] = quantile(stimes, 0.5)
        dtimes = []
        for a, b in s_ranges:
            q = f"SELECT COUNT(*) AS n FROM events_sf1 WHERE ts >= '{a}' AND ts < '{b}'"
            eng1._route_memo.pop(q, None)
            t0 = time.perf_counter()
            eng1.sql_rows(q)
            dtimes.append(time.perf_counter() - t0)
        spreads["uw_count_direct_sf1"] = half_medians(dtimes)
        dtimes.sort()
        queries["uw_count_direct_sf1"] = quantile(dtimes, 0.5)
        log(
            f"uw_count_sf1: p50 {queries['uw_count_sf1'] * 1e3:.2f} ms "
            f"(sf0.1 {queries['uw_count_range'] * 1e3:.2f} ms — flat means O(range), "
            f"not O(table)); direct {queries['uw_count_direct_sf1'] * 1e6:.0f} us"
        )
        # heavy-hitters crossover: the probe stays O(buckets) while the
        # vanilla GROUP BY scan grows with the table — at sf0.1 both sit
        # near the local small-job floor; at 10x the scan has left it
        fr1 = eng1.build_topk_index("event_type", bucket_seconds=3600, capacity=8)
        timed_spread("uw_freq_topk_sf1", 
            lambda: fr1.approx_topk(_qa, _qb, k=4).collect(), N_PROBE
        )
        timed_spread("uw_freq_topk_direct_sf1", 
            lambda: fr1.topk_rows(_qa, _qb, k=4), N_PROBE
        )
        ev1_view = read_parquet(spark, ev1_path)
        ev1_view.createOrReplaceTempView("events_sf1_raw")
        timed_spread("vanilla_topk_sf1", 
            lambda: spark.sql(
                "SELECT event_type, count(*) AS n FROM events_sf1_raw "
                f"WHERE ts >= '{_qa}' AND ts < '{_qb}' "
                "GROUP BY 1 ORDER BY n DESC, event_type LIMIT 4"
            ).collect(),
            N_VANILLA,
        )
        log(
            f"uw_freq_topk_sf1: {queries['uw_freq_topk_sf1']*1e3:.0f} ms flat "
            f"(sf0.1 {queries['uw_freq_topk']*1e3:.0f} ms) vs vanilla_topk_sf1 "
            f"{queries['vanilla_topk_sf1']*1e3:.0f} ms "
            f"(sf0.1 {queries['vanilla_topk']*1e3:.0f} ms — scan grows)"
        )
        docs1 = spark.read.parquet(doc1_path)
        pair_counts_sf1 = []

        def minhash_sf1_run():
            # same med()/release discipline as the sf0.1 row: the ratio
            # must be warm-median vs warm-median, and the 10x signature
            # frame (the biggest cached block the bench creates) must not
            # stay pinned for the rest of the run
            pairs = dedup.lsh_candidate_pairs(
                dedup.with_minhash_signature(docs1), min_est_jaccard=0.35
            )
            n = pairs.count()
            dedup.release_signatures(pairs)
            pair_counts_sf1.append(n)
            return n

        # ------------------- sketch crossover, second point (r10): the
        # HLL/KLL/theta probes were the last perf claims resting on design
        # (O(buckets)) instead of a measured decade — at sf0.1 each FRESH
        # ask loses to its vanilla scan (the ~110-180 ms small-job floor
        # dwarfs the bucket merge). Same treatment frequency got in r9:
        # build the three rollups on the 10x events, price fresh asks vs
        # the vanilla scans on the same window, and let BENCH_r10 carry
        # the curve (probe ~flat, scan growing) or the honest negative.
        # two samples like every r11 sf build row (the first sample's
        # rollups are released before the second replaces them)
        # r14: the three family builds ride the cross-family one-pass fast
        # path (ONE scan computes all three sketch columns; same bucketing,
        # same lg_k/k parameters, per-family answers identical — HLL/theta
        # state is order-independent, KLL keeps its rank bound). The row
        # still times exactly "build the HLL + KLL + theta rollups".
        _sk_times = []
        for _i in range(2):
            t0 = time.perf_counter()
            _sk = eng1.build_sketch_indexes(
                distinct=("user_id",), quantile=("value",),
                theta=("user_id",),
            )
            dr1 = _sk["distinct"]["user_id"]
            qr1 = _sk["quantile"]["value"]
            tr1 = _sk["theta"]["user_id"]
            _sk_times.append(time.perf_counter() - t0)
            if _i == 0:
                for _r in (dr1, qr1, tr1):
                    _r.unpersist()
        queries["sketch_index_builds_sf1"] = quantile(sorted(_sk_times), 0.5)
        spreads["sketch_index_builds_sf1"] = half_medians(_sk_times)
        timed_spread(
            "uw_approx_distinct_sf1",
            fresh(dr1, lambda: dr1.approx_distinct(_qa, _qb)), N_PROBE,
        )
        timed_spread(
            "uw_approx_quantile_sf1",
            fresh(qr1, lambda: qr1.approx_quantile([0.5, 0.95, 0.99], _qa, _qb)),
            N_PROBE,
        )
        timed_spread(
            "uw_theta_retained_sf1",
            fresh(tr1, lambda: tr1.approx_retained(_r1, _r2)), N_PROBE,
        )
        # the GROUPED direct path at the decade (r11; r12 verdict probe):
        # full-span series cost is NOT flat — it is O(sketch bytes framed
        # through the py4j socket). r11 measured 116-129 ms here because a
        # fresh week series framed ALL 7,200 hourly sketches (7.1 MB) per
        # ask; the r12 day tier pre-merges the mirror once per data
        # version, so every fresh day-or-coarser full-span ask frames
        # O(days) merged sketches instead (measured 7.1 -> 3.2 MB and
        # ~170 -> ~75 ms warm at sf1; the residual growth is per-day
        # sketch saturation toward k, not the raw bucket count). The
        # jobpath control below is the r11 verdict's missing comparator.
        # r13: the 350-day sf1 tier clears _RUNG_MIN_DAYS, so this
        # full-span week ask now frames ~50 WEEK-rung sketches
        # (measured 53-58 -> ~20 ms) — O(ask cells), the ladder's top.
        timed_spread(
            "uw_retention_by_week_direct_sf1",
            fresh(tr1, lambda: tr1.retention_rows_by("week")), N_PROBE,
        )
        tr1._jvm_ops = None
        timed_spread(
            "uw_retention_by_week_jobpath_sf1",
            fresh(tr1, lambda: tr1.retention_rows_by("week")), N_PROBE,
        )
        del tr1._jvm_ops
        # job-path controls at the decade: the pre-r10 fresh-ask cost,
        # flat at the small-job floor while the scans grow
        for _r, _nm, _ask in (
            (dr1, "uw_approx_distinct_sf1_jobpath",
             lambda: dr1.approx_distinct(_qa, _qb)),
            (qr1, "uw_approx_quantile_sf1_jobpath",
             lambda: qr1.approx_quantile([0.5, 0.95, 0.99], _qa, _qb)),
            (tr1, "uw_theta_retained_sf1_jobpath",
             lambda: tr1.approx_retained(_r1, _r2)),
        ):
            _r._jvm_ops = None
            timed_spread(_nm, fresh(_r, _ask), N_PROBE)
            del _r._jvm_ops
        timed_spread("vanilla_count_distinct_sf1", lambda: spark.sql(
                f"SELECT COUNT(DISTINCT user_id) FROM events_sf1_raw "
                f"WHERE ts >= '{_qa}' AND ts < '{_qb}'"
            ).collect(),
            N_VANILLA,
        )
        timed_spread("vanilla_percentile_sf1", lambda: spark.sql(
                f"SELECT percentile_approx(value, array(0.5, 0.95, 0.99)) "
                f"FROM events_sf1_raw WHERE ts >= '{_qa}' AND ts < '{_qb}'"
            ).collect(),
            N_VANILLA,
        )
        timed_spread("vanilla_retained_sf1", lambda: spark.sql(
                "SELECT count(*) FROM ("
                "SELECT DISTINCT user_id FROM events_sf1_raw "
                f"WHERE ts >= '{_r1[0]}' AND ts < '{_r1[1]}' "
                "INTERSECT SELECT DISTINCT user_id FROM events_sf1_raw "
                f"WHERE ts >= '{_r2[0]}' AND ts < '{_r2[1]}')"
            ).collect(),
            N_VANILLA,
        )
        log(
            "sketch crossover sf0.1 -> sf1 (fresh DIRECT probe vs vanilla "
            "scan; *_jobpath rows carry the job-floor curve): "
            f"distinct {queries['uw_approx_distinct']*1e3:.1f}->"
            f"{queries['uw_approx_distinct_sf1']*1e3:.1f} ms vs "
            f"{queries['vanilla_count_distinct']*1e3:.0f}->"
            f"{queries['vanilla_count_distinct_sf1']*1e3:.0f} ms; "
            f"quantile {queries['uw_approx_quantile']*1e3:.0f}->"
            f"{queries['uw_approx_quantile_sf1']*1e3:.0f} ms vs "
            f"{queries['vanilla_percentile']*1e3:.0f}->"
            f"{queries['vanilla_percentile_sf1']*1e3:.0f} ms; "
            f"theta {queries['uw_theta_retained']*1e3:.0f}->"
            f"{queries['uw_theta_retained_sf1']*1e3:.0f} ms vs "
            f"{queries['vanilla_retained']*1e3:.0f}->"
            f"{queries['vanilla_retained_sf1']*1e3:.0f} ms "
            f"(builds {queries['sketch_index_builds_sf1']:.1f}s)"
        )
        for r in (dr1, qr1, tr1):
            r.unpersist()

        med("dedup_minhash_lsh_sf1", minhash_sf1_run)
        n_pairs_sf1 = pair_counts_sf1[-1]
        log(
            f"dedup_minhash_lsh_sf1: {queries['dedup_minhash_lsh_sf1']:.2f}s "
            f"({n_pairs_sf1} pairs = 10x the sf0.1 run; sf0.1 "
            f"{queries['dedup_minhash_lsh']:.2f}s -> ratio "
            f"{queries['dedup_minhash_lsh_sf1'] / queries['dedup_minhash_lsh']:.1f}x)"
        )

        # --------------------------------------- second decade (r9): sf10
        # One more measured decade (100x the bench SF) for the two FLAT
        # curves only — the count direct lookup and the heavy-hitters probe
        # against its growing vanilla scan — so each crossover claim rests
        # on TWO measured points, not one. Guarded by a disk budget (the
        # derivation writes ~100x the events parquet, ~200 MB) and
        # SPARK_GRAFT_NO_SF10=1 to opt out; derived data is cached like sf1.
        import shutil

        free_gb = shutil.disk_usage(scale_dir).free / 1e9
        if os.environ.get("SPARK_GRAFT_NO_SF10") == "1" or free_gb < 5:
            log(f"sf10 decade skipped (free {free_gb:.1f} GB / opted out)")
        else:
            ev10_path = os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                ".scale_cache", "sf10", "events.parquet",
            )
            if not os.path.isdir(ev10_path):
                t0 = time.perf_counter()
                ev1 = read_parquet(spark, ev1_path)
                u = None
                for k in range(10):
                    part = ev1.withColumn(
                        "ts", F.col("ts") + F.expr(f"INTERVAL {350 * k} DAYS")
                    )
                    u = part if u is None else u.unionByName(part)
                u.repartition(int(CPUS)).write.mode("overwrite").parquet(ev10_path)
                log(f"sf10 scale data derived in {time.perf_counter() - t0:.1f}s")
            # count-only states: the flat claim under test is the COUNT
            # lookup; the lean build keeps the 100x driver mirror ~3x
            # smaller. TWO samples (timed_build): this row swung 23.8 s ->
            # 147/126 s across r9/r10 with identical code — its spread now
            # ships in-band instead of through a SURVEY watch note.
            # r13 (verdict #2): the one-number build row cleared the
            # cross-round spread-union rule twice on unchanged code — split
            # it into phases so a swing names its owner: ctor (parquet
            # registration + the count-wheel build), the aggregate build's
            # Spark scan+rollup+Arrow collect, and the driver numpy mirror
            # construction. Phase rows are [min, max] spreads like the
            # parent row.
            phases: dict = {"ctor": [], "scan": [], "mirror": []}

            def build_sf10(i):
                t0 = time.perf_counter()
                e = WheelEngine(
                    spark,
                    "events_sf10" if i else "events_sf10_0",
                    ev10_path,
                    time_column="ts",
                )
                phases["ctor"].append(time.perf_counter() - t0)
                e.build_index("value", aggs=("count",))
                phases["scan"].append(e.last_build["scan_rollup_collect_s"])
                phases["mirror"].append(e.last_build["mirror_construct_s"])
                return e

            eng10 = timed_build("index_build_sf10", build_sf10)
            for ph, key in (
                ("ctor", "index_build_sf10_ctor"),
                ("scan", "index_build_sf10_scan_rollup"),
                ("mirror", "index_build_sf10_mirror"),
            ):
                spreads[key] = [
                    round(min(phases[ph]), 5), round(max(phases[ph]), 5)
                ]
                queries[key] = quantile(sorted(phases[ph]), 0.5)
            log(
                "index_build_sf10 phases (per-sample): ctor "
                f"{phases['ctor']}, agg scan+rollup+collect "
                f"{phases['scan']}, mirror {phases['mirror']} "
                f"({eng10.last_build.get('rollup_rows')} rollup rows)"
            )
            # r15 (verdict #2): the mirror's named sub-steps, recorded by
            # _indices_from_rollup itself. The isolated probe
            # (scripts/probe_mirror.py) pins their sum at 0.2-0.5 s COLD
            # for this rollup; if the "mirror" phase above ever balloons
            # while this breakdown stays flat, the gap is box
            # stall (allocator/scheduler), not driver numpy work.
            log(
                "index_build_sf10 mirror sub-steps (last sample): "
                f"{eng10.last_build.get('mirror_steps')}"
            )
            dtimes = []
            for a, b in s_ranges:
                q = (
                    f"SELECT COUNT(*) AS n FROM events_sf10 "
                    f"WHERE ts >= '{a}' AND ts < '{b}'"
                )
                eng10._route_memo.pop(q, None)
                t0 = time.perf_counter()
                eng10.sql_rows(q)
                dtimes.append(time.perf_counter() - t0)
                assert eng10.last_route.kind == "count_range", eng10.last_route
            spreads["uw_count_direct_sf10"] = half_medians(dtimes)
            dtimes.sort()
            queries["uw_count_direct_sf10"] = quantile(dtimes, 0.5)
            log(
                f"uw_count_direct_sf10: p50 "
                f"{queries['uw_count_direct_sf10'] * 1e6:.0f} us "
                f"(sf1 {queries['uw_count_direct_sf1'] * 1e6:.0f} us — flat "
                f"across two decades); index_build_sf10 "
                f"{queries['index_build_sf10']:.1f}s, "
                f"{eng10.index_usage_bytes() / 1e6:.0f} MB driver"
            )
            fr10 = eng10.build_topk_index(
                "event_type", bucket_seconds=3600, capacity=8
            )
            timed_spread("uw_freq_topk_sf10", 
                lambda: fr10.approx_topk(_qa, _qb, k=4).collect(), N_PROBE
            )
            timed_spread("uw_freq_topk_direct_sf10", 
                lambda: fr10.topk_rows(_qa, _qb, k=4), N_PROBE
            )
            ev10_view = read_parquet(spark, ev10_path)
            ev10_view.createOrReplaceTempView("events_sf10_raw")
            timed_spread("vanilla_topk_sf10", 
                lambda: spark.sql(
                    "SELECT event_type, count(*) AS n FROM events_sf10_raw "
                    f"WHERE ts >= '{_qa}' AND ts < '{_qb}' "
                    "GROUP BY 1 ORDER BY n DESC, event_type LIMIT 4"
                ).collect(),
                N_VANILLA,
            )
            log(
                f"uw_freq_topk_sf10: {queries['uw_freq_topk_sf10']*1e3:.0f} ms "
                f"(direct {queries['uw_freq_topk_direct_sf10']*1e6:.0f} us) vs "
                f"vanilla_topk_sf10 {queries['vanilla_topk_sf10']*1e3:.0f} ms — "
                f"probe flat across sf0.1/sf1/sf10 while the scan grows"
            )
            # third decade for ONE representative direct sketch ask (HLL —
            # the others share the exact same plumbing): the mirror stays
            # O(occupied buckets) while the table grows 100x
            dr10 = eng10.build_distinct_index("user_id")
            timed_spread(
                "uw_approx_distinct_sf10",
                fresh(dr10, lambda: dr10.approx_distinct(_qa, _qb)), N_PROBE,
            )
            timed_spread("vanilla_count_distinct_sf10", lambda: spark.sql(
                    f"SELECT COUNT(DISTINCT user_id) FROM events_sf10_raw "
                    f"WHERE ts >= '{_qa}' AND ts < '{_qb}'"
                ).collect(),
                N_VANILLA,
            )
            dr10.unpersist()
            # grouped theta at the THIRD decade (r12): ~84k hourly buckets
            # put the raw full-span framing (~84 MB) past the socket cap,
            # so the day tier builds via its ONE-JOB fallback; the
            # realistic dashboard shape — a day-aligned quarter, by week —
            # then frames ~13 merged week cells of day sketches per fresh
            # ask, zero-job, vs the per-ask job floor on the control
            t0 = time.perf_counter()
            tr10 = eng10.build_theta_index("user_id")
            queries["theta_index_build_sf10"] = time.perf_counter() - t0
            _q10a, _q10b = "2024-01-01 00:00:00", "2024-04-01 00:00:00"
            timed_spread(
                "uw_retention_q_by_week_direct_sf10",
                fresh(
                    tr10,
                    lambda: tr10.retention_rows_by("week", _q10a, _q10b),
                ),
                N_PROBE,
            )
            tr10._jvm_ops = None
            timed_spread(
                "uw_retention_q_by_week_jobpath_sf10",
                fresh(
                    tr10,
                    lambda: tr10.retention_rows_by("week", _q10a, _q10b),
                ),
                N_PROBE,
            )
            del tr10._jvm_ops
            # the honest full-span third point, r13: the week RUNG now
            # serves it — ~500 pre-merged week sketches framed per fresh
            # ask instead of r12's ~3,500 days (670-714 ms, which had
            # drifted past its own job floor) — plus the MISSING full-span
            # jobpath control the r12 verdict asked for, so direct-vs-job
            # is measured at the same span
            timed_spread(
                "uw_retention_by_week_direct_sf10",
                fresh(tr10, lambda: tr10.retention_rows_by("week")),
                max(3, N_PROBE // 3),
            )
            tr10._jvm_ops = None
            timed_spread(
                "uw_retention_by_week_jobpath_sf10",
                fresh(tr10, lambda: tr10.retention_rows_by("week")),
                max(3, N_PROBE // 3),
            )
            del tr10._jvm_ops
            log(
                f"uw_retention_q_by_week_sf10: direct "
                f"{queries['uw_retention_q_by_week_direct_sf10']*1e3:.1f} ms "
                f"vs job {queries['uw_retention_q_by_week_jobpath_sf10']*1e3:.0f} ms; "
                f"full-span direct "
                f"{queries['uw_retention_by_week_direct_sf10']*1e3:.0f} ms "
                f"(week rung) vs its own jobpath "
                f"{queries['uw_retention_by_week_jobpath_sf10']*1e3:.0f} ms; "
                f"theta build {queries['theta_index_build_sf10']:.0f}s"
            )
            tr10.unpersist()
            log(
                f"uw_approx_distinct_sf10: "
                f"{queries['uw_approx_distinct_sf10']*1e3:.2f} ms direct vs "
                f"vanilla {queries['vanilla_count_distinct_sf10']*1e3:.0f} ms "
                f"— the direct ask flat across THREE decades "
                f"(sf0.1 {queries['uw_approx_distinct']*1e3:.1f}, "
                f"sf1 {queries['uw_approx_distinct_sf1']*1e3:.1f} ms)"
            )

    # Measurement-bug fix (r15, documented in OPTIMIZATION_r15.md): the
    # stream-cap STATE ROW COUNT (51 — a row count, not seconds) had been
    # summed into bench_total as if it were 51 seconds since the row was
    # added in r7. The total is now the sum of the SECONDS rows only; the
    # row-count key stays in queries{} (never remove/rename) and the
    # legacy-style sum ships alongside so r14-vs-r15 totals stay
    # comparable on both conventions.
    _NON_SECONDS_KEYS = {"stream_cap_state_rows"}
    total = sum(v for k, v in queries.items() if k not in _NON_SECONDS_KEYS)
    legacy_total = sum(queries.values())
    line = json.dumps(
        {
            "metric": "bench_total",
            "value": round(total, 3),
            "legacy_total_incl_rowcount_keys": round(legacy_total, 3),
            "unit": "sec",
            "queries": {k: round(v, 5) for k, v in queries.items()},
            "spreads": spreads,
            "speedup_vs_vanilla": speedups,
            "stream_retention_bytes_per_day": retention_bytes,
            "sem_stream_state_bytes": _sem_state_bytes,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        }
    )
    # Full row set goes to the (git-tracked) file; stdout ends with a
    # COMPACT headline-only line. The driver captures only the LAST 2000
    # chars of stdout and parses a JSON line out of that window —
    # BENCH_r01..r03 parsed because the full line still fit; r04-r13 all
    # landed "parsed": null once it outgrew 2000 chars (r13 verdict #5).
    # The compact line carries the contract fields plus the headline
    # families; everything else lives in bench_out.json.
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_out.json"), "w") as fh:
        fh.write(line + "\n")
    headline_keys = [
        # routed families + their vanilla denominators
        "uw_count_range", "vanilla_count_range",
        "uw_sum_range", "vanilla_sum_range",
        "uw_keyed_sum", "vanilla_keyed_sum",
        "uw_groupby_hour", "vanilla_groupby_hour",
        "uw_dim_groupby", "vanilla_dim_groupby",
        "uw_prune_minmax", "vanilla_prune_minmax",
        "uw_between_hybrid", "vanilla_between",
        "uw_cte_join", "vanilla_cte_join", "uw_cte_join_floor",
        # builds + the sketch ladder
        "index_build", "index_build_sf10", "index_build_sf10_mirror",
        "uw_count_direct_sf10",
        "uw_approx_distinct", "uw_approx_quantile", "uw_theta_retained",
        "uw_retention_by_week_direct_sf10",
        "uw_retention_by_week_jobpath_sf10",
        "uw_freq_topk_direct",
        # LLM-pipeline headliners
        "dedup_exact", "dedup_minhash_lsh", "dedup_semantic",
        "dedup_semantic_stream_q8", "text_pipeline",
        "text_decontaminate_fuzzy", "sim_ann_lsh", "sim_ivf_topk",
        "pack_sequences_2k",
        # r15 (verdict #3): APPEND-ONLY widening — r13-comparable rows so
        # the driver's round-over-round overlap (n_common) keeps growing.
        # Never remove or reorder keys above; the line is length-asserted
        # below, and these three still leave ~200 chars of headroom.
        "index_build_sf1", "dedup_minhash_lsh_sf1",
        "sketch_index_builds_sf1",
    ]
    compact = json.dumps(
        {
            "metric": "bench_total",
            "value": round(total, 3),
            "legacy_total_incl_rowcount_keys": round(legacy_total, 3),
            "unit": "sec",
            "queries": {
                k: round(queries[k], 5) for k in headline_keys
                if k in queries
            },
            "speedup_vs_vanilla": speedups,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "full_rows": "bench_out.json",
        },
        separators=(",", ":"),
    )
    assert len(compact) <= 1900, (
        f"compact bench line {len(compact)} chars — must stay under the "
        "driver's 2000-char stdout tail window"
    )
    print(compact)


if __name__ == "__main__":
    main()

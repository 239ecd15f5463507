"""Tiered HAW retention (µWheel's hierarchical wheel model, SURVEY §1.3):
old fine buckets roll into coarser tiers, bounding driver index memory on
long-running streams. Answers must be unchanged for every query the
retained tiers can serve; finer asks into a compacted span must DELEGATE
(the stale/covered gates), never answer wrong or approximate."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from datafusion_uwheel_spark import WheelEngine
from datafusion_uwheel_spark.operators.lookup import WheelIndex
from datafusion_uwheel_spark.sources import read_parquet

CUT = "2024-01-15 00:00:00"
CUT_SEC = 1705276800  # epoch of CUT (UTC)


@pytest.fixture()
def eng(spark, sf_small_dir):
    e = WheelEngine(
        spark, "ret_events", f"{sf_small_dir}/events.parquet", time_column="ts",
        min_max_columns=("value",),
    )
    e.build_index("value")
    return e


QUERIES = [
    # hour-aligned range straddling the compaction cutoff
    "SELECT COUNT(*) AS c, SUM(value) AS s FROM ret_events "
    "WHERE ts >= '2024-01-10 00:00:00' AND ts < '2024-01-20 00:00:00'",
    # entirely inside the compacted span, hour-aligned
    "SELECT COUNT(*) AS c, AVG(value) AS a, MIN(value) AS lo FROM ret_events "
    "WHERE ts >= '2024-01-05 00:00:00' AND ts < '2024-01-07 03:00:00'",
    # landmark
    "SELECT COUNT(*) AS c, SUM(value) AS s FROM ret_events",
    # group-by day spanning both tiers
    "SELECT date_trunc('day', ts) AS b, COUNT(*) AS c, MAX(value) AS m "
    "FROM ret_events GROUP BY date_trunc('day', ts) ORDER BY b",
]


def _collect(eng, sql):
    return [tuple(r) for r in eng.sql(sql).collect()]


def test_compaction_preserves_answers_and_shrinks(eng):
    before = {q: _collect(eng, q) for q in QUERIES}
    size_before = eng.index_usage_bytes()
    buckets_before = eng.count_wheels["*_AGG"].secs.size
    reclaimed = eng.compact_indexes(CUT, "hour")
    assert reclaimed > 0
    assert eng.index_usage_bytes() < size_before
    assert eng.count_wheels["*_AGG"].secs.size < buckets_before
    for q in QUERIES:
        got = _collect(eng, q)
        assert eng.last_route.kind != "delegate", q
        assert len(got) == len(before[q])
        for g, w in zip(got, before[q]):
            for x, y in zip(g, w):
                if isinstance(x, float):
                    assert abs(x - y) <= 1e-9 * max(1.0, abs(y)), (q, g, w)
                else:
                    assert x == y, (q, g, w)


def test_fine_bounds_in_compacted_span_delegate_correctly(eng, spark, sf_small_dir):
    fine = (
        "SELECT COUNT(*) AS c FROM ret_events "
        "WHERE ts >= '2024-01-05 00:00:07' AND ts < '2024-01-06 00:00:00'"
    )
    want = _collect(eng, fine)
    assert eng.last_route.rewritten  # second-aligned: routed pre-compaction
    eng.compact_indexes(CUT, "hour")
    got = _collect(eng, fine)
    assert eng.last_route.kind == "delegate"  # coarse tier can't split
    assert got == want
    # fine bounds in the RECENT (uncompacted) span still route
    recent = (
        "SELECT COUNT(*) AS c FROM ret_events "
        "WHERE ts >= '2024-01-20 00:00:07' AND ts < '2024-01-21 00:00:00'"
    )
    _collect(eng, recent)
    assert eng.last_route.rewritten


def test_group_by_finer_than_compacted_tier_delegates(eng):
    gb_min = (
        "SELECT date_trunc('minute', ts) AS b, COUNT(*) AS c FROM ret_events "
        "WHERE ts >= '2024-01-05 00:00:00' AND ts < '2024-01-05 02:00:00' "
        "GROUP BY date_trunc('minute', ts) ORDER BY b"
    )
    want = _collect(eng, gb_min)
    eng.compact_indexes(CUT, "hour")
    got = _collect(eng, gb_min)
    assert eng.last_route.kind == "delegate"
    assert got == want
    # hour group-bys over the compacted span still answer zero-job
    gb_hr = gb_min.replace("'minute'", "'hour'")
    _collect(eng, gb_hr)
    assert eng.last_route.rewritten


def test_ladder_and_validation(eng):
    land = "SELECT COUNT(*) AS c, SUM(value) AS s FROM ret_events"
    want = _collect(eng, land)
    eng.compact_indexes("2024-01-08 00:00:00", "minute")
    eng.compact_indexes(CUT, "hour")  # re-rolls the minute tier inside CUT
    w = eng.count_wheels["*_AGG"]
    assert w.tiers == [(CUT_SEC, 3600)]
    assert w.coarsest_width == 3600
    assert _collect(eng, land) == want
    # ladder extends: day tier over the older half only
    eng.compact_indexes("2024-01-10 00:00:00", "day")
    w = eng.count_wheels["*_AGG"]
    assert w.tiers == [(1704844800, 86400), (CUT_SEC, 3600)]
    assert _collect(eng, land) == want
    # a coarser tier cannot be re-rolled to a finer width
    with pytest.raises(ValueError, match="re-compact"):
        eng.compact_indexes("2024-01-09 00:00:00", "hour")
    # widths must nest (90 min neither divides a day tier nor is divided
    # by the hour tier it would roll)
    with pytest.raises(ValueError, match="nest"):
        eng.count_wheels["*_AGG"].compact_before(CUT_SEC, 5400)
    with pytest.raises(ValueError, match="align"):
        eng.count_wheels["*_AGG"].compact_before(CUT_SEC + 1, 60)


def test_compaction_matches_fresh_coarse_build(spark, sf_small_dir):
    """Rolled buckets must hold exactly what building at the coarse
    granularity from scratch produces — states are monoids."""
    fine = WheelEngine(
        spark, "ret_f", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    fine.build_index("value")
    fine.compact_indexes("2099-01-01 00:00:00", "minute")  # everything
    coarse = WheelEngine(
        spark, "ret_c", f"{sf_small_dir}/events.parquet", time_column="ts",
        index_granularity="minute",
    )
    coarse.build_index("value")
    fw = fine.agg_wheels[("value", "*_AGG")]
    cw = coarse.agg_wheels[("value", "*_AGG")]
    assert np.array_equal(fw.secs, cw.secs)
    assert np.array_equal(fw.cnt, cw.cnt)
    assert np.array_equal(fw.vcnt_, cw.vcnt_)
    assert np.allclose(fw.sum_, cw.sum_)
    assert np.array_equal(fw.min_, cw.min_)
    assert np.array_equal(fw.max_, cw.max_)


def test_save_load_round_trips_tiers(eng, tmp_path):
    land = "SELECT COUNT(*) AS c, SUM(value) AS s FROM ret_events"
    fine = (
        "SELECT COUNT(*) AS c FROM ret_events "
        "WHERE ts >= '2024-01-05 00:01:00' AND ts < '2024-01-06 00:00:00'"
    )
    eng.compact_indexes(CUT, "hour")
    want = _collect(eng, land)
    eng.save_indexes(str(tmp_path / "idx"))
    e2 = WheelEngine(
        eng.spark, "ret_events", eng.source_path, time_column="ts",
        load_indexes=str(tmp_path / "idx"),
    )
    w = e2.count_wheels["*_AGG"]
    assert w.tiers == [(CUT_SEC, 3600)]
    assert _collect(e2, land) == want
    # the reloaded wheel must refuse to split coarse buckets — a lost tier
    # map would silently chop them and answer wrong
    _collect(e2, fine)
    assert e2.last_route.kind == "delegate"


def test_streaming_retention_bounds_state(spark):
    """An endless stream with retention keeps bounded fine state: buckets
    older than the keep-fine horizon roll up as the watermark advances,
    and coarse answers stay exact."""
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    base = spark.createDataFrame(
        [("2024-01-01 00:00:00", 0.0)], "ts string, v double"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v")
    eng = WheelEngine(spark, "ret_stream", base, time_column="ts")
    eng.build_index("v")
    # keep 1 day fine; older rolls to hours
    m = StreamingWheelMaintainer(eng, retention=(86400, "hour"))
    rows_per_day = 600
    for day in range(1, 8):
        rows = [
            (f"2024-01-0{day} {h:02d}:{mi:02d}:{s:02d}", float(day * 100 + i))
            for i, (h, mi, s) in enumerate(
                (i // 3600 % 24, i // 60 % 60, i % 60) for i in range(0, rows_per_day)
            )
        ]
        batch = spark.createDataFrame(rows, "ts string, v double").selectExpr(
            "CAST(ts AS TIMESTAMP) AS ts", "v"
        )
        m.merge_batch(batch)
    w = eng.count_wheels["*_AGG"]
    # without retention: 1 + 7*600 fine buckets; with it, the first six
    # days are hourly (10-minute span each day → 1 bucket/day)
    assert w.secs.size < 1 + 2 * rows_per_day + 10, w.secs.size
    assert w.tiers and w.tiers[-1][1] == 3600
    got = eng.sql(
        "SELECT COUNT(*) AS c FROM ret_stream "
        "WHERE ts >= '2024-01-02 00:00:00' AND ts < '2024-01-05 00:00:00'"
    ).collect()[0][0]
    assert eng.last_route.rewritten
    assert got == 3 * rows_per_day
    # total mass conserved across all merges + compactions
    land = eng.sql("SELECT COUNT(*) AS c FROM ret_stream").collect()[0][0]
    assert land == 1 + 7 * rows_per_day


# ---------------------------------------------------------------- property
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(st.data())
def test_compaction_property_random_timelines(data):
    """Pure-numpy property pin (no Spark): random raw rows -> fine wheel ->
    a random minute/hour compaction ladder. Every range the tier map
    declares coverable must answer exactly the raw-row aggregates; bounds
    that would split a coarse bucket must refuse; total mass is conserved."""
    rng = data.draw(st.randoms(use_true_random=False))
    n_rows = data.draw(st.integers(5, 300))
    span = data.draw(st.sampled_from([3600, 86400, 3 * 86400]))
    rows = [(rng.randrange(0, span), rng.uniform(-100.0, 100.0)) for _ in range(n_rows)]
    by_sec: dict[int, list[float]] = {}
    for s, v in rows:
        by_sec.setdefault(s, []).append(v)
    secs = np.array(sorted(by_sec), dtype=np.int64)
    cnt = np.array([len(by_sec[s]) for s in secs], dtype=np.int64)
    w = WheelIndex(
        "t", "v", "*_AGG", secs, cnt,
        sum_=np.array([sum(by_sec[s]) for s in secs]),
        min_=np.array([min(by_sec[s]) for s in secs]),
        max_=np.array([max(by_sec[s]) for s in secs]),
        vcnt_=cnt.copy(),
        value_sql_type="DOUBLE",
        min_ts_us=int(secs[0]) * 10**6,
        max_ts_us=int(secs[-1]) * 10**6,
        complete=True,
        bucket_seconds=1,
    )
    # ladder: minute tier behind cut_m, then (maybe) an older hour tier
    cut_m = (data.draw(st.integers(0, span)) // 60) * 60
    w.compact_before(cut_m, 60)
    if data.draw(st.booleans()):
        cut_h = (data.draw(st.integers(0, cut_m)) // 3600) * 3600
        w.compact_before(cut_h, 3600)
    assert int(w.landmark()["count"]) == n_rows  # mass conserved

    def raw(a, b):
        vals = [v for s, v in rows if a <= s < b]
        return len(vals), vals

    for _ in range(15):
        a = data.draw(st.integers(-60, span + 60))
        b = data.draw(st.integers(a, span + 120))
        states = w.combine_range(a, b)
        aligned = a % w.width_at(a) == 0 and b % w.width_at(b) == 0
        if not aligned:
            assert states is None  # would split a coarse bucket
            continue
        assert states is not None  # complete wheel: any aligned range
        n, vals = raw(a, b)
        assert states["count"] == n
        if n:
            assert abs(states["sum"] - sum(vals)) <= 1e-9 * max(1.0, abs(sum(vals)))
            assert states["min"] == min(vals) and states["max"] == max(vals)
        else:
            assert states["sum"] is None and states["min"] is None

    # group-by at a granularity every intersecting tier divides
    g = data.draw(st.sampled_from([3600, 86400]))
    res = w.group_by(0, ((span // g) + 1) * g, g)
    if w._max_width_in(0, span) <= g:
        assert res is not None
        secs, cols = res
        got = dict(zip(secs.tolist(), cols["count"]))
        want: dict[int, int] = {}
        for s, _v in rows:
            want[s - s % g] = want.get(s - s % g, 0) + 1
        assert got == want


# ------------------------------------------------ spark-backend tiers (r5)
CUT2 = "2024-01-20 00:00:00"


@pytest.fixture()
def seng(spark, sf_small_dir):
    e = WheelEngine(
        spark, "ret_events", f"{sf_small_dir}/events.parquet", time_column="ts",
        index_backend="spark",
    )
    e.build_index("value")
    return e


def test_spark_backend_compaction_preserves_answers(seng, eng):
    """The cached-DataFrame backend compacts too: answers over hour-aligned
    ranges, landmarks, and day group-bys are identical to the driver
    backend's compacted answers (one re-aggregation job, monoid states)."""
    reclaimed = seng.compact_indexes(CUT, "hour")
    assert reclaimed > 0
    eng.compact_indexes(CUT, "hour")
    for q in QUERIES:
        got = _collect(seng, q)
        assert seng.last_route.kind != "delegate", q
        want = _collect(eng, q)
        assert len(got) == len(want)
        for g, w in zip(got, want):
            for x, y in zip(g, w):
                if isinstance(x, float):
                    assert abs(x - y) <= 1e-9 * max(1.0, abs(y)), (q, g, w)
                else:
                    assert x == y, (q, g, w)


def test_spark_backend_fine_asks_delegate_after_compaction(seng):
    seng.compact_indexes(CUT, "hour")
    # minute-aligned bound INSIDE the compacted span: must delegate (and
    # still answer correctly via the scan)
    q = (
        "SELECT COUNT(*) AS c FROM ret_events "
        "WHERE ts >= '2024-01-05 00:30:00' AND ts < '2024-01-20 00:00:00'"
    )
    got = _collect(seng, q)
    assert seng.last_route.kind == "delegate"
    # minute group-by over the compacted span: the hour tier can't split
    q2 = (
        "SELECT date_trunc('minute', ts) AS b, COUNT(*) AS c FROM ret_events "
        "WHERE ts >= '2024-01-05 00:00:00' AND ts < '2024-01-06 00:00:00' "
        "GROUP BY 1"
    )
    _collect(seng, q2)
    assert seng.last_route.kind == "delegate"


def test_spark_backend_ladder_validation(seng):
    seng.compact_indexes(CUT, "hour")
    w = seng.agg_wheels[("value", "*_AGG")]
    with pytest.raises(ValueError):
        w.compact_before(10**10, 7)  # 7 s does not nest 3600 s tier
    with pytest.raises(ValueError):
        w.compact_before(0, 86400)  # cutoff behind the existing tier end
    # advancing the ladder (hour → day, later cutoff) is fine
    assert seng.compact_indexes(CUT2, "day") >= 0


def test_compact_indexes_is_all_or_nothing(seng):
    """compact_indexes validates the (cutoff, width) shape against EVERY
    wheel before mutating any: when one wheel's ladder rejects the shape,
    no wheel is compacted and the epoch is unchanged (ADVICE r5,
    rollup_table.py:109 — previously a mid-iteration ValueError left
    already-visited wheels compacted)."""
    from datafusion_uwheel_spark.engine import STAR_AGGREGATION_ALIAS

    # push ONE wheel onto an hour tier directly, so the engine's wheels
    # disagree about what ladder shapes are acceptable
    agg = seng.agg_wheels[("value", "*_AGG")]
    agg.compact_before(
        1705708800, 3600  # 2024-01-20 00:00:00 — aligns to the hour
    )
    star = seng.count_wheels[STAR_AGGREGATION_ALIAS]
    assert star.tiers == [] or star.tiers is None or not star.tiers
    epoch = seng.index_epoch
    # minute nests the star wheel's (tierless) ladder but NOT the agg
    # wheel's hour tier → the whole call must refuse up front
    with pytest.raises(ValueError):
        seng.compact_indexes("2024-01-25 00:00:00", "minute")
    assert not star.tiers  # the star wheel was NOT touched first
    assert seng.index_epoch == epoch
    # and a shape every wheel accepts still works afterwards
    assert seng.compact_indexes("2024-01-25 00:00:00", "hour") >= 0


# ------------------------------------------------ sketch rollup tiers (r6)
@pytest.fixture()
def sk_eng(spark, sf_small_dir):
    e = WheelEngine(
        spark, "ret_sketch", f"{sf_small_dir}/events.parquet", time_column="ts"
    )
    e.build_index("value")
    return e


def test_sketch_compaction_matches_fresh_coarse_build(spark, sk_eng):
    """Compacting second-bucket sketch rollups to hours must be
    indistinguishable from a fresh hourly build: HLL and theta unions are
    exact sketch algebra (identical register/hash state either way), KLL
    answers within its pinned rank-error bound."""
    from datafusion_uwheel_spark.operators.distinct import (
        build_distinct_rollup,
    )

    e = sk_eng
    d = e.build_distinct_index("user_id", bucket_seconds=1)
    q = e.build_quantile_index("value", bucket_seconds=1)
    t = e.build_theta_index("user_id", bucket_seconds=1)
    rows_before = d._df.count()
    R1 = ("2024-01-03 00:00:00", "2024-01-05 00:00:00")
    R2 = ("2024-01-05 00:00:00", "2024-01-07 00:00:00")
    t_ret_before = t.approx_retained(R1, R2)
    t_new_before = t.approx_new(R1, R2)
    reclaimed = e.compact_indexes(CUT, "hour")
    assert reclaimed > 0
    assert d._df.count() < rows_before
    assert d.tiers == [(CUT_SEC, 3600)]
    assert q.tiers == [(CUT_SEC, 3600)] and t.tiers == [(CUT_SEC, 3600)]
    fresh = build_distinct_rollup(
        e.df, "ts", "user_id", bucket_seconds=3600
    )
    try:
        assert d.approx_distinct(*R1) == fresh.approx_distinct(*R1)
        got_by = {
            r["bucket"]: r["approx_distinct"]
            for r in d.approx_distinct_by("day").collect()
        }
        want_by = {
            r["bucket"]: r["approx_distinct"]
            for r in fresh.approx_distinct_by("day").collect()
        }
        assert got_by == want_by
    finally:
        fresh.unpersist()
    # theta set algebra unchanged (hash sets identical below sampling)
    assert t.approx_retained(R1, R2) == t_ret_before
    assert t.approx_new(R1, R2) == t_new_before
    # KLL: bracketed by the exact quantiles at q +/- 0.04 (the suite's
    # standard rank-error check)
    import numpy as np

    vals = np.array(
        [
            r[0]
            for r in e.df.filter(
                (F.col("ts") >= R1[0]) & (F.col("ts") < R1[1])
                & F.col("value").isNotNull()
            )
            .select("value")
            .collect()
        ]
    )
    est = q.approx_quantile(0.5, *R1)
    lo, hi = np.quantile(vals, 0.46), np.quantile(vals, 0.54)
    assert lo <= est <= hi, (lo, est, hi)


def test_sketch_granularity_gates_after_compaction(sk_eng):
    """Finer-than-tier group-by asks must RAISE (coarse buckets cannot be
    split), coarser ones keep answering — the wheel group_by discipline."""
    e = sk_eng
    d = e.build_distinct_index("user_id", bucket_seconds=60)
    e.compact_indexes(CUT, "hour")
    assert d.tiers == [(CUT_SEC, 3600)]
    with pytest.raises(ValueError, match="not tiled"):
        d.approx_distinct_by(60)
    with pytest.raises(ValueError, match="not tiled"):
        d.approx_distinct_by("minute")
    out = d.approx_distinct_by("day").collect()
    assert len(out) > 0
    # range estimates still answer (superset edge semantics, wider slop)
    assert d.approx_distinct("2024-01-05 00:00:00", "2024-01-06 00:00:00") > 0


def test_sketch_save_load_round_trips_tiers(spark, sk_eng, tmp_path):
    from datafusion_uwheel_spark.operators.distinct import (
        load_distinct_rollup,
    )

    e = sk_eng
    d = e.build_distinct_index("user_id", bucket_seconds=1)
    e.compact_indexes(CUT, "hour")
    want = d.approx_distinct("2024-01-04 00:00:00", "2024-01-06 00:00:00")
    p = d.save(str(tmp_path / "dsk"))
    r = load_distinct_rollup(spark, p)
    try:
        assert r.tiers == [(CUT_SEC, 3600)]
        assert (
            r.approx_distinct("2024-01-04 00:00:00", "2024-01-06 00:00:00")
            == want
        )
        # a late row landing in the compacted span buckets at the TIER
        # width — layout identical to a fresh coarse build, rows bounded
        batch = spark.createDataFrame(
            [("2024-01-05 12:34:56", 999999)], "ts string, user_id long"
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "user_id")
        r.merge_batch(batch, "ts")
        stray = r._df.filter(
            (F.col("__sec") < CUT_SEC) & (F.col("__sec") % 3600 != 0)
        ).count()
        assert stray == 0
    finally:
        r.unpersist()


def test_engine_skips_incompatible_sketch_rollups(sk_eng):
    """A sketch rollup already at or coarser than the requested width (or
    whose buckets the width cannot nest) is skipped, never an error — its
    state is already bounded at or above the target; the wheels still
    compact."""
    e = sk_eng
    d = e.build_distinct_index("user_id", bucket_seconds=3600)
    reclaimed = e.compact_indexes(CUT, "minute")  # finer than the rollup
    assert reclaimed > 0  # the 1 s wheels compacted
    assert d.tiers == []  # hourly rollup untouched
    e.compact_indexes(CUT, "day")  # now coarser: the rollup joins
    assert d.tiers == [(CUT_SEC, 86400)]


def test_sketch_streaming_retention_bounds_rows(spark):
    """An endless stream with second-bucket sketch rollups and retention=
    keeps BOUNDED rollup rows — the r5 gap: wheels compacted but sketch
    frames grew O(span/bucket_seconds) forever."""
    from datafusion_uwheel_spark.streaming.maintenance import (
        StreamingWheelMaintainer,
    )

    base = spark.createDataFrame(
        [("2024-01-01 00:00:00", 0.0, 0)], "ts string, v double, uid long"
    ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v", "uid")
    eng = WheelEngine(spark, "ret_sk_stream", base, time_column="ts")
    eng.build_index("v")
    d = eng.build_distinct_index("uid", bucket_seconds=1)
    q = eng.build_quantile_index("v", bucket_seconds=1)
    m = StreamingWheelMaintainer(eng, retention=(86400, "hour"))
    per_day = 300
    for day in range(1, 7):
        rows = [
            (
                f"2024-01-0{day} {i // 3600:02d}:{i // 60 % 60:02d}:{i % 60:02d}",
                float(day * 1000 + i),
                day * 1000 + (i % 50),
            )
            for i in range(per_day)
        ]
        batch = spark.createDataFrame(
            rows, "ts string, v double, uid long"
        ).selectExpr("CAST(ts AS TIMESTAMP) AS ts", "v", "uid")
        m.merge_batch(batch)
    # without retention: 1 + 6*300 second buckets per rollup; with it,
    # days 1-5 are hourly (a 5-minute span per day -> 1 bucket each)
    assert d._df.count() < 1 + 2 * per_day + 10, d._df.count()
    assert q._df.count() < 1 + 2 * per_day + 10, q._df.count()
    assert d.tiers and d.tiers[-1][1] == 3600
    # estimates still answer: 50 distinct uids per day, exact at this size
    est = d.approx_distinct("2024-01-02 00:00:00", "2024-01-03 00:00:00")
    assert abs(est - 50) <= 2, est


def test_compaction_prunes_unreachable_at_start_entries(spark):
    """The at-start sliver arrays join the retention ladder (r6): entries
    at non-tier-aligned instants inside a compacted span are unreachable
    (covers/combine_range gates delegate finer asks) and are pruned —
    without this, at-start memory grows linearly with distinct instants
    even though the buckets are bounded. Tier-aligned entries survive and
    keep serving hybrid boundaries exactly."""
    # exact-second timestamps: every row sits AT its 1s bucket start, so
    # the at-start arrays hold one entry per distinct second
    rows = [
        (f"2024-01-01 {h:02d}:{m:02d}:{sec:02d}", float(h * 3600 + m * 60 + sec))
        for h in range(4)
        for m in range(0, 60, 7)
        for sec in (0, 13, 29)
    ]
    df = spark.createDataFrame(rows, "ts string, v double").selectExpr(
        "CAST(ts AS TIMESTAMP) AS ts", "v"
    )
    e = WheelEngine(spark, "ret_at", df, time_column="ts")
    e.build_index("v")
    w = e.agg_wheels[("v", "*_AGG")]
    before = int(w.at_secs_.size)
    assert before == len(rows)
    sql_hyb = (
        "SELECT COUNT(*) AS n, SUM(v) AS s FROM ret_at "
        "WHERE ts > '2024-01-01 00:00:00' AND ts <= '2024-01-01 03:00:00'"
    )
    want = spark.sql(sql_hyb).collect()
    cut = "2024-01-01 02:00:00"
    cut_sec = 1704074400
    e.compact_indexes(cut, "hour")
    after = int(w.at_secs_.size)
    assert after < before, (before, after)
    # every surviving compacted-span entry is hour-aligned
    in_span = w.at_secs_[w.at_secs_ < cut_sec]
    assert in_span.size > 0 and (in_span % 3600 == 0).all()
    # fine-suffix entries survive untouched
    assert (w.at_secs_ >= cut_sec).sum() == sum(
        1 for r in rows if r[0] >= "2024-01-01 02:00:00"
    )
    # a tier-aligned hybrid boundary INSIDE the compacted span still
    # answers from the kept at-start entry, exactly
    got = e.sql(sql_hyb)
    assert e.last_route.kind in ("hybrid_agg", "delegate")
    r0 = got.collect()[0]
    assert r0["n"] == want[0]["n"]
    assert abs(r0["s"] - want[0]["s"]) <= 1e-9 * max(1.0, abs(want[0]["s"]))
    # a fine (second-aligned) boundary inside the compacted span delegates
    # and still answers correctly via the scan
    sql_fine = (
        "SELECT COUNT(*) AS n FROM ret_at "
        "WHERE ts > '2024-01-01 00:00:13' AND ts <= '2024-01-01 01:00:00'"
    )
    got2 = e.sql(sql_fine)
    assert e.last_route.kind == "delegate"
    assert got2.collect() == spark.sql(sql_fine).collect()


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_at_start_pruning_property(data):
    """Pure-numpy property pin for the r6 at-start retention rule: random
    exact-second rows -> wheel WITH at-start slivers -> random ladder.
    Every surviving entry is aligned to the width in force at its instant;
    every instant still aligned to its tier answers the exact raw rows at
    that instant (the reachable set is untouched); fine-suffix entries all
    survive; combine_range stays exact — nothing the pruning removed was
    consultable."""
    rng = data.draw(st.randoms(use_true_random=False))
    n_rows = data.draw(st.integers(5, 200))
    span = data.draw(st.sampled_from([3600, 86400]))
    rows = [(rng.randrange(0, span), rng.uniform(-50.0, 50.0)) for _ in range(n_rows)]
    by_sec: dict[int, list[float]] = {}
    for s, v in rows:
        by_sec.setdefault(s, []).append(v)
    secs = np.array(sorted(by_sec), dtype=np.int64)
    cnt = np.array([len(by_sec[s]) for s in secs], dtype=np.int64)
    sums = np.array([sum(by_sec[s]) for s in secs])
    w = WheelIndex(
        "t", "v", "*_AGG", secs, cnt,
        sum_=sums.copy(),
        min_=np.array([min(by_sec[s]) for s in secs]),
        max_=np.array([max(by_sec[s]) for s in secs]),
        vcnt_=cnt.copy(),
        at_secs_=secs.copy(), at_cnt_=cnt.copy(), at_vcnt_=cnt.copy(),
        at_sum_=sums.copy(),
        at_min_=np.array([min(by_sec[s]) for s in secs]),
        at_max_=np.array([max(by_sec[s]) for s in secs]),
        value_sql_type="DOUBLE",
        min_ts_us=int(secs[0]) * 10**6,
        max_ts_us=int(secs[-1]) * 10**6,
        complete=True,
        bucket_seconds=1,
    )
    cut_m = (data.draw(st.integers(0, span)) // 60) * 60
    w.compact_before(cut_m, 60)
    if data.draw(st.booleans()):
        cut_h = (data.draw(st.integers(0, cut_m)) // 3600) * 3600
        w.compact_before(cut_h, 3600)
    # 1) every surviving at entry aligns to the width in force at it
    for s in w.at_secs_:
        assert int(s) % w.width_at(int(s)) == 0, (s, w.tiers)
    # 2) the reachable set answers exactly: any instant aligned to its
    #    tier width returns the raw rows AT that instant (zero-state when
    #    the instant holds none)
    probes = set(int(s) for s in secs) | {
        (data.draw(st.integers(0, span)) // 60) * 60 for _ in range(5)
    }
    for s in probes:
        if s % w.width_at(s):
            continue  # unreachable through the gated paths
        at = w.at_start(s)
        vals = by_sec.get(s, [])
        assert at["count"] == len(vals), (s, at)
        if vals:
            assert abs(at["sum"] - sum(vals)) <= 1e-9 * max(1.0, abs(sum(vals)))
    # 3) fine-suffix entries all survive
    fine_start = max((e for e, _ in w.tiers), default=0)
    want_fine = [s for s in by_sec if s >= fine_start]
    assert int((w.at_secs_ >= fine_start).sum()) == len(want_fine)
    # 4) bucket states stay exact over an aligned range
    states = w.combine_range(0, ((span // 3600) + 1) * 3600)
    assert states is not None and states["count"] == n_rows


def test_sketch_with_coarser_tier_skipped_not_fatal(sk_eng):
    """A sketch rollup whose EXISTING tier rejects the requested shape
    (finer width after a coarser tier — the single-tier ladder is stricter
    than the driver wheels') is SKIPPED, not a ValueError that aborts the
    whole compaction: under streaming retention that abort would kill the
    stream (r6 review finding)."""
    e = sk_eng
    d = e.build_distinct_index("user_id", bucket_seconds=60)
    e.compact_indexes("2024-01-10 00:00:00", "day")  # rollup tier: day
    assert d.tiers and d.tiers[0][1] == 86400
    # hour is finer than the rollup's day tier: the rollup skips, the 1 s
    # wheels still compact, nothing raises
    reclaimed = e.compact_indexes(CUT, "hour")
    assert reclaimed > 0
    assert d.tiers[0][1] == 86400  # untouched
    # advancing the rollup's own ladder still works
    e.compact_indexes("2024-01-20 00:00:00", "day")
    assert d.tiers == [(1705708800, 86400)]


def test_sketch_fine_suffix_groupby_after_prefix_compaction(spark, sk_eng):
    """Range-aware granularity gate (r6 review finding): after compacting
    the PREFIX to hours, minute group-bys restricted to the fine suffix
    still answer (tiers are prefixes — only tiers intersecting the asked
    range constrain it); unrestricted or prefix-reaching asks still
    raise."""
    e = sk_eng
    d = e.build_distinct_index("user_id", bucket_seconds=60)
    e.compact_indexes(CUT, "hour")
    # fine suffix only: answers
    out = d.approx_distinct_by(60, start=CUT, end="2024-01-25 00:00:00")
    assert out.count() > 0
    out2 = d.approx_distinct_by(
        "minute", start="2024-01-16 00:00:00", end="2024-01-18 00:00:00"
    )
    assert out2.count() > 0
    # whole table: the compacted prefix forbids minute cells
    with pytest.raises(ValueError, match="not tiled"):
        d.approx_distinct_by(60)
    # range reaching into the prefix: still forbidden
    with pytest.raises(ValueError, match="not tiled"):
        d.approx_distinct_by(60, start="2024-01-10 00:00:00", end="2024-01-20 00:00:00")


def test_spark_backend_hopping_windows_route(spark, sf_small_dir):
    """SparkRollupWheel.hop_group_by (r6): hopping window() group-bys on
    the spark index backend previously CRASHED with AttributeError at
    every hop site; they now route and match the delegate — including the
    width-not-a-slide-multiple shape (variable replicas per bucket) and
    the grouped-OR form."""
    from datafusion_uwheel_spark.sources import read_parquet

    e = WheelEngine(
        spark, "shop_events", f"{sf_small_dir}/events.parquet",
        time_column="ts", index_backend="spark",
    )
    e.build_index("value")
    read_parquet(spark, f"{sf_small_dir}/events.parquet").createOrReplaceTempView(
        "shop_events"
    )
    cases = [
        ("SELECT window(ts, '6 hours', '3 hours').start AS b, COUNT(*) AS n, "
         "SUM(value) AS s FROM shop_events "
         "WHERE ts >= '2024-01-03 00:00:00' AND ts < '2024-01-05 00:00:00' "
         "GROUP BY window(ts, '6 hours', '3 hours') ORDER BY b", "group_by"),
        ("SELECT window(ts, '90 seconds', '60 seconds').start AS b, COUNT(*) AS n "
         "FROM shop_events WHERE ts >= '2024-01-03 00:00:00' AND "
         "ts < '2024-01-03 01:00:00' "
         "GROUP BY window(ts, '90 seconds', '60 seconds') ORDER BY b", "group_by"),
        ("SELECT window(ts, '6 hours', '2 hours').start AS b, COUNT(*) AS n "
         "FROM shop_events WHERE (ts >= '2024-01-03 00:00:00' AND "
         "ts < '2024-01-04 00:00:00') OR (ts >= '2024-01-06 00:00:00' AND "
         "ts < '2024-01-07 00:00:00') "
         "GROUP BY window(ts, '6 hours', '2 hours') ORDER BY b", "or_group_by"),
    ]
    for sql, kind in cases:
        routed = e.sql(sql)
        assert e.last_route.kind == kind, (sql, e.last_route)
        got = [tuple(r) for r in routed.collect()]
        want = [tuple(r) for r in spark.sql(sql).collect()]
        assert len(got) == len(want), sql
        for g, w in zip(got, want):
            for x, y in zip(g, w):
                if isinstance(x, float):
                    assert abs(x - y) <= 1e-9 * max(1.0, abs(y)), (sql, g, w)
                else:
                    assert x == y, (sql, g, w)


def test_compacted_range_matches_duckdb_real_table(spark, sf_medium_dir):
    """Funding for the r14 registry rotation (uw_compacted_range out for
    the re-seated uw_le_bound_range, r9 debt): the retired row's DuckDB
    hash check moves here verbatim — the hour-compacted private engine's
    range answer vs the plain DuckDB scan at the driver's comparison
    scale (sf0.01). Monoid roll-ups must stay bit-for-bit the plain
    answer; the n/sum_value columns remain hash-checked identically
    every round inside uw_multi_agg."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    got = [
        tuple(r)
        for r in entry.uw_compacted_range(spark, sf_medium_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"'{sf_medium_dir}/events.parquet'"
    )
    exp = [
        tuple(r)
        for r in con.execute(
            "SELECT count(*) AS n, round(sum(value), 3) AS sum_value "
            "FROM events "
            f"WHERE ts >= TIMESTAMP '{entry.A}' AND ts < TIMESTAMP '{entry.B}'"
        ).fetchall()
    ]
    assert got == exp and len(got) == 1

"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship wheel-index query on sf0.001;
``queries()`` exposes one callable per implemented operator (SURVEY.md §2
inventory + the BASELINE.json north-star LLM-data operators); ``oracle_sql()``
gives the DuckDB-runnable ANSI-SQL equivalent for each (same column aliases —
the driver hash-compares values after sorting columns by name).

Float discipline: aggregate sums/averages are rounded (ROUND(x, d)) on BOTH
sides because summation order differs between engines (Spark partial aggs vs
DuckDB's scan order) — everything else (counts, mins/maxes, hashes, ratios,
fold arithmetic) is bit-exact by construction, see
``datafusion_uwheel_spark/oracles.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datafusion_uwheel_spark import oracles
from datafusion_uwheel_spark.engine import WheelEngine
from datafusion_uwheel_spark.operators import dedup, similarity
from datafusion_uwheel_spark.operators import text as text_ops

SF_SMALL = "/root/testdata/sf0.001"

# Deterministic constants — the driver testdata spans 2024-01 (TESTDATA.md);
# ranges are second-aligned so the router's rewrite-safety gate passes.
A, B = "2024-01-05 00:00:00", "2024-01-12 00:00:00"
DAY_A, DAY_B = "2024-01-08 00:00:00", "2024-01-09 00:00:00"
WEEK_A, WEEK_B = "2024-01-01 00:00:00", "2024-01-29 00:00:00"
# Verified empty at sf0.01 AND sf0.1 (deterministic seed-42 data).
EMPTY_A, EMPTY_B = "2024-01-05 00:45:00", "2024-01-05 00:46:00"
# Boundary literals for the hybrid BETWEEN/<=/>  rewrite — second-aligned, and
# verified (all SFs) to have no rows in the 1µs window after them, so Spark's
# µs timestamps and DuckDB's ns timestamps agree at the boundary.
B_INCL = "2024-01-11 23:59:59"
GT_A = "2024-01-04 12:00:00"
IMPOSSIBLE_VALUE = 100000.0  # events.value tops out ≈ 560

JACCARD_T = 0.35
LSH_MIN_EST = 0.35
EMB_DUP_T = 0.4  # 59 exact pairs at sf0.01; LSH surfaces the bucket-sharing subset
TOPK = 10
EMB_DIM = 64

# Fixed seeded query vector — NOT taken from the data (embeddings differ per
# scale factor, so a data-derived vector would silently diverge between the
# Spark query, which sees sf_dir, and the static oracle SQL).
import random as _random

_rng = _random.Random(123)
QUERY_VEC = [round(_rng.uniform(-1.0, 1.0), 6) for _ in range(EMB_DIM)]

_ENGINES: dict[str, WheelEngine] = {}


def _engine(spark: SparkSession, sf_dir: str) -> WheelEngine:
    eng = _ENGINES.get(sf_dir)
    if eng is None or eng.spark is not spark:
        eng = WheelEngine(
            spark,
            "events",
            f"{sf_dir}/events.parquet",
            time_column="ts",
            min_max_columns=("value",),
        )
        eng.build_index("value")
        eng.build_index("value", filter="event_type = 'click'")
        _ENGINES[sf_dir] = eng
    return eng


def _view(spark: SparkSession, sf_dir: str, *names: str) -> DataFrame:
    df = None
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        df.createOrReplaceTempView(name)
    return df


def _round(df: DataFrame, spec: dict[str, int]) -> DataFrame:
    cols = [
        F.round(F.col(c), d).alias(c) if c in spec else F.col(c)
        for c, d in ((c, spec.get(c, 0)) for c in df.columns)
    ]
    return df.select(*cols)


# ------------------------------------------------------------ flagship
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wheel-index GROUP BY date_trunc rewrite (R4) on sf0.001 —
    answered from the driver-side rollup, zero Spark jobs at query time."""
    eng = _engine(spark, SF_SMALL)
    df = eng.sql(
        "SELECT date_trunc('day', ts) AS bucket, COUNT(*) AS n, "
        f"SUM(value) AS sum_value FROM events WHERE ts >= '{A}' AND ts < '{B}' "
        "GROUP BY date_trunc('day', ts)"
    )
    return _round(df, {"sum_value": 3})


# ----------------------------------------------- wheel-index operators
def uw_count_range(spark, sf_dir):
    """R1: COUNT(*) over an aligned time range → COUNT-wheel lookup."""
    return _engine(spark, sf_dir).sql(
        f"SELECT COUNT(*) AS n FROM events WHERE ts >= '{A}' AND ts < '{B}'"
    )


def uw_sum_range(spark, sf_dir):
    """R2: SUM over a range → SUM-state lookup."""
    df = _engine(spark, sf_dir).sql(
        f"SELECT SUM(value) AS sum_value FROM events WHERE ts >= '{A}' AND ts < '{B}'"
    )
    return _round(df, {"sum_value": 3})


def uw_stddev_range(spark, sf_dir):
    """Variance family (beyond the reference): derived from the wheel's
    sum-of-squares state; rounded because DuckDB's streaming variance
    differs in low-order bits from the two-pass state formula."""
    df = _engine(spark, sf_dir).sql(
        "SELECT STDDEV(value) AS std_value, VAR_POP(value) AS varp_value "
        f"FROM events WHERE ts >= '{A}' AND ts < '{B}'"
    )
    return _round(df, {"std_value": 6, "varp_value": 4})


def uw_multi_agg(spark, sf_dir):
    """R3: several aggregates in one statement → one-row multi-column scan.
    ``COUNT(value)`` folded in r5 (the former uw_count_col row — non-null
    count from the value wheel's vcnt state; is_count_star_aggregate,
    lib.rs:883-907) to fund uw_compacted_range under the 50-row cap."""
    df = _engine(spark, sf_dir).sql(
        "SELECT COUNT(*) AS n, COUNT(value) AS n_vals, SUM(value) AS sum_value, "
        "AVG(value) AS avg_value, "
        "MIN(value) AS min_value, MAX(value) AS max_value "
        f"FROM events WHERE ts >= '{A}' AND ts < '{B}'"
    )
    return _round(df, {"sum_value": 3, "avg_value": 6})


def uw_groupby_hour(spark, sf_dir):
    """R4: GROUP BY date_trunc('hour') from the rollup's hour view."""
    df = _engine(spark, sf_dir).sql(
        "SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, SUM(value) AS sum_value "
        f"FROM events WHERE ts >= '{A}' AND ts < '{B}' GROUP BY date_trunc('hour', ts)"
    )
    return _round(df, {"sum_value": 3})


def uw_dim_groupby(spark, sf_dir):
    """Beyond-reference: the time × category dashboard rollup — ``GROUP BY
    date_trunc, event_type`` answered zero-job from a partitioned wheel
    family (``router._try_dim_group_by``; the reference binds ONE filter per
    optimizer and has no multi-dimension group-by, ``lib.rs:76-77``). This
    slot replaced ``uw_groupby_minute`` (r4): fixed-width minute buckets are
    mechanically identical to the hour row and stay pytest-covered."""
    eng = _engine(spark, sf_dir)
    if "event_type" not in eng.partition_sets:
        eng.build_partitioned_index("value", partition_by="event_type")
    df = eng.sql(
        "SELECT date_trunc('day', ts) AS bucket, event_type AS et, COUNT(*) AS n, "
        f"SUM(value) AS sum_value FROM events WHERE ts >= '{A}' AND ts < '{B}' "
        "GROUP BY date_trunc('day', ts), event_type ORDER BY bucket, et"
    )
    assert eng.last_route.kind == "group_by", eng.last_route
    return _round(df, {"sum_value": 3})


def uw_groupby_week(spark, sf_dir):
    """Calendar granularity (beyond the reference, which refuses
    week/month/year): ISO-week boundaries are day-aligned, so second buckets
    nest exactly. This slot ALTERNATES with uw_groupby_month round-over-round
    (r8: month in, week out) so each calendar granularity gets the DuckDB
    hash check at least every other round; both stay property-tested in
    test_lookup_properties.py regardless."""
    df = _engine(spark, sf_dir).sql(
        "SELECT date_trunc('week', ts) AS bucket, COUNT(*) AS n, SUM(value) AS sum_value "
        f"FROM events WHERE ts >= '{WEEK_A}' AND ts < '{WEEK_B}' "
        "GROUP BY date_trunc('week', ts)"
    )
    return _round(df, {"sum_value": 3})


def uw_groupby_month(spark, sf_dir):
    """Calendar granularity, month form — see :func:`uw_groupby_week` for
    the alternation ledger (r8: month holds the registry slot)."""
    df = _engine(spark, sf_dir).sql(
        "SELECT date_trunc('month', ts) AS bucket, COUNT(*) AS n, SUM(value) AS sum_value "
        f"FROM events WHERE ts >= '{WEEK_A}' AND ts < '{WEEK_B}' "
        "GROUP BY date_trunc('month', ts)"
    )
    return _round(df, {"sum_value": 3})


def uw_groupby_landmark(spark, sf_dir):
    """Landmark GROUP BY (no WHERE at all — beyond the reference, whose
    group-by path demands a temporal filter, lib.rs:269-272): a complete
    wheel covers the whole timeline, so the day buckets come straight from
    the rollup."""
    df = _engine(spark, sf_dir).sql(
        "SELECT date_trunc('day', ts) AS bucket, COUNT(*) AS n, SUM(value) AS sum_value "
        "FROM events GROUP BY date_trunc('day', ts)"
    )
    return _round(df, {"sum_value": 3})


def uw_window_tumbling(spark, sf_dir):
    """Tumbling ``window(ts, '6 hours')`` GROUP BY — Spark's idiomatic
    temporal-rollup shape, routed from the second-granularity wheel at any
    second-aligned width (the reference's R4 maps only five named
    date_trunc granularities, lib.rs:348-358). Buckets are epoch-aligned
    (Spark's default zero startTime); start AND end fields prove the full
    window struct semantics."""
    df = _engine(spark, sf_dir).sql(
        "SELECT window(ts, '6 hours').start AS ws, window(ts, '6 hours').end AS we, "
        "COUNT(*) AS n, SUM(value) AS sum_value "
        f"FROM events WHERE ts >= '{A}' AND ts < '{B}' GROUP BY window(ts, '6 hours')"
    )
    return _round(df, {"sum_value": 3})


def uw_having_groupby(spark, sf_dir):
    """GROUP BY + HAVING + ORDER BY, all index-resolved: the HAVING
    aggregate is evaluated per bucket from the same wheel states and the
    constant rows are sorted driver-side — zero Spark jobs end to end
    (beyond the reference, which has no HAVING/ORDER BY surface at all)."""
    df = _engine(spark, sf_dir).sql(
        "SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, AVG(value) AS avg_value "
        f"FROM events WHERE ts >= '{A}' AND ts < '{B}' "
        "GROUP BY date_trunc('hour', ts) HAVING AVG(value) > 50 ORDER BY bucket"
    )
    return _round(df, {"avg_value": 6})


def uw_landmark_sum(spark, sf_dir):
    """R5: landmark (no filter) aggregate over all indexed data."""
    df = _engine(spark, sf_dir).sql("SELECT SUM(value) AS sum_value FROM events")
    return _round(df, {"sum_value": 3})


def uw_keyed_sum(spark, sf_dir):
    """R9/R13: keyed wheel — residual predicate matches the index filter."""
    df = _engine(spark, sf_dir).sql(
        "SELECT SUM(value) AS sum_value FROM events "
        f"WHERE ts >= '{A}' AND ts < '{B}' AND event_type = 'click'"
    )
    return _round(df, {"sum_value": 3})


def uw_keyed_numeric(spark, sf_dir):
    """Keyed wheel with a *numeric* equality filter — exercises the
    canonical number rendering in filter-key matching (the reference matches
    `passenger_count = 3.0` style keys, lib.rs:164-173). Rotated back in r8
    (out since r6, when its slot funded the re-seated uw_count_col row)."""
    eng = _engine(spark, sf_dir)
    if ("value", "user_id = 7.0") not in eng.agg_wheels:
        eng.build_index("value", filter="user_id = 7")
    df = eng.sql(
        "SELECT SUM(value) AS sum_value, COUNT(*) AS n FROM events "
        f"WHERE ts >= '{A}' AND ts < '{B}' AND user_id = 7"
    )
    return _round(df, {"sum_value": 3})


def uw_keyed_count(spark, sf_dir):
    """R9/R11 composite: COUNT(*) + keyed filter + range — the keyed COUNT
    wheel (reference key scheme ``lib.rs:164-173``). Folded out r4 to fund
    uw_window_tumbling (semantics hash-checked meanwhile via
    uw_keyed_numeric's ``n``); re-seated r11 per the rotation ledger — the
    oldest rotation debt — from uw_sum_range's slot."""
    eng = _engine(spark, sf_dir)
    df = eng.sql(
        "SELECT COUNT(*) AS n FROM events "
        f"WHERE ts >= '{A}' AND ts < '{B}' AND event_type = 'click'"
    )
    return df


def uw_keyed_landmark(spark, sf_dir):
    """Keyed landmark (beyond the reference): aggregate with only the keyed
    predicate, answered from the complete keyed wheel's landmark."""
    df = _engine(spark, sf_dir).sql(
        "SELECT SUM(value) AS sum_value FROM events WHERE event_type = 'click'"
    )
    return _round(df, {"sum_value": 3})


def uw_keyed_groupby(spark, sf_dir):
    """Keyed wheel + GROUP BY date_trunc — the composite of R4 and R9."""
    df = _engine(spark, sf_dir).sql(
        "SELECT date_trunc('day', ts) AS bucket, COUNT(*) AS n, SUM(value) AS sum_value "
        f"FROM events WHERE ts >= '{A}' AND ts < '{B}' AND event_type = 'click' "
        "GROUP BY date_trunc('day', ts)"
    )
    return _round(df, {"sum_value": 3})


def uw_prune_count(spark, sf_dir):
    """R6: SELECT * over a provably-empty range → empty relation, no scan."""
    return _engine(spark, sf_dir).sql(
        f"SELECT * FROM events WHERE ts >= '{EMPTY_A}' AND ts < '{EMPTY_B}'"
    )


def uw_prune_minmax(spark, sf_dir):
    """R7: MIN/MAX wheel proves the numeric predicate matches nothing."""
    return _engine(spark, sf_dir).sql(
        f"SELECT * FROM events WHERE ts >= '{A}' AND ts < '{B}' "
        f"AND value > {IMPOSSIBLE_VALUE}"
    )


def uw_between_groupby(spark, sf_dir):
    """GROUPED hybrid boundary rewrite (r5 — this slot held the scalar
    uw_between_range through r4; the scalar form stays pinned by
    uw_le_bound_range's op pair and test_hybrid_boundaries): ``GROUP BY
    date_trunc('day')`` with BETWEEN bounds answers zero-job — core cells
    from the wheel's group-by, the inclusive-upper sliver's at-start
    states folded into the cell containing the instant. The reference
    approximates the boundary ops AND has no grouped surface for them
    (expr.rs:83-105,219-222)."""
    eng = _engine(spark, sf_dir)
    df = eng.sql(
        "SELECT date_trunc('day', ts) AS bucket, COUNT(*) AS n, "
        "SUM(value) AS sum_value FROM events "
        f"WHERE ts BETWEEN '{A}' AND '{B_INCL}' "
        "GROUP BY date_trunc('day', ts) ORDER BY bucket"
    )
    assert eng.last_route.kind == "group_by_hybrid", eng.last_route
    return _round(df, {"sum_value": 3})


def uw_between_range(spark, sf_dir):
    """Scalar hybrid boundary rewrite (re-seated r6, retired r5): BETWEEN
    (inclusive both ends) = wheel core + at-start boundary sliver — exact,
    unlike the reference's `<=`->`<` slop (expr.rs:219-222)."""
    df = _engine(spark, sf_dir).sql(
        "SELECT COUNT(*) AS n, SUM(value) AS sum_value FROM events "
        f"WHERE ts BETWEEN '{A}' AND '{B_INCL}'"
    )
    return _round(df, {"sum_value": 3})


def uw_le_bound_range(spark, sf_dir):
    """Hybrid boundary rewrite: strict `>` lower + inclusive `<=` upper."""
    df = _engine(spark, sf_dir).sql(
        "SELECT COUNT(*) AS n, AVG(value) AS avg_value FROM events "
        f"WHERE ts > '{GT_A}' AND ts <= '{B_INCL}'"
    )
    return _round(df, {"avg_value": 6})


_COMPACT_ENGINES: dict[str, WheelEngine] = {}


def uw_compacted_range(spark, sf_dir):
    """Tiered HAW retention (r5; µWheel's hierarchical wheel model, SURVEY
    §1.3 / ``index/mod.rs`` HawConf — the reference crate retains every
    granularity forever, README.md:56): a PRIVATE engine (the shared one
    must keep fine buckets for the other rows) compacts its whole timeline
    to hour tiers, then an hour-aligned range answers FROM THE ROLLED
    BUCKETS — bucket states are monoids, so the answer is bit-for-bit the
    plain-SQL one while the index holds ~1/3600 of the original state."""
    eng = _COMPACT_ENGINES.get(sf_dir)
    if eng is None or eng.spark is not spark:
        eng = WheelEngine(
            spark, "events", f"{sf_dir}/events.parquet", time_column="ts"
        )
        eng.build_index("value")
        eng.compact_indexes("2024-02-01 00:00:00", "hour")
        _COMPACT_ENGINES[sf_dir] = eng
    df = eng.sql(
        "SELECT COUNT(*) AS n, SUM(value) AS sum_value FROM events "
        f"WHERE ts >= '{A}' AND ts < '{B}'"
    )
    assert eng.last_route.kind == "multi_agg", eng.last_route
    return _round(df, {"sum_value": 3})


def uw_count_col(spark, sf_dir):
    """COUNT(col) — non-null count served by the value wheel's vcnt state
    (re-seated r6; COUNT(*) semantics differ under NULLs —
    is_count_star_aggregate, lib.rs:883-907)."""
    return _engine(spark, sf_dir).sql(
        f"SELECT COUNT(value) AS n_vals FROM events WHERE ts >= '{A}' AND ts < '{B}'"
    )


def uw_int_sum_range(spark, sf_dir):
    """Integral-column wheel: SUM/MIN/MAX of a BIGINT column keep exact int64
    states and BIGINT result types (no double rounding past 2^53)."""
    eng = _engine(spark, sf_dir)
    if ("user_id", "*_AGG") not in eng.agg_wheels:
        eng.build_index("user_id")
    return eng.sql(
        "SELECT SUM(user_id) AS sum_uid, MIN(user_id) AS min_uid, "
        f"MAX(user_id) AS max_uid FROM events WHERE ts >= '{A}' AND ts < '{B}'"
    )


def uw_or_ranges(spark, sf_dir):
    """OR of temporal ranges (multi-window comparison) — per-interval wheel
    lookups, monoid-summed; the reference rejects any OR (its extractor
    walks AND trees only, expr.rs:198-207)."""
    df = _engine(spark, sf_dir).sql(
        "SELECT COUNT(*) AS n, SUM(value) AS sum_value FROM events WHERE "
        "(ts >= '2024-01-05 00:00:00' AND ts < '2024-01-08 00:00:00') OR "
        "(ts >= '2024-01-15 00:00:00' AND ts < '2024-01-18 00:00:00')"
    )
    return _round(df, {"sum_value": 3})


def or_group_by(spark, sf_dir):
    """Grouped OR-of-ranges ("this window vs that window, per day") — the
    r6 wrong-answer site (the scalar sibling dropped the key column until
    39b1f8e): per merged interval the wheel's group-by cells monoid-combine
    into calendar buckets (plans/router.py _try_or_ranges). Seated per
    the rotation ledger so the surface earns a DuckDB hash check, not just
    the pytest-vs-delegate pin in test_or_ranges.py."""
    eng = _engine(spark, sf_dir)
    df = eng.sql(
        "SELECT date_trunc('day', ts) AS bucket, COUNT(*) AS n, "
        "SUM(value) AS sum_value FROM events WHERE "
        "(ts >= '2024-01-05 00:00:00' AND ts < '2024-01-08 00:00:00') OR "
        "(ts >= '2024-01-15 00:00:00' AND ts < '2024-01-18 00:00:00') "
        "GROUP BY date_trunc('day', ts) ORDER BY bucket"
    )
    assert eng.last_route.kind == "or_group_by", eng.last_route
    return _round(df, {"sum_value": 3})


def freq_topk(spark, sf_dir):
    """Heavy-hitters rollup (the 4th custom-aggregator sketch family after
    HLL/KLL/theta — reference extension point ``index/mod.rs:7-21``): top
    event types over a range answered from the per-bucket truncated-counter
    rollup (operators/frequency.py) in O(buckets x capacity), never a table
    scan. capacity (8) >= the table's 5 distinct event types, so ``est`` is
    EXACT and ``upper == est`` (err 0) — hash-checkable against the exact
    GROUP BY; the truncated regime's [est, upper] bounds are pytest-pinned
    in tests/test_frequency.py. k=4 < 5 distinct exercises the LIMIT and
    the deterministic (est desc, item asc) tie-break — at sf0.01 'click'
    and 'view' tie at the cut."""
    eng = _engine(spark, sf_dir)
    if "event_type" not in eng.topk_rollups:
        eng.build_topk_index("event_type", bucket_seconds=3600, capacity=8)
    return eng.approx_topk("event_type", A, B, k=4)


def uw_topk_sql(spark, sf_dir):
    """Routed top-k SQL shape (r8 surface, seated r9 per the ledger):
    ``GROUP BY key ORDER BY n DESC, key LIMIT k`` is a TOTAL order, so the
    partitioned family answers the dashboard top-k zero-scan
    (plans/router.py _order_limit_rows + the fuzzed LIMIT gate in
    tests/test_router_properties.py). Exact — the wheels hold exact
    per-key counts — so trivially DuckDB hash-checkable."""
    eng = _engine(spark, sf_dir)
    if "event_type" not in eng.partition_sets:
        eng.build_partitioned_index("value", partition_by="event_type")
    df = eng.sql(
        "SELECT event_type AS k, COUNT(*) AS n FROM events "
        f"WHERE ts >= '{A}' AND ts < '{B}' "
        "GROUP BY event_type ORDER BY n DESC, k LIMIT 3"
    )
    assert eng.last_route.kind == "group_by", eng.last_route
    return df


def freq_topk_by_key(spark, sf_dir):
    """Per-key heavy hitters (r8 surface, seated r9 per the ledger): top
    users per event type over [A, B) from a ``partition_by=`` build of the
    truncated-counter rollup (operators/frequency.py approx_topk_by_key —
    truncation and error tracked per (bucket, key)). capacity 256 ≥ the
    per-(hour, event_type) distinct-user count at every driver SF (10 at
    sf0.01, 51 at sf0.1), so ``est`` is EXACT and ``upper == est``;
    the truncated regime's [est, upper] bounds stay pytest-pinned in
    tests/test_frequency.py."""
    eng = _engine(spark, sf_dir)
    r = eng.topk_rollups.get("user_id")
    if r is None or r.key_column != "event_type":
        eng.build_topk_index(
            "user_id", bucket_seconds=3600, capacity=256,
            partition_by="event_type",
        )
    return eng.approx_topk_by_key("user_id", k=3, start=A, end=B)


def freq_topk_by_day(spark, sf_dir):
    """Per-period heavy hitters (the LAST r8 surface, seated r10 per the
    ledger): top event types per day over [A, B) from the truncated-counter
    rollup's group-by form (operators/frequency.py approx_topk_by — hourly
    cells monoid-regroup under the coarser day bucket, O(stored buckets)
    regardless of table size). capacity 8 ≥ the 5 distinct event types, so
    ``est`` is EXACT and ``upper == est`` — trivially hash-checkable
    against a DuckDB per-day GROUP BY + rank; the truncated regime's
    bounds stay pytest-pinned in tests/test_frequency.py."""
    eng = _engine(spark, sf_dir)
    if "event_type" not in eng.topk_rollups:
        eng.build_topk_index("event_type", bucket_seconds=3600, capacity=8)
    return eng.approx_topk_by("event_type", "day", k=3, start=A, end=B)


def uw_point_instant(spark, sf_dir):
    """Point query `ts = literal` answered from the bucket's at-start sliver
    states (the reference refuses time-column equality, expr.rs:351-356).
    ns-precision data has no rows at this exact µs instant → COUNT 0 /
    SUM NULL, proven rather than scanned. (NULL is coalesced on both sides:
    the oracle harness's pandas path renders SQL NULL as NaN.)"""
    df = _engine(spark, sf_dir).sql(
        f"SELECT COUNT(*) AS n, SUM(value) AS sum_value FROM events WHERE ts = '{GT_A}'"
    )
    return df.na.fill({"sum_value": -1.0})


_DATE_ENGINES: dict[str, WheelEngine] = {}


def uw_date_key(spark, sf_dir):
    """DATE-keyed wheel: engine over orders with o_orderdate as a true DATE
    column (the reference's Date32 build path mis-scales days as ms,
    lib.rs:1250-1258; here days → exact epoch seconds)."""
    eng = _DATE_ENGINES.get(sf_dir)
    if eng is None or eng.spark is not spark:
        base = spark.read.parquet(f"{sf_dir}/orders.parquet")
        dated = base.withColumn("o_orderdate", F.to_date("o_orderdate"))
        eng = WheelEngine(spark, "orders_dated", dated, time_column="o_orderdate")
        eng.build_index("o_totalprice")
        _DATE_ENGINES[sf_dir] = eng
    df = eng.sql(
        "SELECT COUNT(*) AS n, SUM(o_totalprice) AS sum_price FROM orders_dated "
        "WHERE o_orderdate >= '1995-01-01' AND o_orderdate < '1996-01-01'"
    )
    return _round(df, {"sum_price": 3})


def uw_unaligned_delegate(spark, sf_dir):
    """Rewrite-safety: sub-second boundary → router must delegate to Spark
    (the reference would sloppily mis-answer this — SURVEY.md §4.3.1)."""
    return _engine(spark, sf_dir).sql(
        "SELECT COUNT(*) AS n FROM events "
        f"WHERE ts >= '2024-01-05 00:00:00.500' AND ts < '{B}'"
    )


# ------------------------------------------- delegated relational surface
_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 3) AS sum_qty,
       round(sum(l_extendedprice), 3) AS sum_base_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus"""

# Revenue is summed in exact integer cents: per-row doubles are bit-identical
# across engines, and integer addition is order-independent — a plain double
# sum rounds differently per engine at ties (observed at sf0.01).
_TPCH_Q3 = """
SELECT o_orderkey, o_orderdate,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate"""

_TPCH_Q6 = """
SELECT round(sum(l_extendedprice * l_discount), 3) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24"""


# Relational surface the reference delegates to its host (SURVEY.md §2.2):
# windows, set ops, subqueries — all stock Catalyst; identical SQL runs on
# both engines.
_SQL_WINDOW = """
SELECT o_orderkey,
       o_custkey,
       rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 3) AS cust_total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"""

_SQL_SETOP = """
SELECT c_custkey AS custkey FROM customer
EXCEPT
SELECT o_custkey AS custkey FROM orders"""

# Day-over-day hourly comparison: both CTEs route from the hour wheel, the
# join + scalar subquery run over the spliced-in (tiny, broadcast) answers.
# Filter compares exact int64 counts, so no float-order flakiness; sums are
# rounded on both sides per the float discipline above.
PREV_A = "2024-01-07 00:00:00"
_SQL_CTE_JOIN = (
    "WITH cur AS (SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, "
    f"SUM(value) AS sum_value FROM events WHERE ts >= '{DAY_A}' AND ts < '{DAY_B}' "
    "GROUP BY date_trunc('hour', ts)), "
    "prev AS (SELECT date_trunc('hour', ts) AS bucket, COUNT(*) AS n, "
    f"SUM(value) AS sum_value FROM events WHERE ts >= '{PREV_A}' AND ts < '{DAY_A}' "
    "GROUP BY date_trunc('hour', ts)) "
    "SELECT cur.bucket AS bucket, cur.n AS n, prev.n AS prev_n, "
    "cur.sum_value AS sum_value, prev.sum_value AS prev_sum_value "
    "FROM cur JOIN prev ON prev.bucket = cur.bucket - INTERVAL 1 DAY "
    "WHERE cur.n > (SELECT AVG(n) FROM prev) ORDER BY bucket"
)


def rel_window(spark, sf_dir):
    """Delegate surface: rank + windowed sum (Catalyst Window exec)."""
    _view(spark, sf_dir, "orders")
    return spark.sql(_SQL_WINDOW)


def rel_setop(spark, sf_dir):
    """Delegate surface: EXCEPT (left-anti under the hood)."""
    _view(spark, sf_dir, "customer", "orders")
    return spark.sql(_SQL_SETOP)


def uw_cte_join(spark, sf_dir):
    """Beyond-reference: routable aggregate CTEs feeding a join + scalar
    subquery. :meth:`WheelCatalog.sql` answers each CTE from the hour wheel
    and splices the tiny answers back in as views (``catalog.py
    _route_ctes``), so Catalyst broadcasts them into the join; the reference
    only matches whole plans (``lib.rs:246-252``) and would rescan. The
    scalar-subquery delegate surface (Catalyst decorrelation) rides along in
    the WHERE clause."""
    from datafusion_uwheel_spark.catalog import WheelCatalog

    cat = WheelCatalog(spark)
    cat.engines["events"] = _engine(spark, sf_dir)
    df = cat.sql(_SQL_CTE_JOIN)
    route = cat.last_route
    assert route.kind == "cte_rewrite" and set(route.detail["routed"]) == {
        "cur",
        "prev",
    }, route
    return _round(df, {"sum_value": 3, "prev_sum_value": 3})


def tpch_q1(spark, sf_dir):
    """Delegate path: grouped multi-aggregate scan (Catalyst HashAggregate,
    partial+final; broadcast-free)."""
    _view(spark, sf_dir, "lineitem")
    return spark.sql(_TPCH_Q1)


def tpch_q3(spark, sf_dir):
    """Delegate path: 3-way join; small dims broadcast under AQE."""
    _view(spark, sf_dir, "customer", "orders", "lineitem")
    return spark.sql(_TPCH_Q3)


def tpch_q6(spark, sf_dir):
    """Delegate path: selective filter + global agg — predicate pushdown."""
    _view(spark, sf_dir, "lineitem")
    return spark.sql(_TPCH_Q6)


# ------------------------------------------------------- dedup operators
def dedup_exact_groups(spark, sf_dir):
    df = _view(spark, sf_dir, "documents")
    return dedup.exact_dup_groups(df)


def dedup_exact_keep(spark, sf_dir):
    """Keep-lowest exact-dedup survivors (RE-SEATED r13 — out since r6,
    the oldest rotation debt named by the r12 verdict #4; mechanically
    the keeper_id column of dedup_exact_groups, but the enforcement form
    users actually run). Slot funded by sim_dup_pairs_indexed — see the
    ledger."""
    df = _view(spark, sf_dir, "documents")
    return dedup.dedup_exact(df).select("doc_id")


def dedup_fingerprint(spark, sf_dir):
    df = _view(spark, sf_dir, "documents")
    return text_ops.with_fingerprint(df).select("doc_id", "fingerprint")


def dedup_jaccard_pairs(spark, sf_dir):
    df = _view(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(df, threshold=JACCARD_T)


def dedup_minhash_lsh(spark, sf_dir):
    df = _view(spark, sf_dir, "documents")
    sig = dedup.with_minhash_signature(df)
    return dedup.lsh_candidate_pairs(sig, min_est_jaccard=LSH_MIN_EST)


def dedup_simhash(spark, sf_dir):
    df = _view(spark, sf_dir, "documents")
    return dedup.with_simhash(df).select("doc_id", "simhash")


SEMDD_T = 0.4  # the corpus's similarity structure (EMB_DUP_T); 19 pairs at sf0.01


def dedup_semantic(spark, sf_dir):
    """SemDeDup pair frame (seated r11, the operator's landing round):
    seeded spherical-k-means cells, within-cluster cosine pairs, the
    greedy keep-lowest-centroid-similarity order — DEFAULT Arrow-kernel
    path, pinned bit-equal to the expression spec and the SQL oracle
    (operators/semantic_dedup.py; oracle semdedup_pairs_sql)."""
    from datafusion_uwheel_spark.operators.semantic_dedup import (
        semantic_dup_pairs,
    )

    df = _view(spark, sf_dir, "embeddings")
    return semantic_dup_pairs(
        df, similarity.ivf_centroids(EMB_DIM, 8, 42), threshold=SEMDD_T
    )


def dedup_semantic_kept(spark, sf_dir):
    """SemDeDup KEPT form (seated r12 — the enforcement form users
    actually run): survivors of the drop set, i.e. every row with no
    earlier-ordered within-cluster neighbor at rounded cosine >= t.
    Same centroids/threshold/keep order as the r11 pairs row — the
    oracle (oracles.semdedup_sql) embeds the IDENTICAL pairs CTE, so the
    pair machinery stays hash-checked through this row."""
    from datafusion_uwheel_spark.operators.semantic_dedup import semdedup

    df = _view(spark, sf_dir, "embeddings")
    return semdedup(
        df, similarity.ivf_centroids(EMB_DIM, 8, 42), threshold=SEMDD_T
    ).select("vec_id")


def dedup_substring(spark, sf_dir):
    """Exact substring-span dedup (the ExactSubstr pass at window=8
    granularity, seated r11): maximal duplicated token spans per document
    — gram groupBy with map-side combine, 1-row-per-key join back, per-doc
    island merge. Exact (unhashed) mode so the DuckDB oracle reproduces
    the gram keys verbatim; the hashed corpus-scale shuffle shape stays
    benched (dedup_substring_spans) and pytest-pinned equal."""
    from datafusion_uwheel_spark.operators import substring as subdup

    df = _view(spark, sf_dir, "documents")
    return subdup.duplicate_spans(df.select("doc_id", "text"), window=8)


def dedup_near_corpus(spark, sf_dir):
    """Streaming NEAR-dup corpus dedup end-to-end (r5 operator, first
    oracle row r6): a two-batch crawl replay. Batch 1 (doc_id % 3 == 0)
    near-dedupes against itself and records its survivors' LSH band state;
    batch 2 (the rest) is filtered against that state and near-deduped
    within itself under the same pure banding rule. The oracle mirrors the
    full decision rule in DuckDB — band-slice equality joins plus
    recursive min-label connected components (oracles.near_corpus_sql)."""
    import tempfile

    from datafusion_uwheel_spark.operators.stream_dedup import NearCorpusDedup

    docs = _view(spark, sf_dir, "documents")
    nd = NearCorpusDedup(
        spark, tempfile.mkdtemp(prefix="uw_near_corpus_"), n_buckets=8
    )
    nd.filter_batch(docs.filter(F.col("doc_id") % 3 == 0))
    surv = nd.filter_batch(docs.filter(F.col("doc_id") % 3 != 0))
    return surv.select("doc_id").orderBy("doc_id")


# -------------------------------------------------------- text operators
def text_token_stats(spark, sf_dir):
    df = _view(spark, sf_dir, "documents")
    return text_ops.with_token_stats(df).select(
        "doc_id", "n_tokens", "n_chars_m", "est_bpe_tokens", "avg_token_len"
    )


def text_quality(spark, sf_dir):
    df = _view(spark, sf_dir, "documents")
    return text_ops.with_quality(df).select(
        "doc_id", "alpha_ratio", "digit_ratio", "stopword_ratio", "quality_score"
    )


def text_pii_scrub(spark, sf_dir):
    """PII scrub + counts (SEATED r13 — verdict #3's first half: the
    oracle ``oracles.pii_scrub_sql`` was written with the operator and
    pytest-pinned DuckDB-exact since landing, incl. on the real table,
    but never held a registry seat). Identical RE2∩Java patterns on both
    engines; replacements applied email → phone → ipv4; counts taken
    from the original text. Slot funded by text_quality — see the
    ledger."""
    df = _view(spark, sf_dir, "documents")
    return text_ops.with_pii_scrub(df).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "text_scrubbed"
    )


def text_repetition(spark, sf_dir):
    """Repetition stats (SEATED r13 — verdict #3's second half): dup
    token/line ratios + top-token ratio (the Gopher repetition signals),
    same whitespace tokenizer as token_stats; the ratio divisions are
    single IEEE ops on both engines so the check is exact, no rounding.
    Slot funded by dedup_jaccard_pairs — see the ledger."""
    df = _view(spark, sf_dir, "documents")
    return text_ops.with_repetition_stats(df).select(
        "doc_id", "dup_token_ratio", "dup_line_ratio", "top_token_ratio"
    )


def text_lang_id(spark, sf_dir):
    df = _view(spark, sf_dir, "documents")
    return text_ops.with_lang_id(df).select(
        "doc_id", "votes_en", "votes_de", "votes_fr", "votes_es", "lang_pred"
    )


def decon_ngram(spark, sf_dir):
    """Train/eval n-gram decontamination (r5; the GPT-3/PaLM 13-gram rule,
    here n=3 so the synthetic corpus actually overlaps): every 7th document
    plays the held-out benchmark, the rest the training corpus; each
    training doc is annotated with its count of DISTINCT shared grams. The
    Spark side joins 64-bit xxhash64 gram hashes (narrow shuffle); the
    oracle joins the gram STRINGS — equal barring ~2^-64 collisions."""
    from datafusion_uwheel_spark.operators.contamination import (
        with_contamination,
    )

    docs = _view(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 7 != 0)
    held_out = docs.filter(F.col("doc_id") % 7 == 0)
    return (
        with_contamination(train, held_out, n=3)
        .select("doc_id", "n_shared_ngrams", "contaminated")
        .orderBy("doc_id")
    )


def decon_fuzzy(spark, sf_dir):
    """Fuzzy (MinHash/LSH) decontamination (r11 operator, seated r12):
    held-out = the first 400 chars of every 7th document — a TRUNCATED
    leak the exact 13-gram guard would still flag here, but the point is
    the estimator surface: each flagged training doc reports the max
    MinHash-estimated Jaccard against any held-out snippet. Cross-table
    banded LSH join only (operators/contamination.py:244 →
    dedup.lsh_join); oracle replays the seeded hash family, per-side
    bucket caps and DISTINCT pair claim in DuckDB
    (oracles.fuzzy_decon_sql — pytest-pinned since r11 in
    tests/test_lsh_join.py)."""
    from datafusion_uwheel_spark.operators.contamination import (
        with_contamination_fuzzy,
    )

    docs = _view(spark, sf_dir, "documents").select("doc_id", "text")
    held = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.substring("text", 1, 400).alias("text")
    )
    return (
        with_contamination_fuzzy(docs, held, min_est_jaccard=0.5)
        .filter("contaminated")
        .select(
            "doc_id", F.round("max_est_jaccard", 6).alias("max_est_jaccard")
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------- multimodal operators
def _media_df(spark, sf_dir):
    """Deterministic binary-media fixture: each document's UTF-8 bytes as an
    opaque payload — DuckDB's ``encode(text)`` builds the identical BLOB, so
    the media plumbing is oracle-checkable without media files."""
    return _view(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("data")
    )


def mm_media_stats(spark, sf_dir):
    """Media size + content digest over a binary column (pure JVM exprs)."""
    from datafusion_uwheel_spark.operators import multimodal

    return multimodal.with_media_stats(_media_df(spark, sf_dir)).select(
        "doc_id", "size_bytes", "digest"
    )


def mm_media_dedup(spark, sf_dir):
    """Digest-based exact media dedup groups (binary payload identity) —
    RE-SEATED r13 (out since r6, the other oldest rotation debt named by
    the r12 verdict #4). Slot funded by freq_topk_by_day — see the
    ledger."""
    from datafusion_uwheel_spark.operators import multimodal

    stats = multimodal.with_media_stats(_media_df(spark, sf_dir))
    return stats.groupBy("digest").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper_id")
    )


def mm_features(spark, sf_dir):
    """Deterministic fake feature extraction (binary → array<float> via
    mapInPandas iterator batches), checked as scalars the oracle can fold:
    dim, first element, sequential-fold sum — proves the decode plumbing
    end-to-end (schema, Arrow batching, float32 narrowing)."""
    from datafusion_uwheel_spark.operators import multimodal

    feats = multimodal.extract_features(
        _media_df(spark, sf_dir), dim=16, id_col="doc_id"
    )
    return feats.select(
        "doc_id",
        F.size("feature").alias("dim"),
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
        F.round(
            F.aggregate(
                F.col("feature").cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x,
            ),
            6,
        ).alias("f_sum"),
    )


def mm_frames(spark, sf_dir):
    """Video frame sampling (row-exploding mapInPandas): duration metadata
    drives the frame count; each frame's fake payload is position-keyed so
    frames are distinguishable. duration_ms = doc_id % 3 + 1 at every_ms=1
    keeps the oracle's BLOB trip UTF-8-safe (ts bytes < 0x80)."""
    from datafusion_uwheel_spark.operators import multimodal

    video = _media_df(spark, sf_dir).select(
        F.col("doc_id"),
        F.lit("video").alias("kind"),
        F.col("data"),
        F.struct(
            F.lit("video/fake").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            (F.col("doc_id") % 3 + 1).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )
    frames = multimodal.sample_frames(video, every_ms=1, id_col="doc_id")
    return frames.select(
        "doc_id",
        "frame_idx",
        "ts_ms",
        F.round(
            F.aggregate(
                F.col("frame").cast("array<double>"), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("f_sum"),
    )


# -------------------------------------------------- similarity operators
_SIM_ENGINES: dict[str, object] = {}


def _sim_engine(spark, sf_dir):
    """One SimilarityEngine per sf_dir with all three contract indexes
    built and registered — the ANN analogue of the wheel lifecycle
    (build_index once, lib.rs:153-239): every sim_* probe below is served
    from a partition-pruned read of a materialized index, never a
    query-time rehash scan. Indexes are shared across entries (lsh bits=4
    serves both the registry-routed and handle-probed top-k; lsh bits=8
    serves dup-pairs)."""
    from datafusion_uwheel_spark import SimilarityEngine

    eng = _SIM_ENGINES.get(sf_dir)
    if eng is None or eng.spark is not spark:
        eng = SimilarityEngine(
            spark,
            "embeddings",
            _view(spark, sf_dir, "embeddings"),
            dim=EMB_DIM,
            index_root=f"/tmp/sim_index_{abs(hash(sf_dir)) % 10**8}",
        )
        eng.build_index(kind="lsh", bits=4, tables=2)
        eng.build_index(kind="lsh", bits=8, tables=2)
        eng.build_index(kind="ivf", n_centroids=8)
        _SIM_ENGINES[sf_dir] = eng
    return eng


def sim_topk_bruteforce(spark, sf_dir):
    """Exact cosine top-k — scan + codegen'd fold + TakeOrderedAndProject."""
    df = _view(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(df, QUERY_VEC, k=TOPK)


def sim_ann_lsh(spark, sf_dir):
    """Sign-LSH ANN top-k through the engine registry: the bits=4 index is
    registered, so this routes to a partition-pruned probe (last_route
    'indexed'); with no index built it would fall back to the query-time
    operator with the identical result set."""
    return _sim_engine(spark, sf_dir).topk(QUERY_VEC, k=TOPK, kind="lsh", bits=4, tables=2)


def sim_ivf_topk(spark, sf_dir):
    """IVF ANN top-k through the engine registry (nprobe nearest cells,
    exact rerank) — routed to the materialized cell-partitioned index."""
    return _sim_engine(spark, sf_dir).topk(
        QUERY_VEC, k=TOPK, kind="ivf", nprobe=2, n_centroids=8
    )


def sim_dup_pairs_indexed(spark, sf_dir):
    """Near-dup pairs from the registered bits=8 LSH index: self-join on
    the stored (t, bucket) partition key with an exactly-once pair claim —
    no query-time rehashing — then exact fold-cosine rerank. Same result
    set as sim_embedding_dup_pairs (the layout is not a semantics change)."""
    return _sim_engine(spark, sf_dir).dup_pairs(threshold=EMB_DUP_T, bits=8, tables=2)


KNN_K = 5
KNN_QUERY_MAX_ID = 5  # queries = embeddings rows with vec_id < 5 (every SF)


def sim_knn_join(spark, sf_dir):
    """Batch kNN join through the registered bits=4 LSH index: every query
    row (a small fixed id-slice of the table) gets its top-k neighbours via
    one bucket equi-join against the stored layout + exact rerank + a
    per-query rank window — the all-pairs training-pipeline shape, no
    driver loop, no cartesian (operators/ann_index.py knn_join)."""
    eng = _sim_engine(spark, sf_dir)
    qs = eng.df.filter(F.col("vec_id") < KNN_QUERY_MAX_ID).select("vec_id", "embedding")
    return eng.knn_join(qs, k=KNN_K, kind="lsh", bits=4, tables=2)


# ----------------------------------------------------------- registries
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Exactly 50 entries. The r02 contract run recorded exactly 50 rows and
    # silently truncated the last 3 registered entries, so the registry is
    # pinned at 50: the single-aggregate AVG/MIN/MAX range rows were folded
    # into uw_multi_agg, whose oracle hash-checks the identical avg_value /
    # min_value / max_value columns (the R2 routing path stays covered by
    # uw_sum_range / uw_stddev_range here and per-aggregate pytests).
    #
    # ROTATION LEDGER (so every retired surface regains the per-round
    # DuckDB hash check at least every other round):
    #   - uw_groupby_week <-> uw_groupby_month alternate each round
    #     (r11: week IN; r12 swaps month back in). Both stay
    #     property-tested in test_lookup_properties.py regardless.
    #   - uw_or_ranges <-> or_group_by alternate (r11: scalar IN; r12
    #     swaps the grouped form back in) — both sides of the
    #     interval-split + monoid-sum path; the away side stays
    #     pytest-pinned vs delegate in test_or_ranges.py.
    #   - uw_topk_sql seated r9 (the r8 routed top-k SQL shape earns its
    #     DuckDB hash check — exact, total-order gated); its slot came
    #     from uw_le_bound_range, whose <=-bound hybrid path stays covered
    #     by uw_between_range (same at-start sliver machinery) and
    #     test_hybrid_boundaries.py.
    #   - freq_topk_by_key seated r9 (the r8 per-key heavy-hitters form,
    #     exact in the ample-capacity regime); its slot came from
    #     uw_point_instant, whose at-start point path stays covered by the
    #     hybrid rows and test_hybrid_boundaries.py.
    #   - freq_topk seated r8 (exact regime; truncated [est, upper] bounds
    #     pytest-pinned in test_frequency.py); slot from uw_landmark_sum,
    #     whose scalar-landmark routing stays hash-checked through
    #     uw_groupby_landmark + uw_keyed_landmark and pytest-pinned in
    #     test_engine_fixture.py.
    #   - uw_keyed_numeric re-seated r8 (out since r6); slot from
    #     uw_or_ranges (now back, see above).
    #   - uw_keyed_count re-seated r11 (out since r4 — the oldest debt);
    #     slot from uw_sum_range, whose sum_value column is hash-checked
    #     IDENTICALLY every round inside uw_multi_agg (same range, same
    #     rounding — the uw_count_col precedent) and whose single_agg
    #     route kind stays hash-checked via uw_int_sum_range/uw_keyed_sum.
    #   - dedup_simhash re-seated r12 per the alternation named when
    #     dedup_semantic took its slot in r11: the PAIRS form rotates out
    #     (its pairs CTE is embedded IDENTICALLY — same centroids,
    #     threshold, keep order — inside the newly-seated KEPT form's
    #     oracle, and the kernel≡expression≡DuckDB pin stays in
    #     tests/test_semantic_dedup.py), simhash's fingerprint column
    #     regains the per-round hash check (its away coverage was the
    #     verbatim pytest move, test_llm_ops.test_simhash_matches_
    #     duckdb_real_table).
    #   - dedup_semantic_kept seated r12 (the r11 verdict's #1: the
    #     enforcement form users actually run, oracle semdedup_sql).
    #     Slot funded by mm_frames, whose frame-sampling DuckDB check
    #     moved VERBATIM into pytest (test_multimodal.
    #     test_frames_match_duckdb_real_table) next to the existing
    #     real-PNG and batch-shape pins; the mapInPandas iterator
    #     contract stays hash-checked every round through mm_features.
    #   - decon_fuzzy seated r12 (the r11 verdict's #1: fuzzy MinHash
    #     decontamination, oracle fuzzy_decon_sql — pytest-pinned
    #     DuckDB-exact since r11 in tests/test_lsh_join.py). Slot funded
    #     by sim_topk_bruteforce, whose exact fold-cosine kernel is the
    #     SAME expression the rerank inside sim_ivf_topk / sim_knn_join
    #     hash-checks every round; the full-scan baseline's DuckDB check
    #     moved VERBATIM into pytest (test_similarity_engine.
    #     test_cosine_topk_matches_duckdb_real_table) next to the numpy
    #     pin. The bloom join/decontamination family still needs no seat
    #     of its own: its contract is row-equality with the exact
    #     operators already hash-checked here (decon_ngram) and with
    #     Spark's own joins (pytest).
    #   - dedup_fingerprint re-seated r12 (r7 out — the oldest
    #     non-reseated LLM row, the r11 verdict's #5). Slot funded by
    #     text_lang_id, whose per-rule n-gram vote surface moved its
    #     DuckDB check VERBATIM into pytest (test_text_ops.
    #     test_lang_id_matches_duckdb_real_table); token_stats + quality
    #     keep the codegen'd text-expression family hash-checked every
    #     round, and fingerprint itself is the text family's rolling-hash
    #     surface, so the family keeps three seated rows.
    #   - sim_ann_lsh re-seated r12 (named first rotation candidate when
    #     dedup_substring took its slot in r11): the external-query-vector
    #     LSH multiprobe regains the per-round hash check. Its slot comes
    #     from re-retiring dedup_substring, whose window-span pass stays
    #     pytest-pinned three ways incl. DuckDB in
    #     tests/test_substring_dedup.py (oracle substring_spans_sql,
    #     written with the operator and hash-checked in its landing
    #     round).
    #   - r13 rotations (verdict #3 + #4 — seat the two written-but-
    #     never-seated oracles, pay down the three oldest debts):
    #     text_pii_scrub SEATED (slot: text_quality — quality's DuckDB
    #     check moved VERBATIM to test_llm_ops.
    #     test_quality_matches_duckdb_real_table; the codegen'd text
    #     family keeps three seats); text_repetition SEATED (slot:
    #     dedup_jaccard_pairs — exact-Jaccard check moved VERBATIM to
    #     test_llm_ops.test_jaccard_pairs_match_duckdb_real_table; the
    #     est-Jaccard band surface stays hash-checked via
    #     dedup_minhash_lsh + decon_fuzzy); uw_landmark_sum RE-SEATED, r8
    #     out (slot: uw_between_range — its n/sum_value columns are
    #     hash-checked identically inside uw_between_groupby, scalar form
    #     pytest-pinned in test_hybrid_boundaries.py); dedup_exact_keep
    #     RE-SEATED, r6 out (slot: sim_dup_pairs_indexed — indexed ≡
    #     query-time pytest-pinned, pairs DuckDB check moved VERBATIM to
    #     test_similarity_engine.test_dup_pairs_match_duckdb_real_table);
    #     mm_media_dedup RE-SEATED, r6 out (slot: freq_topk_by_day —
    #     by-day DuckDB check moved VERBATIM to test_frequency.
    #     test_topk_by_day_matches_duckdb_real_table; probe machinery
    #     stays hash-checked via freq_topk + freq_topk_by_key).
    #   - retired, pytest-pinned, candidates to rotate back in by
    #     re-retiring a subsumed row: uw_between_range (r13 out),
    #     freq_topk_by_day (r13 out), sim_dup_pairs_indexed (r13 out),
    #     dedup_jaccard_pairs (r13 out), text_quality (r13 out),
    #     uw_sum_range (r11 out),
    #     uw_groupby_week (r12 out), uw_or_ranges (r12 out),
    #     dedup_semantic pairs form (r12 out), dedup_substring (r12 out),
    #     sim_topk_bruteforce (r12 out), mm_frames (r12 out),
    #     text_lang_id (r12 out), uw_le_bound_range (r9 out),
    #     uw_point_instant (r9 out),
    #     sim_ann_indexed/sim_ivf_indexed (r3 out, physically identical
    #     plans to the engine-routed rows).
    #   - freq_topk_by_day seated r10 (the LAST r8 surface, per-period
    #     heavy hitters — exact in the ample-capacity regime); its slot
    #     came from uw_count_col, whose COUNT(col) vcnt surface is
    #     hash-checked IDENTICALLY every round inside uw_multi_agg's
    #     n_vals column and route-pinned in
    #     test_null_int_semantics.test_count_col_routes.
    #   - uw_dim_groupby's slot has been funded by uw_groupby_minute
    #     since r4: the minute granularity stays property-pinned in
    #     test_lookup_properties.py (granularity sweep incl. 'minute')
    #     and is listed here with the alternating pairs so its coverage
    #     is on the ledger, not folklore.
    return {
        "uw_count_range": uw_count_range,
        # r11: uw_sum_range's slot funds the re-seated uw_keyed_count (the
        # oldest rotation debt, out since r4); its sum_value column is
        # hash-checked IDENTICALLY every round inside uw_multi_agg, and the
        # single_agg route kind stays hash-checked via uw_int_sum_range /
        # uw_keyed_sum.
        "uw_keyed_count": uw_keyed_count,
        "uw_stddev_range": uw_stddev_range,
        "uw_multi_agg": uw_multi_agg,
        "uw_groupby_hour": uw_groupby_hour,
        "uw_dim_groupby": uw_dim_groupby,
        "uw_groupby_month": uw_groupby_month,  # r12: week<->month swap
        "uw_window_tumbling": uw_window_tumbling,
        "uw_having_groupby": uw_having_groupby,
        "uw_groupby_landmark": uw_groupby_landmark,
        # r8: uw_landmark_sum's slot funded freq_topk; r13 re-seats
        # uw_landmark_sum on uw_between_range's slot, so both now hold
        # seats (see ledger).
        "freq_topk": freq_topk,
        "uw_keyed_sum": uw_keyed_sum,
        "uw_keyed_numeric": uw_keyed_numeric,
        "uw_keyed_groupby": uw_keyed_groupby,
        "uw_keyed_landmark": uw_keyed_landmark,
        "uw_between_groupby": uw_between_groupby,
        # r13: uw_between_range's slot funds the re-seated uw_landmark_sum
        # (r8 out — verdict #4's third-oldest debt): the scalar hybrid's
        # n/sum_value columns are hash-checked IDENTICALLY every round
        # inside uw_between_groupby (same at-start sliver machinery, same
        # BETWEEN bounds, just grouped), and the scalar form stays
        # pytest-pinned vs the delegate in test_hybrid_boundaries.py.
        "uw_landmark_sum": uw_landmark_sum,
        # r9: uw_le_bound_range's slot funds the routed top-k SQL
        # shape (see ledger); the <=-bound hybrid path stays covered by
        # uw_between_range (same at-start sliver machinery) and
        # test_hybrid_boundaries.py.
        "uw_topk_sql": uw_topk_sql,
        # r13: freq_topk_by_day's slot funds the re-seated mm_media_dedup
        # (r6 out — verdict #4): the per-period regroup's probe machinery
        # stays hash-checked via freq_topk (scalar) + freq_topk_by_key
        # (keyed) every round, and the by-day DuckDB check moved VERBATIM
        # into pytest (test_frequency.test_topk_by_day_matches_duckdb_
        # real_table).
        "mm_media_dedup": mm_media_dedup,
        "uw_compacted_range": uw_compacted_range,
        "uw_int_sum_range": uw_int_sum_range,
        # r12: uw_or_ranges <-> or_group_by alternate (both sides of the
        # interval-split + monoid-sum path; the scalar form stays
        # pytest-pinned vs delegate in test_or_ranges.py).
        "or_group_by": or_group_by,
        # r9: uw_point_instant's slot funds the per-key heavy hitters
        # (see ledger); the at-start point path stays covered by the
        # hybrid rows + test_hybrid_boundaries.py.
        "freq_topk_by_key": freq_topk_by_key,
        "uw_date_key": uw_date_key,
        "uw_prune_count": uw_prune_count,
        "uw_prune_minmax": uw_prune_minmax,
        "uw_unaligned_delegate": uw_unaligned_delegate,
        "tpch_q1": tpch_q1,
        "tpch_q3": tpch_q3,
        "tpch_q6": tpch_q6,
        "rel_window": rel_window,
        "rel_setop": rel_setop,
        # r4: rel_subquery's slot funds the routed-CTE join row — its scalar
        # subquery surface is preserved inside uw_cte_join's WHERE clause.
        "uw_cte_join": uw_cte_join,
        # The expensive blocks (index-building sim entries, pair-generating
        # dedup entries) run BEFORE the cheap single-pass mm/text rows: the
        # r02 driver run truncated the registry tail, so keep the entries
        # most at risk of a cut the cheapest ones to lose and re-run.
        # r12: sim_topk_bruteforce's slot funds decon_fuzzy (see ledger);
        # the exact fold-cosine kernel stays hash-checked through
        # sim_ivf_topk/sim_knn_join's rerank and pytest vs DuckDB + numpy.
        "decon_fuzzy": decon_fuzzy,
        # r12: sim_ann_lsh back in (named first rotation candidate when it
        # funded dedup_substring's r11 landing seat; see ledger).
        "sim_ann_lsh": sim_ann_lsh,
        "sim_ivf_topk": sim_ivf_topk,
        # r13: sim_dup_pairs_indexed's slot funds the re-seated
        # dedup_exact_keep (r6 out — verdict #4): the indexed-vs-query-time
        # pair identity stays pytest-pinned (test_similarity_engine.
        # test_dup_pairs_route_and_parity), and the pairs surface's DuckDB
        # check moved VERBATIM into pytest (test_similarity_engine.
        # test_dup_pairs_match_duckdb_real_table); the embedding pair
        # machinery also rides inside dedup_semantic_kept's oracle CTE
        # every round.
        # r4: the query-time sim_embedding_dup_pairs row shared byte-identical
        # oracle SQL with sim_dup_pairs_indexed; its slot funded the batch
        # kNN join.
        "sim_knn_join": sim_knn_join,
        "dedup_exact_groups": dedup_exact_groups,
        "dedup_exact_keep": dedup_exact_keep,
        # r12: dedup_fingerprint back in (r7 out, the oldest non-reseated
        # LLM row); text_lang_id funds it (see ledger).
        "dedup_fingerprint": dedup_fingerprint,
        # r13: dedup_jaccard_pairs' slot funds the seated text_repetition
        # (verdict #3): the exact shingle-Jaccard fold's DuckDB check
        # moved VERBATIM into pytest (test_llm_ops.
        # test_jaccard_pairs_match_duckdb_real_table) next to the numpy
        # pin, and the est-Jaccard band surface stays hash-checked via
        # dedup_minhash_lsh + decon_fuzzy every round.
        "dedup_minhash_lsh": dedup_minhash_lsh,
        # r12: the r11 alternation executes — simhash back in, the pairs
        # form's machinery rides inside dedup_semantic_kept's oracle.
        "dedup_simhash": dedup_simhash,
        # r12 seat: mm_frames' slot funds the SemDeDup KEPT form.
        "dedup_semantic_kept": dedup_semantic_kept,
        "dedup_near_corpus": dedup_near_corpus,
        "mm_media_stats": mm_media_stats,
        "mm_features": mm_features,
        "text_token_stats": text_token_stats,
        # r13: text_quality's slot funds the seated text_pii_scrub
        # (verdict #3 — the text-family rotation the verdict itself
        # named): quality's DuckDB check moved VERBATIM into pytest
        # (test_llm_ops.test_quality_matches_duckdb_real_table), and the
        # codegen'd text-expression family keeps token_stats + the two
        # new rows seated.
        "text_pii_scrub": text_pii_scrub,
        "text_repetition": text_repetition,
        "decon_ngram": decon_ngram,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "uw_count_range": (
            f"SELECT count(*) AS n FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}'"
        ),
        "uw_keyed_count": (
            f"SELECT count(*) AS n FROM events WHERE ts >= TIMESTAMP '{A}' "
            f"AND ts < TIMESTAMP '{B}' AND event_type = 'click'"
        ),
        "uw_stddev_range": (
            "SELECT round(stddev(value), 6) AS std_value, "
            "round(var_pop(value), 4) AS varp_value FROM events "
            f"WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}'"
        ),
        "uw_multi_agg": (
            "SELECT count(*) AS n, count(value) AS n_vals, "
            "round(sum(value), 3) AS sum_value, "
            "round(avg(value), 6) AS avg_value, min(value) AS min_value, "
            f"max(value) AS max_value FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}'"
        ),
        "uw_groupby_hour": (
            "SELECT date_trunc('hour', ts) AS bucket, count(*) AS n, "
            "round(sum(value), 3) AS sum_value FROM events "
            f"WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' GROUP BY 1"
        ),
        "uw_dim_groupby": (
            "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, "
            "event_type AS et, count(*) AS n, round(sum(value), 3) AS sum_value "
            f"FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' "
            "GROUP BY 1, 2 ORDER BY bucket, et"
        ),
        # DuckDB date_trunc('day'|'week') returns DATE; Spark returns
        # TIMESTAMP — cast so the driver's schema compare agrees.
        "uw_groupby_month": (
            "SELECT CAST(date_trunc('month', ts) AS TIMESTAMP) AS bucket, count(*) AS n, "
            "round(sum(value), 3) AS sum_value FROM events "
            f"WHERE ts >= TIMESTAMP '{WEEK_A}' AND ts < TIMESTAMP '{WEEK_B}' GROUP BY 1"
        ),
        "or_group_by": (
            "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, "
            "count(*) AS n, round(sum(value), 3) AS sum_value FROM events WHERE "
            "(ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-08 00:00:00') OR "
            "(ts >= TIMESTAMP '2024-01-15 00:00:00' AND ts < TIMESTAMP '2024-01-18 00:00:00') "
            "GROUP BY 1 ORDER BY bucket"
        ),
        # window(ts, '6 hours') = epoch-aligned 21600-second buckets;
        # make_timestamp takes epoch µs, so both fields stay naive TIMESTAMP
        # (to_timestamp would be TIMESTAMPTZ and TZ-dependent).
        "uw_window_tumbling": (
            "WITH w AS (SELECT value, "
            "make_timestamp((CAST(floor(epoch(ts)) AS BIGINT) // 21600 * 21600) * 1000000) AS ws "
            f"FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}') "
            "SELECT ws, ws + INTERVAL 6 HOUR AS we, count(*) AS n, "
            "round(sum(value), 3) AS sum_value FROM w GROUP BY ws"
        ),
        "uw_having_groupby": (
            "SELECT date_trunc('hour', ts) AS bucket, count(*) AS n, "
            "round(avg(value), 6) AS avg_value FROM events "
            f"WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' "
            "GROUP BY 1 HAVING avg(value) > 50 ORDER BY bucket"
        ),
        "uw_groupby_landmark": (
            "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, count(*) AS n, "
            "round(sum(value), 3) AS sum_value FROM events GROUP BY 1"
        ),
        # exact regime: capacity >= distinct event types -> est == true
        # count and upper == est; ORDER BY matches the rollup's
        # deterministic (est desc, item asc) tie-break.
        "freq_topk": (
            "SELECT event_type AS item, count(*) AS est, count(*) AS upper "
            f"FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' "
            "GROUP BY 1 ORDER BY est DESC, item ASC LIMIT 4"
        ),
        "uw_keyed_sum": (
            "SELECT round(sum(value), 3) AS sum_value FROM events "
            f"WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' AND event_type = 'click'"
        ),
        "uw_keyed_groupby": (
            "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, count(*) AS n, "
            "round(sum(value), 3) AS sum_value FROM events "
            f"WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' "
            "AND event_type = 'click' GROUP BY 1"
        ),
        "uw_keyed_landmark": (
            "SELECT round(sum(value), 3) AS sum_value FROM events WHERE event_type = 'click'"
        ),
        # DuckDB date_trunc('day') returns DATE — cast to match Spark.
        "uw_between_groupby": (
            "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket, "
            "count(*) AS n, round(sum(value), 3) AS sum_value FROM events "
            f"WHERE ts BETWEEN TIMESTAMP '{A}' AND TIMESTAMP '{B_INCL}' "
            "GROUP BY 1 ORDER BY bucket"
        ),
        "uw_landmark_sum": (
            "SELECT round(sum(value), 3) AS sum_value FROM events"
        ),
        # total order (n DESC then key) makes the LIMIT deterministic —
        # the same gate the router enforces before answering the shape.
        "uw_topk_sql": (
            "SELECT event_type AS k, count(*) AS n FROM events "
            f"WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' "
            "GROUP BY event_type ORDER BY n DESC, k LIMIT 3"
        ),
        # the compacted engine answers from hour tiers; the truth is the
        # plain scan — monoid roll-ups must be bit-for-bit identical
        "uw_compacted_range": (
            "SELECT count(*) AS n, round(sum(value), 3) AS sum_value FROM events "
            f"WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}'"
        ),
        "uw_keyed_numeric": (
            "SELECT round(sum(value), 3) AS sum_value, count(*) AS n FROM events "
            f"WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' AND user_id = 7"
        ),
        # exact regime (capacity 256 >= per-(hour, key) distinct users):
        # est == true count, upper == est; rank/order mirror the rollup's
        # deterministic (key, est desc, item asc) output.
        "freq_topk_by_key": (
            "SELECT event_type, item, est, est AS upper FROM ("
            "SELECT event_type, user_id AS item, count(*) AS est, "
            "row_number() OVER (PARTITION BY event_type "
            "ORDER BY count(*) DESC, user_id ASC) AS rk "
            f"FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' "
            "GROUP BY event_type, user_id) WHERE rk <= 3 "
            "ORDER BY event_type, est DESC, item"
        ),
        "uw_date_key": (
            "SELECT count(*) AS n, round(sum(o_totalprice), 3) AS sum_price FROM orders "
            "WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01' "
            "AND CAST(o_orderdate AS DATE) < DATE '1996-01-01'"
        ),
        # DuckDB sum(BIGINT) is HUGEINT — cast back so schemas agree.
        # exact regime (capacity 8 >= 5 event types, err 0 -> upper == est):
        # the per-day rank mirror of the rollup's deterministic
        # (est desc, item asc) tie-break.
        "uw_int_sum_range": (
            "SELECT CAST(sum(user_id) AS BIGINT) AS sum_uid, min(user_id) AS min_uid, "
            "max(user_id) AS max_uid FROM events "
            f"WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}'"
        ),
        "uw_prune_count": (
            f"SELECT * FROM events WHERE ts >= TIMESTAMP '{EMPTY_A}' AND ts < TIMESTAMP '{EMPTY_B}'"
        ),
        "uw_prune_minmax": (
            f"SELECT * FROM events WHERE ts >= TIMESTAMP '{A}' AND ts < TIMESTAMP '{B}' "
            f"AND value > {IMPOSSIBLE_VALUE}"
        ),
        "uw_unaligned_delegate": (
            "SELECT count(*) AS n FROM events "
            f"WHERE ts >= TIMESTAMP '2024-01-05 00:00:00.500' AND ts < TIMESTAMP '{B}'"
        ),
        "tpch_q1": _TPCH_Q1,
        "tpch_q3": _TPCH_Q3,
        "tpch_q6": _TPCH_Q6,
        "rel_window": _SQL_WINDOW,
        "rel_setop": _SQL_SETOP,
        "uw_cte_join": (
            "WITH cur AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n, "
            f"sum(value) AS sum_value FROM events WHERE ts >= TIMESTAMP '{DAY_A}' "
            f"AND ts < TIMESTAMP '{DAY_B}' GROUP BY 1), "
            "prev AS (SELECT date_trunc('hour', ts) AS bucket, count(*) AS n, "
            f"sum(value) AS sum_value FROM events WHERE ts >= TIMESTAMP '{PREV_A}' "
            f"AND ts < TIMESTAMP '{DAY_A}' GROUP BY 1) "
            "SELECT cur.bucket AS bucket, cur.n AS n, prev.n AS prev_n, "
            "round(cur.sum_value, 3) AS sum_value, "
            "round(prev.sum_value, 3) AS prev_sum_value "
            "FROM cur JOIN prev ON prev.bucket = cur.bucket - INTERVAL 1 DAY "
            "WHERE cur.n > (SELECT avg(n) FROM prev) ORDER BY bucket"
        ),
        "dedup_exact_groups": (
            "SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS keeper_id "
            "FROM documents GROUP BY md5(text)"
        ),
        "dedup_exact_keep": (
            "SELECT doc_id FROM documents WHERE doc_id IN "
            "(SELECT min(doc_id) FROM documents GROUP BY md5(text))"
        ),
        "dedup_fingerprint": oracles.fingerprint_sql(),
        "dedup_minhash_lsh": oracles.minhash_lsh_sql(LSH_MIN_EST),
        "dedup_simhash": oracles.simhash_sql(),
        "dedup_semantic_kept": oracles.semdedup_sql(
            similarity.ivf_centroids(EMB_DIM, 8, 42),
            SEMDD_T,
            dim=EMB_DIM,
            select="vec_id",
        ),
        "dedup_near_corpus": oracles.near_corpus_sql(),
        # documents' UTF-8 bytes are the media payload on both engines:
        # Spark encode(text,'UTF-8') ≡ DuckDB encode(text); md5(VARCHAR)
        # hashes the same UTF-8 bytes as Spark's md5(BINARY).
        "mm_media_stats": (
            "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes, "
            "md5(text) AS digest FROM documents"
        ),
        "mm_media_dedup": (
            "SELECT md5(text) AS digest, count(*) AS n_copies, "
            "min(doc_id) AS keeper_id FROM documents GROUP BY 1"
        ),
        "mm_features": oracles.media_features_sql(dim=16),
        "text_token_stats": oracles.token_stats_sql(),
        "text_pii_scrub": oracles.pii_scrub_sql(),
        "text_repetition": oracles.repetition_sql(),
        "decon_ngram": oracles.contamination_sql(n=3, holdout_mod=7),
        "decon_fuzzy": oracles.fuzzy_decon_sql(0.5),
        "sim_ann_lsh": oracles.ann_topk_sql(
            QUERY_VEC, k=TOPK, dim=EMB_DIM, bits=4, tables=2
        ),
        "sim_ivf_topk": oracles.ivf_topk_sql(
            QUERY_VEC, k=TOPK, nprobe=2, n_centroids=8, dim=EMB_DIM
        ),
        "sim_knn_join": oracles.knn_join_sql(
            f"id < {KNN_QUERY_MAX_ID}", k=KNN_K, dim=EMB_DIM, bits=4, tables=2
        ),
    }

"""Spark-backed rollup wheel: identical answers to the driver backend, with
the rollup living in executor cache instead of driver numpy."""

from __future__ import annotations

import pytest

from datafusion_uwheel_spark import WheelEngine

RANGE = "timestamp >= '2024-05-10 00:00:00' AND timestamp < '2024-05-10 00:00:10'"


@pytest.fixture(scope="module")
def engines(spark, minimal_agg):
    drv = WheelEngine(
        spark, "sb_drv", minimal_agg, time_column="timestamp",
        min_max_columns=("agg_col",),
    )
    drv.build_index("agg_col")
    spk = WheelEngine(
        spark, "sb_spk", minimal_agg, time_column="timestamp",
        min_max_columns=("agg_col",), index_backend="spark",
    )
    spk.build_index("agg_col")
    return drv, spk


QUERIES = [
    ("SELECT COUNT(*) AS c FROM {t} WHERE " + RANGE, "count_range"),
    ("SELECT SUM(agg_col) AS s FROM {t} WHERE " + RANGE, "single_agg"),
    (
        "SELECT AVG(agg_col) AS a, STDDEV(agg_col) AS sd, COUNT(*) AS c FROM {t} WHERE " + RANGE,
        "multi_agg",
    ),
    (
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s FROM {t} WHERE "
        + RANGE
        + " GROUP BY date_trunc('second', timestamp)",
        "group_by",
    ),
    (
        # week buckets are Monday-aligned (date_trunc semantics) — regression
        # guard for the Spark backend's bucket-key arithmetic
        "SELECT date_trunc('week', timestamp) AS b, COUNT(*) AS c FROM {t} WHERE "
        + RANGE
        + " GROUP BY date_trunc('week', timestamp)",
        "group_by",
    ),
    (
        "SELECT date_trunc('month', timestamp) AS b, SUM(agg_col) AS s FROM {t} WHERE "
        + RANGE
        + " GROUP BY date_trunc('month', timestamp)",
        "group_by",
    ),
    ("SELECT SUM(agg_col) AS s FROM {t}", "landmark"),
    ("SELECT * FROM {t} WHERE " + RANGE + " AND agg_col > 99.0", "prune_minmax"),
    (
        # boundary shapes resolve from at-start states on BOTH backends
        "SELECT COUNT(*) AS c, SUM(agg_col) AS s FROM {t} WHERE "
        "timestamp BETWEEN '2024-05-10 00:00:02' AND '2024-05-10 00:00:07'",
        "hybrid_agg",
    ),
    (
        "SELECT COUNT(*) AS c, SUM(agg_col) AS s FROM {t} WHERE "
        "timestamp = '2024-05-10 00:00:04'",
        "point_agg",
    ),
    (
        # strict `>` lower + inclusive `<=` upper slivers (uw_le_bound shape)
        "SELECT COUNT(*) AS c, SUM(agg_col) AS s FROM {t} WHERE "
        "timestamp > '2024-05-10 00:00:01' AND timestamp <= '2024-05-10 00:00:06'",
        "hybrid_agg",
    ),
    (
        # ORDER BY/LIMIT must survive the wheel-boundary success path
        # (router.py:804 regression, r2 ADVICE) on both backends
        "SELECT COUNT(*) AS c FROM {t} WHERE "
        "timestamp > '2024-05-10 00:00:01' AND timestamp <= '2024-05-10 00:00:06' LIMIT 0",
        "hybrid_agg",
    ),
    (
        "SELECT COUNT(*) AS c, SUM(agg_col) AS s FROM {t} WHERE "
        "(timestamp >= '2024-05-10 00:00:01' AND timestamp < '2024-05-10 00:00:03') "
        "OR (timestamp >= '2024-05-10 00:00:07' AND timestamp < '2024-05-10 00:00:09')",
        "or_ranges",
    ),
    (
        "SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s FROM {t} WHERE "
        + RANGE
        + " GROUP BY date_trunc('second', timestamp) HAVING SUM(agg_col) > 4 "
        "ORDER BY b DESC LIMIT 3",
        "group_by",
    ),
    (
        # tumbling window() — arbitrary epoch-aligned width on BOTH backends
        "SELECT window(timestamp, '3 seconds').start AS b, "
        "window(timestamp, '3 seconds').end AS e, SUM(agg_col) AS s FROM {t} WHERE "
        + RANGE
        + " GROUP BY window(timestamp, '3 seconds') ORDER BY b",
        "group_by",
    ),
]


@pytest.mark.parametrize("sql_tpl,kind", QUERIES)
def test_backends_agree(engines, sql_tpl, kind):
    drv, spk = engines
    a = drv.sql(sql_tpl.format(t="sb_drv")).collect()
    assert drv.last_route.kind == kind
    b = spk.sql(sql_tpl.format(t="sb_spk")).collect()
    assert spk.last_route.kind == kind, spk.last_route
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_spark_backend_size_is_driver_free(engines):
    _, spk = engines
    assert spk.index_usage_bytes() == 0  # rollup lives in executor cache
    assert spk.index_keys()  # but the wheels exist


@pytest.mark.parametrize("backend", ["driver", "spark"])
def test_time_range_restricted_sliver_gating(spark, backend):
    """A wheel built under a time_range restriction has no at-start state at
    the boundary instant: the inclusive-upper sliver must NOT be answered
    from a zero state (r2 ADVICE high finding) — on BOTH backends the
    engine either falls back to the pruned boundary scan or delegates, and
    the answer always equals delegated spark.sql."""
    from datetime import datetime

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("v", T.DoubleType(), False),
        ]
    )
    rows = [(datetime(2024, 5, 10, 0, 0, i), float(i)) for i in range(11)]
    name = f"tr_gate_{backend}"
    eng = WheelEngine(
        spark, name, spark.createDataFrame(rows, schema), time_column="ts",
        index_backend=backend,
    )
    eng.build_index(
        "v",
        time_range=(datetime(2024, 5, 10, 0, 0, 0), datetime(2024, 5, 10, 0, 0, 5)),
    )
    sql = (
        f"SELECT COUNT(*) AS c, SUM(v) AS s FROM {name} WHERE "
        "ts > '2024-05-10 00:00:01' AND ts <= '2024-05-10 00:00:05'"
    )
    got = eng.sql(sql).collect()
    want = spark.sql(sql).collect()
    assert got == want  # rows at the restricted boundary are never dropped


# ------------------------------------------- the column-wise lookup contract
@pytest.fixture(scope="module")
def null_rows(spark):
    """Three days of rows with NULL values (one whole hour all-NULL) in a
    float and an integral column, as a DataFrame plus the raw tuples."""
    import random
    from datetime import datetime, timedelta

    rng = random.Random(5)
    base = datetime(2024, 5, 10)
    rows = []
    for _ in range(400):
        t = base + timedelta(seconds=rng.randrange(0, 3 * 86400))
        f = None if rng.random() < 0.25 else rng.uniform(-100, 100)
        n = None if rng.random() < 0.25 else rng.randint(-1000, 1000)
        rows.append((t, f, n))
    rows += [(base + timedelta(hours=5, seconds=s), None, None) for s in (3, 9, 9)]
    df = spark.createDataFrame(rows, "ts timestamp, f double, n bigint")
    return df, rows


def _epoch(t) -> int:
    import calendar

    return calendar.timegm(t.timetuple())


@pytest.mark.parametrize("column,integral", [("f", False), ("n", True)])
def test_spark_rollup_lookups_match_bruteforce(null_rows, column, integral):
    """SparkRollupWheel answers the same contract as the driver wheel:
    ``combine_range(..., states)`` returns exactly the requested carried
    keys, ``group_by(..., states)`` returns ``(bucket_secs, {key: column})``
    — every state key's values and Python types against brute force, over
    all-NULL buckets, calendar granularities, int window widths and a
    compacted (tiered) rollup."""
    import numpy as np
    from test_lookup_properties import ALL_STATES, assert_states, expect_states

    from datafusion_uwheel_spark.functions.timestamps import bucket_starts
    from datafusion_uwheel_spark.operators.rollup_table import SparkRollupWheel
    from datafusion_uwheel_spark.operators.rollups import build_wheel_indices

    df, rows = null_rows
    idx = 1 if column == "f" else 2
    raw = [(_epoch(r[0]), r[idx]) for r in rows]
    w = build_wheel_indices(df, "nr", "ts", [column], backend="spark")[column]
    assert isinstance(w, SparkRollupWheel)
    base = _epoch(rows[0][0].replace(hour=0, minute=0, second=0))

    def check_range(a, b, states):
        got = w.combine_range(a, b, states)
        want = expect_states([v for s, v in raw if a <= s < b], integral)
        assert_states(got, want, ALL_STATES if states is None else states, integral)

    def check_groups(a, b, gran, states):
        secs, cols = w.group_by(a, b, gran, states)
        keys = ALL_STATES if states is None else states
        assert set(cols) == set(keys) and secs.dtype == np.int64
        groups: dict[int, list] = {}
        for s, v in raw:
            if a <= s < b:
                b0 = int(bucket_starts(np.array([s], dtype=np.int64), gran)[0])
                groups.setdefault(b0, []).append(v)
        assert secs.tolist() == sorted(groups)
        for i, b0 in enumerate(secs.tolist()):
            assert_states(
                {k: cols[k][i] for k in cols}, expect_states(groups[b0], integral),
                keys, integral,
            )

    hour5 = base + 5 * 3600
    check_range(hour5, hour5 + 3600, None)  # all-NULL bucket: NULL states
    check_range(base, base + 3 * 86400, ("sum", "var_samp", "count_col"))
    assert w.combine_range(base, base + 60, ()) == {}
    check_groups(base, base + 3 * 86400, "hour", None)
    check_groups(base, base + 3 * 86400, "month", ("count", "avg", "_sumsq"))
    check_groups(base + 3600, base + 2 * 86400, 7200, ("min", "max", "stddev_pop"))
    w.compact_before(base + 86400, 3600)  # hour tier over the first day
    check_range(base, base + 3 * 86400, None)
    check_groups(base, base + 3 * 86400, "day", ("count", "sum", "stddev_samp"))
    assert w.group_by(base, base + 86400, "minute", ("count",)) is None
    w.rollup.unpersist()

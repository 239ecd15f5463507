"""Driver-side CTE outer-query evaluation (r15): grammar gates + exact
Spark parity on every accepted shape.

The evaluator's contract is *bit-identical rows to what the Spark splice
would collect* — so every parity test here registers the same constant
relations as temp views and compares ``evaluate_outer`` output against
``spark.sql`` over the equivalent text, tuple-for-tuple (order included).
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pytest

from datafusion_uwheel_spark.plans.cte_eval import (
    evaluate_outer,
    parse_outer,
)

BASE = datetime(2024, 1, 8, 0, 0, 0)


# ------------------------------------------------------------------ parser
def test_parser_accepts_the_bench_shape():
    spec = parse_outer(
        "SELECT cur.bucket AS bucket, cur.n AS n, prev.n AS prev_n "
        "FROM cur JOIN prev ON prev.bucket = cur.bucket - INTERVAL 1 DAY "
        "WHERE cur.n > (SELECT AVG(n) FROM prev) ORDER BY bucket"
    )
    assert spec is not None
    assert spec.on[1].offset_us == -86_400_000_000
    assert spec.where[0].right.func == "avg"


@pytest.mark.parametrize(
    "bad",
    [
        # calendar interval — not exact µs arithmetic
        "SELECT a.x AS x FROM a JOIN b ON b.x = a.x - INTERVAL 1 MONTH ORDER BY x",
        # expressions in the select list
        "SELECT a.x + 1 AS x FROM a JOIN b ON b.x = a.x ORDER BY x",
        # outer joins
        "SELECT a.x AS x FROM a LEFT JOIN b ON b.x = a.x ORDER BY x",
        # three relations
        "SELECT a.x AS x FROM a JOIN b ON b.x = a.x JOIN c ON c.x = a.x ORDER BY x",
        # join without ORDER BY (nondeterministic row order)
        "SELECT a.x AS x FROM a JOIN b ON b.x = a.x",
        # unqualified select in the join form
        "SELECT x FROM a JOIN b ON b.x = a.x ORDER BY x",
        # GROUP BY / LIMIT / OR — trailing or unsupported tokens
        "SELECT a.x AS x FROM a JOIN b ON b.x = a.x GROUP BY a.x ORDER BY x",
        "SELECT a.x AS x FROM a JOIN b ON b.x = a.x ORDER BY x LIMIT 3",
        "SELECT a.x AS x FROM a JOIN b ON b.x = a.x WHERE a.x > 1 OR a.x < 0 ORDER BY x",
        # explicit NULLS FIRST/LAST
        "SELECT a.x AS x FROM a JOIN b ON b.x = a.x ORDER BY x NULLS LAST",
        # subquery with an expression
        "SELECT a.x AS x FROM a JOIN b ON b.x = a.x WHERE a.x > (SELECT s / n FROM b) ORDER BY x",
        # star select
        "SELECT * FROM a JOIN b ON b.x = a.x ORDER BY x",
    ],
)
def test_parser_rejects(bad):
    assert parse_outer(bad) is None


def test_parser_single_relation_form():
    spec = parse_outer("SELECT s FROM agg")
    assert spec is not None and spec.right is None and spec.order == ()
    spec = parse_outer("SELECT a.s AS s2 FROM agg a WHERE a.s > 3 ORDER BY s2 DESC")
    assert spec is not None and spec.where[0].right == 3


# ------------------------------------------------- evaluation vs Spark SQL
def _mk(names, types, rows):
    return (list(names), list(types), [tuple(r) for r in rows])


def _register(spark, name, triple):
    names, types, rows = triple
    schema = ", ".join(
        f"{n} {t.lower() if t != 'STRING' else 'string'}" for n, t in zip(names, types)
    )
    spark.createDataFrame(rows, schema).createOrReplaceTempView(f"__ce_{name}")


def _spark_rows(spark, main, data):
    for name, triple in data.items():
        _register(spark, name, triple)
    q = main
    for name in data:
        # whole-word replace of the relation names with the view names
        import re

        q = re.sub(rf"\b{name}\b", f"__ce_{name}", q)
    return [tuple(r) for r in spark.sql(q).collect()]


def _reprs(rows):
    """Rows as per-value ``repr`` tuples: NaN equals NaN, 1 differs from 1.0."""
    return [tuple(map(repr, r)) for r in rows]


def _parity(spark, main, data):
    spec = parse_outer(main)
    assert spec is not None, main
    got = evaluate_outer(spec, data)
    assert got is not None, main
    expect = _spark_rows(spark, main, data)
    assert _reprs(got[2]) == _reprs(expect), (main, got[2][:5], expect[:5])
    return got


def _hourly(n, start=BASE, n_null=0, seed=1):
    """``n`` hourly rows; ``s`` is NaN in hour 5 (Spark orders NaN above
    every double, and it poisons SUM/AVG)."""
    rng = random.Random(seed)
    rows = []
    for h in range(n):
        cnt = rng.randrange(0, 50)
        s = round(rng.uniform(-100, 100), 6)
        rows.append(
            (
                start + timedelta(hours=h),
                None if h < n_null else cnt,
                float("nan") if h == 5 else s,
            )
        )
    return _mk(["bucket", "n", "s"], ["TIMESTAMP", "BIGINT", "DOUBLE"], rows)


def test_join_interval_subquery_parity(spark):
    data = {
        "cur": _hourly(24, BASE, seed=2),
        "prev": _hourly(24, BASE - timedelta(days=1), n_null=3, seed=3),
    }
    main = (
        "SELECT cur.bucket AS bucket, cur.n AS n, prev.n AS prev_n, "
        "cur.s AS s, prev.s AS prev_s "
        "FROM cur JOIN prev ON prev.bucket = cur.bucket - INTERVAL 1 DAY "
        "WHERE cur.n > (SELECT AVG(n) FROM prev) ORDER BY bucket"
    )
    got = _parity(spark, main, data)
    assert got[0] == ["bucket", "n", "prev_n", "s", "prev_s"]
    assert got[1] == ["TIMESTAMP", "BIGINT", "BIGINT", "DOUBLE", "DOUBLE"]
    assert len(got[2]) > 0


@pytest.mark.parametrize(
    "onmod,wheremod",
    [
        ("ON prev.bucket = cur.bucket - INTERVAL 24 HOURS", "WHERE cur.n >= (SELECT MAX(n) FROM prev)"),
        ("ON cur.bucket - INTERVAL 1440 MINUTES = prev.bucket", "WHERE cur.s < (SELECT AVG(s) FROM cur)"),
        ("ON prev.bucket + INTERVAL 1 DAY = cur.bucket", "WHERE cur.n <= (SELECT COUNT(*) FROM prev)"),
        ("ON prev.bucket = cur.bucket - INTERVAL '86400' SECOND", "WHERE cur.n > (SELECT COUNT(n) FROM prev)"),
        ("ON prev.bucket = cur.bucket - INTERVAL 1 DAY", "WHERE cur.n != (SELECT MIN(n) FROM prev) AND cur.n > 5"),
        ("ON prev.bucket = cur.bucket - INTERVAL 1 DAY", "WHERE cur.s > (SELECT SUM(s) FROM prev)"),
        ("ON prev.bucket = cur.bucket - INTERVAL 1 DAY", "WHERE cur.n > (SELECT SUM(n) FROM prev)"),
        ("ON prev.bucket = cur.bucket - INTERVAL 1 DAY", ""),
        ("ON prev.bucket = cur.bucket - INTERVAL 1 DAY", "WHERE cur.s > 1.5"),
    ],
)
def test_join_variants_parity(spark, onmod, wheremod):
    data = {
        "cur": _hourly(24, BASE, seed=4),
        "prev": _hourly(24, BASE - timedelta(days=1), n_null=2, seed=5),
    }
    main = (
        "SELECT cur.bucket AS bucket, cur.n AS n, prev.s AS prev_s "
        f"FROM cur JOIN prev {onmod} {wheremod} ORDER BY bucket"
    )
    _parity(spark, main, data)


def test_desc_order_and_null_keys_parity(spark):
    # NULL join keys never match; DESC sorts NULLS LAST like Spark
    rows_a = [(None, 1, 1.0), (BASE, 2, 2.0), (BASE + timedelta(hours=1), 3, 3.0)]
    rows_b = [(BASE - timedelta(days=1), 9, 9.0), (None, 8, 8.0),
              (BASE + timedelta(hours=1) - timedelta(days=1), 7, 7.0)]
    data = {
        "cur": _mk(["bucket", "n", "s"], ["TIMESTAMP", "BIGINT", "DOUBLE"], rows_a),
        "prev": _mk(["bucket", "n", "s"], ["TIMESTAMP", "BIGINT", "DOUBLE"], rows_b),
    }
    main = (
        "SELECT cur.bucket AS bucket, prev.n AS pn "
        "FROM cur JOIN prev ON prev.bucket = cur.bucket - INTERVAL 1 DAY "
        "ORDER BY bucket DESC"
    )
    _parity(spark, main, data)


def test_empty_subquery_side_drops_all(spark):
    # AVG over an empty relation is NULL → every comparison is NULL → no rows
    data = {
        "cur": _hourly(6, BASE, seed=6),
        "prev": _mk(["bucket", "n", "s"], ["TIMESTAMP", "BIGINT", "DOUBLE"], []),
    }
    main = (
        "SELECT cur.bucket AS bucket, cur.n AS n FROM cur JOIN cur AS c2 "
        "ON c2.bucket = cur.bucket WHERE cur.n > (SELECT AVG(n) FROM prev) "
        "ORDER BY bucket"
    )
    spec = parse_outer(main)
    assert spec is not None
    got = evaluate_outer(spec, data)
    assert got is not None and got[2] == []


def test_non_unique_order_keys_fall_back():
    rows = [(BASE, 1, 1.0), (BASE, 2, 2.0)]  # duplicate bucket
    data = {
        "cur": _mk(["bucket", "n", "s"], ["TIMESTAMP", "BIGINT", "DOUBLE"], rows),
        "prev": _mk(["bucket", "n", "s"], ["TIMESTAMP", "BIGINT", "DOUBLE"], rows),
    }
    main = (
        "SELECT cur.bucket AS bucket, prev.n AS pn "
        "FROM cur JOIN prev ON prev.bucket = cur.bucket ORDER BY bucket"
    )
    spec = parse_outer(main)
    assert spec is not None
    assert evaluate_outer(spec, data) is None


def test_unknown_relation_and_ambiguity_fall_back():
    data = {"cur": _hourly(3, BASE)}
    spec = parse_outer(
        "SELECT cur.bucket AS bucket, other.n AS n FROM cur JOIN other "
        "ON other.bucket = cur.bucket ORDER BY bucket"
    )
    assert evaluate_outer(spec, data) is None
    # bare ORDER BY column matching two output columns → fallback
    spec = parse_outer(
        "SELECT cur.n AS v, prev.n AS v FROM cur JOIN prev "
        "ON prev.bucket = cur.bucket ORDER BY v"
    )
    data2 = {
        "cur": _hourly(3, BASE),
        "prev": _hourly(3, BASE),
    }
    assert evaluate_outer(spec, data2) is None


def test_avg_matches_spark_fold_exactly(spark):
    # adversarial doubles: Spark's Average is an in-order double fold; the
    # evaluator must reproduce the exact same IEEE sum. 200 random doubles
    # spanning 20 orders of magnitude make any reordering visible.
    rng = random.Random(7)
    rows = [
        (BASE + timedelta(hours=i), i, rng.uniform(-1, 1) * 10 ** rng.randrange(-8, 12))
        for i in range(200)
    ]
    data = {
        "cur": _mk(["bucket", "n", "s"], ["TIMESTAMP", "BIGINT", "DOUBLE"], rows),
        "prev": _mk(["bucket", "n", "s"], ["TIMESTAMP", "BIGINT", "DOUBLE"], rows),
    }
    main = (
        "SELECT cur.bucket AS bucket, cur.s AS s FROM cur JOIN prev "
        "ON prev.bucket = cur.bucket WHERE cur.s < (SELECT AVG(s) FROM prev) "
        "ORDER BY bucket"
    )
    _parity(spark, main, data)


def test_single_relation_passthrough_preserves_order(spark):
    data = {"agg": _hourly(8, BASE, n_null=1, seed=9)}
    main = "SELECT n, s FROM agg"
    got = _parity(spark, main, data)
    assert [r[0] for r in got[2]] == [r[1] for r in data["agg"][2]]
    _parity(spark, "SELECT a.n AS n FROM agg a WHERE a.n > 10 ORDER BY n DESC", data)
    # NaN through WHERE, the subquery and ORDER BY, both directions
    for order in ("s DESC", "s"):
        got = _parity(
            spark,
            "SELECT bucket, s FROM agg WHERE s >= (SELECT MIN(s) FROM agg) "
            f"AND s > -1000 ORDER BY {order}",
            data,
        )
        assert len(got[2]) == 8 and repr(got[2][0 if order == "s DESC" else -1][1]) == "nan"


def test_catalog_end_to_end_fast_path(spark, minimal_agg):
    """The catalog answers a routed-CTE join driver-side (zero jobs) with
    rows identical to the forced Spark splice."""
    from datafusion_uwheel_spark.catalog import WheelCatalog
    from datafusion_uwheel_spark.plans import cte_eval

    cat = WheelCatalog(spark)
    cat.register("ce_tab", minimal_agg, time_column="timestamp").build_index(
        "agg_col"
    )
    q = (
        "WITH cur AS (SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s "
        "FROM ce_tab WHERE timestamp >= '2024-05-10 00:00:05' AND "
        "timestamp < '2024-05-10 00:00:10' GROUP BY date_trunc('second', timestamp)), "
        "prev AS (SELECT date_trunc('second', timestamp) AS b, SUM(agg_col) AS s "
        "FROM ce_tab WHERE timestamp >= '2024-05-10 00:00:00' AND "
        "timestamp < '2024-05-10 00:00:05' GROUP BY date_trunc('second', timestamp)) "
        "SELECT cur.b AS b, cur.s AS s, prev.s AS prev_s FROM cur JOIN prev "
        "ON prev.b = cur.b - INTERVAL 5 SECONDS "
        "WHERE cur.s > (SELECT AVG(s) FROM prev) ORDER BY b"
    )
    fast = [tuple(r) for r in cat.sql(q).collect()]
    assert cat.last_route.kind == "cte_rewrite"
    assert cat.last_route.detail["evaluated"] == "driver"
    rows_direct = [tuple(r) for r in cat.sql_rows(q)]
    assert rows_direct == fast

    # force the splice and compare
    orig = cte_eval.parse_outer
    cte_eval.parse_outer = lambda main: None
    try:
        spliced = [tuple(r) for r in cat.sql(q).collect()]
        assert cat.last_route.detail["evaluated"] == "splice"
    finally:
        cte_eval.parse_outer = orig
    assert fast == spliced and len(fast) > 0

    # vanilla Spark over the raw view agrees too
    minimal_agg.createOrReplaceTempView("ce_tab")
    vanilla = [tuple(r) for r in spark.sql(q).collect()]
    assert fast == vanilla


def test_catalog_fast_path_zero_jobs(spark, minimal_agg):
    from datafusion_uwheel_spark.catalog import WheelCatalog

    cat = WheelCatalog(spark)
    cat.register("ce_zj", minimal_agg, time_column="timestamp").build_index(
        "agg_col"
    )
    q = (
        "WITH cur AS (SELECT COUNT(*) AS n FROM ce_zj WHERE "
        "timestamp >= '2024-05-10 00:00:05' AND timestamp < '2024-05-10 00:00:10'), "
        "prev AS (SELECT COUNT(*) AS n FROM ce_zj WHERE "
        "timestamp >= '2024-05-10 00:00:00' AND timestamp < '2024-05-10 00:00:05') "
        "SELECT n FROM cur"
    )
    rows = cat.sql_rows(q)  # warm memos (the single-relation form)
    assert cat.last_route.detail["evaluated"] == "driver"
    assert rows[0]["n"] == 5
    sc = spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    for _ in range(5):
        assert cat.sql_rows(q)[0]["n"] == 5
    after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    assert after == before


# ------------------------------------------- NaN through the catalog door
@pytest.fixture(scope="module")
def nan_catalog(spark):
    """A 4-row hourly table whose second hour is NaN, routed through a
    catalog and registered as a plain view of the same name."""
    from datafusion_uwheel_spark.catalog import WheelCatalog

    rows = [(BASE + timedelta(hours=h), v) for h, v in enumerate((1.0, float("nan"), 5.0, 3.0))]
    df = spark.createDataFrame(rows, "ts timestamp, v double")
    df.createOrReplaceTempView("cte_nan")
    cat = WheelCatalog(spark)
    cat.register("cte_nan", df, time_column="ts").build_index("v")
    return cat


_NAN_CTE = (
    "WITH a AS (SELECT date_trunc('hour', ts) AS h, SUM(v) AS s FROM cte_nan "
    "GROUP BY date_trunc('hour', ts)) "
)


@pytest.mark.parametrize(
    "outer",
    [
        "SELECT h, s FROM a WHERE s > 4 ORDER BY h",
        "SELECT h, s FROM a WHERE s >= (SELECT MIN(s) FROM a) ORDER BY h",
        "SELECT h, s FROM a WHERE s <= (SELECT MAX(s) FROM a) ORDER BY s DESC",
    ],
)
def test_nan_rows_match_spark(spark, nan_catalog, outer):
    """Spark's NaN equals NaN and is greater than every number: an outer
    WHERE against a number or a MIN/MAX subquery keeps the NaN row, and
    the catalog's driver answer equals plain ``spark.sql`` in names,
    types, values and order."""
    q = _NAN_CTE + outer
    got = nan_catalog.sql_rows(q)
    assert nan_catalog.last_route.detail["evaluated"] == "driver"
    want = spark.sql(q)
    assert nan_catalog.sql(q).dtypes == want.dtypes
    want = want.collect()
    assert [list(r.__fields__) for r in got] == [list(r.__fields__) for r in want]
    assert _reprs(got) == _reprs(want)
    assert "nan" in [repr(r["s"]) for r in got]

"""Multi-table catalog: per-table routing plus cross-table delegation."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from datafusion_uwheel_spark.catalog import WheelCatalog


@pytest.fixture(scope="module")
def catalog(spark, minimal_agg):
    cat = WheelCatalog(spark)
    cat.register("cat_a", minimal_agg, time_column="timestamp").build_index("agg_col")
    rows = [
        (datetime(2024, 5, 10, 0, 0, 0) + timedelta(seconds=i), float(100 + i))
        for i in range(20)
    ]
    other = spark.createDataFrame(rows, "ts timestamp, price double")
    cat.register("cat_b", other, time_column="ts").build_index("price")
    return cat


RANGE_A = "timestamp >= '2024-05-10 00:00:00' AND timestamp < '2024-05-10 00:00:10'"
RANGE_B = "ts >= '2024-05-10 00:00:00' AND ts < '2024-05-10 00:00:20'"


def test_routes_to_owning_engine(catalog):
    assert catalog.sql(f"SELECT SUM(agg_col) AS s FROM cat_a WHERE {RANGE_A}").collect()[0][0] == 55.0
    assert catalog.last_route.kind == "single_agg"
    assert catalog.sql(f"SELECT COUNT(*) AS c FROM cat_b WHERE {RANGE_B}").collect()[0][0] == 20
    assert catalog.last_route.kind == "count_range"
    assert catalog.sql("SELECT MIN(price) AS m FROM cat_b").collect()[0][0] == 100.0
    assert catalog.last_route.kind == "landmark"


def test_unregistered_and_join_delegate(catalog):
    n = catalog.sql(
        "SELECT COUNT(*) AS c FROM cat_a JOIN cat_b ON cat_a.timestamp = cat_b.ts"
    ).collect()[0][0]
    assert catalog.last_route.kind == "delegate"
    assert n == 10  # the ten shared seconds
    catalog.spark.createDataFrame([(1,)], "x long").createOrReplaceTempView("cat_other")
    assert catalog.sql("SELECT COUNT(*) AS c FROM cat_other").collect()[0][0] == 1
    assert catalog.last_route.kind == "delegate"


def test_usage_accumulates(catalog):
    assert catalog.index_usage_bytes() > 0
    assert catalog.index_usage_bytes() == sum(
        e.index_usage_bytes() for e in catalog.engines.values()
    )


def test_catalog_owns_similarity_engines(spark, tmp_path):
    import random

    from datafusion_uwheel_spark import WheelCatalog

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cat = WheelCatalog(spark)
    se = cat.register_similarity(
        "cat_emb", emb, dim=8, index_root=str(tmp_path / "cat_idx")
    )
    se.build_index(kind="lsh", bits=4, tables=2)
    q = rows[0][1]
    got = cat.similarity("cat_emb").topk(q, k=5, kind="lsh", bits=4, tables=2).collect()
    assert cat.similarity("cat_emb").last_route.kind == "indexed"
    assert got[0]["vec_id"] == 0  # self is its own nearest neighbour


# ------------------------------------------------------------ CTE routing
def test_split_with_ctes_parser():
    from datafusion_uwheel_spark.plans.sqlparse import ParseError, split_with_ctes

    ctes, main = split_with_ctes(
        "WITH a AS (SELECT 1 AS x), b AS (SELECT '(' AS s FROM t WHERE u IN (1, (2))) "
        "SELECT * FROM a JOIN b"
    )
    assert [n for n, _ in ctes] == ["a", "b"]
    assert ctes[1][1] == "SELECT '(' AS s FROM t WHERE u IN (1, (2))"
    assert main == "SELECT * FROM a JOIN b"
    for bad in [
        "SELECT 1",  # not a WITH
        "WITH RECURSIVE r AS (SELECT 1) SELECT * FROM r",
        "WITH a(x) AS (SELECT 1) SELECT * FROM a",  # column alias list
        "WITH a AS (SELECT 1)",  # no main body
        "WITH a AS (SELECT 1) SELECT * FROM a -- (",  # comments unsupported
    ]:
        with pytest.raises(ParseError):
            split_with_ctes(bad)


_CTE_JOIN_Q = (
    "WITH cur AS (SELECT date_trunc('second', ts) AS b, SUM(price) AS s FROM cat_b "
    "WHERE ts >= '2024-05-10 00:00:10' AND ts < '2024-05-10 00:00:20' "
    "GROUP BY date_trunc('second', ts)), "
    "prev AS (SELECT date_trunc('second', ts) AS b, SUM(price) AS s FROM cat_b "
    "WHERE ts >= '2024-05-10 00:00:00' AND ts < '2024-05-10 00:00:10' "
    "GROUP BY date_trunc('second', ts)) "
    "SELECT cur.b AS b, cur.s AS s, prev.s AS prev_s FROM cur JOIN prev "
    "ON prev.b = cur.b - INTERVAL 10 SECONDS ORDER BY b"
)


def test_cte_rewrite_joins_wheel_answers(catalog):
    got = catalog.sql(_CTE_JOIN_Q)
    route = catalog.last_route
    assert route.kind == "cte_rewrite"
    assert set(route.detail["routed"]) == {"cur", "prev"}
    assert route.detail["delegated"] == []
    rows = [tuple(r) for r in got.collect()]
    expect = [tuple(r) for r in catalog.spark.sql(_CTE_JOIN_Q).collect()]
    assert rows == expect and len(rows) == 10


def test_cte_mixed_routed_and_delegated(catalog):
    # ``agg`` routes from cat_b's wheel; ``raw`` (a join) stays in-SQL; the
    # main query also keeps a scalar subquery over the routed CTE.
    q = (
        "WITH agg AS (SELECT COUNT(*) AS n, SUM(price) AS s FROM cat_b "
        "WHERE ts >= '2024-05-10 00:00:00' AND ts < '2024-05-10 00:00:20'), "
        "raw AS (SELECT cat_b.price AS price FROM cat_b JOIN cat_a "
        "ON cat_a.timestamp = cat_b.ts) "
        "SELECT raw.price AS price, agg.n AS n FROM raw, agg "
        "WHERE raw.price < (SELECT s / n FROM agg) ORDER BY price"
    )
    got = catalog.sql(q)
    route = catalog.last_route
    assert route.kind == "cte_rewrite"
    assert list(route.detail["routed"]) == ["agg"]
    assert route.detail["delegated"] == ["raw"]
    rows = [tuple(r) for r in got.collect()]
    expect = [tuple(r) for r in catalog.spark.sql(q).collect()]
    assert rows == expect and len(rows) > 0


def test_cte_no_routable_body_delegates(catalog):
    # Unregistered table inside the CTE → nothing routes → original text
    # delegated untouched.
    catalog.spark.createDataFrame([(1,)], "x long").createOrReplaceTempView("cat_loose")
    q = "WITH c AS (SELECT COUNT(*) AS n FROM cat_loose) SELECT n FROM c"
    assert catalog.sql(q).collect()[0][0] == 1
    assert catalog.last_route.kind == "delegate"


def test_catalog_sql_rows_routed_and_delegate(catalog):
    sql = f"SELECT SUM(agg_col) AS s FROM cat_a WHERE {RANGE_A}"
    rows = catalog.sql_rows(sql)
    assert catalog.last_route.rewritten
    assert [tuple(r) for r in rows] == [tuple(r) for r in catalog.sql(sql).collect()]
    assert rows[0]["s"] == 55.0
    # second table through the same front door
    rows_b = catalog.sql_rows(f"SELECT COUNT(*) AS n FROM cat_b WHERE {RANGE_B}")
    assert catalog.last_route.rewritten and rows_b[0]["n"] == 20
    # unregistered table → spark.sql collect parity
    catalog.spark.range(5).createOrReplaceTempView("cat_plain")
    got = catalog.sql_rows("SELECT COUNT(*) AS n FROM cat_plain")
    assert catalog.last_route.kind == "delegate"
    assert got[0]["n"] == 5


def test_catalog_sql_rows_zero_jobs(catalog):
    sql = f"SELECT SUM(agg_col) AS s FROM cat_a WHERE {RANGE_A}"
    catalog.sql_rows(sql)  # warm parse + rows memos
    eng = catalog.engine("cat_a")
    sc = catalog.spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    for _ in range(10):
        eng._route_memo.clear()  # fresh route each time; parse memo stays
        assert catalog.sql_rows(sql)[0]["s"] == 55.0
    after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    assert after == before


def test_catalog_sql_rows_cte_parity(catalog):
    sql = (
        f"WITH agg AS (SELECT SUM(agg_col) AS s FROM cat_a WHERE {RANGE_A}) "
        "SELECT s FROM agg"
    )
    rows = catalog.sql_rows(sql)
    assert catalog.last_route.kind == "cte_rewrite"
    assert [tuple(r) for r in rows] == [tuple(r) for r in catalog.sql(sql).collect()]


def test_adopt_existing_engine(spark, minimal_agg):
    from datafusion_uwheel_spark import WheelEngine

    eng = WheelEngine(spark, "cat_adopted", minimal_agg, time_column="timestamp")
    eng.build_index("agg_col")
    cat = WheelCatalog(spark)
    assert cat.adopt(eng) is eng
    rows = cat.sql_rows(
        "SELECT COUNT(*) AS n FROM cat_adopted WHERE "
        "timestamp >= '2024-05-10 00:00:00' AND timestamp < '2024-05-10 00:00:10'"
    )
    assert cat.last_route.rewritten and rows[0]["n"] == 10


def _cte_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.name.startswith("__uw_cte_")}


def test_cte_views_follow_the_route_memo(spark):
    """A routed CTE body reads its answer through its route-memo entry's
    temp view: a repeated text registers no new view, an index mutation
    (``merge_batch`` bumps the epoch) gets a fresh view and a fresh
    answer, and a body over a table that gains an engine routes on the
    next call."""
    from datafusion_uwheel_spark.streaming.maintenance import StreamingWheelMaintainer

    t0 = datetime(2024, 5, 10)
    base = spark.createDataFrame(
        [(t0 + timedelta(seconds=i), float(i)) for i in range(10)], "ts timestamp, v double"
    )
    late = spark.createDataFrame([(t0 + timedelta(seconds=3), 100.0)], "ts timestamp, v double")
    other = spark.createDataFrame([(t0, 7.0)], "ts timestamp, w double")
    other.createOrReplaceTempView("cte_memo_b")
    cat = WheelCatalog(spark)
    eng = cat.register("cte_memo_a", base, time_column="ts")
    eng.build_index("v")
    # the outer expression is outside the driver grammar: the text splices
    q = (
        "WITH a AS (SELECT SUM(v) AS s FROM cte_memo_a WHERE "
        "ts >= '2024-05-10 00:00:00' AND ts < '2024-05-10 00:00:10'), "
        "b AS (SELECT MAX(w) AS m FROM cte_memo_b) "
        "SELECT a.s + b.m AS total FROM a, b"
    )

    def ask():
        total = cat.sql_rows(q)[0]["total"]
        assert cat.last_route.kind == "cte_rewrite"
        assert cat.last_route.detail["evaluated"] == "splice"
        return total, cat.last_route.detail

    total, detail = ask()
    assert total == 45.0 + 7.0
    assert list(detail["routed"]) == ["a"] and detail["delegated"] == ["b"]
    views = _cte_views(spark)
    total, again = ask()
    assert total == 52.0 and again["sql"] == detail["sql"]
    assert _cte_views(spark) == views  # no new view for a repeated text

    StreamingWheelMaintainer(eng).merge_batch(late)
    total, merged = ask()
    assert total == 152.0  # the merged row, not the memoized answer
    assert merged["sql"] != detail["sql"] and len(_cte_views(spark) - views) == 1

    cat.register("cte_memo_b", other, time_column="ts").build_index("w")
    total, both = ask()
    assert total == 152.0
    assert set(both["routed"]) == {"a", "b"} and both["delegated"] == []
    assert spark.sql(both["sql"]).collect()[0]["total"] == 152.0  # live views

"""engine.sql_rows — the direct-rows fast path: routed answers as plain
Row lists with ZERO JVM round trips (no VALUES parse, no collect), byte-
equal to the DataFrame path; delegates still run through spark.sql."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from datafusion_uwheel_spark import WheelEngine


@pytest.fixture(scope="module")
def eng(spark, sf_small_dir):
    e = WheelEngine(
        spark, "rows_events", f"{sf_small_dir}/events.parquet",
        time_column="ts", min_max_columns=("value",),
    )
    e.build_index("value")
    e.build_index("value", filter="event_type = 'click'")
    e.build_partitioned_index("value", partition_by="event_type")
    return e


A, B = "2024-01-03 00:00:00", "2024-01-10 00:00:00"

ROUTED = [
    f"SELECT COUNT(*) AS c FROM rows_events WHERE ts >= '{A}' AND ts < '{B}'",
    f"SELECT COUNT(*) AS c, SUM(value) AS s, AVG(value) AS a, MIN(value) AS lo, "
    f"MAX(value) AS hi FROM rows_events WHERE ts >= '{A}' AND ts < '{B}'",
    f"SELECT date_trunc('day', ts) AS b, COUNT(*) AS n FROM rows_events "
    f"WHERE ts >= '{A}' AND ts < '{B}' GROUP BY date_trunc('day', ts) ORDER BY b",
    f"SELECT STDDEV(value) AS sd FROM rows_events WHERE ts >= '{A}' AND ts < '{B}'",
    f"SELECT SUM(value) AS s FROM rows_events WHERE ts >= '{A}' AND ts < '{B}' "
    "AND event_type = 'click'",
    "SELECT COUNT(*) AS c, SUM(value) AS s FROM rows_events",  # landmark
    f"SELECT COUNT(*) AS c FROM rows_events WHERE ts BETWEEN '{A}' AND "
    "'2024-01-09 23:59:59'",  # hybrid
    f"SELECT COUNT(*) AS c FROM rows_events WHERE (ts >= '{A}' AND ts < "
    f"'2024-01-05 00:00:00') OR (ts >= '2024-01-07 00:00:00' AND ts < '{B}')",
]

# r8 (VERDICT r7 item 5): the remaining routed families with grouped
# answers — dim group-by, OR-grouped, grouped-hybrid — ride the same
# capture channel; pin (expected kind, parity) for each.
GROUPED_DIRECT = [
    (
        f"SELECT date_trunc('day', ts) AS b, event_type AS et, COUNT(*) AS n, "
        f"SUM(value) AS s FROM rows_events WHERE ts >= '{A}' AND ts < '{B}' "
        "GROUP BY date_trunc('day', ts), event_type ORDER BY b, et",
        "group_by",  # dim group-by (partitioned family)
    ),
    (
        f"SELECT date_trunc('day', ts) AS b, COUNT(*) AS n, SUM(value) AS s "
        f"FROM rows_events WHERE (ts >= '{A}' AND ts < '2024-01-05 00:00:00') "
        f"OR (ts >= '2024-01-07 00:00:00' AND ts < '{B}') "
        "GROUP BY date_trunc('day', ts) ORDER BY b",
        "or_group_by",
    ),
    (
        f"SELECT date_trunc('day', ts) AS b, COUNT(*) AS n, SUM(value) AS s "
        f"FROM rows_events WHERE ts BETWEEN '{A}' AND '2024-01-09 23:59:59' "
        "GROUP BY date_trunc('day', ts) ORDER BY b",
        "group_by_hybrid",  # runs the sliver job, rows still captured
    ),
    # r9: the fuzzed ORDER BY / HAVING / LIMIT gate applies above these
    # two families too — LIMIT only answers under a TOTAL order (n DESC
    # ties broken by the unique bucket; plain bucket order is total).
    (
        f"SELECT date_trunc('day', ts) AS b, COUNT(*) AS n, SUM(value) AS s "
        f"FROM rows_events WHERE (ts >= '{A}' AND ts < '2024-01-05 00:00:00') "
        f"OR (ts >= '2024-01-07 00:00:00' AND ts < '{B}') "
        "GROUP BY date_trunc('day', ts) ORDER BY n DESC, b LIMIT 2",
        "or_group_by",
    ),
    (
        f"SELECT date_trunc('day', ts) AS b, COUNT(*) AS n, SUM(value) AS s "
        f"FROM rows_events WHERE ts BETWEEN '{A}' AND '2024-01-09 23:59:59' "
        "GROUP BY date_trunc('day', ts) HAVING COUNT(*) > 1 ORDER BY b LIMIT 3",
        "group_by_hybrid",
    ),
]


def test_grouped_families_direct_parity(eng):
    for sql, kind in GROUPED_DIRECT:
        rows = eng.sql_rows(sql)
        assert eng.last_route.kind == kind, (sql, eng.last_route)
        df_rows = eng.sql(sql).collect()
        assert eng.last_route.kind == kind
        assert [tuple(r) for r in rows] == [tuple(r) for r in df_rows], sql
        assert rows and [list(r.asDict()) for r in rows] == [
            list(r.asDict()) for r in df_rows
        ], sql


def test_dim_and_or_grouped_direct_zero_jobs(eng, spark):
    """The two fully-index-resolved grouped families must stay job-free on
    the direct path (grouped-hybrid legitimately runs its sliver job)."""
    for sql, _kind in GROUPED_DIRECT[:2]:
        eng.sql_rows(sql)  # warm parse/route caches
    sc = spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    for sql, _kind in GROUPED_DIRECT[:2]:
        eng._route_memo.clear()
        eng.sql_rows(sql)
    after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    assert after == before


def test_rows_match_dataframe_path(eng):
    for sql in ROUTED:
        rows = eng.sql_rows(sql)
        route_rows = eng.last_route
        assert route_rows.rewritten, (sql, route_rows)
        df_rows = eng.sql(sql).collect()
        assert eng.last_route.kind == route_rows.kind
        assert [tuple(r) for r in rows] == [tuple(r) for r in df_rows], sql
        assert [list(r.asDict()) for r in rows] == [
            list(r.asDict()) for r in df_rows
        ], sql


def test_rows_zero_spark_jobs_and_fast(eng, spark):
    sql = ROUTED[0]
    eng.sql_rows(sql)  # warm (parse caches, nothing JVM)
    sc = spark.sparkContext
    before = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    t0 = time.perf_counter()
    for _ in range(50):
        eng._route_memo.clear()  # force full route every iteration
        eng.sql_rows(sql)
    dt = (time.perf_counter() - t0) / 50
    after = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    assert after == before  # not a single Spark job
    # pure Python: parse + wheel lookup. Generous bound for slow boxes —
    # the DataFrame path's py4j floor alone is ~5-10 ms.
    assert dt < 0.005, f"direct path took {dt*1e3:.2f} ms"


def test_rows_cache_and_epoch_invalidation(eng):
    sql = ROUTED[0]
    r1 = eng.sql_rows(sql)
    assert eng._route_memo  # memoized
    r2 = eng.sql_rows(sql)
    assert r1 == r2 and r1 is not r2  # cache hit returns a COPY
    r2.clear()  # caller mutation must not poison the memo
    assert eng.sql_rows(sql) == r1
    eng.build_index("user_id")  # epoch bump
    r3 = eng.sql_rows(sql)
    assert r3 == r1  # recomputed, same values


def test_rows_delegate_parity(eng):
    # user_id has no partitioned family -> keys-only GROUP BY delegates
    # (event_type would ROUTE since the fixture's r8 partitioned build)
    sql = (
        "SELECT user_id AS k, COUNT(*) AS n FROM rows_events "
        "GROUP BY user_id ORDER BY k"
    )
    rows = eng.sql_rows(sql)
    assert eng.last_route.kind == "delegate"
    assert [tuple(r) for r in rows] == [
        tuple(r) for r in eng.spark.sql(sql).collect()
    ]


def test_rows_prune_empty(eng):
    sql = (
        f"SELECT * FROM rows_events WHERE ts >= '{A}' AND ts < '{B}' "
        "AND value > 100000.0"
    )
    rows = eng.sql_rows(sql)
    assert eng.last_route.rewritten
    assert rows == []


def _count_tokenize(monkeypatch):
    """Count calls of the tokenizer every full parse starts with."""
    from datafusion_uwheel_spark.plans import sqlparse

    calls = []
    real = sqlparse._tokenize

    def counted(sql):
        calls.append(sql)
        return real(sql)

    monkeypatch.setattr(sqlparse, "_tokenize", counted)
    return calls


def test_parse_cache_survives_epoch_bump(eng, monkeypatch):
    """The streaming case the parse memo exists for: an index mutation
    invalidates the ANSWER memo but not the parse — re-routing the same
    text (and a fresh text of the same shape) must not tokenize again and
    must still produce correct values."""
    sql = ROUTED[0]
    other = sql.replace(B, "2024-01-09 00:00:00")
    for day in ("04", "05"):  # two fresh texts: the shape is prepared
        eng.sql_rows(other.replace(A, f"2024-01-{day} 00:00:00"))
    r1 = eng.sql_rows(sql)
    calls = _count_tokenize(monkeypatch)
    eng.index_epoch += 1  # what a streaming merge does
    r2 = eng.sql_rows(sql)
    assert r2 == r1
    r3 = eng.sql_rows(other)
    assert eng.last_route.rewritten
    assert r3 == [tuple(r) for r in eng.spark.sql(other).collect()]
    assert calls == []  # no re-tokenize


def test_parse_cache_caches_failures(eng, monkeypatch):
    bad = "SELECT FROM WHERE nonsense ~~ rows_events"
    calls = _count_tokenize(monkeypatch)
    # unparseable → delegate; spark.sql raises its own analysis error
    with pytest.raises(Exception):
        eng.sql_rows(bad)
    assert eng.last_route.kind == "delegate"
    assert len(calls) == 1
    with pytest.raises(Exception):  # the memoized error path delegates again
        eng.sql_rows(bad)
    assert eng.last_route.kind == "delegate"
    assert len(calls) == 1  # the failure came from the memo


def test_memo_lru_evicts_oldest_keeps_hot(monkeypatch):
    """Route memos evict least-recently-used at the cap instead of clearing
    wholesale — a dashboard cycling >cap distinct strings keeps its hot set."""
    from datafusion_uwheel_spark import engine as engine_mod

    monkeypatch.setattr(engine_mod, "_MEMO_CAP", 3)
    cache = engine_mod.OrderedDict()
    for k in "abc":
        engine_mod._memo_put(cache, k, k.upper())
    assert engine_mod._memo_get(cache, "a") == "A"  # touch: a is now hot
    engine_mod._memo_put(cache, "d", "D")  # evicts b (LRU), not a
    assert list(cache) == ["c", "a", "d"]
    assert engine_mod._memo_get(cache, "b") is None


def test_memo_get_tolerates_concurrent_eviction():
    """``get`` then ``move_to_end`` is not atomic: another thread may evict
    the key in between. The memo read must still return the value."""
    from datafusion_uwheel_spark import engine as engine_mod

    class EvictingDict(engine_mod.OrderedDict):
        def get(self, key, default=None):
            v = super().get(key, default)
            self.pop(key, None)  # the other thread's eviction
            return v

    cache = EvictingDict()
    cache["a"] = "A"
    assert engine_mod._memo_get(cache, "a") == "A"
    assert "a" not in cache
    assert engine_mod._memo_get(cache, "a") is None


def test_fast_rows_equal_row_factory():
    """The answer rows are built without ``Row.__call__``; they must be the
    same objects ``Row(*names)(*values)`` makes."""
    import pickle

    from pyspark.sql import Row

    from datafusion_uwheel_spark.engine import _rows

    names = ["b", "n", "s"]
    values = [(1, 2, 3.5), ("x", None, float("inf")), (None, 0, -1.0)]
    fast = _rows(names, values)
    slow = [Row(*names)(*v) for v in values]
    assert fast == slow
    for f, s in zip(fast, slow):
        assert type(f) is type(s) is Row
        assert repr(f) == repr(s)
        assert f.asDict() == s.asDict()
        assert (f.b, f["n"], f[2]) == (s.b, s["n"], s[2])
        assert f.__fields__ == s.__fields__ == tuple(names)
        assert f.__fields__ is fast[0].__fields__  # one shared names Row
        assert pickle.loads(pickle.dumps(f)) == s
        assert repr(pickle.loads(pickle.dumps(f))) == repr(s)
    assert _rows(names, []) == []


@pytest.mark.parametrize("limit", ["-1", "1e3"])
def test_invalid_limit_delegates_to_spark_error(eng, limit):
    """Spark takes only an unsigned INT literal as LIMIT. A negative or an
    exponent LIMIT on a routable group-by must delegate and raise the
    error class plain ``spark.sql`` raises — not answer (``-1`` used to
    drop the last row) and not escape as a ``ValueError``."""
    sql = (
        f"SELECT date_trunc('day', ts) AS b, COUNT(*) AS n FROM rows_events "
        f"WHERE ts >= '{A}' AND ts < '{B}' GROUP BY date_trunc('day', ts) "
        f"ORDER BY b LIMIT {limit}"
    )

    def condition(call):
        with pytest.raises(Exception) as info:
            call()
        return info.value.getCondition()

    want = condition(lambda: eng.spark.sql(sql).collect())
    assert want.startswith("INVALID_LIMIT_LIKE_EXPRESSION")
    assert condition(lambda: eng.sql_rows(sql)) == want
    assert eng.last_route.kind == "delegate"
    assert condition(lambda: eng.sql(sql).collect()) == want
    assert eng.last_route.kind == "delegate"


# ------------------------------------------------- one answer, every door
#: A routed CTE join the catalog evaluates on the driver.
CTE = (
    "WITH cur AS (SELECT date_trunc('day', ts) AS b, COUNT(*) AS n FROM rows_events "
    f"WHERE ts >= '2024-01-06 00:00:00' AND ts < '{B}' GROUP BY date_trunc('day', ts)), "
    "prev AS (SELECT date_trunc('day', ts) AS b, COUNT(*) AS n FROM rows_events "
    "WHERE ts >= '2024-01-02 00:00:00' AND ts < '2024-01-06 00:00:00' "
    "GROUP BY date_trunc('day', ts)) "
    "SELECT cur.b AS b, cur.n AS n, prev.n AS prev_n FROM cur JOIN prev "
    "ON prev.b = cur.b - INTERVAL 4 DAYS ORDER BY b"
)


@pytest.fixture(scope="module")
def cat(spark, eng):
    from datafusion_uwheel_spark import WheelCatalog

    c = WheelCatalog(spark)
    c.adopt(eng)
    return c


def _fields(rows):
    return list(rows[0].__fields__)


def _door_answers(eng, cat, sql):
    """``door → (route kind, names, row tuples)`` for each door that can
    answer ``sql``."""

    def df_door():
        df = eng.sql(sql)
        return eng.last_route.kind, df.columns, [tuple(r) for r in df.collect()]

    def rows_door():
        rows = eng.sql_rows(sql)
        return eng.last_route.kind, _fields(rows), [tuple(r) for r in rows]

    def answer_door():
        names, _types, rows = eng.routed_answer(sql)
        return eng.last_route.kind, names, [tuple(r) for r in rows]

    def catalog_door():
        rows = cat.sql_rows(sql)
        return cat.last_route.kind, _fields(rows), [tuple(r) for r in rows]

    return [df_door, rows_door, answer_door, catalog_door]


@pytest.mark.parametrize("reverse", [False, True], ids=["df_first", "catalog_first"])
def test_every_door_serves_the_same_answer(eng, cat, reverse):
    """``sql().collect()``, ``sql_rows()``, ``routed_answer()`` and the
    catalog's ``sql_rows()`` agree on names, values, order and route kind,
    served from one memo entry whichever door fills it first."""
    for sql in ROUTED:
        eng._route_memo.clear()
        doors = _door_answers(eng, cat, sql)
        got = []
        for door in reversed(doors) if reverse else doors:
            got.append(door())
            entry = eng._route_memo[sql]
            assert eng._route_memo[sql] is entry  # routed once, one entry
        assert got[0][0] != "delegate", sql
        assert all(g == got[0] for g in got), (sql, got)
    # a routed CTE: the catalog's two doors and the delegated text agree
    for first, second in ((cat.sql_rows, cat.sql), (cat.sql, cat.sql_rows)):
        eng._route_memo.clear()
        a = first(CTE)
        a = a.collect() if hasattr(a, "collect") else a
        assert cat.last_route.kind == "cte_rewrite"
        assert cat.last_route.detail["evaluated"] == "driver"
        b = second(CTE)
        b = b.collect() if hasattr(b, "collect") else b
        want = eng.spark.sql(CTE).collect()
        assert want and [tuple(r) for r in a] == [tuple(r) for r in b] == [
            tuple(r) for r in want
        ]
        assert _fields(a) == _fields(b) == _fields(want)


def test_doors_answer_correctly_across_threads(eng, cat):
    """Four threads route distinct texts through one engine and distinct
    CTE texts through one catalog at once; each answer equals its serial
    answer (no answer travels through shared per-engine or per-catalog
    state)."""
    import threading

    def texts(i):
        end = f"2024-01-{11 + i} 00:00:00"
        return [t.replace(B, end) for t in ROUTED if B in t], CTE.replace(B, end)

    serial = {}
    for i in range(4):
        sqls, cte = texts(i)
        for sql in sqls:
            serial[sql] = [tuple(r) for r in eng.sql_rows(sql)]
            assert eng.last_route.rewritten
        serial[cte] = [tuple(r) for r in cat.sql_rows(cte)]
        assert cat.last_route.detail["evaluated"] == "driver"
    eng._route_memo.clear()
    start = threading.Barrier(4)
    got, errors = [], []

    def work(i):
        sqls, cte = texts(i)
        try:
            start.wait()
            for _ in range(3):
                for sql in sqls:
                    got.append((sql, [tuple(r) for r in eng.sql_rows(sql)]))
                    got.append((sql, [tuple(r) for r in eng.routed_answer(sql)[2]]))
                got.append((cte, [tuple(r) for r in cat.sql_rows(cte)]))
        except Exception as e:  # surfaced below, with the thread's text
            errors.append((i, e))

    threads = [threading.Thread(target=work, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert len(got) == 4 * 3 * (2 * len(texts(0)[0]) + 1)
    for sql, rows in got:
        assert rows == serial[sql], sql


def test_pruned_sql_shares_one_empty_frame_with_zero_jobs(eng, spark):
    """A provably empty ``SELECT *`` answers from one empty frame of the
    engine's table: the schema of ``SELECT * ... WHERE FALSE``, no Spark
    job to collect it, and ``[]`` on the Row door without a JVM call."""
    pruned = [
        f"SELECT * FROM rows_events WHERE ts >= '{A}' AND ts < '{B}' AND value > {v}"
        for v in ("1000.0", "2000.0", "3000.0")
    ]
    sc = spark.sparkContext

    def jobs():
        return len(sc.statusTracker().getJobIdsForGroup(None) or [])

    df = eng.sql(pruned[0])
    assert eng.last_route.kind == "prune_minmax"
    ref = spark.sql("SELECT * FROM rows_events WHERE FALSE")
    assert df.dtypes == ref.dtypes
    assert df.schema == ref.schema
    assert eng.sql(pruned[1]) is df
    j0 = jobs()
    assert df.collect() == []
    assert jobs() == j0
    assert eng.sql_rows(pruned[2]) == []
    assert eng.last_route.kind == "prune_minmax"
    assert jobs() == j0


@pytest.mark.parametrize(
    "sql",
    [
        # a bound past the column's max: with ٣٠٠٠ read as 3000 the text
        # would prune instead of failing as Spark does
        f"SELECT * FROM rows_events WHERE ts >= '{A}' AND ts < '{B}' AND value > ٣٠٠٠",
        f"SELECT COUNT(*) AS c FROM rows_events WHERE ts >= '{A}' AND ts < '{B}' "
        "AND value > ٣٠",
        f"SELECT date_trunc('day', ts) AS b, COUNT(*) AS n FROM rows_events "
        f"WHERE ts >= '{A}' AND ts < '{B}' GROUP BY date_trunc('day', ts) "
        "ORDER BY b LIMIT ٣",
    ],
    ids=["prune", "value", "limit"],
)
def test_unicode_digits_delegate_to_spark_error(eng, sql):
    """Spark's lexer reads ASCII digits only: a number written in other
    Unicode digits is a syntax error there, so the text must delegate
    and raise that error, not route."""

    def condition(call):
        with pytest.raises(Exception) as info:
            call()
        return info.value.getCondition()

    want = condition(lambda: eng.spark.sql(sql).collect())
    assert want == "PARSE_SYNTAX_ERROR"
    assert condition(lambda: eng.sql_rows(sql)) == want
    assert eng.last_route.kind == "delegate"
    assert condition(lambda: eng.sql(sql).collect()) == want
    assert eng.last_route.kind == "delegate"


def _outcome(call):
    """``("rows", row tuples)`` or ``("error", Spark error condition or
    exception type)`` of one ask."""
    try:
        return "rows", [tuple(r) for r in call()]
    except Exception as e:  # noqa: BLE001 — the outcome IS the exception
        return "error", getattr(e, "getCondition", lambda: type(e).__name__)()


@pytest.mark.parametrize("lit", ["٢٠٢٤-01-03", "2024-13-45"], ids=["unicode", "month13"])
def test_date_shaped_non_dates_delegate(eng, lit):
    """A literal shaped like a date that names no calendar date is no time
    bound: the text delegates and answers exactly as Spark does, instead
    of escaping the engine as a ``ValueError``."""
    sql = f"SELECT COUNT(*) AS c FROM rows_events WHERE ts >= '{lit}' AND ts < '{B}'"
    want = _outcome(lambda: eng.spark.sql(sql).collect())
    assert _outcome(lambda: eng.sql_rows(sql)) == want
    assert eng.last_route.kind == "delegate"
    assert _outcome(lambda: eng.sql(sql).collect()) == want
    assert eng.last_route.kind == "delegate"

"""Parser robustness: arbitrary input must either parse or raise ParseError —
never any other exception (the engine maps ParseError to delegation, so any
other escape would crash `engine.sql`). Pure-parser fuzz, no Spark session."""

from __future__ import annotations

import random

import pytest

from datafusion_uwheel_spark.engine import ParseMemo
from datafusion_uwheel_spark.plans.sqlparse import ParseError, _tokenize, parse_select

SEEDS = [
    "SELECT COUNT(*) AS n FROM t WHERE ts >= '2024-01-01 00:00:00' AND ts < '2024-01-02 00:00:00'",
    "SELECT date_trunc('hour', ts) AS b, SUM(v) AS s FROM t GROUP BY date_trunc('hour', ts) "
    "HAVING SUM(v) > 3 ORDER BY b DESC LIMIT 5",
    "SELECT AVG(v) AS a FROM t WHERE (ts >= '2024-01-01' AND ts <= '2024-01-02') OR "
    "(ts > '2024-02-01' AND ts < '2024-02-02')",
    "SELECT * FROM t WHERE ts BETWEEN '2024-01-01' AND '2024-01-02' AND v > 5.5",
    "SELECT MIN(v) AS mn, MAX(v) AS mx, STDDEV(v) AS sd FROM t WHERE ts = '2024-01-01 12:00:00'",
]

TOKENS = [
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "AND", "OR", "BETWEEN", "AS", "DESC", "ASC", "COUNT", "SUM", "AVG",
    "date_trunc", "(", ")", ",", "*", ".", "'a'", "'2024-01-01'", "ts", "v",
    "t", "5", "5.5", ">=", "<", "<=", ">", "=", "!=", "<>", "''", "CAST",
    "TIMESTAMP", "0x", ";", "--", "🦉", "1e3", "-1", "1.5e-2", "٣٠", "+", "-",
]


#: Shared across the fuzz tests, so mutated texts also bind into the
#: templates of shapes seen before.
_MEMO = ParseMemo()


def _try(sql: str) -> None:
    try:
        want = parse_select(sql)
    except ParseError:
        want = ParseError  # delegation path — fine
    # any other exception propagates and fails the test
    try:
        got = parse_select(sql, _MEMO)
    except ParseError:
        got = ParseError
    assert got == want and repr(got) == repr(want)


def test_seed_queries_parse():
    for s in SEEDS:
        parse_select(s)


#: Token (kind, value) lists of SEEDS, as the per-token-regex tokenizer
#: produced them — the one-pass tokenizer must reproduce them exactly.
SEED_TOKENS = [
    [("ident", "SELECT"), ("ident", "COUNT"), ("punct", "("), ("punct", "*"),
     ("punct", ")"), ("ident", "AS"), ("ident", "n"), ("ident", "FROM"),
     ("ident", "t"), ("ident", "WHERE"), ("ident", "ts"), ("op", ">="),
     ("string", "2024-01-01 00:00:00"), ("ident", "AND"), ("ident", "ts"),
     ("op", "<"), ("string", "2024-01-02 00:00:00")],
    [("ident", "SELECT"), ("ident", "date_trunc"), ("punct", "("),
     ("string", "hour"), ("punct", ","), ("ident", "ts"), ("punct", ")"),
     ("ident", "AS"), ("ident", "b"), ("punct", ","), ("ident", "SUM"),
     ("punct", "("), ("ident", "v"), ("punct", ")"), ("ident", "AS"),
     ("ident", "s"), ("ident", "FROM"), ("ident", "t"), ("ident", "GROUP"),
     ("ident", "BY"), ("ident", "date_trunc"), ("punct", "("),
     ("string", "hour"), ("punct", ","), ("ident", "ts"), ("punct", ")"),
     ("ident", "HAVING"), ("ident", "SUM"), ("punct", "("), ("ident", "v"),
     ("punct", ")"), ("op", ">"), ("number", "3"), ("ident", "ORDER"),
     ("ident", "BY"), ("ident", "b"), ("ident", "DESC"), ("ident", "LIMIT"),
     ("number", "5")],
    [("ident", "SELECT"), ("ident", "AVG"), ("punct", "("), ("ident", "v"),
     ("punct", ")"), ("ident", "AS"), ("ident", "a"), ("ident", "FROM"),
     ("ident", "t"), ("ident", "WHERE"), ("punct", "("), ("ident", "ts"),
     ("op", ">="), ("string", "2024-01-01"), ("ident", "AND"), ("ident", "ts"),
     ("op", "<="), ("string", "2024-01-02"), ("punct", ")"), ("ident", "OR"),
     ("punct", "("), ("ident", "ts"), ("op", ">"), ("string", "2024-02-01"),
     ("ident", "AND"), ("ident", "ts"), ("op", "<"), ("string", "2024-02-02"),
     ("punct", ")")],
    [("ident", "SELECT"), ("punct", "*"), ("ident", "FROM"), ("ident", "t"),
     ("ident", "WHERE"), ("ident", "ts"), ("ident", "BETWEEN"),
     ("string", "2024-01-01"), ("ident", "AND"), ("string", "2024-01-02"),
     ("ident", "AND"), ("ident", "v"), ("op", ">"), ("number", "5.5")],
    [("ident", "SELECT"), ("ident", "MIN"), ("punct", "("), ("ident", "v"),
     ("punct", ")"), ("ident", "AS"), ("ident", "mn"), ("punct", ","),
     ("ident", "MAX"), ("punct", "("), ("ident", "v"), ("punct", ")"),
     ("ident", "AS"), ("ident", "mx"), ("punct", ","), ("ident", "STDDEV"),
     ("punct", "("), ("ident", "v"), ("punct", ")"), ("ident", "AS"),
     ("ident", "sd"), ("ident", "FROM"), ("ident", "t"), ("ident", "WHERE"),
     ("ident", "ts"), ("op", "="), ("string", "2024-01-01 12:00:00")],
]


def test_tokenizer_pins_kinds_values_and_rejects():
    """The one-pass tokenizer: seed tokens as recorded, ``''`` escapes
    round-trip, and any character outside the grammar raises ParseError
    (the engine then delegates the text to Spark untouched)."""
    for sql, want in zip(SEEDS, SEED_TOKENS):
        assert [(t.kind, t.value) for t in _tokenize(sql)] == want
    toks = _tokenize("SELECT 'it''s', '''', '', 'a''''b' ;;")
    assert [t.value for t in toks if t.kind == "string"] == ["it's", "'", "", "a''b"]
    q = parse_select(
        "SELECT COUNT(*) AS n FROM t WHERE k = 'O''Brien' AND "
        "ts >= '2024-01-01' AND ts < '2024-01-02'"
    )
    assert [c.value for c in q.conjuncts if c.column == "k"] == ["O'Brien"]
    for bad in (
        'SELECT COUNT(*) AS "n" FROM t',
        "SELECT COUNT(*) AS n FROM `t`",
        "SELECT COUNT(*) AS n FROM t; DROP TABLE t",
        "SELECT COUNT(*) AS n FROM t WHERE k = 'open",
        "SELECT COUNT(*) AS n FROM t WHERE v % 2 = 0",
    ):
        with pytest.raises(ParseError, match="unrecognized token"):
            parse_select(bad)


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT SUM(v) - 1 AS s FROM t WHERE ts >= '2024-01-01' AND ts < '2024-01-02'",
        "SELECT SUM(v) + 1 AS s FROM t",
        "SELECT COUNT(*) AS n FROM t WHERE v > 1 + 2",
        "SELECT COUNT(*) AS n FROM t WHERE v > - 2",
        "SELECT COUNT(*) AS n FROM t WHERE ts >= '2024-01-01' - INTERVAL 1 DAY",
        "SELECT date_trunc('hour', ts) AS b, SUM(v) AS s FROM t "
        "GROUP BY date_trunc('hour', ts) HAVING SUM(v) > 3 - 1",
        "SELECT COUNT(*) AS n FROM t LIMIT 5 + 1",
        "SELECT COUNT(*) AS n FROM t LIMIT +5",
    ],
)
def test_bare_plus_minus_still_delegate(sql):
    """``+`` and ``-`` lex as punctuation (the CTE outer grammar's interval
    arithmetic uses them); the SELECT grammar accepts neither, so a text
    with a bare operator still raises ParseError — plain and through the
    parse memo — and the engine delegates it. A signed number stays one
    token."""
    assert ("punct", "-") in [tuple(t) for t in _tokenize("a - 1")]
    assert [tuple(t) for t in _tokenize("a -1")] == [("ident", "a"), ("number", "-1")]
    with pytest.raises(ParseError):
        parse_select(sql)
    memo = ParseMemo()
    for _ in range(3):  # first sighting, prepare, then the memoized error
        with pytest.raises(ParseError):
            memo.parse(sql)


def test_random_token_soup_never_crashes():
    rng = random.Random(99)
    for _ in range(3000):
        sql = " ".join(rng.choice(TOKENS) for _ in range(rng.randrange(0, 25)))
        _try(sql)


def test_mutated_seeds_never_crash():
    rng = random.Random(7)
    for _ in range(3000):
        s = list(rng.choice(SEEDS))
        for _ in range(rng.randrange(1, 6)):
            op = rng.randrange(4)
            i = rng.randrange(len(s)) if s else 0
            if op == 0 and s:
                del s[i]
            elif op == 1:
                s.insert(i, rng.choice("()'\",*<>=; abc123"))
            elif op == 2:
                s.insert(i, f" {rng.choice(TOKENS)} ")
            elif s:
                s[i] = rng.choice("()'\",*<>=; abc123")
        _try("".join(s))


def test_pathological_shapes():
    cases = [
        "",
        "SELECT",
        "SELECT FROM",
        "SELECT COUNT(* FROM t",
        "SELECT COUNT(*) FROM t WHERE",
        "SELECT COUNT(*) FROM t WHERE ts >=",
        "SELECT COUNT(*) FROM t WHERE (ts >= '2024-01-01'",
        "SELECT COUNT(*) FROM t WHERE () OR ()",
        "SELECT COUNT(*) FROM t GROUP BY",
        "SELECT COUNT(*) FROM t ORDER BY",
        "SELECT COUNT(*) FROM t LIMIT",
        "SELECT COUNT(*) FROM t LIMIT 1.5",
        "SELECT COUNT(*) FROM t LIMIT -1",
        "SELECT COUNT(*) FROM t LIMIT 1e3",
        "SELECT COUNT(*) FROM t LIMIT 2147483648",
        "SELECT COUNT(*) FROM t HAVING",
        "(((((((((",
        "SELECT COUNT(*) FROM t WHERE ts BETWEEN",
        "SELECT '" + "x" * 10000 + "' FROM t",
        "SELECT COUNT(*) FROM t WHERE " + "(" * 500,
    ]
    for c in cases:
        with pytest.raises(ParseError):
            parse_select(c)


# ------------------------------------------------------------- WITH splitter
def test_with_split_round_trips():
    from datafusion_uwheel_spark.plans.sqlparse import split_with_ctes

    rng = random.Random(31)
    bodies = [
        "SELECT 1 AS x",
        "SELECT a, b FROM t WHERE s = 'it''s (tricky)'",
        "SELECT * FROM u WHERE x IN (1, (2), ((3)))",
        'SELECT "we(ird)" FROM `ta(ble)` WHERE y > 0',
        "SELECT fn(a, fn(b, fn(c)))",
    ]
    for _ in range(500):
        n = rng.randrange(1, 5)
        names = [f"c{i}" for i in range(n)]
        cte_bodies = [rng.choice(bodies) for _ in range(n)]
        parts = ", ".join(f"{nm} AS ({b})" for nm, b in zip(names, cte_bodies))
        main = f"SELECT * FROM {' JOIN '.join(names)}"
        got_ctes, got_main = split_with_ctes(f"WITH {parts} {main}")
        assert [n_ for n_, _ in got_ctes] == names
        assert [b for _, b in got_ctes] == cte_bodies
        assert got_main == main


def test_with_split_fuzz_never_crashes():
    from datafusion_uwheel_spark.plans.sqlparse import split_with_ctes

    rng = random.Random(17)
    toks = ["WITH", "AS", "(", ")", ",", "SELECT", "x", "'a'", "''", '"q"',
            "`b`", "RECURSIVE", "(SELECT 1)", "--", "/*", ";"]
    for _ in range(3000):
        sql = " ".join(rng.choice(toks) for _ in range(rng.randrange(0, 20)))
        try:
            ctes, main = split_with_ctes(sql)
            assert ctes and main  # on success the parts are non-empty
        except ParseError:
            pass

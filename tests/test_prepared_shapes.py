"""Prepared query shapes: a text whose literal-stripped shape is known is
served by binding its literals into the shape's template, and must equal
the plain parse field for field (or both raise ``ParseError``). The engine
half checks that routing a bound parse answers exactly like routing a
plain one: same names, types, values, order and route kind."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from datafusion_uwheel_spark import WheelEngine
from datafusion_uwheel_spark.engine import ParseMemo
from datafusion_uwheel_spark.plans import sqlparse
from datafusion_uwheel_spark.plans.sqlparse import ParseError, parse_select, prepare, split_shape

T0 = datetime(2024, 1, 1)


def _quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


@st.composite
def timestamps(draw, lo_day=-2, hi_day=33):
    """Quoted timestamps around the test data's January: day-aligned,
    hour-aligned or unaligned, sometimes outside any index's coverage."""
    day = draw(st.integers(lo_day, hi_day))
    align = draw(st.sampled_from(("day", "hour", "second")))
    t = T0 + timedelta(days=day)
    if align != "day":
        t += timedelta(hours=draw(st.integers(0, 23)))
    if align == "second":
        t += timedelta(seconds=draw(st.integers(1, 3599)))
    fmt = "%Y-%m-%d" if align == "day" and draw(st.booleans()) else "%Y-%m-%d %H:%M:%S"
    return _quote(t.strftime(fmt))


numbers = st.one_of(
    st.integers(-10**6, 10**6).map(str),
    st.floats(-1e6, 1e6, allow_nan=False).map(lambda x: f"{abs(x):.3f}"),
    st.sampled_from(("1e3", "-1", "1.5e-2", "0", "5", "-3", "1e2", "2.5")),
)
strings = st.one_of(
    st.sampled_from(("click", "view", "", "it's", "a''b", "1e2", "x1")),
    st.text(alphabet="abc' -", max_size=6),
).map(_quote)
units = st.sampled_from(("'hour'", "'day'", "'HOUR'", "'week'", "'month'", "''"))
intervals = st.sampled_from(("'1 hour'", "'2 hours'", "'1 day'", "'30 minutes'", "'0 hours'"))
limits = st.sampled_from(("5", "0", "100", "-1", "1e3", "1.5", "2147483648"))

#: (shape with ``{}`` holes, one strategy per hole)
SHAPES = [
    ("SELECT COUNT(*) AS n FROM t WHERE ts >= {} AND ts < {}", (timestamps(), timestamps())),
    (
        "SELECT date_trunc({}, ts) AS h, COUNT(*) AS n, SUM(v) AS s FROM t "
        "WHERE ts >= {} AND ts < {} GROUP BY date_trunc({}, ts) "
        "HAVING SUM(v) > {} ORDER BY h LIMIT {}",
        (units, timestamps(), timestamps(), units, numbers, limits),
    ),
    (
        "SELECT SUM(v) AS s FROM t WHERE ts BETWEEN {} AND {} AND k = {}",
        (timestamps(), timestamps(), strings),
    ),
    (
        "SELECT COUNT(*) AS n FROM t WHERE k IN ({}, {}) AND v > {} AND v <= {}",
        (strings, strings, numbers, numbers),
    ),
    (
        "SELECT AVG(v) AS a FROM t WHERE (ts >= {} AND ts < {}) OR (ts > {} AND ts <= {})",
        (timestamps(), timestamps(), timestamps(), timestamps()),
    ),
    (
        "SELECT window(ts, {}).start AS w, COUNT(*) AS n FROM t WHERE ts >= {} "
        "GROUP BY window(ts, {})",
        (intervals, timestamps(), intervals),
    ),
    (
        "SELECT MIN(v) AS m FROM t WHERE ts >= TIMESTAMP {} AND ts < CAST({} AS TIMESTAMP) "
        "AND v <= CAST({} AS DOUBLE) AND k != CAST({} AS STRING)",
        (timestamps(), st.one_of(timestamps(), numbers), numbers, strings),
    ),
    (
        "SELECT percentile_approx(v, {}) AS p FROM t WHERE ts >= {} AND v = {}",
        (numbers, timestamps(), st.one_of(numbers, strings)),
    ),
]


@st.composite
def shaped_texts(draw):
    shape, holes = draw(st.sampled_from(SHAPES))
    return shape.format(*(draw(h) for h in holes))


def _parse_or_error(parse, text):
    try:
        return parse(text)
    except ParseError:
        return ParseError


#: One memo for the whole property run: shapes repeat across examples, so
#: most texts are served by a bound template.
_MEMO = ParseMemo()


@settings(max_examples=600, deadline=None)
@given(st.lists(shaped_texts(), min_size=1, max_size=6))
def test_prepared_parse_equals_plain_parse(texts):
    for text in texts:
        want = _parse_or_error(parse_select, text)
        got = _parse_or_error(_MEMO.parse, text)
        assert got == want
        assert repr(got) == repr(want)  # value types too (5.0 vs '5')


@settings(max_examples=300, deadline=None)
@given(shaped_texts(), shaped_texts())
def test_bind_equals_parse_or_refuses(first, second):
    """A template from one text binds another text of the same shape to
    exactly its plain parse, or refuses (a fixed literal differs)."""
    key, lits = split_shape(first)
    try:
        _, tmpl = prepare(first, lits)
    except ParseError:
        return
    key2, lits2 = split_shape(second)
    if tmpl is None or key2 != key:
        return
    bound = tmpl.bind(lits2)
    if bound is not None:
        assert bound == parse_select(second)
        assert repr(bound) == repr(parse_select(second))


def test_structural_literals_are_fixed():
    """The date_trunc unit, window interval, percentile, HAVING number and
    LIMIT must recur verbatim; only WHERE values are bound."""
    text = (
        "SELECT date_trunc('hour', ts) AS h, percentile_approx(v, 0.5) AS p FROM t "
        "WHERE ts >= '2024-01-01' AND k IN ('a', 'b') GROUP BY date_trunc('hour', ts) "
        "HAVING COUNT(*) > 3 LIMIT 7"
    )
    _, lits = split_shape(text)
    _, tmpl = prepare(text, lits)
    assert [lits[i] for i, _ in tmpl.fixed] == ["'hour'", "0.5", "'hour'", "3", "7"]
    day = text.replace("'hour'", "'day'")
    assert split_shape(day)[0] == split_shape(text)[0]
    assert tmpl.bind(split_shape(day)[1]) is None  # refused: parse in full
    moved = text.replace("'2024-01-01'", "'2024-01-09 10:00:01'").replace("'b'", "'it''s'")
    assert tmpl.bind(split_shape(moved)[1]) == parse_select(moved)


def test_split_that_disagrees_with_tokens_never_binds():
    # after an identifier character the split leaves the '-' in the
    # shape, but the tokenizer reads one '-5' token
    text = "SELECT COUNT(*) AS n FROM t WHERE v BETWEEN-5 AND 3"
    _, lits = split_shape(text)
    assert lits == ["5", "3"]
    q, tmpl = prepare(text, lits)
    assert q.conjuncts[0].value == -5.0
    assert tmpl is None
    memo = ParseMemo()
    for _ in range(3):
        assert memo.parse(text) == parse_select(text)
    for text in ("SELECT COUNT(*) AS n FROM t WHERE v > 1.2.3", "SELECT 1x"):
        with pytest.raises(ParseError):
            memo.parse(text)


def test_split_keeps_identifier_digits_in_the_shape():
    key, lits = split_shape("SELECT SUM(x1) AS s2 FROM t3 WHERE x1 > 5 AND y = 'a''b'")
    assert lits == ["5", "'a''b'"]
    assert key[1] == "ns"
    assert "x1" in key[0] and "t3" in key[0]


def test_memo_tokenizes_a_shape_twice_then_binds(monkeypatch):
    calls = []
    real = sqlparse._tokenize
    monkeypatch.setattr(sqlparse, "_tokenize", lambda s: calls.append(s) or real(s))
    memo = ParseMemo()
    texts = [
        f"SELECT COUNT(*) AS n FROM t WHERE ts >= '2024-01-0{d}' AND ts < '2024-01-09'"
        for d in range(1, 6)
    ]
    for text in texts:
        assert memo.parse(text) == parse_select(text)
    # every plain parse_select above tokenizes once; the memo only for the
    # first sighting (plain parse) and the second (prepare)
    assert len(calls) == len(texts) + 2


# ------------------------------------------------------------ engine half
TABLE = "prep_events"


@pytest.fixture(scope="module")
def eng(spark, sf_small_dir):
    e = WheelEngine(
        spark, TABLE, f"{sf_small_dir}/events.parquet",
        time_column="ts", min_max_columns=("value",),
        # restricted: ranges outside it delegate instead of routing
        time_range=(
            datetime(2024, 1, 2, tzinfo=timezone.utc),
            datetime(2024, 1, 29, tzinfo=timezone.utc),
        ),
    )
    e.build_index("value")
    e.build_index("value", filter="event_type = 'click'")
    e.build_partitioned_index("value", partition_by="event_type")
    return e


ENGINE_SHAPES = [
    (f"SELECT COUNT(*) AS n FROM {TABLE} WHERE ts >= {{}} AND ts < {{}}", 2),
    (
        f"SELECT SUM(value) AS s, COUNT(*) AS n FROM {TABLE} WHERE ts >= {{}} AND ts < {{}} "
        "AND event_type = {}",
        3,
    ),
    (
        f"SELECT date_trunc({{}}, ts) AS b, COUNT(*) AS n, SUM(value) AS s FROM {TABLE} "
        "WHERE ts >= {} AND ts < {} GROUP BY date_trunc({}, ts) ORDER BY b",
        4,
    ),
    (f"SELECT COUNT(*) AS n, MAX(value) AS m FROM {TABLE} WHERE ts BETWEEN {{}} AND {{}}", 2),
    (
        f"SELECT date_trunc('day', ts) AS d, event_type, COUNT(*) AS n FROM {TABLE} "
        "WHERE ts >= {} AND ts < {} GROUP BY date_trunc('day', ts), event_type "
        "ORDER BY d, event_type LIMIT {}",
        3,
    ),
]


@st.composite
def engine_texts(draw):
    i = draw(st.integers(0, len(ENGINE_SHAPES) - 1))
    shape, _ = ENGINE_SHAPES[i]
    ts = timestamps(lo_day=-1, hi_day=31)
    if i == 0 or i == 3:
        return shape.format(draw(ts), draw(ts))
    if i == 1:
        et = draw(st.sampled_from(("'click'", "'view'", "'purchase'", "'nope'")))
        return shape.format(draw(ts), draw(ts), et)
    if i == 2:
        unit = draw(st.sampled_from(("'hour'", "'day'", "'week'", "'month'")))
        return shape.format(unit, draw(ts), draw(ts), unit)
    return shape.format(draw(ts), draw(ts), draw(st.sampled_from(("3", "10", "1e3", "-1"))))


def _answer(eng, text):
    """(route kind, names/types/rows of a routed answer or None), asked
    with empty answer memos so the text is parsed and routed."""
    eng._route_cache.clear()
    eng._rows_cache.clear()
    eng._answer_cache.clear()
    return eng.routed_answer(text), eng.last_route.kind


@settings(
    max_examples=80,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(engine_texts(), min_size=1, max_size=4))
def test_warm_and_cold_engine_agree(eng, texts):
    """Warm: the engine's own memo, where each shape is prepared. Cold: an
    empty memo per text, so every text gets a plain parse. Both must route
    to the same kind and the same names, types, values and order —
    including literals that flip the route (unaligned bounds → hybrid,
    outside the indexed span → delegate, 'hour' → 'day' → 'month')."""
    warm_memo = eng._parse_memo
    for text in texts:
        try:
            eng._parse_memo = ParseMemo()
            cold = _answer(eng, text)
        finally:
            eng._parse_memo = warm_memo
        warm = _answer(eng, text)
        assert warm == cold

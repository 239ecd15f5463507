"""Driver-side evaluation of a routed-CTE ``WITH`` query's outer SELECT.

When every CTE of a ``WITH`` query routes, each answer is already a
driver-resident row list (the router's capture channel) and the remaining
work is a relational expression over a handful of tiny constant relations.
The r14 splice still handed that expression to Spark: three tiny jobs
(scalar subquery, broadcast build, final collect) whose fixed scheduling
cost dominates the answer by orders of magnitude — the bench's routed
``uw_cte_join`` row measured 0.93 s against its own splice floor of 1.20 s
and vanilla's 1.05 s on the driver's box, a 1.13× margin for the one
"wheel-accelerated" family with no decisive win (r14 verdict #1). This
module evaluates a NARROW outer-query grammar in pure Python over the
routed answers — the same thesis as the router's constant answers,
extended to the one multi-table shape the CTE splicer creates — and
returns ``None`` for anything it does not recognize, so the caller falls
back to the Spark splice and coverage is never lost, only the job floor.

Soundness discipline (mirrors ``sqlparse``): every construct the grammar
accepts is evaluated with Spark's exact semantics —

* µs-exact TIMESTAMP ± day-time INTERVAL arithmetic (UTC session, no DST);
* AVG/SUM over a LocalRelation accumulate doubles in row order, exactly
  the single-partition left-fold Spark's ``Average``/``Sum`` perform;
* BIGINT-vs-DOUBLE comparisons coerce the integer side to double, like
  Catalyst's type coercion (Python's exact int/float compare would differ
  past 2^53);
* ASC sorts NULLS FIRST, DESC sorts NULLS LAST (Spark defaults); explicit
  NULLS FIRST/LAST never parses (token left over → fallback);
* a JOIN result is only returned when the ORDER BY key tuples are UNIQUE —
  otherwise Spark's tie order is not deterministic and the splice decides.

Calendar intervals (MONTH/YEAR), expressions in the select list, outer
joins, more than two relations, GROUP BY/HAVING/LIMIT, and any token the
grammar does not consume all fall back.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

__all__ = ["parse_outer", "evaluate_outer"]

# Local tokenizer: sqlparse's regex without ``+``/``-`` punctuation cannot
# lex ``cur.bucket - INTERVAL 1 DAY`` (a bare ``-`` is only ever part of a
# numeric literal there). Number wins over punct at a ``-digit`` run, so
# ``- 1`` lexes as (punct -, number 1) and ``-1`` as number -1 — both
# shapes the grammar below treats identically (signed literals never
# appear after the operators we accept).
_TOKEN_RE = re.compile(
    r"""
    \s*(?:
        (?P<string>'(?:[^']|'')*')
      | (?P<number>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<ident>[A-Za-z_][A-Za-z_0-9]*)
      | (?P<op><=|>=|<>|!=|=|<|>)
      | (?P<punct>[(),.*+\-])
    )
    """,
    re.VERBOSE | re.ASCII,
)

#: Day-time interval units (exact second widths — a TIMESTAMP plus any of
#: these is exact µs arithmetic in the UTC-pinned session). MONTH/YEAR are
#: calendar intervals and never parse here.
_INTERVAL_SECS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}

_INTEGRAL = {"BIGINT", "INT", "SMALLINT", "TINYINT"}
_FLOATING = {"DOUBLE", "FLOAT"}
_ORDERABLE = _INTEGRAL | _FLOATING | {"TIMESTAMP", "STRING"}

_CMP_OPS = {"=", "!=", "<>", "<", "<=", ">", ">="}

_SUB_FUNCS = {"avg", "sum", "min", "max", "count"}

_INT64_MIN, _INT64_MAX = -(2**63), 2**63 - 1


@dataclass(frozen=True)
class QRef:
    """``rel.col`` — ``rel`` may be ``None`` for a bare identifier (only
    admitted in the single-relation form, where it is unambiguous)."""

    rel: str | None
    col: str


@dataclass(frozen=True)
class KeyExpr:
    """One side of the equi-join condition: a column plus an optional
    exact day-time interval offset in µs (0 = plain equality)."""

    ref: QRef
    offset_us: int


@dataclass(frozen=True)
class ScalarSub:
    """``(SELECT func(col) FROM rel)`` — ``col is None`` = ``COUNT(*)``."""

    func: str
    col: str | None
    rel: str


@dataclass(frozen=True)
class WhereCmp:
    left: QRef
    op: str
    right: object  # ScalarSub | int | float


@dataclass(frozen=True)
class OrderKey:
    ref: QRef
    desc: bool


@dataclass(frozen=True)
class OuterSpec:
    select: tuple  # ((QRef, out_name), ...)
    left: tuple  # (cte_name, alias)
    right: tuple | None  # (cte_name, alias) | None for single-relation
    on: tuple | None  # (KeyExpr, KeyExpr) | None
    where: tuple  # (WhereCmp, ...)
    order: tuple  # (OrderKey, ...)


class _Fallback(Exception):
    """Internal: shape outside the supported subset — caller splices."""


class _Cursor:
    def __init__(self, sql: str):
        self.toks = []
        pos = 0
        s = sql.strip().rstrip(";")
        while pos < len(s):
            m = _TOKEN_RE.match(s, pos)
            if not m or m.end() == pos:
                if s[pos:].strip() == "":
                    break
                raise _Fallback(f"unlexable: {s[pos:pos+20]!r}")
            pos = m.end()
            kind = m.lastgroup
            value = m.group(kind)
            if kind == "string":
                value = value[1:-1].replace("''", "'")
            self.toks.append((kind, value))
        self.i = 0

    def peek(self, ahead: int = 0):
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def accept_kw(self, *words: str) -> bool:
        """Consume the keyword sequence if present (case-insensitive)."""
        for k, w in enumerate(words):
            kind, val = self.peek(k)
            if kind != "ident" or val.lower() != w:
                return False
        self.i += len(words)
        return True

    def expect_kw(self, *words: str) -> None:
        if not self.accept_kw(*words):
            raise _Fallback(f"expected {' '.join(words).upper()}")

    def ident(self) -> str:
        kind, val = self.next()
        if kind != "ident":
            raise _Fallback(f"expected identifier, got {val!r}")
        return val

    def punct(self, ch: str) -> None:
        kind, val = self.next()
        if kind != "punct" or val != ch:
            raise _Fallback(f"expected {ch!r}")

    @property
    def done(self) -> bool:
        return self.i >= len(self.toks)


_KEYWORDS = {
    "select", "from", "join", "inner", "on", "where", "and", "order", "by",
    "as", "asc", "desc", "interval", "group", "having", "limit", "union",
    "left", "right", "full", "cross", "outer",
}


def _qref(cur: _Cursor, require_rel: bool) -> QRef:
    a = cur.ident()
    if a.lower() in _KEYWORDS:
        raise _Fallback(f"keyword where column expected: {a!r}")
    if cur.peek() == ("punct", "."):
        cur.next()
        b = cur.ident()
        return QRef(a, b)
    if require_rel:
        raise _Fallback(f"unqualified column {a!r} in join form")
    return QRef(None, a)


def _interval_us(cur: _Cursor) -> int:
    """``INTERVAL <n> <unit>`` / ``INTERVAL '<n>' <unit>`` → µs (>0)."""
    kind, val = cur.next()
    if kind == "number":
        if not re.fullmatch(r"\d+", val, re.ASCII):
            raise _Fallback(f"non-integer interval {val!r}")
        n = int(val)
    elif kind == "string":
        if not re.fullmatch(r"\d+", val.strip(), re.ASCII):
            raise _Fallback(f"unsupported interval literal {val!r}")
        n = int(val.strip())
    else:
        raise _Fallback("expected interval magnitude")
    unit = cur.ident().lower()
    u = unit[:-1] if unit.endswith("s") and len(unit) > 1 else unit
    if u not in _INTERVAL_SECS:
        raise _Fallback(f"unsupported interval unit {unit!r}")
    if n <= 0:
        raise _Fallback("non-positive interval")
    return n * _INTERVAL_SECS[u] * 1_000_000


def _keyexpr(cur: _Cursor) -> KeyExpr:
    ref = _qref(cur, require_rel=True)
    kind, val = cur.peek()
    if kind == "punct" and val in "+-":
        cur.next()
        cur.expect_kw("interval")
        us = _interval_us(cur)
        return KeyExpr(ref, us if val == "+" else -us)
    return KeyExpr(ref, 0)


def _rel(cur: _Cursor) -> tuple:
    name = cur.ident()
    if name.lower() in _KEYWORDS:
        raise _Fallback(f"keyword where relation expected: {name!r}")
    kind, val = cur.peek()
    alias = name
    if cur.accept_kw("as"):
        alias = cur.ident()
    elif kind == "ident" and val.lower() not in _KEYWORDS:
        alias = cur.ident()
    return (name, alias)


def _scalar_sub(cur: _Cursor) -> ScalarSub:
    cur.expect_kw("select")
    fn = cur.ident().lower()
    if fn not in _SUB_FUNCS:
        raise _Fallback(f"unsupported subquery aggregate {fn!r}")
    cur.punct("(")
    kind, val = cur.peek()
    if kind == "punct" and val == "*":
        if fn != "count":
            raise _Fallback(f"{fn}(*) unsupported")
        cur.next()
        col = None
    else:
        col = cur.ident()
    cur.punct(")")
    cur.expect_kw("from")
    rel = cur.ident()
    cur.punct(")")
    return ScalarSub(fn, col, rel)


def _where_rhs(cur: _Cursor):
    kind, val = cur.peek()
    if kind == "number":
        cur.next()
        return int(val) if re.fullmatch(r"-?\d+", val, re.ASCII) else float(val)
    if kind == "punct" and val == "(":
        cur.next()
        return _scalar_sub(cur)
    raise _Fallback("unsupported WHERE right-hand side")


from functools import lru_cache


@lru_cache(maxsize=256)
def parse_outer(main: str) -> OuterSpec | None:
    """Parse the main query of a spliced ``WITH`` into :class:`OuterSpec`,
    or ``None`` when it falls outside the supported subset (the caller
    then splices to Spark exactly as before). Never raises. Memoized —
    a parse is a pure function of the text (the spec is frozen), and the
    dashboard pattern repeats identical query strings."""
    try:
        return _parse(main)
    except _Fallback:
        return None
    except Exception:  # pragma: no cover - any parser bug must fall back
        return None


def _parse(main: str) -> OuterSpec:
    cur = _Cursor(main)
    cur.expect_kw("select")
    joined_form_probe = cur.i  # look ahead later for qualification rules
    # select list — parse items as (tokens) first; qualification is decided
    # by the FROM clause, so parse loosely then validate.
    items: list[tuple[QRef, str]] = []
    while True:
        ref = _qref(cur, require_rel=False)
        out = ref.col
        if cur.accept_kw("as"):
            out = cur.ident()
        items.append((ref, out))
        kind, val = cur.peek()
        if kind == "punct" and val == ",":
            cur.next()
            continue
        break
    cur.expect_kw("from")
    left = _rel(cur)
    right = None
    on = None
    if cur.accept_kw("inner", "join") or cur.accept_kw("join"):
        right = _rel(cur)
        cur.expect_kw("on")
        k1 = _keyexpr(cur)
        if cur.next() != ("op", "="):
            raise _Fallback("expected = in join condition")
        k2 = _keyexpr(cur)
        on = (k1, k2)
    where: list[WhereCmp] = []
    if cur.accept_kw("where"):
        while True:
            lref = _qref(cur, require_rel=right is not None)
            kind, op = cur.next()
            if kind != "op" or op not in _CMP_OPS:
                raise _Fallback(f"unsupported WHERE operator {op!r}")
            rhs = _where_rhs(cur)
            where.append(WhereCmp(lref, op, rhs))
            if not cur.accept_kw("and"):
                break
    order: list[OrderKey] = []
    if cur.accept_kw("order", "by"):
        while True:
            ref = _qref(cur, require_rel=False)
            desc = False
            if cur.accept_kw("desc"):
                desc = True
            else:
                cur.accept_kw("asc")
            order.append(OrderKey(ref, desc))
            kind, val = cur.peek()
            if kind == "punct" and val == ",":
                cur.next()
                continue
            break
    if not cur.done:
        raise _Fallback(f"trailing tokens at {cur.peek()!r}")
    if right is not None:
        # every select item must be qualified in the join form, and a join
        # without a total output order has nondeterministic row order —
        # require ORDER BY (uniqueness of the key is checked at eval time).
        if any(r.rel is None for r, _ in items) or not order:
            raise _Fallback("join form needs qualified selects and ORDER BY")
    del joined_form_probe
    return OuterSpec(
        tuple(items), left, right, on, tuple(where), tuple(order)
    )


# ---------------------------------------------------------------- evaluate
def _resolve(names: list[str], col: str) -> int:
    hits = [i for i, n in enumerate(names) if n.lower() == col.lower()]
    if len(hits) != 1:
        raise _Fallback(f"column {col!r} resolves to {len(hits)} candidates")
    return hits[0]


def _sub_value(sub: ScalarSub, data: dict) -> tuple[object, str]:
    """Evaluate a scalar subquery over a routed relation with Spark's
    single-partition fold semantics. Returns ``(value, sql_type)``."""
    if sub.rel not in data:
        raise _Fallback(f"subquery over unrouted relation {sub.rel!r}")
    names, types, rows = data[sub.rel]
    if sub.func == "count" and sub.col is None:
        return len(rows), "BIGINT"
    idx = _resolve(names, sub.col)
    t = types[idx]
    vals = [r[idx] for r in rows]
    if sub.func == "count":
        return sum(1 for v in vals if v is not None), "BIGINT"
    if t not in _ORDERABLE or t == "STRING":
        raise _Fallback(f"subquery {sub.func} over {t}")
    if sub.func in ("min", "max"):
        nn = [v for v in vals if v is not None]
        if not nn:
            return None, t
        return (min(nn) if sub.func == "min" else max(nn)), t
    if t == "TIMESTAMP":
        raise _Fallback("avg/sum over TIMESTAMP")
    if sub.func == "avg":
        # Spark Average over any numeric input: double sum accumulated in
        # row order (single partition = the LocalRelation's order), NULLs
        # skipped, NULL for an empty input.
        s, n = 0.0, 0
        for v in vals:
            if v is not None:
                s += float(v)
                n += 1
        return (s / n if n else None), "DOUBLE"
    # sum
    if t in _INTEGRAL:
        s, seen = 0, False
        for v in vals:
            if v is not None:
                s += int(v)
                seen = True
        if not seen:
            return None, "BIGINT"
        if not (_INT64_MIN <= s <= _INT64_MAX):
            # non-ANSI Spark wraps int64 here; the wheels never produce
            # such sums — refuse rather than replicate overflow.
            raise _Fallback("int64 overflow in subquery SUM")
        return s, "BIGINT"
    s, seen = 0.0, False
    for v in vals:
        if v is not None:
            s += float(v)
            seen = True
    return (s if seen else None), "DOUBLE"


def _cmp(v, tl: str, r, tr: str, op: str) -> bool:
    """Spark comparison semantics: NULL → not kept; mixed int/float
    coerces the integer side to double (Catalyst numeric promotion)."""
    if v is None or r is None:
        return False
    num_l, num_r = tl in _INTEGRAL | _FLOATING, tr in _INTEGRAL | _FLOATING
    if num_l and num_r:
        if tl in _FLOATING or tr in _FLOATING:
            v, r = float(v), float(r)
        else:
            v, r = int(v), int(r)
    elif tl == "TIMESTAMP" and tr == "TIMESTAMP":
        pass
    else:
        raise _Fallback(f"comparison between {tl} and {tr}")
    if op == "=":
        return v == r
    if op in ("!=", "<>"):
        return v != r
    if op == "<":
        return v < r
    if op == "<=":
        return v <= r
    if op == ">":
        return v > r
    return v >= r


def _key_value(v, t: str, offset_us: int):
    """Join-key value with the interval offset applied (µs-exact)."""
    if v is None:
        return None
    if offset_us:
        if t != "TIMESTAMP":
            raise _Fallback("interval offset on a non-TIMESTAMP key")
        from datetime import timedelta

        return v + timedelta(microseconds=offset_us)
    return v


def evaluate_outer(spec: OuterSpec, data: dict) -> tuple | None:
    """Evaluate a parsed outer query over ``{cte_name: (names, sql_types,
    rows)}``. Returns ``(names, sql_types, rows)`` for the final answer or
    ``None`` when evaluation must fall back (unknown relation, ambiguous
    column, unsupported type pairing, non-unique ORDER BY keys...). Rows
    are plain tuples in the exact order Spark would collect."""
    try:
        return _evaluate(spec, data)
    except _Fallback:
        return None
    except Exception:  # pragma: no cover - any evaluator bug must fall back
        return None


def _evaluate(spec: OuterSpec, data: dict) -> tuple:
    lname, lalias = spec.left
    if lname not in data:
        raise _Fallback(f"unrouted relation {lname!r}")
    rels = {lalias.lower(): data[lname]}
    if spec.right is not None:
        rname, ralias = spec.right
        if rname not in data:
            raise _Fallback(f"unrouted relation {rname!r}")
        if ralias.lower() == lalias.lower():
            raise _Fallback("duplicate relation alias")
        rels[ralias.lower()] = data[rname]

    def field(ref: QRef) -> tuple[str, int, str]:
        """→ (rel_alias, col_index, sql_type); bare refs resolve across
        all relations and must be unambiguous."""
        if ref.rel is not None:
            key = ref.rel.lower()
            if key not in rels:
                raise _Fallback(f"unknown relation {ref.rel!r}")
            names, types, _ = rels[key]
            i = _resolve(names, ref.col)
            return key, i, types[i]
        hits = []
        for key, (names, types, _) in rels.items():
            js = [j for j, n in enumerate(names) if n.lower() == ref.col.lower()]
            hits += [(key, j, types[j]) for j in js]
        if len(hits) != 1:
            raise _Fallback(f"bare column {ref.col!r} is ambiguous")
        return hits[0]

    # ------------------------------------------------------- joined rows
    if spec.right is None:
        combined = [{lalias.lower(): row} for row in data[lname][2]]
    else:
        k1, k2 = spec.on
        s1 = field(k1.ref)
        s2 = field(k2.ref)
        la, ra = lalias.lower(), spec.right[1].lower()
        if {s1[0], s2[0]} != {la, ra}:
            raise _Fallback("join condition must reference both sides")
        lk, rk = (k1, k2) if s1[0] == la else (k2, k1)
        lf, rf = (s1, s2) if s1[0] == la else (s2, s1)
        if lf[2] != rf[2] and not (
            lf[2] in _INTEGRAL and rf[2] in _INTEGRAL
        ):
            raise _Fallback(f"join key types {lf[2]} vs {rf[2]}")
        lrows, rrows = data[lname][2], data[spec.right[0]][2]
        table: dict = {}
        for row in rrows:
            kv = _key_value(row[rf[1]], rf[2], rk.offset_us)
            if kv is not None:
                table.setdefault(kv, []).append(row)
        combined = []
        for row in lrows:
            kv = _key_value(row[lf[1]], lf[2], lk.offset_us)
            if kv is None:
                continue
            for rrow in table.get(kv, ()):
                combined.append({la: row, ra: rrow})

    # ------------------------------------------------------------- where
    for w in spec.where:
        rel, idx, t = field(w.left)
        if isinstance(w.right, ScalarSub):
            rv, rt = _sub_value(w.right, data)
        elif isinstance(w.right, bool):  # guard: bools are ints in Python
            raise _Fallback("boolean literal")
        elif isinstance(w.right, int):
            rv, rt = w.right, "BIGINT"
        else:
            rv, rt = float(w.right), "DOUBLE"
        combined = [
            c for c in combined if _cmp(c[rel][idx], t, rv, rt, w.op)
        ]

    # ------------------------------------------------------- projection
    out_names: list[str] = []
    out_types: list[str] = []
    sel = []
    for ref, out in spec.select:
        rel, idx, t = field(ref)
        if t not in _ORDERABLE:
            raise _Fallback(f"unsupported output type {t}")
        sel.append((rel, idx))
        out_names.append(out)
        out_types.append(t)
    rows = [tuple(c[rel][idx] for rel, idx in sel) for c in combined]

    # ---------------------------------------------------------- order by
    if spec.order:
        keys = []
        for ok in spec.order:
            # an order key may name an output column (post-projection) or
            # a source column of either relation
            oi = [
                i for i, n in enumerate(out_names)
                if n.lower() == ok.ref.col.lower()
                and (ok.ref.rel is None or spec.select[i][0].rel == ok.ref.rel)
            ]
            if ok.ref.rel is None and len(oi) == 1:
                keys.append((("out", oi[0]), ok.desc))
            else:
                rel, idx, t = field(ok.ref)
                del t
                keys.append((("src", rel, idx), ok.desc))

        def keyval(pos: int, c_row) -> object:
            spec_k = keys[pos][0]
            if spec_k[0] == "out":
                return c_row[1][spec_k[1]]
            return c_row[0][spec_k[1]][spec_k[2]]

        tagged = list(zip(combined, rows))
        for pos in range(len(keys) - 1, -1, -1):
            desc = keys[pos][1]
            tagged.sort(
                key=lambda cr: (
                    (v := keyval(pos, cr)) is not None,
                    0 if v is None else v,
                ),
                reverse=desc,
            )
        # Spark's tie order is nondeterministic → only answer when the
        # full ORDER BY key is unique per row
        seen_keys = [
            tuple(keyval(p, cr) for p in range(len(keys))) for cr in tagged
        ]
        if len(set(seen_keys)) != len(seen_keys):
            raise _Fallback("non-unique ORDER BY keys")
        rows = [r for _, r in tagged]

    return out_names, out_types, rows

"""Driver-side evaluation of a routed-CTE ``WITH`` query's outer SELECT.

When every CTE of a ``WITH`` query routes, each answer is already a
driver-resident row list (the route memo's :class:`~.router.Answer`) and
the remaining work is a relational expression over a handful of tiny
constant relations. Spliced into Spark, that expression costs three tiny
jobs (scalar subquery, broadcast build, final collect) whose fixed
scheduling cost dominates the answer by orders of magnitude. This module
evaluates a NARROW outer-query grammar in pure Python over the routed
answers — the same thesis as the router's constant answers, extended to
the one multi-table shape the CTE splicer creates — and returns ``None``
for anything it does not recognize, so the caller falls back to the Spark
splice and coverage is never lost, only the job floor.

The module owns the grammar and nothing it shares with the router:

* lexing and parsing run on :mod:`.sqlparse` (``_tokenize``, ``_Parser``),
  interval units on :func:`.sqlparse.parse_interval_seconds` and numeric
  literals on :func:`.sqlparse.number_value`;
* WHERE compares through the router's one typed comparison
  (:func:`.router._compare`, HAVING's too): NULL is unknown, a double
  side makes both doubles with NaN greater than every other value,
  integers compare exactly;
* ORDER BY sorts through the router's row sort (:func:`.router._sort_rows`):
  ASC puts NULL first and NaN last, DESC the reverse; explicit NULLS
  FIRST/LAST never parses;
* scalar-subquery MIN/MAX fold with :func:`..operators.lookup._extreme`,
  Spark's float order.

What it computes itself follows Spark exactly: µs-exact TIMESTAMP ±
day-time INTERVAL arithmetic (UTC session, no DST); AVG/SUM over a
LocalRelation accumulate doubles in row order, the single-partition left
fold Spark's ``Average``/``Sum`` perform; and a result is only returned
when the ORDER BY key tuples are UNIQUE — otherwise Spark's tie order is
not deterministic and the splice decides.

Calendar intervals (MONTH/YEAR), expressions in the select list, outer
joins, more than two relations, GROUP BY/HAVING/LIMIT, and any token the
grammar does not consume all fall back.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import timedelta
from functools import lru_cache, reduce

from ..operators.lookup import _extreme
from .router import _compare, _sort_key, _sort_rows
from .sqlparse import (
    ParseError,
    _Parser,
    _tokenize,
    number_value,
    parse_interval_seconds,
)

__all__ = ["parse_outer", "evaluate_outer"]

_INTEGRAL = {"BIGINT", "INT", "SMALLINT", "TINYINT"}
_NUMERIC = _INTEGRAL | {"DOUBLE", "FLOAT"}
_ORDERABLE = _NUMERIC | {"TIMESTAMP", "STRING"}

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
    right: object  # ScalarSub | a numeric literal (number_value)


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
    """Internal: evaluation outside the supported subset — caller splices."""


_KEYWORDS = {
    "select", "from", "join", "inner", "on", "where", "and", "order", "by",
    "as", "asc", "desc", "interval", "group", "having", "limit", "union",
    "left", "right", "full", "cross", "outer",
}


class _OuterParser(_Parser):
    """The outer-query grammar on :class:`.sqlparse._Parser`'s token
    helpers; every miss raises :class:`.sqlparse.ParseError`."""

    def name(self) -> str:
        """An identifier that is not a keyword of this grammar."""
        a = self.ident_raw()
        if a.lower() in _KEYWORDS:
            raise ParseError(f"keyword where a name is expected: {a!r}")
        return a

    def qref(self, require_rel: bool) -> QRef:
        a = self.name()
        if self.accept_punct("."):
            return QRef(a, self.ident_raw())
        if require_rel:
            raise ParseError(f"unqualified column {a!r} in join form")
        return QRef(None, a)

    def rel(self) -> tuple:
        name = self.name()
        if self.accept_kw("as"):
            return name, self.ident_raw()
        t = self.peek()
        if t is not None and t.kind == "ident" and t.value.lower() not in _KEYWORDS:
            return name, self.ident_raw()
        return name, name

    def key(self) -> KeyExpr:
        """``rel.col [(+|-) INTERVAL <n> <unit>]`` — ``<n>`` a positive
        integer, bare or quoted, and the unit a day-time one."""
        ref = self.qref(require_rel=True)
        sign = 1 if self.accept_punct("+") else -1 if self.accept_punct("-") else 0
        if not sign:
            return KeyExpr(ref, 0)
        self.expect_kw("interval")
        t = self.next()
        n = t.value.strip()
        if t.kind not in ("number", "string") or not (n.isascii() and n.isdigit()):
            raise ParseError(f"unsupported interval magnitude {t.value!r}")
        secs = parse_interval_seconds(f"{n} {self.ident_raw()}")
        return KeyExpr(ref, sign * secs * 1_000_000)

    def scalar_sub(self) -> ScalarSub:
        self.expect_kw("select")
        fn = self.ident_raw().lower()
        if fn not in _SUB_FUNCS:
            raise ParseError(f"unsupported subquery aggregate {fn!r}")
        self.expect_punct("(")
        col = None
        if not self.accept_punct("*"):
            col = self.ident_raw()
        elif fn != "count":
            raise ParseError(f"{fn}(*) unsupported")
        self.expect_punct(")")
        self.expect_kw("from")
        rel = self.ident_raw()
        self.expect_punct(")")
        return ScalarSub(fn, col, rel)

    def where_rhs(self):
        if self.accept_punct("("):
            return self.scalar_sub()
        t = self.next()
        if t.kind != "number":
            raise ParseError("unsupported WHERE right-hand side")
        return number_value(t.value)

    def outer(self) -> OuterSpec:
        self.expect_kw("select")
        items: list[tuple[QRef, str]] = []
        while True:
            ref = self.qref(require_rel=False)
            items.append((ref, self.ident_raw() if self.accept_kw("as") else ref.col))
            if not self.accept_punct(","):
                break
        self.expect_kw("from")
        left = self.rel()
        right = on = None
        joined = self.accept_kw("inner", "join")
        if joined == "inner":
            self.expect_kw("join")
        if joined:
            right = self.rel()
            self.expect_kw("on")
            k1 = self.key()
            if self.next() != ("op", "="):
                raise ParseError("expected = in join condition")
            on = (k1, self.key())
        where: list[WhereCmp] = []
        if self.accept_kw("where"):
            while True:
                lref = self.qref(require_rel=right is not None)
                op = self.next()
                if op.kind != "op":
                    raise ParseError(f"unsupported WHERE operator {op.value!r}")
                where.append(WhereCmp(lref, op.value, self.where_rhs()))
                if not self.accept_kw("and"):
                    break
        order: list[OrderKey] = []
        if self.accept_kw("order"):
            self.expect_kw("by")
            while True:
                ref = self.qref(require_rel=False)
                order.append(OrderKey(ref, self.accept_kw("desc", "asc") == "desc"))
                if not self.accept_punct(","):
                    break
        if self.peek() is not None:
            raise ParseError(f"trailing tokens at {self.peek().value!r}")
        if right is not None and (any(r.rel is None for r, _ in items) or not order):
            # every select item must be qualified in the join form, and a
            # join without a total output order has nondeterministic row
            # order (uniqueness of the key is checked at eval time)
            raise ParseError("join form needs qualified selects and ORDER BY")
        return OuterSpec(tuple(items), left, right, on, tuple(where), tuple(order))


@lru_cache(maxsize=256)
def parse_outer(main: str) -> OuterSpec | None:
    """Parse the main query of a spliced ``WITH`` into :class:`OuterSpec`,
    or ``None`` when it falls outside the supported subset (the caller
    then splices to Spark exactly as before). Never raises. Memoized —
    a parse is a pure function of the text (the spec is frozen), and the
    dashboard pattern repeats identical query strings."""
    try:
        return _OuterParser(_tokenize(main)).outer()
    except Exception:  # ParseError, or a parser bug: the splice answers
        return None


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
        nan_wins = sub.func == "max"
        return reduce(lambda m, v: _extreme(m, v, nan_wins), vals, None), t
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


def _key_value(v, t: str, offset_us: int):
    """Join-key value with the interval offset applied (µs-exact)."""
    if v is None:
        return None
    if offset_us:
        if t != "TIMESTAMP":
            raise _Fallback("interval offset on a non-TIMESTAMP key")
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
    except Exception:  # _Fallback, or an evaluator bug: the splice answers
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
            ok = t == rt == "TIMESTAMP" or (t in _NUMERIC and rt in _NUMERIC)
        else:  # a numeric literal
            rv, ok = w.right, t in _NUMERIC
        if not ok:
            raise _Fallback(f"comparison of {t} with {w.right!r}")
        combined = [c for c in combined if _compare(c[rel][idx], w.op, rv)]

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
        # an order key names an output column (a bare name matching exactly
        # one) or a source column of either relation; source keys ride
        # past the output columns while the rows sort
        n = len(out_names)
        keys, extra = [], []
        for ok in spec.order:
            oi = [i for i, name in enumerate(out_names) if name.lower() == ok.ref.col.lower()]
            if ok.ref.rel is None and len(oi) == 1:
                keys.append((oi[0], not ok.desc))
            else:
                rel, idx, _t = field(ok.ref)
                keys.append((n + len(extra), not ok.desc))
                extra.append((rel, idx))
        wide = [
            row + tuple(c[rel][idx] for rel, idx in extra)
            for row, c in zip(rows, combined)
        ]
        _sort_rows(wide, keys)
        # Spark's tie order is nondeterministic → only answer when the
        # full ORDER BY key is unique per row
        if len({tuple(_sort_key(r[i]) for i, _ in keys) for r in wide}) != len(wide):
            raise _Fallback("non-unique ORDER BY keys")
        rows = [r[:n] for r in wide]

    return out_names, out_types, rows

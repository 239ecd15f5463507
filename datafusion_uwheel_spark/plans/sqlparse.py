"""Minimal SQL SELECT parser for plan-shape matching.

The reference pattern-matches already-parsed DataFusion logical plans
(``datafusion-uwheel/src/lib.rs:246-281``). Pure PySpark exposes no hook into
Catalyst's optimizer, so we match **before** Spark sees the query (SURVEY.md
§7.3.1): this module parses exactly the query shapes the rewrites can ever
fire on —

    SELECT {* | aggs | date_trunc(g, ts), aggs
             | window(ts, 'w'[, 's']).{start|end} AS a, aggs} FROM t
    [WHERE conjunct [AND conjunct]...]
    [GROUP BY {date_trunc(g, ts) | window(ts, 'w'[, 's'])}]

Anything outside this grammar (joins, OR, subqueries, window functions, …)
raises :class:`ParseError`, and the router delegates the original SQL string
to ``spark.sql`` untouched — the exact analogue of ``try_rewrite`` returning
``None`` (``lib.rs:246-252,863-867``). The parser therefore never needs to be
complete; it needs to be *sound* on what it accepts.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import NamedTuple

__all__ = [
    "ParseError",
    "AggSpec",
    "ColRef",
    "DateTruncSpec",
    "WindowSpec",
    "Comparison",
    "ParsedQuery",
    "parse_select",
    "parse_interval_seconds",
    "split_with_ctes",
]


class ParseError(ValueError):
    """Query is outside the routable grammar — caller must delegate."""


AGG_FUNCS = {
    "count",
    "sum",
    "min",
    "max",
    "avg",
    # Variance family — beyond the reference's Sum/Avg/Min/Max/Count
    # (index/mod.rs:7-21), derived from the sum-of-squares wheel state.
    "stddev",
    "stddev_samp",
    "stddev_pop",
    "variance",
    "var_samp",
    "var_pop",
    # Approximate aggregates (r11, OPT-IN routing only — see
    # router._try_approx: estimates from the engine's DataSketches rollups
    # legitimately DIFFER from Spark's HLL++/ApproximatePercentile, so the
    # route never fires unless the engine enables it explicitly).
    "approx_count_distinct",
    "percentile_approx",
    "approx_percentile",
}

#: The approx-aggregate subset — single source for parser and router.
APPROX_AGG_FUNCS = {"approx_count_distinct", "percentile_approx", "approx_percentile"}

#: One alternative per token kind, tried in this order at every
#: non-blank position; the last group catches any other character (a
#: double quote, a backtick, ``;`` mid-query, ...), which is outside the
#: grammar. Whitespace matches nothing, so ``findall`` skips it.
_TOKEN_RE = re.compile(
    r"""
        ('(?:[^']|'')*')
      | (-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | ([A-Za-z_][A-Za-z_0-9]*)
      | (<=|>=|<>|!=|=|<|>)
      | ([(),.*])
      | (\S)
    """,
    re.VERBOSE,
)


class Token(NamedTuple):
    kind: str  # string | number | ident | op | punct
    value: str


def _tokenize(sql: str) -> list[Token]:
    """Tokens of ``sql`` in one ``findall`` pass; raises
    :class:`ParseError` at the first character outside the grammar.
    String literals come back unquoted with ``''`` unescaped."""
    s = sql.strip().rstrip(";")
    tokens: list[Token] = []
    for string, number, ident, op, punct, other in _TOKEN_RE.findall(s):
        if ident:
            tokens.append(Token("ident", ident))
        elif punct:
            tokens.append(Token("punct", punct))
        elif op:
            tokens.append(Token("op", op))
        elif string:
            tokens.append(Token("string", string[1:-1].replace("''", "'")))
        elif number:
            tokens.append(Token("number", number))
        else:
            raise ParseError(f"unrecognized token at: {_context(s)!r}")
    return tokens


def _context(s: str) -> str:
    """Up to 20 characters of ``s`` from the end of the last good token
    before the first character outside the grammar."""
    pos = 0
    for m in _TOKEN_RE.finditer(s):
        if m.group(6):
            break
        pos = m.end()
    return s[pos : pos + 20]


@dataclass(frozen=True)
class AggSpec:
    """``func(arg)`` — ``arg is None`` means ``COUNT(*)``
    (detection mirrors ``is_count_star_aggregate``, ``lib.rs:883-907``).
    ``param`` carries a second literal argument where the grammar admits
    one (the percentage of ``percentile_approx(col, p)``), as the literal
    TEXT so the delegate-matching default output name renders exactly."""

    func: str
    arg: str | None
    alias: str | None
    param: str | None = None

    @property
    def output_name(self) -> str:
        if self.alias:
            return self.alias
        if self.func == "count_distinct":
            return f"count(DISTINCT {self.arg})"
        if self.func == "approx_count_distinct":
            # Spark's default name (probed 4.1): no rsd arg rendered
            return f"approx_count_distinct({self.arg})"
        if self.func in ("percentile_approx", "approx_percentile"):
            # Spark renders the DEFAULT accuracy into the name (probed:
            # percentile_approx(v, 0.5, 10000))
            return f"{self.func}({self.arg}, {self.param}, 10000)"
        return f"{self.func}({self.arg if self.arg is not None else '*'})"


@dataclass(frozen=True)
class DateTruncSpec:
    granularity: str
    column: str
    alias: str | None

    @property
    def output_name(self) -> str:
        return self.alias or f"date_trunc({self.granularity}, {self.column})"


#: Interval units whose widths are fixed second counts (the shapes
#: ``F.window`` accepts for tumbling windows; months/years vary in width and
#: are not tumbling-window material — Spark itself rejects them in window()).
_INTERVAL_UNIT_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3_600,
    "day": 86_400,
    "week": 604_800,
}


def parse_interval_seconds(text: str) -> int:
    """Spark interval string (``'5 minutes'``, ``'1 hour 30 minutes'``) →
    whole seconds. Raises :class:`ParseError` for sub-second units or
    anything else outside whole-second tumbling widths — the caller then
    delegates, and Spark evaluates the original query natively."""
    parts = text.strip().lower().split()
    if not parts or len(parts) % 2:
        raise ParseError(f"unsupported interval: {text!r}")
    total = 0
    for n, unit in zip(parts[::2], parts[1::2]):
        if not re.fullmatch(r"\d+", n):
            raise ParseError(f"unsupported interval: {text!r}")
        u = unit[:-1] if unit.endswith("s") and len(unit) > 1 else unit
        if u not in _INTERVAL_UNIT_SECONDS:
            raise ParseError(f"unsupported interval unit: {unit!r}")
        total += int(n) * _INTERVAL_UNIT_SECONDS[u]
    if total <= 0:
        raise ParseError(f"non-positive interval: {text!r}")
    return total


@dataclass(frozen=True)
class WindowSpec:
    """``window(column, 'interval'[, 'slide'])`` tumbling or hopping window —
    Spark's idiomatic temporal rollup (`F.window` / SQL ``window()``), bucket
    width any whole number of seconds, window starts aligned to the epoch at
    multiples of the slide (Spark's default ``startTime`` of 0 — note
    ``window(ts, '7 days')`` is Thursday-aligned, unlike Monday-aligned
    ``date_trunc('week')``). ``slide_sec is None`` means tumbling
    (slide = width). ``field`` is ``start`` / ``end`` for select items,
    ``None`` for the GROUP BY expression itself."""

    column: str
    width_sec: int
    interval: str
    field: str | None
    alias: str | None
    slide_sec: int | None = None

    @property
    def hopping(self) -> bool:
        return self.slide_sec is not None and self.slide_sec != self.width_sec

    @property
    def output_name(self) -> str:
        if self.alias:
            return self.alias
        return f"window({self.column}, '{self.interval}').{self.field}"


@dataclass(frozen=True)
class ColRef:
    """A bare column reference in the select list — only legal when it names
    the query's GROUP BY partition key (validated in :meth:`_Parser.parse`)."""

    name: str
    alias: str | None

    @property
    def output_name(self) -> str:
        return self.alias or self.name


@dataclass(frozen=True)
class Comparison:
    """``column op literal`` conjunct. ``value`` is a float for numbers or a
    string for string/timestamp literals (resolved later by the predicate
    extractor, mirroring ``scalar_to_timestamp``, ``lib.rs:1178-1192``)."""

    column: str
    op: str  # one of > >= < <= = != between(lo) handled by two comparisons
    value: object
    value_kind: str  # "number" | "string" | "timestamp" | "date"

    def render(self) -> str:
        """Canonical rendering for keyed-index matching (reference matches on
        the rendered filter expr string with the table qualifier stripped,
        ``lib.rs:783-787,164-173``)."""

        def lit(x):
            if self.value_kind == "number":
                return repr(float(x))
            return "'" + str(x).replace("'", "''") + "'"

        if self.op == "in":
            # sorted + deduped so `IN (b, a, a)` canonicalizes like `IN (a, b)`
            return f"{self.column} IN ({', '.join(lit(x) for x in sorted(set(self.value)))})"
        return f"{self.column} {self.op} {lit(self.value)}"


@dataclass
class ParsedQuery:
    table: str
    select_star: bool = False
    aggs: list[AggSpec] = field(default_factory=list)
    group_by: "DateTruncSpec | WindowSpec | None" = None
    conjuncts: list[Comparison] = field(default_factory=list)
    select_order: list[object] = field(default_factory=list)  # AggSpec|DateTruncSpec
    #: (output_name, ascending) — only output columns of the select list are
    #: accepted, so the router can sort its constant rows identically.
    order_by: list[tuple[str, bool]] = field(default_factory=list)
    limit: int | None = None
    #: HAVING conjuncts: (AggSpec, op, numeric literal). The aggregate need
    #: not appear in the select list — the router evaluates it per bucket
    #: from the same wheel states.
    having: list[tuple[AggSpec, str, float]] = field(default_factory=list)
    #: OR-of-ranges form: ``WHERE (conj) OR (conj) [OR ...]`` — each branch
    #: a parenthesized conjunction. Mutually exclusive with ``conjuncts``.
    or_branches: list[list[Comparison]] = field(default_factory=list)
    #: Second (categorical) GROUP BY dimension:
    #: ``GROUP BY date_trunc(...), key`` / ``GROUP BY key, window(...)``.
    group_key: str | None = None


class _Parser:
    def __init__(self, tokens: list[Token]):
        self.toks = tokens
        self.i = 0

    # -- token helpers -----------------------------------------------------
    def peek(self) -> Token | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> Token:
        t = self.peek()
        if t is None:
            raise ParseError("unexpected end of query")
        self.i += 1
        return t

    def accept_kw(self, *kws: str) -> str | None:
        t = self.peek()
        if t and t.kind == "ident" and t.value.lower() in kws:
            self.i += 1
            return t.value.lower()
        return None

    def expect_kw(self, kw: str) -> None:
        if not self.accept_kw(kw):
            raise ParseError(f"expected {kw.upper()}")

    def accept_punct(self, p: str) -> bool:
        t = self.peek()
        if t and t.kind == "punct" and t.value == p:
            self.i += 1
            return True
        return False

    def expect_punct(self, p: str) -> None:
        if not self.accept_punct(p):
            raise ParseError(f"expected {p!r}")

    def ident(self) -> str:
        t = self.next()
        if t.kind != "ident":
            raise ParseError(f"expected identifier, got {t.value!r}")
        if t.value.lower() in {"select", "from", "where", "group", "and", "or"}:
            raise ParseError(f"keyword in identifier position: {t.value}")
        # qualified name a.b → keep last segment (reference strips the table
        # qualifier before matching, lib.rs:783-787)
        name = t.value
        while self.accept_punct("."):
            name = self.ident_raw()
        return name

    def ident_raw(self) -> str:
        t = self.next()
        if t.kind != "ident":
            raise ParseError("expected identifier")
        return t.value

    # -- grammar -----------------------------------------------------------
    def parse(self) -> ParsedQuery:
        self.expect_kw("select")
        distinct = self.accept_kw("distinct")
        items, star = self.select_list()
        self.expect_kw("from")
        table = self.ident()
        q = ParsedQuery(table=table, select_star=star)
        q.select_order = items
        q.aggs = [it for it in items if isinstance(it, AggSpec)]
        truncs = [it for it in items if isinstance(it, DateTruncSpec)]
        wins = [it for it in items if isinstance(it, WindowSpec)]
        if self.accept_kw("where"):
            t = self.peek()
            if t and t.kind == "punct" and t.value == "(":
                # try the OR-of-parenthesized-conjunctions form; rewind and
                # fall back to a plain (possibly parenthesized) conjunction
                mark = self.i
                try:
                    q.or_branches = self.or_of_conjunctions()
                except ParseError:
                    self.i = mark
                    q.conjuncts = self.conjunction()
                else:
                    if len(q.or_branches) == 1:  # plain parenthesized AND
                        q.conjuncts = q.or_branches.pop()
                        # `(conj) AND more...` — keep consuming conjuncts
                        if self.accept_kw("and"):
                            q.conjuncts.extend(self.conjunction())
            else:
                q.conjuncts = self.conjunction()
        colrefs = [it for it in items if isinstance(it, ColRef)]
        if self.accept_kw("group"):
            self.expect_kw("by")
            gexprs: list = []
            while True:
                t = self.peek()
                if t is None or t.kind != "ident":
                    raise ParseError("expected GROUP BY expression")
                name = t.value.lower()
                if name == "window":
                    gexprs.append(self.window_expr())
                elif name == "date_trunc":
                    gexprs.append(self.date_trunc_expr())
                else:
                    gexprs.append(self.ident())  # categorical key column
                if not self.accept_punct(","):
                    break
            temporal = [g for g in gexprs if not isinstance(g, str)]
            keys = [g for g in gexprs if isinstance(g, str)]
            if len(temporal) > 1 or len(keys) > 1 or not gexprs:
                raise ParseError("unsupported GROUP BY shape")
            if not temporal:
                # keys-only GROUP BY: the categorical rollup (group_by stays
                # None; group_key alone marks the shape)
                if truncs or wins:
                    raise ParseError("bucketing select item without temporal GROUP BY")
                q.group_key = keys[0]
            elif isinstance(g := temporal[0], WindowSpec):
                if g.field is not None:
                    raise ParseError("GROUP BY window field access")
                if truncs:
                    raise ParseError("date_trunc select with window GROUP BY")
                for w in wins:
                    if (
                        w.column != g.column
                        or w.width_sec != g.width_sec
                        or w.slide_sec != g.slide_sec
                    ):
                        raise ParseError("SELECT window does not match GROUP BY")
                q.group_by = g
            else:
                if wins:
                    raise ParseError("window select with date_trunc GROUP BY")
                if len(truncs) > 1:
                    raise ParseError("multiple date_trunc select items")
                if truncs and (
                    truncs[0].granularity != g.granularity or truncs[0].column != g.column
                ):
                    raise ParseError("SELECT date_trunc does not match GROUP BY")
                q.group_by = truncs[0] if truncs else g
            q.group_key = keys[0] if keys else None
        elif truncs or wins:
            raise ParseError("bucketing expression in SELECT without GROUP BY")
        if distinct:
            # only the single-bare-column form maps onto a key group-by
            # (SELECT DISTINCT key ≡ GROUP BY key); every other DISTINCT
            # delegates
            if q.aggs or truncs or wins or star or len(colrefs) != 1:
                raise ParseError("unsupported DISTINCT shape")
            if q.group_key is None:
                q.group_key = colrefs[0].name
            elif q.group_key.lower() != colrefs[0].name.lower():
                raise ParseError("DISTINCT column does not match GROUP BY")
        if colrefs and (
            q.group_key is None
            or any(c.name.lower() != q.group_key.lower() for c in colrefs)
        ):
            raise ParseError("bare column select requires a matching GROUP BY key")
        if self.accept_kw("having"):
            while True:
                q.having.append(self.having_clause(items))
                if not self.accept_kw("and"):
                    break
        if self.accept_kw("order"):
            self.expect_kw("by")
            names = {it.output_name for it in items}
            while True:
                col = self.ident()
                if col not in names:
                    # only select-list output names are sortable by the
                    # router's constant rows — anything else delegates
                    raise ParseError(f"ORDER BY non-output column: {col}")
                asc = True
                if self.accept_kw("desc"):
                    asc = False
                else:
                    self.accept_kw("asc")
                q.order_by.append((col, asc))
                if not self.accept_punct(","):
                    break
        if self.accept_kw("limit"):
            t = self.next()
            if t.kind != "number" or "." in t.value:
                raise ParseError("LIMIT must be an integer literal")
            q.limit = int(t.value)
        if self.peek() is not None:
            raise ParseError(f"trailing tokens: {self.peek().value!r}")
        return q

    def select_list(self):
        if self.accept_punct("*"):
            return [], True
        items: list[object] = []
        while True:
            items.append(self.select_item())
            if not self.accept_punct(","):
                break
        return items, False

    def select_item(self):
        t = self.peek()
        if t is None or t.kind != "ident":
            raise ParseError("expected select expression")
        name = t.value.lower()
        if name in AGG_FUNCS:
            spec = self.agg_expr()
        elif name == "date_trunc":
            spec = self.date_trunc_expr()
        elif name == "window":
            spec = self.window_expr()
            if spec.field is None:
                # The bare struct output would need a STRUCT-typed constant
                # relation; delegate that shape (Spark answers it natively).
                raise ParseError("window select item needs .start or .end")
        else:
            # A bare column reference — legal only as the GROUP BY partition
            # key; validated against the parsed GROUP BY in parse().
            name = self.ident_raw()
            nxt = self.peek()
            if nxt and nxt.kind == "punct" and nxt.value == "(":
                raise ParseError(f"unsupported select expression: {t.value}")
            spec = ColRef(name, None)
        alias = None
        if self.accept_kw("as"):
            alias = self.ident_raw()
        else:
            nxt = self.peek()
            if nxt and nxt.kind == "ident" and nxt.value.lower() not in {"from", "where", "group"}:
                alias = self.ident_raw()
        if isinstance(spec, WindowSpec) and alias is None:
            # Spark's native output name for a window field embeds the full
            # default-argument rendering; requiring an alias keeps the routed
            # and delegated schemas identical.
            raise ParseError("window select item requires an alias")
        if alias is not None:
            if isinstance(spec, AggSpec):
                spec = AggSpec(spec.func, spec.arg, alias, spec.param)
            elif isinstance(spec, WindowSpec):
                spec = WindowSpec(
                    spec.column,
                    spec.width_sec,
                    spec.interval,
                    spec.field,
                    alias,
                    spec.slide_sec,
                )
            elif isinstance(spec, ColRef):
                spec = ColRef(spec.name, alias)
            else:
                spec = DateTruncSpec(spec.granularity, spec.column, alias)
        return spec

    def agg_expr(self) -> AggSpec:
        func = self.next().value.lower()
        self.expect_punct("(")
        if func == "count" and self.accept_punct("*"):
            self.expect_punct(")")
            return AggSpec("count", None, None)
        if func == "count" and self.accept_kw("distinct"):
            arg = self.ident()
            self.expect_punct(")")
            # exact distinct-key counting — answerable from a key-complete
            # partitioned family (router _try_count_distinct); anything the
            # family can't prove delegates
            return AggSpec("count_distinct", arg, None)
        arg = self.ident()
        if func in ("percentile_approx", "approx_percentile"):
            # percentile_approx(col, p) — p a plain numeric literal. The
            # array(...) form and an explicit accuracy argument stay
            # outside the grammar (ParseError -> delegate): the rollup
            # cannot honor a caller's accuracy, and silently ignoring it
            # would misrepresent the estimate.
            self.expect_punct(",")
            p = self.next()
            if p is None or p.kind != "number":
                raise ParseError("percentile_approx needs a numeric percentage")
            self.expect_punct(")")
            return AggSpec(func, arg, None, param=p.value)
        # approx_count_distinct(col, rsd): the rollup's lg_k is pinned at
        # build, so a per-query rsd cannot be honored — ParseError/delegate
        self.expect_punct(")")
        return AggSpec(func, arg, None)

    def window_expr(self) -> WindowSpec:
        """``window(col, 'width'[, 'slide'])`` with optional trailing
        ``.start`` / ``.end`` field access. The 4-argument ``startTime``
        offset form shifts windows off the epoch grid — delegate that."""
        t = self.next()
        if t.kind != "ident" or t.value.lower() != "window":
            raise ParseError("expected window")
        self.expect_punct("(")
        col = self.ident()
        self.expect_punct(",")
        iv = self.next()
        if iv.kind != "string":
            raise ParseError("window duration must be a string literal")
        slide = None
        if self.accept_punct(","):
            sl = self.next()
            if sl.kind != "string":
                raise ParseError("window slide must be a string literal")
            if self.accept_punct(","):
                raise ParseError("window startTime offset is not routable")
            slide = parse_interval_seconds(sl.value)
        self.expect_punct(")")
        width = parse_interval_seconds(iv.value)
        if slide is not None and slide > width:
            # Spark rejects slide > width (PARAMETER_CONSTRAINT_VIOLATION);
            # delegate so the caller sees Spark's own analysis error.
            raise ParseError("window slide must be <= width")
        fld = None
        if self.accept_punct("."):
            f_ = self.ident_raw().lower()
            if f_ not in {"start", "end"}:
                raise ParseError(f"unsupported window field: {f_}")
            fld = f_
        return WindowSpec(col, width, iv.value, fld, None, slide)

    def date_trunc_expr(self) -> DateTruncSpec:
        t = self.next()
        if t.kind != "ident" or t.value.lower() != "date_trunc":
            raise ParseError("expected date_trunc")
        self.expect_punct("(")
        g = self.next()
        if g.kind != "string":
            raise ParseError("date_trunc granularity must be a string literal")
        self.expect_punct(",")
        col = self.ident()
        self.expect_punct(")")
        return DateTruncSpec(g.value.lower(), col, None)

    def having_clause(self, items) -> tuple[AggSpec, str, float]:
        """``HAVING agg(col) ⊙ number`` (or an output alias of an aggregate).
        The aggregate may be absent from the select list — it is evaluated
        from wheel states per bucket."""
        t = self.peek()
        if t is None or t.kind != "ident":
            raise ParseError("expected HAVING expression")
        nxt = self.toks[self.i + 1] if self.i + 1 < len(self.toks) else None
        if t.value.lower() in AGG_FUNCS and nxt and nxt.kind == "punct" and nxt.value == "(":
            spec = self.agg_expr()
        else:
            alias = self.ident()
            matches = [
                it for it in items if isinstance(it, AggSpec) and it.output_name == alias
            ]
            if not matches:
                raise ParseError(f"HAVING references non-aggregate: {alias}")
            spec = matches[0]
        op_t = self.next()
        if op_t.kind != "op" or op_t.value in ("<>",):
            if op_t.kind != "op":
                raise ParseError("expected comparison in HAVING")
        op = "!=" if op_t.value == "<>" else op_t.value
        v, k = self.literal()
        if k != "number":
            raise ParseError("HAVING literal must be numeric")
        return spec, op, float(v)

    def or_of_conjunctions(self) -> list[list[Comparison]]:
        """``( conj ) [OR ( conj )]...`` — each branch parenthesized."""
        out = []
        while True:
            self.expect_punct("(")
            out.append(self.conjunction())
            self.expect_punct(")")
            if not self.accept_kw("or"):
                break
        return out

    def conjunction(self) -> list[Comparison]:
        out = [*self.comparison()]
        while self.accept_kw("and"):
            out.extend(self.comparison())
        t = self.peek()
        if t and t.kind == "ident" and t.value.lower() == "or":
            raise ParseError("OR is not routable")
        return out

    def comparison(self) -> list[Comparison]:
        col = self.ident()
        if self.accept_kw("between"):
            lo_v, lo_k = self.literal()
            self.expect_kw("and")
            hi_v, hi_k = self.literal()
            # BETWEEN is inclusive both ends (reference rewrites it to
            # GtEq/LtEq, expr.rs:83-105).
            return [
                Comparison(col, ">=", lo_v, lo_k),
                Comparison(col, "<=", hi_v, hi_k),
            ]
        if self.accept_kw("in"):
            self.expect_punct("(")
            vals: list = []
            kinds: set[str] = set()
            while True:
                v, k = self.literal()
                vals.append(v)
                kinds.add(k)
                if not self.accept_punct(","):
                    break
            self.expect_punct(")")
            if len(kinds) != 1:
                raise ParseError("mixed-type IN list")
            return [Comparison(col, "in", tuple(vals), kinds.pop())]
        t = self.next()
        if t.kind != "op":
            raise ParseError(f"expected comparison operator, got {t.value!r}")
        op = "!=" if t.value == "<>" else t.value
        v, k = self.literal()
        return [Comparison(col, op, v, k)]

    def literal(self) -> tuple[object, str]:
        t = self.next()
        if t.kind == "number":
            return float(t.value), "number"
        if t.kind == "string":
            return t.value, "string"
        if t.kind == "ident":
            kw = t.value.lower()
            if kw in {"timestamp", "date"}:
                s = self.next()
                if s.kind != "string":
                    raise ParseError(f"{kw.upper()} literal must be a string")
                return s.value, kw
            if kw == "cast":
                # CAST('lit' AS TIMESTAMP) — literal under cast, mirrored from
                # the reference's cast-tolerant extraction (expr.rs:231-237).
                self.expect_punct("(")
                inner = self.next()
                if inner.kind not in {"string", "number"}:
                    raise ParseError("CAST of non-literal")
                self.expect_kw("as")
                ty = self.ident_raw().lower()
                self.expect_punct(")")
                if ty in {"timestamp", "date"}:
                    return inner.value, "timestamp"
                if inner.kind == "number":
                    return float(inner.value), "number"
                return inner.value, "string"
        raise ParseError(f"unsupported literal: {t.value!r}")


def parse_select(sql: str) -> ParsedQuery:
    """Parse a routable SELECT; raise :class:`ParseError` otherwise."""
    return _Parser(_tokenize(sql)).parse()


def parse_conjunction(sql: str) -> list[Comparison]:
    """Parse a bare predicate conjunction (used to canonicalize keyed-index
    filter strings at ``build_index`` time)."""
    p = _Parser(_tokenize(sql))
    out = p.conjunction()
    if p.peek() is not None:
        raise ParseError(f"trailing tokens in filter: {p.peek().value!r}")
    return out


# --------------------------------------------------------------- WITH split
_WITH_RE = re.compile(r"^\s*WITH\b", re.IGNORECASE)
_CTE_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _skip_ws(s: str, i: int) -> int:
    while i < len(s) and s[i].isspace():
        i += 1
    return i


def _scan_parens(s: str, i: int) -> int:
    """``s[i]`` must be ``(``; return index just past the matching ``)``.
    Single-quoted strings (with ``''`` escapes) and double-quoted/backtick
    identifiers are opaque — parens inside them don't count."""
    assert s[i] == "("
    depth = 0
    n = len(s)
    while i < n:
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        elif c == "'":
            i += 1
            while i < n:
                if s[i] == "'":
                    if i + 1 < n and s[i + 1] == "'":
                        i += 1  # escaped quote
                    else:
                        break
                i += 1
            if i >= n:
                raise ParseError("unterminated string literal")
        elif c in ('"', "`"):
            j = s.find(c, i + 1)
            if j < 0:
                raise ParseError("unterminated quoted identifier")
            i = j
        i += 1
    raise ParseError("unbalanced parentheses")


def split_with_ctes(sql: str) -> tuple[list[tuple[str, str]], str]:
    """Split ``WITH a AS (...), b AS (...) <main>`` into
    ``([(name, body), ...], main_sql)``.

    Character-level scan (quote- and paren-aware) — the CTE *bodies* are
    arbitrary SQL the routable-grammar tokenizer may reject, so this cannot
    reuse :func:`_tokenize`. Raises :class:`ParseError` for anything that
    isn't a plain WITH list: no leading ``WITH``, ``RECURSIVE``, column
    alias lists (``a(x, y) AS``), or MATERIALIZED hints — callers delegate
    those queries whole, the analogue of ``try_rewrite`` → ``None``.
    """
    s = sql.strip().rstrip(";")
    m = _WITH_RE.match(s)
    if not m:
        raise ParseError("not a WITH query")
    if "--" in s or "/*" in s:
        # The paren scanner doesn't understand comments; a ``(`` inside one
        # would mis-split. Soundness over completeness: delegate whole.
        raise ParseError("comments not supported in WITH splitting")
    i = m.end()
    ctes: list[tuple[str, str]] = []
    while True:
        i = _skip_ws(s, i)
        im = _CTE_IDENT_RE.match(s, i)
        if not im:
            raise ParseError("expected CTE name")
        name = im.group(0)
        if not ctes and name.upper() == "RECURSIVE":
            raise ParseError("WITH RECURSIVE is not splittable")
        i = _skip_ws(s, im.end())
        am = _CTE_IDENT_RE.match(s, i)
        if not am or am.group(0).upper() != "AS":
            # ``name(cols) AS`` or other forms — out of grammar.
            raise ParseError("expected AS after CTE name")
        i = _skip_ws(s, am.end())
        # Permit (and drop) DuckDB/Postgres-style [NOT] MATERIALIZED? No —
        # delegate: Spark doesn't accept the hint, so pass-through is wrong
        # only if we rewrote; unrewritten SQL goes back to spark.sql as-is.
        if i >= len(s) or s[i] != "(":
            raise ParseError("expected ( after AS")
        end = _scan_parens(s, i)
        ctes.append((name, s[i + 1 : end - 1].strip()))
        i = _skip_ws(s, end)
        if i < len(s) and s[i] == ",":
            i += 1
            continue
        break
    main = s[i:].strip()
    if not main:
        raise ParseError("WITH query has no main body")
    return ctes, main

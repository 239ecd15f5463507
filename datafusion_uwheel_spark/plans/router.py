"""Query router: match → answer-from-index | delegate.

This is the engine-level equivalent of the reference's single
``OptimizerRule`` (``UWheelOptimizer::rewrite`` → ``try_rewrite``,
``datafusion-uwheel/src/lib.rs:843-869,246-252``). Pure PySpark cannot inject
a Catalyst rule (that needs JVM classes via
``SparkSessionExtensions.injectOptimizerRule``), so the match happens *before*
Spark parses the query (SURVEY.md §7.3.1) — semantically identical: on a
match :meth:`Router.try_rewrite` returns the precomputed answer as a value
(the reference's constant ``MemTable`` scan, ``lib.rs:871-881``), which the
engine's doors materialize as Rows or as a LocalRelation (:func:`constant_df`);
on no-match it returns ``None`` and the original SQL goes to ``spark.sql``
untouched (``lib.rs:863-867``).

Every routed family is a *part builder* over one raw-state monoid
(:class:`~..operators.lookup.States`, the reference's pre-aggregated
states, ``lib.rs:652-661,717-780``). A family only says which parts of the
index it reads:

* one range — COUNT(*) (R1, ``count_range``), one or more aggregates (R2/R3,
  ``single_agg``/``multi_agg``), ``GROUP BY date_trunc / window()`` (R4);
* the landmark — no temporal bound (R5), keyed or not;
* the listed values of a ``key IN (...)`` over a partitioned family;
* the merged intervals of an OR of ranges (``or_ranges``/``or_group_by``);
* the at-start instant of ``ts = <bucket start>`` (``point_agg``);
* a core range plus its boundary slivers for BETWEEN / ``<=`` / ``>``
  (``hybrid_agg``, ``group_by_hybrid``), or the one boundary-scan row when
  the wheels hold no at-start states for them.

Shared steps do the rest: resolve each aggregate's wheel or delegate
(:func:`_resolved`), gate the range mode (:func:`_span`), read each part
once per distinct wheel (:func:`_read_states`), combine and finalize
(:func:`_values` — scalar families merge their parts; :func:`_grouped` —
grouped families merge cells per bucket; the key dimension concatenates per
key), then emit names, types and ORDER BY / LIMIT (:func:`_answer`).
``SELECT *`` answers :data:`EMPTY` when COUNT (R6) or MIN/MAX (R7) pruning
proves it empty. Every miss goes through :func:`_delegate` with its reason.

A matched answer launches **no Spark job at all** — the wheel lookup runs on
the driver in microseconds and the result is a constant row list; this mirrors
the reference's plan-time lookup (§3.1) and is what the BASELINE latency
numbers measure. The one exception is the boundary-scan fallback, one scan
pruned to at most two bucket widths.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from typing import TYPE_CHECKING, Any, NamedTuple

import numpy as np
from pyspark.sql import DataFrame

from ..functions.timestamps import (
    CALENDAR_GRANULARITIES,
    GRANULARITY_SECONDS,
    MICROS_PER_SECOND,
    secs_to_datetimes,
    us_to_datetime,
)
from ..operators.lookup import (
    STAR_AGGREGATION_ALIAS,
    UNDERIVABLE,
    VARIANCE_KEYS,
    States,
    WheelIndex,
)
from .predicates import (
    MinMaxPredicate,
    _ts_value,
    canonical_filter_key,
    extract_min_max_predicate,
    split_temporal_filter,
)
from .sqlparse import (
    APPROX_AGG_FUNCS,
    AggSpec,
    ColRef,
    ParsedQuery,
    WindowSpec,
)

if TYPE_CHECKING:  # pragma: no cover
    from ..engine import WheelEngine

__all__ = ["Answer", "EMPTY", "Router", "RouteDecision"]


@dataclass
class RouteDecision:
    """What the router did with a query — exposed for tests/benchmarks, the
    analogue of asserting ``try_rewrite`` returned ``Some``/``None``."""

    kind: str  # count_range | single_agg | multi_agg | group_by | landmark
    #          | prune_count | prune_minmax | delegate
    index_key: str | None = None
    detail: dict[str, Any] = field(default_factory=dict)

    @property
    def rewritten(self) -> bool:
        return self.kind != "delegate"


class Answer(NamedTuple):
    """A routed constant answer: column names, their Spark SQL types and
    the row tuples — what a delegated ``spark.sql`` would return."""

    names: list[str]
    sql_types: list[str]
    rows: list[tuple]


#: The answer of a provably empty ``SELECT *``: no rows, the table's own
#: schema (``empty_table_scan``, ``lib.rs:817-824``).
EMPTY = object()


def _delegate(reason: str, **detail):
    """The router's one miss: hand the query to Spark, recording why."""
    return RouteDecision("delegate", detail={"reason": reason, **detail}), None


_AGG_STATE = {
    "count": "count",
    "sum": "sum",
    "min": "min",
    "max": "max",
    "avg": "avg",
    # Spark and DuckDB both alias stddev→stddev_samp, variance→var_samp.
    "stddev": "stddev_samp",
    "stddev_samp": "stddev_samp",
    "stddev_pop": "stddev_pop",
    "variance": "var_samp",
    "var_samp": "var_samp",
    "var_pop": "var_pop",
}


def _state_key(agg: AggSpec) -> str:
    """States-dict key for an aggregate. ``COUNT(col)`` counts non-NULL
    values — served by the value wheel's ``vcnt`` state, never the COUNT(*)
    wheel (``is_count_star_aggregate``, ``lib.rs:883-907``)."""
    if agg.func == "count" and agg.arg is not None:
        return "count_col"
    # unknown funcs (e.g. count_distinct outside its dedicated path) map to a
    # key no states dict ever carries, so every `key not in states` guard
    # delegates instead of crashing
    return _AGG_STATE.get(agg.func, "__nostate__")


def _agg_sql_type(agg: AggSpec, wheel: WheelIndex) -> str:
    """Result SQL type matching what delegated ``spark.sql`` would return:
    COUNT → BIGINT; SUM of integral → BIGINT (exact), of float → DOUBLE;
    MIN/MAX → the column's own type; AVG/variance family → DOUBLE."""
    if agg.func in ("count", "count_distinct"):
        return "BIGINT"
    if agg.func in ("min", "max"):
        return wheel.value_sql_type
    if agg.func == "sum":
        return "BIGINT" if wheel.is_integral else "DOUBLE"
    return "DOUBLE"


def _sort_key(v):
    """One value's place in Spark's ascending order: NULL first, NaN
    greater than every other double (a bare Python sort leaves NaN rows
    wherever comparison found them)."""
    nan = isinstance(v, float) and v != v
    return (v is not None, nan, 0.0 if nan else v)


_OPS = {
    "=": operator.eq, "!=": operator.ne, "<>": operator.ne,
    "<": operator.lt, "<=": operator.le, ">": operator.gt, ">=": operator.ge,
}


def _compare(a, op: str, b) -> bool:
    """Spark's ``a op b`` over two numbers or two timestamps — the one
    comparison behind HAVING and the CTE outer WHERE. NULL is unknown (the
    row is dropped); against a double, both sides compare as doubles,
    where NaN equals NaN and is greater than every other value; integers
    (and exact decimal literals) compare exactly."""
    if a is None or b is None:
        return False
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if a != a or b != b:
            a, b = _sort_key(a), _sort_key(b)
    return _OPS[op](a, b)


def _sort_rows(rows: list, keys) -> None:
    """Sort ``rows`` in place by ``(position, ascending)`` keys in Spark's
    default order — ASC puts NULL first and NaN last, DESC the reverse —
    composing the keys through stable sorts in reverse key order."""
    for i, asc in reversed(keys):
        rows.sort(key=lambda r: _sort_key(r[i]), reverse=not asc)


def _order_limit_rows(
    q, names: list[str], rows: list[tuple], ascending_cols=()
) -> list[tuple]:
    """Apply the query's ORDER BY / LIMIT to constant result rows
    (:func:`_sort_rows`). ``ascending_cols`` are column positions the rows
    already ascend in with no ties (the bucket of a one-axis group-by): an
    ORDER BY led by one of them, ascending, is already satisfied."""
    lead = q.order_by[0] if q.order_by else None
    if not (lead and lead[1] and names.index(lead[0]) in ascending_cols):
        _sort_rows(rows, [(names.index(col), asc) for col, asc in q.order_by])
    if q.limit is not None:
        rows = rows[: q.limit]
    return rows


def _combine_keys(key: str) -> tuple[str, ...]:
    """The states that re-combine ``key`` across disjoint parts (OR
    intervals, IN keys, hybrid core + slivers): the key itself, both
    counts, and the sum / sum-of-squares the derived aggregates divide."""
    keys = (key, "count", "count_col")
    if key in ("sum", "avg"):
        return keys + ("sum",)
    if key in VARIANCE_KEYS:
        return keys + ("sum", "_sumsq")
    return keys


def _own_key(key: str) -> tuple[str, ...]:
    """A single part's read: the aggregate's own state, finalized by the
    kernel."""
    return (key,)


def _lookup_plan(specs, wheels, keys_of=_own_key):
    """Batch one query's state reads per wheel: ``(sources, reads)`` where
    ``sources[i]`` is the wheel spec ``i`` reads and ``reads`` maps each
    distinct source to ``(wheel, keys)`` — one kernel call per wheel with
    the union of the keys its specs name. COUNT(*) reads the row count of a
    value wheel the query already reads: every wheel passed in shares one
    filter, so both index the same rows, and one call replaces two."""
    value = next((w for w in wheels if w.column is not None), None)
    sources, reads = [], {}
    for spec, w in zip(specs, wheels):
        if value is not None and spec.func == "count" and spec.arg is None:
            w = value
        sources.append(w)
        keys = reads.setdefault(id(w), (w, set()))[1]
        keys.update(keys_of(_state_key(spec)))
    return sources, reads


def _read_states(specs, wheels, read, keys_of=_own_key):
    """``read(wheel, keys)`` once per distinct wheel; returns each spec's
    answer, or a delegate reason — the reader's own (a string), or "range
    not covered" when it answers ``None``."""
    sources, reads = _lookup_plan(specs, wheels, keys_of)
    got = {}
    for wid, (w, keys) in reads.items():
        got[wid] = r = read(w, keys)
        if r is None or isinstance(r, str):
            return r or "range not covered"
    return [got[id(w)] for w in sources]


def _specs(q) -> list[AggSpec]:
    """The aggregates a query reads: the select list's, then HAVING's (read
    per group from the same states; they need not be selected)."""
    return [*q.aggs, *(spec for spec, _op, _lit in q.having)]


def _resolved(q, specs, resolve):
    """Each spec's wheel by ``resolve(spec)``, or the delegate reason naming
    the first spec without one (past the select list: a HAVING one)."""
    out = []
    for spec in specs:
        w = resolve(spec)
        if w is None:
            having = "HAVING " if len(out) >= len(q.aggs) else ""
            return f"no index for {having}{spec.func}"
        out.append(w)
    return out


def _missing_state(specs, wheels) -> str | None:
    """The delegate reason for the first state a spec's wheel does not
    carry, else ``None``."""
    for spec, w in zip(specs, wheels):
        key = _state_key(spec)
        if key not in w.state_keys:
            return f"state {key} not indexed"
    return None


def _span(q, rng, residual, wheels):
    """The range mode every family shares: ``None`` for the landmark (no
    temporal bound at all — answerable from complete wheels only), the
    ``(start_sec, end_sec)`` of an exact aligned range, or a delegate
    reason."""
    if rng is None and len(residual) == len(q.conjuncts):
        return None if all(w.complete for w in wheels) else "no complete index"
    if rng is None or not rng.routable:
        return "no exact aligned range"
    return rng.start_sec, rng.end_sec


def _scalar_reader(span):
    """A scalar part's kernel call: the landmark, or one range."""
    if span is None:
        return lambda w, keys: w.landmark()
    return lambda w, keys: w.combine_range(span[0], span[1], keys)


def _values(specs, parts, at_start=False):
    """Each spec's value over the union of disjoint parts — ``(wheels,
    read)`` pairs. One part is read for the specs' own keys (the kernel
    finalizes); several, or at-start states, are read for their raw
    states, merged in list order and finalized. A state a wheel does not
    carry delegates — at-start reads answer raw states only, so their
    caller gates on :func:`_missing_state`. Returns the values or a
    delegate reason."""
    raw = at_start or len(parts) != 1
    reads = []
    for wheels, read in parts:
        got = _read_states(specs, wheels, read, _combine_keys if raw else _own_key)
        if isinstance(got, str):
            return got
        if not at_start:
            for spec, st in zip(specs, got):
                if _state_key(spec) not in st:
                    return f"state {_state_key(spec)} not indexed"
        if not raw:
            return [st[_state_key(spec)] for spec, st in zip(specs, got)]
        reads.append(got)
    out = []
    for i, spec in enumerate(specs):
        st = States()
        for got in reads:
            st = st.merge(States.of(got[i]))
        out.append(st.finalize(_state_key(spec)))
    return out


def _group_columns(specs, wheels, read):
    """Per-spec state columns over one bucket axis, one group-by kernel
    call per distinct wheel. Returns ``(bucket_secs, columns)`` or a
    delegate reason. A missing state delegates only when its wheel has
    occupied buckets. All wheels of one filter index the same rows, so
    their occupied buckets coincide; differing axes merge defensively
    (a bucket a wheel lacks reads NULL)."""
    got = _read_states(specs, wheels, read)
    if isinstance(got, str):
        return got
    axes = [secs for secs, _ in got]
    secs = axes[0] if axes else np.empty(0, dtype=np.int64)
    aligned = all(a is secs or np.array_equal(a, secs) for a in axes)
    if not aligned:
        secs = np.unique(np.concatenate(axes))
    cols = []
    for spec, (wsecs, wcols) in zip(specs, got):
        key = _state_key(spec)
        if key not in wcols and len(wsecs):
            return f"state {key} not indexed"
        col = wcols.get(key, [])
        if not aligned:
            cells = dict(zip(wsecs.tolist(), col))
            col = [cells.get(b) for b in secs.tolist()]
        cols.append(col)
    return secs, cols


def _grouped(specs, parts):
    """Each spec's column over the union of disjoint parts of one grouping
    — ``(wheels, read)`` pairs. One part is read for the specs' own keys;
    several for their raw states, whose cells merge per bucket (parts in
    list order) onto one ascending axis and finalize. Returns
    ``(bucket_secs, columns)`` or a delegate reason; a missing state
    delegates only when its part has occupied buckets."""
    if len(parts) == 1:
        return _group_columns(specs, *parts[0])
    reads = []
    for wheels, read in parts:
        got = _read_states(specs, wheels, read, _combine_keys)
        if isinstance(got, str):
            return got
        reads.append(got)
    merged = []
    for i, spec in enumerate(specs):
        key = _state_key(spec)
        cells: dict[int, States] = {}
        for got in reads:
            secs, cols = got[i]
            if key not in cols:
                if len(secs):
                    return f"state {key} not indexed"
                continue
            names = list(cols)
            for b, *vals in zip(secs.tolist(), *cols.values()):
                st = States.of(dict(zip(names, vals)))
                cells[b] = cells[b].merge(st) if b in cells else st
        merged.append({b: st.finalize(key) for b, st in cells.items()})
    buckets = sorted(set().union(*merged))
    return (
        np.asarray(buckets, dtype=np.int64),
        [[m.get(b) for b in buckets] for m in merged],
    )


#: COUNT(*) — the occupancy probe of the keyed families.
_COUNT_STAR = AggSpec("count", None, None)


def _family_wheel(fam: dict, spec: AggSpec):
    """The wheel of one partition value's family an aggregate reads:
    the count wheel for COUNT(*), else the column's value wheel (matched
    case-insensitively, as Catalyst resolves columns); ``None`` if absent."""
    if spec.func == "count" and spec.arg is None:
        return fam[None]
    col = (spec.arg or "").lower()
    for c, w in fam.items():
        if c is not None and c.lower() == col:
            return w
    return None


def _type_wheels(pset, values, aggs):
    """Wheels typing each aggregate of a partitioned family — the first
    listed value's that has one (every value of a column shares its SQL
    type), any family's when none does — or a delegate reason."""
    fams = [pset["wheels"][v] for v in values] + list(pset["wheels"].values())
    out = []
    for agg in aggs:
        w = next((w for f in fams if (w := _family_wheel(f, agg)) is not None), None)
        if w is None:
            return f"no index for {agg.func}"
        out.append(w)
    return out


def _answer(q, decision, rows, agg_wheels, key_type=None, ascending=()):
    """Name and type the select list and apply ORDER BY / LIMIT — the
    routed :class:`Answer`, what a delegated ``spark.sql`` would return.
    ``agg_wheels`` align with ``q.aggs`` and type the aggregates,
    ``key_type`` types the group key, bucket columns are TIMESTAMP."""
    names = [it.output_name for it in q.select_order]
    types = [
        _agg_sql_type(it, agg_wheels[q.aggs.index(it)]) if isinstance(it, AggSpec)
        else key_type if isinstance(it, ColRef) else "TIMESTAMP"
        for it in q.select_order
    ]
    if q.order_by or q.limit is not None:
        rows = _order_limit_rows(q, names, rows, ascending)
    return decision, Answer(names, types, rows)


def _scalar(q, decision, parts, agg_wheels, at_start=False):
    """The tail of the scalar families: their parts' values, one row."""
    values = _values(q.aggs, parts, at_start)
    if isinstance(values, str):
        return _delegate(values)
    return _answer(q, decision, [tuple(values)], agg_wheels)


def _having_keep(q, having_cols) -> list[int] | None:
    """Row positions passing every HAVING condition (``None``: no HAVING)."""
    if not q.having:
        return None
    conds = [(col, op, lit) for col, (_, op, lit) in zip(having_cols, q.having)]
    n = len(having_cols[0])
    return [
        k for k in range(n) if all(_compare(c[k], op, lit) for c, op, lit in conds)
    ]


def _group_rows(q, gb, secs, agg_cols, key_value=None) -> list[tuple]:
    """Result rows of one bucket axis, built column by column: aggregate
    columns by select position, the bucket start/end as datetime vectors,
    and the group key (``ColRef``) repeated."""
    cols = []
    for item in q.select_order:
        if isinstance(item, AggSpec):
            cols.append(agg_cols[q.aggs.index(item)])
        elif isinstance(item, ColRef):
            cols.append([key_value] * len(secs))
        elif isinstance(item, WindowSpec) and item.field == "end":
            cols.append(secs_to_datetimes(secs + gb.width_sec))
        else:
            cols.append(secs_to_datetimes(secs))
    return list(zip(*cols))


def _bucket_positions(q) -> tuple[int, ...]:
    """Select positions holding the bucket (date_trunc or window start/end):
    a one-axis group-by emits rows ascending in each, without ties."""
    return tuple(
        i for i, item in enumerate(q.select_order)
        if not isinstance(item, (AggSpec, ColRef))
    )


def _filter_rows(keep, secs, cols):
    """Keep the HAVING-passing positions of an axis and its columns."""
    if keep is None:
        return secs, cols
    return secs[keep], [[c[k] for k in keep] for c in cols]


def _cell_reader(gb, gran, start_sec, end_sec):
    """The group-by kernel call for one grouping over one range."""
    if isinstance(gb, WindowSpec) and gb.hopping:
        return lambda w, keys: w.hop_group_by(
            start_sec, end_sec, gb.width_sec, gb.slide_sec, keys
        )
    return lambda w, keys: w.group_by(start_sec, end_sec, gran, keys)


_GROUP_GRANULARITIES = frozenset(GRANULARITY_SECONDS) | frozenset(
    CALENDAR_GRANULARITIES
)


def _group_gate(gb, time_column):
    """``(granularity, hopping)`` for a grouping the wheels answer — the
    engine's time column at a named granularity or a window width — else
    ``None`` (delegate: any other column would bucket the wrong axis)."""
    if gb.column != time_column:
        return None
    if isinstance(gb, WindowSpec):
        return gb.width_sec, gb.hopping
    if gb.granularity not in _GROUP_GRANULARITIES:
        return None
    return gb.granularity, False


def _landmark_span(wheels) -> tuple[int, int]:
    """The occupied span of complete wheels — a landmark group-by's range."""
    spans = [w for w in wheels if not w.empty]
    if not spans:
        return 0, 0
    return (
        min(w.low_sec for w in spans),
        max(w.high_sec_exclusive for w in spans),
    )


def _gran_detail(gb, gran, hopping) -> str:
    if hopping:
        return f"window:{gb.width_sec}s/{gb.slide_sec}s"
    return gran if isinstance(gran, str) else f"window:{gran}s"


def _grouped_answer(q, decision, got, agg_wheels):
    """The tail of the one-axis grouped families: HAVING over the columns,
    then one row per bucket (ascending, so a bucket-led ORDER BY is met)."""
    if isinstance(got, str):
        return _delegate(got)
    secs, cols = got
    n = len(q.aggs)
    secs, agg_cols = _filter_rows(_having_keep(q, cols[n:]), secs, cols[:n])
    rows = _group_rows(q, q.group_by, secs, agg_cols)
    return _answer(q, decision, rows, agg_wheels, ascending=_bucket_positions(q))


def _core_range(rng, bucket: int):
    """The wheel core of a BETWEEN / ``<=`` / ``>`` range — bounds aligned
    to the bucket, a strict lower bound's first bucket left to its sliver —
    or a delegate reason."""
    if rng.start_sec % bucket or rng.end_sec % bucket:
        return "no exact aligned range"
    start = rng.start_sec + (bucket if rng.lo_op == ">" else 0)
    if start > rng.end_sec:
        return "degenerate boundary range"
    return start, rng.end_sec


def _slivers(w, rng, bucket: int, keys):
    """One wheel's boundary slivers from its at-start states (rows at the
    exact bucket-start instant): ``(up, low)``, or a reason when the states
    cannot answer them.

    * ``up`` — ``ts <= b`` adds bucket b's at-start :class:`States`
      (µs-discrete timestamps make ``<= b`` ≡ ``< b + 1µs``); ``None`` for
      ``<``. That bucket sits one PAST the core, so ``covers()`` on the core
      never vouches for it: a ``time_range`` build ending exactly at b has
      no indexed rows there, and at_start would answer zero states and drop
      the boundary rows. Trusted only on a wheel that indexes the whole
      table or provably covers the sliver's bucket.
    * ``low`` — ``ts > a`` is ``(bucket a, its at-start rows)``, folded by
      :meth:`States.merge_sliver`; ``None`` for ``>=``."""
    if not getattr(w, "tracks_at_start", False):
        return "no at-start states"
    up = low = None
    if rng.hi_op == "<=":
        if not (w.complete or w.covers(rng.end_sec, rng.end_sec + bucket)):
            return "upper sliver not covered"
        up = States.of(w.at_start(rng.end_sec))
    if rng.lo_op == ">":
        at = w.at_start(rng.start_sec)
        whole = w.combine_range(rng.start_sec, rng.start_sec + bucket, keys)
        if whole is None or at is None:
            return "lower sliver not covered"
        low = (States.of(whole), States.of(at))
    return up, low


def _fold(st: States, up, low) -> States:
    """``st`` with the upper sliver, then the lower one — float sums add
    core, upper sliver, lower bucket, then subtract its at-start rows."""
    if up is not None:
        st = st.merge(up)
    return st if low is None else st.merge_sliver(*low)


def _scan_states(brow: dict, col) -> States:
    """One column's :class:`States` from the boundary scan's aggregate row
    (the ``state_agg_exprs`` names)."""
    return States(
        int(brow["__cnt"] or 0), int(brow.get(f"__vcnt_{col}") or 0),
        brow.get(f"__sum_{col}"), float(brow.get(f"__sumsq_{col}") or 0.0),
        brow.get(f"__min_{col}"), brow.get(f"__max_{col}"),
    )


#: SQL type → UwheelLocalRelation blob code (jvm/UwheelShim.scala).
_LOCALREL_CODES = {
    "BIGINT": 0, "INT": 1, "SMALLINT": 2, "TINYINT": 3,
    "DOUBLE": 4, "FLOAT": 5, "TIMESTAMP": 6, "STRING": 7,
}


def _shim_constant_df(spark, names, sql_types, rows):
    """Routed-answer fast path (r14): build the constant LocalRelation in
    ONE py4j call through the shim's ``UwheelLocalRelation`` instead of
    parsing a ``VALUES`` statement (~4-5 ms of JVM parse+analysis per
    fresh routed answer) or running the Arrow ``createDataFrame`` job.
    Rows ride as one byte blob (py4j bulk transfer). Returns ``None`` on
    shim-less or non-UTC sessions (the VALUES/Arrow paths remain) —
    answers, schema and nullability are identical either way (the Scala
    side mirrors the VALUES fold's nullability; pytest pins parity)."""
    ok = getattr(spark, "_uw_localrel_ok", None)
    if ok is None:
        try:
            # cache the CLASS handle: a py4j `_jvm.a.b.C` chain pays one
            # reflection round trip per package level on EVERY access
            # (~1.6 ms each on this box) — resolved once, the JavaClass
            # object calls straight through
            cls = spark._jvm.io.uwheel.spark.UwheelLocalRelation
            cls.ping()
            ok = spark.conf.get("spark.sql.session.timeZone") == "UTC"
            if ok:
                spark._uw_localrel_cls = cls
        except Exception:
            ok = False
        spark._uw_localrel_ok = ok
    if not ok:
        return None
    codes = []
    for t in sql_types:
        c = _LOCALREL_CODES.get(t)
        if c is None:
            return None
        codes.append(c)
    import calendar
    import struct

    buf = bytearray(struct.pack(">ii", len(rows), len(names)))
    buf += bytes(codes)
    for row in rows:
        for v, c in zip(row, codes):
            if v is None:
                buf.append(1)
                continue
            buf.append(0)
            if c <= 3:
                buf += struct.pack(">q", int(v))
            elif c <= 5:
                buf += struct.pack(">d", float(v))
            elif c == 6:
                # naive datetime in the (UTC-pinned) session zone → µs
                us = calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
                buf += struct.pack(">q", us)
            else:
                b = str(v).encode("utf-8")
                buf += struct.pack(">i", len(b)) + b
    try:
        jdf = spark._uw_localrel_cls.build(
            spark._jsparkSession, "\x1f".join(names), bytes(buf)
        )
    except Exception:
        return None
    from pyspark.sql import DataFrame as _PyDataFrame

    return _PyDataFrame(jdf, spark)


def constant_df(spark, names, sql_types, rows) -> DataFrame:
    """Constant ``(names, sql_types, rows)`` answer → LocalRelation
    DataFrame, for routed answers and the catalog's driver-evaluated CTE
    answers alike: shim ``UwheelLocalRelation`` first (one py4j call, zero
    jobs at ANY row count), then the VALUES fold (zero jobs; JVM parse
    cost grows with the rendered text). The r14 Arrow ``createDataFrame``
    branch for >32-row answers is retired (r15 verdict #8): it was dead
    code on shim sessions — the shim path serves every row count — and on
    the rare shim-less/non-UTC session a large VALUES parse is slower but
    exactly as correct, one code path fewer."""
    fast = _shim_constant_df(spark, names, sql_types, rows)
    if fast is not None:
        return fast
    cols = ", ".join(f"`{n}`" for n in names)
    if not rows:  # e.g. LIMIT 0 — typed empty LocalRelation, still no job
        nulls = "(" + ", ".join(_sql_literal(None, ty) for ty in sql_types) + ")"
        return spark.sql(
            f"SELECT * FROM VALUES {nulls} AS __uwheel({cols}) WHERE FALSE"
        )
    tuples = ", ".join(
        "(" + ", ".join(_sql_literal(v, ty) for v, ty in zip(row, sql_types)) + ")"
        for row in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {tuples} AS __uwheel({cols})")


def _sql_literal(value: Any, sql_type: str) -> str:
    """Render one constant as a Spark SQL literal of an exact type.

    Doubles go through a string cast: Spark's bare ``55.5`` literal is
    DECIMAL, and ``repr(float)`` + ``CAST(... AS DOUBLE)`` round-trips the
    exact bits (Java ``Double.parseDouble`` of the shortest repr).
    """
    if value is None:
        return f"CAST(NULL AS {sql_type})"
    if sql_type in ("BIGINT", "INT", "SMALLINT", "TINYINT"):
        return f"CAST({int(value)} AS {sql_type})"
    if sql_type in ("DOUBLE", "FLOAT"):
        f = float(value)
        if f != f:  # NaN
            return f"CAST('NaN' AS {sql_type})"
        if f == float("inf"):
            return f"CAST('Infinity' AS {sql_type})"
        if f == float("-inf"):
            return f"CAST('-Infinity' AS {sql_type})"
        return f"CAST('{f!r}' AS {sql_type})"
    if sql_type == "TIMESTAMP":
        return f"TIMESTAMP '{value.strftime('%Y-%m-%d %H:%M:%S')}'"
    if sql_type == "STRING":
        return "'" + str(value).replace("'", "''") + "'"
    raise ValueError(f"unsupported literal type {sql_type}")


def _is_empty_range(pred: MinMaxPredicate, lo: float, hi: float) -> bool:
    """Predicate provably matches nothing given range [lo, hi] of the column
    (``is_empty_range``, ``lib.rs:807-814``)."""
    if pred.op == ">":
        return hi <= pred.value
    if pred.op == ">=":
        return hi < pred.value
    if pred.op == "<":
        return lo >= pred.value
    if pred.op == "<=":
        return lo > pred.value
    return False


class Router:
    def __init__(self, engine: "WheelEngine"):
        self.engine = engine

    # ------------------------------------------------------------------ api
    def try_rewrite(
        self, q: ParsedQuery
    ) -> tuple[RouteDecision, Answer | object | None]:
        """Pattern-match the parsed query against the plan-shape guards
        (SURVEY.md §2.3). The answer is a constant :class:`Answer`,
        :data:`EMPTY` for a provably empty ``SELECT *``, or ``None`` to
        delegate; the caller materializes it (no DataFrame is built here)."""
        e = self.engine
        if q.table.lower() != e.name.lower():
            return _delegate("unknown table")
        # a ctor-deferred base wheel materializes at the first route (r14;
        # no-op on engines that already built or seeded it)
        e._ensure_base()

        # LIMIT on a grouped result is deterministic iff the ORDER BY
        # columns CONTAIN the rows' unique key — the time bucket, the
        # category key, or both for dim group-bys. Once every unique-key
        # column appears anywhere in the sort list the order is total, so
        # a tie on a leading aggregate no longer makes the kept row SET
        # engine-dependent: the top-k SQL shape (`GROUP BY key ORDER BY n
        # DESC, key LIMIT k`) routes (r8; before, only a leading
        # unique-bucket sort passed). Anything less delegates. Caveat
        # shared with value-ordered ORDER BY (routed long before LIMIT
        # was): a FLOAT aggregate whose wheel-combined value differs from
        # Spark's row-order summation in the last ulp can swap adjacent
        # ranks — integral COUNT/SUM sorts are exact.
        if q.limit is not None and (q.group_by is not None or q.group_key is not None):
            order_cols = {c for c, _ in q.order_by}
            unique = set()
            if isinstance(q.group_by, WindowSpec):
                # the GROUP BY window() expression itself is never a select
                # output — its start/end FIELDS are, and either one totally
                # identifies the bucket (fixed width/slide), so any one of
                # them in the sort list stands in for the bucket key
                fields = {
                    it.output_name
                    for it in q.select_order
                    if isinstance(it, WindowSpec) and it.field in ("start", "end")
                }
                if not (fields & order_cols):
                    return _delegate("nondeterministic LIMIT")
            elif q.group_by is not None:
                unique.add(q.group_by.output_name)
            if q.group_key is not None:
                unique.add(
                    next(
                        (
                            it.output_name
                            for it in q.select_order
                            if isinstance(it, ColRef)
                        ),
                        q.group_key,
                    )
                )
            if not unique <= order_cols:
                return _delegate("nondeterministic LIMIT")
        if q.having and q.group_by is None and q.group_key is None:
            return _delegate("HAVING without GROUP BY")

        if q.or_branches:
            return self._try_or_ranges(q)

        rng, residual = split_temporal_filter(q.conjuncts, e.time_column)

        if q.select_star:
            return self._try_pruning(q, rng, residual)

        if q.group_key is not None and q.group_by is None:
            # keys-only GROUP BY — the categorical rollup (also covers the
            # zero-aggregate DISTINCT-keys form)
            return self._try_key_group_by(q, rng, residual)

        if any(a.func == "count_distinct" for a in q.aggs):
            if len(q.aggs) == 1 and q.group_by is None:
                return self._try_count_distinct(q, rng, residual)
            return _delegate("COUNT(DISTINCT) mixed with other shapes")

        if any(a.func in APPROX_AGG_FUNCS for a in q.aggs):
            return self._try_approx(q, rng, residual)

        if not q.aggs:
            return _delegate("no aggregates")

        if q.group_by is not None:
            return self._try_group_by(q, rng, residual)

        if rng is not None and not rng.routable:
            # BETWEEN / `<=` / `>` boundaries: wheel for the full buckets +
            # the boundary slivers (exact, unlike the reference's `>`→`>=`
            # slop, expr.rs:219-222).
            if rng.hybrid_routable:
                return self._try_hybrid(q, rng, residual)
            return _delegate("no exact aligned range")
        sec = None if rng is not None else self._instant(q)
        if sec is not None:
            return self._try_instant(q, sec, residual)
        # `key IN (...)` over a partitioned family: one part per listed key
        hit = self._in_family(residual)
        if hit is not None:
            return self._try_in_aggregate(q, rng, residual, *hit)

        # One range (R1-R3) or the landmark (R5) — keyed too, beyond the
        # reference, which requires no filter at all (lib.rs:279-281): a
        # purely-keyed predicate matching a *complete* keyed wheel is
        # answerable over the whole span. Outside the indexed range the
        # read falls through (lib.rs:1498-1518).
        fk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS
        wheels = self._wheels(q, q.aggs, fk)
        if isinstance(wheels, str):
            return _delegate(wheels, fk=fk)
        span = _span(q, rng, residual, wheels)
        if isinstance(span, str):
            return _delegate(span, fk=fk)
        if span is None:
            kind = "landmark"
        elif len(q.aggs) == 1 and q.aggs[0].func == "count" and q.aggs[0].arg is None:
            kind = "count_range"
        else:
            kind = "single_agg" if len(q.aggs) == 1 else "multi_agg"
        return _scalar(
            q, RouteDecision(kind, index_key=wheels[0].key, detail={"fk": fk}),
            [(wheels, _scalar_reader(span))], wheels,
        )

    # ------------------------------------------------------------- helpers
    def _resolve_wheel(self, agg: AggSpec, filter_key: str) -> WheelIndex | None:
        """Map an aggregate expression to a registered wheel — the analogue of
        the per-aggregate map lookups in ``get_aggregate_result``
        (``lib.rs:663-688``). COUNT(col) is not COUNT(*) under NULLs, so only
        the wildcard form uses the count wheel (``is_count_star_aggregate``,
        ``lib.rs:883-907``)."""
        e = self.engine
        if agg.func == "count" and agg.arg is None:
            return e.count_wheels.get(filter_key)
        if agg.arg is None:
            return None
        # COUNT(col) falls through to the value wheel: its vcnt state is the
        # non-null count (absent on legacy wheels → the router delegates).
        w = e.agg_wheels.get((agg.arg, filter_key))
        if w is None:
            # Catalyst resolves columns case-insensitively; match it so
            # SUM(VALUE) finds the index built on "value".
            lowered = agg.arg.lower()
            for (col, fk), cand in e.agg_wheels.items():
                if fk == filter_key and col.lower() == lowered:
                    return cand
        return w

    def _wheels(self, q, specs, fk: str):
        """Each spec's wheel under filter key ``fk``, or a delegate reason."""
        return _resolved(q, specs, lambda s: self._resolve_wheel(s, fk))

    def _in_family(self, residual):
        """A ``key IN (...)`` residual over a partitioned family:
        ``(pset, values)`` — unless an explicitly built wheel matches the
        exact canonical IN filter, which is one lookup instead of N."""
        hit = self._partition_in_match(residual)
        if hit is None or canonical_filter_key(residual) in self.engine.count_wheels:
            return None
        return hit

    def _key_values(self, pset, column: str, residual):
        """The partition values a keyed family answers for: all of them, or
        those a ``column IN (...)`` residual lists (NULL never matches) —
        ``None`` for any other residual."""
        if not residual:
            return list(pset["wheels"])
        hit = self._partition_in_match(residual)
        if hit is None or hit[0] is not pset or residual[0].column.lower() != column.lower():
            return None
        return hit[1]

    def _instant(self, q) -> int | None:
        """The second of a lone ``ts = <literal>`` whose literal is a
        bucket-start instant, else ``None``."""
        e = self.engine
        eqs = [c for c in q.conjuncts if c.column == e.time_column]
        if len(eqs) != 1 or eqs[0].op != "=":
            return None
        ts = _ts_value(eqs[0])
        if ts is None or ts.epoch_us % MICROS_PER_SECOND:
            return None
        sec = ts.epoch_us // MICROS_PER_SECOND
        return None if sec % e.bucket_seconds else sec

    # ------------------------------------------------------------ group by
    def _try_group_by(self, q, rng, residual):
        e = self.engine
        if q.group_key is not None:
            return self._try_dim_group_by(q, rng, residual)
        gb = q.group_by
        # Tumbling window(ts, 'w') — any second-aligned width answers from
        # the wheel (the reference's R4 only maps five named date_trunc
        # granularities, lib.rs:348-358; Spark's idiomatic temporal-rollup
        # shape is this one). A slide != width makes it hopping —
        # overlapping windows via WheelIndex.hop_group_by.
        gate = _group_gate(gb, e.time_column)
        if gate is None:
            return _delegate("unsupported group expr")
        gran, hopping = gate
        detail = {"granularity": _gran_detail(gb, gran, hopping)}
        hit = self._in_family(residual)
        if hit is not None:
            return self._try_in_group_by(q, rng, residual, gran, detail, *hit)
        fk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS
        detail["fk"] = fk
        # HAVING aggregates read per bucket from wheel states too
        specs = _specs(q)
        wheels = self._wheels(q, specs, fk)
        if isinstance(wheels, str):
            return _delegate(wheels, fk=fk)
        if rng is not None and not rng.routable and rng.hybrid_routable and not hopping:
            # BETWEEN / `<=` / `>` bounds on a GROUP BY: core cells from the
            # wheel's group-by + boundary slivers folded into the cells that
            # contain them — beyond both the reference, which approximates
            # the ops and has no such group surface, and the scalar-only r4
            # hybrid here.
            return self._try_group_by_hybrid(q, gran, rng, specs, wheels, detail)
        # Landmark group-by (beyond the reference, which requires a temporal
        # Filter input, lib.rs:269-272,333-358): no temporal bounds at all —
        # a *complete* wheel covers the whole timeline, so group over its
        # full occupied span. Keyed-only predicates use the keyed wheel.
        span = _span(q, rng, residual, wheels)
        if isinstance(span, str):
            return _delegate(span, fk=fk)
        read = _cell_reader(gb, gran, *(_landmark_span(wheels) if span is None else span))
        kind = "group_by_landmark" if span is None else "group_by"
        return _grouped_answer(
            q, RouteDecision(kind, index_key=wheels[0].key, detail=detail),
            _group_columns(specs, wheels, read), wheels,
        )

    def _try_approx(self, q, rng, residual):
        """OPT-IN routing of Spark's approximate aggregates to the sketch
        rollups (r11 — the documented decision the r10 verdict asked for):
        ``approx_count_distinct(col)`` answers from the column's HLL rollup
        and ``percentile_approx/approx_percentile(col, p)`` from its KLL
        rollup, through the zero-job direct ask when the shim is present.

        NEVER fires unless ``engine.approx_routing`` is True: DataSketches
        estimates legitimately DIFFER from Spark's HLL++ /
        ApproximatePercentile values (both inside their published error
        bounds — but silent routing would change answer VALUES, breaking
        the engine's routed-equals-delegate contract). Opting in trades
        that equality for O(buckets) scans-free answers; the estimate
        error bounds are the rollups' own (~1.6% HLL at lg_k=12, ~1.65%
        KLL rank at k=200).

        Gates (everything else delegates): exactly one approx aggregate,
        no GROUP BY (the *_rows_by driver forms serve series asks), no
        residual predicate, a fresh rollup for the column, and bounds
        aligned to the rollup's bucket grid in force over the range —
        sketch range filters include partial edge buckets WHOLE (superset
        semantics), so an unaligned bound would silently over-cover where
        the wheels' second-aligned grid would not."""
        e = self.engine
        if not getattr(e, "approx_routing", False):
            return _delegate("approx routing is opt-in (engine.approx_routing)")
        if len(q.aggs) != 1 or q.group_by is not None or q.group_key is not None:
            return _delegate("approx agg mixed with other shapes")
        if residual or not q.conjuncts or rng is None or not rng.routable:
            return _delegate("approx route needs a pure aligned time range")
        agg = q.aggs[0]
        rollups = (
            e.distinct_rollups
            if agg.func == "approx_count_distinct"
            else e.quantile_rollups
        )
        rollup = rollups.get(agg.arg)
        if rollup is None:  # Catalyst-style case-insensitive resolution
            lowered = agg.arg.lower()
            for col, cand in rollups.items():
                if col.lower() == lowered:
                    rollup = cand
                    break
        if rollup is None or rollup.stale or rollup.key_column is not None:
            return _delegate(f"no fresh unkeyed rollup for {agg.arg!r}")
        a, b = rng.start_sec, rng.end_sec
        width = max(
            (tw for tend, tw in rollup.tiers if tend > a),
            default=rollup.bucket_seconds,
        )
        if a % width or b % width:
            return _delegate(f"bounds not aligned to {width}s rollup buckets")
        if agg.func == "approx_count_distinct":
            value: Any = int(rollup.approx_distinct(a, b))
            sql_type = "BIGINT"
        else:
            p = float(agg.param)
            if not 0.0 <= p <= 1.0:
                return _delegate("percentage outside [0, 1]")
            # the delegate returns the INPUT column's type (probed 4.1:
            # percentile_approx(int_col, p) is INT) — match it exactly, and
            # DELEGATE any type outside the map (r11 review: a DECIMAL
            # column builds a double-suffix rollup fine, but routing it
            # would answer DOUBLE where the delegate answers DECIMAL —
            # breaking the route's own name/type contract)
            dtypes = {c.lower(): t for c, t in e.df.dtypes}
            sql_type = {
                "tinyint": "TINYINT", "smallint": "SMALLINT", "int": "INT",
                "bigint": "BIGINT", "float": "FLOAT", "double": "DOUBLE",
            }.get(dtypes.get(agg.arg.lower()))
            if sql_type is None:
                return _delegate(
                    f"percentile input type of {agg.arg!r} has no routed equivalent"
                )
            value = rollup.approx_quantile(p, a, b)
        names = [agg.output_name]
        rows = [(value,)]
        if q.order_by or q.limit is not None:
            rows = _order_limit_rows(q, names, rows)
        decision = RouteDecision(
            "approx_agg", index_key=f"{e.name}.{agg.arg}.{agg.func}", detail={"width": width}
        )
        return decision, Answer(names, [sql_type], rows)

    def _try_count_distinct(self, q, rng, residual):
        """Exact ``COUNT(DISTINCT key)`` from a key-complete partitioned
        family: the number of non-NULL key values with rows in the range —
        key-completeness makes the count exact, not an estimate (contrast
        the opt-in HLL ``approx_distinct``, which serves arbitrary
        columns). Residual may be a ``key IN (...)`` on the same column;
        anything else delegates."""
        e = self.engine
        agg = q.aggs[0]
        pset = e.partition_sets.get((agg.arg or "").lower())
        if pset is None or not pset["wheels"]:
            return _delegate(f"no partitioned index on {agg.arg!r}")
        values = self._key_values(pset, agg.arg or "", residual)
        if values is None:
            return _delegate("residual with COUNT(DISTINCT)")
        # SQL ignores NULL keys
        cws = [pset["wheels"][v][None] for v in values if v is not None]
        span = _span(q, rng, residual, cws)
        if isinstance(span, str):
            return _delegate(span)
        read = _scalar_reader(span)
        n = 0
        for cw in cws:
            st = read(cw, ("count",))
            if st is None:
                return _delegate("range not covered")
            n += st["count"] > 0
        any_cw = next(iter(pset["wheels"].values()))[None]
        decision = RouteDecision(
            "count_distinct",
            index_key=f"{e.name}.{agg.arg}",
            detail={"partition_by": pset["key_column"], "keys": len(cws)},
        )
        return _answer(q, decision, [(n,)], [any_cw])

    def _try_key_group_by(self, q, rng, residual):
        """Keys-only ``GROUP BY key`` from a partitioned wheel family: one
        row per key value with count > 0 (SQL emits no empty groups; the
        zero-aggregate form is the DISTINCT-keys query) — one scalar part
        per key, concatenated. Temporal WHERE bounds restrict each key's
        read; no bounds is the categorical landmark (complete family
        required); a ``key IN (...)`` residual on the same column restricts
        the emitted groups."""
        e = self.engine
        pset = e.partition_sets.get(q.group_key.lower())
        if pset is None or not pset["wheels"]:
            return _delegate(f"no partitioned index on {q.group_key!r}")
        values = self._key_values(pset, q.group_key, residual)
        if values is None:
            return _delegate("residual filter with key group-by")
        fams = [pset["wheels"][v] for v in values]
        span = _span(q, rng, residual, [f[None] for f in fams])
        if isinstance(span, str):
            return _delegate(span)
        read = _scalar_reader(span)
        specs = [*_specs(q), _COUNT_STAR]
        n = len(q.aggs)
        rows = []
        for v, fam in zip(values, fams):
            wheels = [_family_wheel(fam, spec) for spec in specs]
            if None in wheels:
                # a key without rows in range emits no group, whatever
                # wheel it lacks
                st = read(fam[None], ("count",))
                if st is None:
                    return _delegate("range not covered")
                if st["count"] == 0:
                    continue
                return _delegate(_resolved(q, specs, lambda s: _family_wheel(fam, s)))
            vals = _values(specs, [(wheels, read)])
            if isinstance(vals, str):
                return _delegate(vals)
            if vals[-1] == 0:
                continue  # no rows for this key in range → no group
            if not all(
                _compare(val, op, lit)
                for val, (_spec, op, lit) in zip(vals[n:], q.having)
            ):
                continue
            rows.append(tuple(
                vals[q.aggs.index(it)] if isinstance(it, AggSpec) else v
                for it in q.select_order
            ))
        types = _type_wheels(pset, values, q.aggs)
        if isinstance(types, str):
            return _delegate(types)
        decision = RouteDecision(
            "group_by_landmark" if span is None else "group_by",
            index_key=f"{e.name}.{q.group_key}",
            detail={"partition_by": q.group_key, "keys": len(values)},
        )
        return _answer(q, decision, rows, types, pset["key_sql_type"])

    def _try_in_group_by(self, q, rng, residual, gran, detail, pset, values):
        """Temporal GROUP BY with a ``key IN (...)`` residual: one part per
        listed key, their bucket cells merged across the (disjoint) keys.
        Supports tumbling/hopping windows, HAVING, and the landmark
        (IN-only) form."""
        fams = [pset["wheels"][v] for v in values]
        allw = [f[None] for f in fams]
        span = _span(q, rng, residual, allw)
        if isinstance(span, str):
            return _delegate(span)
        read = _cell_reader(
            q.group_by, gran, *(_landmark_span(allw) if span is None else span)
        )
        specs = _specs(q)
        parts = []
        for fam in fams:
            wheels = _resolved(q, specs, lambda s: _family_wheel(fam, s))
            if isinstance(wheels, str):
                return _delegate(wheels)
            parts.append((wheels, read))
        types = _type_wheels(pset, values, q.aggs)
        if isinstance(types, str):
            return _delegate(types)
        key = pset["key_column"]
        decision = RouteDecision(
            "group_by_landmark" if span is None else "group_by",
            index_key=f"{self.engine.name}.{key}",
            detail={"in_keys": len(values), "partition_by": key, **detail},
        )
        return _grouped_answer(q, decision, _grouped(specs, parts), types)

    def _partition_in_match(self, residual):
        """Match a residual of exactly ``key IN (...)`` against a partitioned
        wheel family. Returns ``(pset, matched_values)`` or ``None``. Listed
        values absent from the family are dropped: the family is
        key-complete, so absence PROVES zero rows (contributing the monoid
        identity), and NULL never matches an IN list."""
        if len(residual) != 1 or residual[0].op != "in":
            return None
        c = residual[0]
        pset = self.engine.partition_sets.get(c.column.lower())
        if pset is None:
            return None
        if (c.value_kind == "number") != (pset["key_sql_type"] != "STRING"):
            return None  # type mismatch — let Spark decide the coercion
        lookup = {}
        for k in pset["wheels"]:
            if k is None:
                continue
            lookup[float(k) if c.value_kind == "number" else str(k)] = k
        matched = []
        for v in dict.fromkeys(c.value):  # deduped, stable order
            norm = float(v) if c.value_kind == "number" else str(v)
            if norm in lookup:
                matched.append(lookup[norm])
        return pset, matched

    def _try_in_aggregate(self, q, rng, residual, pset, values):
        """Scalar aggregates with a ``key IN (...)`` residual: one part per
        listed key — its family's wheels — merged across the (disjoint) key
        partitions, the same combine as OR-of-ranges applied across keys
        instead of intervals. No temporal bounds is the keyed-IN landmark
        (every listed wheel must be complete)."""
        fams = [pset["wheels"][v] for v in values]
        span = _span(q, rng, residual, [f[None] for f in fams])
        if isinstance(span, str):
            return _delegate(span)
        parts = []
        for fam in fams:
            wheels = _resolved(q, q.aggs, lambda a: _family_wheel(fam, a))
            if isinstance(wheels, str):
                return _delegate(wheels)
            parts.append((wheels, _scalar_reader(span)))
        types = _type_wheels(pset, values, q.aggs)
        if isinstance(types, str):
            return _delegate(types)
        key = pset["key_column"]
        decision = RouteDecision(
            "landmark" if span is None else "single_agg" if len(q.aggs) == 1 else "multi_agg",
            index_key=f"{self.engine.name}.{key}",
            detail={"in_keys": len(values), "partition_by": key},
        )
        return _scalar(q, decision, parts, types)

    def _try_dim_group_by(self, q, rng, residual):
        """GROUP BY (date_trunc | window) x categorical key, answered from a
        partitioned wheel family (``engine.build_partitioned_index``): one
        group-by per key value, concatenated. The family is key-complete by
        construction — every value present in the data (NULL included) owns
        a wheel — so assembling the per-value group-bys reproduces the
        scan's groups exactly. Beyond the reference, whose optimizer binds
        one filter per index and has no multi-dimension group-by at all
        (``lib.rs:76-77,269-272``)."""
        e = self.engine
        gb = q.group_by
        pset = e.partition_sets.get(q.group_key.lower())
        if pset is None:
            return _delegate(f"no partitioned index on {q.group_key!r}")
        # the one routable residual: `key IN (...)` on the group key itself
        # — restricts the emitted key groups (NULL never matches)
        values = self._key_values(pset, q.group_key, residual)
        if values is None:
            return _delegate("residual filter with dim group-by")
        gate = _group_gate(gb, e.time_column)
        if gate is None:
            return _delegate("unsupported group expr")
        gran, hopping = gate
        if not pset["wheels"]:
            return _delegate("empty partitioned index")
        fams = [pset["wheels"][v] for v in values]
        allw = [f[None] for f in fams]
        span = _span(q, rng, residual, allw)
        if isinstance(span, str):
            return _delegate(span)
        read = _cell_reader(gb, gran, *(_landmark_span(allw) if span is None else span))
        specs = _specs(q)
        n = len(q.aggs)
        rows = []
        for v, fam in zip(values, fams):
            wheels = _resolved(q, specs, lambda s: _family_wheel(fam, s))
            if isinstance(wheels, str):
                return _delegate(wheels)
            got = _group_columns(specs, wheels, read)
            if isinstance(got, str):
                return _delegate(got)
            secs, cols = got
            secs, agg_cols = _filter_rows(_having_keep(q, cols[n:]), secs, cols[:n])
            rows += _group_rows(q, gb, secs, agg_cols, key_value=v)
        types = _type_wheels(pset, values, q.aggs)
        if isinstance(types, str):
            return _delegate(types)
        decision = RouteDecision(
            "group_by_landmark" if span is None else "group_by",
            index_key=f"{e.name}.{q.group_key}",
            detail={
                "partition_by": q.group_key,
                "keys": len(values),
                "granularity": _gran_detail(gb, gran, hopping),
            },
        )
        return _answer(q, decision, rows, types, pset["key_sql_type"])

    # ---------------------------------------------------------- OR ranges
    def _try_or_ranges(self, q):
        """``WHERE (range) OR (range) [OR ...]`` — the multi-window
        comparison query ("this week OR the same week last year"), scalar
        or grouped ("... per day"). Branch intervals are union-merged (rows
        in overlapping branches count once); each merged interval is one
        part, and the parts' states merge — per bucket when grouped, where
        cells landing in the same calendar bucket from different intervals
        combine exactly, rows being disjoint across merged intervals. The
        Catalyst shim serves the grouped shape for plain ``spark.sql``
        (``condIntervals`` in ``tryGroupHybrid``). The reference rejects any
        OR outright (its predicate extractor only walks AND trees,
        ``expr.rs:198-207``)."""
        e = self.engine
        if q.select_star or not q.aggs:
            return _delegate("OR shape unsupported")
        if q.group_key is not None:
            # OR + a KEY grouping: the scalar path would silently drop the
            # key column — always hand the whole query to Spark
            return _delegate("OR with key grouping")
        fk = None
        intervals: list[tuple[int, int]] = []
        for conj in q.or_branches:
            rng, residual = split_temporal_filter(conj, e.time_column)
            if rng is None or not rng.routable:
                return _delegate("OR branch not routable")
            bfk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS
            if fk is None:
                fk = bfk
            elif bfk != fk:
                return _delegate("OR branches differ in filter")
            intervals.append((rng.start_sec, rng.end_sec))
        intervals.sort()
        merged: list[list[int]] = []
        for s, t in intervals:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], t)
            else:
                merged.append([s, t])
        detail = {"fk": fk, "intervals": [tuple(m) for m in merged]}

        gran = None
        if q.group_by is not None:
            # the SAME grouping gate as _try_group_by: the grouped column
            # must be the engine's time column (the wheel's buckets ARE that
            # column) at a supported granularity
            gate = _group_gate(q.group_by, e.time_column)
            if gate is None:
                return _delegate("unsupported group expr")
            gran = gate[0]
        specs = _specs(q)
        wheels = self._wheels(q, specs, fk)
        if isinstance(wheels, str):
            return _delegate(wheels, fk=fk)
        if gran is None:
            parts = [(wheels, _scalar_reader(m)) for m in merged]
            decision = RouteDecision("or_ranges", index_key=wheels[0].key, detail=detail)
            return _scalar(q, decision, parts, wheels)
        parts = [(wheels, _cell_reader(q.group_by, gran, s, t)) for s, t in merged]
        decision = RouteDecision("or_group_by", index_key=wheels[0].key, detail=detail)
        return _grouped_answer(q, decision, _grouped(specs, parts), wheels)

    # -------------------------------------------------------------- point
    def _try_instant(self, q, sec: int, residual):
        """``ts = <literal>`` where the literal is a bucket-start instant:
        the matching rows are exactly the bucket's at-start sliver (the
        reference refuses equality on the time column outright,
        ``expr.rs:351-356``) — one part, its raw at-start states finalized.
        Zero jobs; unaligned literals delegate."""
        bucket = self.engine.bucket_seconds
        fk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS
        wheels = self._wheels(q, q.aggs, fk)
        if isinstance(wheels, str):
            return _delegate(wheels, fk=fk)
        if not all(
            getattr(w, "tracks_at_start", False) and w.covers(sec, sec + bucket)
            for w in wheels  # span/alignment gate
        ):
            return _delegate("no at-start index", fk=fk)
        missing = _missing_state(q.aggs, wheels)
        if missing:
            return _delegate(missing, fk=fk)
        decision = RouteDecision(
            "point_agg", index_key=wheels[0].key, detail={"fk": fk, "sec": sec}
        )
        parts = [(wheels, lambda w, keys: w.at_start(sec))]
        return _scalar(q, decision, parts, wheels, at_start=True)

    # ------------------------------------------------------------- hybrid
    def _try_hybrid(self, q, rng, residual):
        """Boundary-exact rewrite for BETWEEN / ``<=`` / ``>`` temporal
        bounds (R2/R3 extended).

        The reference accepts these shapes by *approximating* (``>`` → ``>=``,
        ``<=`` → ``<``, ``expr.rs:83-105,219-222``) — silently wrong whenever
        sub-bucket timestamps exist. We answer them **exactly** by splitting
        the query interval into parts:

        * full buckets → the core range (µs, zero scan), and
        * boundary slivers → the wheels' at-start states (:func:`_slivers`),
          or, when those cannot answer them, ONE scan whose temporal
          predicate covers at most two bucket-widths: rows with
          ``ts == upper`` (from ``<=``) and/or ``ts ∈ (lower, lower +
          bucket)`` (from ``>``).

        At 100 TB the sliver scan prunes to a couple of row groups via the
        pushed-down timestamp predicate — the delegate alternative scans the
        whole range. The combined states are exact monoid sums, so results
        match delegated SQL bit-for-bit (modulo float summation order).
        """
        bucket = self.engine.bucket_seconds
        fk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS
        core = _core_range(rng, bucket)
        if isinstance(core, str):
            return _delegate(core, fk=fk)
        wheels = self._wheels(q, q.aggs, fk)
        if isinstance(wheels, str):
            return _delegate(wheels, fk=fk)

        def read(w, keys):
            whole = w.combine_range(core[0], core[1], keys)
            return None if whole is None else (whole, _slivers(w, rng, bucket, keys))

        got = _read_states(q.aggs, wheels, read, _combine_keys)
        if isinstance(got, str):
            return _delegate(got, fk=fk)
        keys = [_state_key(a) for a in q.aggs]
        missing = next((k for k, (c, _) in zip(keys, got) if k not in c), None)
        if missing:
            return _delegate(f"state {missing} not indexed", fk=fk)
        values = None
        if not any(isinstance(sl, str) for _, sl in got):
            # preferred: slivers from the wheels' own at-start states —
            # zero Spark jobs, like every other routed answer
            values = [_fold(States.of(c), *sl).finalize(k) for k, (c, sl) in zip(keys, got)]
        boundary = "wheel"
        if values is None or any(v is UNDERIVABLE for v in values):
            # Fallback (at-start states absent — spark backend / legacy
            # wheel — or a strict-lower min/max whose sliver mixes at-start
            # and interior rows): ONE scan pruned to ≤2 bucket-widths.
            boundary, brow = self._boundary_row(q, rng, residual, bucket)
            values = [
                States.of(c).merge(_scan_states(brow, a.arg)).finalize(k)
                for a, k, (c, _) in zip(q.aggs, keys, got)
            ]
        decision = RouteDecision(
            "hybrid_agg", index_key=wheels[0].key, detail={"fk": fk, "boundary": boundary}
        )
        return _answer(q, decision, [tuple(values)], wheels)

    def _try_group_by_hybrid(self, q, gran, rng, specs, wheels, detail):
        """GROUP BY date_trunc / tumbling window with BETWEEN / ``<=`` /
        ``>`` temporal bounds — the scalar hybrid's parts applied PER GROUP
        CELL, zero jobs: core cells from the wheel's group-by, boundary
        slivers (at-start states) folded into the cells that contain them.
        Each boundary instant lies in exactly one cell (cells are
        bucket-aligned and at least a bucket wide), and the cell keys come
        from the wheel's own group-by over the sliver's bucket — the same
        calendar logic as the core, nothing re-derived. Anything not
        derivable from states (mixed-bucket min/max, missing at-start
        tracking) delegates — never a wrong answer."""
        bucket = self.engine.bucket_seconds
        fk = detail["fk"]
        core = _core_range(rng, bucket)
        if isinstance(core, str):
            return _delegate(core, fk=fk)

        def read(w, keys):
            """One wheel's core cells plus its non-empty boundary slivers
            and the cells they land in, or a delegate reason."""
            if not getattr(w, "tracks_at_start", False):
                return "no at-start states"
            cells = w.group_by(core[0], core[1], gran, keys)
            if cells is None:
                return "range not covered"
            sl = _slivers(w, rng, bucket, keys)
            if isinstance(sl, str):
                return sl
            up, low = sl
            landed = []
            if up is not None and up.count:
                landed.append((rng.end_sec, "upper", up, None))
            if low is not None and low[0].count - low[1].count:
                landed.append((rng.start_sec, "lower", None, low))
            out = []
            for sec, side, u, lo in landed:
                g = w.group_by(sec, sec + bucket, gran, ())
                if g is None or not len(g[0]):
                    return f"{side} sliver cell unresolved"
                out.append((int(g[0][0]), u, lo))
            return cells, out

        got = _read_states(specs, wheels, read, _combine_keys)
        if isinstance(got, str):
            return _delegate(got, fk=fk)
        cell_values: list[dict] = []
        for spec, ((secs, cols), landed) in zip(specs, got):
            key = _state_key(spec)
            # State availability is validated independently of core
            # occupancy: an empty core plus a non-empty boundary sliver
            # would otherwise fabricate values from identity states on
            # subset-state wheels (group_by answers every carried key,
            # occupied or not — the same gate the scalar hybrid applies).
            if key not in cols:
                return _delegate(f"state {key} not indexed", fk=fk)
            buckets = secs.tolist()
            vals = dict(zip(buckets, cols[key]))
            # only the (at most two) cells a sliver lands in need the
            # states; every other cell is its core value. A `<=` instant a
            # core cell does not hold opens its own cell from the identity.
            for c in dict.fromkeys(c for c, _, _ in landed):
                st = States()
                if c in vals:
                    i = buckets.index(c)
                    st = States.of({k: col[i] for k, col in cols.items()})
                for c2, up, low in landed:
                    if c2 == c:
                        st = _fold(st, up, low)
                v = st.finalize(key)
                if v is UNDERIVABLE:
                    return _delegate("boundary not derivable from states", fk=fk)
                vals[c] = v
            cell_values.append(vals)
        buckets = sorted(set().union(*cell_values[: len(q.aggs)]))
        cols = [[vals.get(b) for b in buckets] for vals in cell_values]
        decision = RouteDecision("group_by_hybrid", index_key=wheels[0].key, detail=detail)
        return _grouped_answer(
            q, decision, (np.asarray(buckets, dtype=np.int64), cols), wheels
        )

    def _boundary_row(self, q, rng, residual, bucket: int):
        """Aggregate the boundary slivers in one pruned scan; returns
        ``(condition_sql, row_dict)`` with the same typed monoid states the
        batch build computes (``state_agg_exprs``)."""
        from ..operators.rollups import state_agg_exprs

        e = self.engine
        tc = e.time_column
        parts = []
        if rng.lo_op == ">":
            a = us_to_datetime(rng.start_us)
            a2 = us_to_datetime(rng.start_us + bucket * MICROS_PER_SECOND)
            parts.append(f"(`{tc}` > TIMESTAMP '{a}' AND `{tc}` < TIMESTAMP '{a2}')")
        if rng.hi_op == "<=":
            b = us_to_datetime(rng.end_us)
            parts.append(f"(`{tc}` = TIMESTAMP '{b}')")
        cond = " OR ".join(parts)
        if residual:
            cond = f"({cond}) AND " + " AND ".join(c.render() for c in residual)
        cols = sorted(
            {a.arg for a in q.aggs if a.arg is not None}, key=str.lower
        )
        src = e.df.filter(cond)
        aggs, _types = state_agg_exprs(src, tc, cols)
        return cond, src.agg(*aggs).collect()[0].asDict()

    def _try_pruning(self, q, rng, residual):
        """R6/R7: ``SELECT *`` whose result is provably empty →
        :data:`EMPTY`, skipping the scan entirely. Anything not *provably*
        empty must fall through to a real scan."""
        e = self.engine
        if rng is None or not rng.routable:
            return _delegate("no exact aligned range")
        count_wheel = e.count_wheels.get(STAR_AGGREGATION_ALIAS)
        if count_wheel is None:
            return _delegate("no count wheel")

        if not residual:
            n = count_wheel.count_range(rng.start_sec, rng.end_sec)
            if n == 0:
                return (
                    RouteDecision("prune_count", index_key=count_wheel.key),
                    EMPTY,
                )
            return _delegate("rows exist", count=n)

        # Keyed count pruning (beyond the reference): a registered keyed
        # wheel proving zero matching rows in the range prunes the scan even
        # when the residual isn't a numeric min/max predicate.
        fk = canonical_filter_key(residual)
        keyed_cw = e.count_wheels.get(fk)
        if keyed_cw is not None:
            n = keyed_cw.count_range(rng.start_sec, rng.end_sec)
            if n == 0:
                return (
                    RouteDecision("prune_count", index_key=keyed_cw.key, detail={"fk": fk}),
                    EMPTY,
                )

        pred = extract_min_max_predicate(residual)
        if pred is None or len(residual) != 1:
            return _delegate("residual not prunable")
        mm = e.min_max_wheels.get(pred.column)
        if mm is None:
            return _delegate("no minmax wheel")
        # Zero rows in range → empty regardless of the residual predicate.
        n = count_wheel.count_range(rng.start_sec, rng.end_sec)
        if n == 0:
            return RouteDecision("prune_count", index_key=count_wheel.key), EMPTY
        bounds = mm.min_max_range(rng.start_sec, rng.end_sec)
        if bounds is not None and _is_empty_range(pred, *bounds):
            return (
                RouteDecision(
                    "prune_minmax",
                    index_key=mm.key,
                    detail={"pred": f"{pred.column} {pred.op} {pred.value}", "bounds": bounds},
                ),
                EMPTY,
            )
        return _delegate("not provably empty")

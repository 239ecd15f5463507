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

Rewrites implemented (SURVEY.md §2.1):

* R1 COUNT(*) range        (``try_count_rewrite``,  ``lib.rs:599-604,717-724``)
* R2 single aggregate      (``create_uwheel_plan``, ``lib.rs:652-661``)
* R3 multiple aggregates   (``lib.rs:503-552,764-780``)
* R4 GROUP BY date_trunc   (``lib.rs:333-482,737-762``)
* R5 landmark aggregate    (``lib.rs:554-577,690-714``)
* R6 COUNT-based pruning   (``maybe_count_filter``, ``lib.rs:608-618``)
* R7 MIN/MAX-based pruning (``maybe_min_max_filter``, ``lib.rs:621-649``)

A matched answer launches **no Spark job at all** — the wheel lookup runs on
the driver in microseconds and the result is a constant row list; this mirrors
the reference's plan-time lookup (§3.1) and is what the BASELINE latency
numbers measure.
"""

from __future__ import annotations

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
    VARIANCE_KEYS,
    WheelIndex,
    _variance_states,
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


def _having_holds(val, op: str, lit: float) -> bool:
    """SQL three-valued HAVING: NULL comparisons are unknown → filtered out."""
    if val is None:
        return False
    if op == ">":
        return val > lit
    if op == ">=":
        return val >= lit
    if op == "<":
        return val < lit
    if op == "<=":
        return val <= lit
    if op == "=":
        return val == lit
    return val != lit


def _order_limit_rows(
    q, names: list[str], rows: list[tuple], ascending_cols=()
) -> list[tuple]:
    """Apply the query's ORDER BY / LIMIT to constant result rows.

    NULL placement matches Spark's defaults (ASC → nulls first, DESC →
    nulls last) via the ``(is_not_null, is_nan, value)`` sort key —
    Spark also orders NaN GREATER than every other double (ASC → NaN
    last, DESC → NaN first, before nulls' placement), where a bare
    Python tuple sort would leave NaN rows wherever comparison found
    them. Multi-key sorts compose through stable sorting in reverse key
    order. ``ascending_cols`` are column positions the rows already
    ascend in with no ties (the bucket of a one-axis group-by): an ORDER
    BY led by one of them, ascending, is already satisfied."""

    def key_of(v):
        nan = isinstance(v, float) and v != v
        return (v is not None, nan, 0.0 if nan else v)

    lead = q.order_by[0] if q.order_by else None
    if not (lead and lead[1] and names.index(lead[0]) in ascending_cols):
        for col, asc in reversed(q.order_by):
            i = names.index(col)
            rows.sort(key=lambda r: key_of(r[i]), reverse=not asc)
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


def _lookup_plan(specs, wheels, keys_of=lambda key: (key,)):
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


def _read_states(specs, wheels, read, keys_of=lambda key: (key,)):
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


#: COUNT(*) — the occupancy probe of the keyed families.
_COUNT_STAR = AggSpec("count", None, None)


def _pick_values(specs, got):
    """Each spec's value from its read states, or a delegate reason (the
    read's own, or the first state a wheel does not carry)."""
    if isinstance(got, str):
        return got
    values = []
    for spec, states in zip(specs, got):
        key = _state_key(spec)
        if key not in states:
            return f"state {key} not indexed"
        values.append(states[key])
    return values


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


def _merged_columns(specs, parts):
    """Monoid-merge the cells of disjoint parts (listed IN keys, OR
    intervals) onto one ascending bucket axis: ``parts`` holds one
    :func:`_read_states` answer per part, read with :func:`_combine_keys`.
    Returns ``(bucket_secs, columns)`` or a delegate reason; a missing
    state delegates only when its part has occupied buckets."""
    merged = []
    for i, spec in enumerate(specs):
        key = _state_key(spec)
        cells: dict[int, list] = {}
        for got in parts:
            secs, cols = got[i]
            if key not in cols:
                if len(secs):
                    return f"state {key} not indexed"
                continue
            names = list(cols)
            for b, *vals in zip(secs.tolist(), *cols.values()):
                cells.setdefault(b, []).append(dict(zip(names, vals)))
        merged.append(
            {b: _combine_interval_parts(key, ps) for b, ps in cells.items()}
        )
    buckets = sorted(set().union(*merged))
    return (
        np.asarray(buckets, dtype=np.int64),
        [[m.get(b) for b in buckets] for m in merged],
    )


def _having_keep(q, having_cols) -> list[int] | None:
    """Row positions passing every HAVING condition (``None``: no HAVING)."""
    if not q.having:
        return None
    conds = [(col, op, lit) for col, (_, op, lit) in zip(having_cols, q.having)]
    n = len(having_cols[0])
    return [
        k for k in range(n) if all(_having_holds(c[k], op, lit) for c, op, lit in conds)
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


def _combine_interval_parts(key: str, parts: list[dict]):
    """Monoid-sum per-interval states for the OR-of-ranges path (intervals
    are disjoint after union-merge, so counts/sums add exactly)."""
    if key == "count":
        return sum(p["count"] for p in parts)
    if key == "count_col":
        return sum(p["count_col"] for p in parts)
    vn = sum(p.get("count_col", p["count"]) for p in parts)
    if key in ("min", "max"):
        vals = [p[key] for p in parts if p[key] is not None]
        return (min(vals) if key == "min" else max(vals)) if vals else None
    if vn == 0:
        return None
    total_sum = sum(p["sum"] for p in parts if p["sum"] is not None)
    if key == "sum":
        return total_sum
    if key == "avg":
        return float(total_sum) / vn
    total_sq = sum(p["_sumsq"] for p in parts)
    return _variance_states(float(total_sum), float(total_sq), vn)[key]


#: Identity states standing in for a CORE a boundary sliver lands outside
#: of (e.g. a `<=` instant opening a group cell the core range never
#: touches). ``_sumsq`` is included — whether the wheel actually tracks it
#: is gated upstream by the per-aggregate state check.
_EMPTY_CORE: dict = {
    "count": 0,
    "count_col": 0,
    "sum": None,
    "_sumsq": 0.0,
    "min": None,
    "max": None,
    "avg": None,
}


def _hybrid_agg_value(key: str, core: dict, up, low_bucket, low_at):
    """One aggregate's value over ``core ∪ upper-sliver ∪ (first bucket −
    its at-start instant)`` from monoid states — the shared math of the
    scalar hybrid path and the grouped one (where ``core`` is a single
    group CELL's states). Returns ``(ok, value)``; ``ok=False`` marks a
    non-derivable combination (min/max over a mixed lower bucket, a
    missing sum-of-squares state) — callers fall back to a pruned scan or
    delegate."""
    if up is None and low_bucket is None:
        return True, core[key]

    def part_counts(states, at=False):
        n = states["count"]
        vn = states["vcnt"] if at else states.get("count_col", states["count"])
        return n, vn

    n = core["count"]
    vn = core.get("count_col", core["count"])
    if up is not None:
        n += up["count"]
        vn += up["vcnt"]
    if low_bucket is not None:
        bn, bvn = part_counts(low_bucket)
        n += bn - low_at["count"]
        vn += bvn - low_at["vcnt"]
    if key == "count":
        return True, n
    if key == "count_col":
        return True, vn

    if key in ("min", "max"):
        parts = []
        if core.get(key) is not None:
            parts.append(core[key])
        if up is not None and up.get(key) is not None:
            parts.append(up[key])
        if low_bucket is not None:
            _, bvn = part_counts(low_bucket)
            sliver_vn = bvn - low_at["vcnt"]
            if sliver_vn > 0:
                if low_at["vcnt"] == 0:
                    # sliver holds ALL of the bucket's non-null values
                    if low_bucket.get(key) is None:
                        return False, None
                    parts.append(low_bucket[key])
                else:
                    return False, None  # mixed bucket — not subtractable
        pick = min if key == "min" else max
        return True, (pick(parts) if parts else None)

    # additive numeric states: sum / sumsq-derived / avg
    def tot(state_key, at_key):
        t = core.get(state_key)
        t = 0 if t is None else t
        if state_key == "_sumsq" and "_sumsq" not in core:
            return None  # sumsq not tracked on this wheel
        if up is not None:
            uv = up.get(at_key)
            if uv is None and at_key in ("sum", "sumsq") and at_key not in up:
                return None
            t += uv if uv is not None else 0
        if low_bucket is not None:
            bv = low_bucket.get(state_key)
            t += 0 if bv is None else bv
            av = low_at.get(at_key)
            t -= 0 if av is None else av
        return t

    if key == "sum":
        s = tot("sum", "sum")
        return True, (None if vn == 0 or s is None else s)
    if key == "avg":
        s = tot("sum", "sum")
        return True, (None if vn == 0 or s is None else float(s) / vn)
    # variance family
    s = tot("sum", "sum")
    sq = tot("_sumsq", "sumsq")
    if s is None or sq is None:
        return False, None
    if vn == 0:
        return True, None
    return True, _variance_states(float(s), float(sq), vn)[key]


def _combine_core_boundary(agg: AggSpec, core: dict, brow: dict):
    """Exact monoid combine of the wheel's core-range states with the
    boundary scan's single aggregate row (states named by
    ``state_agg_exprs``): counts/sums add, min/max combine, AVG and the
    variance family re-derive from the combined (sum, sumsq, non-null count)."""
    c = agg.arg
    key = _state_key(agg)
    bcnt = int(brow["__cnt"] or 0)
    n = core["count"] + bcnt
    if key == "count":
        return n
    bvn = int(brow.get(f"__vcnt_{c}") or 0)
    vn = core.get("count_col", core["count"]) + bvn
    if key == "count_col":
        return vn
    bsum = brow.get(f"__sum_{c}")
    csum = core.get("sum")
    total_sum = None if (csum is None and bsum is None) else (csum or 0) + (bsum or 0)
    if key == "sum":
        return total_sum
    if key == "avg":
        return float(total_sum) / vn if vn else None
    if key == "min":
        vals = [v for v in (core.get("min"), brow.get(f"__min_{c}")) if v is not None]
        return min(vals) if vals else None
    if key == "max":
        vals = [v for v in (core.get("max"), brow.get(f"__max_{c}")) if v is not None]
        return max(vals) if vals else None
    if vn == 0:
        return None
    total_sq = (core.get("_sumsq") or 0.0) + float(brow.get(f"__sumsq_{c}") or 0.0)
    return _variance_states(float(total_sum), total_sq, vn)[key]



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
            return RouteDecision("delegate", detail={"reason": "unknown table"}), None
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
                    return (
                        RouteDecision(
                            "delegate",
                            detail={"reason": "nondeterministic LIMIT"},
                        ),
                        None,
                    )
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
                return (
                    RouteDecision(
                        "delegate", detail={"reason": "nondeterministic LIMIT"}
                    ),
                    None,
                )
        if q.having and q.group_by is None and q.group_key is None:
            return (
                RouteDecision("delegate", detail={"reason": "HAVING without GROUP BY"}),
                None,
            )

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
            return (
                RouteDecision(
                    "delegate",
                    detail={"reason": "COUNT(DISTINCT) mixed with other shapes"},
                ),
                None,
            )

        if any(a.func in APPROX_AGG_FUNCS for a in q.aggs):
            return self._try_approx(q, rng, residual)

        if not q.aggs:
            return RouteDecision("delegate", detail={"reason": "no aggregates"}), None

        if q.group_by is not None:
            return self._try_group_by(q, rng, residual)

        if not q.conjuncts:
            return self._try_landmark(q, STAR_AGGREGATION_ALIAS)

        if rng is None or not rng.routable:
            # BETWEEN / `<=` / `>` boundaries: wheel for the full buckets +
            # a pruned boundary scan for the edge slivers (exact, unlike the
            # reference's `>`→`>=` slop, expr.rs:219-222).
            if rng is not None and rng.hybrid_routable:
                return self._try_hybrid(q, rng, residual)
            # Point query `ts = <bucket-aligned literal>`: exactly the
            # at-start sliver of one bucket (µs-discrete timestamps) —
            # answered from the sliver states, zero jobs.
            if rng is None:
                eqs = [c for c in q.conjuncts if c.column == e.time_column]
                if len(eqs) == 1 and eqs[0].op == "=":
                    ts = _ts_value(eqs[0])
                    if (
                        ts is not None
                        and ts.epoch_us % MICROS_PER_SECOND == 0
                        and (ts.epoch_us // MICROS_PER_SECOND) % e.bucket_seconds == 0
                    ):
                        return self._try_instant(
                            q, ts.epoch_us // MICROS_PER_SECOND, residual
                        )
            # Keyed landmark (beyond the reference, which requires no filter
            # at all, lib.rs:279-281): a purely-keyed predicate matching a
            # *complete* keyed wheel is answerable over the whole span.
            if rng is None and residual and len(residual) == len(q.conjuncts):
                hit = self._partition_in_match(residual)
                if hit is not None and canonical_filter_key(residual) not in e.count_wheels:
                    return self._try_in_aggregate(q, None, *hit)
                fk = canonical_filter_key(residual)
                return self._try_landmark(q, fk)
            return (
                RouteDecision("delegate", detail={"reason": "no exact aligned range"}),
                None,
            )

        # `key IN (...)` over a partitioned family: monoid-sum the per-value
        # answers — unless an explicitly-built wheel matches the exact
        # canonical IN filter, which is one lookup instead of N.
        hit = self._partition_in_match(residual)
        if hit is not None and canonical_filter_key(residual) not in e.count_wheels:
            return self._try_in_aggregate(q, rng, *hit)

        fk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS

        wheels: list[WheelIndex] = []
        for agg in q.aggs:
            w = self._resolve_wheel(agg, fk)
            if w is None:
                return (
                    RouteDecision("delegate", detail={"reason": f"no index for {agg.func}", "fk": fk}),
                    None,
                )
            wheels.append(w)

        # outside indexed range → fall through (lib.rs:1498-1518); a state
        # not built on a wheel (per-agg subset) delegates too
        values = _pick_values(
            q.aggs,
            _read_states(
                q.aggs, wheels,
                lambda w, keys: w.combine_range(rng.start_sec, rng.end_sec, keys),
            ),
        )
        if isinstance(values, str):
            return RouteDecision("delegate", detail={"reason": values}), None

        kind = (
            "count_range"
            if len(q.aggs) == 1 and q.aggs[0].func == "count" and q.aggs[0].arg is None
            else ("single_agg" if len(q.aggs) == 1 else "multi_agg")
        )
        ans = self._scalar_result(q.aggs, values, wheels, q)
        return RouteDecision(kind, index_key=wheels[0].key, detail={"fk": fk}), ans

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

    def _scalar_result(
        self,
        aggs: list[AggSpec],
        values: list[Any],
        wheels: list[WheelIndex],
        q=None,
    ) -> Answer:
        names = [a.output_name for a in aggs]
        types = [_agg_sql_type(a, w) for a, w in zip(aggs, wheels)]
        rows = [tuple(values)]
        if q is not None and (q.order_by or q.limit is not None):
            rows = _order_limit_rows(q, names, rows)
        return Answer(names, types, rows)

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
            return (
                RouteDecision("delegate", detail={"reason": "unsupported group expr"}),
                None,
            )
        gran, hopping = gate
        if residual:
            hit = self._partition_in_match(residual)
            if hit is not None and canonical_filter_key(residual) not in e.count_wheels:
                return self._try_in_group_by(q, rng, *hit)
        fk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS

        wheels: list[WheelIndex] = []
        for agg in q.aggs:
            w = self._resolve_wheel(agg, fk)
            if w is None:
                return RouteDecision("delegate", detail={"reason": f"no index for {agg.func}", "fk": fk}), None
            wheels.append(w)

        # Landmark group-by (beyond the reference, which requires a temporal
        # Filter input, lib.rs:269-272,333-358): no temporal bounds at all —
        # a *complete* wheel covers the whole timeline, so group over its
        # full occupied span. Keyed-only predicates use the keyed wheel.
        kind = "group_by"
        if rng is None and len(residual) == len(q.conjuncts):
            if not all(w.complete for w in wheels):
                return (
                    RouteDecision("delegate", detail={"reason": "no complete index", "fk": fk}),
                    None,
                )
            start_sec, end_sec = _landmark_span(wheels)
            kind = "group_by_landmark"
        elif rng is None or not rng.routable:
            # BETWEEN / `<=` / `>` bounds on a GROUP BY: core cells from the
            # wheel's group-by + boundary slivers folded into the cells that
            # contain them (the scalar hybrid's exact monoid algebra applied
            # per cell — beyond both the reference, which approximates the
            # ops and has no such group surface, and the scalar-only r4
            # hybrid here).
            if rng is not None and rng.hybrid_routable and not hopping:
                return self._try_group_by_hybrid(
                    q, gb, gran, rng, residual, wheels, fk
                )
            return RouteDecision("delegate", detail={"reason": "no exact aligned range"}), None
        else:
            start_sec, end_sec = rng.start_sec, rng.end_sec

        # HAVING aggregates read per bucket from wheel states too — they
        # need not be in the select list
        hwheels = []
        for spec, _op, _lit in q.having:
            hw = self._resolve_wheel(spec, fk)
            if hw is None:
                return (
                    RouteDecision(
                        "delegate", detail={"reason": f"no index for HAVING {spec.func}"}
                    ),
                    None,
                )
            hwheels.append(hw)
        specs = [*q.aggs, *(spec for spec, _op, _lit in q.having)]
        got = _group_columns(
            specs, wheels + hwheels, _cell_reader(gb, gran, start_sec, end_sec)
        )
        if isinstance(got, str):
            return RouteDecision("delegate", detail={"reason": got}), None
        secs, cols = got
        n = len(q.aggs)
        secs, agg_cols = _filter_rows(_having_keep(q, cols[n:]), secs, cols[:n])
        rows = _group_rows(q, gb, secs, agg_cols)

        names, types = [], []
        for item in q.select_order:
            names.append(item.output_name)
            if isinstance(item, AggSpec):
                types.append(_agg_sql_type(item, wheels[q.aggs.index(item)]))
            else:
                types.append("TIMESTAMP")
        if q.order_by or q.limit is not None:
            rows = _order_limit_rows(q, names, rows, _bucket_positions(q))
        ans = Answer(names, types, rows)
        return (
            RouteDecision(
                kind,
                index_key=wheels[0].key,
                detail={"granularity": _gran_detail(gb, gran, hopping), "fk": fk},
            ),
            ans,
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
            return (
                RouteDecision(
                    "delegate",
                    detail={"reason": "approx routing is opt-in (engine.approx_routing)"},
                ),
                None,
            )
        if len(q.aggs) != 1 or q.group_by is not None or q.group_key is not None:
            return (
                RouteDecision(
                    "delegate",
                    detail={"reason": "approx agg mixed with other shapes"},
                ),
                None,
            )
        if residual or not q.conjuncts or rng is None or not rng.routable:
            return (
                RouteDecision(
                    "delegate",
                    detail={"reason": "approx route needs a pure aligned time range"},
                ),
                None,
            )
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
            return (
                RouteDecision(
                    "delegate",
                    detail={"reason": f"no fresh unkeyed rollup for {agg.arg!r}"},
                ),
                None,
            )
        a, b = rng.start_sec, rng.end_sec
        width = max(
            (tw for tend, tw in rollup.tiers if tend > a),
            default=rollup.bucket_seconds,
        )
        if a % width or b % width:
            return (
                RouteDecision(
                    "delegate",
                    detail={"reason": f"bounds not aligned to {width}s rollup buckets"},
                ),
                None,
            )
        if agg.func == "approx_count_distinct":
            value: Any = int(rollup.approx_distinct(a, b))
            sql_type = "BIGINT"
        else:
            p = float(agg.param)
            if not 0.0 <= p <= 1.0:
                return (
                    RouteDecision(
                        "delegate",
                        detail={"reason": "percentage outside [0, 1]"},
                    ),
                    None,
                )
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
                return (
                    RouteDecision(
                        "delegate",
                        detail={
                            "reason": f"percentile input type of {agg.arg!r} "
                            "has no routed equivalent"
                        },
                    ),
                    None,
                )
            value = rollup.approx_quantile(p, a, b)
        names = [agg.output_name]
        rows = [(value,)]
        if q.order_by or q.limit is not None:
            rows = _order_limit_rows(q, names, rows)
        ans = Answer(names, [sql_type], rows)
        return (
            RouteDecision(
                "approx_agg",
                index_key=f"{e.name}.{agg.arg}.{agg.func}",
                detail={"width": width},
            ),
            ans,
        )

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
            return (
                RouteDecision(
                    "delegate",
                    detail={"reason": f"no partitioned index on {agg.arg!r}"},
                ),
                None,
            )
        sel_values = None
        if residual:
            hit = self._partition_in_match(residual)
            if (
                hit is None
                or hit[0] is not pset
                or residual[0].column.lower() != (agg.arg or "").lower()
            ):
                return (
                    RouteDecision(
                        "delegate", detail={"reason": "residual with COUNT(DISTINCT)"}
                    ),
                    None,
                )
            sel_values = hit[1]
        values = sel_values if sel_values is not None else list(pset["wheels"])
        values = [v for v in values if v is not None]  # SQL ignores NULL keys

        landmark = rng is None and len(residual) == len(q.conjuncts)
        if landmark:
            if not all(pset["wheels"][v][None].complete for v in values):
                return (
                    RouteDecision("delegate", detail={"reason": "no complete index"}),
                    None,
                )
        elif rng is None or not rng.routable:
            return (
                RouteDecision("delegate", detail={"reason": "no exact aligned range"}),
                None,
            )

        n = 0
        for v in values:
            cw = pset["wheels"][v][None]
            st = (
                cw.landmark()
                if landmark
                else cw.combine_range(rng.start_sec, rng.end_sec, ("count",))
            )
            if st is None:
                return (
                    RouteDecision("delegate", detail={"reason": "range not covered"}),
                    None,
                )
            if st["count"] > 0:
                n += 1
        any_cw = next(iter(pset["wheels"].values()))[None]
        ans = self._scalar_result([agg], [n], [any_cw], q)
        return (
            RouteDecision(
                "count_distinct",
                index_key=f"{e.name}.{agg.arg}",
                detail={"partition_by": pset["key_column"], "keys": len(values)},
            ),
            ans,
        )

    def _try_key_group_by(self, q, rng, residual):
        """Keys-only ``GROUP BY key`` from a partitioned wheel family: one
        row per key value with count > 0 (SQL emits no empty groups; the
        zero-aggregate form is the DISTINCT-keys query). Temporal WHERE
        bounds restrict via per-value ``combine_range``; no bounds is the
        categorical landmark (complete family required); a ``key IN (...)``
        residual on the same column restricts the emitted groups."""
        e = self.engine
        pset = e.partition_sets.get(q.group_key.lower())
        if pset is None or not pset["wheels"]:
            return (
                RouteDecision(
                    "delegate",
                    detail={"reason": f"no partitioned index on {q.group_key!r}"},
                ),
                None,
            )
        sel_values = None
        if residual:
            hit = self._partition_in_match(residual)
            if (
                hit is None
                or hit[0] is not pset
                or residual[0].column.lower() != q.group_key.lower()
            ):
                return (
                    RouteDecision(
                        "delegate", detail={"reason": "residual filter with key group-by"}
                    ),
                    None,
                )
            sel_values = hit[1]
        values = sel_values if sel_values is not None else list(pset["wheels"])

        temporal_left = len(residual) != len(q.conjuncts)
        kind = "group_by"
        if rng is None and not temporal_left:
            if not all(pset["wheels"][v][None].complete for v in values):
                return (
                    RouteDecision("delegate", detail={"reason": "no complete index"}),
                    None,
                )
            kind = "group_by_landmark"
        elif rng is None or not rng.routable:
            return (
                RouteDecision("delegate", detail={"reason": "no exact aligned range"}),
                None,
            )

        def states_of(w, keys):
            if kind == "group_by_landmark":
                return w.landmark()
            return w.combine_range(rng.start_sec, rng.end_sec, keys)

        hspecs = [spec for spec, _op, _lit in q.having]
        specs = [_COUNT_STAR, *q.aggs, *hspecs]
        n = len(q.aggs)
        rows = []
        type_wheels: dict[int, WheelIndex] = {}
        for v in values:
            wheels = [_family_wheel(pset["wheels"][v], spec) for spec in specs]
            if None in wheels:
                # a key without rows in range emits no group, whatever
                # wheel it lacks
                cstates = states_of(wheels[0], ("count",))
                if cstates is None:
                    return (
                        RouteDecision("delegate", detail={"reason": "range not covered"}),
                        None,
                    )
                if cstates["count"] == 0:
                    continue
                i = wheels.index(None)
                what = "" if i <= n else "HAVING "
                return (
                    RouteDecision(
                        "delegate",
                        detail={"reason": f"no index for {what}{specs[i].func}"},
                    ),
                    None,
                )
            got = _read_states(specs, wheels, states_of)
            if isinstance(got, str):
                return RouteDecision("delegate", detail={"reason": got}), None
            if got[0]["count"] == 0:
                continue  # no rows for this key in range → no group
            vals = _pick_values(specs[1:], got[1:])
            if isinstance(vals, str):
                return RouteDecision("delegate", detail={"reason": vals}), None
            type_wheels.update(enumerate(wheels[1 : n + 1]))
            if not all(
                _having_holds(val, op, lit)
                for val, (_spec, op, lit) in zip(vals[n:], q.having)
            ):
                continue
            row = []
            for item in q.select_order:
                if isinstance(item, AggSpec):
                    row.append(vals[q.aggs.index(item)])
                else:  # ColRef — the key itself
                    row.append(v)
            rows.append(tuple(row))

        names, types = [], []
        for item in q.select_order:
            names.append(item.output_name)
            if isinstance(item, AggSpec):
                i = q.aggs.index(item)
                tw = type_wheels.get(i)
                if tw is None:  # zero emitted groups — type from any family
                    tw = _family_wheel(next(iter(pset["wheels"].values())), item)
                if tw is None:
                    return (
                        RouteDecision(
                            "delegate", detail={"reason": f"no index for {item.func}"}
                        ),
                        None,
                    )
                types.append(_agg_sql_type(item, tw))
            else:
                types.append(pset["key_sql_type"])
        if q.order_by or q.limit is not None:
            rows = _order_limit_rows(q, names, rows)
        ans = Answer(names, types, rows)
        return (
            RouteDecision(
                kind,
                index_key=f"{e.name}.{q.group_key}",
                detail={"partition_by": q.group_key, "keys": len(values)},
            ),
            ans,
        )

    def _try_in_group_by(self, q, rng, pset, values):
        """Temporal GROUP BY with a ``key IN (...)`` residual: per-value
        bucket states merged across the (disjoint) listed keys — per bucket
        the same monoid combine as OR-of-ranges. Supports tumbling/hopping
        windows, HAVING, and the landmark (IN-only) form."""
        e = self.engine
        gb = q.group_by
        gran = gb.width_sec if isinstance(gb, WindowSpec) else gb.granularity
        hopping = isinstance(gb, WindowSpec) and gb.hopping

        kind = "group_by"
        if rng is None and len(q.conjuncts) == 1:  # IN residual only
            allw = [pset["wheels"][v][None] for v in values]
            if not all(w.complete for w in allw):
                return (
                    RouteDecision("delegate", detail={"reason": "no complete index"}),
                    None,
                )
            start_sec, end_sec = _landmark_span(allw)
            kind = "group_by_landmark"
        elif rng is None or not rng.routable:
            return (
                RouteDecision("delegate", detail={"reason": "no exact aligned range"}),
                None,
            )
        else:
            start_sec, end_sec = rng.start_sec, rng.end_sec

        read = _cell_reader(gb, gran, start_sec, end_sec)
        specs = [*q.aggs, *(spec for spec, _op, _lit in q.having)]
        parts = []
        for v in values:
            wheels = [_family_wheel(pset["wheels"][v], spec) for spec in specs]
            if None in wheels:
                spec = specs[wheels.index(None)]
                return (
                    RouteDecision("delegate", detail={"reason": f"no index for {spec.func}"}),
                    None,
                )
            got = _read_states(specs, wheels, read, _combine_keys)
            if isinstance(got, str):
                return RouteDecision("delegate", detail={"reason": got}), None
            parts.append(got)
        got = _merged_columns(specs, parts)
        if isinstance(got, str):
            return RouteDecision("delegate", detail={"reason": got}), None
        secs, cols = got
        n = len(q.aggs)
        secs, agg_cols = _filter_rows(_having_keep(q, cols[n:]), secs, cols[:n])
        rows = _group_rows(q, gb, secs, agg_cols)
        names, types = [], []
        any_key = next(iter(pset["wheels"]))
        for item in q.select_order:
            names.append(item.output_name)
            if isinstance(item, AggSpec):
                tw = None
                for v in [*values, any_key]:
                    tw = _family_wheel(pset["wheels"][v], item)
                    if tw is not None:
                        break
                if tw is None:
                    return (
                        RouteDecision(
                            "delegate", detail={"reason": f"no index for {item.func}"}
                        ),
                        None,
                    )
                types.append(_agg_sql_type(item, tw))
            else:
                types.append("TIMESTAMP")
        if q.order_by or q.limit is not None:
            rows = _order_limit_rows(q, names, rows, _bucket_positions(q))
        ans = Answer(names, types, rows)
        return (
            RouteDecision(
                kind,
                index_key=f"{e.name}.{pset['key_column']}",
                detail={
                    "in_keys": len(values),
                    "partition_by": pset["key_column"],
                    "granularity": _gran_detail(gb, gran, hopping),
                },
            ),
            ans,
        )

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

    def _try_in_aggregate(self, q, rng, pset, values):
        """Scalar aggregates with a ``key IN (...)`` residual: per-value
        wheel states monoid-summed across the (disjoint) key partitions —
        the same combine as OR-of-ranges, applied across keys instead of
        intervals. ``rng=None`` means the keyed-IN landmark (no temporal
        bounds; every listed wheel must be complete)."""
        if rng is None:
            for v in values:
                if not pset["wheels"][v][None].complete:
                    return (
                        RouteDecision("delegate", detail={"reason": "no complete index"}),
                        None,
                    )
            read = lambda w, keys: w.landmark()  # noqa: E731
        elif not rng.routable:
            return (
                RouteDecision("delegate", detail={"reason": "no exact aligned range"}),
                None,
            )
        else:
            read = lambda w, keys: w.combine_range(  # noqa: E731
                rng.start_sec, rng.end_sec, keys
            )

        parts = []
        for v in values:
            wheels = [_family_wheel(pset["wheels"][v], agg) for agg in q.aggs]
            if None in wheels:
                agg = q.aggs[wheels.index(None)]
                return (
                    RouteDecision("delegate", detail={"reason": f"no index for {agg.func}"}),
                    None,
                )
            got = _read_states(q.aggs, wheels, read, _combine_keys)
            vals = _pick_values(q.aggs, got)  # availability gate
            if isinstance(vals, str):
                return RouteDecision("delegate", detail={"reason": vals}), None
            parts.append(got)
        # typed from the last listed family (every listed value absent —
        # still typed, from any family)
        type_fam = pset["wheels"][values[-1] if values else next(iter(pset["wheels"]))]
        out, wheels = [], []
        for i, agg in enumerate(q.aggs):
            w = _family_wheel(type_fam, agg)
            if w is None:
                return (
                    RouteDecision("delegate", detail={"reason": f"no index for {agg.func}"}),
                    None,
                )
            out.append(_combine_interval_parts(_state_key(agg), [p[i] for p in parts]))
            wheels.append(w)
        ans = self._scalar_result(q.aggs, out, wheels, q)
        return (
            RouteDecision(
                "landmark" if rng is None else "single_agg" if len(q.aggs) == 1 else "multi_agg",
                index_key=f"{self.engine.name}.{pset['key_column']}",
                detail={"in_keys": len(values), "partition_by": pset["key_column"]},
            ),
            ans,
        )

    def _try_dim_group_by(self, q, rng, residual):
        """GROUP BY (date_trunc | window) x categorical key, answered from a
        partitioned wheel family (``engine.build_partitioned_index``). The
        family is key-complete by construction — every value present in the
        data (NULL included) owns a wheel — so assembling the per-value
        group-bys reproduces the scan's groups exactly. Beyond the
        reference, whose optimizer binds one filter per index and has no
        multi-dimension group-by at all (``lib.rs:76-77,269-272``)."""
        e = self.engine
        gb = q.group_by
        pset = e.partition_sets.get(q.group_key.lower())
        if pset is None:
            return (
                RouteDecision(
                    "delegate",
                    detail={"reason": f"no partitioned index on {q.group_key!r}"},
                ),
                None,
            )
        sel_values = None
        if residual:
            # the one routable residual: `key IN (...)` on the group key
            # itself — restricts the emitted key groups (NULL never matches)
            hit = self._partition_in_match(residual)
            if (
                hit is None
                or hit[0] is not pset
                or residual[0].column.lower() != q.group_key.lower()
            ):
                return (
                    RouteDecision(
                        "delegate", detail={"reason": "residual filter with dim group-by"}
                    ),
                    None,
                )
            sel_values = hit[1]
        gate = _group_gate(gb, e.time_column)
        if gate is None:
            return (
                RouteDecision("delegate", detail={"reason": "unsupported group expr"}),
                None,
            )
        gran, hopping = gate

        if not pset["wheels"]:
            return (
                RouteDecision("delegate", detail={"reason": "empty partitioned index"}),
                None,
            )
        values = sel_values if sel_values is not None else list(pset["wheels"])

        kind = "group_by"
        if rng is None and not q.conjuncts:
            allw = [pset["wheels"][v][None] for v in values]
            if not all(w.complete for w in allw):
                return (
                    RouteDecision("delegate", detail={"reason": "no complete index"}),
                    None,
                )
            start_sec, end_sec = _landmark_span(allw)
            kind = "group_by_landmark"
        elif rng is None or not rng.routable:
            return RouteDecision("delegate", detail={"reason": "no exact aligned range"}), None
        else:
            start_sec, end_sec = rng.start_sec, rng.end_sec

        read = _cell_reader(gb, gran, start_sec, end_sec)
        specs = [*q.aggs, *(spec for spec, _op, _lit in q.having)]
        n = len(q.aggs)
        rows = []
        for v in values:
            wheels = [_family_wheel(pset["wheels"][v], spec) for spec in specs]
            if None in wheels:
                i = wheels.index(None)
                what = "" if i < n else "HAVING "
                return (
                    RouteDecision(
                        "delegate",
                        detail={"reason": f"no index for {what}{specs[i].func}"},
                    ),
                    None,
                )
            got = _group_columns(specs, wheels, read)
            if isinstance(got, str):
                return RouteDecision("delegate", detail={"reason": got}), None
            secs, cols = got
            secs, agg_cols = _filter_rows(_having_keep(q, cols[n:]), secs, cols[:n])
            rows += _group_rows(q, gb, secs, agg_cols, key_value=v)

        names, types = [], []
        for item in q.select_order:
            names.append(item.output_name)
            if isinstance(item, AggSpec):
                w = next(
                    w
                    for v in values
                    if (w := _family_wheel(pset["wheels"][v], item)) is not None
                )
                types.append(_agg_sql_type(item, w))
            elif isinstance(item, ColRef):
                types.append(pset["key_sql_type"])
            else:
                types.append("TIMESTAMP")
        if q.order_by or q.limit is not None:
            rows = _order_limit_rows(q, names, rows)
        ans = Answer(names, types, rows)
        return (
            RouteDecision(
                kind,
                index_key=f"{e.name}.{q.group_key}",
                detail={
                    "partition_by": q.group_key,
                    "keys": len(values),
                    "granularity": _gran_detail(gb, gran, hopping),
                },
            ),
            ans,
        )

    # ------------------------------------------------------------ landmark
    def _try_landmark(self, q, filter_key: str):
        """R5: aggregate(s) with no temporal filter — answered from
        ``landmark()``. The reference guard demands exactly one aggregate and
        no filter at all (``single_aggregate_without_filter``,
        ``lib.rs:279-281``); we additionally answer multi-aggregate and
        purely-keyed landmarks — both trivially correct from the same states.

        Soundness gate: the wheel must be **complete** (built without a
        ``time_range`` restriction). A restricted wheel only indexed a
        sub-span, so answering an unfiltered ``SELECT SUM(x) FROM t`` from it
        would return the restricted-span aggregate — delegate instead."""
        values, wheels = [], []
        for agg in q.aggs:
            w = self._resolve_wheel(agg, filter_key)
            if w is None or not w.complete:
                return (
                    RouteDecision(
                        "delegate", detail={"reason": "no complete index", "fk": filter_key}
                    ),
                    None,
                )
            key = _state_key(agg)
            states = w.landmark()
            if key not in states:
                return (
                    RouteDecision("delegate", detail={"reason": f"state {key} not indexed"}),
                    None,
                )
            values.append(states[key])
            wheels.append(w)
        ans = self._scalar_result(q.aggs, values, wheels, q)
        return (
            RouteDecision("landmark", index_key=wheels[0].key, detail={"fk": filter_key}),
            ans,
        )

    # ---------------------------------------------------------- OR ranges
    def _try_or_ranges(self, q):
        """``WHERE (range) OR (range) [OR ...]`` — the multi-window
        comparison query ("this week OR the same week last year"). Branch
        intervals are union-merged (rows in overlapping branches count
        once), then each merged interval is one wheel lookup and the monoid
        states sum. The reference rejects any OR outright (its predicate
        extractor only walks AND trees, ``expr.rs:198-207``)."""
        e = self.engine
        if q.select_star or not q.aggs:
            return RouteDecision("delegate", detail={"reason": "OR shape unsupported"}), None
        if q.group_key is not None:
            # OR + a KEY grouping: the scalar path would silently drop the
            # key column — always hand the whole query to Spark
            return (
                RouteDecision("delegate", detail={"reason": "OR with key grouping"}),
                None,
            )
        fk = None
        intervals: list[tuple[int, int]] = []
        for conj in q.or_branches:
            rng, residual = split_temporal_filter(conj, e.time_column)
            if rng is None or not rng.routable:
                return (
                    RouteDecision("delegate", detail={"reason": "OR branch not routable"}),
                    None,
                )
            bfk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS
            if fk is None:
                fk = bfk
            elif bfk != fk:
                return (
                    RouteDecision("delegate", detail={"reason": "OR branches differ in filter"}),
                    None,
                )
            intervals.append((rng.start_sec, rng.end_sec))
        intervals.sort()
        merged: list[list[int]] = []
        for s, t in intervals:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], t)
            else:
                merged.append([s, t])

        if q.group_by is not None:
            return self._try_or_group_by(q, merged, fk)

        wheels = []
        for agg in q.aggs:
            w = self._resolve_wheel(agg, fk)
            if w is None:
                return (
                    RouteDecision("delegate", detail={"reason": f"no index for {agg.func}", "fk": fk}),
                    None,
                )
            wheels.append(w)
        parts = []
        for s, t in merged:
            got = _read_states(
                q.aggs, wheels,
                lambda w, keys: w.combine_range(s, t, keys),  # noqa: B023
                _combine_keys,
            )
            vals = _pick_values(q.aggs, got)  # availability gate
            if isinstance(vals, str):
                return RouteDecision("delegate", detail={"reason": vals}), None
            parts.append(got)
        values = [
            _combine_interval_parts(_state_key(agg), [p[i] for p in parts])
            for i, agg in enumerate(q.aggs)
        ]
        ans = self._scalar_result(q.aggs, values, wheels, q)
        return (
            RouteDecision(
                "or_ranges",
                index_key=wheels[0].key,
                detail={"fk": fk, "intervals": [tuple(m) for m in merged]},
            ),
            ans,
        )

    def _try_or_group_by(self, q, merged, fk):
        """``GROUP BY date_trunc / window()`` with OR-of-ranges bounds —
        the grouped form of :meth:`_try_or_ranges` ("this week vs the same
        week last year, per day"): each merged (disjoint) interval
        contributes its bucket cells from the wheel's group-by, and cells
        landing in the same calendar bucket from different intervals
        monoid-combine (rows are disjoint across merged intervals, so
        counts/sums add exactly — the same algebra as ``key IN (...)``
        group-bys). The Catalyst shim already served this shape for plain
        ``spark.sql`` (``condIntervals`` in ``tryGroupHybrid``); this
        closes the engine-router side. The reference rejects any OR
        outright (``expr.rs:198-207``)."""
        e = self.engine
        gb = q.group_by
        # the SAME grouping gates as _try_group_by: the grouped column must
        # be the engine's time column (the wheel's buckets ARE that column
        # — grouping another timestamp here would silently bucket on the
        # wrong axis) at a supported granularity
        gate = _group_gate(gb, e.time_column)
        if gate is None:
            return (
                RouteDecision("delegate", detail={"reason": "unsupported group expr"}),
                None,
            )
        gran, hopping = gate
        specs = [*q.aggs, *(spec for spec, _op, _lit in q.having)]
        wheels = []
        for spec in specs:
            w = self._resolve_wheel(spec, fk)
            if w is None:
                return (
                    RouteDecision(
                        "delegate", detail={"reason": f"no index for {spec.func}", "fk": fk}
                    ),
                    None,
                )
            wheels.append(w)
        parts = []
        for s, t in merged:
            got = _read_states(
                specs, wheels, _cell_reader(gb, gran, s, t), _combine_keys
            )
            if isinstance(got, str):
                return RouteDecision("delegate", detail={"reason": got, "fk": fk}), None
            # every state must be carried, occupied interval or not
            for spec, (_secs, cols) in zip(specs, got):
                if _state_key(spec) not in cols:
                    reason = f"state {_state_key(spec)} not indexed"
                    return RouteDecision("delegate", detail={"reason": reason, "fk": fk}), None
            parts.append(got)
        secs, cols = _merged_columns(specs, parts)  # states checked above
        n = len(q.aggs)
        secs, agg_cols = _filter_rows(_having_keep(q, cols[n:]), secs, cols[:n])
        rows = _group_rows(q, gb, secs, agg_cols)
        names, types = [], []
        for item in q.select_order:
            names.append(item.output_name)
            if isinstance(item, AggSpec):
                types.append(_agg_sql_type(item, wheels[q.aggs.index(item)]))
            else:
                types.append("TIMESTAMP")
        if q.order_by or q.limit is not None:
            rows = _order_limit_rows(q, names, rows, _bucket_positions(q))
        ans = Answer(names, types, rows)
        return (
            RouteDecision(
                "or_group_by",
                index_key=wheels[0].key,
                detail={"fk": fk, "intervals": [tuple(m) for m in merged]},
            ),
            ans,
        )

    # -------------------------------------------------------------- point
    def _try_instant(self, q, sec: int, residual):
        """``ts = <literal>`` where the literal is a bucket-start instant:
        the matching rows are exactly the bucket's at-start sliver (the
        reference refuses equality on the time column outright,
        ``expr.rs:351-356``). Zero jobs; unaligned literals delegate."""
        bucket = self.engine.bucket_seconds
        fk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS
        values, wheels = [], []
        for agg in q.aggs:
            w = self._resolve_wheel(agg, fk)
            if (
                w is None
                or not getattr(w, "tracks_at_start", False)
                or not w.covers(sec, sec + bucket)  # span/alignment gate
            ):
                return (
                    RouteDecision("delegate", detail={"reason": "no at-start index", "fk": fk}),
                    None,
                )
            at = w.at_start(sec)
            key = _state_key(agg)
            vn = at["vcnt"]
            if key == "count":
                values.append(at["count"])
            elif key == "count_col":
                values.append(vn)
            elif key in ("sum", "min", "max"):
                if key not in at:
                    return (
                        RouteDecision("delegate", detail={"reason": f"state {key} not indexed"}),
                        None,
                    )
                values.append(at[key] if vn else None)
            elif key == "avg":
                if "sum" not in at:
                    return (
                        RouteDecision("delegate", detail={"reason": "state sum not indexed"}),
                        None,
                    )
                values.append(float(at["sum"]) / vn if vn else None)
            else:  # variance family
                if "sum" not in at or "sumsq" not in at:
                    return (
                        RouteDecision("delegate", detail={"reason": "state sumsq not indexed"}),
                        None,
                    )
                values.append(
                    _variance_states(float(at["sum"]), float(at["sumsq"]), vn)[key]
                    if vn
                    else None
                )
            wheels.append(w)
        ans = self._scalar_result(q.aggs, values, wheels, q)
        return (
            RouteDecision("point_agg", index_key=wheels[0].key, detail={"fk": fk, "sec": sec}),
            ans,
        )

    # ------------------------------------------------------------- hybrid
    def _try_hybrid(self, q, rng, residual):
        """Boundary-exact rewrite for BETWEEN / ``<=`` / ``>`` temporal
        bounds (R2/R3 extended).

        The reference accepts these shapes by *approximating* (``>`` → ``>=``,
        ``<=`` → ``<``, ``expr.rs:83-105,219-222``) — silently wrong whenever
        sub-bucket timestamps exist. We answer them **exactly** by splitting
        the query interval:

        * full buckets → wheel lookup (µs, zero scan), and
        * boundary slivers → ONE scan whose temporal predicate covers at most
          two bucket-widths: rows with ``ts == upper`` (from ``<=``;
          timestamps are µs-discrete, so ``ts <= b`` ≡ ``ts < b + 1µs``)
          and/or ``ts ∈ (lower, lower + bucket)`` (from ``>``).

        At 100 TB the sliver scan prunes to a couple of row groups via the
        pushed-down timestamp predicate — the delegate alternative scans the
        whole range. The combined states are exact monoid sums, so results
        match delegated SQL bit-for-bit (modulo float summation order).
        """
        e = self.engine
        bucket = e.bucket_seconds
        if rng.start_sec % bucket or rng.end_sec % bucket:
            return (
                RouteDecision("delegate", detail={"reason": "no exact aligned range"}),
                None,
            )
        fk = canonical_filter_key(residual) if residual else STAR_AGGREGATION_ALIAS
        wheels: list[WheelIndex] = []
        for agg in q.aggs:
            w = self._resolve_wheel(agg, fk)
            if w is None:
                return (
                    RouteDecision(
                        "delegate", detail={"reason": f"no index for {agg.func}", "fk": fk}
                    ),
                    None,
                )
            wheels.append(w)

        core_start = rng.start_sec + (bucket if rng.lo_op == ">" else 0)
        core_end = rng.end_sec
        if core_start > core_end:
            return (
                RouteDecision("delegate", detail={"reason": "degenerate boundary range"}),
                None,
            )

        core_states = _read_states(
            q.aggs, wheels,
            lambda w, keys: w.combine_range(core_start, core_end, keys),
            _combine_keys,
        )
        core_values = _pick_values(q.aggs, core_states)  # availability gate
        if isinstance(core_values, str):
            return RouteDecision("delegate", detail={"reason": core_values}), None

        # Preferred path: resolve the boundary slivers from the wheels' own
        # at-start states — zero Spark jobs, like every other routed answer.
        values = self._boundary_from_wheels(q, rng, wheels, core_states, bucket)
        if values is not None:
            ans = self._scalar_result(q.aggs, values, wheels, q)
            return (
                RouteDecision(
                    "hybrid_agg",
                    index_key=wheels[0].key,
                    detail={"fk": fk, "boundary": "wheel"},
                ),
                ans,
            )

        # Fallback (at-start states absent — spark backend / legacy wheel —
        # or a strict-lower min/max whose sliver mixes at-start and interior
        # rows): ONE scan pruned to ≤2 bucket-widths.
        cond, brow = self._boundary_row(q, rng, residual, bucket)
        values = [
            _combine_core_boundary(agg, core, brow)
            for agg, core in zip(q.aggs, core_states)
        ]
        ans = self._scalar_result(q.aggs, values, wheels, q)
        return (
            RouteDecision(
                "hybrid_agg",
                index_key=wheels[0].key,
                detail={"fk": fk, "boundary": cond},
            ),
            ans,
        )

    def _try_group_by_hybrid(self, q, gb, gran, rng, residual, wheels, fk):
        """GROUP BY date_trunc / tumbling window with BETWEEN / ``<=`` /
        ``>`` temporal bounds — the scalar hybrid's exact monoid algebra
        applied PER GROUP CELL, zero jobs: core cells from the wheel's
        group-by, boundary slivers (at-start states) folded into the cells
        that contain them. Each boundary instant lies in exactly one cell
        (cells are bucket-aligned and at least a bucket wide), and the cell
        keys come from the wheel's own group-by over the sliver's bucket —
        the same calendar logic as the core, nothing re-derived. Anything
        not derivable from states (mixed-bucket min/max, missing at-start
        tracking) delegates — never a wrong answer."""
        e = self.engine
        bucket = e.bucket_seconds

        def _delegate(reason):
            return RouteDecision("delegate", detail={"reason": reason, "fk": fk}), None

        if rng.start_sec % bucket or rng.end_sec % bucket:
            return _delegate("no exact aligned range")
        core_start = rng.start_sec + (bucket if rng.lo_op == ">" else 0)
        core_end = rng.end_sec
        if core_start > core_end:
            return _delegate("degenerate boundary range")

        hwheels = []
        for spec, _op, _lit in q.having:
            # HAVING aggregates get the SAME hybrid-corrected per-cell
            # values (the aggregate need not be in the select list)
            hw = self._resolve_wheel(spec, fk)
            if hw is None:
                return _delegate(f"no index for HAVING {spec.func}")
            hwheels.append(hw)
        specs = [*q.aggs, *(spec for spec, _op, _lit in q.having)]

        def _wheel_cells(w, keys):
            """One wheel's core cells plus its boundary slivers and the
            cells they land in, or a delegate reason string."""
            if not getattr(w, "tracks_at_start", False):
                return "no at-start states"
            core = w.group_by(core_start, core_end, gran, keys)
            if core is None:
                return "range not covered"
            up = low_bucket = low_at = up_cell = low_cell = None
            if rng.hi_op == "<=":
                # same trust gate as the scalar path: the sliver bucket sits
                # one bucket past the core, outside covers()'s vouching
                if not (w.complete or w.covers(rng.end_sec, rng.end_sec + bucket)):
                    return "upper sliver not covered"
                up = w.at_start(rng.end_sec)
                if up is None:
                    return "no at-start states"
                if up["count"] == 0:
                    up = None
                else:
                    g1 = w.group_by(rng.end_sec, rng.end_sec + bucket, gran, ())
                    if g1 is None or not len(g1[0]):
                        return "upper sliver cell unresolved"
                    up_cell = int(g1[0][0])
            if rng.lo_op == ">":
                low_at = w.at_start(rng.start_sec)
                low_bucket = w.combine_range(
                    rng.start_sec, rng.start_sec + bucket, keys
                )
                if low_bucket is None or low_at is None:
                    return "lower sliver not covered"
                if low_bucket["count"] - low_at["count"] == 0:
                    low_bucket = low_at = None  # empty sliver
                else:
                    g0 = w.group_by(rng.start_sec, rng.start_sec + bucket, gran, ())
                    if g0 is None or not len(g0[0]):
                        return "lower sliver cell unresolved"
                    low_cell = int(g0[0][0])
            return core, up, up_cell, low_bucket, low_at, low_cell

        got = _read_states(specs, wheels + hwheels, _wheel_cells, _combine_keys)
        if isinstance(got, str):
            return _delegate(got)
        cell_values: list[dict] = []
        for spec, (core, up, up_cell, low_bucket, low_at, low_cell) in zip(specs, got):
            secs, cols = core
            key = _state_key(spec)
            # State availability is validated independently of core
            # occupancy: an empty core plus a non-empty boundary sliver
            # would otherwise fabricate values from _EMPTY_CORE defaults on
            # subset-state wheels (group_by answers every carried key,
            # occupied or not — the same gate the scalar hybrid applies).
            if key not in cols:
                return _delegate(f"state {key} not indexed")
            buckets = secs.tolist()
            vals = dict(zip(buckets, cols[key]))
            # only the (at most two) cells a sliver lands in need the
            # hybrid algebra; every other cell is its core value
            for c in dict.fromkeys(
                c for c, part in ((up_cell, up), (low_cell, low_bucket))
                if part is not None
            ):
                if c in vals:
                    i = buckets.index(c)
                    cell = {k: col[i] for k, col in cols.items()}
                else:
                    cell = _EMPTY_CORE
                lb = low_bucket if c == low_cell else None
                ok, v = _hybrid_agg_value(
                    key, cell, up if c == up_cell else None, lb,
                    low_at if lb is not None else None,
                )
                if not ok:
                    return _delegate("boundary not derivable from states")
                vals[c] = v
            cell_values.append(vals)

        n = len(q.aggs)
        buckets = sorted(set().union(*cell_values[:n]))
        secs = np.asarray(buckets, dtype=np.int64)
        cols = [[vals.get(b) for b in buckets] for vals in cell_values]
        secs, agg_cols = _filter_rows(_having_keep(q, cols[n:]), secs, cols[:n])
        rows = _group_rows(q, gb, secs, agg_cols)
        names, types = [], []
        for item in q.select_order:
            names.append(item.output_name)
            if isinstance(item, AggSpec):
                types.append(_agg_sql_type(item, wheels[q.aggs.index(item)]))
            else:
                types.append("TIMESTAMP")
        if q.order_by or q.limit is not None:
            rows = _order_limit_rows(q, names, rows, _bucket_positions(q))
        ans = Answer(names, types, rows)
        return (
            RouteDecision(
                "group_by_hybrid",
                index_key=wheels[0].key,
                detail={"granularity": _gran_detail(gb, gran, False), "fk": fk},
            ),
            ans,
        )

    def _boundary_from_wheels(self, q, rng, wheels, core_states, bucket: int):
        """Combine core states with the boundary slivers using the wheels'
        at-start states (rows at the exact bucket-start instant):

        * ``ts <= b``: **add** bucket b's at-start sliver (µs-discrete
          timestamps make ``<= b`` ≡ ``< b + 1µs``).
        * ``ts > a``: **subtract** the at-start sliver from bucket a's whole
          states. count/sum/sumsq/vcnt subtract exactly; min/max are not
          subtractable — derivable only when the sliver is the whole bucket
          (no interior rows), the whole non-null bucket, or empty.

        Returns the per-aggregate values, or ``None`` when any aggregate is
        not derivable (caller falls back to the pruned boundary scan).
        Slivers are read once per wheel the core states came from."""
        sources, reads = _lookup_plan(q.aggs, wheels, _combine_keys)
        slivers = {}
        for wid, (w, keys) in reads.items():
            if not getattr(w, "tracks_at_start", False):
                return None
            up = None
            if rng.hi_op == "<=":
                # The upper sliver bucket (instant rng.end_sec) sits one
                # bucket PAST the core range, so covers() on the core never
                # vouches for it.  A wheel built with a ``time_range``
                # restriction ending exactly at rng.end_sec has no indexed
                # rows at that instant — at_start would answer a zero state
                # and silently drop the boundary rows.  Trust it only when
                # the wheel indexes the whole table or provably covers the
                # sliver's bucket; otherwise fall back to the pruned
                # boundary scan (reads the base table — always correct).
                if not (w.complete or w.covers(rng.end_sec, rng.end_sec + bucket)):
                    return None
                up = w.at_start(rng.end_sec)
            low_bucket = low_at = None
            if rng.lo_op == ">":
                low_at = w.at_start(rng.start_sec)
                low_bucket = w.combine_range(
                    rng.start_sec, rng.start_sec + bucket, keys
                )
                if low_bucket is None or low_at is None:
                    return None
            slivers[wid] = (up, low_bucket, low_at)
        values = []
        for agg, w, core in zip(q.aggs, sources, core_states):
            ok, v = _hybrid_agg_value(_state_key(agg), core, *slivers[id(w)])
            if not ok:
                return None
            values.append(v)
        return values

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

    # ------------------------------------------------------------- pruning
    def _try_pruning(self, q, rng, residual):
        """R6/R7: ``SELECT *`` whose result is provably empty →
        :data:`EMPTY`, skipping the scan entirely. Anything not *provably*
        empty must fall through to a real scan."""
        e = self.engine
        if rng is None or not rng.routable:
            return RouteDecision("delegate", detail={"reason": "no exact aligned range"}), None
        count_wheel = e.count_wheels.get(STAR_AGGREGATION_ALIAS)
        if count_wheel is None:
            return RouteDecision("delegate", detail={"reason": "no count wheel"}), None

        if not residual:
            n = count_wheel.count_range(rng.start_sec, rng.end_sec)
            if n == 0:
                return (
                    RouteDecision("prune_count", index_key=count_wheel.key),
                    EMPTY,
                )
            return RouteDecision("delegate", detail={"reason": "rows exist", "count": n}), None

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
            return RouteDecision("delegate", detail={"reason": "residual not prunable"}), None
        mm = e.min_max_wheels.get(pred.column)
        if mm is None:
            return RouteDecision("delegate", detail={"reason": "no minmax wheel"}), None
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
        return RouteDecision("delegate", detail={"reason": "not provably empty"}), None

"""``WheelEngine`` — the engine object tying tables, wheel indices, and the
query router together.

The reference couples these in ``UWheelOptimizer`` (provider + time column +
wheel registry + rewrite rule, ``datafusion-uwheel/src/lib.rs:72-146``) built
via a fluent ``Builder`` (``builder.rs:59-252``). The reference's
construction scans the table once for the COUNT wheel and any requested
MIN/MAX wheels (``lib.rs:909-965``); here that scan is deferred and
usually never runs on its own — the first unfiltered ``build_index``
(per-(column, aggregate, filter) wheels, ``lib.rs:153-239``) computes the
same states and seeds them.

Spark-first shape: the table is a DataFrame (parquet path or any DataFrame);
index builds are single declarative aggregation jobs (see
:mod:`..operators.rollups`); queries go through :meth:`sql`, which routes to
driver-side wheel lookups when the plan shape matches and to stock
``spark.sql`` otherwise — Catalyst keeps the full relational surface (joins,
windows, set ops, …) with zero custom code (SURVEY.md §2.2).
"""

from __future__ import annotations

import itertools
from collections import OrderedDict

from pyspark.sql import Column, DataFrame, Row, SparkSession

from .functions.timestamps import parse_ts_literal
from .operators.lookup import STAR_AGGREGATION_ALIAS, WheelIndex
from .operators.rollups import build_wheel_indices
from .plans.router import EMPTY, RouteDecision, Router
from .plans import router, sqlparse
from .plans.sqlparse import (
    ParseError, Template, parse_conjunction, parse_select, prepare, split_shape,
)
from .plans.predicates import canonical_filter_key

__all__ = ["WheelEngine"]

#: keep-the-operator-default sentinel for build_topk_index's max_keys —
#: None must mean DISABLE the cap, matching the operator layer's meaning
_KEYS_DEFAULT = object()

#: Per-engine cap for the query-string memos (routed answers, parses).
#: LRU-evicted at the cap: a dashboard cycling >512 distinct query strings
#: keeps its hot set warm instead of re-deriving everything each cycle
#: (the old overflow behavior cleared the whole dict).
_MEMO_CAP = 512


def _memo_get(cache: OrderedDict, key):
    v = cache.get(key)
    if v is not None:
        try:
            cache.move_to_end(key)
        except KeyError:  # another thread evicted it after the get
            pass
    return v


def _memo_put(cache: OrderedDict, key, val) -> None:
    cache[key] = val
    try:
        cache.move_to_end(key)
        if len(cache) > _MEMO_CAP:
            cache.popitem(last=False)
    except KeyError:  # another thread evicted or trimmed concurrently
        pass


class ParseMemo:
    """The parse memo: one prepared :class:`~.plans.sqlparse.Template` per
    query *shape* (the text with its literals cut out), LRU-bounded at
    ``_MEMO_CAP``. A text whose shape is prepared binds its literals into
    the template instead of being tokenized and parsed. A shape is parsed
    plainly the first time it is seen and prepared the second time; a
    shape whose literals the split cannot name exactly gets no template
    and every later text of it is parsed plainly, without another try at
    preparing it. A :class:`ParseError` is memoized under its
    exact text. Nothing here depends on the indexes, so the memo outlives
    index mutations (a streaming merge re-routes its dashboard's texts
    without parsing them again)."""

    def __init__(self):
        self.cache: OrderedDict = OrderedDict()

    def parse(self, sql: str):
        key, lits = split_shape(sql)
        tmpl = _memo_get(self.cache, key)
        if tmpl.__class__ is Template:
            q = tmpl.bind(lits)
            if q is not None:
                return q
        err = _memo_get(self.cache, sql)
        if err is not None:
            raise err.with_traceback(None)
        try:
            if tmpl is None or tmpl is _PLAIN:
                # first sighting: a plain parse, so a stream of one-off
                # shapes pays no template builds (called through the
                # module: this module's own ``parse_select`` is the name
                # the traced benchmark wraps, once per parse)
                q, tmpl = sqlparse.parse_select(sql), (_SEEN if tmpl is None else _PLAIN)
            else:
                q, tmpl = prepare(sql, lits)
                if tmpl is None:
                    tmpl = _PLAIN
        except ParseError as e:
            # kept without its traceback, whose frames would pin the
            # parser and its token list for as long as the memo holds it
            _memo_put(self.cache, sql, e.with_traceback(None))
            raise
        _memo_put(self.cache, key, tmpl)
        return q


#: Memo value of a shape seen once: the next text of it is prepared.
_SEEN = object()
#: Memo value of a shape :func:`~.plans.sqlparse.prepare` could not
#: template: its texts are parsed plainly from then on.
_PLAIN = object()


def _rows(names, values) -> list:
    """``[Row(*names)(*v) for v in values]`` without the per-row
    ``Row.__call__`` → ``_create_row`` → ``Row.__new__`` chain: each row is
    the same object those make, a ``Row`` tuple whose ``__fields__`` is the
    one shared names ``Row``."""
    fields = Row(*names)
    new = tuple.__new__
    out = []
    for v in values:
        row = new(Row, v)
        row.__dict__["__fields__"] = fields  # Row.__setattr__, minus the call
        out.append(row)
    return out


class _Routed:
    """One answer-memo entry: the index epoch it was routed at, the
    :class:`RouteDecision`, the router's answer (an ``Answer`` or
    :data:`EMPTY`), and the door forms built from it on first use — the
    ``sql()`` DataFrame, the ``sql_rows()`` Row list and the temp view a
    spliced CTE reads it by."""

    __slots__ = ("epoch", "decision", "answer", "df", "rows", "view")

    def __init__(self, epoch: int, decision: RouteDecision, answer):
        self.epoch = epoch
        self.decision = decision
        self.answer = answer
        self.df = None
        self.rows = None
        self.view = None


#: Monotonic suffix for routed-CTE temp views — keeps engines and
#: catalogs from clobbering each other's views; each ``next`` is one
#: atomic step, so two threads never draw the same name.
_CTE_VIEW_SEQ = itertools.count(1)


def _bound_sec(x, default) -> int:
    """Epoch second of a second-aligned timestamp bound (``default`` for
    ``None``) — the bounds of the zero-job monitor asks."""
    if x is None:
        return default
    lit = parse_ts_literal(str(x))
    if lit is None or not lit.second_aligned:
        raise ValueError(f"bound {x!r} is not a second-aligned timestamp")
    return lit.epoch_us // 1_000_000


class WheelEngine:
    """One engine instance = one table + its wheel indices, mirroring the
    reference's one-optimizer-per-table design (``name: String``,
    ``lib.rs:76-77``).

    Parameters
    ----------
    spark:
        An active session. Pin ``spark.sql.session.timeZone=UTC`` (see
        :func:`datafusion_uwheel_spark.session.get_spark`).
    name:
        Table name; registered as a temp view for the delegate path.
    source:
        Parquet path or a DataFrame (the reference accepts any
        ``TableProvider`` — parquet listing table or MemTable).
    time_column:
        The designated time column all indices are built on
        (``lib.rs:78-79``); must exist (asserted like ``lib.rs:928-933``).
    min_max_columns:
        Columns to keep MIN/MAX pruning wheels for
        (``Builder::with_min_max_wheels``): seeded by the first unfiltered
        ``build_index`` of the column, else built at first use.
    time_range:
        Optional ``(start, end)`` restriction on the indexed span
        (``Builder::with_time_range``, ``builder.rs:177-191``) — the 100 TB
        lever for multi-year tables: the driver-side index stays bounded by
        the span's distinct seconds.
    time_unit:
        For raw integral epoch time columns (``"s"``/``"ms"``/``"us"``/
        ``"ns"``): normalize to TimestampType once at construction — the
        reference's Time32/Time64 physical-type normalization
        (``lib.rs:1203-1272``) Spark-side. Omit for TIMESTAMP/DATE columns.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        source: str | DataFrame,
        time_column: str,
        min_max_columns: tuple[str, ...] = (),
        time_range: tuple | None = None,
        load_indexes: str | None = None,
        index_granularity: str = "second",
        index_backend: str = "driver",
        time_unit: str | None = None,
        approx_routing: bool = False,
    ):
        self.spark = spark
        self.name = name
        self.time_column = time_column
        #: OPT-IN (r11): route plain-SQL ``approx_count_distinct(col)`` /
        #: ``percentile_approx(col, p)`` over aligned time ranges to the
        #: column's HLL/KLL rollup (zero-job direct asks). Off by default
        #: ON PURPOSE: DataSketches estimates differ from Spark's HLL++ /
        #: ApproximatePercentile values (both within their error bounds),
        #: so silent routing would change answer values — opting in trades
        #: routed-equals-delegate equality for scan-free estimates. Can
        #: also be toggled later: ``engine.approx_routing = True``.
        self.approx_routing = approx_routing
        from .functions.timestamps import GRANULARITY_SECONDS

        if index_granularity not in GRANULARITY_SECONDS:
            raise ValueError(f"unknown index granularity {index_granularity!r}")
        #: Bucket width of every wheel on this engine. "second" matches the
        #: reference's finest HAW dimension; "minute"/"hour" shrink the
        #: driver-side index 60x/3600x for multi-year tables at the cost of
        #: only routing coarser-aligned ranges (finer queries delegate).
        self.bucket_seconds = GRANULARITY_SECONDS[index_granularity]
        if index_backend not in {"driver", "spark"}:
            raise ValueError(f"unknown index backend {index_backend!r}")
        #: "driver" = numpy arrays on the driver (µs lookups; memory bounded
        #: by distinct buckets — use time_range / coarser granularity to cap).
        #: "spark" = rollup cached as a DataFrame (tiny-job lookups ~tens of
        #: ms; span unbounded — for multi-year second-precision tables).
        self.index_backend = index_backend
        if isinstance(source, str):
            from .sources import read_parquet

            self.df = read_parquet(spark, source)
            #: Parquet root this engine reads — the JVM shim recognizes
            #: plans by scan root path (:mod:`.jvmshim`).
            self.source_path: str | None = source
        else:
            self.df = source
            self.source_path = None
        if time_column not in self.df.columns:
            raise ValueError(f"time column {time_column!r} not in table {name!r}")
        if time_unit is not None:
            # Raw integral epoch time column (logs shipped as BIGINT epoch
            # µs/ms/s/ns): normalize ONCE at construction to TimestampType —
            # the reference's Time64/Time32 physical-type normalization
            # (lib.rs:1203-1272) done Spark-side. Both the index build AND
            # the delegate path then see the same TIMESTAMP view, so
            # timestamp-literal SQL works identically routed or delegated.
            # (ns truncates to µs — Spark timestamps are µs precision —
            # matching sources.read_parquet's ns handling.)
            from pyspark.sql import types as _T

            dt = self.df.schema[time_column].dataType
            if not isinstance(dt, (_T.LongType, _T.IntegerType)):
                raise ValueError(
                    f"time_unit={time_unit!r} applies to integral epoch "
                    f"columns; {time_column!r} is {dt.simpleString()}"
                )
            conv = {
                "s": f"timestamp_seconds(`{time_column}`)",
                "ms": f"timestamp_millis(`{time_column}`)",
                "us": f"timestamp_micros(`{time_column}`)",
                "ns": f"timestamp_micros(CAST(`{time_column}` DIV 1000 AS BIGINT))",
            }
            if time_unit not in conv:
                raise ValueError(
                    f"unknown time_unit {time_unit!r}; one of {sorted(conv)}"
                )
            from pyspark.sql import functions as _F

            self.df = self.df.withColumn(time_column, _F.expr(conv[time_unit]))
        self.df.createOrReplaceTempView(name)

        #: The ctor DEFERS its own table scan: when True the base COUNT
        #: wheel has not been built yet, and ``_min_max_pending`` names the
        #: ``min_max_columns`` whose pruning wheels are still owed. The
        #: first unfiltered ``build_index``/``build_indexes`` over the
        #: engine's span computes the identical count rollup and a superset
        #: of the min/max states anyway, so it seeds both for free
        #: (``build_partitioned_index`` seeds only the base wheel); any
        #: reader that arrives earlier materializes everything pending in
        #: ONE pass through :meth:`_ensure_base` (identical wheels,
        #: identical answers — just built at first use).
        self._base_pending = False
        self._min_max_pending: tuple[str, ...] = ()
        #: Phases of the engine's most recent driver-backend wheel build:
        #: ``scan_rollup_collect_s`` (the Spark scan + bucket rollup +
        #: Arrow collect, one action), ``mirror_construct_s`` (the driver
        #: numpy mirror), ``rollup_rows`` and ``mirror_steps`` (the
        #: mirror's named sub-steps). Diagnostics only; never read by
        #: query paths.
        self.last_build: dict = {}
        if load_indexes is not None:
            # Build-once path: restore persisted rollups (driver-side parquet
            # read, no Spark job — the 100 TB restart story, see
            # :mod:`.operators.persistence`).
            from .operators.persistence import load_wheels

            wheels = load_wheels(load_indexes, spark=spark)
            self.count_wheels = dict(wheels["count"])
            self.min_max_wheels = dict(wheels["min_max"])
            self.agg_wheels = dict(wheels["agg"])
        else:
            # Defer the scan (see _base_pending), but not the refusals: an
            # un-normalized BIGINT time column or a non-numeric pruning
            # column is a construction error (never silently mis-bucket),
            # and both checks are schema-only, no job.
            from .operators.rollups import column_sql_type, time_sec_col

            time_sec_col(self.df, time_column)
            for c in min_max_columns:
                column_sql_type(self.df, c)
            #: filter_key → COUNT wheel (unfiltered under ``*_AGG``; keyed
            #: wheels are added by :meth:`build_index`).
            self.count_wheels: dict[str, WheelIndex] = {}
            #: column → MIN/MAX pruning wheel (``BuiltInWheels.min_max``).
            #: A seeded entry may be the same object as
            #: ``agg_wheels[(column, "*_AGG")]``: usage, compaction and
            #: maintenance de-duplicate by identity.
            self.min_max_wheels: dict[str, WheelIndex] = {}
            #: (column, filter_key) → aggregate wheel (sum/avg/min/max states).
            self.agg_wheels: dict[tuple[str, str], WheelIndex] = {}
            self._base_pending = True
            self._min_max_pending = tuple(min_max_columns)
        #: column → cached HLL sketch rollup (:meth:`build_distinct_index`);
        #: initialized here so :meth:`approx_distinct` raises the documented
        #: KeyError (not AttributeError) when no rollup was ever built.
        self.distinct_rollups: dict = {}
        #: column → cached KLL sketch rollup (:meth:`build_quantile_index`);
        #: same opt-in discipline as the HLL rollups.
        self.quantile_rollups: dict = {}
        #: column → cached theta sketch rollup (:meth:`build_theta_index`) —
        #: distinct-set ALGEBRA across time ranges (retention / new /
        #: overlap), which HLL unions cannot express.
        self.theta_rollups: dict = {}
        #: column → cached truncated-counter rollup
        #: (:meth:`build_topk_index`) — approximate "top items in range"
        #: with deterministic [est, upper] bounds; same opt-in discipline.
        self.topk_rollups: dict = {}
        if load_indexes is not None:
            import json as _json
            import os as _os

            from .operators.distinct import load_distinct_rollup
            from .operators.frequency import load_frequency_rollup
            from .operators.quantiles import load_quantile_rollup
            from .operators.theta import load_theta_rollup

            # one manifest per sketch family, same format (save_indexes
            # writes the mirror loop) — a fifth family is one more row
            for manifest, loader, target in (
                ("distinct.json", load_distinct_rollup, self.distinct_rollups),
                ("quantiles.json", load_quantile_rollup, self.quantile_rollups),
                ("theta.json", load_theta_rollup, self.theta_rollups),
                ("topk.json", load_frequency_rollup, self.topk_rollups),
            ):
                man = _os.path.join(load_indexes, manifest)
                if not _os.path.exists(man):
                    continue
                with open(man) as f:
                    for entry in _json.load(f)["rollups"]:
                        target[entry["column"]] = loader(
                            spark, _os.path.join(load_indexes, entry["dir"])
                        )
        self.router = Router(self)
        self.last_route: RouteDecision | None = None
        self._time_range = time_range
        #: Bumped whenever any wheel's contents change (build_index,
        #: streaming merges) — invalidates the answer memo.
        self.index_epoch = 0
        #: query text → :class:`_Routed`: the one answer memo behind every
        #: door (see :meth:`_route`).
        self._route_memo: OrderedDict[str, _Routed] = OrderedDict()
        #: The empty frame of ``self.df`` that pruned ``sql()`` answers
        #: share; built on first use.
        self._empty_df: DataFrame | None = None
        #: Prepared query shapes (see :class:`ParseMemo`). Unlike the
        #: answer memo this is NOT epoch-keyed: a parse depends only on
        #: the SQL text. Safe to share because nothing downstream mutates
        #: a ParsedQuery (list fields are only appended to inside the
        #: parser itself).
        self._parse_memo = ParseMemo()
        #: ``{key_column_lower: {"key_sql_type", "wheels": {value: family}}}``
        #: — per-value wheel families for dim group-bys
        #: (:meth:`build_partitioned_index`).
        self.partition_sets: dict[str, dict] = {}
        if load_indexes is not None and wheels.get("partition"):
            import json as _json
            import os as _os

            meta: dict = {}
            pman = _os.path.join(load_indexes, "partitions.json")
            if _os.path.exists(pman):
                with open(pman) as f:
                    meta = {
                        e["key_column"].lower(): e
                        for e in _json.load(f)["partitions"]
                    }
            for (kc, vtok, ctok), w in wheels["partition"].items():
                ps = self.partition_sets.setdefault(
                    kc.lower(),
                    {
                        "key_column": kc,
                        "key_sql_type": meta.get(kc.lower(), {}).get(
                            "key_sql_type", "STRING"
                        ),
                        "wheels": {},
                    },
                )
                ps["wheels"].setdefault(_json.loads(vtok), {})[
                    None if ctok == "*" else ctok
                ] = w
            # re-register non-NULL families for keyed equality reuse
            for ps in self.partition_sets.values():
                for v, fam in ps["wheels"].items():
                    if v is None:
                        continue
                    for c, w in fam.items():
                        if c is None:
                            self.count_wheels.setdefault(w.filter_key, w)
                        else:
                            self.agg_wheels.setdefault((c, w.filter_key), w)

    # -------------------------------------------------------------- builds
    def _ensure_base(self) -> None:
        """Materialize what the ctor deferred (see ``_base_pending`` in
        ``__init__``): the base COUNT wheel and every pending pruning wheel,
        in ONE pass. Pruning wheels only ever serve ``min_max_range``, so
        that pass builds just those two states (~3× smaller than a full
        wheel; the reference's F64MinMaxAggregator wheels are likewise
        min/max-only, lib.rs:967-1017). No-op once built or seeded. The
        count wheel and the min/max states equal what a seeding build
        computes (same rollup expressions over the same source)."""
        if not (self._base_pending or self._min_max_pending):
            return
        cols = list(self._min_max_pending)
        phases: dict = {}
        indices = build_wheel_indices(
            self.df, self.name, self.time_column, cols,
            time_range=self._time_range, bucket_seconds=self.bucket_seconds,
            backend=self.index_backend, states=("min", "max"), phases=phases,
        )
        self._base_pending, self._min_max_pending = False, ()
        self.last_build = phases
        self.count_wheels.setdefault(STAR_AGGREGATION_ALIAS, indices[None])
        for c in cols:
            self.min_max_wheels.setdefault(c, indices[c])
        self.index_epoch += 1

    def build_index(
        self,
        column: str,
        filter: str | None = None,
        time_range: tuple | None = None,
        aggs: tuple[str, ...] | None = None,
    ) -> str:
        """Build an aggregate wheel for ``column``. By default all states are
        built in one pass (the reference's ``UWheelAggregate::All`` build,
        ``lib.rs:224-235``); ``aggs=("sum", "count")`` restricts to the
        states those aggregates need (the per-aggregate ``UWheelAggregate``
        variants, ``index/mod.rs:7-21``) — ~3× smaller driver/cache footprint
        when only SUM or COUNT is served. Queries needing an unbuilt state
        delegate.

        ``filter`` is a SQL conjunction string (e.g.
        ``"event_type = 'click'"``) making this a *keyed* index; queries whose
        residual (non-temporal) predicate canonicalizes to the same string are
        answered from it (``lib.rs:310-321``). Returns the index key.
        """
        return self.build_indexes(
            [column], filter=filter, time_range=time_range, aggs=aggs
        )[0]

    def build_partitioned_index(
        self,
        column: str | tuple[str, ...] | list[str],
        partition_by: str,
        aggs: tuple[str, ...] | None = None,
        max_keys: int = 512,
    ) -> int:
        """ONE scan → a key-complete family of per-value wheels for
        ``partition_by`` (NULL keys included; ``column`` may be a tuple —
        every listed column's states ride the same job, so mixed-column dim
        group-bys like ``SUM(value), SUM(qty)`` route from one build),
        enabling two query families:

        * ``GROUP BY date_trunc(...)/window(...), partition_by`` — the
          time × category dashboard rollup — routed zero-job by assembling
          the per-value group-bys (the reference binds one filter per
          optimizer and cannot express this, ``lib.rs:76-77``);
        * every ``WHERE partition_by = <value>`` keyed query, because each
          non-NULL value's wheels also register under the equality filter
          key a parsed residual canonicalizes to — one build, N+1 families.

        ``max_keys`` guards the driver: partition on bounded categorical
        keys (event types, languages, shards), never on user-ids. Returns
        the number of key values indexed. Driver backend only (the rollup is
        collected per value)."""
        from .operators.rollups import (
            build_partitioned_wheel_indices,
            physical_states_for,
        )

        if self.index_backend != "driver":
            raise ValueError("partitioned wheels require index_backend='driver'")
        if partition_by.lower() == self.time_column.lower():
            raise ValueError("partition_by cannot be the time column")
        columns = [column] if isinstance(column, str) else list(column)
        if len({c.lower() for c in columns}) != len(columns):
            # fail here, not as pyarrow's obscure duplicate-field KeyError
            raise ValueError(f"duplicate columns in {columns!r}")
        phases: dict = {}
        fam, ktype, star = build_partitioned_wheel_indices(
            self.df,
            self.name,
            self.time_column,
            partition_by,
            columns,
            bucket_seconds=self.bucket_seconds,
            states=physical_states_for(aggs),
            max_keys=max_keys,
            time_range=self._time_range,
            phases=phases,
        )
        self.partition_sets[partition_by.lower()] = {
            "key_column": partition_by,
            "key_sql_type": ktype,
            "wheels": fam,
        }
        # Non-NULL values double as keyed wheels for equality residuals.
        for v, wheels in fam.items():
            if v is None:
                continue
            fk = wheels[None].filter_key  # the canonical equality render
            self.count_wheels.setdefault(fk, wheels[None])
            for c in columns:
                self.agg_wheels.setdefault((c, fk), wheels[c])
        # The same scan also yields the UNFILTERED wheels (the key
        # partitions rows disjointly, so the star rollup is the per-key
        # rollup monoid-folded driver-side): one build_partitioned_index
        # call now serves dim group-bys, keyed equality AND plain
        # unfiltered aggregates — no separate build_index scan needed.
        # setdefault: an explicitly built STAR wheel (exact float add
        # order) keeps precedence over the derived one.
        self.count_wheels.setdefault(STAR_AGGREGATION_ALIAS, star[None])
        # the derived star count wheel covers the deferred base's contract;
        # its min/max states do NOT seed pending pruning wheels: the
        # driver-side fold skips NaN where Spark's MAX returns it, and a
        # pruning wheel must never under-state a bound
        self._base_pending = False
        for c in columns:
            self.agg_wheels.setdefault((c, STAR_AGGREGATION_ALIAS), star[c])
        self.index_epoch += 1
        self.last_build = phases
        return len(fam)

    def build_indexes(
        self,
        columns: tuple[str, ...] | list[str],
        filter: str | None = None,
        time_range: tuple | None = None,
        aggs: tuple[str, ...] | None = None,
    ) -> list[str]:
        """Build aggregate wheels for several columns in **one table scan**
        (the states for every column are computed in the same distributed
        aggregation job — at 100 TB, N single-column builds cost N scans,
        this costs one). Same semantics as N :meth:`build_index` calls;
        returns the index keys."""
        from .operators.rollups import physical_states_for

        if len({c.lower() for c in columns}) != len(list(columns)):
            raise ValueError(f"duplicate columns in {list(columns)!r}")
        if filter is not None:
            conjuncts = parse_conjunction(filter)
            fk = canonical_filter_key(conjuncts)
            filter_expr: Column | str | None = filter
        else:
            fk = STAR_AGGREGATION_ALIAS
            filter_expr = None
        phases: dict = {}
        states = physical_states_for(aggs)
        indices = build_wheel_indices(
            self.df,
            self.name,
            self.time_column,
            list(columns),
            filter_expr=filter_expr,
            filter_key=fk,
            time_range=time_range or self._time_range,
            bucket_seconds=self.bucket_seconds,
            backend=self.index_backend,
            states=states,
            phases=phases,
        )
        if fk == STAR_AGGREGATION_ALIAS and time_range is None:
            # An unfiltered pass over the engine's span carries what the
            # ctor deferred: its count rollup IS the base wheel (installed
            # below), and a value wheel with min AND max states answers
            # min_max_range exactly like a min/max-only pruning wheel (same
            # buckets, same per-bucket extremes — the other states ride
            # along), so it becomes that column's pruning wheel as is.
            self._base_pending = False
            if "min" in states and "max" in states:
                for c in self._min_max_pending:
                    if c in indices:
                        self.min_max_wheels.setdefault(c, indices[c])
                self._min_max_pending = tuple(
                    c for c in self._min_max_pending if c not in indices
                )
        # A keyed/filtered wheel is answerable over the whole *base table*
        # span, not just the span of rows matching the filter: a sub-range
        # with zero matching rows is a correct (empty) aggregate, not an
        # unknown. The reference is narrower here (keyed wheels watermark at
        # the filtered data's min, lib.rs:1046), which silently forfeits
        # full-span keyed queries; we deliberately widen. When the build was
        # time_range-restricted, keep the wheel's own (restricted) bounds.
        if time_range is None and self._time_range is None:
            if self._base_pending:
                self._ensure_base()
            base = self.count_wheels.get(STAR_AGGREGATION_ALIAS, indices[None])
            if not base.empty:
                for w in indices.values():
                    if not w.empty:
                        w.min_ts_us = min(w.min_ts_us, base.min_ts_us)
                        w.max_ts_us = max(w.max_ts_us, base.max_ts_us)
        # A time_range-restricted unfiltered build must NOT become the
        # deferred STAR base: its count wheel is span-restricted
        # (complete=False) while the base contract is the full table. In
        # the eager-ctor era the setdefault below no-op'd against the
        # already-built base and the restricted count wheel was discarded;
        # with the base deferred it would install, and _ensure_base's own
        # setdefault could never replace it — full-span COUNTs would
        # delegate forever and span-defaulted asks silently narrow.
        if not (
            time_range is not None
            and fk == STAR_AGGREGATION_ALIAS
            and self._base_pending
        ):
            self.count_wheels.setdefault(fk, indices[None])
        keys = []
        for c in columns:
            self.agg_wheels[(c, fk)] = indices[c]
            keys.append(indices[c].key)
        self.index_epoch += 1
        self.last_build = phases
        return keys

    def build_distinct_index(
        self,
        column: str,
        bucket_seconds: int = 3600,
        lg_k: int = 12,
        partition_by: str | None = None,
    ):
        """Build a per-bucket HLL sketch rollup for ``COUNT(DISTINCT col)``
        range estimates (the custom-aggregator extension point applied to a
        non-scalar state — see :mod:`.operators.distinct`). Query with
        :meth:`approx_distinct`; answers are ~1.6%-error estimates from a
        tiny job over the cached rollup, never a scan of the table.
        ``partition_by=key`` adds the dimensional form: per-key estimates
        via :meth:`approx_distinct_by_key` / ``key=`` restrictions from the
        same single build."""
        from .operators.distinct import build_distinct_rollup

        if not hasattr(self, "distinct_rollups"):
            self.distinct_rollups: dict = {}
        r = build_distinct_rollup(
            self.df, self.time_column, column,
            bucket_seconds=bucket_seconds, lg_k=lg_k, partition_by=partition_by,
        )
        self.distinct_rollups[column] = r
        return r

    def build_distinct_indexes(
        self,
        columns: tuple[str, ...] | list[str],
        bucket_seconds: int = 3600,
        lg_k: int = 12,
        partition_by: str | None = None,
    ):
        """N columns' HLL rollups in ONE table scan (the multi-column
        one-pass discipline applied to sketches). Registers every column
        for :meth:`approx_distinct` asks."""
        from .operators.distinct import build_distinct_rollups

        rollups = build_distinct_rollups(
            self.df, self.time_column, list(columns),
            bucket_seconds=bucket_seconds, lg_k=lg_k, partition_by=partition_by,
        )
        self.distinct_rollups.update(rollups)
        return rollups

    def build_theta_index(
        self,
        column: str,
        bucket_seconds: int = 3600,
        lg_k: int = 12,
        partition_by: str | None = None,
    ):
        """Build a per-bucket THETA sketch rollup — the distinct-count wheel
        with SET ALGEBRA across time ranges (see :mod:`.operators.theta`):
        :meth:`approx_retained` (distincts in both ranges — retention),
        :meth:`approx_new` (in r2, never in r1), :meth:`approx_jaccard`
        (audience overlap), plus the plain range estimate. Answers are tiny
        jobs over the cached rollup, never a table scan; same opt-in
        discipline as the HLL rollups (KeyError when absent).
        ``partition_by=key`` adds :meth:`theta_retained_by_key` cohort
        tables from the same build."""
        from .operators.theta import build_theta_rollup

        r = build_theta_rollup(
            self.df, self.time_column, column,
            bucket_seconds=bucket_seconds, lg_k=lg_k, partition_by=partition_by,
        )
        self.theta_rollups[column] = r
        return r

    def build_topk_index(
        self,
        column: str,
        bucket_seconds: int = 3600,
        capacity: int = 64,
        partition_by: str | None = None,
        max_keys=_KEYS_DEFAULT,
    ):
        """Build a per-bucket truncated-counter rollup for approximate
        "top ``column`` values in a time range" — the heavy-hitters sketch
        family (see :mod:`.operators.frequency`). Query with
        :meth:`approx_topk` / :meth:`approx_item_count`; answers come with
        deterministic ``[est, upper]`` bounds, cost O(buckets × capacity),
        never a table scan. With ``capacity`` ≥ the per-bucket distinct
        count the answers are exact. ``partition_by=key`` truncates per
        ``(bucket, key)`` for :meth:`approx_topk_by_key` dimensional asks
        (unkeyed asks still answer with valid bounds). Keyed builds cap
        the key domain at build time (the driver mirror is buckets ×
        capacity × keys rows); ``max_keys=`` raises the default cap for a
        genuinely bigger bounded domain, and ``max_keys=None`` DISABLES it
        — the SAME meaning the operator layer gives None (review r10p5:
        None briefly inverted between the two layers)."""
        from .operators.frequency import _DEFAULT_MAX_KEYS, build_frequency_rollup

        r = build_frequency_rollup(
            self.df, column, self.time_column,
            bucket_seconds=bucket_seconds, capacity=capacity,
            partition_by=partition_by,
            max_keys=_DEFAULT_MAX_KEYS if max_keys is _KEYS_DEFAULT else max_keys,
        )
        self.topk_rollups[column] = r
        return r

    def approx_topk(self, column: str, start, end, k: int = 10) -> DataFrame:
        """Top-``k`` ``column`` values by count over ``[start, end)`` as
        ``(item, est, upper)`` from the truncated-counter rollup
        (:meth:`build_topk_index`; KeyError if none)."""
        return self.topk_rollups[column].approx_topk(start, end, k)

    def approx_topk_rows(self, column: str, start, end, k: int = 10) -> list:
        """Driver-resident form of :meth:`approx_topk` — the same
        ``(item, est, upper)`` rows as plain Python tuples with ZERO Spark
        jobs (the counterpart of :meth:`sql_rows` for the frequency
        rollup; see :meth:`..operators.frequency.FrequencyRollup.topk_rows`)."""
        return self.topk_rollups[column].topk_rows(start, end, k)

    def approx_topk_rows_by(
        self, column: str, granularity, k: int = 10, start=None, end=None
    ) -> list:
        """Driver-resident form of :meth:`approx_topk_by` — per-period
        ``(bucket, item, est, upper)`` tuples, zero Spark jobs."""
        return self.topk_rollups[column].topk_rows_by(
            granularity, k, start=start, end=end
        )

    def approx_topk_rows_by_key(
        self, column: str, k: int = 10, start=None, end=None
    ) -> list:
        """Driver-resident form of :meth:`approx_topk_by_key` — per-key
        ``(<key>, item, est, upper)`` tuples, zero Spark jobs."""
        return self.topk_rollups[column].topk_rows_by_key(
            k, start=start, end=end
        )

    def approx_item_count(self, column: str, item, start, end) -> tuple[int, int]:
        """``(est, upper)`` count bounds for one ``column`` value over the
        range (the point-query form of :meth:`approx_topk`)."""
        return self.topk_rollups[column].approx_count(item, start, end)

    def approx_topk_by(
        self, column: str, granularity, k: int = 10, start=None, end=None
    ) -> DataFrame:
        """Per-period top-``k`` ``column`` values ("top domains per day") —
        the group-by form of :meth:`approx_topk`, same opt-in discipline."""
        return self.topk_rollups[column].approx_topk_by(
            granularity, k, start=start, end=end
        )

    def approx_topk_by_key(
        self, column: str, k: int = 10, start=None, end=None
    ) -> DataFrame:
        """Per-key top-``k`` ``column`` values ("top domains per language")
        — requires a ``partition_by=`` build of :meth:`build_topk_index`;
        same opt-in discipline."""
        return self.topk_rollups[column].approx_topk_by_key(
            k, start=start, end=end
        )

    def approx_retained(self, column: str, r1, r2) -> int:
        """Estimated distinct ``column`` values present in BOTH ``(start,
        end)`` ranges — period-over-period retention, from the theta rollup
        (:meth:`build_theta_index`; KeyError if none)."""
        return self.theta_rollups[column].approx_retained(r1, r2)

    def approx_new(self, column: str, r1, r2) -> int:
        """Estimated distinct ``column`` values in ``r2`` never seen in
        ``r1`` (set difference) — new-audience counts."""
        return self.theta_rollups[column].approx_new(r1, r2)

    def approx_jaccard(self, column: str, r1, r2) -> float:
        """Estimated ``|r1 ∩ r2| / |r1 ∪ r2|`` audience overlap in [0, 1]."""
        return self.theta_rollups[column].approx_jaccard(r1, r2)

    def theta_retained_by_key(self, column: str, r1, r2):
        """Per-key cohort retention table ``(key, n_r1, n_r2, n_retained)``
        from a keyed theta build (``partition_by=``)."""
        return self.theta_rollups[column].retained_by_key(r1, r2)

    def theta_retention_by(self, column: str, granularity, start=None, end=None):
        """Period-over-period retention series ``(period, n_curr, n_prev,
        n_retained, retention)`` — each period's distinct ``column`` values
        intersected with the previous occupied period's."""
        return self.theta_rollups[column].retention_by(granularity, start, end)

    def approx_distinct(self, column: str, start, end, **kw) -> int:
        """Estimated distinct count of ``column`` over ``[start, end)`` from
        the rollup built by :meth:`build_distinct_index` (KeyError if none —
        approximate answers are opt-in, never a silent substitution).
        ``key=value`` restricts a keyed rollup to one partition value."""
        return self.distinct_rollups[column].approx_distinct(start, end, **kw)

    def approx_distinct_by_key(self, column: str, start=None, end=None):
        """Per-key distinct estimates from a keyed rollup
        (``build_distinct_index(..., partition_by=key)``) — distinct users
        per segment in one tiny job."""
        return self.distinct_rollups[column].approx_distinct_by_key(start, end)

    def approx_distinct_by(self, column: str, granularity, start=None, end=None):
        """Per-bucket ``COUNT(DISTINCT column)`` estimates — the group-by
        form: a named ``date_trunc`` granularity or an integer tumbling
        width in seconds. Same opt-in discipline (KeyError if no rollup)."""
        return self.distinct_rollups[column].approx_distinct_by(
            granularity, start, end
        )

    def null_stats(self, column: str, start=None, end=None) -> dict:
        """Data-quality monitor, zero jobs: ``(rows, nulls, null_ratio)``
        of ``column`` over ``[start, end)`` — derived from the aggregate
        wheel's existing COUNT(*) / non-null-count states, so a quality
        dashboard probing it never touches the table. Bounds default to the
        wheel's own span; they must be bucket-aligned and covered
        (ValueError otherwise — the facade never silently scans).

        Requires an unfiltered wheel for ``column`` (KeyError if none) with
        NULL tracking (every wheel built since r2 has it)."""
        w = self.agg_wheels[(column, STAR_AGGREGATION_ALIAS)]
        if w.vcnt_ is None:
            raise ValueError(
                f"wheel for {column!r} predates NULL tracking — rebuild it"
            )

        a = _bound_sec(start, w.low_sec)
        b = _bound_sec(end, w.high_sec_exclusive)
        states = w.combine_range(a, b, ("count", "count_col"))
        if states is None:
            raise ValueError(
                "range not answerable from the wheel (unaligned to its "
                "buckets or outside a time_range-restricted build) — query "
                "through engine.sql for the delegated answer"
            )
        rows = states["count"]
        nulls = rows - states["count_col"]
        return {
            "rows": rows,
            "nulls": nulls,
            "null_ratio": (nulls / rows) if rows else None,
        }

    def null_stats_by(self, column: str, granularity, start=None, end=None):
        """Per-bucket NULL accounting — the drift-detection form of
        :meth:`null_stats`: ``(bucket TIMESTAMP, rows, nulls, null_ratio)``
        for occupied buckets at a named ``date_trunc`` granularity or an
        integer tumbling width in seconds. Zero jobs; the result is a tiny
        constant relation assembled from the wheel states."""
        from .functions.timestamps import secs_to_datetimes

        w = self.agg_wheels[(column, STAR_AGGREGATION_ALIAS)]
        if w.vcnt_ is None:
            raise ValueError(
                f"wheel for {column!r} predates NULL tracking — rebuild it"
            )

        a = _bound_sec(start, w.low_sec)
        b = _bound_sec(end, w.high_sec_exclusive)
        groups = w.group_by(a, b, granularity, ("count", "count_col"))
        if groups is None:
            raise ValueError(
                "range/granularity not answerable from the wheel — query "
                "through engine.sql for the delegated answer"
            )
        secs, cols = groups
        rows = [
            (t, n, n - vn, ((n - vn) / n) if n else None)
            for t, n, vn in zip(
                secs_to_datetimes(secs), cols["count"], cols["count_col"]
            )
        ]
        return self.spark.createDataFrame(
            rows, "bucket timestamp, rows bigint, nulls bigint, null_ratio double"
        )

    def null_stats_by_key(self, column: str, key_column: str, start=None, end=None):
        """Per-segment NULL accounting from a partitioned wheel family
        (``build_partitioned_index(column, partition_by=key_column)``):
        ``(key, rows, nulls, null_ratio)`` per key value with rows in the
        range — zero jobs, key-complete (NULL keys included; values with no
        rows in range are omitted, matching a delegated GROUP BY)."""
        ps = self.partition_sets[key_column.lower()]
        self._ensure_base()
        star = self.count_wheels[STAR_AGGREGATION_ALIAS]

        a = _bound_sec(start, star.low_sec)
        b = _bound_sec(end, star.high_sec_exclusive)
        rows = []
        for v, fam in sorted(
            ps["wheels"].items(), key=lambda kv: (kv[0] is None, str(kv[0]))
        ):
            w = fam.get(column)
            if w is None or w.vcnt_ is None:
                raise ValueError(
                    f"family for {key_column!r} lacks a NULL-tracking wheel "
                    f"for {column!r}"
                )
            # a value's wheel may span less than the ask: clamp to its own
            # coverage (key-completeness proves nothing exists outside it)
            states = w.combine_range(
                max(a, w.low_sec), min(b, w.high_sec_exclusive),
                ("count", "count_col"),
            ) if w.low_sec < b and w.high_sec_exclusive > a else {"count": 0, "count_col": 0}
            if states is None:
                raise ValueError(
                    "range not answerable from the family (unaligned to its "
                    "buckets) — query through engine.sql instead"
                )
            n = states["count"]
            if n == 0:
                continue
            nulls = n - states["count_col"]
            rows.append((v, n, nulls, nulls / n))
        ktype = ps["key_sql_type"]
        return self.spark.createDataFrame(
            rows,
            f"key {ktype}, rows bigint, nulls bigint, null_ratio double",
        )

    def value_range_by(self, column: str, granularity, start=None, end=None):
        """Per-bucket value-envelope drift — the MIN/MAX companion of
        :meth:`null_stats_by`: ``(bucket TIMESTAMP, min_value, max_value)``
        from the wheel's min/max states, zero jobs. All-NULL buckets emit
        NULL bounds (SQL aggregate semantics). Outlier injections show up
        as envelope jumps without ever scanning the table."""
        from .functions.timestamps import secs_to_datetimes

        w = self.agg_wheels[(column, STAR_AGGREGATION_ALIAS)]
        if w.min_ is None or w.max_ is None:
            raise ValueError(
                f"wheel for {column!r} lacks min/max states — build with "
                "aggs=None or aggs including 'min'/'max'"
            )

        a = _bound_sec(start, w.low_sec)
        b = _bound_sec(end, w.high_sec_exclusive)
        groups = w.group_by(a, b, granularity, ("min", "max"))
        if groups is None:
            raise ValueError(
                "range/granularity not answerable from the wheel — query "
                "through engine.sql for the delegated answer"
            )
        sql_type = w.value_sql_type
        secs, cols = groups
        rows = list(zip(secs_to_datetimes(secs), cols["min"], cols["max"]))
        return self.spark.createDataFrame(
            rows,
            f"bucket timestamp, min_value {sql_type}, max_value {sql_type}",
        )

    def build_quantile_index(
        self,
        column: str,
        bucket_seconds: int = 3600,
        k: int = 200,
        partition_by: str | None = None,
    ):
        """Build a per-bucket KLL sketch rollup for approximate-percentile
        range queries (the custom-aggregator extension point applied to a
        second non-scalar state — see :mod:`.operators.quantiles`). Query
        with :meth:`approx_quantile` / :meth:`approx_rank`; answers carry
        the KLL rank-error bound (~1.65% at k=200) and come from a tiny job
        over the cached rollup, never a scan of the table. Integral columns
        keep exact int64 sketch values."""
        from .operators.quantiles import build_quantile_rollup

        r = build_quantile_rollup(
            self.df, self.time_column, column,
            bucket_seconds=bucket_seconds, k=k, partition_by=partition_by,
        )
        self.quantile_rollups[column] = r
        return r

    def build_quantile_indexes(
        self,
        columns: tuple[str, ...] | list[str],
        bucket_seconds: int = 3600,
        k: int = 200,
        partition_by: str | None = None,
    ):
        """N columns' KLL rollups in ONE table scan (the multi-column
        one-pass discipline of :meth:`build_indexes` applied to sketches).
        Registers every column for :meth:`approx_quantile` asks."""
        from .operators.quantiles import build_quantile_rollups

        rollups = build_quantile_rollups(
            self.df, self.time_column, list(columns),
            bucket_seconds=bucket_seconds, k=k, partition_by=partition_by,
        )
        self.quantile_rollups.update(rollups)
        return rollups

    def build_sketch_indexes(
        self,
        distinct: tuple[str, ...] | list[str] = (),
        quantile: tuple[str, ...] | list[str] = (),
        theta: tuple[str, ...] | list[str] = (),
        bucket_seconds: int = 3600,
        lg_k: int = 12,
        k: int = 200,
        partition_by: str | None = None,
    ):
        """Every requested sketch FAMILY's rollups in ONE table scan — the
        multi-column one-pass discipline of :meth:`build_indexes` applied
        across the HLL / KLL / theta families (their builds aggregate over
        the identical bucket key, so one pass computes them all; at scale
        the scan is the whole build cost). Registers each handle exactly
        like the per-family builders (:meth:`approx_distinct`,
        :meth:`approx_quantile`, :meth:`approx_retained` asks all work);
        answers match standalone builds (HLL/theta state is
        order-independent; KLL carries its usual rank-error bound).
        Returns ``{"distinct": {...}, "quantile": {...}, "theta": {...}}``.
        """
        from .operators.multibuild import build_sketch_rollups

        out = build_sketch_rollups(
            self.df, self.time_column,
            distinct=distinct, quantile=quantile, theta=theta,
            bucket_seconds=bucket_seconds, lg_k=lg_k, k=k,
            partition_by=partition_by,
        )
        self.distinct_rollups.update(out["distinct"])
        self.quantile_rollups.update(out["quantile"])
        self.theta_rollups.update(out["theta"])
        return out

    def approx_quantile(self, column: str, q, start, end, **kw):
        """Estimated ``q``-quantile(s) of ``column`` over ``[start, end)``
        from the rollup built by :meth:`build_quantile_index` (KeyError if
        none — approximate answers are opt-in, never a silent
        substitution). ``q`` may be a float or a sequence; a sequence costs
        the same single merge job. ``key=value`` restricts a keyed rollup
        to one partition value."""
        return self.quantile_rollups[column].approx_quantile(q, start, end, **kw)

    def approx_rank(self, column: str, value, start, end, **kw):
        """Estimated CDF of ``value`` within ``column`` over ``[start,
        end)`` — the inverse of :meth:`approx_quantile`. Same opt-in
        discipline (KeyError if no rollup)."""
        return self.quantile_rollups[column].approx_rank(value, start, end, **kw)

    def approx_quantile_by_key(self, column: str, q, start=None, end=None):
        """Per-key quantile estimates from a keyed rollup
        (``build_quantile_index(..., partition_by=key)``) — latency
        percentile per endpoint in one tiny job."""
        return self.quantile_rollups[column].approx_quantile_by_key(q, start, end)

    def approx_quantile_by(self, column: str, granularity, q, start=None, end=None):
        """Per-bucket quantile estimates — the group-by form: a named
        ``date_trunc`` granularity or an integer tumbling width in seconds.
        Same opt-in discipline (KeyError if no rollup)."""
        return self.quantile_rollups[column].approx_quantile_by(
            granularity, q, start, end
        )

    def build_min_max_index(self, column: str) -> str:
        """Add a MIN/MAX pruning wheel after construction (min/max states
        only — the reference's ``build_min_max_wheel``, ``lib.rs:967-1017``)."""
        phases: dict = {}
        indices = build_wheel_indices(
            self.df, self.name, self.time_column, [column],
            bucket_seconds=self.bucket_seconds, backend=self.index_backend,
            states=("min", "max"), phases=phases,
        )
        self.min_max_wheels[column] = indices[column]
        self._min_max_pending = tuple(
            c for c in self._min_max_pending if c != column
        )
        self.last_build = phases
        return indices[column].key

    # ------------------------------------------------------------- queries
    def _route(self, query: str, parsed=None) -> tuple[RouteDecision, _Routed | None]:
        """The one route behind every door: ``(decision, entry)``, where
        ``entry`` holds the router's answer and ``None`` means delegate.
        ``parsed`` skips the parse when the caller already holds it (the
        catalog parses to find the owning engine).

        Routed answers are memoized per query string until any index
        mutates (``index_epoch``), so a text asked through one door is
        served to every other door from the same entry. Delegated queries
        are never memoized — the underlying table may change outside the
        engine's view."""
        entry = _memo_get(self._route_memo, query)
        if entry is not None and entry.epoch == self.index_epoch:
            return entry.decision, entry
        if parsed is None:
            try:
                parsed = parse_select(query, self._parse_memo)
            except ParseError as err:
                return RouteDecision("delegate", detail={"reason": str(err)}), None
        decision, answer = self.router.try_rewrite(parsed)
        if answer is None:
            return decision, None
        entry = _Routed(self.index_epoch, decision, answer)
        # approx_agg answers come from the SKETCH rollups, which mutate
        # through their own handles (merge_batch/compact) without bumping
        # index_epoch — never memoize them here; the rollup's ask memo
        # (which those mutations DO invalidate) prices repeats
        if decision.kind != "approx_agg":
            _memo_put(self._route_memo, query, entry)
        return decision, entry

    def _df_of(self, entry: _Routed) -> DataFrame:
        """The entry's answer as a DataFrame, built once: a constant
        LocalRelation, or the table's empty frame for a pruned scan. Zero
        Spark jobs either way."""
        if entry.df is None:
            if entry.answer is EMPTY:
                if self._empty_df is None:
                    self._empty_df = self.df.where("FALSE")
                entry.df = self._empty_df
            else:
                entry.df = router.constant_df(self.spark, *entry.answer)
        return entry.df

    def _rows_of(self, entry: _Routed) -> list:
        """The entry's answer as a fresh ``Row`` list (the cached list is
        built once; callers get a copy, so their mutations can't poison
        the memo)."""
        if entry.rows is None:
            ans = entry.answer
            entry.rows = [] if ans is EMPTY else _rows(ans.names, ans.rows)
        return list(entry.rows)

    def _view_of(self, entry: _Routed) -> str:
        """The name of a temp view over the entry's DataFrame, registered
        once per entry: a spliced ``WITH`` text reads a routed CTE body
        through it, and a repeated text registers no new view."""
        if entry.view is None:
            view = f"__uw_cte_{next(_CTE_VIEW_SEQ)}"
            self._df_of(entry).createOrReplaceTempView(view)
            entry.view = view
        return entry.view

    def sql(self, query: str) -> DataFrame:
        """Route-or-delegate, the engine's main entry point (§3.1).

        On a match the answer is a LocalRelation built from a driver-side
        wheel lookup — no Spark job runs. Otherwise the untouched SQL goes to
        ``spark.sql`` (full Catalyst surface). ``self.last_route`` records
        the decision for tests and benchmarks. A repeated routed text
        returns the same DataFrame until any index mutates (see
        :meth:`_route`).
        """
        decision, entry = self._route(query)
        self.last_route = decision
        return self.spark.sql(query) if entry is None else self._df_of(entry)

    def sql_rows(self, query: str) -> list:
        """:meth:`sql` with the DataFrame layer peeled off: routed answers
        come back as plain ``Row`` lists with **zero JVM round trips** — no
        VALUES parse, no ``collect()`` — so a wheel-served dashboard query
        costs microseconds of Python instead of the ~5-10 ms py4j floor
        every DataFrame materialization pays (the reference's µs-level
        latencies are py4j-free for the same reason: the answer is already
        driver-resident). A pruned ``SELECT *`` returns ``[]`` without a
        JVM call. Delegated queries run ``spark.sql(...).collect()`` —
        identical rows either way (same values, names, and ordering; a
        routed answer without ORDER BY has the same deterministic order the
        LocalRelation would). ``self.last_route`` records the decision."""
        # the memo hit, inline: the hot dashboard path enters no other layer
        entry = _memo_get(self._route_memo, query)
        if entry is not None and entry.epoch == self.index_epoch and entry.rows is not None:
            self.last_route = entry.decision
            return list(entry.rows)
        decision, entry = self._route(query)
        self.last_route = decision
        return self.spark.sql(query).collect() if entry is None else self._rows_of(entry)

    def routed_answer(self, query: str) -> tuple | None:
        """``(names, sql_types, rows)`` for a ROUTED constant answer, else
        ``None`` (delegates, parse failures, and scan-pruning rewrites that
        carry a full table schema all return ``None`` — the caller keeps
        its own fallback). The form of :meth:`sql_rows` that keeps the SQL
        types next to the values. ``last_route`` records the decision
        exactly as :meth:`sql_rows` would."""
        decision, entry = self._route(query)
        self.last_route = decision
        if entry is None or entry.answer is EMPTY:
            return None
        names, types, rows = entry.answer
        return list(names), list(types), list(rows)

    def explain_route(self, query: str) -> RouteDecision:
        """Routing decision without executing the delegate path."""
        return self._route(query)[0]

    def table(self) -> DataFrame:
        """The wrapped DataFrame (reference ``optimizer.provider()``,
        ``lib.rs:132-135``)."""
        return self.df

    def table_plan(self):
        """DataFrame-style accelerated entry point (SURVEY.md §3.2):
        ``engine.table_plan().filter(...).group_by(...).agg(...)`` routes
        through the same rewrite path as :meth:`sql`."""
        from .plans.table import WheelTable

        return WheelTable(self)

    # -------------------------------------------------------- persistence
    def save_indexes(self, out_dir: str) -> str:
        """Persist every wheel as parquet + manifest (see
        :mod:`.operators.persistence`), and every HLL distinct / KLL
        quantile rollup as a parquet sketch table (``distinct.json`` /
        ``quantiles.json`` sidecar manifests — before r4 the rollups were
        cache-only and a restart silently lost them);
        reload with ``WheelEngine(..., load_indexes=out_dir)``."""
        import json as _json
        import os as _os

        from .operators.persistence import save_wheels

        self._ensure_base()
        # Partitioned-family wheels double-register in count/agg for keyed
        # reuse — save them once, under the partition group only.
        part: dict = {}
        for ps in self.partition_sets.values():
            for v, fam in ps["wheels"].items():
                for c, w in fam.items():
                    part[(ps["key_column"], _json.dumps(v), c or "*")] = w
        owned = {id(w) for w in part.values()}
        groups = {
            "count": {k: w for k, w in self.count_wheels.items() if id(w) not in owned},
            "min_max": self.min_max_wheels,
            "agg": {k: w for k, w in self.agg_wheels.items() if id(w) not in owned},
        }
        if part:
            groups["partition"] = part
        path = save_wheels(groups, out_dir)
        if self.partition_sets:
            with open(_os.path.join(out_dir, "partitions.json"), "w") as f:
                _json.dump(
                    {
                        "version": 1,
                        "partitions": [
                            {
                                "key_column": ps["key_column"],
                                "key_sql_type": ps["key_sql_type"],
                            }
                            for ps in self.partition_sets.values()
                        ],
                    },
                    f,
                )
        # one manifest per sketch family — the mirror of the load loop in
        # ``__init__``; a fifth family is one more row in both tables
        for rollups, prefix, manifest in (
            (self.distinct_rollups, "distinct", "distinct.json"),
            (self.quantile_rollups, "quantile", "quantiles.json"),
            (self.theta_rollups, "theta", "theta.json"),
            (self.topk_rollups, "topk", "topk.json"),
        ):
            if not rollups:
                continue
            entries = []
            for i, (col, r) in enumerate(sorted(rollups.items())):
                d = f"{prefix}_{i:04d}"
                r.save(_os.path.join(out_dir, d))
                entries.append({"column": col, "dir": d})
            with open(_os.path.join(out_dir, manifest), "w") as f:
                _json.dump({"version": 1, "rollups": entries}, f)
        return path

    # ---------------------------------------------------- tiered retention
    def compact_indexes(self, older_than, granularity: str | int = "hour") -> int:
        """Tiered HAW retention (µWheel's hierarchical wheel model, SURVEY
        §1.3 / ``index/mod.rs`` HawConf): roll every driver wheel's buckets
        older than ``older_than`` into coarser ``granularity`` buckets,
        bounding index memory for long-running streams — without it a
        second-granularity wheel grows linearly with timeline span forever.

        ``older_than`` is a timestamp literal (or epoch seconds);
        ``granularity`` a named level ("minute"/"hour"/"day"/...) or a
        width in seconds that the base bucket width divides. Repeated calls
        with growing cutoffs implement the classic ladder (seconds roll to
        minutes after a day, to hours after a week, ...). Returns total
        buckets reclaimed.

        Queries whose bounds reach into the compacted span answer at the
        coarser alignment; finer asks DELEGATE (the covers() gate — answers
        never go stale or approximate). Aggregate values are unchanged for
        every query both tiers can serve: bucket states are monoids, so
        rolled buckets hold exactly what a fresh coarse build would.
        Spark-backend wheels compact too (one re-aggregation job over the
        cached rollup — bounding EXECUTOR cache the way the driver form
        bounds driver memory), under a slightly stricter ladder: widths
        must nest every existing tier and the cutoff may only advance.
        Sketch rollups (HLL distinct / KLL quantile / theta) join the same
        ladder — sketches are union monoids, so compacted spans answer
        coarse-aligned asks with identical estimates; rollups already at
        or coarser than the requested width are skipped, not an error.
        The whole call is all-or-nothing: every index validates the shape
        before any mutates. Re-register shim views after compacting — the
        exported ``bucket_sec`` becomes the coarsest tier width."""
        from .functions.timestamps import GRANULARITY_SECONDS

        if isinstance(granularity, str):
            if granularity not in GRANULARITY_SECONDS:
                raise ValueError(
                    f"unknown granularity {granularity!r}; one of "
                    f"{sorted(GRANULARITY_SECONDS)} or a width in seconds"
                )
            width = GRANULARITY_SECONDS[granularity]
        else:
            width = int(granularity)
        if isinstance(older_than, int):
            cutoff = older_than
        else:
            lit = parse_ts_literal(str(older_than))
            if lit is None:
                raise ValueError(f"unparseable cutoff {older_than!r}")
            cutoff = lit.epoch_us // 1_000_000
        cutoff -= cutoff % width
        seen: set[int] = set()
        wheels = []
        for w in self._all_wheels():
            if id(w) in seen or not hasattr(w, "compact_before"):
                continue
            seen.add(id(w))
            wheels.append(w)
        # Sketch rollups (HLL / KLL / theta) join the same ladder — their
        # per-bucket sketch frames are the only other index state that
        # grows with timeline span under streaming maintenance, and
        # sketches are union monoids so the wheels' compaction model
        # applies verbatim. Their bucket config is independent of the
        # engine's, so a rollup already at or coarser than the requested
        # width — by bucket config OR by an existing coarser tier (its
        # stricter single-tier ladder rejects a finer re-roll the driver
        # wheels accept) — is SKIPPED, not an error: its state is already
        # bounded at or above the target, and a mixed ladder must not
        # abort the whole call (under streaming retention that ValueError
        # would kill the stream).
        def _sketch_applicable(r) -> bool:
            if not (width > r.bucket_seconds and width % r.bucket_seconds == 0):
                return False
            try:
                r.check_compact(cutoff, width)
            except ValueError:
                return False
            return True

        sketches = [
            r
            for r in (
                list(self.distinct_rollups.values())
                + list(self.quantile_rollups.values())
                + list(self.theta_rollups.values())
                + list(self.topk_rollups.values())
            )
            if _sketch_applicable(r)
        ]
        # All-or-nothing: every WHEEL validates the (cutoff, width) shape
        # BEFORE any index mutates — the Spark backend's ladder is stricter
        # than the driver wheel's, and a mid-iteration ValueError must not
        # leave some indexes compacted (and the epoch unbumped) while
        # others are not. Sketches were already validated inside
        # _sketch_applicable (incompatible ones are skipped, not fatal).
        for w in wheels:
            w.check_compact(cutoff, width)
        reclaimed = 0
        for w in wheels + sketches:
            reclaimed += w.compact_before(cutoff, width)
        if reclaimed:
            self.index_epoch += 1
            self._route_memo.clear()
        return reclaimed

    def _all_wheels(self):
        self._ensure_base()
        yield from self.count_wheels.values()
        yield from self.min_max_wheels.values()
        yield from self.agg_wheels.values()
        for ps in self.partition_sets.values():
            for fam in ps["wheels"].values():
                for w in fam.values():
                    if w is not None:
                        yield w

    # -------------------------------------------------------- introspection
    def index_usage_bytes(self) -> int:
        """Total driver-side index footprint (reference
        ``index_usage_bytes``, ``lib.rs:143-146``; ``wheels.rs:53-75``)."""
        self._ensure_base()
        seen: set[int] = set()
        total = 0
        for w in (
            *self.count_wheels.values(),
            *self.min_max_wheels.values(),
            *self.agg_wheels.values(),
        ):
            if id(w) not in seen:
                seen.add(id(w))
                total += w.size_bytes()
        return total

    def list_indexes(self) -> list[dict]:
        """Metadata for every wheel: identity, span, size — the analogue of
        iterating ``BuiltInWheels`` (``wheels.rs:19-76``)."""
        self._ensure_base()
        out = []
        for kind, group in (
            ("count", self.count_wheels),
            ("min_max", self.min_max_wheels),
            ("agg", self.agg_wheels),
        ):
            # per kind: a seeded pruning wheel is also the column's
            # aggregate wheel, and is listed under both roles
            seen: set[int] = set()
            for w in group.values():
                if id(w) in seen:
                    continue
                seen.add(id(w))
                if hasattr(w, "_state_cols"):  # spark backend
                    states = tuple(w._state_cols)
                else:
                    states = tuple(
                        s
                        for s, arr in (
                            ("sum", w.sum_),
                            ("min", w.min_),
                            ("max", w.max_),
                            ("sumsq", w.sumsq_),
                        )
                        if arr is not None
                    )
                out.append(
                    {
                        "kind": kind,
                        "key": w.key,
                        "column": w.column,
                        "filter": w.filter_key,
                        "bucket_seconds": w.bucket_seconds,
                        "complete": w.complete,
                        "states": states,
                        "value_sql_type": getattr(w, "value_sql_type", "DOUBLE"),
                        "min_ts_us": w.min_ts_us,
                        "max_ts_us": w.max_ts_us,
                        "size_bytes": w.size_bytes(),
                    }
                )
        return sorted(out, key=lambda d: d["key"])

    def drop_index(self, column: str, filter: str | None = None) -> bool:
        """Remove an aggregate wheel (and bump the epoch so cached routed
        answers can't serve from it). Returns whether anything was dropped."""
        if filter is not None:
            fk = canonical_filter_key(parse_conjunction(filter))
        else:
            fk = STAR_AGGREGATION_ALIAS
        dropped = self.agg_wheels.pop((column, fk), None)
        if dropped is not None:
            self.index_epoch += 1
        return dropped is not None

    def index_keys(self) -> list[str]:
        self._ensure_base()
        return sorted(
            {w.key for w in self.count_wheels.values()}
            | {w.key for w in self.min_max_wheels.values()}
            | {w.key for w in self.agg_wheels.values()}
        )

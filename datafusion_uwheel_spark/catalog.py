"""Multi-table catalog: one SQL front door over many wheel engines.

The reference binds one optimizer instance to one table (``name: String``,
``datafusion-uwheel/src/lib.rs:76-77``); querying several indexed tables
means juggling several optimizers. :class:`WheelCatalog` lifts that
restriction: it owns one :class:`.engine.WheelEngine` per registered table
and dispatches each query to the owning engine by the parsed table name —
unknown tables, multi-table queries (joins), and unparseable SQL delegate
to ``spark.sql`` over the registered temp views, so the full relational
surface keeps working across tables.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from .engine import ParseMemo, WheelEngine, _rows
from .plans import cte_eval, router
from .plans.router import EMPTY, Answer, RouteDecision
from .plans.sqlparse import ParseError, parse_select, split_with_ctes

__all__ = ["WheelCatalog"]

class WheelCatalog:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.engines: dict[str, WheelEngine] = {}
        self.sim_engines: dict[str, object] = {}
        self.last_route: RouteDecision | None = None
        #: The catalog's dispatch parse, memoized like the engines' (it
        #: survives index mutations — parses depend on text alone); the
        #: engine reuses it, so the direct path parses once.
        self._parse_memo = ParseMemo()

    def register(self, name: str, source, time_column: str, **kwargs) -> WheelEngine:
        """Create and own an engine for ``name`` (same parameters as
        :class:`WheelEngine`); returns it for ``build_index`` calls."""
        eng = WheelEngine(self.spark, name, source, time_column, **kwargs)
        self.engines[name.lower()] = eng
        return eng

    def adopt(self, engine: WheelEngine) -> WheelEngine:
        """Register an ALREADY-constructed engine under its own table name —
        the migration path for code holding per-table engines that wants the
        catalog front door without rebuilding indexes."""
        self.engines[engine.name.lower()] = engine
        return engine

    def engine(self, name: str) -> WheelEngine:
        return self.engines[name.lower()]

    def register_similarity(self, name: str, source, dim: int, **kwargs):
        """Create and own a :class:`.similarity_engine.SimilarityEngine` for
        an embedding table — the catalog is the one front door over both
        index families (temporal wheels + ANN)."""
        from .similarity_engine import SimilarityEngine

        eng = SimilarityEngine(self.spark, name, source, dim, **kwargs)
        self.sim_engines[name.lower()] = eng
        return eng

    def similarity(self, name: str):
        return self.sim_engines[name.lower()]

    def _dispatch(self, query: str):
        """``(engine, answer)`` for ``query``, recording ``last_route``:
        the owning engine and its answer-memo entry for a single-table
        text, else no engine and the CTE splicer's answer (a
        driver-evaluated :class:`Answer` or a spliced DataFrame). The
        answer is ``None`` when the text delegates whole."""
        try:
            parsed = parse_select(query, self._parse_memo)
        except ParseError as err:
            # the CTE splicer records its own route when it answers
            self.last_route = RouteDecision("delegate", detail={"reason": str(err)})
            return None, self._route_ctes(query)
        eng = self.engines.get(parsed.table.lower())
        if eng is None:
            self.last_route = RouteDecision(
                "delegate", detail={"reason": f"unregistered table {parsed.table!r}"}
            )
            return None, None
        decision, entry = eng._route(query, parsed)
        self.last_route = eng.last_route = decision
        return eng, entry

    def sql(self, query: str) -> DataFrame:
        """Route to the owning engine's wheel lookups, else delegate.

        Single-table routable queries go to the owning engine whole. A
        multi-table query is delegated — but first, if it is a plain
        ``WITH`` query, each CTE whose body is itself routable is answered
        from the wheel and spliced back in as a temp view, so a routable
        aggregate feeding a join still skips the scan (beyond the
        reference, which only matches whole plans — ``lib.rs:246-252``).
        The routed answers are tiny driver-built frames, so Catalyst
        broadcasts them into the surrounding join for free.
        """
        eng, got = self._dispatch(query)
        if got is None:
            return self.spark.sql(query)
        if eng is not None:
            return eng._df_of(got)
        return router.constant_df(self.spark, *got) if isinstance(got, Answer) else got

    def sql_rows(self, query: str) -> list:
        """:meth:`sql` with the DataFrame layer peeled off — the catalog
        front door to :meth:`.engine.WheelEngine.sql_rows`: single-table
        routed answers come back as plain ``Row`` lists with zero JVM round
        trips (µs, not the ~5-10 ms py4j floor a DataFrame pays), so a
        multi-table dashboard needs no per-engine handles to get the direct
        path. Unregistered tables and unparseable SQL run
        ``spark.sql(...).collect()``; a ``WITH`` query goes through the CTE
        splicer first (a driver-evaluated outer query comes back with zero
        JVM round trips; a spliced one still executes its outer join on the
        JVM). Identical rows to ``self.sql(query).collect()`` in every
        case."""
        eng, got = self._dispatch(query)
        if got is None:
            return self.spark.sql(query).collect()
        if eng is not None:
            return eng._rows_of(got)
        return _rows(got.names, got.rows) if isinstance(got, Answer) else got.collect()

    def _route_ctes(self, query: str) -> Answer | DataFrame | None:
        """Wheel-answer the routable CTEs of a ``WITH`` query: the answer,
        or ``None`` if the query isn't a splittable WITH or no CTE routed
        (caller then delegates the original text untouched).

        Each CTE body whose table has an engine routes through that
        engine's :meth:`~.engine.WheelEngine._route` once per call — the
        one answer memo, whose epoch check retires an entry when its
        indexes mutate, so a body whose table gains an engine routes on
        the next call and a merged batch gets a fresh answer. A routed
        body is spliced back in as its entry's temp view (a door form of
        the memo entry, registered once per entry), so a repeated text
        registers no new view.

        When EVERY CTE routes, the outer query goes to the driver-side
        evaluator (:mod:`.plans.cte_eval`) over the entries' answers: a
        recognized join/filter/order shape comes back as one constant
        :class:`Answer` — zero Spark jobs — instead of the splice's three
        tiny jobs (scalar subquery, broadcast build, final collect).
        Unrecognized shapes run the spliced text. ``detail['sql']`` always
        carries the spliced text (with live temp views) so floor probes can
        still price the splice; ``detail['evaluated']`` says which path
        answered."""
        try:
            ctes, main = split_with_ctes(query)
        except ParseError:
            return None
        parts, routed, delegated, answers = [], {}, [], {}
        for name, body in ctes:
            eng = entry = None
            try:
                parsed = parse_select(body, self._parse_memo)
                eng = self.engines.get(parsed.table.lower())
            except ParseError:
                pass
            if eng is not None:
                decision, entry = eng._route(body, parsed)
                eng.last_route = decision
            if entry is None:
                delegated.append(name)
                parts.append(f"{name} AS ({body})")
                continue
            # Swap only the body: the CTE keeps its name, so the main query
            # text never needs identifier rewriting.
            parts.append(f"{name} AS (SELECT * FROM {eng._view_of(entry)})")
            routed[name] = decision.kind
            if entry.answer is not EMPTY:
                answers[name] = entry.answer
        if not routed:
            return None
        rewritten = "WITH " + ", ".join(parts) + " " + main
        detail = {"routed": routed, "delegated": delegated, "sql": rewritten}
        if len(answers) == len(ctes):
            spec = cte_eval.parse_outer(main)
            ev = None if spec is None else cte_eval.evaluate_outer(spec, answers)
            if ev is not None:
                detail["evaluated"] = "driver"
                self.last_route = RouteDecision("cte_rewrite", detail=detail)
                return Answer(*ev)
        try:
            spliced = self.spark.sql(rewritten)
        except AnalysisException as err:
            # a routed view was dropped under this splice (an index
            # mutation superseded its entry meanwhile): the original text
            # is always right
            self.last_route = RouteDecision(
                "delegate", detail={"reason": f"splice failed analysis: {err}"}
            )
            return None
        detail["evaluated"] = "splice"
        self.last_route = RouteDecision("cte_rewrite", detail=detail)
        return spliced

    def index_usage_bytes(self) -> int:
        return sum(e.index_usage_bytes() for e in self.engines.values())

"""In-memory span recorder for the traced run.

:func:`install` wraps public functions of each layer (parse, route, wheel
lookup, materialize, sketch asks and merges, streaming maintenance, index
builds, shim registration, catalog) from the outside and restores them on
exit; the package itself is not modified. A span is ``(name, start_ns,
end_ns, parent, ask, tag)``: ``parent`` is the index of the enclosing span
(or -1), ``ask`` the id of the benchmark ask it belongs to, ``tag`` an
optional label such as the route kind a ``try_rewrite`` returned.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager

NAME, START, END, PARENT, ASK, TAG = range(6)


class Tracer:
    def __init__(self):
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.ask = -1

    @contextmanager
    def span(self, name: str):
        rec = [name, time.perf_counter_ns(), 0, self._stack[-1] if self._stack else -1,
               self.ask, None]
        idx = len(self.spans)
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec[END] = time.perf_counter_ns()

    def self_times(self) -> list[int]:
        """Duration minus the time covered by direct children (one thread,
        so children never overlap)."""
        own = [s[END] - s[START] for s in self.spans]
        for s in self.spans:
            if s[PARENT] >= 0:
                own[s[PARENT]] -= s[END] - s[START]
        return own

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _wrap(tracer: Tracer, owner, attr: str, name: str, tag=None):
    orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*a, **kw):
        with tracer.span(name) as rec:
            out = orig(*a, **kw)
            if tag is not None:
                rec[TAG] = tag(out)
            return out

    setattr(owner, attr, traced)
    return owner, attr, orig


def install(tracer: Tracer):
    """Wrap every traced layer function; returns the undo callable."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from datafusion_uwheel_spark import catalog, engine, jvmshim
    from datafusion_uwheel_spark.operators import lookup, sketch_retention
    from datafusion_uwheel_spark.plans import router
    from datafusion_uwheel_spark.streaming import maintenance

    W = engine.WheelEngine
    undo = [
        _wrap(tracer, engine, "parse_select", "sqlparse.parse_select"),
        _wrap(tracer, router.Router, "try_rewrite", "router.try_rewrite",
              tag=lambda out: (out[0].kind, (out[0].detail or {}).get("reason"))),
        _wrap(tracer, router, "constant_df", "router.constant_df"),
        _wrap(tracer, W, "__init__", "engine.ctor"),
        _wrap(tracer, W, "build_index", "engine.build_index"),
        _wrap(tracer, W, "build_partitioned_index", "engine.build_partitioned_index"),
        _wrap(tracer, W, "build_sketch_indexes", "engine.build_sketch_indexes"),
        _wrap(tracer, W, "sql_rows", "engine.sql_rows"),
        _wrap(tracer, W, "sql", "engine.sql"),
        _wrap(tracer, W, "approx_distinct", "sketch.ask.distinct"),
        _wrap(tracer, W, "approx_quantile", "sketch.ask.quantile"),
        _wrap(tracer, W, "approx_retained", "sketch.ask.theta"),
        _wrap(tracer, catalog.WheelCatalog, "sql", "catalog.sql"),
        _wrap(tracer, maintenance.StreamingWheelMaintainer, "merge_batch",
              "maintenance.merge_batch"),
        _wrap(tracer, sketch_retention.SketchRetention, "merge_batch", "sketch.merge_batch"),
        _wrap(tracer, SparkSession, "sql", "spark.sql"),
        _wrap(tracer, DataFrame, "collect", "spark.collect"),
    ]
    for m in ("count_range", "combine_range", "group_by", "min_max_range", "at_start",
              "merge_delta"):
        undo.append(_wrap(tracer, lookup.WheelIndex, m, f"lookup.{m}"))
    for m in ("register_count_rollup", "register_agg_rollup", "register_dim_rollup"):
        undo.append(_wrap(tracer, jvmshim, m, f"jvmshim.{m}"))

    def uninstall():
        for owner, attr, orig in reversed(undo):
            setattr(owner, attr, orig)

    return uninstall

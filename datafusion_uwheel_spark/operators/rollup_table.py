"""Spark-backed wheel: the rollup stays a cached DataFrame, not driver numpy.

The driver-side :class:`.lookup.WheelIndex` answers in microseconds but holds
the whole bucket array in driver memory — bounded by distinct buckets in the
span (≈31M/year at second granularity). For multi-year second-precision
tables where even sparse rollups outgrow the driver (and ``time_range`` /
coarser ``index_granularity`` are unacceptable), this backend keeps the same
interface while storing the rollup as a **cached, bucket-sorted DataFrame**:
every lookup is a tiny Spark job over the in-memory columnar cache
(filter on the sorted bucket key + final aggregate — tens of ms), still
orders of magnitude cheaper than scanning the base table, and scaling to any
span a cluster can cache.

Same states, same monoid math, same rewrite-safety gates as the driver wheel
— the engine chooses per build via ``index_backend="spark"``. NULL semantics
come for free here: all-NULL buckets store SQL NULL states and Spark's own
re-aggregation skips them; the non-null count column (``__vcnt``) supplies
the AVG/variance denominator, exactly as the driver wheel's ``vcnt_``.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.timestamps import GRANULARITY_SECONDS, MICROS_PER_SECOND
from .lookup import (
    INTEGRAL_SQL_TYPES,
    carried_states,
    states_to_columns,
    wanted_states,
)

__all__ = ["SparkRollupWheel"]


class SparkRollupWheel:
    """Wheel with :class:`WheelIndex`-compatible query methods, backed by a
    cached rollup DataFrame ``(__sec, __cnt[, __vcnt, __sum, __min, __max,
    __sumsq])`` — state columns individually optional (per-aggregate builds)."""

    def __init__(
        self,
        rollup: DataFrame,
        table: str,
        column: str | None,
        filter_key: str,
        min_ts_us: int,
        max_ts_us: int,
        complete: bool = False,
        bucket_seconds: int = 1,
        value_sql_type: str = "DOUBLE",
    ):
        self.rollup = rollup.persist()
        self.table = table
        self.column = column
        self.filter_key = filter_key
        self.min_ts_us = min_ts_us
        self.max_ts_us = max_ts_us
        self.complete = complete
        self.bucket_seconds = bucket_seconds
        self.value_sql_type = value_sql_type
        self._state_cols = [
            s for s in ("sum", "min", "max", "sumsq") if f"__{s}" in rollup.columns
        ]
        self._has_vcnt = "__vcnt" in rollup.columns
        self._has_at = "__atcnt" in rollup.columns
        self._landmark_cache: dict[str, Any] | None = None
        #: Tiered-retention prefix spans [(end_sec_exclusive, width_sec)],
        #: same contract as the driver wheel's (lookup.WheelIndex.tiers).
        self.tiers: list[tuple[int, int]] = []

    # ----------------------------------------------------- tiered retention
    def width_at(self, sec: int) -> int:
        """Bucket width in force at ``sec`` (tiers are prefix spans)."""
        for end, w in self.tiers:
            if sec < end:
                return w
        return self.bucket_seconds

    def _max_width_in(self, start_sec: int, end_sec: int) -> int:
        w = self.bucket_seconds
        for tend, tw in self.tiers:
            if start_sec < tend:
                w = max(w, tw)
        return w

    def check_compact(self, cutoff_sec: int, width: int) -> None:
        """Validate ``(cutoff, width)`` against this wheel's (stricter)
        ladder without mutating anything — the all-or-nothing pre-check
        ``engine.compact_indexes`` runs over every wheel before compacting
        any, so a mixed driver/Spark-backed engine never ends up partially
        compacted when this backend rejects a shape the driver accepts."""
        if width <= 0 or width % self.bucket_seconds:
            raise ValueError(
                f"width {width} not a multiple of bucket {self.bucket_seconds}"
            )
        for tend, tw in self.tiers:
            if width % tw:
                raise ValueError(
                    f"width {width} does not nest existing tier width {tw}"
                )
        cutoff = cutoff_sec - (cutoff_sec % width)
        for tend, _ in self.tiers:
            if cutoff < tend:
                raise ValueError(
                    f"cutoff {cutoff} precedes existing tier end {tend}"
                )

    def compact_before(self, cutoff_sec: int, width: int) -> int:
        """Roll buckets older than ``cutoff_sec`` into ``width``-second
        buckets — the Spark-backend spelling of the driver wheel's HAW
        tiering: one re-aggregation job over the cached rollup, swapping
        in the coarse prefix. Bounds EXECUTOR cache for endless streams
        the way the driver form bounds driver memory. States are monoids,
        so answers over compacted spans match a fresh coarse build;
        at-start sliver states survive on each coarse bucket's start
        instant (rows at other instants merge into the interior, exactly
        like the driver wheel). Queries finer than a compacted tier fall
        through via :meth:`covers`. Returns buckets reclaimed.

        Ladder discipline (a strict subset of the driver wheel's, enough
        for the seconds→minutes→hours→days cadence): ``width`` must be a
        multiple of ``bucket_seconds`` AND of every existing tier width,
        and ``cutoff_sec`` (floored to ``width``) must not precede an
        existing tier's end."""
        self.check_compact(cutoff_sec, width)
        cutoff = cutoff_sec - (cutoff_sec % width)
        if width == self.bucket_seconds and not self.tiers:
            return 0
        old = self.rollup
        in_span = F.col("__sec") < cutoff
        before = old.filter(in_span).count()
        if before == 0:
            return 0
        gsec = (F.col("__sec") - (F.col("__sec") % width)).alias("__sec")
        aggs = [F.sum("__cnt").alias("__cnt")]
        if self._has_vcnt:
            aggs.append(F.sum("__vcnt").alias("__vcnt"))
        for s in self._state_cols:
            fn = F.min if s == "min" else (F.max if s == "max" else F.sum)
            aggs.append(fn(f"__{s}").alias(f"__{s}"))
        if self._has_at:
            # the coarse bucket's at-start states are the fine bucket AT its
            # start instant (at most one row matches; absent → NULL → the
            # at_start() reader already treats missing as zero)
            start_hit = F.col("__sec") % width == 0
            for c in old.columns:
                if c.startswith("__at"):
                    aggs.append(F.sum(F.when(start_hit, F.col(c))).alias(c))
        coarse = old.filter(in_span).groupBy(gsec).agg(*aggs)
        merged = (
            coarse.unionByName(old.filter(~in_span).select(*coarse.columns))
            .persist()
        )
        after = merged.filter(in_span).count()  # also materializes the cache
        old.unpersist()
        self.rollup = merged
        self.tiers = [(cutoff, width)]
        self._landmark_cache = None
        return before - after

    @property
    def tracks_at_start(self) -> bool:
        return self._has_at

    def at_start(self, sec: int) -> dict[str, Any] | None:
        """At-start sliver states for the bucket at ``sec`` — same contract
        as :meth:`WheelIndex.at_start` (one tiny job over the cached rollup)."""
        if not self._has_at:
            return None
        out: dict[str, Any] = {"count": 0, "vcnt": 0}
        if "sum" in self._state_cols:
            out["sum"] = 0
        if "sumsq" in self._state_cols:
            out["sumsq"] = 0.0
        if "min" in self._state_cols:
            out["min"] = None
        if "max" in self._state_cols:
            out["max"] = None
        rows = self.rollup.filter(F.col("__sec") == sec).collect()
        if not rows:
            return out
        d = rows[0].asDict()
        n = int(d["__atcnt"] or 0)
        vn = int(d.get("__atvcnt") or 0) if "__atvcnt" in d else n
        out["count"] = n
        out["vcnt"] = vn
        if vn:
            if d.get("__atsum") is not None:
                out["sum"] = self._py(d["__atsum"])
            if d.get("__atsumsq") is not None:
                out["sumsq"] = float(d["__atsumsq"])
            if d.get("__atmin") is not None:
                out["min"] = self._py(d["__atmin"])
            if d.get("__atmax") is not None:
                out["max"] = self._py(d["__atmax"])
        return out

    # ---------------------------------------------------- shared gate logic
    @property
    def empty(self) -> bool:
        return self.max_ts_us < self.min_ts_us

    @property
    def is_integral(self) -> bool:
        return self.value_sql_type in INTEGRAL_SQL_TYPES

    def _py(self, v):
        return int(v) if self.is_integral else float(v)

    @property
    def low_sec(self) -> int:
        s = self.min_ts_us // MICROS_PER_SECOND
        return s - (s % self.width_at(s))

    @property
    def high_sec_exclusive(self) -> int:
        s = self.max_ts_us // MICROS_PER_SECOND
        w = self.width_at(s)
        return s - (s % w) + w

    def covers(self, start_sec: int, end_sec: int) -> bool:
        """Each bound must align to the bucket width in force at ITS tier
        (same contract as the driver wheel): queries into a compacted span
        answer at the coarser alignment, finer asks fall through."""
        if start_sec > end_sec:
            return False
        if start_sec % self.width_at(start_sec) or end_sec % self.width_at(end_sec):
            return False
        if self.complete:
            return True
        if self.empty:
            return False
        return start_sec >= self.low_sec and end_sec <= self.high_sec_exclusive

    # -------------------------------------------------------------- queries
    def _range(self, start_sec: int, end_sec: int) -> DataFrame:
        return self.rollup.filter(
            (F.col("__sec") >= start_sec) & (F.col("__sec") < end_sec)
        )

    def _agg_exprs(self) -> list:
        aggs = [F.sum("__cnt").alias("count")]
        if self._has_vcnt:
            aggs.append(F.sum("__vcnt").alias("vcnt"))
        for s in self._state_cols:
            fn = F.min if s == "min" else (F.max if s == "max" else F.sum)
            aggs.append(fn(f"__{s}").alias(s))
        return aggs

    def _states_from(self, d: dict) -> dict[str, Any]:
        """Shared post-aggregation state derivation (NULL-correct: vn is the
        non-null count; Spark's sum/min/max already skipped NULL buckets)."""
        from .lookup import _variance_states

        n = int(d["count"] or 0)
        out: dict[str, Any] = {"count": n}
        if self._has_vcnt:
            vn = int(d["vcnt"] or 0)
            out["count_col"] = vn
        else:
            vn = n
        if not self._state_cols:
            return out
        s = None
        if "sum" in self._state_cols:
            s = d["sum"]
            out["sum"] = self._py(s) if s is not None and vn else None
            out["avg"] = float(s) / vn if s is not None and vn else None
        if "min" in self._state_cols:
            out["min"] = self._py(d["min"]) if d["min"] is not None and vn else None
        if "max" in self._state_cols:
            out["max"] = self._py(d["max"]) if d["max"] is not None and vn else None
        if "sum" in self._state_cols and "sumsq" in self._state_cols:
            sq = d["sumsq"]
            out["_sumsq"] = float(sq) if sq is not None else 0.0
            out.update(
                _variance_states(
                    float(s) if s is not None else None,
                    float(sq) if sq is not None else None,
                    vn,
                )
            )
        return out

    @property
    def state_keys(self) -> frozenset:
        """Every state key this wheel can answer — same rule as
        :attr:`.lookup.WheelIndex.state_keys`."""
        cols = self._state_cols
        return carried_states(
            self._has_vcnt, "sum" in cols, "min" in cols, "max" in cols,
            "sumsq" in cols,
        )

    def _columns(self, rows, states):
        """Collected ``(__bucket, states...)`` rows → the column-wise
        group-by contract of :meth:`.lookup.WheelIndex.group_by`."""
        return states_to_columns(
            [int(r["__bucket"]) for r in rows],
            [self._states_from(r.asDict()) for r in rows],
            wanted_states(states, self.state_keys),
        )

    def _states_row(self, df: DataFrame) -> dict[str, Any]:
        row = df.agg(*self._agg_exprs()).collect()[0].asDict()
        return self._states_from(row)

    def count_range(self, start_sec: int, end_sec: int) -> int | None:
        if not self.covers(start_sec, end_sec):
            return None
        row = self._range(start_sec, end_sec).agg(F.sum("__cnt")).collect()[0][0]
        return int(row or 0)

    def combine_range(
        self, start_sec: int, end_sec: int, states=None
    ) -> dict[str, Any] | None:
        if not self.covers(start_sec, end_sec):
            return None
        # the one Spark job computes every state; hand back what was asked
        st = self._states_row(self._range(start_sec, end_sec))
        return {k: st[k] for k in wanted_states(states, self.state_keys)}

    def landmark(self) -> dict[str, Any]:
        if self._landmark_cache is None:
            self._landmark_cache = self._states_row(self.rollup)
        return self._landmark_cache

    def group_by(self, start_sec: int, end_sec: int, granularity, states=None):
        from ..functions.timestamps import (
            CALENDAR_GRANULARITIES,
            WEEK_EPOCH_OFFSET_SECONDS,
        )

        # the grouping must tile the COARSEST bucket width in the asked
        # range — after tiered compaction that can exceed bucket_seconds
        maxw = self._max_width_in(start_sec, end_sec)
        if isinstance(granularity, int):
            # Tumbling window(ts, '<w sec>'): epoch-aligned, no week offset.
            if granularity <= 0 or granularity % maxw:
                return None
            key = (F.col("__sec") - (F.col("__sec") % granularity)).alias("__bucket")
        elif granularity in CALENDAR_GRANULARITIES:
            if 86_400 % maxw:
                return None
            key = (
                F.unix_timestamp(
                    F.date_trunc(granularity, F.timestamp_seconds(F.col("__sec")))
                )
            ).alias("__bucket")
        elif granularity in GRANULARITY_SECONDS:
            gs = GRANULARITY_SECONDS[granularity]
            if gs % maxw:
                return None
            if granularity == "week":
                off = WEEK_EPOCH_OFFSET_SECONDS
                key = (
                    (F.col("__sec") - off) - ((F.col("__sec") - off) % gs) + off
                ).alias("__bucket")
            else:
                key = (F.col("__sec") - (F.col("__sec") % gs)).alias("__bucket")
        else:
            return None
        if not self.covers(start_sec, end_sec):
            return None
        rows = (
            self._range(start_sec, end_sec)
            .groupBy(key)
            .agg(*self._agg_exprs())
            .orderBy("__bucket")
            .collect()
        )
        return self._columns(rows, states)

    def hop_group_by(
        self, start_sec: int, end_sec: int, width_sec: int, slide_sec: int,
        states=None,
    ):
        """``GROUP BY window(ts, width, slide)`` — hopping windows, the
        Spark-backend spelling of :meth:`.lookup.WheelIndex.hop_group_by`
        (same contract: epoch-aligned window starts, occupied windows only,
        each aggregating the rows inside ``[start, end)``): one job that
        EXPLODES each in-range bucket row into the windows containing it
        and re-aggregates by window start — windows align to bucket
        boundaries (the width/slide tiling gate), so whole buckets land in
        each replica. Before r6 this method did not exist and hopping
        queries on the spark backend crashed with AttributeError instead
        of delegating."""
        if width_sec <= 0 or slide_sec <= 0:
            return None
        maxw = self._max_width_in(start_sec, end_sec)
        if width_sec % maxw or slide_sec % maxw:
            return None
        if not self.covers(start_sec, end_sec):
            return None
        # a bucket at sec belongs to windows W = (sec - sec%slide) - k*slide
        # with W > sec - width; ceil(width/slide) replicas bound k (width
        # need not be a slide multiple — edge buckets carry one fewer)
        nmax = -(-width_sec // slide_sec)
        base = F.col("__sec") - (F.col("__sec") % slide_sec)
        replicated = (
            self._range(start_sec, end_sec)
            .select(
                "*",
                F.explode(F.sequence(F.lit(0), F.lit(nmax))).alias("__k"),
            )
            .withColumn("__bucket", base - F.col("__k") * F.lit(slide_sec))
            .filter(F.col("__bucket") > F.col("__sec") - F.lit(width_sec))
        )
        rows = (
            replicated.groupBy("__bucket")
            .agg(*self._agg_exprs())
            .orderBy("__bucket")
            .collect()
        )
        return self._columns(rows, states)

    def min_max_range(self, start_sec: int, end_sec: int):
        if "min" not in self._state_cols or "max" not in self._state_cols:
            return None
        if not self.covers(start_sec, end_sec):
            return None
        row = (
            self._range(start_sec, end_sec)
            .agg(F.min("__min"), F.max("__max"))
            .collect()[0]
        )
        if row[0] is None:
            return None
        return self._py(row[0]), self._py(row[1])

    # -------------------------------------------------------- maintenance
    def merge_delta_df(
        self,
        delta: DataFrame,
        min_ts_us: int | None = None,
        max_ts_us: int | None = None,
    ) -> None:
        """Merge a same-shaped rollup delta (streaming maintenance for the
        Spark backend): union + re-aggregate by bucket — the DataFrame
        spelling of the driver wheel's numpy union+scatter. The new rollup is
        materialized before the old cache is released."""
        aggs = [F.sum("__cnt").alias("__cnt")]
        if self._has_vcnt:
            aggs.append(F.sum("__vcnt").alias("__vcnt"))
        for s in self._state_cols:
            fn = F.min if s == "min" else (F.max if s == "max" else F.sum)
            aggs.append(fn(f"__{s}").alias(f"__{s}"))
        if self._has_at:
            aggs.append(F.sum("__atcnt").alias("__atcnt"))
            if "__atvcnt" in self.rollup.columns:
                aggs.append(F.sum("__atvcnt").alias("__atvcnt"))
            for s in self._state_cols:
                fn = F.min if s == "min" else (F.max if s == "max" else F.sum)
                aggs.append(fn(f"__at{s}").alias(f"__at{s}"))
        old = self.rollup
        merged = (
            old.unionByName(delta.select(*old.columns))
            .groupBy("__sec")
            .agg(*aggs)
            .persist()
        )
        merged.count()  # materialize before dropping the old cache
        old.unpersist()
        self.rollup = merged
        was_empty = self.empty
        if min_ts_us is not None:
            self.min_ts_us = min_ts_us if was_empty else min(self.min_ts_us, min_ts_us)
        if max_ts_us is not None:
            self.max_ts_us = max_ts_us if was_empty else max(self.max_ts_us, max_ts_us)
        self._landmark_cache = None

    # -------------------------------------------------------- introspection
    @property
    def key(self) -> str:
        col = self.column if self.column is not None else "*"
        return f"{self.table}.{col}.{self.filter_key}"

    def size_bytes(self) -> int:
        """Driver footprint is O(1); the rollup lives in executor cache."""
        return 0

"""Approximate-quantile rollup: a wheel of mergeable KLL sketches.

The reference's custom-aggregator extension point (``UWheelAggregate``
variants, ``datafusion-uwheel/src/index/mod.rs:7-21``) covers scalar monoids
only — percentiles over a time range are out of reach for it and for the
driver-side numpy wheels alike, because a quantile has no scalar mergeable
state. This module applies the same wheel trade the HLL rollup
(:mod:`.distinct`) established to **per-bucket KLL quantile sketches**
(Spark 4.x DataSketches — ``kll_sketch_agg_{double,bigint}`` /
``kll_merge_agg_*`` / ``kll_sketch_get_quantile_*``, all JVM-side):

* build: ONE declarative aggregation over the table → one compact sketch per
  time bucket, cached as a small DataFrame;
* query: ``approx_quantile(q, a, b)`` merges the buckets covering ``[a, b)``
  and extracts the quantile — a tiny job over the cached rollup,
  O(buckets in range) regardless of table size;
* the sketches are mergeable monoids, so streaming maintenance
  (:meth:`QuantileRollup.merge_batch`) and regrouping under coarser buckets
  (:meth:`QuantileRollup.approx_quantile_by`) are exact sketch algebra.

Scale: the rollup is bounded by occupied buckets × sketch size (k=200 →
~3 KB full), not rows; a year of hourly buckets is ~26 MB of executor cache.
Error is the KLL rank-error bound (~1.65% at k=200, two-sided, with 99%
confidence) — the returned value's TRUE rank is within ε of the asked rank;
the value error itself is data-dependent. Raise ``k`` for tighter ranks.

Integral columns (tinyint..bigint) use the ``bigint`` sketch family so
estimates stay exact int64 values (the engine's exact-integral-state
discipline, SURVEY §2.4); everything else narrows to ``double``.

This module declares only what is KLL-specific: the ``__kll`` state, its
sketch and merge aggregates, the ``_quantile_meta.json`` sidecar and the
``k`` / ``suffix`` config, plus the asks. Build (:func:`.multibuild.
build_sketch_rollups`), merge, save/load, unpersist and the range filter
live once in :class:`.sketch_retention.SketchRetention`.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sketch_retention import SketchRetention, load_rollup

__all__ = ["QuantileRollup", "build_quantile_rollup", "load_quantile_rollup"]

_INTEGRAL = {"tinyint", "smallint", "int", "bigint"}
#: "no key restriction" (None is a real NULL-key ask)
_NO_KEY = SketchRetention._NO_ASK


def _suffix_for(df: DataFrame, column: str) -> str:
    t = dict(df.dtypes)[column]
    return "bigint" if t in _INTEGRAL else "double"


def _fns(suffix: str):
    return (
        getattr(F, f"kll_sketch_agg_{suffix}"),
        getattr(F, f"kll_merge_agg_{suffix}"),
        getattr(F, f"kll_sketch_get_quantile_{suffix}"),
        getattr(F, f"kll_sketch_get_rank_{suffix}"),
        getattr(F, f"kll_sketch_get_n_{suffix}"),
    )


def _ranks(q) -> list:
    """``q`` (a rank or a sequence of ranks) as a list, each checked."""
    qs = list(q) if isinstance(q, (list, tuple)) else [q]
    for x in qs:
        if not 0.0 <= float(x) <= 1.0:
            raise ValueError(f"rank {x!r} outside [0, 1]")
    return qs


class QuantileRollup(SketchRetention):
    """Handle over a cached per-bucket KLL sketch table.

    ``approx_quantile(q, a, b)`` answers ``PERCENTILE(col, q)`` over
    ``[a, b)`` (second-aligned bounds, like every wheel lookup) by merging
    the bucket sketches — one tiny Spark job over the cached rollup.
    Constructed as ``QuantileRollup(rollup, column, bucket_seconds, k,
    suffix, key_column=None)``; ``suffix`` is the sketch type,
    ``"bigint"`` or ``"double"``."""

    _STATE = "__kll"
    _SIDECAR = "_quantile_meta.json"
    _CONFIG = ("k", "suffix")

    def _sketch_agg(self) -> Column:
        cast = "bigint" if self.suffix == "bigint" else "double"
        return _fns(self.suffix)[0](F.col(self.column).cast(cast), F.lit(self.k))

    def _union_agg_exprs(self):
        """KLL merge is exact sketch algebra (same rank-error bound)."""
        return [self._merged().alias("__kll")]

    def _merged(self) -> Column:
        """The KLL merge aggregate over ``__kll`` at the pinned ``k``."""
        return _fns(self.suffix)[1]("__kll", F.lit(self.k))

    def _jvm_merge_grouped(self, ops):
        """Day-tier pre-merge (r12): KLL merge is rank-bounded (randomized
        compaction) — the same direct-vs-job contract multi-bucket KLL
        asks already document."""
        return (
            ops.kllMergeLongsGrouped
            if self.suffix == "bigint"
            else ops.kllMergeDoublesGrouped
        )

    def _merged_row(self, start, end, exprs, key=_NO_KEY):
        sk = self._restrict(start, end, key).agg(self._merged().alias("__sk"))
        return sk.select(*exprs).collect()[0]

    def approx_quantile(self, q, start, end, key=_NO_KEY):
        """Estimated ``q``-quantile(s) of ``column`` in ``[start, end)``
        (timestamp strings or datetimes). ``q`` may be a float or a sequence
        of floats — a sequence costs the SAME single merge job, one
        extraction per rank. On a keyed rollup, ``key=value`` restricts to
        one partition value (NULL-safe; ``key=None`` is the NULL-key
        partition) and omitting it merges across keys. Returns ``None``
        (per rank) when no rows fall in the range. The returned value's
        true rank is within the KLL bound (~1.65% at k=200) of the asked
        rank. Repeated asks are memoized until the rollup mutates (the
        KLL merge stays a JVM job; a memoized value pins ONE of the
        adjacent data values randomized re-merges could alternate
        between)."""
        self._require_fresh()
        qs = _ranks(q)

        def compute():
            # direct path (r10; keyed since r11 under the same-type
            # gate): asks with job-equivalent bounds merge the range's
            # sketches in the DRIVER's JVM (one py4j call into the same
            # KllDoublesSketch/KllLongsSketch classes kll_merge_agg uses)
            # — zero Spark jobs; empty range/partition → None per rank
            # like the job path's occupied gate
            fr = self._direct_frame("__kll", start, end, key)
            if fr is not None:
                framed, n = fr
                if n == 0:
                    return [None] * len(qs)
                ops = self._sketch_ops()
                out = (
                    ops.kllQuantilesLong
                    if self.suffix == "bigint"
                    else ops.kllQuantilesDouble
                )(framed, self._jdouble_array([float(x) for x in qs]))
                return [None] * len(qs) if out is None else list(out)
            _, _, get_q, _, get_n = _fns(self.suffix)
            # Extraction on an EMPTY sketch raises (KLL_INVALID_INPUT_SKETCH_
            # BUFFER) instead of propagating NULL, so gate every extraction on
            # the item count — CASE WHEN short-circuits.
            occupied = get_n("__sk") > 0
            row = self._merged_row(
                start,
                end,
                [
                    F.when(occupied, get_q("__sk", F.lit(float(x)))).alias(f"__q{i}")
                    for i, x in enumerate(qs)
                ],
                key,
            )
            return [row[f"__q{i}"] for i in range(len(qs))]

        out = self._memoized_ask(
            # key is type-tagged like start/end: F.lit(key) is
            # type-sensitive while Python hashes True == 1 together
            ("quantile", tuple(float(x) for x in qs),
             self._ask_token(start), self._ask_token(end),
             self._ask_token(key)),
            compute,
        )
        return list(out) if isinstance(q, (list, tuple)) else out[0]

    def approx_rank(self, value, start, end, key=_NO_KEY):
        """Estimated CDF: the fraction of ``column`` values in ``[start,
        end)`` that are ``<= value`` (the inverse of
        :meth:`approx_quantile`). ``None`` when the range holds no rows.
        Memoized like :meth:`approx_quantile`."""
        self._require_fresh()
        # ONE normalization feeds both the computation and the memo key.
        # bigint sketches floor the ask — int() truncates toward zero, so
        # over integer data rank(-1.5) would wrongly include -1's mass
        # (the fraction <= -1.5 is the fraction <= floor(-1.5) = -2; r10
        # review). Numeric STRINGS pass through float() first on BOTH
        # families (math.floor("5") is a TypeError; the double path has
        # always accepted digit strings — behavior must not diverge by
        # sketch family).
        fv = float(value) if isinstance(value, str) else value
        norm = math.floor(fv) if self.suffix == "bigint" else float(fv)

        def compute():
            fr = self._direct_frame("__kll", start, end, key)
            if fr is not None:
                framed, n = fr
                if n == 0:
                    return None
                ops = self._sketch_ops()
                r = (
                    ops.kllRankLong(framed, int(norm))
                    if self.suffix == "bigint"
                    else ops.kllRankDouble(framed, float(norm))
                )
                return None if r is None else float(r)
            _, _, _, get_r, get_n = _fns(self.suffix)
            row = self._merged_row(
                start,
                end,
                [
                    F.when(get_n("__sk") > 0, get_r("__sk", F.lit(norm)))
                    .alias("__r")
                ],
                key,
            )
            return None if row["__r"] is None else float(row["__r"])

        return self._memoized_ask(
            (
                "rank",
                norm,
                self._ask_token(start),
                self._ask_token(end),
                self._ask_token(key),
            ),
            compute,
        )

    def approx_quantile_by_key(self, q, start=None, end=None) -> DataFrame:
        """Per-key quantile estimates over an optional ``[start, end)``
        restriction — the dimensional form (latency percentile per
        endpoint, quality score per language). Requires a keyed build
        (``partition_by=``). Returns ``(<key_column>, approx_quantile[_i])``
        ordered by key (NULL keys included as their own row); one tiny job
        over the cached sketch table."""
        self._require_fresh()
        self._require_key()
        qs = list(q) if isinstance(q, (list, tuple)) else [q]
        _, _, get_q, _, get_n = _fns(self.suffix)
        names = (
            ["approx_quantile"]
            if not isinstance(q, (list, tuple))
            else [f"approx_quantile_{i}" for i in range(len(qs))]
        )
        return (
            self._within(start, end)
            .groupBy(F.col("__key").alias(self.key_column))
            .agg(self._merged().alias("__sk"))
            .select(
                self.key_column,
                *[
                    F.when(
                        get_n("__sk") > 0, get_q("__sk", F.lit(float(x)))
                    ).alias(n)
                    for n, x in zip(names, qs)
                ],
            )
            .orderBy(self.key_column)
        )

    def approx_quantile_by(
        self, granularity, q, start=None, end=None
    ) -> DataFrame:
        """Per-bucket quantile estimates — the group-by form of
        :meth:`approx_quantile`: ``GROUP BY date_trunc('<granularity>')``
        for a named granularity, or epoch-aligned tumbling windows for an
        integer width in seconds (the ``window(ts, w)`` shape). ``q`` may be
        a float (column ``approx_quantile``) or a sequence (columns
        ``approx_quantile_0..n`` in ask order). Returns occupied buckets
        only, ordered; one tiny job over the cached sketch table. Sketches
        are monoids, so regrouping fine buckets under any coarser bucketing
        is exact sketch algebra — no rescan, no second rollup build."""
        self._require_fresh()
        qs = list(q) if isinstance(q, (list, tuple)) else [q]
        _, _, get_q, _, get_n = _fns(self.suffix)
        bucket = self._bucket_col(granularity, start)
        names = (
            ["approx_quantile"]
            if not isinstance(q, (list, tuple))
            else [f"approx_quantile_{i}" for i in range(len(qs))]
        )
        return (
            self._within(start, end)
            .groupBy(bucket.alias("bucket"))
            .agg(self._merged().alias("__sk"))
            .select(
                "bucket",
                # A bucket whose values were all NULL holds an empty sketch;
                # extraction on it raises, so gate on the item count (the
                # bucket surfaces with NULL quantiles, mirroring SQL
                # percentile-over-no-values semantics).
                *[
                    F.when(get_n("__sk") > 0, get_q("__sk", F.lit(float(x)))).alias(n)
                    for n, x in zip(names, qs)
                ],
            )
            .orderBy("bucket")
        )

    def quantile_rows_by_key(self, q, start=None, end=None) -> list[tuple]:
        """Driver-resident sibling of :meth:`approx_quantile_by_key` (r11 —
        the last dashboard-series form still paying the per-ask job floor
        in the r10 verdict's #1): the same ``(<key_column>,
        approx_quantile[_i]...)`` rows as plain Python tuples,
        key-ascending with NULL first (the job path's ORDER BY), ZERO
        Spark jobs on a shim session — one batched py4j call merges every
        key's sketches. Keys outside the same-type sortable set
        (string/integral), shim-less sessions, and unresolvable bounds
        fall back to collecting the job path's DataFrame; multi-bucket
        merges carry KLL's randomized-compaction caveat either way.
        Memoized until the rollup mutates."""
        self._require_fresh()
        self._require_key()
        qs = _ranks(q)

        def compute() -> list[tuple]:
            gc = self._keyed_cells("__kll", start, end)
            if gc is None:
                return [
                    tuple(r)
                    for r in self.approx_quantile_by_key(q, start, end).collect()
                ]
            cells, framed, counts = gc
            if not cells:
                return []
            ops = self._sketch_ops()
            fn = (
                ops.kllQuantilesLongGrouped
                if self.suffix == "bigint"
                else ops.kllQuantilesDoubleGrouped
            )
            blob = bytes(
                fn(framed, self._jdouble_array([float(x) for x in qs]))
            )
            return [
                (k, *vals)
                for k, vals in zip(cells, self._unpack_kll_cells(blob, cells, qs))
            ]

        return self._memoized_ask(
            (
                "quantile_by_key",
                tuple(float(x) for x in qs),
                self._ask_token(start),
                self._ask_token(end),
            ),
            compute,
        )

    def quantile_rows_by(self, granularity, q, start=None, end=None) -> list[tuple]:
        """Driver-resident sibling of :meth:`approx_quantile_by` (r11):
        the same ``(bucket, approx_quantile[_i]...)`` rows as plain Python
        tuples (bucket = naive-UTC datetime, matching the job path's
        collected TIMESTAMPs) with ZERO Spark jobs on a shim session —
        the whole series merges in ONE py4j call
        (``UwheelSketchOps.kllQuantiles{Double,Long}Grouped``). Buckets
        whose sketches held no items surface with ``None`` per rank (the
        job path's ``get_n > 0`` gate). Falls back to collecting the job
        path's DataFrame when the direct gate refuses — same rows either
        way, modulo KLL's randomized merge compaction (adjacent data
        values within the rank bound; a memoized answer pins one).
        Memoized until the rollup mutates."""
        self._require_fresh()
        qs = _ranks(q)

        def compute() -> list[tuple]:
            self._check_granularity(granularity, start)
            gc = self._grouped_cells("__kll", granularity, start, end)
            if gc is None:
                return [
                    tuple(r)
                    for r in self.approx_quantile_by(
                        granularity, q, start, end
                    ).collect()
                ]
            cells, framed, counts = gc
            if not cells:
                return []
            ops = self._sketch_ops()
            fn = (
                ops.kllQuantilesLongGrouped
                if self.suffix == "bigint"
                else ops.kllQuantilesDoubleGrouped
            )
            blob = bytes(
                fn(framed, self._jdouble_array([float(x) for x in qs]))
            )
            # packed per cell: occupancy byte, then (when occupied) one
            # value per rank — one bulk transfer (see _grouped_cells)
            return [
                (self._bucket_dt(bk), *vals)
                for bk, vals in zip(cells, self._unpack_kll_cells(blob, cells, qs))
            ]

        return self._memoized_ask(
            (
                "quantile_by",
                self._ask_token(granularity),
                tuple(float(x) for x in qs),
                self._ask_token(start),
                self._ask_token(end),
            ),
            compute,
        )


def build_quantile_rollup(
    df: DataFrame,
    time_column: str,
    column: str,
    bucket_seconds: int = 3600,
    k: int = 200,
    partition_by: str | None = None,
) -> QuantileRollup:
    """Per-bucket KLL sketches of ``column`` from one scan, cached for
    probe-many use — :func:`.multibuild.build_sketch_rollups` for one
    column. Default hourly buckets and k=200 (~1.65% rank error): latency
    dashboards rarely need finer, and the rollup stays ~9 K buckets/year.
    NULL values are ignored by the sketch (SQL aggregate semantics).

    ``partition_by=key`` sketches per ``(bucket, key value)`` — the
    partitioned-wheel-family idea applied to quantile state: per-key
    percentile asks (:meth:`QuantileRollup.approx_quantile_by_key`,
    ``key=`` restrictions) come from the same single build, and unkeyed
    asks still work by merging across keys (sketches are monoids). State
    grows to buckets × distinct keys — meant for low-cardinality
    dimensional keys."""
    from .multibuild import build_sketch_rollups

    return build_sketch_rollups(
        df, time_column, quantile=[column], bucket_seconds=bucket_seconds,
        k=k, partition_by=partition_by,
    )["quantile"][column]


def load_quantile_rollup(spark, path: str) -> QuantileRollup:
    """Inverse of :meth:`QuantileRollup.save` (see :func:`load_rollup`):
    reloaded estimates carry the identical rank-error bound."""
    return load_rollup(QuantileRollup, spark, path)

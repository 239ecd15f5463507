"""Approximate-distinct rollup: a wheel of mergeable HLL sketches.

The reference exposes a custom-aggregator extension point
(``UWheelAggregate`` variants, ``datafusion-uwheel/src/index/mod.rs:7-21``);
this module applies it to a state the driver-side numpy wheels cannot hold:
**per-bucket HyperLogLog sketches** (Spark 3.5+ DataSketches —
``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``, all
JVM-side). COUNT DISTINCT over a time range is not a scalar monoid — it
needs a mergeable sketch per bucket — so the rollup lives as a **cached
DataFrame** (the ``index_backend="spark"`` shape, ~KB per bucket) and a
range query is a tiny union-and-estimate job over the selected buckets
instead of a scan of the raw table.

Scale: the rollup is bounded by distinct buckets × sketch size (lgK=12 →
≤4 KB each), not rows; a year of hourly buckets is ~35 MB of executor cache.
Query cost is O(buckets in range) regardless of table size — the wheel trade
applied to distinct counts. Error is the standard HLL bound (~1.6% rel. at
lgK=12; raise ``lg_k`` for tighter estimates).

This module declares only what is HLL-specific: the ``__hll`` state, its
sketch and union aggregates, the ``_distinct_meta.json`` sidecar and the
``lg_k`` config, plus the asks. Build (:func:`.multibuild.
build_sketch_rollups`), merge, save/load, unpersist and the range filter
live once in :class:`.sketch_retention.SketchRetention`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sketch_retention import SketchRetention, load_rollup

__all__ = [
    "DistinctRollup",
    "build_distinct_rollup",
    "load_distinct_rollup",
]

#: "no key restriction" (None is a real NULL-key ask)
_NO_KEY = SketchRetention._NO_ASK


class DistinctRollup(SketchRetention):
    """Handle over a cached per-bucket HLL sketch table.

    ``approx_distinct(a, b)`` answers ``COUNT(DISTINCT col)`` over
    ``[a, b)`` (second-aligned bounds, like every wheel lookup) by merging
    the bucket sketches — one tiny Spark job over the cached rollup.
    Constructed as ``DistinctRollup(rollup, column, bucket_seconds, lg_k,
    key_column=None)``."""

    _STATE = "__hll"
    _SIDECAR = "_distinct_meta.json"
    _CONFIG = ("lg_k",)

    def _sketch_agg(self) -> Column:
        return F.hll_sketch_agg(F.col(self.column), F.lit(self.lg_k))

    def _union_agg_exprs(self):
        """HLL union is exact sketch algebra (merge and compaction)."""
        return [F.hll_union_agg("__hll").alias("__hll")]

    def _jvm_merge_grouped(self, ops):
        """Day-tier pre-merge (r12): HLL register/coupon union is
        associative, so the tier's final REGISTER STATE is identical to a
        flat union of the raw frames — and the estimate is exact-equal in
        the coupon regime. Beyond it the estimate can differ within the
        published bound, because estimator SELECTION is path-dependent
        (a day merge that promotes coupons to HLL mode makes the ask-time
        union composite where the flat union could stay HIP) — the SAME
        documented direct-vs-job contract (r11 probe: six update orders
        of one real day's sketches → six estimates in [1318, 1330])."""
        return ops.hllMergeGrouped

    def approx_distinct(self, start, end, key=_NO_KEY) -> int:
        """Estimated distinct count of ``column`` in ``[start, end)``
        (timestamp strings or datetimes). Buckets partially covered at the
        edges are included whole — align bounds to ``bucket_seconds`` for
        exact range semantics (unaligned asks should delegate to a scan,
        the wheel discipline). On a keyed rollup, ``key=value`` restricts
        to one partition value (NULL-safe); omitting it unions across
        keys. Repeated asks are memoized until the rollup mutates (see
        :meth:`..sketch_retention.SketchRetention._memoized_ask` — the
        sketch MERGE stays a JVM job; only the answer is remembered)."""
        self._require_fresh()

        def compute() -> int:
            # direct path (r10; keyed since r11): asks with
            # job-equivalent bounds answer from the driver mirror through
            # ONE py4j call into the same datasketches-java classes
            # hll_union_agg uses — zero Spark jobs. Parity vs the job
            # path is EXACT in the coupon-exact regime (small per-bucket
            # cardinalities); beyond it both paths return valid HLL
            # estimates that can differ within the bound, because the
            # union's HIP estimator is UPDATE-ORDER-dependent and the
            # job's aggregation order is arbitrary (probe-pinned r11: six
            # update orders of one real day's sketches → six estimates in
            # [1318, 1330] of a true ~1330). Keyed asks ride only under
            # the SAME-TYPE gate (_key_gate); cross-type coercion, exotic
            # bounds, and the no-key-column raise stay on the job path
            fr = self._direct_frame("__hll", start, end, key)
            if fr is not None:
                framed, n = fr
                return int(self._sketch_ops().hllEstimate(framed)) if n else 0
            row = (
                self._restrict(start, end, key)
                .agg(F.hll_sketch_estimate(F.hll_union_agg("__hll")).alias("est"))
                .collect()[0]
            )
            return int(row["est"] or 0)

        return self._memoized_ask(
            # the key component is type-tagged too: F.lit(key) is
            # type-sensitive (True vs 1 cast a string key column through
            # DIFFERENT grammars) while Python's dict hash says True == 1
            ("distinct", self._ask_token(start), self._ask_token(end),
             self._ask_token(key)),
            compute,
        )

    def approx_distinct_by_key(self, start=None, end=None) -> DataFrame:
        """Per-key distinct estimates over an optional ``[start, end)``
        restriction — the dimensional form (distinct users per segment).
        Requires a keyed build (``partition_by=``). Returns
        ``(<key_column>, approx_distinct)`` ordered by key (NULL keys
        included); one tiny job over the cached sketch table."""
        self._require_fresh()
        self._require_key()
        return (
            self._within(start, end)
            .groupBy(F.col("__key").alias(self.key_column))
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("__hll"))
                .cast("long")
                .alias("approx_distinct")
            )
            .orderBy(self.key_column)
        )

    def approx_distinct_by(
        self, granularity, start=None, end=None
    ) -> DataFrame:
        """Per-bucket ``COUNT(DISTINCT col)`` estimates — the group-by form
        of :meth:`approx_distinct`: ``GROUP BY date_trunc('<granularity>')``
        for a named granularity, or epoch-aligned tumbling windows for an
        integer width in seconds (the ``window(ts, w)`` shape). Returns
        ``(bucket TIMESTAMP, approx_distinct BIGINT)`` for occupied buckets;
        one tiny job over the cached sketch table, O(stored buckets)
        regardless of table size. Optional ``[start, end)`` restriction with
        the same both-edges-whole coverage as the range estimate.

        Sketches are monoids, so regrouping the fine buckets under any
        coarser bucketing is exact sketch algebra — no rescan, no second
        rollup build."""
        self._require_fresh()
        bucket = self._bucket_col(granularity, start)
        return (
            self._within(start, end)
            .groupBy(bucket.alias("bucket"))
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("__hll"))
                .cast("long")
                .alias("approx_distinct")
            )
            .orderBy("bucket")
        )

    def distinct_rows_by_key(self, start=None, end=None) -> list[tuple]:
        """Driver-resident sibling of :meth:`approx_distinct_by_key` (r11):
        the same ``(<key_column>, approx_distinct)`` rows as plain Python
        tuples, key-ascending with NULL first (the job path's ORDER BY),
        ZERO Spark jobs on a shim session — one batched py4j call merges
        every key's sketches. Keys outside the same-type sortable set
        (string/integral), shim-less sessions, and unresolvable bounds
        fall back to collecting the job path's DataFrame. Memoized until
        the rollup mutates. Estimate-regime caveat as
        :meth:`distinct_rows_by`."""
        self._require_fresh()
        self._require_key()

        def compute() -> list[tuple]:
            gc = self._keyed_cells("__hll", start, end)
            if gc is None:
                return [
                    tuple(r)
                    for r in self.approx_distinct_by_key(start, end).collect()
                ]
            cells, framed, counts = gc
            if not cells:
                return []
            import struct

            ests = struct.unpack(
                f">{len(cells)}q",
                bytes(self._sketch_ops().hllEstimateGrouped(framed)),
            )
            return [
                (k, int(e) if c else None)
                for k, e, c in zip(cells, ests, counts)
            ]

        return self._memoized_ask(
            ("distinct_by_key", self._ask_token(start), self._ask_token(end)),
            compute,
        )

    def distinct_rows_by(self, granularity, start=None, end=None) -> list[tuple]:
        """Driver-resident sibling of :meth:`approx_distinct_by` (r11 —
        the frequency family's ``topk_rows_by`` model applied to the
        dashboard-series sketch asks): the same ``(bucket,
        approx_distinct)`` rows as plain Python tuples (bucket = naive-UTC
        datetime, matching the job path's collected TIMESTAMPs) with ZERO
        Spark jobs on a shim session — the whole series merges in ONE
        py4j call (``UwheelSketchOps.hllEstimateGrouped`` over the framed
        driver mirror). Buckets whose sketches were all NULL surface with
        ``None``, mirroring the job path's NULL estimate. Values equal
        the job path's exactly in the coupon-exact regime; at real
        cardinalities both are valid estimates within the HLL bound (the
        HIP estimator is update-order-dependent — see approx_distinct). Falls back to
        collecting the job path's DataFrame when the direct gate refuses
        (exotic date_trunc level, unresolvable bounds, keyed-session
        quirks, over-cap mirror, shim-less session) — identical rows
        either way. Memoized until the rollup mutates."""
        self._require_fresh()

        def compute() -> list[tuple]:
            # validation must raise identically on BOTH paths
            self._check_granularity(granularity, start)
            gc = self._grouped_cells("__hll", granularity, start, end)
            if gc is None:
                return [
                    tuple(r)
                    for r in self.approx_distinct_by(
                        granularity, start, end
                    ).collect()
                ]
            cells, framed, counts = gc
            if not cells:
                return []
            import struct

            # packed int64s back (one bulk transfer — see _grouped_cells)
            ests = struct.unpack(
                f">{len(cells)}q",
                bytes(self._sketch_ops().hllEstimateGrouped(framed)),
            )
            return [
                (self._bucket_dt(bk), int(e) if c else None)
                for bk, e, c in zip(cells, ests, counts)
            ]

        return self._memoized_ask(
            (
                "distinct_by",
                self._ask_token(granularity),
                self._ask_token(start),
                self._ask_token(end),
            ),
            compute,
        )

    def merged_sketch(self, start, end) -> bytes | None:
        """The merged HLL sketch bytes for ``[start, end)`` — composable
        with sketches from other tables/partitions (union-merge downstream,
        e.g. cross-dataset dedup accounting). Same both-edges-whole bucket
        coverage as :meth:`approx_distinct`. Memoized like it."""
        self._require_fresh()

        def compute() -> bytes | None:
            row = (
                self._restrict(start, end)
                .agg(F.hll_union_agg("__hll").alias("sk"))
                .collect()[0]
            )
            return bytes(row["sk"]) if row["sk"] is not None else None

        return self._memoized_ask(
            ("sketch", self._ask_token(start), self._ask_token(end)), compute
        )


def build_distinct_rollup(
    df: DataFrame,
    time_column: str,
    column: str,
    bucket_seconds: int = 3600,
    lg_k: int = 12,
    partition_by: str | None = None,
) -> DistinctRollup:
    """Per-bucket HLL sketches of ``column`` from one scan, cached for
    probe-many use — :func:`.multibuild.build_sketch_rollups` for one
    column. Default hourly buckets: distinct-count dashboards rarely need
    finer, and the rollup stays ~9 K buckets/year.

    ``partition_by=key`` sketches per ``(bucket, key value)``: per-key
    distinct asks (:meth:`DistinctRollup.approx_distinct_by_key`, ``key=``
    restrictions) come from the same single build, and unkeyed asks still
    work by unioning across keys (HLL union is idempotent, so values seen
    under several keys don't double-count). State grows to buckets ×
    distinct keys — meant for low-cardinality dimensional keys."""
    from .multibuild import build_sketch_rollups

    return build_sketch_rollups(
        df, time_column, distinct=[column], bucket_seconds=bucket_seconds,
        lg_k=lg_k, partition_by=partition_by,
    )["distinct"][column]


def load_distinct_rollup(spark, path: str) -> DistinctRollup:
    """Inverse of :meth:`DistinctRollup.save` (see :func:`load_rollup`)."""
    return load_rollup(DistinctRollup, spark, path)

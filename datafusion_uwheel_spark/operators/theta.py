"""Theta-sketch rollup: a wheel of mergeable sketches with SET ALGEBRA.

The HLL rollup (:mod:`.distinct`) answers ``COUNT(DISTINCT col)`` over a
range, but HLL unions are all it can do. Theta sketches (Spark 4's
DataSketches bindings — ``theta_sketch_agg`` / ``theta_union`` /
``theta_intersection`` / ``theta_difference`` / ``theta_sketch_estimate``,
all JVM-side) additionally support **intersection and difference**, which
turns the per-bucket wheel into an audience-algebra index:

* ``approx_retained(r1, r2)`` — distinct values seen in BOTH ranges (user
  retention between two weeks);
* ``approx_new(r1, r2)``      — distinct values in ``r2`` never seen in
  ``r1`` (new-user counts);
* ``approx_jaccard(r1, r2)``  — ``|∩| / |∪|`` audience overlap;
* the plain ``approx_distinct`` range estimate, like the HLL wheel.

Every answer is one tiny job over the cached rollup (O(buckets touched),
never the raw table) — the wheel trade applied to set algebra. This is the
reference's custom-aggregator extension point (``UWheelAggregate``
variants, ``datafusion-uwheel/src/index/mod.rs:7-21``) carried past what
scalar monoids can express.

Scale: per-bucket sketch size is bounded by ``lg_k`` (default 2^12 nominal
entries ≈ 32 KB worst case, far less on sparse buckets); a year of hourly
buckets stays tens of MB of executor cache. Intersection error grows as
the true intersection shrinks relative to the operand sketches (the
standard theta bound) — retention ratios on tiny overlaps are noisier than
union estimates; raise ``lg_k`` for tighter answers.

This module declares only what is theta-specific: the ``__theta`` state,
its sketch and union aggregates, the ``_theta_meta.json`` sidecar and the
``lg_k`` config, plus the set-algebra asks. Build (:func:`.multibuild.
build_sketch_rollups`), merge, save/load, unpersist and the range filter
live once in :class:`.sketch_retention.SketchRetention`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sketch_retention import _FIXED_GRAN_SECS, SketchRetention, load_rollup

__all__ = ["ThetaRollup", "build_theta_rollup", "load_theta_rollup"]


class ThetaRollup(SketchRetention):
    """Handle over a cached per-bucket theta sketch table.

    Range asks use second-aligned bounds like every wheel lookup; buckets
    partially covered at the edges are included whole (superset semantics
    — estimates never undercount against unaligned bounds). Constructed as
    ``ThetaRollup(rollup, column, bucket_seconds, lg_k,
    key_column=None)``."""

    _STATE = "__theta"
    _SIDECAR = "_theta_meta.json"
    _CONFIG = ("lg_k",)

    #: Periods per lag partition in :meth:`retention_by` — the in-partition
    #: window sorts at most this many rows per task (r15: replaces the
    #: global single-partition lag; 8192 periods × ≤32 KB sketch ≈ 256 MB
    #: worst-case per task at the default lg_k, far less on sparse data).
    _LAG_PARTITION_PERIODS = 8192

    def _sketch_agg(self) -> Column:
        # the shim-registered aggregate: the column is spliced in as a
        # bare identifier
        return F.expr(f"theta_sketch_agg({self.column}, {self.lg_k})")

    def _union_agg_exprs(self):
        """Theta union is exact sketch algebra (merge and compaction)."""
        return [F.expr("theta_union_agg(__theta)").alias("__theta")]

    # ------------------------------------------------------------ internals

    def _jvm_merge_grouped(self, ops):
        """Day-tier pre-merge (r12): theta union is exact set algebra, so
        tier-served series are bit-equal to raw framing."""
        return ops.thetaMergeGrouped

    def _framed_two(self, start, end):
        """``(framed, n)`` for one range when the direct path applies
        (`SketchRetention._direct_frame` — the shared gate), else None.
        Unkeyed asks on keyed rollups union across keys like the job path
        — the mirror holds every (sec, key) row."""
        return self._direct_frame("__theta", start, end)

    def _framed_pair(self, r1, r2):
        f1 = self._framed_two(*r1)
        if f1 is None:
            return None
        f2 = self._framed_two(*r2)
        if f2 is None:
            return None
        return f1, f2

    def _two_range_sketches(self, r1, r2, key_grouped: bool):
        """One job: (union over r1, union over r2) per group — the operand
        sketches every set-algebra ask combines."""
        f1 = self._range_filter(*r1)
        f2 = self._range_filter(*r2)
        df = self._df.filter(f1 | f2).select(
            *([F.col("__key")] if key_grouped else []),
            F.when(f1, F.col("__theta")).alias("__s1"),
            F.when(f2, F.col("__theta")).alias("__s2"),
        )
        aggs = [
            F.expr("theta_union_agg(__s1)").alias("__u1"),
            F.expr("theta_union_agg(__s2)").alias("__u2"),
        ]
        if key_grouped:
            return df.groupBy("__key").agg(*aggs)
        return df.agg(*aggs)

    @staticmethod
    def _est(expr: str) -> F.Column:
        """NULL-safe estimate: an empty range has a NULL sketch, and every
        theta operator with a NULL operand yields NULL — an empty set."""
        return F.coalesce(
            F.expr(f"theta_sketch_estimate({expr})").cast("double"), F.lit(0.0)
        )

    # -------------------------------------------------------------- queries

    def approx_distinct(self, start, end) -> int:
        """Estimated ``COUNT(DISTINCT column)`` over ``[start, end)`` — the
        HLL wheel's ask, answered from theta unions. Repeated asks are
        memoized until the rollup mutates (the set algebra stays JVM;
        only the answer is remembered — see SketchRetention)."""
        self._require_fresh()

        def compute() -> int:
            # direct path (r10): the range's sketches union in the
            # DRIVER's JVM (one py4j call into the same datasketches-java
            # theta classes) — zero Spark jobs, probe-pinned parity; empty
            # range → 0 like the job path's NULL-coalesce
            f2 = self._framed_two(start, end)
            if f2 is not None:
                framed, n = f2
                return int(self._sketch_ops().thetaEstimate(framed)) if n else 0
            row = (
                self._restrict(start, end)
                .select(F.col("__theta").alias("__s1"))
                .agg(F.expr("theta_union_agg(__s1)").alias("__u1"))
                .select(self._est("__u1").alias("est"))
                .collect()[0]
            )
            return int(row["est"])

        return self._memoized_ask(
            ("distinct", self._ask_token(start), self._ask_token(end)), compute
        )

    def approx_retained(self, r1, r2) -> int:
        """Estimated distinct values present in BOTH ranges (``r1``/``r2``
        are ``(start, end)`` pairs) — retention between two periods. One
        job over the buckets either range touches. Memoized like
        :meth:`approx_distinct`."""
        self._require_fresh()

        def compute() -> int:
            d = self._framed_pair(r1, r2)
            if d is not None:
                (fa, _na), (fb, _nb) = d
                # empty sides need no gate: theta_union_agg over all-NULL
                # inputs yields an EMPTY SKETCH, not NULL (probe r10 — the
                # f1|f2 projection keeps the other range's rows with this
                # side NULL), and intersecting with an empty union is 0 on
                # both paths; only a zero-ROW agg yields NULL, where the
                # empty-union algebra gives the same 0
                return int(self._sketch_ops().thetaIntersectEstimate(fa, fb))
            row = (
                self._two_range_sketches(r1, r2, key_grouped=False)
                .select(self._est("theta_intersection(__u1, __u2)").alias("est"))
                .collect()[0]
            )
            return int(row["est"])

        return self._memoized_ask(
            ("retained", *map(self._ask_token, (r1[0], r1[1], r2[0], r2[1]))),
            compute,
        )

    def approx_new(self, r1, r2) -> int:
        """Estimated distinct values in ``r2`` NEVER seen in ``r1`` (set
        difference ``r2 − r1``) — new-audience counts. Memoized."""
        self._require_fresh()

        def compute() -> int:
            d = self._framed_pair(r1, r2)
            if d is not None:
                (fa, _na), (fb, _nb) = d
                # aNotB(u2, empty-union) = |u2| — and that IS the job
                # semantics: an empty r1 still produces an empty SKETCH
                # operand (probe r10), so "new vs an empty baseline" is
                # everything in r2 on both paths
                return int(self._sketch_ops().thetaANotBEstimate(fb, fa))
            row = (
                self._two_range_sketches(r1, r2, key_grouped=False)
                .select(self._est("theta_difference(__u2, __u1)").alias("est"))
                .collect()[0]
            )
            return int(row["est"])

        return self._memoized_ask(
            ("new", *map(self._ask_token, (r1[0], r1[1], r2[0], r2[1]))),
            compute,
        )

    def approx_jaccard(self, r1, r2) -> float:
        """Estimated ``|r1 ∩ r2| / |r1 ∪ r2|`` audience overlap in [0, 1]
        (0.0 when both ranges are empty). Memoized."""
        self._require_fresh()

        def compute() -> float:
            d = self._framed_pair(r1, r2)
            if d is not None:
                (fa, _na), (fb, _nb) = d
                i, u = self._sketch_ops().thetaJaccardPair(fa, fb)
                return float(i / u) if u else 0.0  # both-empty → 0.0
            row = (
                self._two_range_sketches(r1, r2, key_grouped=False)
                .select(
                    self._est("theta_intersection(__u1, __u2)").alias("i"),
                    self._est("theta_union(__u1, __u2)").alias("u"),
                )
                .collect()[0]
            )
            return float(row["i"] / row["u"]) if row["u"] else 0.0

        return self._memoized_ask(
            ("jaccard", *map(self._ask_token, (r1[0], r1[1], r2[0], r2[1]))),
            compute,
        )

    def retained_by_key(self, r1, r2) -> DataFrame:
        """Per-key retention (requires a ``partition_by=`` build): for each
        key value, estimated distincts in r1, in r2, and in both — the
        cohort-retention table, one job over the cached rollup. Returns
        ``(<key_column>, n_r1, n_r2, n_retained)`` ordered by key."""
        self._require_fresh()
        self._require_key()
        return (
            self._two_range_sketches(r1, r2, key_grouped=True)
            .select(
                F.col("__key").alias(self.key_column),
                self._est("__u1").cast("long").alias("n_r1"),
                self._est("__u2").cast("long").alias("n_r2"),
                self._est("theta_intersection(__u1, __u2)")
                .cast("long")
                .alias("n_retained"),
            )
            .orderBy(self.key_column)
        )

    def cohort_by_key(self, r1, r2) -> DataFrame:
        """The FULL per-key cohort table (requires ``partition_by=``):
        everything the scalar set algebra answers, per key in one job —
        ``(<key_column>, n_r1, n_r2, n_retained, n_new, jaccard)`` where
        ``n_new`` is :meth:`approx_new`'s ``|r2 − r1|`` (acquisition) and
        ``jaccard`` is :meth:`approx_jaccard`'s ``|∩|/|∪|`` overlap (0.0
        when both sides are empty, like the scalar). Ordered by key.
        :meth:`retained_by_key` is the 4-column subset; this adds the
        difference and union estimates the scalar asks expose but the
        keyed surface lacked."""
        self._require_fresh()
        self._require_key()
        i_est = self._est("theta_intersection(__u1, __u2)")
        u_est = self._est("theta_union(__u1, __u2)")
        return (
            self._two_range_sketches(r1, r2, key_grouped=True)
            .select(
                F.col("__key").alias(self.key_column),
                self._est("__u1").cast("long").alias("n_r1"),
                self._est("__u2").cast("long").alias("n_r2"),
                i_est.cast("long").alias("n_retained"),
                self._est("theta_difference(__u2, __u1)")
                .cast("long")
                .alias("n_new"),
                F.when(u_est > 0, i_est / u_est)
                .otherwise(F.lit(0.0))
                .alias("jaccard"),
            )
            .orderBy(self.key_column)
        )

    def cohort_rows_by_key(self, r1, r2) -> list[tuple]:
        """Driver-resident sibling of :meth:`cohort_by_key`: the same six
        columns as plain Python tuples, key-ascending NULL first, ZERO
        Spark jobs on a shim session — one batched py4j call
        (``UwheelSketchOps.thetaCohortGrouped``) returns every key's five
        raw estimates; the jaccard ratio is computed from the RAW doubles
        exactly like the job path's expression algebra (the long casts
        truncate only the count columns). Gates, fallback, memoization
        and exact parity as :meth:`retained_rows_by_key`."""
        self._require_fresh()
        self._require_key()

        def compute() -> list[tuple]:
            gc = self._keyed_pair_cells("__theta", r1, r2)
            if gc is None:
                return [
                    tuple(r) for r in self.cohort_by_key(r1, r2).collect()
                ]
            cells, fa, fb = gc
            if not cells:
                return []
            import struct

            raw = struct.unpack(
                f">{5 * len(cells)}d",
                bytes(self._sketch_ops().thetaCohortGrouped(fa, fb)),
            )
            n = len(cells)
            rows = []
            for i, k in enumerate(cells):
                inter, union = raw[2 * n + i], raw[4 * n + i]
                rows.append(
                    (
                        k,
                        int(raw[i]),
                        int(raw[n + i]),
                        int(inter),
                        int(raw[3 * n + i]),
                        inter / union if union > 0 else 0.0,
                    )
                )
            return rows

        return self._memoized_ask(
            (
                "cohort_by_key",
                *map(self._ask_token, (r1[0], r1[1], r2[0], r2[1])),
            ),
            compute,
        )

    def retained_rows_by_key(self, r1, r2) -> list[tuple]:
        """Driver-resident sibling of :meth:`retained_by_key` (r11 — the
        last ``*_by_key`` form without one; the HLL/KLL families got
        theirs this round): the same ``(<key_column>, n_r1, n_r2,
        n_retained)`` cohort rows as plain Python tuples, key-ascending
        with NULL first (the job path's ORDER BY), ZERO Spark jobs on a
        shim session — BOTH ranges' per-key unions AND every
        intersection merge in ONE py4j call
        (``UwheelSketchOps.thetaRetainedGrouped``; raw doubles back, the
        job path's coalesce/CAST(long) algebra applied here: a key with
        no rows in one range unions to the EMPTY sketch — estimate 0 —
        exactly like the WHEN-projection's all-NULL side, probed r10).
        Keys outside the same-type sortable set, shim-less sessions,
        unresolvable bounds, and over-cap mirrors fall back to
        collecting the job path's DataFrame — identical rows (theta's
        k-smallest-hashes algebra is update-order-free, unlike HLL's
        HIP estimator). Memoized until the rollup mutates."""
        self._require_fresh()
        self._require_key()

        def compute() -> list[tuple]:
            gc = self._keyed_pair_cells("__theta", r1, r2)
            if gc is None:
                return [
                    tuple(r) for r in self.retained_by_key(r1, r2).collect()
                ]
            cells, fa, fb = gc
            if not cells:
                return []
            import struct

            raw = struct.unpack(
                f">{3 * len(cells)}d",
                bytes(self._sketch_ops().thetaRetainedGrouped(fa, fb)),
            )
            n = len(cells)
            # cast('long') truncates toward zero — Python int() on a
            # double matches (estimates are never negative)
            return [
                (k, int(raw[i]), int(raw[n + i]), int(raw[2 * n + i]))
                for i, k in enumerate(cells)
            ]

        return self._memoized_ask(
            (
                "retained_by_key",
                *map(self._ask_token, (r1[0], r1[1], r2[0], r2[1])),
            ),
            compute,
        )

    def _lag_period_bound(self, gran_w: int) -> int | None:
        """Driver-side UPPER bound on :meth:`retention_by`'s period count,
        or ``None`` when nothing proves one. Never launches a job. Two
        sources, both conservative:

        - the recorded rollup row count (:attr:`_rollup_rows`) — every
          period holds at least one rollup row;
        - the rollup's sec span / the granularity's width, when the driver
          mirror for the CURRENT frame is already collected (calendar
          granularities use their day-aligned floor width, so the span
          bound over-counts weeks 7x, months 28x — still an upper bound).
        """
        bound = self._rollup_rows
        box = getattr(self, "_mirror_ref", None)
        if box is not None and box.get("df") is self._df:
            m = box.get("m")
            if m not in (None, False):
                secs = m[0]
                if len(secs):
                    span = int(
                        (int(secs[-1]) - int(secs[0])) // max(1, gran_w)
                    ) + 3
                    bound = span if bound is None else min(bound, span)
        return bound

    def _stitched_lag(self, periods: DataFrame, pw: int) -> DataFrame:
        """The previous-occupied-period lag WITHOUT a global single-
        partition window (r15 verdict #6): coarse-partition + boundary
        stitch. Each partition spans `_LAG_PARTITION_PERIODS` periods
        (bounded by construction), the in-partition lag runs distributed,
        and each partition's FIRST period takes its predecessor from a
        lagged one-row-per-partition boundary frame (broadcast — it is
        n_periods / 8192 rows). ``lag`` semantics are replicated exactly:
        "first in partition" is row_number()==1, NOT lag-is-NULL — a
        predecessor with a NULL sketch must still yield NULL, as a global
        lag would. Used only when no driver-side proof bounds the period
        count (:meth:`_lag_period_bound`); it pays a second evaluation of
        the `periods` aggregation for the boundary frame."""
        from pyspark.sql import Window

        part = F.floor(F.col("period").cast("long") / F.lit(pw)).alias(
            "__part"
        )
        periods = periods.select("period", "__s", part)
        w_in = Window.partitionBy("__part").orderBy("period")
        lasts = periods.groupBy("__part").agg(
            F.max(F.struct("period", "__s")).alias("__last")
        )
        # one row per occupied partition (n_periods / 8192 — bounded), so
        # a single-partition lag is the right plan HERE; the partition key
        # is pmod(__part, 1) ≡ 0 because a foldable lit(0) is optimized
        # away and WindowExec would then (correctly, for an unbounded
        # input) warn about a global window — this input is not unbounded.
        w_b = Window.partitionBy(F.pmod(F.col("__part"), F.lit(1))).orderBy(
            "__part"
        )
        boundary = lasts.select(
            "__part",
            F.lag(F.col("__last.__s")).over(w_b).alias("__bprev"),
        )
        return (
            periods.withColumn("__rn", F.row_number().over(w_in))
            .withColumn("__ilag", F.lag("__s").over(w_in))
            .join(F.broadcast(boundary), on="__part", how="left")
            .withColumn(
                "__prev",
                F.when(F.col("__rn") == 1, F.col("__bprev")).otherwise(
                    F.col("__ilag")
                ),
            )
            .drop("__rn", "__ilag", "__bprev", "__part")
        )

    def retention_by(self, granularity, start=None, end=None) -> DataFrame:
        """The period-over-period retention SERIES — the dashboard form of
        :meth:`approx_retained`: bucket sketches regrouped into periods (a
        ``date_trunc`` granularity name or an integer tumbling width in
        seconds), each period intersected with the PREVIOUS OCCUPIED
        period. Returns ``(period, n_curr, n_prev, n_retained,
        retention)`` ordered by period, ``retention = n_retained / n_prev``
        (NULL for the first period). One job over the cached rollup; the
        ordering window runs on one task, fine for the handful of periods
        a series has — the heavy lifting (per-bucket sketching) already
        happened at build."""
        self._require_fresh()
        from pyspark.sql import Window

        bucket = self._bucket_col(granularity, start)
        periods = self._within(start, end).groupBy(bucket.alias("period")).agg(
            F.expr("theta_union_agg(__theta)").alias("__s")
        )
        # The previous-occupied-period lag, WITHOUT a global single-
        # partition window over an unbounded input (r15 verdict #6).
        # Plan choice is driver-side and free: when a proof bounds the
        # period count within ONE lag partition (`_lag_period_bound` —
        # rollup row count or mirror sec span), a single bounded window;
        # otherwise the coarse-partition boundary stitch
        # (`_stitched_lag`), which scales but re-evaluates `periods` for
        # its boundary frame.
        gran_w = (
            granularity
            if isinstance(granularity, int)
            else _FIXED_GRAN_SECS.get(str(granularity).lower(), 86400)
        )
        pw = gran_w * self._LAG_PARTITION_PERIODS
        bound = self._lag_period_bound(gran_w)
        if bound is not None and bound <= self._LAG_PARTITION_PERIODS:
            # The period count is PROVABLY within one lag partition, so the
            # stitch's extra plan (a second evaluation of the `periods`
            # aggregation for the boundary frame + a broadcast join —
            # probe: scripts/probe_theta_lag.py, +60% at sf10/weekly) buys
            # nothing: one in-partition lag over a bounded input. The
            # partition key is a NON-FOLDABLE constant (pmod(floor,1) ≡ 0)
            # so WindowExec does not raise its global-window warning — the
            # warning exists for unbounded inputs, and this one is bounded
            # by the proof above, not by hope.
            self._last_lag_path = "bounded"
            w = Window.partitionBy(
                F.pmod(
                    F.floor(F.col("period").cast("long") / F.lit(pw)),
                    F.lit(1),
                )
            ).orderBy("period")
            lagged = periods.withColumn("__prev", F.lag("__s").over(w))
        else:
            self._last_lag_path = "stitch"
            lagged = self._stitched_lag(periods, pw)
        n_prev = self._est("__prev").cast("long")
        n_ret = self._est("theta_intersection(__s, __prev)").cast("long")
        return (
            lagged
            .select(
                "period",
                self._est("__s").cast("long").alias("n_curr"),
                F.when(F.col("__prev").isNull(), F.lit(None).cast("long"))
                .otherwise(n_prev)
                .alias("n_prev"),
                F.when(F.col("__prev").isNull(), F.lit(None).cast("long"))
                .otherwise(n_ret)
                .alias("n_retained"),
                F.when(
                    F.col("__prev").isNotNull() & (n_prev > 0),
                    n_ret.cast("double") / n_prev.cast("double"),
                ).alias("retention"),
            )
            .orderBy("period")
        )

    def retention_rows_by(self, granularity, start=None, end=None) -> list[tuple]:
        """Driver-resident sibling of :meth:`retention_by` (r11): the same
        ``(period, n_curr, n_prev, n_retained, retention)`` rows as plain
        Python tuples (period = naive-UTC datetime, matching the job
        path's collected TIMESTAMPs) with ZERO Spark jobs on a shim
        session — per-period unions AND the consecutive intersections all
        merge in ONE py4j call (``UwheelSketchOps.thetaRetentionGrouped``
        returns the raw double estimates; the CAST(long) truncation and
        the job path's NULL/coalesce algebra — first period NULLs, a
        NULL-sketch period estimating 0, retention NULL when the previous
        period is missing or empty — are applied here, pinned to
        :meth:`retention_by`'s expressions). Falls back to collecting the
        job path's DataFrame when the direct gate refuses. Memoized until
        the rollup mutates."""
        self._require_fresh()

        def compute() -> list[tuple]:
            self._check_granularity(granularity, start)
            gc = self._grouped_cells("__theta", granularity, start, end)
            if gc is None:
                return [
                    tuple(r)
                    for r in self.retention_by(granularity, start, end).collect()
                ]
            cells, framed, counts = gc
            if not cells:
                return []
            import struct

            # packed doubles back (one bulk transfer — see _grouped_cells)
            raw = list(
                struct.unpack(
                    f">{2 * len(cells)}d",
                    bytes(self._sketch_ops().thetaRetentionGrouped(framed)),
                )
            )
            n = len(cells)
            ests, rets = raw[:n], raw[n:]
            rows = []
            for i, bk in enumerate(cells):
                # _est coalesces a NULL sketch to 0.0, so n_curr is 0 (not
                # NULL) for an all-NULL period; cast('long') truncates
                # toward zero exactly like Python int() on a double
                n_curr = int(ests[i]) if counts[i] else 0
                if i == 0 or counts[i - 1] == 0:
                    # lag NULL (first period) or a NULL previous sketch:
                    # the job path's explicit WHEN(__prev IS NULL) arms
                    n_prev = n_ret = retention = None
                else:
                    n_prev = int(ests[i - 1])
                    n_ret = int(rets[i]) if counts[i] else 0
                    retention = (
                        float(n_ret) / float(n_prev) if n_prev > 0 else None
                    )
                rows.append((self._bucket_dt(bk), n_curr, n_prev, n_ret, retention))
            return rows

        return self._memoized_ask(
            (
                "retention_by",
                self._ask_token(granularity),
                self._ask_token(start),
                self._ask_token(end),
            ),
            compute,
        )

    def merged_sketch(self, start, end) -> bytes | None:
        """The merged theta sketch bytes for ``[start, end)`` — composable
        with sketches from other tables (cross-dataset audience algebra).
        Memoized."""
        self._require_fresh()

        def compute() -> bytes | None:
            row = (
                self._restrict(start, end)
                .select(F.col("__theta").alias("__s1"))
                .agg(F.expr("theta_union_agg(__s1)").alias("sk"))
                .collect()[0]
            )
            return bytes(row["sk"]) if row["sk"] is not None else None

        return self._memoized_ask(
            ("sketch", self._ask_token(start), self._ask_token(end)), compute
        )


def build_theta_rollup(
    df: DataFrame,
    time_column: str,
    column: str,
    bucket_seconds: int = 3600,
    lg_k: int = 12,
    partition_by: str | None = None,
) -> ThetaRollup:
    """Per-bucket theta sketches of ``column`` from one scan, cached for
    probe-many use — :func:`.multibuild.build_sketch_rollups` for one
    column. Default hourly buckets, like the HLL rollup.

    ``partition_by=key`` sketches per ``(bucket, key value)`` for cohort
    asks (:meth:`ThetaRollup.retained_by_key`); unkeyed asks still union
    across keys without double-counting. State grows to buckets × distinct
    keys — meant for low-cardinality dimensional keys."""
    from .multibuild import build_sketch_rollups

    return build_sketch_rollups(
        df, time_column, theta=[column], bucket_seconds=bucket_seconds,
        lg_k=lg_k, partition_by=partition_by,
    )["theta"][column]


def load_theta_rollup(spark, path: str) -> ThetaRollup:
    """Inverse of :meth:`ThetaRollup.save` (see :func:`load_rollup`):
    estimates are bit-identical to the saved handle's (sketch bytes
    round-trip)."""
    return load_rollup(ThetaRollup, spark, path)

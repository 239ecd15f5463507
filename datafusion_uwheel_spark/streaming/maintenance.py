"""Streaming wheel-index maintenance (SURVEY.md §7.1 M7).

The reference's µWheel is streaming-native, but the crate only indexes a
static snapshot and ``advance_to``'s once (``lib.rs:1010,1080,1120``) —
indices silently go stale as new data lands. This module closes that gap the
idiomatic-Spark way: a Structured Streaming query aggregates each micro-batch
to per-second partial states (the same single-pass shape as the batch build
in :mod:`..operators.rollups`) and merges them into the driver-side
:class:`..operators.lookup.WheelIndex` via ``foreachBatch``.

Correctness model: every wheel state is a commutative monoid (count/sum add;
min/max combine), so merge order does not matter and **late data is simply
merged when it arrives** — no watermark-drop semantics are imposed on the
index (a watermark on the source stream still bounds any upstream stateful
stages). The merged index is indistinguishable from a fresh batch build over
the union of the data, which is exactly what the test asserts.

Scale: each micro-batch shuffles only its own per-second partials (bounded by
distinct seconds in the batch, not rows); the driver merge is a numpy
union+scatter, microseconds for realistic batch spans.

Scope note: the maintainer keeps the *indexes* fresh. The engine's delegate
path reads whatever the registered table reads — for a parquet-directory
source that's the directory contents at scan time, so register the engine
over the same path the stream appends to (not a frozen DataFrame) if
unrouted queries must also see new data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import WheelEngine
from ..operators.lookup import STAR_AGGREGATION_ALIAS

__all__ = ["StreamingWheelMaintainer", "StreamingAnnMaintainer"]


class StreamingWheelMaintainer:
    """Keeps a :class:`WheelEngine`'s unfiltered indices fresh from a stream.

    Covers the COUNT wheel, the MIN/MAX pruning wheels, and every
    *unfiltered* aggregate wheel already built on the engine (keyed wheels
    would need the filter re-applied per batch — register them via
    ``filters``, mapping canonical filter key → SQL predicate string).
    """

    def __init__(
        self,
        engine: WheelEngine,
        filters: dict[str, str] | None = None,
        maintain_partitions: bool = True,
        retention: tuple[int, str | int] | None = None,
    ):
        self.engine = engine
        self.filters = filters or {}
        #: Merge every partitioned wheel family per batch (one (bucket, key)
        #: rollup job per family). Values NEW to the stream get wheels built
        #: on the fly so the family stays key-complete; disable to fall back
        #: to the stale-marking contract.
        self.maintain_partitions = maintain_partitions
        #: Tiered HAW retention, applied after every merge:
        #: ``(keep_fine_seconds, granularity)`` rolls buckets older than
        #: ``watermark - keep_fine_seconds`` into coarser ``granularity``
        #: buckets (:meth:`..engine.WheelEngine.compact_indexes`) — bounds
        #: driver index memory on an endless stream instead of growing
        #: linearly with timeline span. ``None`` keeps everything fine.
        self.retention = retention

    # ------------------------------------------------------------- plumbing
    def columns(self) -> list[str]:
        # pending ctor pruning wheels are columns to maintain too
        self.engine._ensure_base()
        cols = {c for (c, fk) in self.engine.agg_wheels if fk == STAR_AGGREGATION_ALIAS}
        cols.update(self.engine.min_max_wheels)
        return sorted(cols)

    def merge_batch(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        """``foreachBatch`` hook: batch rows → per-second partials → driver
        merge. Also usable directly for incremental *batch* appends.

        Keyed wheels NOT registered in ``filters`` cannot be maintained (the
        filter must be re-applied per batch) — they are **marked incomplete**
        so queries beyond their built span delegate instead of answering from
        stale state (a complete wheel claims the whole timeline)."""
        e = self.engine
        # a ctor-deferred base wheel must exist before the merge: a pending
        # wheel materialized AFTER this batch would be built from the
        # parquet source alone and silently claim completeness over rows it
        # never saw (r14)
        e._ensure_base()
        if e.time_column not in batch_df.columns:
            # A stream without the TIME column can maintain nothing at all
            # — stale-mark the whole engine (wheels incomplete, sketches
            # refusing) instead of raising inside foreachBatch and killing
            # the query (r8: the value/partition-column cases below got
            # this discipline first; this is the last mid-stream raise).
            for w in e._all_wheels():
                w.complete = False
            for rollups, *_ in e.sketch_families():
                for rollup in rollups.values():
                    rollup.mark_stale(
                        f"maintenance batch lacks time column {e.time_column!r}"
                    )
            e.index_epoch += 1
            # The shim's exported views are SNAPSHOTS — with every wheel now
            # incomplete they must stop answering, so refresh (which
            # unregisters the table on an incomplete star wheel) before
            # returning; otherwise plain spark.sql keeps serving pre-batch
            # buckets forever, the exact stale-serves hole the unregister
            # path below exists to close.
            self._refresh_shim_views()
            return
        self._merge_into(batch_df, STAR_AGGREGATION_ALIAS, self.columns())
        for fk, predicate in self.filters.items():
            cols = [c for (c, k) in self.engine.agg_wheels if k == fk]
            self._merge_into(batch_df.filter(predicate), fk, cols)
        # Sketch rollups ride every batch: HLL/KLL/theta are mergeable
        # monoids (the merged rollup answers as a fresh batch build over
        # the union would); the top-k truncated counters fold batches with
        # errors ADDING (bounds stay valid rather than bit-identical). A
        # rollup whose value or partition column the batch does not carry
        # is MARKED STALE — its asks refuse until a rebuild (or an
        # explicit mark_fresh) — never silently skipped (answers would
        # quietly miss this batch's rows) and never a mid-stream raise
        # (which would kill the streaming query). r8: before, a missing
        # value column skipped silently and a missing key column raised.
        for rollups, *_ in self.engine.sketch_families():
            for col, rollup in rollups.items():
                missing = [
                    c
                    for c in (col, rollup.key_column)
                    if c is not None and c not in batch_df.columns
                ]
                if missing:
                    rollup.mark_stale(
                        f"maintenance batch lacks column(s) {missing}"
                    )
                elif not rollup.stale:  # a stale rollup stays stale —
                    # later batches cannot repair the rows already missed
                    rollup.merge_batch(batch_df, self.engine.time_column)
        maintained = set(self.filters) | {STAR_AGGREGATION_ALIAS}
        e = self.engine
        if self.maintain_partitions:
            maintained |= self._maintain_partitions(batch_df)
        for fk, w in e.count_wheels.items():
            if fk not in maintained:
                w.complete = False
        for (_c, fk), w in e.agg_wheels.items():
            if fk not in maintained:
                w.complete = False
        # Partitioned families: the non-NULL wheels are shared with
        # count/agg and got marked above; the NULL-key wheel is only
        # reachable here. An incomplete family makes the dim landmark
        # delegate and beyond-span ranges fall through (same staleness
        # contract as unmaintained keyed wheels).
        for pset in e.partition_sets.values():
            for fam in pset["wheels"].values():
                for w in fam.values():
                    if w.filter_key not in maintained:
                        w.complete = False
        # invalidate memoized routed answers — indices just changed
        e.index_epoch += 1
        if self.retention is not None:
            keep_fine, gran = self.retention
            # watermark = the newest indexed instant across maintained
            # wheels; compact everything older than keep_fine behind it
            high = max(
                (w.max_ts_us for w in e._all_wheels() if w.max_ts_us >= 0),
                default=-1,
            )
            if high >= 0:
                e.compact_indexes(high // 1_000_000 - int(keep_fine), gran)
        self._refresh_shim_views()

    def _refresh_shim_views(self) -> None:
        """If the engine's table is registered with the Catalyst shim
        (:mod:`..jvmshim`), re-export its rollup views so plain
        ``spark.sql`` keeps answering from FRESH buckets — the exported
        views are snapshots, and serving pre-merge state would silently
        miss everything this batch added. If the unfiltered wheel went
        incomplete (it cannot happen through this maintainer, but a caller
        may have restricted it), the table is UNREGISTERED instead — the
        freshness-gate contract: stale never answers."""
        e = self.engine
        spark = getattr(e, "spark", None)
        if spark is None:
            return
        tables = [
            t.strip()
            for t in spark.conf.get("spark.uwheel.shim.tables", "").split(",")
            if t.strip()
        ]
        if e.name not in tables:
            return
        from ..jvmshim import register_agg_rollup, register_count_rollup

        star = e.count_wheels[STAR_AGGREGATION_ALIAS]
        if not star.complete:
            spark.conf.set(
                "spark.uwheel.shim.tables",
                ",".join(t for t in tables if t != e.name),
            )
            return
        register_count_rollup(spark, e)
        agg_cols = [
            orig for (orig, _w) in getattr(e, "_shim_agg_wheels", {}).values()
        ]
        # re-registration re-reads each wheel from the engine; reset the
        # snapshot dict so the bucket-domain guard compares post-merge wheels
        e._shim_agg_wheels = {}
        # Only columns whose (c, STAR) wheel is still complete re-export —
        # a stream missing a value column stale-marks its wheel in
        # _merge_into, and re-exporting it would (a) keep serving pre-batch
        # buckets through plain spark.sql and (b) diverge its __sec domain
        # from the maintained columns', tripping register_agg_rollup's
        # np.array_equal guard mid-stream. Dropped columns must also stop
        # MATCHING, so the agg_cols conf is cleared first; re-registering
        # the fresh subset rebuilds it with only those columns.
        fresh_cols = []
        for c in agg_cols:
            w = e.agg_wheels.get((c, STAR_AGGREGATION_ALIAS))
            if w is not None and w.complete:
                fresh_cols.append(c)
        if len(fresh_cols) != len(agg_cols):
            try:
                spark.conf.unset(f"spark.uwheel.shim.{e.name}.agg_cols")
            except Exception:
                pass
        for c in fresh_cols:
            register_agg_rollup(spark, e, c)
        # Keyed views: a keyed wheel whose filter this maintainer does not
        # re-apply goes incomplete above — its view must stop matching, so
        # its confs are unset (the rule's lookups then miss). Maintained
        # keyed wheels re-export like the unfiltered ones.
        from ..jvmshim import register_keyed_agg_rollup

        for fk, entry in getattr(e, "_shim_keyed", {}).items():
            cols = [orig for (orig, _w) in entry["wheels"].values()]
            fresh = [e.agg_wheels.get((c, fk)) for c in cols]
            pre = f"spark.uwheel.shim.{e.name}.keyed.{entry['idx']}"
            if not all(w is not None and w.complete for w in fresh):
                for suf in ("col", "value", "cols"):
                    try:
                        spark.conf.unset(f"{pre}.{suf}")
                    except Exception:
                        pass
                continue
            entry["wheels"] = {}
            for c in cols:
                register_keyed_agg_rollup(spark, e, c, entry["filter"])
        # Dim (partitioned-family) views: families are maintained per batch
        # when maintain_partitions is on, so re-export; a family that went
        # incomplete (unmaintainable) gets its view confs unset instead.
        from ..jvmshim import register_dim_rollup

        for kc, entry in getattr(e, "_shim_dims", {}).items():
            ps = e.partition_sets.get(kc)
            pre = f"spark.uwheel.shim.{e.name}.dim.{entry['idx']}"
            complete = ps is not None and all(
                w.complete
                for fam in ps["wheels"].values()
                for w in fam.values()
            )
            if not complete:
                for suf in ("col", "cols"):
                    try:
                        spark.conf.unset(f"{pre}.{suf}")
                    except Exception:
                        pass
                continue
            register_dim_rollup(spark, e, entry["key_column"])

    def _merge_into(self, df: DataFrame, filter_key: str, cols: list[str]) -> None:
        from ..operators.rollups import rollup_arrays, state_agg_exprs

        e = self.engine
        tc = e.time_column
        # Value columns the batch does not carry cannot be maintained —
        # STALE-MARK their wheels (beyond-span queries then delegate, the
        # same contract as unmaintainable keyed families) instead of dying
        # in an unresolved-column AnalysisException and killing the
        # stream. Possible since r8: a partitioned build derives (col,
        # *_AGG) wheels, so columns() can name columns a narrower stream
        # never carried. The count wheel needs no value column and stays
        # maintained either way.
        missing = [c for c in cols if c not in df.columns]
        for c in missing:
            w = e.agg_wheels.get((c, filter_key))
            if w is not None:
                w.complete = False
            if filter_key == STAR_AGGREGATION_ALIAS:
                mm = e.min_max_wheels.get(c)
                if mm is not None:
                    mm.complete = False
        cols = [c for c in cols if c not in missing]
        src = df.filter(F.col(tc).isNotNull()).select(tc, *cols)
        # Identical monoid-state expressions to the batch build (typed int64
        # states for integral columns, non-null vcnt, at-start slivers) —
        # shared helper keeps merge results bit-identical to a fresh build
        # over the union.
        bs = getattr(e, "bucket_seconds", 1)
        aggs, _types = state_agg_exprs(src, tc, cols, bucket_seconds=bs)
        from ..operators.rollups import time_sec_col

        sec = time_sec_col(src, tc)
        if bs != 1:
            sec = sec - (sec % bs)
        rolled = src.groupBy(sec.alias("__sec")).agg(*aggs)

        targets = []
        cw = e.count_wheels.get(filter_key)
        if cw is not None:
            targets.append((cw, None))
        for c in cols:
            w = e.agg_wheels.get((c, filter_key))
            if w is not None:
                targets.append((w, c))
            mm = e.min_max_wheels.get(c) if filter_key == STAR_AGGREGATION_ALIAS else None
            if mm is not None and mm is not w:
                targets.append((mm, c))

        spark_targets = [t for t in targets if hasattr(t[0], "merge_delta_df")]
        driver_targets = [t for t in targets if not hasattr(t[0], "merge_delta_df")]

        if spark_targets:
            bounds = rolled.agg(F.min("__tmin"), F.max("__tmax")).collect()[0]
            if bounds[0] is not None:
                tmin_s, tmax_s = int(bounds[0]), int(bounds[1])
                for wheel, col in spark_targets:
                    if col is None:
                        cols_ = ["__sec", "__cnt"]
                        if wheel._has_at:
                            cols_.append("__atcnt")
                        delta = rolled.select(*cols_)
                    else:
                        sel = [F.col("__sec"), F.col("__cnt")]
                        if wheel._has_at:
                            sel.append(F.col("__atcnt"))
                        if wheel._has_vcnt:
                            sel.append(F.col(f"__vcnt_{col}").alias("__vcnt"))
                            if wheel._has_at:
                                sel.append(F.col(f"__atvcnt_{col}").alias("__atvcnt"))
                        for s in wheel._state_cols:
                            sel.append(F.col(f"__{s}_{col}").alias(f"__{s}"))
                            if wheel._has_at:
                                sel.append(F.col(f"__at{s}_{col}").alias(f"__at{s}"))
                        delta = rolled.select(*sel)
                    wheel.merge_delta_df(delta, min_ts_us=tmin_s, max_ts_us=tmax_s)

        if not driver_targets:
            return
        tbl = rolled.toArrow()
        if tbl.num_rows == 0:
            return
        import numpy as np
        import pyarrow.compute as pc

        secs = np.asarray(tbl.column("__sec"))
        cnt = np.asarray(tbl.column("__cnt"))
        atcnt = np.asarray(tbl.column("__atcnt"))
        tmin = int(pc.min(tbl.column("__tmin")).as_py())
        tmax = int(pc.max(tbl.column("__tmax")).as_py())
        for wheel, col in driver_targets:
            if col is None:
                wheel.merge_delta(
                    secs, cnt, min_ts_us=tmin, max_ts_us=tmax,
                    at_states={"cnt": atcnt},
                )
            else:
                present = tuple(
                    s
                    for s, arr in (
                        ("sum", wheel.sum_),
                        ("min", wheel.min_),
                        ("max", wheel.max_),
                        ("sumsq", wheel.sumsq_),
                    )
                    if arr is not None
                )
                arrs = rollup_arrays(tbl, col, wheel.value_sql_type, present)
                ats = rollup_arrays(tbl, col, wheel.value_sql_type, present, at=True)
                wheel.merge_delta(
                    secs,
                    cnt,
                    arrs["sum"],
                    arrs["min"],
                    arrs["max"],
                    arrs["sumsq"],
                    vcnt_=arrs["vcnt"],
                    min_ts_us=tmin,
                    max_ts_us=tmax,
                    at_states={
                        "cnt": atcnt,
                        "vcnt": ats["vcnt"],
                        "sum": ats["sum"],
                        "min": ats["min"],
                        "max": ats["max"],
                        "sumsq": ats["sumsq"],
                    },
                )

    def _maintain_partitions(self, batch_df: DataFrame) -> set[str]:
        """Merge the batch into every partitioned wheel family whose key
        column the stream carries; returns the filter keys kept fresh.

        One (bucket, key) rollup job per family — the same single-pass shape
        as ``build_partitioned_wheel_indices``, bounded by the batch's
        distinct (bucket, key) pairs. Key values the family has never seen
        get wheels built from the batch rollup and registered (equality
        filter keys included), so the family stays *key-complete* — a new
        category appearing mid-stream shows up in the next dim group-by
        instead of silently missing."""
        import numpy as np
        import pyarrow.compute as pc

        from ..operators.rollups import (
            _indices_from_rollup,
            _key_filter_key,
            rollup_arrays,
            state_agg_exprs,
            time_sec_col,
        )

        e = self.engine
        fresh: set[str] = set()
        for pset in e.partition_sets.values():
            kc = pset["key_column"]
            if kc not in batch_df.columns:
                continue  # unmaintainable from this stream → stale-marked
            fam0 = next(iter(pset["wheels"].values()), None)
            if fam0 is None:
                continue
            cols = sorted(c for c in fam0 if c is not None)
            sample = fam0[cols[0]] if cols else None
            states = tuple(
                s
                for s in ("sum", "min", "max", "sumsq")
                if sample is not None and getattr(sample, f"{s}_", None) is not None
            )
            tc = e.time_column
            src = batch_df.filter(F.col(tc).isNotNull()).select(tc, kc, *cols)
            bs = e.bucket_seconds
            aggs, types = state_agg_exprs(src, tc, cols, states, bs)
            sec = time_sec_col(src, tc)
            if bs != 1:
                sec = sec - (sec % bs)
            tbl = (
                src.groupBy(sec.alias("__sec"), F.col(kc).alias("__key"))
                .agg(*aggs)
                .toArrow()
            )
            if tbl.num_rows == 0:
                # empty delta — the family saw everything there was to see
                for fam in pset["wheels"].values():
                    fresh.update(w.filter_key for w in fam.values())
                continue
            keyarr = tbl.column("__key")
            for v in pc.unique(keyarr).to_pylist():
                mask = pc.is_null(keyarr) if v is None else pc.equal(keyarr, v)
                sub = tbl.filter(mask).drop_columns(["__key"])
                fam = pset["wheels"].get(v)
                if fam is None:
                    fk = (
                        f"{kc} IS NULL"
                        if v is None
                        else _key_filter_key(kc, v, pset["key_sql_type"])
                    )
                    fam = _indices_from_rollup(
                        sub, e.name, cols, types, fk,
                        complete=fam0[None].complete, bucket_seconds=bs,
                        states=states,
                    )
                    pset["wheels"][v] = fam
                    if v is not None:
                        e.count_wheels.setdefault(fam[None].filter_key, fam[None])
                        for c in cols:
                            e.agg_wheels.setdefault((c, fam[None].filter_key), fam[c])
                else:
                    secs = np.asarray(sub.column("__sec"))
                    cnt = np.asarray(sub.column("__cnt"))
                    atcnt = np.asarray(sub.column("__atcnt"))
                    tmin = int(pc.min(sub.column("__tmin")).as_py())
                    tmax = int(pc.max(sub.column("__tmax")).as_py())
                    fam[None].merge_delta(
                        secs, cnt, min_ts_us=tmin, max_ts_us=tmax,
                        at_states={"cnt": atcnt},
                    )
                    for c in cols:
                        w = fam[c]
                        present = tuple(
                            s
                            for s, arr in (
                                ("sum", w.sum_),
                                ("min", w.min_),
                                ("max", w.max_),
                                ("sumsq", w.sumsq_),
                            )
                            if arr is not None
                        )
                        arrs = rollup_arrays(sub, c, w.value_sql_type, present)
                        ats = rollup_arrays(sub, c, w.value_sql_type, present, at=True)
                        w.merge_delta(
                            secs, cnt,
                            arrs["sum"], arrs["min"], arrs["max"], arrs["sumsq"],
                            vcnt_=arrs["vcnt"],
                            min_ts_us=tmin, max_ts_us=tmax,
                            at_states={
                                "cnt": atcnt,
                                "vcnt": ats["vcnt"],
                                "sum": ats["sum"],
                                "min": ats["min"],
                                "max": ats["max"],
                                "sumsq": ats["sumsq"],
                            },
                        )
                fresh.update(w.filter_key for w in fam.values())
            # values absent from this batch saw an empty delta — still fresh
            for v, fam in pset["wheels"].items():
                fresh.update(w.filter_key for w in fam.values())
        return fresh

    # -------------------------------------------------------------- driving
    def attach(
        self,
        stream_df: DataFrame,
        checkpoint: str,
        trigger_once: bool = False,
        processing_time: str = "10 seconds",
    ):
        """Start the maintenance query on a streaming DataFrame
        (``readStream`` source). Returns the ``StreamingQuery``."""
        writer = (
            stream_df.writeStream.outputMode("update")
            .foreachBatch(self.merge_batch)
            .option("checkpointLocation", checkpoint)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()


class StreamingAnnMaintainer:
    """Keeps a :class:`..similarity_engine.SimilarityEngine`'s registered ANN
    indexes fresh from a stream of new vectors — the similarity counterpart
    of :class:`StreamingWheelMaintainer`, built on :meth:`AnnIndex.append`:
    each micro-batch is hashed with every registered index's pinned
    parameters and appended into its partition layout (existing files are
    never rewritten; probes see the new generation immediately).

    Delivery note: ``foreachBatch`` + parquet append is at-least-once — a
    batch retried after a mid-write failure can append twice. Wheel states
    are monoids so the wheel maintainer tolerates replays only via Spark's
    batch-id dedup; here duplicate *rows* would surface as duplicate probe
    candidates, so either deduplicate by id upstream, or pass
    ``dedup_ids=True`` to drop ids an index already contains. The anti-join
    runs **per index** against that index's own stored ids (registered
    indexes may diverge in content — e.g. a later ``register_index`` of an
    older on-disk layout — so one shared id set would mis-dedup the
    others); each is bounded by the index's id column, never the vectors."""

    def __init__(self, engine, dedup_ids: bool = False):
        self.engine = engine
        self.dedup_ids = dedup_ids

    def merge_batch(self, batch_df: DataFrame, batch_id: int | None = None) -> None:
        e = self.engine
        delta = batch_df.select(e.id_col, e.vec_col)
        if not (self.dedup_ids and e.indexes):
            e.append(delta)
            return
        for idx in e.indexes.values():
            seen = idx._df.select(e.id_col).distinct()
            idx.append(delta.join(seen, on=e.id_col, how="anti"))

    def attach(
        self,
        stream_df: DataFrame,
        checkpoint: str,
        trigger_once: bool = False,
        processing_time: str = "10 seconds",
    ):
        """Start the maintenance query (``readStream`` source of
        ``(id_col, vec_col)`` rows). Returns the ``StreamingQuery``."""
        writer = (
            stream_df.writeStream.outputMode("update")
            .foreachBatch(self.merge_batch)
            .option("checkpointLocation", checkpoint)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

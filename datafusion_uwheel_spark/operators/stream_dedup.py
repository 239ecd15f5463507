"""Ingestion-time exact dedup: drop documents already seen — in the
historical corpus or earlier in the stream — as they arrive.

The batch dedup operators (:mod:`.dedup`) assume the whole corpus is in
front of them; an LLM-data INGEST pipeline instead sees an endless stream
of crawled documents and must answer "have we EVER kept this content
before?" per micro-batch. Beyond the reference (which has no streaming
surface at all) — two pieces:

* :class:`CorpusDedup` — a persistent digest set (hash-bucketed parquet)
  plus a ``filter_batch`` that keeps only never-seen content and records
  what it kept. Drive it from Structured Streaming via :meth:`attach`
  (``foreachBatch``) or call it directly from batch code.
* :class:`NearCorpusDedup` — the fuzzy form: MinHash/LSH band state
  instead of digests, so re-crawls that differ by a footer or a rewrite
  still drop; optional estimator verification against stored signatures.
* :class:`SemanticCorpusDedup` — the embedding form: IVF-celled vector
  state + the SemDeDup rule, so same-MEANING redundancy with no token
  overlap drops too (the quantizer pinned in a state manifest).
* :func:`dedup_within_stream` — the bounded-lateness form for unbounded
  ``readStream`` pipelines: Spark's own watermarked state
  (``dropDuplicatesWithinWatermark``), for when "seen before" only needs
  to look back ``delay`` worth of event time.

100 TB design: the state table is ONLY digests (32-char md5 per kept doc —
~3 orders of magnitude smaller than the corpus) laid out in
``bucket=pmod(xxhash64(digest), n_buckets)`` partition dirs. A micro-batch
touches just the buckets its own digests hash into: the anti-join reads
those partition dirs and nothing else (file-source partition pruning), so
per-batch cost scales with the BATCH, not the corpus. Appends are
per-bucket parquet appends; :meth:`compact` folds the accumulated small
files and drops any digests double-recorded by replayed batches (the state
is a SET — duplicate rows cost space, never correctness).

At-least-once semantics are two-phase: :meth:`~CorpusDedup.prepare_batch`
computes the survivors WITHOUT touching state, and
:meth:`~CorpusDedup.commit` records them — :meth:`~CorpusDedup.attach`
commits only AFTER the sink returns, so a sink failure replays the batch
with its documents still unseen (re-emitted, never lost). The flip side:
a sink that durably wrote part of its output before failing sees those
rows again on retry — pair with an idempotent sink. ``filter_batch``
(prepare + immediate commit) remains for direct batch use, where the
caller holds the survivors and can retry its own write.

NULL text carries no content to match: such rows pass through unfiltered
and are never recorded.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "CorpusDedup",
    "NearCorpusDedup",
    "SemanticCorpusDedup",
    "PendingState",
    "dedup_within_stream",
]

_STATE_SCHEMA = "digest string, bucket int"


def _attach_foreach(dedup, stream_df: DataFrame, sink, **start_kwargs):
    """The shared ``attach`` contract (one copy for all three corpus-dedup
    forms): each micro-batch is prepared, the survivors handed to
    ``sink(survivors_df, batch_id)``, and the state committed only AFTER
    the sink returns — a failing sink replays the batch with its
    documents still unseen (at-least-once: re-emitted, never lost)."""

    def _each(batch_df: DataFrame, batch_id: int) -> None:
        survivors, pending = dedup.prepare_batch(batch_df)
        sink(survivors, batch_id)
        dedup.commit(pending)

    return (
        stream_df.writeStream.foreachBatch(_each)
        .options(**start_kwargs.pop("options", {}))
        .start(**start_kwargs)
    )


def _overwrite_partitions(df: DataFrame, col: str, path: str) -> None:
    """Per-partition dynamic overwrite — the shared compact() write
    (readers of the OLD state see a full set throughout; only the
    rewritten partition dirs swap). The mode is a per-write option, so the
    session's ``partitionOverwriteMode`` never changes under other work."""
    (
        df.repartition(col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )


class PendingState:
    """State writes computed by ``prepare_batch`` but not yet recorded —
    hand to ``commit`` after the survivors are durably written. The frames
    are eagerly checkpointed, so committing later (or never, on sink
    failure) cannot change what the filter already answered."""

    def __init__(self, writes: list[tuple[DataFrame, str, str]]):
        self._writes = writes
        self.committed = False

    def _commit(self) -> None:
        if self.committed:
            return
        for df, partition_col, path in self._writes:
            df.write.mode("append").partitionBy(partition_col).parquet(path)
        self.committed = True


class CorpusDedup:
    """Persistent exact-dedup state over a parquet digest set.

    ``filter_batch`` is the whole contract: give it any DataFrame with the
    configured text/id columns, get back the rows whose content was never
    seen (in-batch duplicates keep the lowest id), with the state updated.
    """

    def __init__(
        self,
        spark,
        state_dir: str,
        text: str = "text",
        id_col: str = "doc_id",
        n_buckets: int = 256,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.text = text
        self.id_col = id_col
        self.n_buckets = n_buckets

    # ------------------------------------------------------------ internals

    def _digests(self, df: DataFrame) -> DataFrame:
        d = F.md5(F.col(self.text))
        return df.select(
            F.col(self.id_col),
            d.alias("digest"),
            F.pmod(F.xxhash64(d), F.lit(self.n_buckets))
            .cast("int")
            .alias("bucket"),
        )

    def _state(self) -> DataFrame | None:
        if not os.path.isdir(self.state_dir):
            return None
        try:
            return self.spark.read.schema(_STATE_SCHEMA).parquet(
                self.state_dir
            )
        except Exception:
            return None  # empty dir: no batch recorded yet

    def seen_count(self) -> int:
        """Recorded digests (including any replay double-records until the
        next :meth:`compact`)."""
        s = self._state()
        return 0 if s is None else s.count()

    # -------------------------------------------------------------- filter

    def prepare_batch(
        self, batch_df: DataFrame
    ) -> tuple[DataFrame, PendingState]:
        """Phase 1: the rows of ``batch_df`` whose content digest is NEW —
        not in the corpus state and not earlier (lower id) in this batch —
        plus the pending state append, NOT yet recorded. Call
        :meth:`commit` once the survivors are durably written; until then a
        replay of the same batch re-emits the same documents instead of
        losing them. NULL-text rows pass through and are never recorded.

        One shuffle on the digest (in-batch keep-lowest), one anti-join
        against ONLY the state buckets this batch touches (partition-pruned
        scan); the commit is one per-bucket parquet append."""
        digests = self._digests(batch_df).filter(F.col("digest").isNotNull())
        # in-batch: lowest id per digest. NOT persisted (r14, measured):
        # the touched-buckets collect below re-derives the digest pass, but
        # caching the groupBy output tripled the row (2.4 -> 7.9 s at
        # sf0.1) — the cache build runs the aggregation without AQE
        # partition coalescing and the eager checkpoint then materializes
        # through it a second time, while the saved work (codegen'd md5 +
        # one partial agg) is cheap. The LSH forms persist their signature
        # frames because the Arrow signature kernel IS the dominant cost
        # there; digests are not.
        keep = (
            digests.groupBy("digest", "bucket")
            .agg(F.min(self.id_col).alias(self.id_col))
        )
        state = self._state()
        if state is not None:
            touched = [
                r["bucket"]
                for r in keep.select("bucket").distinct().collect()
            ]
            if touched:
                pruned = state.filter(F.col("bucket").isin(touched))
                keep = keep.join(pruned, on="digest", how="left_anti")
        # localCheckpoint CUTS the lineage before the state append: the
        # append's refreshByPath invalidates any cached plan that still
        # reads the state files (the anti-join), and a recompute after the
        # append would see this batch's own digests and emit nothing.
        new = keep.localCheckpoint(eager=True)
        pending = PendingState(
            [(new.select("digest", "bucket"), "bucket", self.state_dir)]
        )
        null_rows = batch_df.filter(F.col(self.text).isNull())
        survivors = batch_df.join(
            new.select(self.id_col), on=self.id_col, how="semi"
        )
        return survivors.unionByName(null_rows), pending

    def commit(self, pending: PendingState) -> None:
        """Phase 2: record the prepared digests. Idempotent per token."""
        pending._commit()

    def filter_batch(self, batch_df: DataFrame) -> DataFrame:
        """Survivors of ``batch_df`` with their digests recorded
        IMMEDIATELY — prepare + commit in one call, for direct batch use
        where the caller owns the survivors and can redo its own write.
        Inside ``foreachBatch`` prefer :meth:`attach` (or the explicit
        two-phase pair): a sink that fails AFTER this method returns would
        see its replay filtered out — lost documents, not duplicates."""
        survivors, pending = self.prepare_batch(batch_df)
        self.commit(pending)
        return survivors

    # --------------------------------------------------------- maintenance

    def compact(self) -> None:
        """Fold the per-batch appended files into one file per bucket and
        drop double-recorded digests (replayed batches) — bounds the
        small-files decay exactly like ``AnnIndex.compact``. Readers of the
        OLD state see a full set throughout; the swap is per-bucket
        overwrite with ``partitionOverwriteMode=dynamic``."""
        s = self._state()
        if s is None:
            return
        _overwrite_partitions(s.dropDuplicates(["digest"]), "bucket", self.state_dir)

    # ---------------------------------------------------------- streaming

    def attach(self, stream_df: DataFrame, sink, **start_kwargs):
        """Drive the dedup from a stream (:func:`_attach_foreach` — the
        shared two-phase contract). Returns the started
        ``StreamingQuery``."""
        return _attach_foreach(self, stream_df, sink, **start_kwargs)


def dedup_within_stream(
    stream_df: DataFrame,
    delay: str,
    time_column: str = "ts",
    text: str = "text",
) -> DataFrame:
    """Bounded-lateness streaming dedup on content digest: Spark's own
    watermarked dedup state (``dropDuplicatesWithinWatermark``), which
    evicts digests older than ``delay`` (e.g. ``"1 hour"``) — the unbounded
    ``readStream`` form for when "seen before" only needs a lookback
    window, with state size bounded by the window instead of the corpus."""
    return (
        stream_df.withColumn("__digest", F.md5(F.col(text)))
        .withWatermark(time_column, delay)
        .dropDuplicatesWithinWatermark(["__digest"])
        .drop("__digest")
    )


class NearCorpusDedup:
    """Ingestion-time NEAR-dup dedup: drop arriving documents that are
    near-duplicates — by the MinHash/LSH rule — of anything ever kept,
    near-dedup the batch against itself under the same rule, then record
    the survivors. The fuzzy sibling of :class:`CorpusDedup`, which only
    catches byte-identical content (a re-crawl with a new boilerplate
    footer sails straight through an exact digest).

    State is the LSH banding itself, persisted: one row per (kept doc,
    band) holding the owner id and the band's signature-slice key, laid
    out in ``hb = pmod(xxhash64(key), n_buckets)`` partition dirs. A batch
    joins its band keys against ONLY the buckets those keys hash into —
    the same partition-pruned, batch-proportional cost model as the exact
    form. With ``min_est_jaccard`` set, band collisions are VERIFIED
    against stored signatures (a side table partitioned by owner-id hash,
    read pruned to the candidate owners' buckets): the MinHash estimator
    gate, not just the banding gate. ``None`` keeps the pure LSH decision
    rule and skips the signature table entirely.

    Documents with no shingles (shorter than the shingle width) carry no
    signature: they pass through unfiltered and are never recorded, like
    NULL text in the exact form. Replays are at-least-once safe the same
    way: a re-filtered batch collides with its own recorded bands and
    emits nothing new. ``id_col`` must be integral (the signature-table
    bucketing hashes it).
    """

    def __init__(
        self,
        spark,
        state_dir: str,
        text: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        k: int = 32,
        bands: int = 8,
        seed: int = 42,
        min_est_jaccard: float | None = None,
        n_buckets: int = 64,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.text = text
        self.id_col = id_col
        self.n = n
        self.k = k
        self.bands = bands
        self.seed = seed
        self.min_est_jaccard = min_est_jaccard
        self.n_buckets = n_buckets

    _BANDS_SCHEMA = "owner long, band int, key string, hb int"
    _SIGS_SCHEMA = "owner long, signature array<bigint>, sb int"

    def _read_state(self, sub: str, schema: str):
        p = os.path.join(self.state_dir, sub)
        if not os.path.isdir(p):
            return None
        try:
            return self.spark.read.schema(schema).parquet(p)
        except Exception:
            return None

    def _matched_ids(self, rows, sig):
        """Batch ids whose band keys collide with the stored corpus —
        verified against stored signatures when the estimator gate is on.
        ``rows``: the batch's band rows (+``hb``); ``sig``: the batch's
        persisted signature frame."""
        bands_state = self._read_state("bands", self._BANDS_SCHEMA)
        if bands_state is None:
            return None
        touched = [r["hb"] for r in rows.select("hb").distinct().collect()]
        if not touched:
            return None
        pruned = bands_state.filter(F.col("hb").isin(touched))
        hits = rows.join(
            pruned.select(
                F.col("band").alias("__band"),
                F.col("key").alias("__key"),
                "owner",
            ),
            on=["__band", "__key"],
        )
        if self.min_est_jaccard is None:
            return hits.select(F.col("__id").alias(self.id_col)).distinct()
        sigs_state = self._read_state("sigs", self._SIGS_SCHEMA)
        if sigs_state is None:  # state written by a rule-only instance
            raise ValueError(
                "min_est_jaccard verification needs the signature side "
                "table, but this state was recorded without one "
                "(built with min_est_jaccard=None)"
            )
        cand = hits.select(F.col("__id").alias(self.id_col), "owner").distinct()
        sb = [
            r["sb"]
            for r in cand.select(
                F.pmod(F.xxhash64("owner"), F.lit(self.n_buckets))
                .cast("int")
                .alias("sb")
            )
            .distinct()
            .collect()
        ]
        owner_sigs = sigs_state.filter(F.col("sb").isin(sb)).select(
            "owner", F.col("signature").alias("__corpus_sig")
        )
        est = (
            cand.join(owner_sigs, on="owner")
            .join(
                sig.select(self.id_col, F.col("signature").alias("__batch_sig")),
                on=self.id_col,
            )
            .withColumn(
                "__est",
                F.size(
                    F.filter(
                        F.zip_with(
                            "__batch_sig",
                            "__corpus_sig",
                            lambda a, b: a == b,
                        ),
                        lambda x: x,
                    )
                ).cast("double")
                / F.lit(float(self.k)),
            )
        )
        return (
            est.filter(F.col("__est") >= self.min_est_jaccard)
            .select(self.id_col)
            .distinct()
        )

    def prepare_batch(
        self, batch_df: DataFrame
    ) -> tuple[DataFrame, PendingState]:
        """Phase 1: survivors of ``batch_df`` — not a near-dup of the
        corpus, not a near-dup of a lower-id batch doc (transitive
        keep-one) — plus the pending band/signature appends, NOT yet
        recorded. Call :meth:`commit` after the survivors are durably
        written (same contract as :meth:`CorpusDedup.prepare_batch`).
        Shingle-less rows pass through unrecorded."""
        from .dedup import (
            band_rows,
            dedup_clustered,
            lsh_candidate_pairs,
            release_signatures,
            with_minhash_signature,
        )

        sig = with_minhash_signature(
            batch_df, text=self.text, n=self.n, k=self.k, seed=self.seed
        ).persist()
        try:
            rows = band_rows(sig, self.id_col, k=self.k, bands=self.bands).withColumn(
                "hb",
                F.pmod(F.xxhash64("__key"), F.lit(self.n_buckets)).cast("int"),
            )
            matched = self._matched_ids(rows, sig)
            surv_sig = (
                sig
                if matched is None
                else sig.join(matched, on=self.id_col, how="left_anti")
            )
            # within-batch near-dups under the SAME rule: banded pairs →
            # transitive keep-lowest
            pairs = lsh_candidate_pairs(
                surv_sig,
                id_col=self.id_col,
                k=self.k,
                bands=self.bands,
                min_est_jaccard=self.min_est_jaccard,
            )
            kept = (
                dedup_clustered(
                    surv_sig.select(self.id_col), pairs, id_col=self.id_col
                )
                .select(self.id_col)
                .localCheckpoint(eager=True)  # lineage cut before the append
            )
            release_signatures(pairs)
            kept_sig = sig.join(kept, on=self.id_col, how="semi")
            new_bands = (
                band_rows(kept_sig, self.id_col, k=self.k, bands=self.bands)
                .select(
                    F.col("__id").cast("long").alias("owner"),
                    F.col("__band").alias("band"),
                    F.col("__key").alias("key"),
                )
                .withColumn(
                    "hb",
                    F.pmod(F.xxhash64("key"), F.lit(self.n_buckets)).cast("int"),
                )
                .localCheckpoint(eager=True)
            )
            writes = [
                (new_bands, "hb", os.path.join(self.state_dir, "bands"))
            ]
            if self.min_est_jaccard is not None:
                new_sigs = (
                    kept_sig.select(
                        F.col(self.id_col).cast("long").alias("owner"),
                        F.col("signature").cast("array<bigint>").alias("signature"),
                    )
                    .withColumn(
                        "sb",
                        F.pmod(F.xxhash64("owner"), F.lit(self.n_buckets)).cast("int"),
                    )
                    .localCheckpoint(eager=True)
                )
                writes.append(
                    (new_sigs, "sb", os.path.join(self.state_dir, "sigs"))
                )
            no_sig = batch_df.join(
                sig.select(self.id_col), on=self.id_col, how="left_anti"
            )
            survivors = batch_df.join(kept, on=self.id_col, how="semi")
            return survivors.unionByName(no_sig), PendingState(writes)
        finally:
            sig.unpersist()

    def commit(self, pending: PendingState) -> None:
        """Phase 2: record the prepared bands/signatures. Idempotent per
        token."""
        pending._commit()

    def filter_batch(self, batch_df: DataFrame) -> DataFrame:
        """Prepare + immediate commit — same caveat as
        :meth:`CorpusDedup.filter_batch`: inside ``foreachBatch`` use
        :meth:`attach` or the two-phase pair so a failing sink cannot lose
        the batch's documents."""
        survivors, pending = self.prepare_batch(batch_df)
        self.commit(pending)
        return survivors

    def seen_bands(self) -> int:
        s = self._read_state("bands", self._BANDS_SCHEMA)
        return 0 if s is None else s.count()

    def attach(self, stream_df: DataFrame, sink, **start_kwargs):
        """Drive the near-dedup from a stream — same contract as
        :meth:`CorpusDedup.attach` (:func:`_attach_foreach`)."""
        return _attach_foreach(self, stream_df, sink, **start_kwargs)

    def compact(self) -> None:
        """Fold per-batch appended files and drop replay double-records in
        BOTH state tables (bands, and signatures when verifying) — the same
        bounded small-files discipline as :meth:`CorpusDedup.compact`."""
        bands = self._read_state("bands", self._BANDS_SCHEMA)
        if bands is not None:
            _overwrite_partitions(
                bands.dropDuplicates(["owner", "band", "key"]),
                "hb",
                os.path.join(self.state_dir, "bands"),
            )
        sigs = self._read_state("sigs", self._SIGS_SCHEMA)
        if sigs is not None:
            _overwrite_partitions(
                sigs.dropDuplicates(["owner"]),
                "sb",
                os.path.join(self.state_dir, "sigs"),
            )


class SemanticCorpusDedup:
    """Ingestion-time SEMANTIC dedup: drop arriving documents whose
    EMBEDDING is a SemDeDup-style duplicate — cosine ≥ ``threshold``
    within the same spherical-k-means cell — of anything ever kept, run
    the SemDeDup pass within the batch itself, then record the survivors.
    The embedding-space sibling of :class:`NearCorpusDedup`: MinHash
    catches edited re-crawls of the SAME text; this catches same-MEANING
    redundancy no token overlap reveals.

    State is one row per kept vector ``(owner, embedding float32, cell)``
    laid out in ``cell=`` partition dirs — the IVF layout, so a batch
    joins only the cells its own vectors assign into (partition-pruned
    read; per-batch cost scales with the batch and the touched cells'
    occupancy, never the corpus). The quantizer is pinned in a state-dir
    manifest at construction: a reopened state REFUSES mismatched
    centroids (mixed quantizers would silently partition the space two
    ways and miss duplicates across the seam).

    ``quantize="int8"`` (r12 — the r11 verdict's state-size lever) stores
    each kept vector as its direction-preserving int8 code
    (:func:`..ann_index._q8_col`: symmetric max-abs rounding; cosine is
    invariant to the positive per-vector scale the code drops, so no
    scale column rides) — ~4× less state I/O on the ladder's most
    stateful operator. Corpus-join decisions then compare the batch's
    EXACT vector against the stored code: the code tilts the stored
    direction by at most the max-abs rounding angle (adversarial bound
    0.5·√dim/127; ~1e-4 on real embeddings), so decisions can flip ONLY
    for pairs whose exact cosine lies within that margin of the
    threshold — a bounded, documented divergence (pytest pins decision
    equality with full-precision state on the real embeddings corpus).
    Within-batch dedup is exact either way (both sides exact). Replay
    safety holds because a replayed row meets its own code at cosine
    ≈ 1.0 ≥ threshold; thresholds above ``_Q8_MAX_THRESHOLD`` refuse
    quantized mode since the rounding angle could undercut them. The
    mode is pinned in the manifest next to the centroids (mixed row
    encodings under one schema would silently mis-read).

    Ordering is stream-arrival SemDeDup: corpus members are always
    "earlier" than the batch (a batch row similar to ANY kept vector
    drops), and within the batch the operator's keep order applies
    (:func:`..semantic_dedup.semantic_dup_pairs` — the greedy
    all-earlier-items matrix rule, kernel path). Zero/NULL vectors have
    NULL cosine to everything: they pass through unfiltered and are never
    recorded, like NULL text in the exact form. Replays are at-least-once
    safe: a re-filtered batch matches its own recorded vectors at cosine
    1.0 ≥ threshold and emits nothing new. Two-phase like the siblings —
    :meth:`prepare_batch` + :meth:`commit` (via :meth:`attach`), or
    :meth:`filter_batch` for direct batch use. ``id_col`` must be
    integral (the state's ``owner`` column is BIGINT; a silent string
    cast would record NULL owners), enforced per batch.
    """

    _VECS_SCHEMA = "owner long, embedding array<float>, cell long"
    _VECS_SCHEMA_Q8 = "owner long, embedding array<tinyint>, cell long"
    _MANIFEST = "_semantic_manifest.json"
    #: Quantized-state threshold ceiling: int8 codes tilt each stored
    #: direction by at most the max-abs rounding angle (≤ 0.5·√dim/127 in
    #: the adversarial worst case, ~1e-4 radians on real embeddings), so
    #: a replayed row's cosine against its OWN recorded code is slightly
    #: under 1.0. Thresholds above the cap could let replays re-emit —
    #: the at-least-once guarantee — so quantized mode refuses them. The
    #: cap is DIM-DEPENDENT (r12 review: a flat 0.995 stops guaranteeing
    #: replay safety past dim ≈ 650): ``s = 0.5·√dim/127`` bounds
    #: **sin(tilt)**, not the tilt angle itself — the rounding error
    #: vector has norm ≤ s·‖v‖ so ``sin ≤ s`` — hence the guaranteed
    #: worst-case self-cosine is ``cos(arcsin(s)) = √(1 − s²)``, which
    #: sits ~s⁴/6 BELOW ``cos(s)`` (≈4e-5 at dim 1024, swamping a 1e-6
    #: margin past dim ≈ 160 — r12 ADVICE). Effective ceiling:
    #: ``min(0.995, √(1 − s²) − 1e-6)``.
    _Q8_MAX_THRESHOLD = 0.995

    @classmethod
    def _q8_threshold_cap(cls, dim: int) -> float:
        import math

        s = min(0.5 * math.sqrt(dim) / 127.0, 1.0)
        return min(
            cls._Q8_MAX_THRESHOLD,
            math.sqrt(1.0 - s * s) - 1e-6,
        )

    def __init__(
        self,
        spark,
        state_dir: str,
        centroids,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        threshold: float = 0.95,
        keep: str = "low_centroid_sim",
        round_digits: int = 6,
        quantize: str | None = None,
    ):
        import json

        from .semantic_dedup import _KEEPS

        if not centroids:
            raise ValueError("centroids must be non-empty")
        if not (0.0 < threshold <= 1.0):
            raise ValueError(f"threshold must be in (0, 1], got {threshold}")
        if keep not in _KEEPS:
            raise ValueError(f"keep must be one of {_KEEPS}, got {keep!r}")
        if quantize not in (None, "int8"):
            raise ValueError(f"unknown quantize mode {quantize!r}")
        if quantize == "int8":
            cap = self._q8_threshold_cap(len(centroids[0]))
            if threshold > cap:
                raise ValueError(
                    f"threshold {threshold} > {cap:.6f} with "
                    f"quantize='int8' at dim {len(centroids[0])}: the "
                    "stored codes' worst-case rounding angle "
                    "(0.5*sqrt(dim)/127) could push a replayed row's "
                    "self-cosine under the threshold and re-emit it — "
                    "use full-precision state for near-exact thresholds"
                )
        self.spark = spark
        self.state_dir = state_dir
        self.centroids = [[float(x) for x in c] for c in centroids]
        self.vec_col = vec_col
        self.id_col = id_col
        self.threshold = threshold
        self.keep = keep
        self.round_digits = round_digits
        self.quantize = quantize
        os.makedirs(state_dir, exist_ok=True)
        mpath = os.path.join(state_dir, self._MANIFEST)
        if os.path.exists(mpath):
            with open(mpath) as f:
                manifest = json.load(f)
            if manifest["centroids"] != self.centroids:
                raise ValueError(
                    "state at this dir was recorded with DIFFERENT "
                    "centroids — a mixed quantizer partitions the space "
                    "two ways and misses duplicates across the seam; "
                    "open with the original centroids or start a new "
                    "state dir"
                )
            if manifest.get("quantize") != quantize:
                raise ValueError(
                    "state at this dir was recorded with quantize="
                    f"{manifest.get('quantize')!r}, opened with "
                    f"{quantize!r} — mixed row encodings under one schema "
                    "would silently mis-read; open with the original mode "
                    "or start a new state dir"
                )
        else:
            with open(mpath, "w") as f:
                json.dump(
                    {"centroids": self.centroids, "quantize": quantize}, f
                )

    def _vectors(self) -> DataFrame | None:
        p = os.path.join(self.state_dir, "vectors")
        if not os.path.isdir(p):
            return None
        schema = (
            self._VECS_SCHEMA_Q8 if self.quantize == "int8" else self._VECS_SCHEMA
        )
        try:
            return self.spark.read.schema(schema).parquet(p)
        except Exception:
            return None

    def seen_count(self) -> int:
        s = self._vectors()
        return 0 if s is None else s.count()

    def prepare_batch(
        self, batch_df: DataFrame
    ) -> tuple[DataFrame, PendingState]:
        """Phase 1: survivors of ``batch_df`` — no kept corpus vector at
        cosine ≥ threshold in their cell, no earlier batch row either —
        plus the pending vector append, NOT yet recorded."""
        from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

        from .semantic_dedup import (
            corpus_drop_ids,
            semantic_dup_pairs,
            with_semantic_cells,
        )

        id_type = batch_df.schema[self.id_col].dataType
        if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
            raise ValueError(
                f"id_col {self.id_col!r} must be integral, got "
                f"{id_type.simpleString()} — the state's owner column is "
                "BIGINT and a silent cast would record NULL owners"
            )
        # kernel assignment (bit-equal to the expression folds): every
        # consumer below batches through Arrow anyway, and the k x dim
        # expression tree costs ~1 s of Catalyst ANALYSIS per fresh plan
        # on top of its interpreted HOF execution (r14, guide §4). In
        # int8 mode the SAME pass also emits the stored codes (__q8,
        # bit-equal to the _q8_col expression) — the decided checkpoint
        # then just copies a column instead of evaluating two interpreted
        # HOF array transforms per kept row (r15 verdict #5: the q8
        # mode's +0.35 s/batch fixed latency was exactly that).
        assigned = with_semantic_cells(
            batch_df.select(self.id_col, self.vec_col),
            self.centroids,
            self.vec_col,
            prefer_kernel=True,
            emit_q8=self.quantize == "int8",
        )
        # persisted for the consumers below (touched-cells collect, corpus
        # kernel, within-batch pairs, the decided projection) — the
        # assignment is the priciest per-row step here, same reason
        # NearCorpusDedup persists its signature frame
        from pyspark import StorageLevel

        eligible = assigned.filter(F.col("csim").isNotNull()).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        corpus_drops = None
        state = self._vectors()
        if state is not None:
            touched = [
                r["cell"]
                for r in eligible.select("cell").distinct().collect()
            ]
            if touched:
                # literal cell list keeps the state read partition-pruned
                # (only the touched cell= dirs are listed/scanned); the
                # pair cosines run in ONE cogrouped Arrow kernel instead
                # of the interpreted per-pair HOF fold (r14, guide §4 —
                # was ~5 s per 2k-row batch at sf0.1; bit-equal, see
                # corpus_drop_ids)
                pruned = state.filter(F.col("cell").isin(touched))
                corpus_drops = corpus_drop_ids(
                    eligible,
                    pruned,
                    len(self.centroids[0]),
                    self.threshold,
                    round_digits=self.round_digits,
                    id_col=self.id_col,
                    vec_col=self.vec_col,
                    corpus_vec_col="embedding",
                )
        batch_drops = semantic_dup_pairs(
            eligible.select(self.id_col, self.vec_col, "cell", "csim"),
            self.centroids,
            self.threshold,
            vec_col=self.vec_col,
            id_col=self.id_col,
            keep=self.keep,
            round_digits=self.round_digits,
            assigned_cell_col="cell",
            csim_col="csim",
        ).select(F.col("id_drop").alias(self.id_col))
        all_drops = (
            batch_drops
            if corpus_drops is None
            else corpus_drops.unionByName(batch_drops)
        ).distinct()
        if self.quantize == "int8":
            # codes precomputed inside the assignment kernel's Arrow pass
            # (bit-equal to the _q8_col expression; pinned by pytest)
            stored = F.col("__q8").alias("embedding")
        else:
            stored = F.col(self.vec_col).cast("array<float>").alias("embedding")
        # ONE eager checkpoint decides the whole batch (r14 — was two:
        # drops then new_vecs, a Spark job each): it CUTS the state-file
        # lineage before the append a commit would invalidate AND
        # materializes the kept rows before the persist is released; the
        # drop-id set and the pending vectors are both slices of it
        decided = (
            eligible.join(
                all_drops.withColumn("__drop", F.lit(True)),
                on=self.id_col,
                how="left",
            )
            .select(
                F.col(self.id_col).cast("long").alias("owner"),
                stored,
                "cell",
                "__drop",
            )
            .localCheckpoint(eager=True)
        )
        eligible.unpersist()
        new_vecs = decided.filter(F.col("__drop").isNull()).select(
            "owner", "embedding", "cell"
        )
        drop_ids = decided.filter(F.col("__drop")).select(
            F.col("owner").cast(id_type).alias(self.id_col)
        )
        pending = PendingState(
            [(new_vecs, "cell", os.path.join(self.state_dir, "vectors"))]
        )
        survivors = batch_df.join(drop_ids, on=self.id_col, how="left_anti")
        return survivors, pending

    def commit(self, pending: PendingState) -> None:
        """Phase 2: record the prepared vectors. Idempotent per token."""
        pending._commit()

    def filter_batch(self, batch_df: DataFrame) -> DataFrame:
        """prepare + immediate commit — direct batch use (same caveat as
        :meth:`CorpusDedup.filter_batch`: inside ``foreachBatch`` prefer
        :meth:`attach`)."""
        survivors, pending = self.prepare_batch(batch_df)
        self.commit(pending)
        return survivors

    def compact(self) -> None:
        """Fold per-batch appended files and drop replay double-records —
        the same bounded small-files discipline as the siblings. The fold
        key is the FULL row: a legitimately re-kept id (same page, updated
        embedding below the threshold) owns several distinct vectors, and
        each must survive — only byte-identical replay double-records
        collapse."""
        s = self._vectors()
        if s is None:
            return
        _overwrite_partitions(
            s.dropDuplicates(),
            "cell",
            os.path.join(self.state_dir, "vectors"),
        )

    def attach(self, stream_df: DataFrame, sink, **start_kwargs):
        """Drive from Structured Streaming — same contract as
        :meth:`CorpusDedup.attach` (:func:`_attach_foreach`)."""
        return _attach_foreach(self, stream_df, sink, **start_kwargs)

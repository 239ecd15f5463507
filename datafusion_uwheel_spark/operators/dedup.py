"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

North-star extensions beyond the reference's surface (BASELINE.json;
SURVEY.md §2.2 note). All implementations are declarative DataFrame
pipelines over built-in JVM expressions — no Python UDFs anywhere — so
Catalyst/Tungsten keep the row path codegen'd, and every step is an exact
SQL expression the DuckDB oracle can reproduce.

Scale design (100 TB):

* **Exact dedup** — hash + ``groupBy``: one shuffle on the digest, map-side
  partial aggregation; the canonical distributed dedup.
* **Jaccard pairs** — inverted-index join (explode shingles → join on
  shingle → count intersections), the sparse-similarity pattern: cost is
  Σ posting-list², not n². Hot shingles are the skew risk — AQE skew-join
  handles moderate skew; stopword-shingle filtering is the content-level fix.
* **MinHash + LSH** — fixed-size signatures (k hashes) per doc, banding into
  (band, key) buckets, candidate pairs only within buckets: the linear-time
  near-dup path. Signature build is a per-row projection; the only shuffle
  is the bucket self-join.
* **SimHash** — one 32-bit fingerprint per doc; near-dups share band bytes.

Hashing is the portable rolling hash (:func:`..operators.text.fingerprint_col`
arithmetic), not ``xxhash64``/``md5``-dependent, so Spark and DuckDB produce
identical signatures.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import ROLLING_HASH_MOD, tokens_col

__all__ = [
    "MINHASH_NUM_PERM",
    "MINHASH_BANDS",
    "minhash_params",
    "exact_dup_groups",
    "dedup_exact",
    "shingle_hashes_col",
    "jaccard_pairs",
    "with_minhash_signature",
    "band_rows",
    "lsh_candidate_pairs",
    "lsh_join",
    "release_signatures",
    "with_simhash",
    "simhash_udf",
]

MINHASH_NUM_PERM = 32
MINHASH_BANDS = 8  # → 4 rows per band


def minhash_params(k: int = MINHASH_NUM_PERM, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic universal-hash parameters ``(a_i, b_i)`` for
    ``h_i(x) = (a_i·x + b_i) mod (2^31-1)``. Seeded so signatures are
    reproducible across runs and engines."""
    rng = random.Random(seed)
    a = [rng.randrange(1, ROLLING_HASH_MOD) for _ in range(k)]
    b = [rng.randrange(0, ROLLING_HASH_MOD) for _ in range(k)]
    return a, b


# ------------------------------------------------------------------ exact
def exact_dup_groups(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group rows by content digest: ``(digest, n_docs, keeper_id)``.

    ``md5`` of the raw text — hex-identical in Spark and DuckDB. One shuffle
    on the digest; partial counts are combined map-side.
    """
    return (
        df.select(F.md5(F.col(text)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_id"))
    )


def dedup_exact(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact content duplicate group.

    Implemented as groups → semi-join back (two shuffles on digest/id), not
    a global window — a window over the whole table would single-partition
    nothing but still sort; this shape lets AQE pick broadcast when the
    keeper set is small.
    """
    keepers = exact_dup_groups(df, text, id_col).select(
        F.col("keeper_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="semi")


# --------------------------------------------------------------- shingles
def shingle_hashes_col(text: str | Column = "text", n: int = 3) -> Column:
    """Distinct hashed word-``n``-gram shingles of a text column.

    ``tokens → n-grams (join by space) → rolling-hash → distinct``, all as
    nested lambda expressions (codegen'd). The rolling hash matches
    :func:`..operators.text.fingerprint_col` so oracles can reproduce it.
    """
    toks = tokens_col(text)
    # Guard short docs: Spark's sequence(1, 0) yields a *descending* [1, 0],
    # and slice(_, 0, n) throws — fewer-than-n tokens must mean no shingles.
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    ngrams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    hashes = F.transform(
        ngrams,
        lambda s: F.aggregate(
            F.split(s, ""),
            F.lit(0).cast("long"),
            lambda acc, ch: (acc * 31 + F.ascii(ch)) % ROLLING_HASH_MOD,
        ),
    )
    return F.array_distinct(hashes)


def jaccard_pairs(
    df: DataFrame,
    threshold: float,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_doc_frac: float | None = 0.05,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ ``threshold``.

    Inverted-index shape: explode shingles, self-join on the shingle hash
    (only docs sharing ≥1 shingle ever pair), count shared shingles, then
    ``J = |∩| / (|A| + |B| − |∩|)``. Returns ``(id_a, id_b, jaccard)`` with
    ``id_a < id_b``. Integer counts → the division is exact-reproducible.

    ``max_doc_frac`` (skew valve, **on by default**): shingles occurring in
    more than this fraction of documents are dropped before pairing. A
    near-universal shingle (boilerplate / template n-grams) makes its
    posting-list self-join quadratic AND lands it on a single shuffle
    partition — the classic 100 TB skew-killer. Similarity is then Jaccard
    over the *filtered* shingle sets (sizes recomputed accordingly, so the
    math stays internally consistent); a corpus of near-identical documents
    yields no pairs here by design — catching those is exact dedup's job.
    Pass ``None`` for unfiltered semantics.

    The cap is ``max(5, trunc(count(*) of the input × max_doc_frac))``,
    computed *inside the plan* (a broadcast scalar cross-joined onto the
    posting counts) — no driver-side action at plan-construction time, and
    the count is a cheap no-column parquet scan instead of a second pass
    through the shingle kernel.
    """
    parts = df.sparkSession.sparkContext.defaultParallelism
    # First repartition spreads a single-file source before the expensive
    # shingle kernel; the second materializes the arrays at a shuffle
    # boundary so the two sides of the self-join below reuse the exchange
    # instead of re-hashing every document twice.
    sh = (
        df.repartition(parts)
        .select(F.col(id_col).alias("__id"), shingle_hashes_udf(text, n).alias("__sh"))
        .filter(F.size("__sh") > 0)
        .repartition(parts)
    )
    sizes = sh.select("__id", F.size("__sh").alias("__n"))
    posting = sh.select("__id", F.explode("__sh").alias("__h"))
    if max_doc_frac is not None:
        # Skew valve for the self-join: a shingle occurring in a large
        # fraction of documents creates a posting list whose self-join is
        # quadratic AND lands on one shuffle partition. Dropping
        # near-universal shingles (boilerplate/stopword n-grams) bounds the
        # hot key. NOTE: similarity becomes Jaccard over the *filtered*
        # shingle sets — sizes are recomputed accordingly, so the math stays
        # internally consistent.
        # Floor of 5: a shingle shared by a handful of docs is never
        # "universal" — without it, small corpora (cap = trunc(n·frac) = 0)
        # would drop every shingle. Cap over the RAW doc count (includes
        # sub-n-token docs, which have no shingles) — marginally looser than
        # counting shingled docs, and it keeps the count off the kernel path.
        cap_df = df.agg(
            F.greatest(
                F.lit(5).cast("long"),
                F.floor(F.count(F.lit(1)) * F.lit(float(max_doc_frac))).cast("long"),
            ).alias("__cap")
        )
        hot = (
            posting.groupBy("__h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .crossJoin(F.broadcast(cap_df))
            .filter(F.col("__df") > F.col("__cap"))
            .select("__h")
        )
        posting = posting.join(F.broadcast(hot), on="__h", how="anti")
        sizes = posting.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    a = posting.select(F.col("__id").alias("id_a"), "__h")
    b = posting.select(F.col("__id").alias("id_b"), "__h")
    inter = (
        a.join(b, on="__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    nb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------ vectorized shingle path
def _shingle_sets(texts, n: int):
    """Worker-side kernel: text → distinct shingle-hash int64 arrays.

    Bit-identical to :func:`shingle_hashes_col`: same ``\\s+`` tokenization
    of the trimmed text, same space-joined n-grams, same
    ``h = (h*31 + codepoint) % p`` fold (``ord(c)`` ≡ ``F.ascii`` on the
    ASCII/BMP text this engine targets). Python-side because Spark's
    higher-order functions are interpreted per-lambda-call — the char fold
    over every shingle measured ~10× slower even than a per-char Python
    kernel.

    Vectorization (measured ~2.5× over the per-char Python loop): each
    token's char Horner hash is computed ONCE via a numpy segmented fold,
    then shingle hashes compose by modular concatenation —
    ``H(a ++ b) = (H(a)·31^len(b) + H(b)) mod p`` — so overlapping shingles
    never re-hash their shared characters. Exact int64 throughout
    (operands < 2^31 ⇒ products < 2^62).
    """
    import re

    import numpy as np

    p = ROLLING_HASH_MOD
    ws = re.compile(r"\s+")
    out = []
    for t in texts:
        t = (t or "").strip()
        toks = ws.split(t) if t else []
        m = len(toks)
        if m < n:
            out.append(np.empty(0, dtype=np.int64))
            continue
        lens = np.fromiter((len(tok) for tok in toks), dtype=np.int64, count=m)
        maxlen = int(lens.max())
        # (tokens × maxlen) codepoint matrix, filled from one flat decode.
        codes = np.frombuffer("".join(toks).encode("utf-32-le"), dtype=np.uint32)
        arr = np.zeros((m, maxlen), dtype=np.int64)
        rows = np.repeat(np.arange(m), lens)
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        cols = np.arange(lens.sum()) - np.repeat(starts, lens)
        arr[rows, cols] = codes
        # Segmented Horner over char positions (maxlen vectorized steps).
        h = np.zeros(m, dtype=np.int64)
        for j in range(maxlen):
            active = lens > j
            h[active] = (h[active] * 31 + arr[active, j]) % p
        # 31^len mod p lookup for concatenation.
        pow31 = np.empty(maxlen + 2, dtype=np.int64)
        pow31[0] = 1
        for j in range(1, maxlen + 2):
            pow31[j] = (pow31[j - 1] * 31) % p
        # Compose n-token shingles: fold in ' ' (32) then the next token.
        H = h[: m - n + 1].copy()
        for k in range(1, n):
            nxt_h = h[k : m - n + 1 + k]
            nxt_len = lens[k : m - n + 1 + k]
            H = (H * 31 + 32) % p
            H = (H * pow31[nxt_len] + nxt_h) % p
        # distinct, preserving first occurrence (array_distinct semantics)
        _, first = np.unique(H, return_index=True)
        out.append(H[np.sort(first)])
    return out


def shingle_hashes_udf(text: str | Column = "text", n: int = 3) -> Column:
    """Arrow-batched equivalent of :func:`shingle_hashes_col` (same ints)."""
    from pyspark.sql.functions import pandas_udf

    def fn(s):
        return s.__class__(_shingle_sets(s, n))

    c = F.col(text) if isinstance(text, str) else text
    return pandas_udf(fn, "array<bigint>")(c)


# ---------------------------------------------------------------- minhash
def with_minhash_signature(
    df: DataFrame,
    text: str = "text",
    n: int = 3,
    k: int = MINHASH_NUM_PERM,
    seed: int = 42,
    num_partitions: int | None = None,
    use_pandas_udf: bool = True,
) -> DataFrame:
    """Append a ``signature array<long>`` MinHash column.

    ``sig_i = min over shingles x of (a_i·x + b_i) mod p``. Rows with no
    shingles are dropped (no signature is defined).

    ``num_partitions`` (default ``spark.sparkContext.defaultParallelism``)
    repartitions *before* the signature projection: a single-file parquet
    source otherwise arrives as ONE partition and the most expensive per-row
    expression in the engine runs on one core.

    ``use_pandas_udf=True`` computes the k permutations with an
    Arrow-batched numpy kernel (exact same int64 arithmetic): Spark's
    higher-order functions are interpreted (no codegen), and k nested
    lambdas per row measured ~6× slower than the vectorized kernel. The
    expression path is kept for environments without Arrow."""
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    a_params, b_params = minhash_params(k, seed)
    a_arr = F.array(*[F.lit(x).cast("long") for x in a_params])
    b_arr = F.array(*[F.lit(x).cast("long") for x in b_params])
    # Two shuffle boundaries, both deliberate: the first spreads a
    # possibly-single-file source across cores *before* the shingle
    # projection; the second materializes the shingle arrays as data so the
    # k per-permutation lambdas below reference a computed column instead of
    # re-evaluating the text→shingles expression k times (higher-order
    # functions are interpreted, not codegen'd — no common-subexpression
    # elimination across them; measured ~4× on sf0.1).
    if use_pandas_udf:
        import numpy as np
        from pyspark.sql.functions import pandas_udf

        a_np = np.asarray(a_params, dtype=np.int64)[:, None]
        b_np = np.asarray(b_params, dtype=np.int64)[:, None]

        # One fused Arrow-batched kernel: text → shingles → k permutation
        # minima, no intermediate shingle arrays ever shuffled. Exact int64:
        # a < 2^31, x < 2^31 ⇒ a·x + b < 2^63 — identical integers to the
        # expression path / SQL oracle. (No type hints: `from __future__
        # import annotations` stringifies them and PySpark can't resolve
        # locals; hint-free defaults to the scalar Series→Series type.)
        def _sig_fn(texts):
            sets = _shingle_sets(texts, n)
            return texts.__class__(
                [
                    ((a_np * s[None, :] + b_np) % ROLLING_HASH_MOD).min(axis=1)
                    if s.size
                    else None
                    for s in sets
                ]
            )

        _sig = pandas_udf(_sig_fn, "array<bigint>")
        tcol = F.col(text) if isinstance(text, str) else text
        return (
            df.repartition(parts)
            .withColumn("signature", _sig(tcol))
            .filter(F.col("signature").isNotNull())
        )

    out = (
        df.repartition(parts)
        .withColumn("__sh", shingle_hashes_col(text, n))
        .filter(F.size("__sh") > 0)
        .repartition(parts)
    )
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.array_min(
            F.transform(
                F.col("__sh"),
                lambda x: (F.element_at(a_arr, i + 1) * x + F.element_at(b_arr, i + 1))
                % ROLLING_HASH_MOD,
            )
        ),
    )
    return out.withColumn("signature", sig).drop("__sh")


def band_rows(
    df_with_sig: DataFrame,
    id_col: str = "doc_id",
    k: int = MINHASH_NUM_PERM,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Explode a signature frame into its LSH band keys:
    ``(__id, signature, __band, __key)`` — one row per (doc, band), the
    ``key`` being the band's signature slice joined as a string. Shared by
    the batch self-join (:func:`lsh_candidate_pairs`) and the streaming
    corpus state (:class:`.stream_dedup.NearCorpusDedup`), so both sides
    of an ingest-time match compute identical keys by construction."""
    r = k // bands
    return df_with_sig.select(
        F.col(id_col).alias("__id"),
        F.col("signature"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.struct(
                    bnd.alias("band"),
                    F.concat_ws(
                        "-", F.transform(F.slice(F.col("signature"), bnd * r + 1, r), lambda v: v.cast("string"))
                    ).alias("key"),
                ),
            )
        ).alias("__b"),
    ).select("__id", "signature", F.col("__b.band").alias("__band"), F.col("__b.key").alias("__key"))


def lsh_candidate_pairs(
    df_with_sig: DataFrame,
    id_col: str = "doc_id",
    k: int = MINHASH_NUM_PERM,
    bands: int = MINHASH_BANDS,
    min_est_jaccard: float | None = None,
    max_bucket_size: int | None = 1000,
    log_dropped: bool = False,
) -> DataFrame:
    """LSH banding over MinHash signatures → candidate near-dup pairs.

    Signatures are cut into ``bands`` bands of ``k/bands`` rows; docs
    agreeing on *all* rows of any band land in the same bucket and pair up.
    Output: ``(id_a, id_b, est_jaccard)`` where ``est_jaccard`` is the
    fraction of agreeing signature components (the unbiased MinHash
    estimator). The only shuffle is the bucket self-join; bucket keys are
    the banded signature slices themselves.

    ``max_bucket_size`` (skew valve, **on by default**): a degenerate band
    key — thousands of boilerplate-identical docs sharing one bucket — makes
    the self-join quadratic in that bucket on a single shuffle partition.
    Buckets larger than the cap are dropped before pairing (a bounded,
    documented recall loss: members of an over-cap bucket can still pair
    through their other ``bands − 1`` buckets — the first-band claim knows
    which buckets were dropped, so such pairs survive; truly identical
    docs are exact dedup's job). With a cap set, the hot-bucket census
    runs EAGERLY at call time (one small job, which also warms the
    signature cache); ``log_dropped=True`` logs what it removed. ``None``
    disables the cap and keeps construction fully lazy.

    The signature column is **persisted** before the self-join: Catalyst
    inlines projection chains, so without materialization the full
    text→shingles→signature expression tree would be recomputed once per
    band per join side (measured: no-persist is ~1.3× slower cold and ~3×
    slower on repeat calls, which reuse the cache entry). MEMORY_AND_DISK
    keeps the 100 TB path safe — signatures are k longs/doc, orders of
    magnitude smaller than the text. Lifecycle: repeated calls on the same
    input reuse ONE cache entry (Spark's CacheManager keys on the
    canonicalized plan), so blocks never accumulate for a given input;
    call :func:`release_signatures` on the returned frame after the final
    action to free them deterministically.
    """
    from pyspark import StorageLevel

    r = k // bands
    df_with_sig = df_with_sig.persist(StorageLevel.MEMORY_AND_DISK)
    bandrows = band_rows(df_with_sig, id_col, k=k, bands=bands)
    bandrows, hot_pairs, use_claim = _apply_bucket_cap(
        bandrows, max_bucket_size, log_dropped, "lsh_candidate_pairs"
    )
    a = bandrows.select(
        F.col("__id").alias("id_a"), F.col("signature").alias("__sig_a"), "__band", "__key"
    )
    b = bandrows.select(
        F.col("__id").alias("id_b"), F.col("signature").alias("__sig_b"), "__band", "__key"
    )
    joined = a.join(b, on=["__band", "__key"]).filter(F.col("id_a") < F.col("id_b"))
    if use_claim:
        pairs = joined.filter(
            _first_band_claim(r, bands, hot_pairs)
        ).select("id_a", "id_b", "__sig_a", "__sig_b")
    else:  # degenerate hot-bucket census: fall back to the explicit dedup
        pairs = joined.select(
            "id_a", "id_b", "__sig_a", "__sig_b"
        ).dropDuplicates(["id_a", "id_b"])
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("__sig_a"), F.col("__sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(k))
    )
    out = pairs.withColumn("est_jaccard", est).select("id_a", "id_b", "est_jaccard")
    if min_est_jaccard is not None:
        out = out.filter(F.col("est_jaccard") >= min_est_jaccard)
    # Deterministic-release hook (see release_signatures): the persisted
    # signature frame rides along on the result object.
    out._uw_persisted_signatures = df_with_sig
    return out


#: above this many over-cap buckets the literal hot-key claim would bloat
#: the plan — the pairing falls back to an explicit dropDuplicates instead
#: (correct, heavier shuffle; a corpus with 20k+ degenerate buckets has a
#: boilerplate problem the caller should fix upstream).
_HOT_CLAIM_LITERAL_CAP = 20_000


def _apply_bucket_cap(bandrows, max_bucket_size, log_dropped, opname):
    """Enforce the skew valve and surface what it dropped.

    Returns ``(filtered_rows, hot (band, key) list, use_claim)``. The hot
    set is collected EAGERLY (one small job at operator-construction time,
    which also warms the persisted signature cache): the first-band
    exactly-once claim must know which earlier buckets were dropped — a
    pair whose earlier agreeing band sat in an over-cap bucket was never
    produced there, so the claim may not disqualify it (r11 review: the
    blind slices-differ claim silently LOST such pairs, diverging from
    the SQL oracles and from the documented 'members of an over-cap
    bucket still pair through their other bands' recall promise)."""
    if max_bucket_size is None:
        return bandrows, [], True
    hot = (
        bandrows.groupBy("__band", "__key")
        .agg(F.count(F.lit(1)).alias("__bc"))
        .filter(F.col("__bc") > max_bucket_size)
        .select("__band", "__key")
    )
    hot_rows = hot.collect()
    if log_dropped and hot_rows:
        import sys

        print(
            f"{opname}: dropped {len(hot_rows)} bucket(s) over "
            f"max_bucket_size={max_bucket_size}",
            file=sys.stderr,
        )
    if not hot_rows:
        return bandrows, [], True
    filtered = bandrows.join(
        F.broadcast(hot), on=["__band", "__key"], how="anti"
    )
    if len(hot_rows) > _HOT_CLAIM_LITERAL_CAP:
        return filtered, [], False
    return filtered, [(r["__band"], r["__key"]) for r in hot_rows], True


def _first_band_claim(r, bands, hot_pairs, sig_a="__sig_a", sig_b="__sig_b"):
    """Exactly-once pair claim (same trick as the ANN index's stored-bucket
    self-join): a pair agreeing in several bands is kept only in the FIRST
    band where it was actually PRODUCED — earlier bands must either have
    differing signature slices, or have sat in an over-cap bucket (equal
    slices ⇒ same key ⇒ the hot drop removed both/either side's row there,
    so no pair was emitted). Replaces a dropDuplicates over the whole
    candidate set, whose shuffle is the largest in this operator at scale
    (candidates >> documents); the per-pair check folds over at most
    ``bands − 1`` small slices plus a literal hot-key membership probe."""
    hotarr = None
    if hot_pairs:
        by_band: dict[int, list[str]] = {}
        for bnd, key in hot_pairs:
            by_band.setdefault(bnd, []).append(key)
        hotarr = F.array(
            *[
                F.array(*[F.lit(x) for x in by_band[bnd]])
                if by_band.get(bnd)
                else F.array().cast("array<string>")
                for bnd in range(bands)
            ]
        )

    def earlier_not_produced(j):
        differ = F.slice(F.col(sig_a), j * r + 1, r) != F.slice(
            F.col(sig_b), j * r + 1, r
        )
        if hotarr is None:
            return differ
        key = F.concat_ws(
            "-",
            F.transform(
                F.slice(F.col(sig_a), j * r + 1, r), lambda v: v.cast("string")
            ),
        )
        return differ | F.coalesce(
            F.array_contains(F.element_at(hotarr, (j + 1).cast("int")), key),
            F.lit(False),
        )

    return F.when(
        F.col("__band") > 0,
        F.forall(F.sequence(F.lit(0), F.col("__band") - 1), earlier_not_produced),
    ).otherwise(F.lit(True))


def lsh_join(
    left_with_sig: DataFrame,
    right_with_sig: DataFrame,
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    k: int = MINHASH_NUM_PERM,
    bands: int = MINHASH_BANDS,
    min_est_jaccard: float | None = None,
    max_bucket_size: int | None = 1000,
    broadcast_right: bool = False,
) -> DataFrame:
    """Cross-table LSH near-duplicate join: ``(id_left, id_right,
    est_jaccard)`` for document pairs ACROSS two signature frames (both
    from :func:`with_minhash_signature` with the SAME n/k/seed — band keys
    only collide when the hash family matches) that agree on all rows of
    at least one band. The cross-corpus sibling of
    :func:`lsh_candidate_pairs`: snapshot diffing, train-vs-eval fuzzy
    decontamination, aligning a re-crawl against an existing corpus.

    Same machinery, same guarantees: the only shuffle is the band-bucket
    equi-join; the exactly-once claim keeps a multi-band pair in its
    FIRST agreeing band (no distinct over the candidate set); the
    ``max_bucket_size`` valve drops over-cap buckets PER SIDE (the hot
    bucket's join cost is |left bucket| x |right bucket|). Both inputs are
    persisted (signatures are k longs/doc); call
    :func:`release_signatures` on the result after the final action.

    ``broadcast_right`` (r15, guide §3.1): hint the RIGHT side's banded
    frame into a broadcast hash join. When the right corpus is bounded by
    contract — a held-out eval suite against a 100 TB training corpus —
    this removes the band-key exchange of BOTH sides (the big side is
    never shuffled at all; the only remaining exchange is the caller's
    aggregation over qualifying pairs). Catalyst cannot pick this itself:
    the banded frame sits above an Arrow kernel, so its size estimate is
    garbage. Same rows either way — the hint only changes join strategy."""
    from pyspark import StorageLevel

    r = k // bands
    if k % bands:
        raise ValueError(f"bands ({bands}) must divide k ({k})")
    left_with_sig = left_with_sig.persist(StorageLevel.MEMORY_AND_DISK)
    right_with_sig = right_with_sig.persist(StorageLevel.MEMORY_AND_DISK)

    lrows = band_rows(left_with_sig, left_id, k=k, bands=bands)
    rrows = band_rows(right_with_sig, right_id, k=k, bands=bands)
    # ONE census job for BOTH sides (r15, guide §1.2/§2.6): the hot-bucket
    # census is an eager driver decision, and running it per side paid two
    # job launches (each forcing its side's signature computation). A
    # side-tagged union counts both sides' buckets in one job — identical
    # hot sets per side, and both signature persists warm in the same
    # pass. Sides that trip the cap are filtered with a LITERAL hot-key
    # frame (the collected rows), so downstream actions never re-execute
    # the census aggregation inside a broadcast build.
    lhot: list = []
    rhot: list = []
    luse = ruse = True
    if max_bucket_size is not None:
        spark = left_with_sig.sparkSession
        census = (
            lrows.select(F.lit("l").alias("__side"), "__band", "__key")
            .unionByName(
                rrows.select(F.lit("r").alias("__side"), "__band", "__key")
            )
            .groupBy("__side", "__band", "__key")
            .agg(F.count(F.lit(1)).alias("__bc"))
            .filter(F.col("__bc") > max_bucket_size)
            .select("__side", "__band", "__key")
            .collect()
        )
        lhot = [(r["__band"], r["__key"]) for r in census if r["__side"] == "l"]
        rhot = [(r["__band"], r["__key"]) for r in census if r["__side"] == "r"]

        def _filtered(rows, hot):
            if not hot:
                return rows, True
            # the probe's schema IS the band rows' own (no join-side casts)
            hot_df = spark.createDataFrame(hot, rows.select("__band", "__key").schema)
            out = rows.join(
                F.broadcast(hot_df), on=["__band", "__key"], how="anti"
            )
            return out, len(hot) <= _HOT_CLAIM_LITERAL_CAP

        lrows, luse = _filtered(lrows, lhot)
        rrows, ruse = _filtered(rrows, rhot)
        if not luse:
            lhot = []
        if not ruse:
            rhot = []
    # a pair is produced at band j only when NEITHER side's row was hot
    # there, so the claim probes the UNION of the two sides' hot keys
    # (equal slices ⇒ same key ⇒ either side's drop suppressed the pair)
    hot_pairs = sorted(set(lhot) | set(rhot))
    use_claim = luse and ruse and len(hot_pairs) <= _HOT_CLAIM_LITERAL_CAP
    a = lrows.select(
        F.col("__id").alias("id_left"),
        F.col("signature").alias("__sig_a"),
        "__band",
        "__key",
    )
    b = rrows.select(
        F.col("__id").alias("id_right"),
        F.col("signature").alias("__sig_b"),
        "__band",
        "__key",
    )
    joined = a.join(
        F.broadcast(b) if broadcast_right else b, on=["__band", "__key"]
    )
    if use_claim:
        pairs = joined.filter(
            _first_band_claim(r, bands, hot_pairs)
        ).select("id_left", "id_right", "__sig_a", "__sig_b")
    else:
        pairs = joined.select(
            "id_left", "id_right", "__sig_a", "__sig_b"
        ).dropDuplicates(["id_left", "id_right"])
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("__sig_a"), F.col("__sig_b"), lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.lit(float(k))
    )
    out = pairs.withColumn("est_jaccard", est).select(
        "id_left", "id_right", "est_jaccard"
    )
    if min_est_jaccard is not None:
        out = out.filter(F.col("est_jaccard") >= min_est_jaccard)
    out._uw_persisted_signatures = (left_with_sig, right_with_sig)
    return out


def release_signatures(pairs_df: DataFrame) -> bool:
    """Unpersist the signature frame(s) cached by
    :func:`lsh_candidate_pairs` / :func:`lsh_join`.

    Call after the final action on the returned pairs frame (long-lived
    sessions / benchmarks); returns whether anything was released. Safe to
    call more than once. Without this, the blocks are still bounded — one
    cache entry per distinct input plan — but they live until session end."""
    sig = getattr(pairs_df, "_uw_persisted_signatures", None)
    if sig is None:
        return False
    for frame in sig if isinstance(sig, tuple) else (sig,):
        frame.unpersist()
    pairs_df._uw_persisted_signatures = None
    return True


# ---------------------------------------------------------------- simhash
def _simhash_batch(texts, bits: int):
    """Worker-side kernel: text → ``bits``-wide SimHash fingerprints.

    Bit-identical to the expression path in :func:`with_simhash`: same
    ``\\s+`` tokenization, same per-token rolling hash (via
    :func:`_shingle_sets` with ``n=1`` — a 1-gram shingle IS the token
    hash), same distinct-then-majority-vote. Vectorized: one (hashes × bits)
    bit matrix per doc, votes = ``2·popcount − n`` per bit position."""
    import numpy as np

    shifts = np.arange(bits, dtype=np.int64)
    weights = (np.int64(1) << shifts)
    out = np.empty(len(texts), dtype=np.int64)
    for i, hashes in enumerate(_shingle_sets(texts, 1)):
        if hashes.size == 0:
            out[i] = 0
            continue
        bitmat = (hashes[:, None] >> shifts[None, :]) & 1
        votes = 2 * bitmat.sum(axis=0) - hashes.size
        out[i] = int((weights * (votes > 0)).sum())
    return out


def simhash_udf(text: str | Column = "text", bits: int = 32) -> Column:
    """Arrow-batched equivalent of the :func:`with_simhash` expression path
    (same integers). Spark's higher-order functions are interpreted per
    lambda call; the bits×tokens vote loop measured ~50× slower than this
    numpy kernel at sf0.01."""
    from pyspark.sql.functions import pandas_udf

    def fn(s):
        import pandas as pd

        return pd.Series(_simhash_batch(s, bits))

    c = F.col(text) if isinstance(text, str) else text
    return pandas_udf(fn, "long")(c)


def with_simhash(
    df: DataFrame, text: str = "text", bits: int = 32, use_pandas_udf: bool = True
) -> DataFrame:
    """Append a ``simhash`` column: ``bits``-wide bit-majority fingerprint
    over distinct token hashes.

    For each bit position, sum +1/−1 over token hashes having/lacking the
    bit; the fingerprint sets bits with positive sums. Near-duplicate texts
    (mostly-shared token sets) agree on most bits.

    ``use_pandas_udf=True`` (default) computes the fingerprint with an
    Arrow-batched numpy kernel (:func:`simhash_udf`, exact same int64
    arithmetic); the pure-expression path is kept for environments without
    Arrow and as the semantics spec the oracle mirrors. The expression path
    is a pure per-row projection (no shuffle). The kernel path is also a
    projection, except when the input has fewer partitions than
    ``defaultParallelism`` — then it repartitions first so the Arrow
    batches spread across cores (a small input read as one parquet split
    would otherwise serialize the whole kernel on one task); callers who
    need the input partitioning preserved should pre-partition."""
    if use_pandas_udf:
        parts = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < parts:
            df = df.repartition(parts)
        return df.withColumn("simhash", simhash_udf(text, bits))
    toks = tokens_col(text)
    tok_hashes = F.array_distinct(
        F.transform(
            toks,
            lambda t: F.aggregate(
                F.split(t, ""),
                F.lit(0).cast("long"),
                lambda acc, ch: (acc * 31 + F.ascii(ch)) % ROLLING_HASH_MOD,
            ),
        )
    )
    def pow2(b: Column) -> Column:
        # 2^b as exact long (b ≤ 31, values < 2^53 → double math is exact);
        # shiftleft/shiftright can't take a Column shift amount.
        return F.pow(F.lit(2.0), b.cast("double")).cast("long")

    def bit_vote(b: Column) -> Column:
        # Closure factory (not a default-arg lambda, which PySpark would
        # misread as a 3-parameter aggregate merge function).
        return F.aggregate(
            tok_hashes,
            F.lit(0).cast("long"),
            lambda s, h: s
            + F.when((F.floor(h / pow2(b)) % 2) == 1, F.lit(1)).otherwise(F.lit(-1)),
        )

    sim = F.aggregate(
        F.sequence(F.lit(0), F.lit(bits - 1)),
        F.lit(0).cast("long"),
        lambda acc, b: acc
        + F.when(bit_vote(b) > 0, pow2(b)).otherwise(F.lit(0).cast("long")),
    )
    return df.withColumn("simhash", sim)


def _pinned_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint(eager=True)`` that actually pins the partitioning.

    Under AQE (r15 find, pinned by ``tests/test_dup_clusters.py``), the
    checkpoint's ``LogicalRDD`` is captured from an
    ``AdaptiveSparkPlanExec`` whose output partitioning is not yet final —
    it lands as unknown, so every downstream consumer keyed on the
    checkpoint's layout re-shuffles it (the dup_clusters loop paid a full
    edge-list exchange per round while documenting the opposite).
    Disabling AQE for just the checkpoint capture makes the
    ``LogicalRDD`` carry the real hash partitioning; downstream queries
    (still AQE-planned) then satisfy their clustering requirements
    exchange-free."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        # fresh Dataset: a query execution materialized BEFORE this window
        # (e.g. by an explain) would still be adaptive — select("*") forces
        # a new plan that reads the conf now
        return df.select("*").localCheckpoint(eager=True)
    finally:
        spark.conf.set(key, prev)


def _symmetric_edges(pairs: DataFrame, left: str, right: str) -> DataFrame:
    """The deduplicated symmetric edge list of a pair frame, partitioned by
    ``dst`` — the pre-checkpoint input of :func:`dup_clusters`.

    Two r15 shuffle/pass removals (guide §2.4), pinned by
    ``tests/test_dup_clusters.py``:

    - Symmetrize with ONE pass over the pair plan: the earlier union
      spelling put the whole upstream pairs subplan (the LSH band-join,
      the most expensive input here) into BOTH arms — Catalyst shares no
      subplans across union arms, so it executed twice per action.
      ``explode()`` emits both directions from a single execution.
    - ONE exchange for dedup + layout: hash-partition by the loop's join
      key FIRST, then drop duplicates — hashpartitioning on ``dst``
      co-locates equal (src, dst) rows, so Catalyst satisfies the
      (src, dst) aggregate's clustering requirement without a second
      exchange. The previous ``distinct().repartition("dst")`` shuffled
      the full edge list twice (once by (src, dst), once by dst).
    """
    edges = pairs.select(
        F.col(left).alias("src"), F.col(right).alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    edges = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src"), F.col("dst")),
                F.struct(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst")
    return edges.repartition("dst").dropDuplicates()


def dup_clusters(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs → ``(id, cluster_id)``,
    where ``cluster_id`` is the smallest id in the component — the step
    that turns pairwise similarity (``jaccard_pairs`` /
    ``lsh_candidate_pairs`` / ANN ``dup_pairs``) into dedup GROUPS:
    near-duplication is transitive in practice (A≈B≈C must keep ONE doc,
    even when (A, C) was never emitted as a pair).

    Distributed min-label propagation with an ACTIVE-SET frontier: every
    vertex starts labelled with itself; each round, only vertices whose
    label CHANGED last round can lower a neighbour (an unchanged vertex
    already offered its label), so the per-round join runs edges against
    the shrinking frontier instead of all labels. Converges in
    O(component diameter) rounds — near-dup clusters are shallow (a hub
    document pulls its copies within a hop or two), so the loop is short;
    ``max_iter`` guards pathological chains and raises rather than
    returning a partial clustering. Each round ``localCheckpoint``\\ s the
    labels, cutting the lineage that otherwise grows linearly and
    re-executes every prior join per action — the standard iterative-Spark
    discipline. The per-round convergence check rides the SAME
    materialization that builds the checkpoint (no extra scan).

    Scale: edges are hash-partitioned on ``dst`` ONCE (the checkpoint
    pins the partitioning, so every round's frontier join reuses it
    without re-shuffling the edge list), and labels stay partitioned on
    ``id`` the same way; the per-round shuffle is bounded by the frontier
    — which collapses geometrically once hubs settle — not by the full
    edge list. Vertices are only the ids that appear in ≥1 pair
    (singletons need no cluster).
    """
    edges = _pinned_checkpoint(_symmetric_edges(pairs, left, right))
    # Round 1 collapsed into ONE aggregation (r14, guide §2.4): with every
    # vertex initially labelled by itself, the first propagation is just
    # min(own id, min neighbour id) per vertex — no label frame to join
    # yet. This replaces the label-init distinct AND the first
    # join+groupBy round (two shuffles, one checkpoint) with a single
    # groupBy over the edge list; the resulting labels/frontier state is
    # exactly what the general round produces from self-labels.
    # Grouped by ``dst`` (r15, §2.4): the edge list is SYMMETRIC by
    # construction, so min-over-neighbours per vertex reads identically
    # from either endpoint — and the checkpoint is already partitioned by
    # dst, so this grouping needs NO exchange (and its output labels land
    # partitioned by id = dst, exactly what the per-round frontier joins
    # below want). groupBy("src") paid a full-edge-list shuffle here.
    round1 = _pinned_checkpoint(
        edges.groupBy("dst")
        .agg(F.min("src").alias("__nbr"))
        .select(
            F.col("dst").alias("id"),
            F.least(F.col("dst"), F.col("__nbr")).alias("cluster_id"),
            (F.col("__nbr") < F.col("dst")).alias("__changed"),
        )
    )
    frontier = round1.filter("__changed").drop("__changed")
    labels = round1.drop("__changed")
    for _ in range(max_iter - 1):
        if frontier.limit(1).count() == 0:
            return labels
        nbr_min = (
            edges.join(frontier, edges["dst"] == frontier["id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("__nbr"))
        )
        updated = _pinned_checkpoint(
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                "id",
                F.least(F.col("cluster_id"), F.coalesce("__nbr", "cluster_id")).alias(
                    "cluster_id"
                ),
                (F.col("__nbr") < F.col("cluster_id")).alias("__changed"),
            )
        )
        frontier = updated.filter("__changed").drop("__changed")
        labels = updated.drop("__changed")
    if frontier.limit(1).count() == 0:
        return labels
    raise RuntimeError(
        f"dup_clusters did not converge in {max_iter} rounds — a pair graph "
        "with that diameter is pathological for near-dup data; raise "
        "max_iter explicitly if it is expected"
    )


def dedup_clustered(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    left: str = "id_a",
    right: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Keep ONE document per near-dup cluster (the smallest id — the same
    deterministic keep-lowest rule as :func:`dedup_exact`) and every
    unpaired document. The transitive completion of pair-based dedup:
    dropping ``id_b`` of each pair over-deletes when chains overlap, and
    under-deletes transitive copies; clustering first does neither."""
    members = dup_clusters(pairs, left=left, right=right, max_iter=max_iter)
    losers = members.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")

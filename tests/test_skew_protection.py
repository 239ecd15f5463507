"""Skew valves for pair generation (on by default): a boilerplate-heavy
corpus must not produce a quadratic hot key — near-universal shingles and
over-cap LSH buckets are dropped, while genuine near-dup pairs among
distinctive documents still surface."""

from __future__ import annotations

import pytest

from datafusion_uwheel_spark.operators import dedup

N_CLONES = 400


@pytest.fixture(scope="module")
def boilerplate_df(spark):
    rows = []
    # Near-identical boilerplate clones: every shingle appears in ~400 docs.
    for i in range(N_CLONES):
        rows.append(
            (
                i,
                "terms of service agreement please read carefully all rights "
                f"reserved section {i % 7} subject to change without notice",
            )
        )
    # Two genuinely similar distinctive docs + one unrelated.
    rows.append((9001, "the quick brown fox jumps over the lazy dog tonight"))
    rows.append((9002, "the quick brown fox jumps over the lazy dog today"))
    rows.append((9003, "completely unrelated text about distributed query engines"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_jaccard_default_drops_universal_shingles(boilerplate_df):
    pairs = dedup.jaccard_pairs(boilerplate_df, threshold=0.3).collect()
    ids = {i for p in pairs for i in (p["id_a"], p["id_b"])}
    # no quadratic clone block (would be ~80k pairs); distinctive near-dups found
    assert (9001, 9002) in {(p["id_a"], p["id_b"]) for p in pairs}
    assert len(pairs) < 1000
    assert all(i >= 9000 or False for i in ids if i >= 9000)


def test_jaccard_opt_out_keeps_exact_semantics(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], "doc_id long, text string"
    )
    got = dedup.jaccard_pairs(df, threshold=0.1, max_doc_frac=None).collect()
    assert len(got) == 1
    # 4-grams... n=3: doc1 {abc,bcd,cde,def}, doc2 {abc,bcd,cde,deg} → J=3/5
    assert got[0]["jaccard"] == pytest.approx(3 / 5)


def test_lsh_bucket_cap_drops_degenerate_bucket(boilerplate_df):
    sig = dedup.with_minhash_signature(boilerplate_df)
    pairs = dedup.lsh_candidate_pairs(
        sig, min_est_jaccard=0.3, max_bucket_size=50
    ).collect()
    pairset = {(p["id_a"], p["id_b"]) for p in pairs}
    assert (9001, 9002) in pairset  # distinctive near-dups survive
    # the 400-clone bucket (size >> 50) was dropped — no quadratic block
    assert len(pairs) < 1000


def test_lsh_cap_parity_with_oracle_across_caps(spark, sf_small_dir):
    """r11 regression: the first-band claim must not disqualify a pair
    whose earlier agreeing band sat in an over-cap (dropped) bucket — at
    cap=2 on the real corpus the blind claim silently lost pairs the
    DuckDB oracle (and the documented recall promise) kept."""
    import duckdb

    from datafusion_uwheel_spark.oracles import minhash_lsh_sql

    docs = spark.read.parquet(f"{sf_small_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_small_dir}/documents.parquet'"
    )
    sizes = {}
    for cap in (2, 3, 1000):
        sig = dedup.with_minhash_signature(docs)
        pairs = dedup.lsh_candidate_pairs(
            sig, min_est_jaccard=0.5, max_bucket_size=cap
        )
        got = sorted(
            (r["id_a"], r["id_b"], round(r["est_jaccard"], 9))
            for r in pairs.collect()
        )
        dedup.release_signatures(pairs)
        exp = sorted(
            (a, b, round(e, 9))
            for a, b, e in con.execute(
                minhash_lsh_sql(0.5, max_bucket_size=cap)
            ).fetchall()
        )
        assert got == exp, f"cap={cap}"
        sizes[cap] = len(got)
    # the tight cap actually dropped buckets (the regression's trigger)
    # yet pairs survive through later bands
    assert 0 < sizes[2] < sizes[1000]


def test_lsh_cap_disabled_restores_full_pairing(spark):
    df = spark.createDataFrame(
        [(i, "identical text body for every single document here") for i in range(20)],
        "doc_id long, text string",
    )
    sig = dedup.with_minhash_signature(df)
    capped = dedup.lsh_candidate_pairs(sig, max_bucket_size=5).count()
    full = dedup.lsh_candidate_pairs(sig, max_bucket_size=None).count()
    assert capped == 0
    assert full == 20 * 19 // 2


def test_lsh_bucket_cap_logs_dropped_buckets(spark, caplog):
    """The skew valve reports what it dropped through ``logging`` (one
    WARNING record on the dedup module's logger), not on stderr."""
    df = spark.createDataFrame(
        [(i, "identical text body for every single document here") for i in range(8)],
        "doc_id long, text string",
    )
    sig = dedup.with_minhash_signature(df)
    with caplog.at_level("WARNING", logger=dedup.__name__):
        dedup.lsh_candidate_pairs(sig, max_bucket_size=5)
    recs = [r for r in caplog.records if r.name == dedup.__name__]
    assert len(recs) == 1
    assert recs[0].levelname == "WARNING"
    # every band of 8 identical docs is one over-cap bucket
    assert recs[0].getMessage() == (
        f"lsh_candidate_pairs: dropped {dedup.MINHASH_BANDS} bucket(s) "
        "over max_bucket_size=5"
    )
    caplog.clear()
    with caplog.at_level("WARNING", logger=dedup.__name__):
        dedup.lsh_candidate_pairs(sig, max_bucket_size=None)
        dedup.lsh_candidate_pairs(sig, max_bucket_size=100)
    assert not [r for r in caplog.records if r.name == dedup.__name__]

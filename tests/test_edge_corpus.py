"""Pathological-corpus battery: every text/dedup operator entry point must
survive empty strings, whitespace-only docs, single tokens, unicode, and
very long documents WITHOUT throwing (ANSI mode turns silent index/overflow
sloppiness into runtime errors — the sub-n-token shingle crash fixed in
operators/text.char_ngrams_of_tokens was exactly this class). Outputs are
sanity-checked, not golden-checked; oracle parity lives elsewhere.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators import dedup as dd
from aidc_2018_timeseries_spark.operators import text as tx


@pytest.fixture(scope="module")
def edge_docs(spark):
    rows = [
        (0, "", "en", "src0"),
        (1, "   ", "en", "src0"),
        (2, "one", "en", "src1"),
        (3, "two tokens", "en", "src1"),
        (4, "exactly three tokens", "en", "src2"),
        (5, "ünïcödé tökens 日本語 текст emoji", "de", "src2"),
        (6, " ".join(f"tok{i % 7}" for i in range(500)), "en", "src3"),
        (7, "repeated repeated repeated repeated repeated", "en", "src3"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_token_and_quality_ops_survive(edge_docs):
    out = edge_docs.select(
        "doc_id",
        tx.token_count("text").alias("n"),
        tx.quality_score("text").alias("q"),
        tx.lang_id("text").alias("lang_pred"),
        tx.doc_fingerprint("text").alias("fp"),
        tx.subword_count("text").alias("sw"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["n"] == 0 and by_id[1]["n"] == 0
    assert by_id[6]["n"] == 500


def test_shingle_family_survives_short_docs(edge_docs):
    # every doc shorter than the shingle width must yield an EMPTY set,
    # not an ANSI slice error (regression: char_ngrams_of_tokens)
    out = edge_docs.select(
        "doc_id", F.size(tx.shingle_hashes("text", n=3)).alias("n_sh")
    ).collect()
    by_id = {r["doc_id"]: r["n_sh"] for r in out}
    assert by_id[0] == 0 and by_id[1] == 0 and by_id[2] == 0 and by_id[3] == 0
    assert by_id[4] == 1 and by_id[6] > 0


def test_dedup_operators_survive(edge_docs):
    assert dd.exact_duplicates(edge_docs, "doc_id", "text").count() == 8
    dd.minhash_candidate_pairs(edge_docs, "doc_id", "text").count()
    dd.ngram_jaccard_pairs(edge_docs, "doc_id", "text").count()
    dd.ngram_containment_pairs(edge_docs, "doc_id", "text").count()
    dd.simhash_buckets(edge_docs, "doc_id", "text").count()
    pairs = dd.blocked_edit_distance_pairs(
        edge_docs, "doc_id", "text", block_cols=["lang"]
    )
    pairs.count()  # empty/whitespace docs must not produce a null-key blowup


def test_chunk_pack_fim_survive(edge_docs):
    edge_docs.select(tx.chunk_tokens("text", 4, 2).alias("c")).count()
    tx.greedy_pack(edge_docs, "source", "doc_id", "text", 16).count()
    edge_docs.select(tx.fim_transform("text", "doc_id").alias("f")).count()
    tx.length_bucket_batches(edge_docs, "doc_id", "text", batch_size=4).count()
    edge_docs.select(tx.remove_stopwords("text").alias("s")).count()
    edge_docs.select(tx.redact_pii(F.col("text")).alias("r")).count()


def test_lm_ops_survive(edge_docs):
    tx.bigram_lm_topk(edge_docs, "text").count()
    out = tx.bigram_logprob_score(edge_docs, "doc_id", "text").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == 8  # every doc present, even empty ones
    assert by_id[0]["n_bigrams"] == 0 and by_id[0]["avg_logprob"] is None
    tx.heavy_hitters_mg(edge_docs, "text", k=5).count()
    tx.tfidf_top_terms(edge_docs, "doc_id", "text", k=2).count()
    tx.boilerplate_fraction(edge_docs, "doc_id", "text").count()


def test_similarity_ops_survive_zero_vectors(spark):
    from aidc_2018_timeseries_spark.operators import similarity as sim

    rows = [(0, [0.0] * 8, 0), (1, [1.0] + [0.0] * 7, 1), (2, [0.5] * 8, 2)] + [
        (i, [float(i + j) for j in range(8)], 0) for i in range(3, 20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    # LSH near-dup with a zero vector present: must not throw; the zero
    # vector must never appear in any pair (cosine undefined -> NULL)
    pairs = sim.embedding_lsh_dup_pairs(
        df, threshold=0.9, n_tables=2, n_bits=3, seed=7, dim=8
    ).collect()
    assert all(r["id_a"] != 0 and r["id_b"] != 0 for r in pairs)
    # brute-force top-k from a renamed query set (the face idiom)
    from pyspark.sql import functions as F2

    q = df.select(
        F2.col("vec_id").alias("query_id"), F2.col("embedding").alias("query_vec")
    ).filter(F2.col("query_id").isin(0, 5))
    topk = sim.brute_force_topk(df, q, k=3)
    got = topk.collect()
    # the zero-vector query has undefined similarity to everything ->
    # contributes no rows; the real query gets its k
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    assert 0 not in by_q and len(by_q[5]) == 3


def test_centroid_assignment_drops_zero_vectors(spark):
    from aidc_2018_timeseries_spark.operators import similarity as sim

    # vec_id 0 is a zero vector AND lands at a stride position, so the
    # centroid set contains a zero-norm centroid too — the assignment must
    # drop the zero vector and never assign anything to the zero centroid
    rows = [(0, [0.0] * 8, 0)] + [
        (i, [float((-1) ** i * (i + j)) for j in range(8)], 0) for i in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    cents = sim.stride_centroids(df, 5)
    got = sorted(
        (r["vec_id"], r["centroid_id"])
        for r in sim.assign_centroids(df, cents).collect()
    )
    assert [v for v, _ in got] == list(range(1, 21))  # zero vector dropped
    assert all(c != 0 for _, c in got)  # zero centroid never wins


def test_ivf_and_rp_lsh_skip_zero_norm_queries(spark):
    from pyspark.sql import functions as F2

    from aidc_2018_timeseries_spark.operators import similarity as sim

    rows = [(0, [0.0] * 8, 0)] + [
        (i, [float(i + j) for j in range(8)], 0) for i in range(1, 30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = df.select(
        F2.col("vec_id").alias("query_id"), F2.col("embedding").alias("query_vec")
    ).filter(F2.col("query_id").isin(0, 7))
    ivf = sim.ivf_topk(df, q, centroid_stride=7, n_probe=2, k=3).collect()
    assert all(r["query_id"] != 0 for r in ivf) and any(
        r["query_id"] == 7 for r in ivf
    )
    lsh = sim.rp_lsh_topk(df, q, n_tables=4, n_bits=3, k=3, dim=8).collect()
    assert all(r["sim"] is not None for r in lsh)


def test_repetition_signals_edges_and_goldens(edge_docs):
    """Golden-checks the Gopher-style repetition signals on the edge
    corpus: NULL rows for token-less docs, NULL n-gram fractions for
    docs shorter than the gram width, exact fractions and the integer-
    arithmetic verdict on hand-computable docs."""
    rows = {
        r["doc_id"]: r
        for r in tx.repetition_signals(edge_docs, "doc_id", "text").collect()
    }
    assert len(rows) == 8
    # token-less: every signal NULL, n_words 0
    for d in (0, 1):
        assert rows[d]["n_words"] == 0
        assert rows[d]["top_token_frac"] is None
        assert rows[d]["repetitive"] is None
    assert rows[6]["n_words"] == 500
    # one token: unigram frac defined (1/1), no bigrams/trigrams
    assert rows[2]["top_token_frac"] == 1.0
    assert rows[2]["top_bigram_frac"] is None
    assert rows[2]["dup_trigram_frac"] is None
    assert rows[2]["repetitive"] is None
    # two tokens: one bigram, no trigram -> verdict still NULL
    assert rows[3]["top_bigram_frac"] == 1.0
    assert rows[3]["repetitive"] is None
    # exactly three distinct tokens: one trigram, no repeats — but only
    # 2 bigrams, so top_bigram_frac = 0.5 trivially exceeds the 0.20
    # threshold: the verdict is only meaningful ABOVE the min-length
    # filter (P3) a real pipeline composes upstream, and short docs
    # flag as repetitive by construction
    assert rows[4]["top_token_frac"] == 1.0 / 3.0
    assert rows[4]["dup_trigram_frac"] == 0.0
    assert rows[4]["repetitive"] == 1
    # "repeated" x5: every gram is the single most frequent one
    assert rows[7]["top_token_frac"] == 1.0
    assert rows[7]["top_bigram_frac"] == 1.0
    assert rows[7]["dup_trigram_frac"] == 1.0
    assert rows[7]["repetitive"] == 1
    # 500 tokens cycling tok0..tok6: top token 72/500; every trigram
    # repeats (7 distinct trigrams over 498 occurrences) -> repetitive
    assert rows[6]["top_token_frac"] == 72.0 / 500.0
    assert rows[6]["dup_trigram_frac"] == 1.0
    assert rows[6]["repetitive"] == 1

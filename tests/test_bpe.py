"""Distributed BPE trainer vs an independent pure-Python reference.

Merge-list equality is the strongest statement available: if every merge
decision (argmax with the pinned tie order) and every merge application
(boundary-anchored regex vs the reference's explicit symbol walk) agree
for N rounds, the two implementations compute the same tokenizer.
"""

from __future__ import annotations

from aidc_2018_timeseries_spark.operators.bpe import (
    reference_bpe,
    train_bpe_merges,
    word_vocab,
)
from aidc_2018_timeseries_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def test_merges_match_reference_on_corpus(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = train_bpe_merges(docs, "text", n_merges=12)
    freqs = {r.word: r.freq for r in word_vocab(docs, "text").collect()}
    want = reference_bpe(freqs, 12)
    assert got == want
    assert len(got) == 12


def test_merges_handle_regex_metachar_symbols(spark):
    """Tokens full of regex metachars (punctuation-only 'words') must not
    break the merge regex or the replacement grammar."""
    docs = spark.createDataFrame(
        [(1, "a$b a$b a$b x.y x.y (z) (z) (z) (z)")], "doc_id long, text string"
    )
    got = train_bpe_merges(docs, "text", n_merges=4)
    freqs = {r.word: r.freq for r in word_vocab(docs, "text").collect()}
    want = reference_bpe(freqs, 4)
    assert got == want


def test_repeated_symbol_runs_merge_left_to_right(spark):
    """'aaaa' exercises the overlap rule: pairs merge left-to-right,
    non-overlapping — regex application must agree with the symbol walk."""
    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaa ba ba")], "doc_id long, text string"
    )
    got = train_bpe_merges(docs, "text", n_merges=3)
    freqs = {r.word: r.freq for r in word_vocab(docs, "text").collect()}
    want = reference_bpe(freqs, 3)
    assert got == want


def test_encode_vocab_matches_reference_walk(spark):
    """Applying the learned merges to every distinct word must produce the
    same subword segmentation as the reference's explicit symbol walk."""
    from aidc_2018_timeseries_spark.operators.bpe import encode_vocab

    docs = load_table(spark, SF_DIR, "documents")
    vocab = word_vocab(docs, "text")
    freqs = {r.word: r.freq for r in vocab.collect()}
    merges = reference_bpe(freqs, 12)

    got = {r.word: list(r.subwords) for r in encode_vocab(vocab, merges).collect()}

    def ref_encode(word: str) -> list[str]:
        syms = list(word)
        for pair in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    assert set(got) == set(freqs)
    for w in freqs:
        assert got[w] == ref_encode(w), w
        assert "".join(got[w]) == w, w  # segmentation is lossless


def test_token_counts_consistent(spark):
    """Doc-level n_subwords must sit between n_words (full fusion) and the
    char count (no merges), and equal the sum over its words' encodings."""
    from aidc_2018_timeseries_spark.operators.bpe import bpe_token_counts, encode_vocab

    docs = load_table(spark, SF_DIR, "documents")
    vocab = word_vocab(docs, "text")
    freqs = {r.word: r.freq for r in vocab.collect()}
    merges = reference_bpe(freqs, 12)
    n_sub = {r.word: r.n_subwords for r in encode_vocab(vocab, merges).collect()}
    rows = bpe_token_counts(docs, "doc_id", "text", merges).collect()
    assert rows

    from aidc_2018_timeseries_spark.operators.text import tokenize
    from pyspark.sql import functions as F

    doc_words = {
        r.doc_id: list(r.ws)
        for r in docs.select("doc_id", tokenize("text").alias("ws")).collect()
    }
    for r in rows:
        ws = doc_words[r.doc_id]
        assert r.n_words == len(ws)
        # exact: doc subword count == sum of its words' encoded lengths
        assert r.n_subwords == sum(n_sub[w] for w in ws)
        # bounds: full fusion below, character count above
        assert r.n_words <= r.n_subwords <= sum(len(w) for w in ws)


def test_duckdb_oracle_fold_matches_reference_on_adversarial_corpus():
    """The round-7 SQL oracle applies merges as a greedy list_reduce fold;
    real corpus data exercises few consecutive-run words, so pin the fold
    against the reference walk on a corpus built of them ('aaaa',
    alternating pairs, runs adjacent to distinct symbols). DuckDB-only:
    the oracle must reproduce reference_bpe's merge list byte-for-byte
    regardless of engine — this is the cross-engine twin of
    test_repeated_symbol_runs_merge_left_to_right."""
    import duckdb

    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

    load_all()
    text = "aaaa aaaa aaaa aaa abababab abababab baab baab baab xaax"
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT 1 AS doc_id, '{text}' AS text"
    )
    got = [
        (l, r)
        for _, l, r in con.sql(
            CATALOG["text_bpe_train_merges"].oracle
        ).fetchall()
    ]
    # the planted corpus is lowercase space-separated, so whitespace
    # split IS the shared tokenization
    freqs: dict[str, int] = {}
    for w in text.split():
        freqs[w] = freqs.get(w, 0) + 1
    want = reference_bpe(freqs, 12)
    assert got == want[: len(got)] and len(got) == min(12, len(want))

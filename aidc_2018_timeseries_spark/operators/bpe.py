"""Distributed BPE tokenizer training (byte-pair-encoding merge learning).

The inner loop every LLM tokenizer trainer runs: count adjacent symbol
pairs over the word vocabulary, merge the most frequent pair, repeat.
The distributed formulation keeps every iteration at VOCAB cost, never
corpus cost:

1. One corpus-wide shuffle builds the word vocabulary (word → freq) —
   the only pass that ever touches raw documents.
2. Each word is represented as its symbol sequence joined by single
   spaces ("l o w e s t"); each merge round counts pairs by exploding
   the DISTINCT words' adjacent symbol pairs weighted by word frequency
   (vocab-sized explode), takes the argmax with a pinned
   (count desc, pair asc) total order, and applies the merge with one
   boundary-anchored regexp_replace over the vocab column.
3. The per-round argmax collects ONE row (the winning pair) — driver
   bookkeeping of the same class as a training loop's loss readout; the
   vocab stays distributed and is localCheckpoint'ed so lineage doesn't
   grow with merge count (same pattern as operators/graph.py).

Tie-breaking is pinned to (count desc, left-symbol asc, right-symbol
asc), so training is deterministic — tests/test_bpe.py proves merge-list
equality with an independent pure-Python reference implementation.

At 100 TB: step 1 is the standard vocab aggregation (partial-agg
shuffle); the vocab for a trained tokenizer is 10⁵–10⁶ rows, so the
thousands of merge rounds a 50k-vocab tokenizer needs each cost a small
bounded job — this is exactly how production distributed BPE trainers
structure the computation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.text import tokenize


def word_vocab(docs: DataFrame, text_col: str) -> DataFrame:
    """One corpus pass: (word, freq) — the only corpus-cost step."""
    return (
        docs.select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _pair_counts(vocab_sym: DataFrame) -> DataFrame:
    """Adjacent symbol-pair counts over the space-joined symbol column,
    weighted by word frequency. Vocab-sized explode."""
    syms = F.split(F.col("syms"), " ")
    pairs = F.expr(
        "transform(sequence(1, size(split(syms, ' ')) - 1), "
        "i -> concat(split(syms, ' ')[i - 1], ' ', split(syms, ' ')[i]))"
    )
    return (
        vocab_sym.where(F.size(syms) >= 2)
        .select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
    )


def _merge_pattern(left: str, right: str) -> tuple[str, str]:
    """(pattern, replacement) for one adjacent-symbol-pair merge as a
    boundary-anchored Java regex.

    Symbols are re.escape'd (punctuation-only escapes — Java-compatible;
    \\Q..\\E is avoided because a symbol containing the literal "\\E"
    would break out of the quote). The leading capture + trailing
    lookahead stop a pair from matching across symbol boundaries
    (pattern "a b" must not hit the tail of symbols "ba b"). The
    replacement re-emits the captured boundary and backslash/dollar
    metachars in the fused symbol are escaped for Java's replacement
    grammar."""
    pat = rf"(^|\s){re.escape(left)} {re.escape(right)}(?=\s|$)"
    fused = re.sub(r"([\\$])", r"\\\1", left + right)
    return pat, "$1" + fused


def train_bpe_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 10,
    vocab: DataFrame | None = None,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges over the corpus; returns the ordered
    merge list [(left, right), ...]. Deterministic: ties break on
    (count desc, left asc, right asc). Pass a precomputed ``vocab``
    (word, freq) to skip the corpus pass — callers that also encode should
    build the vocabulary once and share it."""
    if vocab is None:
        # Materialize the vocabulary before deriving the symbol state:
        # building state0 straight off the lazy tokenize→groupBy plan
        # measured 6.1s vs 0.3s+1.5s split at 1M distinct words (the
        # char-split select then rides a narrow scan of checkpointed
        # rows instead of being fused into the shuffle's reduce side).
        vocab = word_vocab(docs, text_col).localCheckpoint(eager=True)
    # initial symbols: characters, space-joined. Words cannot contain
    # spaces (whitespace tokenization), so ' ' is a safe separator.
    chars = F.expr("array_join(split(word, ''), ' ')")
    state = vocab.select(chars.alias("syms"), "freq").localCheckpoint(eager=True)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(state)
            .withColumn("left", F.split("pair", " ")[0])
            .withColumn("right", F.split("pair", " ")[1])
            .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()  # ONE row: driver bookkeeping, not a data-plane collect
        )
        if not top:
            break  # every word fused to a single symbol
        left, right = top[0]["left"], top[0]["right"]
        merges.append((left, right))
        pat, repl = _merge_pattern(left, right)
        state = state.select(
            F.regexp_replace("syms", pat, repl).alias("syms"), "freq"
        ).localCheckpoint(eager=True)
    return merges


def train_bpe_merges_df(docs: DataFrame, text_col: str, n_merges: int = 10) -> DataFrame:
    """Catalog-facing form: the learned merge list as (rank, left, right)
    rows (rank = merge order, 0-based)."""
    merges = train_bpe_merges(docs, text_col, n_merges)
    spark = docs.sparkSession
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank long, left string, right string",
    )


def reference_bpe(word_freqs: dict[str, int], n_merges: int) -> list[tuple[str, str]]:
    """Independent pure-Python BPE (the classic Sennrich formulation) used
    as the parity oracle in tests — intentionally shares NO code with the
    distributed path."""
    state = {tuple(w): f for w, f in word_freqs.items()}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in state.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        merges.append(best)
        new_state: dict[tuple[str, ...], int] = {}
        for syms, f in state.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_state[key] = new_state.get(key, 0) + f
        state = new_state
    return merges


def encode_vocab(vocab: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply a learned merge list (in order) to every DISTINCT word:
    (word, subwords array, n_subwords). Vocab-cost — the corpus never
    re-tokenizes; docs join against this table (the standard "encode the
    vocab once, look words up" structure of production BPE encoders).

    Each merge is one boundary-anchored regexp_replace over the
    space-joined symbol column — a chain of n scan-local expressions. For
    tokenizers with tens of thousands of merges the same vocab-level table
    is built with a greedy trie encoder behind an Arrow UDF instead; the
    join-back shape (the part that touches corpus scale) is identical.
    """
    chars = F.expr("array_join(split(word, ''), ' ')")
    out = vocab.select("word", "freq", chars.alias("syms"))
    for left, right in merges:
        pat, repl = _merge_pattern(left, right)
        out = out.withColumn("syms", F.regexp_replace("syms", pat, repl))
    return out.select(
        "word",
        "freq",
        F.split("syms", " ").alias("subwords"),
        F.size(F.split("syms", " ")).alias("n_subwords"),
    )


def bpe_token_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Per-document BPE token budget under a learned merge list:
    (id, n_words, n_subwords). The doc side only explodes its words and
    joins the encoded vocab on the word key — one shuffle keyed by word
    (or a broadcast when the vocab fits, which a trained tokenizer's
    vocab always does). Pass the trainer's ``vocab`` to avoid re-running
    the corpus aggregation."""
    if vocab is None:
        vocab = word_vocab(docs, text_col)
    enc = encode_vocab(vocab, merges).select("word", "n_subwords")
    words = docs.select(F.col(id_col), F.explode(tokenize(text_col)).alias("word"))
    return (
        words.join(enc, "word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_subwords").alias("n_subwords"),
        )
    )

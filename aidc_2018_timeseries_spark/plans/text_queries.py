"""Catalog queries: text analysis over the ``documents`` table.

Oracle-parity conventions: tokenization, stopword lists and hash constants
are shared between the Spark operators (operators/text.py) and the DuckDB
SQL generated here (single source of truth for the constants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.functions.hashing import FINGERPRINT_PRIME, hash64_sql
from aidc_2018_timeseries_spark.operators import text as tx
from aidc_2018_timeseries_spark.plans.catalog import register
from aidc_2018_timeseries_spark.sources.tables import load_table

# DuckDB token list for `text` column — must mirror operators/text.tokenize
_TOKS = tx.tokenize_sql("text")


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _bpe_oracle_rounds(n_merges: int) -> str:
    """Generate the WITH-clause body that restates ``n_merges`` rounds of
    BPE training (operators/bpe.py) as UNROLLED plain SQL — the trick that
    turned the iterative EWMA/backtest recurrences into oracles, applied
    to the tokenizer trainer.

    Per round i: ``p{i}`` computes the argmax pair over ``v{i-1}``'s
    symbol column with the pinned (count desc, left asc, right asc) total
    order — ordering by the space-joined pair string is equivalent because
    ' ' sorts below every token character, and tokens cannot contain
    spaces; ``v{i}`` applies the merge as a greedy left-fold
    (``list_reduce``): fuse when the accumulator's last symbol is `l` and
    the next is `r`. The fold reproduces the classic left-to-right walk
    exactly — a freshly fused symbol (l||r) can never equal `l` within the
    same round (r is non-empty), so no double-fuse flag is needed. DuckDB
    regexp_replace (RE2) has no lookahead, so Spark's boundary-anchored
    regex could NOT be transplanted — consecutive-run cases like
    'a a a a' would diverge; the fold sidesteps regex entirely.

    Fixed-round unrolling presumes the corpus sustains n_merges rounds of
    pairs (the Spark trainer breaks out early when every word has fused
    to one symbol; any such corpus would honestly fail row-count).
    """
    parts = [
        f"w AS (SELECT unnest({_TOKS}) AS word FROM documents)",
        "vocab AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word)",
        "v0 AS MATERIALIZED (SELECT word,"
        " array_to_string(string_split(word, ''), ' ')"
        " AS syms, freq FROM vocab)",
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            f"""p{i} AS MATERIALIZED (
      SELECT split_part(pair, ' ', 1) AS l, split_part(pair, ' ', 2) AS r
      FROM (
        SELECT unnest(list_transform(range(1, len(s)),
                                     j -> s[j] || ' ' || s[j+1])) AS pair,
               freq
        FROM (SELECT string_split(syms, ' ') AS s, freq FROM v{i - 1}))
      GROUP BY pair ORDER BY SUM(freq) DESC, pair ASC LIMIT 1)"""
        )
        parts.append(
            f"""v{i} AS MATERIALIZED (
      SELECT word, list_reduce(string_split(syms, ' '), (acc, x) ->
        CASE WHEN x = p.r AND split_part(acc, ' ', -1) = p.l
             THEN substr(acc, 1, length(acc) - length(p.l)) || p.l || p.r
             ELSE acc || ' ' || x END) AS syms, freq
      FROM v{i - 1} CROSS JOIN p{i} p)"""
        )
    return ",\n    ".join(parts)


_BPE_N_MERGES = 12
_BPE_ROUNDS = _bpe_oracle_rounds(_BPE_N_MERGES)


# --- token statistics ---
@register(
    "text_token_stats",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks, length(text) AS n_chars FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(n_chars AS BIGINT) AS n_chars,
           CASE WHEN len(toks) > 0 THEN
             ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                   / len(toks), 6) END AS mean_token_len,
           CASE WHEN len(toks) > 0 THEN
             ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
           END AS ttr
    FROM t
    """,
    doc="token counting: counts, mean token length, type-token ratio",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(tx.mean_token_length("text"), 6).alias("mean_token_len"),
        F.round(tx.type_token_ratio("text"), 6).alias("ttr"),
    )


# --- quality scoring ---
@register(
    "text_quality_score",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n,
             CAST(len(list_filter(toks, x -> x IN ({_in_list(tx.LANG_STOPWORDS["en"])})))
                  AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct
      FROM t)
    SELECT doc_id,
           CASE WHEN n > 0 THEN
             ROUND(0.4 * LEAST(n_stop / n * 5.0, 1.0)
                   + 0.3 * (n_distinct / n)
                   + 0.3 * (LEAST(n, 200.0) / 200.0), 6)
           ELSE 0.0 END AS quality
    FROM s
    """,
    doc="heuristic quality score: stopword ratio + TTR + length (Gopher/C4-style)",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.round(tx.quality_score("text"), 6).alias("quality"))


# --- language identification ---
def _langid_oracle() -> str:
    score = {
        lang: f"CAST(len(list_filter(toks, x -> x IN ({_in_list(words)}))) AS BIGINT)"
        for lang, words in tx.LANG_STOPWORDS.items()
    }
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id,
                 {score['en']} AS s_en, {score['de']} AS s_de, {score['es']} AS s_es,
                 {score['fr']} AS s_fr, {score['zh']} AS s_zh
          FROM t)
    SELECT doc_id,
           CASE WHEN s_en > 0 AND s_en >= GREATEST(s_de, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_de > 0 AND s_de >= GREATEST(s_es, s_fr, s_zh) THEN 'de'
                WHEN s_es > 0 AND s_es >= GREATEST(s_fr, s_zh) THEN 'es'
                WHEN s_fr > 0 AND s_fr >= s_zh THEN 'fr'
                WHEN s_zh > 0 THEN 'zh'
                ELSE 'unknown' END AS lang_pred
    FROM s
    """


@register(
    "text_lang_id",
    _langid_oracle(),
    doc="stopword-list language ID with deterministic tie-break order",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.lang_id("text").alias("lang_pred"))


# --- document fingerprint (rolling hash) ---
@register(
    "text_fingerprint",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(toks, x -> {hash64_sql('x')} % {FINGERPRINT_PRIME})),
             (acc, h) -> (acc * 31 + h) % {FINGERPRINT_PRIME}) AS fingerprint
    FROM t
    """,
    doc="order-sensitive rolling-hash document fingerprint (md5-derived, "
    "bit-identical across engines)",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.doc_fingerprint("text").alias("fingerprint"))


# --- corpus vocabulary stats (tokenizer/vocab-building step) ---
@register(
    "text_vocab_top_terms",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
    stats AS (SELECT term, COUNT(*) AS tf_total,
                     COUNT(DISTINCT doc_id) AS df_docs
              FROM terms GROUP BY term)
    SELECT term, tf_total, df_docs FROM stats
    ORDER BY tf_total DESC, term LIMIT 50
    """,
    doc="corpus vocabulary: top-50 terms by total frequency with document "
    "frequency — the vocab-construction scan of a tokenizer pipeline; "
    "per-term partial aggregation then TakeOrderedAndProject (per-"
    "partition top-k merge, no global sort), (count desc, term asc) "
    "tie-break keeps the cut deterministic",
)
def text_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    terms = d.select("doc_id", F.explode(tx.tokenize("text")).alias("term"))
    return (
        terms.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf_total"),
            F.countDistinct("doc_id").alias("df_docs"),
        )
        .orderBy(F.desc("tf_total"), "term")
        .limit(50)
    )


# --- TF-IDF top terms ---
@register(
    "text_tfidf_top_terms",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, term,
             ROUND(tf * (LN((1.0 + n_docs) / (1.0 + df)) + 1.0), 6) AS tfidf
      FROM tf JOIN dfreq USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      FROM scored)
    SELECT doc_id, term, tfidf, CAST(rk AS INTEGER) AS rk FROM ranked WHERE rk <= 3
    """,
    doc="top-3 terms per doc by smoothed TF-IDF (idf = ln((1+N)/(1+df))+1), "
    "rounded before ranking with (score desc, term asc) tie-break so the "
    "rank order is cross-engine deterministic",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tx.tfidf_top_terms(d, "doc_id", "text", k=3)


@register(
    "text_subword_count",
    f"""
    SELECT doc_id,
           CAST({tx.subword_count_sql('text')} AS BIGINT) AS n_subwords,
           CAST(len({_TOKS}) AS BIGINT) AS n_words
    FROM documents
    """,
    doc="BPE-ish token budget per doc: GPT-2-style pretokenizer regex "
    "(RE2-compatible, byte-identical across engines) next to the "
    "whitespace word count",
)
def text_subword_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.subword_count("text").cast("long").alias("n_subwords"),
        tx.token_count("text").cast("long").alias("n_words"),
    )


# --- train/eval decontamination by exact n-gram overlap ---
@register(
    "text_decontaminate_ngrams",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g AS (
      SELECT DISTINCT t.doc_id,
             array_to_string(t.toks[s.i : s.i + 7], ' ') AS g
      FROM t, UNNEST(generate_series(1, len(t.toks) - 7)) AS s(i)
      WHERE len(t.toks) >= 8
    ),
    ev AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0)
    SELECT g.doc_id, COUNT(*) AS n_shared_ngrams
    FROM g JOIN ev USING (g)
    WHERE g.doc_id % 20 <> 0
    GROUP BY g.doc_id
    """,
    doc="benchmark decontamination: training documents sharing >=1 exact "
    "8-gram with the held-out set (doc_id % 20 = 0 stands in for the "
    "benchmark suite). The eval n-gram set is DISTINCT + broadcast -- "
    "eval suites stay small no matter how big the corpus, so at 100 TB "
    "the train side streams map-side against a broadcast hash set and "
    "the only shuffle is the per-doc count. n-grams join as exact "
    "strings (no hash-collision parity risk; at petabyte scale you'd "
    "xxhash them into the same shape)",
)
def text_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tx.tokenize("text").alias("toks"))
    grams = F.when(
        F.size("toks") >= 8,
        F.expr(
            "transform(sequence(0, size(toks)-8), i -> concat_ws(' ', slice(toks, i+1, 8)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = base.select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
    ev = g.filter(F.col("doc_id") % 20 == 0).select("g").distinct()
    return (
        g.filter(F.col("doc_id") % 20 != 0)
        .join(F.broadcast(ev), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


# --- context-window chunking (the text analogue of W1/W2) ---
@register(
    "text_chunk_windows",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    c AS (SELECT doc_id, toks, len(toks) AS n,
                 CASE WHEN len(toks) < 40 THEN 1
                      ELSE CAST(FLOOR((len(toks) - 40) / 30.0) AS BIGINT) + 1
                 END AS n_chunks
          FROM t),
    x AS (SELECT doc_id, toks, n,
                 unnest(range(0, n_chunks)) AS chunk_id
          FROM c)
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(LEAST(40, n - chunk_id * 30) AS BIGINT) AS n_tokens,
           array_to_string(list_slice(toks, chunk_id * 30 + 1, chunk_id * 30 + 40), ' ')
             AS chunk
    FROM x
    """,
    doc="context-window chunking for LLM training (the text analogue of "
    "the W1/W2 sliding windows): overlapping 40-token chunks at stride "
    "30 per document; documents shorter than one chunk keep their whole "
    "text as chunk 0. Scan-local explode — rows fan out proportional to "
    "output, chunking itself needs no shuffle",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id", F.explode(tx.chunk_tokens("text", 40, 30)).alias("c")
    )
    return ch.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.n_tokens").cast("long").alias("n_tokens"),
        F.col("c.chunk").alias("chunk"),
    )


# --- stopword-removal normalization (curation rewrite pass) ---
@register(
    "text_normalize_stopwords",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    k AS (SELECT doc_id, toks,
                 list_filter(toks, x -> NOT list_contains(
                   ['the','a','of','and','to','in','is','it','that','was'], x))
                   AS kept
          FROM t)
    SELECT doc_id,
           array_to_string(kept, ' ') AS clean,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(len(toks) - len(kept) AS BIGINT) AS n_removed
    FROM k
    """,
    doc="stopword-removal normalization (the curation rewrite pass before "
    "tokenizer training / dedup): tokens minus the en stopword list, "
    "rejoined single-spaced, with kept/removed counts. Pure scan-shaped "
    "rewriting — no shuffle at all",
)
def text_normalize_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.remove_stopwords("text").alias("s")).select(
        "doc_id",
        F.col("s.clean").alias("clean"),
        F.col("s.n_kept").alias("n_kept"),
        F.col("s.n_removed").alias("n_removed"),
    )


# --- greedy sequence packing (sample packing for fixed token budgets) ---
@register(
    "text_pack_greedy",
    f"""
    WITH t AS (SELECT source, doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
               FROM documents)
    SELECT source, doc_id, n_tokens,
           CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
                AS BIGINT) AS pack_id
    FROM t
    """,
    doc="greedy sequence packing (the sample-packing step of an LLM "
    "pipeline): docs assigned in id order within each source shard to "
    "consecutive ~256-token packs via a running cumsum — pack_id = "
    "floor(tokens_before / budget), overflow bounded by one document "
    "(exact bin packing is NP-hard and order-destroying). One shuffle on "
    "source; parallelism = #shards, the unit real pipelines pack within",
)
def text_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tx.greedy_pack(d, "source", "doc_id", "text", 256)


# --- PII redaction (curation scrubbing pass) ---
# The synthetic corpus carries no natural PII, so the face plants
# deterministic doc_id-derived email/IP/phone spans FIRST (identically on
# both engines) and then redacts — the operator is exercised on real
# matches while staying byte-reproducible. Patterns live in
# operators/text.PII_PATTERNS (RE2 ∩ Java dialect, one source of truth).
_PII_AUG_SQL = (
    "CONCAT(text, ' contact user', CAST(doc_id AS VARCHAR), "
    "'@example.com from 10.0.', CAST(doc_id % 256 AS VARCHAR), "
    "'.7 tel +1555-01', CAST(doc_id % 90 + 10 AS VARCHAR))"
)


def _pii_oracle() -> str:
    redacted = "t"
    for _, pat, repl in tx.PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(t, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in tx.PII_PATTERNS
    )
    return f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
    SELECT doc_id, {counts}, {redacted} AS redacted FROM aug
    """


@register(
    "text_redact_pii",
    _pii_oracle(),
    doc="PII scrubbing: email/IPv4/phone spans replaced by typed "
    "placeholders, with per-pattern audit counts — pure Catalyst "
    "regexp chain, scan-local (deterministic planted PII; see comment)",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    aug = d.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel +1555-01"),
            (F.col("doc_id") % 90 + 10).cast("string"),
        ),
    )
    counts = tx.pii_counts("t")
    return aug.select(
        "doc_id",
        *[c.alias(f"n_{name}") for name, c in counts.items()],
        tx.redact_pii("t").alias("redacted"),
    )


# --- pack materialization: concatenated training sequences ---
@register(
    "text_pack_concat",
    f"""
    WITH t AS (SELECT source, doc_id, text,
                      CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents),
    p AS (SELECT source, doc_id, text, n_tokens,
                 CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
                 AS BIGINT) AS pack_id
          FROM t)
    SELECT source, pack_id,
           string_agg(text, ' <eos> ' ORDER BY doc_id) AS packed_text,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM p GROUP BY source, pack_id
    """,
    doc="pack MATERIALIZATION: the packed training sequences themselves — "
    "docs of each ~256-token pack concatenated in id order with an <eos> "
    "separator, plus doc/token counts per pack. Same single shuffle on "
    "source as the assignment face; the concat is a per-pack aggregate "
    "over the already-partitioned relation",
)
def text_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    p = tx.greedy_pack(d, "source", "doc_id", "text", 256, extra_cols=("text",))
    ordered = F.array_sort(F.collect_list(F.struct("doc_id", "text")))
    return p.groupBy("source", "pack_id").agg(
        F.array_join(
            F.transform(ordered, lambda s: s["text"]), " <eos> "
        ).alias("packed_text"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


# --- cross-document boilerplate / template detection ---
_BP_N = 3
_BP_MIN_DOCS = 4
# same md5-derived 30-bit shingle construction as the dedup oracles (one
# Python source of truth: operators/text.shingle_hashes)
_BP_SHINGLES = (
    f"list_transform(range(1, len(toks) - {_BP_N} + 2), "
    f"i -> array_to_string(list_slice(toks, i, i + {_BP_N} - 1), ' '))"
)
_BP_SH30 = (
    f"list_distinct(list_transform({_BP_SHINGLES}, "
    f"s -> {hash64_sql('s')} % 1073741824))"
)


@register(
    "text_boilerplate_fraction",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest({_BP_SH30}) AS sh FROM t),
    dfreq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
    freq AS (SELECT sh FROM dfreq WHERE df >= {_BP_MIN_DOCS}),
    per_doc AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id),
    nf AS (SELECT s.doc_id, COUNT(*) AS n_frequent
           FROM sh s JOIN freq USING (sh) GROUP BY s.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(nf.n_frequent, 0) AS BIGINT) AS n_frequent,
           CASE WHEN COALESCE(p.n_shingles, 0) = 0 THEN 0.0
                ELSE CAST(COALESCE(nf.n_frequent, 0) AS DOUBLE) / p.n_shingles
           END AS boilerplate_frac
    FROM documents d
    LEFT JOIN per_doc p USING (doc_id)
    LEFT JOIN nf USING (doc_id)
    """,
    doc="cross-document boilerplate detection (CCNet/RefinedWeb's cross-"
    "doc filter family, shingle-based since this corpus is line-less): "
    "per doc, the fraction of its distinct 3-gram shingles appearing in "
    f">= {_BP_MIN_DOCS} documents. The frequent-shingle set is heavy-"
    "hitters-bounded so it broadcasts; only (shingle) count partials "
    "shuffle — never doc pairs. Fraction emitted unrounded (exact-"
    "integer division, bit-deterministic; ROUND flips on terminating "
    "ratios — the ngram-jaccard rationale)",
)
def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tx.boilerplate_fraction(
        d, "doc_id", "text", shingle_n=_BP_N, min_docs=_BP_MIN_DOCS
    )


@register(
    "text_heavy_hitters_mg",
    None,  # Misra-Gries estimates depend on partition layout (mergeable-
    # summary bound holds for ANY layout) → rows-only; the deterministic
    # f(x) − n/(c+1) ≤ est ≤ f(x) guarantee is pinned in
    # tests/test_oracle_parity.py against the exact counts AND driver-
    # hash-certified by the text_heavy_hitters_eval scorecard face
    doc="approximate heavy-hitter vocabulary via per-partition Misra-Gries "
    "summaries: each partition contributes AT MOST 200 counter rows to "
    "the shuffle no matter how large its vocabulary — the bounded-"
    "shuffle sibling of the exact text_vocab_top_terms, which shuffles "
    "one row per distinct term per partition and makes the trillion-"
    "token vocab tail the bottleneck at 100 TB",
)
def text_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(F.explode(tx.tokenize("text")).alias("term"))
    return tx.heavy_hitters_mg(terms, "term", k=50, n_counters=200)


@register(
    "text_fim_transform",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id, toks, len(toks) AS n,
                 (2 + doc_id % 3) AS lo
          FROM t),
    x AS (SELECT doc_id, toks, n,
                 CAST(FLOOR(n * lo / 10.0) AS INT) AS a,
                 CAST(FLOOR(n * (lo + 4) / 10.0) AS INT) AS b
          FROM s)
    SELECT doc_id,
           CONCAT('<PRE> ', array_to_string(toks[1:a], ' '),
                  ' <SUF> ', array_to_string(toks[b+1:n], ' '),
                  ' <MID> ', array_to_string(toks[a+1:b], ' ')) AS psm,
           CAST(a AS BIGINT) AS n_prefix,
           CAST(b - a AS BIGINT) AS n_middle,
           CAST(n - b AS BIGINT) AS n_suffix
    FROM x
    """,
    doc="fill-in-the-middle (FIM) reordering for infilling-capable model "
    "training: per doc, deterministic doc_id-derived split into prefix/"
    "middle/suffix, emitted PSM-ordered with sentinels. Scan-local "
    "string surgery, no shuffle; split determinism makes the transform "
    "reproducible AND oracle-checkable (RNG-based FIM couldn't be)",
)
def text_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fim_transform("text", "doc_id").alias("f")).select(
        "doc_id",
        F.col("f.psm").alias("psm"),
        F.col("f.n_prefix").alias("n_prefix"),
        F.col("f.n_middle").alias("n_middle"),
        F.col("f.n_suffix").alias("n_suffix"),
    )


@register(
    "text_length_bucket_batches",
    f"""
    WITH t AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
               FROM documents),
    b AS (SELECT doc_id, n_tokens,
                 CAST(FLOOR(LOG2(GREATEST(n_tokens, 1))) AS BIGINT) AS bucket
          FROM t)
    SELECT doc_id, n_tokens, bucket,
           CAST(FLOOR((ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id)
                       - 1) / 16.0) AS BIGINT) AS batch_id
    FROM b
    """,
    doc="sequence-length bucketing for batch assembly (dynamic batching): "
    "power-of-two token-length buckets, 16-doc batches in id order "
    "within each — the anti-padding-waste step before training. Bucket "
    "assignment is scan-local; the one shuffle keys on bucket (count "
    "bounded by log2 of max length). At 100 TB the window sub-"
    "partitions by shard like greedy_pack's source column",
)
def text_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tx.length_bucket_batches(d, "doc_id", "text", batch_size=16)


@register(
    "text_bpe_pair_counts",
    f"""
    WITH w AS (SELECT unnest({_TOKS}) AS word FROM documents),
    vocab AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(word)),
                                   i -> substr(word, CAST(i AS INT), 2))) AS pair,
             freq
      FROM vocab WHERE length(word) >= 2)
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 30
    """,
    doc="BPE merge-candidate counting (the inner loop of byte-pair-"
    "encoding tokenizer training, distributed): adjacent CHARACTER-pair "
    "frequencies over the corpus, computed the way BPE implementations "
    "actually do it — aggregate the WORD VOCABULARY first (one corpus-"
    "wide shuffle to vocab-sized output), then enumerate each DISTINCT "
    "word's pairs weighted by its frequency. At 100 TB that order of "
    "operations is the whole game: pair explosion runs over the vocab "
    "(hundreds of thousands of rows) instead of the corpus (trillions of "
    "tokens), so every subsequent BPE iteration is vocab-cost. The "
    "top-30 emits via TakeOrderedAndProject with a (n desc, pair asc) "
    "total order so the cut is deterministic cross-engine",
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.operators.bpe import word_vocab

    d = load_table(spark, sf_dir, "documents")
    vocab = word_vocab(d, "text")
    pairs = vocab.where(F.length("word") >= 2).select(
        F.explode(
            F.expr("transform(sequence(1, char_length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(30)
    )


@register(
    "text_bpe_train_merges",
    f"""
    WITH {_BPE_ROUNDS},
    m AS ({" UNION ALL ".join(
        f'SELECT {i - 1} AS rank, l, r FROM p{i}'
        for i in range(1, _BPE_N_MERGES + 1))})
    SELECT CAST(rank AS BIGINT) AS rank, l AS "left", r AS "right" FROM m
    """,
    # ORACLE-CHECKED since round 7: the iterative argmax loop unrolls into
    # {n} fixed SQL rounds (see _bpe_oracle_rounds) — the EWMA-recurrence
    # trick applied to tokenizer training; merge-list equality vs the
    # pure-Python reference stays pinned in tests/test_bpe.py
    doc="distributed BPE tokenizer TRAINING (operators/bpe.py): 12 merge "
    "rounds learned over the corpus, emitted as (rank, left, right). One "
    "corpus pass builds the word vocabulary; every round after that is "
    "vocab-cost — pair counts explode the DISTINCT words weighted by "
    "frequency, the argmax collects ONE row (driver bookkeeping, same "
    "class as a training loop's loss readout), and the merge applies as "
    "one boundary-anchored regexp_replace over the vocab column with "
    "localCheckpoint lineage truncation (the operators/graph.py "
    "pattern). Ties break (count desc, pair asc) so training is "
    "deterministic; rows-only because the loop is iterative, with "
    "merge-list equality vs a pure-Python reference pinned in "
    "tests/test_bpe.py",
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.operators.bpe import train_bpe_merges_df

    d = load_table(spark, sf_dir, "documents")
    return train_bpe_merges_df(d, "text", n_merges=12)


@register(
    "text_bpe_encode_counts",
    f"""
    WITH {_BPE_ROUNDS},
    enc AS (SELECT word, len(string_split(syms, ' ')) AS nsw
            FROM v{_BPE_N_MERGES}),
    dw AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents)
    SELECT dw.doc_id, COUNT(*) AS n_words,
           CAST(SUM(e.nsw) AS BIGINT) AS n_subwords
    FROM dw JOIN enc e USING (word)
    GROUP BY dw.doc_id
    """,
    # ORACLE-CHECKED since round 7: re-learns the merge list via the same
    # unrolled rounds, then v12 IS the encoded vocabulary — the join-back
    # mirrors the Spark encode shape exactly
    doc="BPE ENCODING under the learned tokenizer (the apply half of "
    "text_bpe_train_merges): per document, whitespace word count and the "
    "subword count after the 12 learned merges. The corpus-scale shape "
    "is the one production encoders use — the DISTINCT word vocabulary "
    "is encoded once (vocab-cost regexp chain), docs just explode words "
    "and join the encoded vocab on the word key; documents never "
    "re-tokenize per merge. Segmentation losslessness and parity with "
    "the reference symbol walk are pinned in tests/test_bpe.py",
)
def text_bpe_encode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.operators.bpe import (
        bpe_token_counts,
        train_bpe_merges,
        word_vocab,
    )

    d = load_table(spark, sf_dir, "documents")
    # one corpus pass, shared by trainer and encoder (localCheckpoint so
    # the trainer's 12 rounds and the encode join reuse materialized rows)
    vocab = word_vocab(d, "text").localCheckpoint(eager=True)
    merges = train_bpe_merges(d, "text", n_merges=12, vocab=vocab)
    return bpe_token_counts(d, "doc_id", "text", merges, vocab=vocab)


@register(
    "text_bigram_lm_topk",
    f"""
    WITH t AS (SELECT {_TOKS} AS toks FROM documents),
    g0 AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t),
    bg AS (SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM g0),
    c AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY w1, w2),
    w AS (SELECT *,
                 CAST(SUM(n_pair) OVER (PARTITION BY w1) AS BIGINT) AS tot,
                 ROW_NUMBER() OVER (PARTITION BY w1
                                    ORDER BY n_pair DESC, w2) AS rank
          FROM c)
    SELECT w1, w2, n_pair, ROUND(n_pair * 1.0 / tot, 6) AS p_next, rank
    FROM w WHERE rank <= 3 AND n_pair >= 2
    """,
    doc="corpus bigram language model, top-3 continuations per word with "
    "conditional probability P(w2|w1) — count-based LM statistics, "
    "collocation mining, and a corpus-quality probe (generated/boiler "
    "text shows peaked continuation distributions) in one face. Bigram "
    "explode scan-local; one (w1,w2) shuffle; rank/total ride a window "
    "over the counts relation; deterministic (count desc, w2) order",
)
def text_bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tx.bigram_lm_topk(d, "text", k=3, min_count=2)


_SPLIT_H = hash64_sql("CONCAT('split:7:', CAST(doc_id AS VARCHAR))")


@register(
    "text_split_leakage_audit",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks,
                      CASE WHEN {_SPLIT_H} % 10 < 8 THEN 'train' ELSE 'test' END
                        AS split
               FROM documents),
    g AS (SELECT DISTINCT doc_id, split,
                 array_to_string(toks[s.i : s.i + 7], ' ') AS g
          FROM t, UNNEST(generate_series(1, len(toks) - 7)) AS s(i)
          WHERE len(toks) >= 8),
    tr AS (SELECT DISTINCT g FROM g WHERE split = 'train'),
    leaked AS (SELECT DISTINCT g.doc_id FROM g JOIN tr USING (g)
               WHERE g.split = 'test')
    SELECT (SELECT COUNT(*) FROM t WHERE split = 'train') AS n_train_docs,
           (SELECT COUNT(*) FROM t WHERE split = 'test') AS n_test_docs,
           (SELECT COUNT(*) FROM leaked) AS n_test_docs_leaked,
           ROUND((SELECT COUNT(*) FROM leaked) * 1.0
                 / (SELECT COUNT(*) FROM t WHERE split = 'test'), 6)
             AS leak_frac
    """,
    doc="train/test split LEAKAGE audit: hash-split the corpus 80/20 "
    "(deterministic md5 split key — reproducible across engines and "
    "reruns), then count held-out docs sharing at least one exact 8-gram "
    "with ANY training doc. The companion to dedup: a split is only as "
    "held-out as the corpus is deduplicated, and this face measures "
    "exactly that gap. Gram join is shuffle-keyed by the gram string "
    "(train side is NOT broadcast — it is most of the corpus); the "
    "audit relation reduces to one summary row",
)
def text_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.functions.hashing import hash64_seeded

    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        tx.tokenize("text").alias("toks"),
        F.when(
            hash64_seeded(F.col("doc_id").cast("string"), "split:7") % 10 < 8,
            F.lit("train"),
        )
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    grams = F.when(
        F.size("toks") >= 8,
        F.expr(
            "transform(sequence(0, size(toks)-8), i -> concat_ws(' ', slice(toks, i+1, 8)))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = base.select(
        "doc_id", "split", F.explode(F.array_distinct(grams)).alias("g")
    )
    tr = g.filter(F.col("split") == "train").select("g").distinct()
    leaked_ids = (
        g.filter(F.col("split") == "test")
        .join(tr, "g")
        .select("doc_id")
        .distinct()
        .withColumn("is_leaked", F.lit(1))
    )
    # Equi-join the leaked flag back onto the doc relation and fold ALL
    # three counts in one aggregate — no 1-row crossJoin (it planned as a
    # BroadcastNestedLoopJoin, tripping the plan audit even though both
    # sides were single rows; this shape keeps the audit's zero-nested-loop
    # invariant global).
    tagged = base.select("doc_id", "split").join(leaked_ids, "doc_id", "left")
    return tagged.groupBy().agg(
        F.sum((F.col("split") == "train").cast("long")).alias("n_train_docs"),
        F.sum((F.col("split") == "test").cast("long")).alias("n_test_docs"),
        F.sum(
            ((F.col("split") == "test") & F.col("is_leaked").isNotNull()).cast("long")
        ).alias("n_test_docs_leaked"),
    ).select(
        "n_train_docs",
        "n_test_docs",
        "n_test_docs_leaked",
        F.round(F.col("n_test_docs_leaked") / F.col("n_test_docs"), 6).alias(
            "leak_frac"
        ),
    )


@register(
    "text_bigram_perplexity",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g0 AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
           FROM t WHERE len(toks) >= 2),
    bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM g0),
    pc AS (SELECT w1, w2, COUNT(*) AS n_pair FROM bg GROUP BY w1, w2),
    sc AS (SELECT w1, COUNT(*) AS n_start FROM bg GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT w) AS v
          FROM (SELECT unnest(toks) AS w FROM t)),
    s AS (SELECT bg.doc_id,
                 ln((pc.n_pair + 1.0) / (sc.n_start + v.v)) AS lp
          FROM bg JOIN pc USING (w1, w2) JOIN sc USING (w1) CROSS JOIN v),
    a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                 ROUND(AVG(lp), 6) AS avg_logprob
          FROM s GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           a.avg_logprob,
           ROUND(EXP(-a.avg_logprob), 6) AS perplexity
    FROM t LEFT JOIN a USING (doc_id)
    """,
    doc="per-document LM fluency score: mean add-1-smoothed bigram log-"
    "probability under the corpus's own bigram model, plus perplexity — "
    "the KenLM-style quality filter of CCNet/Gopher-class curation "
    "pipelines, self-trained (no external artifact; text_bigram_lm_topk "
    "is the same model's continuation view). Bigram explode scan-local; "
    "pair/start counts are vocabulary-bound partial-agg shuffles; V joins "
    "via a constant key (broadcast hash, not a nested loop); perplexity "
    "is exp of the ROUNDED mean so only the mean's ~1e-14 summation ulps "
    "ever face the 6-dp grain",
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tx.bigram_logprob_score(d, "doc_id", "text")


@register(
    "text_quality_percentile_by_lang",
    f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS DOUBLE) AS n,
             CAST(len(list_filter(toks, x -> x IN ({_in_list(tx.LANG_STOPWORDS["en"])})))
                  AS DOUBLE) AS n_stop,
             CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct
      FROM t),
    q AS (SELECT doc_id, lang,
                 CASE WHEN n > 0 THEN
                   ROUND(0.4 * LEAST(n_stop / n * 5.0, 1.0)
                         + 0.3 * (n_distinct / n)
                         + 0.3 * (LEAST(n, 200.0) / 200.0), 6)
                 ELSE 0.0 END AS quality
          FROM s)
    SELECT doc_id, lang, quality,
           ROUND(PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality), 6)
             AS q_pct,
           CASE WHEN PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality)
                     >= 0.3 THEN 1 ELSE 0 END AS keep
    FROM q
    """,
    doc="per-language quality CALIBRATION: percent-rank each doc's quality "
    "score within its language and keep the top 70%% per language — "
    "absolute heuristic scores are not comparable across languages "
    "(stopword lists, script lengths), so real curation thresholds rank "
    "WITHIN language; this face is that normalization. Rank runs on the "
    "6-dp-ROUNDED score (ties rank identically on both engines; "
    "percent_rank is tie-stable by definition). One per-lang sort "
    "shuffle; at 100 TB a dominant language's partition is the skew "
    "concern — swap the window for per-lang percentile_approx "
    "thresholds joined back (the winsorize_by_group shape) at the cost "
    "of approximate cut points",
)
def text_quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    q = d.select(
        "doc_id", "lang", F.round(tx.quality_score("text"), 6).alias("quality")
    )
    w = Window.partitionBy("lang").orderBy("quality")
    pr = F.percent_rank().over(w)
    return q.select(
        "doc_id",
        "lang",
        "quality",
        F.round(pr, 6).alias("q_pct"),
        (pr >= 0.3).cast("int").alias("keep"),
    )


@register(
    "llm_export_shards",
    f"""
    WITH t AS (SELECT source, doc_id, text,
                      CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents),
    p AS (SELECT source, doc_id, n_tokens,
                 CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
                 AS BIGINT) AS pack_id
          FROM t),
    packs AS (SELECT source, pack_id, COUNT(*) AS n_docs,
                     SUM(n_tokens) AS n_tokens
              FROM p GROUP BY source, pack_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_packs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM packs GROUP BY source
    """,
    doc="training-shard EXPORT, the pipeline's last mile: the packed "
    "~256-token sequences are written as parquet shards with "
    "maxRecordsPerFile=16 (bounded shard size — what a data loader "
    "wants: many same-sized files, not one giant or a million tiny), "
    "range-partitioned + sorted on (source, pack_id) so each shard "
    "holds contiguous packs of one domain, then READ BACK and "
    "re-aggregated per source. The oracle aggregates the pack relation "
    "directly: matching hashes prove the export+reload is lossless "
    "end-to-end. Shard-size bounds are pinned in "
    "tests/test_round5_ops.py",
)
def llm_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    d = load_table(spark, sf_dir, "documents")
    p = tx.greedy_pack(d, "source", "doc_id", "text", 256, extra_cols=("text",))
    ordered = F.array_sort(F.collect_list(F.struct("doc_id", "text")))
    packs = p.groupBy("source", "pack_id").agg(
        F.array_join(F.transform(ordered, lambda s: s["text"]), " <eos> ").alias(
            "packed_text"
        ),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    path = tempfile.mkdtemp(prefix="aidc_shards_")
    (
        packs.repartitionByRange(8, "source", "pack_id")
        .sortWithinPartitions("source", "pack_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 16)
        .parquet(path)
    )
    back = spark.read.parquet(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_packs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )


@register(
    "text_repetition_signals",
    f"""
    WITH {tx.repetition_ctes_sql(f"SELECT doc_id, {_TOKS} AS toks FROM documents")}
    SELECT d.doc_id,
           CAST(COALESCE(tot1, 0) AS BIGINT) AS n_words,
           CAST(max1 AS DOUBLE) / tot1 AS top_token_frac,
           CAST(max2 AS DOUBLE) / tot2 AS top_bigram_frac,
           CAST(CASE WHEN tot3 IS NOT NULL THEN COALESCE(dup3, 0) END AS DOUBLE)
             / tot3 AS dup_trigram_frac,
           CASE WHEN tot2 IS NOT NULL AND tot3 IS NOT NULL THEN
             CAST({tx.REPETITION_VERDICT_SQL} AS BIGINT)
           END AS repetitive
    FROM documents d LEFT JOIN rp USING (doc_id)
    """,
    doc="Gopher-style repetition quality signals (Rae et al. 2021 A1.1) "
    "at token n-gram level: top-token / top-bigram mass fraction, "
    "duplicate-trigram occurrence fraction, and a `repetitive` verdict at "
    "the published-style thresholds (top-bigram > 0.20 OR dup-trigram > "
    "0.30) evaluated in INTEGER arithmetic — the standard boilerplate/"
    "spam pre-training filter the lang-id/stopword/length signals miss. "
    "The verdict presumes the upstream min-length filter (P3): a doc "
    "with < 5 bigrams trips the 0.20 threshold by construction. "
    "Round 6 subsumes the r4 face of the same name (top_word_frac -> "
    "top_token_frac; adds n_words continuity column, dup-trigram "
    "fraction, the verdict, and NULL rows for docs the old inner join "
    "dropped). "
    "One explode, two map-side-partial aggregations, no hot-path join; "
    "fractions are single IEEE divisions of exact bigint counts",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return tx.repetition_signals(d, "doc_id", "text")


_MG_EVAL_COUNTERS = 200


@register(
    "text_heavy_hitters_eval",
    f"""
    WITH t AS (SELECT unnest({_TOKS}) AS term FROM documents),
    ex AS (SELECT term, COUNT(*) AS f FROM t GROUP BY term),
    tot AS (SELECT CAST(SUM(f) AS BIGINT) AS n_tokens FROM ex)
    SELECT tot.n_tokens,
           CAST((SELECT COUNT(*) FROM ex, tot
                 WHERE f * {_MG_EVAL_COUNTERS + 1} > tot.n_tokens)
                AS BIGINT) AS n_true_hh,
           CAST(0 AS BIGINT) AS n_missed,
           CAST(0 AS BIGINT) AS n_bound_violations
    FROM tot
    """,
    doc="Misra-Gries quality scorecard, ORACLE-CHECKED (round-7, the "
    "eval-face pattern applied to text_heavy_hitters_mg): the merged "
    "full summary (k=None — every surviving counter, <= n_counters x "
    "partitions rows, no top-k cut) is audited against the exact term "
    "counts for the two PARTITION-LAYOUT-INVARIANT guarantees of the "
    "mergeable summary: (1) every term with f > n/(c+1) appears "
    "(n_missed = 0), (2) every estimate satisfies "
    "f - n/(c+1) <= est <= f (n_bound_violations = 0), both checked in "
    "exact integer arithmetic. The estimates themselves stay out of the "
    "emitted row — they genuinely depend on layout; the guarantees do "
    "not, which is exactly what makes the operator deployable at "
    "100 TB. Measured at sf0.01: 30 true heavy hitters over 27,165 "
    "tokens, zero missed, zero violations",
)
def text_heavy_hitters_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _MG_EVAL_COUNTERS
    d = load_table(spark, sf_dir, "documents")
    terms = d.select(F.explode(tx.tokenize("text")).alias("term"))
    exact = terms.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    tot = exact.agg(F.sum("f").alias("n_tokens"))
    mg = tx.heavy_hitters_mg(terms, "term", k=None, n_counters=c)
    hh = exact.crossJoin(F.broadcast(tot)).where(
        F.col("f") * (c + 1) > F.col("n_tokens")
    )
    miss = hh.join(mg, "term", "left").agg(
        F.count(F.lit(1)).alias("n_true_hh"),
        F.coalesce(
            F.sum(F.col("est_count").isNull().cast("long")), F.lit(0)
        ).alias("n_missed"),
    )
    # bound check in exact integers: est <= f AND (f - est)*(c+1) <= n
    viol = (
        mg.join(exact, "term")
        .crossJoin(F.broadcast(tot))
        .where(
            (F.col("est_count") > F.col("f"))
            | ((F.col("f") - F.col("est_count")) * (c + 1) > F.col("n_tokens"))
        )
        .agg(F.count(F.lit(1)).alias("n_bound_violations"))
    )
    return (
        tot.crossJoin(F.broadcast(miss))
        .crossJoin(F.broadcast(viol))
        .select("n_tokens", "n_true_hh", "n_missed", "n_bound_violations")
    )


# --- DSIR: importance-resampled data selection ----------------------------
_DSIR_BUCKETS = 256
_DSIR_KEEP = 0.2
_DSIR_U_DENOM = "1152921504606846977.0"  # 2^60 + 1 as a double literal


def _dsir_ctes() -> str:
    """Shared WITH-clause body of the DSIR construction — bucket models,
    integer micro-weights, gumbel keys, per-source selection (relation
    ``dsel``) — reused verbatim by the face oracle and the composed
    semantic-curation pipeline (plans/pipeline_queries.py)."""
    return f"""d AS (SELECT doc_id, source, lang = 'en' AS t, {{toks}} AS toks
               FROM documents),
    bgs AS (SELECT doc_id, t,
                   list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1]) AS bg
            FROM d),
    ex AS (SELECT doc_id, t,
                  CAST(CONCAT('0x', SUBSTR(MD5('dsir:' || g.b), 1, 15)) AS BIGINT)
                    % {_DSIR_BUCKETS} AS bucket
           FROM bgs, UNNEST(bg) AS g(b)),
    st AS (SELECT bucket, COUNT(*) AS r, COUNT(*) FILTER (t) AS tc
           FROM ex GROUP BY bucket),
    lr AS (SELECT bucket,
                  CAST(ROUND((LN((tc + 1.0) / (SUM(tc) OVER () + {_DSIR_BUCKETS}))
                              - LN((r + 1.0) / (SUM(r) OVER () + {_DSIR_BUCKETS})))
                             * 1000000.0, 0) AS BIGINT) AS lr_micro
           FROM st),
    dw AS (SELECT doc_id, CAST(SUM(lr_micro) AS BIGINT) AS w
           FROM ex JOIN lr USING (bucket) GROUP BY doc_id),
    sc AS (SELECT d.doc_id, d.source,
                  CAST(COALESCE(dw.w, 0) AS BIGINT) AS weight_micro,
                  CAST(ROUND(-LN(-LN(
                        (CAST(CONCAT('0x', SUBSTR(MD5('dsir:g:'
                              || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                         + 1.0) / {_DSIR_U_DENOM}))
                       * 1000000.0, 0) AS BIGINT) AS gumbel_micro
           FROM d LEFT JOIN dw USING (doc_id)),
    kk AS (SELECT *, weight_micro + gumbel_micro AS key_micro FROM sc),
    dsel AS (
      SELECT doc_id, source, weight_micro, gumbel_micro, key_micro,
             CAST(CASE WHEN ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY key_micro DESC, doc_id ASC)
                       <= CEIL(COUNT(*) OVER (PARTITION BY source) * {_DSIR_KEEP})
                  THEN 1 ELSE 0 END AS BIGINT) AS selected
      FROM kk)""".replace("{toks}", _TOKS)


@register(
    "text_dsir_selection",
    f"""
    WITH {_dsir_ctes()}
    SELECT doc_id, source, weight_micro, gumbel_micro, key_micro, selected
    FROM dsel
    """,
    doc="DSIR — Data Selection via Importance Resampling (Xie et al. "
    "2023): per-document importance weight = sum over its hashed word-"
    "bigram occurrences of the add-one-smoothed log-likelihood ratio "
    "between the TARGET domain's bucket model (here lang='en' — the "
    "domain-matching step of assembling a training mix) and the raw "
    "corpus's; Gumbel-top-k resampling via a hash-derived uniform makes "
    "the paper's sampling deterministic. Log-ratios are micro-scaled to "
    "INTEGERS once per bucket, so each document weight is an exact "
    "BIGINT sum — summation order provably cannot move it, a stronger "
    "contract than the repo's 6-dp rounding convention. Selection ranks "
    "within source (the deployment shard), keeping the top-k window "
    "partitioned rather than a global single-task sort; ceil(0.2 * n) "
    "per source. Plan: one bucket-keyed shuffle (256 keys, map-side "
    "combined) builds both models in a single aggregate; the bucket "
    "relation broadcasts back; one id-keyed shuffle sums integer "
    "weights; the per-source rank is the two-level prefix sum "
    "(intervals.hierarchical_running_sum keyed by source over 64 "
    "key-range buckets), so a dominant source never sorts in one task",
)
def text_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.operators.partitioning import spread_for_compute

    d = spread_for_compute(load_table(spark, sf_dir, "documents"), "doc_id")
    return tx.dsir_selection(
        d.withColumn("_is_target", F.col("lang") == "en"),
        id_col="doc_id",
        text_col="text",
        target_col="_is_target",
        group_col="source",
        n_buckets=_DSIR_BUCKETS,
        keep_frac=_DSIR_KEEP,
    )

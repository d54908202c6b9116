"""Text-analysis operators over a document corpus (BASELINE.json north
star: LLM-training-data pipeline ops as first-class engine components).

Everything is built-in Catalyst expressions (split/regexp/higher-order
functions) — no Python in the hot path, and the work stays scan-local
(no shuffle of its own). The higher-order functions (``filter``,
``transform``, ``aggregate``) are interpreted ``CodegenFallback``
expressions, not whole-stage-codegen'd ones, so their per-row cost is
the thing to keep small: each scoring rule below is ONE Spark SQL
expression string (``F.expr``) over the column's name, which costs one
py4j command to build instead of a Column chain per token function,
and reads its token array through one ``_sql.let`` binding, so a row is
tokenized once per rule rather than once per read.
Tokenization is whitespace-based and IDENTICAL in the DuckDB oracles
(regexp differences between engines are a classic parity trap — the
only regexes used behave identically in both).

SQL-text traps these builders avoid: a bare ``0.4`` is a DECIMAL in
Spark SQL (doubles are written ``0.4D``); the whitespace regex needs its
backslash doubled inside a SQL string literal; and lambda variables get
names that no column uses (``tok_``, ``w_`` …).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.functions.hashing import hash64, hash64_expr, word_fingerprint
from aidc_2018_timeseries_spark.operators._sql import _q, let
from aidc_2018_timeseries_spark.operators.intervals import hierarchical_running_sum

#: tiny embedded stopword lists for the language-ID heuristic. Real systems
#: use character n-gram models; the ENGINE mechanics (score-per-language,
#: deterministic argmax) are what matters here and they are identical.
LANG_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "una"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "dans", "pour", "que"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我", "他", "这"],
}


def _str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _tokens(expr: str) -> str:
    """Spark SQL text of :func:`tokenize` over the SQL expression ``expr``."""
    return rf"filter(split(lower(trim({expr})), '\\s+'), tok_ -> tok_ != '')"


def _hits(tokens: str, words: list[str]) -> str:
    """SQL text: how many elements of the token array ``tokens`` are in
    ``words`` (integer — exact parity)."""
    return f"size(filter({tokens}, w_ -> w_ IN ({', '.join(map(_str, words))})))"


def tokenize(text: str) -> Column:
    """Whitespace tokenization of the lowercased column ``text`` (empty
    tokens removed)."""
    return F.expr(_tokens(_q(text)))


def tokenize_sql(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`tokenize`."""
    return f"list_filter(string_split_regex(lower(trim({expr})), '\\s+'), t -> t <> '')"


def token_count(text: str) -> Column:
    return F.size(tokenize(text))


def type_token_ratio(text: str) -> Column:
    """Distinct tokens / total tokens — a classic repetition-quality signal.
    NULL for token-less docs (ANSI division would throw; the edge-corpus
    battery pins the guard)."""
    toks = tokenize(text)
    n = F.size(toks)
    return F.when(n > 0, F.size(F.array_distinct(toks)) / n)


def mean_token_length(text: str) -> Column:
    """NULL for token-less docs (ANSI division guard)."""
    toks = tokenize(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    n = F.size(toks)
    return F.when(n > 0, total.cast("double") / n)


def quality_score(text: str, stopwords: list[str] | None = None) -> Column:
    """Deterministic heuristic quality score in [0, 1]:

    0.4 * stopword-ratio-score + 0.3 * type-token-ratio
    + 0.3 * length-score(min(n_tokens, 200)/200)

    Mirrors the length/stopword/repetition signals of published quality
    classifiers (Gopher/C4 rules) in engine-checkable form.
    """
    n = "CAST(size(toks_) AS DOUBLE)"
    hits = _hits("toks_", stopwords or LANG_STOPWORDS["en"])
    # ~20% stopwords → full marks
    stop_score = f"least(CAST({hits} AS DOUBLE) / {n} * 5.0D, 1.0D)"
    ttr = f"CAST(size(array_distinct(toks_)) AS DOUBLE) / {n}"
    len_score = f"least({n}, 200.0D) / 200.0D"
    # empty/whitespace docs: no content = zero quality (ANSI division on
    # n = 0 would throw; found by the edge-corpus battery)
    score = f"0.4D * {stop_score} + 0.3D * ({ttr}) + 0.3D * ({len_score})"
    return F.expr(
        let("toks_", _tokens(_q(text)), f"CASE WHEN {n} > 0 THEN {score} ELSE 0.0D END")
    )


def lang_id(text: str) -> Column:
    """Deterministic argmax over per-language stopword hits; ties resolve
    in the fixed key order of LANG_STOPWORDS, unknown when every count is
    0 (or the text is NULL).

    A forward fold over the languages with a strict ``>``: a later
    language replaces the incumbent only when strictly better, so earlier
    languages win ties (matches the DuckDB oracle, whose CASE chain tests
    languages in the same order with >=; es/fr share stopwords so ties
    are realizable). The fold holds each language's count once, so the
    expression grows linearly with the number of languages; an unrolled
    ``when(...).otherwise(best)`` chain copies the incumbent score into
    both branches and doubles with every language.
    """
    langs = ", ".join(
        f"named_struct('lang', {_str(lang)}, 'hits', {_hits('toks_', words)})"
        for lang, words in LANG_STOPWORDS.items()
    )
    fold = (
        f"aggregate(array({langs}), named_struct('lang', 'unknown', 'hits', 0), "
        "(best_, l_) -> IF(l_.hits > best_.hits, l_, best_), best_ -> best_.lang)"
    )
    return F.expr(let("toks_", _tokens(_q(text)), fold))


def doc_fingerprint(text: str) -> Column:
    """Order-sensitive rolling hash of the token sequence (see
    functions/hashing.py); identical documents → identical fingerprint,
    resilient to case/whitespace differences."""
    return word_fingerprint(tokenize(text))


def char_ngrams_of_tokens(tokens: str, n: int) -> str:
    """Word n-gram shingles, as SQL text over the token-array SQL
    expression ``tokens``: join each n consecutive tokens with a space.

    ``transform(sequence(1, size-n+1), i -> concat_ws(' ', slice(toks, i, n)))``
    — empty when the document has fewer than n tokens. The short-doc case
    needs an explicit guard, not ``greatest(..., 0)``: Spark's
    ``sequence(1, 0)`` generates a DESCENDING [1, 0] (it never returns
    empty), and the 0 index then throws INVALID_PARAMETER in ANSI
    ``slice`` — found by the randomized losslessness property test on a
    corpus with 2-token docs (tests/test_dedup_properties.py); the
    driver testdata never exercises docs shorter than n.

    The token array is bound once (``let``): written out inside the
    ``transform`` lambda, it would be re-tokenized for every shingle.
    """
    starts = (
        f"IF(size(gram_toks_) >= {n}, sequence(1, size(gram_toks_) - {n - 1}), "
        "CAST(array() AS ARRAY<INT>))"
    )
    grams = f"transform({starts}, i_ -> concat_ws(' ', slice(gram_toks_, i_, {n})))"
    return let("gram_toks_", tokens, grams)


def shingle_hashes(text: str, n: int = 3, space_bits: int = 30) -> Column:
    """Distinct 30-bit hashes of word n-gram shingles — the MinHash input.

    30-bit reduction keeps downstream universal-hash arithmetic
    (a*h + b mod p) inside int64 without overflow in BOTH engines
    (Spark 4 runs ANSI mode: silent wraparound would instead throw).

    A document has a shingle iff it has at least n tokens, so node tests
    ask ``size(tokenize(text)) >= n`` instead of hashing every shingle.
    """
    shingles = char_ngrams_of_tokens(_tokens(_q(text)), n)
    hashed = f"{hash64_expr('sh_')} % {1 << space_bits}"
    return F.expr(f"array_distinct(transform({shingles}, sh_ -> {hashed}))")


#: GPT-2-style pretokenizer approximation, RE2-compatible (no lookahead —
#: DuckDB's regex engine is RE2, so the trailing-space variant of the real
#: BPE pattern can't be expressed identically in both engines).
BPE_ISH_PATTERN = r"'(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s']+"


def subword_count(text: Column | str) -> Column:
    """BPE-ish token count: matches of the GPT-2-style pretokenizer regex
    on lowercased text — the cheap token-budget estimator a training-data
    pipeline runs per document (real BPE merges only subdivide these
    pretokens further, so this lower-bounds the true BPE count)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(F.lower(c), F.lit(BPE_ISH_PATTERN))


def subword_count_sql(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`subword_count` (pattern apostrophe
    doubled for SQL string quoting)."""
    pat = BPE_ISH_PATTERN.replace("'", "''")
    return f"len(regexp_extract_all(lower({expr}), '{pat}'))"


def tfidf_top_terms(df, id_col: str, text_col: str, k: int = 3):
    """Top-k terms per document by smoothed TF-IDF (sklearn convention:
    idf = ln((1+N)/(1+df)) + 1), with a deterministic (score desc, term
    asc) tie-break. Returns (id, term, tfidf, rk).

    Plan shape at scale: explode → per-(doc, term) count (map-side
    partial), document frequency via a second partial agg shuffled by
    term, one broadcast-size join back, and a per-doc window for the
    top-k — every wide op keyed by doc or term, never all-pairs. The
    corpus size N is a driver-side scalar (one metadata-only parquet
    count), the same bookkeeping class as a training loop's step scalars.
    Scores are rounded to 6 dp BEFORE ranking so engine ulp noise in
    ``ln`` can't flip the cross-engine order.
    """
    n_docs = df.count()
    terms = df.select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((1.0 + float(n_docs)) / (1.0 + F.col("df"))) + F.lit(1.0)
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(id_col, "term", "tfidf", F.col("rk").cast("int").alias("rk"))
    )


def chunk_tokens(
    text: str, chunk_size: int, stride: int
) -> Column:
    """Overlapping token chunks: array<struct<chunk_id, n_tokens, chunk>>.

    The text analogue of the W1/W2 sliding windows (context-window
    chunking for LLM training): chunk c covers tokens
    [1 + c*stride, ... + chunk_size); chunks start while
    start <= n_tokens - chunk_size + 1, so full chunks only — except a
    document shorter than chunk_size yields its whole text as chunk 0
    (standard keep-short-docs behaviour).

    Pure scan-local expression: chunking fans out rows proportionally to
    output, no shuffle of its own. The token array is bound once
    (``let``), so the chunks slice it instead of re-tokenizing the
    document per chunk.
    """
    n = "size(ck_toks_)"
    n_chunks = f"IF({n} < {chunk_size}, 1, CAST(floor(({n} - {chunk_size}) / {stride}) AS INT) + 1)"
    chunks = (
        f"transform(sequence(0, {n_chunks} - 1), c_ -> named_struct("
        f"'chunk_id', CAST(c_ AS BIGINT), "
        f"'n_tokens', least({chunk_size}, {n} - c_ * {stride}), "
        f"'chunk', array_join(slice(ck_toks_, c_ * {stride} + 1, {chunk_size}), ' ')))"
    )
    return F.expr(let("ck_toks_", _tokens(_q(text)), chunks))


def chunk_hash_embeddings(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 32,
    stride: int = 16,
    dim: int = 32,
    id_shift: int = 8,
    seed: str = "fh",
):
    """Chunk → embed plumbing for a retrieval index (round 10, VERDICT r9
    ask 8): overlapping token chunks (:func:`chunk_tokens`) embedded with
    the FEATURE-HASHING trick (Weinberger et al. 2009, "Feature Hashing
    for Large Scale Multitask Learning") — component ``j`` of a chunk's
    ``dim``-dim embedding is the signed count of its tokens hashing to
    bucket ``j`` (bucket = md5-``hash64(seed:token) % dim``, sign from an
    independent hash bit). A real deployment swaps this stage for a model
    encoder behind the SAME (vec_id, embedding array<double>) contract;
    the hashing embedder keeps the end-to-end chain deterministic and
    DuckDB-oracle-checkable, and is itself a legitimate cheap retrieval
    baseline (hashed bag-of-words cosine).

    Returns (vec_id, doc_id, chunk_id, embedding): ``vec_id`` =
    ``doc_id << id_shift | chunk_id`` (callers must ensure chunks/doc <
    2^id_shift; chunk_tokens bounds it at ceil(max_tokens/stride)). A
    token-less chunk (empty document) embeds as the ZERO vector — it
    stays in the corpus and downstream cosine stages drop it via their
    NULL-on-zero-norm guard, the same contract as the embeddings table.

    Scale shape: chunking and token hashing are scan-local; one shuffle
    on (vec_id, bucket) with map-side combine (signed counts are exact
    integers in doubles — no float-order sensitivity), one on vec_id to
    densify. Embedding bytes ∝ corpus chunks × dim; nothing is
    all-pairs and no stage is corpus-global.
    """
    ch = df.select(
        F.col(id_col),
        F.explode(chunk_tokens(text_col, chunk_size, stride)).alias("_c"),
    ).select(
        (F.col(id_col).cast("long") * (1 << id_shift) + F.col("_c.chunk_id"))
        .alias("vec_id"),
        F.col(id_col).alias("doc_id"),
        F.col("_c.chunk_id").alias("chunk_id"),
        F.expr(_tokens("_c.chunk")).alias("_toks"),
    )
    tok = ch.select("vec_id", F.explode("_toks").alias("_tk"))
    comp = (
        tok.select(
            "vec_id",
            (hash64(F.concat(F.lit(f"{seed}:"), F.col("_tk"))) % dim).alias("_b"),
            F.when(
                hash64(F.concat(F.lit(f"{seed}s:"), F.col("_tk"))) % 2 == 0,
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias("_s"),
        )
        .groupBy("vec_id", "_b")
        .agg(F.sum("_s").alias("_v"))
    )
    dense = comp.groupBy("vec_id").agg(
        F.map_from_entries(F.collect_list(F.struct("_b", "_v"))).alias("_m")
    )
    return ch.select("vec_id", "doc_id", "chunk_id").join(
        dense, "vec_id", "left"
    ).select(
        "vec_id",
        "doc_id",
        "chunk_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(
                F.try_element_at("_m", i.cast("long")), F.lit(0.0)
            ),
        ).alias("embedding"),
    )


def remove_stopwords(text: str, stopwords: list[str] | None = None) -> Column:
    """struct<clean, n_kept, n_removed>: tokens minus the stopword list,
    rejoined with single spaces (curation normalization pass)."""
    stopwords = stopwords or LANG_STOPWORDS["en"]
    toks = tokenize(text)
    kept = F.filter(toks, lambda t: ~t.isin(*stopwords))
    return F.struct(
        F.array_join(kept, " ").alias("clean"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_removed"),
    )


#: (name, pattern, replacement) — ordered; applied sequentially. Patterns
#: restrict to the RE2 ∩ Java-regex dialect (char classes, bounded
#: quantifiers, \b — no backrefs, no lookaround) so the SAME string runs
#: in Spark (Java) and the DuckDB oracle (RE2) with identical semantics.
#:
#: Precision/recall tradeoff — these are CURATION-grade, recall-leaning
#: scrubbers, NOT a compliance-grade PII system (r4 advice item 4):
#: - ipv4 accepts octets up to 999 (validating 0-255 needs alternation
#:   that bloats the shared-dialect pattern for no curation benefit);
#: - phone matches any '+digit' run of 9+ digits/dashes/spaces, which
#:   over-matches ID-number-shaped strings — intentional: for training
#:   corpora, redacting a stray ID number costs nothing, leaking a phone
#:   number does;
#: - email misses RFC-5321 quoted local parts ("j doe"@x.com) and
#:   IP-literal domains — vanishingly rare in web text.
#: A deployment needing entity-level precision should layer a validating
#: second pass (e.g. octet range check, libphonenumber) over these spans.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d\- ]{7,}\d", "<PHONE>"),
]


def redact_pii(text: Column | str) -> Column:
    """Curation scrubbing pass: replace email / IPv4 / phone-shaped spans
    with typed placeholder tokens. Pure Catalyst regexp_replace chain —
    scan-local, codegen'd, no Python. Later patterns cannot re-match
    earlier replacements (placeholders contain no digits or '@')."""
    c = F.col(text) if isinstance(text, str) else text
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-pattern match counts on the ORIGINAL text (independent counts —
    audit layer for redaction coverage dashboards)."""
    c = F.col(text) if isinstance(text, str) else text
    return {
        name: F.regexp_count(c, F.lit(pat)).cast("long")
        for name, pat, _ in PII_PATTERNS
    }


def greedy_pack(
    df, group_col: str, id_col: str, text_col: str, budget: int,
    extra_cols: tuple[str, ...] = (),
):
    """Greedy sequence packing: assign docs (in id order within each
    group) to consecutive packs of ~``budget`` tokens — the
    sample-packing step of an LLM data pipeline, expressed as a running
    token cumsum: pack_id = floor(tokens_before / budget). A pack can
    overflow by at most one document (the standard streaming-packing
    approximation; exact bin packing is NP-hard and order-destroying).

    One shuffle on the group column; the cumsum window is per group, so
    parallelism = #groups (shards/sources), the same unit real pipelines
    pack within.
    """
    from pyspark.sql import Window

    n_tok = token_count(text_col)
    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        df.select(group_col, id_col, n_tok.cast("long").alias("n_tokens"), *extra_cols)
        .withColumn("pack_id", F.floor(before / budget).cast("long"))
    )


def boilerplate_fraction(
    df,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    min_docs: int = 10,
):
    """Template/boilerplate detection (the cross-document sibling of the
    intra-document repetition signals): per document, the fraction of its
    DISTINCT word n-gram shingles that are corpus-frequent — i.e. appear
    in at least ``min_docs`` documents. Near-template pages (navigation
    chrome, license banners, mirrored FAQ text) score high and get
    down-weighted or dropped by curation pipelines (the cross-doc filter
    family of CCNet/RefinedWeb, restated over shingles because this
    corpus has no line structure).

    Returns (id, n_shingles, n_frequent, boilerplate_frac); documents too
    short to shingle surface with zeros rather than vanishing.

    Scale shape: shingle_hashes is scan-local; the doc-frequency count
    shuffles only (shingle → count) partials; the frequent-shingle set is
    then SMALL by construction (only shingles hit by ≥ min_docs docs — at
    100 TB these are the heavy hitters, bounded far below the corpus) so
    it broadcasts, and the per-doc membership count is a map-side
    broadcast semi join + one groupBy(doc). Nothing is ever all-pairs.
    The fraction is one exact-integer division, emitted UNROUNDED (same
    rationale as ngram-jaccard: bit-deterministic cross-engine, while
    ROUND can flip on exactly-terminating ratios).
    """
    ids = df.select(F.col(id_col))
    sh = df.select(
        F.col(id_col), F.explode(shingle_hashes(text_col, n=shingle_n)).alias("sh")
    )
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    frequent = dfreq.filter(F.col("df") >= min_docs).select("sh")
    per_doc = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    n_freq = (
        sh.join(F.broadcast(frequent), "sh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_frequent"))
    )
    joined = (
        ids.join(per_doc, id_col, "left")
        .join(n_freq, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_shingles", F.lit(0)).cast("long").alias("n_shingles"),
            F.coalesce("n_frequent", F.lit(0)).cast("long").alias("n_frequent"),
        )
    )
    frac = F.when(
        F.col("n_shingles") == 0, F.lit(0.0)
    ).otherwise(F.col("n_frequent").cast("double") / F.col("n_shingles"))
    return joined.select(
        id_col, "n_shingles", "n_frequent", frac.alias("boilerplate_frac")
    )


def heavy_hitters_mg(
    df,
    col: str,
    k: int | None = 50,
    n_counters: int = 200,
):
    """Approximate heavy hitters via per-partition Misra-Gries summaries —
    the BOUNDED-SHUFFLE sibling of the exact vocab scan
    (plans/text_queries.text_vocab_top_terms).

    Why it exists: the exact top-k shuffles one partial-count row per
    DISTINCT term per partition — at 100 TB a trillion-token vocabulary
    tail makes that shuffle volume the bottleneck even though the final
    top-k is tiny. Misra-Gries caps each partition's contribution at
    ``n_counters`` rows regardless of vocabulary size: shuffle volume is
    n_counters × partitions, full stop.

    Guarantee (mergeable-summary bound, summed across partitions): for
    every term x with true count f(x),
        f(x) − n/(n_counters+1)  ≤  est(x)  ≤  f(x),
    so every term with f(x) > n/(n_counters+1) survives SOME partition
    and any term with f(x) > 2n/(n_counters+1) must land in the global
    top-k for k ≥ #such terms. Estimates depend on partition layout
    (summaries are deterministic given a layout, not across layouts) —
    hence no static SQL oracle; the bound is pinned in pytest.

    Output: exactly min(k, #surviving terms) rows (term, est_count),
    ordered (est desc, term asc) for a deterministic cut. ``k=None``
    returns the FULL merged summary (<= n_counters x partitions rows,
    no global sort) — the eval face joins it against exact counts to
    certify the no-missed-heavy-hitter guarantee, where a top-k
    ``orderBy().limit()`` would both truncate the evidence and force a
    TakeOrderedAndProject over an unbounded k.
    """
    import pandas as pd

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            for x in pdf[col]:
                if x in counters:
                    counters[x] += 1
                elif len(counters) < n_counters:
                    counters[x] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd.DataFrame(
                {col: list(counters.keys()), "mg_count": list(counters.values())}
            )

    summaries = df.select(col).mapInPandas(mg, schema=f"{col} string, mg_count long")
    merged = summaries.groupBy(col).agg(F.sum("mg_count").alias("est_count"))
    if k is None:
        return merged
    return merged.orderBy(F.desc("est_count"), F.asc(col)).limit(k)


def fim_transform(text: str, doc_id: Column | str) -> Column:
    """Fill-in-the-middle (FIM) reordering — the code-model training
    transform (Bavarian et al. 2022): split the token sequence into
    (prefix, middle, suffix) and emit it PSM-reordered with sentinel
    tokens, so the model learns to infill. Split points are DETERMINISTIC
    per document (derived from doc_id, not RNG): the prefix ends at
    (2+doc_id%3)/10 of the tokens and the middle at (6+doc_id%3)/10, so
    the corpus gets varied split geometry while both engines — and any
    re-run — produce identical bytes.

    Returns struct<psm, n_prefix, n_middle, n_suffix>. Scan-local
    expression: no shuffle, no Python.
    """
    d = F.col(doc_id) if isinstance(doc_id, str) else doc_id
    toks = tokenize(text)
    n = F.size(toks)
    lo = (F.lit(2) + d % 3).cast("long")
    a = F.floor(n * lo / 10).cast("int")
    b = F.floor(n * (lo + 4) / 10).cast("int")
    prefix = F.slice(toks, 1, a)
    middle = F.slice(toks, a + 1, b - a)
    suffix = F.slice(toks, b + 1, n - b)
    psm = F.concat_ws(
        " ",
        F.lit("<PRE>"),
        F.array_join(prefix, " "),
        F.lit("<SUF>"),
        F.array_join(suffix, " "),
        F.lit("<MID>"),
        F.array_join(middle, " "),
    )
    return F.struct(
        psm.alias("psm"),
        F.size(prefix).cast("long").alias("n_prefix"),
        F.size(middle).cast("long").alias("n_middle"),
        F.size(suffix).cast("long").alias("n_suffix"),
    )


def length_bucket_batches(
    df,
    id_col: str,
    text_col: str,
    batch_size: int = 16,
):
    """Sequence-length bucketing for batch assembly: docs are grouped into
    power-of-two token-length buckets, then batched within each bucket in
    id order — minimizing the padding waste of batching a 10-token doc
    with a 500-token one (the dynamic-batching step before training).

    Returns (id, n_tokens, bucket, batch_id). The window runs PER BUCKET
    (shuffle key = bucket, bounded count: log2 of the max length), and
    batch_id is a row_number cumsum within the bucket — at 100 TB you'd
    sub-partition the window key by shard exactly like greedy_pack does
    with its source column; the bucket assignment itself is scan-local.
    """
    from pyspark.sql import Window

    n = token_count(text_col)
    bucketed = df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.floor(F.log2(F.greatest(n, F.lit(1)))).cast("long").alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy(id_col)
    return bucketed.withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / batch_size).cast("long"),
    )


def bigram_lm_topk(
    df: DataFrame, text_col: str, k: int = 3, min_count: int = 2
) -> DataFrame:
    """Corpus bigram language model, top-k continuations: for every word,
    the k most frequent next words with their conditional probability
    P(w2|w1) = count(w1 w2)/count(w1 ·). The classical count-based LM that
    doubles as a corpus-quality probe (machine-generated/boilerplate text
    shows abnormally peaked continuation distributions) and as the
    statistics pass of phrase/collocation mining.

    Plan: bigram explode is scan-local; ONE shuffle on (w1, w2) for the
    pair counts; the per-w1 total and rank ride a window over the (much
    smaller) counts relation partitioned by w1. Ranking is deterministic:
    count desc, then w2 asc. At 100 TB the pair-counts relation is the
    vocabulary squared at worst — still tiny next to the corpus — and the
    min_count filter prunes the long tail before it is ever ranked.
    """
    from pyspark.sql import Window

    toks = tokenize(text_col)
    pairs = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("w1"),
                F.element_at(F.col("toks"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    bg = (
        df.select(toks.alias("toks"))
        .select(F.explode(pairs).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    w_tot = Window.partitionBy("w1")
    w_rank = Window.partitionBy("w1").orderBy(F.col("n_pair").desc(), F.col("w2"))
    return (
        counts.withColumn("tot", F.sum("n_pair").over(w_tot))
        .withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter((F.col("rank") <= k) & (F.col("n_pair") >= min_count))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(F.col("n_pair") / F.col("tot"), 6).alias("p_next"),
            "rank",
        )
    )


def bigram_logprob_score(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Per-document language-model quality score: the mean add-1-smoothed
    bigram log-probability of the document under the CORPUS's own bigram
    model — ln((c(w1,w2) + 1) / (c(w1,·) + V)) averaged over the doc's
    bigram tokens, plus the perplexity exp(−mean). This is the
    KenLM-style fluency filter of CCNet/Gopher-class curation pipelines
    (docs far below the corpus's typical log-prob are boilerplate,
    gibberish, or the wrong register), self-trained so it needs no
    external model artifact; :func:`bigram_lm_topk` exposes the same
    model's top continuations.

    Determinism: mean log-prob is rounded to 6 dp, and perplexity is
    exp of the ROUNDED mean (rounded again) — so the only cross-engine
    float hazard is summation order inside the per-doc mean, ~1e-14
    relative on realistic doc lengths, far under the rounding grain.

    Scale: bigram explode is scan-local; pair counts and start counts
    are each ONE partial-aggregated shuffle whose output is vocabulary-
    bound (tiny next to the corpus); scoring joins are keyed by (w1,w2)
    and w1 — at 100 TB the counts relations almost always broadcast, and
    V (one global scalar) joins via a constant key, never a nested loop.
    Docs with < 2 tokens score NULL (no bigrams), kept with n_bigrams=0.
    """
    toks = tokenize(text_col)
    pairs = F.when(
        F.size("toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 1),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("w1"),
                F.element_at(F.col("toks"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    base = df.select(F.col(id_col), toks.alias("toks"))
    bg = base.select(
        id_col, F.explode(pairs).alias("bg")
    ).select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    pair_counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    start_counts = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("n_start"))
    # V resolved by a one-off count job and folded in as a literal — the
    # same one-scalar-from-the-corpus pattern as similarity.scaled_n_bits.
    # Joining the 1-row V aggregate instead planned a BroadcastNestedLoopJoin
    # (Catalyst folds any constant join key and drops the equi-condition),
    # which the plan audit bans; a literal keeps the scoring plan pure
    # equi-joins and costs one cheap distinct-count job per model build.
    v = (
        base.select(F.explode("toks").alias("w"))
        .agg(F.count_distinct("w").alias("v"))
        .first()["v"]
    )
    scored = (
        bg.join(pair_counts, ["w1", "w2"])
        .join(start_counts, "w1")
        .withColumn(
            "lp",
            F.log(
                (F.col("n_pair") + F.lit(1.0))
                / (F.col("n_start") + F.lit(float(v)))
            ),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )
    out = base.select(id_col).join(agg, id_col, "left")
    return out.select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        "avg_logprob",
        F.round(F.exp(-F.col("avg_logprob")), 6).alias("perplexity"),
    )


def repetition_ctes_sql(t_src: str) -> str:
    """DuckDB CTE chain for the repetition aggregates — the ONE source
    both oracle consumers build on (``text_repetition_signals`` and the
    ``llm_corpus_pipeline`` curation gate), mirroring the
    :func:`repetition_signals` Spark operator; change either in one
    place only (the ``_edit_block_ctes`` convention).

    ``t_src``: SQL producing (doc_id, toks). Emits CTEs ``rg``/``rc``/
    ``rp`` where ``rp`` is one row per doc with ≥ 1 token:
    (doc_id, max1, tot1, max2, tot2, dup3, tot3).
    """
    return f"""rt AS ({t_src}),
    rg AS (
      SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM rt
      UNION ALL
      SELECT doc_id, 2 AS n,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1])) AS gram FROM rt
      UNION ALL
      SELECT doc_id, 3 AS n,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS gram
      FROM rt),
    rc AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM rg GROUP BY doc_id, n, gram),
    rp AS (SELECT doc_id,
             MAX(CASE WHEN n = 1 THEN cnt END) AS max1,
             SUM(CASE WHEN n = 1 THEN cnt END) AS tot1,
             MAX(CASE WHEN n = 2 THEN cnt END) AS max2,
             SUM(CASE WHEN n = 2 THEN cnt END) AS tot2,
             SUM(CASE WHEN n = 3 AND cnt > 1 THEN cnt END) AS dup3,
             SUM(CASE WHEN n = 3 THEN cnt END) AS tot3
           FROM rc GROUP BY doc_id)"""


#: the repetitive-doc verdict over ``rp`` columns, INTEGER arithmetic
#: (top-bigram > 0.20 OR dup-trigram > 0.30) — shared by both oracles.
REPETITION_VERDICT_SQL = "(5 * max2 > tot2 OR 10 * COALESCE(dup3, 0) > 3 * tot3)"


def repetition_signals(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1),
    adapted to token n-grams: per document, the fraction of mass taken by
    the most frequent token and bigram, the fraction of trigram
    occurrences that are repeats, and a `repetitive` verdict at the
    published-style thresholds (top-bigram > 0.20 OR duplicate-trigram
    > 0.30). Low-quality boilerplate/spam pages are dominated by repeated
    phrases; this is the standard pre-training filter the lang-id /
    stopword / length signals don't catch.

    Shuffle structure: ONE explode of (doc, n, gram) rows → groupBy
    (doc, n, gram) count (map-side partial — repeated grams combine
    before the shuffle) → groupBy doc with conditional aggregates. Both
    aggregations key on doc-prefixed composites, so at 100 TB this is
    two AQE-sized hash shuffles of count rows, never wider than the
    gram-occurrence relation; no window, no join on the hot path (one
    broadcast-sized left join restores token-less docs as NULL rows).

    Determinism: every fraction is a single IEEE division of two exact
    bigint counts (unrounded — the jaccard precedent), and the verdict
    compares in INTEGER arithmetic (5*max2 > tot2, 10*dup3 > 3*tot3), so
    no accumulation-order or float-threshold surface exists.
    """
    # n=1 grams ARE the token array — tagging it directly skips the
    # per-element sequence+slice+concat_ws round trip on the explode's
    # hot path (review finding; grams are byte-identical either way)
    grams = ["toks_"] + [char_ngrams_of_tokens("toks_", n) for n in (2, 3)]
    tagged = ", ".join(
        f"transform({g}, g_ -> named_struct('n', {n}, 'gram', g_))"
        for n, g in enumerate(grams, 1)
    )
    tagged_grams = let("toks_", _tokens(_q(text_col)), f"concat({tagged})")
    exploded = df.selectExpr(_q(id_col), f"inline({tagged_grams})")
    counts = exploded.groupBy(id_col, "n", "gram").agg(F.expr("count(1) AS cnt"))
    per_doc = counts.groupBy(id_col).agg(
        *(
            F.expr(e)
            for e in (
                "max(CASE WHEN n = 1 THEN cnt END) AS max1",
                "sum(CASE WHEN n = 1 THEN cnt END) AS tot1",
                "max(CASE WHEN n = 2 THEN cnt END) AS max2",
                "sum(CASE WHEN n = 2 THEN cnt END) AS tot2",
                "sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt END) AS dup3",
                "sum(CASE WHEN n = 3 THEN cnt END) AS tot3",
            )
        )
    )
    dup3 = "CASE WHEN tot3 IS NOT NULL THEN coalesce(dup3, 0) END"
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .selectExpr(
            _q(id_col),
            "CAST(coalesce(tot1, 0) AS BIGINT) AS n_words",
            "max1 / tot1 AS top_token_frac",
            "max2 / tot2 AS top_bigram_frac",
            f"{dup3} / tot3 AS dup_trigram_frac",
            "CASE WHEN tot2 IS NOT NULL AND tot3 IS NOT NULL THEN"
            f" CAST(5 * max2 > tot2 OR 10 * {dup3} > 3 * tot3 AS BIGINT) END AS repetitive",
        )
    )


def dsir_selection(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    group_col: str,
    n_buckets: int = 256,
    keep_frac: float = 0.2,
    seed: str = "dsir",
    rank_buckets: int = 64,
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169): score every document by how much more likely its
    hashed-n-gram features are under the TARGET domain's unigram-over-
    buckets model than under the raw corpus's, then Gumbel-top-k
    resample. Returns one row per document:
    ``(id, <group_col>, weight_micro, gumbel_micro, key_micro, selected)``.

    Deterministic, cross-engine-exact construction:

    - Features: word-bigram occurrences (with multiplicity — DSIR models
      counts), hashed to ``n_buckets`` buckets via the repo's md5-based
      ``hash64`` (bit-identical in DuckDB).
    - Bucket models: add-one smoothing; the per-bucket log-likelihood
      ratio ``ln((t_b+1)/(T+B)) - ln((r_b+1)/(R+B))`` is scaled to
      MICRO-units and rounded to an INTEGER once, so every per-document
      weight is an exact BIGINT sum — summation order cannot move it
      (the float-sum ulp trap the 6-dp convention guards against is
      eliminated outright, not just rounded away).
    - Gumbel noise: ``g = -ln(-ln(u))`` with ``u`` a hash-derived uniform
      in (0,1) per document — the paper's sampling made reproducible;
      also micro-scaled to BIGINT. ``key = weight + gumbel``.
    - Selection: within each ``group_col`` value (the source/shard — the
      deployment unit a 100 TB selection ranks within, keeping the sort
      partitioned rather than a global single-task window), the top
      ``ceil(keep_frac * n_group)`` keys are selected; ties break on id.

    Plan shape: the bigram explode is scan-local; ONE shuffle on bucket
    (n_buckets keys, map-side combined) builds both models in the same
    aggregate; the tiny bucket relation (with window totals over its
    n_buckets rows) broadcasts back onto the exploded relation; one
    shuffle on id sums each document's integer weight. Documents with
    <2 tokens have no features and weight 0 — they still enter the
    ranking (the paper resamples over the full raw corpus).

    Rank stage (round 10, VERDICT r9 ask 3 — skew relief): a plain
    ``Window.partitionBy(group).orderBy(key desc)`` row_number serializes
    a DOMINANT source into one task (a Zipf source holding 90% of a
    100 TB corpus = one executor sorting 90 TB). The rank is instead the
    two-level prefix sum ``operators/intervals.hierarchical_running_sum``
    keyed by group: (1) bucket rows within each group by integer key
    RANGE, descending — ``_kb = (kmax − key) DIV width`` with a per-group
    width targeting ``rank_buckets`` buckets, so bucket order equals key
    order and equal keys share a bucket; (2) a running count of 1 over
    (key desc, id) within (group, bucket) — partitions bounded ≈
    n_group/rank_buckets because keys are near-unique by construction
    (per-doc hash Gumbel in micro units) — plus the bucket's exclusive
    offset from the ≤ rank_buckets-rows-per-group totals relation. The
    rank is identical to the single-window rank (equality pytest-pinned
    in tests/test_dsir.py), all integer arithmetic so cross-engine-exact.
    ``rank_buckets=0`` selects the plain single-window rank (the equality
    baseline).
    """
    from pyspark.sql import Window

    docs = df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(target_col).alias("_t"),
        F.expr(char_ngrams_of_tokens(_tokens(_q(text_col)), 2)).alias("_bgs"),
    )
    exploded = docs.select(
        id_col, F.explode("_bgs").alias("_bg"), "_t"
    ).select(
        id_col,
        (hash64(F.concat(F.lit(f"{seed}:"), F.col("_bg"))) % n_buckets).alias("_bucket"),
        "_t",
    )
    # Collapse occurrences to (doc, bucket, count) ONCE and materialize:
    # the exploded relation feeds both the bucket models and the per-doc
    # weights, and without the checkpoint the tokenize→explode→md5 corpus
    # pass runs TWICE — attributed at the 500k-doc decade as 2 × ~55s of
    # the face's 126s wall (SCALING.md round-8 continuation). The
    # checkpointed relation is NARROW (two ints, a bool, a count —
    # bounded by docs × min(bigrams/doc, n_buckets) rows, never bodies);
    # the same executor-storage-vs-recompute trade as the ngram posting
    # relations. Weights are unchanged: Σ cnt·lr over (doc, bucket) is
    # the same exact BIGINT as Σ lr over occurrences. eager=False
    # (ADVICE r8): merely CONSTRUCTING the DataFrame must not run the
    # corpus pass — the first action materializes it once and both
    # consumers (bucket models, per-doc weights) reuse it.
    docbucket = (
        exploded.groupBy(id_col, "_bucket", "_t")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .localCheckpoint(eager=False)
    )
    stats = docbucket.groupBy("_bucket").agg(
        F.sum("_cnt").alias("_r"),
        F.sum(F.when(F.col("_t"), F.col("_cnt")).otherwise(0)).alias("_tc"),
    )
    w_all = Window.partitionBy()  # over the n_buckets-row stats relation only
    stats = stats.select(
        "_bucket",
        (
            F.round(
                (
                    F.log((F.col("_tc") + 1.0) / (F.sum("_tc").over(w_all) + n_buckets))
                    - F.log((F.col("_r") + 1.0) / (F.sum("_r").over(w_all) + n_buckets))
                )
                * 1000000.0,
                0,
            ).cast("long")
        ).alias("_lr_micro"),
    )
    doc_w = (
        docbucket.join(F.broadcast(stats), "_bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("_cnt") * F.col("_lr_micro")).alias("weight_micro"))
    )
    u = (
        hash64(F.concat(F.lit(f"{seed}:g:"), F.col(id_col).cast("string"))) + 1.0
    ) / float((1 << 60) + 1)
    scored = (
        df.select(id_col, group_col)
        .join(doc_w, id_col, "left")
        .select(
            id_col,
            group_col,
            F.coalesce("weight_micro", F.lit(0)).cast("long").alias("weight_micro"),
            F.round(-F.log(-F.log(u)) * 1000000.0, 0).cast("long").alias("gumbel_micro"),
        )
        .withColumn("key_micro", F.col("weight_micro") + F.col("gumbel_micro"))
    )
    out_cols = [id_col, group_col, "weight_micro", "gumbel_micro", "key_micro"]
    if not rank_buckets:
        w_rank = Window.partitionBy(group_col).orderBy(
            F.col("key_micro").desc(), F.col(id_col).asc()
        )
        w_grp = Window.partitionBy(group_col)
        return scored.select(
            *out_cols,
            F.when(
                F.row_number().over(w_rank)
                <= F.ceil(F.count(F.lit(1)).over(w_grp) * keep_frac),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("selected"),
        )
    # Skew-safe two-level rank (see docstring). `scored` feeds BOTH the
    # per-group range aggregate and the bucketed relation — without a
    # barrier the weight aggregation + gumbel hashing run twice (measured
    # 13.6s of the 57.9s Zipf-decade wall; the docbucket checkpoint
    # bounds the recompute but not the doc_w aggregate). eager=False:
    # construction stays lazy, the first action materializes once.
    scored = scored.localCheckpoint(eager=False)
    # The per-group (min, max, count) relation has one row per SOURCE —
    # broadcast by construction.
    grng = scored.groupBy(group_col).agg(
        F.min("key_micro").alias("_kmin"),
        F.max("key_micro").alias("_kmax"),
        F.count(F.lit(1)).alias("_ngrp"),
    )
    bucketed = (
        scored.join(F.broadcast(grng), group_col)
        .withColumn(
            "_kw",
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil(
                    (F.col("_kmax") - F.col("_kmin") + 1) / F.lit(int(rank_buckets))
                ).cast("long"),
            ),
        )
        # Integer DIV on the nonnegative (kmax − key): exact floor, no
        # double rounding; key desc ⇔ _kb asc, equal keys ⇒ equal _kb.
        .withColumn("_kb", F.expr("(_kmax - key_micro) DIV _kw"))
    )
    ranked = hierarchical_running_sum(
        bucketed,
        [group_col],
        "_kb",
        [F.col("key_micro").desc(), F.col(id_col).asc()],
        F.lit(1),
        out_col="_rank",
    )
    return ranked.select(
        *out_cols,
        F.when(F.col("_rank") <= F.ceil(F.col("_ngrp") * keep_frac), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("selected"),
    )

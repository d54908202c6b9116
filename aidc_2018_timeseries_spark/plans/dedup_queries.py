"""Catalog queries: deduplication over ``documents`` / ``embeddings``.

The DuckDB oracles restate each dedup algorithm in SQL with the SAME
md5-derived constants (generated from one Python source of truth), so the
driver's hash check verifies the algorithm, not just row counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.functions.hashing import hash64_sql
from aidc_2018_timeseries_spark.operators import dedup as dd
from aidc_2018_timeseries_spark.operators.similarity import (
    embedding_lsh_dup_pairs,
    hyperplane_rows,
)
from aidc_2018_timeseries_spark.operators.graph import connected_components
from aidc_2018_timeseries_spark.operators.partitioning import spread_for_compute
from aidc_2018_timeseries_spark.operators.text import (
    REPETITION_VERDICT_SQL as _REPETITION_VERDICT_SQL,
)
from aidc_2018_timeseries_spark.operators.text import (
    repetition_ctes_sql as _repetition_ctes_sql,
)
from aidc_2018_timeseries_spark.operators.text import tokenize_sql
from aidc_2018_timeseries_spark.plans.catalog import register
from aidc_2018_timeseries_spark.sources.tables import load_table

_TOKS = tokenize_sql("text")
_SHINGLE_N = 3
_NUM_HASHES = 16
_NUM_BANDS = 4

# word-3-gram shingles → distinct 30-bit hashes, as DuckDB SQL over `toks`
_SHINGLES = (
    f"list_transform(range(1, len(toks) - {_SHINGLE_N} + 2), "
    f"i -> array_to_string(list_slice(toks, i, i + {_SHINGLE_N} - 1), ' '))"
)
_SH30 = f"list_distinct(list_transform({_SHINGLES}, s -> {hash64_sql('s')} % 1073741824))"


# --- exact dedup (hash-groupBy) ---
@register(
    "dedup_exact",
    f"""
    WITH h AS (
      SELECT doc_id, md5(array_to_string({_TOKS}, ' ')) AS content_hash FROM documents),
    c AS (SELECT content_hash, MIN(doc_id) AS canonical_id FROM h GROUP BY content_hash)
    SELECT h.doc_id, c.canonical_id FROM h JOIN c USING (content_hash)
    """,
    doc="exact dedup: normalized content hash → min-id canonical mapping",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.exact_duplicates(d, "doc_id", "text")


# --- MinHash + LSH candidate pairs ---
def _minhash_pair_ctes(t_src: str | None = None) -> str:
    """Shared CTE chain ``t, sh, sigs, bands, pairs`` restating the whole
    MinHash+LSH candidate generation in DuckDB (same md5-derived constants
    as the Spark side). Docs with no shingles (< n tokens) are excluded,
    mirroring the explode-based Spark implementation. ``t_src`` overrides
    the SELECT providing ``t(doc_id, toks)`` so composed pipelines can
    run the same chain over a filtered corpus."""
    sig_exprs = []
    for i, (a, b) in enumerate(dd._minhash_params(_NUM_HASHES)):
        sig_exprs.append(
            f"list_min(list_transform(sh30, h -> ({a} * h + {b}) % "
            f"{dd.MINHASH_PRIME})) AS s{i}"
        )
    rows = _NUM_HASHES // _NUM_BANDS
    band_rows = []
    for band in range(_NUM_BANDS):
        cols = ", ".join(f"s{band * rows + j}::VARCHAR" for j in range(rows))
        bh = hash64_sql(f"array_to_string([{cols}], ',')")
        band_rows.append(f"SELECT doc_id, {band} AS band_id, {bh} AS band_hash FROM sigs")
    bands_union = " UNION ALL ".join(band_rows)
    t_src = t_src or f"SELECT doc_id, {_TOKS} AS toks FROM documents"
    return f"""t AS ({t_src}),
    sh AS (SELECT doc_id, {_SH30} AS sh30 FROM t WHERE len({_SH30}) > 0),
    sigs AS (SELECT doc_id, {", ".join(sig_exprs)} FROM sh),
    bands AS ({bands_union}),
    pairs AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id)"""


def _minhash_oracle() -> str:
    return f"WITH {_minhash_pair_ctes()} SELECT id_a, id_b FROM pairs"


@register(
    "dedup_minhash_pairs",
    _minhash_oracle(),
    doc="MinHash(16)+LSH(4 bands) candidate pairs — shingle→minhash→band→"
    "bucket-join; only band keys shuffle, never the doc cross product. "
    "Banded LSH is already within bands× of its (inherently "
    "copy-quadratic) output and signatures are copy-linear, so no "
    "exact-dup pre-collapse runs in front of it",
)
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.minhash_candidate_pairs(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, num_bands=_NUM_BANDS, shingle_n=_SHINGLE_N
    )


# --- exact n-gram Jaccard over candidate-generating inverted index ---
@register(
    "dedup_ngram_jaccard",
    f"""
    WITH t AS (SELECT doc_id, {_SH30} AS sh FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
    sh AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t),
    inter AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, l.n_sh AS size_a, r.n_sh AS size_b,
             COUNT(*) AS n_common
      FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      GROUP BY 1, 2, 3, 4)
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / (size_a + size_b - n_common) AS jaccard
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / (size_a + size_b - n_common) >= 0.8
    """,
    doc="exact 3-gram Jaccard ≥ 0.8 via inverted-index self-join. The "
    "ratio is UNROUNDED: intersection/union of exact integers is one "
    "bit-deterministic IEEE division, while ROUND(x, 6) breaks parity "
    "whenever a ratio terminates exactly on the boundary (i/128 has a "
    "7-digit decimal ending in 5)",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=_SHINGLE_N, threshold=0.8)


# --- SimHash buckets ---
def _simhash_oracle() -> str:
    votes = []
    for j in range(32):
        div = float(1 << j)
        votes.append(
            f"CASE WHEN CAST(list_sum(list_transform(th, h -> CASE WHEN "
            f"CAST(FLOOR(h / {div}) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END)) AS BIGINT) > 0 "
            f"THEN {1 << j} ELSE 0 END"
        )
    simhash = " + ".join(votes)
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    th AS (SELECT doc_id,
                  list_transform(toks, x -> {hash64_sql('x')} % 4294967296) AS th
           FROM t),
    s AS (SELECT doc_id, CAST({simhash} AS BIGINT) AS simhash FROM th)
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_id
    FROM s GROUP BY simhash
    """


@register(
    "dedup_simhash_buckets",
    _simhash_oracle(),
    doc="32-bit SimHash bucket dedup: scan-local signature, groupBy signature",
)
def dedup_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.simhash_buckets(d, "doc_id", "text")


# --- composed LLM-corpus pipeline: quality → lang → near-dup CC → canon ---
_Q_THRESHOLD = 0.3


def _corpus_pipeline_oracle() -> tuple[str, str]:
    """The whole curation chain as (CTE body, final SELECT): quality
    scoring, language ID, MinHash candidate pairs over the SURVIVORS,
    transitive closure, canonical (min-id) representative per cluster with
    its cluster size; no-shingle survivors pass through as singletons.
    That branch is always empty (every kept doc has >= 20 tokens); the
    Spark face has none, and parity proves it empty. Split so
    llm_corpus_pipeline_packed can extend the same chain."""
    from aidc_2018_timeseries_spark.operators.text import LANG_STOPWORDS

    def in_list(words: list[str]) -> str:
        return ", ".join(f"'{w}'" for w in words)

    score = {
        lang: f"CAST(len(list_filter(toks, x -> x IN ({in_list(w)}))) AS BIGINT) AS s_{lang}"
        for lang, w in LANG_STOPWORDS.items()
    }
    lang_case = """CASE WHEN s_en > 0 AND s_en >= GREATEST(s_de, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_de > 0 AND s_de >= GREATEST(s_es, s_fr, s_zh) THEN 'de'
                WHEN s_es > 0 AND s_es >= GREATEST(s_fr, s_zh) THEN 'es'
                WHEN s_fr > 0 AND s_fr >= s_zh THEN 'fr'
                WHEN s_zh > 0 THEN 'zh'
                ELSE 'unknown' END"""
    quality = (
        # empty-doc guard mirrors operators/text.quality_score (0.0 — the
        # Spark side is ANSI-guarded, and an unguarded oracle would yield
        # NaN instead and silently break parity on corpora with empty docs)
        "CASE WHEN n > 0 THEN "
        "ROUND(0.4 * LEAST(n_stop / n * 5.0, 1.0) + 0.3 * (n_distinct / n) "
        "+ 0.3 * (LEAST(n, 200.0) / 200.0), 6) ELSE 0.0 END"
    )
    ctes = f"""
    t0 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    feat AS (SELECT doc_id, toks,
                    CAST(len(toks) AS DOUBLE) AS n,
                    CAST(len(list_filter(toks, x -> x IN ({in_list(LANG_STOPWORDS["en"])})))
                         AS DOUBLE) AS n_stop,
                    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct,
                    {", ".join(score.values())}
             FROM t0),
    scored AS (SELECT doc_id, toks, {quality} AS quality, {lang_case} AS lang_pred FROM feat),
    pre AS (SELECT doc_id, toks, quality FROM scored
            WHERE quality >= {_Q_THRESHOLD} AND lang_pred = 'en'),
    {_repetition_ctes_sql("SELECT doc_id, toks FROM pre")},
    kept AS (SELECT p.doc_id, p.toks, p.quality FROM pre p JOIN rp USING (doc_id)
             WHERE len(p.toks) >= 20 AND NOT {_REPETITION_VERDICT_SQL}),
    {_minhash_pair_ctes(t_src="SELECT doc_id, toks FROM kept")},
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM sh
      UNION
      SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node),
    comp AS (SELECT node, MIN(root) AS component_id FROM reach GROUP BY node),
    sizes AS (SELECT component_id, COUNT(*) AS cluster_size FROM comp GROUP BY component_id),
    canon AS (SELECT c.node AS doc_id, z.cluster_size
              FROM comp c JOIN sizes z ON c.component_id = z.component_id
              WHERE c.node = c.component_id)"""
    final = """
    SELECT k.doc_id, k.quality, c.cluster_size
    FROM canon c JOIN kept k USING (doc_id)
    UNION ALL
    SELECT k.doc_id, k.quality, CAST(1 AS BIGINT) AS cluster_size
    FROM kept k LEFT JOIN sh ON k.doc_id = sh.doc_id WHERE sh.doc_id IS NULL
    """
    return ctes, final


def _corpus_pipeline_sql() -> str:
    ctes, final = _corpus_pipeline_oracle()
    return f"WITH RECURSIVE {ctes} {final}"


@register(
    "llm_corpus_pipeline",
    _corpus_pipeline_sql(),
    doc="the LLM-side flagship, Gopher-complete since round 6: quality "
    "filter (score ≥ 0.3) → language gate (en) → min-length gate (≥ 20 "
    "tokens, which also makes the repetition verdict well-defined) → "
    "repetition filter (top-bigram/dup-trigram thresholds in integer "
    "arithmetic) → MinHash+LSH near-dup clustering over the survivors → "
    "one canonical doc per cluster with its cluster size. Every stage is "
    "the already-verified leaf operator; this face proves they COMPOSE — "
    "one declarative plan plus the bounded CC rounds.",
)
def llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.operators import text as tx

    scored = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.round(tx.quality_score("text"), 6).alias("quality"),
        tx.lang_id("text").alias("lang_pred"),
    )
    # Gopher-complete curation gate (round 6): min-length (>= 20 tokens,
    # which also makes the repetition verdict well-defined and
    # non-trivial) + the repetition filter, composed with the quality
    # and language gates. repetition_signals is the verified leaf face,
    # computed over the cheap gates' SURVIVORS only (semi-join) — the
    # gram explode is the dominant cost and the conjunctive filter makes
    # the result identical either way (review finding; Catalyst cannot
    # push the scored-side predicates beneath the rep aggregation).
    # Catalyst pushes the gate predicate into the scan, so the scoring
    # runs once per input split: a corpus of many splits scores in
    # parallel; a single-file corpus scores in one task.
    # Materialize the gate survivors ONCE (localCheckpoint — the CC
    # loop's own precedent): `pre` sits on both sides of the repetition
    # join and `kept` feeds the MinHash pairs, the CC vertices and the
    # quality join-back, so without materialization the quality/lang
    # expression stage re-runs per consumer (measured 9.2s of the face's
    # 37.6s at sf0.1 was re-evaluated scalar scoring). A real 100 TB
    # pipeline materializes its curated corpus at exactly this point.
    pre = scored.where(
        f"quality >= {_Q_THRESHOLD}D AND lang_pred = 'en'"
    ).localCheckpoint(eager=False)
    rep = tx.repetition_signals(
        pre.select("doc_id", "text"), "doc_id", "text"
    ).select("doc_id", "n_words", "repetitive")
    kept = (
        pre.join(rep, "doc_id")
        .where("n_words >= 20 AND repetitive = 0")
        .localCheckpoint(eager=False)
    )
    # Near-dup clustering: the direct MinHash pairs -> connected
    # components path (minhash_components_collapsed's default). The CC
    # loop runs eagerly here, at face construction. Every kept doc is a
    # CC vertex: n_words counts the tokens the vertex test counts, and
    # n_words >= 20 >= _SHINGLE_N, so no kept doc is left out of `labels`.
    labels = dd.minhash_components_collapsed(
        kept, "doc_id", "text",
        num_hashes=_NUM_HASHES, num_bands=_NUM_BANDS, shingle_n=_SHINGLE_N,
    )
    sizes = labels.groupBy("label").agg(F.expr("count(1) AS cluster_size"))
    canon = (
        labels.where("node = label")
        .join(sizes, "label")
        .selectExpr("node AS doc_id", "cluster_size")
    )
    return canon.join(kept.select("doc_id", "quality"), "doc_id").select(
        "doc_id", "quality", "cluster_size"
    )


# --- embedding near-dup pairs, LSH-bucketed (the 100 TB face) ---
_LSH_DIM, _LSH_TABLES, _LSH_BITS, _LSH_SEED = 64, 8, 4, 7
_LSH_THRESHOLD = 0.35  # testdata max sim ≈0.51 — 0.95 would be vacuously empty


def _embedding_lsh_oracle() -> str:
    """Restate the WHOLE LSH algorithm in DuckDB with the same hyperplane
    constants (one Python source of truth: similarity.hyperplane_rows), so
    the driver's hash check verifies the algorithm — signature packing,
    bucket join, rescore — not just row counts. The sign test uses the
    6-dp-rounded dot product on both engines so a 1-ulp difference cannot
    flip a bit."""
    rows = hyperplane_rows(_LSH_DIM, _LSH_TABLES, _LSH_BITS, _LSH_SEED)
    values = ",\n      ".join(
        f"({t}, {b}, [{', '.join(repr(x) for x in plane)}]::DOUBLE[])"
        for t, b, plane in rows
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    planes(table_id, bit_idx, plane) AS (VALUES
      {values}),
    sig AS (
      SELECT v.vec_id, p.table_id,
             CAST(SUM(CASE WHEN ROUND(list_dot_product(v.e, p.plane), 6) > 0
                           THEN (CAST(1 AS BIGINT) << p.bit_idx) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM v CROSS JOIN planes p GROUP BY v.vec_id, p.table_id),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b
        ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    scored AS (
      -- zero-norm guard mirrors the Spark side's NULL cosine: an
      -- unguarded 0/0 is NaN in DuckDB, and NaN >= threshold is TRUE
      -- there, which would KEEP a pair Spark drops
      SELECT c.id_a, c.id_b,
             CASE WHEN list_dot_product(va.e, va.e) > 0
                   AND list_dot_product(vb.e, vb.e) > 0 THEN
               ROUND(list_dot_product(va.e, vb.e)
                     / (SQRT(list_dot_product(va.e, va.e))
                        * SQRT(list_dot_product(vb.e, vb.e))), 6) END AS sim
      FROM cand c JOIN v va ON va.vec_id = c.id_a JOIN v vb ON vb.vec_id = c.id_b)
    SELECT id_a, id_b, sim FROM scored WHERE sim >= {_LSH_THRESHOLD}
    """


# --- near-dup clustering: candidate pairs → connected components ---
def _cc_oracle() -> str:
    """Transitive closure of the MinHash candidate-pair graph via a
    recursive CTE: reach(node, root) accumulates every id reachable from
    each node; MIN(root) per node is exactly the min-label-propagation
    fixpoint the Spark loop computes."""
    return f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node)
    SELECT node AS doc_id, MIN(root) AS component_id FROM reach GROUP BY node
    """


@register(
    "dedup_clusters_cc",
    _cc_oracle(),
    doc="near-dup clusters: MinHash+LSH candidate pairs → connected "
    "components (min-label propagation, operators/graph.py). The full "
    "dedup pipeline's final step: every doc labeled with its duplicate "
    "cluster's canonical (minimum) id; singletons label themselves. "
    "Oracle = recursive-CTE transitive closure over the same pairs.",
)
def dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vertex set = ALL doc ids (the keep_best_quality r8 rewrite): edge
    # endpoints always have shingles, so shingle-less docs exit CC as
    # their own singletons — the earlier shingle-size vertex filter only
    # bought a second full-corpus shingle pass that Catalyst pushed below
    # any spread into the single scan task of a one-file corpus. The
    # oracle's reach base moved from sh to documents in the same commit,
    # making the docstring's "every doc labeled" literally true on
    # corpora with shingle-less docs.
    d = spread_for_compute(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = dd.minhash_candidate_pairs(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, num_bands=_NUM_BANDS, shingle_n=_SHINGLE_N
    )
    return connected_components(
        d.select("doc_id"), pairs, id_col="doc_id", src_col="id_a", dst_col="id_b"
    ).select(F.col("node").alias("doc_id"), F.col("label").alias("component_id"))


@register(
    "dedup_embedding_lsh",
    _embedding_lsh_oracle(),
    doc="embedding near-dup pairs via sign-LSH buckets + exact cosine "
    "rescore: signatures as one GEMM per Arrow batch against the "
    "closed-over plane matrix (operators/similarity.py:lsh_signatures), "
    "materialized once, then only (table_id, bucket) keys shuffle — the "
    "corpus is never self-joined all-pairs. Brute force remains the pytest recall "
    "baseline (tests/test_similarity.py).",
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return embedding_lsh_dup_pairs(
        e,
        _LSH_BITS,
        threshold=_LSH_THRESHOLD,
        n_tables=_LSH_TABLES,
        seed=_LSH_SEED,
        dim=_LSH_DIM,
    )


_LSH_SCALED_MAX_BITS = 12  # oracle plane budget: 64 vecs/bucket * 2^12 ≈ 262k


def _embedding_lsh_scaled_oracle() -> str:
    """The corpus-SCALED variant of _embedding_lsh_oracle: n_bits is
    data-derived (scaled_n_bits), which a static SQL string can still
    check because the planes are PREFIX-STABLE (hyperplane_rows —
    plane (t, b) never depends on the bit budget). The SQL inlines the
    max-budget plane set once, recomputes the bit-count rule
    ``greatest(floor, ceil(log2(n/64)))`` from COUNT(*) — exact-parity
    arithmetic: /64.0 and log2 of exact powers are IEEE-exact in both
    engines — and masks ``bit_idx < b``. Beyond 64 * 2^{max_bits}
    vectors the oracle's plane budget is exhausted and the face would
    honestly mismatch (driver SFs are 3 orders of magnitude below that).
    """
    rows = hyperplane_rows(_LSH_DIM, _LSH_TABLES, _LSH_SCALED_MAX_BITS, _LSH_SEED)
    values = ",\n      ".join(
        f"({t}, {b}, [{', '.join(repr(x) for x in plane)}]::DOUBLE[])"
        for t, b, plane in rows
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    planes(table_id, bit_idx, plane) AS (VALUES
      {values}),
    nb AS (SELECT GREATEST({_LSH_BITS},
                    CAST(CEIL(LOG2(GREATEST(COUNT(*), 2) / 64.0)) AS INT))
             AS b FROM v),
    sig AS (
      SELECT v.vec_id, p.table_id,
             CAST(SUM(CASE WHEN ROUND(list_dot_product(v.e, p.plane), 6) > 0
                           THEN (CAST(1 AS BIGINT) << p.bit_idx) ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM v CROSS JOIN planes p, nb WHERE p.bit_idx < nb.b
      GROUP BY v.vec_id, p.table_id),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b
        ON a.table_id = b.table_id AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
    scored AS (
      SELECT c.id_a, c.id_b,
             CASE WHEN list_dot_product(va.e, va.e) > 0
                   AND list_dot_product(vb.e, vb.e) > 0 THEN
               ROUND(list_dot_product(va.e, vb.e)
                     / (SQRT(list_dot_product(va.e, va.e))
                        * SQRT(list_dot_product(vb.e, vb.e))), 6) END AS sim
      FROM cand c JOIN v va ON va.vec_id = c.id_a JOIN v vb ON vb.vec_id = c.id_b)
    SELECT id_a, id_b, sim FROM scored WHERE sim >= {_LSH_THRESHOLD}
    """


@register(
    "dedup_embedding_lsh_scaled",
    _embedding_lsh_scaled_oracle(),
    doc="corpus-scaled sign-LSH near-dup pairs: n_bits targets ~64 vectors/"
    "bucket and signatures run as Arrow GEMM — the deployment shape of "
    "dedup_embedding_lsh, whose fixed n_bits is quadratic as the corpus "
    "grows (SCALING.md round-4 audit: 15s→300s over one decade). "
    "ORACLE-CHECKED since round 7 (previously rows-only 'corpus-derived "
    "n_bits can't be inlined'): prefix-stable hyperplanes make the "
    "data-derived bit count maskable against one inlined max-budget "
    "plane set (see _embedding_lsh_scaled_oracle), so the driver hash "
    "now certifies the SCALING RULE and the GEMM signature path, not "
    "just the fixed-bits baseline. GEMM-vs-sequential-fold sign parity "
    "holds with measured margin (min |dot| 2.7e-5 at sf0.01 vs the 5e-7 "
    "rounding boundary; buckets pinned against a fold reference in tests)",
)
def dedup_embedding_lsh_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.operators.similarity import scaled_n_bits

    e = load_table(spark, sf_dir, "embeddings")
    bits = scaled_n_bits(e.count(), floor=_LSH_BITS)
    return embedding_lsh_dup_pairs(
        e,
        bits,
        threshold=_LSH_THRESHOLD,
        n_tables=_LSH_TABLES,
        seed=_LSH_SEED,
        dim=_LSH_DIM,
    )


# --- canonical selection policy: keep the BEST doc per duplicate cluster ---
def _keep_best_oracle() -> str:
    """Recursive-CTE closure over the MinHash pairs (as dedup_clusters_cc)
    plus the quality score (as llm_corpus_pipeline), then an argmax window
    per component: rank by (quality desc, doc_id asc). No-shingle docs
    pass through as their own singleton component."""
    from aidc_2018_timeseries_spark.operators.text import LANG_STOPWORDS

    stop = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
    quality = (
        # empty-doc guard mirrors operators/text.quality_score (0.0 — the
        # Spark side is ANSI-guarded, and an unguarded oracle would yield
        # NaN instead and silently break parity on corpora with empty docs)
        "CASE WHEN n > 0 THEN "
        "ROUND(0.4 * LEAST(n_stop / n * 5.0, 1.0) + 0.3 * (n_distinct / n) "
        "+ 0.3 * (LEAST(n, 200.0) / 200.0), 6) ELSE 0.0 END"
    )
    return f"""
    WITH RECURSIVE {_minhash_pair_ctes()},
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM sh
      UNION
      SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node),
    comp AS (SELECT node AS doc_id, MIN(root) AS component_id
             FROM reach GROUP BY node),
    allcomp AS (
      SELECT doc_id, component_id FROM comp
      UNION ALL
      SELECT d.doc_id, d.doc_id AS component_id
      FROM documents d LEFT JOIN sh ON d.doc_id = sh.doc_id
      WHERE sh.doc_id IS NULL),
    feat AS (SELECT doc_id,
                    CAST(len(toks) AS DOUBLE) AS n,
                    CAST(len(list_filter(toks, x -> x IN ({stop}))) AS DOUBLE)
                      AS n_stop,
                    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct
             FROM t),
    q AS (SELECT doc_id, {quality} AS quality FROM feat),
    ranked AS (
      SELECT c.doc_id, c.component_id, q.quality,
             ROW_NUMBER() OVER (PARTITION BY c.component_id
                                ORDER BY q.quality DESC, c.doc_id ASC) AS rn
      FROM allcomp c JOIN q USING (doc_id))
    SELECT doc_id, component_id, quality,
           CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM ranked
    """


@register(
    "dedup_keep_best_quality",
    _keep_best_oracle(),
    doc="canonical SELECTION POLICY for duplicate clusters: real pipelines "
    "keep the best document per near-dup cluster, not the min-id one — "
    "cluster via MinHash pairs + connected components (the verified "
    "leaves), then per component keep = argmax(quality, tie min doc_id). "
    "No-shingle docs are their own singletons. The argmax window runs "
    "over the component-labeled relation (one shuffle on component_id, "
    "already the CC output partitioning); quality rounds at 6 dp BEFORE "
    "ranking so the cross-engine order is deterministic",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from aidc_2018_timeseries_spark.operators import text as tx

    # Spread ONCE at the face level: the nodes/quality projections below
    # shingle-hash and score the full corpus and would otherwise run as a
    # single task on a one-file corpus (the layout pathology measured in
    # SCALING.md round-8 — nodes alone was 4.1s of this face's 12s solo
    # wall). Conditional, so at 100 TB (thousands of scan splits) it is a
    # no-op, exactly like the leaf operators' internal spread.
    d = spread_for_compute(load_table(spark, sf_dir, "documents"), "doc_id")
    pairs = dd.minhash_candidate_pairs(
        d, "doc_id", "text", num_hashes=_NUM_HASHES, num_bands=_NUM_BANDS, shingle_n=_SHINGLE_N
    )
    # Vertex set = ALL doc ids. The earlier form restricted CC to docs
    # with >=1 shingle and unioned the rest back as singletons — but edge
    # endpoints always have shingles, so shingle-less docs come out of CC
    # as their own singletons anyway; the restriction only bought a second
    # full-corpus shingle pass (4.3s of this face's 12s solo wall — and
    # Catalyst pushes the shingle-size predicate below the spread
    # repartition, so it ran single-task on a one-file corpus) plus an
    # anti-join. Semantics are pinned identical by the unchanged oracle.
    allcomp = connected_components(
        d.select("doc_id"), pairs, id_col="doc_id", src_col="id_a", dst_col="id_b"
    ).select(F.col("node").alias("doc_id"), F.col("label").alias("component_id"))
    q = d.select("doc_id", F.round(tx.quality_score("text"), 6).alias("quality"))
    w = Window.partitionBy("component_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        allcomp.join(q, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "component_id",
            "quality",
            F.when(F.col("rn") == 1, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("keep"),
        )
    )


@register(
    "dedup_incremental_ingest",
    f"""
    WITH arrivals AS (
      SELECT doc_id + 1000000 AS doc_id, text
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, 'fresh ' || CAST(doc_id AS VARCHAR) AS text
      FROM documents WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, 'fresh ' || CAST(doc_id AS VARCHAR) AS text
      FROM documents WHERE doc_id % 11 = 0 AND doc_id % 7 <> 0),
    ch AS (SELECT doc_id, md5(array_to_string({{toks}}, ' ')) AS h FROM arrivals),
    corpus AS (SELECT DISTINCT md5(array_to_string({{toks}}, ' ')) AS h FROM documents),
    m AS (SELECT ch.doc_id, ch.h, corpus.h IS NOT NULL AS in_corpus,
                 MIN(ch.doc_id) OVER (PARTITION BY ch.h) AS batch_min_id
          FROM ch LEFT JOIN corpus USING (h))
    SELECT doc_id,
           CASE WHEN in_corpus THEN 'dup_corpus'
                WHEN doc_id <> batch_min_id THEN 'dup_batch'
                ELSE 'ingested' END AS verdict
    FROM m
    """.replace("{toks}", _TOKS),
    doc="incremental-ingest admission (the daily-crawl step of a living "
    "corpus): an arriving batch is classified against the standing corpus "
    "as dup_corpus (content hash already present — a re-crawl), dup_batch "
    "(novel but a smaller-id twin arrived in the same batch), or ingested. "
    "The batch is synthesized deterministically from the corpus so every "
    "verdict is exercised (every 7th doc re-crawled under a new id; every "
    "11th non-recrawl spawns a fresh doc emitted TWICE). Both sides "
    "reduce to fixed-width digests before the join — corpus bodies never "
    "shuffle; at 100 TB the corpus digest set is materialized once and "
    "incrementally maintained, making daily admission independent of "
    "corpus body bytes",
)
def dedup_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    recrawls = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    fresh_src = d.where((F.col("doc_id") % 11 == 0) & (F.col("doc_id") % 7 != 0)).select(
        "doc_id", F.concat(F.lit("fresh "), F.col("doc_id").cast("string")).alias("text")
    )
    arrivals = recrawls.unionByName(
        fresh_src.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    ).unionByName(
        fresh_src.select((F.col("doc_id") + 3000000).alias("doc_id"), "text")
    )
    return dd.incremental_ingest_verdicts(d, arrivals, "doc_id", "text")


def _corpus_pipeline_packed_sql() -> str:
    """Extend the curation chain's CTEs with greedy packing of the
    surviving canonical docs (text_pack_greedy's exact cumsum logic) and a
    per-pack rollup."""
    ctes, final = _corpus_pipeline_oracle()
    return f"""
    WITH RECURSIVE {ctes},
    survivors AS ({final}),
    st AS (SELECT d.source, s.doc_id, CAST(len(t0.toks) AS BIGINT) AS n_tokens
           FROM survivors s
           JOIN t0 ON t0.doc_id = s.doc_id
           JOIN documents d ON d.doc_id = s.doc_id),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 256.0)
                  AS BIGINT) AS pack_id
      FROM st)
    SELECT source, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM packed GROUP BY source, pack_id
    """


@register(
    "llm_corpus_pipeline_packed",
    _corpus_pipeline_packed_sql(),
    doc="the END-TO-END training-data preparation chain: the full "
    "curation pipeline (quality gate -> language gate -> min-length + "
    "repetition gates (round 6) -> MinHash+LSH "
    "near-dup clustering -> one canonical doc per cluster) feeding "
    "straight into greedy sequence PACKING of the survivors (~256-token "
    "packs per source shard) with a per-pack rollup — every stage an "
    "already-verified leaf face (llm_corpus_pipeline + text_pack_greedy), "
    "composed into one declarative plan plus the bounded CC rounds. This "
    "is the query a real pipeline runs nightly: curate, dedup, pack, "
    "count the training tokens per shard",
)
def llm_corpus_pipeline_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from aidc_2018_timeseries_spark.operators import text as tx

    surv = llm_corpus_pipeline(spark, sf_dir).select("doc_id")
    d = load_table(spark, sf_dir, "documents").join(surv, "doc_id")
    packed = tx.greedy_pack(d, "source", "doc_id", "text", 256)
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )


_SPAN_K = 5
_SPAN_GH = hash64_sql(
    f"array_to_string(list_slice(toks, pos, pos + {_SPAN_K} - 1), ' ')"
)


@register(
    "dedup_duplicate_spans",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    g0 AS (SELECT doc_id, toks,
                  unnest(range(1, len(toks) - {_SPAN_K} + 2)) AS pos FROM t),
    g AS (SELECT doc_id, pos, {_SPAN_GH} AS gh FROM g0),
    c AS (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gh) AS cnt FROM g),
    d AS (SELECT doc_id, pos FROM c WHERE cnt >= 2),
    i AS (SELECT doc_id, pos,
                 CASE WHEN pos - LAG(pos) OVER
                        (PARTITION BY doc_id ORDER BY pos) > {_SPAN_K}
                      THEN 1 ELSE 0 END AS brk FROM d),
    isl AS (SELECT doc_id, pos,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM i)
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) + {_SPAN_K} - 1 AS span_end,
           MAX(pos) - MIN(pos) + {_SPAN_K} AS span_tokens,
           COUNT(*) AS n_grams
    FROM isl GROUP BY doc_id, island
    """,
    doc="substring-level exact dedup (Lee et al. 2022's suffix-array pass "
    "as its scalable k-gram surrogate): every maximal token span whose "
    "5-grams all recur somewhere in the corpus — the licenses/boilerplate/"
    "quoted-passage duplication that doc-level dedup cannot see. One "
    "md5-hash-keyed shuffle for corpus-wide gram counts (window count, no "
    "join-back), one per-doc gaps-and-islands window; both shapes already "
    "scale-proven by the MinHash band join and W1 rolling windows",
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.duplicate_spans(d, "doc_id", "text", k=_SPAN_K)


_TOKS_DD = tokenize_sql("text")


def _edit_block_ctes(t_name: str = "t0") -> str:
    """Shared blocking-key CTE chain for the edit-distance linkage family
    (same single-source-of-truth role as _minhash_pair_ctes): title =
    first 4 tokens, block = (lang, leading token, 4-char length bucket),
    pairs = same-block id-ordered Levenshtein <= 3. MUST mirror the
    defaults of operators/dedup.blocked_edit_distance_pairs — change
    either in one place only."""
    return f"""{t_name} AS (SELECT doc_id, lang, {_TOKS_DD} AS toks FROM documents),
    k AS (SELECT doc_id, lang,
                 array_to_string(toks[1:4], ' ') AS title,
                 toks[1] AS tok1,
                 CAST(FLOOR(length(array_to_string(toks[1:4], ' ')) / 4)
                      AS BIGINT) AS lbucket
          FROM {t_name}),
    p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang,
                 levenshtein(a.title, b.title) AS title_dist
          FROM k a JOIN k b
            ON a.lang = b.lang AND a.tok1 = b.tok1
           AND a.lbucket = b.lbucket AND a.doc_id < b.doc_id)"""



@register(
    "dedup_blocked_edit_distance",
    f"""
    WITH {_edit_block_ctes()}
    SELECT id_a, id_b, lang, CAST(title_dist AS INT) AS title_dist
    FROM p WHERE title_dist <= 3
    """,
    doc="record-linkage near-duplicate pairs by TITLE EDIT DISTANCE under "
    "blocking: first-4-token title, blocked on (lang, leading token, "
    "title-length bucket), Levenshtein <= 3 within a block. The character"
    "-level sibling of the shingle/MinHash family: catches typo/OCR "
    "variants of short keys that word-level Jaccard cannot see. One "
    "block-keyed shuffle; quadratic only within bounded blocks; "
    "levenshtein evaluates JVM-side (no Python in the plan)",
)
def dedup_blocked_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = dd.blocked_edit_distance_pairs(
        d, "doc_id", "text", block_cols=["lang"], prefix_tokens=4, max_dist=3
    )
    return out.select(
        F.col("id_a"),
        F.col("id_b"),
        "lang",
        F.col("title_dist").cast("int").alias("title_dist"),
    )


@register(
    "dedup_ngram_containment",
    f"""
    WITH t AS (SELECT doc_id, {_SH30} AS sh
               FROM (SELECT doc_id, {_TOKS} AS toks FROM documents)),
    sh AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS shingle FROM t),
    inter AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b, l.n_sh AS size_a,
             COUNT(*) AS n_common
      FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id <> r.doc_id
      GROUP BY 1, 2, 3)
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / size_a AS containment
    FROM inter
    WHERE CAST(n_common AS DOUBLE) / size_a >= 0.9 - 1e-9
    """,
    doc="exact 3-gram CONTAINMENT >= 0.9, directional (id_a's shingles "
    "covered by id_b's) — the asymmetric dedup Jaccard cannot see: a doc "
    "embedded verbatim in one 10x longer has Jaccard <= 0.1 but "
    "containment 1.0 (wire-copy embedding, quotation farms, template-"
    "wrapped bodies). One-sided prefix filter (only the contained side "
    "prunes; the container side indexes full postings by necessity), "
    "one-sided size filter |B| >= t|A|, exact JVM-side verification; "
    "ratio unrounded (exact-integer division). The oracle restates the "
    "naive posting join - prefix filtering must be lossless",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dd.ngram_containment_pairs(
        d, "doc_id", "text", shingle_n=_SHINGLE_N, threshold=0.9
    )


@register(
    "dedup_linkage_clusters",
    f"""
    WITH RECURSIVE
    {_edit_block_ctes()},
    pd AS (SELECT id_a, id_b FROM p WHERE title_dist <= 3),
    edges AS (SELECT id_a AS u, id_b AS v FROM pd
              UNION ALL SELECT id_b, id_a FROM pd),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.v, r.root FROM reach r JOIN edges e ON e.u = r.node)
    SELECT node AS doc_id, MIN(root) AS entity_id FROM reach GROUP BY node
    """,
    doc="entity-resolution END TO END: blocked title-edit-distance pairs "
    "(dedup_blocked_edit_distance) fed through connected components — "
    "every doc labeled with its entity cluster's canonical (minimum) id, "
    "typo variants collapsing transitively (A~B, B~C => one entity even "
    "when A-C exceeds the distance bound). The record-linkage twin of "
    "dedup_clusters_cc (whose pairs come from MinHash); oracle = "
    "recursive-CTE transitive closure over the identical pair relation. "
    "Token-less docs (NULL block key) and NULL-lang docs (the blocked "
    "join's equality is null-unsafe) never pair, so they stay singletons",
)
def dedup_linkage_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.blocked_edit_distance_pairs(
        d, "doc_id", "text", block_cols=["lang"], prefix_tokens=4, max_dist=3
    ).select("id_a", "id_b")
    return connected_components(
        d.select("doc_id"), pairs, id_col="doc_id", src_col="id_a", dst_col="id_b"
    ).select(F.col("node").alias("doc_id"), F.col("label").alias("entity_id"))


@register(
    "dedup_minhash_eval",
    f"""
    WITH {_minhash_pair_ctes()},
    she AS (SELECT doc_id, len(sh30) AS n_sh, unnest(sh30) AS shingle FROM sh),
    inter AS (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b,
             l.n_sh AS sa, r.n_sh AS sb, COUNT(*) AS nc
      FROM she l JOIN she r
        ON l.shingle = r.shingle AND l.doc_id < r.doc_id
      GROUP BY 1, 2, 3, 4),
    truth AS (SELECT id_a, id_b FROM inter
              WHERE CAST(nc AS DOUBLE) / (sa + sb - nc) >= 0.8),
    u AS (SELECT COALESCE(p.id_a, t.id_a) AS id_a,
                 COALESCE(p.id_b, t.id_b) AS id_b,
                 (p.id_a IS NOT NULL) AS in_pred,
                 (t.id_a IS NOT NULL) AS in_truth
          FROM pairs p FULL OUTER JOIN truth t USING (id_a, id_b))
    SELECT CAST(SUM(CASE WHEN in_pred AND in_truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN in_pred AND NOT in_truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN in_truth AND NOT in_pred THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           ROUND(CAST(SUM(CASE WHEN in_pred AND in_truth THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN in_pred THEN 1 ELSE 0 END), 0), 6) AS precision,
           ROUND(CAST(SUM(CASE WHEN in_pred AND in_truth THEN 1 ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN in_truth THEN 1 ELSE 0 END), 0), 6) AS recall
    FROM u
    """,
    doc="approximate-vs-exact dedup EVALUATION: MinHash+LSH candidate "
    "pairs scored against exact 3-gram Jaccard >= 0.8 ground truth — "
    "tp/fp/fn, precision, recall in one row. This is the quantified "
    "version of the claim every approximate path makes ('bands catch "
    "the true pairs'): both relations are deterministic, so even the "
    "QUALITY of the approximation is hash-checkable cross-engine. At "
    "100 TB you run exactly this on a sampled stratum to tune "
    "bands/rows before committing the full corpus to an LSH "
    "configuration",
)
def dedup_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pred = dd.minhash_candidate_pairs(
        d, "doc_id", "text", num_hashes=_NUM_HASHES,
        num_bands=_NUM_BANDS, shingle_n=_SHINGLE_N,
    ).withColumn("in_pred", F.lit(True))
    truth = (
        dd.ngram_jaccard_pairs(d, "doc_id", "text", shingle_n=_SHINGLE_N, threshold=0.8)
        .select("id_a", "id_b")
        .withColumn("in_truth", F.lit(True))
    )
    u = pred.join(truth, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("in_pred"), F.lit(False)).alias("in_pred"),
        F.coalesce(F.col("in_truth"), F.lit(False)).alias("in_truth"),
    )
    tp = F.sum((F.col("in_pred") & F.col("in_truth")).cast("long"))
    fp = F.sum((F.col("in_pred") & ~F.col("in_truth")).cast("long"))
    fn = F.sum((~F.col("in_pred") & F.col("in_truth")).cast("long"))
    n_pred = F.sum(F.col("in_pred").cast("long"))
    n_truth = F.sum(F.col("in_truth").cast("long"))
    return u.groupBy().agg(
        tp.alias("tp"),
        fp.alias("fp"),
        fn.alias("fn"),
        F.round(
            tp.cast("double") / F.nullif(n_pred, F.lit(0)), 6
        ).alias("precision"),
        F.round(
            tp.cast("double") / F.nullif(n_truth, F.lit(0)), 6
        ).alias("recall"),
    )

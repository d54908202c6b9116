"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine (BASELINE.json north star — first-class at 100 TB).

Design for scale:
- exact dedup = one shuffle on a 128-bit content hash; the canonical-id
  (min id) is a window-min within each hash partition — no join-back.
- MinHash+LSH: per-doc signature is scan-local (no shuffle); candidate
  generation shuffles only (band_id, band_hash) keys — never the cross
  product. Verification re-joins only candidate pairs. This is the standard
  shingle→minhash→band→bucket-join pipeline (Broder '97 / Leskovec MMDS).
- SimHash: scan-local 32-bit signature; near-dup = same signature bucket
  (or small hamming radius via multi-probe); groupBy on the signature.
- every pseudo-random constant derives from md5 (functions/hashing.py), so
  all of it is DuckDB-oracle-checkable.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.functions.hashing import hash64, hash64_expr
from aidc_2018_timeseries_spark.operators.partitioning import spread_for_compute
from aidc_2018_timeseries_spark.operators._sql import _q, let
from aidc_2018_timeseries_spark.operators.text import _tokens, shingle_hashes, tokenize

#: modulus for the universal hash family (prime > 2^30 shingle space)
MINHASH_PRIME = 2147483647  # 2^31 - 1


def _minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs derived from md5 — reproducible in SQL
    text (the literals are inlined into oracles)."""
    params = []
    for i in range(num_hashes):
        a = int(hashlib.md5(f"a:{i}".encode()).hexdigest()[:15], 16) % (1 << 30) | 1
        b = int(hashlib.md5(f"b:{i}".encode()).hexdigest()[:15], 16) % (1 << 30)
        params.append((a, b))
    return params


def content_hash(text_col: str) -> Column:
    """Normalized-content md5: lowercase + whitespace-collapse before
    hashing, so trivially-reformatted copies collide. Shared by the batch
    exact dedup and the streaming first-seen dedup."""
    return F.md5(F.concat_ws(" ", tokenize(text_col)))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup via content hash: returns (doc_id, canonical_id) for
    EVERY doc; duplicates share a canonical (minimum) id.
    """
    hashed = spread_for_compute(df, id_col).select(
        F.col(id_col), content_hash(text_col).alias("content_hash")
    )
    # window-min instead of groupBy + join-back: one shuffle on the content
    # hash assigns every doc its group's canonical id in the same pass.
    w = Window.partitionBy("content_hash")
    return hashed.select(
        id_col, F.min(id_col).over(w).alias("canonical_id")
    )


def minhash_signature_agg(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signatures via explode + aggregate-min — the scale path.

    Each shingle is md5-hashed ONCE in the explode projection; the 16
    universal hashes are cheap arithmetic per (doc, shingle) row, and the
    min-aggregation is map-side partial, so only num_hashes values per doc
    per partition ever shuffle. (An array-expression signature, one
    ``array_min(transform(...))`` per hash function, recomputes the
    shingle hashing per hash function × per band — a ~64× expression
    blow-up that measured 400+s at sf0.1 vs seconds for this form.)

    Docs with no shingles (< n tokens) are dropped — they have no content
    to near-dup on.
    """
    exploded = spread_for_compute(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(shingle_hashes(text_col, n=shingle_n)).alias("h"),
    )
    aggs = [
        F.expr(f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS s{i}")
        for i, (a, b) in enumerate(_minhash_params(num_hashes))
    ]
    return exploded.groupBy("doc").agg(*aggs)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b), deduplicated across bands.

    Only (band_id, band_hash) shuffles; bucket self-join happens after a
    groupBy that collapses each bucket — the cross product never forms.
    """
    rows_per_band = num_hashes // num_bands
    sigs = minhash_signature_agg(df, id_col, text_col, num_hashes, shingle_n)
    band_structs = []
    for band in range(num_bands):
        cols = [f"CAST(s{band * rows_per_band + j} AS STRING)" for j in range(rows_per_band)]
        band_hash = hash64_expr(f"concat_ws(',', {', '.join(cols)})")
        band_structs.append(f"named_struct('band_id', {band}, 'band_hash', {band_hash})")
    # Both self-join sides compute the signature aggregate; nothing is
    # materialized. On the corpora measured so far AQE broadcasts the
    # banded side (num_bands rows per doc) and reuses the input shuffle,
    # and recomputing the small aggregate costs less than the 3 jobs a
    # checkpoint adds to every request.
    banded = sigs.selectExpr("doc", f"inline(array({', '.join(band_structs)}))")
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            F.expr("l.band_id = r.band_id AND l.band_hash = r.band_hash AND l.doc < r.doc"),
        )
        .selectExpr("l.doc AS id_a", "r.doc AS id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard ≥ threshold via PREFIX FILTERING (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07) — lossless.

    The naive inverted-index self-join generates a candidate PAIR for
    every shared shingle: with hot shingles (shared by thousands of docs)
    that is quadratic in posting-list length — measured >1.1M intermediate
    pairs for 256 true results on the sf0.1 corpus. Prefix filtering uses
    the threshold itself to prune: order each doc's shingle set by a
    global canonical order (rarest first), and index only the first
    floor((1-t)·|A|)+1 shingles. Two sets with Jaccard ≥ t MUST share a
    prefix shingle, and rare-first ordering makes prefix posting lists
    short — hot shingles land at the back and are never indexed. A size
    filter (min ≥ t·max) prunes further; survivors are verified exactly,
    JVM-side, with array_intersect on the full (distinct) shingle arrays.

    Plan: document frequency as COUNT OVER (PARTITION BY shingle) — one
    shuffle of the exploded relation, replacing the aggregate+join-back
    form that shuffled it twice — then one window rank on doc, a
    candidate join on short prefix postings, and a verify join keyed by
    doc id. Returns (id_a, id_b, jaccard ≥ t).
    """
    hashed, cand = ngram_jaccard_candidates(
        df, id_col, text_col, shingle_n=shingle_n, threshold=threshold
    )

    a = hashed.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = hashed.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        # Unrounded: intersection/union of exact integers is a single
        # bit-deterministic IEEE division on both engines; rounding can
        # only break parity (ties when the ratio terminates at 7 digits).
        .withColumn(
            "jaccard",
            n_common / (F.size("sh_a") + F.size("sh_b") - n_common),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> tuple[DataFrame, DataFrame]:
    """The prefix-filtered candidate stage of :func:`ngram_jaccard_pairs`,
    exposed separately so the candidate-pair count — the real scale signal
    for this operator (wall time tracks it, SCALING.md) — can be measured
    without re-deriving the plan. Returns ``(hashed, candidates)`` where
    ``hashed`` is (doc, sh: array<shingle-hash>) and ``candidates`` is the
    distinct (id_a, id_b) surviving prefix + size filtering, BEFORE exact
    verification.
    """
    # Repartition BEFORE the md5 shingle computation: a small-file corpus
    # otherwise arrives as one scan task and hashes serially. Materialized
    # once: it feeds the prefix relation AND both sides of the verify
    # join — without the checkpoint the shingle hashing runs ~4× (Spark
    # never reuses a subplan across join sides).
    hashed = (
        spread_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            shingle_hashes(text_col, n=shingle_n).alias("sh"),
        )
        .localCheckpoint(eager=True)
    )
    sh = hashed.select("doc", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))

    wdf = Window.partitionBy("shingle")
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    # prefix length n - ceil(t·n) + 1, with an epsilon so double rounding
    # of t (0.8 is 0.80000000000000004 in binary) never shortens the
    # prefix at integer boundaries — a too-short prefix silently LOSES
    # true pairs (measured: exactly one pair at sf0.1).
    eps = 1e-9
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(eps)) + 1
    ).cast("int")
    pref = (
        sh.withColumn("df", F.count(F.lit(1)).over(wdf))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select("doc", "n_sh", "rk", "shingle")
        # Self-joined below — materialize so the two windows compute once.
        # Bounded: floor((1-t)·|A|)+1 rows per doc (~20% of shingles at
        # t=0.8), rarest-first.
        .localCheckpoint(eager=True)
    )

    # positional filter (PPJoin, Xiao et al. WWW'08): a match on a prefix
    # shingle at ranks (i, j) bounds the achievable overlap by
    # 1 + min(|A|−i, |B|−j), which must reach the Jaccard-equivalent
    # overlap requirement α = ceil(t/(1+t)·(|A|+|B|)). Lossless in this
    # EXISTS form: for any true pair the FIRST common shingle in the
    # canonical order sits inside both prefixes (prefix-filter guarantee)
    # and every common shingle ranks at or after it on both sides, so the
    # bound holds there; pairs whose every prefix match fails the bound
    # cannot reach α. (Same 1e-9 guard against the binary representation
    # of t as the prefix/size filters.)
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("l.n_sh") + F.col("r.n_sh"))
        - F.lit(1e-9)
    )
    ubound = F.lit(1) + F.least(
        F.col("l.n_sh") - F.col("l.rk"), F.col("r.n_sh") - F.col("r.rk")
    )
    cand = (
        pref.alias("l")
        .join(
            pref.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc") < F.col("r.doc"))
            # size filter: Jaccard >= t forces min(|A|,|B|) >= t*max(|A|,|B|)
            # (same epsilon guard against the double representation of t)
            & (
                F.least("l.n_sh", "r.n_sh")
                >= threshold * F.greatest("l.n_sh", "r.n_sh") - F.lit(1e-9)
            )
            & (ubound >= alpha),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .distinct()
    )
    return hashed, cand


def simhash32(text: str) -> Column:
    """32-bit SimHash of the token multiset.

    Per token: 32-bit hash; bit j votes +1/−1; signature bit j = majority.
    Bit extraction uses floor(h / 2^j) % 2 — exact in double for h < 2^32,
    and identical in DuckDB (no engine-specific bit ops).

    One SQL expression; the token-hash array is bound once (``let``), so
    the 32 votes read it instead of each re-hashing every token.
    """
    hashes = f"transform({_tokens(_q(text))}, t_ -> {hash64_expr('t_')} % {1 << 32})"
    bits = " + ".join(
        f"IF(aggregate(sh_, 0, (acc_, h_) -> acc_ + "
        f"IF(floor(h_ / {float(1 << j)!r}D) % 2 = 1, 1, -1)) > 0, {1 << j}, 0)"
        for j in range(32)
    )
    return F.expr(f"CAST({let('sh_', hashes, bits)} AS BIGINT)")


def simhash_buckets(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group docs by identical SimHash — the scan-local near-dup bucket.

    (Hamming-radius probing is a union of bit-flipped bucket keys; exact-
    match buckets are the oracle-checkable core.)
    """
    return (
        spread_for_compute(df, id_col)
        .select(F.col(id_col), simhash32(text_col).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("canonical_id"))
    )


def incremental_ingest_verdicts(
    corpus: DataFrame, arrivals: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Incremental-ingest dedup: classify each ARRIVING doc against the
    standing corpus — the daily-crawl admission step of a living corpus
    (only novel content is appended; re-crawls and within-batch copies are
    refused at the door, so the expensive full-corpus dedup never has to
    re-run).

    Verdict per arrival:
    - ``dup_corpus``  — normalized content hash already in the corpus;
    - ``dup_batch``   — novel vs the corpus but another arrival in the
      same batch with the same hash has a smaller id (that one wins);
    - ``ingested``    — novel; this row would be appended.

    Scale shape: both sides reduce to fixed-width digests before any
    join — the corpus contributes DISTINCT hashes only (one partial-agg
    shuffle over digests, never bodies), arrivals carry (id, hash). The
    batch-internal canonical is a window over the arrival batch keyed by
    hash. At 100 TB the corpus digest set is the thing you MATERIALIZE
    once (it is exactly ``exact_duplicates``' group keys) and incrementally
    maintain; with it stored, admission cost is one join of the day's
    batch against a digest table — independent of corpus body bytes. A
    bloom/semi-join pushdown on the digest column cuts the corpus-side
    scan further when the batch is small.
    """
    corpus_hashes = (
        spread_for_compute(corpus, id_col)
        .select(content_hash(text_col).alias("content_hash"))
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    arr = spread_for_compute(arrivals, id_col).select(
        F.col(id_col), content_hash(text_col).alias("content_hash")
    )
    w = Window.partitionBy("content_hash")
    arr = arr.withColumn("batch_min_id", F.min(id_col).over(w))
    joined = arr.join(corpus_hashes, "content_hash", "left")
    return joined.select(
        id_col,
        F.when(F.col("in_corpus"), F.lit("dup_corpus"))
        .when(F.col(id_col) != F.col("batch_min_id"), F.lit("dup_batch"))
        .otherwise(F.lit("ingested"))
        .alias("verdict"),
    )


def duplicate_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 5
) -> DataFrame:
    """Exact duplicated token-SPAN detection: the substring-level dedup of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), whose suffix-array pass is re-expressed as its scalable
    surrogate — a corpus-wide duplicated-k-gram join + per-document
    gaps-and-islands merge. Doc-level dedup (``exact_duplicates``/MinHash)
    misses text duplicated INSIDE otherwise-distinct documents (licenses,
    boilerplate headers, quoted passages); this operator finds those spans
    so a curation pipeline can cut them instead of dropping whole docs.

    Algorithm (reference data model: per-sample window extraction,
    ``datasets/timeseries.py`` rolling windows — same explode shape):
    1. tokenize; emit every k-token gram with its 1-based start position
       (scan-local explode, ~L rows per doc — exactly the W1 rolling-window
       row shape);
    2. a gram is DUPLICATED iff its md5-derived ``hash64`` occurs >= 2
       times corpus-wide, counted as a window-count over the gram-hash
       partition (ONE shuffle keyed by the 8-byte hash, never gram text —
       and no second join-back pass);
    3. per doc, chain duplicated starts whose gap <= k into maximal spans
       (lag + running-sum islands over a per-doc window);
    4. one row per span: (id, span_start, span_end, span_tokens, n_grams),
       token indices 1-based inclusive.

    Scale: the only corpus-wide shuffle is keyed by gram hash — uniform by
    construction (md5), so no skew; state per key is the occurrence list of
    one gram. The per-doc island window repartitions by doc id. Both are
    the same shapes the MinHash band join already proved at 100 TB. Memory
    per task is bounded by (rows per gram-hash partition), not corpus size.
    """
    toks = tokenize(text_col)
    starts = F.when(
        F.size("toks") >= k, F.sequence(F.lit(1), F.size("toks") - k + 1)
    ).otherwise(F.array().cast("array<int>"))
    grams = (
        df.select(F.col(id_col), toks.alias("toks"))
        .select(F.col(id_col), F.explode(starts).alias("pos"), F.col("toks"))
        .select(
            F.col(id_col),
            F.col("pos").cast("long").alias("pos"),
            hash64(F.array_join(F.slice("toks", F.col("pos"), k), " ")).alias("gh"),
        )
    )
    dup = grams.withColumn(
        "cnt", F.count(F.lit(1)).over(Window.partitionBy("gh"))
    ).filter(F.col("cnt") >= 2)
    wdoc = Window.partitionBy(id_col).orderBy("pos")
    islands = dup.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(wdoc) > k, F.lit(1)).otherwise(
            F.lit(0)
        ),
    ).withColumn("island", F.sum("brk").over(wdoc))
    return islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k - 1).alias("span_end"),
        (F.max("pos") - F.min("pos") + k).alias("span_tokens"),
        F.count(F.lit(1)).alias("n_grams"),
    ).drop("island")


def blocked_edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str] | None = None,
    prefix_tokens: int = 4,
    max_dist: int = 3,
) -> DataFrame:
    """Entity-resolution-style near-duplicate pairing by EDIT DISTANCE
    under blocking: build a short "title" key (the first ``prefix_tokens``
    whitespace tokens), self-join only WITHIN a blocking key, and keep
    pairs whose title Levenshtein distance is ≤ ``max_dist``. This is the
    record-linkage family the shingle/MinHash ops don't cover: character
    -level typo/OCR variants of short keys (titles, names, URLs), where
    Jaccard over word shingles is blind (one edited character changes at
    most one token) but edit distance is the right metric.

    Blocking key = (``block_cols``…, first token, title-length bucket of 4
    chars). Both join sides carry the SAME key, so only same-block rows
    ever pair — the classic blocking trade-off: a pair whose FIRST token
    differs (or whose lengths differ by a bucket) is missed by this pass;
    production linkage runs 2-3 passes with rotated keys and unions the
    pairs, each pass this exact shape.

    Scale: one shuffle keyed by the blocking key; pair generation is
    quadratic ONLY within a block, so the key must keep blocks bounded:
    the candidate count grows with the square of the block size (the
    round-5 10× audit measured a fully-duplicated corpus growing
    candidates 105× for 10× rows), and a production run diverts oversized
    blocks to a stronger key or the MinHash pass. Levenshtein runs
    JVM-side (Catalyst ``levenshtein``), no Python in the plan.
    """
    toks = tokenize(text_col)
    title = F.array_join(F.slice(toks, 1, prefix_tokens), " ")
    keyed = df.select(
        F.col(id_col),
        *[F.col(c) for c in (block_cols or [])],
        title.alias("title"),
        # try_element_at: a token-less doc has no leading token to block
        # on — it gets a NULL key and simply never pairs (plain element_at
        # throws INVALID_ARRAY_INDEX under ANSI; edge-corpus battery)
        F.try_element_at(toks, F.lit(1)).alias("_tok1"),
        F.floor(F.length(title) / 4).alias("_lbucket"),
    )
    block_key = [*(block_cols or []), "_tok1", "_lbucket"]
    a = keyed.select(
        *block_key,
        F.col(id_col).alias("id_a"),
        F.col("title").alias("title_a"),
    )
    b = keyed.select(
        *block_key,
        F.col(id_col).alias("id_b"),
        F.col("title").alias("title_b"),
    )
    pairs = (
        a.join(b, block_key)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("title_dist", F.levenshtein("title_a", "title_b"))
        .filter(F.col("title_dist") <= max_dist)
    )
    return pairs.select("id_a", "id_b", *(block_cols or []), "title_dist")


def exact_collapse(
    df: DataFrame, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate PRE-COLLAPSE: group docs by normalized content
    hash, pick each group's minimum id as representative, and return
    ``(mapping, representatives)`` — mapping is (id_col, canonical_id)
    for EVERY doc, representatives is the subset of ``df`` rows whose id
    is their group's canonical id. One content-hash-keyed window shuffle
    + one id semi-join; used by :func:`minhash_components_collapsed`.
    """
    # project to (id, digest) BEFORE the window: the content-hash
    # shuffle must carry 16-byte digests, never document bodies
    hashed = spread_for_compute(df, id_col).select(
        F.col(id_col), content_hash(text_col).alias("_chash")
    )
    w = Window.partitionBy("_chash")
    # Materialized once: the mapping feeds the reps semi-join here plus
    # the caller's star and node joins — three consumers of the
    # content-hash window. Narrow and doc-count-bounded (id, canonical).
    mapping = hashed.select(
        F.col(id_col), F.min(id_col).over(w).alias("canonical_id")
    ).localCheckpoint(eager=True)
    reps = df.join(
        mapping.filter(F.col(id_col) == F.col("canonical_id")).select(id_col),
        id_col,
        "semi",
    )
    return mapping, reps


def minhash_components_collapsed(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    num_bands: int = 4,
    shingle_n: int = 3,
    collapse: bool = False,
) -> DataFrame:
    """Connected components over the MinHash candidate graph — (node,
    label) over the SHINGLED docs. ``collapse=False`` (the default) is
    ``connected_components(shingled nodes, minhash_candidate_pairs(df))``.

    ``collapse=True`` puts :func:`exact_collapse` in front and yields
    byte-identical output (pytest-pinned): instead of the copy-quadratic
    intra-group pair cliques, each identical-content group enters the
    graph as a linear STAR of member → canonical edges. Connectivity is
    preserved — within a group the star connects what the clique
    connected; across groups an (a, b) band collision exists iff the
    (rep(a), rep(b)) collision does. Labels agree because the rep is its
    group's min id, so star edges never introduce a smaller id than the
    clique would. Star edges attach only to groups whose content has
    ≥ 1 shingle: an unshingled doc has no signature and is not a CC node
    in the direct form either.
    """
    from aidc_2018_timeseries_spark.operators.graph import connected_components

    if not collapse:
        pairs = minhash_candidate_pairs(
            df, id_col, text_col, num_hashes, num_bands, shingle_n
        )
        nodes = df.filter(F.size(tokenize(text_col)) >= shingle_n).select(id_col)
        return connected_components(
            nodes, pairs, id_col=id_col, src_col="id_a", dst_col="id_b"
        )
    mapping, reps = exact_collapse(df, id_col, text_col)
    rep_pairs = minhash_candidate_pairs(
        reps, id_col, text_col, num_hashes, num_bands, shingle_n
    )
    shingled_canon = reps.filter(F.size(tokenize(text_col)) >= shingle_n).select(
        F.col(id_col).alias("canonical_id")
    )
    star = (
        mapping.filter(F.col(id_col) != F.col("canonical_id"))
        .join(shingled_canon, "canonical_id", "semi")
        .select(
            F.col(id_col).alias("id_a"), F.col("canonical_id").alias("id_b")
        )
    )
    nodes = mapping.join(shingled_canon, "canonical_id", "semi").select(id_col)
    return connected_components(
        nodes,
        rep_pairs.unionByName(star),
        id_col=id_col,
        src_col="id_a",
        dst_col="id_b",
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact n-gram CONTAINMENT ≥ threshold — the ASYMMETRIC sibling of
    :func:`ngram_jaccard_pairs`: C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)|.
    Jaccard misses the quote/subset/wrapper cases entirely (a doc fully
    embedded in one 10× longer has Jaccard ≤ 0.1 but containment 1.0);
    containment is how curation pipelines catch wire-copy embedding,
    quotation farms, and template-wrapped bodies. Output is DIRECTIONAL:
    (id_a, id_b, containment) means a's shingles are ≥ t covered by b's.

    Prefix filtering adapts to the asymmetry: only the A side can be
    prefix-pruned (C(A→B) ≥ t forces B to share one of A's first
    |A| − ⌈t·|A|⌉ + 1 rare-first shingles), while the B side must index
    its FULL shingle set — B may be arbitrarily larger, that is the
    point. The size filter is one-sided too: |B| ≥ t·|A|. Because the B
    side is full postings, hot (boilerplate) shingles make the candidate
    join quadratic in their document frequency; the positional filter
    below prunes most of those matches losslessly. Survivors verify
    exactly JVM-side on the full distinct-shingle arrays; the ratio stays
    UNROUNDED (exact-integer division is bit-deterministic on both
    engines, rounding can only break parity).
    """
    # Materialized once: feeds the ranked posting relation AND both sides
    # of the verify join (the jaccard-sibling pattern — without it the
    # shingle hashing runs ~4× across self-join legs). FOOTPRINT
    # (ADVICE r7 item 4): localCheckpoint stores the full distinct-
    # shingle relation (~n_sh int64s per doc, i.e. about the tokenized
    # corpus size) in executor block storage — deliberate: every byte of
    # it is consumed ≥ 3× downstream (postings build + two verify legs),
    # and MEMORY_AND_DISK spills rather than OOMs, so at corpus scale
    # the trade is storage-for-recompute at worst 1:3. eager=False skips
    # the extra count job, but under AQE the checkpoint still executes
    # the shuffle map stages below it when the DataFrame is built.
    hashed = (
        spread_for_compute(df, id_col)
        .select(
            F.col(id_col).alias("doc"),
            shingle_hashes(text_col, n=shingle_n).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    sh = hashed.select(
        "doc", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle")
    )
    eps = 1e-9
    wdf = Window.partitionBy("shingle")
    w = Window.partitionBy("doc").orderBy("df", "shingle")
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(eps)) + 1
    ).cast("int")
    # Both the prefix side and the full-postings side derive from this
    # ranked relation — materialize so its two window shuffles compute
    # once instead of twice (storage is bounded by the exploded shingle
    # relation, which the windows already shuffle in full either way;
    # same spill-not-OOM footprint note as `hashed` above). eager=False:
    # as for `hashed`, the window shuffles below still run at build time.
    with_rk = (
        sh.withColumn("df", F.count(F.lit(1)).over(wdf))
        .withColumn("rk", F.row_number().over(w))
        .localCheckpoint(eager=False)
    )
    pref = with_rk.filter(F.col("rk") <= prefix_len).select(
        F.col("doc").alias("id_a"),
        F.col("n_sh").alias("n_a"),
        F.col("rk").alias("rk_a"),
        "shingle",
    )
    full = with_rk.select(
        F.col("doc").alias("id_b"),
        F.col("n_sh").alias("n_b"),
        F.col("rk").alias("rk_b"),
        "shingle",
    )
    # positional filter, containment-adapted (PPJoin, Xiao et al. WWW'08):
    # a match at per-doc ranks (i, j) in the SHARED (df, shingle) canonical
    # order bounds the overlap by 1 + min(|A|−i, |B|−j), which must reach
    # α = ceil(t·|A|). Lossless in EXISTS form: for a true pair the first
    # common shingle sits inside A's prefix (else A's whole prefix is
    # non-common and overlap ≤ ceil(t|A|)−1 < α) and B indexes its full
    # set, so that match row exists and satisfies the bound. Hot
    # boilerplate shingles rank LATE on both sides — exactly the matches
    # this prunes.
    alpha = F.ceil(F.lit(threshold) * F.col("n_a") - F.lit(eps))
    ubound = F.lit(1) + F.least(
        F.col("n_a") - F.col("rk_a"), F.col("n_b") - F.col("rk_b")
    )
    cand = (
        pref.join(
            full,
            (pref["shingle"] == full["shingle"])
            & (pref["id_a"] != full["id_b"])
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a") - F.lit(eps))
            & (ubound >= alpha),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    a = hashed.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = hashed.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("containment", n_common / F.size("sh_a"))
        .filter(F.col("containment") >= F.lit(threshold) - F.lit(eps))
        .select("id_a", "id_b", "containment")
    )

"""Randomized property tests for the exact similarity-join family:
prefix-filtered Jaccard and one-sided-filtered containment must equal a
brute-force pure-Python computation on every random corpus — i.e. the
candidate filters are LOSSLESS, not approximately so. Seeded random (not
hypothesis) because each example pays a Spark job; 6 corpora × 2 ops
covers the filter edge cases (boundary ratios, subset docs, shared
vocabulary) deterministically.
"""

from __future__ import annotations

import random

from aidc_2018_timeseries_spark.operators.dedup import (
    ngram_containment_pairs,
    ngram_jaccard_pairs,
)


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _brute_jaccard(docs: dict[int, str], t: float) -> set[tuple[int, int]]:
    out = set()
    ids = sorted(docs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            sa, sb = _shingles(docs[a]), _shingles(docs[b])
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= t - 1e-9:
                out.add((a, b))
    return out


def _brute_containment(docs: dict[int, str], t: float) -> set[tuple[int, int]]:
    out = set()
    for a in docs:
        for b in docs:
            if a == b:
                continue
            sa, sb = _shingles(docs[a]), _shingles(docs[b])
            if not sa:
                continue
            if len(sa & sb) / len(sa) >= t - 1e-9:
                out.add((a, b))
    return out


def _random_corpus(seed: int) -> dict[int, str]:
    """Corpora engineered to stress the filters: shared vocabulary, planted
    near-dups (token edits), planted subsets (quotes), tiny docs."""
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(12)]
    docs: dict[int, str] = {}
    did = 0
    for _ in range(8):
        docs[did] = " ".join(rng.choices(vocab, k=rng.randint(2, 14)))
        did += 1
    # near-duplicate: copy with one token swapped
    base = docs[rng.randrange(did)].split()
    if len(base) > 4:
        pos = rng.randrange(len(base))
        base[pos] = rng.choice(vocab)
        docs[did] = " ".join(base)
        did += 1
    # subset: a contiguous slice of a longer doc (containment case)
    long_doc = max(docs.values(), key=lambda s: len(s.split())).split()
    if len(long_doc) >= 6:
        docs[did] = " ".join(long_doc[1 : 1 + rng.randint(4, len(long_doc) - 1)])
        did += 1
    return docs


def test_prefix_filtered_jaccard_is_lossless(spark):
    """Multiple thresholds: the prefix length, size filter, and the
    round-6 positional bound all take ceil() of t-scaled sizes, so each
    t exercises different integer boundaries (0.5 makes prefixes long
    and the positional α small; 0.8 the production shape)."""
    for threshold in (0.5, 0.8):
        for seed in range(6):
            docs = _random_corpus(seed)
            df = spark.createDataFrame(
                list(docs.items()), "doc_id long, text string"
            )
            got = {
                (r["id_a"], r["id_b"])
                for r in ngram_jaccard_pairs(
                    df, "doc_id", "text", threshold=threshold
                ).collect()
            }
            assert got == _brute_jaccard(docs, threshold), (
                f"seed {seed} t={threshold}"
            )


def _corpus_with_copies(seed: int) -> dict[int, str]:
    """Random corpus plus planted identical copies (incl. case/whitespace
    variants), shingle-less short docs, and empty docs."""
    rng = random.Random(1000 + seed)
    docs = _random_corpus(seed)
    did = max(docs) + 1
    # duplicate several docs 2-4x, including case/whitespace variants that
    # normalize to the same content hash
    for src in rng.sample(sorted(docs), k=min(4, len(docs))):
        for _ in range(rng.randint(1, 3)):
            text = docs[src]
            if rng.random() < 0.5:
                text = "  " + text.upper() + " "
            docs[did] = text
            did += 1
    docs[did] = "w1 w2"  # tokens but no 3-shingle
    docs[did + 1] = docs[did]  # identical shingle-less copy
    docs[did + 2] = "   "  # token-less
    docs[did + 3] = ""  # empty (same content hash as token-less)
    return docs


def test_one_sided_filtered_containment_is_lossless(spark):
    """Multiple thresholds, same rationale as the jaccard twin — at
    t=0.7 the A-prefix widens and the positional bound α = ceil(t·|A|)
    prunes harder, so boundary off-by-ones would surface here first. The
    copy corpora add identical-content groups (every ordered member pair
    is contained at 1.0), shingle-less docs and empty docs."""
    corpora = [("random", seed, _random_corpus(seed)) for seed in range(6)]
    corpora += [("copies", seed, _corpus_with_copies(seed)) for seed in range(4)]
    for threshold in (0.7, 0.9):
        for kind, seed, docs in corpora:
            df = spark.createDataFrame(
                list(docs.items()), "doc_id long, text string"
            )
            got = {
                (r["id_a"], r["id_b"])
                for r in ngram_containment_pairs(
                    df, "doc_id", "text", threshold=threshold
                ).collect()
            }
            assert got == _brute_containment(docs, threshold), (
                f"{kind} seed {seed} t={threshold}"
            )


def test_linkage_clusters_keep_edge_docs_apart(spark, tmp_path):
    """dedup_linkage_clusters on a corpus of same-lang copies, typo
    variants and edge docs: identical empty docs stay apart, identical
    NULL-lang copies stay singletons (the blocked join's lang equality is
    null-unsafe), and en/de copies of the same text never merge."""
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

    load_all()
    rng = random.Random(42)
    rows = []
    expected: dict[int, int] = {}
    did = 0
    titles = ["alpha beta gamma delta", "alpha betta gamma delta",
              "omega psi chi phi", "different title here now"]
    entity: dict[tuple[str, str], int] = {}
    for t in titles:
        for lang in ("en", "de"):
            # the first two titles are one typo apart: one entity per lang
            key = (lang, "alpha" if t.startswith("alpha") else t)
            for _ in range(rng.randint(1, 3)):
                rows.append((did, t + " body filler", lang))
                expected[did] = entity.setdefault(key, did)
                did += 1
    rows.append((did, "", "en"))
    rows.append((did + 1, "", "en"))
    rows.append((did + 2, titles[0] + " body filler", None))
    rows.append((did + 3, titles[0] + " body filler", None))
    for i in range(did, did + 4):
        expected[i] = i
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["doc_id"]: r["entity_id"]
        for r in CATALOG["dedup_linkage_clusters"]
        .spark_fn(spark, str(tmp_path))
        .collect()
    }
    assert got == expected
    assert got[did] != got[did + 1]  # identical empty docs
    assert got[did + 2] == did + 2 and got[did + 3] == did + 3  # NULL lang
    assert entity[("en", "alpha")] != entity[("de", "alpha")]


def test_collapsed_minhash_components_equal_direct(spark):
    """minhash_components_collapsed (rep graph + star edges) must produce
    the exact (node, label) relation of CC over the direct candidate
    graph: same node set (shingled docs only — identical unshingled
    copies must NOT merge) and same min-id labels."""
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_components_collapsed,
    )
    from aidc_2018_timeseries_spark.operators.graph import connected_components
    from aidc_2018_timeseries_spark.operators.text import shingle_hashes

    for seed in range(3):
        docs = _corpus_with_copies(seed)
        df = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        pairs = minhash_candidate_pairs(df, "doc_id", "text")
        nodes = df.select("doc_id").where(
            F.size(shingle_hashes("text", n=3)) > 0
        )
        direct = {
            r["node"]: r["label"]
            for r in connected_components(
                nodes, pairs, id_col="doc_id", src_col="id_a", dst_col="id_b"
            ).collect()
        }
        collapsed = {
            r["node"]: r["label"]
            for r in minhash_components_collapsed(
                df, "doc_id", "text", collapse=True
            ).collect()
        }
        assert collapsed == direct, f"seed {seed}"


def test_containment_face_build_runs_no_gate_job(spark, sf_dir):
    """Building dedup_ngram_containment runs no job of its own: only the
    parquet schema read of load_table and the shuffle map stages that
    ngram_containment_pairs' localCheckpoint(eager=False) executes under
    AQE. A full-corpus gate aggregate at build time would add a job."""
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all
    from aidc_2018_timeseries_spark.sources.tables import load_table

    load_all()
    sc = spark.sparkContext

    def build_jobs(name, build) -> list[int]:
        group = f"build-{name}"
        sc.setJobGroup(group, "DataFrame construction only")
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return sc.statusTracker().getJobIdsForGroup(group)

    docs = load_table(spark, sf_dir, "documents")
    read = build_jobs("read", lambda: load_table(spark, sf_dir, "documents"))
    op = build_jobs(
        "op",
        lambda: ngram_containment_pairs(
            docs, "doc_id", "text", shingle_n=3, threshold=0.9
        ),
    )
    face = build_jobs(
        "face",
        lambda: CATALOG["dedup_ngram_containment"].spark_fn(spark, sf_dir),
    )
    assert len(face) == len(read) + len(op), (read, op, face)

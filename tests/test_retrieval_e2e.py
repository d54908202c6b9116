"""Retrieval end-to-end (round 10, VERDICT r9 ask 8): chunk ->
feature-hash embed -> IVF index -> probe. The catalog eval twin pins the
whole chain against a DuckDB oracle; this battery pins the operator
contracts and the deployment-vs-expression parity."""

from __future__ import annotations

from aidc_2018_timeseries_spark.operators import similarity as sim
from aidc_2018_timeseries_spark.operators.text import chunk_hash_embeddings
from aidc_2018_timeseries_spark.plans.similarity_queries import (
    _RET_CSTRIDE,
    _RET_K,
    _RET_PROBE,
    _retrieval_corpus,
    _retrieval_queries,
    retrieval_index_e2e,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_count_and_ids(spark):
    """n_chunks = 1 for short docs else floor((n-cs)/st)+1; vec_id packs
    (doc_id, chunk_id) reversibly."""
    rows = [
        (1, " ".join(f"w{i % 7}" for i in range(100))),  # 100 toks -> 5 chunks
        (2, "a b c"),                                     # short -> 1 chunk
        (3, ""),                                          # empty -> 1 chunk
        (4, " ".join(f"w{i % 5}" for i in range(32))),    # exactly cs -> 1
        (5, " ".join(f"w{i % 5}" for i in range(33))),    # cs+1 -> 1 (floor)
        (6, " ".join(f"w{i % 5}" for i in range(48))),    # cs+st -> 2
    ]
    out = chunk_hash_embeddings(_docs(spark, rows), chunk_size=32, stride=16).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r)
        assert r["vec_id"] == (r["doc_id"] << 8) + r["chunk_id"]
    want = {1: 5, 2: 1, 3: 1, 4: 1, 5: 1, 6: 2}
    assert {d: len(v) for d, v in per_doc.items()} == want
    for d, n_tok in [(1, 100)]:
        assert sorted(r["chunk_id"] for r in per_doc[d]) == list(range(5))


def test_empty_doc_embeds_as_zero_vector(spark):
    out = chunk_hash_embeddings(_docs(spark, [(3, "")]), dim=16).collect()
    assert len(out) == 1
    assert out[0]["embedding"] == [0.0] * 16


def test_embedding_is_signed_token_count(spark):
    """One known token repeated k times: exactly one non-zero component
    of magnitude k (the hashing-trick definition)."""
    out = chunk_hash_embeddings(
        _docs(spark, [(1, "alpha alpha alpha")]), dim=8
    ).collect()
    e = out[0]["embedding"]
    nz = [x for x in e if x != 0.0]
    assert len(nz) == 1 and abs(nz[0]) == 3.0


def test_deployment_face_matches_expression_chain(spark, sf_dir):
    """retrieval_index_e2e (persisted index + Arrow GEMM route/rescore)
    must return the same top-k sets as the in-memory ivf_topk chain the
    oracle checks — the knn_ivf_persisted_eval parity contract applied to
    the composed face."""
    dep = sorted(map(tuple, retrieval_index_e2e(spark, sf_dir).collect()))
    v = _retrieval_corpus(spark, sf_dir)
    q = _retrieval_queries(v)
    expr = sorted(
        map(
            tuple,
            sim.ivf_topk(
                v, q, centroid_stride=_RET_CSTRIDE, n_probe=_RET_PROBE,
                k=_RET_K,
            ).collect(),
        )
    )
    assert dep == expr

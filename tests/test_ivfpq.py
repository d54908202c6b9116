"""IVF-PQ / ADC (operators/similarity.ivfpq_topk, ivfpq_rescored_topk).
The catalog faces pin the full chain against DuckDB oracles; this battery
pins the ADC arithmetic on corpora with known quantization structure."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.similarity import (
    ivfpq_rescored_topk,
    ivfpq_topk,
)


def _corpus(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _queries(v, stride):
    return v.filter(F.col("vec_id") % stride == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_adc_exact_on_codebook_members(spark):
    """A vector whose subvectors ARE codewords (any of the 16 lowest-id
    seed vectors) reconstructs exactly, so its ADC score equals the true
    inner product up to the m per-subspace roundings (<= m micro-units)."""
    rng = np.random.default_rng(5)
    m, sub, kcode = 4, 4, 16
    vecs = rng.standard_normal((32, m * sub))
    df = _corpus(spark, vecs)
    out = ivfpq_topk(
        df, _queries(df, 7), centroid_stride=3, n_probe=100, k=32,
        m=m, kcode=kcode,
    ).collect()
    got = {(r["query_id"], r["neighbor_id"]): r["score_micro"] for r in out}
    for (qid, nid), score in got.items():
        if nid < kcode:  # codebook member: exact reconstruction
            true = float(vecs[qid] @ vecs[nid])
            assert abs(score - round(true * 1e6)) <= m, (qid, nid)


def test_adc_rank_and_quota_invariants(spark):
    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((60, 16))
    df = _corpus(spark, vecs)
    out = ivfpq_topk(
        df, _queries(df, 11), centroid_stride=5, n_probe=2, k=5, m=4, kcode=16
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
        assert r["neighbor_id"] != r["query_id"]
    for qid, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), qid
        assert len(ranks) <= 5


def test_two_stage_rescore_subset_and_exact_sims(spark):
    """The rescored top-k must be a subset of the ADC shortlist, and its
    sims must equal the true 6-dp cosine (the exact pass is exact)."""
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((60, 16))
    df = _corpus(spark, vecs)
    kw = dict(centroid_stride=5, n_probe=2, m=4, kcode=16)
    short = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(df, _queries(df, 11), k=15, **kw).collect()
    }
    resc = ivfpq_rescored_topk(
        df, _queries(df, 11), shortlist=15, k=5, **kw
    ).collect()
    for r in resc:
        assert (r["query_id"], r["neighbor_id"]) in short
        true = float(vecs[r["query_id"]] @ vecs[r["neighbor_id"]])
        na = float(np.linalg.norm(vecs[r["query_id"]]))
        nb = float(np.linalg.norm(vecs[r["neighbor_id"]]))
        assert abs(r["sim"] - round(true / (na * nb), 6)) <= 1e-6


def test_two_stage_beats_code_only_on_testdata(spark, sf_dir):
    """recall(two-stage) >= recall(code-only) against brute-force truth —
    the whole point of the rescore (0.92 vs 0.28 at sf0.01, oracle-pinned
    in the catalog faces; here asserted as an ordering so the test is
    robust to testdata refreshes)."""
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

    load_all()
    code = CATALOG["knn_ivfpq_eval"].spark_fn(spark, sf_dir).collect()[0]
    two = CATALOG["knn_ivfpq_rescored_eval"].spark_fn(spark, sf_dir).collect()[0]
    assert two["recall"] >= code["recall"]
    assert two["recall"] >= 0.6  # a realistic config, not a strawman

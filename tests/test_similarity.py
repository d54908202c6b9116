"""Similarity-search tests: IVF recall vs the brute-force baseline."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    stride_centroids,
)
from aidc_2018_timeseries_spark.sources.tables import load_table
from tests.conftest import SF_DIR


def _queries(v):
    return v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _half_up6(x):
    """Spark F.round / DuckDB ROUND at 6 dp: HALF_UP on the exact binary
    value (Decimal(x) is exact)."""
    return float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _fold_cos(a, b):
    """The oracle's cosine: left-fold dot and norms in array order, then
    the 6-dp round; None when either norm is zero."""
    d = na = nb = 0.0
    for x, y in zip(a, b):
        d += float(x) * float(y)
        na += float(x) * float(x)
        nb += float(y) * float(y)
    if na == 0 or nb == 0:
        return None
    return _half_up6(d / (math.sqrt(na) * math.sqrt(nb)))


def _top(vec, others, n):
    """ids of the n most similar ``others`` (id -> vec) by rounded
    cosine, ties to the smaller id — with their sims."""
    sims = [(_fold_cos(vec, o), i) for i, o in others.items()]
    ranked = sorted(((s, i) for s, i in sims if s is not None), key=lambda t: (-t[0], t[1]))
    return [(i, s) for s, i in ranked[:n]]


def _ref_bucket(vec, planes_for_table):
    """Sign-LSH bucket of one vector for one table: left-fold dot in array
    order, 6-dp HALF_UP, sign test, bit-shift accumulate."""
    bucket = 0
    for b, plane in sorted(planes_for_table):
        acc = 0.0
        for x, y in zip(vec, plane):
            acc += float(x) * y
        if _half_up6(acc) > 0:
            bucket += 1 << b
    return bucket


def test_ivf_recall_against_brute_force(spark):
    v = load_table(spark, SF_DIR, "embeddings")
    q = _queries(v)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(v, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(v, q, centroid_stride=50, n_probe=3, k=5).collect()
    }
    # IVF probes 3 of ~10 cells; random 64-d data has weak cluster structure,
    # so recall is bounded by probe coverage — assert a sane floor and that
    # every IVF result is well-formed (no self-matches, ranks 1..5).
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"recall {recall}"
    ranks = {}
    for r in ivf_topk(v, q, centroid_stride=50, n_probe=3, k=5).collect():
        assert r["neighbor_id"] != r["query_id"]
        ranks.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())


def test_ivf_full_probe_equals_brute_force(spark):
    """Probing EVERY cell must reproduce the exact result — the recall loss
    is purely probe pruning, not a scoring bug."""
    v = load_table(spark, SF_DIR, "embeddings")
    q = _queries(v).limit(2)
    n_cells = stride_centroids(v, 50).count()
    exact = sorted(map(tuple, brute_force_topk(v, q, k=5).collect()))
    full = sorted(map(tuple, ivf_topk(v, q, centroid_stride=50, n_probe=n_cells, k=5).collect()))
    assert exact == full


def test_rp_lsh_recall_against_brute_force(spark):
    from aidc_2018_timeseries_spark.operators.similarity import rp_lsh_topk

    v = load_table(spark, SF_DIR, "embeddings")
    q = _queries(v)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(v, q, k=5).collect()
    }
    rows = rp_lsh_topk(v, q, n_tables=16, n_bits=5, k=5).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    recall = len(exact & approx) / len(exact)
    # random 64-d data has almost no cosine structure (near-neighbors are
    # barely closer than random pairs), so buckets must stay coarse:
    # 16 tables x 5 bits measures 0.68-0.84 recall across SFs. The floor
    # guards against bucketing bugs (a broken key sends recall to ~0).
    assert recall >= 0.5, f"recall {recall}"
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]


def test_lsh_dup_pairs_precision_and_recall(spark):
    """The LSH dedup face vs the brute-force pair baseline: precision must
    be EXACT (every emitted pair is a true ≥-threshold pair with the same
    rounded sim — rescoring is exact, LSH only prunes candidates), recall
    pinned with a floor (weak-cosine testdata: pairs sit at 0.35-0.51 where
    sign-LSH collision probability is modest by design)."""
    from aidc_2018_timeseries_spark.operators.similarity import (
        embedding_cosine_dup_pairs,
        embedding_lsh_dup_pairs,
    )

    v = load_table(spark, SF_DIR, "embeddings")
    exact = {(r["id_a"], r["id_b"]): r["sim"] for r in embedding_cosine_dup_pairs(v, 0.35).collect()}
    got = {(r["id_a"], r["id_b"]): r["sim"] for r in embedding_lsh_dup_pairs(v, n_bits=5, threshold=0.35).collect()}
    assert got, "LSH face found no pairs at all"
    for pair, sim in got.items():
        assert pair in exact and exact[pair] == sim  # exact precision
    recall = len(got) / len(exact)
    assert recall >= 0.2, f"recall {recall}"


def test_lsh_dup_pairs_one_bit_recovers_exact(spark):
    """1-bit tables ≈ full candidate coverage (any pair agrees on one sign
    bit in some of 16 tables w.h.p.) → the LSH face must equal brute force:
    pruning, not scoring, is the only approximation."""
    from aidc_2018_timeseries_spark.operators.similarity import (
        embedding_cosine_dup_pairs,
        embedding_lsh_dup_pairs,
    )

    v = load_table(spark, SF_DIR, "embeddings")
    exact = sorted(map(tuple, embedding_cosine_dup_pairs(v, 0.35).collect()))
    got = sorted(map(tuple, embedding_lsh_dup_pairs(v, n_bits=1, threshold=0.35, n_tables=16).collect()))
    assert exact == got


def test_rp_lsh_wide_tables_recover_exact(spark):
    """With 1-bit tables every pair collides in a table with prob ~1 per
    table; 16 such tables ≈ full candidate coverage → must equal brute
    force on the checked queries (pruning, not scoring, is the only
    approximation)."""
    from aidc_2018_timeseries_spark.operators.similarity import rp_lsh_topk

    v = load_table(spark, SF_DIR, "embeddings")
    q = _queries(v).limit(2)
    exact = sorted(map(tuple, brute_force_topk(v, q, k=5).collect()))
    got = sorted(map(tuple, rp_lsh_topk(v, q, n_tables=16, n_bits=1, k=5).collect()))
    assert exact == got


def test_assign_centroids_matches_sequential_fold_reference(spark):
    """The GEMM assignment picks the centroid a sequential-fold, HALF_UP
    reference picks for every vector, and breaks a rounded tie (two
    centroids with the same vector) to the smaller centroid_id."""
    from aidc_2018_timeseries_spark.operators.similarity import assign_centroids

    v = load_table(spark, SF_DIR, "embeddings")
    cents = stride_centroids(v, 50)
    got = {r["vec_id"]: r["centroid_id"] for r in assign_centroids(v, cents).collect()}
    cmap = {r["centroid_id"]: r["centroid_vec"] for r in cents.collect()}
    want = {r["vec_id"]: _top(r["embedding"], cmap, 1)[0][0] for r in v.collect()}
    assert got == want

    tied = spark.createDataFrame(
        [(7, [1.0, 1.0]), (3, [1.0, 1.0]), (5, [1.0, -1.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    vecs = spark.createDataFrame(
        [(1, [2.0, 1.0]), (2, [1.0, -3.0])], "vec_id long, embedding array<double>"
    )
    got = {r["vec_id"]: r["centroid_id"] for r in assign_centroids(vecs, tied).collect()}
    # vec 1: cos to [1,1] = 3/sqrt(10) = 0.948683 for BOTH 3 and 7 (> 0.316228
    # to [1,-1]) -> 3; vec 2: cos to [1,-1] = 4/sqrt(20) = 0.894427 -> 5
    assert got == {1: 3, 2: 5}


def test_embedding_lsh_scaled_face_precision_and_recall(spark):
    """The scaled (Arrow-GEMM) face: every emitted pair is a TRUE pair
    (precision exact by rescore), and recall vs the brute-force
    thresholded truth clears the sign-LSH floor."""
    import numpy as np

    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

    load_all()
    scaled = {
        (r["id_a"], r["id_b"])
        for r in CATALOG["dedup_embedding_lsh_scaled"].spark_fn(spark, SF_DIR).collect()
    }
    assert scaled
    v = load_table(spark, SF_DIR, "embeddings").collect()
    ids = np.array([r["vec_id"] for r in v])
    V = np.array([r["embedding"] for r in v], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    iu, ju = np.triu_indices(len(ids), k=1)
    keep = np.round(S[iu, ju], 6) >= 0.35
    lo = np.minimum(ids[iu[keep]], ids[ju[keep]])
    hi = np.maximum(ids[iu[keep]], ids[ju[keep]])
    truth = set(zip(lo.tolist(), hi.tolist()))
    assert scaled <= truth, f"false positives: {sorted(scaled - truth)[:5]}"
    recall = len(scaled & truth) / len(truth)
    assert recall >= 0.5, f"recall {recall}"


def test_hyperplane_rows_prefix_property(spark):
    """plane (t, b) must not depend on the bit budget — the property the
    scaled face's static oracle rests on (mask bit_idx < b over one
    inlined max-budget set)."""
    from aidc_2018_timeseries_spark.operators.similarity import hyperplane_rows

    big = {(t, b): p for t, b, p in hyperplane_rows(16, 4, 9, 7)}
    for bits in (1, 4, 7):
        for t, b, p in hyperplane_rows(16, 4, bits, 7):
            assert big[(t, b)] == p


def test_lsh_signature_arrow_matches_expression(spark):
    """GEMM signatures == a Spark-expression reference on the planes
    at test SF: per (vector, plane) the sequential-fold
    ``functions.vectors.dot``, the 6-dp ``F.round`` sign test, and the
    bit-shift sum per table — the arithmetic the scaled face's DuckDB
    oracle inlines, evaluated by the JVM instead of NumPy."""
    from pyspark.sql.types import ArrayType, DoubleType, IntegerType, StructField, StructType

    from aidc_2018_timeseries_spark.functions.vectors import dot
    from aidc_2018_timeseries_spark.operators.similarity import (
        hyperplane_rows,
        lsh_signatures,
    )

    v = load_table(spark, SF_DIR, "embeddings")
    planes = hyperplane_rows(64, 8, 5, 7)
    pl = spark.createDataFrame(
        planes,
        StructType(
            [
                StructField("table_id", IntegerType()),
                StructField("bit_idx", IntegerType()),
                StructField("plane", ArrayType(DoubleType())),
            ]
        ),
    )
    bit = F.when(
        F.round(dot("embedding", "plane"), 6) > 0,
        F.expr("shiftleft(CAST(1 AS BIGINT), bit_idx)"),
    ).otherwise(F.lit(0).cast("long"))
    expr = {
        (r["vec_id"], r["table_id"]): r["bucket"]
        for r in v.crossJoin(pl)
        .groupBy("vec_id", "table_id")
        .agg(F.sum(bit).alias("bucket"))
        .collect()
    }
    arrow = {
        (r["vec_id"], r["table_id"]): r["bucket"]
        for r in lsh_signatures(v, planes).collect()
    }
    assert expr == arrow


def test_assign_centroids_arrow_empty_centroids(spark):
    """No centroids, or only zero-norm ones → empty assignment with the
    declared schema (not a driver-side numpy crash)."""
    from aidc_2018_timeseries_spark.operators.similarity import assign_centroids

    v = load_table(spark, SF_DIR, "embeddings")
    cents = stride_centroids(v, 50)
    none = cents.filter("centroid_id < 0")
    zeros = cents.select(
        "centroid_id", F.transform("centroid_vec", lambda x: x * 0).alias("centroid_vec")
    )
    for c in (none, zeros):
        out = assign_centroids(v, c)
        assert out.count() == 0
        assert out.schema == assign_centroids(v, cents).schema
        assert out.columns == ["vec_id", "embedding", "centroid_id"]


def test_topk_matches_sequential_fold_reference(spark):
    """ivf_topk and rp_lsh_topk return exactly the ranked rows of a
    pure-Python reference built from sequential folds and HALF_UP
    rounding — the arithmetic the DuckDB oracles of knn_ivf_eval and
    knn_rp_lsh_eval use — on the knobs those faces pin."""
    from aidc_2018_timeseries_spark.operators.similarity import (
        hyperplane_rows,
        rp_lsh_topk,
    )

    v = load_table(spark, SF_DIR, "embeddings")
    q = _queries(v)
    vecs = {r["vec_id"]: r["embedding"] for r in v.collect()}
    qs = {r["query_id"]: r["query_vec"] for r in q.collect()}

    def ranked(qid, cand_ids):
        cands = {i: vecs[i] for i in cand_ids if i != qid}
        return [(qid, rk, i, s) for rk, (i, s) in enumerate(_top(qs[qid], cands, 5), 1)]

    # IVF: stride-50 centroids, each vector in its nearest cell, probe 3
    cents = {i: e for i, e in vecs.items() if i % 50 == 0}
    cell = {i: _top(e, cents, 1)[0][0] for i, e in vecs.items()}
    want = set()
    for qid, qe in qs.items():
        probed = {c for c, _ in _top(qe, cents, 3)}
        want |= set(ranked(qid, [i for i in vecs if cell[i] in probed]))
    got = set(map(tuple, ivf_topk(v, q, centroid_stride=50, n_probe=3, k=5).collect()))
    assert got == want

    # sign-LSH: candidates share a (table, bucket) with the query
    planes = hyperplane_rows(64, 8, 8, 7)
    per_table = {}
    for t, b, plane in planes:
        per_table.setdefault(t, []).append((b, plane))

    def sig(e):
        return {(t, _ref_bucket(e, ps)) for t, ps in per_table.items()}

    vsig = {i: sig(e) for i, e in vecs.items()}
    want = set()
    for qid, qe in qs.items():
        qsig = sig(qe)
        want |= set(ranked(qid, [i for i in vecs if vsig[i] & qsig]))
    got = set(
        map(tuple, rp_lsh_topk(v, q, n_tables=8, n_bits=8, k=5, seed=7, dim=64).collect())
    )
    assert got == want


def test_lsh_signature_matches_python_sequential_fold(spark):
    """The GEMM signature kernel == a pure-Python sequential-fold
    reference, element for element: left-fold dot in array order,
    round-half-up at 6 dp, sign test, bit-shift accumulate. This is the
    construction-level pin behind the oracle contract — the DuckDB hash
    checks one configuration per face; this checks the arithmetic
    CONTRACT on several plane shapes, including per-table bit counts that
    differ (the prefix-stable masked regime)."""
    from aidc_2018_timeseries_spark.operators.similarity import (
        hyperplane_rows,
        lsh_signatures,
    )

    v = load_table(spark, SF_DIR, "embeddings")
    rows = {r["vec_id"]: list(r["embedding"]) for r in v.collect()}

    configs = [
        hyperplane_rows(64, 3, 4, 11),
        hyperplane_rows(64, 1, 10, 5),
        # mixed per-table widths: drop the high bit from table 0 only
        [p for p in hyperplane_rows(64, 2, 5, 99) if not (p[0] == 0 and p[1] == 4)],
        # the planes the corpus-scaled face uses
        hyperplane_rows(64, 8, 5, 7),
    ]
    for planes in configs:
        per_table = {}
        for t, b, plane in planes:
            per_table.setdefault(t, []).append((b, plane))
        got = {
            (r["vec_id"], r["table_id"]): r["bucket"]
            for r in lsh_signatures(v, planes).collect()
        }
        want = {
            (vid, t): _ref_bucket(vec, ps)
            for vid, vec in rows.items()
            for t, ps in per_table.items()
        }
        assert got == want

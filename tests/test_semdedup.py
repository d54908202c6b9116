"""SemDeDup (operators/similarity.semdedup_verdicts) property battery.

Reference recipe: Abbas et al. 2023 (arXiv:2303.09540) — cluster, score
pairs within clusters only, transitive closure over >= tau pairs, keep
the group member LEAST similar to its cluster centroid. The catalog face
(dedup_semdedup) pins the full output against a recursive-CTE DuckDB
oracle; this battery pins the POLICY against a brute-force NumPy/
union-find replica on synthetic corpora the testdata cannot express
(planted near-dup groups, zero vectors, cross-cluster near-pairs).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.similarity import semdedup_verdicts

TAU = 0.9


def _corpus(spark, vecs, labels):
    rows = [
        (i, [float(x) for x in v], int(lab))
        for i, (v, lab) in enumerate(zip(vecs, labels))
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def _brute_force(vecs, labels, tau):
    """NumPy + union-find replica of the full recipe (float32-cast input,
    6-dp rounding at the same points as the operator)."""
    v = np.asarray(np.asarray(vecs, dtype=np.float32), dtype=np.float64)
    labs = sorted(set(labels))
    cents = {
        l: np.round(
            v[[i for i, x in enumerate(labels) if x == l]].mean(axis=0), 6
        )
        for l in labs
    }

    def cos(a, b):
        na, nb = np.sqrt(a @ a), np.sqrt(b @ b)
        if na == 0 or nb == 0:
            return None
        return round(float(a @ b) / float(na * nb), 6)

    assigned = {}
    for i in range(len(v)):
        best = max(
            (s, -l)
            for l in labs
            if (s := cos(v[i], cents[l])) is not None
        ) if any(cos(v[i], cents[l]) is not None for l in labs) else None
        if best is None:
            continue
        assigned[i] = (-best[1], best[0])  # (cluster, cent_sim)
    parent = {i: i for i in assigned}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    ids = sorted(assigned)
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            if assigned[a][0] != assigned[b][0]:
                continue
            s = cos(v[a], v[b])
            if s is not None and s >= tau:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    groups = {}
    for i in ids:
        groups.setdefault(find(i), []).append(i)
    keep = {}
    for root, members in groups.items():
        best = min(members, key=lambda i: (assigned[i][1], i))
        for m in members:
            keep[m] = (assigned[m][0], assigned[m][1], root, 1 if m == best else 0)
    return keep


def _planted(seed=7, n_clusters=3, per_cluster=8, dim=16):
    """Clustered corpus with planted near-dups: each cluster has a base
    direction; some members are tiny perturbations of a shared vector
    (true semantic dups), others are independent draws (survivors)."""
    rng = np.random.default_rng(seed)
    vecs, labels = [], []
    for c in range(n_clusters):
        base = rng.normal(size=dim)
        base /= np.linalg.norm(base)
        shared = base + 0.05 * rng.normal(size=dim)
        for j in range(per_cluster):
            if j % 3 == 0:
                x = shared + 0.01 * rng.normal(size=dim)
            else:
                x = base + 0.6 * rng.normal(size=dim)
            vecs.append((x / np.linalg.norm(x)).tolist())
            labels.append(c)
    return vecs, labels


def _split(df, split):
    """The corpus as one partition, or hash-spread over three so the
    per-batch Arrow kernels see it in several pieces; the verdicts must
    not depend on the layout."""
    return df.repartition(3, "vec_id") if split else df.coalesce(1)


def _assert_matches_brute_force(df, vecs, labels):
    got = {
        r["vec_id"]: (r["cluster"], r["cent_sim"], r["group_id"], r["keep"])
        for r in semdedup_verdicts(df, threshold=TAU).collect()
    }
    want = _brute_force(vecs, labels, TAU)
    assert set(got) == set(want)
    for i in got:
        assert got[i][0] == want[i][0], f"cluster mismatch at {i}"
        assert got[i][1] == pytest.approx(want[i][1], abs=2e-6)
        assert got[i][3] == want[i][3], f"keep mismatch at {i}"
    # group partitions match as SETS (labels are min-ids on both sides)
    by_group_got, by_group_want = {}, {}
    for i in got:
        by_group_got.setdefault(got[i][2], set()).add(i)
        by_group_want.setdefault(want[i][2], set()).add(i)
    assert sorted(map(sorted, by_group_got.values())) == sorted(
        map(sorted, by_group_want.values())
    )


def test_semdedup_matches_brute_force_on_planted_corpus(spark):
    vecs, labels = _planted()
    _assert_matches_brute_force(_corpus(spark, vecs, labels), vecs, labels)


def test_semdedup_arrow_form_matches_on_planted_corpus(spark):
    """The Arrow kernel (GEMM assignment + per-cluster GEMM pair stage)
    on a wider planted corpus spread over several partitions: the same
    verdicts as the brute-force replica."""
    vecs, labels = _planted(seed=23, n_clusters=4, per_cluster=10)
    df = _split(_corpus(spark, vecs, labels), True)
    _assert_matches_brute_force(df, vecs, labels)


def test_semdedup_keeps_exactly_one_per_group(spark):
    vecs, labels = _planted(seed=11, n_clusters=4, per_cluster=6)
    out = semdedup_verdicts(_corpus(spark, vecs, labels), threshold=TAU)
    agg = (
        out.groupBy("group_id")
        .agg(F.sum("keep").alias("kept"), F.count("*").alias("n"))
        .collect()
    )
    assert all(r["kept"] == 1 for r in agg)
    # and the kept member is the group's (cent_sim, vec_id) minimum
    rows = out.collect()
    by_group = {}
    for r in rows:
        by_group.setdefault(r["group_id"], []).append(r)
    for members in by_group.values():
        best = min(members, key=lambda r: (r["cent_sim"], r["vec_id"]))
        for m in members:
            assert m["keep"] == (1 if m["vec_id"] == best["vec_id"] else 0)


def test_semdedup_excludes_zero_vectors(spark):
    vecs, labels = _planted(seed=3, n_clusters=2, per_cluster=4, dim=8)
    vecs.append([0.0] * 8)
    labels.append(0)
    out = semdedup_verdicts(_corpus(spark, vecs, labels), threshold=TAU)
    ids = {r["vec_id"] for r in out.select("vec_id").collect()}
    assert len(vecs) - 1 not in ids  # the zero vector
    assert ids == set(range(len(vecs) - 1))


def test_semdedup_near_identical_cross_cluster_pair_not_grouped(spark):
    """Two near-identical vectors ASSIGNED to different clusters must stay
    separate groups — SemDeDup's bucketing is the cluster, by design."""
    rng = np.random.default_rng(5)
    a = rng.normal(size=8)
    a /= np.linalg.norm(a)
    b = -a  # same line, opposite direction: lands in the opposite cluster
    vecs = [a.tolist(), b.tolist()]
    labels = [0, 1]
    # pad each cluster so centroids are dominated by their own direction
    for c, base in ((0, a), (1, -a)):
        for _ in range(3):
            x = base + 0.1 * rng.normal(size=8)
            vecs.append((x / np.linalg.norm(x)).tolist())
            labels.append(c)
    out = semdedup_verdicts(_corpus(spark, vecs, labels), threshold=TAU).collect()
    g = {r["vec_id"]: r["group_id"] for r in out}
    assert g[0] != g[1]


def test_semdedup_arrow_zero_vector_and_singleton_clusters(spark):
    vecs, labels = _planted(seed=31, n_clusters=2, per_cluster=3, dim=8)
    vecs.append([0.0] * 8)
    labels.append(1)
    out = semdedup_verdicts(_corpus(spark, vecs, labels), threshold=TAU)
    ids = {r["vec_id"] for r in out.collect()}
    assert len(vecs) - 1 not in ids and ids == set(range(len(vecs) - 1))


def test_semdedup_recall_near_one_on_planted_duplicates(spark):
    """On a corpus with REAL semantic-duplicate structure (the decade
    regime: perturbed copies, tau high), cluster bucketing captures
    almost all global >= tau pairs — the complement of the sf0.01 eval
    face's honest 0.26 at a below-structure tau."""
    vecs, labels = _planted(seed=41, n_clusters=5, per_cluster=9)
    df = _corpus(spark, vecs, labels)
    grp = {
        r["vec_id"]: r["group_id"]
        for r in semdedup_verdicts(df, threshold=TAU).collect()
    }
    M = np.asarray(np.asarray(vecs, dtype=np.float32), dtype=np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = np.round(M @ M.T, 6)
    iu = np.triu_indices(len(vecs), k=1)
    hit = S[iu] >= TAU
    ia, ib = iu[0][hit], iu[1][hit]
    assert len(ia) > 0
    captured = sum(1 for a, b in zip(ia, ib) if grp[a] == grp[b])
    assert captured / len(ia) >= 0.9


@pytest.mark.parametrize("split", [False, True])
def test_semdedup_edge_corpora(spark, split):
    """Empty corpus, single vector, and all-identical vectors must not
    throw and must keep exactly one per group, on one partition or
    spread over several."""
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    assert semdedup_verdicts(_split(empty, split), threshold=TAU).count() == 0

    single = _split(_corpus(spark, [[1.0] + [0.0] * 7], [0]), split)
    rows = semdedup_verdicts(single, threshold=TAU).collect()
    assert len(rows) == 1 and rows[0]["keep"] == 1

    same = _split(_corpus(spark, [[1.0, 2.0, 3.0]] * 5, [0] * 5), split)
    rows = semdedup_verdicts(same, threshold=TAU).collect()
    assert len(rows) == 5
    assert sum(r["keep"] for r in rows) == 1
    assert len({r["group_id"] for r in rows}) == 1


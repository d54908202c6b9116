"""Persisted IVF index (round-7 verdict item 3): build-once, probe-later.

Three claims the face's docstring makes, pinned here:
1. the persisted probe is BIT-EQUAL to the in-memory ivf_topk (parquet
   round-trip adds no approximation);
2. the probe's index scan is a bucketed scan with bucket PRUNING — it
   selects strictly fewer buckets than the table has (the on-disk
   n_probe/C story, not just a post-scan filter);
3. the persisted inverted file is the in-memory assign_centroids
   relation, row for row.
"""

from __future__ import annotations

import re
import tempfile

from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators import similarity as sim
from aidc_2018_timeseries_spark.sources.tables import load_table
from tests.conftest import SF_DIR

STRIDE, PROBE, K = 50, 3, 5


def _frames(spark):
    v = load_table(spark, SF_DIR, "embeddings")
    q = v.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    cents = sim.stride_centroids(v, STRIDE)
    return v, q, cents


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_persisted_probe_equals_in_memory(spark):
    v, q, cents = _frames(spark)
    path = tempfile.mkdtemp(prefix="aidc_ivf_test_")
    index = sim.ivf_build_persisted(v, cents, "aidc_ivf_test_idx", path, n_buckets=8)
    pred = sim.ivf_probe_persisted(index, q, cents, n_probe=PROBE, k=K)
    ref = sim.ivf_topk(v, q, centroid_stride=STRIDE, n_probe=PROBE, k=K)
    assert _rows(pred) == _rows(ref)


def test_probe_scan_prunes_buckets(spark):
    v, q, cents = _frames(spark)
    path = tempfile.mkdtemp(prefix="aidc_ivf_test_")
    index = sim.ivf_build_persisted(v, cents, "aidc_ivf_test_idx2", path, n_buckets=8)
    pred = sim.ivf_probe_persisted(index, q, cents, n_probe=PROBE, k=K)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        pred.explain("formatted")
    plan = buf.getvalue()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, f"index scan is not planned as a pruned bucketed scan:\n{plan}"
    selected, total = int(m.group(1)), int(m.group(2))
    assert selected < total, (selected, total)
    # and the probed-cell filter reaches the parquet reader
    assert "PushedFilters" in plan or "pushedfilters" in plan.lower()


def test_gemm_build_persists_same_index(spark):
    v, _, cents = _frames(spark)
    path = tempfile.mkdtemp(prefix="aidc_ivf_test_")
    persisted = sim.ivf_build_persisted(
        v, cents, "aidc_ivf_test_a", path, n_buckets=8
    ).select("vec_id", "centroid_id")
    in_memory = sim.assign_centroids(v, cents).select("vec_id", "centroid_id")
    assert _rows(persisted) == _rows(in_memory)


def test_arrow_router_edge_cases(spark):
    """_route_queries edge semantics: zero-norm queries probe nothing,
    zero-norm centroids are dropped, n_probe > C degrades to all live
    cells, an empty centroid set yields an empty probe relation."""
    from pyspark.sql import functions as F

    q = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "query_id long, query_vec array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0]), (30, [0.0, 0.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    got = {
        (r.query_id, r.centroid_id)
        for r in sim._route_queries(
            q, cents, n_probe=5, query_id_col="query_id",
            query_vec_col="query_vec",
        ).collect()
    }
    # query 2 (zero norm) probes nothing; centroid 30 (zero norm) never
    # appears; n_probe=5 > 2 live cells -> both cells per live query
    assert got == {(1, 10), (1, 20), (3, 10), (3, 20)}

    empty = cents.filter(F.lit(False))
    assert (
        sim._route_queries(
            q, empty, n_probe=3, query_id_col="query_id",
            query_vec_col="query_vec",
        ).count()
        == 0
    )


def test_arrow_router_ties_break_to_smaller_centroid_id(spark):
    """Ranking on a crafted grid: 6-dp-rounded cosine descending, and a
    rounded tie goes to the smaller centroid_id."""
    q = spark.createDataFrame(
        [(i, [float(i % 3 + 1), float((7 * i) % 5)]) for i in range(1, 9)],
        "query_id long, query_vec array<double>",
    )
    # duplicate centroid vectors force rounded-cosine TIES
    cents = spark.createDataFrame(
        [(1, [1.0, 1.0]), (2, [1.0, 1.0]), (3, [2.0, 1.0]), (4, [0.5, 2.0])],
        "centroid_id long, centroid_vec array<double>",
    )
    got = {
        (r.query_id, r.centroid_id)
        for r in sim._route_queries(
            q, cents, n_probe=2, query_id_col="query_id",
            query_vec_col="query_vec",
        ).collect()
    }
    # queries 1-4 ([2,2] [3,4] [1,1] [2,3]) are closest to [1,1]: the tied
    # cells 1 and 2 fill both probes. Queries 5-8 ([3,0] [1,2] [2,4] [3,1])
    # have a closer single cell (3, 4, 4, 3: e.g. cos([3,0],[2,1]) =
    # 0.894427 > cos([3,0],[1,1]) = 0.707107), and their second probe is
    # the 1-vs-2 tie, which cell 1 wins.
    want = {(i, c) for i in (1, 2, 3, 4) for c in (1, 2)} | {
        (5, 3), (5, 1), (6, 4), (6, 1), (7, 4), (7, 1), (8, 3), (8, 1)
    }
    assert got == want

"""Similarity search over embedding columns (array<float>).

Two tiers, per the 100 TB design brief:
- brute-force cosine top-k — the correctness baseline. The query set is
  small and BROADCAST; the corpus streams through a scan-shaped plan, so
  the cost is one pass over the data per query batch, no shuffle of the
  corpus. JVM-side fold arithmetic (functions/vectors.py) keeps it inside
  codegen and bit-reproducible for the DuckDB oracle.
- IVF (inverted-file) top-k — the scale path: vectors are pre-assigned to
  their nearest centroid (one scan, centroids broadcast); a query probes
  only the closest n_probe centroid partitions, touching ~n_probe/C of the
  corpus. Centroids here are a deterministic id-stride sample; a real
  deployment would plug k-means centroids from MLlib without changing the
  query shape.
- PERSISTED IVF (round 8) — the deployment tier: ivf_build_persisted
  writes the inverted file bucketed on centroid_id once;
  ivf_probe_persisted routes and rescores with bucket-pruned scans.
  ivf_topk is the single-pass form; at corpus scale prefer build-once +
  persisted probes.

Every per-row × per-centroid (or × per-plane) step — centroid
assignment, query routing, IVF candidate rescore, sign-LSH signatures,
PQ codes, the SemDeDup pair stage — has ONE implementation: a batched
NumPy kernel over Arrow batches (mapInPandas / applyInPandas), with
similarities rounded by ``_round6_half_up`` (the ``F.round``/DuckDB
HALF_UP convention) and ties broken to the smallest id. The DuckDB
oracles of the catalog faces check these kernels directly. Brute-force
top-k, the brute-force dup pairs and the final candidate rescores stay
JVM-side fold expressions (functions/vectors.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.functions.vectors import dot, l2_norm
from aidc_2018_timeseries_spark.operators.partitioning import spread_for_compute


def _round6_half_up(x):
    """Decimal HALF_UP (away from zero) at 6 dp for NumPy arrays — the
    ``F.round``/DuckDB ROUND convention, NOT ``np.round``'s
    half-to-even. ``floor(|x| * 1e6 + 0.5)`` reproduces BigDecimal
    HALF_UP everywhere except within an ulp of a ×1e6 halfway boundary,
    where ``F.round`` rounds the double's SHORTEST DECIMAL REPR
    (BigDecimal.valueOf); those rare rows take an exact Decimal(repr)
    path. The halfway-detection
    window scales with ulp(|x|·1e6) (ADVICE r9): a fixed 1e-6 window is
    narrower than one ulp once |x| exceeds ~1e4, so large-magnitude
    true-halfway values would have missed the Decimal rescue. The
    per-element ulp window is computed ONLY when the batch actually
    contains large magnitudes (max |x|·1e6 > 1e10, i.e. beyond where the
    fixed window is ≥ 2 ulps) — an unconditional ``np.spacing`` +
    ``np.maximum`` over the full input measured 6× kernel wall on the
    GEMM similarity matrices (1e9 elements at the 1M-vector decade),
    while every cosine-domain caller is bounded |x| ≤ ~1 and never
    leaves the fast path. Widening the window only ever routes MORE
    values through the exact Decimal path, so the tiers cannot change a
    result. NaN/±inf propagate (callers mask zero-norm rows to NULL
    separately)."""
    import numpy as np

    x = np.asarray(x, dtype=np.float64)
    ax = np.abs(x)
    scaled = ax * 1e6
    with np.errstate(invalid="ignore"):
        r = np.floor(scaled + 0.5)
        frac = scaled - np.floor(scaled)
        res = np.sign(x) * (r / 1e6)
        fin = np.isfinite(x)
        mx = float(np.max(scaled, initial=0.0, where=fin))
        if mx > 1e10:  # rare path: unbounded-magnitude callers (lsh sigs)
            window = np.maximum(1e-6, 4.0 * np.spacing(scaled))
        else:
            window = 1e-6
        sus = fin & (np.abs(frac - 0.5) < window)
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        q6 = Decimal("0.000001")
        idx = np.nonzero(sus)
        res[idx] = [
            float(Decimal(repr(float(v))).quantize(q6, rounding=ROUND_HALF_UP))
            for v in x[idx]
        ]
    return res


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, rank, sim).

    Rank is deterministic: similarity rounded to 6 dp desc, then neighbor
    id asc — float ulp noise cannot flip the ordering.

    Norms are computed ONCE per corpus vector and once per query (the
    round-8 norm-once contract, see semdedup_verdicts): the guarded
    per-pair cosine would re-run the l2_norm fold n_queries times per
    vector, and the fold over the same array yields the same double, so
    ``dot/(nv*nq)`` behind the same zero-norm guard is bit-identical
    while paying one fold per pair instead of three.
    """
    v = spread_for_compute(vectors, id_col).withColumn("_nv", l2_norm(vec_col))
    q = queries.withColumn("_nq", l2_norm(query_vec_col))
    joined = v.crossJoin(F.broadcast(q)).filter(
        F.col(id_col) != F.col(query_id_col)
    )
    sim = F.round(
        F.when(
            (F.col("_nv") > 0) & (F.col("_nq") > 0),
            dot(F.col(vec_col), F.col(query_vec_col))
            / (F.col("_nv") * F.col("_nq")),
        ),
        6,
    )
    scored = joined.select(
        F.col(query_id_col), F.col(id_col).alias("neighbor_id"), sim.alias("sim")
    ).filter(
        # undefined similarities (zero-norm vector on either side → NULL)
        # must not occupy top-k slots — drop them before ranking
        F.col("sim").isNotNull()
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "sim")
    )


def _centroid_matrix(centroids: DataFrame, id_col: str, vec_col: str):
    """Collect a centroid table driver-side as ``(ids, Mn)``: ids sorted
    ascending (int64) and ``Mn`` the (dim × C) matrix of their
    L2-normalized vectors, so one GEMM scores a batch against every
    centroid and argmax/argsort ties fall to the smallest id. Zero-norm
    centroids are dropped — a normalized zero column would score 0.0 and
    beat genuinely negative similarities. Bounded: C × dim floats, the
    table an IVF router holds. An empty or all-zero table gives ``C = 0``;
    the kernels then emit no rows."""
    import numpy as np

    rows = sorted(centroids.select(id_col, vec_col).collect(), key=lambda r: r[0])
    if not rows:
        return np.empty(0, dtype=np.int64), np.empty((0, 0))
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1)
    keep = norms > 0
    return ids[keep], (M[keep] / norms[keep][:, None]).T


def assign_centroids(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
) -> DataFrame:
    """IVF build: nearest centroid per vector, as ONE dense normalized
    GEMM per Arrow batch — (batch_rows × dim) @ (dim × C).

    One scan over the corpus; output is the inverted file — at scale you
    write it back partitioned/bucketed by centroid_id so probes prune
    files. Centroids are collected driver-side (``_centroid_matrix``) and
    closed over, so workers do pure BLAS; an n × C fold-expression build
    was measured QUADRATIC once C grows with n (152s vs 12s at n=20k,
    SCALING.md round-4 ANN audit). Argmax tiebreak = smallest
    centroid_id on the 6-dp-rounded similarity. Zero-norm vectors have
    no nearest centroid (cosine undefined) and are dropped from the
    index.
    """
    import numpy as np
    import pandas as pd

    id_t = vectors.schema[id_col].dataType.simpleString()
    vec_t = vectors.schema[vec_col].dataType.simpleString()
    cid_t = centroids.schema[centroid_id_col].dataType.simpleString()
    ids, Mn = _centroid_matrix(centroids, centroid_id_col, centroid_vec_col)

    def gen(batches):
        for pdf in batches:
            if pdf.empty or not len(ids):
                continue
            V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            keep = norms[:, 0] > 0
            if not keep.any():
                continue
            pdf = pdf[keep].reset_index(drop=True)
            S = _round6_half_up((V[keep] / norms[keep]) @ Mn)
            # argmax returns the FIRST max; columns are centroid_id-ascending
            best = ids[np.argmax(S, axis=1)]
            yield pd.DataFrame(
                {id_col: pdf[id_col], vec_col: pdf[vec_col], centroid_id_col: best}
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_t}, {vec_col} {vec_t}, {centroid_id_col} {cid_t}"
    )


def stride_centroids(
    vectors: DataFrame,
    stride: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid sample: every stride-th vector by id."""
    return vectors.filter(F.col(id_col) % stride == 0).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("centroid_vec")
    )


def _score_candidates(
    cand: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Shared Arrow candidate scorer for the IVF probe paths: one
    vectorized einsum batch over pre-joined (query, candidate) rows —
    (query_id, neighbor_id, sim double). Rounding is ``_round6_half_up``
    — decimal HALF_UP at 6 dp, the ``F.round`` convention (``np.round``
    is half-to-even and could flip a tie on a decimal halfway boundary);
    a zero-norm vector on either side gives NULL sim, which is dropped
    (the brute_force_topk policy)."""
    import numpy as np
    import pandas as pd

    qid_t = cand.schema[query_id_col].dataType.simpleString()
    nid_t = cand.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            B = np.asarray(pdf[query_vec_col].tolist(), dtype=np.float64)
            na = np.einsum("ij,ij->i", A, A)
            nb = np.einsum("ij,ij->i", B, B)
            dot_ = np.einsum("ij,ij->i", A, B)
            with np.errstate(invalid="ignore", divide="ignore"):
                s = _round6_half_up(dot_ / np.sqrt(na * nb))
            out = pd.DataFrame(
                {
                    query_id_col: pdf[query_id_col],
                    "neighbor_id": pdf[id_col],
                    "sim": s,
                }
            )
            out.loc[~((na > 0) & (nb > 0)), "sim"] = None
            yield out

    return cand.select(
        query_id_col, id_col, vec_col, query_vec_col
    ).mapInPandas(
        gen,
        schema=f"{query_id_col} {qid_t}, neighbor_id {nid_t}, sim double",
    ).filter(F.col("sim").isNotNull())


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroid_stride: int = 50,
    n_probe: int = 3,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: probe the n_probe nearest centroid cells only.

    Recall < 1 by design; with pinned knobs the result is nevertheless
    deterministic (6-dp HALF_UP rounding, smallest-id ties) and
    SQL-expressible, which is what the oracle-checked quality face
    ``knn_ivf_eval`` runs against brute force.

    ``centroid_stride`` sets the cell count C = n / stride. A FIXED
    stride makes C grow with the corpus and the build cost n·C quadratic;
    a caller that knows n derives the stride so that C stays near √n (the
    classic IVF choice, as ``knn_ivf`` does), which keeps the build linear
    and the probed fraction n_probe/C stable. All three per-row ×
    per-centroid stages are vectorized: GEMM assignment, GEMM + argsort query routing, einsum
    candidate rescore (SCALING.md round 8). Assignment and routing
    collect the centroid table on the driver when the plan is built.
    """
    cents = stride_centroids(vectors, centroid_stride, id_col, vec_col)
    inverted = assign_centroids(vectors, cents, id_col, vec_col)
    # queries → their n_probe closest centroids
    probes = _route_queries(queries, cents, n_probe, query_id_col, query_vec_col)
    # probe join: only vectors in probed cells are scored
    cand = probes.join(inverted, "centroid_id").filter(F.col(id_col) != F.col(query_id_col))
    scored = _score_candidates(cand, id_col, vec_col, query_id_col, query_vec_col)
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "sim")
    )


def embedding_cosine_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, id_a < id_b.

    Brute-force form (correctness baseline). The scale path reuses the IVF
    partitioning: compare only within a cell and its neighbor cells.
    """
    left = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(vec_col).alias("_na"),
    )
    right = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(vec_col).alias("_nb"),
    )
    pairs = left.join(right, F.col("id_a") < F.col("id_b"))
    # norm-once, bit-identical to the guarded per-pair cosine (round 8)
    sim = F.round(
        F.when(
            (F.col("_na") > 0) & (F.col("_nb") > 0),
            dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
        ),
        6,
    )
    return pairs.select("id_a", "id_b", sim.alias("sim")).filter(F.col("sim") >= threshold)


def scaled_n_bits(n: int, target_per_bucket: int = 64, floor: int = 5) -> int:
    """LSH bucket-granularity law, in one place: choose n_bits so expected
    bucket population n / 2^bits ≈ target_per_bucket. Fixed bits make the
    population — and candidate volume — grow linearly with the corpus,
    degenerating toward brute force (SCALING.md round-4 ANN audit)."""
    import math

    return max(floor, math.ceil(math.log2(max(n, 2) / target_per_bucket)))


def hyperplane_rows(
    dim: int, n_tables: int, n_bits: int, seed: int = 7
) -> list[tuple[int, int, list[float]]]:
    """Deterministic Gaussian hyperplanes for sign-LSH: one (table_id,
    bit_idx, plane) tuple per bit. The single source of truth shared by the
    Spark signature kernel below AND the DuckDB oracle generators in
    plans/ — both engines see bit-identical plane constants, so the
    driver's hash check verifies the whole LSH algorithm.

    PREFIX-STABLE: plane (t, b) draws from its own
    ``RandomState([seed, t, b])``, so it never depends on ``n_tables`` or
    ``n_bits``. This is what lets a CORPUS-SCALED bit count be
    oracle-checked: the static SQL inlines the planes for a maximum bit
    budget once, and masking ``bit_idx < n_bits`` reproduces exactly the
    planes the Spark side generated for the data-derived ``n_bits``.
    """
    import numpy as np

    return [
        (t, b, [float(x) for x in np.random.RandomState([seed, t, b]).randn(dim)])
        for t in range(n_tables)
        for b in range(n_bits)
    ]


def lsh_signatures(
    vectors: DataFrame,
    planes: list[tuple[int, int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_id, bucket): per table, pack sign(v·plane) bits into a
    bigint bucket key. Cosine-LSH property: P[bit match] = 1 − θ/π, so
    similar vectors collide in some table with high probability.

    Computed as ONE dense NumPy GEMM per Arrow batch — (batch_rows × dim)
    @ (dim × n_planes) — then the 6-dp HALF_UP sign test
    (``_round6_half_up(v·p) > 0``) and bit-shift accumulation in bit
    order per table. Scan-shaped: no shuffle of the corpus, no explode,
    and the plane matrix is a closed-over constant (an inlined-literal
    expression form crossed the JIT method-size limit and cost ~48k py4j
    round-trips per plan, SCALING.md round 7). The DuckDB oracles fold
    ``list_dot_product`` sequentially; the GEMM's different accumulation
    order can flip a bit only when |v·p| lies within float ulps of the
    rounding boundary (margins measured ≥ 54× that boundary on the
    testdata), and tests pin the buckets against a sequential-fold
    reference.
    """
    import numpy as np
    import pandas as pd

    id_t = vectors.schema[id_col].dataType.simpleString()
    per_table: dict[int, list[tuple[int, list[float]]]] = {}
    for t, b, plane in planes:
        per_table.setdefault(t, []).append((b, plane))
    tables = sorted(per_table)
    # (dim × n_planes) matrix, planes grouped by table then bit order
    P = np.array(
        [plane for t in tables for _, plane in sorted(per_table[t])], dtype=np.float64
    ).T
    weights = np.array(
        [1 << b for t in tables for b, _ in sorted(per_table[t])], dtype=np.int64
    )
    bits_per_table = [len(per_table[t]) for t in tables]
    table_ids = np.array(tables, dtype=np.int32)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            signs = _round6_half_up(v @ P) > 0  # (rows × n_planes)
            weighted = signs * weights
            buckets = np.empty((len(pdf), len(tables)), dtype=np.int64)
            off = 0
            for i, nb in enumerate(bits_per_table):
                buckets[:, i] = weighted[:, off : off + nb].sum(axis=1)
                off += nb
            n = len(pdf)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), len(tables)),
                    "table_id": np.tile(table_ids, n),
                    "bucket": buckets.reshape(-1),
                }
            )

    return spread_for_compute(vectors, id_col).select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_t}, table_id int, bucket long"
    )


def embedding_lsh_dup_pairs(
    vectors: DataFrame,
    n_bits: int,
    threshold: float = 0.35,
    n_tables: int = 8,
    seed: int = 7,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs, LSH-bucketed: candidates = vectors
    sharing any table's sign-bucket (equi-join on (table_id, bucket) over
    posting lists), exact-rescored with cosine and thresholded.

    This is the 100 TB catalog face for embedding dedup: the corpus is
    never self-joined all-pairs — only bucket keys shuffle, and n_bits
    must scale the bucket count with the corpus (fixed bits means
    per-bucket population ∝ n and candidates quadratic — measured 15s→300s
    over one decade with n_bits=4, SCALING.md round-4 audit):
    ``scaled_n_bits(n)`` picks ~64 vectors/bucket, as the corpus-scaled
    face ``dedup_embedding_lsh_scaled`` does. Precision is exact
    (rescore); recall < 1 by design and is pinned against the brute-force
    baseline in tests/test_similarity.py. Signatures come from the GEMM
    kernel :func:`lsh_signatures`.
    Output: (id_a, id_b, sim), id_a < id_b.
    """
    planes = hyperplane_rows(dim, n_tables, n_bits, seed)
    # Materialize the signature relation once: Spark does not reuse a
    # subplan across the two sides of a self-join, so without this the
    # full-corpus signature scan (the GEMM pass at scale) runs TWICE —
    # the graph.py oriented-edges pattern. The checkpointed relation is
    # narrow ((id, table, bucket), n_tables rows/vector), bounded at any
    # corpus size. Measured at sf0.1: 5.7 -> ~5.2s wall; the win grows
    # with corpus size because the doubled work is the corpus scan.
    sig = lsh_signatures(vectors, planes, id_col, vec_col).localCheckpoint(eager=True)
    cand = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # Norm-once rescore (round 8): the guarded per-pair cosine re-runs
    # the l2_norm fold for BOTH vectors of every candidate pair — the
    # measured wall of the output-bound decade regime (three interpreted
    # folds ≈ 100µs/pair, 417s at 10.9M true pairs). Norms computed once
    # per corpus vector ride the same marshalling joins; the fold over
    # the same array yields the same double, so the guarded dot/(na*nb)
    # is bit-identical to dot(a, b) / (l2_norm(a) * l2_norm(b)) per pair
    # and the oracle contract holds.
    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_va"),
        l2_norm(vec_col).alias("_na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_vb"),
        l2_norm(vec_col).alias("_nb"),
    )
    sim = F.round(
        F.when(
            (F.col("_na") > 0) & (F.col("_nb") > 0),
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
        ),
        6,
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def rp_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    n_tables: int = 8,
    n_bits: int = 10,
    k: int = 5,
    seed: int = 7,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH (the bucketed
    sibling of ivf_topk; brief: "IVF or LSH-bucketed variant"). With
    pinned knobs the result is deterministic — the oracle-checked quality
    face ``knn_rp_lsh_eval`` restates it in DuckDB.

    Candidates = corpus vectors sharing ANY table's bucket with the query
    (equi-join on (table_id, bucket) — a shuffled hash join over posting
    lists, never a cross product), then exact rescoring + top-k. Recall
    grows with n_tables, candidate cost with 2^-n_bits; both knobs are
    per-deployment. ``dim`` is a parameter (a driver-side ``.first()``
    sniff would submit an extra job before the main plan). Approximate ⇒
    driver rows-only check; recall vs brute force is pinned in
    tests/test_similarity.py."""
    planes = hyperplane_rows(dim, n_tables, n_bits, seed)
    sig_v = lsh_signatures(vectors, planes, id_col, vec_col)
    sig_q = lsh_signatures(queries, planes, query_id_col, query_vec_col)
    cand = (
        sig_q.join(sig_v, ["table_id", "bucket"])
        .select(query_id_col, id_col)
        .distinct()
        .filter(F.col(id_col) != F.col(query_id_col))
    )
    # norm-once rescore (round 8, bit-identical — see brute_force_topk)
    scored = (
        cand.join(
            vectors.select(id_col, vec_col).withColumn("_nv", l2_norm(vec_col)),
            id_col,
        )
        .join(F.broadcast(queries.withColumn("_nq", l2_norm(query_vec_col))), query_id_col)
        .select(
            F.col(query_id_col),
            F.col(id_col).alias("neighbor_id"),
            F.round(
                F.when(
                    (F.col("_nv") > 0) & (F.col("_nq") > 0),
                    dot(F.col(vec_col), F.col(query_vec_col))
                    / (F.col("_nv") * F.col("_nq")),
                ),
                6,
            ).alias("sim"),
        )
        .filter(F.col("sim").isNotNull())  # match brute_force_topk's NULL policy
    )
    w = Window.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "sim")
    )


def centroid_means(
    vectors: DataFrame,
    group_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Element-wise mean vector per group: (group_col, centroid_vec).

    The distributed shape is posexplode → groupBy(group, dim): the fan-out
    partial-aggregates map-side (sum/count combine before the shuffle), the
    shuffle key (group, dim) is uniform, and the result is bounded by
    k × dim rows no matter the corpus size. Components are rounded so the
    summation-order-sensitive float accumulation is reproducible (the
    repo-wide ROUND-6 convention; see plans/catalog.py).
    """
    exploded = vectors.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("dim", "val")
    )
    comp = exploded.groupBy(group_col, "dim").agg(
        F.round(F.sum(F.col("val").cast("double")) / F.count(F.lit(1)), round_dp).alias(
            "c"
        )
    )
    return comp.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("centroid_vec")
    )


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_levels: int = 127,
) -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|v_i| / 127,
    q_i = round(v_i / scale) ∈ [−127, 127]. Returns (id, scale, qvec,
    original float64 vector as ``_e`` for error auditing).

    The storage workhorse of a 100 TB embedding store: 4× smaller than
    float32 (8× vs float64), and ANN candidate generation (LSH signatures,
    IVF cells) runs unchanged on dequantized values while exact rescoring
    rereads the float column for survivors only. Reconstruction error is
    bounded by scale/2 per component by construction — the catalog face
    (embedding_quantize_error) emits the measured per-vector error next
    to that bound, and the whole quantize→dequantize round trip is
    expression-only (scan-shaped, codegen, no Python, no shuffle).
    """
    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_e")
    )
    v = v.withColumn(
        "scale",
        F.greatest(
            F.array_max(F.transform("_e", lambda x: F.abs(x))), F.lit(1e-30)
        )
        / n_levels,
    )
    q = F.transform("_e", lambda x: F.round(x / F.col("scale"), 0).cast("int"))
    return v.select(id_col, "scale", q.alias("qvec"), "_e")


def random_projection(
    vectors: DataFrame,
    dim: int,
    out_dim: int,
    seed: int = 11,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: reduce ``dim``-wide
    embeddings to ``out_dim`` coordinates via dot products with
    deterministic Gaussian directions (``hyperplane_rows`` — the same
    md5-free seeded source the LSH faces inline, so both engines see
    bit-identical constants). Pairwise distances are preserved within
    (1±ε) for out_dim = O(log n / ε²) — the standard pre-ANN / pre-cluster
    shrink that makes a 100 TB embedding corpus joinable at interactive
    cost.

    Output is long format (id, comp_id, coord), coord scaled by
    1/sqrt(out_dim) and rounded to 6 dp. Plan: the projection matrix is a
    CONSTANT inlined into the expression tree — scan-local, no join, no
    shuffle, whole-stage codegen; output rows = n × out_dim.
    """
    import math

    planes = hyperplane_rows(dim, 1, out_dim, seed)
    scale = 1.0 / math.sqrt(out_dim)
    comps = []
    for _, b, plane in sorted(planes):
        const = F.array(*[F.lit(x) for x in plane])
        comps.append(
            F.struct(
                F.lit(b).alias("comp_id"),
                F.round(dot(F.col(vec_col), const) * F.lit(scale), 6).alias("coord"),
            )
        )
    return vectors.select(
        F.col(id_col), F.explode(F.array(*comps)).alias("_c")
    ).select(id_col, F.col("_c.comp_id").alias("comp_id"), F.col("_c.coord").alias("coord"))


def pq_assign_codes(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
) -> DataFrame:
    """Product quantization assignment: split each vector into ``m``
    contiguous subspaces and replace every subvector with the id of its
    nearest codeword from a per-subspace codebook of ``k`` entries — the
    compression layer under billion-scale ANN (a 64-dim float32 vector is
    256 bytes raw, ``m`` bytes as PQ codes: 32× smaller, and asymmetric
    distance evaluation against codes needs only an m × k lookup table
    per query). Output: one (id, subspace, code, dist) row per subspace,
    ``dist`` = 6-dp-rounded squared L2 between the subvector and its
    chosen codeword (the per-subspace reconstruction error, whose sum
    over subspaces is the vector's total quantization error).

    Codebooks here are a deterministic init — the subvector slices of the
    ``k`` lowest-id vectors (collected driver-side: k × dim floats, a
    bounded one-off index-build step exactly like the IVF centroid
    build). Real PQ training refines each subspace codebook with Lloyd
    iterations — each iteration IS ``kmeans_step_centroids`` run on the
    slice — so the training loop composes from already-verified parts.

    Scale: assignment is a pure scan — no shuffle; the codebook is a
    closed-over constant of an Arrow batch kernel that runs the m × k ×
    subdim arithmetic as vectorized NumPy with an EXPLICIT sequential
    j-loop, reproducing the oracle's left-fold IEEE accumulation order
    bit-for-bit (m × k higher-order-lambda folds per row as expressions
    measured 6.3s at sf0.1 vs sub-second here). The code is the argmin of
    ``_round6_half_up`` distances, so ties on the rounded distance break
    to the LOWEST code id, reproducible across engines; the emitted
    ``dist`` is rounded Spark-side (exact HALF_UP on the binary value).
    """
    import numpy as np
    import pandas as pd

    rows = vectors.orderBy(id_col).limit(k).collect()
    if len(rows) < k:
        raise ValueError(f"need at least {k} vectors to seed the codebook")
    dim = len(rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subdim = dim // m
    id_t = vectors.schema[id_col].dataType.simpleString()
    # (m, k, subdim): subspace s of codeword c is the s-th slice of row c
    B = np.array([r[vec_col] for r in rows], dtype=np.float64).reshape(k, m, subdim)
    B = B.transpose(1, 0, 2)

    def gen(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            n = len(pdf)
            codes = np.empty((n, m), dtype=np.int32)
            dists = np.empty((n, m), dtype=np.float64)
            for s in range(m):
                sub = V[:, s * subdim : (s + 1) * subdim]
                acc = np.zeros((n, k))
                # sequential j accumulation — the same left-fold IEEE
                # order as the oracle's left-associated sum (pairwise
                # np.sum would differ in ulps and risk the 6-dp hash)
                for j in range(subdim):
                    d = sub[:, j : j + 1] - B[s, :, j]
                    acc += d * d
                # first (lowest) code wins ties on the rounded distance
                best = np.argmin(_round6_half_up(acc), axis=1)
                codes[:, s] = best
                dists[:, s] = acc[np.arange(n), best]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), m),
                    "subspace": np.tile(np.arange(m, dtype=np.int32), n),
                    "code": codes.reshape(-1),
                    "dist_raw": dists.reshape(-1),
                }
            )

    out = vectors.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_t}, subspace int, code int, dist_raw double"
    )
    return out.select(id_col, "subspace", "code", F.round("dist_raw", 6).alias("dist"))


def ivf_build_persisted(
    vectors: DataFrame,
    centroids: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF deployment build: assign vectors to centroids, WRITE the
    inverted file as a parquet table bucketed on ``centroid_id``, and
    return the catalog-backed read of it.

    This is the missing half of the round-7 ANN-decade finding (the
    n × √n assignment GEMM dominates an end-to-end run): a real
    deployment pays the build ONCE, then every probe batch reads only
    the probed buckets. Bucketing (not partitionBy) because C ≈ √n at
    scale means tens of thousands of centroid directories — a
    small-files problem — while the bucket count stays fixed and bucket
    pruning serves the probe's ``centroid_id IN (...)`` filter.
    Assignment is :func:`assign_centroids`, as in :func:`ivf_topk`
    (parquet round-trips doubles exactly, so persisted == in-memory
    assignment bit-for-bit).
    """
    from aidc_2018_timeseries_spark.sources.sinks import write_bucketed

    inverted = assign_centroids(vectors, centroids, id_col, vec_col)
    write_bucketed(inverted, table, path, "centroid_id", n_buckets)
    return vectors.sparkSession.table(table)


def _route_queries(
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Query→cell routing as one (batch_rows × C) GEMM + partial argsort
    per Arrow batch — the :func:`assign_centroids` shape generalized to
    top-n_probe: 6-dp-rounded cosine, ties to the smaller centroid_id,
    zero-norm queries and zero-norm centroids dropped. The centroid table
    is collected driver-side (``_centroid_matrix``: C × dim, the router
    table a serving tier holds)."""
    import numpy as np
    import pandas as pd

    qid_t = queries.schema[query_id_col].dataType.simpleString()
    qvec_t = queries.schema[query_vec_col].dataType.simpleString()
    ids, Mn = _centroid_matrix(centroids, "centroid_id", "centroid_vec")

    def gen(batches):
        for pdf in batches:
            if pdf.empty or not len(ids):
                continue
            V = np.asarray(pdf[query_vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            mask = norms[:, 0] > 0
            if not mask.any():
                continue
            pdf = pdf[mask].reset_index(drop=True)
            S = _round6_half_up((V[mask] / norms[mask]) @ Mn)
            # columns are id-ascending and np.argsort is stable, so sorting
            # by -S alone breaks ties to the smaller centroid_id
            top = np.argsort(-S, axis=1, kind="stable")[:, :n_probe]
            m = top.shape[1]
            yield pd.DataFrame(
                {
                    query_id_col: np.repeat(pdf[query_id_col].to_numpy(), m),
                    query_vec_col: np.repeat(
                        pdf[query_vec_col].to_numpy(), m
                    ),
                    "centroid_id": ids[top].reshape(-1),
                }
            )

    return queries.select(query_id_col, query_vec_col).mapInPandas(
        gen,
        schema=(
            f"{query_id_col} {qid_t}, {query_vec_col} {qvec_t},"
            " centroid_id long"
        ),
    )


def ivf_probe_persisted(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    n_probe: int = 3,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Probe a PERSISTED inverted file: route each query to its n_probe
    nearest centroids, then rescore only the vectors in those cells.

    The probed cell ids are collected driver-side and pushed into the
    index scan as a STATIC ``isin`` filter — this is the query-router
    shape of a real IVF serving tier (the router holds the centroid
    table; the collect is bounded at n_queries × n_probe ints, never
    corpus-sized), and it is what lets Spark prune buckets at the FILE
    level: the plan's bucketed scan shows SelectedBucketsCount < total
    (asserted in tests/test_ivf_persisted.py), so a probe touches
    ~n_probe/C of the corpus on DISK, not just post-scan. Routing (a
    (queries × C) GEMM + argsort — queries·C fold cosines were the
    measured probe wall, 894k folds ≈ 60s of a 67.7s probe at 2000
    queries × 447 cells, SCALING.md round 8) and the candidate rescore
    are the same kernels as :func:`ivf_topk`, and so is the ranking
    contract (6-dp round, neighbor-id tiebreak, NULL-cosine drop): the
    persisted path is bit-equal to the in-memory one.
    """
    probes = _route_queries(queries, centroids, n_probe, query_id_col, query_vec_col)
    # Routing runs ONCE (ADVICE r8): `probes` feeds both the driver-side
    # distinct-cells collect below and the candidate join, and without
    # lineage truncation the join re-evaluated the whole routing stage —
    # a second routing GEMM AND a second driver-side centroid collect per
    # probe call. eager=False keeps construction lazy; the distinct()
    # collect (always the first action on this DataFrame) materializes
    # it for both consumers.
    probes = probes.localCheckpoint(eager=False)
    # bounded router collect: n_queries × n_probe cell ids
    cell_ids = sorted(
        r["centroid_id"]
        for r in probes.select("centroid_id").distinct().collect()
    )
    pruned = index.filter(F.col("centroid_id").isin(cell_ids))
    cand = probes.join(pruned, "centroid_id").filter(
        F.col(id_col) != F.col(query_id_col)
    )
    scored = _score_candidates(cand, id_col, vec_col, query_id_col, query_vec_col)
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "sim")
    )


def semdedup_verdicts(
    vectors: DataFrame,
    threshold: float,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-bucketed
    SEMANTIC deduplication over an embedding column. Returns
    ``(id, cluster, cent_sim, group_id, keep)`` — one row per non-zero
    vector; ``keep = 1`` marks the single survivor of each semantic-
    duplicate group.

    Semantics (the paper's recipe, made deterministic and oracle-checkable):

    1. Cluster the corpus. Centroids are the element-wise means of the
       ``cluster_col`` groups (the same deterministic seeding the
       ``kmeans_step_centroids`` face uses); every vector is then assigned
       to its cosine-NEAREST centroid — one k-means assignment step, so
       the clustering is derived, not just the stored label. It is one
       step, not Lloyd iteration to a fixed point: a data-dependent round
       count cannot be stated as a DuckDB oracle.
    2. Within each cluster only, score all pairs; pairs with cosine ≥
       ``threshold`` are semantic duplicates. Transitive closure over
       those pairs (min-label connected components — the verified
       ``graph.connected_components``) forms the duplicate GROUPS.
    3. Per group keep exactly one: the paper keeps the example with the
       LOWEST similarity to its cluster centroid (the least-redundant
       representative); ties break on min id.

    Zero-norm vectors have no defined cosine (their similarity is NULL)
    and are excluded from the output — the caller's corpus
    contract, mirrored by the oracle's ``sim IS NOT NULL`` filter.

    Scale shape: assignment is one (batch × C) normalized GEMM per Arrow
    batch emitting (id, cluster, cent_sim) — the :func:`assign_centroids`
    shape, which the round-8 router lesson showed is the difference
    between seconds and hours once C grows with the corpus. The assigned
    relation is localCheckpoint-materialized, then the within-cluster
    pair stage is ONE ``applyInPandas`` per cluster computing the full
    c × c similarity matrix in BLAS and emitting only the ≥ threshold
    upper triangle (exactly the paper's per-cluster GPU GEMM, minus the
    GPU): each vector shuffles ONCE (by cluster) and the stage is
    output-bound in true duplicates, never candidate-bound. The SemDeDup
    contract is that k grows with the corpus (the paper uses k ≈ n/10k),
    keeping clusters bounded; at C = √n both stages are n^1.5 in flops
    but linear in shuffled bytes, the same contract as the IVF build. CC
    shuffles only (node, label) rounds over edges that near-dup
    survivors alone populate.
    """
    cents = centroid_means(
        vectors, group_col=cluster_col, id_col=id_col, vec_col=vec_col
    ).select(F.col(cluster_col).cast("long").alias("cluster"), "centroid_vec")
    assigned = _semdedup_assign(
        spread_for_compute(vectors, id_col), cents, id_col, vec_col
    ).localCheckpoint(eager=True)
    pairs = _semdedup_cluster_pairs(assigned, threshold, id_col, vec_col)
    from aidc_2018_timeseries_spark.operators.graph import connected_components

    groups = connected_components(
        assigned.select(id_col), pairs, id_col=id_col, src_col="id_a", dst_col="id_b"
    ).select(F.col("node").alias(id_col), F.col("label").alias("group_id"))
    w_keep = Window.partitionBy("group_id").orderBy(
        F.col("cent_sim").asc(), F.col(id_col).asc()
    )
    return (
        assigned.drop("_e")
        .join(groups, id_col)
        .withColumn("_rn", F.row_number().over(w_keep))
        .select(
            id_col,
            "cluster",
            "cent_sim",
            "group_id",
            F.when(F.col("_rn") == 1, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("keep"),
        )
    )


def _semdedup_assign(
    vectors: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """SemDeDup assignment, Arrow-batched: nearest centroid AND the
    similarity to it per vector — (id, cluster, cent_sim, _e). The
    :func:`assign_centroids` kernel extended with the kept similarity
    (SemDeDup's keep policy ranks on it): 6-dp rounding, ties to the
    smaller cluster id, zero-norm vectors and centroids dropped."""
    import numpy as np
    import pandas as pd

    id_t = vectors.schema[id_col].dataType.simpleString()
    vec_t = vectors.schema[vec_col].dataType.simpleString()
    ids, Mn = _centroid_matrix(centroids, "cluster", "centroid_vec")

    def gen(batches):
        for pdf in batches:
            if pdf.empty or not len(ids):
                continue
            V = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(V, axis=1, keepdims=True)
            keep = norms[:, 0] > 0
            if not keep.any():
                continue
            pdf = pdf[keep].reset_index(drop=True)
            S = _round6_half_up((V[keep] / norms[keep]) @ Mn)
            # argmax returns the FIRST max; columns are cluster-id-ascending
            best = np.argmax(S, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster": ids[best],
                    "cent_sim": S[np.arange(len(best)), best],
                    "_e": pdf[vec_col],
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_t}, cluster long, cent_sim double, _e {vec_t}"
    )


def _semdedup_cluster_pairs(
    assigned: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """SemDeDup within-cluster pair stage as ONE dense GEMM per cluster:
    ``applyInPandas`` over the cluster groups computes the full c × c
    normalized similarity matrix in BLAS and emits only the upper-triangle
    entries ≥ threshold (id_a < id_b). Each vector is shuffled exactly
    once (by cluster); the stage is output-bound in TRUE duplicate pairs,
    never candidate-bound — the paper's per-cluster GPU GEMM expressed as
    a grouped-map Pandas UDF. Cluster working set is c × dim doubles; at
    the C = √n operating point that is √n × dim, executor-trivial."""
    import numpy as np
    import pandas as pd

    id_t = assigned.schema[id_col].dataType.simpleString()

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": pd.Series([], dtype="int64"),
                                 "id_b": pd.Series([], dtype="int64")})
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        V = np.asarray(pdf["_e"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(V, axis=1, keepdims=True)
        # zero-norm vectors never reach here (assignment masked them),
        # but guard the division for direct callers
        norms[norms == 0] = 1.0
        S = _round6_half_up((V / norms) @ (V / norms).T)
        ia, ib = np.triu_indices(len(pdf), k=1)
        hit = S[ia, ib] >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame({"id_a": ids[ia[hit]], "id_b": ids[ib[hit]]})

    return assigned.select(id_col, "cluster", "_e").groupBy("cluster").applyInPandas(
        per_cluster, schema=f"id_a {id_t}, id_b {id_t}"
    )


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroid_stride: int = 50,
    n_probe: int = 3,
    k: int = 5,
    m: int = 8,
    kcode: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """IVF-PQ with asymmetric distance computation (ADC) — the
    billion-scale ANN serving pattern (Jégou, Douze, Schmid 2011,
    "Product Quantization for Nearest Neighbor Search", TPAMI): route
    each query to its ``n_probe`` nearest IVF cells, then score the
    cells' vectors WITHOUT touching their float bodies — each candidate
    costs one m-entry lookup-table sum over its PQ codes. Returns
    ``(query_id, rank, neighbor_id, score_micro)``; score = the ADC
    inner-product approximation Σ_s <q_s, codeword(s, code_s)>.

    Composition of already-verified parts: :func:`stride_centroids` +
    :func:`assign_centroids` (the IVF build), :func:`pq_assign_codes`
    (the compression layer) and the ivf_topk/ivf_probe_persisted query
    router.

    Cross-engine exactness — the groupBy-sum trap: the per-candidate
    score sums m per-subspace doubles, and a groupBy's float
    accumulation ORDER is not deterministic. Each LUT entry is therefore
    rounded to MICRO-units as BIGINT once (the DSIR integer-exact
    contract) and the candidate score is an integer sum — summation
    order provably cannot move it, so the whole approximate result is
    DuckDB-oracle-checkable with pinned knobs.

    Scale shape: the codebook (m × kcode × subdim floats) and the LUT
    (n_queries × m × kcode BIGINTs) are broadcast relations — exactly
    the tables an ADC serving tier holds in L1; the codes relation
    shuffles once on the id join; candidates are bounded by probed-cell
    populations × m rows, and NO candidate float vector crosses the
    network — that is the entire point of ADC (a 64-dim float64
    candidate is 512 bytes; its PQ row footprint here is m ints).
    Exact-rescore of the ADC top-k (rereading float bodies for k rows
    per query) composes via :func:`brute_force_topk` on the survivor
    set when recall demands it.
    """
    dim = len(vectors.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    subdim = dim // m
    spark = vectors.sparkSession

    # codebook: subvector slices of the kcode lowest-id vectors (the
    # pq_assign_codes deterministic init) as a broadcast relation
    rows = vectors.orderBy(id_col).limit(kcode).collect()
    if len(rows) < kcode:
        raise ValueError(f"need at least {kcode} vectors to seed the codebook")
    book = spark.createDataFrame(
        [
            (s, code, [float(r[vec_col][s * subdim + j]) for j in range(subdim)])
            for s in range(m)
            for code, r in enumerate(rows)
        ],
        "s int, code int, cw array<double>",
    )

    cents = stride_centroids(vectors, centroid_stride, id_col, vec_col)
    inverted = assign_centroids(vectors, cents, id_col, vec_col).select(
        id_col, "centroid_id"
    )
    codes = pq_assign_codes(
        vectors, id_col, vec_col, m=m, k=kcode
    ).select(id_col, "subspace", "code")
    probes = _route_queries(queries, cents, n_probe, query_id_col, query_vec_col)

    # ADC lookup table: <q_s, codeword(s, j)> in integer micro-units
    lut = (
        queries.crossJoin(F.broadcast(book))
        .select(
            query_id_col,
            "s",
            "code",
            F.round(
                dot(
                    F.slice(F.col(query_vec_col), F.col("s") * subdim + 1, subdim),
                    F.col("cw"),
                )
                * 1000000.0,
                0,
            )
            .cast("long")
            .alias("_lm"),
        )
    )

    cand = probes.select(query_id_col, "centroid_id").join(
        inverted, "centroid_id"
    ).filter(F.col(id_col) != F.col(query_id_col))
    scored = (
        cand.join(codes, id_col)
        .join(
            F.broadcast(lut),
            (F.col("subspace") == F.col("s"))
            & (lut["code"] == codes["code"])
            & (lut[query_id_col] == cand[query_id_col]),
        )
        .groupBy(cand[query_id_col], F.col(id_col))
        .agg(F.sum("_lm").alias("score_micro"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score_micro").desc(), F.col("neighbor_id")
    )
    return (
        scored.select(
            F.col(query_id_col), F.col(id_col).alias("neighbor_id"), "score_micro"
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "score_micro")
    )


def ivfpq_rescored_topk(
    vectors: DataFrame,
    queries: DataFrame,
    shortlist: int = 50,
    k: int = 5,
    centroid_stride: int = 50,
    n_probe: int = 3,
    m: int = 8,
    kcode: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Two-stage IVF-PQ serve — the standard production recipe (Jégou et
    al. 2011 §V): the ADC code-only pass shortlists ``shortlist`` (~10×k)
    candidates per query, then ONLY those rows' float bodies are reread
    for an exact cosine rescore and the final top-``k``. Returns
    ``(query_id, rank, neighbor_id, sim)``.

    Measured at sf0.01 (knn_ivfpq_rescored_eval): recall 0.28 code-only
    → 0.92 two-stage at shortlist 50 — the compression layer prunes,
    the exact pass ranks. Scale shape: the shortlist relation is
    n_queries × shortlist ids (broadcast); the rescore joins it against
    the corpus by id — at 100 TB that is the point: float bodies are
    read for shortlist×queries rows, not for every probed-cell member,
    and the ADC pass never shuffled a float body at all.
    """
    sl = ivfpq_topk(
        vectors, queries, centroid_stride=centroid_stride, n_probe=n_probe,
        k=shortlist, m=m, kcode=kcode, id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, "neighbor_id")
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_e")
    ).withColumn("_nv", l2_norm("_e"))
    q = queries.withColumn("_nq", l2_norm(query_vec_col))
    sim = F.round(
        F.when(
            (F.col("_nv") > 0) & (F.col("_nq") > 0),
            dot("_e", F.col(query_vec_col)) / (F.col("_nv") * F.col("_nq")),
        ),
        6,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        v.join(F.broadcast(sl), "neighbor_id")
        .join(F.broadcast(q), query_id_col)
        .select(query_id_col, "neighbor_id", sim.alias("sim"))
        .filter(F.col("sim").isNotNull())
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(query_id_col, "rank", "neighbor_id", "sim")
    )

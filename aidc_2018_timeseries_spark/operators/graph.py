"""Connected components — the clustering step of a near-dup pipeline.

A dedup pipeline's candidate generators (MinHash/LSH bands, SimHash
buckets, n-gram Jaccard: ``operators/dedup.py``) emit PAIRS; turning
pairs into duplicate CLUSTERS (then keeping one canonical doc per
cluster) requires the transitive closure — connected components over the
candidate-pair graph.

Algorithm: min-label propagation (BSP / Pregel style). Every vertex
starts labeled with its own id; each round every vertex takes the min of
its own label and its neighbors' labels; at the fixpoint, every vertex in
a component carries the component's minimum vertex id. The fixpoint is
unique and independent of iteration schedule, so the result is
deterministic and DuckDB-oracle-checkable (recursive CTE computes the
same closure).

Design for scale:
- The edge set (candidate pairs) is orders of magnitude smaller than the
  corpus — only near-dup survivors appear. Edges are symmetrized once,
  hash-partitioned by source, and cached; every round reuses that
  partitioning, so each iteration shuffles ONLY the (vertex, label)
  table, never the edges again.
- Map-side partial min-aggregation: labels arriving for the same vertex
  combine within each task before the shuffle.
- Round count is the graph DIAMETER for plain propagation. Dedup-cluster
  graphs are near-cliques (diameter 1-3), so the loop converges in a
  handful of rounds and pays nothing extra. For adversarial long-chain
  graphs (SemDeDup's sf0.1 graph took 19 rounds, SCALING.md r8) the loop
  ESCALATES: past ``escalate_after`` rounds without convergence it adds a
  pointer-jump (shortcutting) step — ``label ← label(label)`` via one
  self-join of the (node, label) table — which contracts remaining chain
  distance geometrically, bounding total rounds at
  ``escalate_after + O(log diameter)`` (Shiloach–Vishkin shortcutting;
  the same contraction primitive as Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14). The escalation is
  adaptive precisely because an UNCONDITIONAL jump regressed clique
  graphs (r7 A/B: cliques converge in ~3 rounds and the jump's extra
  label-table shuffle bought nothing) — graphs that converge before the
  threshold never pay it.
- ``localCheckpoint`` after each round truncates lineage (the logical
  plan would otherwise grow linearly and Catalyst analysis would
  dominate). On a multi-node cluster with executor churn, swap for
  reliable ``checkpoint()`` with a checkpoint dir.
- The per-round convergence check reads ONE scalar (the label sum) from
  ``DataFrame.observe`` on the job that already materializes the round
  (the eager checkpoint, or the count that fills an escalated round's
  cache), so a round costs its checkpoint job and no aggregate job of
  its own — driver-side bookkeeping, same class as a training loop's
  loss readout, not a data-plane collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators._sql import _q
from aidc_2018_timeseries_spark.operators.observe import _observed

#: the convergence metric, summed as decimal(38,0): an int64 sum would
#: overflow under ANSI mode at billions of nodes
_LABEL_SUM = "sum(CAST(label AS DECIMAL(38,0))) AS s"


def _observing_label_sum(df: DataFrame) -> DataFrame:
    """``df`` with its label sum observed under a plain name (no
    ``Observation`` object: see ``operators/observe.py``)."""
    return df.observe("label_sum", F.expr(_LABEL_SUM))


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "node",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 30,
    escalate_after: int = 6,
    stats: dict | None = None,
) -> DataFrame:
    """Label every vertex with its component's minimum vertex id.

    Returns a DataFrame (node, label): ``label`` = min id reachable from
    ``node`` over undirected edges. Vertices absent from ``edges`` keep
    their own id (singleton components). Raises if ``max_iter`` rounds
    don't reach the fixpoint (diameter > max_iter — not a dedup graph).

    ``escalate_after``: rounds of plain min-label propagation before each
    round additionally pointer-jumps (``label ← min(label, label(label))``
    via one (node, label) self-join). Correctness is invariant to the
    threshold: labels only ever hold ids of same-component vertices and
    only ever decrease, so every schedule reaches the same unique
    fixpoint (component-min ids) — pinned by the equality battery in
    tests/test_graph.py across thresholds. The threshold is purely a
    cost policy: clique-like dedup graphs converge before it and never
    pay the extra shuffle; chain-like graphs past it contract in
    O(log diameter) further rounds instead of O(diameter).

    ``stats``: optional dict; on return ``stats["rounds"]`` = rounds run
    (driver-side bookkeeping for tests/decade measurements).
    """
    spark = vertices.sparkSession
    n_part = spark.sparkContext.defaultParallelism

    fwd = edges.selectExpr(f"{_q(src_col)} AS u", f"{_q(dst_col)} AS v")
    und = (
        fwd.unionByName(fwd.selectExpr("v AS u", "u AS v"))
        .repartition(n_part, "u")
        .persist()
    )

    # Convergence via the label-sum invariant: a round only ever LOWERS
    # labels, so sum(label) strictly decreases until the fixpoint — an
    # unchanged sum means no label moved. The sum is observed on the job
    # that materializes each round anyway, so convergence costs no job.
    seed = _observing_label_sum(
        vertices.selectExpr(
            f"{_q(id_col)} AS node", f"CAST({_q(id_col)} AS BIGINT) AS label"
        )
    )
    labels = seed.localCheckpoint(eager=True)
    prev_sum = _observed(seed, "label_sum")["s"]
    pinned = None
    try:
        for i in range(max_iter):
            msgs = und.join(labels.withColumnRenamed("node", "u"), "u").selectExpr(
                "v AS node", "label"
            )
            merged = (
                labels.unionByName(msgs).groupBy("node").agg(F.expr("min(label) AS label"))
            )
            if i < escalate_after:
                merged = _observing_label_sum(merged)
                labels = merged.localCheckpoint(eager=True)
                cur_sum = _observed(merged, "label_sum")["s"]
            else:
                labels = merged.localCheckpoint(eager=True)
                # Pointer-jump (shortcutting): label ← min(label,
                # label(label)). label(node) is always the id of a vertex
                # in node's component (induction: it starts as node's own
                # id and every update takes mins over neighbor labels),
                # so the looked-up b.label stays in-component and ≥ the
                # component min — the jump can only move labels DOWN
                # toward the same fixpoint, never across components. A
                # LEFT join + coalesce guards edge endpoints absent from
                # `vertices` (contract violation, but don't corrupt).
                # Cost: one extra shuffle of the (node, label) table per
                # escalated round — paid only past the threshold, i.e.
                # never on clique-like dedup graphs.
                #
                # Materialized via PERSIST, not localCheckpoint: on deep
                # escalated chains (the 500k-node path decade) Spark 4.1's
                # LogicalRDD.rewriteStatsAndConstraints throws
                # NoSuchElementException rewriting the self-join's
                # attributeStats (stale attr refs projected out of the
                # output). An InMemoryRelation carries size-only stats, so
                # the NEXT round's propagate checkpoint stays safe, and
                # that checkpoint still truncates lineage each round. The
                # persisted round table is unpersisted on function exit;
                # its count fills the cache and observes the label sum.
                jumped = (
                    labels.alias("a")
                    .join(labels.alias("b"), F.expr("a.label = b.node"), "left")
                    .selectExpr(
                        "a.node AS node",
                        "least(a.label, coalesce(b.label, a.label)) AS label",
                    )
                    .persist()
                )
                counted = _observing_label_sum(jumped).groupBy().count()
                counted.collect()
                cur_sum = _observed(counted, "label_sum")["s"]
                if pinned is not None:
                    pinned.unpersist()
                pinned = labels = jumped
            if cur_sum == prev_sum:
                if stats is not None:
                    stats["rounds"] = i + 1
                if pinned is not None:
                    # hand back a checkpoint-backed result and release the
                    # final round's cache (a Project over an
                    # InMemoryRelation checkpoints fine — size-only stats)
                    labels = labels.localCheckpoint(eager=True)
                    pinned.unpersist()
                return labels
            prev_sum = cur_sum
    finally:
        und.unpersist()
        if pinned is not None:  # no-op if already released on return
            pinned.unpersist()
    raise RuntimeError(f"connected_components: no fixpoint within {max_iter} rounds")


def orient_edges_by_degree(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Orient each undirected edge from its LOWER-degree endpoint to its
    higher-degree endpoint (tie: lower id first) — the standard skew-safe
    preparation for triangle enumeration (Chiba–Nishizeki / Cohen's
    MapReduce formulation; also Latapy 2008).

    Why it matters at scale: wedge enumeration fans out Σ outdeg(u)² pairs.
    With id-ordering a power-law hub with degree d sitting at a low id
    keeps all d of its edges outgoing → a d² wedge explosion on exactly
    the node a real co-purchase/social graph guarantees to have.
    Degree-ordering bounds every node's OUT-degree by O(√m) (a node with
    out-degree k has k neighbors of degree ≥ its own, so k² ≤ Σdeg ≤ 2m),
    which bounds the whole wedge relation by O(m^1.5) regardless of skew.

    Input: distinct undirected edges (one row per edge, any id order).
    Output columns: u, v (rank(u) < rank(v) where rank = (degree, id)),
    plus dv = degree of v, kept because the wedge join's v-vs-w rank
    comparison needs it. The degree relation is one cheap aggregate over
    edge endpoints, joined back (broadcast when the node catalog is small;
    AQE decides).
    """
    und = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e = und.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return e.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )


def triangle_participation(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation.

    Each triangle {a,b,c} is enumerated exactly once as a wedge
    (u→v, u→w) with rank(v) < rank(w) closed by the edge v→w, where every
    edge is oriented low-degree → high-degree (:func:`orient_edges_by_
    degree`). The closing edge is necessarily oriented v→w because rank
    ordering is total, so one equi-join against the oriented relation
    finishes the enumeration — same two-join shape as the naive a<b<c
    id-ordered form, but the wedge relation is bounded O(m^1.5) on ANY
    degree distribution instead of Σdeg² on the unlucky one. The result
    set is orientation-invariant: identical triangles, identical counts,
    identical oracle hash.

    Returns (node, n_triangles) for every node in ≥1 triangle.

    The oriented relation is materialized once (``localCheckpoint``) —
    it feeds all three join legs, and without materialization each alias
    recomputes the degree joins and whatever upstream projection built
    the edge set (measured 2× on the co-purchase face, where upstream is
    the market-basket self-join). This is the "materialize the projected
    graph once per catalog version" step from SCALING.md made literal.
    """
    o = orient_edges_by_degree(edges, src_col, dst_col).localCheckpoint(eager=True)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    rank_lt = (F.col("e1.dv") < F.col("e2.dv")) | (
        (F.col("e1.dv") == F.col("e2.dv")) & (F.col("e1.v") < F.col("e2.v"))
    )
    tri = (
        e1.join(e2, (F.col("e1.u") == F.col("e2.u")) & rank_lt)
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank with a FIXED iteration count (power iteration, Brin/Page
    '98) — the influence measure of any entity graph (supplier-customer
    bipartite activity here; citation/link graphs generally). A fixed
    round count (vs convergence-threshold) keeps the result a pure
    function of the edge set, so the DuckDB oracle can restate it as a
    recursive CTE with an iteration counter and the driver hash-checks
    real iterative linear algebra.

    Nodes = every distinct edge endpoint as SOURCE (symmetrize edges
    before calling if the graph is undirected/bipartite — that also
    removes dangling nodes, since every node then has out-degree >= 1).

    Scale shape (same discipline as :func:`connected_components`): the
    edge relation joins to out-degrees ONCE, is hash-partitioned by src
    and cached; each of the ``iters`` rounds shuffles only the (node,
    rank) table — one join + one partial-aggregated groupBy — and
    ``localCheckpoint`` EVERY OTHER round truncates lineage so Catalyst
    analysis stays bounded while paying half the materialization cost
    (measured at sf0.1: every-round 7.2s, every-2nd 6.0s, final-only
    6.3s — deep lineage costs analysis back). Intermediate ranks stay
    UNROUNDED (summation-order ulps are ~1e-15/round); only the returned
    rank is rounded to 6 dp.
    """
    spark = edges.sparkSession
    n_part = spark.sparkContext.defaultParallelism

    e = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v")).distinct()
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg"))
    ew = e.join(deg, "u").repartition(n_part, "u").persist()

    nodes = e.select(F.col("u").alias("node")).distinct()
    n = nodes.count()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=True)
    base = (1.0 - damping) / n
    for i in range(iters):
        contribs = ew.join(ranks, ew["u"] == ranks["node"]).select(
            F.col("v").alias("node"), (F.col("rank") / F.col("outdeg")).alias("c")
        )
        ranks = contribs.groupBy("node").agg(
            (F.lit(base) + F.lit(damping) * F.sum("c")).alias("rank")
        )
        if i % 2 == 1 or i == iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
    ew.unpersist()
    return ranks.select("node", F.round("rank", 6).alias("pagerank"))

"""Connected components: distributed min-label propagation vs a local
union-find ground truth, on shapes that stress the loop (long chains need
~diameter rounds; cliques converge in one)."""

from __future__ import annotations

import sys

import pytest

from aidc_2018_timeseries_spark.operators.graph import connected_components


def _union_find(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical label = min node id in the component
    comp = {}
    for x in range(n_nodes):
        comp.setdefault(find(x), []).append(x)
    return {x: min(members) for members in comp.values() for x in members}


GRAPHS = {
    # path graph: worst diameter per edge count — exercises multiple rounds
    "chain": (12, [(i, i + 1) for i in range(11)]),
    # two cliques + singletons + an isolated pair
    "cliques": (
        10,
        [(0, 1), (0, 2), (1, 2), (5, 6), (5, 7), (6, 7), (8, 9)],
    ),
    # edges listed high->low and duplicated: direction/dup insensitivity
    "reversed_dups": (6, [(4, 0), (4, 0), (0, 4), (5, 4), (2, 1)]),
}


@pytest.mark.parametrize("shape", sorted(GRAPHS))
def test_components_match_union_find(spark, shape):
    n, edges = GRAPHS[shape]
    vertices = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in connected_components(vertices, edf).collect()
    }
    assert got == _union_find(n, edges)


def test_unconverged_raises(spark):
    vertices = spark.createDataFrame([(i,) for i in range(8)], "node long")
    edf = spark.createDataFrame([(i, i + 1) for i in range(7)], "src long, dst long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(vertices, edf, max_iter=2)


# --- adaptive pointer-jump escalation (round 10, VERDICT r9 ask 2) ---


#: rounds to the fixpoint per (shape, escalate_after): the convergence
#: test (an unchanged label sum) must stop each schedule where it always has
ROUNDS = {
    ("chain", 0): 4, ("chain", 2): 5, ("chain", 6): 8,
    ("cliques", 0): 2, ("cliques", 2): 2, ("cliques", 6): 2,
    ("reversed_dups", 0): 2, ("reversed_dups", 2): 3, ("reversed_dups", 6): 3,
}


@pytest.mark.parametrize("shape", sorted(GRAPHS))
@pytest.mark.parametrize("escalate_after", [0, 2, 6])
def test_escalation_thresholds_same_labels(spark, shape, escalate_after):
    """The fixpoint is schedule-invariant: every escalation threshold
    (including jump-every-round) must produce the union-find labels."""
    n, edges = GRAPHS[shape]
    vertices = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    stats = {}
    got = {
        r["node"]: r["label"]
        for r in connected_components(
            vertices, edf, escalate_after=escalate_after, stats=stats
        ).collect()
    }
    assert got == _union_find(n, edges)
    assert stats["rounds"] == ROUNDS[shape, escalate_after]


def test_chain_escalation_cuts_rounds(spark):
    """A 40-node path needs ~diameter rounds under plain propagation; with
    the pointer-jump escalating after round 5 the remaining distance
    contracts geometrically — VERDICT r9 ask 2 requires >=30% fewer
    rounds, and identical labels."""
    n = 40
    vertices = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edf = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    plain_stats, esc_stats = {}, {}
    plain = {
        r["node"]: r["label"]
        for r in connected_components(
            vertices, edf, max_iter=60, escalate_after=10**9, stats=plain_stats
        ).collect()
    }
    esc = {
        r["node"]: r["label"]
        for r in connected_components(
            vertices, edf, max_iter=60, escalate_after=5, stats=esc_stats
        ).collect()
    }
    assert plain == esc == _union_find(n, [(i, i + 1) for i in range(n - 1)])
    assert esc_stats["rounds"] <= 0.7 * plain_stats["rounds"], (
        esc_stats,
        plain_stats,
    )


def test_clique_never_escalates(spark):
    """Clique-like graphs converge before the threshold — the escalated
    path must not run (round count unchanged vs plain propagation)."""
    n, edges = GRAPHS["cliques"]
    vertices = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    plain_stats, esc_stats = {}, {}
    connected_components(
        vertices, edf, escalate_after=10**9, stats=plain_stats
    ).collect()
    connected_components(vertices, edf, stats=esc_stats).collect()
    assert esc_stats["rounds"] == plain_stats["rounds"] <= 6


@pytest.mark.parametrize(
    "n, edges, escalate_after",
    [
        (10, GRAPHS["cliques"][1], 6),
        (40, [(i, i + 1) for i in range(39)], 5),
    ],
    ids=["cliques", "chain40"],
)
def test_convergence_runs_no_job_of_its_own(spark, monkeypatch, n, edges, escalate_after):
    """Every job of the loop runs inside a round's eager checkpoint or the
    collect with which the loop itself fills an escalated round's cache:
    the label sum is observed on those jobs, not aggregated by a job of
    its own (which would run through first/take or count)."""
    sc = spark.sparkContext
    vertices = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    inside, outside = f"cc-materialize-{n}", f"cc-rest-{n}"
    loop = connected_components.__code__

    def in_group(method, only_from_loop):
        def run(self, *args, **kwargs):
            if only_from_loop and sys._getframe(1).f_code is not loop:
                return method(self, *args, **kwargs)
            sc.setJobGroup(inside, "materialization")
            try:
                return method(self, *args, **kwargs)
            finally:
                sc.setJobGroup(outside, "anything else")

        return run

    frame = type(vertices)
    monkeypatch.setattr(frame, "localCheckpoint", in_group(frame.localCheckpoint, False))
    monkeypatch.setattr(frame, "collect", in_group(frame.collect, True))
    sc.setJobGroup(outside, "anything else")
    try:
        stats = {}
        connected_components(
            vertices, edf, max_iter=60, escalate_after=escalate_after, stats=stats
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    assert stats["rounds"] > 1
    assert tracker.getJobIdsForGroup(inside)
    assert tracker.getJobIdsForGroup(outside) == []

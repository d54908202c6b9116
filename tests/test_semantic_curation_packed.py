"""llm_semantic_curation_packed (round 10, VERDICT r9 ask 7): greedy
pack/shard bounds over the semantic-curation survivors, plus composition
consistency with the parent face. The catalog oracle pins the exact
values; this battery pins the packing INVARIANTS the 256-token budget
promises at any scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.text import token_count
from aidc_2018_timeseries_spark.plans.pipeline_queries import (
    llm_semantic_curation_packed,
    llm_semantic_curation_pipeline,
)
from aidc_2018_timeseries_spark.sources.tables import load_table

BUDGET = 256


def test_pack_bounds_per_shard(spark, sf_dir):
    """Greedy-cumsum bounds: within each source, (a) pack ids are
    contiguous from 0; (b) cumulative tokens through every non-final pack
    reach (pack_id+1)*budget (a pack only closes once the budget is
    crossed); (c) no pack exceeds budget + its largest document (overflow
    is at most one document, the streaming-packing contract)."""
    packs = {
        (r["source"], r["pack_id"]): (r["n_docs"], r["n_tokens"])
        for r in llm_semantic_curation_packed(spark, sf_dir).collect()
    }
    surv = (
        llm_semantic_curation_pipeline(spark, sf_dir)
        .where(F.col("final_keep") == 1)
        .select("doc_id")
    )
    docs = (
        load_table(spark, sf_dir, "documents")
        .join(surv, "doc_id")
        .select("source", "doc_id", token_count("text").alias("n_tok"))
        .collect()
    )
    max_doc = {}
    for r in docs:
        max_doc[r["source"]] = max(max_doc.get(r["source"], 0), r["n_tok"])

    by_src: dict[str, list[int]] = {}
    for (src, pid), _ in packs.items():
        by_src.setdefault(src, []).append(pid)
    for src, pids in by_src.items():
        pids.sort()
        assert pids == list(range(len(pids))), src  # contiguous from 0
        cum = 0
        for pid in pids:
            n_docs, n_tokens = packs[(src, pid)]
            assert n_docs >= 1
            assert n_tokens <= BUDGET + max_doc[src], (src, pid)
            cum += n_tokens
            if pid != pids[-1]:
                assert cum >= (pid + 1) * BUDGET, (src, pid, cum)


def test_pack_tokens_conserved_vs_parent(spark, sf_dir):
    """Σ pack tokens per source == Σ survivor doc tokens per source — the
    rollup loses nothing and packs nothing that wasn't curated in."""
    got = {
        r["source"]: r["tot"]
        for r in llm_semantic_curation_packed(spark, sf_dir)
        .groupBy("source")
        .agg(F.sum("n_tokens").alias("tot"))
        .collect()
    }
    surv = (
        llm_semantic_curation_pipeline(spark, sf_dir)
        .where(F.col("final_keep") == 1)
        .select("doc_id")
    )
    want = {
        r["source"]: r["tot"]
        for r in load_table(spark, sf_dir, "documents")
        .join(surv, "doc_id")
        .groupBy("source")
        .agg(F.sum(token_count("text")).alias("tot"))
        .collect()
    }
    assert got == want


def test_pack_assignment_matches_python_replica(spark, sf_dir):
    """Recompute pack_id = floor(tokens_before / budget) in Python over
    the survivor docs (id order within source) and compare the rollup."""
    surv = (
        llm_semantic_curation_pipeline(spark, sf_dir)
        .where(F.col("final_keep") == 1)
        .select("doc_id")
    )
    docs = sorted(
        (
            (r["source"], r["doc_id"], r["n_tok"])
            for r in load_table(spark, sf_dir, "documents")
            .join(surv, "doc_id")
            .select("source", "doc_id", token_count("text").alias("n_tok"))
            .collect()
        )
    )
    want: dict[tuple, list[int]] = {}
    cum: dict[str, int] = {}
    for src, did, n in docs:
        pid = cum.get(src, 0) // BUDGET
        rec = want.setdefault((src, pid), [0, 0])
        rec[0] += 1
        rec[1] += n
        cum[src] = cum.get(src, 0) + n
    got = {
        (r["source"], r["pack_id"]): [r["n_docs"], r["n_tokens"]]
        for r in llm_semantic_curation_packed(spark, sf_dir).collect()
    }
    assert got == want

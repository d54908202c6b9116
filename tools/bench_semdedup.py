"""SemDeDup + DSIR decade measurements (round 8 additions).

Protocol (SCALING.md): SOLO JVM — run nothing else concurrently;
min-of-2 warm per point; every corpus records its partition count.

Usage: python tools/bench_semdedup.py [semdedup|dsir|semdedup_forms] ...
(default: all three suites, sequential)

- semdedup: arrow form on emb10 (20k) / emb100 (200k) / emb1000 (1M),
  C = sqrt(n) pseudo-label seeding (vec_id % C — assignment depends only
  on the vector, so perturbed copies co-cluster regardless of the seed
  grouping), tau = 0.9 (emb1000's planted copies sit at ~0.9997 cosine
  to their base; cross-base mass is below ~0.5).
- semdedup_forms: fold vs arrow A/B at emb10 with the same C — the
  router-lesson margin on THIS operator (the fold form's assignment is
  n x C interpreted folds and its pair stage is a marshalling self-join).
- dsir: text_dsir_selection shape on sf0.1 (5k) / docs10clean (50k) /
  docs100clean (500k).
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

R7 = HERE / ".bench_r7"
R8 = HERE / ".bench_r8"


def _spark():
    from aidc_2018_timeseries_spark.session import get_spark

    return get_spark(cpus=32)


def _pseudo_labeled(spark, path: str, c: int):
    from pyspark.sql import functions as F

    v = spark.read.parquet(path)
    return v.select(
        "vec_id", "embedding", (F.col("vec_id") % c).cast("int").alias("pl")
    )


_CORPORA = [
    ("emb10", str(R7 / "emb10" / "embeddings.parquet"), 141),
    ("emb100", str(R7 / "emb100" / "embeddings.parquet"), 447),
    ("emb1000", str(R8 / "emb1000" / "embeddings.parquet"), 1000),
]


def semdedup() -> None:
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators import similarity as sim

    spark = _spark()
    for tag, path, c in _CORPORA:
        v = _pseudo_labeled(spark, path, c)
        parts = v.rdd.getNumPartitions()
        walls = []
        rows = kept = None
        for _ in range(2):
            t = time.time()
            out = sim.semdedup_verdicts(
                v, threshold=0.9, cluster_col="pl", arrow=True
            )
            agg = out.agg(
                F.count(F.lit(1)).alias("n"), F.sum("keep").alias("k")
            ).collect()[0]
            walls.append(time.time() - t)
            rows, kept = agg["n"], agg["k"]
        print(
            f"semdedup {tag}: C={c} parts={parts} rows={rows} kept={kept} "
            f"pruned={100.0 * (rows - kept) / rows:.1f}% "
            f"walls={[round(w, 1) for w in walls]} min={min(walls):.1f}s",
            flush=True,
        )


def semdedup_forms() -> None:
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators import similarity as sim

    spark = _spark()
    tag, path, c = _CORPORA[0]  # emb10 only: the fold form is the slow arm
    v = _pseudo_labeled(spark, path, c)
    for form, kw in (("arrow", dict(arrow=True)), ("fold", dict(arrow=False))):
        walls = []
        for _ in range(2):
            t = time.time()
            out = sim.semdedup_verdicts(v, threshold=0.9, cluster_col="pl", **kw)
            agg = out.agg(
                F.count(F.lit(1)).alias("n"), F.sum("keep").alias("k")
            ).collect()[0]
            walls.append(time.time() - t)
        print(
            f"semdedup_forms {tag} {form}: C={c} rows={agg['n']} kept={agg['k']} "
            f"walls={[round(w, 1) for w in walls]} min={min(walls):.1f}s",
            flush=True,
        )


def dsir() -> None:
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators import text as tx
    from aidc_2018_timeseries_spark.operators.partitioning import spread_for_compute

    spark = _spark()
    corpora = [
        ("sf0.1", "/root/testdata/sf0.1/documents.parquet"),
        ("docs10clean", str(R8 / "docs10clean" / "documents.parquet")),
        ("docs100clean", str(R8 / "docs100clean" / "documents.parquet")),
    ]
    for tag, path in corpora:
        d = spark.read.parquet(path)
        parts = d.rdd.getNumPartitions()
        d = spread_for_compute(d, "doc_id")
        walls = []
        sel = rows = None
        for _ in range(2):
            t = time.time()
            out = tx.dsir_selection(
                d.withColumn("_is_target", F.col("lang") == "en"),
                id_col="doc_id",
                text_col="text",
                target_col="_is_target",
                group_col="source",
                n_buckets=256,
                keep_frac=0.2,
            )
            agg = out.agg(
                F.count(F.lit(1)).alias("n"), F.sum("selected").alias("s")
            ).collect()[0]
            walls.append(time.time() - t)
            rows, sel = agg["n"], agg["s"]
        print(
            f"dsir {tag}: parts={parts} rows={rows} selected={sel} "
            f"walls={[round(w, 1) for w in walls]} min={min(walls):.1f}s",
            flush=True,
        )


if __name__ == "__main__":
    which = sys.argv[1:] or ["semdedup", "semdedup_forms", "dsir"]
    for name in which:
        globals()[name]()

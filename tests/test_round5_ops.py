"""Semantic invariants for the round-5 operators: MAD outlier fence,
blocked edit-distance pairing, product-quantization codes, bigram-LM
perplexity. Cross-engine value parity is covered by test_oracle_parity /
tools/driver_sweep; these tests pin the BEHAVIOR on constructed inputs
where the right answer is known by hand.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.dedup import blocked_edit_distance_pairs
from aidc_2018_timeseries_spark.operators.normalize import mad_outliers_by_group
from aidc_2018_timeseries_spark.operators.similarity import pq_assign_codes
from aidc_2018_timeseries_spark.operators.text import bigram_logprob_score


# --- MAD outliers -----------------------------------------------------------


def test_mad_flags_planted_spike_not_bulk(spark):
    # 99 values tightly around 10, one spike at 1000: the spike must be
    # flagged, the bulk must not, and the fence must be robust to the
    # spike itself (median/MAD barely move, unlike mean/sigma).
    rows = [("g", 10.0 + (i % 7) * 0.1) for i in range(99)] + [("g", 1000.0)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = mad_outliers_by_group(df, "grp", "value", k=3.0).collect()
    flagged = {r["value"] for r in out if r["is_outlier"] == 1}
    assert flagged == {1000.0}
    one = next(r for r in out if r["value"] == 1000.0)
    assert one["med"] < 11.0  # median unmoved by the spike
    assert one["robust_z"] > 100  # spike is hundreds of robust sigmas out


def test_mad_zero_mad_group_flags_any_deviation_null_z(spark):
    # constant group: MAD = 0 -> robust_z NULL, fence = 0, so any row off
    # the median is an outlier and the constant rows are not.
    rows = [("c", 5.0)] * 10 + [("c", 5.1)]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = mad_outliers_by_group(df, "grp", "value").collect()
    assert all(r["robust_z"] is None for r in out)
    assert sum(r["is_outlier"] for r in out) == 1


# --- blocked edit distance --------------------------------------------------


def test_blocked_edit_distance_finds_typo_pair_within_block(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps", "en"),
            (2, "the quick brwon fox leaps", "en"),  # transposition, same block
            (3, "a completely different title here", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out = blocked_edit_distance_pairs(
        df, "doc_id", "text", block_cols=["lang"], prefix_tokens=4, max_dist=3
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]
    assert out[0]["title_dist"] == 2  # 'brown' -> 'brwon' transposition


def test_blocked_edit_distance_blocking_tradeoff_first_token(spark):
    # identical titles except the FIRST token -> different blocks -> the
    # pair is (by documented design) not produced by this pass.
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en"), (2, "omega beta gamma delta", "en")],
        "doc_id long, text string, lang string",
    )
    out = blocked_edit_distance_pairs(df, "doc_id", "text", block_cols=["lang"])
    assert out.count() == 0


# --- product quantization ---------------------------------------------------


def test_pq_codes_shape_and_self_assignment(spark):
    # 20 deterministic 8-dim vectors, m=4 subspaces of 2 dims, k=4 codes.
    rows = [(i, [float(i + j) for j in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_assign_codes(df, m=4, k=4).collect()
    assert len(out) == 20 * 4  # one row per (vector, subspace)
    assert all(0 <= r["code"] < 4 for r in out)
    assert all(r["dist"] >= 0.0 for r in out)
    # a seed vector quantizes to its own slice with zero error
    for r in out:
        if r["vec_id"] == 2:
            assert r["dist"] == 0.0 and r["code"] == 2


def test_pq_total_error_below_worst_codeword(spark):
    # chosen code's distance must be <= distance to codeword 0 (argmin).
    rows = [(i, [math.sin(i * 7 + j) for j in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_assign_codes(df, m=2, k=8)
    per_vec = (
        out.groupBy("vec_id").agg(F.sum("dist").alias("err")).collect()
    )
    assert all(r["err"] >= 0 for r in per_vec)
    # seeds (ids 0..7) reconstruct exactly
    seed_err = {r["vec_id"]: r["err"] for r in per_vec if r["vec_id"] < 8}
    assert all(v == 0.0 for v in seed_err.values())


def test_pq_codes_match_sequential_fold_reference(spark, sf_dir):
    # every (vector, subspace) code and dist equals a pure-Python
    # reference: left-fold squared L2 in j order, 6-dp HALF_UP, argmin
    # with the lowest code on ties — the embedding_pq_codes oracle's rule
    from decimal import ROUND_HALF_UP, Decimal

    from aidc_2018_timeseries_spark.sources.tables import load_table

    def r6(x):
        return float(Decimal(x).quantize(Decimal("0.000001"), ROUND_HALF_UP))

    v = load_table(spark, sf_dir, "embeddings")
    m, k = 8, 16
    rows = sorted((r["vec_id"], r["embedding"]) for r in v.collect())
    seeds = [e for _, e in rows[:k]]
    sub = len(rows[0][1]) // m
    want = set()
    for vid, e in rows:
        for s in range(m):
            best = None
            for c, cw in enumerate(seeds):
                acc = 0.0
                for j in range(s * sub, (s + 1) * sub):
                    d = float(e[j]) - float(cw[j])
                    acc += d * d
                if best is None or r6(acc) < best[0]:
                    best = (r6(acc), c)
            want.add((vid, s, best[1], best[0]))
    got = set(map(tuple, pq_assign_codes(v, m=m, k=k).collect()))
    assert got == want

    # two identical codewords (ids 0 and 1) tie at every distance: the
    # lower code wins; [1, 2] is 1.0 from both
    tied = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0]), (2, [1.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    got = sorted(map(tuple, pq_assign_codes(tied, m=1, k=2).collect()))
    assert got == [(0, 0, 0, 0.0), (1, 0, 0, 0.0), (2, 0, 0, 1.0)]


# --- bigram perplexity ------------------------------------------------------


def test_bigram_logprob_common_beats_rare_and_short_docs_null(spark):
    df = spark.createDataFrame(
        [(i, "a b a b a b") for i in range(9)]
        + [(100, "x y"), (200, "solo")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_logprob_score(df, "doc_id", "text").collect()}
    # the doc made of corpus-dominant bigrams scores higher than the rare one
    assert out[0]["avg_logprob"] > out[100]["avg_logprob"]
    # single-token doc: no bigrams, NULL score, present in output
    assert out[200]["n_bigrams"] == 0 and out[200]["avg_logprob"] is None
    # perplexity = exp(-rounded mean), rounded
    for d in (0, 100):
        expect = round(math.exp(-out[d]["avg_logprob"]), 6)
        assert abs(out[d]["perplexity"] - expect) < 1e-9
    # identical docs score identically
    assert out[0]["avg_logprob"] == out[8]["avg_logprob"]


# --- n-gram containment ------------------------------------------------------


def test_containment_catches_subset_jaccard_misses(spark):
    from aidc_2018_timeseries_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, quote), (2, quote + " " + filler)],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(df, "doc_id", "text", threshold=0.9).collect()
    # directional: doc 1 contained in doc 2, never the reverse
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in cont] == [(1, 2, 1.0)]
    # symmetric Jaccard at the same class of threshold sees nothing
    assert ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.8).count() == 0


# --- temperature mixture -----------------------------------------------------


def test_temperature_mixture_upweights_scarce_sources(spark):
    from aidc_2018_timeseries_spark.operators.split import upweight_mixture

    rows = [(i, "big") for i in range(90)] + [(100 + i, "small") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    counts = {r["source"]: r["count"] for r in df.groupBy("source").count().collect()}
    tot = sum(counts.values())
    weights = {s: round((tot / n) ** 0.5, 6) for s, n in counts.items()}
    out = upweight_mixture(df, "doc_id", "source", weights, seed="temp")
    per_doc = out.groupBy("doc_id", "source").count().collect()
    import math

    for r in per_doc:  # every doc lands on floor(w) or ceil(w) copies
        w = weights[r["source"]]
        assert r["count"] in (math.floor(w), math.ceil(w))
    by_src = {s: [] for s in counts}
    for r in per_doc:
        by_src[r["source"]].append(r["count"])
    mean_small = sum(by_src["small"]) / len(by_src["small"])
    mean_big = sum(by_src["big"]) / len(by_src["big"])
    # alpha=0.5: scarce source ~sqrt(10)x epochs, dominant ~1.05x
    assert mean_small > 2.5 and mean_big < 1.5


# --- shard export ------------------------------------------------------------


def test_export_shards_bounds_and_losslessness(spark, sf_dir):
    import glob
    import tempfile

    from aidc_2018_timeseries_spark.operators.text import greedy_pack
    from aidc_2018_timeseries_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    p = greedy_pack(d, "source", "doc_id", "text", 256, extra_cols=("text",))
    packs = p.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )
    n_packs = packs.count()
    path = tempfile.mkdtemp(prefix="aidc_shards_test_")
    (
        packs.repartitionByRange(4, "source", "pack_id")
        .sortWithinPartitions("source", "pack_id")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 16)
        .parquet(path)
    )
    back = spark.read.parquet(path)
    assert back.count() == n_packs  # lossless reload
    per_file = (
        back.withColumn("f", F.input_file_name()).groupBy("f").count().collect()
    )
    assert all(r["count"] <= 16 for r in per_file)  # maxRecordsPerFile held
    assert len(per_file) >= -(-n_packs // 16)  # enough shards for the packs
    assert len(glob.glob(f"{path}/*.parquet")) == len(per_file)


# --- CUSUM change-point ------------------------------------------------------


def test_cusum_prefix_trick_equals_reference_recursion(spark):
    # the S_t = C_t - min(0, minprefix(C)) reformulation must equal the
    # textbook recursion S_t = max(0, S_{t-1} + y_t) exactly.
    import random

    rng = random.Random(11)
    ys = [rng.randint(-5, 4) for _ in range(200)] + [3] * 30  # drift at the end
    rows = [(i, "g", ys[i]) for i in range(len(ys))]
    df = spark.createDataFrame(rows, "i long, g string, y_int long")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("g")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("y_int").over(w)
    out = (
        df.withColumn("cum", cum)
        .withColumn("minpref", F.min(cum).over(w))
        .withColumn(
            "s", F.col("cum") - F.least(F.lit(0).cast("long"), F.col("minpref"))
        )
        .orderBy("i")
        .collect()
    )
    s_ref, expect = 0, []
    for y in ys:
        s_ref = max(0, s_ref + y)
        expect.append(s_ref)
    assert [r["s"] for r in out] == expect
    assert expect[-1] > 0 and max(r["s"] for r in out[: len(ys) - 30]) < expect[-1]


# --- seasonal decomposition --------------------------------------------------


def test_seasonal_decompose_identity_and_slot_constancy(spark, sf_dir):
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

    load_all()
    out = CATALOG["series_seasonal_decompose"].spark_fn(spark, sf_dir).collect()
    assert out
    for r in out:  # additive identity holds to the micro-unit grain
        assert abs(r["value_avg"] - (r["trend"] + r["seasonal"] + r["residual"])) < 2e-6
    by_slot = {}
    for r in out:  # one seasonal value per (type, hour-of-day)
        key = (r["event_type"], r["hr"] % 24)
        by_slot.setdefault(key, set()).add(r["seasonal"])
    assert all(len(v) == 1 for v in by_slot.values())

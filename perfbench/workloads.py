"""The benchmark's four workloads.

Each workload has a launcher half, which writes its seeded inputs and
computes the references its outputs are checked against (no Spark), and
a worker half, which runs one request against a live session, checks a
request's output, and runs the traced form of a request.

Sizes are chosen for a 4-core machine so that one request of a pipeline
workload takes two to six seconds and an untraced run, cold start
included, takes under a minute.
"""

from __future__ import annotations

import functools
import math
import os
import random
import time
from collections.abc import Callable

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import prefix_self_times

KEY, ORDER = "trajectory_id", "t"
FEATURES = gen.FEATURE_COLS
RUL_CAP = 130


def cores() -> int:
    """CPUs this process may run on, as nproc counts them."""
    return len(os.sched_getaffinity(0))


def noop(df) -> None:
    """Force a DataFrame to completion without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn: Callable[[], object]) -> tuple[object, float]:
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def normalize_rows(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Column-name order, NaN-as-string, sorted rows: the catalog sweep's
    comparison form (tools/driver_sweep.py)."""
    from tools.driver_sweep import _normalize

    return _normalize(rows, cols)[1]


def oracle_rows(sf_dir: str, sql: str, tables: tuple[str, ...]) -> tuple[list[str], list[tuple]]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(path):
                path += "/*.parquet"
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        res = con.sql(sql)
        return list(res.columns), res.fetchall()
    finally:
        con.close()


def materialize_ctes(sql: str, names: tuple[str, ...]) -> str:
    """Ask DuckDB to evaluate the named CTEs once instead of at every
    reference. Same query, same rows: DuckDB otherwise re-runs the
    recursive connected-components CTE for each of its consumers, which
    takes ~10x longer on the corpus oracle."""
    for name in names:
        if sql.count(f"{name} AS (") == 1:
            sql = sql.replace(f"{name} AS (", f"{name} AS MATERIALIZED (")
    return sql


class Workload:
    """One workload. Requests are named; a pass is the list of requests one
    closed-loop cycle sends, in order."""

    name = ""
    why = ""
    size = ""
    #: extra session confs for this workload's worker
    spark_conf: dict[str, str] = {}

    # launcher side ---------------------------------------------------
    def generate(self, work: str, seed: int) -> dict:
        """Write the inputs under ``work``; return the references."""
        raise NotImplementedError

    # worker side ------------------------------------------------------
    def bind(self, spark, work: str, refs: dict) -> None:
        self.spark, self.work, self.refs = spark, work, refs

    def passes(self, rng: random.Random) -> list[str]:
        return [self.name]

    def run(self, key: str) -> tuple[object, float]:
        """One request, forced to completion: (output, plan-build seconds)."""
        raise NotImplementedError

    def check(self, key: str, out: object) -> bool:
        raise NotImplementedError

    def tables(self, key: str) -> list[str]:
        """Names of the input tables the request reads."""
        return list(self.refs["inputs"])

    def rows(self, key: str) -> int:
        """Rows of the request's input tables."""
        return sum(self.refs["inputs"][t][0] for t in self.tables(key))

    def input_bytes(self, key: str) -> int:
        """On-disk bytes of the request's input tables."""
        return sum(self.refs["inputs"][t][1] for t in self.tables(key))

    def stages(self, key: str) -> list[tuple[str, Callable[[], object]]]:
        """Layer prefixes in pipeline order; the last is the request itself."""
        raise NotImplementedError

    def self_times(self, walls: list[tuple[str, float]]) -> dict[str, float]:
        """Layer self times from the traced stage walls (prefix differences)."""
        return prefix_self_times(walls)

    def counters(self, key: str, outputs: dict[str, object]) -> dict[str, float]:
        """Per-layer counts from the traced outputs of each stage."""
        return {}

    def instrument(self) -> None:
        """Hook run before the catalog is imported."""


# ------------------------------------------------------------ turbofan

def np_windows(a: np.ndarray, seq_len: int, skip: int) -> list[tuple[int, int, np.ndarray]]:
    """(window END row number, capped RUL label, window) for one engine:
    max-scale, pad to ``seq_len * skip`` by repeating the first row,
    strided windows, label ``L - T - k*skip`` capped (the rules of
    tests/test_windowing_golden.py)."""
    a = a / a.max(axis=0)
    target = seq_len * skip
    if a.shape[0] < target:
        a = np.concatenate([np.repeat(a[:1], target - a.shape[0], axis=0), a])
    length = a.shape[0]
    n = math.ceil((length - seq_len + 1) / skip)
    return [
        (k * skip + seq_len, min(length - seq_len - k * skip, RUL_CAP), a[k * skip : k * skip + seq_len])
        for k in range(n)
    ]


class _Turbofan(Workload):
    n_engines = 0
    seq_len = 0
    skip = 1
    n_sampled = 4

    def generate(self, work: str, seed: int) -> dict:
        table = gen.fleet(seed, self.n_engines)
        path = os.path.join(work, "fleet")
        gen.write_parquet(table, path, n_files=4)
        arrays = gen.fleet_arrays(table)
        sampled = random.Random(seed).sample(sorted(arrays), self.n_sampled)
        return {
            "fleet": path,
            "inputs": {"fleet": (table.num_rows, gen.disk_bytes(path))},
            "windows": {
                i: math.ceil((max(len(a), self.seq_len * self.skip) - self.seq_len + 1) / self.skip)
                for i, a in arrays.items()
            },
            "sampled": {i: np_windows(arrays[i], self.seq_len, self.skip) for i in sampled},
        }

    def read(self):
        return self.spark.read.parquet(self.refs["fleet"])

    def windows(self, df):
        from aidc_2018_timeseries_spark.pipelines.turbofan import turbofan_train_windows

        return turbofan_train_windows(df, FEATURES, seq_len=self.seq_len, skip=self.skip, cap=RUL_CAP)

    def layer_prefixes(self) -> list[tuple[str, Callable[[], object]]]:
        """sources → normalize → padding → windowing, each forced by noop,
        calling the operators in the order turbofan_train_windows does."""
        from aidc_2018_timeseries_spark.operators.normalize import per_key_max_scale
        from aidc_2018_timeseries_spark.operators.padding import pad_short_series_front_repeat_long

        def scaled():
            return per_key_max_scale(self.read(), KEY, FEATURES, suffix="").select(KEY, ORDER, *FEATURES)

        return [
            ("sources", lambda: noop(self.read())),
            ("operators.normalize", lambda: noop(scaled())),
            (
                "operators.padding",
                lambda: noop(
                    pad_short_series_front_repeat_long(
                        scaled(), KEY, ORDER, FEATURES, self.seq_len * self.skip
                    )
                ),
            ),
            ("operators.windowing", lambda: noop(self.windows(self.read()))),
        ]


class RulTrainWindows(_Turbofan):
    name = "rul_train_windows"
    why = (
        "paper train pipeline plus parquet shard write: normalize, padding, windowing "
        "(sort, window, collect_list amplification) and the sink do the work; no Python"
    )
    size = "20 engines, 128-362 cycles each (~4.9k rows x 26 cols); windows T=50, skip=1 (~3.9k windows of 50x24)"
    n_engines = 20
    seq_len = 50
    skip = 1
    #: Sorters hold at most 1000 rows in memory, below the ~1.2k rows each
    #: of 4 sort tasks gets, so the sorts ahead of the windows spill: the
    #: write-heavy, larger-than-memory case, at a size that keeps a run
    #: short.
    spark_conf = {"spark.shuffle.spill.numElementsForceSpillThreshold": "1000"}

    def run(self, key):
        from aidc_2018_timeseries_spark.sources.sinks import write_partitioned

        out = os.path.join(self.work, "shards")
        w, build = timed(lambda: self.windows(self.read()))
        write_partitioned(w, out)
        return out, build

    def check(self, key, out) -> bool:
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        rows = sum(pq.ParquetFile(os.path.join(out, f)).metadata.num_rows for f in files)
        if rows != sum(self.refs["windows"].values()):
            return False
        want = self.refs["sampled"]
        got = ds.dataset(out).to_table(filter=ds.field(KEY).isin(list(want)))
        lists = got.column("window").combine_chunks()
        if not np.all(np.diff(lists.offsets.to_numpy()) == self.seq_len):
            return False
        elems = lists.flatten()
        wins = np.column_stack([elems.field(f).to_numpy() for f in FEATURES]).reshape(
            got.num_rows, self.seq_len, len(FEATURES)
        )
        ids, rns, ruls = (got.column(c).to_numpy() for c in (KEY, "rn", "rul"))
        for i, ref in want.items():
            idx = np.flatnonzero(ids == i)
            idx = idx[np.argsort(rns[idx])]
            if len(idx) != len(ref):
                return False
            for j, (rrn, rrul, rwin) in zip(idx, ref):
                if rns[j] != rrn or ruls[j] != rrul or not np.array_equal(wins[j], rwin):
                    return False
        return True

    def stages(self, key):
        return self.layer_prefixes() + [("sources.sinks", lambda: self.run(key))]

    def counters(self, key, outputs):
        out = outputs["sources.sinks"][0]
        files = [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")]
        return {
            "operators.windowing.windows_out": float(sum(self.refs["windows"].values())),
            "sources.sinks.bytes_written": float(sum(os.path.getsize(f) for f in files)),
            "sources.sinks.files_written": float(len(files)),
        }


class RulWindowScoring(_Turbofan):
    name = "rul_window_scoring"
    why = (
        "read-only TCN scoring of strided windows then per-engine RMSE: the mapInPandas "
        "NumPy TCN (Arrow transfer, per-window Python loop) dominates"
    )
    size = (
        "10 engines, 128-362 cycles each (~2.5k rows x 26 cols); windows T=30, skip=1 "
        "(~2.2k windows); TCN of 3 levels x 16 channels, kernel 3"
    )
    n_engines = 10
    seq_len = 30
    skip = 1
    tcn_seed = 7

    def generate(self, work, seed):
        from aidc_2018_timeseries_spark.ml.tcn import tcn_forward

        refs = super().generate(work, seed)
        weights = self.tcn()
        refs["rmse"] = {}
        for i, wins in refs["sampled"].items():
            err = [(tcn_forward(w, weights) - rul) ** 2 for _, rul, w in wins]
            refs["rmse"][i] = math.sqrt(sum(err) / len(err))
        return refs

    def tcn(self):
        from aidc_2018_timeseries_spark.ml.tcn import TCNWeights

        return TCNWeights(n_features=len(FEATURES), n_hidden=16, levels=3, seed=self.tcn_seed)

    def bind(self, spark, work, refs):
        super().bind(spark, work, refs)
        self.weights = self.tcn()

    def scored(self, df):
        from aidc_2018_timeseries_spark.ml.tcn import predict_windows

        return predict_windows(self.windows(df), self.weights, id_cols=[KEY, "rn", "rul"])

    def rmse(self, df):
        from pyspark.sql import functions as F

        from aidc_2018_timeseries_spark.operators.metrics import mse

        return self.scored(df).groupBy(KEY).agg(
            F.sqrt(mse("pred", "rul")).alias("rmse"), F.count(F.lit(1)).alias("n_windows")
        )

    def run(self, key):
        plan, build = timed(lambda: self.rmse(self.read()))
        return plan.collect(), build

    def check(self, key, out) -> bool:
        got = {r[KEY]: (r["rmse"], r["n_windows"]) for r in out}
        if {i: n for i, (_, n) in got.items()} != self.refs["windows"]:
            return False
        return all(
            math.isclose(got[i][0], want, rel_tol=1e-9, abs_tol=1e-12)
            for i, want in self.refs["rmse"].items()
        )

    def stages(self, key):
        return self.layer_prefixes() + [
            ("ml.tcn", lambda: noop(self.scored(self.read()))),
            ("operators.metrics", lambda: self.run(key)),
        ]

    def counters(self, key, outputs):
        n = float(sum(self.refs["windows"].values()))
        return {
            "operators.windowing.windows_out": n,
            "ml.tcn.windows_scored": n,
            # Arrow payload of the window column: T x F doubles per window
            "ml.tcn.python_bytes_in": n * self.seq_len * len(FEATURES) * 8,
        }


# -------------------------------------------------------------- corpus

def corpus_face_params() -> dict:
    """The llm_corpus_pipeline face's gate threshold and MinHash settings,
    which its module keeps private; the traced prefixes use the same."""
    from aidc_2018_timeseries_spark.plans import dedup_queries as dq

    return {
        "quality": dq._Q_THRESHOLD,
        "num_hashes": dq._NUM_HASHES,
        "num_bands": dq._NUM_BANDS,
        "shingle_n": dq._SHINGLE_N,
    }


class CorpusCuration(Workload):
    name = "corpus_curation"
    why = (
        "catalog face llm_corpus_pipeline: text scoring, MinHash/LSH dedup and the "
        "iterative connected-components driver loop; no windowing, no ml"
    )
    size = (
        "200 documents of 10-99 tokens from the catalog testdata vocabulary, 20% "
        "near-duplicate copies (1-2 tokens changed), one parquet file per core"
    )
    n_docs = 200
    dup_share = 0.2

    def generate(self, work, seed):
        from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

        load_all()
        c = gen.corpus(seed, self.n_docs, self.dup_share)
        sf_dir = os.path.join(work, "corpus")
        path = os.path.join(sf_dir, "documents.parquet")
        # at least one file per core: the face then takes its well-split
        # branch (no _spread), the one the traced prefixes below restate
        gen.write_parquet(c.table, path, n_files=max(cores(), 2))
        sql = materialize_ctes(CATALOG["llm_corpus_pipeline"].oracle, ("kept", "comp"))
        cols, rows = oracle_rows(sf_dir, sql, ("documents",))
        return {
            "sf_dir": sf_dir,
            "inputs": {"documents": (c.table.num_rows, gen.disk_bytes(path))},
            "true_pairs": c.true_pairs,
            "oracle": normalize_rows(rows, cols),
        }

    def instrument(self):
        """Keep the round count of the latest connected-components call by
        wrapping operators.graph.connected_components, which
        operators.dedup imports at call time."""
        from aidc_2018_timeseries_spark.operators import graph

        real = graph.connected_components
        self.cc_stats: dict = {}

        @functools.wraps(real)
        def connected_components(*args, stats=None, **kwargs):
            self.cc_stats = {} if stats is None else stats
            return real(*args, stats=self.cc_stats, **kwargs)

        graph.connected_components = connected_components

    def run(self, key):
        from aidc_2018_timeseries_spark.plans.catalog import CATALOG

        df, build = timed(lambda: CATALOG["llm_corpus_pipeline"].spark_fn(self.spark, self.refs["sf_dir"]))
        return (df.columns, [tuple(r) for r in df.collect()]), build

    def check(self, key, out) -> bool:
        cols, rows = out
        return normalize_rows(rows, cols) == self.refs["oracle"]

    def stages(self, key):
        """sources → text gates → LSH candidate pairs → connected components
        → the face itself, each prefix built from the public operators the
        face calls, with the face's materialization points."""
        from pyspark.sql import functions as F

        from aidc_2018_timeseries_spark.operators import dedup as dd
        from aidc_2018_timeseries_spark.operators import text as tx
        from aidc_2018_timeseries_spark.sources.tables import load_table

        p = corpus_face_params()
        lsh = {k: p[k] for k in ("num_hashes", "num_bands", "shingle_n")}

        def docs():
            return load_table(self.spark, self.refs["sf_dir"], "documents")

        def kept():
            pre = (
                docs()
                .select(
                    "doc_id",
                    "text",
                    F.round(tx.quality_score("text"), 6).alias("quality"),
                    tx.lang_id("text").alias("lang_pred"),
                )
                .where((F.col("quality") >= p["quality"]) & (F.col("lang_pred") == "en"))
                .localCheckpoint(eager=False)
            )
            rep = tx.repetition_signals(pre.select("doc_id", "text"), "doc_id", "text")
            return (
                pre.join(rep.select("doc_id", "n_words", "repetitive"), "doc_id")
                .where((F.col("n_words") >= 20) & (F.col("repetitive") == 0))
                .localCheckpoint(eager=False)
            )

        def pairs():
            return [tuple(r) for r in dd.minhash_candidate_pairs(kept(), "doc_id", "text", **lsh).collect()]

        def components():
            noop(dd.minhash_components_collapsed(kept(), "doc_id", "text", collapse=False, **lsh))
            return dict(self.cc_stats)

        return [
            ("sources", lambda: noop(docs())),
            ("operators.text", lambda: noop(kept())),
            ("operators.dedup", pairs),
            ("operators.graph", components),
            ("plans", lambda: self.run(key)),
        ]

    def counters(self, key, outputs):
        cand = set(outputs["operators.dedup"])
        true = len(cand & self.refs["true_pairs"])
        return {
            "operators.dedup.candidate_pairs": float(len(cand)),
            "operators.dedup.pair_yield": true / len(cand) if cand else 0.0,
            "operators.graph.cc_rounds": float(outputs["operators.graph"].get("rounds", 0)),
        }


# --------------------------------------------------------------- sweep

#: one oracle-bearing face from each plans/*_queries.py module, in module
#: order: the cheapest at sf0.01 among those that match their oracle
#: exactly on the generated tables
SWEEP_FACES = (
    "agg_value_histogram",
    "cmapss_ingest_rul",
    "dedup_exact",
    "range_join_error_followups",
    "layout_range_cluster",
    "multimodal_binary_meta",
    "turbofan_rul_pipeline",
    "unpivot_lineitem_measures",
    "a6_binary_cross_entropy",
    "embedding_l2_normalize",
    "source_jsonl_roundtrip",
    "tws_record_breaking",
    "text_subword_count",
)


class CatalogSweep(Workload):
    name = "catalog_sweep"
    why = (
        "fixed list of cheap oracle-bearing faces from every plans module: per-query "
        "fixed cost (plan build, load_table, analysis, job launch) dominates"
    )
    size = "generated catalog tables at sf0.01 (lineitem ~60k rows, events 10k, documents 500)"
    sf = 0.01

    def generate(self, work, seed):
        from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all
        from aidc_2018_timeseries_spark.sources.tables import TABLES

        load_all()
        sf_dir = os.path.join(work, "sf")
        inputs = gen.write_tables(sf_dir, seed, self.sf)
        oracles = {}
        for face in SWEEP_FACES:
            cols, rows = oracle_rows(sf_dir, CATALOG[face].oracle, TABLES)
            oracles[face] = normalize_rows(rows, cols)
        return {"sf_dir": sf_dir, "inputs": inputs, "oracle": oracles}

    def __init__(self):
        self.loads: dict[str, list[str]] = {}
        self._loaded: list[str] = []

    def instrument(self):
        """Record the tables each face loads (for its input-row count and its
        traced scan) by wrapping sources.tables.load_table before the plans
        modules import it."""
        from aidc_2018_timeseries_spark.sources import tables

        real = tables.load_table

        @functools.wraps(real)
        def load_table(spark, sf_dir, name):
            self._loaded.append(name)
            return real(spark, sf_dir, name)

        tables.load_table = load_table

    def passes(self, rng):
        faces = list(SWEEP_FACES)
        rng.shuffle(faces)
        return faces

    def run(self, key):
        from aidc_2018_timeseries_spark.plans.catalog import CATALOG

        self._loaded = []
        df, build = timed(lambda: CATALOG[key].spark_fn(self.spark, self.refs["sf_dir"]))
        self.loads[key] = sorted(set(self._loaded))
        return (df.columns, [tuple(r) for r in df.collect()]), build

    def check(self, key, out) -> bool:
        cols, rows = out
        return normalize_rows(rows, cols) == self.refs["oracle"][key]

    def tables(self, key):
        return self.loads.get(key, [])

    def stages(self, key):
        """The scan of the face's tables, then the face: two independent
        measurements rather than prefixes, so self times are the stage times."""
        from aidc_2018_timeseries_spark.sources import tables

        def scan():
            for t in self.tables(key):
                noop(tables.load_table.__wrapped__(self.spark, self.refs["sf_dir"], t))

        return [("sources", scan), ("plans", lambda: self.run(key))]

    def self_times(self, walls):
        return dict(walls)


WORKLOADS: dict[str, type[Workload]] = {
    w.name: w for w in (RulTrainWindows, RulWindowScoring, CorpusCuration, CatalogSweep)
}

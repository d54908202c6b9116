"""Seeded input generators. Same seed, same bytes; the engine only ever
sees the files written here.

- :func:`fleet` — run-to-failure turbofan trajectories in CMAPSS shape
  (``trajectory_id``, ``t``, 3 settings, 21 sensors), per-engine lengths
  drawn from the FD001 range.
- :func:`corpus` — documents in the ``documents`` schema with a fixed
  share of seeded near-duplicate copies; returns the true copy pairs.
- :func:`write_tables` — the ten catalog tables (``region`` …
  ``embeddings``) at a scale factor, with the column types and value
  ranges of the catalog's testdata.

NumPy and PyArrow only: generation never starts Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SETTING_COLS = [f"setting_{i + 1}" for i in range(3)]
SENSOR_COLS = [f"sensor_{i + 1}" for i in range(21)]
FEATURE_COLS = SETTING_COLS + SENSOR_COLS
#: near-constant sensors, as in the FD001 files (exercise the max-scale path
#: on flat columns)
_FLAT_SENSORS = (0, 4, 9, 15, 17, 18)

#: the catalog testdata's document vocabulary; "the" and "a" are English
#: stopwords, so most documents pass the language gate
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "de", "es", "fr", "zh")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def write_parquet(table: pa.Table, path: str, n_files: int = 1) -> None:
    """One parquet file, or a directory of ``n_files`` contiguous slices."""
    if n_files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))


def disk_bytes(path: str) -> int:
    """Size of a file, or of every file under a directory."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# ------------------------------------------------------------------ fleet

def fleet(seed: int, n_engines: int, min_len: int = 128, max_len: int = 362) -> pa.Table:
    """Engines 1..n, each ``t`` = 1..L. The lengths are spread evenly over
    [min_len, max_len] and dealt to engines in seeded order, so every seed
    gives the same row count. Settings are operating modes in (0, 100];
    sensors drift quadratically towards failure plus noise; all values
    positive, rounded to 4 dp."""
    rng = _rng(seed, 1)
    lengths = rng.permutation(np.linspace(min_len, max_len, n_engines).round().astype(np.int64))
    ids = np.repeat(np.arange(1, n_engines + 1, dtype=np.int32), lengths)
    t = np.concatenate([np.arange(1, n + 1, dtype=np.int32) for n in lengths])
    frac = t / np.repeat(lengths, lengths)
    rows = t.shape[0]
    cols = {"trajectory_id": ids, "t": t}
    modes = rng.uniform(1.0, 100.0, size=(6, 3))
    mode_of_row = rng.integers(0, 6, rows)
    for j, c in enumerate(SETTING_COLS):
        cols[c] = np.round(modes[mode_of_row, j] + rng.normal(0, 0.01, rows), 4)
    base = rng.uniform(400.0, 2400.0, 21)
    drift = rng.uniform(-0.05, 0.05, 21) * base
    noise = rng.uniform(0.001, 0.01, 21) * base
    for j, c in enumerate(SENSOR_COLS):
        if j in _FLAT_SENSORS:
            cols[c] = np.round(np.full(rows, base[j]) + rng.normal(0, 1e-3, rows), 4)
        else:
            cols[c] = np.round(base[j] + drift[j] * frac**2 + rng.normal(0, noise[j], rows), 4)
    return pa.table(cols)


def fleet_arrays(table: pa.Table) -> dict[int, np.ndarray]:
    """trajectory_id → (L, 24) feature matrix in ``t`` order."""
    ids = table.column("trajectory_id").to_numpy()
    feats = np.column_stack([table.column(c).to_numpy() for c in FEATURE_COLS])
    starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
    ends = np.r_[starts[1:], ids.shape[0]]
    return {int(ids[s]): feats[s:e] for s, e in zip(starts, ends)}


# ----------------------------------------------------------------- corpus

@dataclass(frozen=True)
class Corpus:
    table: pa.Table
    #: (id_a, id_b), id_a < id_b: a base document and its near-dup copy
    true_pairs: frozenset


def corpus(seed: int, n_docs: int, dup_share: float = 0.2) -> Corpus:
    """``n_docs`` documents; ``dup_share`` of them are near-duplicate copies
    of distinct base documents (1–2 tokens replaced), so every true cluster
    is a pair and the connected-components depth is the same for every
    seed. Doc ids are a seeded permutation."""
    rng = _rng(seed, 2)
    n_dup = int(round(n_docs * dup_share))
    n_base = n_docs - n_dup
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, n_base)
    docs = [list(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    bases = rng.choice(n_base, size=n_dup, replace=False)
    for b in bases:
        toks = list(docs[b])
        for pos in rng.choice(len(toks), size=int(rng.integers(1, 3)), replace=False):
            toks[pos] = vocab[rng.integers(0, len(vocab))]
        docs.append(toks)
    ids = rng.permutation(n_docs).astype(np.int64)
    pairs = frozenset(
        (min(int(ids[b]), int(ids[n_base + k])), max(int(ids[b]), int(ids[n_base + k])))
        for k, b in enumerate(bases)
    )
    text = [" ".join(d) for d in docs]
    order = np.argsort(ids)
    table = pa.table(
        {
            "doc_id": ids[order],
            "text": [text[i] for i in order],
            "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.13, 0.15])],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(text[i]) for i in order], dtype=np.int64),
        }
    )
    return Corpus(table, pairs)


# ------------------------------------------------------------- sf tables

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The catalog's ten tables at scale factor ``sf`` (lineitem ≈ 6M·sf
    rows). Schemas, key ranges and value ranges follow the testdata the
    catalog oracles were written against."""
    rng = _rng(seed, 3)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 15)
    n_events, n_users = max(int(1_000_000 * sf), 100), max(int(15_000 * sf), 10)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adj = np.array(["red", "small", "hot", "old", "large", "blue", "cold", "new"])
    noun = np.array(["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": np.char.add(
                np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": ptypes[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
        }
    )
    n_lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in n_lines]).astype(np.int32)
    n_li = okey.shape[0]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": lnum,
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_li) * _DAY_US),
        }
    )
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_events))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": etypes[rng.integers(0, 5, n_events)],
            "value": np.maximum(np.round(rng.exponential(50.0, n_events), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    out["documents"] = corpus(seed, max(int(50_000 * sf), 500), dup_share=0.05).table
    n_vec = max(int(50_000 * sf), 500)
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 0.08, size=(10, 64))
    emb = (centers[labels] + rng.normal(0.0, 0.12, size=(n_vec, 64))).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, emb.size + 1, 64, dtype=np.int32)), pa.array(emb.ravel())
            ),
            "label": labels.astype(np.int32),
        }
    )
    return out


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, tuple[int, int]]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return each
    table's (rows, bytes)."""
    os.makedirs(out_dir, exist_ok=True)
    out = {}
    for name, table in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        write_parquet(table, path)
        out[name] = (table.num_rows, disk_bytes(path))
    return out

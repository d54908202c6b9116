"""DSIR (operators/text.dsir_selection) property battery.

Reference: Xie et al. 2023, arXiv:2302.03169 (Data Selection for Language
Models via Importance Resampling). The catalog face (text_dsir_selection)
pins the full output against a DuckDB oracle; this battery pins the
construction against a pure-Python replica (same md5 hashing, same add-one
smoothing, same micro-integer scaling) and the selection invariants on
synthetic corpora with controlled vocabularies.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators.text import dsir_selection

B = 64
SEED = "dsir"


def _h64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_dsir(rows, n_buckets=B, keep_frac=0.5, seed=SEED):
    """Pure-Python replica. rows: (doc_id, group, text, is_target)."""

    def toks(t):
        return [w for w in t.strip().lower().split() if w]

    def bigrams(t):
        tk = toks(t)
        return [f"{a} {b}" for a, b in zip(tk, tk[1:])]

    ex = []  # (doc_id, bucket, is_target)
    for did, _g, text, tgt in rows:
        for bg in bigrams(text):
            ex.append((did, _h64(f"{seed}:{bg}") % n_buckets, tgt))
    r_cnt, t_cnt = {}, {}
    for _, b, tgt in ex:
        r_cnt[b] = r_cnt.get(b, 0) + 1
        if tgt:
            t_cnt[b] = t_cnt.get(b, 0) + 1
    R, T = sum(r_cnt.values()), sum(t_cnt.values())
    lr = {
        b: round(
            (
                math.log((t_cnt.get(b, 0) + 1.0) / (T + n_buckets))
                - math.log((r_cnt[b] + 1.0) / (R + n_buckets))
            )
            * 1e6
        )
        for b in r_cnt
    }
    w = {}
    for did, b, _ in ex:
        w[did] = w.get(did, 0) + lr[b]
    out = {}
    for did, g, _text, _tgt in rows:
        wm = w.get(did, 0)
        u = (_h64(f"{seed}:g:{did}") + 1.0) / float((1 << 60) + 1)
        gm = round(-math.log(-math.log(u)) * 1e6)
        out[did] = {"group": g, "weight_micro": wm, "gumbel_micro": gm,
                    "key_micro": wm + gm}
    # per-group rank
    by_g = {}
    for did, rec in out.items():
        by_g.setdefault(rec["group"], []).append(did)
    for g, dids in by_g.items():
        dids.sort(key=lambda d: (-out[d]["key_micro"], d))
        k = math.ceil(len(dids) * keep_frac)
        for i, d in enumerate(dids):
            out[d]["selected"] = 1 if i < k else 0
    return out


def _df(spark, rows):
    return spark.createDataFrame(
        [(d, g, t, tgt) for d, g, t, tgt in rows],
        "doc_id long, grp string, text string, is_target boolean",
    )


CORPUS = [
    # target domain: "alpha beta" style vocabulary
    (1, "s0", "alpha beta gamma alpha beta", True),
    (2, "s0", "beta gamma alpha beta gamma", True),
    (3, "s0", "delta epsilon zeta delta epsilon", False),
    (4, "s1", "alpha beta alpha beta alpha", False),   # raw doc that LOOKS like target
    (5, "s1", "zeta eta theta zeta eta theta", False),
    (6, "s1", "iota kappa lambda iota kappa", False),
    (7, "s1", "x", False),                              # <2 tokens: no features
    (8, "s0", "", False),                               # empty
]


def test_dsir_matches_python_replica(spark):
    got = {
        r["doc_id"]: r.asDict()
        for r in dsir_selection(
            _df(spark, CORPUS), "doc_id", "text", "is_target", "grp",
            n_buckets=B, keep_frac=0.5, seed=SEED,
        ).collect()
    }
    want = _py_dsir(CORPUS, keep_frac=0.5)
    assert set(got) == set(want)
    for d in want:
        assert got[d]["weight_micro"] == want[d]["weight_micro"], d
        assert got[d]["gumbel_micro"] == want[d]["gumbel_micro"], d
        assert got[d]["key_micro"] == want[d]["key_micro"], d
        assert got[d]["selected"] == want[d]["selected"], d


def test_dsir_featureless_docs_have_zero_weight_but_participate(spark):
    out = {
        r["doc_id"]: r
        for r in dsir_selection(
            _df(spark, CORPUS), "doc_id", "text", "is_target", "grp",
            n_buckets=B, keep_frac=0.5, seed=SEED,
        ).collect()
    }
    assert out[7]["weight_micro"] == 0
    assert out[8]["weight_micro"] == 0
    assert len(out) == len(CORPUS)


def test_dsir_per_group_quota(spark):
    out = dsir_selection(
        _df(spark, CORPUS), "doc_id", "text", "is_target", "grp",
        n_buckets=B, keep_frac=0.5, seed=SEED,
    )
    agg = out.groupBy("grp").agg(
        F.sum("selected").alias("sel"), F.count("*").alias("n")
    ).collect()
    for r in agg:
        assert r["sel"] == math.ceil(r["n"] * 0.5)


def test_dsir_target_lookalikes_score_above_off_domain(spark):
    """The raw doc written in the target vocabulary must outweigh raw docs
    written off-domain — the whole point of importance weighting."""
    out = {
        r["doc_id"]: r["weight_micro"]
        for r in dsir_selection(
            _df(spark, CORPUS), "doc_id", "text", "is_target", "grp",
            n_buckets=B, keep_frac=0.5, seed=SEED,
        ).collect()
    }
    assert out[4] > out[5]
    assert out[4] > out[6]
    assert out[4] > out[3]


def test_dsir_edge_corpora(spark):
    """Empty corpus and all-featureless corpora must not throw; selection
    quota still holds (ceil of an all-zero-weight group ranks by gumbel)."""
    empty = spark.createDataFrame(
        [], "doc_id long, grp string, text string, is_target boolean"
    )
    assert dsir_selection(
        empty, "doc_id", "text", "is_target", "grp", n_buckets=B, keep_frac=0.5
    ).count() == 0

    bare = _df(spark, [(1, "s0", "x", False), (2, "s0", "", True)])
    rows = dsir_selection(
        bare, "doc_id", "text", "is_target", "grp", n_buckets=B, keep_frac=0.5
    ).collect()
    assert len(rows) == 2
    assert all(r["weight_micro"] == 0 for r in rows)
    assert sum(r["selected"] for r in rows) == 1


# --- skew-safe two-level rank (round 10, VERDICT r9 ask 3) ---


def _collect_sorted(df):
    return sorted(map(tuple, df.collect()))


def test_dsir_skew_safe_equals_plain_window(spark):
    """The two-level bucketed rank must be row-identical to the plain
    single-window rank on the standard corpus, across bucket counts."""
    df = _df(spark, CORPUS)
    plain = _collect_sorted(
        dsir_selection(
            df, "doc_id", "text", "is_target", "grp",
            n_buckets=B, keep_frac=0.5, seed=SEED, rank_buckets=0,
        )
    )
    for rb in (1, 2, 64):
        got = _collect_sorted(
            dsir_selection(
                df, "doc_id", "text", "is_target", "grp",
                n_buckets=B, keep_frac=0.5, seed=SEED, rank_buckets=rb,
            )
        )
        assert got == plain, rb


def test_dsir_skew_safe_zipf_source(spark):
    """One source holds 90% of the corpus (the Zipf shape the skew relief
    exists for): selection must equal the plain window AND the Python
    replica, and the dominant group must spread over >1 rank bucket."""
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(180):
        text = " ".join(words[(i + j) % len(words)] for j in range(6))
        rows.append((i, "dominant", text, i % 11 == 0))
    for i in range(180, 200):
        text = " ".join(words[(3 * i + j) % len(words)] for j in range(6))
        rows.append((i, f"tail{i % 4}", text, False))
    df = _df(spark, rows)
    plain = _collect_sorted(
        dsir_selection(
            df, "doc_id", "text", "is_target", "grp",
            n_buckets=B, keep_frac=0.2, seed=SEED, rank_buckets=0,
        )
    )
    got_df = dsir_selection(
        df, "doc_id", "text", "is_target", "grp",
        n_buckets=B, keep_frac=0.2, seed=SEED, rank_buckets=16,
    )
    assert _collect_sorted(got_df) == plain
    want = _py_dsir(rows, keep_frac=0.2)
    got = {t[0]: t for t in map(tuple, got_df.collect())}
    for d, rec in want.items():
        assert got[d][5] == rec["selected"], d


def test_dsir_dominant_group_spreads_over_buckets(spark):
    """Directly inspect the bucketing arithmetic: with near-unique Gumbel
    keys a 90%-dominant source must occupy >1 (group, bucket) partition,
    i.e. the serial window the relief replaces is actually split."""
    import pyspark.sql.functions as SF

    words = ["alpha", "beta", "gamma", "delta"]
    rows = [
        (i, "dom", " ".join(words[(i + j) % 4] for j in range(5)), i % 7 == 0)
        for i in range(120)
    ]
    df = _df(spark, rows)
    out = dsir_selection(
        df, "doc_id", "text", "is_target", "grp",
        n_buckets=B, keep_frac=0.2, seed=SEED, rank_buckets=8,
    )
    keys = [r["key_micro"] for r in out.collect()]
    kmin, kmax = min(keys), max(keys)
    width = max(1, -(-(kmax - kmin + 1) // 8))
    used = {(kmax - k) // width for k in keys}
    assert len(used) > 1, (kmin, kmax, width)

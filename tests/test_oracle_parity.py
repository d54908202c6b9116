"""Local replica of the driver's DuckDB-oracle correctness gate.

For every catalog query with an oracle: run the Spark plan and the DuckDB
SQL on the same parquet tables, then compare row count, column names, and
order-insensitive values (floats compared to 1e-9 relative after the
queries' own rounding). Catching a mismatch here at sf0.001 is cheap; the
driver's gate at sf0.01 is the real thing.
"""

from __future__ import annotations

import math

import duckdb
import pytest

from __spark_entry__ import oracle_sql, queries
from aidc_2018_timeseries_spark.sources.tables import TABLES
from tests.conftest import SF_DIR

_ORACLES = oracle_sql()
_QUERIES = queries()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return float(v)
    if isinstance(v, int):
        return int(v)
    return v


def _sort_key(row):
    return tuple("\x00" if v is None else str(v) for v in row)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=_sort_key)
    return [cols[i] for i in order], out


def _approx_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        return math.isclose(af, bf, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_parity(name, spark, duck):
    sdf = _QUERIES[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.sql(_ORACLES[name])
    duck_cols = res.columns
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )

    _, s_rows = _normalize(spark_rows, spark_cols)
    _, d_rows = _normalize(duck_rows, duck_cols)
    mismatches = []
    for i, (sr, dr) in enumerate(zip(s_rows, d_rows)):
        if not all(_approx_eq(a, b) for a, b in zip(sr, dr)):
            mismatches.append((i, sr, dr))
            if len(mismatches) >= 5:
                break
    assert not mismatches, f"{name}: value mismatches (first 5): {mismatches}"


def test_every_query_has_rows(spark):
    """Driver's rows-only check for oracle-less queries; also ensures every
    catalog entry actually executes."""
    for name, fn in _QUERIES.items():
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name


def test_boilerplate_fraction_invariants_and_planted_template(spark):
    """n_frequent <= n_shingles always; planting one doc's text into many
    synthetic copies must drive the original's boilerplate_frac to 1.0
    (every one of its shingles becomes corpus-frequent)."""
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators.text import boilerplate_fraction
    from aidc_2018_timeseries_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = boilerplate_fraction(d, "doc_id", "text", min_docs=4).collect()
    assert len(out) == d.count()
    for r in out:
        assert 0 <= r["n_frequent"] <= r["n_shingles"]
        assert 0.0 <= r["boilerplate_frac"] <= 1.0
    # plant: 12 copies of doc 0's text under fresh ids
    base = d.limit(1).select(F.col("text")).first()["text"]
    copies = spark.createDataFrame(
        [(10_000 + i, base) for i in range(12)], ["doc_id", "text"]
    )
    planted = d.unionByName(copies)
    got = {
        r["doc_id"]: r
        for r in boilerplate_fraction(planted, "doc_id", "text", min_docs=12).collect()
    }
    first_id = d.select(F.min("doc_id")).first()[0]
    r0 = got[first_id]
    assert r0["n_shingles"] > 0 and r0["boilerplate_frac"] == 1.0, dict(r0.asDict())


def test_keep_best_quality_one_keeper_per_cluster(spark):
    """Exactly one keep=1 per component, and the keeper's quality is the
    component max (ties broken toward the smaller doc_id)."""
    from collections import defaultdict

    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all
    from tests.conftest import SF_DIR

    load_all()
    rows = CATALOG["dedup_keep_best_quality"].spark_fn(spark, SF_DIR).collect()
    comps = defaultdict(list)
    for r in rows:
        comps[r["component_id"]].append(r)
    assert len(rows) == 500  # full corpus coverage incl. singletons
    for cid, members in comps.items():
        keepers = [m for m in members if m["keep"] == 1]
        assert len(keepers) == 1, (cid, members)
        k = keepers[0]
        best_q = max(m["quality"] for m in members)
        assert k["quality"] == best_q
        assert k["doc_id"] == min(
            m["doc_id"] for m in members if m["quality"] == best_q
        )


def test_heavy_hitters_mg_bound_vs_exact(spark):
    """Misra-Gries summed-summary guarantee: f(x) − n/(c+1) ≤ est ≤ f(x)
    for every reported term, and every term with f > 2n/(c+1) appears."""
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators.text import heavy_hitters_mg, tokenize
    from aidc_2018_timeseries_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    terms = d.select(F.explode(tokenize("text")).alias("term"))
    n = terms.count()
    c = 60  # small counter budget so the bound actually bites on this corpus
    est = {
        r["term"]: r["est_count"]
        for r in heavy_hitters_mg(terms, "term", k=50, n_counters=c).collect()
    }
    assert est
    exact = {
        r["term"]: r["cnt"]
        for r in terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    slack = n / (c + 1)
    for t, e in est.items():
        assert exact[t] - slack <= e <= exact[t], (t, e, exact[t], slack)
    must_appear = {t for t, f in exact.items() if f > 2 * slack}
    if len(must_appear) <= 50:
        missing = must_appear - set(est)
        assert not missing, missing


def test_quantize_error_within_half_scale(spark):
    """Per-component reconstruction error must respect the construction
    bound max_abs_err <= scale/2 (+ rounding eps), with mse <= max^2."""
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all
    from tests.conftest import SF_DIR

    load_all()
    rows = CATALOG["embedding_quantize_error"].spark_fn(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["max_abs_err"] <= r["scale"] / 2 + 1e-6, dict(r.asDict())
        assert 0.0 <= r["mse"] <= r["max_abs_err"] ** 2 + 1e-9


def test_fim_preserves_tokens_and_split_arithmetic(spark):
    """FIM must be a pure reordering: prefix+middle+suffix counts sum to
    the token count, and re-splitting psm at the sentinels recovers the
    original token sequence (prefix ++ middle ++ suffix)."""
    from pyspark.sql import functions as F

    from aidc_2018_timeseries_spark.operators.text import tokenize
    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all
    from aidc_2018_timeseries_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    load_all()
    rows = CATALOG["text_fim_transform"].spark_fn(spark, SF_DIR).collect()
    toks = {
        r["doc_id"]: r["t"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", tokenize("text").alias("t"))
        .collect()
    }
    assert len(rows) == len(toks)
    for r in rows:
        t = toks[r["doc_id"]]
        assert r["n_prefix"] + r["n_middle"] + r["n_suffix"] == len(t)
        body = r["psm"]
        assert body.startswith("<PRE> ")
        pre, rest = body[len("<PRE> "):].split(" <SUF> ", 1)
        suf, mid = rest.split(" <MID> ", 1)
        rebuilt = (pre.split() + mid.split() + suf.split())
        assert rebuilt == t, (r["doc_id"], rebuilt[:5], t[:5])


def test_length_buckets_bound_padding_waste(spark):
    """Within any batch: <= 16 docs and max/min token length < 2 (the
    power-of-two bucket guarantee that bounds padding waste), min length
    >= 2^bucket."""
    from collections import defaultdict

    from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all
    from tests.conftest import SF_DIR

    load_all()
    rows = CATALOG["text_length_bucket_batches"].spark_fn(spark, SF_DIR).collect()
    batches = defaultdict(list)
    for r in rows:
        batches[(r["bucket"], r["batch_id"])].append(r["n_tokens"])
    assert batches
    for (bucket, _), lens in batches.items():
        assert len(lens) <= 16
        assert min(lens) >= 2**bucket
        assert max(lens) < 2 ** (bucket + 1)
        assert max(lens) / min(lens) < 2

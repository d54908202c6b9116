"""The corpus-curation text rules as single SQL expressions: `lang_id`
against a pure-Python forward scan, the size of its expression tree, the
token-count node test that replaces hashing every shingle, the py4j
cost of building the `llm_corpus_pipeline` face, and that face's one
plan for every corpus layout."""

from __future__ import annotations

import re

import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aidc_2018_timeseries_spark.operators import text as tx
from aidc_2018_timeseries_spark.plans.catalog import CATALOG, load_all

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

#: the whitespace class of Java's regex ``\s`` (tokenize splits on ``\s+``)
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")

_WORDS = sorted({w for ws in tx.LANG_STOPWORDS.values() for w in ws}) + ["THE", "La", "xyz", "w1", ""]
_SEPS = [" ", "  ", "\t", "\n"]
_text = st.lists(st.tuples(st.sampled_from(_WORDS), st.sampled_from(_SEPS)), max_size=12).map(
    lambda parts: "".join(w + s for w, s in parts)
)
_texts = st.lists(st.one_of(st.none(), _text), min_size=1, max_size=40)

#: ties (es and fr share "la", "que", "un"; en/de), no stopword at all,
#: only zh, NULL and blank documents
_EDGE_TEXTS = [
    "la que un",
    "la",
    "le les des",
    "the der",
    "de la que",
    "xyz abc",
    "",
    "  \t ",
    None,
    "的 是 不",
    "的 the",
]


def _tokens(text: str) -> list[str]:
    return [t for t in _JAVA_SPACE.split(text.strip(" ").lower()) if t]


def _forward_scan_lang(text: str | None) -> str:
    """Languages in LANG_STOPWORDS order; a later one wins only with
    strictly more stopword hits."""
    best, best_hits = "unknown", 0
    toks = _tokens(text) if text is not None else []
    for lang, words in tx.LANG_STOPWORDS.items():
        hits = sum(t in words for t in toks)
        if hits > best_hits:
            best, best_hits = lang, hits
    return best


def _lang_ids(spark, texts: list[str | None]) -> list[str]:
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    return [r["lang"] for r in df.select("i", tx.lang_id("text").alias("lang")).orderBy("i").collect()]


def _expression_nodes(spark, col) -> int:
    """Nodes of the analyzed expression tree (one per treeString line)."""
    df = spark.range(1).selectExpr("'x' AS text").select(col)
    return df._jdf.queryExecution().analyzed().expressions().apply(0).treeString().count("\n")


def test_lang_id_edge_documents_match_forward_scan(spark):
    got = _lang_ids(spark, _EDGE_TEXTS)
    assert got == [_forward_scan_lang(t) for t in _EDGE_TEXTS]
    assert got[:4] == ["es", "es", "fr", "en"]
    assert got[5:9] == ["unknown"] * 4
    assert got[9] == "zh"


@given(texts=_texts)
@_SETTINGS
def test_lang_id_matches_forward_scan(spark, texts):
    assert _lang_ids(spark, texts) == [_forward_scan_lang(t) for t in texts]


def test_lang_id_expression_grows_linearly(spark, monkeypatch):
    """Over L languages the expression is at most L times the one-language
    expression; an unrolled when/otherwise chain doubles per language."""
    langs = list(tx.LANG_STOPWORDS.items())
    sizes = []
    for k in range(1, len(langs) + 1):
        monkeypatch.setattr(tx, "LANG_STOPWORDS", dict(langs[:k]))
        sizes.append(_expression_nodes(spark, tx.lang_id("text")))
    assert sizes[-1] <= len(langs) * sizes[0], sizes


@given(texts=st.lists(st.one_of(st.none(), _text, st.sampled_from(["", " ", "\t\n", "a a a", "a b"])), min_size=1, max_size=40))
@_SETTINGS
def test_shingle_node_test_is_a_token_count(spark, texts):
    """A document has a word n-gram shingle iff it has at least n tokens,
    as filter predicates (NULL counts as false)."""
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    cols = []
    for n in (1, 2, 3, 5):
        cols.append(F.coalesce(F.size(tx.shingle_hashes("text", n=n)) > 0, F.lit(False)).alias(f"sh{n}"))
        cols.append(F.coalesce(F.size(tx.tokenize("text")) >= n, F.lit(False)).alias(f"tk{n}"))
    for r in df.select("i", *cols).collect():
        for n in (1, 2, 3, 5):
            assert r[f"sh{n}"] == r[f"tk{n}"], (texts[r["i"]], n)


def test_corpus_pipeline_py4j_budget(spark, sf_dir, py4j_commands):
    """Building and collecting llm_corpus_pipeline sends ≤ 2,000 py4j
    commands (object releases left out): one SQL expression per text and
    MinHash rule, not a Column chain per token function."""
    load_all()
    face = CATALOG["llm_corpus_pipeline"].spark_fn
    face(spark, sf_dir).collect()  # cache the input schema outside the count
    assert py4j_commands(lambda: face(spark, sf_dir).collect()) <= 2000


def test_corpus_pipeline_is_one_plan_for_every_layout(spark, sf_dir, tmp_path):
    """The same documents written as one file and as four files give equal
    llm_corpus_pipeline rows, and neither plan holds a Union or an
    anti-join: every kept document is a connected-components vertex, so
    the face has no singleton branch."""
    load_all()
    face = CATALOG["llm_corpus_pipeline"].spark_fn
    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    one, four = tmp_path / "one", tmp_path / "four"
    one.mkdir()
    pq.write_table(docs, one / "documents.parquet")
    (four / "documents.parquet").mkdir(parents=True)
    step = -(-docs.num_rows // 4)
    for i in range(4):
        pq.write_table(docs.slice(i * step, step), four / "documents.parquet" / f"part-{i}.parquet")
    got = {}
    for layout in (one, four):
        df = face(spark, str(layout))
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "Union" not in plan and "LeftAnti" not in plan, plan
        got[layout] = sorted(map(tuple, df.collect()))
    assert got[one] == got[four]
    assert any(size > 1 for _, _, size in got[one])  # near-dup clusters, not only singletons

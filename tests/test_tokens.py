"""Token-array operators: jq/JSONPath index-slice-iterate semantics ported as
exact-expectation unit tests (the JqSpec style, reference
``json/src/test/scala/fs2/data/json/jq/JqSpec.scala:40-458``)."""

import pyspark.sql.functions as F
import pytest

from fs2_data_spark.functions.tokens import (
    tok_fingerprint, tok_index, tok_iterate, tok_ngrams, tok_slice, tok_stats,
)
from fs2_data_spark.tables import token_sequences, tokens_col


@pytest.fixture(scope="module")
def toks(spark):
    return spark.createDataFrame(
        [("d1", [1, 2, 3, 4, 5]), ("d2", [7]), ("d3", [])],
        "doc_id string, tokens array<int>",
    )


def _m(df, col="out"):
    return {r.doc_id: r[col] for r in df.collect()}


def test_index_semantics(spark, toks):
    # jq `.[2]` / `.[-1]` / out-of-range -> null (JqSpec "index out of bounds")
    got = toks.select("doc_id", tok_index("tokens", 2).alias("out"))
    assert _m(got) == {"d1": 3, "d2": None, "d3": None}
    got = toks.select("doc_id", tok_index("tokens", -1).alias("out"))
    assert _m(got) == {"d1": 5, "d2": 7, "d3": None}


def test_slice_semantics(spark, toks):
    # jq `.[1:3]` end-exclusive, clamped (JqSpec slice cases)
    got = toks.select("doc_id", tok_slice("tokens", 1, 3).alias("out"))
    assert _m(got) == {"d1": [2, 3], "d2": [], "d3": []}
    got = toks.select("doc_id", tok_slice("tokens", 3).alias("out"))
    assert _m(got) == {"d1": [4, 5], "d2": [], "d3": []}
    got = toks.select("doc_id", tok_slice("tokens", 0, 99).alias("out"))
    assert _m(got)["d1"] == [1, 2, 3, 4, 5]


def test_iterate_preserves_document_order(spark, toks):
    # jq `.[]` with ordinals = StartArrayElement(idx) tagging
    rows = tok_iterate(toks.filter("doc_id = 'd1'")).collect()
    assert [(r.pos, r.token) for r in sorted(rows, key=lambda r: r.pos)] == [
        (0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]


def test_fingerprint_is_order_sensitive(spark):
    df = spark.createDataFrame([("a", [1, 2, 3]), ("b", [3, 2, 1])],
                               "doc_id string, tokens array<int>")
    got = _m(df.select("doc_id", tok_fingerprint("tokens").alias("out")))
    assert got["a"] == 1 * 1 + 2 * 2 + 3 * 3
    assert got["b"] == 1 * 3 + 2 * 2 + 3 * 1
    assert got["a"] != got["b"]


def test_tok_stats(spark, toks):
    got = {r.doc_id: r for r in tok_stats(toks).collect()}
    assert got["d1"].tok_min == 1 and got["d1"].tok_max == 5
    assert got["d1"].tok_sum == 15 and got["d1"].tok_distinct == 5
    assert abs(got["d1"].tok_mean - 3.0) < 1e-12
    assert got["d3"].tok_mean is None


def test_ngrams(spark, toks):
    got = _m(toks.select("doc_id", tok_ngrams("tokens", 2).alias("out")))
    assert len(got["d1"]) == 4          # 5 tokens -> 4 bigrams
    assert got["d2"] == [] and got["d3"] == []
    assert got["d1"][0] == 1 * 50261 + 2


def test_generator_invariants(spark):
    df = token_sequences(spark, 500, n_docs=50)
    bad = df.filter(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0  # FIXTURES.md F1 invariant: n_tok == len(tokens)
    assert df.filter(F.col("n_tok") < 1).count() == 0
    # deterministic: same seed -> same content regardless of partitioning
    a = sorted(str(r) for r in df.repartition(13).collect())
    b = sorted(str(r) for r in token_sequences(spark, 500, n_docs=50).collect())
    assert a == b


def test_tokenize_documents_matches_python(spark, documents):
    got = documents.limit(20).select(
        "doc_id", "text", tokens_col("text").alias("tokens")).collect()
    for r in got:
        words = [w for w in r.text.split(" ") if w]
        assert r.tokens == [len(w) * 256 + ord(w[0]) for w in words]


def test_tok_index_mandatory_modes(spark):
    from fs2_data_spark.functions.tokens import tok_index
    df = spark.createDataFrame([(0, [1, 2, 3]), (1, [7])],
                               "i int, tokens array<int>")
    # lenient: out-of-range -> null
    out = {r.i: r.v for r in df.select(
        "i", tok_index("tokens", 2).alias("v")).collect()}
    assert out == {0: 3, 1: None}
    # mandatory: in-range rows fine, out-of-range fails the job
    ok = df.filter("i = 0").select(tok_index("tokens", 2, mandatory=True).alias("v"))
    assert ok.first().v == 3
    with pytest.raises(Exception):
        df.select(tok_index("tokens", 2, mandatory=True).alias("v")).collect()


def test_tok_index_wrong_container_is_strict_error(spark):
    """Index selection on a non-array column is the reference's strict
    'wrong container kind' error — Spark raises it at analysis time."""
    from fs2_data_spark.functions.tokens import tok_index
    df = spark.createDataFrame([(1, "scalar")], "i int, tokens string")
    with pytest.raises(Exception):
        df.select(tok_index("tokens", 0)).collect()

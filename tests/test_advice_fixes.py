"""Regression tests for the round-1 ADVICE findings.

Each test reproduces the exact failure scenario the advisor confirmed and
pins the corrected behavior.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fs2_data_spark.functions.token_kernels import token_features_arrow
from fs2_data_spark.operators.asof import asof_join
from fs2_data_spark.sources.xmlsrc import xml_events, xml_texts_at


# --- ADVICE high: reduceat boundary corruption with empty token lists -------

@pytest.mark.parametrize("lists", [
    [[1, 2, 3], []],                 # trailing empty (the reported repro)
    [[], [1, 2, 3]],                 # leading empty
    [[5], [], [], [7, 8], []],       # interior + trailing empties
    [[], [], []],                    # all empty
    [[2, 4, 6]],                     # no empties (control)
])
def test_token_kernel_empty_lists(spark, lists):
    rows = [(i, lst) for i, lst in enumerate(lists)]
    df = spark.createDataFrame(rows, "seq_no int, tokens array<int>")
    out = {r.seq_no: r for r in token_features_arrow(df).collect()}
    for i, lst in enumerate(lists):
        r = out[i]
        if lst:
            assert r.tok_sum == sum(lst), f"row {i}: {r.tok_sum} != {sum(lst)}"
            assert r.tok_min == min(lst) and r.tok_max == max(lst)
            assert np.isclose(r.tok_mean, sum(lst) / len(lst))
            fp = sum((j + 1) * t for j, t in enumerate(lst)) % 1_000_000_007
            assert r.tok_fp == fp
        else:
            assert r.tok_sum == 0 and r.tok_fp == 0
            assert r.tok_min is None and r.tok_max is None
            assert r.tok_mean is None or np.isnan(r.tok_mean)


# --- ADVICE medium: tail text attribution in mixed-content XML --------------

def test_xml_mixed_content_tail_ownership(spark):
    df = spark.createDataFrame([("d1", "<a><b>x</b>tail</a>")],
                               "doc_key string, xml string")
    a_texts = [r.value for r in xml_texts_at(df, "xml", "a").collect()]
    b_texts = [r.value for r in xml_texts_at(df, "xml", "b").collect()]
    assert a_texts == ["tail"]
    assert b_texts == ["x"]


def test_xml_event_paths_and_owner(spark):
    df = spark.createDataFrame(
        [("d1", '<r><a k="1">x</a><c><a>y</a>mid</c></r>')],
        "doc_key string, xml string")
    ev = {r.event_no: r for r in xml_events(df).collect()}
    starts = {r.path: r for r in ev.values() if r.event == "StartTag"}
    assert set(starts) == {"/r", "/r/a", "/r/c", "/r/c/a"}
    assert starts["/r/a"].attrs == {"k": "1"}
    texts = [(r.text, r.parent, r.path, r.owner_no)
             for r in sorted(ev.values(), key=lambda r: r.event_no)
             if r.event == "XmlString"]
    assert texts == [
        ("x", "a", "/r/a", starts["/r/a"].event_no),
        ("y", "a", "/r/c/a", starts["/r/c/a"].event_no),
        ("mid", "c", "/r/c", starts["/r/c"].event_no),
    ]


# --- ADVICE low: simhash relational plan keeps empty docs -------------------

def test_simhash_relational_keeps_empty_docs(spark, tmp_path):
    import pandas as pd

    from fs2_data_spark.queries import REGISTRY
    docs = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["the cat sat", "", "   "],
        "lang": ["en", "en", "en"],
        "source": ["t", "t", "t"],
    })
    d = str(tmp_path / "docs")
    spark.createDataFrame(docs).write.parquet(f"{d}/documents.parquet")
    fn, _sql = REGISTRY["simhash_docs"]
    rows = {r.doc_id: r.sh for r in fn(spark, d).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[1] == 0 and rows[2] == 0


# --- ADVICE low: pandas asof strategy dedup determinism ---------------------

def test_asof_pandas_dedup_matches_union(spark):
    left = spark.createDataFrame(
        [(1, 10, "L1"), (1, 20, "L2")], "k int, t bigint, lbl string")
    # duplicate (key, ts) right rows with different payloads
    right = spark.createDataFrame(
        [(1, 5, "zz"), (1, 5, "aa"), (1, 15, None), (1, 15, "bb")],
        "k int, t bigint, payload string")
    kw = dict(on="k", left_ts="t", right_ts="t", right_cols=["payload"])
    a = {(r.k, r.t): r.payload
         for r in asof_join(left, right, strategy="union", **kw).collect()}
    b = {(r.k, r.t): r.payload
         for r in asof_join(left, right, strategy="pandas", **kw).collect()}
    assert a == b
    assert a[(1, 10)] == "zz"   # max-struct winner among (1,5) dups
    assert a[(1, 20)] == "bb"   # non-null beats null at (1,15)


def test_xml_namespace_resolution(spark):
    """The parser resolves namespaces to Clark notation ``{ns_uri}local``
    — the namespaceResolver surface."""
    xml = '<a xmlns="urn:d" xmlns:x="urn:x"><x:b k="1"/><c/></a>'
    df = spark.createDataFrame([("d1", xml)], "doc_key string, xml string")
    ev = xml_events(df).filter(F.col("event") == "StartTag")
    got = {r.name for r in ev.collect()}
    assert got == {"{urn:d}a", "{urn:x}b", "{urn:d}c"}


# --- round-3 ADVICE items ---------------------------------------------------

def test_entity_replacement_in_single_quoted_attribute(spark):
    """ADVICE r03: a replacement apostrophe inside a single-quoted attribute
    value must not terminate the attribute."""
    xml = "<r a='&who;'/>"
    df = spark.createDataFrame([("d", xml)], "doc_key string, xml string")
    ev = xml_events(df, entities={"who": "O'Brien \"q\""})
    tags = ev.filter(F.col("event") == "StartTag").collect()
    assert tags[0].attrs["a"] == 'O\'Brien "q"'


def test_entity_skip_doctype_internal_subset(spark):
    """ADVICE r03: &name; inside a DOCTYPE internal subset is a DTD
    declaration, not a reference — substitution must not touch it (a user
    entity colliding with a DTD-declared name would corrupt the DTD)."""
    from fs2_data_spark.sources.xmlsrc import substitute_entities
    xml = ('<!DOCTYPE r [ <!ENTITY who "dtd-value"> ]>'
           "<r a='&who;'>&who;</r>")
    out = substitute_entities(xml, {"who": "user-value"})
    # the DTD declaration is untouched; both body references substituted
    assert '<!ENTITY who "dtd-value">' in out
    assert out.count("user-value") == 2


def test_entity_skip_doctype_bracket_in_comment_and_literal(spark):
    """ADVICE r04: a ']' inside a DTD comment or quoted literal must not
    close the internal-subset skip span — declarations after it stay
    untouched by entity substitution."""
    from fs2_data_spark.sources.xmlsrc import substitute_entities
    xml = ("<!DOCTYPE r [ <!-- tricky ] comment --> "
           '<!ENTITY a "has ] bracket"> '
           '<!ENTITY who "&late;"> ]>'
           "<r>&who;</r>")
    out = substitute_entities(xml, {"who": "user-value", "late": "boom"})
    # every declaration inside the subset is verbatim — including the one
    # after the ']'-bearing comment and literal, whose &late; is DTD text
    assert '<!ENTITY who "&late;">' in out
    assert '<!ENTITY a "has ] bracket">' in out
    assert out.count("user-value") == 1 and "boom" not in out


def test_empty_cdata_emits_raw_event(spark):
    """ADVICE r03: <![CDATA[]]> carries XmlString("", isCDATA=true) in the
    raw ADT, like the reference's event model."""
    from fs2_data_spark.sources.xmlsrc import xml_events_raw
    df = spark.createDataFrame([("d", "<r><![CDATA[]]></r>")],
                               "doc_key string, xml string")
    ev = xml_events_raw(df).filter(F.col("event") == "XmlString").collect()
    assert len(ev) == 1 and ev[0].text == "" and ev[0].is_cdata

"""Format coverage: CBOR/MessagePack codecs (RFC 8949 Appendix-A-style
vectors + Hypothesis roundtrip laws, the reference's test strategy:
``cbor/shared/src/test/scala/fs2/data/cbor/ParserSpec.scala:36-56``,
``RoundtripTest.scala``), XML event parsing, JSON wrapping."""

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from fs2_data_spark.sources.binary_codecs import (
    cbor_decode, cbor_encode, msgpack_decode, msgpack_encode,
    transcode_cbor_to_json, transcode_msgpack_to_json,
)
from fs2_data_spark.sources.xmlsrc import xml_events, xml_texts_at

# RFC 8949 Appendix A vectors (hex -> expected decoded value)
CBOR_VECTORS = [
    ("00", 0), ("01", 1), ("0a", 10), ("17", 23), ("1818", 24),
    ("1903e8", 1000), ("1a000f4240", 1000000),
    ("20", -1), ("29", -10), ("3863", -100),
    ("f4", False), ("f5", True), ("f6", None),
    ("63666f6f", "foo"), ("60", ""),
    ("83010203", [1, 2, 3]),
    ("8301820203820405", [1, [2, 3], [4, 5]]),
    ("a201020304", {1: 2, 3: 4}),
    ("f90000", 0.0), ("fa47c35000", 100000.0), ("fb3ff199999999999a", 1.1),
    ("4401020304", b"\x01\x02\x03\x04"),
    ("9f010203ff", [1, 2, 3]),                       # indefinite array
    ("7f657374726561646d696e67ff", "streaming"),     # indefinite text
]


@pytest.mark.parametrize("hexstr,expected", CBOR_VECTORS)
def test_cbor_appendix_vectors(hexstr, expected):
    assert cbor_decode(bytes.fromhex(hexstr)) == expected


MSGPACK_VECTORS = [
    (b"\x00", 0), (b"\x7f", 127), (b"\xcc\x80", 128), (b"\xcd\x01\x00", 256),
    (b"\xe0", -32), (b"\xff", -1), (b"\xd0\x81", -127),
    (b"\xc0", None), (b"\xc2", False), (b"\xc3", True),
    (b"\xa3foo", "foo"), (b"\x93\x01\x02\x03", [1, 2, 3]),
    (b"\x81\xa1a\x01", {"a": 1}),
    (b"\xc4\x03\x01\x02\x03", b"\x01\x02\x03"),
]


@pytest.mark.parametrize("raw,expected", MSGPACK_VECTORS)
def test_msgpack_vectors(raw, expected):
    assert msgpack_decode(raw) == expected


_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(min_value=-2**63, max_value=2**64 - 1),
    st.floats(allow_nan=False, allow_infinity=False), st.text(max_size=40),
    st.binary(max_size=40),
)
_values = st.recursive(
    _scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=6),
        st.dictionaries(st.text(max_size=8), children, max_size=6)),
    max_leaves=20,
)


@settings(max_examples=200, deadline=None)
@given(_values)
def test_cbor_roundtrip_law(v):
    assert cbor_decode(cbor_encode(v)) == v


@settings(max_examples=200, deadline=None)
@given(_values)
def test_msgpack_roundtrip_law(v):
    v2 = msgpack_decode(msgpack_encode(v))
    assert v2 == v


def test_transcode_cbor_spark(spark):
    rows = [(1, cbor_encode({"a": [1, 2], "b": "x"})), (2, b"\xff\xff")]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    out = {r.id: r for r in transcode_cbor_to_json(df, mode="attempt").collect()}
    assert json.loads(out[1].json) == {"a": [1, 2], "b": "x"} and out[1].ok
    assert not out[2].ok
    with pytest.raises(Exception):
        transcode_cbor_to_json(df, mode="strict").collect()


def test_transcode_msgpack_spark(spark):
    rows = [(1, msgpack_encode([1, "two", None, {"k": 3.5}]))]
    df = spark.createDataFrame(rows, "id bigint, payload binary")
    out = transcode_msgpack_to_json(df).first()
    assert json.loads(out.json) == [1, "two", None, {"k": 3.5}] and out.ok


XML_DOC = """<root a="1"><item id="x">hello</item><item id="y">world</item>
<nested><item id="z">deep</item></nested></root>"""


def test_xml_events_order_and_depth(spark):
    df = spark.createDataFrame([("d1", XML_DOC)], "doc_key string, xml string")
    ev = xml_events(df).orderBy("event_no").collect()
    assert [e.event for e in ev[:3]] == ["StartTag", "StartTag", "XmlString"]
    assert ev[0].name == "root" and ev[0].attrs == {"a": "1"} and ev[0].depth == 0
    assert ev[1].name == "item" and ev[1].depth == 1
    assert ev[2].text == "hello" and ev[2].depth == 2
    # balanced tags
    starts = sum(1 for e in ev if e.event == "StartTag")
    ends = sum(1 for e in ev if e.event == "EndTag")
    assert starts == ends == 5


def test_xml_malformed_modes(spark):
    df = spark.createDataFrame([("bad", "<a><b></a>")], "doc_key string, xml string")
    rows = xml_events(df, mode="attempt").collect()
    assert len(rows) == 1 and not rows[0].ok and rows[0].error
    with pytest.raises(Exception):
        xml_events(df, mode="strict").collect()


def test_xml_texts_at(spark):
    df = spark.createDataFrame([("d1", XML_DOC)], "doc_key string, xml string")
    vals = [r.value for r in xml_texts_at(df, "xml", "item").orderBy("event_no").collect()]
    assert vals == ["hello", "world", "deep"]


# --- MessagePack extension + timestamp types (msgpack/low/model.scala:48-62) -

from fs2_data_spark.sources.binary_codecs import (  # noqa: E402
    CborTagged, MpExt, MpTimestamp, _jsonable,
)

MP_EXT_VECTORS = [
    # fixext1/2/4/8/16 with app type 5
    (b"\xd4\x05\xaa", MpExt(5, b"\xaa")),
    (b"\xd5\x05\xaa\xbb", MpExt(5, b"\xaa\xbb")),
    (b"\xd6\x05\x01\x02\x03\x04", MpExt(5, b"\x01\x02\x03\x04")),
    (b"\xd7\x05" + bytes(8), MpExt(5, bytes(8))),
    (b"\xd8\x05" + bytes(16), MpExt(5, bytes(16))),
    # ext8 with odd length
    (b"\xc7\x03\x07abc", MpExt(7, b"abc")),
    # timestamp32: type -1, 4 bytes seconds
    (b"\xd6\xff\x00\x00\x00\x01", MpTimestamp(1, 0)),
    (b"\xd6\xff\x5e\x0b\xe1\x00", MpTimestamp(0x5E0BE100, 0)),
    # timestamp64: nsec=1 sec=1 -> combined = (1 << 34) | 1
    (b"\xd7\xff" + ((1 << 34) | 1).to_bytes(8, "big"), MpTimestamp(1, 1)),
    # timestamp96: nsec uint32 + sec int64 (negative = pre-epoch)
    (b"\xc7\x0c\xff" + (3).to_bytes(4, "big") + (-5).to_bytes(8, "big", signed=True),
     MpTimestamp(-5, 3)),
]


@pytest.mark.parametrize("raw,expected", MP_EXT_VECTORS)
def test_msgpack_ext_vectors(raw, expected):
    assert msgpack_decode(raw) == expected


@pytest.mark.parametrize("v", [
    MpExt(5, b"x"), MpExt(120, b"hello world!!"), MpExt(0, bytes(300)),
    MpTimestamp(0), MpTimestamp(2**32 - 1), MpTimestamp(1, 999_999_999),
    MpTimestamp(2**34 - 1, 2**30 - 1), MpTimestamp(2**40, 17), MpTimestamp(-1234, 5),
    [1, MpTimestamp(7, 8), {"e": MpExt(9, b"\x00\xff")}],
])
def test_msgpack_ext_roundtrip(v):
    assert msgpack_decode(msgpack_encode(v)) == v


def test_msgpack_timestamp_smallest_encoding():
    assert msgpack_encode(MpTimestamp(1, 0))[:2] == b"\xd6\xff"        # ts32
    assert msgpack_encode(MpTimestamp(1, 1))[:2] == b"\xd7\xff"        # ts64
    assert msgpack_encode(MpTimestamp(-1, 0))[:3] == b"\xc7\x0c\xff"   # ts96
    assert msgpack_encode(MpTimestamp(2**35, 0))[:3] == b"\xc7\x0c\xff"


# --- CBOR tag semantics (cbor-json/.../cbor/package.scala:31-62) ------------

def test_cbor_bignum_tags():
    # tag 2: c2 + bytes -> BigInt; 18446744073709551616 = 2^64 = 0x010000000000000000
    raw = bytes.fromhex("c249010000000000000000")
    v = cbor_decode(raw)
    assert v == CborTagged(2, b"\x01" + bytes(8))
    assert _jsonable(v) == 2**64
    # tag 3: -1 - BigInt -> -18446744073709551617
    assert _jsonable(cbor_decode(bytes.fromhex("c349010000000000000000"))) == -(2**64) - 1


def test_cbor_decimal_fraction_tag():
    # RFC 8949 §3.4.4 example: 273.15 as c4 82 21 19 6ab3 ([-2, 27315])
    v = cbor_decode(bytes.fromhex("c48221196ab3"))
    assert v == CborTagged(4, [-2, 27315])
    assert _jsonable(v) == 273.15
    assert _jsonable(CborTagged(4, [2, 3])) == 300


def test_cbor_expected_base_encoding_tags():
    data = b"\x01\xff"
    assert _jsonable(CborTagged(21, data)) == "Af8"       # base64url no pad
    assert _jsonable(CborTagged(22, data)) == "Af8="      # base64
    assert _jsonable(CborTagged(23, data)) == "01ff"      # base16
    # tag scope covers nested byte strings
    assert _jsonable(CborTagged(23, [data, {"k": data}])) == ["01ff", {"k": "01ff"}]
    # default (untagged) bytes render base64url-nopad
    assert _jsonable(data) == "Af8"


def test_cbor_tagged_roundtrip():
    for v in [CborTagged(2, b"\x01\x02"), CborTagged(4, [-2, 27315]),
              {"x": CborTagged(23, b"\xab")}]:
        assert cbor_decode(cbor_encode(v)) == v


def test_xml_dom_tree(spark):
    from fs2_data_spark.sources.xmlsrc import xml_dom
    df = spark.createDataFrame(
        [("d1", '<r a="1"><b>x</b>tail<c/></r>'), ("bad", "<a><b></a>")],
        "doc_key string, xml string")
    out = {r.doc_key: r.dom for r in xml_dom(df, mode="attempt").collect()}
    assert json.loads(out["d1"]) == {
        "tag": "r", "attrs": {"a": "1"},
        "children": [
            {"tag": "b", "attrs": {}, "children": ["x"]},
            "tail",
            {"tag": "c", "attrs": {}, "children": []},
        ]}
    assert out["bad"] is None
    with pytest.raises(Exception):
        xml_dom(df, mode="strict").collect()


# --- full RFC 8949 Appendix A corpus (reference cbor test resource) ----------

import pathlib as _pathlib

_APPENDIX_A = _pathlib.Path(
    "/root/reference/cbor/shared/src/test/resources/appendix_a.json")


def _appendix_cases():
    if not _APPENDIX_A.exists():
        return []
    return json.loads(_APPENDIX_A.read_text())


@pytest.mark.parametrize(
    "case", _appendix_cases(),
    ids=[c["hex"] for c in _appendix_cases()])
def test_cbor_appendix_a_full(case):
    raw = bytes.fromhex(case["hex"])
    v = cbor_decode(raw)  # every case must decode without error
    if "decoded" in case:
        rendered = _jsonable(v)
        expected = case["decoded"]
        if isinstance(expected, float) or isinstance(rendered, float):
            assert float(rendered) == pytest.approx(float(expected)), case["hex"]
        else:
            assert rendered == expected, case["hex"]
    if case.get("roundtrip"):
        # value-level roundtrip (byte-level float widths are not preserved
        # by the high-level value codec, like the reference's high.values)
        v2 = cbor_decode(cbor_encode(v))
        if isinstance(v, float) and v != v:  # NaN
            assert isinstance(v2, float) and v2 != v2, case["hex"]
        else:
            assert v2 == v, case["hex"]


def test_transcode_json_to_cbor_and_back(spark):
    from fs2_data_spark.sources.binary_codecs import (
        transcode_cbor_to_json, transcode_json_to_cbor,
        transcode_json_to_msgpack, transcode_msgpack_to_json,
    )
    df = spark.createDataFrame(
        [(1, '{"a": [1, 2.5, null], "b": "x"}'), (2, "nope")],
        "id bigint, json string")
    # JSON -> CBOR -> JSON roundtrip (value-level)
    enc = transcode_json_to_cbor(df, mode="attempt")
    out = {r.id: r for r in enc.collect()}
    assert out[1].ok and not out[2].ok and out[2].payload is None
    back = transcode_cbor_to_json(
        enc.filter("ok").drop("json", "ok"), "payload").first()
    assert json.loads(back.json) == {"a": [1, 2.5, None], "b": "x"}
    # JSON -> MessagePack -> JSON
    enc2 = transcode_json_to_msgpack(df.filter("id = 1"))
    back2 = transcode_msgpack_to_json(enc2.drop("json", "ok"), "payload").first()
    assert json.loads(back2.json) == {"a": [1, 2.5, None], "b": "x"}
    with pytest.raises(Exception):
        transcode_json_to_cbor(df, mode="strict").collect()


DOC_FULL = ('<?xml version="1.0" encoding="UTF-8"?>'
            '<!DOCTYPE r SYSTEM "r.dtd"><?style css?>'
            '<r a="1"><!-- hello -->x<b>y</b>tail'
            '<![CDATA[ <raw> & stuff ]]>z</r><!--trailing-->')


def test_xml_events_comments_and_pis(spark):
    """xml.events(includeComments) analogue (reference xml/package.scala:
    50-52): Comment/XmlPI rows interleave in document order with correct
    element ownership."""
    from fs2_data_spark.sources.xmlsrc import xml_events

    df = spark.createDataFrame([("d1", DOC_FULL)], "doc_key string, xml string")
    rows = (xml_events(df, include_comments=True, include_pis=True)
            .orderBy("event_no").collect())
    stream = [(r.event, r.name, r.text, r.parent) for r in rows]
    assert stream == [
        ("XmlPI", "style", "css", None),
        ("StartTag", "r", None, None),
        ("Comment", None, " hello ", "r"),
        ("XmlString", None, "x", "r"),
        ("StartTag", "b", None, "r"),
        ("XmlString", None, "y", "b"),
        ("EndTag", "b", None, "r"),
        # CDATA merges into the surrounding text run in the normalized view
        ("XmlString", None, "tail <raw> & stuff z", "r"),
        ("EndTag", "r", None, None),
        ("Comment", None, "trailing", None),
    ]
    # default stream is unchanged: no Comment/XmlPI rows
    plain = {r.event for r in xml_events(df).collect()}
    assert plain == {"StartTag", "XmlString", "EndTag"}


def test_xml_events_raw_full_adt(spark):
    """xml_events_raw: the full XmlEvent ADT (XmlEvent.scala:35-67) —
    XmlDecl, XmlDoctype, Comment, XmlPI, and XmlString with isCDATA, with
    CDATA text kept verbatim."""
    from fs2_data_spark.sources.xmlsrc import xml_events_raw

    df = spark.createDataFrame([("d1", DOC_FULL)], "doc_key string, xml string")
    rows = xml_events_raw(df).orderBy("event_no").collect()
    kinds = [r.event for r in rows]
    assert kinds == ["XmlDecl", "XmlDoctype", "XmlPI", "StartTag", "Comment",
                     "XmlString", "StartTag", "XmlString", "EndTag",
                     "XmlString", "XmlString", "XmlString", "EndTag",
                     "Comment"]
    assert rows[0].attrs == {"version": "1.0", "encoding": "UTF-8"}
    assert rows[1].name == "r" and rows[1].attrs == {"system_id": "r.dtd"}
    cdata = [r for r in rows if r.is_cdata]
    assert len(cdata) == 1 and cdata[0].text == " <raw> & stuff "
    # non-CDATA neighbours are separate, stripped runs
    assert [r.text for r in rows if r.event == "XmlString"] == [
        "x", "y", "tail", " <raw> & stuff ", "z"]


def test_xml_events_custom_entities(spark):
    """Custom referenceResolver entity maps (xml/package.scala:58-66):
    user entities expand (transitively), undefined ones error per mode."""
    from fs2_data_spark.sources.xmlsrc import xml_events

    doc = "<r>&greet;, &who;!</r>"
    df = spark.createDataFrame([("d1", doc)], "doc_key string, xml string")
    ents = {"greet": "Hello &who;", "who": "world"}
    rows = xml_events(df, entities=ents).orderBy("event_no").collect()
    assert [r.text for r in rows if r.event == "XmlString"] == [
        "Hello world, world!"]
    # undefined entity: attempt-mode error row, strict raises
    df2 = spark.createDataFrame([("d2", "<r>&nope;</r>")],
                                "doc_key string, xml string")
    bad = xml_events(df2, entities=ents, mode="attempt").collect()
    assert len(bad) == 1 and not bad[0].ok and "entity" in bad[0].error
    import pytest as _pytest
    with _pytest.raises(Exception, match="entity"):
        xml_events(df2, entities=ents, mode="strict").collect()


def test_entity_cycle_detected():
    from fs2_data_spark.sources.xmlsrc import resolve_entities

    import pytest as _pytest
    with _pytest.raises(ValueError, match="cycle"):
        resolve_entities({"a": "&b;", "b": "&a;"})
    # self-reference is the minimal cycle
    with _pytest.raises(ValueError, match="cycle"):
        resolve_entities({"a": "x &a; y"})


def test_wrap_object_variants(spark):
    """wrap.asArrayInObject / asValueInObject (json/package.scala:117-141)."""
    from fs2_data_spark.functions.jsonpath import (
        wrap_as_array_in_object, wrap_as_value_in_object)
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, 0, '"a"'), (1, 1, "2"), (2, 0, "true")],
        "doc_id bigint, pos int, value string")
    arr = wrap_as_array_in_object(df, ["doc_id"], "value", at="vals",
                                  extra={"src": '"t"'}, order_col="pos")
    got = {r.doc_id: r.json for r in arr.collect()}
    assert got == {1: '{"src":"t","vals":["a",2]}', 2: '{"src":"t","vals":[true]}'}
    val = wrap_as_value_in_object(df.filter(F.col("pos") == 0), "value", at="v")
    got2 = {r.doc_id: r.json for r in val.collect()}
    assert got2 == {1: '{"v":"a"}', 2: '{"v":true}'}


def test_typed_decode_one_liners(spark):
    """decode_msgpack/decode_cbor (msgpack/high/package.scala:43-144):
    binary -> typed struct; absent fields null; attempt mode keeps ok."""
    from fs2_data_spark.sources.binary_codecs import (
        cbor_encode, decode_cbor, decode_msgpack, msgpack_encode)

    rows = [(1, msgpack_encode({"a": 7, "lang": "en"}), cbor_encode({"a": 7})),
            (2, msgpack_encode({"a": 9}), cbor_encode({"a": 9, "lang": "fr"}))]
    df = spark.createDataFrame(rows, "id bigint, mp binary, cb binary")
    m = {r.id: (r.value.a, r.value.lang)
         for r in decode_msgpack(df, "a bigint, lang string", col="mp").collect()}
    assert m == {1: (7, "en"), 2: (9, None)}
    c = {r.id: (r.value.a, r.value.lang)
         for r in decode_cbor(df, "a bigint, lang string", col="cb").collect()}
    assert c == {1: (7, None), 2: (9, "fr")}


def test_entity_substitution_is_character_data_and_skips_cdata(spark):
    """Code-review fixes: replacement text is CHARACTER DATA (markup-looking
    replacements don't parse as markup / break the parse), and &name; inside
    CDATA/comments/PIs is not a reference and stays verbatim."""
    from fs2_data_spark.sources.xmlsrc import (
        substitute_entities, xml_events, xml_events_raw)

    ents = {"e": "a < b & c"}
    df = spark.createDataFrame([("d1", "<r>&e;</r>")],
                               "doc_key string, xml string")
    rows = xml_events(df, entities=ents).orderBy("event_no").collect()
    assert [r.text for r in rows if r.event == "XmlString"] == ["a < b & c"]

    cd = spark.createDataFrame([("d2", "<r><![CDATA[&e;]]>x<!--&e;--></r>")],
                               "doc_key string, xml string")
    raw = xml_events_raw(cd, entities=ents).orderBy("event_no").collect()
    cdata = [r.text for r in raw if r.is_cdata]
    assert cdata == ["&e;"]  # CDATA content untouched
    comments = [r.text for r in raw if r.event == "Comment"]
    assert comments == ["&e;"]
    # attribute-value references DO resolve (escaped, incl. quotes)
    at = spark.createDataFrame([("d3", '<r a="&q;"/>')],
                               "doc_key string, xml string")
    got = xml_events(at, entities={"q": 'say "hi" < now'}).collect()
    start = [r for r in got if r.event == "StartTag"][0]
    assert start.attrs == {"a": 'say "hi" < now'}
    # pure-function check: substitution output still parses
    assert "&lt;" in substitute_entities("<r>&e;</r>", {"e": "a < b"})


def test_xml_events_raw_starttag_path_is_ancestor_or_self(spark):
    from fs2_data_spark.sources.xmlsrc import xml_events_raw

    df = spark.createDataFrame([("d1", "<r><b>x</b></r>")],
                               "doc_key string, xml string")
    rows = xml_events_raw(df).orderBy("event_no").collect()
    paths = {(r.event, r.name): r.path for r in rows if r.event == "StartTag"}
    assert paths == {("StartTag", "r"): "/r", ("StartTag", "b"): "/r/b"}


def test_decode_typed_preserves_existing_json_column(spark):
    """decode_msgpack must not clobber a pre-existing `json` column (the
    intermediate rides in a reserved name)."""
    from fs2_data_spark.sources.binary_codecs import decode_msgpack, msgpack_encode

    rows = [(1, '{"user":"kept"}', msgpack_encode({"a": 5}))]
    df = spark.createDataFrame(rows, "id bigint, json string, mp binary")
    out = decode_msgpack(df, "a bigint", col="mp").first()
    assert out.json == '{"user":"kept"}' and out.value.a == 5


def test_decode_text_null_payload_consistent_across_charsets(spark):
    """strict-mode NULL handling must not depend on which charset alias
    routed to the JVM vs Arrow path: NULL -> NULL text, ok=true, everywhere."""
    from fs2_data_spark.sources.charsets import decode_text, encode_text

    df = spark.createDataFrame([(1, None), (2, b"ok")],
                               "id bigint, payload binary")
    for cs in ("utf8", "latin1", "latin9", "ascii"):
        got = {r.id: (r.text, r.ok) for r in
               decode_text(df, charset=cs, mode="strict").collect()}
        assert got[1] == (None, True), cs
        assert got[2] == ("ok", True), cs
    sdf = spark.createDataFrame([(1, None), (2, "ok")], "id bigint, text string")
    for cs in ("utf8", "latin9"):
        got = {r.id: r.payload for r in
               encode_text(sdf, charset=cs, mode="strict").collect()}
        assert got[1] is None and bytes(got[2]) == b"ok", cs


def test_xml_render_comments_and_pis_roundtrip(spark):
    """xml_render re-emits Comment/XmlPI rows, so an events->render->events
    roundtrip preserves the commented stream."""
    from pyspark.sql import functions as F
    from fs2_data_spark.sources.xmlsrc import xml_events, xml_render

    doc = '<?style css?><r><!--note-->x<b>y</b></r>'
    df = spark.createDataFrame([("d1", doc)], "doc_key string, xml string")
    ev = xml_events(df, include_comments=True, include_pis=True)
    rendered = xml_render(ev).first().xml
    assert rendered == doc
    # roundtrip: re-parsing the render gives the identical event stream
    df2 = spark.createDataFrame([("d1", rendered)], "doc_key string, xml string")
    a = [tuple(r) for r in xml_events(df, include_comments=True,
                                      include_pis=True).orderBy("event_no").collect()]
    b = [tuple(r) for r in xml_events(df2, include_comments=True,
                                      include_pis=True).orderBy("event_no").collect()]
    assert a == b


from hypothesis import given, settings, strategies as st


@settings(max_examples=60, deadline=None)
@given(st.text(min_size=0, max_size=40).filter(
    lambda s: "\x00" not in s and all(c >= " " or c in "\t\n" for c in s)))
def test_entity_substitution_character_data_law(repl):
    """Law: for ANY replacement text, substituting &e; and re-parsing yields
    exactly that text as character data (never markup, never a parse
    error)."""
    import xml.etree.ElementTree as ET
    from fs2_data_spark.sources.xmlsrc import resolve_entities, substitute_entities

    doc = "<r>pre&e;post</r>"
    out = substitute_entities(doc, resolve_entities({"e": repl}))
    root = ET.fromstring(out)
    assert root.text == f"pre{repl}post"
    assert len(root) == 0  # replacement never becomes child markup

"""Format sources: strict (fail-the-stream) vs attempt (per-record Either)
error-mode parity with fs2-data (reference ``csv/package.scala:482-565``,
``json/package.scala:31-37``)."""

import pytest
from py4j.protocol import Py4JJavaError

from fs2_data_spark.sources.csvsrc import decode_cells, read_csv, write_csv
from fs2_data_spark.sources.jsonl import read_jsonl


@pytest.fixture(scope="module")
def jsonl_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("jsonl") / "data.jsonl"
    p.write_text(
        '{"id": 1, "name": "a", "v": 1.5}\n'
        '{"id": 2, "name": "b", "v": 2.5}\n'
        'THIS IS NOT JSON\n'
        '{"id": 4, "name": "d", "v": 4.5}\n'
    )
    return str(p)


@pytest.fixture(scope="module")
def csv_file(tmp_path_factory):
    p = tmp_path_factory.mktemp("csv") / "data.csv"
    # row 3 has wrong arity; quoted field with embedded separator + RFC quote
    p.write_text(
        'id,name,v\n'
        '1,"alpha, beta",1.5\n'
        '2,"say ""hi""",2.5\n'
        '3,onlytwo\n'
        '4,delta,4.5\n'
    )
    return str(p)


def test_jsonl_attempt_side_channel(spark, jsonl_file):
    df = read_jsonl(spark, jsonl_file, "id bigint, name string, v double", mode="attempt")
    rows = df.collect()
    assert len(rows) == 4
    bad = [r for r in rows if not r.ok]
    assert len(bad) == 1 and bad[0].error_record == "THIS IS NOT JSON"
    good = sorted(r.id for r in rows if r.ok)
    assert good == [1, 2, 4]


def test_jsonl_strict_fails(spark, jsonl_file):
    df = read_jsonl(spark, jsonl_file, "id bigint, name string, v double", mode="strict")
    with pytest.raises(Py4JJavaError):
        df.collect()


def test_csv_attempt_and_quotes(spark, csv_file):
    df = read_csv(spark, csv_file, schema="id bigint, name string, v double",
                  header=True, mode="attempt")
    rows = {r.id: r for r in df.collect() if r.ok}
    assert rows[1].name == "alpha, beta"     # RFC-4180 quoted separator
    assert rows[2].name == 'say "hi"'        # doubled-quote escape
    bad = [r for r in df.collect() if not r.ok]
    assert len(bad) == 1 and bad[0].error_record.startswith("3,onlytwo")


def test_csv_decode_cells_attempt(spark):
    df = spark.createDataFrame([("1", "x"), ("nope", "y")], "n string, s string")
    out = decode_cells(df, {"n": "int"}, mode="attempt")
    rows = {r.s: r for r in out.collect()}
    assert rows["x"].n == 1 and rows["x"].n_ok
    assert rows["y"].n is None and not rows["y"].n_ok


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a,b"), (2, 'q"q')], "id bigint, s string")
    out = str(tmp_path / "rt")
    write_csv(df, out)
    back = read_csv(spark, out, schema="id bigint, s string", header=True)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_decode_text_charsets(spark):
    """S18 charset layer (reference text/package.scala:23-56): utf8 / latin1
    / latin9 / ascii binary decode with strict/attempt/replace modes."""
    import pytest as _pytest
    from fs2_data_spark.sources.charsets import decode_text, encode_text

    rows = [
        (1, "héllo".encode("utf-8")),
        (2, "héllo".encode("iso-8859-1")),
        (3, "€uro".encode("iso-8859-15")),  # latin9's € at 0xA4
        (4, b"plain"),
    ]
    df = spark.createDataFrame(rows, "id bigint, payload binary")

    utf = {r.id: (r.text, r.ok) for r in
           decode_text(df.filter("id in (1, 4)"), charset="utf8").collect()}
    assert utf == {1: ("héllo", True), 4: ("plain", True)}

    lat1 = decode_text(df.filter("id = 2"), charset="latin1").first()
    assert lat1.text == "héllo"
    lat9 = decode_text(df.filter("id = 3"), charset="latin9").first()
    assert lat9.text == "€uro"

    # strict: latin1 bytes are invalid utf-8 -> fails; attempt: null + ok=false
    with _pytest.raises(Exception):
        decode_text(df.filter("id = 2"), charset="utf8").collect()
    att = decode_text(df, charset="utf8", mode="attempt").orderBy("id").collect()
    assert [(r.ok, r.text is None) for r in att] == [
        (True, False), (False, True), (False, True), (True, False)]

    # replace: invalid bytes -> U+FFFD (Arrow path, any charset)
    rep = decode_text(df.filter("id = 2"), charset="utf8", mode="replace").first()
    assert "�" in rep.text

    # encode roundtrip incl. the Arrow latin9 path and strict ascii failure
    enc = encode_text(decode_text(df.filter("id = 3"), charset="latin9"),
                      charset="latin9", out_col="back").first()
    assert bytes(enc.back) == rows[2][1]
    sdf = spark.createDataFrame([("héllo",)], "text string")
    with _pytest.raises(Exception):
        encode_text(sdf, charset="ascii").collect()
    ra = encode_text(sdf, charset="ascii", mode="replace").first()
    assert bytes(ra.payload) == b"h?llo"

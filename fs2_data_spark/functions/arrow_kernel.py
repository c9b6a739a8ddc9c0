"""One way to run an Arrow kernel.

Every ``mapInArrow`` in the package goes through :func:`run_kernel` (a guard
test scans the source for strays).  A kernel is a per-batch numpy function;
the runner owns the steps around it:

- **keys ride through uncast.**  Key (passthrough) columns are the Arrow
  arrays Spark hands the Python worker, re-emitted as they are — or
  ``take``-n when the kernel emits several rows per input row — so a string
  or UUID id comes back as the same string and the output schema keeps the
  input's type.  A kernel that must compare or order ids lists the key among
  its inputs too (no extra bytes cross: the column is selected once) and
  reads it with :func:`id_values`.
- **empty batches never reach the kernel.**
- **the output DDL is built once**, on the driver: key fields copy the
  input schema, kernel fields are parsed from ``fields``, and every array
  the kernel returns is cast to its declared Arrow type (a lossy cast
  raises instead of writing a wrong value).
- **one NULL-input rule:** NULL input cells reach the kernel with their
  Arrow validity intact, and NULL keys pass through untouched; the runner
  never fills, drops or defaults a row.  Each kernel states what a NULL
  input means, matching its Catalyst expression: the text kernels read
  NULL text as the empty string, the vector kernels read a NULL vector as
  the zero vector (cosine 0), ``jl_project`` maps it to NULL, and a kernel
  that compares ids refuses NULL ids (:func:`id_values` raises).

``exchange=True`` (default) spreads the selected columns round-robin over
``defaultParallelism`` partitions before the kernel — the sources are often
one small parquet split.  Kernels that must stay in the scan stage
(``token_features_arrow``) or run on an already-spread input pass ``False``.

**Per-row engines** (the JSON/XML/render format engines, codecs, charsets)
run through :func:`run_rows`: ``fn(*values)`` gets one input row's Python
values and returns that row's output tuples.  It is an adapter over
:func:`run_kernel` (no exchange, so it stays in the input's stage) that owns
the engines' strict/attempt modes and their **NULL-document rule**, the one
Catalyst uses for ``explode(NULL)``/``from_json(NULL)``: a NULL document is
not malformed, in both modes.  A one-row-per-match/token/event engine emits
no rows for it; a one-row-per-document engine (``per_doc=True``) emits one
row with NULL outputs and ``ok = true``.

Every Python stage plans as one of :data:`PYTHON_NODES`; plan checks that
pin "no Python in this plan" test against that tuple.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pyarrow as pa

__all__ = ["run_kernel", "run_rows", "id_values", "PYTHON_NODES"]

# physical-plan nodes of Python stages: mapInArrow (both runners), the
# grouped/cogrouped pandas kernels, and the pandas UDF / row-UDF evaluators
PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas")


def id_values(arr: pa.Array) -> np.ndarray:
    """Key column -> numpy array for comparing or ordering ids: int64 for
    integral ids, object (Python ``str``/``bytes``...) otherwise.  Python
    ``str`` order is code-point order, which equals the UTF-8 byte order
    Spark sorts strings by, so ``<``/``lexsort`` agree with the JVM.
    NULL ids have no order or equality a kernel could honour: raise."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError("NULL id: kernels that compare or order ids need "
                         "non-NULL ids")
    if pa.types.is_integer(arr.type):
        return arr.to_numpy().astype(np.int64, copy=False)
    return arr.to_numpy(zero_copy_only=False)


def _as_arrow(col, typ: pa.DataType) -> pa.Array:
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if not isinstance(col, pa.Array):
        return pa.array(col, type=typ)
    return col if col.type == typ else col.cast(typ)


def run_kernel(
    df,
    fn: Callable,
    inputs: Sequence,
    fields: str,
    keys: Sequence = (),
    exchange: bool = True,
):
    """Run ``fn`` over ``df``'s Arrow batches and return the output frame.

    ``keys``: column names or aliased Columns passed through untouched;
    they lead the output, in order.  ``inputs``: column names or Columns
    handed to ``fn`` as Arrow arrays (a name equal to a key's output name
    reuses that key's column, so nothing crosses to Python twice).
    ``fields``: DDL of the columns ``fn`` makes (``"sh array<bigint>, n
    int"``).

    ``fn(*arrays)`` returns, per non-empty batch, one of:

    - a list of output arrays (numpy or Arrow), one row per input row;
    - a pair ``(rows, arrays)``: ``rows`` indexes the input row each output
      row belongs to (its keys are taken from there), so a kernel may drop
      rows or emit several per input row;
    - ``None`` to emit nothing for the batch.
    """
    import pyspark.sql.functions as F  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415
    from pyspark.sql.types import (  # noqa: PLC0415
        StructType,
        _parse_datatype_string,
    )

    def col(c):
        return F.col(c) if isinstance(c, str) else c

    sel = [col(c) for c in keys]
    key_names = df.select(*sel).columns
    in_idx = []
    for c in inputs:
        if isinstance(c, str) and c in key_names:
            in_idx.append(key_names.index(c))
        else:
            in_idx.append(len(sel))
            sel.append(col(c).alias(f"__in{len(sel)}"))
    src = df.select(*sel)
    if exchange:
        sc = df.sparkSession.sparkContext
        src = src.repartition(max(sc.defaultParallelism, 1))

    n_keys = len(keys)
    made = _parse_datatype_string(fields)
    out = StructType(src.schema.fields[:n_keys] + made.fields)
    names = out.names
    made_types = list(to_arrow_schema(made).types)

    def gen(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            res = fn(*[batch.column(i) for i in in_idx])
            if res is None:
                continue
            rows, cols = res if isinstance(res, tuple) else (None, res)
            key_cols = [batch.column(i) for i in range(n_keys)]
            if rows is not None:
                rows = pa.array(np.asarray(rows, dtype=np.int64))
                key_cols = [k.take(rows) for k in key_cols]
            yield pa.RecordBatch.from_arrays(
                key_cols + [_as_arrow(c, t) for c, t in zip(cols, made_types)],
                names=names)

    return src.mapInArrow(gen, out)


def run_rows(
    df,
    fn: Callable,
    inputs: Sequence,
    fields: str,
    keys: Sequence = (),
    errors: tuple = (),
    strict: bool = True,
    on_error: Callable | None = None,
    per_doc: bool = False,
):
    """Per-row form of :func:`run_kernel` for the document engines.

    ``fn(*values)`` receives one input row's values (Python objects, one
    per ``inputs`` column) and returns the list of output tuples for that
    row, each matching ``fields``.  ``keys`` pass through as in
    :func:`run_kernel`, repeated for every output row of their input row.

    A row with a NULL input is a NULL document and never reaches ``fn``: it
    emits nothing, or with ``per_doc=True`` one row of NULL outputs in which
    a field named ``ok`` reads true.  An exception in ``errors`` raised by
    ``fn`` fails the job when ``strict``; otherwise the row emits
    ``on_error(exc)`` — by default nothing, or with ``per_doc=True`` one
    row of NULL outputs with ``ok`` false.
    """
    from pyspark.sql.types import _parse_datatype_string  # noqa: PLC0415

    names = [f.name for f in _parse_datatype_string(fields).fields]

    def filled(ok: bool) -> list[tuple]:
        row = tuple(ok if n == "ok" else None for n in names)
        return [row] if per_doc else []

    on_null = filled(True)
    if on_error is None:
        failed = filled(False)

        def on_error(_exc):
            return failed

    def kernel(*arrays):
        rows, out = [], []
        for i, values in enumerate(zip(*(a.to_pylist() for a in arrays))):
            if any(v is None for v in values):
                got = on_null
            else:
                try:
                    got = fn(*values)
                except errors as e:
                    if strict:
                        raise
                    got = on_error(e)
            rows.extend([i] * len(got))
            out.extend(got)
        if not out:
            return None
        return rows, [list(c) for c in zip(*out)]

    return run_kernel(df, kernel, inputs, fields, keys, exchange=False)

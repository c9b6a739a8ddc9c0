"""Distributed BPE merge learning over token sequences.

Byte-pair-encoding vocabulary learning (Sennrich et al. 2016, public
algorithm) is the canonical *iterative* corpus computation of a training
pipeline: each round counts all adjacent token pairs, picks the most
frequent (deterministic tie-break: count desc, then pair lexicographic),
replaces its greedy leftmost non-overlapping occurrences with a fresh id,
and repeats.  Each round is therefore one aggregation + one per-row
rewrite over the corpus — the inherent cost of exact BPE at any scale.

Scale shape per round:

- **count**: ``explode(adjacent pairs) -> groupBy(a, b).count`` — one
  map-side-combined shuffle whose output is pair-vocabulary-sized;
- **argmax**: a 1-row ``orderBy(...).limit(1)`` collect — a bounded
  planning read, same class as the connected-components convergence count;
- **apply**: a pure per-row rewrite — zero shuffle — as an Arrow kernel
  that edits the flat ``ListArray`` buffers with numpy (vectorized, no
  per-row Python);
- the corpus is ``localCheckpoint``-ed every round so round ``r`` does not
  re-execute rounds ``0..r-1`` (the connected-components lineage lesson).

Greedy-overlap semantics (what "apply one merge" means, and what the
kernel, the fold expression, the pure-Python test reference, and the SQL
oracle all implement):
scan left to right, merge ``(a, b)`` at position ``i`` only if position
``i`` was not itself consumed by the previous merge.  Overlapping matches
require ``a == b`` (a match at ``i`` and ``i+1`` forces ``t[i+1] = b = a``),
so the rule reduces to: within every run of consecutive match positions,
keep the 1st, 3rd, 5th, ... — a parity filter that is vectorizable and
expressible in SQL window functions, which is how :func:`bpe_learn_sql`
builds a hard DuckDB oracle for the whole iterative computation (unrolled
round CTEs; the argmax is a 1-row CTE per round).

fs2-data analogue: the self-referential transformation pipelines of the
ESP interpreter (``finite-state/shared/src/main/scala/fs2/data/esp/
ESP.scala:89-167``) — state threaded through a stream rewrite; here the
state is the merge table and the stream is the corpus, re-expressed as
Spark rounds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_PAIR_T = "array<struct<a:int,b:int>>"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def pair_counts(df: DataFrame, tokens: str = "tokens") -> DataFrame:
    """Corpus counts of *all* adjacent token pairs ``(a, b, cnt)`` —
    overlapping occurrences included (``[7,7,7]`` counts ``(7,7)`` twice),
    the statistic BPE ranks merges by.  One map-side-combined shuffle."""
    t = _c(tokens)
    pairs = F.when(
        F.size(t) >= 2,
        F.zip_with(F.slice(t, 1, F.size(t) - 1),
                   F.slice(t, 2, F.size(t) - 1),
                   lambda x, y: F.struct(x.alias("a"), y.alias("b"))),
    ).otherwise(F.array().cast(_PAIR_T))
    return (df.select(F.explode(pairs).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def _merge_flat(vals, offs, a: int, b: int, z: int):
    """Apply one greedy merge to the flat ListArray layout.

    ``vals``: concatenated int token values; ``offs``: int64 offsets
    (len = rows + 1).  Returns ``(new_vals, new_lens)``.  Pure numpy,
    shared by the Arrow kernel and unit tests.
    """
    import numpy as np  # noqa: PLC0415

    n = len(vals)
    lens = offs[1:] - offs[:-1]
    if n < 2:
        return vals.copy(), lens
    m = (vals[:-1] == a) & (vals[1:] == b)
    # a pair must not straddle a row boundary: position i+1 being some
    # row's first element invalidates the match at i
    is_start = np.zeros(n, dtype=bool)
    # an empty trailing row's start offset equals len(vals) — no position
    # to mark (and indexing it would be out of bounds)
    inner = offs[1:-1]
    is_start[inner[inner < n]] = True
    m &= ~is_start[1:]
    mi = np.flatnonzero(m)
    if a == b and len(mi) > 1:
        # greedy within runs of consecutive match positions: keep parity-0
        run_b = np.concatenate(([0], np.flatnonzero(np.diff(mi) != 1) + 1))
        counts = np.diff(np.concatenate((run_b, [len(mi)])))
        run_start = np.repeat(mi[run_b], counts)
        mi = mi[(mi - run_start) % 2 == 0]
    if not len(mi):
        return vals.copy(), lens
    out = vals.copy()
    out[mi] = z
    drop = np.zeros(n, dtype=bool)
    drop[mi + 1] = True
    rows = np.searchsorted(offs, mi, side="right") - 1
    removed = np.bincount(rows, minlength=len(lens))
    return out[~drop], lens - removed


def apply_merges_arrow(
    df: DataFrame,
    merges: list[tuple[int, int, int]],
    tokens: str = "tokens",
) -> DataFrame:
    """Arrow kernel tier: apply a sequence of learned merges
    ``[(a, b, new_id), ...]`` in order to every row — the tokenizer
    "encode against a learned merge table" step, and (with one merge) the
    per-round rewrite of :func:`bpe_learn`.  One ``mapInArrow`` pass, all
    merges applied per batch on the flat buffers — no per-row Python, no
    shuffle."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    from fs2_data_spark.functions.arrow_kernel import run_kernel

    def fn(tok):
        offs = tok.offsets.to_numpy().astype(np.int64)
        vals = tok.values.to_numpy(zero_copy_only=False).astype(np.int64)
        # the values buffer may extend past this batch's window (slices
        # share buffers); re-root on the window
        vals = vals[offs[0]:offs[-1]]
        offs = offs - offs[0]
        for a, b, z in merges:
            vals, lens = _merge_flat(vals, offs, a, b, z)
            offs = np.concatenate(([0], np.cumsum(lens)))
        return [pa.ListArray.from_arrays(pa.array(offs, type=pa.int32()),
                                         pa.array(vals, type=pa.int32()))]

    out = run_kernel(
        df, fn, [tokens],
        f"`{tokens}` {df.schema[tokens].dataType.simpleString()}",
        keys=[c for c in df.columns if c != tokens], exchange=False)
    return out.select(*df.columns)


def bpe_learn(
    df: DataFrame,
    tokens: str = "tokens",
    n_merges: int = 8,
    new_id_base: int | None = None,
) -> tuple[list[tuple[int, int, int, int, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges over the corpus.

    Returns ``(merge_table, final_corpus)`` where ``merge_table`` rows are
    ``(round, a, b, new_id, cnt)``.  ``new_id_base`` defaults to
    ``max token + 1`` (one bounded planning read); round ``r`` mints
    ``new_id_base + r``.  Each round: count pairs, collect the 1-row
    argmax (count desc, pair lexicographic — deterministic), rewrite with
    :func:`apply_merges_arrow`, ``localCheckpoint`` to cut lineage.  Stops
    early when no pair is left."""
    if new_id_base is None:
        mx = df.agg(F.max(F.array_max(_c(tokens)))).collect()[0][0]
        new_id_base = (mx if mx is not None else 0) + 1
    work = df
    table: list[tuple[int, int, int, int, int]] = []
    for r in range(n_merges):
        best = (pair_counts(work, tokens)
                .orderBy(F.desc("cnt"), "a", "b").limit(1).collect())
        if not best:
            break
        a, b, cnt = int(best[0].a), int(best[0].b), int(best[0].cnt)
        z = new_id_base + r
        table.append((r, a, b, z, cnt))
        work = apply_merges_arrow(work, [(a, b, z)], tokens).localCheckpoint()
    return table, work


def bpe_learn_sql(
    table_expr: str,
    tokens_expr: str,
    n_merges: int,
    id_col: str = "doc_id",
    select: str = "merges",
) -> str:
    """Hard DuckDB oracle for the FULL iterative learning loop: one CTE
    block per unrolled round — pair counts, 1-row argmax, match positions,
    the greedy parity filter as window functions, and a list-rebuild —
    emitting the same ``(round, a, b, new_id, cnt)`` merge table
    :func:`bpe_learn` returns (``select="merges"``), or the final
    retokenized corpus after all rounds (``select="corpus"``: one row per
    document with the comma-joined token string and its length).  The
    parity filter is applied unconditionally: for ``a != b`` consecutive
    match positions cannot occur, so every run is a singleton and the
    filter keeps everything."""
    ctes = [
        f"t0 AS (SELECT {id_col}, {tokens_expr} AS t FROM {table_expr})",
        "mx AS (SELECT MAX(list_max(t)) + 1 AS base FROM t0)",
    ]
    outs = []
    for r in range(n_merges):
        ctes += [
            f"""p{r} AS (
  SELECT s.t[u.i] AS a, s.t[u.i + 1] AS b, COUNT(*) AS cnt
  FROM t{r} s, unnest(range(1, len(s.t))) AS u(i)
  GROUP BY 1, 2)""",
            f"best{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1)",
            f"""m{r} AS (
  SELECT s.{id_col} AS rid, u.i
  FROM t{r} s, best{r} x, unnest(range(1, len(s.t))) AS u(i)
  WHERE s.t[u.i] = x.a AND s.t[u.i + 1] = x.b)""",
            f"""g{r} AS (
  SELECT rid, i, i - ROW_NUMBER() OVER (PARTITION BY rid ORDER BY i) AS grp
  FROM m{r})""",
            f"""k{r} AS (
  SELECT rid, i FROM (
    SELECT rid, i,
           ROW_NUMBER() OVER (PARTITION BY rid, grp ORDER BY i) AS rn
    FROM g{r})
  WHERE rn % 2 = 1)""",
            f"kl{r} AS (SELECT rid, list(i ORDER BY i) AS ks FROM k{r} GROUP BY rid)",
            f"""t{r + 1} AS (
  SELECT s.{id_col},
         list_transform(
           list_filter(range(1, len(s.t) + 1),
                       i -> NOT list_contains(coalesce(kk.ks, []), i - 1)),
           i -> CASE WHEN list_contains(coalesce(kk.ks, []), i)
                     THEN mx.base + {r} ELSE s.t[i] END) AS t
  FROM t{r} s
  LEFT JOIN kl{r} kk ON kk.rid = s.{id_col}
  CROSS JOIN mx)""",
        ]
        outs.append(
            f"SELECT {r} AS round, x.a, x.b, mx.base + {r} AS new_id, x.cnt\n"
            f"FROM best{r} x CROSS JOIN mx")
    if select == "corpus":
        # COALESCE: DuckDB array_to_string([]) is NULL (string_agg of zero
        # rows), Spark array_join([]) is '' — empty documents must agree
        final = (f"SELECT {id_col}, "
                 f"COALESCE(array_to_string(t, ','), '') AS tokens_str,\n"
                 f"       CAST(len(t) AS INTEGER) AS n_tok FROM t{n_merges}")
        return "WITH " + ",\n".join(ctes) + "\n" + final
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(outs)

"""Arrow/numpy kernels for the embedding-vector operators.

Why this tier exists (guide §4.2): Catalyst higher-order functions
(``zip_with`` + ``aggregate``) are CodegenFallback — every lambda step is an
interpreted expression eval, measured ~6 us per 64-dim dot product.  The
brute-force cosine baseline at sf1 (400 queries x 20k corpus = 8M pairs) spends
49 s in those folds.  A ``mapInArrow`` kernel hands whole record batches to
numpy and does the same arithmetic vectorized.

BIT-EXACTNESS CONTRACT (the reason these kernels may replace the Catalyst
expressions under the frozen oracles): every kernel replicates the *exact*
IEEE-754 operation sequence of the Catalyst expression it replaces:

- ``_dot``/``_norm`` folds are left-to-right: products are individually
  rounded doubles, then summed in ascending dimension order.  The numpy loop
  ``acc += X[:, j] * Q[j]`` performs the identical rounded multiply followed by
  the identical rounded add, elementwise — same doubles, bit for bit.
- float32 -> float64 widening is exact on both engines.
- ``Math.sqrt`` and ``np.sqrt`` are both IEEE correctly-rounded.
- Where a *selection* depends on Spark's ``round(double, dp)`` (shortest-repr
  HALF_UP via ``BigDecimal.valueOf``), the kernel only *prunes* with a
  conservative raw-score band (no rounding), then trims the tiny candidate set
  with :func:`spark_round` — ``Decimal(repr(x))`` is the same shortest-repr
  decimal ``Double.toString`` produces, quantized HALF_UP — so the kept set is
  provably a superset-then-exact-match of what the Catalyst plan keeps.  The
  *output* score column is still produced by JVM ``F.round`` on the raw double.

Runner, ids and NULLs: every kernel runs through
``functions/arrow_kernel.run_kernel``, so ids of any type (bigint, string,
UUID string) pass through uncast; the kernels that compare ids (self-pair
exclusion, the ``j < i`` fence, the id tie-break of the top-k trim) compare
the values themselves — Python ``str`` order is code-point order, which is
Spark's UTF-8 byte order — and raise on a NULL id.  A NULL vector reads as
the zero vector (norm 0, so every cosine against it is the 0.0 the
Catalyst ``_cos`` CASE yields); a non-NULL vector of the wrong length
raises ``ValueError`` (the Catalyst ``zip_with`` padding is not replicated).

Driver discipline: the only driver-side reads are the small sides — the
query set of the brute-force top-k, the ``n_cells`` IVF centroids, the one
MMR anchor row.  Each helper takes rows, not DataFrames, so callers keep
those reads explicit.  The query side is tiled in blocks of
``_Q_BLOCK`` queries, so a batch never holds more than (batch x
``_Q_BLOCK``) pair scores whatever the query count; tiling splits only the
query axis, so every cosine keeps its fold order and every per-query top-k
is unchanged.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa

from fs2_data_spark.functions.arrow_kernel import id_values, run_kernel

__all__ = [
    "spark_round",
    "fold_norm",
    "fold_dot_mat",
    "list_to_mat",
    "mat_to_list_array",
    "cosine_topk_candidates",
    "hyperplane_weights",
    "lsh_augment_kernel",
    "ivf_assign_kernel",
    "cell_pair_candidates",
]

_QUANT = {dp: Decimal(1).scaleb(-dp) for dp in range(0, 13)}


def spark_round(x: float, dp: int) -> float:
    """Replicate Spark's ``round(double, dp)``: shortest decimal repr
    (``BigDecimal.valueOf`` == ``repr`` in CPython) then HALF_UP at ``dp``.

    Used ONLY for candidate *selection* on small banded sets — output values
    always come from JVM ``F.round`` so a replication bug cannot change a
    value, only (detectably, oracle-checked) a kept row.
    """
    if x != x or x in (float("inf"), float("-inf")):
        return x
    return float(Decimal(repr(x)).quantize(_QUANT[dp], rounding=ROUND_HALF_UP))


def spark_round_vec(x: np.ndarray, dp: int) -> np.ndarray:
    """Vectorized :func:`spark_round`: scaled-double half-away arithmetic
    for the bulk, with an exact ``Decimal(repr)`` pass only for values whose
    scaled fraction sits within 1e-7 of a half — the shortest-repr-vs-true
    deviation is ~1e-12 at these magnitudes, so outside the band the two
    semantics provably agree."""
    m = 10.0 ** dp
    av = np.abs(x) * m
    f = np.floor(av)
    frac = av - f
    r = np.where(frac >= 0.5, f + 1.0, f)
    out = np.where(x < 0, -r, r) / m
    near = np.abs(frac - 0.5) < 1e-7
    if near.any():
        idx = np.nonzero(near)[0]
        for i in idx:
            out[i] = spark_round(float(x[i]), dp)
    return out


def fold_norm(m: np.ndarray) -> np.ndarray:
    """sqrt(aggregate(transform(v, x -> x*x), 0.0, (a,x) -> a+x)) — exact
    fold-order replica, vectorized across rows.  ``m``: (n, d) float64."""
    acc = np.zeros(m.shape[0], dtype=np.float64)
    for j in range(m.shape[1]):
        acc += m[:, j] * m[:, j]
    return np.sqrt(acc)


def fold_dot_mat(x: np.ndarray, q: np.ndarray) -> np.ndarray:
    """aggregate(zip_with(a, b, (p,r) -> p*r), 0.0, (a,t) -> a+t) for every
    (row of x) x (row of q) pair — exact fold-order replica.

    Returns (len(x), len(q)) float64.  The j-loop multiplies then adds each
    dimension's product in ascending order, exactly like the Catalyst fold;
    elementwise IEEE ops make every pair's accumulation bit-identical to the
    scalar sequence.  (No BLAS: ``np.dot`` would reassociate the sum.)
    """
    nb, d = x.shape
    nq = q.shape[0]
    acc = np.zeros((nb, nq), dtype=np.float64)
    tmp = np.empty((nb, nq), dtype=np.float64)
    for j in range(d):
        np.multiply(x[:, j, None], q[None, :, j], out=tmp)
        acc += tmp
    return acc


def list_to_mat(col: pa.Array, dim: int | None = None) -> np.ndarray:
    """Fixed-width list<float|double> column -> (n, dim) float64 matrix
    (float32 -> float64 widening is exact).  ``dim=None`` takes the longest
    row's length, so the rows must agree among themselves.

    NULL or empty rows become zero vectors — their fold-norm is then 0, so
    downstream ``_cos`` replicas yield the same 0.0 the Catalyst expression
    yields for them (zero/absent magnitude => no direction).  A non-null row
    with 0 < len != dim is ragged and raises ``ValueError("ragged vector
    ...")``: ``zip_with`` would pad it with NULLs and give a NULL cosine,
    and silence would be worse than a loud failure.
    """
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    n = len(col)
    sizes = np.diff(col.offsets.to_numpy())
    if col.null_count:
        valid = np.asarray(col.is_valid())
        sizes = np.where(valid, sizes, 0)
    if dim is None:
        dim = int(sizes.max(initial=0))
    bad = (sizes != 0) & (sizes != dim)
    if bad.any():
        raise ValueError(f"ragged vector rows (len not in {{0, {dim}}}): "
                         f"{np.unique(sizes[bad])}")
    flat = np.asarray(col.flatten(), dtype=np.float64)
    if (sizes == dim).all():
        return flat.reshape(n, dim)
    out = np.zeros((n, dim), dtype=np.float64)
    full = sizes == dim
    out[full] = flat.reshape(-1, dim)
    return out


def mat_to_list_array(m: np.ndarray) -> pa.ListArray:
    """(n, d) float64 -> arrow list<double> (one contiguous values buffer)."""
    n, d = m.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(m.reshape(-1)))


# ---------------------------------------------------------------------------
# brute-force cosine top-k
# ---------------------------------------------------------------------------

def _trim_topk(scores: np.ndarray, ids: np.ndarray, k: int, dp: int | None
               ) -> np.ndarray:
    """Indices of the exact per-batch top-k by (round(score, dp) DESC, id ASC)
    from a pre-banded candidate set.  ``scores`` raw doubles; ``ids`` from
    :func:`id_values` (int64 or Python objects — both order like Spark)."""
    if len(scores) <= k:
        order = np.lexsort((ids, -scores))
        return order
    if dp is None:
        keyed = sorted(range(len(scores)), key=lambda i: (-scores[i], ids[i]))
    else:
        r = [spark_round(s, dp) for s in scores.tolist()]
        keyed = sorted(range(len(scores)), key=lambda i: (-r[i], ids[i]))
    return np.asarray(keyed[:k], dtype=np.int64)


def _id_ddl(q_ids: pa.Array) -> str:
    from pyspark.sql.pandas.types import from_arrow_type  # noqa: PLC0415
    return from_arrow_type(q_ids.type).simpleString()


# queries per tile of the pair arithmetic: a batch of up to 10k corpus rows
# then holds ~80 MB per (batch x tile) float64 array, whatever the query count
_Q_BLOCK = 1024


def _emit(parts, q_ids: pa.Array):
    """Concatenate per-query ``(corpus rows, query index, score)`` parts
    into the runner's ``(rows, [q ids, scores])`` form (None when empty)."""
    if not parts:
        return None
    rows, qi, score = (np.concatenate(p) for p in zip(*parts))
    return rows, [q_ids.take(qi), score]


def cosine_topk_candidates(
    corpus,
    q_ids: pa.Array,
    q_mat: np.ndarray,
    id_col: str,
    vec_col: str,
    k: int,
    round_dp: int | None,
    dim: int,
):
    """Per-batch exact top-k cosine candidates of ``corpus`` rows against the
    query matrix ``q_mat`` (n_queries x ``dim``; ``q_ids`` is the collected
    Arrow id column).  Emits ``(n_vec_id, q_vec_id, cos_raw)`` where
    ``cos_raw`` is bit-identical to the Catalyst ``_cos(_dot(qv, cv), qn,
    cn)`` double and both ids keep their types.  Guarantee: the union of
    emitted rows over all batches contains the global top-k per query under
    (``round(cos_raw, round_dp)`` DESC, n_vec_id ASC) — each batch emits its
    *own* exact top-k under that comparator, and any global winner must be a
    batch winner.  Corpus vectors must be ``dim`` long; ``dim = 0`` (every
    query vector NULL or empty) makes every query the zero vector at the
    corpus's width, so every cosine is 0.0.
    """
    import pyspark.sql.functions as F  # noqa: PLC0415 (kernel module stays importable without spark)

    q_key = id_values(q_ids)
    q_mat = np.ascontiguousarray(q_mat, dtype=np.float64)
    qn = fold_norm(q_mat)
    nq = len(q_key)
    # conservative raw-score band half-width: one rounding quantum + slack
    band = (1.5 * 10.0 ** (-round_dp)) if round_dp is not None else 0.0

    def fn(id_arr, vec):
        ids = id_values(id_arr)
        x = list_to_mat(vec, dim or None)
        q_all = q_mat if dim else np.zeros((nq, x.shape[1]))
        cn = fold_norm(x)
        nb = len(ids)
        kk = min(k, nb)
        parts = []
        for lo in range(0, nq, _Q_BLOCK):
            qs = slice(lo, lo + _Q_BLOCK)
            dot = fold_dot_mat(x, q_all[qs])                 # (nb, block)
            denom = cn[:, None] * qn[None, qs]               # an*bn (commut.)
            valid = (qn[None, qs] > 0) & (cn[:, None] > 0)
            scores = np.where(valid, np.divide(dot, denom,
                                               out=np.zeros_like(dot),
                                               where=denom != 0), 0.0)
            # self-pair exclusion: sentinel below any real cosine
            self_mask = ids[:, None] == q_key[None, qs]
            scores[self_mask] = -np.inf
            cut = np.partition(scores, nb - kk, axis=0)[nb - kk]  # kth largest
            keep = scores >= np.maximum(cut - band, -1.0)
            keep &= ~self_mask
            rows, cols = np.nonzero(keep.T)  # rows=query idx, cols=corpus idx
            for qi in range(scores.shape[1]):
                sel = cols[rows == qi]
                if len(sel) == 0:
                    continue
                s = scores[sel, qi]
                top = _trim_topk(s, ids[sel], k, round_dp)
                parts.append((sel[top], np.full(len(top), lo + qi), s[top]))
        return _emit(parts, q_ids)

    # the source is typically one small parquet split; the runner spreads it
    # so the kernel runs on every core (round-robin exchange of ids+vectors)
    return run_kernel(corpus, fn, ["n_vec_id", vec_col],
                      f"q_vec_id {_id_ddl(q_ids)}, cos_raw double",
                      keys=[F.col(id_col).alias("n_vec_id")])


# ---------------------------------------------------------------------------
# integer squared-L2 top-k (quantized ANN)
# ---------------------------------------------------------------------------

def l2_int_topk_candidates(
    coded,
    q_ids: pa.Array,
    q_codes: np.ndarray,
    id_col: str,
    code_col: str,
    k: int,
    dim: int,
):
    """Per-batch exact top-k by (int64 squared-L2 ASC, id ASC) of ``coded``
    rows against the query code matrix.  All-integer arithmetic:
    no rounding or fold-order discipline needed at all — any association
    order yields the identical distances, so per-batch exact top-k is
    trivially a superset-free candidate set (each batch emits exactly its
    own top-k under the global comparator).  Emits
    ``(n_vec_id, q_vec_id, dist_sq)``, ids in their own types.  A row with
    NULL codes (a NULL vector) raises ``ValueError("NULL vector ...")``."""
    import pyspark.sql.functions as F  # noqa: PLC0415

    q_key = id_values(q_ids)
    q_mat = np.ascontiguousarray(q_codes, dtype=np.int64)
    nq = len(q_key)

    def fn(id_arr, code):
        nb = len(code)
        ids = id_values(id_arr)
        if code.null_count or code.flatten().null_count:
            raise ValueError("NULL vector in the quantized corpus")
        vals = np.asarray(code.flatten(), dtype=np.int64)
        if vals.size != nb * dim:
            raise ValueError("ragged code rows")
        x = vals.reshape(nb, dim)
        kk = min(k, nb)
        parts = []
        for lo in range(0, nq, _Q_BLOCK):
            qs = slice(lo, lo + _Q_BLOCK)
            q = q_mat[qs]
            dist = np.zeros((nb, len(q)), dtype=np.int64)
            for j in range(dim):
                d = x[:, j, None] - q[None, :, j]
                dist += d * d
            self_mask = ids[:, None] == q_key[None, qs]
            dist[self_mask] = np.iinfo(np.int64).max
            cut = np.partition(dist, kk - 1, axis=0)[kk - 1]
            for qi in range(dist.shape[1]):
                sel = np.nonzero((dist[:, qi] <= cut[qi])
                                 & ~self_mask[:, qi])[0]
                if len(sel) == 0:
                    continue
                dd = dist[sel, qi]
                top = np.lexsort((ids[sel], dd))[:k]
                parts.append((sel[top], np.full(len(top), lo + qi), dd[top]))
        return _emit(parts, q_ids)

    return run_kernel(coded, fn, ["n_vec_id", code_col],
                      f"q_vec_id {_id_ddl(q_ids)}, dist_sq long",
                      keys=[F.col(id_col).alias("n_vec_id")])


# ---------------------------------------------------------------------------
# hyperplane LSH signatures
# ---------------------------------------------------------------------------

def hyperplane_weights(n_planes: int, dim: int, seed: int) -> np.ndarray:
    """(n_planes, dim) float64 weight matrix — exact replica of the
    DuckDB mirror ``queries._hyperplane_sig_sql``'s per-element arithmetic:
    ``((j*2654435761 + p*40503 + seed) mod 1000003)/1000003.0 - 0.5``."""
    j = np.arange(dim, dtype=np.int64)
    w = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        m = (j * 2_654_435_761 + p * 40_503 + seed) % 1_000_003
        w[p] = m.astype(np.float64) / 1_000_003.0 - 0.5
    return w


def lsh_augment_kernel(
    df,
    id_col: str,
    vec_col: str,
    n_planes: int,
    dim: int,
    seed: int,
):
    """Kernel producing ``(vec_id, v array<double>, nrm, sig)`` —
    bit-identical to ``queries._hyperplane_sig_sql`` + the L2 norm over
    the double-cast vector: the signature's per-plane projection is the
    same left-to-right fold of ``x * w(p, j)`` and the sign test is the
    same ``proj > 0``."""
    import pyspark.sql.functions as F  # noqa: PLC0415

    w = hyperplane_weights(n_planes, dim, seed)
    bits = np.array([1 << p for p in range(n_planes)], dtype=np.int64)

    def fn(vec):
        x = list_to_mat(vec, dim)
        proj = fold_dot_mat(x, w)               # (n, n_planes), exact fold
        return [mat_to_list_array(x), fold_norm(x),
                ((proj > 0) * bits[None, :]).sum(axis=1)]

    return run_kernel(df, fn, [vec_col],
                      "v array<double>, nrm double, sig long",
                      keys=[F.col(id_col).alias("vec_id")])


# ---------------------------------------------------------------------------
# IVF cell assignment
# ---------------------------------------------------------------------------

def ivf_assign_kernel(
    df,
    cent_rows: list[tuple[int, list[float]]],
    id_col: str = "id",
    vec_col: str = "v",
    dim: int = 64,
    canonical: bool = False,
):
    """Kernel replica of ``ivf_index``'s ``assign``: squared-distance fold
    ``zip_with(v, cv, (a,b) -> (a-b)*(a-b))`` summed left-to-right per
    centroid, argmin by (``round(d, 6)`` when canonical else raw ``d``) ASC,
    cell ASC.  Emits ``(id, v array<double>, cell)``.

    ``cent_rows``: collected ``(cell, cv)`` rows — ``n_cells`` of them, the
    same bounded driver read the legacy broadcast already did.
    """
    import pyspark.sql.functions as F  # noqa: PLC0415

    cells = np.asarray([c for c, _ in cent_rows], dtype=np.int64)
    cmat = np.asarray([list(v) for _, v in cent_rows], dtype=np.float64)
    order = np.argsort(cells, kind="stable")
    cells, cmat = cells[order], cmat[order]
    ncell = len(cells)

    def fn(vec):
        nb = len(vec)
        x = list_to_mat(vec, dim)
        dist = np.zeros((nb, ncell), dtype=np.float64)
        for j in range(dim):
            dj = x[:, j, None] - cmat[None, :, j]
            dist += dj * dj
        if not canonical:
            best = np.argmin(dist, axis=1)  # ties -> lowest index == lowest cell
        else:
            # argmin on ROUNDED distance: band-prune on raw, exact-trim
            cut = dist.min(axis=1)
            best = np.empty(nb, dtype=np.int64)
            for i in range(nb):
                cand = np.nonzero(dist[i] <= cut[i] + 1.002e-6)[0]
                if len(cand) == 1:
                    best[i] = cand[0]
                else:
                    rr = [(spark_round(dist[i, c], 6), cells[c], c)
                          for c in cand]
                    best[i] = min(rr)[2]
        return [mat_to_list_array(x), cells[best]]

    return run_kernel(df, fn, [vec_col], "v array<double>, cell int",
                      keys=[F.col(id_col).alias("id")])


# ---------------------------------------------------------------------------
# MMR: cosine-vs-one-vector passes
# ---------------------------------------------------------------------------

def _cos_vs(x: np.ndarray, nrm: np.ndarray, qv: np.ndarray, qn: float
            ) -> np.ndarray:
    """_cos(_dot(row, qv), nrm_row, qn) — fold-order exact, both operand
    orders as the caller's Catalyst expression has them (multiplication and
    the fold order make dot symmetric bit-for-bit)."""
    dot = np.zeros(len(x), dtype=np.float64)
    for j in range(x.shape[1]):
        dot += x[:, j] * qv[j]
    denom = nrm * qn
    valid = (nrm > 0) & (qn > 0)
    return np.where(valid, np.divide(dot, denom, out=np.zeros_like(dot),
                                     where=denom != 0), 0.0)


def mmr_rel_kernel(df, id_col: str, vec_col: str, qv: list, dim: int):
    """Kernel emitting ``(vec_id, v array<double>, nrm, rel_raw)`` —
    the relevance pass of ``mmr_select`` (cosine of every pool row against
    the query anchor), bit-identical folds.  ``dim = 0`` (a NULL or empty
    anchor) is the zero vector at the pool's width: every ``rel_raw`` is
    0.0."""
    import pyspark.sql.functions as F  # noqa: PLC0415

    q = np.asarray(qv, dtype=np.float64)
    qn = float(fold_norm(q[None, :])[0])

    def fn(vec):
        x = list_to_mat(vec, dim or None)
        nrm = fold_norm(x)
        qx = q if dim else np.zeros(x.shape[1])
        return [mat_to_list_array(x), nrm, _cos_vs(x, nrm, qx, qn)]

    return run_kernel(df, fn, [vec_col],
                      "v array<double>, nrm double, rel_raw double",
                      keys=[F.col(id_col).alias("vec_id")])


def mmr_ms_update_kernel(cand, sv: list, sn: float, round_dp: int,
                         dim: int):
    """One MMR step's running-max-similarity update:
    ``_ms' = max(_ms, spark_round(cos(v, sv), round_dp))`` over the
    candidate pool ``(vec_id, v, nrm, rel, _ms)`` — the
    greatest-of-already-rounded contract of ``mmr_select``, with
    :func:`spark_round_vec` supplying the exact JVM rounding for the
    selection-critical values."""
    s = np.asarray(sv, dtype=np.float64)
    sn = float(sn)

    def fn(vec, nrm, ms):
        cos = _cos_vs(list_to_mat(vec, dim), np.asarray(nrm, np.float64),
                      s, sn)
        return [np.maximum(np.asarray(ms, np.float64),
                           spark_round_vec(cos, round_dp))]

    return run_kernel(cand, fn, ["v", "nrm", "_ms"], "_ms double",
                      keys=["vec_id", "v", "nrm", "rel"], exchange=False)


# ---------------------------------------------------------------------------
# same-cell pair candidates (SemDeDup)
# ---------------------------------------------------------------------------

def _unpack_tile(col: pa.Array, row: int
                 ) -> tuple[pa.Array, np.ndarray, np.ndarray]:
    """One list<struct<id, v>> cell -> (Arrow ids, id_values, float64
    matrix).  NULL vectors read as zero vectors; ragged ones raise."""
    structs = col[row].values           # StructArray slice, zero-copy
    ids = structs.field("id")
    return ids, id_values(ids), list_to_mat(structs.field("v"))


def cell_pair_candidates(
    assigned,
    threshold: float,
    round_dp: int | None,
    id_col: str = "id",
    vec_col: str = "v",
    cell_col: str = "cell",
    block: int = 1024,
):
    """Same-cell (j < i) cosine pairs with
    ``round(cos, round_dp) >= threshold`` — the SemDeDup / near-dup pair
    stage, **block-tiled**: each cell's rows are packed into id-ordered
    blocks of ``block`` rows, and every (block_a <= block_b) tile is one
    kernel work item, so a skewed mega-cell fans out over
    ``(|cell|/block)^2 / 2`` parallel tasks instead of serializing through
    one (measured: one 4-plane bucket held most of sf1's 20k vectors — a
    single 29-GFLOP straggler before tiling).  The |cell|^2 fencing and the
    arithmetic are unchanged: same fold-order cosines, so identical values.
    Emits ``(i, j, cos_raw)`` with ids in their own type (the ``j < i``
    fence compares the id values, Spark's order); caller rounds in JVM and
    re-applies the exact ``>= threshold`` filter.

    Candidate guarantee: emits every pair whose raw cosine can round to
    >= threshold (band ``threshold - 1.5 quanta``) — a superset of the
    legacy ``F.round(cos, dp) >= threshold`` filter.
    """
    import pyspark.sql.functions as F  # noqa: PLC0415
    from pyspark.sql import Window  # noqa: PLC0415

    band = threshold - (1.5 * 10.0 ** (-round_dp) if round_dp is not None
                        else 0.0)

    def fn(ra, rb):
        oi, oj, oc = [], [], []
        for r in range(len(ra)):
            arr_a, ids_a, xa = _unpack_tile(ra, r)
            arr_b, ids_b, xb = _unpack_tile(rb, r)
            same = (len(ids_a) == len(ids_b)
                    and ids_a[0] == ids_b[0]) if len(ids_a) else True
            na, nb = fold_norm(xa), fold_norm(xb)
            # i rides the b side (larger ids), j the a side
            dot = fold_dot_mat(xb, xa)                  # (nb_rows, na)
            denom = nb[:, None] * na[None, :]
            valid = (nb[:, None] > 0) & (na[None, :] > 0)
            cos = np.where(valid,
                           np.divide(dot, denom,
                                     out=np.zeros_like(dot),
                                     where=denom != 0), 0.0)
            keep = cos >= band
            if same:
                keep &= ids_b[:, None] > ids_a[None, :]
            iu, ju = np.nonzero(keep)
            oi.append(arr_b.take(iu))
            oj.append(arr_a.take(ju))
            oc.append(cos[iu, ju])
        return [pa.concat_arrays(oi), pa.concat_arrays(oj),
                np.concatenate(oc)]

    d = assigned.select(F.col(cell_col).alias("_c"),
                        F.col(id_col).alias("id"),
                        F.col(vec_col).alias("v"))
    d = d.withColumn("_blk", ((F.row_number().over(
        Window.partitionBy("_c").orderBy("id")) - 1)
        / F.lit(int(block))).cast("int"))
    packed = (d.groupBy("_c", "_blk")
              .agg(F.sort_array(F.collect_list(
                  F.struct("id", "v"))).alias("rows")))
    a = packed.select(F.col("_c"), F.col("_blk").alias("_ba"),
                      F.col("rows").alias("_ra"))
    b = packed.select(F.col("_c").alias("_c2"), F.col("_blk").alias("_bb"),
                      F.col("rows").alias("_rb"))
    tiles = (a.join(b, (F.col("_c") == F.col("_c2"))
                    & (F.col("_ba") <= F.col("_bb")))
             .select("_ra", "_rb"))
    idt = assigned.schema[id_col].dataType.simpleString()
    return run_kernel(tiles, fn, ["_ra", "_rb"],
                      f"i {idt}, j {idt}, cos_raw double")

"""Data-mixing operators: deterministic stratified sampling for corpus
composition control — the "mix 30% code, 60% web, 10% books" step of a
training-data pipeline, done as a pure per-row decision so it scales to any
corpus size with zero shuffle.

Sampling is hash-Bernoulli on the row id: a row is kept iff
``hash(id, seed) / M < rate(stratum)``.  Unlike ``df.sample``, the decision
is a deterministic function of (id, seed) — reruns, retries, and different
partitionings keep exactly the same rows (reproducible ablations, stable
joins against previously sampled artifacts).

Two hash methods:

- ``xxhash64`` (default): Spark's 64-bit xxHash — full avalanche, the
  production choice.
- ``portable``: two multiplicative-mod rounds in plain bigint arithmetic,
  identical in any ANSI-SQL engine — the oracle-checkable tier (same
  pattern as the canonical IVF build).  Residues of
  ``((id*2654435761 + seed) % 1000003 * 40503 + 17) % 999983`` are
  equidistributed over sequential ids; thresholds are exact integers so the
  keep decision never touches floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

_P1, _P2 = 1_000_003, 999_983
_M1, _M2 = 2_654_435_761, 40_503


def portable_unit_hash(id_col: F.Column, seed: int = 42) -> F.Column:
    """Engine-portable integer hash of a bigint id in ``[0, 999983)``."""
    h1 = F.pmod(id_col.cast("bigint") * _M1 + seed, F.lit(_P1))
    return F.pmod(h1 * _M2 + 17, F.lit(_P2))


def portable_unit_hash_sql(id_expr: str, seed: int = 42) -> str:
    """The identical hash as an ANSI-SQL expression (for oracles)."""
    return f"((({id_expr}) * {_M1} + {seed}) % {_P1} * {_M2} + 17) % {_P2}"


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    default_rate: float = 0.0,
    method: str = "xxhash64",
) -> DataFrame:
    """Keep each row with its stratum's probability, deterministically.

    ``rates`` maps stratum value -> keep probability in [0, 1]; strata not
    listed use ``default_rate``.  Zero shuffle: the rate lookup is a small
    CASE expression (or a broadcast join if you materialize rates as a
    table) and the keep decision is per-row arithmetic — the filter pushes
    to the scan, so at 100 TB the sample never materializes the dropped
    rows anywhere.
    """
    if method == "portable":
        h = portable_unit_hash(F.col(id_col), seed)
        m = _P2
    elif method == "xxhash64":
        h = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 31))
        m = 1 << 31
    else:
        raise ValueError(f"unknown method {method!r} (portable | xxhash64)")
    thr = F.lit(None).cast("bigint")
    expr = None
    for stratum, rate in rates.items():
        cond = F.col(stratum_col) == F.lit(stratum)
        t = F.lit(int(rate * m))
        expr = F.when(cond, t) if expr is None else expr.when(cond, t)
    thr = (expr.otherwise(F.lit(int(default_rate * m)))
           if expr is not None else F.lit(int(default_rate * m)))
    return df.filter(h < thr)


def stratified_resample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    default_rate: float = 1.0,
    method: str = "portable",
    copy_col: str = "copy_no",
) -> DataFrame:
    """:func:`stratified_sample` generalized to rates ABOVE 1 — the
    "epochs per source" step of corpus mixing (e.g. books x2.5, web x0.4):
    every row is emitted ``floor(rate)`` times plus one more with
    probability ``frac(rate)``, decided by the same deterministic hash, and
    tagged with ``copy_col`` (0-based) so downstream stages can tell copies
    apart.  Still a pure per-row decision: a ``CASE`` for the copy count, a
    ``sequence`` + ``posexplode`` for the copies — zero shuffle, and
    dropped rows never materialize.
    """
    if method == "portable":
        h = portable_unit_hash(F.col(id_col), seed)
        m = _P2
    elif method == "xxhash64":
        h = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 31))
        m = 1 << 31
    else:
        raise ValueError(f"unknown method {method!r} (portable | xxhash64)")

    def case_of(value_of) -> F.Column:
        expr = None
        for stratum, rate in rates.items():
            cond = F.col(stratum_col) == F.lit(stratum)
            v = F.lit(value_of(rate))
            expr = F.when(cond, v) if expr is None else expr.when(cond, v)
        dflt = F.lit(value_of(default_rate))
        return dflt if expr is None else expr.otherwise(dflt)

    base = case_of(lambda r: int(r))                      # full copies
    extra_thr = case_of(lambda r: int((r - int(r)) * m))  # fractional copy
    n_copies = (base + (h < extra_thr).cast("int")).alias("__n")
    copies = F.when(
        n_copies > 0,
        F.sequence(F.lit(0), n_copies - 1),
    ).otherwise(F.array().cast("array<int>"))
    return df.select("*", F.explode(copies).alias(copy_col))


def resample_sql(
    rates: dict[str, float],
    stratum_expr: str = "source",
    id_expr: str = "doc_id",
    seed: int = 42,
    default_rate: float = 1.0,
) -> tuple[str, str]:
    """DuckDB mirror of :func:`stratified_resample` (portable hash):
    returns ``(n_copies_expr, lateral_unnest_sql)`` fragments."""
    h = portable_unit_hash_sql(id_expr, seed)

    def case_of(value_of) -> str:
        whens = " ".join(
            f"WHEN ({stratum_expr}) = '{s}' THEN {value_of(r)}"
            for s, r in rates.items())
        return f"CASE {whens} ELSE {value_of(default_rate)} END"

    base = case_of(lambda r: int(r))
    extra = case_of(lambda r: int((r - int(r)) * _P2))
    n = f"({base}) + (CASE WHEN ({h}) < ({extra}) THEN 1 ELSE 0 END)"
    return n, "unnest(range(0, n_copies)) AS u(c)"


def split_thresholds(
    weights: dict[str, float],
    method: str = "portable",
) -> list[tuple[str, int]]:
    """Cumulative integer thresholds for :func:`hash_split`.

    ``weights`` maps split name -> weight (normalized internally); order is
    the dict's insertion order, so ``{"train": .9, "val": .05, "test": .05}``
    assigns hash residues ``[0, .9M)`` to train, ``[.9M, .95M)`` to val and
    the rest to test. Thresholds are exact integers — the assignment never
    touches floats, so any ANSI engine reproduces it bit-for-bit.
    """
    m = _P2 if method == "portable" else 1 << 31
    total = sum(weights.values())
    out, acc = [], 0.0
    for name, w in weights.items():
        acc += w / total
        out.append((name, min(m, int(acc * m))))
    out[-1] = (out[-1][0], m)  # last split absorbs the rounding residue
    return out


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: int = 42,
    method: str = "portable",
    out_col: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — the leakage-free split step
    of a training-data pipeline.

    Adds ``out_col`` with the split name chosen by the row's hash residue
    against cumulative thresholds. Like :func:`stratified_sample`, the
    decision is a pure per-row function of ``(id, seed)``: zero shuffle
    (a CASE expression evaluated at the scan), rerun/partition/engine
    independent, and — critically for 100 TB pipelines — *stable under
    corpus growth*: adding new rows never moves an existing row across
    splits, unlike ``randomSplit`` (sample-based, partition-order-sensitive)
    or modulo-of-row-number schemes.
    """
    if method == "portable":
        h = portable_unit_hash(F.col(id_col), seed)
    elif method == "xxhash64":
        h = F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 31))
    else:
        raise ValueError(f"unknown method {method!r} (portable | xxhash64)")
    expr = None
    for name, thr in split_thresholds(weights, method):
        cond = h < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    return df.withColumn(out_col, expr)


def hash_split_sql(
    weights: dict[str, float],
    id_expr: str = "doc_id",
    seed: int = 42,
) -> str:
    """The identical split assignment as an ANSI-SQL CASE (portable hash)."""
    h = portable_unit_hash_sql(id_expr, seed)
    cases = " ".join(
        f"WHEN ({h}) < {thr} THEN '{name}'"
        for name, thr in split_thresholds(weights, "portable"))
    return f"CASE {cases} END"


def cap_per_group(
    df: DataFrame,
    cap: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    method: str = "xxhash64",
) -> DataFrame:
    """Frequency capping: keep at most ``cap`` rows per group, chosen
    deterministically as the ``cap`` smallest ``(hash(id, seed), id)``.

    The RefinedWeb/CCNet guard against a single domain or dump flooding the
    training mixture: hash-ordering makes the kept subset a uniform random
    ``cap``-sample of each group, reproducible under reruns and any
    partitioning (unlike ``ORDER BY rand()``), while the window rank makes
    the decision auditable (``cap_rank`` says how close each row was).

    Scale shape: one hash Exchange on the group key; Spark rewrites the
    ``row_number() <= cap`` filter into ``WindowGroupLimit``, so every map
    task pre-trims to ``cap`` rows per group BEFORE the shuffle — the
    exchange carries at most ``cap * n_tasks`` rows per group no matter how
    skewed the corpus, the same bound that makes top-k-per-key safe at
    100 TB.  Adds ``cap_rank`` (1-based) and ``kept``; filter on ``kept``
    to apply the cap.
    """
    from pyspark.sql import Window

    if method == "portable":
        h = portable_unit_hash(F.col(id_col), seed)
    elif method == "xxhash64":
        h = F.xxhash64(F.col(id_col), F.lit(seed))
    else:
        raise ValueError(f"unknown method {method!r} (portable | xxhash64)")
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (df.withColumn("cap_rank", F.row_number().over(w))
              .withColumn("kept", F.col("cap_rank") <= cap))


def negative_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    n_buckets: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor draws ``k`` pseudo-random negatives from its hash bucket — a
    pure function of ``(id, seed)``, reproducible across runs, engines,
    and partitionings (no RNG state, no ``rand()``).

    Scale shape: the corpus is hash-partitioned into ``n_buckets`` groups
    with :func:`portable_unit_hash`; candidates meet anchors through an
    equi-join ON THE BUCKET (sum(|bucket|^2) pairs, the SemDeDup fence —
    at 1e9 docs you size ``n_buckets`` so buckets hold ~10^3 docs and the
    join stays linear-ish), then a per-anchor window keeps the ``k``
    candidates with the smallest pair-mix hash. Anchors alone in their
    bucket get no negatives (disclosed; size buckets >> k). Returns
    ``(anchor_id, neg_id, neg_rank)`` with ``neg_rank`` in ``1..k``.
    """
    from pyspark.sql import types as T
    if isinstance(df.schema[id_col].dataType,
                  (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        # r6: the sum(|bucket|^2) pair-mix arithmetic as a grouped numpy
        # kernel (pure int64 — trivially bit-exact): one shuffle on the
        # hash bucket (same fencing as the legacy equi-join), per-anchor
        # exact top-k by (mix, neg_id) inside the kernel — the 78M-row
        # join+window materialization at sf1 (31.7 s) disappears
        import numpy as np  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        idt = df.schema[id_col].dataType

        def per_bucket(pdf: "pd.DataFrame") -> "pd.DataFrame":
            ids = np.sort(pdf["_id"].to_numpy(dtype=np.int64))
            n = len(ids)
            if n < 2:
                return pd.DataFrame({"anchor_id": pd.Series(dtype="int64"),
                                     "neg_id": pd.Series(dtype="int64"),
                                     "neg_rank": pd.Series(dtype="int32")})
            r = (ids * _M1) % _P1
            kk = min(k, n - 1)
            out_a, out_n, out_r = [], [], []
            blk = 2048                       # bounds the mix tile to ~n*16KB
            for lo in range(0, n, blk):
                hi = min(lo + blk, n)
                mix = ((r[lo:hi, None] + 1) * (r[None, :] + 1)
                       + seed) % _P1
                for i in range(lo, hi):
                    mix[i - lo, i] = _P1 + 1      # self-pair sentinel
                cut = np.partition(mix, kk - 1, axis=1)[:, kk - 1]
                for bi in range(hi - lo):
                    sel = np.nonzero(mix[bi] <= cut[bi])[0]
                    order = np.lexsort((ids[sel], mix[bi, sel]))[:k]
                    cho = sel[order]
                    out_a.append(np.full(len(cho), ids[lo + bi],
                                         dtype=np.int64))
                    out_n.append(ids[cho])
                    out_r.append(np.arange(1, len(cho) + 1,
                                           dtype=np.int32))
            return pd.DataFrame({
                "anchor_id": np.concatenate(out_a),
                "neg_id": np.concatenate(out_n),
                "neg_rank": np.concatenate(out_r)})

        src = df.select(
            F.col(id_col).cast("long").alias("_id"),
            F.pmod(portable_unit_hash(F.col(id_col), seed),
                   F.lit(n_buckets)).alias("_b"))
        out = src.groupBy("_b").applyInPandas(
            per_bucket, "anchor_id long, neg_id long, neg_rank int")
        return out.select(F.col("anchor_id").cast(idt).alias("anchor_id"),
                          F.col("neg_id").cast(idt).alias("neg_id"),
                          "neg_rank")
    h = portable_unit_hash(F.col(id_col), seed)
    b = df.select(F.col(id_col).alias("anchor_id"),
                  F.pmod(h, F.lit(n_buckets)).alias("_b"))
    c = df.select(F.col(id_col).alias("neg_id"),
                  F.pmod(h, F.lit(n_buckets)).alias("_b"))
    # pair-mix hash. Each id is reduced mod _P1 FIRST (keeps the product
    # < 2^63 under ANSI overflow checks for ids of any magnitude), then the
    # terms couple MULTIPLICATIVELY: multiplication by (ra + 1) mod the
    # prime _P1 is a distinct permutation of the candidate order per anchor.
    # An additive mix (ra*c1 + rc*c2) only ROTATES one shared circular
    # order, making anchors in a bucket draw near-identical negative sets
    # (regression-pinned by test_negative_pairs_vary_per_anchor).
    ra = F.pmod(F.col("anchor_id") * _M1, F.lit(_P1))
    rc = F.pmod(F.col("neg_id") * _M1, F.lit(_P1))
    mix = F.pmod((ra + 1) * (rc + 1) + seed, F.lit(_P1))
    pairs = (b.join(c, "_b")
             .filter(F.col("neg_id") != F.col("anchor_id"))
             .select("anchor_id", "neg_id", mix.alias("_h")))
    w = Window.partitionBy("anchor_id").orderBy("_h", "neg_id")
    return (pairs.withColumn("neg_rank", F.row_number().over(w))
            .filter(F.col("neg_rank") <= k)
            .select("anchor_id", "neg_id", "neg_rank"))


def time_folds(
    df: DataFrame,
    ts: str = "ts",
    k: int = 5,
    embargo_us: int = 3_600_000_000,
) -> DataFrame:
    """Purged chronological K-fold assignment for time-series
    cross-validation (the de Prado purged-CV discipline, folded into the
    engine's zero-temporal-leakage contract): the corpus time span is cut
    into ``k`` equal-duration folds, and each row additionally carries
    whether it sits inside the ``embargo_us`` window right AFTER its
    fold's start boundary — when fold ``f`` is the test fold, the leakage
    -free train set is ``fold != f AND NOT (fold == f+1 AND in_embargo)``
    (rows whose features could overlap the test fold's tail through
    trailing windows are purged).

    Scale shape: ONE 1-row min/max partial aggregate broadcast back
    (bounded broadcast-NL by design, as in ``quantize.corpus_dim_stats``)
    and pure per-row integer arithmetic after it — no corpus shuffle, no
    sort, no rank. Duration-equal folds (not row-equal) are the point:
    row-equal folds need a global sort/rank; duration-equal folds need
    two scalars. All boundary math is exact integer microseconds:
    ``fold = (off * k) div span``, ``fold_start_off = ceil(f*span/k)``
    via ``(f*span + k - 1) div k`` — replays bit-for-bit in any engine.

    Returns input columns + ``fold`` (0..k-1), ``fold_start_us`` (the
    fold's inclusive start, epoch microseconds), ``in_embargo``.
    """
    from fs2_data_spark.functions.timeutil import epoch_us

    eus = epoch_us(F.col(ts))
    stats = df.agg(F.min(eus).alias("_mn"), F.max(eus).alias("_mx"))
    j = (df.crossJoin(F.broadcast(stats))
         .withColumn("_off", eus - F.col("_mn"))
         .withColumn("_span", F.col("_mx") - F.col("_mn") + F.lit(1)))
    fold = F.expr(f"CAST((_off * {k}) DIV _span AS INT)")
    j = j.withColumn("fold", fold)
    start_off = F.expr(f"(fold * _span + {k} - 1) DIV {k}")
    j = (j.withColumn("fold_start_us",
                      (F.col("_mn") + start_off).cast("bigint"))
         .withColumn("in_embargo",
                     (F.col("fold") > 0)
                     & (F.col("_off") - start_off < F.lit(embargo_us))))
    return j.drop("_mn", "_mx", "_off", "_span")


def epoch_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    epoch: int = 0,
    pos_col: str = "shuffle_pos",
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic per-epoch training-order assignment: every row gets
    a dense 1-based position in a pseudo-random permutation keyed by
    ``hash(id, epoch)`` — different epochs see genuinely different
    orders, yet the permutation is a pure function of (id, epoch): a
    retried task, a resharded cluster, or a re-run of the pipeline can
    NEVER change what the model trains on (the same no-RNG discipline as
    the FIM cut points and the stratified samplers in this module).

    The rank is :func:`fs2_data_spark.operators.dedup.global_rank` — a
    range-partitioned parallel sort, not a single-partition window — so
    the permutation materializes with full parallelism at any scale; a
    consumer that only needs a shuffled ORDER (not the explicit
    position) can skip the rank and ``repartitionByRange`` +
    ``sortWithinPartitions`` on the same hash for one shuffle total.
    """
    from fs2_data_spark.operators.dedup import global_rank

    h = portable_unit_hash(F.col(id_col), seed=1000 + epoch)
    out = global_rank(df.withColumn("__eh", h), ["__eh", id_col],
                      rank_col=pos_col, num_partitions=num_partitions)
    return out.drop("__eh")


def exact_stratified_split(
    df: DataFrame,
    strata: str | Sequence[str] = "source",
    id_col: str = "doc_id",
    fractions: tuple[int, int] = (8, 1),
    denom: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test assignment with EXACT per-stratum proportions:
    rank every row inside its stratum by the portable id hash (a
    deterministic pseudo-random order), then cut at exact-integer rank
    thresholds — ``rank * denom <= n * frac`` — so an 80/10/10 split of
    1,000 rows is exactly 800/100/100, not the binomially-noisy counts a
    per-row hash threshold gives (:func:`stratified_sample`'s
    ``split_assign`` trades that exactness for zero shuffles; this
    operator is the exact-count tier, one window shuffle on the
    stratum).

    Deterministic and leakage-free by construction: membership is a pure
    function of (id multiset, stratum) — re-runs, retries and resharding
    reproduce the identical split; adding NEW rows can reassign old ones
    (exact proportions are a property of the whole stratum), which is
    the documented trade against the append-stable hash-threshold tier.
    """
    strata = [strata] if isinstance(strata, str) else list(strata)
    tr, va = fractions
    h = portable_unit_hash(F.col(id_col), seed=271)
    w = Window.partitionBy(*strata).orderBy(h, F.col(id_col))
    n = Window.partitionBy(*strata)
    out = (df.withColumn("__rk", F.row_number().over(w))
           .withColumn("__n", F.count(F.lit(1)).over(n)))
    split = (F.when(F.col("__rk") * denom <= F.col("__n") * tr, "train")
             .when(F.col("__rk") * denom <= F.col("__n") * (tr + va), "val")
             .otherwise("test"))
    return out.withColumn(out_col, split).drop("__rk", "__n")


def pps_systematic_sample(
    df: DataFrame,
    weight: str = "n_chars",
    strata: str | Sequence[str] = "source",
    id_col: str = "doc_id",
    k: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling per stratum
    (the survey-sampling classic): order the stratum by the portable id
    hash (a deterministic pseudo-random permutation), walk the
    cumulative weight, and pick every row whose weight interval crosses
    one of ``k`` evenly spaced grid lines on ``[0, W)`` — each row's
    selection probability is exactly ``min(1, k * w / W)`` and the
    selected count is exactly ``k`` whenever no single weight exceeds
    ``W / k`` (a heavier row crosses several lines but is emitted once,
    with its crossing count in ``n_hits`` — the certainty-selection
    convention, stated rather than hidden).

    Why not Efraimidis-Spirakis keys (``u^(1/w)``): the A-ES order
    statistic needs ``ln``/``pow`` whose last-ulp behavior is
    libm-specific, and a SELECTION boundary (unlike the engine's
    rounded-term SUMS) cannot tolerate ulp drift across engines.  The
    systematic walk is pure bigint arithmetic — ``(cum * k) div W``
    — exact and identical everywhere.  Range note: the product needs
    ``cum * k < 2^63`` (at 10^12 total weight that allows k up to
    ~9 * 10^6 per stratum; beyond that, lift to DECIMAL(38,0)).

    Scale shape: ONE stratum-partitioned window pass (hash order +
    running weight sum share the sort); the per-stratum total rides the
    same partition as an unordered window — zero joins, zero driver
    actions, and dropped rows never materialize past the filter.

    Rows with ``weight <= 0`` are excluded (zero-mass rows cannot be
    PPS-sampled).  Output: the sampled rows with ``cum_w`` (inclusive
    cumulative weight), ``total_w``, and ``n_hits``.
    """
    strata = [strata] if isinstance(strata, str) else list(strata)
    w_col = F.col(weight).cast("bigint")
    h = portable_unit_hash(F.col(id_col), seed)
    ww = Window.partitionBy(*strata).orderBy(h, F.col(id_col))
    wcum = ww.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy(*strata)
    d = (df.filter(w_col > 0)
         .withColumn("__w", w_col)
         .withColumn("cum_w", F.sum(F.col("__w")).over(wcum))
         .withColumn("total_w", F.sum(F.col("__w")).over(wall)))
    hits = (F.expr(f"(cum_w * {int(k)}) div total_w")
            - F.expr(f"((cum_w - __w) * {int(k)}) div total_w"))
    return (d.withColumn("n_hits", hits.cast("int"))
            .filter(F.col("n_hits") > 0)
            .drop("__w"))


def dsir_logweights(
    df: DataFrame,
    target: F.Column,
    buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how target-domain-like its hashed word distribution is,
    ``logw(d) = sum_w [ ln p_target(b(w)) - ln p_raw(b(w)) ]`` with
    add-one-smoothed bucket unigram models over a portable word hash.
    Downstream, documents are resampled with probability proportional
    to ``exp(logw)`` — the published recipe for matching a pretraining
    mix to a target domain (Wikipedia/books) at corpus scale.

    ``target`` is a boolean Column marking the rows that define the
    target distribution; the raw distribution is the whole input.

    Determinism contract: bucketing is the engine-portable
    ``((word_code % 1000003) * 2654435761 + 17) % 999983 % buckets`` —
    the multiply-mod-prime mixing step matters: ``word_code`` is built
    as ``first*65536 + last*256 + len``, so a power-of-two bucket count
    taken directly would cancel the character terms and degenerate to a
    word-LENGTH histogram (caught by test_dsir_prefers_target_like_docs);
    the pre-reduction ``% 1000003`` also keeps the product within int64
    for astral-plane codepoints under ANSI.  Both bucket count tables
    are exact integers; the
    per-bucket log-ratio is one fixed double expression; the per-doc
    sum multiplies exact counts by that ratio and accumulates in
    DECIMAL(38,28) (order-independent).  Docs with zero words have no
    feature mass and are excluded (stated contract).

    Scale notes (100 TB): two aggregations over the exploded words —
    one to the ``buckets``-row model table (tiny, broadcast back), one
    to (doc, bucket) counts (the only real shuffle, map-side combined);
    the final per-doc reduce rides the same doc-keyed exchange.  The
    model table is the entire fit artifact — no vocabulary, no driver
    state beyond ``buckets`` rows.
    """
    from fs2_data_spark.functions.text import word_code, words

    B = int(buckets)
    tok = (df.select(F.col(id_col).alias("_doc"),
                     target.alias("_tgt"),
                     F.explode(words(F.col(text_col))).alias("_wd"))
           .select("_doc", "_tgt",
                   F.pmod(F.pmod(F.pmod(word_code(F.col("_wd")),
                                        F.lit(_P1)) * _M1 + 17,
                                 F.lit(_P2)),
                          F.lit(B)).alias("_b")))
    bstats = (tok.groupBy("_b")
              .agg(F.count(F.lit(1)).alias("_cr"),
                   F.sum(F.when(F.col("_tgt"), 1).otherwise(0)
                         .cast("bigint")).alias("_ct")))
    tots = bstats.agg(F.sum("_cr").alias("_gr"), F.sum("_ct").alias("_gt"))
    lr = (bstats.crossJoin(F.broadcast(tots))
          .select("_b",
                  (F.log((F.col("_ct") + 1).cast("double")
                         / (F.col("_gt") + B).cast("double"))
                   - F.log((F.col("_cr") + 1).cast("double")
                           / (F.col("_gr") + B).cast("double")))
                  .alias("_lr")))
    per = tok.groupBy("_doc", "_b").agg(F.count(F.lit(1)).alias("_k"))
    return (per.join(F.broadcast(lr), on="_b")
            .groupBy("_doc")
            .agg(F.sum("_k").alias("n_words"),
                 F.sum((F.col("_k").cast("double") * F.col("_lr"))
                       .cast("decimal(38,28)")).cast("double")
                 .alias("logw"))
            .select(F.col("_doc").alias(id_col), "n_words", "logw"))


def dsir_oracle_sql(
    target_pred: str,
    buckets: int = 64,
    round_dp: int = 6,
) -> str:
    """DuckDB mirror of :func:`dsir_logweights` over the ``documents``
    view; ``target_pred`` is the SQL predicate defining target rows."""
    B = int(buckets)
    wc = ("CAST(ascii(substr(w, 1, 1)) AS BIGINT) * 65536 + "
          "CAST(ascii(substr(w, CAST(length(w) AS INTEGER), 1)) AS BIGINT)"
          " * 256 + CAST(length(w) AS BIGINT)")
    wc = f"((({wc}) % {_P1}) * {_M1} + 17) % {_P2}"
    return f"""
WITH t AS (SELECT doc_id AS d, ({target_pred}) AS tgt,
                  unnest(list_filter(string_split(text, ' '),
                                     x -> x <> '')) AS w
           FROM documents),
tok AS (SELECT d, tgt, ({wc}) % {B} AS b FROM t),
bs AS (SELECT b, count(*) AS cr,
              SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
       FROM tok GROUP BY b),
g AS (SELECT SUM(cr) AS gr, SUM(ct) AS gt FROM bs),
lr AS (SELECT b, ln(CAST(ct + 1 AS DOUBLE) / CAST(gt + {B} AS DOUBLE))
                 - ln(CAST(cr + 1 AS DOUBLE) / CAST(gr + {B} AS DOUBLE))
                 AS lr
       FROM bs CROSS JOIN g),
per AS (SELECT d, b, count(*) AS k FROM tok GROUP BY d, b)
SELECT d AS doc_id, CAST(SUM(k) AS BIGINT) AS n_words,
       ROUND(CAST(SUM(CAST(CAST(k AS DOUBLE) * lr AS DECIMAL(38,28)))
                  AS DOUBLE), {int(round_dp)}) AS logw
FROM per JOIN lr USING (b) GROUP BY d
"""


def temperature_mix(
    df: DataFrame,
    alpha: float = 0.3,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled source sampling weights (the multilingual-LM
    mixing rule of mBERT/XLM-R/mT5: ``p_s ∝ (n_s / N)^alpha``): flatten
    a skewed source distribution so low-resource sources are upsampled,
    with ``alpha = 1`` keeping the raw mix and ``alpha -> 0``
    approaching uniform.

    Output per stratum: exact doc/token counts, the raw token share,
    and the normalized temperature-scaled share.  Determinism: counts
    are exact; ``pow`` is the one libm call, ROUNDED to 9 dp before the
    cross-stratum normalizer sum (DECIMAL-accumulated, so the divide is
    engine-identical); the final share rounds to 6 dp.

    Scale notes: one map-side-combined aggregation to |sources| rows;
    everything after is arithmetic on the broadcastable stats table.
    """
    from fs2_data_spark.functions.text import token_count

    a = float(alpha)
    s = (df.groupBy(F.col(stratum_col).alias("source"))
         .agg(F.count(F.lit(1)).alias("n_docs"),
              F.sum(token_count(F.col(text_col))).alias("n_tok")))
    tot = s.agg(F.sum("n_tok").alias("_tot"))
    s = (s.crossJoin(F.broadcast(tot))
         .withColumn("p_raw", F.col("n_tok").cast("double")
                     / F.col("_tot").cast("double"))
         .withColumn("_w", F.round(F.pow(F.col("p_raw"), F.lit(a)), 9)))
    norm = s.agg(F.sum(F.col("_w").cast("decimal(38,28)")).cast("double")
                 .alias("_z"))
    return (s.crossJoin(F.broadcast(norm))
            .select("source", "n_docs", "n_tok",
                    F.round("p_raw", 6).alias("p_raw"),
                    F.round(F.col("_w") / F.col("_z"), 6).alias("p_temp")))


def temperature_mix_oracle_sql(alpha: float = 0.3, round_dp: int = 6) -> str:
    """DuckDB mirror of :func:`temperature_mix` over ``documents``."""
    a = f"CAST('{repr(float(alpha))}' AS DOUBLE)"
    ws = "list_filter(string_split(text, ' '), w -> w <> '')"
    return f"""
WITH s AS (SELECT source, count(*) AS n_docs,
                  SUM(CAST(len({ws}) AS BIGINT)) AS n_tok
           FROM documents GROUP BY source),
t AS (SELECT SUM(n_tok) AS tot FROM s),
p AS (SELECT source, n_docs, n_tok,
             CAST(n_tok AS DOUBLE) / CAST(t.tot AS DOUBLE) AS p_raw,
             ROUND(pow(CAST(n_tok AS DOUBLE) / CAST(t.tot AS DOUBLE),
                       {a}), 9) AS w
      FROM s CROSS JOIN t),
z AS (SELECT CAST(SUM(CAST(w AS DECIMAL(38,28))) AS DOUBLE) AS z FROM p)
SELECT source, n_docs, n_tok, ROUND(p_raw, {int(round_dp)}) AS p_raw,
       ROUND(w / z.z, {int(round_dp)}) AS p_temp
FROM p CROSS JOIN z
"""


def budget_select(
    df: DataFrame,
    quality: F.Column,
    tokens: F.Column,
    budget_num: int = 2,
    budget_den: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy quality-first selection under a global token budget: order
    the corpus by (quality DESC, id) and keep the prefix whose running
    token sum stays within ``budget_num/budget_den`` of the corpus
    total — the "best docs until the budget is spent" stage every
    fixed-compute pretraining run ends with.

    The budget boundary is EXACT integer arithmetic
    (``cum * den <= total * num`` — never a float fraction, per the
    module's selection-boundary rule); the order key must itself be
    engine-deterministic (pass an already-rounded quality expression).

    Scale notes (100 TB): the global running sum does NOT use a
    bare ``Window.orderBy`` (which would serialize the corpus through
    one task) — it range-partitions on the order key (parallel sort),
    cumulates within partitions, and shifts by the exclusive prefix of
    the P-row per-partition totals (broadcast), the ``global_rank``
    offsets pattern with SUM(value) instead of COUNT.
    """
    d = df.select(F.col(id_col).alias("_id"), quality.alias("q"),
                  tokens.cast("bigint").alias("n_tok"))
    order = [F.col("q").desc(), F.col("_id")]
    tot = d.agg(F.sum("n_tok").alias("_tot"))
    d = d.repartitionByRange(*order).withColumn("__pid",
                                                F.spark_partition_id())
    psums = d.groupBy("__pid").agg(F.sum("n_tok").alias("_s"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding,
                                                -1)
    offsets = psums.select(
        "__pid", F.coalesce(F.sum("_s").over(w_off),
                            F.lit(0).cast("bigint")).alias("__off"))
    w_in = (Window.partitionBy("__pid").orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (d.join(F.broadcast(offsets), "__pid")
            .withColumn("cum_tok",
                        (F.col("__off") + F.sum("n_tok").over(w_in))
                        .cast("bigint"))
            .crossJoin(F.broadcast(tot))
            .filter(F.col("cum_tok") * int(budget_den)
                    <= F.col("_tot") * int(budget_num))
            .select(F.col("_id").alias(id_col), "q", "n_tok", "cum_tok"))

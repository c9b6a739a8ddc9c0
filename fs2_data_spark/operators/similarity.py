"""Similarity search over embedding columns (``array<float>``).

``cosine_topk`` is the exact baseline: the (small) query set is collected
once and every corpus batch is ranked against it by cosine in a numpy Arrow
kernel (``functions/veckernels.py``, queries tiled in fixed blocks). At
100 TB the corpus side stays partitioned — the cost is (|corpus| x
|queries|) vectorized arithmetic, embarrassingly parallel across corpus
partitions.

One implementation per operator: the brute-force top-k, the IVF cell
assignment and MMR's cosine passes run only their Arrow kernels, which
replicate the Catalyst folds bit for bit (the frozen DuckDB oracles pin
them).  Their input rules are the kernels' (``veckernels.list_to_mat``): a
NULL or empty vector is the zero vector (cosine 0.0), a ragged vector
raises ``ValueError("ragged vector ...")``, and ids of any type ride
through.

``lsh_bucket_topk`` is the scale path: random-hyperplane signatures (LSH)
bucket the corpus so each query only scans its bucket — turning the full scan
into an equi-join on the signature. Deterministic pseudo-random hyperplanes
(seeded arithmetic) keep results reproducible across runs/partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

HASH_PRIME = 2_147_483_647


def _as_double(vec: F.Column) -> F.Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _norm(v: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda a, x: a + x))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _cos(dot: F.Column, an: F.Column, bn: F.Column) -> F.Column:
    """Cosine with TOTAL zero-vector semantics: a zero-magnitude side has
    no direction, so its similarity to anything is defined as 0.  The guard
    is operational, not cosmetic — Spark 4's ANSI mode raises on the bare
    ``dot/(an*bn)`` division when a norm is 0 (one garbage embedding would
    abort a 100 TB scan), and DuckDB returns ``inf`` — three different
    behaviors without it.  Oracles replay the identical CASE."""
    return F.when((an > 0) & (bn > 0), dot / (an * bn)).otherwise(F.lit(0.0))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    round_dp: int | None = 4,
) -> DataFrame:
    """Exact brute-force cosine top-k: (q_vec_id, n_vec_id, cos_sim).

    The ranking key is the *rounded* cosine (+ id tie-break) so results are
    deterministic under floating-point summation-order differences.

    The query side is collected once; the (|corpus| x |queries|) pair
    arithmetic runs as a numpy Arrow kernel over the corpus batches, the
    queries tiled in fixed blocks so memory stays bounded whatever their
    count (measured 49 s -> ~1 s at sf1 against the interpreted-HOF folds
    of 400 x 20k pairs of 64-dim vectors).  The kernel emits per-batch
    exact top-k candidates under the (rounded cos DESC, id ASC) comparator
    with bit-identical raw cosines (fold-order replica, see
    ``functions/veckernels.py``) and ids of any type; JVM ``F.round`` + one
    window over the tiny candidate set produce the final rows (pinned by
    tests + the frozen DuckDB oracle).  A NULL or empty vector on either
    side is the zero vector (cosine 0.0); a ragged vector raises
    ``ValueError("ragged vector ...")``.
    """
    from fs2_data_spark.functions import veckernels as VK
    rows = queries.select(id_col, vec_col).toArrow()
    q_mat = VK.list_to_mat(rows.column(1))
    cand = VK.cosine_topk_candidates(
        corpus, rows.column(0).combine_chunks(), q_mat, id_col, vec_col,
        k, round_dp, q_mat.shape[1])
    cos = F.col("cos_raw")
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    pairs = cand.select("q_vec_id", "n_vec_id", cos.alias("cos_sim"))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos_sim"), "n_vec_id")
    return (pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    iters: int = 2,
    canonical: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """IVF (inverted-file) index: deterministic k-means-lite centroids +
    cell assignment — the coarse quantizer of the classic IVF-Flat ANN
    design (Sivic/Zisserman inverted files; FAISS IVF family).

    Centroid init is hash-seeded (rows with ``xxhash64(id) % (n/n_cells)
    == 0``-style sampling), then ``iters`` Lloyd steps run as groupBy
    averages — every stage is one kernel pass against the (tiny) centroid
    set or one hash aggregation, so index build is linear with no
    driver-side loops over data. Returns ``(centroids, assigned)`` where
    ``assigned`` adds a ``cell`` column to the corpus.

    ``canonical=True`` makes the whole build *engine-portable* so an
    ANSI-SQL oracle can reproduce it bit-for-bit (VERDICT r04 #4): the seed
    ordering hash becomes pure arithmetic (``(id*2654435761) % 1000003``
    instead of xxhash64), Lloyd means accumulate as DECIMAL(27,12) sums
    (order-independent, bit-identical across engines) rounded to 9 dp, and
    assignment distances are rounded to 6 dp before the argmin so a
    sub-ulp cross-engine summation difference cannot flip a cell choice
    (tie within the quantum breaks on cell id in both engines).

    Assignment — the (|corpus| x n_cells) squared-distance folds — runs as
    a numpy Arrow kernel (bit-identical fold order + rounded-argmin trim,
    see ``functions/veckernels.py``) against the ``n_cells`` centroid rows
    collected each step.  A NULL or empty vector (seed or corpus) is the
    zero vector; a ragged one raises ``ValueError("ragged vector ...")``.
    """
    from fs2_data_spark.functions import veckernels as VK
    c = corpus.select(F.col(id_col).alias("id"),
                      _as_double(F.col(vec_col)).alias("v"))
    # deterministic spread-out seeds: hash-order top-k — planned as
    # TakeOrderedAndProject (parallel partial top-k + merge), NOT a global
    # sort or single-partition window
    seed_hash = (F.pmod(F.col("id").cast("bigint") * 2_654_435_761,
                        F.lit(1_000_003)) if canonical
                 else F.xxhash64(F.col("id").cast("string")))
    seeds = VK.list_to_mat(c.orderBy(seed_hash, "id").limit(n_cells)
                           .select("v").toArrow().column(0))
    spark = corpus.sparkSession
    cents = spark.createDataFrame(
        [(i, v) for i, v in enumerate(seeds.tolist())],
        "cell int, cv array<double>")

    def assign(cents_df):
        cent_rows = [(r["cell"], list(r["cv"])) for r in cents_df.collect()]
        return VK.ivf_assign_kernel(c, cent_rows, "id", "v", seeds.shape[1],
                                    canonical)

    mean = (F.round(F.sum(F.col("x").cast("decimal(27,12)")).cast("double")
                    / F.count(F.lit(1)), 9)
            if canonical else F.avg("x"))
    for _ in range(iters):
        assigned = assign(cents)
        # Lloyd step: per-cell mean vector (posexplode + groupBy, all JVM)
        exploded = assigned.select(
            "cell", F.posexplode(F.col("v")).alias("j", "x"))
        means = (exploded.groupBy("cell", "j").agg(mean.alias("m"))
                 .groupBy("cell")
                 .agg(F.array_sort(F.collect_list(F.struct("j", "m"))).alias("s"))
                 .select("cell", F.transform("s", lambda t: t.getField("m")).alias("cv")))
        cents = means
    assigned = assign(cents)
    return cents, assigned


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_cells: int = 16,
    nprobe: int = 2,
    round_dp: int | None = 4,
    canonical: bool = False,
) -> DataFrame:
    """ANN via IVF: each query scans only its ``nprobe`` nearest cells'
    inverted lists — an equi-join on the cell id replaces the full corpus
    scan (the second 100 TB-friendly ANN variant next to
    :func:`lsh_bucket_topk`). Exact cosine ranks within the probed cells;
    recall vs brute force pinned by tests.  ``canonical=True`` selects the
    SQL-reproducible index build (see :func:`ivf_index`) and rounds probe
    distances the same way."""
    cents, assigned = ivf_index(corpus, id_col, vec_col, n_cells,
                                canonical=canonical)
    q = (queries.select(F.col(id_col).alias("q_vec_id"),
                        _as_double(F.col(vec_col)).alias("qv"))
         .select("q_vec_id", "qv", _norm(F.col("qv")).alias("qn")))
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    if canonical:
        dist = F.round(dist, 6)
    wq = Window.partitionBy("q_vec_id").orderBy("d", "cell")
    probes = (q.crossJoin(F.broadcast(cents))
              .select("q_vec_id", "qv", "qn", "cell", dist.alias("d"))
              .withColumn("__rn", F.row_number().over(wq))
              .filter(F.col("__rn") <= nprobe)
              .select("q_vec_id", "qv", "qn", "cell"))
    inv = (assigned.select(F.col("id").alias("n_vec_id"),
                           F.col("v").alias("cv2"), "cell")
           .withColumn("cn", _norm(F.col("cv2"))))
    cos = _cos(_dot(F.col("qv"), F.col("cv2")), F.col("qn"), F.col("cn"))
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    pairs = (probes.join(inv, "cell")
             .filter(F.col("n_vec_id") != F.col("q_vec_id"))
             .select("q_vec_id", "n_vec_id", cos.alias("cos_sim")))
    wk = Window.partitionBy("q_vec_id").orderBy(F.desc("cos_sim"), "n_vec_id")
    return (pairs.withColumn("__rn", F.row_number().over(wk))
            .filter(F.col("__rn") <= k).drop("__rn"))


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_planes: int = 8,
    dim: int = 64,
    round_dp: int | None = 4,
) -> DataFrame:
    """ANN via LSH bucketing: candidates share the hyperplane signature, then
    exact cosine ranks within the bucket. Recall < 1 by design; the equi-join
    on ``sig`` replaces the full cross product (shuffle on sig instead of
    broadcast scan) — the 100 TB-friendly variant.

    The per-row signature+norm projection (8 interpreted 64-dim folds per
    row) runs as a numpy Arrow kernel (guide §4.2; bit-identical folds —
    ``functions/veckernels.py``); the bucket-fenced pair verification stays
    in the JVM (bucket pair counts are small by construction).
    """
    from fs2_data_spark.functions import veckernels as VK
    q = VK.lsh_augment_kernel(queries, id_col, vec_col, n_planes, dim,
                              seed=42).select(
        F.col("vec_id").alias("q_vec_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"), "sig")
    c = VK.lsh_augment_kernel(corpus, id_col, vec_col, n_planes, dim,
                              seed=42).select(
        F.col("vec_id").alias("n_vec_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"), "sig")
    cos = _cos(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn"))
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    pairs = (q.join(c, "sig")
             .filter(F.col("n_vec_id") != F.col("q_vec_id"))
             .select("q_vec_id", "n_vec_id", cos.alias("cos_sim")))
    w = Window.partitionBy("q_vec_id").orderBy(F.desc("cos_sim"), "n_vec_id")
    return (pairs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k).drop("__rn"))


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.95,
    round_dp: int | None = 4,
    canonical: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with the IVF coarse quantizer, then mark a vector a
    duplicate iff some SAME-CELL vector with a smaller id has cosine
    similarity >= ``threshold``. Keeping the smallest id per near-duplicate
    group edge makes the output a deterministic function of the data
    (partitioning-invariant, pinned by test).

    Scale shape: the all-pairs comparison is fenced inside each cell — the
    self-join is an equi-join on the cell id, so the cost is
    ``sum(|cell|^2)``, not ``N^2`` (the SemDeDup trick: at 100 TB you raise
    ``n_cells`` so cells stay bounded, e.g. ~100k cells for 1e9 vectors);
    there is no cross-cell candidate by construction, which is the recall
    trade the paper makes. Index build reuses :func:`ivf_index` (broadcast
    Lloyd steps); ``canonical=True`` selects the engine-portable build +
    rounded cosines so the DuckDB oracle replays every stage bit-for-bit.

    Returns one row per input vector: ``(id_col, cell, keep, dup_of,
    dup_cos)`` where ``dup_of`` is the most-similar smaller-id same-cell
    neighbor over the threshold (null when ``keep``).
    """
    _, assigned = ivf_index(corpus, id_col, vec_col, n_cells,
                            canonical=canonical)
    # cell-fenced pair arithmetic as a grouped numpy kernel (guide §4.2):
    # same one-shuffle-on-cell fencing, sum(|cell|^2) cost, bit-identical
    # raw cosines (veckernels fold-order contract); the >= threshold
    # filter and best-per-i ranking re-apply the exact JVM rounding.
    from fs2_data_spark.functions import veckernels as VK
    raw = VK.cell_pair_candidates(assigned, threshold, round_dp,
                                  id_col="id", vec_col="v", cell_col="cell")
    cos = F.col("cos_raw")
    if round_dp is not None:
        cos = F.round(cos, round_dp)
    pairs = (raw.select("i", "j", cos.alias("cos_sim"))
             .filter(F.col("cos_sim") >= F.lit(threshold)))
    w = assigned.select("id", "cell")
    wk = Window.partitionBy("i").orderBy(F.desc("cos_sim"), "j")
    best = (pairs.withColumn("__rn", F.row_number().over(wk))
            .filter(F.col("__rn") == 1)
            .select("i", F.col("j").alias("dup_of"),
                    F.col("cos_sim").alias("dup_cos")))
    return (w.join(best, w["id"] == best["i"], "left")
            .select(F.col("id").alias(id_col), "cell",
                    F.col("dup_of").isNull().alias("keep"),
                    "dup_of", "dup_cos"))


def rrf_fuse(
    df: DataFrame,
    key: str | Sequence[str],
    rankings: Sequence[tuple[str, bool]],
    id_col: str = "event_id",
    k0: int = 60,
    top: int = 3,
    round_dp: int = 9,
) -> DataFrame:
    """Reciprocal-rank fusion of several orderings of the same rows —
    the standard way to combine heterogeneous retrieval signals
    (BM25 + dense ANN, recency + relevance) without score calibration::

        rrf(row) = sum_i 1 / (k0 + rank_i(row))

    ``rankings`` is a list of ``(column, descending)`` specs; each
    produces a dense per-key ``row_number`` (ties broken by ``id_col``,
    so every rank — and therefore the fused score and the final top-k
    — is deterministic and engine-replayable).  The fused score is a
    FIXED-LENGTH chain of IEEE divides and adds (expression order is
    part of the operator contract — it is not a multiset sum, so no
    decimal discipline is needed), rounded to ``round_dp``.

    Scale shape: all ranking windows share the key partitioning —
    Catalyst plans one Exchange and one Sort per distinct ordering (no
    joins: every ranking is a window over the SAME rows); the final
    top-``top`` is one more window pass.  Nothing leaves the key's
    partition.

    Output: ``key, id_col, rank_1..rank_m, rrf`` for the top rows per
    key, ordered deterministically by ``(rrf desc, id_col)``.
    """
    key = [key] if isinstance(key, str) else list(key)
    d = df
    rank_cols = []
    for i, (col, desc) in enumerate(rankings, start=1):
        order = F.col(col).desc() if desc else F.col(col).asc()
        w = Window.partitionBy(*key).orderBy(order, F.col(id_col))
        rc = f"rank_{i}"
        d = d.withColumn(rc, F.row_number().over(w))
        rank_cols.append(rc)
    expr = None
    for rc in rank_cols:
        term = F.lit(1.0) / (F.lit(float(k0)) + F.col(rc).cast("double"))
        expr = term if expr is None else expr + term
    d = d.withColumn("rrf", F.round(expr, round_dp))
    wtop = Window.partitionBy(*key).orderBy(F.col("rrf").desc(),
                                            F.col(id_col))
    return (d.withColumn("_tn", F.row_number().over(wtop))
            .filter(F.col("_tn") <= int(top))
            .select(*key, id_col, *rank_cols, "rrf"))


_DEC = "decimal(38,12)"


def centroid_cosine_matrix(
    df: DataFrame,
    vec: str = "embedding",
    group: str = "label",
    round_dp: int = 6,
) -> DataFrame:
    """Pairwise cosine similarity between per-group embedding CENTROIDS
    — the cluster-level geometry audit (are two labels' populations
    converging? is a source's embedding mass drifting toward another's?)
    at a cost independent of the pair count's row scale: the corpus is
    reduced to |groups| x dim means first, so the "pairwise" stage
    touches centroids, never vectors.

    Determinism: per-dimension sums fold float32 inputs (exact when
    widened to double) in DECIMAL(38,12); means are rounded to 9 dp;
    dot/norm terms are 9-dp-rounded products folded in decimal; the
    final cosine is one IEEE chain rounded to ``round_dp``.  Groups
    with a zero-norm centroid yield NULL cosine (undefined, stated).

    Scale shape: one posexplode -> (group, dim) mean aggregation
    (map-side combined, key space |groups| x dim — the only
    corpus-sized pass); per-group norms re-aggregate the centroid
    table; the pair join is an equi-join ON THE DIMENSION with
    C(|groups|, 2) fan-out per dim — group-bounded, never row-bounded.

    Output per pair (``a < b``): ``a, b, cos``.
    """
    pts = (df.filter(F.col(vec).isNotNull())
           .select(F.col(group).alias("_g"),
                   F.posexplode(F.col(vec)).alias("_d", "_x"))
           .groupBy("_g", "_d")
           .agg(F.round(
               F.sum(F.col("_x").cast("double").cast(_DEC))
               .cast("double")
               / F.count(F.lit(1)).cast("double"), 9).alias("_m")))
    norms = (pts.groupBy("_g")
             .agg(F.sum(F.round(F.col("_m") * F.col("_m"), 9).cast(_DEC))
                  .cast("double").alias("_nn")))
    a = pts.select(F.col("_g").alias("a"), "_d", F.col("_m").alias("_ma"))
    b = pts.select(F.col("_g").alias("b"), "_d", F.col("_m").alias("_mb"))
    dots = (a.join(b, on="_d")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(F.sum(F.round(F.col("_ma") * F.col("_mb"), 9).cast(_DEC))
                 .cast("double").alias("_dot")))
    na = norms.select(F.col("_g").alias("a"), F.col("_nn").alias("_na"))
    nb = norms.select(F.col("_g").alias("b"), F.col("_nn").alias("_nb"))
    out = (dots.join(F.broadcast(na), on="a")
           .join(F.broadcast(nb), on="b"))
    cos = F.when((F.col("_na") > 0) & (F.col("_nb") > 0),
                 F.round(F.col("_dot")
                         / F.sqrt(F.col("_na") * F.col("_nb")), round_dp))
    return out.select("a", "b", cos.alias("cos"))


def mmr_select(
    emb: DataFrame,
    query_id: int,
    k: int = 4,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """Maximal Marginal Relevance greedy selection (Carbonell &
    Goldstein 1998): pick ``k`` items that are relevant to the query
    but diverse among themselves —
    ``argmax_c lam * rel(c) - (1-lam) * max_{s in S} sim(c, s)`` —
    the submodular-style greedy that builds dedup-aware eval sets and
    diversity-constrained training subsets from an embedding corpus.

    The query anchor is the corpus row ``id = query_id`` (excluded from
    the pool).  Determinism contract: every cosine is ROUNDED to
    ``round_dp`` BEFORE any comparison (the module's round-before-rank
    rule), the argmax tie-breaks by id, and the running max-similarity
    update is GREATEST of already-rounded values — so each of the ``k``
    selection boundaries is an exact comparison both engines replay
    bit-for-bit (``mmr_oracle_sql`` unrolls the identical steps; the
    lam literals are repr-embedded).  If the pool has fewer than ``k``
    candidates both engines degrade identically (empty tail steps).

    The query row may be NULL or empty: it is then the zero vector, so
    every ``rel`` is 0.0 and the picks follow diversity alone.  A missing
    ``query_id`` gives no rows; a ragged vector raises ``ValueError("ragged
    vector ...")``.

    Scale notes (100 TB): every cosine pass is a numpy Arrow kernel — one
    relevance pass over the pool against the query row, then per step one
    running-max update against the single selected vector (map-side, no
    shuffle) — and each step's top-1 is one JVM ``TakeOrderedAndProject``
    (never a global sort).  Relevance pre-ranking can cap the pool first
    when k << N (disclosed trade; not done here so the oracle covers the
    full pool).
    """
    lam = float(lam)
    oml = 1.0 - lam
    # the module's round-before-rank contract intact: rel is JVM F.round
    # over the bit-exact raw cosine; the _ms carry uses
    # veckernels.spark_round_vec (proven == F.round); per-step collects are
    # 1-row reads of the pick
    from fs2_data_spark.functions import veckernels as VK
    spark = emb.sparkSession
    idt = emb.schema[id_col].dataType.simpleString()
    schema = f"step int, vec_id {idt}, rel double, mmr double"
    qid = F.lit(query_id)
    qrow = emb.filter(F.col(id_col) == qid).select(vec_col).limit(1).toArrow()
    if qrow.num_rows == 0:
        return spark.createDataFrame([], schema)
    qv = VK.list_to_mat(qrow.column(0))[0]
    pool = emb.filter(F.col(id_col) != qid).select(id_col, vec_col)
    aug = VK.mmr_rel_kernel(pool, id_col, vec_col, qv.tolist(), len(qv))
    # localCheckpoint per stage: each greedy step both collects a 1-row top
    # and feeds the next kernel — without truncation the k-step lineage
    # re-runs every earlier kernel per step (O(k^2) pool passes)
    cand = aug.select("vec_id", "v", "nrm",
                      F.round("rel_raw", round_dp).alias("rel"),
                      F.lit(0.0).alias("_ms")).localCheckpoint()
    picks = []
    for step in range(1, int(k) + 1):
        c2 = cand.withColumn(
            "_mmr", F.lit(lam) * F.col("rel") - F.lit(oml) * F.col("_ms"))
        sel = (c2.orderBy(F.col("_mmr").desc(), F.col("vec_id"))
               .limit(1)
               .select("vec_id", "rel", F.round("_mmr", 6).alias("mmr"),
                       "v", "nrm")
               .collect())
        if not sel:
            break
        r = sel[0]
        picks.append((step, r["vec_id"], r["rel"], r["mmr"]))
        if step < int(k):
            cand = VK.mmr_ms_update_kernel(
                cand.filter(F.col("vec_id") != F.lit(r["vec_id"])),
                list(r["v"]), float(r["nrm"]), round_dp,
                len(r["v"])).localCheckpoint()
    return spark.createDataFrame(picks, schema)


def mmr_oracle_sql(
    query_id: int,
    k: int = 4,
    lam: float = 0.7,
    round_dp: int = 4,
) -> str:
    """DuckDB mirror of :func:`mmr_select` over the ``embeddings`` view:
    the same greedy steps unrolled as CTEs, repr-embedded lam literals,
    round-before-rank cosines, id tie-breaks."""
    lam = float(lam)
    L = f"CAST('{repr(lam)}' AS DOUBLE)"
    OML = f"CAST('{repr(1.0 - lam)}' AS DOUBLE)"
    qid = int(query_id)
    dp = int(round_dp)

    def cos(av, an, bv, bn):
        return (f"ROUND(CASE WHEN {an} > 0 AND {bn} > 0 "
                f"THEN list_dot_product({av}, {bv}) / ({an} * {bn}) "
                f"ELSE 0.0 END, {dp})")

    sql = [f"""
WITH e AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
n AS (SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e),
q AS (SELECT v, nrm FROM n WHERE vec_id = {qid}),
c1 AS (SELECT c.vec_id, c.v, c.nrm,
              {cos('q.v', 'q.nrm', 'c.v', 'c.nrm')} AS rel,
              CAST(0 AS DOUBLE) AS ms
       FROM n c CROSS JOIN q WHERE c.vec_id <> {qid})"""]
    for t in range(1, int(k) + 1):
        sql.append(f""",
s{t} AS (SELECT vec_id, v, nrm, rel, {L} * rel - {OML} * ms AS mmr
         FROM c{t} ORDER BY mmr DESC, vec_id LIMIT 1)""")
        if t < int(k):
            sql.append(f""",
c{t + 1} AS (SELECT c.vec_id, c.v, c.nrm, c.rel,
                    GREATEST(c.ms,
                             {cos('s.v', 's.nrm', 'c.v', 'c.nrm')}) AS ms
             FROM c{t} c CROSS JOIN s{t} s WHERE c.vec_id <> s.vec_id)""")
    parts = [f"SELECT {t} AS step, vec_id, rel, ROUND(mmr, 6) AS mmr "
             f"FROM s{t}" for t in range(1, int(k) + 1)]
    sql.append("\n" + "\nUNION ALL\n".join(parts))
    return "".join(sql)

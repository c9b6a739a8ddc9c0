"""Mergeable sketches for corpus cardinality and frequency at 100 TB scale.

Two classic streaming sketches, built so that (a) every bit is a
deterministic function of the data — no RNG, no float accumulation order —
and (b) the whole construction replays verbatim in ANSI SQL, so the DuckDB
oracle checks the sketch itself, not just a property of it:

- **KMV (k-minimum-values) distinct-count sketch** [Bar-Yossef et al. 2002,
  Beyer et al. 2007]: keep the ``k`` smallest distinct hash values of a set;
  the k-th smallest ``h_k`` estimates the cardinality as ``(k-1) * M / h_k``
  where ``M`` is the hash domain size.  Mergeable: the k smallest of a union
  are a subset of the union of each side's k smallest, so
  ``sketch(A ∪ B) = take_k(sketch(A) ∪ sketch(B))`` — the monoid law that
  lets a 100 TB pipeline maintain per-source distinct-shingle counts by
  folding in each ingest snapshot (same maintenance shape as
  ``operators/quality.py merge_vocabs``, but constant-size state instead of
  vocabulary-size).

- **Count-min sketch** [Cormode & Muthukrishnan 2005]: ``d`` hash rows of
  ``w`` counters; each occurrence increments one counter per row; a point
  query reads the minimum of its ``d`` counters, which never underestimates
  the true count.  Mergeable by elementwise addition — sketches of disjoint
  corpus shards sum to the sketch of the whole corpus.

Determinism across engines: hashes are the engine-portable polynomial
``functions/text.py word_hash`` (exact bigint arithmetic) composed with
affine-mod mixing in ``bigint``; counters are exact ``COUNT(*)``s; the only
float in either sketch is the final KMV estimate — one bigint product
(pre-computed exactly in Python) cast to double and one IEEE division,
identical in any engine (the same single-division discipline as
``operators/quality.py``).

Scale shape:

- KMV: one shuffle to distinct the (group, hash) pairs (map-side partial
  aggregation caps the shuffle at the distinct-count, not the corpus size),
  then a per-group top-k — Spark's ``WindowGroupLimit`` pushes the
  ``row_number <= k`` limit below the final sort so each map task emits at
  most ``k`` rows per group.
- CMS: one explode of ``d`` (row, bucket) entries per token occurrence,
  aggregated with map-side combine so the shuffle carries at most ``d * w``
  rows per task regardless of corpus size; the finished sketch is ``d * w``
  rows total and broadcasts for point queries.

Reference parity: fs2-data has no sketch module; these extend the
training-pipeline tier (SURVEY §2 "beyond the reference" mandate) alongside
dedup/mixing/packing.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from fs2_data_spark.functions.text import HASH_PRIME

# KMV hash domain.  Raw shingle hashes ((h1 * P0 + h2) * P0 + h3, P0 =
# 1_000_003) are mixed-radix over the corpus vocabulary — NOT uniform (a
# small vocabulary pins the top radix digit to a handful of values, which
# collapses the k-th-minimum statistic; measured: 100x overestimate on the
# test corpus).  KMV therefore re-mixes every element through an affine map
# modulo a prime near 10^12, split into two overflow-safe rounds (each
# multiplier < 9.2e6 keeps (P-1)*A inside int64 in BOTH Spark and DuckDB,
# whose bigint overflow raises rather than wraps); the composition is an
# affine map with effective multiplier A1*A2 mod P ~ 6.7e13 mod P, which
# scatters clustered inputs across the full domain.  The estimate's
# numerator (k-1) * P is computed exactly as a Python int and converted to
# double ONCE, so both engines see the identical IEEE value.
KMV_P = 999_999_999_989  # largest prime below 10^12
_KA1, _KB1 = 7_368_787, 104_729
_KA2, _KB2 = 9_123_407, 60_013


def kmv_hash(s: Column) -> Column:
    """Engine-portable re-mix of a bigint element key onto ``[0, KMV_P)``."""
    r = F.pmod(s.cast("bigint"), F.lit(KMV_P))
    r = F.pmod(r * _KA1 + _KB1, F.lit(KMV_P))
    return F.pmod(r * _KA2 + _KB2, F.lit(KMV_P))


def kmv_hash_sql(s_expr: str) -> str:
    """The identical re-mix as an ANSI-SQL expression (for oracles)."""
    return (f"((({s_expr}) % {KMV_P} * {_KA1} + {_KB1}) % {KMV_P} "
            f"* {_KA2} + {_KB2}) % {KMV_P}")

# Fixed affine mixers for the CMS rows (any pairwise-independent family;
# constants reused from the MinHash permutation table in functions/text.py).
CMS_ROW_PARAMS = [(1_103_515_245 + 2 * r + 1, 12_345 + 7_919 * r)
                  for r in range(8)]


def cms_bucket(h: Column, row: int, width: int) -> Column:
    """Bucket of hash ``h`` in CMS row ``row``: ``((h*A + B) % P) % w``."""
    a, b = CMS_ROW_PARAMS[row]
    return F.pmod(F.pmod(h * a + b, F.lit(HASH_PRIME)), F.lit(width))


def cms_bucket_sql(h_expr: str, row: int, width: int) -> str:
    """The identical bucket as an ANSI-SQL expression (for oracles)."""
    a, b = CMS_ROW_PARAMS[row]
    return f"((({h_expr}) * {a} + {b}) % {HASH_PRIME}) % {width}"


# ---------------------------------------------------------------------------
# KMV distinct-count sketch
# ---------------------------------------------------------------------------

def kmv_sketch(
    elems: DataFrame,
    group_col: str = "source",
    hash_col: str = "h",
    k: int = 16,
) -> DataFrame:
    """Per-group KMV sketch state: the sorted array of the ``k`` smallest
    DISTINCT hash values.

    ``elems`` is a (group, hash) element stream (duplicates allowed).  The
    distinct step is one shuffle with map-side partial aggregation; the
    top-k is a ``row_number`` window that Spark's WindowGroupLimit rewrites
    into per-partition limits, so the window sort never sees more than
    ``k`` rows per group per task.
    """
    dist = elems.select(group_col, hash_col).distinct()
    w = Window.partitionBy(group_col).orderBy(hash_col)
    return (dist
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .groupBy(group_col)
            .agg(F.sort_array(F.collect_list(hash_col)).alias("kmv")))


def kmv_estimate(sketch: DataFrame, k: int = 16,
                 domain: int = KMV_P) -> DataFrame:
    """Cardinality estimate from a KMV sketch.

    If the group holds fewer than ``k`` distinct values the sketch IS the
    value set and the count is exact; otherwise ``(k-1) * M / h_k``.  The
    numerator is computed exactly in Python and becomes one double literal;
    the division is a single IEEE op — identical in any engine.
    """
    n_kept = F.size("kmv")
    # try_element_at: null (not an ANSI error) when the group held < k values
    kth = F.try_element_at("kmv", F.lit(k))
    est = (F.when(n_kept < k, n_kept.cast("double"))
            .otherwise(F.lit(float((k - 1) * domain)) / kth.cast("double")))
    return sketch.select(
        *[c for c in sketch.columns if c != "kmv"],
        n_kept.cast("integer").alias("n_kept"),
        F.when(n_kept >= k, kth).alias("kth_hash"),
        F.round(est, 4).alias("est_distinct"))


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

def cms_sketch(
    elems: DataFrame,
    hash_col: str = "h",
    depth: int = 3,
    width: int = 32,
) -> DataFrame:
    """Count-min sketch of an element stream: rows ``(row, bucket, cnt)``.

    One explode of ``depth`` (row, bucket) entries per occurrence; the
    aggregation combines map-side, so the shuffle carries at most
    ``depth * width`` rows per task and the result is ``<= depth * width``
    rows total (absent buckets are implicit zeros).
    """
    h = F.col(hash_col)
    entries = F.array(*[
        F.struct(F.lit(r).cast("integer").alias("row"),
                 cms_bucket(h, r, width).alias("bucket"))
        for r in range(depth)])
    return (elems
            .select(F.explode(entries).alias("e"))
            .groupBy(F.col("e.row").alias("row"),
                     F.col("e.bucket").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_point_query(
    sketch: DataFrame,
    queries: DataFrame,
    hash_col: str = "h",
    depth: int = 3,
    width: int = 32,
) -> DataFrame:
    """Point-frequency estimates: for each query row, the min of its
    ``depth`` counters.  Never underestimates (every counter the element
    touched holds its count plus any colliding mass).

    The sketch is tiny (``<= depth * width`` rows) and is explicitly
    broadcast, so the lookup is a map-side join — the query side never
    shuffles.
    """
    h = F.col(hash_col)
    entries = F.array(*[
        F.struct(F.lit(r).cast("integer").alias("row"),
                 cms_bucket(h, r, width).alias("bucket"))
        for r in range(depth)])
    probes = queries.select("*", F.explode(entries).alias("e"))
    keyed = probes.select(
        *queries.columns,
        F.col("e.row").alias("row"), F.col("e.bucket").alias("bucket"))
    return (keyed
            .join(F.broadcast(sketch), ["row", "bucket"])
            .groupBy(*queries.columns)
            .agg(F.min("cnt").alias("cms_est")))


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch
# ---------------------------------------------------------------------------
#
# [Flajolet, Fusy, Gandouet, Meunier 2007].  m = 2^HLL_P registers; each
# element's re-mixed hash (kmv_hash domain [0, KMV_P)) gives the bucket
# (h % m); the B-bit tail comes from a SECOND affine re-mix reduced mod
# 2^B, and the register keeps the max over elements of
# rho(w) = B - floor(log2(w)) (the 1-based position of the leading 1-bit;
# w = 0 -> B + 1).  The tail is NOT h // m: that quotient lives on
# [0, KMV_P / m) ~ 0.909 * 2^34, so the top 9% of the 34-bit space never
# occurs, rho skews large, and the estimate biases high (measured +20-50%).
# Reducing an independent remix mod 2^30 leaves KMV_P / 2^30 ~ 931 full
# cycles plus a partial one — non-uniformity ~0.1%, negligible against the
# sketch's own 1.04/sqrt(m) = 13% standard error.
#
# Engine portability, per the module discipline:
# - rho is pure integer/string arithmetic: floor(log2(w)) =
#   length(bin(w)) - 1, and `bin` renders identical minimal binary strings
#   in Spark and DuckDB (verified: bin(0) = '0' in both).
# - The harmonic sum sum(2^-r_j) is kept EXACT as the scaled bigint
#   S = sum(2^(B+1-r_j)) (terms 2^0 .. 2^31, at most m * 2^31 < 2^38):
#   integer addition is order-independent where float summation is not.
# - The raw estimate is alpha_m * m^2 * 2^(B+1) / S — numerator computed
#   once in Python, one IEEE division.
# - The small-range linear-counting branch m * ln(m / V) depends on libm —
#   but V (zero registers) has only m possible values, so the table of all
#   m corrections is precomputed in Python and shipped as literals: the
#   oracle never calls ln.
#
# Registers merge by elementwise MAX — the monoid that lets per-shard /
# per-snapshot sketches maintain corpus-level distinct counts at 100 TB
# without re-scanning (fixed 2^P-row state).

HLL_P = 6
HLL_M = 1 << HLL_P                    # 64 registers
HLL_B = 30                            # tail bits (see domain note above)
_HA3, _HB3 = 6_700_417, 65_537        # tail re-mix; (KMV_P-1)*A3 < 2^63
_HLL_ALPHA = 0.709                    # alpha_64 per the HLL paper
_HLL_NUM = _HLL_ALPHA * HLL_M * HLL_M * float(1 << (HLL_B + 1))
_HLL_LC = [0.0] + [HLL_M * math.log(HLL_M / v) for v in range(1, HLL_M + 1)]


def hll_tail(h: Column) -> Column:
    """Independent ``[0, 2^B)`` tail of a ``[0, KMV_P)`` element hash."""
    return F.pmod(F.pmod(h * _HA3 + _HB3, F.lit(KMV_P)),
                  F.lit(1 << HLL_B))


def hll_tail_sql(h_expr: str) -> str:
    return f"(({h_expr}) * {_HA3} + {_HB3}) % {KMV_P} % {1 << HLL_B}"


def hll_rho(w: Column) -> Column:
    """1-based leading-1 position of the ``HLL_B``-bit tail ``w``."""
    return F.when(w == 0, F.lit(HLL_B + 1)).otherwise(
        F.lit(HLL_B) - (F.length(F.bin(w)) - F.lit(1))).cast("integer")


def hll_rho_sql(w_expr: str) -> str:
    return (f"CAST(CASE WHEN ({w_expr}) = 0 THEN {HLL_B + 1} "
            f"ELSE {HLL_B} - (length(bin({w_expr})) - 1) END AS INTEGER)")


def hll_registers(elems: DataFrame, group_col: str = "source",
                  hash_col: str = "h") -> DataFrame:
    """Per-group register table ``(group, bucket, r)`` — non-zero registers
    only (absent buckets are implicit 0).  One map-side-combined shuffle
    bounded at ``m`` rows per group per task."""
    h = F.col(hash_col)
    return (elems
            .select(F.col(group_col),
                    F.pmod(h, F.lit(HLL_M)).cast("integer").alias("bucket"),
                    hll_rho(hll_tail(h)).alias("rho"))
            .groupBy(group_col, "bucket")
            .agg(F.max("rho").alias("r")))


def hll_estimate(registers: DataFrame,
                 group_col: str = "source") -> DataFrame:
    """Cardinality estimate per group from a register table.

    Absent buckets contribute ``2^(B+1)`` to the scaled sum and count as
    zero registers, so the aggregate needs only the non-zero rows:
    ``S = sum(2^(B+1-r)) + (m - n_present) * 2^(B+1)``.  Small-range
    correction (raw <= 2.5 m with zero registers) selects the
    linear-counting literal for ``V`` from the precomputed table.
    """
    full = F.lit(1 << (HLL_B + 1)).cast("bigint")
    s_present = F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_B + 1} - r)"))
    n_present = F.count(F.lit(1))
    agg = registers.groupBy(group_col).agg(
        (s_present + (F.lit(HLL_M) - n_present) * full).alias("sum_scaled"),
        (F.lit(HLL_M) - n_present).cast("integer").alias("n_zero"))
    raw = F.lit(_HLL_NUM) / F.col("sum_scaled").cast("double")
    lc = F.element_at(F.array(*[F.lit(x) for x in _HLL_LC]),
                      F.col("n_zero") + 1)
    est = F.when((F.col("n_zero") > 0) & (raw <= F.lit(2.5 * HLL_M)), lc) \
           .otherwise(raw)
    return agg.select(group_col, "n_zero", "sum_scaled",
                      F.round(est, 4).alias("est_distinct"))


def hll_estimate_sql(reg_rel: str, group_col: str = "source") -> str:
    """The identical estimate as ANSI SQL over a (group, bucket, r) relation."""
    full = 1 << (HLL_B + 1)
    lc_arr = "[" + ", ".join(repr(x) for x in _HLL_LC) + "]"
    return f"""
SELECT {group_col}, n_zero, sum_scaled,
       ROUND(CASE WHEN n_zero > 0
                   AND {_HLL_NUM!r} / CAST(sum_scaled AS DOUBLE)
                       <= {2.5 * HLL_M!r}
             THEN ({lc_arr})[n_zero + 1]
             ELSE {_HLL_NUM!r} / CAST(sum_scaled AS DOUBLE) END,
             4) AS est_distinct
FROM (SELECT {group_col},
             CAST(SUM(CAST(1 AS BIGINT) << ({HLL_B + 1} - r))
                  + ({HLL_M} - COUNT(*)) * {full} AS BIGINT) AS sum_scaled,
             CAST({HLL_M} - COUNT(*) AS INTEGER) AS n_zero
      FROM {reg_rel} GROUP BY {group_col})
"""


# ---------------------------------------------------------------------------
# MinHash union sketch: cross-group similarity matrix
# ---------------------------------------------------------------------------

def minhash_union_similarity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Pairwise group-vocabulary similarity from mergeable MinHash sketches.

    The estimator behind "how much does dump N overlap dump M" corpus
    audits [Broder 1997]: a group's k-component signature is the
    elementwise MIN over its elements' permuted hashes — ``sig(A ∪ B) =
    min(sig(A), sig(B))``, the union monoid, so per-shard signatures
    maintained incrementally compose into per-group ones without
    re-scanning (constant 8-value state; same maintenance shape as
    kmv/hll).  ``P(sig_i(A) = sig_i(B)) = J(A, B)`` exactly, so the
    fraction of agreeing components estimates the Jaccard similarity.

    Output per unordered group pair: ``n_agree`` / ``est_jaccard``
    (n_agree/k, an exact multiple of 1/k) next to the EXACT vocabulary
    ``inter_cnt / union_cnt / jaccard`` for calibration.

    Scale shape: one explode + group-key shuffle builds all signatures
    (map-side combined MINs); the pair matrix is a broadcast self-join of
    the group-count-sized signature table.  The exact side (distinct
    (group, code) + code-key equi-self-join) costs vocabulary-sized
    shuffles and exists for calibration — at 100 TB you keep the sketch
    side only.  Permutations reuse ``functions/text.py
    minhash_signature_from`` coefficients, so per-document signatures
    already materialized by dedup pipelines min-fold directly into these.
    """
    from fs2_data_spark.functions.text import HASH_PRIME, word_codes

    wc = df.select(F.col(group_col).alias("g"),
                   F.explode(word_codes(text_col)).alias("c"))
    mins = []
    for i in range(k):
        a, b = 1_103_515_245 + 2 * i + 1, 12_345 + 7919 * i
        mins.append(F.min(F.pmod(F.col("c") * a + b, F.lit(HASH_PRIME)))
                     .alias(f"mh{i}"))
    sig = wc.groupBy("g").agg(*mins)

    dc = wc.distinct()
    cnt = dc.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    a_, b_ = dc.alias("a"), dc.alias("b")
    inter = (a_.join(b_, (F.col("a.c") == F.col("b.c"))
                     & (F.col("a.g") < F.col("b.g")))
             .groupBy(F.col("a.g").alias("s1"), F.col("b.g").alias("s2"))
             .agg(F.count(F.lit(1)).alias("inter_cnt")))

    sa, sb = sig.alias("sa"), sig.alias("sb")
    agree = sum(
        F.when(F.col(f"sa.mh{i}").eqNullSafe(F.col(f"sb.mh{i}")), 1)
         .otherwise(0)
        for i in range(k))
    pairs = (F.broadcast(sa)
             .join(sb, F.col("sa.g") < F.col("sb.g"))
             .select(F.col("sa.g").alias("s1"), F.col("sb.g").alias("s2"),
                     agree.cast("integer").alias("n_agree")))

    out = (pairs
           .join(F.broadcast(cnt).withColumnRenamed("g", "s1")
                 .withColumnRenamed("n", "n1"), "s1")
           .join(F.broadcast(cnt).withColumnRenamed("g", "s2")
                 .withColumnRenamed("n", "n2"), "s2")
           .join(F.broadcast(inter), ["s1", "s2"], "left")
           .withColumn("inter_cnt", F.coalesce("inter_cnt", F.lit(0)))
           .withColumn("union_cnt",
                       F.col("n1") + F.col("n2") - F.col("inter_cnt")))
    return out.select(
        "s1", "s2", "n_agree",
        (F.col("n_agree").cast("double") / F.lit(float(k)))
        .alias("est_jaccard"),
        "inter_cnt", "union_cnt",
        F.when(F.col("union_cnt") > 0,
               F.col("inter_cnt").cast("double")
               / F.col("union_cnt").cast("double")).alias("jaccard"))


def hll_trailing_estimate(elems: DataFrame, group_col: str = "hour_no",
                          hash_col: str = "h", trail: int = 6) -> DataFrame:
    """Trailing-window distinct-count estimates from bucketed HLL sketches —
    the register-merge monoid applied along TIME: build registers once per
    time bucket, then every trailing window of ``trail`` buckets is the
    elementwise max of its members' registers. The raw events are scanned
    exactly once no matter how many windows are estimated (the streaming
    cardinality pattern: at 100 TB you materialize the per-hour register
    table — 64 rows/hour — and answer any trailing-window distinct query
    from it without touching events again; same cascade idea as
    ``windows.cascade_rollup`` but for a NON-addable aggregate, which is
    exactly what the sketch monoid buys).

    ``group_col`` must be an integer bucket number (consecutive buckets =
    adjacent windows). Each source bucket fans out to the ``trail`` target
    windows it serves (an explode of ``trail`` ints per register row —
    register-table-sized, not event-sized), targets are restricted to
    buckets that actually exist, and the merge is one hash aggregation.
    Returns ``hll_estimate`` rows keyed by the window's LAST bucket.
    """
    regs = hll_registers(elems, group_col, hash_col)
    present = elems.select(group_col).distinct()
    fan = regs.select(
        F.explode(F.sequence(F.col(group_col).cast("bigint"),
                             F.col(group_col).cast("bigint") + (trail - 1))
                  ).alias("__target"),
        "bucket", "r")
    merged = (fan
              .join(present.select(F.col(group_col).cast("bigint")
                                   .alias("__target")), "__target")
              .groupBy("__target", "bucket").agg(F.max("r").alias("r"))
              .withColumnRenamed("__target", group_col))
    return hll_estimate(merged, group_col)


# ---------------------------------------------------------------------------
# Log-bucket histogram quantile sketch
# ---------------------------------------------------------------------------

def hist_sketch(df: DataFrame, group_col: str = "source",
                value: str = "n_chars") -> DataFrame:
    """Power-of-two histogram sketch of a non-negative integer measure:
    ``(group, blen, cnt)`` where ``blen = length(bin(v))`` is the bit
    length of the value (bucket ``L`` covers ``[2^(L-1), 2^L - 1]``;
    0 shares bucket 1 with 1). Constant-size mergeable state —
    ``O(64)`` counters per group, summed elementwise across shards — the
    quantile-sketch analogue of the KMV/CMS/HLL family above, with the
    same engine-portable discipline: the bucket function is a string
    length of a binary rendering (exact in any engine, never float
    ``log2``) and the state is exact ``COUNT(*)``s.

    One map-side-combined shuffle of at most ``|groups| x 64`` rows per
    task, regardless of corpus size.
    """
    blen = F.length(F.bin(F.col(value).cast("bigint"))).cast("integer")
    return (df.groupBy(F.col(group_col), blen.alias("blen"))
              .agg(F.count(F.lit(1)).alias("cnt")))


def hist_quantiles(sketch: DataFrame, group_col: str = "source",
                   qs: "tuple[tuple[int, int, str], ...]" = (
                       (1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99")),
                   ) -> DataFrame:
    """Quantile read-out from a histogram sketch: for each quantile
    ``num/den`` the reported value is the UPPER BOUND ``2^blen - 1`` of
    the first bucket whose cumulative count reaches ``ceil(num*n/den)``
    — the true quantile is guaranteed inside ``[2^(blen-1), 2^blen - 1]``
    (relative error bounded by the bucket base, 2x; tighter bases are a
    parameter change, not a design change). All rank arithmetic is exact
    integer ``ceil`` via ``(num*n + den - 1) div den`` — no float ranks,
    so the read-out replays bit-for-bit in any engine.

    Returns ``(group, n, {q}_ub ...)``. The window runs over the TINY
    sketch table (<= 64 rows per group), never the corpus.
    """
    w = (Window.partitionBy(group_col).orderBy("blen")
         .rowsBetween(Window.unboundedPreceding, 0))
    wall = (Window.partitionBy(group_col)
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    cum = sketch.select(
        group_col, "blen", "cnt",
        F.sum("cnt").over(w).alias("_cum"),
        F.sum("cnt").over(wall).alias("_n"))
    # expr form: python shiftleft() only takes a literal bit count
    ub = F.expr("shiftleft(CAST(1 AS BIGINT), blen)") - 1
    aggs = [F.max("_n").alias("n")]
    for num, den, label in qs:
        # exact integer ceil(num*n/den) — DIV, never float division
        aggs.append(F.min(F.when(F.col("_cum") >=
                                 F.expr(f"CAST(({num} * _n + {den - 1}) "
                                        f"DIV {den} AS BIGINT)"), ub))
                    .alias(f"{label}_ub"))
    return cum.groupBy(group_col).agg(*aggs)


# ---------------------------------------------------------------------------
# Portable Bloom filter (join pruning)
# ---------------------------------------------------------------------------

_BLOOM_A, _BLOOM_B, _BLOOM_C = 2_654_435_761, 40_503, 17
_BLOOM_P = 999_999_937  # prime < 2^30: key*A stays under 2^63 for key < 1e9


def _bloom_pos(key: Column, j: int, m: int) -> Column:
    """Probe position j in [0, m): exact-bigint double-mod of the engine's
    arithmetic-hash family — replayable in any SQL engine."""
    return F.pmod(
        F.pmod(key * F.lit(_BLOOM_A) + F.lit(j * _BLOOM_B + _BLOOM_C),
               F.lit(_BLOOM_P)), F.lit(m))


def bloom_pos_sql(key_expr: str, j: int, m: int) -> str:
    """The DuckDB mirror of :func:`_bloom_pos` (same exact arithmetic)."""
    return (f"(((({key_expr}) * {_BLOOM_A} + {j * _BLOOM_B + _BLOOM_C})"
            f" % {_BLOOM_P}) % {m})")


def bloom_build(
    keys: DataFrame,
    key_col: str = "fp",
    words: int = 8,
    k: int = 2,
    bits_per_word: int = 62,
) -> DataFrame:
    """Build a Bloom filter over a bigint key column as a SPARSE word
    table ``(word_idx, w)`` — ``w`` is the bit-OR of ``1 << bit`` for
    every probe landing in that 62-bit word (62, not 64: bit 63 is the
    sign and bit-62 shifts overflow differently across engines; staying
    under 62 keeps every word value positive and portable).

    One map-side-combined ``bit_or`` aggregation over k·n probe rows; the
    result is at most ``words`` rows — broadcastable no matter how large
    the key set was.  This is the classic pre-join pruning structure: at
    100 TB you broadcast the O(words) filter instead of the O(n) distinct
    key set, take the (deterministic, replayable) false-positive hits,
    and run the expensive exact join only on the survivors.
    """
    m = words * bits_per_word
    probes = keys.select(
        F.explode(F.array(*[_bloom_pos(F.col(key_col), j, m)
                            for j in range(k)])).alias("__pos"))
    return (probes
            .select(F.expr(f"__pos div {bits_per_word}").alias("word_idx"),
                    F.expr(f"shiftleft(1L, CAST(__pos % {bits_per_word}"
                           " AS INT))").alias("__bit"))
            .groupBy("word_idx").agg(F.expr("bit_or(__bit)").alias("w")))


def bloom_probe(
    df: DataFrame,
    filt: DataFrame,
    key_col: str = "fp",
    words: int = 8,
    k: int = 2,
    bits_per_word: int = 62,
    out_col: str = "bloom_hit",
) -> DataFrame:
    """Test every row's key against a :func:`bloom_build` table: the row
    is a candidate iff ALL k probe bits are set.  The filter side is
    explicitly broadcast (<= ``words`` rows); the probe explodes k rows
    per input, joins on the word index, and folds back with
    ``min(bit set)`` — one broadcast hash join, no shuffle of ``df``
    beyond the fold's partial aggregation.

    False positives are inherent to the structure and exactly
    reproducible: the probe arithmetic is the same exact-bigint family
    as the build, so any engine replaying it flags the identical
    candidate set.
    """
    m = words * bits_per_word
    probes = df.select(
        key_col,
        F.explode(F.array(*[_bloom_pos(F.col(key_col), j, m)
                            for j in range(k)])).alias("__pos"))
    probes = probes.select(
        key_col,
        F.expr(f"__pos div {bits_per_word}").alias("word_idx"),
        F.expr(f"shiftleft(1L, CAST(__pos % {bits_per_word} AS INT))")
        .alias("__bit"))
    j = probes.join(F.broadcast(filt), "word_idx", "left")
    hit = ((F.col("w").isNotNull())
           & (F.col("w").bitwiseAND(F.col("__bit")) != 0)).cast("int")
    agg = (j.groupBy(key_col)
           .agg(F.min(hit).alias("__all_set")))
    return df.join(agg, key_col, "left").withColumn(
        out_col, F.coalesce(F.col("__all_set") == 1, F.lit(False))
    ).drop("__all_set")

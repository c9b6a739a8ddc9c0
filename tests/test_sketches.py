"""Mergeable sketches (operators/sketches.py): KMV distinct-count and
count-min, plus the Gopher rule filter and the C4-style segment rewrite.

The load-bearing properties, each pinned exactly:

- KMV: exact when a group holds fewer than k distinct values; the monoid
  law ``take_k(kmv(A) ∪ kmv(B)) == kmv(A ∪ B)``; partitioning invariance;
  estimate accuracy within a 2x band on the real corpus.
- CMS: never underestimates; exact when the width eliminates collisions;
  elementwise-sum merge law over disjoint shards; partitioning invariance.
- gopher_rules: hand-computed rule booleans, empty-document safety.
- segment_dedup: globally-first occurrence kept, reassembly order, partial
  final segments, fully-duplicated documents, partitioning invariance.
"""

import pytest
from pyspark.sql import functions as F

from fs2_data_spark.functions.text import shingle_hashes, word_hash, words
from fs2_data_spark.operators.dedup import segment_dedup
from fs2_data_spark.operators.quality import gopher_rules
from fs2_data_spark.operators.sketches import (
    KMV_P,
    cms_point_query,
    cms_sketch,
    kmv_estimate,
    kmv_hash,
    kmv_sketch,
)


def _elems(spark, rows):
    return spark.createDataFrame(rows, "source string, h bigint")


def _fold(a, b, keys, agg):
    """The monoid merge of two sketch frames: ``agg`` over ``keys`` of their
    union — how shards' sketches combine without re-scanning."""
    return a.unionByName(b).groupBy(*keys).agg(agg)


# ---------------------------------------------------------------------------
# KMV
# ---------------------------------------------------------------------------

def test_kmv_exact_below_k(spark):
    el = _elems(spark, [("s", 10), ("s", 20), ("s", 20), ("s", 30)])
    out = kmv_estimate(kmv_sketch(el, k=16), k=16).collect()[0]
    assert out.n_kept == 3
    assert out.kth_hash is None
    assert out.est_distinct == 3.0


def test_kmv_kth_statistic(spark):
    el = _elems(spark, [("s", h) for h in range(1, 100)])
    out = kmv_estimate(kmv_sketch(el, k=4), k=4).collect()[0]
    assert out.n_kept == 4
    assert out.kth_hash == 4
    assert out.est_distinct == round(3.0 * KMV_P / 4.0, 4)


def test_kmv_merge_law(spark):
    # take_k(kmv(A) ∪ kmv(B)) == kmv(A ∪ B), including overlapping values
    a = _elems(spark, [("s", h) for h in (5, 1, 9, 13, 7)]
               + [("t", h) for h in (2, 4)])
    b = _elems(spark, [("s", h) for h in (3, 9, 11, 2)])
    k = 4
    got = {}
    for r in kmv_sketch(a, k=k).unionByName(kmv_sketch(b, k=k)).collect():
        got[r.source] = sorted(set(got.get(r.source, [])) | set(r.kmv))[:k]
    whole = kmv_sketch(a.unionByName(b), k=k)
    want = {r.source: r.kmv for r in whole.collect()}
    assert got == want == {"s": [1, 2, 3, 5], "t": [2, 4]}


def test_kmv_partitioning_invariance(spark):
    el = _elems(spark, [("s", (h * 37) % 101) for h in range(1, 101)])
    base = kmv_sketch(el.coalesce(1), k=8).collect()[0].kmv
    for n in (3, 7):
        assert kmv_sketch(el.repartition(n), k=8).collect()[0].kmv == base


def test_kmv_estimate_band_on_corpus(spark, documents):
    # the re-mixed hash must keep the estimator within a 2x band of truth
    # (raw mixed-radix shingle hashes were measured 100x off — the bug this
    # test would have caught)
    el = (documents
          .select("source", F.explode(shingle_hashes("text")).alias("s"))
          .select("source", kmv_hash(F.col("s")).alias("h")))
    est = kmv_estimate(kmv_sketch(el, k=64), k=64)
    exact = (el.distinct().groupBy("source")
               .agg(F.count(F.lit(1)).alias("exact")))
    for r in est.join(exact, "source").collect():
        assert r.exact / 2 <= r.est_distinct <= r.exact * 2, r


# ---------------------------------------------------------------------------
# CMS
# ---------------------------------------------------------------------------

def _occ(spark, pairs):
    rows = [(w,) for w, n in pairs for _ in range(n)]
    df = spark.createDataFrame(rows, "word string")
    return df.select("word", word_hash(F.col("word")).alias("h"))


def test_cms_never_underestimates(spark):
    occ = _occ(spark, [("w%d" % i, i + 1) for i in range(40)])
    sk = cms_sketch(occ.select("h"), depth=3, width=8)  # heavy collisions
    q = occ.groupBy("word", "h").agg(F.count(F.lit(1)).alias("exact"))
    got = cms_point_query(sk, q, depth=3, width=8).collect()
    assert len(got) == 40
    assert all(r.cms_est >= r.exact for r in got)


def test_cms_exact_when_wide(spark):
    occ = _occ(spark, [("alpha", 5), ("beta", 3), ("gamma", 1)])
    sk = cms_sketch(occ.select("h"), depth=3, width=4096)
    q = occ.groupBy("word", "h").agg(F.count(F.lit(1)).alias("exact"))
    got = cms_point_query(sk, q, depth=3, width=4096).collect()
    assert {r.word: r.cms_est for r in got} == {"alpha": 5, "beta": 3,
                                               "gamma": 1}


def test_cms_merge_law(spark):
    occ = _occ(spark, [("w%d" % i, 2 * i + 1) for i in range(30)])
    half_a = occ.filter(F.col("h") % 2 == 0).select("h")
    half_b = occ.filter(F.col("h") % 2 == 1).select("h")
    merged = _fold(cms_sketch(half_a, depth=3, width=16),
                   cms_sketch(half_b, depth=3, width=16),
                   ["row", "bucket"], F.sum("cnt").alias("cnt"))
    whole = cms_sketch(occ.select("h"), depth=3, width=16)
    as_map = lambda df: {(r.row, r.bucket): r.cnt for r in df.collect()}  # noqa: E731
    assert as_map(merged) == as_map(whole)


def test_cms_partitioning_invariance(spark):
    occ = _occ(spark, [("w%d" % i, i + 1) for i in range(20)]).select("h")
    base = {(r.row, r.bucket): r.cnt
            for r in cms_sketch(occ.coalesce(1), depth=3, width=16).collect()}
    got = {(r.row, r.bucket): r.cnt
           for r in cms_sketch(occ.repartition(5), depth=3,
                               width=16).collect()}
    assert got == base


# ---------------------------------------------------------------------------
# gopher_rules
# ---------------------------------------------------------------------------

def test_gopher_rules_hand_computed(spark):
    rows = [
        # 32 words incl. 'the' and 'a': everything passes
        (1, "the quick brown fox jumps over a lazy dog " + "word " * 23),
        # too short
        (2, "the a short doc"),
        # symbol-heavy: 30 words but ### on many
        (3, " ".join("tok#" for _ in range(15))
            + " the a " + "x " * 13),
        # only one distinct stopword
        (4, "the " * 15 + "word " * 20),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in gopher_rules(d, min_words=30).collect()}
    assert got[1].gopher_pass
    assert not got[2].word_count_ok and not got[2].gopher_pass
    assert got[3].n_words == 30 and got[3].symbol_ratio == 0.5
    assert not got[3].symbol_ok and not got[3].gopher_pass
    assert got[4].n_stop_distinct == 1 and not got[4].stop_ok


def test_gopher_rules_empty_doc(spark):
    d = spark.createDataFrame([(1, "")], "doc_id bigint, text string")
    r = gopher_rules(d).collect()[0]
    assert r.n_words == 0 and r.mean_wlen == 0.0 and not r.gopher_pass


def test_gopher_ellipsis_counts_per_word(spark):
    d = spark.createDataFrame([(1, "a... b... " + "c " * 18)],
                              "doc_id bigint, text string")
    r = gopher_rules(d, min_words=5).collect()[0]
    assert r.n_words == 20
    assert r.symbol_ratio == 0.1  # 2 ellipses / 20 words
    assert r.symbol_ok


# ---------------------------------------------------------------------------
# segment_dedup
# ---------------------------------------------------------------------------

def _seg_docs(spark):
    rows = [
        (1, "a b c d e f"),          # segs (w=4): "a b c d", "e f"
        (2, "a b c d x y z w"),      # first seg duplicates doc 1's
        (3, "e f"),                  # duplicates doc 1's tail segment
        (4, ""),                     # empty
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_segment_dedup_first_seen(spark):
    got = {r.doc_id: r for r in
           segment_dedup(_seg_docs(spark), seg_words=4).collect()}
    assert got[1].n_seg == 2 and got[1].n_kept == 2
    assert got[1].clean_text == "a b c d e f"
    assert got[2].n_seg == 2 and got[2].n_kept == 1
    assert got[2].clean_text == "x y z w"
    assert got[3].n_seg == 1 and got[3].n_kept == 0
    assert got[3].clean_text == ""
    assert got[4].n_seg == 0 and got[4].n_kept == 0
    assert got[4].clean_text == ""


def test_segment_dedup_partitioning_invariance(spark, documents):
    d = documents.select("doc_id", "text").limit(120)
    base = {r.doc_id: (r.n_kept, r.clean_text)
            for r in segment_dedup(d.coalesce(1)).collect()}
    got = {r.doc_id: (r.n_kept, r.clean_text)
           for r in segment_dedup(d.repartition(7)).collect()}
    assert got == base


def test_segment_dedup_identity_without_duplicates(spark):
    d = spark.createDataFrame(
        [(i, " ".join(f"u{i}w{j}" for j in range(11))) for i in range(5)],
        "doc_id bigint, text string")
    for r in segment_dedup(d, seg_words=4).collect():
        assert r.n_seg == 3 and r.n_kept == 3
        assert r.clean_text == " ".join(f"u{r.doc_id}w{j}" for j in range(11))


# ---------------------------------------------------------------------------
# drop_boilerplate_segments (CCNet-style: removed from EVERY doc)
# ---------------------------------------------------------------------------

def test_boilerplate_removed_from_all_docs(spark):
    from fs2_data_spark.operators.dedup import drop_boilerplate_segments
    got = {r.doc_id: r for r in drop_boilerplate_segments(
        _seg_docs(spark), seg_words=4, min_docs=2).collect()}
    # "a b c d" is in docs 1+2, "e f" in docs 1+3: both vanish EVERYWHERE
    assert got[1].n_kept == 0 and got[1].clean_text == ""
    assert got[2].n_kept == 1 and got[2].clean_text == "x y z w"
    assert got[3].n_kept == 0 and got[3].clean_text == ""
    assert got[4].n_seg == 0 and got[4].clean_text == ""


def test_boilerplate_within_doc_repeats_survive(spark):
    """The threshold counts DISTINCT documents: a segment repeated ten
    times inside one document is not boilerplate."""
    from fs2_data_spark.operators.dedup import drop_boilerplate_segments
    d = spark.createDataFrame(
        [(1, " ".join(["p q"] * 10)), (2, "r s t u")],
        "doc_id bigint, text string")
    got = {r.doc_id: r for r in drop_boilerplate_segments(
        d, seg_words=2, min_docs=2).collect()}
    assert got[1].n_kept == 10
    assert got[2].n_kept == 2


def test_boilerplate_threshold_and_partitioning_invariance(spark, documents):
    from fs2_data_spark.operators.dedup import drop_boilerplate_segments
    d = documents.select("doc_id", "text").limit(120)
    base = {r.doc_id: (r.n_kept, r.clean_text) for r in
            drop_boilerplate_segments(d.coalesce(1), min_docs=3).collect()}
    got = {r.doc_id: (r.n_kept, r.clean_text) for r in
           drop_boilerplate_segments(d.repartition(7), min_docs=3).collect()}
    assert got == base
    # a high-enough threshold is the identity rewrite
    keep_all = drop_boilerplate_segments(d, min_docs=10**9)
    assert all(r.n_kept == r.n_seg for r in keep_all.collect())


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------

def _hll_py_registers(vals):
    """Pure-Python reference: register array for a value set."""
    from fs2_data_spark.operators import sketches as SK
    reg = [0] * SK.HLL_M
    for v in vals:
        r = v % SK.KMV_P
        r = (r * SK._KA1 + SK._KB1) % SK.KMV_P
        h = (r * SK._KA2 + SK._KB2) % SK.KMV_P
        w = ((h * SK._HA3 + SK._HB3) % SK.KMV_P) % (1 << SK.HLL_B)
        rho = SK.HLL_B + 1 if w == 0 else SK.HLL_B - (w.bit_length() - 1)
        b = h % SK.HLL_M
        reg[b] = max(reg[b], rho)
    return reg


def test_hll_registers_match_python_reference(spark):
    import random
    from fs2_data_spark.operators.sketches import (
        HLL_M, hll_registers, kmv_hash)
    rng = random.Random(11)
    vals = [rng.randrange(10 ** 15) for _ in range(300)]
    el = (spark.createDataFrame([(v,) for v in vals], "x bigint")
          .select(F.lit("g").alias("source"), kmv_hash(F.col("x")).alias("h")))
    got = {r.bucket: r.r for r in hll_registers(el).collect()}
    ref = _hll_py_registers(vals)
    assert got == {b: r for b, r in enumerate(ref) if r > 0}
    assert all(0 <= b < HLL_M for b in got)


def test_hll_merge_law(spark):
    # registers(A ∪ B) == elementwise max(registers(A), registers(B)),
    # including overlapping elements
    import random
    from fs2_data_spark.operators.sketches import (
        hll_estimate, hll_registers, kmv_hash)
    rng = random.Random(23)
    a_vals = [rng.randrange(10 ** 15) for _ in range(400)]
    b_vals = a_vals[:100] + [rng.randrange(10 ** 15) for _ in range(300)]

    def regs(vals):
        el = (spark.createDataFrame([(v,) for v in vals], "x bigint")
              .select(F.lit("g").alias("source"),
                      kmv_hash(F.col("x")).alias("h")))
        return hll_registers(el)

    merged = _fold(regs(a_vals), regs(b_vals), ["source", "bucket"],
                   F.max("r").alias("r"))
    union = {(r.bucket, r.r) for r in regs(a_vals + b_vals).collect()}
    assert {(r.bucket, r.r) for r in merged.collect()} == union
    # and the estimate is a pure function of the registers
    e1 = hll_estimate(merged).collect()[0]
    e2 = hll_estimate(regs(a_vals + b_vals)).collect()[0]
    assert (e1.sum_scaled, e1.n_zero, e1.est_distinct) == \
           (e2.sum_scaled, e2.n_zero, e2.est_distinct)


def test_hll_small_range_uses_linear_counting(spark):
    # a handful of elements -> V > 0, raw <= 2.5 m -> the precomputed
    # m*ln(m/V) literal, not the raw harmonic estimate
    from fs2_data_spark.operators.sketches import (
        _HLL_LC, hll_estimate, hll_registers, kmv_hash)
    el = (spark.createDataFrame([(v,) for v in range(1, 9)], "x bigint")
          .select(F.lit("g").alias("source"), kmv_hash(F.col("x")).alias("h")))
    out = hll_estimate(hll_registers(el)).collect()[0]
    assert out.n_zero > 0
    assert out.est_distinct == round(_HLL_LC[out.n_zero], 4)
    # 8 distinct elements: linear counting is near-exact at this load
    assert abs(out.est_distinct - 8) <= 1


def test_hll_estimate_band(spark):
    # 13% standard error at m=64 -> a +-40% (3 sigma) band is a hard bound
    import random
    from fs2_data_spark.operators.sketches import (
        hll_estimate, hll_registers, kmv_hash)
    rng = random.Random(5)
    vals = list({rng.randrange(10 ** 15) for _ in range(3000)})
    el = (spark.createDataFrame([(v,) for v in vals], "x bigint")
          .select(F.lit("g").alias("source"), kmv_hash(F.col("x")).alias("h")))
    out = hll_estimate(hll_registers(el)).collect()[0]
    assert abs(out.est_distinct - len(vals)) / len(vals) < 0.4


def test_hll_partitioning_invariance(spark):
    import random
    from fs2_data_spark.operators.sketches import (
        hll_estimate, hll_registers, kmv_hash)
    rng = random.Random(31)
    vals = [rng.randrange(10 ** 15) for _ in range(500)]

    def est(npart):
        el = (spark.createDataFrame([(v,) for v in vals], "x bigint")
              .repartition(npart)
              .select(F.lit("g").alias("source"),
                      kmv_hash(F.col("x")).alias("h")))
        r = hll_estimate(hll_registers(el)).collect()[0]
        return (r.sum_scaled, r.n_zero, r.est_distinct)

    assert est(1) == est(7) == est(32)


# ---------------------------------------------------------------------------
# MinHash union similarity
# ---------------------------------------------------------------------------

def test_minhash_union_monoid_law(spark):
    # sig(A ∪ B) == elementwise min(sig(A), sig(B)): computing the group
    # signature from shard halves must equal the whole-group signature
    from fs2_data_spark.functions.text import HASH_PRIME, word_codes
    texts = ["alpha beta gamma delta", "beta epsilon zeta",
             "gamma eta theta iota kappa"]
    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string")

    def sig_of(df):
        wc = df.select(F.explode(word_codes("text")).alias("c"))
        aggs = []
        for i in range(8):
            a, b = 1_103_515_245 + 2 * i + 1, 12_345 + 7_919 * i
            aggs.append(F.min(F.pmod(F.col("c") * a + b,
                                     F.lit(HASH_PRIME))).alias(f"mh{i}"))
        return wc.agg(*aggs).collect()[0]

    whole = sig_of(d)
    h1, h2 = sig_of(d.filter("doc_id < 1")), sig_of(d.filter("doc_id >= 1"))
    assert tuple(whole) == tuple(min(x, y) for x, y in zip(h1, h2))


def test_minhash_union_similarity_extremes(spark):
    # identical vocabularies -> every component agrees, exact jaccard 1;
    # disjoint vocabularies -> exact jaccard 0 (sketch agreement ~0 w.h.p.)
    from fs2_data_spark.operators.sketches import minhash_union_similarity
    d = spark.createDataFrame(
        [(1, "aa bb cc dd", "x"), (2, "dd cc bb aa aa", "y"),
         (3, "ee ff gg hh", "z")],
        "doc_id bigint, text string, source string")
    out = {(r.s1, r.s2): r for r in
           minhash_union_similarity(d, "source", "text", k=8).collect()}
    xy = out[("x", "y")]
    assert xy.n_agree == 8 and xy.est_jaccard == 1.0 and xy.jaccard == 1.0
    for pair in (("x", "z"), ("y", "z")):
        assert out[pair].inter_cnt == 0 and out[pair].jaccard == 0.0


def test_minhash_union_estimator_tracks_exact(spark):
    # half-overlapping vocabularies: the sketch estimate must land within
    # the k=8 binomial band around the exact jaccard
    import random
    rng = random.Random(13)
    # word_codes is the coarse (first char, last char, length) code — give
    # every vocab word a distinct triple so the code set IS the word set
    vocab = [chr(65 + j % 26) + chr(97 + j // 26) for j in range(400)]
    a_words = vocab[:300]
    b_words = vocab[100:400]  # exact J = 200/400 = 0.5
    rows = []
    for i in range(50):
        rows.append((i, " ".join(rng.sample(a_words, 40)), "A"))
        rows.append((100 + i, " ".join(rng.sample(b_words, 40)), "B"))
    # make coverage complete so the vocab IS the word set
    rows.append((998, " ".join(a_words), "A"))
    rows.append((999, " ".join(b_words), "B"))
    from fs2_data_spark.operators.sketches import minhash_union_similarity
    d = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    r = minhash_union_similarity(d, "source", "text", k=8).collect()[0]
    assert r.inter_cnt == 200 and r.union_cnt == 400 and r.jaccard == 0.5
    assert abs(r.est_jaccard - 0.5) <= 3 * (0.5 * 0.5 / 8) ** 0.5  # 3 sigma


# ---------------------------------------------------------------------------
# HLL trailing-window merge
# ---------------------------------------------------------------------------

def test_hll_trailing_equals_direct_window_sketch(spark):
    """The time-merge law: the trailing-window estimate from per-bucket
    register maxima must equal the estimate built DIRECTLY from the raw
    elements of that window (sketch-of-union == union-of-sketches)."""
    import random

    from pyspark.sql import functions as F
    from fs2_data_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
        hll_trailing_estimate,
        kmv_hash,
    )
    rng = random.Random(13)
    rows = [(rng.randint(0, 11), rng.randint(0, 400)) for _ in range(3000)]
    df = spark.createDataFrame(rows, "hour_no bigint, uid bigint").select(
        "hour_no", kmv_hash(F.col("uid")).alias("h"))
    got = {r.hour_no: (r.sum_scaled, r.n_zero, r.est_distinct)
           for r in hll_trailing_estimate(df, "hour_no", "h",
                                          trail=3).collect()}
    hours = sorted({h for h, _ in rows})
    for hr in hours:
        win = df.filter((F.col("hour_no") >= hr - 2)
                        & (F.col("hour_no") <= hr)) \
                .select(F.lit(hr).alias("hour_no"), "h")
        direct = hll_estimate(hll_registers(win, "hour_no", "h"),
                              "hour_no").collect()[0]
        assert got[hr] == (direct.sum_scaled, direct.n_zero,
                           direct.est_distinct), hr
    assert set(got) == set(hours)  # only buckets that exist get a window


# ---------------------------------------------------------------------------
# log-bucket histogram quantile sketch
# ---------------------------------------------------------------------------

def _hist_df(spark, vals, src="a"):
    return spark.createDataFrame([(src, v) for v in vals],
                                 "source string, n_chars bigint")


def test_hist_sketch_buckets_exact(spark):
    from fs2_data_spark.operators.sketches import hist_sketch
    d = _hist_df(spark, [0, 1, 2, 3, 4, 7, 8, 1023, 1024])
    got = {r.blen: r.cnt for r in hist_sketch(d).collect()}
    # 0 and 1 share bucket blen=1; [2,3] -> 2; [4,7] -> 3; 8 -> 4;
    # 1023 -> 10; 1024 -> 11
    assert got == {1: 2, 2: 2, 3: 2, 4: 1, 10: 1, 11: 1}


def test_hist_quantiles_hand_computed(spark):
    from fs2_data_spark.operators.sketches import hist_quantiles, hist_sketch
    # 10 values: ranks p50 -> 5th, p90 -> 9th, p99 -> 10th
    vals = [1, 1, 2, 3, 6, 6, 7, 20, 200, 5000]
    out = hist_quantiles(hist_sketch(_hist_df(spark, vals))).collect()[0]
    assert out.n == 10
    assert out.p50_ub == 7       # 5th smallest = 6, bucket [4,7]
    assert out.p90_ub == 255     # 9th = 200, bucket [128,255]
    assert out.p99_ub == 8191    # 10th = 5000, bucket [4096,8191]


def test_hist_quantile_containment(spark):
    """The true quantile always lands inside the reported bucket."""
    from fs2_data_spark.operators.sketches import hist_quantiles, hist_sketch
    vals = [(i * 7919) % 10007 for i in range(500)]
    out = hist_quantiles(hist_sketch(_hist_df(spark, vals))).collect()[0]
    sv = sorted(vals)
    for num, den, col in ((1, 2, out.p50_ub), (9, 10, out.p90_ub),
                          (99, 100, out.p99_ub)):
        rank = -(-num * len(sv) // den)   # ceil
        true_q = sv[rank - 1]
        assert (col + 1) // 2 <= max(true_q, 1) <= col


def test_hist_merge_monoid_law(spark):
    """sketch(A) + sketch(B) == sketch(A union B), hence identical
    quantile read-outs — the property that lets shards fold at 100 TB."""
    from fs2_data_spark.operators.sketches import hist_quantiles, hist_sketch
    a = [(i * 13) % 997 for i in range(200)]
    b = [(i * 31) % 4093 for i in range(150)]
    merged = _fold(hist_sketch(_hist_df(spark, a)),
                   hist_sketch(_hist_df(spark, b)), ["source", "blen"],
                   F.sum("cnt").alias("cnt"))
    whole = hist_sketch(_hist_df(spark, a + b))
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, whole.collect())))
    qa = hist_quantiles(merged).collect()[0]
    qb = hist_quantiles(whole).collect()[0]
    assert qa == qb


# ---------------------------------------------------------------------------
# Portable Bloom filter
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_deterministic(spark):
    from fs2_data_spark.operators.sketches import bloom_build, bloom_probe
    keys = spark.createDataFrame([(i * 977 + 13,) for i in range(80)],
                                 "fp bigint")
    filt = bloom_build(keys, "fp", words=8, k=2)
    probe = spark.createDataFrame([(i * 977 + 13,) for i in range(200)],
                                  "fp bigint")
    out = {r.fp: r.bloom_hit for r in
           bloom_probe(probe, filt, "fp", words=8, k=2).collect()}
    member = {i * 977 + 13 for i in range(80)}
    # Bloom contract: every member hits (no false negatives)
    assert all(out[k] for k in member)
    # determinism: a second build+probe flags the identical set
    out2 = {r.fp: r.bloom_hit for r in
            bloom_probe(probe, bloom_build(keys, "fp", words=8, k=2),
                        "fp", words=8, k=2).collect()}
    assert out == out2


def test_bloom_words_bounded_and_positive(spark):
    from fs2_data_spark.operators.sketches import bloom_build
    keys = spark.createDataFrame([(i,) for i in range(5000)], "fp bigint")
    rows = bloom_build(keys, "fp", words=8, k=2).collect()
    assert len(rows) <= 8                      # broadcastable no matter n
    assert all(r.w > 0 for r in rows)          # 62-bit discipline: no sign bit
    assert all(0 <= r.word_idx < 8 for r in rows)


def test_bloom_fp_rate_sane_at_size(spark):
    """A filter sized ~10 bits/key must prune most non-members."""
    from fs2_data_spark.operators.sketches import bloom_build, bloom_probe
    keys = spark.createDataFrame([(i * 31 + 7,) for i in range(300)],
                                 "fp bigint")
    filt = bloom_build(keys, "fp", words=64, k=3)   # 3968 bits / 300 keys
    others = spark.createDataFrame(
        [(10_000_000 + i * 53,) for i in range(500)], "fp bigint")
    hits = sum(r.bloom_hit for r in
               bloom_probe(others, filt, "fp", words=64, k=3).collect())
    assert hits < 100  # theoretical fp ~ 4%; generous bound for the hash family

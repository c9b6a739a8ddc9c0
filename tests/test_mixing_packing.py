"""Data-mixing (stratified sampling) + sequence-packing operators."""

import pytest
from pyspark.sql import functions as F

from fs2_data_spark.operators.mixing import (
    portable_unit_hash,
    stratified_sample,
)
from fs2_data_spark.operators.packing import _pack_scan, pack_sequences


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 6, "web")
         .when(F.col("id") % 10 < 9, "code")
         .otherwise("books").alias("source"))


def test_stratified_sample_deterministic_and_partition_invariant(spark, corpus):
    rates = {"web": 0.3, "code": 0.8, "books": 1.0}
    for method in ("portable", "xxhash64"):
        a = {r.doc_id for r in
             stratified_sample(corpus, rates, method=method).collect()}
        b = {r.doc_id for r in
             stratified_sample(corpus.repartition(13), rates,
                               method=method).collect()}
        assert a == b and a, method


def test_stratified_sample_hits_rates(spark, corpus):
    rates = {"web": 0.3, "code": 0.8, "books": 1.0}
    for method in ("portable", "xxhash64"):
        got = (stratified_sample(corpus, rates, method=method)
               .groupBy("source").count().collect())
        n = {r.source: r["count"] for r in got}
        assert n["books"] == 1000                      # rate 1.0 keeps all
        assert abs(n["web"] / 6000 - 0.3) < 0.03, method
        assert abs(n["code"] / 3000 - 0.8) < 0.03, method


def test_stratified_sample_default_rate_zero_drops_unlisted(spark, corpus):
    out = stratified_sample(corpus, {"books": 1.0}, default_rate=0.0)
    assert {r.source for r in out.collect()} == {"books"}


def test_portable_hash_matches_duckdb(spark):
    import duckdb
    df = spark.range(500).select(
        F.col("id"), portable_unit_hash(F.col("id"), seed=42).alias("h"))
    got = {r.id: r.h for r in df.collect()}
    exp = dict(duckdb.sql(
        "SELECT i, ((i * 2654435761 + 42) % 1000003 * 40503 + 17) % 999983 "
        "FROM range(500) t(i)").fetchall())
    assert got == exp


# --- packing ---------------------------------------------------------------

def test_pack_scan_greedy_semantics():
    bins, fills = _pack_scan([3, 4, 2, 5, 1, 1], cap=7)
    # [3,4]=7 | [2,5]=7 | [1,1]=2
    assert list(bins) == [0, 0, 1, 1, 2, 2]
    assert list(fills) == [3, 7, 2, 7, 1, 2]
    # oversized sequence gets its own overflowing bin
    bins, fills = _pack_scan([2, 9, 2], cap=5)
    assert list(bins) == [0, 1, 2]
    assert list(fills) == [2, 9, 2]
    # exact fit closes the bin on the next element
    bins, _ = _pack_scan([5, 1], cap=5)
    assert list(bins) == [0, 1]
    assert _pack_scan([], cap=5)[0].size == 0


def test_pack_sequences_per_group_and_invariance(spark):
    rows = [(i, "a" if i % 2 == 0 else "b", 3 + (i % 4)) for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_tok int")
    out = pack_sequences(df, max_tokens=10).collect()
    by_bin = {}
    for r in out:
        by_bin.setdefault(r.bin_key, []).append(r)
    for key, members in by_bin.items():
        tot = sum(m.n_tok for m in members)
        assert tot <= 10 or len(members) == 1, key
        assert max(m.bin_fill for m in members) == tot
        assert len({m.source for m in members}) == 1   # never crosses groups
    out2 = pack_sequences(df.repartition(7), max_tokens=10).collect()
    assert sorted((r.doc_id, r.bin_key) for r in out2) == \
        sorted((r.doc_id, r.bin_key) for r in out)


def test_pack_sequences_sharded(spark):
    rows = [(i, 4) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tok int")
    out = pack_sequences(df, max_tokens=16, group_col=None, shard_by=8)
    got = out.collect()
    assert len(got) == 1000 and "__shard" not in out.columns
    fills = {}
    for r in got:
        fills.setdefault(r.bin_key, 0)
        fills[r.bin_key] += r.n_tok
    assert all(v <= 16 for v in fills.values())
    # shards bound group size: more than one shard's worth of bins exists
    assert len({k.split("#")[0] for k in fills}) == 8


# --- hash split ------------------------------------------------------------

def test_split_thresholds_exact_integers():
    from fs2_data_spark.operators.mixing import _P2, split_thresholds
    thr = split_thresholds({"train": 0.9, "val": 0.05, "test": 0.05})
    assert [n for n, _ in thr] == ["train", "val", "test"]
    assert thr[-1][1] == _P2                     # last absorbs residue
    assert all(isinstance(t, int) for _, t in thr)
    assert [t for _, t in thr] == sorted(t for _, t in thr)
    # unnormalized weights normalize
    assert split_thresholds({"a": 9, "b": 1})[0][1] == int(0.9 * _P2)


def test_hash_split_deterministic_partition_invariant(spark, corpus):
    from fs2_data_spark.operators.mixing import hash_split
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    for method in ("portable", "xxhash64"):
        a = {(r.doc_id, r.split) for r in
             hash_split(corpus, w, method=method).collect()}
        b = {(r.doc_id, r.split) for r in
             hash_split(corpus.repartition(11), w, method=method).collect()}
        assert a == b and len(a) == 10_000, method


def test_hash_split_proportions_and_coverage(spark, corpus):
    from fs2_data_spark.operators.mixing import hash_split
    got = (hash_split(corpus, {"train": 0.9, "val": 0.05, "test": 0.05})
           .groupBy("split").count().collect())
    n = {r.split: r["count"] for r in got}
    assert set(n) == {"train", "val", "test"}    # no null split rows
    assert sum(n.values()) == 10_000
    assert abs(n["train"] / 10_000 - 0.9) < 0.02
    assert abs(n["val"] / 10_000 - 0.05) < 0.01
    assert abs(n["test"] / 10_000 - 0.05) < 0.01


def test_hash_split_stable_under_corpus_growth(spark, corpus):
    """Adding rows never moves an existing row across splits (the property
    randomSplit lacks)."""
    from fs2_data_spark.operators.mixing import hash_split
    w = {"train": 0.9, "val": 0.1}
    small = hash_split(corpus.filter(F.col("doc_id") < 2000), w)
    full = hash_split(corpus, w)
    a = {r.doc_id: r.split for r in small.collect()}
    b = {r.doc_id: r.split for r in full.collect()}
    assert all(b[k] == v for k, v in a.items())


def test_hash_split_sql_matches_duckdb(spark, corpus):
    import duckdb

    from fs2_data_spark.operators.mixing import hash_split, hash_split_sql
    w = {"train": 0.9, "val": 0.05, "test": 0.05}
    got = {r.doc_id: r.split
           for r in hash_split(corpus, w, seed=7).collect()}
    case = hash_split_sql(w, "i", seed=7)
    exp = dict(duckdb.sql(
        f"SELECT i, {case} FROM range(10000) t(i)").fetchall())
    assert got == exp


# --- resampling ------------------------------------------------------------

def _portable_hash(i, seed):
    return ((i * 2_654_435_761 + seed) % 1_000_003 * 40_503 + 17) % 999_983


def test_stratified_resample_matches_reference(spark):
    from fs2_data_spark.operators.mixing import _P2, stratified_resample
    rates = {"a": 2.5, "b": 1.0, "c": 0.4, "d": 0.0}
    rows = [(i, "abcde"[i % 5]) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = stratified_resample(df, rates, seed=11, default_rate=0.75,
                              method="portable")
    got = sorted((r.doc_id, r.copy_no) for r in out.collect())
    exp = []
    for i, s in rows:
        r = rates.get(s, 0.75)
        n = int(r) + (1 if _portable_hash(i, 11) < int((r - int(r)) * _P2)
                      else 0)
        exp += [(i, c) for c in range(n)]
    assert got == sorted(exp)
    # the integer-rate stratum keeps exactly one copy of every row
    b_rows = [(i, c) for (i, c) in got if rows[i][1] == "b"]
    assert b_rows == [(i, 0) for i, s in rows if s == "b"]
    # the zero-rate stratum is gone
    assert all(rows[i][1] != "d" for i, _ in got)


def test_stratified_resample_bad_method(spark):
    import pytest as _pytest

    from fs2_data_spark.operators.mixing import stratified_resample
    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with _pytest.raises(ValueError):
        stratified_resample(df, {"a": 1.0}, method="md5")


# ---------------------------------------------------------------------------
# Frequency capping
# ---------------------------------------------------------------------------

def test_cap_per_group_respects_cap_and_partitions(spark, corpus):
    from fs2_data_spark.operators.mixing import cap_per_group
    for method in ("portable", "xxhash64"):
        outs = []
        for nparts in (1, 13):
            out = cap_per_group(corpus.repartition(nparts), cap=100,
                                method=method)
            kept = out.filter("kept")
            by_src = {r.source: r.n for r in
                      kept.groupBy("source")
                          .agg(F.count(F.lit(1)).alias("n")).collect()}
            assert all(n == 100 for n in by_src.values()), (method, by_src)
            outs.append(sorted((r.doc_id, r.cap_rank)
                               for r in kept.collect()))
        assert outs[0] == outs[1], method  # partitioning invariance


def test_cap_per_group_small_groups_untouched(spark):
    from fs2_data_spark.operators.mixing import cap_per_group
    d = spark.createDataFrame(
        [(i, "a") for i in range(5)] + [(i, "b") for i in range(100, 130)],
        "doc_id bigint, source string")
    kept = cap_per_group(d, cap=10).filter("kept")
    by_src = {r.source: r.n for r in
              kept.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
                  .collect()}
    assert by_src == {"a": 5, "b": 10}


def test_cap_per_group_is_uniform_sample(spark, corpus):
    # hash-ordering means the kept set is spread over the id range, not a
    # prefix: the mean kept id should be near the group's mid-range
    from fs2_data_spark.operators.mixing import cap_per_group
    kept = cap_per_group(corpus, cap=200).filter("kept")
    stats = {r.source: r.m for r in
             kept.groupBy("source").agg(F.avg("doc_id").alias("m"))
                 .collect()}
    for src, m in stats.items():
        assert 3000 < m < 7000, (src, m)  # ids run 0..9999 in every group


def test_cap_per_group_bad_method(spark, corpus):
    from fs2_data_spark.operators.mixing import cap_per_group
    with pytest.raises(ValueError):
        cap_per_group(corpus, cap=10, method="md5")


# ---------------------------------------------------------------------------
# length_buckets (padding-waste audit)
# ---------------------------------------------------------------------------

def test_length_buckets_exact_boundaries(spark):
    """Exact powers of two land in their own bucket (the float-log2 trap);
    waste arithmetic is exact."""
    from fs2_data_spark.operators.packing import length_buckets
    rows = [(n,) for n in (1, 2, 3, 4, 5, 8, 9, 1024, 1025)]
    df = spark.createDataFrame(rows, "n_tok bigint")
    got = {r.bucket_len: r for r in length_buckets(df).collect()}
    assert set(got) == {1, 2, 4, 8, 16, 1024, 2048}
    assert got[4].n_seqs == 2            # 3 and 4
    assert got[4].sum_tok == 7
    assert got[4].waste_bucket == 4 * 2 - 7
    assert got[1024].n_seqs == 1 and got[1024].waste_bucket == 0
    assert got[2048].n_seqs == 1 and got[2048].waste_bucket == 1023
    # pad-to-max baseline uses the global max (1025)
    assert got[1].waste_padmax == 1025 - 1
    assert got[2048].fill_frac_bucket == 1025 / 2048
    assert got[2048].fill_frac_padmax == 1.0


def test_length_buckets_accounting_identity(spark, documents):
    """Exact waste accounting: the two waste columns differ by exactly
    (bucket_len - gmax) * n_seqs per bucket (the top pow2 bucket may
    legitimately exceed the global max — pow2 shapes, not a bug), and the
    fill fractions are the implied ratios in (0, 1]."""
    from pyspark.sql import functions as F
    from fs2_data_spark.operators.packing import length_buckets
    from fs2_data_spark.tables import tokens_col
    d = documents.select(
        F.size(tokens_col("text")).cast("bigint").alias("n_tok"))
    rows = length_buckets(d).collect()
    gmax = d.agg(F.max("n_tok")).first()[0]
    for r in rows:
        assert r.waste_bucket - r.waste_padmax == \
            (r.bucket_len - gmax) * r.n_seqs
        assert r.fill_frac_bucket == r.sum_tok / (r.bucket_len * r.n_seqs)
        assert 0 < r.fill_frac_bucket <= 1.0
        assert 0 < r.fill_frac_padmax <= 1.0


# ---------------------------------------------------------------------------
# negative_pairs (contrastive negative sampling)
# ---------------------------------------------------------------------------

def test_negative_pairs_deterministic_and_bucket_fenced(spark):
    from fs2_data_spark.operators.mixing import (
        _M1, _P1, _P2, _M2, negative_pairs, portable_unit_hash)
    from pyspark.sql import functions as F
    d = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    a = sorted(map(str, negative_pairs(d.coalesce(1), k=3,
                                       n_buckets=8).collect()))
    b = sorted(map(str, negative_pairs(d.repartition(13), k=3,
                                       n_buckets=8).collect()))
    assert a == b
    rows = negative_pairs(d, k=3, n_buckets=8).collect()
    bucket = {r.doc_id: r.b for r in d.select(
        "doc_id", F.pmod(portable_unit_hash(F.col("doc_id"), 42),
                         F.lit(8)).alias("b")).collect()}
    for r in rows:
        assert r.neg_id != r.anchor_id
        assert bucket[r.neg_id] == bucket[r.anchor_id]
        assert 1 <= r.neg_rank <= 3


def test_negative_pairs_vary_per_anchor(spark):
    """Regression: the pair-mix hash must depend on BOTH ids — a term that
    cancels mod P would give every anchor in a bucket the same negative
    set (global candidate order)."""
    from pyspark.sql import functions as F
    from fs2_data_spark.operators.mixing import negative_pairs
    d = spark.range(0, 400).select(F.col("id").alias("doc_id"))
    rows = negative_pairs(d, k=2, n_buckets=2).collect()
    from collections import defaultdict
    negs = defaultdict(set)
    for r in rows:
        negs[r.anchor_id].add(r.neg_id)
    sets = [frozenset(v) for v in negs.values()]
    assert len(set(sets)) > len(sets) // 4  # many distinct negative sets


def test_negative_pairs_lonely_bucket_yields_none(spark):
    from pyspark.sql import functions as F
    from fs2_data_spark.operators.mixing import negative_pairs
    d = spark.createDataFrame([(1,)], "doc_id bigint")
    assert negative_pairs(d, k=3, n_buckets=4).count() == 0


# ---------------------------------------------------------------------------
# purged chronological time folds
# ---------------------------------------------------------------------------

def _fold_events(spark, us_list):
    import datetime as dt
    rows = [(i, dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=us))
            for i, us in enumerate(us_list)]
    return spark.createDataFrame(rows, "event_id bigint, ts timestamp")


def test_time_folds_boundaries_exact(spark):
    from fs2_data_spark.operators.mixing import time_folds
    # span = 100 us across [1000, 1099]; k=5 -> folds of exactly 20 us
    d = _fold_events(spark, list(range(1000, 1100)))
    got = {r.event_id: r for r in
           time_folds(d, k=5, embargo_us=3).collect()}
    for i in range(100):
        assert got[i].fold == i // 20
        assert got[i].fold_start_us == 1000 + (i // 20) * 20
    # embargo: first 3 us of folds 1..4 flagged, fold 0 never
    for i in range(100):
        expect = (i // 20 > 0) and (i % 20 < 3)
        assert got[i].in_embargo == expect, i


def test_time_folds_first_last_pinned(spark):
    from fs2_data_spark.operators.mixing import time_folds
    d = _fold_events(spark, [10, 17, 500, 900, 1234])
    got = sorted(time_folds(d, k=3, embargo_us=0).collect(),
                 key=lambda r: r.event_id)
    assert got[0].fold == 0           # min ts always fold 0
    assert got[-1].fold == 2          # max ts always fold k-1
    assert all(0 <= r.fold <= 2 for r in got)


def test_time_folds_purged_train_set_no_leakage(spark):
    """For test fold f, the standard purged train set excludes every row
    whose trailing window (length = embargo) could reach back into f."""
    from fs2_data_spark.operators.mixing import time_folds
    us = list(range(0, 1000, 7))
    d = _fold_events(spark, us)
    emb = 50
    rows = time_folds(d, k=4, embargo_us=emb).collect()
    by_fold = {}
    for r in rows:
        by_fold.setdefault(r.fold, []).append(r)
    for f in range(3):                       # test folds with a successor
        test_end = max(x.event_id * 7 for x in by_fold[f])
        train = [r for r in rows
                 if r.fold != f and not (r.fold == f + 1 and r.in_embargo)]
        for r in train:
            t = r.event_id * 7
            # no train row in (test_end, test_end + emb - slack]: the
            # embargo window is anchored at the NEXT fold boundary, which
            # is >= test_end, so everything closer than emb after the
            # boundary is gone
            if r.fold == f + 1:
                assert t - r.fold_start_us >= emb


def test_epoch_shuffle_permutation_and_epoch_divergence(spark):
    from fs2_data_spark.operators.mixing import epoch_shuffle
    d = spark.createDataFrame([(i,) for i in range(300)], "doc_id bigint")
    p0 = {r.doc_id: r.shuffle_pos
          for r in epoch_shuffle(d, epoch=0, num_partitions=5).collect()}
    p1 = {r.doc_id: r.shuffle_pos
          for r in epoch_shuffle(d, epoch=1, num_partitions=5).collect()}
    assert sorted(p0.values()) == list(range(1, 301))  # dense permutation
    assert sorted(p1.values()) == list(range(1, 301))
    assert p0 != p1                      # epochs genuinely reorder
    # determinism across partitioning choices
    p0b = {r.doc_id: r.shuffle_pos
           for r in epoch_shuffle(d, epoch=0, num_partitions=11).collect()}
    assert p0 == p0b


def test_key_skew_audit_exact(spark):
    from fs2_data_spark.plans.partitioning import key_skew_audit
    rows = ([("g", "hot") ] * 60 + [("g", f"k{i}") for i in range(40)])
    df = spark.createDataFrame(rows, "grp string, user_id string")
    out = key_skew_audit(df, key="user_id", group="grp").collect()[0]
    assert out.n_rows == 100 and out.n_keys == 41 and out.max_key_rows == 60
    assert out.top1_share == 0.6
    assert out.skew_factor == round(60 * 41 / 100, 4)
    assert out.recommended_salts == (60 * 41 + 99) // 100

"""Dedup + similarity operators: planted duplicates must be found; exact
brute-force is the oracle for the LSH variants."""

import pyspark.sql.functions as F
import pytest

from fs2_data_spark.functions import veckernels as VK
from fs2_data_spark.functions.textkernels import simhash_kernel
from fs2_data_spark.operators.similarity import cosine_topk, lsh_bucket_topk


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    near = base + " today"                      # near-dup of base
    other = "completely different words about spark engines and token arrays"
    rows = [(0, base), (1, base), (2, near), (3, other), (4, other), (5, "tiny text")]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_simhash_identical_texts_same_hash(spark, docs):
    sh = {r.doc_id: r.sh
          for r in simhash_kernel(docs, "doc_id", "text", 16).collect()}
    assert sh[0] == sh[1] and sh[3] == sh[4]
    # near-dup: small Hamming distance
    assert bin(sh[0] ^ sh[2]).count("1") <= 4


@pytest.fixture(scope="module")
def vecs(spark):
    import math
    rows = []
    for i in range(40):
        ang = (i % 8) / 8.0 * math.pi
        # groups of 5 nearly-identical directions in a 4-dim space
        base = [math.cos(ang), math.sin(ang), 0.3, 0.1]
        eps = (i // 8) * 1e-3
        rows.append((i, [float(x + eps) for x in base]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_cosine_topk_exact(spark, vecs):
    out = cosine_topk(vecs.filter("vec_id < 8"), vecs, k=3, round_dp=4)
    rows = out.collect()
    assert len(rows) == 8 * 3
    by_q = {}
    for r in rows:
        by_q.setdefault(r.q_vec_id, []).append(r)
    for q, rs in by_q.items():
        # nearest neighbours of direction (q % 8) are the same-direction vecs
        assert all(r.n_vec_id % 8 == q % 8 for r in rs), (q, rs)
        assert all(r.cos_sim > 0.999 for r in rs)


def test_lsh_topk_matches_exact_on_buckets(spark, vecs):
    exact = cosine_topk(vecs.filter("vec_id < 8"), vecs, k=1, round_dp=4)
    lsh = lsh_bucket_topk(vecs.filter("vec_id < 8"), vecs, k=1, n_planes=4, dim=4,
                          round_dp=4)
    e = {r.q_vec_id: r.cos_sim for r in exact.collect()}
    l = {r.q_vec_id: r.cos_sim for r in lsh.collect()}
    # LSH recall: whenever a query finds a neighbour, it's the true best one
    for q, sim in l.items():
        assert sim == e[q]
    assert len(l) >= 6  # near-identical vectors share buckets almost surely


def test_embedding_near_dups(spark, vecs):
    """The ``emb_near_dups`` plan: hyperplane-LSH cells, then the exact
    cosine verify of every same-cell pair."""
    aug = VK.lsh_augment_kernel(vecs, "vec_id", "embedding", n_planes=4,
                                dim=4, seed=42)
    raw = VK.cell_pair_candidates(aug.select("vec_id", "v", "sig"),
                                  threshold=0.999, round_dp=4,
                                  id_col="vec_id", vec_col="v",
                                  cell_col="sig")
    got = {(r.j, r.i)
           for r in raw.filter(F.round("cos_raw", 4) >= 0.999).collect()}
    assert all(a < b and a % 8 == b % 8 for a, b in got)
    assert len(got) >= 20  # 8 groups x C(5,2)=10 pairs, LSH keeps most

# --- shingle-LSH jaccard: recall vs the exact all-pairs formulation --------

def _allpairs_shingle_jaccard(spark, docs, threshold):
    """Exact all-pairs shingle Jaccard (quadratic oracle, test-only)."""
    from fs2_data_spark.functions.text import shingle_hashes
    s = docs.select("doc_id", shingle_hashes("text", 3).alias("sh"))
    a = s.select(F.col("doc_id").alias("id1"), F.col("sh").alias("sh1"))
    b = s.select(F.col("doc_id").alias("id2"), F.col("sh").alias("sh2"))
    ninter = F.size(F.array_intersect("sh1", "sh2"))
    jac = ninter.cast("double") / (F.size("sh1") + F.size("sh2") - ninter)
    return (a.join(b, F.col("id1") < F.col("id2"))
            .filter(jac >= threshold)
            .select("id1", "id2", F.round(jac, 6).alias("jaccard")))


def test_jaccard_lsh_recall_vs_allpairs(spark, documents):
    """The LSH candidate-then-verify plan must find (nearly) every pair the
    exact quadratic formulation finds, with identical jaccard values."""
    from fs2_data_spark.operators.dedup import jaccard_lsh_pairs
    exact = {(r.id1, r.id2): r.jaccard
             for r in _allpairs_shingle_jaccard(spark, documents, 0.3).collect()}
    lsh = {(r.id1, r.id2): r.jaccard
           for r in jaccard_lsh_pairs(documents, threshold=0.3).collect()}
    assert set(lsh) <= set(exact)          # precision 1.0: verify is exact
    for p, j in lsh.items():
        assert j == exact[p]
    recall = len(lsh) / max(len(exact), 1)
    assert recall >= 0.9, (recall, len(exact), len(lsh))


def test_jaccard_lsh_planted_near_dups(spark, docs):
    from fs2_data_spark.operators.dedup import jaccard_lsh_pairs
    pairs = {(r.id1, r.id2): r.jaccard
             for r in jaccard_lsh_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0 and pairs[(3, 4)] == 1.0
    assert pairs[(0, 2)] > 0.7            # shingle jaccard of base vs base+word
    assert (0, 3) not in pairs


def test_word_hash_discriminates(spark):
    """word_hash must give near-unique values per word (the weak word_code
    collapsed MinHash minima: one band bucket held 78% of the corpus)."""
    from fs2_data_spark.functions.text import word_hash
    words = ["spark", "spars", "kraps", "a", "ab", "ba", "table", "tablet"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    vals = [r.h for r in df.select(word_hash(F.col("w")).alias("h")).collect()]
    assert len(set(vals)) == len(words)


def test_ivf_topk_recall_vs_exact(spark, vecs):
    from fs2_data_spark.operators.similarity import ivf_topk
    exact = {r.q_vec_id: r.cos_sim
             for r in cosine_topk(vecs.filter("vec_id < 8"), vecs, k=1,
                                  round_dp=4).collect()}
    ivf = {r.q_vec_id: r.cos_sim
           for r in ivf_topk(vecs.filter("vec_id < 8"), vecs, k=1,
                             n_cells=8, nprobe=2, round_dp=4).collect()}
    # every query answered; found neighbour == true best for >= 80% of queries
    assert set(ivf) == set(exact)
    hits = sum(1 for q in exact if ivf[q] == exact[q])
    assert hits >= 0.8 * len(exact), (hits, len(exact))


def test_ivf_index_deterministic(spark, vecs):
    from fs2_data_spark.operators.similarity import ivf_index
    _, a1 = ivf_index(vecs, n_cells=4)
    _, a2 = ivf_index(vecs.repartition(7), n_cells=4)
    m1 = {r.id: r.cell for r in a1.collect()}
    m2 = {r.id: r.cell for r in a2.collect()}
    assert m1 == m2  # partitioning-invariant (deterministic seeds + steps)


def test_ivf_canonical_mode(spark, vecs):
    """Canonical (SQL-reproducible) IVF build: partitioning-invariant,
    centroid coordinates land on the 9-dp rounding grid (decimal-sum means),
    and top-k recall stays comparable to the default build."""
    from fs2_data_spark.operators.similarity import ivf_index, ivf_topk
    cents, a1 = ivf_index(vecs, n_cells=4, canonical=True)
    _, a2 = ivf_index(vecs.repartition(7), n_cells=4, canonical=True)
    assert ({r.id: r.cell for r in a1.collect()}
            == {r.id: r.cell for r in a2.collect()})
    for r in cents.collect():
        for x in r.cv:
            assert abs(x - round(x, 9)) < 1e-15
    exact = {r.q_vec_id: r.cos_sim
             for r in cosine_topk(vecs.filter("vec_id < 8"), vecs, k=1,
                                  round_dp=4).collect()}
    ivf = {r.q_vec_id: r.cos_sim
           for r in ivf_topk(vecs.filter("vec_id < 8"), vecs, k=1,
                             n_cells=8, nprobe=2, canonical=True).collect()}
    assert set(ivf) == set(exact)
    hits = sum(1 for q in exact if ivf[q] == exact[q])
    assert hits >= 0.8 * len(exact), (hits, len(exact))


def test_repetition_stats_values_and_no_shuffle(spark):
    from fs2_data_spark.operators.dedup import repetition_stats
    df = spark.createDataFrame(
        [(1, [1, 2, 1, 2, 1, 2]),   # windows of 2: [1,2],[2,1],[1,2],[2,1],[1,2] -> 5 spans, 2 distinct
         (2, [1, 2, 3, 4]),          # all distinct
         (3, [7])],                  # shorter than k
        "doc_id bigint, tokens array<int>")
    out = {r.doc_id: (r.rep_n_spans, r.rep_n_distinct, round(r.rep_dup_frac, 6))
           for r in repetition_stats(df, k=2).collect()}
    assert out == {1: (5, 2, 0.6), 2: (3, 3, 0.0), 3: (0, 0, 0.0)}
    # pure per-row: the plan must contain no Exchange at all
    import io
    from contextlib import redirect_stdout
    buf = io.StringIO()
    with redirect_stdout(buf):
        repetition_stats(df, k=2).explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_connected_components_chain_and_islands(spark):
    """Min-label CC: a 9-node path (forces multiple propagation rounds —
    pointer jumping must close it), a triangle, and an isolated edge all
    resolve to their component minimum."""
    from fs2_data_spark.operators.dedup import connected_components
    chain = [(i, i + 1) for i in range(10, 18)]          # 10-..-18
    tri = [(2, 5), (5, 7), (2, 7)]
    pair = [(100, 99)]
    pairs = spark.createDataFrame(chain + tri + pair, "id1 bigint, id2 bigint")
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert all(got[n] == 10 for n in range(10, 19))
    assert got[2] == got[5] == got[7] == 2
    assert got[99] == got[100] == 99
    # partitioning-invariant
    got2 = {r.node: r.component
            for r in connected_components(pairs.repartition(5)).collect()}
    assert got == got2


def test_dedup_clusters_keep_policy(spark):
    from fs2_data_spark.operators.dedup import dedup_clusters
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id bigint")
    pairs = spark.createDataFrame([(1, 4), (4, 6), (2, 3)],
                                  "id1 bigint, id2 bigint")
    out = {r.doc_id: (r.cluster_id, r.is_canonical)
           for r in dedup_clusters(docs, pairs).collect()}
    assert out[1] == (1, True) and out[4] == (1, False) and out[6] == (1, False)
    assert out[2] == (2, True) and out[3] == (2, False)
    # singletons are their own canonical cluster
    for s in (0, 5, 7):
        assert out[s] == (s, True)
    assert sum(1 for c, k in out.values() if k) == 5  # kept rows


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup)
# ---------------------------------------------------------------------------

def _planted_clusters(spark):
    """3 tight clusters of near-identical vectors + isolated vectors."""
    import random
    rng = random.Random(7)
    rows = []
    base = {0: [1.0, 0.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0, 0.0],
            2: [0.0, 0.0, 1.0, 0.0]}
    vid = 0
    for c in range(3):
        for _ in range(4):  # 4 near-copies per cluster
            v = [x + rng.uniform(-0.01, 0.01) for x in base[c]]
            rows.append((vid, v)); vid += 1
    for i in range(4):  # isolated: unit vectors in distinct directions
        v = [0.5 if j == i else (1.0 if j == (i + 1) % 4 else 0.0)
             for j in range(4)]
        rows.append((vid, v)); vid += 1
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_semantic_dedup_keeps_one_per_cluster(spark):
    from fs2_data_spark.operators.similarity import semantic_dedup
    df = _planted_clusters(spark)
    out = semantic_dedup(df, n_cells=4, threshold=0.99).collect()
    by_id = {r.vec_id: r for r in out}
    # within each planted cluster whose members share a cell, only the
    # smallest id survives; every dup points at a smaller same-cell id
    for r in out:
        if not r.keep:
            assert r.dup_of < r.vec_id
            assert by_id[r.dup_of].cell == r.cell
            assert r.dup_cos >= 0.99
    # cluster members that share a cell: exactly the min id among them keeps
    from collections import defaultdict
    cells = defaultdict(list)
    for r in out:
        if r.vec_id < 12:  # planted cluster members
            cells[(r.vec_id // 4, r.cell)].append(r)
    for (_, _), members in cells.items():
        min_id = min(m.vec_id for m in members)
        for m in members:
            assert m.keep == (m.vec_id == min_id)
    # isolated vectors never drop
    assert all(r.keep for r in out if r.vec_id >= 12)


def test_semantic_dedup_partitioning_invariance(spark):
    from fs2_data_spark.operators.similarity import semantic_dedup
    df = _planted_clusters(spark)
    a = sorted(map(str, semantic_dedup(df.coalesce(1), n_cells=4,
                                       threshold=0.99).collect()))
    b = sorted(map(str, semantic_dedup(df.repartition(9), n_cells=4,
                                       threshold=0.99).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# CDC chunking
# ---------------------------------------------------------------------------

def _py_cdc(toks, k=4, divisor=16):
    P = 1_000_000_007

    def h(seq):
        a = 0
        for x in seq:
            a = (a * 31 + x) % P
        return a

    cuts = [i for i in range(k - 1, len(toks) - 1)
            if h(toks[i - k + 1:i + 1]) % divisor == 0]
    starts = [0] + [c + 1 for c in cuts]
    ends = [c + 1 for c in cuts] + [len(toks)]
    return [(s, e - s, h(toks[s:e])) for s, e in zip(starts, ends)]


def test_cdc_chunks_match_python_reference(spark):
    from fs2_data_spark.operators.dedup import cdc_chunks
    import random
    rng = random.Random(3)
    docs = [(i, [rng.randint(0, 50) for _ in range(rng.randint(1, 120))])
            for i in range(30)]
    df = spark.createDataFrame(docs, "doc_id bigint, tokens array<int>")
    got = {}
    for r in cdc_chunks(df, k=4, divisor=16).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_no, r.start_pos, r.chunk_len, r.chunk_h))
    for i, toks in docs:
        exp = _py_cdc(toks)
        rows = sorted(got[i])
        assert [(s, ln, hh) for _, s, ln, hh in rows] == exp, i
        # chunks tile the document exactly
        assert sum(ln for _, _, ln, _ in rows) == len(toks)


def test_cdc_boundaries_survive_prefix_insertion(spark):
    """The CDC property: prepending tokens shifts only chunks BEFORE the
    first content-defined boundary; every later chunk hash is unchanged
    (fixed-size blocks would all shift)."""
    from fs2_data_spark.operators.dedup import cdc_chunks
    import random
    rng = random.Random(9)
    base = [rng.randint(0, 50) for _ in range(300)]
    df = spark.createDataFrame(
        [(1, base), (2, [99, 98, 97] + base)],
        "doc_id bigint, tokens array<int>")
    rows = cdc_chunks(df, k=4, divisor=16).collect()
    h1 = [r.chunk_h for r in sorted((r for r in rows if r.doc_id == 1),
                                    key=lambda r: r.chunk_no)]
    h2 = [r.chunk_h for r in sorted((r for r in rows if r.doc_id == 2),
                                    key=lambda r: r.chunk_no)]
    # all but the first chunk of doc 1 reappear verbatim in doc 2
    assert len(h1) > 3  # the property is vacuous without several chunks
    assert h1[1:] == h2[len(h2) - len(h1) + 1:]


def test_cdc_single_chunk_short_docs(spark):
    from fs2_data_spark.operators.dedup import cdc_chunks
    df = spark.createDataFrame(
        [(1, [5]), (2, [1, 2, 3, 4]), (3, [])],
        "doc_id bigint, tokens array<int>")
    rows = cdc_chunks(df, k=4, divisor=16).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc.get(1, [])) == 1 and by_doc[1][0].chunk_len == 1
    # a doc of exactly k tokens never cuts (cut after last pos is useless)
    assert len(by_doc.get(2, [])) == 1 and by_doc[2][0].chunk_len == 4
    assert 3 not in by_doc  # empty docs produce no chunks


# ---------------------------------------------------------------------------
# global_rank + sorted-neighborhood blocking
# ---------------------------------------------------------------------------

def test_global_rank_matches_single_partition_sort(spark):
    from fs2_data_spark.operators.dedup import global_rank
    import random
    rng = random.Random(7)
    rows = [(i, f"k{rng.randrange(100):03d}") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id bigint, k string")
    for p in (3, 7, 16):
        got = {r.doc_id: r.rnk
               for r in global_rank(df, ["k", "doc_id"],
                                    num_partitions=p).collect()}
        ref = {doc: i + 1
               for i, (doc, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))}
        assert got == ref, f"rank mismatch at num_partitions={p}"


def test_snm_pairs_exactly_once_and_complete(spark):
    from fs2_data_spark.operators.dedup import sorted_neighborhood_pairs
    import random
    rng = random.Random(11)
    rows = [(i, f"k{rng.randrange(40):02d}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, snm_key string")
    w = 5
    pairs = sorted_neighborhood_pairs(df, window=w, num_partitions=6).collect()
    got = sorted((r.id_a, r.id_b) for r in pairs)
    assert len(got) == len(set(got)), "a pair was emitted more than once"
    order = [doc for doc, _ in sorted(rows, key=lambda t: (t[1], t[0]))]
    want = sorted((min(order[i], order[j]), max(order[i], order[j]))
                  for i in range(len(order))
                  for j in range(i + 1, min(i + w, len(order))))
    # id_a/id_b are ordered by RANK, want by id — compare as unordered pairs
    got_unordered = sorted((min(a, b), max(a, b)) for a, b in got)
    assert got_unordered == want
    assert all(0 < r.gap < w for r in pairs)


def test_connected_components_driver_vs_distributed_parity(spark):
    """The size-gated driver union-find must produce exactly the labeling
    the distributed min-label/pointer-jumping loop converges to (r6 fast
    path) — random multi-component graph with chains, stars and isolates."""
    import random

    from fs2_data_spark.operators.dedup import connected_components

    rng = random.Random(99)
    edges = [(i, i + 1) for i in range(0, 40, 1) if i % 7 != 3]
    edges += [(100, 100 + j) for j in range(1, 9)]
    edges += [(rng.randint(200, 240), rng.randint(200, 240))
              for _ in range(30)]
    pairs = spark.createDataFrame(edges, "id1 bigint, id2 bigint")
    fast = {r.node: r.component
            for r in connected_components(pairs).collect()}
    slow = {r.node: r.component
            for r in connected_components(
                pairs, driver_max_edges=0).collect()}
    assert fast == slow and fast


def test_connected_components_drops_null_edges(spark):
    """A pair with a NULL id connects nothing: both the driver union-find
    and the distributed loop drop it, emit no NULL node, and agree."""
    from fs2_data_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, None), (None, 3), (None, None), (3, 4), (5, 6),
             (6, None), (None, 9)]
    pairs = spark.createDataFrame(edges, "id1 bigint, id2 bigint")
    nulls = spark.createDataFrame([(None, None), (7, None)],
                                  "id1 bigint, id2 bigint")
    for kw in ({}, {"driver_max_edges": 0}):
        got = [(r.node, r.component)
               for r in connected_components(pairs, **kw).collect()]
        assert sorted(got) == [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5), (6, 5)]
        assert connected_components(nulls, **kw).collect() == []

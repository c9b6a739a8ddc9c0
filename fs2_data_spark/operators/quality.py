"""Corpus-statistics quality scoring: unigram language-model document scores.

The CCNet-style quality filter ranks documents by how "typical" their words
are under a unigram LM fit on the corpus itself — rare-word-soup (boilerplate,
OCR noise, lexical garbage) scores low, fluent text scores high.  This is the
two-pass counterpart of the pure per-row heuristics in ``functions/text.py``
(:func:`quality_score`): pass 1 aggregates the corpus vocabulary, pass 2 joins
it back to score each document.

Scale shape (the inherent cost of any corpus-fit score):

- pass 1: ``explode(words) -> groupBy(word).count()`` — one shuffle with
  map-side partial aggregation, output is vocabulary-sized (<< corpus);
- pass 2: ``explode(words) -> join(vocab, on=word) -> groupBy(doc_id)`` —
  the vocab side broadcasts when it fits (typical: a few GB for web-scale
  vocabularies after min-count pruning), else a shuffle hash join on the
  word; one final shuffle on doc_id.

Cross-engine determinism: every accumulator is exact integer arithmetic
(counts, sums of counts); the only floats are two final per-row divisions of
bigints, which are single IEEE operations — identical in any engine.  No
``ln``/``log`` in oracle-checked columns (libm implementations differ in the
last ulp across engines; a rounded log is still a coin flip at rounding
boundaries).  The reference analogue is fs2-data's exact-expected-value spec
style (``json/src/test/scala/fs2/data/json/jq/JqSpec.scala:40-458``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from fs2_data_spark.functions.text import words


def unigram_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Pass 1: corpus unigram counts ``(word, cnt)``.

    One shuffle; partial aggregation happens map-side so the shuffle carries
    at most ``|vocab|`` rows per task, not one row per token.
    """
    return (docs
            .select(F.explode(words(text_col)).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt")))


def unigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab: DataFrame | None = None,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document unigram-LM typicality score.

    Returns ``(id_col, n_words, sum_cnt, total_words, lm_score)`` where

    - ``n_words``   = the document's token count,
    - ``sum_cnt``   = sum over the document's tokens of that token's corpus
      count (exact bigint — every token is in-vocabulary by construction
      since the vocab is fit on the same corpus),
    - ``total_words`` = corpus token total,
    - ``lm_score``  = mean corpus relative frequency of the document's
      tokens, ``(sum_cnt / n_words) / total_words`` — the exact unigram-LM
      mean token probability.  Computed as two successive bigint->double
      divisions (each a single IEEE op, engine-identical); equals
      ``exp(-H̃)`` up to Jensen's inequality of the doc's unigram
      cross-entropy, and induces the same ranking direction: higher = more
      typical.

    Empty documents keep ``n_words = 0`` and a null score (a left join from
    the doc list restores rows the explode dropped).
    """
    if vocab is None:
        vocab = unigram_vocab(docs, text_col)
    total = vocab.agg(F.sum(F.col("cnt").cast("decimal(27,0)"))
                      .cast("bigint").alias("total_words"))
    v = F.broadcast(vocab) if broadcast_vocab else vocab
    tok = docs.select(F.col(id_col), F.explode(words(text_col)).alias("word"))
    per_doc = (tok.join(v, "word")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_words"),
                    F.sum(F.col("cnt").cast("decimal(27,0)"))
                     .cast("bigint").alias("sum_cnt")))
    base = docs.select(id_col).join(per_doc, id_col, "left").na.fill(
        {"n_words": 0, "sum_cnt": 0})
    return (base.crossJoin(F.broadcast(total))
            .withColumn(
                "lm_score",
                F.when(
                    F.col("n_words") > 0,
                    F.col("sum_cnt").cast("double")
                    / F.col("n_words").cast("double")
                    / F.col("total_words").cast("double"))))


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Per-document bigram-LM typicality — the conditional-probability
    counterpart of :func:`unigram_lm_score`: for each adjacent word pair
    ``(u, v)`` the corpus conditional frequency is ``c(u,v) / c(u·)``
    (bigram count over left-unigram continuation count), and the document
    score is the mean over its bigrams.  Fluent word-ORDER scores high
    even when :func:`unigram_lm_score` (a bag-of-words score) cannot tell
    a document from its shuffle.

    Cross-engine determinism: counts are exact bigints; the per-bigram
    conditional is ONE IEEE division, and the document mean is the exact
    bigint-pair ``(sum of scaled conditionals, n_bigrams)`` — to keep the
    mean oracle-exact the per-bigram conditional is scaled to
    ``floor(c_uv * 10^9 / c_u)`` (integer arithmetic, no float
    accumulation order), summed as int64, then divided once.  Returns
    ``(id_col, n_bigrams, sum_cond_e9, bigram_score)`` where
    ``bigram_score = sum_cond_e9 / n_bigrams / 1e9`` (null for documents
    with fewer than two words).

    Scale shape: one corpus explode into bigrams -> the ``(u, v)`` count
    aggregation; left counts re-aggregate the bigram table
    (vocabulary^2-sized input, not the corpus); both broadcast back."""
    w = docs.select(F.col(id_col), words(text_col).alias("ws"))
    big = w.select(
        F.col(id_col),
        F.explode(F.when(
            F.size("ws") >= 2,
            F.zip_with(F.slice("ws", 1, F.size("ws") - 1),
                       F.slice("ws", 2, F.size("ws") - 1),
                       lambda a, b: F.struct(a.alias("u"), b.alias("v"))),
        ).otherwise(F.array().cast("array<struct<u:string,v:string>>"))
        ).alias("p"))
    big = big.select(id_col, F.col("p.u").alias("u"), F.col("p.v").alias("v"))
    cuv = big.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c_uv"))
    cu = cuv.groupBy("u").agg(F.sum("c_uv").alias("c_u"))
    vocab = cuv.join(cu, "u")
    v = F.broadcast(vocab) if broadcast_vocab else vocab
    # integer `div`, not `/`: long / long in Spark is DOUBLE division, and
    # floor(double) loses exactness past 2^53 — `div` keeps the scaled
    # conditional exact int64 (valid while c_uv * 1e9 fits int64, i.e. any
    # single bigram count < 9.2e9; shard the count table beyond that)
    cond_e9 = F.expr("(c_uv * 1000000000L) div c_u")
    per_doc = (big.join(v, ["u", "v"])
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_bigrams"),
                    F.sum(cond_e9).alias("sum_cond_e9")))
    base = docs.select(id_col).join(per_doc, id_col, "left").na.fill(
        {"n_bigrams": 0, "sum_cond_e9": 0})
    return base.withColumn(
        "bigram_score",
        F.when(F.col("n_bigrams") > 0,
               F.col("sum_cond_e9").cast("double")
               / F.col("n_bigrams").cast("double") / 1e9))


def shingle_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    broadcast_freq: bool = False,
) -> DataFrame:
    """Per-document shingle novelty: the fraction of the document's
    DISTINCT word-``n``-gram shingles that occur in no other document —
    high novelty = fresh content, low novelty = boilerplate/template text
    already covered elsewhere (the cheap corpus-level signal for
    duplication risk, complementing pairwise dedup).

    Returns ``(id_col, n_shingles, n_unique, novelty)`` with
    ``novelty = n_unique / n_shingles`` (null when the document has no
    shingles); counts exact bigints, one final IEEE division.

    Scale shape: one corpus explode of the per-doc distinct shingle sets;
    document frequency re-aggregates that table; the join back is a
    shuffle hash join on the shingle (``broadcast_freq=True`` only when
    the shingle table fits — unlike a word vocab it grows with the
    corpus)."""
    # r6: shingle construction via the Arrow text kernel (identical int64
    # set; order irrelevant downstream — everything is set/count-keyed)
    from fs2_data_spark.functions.textkernels import shingles_kernel  # noqa: PLC0415

    sh = (shingles_kernel(docs.select(id_col, text_col), text_col, [id_col],
                          n=n)
          .select(F.col(id_col), F.explode("sh").alias("s")))
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("s_docs"))
    f = F.broadcast(freq) if broadcast_freq else freq
    per_doc = (sh.join(f, "s")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_shingles"),
                    F.sum((F.col("s_docs") == 1).cast("bigint"))
                    .alias("n_unique")))
    base = docs.select(id_col).join(per_doc, id_col, "left").na.fill(
        {"n_shingles": 0, "n_unique": 0})
    return base.withColumn(
        "novelty",
        F.when(F.col("n_shingles") > 0,
               F.col("n_unique").cast("double")
               / F.col("n_shingles").cast("double")))


def merge_vocabs(*vocabs: DataFrame) -> DataFrame:
    """Merge per-partition/per-snapshot vocabularies: union + re-sum.

    ``(word, cnt)`` tables form a commutative monoid under this merge, which
    is what makes corpus statistics maintainable INCREMENTALLY at scale:
    fit the vocab once per ingest snapshot (each a bounded job over new
    data only), keep the merged table, and never recompute over the full
    100 TB corpus.  The merge itself shuffles only vocabulary-sized inputs.
    The law ``merge(vocab(A), vocab(B)) == vocab(A ∪ B)`` for disjoint
    A, B is pinned by the ``vocab_merge_docs`` oracle (Spark computes the
    left side from corpus halves, DuckDB the right side directly)."""
    if not vocabs:
        raise ValueError("merge_vocabs needs at least one vocabulary")
    out = vocabs[0]
    for v in vocabs[1:]:
        out = out.unionByName(v)
    return out.groupBy("word").agg(
        F.sum(F.col("cnt").cast("bigint")).alias("cnt"))


def nb_posterior_score(
    docs: DataFrame,
    positive,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Supervised classifier-based quality scoring: the "train a classifier
    on a clean reference set, keep documents it likes" stage of GPT-3/CCNet
    style pipelines (Brown et al. 2020 App. A; Wenzek et al. 2020),
    expressed as a train-and-score naive-Bayes plan over the corpus itself.

    ``positive`` is a boolean column marking the clean reference class.
    Each word's Laplace-smoothed posterior ``P(positive | word) =
    (c_pos + 1) / (c_all + 2)`` is fit from the corpus (one word-keyed
    aggregation); a document's score is the mean posterior over its token
    occurrences, and ``nb_pass`` is the exact decision ``mean > 1/2``.

    Cross-engine determinism (the module's no-``ln`` rule): the textbook
    log-odds sum is libm-dependent, so the per-word posterior is kept as
    the exact integer ``(c_pos + 1) * 10^9 div (c_all + 2)`` (int64 `div`,
    valid while any single word count < 9.2e9 — shard the vocab beyond
    that), summed as int64; ``nb_pass`` compares ``2 * sum > n * 10^9`` in
    exact integers, and the only float is the display score's two chained
    IEEE divisions.  Posterior averaging rather than log-likelihood keeps
    every oracle-checked column engine-exact; both rank identically on
    single-word evidence and diverge only in how multi-word evidence is
    pooled (mean vs product) — the honest trade, as in
    :func:`bigram_lm_score`.

    Scale shape: one token explode rides the scan; the vocabulary fit is
    one word shuffle with map-side combine (vocabulary-sized output); the
    fitted table broadcasts back when it fits (``broadcast_vocab``, typical
    after min-count pruning) else shuffle-joins on the word; one final
    doc-id shuffle.  Inference against an externally-trained weights table
    is the same plan minus the fit aggregation.

    Returns ``(id_col, n_words, sum_post_e9, nb_score, nb_pass,
    is_positive)``; ``nb_score`` is null for wordless documents.
    """
    pos = positive if not isinstance(positive, str) else F.col(positive)
    tok = docs.select(F.col(id_col), pos.alias("_pos"),
                      F.explode(words(text_col)).alias("word"))
    vocab = (tok.groupBy("word")
             .agg(F.sum(F.when(F.col("_pos"), F.lit(1)).otherwise(F.lit(0)))
                   .cast("bigint").alias("c_pos"),
                  F.count(F.lit(1)).cast("bigint").alias("c_all")))
    v = F.broadcast(vocab) if broadcast_vocab else vocab
    w_e9 = F.expr("((c_pos + 1) * 1000000000L) div (c_all + 2)")
    per_doc = (tok.join(v, "word")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                    F.sum(w_e9).alias("sum_post_e9")))
    base = (docs.select(F.col(id_col), pos.alias("is_positive"))
            .join(per_doc, id_col, "left")
            .na.fill({"n_words": 0, "sum_post_e9": 0}))
    return base.select(
        F.col(id_col), "n_words", "sum_post_e9",
        F.when(F.col("n_words") > 0,
               F.col("sum_post_e9").cast("double")
               / F.col("n_words").cast("double") / 1e9).alias("nb_score"),
        (F.col("sum_post_e9") * 2
         > F.col("n_words") * F.lit(1_000_000_000).cast("bigint"))
        .alias("nb_pass"),
        "is_positive")


def tfidf_topk(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    broadcast_df: bool = True,
) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the keyword/topic-signature
    extraction pass (clustering features, domain tagging, near-dup
    explanations).

    Returns ``(id_col, word, tf, df, score)`` with
    ``score = tf * n_docs / df``: the classic ``tf * idf`` ranking with the
    monotone ``N/df`` in place of ``ln(N/df)`` — same per-document order
    (``ln`` is monotone; ``tf ln(N/df)`` vs ``tf N/df`` CAN rank
    differently when both tf and df vary, but the engine exposes the raw
    ``(tf, df, n_docs)`` triple so any idf flavor is one expression away),
    and, unlike ``ln``, exactly reproducible across engines: the score is
    one bigint product and one IEEE division — no libm in oracle-checked
    columns.  Ties rank deterministically by word.

    Scale shape: ONE corpus explode feeding both statistics — ``tf`` is
    the ``(doc, word)`` aggregation (one map-side-combined shuffle), ``df``
    re-aggregates the tf table itself (vocabulary-sized input, not the
    corpus).  The ``df`` table broadcasts when it fits
    (``broadcast_df``), else a shuffle join on word; top-k is one
    ``row_number`` window over the per-doc term lists."""
    from pyspark.sql import Window  # noqa: PLC0415

    w = docs.select(F.col(id_col), F.explode(words(text_col)).alias("word"))
    tf = w.groupBy(id_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    # tf rows are unique per (doc, word): counting them per word IS the
    # document frequency — no second corpus pass
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    d = F.broadcast(dfreq) if broadcast_df else dfreq
    s = (tf.join(d, "word")
         .crossJoin(F.broadcast(n))
         .withColumn("score",
                     (F.col("tf") * F.col("n_docs")).cast("double")
                     / F.col("df").cast("double")))
    rk = F.row_number().over(
        Window.partitionBy(id_col).orderBy(F.desc("score"), "word"))
    return (s.withColumn("rk", rk).filter(F.col("rk") <= k)
            .select(id_col, "word", "tf", "df", "score"))


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_wlen: float = 3.0,
    max_mean_wlen: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_frac: float = 0.8,
    min_stop_distinct: int = 2,
) -> DataFrame:
    """Gopher-style heuristic document filter (Rae et al. 2021, table A1),
    as one pure per-row Catalyst projection — the rule suite a web-scale
    pipeline runs FIRST, before any corpus-level statistic, because it
    needs no shuffle at all: every rule is arithmetic over the row's own
    words, so the filter rides the scan and drops rows before they ever
    reach an exchange.

    Implemented rules (each exposed as its own boolean so downstream
    ablations can re-weight without recomputing):

    - ``word_count_ok``: ``min_words <= n_words <= max_words``;
    - ``mean_wlen_ok``: mean word length within
      ``[min_mean_wlen, max_mean_wlen]``;
    - ``symbol_ok``: hash/ellipsis symbols per word ``<= max_symbol_ratio``;
    - ``alpha_ok``: fraction of words containing an alphabetic character
      ``>= min_alpha_frac``;
    - ``stop_ok``: at least ``min_stop_distinct`` DISTINCT stopwords
      (``functions/text.py STOPWORDS``) appear — Gopher's "2 of a small
      stop set" rule;
    - ``gopher_pass``: the conjunction.

    The two line-shape rules of the original (bullet-point and
    ellipsis-ending line fractions) are inapplicable to this corpus's
    single-line documents and are intentionally omitted (documented, not
    silently skipped).

    Cross-engine determinism: counts are exact bigints; each ratio is ONE
    IEEE division of bigints (identical in any engine); rule thresholds
    compare those exact values, so the booleans replay bit-for-bit in the
    DuckDB oracle.
    """
    from fs2_data_spark.functions.text import STOPWORDS, words as _words

    ws = _words(text_col)
    n = F.size(ws).cast("bigint")
    sum_len = F.aggregate(ws, F.lit(0).cast("bigint"),
                          lambda a, w: a + F.length(w).cast("bigint"))
    mean_wlen = F.when(n > 0, sum_len.cast("double") / n).otherwise(F.lit(0.0))
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    n_hash = (F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
              ).cast("bigint")
    n_ellipsis = ((F.length(text)
                   - F.length(F.replace(text, F.lit("..."), F.lit(""))))
                  / F.lit(3)).cast("bigint")
    symbol_ratio = F.when(n > 0, (n_hash + n_ellipsis).cast("double") / n) \
                    .otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))) \
               .cast("bigint")
    alpha_frac = F.when(n > 0, n_alpha.cast("double") / n).otherwise(F.lit(0.0))
    n_stop = F.size(F.array_intersect(
        F.array_distinct(ws),
        F.array(*[F.lit(s) for s in STOPWORDS]))).cast("integer")

    word_count_ok = (n >= min_words) & (n <= max_words)
    mean_wlen_ok = (mean_wlen >= min_mean_wlen) & (mean_wlen <= max_mean_wlen)
    symbol_ok = symbol_ratio <= max_symbol_ratio
    alpha_ok = alpha_frac >= min_alpha_frac
    stop_ok = n_stop >= min_stop_distinct
    return docs.select(
        F.col(id_col),
        n.alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_wlen"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_frac, 6).alias("alpha_frac"),
        n_stop.alias("n_stop_distinct"),
        word_count_ok.alias("word_count_ok"),
        mean_wlen_ok.alias("mean_wlen_ok"),
        symbol_ok.alias("symbol_ok"),
        alpha_ok.alias("alpha_ok"),
        stop_ok.alias("stop_ok"),
        (word_count_ok & mean_wlen_ok & symbol_ok & alpha_ok & stop_ok)
        .alias("gopher_pass"))


def pmi_collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
    topn: int = 30,
    checkpoint: bool = True,
) -> DataFrame:
    """Top corpus collocations by pointwise mutual information — the
    association-mining counterpart of :func:`bigram_lm_score` (which ranks
    documents; this ranks WORD PAIRS): for each adjacent pair the lift
    ``p(u,v) / (p(u,·) p(·,v))`` over the bigram distribution, i.e.
    ``c_uv * N / (c_u * c_v)`` with the first/second-position marginals and
    the total all re-aggregated from the bigram count table itself
    (vocabulary²-sized, not the corpus).  PMI is the log of the lift; since
    ``log`` is monotone the top-k by lift IS the top-k by PMI, and skipping
    it keeps the pipeline inside exact integer arithmetic (the module's
    libm-free discipline): ``score_e6 = c_uv * N * 10^6 div (c_u * c_v)``
    — exact while ``c_uv * N * 10^6 < 2^63`` (any pair count times corpus
    bigram total under ~9.2e12; shard the count table beyond that).

    ``min_count`` drops hapax noise (classic PMI failure mode: a pair seen
    once between two hapax words scores the maximum ``N``).

    Scale shape: ONE corpus explode feeds the ``(u, v)`` aggregation; the
    count table is then lazily ``localCheckpoint``-ed — without the
    barrier, Spark recomputes the corpus explode once per marginal branch
    (measured: 4 Generate subtrees in the plan; column pruning makes the
    branches non-identical so ReuseExchange never fires), i.e. 4 corpus
    passes at 100 TB, where the checkpoint costs one bigram-table
    materialization (shuffle-sized, the same trade
    ``dedup.py connected_components`` makes).  Marginals re-aggregate the
    checkpointed table and broadcast back; the scalar total joins as a
    broadcast 1-row frame (never a driver collect); the final top-k is
    ``TakeOrderedAndProject`` — no global sort materializes.  Returns
    ``(u, v, c_uv, c_u, c_v, n_bi, score_e6, lift)`` ordered by
    ``(score_e6 DESC, u, v)``.
    """
    w = docs.select(words(text_col).alias("ws"))
    big = w.select(F.explode(F.when(
        F.size("ws") >= 2,
        F.zip_with(F.slice("ws", 1, F.size("ws") - 1),
                   F.slice("ws", 2, F.size("ws") - 1),
                   lambda a, b: F.struct(a.alias("u"), b.alias("v"))),
    ).otherwise(F.array().cast("array<struct<u:string,v:string>>"))
    ).alias("p")).select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
    cuv = big.groupBy("u", "v").agg(F.count(F.lit(1)).alias("c_uv"))
    if checkpoint:
        cuv = cuv.localCheckpoint(eager=False)
    cu = cuv.groupBy("u").agg(F.sum("c_uv").alias("c_u"))
    cv = cuv.groupBy("v").agg(F.sum("c_uv").alias("c_v"))
    nb = cuv.agg(F.sum("c_uv").alias("n_bi"))
    scored = (cuv
              .join(F.broadcast(cu), "u")
              .join(F.broadcast(cv), "v")
              .crossJoin(F.broadcast(nb))
              .filter(F.col("c_uv") >= min_count)
              .withColumn(
                  "score_e6",
                  F.expr("c_uv * n_bi * 1000000 div (c_u * c_v)"))
              .withColumn("lift",
                          F.col("score_e6").cast("double") / F.lit(1e6)))
    return (scored
            .orderBy(F.desc("score_e6"), "u", "v")
            .limit(topn)
            .select("u", "v", "c_uv", "c_u", "c_v", "n_bi",
                    "score_e6", "lift"))


def top_ngram_fraction(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3, 4),
) -> DataFrame:
    """Gopher/RefinedWeb "top n-gram fraction" repetition signals: for each
    ``n`` the fraction of the document's words covered by its single
    most-frequent word n-gram (count * n / n_words; overlapping occurrences
    each count). High values mark template/spam pages that per-document
    length/symbol heuristics miss.

    Per-row zero-shuffle Catalyst: n-gram codes are rolling-hash folds of
    the word-code array, and the max frequency comes from ``array_sort`` +
    one linear run-length fold (O(n log n) per doc) — never a corpus-level
    explode/groupBy (the 100 TB difference: this is a per-document signal,
    so shuffling every n-gram would be pure waste). The DuckDB oracle
    recomputes the same max by brute force (count each distinct gram),
    pinning the run-length fold against an independent formulation.

    Returns ``(id_col, n_words, top{n}_count, top{n}_frac ...)``; documents
    with fewer than ``n`` words get count 0 / fraction 0.0.
    """
    # r6: the per-document rolling-hash grams + sorted run-length folds run
    # as one Arrow text kernel (identical int64 gram hashes and max run
    # counts — functions/textkernels.top_ngram_kernel); the fractions keep
    # the exact JVM expressions over the kernel-emitted integers
    from fs2_data_spark.functions.textkernels import top_ngram_kernel

    counted = top_ngram_kernel(docs, id_col, text_col, tuple(ns))
    out_cols = [F.col("doc_id").alias(id_col),
                F.col("n_words")]
    for n in ns:
        top = F.col(f"top{n}_count")
        frac = (F.when(F.col("n_words") > 0,
                       (top * n).cast("double")
                       / F.col("n_words").cast("double"))
                .otherwise(F.lit(0.0)))
        out_cols.append(top.alias(f"top{n}_count"))
        out_cols.append(F.round(frac, 9).alias(f"top{n}_frac"))
    return counted.select(*out_cols)


def oov_rate(
    docs: DataFrame,
    tokens: str = "tokens",
    id_col: str = "doc_id",
    vocab_size: int = 100,
) -> DataFrame:
    """Out-of-vocabulary rate per sequence against the corpus's own top-K
    token vocabulary — the tokenizer-coverage audit of a training
    pipeline (a high OOV share marks domain drift, encoding corruption,
    or a tokenizer/corpus mismatch BEFORE the GPUs find out).

    Two stages, both scale-shaped: (1) the vocabulary = one
    map-side-combined token count + ``TakeOrderedAndProject`` top-K with
    the total (count DESC, token) order, collected to a K-entry literal
    — a bounded planning read, same class as the IVF seeds; (2) a pure
    per-row membership scan of each sequence against the sorted literal
    (``array_contains`` over a K-element broadcast value — zero shuffle,
    zero Python).

    Returns ``(id_col, n_tok, n_oov, oov_rate)`` with rate rounded 6 dp.
    """
    t = docs.select(F.explode(F.col(tokens)).alias("__t"))
    top = (t.groupBy("__t").agg(F.count(F.lit(1)).alias("n"))
           .orderBy(F.desc("n"), "__t").limit(vocab_size).collect())
    vocab = sorted(r["__t"] for r in top)
    vlit = F.array(*[F.lit(v) for v in vocab])
    tok = F.col(tokens)
    n_oov = F.size(F.filter(tok, lambda x: ~F.array_contains(vlit, x)))
    return docs.select(
        F.col(id_col), F.size(tok).alias("n_tok"),
        n_oov.alias("n_oov"),
        F.round(F.when(F.size(tok) > 0,
                       n_oov.cast("double") / F.size(tok).cast("double"))
                .otherwise(F.lit(0.0)), 6).alias("oov_rate"))


def chi2_keywords(
    docs: DataFrame,
    text_col: str = "text",
    group: str = "source",
    k: int = 5,
    min_count: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """Per-``group`` keyword extraction by the chi-square statistic of the
    word-vs-group 2x2 contingency table — "which words does this source
    use significantly MORE than the rest of the corpus" (the classic
    feature-selection score; Yang & Pedersen 1997).  For each
    (group g, word w) with token counts::

        a = count(w in g)          b = count(w outside g)
        c = tokens(g) - a          d = tokens(outside g) - b

        chi2 = N * (a*d - b*c)^2 / ((a+b)*(c+d)*(a+c)*(b+d))

    Only POSITIVE associations are kept (a/tokens(g) > (a+b)/N — the
    word is over-represented, not suspiciously absent), and only words
    with ``a >= min_count`` (a one-off token is never a keyword).  The
    top ``k`` per group are ranked by ``(chi2 desc, word asc)`` — the
    word tie-break makes equal-score ranks deterministic.

    Determinism: all four cell counts are exact bigints; ``chi2`` is a
    single per-row IEEE chain on their double casts (identical across
    engines; products are computed in double because a*d overflows
    int64 at web scale), rounded to 9 dp before ranking and to
    ``round_dp`` in the output.  The over-representation test compares
    ``a/tokens(g)`` to ``(a+b)/N`` in double for the same reason.

    Scale shape: one scan -> exact (group, word) counts (map-side
    combined); per-word totals are one equi-join on the word key
    (vocab-sized); per-group totals and the corpus total broadcast.
    The final top-k window partitions by group over vocab-sized input.
    Nothing is quadratic; nothing single-partitions.

    Output: ``group, word, cnt, chi2, rank``.
    """
    from pyspark.sql import Window

    wc = (docs.select(F.col(group).alias("_g"),
                      F.explode(words(text_col)).alias("_w"))
          .groupBy("_g", "_w")
          .agg(F.count(F.lit(1)).alias("_a")))
    wtot = wc.groupBy("_w").agg(F.sum("_a").alias("_gw"))
    gtot = wc.groupBy("_g").agg(F.sum("_a").alias("_st"))
    ntot = wc.agg(F.sum("_a").alias("_n"))
    cells = (wc.join(wtot, on="_w")
             .join(F.broadcast(gtot), on="_g")
             .crossJoin(F.broadcast(ntot)))
    ad, bd = F.col("_a").cast("double"), \
        (F.col("_gw") - F.col("_a")).cast("double")
    cd = (F.col("_st") - F.col("_a")).cast("double")
    dd = (F.col("_n") - F.col("_gw") - F.col("_st")
          + F.col("_a")).cast("double")
    nd = F.col("_n").cast("double")
    det = ad * dd - bd * cd
    chi2 = (nd * det * det
            / ((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)))
    scored = (cells
              .filter((F.col("_a") >= int(min_count))
                      & (ad / F.col("_st").cast("double")
                         > F.col("_gw").cast("double") / nd))
              .withColumn("_chi2", F.round(chi2, 9)))
    rn = F.row_number().over(
        Window.partitionBy("_g").orderBy(F.col("_chi2").desc(),
                                         F.col("_w")))
    return (scored.withColumn("rank", rn).filter(F.col("rank") <= int(k))
            .select(F.col("_g").alias(group), F.col("_w").alias("word"),
                    F.col("_a").alias("cnt"),
                    F.round(F.col("_chi2"), round_dp).alias("chi2"),
                    "rank"))


def heaps_curve(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve of the corpus: for each
    document in ``id_col`` order, the cumulative token count and the
    cumulative distinct-vocabulary size after ingesting it — the curve
    whose log-log slope is the Heaps exponent (V ~ k * N^beta,
    beta ~ 0.5 for natural language; a flattening curve says dedup is
    working, a linear one says the corpus is ID-noise or boilerplate).

    The curve is computed WITHOUT any running-distinct state: each word
    contributes +1 to the vocabulary exactly at its FIRST-occurrence
    document (``min(doc_id)`` per word — one vocab-sized aggregation),
    so the cumulative vocabulary is just a prefix sum of per-doc
    new-word counts.  Every output is an exact bigint; the Heaps
    exponent itself is deliberately NOT a column (it needs ``ln``,
    banned from oracle-checked columns per the module contract) — fit
    it client-side from the returned points.

    Scale shape: one explode -> word-keyed min aggregation (map-side
    combined, vocab-sized output) -> one equi-join back to the per-doc
    counts -> the two prefix sums share ONE range partitioning on
    ``id_col`` with per-partition cumsum + broadcast exclusive offsets
    (the ``global_rank`` pattern) — never a bare single-partition
    ``Window.orderBy``.

    Output per document: ``id_col, n_tok, new_words, cum_tok, vocab``.
    """
    from pyspark.sql import Window

    tok = words(text_col)
    base = docs.select(F.col(id_col).alias("_id"),
                       F.size(tok).cast("bigint").alias("n_tok"),
                       tok.alias("_ws"))
    fo = (base.select("_id", F.explode("_ws").alias("_w"))
          .groupBy("_w").agg(F.min("_id").alias("_fd")))
    nw = (fo.groupBy(F.col("_fd").alias("_id"))
          .agg(F.count(F.lit(1)).alias("new_words")))
    d = (base.select("_id", "n_tok")
         .join(nw, on="_id", how="left")
         .fillna({"new_words": 0}))
    d = d.repartitionByRange("_id").withColumn("__pid",
                                               F.spark_partition_id())
    psums = d.groupBy("__pid").agg(F.sum("n_tok").alias("_st"),
                                   F.sum("new_words").alias("_sw"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding,
                                                -1)
    offsets = psums.select(
        "__pid",
        F.coalesce(F.sum("_st").over(w_off),
                   F.lit(0).cast("bigint")).alias("__ot"),
        F.coalesce(F.sum("_sw").over(w_off),
                   F.lit(0).cast("bigint")).alias("__ow"))
    w_in = (Window.partitionBy("__pid").orderBy("_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (d.join(F.broadcast(offsets), "__pid")
            .select(F.col("_id").alias(id_col), "n_tok", "new_words",
                    (F.col("__ot") + F.sum("n_tok").over(w_in))
                    .cast("bigint").alias("cum_tok"),
                    (F.col("__ow") + F.sum("new_words").over(w_in))
                    .cast("bigint").alias("vocab")))

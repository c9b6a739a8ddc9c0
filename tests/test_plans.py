"""Physical-plan regression guards: the properties a 100 TB deployment relies
on must hold in the plan itself, not just in benchmarks (the pytest twin of
tools/explain_audit.py).

NOTE: these run while the scaling job may be using the machine — they only
inspect plans (explain), no data is executed."""

import io
from contextlib import redirect_stdout

import pytest

from fs2_data_spark.functions.arrow_kernel import PYTHON_NODES
from fs2_data_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def hash_exchanges(plan: str) -> int:
    """Hash exchanges in a formatted plan: its tree prints ``Exchange (n)``
    and the partitioning on the node's ``Arguments:`` line."""
    return plan.count("Arguments: hashpartitioning")


def assert_no_python(plan: str) -> None:
    for marker in PYTHON_NODES:
        assert marker not in plan, f"Python stage in plan: {marker}"


def q(spark, name):
    fn, _sql = REGISTRY[name]
    return fn(spark, SF)


def test_q1_scan_pushdown_and_pruning(spark):
    plan = plan_of(q(spark, "q1_pricing_summary"))
    assert "PushedFilters: [" in plan and "IsNotNull" in plan
    # only the needed lineitem columns are read
    assert "l_comment" not in plan


def test_q3_broadcasts_dimension(spark):
    plan = plan_of(q(spark, "q3_shipping_priority"))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_asof_union_single_exchange(spark):
    """The as-of union-window plan: ONE hash exchange feeds the window chain
    (no join node, no second shuffle for the window stages)."""
    plan = plan_of(q(spark, "asof_join_events"))
    assert 1 <= hash_exchanges(plan) <= 2
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_fused_pit_single_window_chain(spark):
    plan = plan_of(q(spark, "pit_fused_events"))
    assert 1 <= hash_exchanges(plan) <= 2
    assert "CartesianProduct" not in plan


def test_lsh_queries_have_no_cross_products(spark):
    for name in ("jaccard_pairs", "ann_lsh_topk"):
        plan = plan_of(q(spark, name))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_flagship_prunes_token_payload(spark):
    """pit_feature_pipeline must not read the tokens column at the scan."""
    from fs2_data_spark.pipeline import pit_feature_pipeline
    from fs2_data_spark.tables import observations, token_sequences
    seqs = token_sequences(spark, 1000, n_docs=50)
    obs = observations(spark, 300, n_docs=50)
    plan = plan_of(pit_feature_pipeline(seqs, obs, hot_keys=[]))
    assert "tokens" not in plan.split("== Physical Plan ==")[-1]


def test_fused_segmented_carry_join_shuffle_avoids_broadcast(spark):
    """The segmented carry join carries no broadcast hint: with broadcasts
    off it must not BroadcastExchange the carry summary — on a full
    billion-key table the summary is |keys| x |buckets| rows and a forced
    broadcast would OOM the executors (VERDICT r02 item #2). AQE broadcasts
    it when its measured size allows."""
    from fs2_data_spark.pipeline import fused_pit_features
    from fs2_data_spark.tables import observations, token_sequences
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seqs = token_sequences(spark, 1000, n_docs=50).drop("tokens")
        obs = observations(spark, 300, n_docs=50)
        plan = plan_of(fused_pit_features(seqs, obs, bucket_us=3_600_000_000))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastExchange" not in plan


def test_fused_segmented_one_summary_one_join(spark):
    """The segmented plan settles every cross-bucket carry on one
    per-(key, bucket) summary joined back once: one join node, no
    whole-partition frame, and at most six hash exchanges (the union and
    the right-side dedup on each side of the join, plus the summary's
    aggregate and per-key windows)."""
    import re

    from fs2_data_spark.pipeline import fused_pit_features
    from fs2_data_spark.tables import observations, token_sequences
    seqs = token_sequences(spark, 1000, n_docs=50).drop("tokens")
    obs = observations(spark, 300, n_docs=50)
    df = fused_pit_features(seqs, obs, gap_s=1800, bucket_us=3_600_000_000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"[-+] \w*(?:Join|CartesianProduct)\b", plan)) == 1
    assert "unboundedfollowing" not in plan.lower()
    assert plan.count("Exchange hashpartitioning") <= 6


def test_pipeline_hybrid_is_one_plan(spark):
    """The hot-key router is a bucket column inside one plan: the hybrid
    pipeline has the segmented plan's shape — one carry join, each input
    read twice (the window stage and the summary), at most six hash
    exchanges — not a second plan unioned on."""
    import re

    from fs2_data_spark.pipeline import pit_feature_pipeline
    from fs2_data_spark.tables import observations, token_sequences
    seqs = token_sequences(spark, 1000, n_docs=50)
    obs = observations(spark, 300, n_docs=50)
    df = pit_feature_pipeline(seqs, obs, gap_s=1800, hot_keys=["doc_0"],
                              bucket_us=3_600_000_000)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"[-+] \w*(?:Join|CartesianProduct)\b", plan)) == 1
    assert plan.count("Exchange hashpartitioning") <= 6
    assert plan.count("Range (") <= 4


def test_asof_plans_use_one_builder_and_running_frame(spark):
    """One as-of union builder, one running frame: no following frame
    (Spark re-scans it per row) and no second hand-built union in the
    as-of operators or the fused pipeline."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1] / "fs2_data_spark"
    for rel in ("operators/asof.py", "pipeline.py"):
        src = (root / rel).read_text()
        assert "unboundedFollowing" not in src, rel
        tree = ast.parse(src)
        builder = {id(n) for f in ast.walk(tree)
                   if isinstance(f, ast.FunctionDef) and f.name == "_asof_union_plan"
                   for n in ast.walk(f)}
        unions = [n.lineno for n in ast.walk(tree)
                  if isinstance(n, ast.Attribute) and n.attr == "unionByName"
                  and id(n) not in builder]
        assert not unions, (rel, unions)
    for name in ("asof_join_events_forward", "asof_join_events_nearest"):
        plan = plan_of(q(spark, name)).lower()
        assert "specifiedwindowframe" in plan, name
        assert "unboundedfollowing" not in plan, name


def test_xpath_fast_texts_stays_jvm_side(spark):
    """The XPath fast path must compile to from_xml + array HOFs — zero
    Python/Arrow eval nodes in the plan (VERDICT r03 #4: take the common
    child-axis case off the ~40 MB/s Python tier)."""
    df = q(spark, "xpath_fast_texts")
    plan = plan_of(df)
    # the posexplode over the from_xml result lives in a Generate node
    assert "Generate" in plan
    assert_no_python(plan)
    # projections/scan are codegen'd (the from_xml Generate itself is not)
    assert plan.count("* ") >= 3


def test_mix_sample_is_scan_side_filter(spark):
    """Stratified sampling must be a pure per-row filter — zero Exchange,
    zero Python; the dropped rows never move (100 TB: the sample decision
    rides the scan)."""
    plan = plan_of(q(spark, "mix_sample_docs"))
    assert "Exchange" not in plan
    assert_no_python(plan)


def test_tok_vocab_topk_no_global_sort(spark):
    """Top-k vocab must plan as TakeOrderedAndProject (parallel partial
    top-k + merge), never a global Sort of the full token distribution."""
    plan = plan_of(q(spark, "tok_vocab_topk"))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_single_group_shuffle(spark):
    """Packing = one hash exchange on the group key feeding the pandas
    kernel — no extra sort exchange, no join."""
    plan = plan_of(q(spark, "pack_sequences_docs"))
    assert plan.count("hashpartitioning(") == 1
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_hash_split_is_scan_side_case(spark):
    """Train/val/test assignment must be a pure per-row CASE expression —
    zero Exchange, zero Python (100 TB: the split rides the scan, like the
    stratified-sample filter)."""
    plan = plan_of(q(spark, "split_assign_docs"))
    assert "Exchange" not in plan
    assert_no_python(plan)


def test_curriculum_corpus_side_never_shuffles(spark):
    """Quantile bucketing: the corpus joins the (cardinality-sized) bucket
    map via broadcast — a full global sort (ntile) would be the scale
    killer; only the histogram aggregation may shuffle."""
    plan = plan_of(q(spark, "curriculum_buckets_docs"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert_no_python(plan)


@pytest.mark.parametrize("name", ["bpe_pretok_docs", "redact_pii_docs"])
def test_per_row_text_ops_ride_the_scan(spark, name):
    """BPE pre-tokenization and PII redaction are pure per-row projections:
    zero Exchange, zero Python — the whole query is one codegen'd scan."""
    plan = plan_of(q(spark, name))
    assert "Exchange" not in plan
    assert_no_python(plan)


def test_unigram_quality_vocab_broadcasts(spark):
    """Corpus-fit LM scoring: the vocabulary side broadcasts back onto the
    exploded corpus (pass 2) — the corpus token stream must never shuffle
    for the join, and the whole pipeline stays JVM-side."""
    plan = plan_of(q(spark, "unigram_quality_docs"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert_no_python(plan)


def test_quantized_topk_no_dim_explode_no_python(spark):
    """Quantization stats come from one partial-agg pass (no Generate /
    explode multiplying the corpus by dim) and the whole pipeline stays
    JVM-side; the stats row and the query side broadcast."""
    plan = plan_of(q(spark, "ann_quantized_topk"))
    assert "Generate" not in plan           # no (row, dim) explode
    assert "PythonUDF" not in plan and "ArrowEval" not in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_source_cap_window_group_limit(spark):
    """The row_number <= cap filter must rewrite into WindowGroupLimit so
    map tasks pre-trim to cap rows per group before the exchange."""
    from fs2_data_spark.operators.mixing import cap_per_group
    from fs2_data_spark.queries import _t
    d = _t(spark, SF, "documents").select("doc_id", "source")
    plan = plan_of(cap_per_group(d, cap=15, method="portable").filter("kept"))
    # Partial group-limit below the exchange, Final above it
    assert ", 15, Partial" in plan and ", 15, Final" in plan
    assert plan.count("+- Exchange") == 1
    assert "PythonUDF" not in plan


def test_pmi_topk_no_global_sort_single_explode(spark):
    from fs2_data_spark.operators.quality import pmi_collocations
    d = spark.createDataFrame([(1, "a b c a b")], "doc_id bigint, text string")
    # Without the checkpoint barrier the corpus explode is recomputed once
    # per marginal branch (the 100 TB failure mode the operator avoids):
    raw = plan_of(pmi_collocations(d, checkpoint=False))
    # 4 explode subtrees (formatted explain prints each node twice:
    # tree + operator-detail section)
    assert raw.count("Generate") == 8
    # With it (the default, and what the registry query uses), every branch
    # scans the one materialized bigram-count table instead:
    plan = plan_of(q(spark, "pmi_bigrams_docs"))
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan  # explode happens once, behind the barrier
    assert "ExistingRDD" in plan  # all branches re-scan the checkpointed cuv
    assert "PythonUDF" not in plan


def test_asof_nearest_single_sort_two_windows(spark):
    plan = plan_of(q(spark, "asof_join_events_nearest"))
    # both direction candidates ride ONE window exchange: two WindowExec
    # nodes (the running frame over the ascending and over the descending
    # ts order, so two sorts) share it; the only other exchange is the
    # right-side (key, ts) dedup aggregation
    assert plan.count(") Window") == 2
    assert plan.count("hashpartitioning(") <= 2
    assert "PythonUDF" not in plan
    # no join node: the union-window strategy never joins
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_boilerplate_anti_join_no_cartesian(spark):
    plan = plan_of(q(spark, "boilerplate_segments_docs"))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan


def test_multi_horizon_single_sort(spark):
    """Three RANGE horizons must share one partition sort: one hash
    exchange, one Sort, and Spark fuses all three frames into a SINGLE
    WindowExec — adding a horizon costs a frame scan, never a shuffle."""
    plan = plan_of(q(spark, "w_multi_horizon_events"))
    assert plan.count("hashpartitioning(") == 1
    assert plan.count(") Sort") == 1
    assert plan.count(") Window") == 1
    assert "PythonUDF" not in plan


def test_semantic_dedup_cell_fenced_pairs(spark):
    """SemDeDup's all-pairs stage must be an equi-join on the cell id —
    sum(|cell|^2) work, never an N^2 cross product. (The
    BroadcastNestedLoopJoins in the plan are the intentional bounded
    16-row centroid broadcasts of the IVF assign steps, same as
    ann_ivf_topk's audited plan.)"""
    plan = plan_of(q(spark, "semantic_dedup_emb"))
    assert "CartesianProduct" not in plan
    # the corpus-vs-corpus pair join keys on cell: a hash equi-join node
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)
    assert "PythonUDF" not in plan

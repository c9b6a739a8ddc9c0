"""Plan audit: dump `explain("formatted")` for the flagship pipeline and the
headline queries into EXPLAIN.md, with automated checks on the properties the
plans must have (scan pruning, broadcast placement, exchange counts).

Usage: python3 tools/explain_audit.py  (writes EXPLAIN.md at the repo root)
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from fs2_data_spark.functions.arrow_kernel import PYTHON_NODES  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"

AUDITED = [
    # (name, properties asserted on the formatted plan)
    ("q1_pricing_summary", ["pushed_filter", "pruned_scan"]),
    ("q3_shipping_priority", ["broadcast", "pushed_filter"]),
    ("asof_join_events", ["single_window_exchange"]),
    ("jaccard_pairs", ["no_cartesian"]),
    ("ann_lsh_topk", ["no_cartesian"]),
    ("minhash_band_buckets", ["pruned_scan"]),
    ("simhash_docs", ["pruned_scan"]),
    ("pit_fused_events", ["single_window_exchange"]),
    ("pit_fused_events_segmented", ["no_cartesian"]),
    ("salted_agg_supplier_volume", ["pruned_scan"]),
    ("charset_roundtrip_docs", ["pruned_scan"]),
    # r4 additions
    ("xpath_fast_texts", ["no_python", "pruned_scan"]),
    ("csv_roundtrip_docs", ["pruned_scan"]),
    ("dup_token_spans", ["arrow_kernel", "no_cartesian", "pruned_scan"]),
    ("decontaminate_docs", ["arrow_kernel", "broadcast", "pruned_scan"]),
    ("tok_repetition_docs", ["no_python", "pruned_scan"]),
    # r5 additions
    ("mix_sample_docs", ["no_python", "no_exchange", "pruned_scan"]),
    ("tok_vocab_topk", ["top_k_not_sort", "no_cartesian", "pruned_scan"]),
    ("pack_sequences_docs", ["single_group_shuffle", "no_cartesian",
                             "pruned_scan"]),
    # IVF scores every vector against the 16-row broadcast centroid table —
    # the BroadcastNestedLoop there is the design (bounded dim side), so
    # no_cartesian does not apply; assert the broadcast + no Python instead
    ("ann_ivf_topk", ["arrow_kernel", "broadcast"]),
    ("multimodal_decode_docs", ["pruned_scan"]),
    ("split_assign_docs", ["no_python", "no_exchange", "pruned_scan"]),
    # the 1-row grand-total side is a bounded broadcast-NL cross by design
    # (r6 global_cumsum rewrite), so no_cartesian no longer applies
    ("curriculum_buckets_docs", ["no_python", "broadcast", "pruned_scan",
                                 "ecdf_parallel"]),
    # the 1-row total_words side is a broadcast-NL cross join by design
    # (bounded), so no_cartesian does not apply; the vocab join must
    # broadcast and the whole pipeline stays JVM-side
    ("unigram_quality_docs", ["no_python", "broadcast", "pruned_scan"]),
    ("bpe_pretok_docs", ["no_python", "no_exchange", "pruned_scan"]),
    ("redact_pii_docs", ["no_python", "no_exchange", "pruned_scan"]),
    ("chunk_tokens_docs", ["no_python", "no_exchange", "pruned_scan"]),
    # tf joins the vocabulary-sized df table broadcast; the 1-row n_docs
    # side is a bounded broadcast-NL cross by design
    ("tfidf_topk_docs", ["no_python", "broadcast", "pruned_scan"]),
    # per-row stages fused onto the scan; the first-seen dedup window is
    # the recipe's single exchange
    ("preprocess_pipeline_docs", ["no_python", "single_window_exchange",
                                  "pruned_scan"]),
    ("resample_docs", ["no_python", "no_exchange", "pruned_scan"]),
    ("vocab_merge_docs", ["no_python", "no_cartesian", "pruned_scan"]),
    ("winnow_fp_docs", ["arrow_kernel", "pruned_scan"]),
    ("bigram_quality_docs", ["no_python", "broadcast", "pruned_scan"]),
    # the shingle-frequency join side grows with the corpus: shuffle hash
    # join by design, no broadcast assert
    ("novelty_docs", ["arrow_kernel", "no_cartesian", "pruned_scan"]),
    # r5 late additions: sketches + heuristic filter + corpus rewrite
    ("gopher_rules_docs", ["no_python", "no_exchange", "pruned_scan"]),
    ("segment_dedup_docs", ["arrow_kernel", "no_cartesian", "pruned_scan"]),
    # per-group top-k over distinct hashes; the exact-count side joins the
    # 20-row sketch output, so the join must not plan as cartesian
    ("kmv_distinct_docs", ["arrow_kernel", "no_cartesian", "pruned_scan"]),
    # the 96-row finished sketch broadcasts into the probe join
    ("cms_counts_docs", ["no_python", "broadcast", "no_cartesian",
                         "pruned_scan"]),
    # the fitted NB vocab broadcasts back for scoring
    ("nb_classifier_docs", ["no_python", "broadcast", "no_cartesian",
                            "pruned_scan"]),
    # r5 late batch 2
    # PMI: marginals broadcast back onto the checkpointed count table; the
    # scan sits behind the localCheckpoint barrier so pruned_scan does not
    # apply (barrier-vs-no-barrier Generate counts pinned in test_plans.py)
    ("pmi_bigrams_docs", ["no_python", "top_k_not_sort", "broadcast"]),
    ("asof_join_events_forward", ["single_window_exchange", "no_python"]),
    ("asof_join_events_nearest", ["single_window_exchange", "no_python"]),
    ("boilerplate_segments_docs", ["arrow_kernel", "no_cartesian",
                                   "pruned_scan"]),
    ("w_multi_horizon_events", ["no_python", "single_group_shuffle",
                                "pruned_scan"]),
    ("time_bucket_cascade_events", ["no_python", "no_cartesian",
                                    "pruned_scan"]),
    # the 1-row global max joins as a bounded broadcast-NL by design
    ("length_buckets_docs", ["no_python", "pruned_scan"]),
    ("negative_pairs_docs", ["arrow_kernel", "no_cartesian", "pruned_scan"]),
    # IVF centroid broadcasts are bounded broadcast-NLs by design (as in
    # ann_ivf_topk); the pair stage must hash-join on the cell
    ("semantic_dedup_emb", ["arrow_kernel", "no_cartesian", "pruned_scan"]),
    ("cdc_dedup_stats_docs", ["arrow_kernel", "no_cartesian", "pruned_scan"]),
    ("top_ngram_docs", ["arrow_kernel", "pruned_scan"]),
    # all three expanding accumulators share one partition sort
    ("pit_zscore_events", ["no_python", "single_group_shuffle",
                           "pruned_scan"]),
    # 3 exchanges by design (partials agg, bucket prefix, intra-bucket
    # window); the tiny bucket-prefix table broadcasts back onto events
    ("pit_target_encode_events", ["no_python", "broadcast", "no_cartesian",
                                  "pruned_scan"]),
    # corpus touches one map-side-combined agg; everything after runs on
    # the <=64-rows-per-group sketch table
    ("hist_quantiles_docs", ["no_python", "no_cartesian", "pruned_scan"]),
    # projection is zero-shuffle per-row; the consecutive-id audit pair
    # join is an equi-join (broadcast at this SF, hash at scale)
    ("emb_jl_project", ["arrow_kernel", "no_cartesian", "pruned_scan"]),
    # the 1-row min/max stats side is a bounded broadcast-NL by design;
    # zero hash exchanges otherwise
    ("time_folds_events", ["no_python", "pruned_scan"]),
    # rank pass + bound-pickup pass share the one group-key exchange
    ("winsorize_events", ["no_python", "single_group_shuffle",
                          "pruned_scan"]),
    ("scd2_intervals_events", ["no_python", "single_group_shuffle",
                               "pruned_scan"]),
    ("hashed_bow_docs", ["arrow_kernel", "pruned_scan"]),
    ("loss_mask_docs", ["no_python", "no_exchange", "pruned_scan"]),
    ("fim_docs", ["no_python", "no_exchange", "pruned_scan"]),
    # three point-in-time dimension attachments fused into ONE WindowExec
    # over one sort (the dedup pre-aggs add their own exchanges by design)
    ("asof_multi_events", ["no_python", "single_fused_window",
                           "no_cartesian", "pruned_scan"]),
    # grid union + LOCF carry share one hash Exchange; 2 exchanges total
    # (the per-key bounds agg is the other); never a following frame
    ("gapfill_locf_events", ["no_python", "no_cartesian", "pruned_scan"]),
    ("gapfill_interp_events", ["no_python", "no_cartesian", "pruned_scan"]),
    ("twa_events", ["no_python", "no_cartesian", "pruned_scan"]),
    ("tok_entropy_docs", ["arrow_kernel", "pruned_scan"]),
    # SNM: rank-distance pairs via bucket equi-join (never a range join);
    # the P-row offset table broadcasts
    ("snm_pairs_docs", ["no_python", "no_cartesian", "broadcast",
                        "pruned_scan"]),
    # the <=8-row word table broadcasts into the probe join
    ("bloom_prune_docs", ["no_python", "broadcast", "no_cartesian",
                          "pruned_scan"]),
    ("epoch_shuffle_docs", ["no_python", "broadcast", "pruned_scan"]),
    ("key_skew_audit_events", ["no_python", "no_cartesian", "pruned_scan"]),
    # dedup agg + candle agg share the (user_id, ...) key: 2 exchanges
    ("ohlc_events", ["no_python", "no_cartesian", "pruned_scan"]),
    ("rank_normalize_events", ["no_python", "single_group_shuffle",
                               "pruned_scan"]),
    ("exact_split_docs", ["no_python", "single_group_shuffle",
                          "pruned_scan"]),
    # four window passes (2 ranks + 2 bound-pickups) on one exchange
    ("robust_scale_events", ["no_python", "single_group_shuffle",
                             "pruned_scan"]),
    ("equidepth_bins_events", ["no_python", "single_group_shuffle",
                               "pruned_scan"]),
    # vocab is a collected top-K literal: per-row membership, no join
    ("oov_rate_docs", ["no_python", "no_exchange", "pruned_scan"]),
    ("w_trailing_distinct_events", ["no_python", "single_group_shuffle",
                                    "pruned_scan"]),
    # three expanding quantiles fused into one WindowExec on one exchange
    ("pit_robust_z_events", ["no_python", "single_group_shuffle",
                             "single_fused_window", "pruned_scan"]),
    ("seasonal_baseline_events", ["no_python", "single_group_shuffle",
                                  "pruned_scan"]),
    ("interarrival_events", ["no_python", "single_group_shuffle",
                             "pruned_scan"]),
    # drift monitors: PSI's baseline-stats side broadcasts back onto the
    # stream; the bin grid is groups x k rows
    ("psi_drift_events", ["no_python", "broadcast", "no_cartesian",
                          "pruned_scan"]),
    # both expanding window passes (prefix sum + running min) share the
    # one user_id exchange
    ("cusum_events", ["no_python", "single_group_shuffle", "pruned_scan"]),
    # the vocab x source grid builds from bounded broadcast-NL crosses by
    # design (vocab-bounded sides), so no_cartesian does not apply
    ("kl_source_docs", ["no_python", "broadcast", "pruned_scan"]),
    # blocked linkage: block-key equi-join (broadcast at this SF, SMJ at
    # scale); the banded levenshtein is a post-join filter
    ("edit_pairs_docs", ["arrow_kernel", "no_cartesian", "pruned_scan"]),
    # r6: pair construction + partial counts in the Arrow kernel; the
    # final vocab^2-bounded count agg is the one hash exchange
    ("skipgram_pairs_docs", ["arrow_kernel", "pruned_scan"]),
    # exact count-distinct plans as the standard two-phase expand (2
    # exchanges on the bounded quasi-identifier key)
    ("k_anonymity_events", ["no_python", "no_cartesian", "pruned_scan"]),
    ("session_transitions_events", ["no_python", "no_cartesian",
                                    "pruned_scan"]),
    # per-key min window + sufficient-stats agg share ONE exchange
    ("trend_slope_events", ["no_python", "single_group_shuffle",
                            "pruned_scan"]),
    # the 1-row global min/max side is a bounded broadcast-NL by design;
    # marginal windows run over the |cats| x k cell table
    ("mi_features_events", ["no_python", "broadcast", "pruned_scan"]),
    # future window = ONE trailing RANGE frame over DESC-negated time:
    # all three labels share one WindowExec on one exchange
    ("future_labels_events", ["no_python", "single_group_shuffle",
                              "single_fused_window", "pruned_scan"]),
    # 1-row session total is a bounded broadcast-NL by design; the
    # membership self-join hash-joins on the session id
    ("session_cooccurrence_events", ["no_python", "broadcast",
                                     "pruned_scan"]),
    ("calibration_events", ["no_python", "single_group_shuffle",
                            "pruned_scan"]),
    # exact ECDF sup: tie-count agg + one group-partitioned window pass
    ("ks_drift_events", ["no_python", "no_cartesian", "pruned_scan"]),
    # each stage: filtered scan (pushed type predicate) + key equi-join;
    # the 3-row step grid joins broadcast
    ("funnel_events", ["no_python", "pushed_filter", "no_cartesian",
                       "pruned_scan"]),
    # first-seen table is per-key (hash join); cohort sizes broadcast
    ("cohort_retention_events", ["no_python", "broadcast", "no_cartesian",
                                 "pruned_scan"]),
    # 1-row study-end broadcast is a bounded broadcast-NL by design;
    # curve windows run over the distinct-duration table
    ("kaplan_meier_events", ["no_python", "broadcast", "pruned_scan",
                             "ecdf_parallel"]),
    # the r x c dim-grid cross join is two bounded DISTINCT sides by
    # design; everything downstream is cell-table sized
    ("cramers_v_events", ["no_python", "pruned_scan"]),
    # model + calib stats + q_hat tables are |groups| rows: broadcast;
    # split assignment is scan arithmetic
    ("conformal_events", ["no_python", "broadcast", "no_cartesian",
                          "pruned_scan"]),
    # tie-count agg + one ordered pass over distinct scores + 1-row fold
    ("auc_events", ["no_python", "no_cartesian", "pruned_scan",
                    "ecdf_parallel"]),
    # one group-partitioned window pass (rank + both running sums)
    ("gini_sources_docs", ["no_python", "no_cartesian",
                           "single_group_shuffle", "pruned_scan"]),
    # 9-key count agg; grid fill + windows over <= 9 rows
    ("benford_docs", ["no_python", "no_cartesian", "pruned_scan"]),
    # one stratum-partitioned window pass, zero joins
    ("pps_sample_docs", ["no_python", "no_cartesian",
                         "single_group_shuffle", "pruned_scan"]),
    # pooled ranks via range-partitioned global_rank; the 1-row N and
    # P-row offset tables are bounded broadcast sides by design
    ("qnorm_docs", ["no_python", "broadcast", "pruned_scan"]),
    # all ranking windows share the user partitioning
    ("rrf_events", ["no_python", "no_cartesian", "single_group_shuffle",
                    "pruned_scan"]),
    # tf agg, stats agg, capping window and join all share the term key
    ("posting_lists_docs", ["no_python", "no_cartesian", "pruned_scan"]),
    # bucket-sum agg + bucket equi-join with alphabet-bounded fan-out
    ("grid_corr_events", ["no_python", "no_cartesian", "pruned_scan"]),
    # sessionization + touch window share one key partitioning (the
    # touch carries struct(session, state), checked after the pick);
    # the second exchange re-keys |states|-bounded partial aggregates
    ("attribution_events", ["no_python", "no_cartesian", "pruned_scan"]),
    # cutoff explode from a plan-time literal + ONE map-side agg:
    # zero windows, zero joins, zero per-cutoff rescans
    ("snapshot_features_events", ["no_python", "no_cartesian",
                                  "single_group_shuffle", "pruned_scan"]),
    # rank window + OLS fold run over the vocab-bounded aggregate
    # the residual no-partition rank window is bounded by the constant
    # top_v (rows arrive through TakeOrderedAndProject — asserted)
    ("zipf_slope_docs", ["no_python", "no_cartesian", "pruned_scan",
                         "top_k_not_sort"]),
    # vocab x source grid: bounded dim cross joins by design (KL shape)
    ("js_source_docs", ["no_python", "pruned_scan"]),
    # sessionize + both struct leads share one key Exchange + Sort;
    # the deterministic top-k must plan as TakeOrderedAndProject
    ("session_trigrams_events", ["no_python", "no_cartesian",
                                 "top_k_not_sort", "pruned_scan"]),
    # every rule folds in ONE aggregation over one scan
    ("expectations_events", ["no_python", "no_cartesian"]),
    # word x source grid + pair join: all vocab/group-bounded after the
    # one corpus explode (bounded dim cross by design)
    ("stylometry_docs", ["no_python", "pruned_scan"]),
    # CUSUM windows + argmax rank share one key Exchange + Sort
    ("changepoint_events", ["no_python", "no_cartesian",
                            "single_group_shuffle", "pruned_scan"]),
    # one group-partitioned window pass + per-group fold
    ("weighted_median_docs", ["no_python", "no_cartesian",
                              "single_group_shuffle", "pruned_scan"]),
    # corpus reduces to |labels| x dim means; pair stage equi-joins on
    # the dimension; norm tables broadcast
    ("centroid_matrix_emb", ["no_python", "no_cartesian", "broadcast",
                             "pruned_scan"]),
    # key-equi join with the interval predicate as a residual filter
    ("scd2_lookup_events", ["no_python", "no_cartesian", "pruned_scan"]),
    # power iteration: per-round dst-keyed agg; the N/dangling-mass
    # scalars are 1-row broadcast-NL crosses by design (not cartesian
    # blowup), so no_cartesian does not apply
    ("pagerank_events", ["no_python", "pruned_scan"]),
    # term filter before the tf agg; df + corpus stats broadcast back
    ("bm25_scores_docs", ["no_python", "broadcast", "pruned_scan"]),
    # 64-row model table broadcast; (doc,bucket) agg is the one shuffle
    ("dsir_weights_docs", ["no_python", "broadcast", "pruned_scan"]),
    # pure per-row regexp counting: zero shuffle end to end
    ("script_mix_docs", ["no_python", "no_cartesian", "no_exchange",
                         "pruned_scan"]),
    # greedy steps: broadcast the 1 selected vector, top-1 must plan as
    # TakeOrderedAndProject (never a global sort)
    # r6 kernel path materializes the k greedy picks as a local result
    # (each step ran as a TakeOrdered job during construction)
    ("mmr_select_emb", ["local_result"]),
    # one agg to |sources| rows; scalars broadcast back
    ("temperature_mix_docs", ["no_python", "broadcast", "pruned_scan"]),
    # range partition + per-partition cumsum + broadcast offsets — the
    # P-row offsets window is the bounded planning read
    ("budget_select_docs", ["no_python", "broadcast", "pruned_scan"]),
    # integer votes: per-round (dst,label) agg + dst window; no floats
    ("label_prop_events", ["no_python", "no_cartesian", "pruned_scan"]),
    # tie counts -> one group-partitioned window -> one group agg
    ("mann_whitney_events", ["no_python", "no_cartesian", "pruned_scan"]),
    # word-keyed totals equi-join; group/corpus totals broadcast
    ("chi2_keywords_docs", ["no_python", "broadcast", "pruned_scan"]),
    # degree joins + wedge self-equi-join + semi-join: all equi-keyed;
    # the three 1-row count scalars cross at the end by design
    ("triangle_events", ["no_python", "pruned_scan"]),
    # one Exchange+Sort serves all lags; stats broadcast back
    ("autocorr_events", ["no_python", "broadcast", "no_cartesian",
                         "pruned_scan"]),
    # first-occurrence agg + range-partitioned shared prefix sums
    ("heaps_curve_docs", ["no_python", "broadcast", "no_cartesian",
                          "pruned_scan"]),
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def check(name: str, plan: str, props: list[str]) -> list[str]:
    problems = []
    if "pushed_filter" in props and "PushedFilters: [" not in plan:
        problems.append("no PushedFilters on scan")
    if "pruned_scan" in props:
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        if not schemas:
            problems.append("no ReadSchema found")
        elif name in ("minhash_band_buckets", "simhash_docs") and \
                not any("text" in s for s in schemas):
            problems.append("expected text column in some ReadSchema")
        # pruning: no scan reads every column of a wide table needlessly
        for s in schemas:
            cols = [c for c in s.split(",") if c]
            if len(cols) > 8:
                problems.append(f"scan reads {len(cols)} columns: {s[:60]}")
    if "broadcast" in props and "BroadcastHashJoin" not in plan and \
            "BroadcastExchange" not in plan:
        problems.append("no broadcast join in plan")
    if "single_window_exchange" in props:
        # the as-of union-window plan: window stages share ONE hash exchange
        # (an as-of plan adds the right-side dedup); the formatted plan prints
        # each exchange's partitioning on its ``Arguments:`` line
        n_ex = plan.count("Arguments: hashpartitioning")
        if not 1 <= n_ex <= 2:
            problems.append(f"{n_ex} hash exchanges (expected 1 or 2)")
    if "no_cartesian" in props and ("CartesianProduct" in plan
                                    or "BroadcastNestedLoopJoin" in plan):
        problems.append("cartesian / broadcast-NL join present")
    if "no_python" in props:
        for marker in PYTHON_NODES:
            if marker in plan:
                problems.append(f"Python tier in plan: {marker}")
    if "no_exchange" in props and "Exchange" in plan:
        problems.append("Exchange present in a zero-shuffle plan")
    if "top_k_not_sort" in props and "TakeOrderedAndProject" not in plan:
        problems.append("top-k planned as a global sort, not "
                        "TakeOrderedAndProject")
    if "arrow_kernel" in props:
        # the sanctioned Python tier is the vectorized Arrow batch family;
        # row-pickled BatchEvalPython stays banned
        if not any(m in plan for m in ("MapInArrow", "FlatMapGroupsInPandas",
                                       "ArrowEvalPython", "MapInPandas")):
            problems.append("expected an Arrow kernel node in plan")
        if "BatchEvalPython" in plan:
            problems.append("row-pickled BatchEvalPython in plan")
    if "ecdf_parallel" in props:
        # r6 global_cumsum contract: cumulative windows are partitioned by
        # the range-partition id; any remaining no-partition window may only
        # run over the P-row offsets table (its sort key is __pid)
        if "SPARK_PARTITION_ID()" not in plan:
            problems.append("no spark_partition_id: global_cumsum missing")
        for m in re.finditer(r"windowspecdefinition\((\w+)#\d+L? (?:ASC|DESC)",
                             plan):
            if not m.group(1).startswith("__pid"):
                problems.append("unbounded no-partition window over "
                                f"{m.group(1)}")
    if "local_result" in props and not (
            "LocalTableScan" in plan or "Scan ExistingRDD" in plan):
        problems.append("expected a local result scan")
    if "single_fused_window" in props:
        # N window carries over one (partition, order, frame) spec must
        # plan as exactly ONE WindowExec (the dimension-side struct-max
        # dedup pre-aggs plan as SortAggregates with their own local
        # sorts — bounded sides, not the fact-side cost)
        n_w = len(re.findall(r"\(\d+\) Window\b", plan))
        if n_w != 1:
            problems.append(f"{n_w} Window nodes (expected exactly 1)")
    if "single_group_shuffle" in props:
        n_ex = plan.count("hashpartitioning(")
        if n_ex != 1:
            problems.append(f"{n_ex} hash exchanges (expected exactly 1)")
    return problems


def main() -> None:
    from fs2_data_spark.queries import REGISTRY
    from fs2_data_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="explain_audit",
                      shuffle_partitions=8)
    out = ["# EXPLAIN audit — formatted physical plans of the headline queries",
           "",
           "Generated by `tools/explain_audit.py`. Each section lists the",
           "properties asserted on the plan (the audit FAILS the process if a",
           "property regresses) followed by the full `explain(\"formatted\")`.",
           ""]
    failures = []
    for name, props in AUDITED:
        fn, _sql = REGISTRY[name]
        plan = plan_of(fn(spark, SF_DIR))
        problems = check(name, plan, props)
        status = "OK" if not problems else f"FAIL: {problems}"
        out.append(f"## {name}  — properties: {props} — {status}\n")
        out.append("```\n" + plan.strip() + "\n```\n")
        print(f"{name:28s} {status}")
        if problems:
            failures.append((name, problems))
    Path("EXPLAIN.md").write_text("\n".join(out))
    spark.stop()
    if failures:
        raise SystemExit(f"plan audit failed: {failures}")


if __name__ == "__main__":
    main()

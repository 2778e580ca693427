"""Physical-plan regression tests over the catalog: the plan shape is
the 100 TB performance model, so the load-bearing properties — filters
reaching the parquet scan, dims broadcasting, top-K lowering to
TakeOrderedAndProject, map-only passes staying shuffle-free — are
asserted here against the real testdata scans (plan shape is
SF-independent; sf0.001 keeps it cheap)."""

from __future__ import annotations

import pytest

from dnsflow_clickhouse_spark.plans import (
    assert_broadcast_join,
    assert_pushed_filters,
    count_exchanges,
    physical_plan,
)
from dnsflow_clickhouse_spark.queries import QUERY_REGISTRY

SF = "/root/testdata/sf0.001"


def _q(name, spark):
    return QUERY_REGISTRY[name][0](spark, SF)


def test_q6_filters_reach_the_scan(spark):
    df = _q("q6_forecast_revenue", spark)
    assert_pushed_filters(df, "l_shipdate")
    # column pruning: the 16-column lineitem scan reads only what q6 uses
    plan = physical_plan(df)
    assert "l_returnflag" not in plan.split("ReadSchema")[1][:400]


def test_q5_star_joins_broadcast(spark):
    df = _q("q5_region_revenue", spark)
    assert_broadcast_join(df)
    assert "SortMergeJoin" not in physical_plan(df).replace(
        "BroadcastHashJoin", ""
    ).split("lineitem")[0]


def test_flow_report_topk_is_take_ordered(spark):
    plan = physical_plan(_q("flow_report_topk", spark))
    assert "TakeOrderedAndProject" in plan


def test_doc_quality_score_is_map_only(spark):
    # one range Exchange for the final orderBy is the ONLY shuffle
    assert count_exchanges(_q("doc_quality_score", spark)) <= 1


def test_stratified_sample_is_pure_filter(spark):
    # hash gate is a filter over the scan: no join, no aggregate shuffle
    assert count_exchanges(_q("stratified_doc_sample", spark)) <= 1


def test_q4_semi_join_never_widens(spark):
    plan = physical_plan(_q("q4_priority_semi", spark))
    assert "LeftSemi" in plan


def test_q22_anti_join_and_scalar_broadcast(spark):
    plan = physical_plan(_q("q22_idle_customers", spark))
    assert "LeftAnti" in plan
    assert "Broadcast" in plan


def test_pmi_topk_lowers_to_take_ordered(spark):
    # the top-50 collocation cut must be TakeOrderedAndProject, not a
    # global sort of every surviving pair
    plan = physical_plan(_q("collocation_pmi_topk", spark))
    assert "TakeOrderedAndProject" in plan


def test_ndcg_ranks_share_one_group_exchange(spark):
    # both window sorts (actual + ideal rank) hang off the same
    # hashpartitioning(g) — a second group exchange would double-shuffle
    # the corpus
    plan = physical_plan(_q("ranking_ndcg_by_source", spark))
    assert plan.count("hashpartitioning(g#") <= 1


def test_perceptron_scoring_joins_broadcast(spark):
    # model weights and labels enter the scoring pass as broadcasts;
    # the corpus-side feature table must never sort-merge against them
    df = _q("perceptron_source_score", spark)
    assert_broadcast_join(df)


def test_anomaly_report_is_agg_plus_one_window(spark):
    # hour-bucket agg + the expanding hod window + final sort: three
    # exchanges ceiling, nothing corpus-sized shuffles twice
    assert count_exchanges(_q("qps_anomaly_report", spark)) <= 3


def test_cusum_runs_on_one_series_exchange(spark):
    # (type, hour) agg -> per-type mean agg -> broadcast back -> the
    # two cumulative windows SHARE one series exchange -> final sort:
    # five Exchange nodes ceiling (incl. the broadcast), and the two
    # window functions (running sum, running min) must not introduce a
    # second series shuffle — asserted via the hashpartitioning count
    df = _q("event_rate_cusum", spark)
    assert count_exchanges(df) <= 5
    plan = physical_plan(df)
    assert plan.count("hashpartitioning(event_type") <= 3  # 2 aggs + window


def test_brier_is_single_aggregate(spark):
    # cpu repartition of the scan + one group agg + final sort —
    # no window, no join
    df = _q("brier_quality_en", spark)
    assert count_exchanges(df) <= 3
    assert "Join" not in physical_plan(df)


def test_spearman_ranks_share_one_group_exchange(spark):
    # both row_number sorts (x-rank, y-rank) hang off the same
    # hashpartitioning(g) — the ndcg discipline
    plan = physical_plan(_q("spearman_quality_chars", spark))
    assert plan.count("hashpartitioning(g#") <= 1


def test_mmr_pool_broadcasts_and_greedy_is_arrow(spark):
    # stage 1 broadcasts the query block (cosine_topk); stage 2 is one
    # Arrow FlatMapGroupsInPandas over query_id — no sort-merge join
    # anywhere (the pool and vector joins are all broadcast-able)
    df = _q("embedding_mmr_rerank", spark)
    plan = physical_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan


def test_masked_lm_is_map_then_one_agg(spark):
    # posexplode + mask expression + doc-grain agg: no join shuffle
    # beyond the agg + final sort; never a row-level window
    plan = physical_plan(_q("masked_lm_samples", spark))
    assert "Window" not in plan


def test_mad_and_winsorized_windows_walk_histograms(spark):
    # both medians/cutpoints aggregate to (group, value) FIRST: the
    # window input is the histogram aggregate, never the raw scan
    for name in ("mad_outlier_docs", "winsorized_length_stats"):
        plan = physical_plan(_q(name, spark))
        agg_pos = plan.find("HashAggregate")
        win_pos = plan.find("Window")
        assert agg_pos != -1 and win_pos != -1, name
        # physical plans print top-down: the Window must sit ABOVE some
        # HashAggregate (appear before it in the dump)
        assert win_pos < plan.rfind("HashAggregate"), name


def test_bm25_broadcasts_stats_and_terms_and_never_sorts_corpus(spark):
    plan = physical_plan(_q("bm25_retrieval_topk", spark))
    # query terms + idf + one-row stats ride broadcasts
    assert plan.count("BroadcastExchange") >= 2
    # the only Sort nodes serve the top-k window / final order, which
    # run on the scored (query x matched docs) set, not the corpus scan:
    # no global Exchange SinglePartition carrying the corpus
    assert "CartesianProduct" not in plan


def test_hard_negative_mining_broadcasts_labels(spark):
    assert_broadcast_join(_q("hard_negative_mining", spark))


def test_pareto_window_runs_on_distinct_values(spark):
    # the running-max window input is the per-distinct-x aggregate
    plan = physical_plan(_q("pareto_quality_frontier", spark))
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.find("Window") < plan.rfind("HashAggregate")


def test_segment_dedup_ownership_is_one_seg_hashagg(spark):
    # ownership = min(struct(id, seg_no)) per segment: a hash aggregate
    # keyed by the segment text, never a window sort over all segments
    plan = physical_plan(_q("segment_dedup_docs", spark))
    assert "HashAggregate" in plan
    assert "Window" not in plan


def test_symspell_verify_never_cartesian(spark):
    # candidate generation is the variant equi-join; the levenshtein
    # verify runs on the join's survivors — no all-pairs product
    plan = physical_plan(_q("symspell_token_pairs", spark))
    assert "CartesianProduct" not in plan
    assert "levenshtein" in plan


def test_lexical_rerank_reads_checkpoints_not_lsh_lineage(spark):
    # the TF frame and candidate pairs are pinned behind lineage
    # barriers: the scored plan must read the scanned RDDs, not re-run
    # the minhash signature pipeline per reuse (first cut did: 252s ->
    # 3.6s at sf0.1)
    plan = physical_plan(_q("lexical_rerank_pairs", spark))
    assert "Scan ExistingRDD" in plan
    assert "FlatMapGroupsInPandas" not in plan  # pure joins + aggs


def test_ewma_is_explode_plus_one_agg_no_window(spark):
    # the sliding weighted window is the contribution expansion + ONE
    # map-side-combinable groupBy: no per-key ordered Window over events
    plan = physical_plan(_q("ewma_event_rates", spark))
    assert "Window" not in plan
    assert "Generate" in plan  # the in-row age explode


def test_quantile_calibration_broadcasts_reference_cdf(spark):
    # the reference CDF is broadcast: the fact side never shuffles for
    # the inverse-CDF lookup
    assert_broadcast_join(_q("quantile_calibrated_lengths", spark))


def test_transition_matrix_single_sequence_window(spark):
    # exactly one Window (the per-user lag); the probability join is a
    # window over the |states|^2 aggregate, partitioned by prev_state
    plan = physical_plan(_q("event_transition_matrix", spark))
    assert plan.count("Window") >= 1
    assert "CartesianProduct" not in plan


def test_oov_vocab_rides_a_broadcast(spark):
    # the top-K vocabulary joins back as a broadcast membership flag
    df = _q("oov_rate_by_source", spark)
    plan = physical_plan(df)
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_lineage_barrier_has_one_call_site():
    """operators/util.barrier is the package's only caller of
    localCheckpoint/checkpoint (so the executor-local vs reliable choice
    is made once, by ``spark.checkpoint.dir``), and no operator takes a
    per-call ``checkpoint_dir`` parameter."""
    import ast
    import re
    from pathlib import Path

    import dnsflow_clickhouse_spark

    pkg = Path(dnsflow_clickhouse_spark.__file__).resolve().parent
    util = pkg / "operators" / "util.py"
    calls = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    offenders = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        if path != util
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if calls.search(line)
    ]
    assert offenders == [], offenders
    assert calls.search(util.read_text())

    params = []
    for path in sorted((pkg / "operators").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "checkpoint_dir" in names:
                    params.append(f"{path.name}:{node.name}")
    assert params == [], params

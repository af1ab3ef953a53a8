"""Physical-plan quality gates (the 100 TB design assertions).

Correctness tests say the answer is right; these say the PLAN is the
one we designed for scale: filters pushed to the parquet scan,
column pruning in ReadSchema, small dimensions broadcast, partial
(map-side) aggregation before the shuffle, and no Python evaluation
in JVM-expressible paths. If a refactor silently degrades one of
these (e.g. a filter stops pushing down), these fail before any
benchmark does.
"""

from __future__ import annotations

import re

import pytest

from chess_pipeline_spark.introspect import plan_metrics
from chess_pipeline_spark.plans import catalog

_CATALOG = catalog()


def _explain(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _plan(spark, sf_dir, name: str) -> str:
    return _explain(_CATALOG[name].spark(spark, sf_dir))


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    # sql_view_game_evals filters p_size > 25 — must reach the part scan
    plan = _plan(spark, sf_dir, "sql_view_game_evals")
    assert "GreaterThan(p_size,25)" in plan  # inside the part scan's PushedFilters


def test_column_pruning_in_read_schema(spark, sf_dir):
    # pricing_summary touches 5 of 16 lineitem columns; the scan
    # schema must not include untouched ones
    plan = _plan(spark, sf_dir, "pricing_summary")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    schema_line = read[0]
    assert "l_quantity" in schema_line and "l_extendedprice" in schema_line
    assert "l_comment" not in schema_line and "l_shipdate" not in schema_line


def test_dimension_join_broadcasts(spark, sf_dir):
    # customer side of top_customer_revenue is small → broadcast join,
    # no shuffle of the fact table for the dim join
    plan = _plan(spark, sf_dir, "top_customer_revenue")
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    # groupBy must do map-side partial agg (HashAggregate appears
    # both before and after the Exchange)
    plan = _plan(spark, sf_dir, "pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning" in plan


# Oracle-checked queries that are Arrow-batched-UDF-backed BY DESIGN:
# the media decode must run in Python, but the deterministic fake
# decoder still admits a byte-arithmetic SQL oracle.
_UDF_BY_NECESSITY = {
    "multimodal_features",
    "frame_sample_features",
    # the PGN parse UDTF is the U1 operator itself — an Arrow-batched
    # mapInPandas by design (its oracle is the golden derived table)
    "pgn_moves_table",
}


def test_no_python_eval_in_jvm_paths(spark, sf_dir):
    # every oracle-checked query must stay JVM-side: Python appears
    # only in the explicitly-UDF-backed queries, and those must be
    # Arrow-batched mapInPandas, never row-at-a-time eval
    for name, spec in _CATALOG.items():
        if spec.oracle is None:
            continue
        plan = _plan(spark, sf_dir, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name
        if name not in _UDF_BY_NECESSITY:
            assert "MapInPandas" not in plan, name


def test_whole_stage_codegen_on_hot_path(spark, sf_dir):
    # the TPC-H-Q1-shaped scan+agg must run inside whole-stage codegen
    df = _CATALOG["pricing_summary"].spark(spark, sf_dir)
    assert "WholeStageCodegen" in _explain(df, "codegen")


def test_anti_join_uses_broadcast_or_hash(spark, sf_dir):
    plan = _plan(spark, sf_dir, "parts_never_ordered")
    assert "LeftAnti" in plan


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    # revenue_by_nation: region/nation/customer hops must all
    # broadcast — only the fact join + final agg may shuffle
    plan = _plan(spark, sf_dir, "revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 2


def test_asof_is_single_key_shuffle(spark, sf_dir):
    # the as-of composition must be window-over-union: exactly one
    # hashpartitioning on the key, no join operator at all
    plan = _plan(spark, sf_dir, "events_asof_last_purchase")
    assert "Join" not in plan or "BroadcastHashJoin" not in plan
    assert "Window" in plan and "Union" in plan


def test_lsh_ann_probe_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "knn_cosine_lsh")
    assert "BroadcastHashJoin" in plan  # bucket-id hash join, queries broadcast


def test_no_cartesian_products_anywhere(spark, sf_dir):
    # broadcast nested-loop against a tiny broadcast side (the knn
    # query set) is fine; an unpartitioned CartesianProduct is never
    # acceptable — it means a join lost its equi-condition
    for name in _CATALOG:
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def _required_shuffles(plan: str) -> int:
    # keyed exchanges the plan REQUIRES — spread()'s local-mode
    # REPARTITION_BY_NUM split-widening doesn't count (it vanishes on
    # real multi-file datasets; see SCALING.md "local-mode artifacts")
    return sum(
        1
        for ln in plan.splitlines()
        if "hashpartitioning" in ln and "ENSURE_REQUIREMENTS" in ln
    )


@pytest.mark.parametrize("name", ["stratified_sample", "mixture_sample"])
def test_stratified_sample_prunes_and_filters_in_scan_stage(spark, sf_dir, name):
    # the sample decision is per-row: the text column must not be
    # read at all, and no keyed shuffle is required anywhere
    plan = _plan(spark, sf_dir, name)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read, f"text not pruned: {read}"
    assert _required_shuffles(plan) == 0


def test_pack_sequences_single_window_shuffle(spark, sf_dir):
    # concat-and-chunk is ONE running-sum window per source: exactly
    # one required hash exchange, one window, no join
    plan = _plan(spark, sf_dir, "pack_sequences")
    assert _required_shuffles(plan) == 1
    assert "Window" in plan and "Join" not in plan


def test_tfidf_aggregates_map_side(spark, sf_dir):
    # both the (source, word) tf count and the df count must partial-
    # aggregate before their shuffles; the 1-row n_sources aggregate
    # may broadcast-nested-loop (bounded by construction)
    plan = _plan(spark, sf_dir, "tfidf_top_terms")
    assert "partial_count" in plan


def test_dedup_keep_best_partial_max_before_shuffle(spark, sf_dir):
    # the representative must come from a partial max(struct) on the
    # map side of the single label shuffle — not a rank window
    plan = _plan(spark, sf_dir, "dedup_keep_best")
    assert "partial_max" in plan
    assert "row_number" not in plan


def test_decontam_benchmark_side_broadcasts(spark, sf_dir):
    # the benchmark gram set is the small side by construction — it
    # must broadcast; the training side may not shuffle before its
    # final doc_id aggregation
    plan = _plan(spark, sf_dir, "decontaminate_ngram_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", ["repetition_stats", "quality_filter_verdicts"])
def test_row_local_quality_ops_never_shuffle(spark, sf_dir, name):
    # the per-document repetition fold and the rule verdicts are
    # scan-stage projections: no keyed exchange anywhere
    plan = _plan(spark, sf_dir, name)
    assert _required_shuffles(plan) == 0
    assert "Join" not in plan


def test_pii_redact_is_scan_stage_only(spark, sf_dir):
    # the whole detect+redact chain is per-row regexp work: no keyed
    # exchange, no join — pure scan-stage projection
    plan = _plan(spark, sf_dir, "pii_redact_stats")
    assert _required_shuffles(plan) == 0
    assert "Join" not in plan


def test_paragraph_dedup_shuffles_on_digest_not_body(spark, sf_dir):
    # first-occurrence marking is ONE window whose partition key is
    # md5(chunk) — the exchange must be keyed on the digest expression
    # so the shuffle payload is bounded; plus the doc_id rollup and
    # the verdict join-back
    plan = _plan(spark, sf_dir, "paragraph_dedup")
    assert "row_number" in plan
    assert "md5" in plan
    assert _required_shuffles(plan) <= 3
    assert "BroadcastNestedLoopJoin" not in plan


def test_semdedup_joins_are_keyed(spark, sf_dir):
    # the within-cluster pair join must be an equi-join on label (the
    # vec_id inequality rides as a post-condition), and the nearest-
    # keeper pick must partial-aggregate map-side — no rank window
    plan = _plan(spark, sf_dir, "semdedup_embedding")
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_max" in plan
    assert "row_number" not in plan


def test_oov_rate_vocab_broadcasts(spark, sf_dir):
    # the head vocabulary is KBs by construction — its membership
    # join must broadcast, and the token count partial-aggregates
    plan = _plan(spark, sf_dir, "oov_rate_top1k")
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_gap_detection_single_window_pass(spark, sf_dir):
    # one keyed shuffle on user_id, one window, the gap filter fused
    # into the same stage — no join anywhere
    plan = _plan(spark, sf_dir, "events_gap_detection")
    assert _required_shuffles(plan) == 1
    assert "Window" in plan and "Join" not in plan


def test_retention_cohort_partial_aggs_no_cartesian(spark, sf_dir):
    # the per-customer min must partial-aggregate map-side; the join
    # back is an equi-join on o_custkey; no nested loop
    plan = _plan(spark, sf_dir, "orders_retention_cohort")
    assert "partial_min" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_is_equi_not_nested_loop(spark, sf_dir):
    # the bin-bucketing rewrite must produce a hash/sort-merge
    # equi-join on (user_id, bin); a raw range predicate would fall
    # back to BroadcastNestedLoopJoin and go quadratic per user
    plan = _plan(spark, sf_dir, "events_interval_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


@pytest.mark.parametrize("name", ["events_ohlc_hourly", "events_time_weighted_avg"])
def test_tsdb_rollups_single_exchange_partial_agg(spark, sf_dir, name):
    # OHLC and the time-weighted average must partial-aggregate
    # map-side and require exactly one keyed exchange
    plan = _plan(spark, sf_dir, name)
    assert _required_shuffles(plan) == 1, plan
    assert "partial_" in plan


@pytest.mark.parametrize(
    "name", ["events_tumbling_1h", "events_sessionized", "value_stats_by_weekday"]
)
def test_events_scan_prunes_columns(spark, sf_dir, name):
    # ns-timestamp normalization must not break column pruning on
    # the other columns
    plan = _plan(spark, sf_dir, name)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "props" not in read, f"{name}: props not pruned: {read}"


def test_boilerplate_set_broadcasts_and_rollup_copartitions(spark, sf_dir):
    # the high-frequency chunk set is tiny by definition and must
    # broadcast back onto the chunk stream; the digest-frequency
    # count is the only required keyed exchange (the doc_id rollup
    # reuses spread()'s doc_id partitioning) — and nothing ships
    # chunk bodies through a nested-loop join
    plan = _plan(spark, sf_dir, "boilerplate_chunk_removal")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "md5" in plan
    assert _required_shuffles(plan) <= 2


def test_corpus_composition_partial_aggs_scalar_broadcast(spark, sf_dir):
    # cell counts partial-aggregate map-side; the corpus total rides
    # in as a broadcast single-row aggregate (the idf-join shape),
    # never a keyed shuffle against the cells
    plan = _plan(spark, sf_dir, "corpus_composition")
    assert "partial_count" in plan and "partial_sum" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert _required_shuffles(plan) == 1


def test_decay_score_single_exchange_window_agg_fusion(spark, sf_dir):
    # the per-user max window and the final groupBy share the user_id
    # partitioning — one keyed exchange end-to-end, filter pushed to
    # the scan, three-column ReadSchema
    plan = _plan(spark, sf_dir, "events_decay_score")
    assert _required_shuffles(plan) == 1
    assert "Window" in plan and "Join" not in plan
    assert "PushedFilters: [IsNotNull(ts)" in plan


def test_rfm_single_agg_broadcast_global_scalar(spark, sf_dir):
    # one map-side-combined groupBy on o_custkey; the global max date
    # joins back as a broadcast single-row aggregate; scoring is a
    # projection — no window, no second keyed exchange on the fact
    plan = _plan(spark, sf_dir, "orders_rfm_segments")
    assert "partial_count" in plan and "partial_max" in plan
    assert "BroadcastExchange" in plan
    assert "row_number" not in plan and "CartesianProduct" not in plan
    assert _required_shuffles(plan) <= 2


def test_snapshot_diff_pushes_both_filters_single_join(spark, sf_dir):
    # both snapshot date filters must reach the parquet scan; the
    # classify is one co-keyed full outer join — no window, no
    # nested loop
    plan = _plan(spark, sf_dir, "orders_snapshot_diff")
    assert plan.count("PushedFilters: [IsNotNull(o_orderdate)") >= 1
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "row_number" not in plan


def test_returned_items_pushes_filter_broadcasts_dims_takeordered(spark, sf_dir):
    # Q10 shape: returnflag filter must reach the lineitem scan, the
    # customer⋈nation dim side must broadcast, and the global top-20
    # must be TakeOrdered (per-partition heaps), never a full sort
    plan = _plan(spark, sf_dir, "returned_items_report")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_mad_outlier_fence_joins_broadcast(spark, sf_dir):
    # both per-type stat frames are tiny → every join broadcasts; the
    # full value set is never shuffled for a window
    plan = _plan(spark, sf_dir, "mad_outlier_bounds")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_hll_registers_partial_agg_no_text_rescans(spark, sf_dir):
    # the register table agg must be map-side partial (mergeable
    # sketch state) and the scan must read only the two columns used
    plan = _plan(spark, sf_dir, "hll_distinct_users")
    assert plan.count("HashAggregate") >= 4  # partial+final × two aggs
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert reads and all("props" not in ln and "value" not in ln for ln in reads)


def test_data_profile_single_scan_expand(spark, sf_dir):
    # k count-distincts compile to ONE scan + Expand, not k scans
    plan = _plan(spark, sf_dir, "data_profile_orders")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Expand" in plan


def test_dup_cluster_hist_never_shuffles_text(spark, sf_dir):
    # after the md5 projection only the 32-char digest is shuffled;
    # both aggregations keep map-side partials
    plan = _plan(spark, sf_dir, "dup_cluster_size_hist")
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges and all("text" not in ln for ln in exchanges)
    assert plan.count("HashAggregate") >= 4


def test_unigram_lm_broadcasts_no_cartesian_blowup(spark, sf_dir):
    # the LM vocabulary and the (N, V) scalars broadcast; the only
    # non-broadcast exchanges are the word-count shuffle and the
    # per-doc rollup — and the scalar cross joins are broadcast-nested
    # -loop against 1-row sides, never a partitioned cartesian
    plan = _plan(spark, sf_dir, "unigram_logprob_score")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_cms_sketch_partial_aggs_bounded_counters(spark, sf_dir):
    # the 4x1024 counter fold must partial-aggregate map-side, and the
    # probe join against the top-k word set must hash-join, never SMJ.
    # (r7: the corpus-scale word count sits behind the vocab
    # localCheckpoint — its own map-side partial is asserted on the
    # vocab subtree below; the visible plan carries the counter fold's
    # partial_sum over the checkpointed vocab.)
    plan = _plan(spark, sf_dir, "cms_heavy_hitters")
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan

    from chess_pipeline_spark.sources import load_table
    import pyspark.sql.functions as F

    words = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    vocab_plan = _explain(words.groupBy("word").count())
    assert "partial_count" in vocab_plan


def test_binned_quantiles_histogram_before_window(spark, sf_dir):
    # the cumulative window must run over the <=1000-bin HISTOGRAM,
    # not the raw value set: a partial-agg'd groupBy(type, bin)
    # precedes the window
    plan = _plan(spark, sf_dir, "value_quantiles_binned")
    assert "partial_count" in plan
    assert "Window" in plan


def test_q4_exists_compiles_to_semi_join(spark, sf_dir):
    # the EXISTS shape must be a left-semi hash join with the
    # linestatus filter pushed into the lineitem scan
    plan = _plan(spark, sf_dir, "order_priority_pending")
    assert "LeftSemi" in plan
    assert "EqualTo(l_linestatus,O)" in plan


def test_q13_outer_join_preserves_unmatched(spark, sf_dir):
    plan = _plan(spark, sf_dir, "cust_order_count_dist")
    assert "LeftOuter" in plan or "RightOuter" in plan
    assert "CartesianProduct" not in plan


def test_q17_correlated_avg_broadcasts_back(spark, sf_dir):
    # the per-part average must come back as a broadcast hash join,
    # never an SMJ of the full fact against itself
    plan = _plan(spark, sf_dir, "small_qty_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q12_casesum_single_pass(spark, sf_dir):
    # one scan of each table, CASE folded into the partial agg — not
    # two filtered scans unioned
    plan = _plan(spark, sf_dir, "returnflag_priority_casesum")
    assert plan.count("Location: InMemoryFileIndex") == 2
    assert "partial_sum" in plan


def test_q21_double_correlation_single_fact_scan(spark, sf_dir):
    # the r13 decorrelated single-lineage form: ONE 3-column projected
    # fact scan, per-order totals as unordered window aggregates (no
    # order-cardinality aggregate broadcast back — that broadcast grew
    # with the fact table), no semi/anti probe of the full fact
    import re

    plan = _plan(spark, sf_dir, "waiting_supplier_orders")
    assert plan.count("Location: InMemoryFileIndex") == 1
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all("l_extendedprice" not in ln for ln in reads)
    assert re.search(r"^\(\d+\) Window\b", plan, re.MULTILINE)
    assert "Join" not in plan  # single lineage: no join of any kind
    assert "TakeOrderedAndProject" in plan


def test_deciles_global_sort_over_customer_cardinality(spark, sf_dir):
    # the ntile window must run AFTER the per-customer aggregate —
    # the global single-partition exchange carries customer rows,
    # never raw order rows. Formatted explain numbers operators
    # leaf-first, so "window consumes the aggregate's output" means
    # the Window detail header carries a HIGHER number than the
    # per-customer HashAggregate's.
    import re

    plan = _plan(spark, sf_dir, "customer_value_deciles")
    win_ns = [
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) Window\b", plan, re.MULTILINE)
    ]
    agg_ns = [
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) HashAggregate\b", plan, re.MULTILINE)
    ]
    assert win_ns and agg_ns
    assert max(win_ns) > min(agg_ns)  # window sits above the customer agg


def test_bm25_search_prunes_corpus_before_scoring(spark, sf_dir):
    # only documents containing a query term reach the scoring math
    # (the array_contains filter runs in the token explode stage) and
    # the 3-row idf frame broadcasts
    plan = _plan(spark, sf_dir, "bm25_doc_search")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_fuses_topk_frames_only(spark, sf_dir):
    # both retriever outputs are top-20 frames before the fusion join
    # (GlobalLimit above the join inputs), the query vector broadcasts,
    # and no cartesian sneaks in via the 1-row cross join
    plan = _plan(spark, sf_dir, "hybrid_search_rrf")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_attribution_single_user_shuffle_no_join(spark, sf_dir):
    # last-touch attribution is one user-keyed window over a RANGE
    # frame plus the final channel agg — never a purchases x touches
    # self-join
    plan = _plan(spark, sf_dir, "attribution_last_touch")
    assert "Window" in plan
    assert "Join" not in plan


def test_q18_aggregates_before_joins(spark, sf_dir):
    # the HAVING-IN decorrelation: lineitem aggregates FIRST (partial
    # sum on the fact), the tiny qualifying set + customer broadcast
    plan = _plan(spark, sf_dir, "large_quantity_orders")
    assert "partial_sum" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan


def test_q22_date_filter_pushed_anti_join(spark, sf_dir):
    # the NOT EXISTS probe side is pre-filtered at the scan and the
    # join is a LeftAnti — never a full orders scan into an SMJ
    plan = _plan(spark, sf_dir, "idle_customer_balance")
    assert "LeftAnti" in plan
    assert "IsNotNull(o_orderdate)" in plan or "GreaterThanOrEqual(o_orderdate" in plan


def test_path_trigrams_single_user_window_pass(spark, sf_dir):
    # one user-keyed window builds sessions AND both leads; the
    # boundary filter avoids a session re-partition; no join at all
    plan = _plan(spark, sf_dir, "session_path_trigrams")
    assert "Window" in plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ngram_dfcut_no_window_no_verify_join(spark, sf_dir):
    # the r6 stop-gram plan: shingle df agg + filter + pair-count —
    # no per-doc rank window, no array-carrying verify join, no
    # cartesian; the df filter sits under the self-join so head
    # posting lists never reach it
    import re

    plan = _plan(spark, sf_dir, "ngram_jaccard_near_dup")
    assert not re.search(r"^\(\d+\) Window\b", plan, re.MULTILINE)
    assert "CartesianProduct" not in plan
    assert "array_intersect" not in plan  # pair counts, not array verify
    assert "(df#" in plan or "df <= 64" in plan or "(df" in plan  # the cut exists


def test_deciles_sketch_no_global_customer_sort(spark, sf_dir):
    # the sketch-cut variant must NOT run ntile / a global sort over
    # customer rows: the only window runs over the <=4096-row bin
    # histogram (its detail number sits ABOVE the bin HashAggregate),
    # and the 9-cut frame reaches customers via a broadcast join
    import re

    plan = _plan(spark, sf_dir, "customer_value_deciles_sketch")
    assert "ntile" not in plan
    win_ns = [
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) Window\b", plan, re.MULTILINE)
    ]
    agg_ns = [
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) HashAggregate\b", plan, re.MULTILINE)
    ]
    assert win_ns and agg_ns
    assert min(win_ns) > min(agg_ns)  # every window consumes aggregated bins
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_dedup_groups_logstep_same_answer_as_plain(spark, sf_dir):
    # the pointer-jumping path must return byte-identical groups to
    # the plain propagation path (same fixpoint, same representative,
    # same member serialization)
    plain = {
        tuple(r) for r in _CATALOG["dedup_groups"].spark(spark, sf_dir).collect()
    }
    logstep = {
        tuple(r)
        for r in _CATALOG["dedup_groups_logstep"].spark(spark, sf_dir).collect()
    }
    assert plain == logstep


def test_bpe_merges_count_over_vocab_not_corpus(spark, sf_dir):
    # the Sennrich trick in the plan: pair explosion runs on the
    # distinct-word frame (after the word groupBy), never on raw
    # corpus tokens; partial agg before both shuffles; top-k is a
    # TakeOrdered, no join anywhere
    import re

    plan = _plan(spark, sf_dir, "bpe_merge_candidates")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan
    # the pair explode (Generate) must sit ABOVE the word aggregate:
    # its detail number is higher than the first HashAggregate's
    gen_ns = [
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) Generate\b", plan, re.MULTILINE)
    ]
    agg_ns = [
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) HashAggregate\b", plan, re.MULTILINE)
    ]
    assert gen_ns and agg_ns
    assert max(gen_ns) > min(agg_ns)


def test_pq_codebook_broadcasts(spark, sf_dir):
    # the 16-row codebook reaches vectors via a broadcast nested-loop
    # (bounded by construction); the only keyed exchange is the
    # vec_id argmin aggregate with map-side partial_min
    plan = _plan(spark, sf_dir, "embedding_pq_codes")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan


def test_adc_tables_broadcast_and_integer_sum(spark, sf_dir):
    # r14 shape: the per-query FLAT distance tables broadcast as
    # {_ADC_NQ} array rows and every corpus row scores itself by
    # row-local element_at lookups — no melt, no (qid, vec_id)
    # aggregate exchange; the only remaining corpus-scale shuffle is
    # the per-query top-k window, and nothing is an unbounded
    # cartesian (the nested-loop join's broadcast side is the
    # |queries|-row table frame)
    plan = _plan(spark, sf_dir, "knn_pq_adc")
    assert "BroadcastExchange" in plan
    assert "element_at(tbl" in plan
    assert "partial_sum" not in plan  # the melt-join rollup is gone
    assert "CartesianProduct" not in plan


def test_q19_bounds_push_and_part_broadcasts(spark, sf_dir):
    # the disjunction itself can't push down whole, but the arm-union
    # bounds must reach both scans, and part is the broadcast side
    plan = _plan(spark, sf_dir, "disjunctive_brand_revenue")
    assert "BroadcastHashJoin" in plan
    reads = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in ln for ln in reads)
    assert any("p_size" in ln for ln in reads)
    assert "CartesianProduct" not in plan


def test_q15_quarter_pushed_and_max_broadcasts(spark, sf_dir):
    # the ship-quarter filter reaches the lineitem scan; the 1-row
    # max and the supplier dim both arrive via broadcast joins; only
    # the suppkey agg requires a keyed exchange
    plan = _plan(spark, sf_dir, "top_supplier_revenue")
    assert any(
        "l_shipdate" in ln for ln in plan.splitlines() if "PushedFilters" in ln
    )
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_q7_dim_chains_broadcast(spark, sf_dir):
    # both nation-restricted dim chains broadcast; the only
    # SortMergeJoin candidate is the fact-fact orderkey join
    plan = _plan(spark, sf_dir, "nation_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 3  # sup, cust chains + nations
    assert "CartesianProduct" not in plan


def test_q3_segment_broadcast_and_date_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "shipping_priority_topk")
    assert "BroadcastHashJoin" in plan
    assert any(
        "l_shipdate" in ln for ln in plan.splitlines() if "PushedFilters" in ln
    )
    assert "TakeOrderedAndProject" in plan


def test_q6_every_predicate_pushed_zero_shuffles(spark, sf_dir):
    # the purest pushdown check in the catalog: all three predicates
    # reach the scan, only 4 columns are read, no join, no keyed
    # exchange — the whole query is one partial-agg reduce
    plan = _plan(spark, sf_dir, "forecast_revenue_change")
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in ln for ln in pushed), col
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" not in read and "l_tax" not in read
    assert "Join" not in plan
    assert _required_shuffles(plan) == 0


def test_q14_single_pass_case_ratio(spark, sf_dir):
    # numerator and denominator come from ONE scan with the CASE
    # folded into the partial agg — not two filtered scans unioned
    plan = _plan(spark, sf_dir, "promo_revenue_share")
    assert plan.count("Location: InMemoryFileIndex") == 2  # lineitem + part once each
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan


def test_q5_local_trade_dims_broadcast_single_fact_join(spark, sf_dir):
    # all four dimension branches broadcast; the only SortMergeJoin
    # candidate is lineitem x orders; the year filter reaches the
    # orders scan
    plan = _plan(spark, sf_dir, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert any(
        "o_orderdate" in ln for ln in plan.splitlines() if "PushedFilters" in ln
    )
    assert "CartesianProduct" not in plan


def test_q8_single_pass_ratio_widest_snowflake(spark, sf_dir):
    # numerator and denominator come from ONE fact pass (CASE in the
    # partial agg); every dim branch broadcasts; no cartesian
    plan = _plan(spark, sf_dir, "nation_market_share")
    # 8 scans: six tables once each + nation twice (customer branch
    # and supplier branch probe different keys) — crucially the FACT
    # tables (lineitem, orders) are scanned exactly once
    assert plan.count("Location: InMemoryFileIndex") == 8
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 1
    assert "partial_sum" in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_cube_is_one_expand_one_shuffle(spark, sf_dir):
    # the cube expands 4 grouping sets in ONE Expand feeding a single
    # partial-aggregated exchange — not a union of 4 scans
    import re

    plan = _plan(spark, sf_dir, "cube_status_priority")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert len(re.findall(r"^\(\d+\) Expand", plan, re.MULTILINE)) == 1
    assert "partial_count" in plan or "partial_sum" in plan


def test_deciles_sketch_agrees_with_exact_within_bin_ties(spark, sf_dir):
    # the sketch-cut report must reproduce the exact ntile report up
    # to revenue-bin granularity: identical totals, all ten deciles,
    # per-decile populations within bin-tie slack, boundary revenues
    # within one bin width (at sf0.001 the two are byte-identical;
    # the tolerances keep the test valid at SFs where bins tie)
    from chess_pipeline_spark.plans.relational import _DECILE_BIN_W

    exact = {
        r.decile: r
        for r in _CATALOG["customer_value_deciles"].spark(spark, sf_dir).collect()
    }
    sketch = {
        r.decile: r
        for r in _CATALOG["customer_value_deciles_sketch"]
        .spark(spark, sf_dir)
        .collect()
    }
    assert sorted(exact) == sorted(sketch) == list(range(1, 11))
    assert sum(r.n_customers for r in exact.values()) == sum(
        r.n_customers for r in sketch.values()
    )
    for d in exact:
        e, s = exact[d], sketch[d]
        slack = max(2, int(0.1 * e.n_customers))
        assert abs(e.n_customers - s.n_customers) <= slack, d
        assert abs(e.min_revenue - s.min_revenue) <= _DECILE_BIN_W, d
        assert abs(e.max_revenue - s.max_revenue) <= _DECILE_BIN_W, d


def test_relative_rank_windows_single_pass(spark, sf_dir):
    # percent_rank + cume_dist + nth_value ride segment-keyed window
    # passes over one customer-broadcast join — no self-join, no
    # global (empty-partitionBy) sort
    import re

    plan = _plan(spark, sf_dir, "segment_top_value_orders")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    win_ns = re.findall(r"^\(\d+\) Window\b", plan, re.MULTILINE)
    assert win_ns  # windows present, and every Sort below them is keyed
    assert "CartesianProduct" not in plan


def test_fuzzy_match_blocked_join_no_cartesian(spark, sf_dir):
    # the candidate space must come from the (brand, size) blocking
    # equi-join — a cartesian/nested-loop self-join would be the
    # all-pairs plan the blocking exists to avoid; and the length
    # prefilter + distance cut must sit in the join stage, not after
    # a window
    plan = _plan(spark, sf_dir, "fuzzy_part_matches")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the O(len^2) levenshtein AND the O(1) length lower bound both
    # live in the JOIN CONDITION (applied during the blocked join,
    # before any window), short-circuit ordered length-first
    join_lines = [ln for ln in plan.splitlines() if "Join condition" in ln]
    assert any(
        "abs((length(name_a" in ln and "levenshtein" in ln for ln in join_lines
    ), join_lines


def test_hll_set_algebra_single_tag_scan_and_broadcasts(spark, sf_dir):
    # set membership is ONE events scan feeding the CASE-explode (the
    # register branch); every KB-scale frame (pairs, per-set
    # estimates, union estimates, exact set counts) joins by
    # broadcast — no shuffle join over sketch-sized data
    plan = _plan(spark, sf_dir, "hll_set_algebra")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # register aggregation is map-side combined (partial_max before
    # the exchange)
    assert "partial_max" in plan or "HashAggregate" in plan


def test_containment_same_bounded_index_shape_as_jaccard(spark, sf_dir):
    # the asymmetric detector must keep the Jaccard plan's bounds: df
    # cut before the pair join (posting lists constant-bounded), the
    # pair count map-side combined, no window, no cartesian — the
    # ONLY intended difference is the dropped length-ratio prune
    plan = _plan(spark, sf_dir, "containment_near_dup")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan
    # the df filter must run BEFORE the self-join: the cap condition
    # appears as a Filter on BOTH posting-list sides (4 subtree
    # copies in the unreused plan), never as a join-output filter
    import re

    assert len(re.findall(r"\(df#\d+L? <= 64\)", plan)) >= 2, plan[:2000]


def test_source_kl_single_corpus_shuffle_rest_windows(spark, sf_dir):
    # ONE corpus-scale exchange (the (source, word) count, map-side
    # combined); every derived total (cw/ns/scal) rides the same sw
    # frame through chained windows — r14 removed the join-back form
    # whose branches re-ran the corpus explode five times, so the
    # plan now has NO joins at all and exactly one document scan
    plan = _plan(spark, sf_dir, "source_kl_divergence")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "Window" in plan
    # formatted explain prints a scan once in the tree and once in
    # the node details — count distinct scan nodes via Location lines
    assert plan.count("Location: InMemoryFileIndex") <= 1
    # text never moves: no exchange line carries the text column
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges and all("text" not in ln for ln in exchanges)


def test_zorder_audit_row_local_z_and_bounded_aggs(spark, sf_dir):
    # the z-value is a scan-stage integer projection (no Python, no
    # join); the only wide operations are the two layout windows the
    # audit exists to replay and the 64-group zone-map aggregate
    plan = _plan(spark, sf_dir, "zorder_layout_audit")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" in plan
    # the orders scan reads only the three columns the audit needs
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("o_totalprice" not in ln for ln in read)


def test_bloom_probe_never_shuffles_orders(spark, sf_dir):
    # the whole point of the bloom pattern: the fact side is tested
    # by broadcast lookups only — every join is a BroadcastHashJoin,
    # no SMJ/shuffle-hash join, no cartesian, and the single
    # non-broadcast shuffle feeding the result is the <=5-key
    # priority rollup (map-side combined)
    plan = _plan(spark, sf_dir, "bloom_join_prune")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    # no exchange line carries the probe-side row id: orders rows
    # reach the rollup without ever being redistributed
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges and all("o_orderkey" not in ln for ln in exchanges)


def test_bloom_has_no_false_negatives(spark, sf_dir):
    # Bloom's contract: a true member ALWAYS passes (the build sets
    # exactly the bits the probe checks), so bloom_pass >= true_match
    # row-by-row; and the filter must actually prune (pass < total)
    rows = _CATALOG["bloom_join_prune"].spark(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["bloom_pass"] >= r["true_match"], r
        assert r["false_pos"] == r["bloom_pass"] - r["true_match"]
        assert r["bloom_pass"] < r["n_orders"], "filter pruned nothing"


def test_media_phash_payloads_never_shuffle(spark, sf_dir):
    # the decode pass is ONE Arrow-batched python stage pinned by
    # localCheckpoint; every exchange downstream moves only doc_id +
    # 8 band ints — no payload/text bytes, no cartesian, no window
    plan = _plan(spark, sf_dir, "media_phash_near_dup")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchanges and all(
        "payload" not in ln and "text" not in ln for ln in exchanges
    )


def test_weighted_sample_topk_not_global_sort(spark, sf_dir):
    # the ES race must run as per-partition heaps + k-row merge
    # (TakeOrderedAndProject), never a full Sort + Exchange of the
    # corpus; the priority key is a scan-stage projection
    plan = _plan(spark, sf_dir, "weighted_sample_es")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "Window" not in plan
    # no corpus-wide exchange: TakeOrdered's own final gather is not
    # an Exchange node, so the plan should have none carrying text
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("text" not in ln for ln in exchanges)


def test_weighted_sample_es_law(spark, sf_dir):
    # exactly k distinct docs, and the sample is weight-biased:
    # mean sampled weight exceeds the corpus mean (the reason the
    # operator exists); priorities are valid (ln(u)/w <= 0)
    import pyspark.sql.functions as F

    from chess_pipeline_spark.sources import load_table

    rows = _CATALOG["weighted_sample_es"].spark(spark, sf_dir).collect()
    assert len(rows) == 100 == len({r["doc_id"] for r in rows})
    assert all(r["priority_micro"] <= 0 for r in rows)
    corpus_mean = (
        load_table(spark, sf_dir, "documents").agg(F.avg("n_chars")).first()[0]
    )
    sample_mean = sum(r["weight"] for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_psi_single_histogram_shuffle(spark, sf_dir):
    # both periods fold into ONE (priority, bin) counter pass via
    # conditional sums — a single orders scan, no join between
    # period scans; totals come from a window over the counter frame
    plan = _plan(spark, sf_dir, "psi_value_drift")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # formatted mode prints each node twice (tree + detail): one scan
    assert plan.count("Scan parquet") == 2
    # the totals window runs over the counter frame, after the agg
    assert "Window" in plan
    # the orders scan reads only the three columns PSI needs
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("o_custkey" not in ln for ln in read)


def test_pca_gram_map_side_combined_single_pass(spark, sf_dir):
    # the corpus-scale work is ONE scan folding d^2 outer-product
    # cells with map-side partials (partition-local reduce to <= d^2
    # rows before the exchange); the iterate stage rides on pinned
    # 1-row frames, so no join touches the corpus
    from chess_pipeline_spark.plans.llm import _pca_gram_frame

    plan = _explain(_pca_gram_frame(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the catalog query's post-checkpoint remainder is join-free too
    tail = _plan(spark, sf_dir, "pca_top_component")
    assert "SortMergeJoin" not in tail and "BatchEvalPython" not in tail


def test_concurrency_global_window_only_over_bucket_frame(spark, sf_dir):
    # the carry-in prefix is the ONLY unpartitioned window and it
    # runs over the aggregated per-hour frame: any single-partition
    # exchange must carry only bucket-level columns, never the delta
    # stream's user/session ids
    plan = _plan(spark, sf_dir, "concurrency_peak_daily")
    assert "CartesianProduct" not in plan
    singles = [ln for ln in plan.splitlines() if "SinglePartition" in ln]
    assert singles, "expected the bucket-frame prefix window"
    assert all(
        "user_id" not in ln and "session_id" not in ln for ln in singles
    )


def test_q2_argmin_no_window_over_fact(spark, sf_dir):
    # cheapest_supplier_per_part resolves the per-part argmin with
    # min(struct(unit, suppkey)) — a map-side-combined aggregate, NOT
    # a row_number window over the fact; part shortlist and supplier
    # dim broadcast; the size predicate reaches the part scan
    plan = _plan(spark, sf_dir, "cheapest_supplier_per_part")
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "LessThanOrEqual(p_size,10)" in plan  # pushed to the part scan
    # argmin aggregate is partial before the exchange
    assert "partial_min" in plan


def test_q11_scalar_subquery_broadcasts(spark, sf_dir):
    # above_share_nations divides by a one-row global aggregate — the
    # scalar side must arrive via broadcast (nested-loop over 1 row),
    # never a cartesian or a sort-merge join
    plan = _plan(spark, sf_dir, "above_share_nations")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan
    # both fact passes carry the 3-column projection only
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln and "lineitem" not in ln]
    assert all("l_shipdate" not in ln and "l_quantity" not in ln for ln in reads)


def test_q9_dims_broadcast_profit_rolls_up(spark, sf_dir):
    # profit_by_nation_year: part (name-filtered), supplier, nation
    # all broadcast; the name LIKE predicate reaches the part scan;
    # the final nations x years aggregate is map-side combined
    plan = _plan(spark, sf_dir, "profit_by_nation_year")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    assert "StringContains(p_name,gear)" in plan
    assert "partial_sum" in plan


def test_q20_single_fact_scan_window_on_pair_frame(spark, sf_dir):
    # dominant_supplier_parts: the fact is scanned ONCE (the per-part
    # rollup is a window over the pair frame, not a self-join that
    # would duplicate the lineitem subtree); the only window runs
    # after the pair aggregate
    plan = _plan(spark, sf_dir, "dominant_supplier_parts")
    # formatted mode prints each node twice (tree + detail):
    # lineitem + supplier = 2 scans -> 4 mentions
    scan_lines = [
        ln for ln in plan.splitlines() if "Location: InMemoryFileIndex" in ln
    ]
    li_scans = [ln for ln in scan_lines if "lineitem" in ln]
    assert len(li_scans) == 1, plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_q16_exclusion_is_broadcast_anti_join(spark, sf_dir):
    # brand_supplier_counts excludes in-arrears suppliers via a
    # broadcast LEFT ANTI join (the NOT IN list is supplier-scale);
    # the negative-balance predicate reaches the supplier scan and
    # the size shortlist reaches the part scan
    plan = _plan(spark, sf_dir, "brand_supplier_counts")
    assert "LeftAnti" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "LessThan(s_acctbal,0" in plan
    assert "In(p_size, [1,5,9,13,19,23,31,45])" in plan or "In(p_size" in plan


def test_pit_join_is_keyed_equi_never_range(spark, sf_dir):
    # scd2_point_in_time_join: the validity window must ride the
    # custkey HASH join as a join condition — a range-join plan
    # (BroadcastNestedLoopJoin/CartesianProduct) would be the 100 TB
    # scale-killer this operator exists to avoid
    plan = _plan(spark, sf_dir, "scd2_point_in_time_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    # dimension build is a narrow explode: only the ORDER BY exchange
    # plus (at most) the join's own requirement may shuffle
    m = plan_metrics(_CATALOG["scd2_point_in_time_join"].spark(spark, sf_dir))
    assert m["exchanges"] <= 2, m


def test_negative_pairs_corpus_side_never_shuffles(spark, sf_dir):
    # negative_sample_pairs: ONE bucket-keyed exchange builds the
    # representative frame; the pair join must consume it as a
    # BROADCAST (the corpus side stays shuffle-free), and only the
    # deterministic ORDER BY may add a range exchange on top
    df = _CATALOG["negative_sample_pairs"].spark(spark, sf_dir)
    m = plan_metrics(df)
    assert m["broadcast_joins"] >= 1, m
    assert m["cartesian"] == 0 and m["sort_merge_joins"] == 0, m
    plan = _explain(df)
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "hashpartitioning" in ln and "Exchange" in ln
    ]
    assert len(hash_exchanges) <= 1, hash_exchanges
    # the documents scan reads only doc_id — text never moves
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert all("text" not in ln for ln in reads), reads


def test_leakage_split_single_digest_shuffle_text_pruned(spark, sf_dir):
    # leakage_safe_split: one digest-keyed exchange feeds the group
    # window; text is consumed by md5() in the scan stage and must
    # not survive into the exchange (only doc_id + 32-byte digest
    # move)
    df = _CATALOG["leakage_safe_split"].spark(spark, sf_dir)
    m = plan_metrics(df)
    assert m["keyed_exchanges"] <= 1, m
    assert m["windows"] == 1, m
    plan = _explain(df)
    ex_lines = [ln for ln in plan.splitlines() if "hashpartitioning(dg" in ln]
    assert ex_lines, plan  # the one shuffle keys on the digest


def test_oversample_no_corpus_scale_keyed_exchange(spark, sf_dir):
    # oversample_balance_sources: the rate frame must broadcast back
    # onto the corpus (replication is a row-local explode); the only
    # keyed exchanges aggregate the ≤|sources| counter frames
    df = _CATALOG["oversample_balance_sources"].spark(spark, sf_dir)
    m = plan_metrics(df)
    assert m["broadcast_joins"] >= 1, m
    assert m["cartesian"] == 0 and m["sort_merge_joins"] == 0, m
    plan = _explain(df)
    assert "Generate explode" in plan or "Generate" in plan, plan


def test_balanced_shards_no_corpus_scale_global_window(spark, sf_dir):
    # token_balanced_shards decomposes the global length rank into
    # per-bin KEYED windows + a window over the bounded bin-count
    # frame: the corpus-side window must be hash-partitioned by
    # bin_idx, and the only unpartitioned (single-partition) exchange
    # feeds the bin-count frame, never document rows
    df = _CATALOG["token_balanced_shards"].spark(spark, sf_dir)
    plan = _explain(df)
    assert "hashpartitioning(bin_idx" in plan, plan
    m = plan_metrics(df)
    assert m["windows"] == 2, m  # per-bin rank + bin-frame offsets
    assert m["cartesian"] == 0 and m["sort_merge_joins"] == 0, m
    assert m["broadcast_joins"] >= 1, m  # offsets broadcast back
    # SinglePartition exchanges may only carry the bin-count frame:
    # they must sit ABOVE an aggregate of the binned counts, which
    # the plan shows as a partial_count before that exchange
    if "SinglePartition" in plan:
        assert "partial_count" in plan, plan


def test_dup_ngram_fraction_no_pair_join_text_pruned(spark, sf_dir):
    # the dup-exposure signal must stay linear: no self/pair join of
    # postings (a join on the gram key joining postings to the
    # KB-scale df frame is fine — nothing squares), no cartesian, and
    # neither gram TEXT nor full gram strings ride a keyed exchange —
    # the df groupBy and the join-back are keyed on the 8-byte
    # xxhash64 digest (r9), matching the streaming ledger. The only
    # exchange allowed to carry text is spread()'s REPARTITION_BY_NUM
    # parallelism fix-up, which is a no-op at real scale (>= cores
    # input splits).
    plan = _plan(spark, sf_dir, "dup_ngram_fraction")
    assert "CartesianProduct" not in plan
    # per-node check: split the formatted plan into detail sections
    # and inspect every Exchange's carried columns
    sections = re.split(r"\n\((\d+)\) ", plan)
    keyed_gd = 0
    for head, body in zip(sections[1::2], sections[2::2]):
        node = body.split("\n", 1)[0]
        if not node.startswith("Exchange"):
            continue
        if "REPARTITION_BY_NUM" in body:
            continue  # the spread() fix-up — test-scale only
        assert "text#" not in body, f"text rides Exchange ({head}): {body}"
        assert ", g#" not in body and "[g#" not in body, (
            f"gram strings ride Exchange ({head}): {body}"
        )
        if "hashpartitioning(gd#" in body:
            keyed_gd += 1
    assert keyed_gd >= 1, plan  # the df count shuffles digests
    # map-side partial agg on both the df count and the per-doc fold
    assert plan.count("HashAggregate") >= 4


def test_embedding_diversity_single_keyed_agg_no_pairs(spark, sf_dir):
    # the n^2 pairwise semantics must collapse into keyed aggregates:
    # no join of the embeddings table against itself, no window, and
    # partial (map-side) aggregation before the (label, dim) exchange
    plan = _plan(spark, sf_dir, "embedding_diversity")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_skew_rescue_audit_classifies_join_shapes(spark):
    """r10 stretch (the generalized scripts/dupgram_skew.py finding):
    AQE's OptimizeSkewedJoin matches ONLY SortMergeJoin ->
    Sort -> ENSURE_REQUIREMENTS-shuffle on BOTH children, so a join
    that 'leaves skew to AQE' with an aggregate between a Sort and
    its shuffle is silently unprotected. introspect.skew_rescue_audit
    makes the shape checkable; assert it classifies the three shapes
    correctly."""
    import pyspark.sql.functions as F

    from chess_pipeline_spark.introspect import skew_rescue_audit

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(10000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
        b = spark.range(10000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("w")
        )
        # plain scan-to-scan join: the AQE-splittable shape
        plain = skew_rescue_audit(a.join(b, "k"))
        assert len(plain) == 1 and plain[0]["aqe_splittable"], plain
        # aggregate-over-shuffle child: the dupgram shape AQE cannot
        # split (HashAggregate sits between the Sort and its shuffle)
        agg = skew_rescue_audit(a.join(b.groupBy("k").count(), "k"))
        assert len(agg) == 1 and not agg[0]["aqe_splittable"], agg
        assert any(
            "HashAggregate" in op for op, _ in agg[0]["children"]
        ), agg
        # broadcast joins never appear: already the skew-immune shape
        assert skew_rescue_audit(a.join(F.broadcast(b.limit(5)), "k")) == []
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dup_ngram_fraction_skew_posture_pinned(spark, sf_dir):
    """Pin the r9 measured finding on the production query: with
    implicit broadcasts disabled (forcing the cold join to SMJ), the
    hot-gram side STILL broadcasts (explicit hint — the structural
    de-skew), and whatever SortMergeJoins remain are exactly the
    shapes AQE cannot split — which is WHY the structural split
    exists. If a refactor ever makes the cold join AQE-splittable,
    this documents the improvement; if it removes the hot broadcast,
    the gate fails loudly."""
    from chess_pipeline_spark.introspect import plan_metrics, skew_rescue_audit

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _CATALOG["dup_ngram_fraction"].spark(spark, sf_dir)
        pm = plan_metrics(df)
        # the explicit hot-side broadcast survives threshold=-1
        assert pm["broadcast_joins"] >= 1, pm
        audit = skew_rescue_audit(df)
        # every remaining SMJ is the unsplittable aggregate-over-
        # shuffle shape — the measured reason AQE cannot rescue this
        # query and the split is structural
        for a in audit:
            assert not a["aqe_splittable"], a
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_dsir_model_broadcasts_postings_shuffle_once(spark, sf_dir):
    # the DSIR model frames (bucket counts, totals, log-ratios) are
    # <= _DSIR_B rows and must reach the scoring join as broadcasts;
    # the gram postings never pair-join (no SMJ, no cartesian) and
    # the text column never survives past the scan into an exchange
    plan = _plan(spark, sf_dir, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_kernel_forms_pinned_fold_vs_zipwith():
    """r12 verdict task (r13): the measured kernel rule — index-fold
    (aggregate over sequence(lo,hi) + element_at) for PQ SUBSPACE
    distances, zip_with for FULL-VECTOR dot/norm kernels — lives in
    SCALING.md's r12 A/B (fold 0.46x on sliced subspaces, 1.4x
    SLOWER on whole 64-dim vectors). This gate pins both directions
    at the source level so a future 'simplification' can't silently
    swap a measured win back.
    """
    import inspect

    from chess_pipeline_spark import ann_index
    from chess_pipeline_spark.plans import llm

    def code_only(src: str) -> str:
        # the rule is about the EXPRESSIONS; comments cite the old
        # form by name and must not trip the gate
        return "\n".join(
            ln.split("#", 1)[0] for ln in src.split("\n")
        )

    # PQ subspace kernels: the fold, never slice()/zip_with per pair
    for fn in (ann_index._pq_subspace_l2,):
        src = code_only(inspect.getsource(fn))
        assert "aggregate(sequence(" in src, fn.__name__
        assert "element_at(embedding" in src, fn.__name__
        assert "zip_with(slice(" not in src, (
            f"{fn.__name__}: PQ subspace distance regressed to the "
            "sliced zip_with form (3 allocations per pair; 2.3x "
            "slower at 500k vectors — SCALING.md r12)"
        )
    pq_src = code_only(inspect.getsource(llm))
    pq_region = pq_src[pq_src.index("_PQ_SUB = "):]
    assert "zip_with(slice(" not in pq_region, (
        "plans/llm.py PQ section regressed to the sliced zip_with form"
    )
    assert "aggregate(sequence(" in pq_region

    # full-vector kernels: zip_with, never the element_at fold
    for name, tmpl in (
        ("ann_index._DOT", ann_index._DOT),
        ("llm._DOT", llm._DOT),
    ):
        assert "zip_with(" in tmpl, name
        assert "element_at(" not in tmpl, (
            f"{name}: full-vector dot kernel regressed to the "
            "element_at fold (1.4x slower on whole 64-dim arrays — "
            "SCALING.md r12 kernel note)"
        )
    for name, tmpl in (
        ("ann_index._NORM", ann_index._NORM),
        ("llm._NORM", llm._NORM),
    ):
        assert "aggregate(" in tmpl and "element_at(" not in tmpl, name


def test_dsir_resample_is_takeordered_over_weights_plan(spark, sf_dir):
    # the Gumbel-top-k selection must ride TakeOrdered partial heaps
    # (k-row driver merge), never a global sort, and inherit the
    # weights plan's broadcast-model / no-SMJ shape
    plan = _plan(spark, sf_dir, "dsir_resample_topk")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name", ["temperature_mixture_sample", "unigram_logprob_score"]
)
def test_plan_build_launches_no_job(spark, sf_dir, name):
    """Building these plans, without collecting them, starts no Spark
    job. Each reuses one shuffled frame in several branches; a pin on
    that frame, even localCheckpoint(eager=False), would run its
    shuffle stage at build time under AQE."""
    from chess_pipeline_spark.sources import load_table

    # the first load of a table infers its parquet schema with a job;
    # the scan is memoized per context, so load it outside the group
    load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    group = f"build-only-{name}"
    sc.setJobGroup(group, "plan build without an action")
    try:
        _CATALOG[name].spark(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

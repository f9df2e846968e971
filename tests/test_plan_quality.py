"""Plan-quality regression tests — the 100 TB posture, asserted.

Correctness tests prove the operators compute the right answer; these
prove Catalyst is given plans it can execute well at scale: filters
reach the parquet scan, projections prune columns, small sides
broadcast, and the anti-join gate never degenerates into a shuffle of
the big side.
"""

from __future__ import annotations

from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.plans import (
    QUERIES,
)

from .conftest import SF_DIR


def _explain(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _plan(spark, name: str) -> str:
    return _explain(spark, QUERIES[name](spark, SF_DIR))


def test_csv_scan_pushdown_and_pruning(spark):
    plan = _plan(spark, "csv_scan")
    assert "PushedFilters: [" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan
    # column pruning: only the 4 projected columns in ReadSchema
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" not in read_schema
    assert "l_orderkey" in read_schema


def test_tpch_q1_single_shuffle_with_pushdown(spark):
    plan = _plan(spark, "tpch_q1")
    assert "LessThanOrEqual(l_shipdate" in plan
    # partial aggregation: exactly one exchange (map-side combine first)
    assert plan.count("Exchange") <= 2  # one shuffle + possible AQE read


def test_idempotency_gate_is_broadcast_anti_join(spark):
    plan = _plan(spark, "idempotency_anti_join")
    assert "BroadcastHashJoin LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_star_join_broadcasts_dimensions(spark):
    plan = _plan(spark, "join_revenue_rollup")
    # customer/nation/region all broadcast: no shuffle on dimension joins
    assert plan.count("BroadcastHashJoin") >= 3


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = _plan(spark, "topk_cosine")
    assert "TakeOrderedAndProject" in plan


def test_point_lookup_is_broadcast_semi(spark):
    plan = _plan(spark, "point_lookup")
    assert "LeftSemi" in plan
    assert "BroadcastHashJoin" in plan


def test_tpch_q6_all_predicates_pushed(spark):
    plan = _plan(spark, "tpch_q6")
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    # every selective predicate reaches the parquet scan
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    # pure scan+agg: no join, no more than the one agg exchange
    assert "Join" not in plan


def test_tpch_q3_topn_and_broadcast(spark):
    plan = _plan(spark, "tpch_q3")
    assert "TakeOrderedAndProject" in plan  # top-10, never a global sort
    assert "BroadcastHashJoin" in plan  # filtered customer dim broadcast
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("o_orderdate" in l for l in pushed)
    assert any("l_shipdate" in l for l in pushed)


def test_minhash_signatures_no_shuffle(spark):
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators import (
        dedup,
    )
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.sources.parquet_source import (
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents")
    df = dedup.minhash_signatures(docs)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # signature derivation is a narrow fold: the only exchange allowed is
    # the explicit round-robin repartition for local single-file inputs
    assert "hashpartitioning" not in plan, plan
    assert plan.count("REPARTITION_BY_NUM") <= 1


def test_pack_sequences_single_stream_shuffle(spark):
    plan = _plan(spark, "pack_sequences")
    # one hash exchange for the per-stream window + one for the stats agg,
    # which AQE may coalesce; never a global (rangepartitioning) sort
    assert "rangepartitioning" not in plan
    assert plan.count("hashpartitioning") <= 2


def test_near_dedup_no_cache_and_bounded_shuffles(spark):
    """The MinHash pipeline must not pin anything in the cache manager
    (no InMemoryTableScan) — the self-join recomputes the codegen'd
    signature fold instead — and its only exchanges are the band join's
    two sides plus the pair dedup."""
    plan = _plan(spark, "near_dedup")
    assert "InMemoryTableScan" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning") <= 3


def test_embedding_near_dup_single_bucket_shuffle(spark):
    """Banded multi-table LSH pairs expand inside collected buckets: one
    (table_id, bucket) aggregation shuffle + the pair dedup — the
    vectors never feed a self-join that reads the data twice."""
    plan = _plan(spark, "embedding_near_dup")
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" not in plan
    assert "SortMergeJoin" not in plan  # no bucketed self-join anywhere
    # bucket-collect agg + dropDuplicates (+ a possible AQE artifact)
    assert plan.count("hashpartitioning") <= 3


def test_dlq_replay_single_window_shuffle(spark):
    """attempt numbering and the terminal count share one window
    partitioning: exactly one exchange over the upload key."""
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.dlq import (
        dlq_replay,
    )

    transitions = spark.createDataFrame(
        [("u1", "failed", "boom", 1.0)],
        "upload_id string, status string, error_message string, ts double",
    )
    df = dlq_replay(transitions)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert plan.count("hashpartitioning") == 1, plan


def test_exact_dedup_partial_aggregation(spark):
    """Winner selection must be a two-phase aggregate (map-side combine
    collapses the hot empty-doc hash before the shuffle), never a
    row_number window funneling duplicates through one task."""
    plan = _plan(spark, "exact_dedup")
    assert "partial_min" in plan, plan
    assert "Window" not in plan


def test_interval_join_is_keyed_not_nested_loop(spark):
    """The time-range predicate must ride as a residual on the user_id
    equi-join; a BroadcastNestedLoopJoin here would be |clicks|x|purchases|
    at scale."""
    plan = _plan(spark, "interval_join")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_dup_passages_topk_not_global_sort(spark):
    plan = _plan(spark, "dup_passages")
    assert "TakeOrderedAndProject" in plan


def test_hard_negatives_broadcast_and_partitioned_rank(spark):
    """Anchors must broadcast (corpus side never shuffles for the join)
    and the rank window must be per-anchor, not global."""
    plan = _plan(spark, "hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "Sort [anchor_id" in plan or "hashpartitioning(anchor_id" in plan


def test_tpch_q5_broadcasts_all_dimensions(spark):
    """Six-table star: every dimension chain broadcasts; only the
    orders-lineitem fact join may shuffle."""
    plan = _plan(spark, "tpch_q5")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_bm25_df_is_partial_agg_not_hot_term_window(spark):
    """Per-term document frequency must come from a map-side-combined
    groupBy(term).count() + broadcast join, never a count-over-window
    partitioned by term (which funnels the hottest term through one
    task's sort). The only windows left in the plan are the bounded
    rank attachments."""
    df = QUERIES["bm25_search"](spark, SF_DIR)
    df.collect()  # let AQE finalize so runtime exchange reuse is visible
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(term" not in plan
    assert plan.count("BroadcastHashJoin") >= 1
    # the df branch must ride the postings shuffle, not rescan the corpus
    assert "ReusedExchange" in plan


def test_skewed_agg_salts_the_exchange(spark):
    """The hot key must NOT funnel through one reducer: the first
    aggregation exchanges on (key, salt) — 16 partitions share the hot
    key's rows — and only the tiny per-(key,salt) partials re-exchange
    on the bare key."""
    plan = _plan(spark, "skewed_agg_rollup")
    import re

    salted_exchange = re.search(
        r"hashpartitioning\([^)]*__salt", plan
    )
    assert salted_exchange, plan
    # two-phase: a partial aggregate exists below the salted exchange
    assert plan.count("HashAggregate") >= 4  # partial+final x two phases


def test_skewed_join_replicates_broadcast_side_over_salt(spark):
    """The salted join must broadcast the replicated small side and
    carry __salt in the join key, so the hot key probes on 16 tasks."""
    plan = _plan(spark, "skewed_join_rollup")
    assert "BroadcastHashJoin" in plan
    import re

    assert re.search(r"keys \[\d+\]: \[[^\]]*__salt", plan), plan
    assert "SortMergeJoin" not in plan


def test_tpch_q4_exists_is_semi_join(spark):
    """The EXISTS must stay a LEFT SEMI join (lineitem can never
    duplicate orders rows) with the date filter pushed to the orders
    scan."""
    plan = _plan(spark, "tpch_q4")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan or "GreaterThanOrEqual(o_orderdate" in plan


def test_tpch_q14_broadcasts_part(spark):
    plan = _plan(spark, "tpch_q14")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tpch_q18_semi_join_and_topk(spark):
    """The HAVING subquery plans as LEFT SEMI against the aggregated
    quantities, and the top-100 is TakeOrderedAndProject, not a global
    sort materialization."""
    plan = _plan(spark, "tpch_q18")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_tpch_q16_anti_join_excludes_suppliers(spark):
    plan = _plan(spark, "tpch_q16")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_tpch_q7_broadcasts_both_dimension_chains(spark):
    plan = _plan(spark, "tpch_q7")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_tpch_q19_pushes_common_conjuncts(spark):
    """The disjunction shares p_partkey non-null + join key; the
    quantity/brand/size disjuncts must not force a cartesian shape."""
    plan = _plan(spark, "tpch_q19")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q22_anti_join_on_pruned_orders(spark):
    plan = _plan(spark, "tpch_q22")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # pushed to the scan


def test_tpch_q8_star_broadcasts_every_dimension(spark):
    """Seven-table star: part, supplier-nation, customer-nation-region
    all broadcast; only the orders-lineitem fact join may shuffle."""
    plan = _plan(spark, "tpch_q8")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_tpch_q15_scans_lineitem_once(spark):
    """The scalar-max must NOT re-plan the fact aggregation: exactly
    one lineitem scan (the naive agg-then-join-on-max formulation
    plans two independent subtrees that AQE cannot reuse)."""
    plan = _plan(spark, "tpch_q15")
    assert plan.count("lineitem.parquet") == 1, plan


def test_tpch_q17_broadcasts_part_and_threshold(spark):
    plan = _plan(spark, "tpch_q17")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_term_pmi_no_self_join_and_literal_vocab(spark):
    """Pairs come from a narrow array expansion, never a doc_id
    self-join, and the vocab is a collected literal — the corpus is
    scanned at most twice (pair stream + corpus count), not once per
    vocab reference."""
    import re

    plan = _plan(spark, "term_pmi")
    assert "SortMergeJoin" not in plan
    # formatted mode prints each node in the tree AND the detail list,
    # so count the numbered detail entries
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 2


def test_tfidf_topn_windowgrouplimit_and_takeordered_free(spark):
    """Per-doc top-n must plan as a partial+final WindowGroupLimit so
    only ~n rows per doc reach the window exchange; no global sort."""
    plan = _plan(spark, "tfidf_topn")
    assert "WindowGroupLimit" in plan
    assert "Sort [tfidf" not in plan or "global=false" not in plan.split("Sort [tfidf")[0]


def test_value_outliers_broadcast_stats_and_topk(spark):
    """Per-type moments broadcast back over a narrow scan; top-50 is
    TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, "value_outliers")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_window_distinct_users_two_level_distinct(spark):
    """count(distinct) must plan as the two-level aggregation — the
    shuffle carries distinct (window, user) pairs, not raw events."""
    plan = _plan(spark, "window_distinct_users")
    assert plan.count("HashAggregate") >= 3


def test_tpch_q2_broadcasts_and_takeordered(spark):
    plan = _plan(spark, "tpch_q2")
    # part filter, supplier chain, and the per-part min all broadcast
    assert plan.count("BroadcastHashJoin") >= 3
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_tpch_q9_only_shuffles_orders_join(spark):
    plan = _plan(spark, "tpch_q9")
    # partsupp/part/supplier broadcast; the orders join is the only
    # row-data shuffle (plus its agg exchange)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "PushedFilters: [IsNotNull(p_name)" in plan or "StringContains" in plan


def test_tpch_q11_reuses_per_part_aggregate(spark):
    # the scalar threshold branch must not trigger a second partsupp
    # derivation: at runtime AQE reuses the per-part aggregate's
    # exchange (the two subtrees are identical by construction)
    df = QUERIES["tpch_q11"](spark, SF_DIR)
    df.collect()  # let AQE finalize so runtime exchange reuse is visible
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan or "ReusedSubquery" in plan, plan


def test_tpch_q21_folds_self_joins_into_one_aggregate(spark):
    plan = _plan(spark, "tpch_q21")
    # the EXISTS/NOT-EXISTS pair must NOT appear as extra joins on
    # lineitem: one lineitem-orders join, one supplier broadcast, and
    # lineitem is scanned exactly once (the spec's formulation scans it
    # three times)
    # formatted explain names each node twice (tree + detail section)
    assert plan.count("Scan parquet") <= 6  # lineitem + orders + supplier
    n_joins = plan.count("HashJoin") + plan.count("SortMergeJoin")
    assert n_joins <= 4  # 2 joins, each named in tree + detail lines


def test_quality_classifier_broadcast_weights_and_no_global_window(spark):
    """Classifier scale shape: the (≤ vocab_size)-row weight table and
    the 1-row prior must broadcast; the vocab cap must finish with
    TakeOrderedAndProject, never a single-partition rank window."""
    plan = _plan(spark, "quality_classifier")
    assert "TakeOrderedAndProject" in plan
    # weight join + prior join + totals join all broadcast
    assert plan.count("BroadcastHashJoin") >= 1
    assert plan.count("BroadcastNestedLoopJoin") >= 1  # 1-row prior/totals
    # no global (empty-spec) window anywhere in the plan
    assert "Window [" not in plan or "windowspecdefinition()" not in plan


def test_semantic_dedup_pairs_only_within_clusters(spark):
    """SemDeDup: the pair stage must be the bucketed collect_list
    expansion (one shuffle keyed by cluster), and the survivor filter a
    broadcast anti-join — no cross join anywhere."""
    plan = _plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "collect_list" in plan
    # survivor filter is an anti-join; strategy is left to the optimizer
    # (the dropped-id side can be a large corpus fraction at scale, so
    # forcing a broadcast would be the wrong 100 TB shape)
    assert "LeftAnti" in plan


def test_corpus_pipeline_broadcast_gates_no_cartesian(spark):
    """The composite pipeline's drop-set joins must broadcast (survivor
    ids ≪ corpus on both gates) and nothing in the five-stage plan may
    degenerate into a cartesian product."""
    plan = _plan(spark, "corpus_pipeline")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin LeftSemi" in plan      # exact-dedup survivors
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan  # near-dup drops


def test_rfm_segments_no_ntile_window(spark):
    """RFM's tiles must come from the range-partitioned rank + closed
    form — the plan may not contain ntile or any empty-spec (global)
    window that would funnel all users through one task."""
    plan = _plan(spark, "rfm_segments")
    assert "ntile" not in plan
    assert "windowspecdefinition()" not in plan


def test_budget_select_window_is_partition_local(spark):
    """budget_select's running sum may only window WITHIN a range
    partition (spec carries __pid); the global order comes from the
    broadcast prefix offsets, never a global sort-everything window."""
    plan = _plan(spark, "budget_select")
    assert "windowspecdefinition(__pid" in plan
    assert "windowspecdefinition()" not in plan


def test_exact_dedup_weights_single_aggregate_pass(spark):
    """The multiplicity count must ride the same partial aggregate as
    the min-id winner: one shuffle, no window, no second scan."""
    plan = _plan(spark, "exact_dedup_weights")
    assert "Window" not in plan
    assert plan.count("Exchange") <= 2  # one shuffle + possible AQE read
    # exactly one file scan (each scan prints one Location: line)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_min" in plan and "partial_count" in plan


def test_embedding_truncate_narrow_and_pruned(spark):
    """Truncation is a pure narrow projection: zero exchanges, and the
    scan reads only (vec_id, embedding)."""
    plan = _plan(spark, "embedding_truncate")
    assert "Exchange" not in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "label" not in read_schema


def test_pagerank_no_cartesian_and_bounded_shuffles(spark):
    """Every PageRank iteration is join + map-side-combined aggregate
    over (edges, ranks) — the unrolled 3-iteration plan may not
    contain a cartesian product or a window, and partial aggregation
    must be present (partial_sum for the contribution combine)."""
    plan = _plan(spark, "pagerank")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_sum" in plan


def test_classifier_eval_single_confusion_aggregate(spark):
    """The confusion counts ride ONE map-side-combined groupBy over
    the scored corpus. The classifier's own train plan contributes its
    (salted, keyed) windows — but no empty global spec and no
    cartesian may appear anywhere."""
    plan = _plan(spark, "classifier_eval")
    assert "windowspecdefinition()" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan


def test_decile_lift_window_is_partition_local(spark):
    """The global score ranking must come from assign_global_ids'
    range partitioning (windows carry __pid or the tiny per-decile
    frame's non-foldable key) — never an empty global spec."""
    plan = _plan(spark, "decile_lift")
    assert "windowspecdefinition()" not in plan
    assert "ntile" not in plan


def test_ndcg_windows_partition_by_term(spark):
    """Both rank windows partition by the query term — parallel across
    terms, no global ordering funnel."""
    plan = _plan(spark, "ndcg_eval")
    assert "windowspecdefinition(term" in plan
    assert "windowspecdefinition()" not in plan


def test_scd2_single_exchange_for_both_windows(spark):
    """Change-detection lag and validity lead share the user_id
    partitioning: exactly one shuffle in the whole plan."""
    plan = _plan(spark, "scd2_build")
    assert plan.count("Exchange") <= 2  # one shuffle + possible AQE read
    assert "windowspecdefinition()" not in plan


def test_copurchase_broadcasts_dims_and_marginals(spark):
    """part (the dimension) and both marginal lookups broadcast; the
    ONE shuffle join is the intentional pair self-join keyed on the
    order id (og is fact-sized at scale — it must shuffle, never
    broadcast or go cartesian)."""
    plan = _plan(spark, "copurchase_lift")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    # formatted mode prints each node twice (tree + detail): one SMJ
    assert plan.count("SortMergeJoin") <= 2
    assert "partial_count" in plan


def test_bigram_lm_takeordered_and_history_window_by_w1(spark):
    """Top-n runs through TakeOrderedAndProject (never a global sort);
    the history-count window partitions by w1."""
    plan = _plan(spark, "bigram_lm")
    assert "TakeOrderedAndProject" in plan
    assert "windowspecdefinition(w1" in plan
    assert "windowspecdefinition()" not in plan


def test_preference_pairs_no_window_two_struct_partials(spark):
    """Chosen/rejected come from max/min struct partials on ONE
    groupBy — no window, no self-join of the scored relation."""
    plan = _plan(spark, "preference_pairs")
    assert "Window" not in plan
    assert "partial_max" in plan and "partial_min" in plan


def test_mutual_info_windows_over_contingency_only(spark):
    """The joint count is the only full-data shuffle; every window
    partitions the tiny contingency table (lang / source / the
    non-foldable constant key) — no empty spec."""
    plan = _plan(spark, "mutual_info")
    assert "windowspecdefinition()" not in plan
    assert "partial_count" in plan


def test_skyline_broadcast_joinback_and_local_window(spark):
    """The frontier-group join-back must broadcast (the frontier is
    small by construction) and the prefix window must be partition-
    local (__pid spec), never global."""
    plan = _plan(spark, "skyline_pareto")
    assert "BroadcastHashJoin" in plan
    assert "windowspecdefinition(__pid" in plan
    assert "windowspecdefinition()" not in plan


def test_triangle_count_no_cartesian_or_window(spark):
    """The wedge join and closing-edge join are keyed joins; the
    above-mean edge filter is a 1-row broadcast (nested-loop cross of
    a single row is the threshold-frame pattern, not a cartesian of
    data). No window anywhere."""
    plan = _plan(spark, "triangle_count")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_gap_fill_grid_broadcasts(spark):
    """The dense grid is dimension-sized: the groups×hours cross join
    and the join back onto the counts must both be broadcast —
    the fact table shuffles only for its own aggregate."""
    plan = _plan(spark, "gap_fill")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "windowspecdefinition()" not in plan


def test_bfs_no_cartesian_no_window(spark):
    """Each hop is a keyed join + MIN aggregate; the seed is a 1-row
    broadcast. No cartesian of data, no window, partial aggregation
    present."""
    plan = _plan(spark, "bfs_reachability")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_min" in plan


def test_corr_matrix_one_scan_one_row_aggregate(spark):
    """All O(k²) moments ride ONE aggregate over ONE scan; the pair
    expansion (inline) never touches the fact table again."""
    plan = _plan(spark, "corr_matrix")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" not in read_schema  # pruned to the 4 numerics


def test_column_entropy_single_melt_scan(spark):
    """stack() melt is one scan of orders; both groupBys map-side
    combine (partial_ aggregates present), no join."""
    plan = _plan(spark, "column_entropy")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "partial_" in plan


def test_gini_rank_window_partitions_by_group(spark):
    """The rank window must partition by the group key (parallel
    across groups), never an empty/global spec."""
    plan = _plan(spark, "gini_concentration")
    assert "partial_" in plan
    import re
    wins = [l for l in plan.splitlines() if "row_number" in l]
    assert wins and all("partitionBy" not in l or "g" in l for l in wins)


def test_ab_ztest_no_assignment_join(spark):
    """Arms are a projection of md5(user) — the only join is the
    1-row totals broadcast; nothing shuffles an assignment table."""
    plan = _plan(spark, "ab_conversion_ztest")
    assert "SortMergeJoin" not in plan
    # the only join in the tree is the 1-row totals broadcast cross
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight (") <= 1


def test_target_encoding_prior_from_partials_no_second_scan(spark):
    """Global mean re-aggregates the per-category partials: orders is
    scanned once, and the category rollup map-side combines."""
    plan = _plan(spark, "target_encoding")
    lines = [l for l in plan.splitlines() if "Location: InMemoryFileIndex" in l]
    assert sum("orders.parquet" in l for l in lines) == 1
    assert "partial_" in plan
    assert "BroadcastHashJoin" in plan  # dim side broadcasts at this SF


def test_kaplan_meier_windows_over_aggregate_only(spark):
    """Raw events collapse in the per-unit groupBy; every window runs
    over the per-duration aggregate (exchange before the window reads
    the aggregated side, not events)."""
    plan = _plan(spark, "kaplan_meier")
    lines = [l for l in plan.splitlines() if "Location: InMemoryFileIndex" in l]
    assert 1 <= sum("events.parquet" in l for l in lines) <= 2  # per-unit + horizon
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ewma_no_range_join(spark):
    """The lag expansion is an equi-join of aggregates — never a
    BroadcastNestedLoop range join, never a cartesian on events."""
    plan = _plan(spark, "ewma_smooth")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_anomaly_mad_medians_broadcast(spark):
    """Per-group medians/MADs join back by broadcast — the fact table
    is never shuffled for the join."""
    plan = _plan(spark, "anomaly_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zipf_rank_window_partitions_by_slice(spark):
    """Per-slice ranks parallelise across slices; the regression sums
    aggregate the ≤top_k survivors with map-side combine."""
    plan = _plan(spark, "zipf_fit")
    assert "row_number" in plan
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_chi2_windows_over_contingency_only(spark):
    """One scan; marginal windows run over the tiny contingency
    aggregate (mutual_info convention), never over raw documents."""
    plan = _plan(spark, "chi2_independence")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan
    assert "CartesianProduct" not in plan


def test_mann_whitney_rank_window_by_type(spark):
    """Values collapse to (type, value) groups before ranking; the
    rank window partitions by the type key."""
    plan = _plan(spark, "mann_whitney")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan
    assert "SortMergeJoin" not in plan


def test_benford_single_scan_integer_path(spark):
    """One scan, one map-side-combined groupBy; no joins at all."""
    plan = _plan(spark, "benford_profile")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "partial_" in plan


def test_autocorrelation_one_scan_no_join(spark):
    """Window row-lags (day-gap filtered) replace the self-join: ONE
    events scan, no join of any kind, moments and lag expansion share
    the per-group exchange of the daily aggregate."""
    plan = _plan(spark, "autocorrelation")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_seasonal_profile_single_scan_window_on_aggregate(spark):
    """One scan; totals come from windows over the ≤7-row-per-group
    aggregate."""
    plan = _plan(spark, "seasonal_profile")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "partial_" in plan


def test_cusum_windows_partition_by_group(spark):
    """Cumulative/pick windows all partition by the group key over the
    daily aggregate — parallel across groups, one scan."""
    plan = _plan(spark, "cusum_drift")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "row_number" in plan


def test_lorenz_one_scan_group_windows(spark):
    plan = _plan(spark, "lorenz_curve")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "row_number" in plan


def test_rolling_zscore_one_scan_no_join(spark):
    plan = _plan(spark, "rolling_zscore")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan


def test_winsorized_bounds_broadcast(spark):
    """Percentile bounds join back by broadcast; the fact side is
    never shuffled for the join."""
    plan = _plan(spark, "winsorized_stats")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Location: InMemoryFileIndex") <= 2


def test_calibration_no_global_window(spark):
    """Same contract as decile_lift: global ranks come from the
    range-partition + offsets path, never a single-partition ntile."""
    plan = _plan(spark, "calibration_curve")
    assert "windowspecdefinition()" not in plan
    assert "ntile" not in plan


def test_hhi_two_aggregates_no_window(spark):
    plan = _plan(spark, "hhi_concentration")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan and "Window" not in plan
    assert "partial_" in plan


def test_dup_rate_two_level_distinct(spark):
    """count(distinct hash) must plan as the two-level aggregate (the
    shuffle carries (source, hash) pairs, not raw text)."""
    plan = _plan(spark, "dup_rate_by_source")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "partial_" in plan
    assert "Join" not in plan


def test_kmv_window_on_deduped_rows_with_pushdown(spark):
    """The k-smallest selection must run AFTER the (g, h) distinct —
    the window sorts |distinct| rows, never |input| rows — and the
    null filters must reach the parquet scan."""
    plan = _plan(spark, "kmv_distinct")
    assert "IsNotNull(event_type)" in plan and "IsNotNull(event_id)" in plan
    assert "Join" not in plan
    # distinct is a two-phase (map-side combined) aggregate...
    assert "partial_" in plan
    # ...and feeds the window (window appears once per function, both
    # partitioned by the group key — no empty window spec)
    assert "windowspecdefinition(g" in plan.replace("#", "").replace(" ", "") or (
        "Window" in plan and "PartitionBy" not in plan
    )


def test_countmin_probe_topk_and_broadcast_counters(spark):
    """Probe selection is TakeOrderedAndProject (no global sort) and
    the d-by-w counter table broadcasts to the probe side — the only
    wide ops are the two map-side-combined aggregates."""
    plan = _plan(spark, "countmin_freq")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan


def test_jackknife_single_scan_total_via_window(spark):
    """All G replicates AND the global total come off ONE scan's
    group aggregate — the total rides a window over the G collapsed
    rows (non-foldable constant key), so there is no join and no
    second scan."""
    plan = _plan(spark, "jackknife_mean")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "Window" in plan
    assert "partial_" in plan
    assert "IsNotNull(user_id)" in plan


def test_permutation_broadcasts_replicates_and_combines(spark):
    """B replicates are a broadcast literal-range frame; the
    row-by-replicate cells reduce through map-side combine, so the
    shuffle carries partitions x B cells, and the pushed filter keeps
    non-arm rows out of the explosion."""
    plan = _plan(spark, "permutation_test")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "partial_" in plan
    assert "In(event_type" in plan  # arm filter reaches the scan


def test_kmv_set_ops_takeordered_pushdown_no_smj(spark):
    """Each synopsis is a global k-smallest TakeOrderedAndProject over
    the deduped hashes (never a full sort), the era filters reach the
    parquet scans, and every join in the estimator is broadcast."""
    plan = _plan(spark, "kmv_join_estimate")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "LessThan(o_orderdate" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_kmv_rollup_windows_on_synopsis_rows(spark):
    """Both rank windows run on collapsed inputs (per-day distinct
    hashes, then <= k x days synopsis rows per week) and the exact
    weekly census joins back broadcast — no sort-merge join, raw rows
    never reach a window."""
    plan = _plan(spark, "kmv_rollup")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan
    assert "IsNotNull(user_id)" in plan


def test_jackknife_ratio_single_scan_no_join(spark):
    plan = _plan(spark, "jackknife_ratio")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "Window" in plan
    assert "partial_" in plan


def test_forecast_backtest_window_on_daily_aggregate(spark):
    """The expanding same-weekday window runs on the DAILY aggregate
    (|days| rows), never raw events, and no join appears."""
    plan = _plan(spark, "forecast_backtest")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan
    assert "Window" in plan
    assert "partial_" in plan


def test_cuped_two_aggregates_no_window_no_join(spark):
    """Per-unit split-period aggregate + one 1-row moment rollup:
    single scan, no window, no join."""
    plan = _plan(spark, "cuped_adjust")
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan and "Window" not in plan
    assert "partial_" in plan


def test_jaro_winkler_topk_broadcasts_probes_and_group_limits(spark):
    """Probes are a TakeOrderedAndProject broadcast (never a shuffle of
    the name table against them), JW is Arrow-batched (one Python eval
    node, no row-at-a-time BatchEvalPython), and the per-probe top-k
    runs through WindowGroupLimit — rank pushdown, not a full sort of
    all scored pairs."""
    plan = _plan(spark, "jaro_winkler_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "WindowGroupLimit" in plan
    assert "SortMergeJoin" not in plan


def test_theilsen_pair_join_is_keyed_not_cartesian(spark):
    """The quadratic pair stage must stay keyed on the user column —
    a CartesianProduct here would be the 100 TB scale-killer. The
    x_a < x_b predicate rides the equi-join as a post-condition."""
    plan = _plan(spark, "theilsen_trend")
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)
    # null filters reach the scan
    assert "IsNotNull(user_id)" in plan


def test_zorder_zonemap_is_two_narrow_passes(spark):
    """Bounds = one 1-row aggregate broadcast back (never a shuffle of
    orders against itself); the zone rollup is ONE map-side-combined
    groupBy; the scan reads exactly the two layout columns."""
    plan = _plan(spark, "zorder_zonemap")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_custkey" in read_schema and "o_orderdate" in read_schema
    assert "o_totalprice" not in read_schema
    # map-side combine: partial + final HashAggregate around one Exchange
    assert plan.count("HashAggregate") >= 4


def test_pca_partials_are_shuffle_free(spark):
    """The covariance pass must contain NO Exchange — partials reduce
    inside mapInPandas per partition; only the collect moves data."""
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.linalg import (
        covariance_partials,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = covariance_partials(emb, "embedding")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_conformal_windows_run_on_daily_aggregate(spark):
    """All three windows (prior-mean, chronological rank, residual
    rank) must sit ABOVE the daily groupBy — |days| rows, never raw
    events — and the half-width join-back must broadcast."""
    plan = _plan(spark, "forecast_conformal")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # daily aggregate is map-side combined before any window
    assert plan.count("HashAggregate") >= 2


def test_golden_record_merge_is_one_broadcast_and_one_groupby(spark):
    """The cluster map joins back as a BROADCAST onto the record table
    (never a shuffle of records against the tiny linkage output), and
    the survivorship merge is map-side combined."""
    plan = _plan(spark, "golden_record")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_histogram_rollup_windows_run_on_aggregated_bins(spark):
    """Synopsis path: bounds = 1-row broadcast, daily histogram is a
    map-side-combined groupBy, CDF windows see ≤ bins rows per
    group-week. Only the exact WITNESS sorts raw rows — and it exists
    to be dropped in deployment."""
    plan = _plan(spark, "histogram_quantile_rollup")
    assert "BroadcastNestedLoopJoin" in plan  # 1-row bounds
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × two levels


def test_distinct_rollup_is_one_groupby_plus_tiny_window(spark):
    """The first-seen rewrite: no window over raw events — the prefix
    sum runs on the |days|-row daily table."""
    plan = _plan(spark, "distinct_rollup")
    assert "CartesianProduct" not in plan
    # both aggregations map-side combine before their exchange
    assert plan.count("HashAggregate") >= 4


def test_range_checksum_diff_joins_summaries_not_rows(spark):
    """The whole point: the only join is between two range SUMMARIES
    (map-side-combined groupBys), never between the row-level
    versions. No SortMergeJoin of raw documents."""
    plan = _plan(spark, "range_checksum_diff")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per side
    # the FullOuter join input is the aggregated side, tiny at any SF
    assert "FullOuter" in plan


def test_neyman_is_one_groupby_plus_tiny_window(spark):
    plan = _plan(spark, "neyman_allocation")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2


def test_poisson_bootstrap_cells_reduce_map_side(spark):
    """B replicates must come from ONE narrow generator (explode of the
    literal replicate sequence) + ONE map-side-combined aggregation
    (shuffle = partitions x B cells) — never B scans, a per-replicate
    shuffle of the data, or a cell filter whose pushed predicate
    re-evaluates the md5 draw a second time per cell (w = 0 cells are
    algebraically free in both sums, so nothing filters them)."""
    plan = _plan(spark, "poisson_bootstrap")
    assert "Generate" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("HashAggregate") >= 4
    # the replicate axis must NOT come from a join against the data
    # (the old broadcast-crossJoin form; the only NLJs left are the
    # 1-row obs/lo/hi readout attachments): no Filter may sit between
    # the Generate and the cell aggregation re-evaluating the draw
    ln = [l for l in plan.splitlines() if "Filter" in l and "md5" in l]
    assert not ln, ln


def test_group_reservoir_sample_one_exchange_rank_pushdown(spark):
    """One hash exchange on the group key; the rank filter pushes into
    WindowGroupLimit (per-group top-k during the sort, never a full
    per-group sort then filter); no global single-partition window."""
    plan = _plan(spark, "group_reservoir_sample")
    # formatted explain prints each node twice (tree + details): one
    # Exchange node == at most 2 mentions
    assert plan.count("Exchange") <= 2
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_ngram_containment_no_cartesian_and_partial_aggs(spark):
    """Containment shares the exact-Jaccard shape: shingle-equality
    self-join only (no cross join), intersection counts map-side
    combined."""
    plan = _plan(spark, "ngram_containment")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4


def test_doc_lm_familiarity_no_doc_shuffle_beyond_bigrams(spark):
    """The LM join moves (doc_id, w1, w2) triples, never documents: no
    cartesian, bigram counts map-side combined, history window runs on
    the aggregated count table (thousands of w1 keys, not raw rows)."""
    plan = _plan(spark, "doc_lm_familiarity")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4


def test_ks_test_windows_partition_by_type(spark):
    """(type, value) counts map-side combine; the ECDF windows
    partition by the type key (parallel across types, no
    single-partition window); supremum is a per-type aggregate."""
    plan = _plan(spark, "ks_test")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "HashAggregate" in plan


def test_mahalanobis_broadcasts_moments_and_takeordered(spark):
    """The 1-row moment frame broadcasts back onto the data (never a
    shuffle of the fact side for stats) and top-N is TakeOrdered —
    per-partition heads, no global sort shuffle."""
    plan = _plan(spark, "mahalanobis_anomaly")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row stats side


def test_dsir_weights_broadcast_stats_never_reshuffle_corpus(spark):
    """Bucket weights (<=1024 rows) broadcast-join onto the doc-bigram
    rows; the only data-sized shuffle keys on doc_id for the final
    sum. No sort-merge join anywhere."""
    plan = _plan(spark, "dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_jaccard_no_self_join_pair_expansion(spark):
    """Pair expansion rides the shared bucketed core (sorted-array
    transform after a groupBy) — no corpus self-join, no cartesian;
    signatures and bands are map-side-combined aggregates."""
    plan = _plan(spark, "minhash_jaccard")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 4


def test_unimax_tiny_frame_windows_after_one_aggregate(spark):
    """Per-lang counts map-side combine; everything after runs on the
    per-language frame where single-partition windows are correct."""
    plan = _plan(spark, "unimax_weights")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "HashAggregate" in plan


def test_propensity_band_join_is_equi_not_cross(spark):
    """The caliper match is a bucketed equi-join on the band key (x3
    probe projection), never a cross join or a theta join."""
    plan = _plan(spark, "propensity_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_assortativity_degree_joins_no_cartesian(spark):
    plan = _plan(spark, "degree_assortativity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_covariate_balance_single_stack_aggregate(spark):
    """Balance cells come from one map-side-combined groupBy over the
    stacked long frame; the match inside keeps its band-join shape."""
    plan = _plan(spark, "covariate_balance")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_weighted_quantiles_group_partitioned_windows(spark):
    plan = _plan(spark, "weighted_quantiles")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "HashAggregate" in plan


def test_doc_char_entropy_two_combined_groupbys(spark):
    plan = _plan(spark, "doc_char_entropy")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4


def test_changepoint_group_partitioned_prefix_windows(spark):
    """Prefix-sum and winner windows partition by the series key —
    parallel across groups, never a single global window."""
    plan = _plan(spark, "changepoint_detect")
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "HashAggregate" in plan


def test_no_query_has_unpartitioned_window(spark):
    """Registry-wide: no headline query may plan a window with a
    constant-folded (empty) partition spec — WindowExec would move the
    whole input to ONE partition. Catches the neyman_allocation class
    of bug: partitioning on isNotNull(count()) folds to a literal
    because count() is non-nullable. Detection is on the optimized
    plan text: a windowspecdefinition whose argument list starts with
    the frame (no partition columns, no ordering) or an ordering
    (no partition columns) is global. Deliberate tiny-frame windows
    must use a non-foldable constant key (col % 1)."""
    import re

    import bench
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.plans import (
        QUERIES,
    )

    bad = {}
    for name in bench.HEADLINE:
        plan = _plan(spark, name)
        hits = [
            m.group(0)[:100]
            for m in re.finditer(r"windowspecdefinition\(([^,()]*)", plan)
            if m.group(1).startswith("specifiedwindowframe")
            or " ASC" in m.group(1)
            or " DESC" in m.group(1)
            or m.group(1) == ""
        ]
        if hits:
            bad[name] = hits[0]
    assert not bad, f"global windows found: {bad}"


def test_holt_winters_fold_is_one_shuffle_no_driver_loop(spark):
    """The recurrence is a per-row array fold after ONE per-group
    collect — no iterative joins, no cartesian, no window growth."""
    plan = _plan(spark, "holt_winters")
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_kmeans_literal_assign_zero_semantic_shuffle(spark):
    """The literal-centroid E-step is a pure narrow fold: the only
    allowed Exchange is parallelize_narrow's round-robin spread of a
    single-file input (a no-op at scale) — no hash or single-partition
    exchange anywhere (centroids are literals, argmin is per-row)."""
    plan = _plan(spark, "kmeans_literal_assign")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_jl_project_zero_semantic_shuffle(spark):
    """The JL sign projection is one narrow fold + explode: no hash or
    single-partition Exchange (only the parallelize_narrow spread)."""
    plan = _plan(spark, "jl_project")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_trimmed_mean_single_rank_shuffle(spark):
    """One hash-partitioning exchange on the group key feeds both the
    rank window and the final aggregate (partial aggregation reuses the
    window's partitioning); no global window."""
    plan = _plan(spark, "trimmed_mean")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange SinglePartition" not in plan or plan.count(
        "Exchange SinglePartition"
    ) <= 1


def test_media_md5_pipeline_bucket_join_shape(spark):
    """The md5 phash pipeline keeps the production pair shape: the
    over-cap screen is an aggregate + anti join (never a post-collect
    filter), and there is no data-by-data cartesian."""
    plan = _plan(spark, "media_md5_near_dup")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan


def test_mann_kendall_no_cartesian(spark):
    """The i<j day-pair fan-out must plan as an equi join on the group
    key (shuffle or broadcast hash join with the inequality as a post
    condition), never a CartesianProduct over the grid."""
    plan = _plan(spark, "mann_kendall")
    assert "CartesianProduct" not in plan


def test_cross_source_overlap_token_equi_join(spark):
    """The source-pair intersection joins on the TOKEN (equi join);
    the completing pair matrix may broadcast the tiny sizes frame but
    nothing data-sized is nested-looped."""
    plan = _plan(spark, "cross_source_overlap")
    assert "CartesianProduct" not in plan


def test_pq_literal_adc_zero_semantic_shuffle(spark):
    """PQ encode + ADC with a literal codebook is a pure narrow fold
    (codes via per-subspace aggregate over literal structs, ADC via
    element_at on literal tables): no hash or single-partition
    exchange — only parallelize_narrow's round-robin spread."""
    plan = _plan(spark, "pq_literal_adc")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def test_ivf_literal_probe_prunes_then_takeordered(spark):
    """The IVF probe filters to the probed cells BEFORE scoring (cell
    argmin + isin are per-row expressions, no join) and the top-k is a
    TakeOrderedAndProject, never a global sort."""
    plan = _plan(spark, "ivf_literal_probe")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan  # centroids are literals, not a frame


def test_embedding_clip_bounds_single_rank_shuffle(spark):
    """posexplode then ONE hash exchange on the dimension key feeding
    both the rank window and the final aggregate."""
    plan = _plan(spark, "embedding_clip_bounds")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "Exchange SinglePartition" not in plan


def test_dup_ngram_ratio_two_combined_groupbys(spark):
    """Occurrence counting is two map-side-combinable aggregates (the
    (doc, gram) count collapses repeats before the shuffle); no window,
    no join."""
    plan = _plan(spark, "dup_ngram_ratio")
    assert "partial_count" in plan.lower() or "HashAggregate" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_kruskal_wallis_no_cartesian_single_window(spark):
    """Tie groups are map-side combined before the per-type rank
    window; the tie join is an equi join on (type, value); the pivoted
    arm reduction adds no extra shuffle wave."""
    plan = _plan(spark, "kruskal_wallis")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_sprt_ab_test_partitioned_cumsum(spark):
    """The LLR walk is a per-type cumulative window (partitioned —
    parallel across types), never an unpartitioned global sort."""
    plan = _plan(spark, "sprt_ab_test")
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_theilsen_rank_median_no_object_aggregate(spark):
    """Round 8: the exact median is rank-based (sort window), not the
    ObjectHashAggregate percentile buffer that cost 3.9 s at sf0.1 and
    would OOM on a hot user's slope buffer at 100 TB."""
    plan = _plan(spark, "theilsen_trend")
    assert "ObjectHashAggregate" not in plan


def test_vocab_coverage_two_combined_groupbys(spark):
    """(lang, token) counts collapse map-side before the shuffle; the
    per-lang rollup is a second combined aggregate — no window, no
    join."""
    plan = _plan(spark, "vocab_coverage_estimate")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_spearman_no_cartesian(spark):
    """Rank frames join back on (type, value) equi keys; nothing is
    nested-looped and no global window exists."""
    plan = _plan(spark, "spearman_activity_value")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_media_byte_entropy_combined_counts(spark):
    """The (doc, byte) histogram collapses repeats map-side (<=256
    rows per doc on the wire) and no per-doc data is nested-looped."""
    plan = _plan(spark, "media_byte_entropy")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_rbo_joins_only_topk_frames(spark):
    """The RBO reduction joins two <=10-row frames; the underlying
    BM25 pipelines keep their TakeOrderedAndProject top-k (no global
    sort of the corpus)."""
    plan = _plan(spark, "rbo_bm25_length_norm")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_lang_label_audit_combined_cells(spark):
    """(source, label, pred) cells collapse map-side; the top-confusion
    pick is a per-source window, not a global one."""
    plan = _plan(spark, "lang_label_audit")
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_overdispersion_two_combined_groupbys(spark):
    plan = _plan(spark, "overdispersion_index")
    assert "Join" not in plan
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan


def test_activation_latency_partitioned_windows(spark):
    """Both windows partition on real keys (type,user) / (type) —
    never an unpartitioned global sort."""
    plan = _plan(spark, "activation_latency")
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_lsh_band_planner_grid_is_literal(spark):
    """The planner's grid never joins data: one shingle aggregate plus
    a 1-row cross join with the literal config frame."""
    plan = _plan(spark, "lsh_band_planner")
    assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_logrank_runs_on_per_duration_frame(spark):
    """The heavy groupBy is per-unit; everything after runs on the
    tiny per-duration frame (no data-sized window)."""
    plan = _plan(spark, "logrank_test")
    assert "CartesianProduct" not in plan


def test_event_freshness_partitioned_windows(spark):
    plan = _plan(spark, "event_freshness")
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_embedding_distance_profile_sample_bounded_join(spark):
    """The pair join runs on the per-label id-prefix SAMPLE (bounded
    rows), never the corpus; no cartesian."""
    plan = _plan(spark, "embedding_distance_profile")
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan


def test_embedding_distance_profile_windows_are_narrow(spark):
    """The r9 scale fix, pinned: labels are low-cardinality, so no
    window (the sample prefix rank, the bucket cumsum, the pair rank)
    may carry the embedding vector through its sort — vectors attach
    AFTER sampling via a broadcast join of the bounded id set. A
    window whose Input lists the vector column (__v/__e/embedding)
    is the r8 defect reappearing."""
    plan = _plan(spark, "embedding_distance_profile")
    blocks = plan.split("\n\n")
    win_blocks = [
        b
        for b in blocks
        if b.lstrip().startswith("(") and ") Window" in b.splitlines()[0]
    ]
    assert win_blocks, "expected Window nodes in the X139 plan"
    for b in win_blocks:
        input_lines = [l for l in b.splitlines() if l.startswith("Input")]
        for l in input_lines:
            assert "__v" not in l and "__e" not in l and "embedding" not in l, (
                "vector-carrying window in embedding_distance_profile "
                f"plan:\n{b}"
            )
    # vectors attach via a broadcast hash join, never a shuffled join
    # of the full table against the sample
    assert "BroadcastHashJoin" in plan


def _written_ledger(spark, tmp_path):
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.ingest import (
        ingest_batch,
    )

    bucket = tmp_path / "bucket"
    bucket.mkdir()
    (bucket / "good.csv").write_text("id\n1\n")
    (bucket / "bad.csv").write_text("id\n")
    ledger_dir = str(tmp_path / "ledger")
    ingest_batch(spark, str(bucket), ledger_dir)
    return str(bucket), ledger_dir


def test_ingest_gate_shuffles_ledger_once(spark, tmp_path):
    """The gate's `done` and DLQ-cap conditions come from one
    aggregation: a single hash exchange on upload_id, broadcast into the
    anti-join."""
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.ingest import (
        file_facts,
        plan_transitions,
    )
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.ledger import (
        read_ledger,
    )
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.sources.csv_source import (
        read_csv_file_metadata,
    )

    bucket, ledger_dir = _written_ledger(spark, tmp_path)
    gate = plan_transitions(
        file_facts(read_csv_file_metadata(spark, bucket)), read_ledger(spark, ledger_dir)
    )
    plan = _explain(spark, gate)
    assert "BroadcastHashJoin LeftAnti" in plan
    assert plan.count("hashpartitioning(upload_id") == 1


def test_ledger_point_lookup_is_shuffle_free_top1(spark, tmp_path):
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.ledger import (
        point_lookup,
        read_ledger,
    )

    _, ledger_dir = _written_ledger(spark, tmp_path)
    plan = _explain(spark, point_lookup(read_ledger(spark, ledger_dir), "0123456789abcdef"))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan

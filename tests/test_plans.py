"""Plan-shape regression tests: the scale properties (pushdown, pruning,
broadcast, bounded shuffles) asserted on real query plans, so a refactor
that silently loses one fails CI — the 100 TB design enforced at sf0.001.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ytsaurus_spark.catalog import load_tables
from ytsaurus_spark.plans import (
    broadcast_join_count,
    has_pushed_filters,
    scan_read_schema,
    shuffle_count,
)
from ytsaurus_spark.queries.ql import ql_group_agg, ql_join_inner, ql_order_limit


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    cat = load_tables(spark, sf_dir)
    df = cat.read("lineitem").filter(F.col("l_quantity") > 45).select("l_orderkey")
    assert has_pushed_filters(df, "l_quantity")


def test_column_pruning(spark, sf_dir):
    df = ql_group_agg(spark, sf_dir)
    cols = set(scan_read_schema(df))
    # only the columns the aggregation needs — not all 11 lineitem columns
    assert "l_partkey" not in cols and "l_suppkey" not in cols
    assert {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"} <= cols


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = ql_join_inner(spark, sf_dir)
    # customer, nation, region broadcast; orders side may SMJ/SHJ
    assert broadcast_join_count(df) >= 3


def test_topk_no_global_sort(spark, sf_dir):
    df = ql_order_limit(spark, sf_dir)
    # TakeOrderedAndProject = bounded heap, not a full range-shuffle sort
    from ytsaurus_spark.plans import formatted_plan

    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_group_agg_single_shuffle(spark, sf_dir):
    df = ql_group_agg(spark, sf_dir)
    # one exchange for the groupBy (partial agg map-side), nothing else
    assert shuffle_count(df) <= 1


def test_pack_sequences_single_data_shuffle(spark, sf_dir):
    # Hierarchical prefix sum: the document stream takes exactly ONE hash
    # exchange (the __b1 window); every other exchange is over per-block /
    # per-super-block aggregates (n/4096, n/4096² rows). rangepartitioning
    # or an unpartitioned Window means the decomposition regressed into a
    # global sort.
    from ytsaurus_spark.plans import unpartitioned_window_count
    from ytsaurus_spark.queries.curation_q import curation_pack_sequences

    df = curation_pack_sequences(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan
    assert unpartitioned_window_count(df) == 0
    # 1 data exchange + aggregate-level exchanges (block sums, super-block
    # sums, top-level offsets, final bin groupBy)
    assert plan.count("Exchange") - plan.count("BroadcastExchange") <= 7
    assert plan.count("BroadcastExchange") >= 2  # offsets + off2 broadcast


def test_length_buckets_no_global_window(spark, sf_dir):
    # The round-3 scale-killer: a global ntile() sorted the whole corpus
    # on one executor. The histogram decomposition must keep zero
    # unpartitioned windows and no data-scale range shuffle.
    from ytsaurus_spark.plans import unpartitioned_window_count
    from ytsaurus_spark.queries.curation_q import curation_length_buckets

    df = curation_length_buckets(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert unpartitioned_window_count(df) == 0
    assert "rangepartitioning" not in plan
    assert "ntile" not in plan.lower()


def test_contamination_broadcasts_benchmark(spark, sf_dir):
    # The benchmark shingle set must broadcast: a sort-merge join here
    # would shuffle the full training corpus by shingle string at 100 TB.
    from ytsaurus_spark.queries.curation_q import curation_contamination

    df = curation_contamination(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_equidepth_and_deciles_no_global_window(spark, sf_dir):
    # The equi-depth histogram and revenue deciles must use the
    # histogram + prefix_sum decomposition, never a global ntile
    # (round-3-class scale defect: one executor sorts the whole fact).
    from ytsaurus_spark.plans import unpartitioned_window_count
    from ytsaurus_spark.queries import all_queries

    qs = all_queries()
    for name in (
        "agg_histogram_equidepth",
        "analytics_customer_deciles",
        "op_sort",
    ):
        assert unpartitioned_window_count(qs[name](spark, sf_dir)) == 0, name


def test_unpartitioned_window_detector(spark):
    # The detector is the suite's central scale gate — pin all four window
    # print forms: bare global, ordered global (must count), partition-only,
    # partitioned+ordered (must not).
    from pyspark.sql import Window as W

    from ytsaurus_spark.plans import unpartitioned_window_count

    df = spark.range(10).withColumn("g", F.col("id") % 2)
    assert unpartitioned_window_count(
        df.select(F.sum("id").over(W.partitionBy()))
    ) == 1, "bare global window undetected"
    assert unpartitioned_window_count(
        df.select(F.row_number().over(W.orderBy("id")))
    ) == 1, "ordered global window undetected"
    assert unpartitioned_window_count(
        df.select(F.sum("id").over(W.partitionBy("g")))
    ) == 0, "partition-only window false positive"
    assert unpartitioned_window_count(
        df.select(F.row_number().over(W.partitionBy("g").orderBy("id")))
    ) == 0, "partitioned+ordered window false positive"


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    # Partition-pruned star join: when the fact is partitioned on the join
    # dimension, a selective dim filter must prune fact partitions at
    # RUNTIME (Spark's DPP = the reference's tablet-range routing from the
    # join key set, executor.cpp:513-622). The plan must carry a
    # dynamicpruning subquery on the fact scan's partition filters.
    li = load_tables(spark, sf_dir).read("lineitem")
    fact_path = str(tmp_path / "li_by_year")
    li.withColumn("l_year", F.year("l_shipdate")).write.partitionBy(
        "l_year"
    ).parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [(y, "keep" if y == 1996 else "drop") for y in range(1992, 2003)],
        "d_year int, tag string",
    )
    # DPP preconditions: the dim side carries a SELECTIVE filter and is
    # the broadcast build side (reuseBroadcastOnly default) — then the
    # fact scan's partition filters gain a dynamicpruning subquery.
    joined = (
        fact.join(
            F.broadcast(dim.filter(F.col("tag") == "keep")),
            fact.l_year == F.col("d_year"),
        )
        .groupBy("tag")
        .count()
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Catalyst's runtime bloom filter (runtime semi-join reduction): a
    selective filter on one shuffle-join side injects a bloom filter
    probe (`might_contain`) into the OTHER side's scan stage, cutting the
    shuffled fact rows before the exchange — the reference's analogue is
    CHYT's granule pruning plus the QL coordinator's key-range
    distribution, but this one is value-based and runtime-built. Default
    thresholds target cluster sizes (creation side >= 10 MB scans), so
    the test lowers them to fixture scale to pin that the capability is
    live in this Spark build; at 100 TB the defaults fire on their own."""
    import os

    from pyspark.sql import functions as F

    old = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower(), "no runtime bloom filter injected"
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_q64_single_pass_fold(spark, sf_dir):
    """q64's year self-join is folded into one conditional aggregation:
    every table scanned exactly once (the self-join form re-derived the
    7-table chain per year branch — 14 scans, r5 verdict item 1)."""
    from ytsaurus_spark.plans import executed_scan_tables
    from ytsaurus_spark.queries.tpcds_q import tpcds_q64_snowflake_years

    scans = executed_scan_tables(tpcds_q64_snowflake_years(spark, sf_dir))
    assert all(v == 1 for v in scans.values()), scans
    assert scans.get("lineitem") == 1 and scans.get("orders") == 1


def test_q25_shared_exchange(spark, sf_dir):
    """q25's three fact branches: lineitem keeps per-branch selective
    scans (filters intentionally push through the ck repartition), but
    orders/customer dedup to one scan via AQE exchange reuse, and the
    chain joins inherit the ck partitioning (was 12 scans total)."""
    from ytsaurus_spark.plans import executed_scan_tables
    from ytsaurus_spark.queries.tpcds_q import (
        tpcds_q25_sale_return_repurchase,
    )

    scans = executed_scan_tables(tpcds_q25_sale_return_repurchase(spark, sf_dir))
    assert scans.get("lineitem", 0) <= 3, scans
    assert scans.get("orders") == 1 and scans.get("customer") == 1, scans


def test_q23_persisted_single_scan(spark, sf_dir):
    """q23's four consumers read one persisted 4-column projection of the
    fact join: each fact scanned exactly once (was 4 full reads of each —
    the branches' union of year ranges is the whole table, so
    materialize-once beats filter-pushdown here)."""
    from ytsaurus_spark.plans import executed_scan_tables
    from ytsaurus_spark.queries.tpcds_q import tpcds_q23_frequent_best

    df = tpcds_q23_frequent_best(spark, sf_dir)
    scans = executed_scan_tables(df)
    assert scans.get("lineitem") == 1 and scans.get("orders") == 1, scans
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan


def test_agg_cube_plan_shape(spark, sf_dir):
    """agg_cube: one lineitem scan expanded through a single Expand node,
    ≤2 exchanges (grouping-set agg + presentation sort). Pinned so the
    r4 'agg_cube 1.65 s' scare — which resolved as host-load noise — is
    attributable to a plan change if it ever recurs."""
    from ytsaurus_spark.plans import (
        executed_scan_tables,
        formatted_plan,
        shuffle_count,
    )
    from ytsaurus_spark.queries.aggregates import agg_cube

    df = agg_cube(spark, sf_dir)
    assert executed_scan_tables(df) == {"lineitem": 1}
    assert shuffle_count(df) <= 2
    assert "Expand" in formatted_plan(df)


def test_winnowing_scan_side_selection(spark):
    """winnow_fingerprints runs ENTIRELY in the scan stage: hash array +
    window-minima HOFs + per-doc distinct happen before the explode, so
    the operator itself has ZERO exchanges and hands its consumer
    fingerprint-grain rows (~2/(w+1) of the gram count). The old shape
    shuffled one row per corpus character twice (r5 verdict item 4)."""
    from ytsaurus_spark.operators import dedup
    from ytsaurus_spark.plans import shuffle_count

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "pack my box with five dozen liquor jugs")],
        "doc_id long, text string",
    )
    fps = dedup.winnow_fingerprints(docs, k=8, w=4)
    assert shuffle_count(fps) == 0
    assert {r["doc_id"] for r in fps.collect()} == {1, 2}


def test_bucketed_join_no_exchange(spark, sf_dir):
    """Co-located bucketed join: with both tables bucketBy+sortBy on the
    join key, the SortMergeJoin plans with ZERO Exchange and ZERO Sort —
    the write-once shuffle amortized across every later join, the Spark
    twin of the reference's sorted-input reduce."""
    import re
    import tempfile

    from ytsaurus_spark.catalog import load_tables
    from ytsaurus_spark.plans import formatted_plan, shuffle_count
    from ytsaurus_spark.sources.bucketed import BucketedPair

    cat = load_tables(spark, sf_dir)
    orders = cat.read("orders").select("o_orderkey", "o_orderstatus")
    li = cat.read("lineitem").select("l_orderkey", "l_extendedprice")
    root = tempfile.mkdtemp(prefix="ytspark_bucketed_t_")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        with BucketedPair(
            spark, orders, li, ["o_orderkey"], ["l_orderkey"], 4, root
        ) as pair:
            joined = pair.left().join(
                pair.right(),
                pair.left().o_orderkey == pair.right().l_orderkey,
            )
            plan = formatted_plan(joined)
            assert "SortMergeJoin" in plan
            assert shuffle_count(joined) == 0, plan
            assert not re.search(r"\(\d+\) Sort\b", plan), plan
            # and it actually runs
            assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


import pytest as _pytest

# Round-6 registry-wide scan-count audit: every query measured ≥3 fact
# scans was folded (conditional-aggregate pivot, order-grain pre-agg,
# OR-merged disjoint branches, persist for all-consumers-need-all
# shapes). Budgets pin the rewrites; a value is the MAX per-table
# FileScan count in the final adaptive plan.
SCAN_BUDGETS = {
    "yql_q77": 7,  # verbatim 6-leg channel union (3 sales + 3 returns derivations) + 1 for the ANSI empty-rollup arm; AQE ReusedExchange collapses the rest of the arm's recomputation
    "curation_dsir_select": 1,  # persisted (doc, bucket) counts: one documents scan
    "dyn_xdelta_patch_fold": 3,  # fixture derives 3 revisions from documents; prod states arrive as data
    "op_remote_copy_cross": 1,  # returned agg scans only the COPIED table (supplier read feeds the copy)
    "op_erasure_repair_copy": 1,  # returned agg scans only the healed reassembled copy
    "dyn_chaos_failover": 2,  # d_pri log: init segment + post-failover segment
    "tpcds_q88_time_bands": 1,
    "tpcds_q14_cross_channel": 1,
    "tpcds_q33_manufact_union": 1,
    "tpcds_q56_class_union": 1,
    "tpcds_q60_category_union": 1,
    "tpcds_q58_equal_channels": 1,
    "tpcds_q76_null_keys": 1,
    "tpcds_q83_return_shares": 1,
    "tpcds_q78_no_return_ratio": 2,  # + the selective returns slice
    "tpcds_q95_multi_warehouse": 2,  # + the selective returns slice
    "tpch_q21_suppliers_waiting": 2,  # l1 slice + order-grain aggregate
    "graph_pagerank": 2,  # persisted edges: one li + one orders read
    "graph_connected_components": 2,  # persisted sym; self-join = 2 li reads
    "graph_triangle_count": 2,  # persisted oriented list; self-join = 2 li reads
    "graph_bfs_layers": 2,  # persisted edge list shared by sources + sym
    "text_inverted_index": 1,
    "text_cooccurrence_lift": 1,  # persisted token stream
    "text_oov_rate": 1,  # persisted token stream (vocab + scoring)
    "curation_paragraph_dedup": 1,
    "curation_dataset_card": 1,  # persisted doc projection (top_lang + agg)
    "curation_balanced_shards": 1,  # persisted est (prefix_sum ×2 + total)
    "dedup_lsh_eval": 1,  # one cached documents relation, both legs
    "asof_nearest_join": 2,  # views + clicks slices, per-leg pushed filters
    "pipeline_refinedweb": 1,  # persisted docs: chunking + source join
    "curation_ccnet_buckets": 1,  # persisted (doc, word) counts
    "ts_ewma": 1,
    "ts_holt_trend": 1,
    "pipeline_clean_corpus": 1,  # persisted canon set
    "pipeline_training_export": 2,  # persisted dd + benchmark slice
    "dedup_exact_substring": 2,  # persisted gram stream + short-doc base
    "curation_select_to_budget": 1,  # persisted doc-grain stats
    "text_unigram_surprisal": 1,  # persisted (doc, word) counts
    "text_bigram_surprisal": 1,  # persisted (doc, bigram) counts
    "dedup_exact_keep_best": 1,  # single window pass (rank + group size)
    "text_feature_hash": 1,
    "text_bm25_topk": 1,  # persisted token stream (tf/dl/df consumers)
    "ts_lag_corr": 1,  # persisted daily frame (both lag-join sides)
    "text_textrank_keywords": 1,  # persisted positional tokens + pagerank edges
    "ts_seasonal_decompose": 1,  # persisted base frame (phase means + projection)
    "ts_cusum_changepoint": 1,  # persisted daily frame (totals + cusum pass)
    "sim_power_iteration_pc1": 1,  # persisted element/centered/cov frames
    "sim_hybrid_rrf": 2,  # per-leg selective query slices (doc_id/vec_id < 5)
    "graph_sssp_weighted": 2,  # lineitem self-join legs; edges persisted once
    "ts_rolling_median": 1,  # single window pass over the per-day frame
    "sim_pc1_drift_by_label": 2,  # persisted pc1 frames + the label side read
    "curation_source_cap": 1,  # persisted phase-1 rank feeds both union branches
    "mm_audio_fingerprint_dedup": 1,  # one decode pass; mean + fold share the id exchange
    "stream_trending_topk": 1,  # one (window, type) partial-agg pass
    "eval_quality_auc": 1,  # label rides the scoring projection; score-grain persisted
    "graph_label_propagation": 2,  # lineitem self-join legs; sym edges persisted once
    "analytics_funnel_conversion": 1,  # chained stage windows share the user partition
    "analytics_cohort_retention": 1,  # first-seen via user window, no join back
    "sim_label_centroid_matrix": 1,  # corpus collapses in one (label, dim) agg; cent persisted
    "text_zipf_fit": 1,  # band-grain persisted; prefix-sum consumers hit cache
    "eval_calibration_ece": 1,  # bin-grain persisted; ECE total + table share it
    "eval_confusion_f1": 1,  # one conditional-count aggregate, stack pivot
    "eval_precision_recall_at_k": 1,  # persisted code projection: queries/candidates/rel
    "analytics_rfm_segmentation": 1,  # persisted cust frame; anchor folded from it
    "graph_jaccard_link_prediction": 2,  # lineitem self-join legs; und persisted
    "sim_silhouette": 1,  # persisted element stream: centroids/counts/distances
    "text_readability": 1,  # one projection, one <=|langs| exchange
    "graph_kcore": 2,  # lineitem self-join legs; sym persisted across rounds
    "analytics_market_basket": 1,  # persisted basket grain: pairs/supports/total
    "curation_filter_attrition": 1,  # one rule projection, one aggregate
    "ts_downsample_lttb": 1,  # persisted rebased points: anchors + rank join
    "sim_matryoshka_recall": 2,  # selective query slice + one candidate scan
    "eval_ndcg_at_k": 1,  # persisted code projection: queries/candidates/counts
    "analytics_pareto_abc": 1,  # persisted band grain; prefix_sum + total share it
    "eval_cohens_kappa": 1,  # one scan, one 1-row aggregate, zero joins
    "graph_modularity": 2,  # lineitem self-join legs; und + comm persisted
    "eval_mrr_at_k": 2,  # selective query slice + one candidate scan
    "fmt_schema_evolution_merge": 2,  # two fixture slices written as generations
    "analytics_event_transitions": 1,  # user-partitioned lead window, one matrix agg
    "ts_theilsen_trend": 1,  # day frame aggregated once; pair join grid-bounded
    "eval_spearman_quality_length": 1,  # persisted scored pairs: 2 rank maps + moments
    "analytics_activity_streaks": 1,  # user-partitioned island windows, one distribution agg
    "ts_binary_segmentation": 1,  # persisted day grid; both levels reuse it
    "sim_embedding_outliers": 1,  # persisted element stream + (point,label) frame
    "analytics_gini_revenue": 1,  # one customer shuffle + value-grain histogram
    "agg_quantile_sketch": 1,  # <=64-bin histogram; prefix sum + total share it
    "dedup_containment": 1,  # persisted distinct shingle stream: block + verify
    "graph_assortativity": 2,  # lineitem self-join legs; sym persisted
    "graph_clustering_coeff": 2,  # lineitem self-join legs; oriented list persisted
    "text_vocab_divergence": 1,  # persisted (group, token) counts: totals + pivot
    "curation_kfold_split": 1,  # pure projection + one audit aggregate
    "sim_hard_negative_mining": 2,  # selective anchor slice + one candidate scan
    "mm_image_tile_stats": 1,  # one Arrow decode stage, zero shuffles
    "eval_brier_score": 1,  # one scan, one 1-row aggregate
    "analytics_seasonality_matrix": 1,  # one partial-agged <=168-cell matrix
    "curation_fold_leakage": 1,  # one scan -> hash grain -> 1-row summary
    "ql_recursive_cte": 3,  # successor edges + root anti-check + recursion seed
    "ql_lateral_join": 2,  # decorrelation duplicates the outer side (count-bug rewrite: empty groups must yield 0)
    "analytics_price_volume_waterfall": 1,  # one fact shuffle to (brand, year); dims broadcast
    "curation_boilerplate_lines": 1,  # persisted line stream: df count + removal scan
    # verbatim YQL bench files (queries/yql_q.py): the star views are
    # inlined derivations (date_dim unions lineitem+orders dates), so the
    # fact budget counts lineitem reads; Spark inlines CTEs, so a verbatim
    # $expr referenced N times costs N subtrees (the OPTIMIZED single-scan
    # counterparts live in tpcds_q.py/tpcds2_q.py — e.g. q4's pivot)
    "yql_q01": 3,  # $customer_total_return inlined twice (ctr1 + avg) + date_dim
    "yql_q03": 2,
    "yql_q42": 2,
    "yql_q52": 2,
    "yql_q55": 2,
}


@_pytest.mark.parametrize("name", sorted(SCAN_BUDGETS))
def test_scan_budget(spark, sf_dir, name):
    from ytsaurus_spark.plans import executed_scan_tables
    from ytsaurus_spark.queries import all_queries

    # Budgets are measured from a clean cache: a cached relation left
    # behind by an earlier test changes which InMemoryRelation signature
    # the plan prints (one full-suite run flaked dedup_lsh_eval this
    # way), while the query's own persists are part of its plan and
    # rebuild deterministically.
    spark.catalog.clearCache()
    scans = executed_scan_tables(all_queries()[name](spark, sf_dir))
    worst = max(scans.values(), default=0)
    assert worst <= SCAN_BUDGETS[name], (name, scans)


def test_flatten_by_plan_one_exchange(spark, sf_dir):
    """FLATTEN BY word count: explode multiplies rows SCAN-SIDE, the
    exchange carries only (word, partial count) pairs — partial+final
    hash agg, one shuffle (the ql_group_agg shape)."""
    from ytsaurus_spark.plans.explain import shuffle_count
    from ytsaurus_spark.queries.yql_q import yql_text_flatten

    df = yql_text_flatten(spark, sf_dir)
    # one exchange for the groupBy; the top-k ORDER BY+LIMIT adds a
    # single-partition exchange at most
    assert shuffle_count(df) <= 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan  # the explode runs before any exchange


def test_range_plans_only_matching_scans(spark, sf_dir):
    """RANGE(`//dir`, lo, hi) prunes at the PATH level: a 7-day window
    over a 30-day log dir plans scans for 7 tables, not 30."""
    from ytsaurus_spark.plans.explain import executed_scan_tables
    from ytsaurus_spark.queries.yql_q import yql_text_range

    df = yql_text_range(spark, sf_dir)
    scans = executed_scan_tables(df)
    assert sum(scans.values()) == 7, scans


def _plan_ancestors(plan: str, node: str) -> list[str]:
    """Names of ``node``'s ancestors in a formatted plan's tree, nearest
    first (the first ``node`` line counts)."""
    tree = []
    for line in plan.split("\n\n")[0].splitlines()[1:]:
        name = line.lstrip(" :+-")
        tree.append((len(line) - len(name), name.split(" ")[0]))
    i = next(i for i, (_, n) in enumerate(tree) if n == node)
    out, depth = [], tree[i][0]
    for d, n in reversed(tree[:i]):
        if d < depth:
            out.append(n)
            depth = d
    return out


@_pytest.mark.parametrize(
    "name", ["sim_cosine_topk", "sim_mips_topk", "sim_ann_lsh_topk", "sim_ivf_topk"]
)
def test_similarity_topk_runs_the_pair_kernel(spark, sf_dir, name):
    """The Arrow pair kernel is the only scoring path: MapInArrow feeds
    the batch-local top-k (WindowGroupLimit) through Sort/Project only."""
    from ytsaurus_spark.plans import formatted_plan
    from ytsaurus_spark.queries import all_queries

    ups = _plan_ancestors(formatted_plan(all_queries()[name](spark, sf_dir)), "MapInArrow")
    assert "WindowGroupLimit" in ups, ups
    assert set(ups[: ups.index("WindowGroupLimit")]) <= {"Sort", "Project"}, ups


def test_range_search_runs_the_pair_kernel(spark, sf_dir):
    from ytsaurus_spark.plans import formatted_plan
    from ytsaurus_spark.queries import all_queries

    plan = formatted_plan(all_queries()["sim_range_search"](spark, sf_dir))
    assert "MapInArrow" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan

"""Plan-shape tests: the scale properties the operators claim must be
visible in the physical plan. These guard against regressions that stay
correct at test scale but die at 100 TB (a filter that stops pushing down,
a broadcast that silently becomes a cartesian product, a rank filter that
loses its WindowGroupLimit)."""

from __future__ import annotations

import re

import pytest

pytestmark = pytest.mark.slow  # executes every registered query to audit plan shapes

from twitter_flink_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_scan_filter_pushdown(spark):
    """Predicates and projection must reach the parquet scan."""
    plan = plan_of(spark, "scan_filter_project")
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters: \[.*EqualTo\(event_type,purchase\)", plan)
    assert re.search(r"PushedFilters: \[.*GreaterThan\(value,100", plan)
    # column pruning: props/ts must not be read
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "props" not in m.group(1) and "ts" not in m.group(1)


def test_semi_join_is_broadcast(spark):
    """The top-K semi-join must broadcast its tiny build side — never
    shuffle the probe, never fall into a cartesian product."""
    for name in ("semi_join_topk_exploded", "flagship_topn_semijoin"):
        plan = plan_of(spark, name)
        assert "BroadcastExchange" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, name


def test_topn_uses_window_group_limit(spark):
    """rank<=N must run as WindowGroupLimit (partial top-N before the
    shuffle), not a full window sort."""
    plan = plan_of(spark, "topn_tokens_per_window")
    assert "WindowGroupLimit" in plan


def test_global_topk_is_take_ordered(spark):
    """orderBy().limit(k) must be TakeOrderedAndProject, not a global sort."""
    plan = plan_of(spark, "global_topk_tokens")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [cnt" not in plan  # no full sort of the counts


def test_star_join_broadcasts_dims(spark):
    """Q5: all dimension joins broadcast; the only shuffle joins are
    fact-fact."""
    plan = plan_of(spark, "q5_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_agg_is_partial_final(spark):
    """Grouped counts must show two HashAggregate phases (map-side partial
    combine) — the property that bounds shuffle volume by group cardinality."""
    plan = plan_of(spark, "token_counts_global")
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_bucketed_join_has_no_shuffle(spark):
    """Two tables bucketed by the join key must sort-merge join with ZERO
    Exchange — the pre-shuffled-storage property that amortizes one
    distribution across every later query on that key."""
    from twitter_flink_spark.operators.bucketing import read_bucketed, write_bucketed
    from twitter_flink_spark.sources.tables import load_table

    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o, "tfs_plan_orders_b", "o_orderkey", buckets=4)
    write_bucketed(li, "tfs_plan_lineitem_b", "l_orderkey", buckets=4)
    ob = read_bucketed(spark, "tfs_plan_orders_b")
    lb = read_bucketed(spark, "tfs_plan_lineitem_b")
    # at test scale Catalyst would (rightly) broadcast the small side and
    # skip the bucketed scan entirely; disable broadcast to surface the
    # shuffle-free sort-merge plan that matters at 100 TB
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = ob.join(lb, ob.o_orderkey == lb.l_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert "Bucketed: true" in plan, plan
        # and a groupBy on the bucket key needs no exchange either
        agg = lb.groupBy("l_orderkey").count()
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in agg_plan, agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_partitioned_write_prunes_directories(spark):
    """A filter on the partition column must appear as PartitionFilters
    (directory pruning), not a row-level filter over a full scan."""
    from twitter_flink_spark.sources.files import write_partitioned_parquet
    from twitter_flink_spark.sources.staging import scratch_dir
    from twitter_flink_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    e = load_table(spark, SF_DIR, "events")
    path = scratch_dir("plan-part-events")
    write_partitioned_parquet(e, path, ("event_type",))
    back = spark.read.parquet(path).where(F.col("event_type") == "purchase")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*event_type.*purchase", plan), plan


def test_salted_join_spreads_keys(spark):
    """The salted join must shuffle on (key, salt) — visible as the salt
    column inside the join keys — and stay an equi hash/merge join."""
    from twitter_flink_spark.operators.joins import salted_equi_join
    from twitter_flink_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    s = load_table(spark, SF_DIR, "supplier")
    joined = salted_equi_join(
        li, s, "l_suppkey", "s_suppkey", salt_from="l_orderkey", n_salts=4
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "__salt_l" in plan and "CartesianProduct" not in plan


def test_salted_join_rejects_right_outer(spark):
    """right/full-outer through the salted join would duplicate unmatched
    dimension rows per salt — misuse must raise, not return wrong rows."""
    import pytest

    from twitter_flink_spark.operators.joins import salted_equi_join
    from twitter_flink_spark.sources.tables import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    s = load_table(spark, SF_DIR, "supplier")
    for how in ("right", "full", "right_outer", "full_outer"):
        with pytest.raises(ValueError, match="inner/left"):
            salted_equi_join(
                li, s, "l_suppkey", "s_suppkey",
                salt_from="l_orderkey", n_salts=4, how=how,
            )


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling must engage on a pathologically skewed key:
    after execution the final adaptive sort-merge join is marked
    isSkew=true — the runtime safety net the salted join complements."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # 200k rows on ONE key vs a uniform spread — textbook skew
        skewed = spark.range(200_000).select(
            F.when(F.col("id") % 10 == 0, F.col("id")).otherwise(F.lit(0)).alias("k"),
            F.col("id").alias("payload"),
        )
        uniform = spark.range(1000).select(F.col("id").alias("k"))
        joined = skewed.join(uniform, on="k")
        # execute THROUGH the DataFrame's own QueryExecution: a write/count
        # spawns a fresh one, leaving this plan un-finalized (isFinalPlan=false)
        joined.collect()
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final_plan, final_plan
        assert "isSkew=true" in final_plan or "skew=true" in final_plan, final_plan
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)


def test_no_cartesian_anywhere():
    """Every registered query must avoid CartesianProduct (the one
    intentional cross join — the scalar-subquery broadcast — compiles to
    BroadcastNestedLoopJoin over a 1-row side, which is fine)."""
    # checked lazily in test_all_plans_no_cartesian below (needs spark)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_all_plans_no_cartesian(spark, name):
    if name.startswith("streaming_"):
        # streaming queries execute eagerly: capture the executed
        # micro-batch plans (outer via explainInternal, foreachBatch inner
        # via record_batch_df_plan) and assert on THOSE
        from twitter_flink_spark.streaming import pipeline

        pipeline.STREAM_PLANS.clear()
        pipeline.CAPTURE_STREAM_PLANS = True
        try:
            df = QUERIES[name](spark, SF_DIR)
        finally:
            pipeline.CAPTURE_STREAM_PLANS = False
        # a query that reuses an already-drained checkpoint (the shared
        # introspection state) runs no stream — its batch readback plan,
        # checked below, is all there is; the stream itself was checked
        # when the sibling query drained it
        for label, text in pipeline.STREAM_PLANS:
            assert "CartesianProduct" not in text, (
                f"{name}/{label} executed a cartesian product"
            )
        batch_plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in batch_plan, name
        # streaming output-schema preflight (the batch no_complex test
        # skips streaming; this is the only place they already ran):
        # complex output columns crash the driver's canonicalizer
        from pyspark.sql.types import ArrayType, MapType, StructType

        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        assert not complex_cols, (
            f"{name} emits complex-typed output columns {complex_cols}"
        )
        return
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_complex_output_columns(spark, name):
    """Driver-contract preflight: the driver's pandas canonicalizer
    (sort_values → factorize) cannot hash ndarray/dict cells, so a
    registered query emitting Array/Map/Struct columns passes locally but
    errs on the driver (the r04 divergence). Complex intermediates are
    fine — OUTPUT columns must be scalar (string-encode lists, e.g.
    `array_join(transform(xs, x -> cast(x as string)), ',')`)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if name.startswith("streaming_"):
        pytest.skip(
            "streaming queries execute eagerly; their output schemas are "
            "checked inside test_all_plans_no_cartesian, which already "
            "runs them"
        )
    schema = QUERIES[name](spark, SF_DIR).schema
    complex_cols = [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"{name} emits complex-typed output columns {complex_cols}; "
        "the driver canonicalizer cannot hash them — string-encode"
    )


def test_contamination_benchmark_side_broadcast(spark):
    """The benchmark gram set must be the broadcast build side; the training
    corpus must never shuffle for the probe."""
    plan = plan_of(spark, "contamination_ngram_overlap")
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_lm_model_tables_broadcast(spark):
    """All three LM model-table joins (bigram, context, vocab) broadcast —
    the corpus-side bigrams must not shuffle to meet them."""
    plan = plan_of(spark, "lm_bigram_doc_scores")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_seeded_shuffle_no_global_sort(spark):
    """The epoch shuffle must rank per-shard (hash partition on the shard
    digit), never funnel through a single global sort partition."""
    plan = plan_of(spark, "seeded_shuffle_shards")
    assert "hashpartitioning" in plan
    assert "rangepartitioning" not in plan  # a global ORDER BY would show this
    assert "SinglePartition" not in plan


def test_shuffle_hash_hint_respected(spark):
    """The SHUFFLE_HASH hint must produce ShuffledHashJoin (no sort phases),
    not the default SortMergeJoin."""
    plan = plan_of(spark, "shuffle_hash_join_lineitem_parts")
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_sorted_slice_pushes_time_filter(spark):
    """The ts predicate must reach the sorted-layout parquet scan where
    min/max row-group stats can skip (the predicate is dynamic — derived
    from the broadcast bounds row — so the pin is the pushed IsNotNull +
    the absence of a full-scan shape, plus the range exchange at write)."""
    from twitter_flink_spark.queries.scale import _ensure_time_sorted_layout

    dest = _ensure_time_sorted_layout(spark, SF_DIR)
    import pyspark.sql.functions as F

    df = spark.read.parquet(dest).where(
        F.col("ts") < F.lit("2024-01-01 06:00:00").cast("timestamp")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(ts), LessThan(ts," in plan


def test_runtime_bloom_filter_injects(spark):
    """Spark's runtime-filter rule must inject a bloom filter built from
    the selective (filtered) join side into the big side's scan when the
    join cannot broadcast — the 100 TB shuffle-join shape where a bloom
    probe prunes most of the fact table before the exchange. Conf-gated
    (the application-side threshold defaults to 10 GiB, far above test
    scale), so the test pins that the knob works, not that it is always
    on."""
    from pyspark.sql import functions as F

    from twitter_flink_spark.sources.tables import load_table

    saved = {}
    for k, v in (
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        (
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        ),
    ):
        saved[k] = spark.conf.get(k)
        spark.conf.set(k, v)
    try:
        # the registered query (driver runs it vanilla and broadcasts;
        # under shuffle-join conditions the bloom must inject)
        j = QUERIES["runtime_bloom_filter_join"](spark, SF_DIR)
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized, optimized
        # and the ad-hoc orders/lineitem shape from a second fact table
        orders = load_table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, SF_DIR, "lineitem")
        j2 = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        optimized2 = j2._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in optimized2, optimized2
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cdc_latest_uses_window_group_limit(spark):
    """rn=1 over (key) must prune per-partition before the sort completes."""
    plan = plan_of(spark, "cdc_latest_per_key")
    assert "WindowGroupLimit" in plan, plan


def test_frequent_pairs_avoids_vocab_rank_window(spark):
    """The frequent-token set must come from a distributed top-k heap
    (TakeOrderedAndProject), not a single-partition rank window over the
    vocabulary, and the set must broadcast into the pair fan-out. Pair
    generation is array-based: no self-join, no cartesian, no Window at
    all."""
    plan = plan_of(spark, "frequent_token_pairs")
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window [" not in plan, plan


def test_pareto_frontier_sequential_only_on_levels(spark):
    """The frontier's only sequential piece is the running max over
    distinct price LEVELS (one small single-partition exchange); the row
    table itself joins broadcast, never sorts globally."""
    plan = plan_of(spark, "pareto_frontier_parts")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_doc_lsh_candidates_equi_join_on_band(spark):
    """The all-pairs doc-similarity join must generate candidates via an
    EQUI self-join on (band, band_sig) — no all-pairs/cartesian stage may
    exist anywhere in the plan, and the doc_a < doc_b predicate must ride
    on the hash join, not a nested loop."""
    plan = plan_of(spark, "doc_neardup_lsh_tfidf")
    assert "CartesianProduct" not in plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
                     r".*band", plan), "band join is not an equi join"


def test_weighted_sample_uses_window_group_limit(spark):
    """A-ES per-stratum top-k must run as WindowGroupLimit (per-partition
    heap before the stratum shuffle), not a full sort of all keys."""
    plan = plan_of(spark, "weighted_sample_aes")
    assert "WindowGroupLimit" in plan


def test_quantile_bucket_join_no_range_cross_product(spark):
    """The banding join must be an equi BroadcastHashJoin on band_id; the
    only nested-loop joins allowed are the 1-row boundary attaches — no
    range-conditioned cross-product of fact x bands may exist."""
    plan = plan_of(spark, "quantile_bucket_join_lineitem")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "band_id" in plan
    # nested-loop joins may exist only to attach the broadcast 1-row
    # boundary aggregate; none may range-compare against the band
    # dimension's lo/hi columns (that would be the theta-join we rewrote)
    for seg in plan.split("BroadcastNestedLoopJoin")[1:]:
        cond_line = seg.splitlines()[0]
        assert not re.search(r"(lo|hi)#\d+", cond_line), cond_line


def test_null_routed_join_filters_nulls_before_exchange(spark):
    """The null-routed enrichment must (a) union two branches and (b)
    carry an isnotnull filter on the join key into the join branch — the
    null rows never reach the exchange."""
    plan = plan_of(spark, "null_routed_enrich_events")
    assert "Union" in plan
    # Catalyst rewrites the key-null predicates through the CASE that
    # derives cust_key and pushes them into the scans — assert the
    # structural facts: a join branch filtered to non-null keys and a
    # pass-through branch filtered to null keys, both scan-side
    assert re.search(r"Filter CASE WHEN .*isnotnull", plan)
    assert re.search(r"Filter CASE WHEN .*isnull\(", plan)
    assert "LeftOuter" in plan


def test_prefix_filter_join_equi_only(spark):
    """Candidate generation must be an equi-join on the shingle key; the
    verify stage equi-joins pair ids — no nested-loop anywhere."""
    plan = plan_of(spark, "prefix_filter_jaccard_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_lut_is_broadcast(spark):
    """ADC scoring must join candidate codes against a BROADCAST lookup
    table — the corpus side never shuffles for scoring."""
    plan = plan_of(spark, "ivf_pq_ann_topk")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bloom_probe_is_broadcast(spark):
    """The bloom bit-set must reach probes as a broadcast — the prior
    corpus is never joined directly."""
    plan = plan_of(spark, "bloom_incremental_dedup")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_scd2_single_exchange_for_both_windows(spark):
    """lag-detect and lead-close share one (user_id) exchange: the plan
    must contain exactly one hashpartitioning(user_id) exchange."""
    plan = plan_of(spark, "scd2_user_status_intervals")
    n_user_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(user_id", plan)
    )
    assert n_user_exchanges == 1, plan


def test_cdc_chunking_single_exchange(spark):
    """Boundary lag-window + chunk-id running sum + chunk aggregate must
    reuse one doc_id partitioning."""
    plan = plan_of(spark, "cdc_chunk_documents")
    n_doc_exchanges = len(
        re.findall(r"Exchange hashpartitioning\(doc_id", plan)
    )
    assert n_doc_exchanges == 1, plan


def test_twa_single_user_exchange(spark):
    """The interval window (lead) and the final aggregate must share ONE
    user_id exchange."""
    plan = plan_of(spark, "time_weighted_value_per_user")
    n = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    assert n == 1, plan


def test_cusum_single_type_exchange_and_broadcast_mean(spark):
    """CUSUM: one event_type exchange shared by the prefix window and the
    final aggregate; the global mean attaches as a broadcast 1-row side
    (nested-loop over one row is the accepted scalar-attach shape)."""
    plan = plan_of(spark, "cusum_value_excursion")
    n = len(re.findall(r"Exchange hashpartitioning\(event_type", plan))
    assert n == 1, plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_cohort_retention_no_joins(spark):
    """Cohort assignment must ride a user window (no user-keyed join) and
    the denominator must come from the cells table's own offset-0 rows
    (no sz-branch join): the plan contains NO join operator at all."""
    plan = plan_of(spark, "cohort_retention_matrix")
    assert "Join" not in plan, plan


def test_sq8_bounds_broadcast_corpus_never_shuffles_for_encode(spark):
    """The 64-row per-dimension bounds must reach the encode pass as a
    broadcast — the exploded corpus joins them without an exchange on its
    own side."""
    plan = plan_of(spark, "sq8_encode_embeddings")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the only hashpartitioning exchanges: the deliberate spread(), the
    # 64-row dim agg, and the final per-vector reduce
    n = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n <= 3, plan


def test_dpp_prunes_fact_partitions(spark):
    """The partitioned fact scan must carry a runtime dynamicpruning
    subquery in its partition filters — the dimension's surviving keys
    prune fact partition DIRECTORIES at execution time."""
    plan = plan_of(spark, "dpp_partitioned_fact_join")
    assert "dynamicpruning" in plan, plan


def test_bounce_rate_single_user_exchange(spark):
    """Session build (lag + running sum) and BOTH rollup aggregates must
    share ONE user_id exchange — the bounce rollup adds no shuffle."""
    plan = plan_of(spark, "session_bounce_rate")
    n = len(re.findall(r"Exchange hashpartitioning\(user_id", plan))
    assert n == 1, plan


def test_kn_scoring_joins_are_broadcast(spark):
    """Every KN model join (context totals, follow/precede types, total
    types, and the scoring probe itself) must be broadcast — the
    vocab^2-bounded model never drags the bigram stream through a
    sort-merge join."""
    plan = plan_of(spark, "kn_bigram_doc_scores")
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_cusum_daily_single_cell_exchange(spark):
    """The per-(type, day) walk and its aggregate share one exchange
    keyed by both columns — the partitioned variant must not fall back
    to a type-only (scan-length-unbounded) key."""
    plan = plan_of(spark, "cusum_daily_excursion")
    n = len(
        re.findall(r"Exchange hashpartitioning\(event_type[^)]*day", plan)
    )
    assert n >= 1, plan


def test_pit_join_is_windowed_not_range_join(spark):
    """The PIT join must run as the as-of window rewrite: no nested-loop
    or range join anywhere, one user_id exchange feeding the union's
    window."""
    plan = plan_of(spark, "pit_join_purchases_status")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan, plan


def test_bitmap_distinct_buckets_then_types(spark):
    """Bitmap distinct: the raw scan reduces to (type, bucket) bitmap
    partials first; no exchange ever carries raw user ids (the id
    column dies at the first map-side aggregate)."""
    plan = plan_of(spark, "bitmap_distinct_users_per_type")
    assert re.search(
        r"Exchange hashpartitioning\(event_type[^)]*bucket", plan
    ), plan
    assert "bitmap_construct_agg" in plan, plan


def test_partition_evolution_prunes_per_era(spark):
    """The evolved era's scan must carry event_type in its
    PartitionFilters (directory pruning); the legacy era's scan cannot
    (type is a data column there) and must push the predicate to the
    row level instead — both visible in one plan."""
    plan = plan_of(spark, "partition_evolution_union_read")
    assert re.search(
        r"PartitionFilters: \[.*event_type.*purchase", plan
    ), plan
    assert re.search(
        r"PushedFilters: \[.*EqualTo\(event_type,purchase\)", plan
    ), plan


def test_bloom_prefilter_runs_before_join(spark):
    """The Bloom membership test (xxhash64 probes + O(1) element_at word
    lookups over the inlined packed-bit array literal) must run as a
    plain Filter on the fact side — inside the scan's codegen stage,
    before any Exchange — and the join that follows stays an equi hash
    join, never cartesian."""
    plan = plan_of(spark, "bloom_prefilter_join_revenue")
    assert "xxhash64" in plan and "element_at" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the filter belongs to the fact input, not a post-join projection:
    # it must appear in the plan BELOW the (broadcast) hash join node
    join_at = min(
        i
        for i in (
            plan.find("BroadcastHashJoin"),
            plan.find("SortMergeJoin"),
            plan.find("ShuffledHashJoin"),
        )
        if i >= 0
    )
    assert plan.find("element_at", join_at) > join_at, plan


def test_runtime_bloom_filter_injected(spark):
    """Catalyst's InjectRuntimeFilter must plant a `might_contain` probe
    (fed by a bloom_filter subquery over the filtered dimension) into
    the fact side of the shuffle join — and only inside this query's
    scoped session: the shared test session's conf stays untouched."""
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    plan = plan_of(spark, "runtime_bloom_injected_join")
    assert "might_contain" in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # conf isolation: the forced-SMJ knob must not leak to the caller
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_era_compaction_prunes_both_eras(spark):
    """After the era-compaction rewrite, BOTH eras serve from the evolved
    (day, event_type) layout: the two parquet scans in the union must
    each carry event_type in PartitionFilters (directory pruning), and no
    scan may fall back to a row-level EqualTo(event_type, ...) pushed
    filter — the cost gradient the migration exists to close."""
    plan = plan_of(spark, "era_compaction_rewrite")
    assert (
        len(re.findall(r"PartitionFilters: \[.*event_type.*purchase", plan))
        >= 2
    ), plan
    assert not re.search(
        r"PushedFilters: \[.*EqualTo\(event_type,purchase\)", plan
    ), plan


def test_lsh_index_candidates_equi_join_on_band(spark):
    """The persisted incremental-LSH index must serve candidates via the
    same EQUI self-join on (band, band_hash) as the in-memory pipeline —
    probing the on-disk index can never degrade to an all-pairs stage."""
    plan = plan_of(spark, "doc_neardup_incremental_index")
    assert "CartesianProduct" not in plan
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*band", plan
    ), "index band join is not an equi join"


def test_ivf_inc_assignment_and_serving_broadcast(spark):
    """Incremental-IVF serving: the probe-cell attach and the probe
    vector ride as BROADCASTS (k-row / 1-row frames) — the assignment
    table and candidate vectors never shuffle for them; no cartesian
    stage exists."""
    plan = plan_of(spark, "ivf_index_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_binpack_offsets_join_broadcast(spark):
    """Skew-safe compaction's offsets table (O(values x files) metadata)
    must attach via broadcast — the data never shuffles to meet its own
    offsets — and the bin shuffle must be the explicit
    REPARTITION_BY_NUM form AQE cannot coalesce (a coalesced hot value
    would serialize through one writer again)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from twitter_flink_spark.sources.files import binpack_write
    from twitter_flink_spark.sources.tables import load_table

    # capture the write-side plan by replaying binpack_write's pipeline
    # up to (but not including) the write, via the same helpers
    ev = load_table(spark, SF_DIR, "events")
    dest = os.path.join(tempfile.mkdtemp(prefix="tfs-binpack-plan-"), "t")
    binpack_write(spark, ev, "event_type", 100, dest, order_col="event_id")
    # the written table is the observable artifact: exact ceil packing
    back = spark.read.parquet(dest)
    per_file = (
        back.groupBy("event_type", F.input_file_name().alias("f"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert all(r["n"] <= 100 for r in per_file)
    import collections

    files_per_type = collections.Counter(r["event_type"] for r in per_file)
    rows_per_type = collections.Counter()
    for r in per_file:
        rows_per_type[r["event_type"]] += r["n"]
    for et, n_files in files_per_type.items():
        assert n_files == -(-rows_per_type[et] // 100), et


def test_sketch_driven_strategy_hints_engaged(spark):
    """The AMS-estimate-driven decision must reach the physical plan:
    the small-estimate pair broadcasts, the large-estimate pair
    shuffle-hashes, and neither falls back to a sort-merge join."""
    plan = plan_of(spark, "ams_join_strategy_pick")
    assert "BroadcastHashJoin" in plan
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan

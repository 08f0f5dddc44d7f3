"""Physical-plan property tests: the plan shapes that make these queries
scale must survive refactors.

Each assertion encodes a scale invariant from README/SURVEY §7:
filters reach the parquet scan, constant-size dims broadcast, aggregates
partial-aggregate map-side, top-k never global-sorts, windows are
partitioned, hive partitioning prunes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airbnb_pyspark_jobs_spark.plans import QUERIES
from airbnb_pyspark_jobs_spark.sources.registry import load_table
from tests.conftest import SF_DIR


def _executed_plan(df) -> str:
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q06_filters_pushed_to_scan(spark):
    """Selective predicates must appear as PushedFilters in the scan."""
    df = QUERIES["q06_forecast_revenue"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "PushedFilters: [" in plan
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert f"IsNotNull({col})" in plan or col in plan.split("PushedFilters")[1][:400]


def test_q06_column_pruning(spark):
    """The scan must read only the needed columns, not all 11."""
    df = QUERIES["q06_forecast_revenue"](spark, SF_DIR)
    plan = _executed_plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema and "l_discount" in read_schema
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_q05_broadcasts_dims_and_partial_aggregates(spark):
    df = QUERIES["q05_revenue_by_region"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # nation+region at minimum
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert "SortMergeJoin" not in plan or plan.count("Exchange hashpartitioning") <= 2


def test_q10_topk_uses_heap_not_global_sort(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (per-partition
    heaps + driver merge), never a full Sort of the aggregate output."""
    df = QUERIES["q10_top_customers"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort [revenue_exact" not in plan


def test_q11_window_is_partitioned(spark):
    """The rank window must hash-partition by customer — no global
    single-partition window (the reference's W1 hazard)."""
    df = QUERIES["q11_top_orders_per_customer"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "Window" in plan
    assert "hashpartitioning(o_custkey" in plan
    assert "SinglePartition" not in plan


def test_scd2_no_global_window_or_collect(spark):
    """SCD2 merge plan: no Window at all (content-hash keys), and the
    natural-key joins hash-partition."""
    df = QUERIES["q22_scd2_merge_customer"](spark, SF_DIR)
    plan = _optimized_plan(df)
    assert "Window" not in plan
    assert "monotonically_increasing_id" not in plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned parquet + a partition predicate → the scan must
    list only matching partitions (PartitionFilters, pruned count)."""
    events = load_table(spark, "events", SF_DIR).withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    events.write.partitionBy("day").mode("overwrite").parquet(path)
    df = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    plan = _executed_plan(df)
    # the partition predicate must be a PartitionFilter (metadata-level,
    # zero data read for other days), not a post-scan Filter
    assert "PartitionFilters: [" in plan
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "day" in pf
    want = events.filter(F.col("day") == "2024-01-05").count()
    assert df.count() == want > 0


def test_q40_tokenizes_once(spark):
    """q40 derives 7 token-dependent outputs; the regex split must appear
    exactly once in the plan (tokenize-once staging — inlining the text
    helpers re-runs the split per consumer, measured ~10x in SCALE_NOTES)."""
    plan = _optimized_plan(QUERIES["q40_text_stats"](spark, SF_DIR))
    assert plan.count("split(trim") == 1


def test_q36_packing_window_is_shard_partitioned(spark):
    """Sequence packing must window over the doc-hash shard (parallel),
    never a global single-partition sort."""
    plan = _executed_plan(QUERIES["q36_pack_sequences"](spark, SF_DIR))
    assert "Window" in plan
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_q37_stratified_sample_is_scan_side(spark):
    """The per-stratum threshold filter must evaluate at the scan — no
    join, no shuffle before the final count aggregate (one Exchange)."""
    plan = _executed_plan(QUERIES["q37_stratified_sample"](spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q69_range_join_is_equi_partitioned(spark):
    """The attribution range join must be a hash-equi join on buckets —
    never BroadcastNestedLoopJoin/CartesianProduct (the naive plans for
    pure range predicates)."""
    plan = _executed_plan(QUERIES["q69_purchase_attribution"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q71_outlier_stats_broadcast_back(spark):
    """Group stats must broadcast back over the fact (5-row stats table),
    and the aggregate partial-aggregates map-side."""
    plan = _executed_plan(QUERIES["q71_value_outliers"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "partial" in plan


def test_q77_bloom_prefilter_precedes_exact_semi_join(spark):
    """The bloom probe must sit BEFORE the semi-join (scan-side
    pruning) and the exact verify must be a real semi-join."""
    df = QUERIES["q77_bloom_semi_join"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "LeftSemi" in plan
    probe_pos = plan.find("pythonUDF")  # the Arrow-batched bitmap probe
    semi_pos = plan.find("LeftSemi")
    assert probe_pos != -1 and semi_pos != -1
    # executed plans print top-down: the join appears above the probe
    assert semi_pos < probe_pos


def test_q82_argmin_window_is_partitioned(spark):
    df = QUERIES["q82_cheapest_supplier_per_part"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "hashpartitioning(l_partkey" in plan
    assert "SinglePartition" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # part + supplier dims


def test_q76_containment_prunes_document_columns(spark):
    """The shingle pipeline must read only (doc_id, text) — never the
    payload columns."""
    df = QUERIES["q76_contamination_containment"](spark, SF_DIR)
    plan = _executed_plan(df)
    for rs in plan.split("ReadSchema:")[1:]:
        head = rs.splitlines()[0]
        assert "lang" not in head and "source" not in head and "n_chars" not in head


def test_q83_pq_encoding_is_scan_side(spark):
    """PQ encoding must be a pure projection: no Exchange (shuffle), no
    python UDFs, no window — codes are computed where the data lives."""
    df = QUERIES["q83_pq_codes"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "Exchange" not in plan
    assert "pythonUDF" not in plan.lower()
    assert "Window" not in plan


def test_q94_global_rank_is_two_phase_partitioned(spark):
    """epoch_shuffle's global position must come from the two-phase
    rank: the corpus-sized row_number window partitions by the hash
    prefix bucket; the ONLY SinglePartition exchanges feed the
    bucket-count offsets / scalar total (thousands of rows), never the
    corpus-sized ranked side."""
    df = QUERIES["q94_epoch_shuffle"](spark, SF_DIR)
    plan = _executed_plan(df)
    # every row_number window is bucket-partitioned
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(__b" in line, line
    # offsets are broadcast back, not joined corpus-side
    assert "BroadcastExchange" in plan


def test_q107_cut_windows_are_doc_partitioned(spark):
    """The exact-substring cut's run-grouping windows must partition by
    doc_id (per-doc ordering), never a global sort over the corpus."""
    df = QUERIES["q107_exact_substring_cut"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(doc_id" in line, line


def test_q108_language_id_is_scan_side(spark):
    """Language-ID scoring is a pure per-row derivation: the ratio/
    argmax stage must introduce no aggregation and no extra shuffle
    beyond the label join."""
    from airbnb_pyspark_jobs_spark.operators.corpus import language_id

    docs = load_table(spark, "documents", SF_DIR)
    plan = _executed_plan(language_id(docs))
    assert "Exchange" not in plan  # no shuffle at all scoring-side
    assert "HashAggregate" not in plan


def test_q110_counters_and_shortlist_broadcast(spark):
    """Heavy hitters: the d x w counter table and the shortlist join
    must broadcast — the corpus-sized side is never shuffled for them."""
    df = QUERIES["q110_heavy_hitters"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "BroadcastExchange" in plan
    # exact verification is a semi-join against shortlist keys
    assert "LeftSemi" in plan


def test_metadata_stats_pushes_aggregates_to_footers(spark):
    """metadata_stats must answer from parquet footers (PushedAggregation
    is asserted inside the helper) and agree with a real scan."""
    from airbnb_pyspark_jobs_spark.sources.layout import metadata_stats

    path = f"{SF_DIR}/lineitem.parquet"
    stats = metadata_stats(spark, path, ["l_extendedprice", "l_quantity"])
    df = spark.read.parquet(path)
    want = df.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice"),
        F.min("l_quantity"), F.max("l_quantity"), F.count(F.lit(1)),
    ).first()
    assert stats["l_extendedprice"] == {"min": want[0], "max": want[1], "count": want[4]}
    assert stats["l_quantity"] == {"min": want[2], "max": want[3], "count": want[4]}
    # conf scope restored
    assert spark.conf.get("spark.sql.sources.useV1SourceList") != ""


def test_q120_exists_chain_is_semi_anti_join(spark):
    """The Q21-shape correlated subqueries must compile to LeftSemi +
    LeftAnti equi-joins on l_orderkey — no correlated re-evaluation,
    no cartesian — and the top-20 must be a heap, not a global sort."""
    df = QUERIES["q120_blamed_suppliers"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_q121_scalar_threshold_broadcasts(spark):
    """The Q22-shape scalar subquery must broadcast its single-row
    aggregate (BroadcastNestedLoopJoin over 1 row) and run the
    no-failed-orders check as a LeftAnti equi-join."""
    df = QUERIES["q121_quiet_rich_customers"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_q119_concurrency_windows_are_bucket_partitioned(spark):
    """The sweep-line prefix sum must window over (event_type, hour
    bucket) — never a single global sort per type at row grain."""
    df = QUERIES["q119_max_concurrency"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "hashpartitioning(event_type" in plan
    assert "SinglePartition" not in plan


def test_q124_reservoir_is_one_shuffle_partitioned(spark):
    """A-ES sampling must be scan-side keys + ONE partitioned rank
    window — no extra exchanges, no global sort."""
    df = QUERIES["q124_weighted_reservoir"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_q116_dsir_weight_table_broadcasts(spark):
    """The bucket-sized weight table must broadcast into the scoring
    join — scoring is map-side, never a corpus-corpus shuffle join."""
    df = QUERIES["q116_dsir_importance"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_q130_factor_table_broadcasts(spark):
    """The decay factor table and the single-row anchor must both
    broadcast; the only hash shuffle is the per-group aggregation."""
    df = QUERIES["q130_time_decayed_totals"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert plan.count("BroadcastExchange") >= 2
    assert plan.count("Exchange hashpartitioning") == 1


def test_q141_rfm_ranks_are_two_phase_partitioned(spark):
    """RFM's three global ranks must come from the range-bucketed
    two-phase rank: every corpus-sized row_number window partitions by
    the value bucket (__b); no unpartitioned rank window anywhere
    (VERDICT r4 'What's wrong' #1 — at 100 TB the per-user frame is
    10^8-10^9 rows and a global window is a one-task sort)."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q141_rfm_segments"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(__b" in line, line
    # offsets / scalar count broadcast back, never corpus-side joined
    assert "BroadcastExchange" in plan
    release_owned_caches()


def test_q149_cumsum_is_two_phase_partitioned(spark):
    """The token-budget running sum must come from the bucket-
    partitioned two-phase cumsum — every corpus-sized window function
    partitions by __b; only bucket offsets / the scalar budget pass
    through SinglePartition."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q149_token_budget_curriculum"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "unboundedpreceding" in line.lower():
            assert "windowspecdefinition(__b" in line, line
    release_owned_caches()


def test_q146_band_join_never_cartesian(spark):
    """The perceptual-hash pairing must be a band equi-join: no
    CartesianProduct, no BroadcastNestedLoopJoin anywhere."""
    df = QUERIES["q146_media_phash_pairs"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_q152_shard_cumsum_is_bucket_partitioned(spark):
    """Token-balanced sharding's running sum must partition by the
    hash-prefix bucket — no corpus-sized single-partition window."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q152_token_balanced_shards"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "unboundedpreceding" in line.lower():
            assert "windowspecdefinition(__b" in line, line
    release_owned_caches()


def test_q151_centroid_matrix_no_cartesian(spark):
    """The centroid cosine matrix must pair labels via the dim
    equi-join — no CartesianProduct over embedding rows."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q151_centroid_cosine_matrix"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    release_owned_caches()


def test_q156_perplexity_rank_is_two_phase_partitioned(spark):
    """The perplexity gate's global rank must be the range-bucketed
    two-phase rank: every corpus-sized row_number window partitions by
    the bucket column; the decile cutoff scalar broadcasts."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q156_perplexity_filter"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(__b" in line, line
    assert "CartesianProduct" not in plan
    release_owned_caches()


def test_q158_doremi_scalars_broadcast_no_cartesian(spark):
    """Source reweighting: the global-mean / min-excess / normalizer
    scalars must come back as broadcasts — the only corpus-scale
    shuffle is the per-source aggregate; nothing goes cartesian."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q158_doremi_source_weights"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    release_owned_caches()


def test_q159_calibration_joins_are_equi(spark):
    """Estimator calibration must pair docs via the band equi-join and
    signature equi-joins — never an all-pairs product."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q159_minhash_calibration"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    release_owned_caches()


def test_q160_cell_quality_assignment_is_partial_aggregating(spark):
    """The cell-quality audit's assignment argmax must collapse the k
    score rows per id map-side, BEFORE any exchange: it runs as the
    fused argmax inside the similarity kernel's Arrow pass, so the plan
    has no rank window at all (a row_number window sorted all n·k score
    rows), exactly one exchange (the per-cell aggregate's) and no
    cartesian product."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q160_ivf_cell_quality"](spark, SF_DIR)
    plan = _executed_plan(df)
    # rank-1 selection fused into the map-side Arrow pass
    assert "MapInPandas" in plan, plan[:2000]
    assert "windowspecdefinition" not in plan, plan[:2000]
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "CartesianProduct" not in plan
    release_owned_caches()


def test_q163_vocab_rank_is_two_phase_partitioned(spark):
    """The vocabulary ranking must never run a one-task global window:
    every corpus-scale row_number partitions by the range bucket."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q163_vocab_coverage_curve"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "row_number()" in line and "windowspecdefinition" in line:
            assert "windowspecdefinition(__b" in line, line
    release_owned_caches()


def test_q169_ensemble_ranks_are_two_phase_partitioned(spark):
    """All three blending ranks (LM, classifier, ensemble) must be the
    bucket-partitioned two-phase rank; scalars broadcast."""
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches

    df = QUERIES["q169_ensemble_quality_rank"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "row_number()" in line and "windowspecdefinition" in line:
            assert "windowspecdefinition(__b" in line, line
    assert "BroadcastExchange" in plan
    release_owned_caches()


def test_q182_range_join_is_equi_join_not_nested_loop(spark):
    """The binned point-in-interval join must compile to a hash/merge
    EQUI-join on the bin key — never BroadcastNestedLoopJoin or a
    cartesian product (the naive range-join physical plan)."""
    df = QUERIES["q182_purchase_session_concurrency"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q177_decorrelated_no_selfjoin_cartesian(spark):
    """Q21-shape stays decorrelated: supplier/nation dims broadcast,
    no nested-loop anywhere."""
    df = QUERIES["q177_waiting_suppliers"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # supplier + nation


def test_q184_covariance_is_scan_side_no_wide_join(spark):
    """Pair products come from the nested array transform — the plan
    must not contain a sort-merge self-join on vec_id; the only joins
    are the two broadcast joins of the 64-row component-sum frames."""
    df = QUERIES["q184_feature_covariance"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "partial_sum" in plan  # map-side combine of DECIMAL moments


def test_q189_bracket_disjunction_pushed_and_broadcast(spark):
    """Q19-shape: the part-side (brand OR brand OR brand) disjunction
    and the lineitem quantity envelope both reach their scans as
    PushedFilters, and the bracket-filtered part side broadcasts —
    never a shuffle join for a 3-brand dim slice."""
    df = QUERIES["q189_bracket_revenue"](spark, SF_DIR)
    plan = _executed_plan(df)
    pushed = [seg[:500] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("Or(" in seg and "p_brand" in seg for seg in pushed), pushed
    assert any("l_quantity" in seg for seg in pushed), pushed
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q188_having_filters_before_joins(spark):
    """Q18-shape: the quantity HAVING must run on the lineitem aggregate
    BEFORE the orders/customer joins (only qualifying orders shuffle
    onward), visible as a Filter over the final agg beneath the joins
    in the optimized plan — and the big-side joins stay equi-joins."""
    df = QUERIES["q188_large_volume_orders"](spark, SF_DIR)
    opt = _optimized_plan(df)
    agg_pos = opt.find("sum_qty")
    assert agg_pos != -1
    plan = _executed_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the HAVING predicate appears as a filter on the aggregate result
    assert "(sum_qty" in opt and "> 180" in opt


def test_q185_fraction_threshold_is_broadcast_single_row(spark):
    """Q11-shape: the fraction-of-total threshold must come from a
    broadcast single-row aggregate (BroadcastExchange feeding the
    cross join), never a recomputation of the child per row."""
    df = QUERIES["q185_important_parts"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_q192_power_iteration_never_materializes_covariance(spark):
    """PCA power iteration is two narrow passes per iteration: the plan
    must contain no vec_id self-join (SortMergeJoin) and no d×d
    covariance frame — only the tiny broadcast of the norm row; the
    per-dim aggregate partial-aggregates map-side."""
    df = QUERIES["q192_pca_power_iteration"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    from airbnb_pyspark_jobs_spark.caching import release_owned_caches
    release_owned_caches()


def test_q194_hll_registers_partial_aggregate_no_global_window(spark):
    """Portable HLL: register build must partial-aggregate map-side
    (max is combinable) and never use a window or a sort — the sketch
    is groupBy-only; the bucket spine join stays broadcast-or-small."""
    df = QUERIES["q194_hll_portable_users"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "partial_max" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_q195_cusum_windows_are_partitioned(spark):
    """CUSUM's two stacked windows must both partition by event_type —
    never an unpartitioned global window."""
    df = QUERIES["q195_cusum_event_volumes"](spark, SF_DIR)
    plan = _executed_plan(df)
    import re

    specs = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert specs, plan  # regex must actually see the Window nodes
    for spec in specs:
        assert "event_type" in spec, plan
    assert "partial_count" in plan  # daily counts combine map-side


def test_q196_novelty_single_shingle_shuffle(spark):
    """Novelty is one shingle-keyed equi-join: no window, no cartesian,
    map-side partial counts on both the df table and the per-doc agg."""
    df = QUERIES["q196_ngram_novelty"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_q197_benford_digit_scan_side_two_narrow_aggs(spark):
    """Benford audit reads ONE column (pruned scan), digit extraction is
    scan-side, both aggregates partial-combine map-side."""
    df = QUERIES["q197_benford_first_digit"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "partial_count" in plan
    assert "Window" not in plan
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert schemas and all(s == "l_extendedprice:double" for s in schemas), schemas


def test_q198_welch_pair_join_is_broadcast(spark):
    """The 3-row moment self-join must broadcast (never sort-merge) and
    the moments must partial-aggregate map-side."""
    df = QUERIES["q198_welch_pairs"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_q199_leadlag_series_joins_broadcast(spark):
    """Lead-lag correlation joins calendar-bounded per-type series —
    both the lag spine and the b-side series must broadcast; no
    sort-merge join, no cartesian against the raw events."""
    df = QUERIES["q199_leadlag_correlation"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan


def test_q200_delete_propagation_semi_joins(spark):
    """Every cascade hop must be a LEFT SEMI join (never inner+distinct
    or a count-in-driver), and the total counts partial-aggregate."""
    df = QUERIES["q200_delete_propagation"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert plan.count("LeftSemi") >= 3
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_q201_skew_doctor_rank_is_two_phase(spark):
    """The key-frequency global rank must be the range-bucketed
    two-phase rank: every row_number window partitions by the value
    bucket, and offsets broadcast back (q94 discipline on a
    key-cardinality-sized frame)."""
    df = QUERIES["q201_join_key_skew_doctor"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(__b" in line, line
    assert "BroadcastExchange" in plan


def test_q205_attribution_range_join_is_equi(spark):
    """The touch range join must be the bucketed equi-join — never a
    nested-loop range join; credit windows partition per purchase."""
    df = QUERIES["q205_multitouch_attribution"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(purchase_id" in plan
    assert "SinglePartition" not in plan


def test_q206_delay_quantiles_are_range_bucketed(spark):
    """Grouped delay quantiles must ride the range-bucketed rank:
    every row_number window partitions by (group, value-bucket), and
    no whole-group percentile buffer appears."""
    df = QUERIES["q206_shipping_delay_profile"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "percentile" not in plan.lower()
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "__b" in line, line


def test_q244_ranks_are_bucket_partitioned(spark):
    """Both layout ranks in the Z-order audit must come from the
    two-phase machinery: every row_number window partitions by the
    range bucket, never a global sort."""
    df = QUERIES["q244_zorder_layout_audit"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(__b" in line, line


def test_q252_feature_ranks_are_grouped_two_phase(spark):
    """Feature decile ranks partition by (feature, bucket)."""
    df = QUERIES["q252_feature_iv"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(feature" in line, line


def test_q258_migration_ranks_are_grouped_two_phase(spark):
    """Per-half revenue ranks partition by (__h, bucket) — the decile
    machinery never single-task-sorts the user dimension."""
    df = QUERIES["q258_value_decile_migration"](spark, SF_DIR)
    plan = _executed_plan(df)
    for line in plan.splitlines():
        if "row_number()" in line:
            assert "windowspecdefinition(__h" in line, line


def test_q253_norm_joins_broadcast(spark):
    """Item norms (bounded by the item vocabulary) broadcast into the
    cosine finish — the only shuffle joins are the user-keyed pair
    generation."""
    df = QUERIES["q253_item_cosine_cf"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "BroadcastHashJoin" in plan


def test_q247_fanout_is_bounded_explode(spark):
    """The rolling-distinct plan carries the 7-way explode + dedupe —
    no windowed distinct, no users² join."""
    df = QUERIES["q247_sliding_distinct_users"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "Generate explode" in plan or "explode" in plan
    assert "SortMergeJoin" not in plan.split("Generate")[0]


def test_pq_serving_path_uses_broadcast_codebook_frames(spark):
    """VERDICT r6 #2: PQ/IVF serving codebooks travel as broadcast
    DataFrames, never as per-query literal-LUT plan branches. q84's ADC
    stage is ONE BroadcastNestedLoopJoin of the coded corpus with the
    |Q|-row LUT frame (no equi key exists between query set and corpus);
    q85's probe stage is a BroadcastHashJoin on the probed ``cell`` key.
    Neither plan contains the old |Q|-way Union of literal branches."""
    q84 = QUERIES["q84_pq_adc_topk"](spark, SF_DIR)
    plan84 = _executed_plan(q84)
    assert "BroadcastNestedLoopJoin" in plan84
    assert "Union" not in plan84
    q85 = QUERIES["q85_ivfpq_topk"](spark, SF_DIR)
    plan85 = _executed_plan(q85)
    assert "BroadcastHashJoin" in plan85 and "[cell" in plan85
    assert "Union" not in plan85


def test_q308_cumsum_windows_are_bucket_partitioned(spark):
    """The Heaps-fit cumulatives must come from the grouped two-phase
    cumsum: the running-sum windows partition by (group, __b bucket) —
    never by the group alone over data rows (a 10^9-doc source would
    be one window partition)."""
    df = QUERIES["q308_heaps_law_fit"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "__b" in plan  # bucketing engaged
    for line in plan.splitlines():
        if "windowspecdefinition(__g" in line:
            # every group-partitioned window also carries the bucket
            # key OR orders by the bucket id (the <=n_buckets offsets
            # window) — never (group) over raw doc order
            assert "__b" in line, line


def test_q309_outliers_take_ordered_and_broadcast_stats(spark):
    """Mahalanobis outliers: per-dim stats ride a broadcast single-row
    frame (no shuffle into the scoring scan) and the global top-k is a
    TakeOrdered, not a full sort."""
    df = QUERIES["q309_embedding_outliers"](spark, SF_DIR)
    plan = _executed_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row stats crossJoin


def test_q38_postings_digest_is_two_level_tree(spark):
    """The postings digest must never collect a term's full doc-id list
    in one buffer (stopword at 10^9 docs = one-task OOM): every
    collect_list over doc ids is grouped by (term, __b bucket), and the
    term-level aggregate only collects the <=B bucket digests."""
    df = QUERIES["q38_vocabulary"](spark, SF_DIR)
    plan = _executed_plan(df)
    saw_bucketed, saw_bucket_digest = False, False
    for line in plan.splitlines():
        if "collect_list(doc_id" in line:
            # the grouping keys precede functions=[...] on the agg line
            assert "__b" in line.split("functions=")[0], line
            saw_bucketed = True
        if "collect_list(__bdig" in line:
            saw_bucket_digest = True
    assert saw_bucketed and saw_bucket_digest, plan[:2000]


def _query_jobs(spark, name) -> int:
    """Spark jobs one query runs from build through ``toPandas()``,
    counted through a job group."""
    sc = spark.sparkContext
    group = f"job-count-{name}"
    sc.setJobGroup(group, name)
    try:
        QUERIES[name](spark, SF_DIR).toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name", ["q245_markov_stationary", "q267_absorption_prob"]
)
def test_markov_fixed_points_run_a_bounded_number_of_jobs(spark, name):
    """The Markov fixed points collect their transition table once and
    iterate on the driver: build through ``toPandas()`` stays within 10
    Spark jobs, however many steps they take. An in-plan unrolled loop
    nests one broadcast join per step and runs 50-75 jobs here."""
    jobs = _query_jobs(spark, name)
    assert 0 < jobs <= 10, (name, jobs)


@pytest.mark.parametrize(
    "name", ["q58_dedup_components", "q138_dup_graph_pagerank"]
)
def test_dup_graph_fixed_points_run_a_bounded_number_of_jobs(spark, name):
    """The dup-graph fixed points collect their edge list once and, as
    it fits ``DRIVER_GRAPH_CAP``, iterate on the driver: build through
    ``toPandas()`` stays within 25 Spark jobs. The Spark loops run
    45 (q58) and 55 (q138) jobs here."""
    jobs = _query_jobs(spark, name)
    assert 0 < jobs <= 25, (name, jobs)

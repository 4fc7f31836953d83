"""Physical-plan assertions: the optimizations SURVEY.md §4 promises must
actually appear in the executed plans (pushdown, broadcast, codegen,
partial aggregation). These guard against regressions that stay correct
but stop scaling."""

from __future__ import annotations

import pytest

from osm2orc_spark.registry import all_queries

QUERIES = all_queries()


def plan_of(spark, sf, name: str, execute: bool = False) -> str:
    import contextlib
    import io

    df = QUERIES[name].fn(spark, sf)
    if execute:
        # AQE finalizes the physical plan (and picks codegen stages) only
        # once the query runs; explain() before an action shows isFinalPlan=false.
        df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_nodes(plan):
    """Every node of a JVM physical plan, pre-order.  An adaptive plan
    and its query stages are leaves that hold their subtree aside; the
    walk steps into it."""
    yield plan
    kind = plan.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        seq = plan.children()
        kids = [seq.apply(i) for i in range(seq.size())]
    for kid in kids:
        yield from plan_nodes(kid)


def test_filter_pushdown_reaches_scan(spark, sf_correctness):
    # q6's shipdate/discount/quantity predicates must reach the parquet scan
    plan = plan_of(spark, sf_correctness, "q6_forecast_revenue")
    assert "PushedFilters:" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l][0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed


def test_column_pruning(spark, sf_correctness):
    # q1 reads 7 of 11 lineitem columns; ReadSchema must not include keys
    plan = plan_of(spark, sf_correctness, "q1_pricing_summary")
    read = [l for l in plan.splitlines() if "ReadSchema:" in l][0]
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read


def test_broadcast_join_for_dimensions(spark, sf_correctness):
    plan = plan_of(spark, sf_correctness, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan


def test_semi_anti_join_strategies(spark, sf_correctness):
    plan = plan_of(spark, sf_correctness, "anti_join_customers_without_orders")
    assert "LeftAnti" in plan
    plan = plan_of(spark, sf_correctness, "semi_join_customers_with_open_orders")
    assert "LeftSemi" in plan


def test_partial_aggregation(spark, sf_correctness):
    # map-side partial + final HashAggregate pairs
    plan = plan_of(spark, sf_correctness, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen(spark, sf_correctness):
    plan = plan_of(spark, sf_correctness, "q1_pricing_summary", execute=True)
    # formatted explain marks whole-stage-codegen nodes as "* Op [codegen id: N]"
    assert "codegen id" in plan


def test_no_cartesian_in_composite_join(spark, sf_correctness):
    plan = plan_of(spark, sf_correctness, "composite_key_self_join")
    assert "CartesianProduct" not in plan


def test_osm_bbox_pushdown(spark, sf_correctness):
    plan = plan_of(spark, sf_correctness, "osm_changesets_liberty_island")
    assert "PushedFilters:" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l][0]
    assert "min_lon" in pushed


def test_pack_sequences_window_is_sharded_not_global(spark, sf_correctness):
    # the running-sum window must partition by shard: a global (empty
    # partitionBy) window would plan Exchange SinglePartition and
    # serialize the cumsum on one task at scale
    plan = plan_of(spark, sf_correctness, "curation_pack_sequences")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(shard" in plan


def test_stratified_sample_prunes_to_two_columns(spark, sf_correctness):
    # the sample predicate needs only doc_id; output adds lang — text
    # (the wide column) must not be read
    plan = plan_of(spark, sf_correctness, "curation_stratified_sample")
    read = [l for l in plan.splitlines() if "ReadSchema:" in l][0]
    assert "text" not in read
    assert "doc_id" in read and "lang" in read


def test_simhash_signature_single_exchange(spark, sf_correctness):
    """Per-doc token dedup runs inside the row (array_distinct before the
    explode), so the whole signature pipeline needs exactly one exchange:
    the initial doc_id repartition, which the groupBy then reuses."""
    df = QUERIES["simhash_signature"].fn(spark, sf_correctness)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-adaptive "Initial Plan" section;
    # count exchanges only in the final plan above it.
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, final[:2000]


def test_snapshot_timestamp_pushdown(spark, sf_correctness):
    # the as-of-T predicate must reach the parquet scan so row groups
    # past T are skipped on min/max stats
    plan = plan_of(spark, sf_correctness, "osm_snapshot_at")
    pushed = [l for l in plan.splitlines() if "PushedFilters:" in l][0]
    assert "timestamp" in pushed


def test_runtime_bloom_filter_injected_on_selective_join(spark, sf_correctness):
    """A selective filter on one shuffle-join side must inject a runtime
    bloom filter on the other side's scan (Spark's runtime row filtering):
    at 100 TB the probe side skips shuffling rows whose keys can't match.
    Thresholds are lowered so the tiny test input qualifies."""
    from pyspark.sql import functions as F

    bf_conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle join
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    saved = {k: spark.conf.get(k, None) for k in bf_conf}
    for k, v in bf_conf.items():
        spark.conf.set(k, v)
    try:
        orders = spark.read.parquet(f"{sf_correctness}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        lineitem = spark.read.parquet(f"{sf_correctness}/lineitem.parquet")
        joined = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderpriority").agg(F.sum("l_quantity"))
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan or "BloomFilter" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dfcap_exclusion_is_df_joinback_not_forced_broadcast(spark, sf_correctness):
    # r10: the df cap applies as an equi-join back to the per-shingle df
    # aggregate + filter — under an absolute cap the over-cap set is the
    # m/cap vocabulary tail, so a forced-broadcast anti-join against it
    # would ship an unbounded build side at corpus scale.  Pin: no
    # LeftAnti anywhere, no ResolvedHint surviving to the physical plan,
    # and the join-back stays key-equi (no nested-loop fallback).
    for name in ("dedup_minhash_lsh_dfcap", "dedup_containment_pairs"):
        plan = plan_of(spark, sf_correctness, name)
        assert "LeftAnti" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_pair_distinct_rides_verify_distribution(spark, sf_correctness):
    """r15: the candidate pair-distinct rides the verify stage's doc_a
    repartition — HashPartitioning(doc_a) satisfies the distinct's
    ClusteredDistribution([doc_a, doc_b]) and the verify joins' doc_a
    clustering, so no exchange keyed by BOTH pair columns may survive
    (the old spelling paid a (doc_a, doc_b) distinct exchange AND a
    doc_a repartition over the same rows).  Offenders are matched on
    the exchange's partitioning expression list, not on the whole plan
    line."""
    import re

    exchange = re.compile(r"Exchange hashpartitioning\(([^)]*)\)")
    for name in (
        "dedup_ppjoin",
        "dedup_minhash_lsh",
        "dedup_containment_ppjoin",
        "dedup_containment_pairs",
        "dedup_ngram_jaccard",
        "dedup_minhash_calibration",
    ):
        df = QUERIES[name].fn(spark, sf_correctness)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        offenders = []
        for exprs in exchange.findall(final):
            cols = {re.sub(r"#\d+L?$", "", e.strip()) for e in exprs.split(",")}
            if {"doc_a", "doc_b"} <= cols:
                offenders.append(exprs)
        assert not offenders, f"{name}: pair-keyed exchange survived: {offenders}"
        assert "REPARTITION_BY_NUM" in final, name  # the fused doc_a exchange
        spark.catalog.clearCache()


def test_aqe_splits_skewed_join_partitions(spark, sf_correctness):
    """AQE skew-join must kick in on a pathologically skewed key: one key
    holding ~99% of rows would otherwise pin the whole sort-merge join on
    one task. Thresholds are lowered to make the tiny test input exhibit
    what a hot LSH bucket / hot user_id does at production scale."""
    from pyspark.sql import functions as F

    skew_conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        # the downstream rollup reuses the join's hash partitioning, so
        # Spark would skip the split to avoid an extra shuffle; force it —
        # one extra shuffle beats a straggler task holding 99% of the rows
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in skew_conf}
    for k, v in skew_conf.items():
        spark.conf.set(k, v)
    try:
        # payload is an md5 string: incompressible, so the hot partition's
        # shuffle blocks are actually large (skew detection reads the
        # compressed map-output sizes)
        left = spark.range(400_000).select(
            F.when(F.col("id") % 100 < 99, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(2_000).select(
            F.col("id").alias("k"), F.col("id").alias("dim")
        )
        joined = left.join(right, "k").groupBy("k").agg(F.max("payload"))
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name",
    [
        "dedup_exact",
        "text_token_stats",
        "doc_fingerprint",
        "lang_id_heuristic",
        "text_quality_scores",
        "simhash_signature",
        "dedup_minhash_lsh",
        "embedding_near_dup_lsh",
        "ann_topk_bruteforce",
        "asof_join_last_purchase",
        "salted_hot_key_agg",
        "window_rank_suite",
    ],
)
def test_no_python_udf_in_builtin_operators(spark, sf_correctness, name):
    # these stay entirely JVM-side (no BatchEvalPython / ArrowEvalPython)
    plan = plan_of(spark, sf_correctness, name)
    assert "EvalPython" not in plan


def test_fuzzy_name_match_no_cartesian(spark, sf_correctness):
    # blocking + sorted neighborhood must plan as an equi-join on blk
    # with the rank band as a post-join filter -- never a cartesian
    plan = plan_of(spark, sf_correctness, "fuzzy_name_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_matryoshka_shortlist_is_takeordered(spark, sf_correctness):
    # both the prefix shortlist and the final top-k must be TakeOrdered
    # (never a global sort of the corpus)
    plan = plan_of(spark, sf_correctness, "ann_matryoshka_rerank")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "Sort [" not in plan or "TakeOrderedAndProject" in plan


def test_duplicate_spans_stays_jvm_side(spark, sf_correctness):
    plan = plan_of(spark, sf_correctness, "dedup_duplicate_spans")
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_shuffle_shards_single_window_exchange(spark, sf_correctness):
    # one hash projection + one window partitioned by shard: the plan
    # must contain exactly one shuffle (per-shard sort, never global)
    plan = plan_of(spark, sf_correctness, "corpus_shuffle_shards")
    import re

    exchanges = {
        m.group(0)
        for m in re.finditer(r"Exchange hashpartitioning\([^)]*\)", plan)
    }
    assert len(exchanges) <= 1
    assert "rangepartitioning" not in plan  # a global sort would show this


def test_ohlc_single_exchange_no_window_sort(spark, sf_correctness):
    """OHLC bars must plan as ONE exchange with partial/final aggregates
    (min_by/max_by are partial-aggregable) — no Window operator, whose
    per-partition sort is the thing the operator exists to avoid."""
    plan = plan_of(spark, sf_correctness, "ohlc_hourly_bars")
    body = plan.split("===== Subqueries =====")[0]  # ignore subquery trees
    assert "Window" not in body
    assert body.count("HashAggregate") + body.count("SortAggregate") >= 2
    # one data exchange for the groupBy + one for the final orderBy range
    # partitioning — but never more (") Exchange" counts each node once;
    # formatted explain also repeats nodes in the tree header)
    assert body.count(") Exchange") <= 2


def test_anomaly_zscore_stats_join_is_broadcast(spark, sf_correctness):
    """The per-type sufficient-statistics table must come back as a
    BROADCAST join onto the fact scan — shuffling events by event_type
    (5 hot keys) would be the skewed-shuffle anti-pattern."""
    plan = plan_of(spark, sf_correctness, "anomaly_zscore_events")
    assert "BroadcastHashJoin" in plan


def test_ppjoin_no_cartesian_and_partial_aggs(spark, sf_correctness):
    plan = plan_of(spark, sf_correctness, "dedup_ppjoin")
    assert "CartesianProduct" not in plan
    # df (r7): groupBy(shingle).count() + equi-join back, NEVER a window
    # partitioned by shingle — the window has no map-side partial
    # aggregation and AQE cannot split a window partition, so a hot
    # boilerplate shingle (df 10^7 at 100 TB) stalls one task.  The
    # groupBy must show partial_count and the join-back must be a plain
    # equi-join (skew-splittable).
    assert "windowspecdefinition(shingle" not in plan
    assert "partial_count" in plan
    # late r8: prefix ranks come from posexplode over the persisted
    # df-ordered arrays — NO window of any kind remains (the former
    # doc_id row_number window sorted the full shingle x df join stream
    # in unsplittable per-doc tasks; the replacement is a
    # map-side-combinable collect_list + per-row array_sort).
    assert "windowspecdefinition" not in plan
    assert "posexplode" in plan
    # partial collect_list phase of the ordered-array build
    assert "partial_collect_list" in plan or "objHashAggregate" in plan
    # verification (r8): in-task array_intersect over the per-doc shingle
    # arrays — never the fan-out shape (two shuffle joins over exploded
    # shingles + a groupBy(doc_a, doc_b) agg, five exchanges at fan-out
    # scale; measured 0.61x end-to-end at sf0.1, bit-identical output).
    assert "array_intersect" in plan


def test_rp_lsh_no_cartesian(spark, sf_correctness):
    # candidate generation must be an equi-join on (c, cv) chunk values;
    # the verify join keys on candidate pair ids — never a cartesian
    plan = plan_of(spark, sf_correctness, "embedding_near_dup_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_ppjoin_no_cartesian(spark, sf_correctness):
    # prefix x full-list candidate generation must plan as a shingle
    # equi-join (prefix side pruned by the rank filter) — never a
    # cartesian or nested-loop join
    plan = plan_of(spark, sf_correctness, "dedup_containment_ppjoin")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # same r7 skew pin as dedup_ppjoin: df is a partial-aggregated
    # groupBy + equi-join back, never a shingle-partitioned window
    assert "windowspecdefinition(shingle" not in plan
    assert "partial_count" in plan
    # late r8: posexplode rank over df-ordered arrays, no window at all
    # (see the dedup_ppjoin pin)
    assert "windowspecdefinition" not in plan
    assert "posexplode" in plan
    # r8: verification is in-task array_intersect (see dedup_ppjoin pin)
    assert "array_intersect" in plan


def test_canonical_docs_is_aggregate_not_component_window(spark, sf_correctness):
    """curation_canonical_docs picks each cluster's survivor with a
    map-side-combinable max(struct(quality, -doc_id)) aggregate.  A
    row_number window partitioned by component would sort a whole
    cluster in one unsplittable task — and boilerplate clusters at
    100 TB hold 10^6+ members (the same hot-key argument that retired
    the shingle-df and span windows in r6/r7)."""
    plan = plan_of(spark, sf_correctness, "curation_canonical_docs")
    assert "windowspecdefinition(component" not in plan
    # partial + final max(struct) — SortAggregate (struct buffers are
    # not hash-aggregable) but WITH a partial phase, unlike any window
    assert "partial_max" in plan
    assert "max(struct(quality_score" in plan


def _assert_bounded_rank_cap(plan: str, group: str) -> None:
    # ONE row_number window per rank cap, and the rank filter's literal
    # conjunct must have turned on WindowGroupLimit: the partial node
    # below the exchange forwards at most cap rows per group per map
    # task (the window analogue of map-side combine), so the hot
    # group's partition is bounded by cap*tasks, never by its data
    # size. A bare quota-column filter gets NO pruning and sorts the
    # whole hot group in one unsplittable task — the ``window_quota``
    # shape of the rank_cap_crossover records in SCALING_SKEW.jsonl.
    assert f"windowspecdefinition({group}" in plan
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_source_cap_bounded_rank(spark, sf_correctness):
    plan = plan_of(spark, sf_correctness, "curation_source_cap")
    _assert_bounded_rank_cap(plan, "source")


def test_temperature_mix_bounded_rank(spark, sf_correctness):
    """lang is the worst window key — a handful of values each holding a
    constant corpus fraction. The quota rank filter must carry the
    literal MIX_TARGET conjunct so WindowGroupLimit prunes map-side."""
    plan = plan_of(spark, sf_correctness, "curation_temperature_mix")
    _assert_bounded_rank_cap(plan, "lang")


def test_training_mix_bounded_rank_and_no_component_window(spark, sf_correctness):
    plan = plan_of(spark, sf_correctness, "curation_training_mix")
    _assert_bounded_rank_cap(plan, "lang")
    # the embedded canonical-docs stage must keep its aggregate shape
    assert "windowspecdefinition(component" not in plan


def test_event_windows_share_user_exchange(spark, sf_correctness):
    """event_run_islands computes two row_numbers over (user_id) and
    (user_id, event_type); the second must reuse the first's hash
    partitioning rather than re-exchange."""
    plan = plan_of(spark, sf_correctness, "event_run_islands")
    body = plan.split("===== Subqueries =====")[0]
    # exchanges: ONE hashpartitioning(user_id) shared by both windows AND
    # the groupBy (its (user_id, event_type, isl) keys are a superset of
    # the existing user_id partitioning), plus the final orderBy range
    # partitioning
    assert body.count(") Exchange") <= 2


def test_dsir_score_table_broadcast(spark, sf_correctness):
    """curation_dsir_select joins the 4096-row bucket-score table into the
    corpus-sized feature stream; that join must be a broadcast hash join
    (never a shuffled join keyed on the feature stream), and the top-k
    selection must be a TakeOrdered, not a global sort window."""
    plan = plan_of(spark, sf_correctness, "curation_dsir_select")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "EvalPython" not in plan


def test_quality_classifier_single_shuffle_jvm_side(spark, sf_correctness):
    """text_quality_classifier is scan + explode + ONE groupBy(doc_id):
    exactly one exchange, partial aggregation before it, no Python."""
    plan = plan_of(spark, sf_correctness, "text_quality_classifier")
    body = plan.split("===== Subqueries =====")[0]
    assert body.count(") Exchange") == 1
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    assert "EvalPython" not in plan


def test_prototype_prune_centroids_broadcast(spark, sf_correctness):
    """embedding_prototype_prune must broadcast the 10-row prototype table
    to the corpus scan (zip_with scoring, no join against the exploded
    corpus) — the corpus-sized joins are all BroadcastHashJoin."""
    plan = plan_of(spark, sf_correctness, "embedding_prototype_prune")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_prototype_prune_two_level_rank(spark, sf_correctness):
    """The exposed per-label rank is the r7 two-level bucket rank: bucket
    counts via a partial-aggregated groupBy(label, cos_q6); the offset /
    n_label windows run over that GRID-BOUNDED counts table; the residual
    row_number partitions by (label, cos_q6) — exact score ties only.
    NO corpus-sized window keyed by bare label may remain (a majority
    label would sort through one unsplittable task), and n_label must
    not be count(*) OVER (PARTITION BY label) on the corpus — the r6
    shingle-df anti-pattern."""
    plan = plan_of(spark, sf_correctness, "embedding_prototype_prune")
    assert "partial_count" in plan
    # exactly three windows: exclusive running-sum + label total (both
    # over the bounded counts table) + the (label, cos_q6) residual rank
    assert plan.count("windowspecdefinition(") == 3
    # the shared scored frame must be cached, not re-planned per consumer
    assert "InMemoryTableScan" in plan


def test_scd2_shares_user_exchange(spark, sf_correctness):
    """scd2_user_value_bands derives lag/row_number/count and the interval
    lead window all partitioned by user_id: ONE hashpartitioning(user_id)
    exchange for the whole build (the change-point filter between the two
    window groups preserves partitioning)."""
    plan = plan_of(spark, sf_correctness, "scd2_user_value_bands")
    body = plan.split("===== Subqueries =====")[0]
    assert body.count(") Exchange") == 1
    assert "EvalPython" not in plan


def test_epoch_mix_no_shuffle(spark, sf_correctness):
    """curation_epoch_mix is scan + per-row expressions + sequence-explode:
    zero exchanges — the replication never shuffles."""
    plan = plan_of(spark, sf_correctness, "curation_epoch_mix")
    body = plan.split("===== Subqueries =====")[0]
    assert body.count(") Exchange") == 0
    assert "Generate explode" in body or "Generate" in body
    assert "EvalPython" not in plan


def test_hamming_topk_two_takeordered_no_explode(spark, sf_correctness):
    """ann_topk_hamming packs sign bits with a JVM aggregate (no explode
    of the corpus), broadcasts the one-row query, and ranks both stages
    with TakeOrdered — never a global sort of the corpus."""
    plan = plan_of(spark, sf_correctness, "ann_topk_hamming")
    assert plan.count("TakeOrderedAndProject") >= 2
    # the only join is the broadcast one-row query side (BNLJ is fine
    # there); a corpus-sized CartesianProduct is not
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


def test_contamination_report_shingle_equijoin(spark, sf_correctness):
    """curation_contamination_report joins test x train shingle streams:
    must plan as a shingle equi-join with partial aggregation — never a
    cartesian/nested-loop join."""
    plan = plan_of(spark, sf_correctness, "curation_contamination_report")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan


def test_ivfpq_probe_no_join_before_shortlist(spark, sf_correctness):
    """ann_ivfpq_probe's cluster id and ADC score are literal-argmin/LUT
    expressions over the scan — the plan must contain NO join at all
    (centroids, codebooks, probe set, and query are baked in as
    literals) and rank both the shortlist and the re-rank with
    TakeOrdered, never a global sort."""
    plan = plan_of(spark, sf_correctness, "ann_ivfpq_probe")
    assert "Join" not in plan
    assert "Exchange" not in plan  # TakeOrdered collects; nothing shuffles
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "EvalPython" not in plan


def test_pq_adc_join_free_scan(spark, sf_correctness):
    """ann_pq_adc codes + ADC-scores the corpus with literal expressions
    only — no join, no exchange before the TakeOrdered shortlist, and
    the interpreted distance arrays live in their own projection."""
    plan = plan_of(spark, sf_correctness, "ann_pq_adc")
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "EvalPython" not in plan


def test_dim_stats_partial_agg(spark, sf_correctness):
    """embedding_dim_stats must partial-aggregate map-side (64 groups per
    partition cross the exchange, not the exploded element stream)."""
    plan = plan_of(spark, sf_correctness, "embedding_dim_stats")
    assert "partial" in plan.lower()
    assert "EvalPython" not in plan


def test_fit_sample_cut_is_take_ordered(spark, sf_correctness):
    """The bounded Lloyd's-fit training cut (r5) must compile to
    TakeOrderedAndProject over the scan — per-partition top-m then a
    driver merge of m rows, NO exchange and NO global sort.  A plan
    regression here turns the bounded collect back into a full-corpus
    sort at 100 TB."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from osm2orc_spark.operators.similarity import MAX_FIT_ROWS, _quant
    from osm2orc_spark.tables import load

    emb = load(spark, sf_correctness, "embeddings")
    sel = (
        emb.select(
            "vec_id",
            F.md5(F.col("vec_id").cast("string")).alias("h"),
            _quant(F.col("embedding")).alias("qv"),
        )
        .orderBy("h", "vec_id")
        .limit(MAX_FIT_ROWS)
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sel.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_duplicate_spans_dup_filter_is_skew_safe_agg(spark, sf_correctness):
    """The >=2-distinct-docs filter (r6) is min(doc_id) != max(doc_id)
    via groupBy + semi-join back, NOT a window over span: groupBy gets
    map-side combine (partial_min/partial_max must appear in the plan),
    so a hot boilerplate span ships ~one row per task instead of landing
    every occurrence in one unsplittable window partition.  No Expand
    node (no two-phase distinct machinery), and the join-back must be a
    semi join on span — the skew-splittable/broadcastable shape."""
    plan = plan_of(spark, sf_correctness, "dedup_duplicate_spans")
    assert "Expand" not in plan
    assert "partial_min" in plan and "partial_max" in plan
    assert "LeftSemi" in plan
    # the only Window node allowed is the doc_id-partitioned island merge
    # (row_number over doc_id) — never a window partitioned by span
    assert "windowspecdefinition(span" not in plan


def test_ivf_assign_is_partial_maxby_not_window(spark, sf_correctness):
    """r7 verdict #6 (as amended r9): the per-vector best-centroid
    assignment must never be a row_number window over the n x k
    assignment frame.  ann_ivf_index_stats keeps the map-side
    max_by aggregate (partial_max_by pre-combines to one row per vector
    per task before the exchange); ann_ivf_probe moved further in r9 —
    the assignment runs inside the Arrow kernel, so its plan has NO
    assignment join/exchange at all (mapInArrow scan straight into the
    TakeOrdered; collect-identical to the max_by reference form,
    test_ann_ivf_probe_vectorized_equals_expr)."""
    plan = plan_of(spark, sf_correctness, "ann_ivf_index_stats")
    assert "partial_max_by" in plan, "ann_ivf_index_stats: no partial max_by"
    assert "windowspecdefinition(vec_id" not in plan
    probe_plan = plan_of(spark, sf_correctness, "ann_ivf_probe")
    assert "MapInArrow" in probe_plan or "mapInArrow" in probe_plan.lower()
    assert "windowspecdefinition(vec_id" not in probe_plan
    assert "Join" not in probe_plan.split("\n\n")[0], (
        "ann_ivf_probe: the kernel plan regained a join"
    )
    assert "TakeOrderedAndProject" in probe_plan


def test_dsir_persists_shared_frames(spark, sf_correctness):
    """r8: curation_dsir_select's feats and weights frames each feed two
    consumers; without the persists Catalyst plans the tokenize+explode
    subtree 4x (audit_scans; measured 1.9x at sf0.1). The plan must show
    the caches and at most one raw documents scan."""
    plan = plan_of(spark, sf_correctness, "curation_dsir_select")
    tree = plan.split("\n\n")[0]
    # Both shared frames cached, each read by its two consumers: >= 4
    # InMemoryTableScan nodes.  (Raw "Scan parquet" counts in the tree
    # are NOT the execution count here — explain() re-prints every
    # InMemoryRelation's cached build plan inline, audit_scans' caveat.)
    assert tree.count("InMemoryTableScan") >= 4, "dsir persists regressed"
    # and the explode feeds a cache, not a live recompute branch
    assert "InMemoryRelation" in tree and "Generate" in tree


def test_refined_variants_broadcast_hot_tables_no_cartesian(
    spark, sf_correctness, monkeypatch
):
    """The late-r8 refined scale paths: the hot-bucket membership
    tables (bounded at 2,048 / 16,384 rows at ANY corpus size) must be
    BROADCAST into the anti/semi routing joins, and no shape may fall
    back to a cartesian product.  The LSH side is the registered
    query's refined branch, reached by seeding its memoized max-bucket
    probe above the default cap."""
    import contextlib
    import io
    import os

    from osm2orc_spark.operators import similarity, switches
    from osm2orc_spark.operators.dedup import simhash_near_dup_refined

    def lsh_refined(spark, sf_dir):
        key = (os.path.abspath(sf_dir), "lsh_max_bucket")
        monkeypatch.setitem(
            switches._PROBE_CACHE, key, similarity.LSH_BUCKET_CAP + 1
        )
        return QUERIES["embedding_near_dup_lsh"].fn(spark, sf_dir)

    for fn in (lsh_refined, simhash_near_dup_refined):
        df = fn(spark, sf_correctness)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__
        # candidate generation must stay a key-equi join (at sf0.01 the
        # planner broadcasts EVERY join side, so the pin is the absence
        # of a non-equi fallback, not a specific shuffle strategy)
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__


def test_decon_factored_no_window_no_cartesian(spark, sf_correctness, monkeypatch):
    """The r10 factored decontamination path (forced via threshold -> -1):
    the union counter must stay window-free (no unsplittable per-key
    sort anywhere — the whole point of the rewrite) and every join must
    remain key-equi (a cartesian/nested-loop fallback would reintroduce
    the pair fan-out it removes)."""
    from osm2orc_spark.operators import switches

    monkeypatch.setattr(switches, "DECON_FLAT_PAIRS_MAX", -1)
    switches.probe_cache_clear()
    try:
        for name in ("curation_decontaminate", "curation_contamination_report"):
            plan = plan_of(spark, sf_correctness, name)
            assert "Window" not in plan, name
            assert "CartesianProduct" not in plan, name
            assert "BroadcastNestedLoopJoin" not in plan, name
    finally:
        switches.probe_cache_clear()


def test_chunked_rank_windows_keyed_by_chunk(spark, sf_correctness, monkeypatch):
    """The r10 chunked spellings of pack_sequences / corpus_shuffle_shards
    (forced): the DATA window must partition by (shard, chunk) — only the
    bounded per-chunk SUMMARY window may key on shard alone — and no
    window may collapse to a single partition."""
    from osm2orc_spark.operators import switches

    monkeypatch.setattr(switches, "HOT_KEY_ROWS", -1)
    switches.probe_cache_clear()
    try:
        for name in ("curation_pack_sequences", "corpus_shuffle_shards"):
            plan = plan_of(spark, sf_correctness, name)
            assert "SinglePartition" not in plan, name
            assert "hashpartitioning(shard" in plan, name
            assert "_chunk" in plan, name
            # the row-level window sorts within (shard, _chunk): every
            # windowspec in the plan keys on shard first with _chunk as
            # either the second partition column (data window) or the
            # order column (bounded summary window)
            import re

            specs = re.findall(r"windowspecdefinition\(shard#\d+L, _chunk#\d+L", plan)
            assert specs, name
            assert plan.count("windowspecdefinition") == len(specs), name
    finally:
        switches.probe_cache_clear()


def test_semdedup_plan_linear_tail(spark, sf_correctness):
    """curation_semdedup's post-kNN tail must stay linear: no cartesian,
    the per-vector aggregation runs with a partial (map-side) phase, and
    the only window in the plan is the kNN join's own bounded per-vector
    merge (the greedy tail itself is window-free)."""
    plan = plan_of(spark, sf_correctness, "curation_semdedup")
    assert "CartesianProduct" not in plan
    assert "Union" in plan  # the edge symmetrization
    # exactly the kNN subtree's single merge window, none added
    assert plan.count("[Window]") <= 1
    # the groupBy(vec_id) aggregate has a partial phase
    assert "partial_min" in plan or "HashAggregate" in plan


def test_changeset_discussions_pruned_scan_no_join(spark, sf_correctness):
    """r13: the discussion rollup must read ONLY id/uid/comments from the
    nested parquet (no full changeset schema), keep the explode a narrow
    Generate (no join anywhere), and aggregate partially map-side."""
    plan = plan_of(spark, sf_correctness, "osm_changeset_discussions")
    read = [l for l in plan.splitlines() if "ReadSchema:" in l][0]
    assert "comments" in read and "uid" in read
    for absent in ("created_at", "min_lat", "num_changes", "tags"):
        assert absent not in read, f"{absent} not pruned from scan"
    assert "Join" not in plan
    assert "Generate" in plan and "posexplode" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_changeset_entities_pruned_scan_distinct_rewrite(spark, sf_correctness):
    """r13: the mixed-entity rollup must prune the scan to the seven
    consumed columns (nds/members/changeset/timestamp/user stay out of
    ReadSchema), stay join-free, and plan COUNT(DISTINCT id) as the
    standard distinct-aggregate rewrite (partial-distinct on (type,id)
    map-side — the doc's stated scale story)."""
    plan = plan_of(spark, sf_correctness, "osm_changeset_entities")
    read = [l for l in plan.splitlines() if "ReadSchema:" in l][0]
    for needed in ("type", "id", "lat", "lon", "uid", "tags", "version"):
        assert needed in read
    for absent in ("nds", "members", "changeset:", "timestamp", "user"):
        assert absent not in read, f"{absent} not pruned from scan"
    assert "Join" not in plan
    # distinct rewrite: partial on (type,id), merge, then per-type final
    assert plan.count("HashAggregate") >= 3
    assert "partial_" in plan


def test_pbf_decode_is_one_wave_without_exchange(spark):
    """read_pbf decodes min(blobs, defaultParallelism) contiguous slices
    of the blob index in one wave: no Exchange below the MapInArrow, and
    the blob refs come from a local relation, whose scan runs no Python."""
    import pathlib

    from osm2orc_spark.sources.pbf import read_pbf
    from osm2orc_spark.sources.pbf_codec import scan_blob_index

    pbf = str(pathlib.Path(__file__).resolve().parents[1] / "fixtures" / "tiny.osm.pbf")
    blobs = sum(1 for r in scan_blob_index(pbf) if r.kind == "OSMData")
    df = read_pbf(spark, pbf)
    df.collect()
    decode = [
        n for n in plan_nodes(df._jdf.queryExecution().executedPlan())
        if n.nodeName() == "MapInArrow"
    ]
    assert len(decode) == 1
    below = [n.nodeName() for n in plan_nodes(decode[0])][1:]
    assert not [n for n in below if "Exchange" in n], below
    assert below[-1] == "LocalTableScan", below
    assert df.rdd.getNumPartitions() == min(blobs, spark.sparkContext.defaultParallelism)

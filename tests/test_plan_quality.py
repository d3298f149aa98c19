"""Plan-quality regression tests: the properties the engine is designed
around must be visible in the physical plans (pushdown, pruning,
broadcast joins, no cartesian blowups). These guard against silent
regressions that would only show up at 100 TB."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from bbdc20_submission_spark import registry
from bbdc20_submission_spark.sources.harness import load_table

registry.load_all()


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    df = registry.QUERIES["p4_filter_project"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "PushedFilters: [IsNotNull(c_mktsegment)" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan
    # projection pruned to the 4 referenced columns, not SELECT *
    assert "c_name" in plan and "c_acctbal" in plan


def test_column_pruning_in_join_query(spark, sf_dir):
    df = registry.QUERIES["j1_equi_join_revenue"](spark, sf_dir)
    plan = formatted_plan(df)
    # lineitem scan must read only the 3 needed columns
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_dimension_joins_are_broadcast(spark, sf_dir):
    df = registry.QUERIES["j1_equi_join_revenue"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q1_aggregation_is_partial_then_final(spark, sf_dir):
    df = registry.QUERIES["a2_grouped_stats_q1"](spark, sf_dir)
    plan = formatted_plan(df)
    # map-side combine: two HashAggregates around one Exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_exact_dedup_never_shuffles_text(spark, sf_dir):
    df = registry.QUERIES["d1_exact_dedup"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "md5" in plan
    # the Exchange must carry only (hash, partial aggs) — never text
    sections = plan.split("\n\n")
    exchange_nodes = [s for s in sections if ") Exchange" in s]
    assert exchange_nodes, "no Exchange node found"
    for node in exchange_nodes:
        input_lines = [l for l in node.splitlines() if l.startswith("Input")]
        assert input_lines and all("text#" not in l for l in input_lines), node


def test_encode_suite_broadcasts_code_dim(spark, sf_dir):
    """a10_a11_encode joins the 5-row label-code dim onto the one-hot
    rows — must be a broadcast join, never a shuffle of the fact."""
    df = registry.QUERIES["a10_a11_encode"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sketch_suite_splits_distinct_and_percentile_aggs(spark, sf_dir):
    """The exact count-distincts must run as TWO-LEVEL partial
    aggregations (r8: groupBy(flag, key) then a flag-level count), so
    the plan has NO count-distinct Expand at all — an Expand would
    triple the exchanged fact rows and drag the percentile buffers
    with it (the pre-r8 split-agg form merely kept the Expand away
    from the percentile; see query doc for the measured history)."""
    df = registry.QUERIES["a_sketch_suite"](spark, sf_dir)
    plan = formatted_plan(df)
    assert ") Expand" not in plan, "count-distinct Expand reappeared"
    # the percentile agg is still its own grouped aggregate joined on
    # the group key, not fused under either distinct's aggregation
    assert "percentile" in plan.lower()


def test_sessionize_single_partitioning(spark, sf_dir):
    """The window and the groupBy share the user_id hash partitioning:
    no more than 2 exchanges total (1 compute + AQE final)."""
    df = registry.QUERIES["w6_sessionize_rle"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("Exchange") <= 2


def test_range_join_uses_broadcast_nested_loop(spark, sf_dir):
    df = registry.QUERIES["j_range_join_bins"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_d12_small_regime_plan_is_broadcast_label_join(spark, sf_dir):
    """Under the driver-union-find threshold, d12's RETURNED plan must
    be a single broadcast left join of documents against the collected
    label set — no iterative stage, no shuffle of documents."""
    df = registry.QUERIES["d12_dedup_clusters"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_s3_candidates_are_equi_join_no_cross_product(spark, sf_dir):
    """Banded sign-LSH self-join must be a hash equi-join on
    (band, signature) — never a cartesian/BNLJ. r12: the hot-bucket
    cap joins a broadcast-sized dim onto both sides — that dim (and
    the chain-edge rep agg) must ride BroadcastHashJoins only, never
    demote the vector frame into an extra SortMergeJoin."""
    df = registry.QUERIES["s3_embedding_near_dups"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly ONE SortMergeJoin: the (band, sig, sub) candidate
    # self-join. The hot dim attaches via broadcast on both sides.
    assert plan.count("SortMergeJoin") <= 1, plan


def test_simhash_hamming_filter_precedes_distinct(spark, sf_dir):
    """The hamming budget must cut the bucket fanout BEFORE the
    pair-dedup shuffle (millions of within-bucket pairs at sf0.1; only
    survivors may be exchanged for the distinct). Since the r7 kernel
    rewrite the multi-index path generates + hamming-filters pairs
    INSIDE the numpy popcount kernel (MapInPandas over a bucket-key
    repartition — no pair join exists at all), with the distinct
    above it."""
    from bbdc20_submission_spark.operators.dedup import simhash_near_dups

    d = load_table(spark, "documents", sf_dir)
    plan = formatted_plan(simhash_near_dups(d, max_hamming=13))
    # popcount kernel, no SMJ pair join, dedup above it
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert 0 <= plan.find("HashAggregate") < plan.find("MapInPandas")


def test_topk_global_avoids_full_sort(spark, sf_dir):
    # q3's trailing orderBy+limit is the global top-k certification
    df = registry.QUERIES["q3_shipping_priority"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_ivf_topk_no_distinct_exchange_over_vectors(spark, sf_dir):
    """r4 advice: ivf_topk used to fit on corpus.union(queries).distinct()
    — a full shuffle of wide embedding vectors. The model-reuse shape
    must assign each side with narrow passes: no HashAggregate-backed
    distinct over the vector column and no exchange partitioned on it.
    (The r6 planted-twin corpus adds a legitimate narrow Union — zero
    shuffle — so Union itself is no longer banned.)"""
    df = registry.QUERIES["s5_ivf_topk"](spark, sf_dir)
    plan = formatted_plan(df).replace("Keys", "keys")
    # a distinct over embeddings would appear as HashAggregate keyed on
    # the embedding column, and/or an Exchange hash-partitioned on it
    assert "HashAggregate (keys=[embedding" not in plan
    assert "hashpartitioning(embedding" not in plan


def test_contamination_broadcasts_eval_grams(spark, sf_dir):
    """Contamination (now inside the d2 suite): the eval-shingle set
    must reach the corpus via broadcast — corpus text must never
    shuffle — and the gram join must not be a sort-merge over exploded
    text."""
    df = registry.QUERIES["d2_text_quality"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_repetition_filter_is_pure_map(spark, sf_dir):
    """repetition_stats (certified inside the d2 suite) is designed as
    a zero-shuffle narrow pass: no Exchange may appear anywhere in its
    standalone physical plan."""
    from bbdc20_submission_spark.operators.text import repetition_stats

    df = repetition_stats(load_table(spark, "documents", sf_dir))
    plan = formatted_plan(df)
    assert "Exchange" not in plan, plan


def test_q5_join_selection(spark, sf_dir):
    """Q5's 6-way join: the tiny dims (region, nation) must reach the
    spine via broadcast, the supplier join must be a real equi-join
    (no cartesian anywhere), and the lineitem scan must prune to the
    join/agg columns."""
    df = registry.QUERIES["q5_local_supplier"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "l_extendedprice" in plan and "l_comment" not in plan


def test_curation_blocklist_pushes_to_scan(spark, sf_dir):
    """The C4-style source blocklist (curation stage 0) must reach the
    parquet reader as a pushed filter — blocked sources are rejected in
    the scan, not after the text column is materialized."""
    from bbdc20_submission_spark.plans.curation import CurationConfig, curate
    from bbdc20_submission_spark.sources.harness import load_table

    d = load_table(spark, "documents", sf_dir)
    out, _ = curate(d, CurationConfig(blocked_sources=("src19", "src18")))
    plan = formatted_plan(out)
    assert "Not(In(source" in plan or "Not(EqualTo(source" in plan, plan


def test_span_dedup_never_shuffles_text(spark, sf_dir):
    """duplicate_span_stats: every Exchange carries md5 window hashes,
    positions, and span structs — the text/token-array column must
    never enter a shuffle (the 100-TB property that substitutes for a
    distributed suffix array)."""
    from bbdc20_submission_spark.operators.dedup import duplicate_span_stats
    from bbdc20_submission_spark.sources.harness import load_table

    df = duplicate_span_stats(load_table(spark, "documents", sf_dir))
    plan = formatted_plan(df)
    sections = plan.split("\n\n")
    exchange_nodes = [s for s in sections if ") Exchange" in s]
    assert exchange_nodes, "no Exchange node found"
    for node in exchange_nodes:
        input_lines = [l for l in node.splitlines() if l.startswith("Input")]
        assert input_lines, node
        assert all(
            "text#" not in l and "_t#" not in l for l in input_lines
        ), node
    # the dup-hash membership join must be a BROADCAST probe on the
    # occurrence stream (below the 4M-hash cap) — a SortMergeJoin here
    # sorts every stride-1 window by hash, the O(n log n) term this
    # operator exists to avoid
    assert "BroadcastHashJoin" in plan, plan


def test_reselect_keepers_corpus_never_shuffles(spark, sf_dir):
    """reselect_keepers: the corpus-sized cluster frame must ride
    broadcast joins (BuildRight on the tiny real-cluster/keeper sets);
    a SortMergeJoin here would shuffle the whole corpus twice at
    100 TB just to re-pick keepers for a small fraction of rows."""
    from bbdc20_submission_spark.operators.chunking import reselect_keepers

    clusters = spark.range(5000).select(
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") < 20, F.lit("c0"))
        .otherwise(F.col("id").cast("string"))
        .alias("cluster"),
    )
    scores = spark.range(5000).select(
        F.col("id").cast("string").alias("doc_id"),
        (F.col("id") % 97).cast("double").alias("score"),
    )
    df = reselect_keepers(
        clusters, scores, id_col="doc_id", cluster_col="cluster", score_col="score"
    )
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_corpus_diff_never_shuffles_text(spark, sf_dir):
    """c2_corpus_diff: the status full-outer join exchanges only
    (id, md5) pairs and the rename pass exchanges hashed shingle
    arrays / band buckets — the raw text column (including its ``_t``
    alias in the tagged added/removed union) must never enter a
    shuffle. At 100 TB the diff's exchange volume is then a few dozen
    bytes per doc regardless of document size."""
    df = registry.QUERIES["c2_corpus_diff"](spark, sf_dir)
    plan = formatted_plan(df)
    sections = plan.split("\n\n")
    exchange_nodes = [s for s in sections if ") Exchange" in s]
    assert exchange_nodes, "no Exchange node found"
    for node in exchange_nodes:
        input_lines = [l for l in node.splitlines() if l.startswith("Input")]
        assert input_lines, node
        assert all(
            "text#" not in l and "_t#" not in l for l in input_lines
        ), node


def test_quantize_amax_folds_once_per_row(spark):
    """r13 regression pin for the r12 HOF finding (interpreted HOFs,
    no CSE, projection collapse re-inlining projected-away siblings
    into lambdas — O(dim^2) row prep with no physical-plan tell):
    quantize_embeddings computes the abs-max as its OWN projected
    column, so even a caller that projects the scale away must keep
    exactly ONE array_max fold per ROW in the optimized plan, and the
    quantize lambda itself must never contain the fold."""
    from bbdc20_submission_spark.operators.similarity import (
        quantize_embeddings,
    )

    df = spark.range(100).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") + i).cast("float") for i in range(8)]).alias(
            "embedding"
        ),
    )
    for cols in (["vec_id", "embedding_q"],
                 ["vec_id", "embedding_q", "embedding_q_scale"]):
        plan = (
            quantize_embeddings(df)
            .select(*cols)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        # one fold per row, in its own Project — the r12 bad shape
        # inlined it into the quantize lambda (2 evals per ELEMENT)
        assert plan.count("array_max") == 1, plan
        lam = plan[plan.index("round(") : plan.index("as tinyint")]
        assert "array_max" not in lam, plan


def test_quantized_topk_pair_scoring_is_two_hof_passes(spark, sf_dir):
    """The s_topk quantized family's pair scoring must stay exactly
    one zip_with + one aggregate per pair (the r12 fix): norms and
    scales fold per ROW behind the persist boundary, so the optimized
    plan above the InMemoryRelation must contain zero array_max and
    only the dot product's HOFs in the pair projection."""
    df = registry.QUERIES["s_topk_suite"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    above_cache = plan.split("InMemoryRelation")[0]
    assert "array_max" not in above_cache, above_cache

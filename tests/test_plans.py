"""Physical-plan regression tests: the scale posture, asserted.

These pin the plan properties that make the engine viable at 100 TB —
filter/projection pushdown into the parquet scan, broadcast joins for
dims, map-side partial aggregation, and the absence of accidental
cartesian products. A refactor that silently loses one of these
passes value-correctness tests but regresses 100x at scale; this file
is where that shows up.
"""

from __future__ import annotations

import pytest

from data_governance_spark.queries.registry import QUERIES
from tests.conftest import SF_SMOKE


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_SMOKE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_q01_filter_and_projection_pushdown(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    # the shipdate predicate must reach the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruning: only the 6 referenced columns are read (of 16)
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read.count(":") - 1 == 6  # 6 fields in the struct
    assert "l_orderkey" not in read  # untouched columns never scanned
    # map-side combine before the exchange
    assert "partial_sum" in plan


def test_q03_dims_are_broadcast(spark):
    plan = plan_of(spark, "q03_region_nation_rollup")
    # nation + region each broadcast once (tree + detail section both
    # mention each node, so 2 joins -> 2 BroadcastExchange details)
    assert sum(1 for l in plan.splitlines() if l.startswith("(") and "BroadcastExchange" in l) == 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Expand" in plan  # ROLLUP grouping sets in one scan


def test_q02_top_k_and_no_forced_fact_broadcast(spark):
    # The fact-fact (lineitem-orders) join carries no broadcast HINT in
    # the query code — only customer does. At test SFs Catalyst still
    # auto-broadcasts the pruned orders side because its stats sit
    # under the 10MB threshold; that is the correct size-based call and
    # reverts to a shuffle join at scale, so the physical join type is
    # deliberately NOT pinned here. What is pinned: exactly one
    # ResolvedHint (customer) in the analyzed plan, and top-k via
    # TakeOrderedAndProject (never a global sort).
    from data_governance_spark.queries.registry import QUERIES as Q
    from tests.conftest import SF_SMOKE as S

    df = Q["q02_top_revenue_orders"].fn(spark, S)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.count("ResolvedHint") == 1
    assert "TakeOrderedAndProject" in plan_of(spark, "q02_top_revenue_orders")


def test_e01_query_side_is_broadcast(spark):
    plan = plan_of(spark, "e01_knn_bruteforce")
    # the tiny query set broadcasts; the corpus streams — NOT a
    # shuffled cartesian product
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_products_anywhere(spark, name):
    assert "CartesianProduct" not in plan_of(spark, name)


def test_sketches_join_on_keys_not_pairs(spark):
    # candidate generation must be an equi-join on band/bucket keys —
    # the merged e03 gate contains BOTH sketches (minhash + simhash)
    plan = plan_of(spark, "e03_sketch_dedup_recall")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q21_single_scan_for_all_families(spark):
    # the whole point of the unpivot runner: F metric families, ONE
    # read of the fact table (run_metrics would scan once per family)
    plan = plan_of(spark, "q21_multimetric_single_scan")
    scans = [
        l for l in plan.splitlines() if l.startswith("(") and "Scan parquet" in l
    ]
    assert len(scans) == 1


def _formatted(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _parquet_scans(plan: str) -> int:
    return sum(1 for l in plan.splitlines() if l.startswith("(") and "Scan parquet" in l)


@pytest.fixture(scope="module")
def tmgl_parquet_landing(spark, tmp_path_factory):
    from data_governance_spark.fixtures import tmgl_landing

    path = str(tmp_path_factory.mktemp("tmgl_plans") / "landing")
    tmgl_landing(spark).write.parquet(path)
    return spark.read.parquet(path)


def test_tmgl_metrics_one_scan_one_aggregate(spark, tmgl_parquet_landing):
    # every family x every slice (global, regions, countries) from ONE
    # landing scan and ONE final count aggregate, decodes included (the
    # per-family composition scans 30 times)
    from data_governance_spark.fixtures import tmgl_areas_dim, who_region_dim
    from data_governance_spark.tmgl_pipeline import compute_metrics

    decs = spark.createDataFrame(
        [("012345", "Acupuncture")], "mfn string, descritor_ingles string"
    )
    df = compute_metrics(
        tmgl_parquet_landing, who_region_dim(spark), decs=decs, areas=tmgl_areas_dim(spark)
    )
    plan = _formatted(df)
    assert _parquet_scans(plan) == 1
    assert plan.count("Functions [1]: [count(1)]") == 1
    assert plan.count("Functions [1]: [partial_count(1)]") == 1


def test_tmgl_timeline_one_scan(spark, tmgl_parquet_landing):
    from data_governance_spark.fixtures import who_region_dim
    from data_governance_spark.tmgl_pipeline import compute_timeline

    plan = _formatted(compute_timeline(tmgl_parquet_landing, who_region_dim(spark)))
    assert _parquet_scans(plan) == 1


def test_d01_partial_aggregation(spark):
    plan = plan_of(spark, "d01_token_quality")
    assert "partial_count" in plan  # map-side combine on the exploded rows


def test_q30_q31_dims_broadcast(spark):
    # the enrichment dims (nation-sized) must broadcast; the only
    # shuffle joins are the fact-fact _apply/agg reassemblies
    for name in ("q30_db_enrichment_join", "q31_temas_enrichment_join"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_q34_sliced_runner_scans_twice_not_n_plus_1(spark):
    # one scan for the region-fanned pass + one for the global pass —
    # the whole point vs the reference's per-region query loop (any
    # regression to per-slice jobs would multiply the scan count)
    # (the dim is collected into the inline literal map at build time,
    # so every parquet scan in the final plan IS an events scan)
    plan = plan_of(spark, "q34_sliced_metric_runner")
    scans = [
        l for l in plan.splitlines() if l.startswith("(") and "Scan parquet" in l
    ]
    assert len(scans) == 2


def test_q38_p4_fanout_is_a_projection(spark):
    # attach_slice_p4 fans out via a when()-array + explode: ONE scan,
    # no join at all (the reference fires one server query per country).
    # The sub-builder is pinned directly — inside the merged
    # q37_dim_lookup_bundle its scan would be unioned with the others.
    from data_governance_spark.queries.dim_gates import q38_p4_map_metric

    df = q38_p4_map_metric(spark, SF_SMOKE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    scans = [
        l for l in plan.splitlines() if l.startswith("(") and "Scan parquet" in l
    ]
    assert len(scans) == 1
    assert "Join" not in plan


def test_decs_batched_single_pass(spark):
    """The four DECS fields (ct/pt/mj/mh) must ride ONE tagged explode
    -> one keyword aggregate -> one join-back, with both thesaurus
    lookups broadcast — not one pipeline per field (the r5 batching;
    4x fewer shuffles on the standardize hot path)."""
    from pyspark.sql import functions as F

    from data_governance_spark.standardize import joins as J

    docs = spark.range(10).select(
        F.col("id"),
        F.array(F.lit("heart attack")).alias("c1"),
        F.array(F.lit("12x")).alias("c2"),
        F.array(F.lit("stroke/therapy")).alias("c3"),
        F.array(F.lit("nope")).alias("c4"),
    )
    decs_lk = spark.createDataFrame(
        [("heart attack", "1"), ("stroke", "2"), ("/therapy", "3")],
        "term string, mfn string",
    )
    out = J.decs_code_arrays(
        docs,
        decs_lk,
        [(F.col(c), o) for c, o in (("c1", "ct"), ("c2", "pt"), ("c3", "mj"), ("c4", "mh"))],
        id_col="id",
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    gens = [
        l for l in plan.splitlines() if l.startswith("(") and "Generate" in l
    ]
    assert len(gens) == 1  # ONE explode serves all four fields
    # exactly one keyword aggregate (partial+final pair), keyed by doc
    assert plan.count("HashAggregate") <= 4
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _fmt_plan(df):
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def test_repetition_stats_are_map_only(spark):
    # per-document metrics must not shuffle: the sort+run-length
    # rewrite keeps both operators as pure projections over the scan
    from pyspark.sql import functions as F

    from data_governance_spark.operators.repetition import (
        dup_line_stats,
        top_ngram_stats,
    )

    docs = spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("a b a\nx\na b a"), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    for df in (dup_line_stats(docs), top_ngram_stats(docs, n=2)):
        plan = _fmt_plan(df)
        assert "Exchange" not in plan
        assert "HashAggregate" not in plan  # the fold is per-row, not grouped


def test_hash_split_sample_are_stateless_projections(spark):
    # split assignment / sampling must stay shuffle-free single-stage
    # expressions (no Exchange, no aggregate) so they compose with any
    # downstream plan for free
    from data_governance_spark.operators.sampling import (
        hash_sample,
        hash_split,
    )

    ids = spark.range(100).withColumnRenamed("id", "k")
    split_plan = _fmt_plan(hash_split(ids, {"a": 0.5, "b": 0.5}, "k"))
    sample_plan = _fmt_plan(hash_sample(ids, 0.25, "k"))
    for plan in (split_plan, sample_plan):
        assert "Exchange" not in plan
        assert "HashAggregate" not in plan


def test_stratified_sample_is_stateless_projection(spark):
    from data_governance_spark.operators.sampling import (
        hash_sample_stratified,
    )

    from pyspark.sql import functions as F

    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "web").otherwise("books").alias("d"),
    )
    plan = _fmt_plan(hash_sample_stratified(df, {"web": 0.2}, "d", "k"))
    assert "Exchange" not in plan
    assert "HashAggregate" not in plan


def test_dsir_scoring_is_map_only(spark):
    """The score fold must stay a shuffle-free projection — the 100 TB
    contract: the ratio vector is a literal, no join, no aggregate by
    key (the corpus never shuffles to get scored)."""
    from data_governance_spark.operators.dsir import importance_scores

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    plan = _fmt_plan(importance_scores(docs, [0.1] * 16))
    assert "Exchange" not in plan
    assert "Join" not in plan
    # tokens staged exactly once (the 28x HOF re-evaluation regression
    # guard: an inline tokens() shows up as repeated split(text))
    opt = (
        importance_scores(docs, [0.1] * 16)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert opt.count("split(text") == 1, opt[:1500]

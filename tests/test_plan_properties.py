"""Plan-regression guards: the physical plans the engine promises.

These assert the *shape* of execution — broadcasts chosen, filters pushed to
the parquet scan, no Python in JVM paths — so a refactor that silently turns
a broadcast join into a sort-merge join or knocks a filter off the scan fails
loudly instead of costing 10x at scale.
"""

from __future__ import annotations

import os

import pytest

from pipeline_etl_ecommerce_spark import testdata_queries as tq

SF = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _full_explain(df) -> str:
    return df._jdf.queryExecution().toString()


def test_flagship_uses_broadcast_joins_only(spark):
    plan = _executed_plan(tq.QUERIES["flagship_consolidation"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must broadcast, never SMJ


def test_part_filters_push_to_scan(spark):
    full = _full_explain(tq.QUERIES["part_filters"](spark, SF))
    assert "PushedFilters" in full
    assert "StringStartsWith(p_name,small)" in full  # NOT LIKE reaches the scan
    assert "In(p_brand" in full  # IN-set reaches the scan


def test_no_python_in_jvm_paths(spark):
    for name in ("flagship_consolidation", "freight_allocation", "minhash_band_buckets",
                 "simhash_documents", "knn_cosine_top3", "text_quality_score"):
        plan = _executed_plan(tq.QUERIES[name](spark, SF))
        assert "Python" not in plan, f"{name} fell off the JVM path"


def test_near_dup_joins_never_go_cartesian(spark):
    # the LSH family's whole point is replacing O(n^2) with bucket equi-joins;
    # a dropped join key would silently reintroduce the cross product
    for name in ("minhash_candidate_pairs", "minhash_incremental_pairs",
                 "simhash_near_pairs", "embedding_near_dup_pairs"):
        plan = _executed_plan(tq.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, f"{name} went cartesian"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} lost its equi-join keys"


def test_multimodal_is_arrow_batched(spark):
    plan = _executed_plan(tq.QUERIES["multimodal_decode_stub"](spark, SF))
    # the shared row kernel shows up as MapInArrow (Arrow batches), NOT
    # BatchEvalPython (row-at-a-time pickle)
    assert "MapInArrow" in plan
    assert "BatchEvalPython" not in plan


def test_daily_scan_prunes_columns(spark):
    # a 3-column projection over the 16-column lineitem must read 4 cols max
    full = _full_explain(tq.QUERIES["freight_allocation"](spark, SF))
    read_schema = [ln for ln in full.splitlines() if "ReadSchema" in ln]
    assert read_schema, "no ReadSchema in plan"
    lineitem_reads = [ln for ln in read_schema if "l_orderkey" in ln]
    assert lineitem_reads and "l_shipdate" not in lineitem_reads[0]  # unused cols pruned


def test_sql_surface_over_registered_catalog(spark):
    tables = {name: spark.read.parquet(os.path.join(SF, f"{name}.parquet")) for name in ("lineitem", "part")}
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    assert set(tables) == {"lineitem", "part"}
    got = spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#1'
        GROUP BY l_returnflag
        """
    ).collect()
    assert len(got) > 0 and all(r["revenue"] > 0 for r in got)


def test_event_analytics_single_exchange_plans(spark):
    # sessionization: lag-window, session-counter window, and the final
    # per-session agg must all share ONE hash exchange on the user key
    plan = _executed_plan(tq.QUERIES["event_sessions"](spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    # as-of attribution is union+window: no join operator at all
    plan = _executed_plan(tq.QUERIES["last_touch_attribution"](spark, SF))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_and_fuzzy_joins_stay_equi(spark):
    for name in ("clicks_before_purchase", "fuzzy_text_pairs"):
        plan = _executed_plan(tq.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, f"{name} went cartesian"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} lost its equi keys"


def test_rollup_cube_single_expand_pass(spark):
    # grouping sets evaluate via ONE Expand + aggregate, not a job per level
    for name in ("rollup_returnflag_status", "cube_status_priority"):
        plan = _executed_plan(tq.QUERIES[name](spark, SF))
        assert plan.count("Expand") == 1, f"{name} not a single Expand pass"


def test_top_terms_is_take_ordered_not_global_sort(spark):
    plan = _executed_plan(tq.QUERIES["corpus_top_terms"](spark, SF))
    assert "TakeOrderedAndProject" in plan  # per-partition top-k, no full sort


def test_classic_olap_joins_broadcast_dims_and_push_filters(spark):
    q3 = tq.QUERIES["shipping_priority_top10"](spark, SF)
    plan, full = _executed_plan(q3), _full_explain(q3)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # top-10 never materializes a sort
    assert "EqualTo(c_mktsegment,BUILDING)" in full  # dim filter at the scan
    q5 = tq.QUERIES["local_supplier_volume"](spark, SF)
    full5 = _full_explain(q5)
    assert "EqualTo(r_name,ASIA)" in full5
    assert "CartesianProduct" not in _executed_plan(q5)


def test_event_deltas_single_window_exchange(spark):
    # lag/lead/row_number share one user_id ordering: exactly one exchange
    # for that window; ntile orders differently and adds its own.
    plan = _executed_plan(tq.QUERIES["user_event_deltas"](spark, SF))
    assert plan.count("Window") <= 3
    assert "BatchEvalPython" not in plan


def test_q6_predicates_all_reach_scan(spark):
    # explain truncates long filter lists, so assert on the untruncated
    # parts: all three columns present in PushedFilters, and the scan
    # prunes to exactly the four referenced columns
    full = _full_explain(tq.QUERIES["forecast_revenue_change"](spark, SF))
    pushed = [ln for ln in full.splitlines() if "PushedFilters" in ln][0]
    for frag in ("IsNotNull(l_shipdate)", "IsNotNull(l_discount)", "IsNotNull(l_quantity)"):
        assert frag in pushed
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp_ntz>" in full
    )
    plan = _executed_plan(tq.QUERIES["customer_order_distribution"](spark, SF))
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan


def test_ivf_pinned_stays_on_jvm_with_inverted_list_join(spark):
    """The pinned IVF path: no Python anywhere (the Arrow-UDF variant is
    ivf_topk; this one is all Catalyst), the probe side broadcasts the
    8-row centroid table, and the candidate join is the cluster equi-join —
    never a cross product over the corpus."""
    plan = _executed_plan(tq.QUERIES["ivf_ann_top3"](spark, SF))
    assert "Python" not in plan, "pinned IVF fell off the JVM path"
    assert "CartesianProduct" not in plan
    # the only nested-loop allowed is the broadcast of the k-row centroid
    # table into the probe scoring; the corpus-sized candidate join must be
    # a hash join on the cluster id
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_streaming_composition_queries_keep_equi_joins(spark):
    for name in ("streaming_ingest_pairs_converged", "streaming_chunk_replace"):
        plan = _executed_plan(tq.QUERIES[name](spark, SF))
        assert "CartesianProduct" not in plan, f"{name} went cartesian"
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"


def test_components_oracle_query_has_no_python(spark):
    plan = _executed_plan(tq.QUERIES["near_dup_components"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_model_scoring_is_arrow_batched(spark):
    plan = _executed_plan(tq.QUERIES["model_scored_documents"](spark, SF))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_exact_span_pairs_stays_equi_join(spark):
    plan = _executed_plan(tq.QUERIES["exact_span_pairs_docs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_yoy_full_outer_reuses_agg_partitioning(spark):
    plan = _executed_plan(tq.QUERIES["yoy_part_revenue"](spark, SF))
    # both year branches aggregate on l_partkey before the full-outer join;
    # the join must reuse that partitioning, not add a third exchange
    assert plan.count("Exchange hashpartitioning(l_partkey") <= 2
    assert "BatchEvalPython" not in plan
    # the year-range predicates must push to the parquet scans (range form,
    # not year(col) = y, which is never pushable)
    assert plan.count("PushedFilters: [IsNotNull(l_shipdate)") == 2


def test_collocation_broadcasts_corpus_totals(spark):
    plan = _executed_plan(tq.QUERIES["collocation_lift_top20"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan  # scalar totals ride broadcasts
    assert "TakeOrderedAndProject" in plan  # top-20 never global-sorts


def test_boilerplate_pruning_no_python_no_cartesian(spark):
    plan = _executed_plan(tq.QUERIES["boilerplate_pruned_documents"](spark, SF))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_debounce_single_exchange(spark):
    plan = _executed_plan(tq.QUERIES["debounced_events"](spark, SF))
    # lag window + filter after ONE shuffle on (user_id, event_type)
    assert plan.count("Exchange hashpartitioning") == 1


def test_dynamic_partition_pruning_on_date_partitioned_mart(spark, tmp_path):
    """A date-partitioned fact joined to a filtered dim must prune
    partitions at RUNTIME (DPP): the fact scan's partition filter carries a
    dynamicpruning subquery instead of scanning every date directory —
    at 100 TB this is the difference between reading one day and reading
    the mart."""
    from pyspark.sql import functions as F

    fact_path = str(tmp_path / "fact")
    (
        spark.range(0, 1000)
        .withColumn("day", (F.col("id") % 10).cast("string"))
        .withColumn("v", F.col("id") * 2)
        .write.partitionBy("day")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [(str(i), "keep" if i == 3 else "drop") for i in range(10)], "day string, tag string"
    )
    joined = fact.join(dim.filter(F.col("tag") == "keep"), "day")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert joined.count() == 100  # only day=3 rows survive


def test_topk_per_group_uses_window_group_limit(spark):
    """Spark 4's rank-based filter pushdown: row_number <= k per group must
    plan a WindowGroupLimit (per-partition top-k heap BEFORE the full sort/
    window), not a full Window over every row — at 100 TB this is the
    difference between sorting k rows per group per mapper and sorting the
    whole fact."""
    from pyspark.sql import functions as F

    from pipeline_etl_ecommerce_spark.operators.ranking import top_k_per_group

    p = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    top = top_k_per_group(
        p, ["p_brand"], order_by=[F.col("p_retailprice").desc(), F.col("p_partkey")], k=3
    )
    top.collect()
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan

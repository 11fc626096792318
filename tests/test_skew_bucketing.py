"""Tests for skew salting (result parity + scatter) and bucketed joins
(shuffle elimination verified in the physical plan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.skew import (
    deterministic_salt,
    salted_groupby_agg,
    salted_join,
)
from pipeline_etl_ecommerce_spark.sources.bucketing import write_bucketed


@pytest.fixture(scope="module")
def skewed(spark):
    # one mega-key holding 90% of rows + a tail
    rows = [("hot", float(i % 7), i) for i in range(900)] + [
        (f"k{i}", float(i), i) for i in range(100)
    ]
    return spark.createDataFrame(rows, "k string, v double, x long")


def test_salted_agg_matches_plain_agg(spark, skewed):
    plain = {
        r["k"]: (r["s"], r["n"])
        for r in skewed.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    salted = {
        r["k"]: (r["sum_v"], r["n"])
        for r in salted_groupby_agg(skewed, ["k"], ["v"], n_salts=8, count_col="n").collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k][0] == pytest.approx(plain[k][0])
        assert salted[k][1] == plain[k][1]


def test_salt_actually_scatters_the_hot_key(spark, skewed):
    n = (
        skewed.withColumn("s", deterministic_salt(["x"], 8))
        .filter(F.col("k") == "hot")
        .select("s")
        .distinct()
        .count()
    )
    assert n == 8  # the hot key occupies all salt buckets


def test_default_salt_spreads_constant_metric_hot_key(spark):
    """The VERDICT-r1 flaw: a hot key whose METRIC values are constant
    (all-zeros quantity, single price) must still scatter. The default
    salt now hashes all non-key columns, so the varying id column spreads
    the hot key even though the summed column is a single value."""
    from pipeline_etl_ecommerce_spark.operators.skew import _default_salt_cols

    rows = [("hot", 0.0, i) for i in range(800)] + [(f"k{i}", 1.0, i) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, v double, rid long")

    salt_cols = _default_salt_cols(df, ["k"])
    assert salt_cols == ["v", "rid"]
    n = (
        df.withColumn("s", deterministic_salt(salt_cols, 8))
        .filter(F.col("k") == "hot")
        .select("s")
        .distinct()
        .count()
    )
    assert n == 8  # old default (metric-only hash) collapsed this to 1

    # and the operator still matches the plain aggregation with the new default
    plain = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    salted = {r["k"]: r["sum_v"] for r in salted_groupby_agg(df, ["k"], ["v"], n_salts=8).collect()}
    assert plain == salted


def test_default_salt_requires_a_non_key_column(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="no non-key columns to salt on"):
        salted_groupby_agg(df, ["k"], [])


def test_salted_join_matches_plain_join(spark, skewed):
    dim = spark.createDataFrame([("hot", "H"), ("k1", "A"), ("k2", "B")], "k string, label string")
    plain = sorted((r["k"], r["x"], r["label"]) for r in skewed.join(dim, "k").collect())
    salted = sorted((r["k"], r["x"], r["label"]) for r in salted_join(skewed, dim, "k", n_salts=4).collect())
    assert plain == salted


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    a = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    spark.sql("DROP TABLE IF EXISTS bt_a")
    spark.sql("DROP TABLE IF EXISTS bt_b")
    write_bucketed(a, "bt_a", ["k"], num_buckets=4, sort_cols=["k"])
    write_bucketed(b, "bt_b", ["k"], num_buckets=4, sort_cols=["k"])
    # force the non-broadcast path: tiny test tables auto-broadcast, which
    # makes the planner ignore bucketing ("Bucketed: false (disabled by query
    # planner)"); at real scale neither side broadcasts and bucketing is what
    # kills the shuffle.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bt_a").join(spark.table("bt_b"), ["k"])
        assert joined.count() == 1000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # co-located bucketed join: the shuffle was paid at write time
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_bucketed_join_then_same_key_agg_has_no_exchange(spark):
    # the catalog's bucketed_colocated_join claim: not just the join but the
    # FOLLOWING aggregation on the bucket key rides the write-time layout —
    # zero Exchange operators end-to-end (a filter on the dim side must not
    # disturb co-location either)
    a = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % 100).cast("double").alias("amt")
    )
    b = spark.range(0, 2000).select(
        F.col("id").alias("j"), (F.col("id") % 3).alias("status")
    )
    spark.sql("DROP TABLE IF EXISTS btj_a")
    spark.sql("DROP TABLE IF EXISTS btj_b")
    write_bucketed(a, "btj_a", ["k"], num_buckets=4, sort_cols=["k"])
    write_bucketed(b, "btj_b", ["j"], num_buckets=4, sort_cols=["j"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ta = spark.table("btj_a")
        tb = spark.table("btj_b").filter(F.col("status") == 1)
        out = (
            ta.join(tb, ta.k == tb.j)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("amt").alias("s"))
        )
        rows = out.collect()
        # status==1 keeps ids with id%3==1 -> 667 keys, one line each
        assert len(rows) == 667
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS btj_a")
        spark.sql("DROP TABLE IF EXISTS btj_b")

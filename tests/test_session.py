"""The engine's session keeps its whole generated-code working set: a plan
shape compiles once per JVM.

Spark's generated-class cache holds 100 classes by default and evicts the
least recently used. These ten catalog rows need about 150 classes per
pass, so with that default every lookup of a second pass misses and the
pass recompiles about 130 classes. ``get_spark`` sizes the cache to hold
them.
"""

from __future__ import annotations

import os
import sys

from pipeline_etl_ecommerce_spark import testdata_queries

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import measure  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
# one row per family, as in the mart_queries benchmark workload
ROWS = (
    "flagship_consolidation",
    "cohort_retention_weekly",
    "top3_parts_per_brand",
    "rollup_returnflag_status",
    "price_percentiles",
    "price_percentiles_cont",
    "price_mad_by_returnflag",
    "winsorized_price_stats",
    "sketch_profile_lineitem",
    "approx_percentile_prices",
)
# What a second pass may still compile: plan variants AQE picks by timing,
# each compiled once and cached from then on. The order in which a plan's
# shuffle stages finish decides how it is re-planned, e.g. whether the
# cohort row's join stage takes a broadcast, and which IDs later codegen
# stages get (an ID is part of the class name, so the flagship's two
# hash-aggregate stages can compile again under swapped IDs). A pass saw at
# most 10 such classes; a cache too small for the pass recompiles ~130.
AQE_VARIANTS = 20


def _pass(spark) -> int:
    """Classes compiled by one pass of ``ROWS`` through the noop sink."""
    before, _ = measure.codegen(spark)
    for name in ROWS:
        testdata_queries.QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return measure.codegen(spark)[0] - before


def test_a_second_pass_over_more_than_100_classes_hits_the_cache(spark):
    first = _pass(spark)
    second = _pass(spark)
    assert second <= AQE_VARIANTS, f"the first pass compiled {first} classes, the second {second}"

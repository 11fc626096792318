"""The timing steps every measurement tool shares (``bench.py``,
``opt_measure.py``, ``bench_sf1.py``, ``scale_stress.py``): the session,
the warm-up, and one catalog row timed through the noop sink.

A row is timed by running its callable and then its result through the
noop sink (full compute, no driver-side collect); the wall of a rep spans
both, so an executed or streaming row's harness is part of its time. Each
rep runs under ``setJobGroup(row, row)``, so every tool tags a row's jobs
the same way.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from pipeline_etl_ecommerce_spark import testdata_queries  # noqa: E402
from pipeline_etl_ecommerce_spark.session import get_spark  # noqa: E402


def session(app: str) -> tuple[SparkSession, int]:
    """The measuring session and its core count: ``get_spark``'s default,
    ``$SPARK_GRAFT_CPUS`` else the CPUs this process may run on (what
    ``nproc`` prints). Shuffle partitions follow the core count."""
    spark = get_spark(app)
    cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def warm(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Pay JVM/codegen startup with one flagship run, then build the shared
    side-table marts outside any row's timer (they are ingest-time tables).
    Returns ``warm_side_tables``' spans: per mart, plus ``"__wall"``."""
    time_row(spark, sf_dir, "flagship_consolidation", 1)
    return testdata_queries.warm_side_tables(spark, sf_dir)


def time_row(spark: SparkSession, sf_dir: str, name: str, reps: int) -> list[float]:
    """Wall seconds of each of ``reps`` runs of catalog row ``name``."""
    fn = testdata_queries.QUERIES[name]
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    samples = []
    try:
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return samples


def codegen(spark: SparkSession) -> tuple[int, float]:
    """Classes the JVM's whole-stage codegen has compiled so far, and the
    seconds Janino spent compiling them: a rep's delta is its compile cost."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    return n, jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e9


def same_setup(a: dict, b: dict) -> bool:
    """Whether two bench records (a pin, a run's detail) were taken at the
    same core count and SF: the only pairs whose per-row walls compare."""
    return (a.get("cpus"), a.get("sf")) == (b.get("cpus"), b.get("sf"))

"""Readers: parquet test tables and JSON ingestion payloads.

The reference scans MySQL tables into PHP hash maps (SURVEY.md §2.1 S1-S3);
here every table is a DataFrame scan that Catalyst prunes/pushes into. REST
pagination (S4-S7) is an ingestion concern outside the engine; its payloads
enter as JSON files with the explicit schemas in ``schemas.py`` — never
schema inference in production paths (inference is a full extra pass over
100 TB of input).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_parquet_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Column pruning + predicate pushdown reach the
    parquet scan automatically because callers express filters/projections
    declaratively (verify with ``df.explain('formatted')`` → PushedFilters)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the driver's TPC-H-ish tables as a dict of DataFrames."""
    out: dict[str, DataFrame] = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = spark.read.parquet(path)
    return out


def read_json_payloads(
    spark: SparkSession, path: str | list[str], schema: StructType, *, multiline: bool = False
) -> DataFrame:
    """Read API-shaped JSON payloads with an explicit schema (SURVEY.md §2.1 S4-S8).

    ``path`` may be a directory/glob or an explicit list of files (the REST
    landing zone passes the exact files it just landed).
    ``multiline=True`` for pretty-printed single-document files; default is
    JSON-lines, the scalable layout (splittable → parallel scan)."""
    reader = spark.read.schema(schema)
    if multiline:
        reader = reader.option("multiLine", "true")
    return reader.json(path)



"""Readers: JSON ingestion payloads.

The reference scans MySQL tables into PHP hash maps (SURVEY.md §2.1 S1-S3);
here every table is a DataFrame scan that Catalyst prunes/pushes into
(``spark.read.parquet``; the catalog memoizes one per table). REST
pagination (S4-S7) is an ingestion concern outside the engine; its payloads
enter as JSON files with the explicit schemas in ``schemas.py`` — never
schema inference in production paths (inference is a full extra pass over
100 TB of input).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_json_payloads(
    spark: SparkSession, path: str | list[str], schema: StructType
) -> DataFrame:
    """Read API-shaped JSON-lines payloads with an explicit schema (SURVEY.md
    §2.1 S4-S8). JSON-lines is the scalable layout (splittable → parallel
    scan).

    ``path`` may be a directory/glob or an explicit list of files (the REST
    landing zone passes the exact files it just landed)."""
    return spark.read.schema(schema).json(path)

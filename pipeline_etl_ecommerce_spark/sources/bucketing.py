"""Bucketed-table support: shuffle-free co-located joins.

At 100 TB the dominant recurring cost is re-shuffling the same fact tables
on the same keys every run. Bucketing pays the shuffle once at write time:
two tables bucketed by the same key into the same bucket count join with NO
exchange on either side (verified by the plan test), and aggregations on the
bucket key skip their exchange too.

This is the batch analog of the reference keeping MySQL tables indexed on
their join keys (SURVEY.md §4) — the physical layout carries the join
strategy. Bucketed writes go through ``saveAsTable`` (bucket metadata lives
in the catalog, not the parquet files).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    *,
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as a bucketed (optionally sorted) managed table. Sorting
    within buckets additionally enables merge-join without a sort step."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)



from .runner import (
    read_json_stream,
    daily_rollup_stream,
    run_batches,
    run_parquet_append,
    run_upsert_stream,
    dedup_stream,
    backfill,
)

__all__ = [
    "read_json_stream",
    "daily_rollup_stream",
    "run_batches",
    "run_parquet_append",
    "run_upsert_stream",
    "dedup_stream",
    "backfill",
]

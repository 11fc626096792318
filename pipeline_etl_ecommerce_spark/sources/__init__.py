from .readers import read_json_payloads
from .sinks import (
    merge_upsert,
    insert_if_absent,
    upsert_to_path,
    append_to_path,
    overwrite_path,
)

__all__ = [
    "read_json_payloads",
    "merge_upsert",
    "insert_if_absent",
    "upsert_to_path",
    "append_to_path",
    "overwrite_path",
]

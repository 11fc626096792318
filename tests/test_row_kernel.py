"""multimodal.row_kernel: the one Arrow row-kernel wrapper every media and
WARC stage runs through — dead-letter rows, one-to-many kernels, NULL
payloads, and exact int64 round trips."""

from __future__ import annotations

import pytest
from pyspark.errors import PythonException
from pyspark.sql.types import BinaryType, LongType, StringType, StructField, StructType

from pipeline_etl_ecommerce_spark.operators.multimodal import row_kernel

IN_SCHEMA = StructType(
    [StructField("media_id", LongType(), False), StructField("payload", BinaryType())]
)
OUT_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("value", LongType()),
        StructField("status", StringType()),
    ]
)


def _media(spark, rows):
    # one partition -> one Arrow batch, so good and dead-letter rows share it
    return spark.createDataFrame(rows, IN_SCHEMA).coalesce(1)


def test_int64_exact_beside_a_dead_letter_row(spark):
    # a pandas batch turns a column holding a NULL into float64, which
    # rounds 2^62 + 1 to 2^62; the Arrow wrapper keeps every bit
    big = 2**62 + 1

    def kernel(media_id, payload):
        if payload == b"bad":
            raise ValueError("malformed")
        return {"value": big, "status": "ok"}

    out = row_kernel(
        _media(spark, [(1, b"good"), (2, b"bad")]), ["media_id", "payload"], kernel,
        OUT_SCHEMA, errors=(ValueError,), status_col="status",
    )
    got = {r["media_id"]: (r["value"], r["status"]) for r in out.collect()}
    assert got == {1: (big, "ok"), 2: (None, "error: ValueError")}


def test_generator_keeps_rows_yielded_before_the_error(spark):
    def kernel(media_id, payload):
        yield {"value": 10, "status": "ok"}
        yield {"value": 20, "status": "ok"}
        raise ValueError("truncated after two rows")

    out = row_kernel(
        _media(spark, [(7, b"x")]), ["media_id", "payload"], kernel,
        OUT_SCHEMA, errors=(ValueError,), status_col="status",
    )
    got = sorted(out.collect(), key=lambda r: (r["value"] is None, r["value"] or 0))
    assert [tuple(r) for r in got] == [
        (7, 10, "ok"),
        (7, 20, "ok"),
        (7, None, "error: ValueError"),
    ]


def test_null_payload_reaches_kernel_as_empty_bytes(spark):
    def kernel(media_id, payload):
        return {"value": len(payload), "status": type(payload).__name__}

    out = row_kernel(
        _media(spark, [(1, None), (2, b"abc")]), ["media_id", "payload"], kernel, OUT_SCHEMA
    )
    got = {r["media_id"]: (r["value"], r["status"]) for r in out.collect()}
    assert got == {1: (0, "bytes"), 2: (3, "bytes")}


def test_exception_outside_errors_fails_the_job(spark):
    def kernel(media_id, payload):
        raise KeyError("not a dead-letter class")

    out = row_kernel(
        _media(spark, [(1, b"x")]), ["media_id", "payload"], kernel,
        OUT_SCHEMA, errors=(ValueError,), status_col="status",
    )
    with pytest.raises(PythonException, match="KeyError"):
        out.collect()

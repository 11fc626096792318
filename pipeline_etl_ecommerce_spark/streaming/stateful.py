"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's queue workers keep per-key progress in MySQL status columns
(SURVEY.md §2.10 T5). The Spark-native generalization is arbitrary per-key
state in the state store; this module implements a running per-key
accumulator — event count + integer cents total carried across
micro-batches — the building block for "how much have we processed for
listing X" bookkeeping without any external table.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EXACT_OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_cents bigint"
EXACT_STATE_SCHEMA = "n bigint, cents bigint"


def fold_running_totals(
    prev: tuple[int, int] | None, pdfs: Iterable[pd.DataFrame]
) -> tuple[int, int]:
    """The pure per-key state fold behind ``running_user_totals_exact``:
    integer (count, cents) accumulation — associative and
    order-independent, so any micro-batch composition converges to the
    batch sum. Split out so the fold is unit-testable without a Spark
    state store."""
    n, cents = prev if prev is not None else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["cents"].sum())
    return n, cents


def _accumulate_cents(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n, cents = fold_running_totals(
        state.get if state.exists else None, pdfs
    )
    state.update((n, cents))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_cents": [cents]})


def running_user_totals_exact(events: DataFrame) -> DataFrame:
    """Streaming per-user running totals: emits the updated (count, cents)
    for every user seen in each micro-batch; state persists in the
    checkpointed state store across batches and restarts. The value column
    arrives pre-quantized to integer ``cents``, so the per-key state is
    pure integer arithmetic — associative, order-independent, and
    bit-identical to any batch engine's sum regardless of micro-batch
    composition (a pandas double sum would be deterministic per run but
    not SQL-replayable)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _accumulate_cents,
        outputStructType=EXACT_OUTPUT_SCHEMA,
        stateStructType=EXACT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


"""Stateful streaming operators.

The reference's stateful behaviors are batch workarounds: a 100-record
buffered log flush (src/ml/feedback_logging.py:212-214, 327-384) and
re-query-everything incremental sync (src/utils/data_contracts.py:
235-275). In Structured Streaming, state lives per key in the state
store, survives micro-batches, and scales horizontally with the shuffle
partitioning of the grouping key — no driver-side buffers.

Two operators:

- ``running_totals``: per-key cumulative count/sum maintained across
  micro-batches, emitting the updated row once per key per batch
  (update semantics; the streaming face of the reference's funnel
  accumulators). It is a plain streaming ``groupBy().agg()``: Spark's
  JVM state store keeps the partial aggregates, and no Python worker
  runs.
- ``stateful_dedup``: exactly-once-per-key emission with an optional
  processing-time TTL — streaming dedup where ``dropDuplicates``'s
  unbounded state would OOM; TTL bounds state for 100 TB streams.
  Spark has no built-in processing-time TTL dedup
  (``dropDuplicatesWithinWatermark`` expires by event time), so this
  one is an ``applyInPandasWithState`` function.

The registered queries in plans/events.py start both through
``trigger.available_now``, which sizes their state partitions to one
task per core.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def running_totals(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running count/sum across micro-batches. Run in update
    mode, each micro-batch emits the cumulative row of every key it
    touched."""
    return events.groupBy(key_col).agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )


DEDUP_OUT = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
DEDUP_STATE = "seen boolean"


def _dedup_fn_factory(ttl_ms: int | None):
    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL expired: forget the key; a late duplicate after the
            # TTL window is emitted again (bounded-state tradeoff,
            # stated explicitly rather than OOMing at 100 TB).
            state.remove()
            return
        first_time = not state.exists
        if first_time:
            state.update((True,))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if first_time:
            for pdf in pdfs:
                if len(pdf):
                    yield pdf.iloc[:1][
                        ["event_id", "ts", "user_id", "event_type", "value"]
                    ]
                    return
        # already seen: drain and emit nothing
        for _ in pdfs:
            pass

    return fn


def stateful_dedup(events: DataFrame, ttl_ms: int | None = None) -> DataFrame:
    """Streaming exact dedup on event_id with optional state TTL."""
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("event_id").applyInPandasWithState(
        _dedup_fn_factory(ttl_ms),
        outputStructType=DEDUP_OUT,
        stateStructType=DEDUP_STATE,
        outputMode="append",
        timeoutConf=timeout,
    )


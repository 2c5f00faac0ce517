"""Stateful streaming operators.

The reference's stateful behaviors are batch workarounds: a 100-record
buffered log flush (src/ml/feedback_logging.py:212-214, 327-384) and
re-query-everything incremental sync (src/utils/data_contracts.py:
235-275). In Structured Streaming, state lives per key in the state
store, survives micro-batches, and scales horizontally with the shuffle
partitioning of the grouping key — no driver-side buffers.

Both operators are Spark's own streaming operators, so their state
stays in the JVM state store and no Python worker runs:

- ``running_totals``: per-key cumulative count/sum maintained across
  micro-batches, emitting the updated row once per key per batch
  (update semantics; the streaming face of the reference's funnel
  accumulators). It is a plain streaming ``groupBy().agg()``.
- ``stateful_dedup``: exactly-once emission per ``event_id``, a
  streaming ``dropDuplicates``. Every key seen stays in state for the
  life of the checkpoint. Where state must be bounded, the engine's
  form is event-time ``dropDuplicatesWithinWatermark``, which drops a
  key once the watermark passes it.

The registered queries in plans/events.py start both through
``trigger.available_now``, which sizes their state partitions to one
task per core.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def running_totals(events: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Per-key running count/sum across micro-batches. Run in update
    mode, each micro-batch emits the cumulative row of every key it
    touched."""
    return events.groupBy(key_col).agg(
        F.count("*").alias("n_events"), F.sum("value").alias("total_value")
    )


def stateful_dedup(events: DataFrame) -> DataFrame:
    """Streaming exact dedup on event_id, in append mode: each id's row
    is emitted once, in the micro-batch that first delivers it, and
    every later row with that id is dropped."""
    return events.dropDuplicates(["event_id"])

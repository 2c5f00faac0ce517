"""Run a Structured Streaming query with Trigger.AvailableNow.

Every AvailableNow query in the engine starts through
:func:`available_now`, which sizes the query's shuffle to one task wave.
A streaming query takes its shuffle partition count from
``spark.sql.shuffle.partitions`` when its checkpoint is created, and
adaptive execution never coalesces a streaming shuffle. So a stateful
operator runs that many tasks, and opens that many state stores, in
every micro-batch, however small the batch is. The session default
(``session.DEFAULT_SHUFFLE_PARTITIONS``) is sized for batch plans,
where the coalescer trims it. Here the count is the session's
``defaultParallelism``: one task per core.

The count is set on the caller's session, not on a ``newSession()``
copy, because ``StreamingQueryListener``s are registered per session
and a copy's queries are invisible to them. The old value is restored
once the query has terminated. Another query started on the same
session while the stream runs sees the stream's value. Spark records
the count in the checkpoint's offset log, so a restarted stream keeps
the count its checkpoint was created with.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
TIMEOUT_S = 600


def available_now(
    spark: SparkSession, writer: DataStreamWriter, checkpoint: str
) -> StreamingQuery:
    """Start ``writer`` with Trigger.AvailableNow and checkpoint
    ``checkpoint``, wait until it has processed everything pending, and
    return the terminated query. A failed batch raises the query's
    ``StreamingQueryException``; a query still running after
    ``TIMEOUT_S`` is stopped and raises ``TimeoutError``."""
    old = spark.conf.get(SHUFFLE_PARTITIONS, None)
    spark.conf.set(SHUFFLE_PARTITIONS, str(spark.sparkContext.defaultParallelism))
    try:
        q = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"streaming query {q.id} did not finish within {TIMEOUT_S}s"
            )
    finally:
        if old is None:
            spark.conf.unset(SHUFFLE_PARTITIONS)
        else:
            spark.conf.set(SHUFFLE_PARTITIONS, old)
    return q

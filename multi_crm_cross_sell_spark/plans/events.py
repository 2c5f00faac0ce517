"""Event-stream operators (SURVEY §2.9) in their batch form over the
events table. The same plans run under Structured Streaming (readStream
+ withWatermark) — see multi_crm_cross_sell_spark/streaming/ for the
streaming wrappers; here they are registered as oracle-checked batch
queries, which is exactly how Spark treats a streaming agg anyway
(incrementalized batch plan).

The reference has only batch analogues: cron micro-batches
(orchestrator.py:471-495), high-watermark incremental sync
(data_contracts.py:235-275), buffered log flush
(feedback_logging.py:212-214, 327-384), fixed 7-day trend buckets
(api/main.py:749-761).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.bronze import load_table
from ._parity import dsum, sql_dsum
from .registry import register


@register(
    "event_tumbling_windows",
    oracle=f"""
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")},
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "ST5", "window"),
)
def event_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event type: the streaming-native
    upgrade of the dashboard's daily buckets. Under readStream the
    identical plan + withWatermark handles late data."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", "total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
    )


@register(
    "event_sliding_windows",
    oracle=f"""
    WITH slid AS (
      SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS window_start,
             value
      FROM events
      CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS k)
    )
    SELECT window_start,
           COUNT(*) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM slid
    GROUP BY 1
    """,
    tags=("streaming", "window", "sliding"),
)
def event_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 15 min slide): each event lands in
    4 overlapping windows. Spark's window() generates the assignment
    natively; the oracle reconstructs it arithmetically."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


_SESSION_GAP_MIN = 30

_SESSION_ORACLE = f"""
WITH marked AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   > {_SESSION_GAP_MIN} * 60 * 1000000
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM marked
)
SELECT user_id,
       CAST(session_seq AS INTEGER) AS session_seq,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum("value", "session_value")},
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0 AS duration_sec
FROM sessions
GROUP BY user_id, session_seq
"""


@register(
    "event_sessionization",
    oracle=_SESSION_ORACLE,
    tags=("streaming", "session", "window"),
)
def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via gaps-and-islands:
    lag → new-session flag → running sum → per-session rollup. In
    streaming the same semantics come from session_window(ts, '30
    minutes'); the batch form is oracle-checkable and shuffle-optimal
    (one shuffle on user_id reused by both windows and the final
    groupBy)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = _SESSION_GAP_MIN * 60 * 1_000_000
    prev_ts = F.lag("ts").over(w)
    marked = ev.select(
        "user_id",
        "ts",
        "value",
        F.when(
            prev_ts.isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(prev_ts.cast("timestamp"))
                > gap_us
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sessions = marked.withColumn(
        "session_seq", F.sum("new_session").over(wrun).cast("int")
    )
    return sessions.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        dsum("value", "session_value"),
        (
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / 1_000_000.0
        ).alias("duration_sec"),
    )


@register(
    "event_funnel_metrics",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_views,
           CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_clicks,
           CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signups,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchases,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) > 0 AS INTEGER) AS converted,
           {sql_dsum("CASE WHEN event_type = 'purchase' THEN value END", "purchase_value")}
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "A11", "ML14"),
)
def event_funnel_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user funnel rollup (impressions → clicks → conversion) — the
    reference's feedback funnel (feedback_logging.py:458-488) computed
    set-based in one pass."""
    ev = load_table(spark, sf_dir, "events")

    def n_of(t: str):
        return F.count(F.when(F.col("event_type") == t, 1))

    return ev.groupBy("user_id").agg(
        n_of("view").alias("n_views"),
        n_of("click").alias("n_clicks"),
        n_of("signup").alias("n_signups"),
        n_of("purchase").alias("n_purchases"),
        (n_of("purchase") > 0).cast("int").alias("converted"),
        dsum("CASE WHEN event_type = 'purchase' THEN value END", "purchase_value"),
    )


@register(
    "incremental_watermark_sync",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_new_events,
           MAX(ts) AS new_watermark
    FROM events
    WHERE ts > TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY event_type
    """,
    tags=("streaming", "S7", "ST2"),
)
def incremental_watermark_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental ingestion
    (data_contracts.py:235-275): filter rows past the stored watermark
    and report the new high-water mark per entity — the batch analogue
    of readStream + checkpoint."""
    ev = load_table(spark, sf_dir, "events")
    wm = F.lit("2024-01-03 00:00:00").cast("timestamp_ntz")
    return (
        ev.where(F.col("ts") > wm)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_new_events"), F.max("ts").alias("new_watermark"))
    )


@register(
    "event_props_json",
    oracle="""
    SELECT event_type,
           CAST(COUNT(CASE WHEN k_value IS NOT NULL THEN 1 END) AS BIGINT) AS n_with_k,
           MIN(k_value) AS min_k,
           MAX(k_value) AS max_k,
           CAST(SUM(CAST(k_value AS DECIMAL(23,2))) AS DOUBLE) AS sum_k
    FROM (
      SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value
      FROM events
    )
    GROUP BY event_type
    """,
    tags=("json", "M1", "M3"),
)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: JSON path extraction + typed aggregation
    (reference keeps feature dicts as JSON columns,
    database.py:146,242; flattening salesforce.py:337-341)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int").alias("k_value")
    return (
        ev.select("event_type", k)
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("k_value").isNotNull(), 1)).alias("n_with_k"),
            F.min("k_value").alias("min_k"),
            F.max("k_value").alias("max_k"),
            dsum("k_value", "sum_k"),
        )
    )


def _replay_as_stream(spark: SparkSession, events: DataFrame, op, output_mode: str,
                      prefix: str) -> DataFrame:
    """Land ``events`` as parquet, with ``ts`` as a plain timestamp
    and ``coalesce(2)`` (at most two files, never more partitions than
    ``events`` has); stream it back one file per micro-batch through
    ``op`` with Trigger.AvailableNow; append every micro-batch's output
    to parquet and return what was emitted. The work dir is a fresh
    ``mkdtemp``, so each call starts from an empty checkpoint."""
    import tempfile

    from ..streaming.trigger import available_now
    from ..streaming.windows import stream_source

    work = tempfile.mkdtemp(prefix=prefix)
    src = f"{work}/src"
    events.withColumn("ts", F.col("ts").cast("timestamp")).coalesce(2).write.parquet(
        src, mode="overwrite"
    )
    stream = stream_source(
        spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1
    )
    out = f"{work}/out"
    writer = (
        op(stream)
        .writeStream.foreachBatch(
            lambda bdf, _bid: bdf.write.mode("append").parquet(out)
        )
        .outputMode(output_mode)
    )
    available_now(spark, writer, f"{work}/ck")
    return spark.read.parquet(out)


@register(
    "stateful_running_totals",
    # The PROCESS is a stateful stream, but the FINAL state is exactly
    # the batch aggregate, enforced as a hard oracle: after the last
    # micro-batch, per-user (count, sum) must equal GROUP BY user_id
    # over the whole table. Values are exact cents, so float
    # accumulation error (~1e-13) vanishes under ROUND(·, 6) in both
    # engines.
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY user_id
    """,
    tags=("streaming", "stateful", "ST3"),
)
def stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count/sum kept in the state store
    (streaming/stateful.running_totals, a streaming groupBy().agg() in
    update mode). Lands the events table as parquet, runs the REAL
    streaming query over it with Trigger.AvailableNow, one file per
    micro-batch, and returns the final state per user — which must
    equal the batch groupBy over the same table, encoded as the DuckDB
    oracle (the state-store path and the batch path must agree
    bit-for-bit after cent-safe rounding).

    The table is written with ``coalesce(2)``, which never adds
    partitions: a table read as one partition (each test fixture's
    single-row-group events file, a one-day delta) lands as one file
    and runs as ONE micro-batch, so this query alone does not exercise
    state carried across batches. tests/test_streaming.py's two-file tests
    (``test_stateful_running_totals``, ``test_stateful_dedup_exactly_once``)
    do."""
    from ..streaming.stateful import running_totals

    upd = _replay_as_stream(
        spark, load_table(spark, sf_dir, "events"), running_totals, "update",
        "stateful_rt_",
    )
    return (
        upd.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.round(F.max("total_value"), 6).alias("total_value"),
        )
    )


@register(
    "stateful_streaming_dedup",
    # Hard oracle for streaming exact-once dedup: feed the stream TWO
    # copies of every event (split across micro-batches), and the
    # emitted rows must be exactly the ORIGINAL table — each event_id
    # once, with its original fields. SQL can't express the state
    # machine, but it states the invariant perfectly.
    # FIXTURE INVARIANT: this oracle is only correct because event_id
    # is unique in the source table (a duplicate id would be collapsed
    # by the dedup and fail the oracle for a data reason, not a code
    # bug). tests/test_streaming.py asserts that uniqueness so a
    # fixture change fails loudly at the right place.
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    """,
    tags=("streaming", "stateful", "dedup", "dropDuplicates", "ST3"),
)
def stateful_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup (streaming/stateful.stateful_dedup,
    a streaming dropDuplicates on event_id): the JVM state store keeps
    every id seen and suppresses re-deliveries across micro-batches.
    The harness doubles the events table (union of two copies, so
    every id is re-delivered, many across batch boundaries), streams
    it with Trigger.AvailableNow, and returns the emitted rows — which
    must reproduce the original table exactly."""
    from ..streaming.stateful import stateful_dedup

    ev = load_table(spark, sf_dir, "events")
    emitted = _replay_as_stream(
        spark, ev.unionByName(ev), stateful_dedup, "append", "stateful_dd_"
    )
    return emitted.select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


# ---------------------------------------------------------------------------
# Range join (point-in-interval) via bin bucketing — the equi-join
# rewrite of an inequality join, which OSS Spark would otherwise plan
# as a nested-loop over every (interval, point) pair per user.
# ---------------------------------------------------------------------------

_INCIDENT_VALUE = 150.0
_INCIDENT_WINDOW_H = 2
_RANGE_BIN_US = _INCIDENT_WINDOW_H * 3600 * 1_000_000  # bin == max width


@register(
    "range_join_incidents",
    oracle=f"""
    WITH i AS (
      SELECT event_id AS incident_id, user_id, ts AS start_ts
      FROM events WHERE value >= {_INCIDENT_VALUE}
    )
    SELECT i.incident_id, e.event_id, e.user_id,
           CAST(epoch_us(e.ts) - epoch_us(i.start_ts) AS BIGINT) AS delta_us
    FROM i JOIN events e
      ON i.user_id = e.user_id
     AND e.ts >= i.start_ts
     AND e.ts < i.start_ts + INTERVAL {_INCIDENT_WINDOW_H} HOUR
    """,
    tags=("join", "range-join", "binned", "beyond-reference"),
)
def range_join_incidents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join: every event that falls inside the
    2-hour window opened by a same-user high-value "incident" event.
    Semantically an inequality join — which OSS Spark plans as a
    BroadcastNestedLoopJoin (every point tested against every interval
    of the join group, no hash pruning). Rewritten here as the
    standard BIN-BUCKETED equi-join: bin width = max interval width,
    so each interval overlaps at most 2 bins (exploded via a 2-element
    sequence) while each point lands in exactly 1 — the join becomes a
    hash join on (user_id, bin) with the exact predicate as a cheap
    post-filter, and no (point, interval) pair can match twice, so no
    dedup pass is needed.

    Scale shape: the rewrite is what the Databricks range-join hint
    does under the hood, expressed as composition so it runs on any
    Spark. Cost is ≤2x replication of the (small) interval side vs the
    nested-loop's |points|x|intervals| comparisons per user; at 100 TB
    the bin column also makes the shuffle key (user_id, bin), so skew
    from hot users spreads across their time range instead of one
    reducer. Bin width trades interval replication (narrower bins,
    more copies) against post-filter selectivity (wider bins, more
    false candidates); width = max interval is the standard choice."""
    ev = load_table(spark, sf_dir, "events")

    # ts arrives as TIMESTAMP_NTZ; timestampdiff from the NTZ epoch is
    # the timezone-free micros value (unix_micros rejects NTZ, and a
    # cast to TIMESTAMP would make bins session-timezone-dependent).
    def us_of(col: str) -> F.Column:
        return F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})"
        )

    points = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.floor(us_of("ts") / _RANGE_BIN_US).alias("bin"),
    )
    intervals = (
        ev.where(F.col("value") >= _INCIDENT_VALUE)
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("user_id"),
            F.col("ts").alias("start_ts"),
        )
        .select(
            "incident_id",
            "user_id",
            "start_ts",
            F.explode(
                F.sequence(
                    F.floor(us_of("start_ts") / _RANGE_BIN_US),
                    F.floor(us_of("start_ts") / _RANGE_BIN_US) + 1,
                )
            ).alias("bin"),
        )
    )
    end_ts = F.col("start_ts") + F.expr(
        f"INTERVAL {_INCIDENT_WINDOW_H} HOURS"
    )
    return (
        points.join(intervals, ["user_id", "bin"])
        .where((F.col("ts") >= F.col("start_ts")) & (F.col("ts") < end_ts))
        .select(
            "incident_id",
            "event_id",
            "user_id",
            F.expr("timestampdiff(MICROSECOND, start_ts, ts)")
            .cast("bigint")
            .alias("delta_us"),
        )
    )

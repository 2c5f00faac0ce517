"""Structured Streaming tests: the streaming plans must agree with
their batch faces, and the merge sink must be idempotent across
micro-batches."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_crm_cross_sell_spark.sources.bronze import load_table
from multi_crm_cross_sell_spark.streaming.sinks import foreach_batch_log
from multi_crm_cross_sell_spark.streaming.trigger import (
    SHUFFLE_PARTITIONS,
    available_now,
)
from multi_crm_cross_sell_spark.streaming.windows import (
    run_available_now,
    stream_source,
    tumbling_agg,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events re-landed as two parquet files (two micro-batches), with
    ts as a plain timestamp (streaming-friendly)."""
    base = tmp_path_factory.mktemp("events_stream")
    ev = load_table(spark, SF, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    ev.where(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(base / "src"), mode="overwrite")
    ev.where(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(base / "src"), mode="append")
    return base


def test_streaming_tumbling_matches_batch(spark, events_dir):
    src = str(events_dir / "src")
    batch_df = spark.read.parquet(src)
    stream = stream_source(spark, src, batch_df.schema)
    agg = tumbling_agg(stream, watermark="0 seconds")
    out = str(events_dir / "out_tumbling")
    ck = str(events_dir / "ck_tumbling")
    run_available_now(agg, ck, out)

    got = spark.read.parquet(out)
    expected = (
        batch_df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    # append-mode emits only watermark-closed windows; every emitted row
    # must match batch truth, and most windows must have been emitted
    g = got.toPandas().set_index(["window_start", "event_type"]).sort_index()
    e = expected.toPandas().set_index(["window_start", "event_type"]).sort_index()
    assert len(g) > 0
    joined = g.join(e, lsuffix="_s", rsuffix="_b", how="left")
    assert (joined["n_events_s"] == joined["n_events_b"]).all()


def test_foreach_batch_merge_idempotent(spark, events_dir, tmp_path):
    src = str(events_dir / "src")
    schema = spark.read.parquet(src).schema
    # force one file per micro-batch so the same key can recur
    stream = stream_source(spark, src, schema, max_files_per_trigger=1)
    target = str(tmp_path / "log")
    ck = str(tmp_path / "ck")
    foreach_batch_log(stream, target, ck, key_cols=["event_id"])
    got = spark.read.parquet(target)
    n = got.count()
    assert n == got.select("event_id").distinct().count()
    assert n == spark.read.parquet(src).count()
    # re-run from a FRESH checkpoint (simulated at-least-once redelivery):
    # merge keeps the log duplicate-free
    foreach_batch_log(stream_source(spark, src, schema), target, str(tmp_path / "ck2"), ["event_id"])
    assert spark.read.parquet(target).count() == n


def test_stateful_running_totals(spark, events_dir, tmp_path):
    from multi_crm_cross_sell_spark.streaming.stateful import running_totals

    src = str(events_dir / "src")
    schema = spark.read.parquet(src).schema
    stream = stream_source(spark, src, schema, max_files_per_trigger=1)
    out = str(tmp_path / "out")
    writer = (
        running_totals(stream)
        .writeStream.foreachBatch(
            lambda bdf, _bid: bdf.write.mode("append").parquet(out)
        )
        .outputMode("update")
    )
    q = available_now(spark, writer, str(tmp_path / "ck"))
    assert len(q.recentProgress) == 2
    got = spark.read.parquet(out)
    # last emission per user must equal the batch ground truth
    last = (
        got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("total_value").alias("tv"))
    )
    truth = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(F.count("*").alias("n_b"), F.sum("value").alias("tv_b"))
    )
    j = last.join(truth, "user_id").toPandas()
    assert len(j) > 0
    assert (j["n_events"] == j["n_b"]).all()
    assert (abs(j["tv"] - j["tv_b"]) < 1e-6).all()
    # two micro-batches -> users seen in both emit twice (update
    # stream), and their second row carries the first batch's state
    assert got.count() > last.count()


def _running_totals_writer(spark, tmp_path, fail: bool = False):
    from multi_crm_cross_sell_spark.streaming.stateful import running_totals

    src = str(tmp_path / "src")
    load_table(spark, SF, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).coalesce(1).write.parquet(src)
    stream = stream_source(spark, src, spark.read.parquet(src).schema)
    out = str(tmp_path / "out")

    def write(bdf, _bid):
        if fail:
            raise RuntimeError("batch sink failed")
        bdf.write.mode("append").parquet(out)

    return running_totals(stream).writeStream.foreachBatch(write).outputMode("update")


@pytest.fixture
def caller_partitions(spark):
    """The test session's shuffle partition count set to a value that
    differs from defaultParallelism, restored afterwards."""
    old = spark.conf.get(SHUFFLE_PARTITIONS)
    spark.conf.set(SHUFFLE_PARTITIONS, "7")
    assert spark.sparkContext.defaultParallelism != 7
    yield "7"
    spark.conf.set(SHUFFLE_PARTITIONS, old)


def test_running_totals_state_operator_is_native(spark, tmp_path, caller_partitions):
    """running_totals runs in the JVM state store (no Python worker),
    with one state partition per core, and the caller's session keeps
    its own shuffle partition count."""
    q = available_now(spark, _running_totals_writer(spark, tmp_path), str(tmp_path / "ck"))
    op = q.lastProgress["stateOperators"][0]
    assert op["operatorName"] == "stateStoreSave"
    assert op["numShufflePartitions"] == spark.sparkContext.defaultParallelism
    plan = q._jsq.explainInternal(True)
    assert "StateStoreSave" in plan
    assert "pandas" not in plan.lower()
    assert spark.conf.get(SHUFFLE_PARTITIONS) == caller_partitions


def test_available_now_restores_partitions_when_query_raises(
    spark, tmp_path, caller_partitions
):
    from pyspark.errors import StreamingQueryException

    writer = _running_totals_writer(spark, tmp_path, fail=True)
    with pytest.raises(StreamingQueryException, match="batch sink failed"):
        available_now(spark, writer, str(tmp_path / "ck"))
    assert spark.conf.get(SHUFFLE_PARTITIONS) == caller_partitions


def test_available_now_leaves_unset_partitions_unset(spark, tmp_path):
    old = spark.conf.get(SHUFFLE_PARTITIONS)
    spark.conf.unset(SHUFFLE_PARTITIONS)
    try:
        q = available_now(
            spark, _running_totals_writer(spark, tmp_path), str(tmp_path / "ck")
        )
        assert spark.conf.get(SHUFFLE_PARTITIONS, None) is None
    finally:
        spark.conf.set(SHUFFLE_PARTITIONS, old)
    op = q.lastProgress["stateOperators"][0]
    assert op["numShufflePartitions"] == spark.sparkContext.defaultParallelism


def test_stateful_dedup_exactly_once(spark, events_dir, tmp_path):
    """Two files of the same events run as two micro-batches: the second
    batch emits nothing, so the dedup state carried across them. The
    state lives in the JVM dedup operator, one state partition per
    core, and no Python worker runs."""
    from multi_crm_cross_sell_spark.streaming.stateful import stateful_dedup

    src_dup = str(tmp_path / "dup_src")
    ev = spark.read.parquet(str(events_dir / "src"))
    # land the SAME events twice as two files -> duplicate micro-batches
    ev.coalesce(1).write.parquet(src_dup, mode="overwrite")
    ev.coalesce(1).write.parquet(src_dup, mode="append")
    stream = stream_source(spark, src_dup, ev.schema, max_files_per_trigger=1)
    out = str(tmp_path / "out")
    writer = (
        stateful_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .outputMode("append")
    )
    q = available_now(spark, writer, str(tmp_path / "ck"))
    got = spark.read.parquet(out)
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()
    assert len(q.recentProgress) == 2
    op = q.lastProgress["stateOperators"][0]
    assert op["operatorName"] == "dedupe"
    assert op["numShufflePartitions"] == spark.sparkContext.defaultParallelism
    assert "pandas" not in q._jsq.explainInternal(True).lower()


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_event_id_unique_fixture_invariant(spark, sf_dir):
    """The stateful_streaming_dedup oracle (SELECT * FROM events) is
    only correct if event_id is unique in the source table — a
    duplicate id would be collapsed by the dedup and fail the oracle
    for a data reason. Pin the fixture invariant here so a testdata
    change fails loudly at the right place (plans/events.py documents
    the dependency next to the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("nd"),
    ).collect()[0]
    assert row.n == row.nd, (
        f"events.event_id not unique at {sf_dir}: {row.n} rows, "
        f"{row.nd} distinct — stateful_streaming_dedup's oracle "
        "assumption is broken"
    )


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """The watermarked stream-stream interval join must emit exactly
    the pairs the batch bin-bucketed range join finds on the same
    data (plans/events.range_join_incidents semantics)."""
    from multi_crm_cross_sell_spark.streaming.joins import interval_join

    src = str(events_dir / "src")
    batch_df = spark.read.parquet(src)
    stream = stream_source(spark, src, batch_df.schema)
    joined = interval_join(stream)
    out = str(events_dir / "out_ijoin")
    ck = str(events_dir / "ck_ijoin")
    run_available_now(joined, ck, out)

    got = {
        (r.incident_id, r.event_id, r.delta_us)
        for r in spark.read.parquet(out).collect()
    }
    i = batch_df.where(F.col("value") >= 150.0).select(
        F.col("event_id").alias("incident_id"),
        F.col("user_id").alias("i_user_id"),
        F.col("ts").alias("start_ts"),
    )
    expected = {
        (r.incident_id, r.event_id, r.delta_us)
        for r in batch_df.join(
            i,
            (F.col("user_id") == F.col("i_user_id"))
            & (F.col("ts") >= F.col("start_ts"))
            & (F.col("ts") < F.col("start_ts") + F.expr("INTERVAL 2 HOURS")),
        )
        .select(
            "incident_id",
            "event_id",
            F.expr("timestampdiff(MICROSECOND, start_ts, ts)")
            .cast("bigint")
            .alias("delta_us"),
        )
        .collect()
    }
    assert got == expected
    assert got, "fixture must produce at least one pair"


def test_drop_duplicates_within_watermark_native(spark, events_dir, tmp_path):
    """Bounded-state streaming dedup (Spark 3.5+
    dropDuplicatesWithinWatermark) keeps the contract of
    streaming/stateful.stateful_dedup on the doubled stream: every
    event_id exactly once. It is the engine's form for a stream whose
    dedup state must be bounded: the watermark drops a key from state
    once event time has passed it, where stateful_dedup keeps every
    key."""
    src = str(events_dir / "src")
    batch_df = spark.read.parquet(src)
    dup_src = str(tmp_path / "native_dup_src")
    batch_df.coalesce(1).write.parquet(dup_src, mode="overwrite")
    batch_df.coalesce(1).write.parquet(dup_src, mode="append")

    stream = stream_source(spark, dup_src, batch_df.schema)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = str(tmp_path / "native_dedup_out")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "native_dedup_ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(600), "native dedup stream did not finish"
    got = spark.read.parquet(out)
    assert got.count() == batch_df.count()
    assert got.select("event_id").distinct().count() == batch_df.count()


def test_stream_stream_interval_join_multi_batch(spark, events_dir, tmp_path):
    """The real streaming regime: files arrive one micro-batch at a
    time (maxFilesPerTrigger=1), split by TIME so each batch is
    roughly ordered. The 2-hour watermark must keep enough state for
    cross-boundary pairs (an interval opened near the end of file 1
    joining points at the start of file 2) — the result must still be
    exactly the batch theta join."""
    from multi_crm_cross_sell_spark.streaming.joins import interval_join

    src = str(events_dir / "src")
    batch_df = spark.read.parquet(src)
    mid = batch_df.agg(
        F.expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.5)")
    ).collect()[0][0]
    t_src = str(tmp_path / "time_split_src")
    batch_df.where(F.unix_micros("ts") <= mid).coalesce(1).write.parquet(
        t_src, mode="overwrite"
    )
    batch_df.where(F.unix_micros("ts") > mid).coalesce(1).write.parquet(
        t_src, mode="append"
    )

    stream = stream_source(
        spark, t_src, batch_df.schema, max_files_per_trigger=1
    )
    joined = interval_join(stream)
    out = str(tmp_path / "out_ijoin_mb")
    ck = str(tmp_path / "ck_ijoin_mb")
    run_available_now(joined, ck, out)

    got = {
        (r.incident_id, r.event_id)
        for r in spark.read.parquet(out).collect()
    }
    i = batch_df.where(F.col("value") >= 150.0).select(
        F.col("event_id").alias("incident_id"),
        F.col("user_id").alias("i_user_id"),
        F.col("ts").alias("start_ts"),
    )
    expected = {
        (r.incident_id, r.event_id)
        for r in batch_df.join(
            i,
            (F.col("user_id") == F.col("i_user_id"))
            & (F.col("ts") >= F.col("start_ts"))
            & (F.col("ts") < F.col("start_ts") + F.expr("INTERVAL 2 HOURS")),
        )
        .select("incident_id", "event_id")
        .collect()
    }
    assert got == expected
    assert got, "fixture must produce at least one cross-file pair"

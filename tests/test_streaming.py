from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from dbsync_spark.changelog import ORDERS_PAYLOAD_SCHEMA, build_log_orders
from dbsync_spark.operators.apply import live_rows, merge_snapshot
from dbsync_spark.operators.route import SyncRule
from dbsync_spark.streaming.pipeline import SyncPipeline
from tests.compare import assert_matches


def test_streaming_apply_matches_oracle(spark, sf_dir, duck):
    q = entrymod.queries()["q_streaming_apply"]
    assert_matches(q(spark, sf_dir), duck,
                   entrymod.oracle_sql()["q_streaming_apply"])


def test_streaming_incremental_and_restart(spark, sf_dir):
    """Checkpoint semantics: re-running with no new data is a no-op;
    appending new log files applies only the increment."""
    workdir = tempfile.mkdtemp(prefix="dbsync_stream_t_")
    log = build_log_orders(spark, sf_dir).cache()
    first = log.where(F.col("operation") == "I")
    second = log.where(F.col("operation") != "I")

    first.repartition(2).write.mode("append").parquet(f"{workdir}/log")
    rule = SyncRule("db1", "public", "orders", ("o_orderkey",))
    pipe = SyncPipeline(
        spark, rule, ORDERS_PAYLOAD_SCHEMA,
        log_path=f"{workdir}/log", target_path=f"{workdir}/target",
        status_path=f"{workdir}/status", checkpoint_path=f"{workdir}/ckpt")
    pipe.run_to_completion()
    after_first = live_rows(pipe.target.read(spark))
    n_orders = first.count()
    assert after_first.count() == n_orders  # all inserts live
    v1 = pipe.target.state_fingerprint()

    # restart with no new data -> no write to the target at all
    pipe.run_to_completion()
    assert pipe.target.state_fingerprint() == v1

    # append U/D legs -> incremental apply equals full batch LWW
    second.repartition(2).write.mode("append").parquet(f"{workdir}/log")
    pipe.run_to_completion()
    final = live_rows(pipe.target.read(spark))
    from dbsync_spark.operators.apply import last_writer_wins, parse_changes
    expected = last_writer_wins(parse_changes(log, ORDERS_PAYLOAD_SCHEMA),
                                ["o_orderkey"])
    assert final.count() == expected.count()
    assert final.exceptAll(expected).count() == 0


def test_merge_snapshot_out_of_order_and_replay(spark):
    """An older change can never clobber a newer row; replaying a batch is
    a no-op; deletes tombstone (no resurrection by stale updates)."""
    b1 = spark.createDataFrame(
        [(5, "U", 1, "new"), (6, "D", 2, "gone")], ["id", "operation", "k", "v"])
    b0 = spark.createDataFrame(
        [(1, "I", 1, "old"), (2, "I", 2, "old2"), (3, "U", 2, "stale")],
        ["id", "operation", "k", "v"])
    s1 = merge_snapshot(None, b1, ["k"])
    s2 = merge_snapshot(s1, b0, ["k"])  # out-of-order older batch
    live = {r["k"]: r["v"] for r in live_rows(s2).collect()}
    assert live == {1: "new"}  # k=1 keeps newer value, k=2 stays deleted
    s3 = merge_snapshot(s2, b0, ["k"])  # replay
    assert sorted(live_rows(s3).collect()) == sorted(live_rows(s2).collect())


def test_streaming_hourly_counts_with_watermark(spark, sf_dir):
    """A2 streaming form: watermarked tumbling-window counts over a file
    stream equal the batch aggregation once the stream drains."""
    import tempfile

    from dbsync_spark.operators.window_agg import hourly_counts
    from dbsync_spark.sources.tables import read_table

    workdir = tempfile.mkdtemp(prefix="dbsync_wm_")
    events = read_table(spark, sf_dir, "events")
    events.repartition(3).write.parquet(f"{workdir}/events")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{workdir}/events")
    )
    agg = hourly_counts(stream.withWatermark("ts", "2 hours"), "ts")
    q = (
        agg.writeStream.format("memory").queryName("wm_counts")
        .outputMode("complete")
        .option("checkpointLocation", f"{workdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {(r["bucket_start"], r["cnt"])
           for r in spark.sql("SELECT * FROM wm_counts").collect()}
    expected = {(r["bucket_start"], r["cnt"])
                for r in hourly_counts(events, "ts").collect()}
    assert got == expected


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=8, deadline=None)
@given(
    ops=st.lists(
        st.tuples(st.integers(0, 3), st.sampled_from(["I", "U", "D"]),
                  st.integers(0, 99)),
        min_size=1, max_size=20),
    cuts=st.sets(st.integers(1, 19), max_size=3),
)
@pytest.mark.slow
def test_property_merge_snapshot_any_batching(spark, ops, cuts):
    """Invariant: applying a change log through merge_snapshot in ANY
    batch partitioning (including replays of the final batch) equals the
    one-shot LWW reduction."""
    from dbsync_spark.operators.apply import (
        last_writer_wins,
        live_rows,
        merge_snapshot,
    )

    rows = [(i + 1, op, k, v) for i, (k, op, v) in enumerate(ops)]
    df = spark.createDataFrame(rows, ["id", "operation", "k", "v"])
    expected = {(r["k"], r["v"]) for r in last_writer_wins(df, ["k"]).collect()}

    bounds = sorted(b for b in cuts if b < len(rows))
    slices, start = [], 0
    for b in [*bounds, len(rows)]:
        if b > start:
            slices.append(rows[start:b])
            start = b
    snap = None
    for chunk in slices:
        cdf = spark.createDataFrame(chunk, ["id", "operation", "k", "v"])
        snap = merge_snapshot(snap, cdf, ["k"])
    # replay the last chunk (at-least-once delivery)
    cdf = spark.createDataFrame(slices[-1], ["id", "operation", "k", "v"])
    snap = merge_snapshot(snap, cdf, ["k"])
    got = {(r["k"], r["v"]) for r in live_rows(snap).collect()}
    assert got == expected


def test_heartbeat_listener_tracks_progress(spark, sf_dir):
    """M1 via StreamingQueryListener: progress events heartbeat the
    registry; the query reports GREEN right after processing."""
    import tempfile

    from dbsync_spark.monitor.health import GREEN, ComponentRegistry
    from dbsync_spark.monitor.listener import HeartbeatListener

    workdir = tempfile.mkdtemp(prefix="dbsync_hb_")
    registry = ComponentRegistry()
    listener = HeartbeatListener(registry, interval_ms=60000)
    spark.streams.addListener(listener)
    try:
        events = spark.read.parquet(f"{sf_dir}/region.parquet")
        events.write.parquet(f"{workdir}/src")
        q = (
            spark.readStream.schema(events.schema).parquet(f"{workdir}/src")
            .writeStream.format("noop").queryName("hb_test")
            .option("checkpointLocation", f"{workdir}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        import time
        deadline = time.time() + 10
        while time.time() < deadline and not any(
                "hb_test" in k for k in registry.last_beats):
            time.sleep(0.2)  # listener events are async
        statuses = {k: v for k, v in registry.statuses().items() if "hb_test" in k}
        assert statuses, f"no heartbeat recorded: {registry.last_beats}"
        assert all(s == GREEN for s in statuses.values())
    finally:
        spark.streams.removeListener(listener)


def test_streaming_sessionization_matches_batch(spark, sf_dir):
    """session_window as a watermarked streaming agg equals the batch
    session counts once drained."""
    import tempfile

    from pyspark.sql import functions as F

    from dbsync_spark.sources.tables import read_table

    workdir = tempfile.mkdtemp(prefix="dbsync_sess_")
    events = read_table(spark, sf_dir, "events")
    events.repartition(2).write.parquet(f"{workdir}/events")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{workdir}/events"))
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
    )
    q = (sess.writeStream.format("memory").queryName("sess_stream")
         .outputMode("complete")
         .option("checkpointLocation", f"{workdir}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = (spark.sql("SELECT user_id, count(*) AS n FROM sess_stream GROUP BY user_id")
           .collect())
    batch = (events.groupBy(F.session_window(F.col("ts"), "30 minutes"), "user_id")
             .agg(F.count("*").alias("n_events"))
             .groupBy("user_id").agg(F.count("*").alias("n")).collect())
    assert {(r["user_id"], r["n"]) for r in got} == \
           {(r["user_id"], r["n"]) for r in batch}


def test_corrupt_payloads_dead_letter_not_merged(spark, sf_dir):
    """Malformed JSON payloads must ack ERR, never merge as null rows —
    and retry_pass must not resurrect them."""
    workdir = tempfile.mkdtemp(prefix="dbsync_corrupt_t_")
    log = build_log_orders(spark, sf_dir).cache()
    mangled = log.withColumn(
        "data",
        F.when(F.col("id") % 11 == 0, F.lit("{not json"))
        .when(F.col("id") % 13 == 1, F.lit(None).cast("string"))
        .otherwise(F.col("data")))
    mangled.write.mode("append").parquet(f"{workdir}/log")
    n_bad = mangled.where(
        (F.col("id") % 11 == 0) | (F.col("id") % 13 == 1)).count()

    rule = SyncRule("db1", "public", "orders", ("o_orderkey",))
    pipe = SyncPipeline(
        spark, rule, ORDERS_PAYLOAD_SCHEMA,
        log_path=f"{workdir}/log", target_path=f"{workdir}/target",
        status_path=f"{workdir}/status", checkpoint_path=f"{workdir}/ckpt")
    pipe.run_to_completion()

    acks = spark.read.parquet(f"{workdir}/status")
    assert acks.where(F.col("status") == "ERR").count() == n_bad
    assert acks.where((F.col("status") == "ERR")
                      & (F.col("message") == "malformed payload")
                      ).count() == n_bad

    # no null key ever reaches the target
    target = live_rows(pipe.target.read(spark))
    assert target.where(F.col("o_orderkey").isNull()).count() == 0
    # materialize now: the retry_pass MERGE below swaps bucket files out
    # from under this lazy frame
    n_live = target.count()

    # a corrupt-ONLY backlog is not retryable work: malformed payloads are
    # dead letters by construction, so the resolver must report nothing to
    # do (NOT re-read the whole log on every tick forever)
    assert pipe.retry_pass() is False

    # plant one genuinely retryable ERR (valid payload, transient failure):
    # a pass now runs, converges that row, and must STILL not resurrect
    # the malformed dead letters
    good_id = mangled.where((F.col("id") % 11 != 0)
                            & (F.col("id") % 13 != 1)).agg(
        F.min("id")).first()[0]
    acks.limit(0).unionByName(
        spark.createDataFrame(
            [(good_id, "ERR", "boom", 0)],
            "dataId long, status string, message string, retry int")
        .withColumn("createTime", F.current_timestamp())
        .select(*acks.columns)
    ).write.mode("append").parquet(f"{workdir}/status")
    assert pipe.retry_pass() is True
    target2 = live_rows(pipe.target.read(spark))
    assert target2.where(F.col("o_orderkey").isNull()).count() == 0
    assert target2.count() == n_live


def test_streaming_burst_dedup_matches_batch(spark, sf_dir):
    """q_burst_dedup's session_window aggregate runs unchanged as a
    watermarked streaming agg and, once drained, equals the batch
    result (kept event ids + suppressed counts)."""
    import tempfile

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from dbsync_spark.sources.tables import read_table

    workdir = tempfile.mkdtemp(prefix="dbsync_burst_")
    events = read_table(spark, sf_dir, "events")
    events.repartition(2).write.parquet(f"{workdir}/events")

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{workdir}/events"))
    dedup = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window(F.col("ts"), "5 minutes"),
                 "user_id", "event_type")
        .agg(F.min_by("event_id", F.struct(F.col("ts"), F.col("event_id")))
             .alias("event_id"),
             (F.count("*") - 1).alias("n_suppressed"))
        .select("user_id", "event_type", "event_id", "n_suppressed"))
    q = (dedup.writeStream.format("memory").queryName("burst_stream")
         .outputMode("complete")
         .option("checkpointLocation", f"{workdir}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {tuple(r) for r in spark.sql(
        "SELECT user_id, event_type, event_id, n_suppressed "
        "FROM burst_stream").collect()}
    batch = {tuple(r) for r in
             entrymod.queries()["q_burst_dedup"](spark, sf_dir).collect()}
    assert got == batch

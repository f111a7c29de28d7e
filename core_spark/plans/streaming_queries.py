"""Declared streaming queries (non-SQL-expressible: stateful streaming
operators — registered without oracles, driver records rows-only)."""

from __future__ import annotations

import os
import uuid as py_uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from core_spark.io import load_table
from core_spark.plans.message import message_view
from core_spark.plans.registry import query, scope, session_conf
from core_spark.streaming.read_committed import (
    MESSAGE_SCHEMA,
    stream_read_committed,
)


def _to_memory(
    spark: SparkSession, stream: DataFrame, name: str, ckpt: str, mode: str
) -> None:
    """Run `stream` to the end of its input into the memory table
    `name`. Stateful-op parallelism follows spark.sql.shuffle.partitions,
    and a caller session's default (200) means 200 tasks per
    micro-batch for a few thousand rows, so the stream runs at a pinned
    width; the caller's ORDER BY over the table plans at its own."""
    with session_conf(spark, "spark.sql.shuffle.partitions", "16"):
        q = (
            stream.writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .outputMode(mode)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()


@query(
    "q_join1_stream",
    oracle="""
    WITH a AS (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 0
    ),
    b AS (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1
    )
    SELECT a.event_id AS a_event, b.event_id AS b_event,
           a.user_id AS user_id,
           epoch_us(a.ts) AS a_us, epoch_us(b.ts) AS b_us
    FROM a JOIN b ON a.user_id = b.user_id
       AND b.ts BETWEEN a.ts - INTERVAL 5 MINUTE AND a.ts
    ORDER BY a_event, b_event
    """,
)
def q_join1_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join over two co-partitioned
    sources — the streaming form of q_join1.

    Reference: consumer/protocol/protocol.proto:64-78 (a shard reading
    co-partitioned journals "represents a join over messages of
    distinct journals"), read pump consumer/shard.go:373-413. Spark
    form: two file-stream sources advanced in lockstep
    (maxFilesPerTrigger=1 each side, time-ordered chunks), both
    watermarked on event time; the inner join carries a 5-minute
    range predicate so state is evicted as the watermark advances.

    Oracle-checkable: the watermark delay (30 min) exceeds the join
    range plus any cross-chunk disorder, so no qualifying row is ever
    evicted early and the streaming result equals the batch join —
    the DuckDB oracle IS that batch join.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("us")
    )
    a = events.filter(F.col("event_id") % 2 == 0)
    b = events.filter(F.col("event_id") % 2 == 1)

    work = scope().tempdir("q_join1_stream_")
    q1, q2 = events.stat.approxQuantile("us", [1 / 3, 2 / 3], 0.001)
    bounds = [(None, int(q1)), (int(q1), int(q2)), (int(q2), None)]
    for side, df in (("a", a), ("b", b)):
        os.makedirs(os.path.join(work, side))
        for i, (lo, hi) in enumerate(bounds):
            chunk = df
            if lo is not None:
                chunk = chunk.filter(F.col("us") >= lo)
            if hi is not None:
                chunk = chunk.filter(F.col("us") < hi)
            chunk.select("event_id", "user_id", "ts").coalesce(1).write.parquet(
                os.path.join(work, side, f"chunk-{i}.parquet")
            )

    schema = "event_id long, user_id long, ts timestamp"

    def tail(side):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(work, side) + "/*")
        )

    sa = (
        tail("a")
        .select(
            F.col("event_id").alias("a_event"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("a_ts"),
        )
        .withWatermark("a_ts", "30 minutes")
    )
    sb = (
        tail("b")
        .select(
            F.col("event_id").alias("b_event"),
            F.col("user_id").alias("b_user"),
            F.col("ts").alias("b_ts"),
        )
        .withWatermark("b_ts", "30 minutes")
    )
    joined = sa.join(
        sb,
        F.expr(
            "user_id = b_user AND "
            "b_ts BETWEEN a_ts - INTERVAL 5 MINUTES AND a_ts"
        ),
        "inner",
    )

    name = "q_join1_stream_" + py_uuid.uuid4().hex[:8]
    _to_memory(spark, joined, name, os.path.join(work, "ckpt"), "append")
    return spark.sql(
        f"SELECT a_event, b_event, user_id, "
        f"unix_micros(a_ts) AS a_us, unix_micros(b_ts) AS b_us "
        f"FROM {name} ORDER BY a_event, b_event"
    )


from core_spark.operators.sequencer import duck_read_committed
from core_spark.plans.message import DUCK_MESSAGE_VIEW


@query(
    "q_dedup_stream",
    # The streaming sequencer agrees bit-for-bit with the batch window
    # formulation (asserted in tests/test_streaming.py), so the batch
    # DuckDB twin IS this query's oracle — the streaming path gets the
    # full rows+schema+hash gate, not a rows-only pass.
    oracle=duck_read_committed(
        DUCK_MESSAGE_VIEW,
        offset="off",
        select_cols="event_id, user_id, value, off, producer, clock, flags",
    )
    + " ORDER BY off",
)
def q_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read-committed view (keyed-state sequencer; see
    core_spark/streaming/read_committed.py for backend selection).

    Feeds the derived message journal (plans/message.py) through the
    stateful streaming operator in 3 offset-ordered micro-batches and
    returns the emitted set. By construction this equals q_dedup's
    batch result — the batch/streaming agreement is asserted in
    tests/test_streaming.py; here the streaming path itself is the
    declared operator (reference: message/sequencer.go Step loop under
    consumer/transaction.go's micro-batch driver).
    """
    events = load_table(spark, sf_dir, "events")
    msgs = message_view(events).select(
        "event_id", "user_id", "value", "off", "producer", "clock", "flags"
    )
    work = scope().tempdir("q_dedup_stream_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    # Three offset-ordered chunks cut at approximate terciles — pure
    # DataFrame writes, nothing materializes on the driver (the chunk
    # files themselves stream through executors; only the two cut
    # points come back).
    q1, q2 = msgs.stat.approxQuantile("off", [1 / 3, 2 / 3], 0.001)
    bounds = [(None, int(q1)), (int(q1), int(q2)), (int(q2), None)]
    for i, (lo, hi) in enumerate(bounds):
        chunk = msgs
        if lo is not None:
            chunk = chunk.filter(F.col("off") >= lo)
        if hi is not None:
            chunk = chunk.filter(F.col("off") < hi)
        chunk.coalesce(1).write.parquet(os.path.join(src, f"chunk-{i}.parquet"))

    name = "q_dedup_stream_" + py_uuid.uuid4().hex[:8]
    stream = (
        spark.readStream.schema(MESSAGE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    _to_memory(
        spark, stream_read_committed(stream), name,
        os.path.join(work, "ckpt"), "append",
    )
    return spark.sql(
        f"SELECT event_id, user_id, value, off, producer, clock, flags "
        f"FROM {name} ORDER BY off"
    )


@query(
    "q_agg_window_stream",
    oracle="""
    WITH b AS (
      SELECT epoch_us(ts) // 3600000000 AS hr, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT hr * 3600000000 AS win_us, event_type,
           COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY hr, event_type
    ORDER BY win_us, event_type
    """,
)
def q_agg_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation: 1-hour event-time
    windows of per-type counts and integer-cents sums, fed as three
    time-ordered file chunks (maxFilesPerTrigger=1) so the state
    store carries windows across micro-batches.

    Output mode is `complete` so every window is emitted and the
    result equals the batch GROUP BY — which is the DuckDB oracle.
    (In `append` mode the windows past max_ts - watermark never
    finalize, so the tail of the timeline would be missing by
    design; watermarked append-mode state *eviction* is exercised by
    q_join1_stream and the session-window test instead.) Money stays
    in per-row-rounded integer cents — summation-order-proof."""
    events = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    work = scope().tempdir("q_window_stream_")
    q1, q2 = events.stat.approxQuantile("us", [1 / 3, 2 / 3], 0.001)
    bounds = [(None, int(q1)), (int(q1), int(q2)), (int(q2), None)]
    os.makedirs(os.path.join(work, "in"))
    for i, (lo, hi) in enumerate(bounds):
        chunk = events
        if lo is not None:
            chunk = chunk.filter(F.col("us") >= lo)
        if hi is not None:
            chunk = chunk.filter(F.col("us") < hi)
        chunk.select("ts", "event_type", "value").coalesce(1).write.parquet(
            os.path.join(work, "in", f"chunk-{i}.parquet")
        )

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(work, "in") + "/*")
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(ROUND(value * 100) AS BIGINT)")).alias(
                "sum_cents"
            ),
        )
    )
    name = "q_window_stream_" + py_uuid.uuid4().hex[:8]
    _to_memory(spark, agg, name, os.path.join(work, "ckpt"), "complete")
    return spark.sql(
        f"SELECT unix_micros(win.start) AS win_us, event_type, n, sum_cents "
        f"FROM {name} ORDER BY win_us, event_type"
    )

"""Streaming sinks W1-W3 (SURVEY.md §2.8).

The reference's sinks: Redis zincrby per row (W1, streaming.scala:155-186),
a whole-batch-collected-to-driver Kafka producer (W2, streaming.scala:229-230
— an anti-pattern we replace with the distributed Kafka sink), and HDFS JSON
appends (W3, streaming.scala:233).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def to_kafka(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """W2: scored-record stream → Kafka, one message per row, serialized
    JVM-side with to_json — never collected to the driver (unlike
    streaming.scala:229-230, which sends each micro-batch as ONE giant
    JSON-array message built on the driver)."""
    return (
        df.select(F.to_json(F.struct("*")).alias("value"))
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def to_json_archive(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_by: tuple[str, ...] = (),
) -> StreamingQuery:
    """W3: append-mode JSON archive (streaming.scala:233). Partitioning by
    date enables partition pruning on the archive — at 100 TB an unpruned
    JSON directory scan is unusable."""
    writer = (
        df.writeStream.format("json")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer.start()


def websocket_push_sink(
    view: DataFrame,
    send: Callable[[str], None],
    checkpoint_dir: str,
    output_mode: str = "update",
) -> StreamingQuery:
    """W5 engine-side: push each trigger's changed rows to a connected
    client — foreachBatch serializes rows to JSON strings and hands them
    one at a time to ``send`` (a SocketIO emit, websocket.send, any
    callable). The reference couples this to Flask-SocketIO
    (flask/app.py emit loops); here the transport is injected and the
    engine only produces payloads.

    Deliberately driver-side: a push feed fans IN to one socket, so the
    contract is that ``view`` is a small counter/feed view (update-mode
    deltas), never a raw fact stream."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        for row in (
            batch_df.select(F.to_json(F.struct("*")).alias("j")).toLocalIterator()
        ):
            send(row["j"])

    return (
        view.writeStream.foreachBatch(_sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def file_to_kafka_collector(
    spark,
    watch_dir: str,
    brokers: str,
    topic: str,
    checkpoint_dir: str,
    path_glob: str | None = None,
    start: bool = True,
):
    """v3 log-collector parity (reference v3/log_collector.py:18-33: a
    watchdog file-watcher that pushes each appended line to Kafka via a
    driver-side producer). Engine form: file-source stream (directory
    watch with exactly-once file tracking in the checkpoint) → raw lines
    → distributed Kafka sink. No driver-side producer, no missed/double
    lines on restart — the two failure modes of the reference's watcher.

    Returns the started StreamingQuery (or the un-started writer when
    ``start=False``, for environments without a Kafka broker — the
    sandbox case; config is identical either way)."""
    from logvision_spark.sources.readers import read_file_stream

    lines = read_file_stream(spark, watch_dir, path_glob=path_glob)
    writer = (
        lines.select("value")
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint_dir)
    )
    return writer.start() if start else writer


def foreach_batch_kv(
    view: DataFrame,
    write_batch: Callable,
    checkpoint_dir: str,
    output_mode: str = "update",
) -> StreamingQuery:
    """W1 generalized: ship per-trigger counter deltas to any KV store.
    ``write_batch(batch_df, batch_id)`` receives the update-mode rows as
    a SPARK DataFrame (only keys whose counts changed this trigger) —
    call ``.toPandas()``/``.collect()`` inside the hook if the store
    wants local rows; counter deltas are small by construction. The
    zincrby-equivalent hook, checkpoint-fenced so a replayed batch can
    be deduplicated by batch_id (the reference's zincrby double-counts
    on replay)."""
    return (
        view.writeStream.foreachBatch(write_batch)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )

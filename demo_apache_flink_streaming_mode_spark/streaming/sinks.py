"""Streaming sinks (SURVEY.md §2.2).

K1 — file sink: row-format bucketed output with checkpointing
(reference: StreamingFileSink + SimpleStringEncoder,
``chapter2/BasicStreamingOperations.java:105-115``). Spark's file sink
is exactly-once via the checkpoint + file-manifest commit protocol:
each epoch's offset-log entry, state-store deltas, ``_spark_metadata``
manifest and commit-log entry are written to a temp file and renamed
into place by the checkpoint file manager, which ``session``
sets to Spark's ``FileSystemBasedCheckpointFileManager`` (one
``FileSystem.rename`` per file; see ``session.RUNTIME_CONFS``).

K2 — Kafka sink. The reference configures Semantic.EXACTLY_ONCE on its
producer (``chapter4/EventTimeOperations.java:183-220``). Spark's Kafka
sink is AT-LEAST-ONCE (offsets tracked in the checkpoint; a retried
micro-batch can re-send). End-to-end exactly-once needs an idempotent
or transactional consumer downstream — this is a documented semantic
delta, not silently papered over. Use ``foreachBatch`` with your own
transactional producer when the downstream can't dedup.

K3 — console/debug sinks (the reference prints mid-pipeline; we keep
output at the sink where it belongs).
"""

from __future__ import annotations

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def file_sink(df: DataFrame, path: str, checkpoint: str, fmt: str = "csv",
              output_mode: str = "append") -> DataStreamWriter:
    """K1 — exactly-once file sink (csv/parquet/json)."""
    return (df.writeStream.format(fmt)
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode))


def kafka_sink_options(brokers: str, topic: str, checkpoint: str) -> dict[str, str]:
    """K2 option set for Spark's ``kafka`` sink, as one pure dict
    (producer bootstrap.servers + target topic,
    ``chapter4/EventTimeOperations.java:187-206``; checkpointLocation is
    Spark's delivery-tracking anchor). Contract-testable without the
    connector jar."""
    return {
        "kafka.bootstrap.servers": brokers,
        "topic": topic,
        "checkpointLocation": checkpoint,
    }


def kafka_sink(df: DataFrame, brokers: str, topic: str,
               checkpoint: str) -> DataStreamWriter:
    """K2 — Kafka sink (at-least-once; see module docstring).

    Expects string/binary ``key`` and ``value`` columns, the same
    record shape the reference serializes
    (``chapter4/EventTimeOperations.java:187-206``).
    """
    cols = df.columns
    out = df.selectExpr(
        *(["CAST(key AS STRING) AS key"] if "key" in cols else []),
        "CAST(value AS STRING) AS value")
    return (out.writeStream.format("kafka")
            .options(**kafka_sink_options(brokers, topic, checkpoint)))


def idempotent_foreach_batch_sink(df: DataFrame, path: str,
                                  checkpoint: str,
                                  fmt: str = "parquet") -> DataStreamWriter:
    """K2's exactly-once delta closed at the achievable level: a
    ``foreachBatch`` sink whose per-batch write is IDEMPOTENT.

    Spark's retry unit is the micro-batch: after a failure between a
    sink write and the checkpoint commit, the SAME epoch_id is
    replayed with the SAME data. Landing each epoch in its own
    ``epoch=<id>`` subdirectory with ``mode("overwrite")`` makes the
    replay overwrite its previous (possibly partial) attempt instead
    of appending duplicates — end-to-end exactly-once for any
    file/object store, which is what the reference's
    ``Semantic.EXACTLY_ONCE`` producer
    (``chapter4/EventTimeOperations.java:183-220``) amounts to when
    the downstream must not see duplicates. The same epoch-keyed
    recipe carries to transactional stores (epoch_id as the
    transaction/dedup key). At scale the per-epoch directory layout
    is also partition-pruning-friendly for downstream consumers.
    """
    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (batch_df.write.format(fmt).mode("overwrite")
         .save(f"{path}/epoch={epoch_id}"))

    return (df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint))


def console_sink(df: DataFrame, output_mode: str = "append",
                 truncate: bool = False) -> DataStreamWriter:
    """K3 — console sink (the reference's ``.print()``)."""
    return (df.writeStream.format("console")
            .option("truncate", truncate).outputMode(output_mode))


def drain_available(q: StreamingQuery, timeout_s: int = 120,
                    settle_batches: int = 2) -> None:
    """Wait until an availableNow query has consumed all available
    input, then stop it if it is still running.

    Stateless availableNow queries self-terminate and this just waits
    for that. Stateful operators with ``ProcessingTimeTimeout`` do NOT
    self-terminate under availableNow (observed on Spark 4.x: the
    engine keeps scheduling timeout-processing batches indefinitely,
    even after all state is evicted), so source exhaustion is detected
    instead: once ``settle_batches`` consecutive batches read zero
    input rows, every handler output and any due timeout eviction has
    been processed, and the query is stopped explicitly.

    Between polls it waits on the query's own termination, so a query
    that ends by itself returns at once. It never raises for a failed
    query; callers read ``q.exception()``.
    """
    import time

    deadline = time.monotonic() + timeout_s
    zero_batches = 0
    last_batch = None
    while time.monotonic() < deadline and q.isActive:
        p = q.lastProgress
        if p is not None and p["batchId"] != last_batch:
            last_batch = p["batchId"]
            zero_batches = zero_batches + 1 if p["numInputRows"] == 0 else 0
            if zero_batches >= settle_batches:
                break
        try:
            q.awaitTermination(0.25)
        except StreamingQueryException:
            break
    if q.isActive:
        q.stop()
        q.awaitTermination(timeout_s)


def run_to_memory(df: DataFrame, name: str, output_mode: str = "append",
                  timeout_s: int = 120) -> StreamingQuery:
    """Test/debug helper: drain all currently-available input into an
    in-memory table `name` (availableNow + ``drain_available``).

    The memory sink collects to the driver — test-scale only, never a
    production path.
    """
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .trigger(availableNow=True).start())
    drain_available(q, timeout_s)
    return q

"""Kafka edges (reference S2/S4: producer/producer.py:69-92,
consumer/consumer.py:485-518).

The reference hand-manages consumer groups, manual offset commits every 25
events, and sync per-event sends for ordering. Spark-first, all of that
collapses into the built-in Kafka connector + checkpointing:

- source: ``readStream.format("kafka")`` with ``startingOffsets=earliest``;
  offsets live in the checkpoint (exactly-once to idempotent sinks) — no
  hand-rolled commit cadence;
- sink: ``to_json(struct(*))`` -> ``format("kafka")``; the connector batches
  properly (the reference's batch_size=1/linger=0 is an anti-optimization for
  simulation fidelity, deliberately not reproduced);
- ordering: irrelevant to event-time windowed aggregation — order
  independence is a tested property of the engine
  (tests/test_validation.py::test_order_independence).

No Kafka broker (or connector jar) exists in this environment, so the
real-connector round-trip is env-gated; the SAME functions also execute
end-to-end against the file-backed contract double (sources/kafka_fake.py,
``fmt="kafkafake"`` — Spark reserves the short name "kafka" even without
the jar) in tests/test_kafka_optional.py, so serialization, option surface,
offset pacing, and the dead-letter parse all run for real here. The parse
hands each record's ``value`` to the one line verdict
(``operators.validation.tag_lines``) that judges the file sources' lines,
so a record gets the reason and dead-letter ``raw`` its line would get in
``pipeline``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.validation import tag_lines


def kafka_stream_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str | None = None,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fmt: str = "kafka",
    subscribe_pattern: str | None = None,
    fail_on_data_loss: bool | None = None,
) -> DataFrame:
    """Streaming Kafka source -> the tagged frame of ``parse_kafka_values``.

    ``maxOffsetsPerTrigger`` is the engine-native backpressure bound the
    reference approximates with ``max_poll_records`` (consumer.py:491).
    ``subscribe_pattern`` (regex topic subscription, mutually exclusive
    with ``topic``) and ``fail_on_data_loss`` (fail vs reset-and-continue
    when committed records vanished from the broker) map to the
    connector's ``subscribePattern`` / ``failOnDataLoss`` options; both
    are exercised against the file-backed contract double
    (tests/test_kafka_optional.py).
    """
    if (topic is None) == (subscribe_pattern is None):
        raise ValueError("exactly one of topic / subscribe_pattern is required")
    reader = (
        spark.readStream.format(fmt)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("startingOffsets", starting_offsets)
    )
    if topic is not None:
        reader = reader.option("subscribe", topic)
    else:
        reader = reader.option("subscribePattern", subscribe_pattern)
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", max_offsets_per_trigger)
    if fail_on_data_loss is not None:
        reader = reader.option("failOnDataLoss", "true" if fail_on_data_loss else "false")
    raw = reader.load()
    return parse_kafka_values(raw)


def parse_kafka_values(raw: DataFrame) -> DataFrame:
    """value bytes -> the tagged frame ``event_type, event_time, payload,
    reason, raw`` of ``tag_lines``, each value read as one source line."""
    return tag_lines(raw.select(F.col("value").cast("string").alias("value")))


def to_kafka_sink(
    df: DataFrame, bootstrap_servers: str, topic: str, checkpoint: str,
    fmt: str = "kafka",
):
    """Streaming writer: rows -> JSON values on a topic (S2)."""
    return (
        df.selectExpr("to_json(struct(*)) AS value")
        .writeStream.format(fmt)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def write_kafka_batch(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    fmt: str = "kafka",
    num_partitions: int | None = None,
) -> None:
    """Batch writer (the producer's file->topic replay as one job).

    ``num_partitions`` is honored by the file-backed contract double when
    IT creates the topic (a real broker sizes topics itself; the real
    connector ignores the option)."""
    writer = (
        df.selectExpr("to_json(struct(*)) AS value")
        # a topic is append-only; explicit mode also satisfies the Python
        # DataSource write API (rejects the default ErrorIfExists)
        .write.mode("append").format(fmt)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("topic", topic)
    )
    if num_partitions is not None:
        writer = writer.option("numPartitions", num_partitions)
    writer.save()

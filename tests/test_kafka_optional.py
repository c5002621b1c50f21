"""Kafka round-trip smoke (reference S2/S4: producer/producer.py:69-75,
consumer/consumer.py:485-518).

This sandbox has neither a broker nor the spark-sql-kafka connector jar, so
the round-trip skips cleanly here and runs wherever both exist:

    KAFKA_BOOTSTRAP_SERVERS=localhost:9092 \
    PYSPARK_SUBMIT_ARGS="--packages org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version> pyspark-shell" \
    python -m pytest tests/test_kafka_optional.py

The connector-free halves (value parse, dead-letter normalization) are
always-on tests in tests/test_sinks_and_observe.py.
"""

from __future__ import annotations

import os
import socket
import uuid

import pytest

from pyspark.sql import functions as F


def _broker() -> str | None:
    addr = os.environ.get("KAFKA_BOOTSTRAP_SERVERS", "localhost:9092")
    host, _, port = addr.partition(":")
    try:
        with socket.create_connection((host, int(port or 9092)), timeout=1):
            return addr
    except OSError:
        return None


def _connector_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def test_kafka_roundtrip(spark, sf_dir, tmp_path):
    """events -> topic (write_kafka_batch) -> kafka_stream_source ->
    parsed frame must equal the batch adapter's parse of the same rows."""
    broker = _broker()
    if broker is None:
        pytest.skip("no Kafka broker reachable (set KAFKA_BOOTSTRAP_SERVERS)")
    if not _connector_available(spark):
        pytest.skip("spark-sql-kafka connector jar not on the classpath")

    from energy_data_stream_processing_spark.sources.kafka import (
        kafka_stream_source,
        parse_kafka_values,
        write_kafka_batch,
    )
    from energy_data_stream_processing_spark.streaming.runner import run_stream_to_table

    topic = f"events-smoke-{uuid.uuid4().hex[:8]}"
    envelopes = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .limit(200)
        .selectExpr(
            "event_type",
            "cast(ts AS STRING) AS event_time",
            "named_struct('customer_id', cast(user_id AS STRING), "
            "'session_id', cast(event_id AS STRING), 'channel', 'web_portal') AS payload",
        )
    )
    write_kafka_batch(envelopes, broker, topic)

    stream = kafka_stream_source(spark, broker, topic)
    out = run_stream_to_table(spark, stream, mode="append")

    expected = parse_kafka_values(
        envelopes.selectExpr("cast(to_json(struct(*)) AS BINARY) AS value")
    )
    a = sorted(map(tuple, out.select("event_type", "event_time").collect()))
    b = sorted(map(tuple, expected.select("event_type", "event_time").collect()))
    assert a == b
    assert out.where(F.col("reason").isNotNull()).count() == 0


# --------------------------------------------------------------------------
# File-backed fake-broker contract tests: these ALWAYS run. The fake
# (sources/kafka_fake.py, short name "kafkafake" — Spark reserves "kafka"
# in its builtin registry) plugs into write_kafka_batch / to_kafka_sink /
# kafka_stream_source via their fmt override, so serialization, option
# surface, offset pacing, and the dead-letter parse all run for real
# instead of skipping.
# --------------------------------------------------------------------------
@pytest.fixture(scope="module")
def fake_broker(spark):
    from energy_data_stream_processing_spark.sources.kafka_fake import (
        FileKafkaDataSource,
    )

    try:
        spark.dataSource.register(FileKafkaDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    return spark


def _drain(stream_df, ckpt):
    """Drain a paced Python-DataSource stream (availableNow unsupported
    there) via foreachBatch + processAllAvailable; returns per-batch rows."""
    batches = []

    def fold(df, batch_id):
        rows = df.collect()
        if rows:
            batches.append(rows)

    q = (
        stream_df.writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return batches


def _envelopes(spark, sf_dir, n=120):
    return (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .limit(n)
        .selectExpr(
            "event_type",
            "cast(ts AS STRING) AS event_time",
            "named_struct('customer_id', cast(user_id AS STRING), "
            "'session_id', cast(event_id AS STRING), 'channel', 'web_portal') AS payload",
        )
    )


def test_fake_kafka_batch_write_stream_read_roundtrip(fake_broker, sf_dir, tmp_path):
    """events -> write_kafka_batch -> kafka_stream_source (paced micro-
    batches) must reproduce the batch parse of the same rows, every row valid."""
    from energy_data_stream_processing_spark.sources.kafka import (
        kafka_stream_source,
        parse_kafka_values,
        write_kafka_batch,
    )

    spark = fake_broker
    broker = str(tmp_path / "broker")
    topic = "events-contract"
    envelopes = _envelopes(spark, sf_dir)
    write_kafka_batch(envelopes, broker, topic, fmt="kafkafake")

    stream = kafka_stream_source(
        spark, broker, topic, max_offsets_per_trigger=50, fmt="kafkafake"
    )
    batches = _drain(stream, str(tmp_path / "ckpt"))
    expected = parse_kafka_values(
        envelopes.selectExpr("cast(to_json(struct(*)) AS BINARY) AS value")
    )
    a = sorted((r["event_type"], r["event_time"]) for b in batches for r in b)
    b = sorted(map(tuple, expected.select("event_type", "event_time").collect()))
    assert a == b and len(a) == 120
    # maxOffsetsPerTrigger pacing: 120 records at 50/trigger => >= 3 batches
    assert len([x for x in batches if x]) >= 3
    assert all(len(x) <= 50 for x in batches)
    assert all(r["reason"] is None for x in batches for r in x)


def test_fake_kafka_corrupt_record_diverts(fake_broker, sf_dir, tmp_path):
    """A rogue non-JSON record on the topic must surface through the
    dead-letter reason and raw columns, not crash the parse."""
    import base64
    import json as _json

    from energy_data_stream_processing_spark.sources.kafka import (
        kafka_stream_source,
        write_kafka_batch,
    )

    spark = fake_broker
    broker = str(tmp_path / "broker")
    topic = "events-corrupt"
    write_kafka_batch(_envelopes(spark, sf_dir, n=10), broker, topic, fmt="kafkafake")
    rogue = base64.b64encode(b"this is not json").decode("ascii")
    with open(f"{broker}/{topic}/zzz-rogue.jsonl", "w") as f:
        f.write(_json.dumps({"key": None, "value": rogue}) + "\n")

    batches = _drain(
        kafka_stream_source(spark, broker, topic, fmt="kafkafake"),
        str(tmp_path / "ckpt"),
    )
    rows = [r for b in batches for r in b]
    assert len(rows) == 11
    assert [(r["reason"], r["raw"]) for r in rows if r["reason"] is not None] == [
        ("Malformed JSON", "this is not json")
    ]
    assert sum(1 for r in rows if r["event_type"] is not None) == 10


def test_fake_kafka_streaming_sink_roundtrip(fake_broker, sf_dir, tmp_path):
    """to_kafka_sink (writeStream format kafka) -> batch read back: every
    micro-batch row must land exactly once as a JSON value."""
    import json as _json

    from energy_data_stream_processing_spark.sources.kafka import to_kafka_sink

    spark = fake_broker
    broker = str(tmp_path / "broker")
    topic = "events-sink"
    src_dir = str(tmp_path / "src")
    envelopes = _envelopes(spark, sf_dir, n=60)
    envelopes.write.mode("overwrite").parquet(src_dir)

    stream = (
        spark.readStream.schema(envelopes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        to_kafka_sink(stream, broker, topic, str(tmp_path / "ckpt"), fmt="kafkafake")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    back = (
        spark.read.format("kafkafake")
        .option("kafka.bootstrap.servers", broker)
        .option("subscribe", topic)
        .load()
        .selectExpr("cast(value AS STRING) AS v")
        .collect()
    )
    got = sorted(
        (d["event_type"], d["event_time"])
        for d in (_json.loads(r["v"]) for r in back)
    )
    want = sorted(
        map(tuple, envelopes.select("event_type", "event_time").collect())
    )
    assert got == want and len(got) == 60


def test_fake_kafka_stream_checkpoint_restart_no_duplicates(fake_broker, sf_dir, tmp_path):
    """END-TO-END restart through Spark's offset log against the fake
    broker: drain once with maxOffsetsPerTrigger pacing, stop, restart a
    second query on the SAME checkpoint (fresh reader — pacing cursor
    resets). Zero rows may re-emit: the high-watermark clip must hold for
    the kafka-contract reader."""
    from energy_data_stream_processing_spark.sources.kafka import (
        kafka_stream_source,
        write_kafka_batch,
    )

    spark = fake_broker
    broker = str(tmp_path / "broker")
    topic = "events-restart"
    write_kafka_batch(_envelopes(spark, sf_dir, n=40), broker, topic, fmt="kafkafake")
    ckpt = str(tmp_path / "ckpt")
    seen = []

    def run_once():
        stream = kafka_stream_source(
            spark, broker, topic, max_offsets_per_trigger=15, fmt="kafkafake"
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: seen.extend(map(tuple, df.collect()))
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_first = len(seen)
    assert n_first == 40
    run_once()
    assert len(seen) == n_first, f"restart re-emitted {len(seen) - n_first} records"


def test_fake_kafka_restart_consumes_only_new_records(fake_broker, sf_dir, tmp_path):
    """Consumer-group resume semantics e2e: drain the topic, stop, a
    producer appends a second batch, restart from the same checkpoint —
    exactly the new records arrive (the durable committed floor keeps the
    fresh paced reader from regressing below the offset log even across a
    further restart); a third run on the drained topic emits nothing."""
    from energy_data_stream_processing_spark.sources.kafka import (
        kafka_stream_source,
        write_kafka_batch,
    )

    spark = fake_broker
    broker = str(tmp_path / "broker")
    topic = "events-growth"
    env = _envelopes(spark, sf_dir, n=30)
    write_kafka_batch(env.limit(20), broker, topic, fmt="kafkafake")
    ckpt = str(tmp_path / "ckpt")
    seen = []

    def run_once():
        stream = kafka_stream_source(
            spark, broker, topic, max_offsets_per_trigger=7, fmt="kafkafake"
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: seen.extend(
                    (r.event_type, r.event_time) for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    first20 = sorted(
        map(tuple, env.limit(20).select("event_type", "event_time").collect())
    )
    all30 = sorted(map(tuple, env.select("event_type", "event_time").collect()))
    run_once()
    assert sorted(seen) == first20
    write_kafka_batch(env, broker, topic, fmt="kafkafake")  # 30 more records
    run_once()
    assert sorted(seen) == sorted(first20 + all30), "growth restart missed/duplicated"
    run_once()
    assert len(seen) == 50


# --------------------------------------------------------------------------
# Per-option contract tests (round-7: the fake-broker surface now covers
# every option sources/kafka.py claims — subscribePattern, failOnDataLoss,
# startingOffsets=latest — one named test per option).
# --------------------------------------------------------------------------
def test_fake_kafka_subscribe_pattern_merges_matching_topics(
    fake_broker, sf_dir, tmp_path
):
    """subscribePattern: a regex subscription must read every matching
    topic (and only those), each record carrying its own topic name —
    the connector's multi-topic pattern subscribe."""
    from energy_data_stream_processing_spark.sources.kafka import (
        kafka_stream_source,
        write_kafka_batch,
    )

    spark = fake_broker
    broker = str(tmp_path / "broker")
    env = _envelopes(spark, sf_dir, n=30)
    write_kafka_batch(env.limit(10), broker, "events-a", fmt="kafkafake")
    write_kafka_batch(env.limit(20), broker, "events-b", fmt="kafkafake")
    write_kafka_batch(env, broker, "other", fmt="kafkafake")  # must NOT match

    stream = kafka_stream_source(
        spark, broker, subscribe_pattern="events-.*", fmt="kafkafake"
    )
    batches = _drain(stream, str(tmp_path / "ckpt"))
    rows = [r for b in batches for r in b]
    assert len(rows) == 30  # 10 + 20, "other" excluded

    # topic attribution check at the raw layer (parse drops the column)
    raw = (
        spark.read.format("kafkafake")
        .option("kafka.bootstrap.servers", broker)
        .option("subscribePattern", "events-.*")
        .load()
    )
    per_topic = {r["topic"]: r["cnt"] for r in raw.groupBy("topic").count()
                 .withColumnRenamed("count", "cnt").collect()}
    assert per_topic == {"events-a": 10, "events-b": 20}


def test_fake_kafka_subscribe_pattern_discovers_new_topic(
    fake_broker, sf_dir, tmp_path
):
    """A topic created AFTER the query started must be picked up at the
    next trigger (dynamic pattern subscription)."""
    from energy_data_stream_processing_spark.sources.kafka import (
        kafka_stream_source,
        write_kafka_batch,
    )

    spark = fake_broker
    broker = str(tmp_path / "broker")
    env = _envelopes(spark, sf_dir, n=25)
    write_kafka_batch(env.limit(10), broker, "ev-one", fmt="kafkafake")

    seen = []
    stream = kafka_stream_source(
        spark, broker, subscribe_pattern="ev-.*", fmt="kafkafake"
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: seen.extend(map(tuple, df.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert len(seen) == 10
        write_kafka_batch(env.limit(15), broker, "ev-two", fmt="kafkafake")
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(seen) == 25, "mid-query topic not discovered by the pattern"


def test_fake_kafka_starting_offsets_latest_skips_history(
    fake_broker, sf_dir, tmp_path
):
    """startingOffsets=latest: records already on the topic when the query
    starts are skipped; only post-start appends arrive."""
    from energy_data_stream_processing_spark.sources.kafka import (
        kafka_stream_source,
        write_kafka_batch,
    )

    spark = fake_broker
    broker = str(tmp_path / "broker")
    topic = "events-latest"
    env = _envelopes(spark, sf_dir, n=30)
    write_kafka_batch(env.limit(12), broker, topic, fmt="kafkafake")  # history

    seen = []
    stream = kafka_stream_source(
        spark, broker, topic, starting_offsets="latest", fmt="kafkafake"
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: seen.extend(map(tuple, df.collect()))
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert seen == []  # history skipped
        write_kafka_batch(env.limit(30), broker, topic, fmt="kafkafake")
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(seen) == 30  # exactly the post-start batch


def test_fake_kafka_fail_on_data_loss_true_fails_query(fake_broker, tmp_path):
    """failOnDataLoss default (true): committed records vanishing from the
    broker (truncation) must fail the reader loudly."""
    import json as _json
    import shutil

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    topic_dir = tmp_path / "broker" / "ev"
    topic_dir.mkdir(parents=True)
    recs = [_json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(6)]
    (topic_dir / "batch-0.jsonl").write_text("\n".join(recs) + "\n")
    opts = {"kafka.bootstrap.servers": str(tmp_path / "broker"), "subscribe": "ev"}

    r = _FakeKafkaStreamReader(opts)
    end = r.latestOffset()
    assert end["topics"]["ev"] == 6
    r.commit(end)

    (topic_dir / "batch-0.jsonl").unlink()  # broker truncates the topic
    r2 = _FakeKafkaStreamReader(opts)  # restart picks up the durable floor
    with pytest.raises(RuntimeError, match="data loss detected on topic ev"):
        r2.latestOffset()
    shutil.rmtree(topic_dir)


def test_fake_kafka_fail_on_data_loss_false_warns_and_continues(
    fake_broker, tmp_path
):
    """failOnDataLoss=false: the same truncation warns and resets instead
    of failing; the reader keeps serving what is available."""
    import json as _json

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    topic_dir = tmp_path / "broker" / "ev"
    topic_dir.mkdir(parents=True)
    recs = [_json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(6)]
    (topic_dir / "batch-0.jsonl").write_text("\n".join(recs) + "\n")
    opts = {
        "kafka.bootstrap.servers": str(tmp_path / "broker"),
        "subscribe": "ev",
        "failOnDataLoss": "false",
    }

    r = _FakeKafkaStreamReader(opts)
    end = r.latestOffset()
    r.commit(end)
    (topic_dir / "batch-0.jsonl").unlink()
    r2 = _FakeKafkaStreamReader(opts)
    with pytest.warns(RuntimeWarning, match="data loss on topic ev"):
        out = r2.latestOffset()
    assert out["topics"]["ev"] == 0  # reset to the available end, no raise


def test_fake_kafka_data_loss_false_recovers_new_appends(fake_broker, tmp_path):
    """Round-7 review fix: after a failOnDataLoss=false reset the reader
    must actually RECOVER — records appended after the loss are delivered,
    the warning does not re-fire on loss-free triggers, and the stale
    offset-log start cannot clip the rebased range."""
    import json as _json
    import warnings as _w

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    topic_dir = tmp_path / "broker" / "ev"
    topic_dir.mkdir(parents=True)
    recs = [_json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(6)]
    (topic_dir / "batch-0.jsonl").write_text("\n".join(recs) + "\n")
    opts = {
        "kafka.bootstrap.servers": str(tmp_path / "broker"),
        "subscribe": "ev",
        "failOnDataLoss": "false",
    }
    r = _FakeKafkaStreamReader(opts)
    end = r.latestOffset()
    r.commit(end)  # floor 6, sidecar 6
    (topic_dir / "batch-0.jsonl").unlink()  # topic truncated to 0

    r2 = _FakeKafkaStreamReader(opts)  # restart
    with pytest.warns(RuntimeWarning, match="data loss on topic ev"):
        r2.latestOffset()  # detects, rebases cursors + sidecar
    # producer appends 3 new records after the loss
    (topic_dir / "batch-1.jsonl").write_text("\n".join(recs[:3]) + "\n")
    with _w.catch_warnings():
        _w.simplefilter("error")  # loss-free trigger must not warn again
        end2 = r2.latestOffset()
    assert end2["topics"]["ev"] == 3
    # the stale offset-log start (6, pre-truncation) must not clip delivery
    parts = r2.partitions({"topics": {"ev": 6}}, end2)
    assert [(p.start, p.end) for p in parts] == [(0, 3)]
    assert len(list(r2.read(parts[0]))) == 3
    # restart AFTER recovery: rebased sidecar -> no re-detection
    r3 = _FakeKafkaStreamReader(opts)
    with _w.catch_warnings():
        _w.simplefilter("error")
        assert r3.latestOffset()["topics"]["ev"] == 3


def test_fake_kafka_pattern_deleted_topic_is_data_loss(fake_broker, tmp_path):
    """Round-7 review fix: under subscribePattern a DELETED topic must
    still trigger failOnDataLoss (the isdir filter silently dropped it
    before) — whole-topic deletion is data loss like truncation."""
    import json as _json
    import shutil

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    root = tmp_path / "broker"
    for t in ("ev-one", "ev-two"):
        (root / t).mkdir(parents=True)
        (root / t / "b.jsonl").write_text(
            "\n".join(_json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(4))
            + "\n"
        )
    opts = {
        "kafka.bootstrap.servers": str(root),
        "subscribePattern": "ev-.*",
    }
    r = _FakeKafkaStreamReader(opts)
    end = r.latestOffset()
    assert end["topics"] == {"ev-one": 4, "ev-two": 4}
    r.commit(end)
    shutil.rmtree(root / "ev-two")  # broker deletes a subscribed topic
    with pytest.raises(RuntimeError, match="data loss detected on topic ev-two"):
        r.latestOffset()


def test_fake_kafka_old_offset_shape_restart_compat(fake_broker, tmp_path):
    """Round-7 review fix: a checkpoint written by the pre-round-7 reader
    (offset JSON {'offset': N}) must restart WITHOUT re-emitting the
    committed range, and commits of the old shape must advance the floor."""
    import json as _json

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    topic_dir = tmp_path / "broker" / "events"
    topic_dir.mkdir(parents=True)
    recs = [_json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(8)]
    (topic_dir / "b.jsonl").write_text("\n".join(recs) + "\n")
    opts = {"kafka.bootstrap.servers": str(tmp_path / "broker"), "subscribe": "events"}

    r = _FakeKafkaStreamReader(opts)
    # old-shape START from a round-6 offset log: only records >= 5 re-emit
    parts = r.partitions({"offset": 5}, {"topics": {"events": 8}})
    assert [(p.start, p.end) for p in parts] == [(5, 8)]
    # old-shape COMMIT advances the durable floor
    r.commit({"offset": 8})
    r2 = _FakeKafkaStreamReader(opts)
    assert r2._floor == {"events": 8}


def test_fake_kafka_data_loss_recovery_survives_restart(fake_broker, tmp_path):
    """Round-7 second review fix: the failOnDataLoss=false rebase is
    DURABLE — after detection, a crash-and-restart reader that replays the
    pre-crash in-flight batch (stale start 6, WAL'd end 0) must not
    re-poison its cursor, must not re-warn on loss-free triggers, and must
    deliver records appended after the loss."""
    import json as _json
    import warnings as _w

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    topic_dir = tmp_path / "broker" / "ev"
    topic_dir.mkdir(parents=True)
    recs = [_json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(6)]
    (topic_dir / "batch-0.jsonl").write_text("\n".join(recs) + "\n")
    opts = {
        "kafka.bootstrap.servers": str(tmp_path / "broker"),
        "subscribe": "ev",
        "failOnDataLoss": "false",
    }
    r = _FakeKafkaStreamReader(opts)
    r.commit(r.latestOffset())  # committed 6
    (topic_dir / "batch-0.jsonl").unlink()  # truncation
    with pytest.warns(RuntimeWarning, match="data loss on topic ev"):
        end = _FakeKafkaStreamReader(opts).latestOffset()  # reader A: detect+rebase
    assert end["topics"]["ev"] == 0
    # reader A crashes before committing; restart reader B replays the
    # WAL'd in-flight batch (start = stale pre-loss 6, end = rebased 0)
    b = _FakeKafkaStreamReader(opts)
    with _w.catch_warnings():
        _w.simplefilter("error")  # B must NOT re-detect (durable rebase)
        parts = b.partitions({"topics": {"ev": 6}}, {"topics": {"ev": 0}})
        assert [(p.start, p.end) for p in parts] == [(0, 0)]  # nothing re-emitted
        # producer appends 3 fresh records after the loss
        (topic_dir / "batch-1.jsonl").write_text("\n".join(recs[:3]) + "\n")
        end2 = b.latestOffset()
        assert end2["topics"]["ev"] == 3  # new records visible, no warning
        parts = b.partitions({"topics": {"ev": 0}}, end2)
    assert len(list(b.read(parts[0]))) == 3  # ...and delivered


def test_fake_kafka_lost_sidecar_restart_keeps_exactly_once(fake_broker, tmp_path):
    """The rebase recognition in partitions() must NOT weaken the
    lost-sidecar guard: with the sidecar gone (best-effort write failed), a
    regressed WAL end below the offset-log start still emits nothing and
    keeps the high-watermark clip."""
    import json as _json

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    topic_dir = tmp_path / "broker" / "ev"
    topic_dir.mkdir(parents=True)
    recs = [_json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(10)]
    (topic_dir / "batch-0.jsonl").write_text("\n".join(recs) + "\n")
    opts = {
        "kafka.bootstrap.servers": str(tmp_path / "broker"),
        "subscribe": "ev",
        "failOnDataLoss": "false",  # even in permissive mode
    }
    r = _FakeKafkaStreamReader(opts)  # fresh reader, NO sidecar anywhere
    parts = r.partitions({"topics": {"ev": 10}}, {"topics": {"ev": 5}})
    assert [(p.start, p.end) for p in parts] == [(10, 10)]  # clip holds
    assert r._hw["ev"] == 10


def test_fake_kafka_pattern_topic_deleted_while_stopped(fake_broker, tmp_path):
    """Round-7 second review fix: a pattern-subscribed topic deleted while
    the QUERY WAS STOPPED must still trigger data-loss detection on
    restart — the committed floor survives in the topic's sidecar even
    though the directory is gone. Requires commit_id namespacing: only a
    namespaced sidecar provably belongs to THIS query's lineage (third
    review pass — adopting foreign un-namespaced sidecars would brick a
    query on topics it never consumed)."""
    import json as _json
    import shutil

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    root = tmp_path / "broker"
    for t in ("ev-one", "ev-two"):
        (root / t).mkdir(parents=True)
        (root / t / "b.jsonl").write_text(
            "\n".join(_json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(4))
            + "\n"
        )
    opts = {
        "kafka.bootstrap.servers": str(root),
        "subscribePattern": "ev-.*",
        "commit_id": "q1",
    }
    r = _FakeKafkaStreamReader(opts)
    r.commit(r.latestOffset())  # durable floors for both topics
    shutil.rmtree(root / "ev-two")

    r2 = _FakeKafkaStreamReader(opts)  # restart AFTER the deletion
    with pytest.raises(RuntimeError, match="data loss detected on topic ev-two"):
        r2.latestOffset()

    # ...but a FRESH query (new lineage) over the same broker must not
    # fail on the long-gone topic's leftover sidecar
    r3 = _FakeKafkaStreamReader(opts)
    r3.initialOffset()  # namespaced -> private reset, no warning
    assert r3.latestOffset()["topics"] == {"ev-one": 4}


def test_fake_kafka_foreign_unnamespaced_sidecar_does_not_brick(
    fake_broker, tmp_path
):
    """Third review pass: a leftover UN-namespaced sidecar from another
    lineage, for a pattern-matching topic this query never consumed, must
    not fail a restarting failOnDataLoss=true query — un-namespaced
    vanished-topic detection is a documented non-feature, not a landmine."""
    import json as _json

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    root = tmp_path / "broker"
    (root / "ev-one").mkdir(parents=True)
    (root / "ev-one" / "b.jsonl").write_text(
        _json.dumps({"key": None, "value": "dGVzdA=="}) + "\n"
    )
    # another lineage's un-namespaced sidecar for a long-gone topic
    (root / "ev-tmp.kafka_commit").write_text(_json.dumps({"offset": 5}))

    opts = {"kafka.bootstrap.servers": str(root), "subscribePattern": "ev-.*"}
    r = _FakeKafkaStreamReader(opts)  # failOnDataLoss defaults to true
    assert r.latestOffset()["topics"] == {"ev-one": 1}  # no RuntimeError


# --------------------------------------------------------------------------
# Round-8 per-partition contract tests: a topic is N partitions with
# per-partition offset sequences (the real connector's offset shape).
# --------------------------------------------------------------------------
def test_fake_kafka_keyed_writes_route_by_key_hash(fake_broker, tmp_path):
    """Keyed records land on crc32(key) % N deterministically; each
    partition's offsets are a contiguous 0-based sequence and records with
    one key keep their relative (per-partition) order."""
    import zlib

    spark = fake_broker
    broker = str(tmp_path / "broker")
    rows = [(f"k{i % 5}", f"v{i}") for i in range(40)]
    # ONE writer task = one producer: Kafka's per-partition ordering
    # guarantee is per-producer; concurrent tasks interleave arbitrarily
    df = spark.createDataFrame(rows, "key string, value string").coalesce(1)
    (
        df.write.mode("append")
        .format("kafkafake")
        .option("kafka.bootstrap.servers", broker)
        .option("topic", "keyed")
        .option("numPartitions", "3")
        .save()
    )
    back = (
        spark.read.format("kafkafake")
        .option("kafka.bootstrap.servers", broker)
        .option("subscribe", "keyed")
        .load()
        .select("key", "value", "partition", "offset")
        .collect()
    )
    assert len(back) == 40
    for r in back:
        key = bytes(r["key"]).decode()
        assert r["partition"] == zlib.crc32(key.encode()) % 3
    # contiguous per-partition offsets, per-key order preserved
    by_pid = {}
    for r in sorted(back, key=lambda r: (r["partition"], r["offset"])):
        by_pid.setdefault(r["partition"], []).append(r)
    assert sorted(by_pid) == [0, 1, 2]  # 5 keys spread over all 3 partitions
    for pid, rs in by_pid.items():
        assert [r["offset"] for r in rs] == list(range(len(rs)))
        per_key = {}
        for r in rs:
            per_key.setdefault(bytes(r["key"]).decode(), []).append(
                int(bytes(r["value"]).decode()[1:])
            )
        for key, seq in per_key.items():
            assert seq == sorted(seq), f"key {key} reordered within partition"


def test_fake_kafka_starting_offsets_per_partition_map(fake_broker, tmp_path):
    """startingOffsets as the connector's JSON per-topic-per-partition map:
    explicit index, -1 (latest), -2 (earliest), unspecified partitions
    default to earliest, out-of-range clamps to the available end."""
    import json as _json

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    topic_dir = tmp_path / "broker" / "ev"
    for pid, n in ((0, 4), (1, 3), (2, 5)):
        (topic_dir / f"p{pid:05d}").mkdir(parents=True)
        (topic_dir / f"p{pid:05d}" / "b0.jsonl").write_text(
            "\n".join(
                _json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(n)
            )
            + "\n"
        )
    (topic_dir / "_meta.json").write_text('{"partitions": 3}')
    opts = {
        "kafka.bootstrap.servers": str(tmp_path / "broker"),
        "subscribe": "ev",
        "startingOffsets": '{"ev": {"0": 2, "1": -1, "2": 99}}',
    }
    r = _FakeKafkaStreamReader(opts)
    init = r.initialOffset()["topics"]["ev"]
    assert init == {"0": 2, "1": 3, "2": 5}  # index / latest / clamped
    # a partition not in the map defaults to earliest
    opts2 = dict(opts, startingOffsets='{"ev": {"1": -1}}')
    r2 = _FakeKafkaStreamReader(opts2)
    assert r2.initialOffset()["topics"]["ev"] == {"0": 0, "1": 3, "2": 0}
    # malformed map fails loudly
    with pytest.raises(ValueError, match="startingOffsets"):
        _FakeKafkaStreamReader(dict(opts, startingOffsets='{"ev": "nope"}'))


def test_fake_kafka_single_partition_loss_leaves_others_alone(fake_broker, tmp_path):
    """failOnDataLoss=false truncation of ONE partition rebases only that
    partition: its sidecar entry is force-rewritten, the sibling
    partition's committed floor and pending records are untouched."""
    import json as _json
    import shutil

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    topic_dir = tmp_path / "broker" / "ev"
    for pid in (0, 1):
        (topic_dir / f"p{pid:05d}").mkdir(parents=True)
        (topic_dir / f"p{pid:05d}" / "b0.jsonl").write_text(
            "\n".join(
                _json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(4)
            )
            + "\n"
        )
    (topic_dir / "_meta.json").write_text('{"partitions": 2}')
    opts = {
        "kafka.bootstrap.servers": str(tmp_path / "broker"),
        "subscribe": "ev",
        "failOnDataLoss": "false",
    }
    r = _FakeKafkaStreamReader(opts)
    end = r.latestOffset()
    assert end["topics"]["ev"] == {"0": 4, "1": 4}
    r.commit(end)
    shutil.rmtree(topic_dir / "p00000")  # truncate partition 0 only

    r2 = _FakeKafkaStreamReader(opts)
    with pytest.warns(RuntimeWarning, match="data loss on topic ev partition 0"):
        out = r2.latestOffset()["topics"]["ev"]
    assert out == {"0": 0, "1": 4}  # partition 1 floor intact
    # 2 fresh records on the lost partition, 1 more on the survivor
    (topic_dir / "p00000").mkdir()
    (topic_dir / "p00000" / "b1.jsonl").write_text(
        "\n".join(_json.dumps({"key": None, "value": "bmV3"}) for _ in range(2)) + "\n"
    )
    with open(topic_dir / "p00001" / "b1.jsonl", "w") as f:
        f.write(_json.dumps({"key": None, "value": "bmV3"}) + "\n")
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")  # loss-free trigger: no re-warning
        end2 = r2.latestOffset()["topics"]["ev"]
    assert end2 == {"0": 2, "1": 5}
    parts = {p.pid: p for p in r2.partitions({"topics": {"ev": out}}, {"topics": {"ev": end2}})}
    assert (parts[0].start, parts[0].end) == (0, 2)  # rebased partition
    assert (parts[1].start, parts[1].end) == (4, 5)  # survivor: only the new record


def test_fake_kafka_trigger_budget_split_proportionally_across_topics(
    fake_broker, tmp_path
):
    """Round-8 advice fix: maxOffsetsPerTrigger is distributed across
    topics proportionally to lag (the connector's allocation), not spent
    in sorted-topic-name order — an alphabetically-early topic can no
    longer swallow the whole budget while others wait."""
    import json as _json

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    root = tmp_path / "broker"
    for t, n in (("aa-early", 30), ("zz-late", 10)):
        (root / t).mkdir(parents=True)
        (root / t / "b0.jsonl").write_text(
            "\n".join(
                _json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(n)
            )
            + "\n"
        )
    opts = {
        "kafka.bootstrap.servers": str(root),
        "subscribePattern": ".*-.*",
        "maxOffsetsPerTrigger": "8",
    }
    r = _FakeKafkaStreamReader(opts)
    end = r.latestOffset()["topics"]
    # lag 30:10 with budget 8 -> 6:2 (proportional), NOT 8:0
    assert end == {"aa-early": 6, "zz-late": 2}
    # and the late topic keeps progressing every trigger even while the
    # early topic still has lag
    end2 = r.latestOffset()["topics"]
    assert end2["zz-late"] > end["zz-late"]
    assert end2["aa-early"] > end["aa-early"]


def test_fake_kafka_unpersistable_rebase_warns(fake_broker, tmp_path, monkeypatch):
    """Round-8 advice fix: when the failOnDataLoss=false rebase cannot be
    persisted to the sidecar (read-only source dir), the reader must WARN
    that a restart may permanently swallow post-loss appends — not fail
    silently."""
    import json as _json

    from energy_data_stream_processing_spark.sources import kafka_fake

    topic_dir = tmp_path / "broker" / "ev"
    topic_dir.mkdir(parents=True)
    (topic_dir / "b0.jsonl").write_text(
        "\n".join(_json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(5))
        + "\n"
    )
    opts = {
        "kafka.bootstrap.servers": str(tmp_path / "broker"),
        "subscribe": "ev",
        "failOnDataLoss": "false",
    }
    r = kafka_fake._FakeKafkaStreamReader(opts)
    r.commit(r.latestOffset())
    (topic_dir / "b0.jsonl").unlink()  # truncation

    monkeypatch.setattr(kafka_fake, "_force_floor", lambda *a, **k: False)
    r2 = kafka_fake._FakeKafkaStreamReader(opts)
    with pytest.warns(RuntimeWarning) as rec:
        r2.latestOffset()
    msgs = [str(w.message) for w in rec]
    assert any("data loss on topic ev" in m for m in msgs)
    assert any("could not persist the data-loss rebase" in m for m in msgs)


def test_fake_kafka_legacy_topic_append_preserves_committed_offsets(tmp_path):
    """Round-8 regression (code review): appends to a LEGACY (metadata-less,
    flat-file) topic must extend the offset sequence, never renumber it.
    The r8 writer's time-stamped file names (``b{time_ns}-...``) sort
    lexicographically BEFORE the r7 writer's ``batch-{uuid}.jsonl``, so a
    plain name sort gave the new records offsets 0..k and shifted every
    pre-existing record up — new records fell below a committed reader
    floor (never delivered) while old ones re-delivered above it."""
    import base64
    import json as _json

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _read_partition,
    )

    topic_dir = tmp_path / "legacy-topic"
    topic_dir.mkdir()
    # a pre-round-8 topic: flat batch-{uuid} files, no _meta.json
    with open(topic_dir / "batch-aaaa.jsonl", "w") as f:
        for v in ("old0", "old1", "old2"):
            f.write(_json.dumps(
                {"key": None, "value": base64.b64encode(v.encode()).decode()}
            ) + "\n")
    before = _read_partition(str(topic_dir), 0)
    assert [r[4] for r in before] == [0, 1, 2]

    # round-8 writer appends through the public writer class
    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaWriter,
    )

    class _Row(dict):
        def asDict(self):
            return dict(self)

    w = _FakeKafkaWriter(
        {"kafka.bootstrap.servers": str(tmp_path), "topic": "legacy-topic"}
    )
    w.write(iter([_Row(key=None, value=b"new0"), _Row(key=None, value=b"new1")]))

    after = _read_partition(str(topic_dir), 0)
    vals = [(r[4], r[1].decode()) for r in after]
    assert vals == [
        (0, "old0"), (1, "old1"), (2, "old2"), (3, "new0"), (4, "new1")
    ], vals


def test_fake_kafka_flat_ordering_append_is_suffix_property():
    """Property (hypothesis): for ANY pre-existing set of flat jsonl names
    (legacy batch-{uuid}, hand-seeded, or stamped) in a topic dir, adding a
    NEW stamped file with a later timestamp never changes the relative
    order of the existing files — appends strictly extend the offset
    sequence. This is the invariant behind the round-8 renumbering fix."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _STAMPED,
        _flat_sorted,
    )

    legacy = st.from_regex(r"batch-[0-9a-f]{8}\.jsonl", fullmatch=True)
    seeded = st.from_regex(r"[a-z][a-z0-9_-]{0,12}\.jsonl", fullmatch=True)
    stamped = st.builds(
        lambda t, u: f"b{t:020d}-{u}.jsonl",
        st.integers(min_value=1, max_value=10**18),
        st.from_regex(r"[0-9a-f]{8}", fullmatch=True),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.one_of(legacy, seeded, stamped), max_size=12, unique=True))
    def prop(names):
        import os
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            for f in names:
                open(os.path.join(d, f), "w").close()
            before = _flat_sorted(d)
            # a later-timestamped append (stamps are time_ns: always larger
            # than any existing stamp here)
            new = f"b{10**19:020d}-deadbeef.jsonl"
            open(os.path.join(d, new), "w").close()
            after = _flat_sorted(d)
            assert after[:-1] == before and after[-1] == new
            # and stamped files always follow every non-stamped file
            kinds = [bool(_STAMPED.match(f)) for f in after]
            assert kinds == sorted(kinds)

    prop()

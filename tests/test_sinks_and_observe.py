"""Sinks + observability edges: parquet upsert idempotence/overwrite
semantics, raw-store partitioning, observe counters, Kafka value parsing
(connector-free part), and the generated JDBC upsert statement."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from energy_data_stream_processing_spark.functions.observe import observed_ingest
from energy_data_stream_processing_spark.operators.hourly import (
    METRIC_COLUMNS,
    hourly_business_metrics,
)
from energy_data_stream_processing_spark.operators.validation import tag_lines
from energy_data_stream_processing_spark.sources.adapter import energy_events
from energy_data_stream_processing_spark.sources.kafka import parse_kafka_values
from energy_data_stream_processing_spark.sources.sinks import (
    jdbc_upsert_statement,
    land_raw_increment,
    read_hourly_metrics_parquet,
    upsert_hourly_metrics_parquet,
)


def test_hourly_upsert_overwrites_touched_hours_only(spark, sf_dir, tmp_path):
    path = str(tmp_path / "metrics")
    hm = hourly_business_metrics(energy_events(spark, sf_dir))
    first_day = hm.where(F.dayofmonth("hour") <= 2)
    rest = hm.where(F.dayofmonth("hour") > 2)

    upsert_hourly_metrics_parquet(spark, first_day, path)
    # simulate a re-flush of the same hours with changed values
    doctored = first_day.withColumn("total_logins", F.col("total_logins") + 100)
    upsert_hourly_metrics_parquet(spark, doctored, path)
    upsert_hourly_metrics_parquet(spark, rest, path)

    stored = read_hourly_metrics_parquet(spark, path)
    assert stored.count() == hm.count()  # no duplicate hour rows
    # touched hours carry the LAST write; untouched hours unaffected
    merged = stored.alias("s").join(hm.alias("h"), "hour")
    drifted = merged.where(
        (F.dayofmonth("hour") <= 2) & (F.col("s.total_logins") != F.col("h.total_logins") + 100)
    ).count()
    assert drifted == 0
    clean = merged.where(
        (F.dayofmonth("hour") > 2) & (F.col("s.total_logins") != F.col("h.total_logins"))
    ).count()
    assert clean == 0


def test_raw_store_partitioned_by_date(spark, sf_dir, tmp_path):
    path = str(tmp_path / "raw")
    ev = energy_events(spark, sf_dir)
    land_raw_increment(ev, path, "b0")
    import os

    partitions = [d for d in os.listdir(f"{path}/_increment_id=b0") if d.startswith("event_date=")]
    assert len(partitions) > 1
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    # partition pruning: a single-day filter must prune at scan time — the
    # partition predicate appears in PartitionFilters (not as a data filter)
    # and the pruned scan reads exactly the one partition's rows.
    day = partitions[0].split("=")[1]
    one_day = back.where(F.col("event_date") == day)
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)", plan)
    assert m and "event_date" in m.group(1), f"no partition filter in scan: {plan[:400]}"
    expected = ev.where(F.to_date("event_time") == day).count()
    assert one_day.count() == expected > 0


def test_observe_counters(spark, tmp_path):
    lines = [
        json.dumps({"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z",
                    "payload": {"customer_id": "C1", "session_id": "1", "channel": "web_portal"}}),
        "not json",
        json.dumps({"event_type": "x"}),
    ]
    p = tmp_path / "ev.jsonl"
    p.write_text("\n".join(lines) + "\n")
    df = tag_lines(spark.read.text(str(p)))
    observed, obs = observed_ingest(df)
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["events_total"] == 3
    assert got["events_valid"] == 1
    assert got["events_failed"] == 2
    assert got["events_malformed"] == 1


def test_kafka_value_parsing_without_broker(spark):
    # parse_kafka_values operates on any frame with a binary `value` column —
    # the connector-free half of the Kafka source.
    rows = [
        (bytearray(json.dumps({"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z",
                               "payload": {"customer_id": "C1", "session_id": "1",
                                           "channel": "web_portal"}}), "utf-8"),),
        (bytearray(b"totally not json"),),
    ]
    raw = spark.createDataFrame(rows, "value binary")
    parsed = parse_kafka_values(raw)
    out = parsed.collect()
    assert len(out) == 2
    ok = [r for r in out if r["reason"] is None]
    bad = [r for r in out if r["reason"] is not None]
    assert len(ok) == 1 and ok[0]["event_type"] == "user_login"
    assert [(r["reason"], r["raw"]) for r in bad] == [("Malformed JSON", "totally not json")]


def test_jdbc_upsert_statement_shape():
    sql = jdbc_upsert_statement("hourly_business_metrics")
    assert sql.startswith("INSERT INTO hourly_business_metrics (hour, ")
    assert "ON CONFLICT (hour) DO UPDATE SET" in sql
    for c in METRIC_COLUMNS:
        assert f"{c} = EXCLUDED.{c}" in sql
    # full-row replacement, never additive merge
    assert "+ EXCLUDED" not in sql


def test_write_batch_partition_idempotent(spark, sf_dir, tmp_path):
    """Retried micro-batch (same batch_id) must not duplicate rows; a new
    batch_id appends."""
    from energy_data_stream_processing_spark.sources.sinks import write_batch_partition

    ev = energy_events(spark, sf_dir)
    b0 = ev.where(F.col("event_id") % 2 == 0)
    b1 = ev.where(F.col("event_id") % 2 == 1)
    path = str(tmp_path / "raw_stream")

    write_batch_partition(b0, path, 0)
    write_batch_partition(b0, path, 0)  # retry of batch 0 — must overwrite, not append
    write_batch_partition(b1, path, 1)

    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    assert back.select("event_id").distinct().count() == ev.count()


def test_streaming_progress_capture(spark, sf_dir):
    from energy_data_stream_processing_spark.functions.observe import ProgressCapture
    from energy_data_stream_processing_spark.streaming.runner import (
        run_stream_to_table,
        stream_raw_events,
    )

    cap = ProgressCapture(spark)
    try:
        out = run_stream_to_table(
            spark,
            stream_raw_events(spark, sf_dir).groupBy("event_type").count(),
            mode="complete",
        )
        n_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
        assert out.count() > 0
        import time

        for _ in range(40):  # listener delivery is async
            if cap.total_rows >= n_rows:
                break
            time.sleep(0.25)
        assert cap.total_rows == n_rows
        assert all("batchId" in b for b in cap.batches)
    finally:
        cap.close()


def test_prometheus_exposition_format(spark, sf_dir, tmp_path):
    """One streaming run + one observed batch ingest rendered as a
    Prometheus text-format snapshot (reference consumer.py:30-37 series)."""
    from energy_data_stream_processing_spark.functions.observe import (
        ProgressCapture,
        failure_rate_alert,
        prometheus_exposition,
    )
    from energy_data_stream_processing_spark.streaming.runner import (
        run_stream_to_table,
        stream_raw_events,
    )

    lines = [
        json.dumps({"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z",
                    "payload": {"customer_id": "C1", "session_id": "1", "channel": "web_portal"}}),
        "not json",
        json.dumps({"event_type": "x"}),
    ]
    p = tmp_path / "ev.jsonl"
    p.write_text("\n".join(lines) + "\n")
    df = tag_lines(spark.read.text(str(p)))
    observed, obs = observed_ingest(df)
    observed.write.format("noop").mode("overwrite").save()

    cap = ProgressCapture(spark)
    try:
        out = run_stream_to_table(
            spark, stream_raw_events(spark, sf_dir).groupBy("event_type").count(), mode="complete"
        )
        assert out.count() > 0
        import time

        for _ in range(40):
            if cap.batches:
                break
            time.sleep(0.25)
    finally:
        cap.close()

    text = prometheus_exposition(ingest_counts=obs.get, batches=cap.batches)
    assert 'events_processed_total{status="success"} 1' in text
    assert 'events_processed_total{status="failed"} 2' in text
    assert 'events_processed_total{status="malformed"} 1' in text
    assert "# TYPE batch_duration_seconds histogram" in text
    assert 'batch_duration_seconds_bucket{le="+Inf"} ' in text
    assert "events_input_rows_total " in text
    # exposition parses: every non-comment line is "name{labels} value"
    for ln in text.strip().splitlines():
        if not ln.startswith("#"):
            name, _, val = ln.rpartition(" ")
            assert name and float(val) >= 0

    # alert rule twin (alerts.yml:5-12): the rate window is floored at one
    # minute (the rule's `for: 1m`), so 6 failures inside the capture exceed
    # 5/min and fire, while 2 failures in a sub-minute capture must NOT be
    # extrapolated into an alert; zero failures never fires.
    assert failure_rate_alert(cap.batches, [6]) is True
    assert failure_rate_alert(cap.batches, [2]) is False
    assert failure_rate_alert(cap.batches, [0]) is False


def test_process_gauges_exposition(spark, sf_dir):
    """Round-11 stretch: the reference dashboard's process-level gauges
    (consumer memory, pool size) twinned as exposition lines — JVM heap,
    Python RSS, task-slot pool, and last-batch state-store bytes from a
    genuinely STATEFUL query's progress."""
    from energy_data_stream_processing_spark.functions.observe import (
        ProgressCapture,
        process_gauges,
        prometheus_exposition,
    )
    from energy_data_stream_processing_spark.streaming.runner import (
        run_stream_to_table,
        stream_raw_events,
    )

    cap = ProgressCapture(spark)
    try:
        out = run_stream_to_table(
            spark,
            stream_raw_events(spark, sf_dir).groupBy("event_type").count(),
            mode="complete",
        )
        assert out.count() > 0
        import time

        for _ in range(40):
            if cap.batches:
                break
            time.sleep(0.25)
    finally:
        cap.close()

    g = process_gauges(spark, cap.batches)
    assert g["jvm_heap_used_bytes"] > 0
    assert g["jvm_heap_total_bytes"] >= g["jvm_heap_used_bytes"]
    assert g["python_rss_bytes"] > 0
    # round-12 advice fix: the live gauge is CURRENT RSS (/proc VmRSS);
    # peak RSS is a separate monotone gauge bounding it (small slack —
    # ru_maxrss accounting can lag a just-grown VmRSS)
    assert g["python_peak_rss_bytes"] >= g["python_rss_bytes"] * 0.9
    assert g["executor_pool_size"] >= 1
    # complete-mode aggregation is stateful: its state store holds bytes
    assert g["state_store_bytes"] > 0

    text = prometheus_exposition(gauges=g)
    assert "# TYPE jvm_heap_used_bytes gauge" in text
    assert "# TYPE state_store_bytes gauge" in text
    for ln in text.strip().splitlines():
        if not ln.startswith("#"):
            name, _, val = ln.rpartition(" ")
            assert name and float(val) >= 0


def test_raw_store_schema_evolution(spark, sf_dir, tmp_path):
    """A later ingest adds a payload column; the evolution-aware reader
    surfaces it as NULL on old partitions, old projections still work, and
    partition pruning survives the merged-schema scan."""
    from energy_data_stream_processing_spark.sources.sinks import read_raw_events_parquet

    path = str(tmp_path / "raw_evolved")
    ev = energy_events(spark, sf_dir)
    days = [r[0] for r in ev.select(F.to_date("event_time").alias("d")).distinct().orderBy("d").limit(2).collect()]
    v1 = ev.where(F.to_date("event_time") == days[0])
    v2 = ev.where(F.to_date("event_time") == days[1]).withColumn(
        "meter_firmware", F.concat(F.lit("fw-"), (F.col("event_id") % 3).cast("string"))
    )
    land_raw_increment(v1, path, "b0")
    land_raw_increment(v2, path, "b1")

    back = read_raw_events_parquet(spark, path)
    assert "meter_firmware" in back.columns
    assert back.count() == v1.count() + v2.count()
    # old partition: NULL for the new column; new partition: populated
    assert back.where(F.col("event_date") == str(days[0])).where(
        F.col("meter_firmware").isNotNull()
    ).count() == 0
    assert back.where(F.col("event_date") == str(days[1])).where(
        F.col("meter_firmware").isNull()
    ).count() == 0
    # an old reader's projection is unaffected
    assert back.select("event_id", "event_type").count() == back.count()
    # pruning still reaches the scan through the merged schema
    plan = (
        back.where(F.col("event_date") == str(days[1]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters")[1][:120]
    # schema hints pin widened types post-merge
    hinted = read_raw_events_parquet(spark, path, {"payment_amount": "double"})
    assert dict(hinted.dtypes)["payment_amount"] == "double"


def test_incremental_rollup_refresh_equals_batch(spark, sf_dir, tmp_path):
    """Two increments (day split, the second carrying LATE rows for the
    first period) folded via refresh_hourly_incremental must leave the
    metrics store exactly equal to the one-pass batch aggregation — exact
    distincts included — while each refresh recomputes only touched hours."""
    from energy_data_stream_processing_spark.sources.sinks import (
        read_hourly_metrics_parquet,
        refresh_hourly_incremental,
    )

    raw_path = str(tmp_path / "raw")
    store = str(tmp_path / "hourly")
    ev = energy_events(spark, sf_dir)
    days = sorted(r[0] for r in ev.select(F.to_date("event_time")).distinct().collect())
    cut = days[len(days) // 2]
    # late arrivals: hold back some early rows and deliver them in batch 2
    early = ev.where(F.to_date("event_time") < str(cut))
    late_mask = F.col("event_id") % 7 == 0
    inc1 = early.where(~late_mask)
    inc2 = ev.where(F.to_date("event_time") >= str(cut)).unionByName(early.where(late_mask))

    t1 = refresh_hourly_incremental(spark, raw_path, store, inc1, increment_id=1)
    t2 = refresh_hourly_incremental(spark, raw_path, store, inc2, increment_id=2)
    assert t1 and t2
    # the second refresh recomputed early (late-touched) hours too
    assert min(t2) < max(t1), "late rows must re-touch old hours"

    stored = sorted(map(tuple, read_hourly_metrics_parquet(spark, store).collect()))
    batch = sorted(map(tuple, hourly_business_metrics(ev).collect()))
    assert stored == batch

    # at-least-once replay: re-applying increment 2 with the same id rewrites
    # exactly its own raw partitions, so the store stays equal to batch (a
    # plain append would double the events and double the aggregates)
    t2b = refresh_hourly_incremental(spark, raw_path, store, inc2, increment_id=2)
    assert sorted(t2b) == sorted(t2)
    replayed = sorted(map(tuple, read_hourly_metrics_parquet(spark, store).collect()))
    assert replayed == batch

    # so does a replay whose rows already carry the store's partition
    # columns, as rows read back from a raw store do
    keyed = inc2.withColumns({"_increment_id": F.lit(2), "event_date": F.to_date("event_time")})
    assert sorted(refresh_hourly_incremental(spark, raw_path, store, keyed, increment_id=2)) == sorted(t2)
    assert sorted(map(tuple, read_hourly_metrics_parquet(spark, store).collect())) == batch


def test_histogram_p95_matches_promql_reference(spark):
    """The Spark histogram_quantile stage must agree with an independent
    Python port of promql's bucketQuantile on synthetic latency
    distributions covering every code path: interpolation inside a middle
    bucket, the first bucket (lower bound 0), an exact-boundary target, and
    the +Inf overflow clamp (Prometheus returns the highest finite bound)."""
    from energy_data_stream_processing_spark.functions.observe import LATENCY_BUCKETS_S
    from energy_data_stream_processing_spark.plans.ops_queries import histogram_p95

    def reference_p95(durs):
        # port of promql bucketQuantile(0.95): cumulative bucket counts,
        # rank = q * total, linear interpolation within the target bucket
        n = len(durs)
        cums = [sum(1 for d in durs if d <= le) for le in LATENCY_BUCKETS_S]
        target = 0.95 * n
        idx = sum(1 for c in cums if c < target)
        if idx >= len(LATENCY_BUCKETS_S):
            return LATENCY_BUCKETS_S[-1]
        lo_le = 0.0 if idx == 0 else LATENCY_BUCKETS_S[idx - 1]
        lo_cum = 0 if idx == 0 else cums[idx - 1]
        hi_le, hi_cum = LATENCY_BUCKETS_S[idx], cums[idx]
        return lo_le + (hi_le - lo_le) * (target - lo_cum) / (hi_cum - lo_cum)

    cases = {
        "middle-bucket": [0.003, 0.004, 0.02, 0.07, 0.2, 0.4, 0.45, 0.3, 0.25, 0.08],
        "first-bucket": [0.0002, 0.0004, 0.0006, 0.0008],
        "boundary": [0.001] * 19 + [0.005],
        "overflow": [6.0, 7.0, 8.0, 9.0],  # all beyond the 5s envelope
        "mixed-overflow": [0.01] * 3 + [9.9] * 17,  # p95 in +Inf -> clamp
        "single": [0.42],
    }
    for name, durs in cases.items():
        bdf = spark.createDataFrame([(float(d),) for d in durs], "dur_s double")
        row = histogram_p95(bdf).collect()[0]
        want = reference_p95(durs)
        assert row["n_batches"] == len(durs), name
        assert abs(row["p95_latency_s"] - want) < 1e-12, (
            f"{name}: spark {row['p95_latency_s']} vs reference {want}"
        )


def test_compact_raw_store_and_backfill(spark, sf_dir, tmp_path):
    """A five-way split landing oversplits each day's partition; compaction
    must collapse oversplit days to one file each, keep the row set
    identical, leave under-target partitions' files untouched, and a
    subsequent range backfill over the compacted store must equal the
    one-pass batch aggregation."""
    from energy_data_stream_processing_spark.sources.sinks import (
        backfill_hourly_range,
        compact_raw_store,
        read_hourly_metrics_parquet,
        small_files_audit,
    )

    path = str(tmp_path / "raw_split")
    ev = energy_events(spark, sf_dir)
    days = sorted(
        r[0] for r in ev.select(F.to_date("event_time").alias("d")).distinct().collect()
    )
    lone_day = days[-1]
    # 5 files per day for all but the last day; the last day lands as one
    busy = ev.where(F.to_date("event_time") != str(lone_day))
    land_raw_increment(busy.repartition(5), path, "b0")
    land_raw_increment(
        ev.where(F.to_date("event_time") == str(lone_day)).coalesce(1), path, "b1"
    )

    before = {str(r["event_date"]): r for r in small_files_audit(spark, path).collect()}
    assert any(r["n_files"] > 1 for r in before.values())
    assert before[str(lone_day)]["n_files"] == 1
    rows_before = sorted(map(tuple, spark.read.parquet(path).drop("event_date").collect()))

    import os

    lone_dir = f"{path}/_increment_id=b1/event_date={lone_day}"
    lone_files_before = sorted(os.listdir(lone_dir))

    compacted = compact_raw_store(spark, path, max_files_per_partition=1)
    assert compacted and str(lone_day) not in compacted

    after = {str(r["event_date"]): r for r in small_files_audit(spark, path).collect()}
    assert all(r["n_files"] == 1 for r in after.values())
    assert {k: v["n_rows"] for k, v in after.items()} == {
        k: v["n_rows"] for k, v in before.items()
    }
    rows_after = sorted(map(tuple, spark.read.parquet(path).drop("event_date").collect()))
    assert rows_after == rows_before
    # under-target partition untouched byte-for-byte (same file names)
    assert sorted(os.listdir(lone_dir)) == lone_files_before

    # range backfill over the compacted store == one-pass batch aggregation
    store = str(tmp_path / "hourly_bf")
    n = backfill_hourly_range(spark, path, store, str(days[0]), str(days[-1]))
    assert n > 0
    stored = sorted(map(tuple, read_hourly_metrics_parquet(spark, store).collect()))
    batch = sorted(map(tuple, hourly_business_metrics(ev).collect()))
    assert stored == batch


def test_streaming_flush_refuses_additive_dialect():
    """foreachBatch replays double-add additive deltas (crash between the
    flush and the checkpoint commit) — foreach_batch_statement_upsert must
    refuse the dialect outright rather than corrupt on the reference's own
    schedule. Lives here (not the live-pg module) so the guard is tested
    even where no PostgreSQL ships."""
    import pytest

    from energy_data_stream_processing_spark.sources.sinks import (
        foreach_batch_statement_upsert,
    )

    with pytest.raises(ValueError, match="replay-safe"):
        foreach_batch_statement_upsert(
            "t", execute_many=lambda s, r: None, dialect="postgres_additive"
        )

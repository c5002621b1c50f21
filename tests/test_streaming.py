"""Streaming semantics: batch == streaming equivalence (SURVEY.md §5.4).

The critical case is MULTI-micro-batch: the reference's additive flush
double-counts distincts across flush intervals (consumer.py:341-342); the
exact hourly stream here must NOT — final streaming state over 4
micro-batches must equal the one-pass batch aggregation exactly.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from energy_data_stream_processing_spark.operators.hourly import hourly_business_metrics
from energy_data_stream_processing_spark.sources.adapter import energy_events, normalize_event_ts
from energy_data_stream_processing_spark.streaming.runner import (
    collapse_native_updates,
    energy_events_stream,
    hourly_metrics_native_stream,
    hourly_metrics_stream,
    run_stream_to_table,
)


def _update_mode_rows(spark, ev_stream):
    """(all update-mode emissions, final row per hour) of the exact
    any-lateness stream."""
    out = run_stream_to_table(spark, hourly_metrics_stream(ev_stream, horizon=None))
    return out, collapse_native_updates(out)


def _reemitted_hours(out) -> int:
    """Hours emitted by more than one micro-batch: > 0 proves the replay
    really merged state across batches."""
    return out.groupBy("hour").count().where(F.col("count") > 1).count()


def test_stateful_streaming_multibatch_equals_batch(spark, sf_dir, tmp_path):
    # Split events into 4 files -> 4 micro-batches (maxFilesPerTrigger=1).
    # Keep ts as raw nanos-long (same shape as the source file) so the
    # stream source's micros conversion applies uniformly.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "chunks")
    raw.withColumn("_b", F.col("event_id") % 4).repartition(4, "_b").drop("_b").write.mode(
        "overwrite"
    ).parquet(src)
    import glob, os

    assert len(glob.glob(f"{src}/part-*.parquet")) >= 2

    ev_stream = energy_events_stream(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    out, final = _update_mode_rows(spark, ev_stream)
    assert _reemitted_hours(out) > 0  # really incremental

    streaming_rows = sorted(map(tuple, final.collect()))
    batch_rows = sorted(map(tuple, hourly_business_metrics(energy_events(spark, sf_dir)).collect()))
    assert streaming_rows == batch_rows


def test_native_streaming_exact_columns_match_batch(spark, sf_dir):
    ev_stream = energy_events_stream(spark, sf_dir)
    native = run_stream_to_table(spark, hourly_metrics_native_stream(ev_stream))
    batch = hourly_business_metrics(energy_events(spark, sf_dir))
    cols = ["hour", "tariff_switches", "total_logins", "total_energy_consumed", "total_payments"]
    n = sorted(map(tuple, native.select(*cols).collect()))
    b = sorted(map(tuple, batch.select(*cols).collect()))
    assert n == b
    # approx distincts are within HLL error of the exact values
    joined = native.alias("n").join(batch.alias("b"), "hour")
    bad = joined.where(
        (F.abs(F.col("n.active_customers_approx") - F.col("b.active_customers")) > F.col("b.active_customers") * 0.15 + 2)
    ).count()
    assert bad == 0


def test_stateful_streaming_late_arrivals_equal_batch(spark, sf_dir, tmp_path):
    """Adversarial arrival order: batches partitioned by event-time quartile
    so micro-batches deliver late events for hours already aggregated. The
    update-mode stream has no watermark, so nothing is ever late: the
    engine merges arbitrarily late rows into existing hour state — the same
    unbounded-lateness capability as the reference's additive flush,
    WITHOUT its distinct double-count (consumer.py:341-342): final state
    must equal the one-pass batch aggregation exactly."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    src = str(tmp_path / "late_chunks")
    # bucket by DESCENDING timestamp quartile: batch 0 = newest events,
    # later batches progressively older -> always late. Quantiles only
    # support numeric columns, so split on a unix_micros projection
    # (same recipe as runner.ascending_time_chunks).
    ts_us = F.unix_micros(F.col("ts"))
    q = raw.withColumn("_ts_us", ts_us).approxQuantile("_ts_us", [0.25, 0.5, 0.75], 0.0)
    bucket = (
        F.when(ts_us >= q[2], 0)
        .when(ts_us >= q[1], 1)
        .when(ts_us >= q[0], 2)
        .otherwise(3)
    )
    raw.withColumn("_b", bucket).repartition(4, "_b").drop("_b").write.mode(
        "overwrite"
    ).parquet(src)

    ev_stream = energy_events_stream(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    out, final = _update_mode_rows(spark, ev_stream)
    assert _reemitted_hours(out) > 0

    streaming_rows = sorted(map(tuple, final.collect()))
    batch_rows = sorted(map(tuple, hourly_business_metrics(energy_events(spark, sf_dir)).collect()))
    assert streaming_rows == batch_rows


def test_streaming_topk_replay_spans_batches(spark, sf_dir, tmp_path):
    """The topk gate's value rests on the replay actually being multi-batch:
    windows straddling a chunk boundary must be updated by more than one
    micro-batch (update-mode sink emits one row per updating batch)."""
    import os

    from energy_data_stream_processing_spark.streaming.runner import (
        hourly_type_counts_stream,
        run_stream_to_table,
        stream_raw_events,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    ts_us = F.unix_micros(F.col("ts"))
    q = raw.withColumn("_ts_us", ts_us).approxQuantile("_ts_us", [0.25, 0.5, 0.75], 0.0)
    src = str(tmp_path / "chunks")
    os.makedirs(src)
    bounds = [None, *q, None]
    for i in range(4):
        chunk = raw
        if bounds[i] is not None:
            chunk = chunk.where(ts_us >= bounds[i])
        if bounds[i + 1] is not None:
            chunk = chunk.where(ts_us < bounds[i + 1])
        d = str(tmp_path / f"stage{i}")
        chunk.coalesce(1).write.mode("overwrite").parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.rename(f"{d}/{part}", f"{src}/chunk_{i}.parquet")

    rs = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    out = run_stream_to_table(spark, hourly_type_counts_stream(rs), mode="update")
    sink_rows = out.count()
    final_keys = out.select("hour", "event_type").distinct().count()
    assert sink_rows > final_keys, "replay collapsed to a single micro-batch"
    # and the converged counts equal the batch aggregation (raw is already
    # vintage-normalized to timestamp, matching the stream source)
    final = out.groupBy("hour", "event_type").agg(F.max("n").alias("n"))
    batch = raw.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, batch.collect()))


def test_checkpoint_restart_resumes_without_loss_or_duplication(spark, sf_dir, tmp_path):
    """Crash-recovery exactly-once: run a checkpointed streaming aggregation
    over the first half of the data, stop, add the second half, RESTART from
    the same checkpoint — the resumed query must process ONLY the new file
    (offsets recovered, no reprocessing) and its complete-mode state must
    equal the one-pass batch aggregation over everything (state recovered,
    no loss)."""
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    ts_us = F.unix_micros(F.col("ts"))
    mid = raw.withColumn("_ts_us", ts_us).approxQuantile("_ts_us", [0.5], 0.0)[0]
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def add_chunk(df, name):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(f"{stage}/{part}", str(src / f"{name}.parquet"))

    add_chunk(raw.where(ts_us < mid), "chunk_a")
    n_b = raw.where(ts_us >= mid).count()

    def start(name):
        stream = (
            spark.readStream.schema(raw.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        counts = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
        return (
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start("ckpt_run1")
    q1.awaitTermination()
    add_chunk(raw.where(ts_us >= mid), "chunk_b")
    q2 = start("ckpt_run2")
    q2.awaitTermination()

    # resumed run read ONLY the new chunk
    resumed_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    assert resumed_rows == n_b, (
        f"restart reprocessed data: read {resumed_rows}, expected {n_b}"
    )
    # recovered state + new data == one-pass batch
    got = {
        r["event_type"]: (r["n"], r["v"])
        for r in spark.table("ckpt_run2").collect()
    }
    want = {
        r["event_type"]: (r["n"], r["v"])
        for r in raw.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
        )
        .collect()
    }
    assert got == want


def test_nanos_vintage_chunk_stream(spark, tmp_path):
    """The driver has shipped events.ts as parquet TIMESTAMP(NANOS) — read
    as a bigint under nanosAsLong. ascending_time_chunks writes
    vintage-NORMALIZED (timestamp) chunks, so the stream schema must come
    from the chunk files, not the raw events.parquet: inferring from the
    raw file on this vintage would declare ts:bigint for files holding
    timestamps and the stream would fail or misread."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from energy_data_stream_processing_spark.streaming.runner import (
        ascending_time_chunks,
        run_stream_to_table,
        stream_raw_events,
    )

    sf_dir = str(tmp_path / "sf_nanos")
    import os

    os.makedirs(sf_dir)
    n = 48
    pdf = pd.DataFrame(
        {
            "event_id": range(1, n + 1),
            "ts": pd.to_datetime("2025-06-01")
            + pd.to_timedelta([i * 37 for i in range(n)], unit="m"),
            "user_id": [i % 5 for i in range(n)],
            "event_type": ["view" if i % 2 else "purchase" for i in range(n)],
            "value": [float(i) for i in range(n)],
            "props": ["{}"] * n,
        }
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # version 2.6 + ns coercion => parquet TIMESTAMP(NANOS), the vintage
    # Spark reads as bigint under spark.sql.legacy.parquet.nanosAsLong
    pq.write_table(
        table.set_column(
            1, "ts", table.column("ts").cast(pa.timestamp("ns"))
        ),
        f"{sf_dir}/events.parquet",
        version="2.6",
        coerce_timestamps=None,
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert dict(spark.read.parquet(f"{sf_dir}/events.parquet").dtypes)["ts"] == "bigint"

    src = ascending_time_chunks(spark, sf_dir, 3)
    stream = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    assert dict(stream.dtypes)["ts"] == "timestamp"
    out = run_stream_to_table(
        spark, stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    )
    got = {r["event_type"]: r["n"] for r in out.collect()}
    assert got == {"view": n // 2, "purchase": n // 2}


def test_groupstate_running_totals_multibatch_equals_batch(spark, sf_dir, tmp_path):
    """Running totals (applyInPandasWithState): per-user state merged
    across 3 replayed micro-batches must equal the one-pass batch
    aggregation exactly."""
    from energy_data_stream_processing_spark.streaming.runner import (
        ascending_time_chunks,
        run_stream_to_table,
        running_user_totals_stream_groupstate,
        stream_raw_events,
    )

    src = ascending_time_chunks(spark, sf_dir, 3)
    raw_stream = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    out = run_stream_to_table(
        spark, running_user_totals_stream_groupstate(raw_stream), mode="update"
    )
    # update-mode memory sink holds every emission; totals are monotone so
    # the converged state per user is the max
    final = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("total_cents").alias("total_cents")
    )
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value").cast("decimal(18,2)") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
    )
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, batch.collect()))


def test_streaming_hourly_native_approx_within_sketch_bound(spark, sf_dir):
    """Round-8 verdict item 6: `streaming_hourly_native` is rows-only for
    the driver (HLL distincts are approximate by design) — pin it
    QUANTITATIVELY instead: every exact column must equal the batch
    aggregation exactly, and each approx_count_distinct column must land
    within the sketch's documented error band (default rsd=0.05; allow 3
    sigma, floor of 2 for tiny hours where HLL++ is effectively exact)."""
    from energy_data_stream_processing_spark.plans.catalog import all_queries

    out = {
        r["hour"]: r
        for r in all_queries()["streaming_hourly_native"].builder(spark, sf_dir).collect()
    }
    assert out

    t = F.col("event_type")
    exact = {
        r["hour"]: r
        for r in (
            energy_events(spark, sf_dir)
            .groupBy(F.date_trunc("hour", "event_time").alias("hour"))
            .agg(
                F.count(F.when(t == "tariff_switch", 1)).alias("tariff_switches"),
                F.count(F.when(t == "incentive_claim", 1)).alias("incentive_claims"),
                F.count(F.when(t == "user_login", 1)).alias("total_logins"),
                F.count_distinct("customer_id").alias("active_customers"),
                F.count_distinct(
                    F.when(t == "user_login", F.col("session_id"))
                ).alias("new_sessions"),
            )
            .collect()
        )
    }
    assert set(out) == set(exact)
    rsd = 0.05  # approx_count_distinct default
    for hour, got in out.items():
        want = exact[hour]
        # exact columns: streaming == batch, bit-for-bit
        for c in ("tariff_switches", "incentive_claims", "total_logins"):
            assert got[c] == want[c], (hour, c, got[c], want[c])
        # sketched columns: within 3*rsd relative (floor 2 absolute)
        for approx_c, exact_c in (
            ("active_customers_approx", "active_customers"),
            ("new_sessions_approx", "new_sessions"),
        ):
            tol = max(2.0, 3 * rsd * want[exact_c])
            assert abs(got[approx_c] - want[exact_c]) <= tol, (
                hour, approx_c, got[approx_c], want[exact_c], tol
            )


_FOLD_ENTRIES = [
    "streaming_corpus_curation",
    "streaming_weighted_reservoir",
    "streaming_incremental_dedup",
    "streaming_scd2_maintenance",
    "streaming_asof_enrichment",
    "streaming_wau_growth",
]


@pytest.mark.parametrize("entry", _FOLD_ENTRIES)
def test_fold_entry_runs_one_micro_batch_per_chunk_file(spark, sf_dir, entry):
    """Each foreachBatch catalog entry replays its chunk directory one file
    a trigger: its last batch id is the chunk count minus one and every
    batch read rows. Collapsed into one micro-batch, an entry would still
    match its oracle while its cross-batch code (the anti-join against
    earlier batches, late SCD2 rows, pairs across batches) went untested."""
    from energy_data_stream_processing_spark.functions.observe import ProgressCapture
    from energy_data_stream_processing_spark.plans.catalog import all_queries
    from energy_data_stream_processing_spark.streaming import runner

    runner.LAST_STREAM_PROGRESS = None
    capture = ProgressCapture(spark)
    try:
        all_queries()[entry].builder(spark, sf_dir).collect()
        spark._jsc.sc().listenerBus().waitUntilEmpty(15_000)
    finally:
        capture.close()
    last = runner.LAST_STREAM_PROGRESS
    assert last is not None, f"{entry} did not run through run_stream_foreach_batch"
    (source,) = last["sources"]
    src = re.fullmatch(r"FileStreamSource\[file:(.*)\]", source["description"]).group(1)
    chunks = [f for f in os.listdir(src) if f.endswith(".parquet")]
    assert last["batchId"] + 1 == len(chunks) >= 3
    batches = [b for b in capture.batches if b["sources"] == [source["description"]]]
    assert [b["batchId"] for b in batches] == list(range(len(chunks)))
    assert all(b["numInputRows"] > 0 for b in batches)


# the temporary directories the streaming catalog entries and the
# incremental IVF entry create for their sources, stores and checkpoints
_SCRATCH_PREFIXES = (
    "stream-events-", "stream-chunks-", "doc-chunks-", "scd2-chunks-",
    "curated-", "reservoir-", "stream-dedup-", "scd2-stream-",
    "stream-asof-", "wau-", "ivf-index-",
)


def test_streaming_entries_leave_no_temp_dirs_after_exit(sf_dir, tmp_path):
    """A process that draws two chunk-replay streaming entries and exits
    leaves none of their source, store or checkpoint directories under its
    temp dir: they live under the per-process scratch root, removed at
    interpreter exit."""
    import subprocess
    import sys

    script = (
        "from energy_data_stream_processing_spark.plans.catalog import all_queries\n"
        "from energy_data_stream_processing_spark.session import get_spark\n"
        "spark = get_spark('scratch-check')\n"
        "for name in ('streaming_weighted_reservoir', 'streaming_hourly_bounded'):\n"
        f"    assert all_queries()[name].builder(spark, {sf_dir!r}).collect()\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        TMPDIR=str(tmp_path),
        PYTHONPATH=os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
    )
    run = subprocess.run(
        [sys.executable, "-c", script], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    left = [
        os.path.join(d, n)
        for d, dirs, _ in os.walk(tmp_path)
        for n in dirs
        if n.startswith(_SCRATCH_PREFIXES)
    ]
    assert left == []

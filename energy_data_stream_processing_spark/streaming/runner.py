"""Structured Streaming surface (SURVEY.md §2.5).

The reference consumer is a hand-rolled streaming engine: Kafka poll loop,
``Dict[hour, HourlyStats]`` under a lock, 30 s flush thread with an additive
SQL upsert (consumer/consumer.py:240-415). Spark-first, that is:

- ``readStream`` file/Kafka source -> the same adapter/validation transforms
  as batch (transforms are source-agnostic DataFrames);
- **exact hourly stream** (``hourly_metrics_stream``): Spark's built-in
  event-time window aggregation over the SAME 15-metric column tree as the
  batch ``hourly_business_metrics``. Streaming aggregation rejects
  ``count(DISTINCT ..)``, so the two distincts are ``size(collect_set(..))``
  — still exact, the sets live in the built-in state store. Money stays
  exact (DECIMAL sums, one double conversion), so the streaming entries
  share the batch oracle SQL, and the reference's merge bugs stay fixed
  (true distincts across flushes, GREATEST peak instead of
  last-write-wins; SURVEY.md §2.3 fidelity warnings). It runs two ways:
  append mode under a watermark (each hour emitted once, state bounded by
  the lateness horizon) or update mode without one (any lateness, one
  state row per hour);
- **approximate path** (``hourly_metrics_native_stream``): the same window
  with HLL distincts — a documented divergence with its own catalog entry.

The catalog entries run with ``availableNow`` into a memory sink and return
the final per-hour rows: the batch==streaming equivalence the reference can
only approximate is an actual differential gate here.

One driver per job: every memory-sink query runs through
``run_stream_to_table``, and every checkpointed ``foreachBatch`` drain (the
durable hourly pipeline, the ``pipeline --streaming`` CLI and the catalog
entries that fold micro-batches into stores) through
``run_stream_foreach_batch``. A fold's batch-keyed store is written by
``sinks.write_batch_partition``, and a replay source's chunk files by
``write_source_file``.

Scale notes: state is one row per open hour; the distinct sets bound its
size by |customers-per-hour| (at 100 TB: swap the sets for HLL sketches or
pre-aggregate by (hour, customer), and keep RocksDB state store). The
approximate path's 24 h watermark mirrors the reference's eviction horizon
(consumer/consumer.py:377-381).
"""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import nullcontext

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.columns import gateway_columns
from ..operators.hourly import METRIC_COLUMNS, _build_hourly_columns, _hourly_aggregates
from ..sources import sinks
from ..sources.adapter import ENERGY_EVENTS_SQL, normalize_event_ts
from ..sources.sinks import _conf_override
from ..plans.catalog import register, scratch_dir


def stream_raw_events(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream source over the driver's events parquet.

    The file source needs a directory; testdata is a single read-only file,
    so a session-scoped temp dir of symlinks stands in (test plumbing only —
    production would point at the ingest directory or a Kafka topic).
    ``source_dir``/``max_files_per_trigger`` replay a pre-split directory
    in several micro-batches to exercise cross-batch state.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if source_dir is None:
        source_dir = scratch_dir(spark, "stream-events-")
        os.symlink(f"{sf_dir}/events.parquet", f"{source_dir}/events.parquet")
        schema_src = f"{sf_dir}/events.parquet"
    else:
        # Pre-split chunk dirs (ascending_time_chunks) hold vintage-NORMALIZED
        # ts; inferring from the raw events.parquet would mismatch under the
        # nanos-long vintage (ts:bigint vs chunk INT96/micros timestamps).
        schema_src = source_dir
    batch_schema = spark.read.parquet(schema_src).schema
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(source_dir)
    return normalize_event_ts(raw)


def energy_events_stream(
    spark: SparkSession,
    sf_dir: str,
    source_dir: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    raw = stream_raw_events(spark, sf_dir, source_dir, max_files_per_trigger)
    view = f"events_stream_{uuid.uuid4().hex[:8]}"
    raw.createOrReplaceTempView(view)
    return spark.sql(ENERGY_EVENTS_SQL.replace("FROM events", f"FROM {view}"))


def hourly_metrics_native_stream(
    events: DataFrame, watermark: str = "24 hours", with_emit_ordinal: bool = False
) -> DataFrame:
    """Built-in watermarked window aggregation (the idiomatic default).

    Exact for counters/sums; distincts are HLL approximations — at 100 TB
    this is usually the right trade (documented divergence from the exact
    batch/stateful results). ``watermark`` is the lateness horizon: it
    bounds BOTH late-data acceptance and state size (windows older than
    the watermark evict — measured in
    tests/test_round9_ops.py::test_watermark_eviction_bounds_window_state).

    ``with_emit_ordinal=True`` appends ``_rows_total`` — the window's
    cumulative row count. Update mode re-emits a window only when NEW rows
    fold into it, so the count strictly increases across a window's
    emissions: it is the per-window emission ordinal the memory sink does
    not otherwise provide, which ``collapse_native_updates`` needs to keep
    the LAST (final) emission without assuming sums are monotone.
    """
    agg_cols = gateway_columns("hourly_metrics_native_stream", _build_native_columns)
    ordinal = (
        [F.count(F.lit(1)).alias("_rows_total")] if with_emit_ordinal else []
    )
    return (
        events.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", "1 hour"))
        .agg(*agg_cols, *ordinal)
        .select(F.col("window.start").alias("hour"), "*")
        .drop("window")
    )


def _build_native_columns() -> list:
    """8 of the hourly tree's aggregates, its distincts as HLL sketches."""
    agg = _hourly_aggregates(distinct=F.approx_count_distinct)
    names = [
        "tariff_switches",
        "total_switch_revenue",
        "incentive_claims",
        "total_logins",
        "active_customers",
        "new_sessions",
        "total_energy_consumed",
        "total_payments",
    ]
    approx = {"active_customers", "new_sessions"}
    return [agg[n].alias(f"{n}_approx" if n in approx else n) for n in names]


def collapse_native_updates(out: DataFrame) -> DataFrame:
    """Collapse an update-mode hourly memory sink (the approximate native
    stream, or ``hourly_metrics_stream`` without a horizon) to one FINAL
    row per hour, ordered by the ``_rows_total`` emission ordinal.

    Each update-mode re-emission of a window is CUMULATIVE, and a window
    re-emits only when new rows folded into it, so its cumulative row count
    strictly increases across emissions — ``max_by`` on it keeps the last
    emission WHOLESALE. The round-14 collapse took per-column ``max()`` on
    the stated ground that every column is non-decreasing; that holds for
    counters and HLL register maxima but NOT for sums once a negative
    value (meter corrections / exports) arrives in a later micro-batch:
    the cumulative sum DECREASES and
    ``max()`` keeps the stale earlier partial, under exactly the
    multi-batch split the dedup exists to defend against (r14 verdict
    item 2; regression pinned in tests/test_round15_ops.py::
    test_native_collapse_keeps_last_emission_under_negative_values).
    """
    cols = [c for c in out.columns if c not in ("hour", "_rows_total")]
    fin = F.max_by(
        F.struct(*[F.col(c) for c in cols]), F.col("_rows_total")
    ).alias("_fin")
    return (
        out.groupBy("hour")
        .agg(fin)
        .select("hour", *[F.col(f"_fin.{c}").alias(c) for c in cols])
    )


def _exact_distinct(c):
    # streaming aggregation rejects count(DISTINCT); the set form is exact
    return F.size(F.collect_set(c)).cast("long")


def hourly_metrics_stream(
    events: DataFrame, horizon: str | None = "2 hours"
) -> DataFrame:
    """Exact hourly metrics as Spark's built-in streaming window aggregation.

    The 15 metrics are the batch ``hourly_business_metrics`` column tree
    (``_build_hourly_columns``); only the two distincts take the
    ``size(collect_set(..))`` form. ``hour`` is ``window.start``: windows
    are keyed on the epoch, so the two instants of a DST fall-back wall
    hour stay two rows. Whole-hour session-tz offsets align with the batch
    ``date_trunc('hour')`` key; a zone with a half-hour offset would not.

    - ``horizon`` set (run in APPEND mode): the watermark trails the newest
      event by ``horizon``; each hour is emitted once, when the watermark
      passes its end, and its state is dropped. A row is dropped as late
      only when its whole hour was already emitted.
    - ``horizon=None`` (run in UPDATE mode): no watermark, any lateness is
      merged and every hour keeps its state row. Each trigger re-emits the
      hours it touched with the ``_rows_total`` ordinal, which
      ``collapse_native_updates`` uses to keep each hour's final row.
    """
    _, agg_cols, derived = gateway_columns(
        "hourly_metrics_stream",
        lambda: _build_hourly_columns(distinct=_exact_distinct),
    )
    if horizon:
        events = events.withWatermark("event_time", horizon)
    ordinal = [] if horizon else ["_rows_total"]
    return (
        events.groupBy(F.window("event_time", "1 hour"))
        .agg(*agg_cols, *[F.count(F.lit(1)).alias(c) for c in ordinal])
        .withColumns(derived)
        .select(F.col("window.start").alias("hour"), *METRIC_COLUMNS, *ordinal)
    )


#: Engine default for HOURS-keyed stateful streams (round-11 verdict item 1).
#:
#: A stateful operator loads, updates and commits one state store per STATE
#: PARTITION per micro-batch — near-empty partitions included — so a stream
#: whose live-key count is far below ``spark.sql.shuffle.partitions`` pays
#: fixed per-task cost proportional to the partition count, not the data
#: (SCALE.md §4.3: the 10x bounded hourly replay read 21.1 s at the
#: 32-partition session default vs 14.6 s at 8, ~100 live hour keys). Hour keys
#: live at most (watermark horizon + open hour) at a time — single-to-low
#: double digits — so 8 keeps every partition busy while still spreading the
#: state store. USER-keyed streams (sessionization, SCD2, dedup, running
#: totals) have key cardinality >> the session default and keep it.
HOURS_STATE_PARTITIONS = 8

#: Final ``StreamingQueryProgress`` of the last ``run_stream_to_table``
#: call (``q.lastProgress``, read synchronously after awaitTermination —
#: no listener race). Tests pin engine choices through it, e.g. that the
#: hourly twins really ran with ``numShufflePartitions == 8``.
#: SEQUENTIAL-ONLY contract (same as the shuffle-partition override it
#: rides along with): this is a module global mutated by every
#: ``run_stream_to_table`` call, so two concurrent streams on one session
#: (or threaded tests) would race and a reader could see the OTHER
#: query's progress. In-tree callers are sequential; concurrent callers
#: must capture ``q.lastProgress`` from their own query handle instead.
LAST_STREAM_PROGRESS: dict | None = None


def _state_partitions(spark: SparkSession, n: int | None):
    """``spark.sql.shuffle.partitions`` scoped to ``n`` (no-op when None)."""
    if n is None:
        return nullcontext()
    return _conf_override(spark, "spark.sql.shuffle.partitions", str(n))


def run_stream_to_table(
    spark: SparkSession,
    streaming_df: DataFrame,
    mode: str = "update",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute with availableNow into a memory sink; return final rows per
    hour (last update wins, keyed by micro-batch order).

    ``state_partitions`` sizes the stateful operator's state-store count to
    the stream's live-key cardinality class (pass
    ``HOURS_STATE_PARTITIONS`` for hours-keyed streams). It must be applied
    HERE, not as an upstream ``repartition``: stateful operators require
    ``StatefulOpClusteredDistribution`` with exactly the shuffle-partition
    count captured at first query start (then pinned in the checkpoint), so
    a pre-shuffle cannot change it — the engine instead scopes
    ``spark.sql.shuffle.partitions`` for this query's lifetime and restores
    the session value afterwards. The override is session-visible while the
    blocking call runs; callers that plan OTHER queries concurrently on the
    same session should pin their own conf (in-tree callers are
    sequential)."""
    global LAST_STREAM_PROGRESS
    # cleared up front so a failed start/execution cannot leave a PREVIOUS
    # query's progress behind for a caller to mis-validate against
    LAST_STREAM_PROGRESS = None
    name = f"sink_{uuid.uuid4().hex[:8]}"
    with _state_partitions(spark, state_partitions):
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        LAST_STREAM_PROGRESS = q.lastProgress
    return spark.table(name)


def run_hourly_stream(
    spark: SparkSession, events: DataFrame, horizon: str | None = "2 hours"
) -> DataFrame:
    """Final rows of ``hourly_metrics_stream`` through the memory sink:
    append mode when ``horizon`` is set, update mode collapsed to the last
    emission per hour when it is None."""
    out = run_stream_to_table(
        spark,
        hourly_metrics_stream(events, horizon),
        mode="append" if horizon else "update",
        state_partitions=HOURS_STATE_PARTITIONS,
    )
    return out if horizon else collapse_native_updates(out)


def estimate_peak_hour_distinct_customers(events: DataFrame) -> int:
    """Cheap per-hour key-density probe: approx-distinct customers per
    hour, maxed over hours. One narrow two-column job (at 100 TB it reads
    only the event_time/customer_id pages). Must run on a BATCH frame — a
    backfill slice or yesterday's landing of the SAME feed — because a
    streaming frame cannot be eagerly aggregated. The hourly stream needs
    no such input; the benchmark's hourly workload still reports it."""
    row = (
        events.groupBy(F.date_trunc("hour", F.col("event_time")).alias("_h"))
        .agg(F.approx_count_distinct("customer_id").alias("_c"))
        .agg(F.max("_c").alias("_m"))
        .first()
    )
    return int(row["_m"] or 0)


def run_stream_foreach_batch(
    spark: SparkSession,
    streaming_df: DataFrame,
    fn,
    checkpoint: str,
    mode: str = "append",
    state_partitions: int | None = None,
) -> dict | None:
    """``run_stream_to_table``'s durable twin: execute with availableNow
    into a ``foreachBatch`` sink under a REAL checkpoint (kill-and-resume
    capable — the memory-sink runner is for tests/oracles, this is for
    stores). Same scoped state-partition contract and sequential-only
    ``LAST_STREAM_PROGRESS`` behavior; returns the final progress."""
    global LAST_STREAM_PROGRESS
    LAST_STREAM_PROGRESS = None
    with _state_partitions(spark, state_partitions):
        q = (
            streaming_df.writeStream.foreachBatch(fn)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        LAST_STREAM_PROGRESS = q.lastProgress
    return LAST_STREAM_PROGRESS


def run_hourly_pipeline(
    spark: SparkSession,
    events: DataFrame,
    metrics_path: str,
    checkpoint: str,
    horizon: str = "2 hours",
) -> dict | None:
    """The durable hourly pipeline: the exact append-mode stream
    (``hourly_metrics_stream``) into the idempotent parquet hour store
    (``sinks.foreach_batch_upsert``) under a REAL checkpoint, so a
    kill-and-resume lands the same store. Returns the final progress.

    Catch-up contract for repeated ``availableNow`` invocations: each
    invocation lands every hour whose end the watermark has passed, and
    the watermark lives in the checkpoint, so the next invocation continues
    from it. Source files must arrive in event-time order within
    ``horizon``: a row whose hour was already emitted is dropped by the
    lateness contract. For a batch catch-up that must end complete,
    use the batch path (``sinks.refresh_hourly_incremental`` /
    ``backfill_hourly_range``)."""
    return run_stream_foreach_batch(
        spark,
        hourly_metrics_stream(events, horizon),
        # looked up at call time so a wrapped sinks.foreach_batch_upsert
        # (the benchmark's tracer) is the one used
        sinks.foreach_batch_upsert(metrics_path),
        checkpoint=checkpoint,
        mode="append",
        state_partitions=HOURS_STATE_PARTITIONS,
    )


def run_hourly_pipeline_dispatched(
    spark: SparkSession,
    events: DataFrame,
    metrics_path: str,
    checkpoint: str,
    horizon: str = "2 hours",
    peak_hour_distinct: int | None = None,
) -> dict:
    """Deprecated alias of ``run_hourly_pipeline`` kept for the frozen
    ``perfbench`` hourly workload; remove it in the next benchmark change.
    ``peak_hour_distinct`` is ignored: there is one hourly path."""
    run_hourly_pipeline(spark, events, metrics_path, checkpoint, horizon=horizon)
    return {"variant": "native"}


# --------------------------------------------------------------------------
# Catalog entries
# --------------------------------------------------------------------------
def _hourly_oracle() -> str:
    from ..operators.hourly import HOURLY_ORACLE_BODY

    return (
        f"WITH energy_events AS ({ENERGY_EVENTS_SQL}),\n"
        f"hourly_business_metrics AS ({HOURLY_ORACLE_BODY})\n"
        "SELECT * FROM hourly_business_metrics"
    )


@register(
    "streaming_hourly_metrics",
    oracle=_hourly_oracle(),
    doc="Exact hourly metrics as Spark's built-in streaming window "
    "aggregation in update mode without a watermark (any lateness), run "
    "with availableNow and collapsed to each hour's last emission — shares "
    "the BATCH oracle, i.e. batch==streaming equivalence is "
    "differential-checked, not asserted.",
)
def q_streaming_hourly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_hourly_stream(spark, energy_events_stream(spark, sf_dir), horizon=None)


@register(
    "streaming_hourly_native",
    oracle=None,  # approx distincts by design
    doc="Built-in watermarked window aggregation (approx distincts) — the "
    "idiomatic native streaming path.",
)
def _native_hourly_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the native windowed stream and collapse the update-mode memory
    sink to one FINAL row per hour. The single-file availableNow source
    emits each hour once, but a multi-batch split (maxFilesPerTrigger, a
    multi-file dir) re-emits touched windows per batch with stale partial
    counts — the same collapse the exact update-mode twin applies.
    The collapse keeps each hour's LAST emission via the ``_rows_total``
    ordinal (``collapse_native_updates``); the earlier per-column ``max()``
    silently assumed monotone sums, which negative values break."""
    ev = energy_events_stream(spark, sf_dir)
    out = run_stream_to_table(
        spark, hourly_metrics_native_stream(ev, with_emit_ordinal=True)
    )
    return collapse_native_updates(out)


@register(
    "streaming_hourly_native_audit",
    # The native path's EXACT columns (counters, decimal-exact sums cast to
    # double) must equal the batch aggregation bit-for-bit, and its HLL
    # approx-distincts must sit inside an absolute-or-relative error band
    # vs the exact batch distincts: |approx - exact| <= greatest(5,
    # 0.15*exact) (the audited band constants + measured-margin table live
    # in plans/audit_constants.py) — HLL++ at the default 5% rsd is relative for large
    # cardinalities and ±few for sparse ones, and the measured worst cases
    # on the gate corpora (abs 13 at exact 112; abs 2 at small counts)
    # sit well inside both arms. DuckDB twins the exact columns and pins
    # the band booleans; a native-aggregation regression (lost rows, wrong
    # filter, broken sketch) breaks equality or flips a boolean.
    oracle=f"""
WITH energy_events AS ({ENERGY_EVENTS_SQL}),
b AS (
  SELECT date_trunc('hour', event_time) AS hour,
    count(CASE WHEN event_type = 'tariff_switch' THEN 1 END) AS tariff_switches,
    count(CASE WHEN event_type = 'incentive_claim' THEN 1 END) AS incentive_claims,
    count(CASE WHEN event_type = 'user_login' THEN 1 END) AS total_logins,
    coalesce(cast(sum(CASE WHEN event_type = 'tariff_switch' THEN payment_amount END) AS DOUBLE), 0.0) AS total_switch_revenue,
    coalesce(cast(sum(CASE WHEN event_type = 'energy_consumed' THEN energy_consumed END) AS DOUBLE), 0.0) AS total_energy_consumed,
    coalesce(cast(sum(CASE WHEN event_type = 'bill_payment' THEN payment_amount END) AS DOUBLE), 0.0) AS total_payments
  FROM energy_events GROUP BY 1
)
SELECT hour, tariff_switches, incentive_claims, total_logins,
  total_switch_revenue, total_energy_consumed, total_payments,
  TRUE AS active_customers_ok, TRUE AS new_sessions_ok
FROM b
""",
    doc="Driver-checkable audit of the native watermarked-window streaming "
    "path (hourly_metrics_native_stream): full-outer join against the "
    "exact batch hourly aggregation — exact columns flow through from "
    "the STREAM (equality with the batch-side oracle is the law; a "
    "missing or extra hour breaks the row set), HLL approx-distincts "
    "must sit within greatest(5, 0.15*exact) of the exact distincts. "
    "Completes the round-14 audit-twin set: all five formerly rows-only "
    "entries now have a hash-checkable driver gate.",
)
def q_streaming_hourly_native_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.hourly import hourly_business_metrics
    from ..sources.adapter import energy_events

    nat = _native_hourly_final(spark, sf_dir)
    ex = hourly_business_metrics(energy_events(spark, sf_dir)).select(
        "hour",
        F.col("active_customers").alias("_ac"),
        F.col("new_sessions").alias("_ns"),
    )
    from ..plans.audit_constants import hll_band_ok

    def _band(approx: str, exact: str):
        return hll_band_ok(F.col(approx), F.col(exact))

    return nat.join(ex, "hour", "full_outer").select(
        "hour",
        "tariff_switches",
        "incentive_claims",
        "total_logins",
        "total_switch_revenue",
        "total_energy_consumed",
        "total_payments",
        _band("active_customers_approx", "_ac").alias("active_customers_ok"),
        _band("new_sessions_approx", "_ns").alias("new_sessions_ok"),
    )


def write_source_file(df: DataFrame, path: str) -> None:
    """Write ``df`` as the one parquet file ``path`` in a stream source
    directory. It is written to a stage directory and renamed in, so the
    file source never lists a partial file or a writer's side files."""
    import shutil

    stage = tempfile.mkdtemp(prefix="source-file-stage-")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(f"{stage}/{part}", path)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _ascending_chunks(df: DataFrame, key, n_chunks: int, prefix: str) -> str:
    """Split ``df`` at the exact quantiles of the numeric expression ``key``
    into ``n_chunks`` key-ascending files in a fresh source dir. They are
    written in key order, so the file source, which lists oldest-mtime
    first, replays them in key order."""
    keyed = df.withColumn("_key", key)
    q = keyed.approxQuantile("_key", [i / n_chunks for i in range(1, n_chunks)], 0.0)
    src = scratch_dir(df.sparkSession, prefix)
    bounds = [None, *q, None]
    for i in range(n_chunks):
        chunk = keyed
        if bounds[i] is not None:
            chunk = chunk.where(F.col("_key") >= bounds[i])
        if bounds[i + 1] is not None:
            chunk = chunk.where(F.col("_key") < bounds[i + 1])
        write_source_file(chunk.drop("_key"), f"{src}/chunk_{i}.parquet")
    return src


def append_watermark_sentinel(spark: SparkSession, sf_dir: str, src: str):
    """Write one far-future event into a chunk dir so the final availableNow
    micro-batch pushes the global watermark past every real event-time
    timeout — every open state row flushes. Returns the max REAL timestamp
    (callers filter output to ``< max + margin`` to drop the sentinel's own
    rows). Built on the normalized frame so the file schema matches the
    chunk files regardless of the source parquet's timestamp vintage."""
    from datetime import timedelta

    norm = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    mx = norm.selectExpr("max(ts) AS m").collect()[0]["m"]
    sdf = spark.createDataFrame(
        [(-1, mx + timedelta(days=3650), -1, "sentinel", 0.0, "{}")],
        schema=norm.schema,
    )
    write_source_file(sdf, f"{src}/chunk_z_sentinel.parquet")
    return mx


@register(
    "streaming_hourly_bounded",
    oracle=_hourly_oracle(),
    doc="Bounded-state exact hourly metrics: the same built-in window "
    "aggregation as streaming_hourly_metrics under a 2-hour watermark in "
    "append mode — each hour emits its single final row once the "
    "watermark passes it, and its state is dropped. Three ascending "
    "time-chunk micro-batches force hours to close while later data still "
    "arrives; a far-future sentinel flushes the tail; the result must "
    "equal the BATCH oracle on every hour including the two exact "
    "distincts. Scale: state plateaus at the open lateness horizon where "
    "the update-mode twin holds hours-cardinality — rows of an hour "
    "already emitted are dropped, so any-lateness exactness needs the "
    "update-mode twin.",
)
def q_streaming_hourly_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import timedelta

    src = ascending_time_chunks(spark, sf_dir, 3)
    mx = append_watermark_sentinel(spark, sf_dir, src)
    ev = energy_events_stream(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    out = run_hourly_stream(spark, ev, horizon="2 hours")
    return out.where(F.col("hour") < mx + timedelta(days=30))


def dedup_summary_stream(raw_events: DataFrame) -> DataFrame:
    """At-least-once -> effectively-once: drop replayed duplicates by
    event_id inside the watermark horizon (dropDuplicatesWithinWatermark
    keeps only the key + one timestamp in state and evicts it once the
    watermark passes — bounded state, unlike plain dropDuplicates), then
    aggregate per event type.

    The 45-day delay covers the test fixture's full 30-day event-time span
    so a whole-file replay dedups exactly; production tunes the delay to the
    real replay horizon (e.g. Kafka retention).
    """
    deduped = raw_events.withWatermark("ts", "45 days").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )


@register(
    "streaming_dedup_replay",
    oracle="""
SELECT event_type, count(*) AS n_events,
  cast(sum(cast(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
FROM events GROUP BY event_type
""",
    doc="Streaming exactly-once dedup under replay: the source replays the "
    "SAME events file twice in two micro-batches (at-least-once delivery), "
    "dropDuplicatesWithinWatermark collapses the duplicates across batches, "
    "and the result is gated against the BATCH oracle over a single copy — "
    "so the dedup guarantee is differential-checked, not asserted. Scale: "
    "dedup state is (event_id, ts) only, watermark-evicted; the shuffle "
    "keys by event_id.",
)
def q_streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = scratch_dir(spark, "stream-dedup-")
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events_a.parquet")
    os.symlink(f"{sf_dir}/events.parquet", f"{src}/events_b.parquet")
    raw = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    return run_stream_to_table(spark, dedup_summary_stream(raw), mode="complete")


def hourly_type_counts_stream(raw_events: DataFrame) -> DataFrame:
    """Watermarked per-(hour window, event_type) streaming counts."""
    return (
        raw_events.withWatermark("ts", "24 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("hour"), "event_type", "n")
    )


@register(
    "streaming_hourly_type_topk",
    oracle="""
WITH counts AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT hour, event_type, n,
  row_number() OVER (PARTITION BY hour ORDER BY n DESC, event_type) AS rk
FROM counts
QUALIFY rk <= 3
""",
    doc="Streaming windowed top-K: native watermarked window counts per "
    "(hour, event_type) replayed in FOUR ascending time-chunk micro-batches "
    "(each batch updates windows the previous batches opened; ascending "
    "order keeps every row inside the 24 h watermark, so nothing drops and "
    "the stream must converge to the batch answer), update-mode memory "
    "sink, then last-update-wins per key (counts are monotone, so max(n)) "
    "and a per-hour top-3 rank. The rank-after-sink split is the "
    "production shape: streaming maintains the counts, the cheap rank runs "
    "at read time. Fourth batch==streaming differential gate.",
)
def q_streaming_hourly_type_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    src = ascending_time_chunks(spark, sf_dir, 4)
    raw_stream = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    out = run_stream_to_table(spark, hourly_type_counts_stream(raw_stream), mode="update")
    final = out.groupBy("hour", "event_type").agg(F.max("n").alias("n"))
    rk = F.row_number().over(
        Window.partitionBy("hour").orderBy(F.col("n").desc(), "event_type")
    )
    return final.select("hour", "event_type", "n", rk.alias("rk")).where(F.col("rk") <= 3)


def _running_totals_update_fn():
    """Module-level factory for the GroupState running-totals update fn
    (closure pickled by value), so tests can drive the PRODUCTION merge
    directly with a fake GroupState — the round-14 null-value test
    re-implemented the dropna arithmetic inline and would not have caught a
    regression reverting the fix (r14 advice)."""

    def update(key, pdfs, state):
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # values are exact 2-decimal doubles -> cents are exact ints;
            # dropna BEFORE the int cast: a null value is a legal
            # nullable-double row the oracle's sum() skips, and NaN would
            # crash astype(int64)
            v = (pdf["value"] * 100).round().dropna()
            cents += int(v.astype("int64").sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    return update


def running_user_totals_stream_groupstate(raw_events: DataFrame) -> DataFrame:
    """Arbitrary stateful streaming: per-user running event count and exact
    cents total kept in GroupState (``applyInPandasWithState``) and updated
    each micro-batch, with update-mode emission. This is the engine-managed
    replacement for the reference's locked in-memory dict
    (consumer/consumer.py:81-99): typed per-key state, Arrow-batched
    updates, partitioned by the shuffle and checkpointable. It rides the
    plain Arrow channel, so it runs on every install."""
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("n_events", LongType(), True),
            StructField("total_cents", LongType(), True),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType(), True),
            StructField("cents", LongType(), True),
        ]
    )

    return (
        raw_events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_update_fn(),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


@register(
    "streaming_running_totals",
    oracle="""
SELECT user_id, count(*) AS n_events,
  cast(sum(cast(cast(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS total_cents
FROM events GROUP BY user_id
""",
    doc="Arbitrary stateful streaming: per-user running totals, each "
    "micro-batch merging into typed per-key state; converged state is "
    "gated against the one-pass batch aggregation. The state is a "
    "GroupState (applyInPandasWithState) per user. Counts/cents are exact "
    "integers, so the cross-batch merge is order-independent. Scale: state "
    "is two longs per user, partitioned by the user_id shuffle, "
    "RocksDB-backed and checkpointed on a cluster.",
)
def q_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    raw = stream_raw_events(spark, sf_dir)
    out = run_stream_to_table(
        spark, running_user_totals_stream_groupstate(raw), mode="update"
    )
    # availableNow on one file = one batch; dedup defensively (n is monotone)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def ascending_time_chunks(spark: SparkSession, sf_dir: str, n_chunks: int) -> str:
    """Split the events parquet into ``n_chunks`` event-time-ascending files
    in a fresh source dir, so a maxFilesPerTrigger=1 file stream replays them
    as ordered micro-batches (the file source lists oldest-mtime-first and
    the chunks are written sequentially).

    ``ts`` is vintage-normalized to timestamp first (nanos-long and
    timestamp_ntz parquet both land on micros), then split points are
    approxQuantile'd over a ``unix_micros(ts)`` projection — quantiles only
    support numeric columns — and the range predicates compare in micros.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return _ascending_chunks(raw, F.unix_micros(F.col("ts")), n_chunks, "stream-chunks-")


def view_purchase_attribution_stream(
    views: DataFrame, purchases: DataFrame, watermark: str = "45 days"
) -> DataFrame:
    """Stream-stream event-time interval join: attribute each purchase to
    every view by the same user in the preceding 24 h.

    Both sides carry watermarks; the time-range predicate lets the engine
    evict view state once ``view_ts + 24h`` falls behind the purchase-side
    watermark and purchase state once it falls behind the view-side
    watermark — bounded state, append-mode emission. The default 45-day
    ``watermark`` blankets the test fixture's span; the eviction mechanics
    under a tight 1-hour horizon are measured in
    tests/test_state_accounting.py::test_interval_join_state_evicts_by_condition.
    """
    v = views.select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    ).withWatermark("purchase_ts", watermark)
    return v.join(
        p,
        F.expr(
            "v_user = p_user AND purchase_ts > view_ts "
            "AND purchase_ts <= view_ts + INTERVAL 24 HOURS"
        ),
    )


@register(
    "streaming_view_purchase_attribution",
    oracle="""
SELECT v.user_id,
  count(*) AS n_pairs,
  count(DISTINCT p.event_id) AS attributed_purchases,
  count(DISTINCT v.event_id) AS converting_views
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND cast(p.ts AS TIMESTAMP) > cast(v.ts AS TIMESTAMP)
 AND cast(p.ts AS TIMESTAMP) <= cast(v.ts AS TIMESTAMP) + INTERVAL 24 HOUR
GROUP BY 1
""",
    doc="Stream-stream event-time interval join (the one join Structured "
    "Streaming treats as a stateful operator): views and purchases are two "
    "watermarked streams replayed in two ascending time-chunk micro-batches "
    "(cross-batch matches exercise the join state), joined per user within "
    "a 24 h attribution window in append mode; the per-user rollup runs "
    "batch-side on the sink (the production read-time split). Gated against "
    "the batch self-join oracle. The 45-day test watermark covers the "
    "fixture's span so replay loses nothing; production sets the real "
    "lateness budget, and the interval predicate is what lets the engine "
    "evict both sides' state. Scale: join state is bounded by "
    "|events in watermark horizon| per side, partitioned by the user_id "
    "shuffle; RocksDB state store + per-key range scans on a cluster.",
)
def q_streaming_view_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = ascending_time_chunks(spark, sf_dir, 2)
    views = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1).where(
        F.col("event_type") == "view"
    )
    purchases = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1).where(
        F.col("event_type") == "purchase"
    )
    pairs = run_stream_to_table(
        spark, view_purchase_attribution_stream(views, purchases), mode="append"
    )
    return pairs.groupBy(F.col("v_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count_distinct("purchase_id").alias("attributed_purchases"),
        F.count_distinct("view_id").alias("converting_views"),
    )


def sliding_event_rate_stream(raw_events: DataFrame) -> DataFrame:
    """Watermarked SLIDING-window counts (1 h window, 15 min slide): each
    event lands in 4 overlapping windows — the rate panel shape (smooth
    trailing-hour rate refreshed every 15 min)."""
    return (
        raw_events.withWatermark("ts", "24 hours")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


@register(
    "streaming_sliding_event_rate",
    oracle="""
WITH contrib AS (
  SELECT make_timestamp(
    ((cast(floor(epoch(ts)) AS BIGINT) // 900) * 900 - k.k * 900) * 1000000
  ) AS window_start
  FROM events, (SELECT unnest(generate_series(0, 3)) AS k) k
)
SELECT window_start, count(*) AS n_events FROM contrib GROUP BY 1
""",
    doc="Sliding event-time windows (1 h / 15 min slide) as a streaming "
    "aggregation, replayed in two ascending time-chunk micro-batches "
    "(update-mode emissions across batches, counts monotone so the "
    "read-time rollup takes max per window). The oracle expands each "
    "event into its 4 epoch-aligned windows arithmetically — checking "
    "Spark's window() alignment semantics, not just totals. Scale: "
    "sliding windows multiply state x(window/slide); the engine stores "
    "per-window partial counts (4 longs per active hour), watermark-"
    "evicted; at 100 TB prefer the tumbling-15min + read-time trailing-"
    "sum rewrite if window/slide grows large.",
)
def q_streaming_sliding_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = ascending_time_chunks(spark, sf_dir, 2)
    raw = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    out = run_stream_to_table(spark, sliding_event_rate_stream(raw), mode="update")
    return out.groupBy(F.col("window_start")).agg(F.max("n").alias("n_events"))


def sessionize_timeout_stream(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap sessionization as a CUSTOM stateful operator with event-time
    timeouts (applyInPandasWithState + GroupStateTimeout.EventTimeTimeout)
    — the API family the native session_window variant hides: per-user
    state holds the one OPEN session; in-batch gaps close sessions
    immediately; the timeout (open-session end + gap) fires when the
    GLOBAL watermark passes it and emits the final session per key.

    Gap boundaries replicate the batch operator bit-for-bit: second-floored
    epoch diffs strictly greater than gap close a session, and emitted
    timestamps are the original microsecond event times, so the closed
    sessions share the batch sessions oracle.

    Scale: state is 3 longs per ACTIVE user (idle keys are evicted by their
    own timeout — this is what bounds state under key churn, where the
    batch window plan would re-sort everything); emission is append-mode
    (sessions are final when emitted), so downstream sinks never see
    retractions. Lateness contract: Spark late-filters stateful input
    whenever event-time timeouts are active, so rows older than the 1-hour
    watermark are DROPPED, not sessionized — the same measured behavior as
    the bounded hourly variant (tests/test_state_accounting.py::
    test_stateful_bounded_hourly_drops_beyond_horizon_rows); batch parity
    therefore assumes arrival order within the watermark horizon.
    """
    from pyspark.sql.types import LongType

    out_schema = StructType(
        [
            StructField("user_id", LongType(), True),
            StructField("session_start_us", LongType(), True),
            StructField("session_end_us", LongType(), True),
            StructField("n_events", LongType(), True),
        ]
    )
    state_schema = StructType(
        [
            StructField("start_us", LongType(), True),
            StructField("end_us", LongType(), True),
            StructField("n", LongType(), True),
        ]
    )

    return (
        events.withColumn("ts_us", F.unix_micros("ts"))
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_update_fn(gap_minutes * 60),
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
        # epoch longs cross the Python boundary; the public timestamps are
        # rendered JVM-side, immune to the session tz
        .select(
            "user_id",
            F.timestamp_micros("session_start_us").alias("session_start"),
            F.timestamp_micros("session_end_us").alias("session_end"),
            "n_events",
        )
    )


def _session_update_fn(gap_sec: int):
    """Closure for ``sessionize_timeout_stream`` (pickled by value —
    workers never import this package). Extracted to module level so the
    round-10 vectorization carries a direct differential property test
    against the sequential reference (tests/test_round10_ops.py)."""

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        def rows(starts, ends, counts) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [key[0]] * len(counts),
                    "session_start_us": np.asarray(starts, np.int64),
                    "session_end_us": np.asarray(ends, np.int64),
                    "n_events": counts,
                }
            )

        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield rows([start_us], [end_us], [n])
            return

        # ts_us is TRUE epoch micros computed JVM-side (unix_micros) — the
        # tz-proof key discipline the hourly paths adopted in rounds 10-11.
        # The Arrow-rendered timestamp column is session-tz WALL time: wall
        # micros fed to setTimeoutTimestamp sit a whole tz-offset away from
        # the epoch watermark (first batch dies under a negative offset,
        # silent late evictions under a positive one), and wall gaps lie
        # across DST transitions. Outputs are epoch longs for the same
        # reason; the wrapper renders them with timestamp_micros JVM-side.
        chunks = [pdf["ts_us"].to_numpy(np.int64) for pdf in pdfs if len(pdf)]
        arr = np.sort(np.concatenate(chunks)) if chunks else np.empty(0, np.int64)
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us = end_us = -1
            n = 0
        if arr.size:
            # Vectorized gap-split (round 10; value-identical to the
            # per-event loop it replaced). The loop compared each event to
            # the RUNNING max of everything before it (a carried session
            # end can exceed early events), so the previous-end series is
            # a running maximum seeded with the carried end, and a session
            # break is a second-floored epoch gap strictly > gap_sec —
            # batch parity with the lag()-window oracle.
            seed = end_us if n else arr[0]
            prev = np.maximum.accumulate(np.concatenate(([seed], arr)))[:-1]
            brk = (arr // 1_000_000) - (prev // 1_000_000) > gap_sec
            if n == 0:
                brk[0] = True  # first event opens a session (none carried)
            starts_i = np.flatnonzero(brk)  # index of each NEW session's head
            if starts_i.size:
                # segment ends: element before each next break + the final
                # element; sorted => a segment's last element is its max
                ends_i = np.concatenate((starts_i[1:] - 1, [arr.size - 1]))
                seg_start = arr[starts_i]
                seg_end = arr[ends_i]
                seg_n = np.diff(np.concatenate((starts_i, [arr.size])))
            else:  # no breaks: every event merges into the carried session
                seg_start = seg_end = seg_n = np.empty(0, np.int64)
            if n:
                # events before the first break extend the carried session
                head = int(starts_i[0]) if starts_i.size else arr.size
                c_end = max(end_us, int(arr[head - 1])) if head else end_us
                seg_start = np.concatenate(([start_us], seg_start))
                seg_end = np.concatenate(([c_end], seg_end))
                seg_n = np.concatenate(([n + head], seg_n))
            # all segments but the last are CLOSED sessions; the last stays
            # open in state awaiting its gap timeout
            if len(seg_n) > 1:
                yield rows(
                    seg_start[:-1].tolist(), seg_end[:-1].tolist(),
                    seg_n[:-1].tolist(),
                )
            start_us, end_us, n = int(seg_start[-1]), int(seg_end[-1]), int(seg_n[-1])
        if n:
            state.update((start_us, end_us, n))
            state.setTimeoutTimestamp(end_us // 1000 + gap_sec * 1000)
        # n == 0 with existing state is unreachable: stored state always
        # carries n >= 1 (update only runs under `if n`), and a carried
        # session's count can only grow — the old `elif state.exists`
        # re-store would have leaked the key forever (no timeout
        # re-registration); removed rather than kept as dead armor.

    return update


@register(
    "streaming_timeout_sessions",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id,
    CASE WHEN lag(ts) OVER w IS NULL
              OR cast(floor(epoch(ts)) AS BIGINT) - cast(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
         THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_no
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_no
""",
    doc="Timeout-driven streaming sessionization (applyInPandasWithState + "
    "EventTimeTimeout): three ascending time-chunk micro-batches keep "
    "per-user OPEN sessions in typed state, close them on in-data gaps "
    "immediately and on event-time timeouts as the watermark advances; a "
    "far-future sentinel event (filtered from the result) pushes the final "
    "watermark so every open session times out and emits — append-mode "
    "final-only emission. Gated against the batch sessionization oracle: "
    "the stream must reproduce every (start, end, count) exactly, "
    "including sessions split across micro-batches. Scale: state is 3 "
    "longs per active user and self-evicts by timeout; the native "
    "session_window variant (streaming_user_sessions) is the "
    "engine-managed twin — this is the API for session semantics the "
    "built-in merge cannot express (per-key custom close rules).",
)
def q_streaming_timeout_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = ascending_time_chunks(spark, sf_dir, 3)
    # Sentinel: one far-future event for a fake user advances the global
    # watermark past every real session's timeout in a final micro-batch.
    append_watermark_sentinel(spark, sf_dir, src)

    stream = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    out = run_stream_to_table(
        spark, sessionize_timeout_stream(stream, gap_minutes=30), mode="append"
    )
    return out.where(F.col("user_id") >= 0)


def ascending_doc_chunks(spark: SparkSession, sf_dir: str, n_chunks: int) -> str:
    """Split documents.parquet into doc_id-ascending chunk files so a
    maxFilesPerTrigger=1 stream replays them as ordered micro-batches —
    cross-batch duplicate groups are then guaranteed (duplicated content has
    scattered doc_ids), which is what the streaming-dedup gate must cover."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _ascending_chunks(docs, F.col("doc_id"), n_chunks, "doc-chunks-")


def _doc_chunk_stream(spark: SparkSession, sf_dir: str, n_chunks: int) -> DataFrame:
    """documents.parquet replayed as ``n_chunks`` doc_id-ascending
    micro-batches, one chunk file a trigger."""
    src = ascending_doc_chunks(spark, sf_dir, n_chunks)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)


from ..plans.sampling_queries import CORPUS_CURATION_ORACLE  # noqa: E402


@register(
    "streaming_corpus_curation",
    oracle=CORPUS_CURATION_ORACLE,
    doc="Continuous corpus curation: documents arrive as ordered micro-"
    "batches; each foreachBatch increment quality-filters (>=10 words), "
    "dedups batch-locally (min doc_id per fingerprint), anti-joins against "
    "the accumulated corpus index (earlier batches win), and appends the "
    "survivors keyed by batch_id with dynamic partition overwrite — a "
    "retried batch rewrites exactly its own partition, so the store is "
    "idempotent under at-least-once replay. Final per-(split, lang) "
    "accounting must equal the one-pass batch pipeline exactly (shared "
    "oracle): the incremental anti-join dedup and the batch row_number "
    "dedup keep the SAME representatives. Scale: each increment shuffles "
    "only its own batch (fingerprint agg) plus a semi-join against the "
    "index's fp column — the accumulated corpus is never re-aggregated; "
    "this is the continuous-ingestion form of corpus_curation_pipeline.",
)
def q_streaming_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bpe_tokens, fingerprint, words
    from ..plans.sampling_queries import _BUCKETS, hash_bucket

    stream = _doc_chunk_stream(spark, sf_dir, 3)
    kept_dir = scratch_dir(spark, "curated-corpus-") + "/store"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        base = batch_df.select(
            "doc_id",
            "lang",
            "source",
            fingerprint(F.col("text")).alias("fp"),
            F.size(words(F.col("text"))).alias("n_words"),
            F.size(bpe_tokens(F.col("text"))).alias("n_tokens"),
        ).where(F.col("n_words") >= 10)
        # batch-local dedup: min doc_id per fingerprint, carrying its row
        inc = base.groupBy("fp").agg(
            F.min_by(F.struct("doc_id", "lang", "source", "n_tokens"), "doc_id").alias("r")
        ).select("fp", "r.*")
        # Missing store == first batch; any OTHER read failure must
        # propagate — swallowing it would silently skip the cross-batch
        # anti-join and keep duplicate documents without an error.
        from pyspark.errors import AnalysisException

        try:
            prior = s.read.parquet(kept_dir).where(F.col("_batch_id") < batch_id)
        except AnalysisException:
            prior = None
        if prior is not None:
            inc = inc.join(prior.select("fp"), "fp", "left_anti")
        sinks.write_batch_partition(inc, kept_dir, batch_id)

    run_stream_foreach_batch(spark, stream, fold, scratch_dir(spark, "curated-ckpt-"))

    kept = spark.read.parquet(kept_dir)
    m = hash_bucket(F.col("doc_id")) % 10
    split = F.when(m <= 7, "train").when(m == 8, "val").otherwise("test").alias("split")
    return kept.groupBy(split, "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        F.count_distinct(F.col("source")).alias("n_sources"),
    )


from ..plans.sampling_queries import WEIGHTED_RESERVOIR_ORACLE  # noqa: E402


@register(
    "streaming_weighted_reservoir",
    oracle=WEIGHTED_RESERVOIR_ORACLE,  # batch entry's oracle — true batch≡streaming gate
    doc="Streaming weighted reservoir (A-ES) over micro-batches: each "
    "foreachBatch increment computes its docs' ln(u)/w keys and persists "
    "ONLY its per-language top-5 keyed by batch id (dynamic partition "
    "overwrite — replayed batches rewrite their own files). Per-batch "
    "top-k is a SUFFICIENT STATISTIC for global top-k (selection is "
    "distributive over union), so ranking the stored candidates after "
    "the stream drains equals the one-pass batch sample exactly — the "
    "same oracle gates both. State is k rows per (batch, lang), not the "
    "corpus: the streaming form of the sampler a continuous ingest "
    "pipeline runs.",
)
def q_streaming_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.text import bpe_tokens
    from ..plans.sampling_queries import hash_bucket

    stream = _doc_chunk_stream(spark, sf_dir, 3)
    store = scratch_dir(spark, "reservoir-") + "/cands"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        n_tokens = F.size(bpe_tokens(F.col("text"))).cast("long")
        base = batch_df.select(
            "doc_id", "lang", n_tokens.alias("n_tokens")
        ).where(F.col("n_tokens") >= 1)
        u = (hash_bucket(F.col("doc_id")) + F.lit(1)) / F.lit(4294967296.0)
        keyed = base.withColumn("k", F.log(u) / F.col("n_tokens").cast("double"))
        w = Window.partitionBy("lang").orderBy(F.col("k").desc(), "doc_id")
        top = keyed.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= 5)
        sinks.write_batch_partition(top.drop("_rn"), store, batch_id)

    run_stream_foreach_batch(spark, stream, fold, scratch_dir(spark, "reservoir-ckpt-"))

    cands = spark.read.parquet(store)
    w = Window.partitionBy("lang").orderBy(F.col("k").desc(), "doc_id")
    return (
        cands.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select("lang", "rank", "doc_id", "n_tokens")
        .orderBy("lang", "rank")
    )


from ..plans.training_queries import _NGRAM_PAIRS_CTES  # noqa: E402


@register(
    "streaming_incremental_dedup",
    # At the 0.5 operating threshold the deterministic 16-band LSH finds
    # every exact-Jaccard pair (verified at sf0.01/sf0.1 — all pairs
    # >= 0.2 collide), so the union-of-batches output must equal the
    # exact inverted-index Jaccard pairs over the whole corpus: a
    # value-exact cross-engine gate that also asserts full recall at gate
    # scale. The stream≡batch law test covers other thresholds.
    oracle=f"""
WITH {_NGRAM_PAIRS_CTES}
SELECT doc_a, doc_b, jaccard FROM jpairs WHERE jaccard >= 0.5
""",
    doc="Continuous near-dup detection: documents arrive as ordered micro-"
    "batches and each foreachBatch increment folds into the PERSISTED "
    "MinHash-LSH index (operators/dedup.py::dedup_increment — lands its "
    "band codes + shingle arrays keyed by increment id, then joins only "
    "ITS OWN bands against the store), persisting the discovered pairs "
    "keyed by batch id with dynamic partition overwrite. A pair "
    "(x∈bᵢ, y∈bⱼ, i<j) is found exactly once — when the LATER side "
    "arrives (the earlier side is already in the store); within-batch "
    "pairs surface from the batch's self-collisions. The union of all "
    "per-batch pair sets therefore equals batch minhash_lsh_pairs over "
    "the full corpus EXACTLY (jaccard values included) — the law "
    "tests/test_round4_ops.py pins. Work per batch is increment-sized; "
    "the corpus is never re-scanned — the streaming form of the ingest "
    "dedup a 100 TB pipeline runs. (availableNow replay note: a batch "
    "retried BEFORE later batches land is idempotent via its keyed "
    "partitions; that is the checkpoint contract Structured Streaming "
    "guarantees.)",
)
def q_streaming_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dedup_increment

    stream = _doc_chunk_stream(spark, sf_dir, 3)
    root = scratch_dir(spark, "stream-dedup-")
    idx = f"{root}/idx"
    pairs_dir = f"{root}/pairs"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        found = dedup_increment(
            batch_df.sparkSession, idx, batch_df, increment_id=f"b{batch_id}",
            threshold=0.5,
        )
        sinks.write_batch_partition(found, pairs_dir, batch_id)

    run_stream_foreach_batch(spark, stream, fold, scratch_dir(spark, "stream-dedup-ckpt-"))

    return (
        spark.read.parquet(pairs_dir)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


from ..plans.energy_queries import SCD2_ORACLE  # noqa: E402


@register(
    "streaming_scd2_maintenance",
    oracle=SCD2_ORACLE,  # the batch build's oracle — stream≡batch SCD2 gate
    doc="Continuous SCD2 dimension maintenance: tariff-switch events arrive "
    "as 3 HASH-chunked micro-batches (interleaved in event time — every "
    "batch after the first is late data for some customer), and each "
    "foreachBatch increment folds into the persisted bucket-partitioned "
    "dimension via operators/scd2.py::scd2_apply_increment — reconstruct "
    "ONLY the affected buckets' switches from stored rows, union the "
    "increment (deduped on full switch identity, so at-least-once batch "
    "retries are no-ops), window-rebuild that slice, dynamic-overwrite "
    "its partitions. The final store must equal the one-shot batch SCD2 "
    "build (SHARED oracle) — versions renumbered and validity ranges "
    "reopened across batch boundaries exactly as a full rebuild would. "
    "This is the streaming leg of the incremental-dimension triple "
    "(batch build / incremental apply / continuous fold), the warehouse "
    "counterpart of streaming_incremental_dedup. Work per batch is "
    "bucket-slice-sized; the dimension is never rebuilt whole.",
)
def q_streaming_scd2_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd2 import scd2_apply_increment, scd2_init_store
    from ..sources.adapter import energy_events

    sw = (
        energy_events(spark, sf_dir)
        .where(F.col("event_type") == "tariff_switch")
        .select("customer_id", "tariff_type", "event_time", "event_id")
    )
    # 3 hash-chunk files -> time-interleaved ordered micro-batches
    src = scratch_dir(spark, "scd2-chunks-")
    for i in range(3):
        write_source_file(
            sw.where(F.pmod(F.xxhash64(F.col("event_id")), F.lit(3)) == i),
            f"{src}/chunk_{i}.parquet",
        )

    store = scratch_dir(spark, "scd2-stream-") + "/dim"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        if not os.path.isdir(store):
            scd2_init_store(s, store, batch_df)
        else:
            scd2_apply_increment(s, store, batch_df)

    run_stream_foreach_batch(
        spark,
        spark.readStream.schema(sw.schema).option("maxFilesPerTrigger", 1).parquet(src),
        fold,
        scratch_dir(spark, "scd2-stream-ckpt-"),
    )

    return spark.read.parquet(store).select(
        "customer_id", "tariff_type", "valid_from", "valid_to",
        "version", "is_current",
    )


from ..plans.energy_queries import ASOF_ACTIVE_TARIFF_ORACLE  # noqa: E402


@register(
    "streaming_asof_enrichment",
    oracle=ASOF_ACTIVE_TARIFF_ORACLE,  # batch entry's oracle — true batch≡streaming gate
    doc="Continuous point-in-time enrichment: events replay as 4 time-"
    "ascending micro-batches; each foreachBatch increment (1) lands its "
    "tariff switches into an accumulating store keyed by batch id "
    "(dynamic overwrite — replay-idempotent), then (2) as-of joins ITS "
    "OWN consumption readings against the full switch store (operators/"
    "asof.py union+carry, one customer_id shuffle over batch-sized "
    "readings) and appends the enriched rows. Time-ordered arrival "
    "guarantees every switch at-or-before a reading is already in the "
    "store when the reading's batch runs (equal timestamps share a "
    "chunk), so the union over batches equals the batch as-of EXACTLY — "
    "gated by the SAME DuckDB ASOF JOIN oracle as asof_active_tariff. "
    "This is the streaming enrichment shape (trade-vs-quote, reading-vs-"
    "price) a 100 TB pipeline runs continuously: per-batch work is "
    "batch-sized; the store grows switch-sized, never fact-sized.",
)
def q_streaming_asof_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    src = ascending_time_chunks(spark, sf_dir, 4)
    root = scratch_dir(spark, "stream-asof-")
    sw_dir = f"{root}/switches"
    out_dir = f"{root}/enriched"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        view = f"asof_batch_{uuid.uuid4().hex[:8]}"
        batch_df.createOrReplaceTempView(view)
        en = s.sql(ENERGY_EVENTS_SQL.replace("FROM events", f"FROM {view}"))
        sw = (
            en.where(F.col("event_type") == "tariff_switch")
            .groupBy("customer_id", "event_time")
            .agg(F.max_by("tariff_type", "event_id").alias("active_tariff"))
        )
        sinks.write_batch_partition(sw, sw_dir, batch_id)
        readings = en.where(F.col("event_type") == "energy_consumed").select(
            "event_id",
            "customer_id",
            "event_time",
            F.col("energy_consumed").cast("double").alias("energy_consumed"),
        )
        store = s.read.parquet(sw_dir).select(
            "customer_id", "event_time", "active_tariff"
        )
        enriched = asof_join(
            readings, store, key="customer_id", ts="event_time",
            value_cols=["active_tariff"],
        )
        sinks.write_batch_partition(enriched, out_dir, batch_id)

    run_stream_foreach_batch(
        spark,
        stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1),
        fold,
        scratch_dir(spark, "stream-asof-ckpt-"),
    )

    return (
        spark.read.parquet(out_dir)
        .select("event_id", "customer_id", "event_time", "energy_consumed", "active_tariff")
        .orderBy("event_id")
    )


from ..plans.timeseries_queries import WAU_GROWTH_ORACLE  # noqa: E402


@register(
    "streaming_wau_growth",
    oracle=WAU_GROWTH_ORACLE,  # batch entry's oracle — true batch≡streaming gate
    doc="Continuous weekly-active-users: events replay as 3 time-ascending "
    "micro-batches; each foreachBatch increment lands its DISTINCT "
    "(week, user) pairs keyed by batch id (dynamic overwrite — replay-"
    "idempotent), a pairs-not-counts store, so cross-batch duplicates "
    "collapse in the final distinct count and the result equals the "
    "batch weekly_active_users_growth EXACTLY (SHARED oracle; events "
    "totals ride exact per-batch counts summed by week). The "
    "distinct-pair store is the mergeable sufficient statistic for "
    "exact distinct aggregation — the same reason "
    "hourly_business_metrics_twophase pre-aggregates pairs; at 100 TB "
    "the store is (weeks × active users) sized, not event sized.",
)
def q_streaming_wau_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    src = ascending_time_chunks(spark, sf_dir, 3)
    store = scratch_dir(spark, "wau-") + "/pairs"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        pairs = batch_df.select(
            F.date_trunc("week", F.col("ts")).alias("week"), "user_id"
        ).distinct()
        counts = batch_df.groupBy(
            F.date_trunc("week", F.col("ts")).alias("week")
        ).agg(F.count(F.lit(1)).alias("events"))
        inc = pairs.join(counts, "week").select(
            "week", "user_id", "events"
        )
        sinks.write_batch_partition(inc, store, batch_id)

    run_stream_foreach_batch(
        spark,
        stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1),
        fold,
        scratch_dir(spark, "wau-ckpt-"),
    )

    raw = spark.read.parquet(store)
    # events per (batch, week) were replicated onto every pair row of that
    # batch — recover them via per-(batch, week) first, then sum batches
    ev_per_week = (
        raw.groupBy("_batch_id", "week")
        .agg(F.first("events").alias("events"))
        .groupBy("week")
        .agg(F.sum("events").alias("events"))
    )
    wau = (
        raw.select("week", "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    wk = wau.join(ev_per_week, "week")
    w = Window.orderBy("week")
    prev = F.lag("wau").over(w)
    return wk.select(
        "week",
        F.col("wau").cast("long").alias("wau"),
        F.col("events").cast("long").alias("events"),
        prev.cast("long").alias("prev_wau"),
        F.when(prev > 0, (F.col("wau") - prev) / prev.cast("double") * 100.0).alias(
            "wau_growth_pct"
        ),
    )


# --------------------------------------------------------------------------
# Lake hour-key migration audit (round 16)
# --------------------------------------------------------------------------
LAKE_MIGRATION_AUDIT_ORACLE = (
    f"WITH energy_events AS ({ENERGY_EVENTS_SQL}),\n"
    "h AS (SELECT DISTINCT date_trunc('hour', event_time) AS hour\n"
    "      FROM energy_events ORDER BY hour LIMIT 24),\n"
    "c AS (SELECT hour, CAST(epoch(hour) AS BIGINT) AS e FROM h)\n"
    "SELECT hour,\n"
    "  CASE (e // 3600) % 3 WHEN 0 THEN 'legacy'\n"
    "                       WHEN 1 THEN 'mismatched'\n"
    "                       ELSE 'clean' END AS offender_class,\n"
    "  strftime(hour, '%Y-%m-%d-%H') || '-' || CAST(e AS VARCHAR)\n"
    "    AS migrated_key,\n"
    "  CAST(e % 1000 AS DOUBLE) AS val,\n"
    "  (SELECT CAST(count(*) AS BIGINT) FROM c WHERE (e // 3600) % 3 < 2)\n"
    "    AS n_rewritten\n"
    "FROM c"
)


@register(
    "lake_hour_key_migration_audit",
    oracle=LAKE_MIGRATION_AUDIT_ORACLE,
    doc="End-to-end audit of laketable.migrate_lake_hour_keys (round-15 "
    "verdict item 2): a 24-hour panel from the real events table lands in "
    "a transactional LakeTable with each hour's key deliberately written "
    "in one of the three formats the guards classify — legacy label-only, "
    "label/epoch-MISMATCHED (label shifted +1h, the shape of the r14 DST "
    "residue), or canonical — chosen by epoch-hour mod 3 so the oracle "
    "derives the same classes arithmetically. One migration call must "
    "rewrite exactly the offenders (n_rewritten pinned per row), after "
    "which EVERY key read back equals the canonical label+epoch key the "
    "oracle recomputes in SQL (whole-string equality — the same contract "
    "the write guards enforce) with row values preserved. Everything is "
    "tz-proof epoch arithmetic on both sides; no wall-clock rendering.",
)
def q_lake_hour_key_migration_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from ..sources.adapter import energy_events
    from ..sources.laketable import LakeTable, migrate_lake_hour_keys
    from ..sources.sinks import _canonical_hour_key_for_epoch

    hours = (
        energy_events(spark, sf_dir)
        .select(F.date_trunc("hour", "event_time").alias("hour"))
        .distinct()
        .orderBy("hour")
        .limit(24)
    )
    epoch = F.col("hour").cast("long")
    cls = F.pmod((epoch / F.lit(3600)).cast("long"), F.lit(3))
    canon = _canonical_hour_key_for_epoch(epoch)
    lbl = F.regexp_extract(canon, r"^(\d{4}-\d{2}-\d{2}-\d{2})", 1)
    lbl_shift = F.regexp_extract(
        _canonical_hour_key_for_epoch(epoch + F.lit(3600)),
        r"^(\d{4}-\d{2}-\d{2}-\d{2})",
        1,
    )
    seeded_key = (
        F.when(cls == 0, lbl)
        .when(cls == 1, F.concat_ws("-", lbl_shift, epoch.cast("string")))
        .otherwise(canon)
    )
    offender_class = (
        F.when(cls == 0, F.lit("legacy"))
        .when(cls == 1, F.lit("mismatched"))
        .otherwise(F.lit("clean"))
    )
    root = tempfile.mkdtemp(prefix="lake-keymigration-audit-")
    try:
        table = LakeTable(f"{root}/lake")
        table.merge_upsert(
            spark,
            hours.select(
                "hour",
                seeded_key.alias("hour_key"),
                (epoch % 1000).cast("double").alias("val"),
            ),
            "hour_key",
        )
        n = migrate_lake_hour_keys(spark, f"{root}/lake")
        after = table.read(spark)
        # stage before the tmp store vanishes (catalog.stage_result keeps
        # the materialization distributed)
        from ..plans.catalog import stage_result

        return stage_result(
            spark,
            after.select(
                "hour",
                offender_class.alias("offender_class"),
                # read-back key: equality with the oracle's recomputed
                # canonical key IS the audited law
                F.col("hour_key").alias("migrated_key"),
                "val",
                F.lit(int(n)).cast("long").alias("n_rewritten"),
            ),
            "lake_hour_key_migration_audit",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)

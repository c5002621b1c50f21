"""Measured state-store accounting for the stateful streaming operators.

The batch twin of this round's shuffle-byte gates (test_round9_ops.py):
SCALE.md §4 claims which streaming operators hold BOUNDED state (watermark
eviction) and which intentionally hold hours-cardinality state (the
reference's unbounded-lateness additive flush, consumer.py:341-356, has no
watermark concept). These tests replay event-time-ascending micro-batches
and read the per-batch ``stateOperators`` metrics Spark itself reports —
rows held, rows evicted — so "state is bounded" is a measured series shape,
not a docstring.

All bounds are RELATIVE to corpus cardinalities (distinct hours, row count)
so they hold at any sf_dir, with ≥2x headroom over the measured plateau
(sf0.001 calibration: windowed-agg plateau 60-81 rows vs 531 hours;
dedup-within-watermark plateau 124-136 vs 1000 keys).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from energy_data_stream_processing_spark.functions.stage_metrics import (
    run_stream_with_state_metrics,
    state_rows_series,
)
from energy_data_stream_processing_spark.operators.hourly import (
    hourly_business_metrics,
)
from energy_data_stream_processing_spark.plans.energy_queries import (
    energy_events,
)
from energy_data_stream_processing_spark.streaming.runner import (
    ascending_time_chunks,
    energy_events_stream,
    hourly_metrics_native_stream,
    hourly_metrics_stream,
    stream_raw_events,
)

N_CHUNKS = 8


@pytest.fixture(scope="module")
def chunk_src(spark, sf_dir):
    return ascending_time_chunks(spark, sf_dir, N_CHUNKS)


@pytest.fixture(scope="module")
def corpus_stats(spark, sf_dir):
    raw = energy_events(spark, sf_dir)
    row = raw.agg(
        F.countDistinct(F.date_trunc("hour", F.col("event_time"))).alias("hours"),
        F.count(F.lit(1)).alias("rows"),
    ).collect()[0]
    return {"hours": row["hours"], "rows": row["rows"]}


def test_state_metrics_helper_contract(spark, sf_dir, chunk_src):
    """Contract of the measurement tool the rest of this module leans on:
    a STATELESS stream reports batches with EMPTY operator lists (so a
    plateau assertion against it would be vacuous — which is why every
    test here also asserts a POSITIVE signal: evictions, exact finals, or
    output equality), and a stateful one reports non-empty stateOperators
    with the documented fields."""
    raw = stream_raw_events(spark, sf_dir, source_dir=chunk_src, max_files_per_trigger=1)
    _, batches = run_stream_with_state_metrics(
        spark, raw.select("event_id", "ts"), mode="append"
    )
    assert len(batches) >= N_CHUNKS
    assert all(b["operators"] == [] for b in batches)
    assert state_rows_series(batches) == [0] * len(batches)

    raw2 = stream_raw_events(spark, sf_dir, source_dir=chunk_src, max_files_per_trigger=1)
    _, batches2 = run_stream_with_state_metrics(
        spark,
        raw2.withWatermark("ts", "2 hours").groupBy(F.window("ts", "1 hour")).count(),
        mode="append",
    )
    ops = [o for b in batches2 for o in b["operators"]]
    assert ops, "stateful stream reported no state operators"
    assert all(
        set(o) == {"operator", "rows_total", "rows_updated", "rows_removed", "memory_bytes"}
        for o in ops
    )


def test_watermark_eviction_bounds_window_state(spark, sf_dir, chunk_src, corpus_stats):
    """The idiomatic watermarked hourly window agg: with a 2-hour lateness
    horizon over in-order micro-batches, state must PLATEAU at
    per-batch-arrival size (windows newer than the watermark) while total
    hours grow 8x past it — and the finalized (appended) hours must still
    carry batch-exact values, proving eviction only releases CLOSED windows.
    This is the measured form of SCALE.md §4's bounded-state claim; the
    hours-cardinality alternative is test_stateful_hourly_state below."""
    ev = energy_events_stream(spark, sf_dir, source_dir=chunk_src, max_files_per_trigger=1)
    out, batches = run_stream_with_state_metrics(
        spark, hourly_metrics_native_stream(ev, watermark="2 hours"), mode="append"
    )
    series = state_rows_series(batches)
    removed = [sum(o["rows_removed"] for o in b["operators"]) for b in batches]
    hours = corpus_stats["hours"]

    # bounded: never holds more than ~a chunk's worth of open windows
    # (measured plateau 60-81 of 531 hours; bound 35% with 2x headroom)
    assert max(series) <= hours * 0.35, (series, hours)
    # eviction actually ran, continuously — not one final flush
    assert sum(1 for r in removed if r > 0) >= N_CHUNKS - 1, removed
    assert sum(removed) >= hours * 0.9, (removed, hours)
    # the final flush batch leaves only the still-open horizon
    assert series[-1] <= 25, series

    # value check: every emitted (finalized) hour is batch-exact on the
    # exact columns (distincts are HLL in the native stream, skipped)
    cols = ["tariff_switches", "total_logins", "total_energy_consumed", "total_payments"]
    want = {
        r["hour"]: r
        for r in hourly_business_metrics(energy_events(spark, sf_dir)).collect()
    }
    got = out.collect()
    assert len(got) >= hours - 25  # all but the still-open tail emitted
    assert len(got) == len({r["hour"] for r in got})  # appended exactly once
    for r in got:
        for c in cols:
            assert float(r[c]) == pytest.approx(float(want[r["hour"]][c]), abs=1e-9), (
                r["hour"],
                c,
            )


def test_dedup_within_watermark_state_evicts(spark, sf_dir, chunk_src, corpus_stats):
    """dropDuplicatesWithinWatermark holds (key, ts) only inside the
    lateness horizon: state plateaus at horizon-arrival size and evicts
    every batch, while every input row still passes through exactly once
    (event_ids are unique in the fixture). The 100 TB contrast with plain
    dropDuplicates is measured in the companion test below."""
    raw = stream_raw_events(spark, sf_dir, source_dir=chunk_src, max_files_per_trigger=1)
    ded = raw.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(["event_id"])
    out, batches = run_stream_with_state_metrics(spark, ded, mode="append")
    series = state_rows_series(batches)
    removed = [sum(o["rows_removed"] for o in b["operators"]) for b in batches]
    n = corpus_stats["rows"]

    assert max(series) <= n * 0.30, (series, n)  # measured plateau ~13.6%
    assert sum(1 for r in removed if r > 0) >= N_CHUNKS - 1, removed
    assert out.count() == n  # nothing lost, nothing duplicated


def test_plain_dedup_state_grows_with_keys(spark, sf_dir, chunk_src, corpus_stats):
    """The anti-pattern, measured: plain dropDuplicates keeps EVERY key
    forever — state is monotone nondecreasing and ends at exactly
    keys-cardinality. This is why the engine's replay-dedup path
    (dedup_summary_stream) uses the watermark-bounded form; the test pins
    the contrast so the scale claim has both sides on record."""
    raw = stream_raw_events(spark, sf_dir, source_dir=chunk_src, max_files_per_trigger=1)
    out, batches = run_stream_with_state_metrics(
        spark, raw.dropDuplicates(["event_id"]), mode="append"
    )
    series = state_rows_series(batches)
    n = corpus_stats["rows"]

    assert all(a <= b for a, b in zip(series, series[1:])), series
    assert series[-1] == n, (series, n)
    assert out.count() == n


def test_stateful_bounded_hourly_exact_and_evicting(spark, sf_dir, corpus_stats, tmp_path):
    """The best-of-both stream, measured: the append-mode
    hourly_metrics_stream keeps EXACT distincts (size(collect_set)) and
    evicts each hour once the watermark passes it. A far-future sentinel
    event flushes the tail, so EVERY real hour must emit exactly once with
    ALL 15 metrics — including the two exact distincts — equal to the
    batch aggregation, while state plateaus at the open horizon instead of
    growing to hours-cardinality."""
    from datetime import timedelta

    from energy_data_stream_processing_spark.streaming.runner import (
        append_watermark_sentinel,
    )

    src = ascending_time_chunks(spark, sf_dir, N_CHUNKS)
    mx = append_watermark_sentinel(spark, sf_dir, src)

    ev = energy_events_stream(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    out, batches = run_stream_with_state_metrics(
        spark, hourly_metrics_stream(ev, horizon="2 hours"), mode="append"
    )
    series = state_rows_series(batches)
    hours = corpus_stats["hours"]

    # bounded: plateaus at the open horizon, never hours-cardinality
    assert max(series) <= hours * 0.35, (series, hours)
    assert series[-1] <= 3, series  # only the sentinel hour may remain

    sentinel_cut = mx + timedelta(days=30)
    got = {r["hour"]: r for r in out.collect() if r["hour"] < sentinel_cut}
    want = {
        r["hour"]: r
        for r in hourly_business_metrics(energy_events(spark, sf_dir)).collect()
    }
    assert set(got) == set(want) and len(got) == hours
    for hour, row in got.items():
        for c in want[hour].asDict():
            if c == "hour":
                continue
            assert float(row[c]) == pytest.approx(
                float(want[hour][c]), abs=1e-9
            ), (hour, c)


def test_stateful_bounded_hourly_survives_restart(spark, sf_dir, corpus_stats, tmp_path):
    """Kill-and-resume for the bounded variant: run 1 processes the first
    two ascending chunks under a checkpoint (early hours finalize, emit and
    EVICT); the query terminates; a third chunk plus the watermark sentinel
    arrive; run 2 resumes from the checkpoint. Recovery must restore BOTH
    the aggregation state (straddling hours finish exact, distincts
    included) and the watermark (already-evicted hours must NOT
    re-emit) — the union of the two runs' outputs is every hour exactly
    once, batch-equal on all 15 metrics."""
    import os

    from energy_data_stream_processing_spark.streaming.runner import (
        append_watermark_sentinel,
        normalize_event_ts,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    ts_us = F.unix_micros(F.col("ts"))
    q1, q2 = raw.withColumn("_ts_us", ts_us).approxQuantile("_ts_us", [0.34, 0.67], 0.0)
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def add_chunk(df, name):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(f"{stage}/{part}", str(src / f"{name}.parquet"))

    add_chunk(raw.where(ts_us < q1), "chunk_a")
    add_chunk(raw.where((ts_us >= q1) & (ts_us < q2)), "chunk_b")
    n_c = raw.where(ts_us >= q2).count()

    out_dir = str(tmp_path / "out")

    def start():
        # memory sink cannot recover an append-mode checkpoint; the parquet
        # sink is the exactly-once recoverable one, accumulating across runs
        ev = energy_events_stream(
            spark, sf_dir, source_dir=str(src), max_files_per_trigger=1
        )
        return (
            hourly_metrics_stream(ev, horizon="2 hours")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    r1 = start()
    r1.awaitTermination()
    first = {r["hour"] for r in spark.read.parquet(out_dir).collect()}
    assert first, "no hour finalized before the restart"

    add_chunk(raw.where(ts_us >= q2), "chunk_c")
    mx = append_watermark_sentinel(spark, sf_dir, str(src))
    r2 = start()
    r2.awaitTermination()
    # resumed run read only the new files (chunk_c + 1 sentinel row)
    resumed_rows = sum(p["numInputRows"] for p in r2.recentProgress)
    assert resumed_rows == n_c + 1, (resumed_rows, n_c)

    from datetime import timedelta

    cut = mx + timedelta(days=30)
    rows = [r for r in spark.read.parquet(out_dir).collect() if r["hour"] < cut]
    got = {r["hour"]: r for r in rows}
    # exactly-once across the restart: an evicted hour re-emitting (or a
    # straddling hour emitting partials in both runs) would duplicate here
    assert len(rows) == len(got), "an hour emitted twice across the runs"
    assert {r["hour"] for r in rows} - first, "restart finalized no new hours"
    want = {
        r["hour"]: r
        for r in hourly_business_metrics(energy_events(spark, sf_dir)).collect()
    }
    assert set(got) == set(want) and len(got) == corpus_stats["hours"]
    for hour, row in got.items():
        for c in want[hour].asDict():
            if c == "hour":
                continue
            assert float(row[c]) == pytest.approx(
                float(want[hour][c]), abs=1e-9
            ), (hour, c)


def test_sliding_window_state_multiplier_measured(spark, sf_dir, chunk_src):
    """SCALE.md §4's 'sliding windows multiply state by window/slide' claim,
    measured: the same corpus through a 1 h TUMBLING window and a
    1 h / 15 min SLIDING window (×4 overlap) under the same 2 h watermark
    must show a ~4× state-row plateau ratio — the number that prices a
    dashboard's slide granularity before anyone ships it."""
    def peak(windowed):
        _, batches = run_stream_with_state_metrics(spark, windowed, mode="append")
        return max(state_rows_series(batches))

    def stream():
        return stream_raw_events(
            spark, sf_dir, source_dir=chunk_src, max_files_per_trigger=1
        ).withWatermark("ts", "2 hours")

    tumbling = peak(
        stream().groupBy(F.window("ts", "1 hour")).count()
    )
    sliding = peak(
        stream().groupBy(F.window("ts", "1 hour", "15 minutes")).count()
    )
    ratio = sliding / tumbling
    assert 3.0 <= ratio <= 5.5, (tumbling, sliding, ratio)


def test_interval_join_state_evicts_by_condition(spark, sf_dir, chunk_src):
    """SCALE.md §4's stream-stream join claim, measured: 'the interval
    predicate is what lets the engine evict each side'. With a 1-HOUR
    watermark (not the test-wide 45-day blanket) the symmetricHashJoin's
    state must plateau at interval-horizon size (~25 h of arrivals, not
    the 30-day corpus), evict every batch — and the appended pairs must
    STILL exactly equal the batch self-join, because retention is derived
    from the 24 h interval condition, not the watermark delay alone."""
    from energy_data_stream_processing_spark.streaming.runner import (
        view_purchase_attribution_stream,
    )

    views = stream_raw_events(
        spark, sf_dir, source_dir=chunk_src, max_files_per_trigger=1
    ).where(F.col("event_type") == "view")
    purchases = stream_raw_events(
        spark, sf_dir, source_dir=chunk_src, max_files_per_trigger=1
    ).where(F.col("event_type") == "purchase")
    out, batches = run_stream_with_state_metrics(
        spark,
        view_purchase_attribution_stream(views, purchases, watermark="1 hour"),
        mode="append",
    )
    series = state_rows_series(batches)
    removed = [sum(o["rows_removed"] for o in b["operators"]) for b in batches]

    from energy_data_stream_processing_spark.streaming.runner import (
        normalize_event_ts,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    n_sides = raw.where(F.col("event_type").isin("view", "purchase")).count()
    # plateau at interval-horizon size (measured 66 of 390 side rows = 17%)
    assert max(series) <= n_sides * 0.35, (series, n_sides)
    assert sum(1 for r in removed if r > 0) >= N_CHUNKS - 1, removed

    vb = raw.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    pb = raw.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    # batch groundtruth states the predicate independently (the oracle side)
    batch_cond = (
        "v_user = p_user AND purchase_ts > view_ts "
        "AND purchase_ts <= view_ts + INTERVAL 24 HOURS"
    )
    want = sorted(
        (r["view_id"], r["purchase_id"])
        for r in vb.join(pb, F.expr(batch_cond)).collect()
    )
    got = sorted((r["view_id"], r["purchase_id"]) for r in out.collect())
    assert got == want and len(got) > 0


def test_session_window_state_evicts_closed_sessions(spark, sf_dir):
    """SCALE.md §4's session_window claim, measured: the merging-window
    state holds only OPEN sessions — closed ones evict as the watermark
    passes their gap — so the plateau tracks concurrent activity, not the
    corpus's total session count, while append-mode emission reproduces the
    batch sessionization exactly (the sentinel closes the tail)."""
    from energy_data_stream_processing_spark.operators.sessions import (
        sessionize,
        sessionize_native,
    )
    from energy_data_stream_processing_spark.streaming.runner import (
        append_watermark_sentinel,
        normalize_event_ts,
    )

    src = ascending_time_chunks(spark, sf_dir, N_CHUNKS)
    append_watermark_sentinel(spark, sf_dir, src)
    stream = stream_raw_events(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    agg = sessionize_native(
        stream.withWatermark("ts", "1 hour"), gap_minutes=30, exact_distinct=False
    )
    out, batches = run_stream_with_state_metrics(spark, agg, mode="append")
    series = state_rows_series(batches)
    removed = [sum(o["rows_removed"] for o in b["operators"]) for b in batches]

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    want = sorted(
        map(
            tuple,
            sessionize(raw, gap_minutes=30)
            .select("user_id", "session_start", "session_end", "n_events")
            .collect(),
        )
    )
    # plateau = concurrently-open sessions (measured 125 of 946 = 13%)
    assert max(series) <= len(want) * 0.35, (series, len(want))
    assert sum(1 for r in removed if r > 0) >= N_CHUNKS - 1, removed
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in out.collect()
        if r["user_id"] >= 0
    )
    assert got == want and len(got) > 0


def test_stateful_bounded_hourly_non_utc_session_tz(spark, sf_dir, corpus_stats):
    """Session-tz regression guard: the watermark and the window speak
    true epoch while the batch twin truncates hours in session wall-clock
    — any tz slip between them would evict hours 4-5 h early under
    America/New_York, while on-time rows still arrive (premature eviction,
    then dropped or duplicated rows). Under a non-UTC session the bounded
    stream must still emit every hour exactly once, batch-equal."""
    from datetime import timedelta

    from energy_data_stream_processing_spark.streaming.runner import (
        append_watermark_sentinel,
        run_hourly_stream,
    )

    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        src = ascending_time_chunks(spark, sf_dir, 3)
        mx = append_watermark_sentinel(spark, sf_dir, src)
        ev = energy_events_stream(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
        out = run_hourly_stream(spark, ev, horizon="2 hours")
        rows = [r for r in out.collect() if r["hour"] < mx + timedelta(days=30)]
        hours = [r["hour"] for r in rows]
        assert len(hours) == len(set(hours)), "premature eviction duplicated an hour"
        # batch twin computed under the SAME session tz
        want = {
            r["hour"]: r
            for r in hourly_business_metrics(energy_events(spark, sf_dir)).collect()
        }
        got = {r["hour"]: r for r in rows}
        assert set(got) == set(want) and len(got) == corpus_stats["hours"]
        for hour, row in got.items():
            for c in want[hour].asDict():
                if c != "hour":
                    assert float(row[c]) == pytest.approx(
                        float(want[hour][c]), abs=1e-9
                    ), (hour, c)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_stateful_bounded_hourly_drops_beyond_horizon_rows(spark, sf_dir, tmp_path):
    """The documented beyond-horizon divergence, executed: the
    watermarked window aggregation drops a row whose hour window already
    closed (window end <= watermark), so stragglers arriving after their
    hour's eviction are DROPPED — they neither re-open the hour nor
    corrupt it. Measured three ways: the late batch reports ZERO state
    updates, every hour still emits exactly once, and each emitted hour
    equals the batch aggregation over the ON-TIME subset on all 15
    metrics. (The update-mode twin without a watermark is the documented
    contrast: nothing is late there, which
    test_stateful_streaming_late_arrivals_equal_batch exploits for
    any-lateness exactness.)"""
    import os
    from datetime import timedelta

    from energy_data_stream_processing_spark.streaming.runner import (
        append_watermark_sentinel,
        normalize_event_ts,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    ts_us = F.unix_micros(F.col("ts"))
    q1, q2 = raw.withColumn("_ts_us", ts_us).approxQuantile("_ts_us", [0.25, 0.5], 0.0)
    held = (ts_us < q1) & (F.col("event_id") % 10 < 3)  # ~30% of early rows
    src = tmp_path / "src"
    src.mkdir()

    def add_chunk(df, name):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(f"{stage}/{part}", str(src / f"{name}.parquet"))

    add_chunk(raw.where((ts_us < q2) & ~held), "chunk_a")   # on-time early data
    add_chunk(raw.where(ts_us >= q2), "chunk_b")            # advances watermark far past q1 hours
    add_chunk(raw.where(held), "chunk_c_late")              # beyond-horizon stragglers
    mx = append_watermark_sentinel(spark, sf_dir, str(src))

    ev = energy_events_stream(spark, sf_dir, source_dir=str(src), max_files_per_trigger=1)
    out, batches = run_stream_with_state_metrics(
        spark, hourly_metrics_stream(ev, horizon="2 hours"), mode="append"
    )
    # the late chunk's micro-batch delivered rows but updated NO state —
    # the measured form of "rows of a closed window are dropped"
    late_batch = batches[2]
    assert late_batch["input_rows"] > 0
    assert sum(o["rows_updated"] for o in late_batch["operators"]) == 0, late_batch

    cut = mx + timedelta(days=30)
    rows = [r for r in out.collect() if r["hour"] < cut]
    hours_emitted = [r["hour"] for r in rows]
    assert len(hours_emitted) == len(set(hours_emitted)), "an hour emitted twice"

    # each emitted hour equals the batch aggregation over the ON-TIME subset
    ontime = energy_events(spark, sf_dir).alias("e").join(
        raw.where(held).select(F.col("event_id").alias("_held_id")),
        F.col("e.event_id") == F.col("_held_id"),
        "left_anti",
    )
    want = {r["hour"]: r for r in hourly_business_metrics(ontime).collect()}
    got = {r["hour"]: r for r in rows}
    assert set(got) == set(want)
    # the fixture genuinely had all-held hours: they must NOT appear at all
    all_hours = {
        r["hour"]
        for r in raw.select(F.date_trunc("hour", "ts").alias("hour")).distinct().collect()
    }
    assert set(got) < all_hours, "no hour was fully late — fixture too weak"
    for hour, row in got.items():
        for c in want[hour].asDict():
            if c == "hour":
                continue
            assert float(row[c]) == pytest.approx(
                float(want[hour][c]), abs=1e-9
            ), (hour, c)


def test_stateful_hourly_state_tracks_hours_cardinality(spark, sf_dir, chunk_src, corpus_stats):
    """The update-mode exact stream (no watermark) INTENTIONALLY holds one
    state row per hour forever — that is the unbounded-lateness capability
    the reference's additive flush implies (consumer.py:341-356: any hour
    can be re-opened by a late event). Measured: state grows to exactly
    hours-cardinality, nothing is evicted. The append-mode alternative
    (hourly_metrics_stream with a horizon, tested above) trades
    bounded-horizon lateness for a plateau; this test pins the measured
    cost of any-lateness exactness so the trade is a recorded number, not
    an opinion."""
    ev = energy_events_stream(spark, sf_dir, source_dir=chunk_src, max_files_per_trigger=1)
    _, batches = run_stream_with_state_metrics(
        spark, hourly_metrics_stream(ev, horizon=None), mode="update"
    )
    series = state_rows_series(batches)
    removed = sum(sum(o["rows_removed"] for o in b["operators"]) for b in batches)

    assert all(a <= b for a, b in zip(series, series[1:])), series
    assert series[-1] == corpus_stats["hours"], (series, corpus_stats)
    assert removed == 0


def test_hourly_pipeline_runs_state_plan_once_per_trigger(spark, sf_dir, tmp_path):
    """One execution of the state plan per trigger. ``foreach_batch_upsert``
    runs two actions on a non-empty micro-batch — the ``count()`` probe and
    the hour-store write — and persists the batch so that only the first
    executes the stateful plan; without the persist the write would
    recompute it, loading and committing every state store twice. Spark
    reports that per trigger: ``numStateStoreInstances`` counts the state
    stores the batch loaded and committed, i.e. ``numShufflePartitions``
    times the executions. (A job count cannot tell the two apart: the
    write's stage lists the state store in its lineage whether it
    recomputes it or reads the cached batch.) Driven through
    ``run_hourly_pipeline`` over the 3-chunk replay + sentinel; batches
    that evicted — hence wrote — hours are required, so the two-action
    path is really exercised."""
    from pyspark.sql.streaming import StreamingQueryListener

    from energy_data_stream_processing_spark.streaming import runner
    from energy_data_stream_processing_spark.streaming.runner import (
        append_watermark_sentinel,
    )

    seen: list[tuple] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            seen.extend(
                (p.batchId, s.numStateStoreInstances, s.numShufflePartitions,
                 s.numRowsRemoved)
                for s in p.stateOperators
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    src = ascending_time_chunks(spark, sf_dir, 3)
    append_watermark_sentinel(spark, sf_dir, src)
    ev = energy_events_stream(spark, sf_dir, source_dir=src, max_files_per_trigger=1)
    listener = _Listener()
    spark.streams.addListener(listener)
    try:
        runner.run_hourly_pipeline(
            spark, ev, str(tmp_path / "store"), str(tmp_path / "ckpt")
        )
        spark._jsc.sc().listenerBus().waitUntilEmpty(15_000)
    finally:
        spark.streams.removeListener(listener)

    assert len({b for b, *_ in seen}) >= 4, seen  # 3 chunks + sentinel
    assert sum(1 for *_, removed in seen if removed > 0) >= 2, seen
    for batch_id, instances, partitions, _ in seen:
        assert partitions == runner.HOURS_STATE_PARTITIONS
        assert instances == partitions, (batch_id, instances, partitions)

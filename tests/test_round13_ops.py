"""Round-13 pins: the durable hourly pipeline (``run_hourly_pipeline``)
through a crash and through scheduled catch-up invocations, the per-hour
density probe, and the injective tz-proof parquet hour key."""

from __future__ import annotations

import os
import sys
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from energy_data_stream_processing_spark.operators.hourly import (
    METRIC_COLUMNS,
    hourly_business_metrics,
)
from energy_data_stream_processing_spark.sources.adapter import energy_events
from energy_data_stream_processing_spark.sources.sinks import (
    _conf_override,
    read_hourly_metrics_parquet,
    upsert_hourly_metrics_parquet,
)
from energy_data_stream_processing_spark.streaming.runner import (
    append_watermark_sentinel,
    ascending_time_chunks,
    energy_events_stream,
)


# ---------------------------------------------------------------------------
# End-to-end: hourly stream -> parquet hour store, with a crash
# ---------------------------------------------------------------------------
@pytest.mark.parametrize(
    "provider",
    [
        None,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    ],
    ids=["hdfs", "rocksdb"],
)
def test_hourly_pipeline_kill_and_resume_equals_batch(
    spark, sf_dir, tmp_path, monkeypatch, provider
):
    """The durable pipeline's at-least-once story: ``run_hourly_pipeline``
    crashes AFTER its second store write but BEFORE that batch's
    checkpoint commit (the replay window), is invoked again on the same
    checkpoint, and the parquet store must equal the batch aggregate on
    every hour and all 15 metrics — under the default state store and
    under RocksDB (the 100 TB default). The replayed batch re-emits the
    same final hours, and the hour upsert overwrites them in place."""
    from contextlib import nullcontext

    from energy_data_stream_processing_spark.sources import sinks
    from energy_data_stream_processing_spark.streaming import runner

    src = ascending_time_chunks(spark, sf_dir, 3)
    mx = append_watermark_sentinel(spark, sf_dir, src)
    store = str(tmp_path / "metrics")
    ckpt = str(tmp_path / "ckpt")
    real_upsert = sinks.foreach_batch_upsert
    writes: list[int] = []

    def crashing_upsert(path):
        inner = real_upsert(path)

        def fn(batch_df, batch_id):
            inner(batch_df, batch_id)
            writes.append(batch_id)
            if len(writes) == 2:
                raise RuntimeError("injected crash after write, before commit")

        return fn

    def run():
        ev = energy_events_stream(
            spark, sf_dir, source_dir=src, max_files_per_trigger=1
        )
        return runner.run_hourly_pipeline(spark, ev, store, ckpt)

    ctx = (
        _conf_override(
            spark, "spark.sql.streaming.stateStore.providerClass", provider
        )
        if provider
        else nullcontext()
    )
    with ctx:
        monkeypatch.setattr(sinks, "foreach_batch_upsert", crashing_upsert)
        with pytest.raises(Exception):
            run()
        assert len(writes) == 2
        run()  # resumes: re-runs the uncommitted batch, then the rest
    assert writes.count(writes[1]) == 2, writes  # the crashed batch replayed

    got = {
        int(r["hour"].timestamp()): r.asDict()
        for r in read_hourly_metrics_parquet(spark, store)
        .where(F.col("hour") < mx + timedelta(days=30))
        .collect()
    }
    want = {
        int(r["hour"].timestamp()): r.asDict()
        for r in hourly_business_metrics(energy_events(spark, sf_dir)).collect()
    }
    assert set(got) == set(want) and len(want) > 0
    for h, row in got.items():
        for c in METRIC_COLUMNS:
            assert float(row[c]) == float(want[h][c]), (h, c)


# ---------------------------------------------------------------------------
# Per-hour density probe (reported by the benchmark's hourly workload)
# ---------------------------------------------------------------------------
def test_peak_hour_density_probe(spark, sf_dir, tmp_path):
    """The probe reads per-hour distinct customers (max over hours) from a
    BATCH slice; folding every event into ONE hour must raise the peak to
    ~the corpus's total distinct-customer count (HLL tolerance)."""
    from energy_data_stream_processing_spark.streaming.runner import (
        estimate_peak_hour_distinct_customers,
    )

    ev = energy_events(spark, sf_dir)
    peak = estimate_peak_hour_distinct_customers(ev)
    total = ev.select(F.count_distinct("customer_id")).first()[0]
    assert 0 < peak <= total * 1.05

    anchor = datetime(2024, 7, 1, 12, 0, tzinfo=timezone.utc)
    folded = ev.withColumn(
        "event_time",
        F.timestamp_micros(
            F.lit(int(anchor.timestamp() * 1_000_000))
            + F.unix_micros("event_time") % F.lit(3_600_000_000)
        ),
    )
    hot_peak = estimate_peak_hour_distinct_customers(folded)
    assert hot_peak >= total * 0.9  # the whole corpus now shares one hour


# ---------------------------------------------------------------------------
# Injective parquet hour key (the statement path's DST fix, lake/parquet side)
# ---------------------------------------------------------------------------
def test_parquet_hour_key_keeps_dst_twin_rows(spark, tmp_path):
    """Under a non-UTC session tz the DST fall-back's two instants render
    as ONE wall label; with the old label-only hour_key, flushing instant
    B after instant A dynamic-overwrote A's row away. The epoch-suffixed
    key keeps them in distinct partitions: two separate flushes, two
    surviving rows with their own values."""
    store = str(tmp_path / "m")
    prior = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        def one_hour(instant: str, scale: int):
            cols = ", ".join(
                f"CAST({(i + 1) * scale} AS DOUBLE) AS {m}"
                for i, m in enumerate(METRIC_COLUMNS)
            )
            return spark.sql(f"SELECT TIMESTAMP '{instant}' AS hour, {cols}")

        a = one_hour("2023-11-05 05:00:00+00:00", 1)
        b = one_hour("2023-11-05 06:00:00+00:00", 10)
        # the hazard: same wall label under the NY session tz
        assert (
            a.selectExpr("date_format(hour, 'yyyy-MM-dd-HH')").first()[0]
            == b.selectExpr("date_format(hour, 'yyyy-MM-dd-HH')").first()[0]
        )
        upsert_hourly_metrics_parquet(spark, a, store)
        upsert_hourly_metrics_parquet(spark, b, store)  # separate flush
        got = sorted(
            (int(r["hour"].timestamp()), float(r["tariff_switches"]))
            for r in read_hourly_metrics_parquet(spark, store).collect()
        )
        h0 = int(datetime(2023, 11, 5, 5, 0, tzinfo=timezone.utc).timestamp())
        assert got == [(h0, 1.0), (h0 + 3600, 10.0)]
        # and re-flushing one instant still overwrites ONLY itself
        upsert_hourly_metrics_parquet(spark, one_hour("2023-11-05 05:00:00+00:00", 3), store)
        got2 = sorted(
            (int(r["hour"].timestamp()), float(r["tariff_switches"]))
            for r in read_hourly_metrics_parquet(spark, store).collect()
        )
        assert got2 == [(h0, 3.0), (h0 + 3600, 10.0)]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


# ---------------------------------------------------------------------------
# Bench canary-ratio gate plumbing (round-12 verdict item 4)
# ---------------------------------------------------------------------------
def test_bench_baseline_reader_is_sf_scoped():
    """The committed canary baseline only applies at its own scale factor
    (ratios are sf-specific); a different sf must yield no baseline rather
    than mis-alerting. With the baseline present, the sf0.1 read returns
    the ratio map the in-bench gate divides against."""
    import bench

    ratios, label = bench._committed_baseline_ratios(0.01)
    assert ratios == {} and label == ""
    p = os.path.join(os.path.dirname(bench.__file__), "bench_canary_baseline.json")
    if os.path.exists(p):
        ratios, label = bench._committed_baseline_ratios(0.1)
        assert ratios and label
        assert all(v > 0 for v in ratios.values())


# ---------------------------------------------------------------------------
# Durable pipeline: scheduled catch-up invocations on one checkpoint
# ---------------------------------------------------------------------------
def test_hourly_pipeline_catchup_invocations_land_exact_hours(
    spark, sf_dir, tmp_path
):
    """The scheduled-catch-up pattern and its completeness contract
    (``run_hourly_pipeline`` docstring): invoke the pipeline, add more
    source files with ASCENDING mtimes (ordered arrival — the lateness
    contract drops rows of already-emitted hours by design), invoke AGAIN
    with the same checkpoint. The second run must (a) land AT LEAST every
    hour that fell behind the watermark built before its last data batch,
    and (b) everything landed must be batch-exact — partial values never
    reach the store, an hour lands once, final. The second invocation goes
    through the deprecated ``run_hourly_pipeline_dispatched`` alias the
    benchmark still calls."""
    import shutil

    from energy_data_stream_processing_spark.streaming import runner

    full = ascending_time_chunks(spark, sf_dir, 3)
    mx = append_watermark_sentinel(spark, sf_dir, full)
    live = str(tmp_path / "live")
    os.makedirs(live)
    t0 = 1_000_000_000
    for i, f in enumerate(
        ("chunk_0.parquet", "chunk_1.parquet",
         "chunk_2.parquet", "chunk_z_sentinel.parquet")
    ):
        shutil.copy(f"{full}/{f}", f"{tmp_path}/{f}")
        os.utime(f"{tmp_path}/{f}", (t0 + i, t0 + i))  # strict arrival order

    def arrive(*names):
        for f in names:
            shutil.move(f"{tmp_path}/{f}", f"{live}/{f}")

    arrive("chunk_0.parquet", "chunk_1.parquet")
    store, ckpt = str(tmp_path / "metrics"), str(tmp_path / "ckpt")
    ev1 = energy_events_stream(spark, sf_dir, source_dir=live, max_files_per_trigger=1)
    runner.run_hourly_pipeline(spark, ev1, metrics_path=store, checkpoint=ckpt)
    partial_hours = read_hourly_metrics_parquet(spark, store).count()

    # catch-up invocation: two more files, SAME checkpoint
    arrive("chunk_2.parquet", "chunk_z_sentinel.parquet")
    ev2 = energy_events_stream(spark, sf_dir, source_dir=live, max_files_per_trigger=1)
    d2 = runner.run_hourly_pipeline_dispatched(
        spark, ev2, metrics_path=store, checkpoint=ckpt, peak_hour_distinct=10**6
    )
    assert d2 == {"variant": "native"}

    got = {
        int(r["hour"].timestamp()): r.asDict()
        for r in read_hourly_metrics_parquet(spark, store)
        .where(F.col("hour") < mx + timedelta(days=30))
        .collect()
    }
    want = {
        int(r["hour"].timestamp()): r.asDict()
        for r in hourly_business_metrics(energy_events(spark, sf_dir)).collect()
    }
    assert partial_hours < len(want)  # run 1 really was a partial landing
    assert len(got) > partial_hours   # run 2 really continued the stream

    # completeness floor: everything behind the wm built from chunk_2
    # (the last pre-sentinel data) must have landed durably
    from pyspark.sql import functions as SF

    from energy_data_stream_processing_spark.sources.adapter import (
        normalize_event_ts,
    )

    c2_max = (
        normalize_event_ts(spark.read.parquet(f"{live}/chunk_2.parquet"))
        .select(SF.max("ts"))
        .first()[0]
    )
    wm_floor = int(c2_max.timestamp()) - 2 * 3600  # horizon = 2 hours
    required = {h for h in want if h + 3600 <= wm_floor}
    assert required and required <= set(got) <= set(want)

    # exactness: every landed hour is final — batch-equal on all metrics
    for h, row in got.items():
        for c in METRIC_COLUMNS:
            assert float(row[c]) == float(want[h][c]), (h, c)


# ---------------------------------------------------------------------------
# Review fixes: legacy hour_key guard/migration, bench math
# ---------------------------------------------------------------------------
def test_legacy_hour_key_guard_and_migration(spark, tmp_path):
    """A store written under the pre-injective label-only hour_key must be
    REFUSED by the upsert (mixed keys double hours for every reader) and
    rewritten once by migrate_hour_store_keys, after which the upsert
    works and readers see exactly one row per hour — never two."""
    from energy_data_stream_processing_spark.sources.sinks import (
        legacy_hour_key_values,
        migrate_hour_store_keys,
    )

    store = str(tmp_path / "metrics")
    hours = [
        datetime(2024, 5, 1, 7, 0, tzinfo=timezone.utc),
        datetime(2024, 5, 1, 8, 0, tzinfo=timezone.utc),
    ]
    rows = [
        (h.replace(tzinfo=None), *[float(i + 1)] * len(METRIC_COLUMNS))
        for i, h in enumerate(hours)
    ]
    legacy = spark.createDataFrame(
        rows, schema=["hour", *METRIC_COLUMNS]
    ).withColumn("hour_key", F.date_format("hour", "yyyy-MM-dd-HH"))
    legacy.write.mode("overwrite").partitionBy("hour_key").parquet(store)
    assert legacy_hour_key_values(store) == ["2024-05-01-07", "2024-05-01-08"]

    fresh = spark.createDataFrame(
        [rows[0][:1] + tuple(9.0 for _ in METRIC_COLUMNS)],
        schema=["hour", *METRIC_COLUMNS],
    )
    with pytest.raises(ValueError, match="legacy label-only hour_key"):
        upsert_hourly_metrics_parquet(spark, fresh, store)

    n = migrate_hour_store_keys(spark, store)
    assert n == 2
    assert legacy_hour_key_values(store) == []
    assert migrate_hour_store_keys(spark, store) == 0  # idempotent no-op
    assert migrate_hour_store_keys(spark, str(tmp_path / "absent")) == 0

    # post-migration upsert overwrites IN PLACE: one row per hour, updated
    upsert_hourly_metrics_parquet(spark, fresh, store)
    got = read_hourly_metrics_parquet(spark, store).collect()
    assert sorted(r["hour"] for r in got) == [h.replace(tzinfo=None) for h in hours]
    by_hour = {r["hour"]: r for r in got}
    assert float(by_hour[hours[0].replace(tzinfo=None)][METRIC_COLUMNS[0]]) == 9.0
    assert float(by_hour[hours[1].replace(tzinfo=None)][METRIC_COLUMNS[0]]) == 2.0


def test_lake_merge_refuses_legacy_hour_keys(spark, tmp_path):
    """The lake-table twin of the same hazard: a MERGE keyed by the new
    epoch-suffixed hour_key would never match rows stored under the legacy
    label-only key — every hour would land twice. The streaming lake sink
    must refuse the table instead."""
    from energy_data_stream_processing_spark.sources.laketable import (
        LakeTable,
        foreach_batch_lake_merge,
    )

    path = str(tmp_path / "lake")
    h = datetime(2024, 5, 1, 7, 0)
    legacy = spark.createDataFrame(
        [(h, *[1.0] * len(METRIC_COLUMNS), "2024-05-01-07")],
        schema=["hour", *METRIC_COLUMNS, "hour_key"],
    )
    LakeTable(path).merge_upsert(spark, legacy, "hour_key")

    fn = foreach_batch_lake_merge(path)
    fresh = spark.createDataFrame(
        [(h, *[2.0] * len(METRIC_COLUMNS))], schema=["hour", *METRIC_COLUMNS]
    )
    with pytest.raises(ValueError, match="legacy label-only hour_key"):
        fn(fresh, 0)
    # a NEW-format table passes the same one-time check
    path2 = str(tmp_path / "lake2")
    fn2 = foreach_batch_lake_merge(path2)
    fn2(fresh, 0)
    fn2(fresh, 1)
    assert LakeTable(path2).read(spark).count() == 1


def test_bench_gate_median_and_baseline_robustness(tmp_path, monkeypatch):
    """The renormalization divisor is a true median (even-count sets
    average the two middles — the upper-middle pick skewed every norm and
    the reported median_ratio_shift), and a malformed committed baseline
    is IGNORED by the reader, never fatal to the bench run."""
    import statistics

    import bench

    # even-count median: 10x 0.9 and 10x 1.1 must renormalize around 1.0
    rel = [0.9] * 10 + [1.1] * 10
    assert statistics.median(rel) == pytest.approx(1.0)

    p = os.path.join(os.path.dirname(bench.__file__), "bench_canary_baseline.json")
    orig = open(p).read() if os.path.exists(p) else None
    try:
        for bad in ("[]", '{"sf": null}', '{"sf": {}}',
                    '{"sf": 0.1, "warm_queries_per_canary": [1, 2]}',
                    "not json at all"):
            with open(p, "w") as f:
                f.write(bad)
            assert bench._committed_baseline_ratios(0.1) == ({}, "")
    finally:
        if orig is None:
            os.remove(p)
        else:
            with open(p, "w") as f:
                f.write(orig)


def test_migration_refuses_crashed_swap_and_duplicated_hours(spark, tmp_path):
    """The migration's two unrepairable states must be refused, not
    guessed at: a leftover _keymigration_old directory means a crash
    between the swap renames (the store may BE that directory — a rerun
    returning 0 would silently restart history from empty), and a store
    already holding one hour under BOTH key formats would have its
    duplication blessed by a blind rewrite. The upsert guard also refuses
    to write while the crash marker exists."""
    from energy_data_stream_processing_spark.sources.sinks import (
        migrate_hour_store_keys,
    )

    store = str(tmp_path / "metrics")
    h = datetime(2024, 5, 1, 7, 0)
    df = spark.createDataFrame(
        [(h, *[1.0] * len(METRIC_COLUMNS))], schema=["hour", *METRIC_COLUMNS]
    )

    # crash marker with the store missing: the mid-swap state — the store
    # IS the old directory; the refusal must say to restore it
    os.makedirs(f"{store}_keymigration_old")
    with pytest.raises(RuntimeError, match="store IS"):
        migrate_hour_store_keys(spark, store)
    with pytest.raises(ValueError, match="crashed key migration"):
        upsert_hourly_metrics_parquet(spark, df, store)
    os.rmdir(f"{store}_keymigration_old")

    # mixed-format duplication: same hour under legacy AND new key
    legacy_row = df.withColumn("hour_key", F.date_format("hour", "yyyy-MM-dd-HH"))
    legacy_row.write.mode("overwrite").partitionBy("hour_key").parquet(store)
    from energy_data_stream_processing_spark.sources.sinks import (
        hour_partition_key,
    )

    df.withColumn("hour_key", hour_partition_key()).write.mode(
        "append"
    ).partitionBy("hour_key").parquet(store)
    with pytest.raises(RuntimeError, match="duplicated hours"):
        migrate_hour_store_keys(spark, store)


def test_bench_baseline_reader_drops_non_numeric_ratios(tmp_path):
    """Value-level malformation (a string/null/bool ratio) is dropped by
    the reader instead of crashing main()'s `> 0` comparisons later."""
    import bench

    p = os.path.join(os.path.dirname(bench.__file__), "bench_canary_baseline.json")
    orig = open(p).read() if os.path.exists(p) else None
    try:
        with open(p, "w") as f:
            f.write(
                '{"sf": 0.1, "label": "x", "warm_queries_per_canary": '
                '{"good": 1.2, "bad_str": "1.2", "bad_null": null, '
                '"bad_bool": true}}'
            )
        ratios, label = bench._committed_baseline_ratios(0.1)
        assert ratios == {"good": 1.2} and label == "x"
    finally:
        if orig is None:
            os.remove(p)
        else:
            with open(p, "w") as f:
                f.write(orig)


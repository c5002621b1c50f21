"""Round-15 regressions: the three hazards from the r14 verdict/advice.

1. ``hour_partition_key``'s label must be derived arithmetically from the
   epoch — the r14 ``convert_timezone`` label mis-keyed DST fall-back
   OVERLAP instants under non-UTC session timezones (one instant, two
   partition keys => silent hour doubling across sessions).
2. The native streaming collapse must keep each hour's LAST update-mode
   emission, not per-column ``max()`` — negative values (meter
   corrections / exports) arriving in a later micro-batch make cumulative
   sums DECREASE, so ``max()`` kept a stale partial.
3. ``compact_raw_store`` must converge on ``_increment_id``-keyed stores —
   the per-day file audit re-flagged keyed days on every invocation.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

#: 2024-11-03 06:00:00 UTC == the SECOND 1:00 AM wall hour in
#: America/New_York (DST fall-back overlap — two instants share the wall).
DST_OVERLAP_EPOCH = 1730613600


def _set_tz(spark, tz):
    spark.conf.set("spark.sql.session.timeZone", tz)


# --------------------------------------------------------------------------
# 1. hour_partition_key: canonical on the ambiguous overlap instant itself
# --------------------------------------------------------------------------
def test_hour_key_canonical_on_dst_overlap_instant(spark, tmp_path):
    """The r14 UTC-label attempt went through convert_timezone(None,'UTC',
    hour), which implicitly renders the instant as a session-tz WALL first;
    for the fall-back overlap the wall->UTC re-conversion picks the earlier
    offset, so epoch 1730613600 keyed as '...-06-...' under UTC but
    '...-05-...' under America/New_York — one instant, two partition keys.
    The arithmetic label must be byte-identical across session tzs, and a
    store upserted under both tzs must hold ONE partition for the hour."""
    from energy_data_stream_processing_spark.operators.hourly import (
        METRIC_COLUMNS,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        hour_partition_key,
        read_hourly_metrics_parquet,
        upsert_hourly_metrics_parquet,
    )

    # hour built JVM-side from the epoch literal — instant-exact in any tz
    df = spark.sql(
        f"SELECT timestamp_seconds({DST_OVERLAP_EPOCH}) AS hour"
    ).select("hour", *[F.lit(1.0).alias(c) for c in METRIC_COLUMNS])
    expect = f"2024-11-03-06-{DST_OVERLAP_EPOCH}"

    store = str(tmp_path / "metrics")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        keys = {}
        for tz in ("UTC", "America/New_York"):
            _set_tz(spark, tz)
            keys[tz] = df.select(hour_partition_key().alias("k")).first()["k"]
        assert keys == {"UTC": expect, "America/New_York": expect}, keys

        _set_tz(spark, "UTC")
        upsert_hourly_metrics_parquet(spark, df, store)
        _set_tz(spark, "America/New_York")
        upsert_hourly_metrics_parquet(spark, df, store)
    finally:
        _set_tz(spark, prev)

    dirs = [d for d in os.listdir(store) if d.startswith("hour_key=")]
    assert dirs == [f"hour_key={expect}"], dirs
    assert read_hourly_metrics_parquet(spark, store).count() == 1


def test_hour_key_label_matches_utc_rendering_generally(spark):
    """Non-adversarial instants: the arithmetic label must equal the plain
    UTC date_format rendering across a year of hours (the format contract
    existing stores were written under)."""
    from energy_data_stream_processing_spark.sources.sinks import (
        hour_partition_key,
    )

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        _set_tz(spark, "UTC")
        hours = spark.sql(
            "SELECT timestamp_seconds(1704067200 + id * 3600) AS hour "
            "FROM range(0, 8784)"  # all of leap-year 2024
        )
        mismatch = hours.where(
            hour_partition_key()
            != F.concat_ws(
                "-",
                F.date_format("hour", "yyyy-MM-dd-HH"),
                F.col("hour").cast("long"),
            )
        ).count()
        assert mismatch == 0
    finally:
        _set_tz(spark, prev)


# --------------------------------------------------------------------------
# 2. native collapse: last emission wins, even when a sum DECREASES
# --------------------------------------------------------------------------
def test_native_collapse_keeps_last_emission_under_negative_values(
    spark, tmp_path
):
    """Two files -> two micro-batches (maxFilesPerTrigger=1): the hour gets
    +6.0/+4.0 energy in batch 1 and a -8.0 correction in batch 2, so the
    cumulative update-mode emissions are 10.0 then 2.0. The r14 per-column
    max() collapse kept the stale 10.0; the ordinal collapse must keep the
    final 2.0 (r14 verdict item 2)."""
    from energy_data_stream_processing_spark.streaming.runner import (
        collapse_native_updates,
        hourly_metrics_native_stream,
        run_stream_to_table,
    )

    rows1 = [
        (datetime(2024, 5, 1, 7, 10), "energy_consumed", None, 6.0, "C1", 1),
        (datetime(2024, 5, 1, 7, 20), "energy_consumed", None, 4.0, "C2", 2),
    ]
    rows2 = [
        (datetime(2024, 5, 1, 7, 40), "energy_consumed", None, -8.0, "C1", 1),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate((rows1, rows2)):
        d = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            rows, schema="event_time timestamp, event_type string, "
            "payment_amount double, energy_consumed double, "
            "customer_id string, session_id int",
        ).coalesce(1).write.mode("overwrite").parquet(d)
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        dst = f"{src}/chunk_{i}.parquet"
        os.rename(f"{d}/{part}", dst)
        # file source lists oldest-mtime-first: pin the batch order
        os.utime(dst, (1700000000 + i * 60, 1700000000 + i * 60))

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = run_stream_to_table(
        spark, hourly_metrics_native_stream(stream, with_emit_ordinal=True)
    )
    emissions = sorted(
        (r["_rows_total"], r["total_energy_consumed"])
        for r in out.collect()
    )
    # really two cumulative re-emissions of the same hour, sum DECREASING
    assert emissions == [(2, 10.0), (3, 2.0)], emissions
    # the r14 per-column max() would have kept the stale 10.0
    assert out.agg(F.max("total_energy_consumed")).first()[0] == 10.0

    collapsed = collapse_native_updates(out)
    assert "_rows_total" not in collapsed.columns
    final = collapsed.collect()
    assert len(final) == 1
    assert final[0]["total_energy_consumed"] == 2.0


def test_native_catalog_entry_schema_unchanged(spark, sf_dir):
    """The emit-ordinal plumbing must not leak into the catalog entry's
    output schema (the driver smoke-checks schema stability)."""
    from energy_data_stream_processing_spark.plans.catalog import all_queries

    df = all_queries()["streaming_hourly_native"].builder(spark, sf_dir)
    assert "_rows_total" not in df.columns
    assert df.columns[0] == "hour"


# --------------------------------------------------------------------------
# 3. keyed-store compaction converges
# --------------------------------------------------------------------------
def test_compact_keyed_store_converges(spark, tmp_path, sf_dir):
    """A keyed day with N increments legitimately holds >= N files forever;
    the r14 per-day audit therefore re-flagged (and re-rewrote) the same
    already-compact leaves on every invocation. Per-leaf counting must
    compact once and then report NOTHING to do."""
    from energy_data_stream_processing_spark.sources.adapter import (
        energy_events,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        compact_raw_store,
        refresh_hourly_incremental,
    )

    ev = energy_events(spark, sf_dir).limit(200)
    raw = str(tmp_path / "raw")
    store = str(tmp_path / "metrics")
    # repartition(4) -> up to 4 files per (increment, day) leaf, so the
    # first pass genuinely has work to do
    refresh_hourly_incremental(
        spark, raw, store, ev.limit(100).repartition(4), increment_id="b0"
    )
    refresh_hourly_incremental(
        spark,
        raw,
        store,
        ev.subtract(ev.limit(100)).repartition(4),
        increment_id="b1",
    )
    before = spark.read.parquet(raw).count()

    first = compact_raw_store(spark, raw, max_files_per_partition=1)
    assert first, "multi-file leaves should compact on the first pass"
    after = spark.read.parquet(raw)
    assert after.count() == before
    assert "_increment_id" in after.columns

    # convergence: every leaf now holds one file; a second invocation must
    # be a no-op (the r14 per-day audit looped here forever)
    assert compact_raw_store(spark, raw, max_files_per_partition=1) == []


def test_compact_plain_store_behavior_unchanged(spark, tmp_path, sf_dir):
    """Plain (un-keyed) stores: leaf == day, so the per-leaf audit is the
    old per-day audit — oversplit days compact, a second pass is a no-op."""
    from energy_data_stream_processing_spark.sources.adapter import (
        energy_events,
    )
    from energy_data_stream_processing_spark.sources.sinks import compact_raw_store

    ev = energy_events(spark, sf_dir).limit(120)
    raw = str(tmp_path / "raw")
    # the plain layout of the earlier un-keyed append, in two appends
    for part in (ev.limit(60), ev.subtract(ev.limit(60))):
        part.repartition(3).withColumn("event_date", F.to_date("event_time")).write.mode(
            "append"
        ).partitionBy("event_date").parquet(raw)
    before = spark.read.parquet(raw).count()

    assert compact_raw_store(spark, raw, max_files_per_partition=1)
    assert spark.read.parquet(raw).count() == before
    assert compact_raw_store(spark, raw, max_files_per_partition=1) == []


# --------------------------------------------------------------------------
# 4. label/epoch-mismatched hour keys (the r14 DST residue) are detected
# --------------------------------------------------------------------------
def test_mismatched_hour_key_refused_and_migrated(spark, tmp_path):
    """A store written by the r14 convert_timezone label under a non-UTC
    session at the DST overlap holds '2024-11-03-05-1730613600' for an
    instant whose canonical key is '...-06-...'. Upserting the canonical
    key next to it would silently double the hour (both keys match the
    new format, so the legacy guard can't see it); the mismatch guard
    must refuse, and migrate_hour_store_keys must rewrite the store to
    the canonical key (it recomputes every key from `hour`)."""
    import pytest

    from energy_data_stream_processing_spark.operators.hourly import (
        METRIC_COLUMNS,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        migrate_hour_store_keys,
        mismatched_hour_key_values,
        read_hourly_metrics_parquet,
        upsert_hourly_metrics_parquet,
    )

    store = str(tmp_path / "metrics")
    df = spark.sql(
        f"SELECT timestamp_seconds({DST_OVERLAP_EPOCH}) AS hour"
    ).select("hour", *[F.lit(1.0).alias(c) for c in METRIC_COLUMNS])
    # plant the r14-buggy key directly (the buggy expression is gone)
    (
        df.withColumn(
            "hour_key", F.lit(f"2024-11-03-05-{DST_OVERLAP_EPOCH}")
        )
        .write.partitionBy("hour_key")
        .parquet(store)
    )
    assert mismatched_hour_key_values(store) == [
        f"2024-11-03-05-{DST_OVERLAP_EPOCH}"
    ]
    with pytest.raises(ValueError, match="disagrees with its epoch"):
        upsert_hourly_metrics_parquet(spark, df, store)

    assert migrate_hour_store_keys(spark, store) == 1
    assert mismatched_hour_key_values(store) == []
    dirs = [d for d in os.listdir(store) if d.startswith("hour_key=")]
    assert dirs == [f"hour_key=2024-11-03-06-{DST_OVERLAP_EPOCH}"]

    # the store is writable again, and the upsert replaces (not doubles)
    upsert_hourly_metrics_parquet(spark, df, store)
    assert read_hourly_metrics_parquet(spark, store).count() == 1


def test_lake_merge_refuses_mismatched_hour_key(spark, tmp_path):
    """The lake MERGE path has the same exposure: an existing row under a
    mismatched key never MERGE-matches the canonical key, doubling the
    hour. The one-time key scan must refuse it (spark-side filter, same
    seam as the legacy scan)."""
    import pytest

    from energy_data_stream_processing_spark.operators.hourly import (
        METRIC_COLUMNS,
    )
    from energy_data_stream_processing_spark.sources.laketable import (
        LakeTable,
        foreach_batch_lake_merge,
    )

    df = spark.sql(
        f"SELECT timestamp_seconds({DST_OVERLAP_EPOCH}) AS hour"
    ).select("hour", *[F.lit(1.0).alias(c) for c in METRIC_COLUMNS])
    bad = str(tmp_path / "lake_mismatch")
    t = LakeTable(bad)
    t.merge_upsert(
        spark,
        df.withColumn(
            "hour_key", F.lit(f"2024-11-03-05-{DST_OVERLAP_EPOCH}")
        ),
        "hour_key",
    )
    fn = foreach_batch_lake_merge(bad, key_col="hour_key")
    with pytest.raises(ValueError, match="disagrees with its epoch"):
        fn(df, 0)
    assert not os.path.exists(
        os.path.join(bad, "_log", "_hour_keys_v2_verified")
    )


def test_mismatch_guard_survives_unrepresentable_epoch(spark, tmp_path):
    """A regex-conforming key whose epoch is outside datetime range (junk
    or foreign directory) must be REFUSED as mismatched, not crash every
    subsequent upsert with a 'year out of range' traceback (self-review):
    readers would silently include such a partition's rows, so the guard
    has to speak up, and the upsert path calls it on every write."""
    import pytest

    from energy_data_stream_processing_spark.operators.hourly import (
        METRIC_COLUMNS,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        mismatched_hour_key_values,
        upsert_hourly_metrics_parquet,
    )

    store = str(tmp_path / "metrics")
    df = spark.sql(
        f"SELECT timestamp_seconds({DST_OVERLAP_EPOCH}) AS hour"
    ).select("hour", *[F.lit(1.0).alias(c) for c in METRIC_COLUMNS])
    junk = "2024-11-03-06-99999999999999"
    df.withColumn("hour_key", F.lit(junk)).write.partitionBy(
        "hour_key"
    ).parquet(store)
    assert mismatched_hour_key_values(store) == [junk]  # no crash
    with pytest.raises(ValueError, match="disagrees with its epoch"):
        upsert_hourly_metrics_parquet(spark, df, store)


def test_compact_rewrites_only_offending_leaves(spark, tmp_path, sf_dir):
    """A keyed day's already-compact sibling leaf must keep its files
    byte-for-byte when ANOTHER increment's leaf on the same day compacts
    (self-review: the day-level rewrite filter churned siblings through
    the dynamic overwrite on every compaction)."""
    import glob

    from energy_data_stream_processing_spark.sources.adapter import (
        energy_events,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        compact_raw_store,
        refresh_hourly_incremental,
    )

    ev = energy_events(spark, sf_dir).limit(120)
    raw = str(tmp_path / "raw")
    store = str(tmp_path / "metrics")
    # b0: compact (1 file per leaf); b1: oversplit (up to 4 files per leaf)
    refresh_hourly_incremental(
        spark, raw, store, ev.limit(60).coalesce(1), increment_id="b0"
    )
    refresh_hourly_incremental(
        spark,
        raw,
        store,
        ev.subtract(ev.limit(60)).repartition(4),
        increment_id="b1",
    )
    before_b0 = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{raw}/_increment_id=b0/**/*.parquet", recursive=True)
    }
    assert before_b0
    touched = compact_raw_store(spark, raw, max_files_per_partition=1)
    assert touched  # b1's oversplit leaves compacted
    after_b0 = {
        p: os.stat(p).st_mtime_ns
        for p in glob.glob(f"{raw}/_increment_id=b0/**/*.parquet", recursive=True)
    }
    assert after_b0 == before_b0  # sibling leaves untouched byte-for-byte


def test_migration_fixes_legacy_and_mismatched_keys_in_one_pass(
    spark, tmp_path
):
    """A store holding BOTH key pathologies on different hours — a legacy
    label-only key and an r14 label/epoch-mismatched key — migrates in one
    pass to canonical keys (the rewrite recomputes every key from `hour`,
    so the trigger set is the only thing that distinguishes them)."""
    from datetime import datetime

    from energy_data_stream_processing_spark.operators.hourly import (
        METRIC_COLUMNS,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        legacy_hour_key_values,
        migrate_hour_store_keys,
        mismatched_hour_key_values,
        read_hourly_metrics_parquet,
    )

    store = str(tmp_path / "metrics")
    legacy_row = spark.createDataFrame(
        [(datetime(2024, 5, 1, 7, 0), *[1.0] * len(METRIC_COLUMNS))],
        schema=["hour", *METRIC_COLUMNS],
    ).withColumn("hour_key", F.date_format("hour", "yyyy-MM-dd-HH"))
    mismatched_row = (
        spark.sql(f"SELECT timestamp_seconds({DST_OVERLAP_EPOCH}) AS hour")
        .select("hour", *[F.lit(2.0).alias(c) for c in METRIC_COLUMNS])
        .withColumn(
            "hour_key", F.lit(f"2024-11-03-05-{DST_OVERLAP_EPOCH}")
        )
    )
    legacy_row.write.partitionBy("hour_key").parquet(store)
    mismatched_row.write.mode("append").partitionBy("hour_key").parquet(
        store
    )
    assert legacy_hour_key_values(store)
    assert mismatched_hour_key_values(store)

    assert migrate_hour_store_keys(spark, store) == 2
    assert legacy_hour_key_values(store) == []
    assert mismatched_hour_key_values(store) == []
    assert read_hourly_metrics_parquet(spark, store).count() == 2
    dirs = sorted(
        d for d in os.listdir(store) if d.startswith("hour_key=")
    )
    assert f"hour_key=2024-11-03-06-{DST_OVERLAP_EPOCH}" in dirs
    assert len(dirs) == 2


# --------------------------------------------------------------------------
# 5. lake-side key-scan robustness (deep review of laketable.py)
# --------------------------------------------------------------------------
def test_lake_merge_survives_empty_first_batch(spark, tmp_path):
    """Batch 0 with zero rows commits a zero-file snapshot; a RESTART's key
    scan used to table.read() that snapshot, raise 'lake table is empty',
    and crash-loop every later batch before data could ever merge. The
    scan must skip (nothing to verify) without writing the verified
    marker, and the first real batch must merge."""
    from energy_data_stream_processing_spark.operators.hourly import (
        METRIC_COLUMNS,
    )
    from energy_data_stream_processing_spark.sources.laketable import (
        LakeTable,
        foreach_batch_lake_merge,
    )

    df = spark.sql(
        f"SELECT timestamp_seconds({DST_OVERLAP_EPOCH}) AS hour"
    ).select("hour", *[F.lit(1.0).alias(c) for c in METRIC_COLUMNS])
    path = str(tmp_path / "lake_empty0")
    fn = foreach_batch_lake_merge(path, key_col="hour_key")
    fn(df.where(F.lit(False)), 0)  # empty batch 0 commits zero files

    # restart (fresh closure, marker absent): must NOT crash on the scan
    fn2 = foreach_batch_lake_merge(path, key_col="hour_key")
    fn2(df, 1)
    assert LakeTable(path).read(spark).count() == 1
    # the zero-file scan must not have earned the marker; the data-bearing
    # one may on the NEXT restart
    fn3 = foreach_batch_lake_merge(path, key_col="hour_key")
    fn3(df, 2)
    marker = os.path.join(path, "_log", "_hour_keys_v2_verified")
    assert os.path.exists(marker)


def test_lake_scan_refuses_unrepresentable_epochs_without_crashing(
    spark, tmp_path
):
    """Two corrupt-epoch classes, both format-conforming: a 16-19 digit
    epoch FITS a long but overflowed the canonical recompute's int cast
    under ANSI (CAST_OVERFLOW killed the scan); a 20+ digit epoch nulls
    the try_cast and used to slip through silently — and then the marker
    suppressed every future re-scan while readers double-counted the
    partition. Both must now surface as the loud mismatch refusal."""
    import pytest

    from energy_data_stream_processing_spark.operators.hourly import (
        METRIC_COLUMNS,
    )
    from energy_data_stream_processing_spark.sources.laketable import (
        LakeTable,
        foreach_batch_lake_merge,
    )

    df = spark.sql(
        f"SELECT timestamp_seconds({DST_OVERLAP_EPOCH}) AS hour"
    ).select("hour", *[F.lit(1.0).alias(c) for c in METRIC_COLUMNS])
    for tag, junk in (
        ("long_overflow_int", "2024-01-01-00-999999999999999999"),
        ("beyond_long", "2024-01-01-00-99999999999999999999"),
    ):
        path = str(tmp_path / f"lake_{tag}")
        t = LakeTable(path)
        t.merge_upsert(
            spark, df.withColumn("hour_key", F.lit(junk)), "hour_key"
        )
        fn = foreach_batch_lake_merge(path, key_col="hour_key")
        with pytest.raises(ValueError, match="disagrees with its epoch"):
            fn(df, 0)
        assert not os.path.exists(
            os.path.join(path, "_log", "_hour_keys_v2_verified")
        ), tag

"""Round-16 regressions: the r15 verdict/advice items.

1. ``mismatched_hour_key_values`` compares the WHOLE canonical key, not
   just the label — a zero-padded epoch tail passed the parquet guard but
   never matched the canonical partition value (silent duplicate hour).
2. Negative epochs are refused at WRITE time by ``hour_partition_key``
   (pre-1970 hours are corrupt input in this post-2024 domain), and
   foreign stores' signed-tail keys are now VERIFIABLE by both the
   parquet and lake guards instead of invisible.
3. ``laketable.migrate_lake_hour_keys`` — the lake twin of
   ``migrate_hour_store_keys``: one committed version rewriting every
   legacy/mismatched key canonically from ``hour``.
"""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

#: 2024-11-03 06:00:00 UTC (the DST fall-back overlap instant reused from
#: the round-15 suite — any post-2024 hour would do here).
EPOCH = 1730613600


def _metrics_df(spark, epoch=EPOCH, fill=1.0):
    from energy_data_stream_processing_spark.operators.hourly import (
        METRIC_COLUMNS,
    )

    return spark.sql(f"SELECT timestamp_seconds({epoch}) AS hour").select(
        "hour", *[F.lit(fill).alias(c) for c in METRIC_COLUMNS]
    )


# --------------------------------------------------------------------------
# 1. whole-key mismatch guard (zero-padded epoch tail)
# --------------------------------------------------------------------------
def test_mismatched_guard_flags_zero_padded_epoch_tail(spark, tmp_path):
    """'2024-11-03-06-0001730613600' has the RIGHT label and the RIGHT
    epoch, but the tail is not the canonical rendering — the key never
    matches the canonical partition value, so an upsert would leave a
    silent duplicate partition for the hour. The guard must flag it
    (r15 advice: the label-only compare passed it), the upsert must
    refuse, and the migration must repair it."""
    from energy_data_stream_processing_spark.sources.sinks import (
        migrate_hour_store_keys,
        mismatched_hour_key_values,
        upsert_hourly_metrics_parquet,
    )

    store = str(tmp_path / "metrics")
    df = _metrics_df(spark)
    padded = f"2024-11-03-06-000{EPOCH}"
    df.withColumn("hour_key", F.lit(padded)).write.partitionBy(
        "hour_key"
    ).parquet(store)
    assert mismatched_hour_key_values(store) == [padded]
    with pytest.raises(ValueError, match="disagrees with its epoch"):
        upsert_hourly_metrics_parquet(spark, df, store)

    assert migrate_hour_store_keys(spark, store) == 1
    assert mismatched_hour_key_values(store) == []
    assert os.path.isdir(
        os.path.join(store, f"hour_key=2024-11-03-06-{EPOCH}")
    )


# --------------------------------------------------------------------------
# 2. negative epochs: refused at write, verifiable when foreign
# --------------------------------------------------------------------------
def test_negative_epoch_refused_at_write(spark, tmp_path):
    """A pre-1970 hour used to key as '1969-12-31-23--3600' — a format no
    guard could see (writable but unverifiable, r15 advice). The write
    path must now refuse it loudly; sane hours in the same frame are
    unaffected (the raise is a lazy CASE WHEN branch)."""
    from energy_data_stream_processing_spark.sources.sinks import (
        hour_partition_key,
        upsert_hourly_metrics_parquet,
    )

    bad = _metrics_df(spark, epoch=-3600)
    with pytest.raises(Exception, match="negative epoch"):
        bad.select(hour_partition_key().alias("k")).collect()
    with pytest.raises(Exception, match="negative epoch"):
        upsert_hourly_metrics_parquet(
            spark, bad, str(tmp_path / "neg_store")
        )
    # sane rows still key fine through the same expression
    ok = _metrics_df(spark).select(hour_partition_key().alias("k")).first()
    assert ok["k"] == f"2024-11-03-06-{EPOCH}"


def test_signed_tail_foreign_keys_are_verifiable(spark, tmp_path):
    """A FOREIGN store holding negative-epoch keys (our writers now refuse
    them) must be checkable: a self-consistent '1969-12-31-23--3600' is
    clean (injective, readers unaffected), while a label-mismatched
    '1970-01-01-05--3600' is flagged — previously both were invisible to
    every guard."""
    from energy_data_stream_processing_spark.sources.sinks import (
        mismatched_hour_key_values,
    )

    store = str(tmp_path / "foreign")
    df = _metrics_df(spark)
    for key in ("1969-12-31-23--3600", "1970-01-01-05--3600"):
        df.withColumn("hour_key", F.lit(key)).write.mode(
            "append"
        ).partitionBy("hour_key").parquet(store)
    assert mismatched_hour_key_values(store) == ["1970-01-01-05--3600"]


# --------------------------------------------------------------------------
# 3. lake-table hour-key migration (r15 verdict item 2)
# --------------------------------------------------------------------------
def test_lake_migration_fixes_legacy_and_mismatched_keys_in_one_pass(
    spark, tmp_path
):
    """The lake twin of the parquet one-pass migration: a table holding a
    legacy label-only key, an r14 label/epoch-mismatched key AND a clean
    canonical key migrates in one committed version — offenders rewritten
    canonically from `hour`, the clean row's files untouched, the merge
    guard green afterwards, and the pre-migration version still readable
    with the old keys (the commit is a new version, not a rewrite)."""
    from energy_data_stream_processing_spark.sources.laketable import (
        LakeTable,
        foreach_batch_lake_merge,
        migrate_lake_hour_keys,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        hour_partition_key,
    )

    path = str(tmp_path / "lake")
    t = LakeTable(path)
    legacy = _metrics_df(
        spark, epoch=1714546800, fill=1.0  # 2024-05-01 07:00 UTC
    ).withColumn("hour_key", F.lit("2024-05-01-07"))
    mismatched = _metrics_df(spark, fill=2.0).withColumn(
        "hour_key", F.lit(f"2024-11-03-05-{EPOCH}")
    )
    clean = _metrics_df(
        spark, epoch=1714550400, fill=3.0  # 2024-05-01 08:00 UTC
    ).withColumn("hour_key", hour_partition_key())
    for df in (legacy, mismatched, clean):
        t.merge_upsert(spark, df, "hour_key")
    v_before = t.latest_version()

    assert migrate_lake_hour_keys(spark, path) == 2

    assert t.latest_version() == v_before + 1
    keys = set(t.snapshot()["files"])
    assert keys == {
        "2024-05-01-07-1714546800",
        f"2024-11-03-06-{EPOCH}",
        "2024-05-01-08-1714550400",
    }, keys
    after = t.read(spark)
    assert after.count() == 3
    # time travel: the pre-migration version still shows the old keys
    old_keys = {
        r["hour_key"]
        for r in t.read(spark, version=v_before)
        .select("hour_key")
        .collect()
    }
    assert "2024-05-01-07" in old_keys

    # the restart scan marker was earned; a fresh merge closure proceeds
    assert os.path.exists(
        os.path.join(path, "_log", "_hour_keys_v2_verified")
    )
    fn = foreach_batch_lake_merge(path, key_col="hour_key")
    fn(_metrics_df(spark, fill=9.0).drop("hour_key"), 0)
    assert (
        t.read(spark)
        .where(F.col("hour_key") == f"2024-11-03-06-{EPOCH}")
        .first()["total_energy_consumed"]
        == 9.0
    )


def test_lake_migration_refuses_duplicated_hours(spark, tmp_path):
    """An hour already stored under BOTH key formats is unrepairable by a
    blind rewrite (both rows would land under one key, blessing the exact
    duplication the guards refuse) — same contract as the parquet
    migration."""
    from energy_data_stream_processing_spark.sources.laketable import (
        LakeTable,
        migrate_lake_hour_keys,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        hour_partition_key,
    )

    path = str(tmp_path / "lake_dup")
    t = LakeTable(path)
    t.merge_upsert(
        spark,
        _metrics_df(spark).withColumn("hour_key", F.lit("2024-11-03-06")),
        "hour_key",
    )
    t.merge_upsert(
        spark,
        _metrics_df(spark, fill=2.0).withColumn(
            "hour_key", hour_partition_key()
        ),
        "hour_key",
    )
    with pytest.raises(RuntimeError, match="duplicated hours"):
        migrate_lake_hour_keys(spark, path)
    # nothing committed: both keys still present
    assert len(t.snapshot()["files"]) == 2


def test_lake_migration_noop_on_clean_table_earns_marker(spark, tmp_path):
    """A table already canonical everywhere returns 0 AND memoizes the
    clean scan (the migration's classifier IS the guard's scan), so the
    next stream restart skips re-reading the table."""
    from energy_data_stream_processing_spark.sources.laketable import (
        LakeTable,
        migrate_lake_hour_keys,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        hour_partition_key,
    )

    path = str(tmp_path / "lake_clean")
    t = LakeTable(path)
    v0 = t.merge_upsert(
        spark,
        _metrics_df(spark).withColumn("hour_key", hour_partition_key()),
        "hour_key",
    )
    assert migrate_lake_hour_keys(spark, path) == 0
    assert t.latest_version() == v0  # no empty commit
    assert os.path.exists(
        os.path.join(path, "_log", "_hour_keys_v2_verified")
    )


def test_refusal_messages_point_at_lake_migration(spark, tmp_path):
    """The guards' recovery instructions must name the new op (r15 verdict
    item 2 'done' criterion) — an operator hitting the refusal on a lake
    store should be told the one-command repair, not 'rewrite by hand'."""
    from energy_data_stream_processing_spark.sources.laketable import (
        LakeTable,
        foreach_batch_lake_merge,
    )

    path = str(tmp_path / "lake_legacy")
    t = LakeTable(path)
    t.merge_upsert(
        spark,
        _metrics_df(spark).withColumn("hour_key", F.lit("2024-11-03-06")),
        "hour_key",
    )
    fn = foreach_batch_lake_merge(path, key_col="hour_key")
    with pytest.raises(ValueError, match="migrate_lake_hour_keys"):
        fn(_metrics_df(spark).drop("hour_key"), 0)


# ---------------------------------------------------------------------------
# Round-16 optimization: the catalog plan memo (plans/catalog.py).
# The memo stores UNEXECUTED logical plans only; its safety contract is
# (a) every listed builder is pure-plan — a warm build runs ZERO Spark
# jobs (else memoization would skip real per-run computation), (b) repeat
# calls return the identical plan object, (c) parameterized calls bypass
# it, (d) a dataset rewrite invalidates it, and (e) execution of a
# memoized frame still scans the parquet inputs.
# ---------------------------------------------------------------------------
def test_plan_memo_entries_are_pure_plan(spark, sf_dir):
    from energy_data_stream_processing_spark.plans.catalog import (
        _PLAN_MEMO_NAMES,
        all_queries,
        clear_plan_memo,
    )

    qs = all_queries()
    clear_plan_memo()
    sc = spark.sparkContext
    for name in sorted(_PLAN_MEMO_NAMES):
        assert name in qs, f"memo list names unregistered entry {name}"
        qs[name].builder(spark, sf_dir)  # cold: may run schema/probe jobs
    clear_plan_memo()  # force a REAL (non-memo) warm rebuild below

    def last_job():
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    for name in sorted(_PLAN_MEMO_NAMES):
        before = last_job()
        df = qs[name].builder(spark, sf_dir)
        assert last_job() == before, (
            f"{name} ran a Spark job during a warm build — eager builders "
            "must not be plan-memoized"
        )
        # repeat call returns the identical memoized plan object
        assert qs[name].builder(spark, sf_dir) is df
        # the memoized plan still reads from the parquet inputs
        assert "Scan parquet" in df._jdf.queryExecution().executedPlan().toString()


def test_plan_memo_bypasses_parameterized_calls(spark, sf_dir):
    from energy_data_stream_processing_spark.plans.catalog import all_queries

    q = all_queries()["rolling_24h_metrics"]
    a = q.builder(spark, sf_dir)
    b = q.builder(spark, sf_dir, t_lo=None, t_hi=None)
    assert b is not a  # kwargs path must never serve (or poison) the memo
    assert q.builder(spark, sf_dir) is a


def test_plan_memo_invalidates_on_dataset_rewrite(spark, sf_dir, tmp_path):
    import shutil

    from energy_data_stream_processing_spark.plans.catalog import all_queries

    d = tmp_path / "ds"
    shutil.copytree(sf_dir, d)
    q = all_queries()["dedup_exact"]
    a = q.builder(spark, str(d))
    assert q.builder(spark, str(d)) is a
    # rewrite one input in place -> fingerprint changes -> rebuilt
    doc = d / "documents.parquet"
    payload = doc.read_bytes()
    doc.write_bytes(payload)
    os.utime(doc, ns=(1, 1))
    assert q.builder(spark, str(d)) is not a


# ---------------------------------------------------------------------------
# Round-16 optimization: layout-adaptive scan rebalance (sources/adapter.py
# _maybe_parallelize_scan). Contract: OPT-IN per consumer; the temp view and
# the default frame stay un-rebalanced (write paths must keep the natural
# scan layout); the rebalance engages only when the parquet row-group count
# is far below the cores; results are identical either way.
# ---------------------------------------------------------------------------
def _has_roundrobin(df) -> bool:
    return "RoundRobinPartitioning" in df._jdf.queryExecution().executedPlan().toString()


def test_scan_rebalance_is_opt_in_and_view_stays_plain(spark, sf_dir):
    from energy_data_stream_processing_spark.sources.adapter import (
        clear_frame_cache,
        energy_events,
        load_table,
    )

    clear_frame_cache()
    plain = load_table(spark, sf_dir, "documents")
    assert not _has_roundrobin(plain)
    reb = load_table(spark, sf_dir, "documents", rebalance=True)
    # single-row-group local layout -> the rebalance engages
    assert _has_roundrobin(reb)
    # the registered view resolves to the PLAIN frame (write-path contract)
    assert not _has_roundrobin(spark.table("documents"))
    # same rows either way (order-insensitive)
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, reb.collect()))
    assert a == b and len(a) > 0

    clear_frame_cache()
    ev_reb = energy_events(spark, sf_dir, rebalance=True)
    assert _has_roundrobin(ev_reb)
    assert not _has_roundrobin(spark.table("energy_events"))


def test_scan_rebalance_noop_on_many_row_groups(spark, sf_dir, tmp_path):
    """A layout whose row-group count already covers the cores must NOT be
    rebalanced — the production no-op branch (scale-adaptive, guide §2.2)."""
    from energy_data_stream_processing_spark.sources.adapter import (
        clear_frame_cache,
        load_table,
    )

    d = tmp_path / "ds"
    d.mkdir()
    src = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # many tiny row groups: one file per partition via a fine repartition
    src.repartition(32).write.option("maxRecordsPerFile", 2).parquet(
        str(d / "documents.parquet")
    )
    clear_frame_cache()
    reb = load_table(spark, str(d), "documents", rebalance=True)
    assert not _has_roundrobin(reb)
    clear_frame_cache()


def test_gateway_columns_memoizes_per_gateway(spark, sf_dir):
    """The Column-tree memo must (a) return the SAME built objects on a
    repeat call for the live gateway, (b) rebuild when the gateway
    changes (stale-JVM guard), and (c) leave results identical to a
    fresh, memo-bypassing construction."""
    from energy_data_stream_processing_spark.functions import columns as C
    from energy_data_stream_processing_spark.operators.hourly import (
        _build_hourly_columns,
        hourly_business_metrics,
    )
    from energy_data_stream_processing_spark.sources.adapter import energy_events

    first = C.gateway_columns("t16_probe", _build_hourly_columns)
    again = C.gateway_columns("t16_probe", _build_hourly_columns)
    assert first is again  # (a) no rebuild for the live gateway

    # (b) a DIFFERENT gateway object in the memo value forces a rebuild
    C._GATEWAY_MEMO["t16_probe"] = (object(), first)
    rebuilt = C.gateway_columns("t16_probe", _build_hourly_columns)
    assert rebuilt is not first
    C._GATEWAY_MEMO.pop("t16_probe", None)

    # (c) memoized Columns produce the same rows as a fresh construction
    ev = energy_events(spark, sf_dir)
    via_memo = sorted(map(tuple, hourly_business_metrics(ev).collect()))
    gk, aggs, derived = _build_hourly_columns()  # fresh, bypassing the memo
    fresh = sorted(
        map(
            tuple,
            ev.groupBy(gk)
            .agg(*aggs)
            .withColumns(derived)
            .select(hourly_business_metrics(ev).columns)
            .collect(),
        )
    )
    assert via_memo == fresh and len(via_memo) > 0


def test_curation_decontaminate_default_build_is_lazy(spark, sf_dir):
    """The DEFAULT (stage-prefix) decontaminate build must run ZERO Spark
    jobs: bench.py constructs the stage frames BEFORE their timed writes,
    and under AQE a localCheckpoint — even eager=False — materializes
    every upstream exchange at plan-to-RDD time, which would silently
    move the dedup work out of the per-stage timings. The checkpoint is
    therefore opt-in (checkpoint=True), used only by the composed
    curation_pipeline_full whose builder runs inside the timed span."""
    from energy_data_stream_processing_spark.plans.sampling_queries import (
        _curation_decontaminate,
        _curation_dedup,
        _curation_quality,
    )

    deduped = _curation_dedup(_curation_quality(spark, sf_dir))

    # NOTE: _curation_dedup's connected-components step checkpoints
    # EAGERLY by design; only the decontaminate stage must add no jobs.
    # Jobs are counted with a sentinel action under its OWN job group
    # (round-16 advice): job ids are global and monotonic, so the gap
    # between two sentinels counts EVERY job regardless of group —
    # getJobIdsForGroup(None) only saw group-less jobs and would pass
    # vacuously if a fixture ever set a job group.
    def _sentinel_job_id() -> int:
        import uuid

        g = f"t16-sentinel-{uuid.uuid4().hex[:8]}"
        sc = spark.sparkContext
        sc.setJobGroup(g, "job-count sentinel")
        try:
            # a plain RDD count: exactly ONE job, no AQE side jobs (a SQL
            # count() spawns an extra stage-materialization job outside
            # the group, which would off-by-one every gap)
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        ids = sc.statusTracker().getJobIdsForGroup(g)
        assert ids, "sentinel job did not register under its group"
        return max(ids)

    before = _sentinel_job_id()
    _curation_decontaminate(deduped)
    after = _sentinel_job_id()
    assert after == before + 1, (
        f"default decontaminate build ran {after - before - 1} Spark job(s)"
    )


def test_curation_checkpoint_result_identical(spark, sf_dir):
    """checkpoint=True (the composed-pipeline plan) must keep the curated
    doc set identical to the un-checkpointed recomposition."""
    from pyspark.sql import functions as F

    from energy_data_stream_processing_spark.operators.text import (
        ngram_shingle_index,
    )
    from energy_data_stream_processing_spark.plans.sampling_queries import (
        _curation_dedup,
        _curation_quality,
        curated_document_set,
        hash_bucket,
    )

    decon = curated_document_set(spark, sf_dir, checkpoint=True)
    got = sorted(r["doc_id"] for r in decon.select("doc_id").collect())

    # un-checkpointed recomposition (the pre-round-16 plan)
    deduped2 = _curation_dedup(_curation_quality(spark, sf_dir))
    sh = ngram_shingle_index(deduped2, n=5)
    b = hash_bucket(F.col("doc_id")) % 10
    train_sh = sh.where(b <= 7).withColumnRenamed("doc_id", "train_doc")
    eval_sh = sh.where(b == 9).withColumnRenamed("doc_id", "eval_doc")
    contaminated = (
        train_sh.join(eval_sh, "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= 3)
        .select(F.col("train_doc").alias("doc_id"))
        .distinct()
    )
    want = sorted(
        r["doc_id"]
        for r in deduped2.join(contaminated, "doc_id", "left_anti")
        .select("doc_id")
        .collect()
    )
    assert got == want and len(got) > 0

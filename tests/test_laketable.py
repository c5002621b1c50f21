"""Transactional lake-table MERGE upsert (sources/laketable.py): the
Delta/Iceberg-semantics twin of the parquet dynamic-partition sink —
atomic multi-key visibility, idempotent transactions, snapshot reads,
optimistic-concurrency retry. The late-data/idempotence matrix runs over
BOTH upsert backends ({parquet-overwrite, lake-merge}) against the same
batch oracle, per the round-5 verdict's acceptance criterion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from energy_data_stream_processing_spark.sources.laketable import (
    CommitConflict,
    LakeTable,
    foreach_batch_lake_merge,
)


def _metrics(spark, rows):
    return spark.createDataFrame(rows, "hour_key string, n long, v double")


def test_merge_replaces_touched_keys_and_carries_rest(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    t.merge_upsert(
        spark, _metrics(spark, [("h1", 1, 1.0), ("h2", 2, 2.0)]), "hour_key"
    )
    t.merge_upsert(spark, _metrics(spark, [("h2", 20, 20.0), ("h3", 3, 3.0)]), "hour_key")
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == [("h1", 1, 1.0), ("h2", 20, 20.0), ("h3", 3, 3.0)]


def test_atomic_visibility_on_crash_before_commit(spark, tmp_path):
    """Data files written but log commit never lands (crash simulation):
    readers must still see exactly the previous snapshot."""
    t = LakeTable(str(tmp_path / "t"))
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key")
    before = sorted(map(tuple, t.read(spark).collect()))

    class Crashing(LakeTable):
        def _commit(self, snap, expected_head):
            raise RuntimeError("crash after data write, before log commit")

    c = Crashing(str(tmp_path / "t"))
    with pytest.raises(RuntimeError):
        c.merge_upsert(
            spark, _metrics(spark, [("h1", 99, 99.0), ("h2", 2, 2.0)]), "hour_key"
        )
    assert sorted(map(tuple, t.read(spark).collect())) == before
    assert t.latest_version() == 0


def test_idempotent_txn_replay(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    v1 = t.merge_upsert(
        spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key", txn_id="b-0"
    )
    once = sorted(map(tuple, t.read(spark).collect()))
    v2 = t.merge_upsert(  # redelivery of the SAME transaction
        spark, _metrics(spark, [("h1", 777, 777.0)]), "hour_key", txn_id="b-0"
    )
    assert v2 == v1  # no new version committed
    assert sorted(map(tuple, t.read(spark).collect())) == once


def test_commit_conflict_and_retry(spark, tmp_path):
    """Exactly one committer wins a version; the loser reconciles against
    the new head and lands on top of it, losing nothing."""
    t = LakeTable(str(tmp_path / "t"))
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key")
    # direct conflict: two commits of the same version
    head = t.snapshot()
    t._commit({"files": head["files"], "applied": head["applied"]}, head["version"])
    with pytest.raises(CommitConflict):
        t._commit({"files": head["files"], "applied": head["applied"]}, head["version"])

    # retry path: first _commit attempt is beaten by a concurrent writer
    class RacedOnce(LakeTable):
        def __init__(self, path, other):
            super().__init__(path)
            self._other = other
            self._raced = False

        def snapshot(self, version=None):
            snap = super().snapshot(version)
            if not self._raced and version is None:
                self._raced = True
                # a concurrent writer lands h9 AFTER we read the head
                self._other.merge_upsert(
                    spark, _metrics(spark, [("h9", 9, 9.0)]), "hour_key"
                )
            return snap

    r = RacedOnce(str(tmp_path / "t"), t)
    r.merge_upsert(spark, _metrics(spark, [("h2", 2, 2.0)]), "hour_key")
    got = dict((k, (n, v)) for k, n, v in map(tuple, t.read(spark).collect()))
    assert got["h2"] == (2, 2.0) and got["h9"] == (9, 9.0)  # both survive


def test_time_travel_read(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key")
    t.merge_upsert(spark, _metrics(spark, [("h1", 2, 2.0)]), "hour_key")
    assert [r.n for r in t.read(spark, version=0).collect()] == [1]
    assert [r.n for r in t.read(spark).collect()] == [2]


def test_merge_sequence_matches_dict_model(spark, tmp_path):
    """Model-based check: any sequence of merges (with redeliveries mixed
    in) must leave the table equal to a plain dict applying the same
    upserts — txn ids absorb redeliveries, fresh txns apply once, every
    intermediate state is a committed version."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.tuples(
        st.lists(  # rows of one merge: (key, value)
            st.tuples(st.sampled_from(["a", "b", "c", "d"]), st.integers(0, 99)),
            min_size=1,
            max_size=3,
            unique_by=lambda kv: kv[0],
        ),
        st.one_of(st.none(), st.sampled_from(["t1", "t2"])),  # txn id
    )

    counter = [0]

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=4))
    def run(ops):
        counter[0] += 1
        t = LakeTable(str(tmp_path / f"model-{counter[0]}"))
        model: dict = {}
        applied: set = set()
        versions = 0
        for rows, txn in ops:
            df = spark.createDataFrame(
                [(k, v, float(v)) for k, v in rows], "hour_key string, n long, v double"
            )
            t.merge_upsert(spark, df, "hour_key", txn_id=txn)
            if txn is None or txn not in applied:
                for k, v in rows:
                    model[k] = (v, float(v))
                if txn is not None:
                    applied.add(txn)
                versions += 1
        got = {k: (n, v) for k, n, v in map(tuple, t.read(spark).collect())}
        assert got == model
        assert t.latest_version() == versions - 1

    run()


def test_vacuum_drops_orphans_and_aged_versions(spark, tmp_path):
    """Vacuum must delete crash-orphaned batch dirs and data only aged-out
    snapshots reference, while every retained version stays readable."""
    import os

    t = LakeTable(str(tmp_path / "t"))
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key")  # v0
    t.merge_upsert(spark, _metrics(spark, [("h1", 2, 2.0)]), "hour_key")  # v1
    t.merge_upsert(spark, _metrics(spark, [("h2", 3, 3.0)]), "hour_key")  # v2

    # crash orphan: a batch dir that never reached the log
    class Crashing(LakeTable):
        def _commit(self, snap, expected_head):
            raise RuntimeError("crash")

    with pytest.raises(RuntimeError):
        Crashing(str(tmp_path / "t")).merge_upsert(
            spark, _metrics(spark, [("h3", 9, 9.0)]), "hour_key"
        )
    n_dirs_before = len(os.listdir(t.data_dir))

    # concurrent-writer guard: under the default TTL a FRESH unreferenced
    # batch dir may be an in-flight merge and must survive vacuum
    safe = t.vacuum(retain_versions=2)
    assert safe["data_dirs_removed"] == 0
    assert safe["log_files_removed"] == 1  # v0's log entry ages out
    assert len(os.listdir(t.data_dir)) == n_dirs_before

    stats = t.vacuum(retain_versions=2, orphan_ttl_seconds=0)  # keep v1, v2
    assert stats["data_dirs_removed"] >= 1  # the orphan + v0's data
    assert len(os.listdir(t.data_dir)) < n_dirs_before
    # retained versions still read exactly
    assert sorted(map(tuple, t.read(spark, version=1).collect())) == [("h1", 2, 2.0)]
    assert sorted(map(tuple, t.read(spark).collect())) == [
        ("h1", 2, 2.0),
        ("h2", 3, 3.0),
    ]
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=0)  # aged out per retention contract


@pytest.mark.parametrize("backend", ["parquet_overwrite", "lake_merge"])
def test_late_data_and_idempotence_matrix(spark, sf_dir, tmp_path, backend):
    """The round-5 acceptance matrix: flush hourly metrics for the on-time
    events, then re-flush the recomputed aggregates for hours touched by
    late events, twice (redelivery). Final store must equal the one-pass
    batch aggregation under BOTH upsert backends."""
    from energy_data_stream_processing_spark.operators.hourly import (
        hourly_business_metrics,
    )
    from energy_data_stream_processing_spark.sources.adapter import energy_events
    from energy_data_stream_processing_spark.sources.sinks import (
        read_hourly_metrics_parquet,
        upsert_hourly_metrics_parquet,
    )

    ev = energy_events(spark, sf_dir)
    late = ev.where(F.col("event_id") % 7 == 0)
    ontime = ev.where(F.col("event_id") % 7 != 0)
    assert late.count() > 0

    first = hourly_business_metrics(ontime)
    touched = late.select(F.date_trunc("hour", "event_time").alias("hour")).distinct()
    # recomputed FULL aggregates for the late-touched hours (engine contract)
    refresh = hourly_business_metrics(ev).join(touched, "hour", "left_semi")

    store = str(tmp_path / "store")
    if backend == "parquet_overwrite":
        upsert_hourly_metrics_parquet(spark, first, store)
        upsert_hourly_metrics_parquet(spark, refresh, store)
        upsert_hourly_metrics_parquet(spark, refresh, store)  # redelivery
        got_df = read_hourly_metrics_parquet(spark, store)
    else:
        t = LakeTable(store)
        key = F.date_format("hour", "yyyy-MM-dd-HH").alias("hour_key")
        t.merge_upsert(spark, first.select(key, "*"), "hour_key", txn_id="flush-0")
        t.merge_upsert(spark, refresh.select(key, "*"), "hour_key", txn_id="flush-1")
        t.merge_upsert(spark, refresh.select(key, "*"), "hour_key", txn_id="flush-1")
        got_df = t.read(spark).drop("hour_key")

    want = sorted(map(tuple, hourly_business_metrics(ev).collect()))
    got = sorted(map(tuple, got_df.select(*hourly_business_metrics(ev).columns).collect()))
    assert got == want


def test_streaming_foreach_batch_lake_merge(spark, sf_dir, tmp_path):
    """The exact hourly stream (update mode) flushing through foreach_batch_lake_merge
    (batchId = txn id) must land the batch-equal final state with atomic
    per-batch commits."""
    from energy_data_stream_processing_spark.operators.hourly import (
        hourly_business_metrics,
    )
    from energy_data_stream_processing_spark.sources.adapter import energy_events
    from energy_data_stream_processing_spark.streaming.runner import (
        energy_events_stream,
        hourly_metrics_stream,
    )

    store = str(tmp_path / "lake")
    q = (
        hourly_metrics_stream(energy_events_stream(spark, sf_dir), horizon=None)
        .drop("_rows_total")
        .writeStream.foreachBatch(
            foreach_batch_lake_merge(store, txn_app_id="hourly-metrics-q1")
        )
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t = LakeTable(store)
    want = hourly_business_metrics(energy_events(spark, sf_dir))
    got = sorted(
        map(tuple, t.read(spark).drop("hour_key").select(*want.columns).collect())
    )
    assert got == sorted(map(tuple, want.collect()))


# --- multi-process writers (fork; children never touch the JVM) ------------
def _mp_commit_worker(path, new_files, txn):
    LakeTable(path).commit_staged(new_files, txn_id=txn)


def test_multiprocess_conflicting_writers_both_land(spark, tmp_path):
    """Round-8 verdict item 5: two REAL processes doing conflicting merges
    on one table. Staging is per-writer-private Spark work (done in the
    parent, which owns the JVM); the children drive the CONTENDED half —
    commit_staged's optimistic retry loop — concurrently. Exactly one wins
    each version (the hard link fails EEXIST for the loser), the loser
    retries on top, nothing is lost."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    path = str(tmp_path / "t")
    seed = LakeTable(path)
    seed.merge_upsert(spark, _metrics(spark, [("h0", 0, 0.0)]), "hour_key")

    # both writers touch the CONFLICTING key hx plus a private key each
    staged = [
        seed.stage_merge_files(
            _metrics(spark, [("hx", 10 + i, float(i)), (f"h{i}", i, float(i))]),
            "hour_key",
        )
        for i in (1, 2)
    ]
    procs = [
        ctx.Process(target=_mp_commit_worker, args=(path, staged[i], f"writer-{i}"))
        for i in (0, 1)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
    assert all(p.exitcode == 0 for p in procs), [p.exitcode for p in procs]

    t = LakeTable(path)
    assert t.latest_version() == 2  # v0 seed + one version per writer
    got = {k: n for k, n, _ in map(tuple, t.read(spark).collect())}
    assert got["h0"] == 0 and got["h1"] == 1 and got["h2"] == 2
    assert got["hx"] in (11, 12)  # last committer's full-row replacement
    applied = t.snapshot()["applied"]
    assert {"writer-0", "writer-1"} <= set(applied)

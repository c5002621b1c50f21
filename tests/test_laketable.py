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
    CoordinatedLogStore,
    LakeTable,
    PosixLogStore,
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


@pytest.mark.parametrize("log_store_cls", [PosixLogStore, CoordinatedLogStore])
def test_merge_sequence_matches_dict_model(spark, tmp_path, log_store_cls):
    """Model-based check: any sequence of merges (with redeliveries mixed
    in) must leave the table equal to a plain dict applying the same
    upserts — txn ids absorb redeliveries, fresh txns apply once, every
    intermediate state is a committed version. Parameterized over BOTH
    LogStore implementations (POSIX atomic link and the object-store
    external-coordinator shape) so the commit protocol's correctness is
    proven independent of the backing store's atomicity primitives."""
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
        t = LakeTable(
            str(tmp_path / f"model-{log_store_cls.__name__}-{counter[0]}"),
            log_store=log_store_cls(),
        )
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


# ---------------------------------------------------------------------------
# Round 8: coordinator out-of-sync defense (a fresh CoordinatedLogStore
# pointed at an existing table must refuse to rewind it), explicit adoption
# recovery, and REAL multi-process writers sharing one coordinator —
# including a crash-kill mid-publish leaving no torn snapshot.
# ---------------------------------------------------------------------------
def _mgr_store(mgr):
    return CoordinatedLogStore(lock=mgr.Lock(), registry=mgr.dict())


def test_fresh_coordinator_on_existing_table_refuses_rewind(spark, tmp_path):
    """Round-8 advice fix: a FRESH coordinator instance pointed at a table
    committed under a different coordinator sees latest_version() == -1 and
    previously truncate-overwrote the on-disk v0 — silently rewinding
    committed state. It must now refuse loudly and leave the log intact."""
    path = str(tmp_path / "t")
    a = CoordinatedLogStore()
    t = LakeTable(path, log_store=a)
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key")
    t.merge_upsert(spark, _metrics(spark, [("h2", 2, 2.0)]), "hour_key")
    with open(t._version_file(0)) as f:
        v0_before = f.read()

    fresh = LakeTable(path, log_store=CoordinatedLogStore())
    assert fresh.latest_version() == -1  # registry-gated view
    with pytest.raises(RuntimeError, match="out of sync"):
        fresh.merge_upsert(spark, _metrics(spark, [("h9", 9, 9.0)]), "hour_key")
    with open(t._version_file(0)) as f:
        assert f.read() == v0_before, "v0 log entry was rewritten"
    # the original coordinator's view is untouched
    assert sorted(map(tuple, t.read(spark).collect())) == [
        ("h1", 1, 1.0),
        ("h2", 2, 2.0),
    ]


def test_fresh_coordinator_adopt_existing_recovers(spark, tmp_path):
    """adopt_existing(log_dir) is the explicit recovery: the fresh
    coordinator imports the on-disk log and the next merge lands ON TOP of
    the committed history instead of rewinding it."""
    path = str(tmp_path / "t")
    t = LakeTable(path, log_store=CoordinatedLogStore())
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key")
    t.merge_upsert(spark, _metrics(spark, [("h2", 2, 2.0)]), "hour_key")

    b = CoordinatedLogStore()
    t2 = LakeTable(path, log_store=b)
    assert b.adopt_existing(t2.log_dir) == 2
    assert t2.latest_version() == 1
    t2.merge_upsert(spark, _metrics(spark, [("h3", 3, 3.0)]), "hour_key")
    assert t2.latest_version() == 2
    assert sorted(map(tuple, t2.read(spark).collect())) == [
        ("h1", 1, 1.0),
        ("h2", 2, 2.0),
        ("h3", 3, 3.0),
    ]


def test_torn_put_retry_overwrites_unregistered_file(spark, tmp_path):
    """A version file on disk WITHOUT a registry entry, under a log dir the
    registry otherwise knows, is a torn PUT from a crashed writer — the
    retry path must overwrite it (the out-of-sync defense must not block
    crash recovery of the LIVE coordinator)."""
    import json as _json

    store = CoordinatedLogStore()
    path = str(tmp_path / "t")
    t = LakeTable(path, log_store=store)
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key")  # v0
    torn = t._version_file(1)
    with open(torn, "w") as f:
        f.write('{"files": {"h9"')  # partial bytes, never registered

    t.merge_upsert(spark, _metrics(spark, [("h2", 2, 2.0)]), "hour_key")  # v1
    assert t.latest_version() == 1
    with open(torn) as f:
        snap = _json.loads(f.read())  # fully-formed now
    assert snap["version"] == 1
    assert sorted(map(tuple, t.read(spark).collect())) == [
        ("h1", 1, 1.0),
        ("h2", 2, 2.0),
    ]


# --- multi-process writers (fork; children never touch the JVM) ------------
def _mp_commit_worker(path, lock, registry, new_files, txn):
    store = CoordinatedLogStore(lock=lock, registry=registry)
    LakeTable(path, log_store=store).commit_staged(new_files, txn_id=txn)


class _TornPutStore(CoordinatedLogStore):
    """Writer killed mid-publish: partial payload bytes land at the version
    name (an object-store PUT is not atomic), the name is never registered,
    and the process dies without releasing anything."""

    def put_if_absent(self, path, content):
        import os as _os

        with open(path, "w") as f:
            f.write(content[: len(content) // 2])
        _os._exit(3)


def _mp_crash_worker(path, lock, registry, new_files):
    store = _TornPutStore(lock=lock, registry=registry)
    LakeTable(path, log_store=store).commit_staged(new_files, txn_id="crash")


def test_multiprocess_conflicting_writers_both_land(spark, tmp_path):
    """Round-8 verdict item 5: two REAL processes doing conflicting merges
    through one shared coordinator (Manager lock + registry — the
    DynamoDB shape). Staging is per-writer-private Spark work (done in the
    parent, which owns the JVM); the children drive the CONTENDED half —
    commit_staged's optimistic retry loop — concurrently. Exactly one wins
    each version, the loser retries on top, nothing is lost."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    with mp.Manager() as mgr:
        lock, registry = mgr.Lock(), mgr.dict()
        path = str(tmp_path / "t")
        seed_store = CoordinatedLogStore(lock=lock, registry=registry)
        seed = LakeTable(path, log_store=seed_store)
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
            ctx.Process(
                target=_mp_commit_worker,
                args=(path, lock, registry, staged[i], f"writer-{i}"),
            )
            for i in (0, 1)
        ]
        for p in procs:
            p.start()
        for p in procs:
            p.join(60)
        assert all(p.exitcode == 0 for p in procs), [p.exitcode for p in procs]

        t = LakeTable(path, log_store=seed_store)
        assert t.latest_version() == 2  # v0 seed + one version per writer
        got = {k: n for k, n, _ in map(tuple, t.read(spark).collect())}
        assert got["h0"] == 0 and got["h1"] == 1 and got["h2"] == 2
        assert got["hx"] in (11, 12)  # last committer's full-row replacement
        applied = t.snapshot()["applied"]
        assert {"writer-0", "writer-1"} <= set(applied)


def test_multiprocess_crash_kill_mid_publish_no_torn_snapshot(spark, tmp_path):
    """Round-8 verdict item 5 (crash half): a writer PROCESS killed between
    its payload write and the coordinator registration must leave no torn
    snapshot — readers still resolve the pre-crash head, and a surviving
    writer's retry of the same version overwrites the torn bytes."""
    import multiprocessing as mp
    import os as _os

    ctx = mp.get_context("fork")
    with mp.Manager() as mgr:
        lock, registry = mgr.Lock(), mgr.dict()
        path = str(tmp_path / "t")
        store = CoordinatedLogStore(lock=lock, registry=registry)
        t = LakeTable(path, log_store=store)
        t.merge_upsert(spark, _metrics(spark, [("h0", 0, 0.0)]), "hour_key")

        staged = t.stage_merge_files(_metrics(spark, [("h1", 1, 1.0)]), "hour_key")
        p = ctx.Process(target=_mp_crash_worker, args=(path, lock, registry, staged))
        p.start()
        p.join(60)
        assert p.exitcode == 3  # died mid-publish

        # torn bytes exist on disk, but the snapshot protocol never shows them
        assert _os.path.exists(t._version_file(1))
        assert t.latest_version() == 0
        assert sorted(map(tuple, t.read(spark).collect())) == [("h0", 0, 0.0)]

        # surviving writer retries the same version: overwrite recovery
        t.commit_staged(staged, txn_id="retry")
        assert t.latest_version() == 1
        assert sorted(map(tuple, t.read(spark).collect())) == [
            ("h0", 0, 0.0),
            ("h1", 1, 1.0),
        ]


def test_torn_first_commit_retry_succeeds(spark, tmp_path):
    """Round-8 regression (code review): a writer killed mid-copyfile of
    the FIRST version (v0) leaves a torn file under a log dir with NO
    registered commits. The out-of-sync defense must recognize the torn
    bytes as a crashed publish (unparseable => provably never committed)
    and let the retry overwrite — previously every retry raised
    'out of sync' forever and the documented adopt_existing() recovery
    imported the torn bytes, poisoning snapshot() permanently."""
    store = CoordinatedLogStore()
    path = str(tmp_path / "t")
    t = LakeTable(path, log_store=store)
    import os

    os.makedirs(t.log_dir, exist_ok=True)
    with open(t._version_file(0), "w") as f:
        f.write('{"files": {"h9"')  # torn v0, registry knows nothing

    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key")
    assert t.latest_version() == 0
    assert sorted(map(tuple, t.read(spark).collect())) == [("h1", 1, 1.0)]


def test_adopt_existing_skips_torn_files(spark, tmp_path):
    """adopt_existing must import only COMPLETE snapshots: adopting a torn
    leftover would make every later snapshot() read raise on its bytes."""
    store = CoordinatedLogStore()
    path = str(tmp_path / "t")
    t = LakeTable(path, log_store=store)
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key")  # v0
    with open(t._version_file(1), "w") as f:
        f.write('{"files": {"h9"')  # torn v1 from a crashed writer

    fresh = CoordinatedLogStore()
    t2 = LakeTable(path, log_store=fresh)
    assert fresh.adopt_existing(t2.log_dir) == 1  # v0 only, torn v1 skipped
    assert t2.latest_version() == 0
    assert sorted(map(tuple, t2.read(spark).collect())) == [("h1", 1, 1.0)]
    # and the next commit retries over the torn v1 name cleanly
    t2.merge_upsert(spark, _metrics(spark, [("h2", 2, 2.0)]), "hour_key")
    assert t2.latest_version() == 1

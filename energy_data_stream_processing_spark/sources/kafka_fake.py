"""File-backed test double for the ``format("kafka")`` connector contract.

The sandbox has neither a Kafka broker nor the spark-sql-kafka connector
jar, so the engine's Kafka edges (sources/kafka.py — reference S2/S4,
producer/producer.py:69-92, consumer/consumer.py:485-518) could previously
only be exercised as plan construction. This module is a Spark-4 Python
DataSource (short name ``kafkafake`` — Spark reserves "kafka" in its
builtin registry even when the connector jar is absent), and the kafka.py
functions take a ``fmt`` override, so ``write_kafka_batch`` /
``to_kafka_sink`` / ``kafka_stream_source`` execute end-to-end against it
with their full option surface:

- ``kafka.bootstrap.servers`` is interpreted as the broker's storage root
  directory (the fake's "cluster address");
- ``topic`` / ``subscribe`` name a subdirectory of records;
- a topic is N PARTITIONS (round-8: the real connector's offset shape).
  ``_meta.json`` records the partition count (writer-created, default
  ``numPartitions`` = 2 so every contract test runs multi-partition);
  partition ``p`` stores its records under ``p{p:05d}/``, each with its
  OWN offset sequence (per-file append order, time-prefixed filenames).
  Keyed writes hash the key bytes to a partition (crc32 — documented
  divergence from Kafka's murmur2; stable, that is what matters for a
  contract double); keyless records hash their value bytes (divergence
  from the sticky partitioner, which is deliberately non-deterministic);
  an explicit ``partition`` field wins. A topic directory holding flat
  ``*.jsonl`` files without ``_meta.json`` is the LEGACY single-sequence
  layout: exactly one partition whose offsets/state keep the round-7 int
  shape, so old checkpoints and white-box tests are unchanged.
- the stream reader exposes the Kafka source schema (key/value BINARY,
  topic, partition, offset, timestamp, timestampType); the offset log
  value per topic is an int (legacy) or a per-partition map
  ``{"0": n0, "1": n1}`` (the connector's shape). ``startingOffsets``
  accepts ``earliest`` | ``latest`` | a JSON per-topic-per-partition map
  (``{"ev": {"0": 23, "1": -1}}``; -2 earliest, -1 latest, like the
  connector; unspecified partitions default to earliest, out-of-range
  requests clamp to the available end — documented divergences from the
  connector's strict erroring). ``maxOffsetsPerTrigger`` caps each
  micro-batch's TOTAL new records and distributes the budget across
  topic-partitions PROPORTIONALLY TO LAG (the connector's allocation),
  largest fractional shares taking the rounding remainder — a pure
  function of (cursors, availability), so crash-restarted readers
  recompute identical batch ends, and no fixed topic can monopolize
  the budget. ``subscribePattern``
  (regex topic subscription with dynamic discovery of topics created
  mid-query) and ``failOnDataLoss`` (fail vs warn-and-reset when
  committed records have been truncated away) are detected and recovered
  PER PARTITION.
- record order is per-partition append order: stable for the
  write-then-read phases a contract test runs (a real broker only
  guarantees per-partition arrival order anyway). This is a TEST DOUBLE,
  not a broker — no concurrent-producer interleaving semantics.

Registered only from tests (tests/test_kafka_optional.py); production code
paths never import this module.
"""

from __future__ import annotations

import base64
import json
import os
import re
import threading
import uuid
import zlib
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

KAFKA_SOURCE_SCHEMA = (
    "key binary, value binary, topic string, partition int, offset bigint, "
    "timestamp timestamp, timestampType int"
)

#: partition count for topics the WRITER creates when ``numPartitions`` is
#: not given — deliberately > 1 so every e2e contract test exercises the
#: multi-partition offset protocol.
DEFAULT_PARTITIONS = 2

#: legacy-layout sentinel returned by :func:`_ensure_topic` — flat files,
#: one offset sequence, round-7 int offset shape.
_LEGACY = 0


def _topic_dir(options) -> str:
    root = options.get("kafka.bootstrap.servers")
    if not root:
        raise ValueError("kafka.bootstrap.servers option is required")
    topic = options.get("topic") or options.get("subscribe")
    if not topic:
        raise ValueError("topic/subscribe option is required")
    return os.path.join(root, topic)


def _subscribed_topic_dirs(options) -> list[str]:
    """Resolve the subscription to topic directories, sorted by name.

    ``subscribePattern`` (regex, like the connector's) matches topic
    subdirectories of the broker root; re-resolved on every call so a topic
    created after the query starts is picked up at the next trigger —
    the connector's dynamic pattern-subscription behavior. ``subscribe`` /
    ``topic`` name exactly one topic (which need not exist yet)."""
    root = options.get("kafka.bootstrap.servers")
    if not root:
        raise ValueError("kafka.bootstrap.servers option is required")
    pattern = options.get("subscribePattern")
    single = options.get("topic") or options.get("subscribe")
    if pattern and single:
        raise ValueError("subscribe and subscribePattern are mutually exclusive")
    if pattern:
        import re

        rx = re.compile(pattern)
        if not os.path.isdir(root):
            return []
        return sorted(
            os.path.join(root, d)
            for d in os.listdir(root)
            if rx.fullmatch(d) and os.path.isdir(os.path.join(root, d))
        )
    if not single:
        raise ValueError("topic/subscribe/subscribePattern option is required")
    return [os.path.join(root, single)]


def _encode_cell(v) -> str | None:
    """Serialize a key/value cell (str | bytes | None) to a JSON-safe
    base64 string — Kafka carries opaque bytes either way."""
    if v is None:
        return None
    if isinstance(v, str):
        v = v.encode("utf-8")
    return base64.b64encode(bytes(v)).decode("ascii")


def _cell_bytes(v) -> bytes | None:
    if v is None:
        return None
    if isinstance(v, str):
        return v.encode("utf-8")
    return bytes(v)


# ---------------------------------------------------------------------------
# topic layout: N-partition (p{pid:05d}/ dirs + _meta.json) or legacy flat
# ---------------------------------------------------------------------------
def _meta_path(topic_dir: str) -> str:
    return os.path.join(topic_dir, "_meta.json")


def _topic_partitions(topic_dir: str) -> int | None:
    """Partition count from the topic's ``_meta.json``; None when the topic
    has no metadata (legacy flat layout, or not created yet)."""
    try:
        with open(_meta_path(topic_dir)) as f:
            return max(1, int(json.load(f)["partitions"]))
    except (OSError, ValueError, TypeError, KeyError):
        return None


def _ensure_topic(topic_dir: str, options) -> int:
    """Writer-side topic resolution: existing metadata wins; a metadata-less
    dir that already holds flat records stays LEGACY (sentinel 0) so
    hand-seeded single-sequence topics keep their offset numbering; an
    empty/new topic is created with ``numPartitions`` partitions (atomic
    create-if-absent on the metadata file — concurrent first writers agree)."""
    os.makedirs(topic_dir, exist_ok=True)
    n = _topic_partitions(topic_dir)
    if n is not None:
        return n
    if any(f.endswith(".jsonl") for f in os.listdir(topic_dir)):
        return _LEGACY
    n = int(options.get("numPartitions", DEFAULT_PARTITIONS))
    if n < 1:
        raise ValueError(f"numPartitions must be >= 1, got {n}")
    tmp = _meta_path(topic_dir) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump({"partitions": n}, f)
    try:
        os.link(tmp, _meta_path(topic_dir))
    except FileExistsError:
        pass  # a concurrent writer task won; adopt its count below
    finally:
        os.unlink(tmp)
    return _topic_partitions(topic_dir) or n


def _route_partition(key: bytes | None, value: bytes | None, n: int) -> int:
    """Keyed records hash the key bytes (Kafka routes on murmur2(key) % N;
    crc32 here — only stability matters for the double); keyless records
    hash the value so routing stays deterministic across writes."""
    data = key if key is not None else (value or b"")
    return zlib.crc32(data) % n


def _pids(topic_dir: str) -> list[int]:
    n = _topic_partitions(topic_dir)
    return list(range(n)) if n is not None else [0]


_STAMPED = re.compile(r"^b\d{20}-[0-9a-f]{8}\.jsonl$")


def _flat_sorted(topic_dir: str) -> list[str]:
    """Flat-dir files in offset order: pre-existing (hand-seeded or legacy
    ``batch-{uuid}``) files first in name order, then this writer's
    time-stamped appends in time order. The stamped files are newer BY
    CONSTRUCTION (the stamp naming postdates every legacy file), but
    ``b{digits}`` sorts lexicographically BEFORE ``batch-`` — a plain name
    sort would renumber a legacy topic's committed offsets and silently
    break exactly-once (new records land below the reader's floor, old
    records re-deliver above it).

    Contract limit (documented divergence): CONCURRENT producers to the
    same partition have no total order until their files land — two tasks
    can create files out of stamp order, and a reader that resolves
    offsets in that window sees a non-final order (real Kafka serializes
    same-partition produces at the broker; a file double cannot). Same
    class as mid-query truncation/flat-append: tests produce to a
    partition from one task per batch, or quiesce before reading."""
    return sorted(
        (f for f in os.listdir(topic_dir) if f.endswith(".jsonl")),
        key=lambda f: (bool(_STAMPED.match(f)), f),
    )


def _partition_files(topic_dir: str, pid: int) -> list[str]:
    """The partition's jsonl files in offset order. For partition 0 of a
    partitioned topic, flat root files (hand-seeded records, e.g. a test's
    rogue record) come FIRST, then the partition dir's time-prefixed
    appends; a legacy topic is its flat files, pre-existing-first (see
    _flat_sorted). Appending flat files to a partitioned topic mid-query
    renumbers partition 0 — not supported (same contract class as
    truncation)."""
    if not os.path.isdir(topic_dir):
        return []
    n = _topic_partitions(topic_dir)
    if n is None:
        if pid != 0:
            return []
        return [os.path.join(topic_dir, f) for f in _flat_sorted(topic_dir)]
    files: list[str] = []
    if pid == 0:
        files += [
            os.path.join(topic_dir, f) for f in _flat_sorted(topic_dir)
        ]
    pdir = os.path.join(topic_dir, f"p{pid:05d}")
    if os.path.isdir(pdir):
        files += [os.path.join(pdir, f) for f in sorted(os.listdir(pdir))]
    return files


def _read_partition(topic_dir: str, pid: int) -> list[tuple]:
    """All of one partition's records in offset order, shaped as the Kafka
    source schema."""
    topic = os.path.basename(topic_dir.rstrip("/"))
    rows = []
    offset = 0
    for path in _partition_files(topic_dir, pid):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                key = rec.get("key")
                val = rec.get("value")
                rows.append(
                    (
                        base64.b64decode(key) if key is not None else None,
                        base64.b64decode(val) if val is not None else None,
                        topic,
                        pid,
                        offset,
                        None,
                        0,
                    )
                )
                offset += 1
    return rows


def _partition_len(topic_dir: str, pid: int) -> int:
    n = 0
    for path in _partition_files(topic_dir, pid):
        with open(path) as f:
            n += sum(1 for _ in f)
    return n


# ---------------------------------------------------------------------------
# offset-value helpers: per-topic offsets are an int (legacy single
# sequence) or a {partition: next_index} map (the connector's shape)
# ---------------------------------------------------------------------------
def _pm(v) -> dict[str, int]:
    """Normalize an offset value (int | map | None) to a partition map."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return {str(k): int(x) for k, x in v.items()}
    return {"0": int(v)}


def _pack(pm: dict[str, int], partitioned: bool):
    """Partition map -> external/state shape: the map itself for a
    partitioned topic, the round-7 int for a legacy one."""
    if partitioned:
        return {k: int(v) for k, v in pm.items()}
    return int(pm.get("0", 0))


# ---------------------------------------------------------------------------
# durable committed-offset floor sidecars (value is int for legacy topics, a
# partition map otherwise)
# ---------------------------------------------------------------------------
_WATERMARK_LOCK = threading.Lock()


def _write_watermark_unlocked(sidecar: str, key: str, value) -> bool:
    """Atomic best-effort sidecar write (unique temp name + os.replace).
    Caller must hold ``_WATERMARK_LOCK``. Best-effort: a read-only broker
    directory must not fail the query — returns False when the write could
    not be persisted so callers that NEED durability (data-loss rebases)
    can warn instead of silently losing the floor."""
    tmp = f"{sidecar}.tmp.{uuid.uuid4().hex}"
    try:
        with open(tmp, "w") as f:
            json.dump({key: value}, f)
        os.replace(tmp, sidecar)
        return True
    except OSError:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        return False


def _load_floor_value(sidecar: str):
    """Raw sidecar value: int | partition map | None (absent/corrupt)."""
    try:
        with open(sidecar) as f:
            v = json.load(f).get("offset", 0)
        if isinstance(v, dict):
            return {str(k): int(x) for k, x in v.items()}
        return int(v)
    except (OSError, ValueError, TypeError, AttributeError):
        return None


def _store_floor(sidecar: str, pm_new: dict[str, int], partitioned: bool) -> None:
    """Monotone-per-partition sidecar update (read-max-replace under the
    process lock): two driver-side readers in one process can never
    interleave a lower value over a higher one. Readers in DIFFERENT
    processes sharing one broker should isolate their floors with the
    ``commit_id`` option instead of relying on this lock."""
    with _WATERMARK_LOCK:
        cur = _pm(_load_floor_value(sidecar))
        changed = False
        for p, v in pm_new.items():
            if int(v) > cur.get(p, 0):
                cur[p] = int(v)
                changed = True
        if changed:
            _write_watermark_unlocked(sidecar, "offset", _pack(cur, partitioned))


def _force_floor(sidecar: str, pid: str, value: int, partitioned: bool) -> bool:
    """NON-monotone per-partition rebase write (data-loss recovery); always
    leaves a present file so later readers can distinguish 'rebased to 0'
    from 'never written'. Returns False when the write failed (read-only
    source dir) — the caller must warn, because a restarted reader will
    then re-detect the loss and may permanently swallow post-loss appends."""
    with _WATERMARK_LOCK:
        cur = _pm(_load_floor_value(sidecar))
        cur[pid] = int(value)
        return _write_watermark_unlocked(sidecar, "offset", _pack(cur, partitioned))


def _clear_floor(sidecar: str) -> None:
    """Best-effort sidecar removal — a FRESH query (empty offset log)
    starts a new delivery lineage, and an inherited floor from a previous
    lineage would defeat paced first batches (and, for a path-keyed
    sidecar, leak another query's progress into this one)."""
    with _WATERMARK_LOCK:
        try:
            os.unlink(sidecar)
        except OSError:
            pass


def _warn_floor_reset(sidecar: str, namespaced: bool) -> None:
    """Warn when a fresh query is about to clear a shared (un-namespaced)
    sidecar that holds another lineage's durable floor — the reset silently
    downgrades that other query to the single-restart offset-log-clip
    guarantee. Namespaced (commit_id) sidecars are per-lineage by
    construction, so no warning there."""
    if namespaced:
        return
    val = _load_floor_value(sidecar)
    if val is None or not any(v > 0 for v in _pm(val).values()):
        return
    import warnings

    warnings.warn(
        "fresh streaming query is resetting an existing un-namespaced "
        f"commit sidecar ({sidecar}); if another query is replaying this "
        "source concurrently its durable multi-restart floor was just "
        "cleared — set a distinct commit_id option per query to isolate "
        "lineages",
        RuntimeWarning,
        stacklevel=3,
    )


class _FakeCommit(WriterCommitMessage):
    pass


class _FakeKafkaWriter(DataSourceWriter):
    """Batch writer: records routed to partitions by key hash (explicit
    ``partition`` field wins; keyless records hash the value), one
    time-prefixed jsonl file per (task, touched partition) — Kafka's
    per-partition append. Legacy metadata-less topics keep flat appends."""

    def __init__(self, options):
        self.options = options
        self.topic_dir = _topic_dir(options)

    def write(self, rows: Iterator) -> WriterCommitMessage:
        import time

        n = _ensure_topic(self.topic_dir, self.options)
        stamp = f"b{time.time_ns():020d}-{uuid.uuid4().hex[:8]}.jsonl"
        buckets: dict[int, list[str]] = {}
        for row in rows:
            d = row.asDict() if hasattr(row, "asDict") else dict(row)
            key_b = _cell_bytes(d.get("key"))
            val_b = _cell_bytes(d.get("value"))
            if n == _LEGACY:
                pid = 0
            elif d.get("partition") is not None:
                pid = int(d["partition"]) % n
            else:
                pid = _route_partition(key_b, val_b, n)
            buckets.setdefault(pid, []).append(
                json.dumps({"key": _encode_cell(key_b), "value": _encode_cell(val_b)})
            )
        for pid, lines in buckets.items():
            if n == _LEGACY:
                path = os.path.join(self.topic_dir, stamp)
            else:
                pdir = os.path.join(self.topic_dir, f"p{pid:05d}")
                os.makedirs(pdir, exist_ok=True)
                path = os.path.join(pdir, stamp)
            with open(path, "w") as f:
                f.write("\n".join(lines) + "\n")
        return _FakeCommit()

    def commit(self, messages):  # files are already durable
        pass

    def abort(self, messages):
        pass


class _FakeKafkaStreamWriter(DataSourceStreamWriter):
    """Streaming writer (to_kafka_sink): per-micro-batch partition appends."""

    def __init__(self, options):
        self.options = options
        self.topic_dir = _topic_dir(options)

    def write(self, rows: Iterator) -> WriterCommitMessage:
        return _FakeKafkaWriter.write(self, rows)

    def commit(self, messages, batchId=None):
        pass

    def abort(self, messages, batchId=None):
        pass


class _Range(InputPartition):
    def __init__(self, start: int, end: int, topic_dir: str | None = None, pid: int = 0):
        self.start = start
        self.end = end
        self.topic_dir = topic_dir
        self.pid = pid


class _FakeKafkaBatchReader(DataSourceReader):
    def __init__(self, options):
        self.topic_dirs = _subscribed_topic_dirs(options)

    def partitions(self) -> Sequence[InputPartition]:
        # one input partition per (topic, topic-partition) — the
        # connector's per-topic-partition task layout
        return [
            _Range(0, _partition_len(d, pid), topic_dir=d, pid=pid)
            for d in self.topic_dirs
            for pid in _pids(d)
        ]

    def read(self, part: _Range) -> Iterator[tuple]:
        recs = _read_partition(part.topic_dir, part.pid)
        for i in range(part.start, min(part.end, len(recs))):
            yield recs[i]


class _FakeKafkaStreamReader(DataSourceStreamReader):
    """Offsets are per-partition record indexes; a topic's offset-log value
    is the connector's per-partition map (legacy single-sequence topics
    keep the round-7 int shape, so old checkpoints restart cleanly).
    ``startingOffsets``: earliest | latest | JSON per-topic-per-partition
    map; ``maxOffsetsPerTrigger`` caps each micro-batch's TOTAL new records
    and splits the budget across topic-partitions proportionally to lag
    with a rotating remainder (no starvation); ``failOnDataLoss`` (default
    true) fails the query when committed records have vanished (partition
    truncated, topic deleted), or resets THAT partition to its available
    end with a warning when false.

    Offset JSON shape: ``{"topics": {name: int | {pid: next_index}}}``."""

    def __init__(self, options):
        self.options = options
        raw_start = options.get("startingOffsets", "earliest")
        self.start_map: dict | None = None
        if raw_start.strip().startswith("{"):
            try:
                self.start_map = {
                    t: {str(p): int(o) for p, o in pm.items()}
                    for t, pm in json.loads(raw_start).items()
                }
            except (ValueError, TypeError, AttributeError) as e:
                raise ValueError(
                    f"malformed startingOffsets JSON map: {raw_start!r}"
                ) from e
            self.starting = "earliest"
        elif raw_start in ("earliest", "latest"):
            self.starting = raw_start
        else:
            raise ValueError(
                "startingOffsets must be earliest | latest | a JSON "
                'per-topic-per-partition map like {"ev": {"0": 23, "1": -1}}'
            )
        mopt = options.get("maxOffsetsPerTrigger")
        self.max_per_trigger = int(mopt) if mopt else None
        self.fail_on_data_loss = (
            str(options.get("failOnDataLoss", "true")).lower() != "false"
        )
        # Durable committed-offset floor (``<topic>.kafka_commit``
        # sidecar): a paced reader's in-memory cursor regresses on
        # restart, and only a persisted committed end keeps latestOffset
        # from ever reporting (and Spark from ever logging) a regressed
        # one, across any number of restarts.
        # One sidecar PER TOPIC (pattern subscription discovers topics
        # dynamically; each holds that topic's per-partition floor map).
        cid = options.get("commit_id")
        self._namespaced = cid is not None
        self._cid = cid
        # per-topic in-memory state in the topic's own offset shape (int or
        # partition map): pacing cursor, high watermark, committed floor
        self._last: dict[str, int | dict] = {}
        self._hw: dict[str, int | dict] = {}
        self._floor: dict[str, int | dict] = {}
        # per-(topic, partition) renumbered origin after a
        # failOnDataLoss=false reset
        self._loss_reset: dict[tuple[str, str], int] = {}
        # whether each known topic uses the partition-map shape
        self._partitioned: dict[str, bool] = {}
        for d in _subscribed_topic_dirs(options):
            t = _t(d)
            val = _load_floor_value(self._sidecar(d))
            self._partitioned[t] = (
                _topic_partitions(d) is not None or isinstance(val, dict)
            )
            self._floor[t] = _pack(_pm(val), self._partitioned[t])
        # Pattern subscriptions: ALSO load floors recorded for topics whose
        # directory no longer exists — a topic deleted while the query was
        # stopped must restart into data-loss detection (the isdir filter
        # above would otherwise silently drop it along with its committed
        # floor, which is exactly the loss being detected). ONLY for
        # commit_id-namespaced sidecars: an un-namespaced sidecar may
        # belong to another lineage entirely, and adopting it would
        # permanently fail THIS query for a topic it never consumed.
        root = options.get("kafka.bootstrap.servers")
        for t in self._sidecar_topics():
            if t in self._floor:
                continue
            val = _load_floor_value(self._sidecar(os.path.join(root, t)))
            self._partitioned[t] = isinstance(val, dict)
            self._floor[t] = _pack(_pm(val), self._partitioned[t])

    def _sidecar_topics(self) -> list[str]:
        """Topics with a committed-floor sidecar in the broker root that
        match a pattern subscription — discoverable even after the topic
        directory itself was deleted. Namespaced (commit_id) sidecars
        only: those are per-lineage by construction, so a discovered floor
        is provably THIS query's; deleted-while-stopped detection for
        un-namespaced pattern queries is a documented non-feature (shared
        sidecars carry the same cross-lineage hazard the reset warning
        covers)."""
        pattern = self.options.get("subscribePattern")
        root = self.options.get("kafka.bootstrap.servers")
        if not pattern or not self._namespaced or not root or not os.path.isdir(root):
            return []
        import re

        rx = re.compile(pattern)
        suffix = ".kafka_commit" + (f".{self._cid}" if self._cid else "")
        out = []
        for f in os.listdir(root):
            if f.endswith(suffix):
                topic = f[: -len(suffix)]
                if topic and rx.fullmatch(topic):
                    out.append(topic)
        return sorted(out)

    def _sidecar(self, topic_dir: str) -> str:
        return (
            topic_dir.rstrip("/")
            + ".kafka_commit"
            + (f".{self._cid}" if self._cid else "")
        )

    def _topic_dirs(self) -> list[str]:
        return _subscribed_topic_dirs(self.options)

    def _is_partitioned(self, t: str, topic_dir: str) -> bool:
        if _topic_partitions(topic_dir) is not None:
            self._partitioned[t] = True
        return self._partitioned.get(t, False)

    def _state_pm(self, d: dict, t: str) -> dict[str, int]:
        return _pm(d[t]) if t in d else {}

    def initialOffset(self) -> dict:
        # Called only for a fresh query (no offset log) = new delivery
        # lineage: drop any inherited floor, which would otherwise collapse
        # the previously-consumed range into one unpaced first batch. An
        # un-namespaced sidecar may hold a concurrent query's floor, so
        # clearing one warns (_warn_floor_reset); use commit_id per query.
        offsets: dict = {}
        root = self.options.get("kafka.bootstrap.servers")
        for d in self._topic_dirs():
            t = _t(d)
            part = self._is_partitioned(t, d)
            _warn_floor_reset(self._sidecar(d), self._namespaced)
            _clear_floor(self._sidecar(d))
            pm: dict[str, int] = {}
            for pid in _pids(d):
                p = str(pid)
                avail = _partition_len(d, pid)
                if self.start_map is not None:
                    spec = int(self.start_map.get(t, {}).get(p, -2))
                    if spec == -1:
                        pm[p] = avail
                    elif spec == -2:
                        pm[p] = 0
                    else:
                        # clamp instead of erroring (documented divergence
                        # from the connector's out-of-range failure)
                        pm[p] = min(max(spec, 0), avail)
                else:
                    pm[p] = avail if self.starting == "latest" else 0
            self._floor[t] = _pack({p: 0 for p in pm}, part)
            offsets[t] = _pack(pm, part)
            self._last[t] = _pack(pm, part)
            self._hw[t] = _pack(pm, part)
        # fresh lineage also drops floors of VANISHED pattern topics — a
        # brand-new query must not data-loss-fail on a long-gone topic's
        # leftover sidecar from a previous lineage
        for t in list(self._floor):
            if t not in offsets:
                side = self._sidecar(os.path.join(root, t))
                _warn_floor_reset(side, self._namespaced)
                _clear_floor(side)
                self._floor.pop(t, None)
                self._hw.pop(t, None)
                self._last.pop(t, None)
        return {"topics": offsets}

    def _check_data_loss(
        self, topic: str, pid: str, cur: int, total: int, topic_dir: str
    ) -> int:
        """Committed/emitted records beyond the partition's currently-
        available end means the broker lost data (truncation/deletion).

        failOnDataLoss=false recovery: the double's offsets are record
        INDEXES, so truncation renumbers the partition — committed
        positions are meaningless afterwards. The reset rebases THAT
        PARTITION's cursors (in-memory floor/watermarks AND the durable
        sidecar entry) to the available end at detection time, so records
        appended after the reset are delivered and the warning does not
        re-fire every trigger; survivors below the reset point are treated
        as already-delivered (lost-range-skip semantics, same "may miss
        data" contract as the connector)."""
        if total >= cur:
            return cur
        if self.fail_on_data_loss:
            raise RuntimeError(
                f"data loss detected on topic {topic} partition {pid}: "
                f"committed offset {cur} > available {total}; set "
                "failOnDataLoss=false to recover by resetting to the "
                "available end"
            )
        import warnings

        warnings.warn(
            f"kafkafake: data loss on topic {topic} partition {pid} "
            f"(committed {cur} > available {total}); "
            "failOnDataLoss=false -> resetting",
            RuntimeWarning,
            stacklevel=2,
        )
        part = self._partitioned.get(topic, False)
        for state, clip in ((self._floor, False), (self._hw, True), (self._last, True)):
            pm = self._state_pm(state, topic)
            pm[pid] = min(pm.get(pid, total), total) if clip else total
            state[topic] = _pack(pm, part)
        # partitions() must be allowed below the (now-stale) offset-log
        # start for this partition — remember the rebased origin
        self._loss_reset[(topic, pid)] = total
        # rebase the durable floor too — NON-monotone force write that
        # leaves a present file even at 0, so (a) a restarted reader loads
        # the rebased floor instead of re-detecting forever, and (b) a
        # WAL-replayed pre-rebase batch can recognize the rebase (see
        # partitions) by the present-and-equal sidecar entry
        if not _force_floor(self._sidecar(topic_dir), pid, total, part):
            warnings.warn(
                f"kafkafake: could not persist the data-loss rebase for "
                f"topic {topic} partition {pid} (sidecar "
                f"{self._sidecar(topic_dir)} is not writable); a restarted "
                "query will re-detect the loss and may permanently swallow "
                "appends made after it",
                RuntimeWarning,
                stacklevel=2,
            )
        return total

    def latestOffset(self) -> dict:
        root = self.options.get("kafka.bootstrap.servers")
        # pass 1: per (topic, partition) cursors + availability, with
        # data-loss detection/rebase per partition
        info: list[list] = []  # [topic, pid, cur, avail]
        seen: set[str] = set()
        for d in self._topic_dirs():
            t = _t(d)
            seen.add(t)
            self._is_partitioned(t, d)
            last = self._state_pm(self._last, t)
            hw = self._state_pm(self._hw, t)
            fl = self._state_pm(self._floor, t)
            for pid in _pids(d):
                p = str(pid)
                cur = max(last.get(p, 0), hw.get(p, 0), fl.get(p, 0))
                avail = _partition_len(d, pid)
                cur = self._check_data_loss(t, p, cur, avail, d)
                info.append([t, p, cur, max(avail, cur)])
        # A previously-known topic whose directory vanished is data loss
        # too (whole-topic deletion): without this, a pattern subscription
        # would silently drop it because the isdir filter never yields it.
        for t in sorted(
            (set(self._floor) | set(self._hw) | set(self._last)) - seen
        ):
            d = os.path.join(root, t)
            pids = sorted(
                set(self._state_pm(self._last, t))
                | set(self._state_pm(self._hw, t))
                | set(self._state_pm(self._floor, t)),
                key=int,
            )
            for p in pids:
                cur = max(
                    self._state_pm(self._last, t).get(p, 0),
                    self._state_pm(self._hw, t).get(p, 0),
                    self._state_pm(self._floor, t).get(p, 0),
                )
                if cur > 0:
                    cur = self._check_data_loss(t, p, cur, 0, d)
                    info.append([t, p, cur, cur])
        # pass 2: spend the trigger budget proportionally to lag across ALL
        # topic-partitions (the connector's allocation — round-8 advice fix:
        # the old sorted-topic-name spending let an alphabetically-early
        # topic starve the rest). The rounding remainder goes to the
        # largest fractional shares first (most underserved), tie-broken by
        # (topic, partition) name: the whole split is a PURE FUNCTION of
        # (cursors, availability), so a fresh reader after a crash-restart
        # recomputes the identical batch end — the offset-WAL monotonicity
        # law depends on that determinism. A partition whose share rounds
        # to zero is deferred, but its lag (hence share) only grows until
        # it is served — proportionality bounds deferral like the real
        # connector's.
        lags = [avail - cur for _, _, cur, avail in info]
        budget = self.max_per_trigger
        total_lag = sum(lags)
        if budget is None or total_lag <= budget:
            grants = lags
        else:
            grants = [budget * lag // total_lag for lag in lags]
            rem = budget - sum(grants)
            order = sorted(
                range(len(info)),
                key=lambda i: (
                    -(budget * lags[i] % total_lag),
                    info[i][0],
                    int(info[i][1]),
                ),
            )
            for idx in order:
                if rem <= 0:
                    break
                if grants[idx] < lags[idx]:
                    grants[idx] += 1
                    rem -= 1
        offsets: dict = {}
        per_topic: dict[str, dict[str, int]] = {}
        for (t, p, cur, _avail), grant in zip(info, grants):
            per_topic.setdefault(t, {})[p] = cur + grant
        for t, pm in per_topic.items():
            part = self._partitioned.get(t, False)
            last = self._state_pm(self._last, t)
            for p, nxt in pm.items():
                last[p] = max(last.get(p, 0), nxt)
            self._last[t] = _pack(last, part)
            offsets[t] = _pack(pm, part)
        return {"topics": offsets}

    def _offmap(self, offset: dict) -> dict:
        """Offset-log dict -> {topic: int | partition map}. Accepts the
        pre-round-7 single-topic shape ({"offset": N}) so a query
        checkpointed by the old reader restarts without re-emitting its
        committed range."""
        if "topics" in offset:
            return offset["topics"]
        if "offset" in offset:
            single = self.options.get("topic") or self.options.get("subscribe")
            if single:
                return {single: offset["offset"]}
        return {}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        starts = self._offmap(start)
        ends = self._offmap(end)
        parts: list[_Range] = []
        root = self.options.get("kafka.bootstrap.servers")
        for t, end_val in ends.items():
            d = os.path.join(root, t)
            part_flag = self._is_partitioned(t, d)
            epm = _pm(end_val)
            spm = _pm(starts.get(t))
            hwpm = self._state_pm(self._hw, t)
            lastpm = self._state_pm(self._last, t)
            for p in sorted(epm, key=int):
                e = int(epm[p])
                s = int(spm.get(p, 0))
                if (t, p) in self._loss_reset:
                    # offset-log start predates a data-loss rebase: the clip
                    # below must not resurrect the stale (renumbered-away)
                    # start
                    s = min(s, self._loss_reset[(t, p)])
                elif e < s and not self.fail_on_data_loss:
                    # A WAL-replayed batch whose END is below its START can
                    # only be the in-flight batch planned right after a
                    # failOnDataLoss=false rebase (latestOffset is otherwise
                    # monotone at-or-above every committed start). Confirm
                    # via the rebased durable floor — PRESENT and EXACTLY
                    # equal to e for this partition (the rebase force-writes
                    # the detection-time total, and the WAL'd end of the
                    # post-rebase batch IS that total) — and adopt it,
                    # instead of letting max(hw, s) resurrect the stale
                    # pre-loss cursor (which would re-trigger detection and
                    # permanently swallow post-loss appends). Anything
                    # else — absent sidecar (lost floor) or a merely-low
                    # value (failed/cleared writes, another lineage) — keeps
                    # the clip, the exactly-once guard against re-delivery.
                    val = _load_floor_value(self._sidecar(d))
                    if val is not None and _pm(val).get(p) == e:
                        self._loss_reset[(t, p)] = e
                        s = e
                # restart-safe high-watermark clip: `start` comes from the
                # offset log, so it is committed; never re-emit below it
                hw = max(hwpm.get(p, 0), s)
                eff_start, eff_end = hw, max(e, hw)
                hwpm[p] = eff_end
                lastpm[p] = max(lastpm.get(p, 0), e, eff_end)
                parts.append(
                    _Range(eff_start, eff_end, topic_dir=d, pid=int(p))
                )
            self._hw[t] = _pack(hwpm, part_flag)
            self._last[t] = _pack(lastpm, part_flag)
        return parts

    def read(self, part: _Range) -> Iterator[tuple]:
        recs = _read_partition(part.topic_dir, part.pid)
        for i in range(part.start, min(part.end, len(recs))):
            yield recs[i]

    def commit(self, end: dict) -> None:
        root = self.options.get("kafka.bootstrap.servers")
        for t, val in self._offmap(end).items():
            d = os.path.join(root, t)
            part_flag = self._is_partitioned(t, d)
            pm = _pm(val)
            fl = self._state_pm(self._floor, t)
            for p, committed in pm.items():
                fl[p] = max(fl.get(p, 0), int(committed))
            self._floor[t] = _pack(fl, part_flag)
            _store_floor(self._sidecar(d), pm, part_flag)


def _t(topic_dir: str) -> str:
    return os.path.basename(topic_dir.rstrip("/"))


class FileKafkaDataSource(DataSource):
    """``spark.dataSource.register(FileKafkaDataSource)`` +
    ``format("kafkafake")`` (or the kafka.py functions' ``fmt`` override)
    resolve to this file-backed double."""

    @classmethod
    def name(cls) -> str:
        return "kafkafake"

    def schema(self) -> str | StructType:
        return KAFKA_SOURCE_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _FakeKafkaBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _FakeKafkaStreamReader(self.options)

    def writer(self, schema: StructType, overwrite: bool) -> DataSourceWriter:
        return _FakeKafkaWriter(self.options)

    def streamWriter(self, schema: StructType, overwrite: bool) -> DataSourceStreamWriter:
        return _FakeKafkaStreamWriter(self.options)

"""Custom Python DataSource (Spark 4 DataSource API): paced JSONL replay.

The reference's transport layer is a Kafka producer that replays a JSONL
file line by line — parsing each line, diverting malformed JSON and
envelope-invalid events to an error log with a reason, optionally
shuffling, and pacing sends with a sleep (producer/producer.py:41-67).
This module is that transport re-expressed as a first-class Spark source:

- ``jsonl_replay`` batch form: one scan, every line becomes a row carrying
  its validity verdict and the producer's exact reason string.
- streaming form: offsets are LINE NUMBERS and each micro-batch advances by
  ``lines_per_batch`` — the paced replay the reference gets from
  ``time.sleep``, but replayable and checkpoint-resumable (a restarted
  query resumes mid-file from the committed line offset, which the
  reference's fire-and-forget loop cannot do).
- staged form (``stage_replay``): the same rows written by the driver as
  one JSON segment file per ``lines_per_batch`` lines, for Spark's
  built-in file stream source with ``maxFilesPerTrigger`` 1. This is what
  ``pipeline --streaming`` reads: no Python source runner or worker runs
  per micro-batch, and the checkpoint's seen-files log is the resume point.

Envelope verdicts mirror producer.py::validate_event:
  * unparseable line            -> "Malformed JSON"
  * parsed but not a dict       -> "Event is not a dictionary"
  * missing envelope keys       -> "Missing required keys: <sorted names>"
    (the reference formats the raw Python set — engine-side the names are
    sorted so the reason string is deterministic; documented divergence)
  * empty event_type / payload  -> "event_type or payload is empty"
    (the reference calls .strip() on a possibly-non-string event_type and
    crashes on e.g. a numeric type; engine-side non-strings stringify —
    documented divergence, same verdict)

Deterministic shuffle: ``shuffle_seed`` orders lines by md5(seed:line_no) —
the reference's random.shuffle made replays irreproducible; this keeps the
"shuffled arrival" test semantics WITHOUT losing replay determinism.

Scale note: this source is the TRANSPORT-semantics twin (single ordered
file, like the single Kafka partition it stands in for). Parallel bulk
ingest of many JSONL files stays on the native reader (sources/jsonl.py),
which splits per file; a sharded topic maps to one replay source per shard
directory.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import time
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

REPLAY_SCHEMA = (
    "line_no bigint, valid boolean, reason string, event_type string, "
    "event_time string, payload string, raw string"
)

_REQUIRED = ("event_type", "event_time", "payload")


def _load_watermark(sidecar: str, key: str) -> int:
    """Committed high watermark from a sidecar file (0 when absent/corrupt).

    The pacing cursor alone lives in reader memory, so across TWO restarts
    the in-run clip is not enough: restart #1's fresh reader can report a
    regressed latestOffset, Spark logs it as a batch end, and if the query
    stops again after committing that regressed batch, restart #2 plans
    from the regressed offset with another fresh reader and re-emits
    already-delivered rows. Persisting the committed end in ``commit()``
    and flooring ``latestOffset`` with it makes a regressed offset
    unreportable, so the offset log can never carry one."""
    try:
        with open(sidecar) as f:
            return int(json.load(f).get(key, 0))
    except (OSError, ValueError, TypeError, AttributeError):
        # OSError: absent/unreadable; ValueError: bad JSON / non-int value;
        # TypeError: valid JSON, wrong shape ({"line": null} -> int(None));
        # AttributeError: top-level non-dict (a list has no .get). All mean
        # "no usable floor" — degrade to 0, never fail the query.
        return 0


_WATERMARK_LOCK = __import__("threading").Lock()


def _write_watermark_unlocked(sidecar: str, key: str, value) -> bool:
    """Atomic best-effort sidecar write (unique temp name + os.replace).
    Caller must hold ``_WATERMARK_LOCK``. Best-effort: a read-only source
    directory must not fail the query — returns False when the write could
    not be persisted so callers that NEED durability (data-loss rebases)
    can warn instead of silently losing the floor."""
    import uuid

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


def _store_watermark(sidecar: str, key: str, value: int) -> None:
    """Monotone atomic sidecar update (read-max-replace under a process
    lock): two driver-side readers in one process can never interleave a
    lower value over a higher one. Without the sidecar (write failed —
    best-effort) the reader degrades to the in-run offset-log clip
    (single-restart guarantee) instead of the durable multi-restart floor.
    Readers in DIFFERENT processes sharing one file should isolate their
    floors with the ``commit_id`` option instead of relying on this lock."""
    with _WATERMARK_LOCK:
        if value <= _load_watermark(sidecar, key):
            return
        _write_watermark_unlocked(sidecar, key, value)


def _force_watermark(sidecar: str, key: str, value) -> bool:
    """NON-monotone sidecar write for explicit rebases (data-loss recovery):
    unlike ``_store_watermark`` this may move the floor DOWN, and it always
    leaves a present file — even for value 0 — so a later reader can
    distinguish 'rebased to 0' from 'sidecar never written/lost'. Returns
    False when the write failed (read-only source dir) — callers should
    warn, because a restarted reader will then re-detect the loss and may
    permanently swallow post-loss appends."""
    with _WATERMARK_LOCK:
        return _write_watermark_unlocked(sidecar, key, value)


def _warn_unnamespaced_reset(sidecar: str, key: str, namespaced: bool) -> None:
    """Warn when a fresh query is about to clear a shared (un-namespaced)
    sidecar that holds another lineage's durable floor — the reset silently
    downgrades that other query to the single-restart offset-log-clip
    guarantee. Namespaced (commit_id) sidecars are per-lineage by
    construction, so no warning there."""
    if namespaced or _load_watermark(sidecar, key) <= 0:
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


def _clear_watermark(sidecar: str) -> None:
    """Best-effort sidecar removal — a FRESH query (empty offset log)
    starts a new delivery lineage, and an inherited floor from a previous
    lineage would defeat paced first batches (and, for a path-keyed
    sidecar, leak another query's progress into this one)."""
    with _WATERMARK_LOCK:
        try:
            os.unlink(sidecar)
        except OSError:
            pass


def _order(path: str, seed: str | None) -> Sequence[int]:
    """File line index for each replay position: the identity ``range``
    unseeded, the md5(seed:line_no) sort when seeded. One O(file) pass —
    computed once per reader on the driver, never per read."""
    import hashlib

    with open(path) as f:
        n = sum(1 for _ in f)
    if seed is None:
        return range(n)
    return sorted(range(n), key=lambda i: hashlib.md5(f"{seed}:{i}".encode()).hexdigest())


def _read_range(path: str, part: "_Range") -> Iterator[tuple]:
    """Rows of one planned range: the file is streamed only up to the
    highest line the range needs, keeping just those lines."""
    lines = part.lines
    if not lines:
        return
    wanted = set(lines)
    with open(path) as f:
        kept = {
            i: raw
            for i, raw in enumerate(itertools.islice(f, max(lines) + 1))
            if i in wanted
        }
    for pos, line_idx in enumerate(lines, part.start):
        yield _parse_line(pos, kept[line_idx])


def _parse_line(line_no: int, raw: str):
    line = raw.rstrip("\n")
    try:
        event = json.loads(line)
    except json.JSONDecodeError:
        return (line_no, False, "Malformed JSON", None, None, None, line)
    if not isinstance(event, dict):
        return (line_no, False, "Event is not a dictionary", None, None, None, line)
    missing = [k for k in _REQUIRED if k not in event]
    if missing:
        return (
            line_no, False,
            f"Missing required keys: {sorted(missing)}",
            None, None, None, line,
        )
    etype = str(event.get("event_type") or "")
    payload = event.get("payload")
    if not etype.strip() or not payload:
        return (line_no, False, "event_type or payload is empty", None, None, None, line)
    return (
        line_no, True, "",
        etype,
        str(event.get("event_time")),
        json.dumps(payload, sort_keys=True),
        line,
    )


_FIELDS = tuple(col.split()[0] for col in REPLAY_SCHEMA.split(", "))
_SEGMENT = re.compile(r"seg-(\d+)-(\d+)\.jsonl")
# hidden from Spark's file listing (dot prefix), like the segment temp files
_STAGE_MANIFEST = ".lines_per_batch"


def stage_replay(path: str, seg_dir: str, lines_per_batch: int) -> int:
    """Stage ``path`` for the file stream source: one ``seg-<start>-<end>.jsonl``
    segment per ``lines_per_batch`` lines in ``seg_dir``, each row the
    ``REPLAY_SCHEMA`` row ``_parse_line`` gives the line. Returns the number
    of segments written.

    The input is streamed once. Each segment lands by ``os.replace`` from a
    dot-prefixed temp name, so a listing never sees a partial file, and
    segment mtimes increase in line order, so the source replays in file
    order. Segments already staged are kept: a re-run stages only the lines
    after the last staged end. A shrunk input, or a different
    ``lines_per_batch`` against existing segments (whose lines would land
    again under new batch ids), raises ``ValueError``."""
    os.makedirs(seg_dir, exist_ok=True)
    manifest = os.path.join(seg_dir, _STAGE_MANIFEST)
    staged = sorted(
        (int(m[2]), name) for name in os.listdir(seg_dir) if (m := _SEGMENT.fullmatch(name))
    )
    if staged:
        with open(manifest) as f:
            staged_lpb = int(f.read())
        if staged_lpb != lines_per_batch:
            raise ValueError(
                f"{seg_dir} holds segments of {staged_lpb} lines per batch, "
                f"not {lines_per_batch}: use a fresh output"
            )
        end, last = staged[-1]
        mtime_ms = os.stat(os.path.join(seg_dir, last)).st_mtime_ns // 1_000_000
    else:
        with open(f"{manifest}.tmp", "w") as f:
            f.write(str(lines_per_batch))
        os.replace(f"{manifest}.tmp", manifest)
        end, mtime_ms = 0, 0
    mtime_ms = max(mtime_ms + 1, time.time_ns() // 1_000_000)

    written = 0
    with open(path) as f:
        lines = enumerate(f)
        if sum(1 for _ in itertools.islice(lines, end)) < end:
            raise ValueError(
                f"{path} is shorter than the {end} lines already staged in "
                f"{seg_dir}: the input shrank"
            )
        while chunk := list(itertools.islice(lines, lines_per_batch)):
            name = f"seg-{chunk[0][0]}-{chunk[-1][0] + 1}.jsonl"
            tmp = os.path.join(seg_dir, f".{name}")
            with open(tmp, "w") as out:
                out.writelines(
                    json.dumps(dict(zip(_FIELDS, _parse_line(i, raw)))) + "\n"
                    for i, raw in chunk
                )
            os.utime(tmp, ns=(mtime_ms * 1_000_000,) * 2)
            os.replace(tmp, os.path.join(seg_dir, name))
            mtime_ms += 1
            written += 1
    return written


class _Range(InputPartition):
    """Replay positions ``[start, end)`` and the file line of each
    (``order[start:end]``, planned on the driver)."""

    def __init__(self, start: int, end: int, lines: Sequence[int]):
        self.start = start
        self.end = end
        self.lines = lines


class _ReplayBatchReader(DataSourceReader):
    def __init__(self, options):
        self.path = options["path"]
        self.seed = options.get("shuffle_seed")

    def partitions(self) -> Sequence[InputPartition]:
        order = _order(self.path, self.seed)
        return [_Range(0, len(order), order)]

    def read(self, part: _Range) -> Iterator[tuple]:
        return _read_range(self.path, part)


class _ReplayStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.path = options["path"]
        self.seed = options.get("shuffle_seed")
        self.per_batch = int(options.get("lines_per_batch", "50"))
        self._order = _order(self.path, self.seed)
        self.total = len(self._order)
        # Durable committed-offset floor (see _load_watermark): keyed by the
        # replayed file by default; pass commit_id to namespace per query
        # when several independently-checkpointed queries replay one file.
        cid = options.get("commit_id")
        self._namespaced = cid is not None
        self.sidecar = f"{self.path}.replay_commit" + (f".{cid}" if cid else "")
        self._floor = _load_watermark(self.sidecar, "line")

    def initialOffset(self) -> dict:
        # Called ONLY for a fresh query (no offset log) — never on a
        # checkpoint restart. A fresh query is a new delivery lineage, so
        # an inherited sidecar floor must not apply: it would collapse the
        # whole previously-replayed range into one unpaced first batch.
        #
        # Hazard (warned, not silent): with no commit_id, the sidecar is
        # keyed by file path alone, so a SECOND fresh query replaying the
        # same file resets the FIRST query's durable floor here, silently
        # downgrading that query to the single-restart (offset-log clip)
        # guarantee. Queries sharing a file must namespace with commit_id.
        _warn_unnamespaced_reset(self.sidecar, "line", self._namespaced)
        self._floor = 0
        _clear_watermark(self.sidecar)
        return {"line": 0}

    def latestOffset(self) -> dict:
        # Monotone pacing: each trigger exposes at most lines_per_batch more.
        # The in-memory cursor resets to 0 on a checkpoint restart; the
        # durable floor (committed end persisted in commit(), reset only by
        # a fresh query's initialOffset) keeps the reported offset
        # at-or-above every committed one, so a regressed batch end can
        # never enter the offset log — exactly-once emission holds across
        # ANY number of restarts, not just one. partitions() additionally
        # clips below the offset-log start as belt-and-braces for a sidecar
        # lost mid-flight.
        cur = max(getattr(self, "_last", 0), getattr(self, "_hw", 0), self._floor)
        nxt = min(self.total, cur + self.per_batch)
        self._last = nxt
        return {"line": nxt}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        s, e = int(start["line"]), int(end["line"])
        # `start` comes from the offset log, so everything below it was
        # already committed: fold it into the emitted-lines high watermark
        # and clip the range so a restarted query never re-emits a line.
        hw = max(getattr(self, "_hw", 0), s)
        eff_start, eff_end = hw, max(e, hw)
        self._hw = eff_end
        self._last = max(getattr(self, "_last", 0), e, eff_end)
        if eff_end > self.total:
            raise ValueError(
                f"{self.path} has {self.total} lines but the offset log "
                f"asks for line {eff_end}: the replayed file shrank"
            )
        return [_Range(eff_start, eff_end, self._order[eff_start:eff_end])]

    def read(self, part: _Range) -> Iterator[tuple]:
        return _read_range(self.path, part)

    def commit(self, end: dict) -> None:
        # Durable watermark: once Spark commits a batch end, no future
        # reader incarnation may report an offset below it.
        committed = int(end["line"])
        self._floor = max(self._floor, committed)
        _store_watermark(self.sidecar, "line", committed)


class JsonlReplayDataSource(DataSource):
    """``spark.read.format("jsonl_replay").option("path", ...)`` — see
    module docstring. Register with
    ``spark.dataSource.register(JsonlReplayDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_replay"

    def schema(self) -> str | StructType:
        return REPLAY_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return _ReplayBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return _ReplayStreamReader(self.options)

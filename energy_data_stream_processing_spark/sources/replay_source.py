"""Paced JSONL replay: staged segments for Spark's file stream source, and
the ``jsonl_replay`` Python batch DataSource (Spark 4 DataSource API).

The reference's transport layer is a Kafka producer that replays a JSONL
file line by line — parsing each line, diverting malformed JSON and
envelope-invalid events to an error log with a reason, optionally
shuffling, and pacing sends with a sleep (producer/producer.py:41-67).
This module is that transport re-expressed as a first-class Spark source:

- ``replay_stream``: the streaming replay. ``stage_replay`` writes the
  rows on the driver as one JSON segment file per ``lines_per_batch``
  lines, and Spark's built-in file stream source reads them one segment
  per trigger: the paced replay the reference gets from ``time.sleep``,
  but checkpoint-resumable (a restarted query resumes at the first segment
  its seen-files log lacks, which the reference's fire-and-forget loop
  cannot do). ``pipeline --streaming`` reads through it.
- ``jsonl_replay`` batch form: one scan, every line becomes a row carrying
  its validity verdict and the producer's exact reason string.

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

import hashlib
import itertools
import json
import os
import re
import time
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.types import StructType

REPLAY_SCHEMA = (
    "line_no bigint, valid boolean, reason string, event_type string, "
    "event_time string, payload string, raw string"
)

_REQUIRED = ("event_type", "event_time", "payload")


def _order(n: int, seed: str | None) -> Sequence[int]:
    """File line index for each replay position: the identity ``range``
    unseeded, the md5(seed:line_no) sort when seeded."""
    if seed is None:
        return range(n)
    return sorted(range(n), key=lambda i: hashlib.md5(f"{seed}:{i}".encode()).hexdigest())


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


def replay_stream(
    spark: SparkSession, path: str, seg_dir: str, lines_per_batch: int
) -> DataFrame:
    """The paced streaming replay of ``path``: stage it into ``seg_dir``
    (``stage_replay``) and read the segments with Spark's file stream
    source, one segment (``lines_per_batch`` lines) per trigger. A query on
    the same checkpoint resumes at the first segment its seen-files log
    lacks, so a restart, or a restart after the input grew, emits each
    line once."""
    stage_replay(path, seg_dir, lines_per_batch)
    return (
        spark.readStream.schema(REPLAY_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(seg_dir)
    )


class _ReplayBatchReader(DataSourceReader):
    """One partition: the whole file, in ``shuffle_seed`` order."""

    def __init__(self, options):
        self.path = options["path"]
        self.seed = options.get("shuffle_seed")

    def read(self, partition) -> Iterator[tuple]:
        with open(self.path) as f:
            lines = f.readlines()
        for pos, i in enumerate(_order(len(lines), self.seed)):
            yield _parse_line(pos, lines[i])


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

"""Paced JSONL replay: staged segments for Spark's file stream source, and
the ``jsonl_replay`` Python batch DataSource (Spark 4 DataSource API).

The reference's transport layer is a Kafka producer that replays a JSONL
file line by line — parsing each line, diverting malformed JSON and
envelope-invalid events to an error log with a reason, optionally
shuffling, and pacing sends with a sleep (producer/producer.py:41-67).
This module is that transport re-expressed as a first-class Spark source.
It moves lines only: the producer's verdicts are the engine's one line
verdict, ``operators.validation.tag_lines``, which every consumer of these
lines applies (``pipeline --streaming`` in ``__main__.fold``).

- ``replay_stream``: the streaming replay. ``stage_replay`` copies the
  input's lines unchanged into one segment file per ``lines_per_batch``
  lines, and Spark's built-in text stream source reads them one segment
  per trigger: the paced replay the reference gets from ``time.sleep``,
  but checkpoint-resumable (a restarted query resumes at the first segment
  its seen-files log lacks, which the reference's fire-and-forget loop
  cannot do). ``pipeline --streaming`` reads through it.
- ``jsonl_replay`` batch form: one scan, every line becomes a
  ``(line_no, value)`` row in replay order, ``value`` the line as
  ``operators.validation.tag_lines`` takes it.

Deterministic shuffle: ``shuffle_seed`` orders lines by md5(seed:line_no) —
the reference's random.shuffle made replays irreproducible; this keeps the
"shuffled arrival" test semantics WITHOUT losing replay determinism.

Scale note: this source is the TRANSPORT-semantics twin (single ordered
file, like the single Kafka partition it stands in for). Parallel bulk
ingest of many JSONL files is batch ``pipeline``'s ``spark.read.text``,
which splits per file; a sharded topic maps to one replay source per shard
directory.
"""

from __future__ import annotations

import hashlib
import itertools
import os
import re
import time
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader
from pyspark.sql.types import StructType

REPLAY_SCHEMA = "line_no bigint, value string"


def _order(n: int, seed: str | None) -> Sequence[int]:
    """File line index for each replay position: the identity ``range``
    unseeded, the md5(seed:line_no) sort when seeded."""
    if seed is None:
        return range(n)
    return sorted(range(n), key=lambda i: hashlib.md5(f"{seed}:{i}".encode()).hexdigest())


_SEGMENT = re.compile(r"seg-(\d+)-(\d+)\.jsonl")
# hidden from Spark's file listing (dot prefix), like the segment temp
# files; segments of verdict-tagged rows, which an earlier stage_replay
# wrote, sit beside a ".lines_per_batch" manifest instead
_STAGE_MANIFEST = ".line_segments"


def stage_replay(path: str, seg_dir: str, lines_per_batch: int) -> int:
    """Stage ``path`` for the file stream source: one ``seg-<start>-<end>.jsonl``
    segment per ``lines_per_batch`` lines in ``seg_dir``, each the input's
    lines byte for byte. Returns the number of segments written.

    The input is streamed once. Each segment lands by ``os.replace`` from a
    dot-prefixed temp name, so a listing never sees a partial file, and
    segment mtimes increase in line order, so the source replays in file
    order. Segments already staged are kept: a re-run stages only the lines
    after the last staged end. A shrunk input, a different
    ``lines_per_batch`` against existing segments (whose lines would land
    again under new batch ids), or segments of verdict-tagged rows (read as
    lines, every row would be dead-lettered) raise ``ValueError`` before
    anything is written."""
    os.makedirs(seg_dir, exist_ok=True)
    manifest = os.path.join(seg_dir, _STAGE_MANIFEST)
    staged = sorted(
        (int(m[2]), name) for name in os.listdir(seg_dir) if (m := _SEGMENT.fullmatch(name))
    )
    if staged:
        if not os.path.exists(manifest):
            raise ValueError(
                f"{seg_dir} holds segments of verdict-tagged rows, not source "
                "lines: use a fresh output"
            )
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
    with open(path, "rb") as f:
        lines = enumerate(f)
        if sum(1 for _ in itertools.islice(lines, end)) < end:
            raise ValueError(
                f"{path} is shorter than the {end} lines already staged in "
                f"{seg_dir}: the input shrank"
            )
        while chunk := list(itertools.islice(lines, lines_per_batch)):
            name = f"seg-{chunk[0][0]}-{chunk[-1][0] + 1}.jsonl"
            tmp = os.path.join(seg_dir, f".{name}")
            with open(tmp, "wb") as out:
                out.writelines(line for _, line in chunk)
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
    source as text (one ``value`` row per line), one segment
    (``lines_per_batch`` lines) per trigger. A query on the same checkpoint
    resumes at the first segment its seen-files log lacks, so a restart, or
    a restart after the input grew, emits each line once."""
    stage_replay(path, seg_dir, lines_per_batch)
    return spark.readStream.option("maxFilesPerTrigger", 1).text(seg_dir)


class _ReplayBatchReader(DataSourceReader):
    """One partition: the whole file, in ``shuffle_seed`` order."""

    def __init__(self, options):
        self.path = options["path"]
        self.seed = options.get("shuffle_seed")

    def read(self, partition) -> Iterator[tuple]:
        with open(self.path, encoding="utf-8") as f:
            lines = f.readlines()
        for pos, i in enumerate(_order(len(lines), self.seed)):
            yield pos, lines[i].rstrip("\n")


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

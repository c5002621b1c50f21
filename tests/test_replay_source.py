"""Paced JSONL replay: producer-parity verdicts of the lines the
``jsonl_replay`` batch source yields, stream≡batch law and
checkpoint-resumable pacing of ``replay_stream``, deterministic shuffle,
segment staging."""

from __future__ import annotations

import json

import pytest

from energy_data_stream_processing_spark.operators.validation import tag_lines
from energy_data_stream_processing_spark.sources.replay_source import (
    JsonlReplayDataSource,
    replay_stream,
)

LINES = [
    json.dumps({"event_type": "user_login", "event_time": "2024-01-01T00:00:00", "payload": {"customer_id": "C1"}}),
    "{not json",
    json.dumps(["a", "list"]),
    json.dumps({"event_type": "tariff_switch", "payload": {"x": 1}}),
    json.dumps({"event_type": "  ", "event_time": "t", "payload": {"x": 1}}),
    json.dumps({"event_type": "bill_payment", "event_time": "t", "payload": {}}),
    json.dumps({"event_type": "energy_consumed", "event_time": "2024-01-01T01:00:00", "payload": {"kwh": 2.5}}),
]


@pytest.fixture()
def fixture_path(tmp_path):
    p = tmp_path / "events.jsonl"
    p.write_text("\n".join(LINES) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(JsonlReplayDataSource)
    return spark


def test_batch_verdicts_match_producer_semantics(registered, fixture_path):
    replay = registered.read.format("jsonl_replay").option("path", fixture_path).load()
    # one partition, in file order
    rows = tag_lines(replay).collect()
    assert len(rows) == 7
    assert rows[0].reason == "Missing payload fields: user_login"  # F1 passes, F2 does not
    assert rows[0].event_type == "user_login" and rows[0].payload.customer_id == "C1"
    assert rows[1].reason == "Malformed JSON" and rows[1].raw == LINES[1]
    assert rows[2].reason == "Event is not a dictionary"
    assert rows[3].reason == "Missing required keys: ['event_time']"
    assert rows[4].reason == "event_type or payload is empty"
    assert rows[5].reason == "event_type or payload is empty"
    assert rows[6].reason == "event_type or payload is empty"  # no known payload field


def test_stream_equals_batch_and_paces(registered, fixture_path, tmp_path):
    """Drained stream == batch scan (same lines), delivered in paced
    micro-batches of lines_per_batch lines: 7 lines at 3 per batch are 3
    batches."""
    batch = sorted(
        r.value
        for r in registered.read.format("jsonl_replay").option("path", fixture_path).load().collect()
    )
    seen_batches = []

    def fold(df, batch_id):
        rows = df.collect()
        if rows:
            seen_batches.append(sorted(r.value for r in rows))

    q = (
        replay_stream(registered, fixture_path, str(tmp_path / "_replay"), 3)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = sorted(t for b in seen_batches for t in b)
    assert streamed == batch
    assert [len(b) for b in seen_batches] == [3, 3, 1]


def test_shuffle_is_deterministic_and_complete(registered, fixture_path):
    base = registered.read.format("jsonl_replay").option("path", fixture_path)
    a = base.option("shuffle_seed", "s1").load().collect()
    b = base.option("shuffle_seed", "s1").load().collect()
    c = base.option("shuffle_seed", "s2").load().collect()
    plain = base.load().collect()
    assert [r.value for r in a] == [r.value for r in b]  # same seed, same order
    assert sorted(r.value for r in a) == sorted(r.value for r in plain)  # complete
    assert [r.value for r in a] != [r.value for r in plain] or [r.value for r in c] != [
        r.value for r in plain
    ]  # some seed actually permutes


def test_stream_checkpoint_restart_no_duplicates(registered, fixture_path, tmp_path):
    """END-TO-END restart through Spark's own checkpoint: drain the stream
    once, stop, then start a SECOND query on the SAME checkpoint and
    segment directory. The restarted query must emit ZERO rows: every
    segment is in the seen-files log, so none is read again."""
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple] = []

    def fold(df, batch_id):
        seen.extend(map(tuple, df.collect()))

    def run_once():
        q = (
            replay_stream(registered, fixture_path, str(tmp_path / "_replay"), 2)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_first = len(seen)
    assert n_first == 7  # full file drained
    run_once()  # restart from the same checkpoint
    assert len(seen) == n_first, (
        f"restart re-emitted {len(seen) - n_first} committed lines"
    )


def _rows_by_full_read(path, seed):
    """Reference read: the whole file in the full md5 order."""
    import hashlib

    with open(path) as f:
        lines = f.read().splitlines()
    order = list(range(len(lines)))
    if seed is not None:
        order.sort(key=lambda i: hashlib.md5(f"{seed}:{i}".encode()).hexdigest())
    return [(pos, lines[i]) for pos, i in enumerate(order)]


@pytest.mark.parametrize("seed", [None, "s1"])
def test_range_reads_match_full_file_reads(tmp_path, seed):
    """The batch reader yields, in replay order, the rows a reference read
    of the whole file in md5(seed:line_no) order gives."""
    from energy_data_stream_processing_spark.sources.replay_source import (
        _ReplayBatchReader,
    )

    path = str(tmp_path / "events.jsonl")
    with open(path, "w") as f:
        for i in range(40):
            f.write(LINES[i % len(LINES)].replace("C1", f"C{i}") + "\n")
    opts = {"path": path}
    if seed is not None:
        opts["shuffle_seed"] = seed

    assert list(_ReplayBatchReader(opts).read(None)) == _rows_by_full_read(path, seed)


def test_staged_rows_equal_jsonl_replay_rows(registered, tmp_path):
    """``stage_replay`` segments read back by Spark's text reader give the
    jsonl_replay lines byte for byte, for every envelope verdict and
    non-ASCII text."""
    from energy_data_stream_processing_spark.sources.replay_source import stage_replay

    p = tmp_path / "verdicts.jsonl"
    non_ascii = json.dumps({"event_type": "user_login", "event_time": "2024-01-01T02:00:00",
                            "payload": {"customer_id": "Zoë-東京"}}, ensure_ascii=False)
    p.write_text("\n".join([*LINES, non_ascii, "{ünparseable"]) + "\n", encoding="utf-8")
    seg_dir = str(tmp_path / "_replay")
    assert stage_replay(str(p), seg_dir, 4) == 3
    staged = registered.read.text(seg_dir)
    replay = registered.read.format("jsonl_replay").option("path", str(p)).load()
    lines = sorted(r.value for r in staged.collect())
    assert lines == sorted(r.value for r in replay.collect())
    assert len(lines) == 9 and non_ascii in lines
    assert {r.reason for r in tag_lines(staged).collect()} == {
        "Missing payload fields: user_login", "Malformed JSON", "Event is not a dictionary",
        "Missing required keys: ['event_time']", "event_type or payload is empty",
    }


def test_stage_replay_extends_a_grown_input_and_refuses_a_mismatch(tmp_path):
    """A re-run keeps staged segments and stages only lines past the last
    staged end, in later mtimes; a shrunk input or a different batch size
    is refused, naming the segment directory or the input."""
    import os
    import re

    from energy_data_stream_processing_spark.sources.replay_source import stage_replay

    p = tmp_path / "events.jsonl"
    p.write_text("\n".join(LINES) + "\n")
    seg_dir = str(tmp_path / "out" / "_replay")

    def segments():
        names = [n for n in os.listdir(seg_dir) if not n.startswith(".")]
        return sorted(names, key=lambda n: os.stat(os.path.join(seg_dir, n)).st_mtime_ns)

    assert stage_replay(str(p), seg_dir, 3) == 3
    assert segments() == ["seg-0-3.jsonl", "seg-3-6.jsonl", "seg-6-7.jsonl"]
    assert stage_replay(str(p), seg_dir, 3) == 0
    with open(p, "a") as f:
        f.write("\n".join(LINES[:4]) + "\n")
    assert stage_replay(str(p), seg_dir, 3) == 2
    assert segments()[3:] == ["seg-7-10.jsonl", "seg-10-11.jsonl"]
    with open(os.path.join(seg_dir, "seg-7-10.jsonl")) as f:
        assert f.read().splitlines() == LINES[:3]
    assert not [n for n in os.listdir(seg_dir) if n.startswith(".seg-")]

    with pytest.raises(ValueError, match=rf"{re.escape(seg_dir)}.*3 lines per batch, not 4"):
        stage_replay(str(p), seg_dir, 4)
    p.write_text("\n".join(LINES) + "\n")
    with pytest.raises(ValueError, match=rf"{re.escape(str(p))}.*11 lines.*shrank"):
        stage_replay(str(p), seg_dir, 3)


def test_streaming_schema_resolves_for_the_batch_source(registered, fixture_path):
    """A streaming load of ``jsonl_replay`` still resolves the source's
    schema through its Python planner, with no stream reader: the
    benchmark's ingest set-up registers the source and asks for it."""
    from pyspark.sql.types import StructType

    from energy_data_stream_processing_spark.sources.replay_source import REPLAY_SCHEMA

    frame = registered.readStream.format("jsonl_replay").option("path", fixture_path).load()
    assert frame.isStreaming
    assert frame.schema == StructType.fromDDL(REPLAY_SCHEMA)

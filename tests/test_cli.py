"""End-to-end CLI tests: the producer+consumer pipeline as subcommands,
batch and paced-streaming forms producing identical hourly metrics."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from collections import Counter

import pytest

from energy_data_stream_processing_spark.__main__ import fold, main


@pytest.fixture()
def events_file(tmp_path):
    p = tmp_path / "events.jsonl"
    lines = []
    for i in range(120):
        t = ["user_login", "view_tariffs", "tariff_switch", "energy_consumed", "bill_payment"][i % 5]
        payload = {"customer_id": f"C{i % 7}", "session_id": i % 20, "channel": "web"}
        if t == "tariff_switch":
            payload["tariff_type"] = "green"
        if t == "energy_consumed":
            payload["energy_consumed"] = str(round(0.5 + (i % 10) / 3.0, 3))
        if t == "bill_payment":
            payload["payment_amount"] = str(round(10 + (i % 9) * 2.5, 2))
        lines.append(json.dumps({
            "event_type": t,
            "event_time": f"2024-02-0{(i % 3) + 1}T{i % 24:02d}:15:00",
            "payload": payload,
        }))
    lines.append("{broken json")
    lines.append(json.dumps({"event_type": "", "event_time": "t", "payload": {"customer_id": "X"}}))
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_cli_pipeline_batch_equals_streaming(spark, events_file, tmp_path, capsys):
    rc = main(["pipeline", "--input", events_file, "--output", str(tmp_path / "b")])
    assert rc == 0
    batch_stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rc = main([
        "pipeline", "--input", events_file, "--output", str(tmp_path / "s"),
        "--streaming", "--lines-per-batch", "40",
    ])
    assert rc == 0
    stream_stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stream_stats["valid"] == batch_stats["valid"] > 0
    assert stream_stats["invalid"] == batch_stats["invalid"] > 0
    assert stream_stats["batches"] >= 3  # paced replay, not one gulp

    b = spark.read.parquet(str(tmp_path / "b" / "hourly_metrics"))
    s = spark.read.parquet(str(tmp_path / "s" / "hourly_metrics"))
    cols = sorted(set(b.columns) & set(s.columns))
    rb = sorted(map(tuple, b.select(cols).collect()))
    rs = sorted(map(tuple, s.select(cols).collect()))
    assert rb == rs and len(rb) > 0
    # dead letter captured the transport-bad and semantic-bad rows
    dl = spark.read.json(str(tmp_path / "b" / "dead_letter"))
    assert dl.count() == batch_stats["invalid"]


def test_cli_list_and_oracle_check(capsys):
    rc = main(["list-queries", "--filter", "hourly_business"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "hourly_business_metrics" in out
    rc = main([
        "oracle-check", "distinct_channels", "--sf-dir", "/root/testdata/sf0.001",
    ])
    assert rc == 0
    assert "MATCH" in capsys.readouterr().out


# events_file plus two semantically invalid events: what a drain of it must
# report and dead-letter, by reason
_SEMANTIC_BAD = [
    {"event_type": "bill_payment", "event_time": "2024-02-01T00:00:00",
     "payload": {"customer_id": "X", "channel": "web"}},
    {"event_type": "user_login", "event_time": "nope",
     "payload": {"customer_id": "X", "session_id": 1, "channel": "web"}},
]
_REASONS = {
    "Missing payload fields: view_tariffs": 24,
    "Malformed JSON": 1,
    "event_type or payload is empty": 1,
    "Missing payload fields: bill_payment": 1,
    "Invalid event_time format": 1,
}


@pytest.fixture()
def mixed_file(events_file):
    with open(events_file, "a") as f:
        f.writelines(json.dumps(e) + "\n" for e in _SEMANTIC_BAD)
    return events_file


def _dead_letter_reasons(path):
    reasons = Counter()
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".json"):
                with open(os.path.join(root, n)) as f:
                    reasons.update(json.loads(line)["reason"] for line in f)
    return dict(reasons)


def test_cli_streaming_reads_each_line_once(spark, mixed_file, tmp_path, capsys):
    """The staged segments are scanned once per micro-batch, by Spark's file
    stream source: the rows the queries report read equal the file's lines,
    while the summary and the dead letter stay what validation makes of the
    file."""
    from energy_data_stream_processing_spark.functions.observe import ProgressCapture

    with open(mixed_file) as f:
        n_lines = sum(1 for _ in f)
    out = str(tmp_path / "s")
    capture = ProgressCapture(spark)
    try:
        rc = main(["pipeline", "--input", mixed_file, "--output", out,
                   "--streaming", "--lines-per-batch", "40"])
        spark._jsc.sc().listenerBus().waitUntilEmpty(15_000)
    finally:
        capture.close()
    assert rc == 0
    assert sum(b["numInputRows"] for b in capture.batches) == n_lines == 124
    assert [len(b["sources"]) for b in capture.batches] == [1] * len(capture.batches)
    assert all(b["sources"][0].startswith("FileStreamSource[") for b in capture.batches)
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {
        "mode": "streaming", "valid": 96, "invalid": 28, "batches": 4, "output": out,
    }
    assert _dead_letter_reasons(f"{out}/dead_letter") == _REASONS


def _batch_stores(spark, out):
    """The rows of a batch output's three stores, as multisets."""
    return {
        "raw_events": Counter(map(tuple, spark.read.parquet(f"{out}/raw_events").collect())),
        "dead_letter": Counter(map(tuple, spark.read.json(f"{out}/dead_letter").collect())),
        "hourly_metrics": Counter(map(tuple, spark.read.parquet(f"{out}/hourly_metrics").collect())),
    }


def test_batch_rerun_leaves_the_stores_of_one_run(spark, mixed_file, tmp_path, capsys):
    """A second batch ``pipeline`` of the same input into the same output
    leaves the raw, dead-letter and hourly stores exactly as one run
    leaves them, and reports the same summary."""
    out = str(tmp_path / "b")
    cmd = ["pipeline", "--input", mixed_file, "--output", out]
    assert main(cmd) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    once = _batch_stores(spark, out)
    assert (first["valid"], first["invalid"]) == (96, 28)
    assert sum(once["raw_events"].values()) == 96
    assert sum(once["dead_letter"].values()) == 28
    assert main(cmd) == 0
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == first
    assert _batch_stores(spark, out) == once
    assert _dead_letter_reasons(f"{out}/dead_letter") == _REASONS


def _partition_dirs(path):
    """The entries of a store's top level, less the writer's marker."""
    return sorted(e for e in os.listdir(path) if e != "_SUCCESS" and not e.startswith("."))


def test_batch_and_streaming_share_one_raw_and_dead_letter_layout(
        spark, mixed_file, tmp_path, capsys):
    """A batch run lands as micro-batch 0 of the streaming layout: raw
    events under ``_increment_id=b0``, dead letters under ``_batch_id=0``,
    and its raw rows are the streaming run's."""
    b, s = str(tmp_path / "b"), str(tmp_path / "s")
    assert main(["pipeline", "--input", mixed_file, "--output", b]) == 0
    assert main(["pipeline", "--input", mixed_file, "--output", s,
                 "--streaming", "--lines-per-batch", "40"]) == 0
    assert _partition_dirs(f"{b}/raw_events") == ["_increment_id=b0"]
    assert _partition_dirs(f"{b}/dead_letter") == ["_batch_id=0"]

    def raw_rows(out):
        raw = spark.read.parquet(f"{out}/raw_events").drop("_increment_id")
        return Counter(map(tuple, raw.collect()))

    assert raw_rows(b) == raw_rows(s)
    assert sum(raw_rows(b).values()) == 96


def test_fold_rerun_of_a_batch_is_idempotent(spark, mixed_file, tmp_path):
    """A micro-batch re-run under the same batch id (a crash between its
    writes and its offset commit) rewrites its own dead-letter, raw and
    hour rows instead of adding to them."""
    batch = spark.read.text(mixed_file)
    out = str(tmp_path / "out")
    assert fold(out, batch, 7) == {"valid": 96, "invalid": 28}
    hours = sorted(map(tuple, spark.read.parquet(f"{out}/hourly_metrics").collect()))
    assert fold(out, batch, 7) == {"valid": 96, "invalid": 28}
    assert _dead_letter_reasons(f"{out}/dead_letter") == _REASONS
    assert spark.read.parquet(f"{out}/raw_events").count() == 96
    assert sorted(map(tuple, spark.read.parquet(f"{out}/hourly_metrics").collect())) == hours


def test_fold_runs_five_spark_jobs(spark, mixed_file, tmp_path):
    """A warm micro-batch runs five Spark jobs: the dead-letter write, the
    raw landing, and the touched-hour recompute's three (a batch text read
    of the file stands in for a segment). The raw store is read back with
    the increment's schema, so no job infers it."""
    from tests.test_round10_ops import _last_job_id

    batch = spark.read.text(mixed_file)
    out = str(tmp_path / "out")
    fold(out, batch, 0)
    before = _last_job_id(spark)
    assert fold(out, batch, 1) == {"valid": 96, "invalid": 28}
    assert _last_job_id(spark) - before - 1 == 5


# one line of each class the producer's F1 and the consumer's F2 tell
# apart, with the reason every source gives it (None: a valid event)
_EVENT = {"event_type": "user_login", "event_time": "2024-02-01T00:15:00",
          "payload": {"customer_id": "C1", "session_id": 1, "channel": "web"}}
_EMPTY = "event_type or payload is empty"


def _envelope(**fields):
    return json.dumps({**_EVENT, **fields}, ensure_ascii=False)


_VERDICTS = [
    (json.dumps(_EVENT), None),
    ("{broken json", "Malformed JSON"),
    ("", "Malformed JSON"),
    ("   ", "Malformed JSON"),
    ("\t", "Malformed JSON"),
    ("[1, 2]", "Event is not a dictionary"),
    ("42", "Event is not a dictionary"),
    ('"a string"', "Event is not a dictionary"),
    ("null", "Event is not a dictionary"),
    (json.dumps([_EVENT, _EVENT]), "Event is not a dictionary"),
    (json.dumps({k: v for k, v in _EVENT.items() if k != "event_time"}),
     "Missing required keys: ['event_time']"),
    (json.dumps({k: v for k, v in _EVENT.items() if k != "event_type"}),
     "Missing required keys: ['event_type']"),
    (json.dumps({k: v for k, v in _EVENT.items() if k != "payload"}),
     "Missing required keys: ['payload']"),
    ("{}", "Missing required keys: ['event_time', 'event_type', 'payload']"),
    (_envelope(event_type="  "), _EMPTY),
    (_envelope(event_type="\t"), _EMPTY),
    (_envelope(event_type=0), _EMPTY),
    (_envelope(event_type=False), _EMPTY),
    (_envelope(event_type=None), _EMPTY),
    (_envelope(payload={}), _EMPTY),
    (_envelope(payload=None), _EMPTY),
    (_envelope(payload="abc"), _EMPTY),
    (_envelope(payload=[1, 2]), _EMPTY),
    (_envelope(event_time=None), "Invalid event_time format"),
    (_envelope(event_type="bill_payment"), "Missing payload fields: bill_payment"),
    (_envelope(payload={"customer_id": "Zoë-東京", "session_id": 2, "channel": "web"}), None),
    ("{ünparseable", "Malformed JSON"),
    # Spark's JSON parser, not json.loads: the reference producer gives
    # these two "Malformed JSON" and "Event is not a dictionary"
    (json.dumps(_EVENT) + " trailing", None),
    ("NaN", "Malformed JSON"),
]


def _dead_letters(out):
    """A store's dead letters as a multiset of (raw, reason)."""
    rows = Counter()
    for root, _, names in os.walk(f"{out}/dead_letter"):
        for n in names:
            if n.endswith(".json"):
                with open(os.path.join(root, n), encoding="utf-8") as f:
                    rows.update((r["raw"], r["reason"]) for r in map(json.loads, f))
    return rows


def test_every_source_gives_each_line_its_verdict(spark, tmp_path, capsys):
    """Batch ``pipeline``, ``pipeline --streaming`` and the Kafka parse give
    every line of the verdict table its reason and dead-letter it as the
    source line; the two modes land the same raw and hourly stores."""
    import base64

    from energy_data_stream_processing_spark.sources.kafka import kafka_stream_source
    from energy_data_stream_processing_spark.sources.kafka_fake import FileKafkaDataSource

    src = tmp_path / "verdicts.jsonl"
    src.write_text("".join(f"{line}\n" for line, _ in _VERDICTS), encoding="utf-8")
    want = Counter((line, reason) for line, reason in _VERDICTS if reason)
    n_valid = sum(1 for _, reason in _VERDICTS if reason is None)

    b, s = str(tmp_path / "b"), str(tmp_path / "s")
    assert main(["pipeline", "--input", str(src), "--output", b]) == 0
    batch = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert main(["pipeline", "--input", str(src), "--output", s,
                 "--streaming", "--lines-per-batch", "8"]) == 0
    stream = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (batch["valid"], batch["invalid"]) == (stream["valid"], stream["invalid"]) \
        == (n_valid, len(_VERDICTS) - n_valid)
    assert _dead_letters(b) == _dead_letters(s) == want
    raw = {out: Counter(map(tuple, spark.read.parquet(f"{out}/raw_events")
                            .drop("_increment_id").collect())) for out in (b, s)}
    assert raw[b] == raw[s] and sum(raw[b].values()) == n_valid
    assert _hours(spark, s, spark.read.parquet(f"{b}/hourly_metrics").columns) == _hours(spark, b)

    # the Kafka double: one record per line, in a single-partition topic
    try:
        spark.dataSource.register(FileKafkaDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    topic_dir = tmp_path / "broker" / "verdicts"
    topic_dir.mkdir(parents=True)
    with open(topic_dir / "records.jsonl", "w") as f:
        for line, _ in _VERDICTS:
            value = base64.b64encode(line.encode("utf-8")).decode("ascii")
            f.write(json.dumps({"key": None, "value": value}) + "\n")
    rows = []
    query = (
        kafka_stream_source(spark, str(tmp_path / "broker"), "verdicts", fmt="kafkafake")
        .writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "kafka_ckpt"))
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert Counter((r["raw"], r["reason"]) for r in rows if r["reason"]) == want
    assert [r["raw"] for r in rows if r["reason"] is None] == [None] * n_valid


def test_output_staged_as_verdict_tagged_rows_is_refused(events_file, tmp_path):
    """An output whose ``_replay/`` segments hold verdict-tagged JSON rows
    (segment staging before segments held the source lines) is refused with
    a ``ValueError`` before anything is written: read as lines, every row
    would be dead-lettered."""
    out = tmp_path / "old"
    seg = out / "_replay"
    seg.mkdir(parents=True)
    (seg / ".lines_per_batch").write_text("20")
    tagged = [
        {"line_no": 0, "valid": True, "reason": "", "event_type": "user_login",
         "event_time": "2024-02-01T00:15:00", "raw": "{}",
         "payload": '{"channel": "web", "customer_id": "C0", "session_id": 0}'},
        {"line_no": 1, "valid": False, "reason": "Malformed JSON", "event_type": None,
         "event_time": None, "payload": None, "raw": "{broken json"},
    ]
    (seg / "seg-0-20.jsonl").write_text("".join(json.dumps(r) + "\n" for r in tagged))
    for sub in ("offsets", "commits", "sources/0"):
        (out / "_checkpoint" / sub).mkdir(parents=True)
    (out / "_checkpoint" / "metadata").write_text('{"id":"0b7f6c0e-9d4a-4b8e-8f00-2f1c7a3e5d11"}')
    before = _tree(out)
    dirs = sorted(d for d, _, _ in os.walk(out))

    with pytest.raises(ValueError, match=rf"{re.escape(str(seg))} holds segments of verdict-tagged rows"):
        main(["pipeline", "--input", events_file, "--output", str(out),
              "--streaming", "--lines-per-batch", "20"])
    assert _tree(out) == before
    assert sorted(d for d, _, _ in os.walk(out)) == dirs


@pytest.mark.parametrize("lpb", ["0", "-5"])
def test_lines_per_batch_below_one_is_rejected(events_file, tmp_path, lpb):
    out = tmp_path / "s"
    with pytest.raises(SystemExit) as exc:
        main(["pipeline", "--input", events_file, "--output", str(out),
              "--streaming", "--lines-per-batch", lpb])
    assert exc.value.code == 2
    assert not out.exists()


def _hours(spark, out, cols=("*",)):
    return sorted(map(tuple, spark.read.parquet(f"{out}/hourly_metrics").select(*cols).collect()))


def test_redrain_paces_every_fresh_output_and_adds_nothing_to_a_drained_one(
        spark, mixed_file, tmp_path, capsys):
    """Three drains of one input into fresh outputs each run one batch per
    ``lines_per_batch`` lines; a fourth into a drained output runs none and
    leaves its stores as they were. Nothing is written beside the input."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    mixed = in_dir / "events.jsonl"
    with open(mixed_file) as f:
        mixed.write_text(f.read())
    before = sorted(os.listdir(in_dir))

    def drain(out):
        assert main(["pipeline", "--input", str(mixed), "--output", out,
                     "--streaming", "--lines-per-batch", "50"]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    outs = [str(tmp_path / f"o{i}") for i in range(3)]
    for out in outs:
        assert drain(out)["batches"] == 3  # ceil(124 / 50)
    hours = _hours(spark, outs[0])
    assert drain(outs[0]) == {"mode": "streaming", "valid": 0, "invalid": 0,
                              "batches": 0, "output": outs[0]}
    assert _dead_letter_reasons(f"{outs[0]}/dead_letter") == _REASONS
    assert spark.read.parquet(f"{outs[0]}/raw_events").count() == 96
    assert _hours(spark, outs[0]) == hours
    assert sorted(os.listdir(in_dir)) == before


def test_cli_kill_and_resume(spark, events_file, tmp_path, capsys, monkeypatch):
    """A drain killed after batch 3's writes, before its commit, and rerun
    with the same command ends with the stores of one clean drain; the two
    runs' batches cover every segment once. A grown input then lands only
    its new lines, and a shrunk input or a changed batch size is refused."""
    from pyspark.errors import StreamingQueryException

    import energy_data_stream_processing_spark.__main__ as cli

    real_fold, done, killed = cli.fold, [], []

    def killed_once(out, batch_df, batch_id):
        result = real_fold(out, batch_df, batch_id)
        if batch_id == 3 and not killed:
            killed.append(batch_id)
            raise RuntimeError("killed after the writes of batch 3")
        done.append(batch_id)
        return result

    monkeypatch.setattr(cli, "fold", killed_once)
    out = str(tmp_path / "s")
    cmd = ["pipeline", "--input", events_file, "--output", out,
           "--streaming", "--lines-per-batch", "20"]
    with pytest.raises(StreamingQueryException, match="killed after the writes of batch 3"):
        main(cmd)
    assert done == [0, 1, 2]
    assert main(cmd) == 0
    resumed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert resumed["batches"] == 4 and done == list(range(7))  # ceil(122 / 20) segments

    # the file grows by the two semantically invalid events: one more batch
    with open(events_file, "a") as f:
        f.writelines(json.dumps(e) + "\n" for e in _SEMANTIC_BAD)
    assert main(cmd) == 0
    grown = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (grown["batches"], grown["valid"], grown["invalid"]) == (1, 0, 2)
    assert _dead_letter_reasons(f"{out}/dead_letter") == _REASONS
    assert spark.read.parquet(f"{out}/raw_events").count() == 96
    batch = str(tmp_path / "b")
    assert main(["pipeline", "--input", events_file, "--output", batch]) == 0
    cols = spark.read.parquet(f"{batch}/hourly_metrics").columns
    assert _hours(spark, out, cols) == _hours(spark, batch)

    with pytest.raises(ValueError, match=re.escape(f"{out}/_replay holds segments of 20 lines")):
        main(cmd[:-1] + ["30"])
    with open(events_file) as f:
        head = f.readlines()[:100]
    with open(events_file, "w") as f:
        f.writelines(head)
    with pytest.raises(ValueError, match="the input shrank"):
        main(cmd)


def _tree(root):
    """Every file under ``root`` with its bytes."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            with open(os.path.join(d, n), "rb") as f:
                out[os.path.relpath(os.path.join(d, n), root)] = f.read()
    return out


def test_output_of_the_pre_staging_cli_is_refused(events_file, tmp_path):
    """An output whose checkpoint was written by the CLI that streamed the
    input through a Python source (line offsets, no ``_replay/`` segments)
    is refused with a ``ValueError`` naming the output, before anything is
    staged or written; its files stay as they were. A genuine killed drain
    (checkpoint and staged segments) still resumes: test_cli_kill_and_resume."""
    out = tmp_path / "old"
    ckpt = out / "_checkpoint"
    for sub in ("offsets", "commits"):
        (ckpt / sub).mkdir(parents=True)
    (ckpt / "metadata").write_text('{"id":"b7dfe3c1-4002-4bb8-947c-21a99c6c22af"}')
    (ckpt / "offsets" / "0").write_text(
        'v1\n{"batchWatermarkMs":0,"batchTimestampMs":1792287625280,"conf":{}}\n{"line": 20}')
    (ckpt / "commits" / "0").write_text('v1\n{"nextBatchWatermarkMs":0}')
    (out / "dead_letter" / "_batch_id=0").mkdir(parents=True)
    (out / "dead_letter" / "_batch_id=0" / "part-00000.json").write_text(
        '{"raw":"{broken json","reason":"Malformed JSON"}\n')
    before = _tree(out)

    with pytest.raises(ValueError, match=rf"{re.escape(str(out))} holds a streaming checkpoint"):
        main(["pipeline", "--input", events_file, "--output", str(out),
              "--streaming", "--lines-per-batch", "20"])
    assert _tree(out) == before
    assert not (out / "_replay").exists()


def test_batch_into_a_streaming_output_is_refused(spark, events_file, tmp_path, capsys):
    """A batch run into an output written by ``--streaming`` would write a
    plain hourly store over the ``hour_key=`` one and overwrite the
    stream's micro-batch 0; it is refused before anything is written."""
    out = str(tmp_path / "s")
    assert main(["pipeline", "--input", events_file, "--output", out,
                 "--streaming", "--lines-per-batch", "60"]) == 0
    before = _tree(out)
    with pytest.raises(ValueError, match=rf"{re.escape(out)} was written by pipeline --streaming"):
        main(["pipeline", "--input", events_file, "--output", out])
    assert _tree(out) == before


def test_streaming_into_a_batch_output_is_refused(spark, events_file, tmp_path, capsys):
    """A streaming run into an output written without ``--streaming`` is
    refused before it stages segments or writes a checkpoint."""
    out = str(tmp_path / "b")
    assert main(["pipeline", "--input", events_file, "--output", out]) == 0
    before = _tree(out)
    with pytest.raises(ValueError, match=rf"{re.escape(out)} was written by pipeline without --streaming"):
        main(["pipeline", "--input", events_file, "--output", out,
              "--streaming", "--lines-per-batch", "60"])
    assert _tree(out) == before


def _shim(bin_dir, name, log):
    """``name`` first on PATH: logs its argv when a JVM started it, then
    runs the real binary."""
    real = shutil.which(name)
    path = bin_dir / name
    path.write_text(
        "#!/bin/sh\n"
        f'if [ "$(cat /proc/$PPID/comm 2>/dev/null)" = java ]; then echo "{name} $*" >> {log}; fi\n'
        f'exec {real} "$@"\n'
    )
    path.chmod(0o755)


def _stores(spark, out):
    def rows(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    return (
        rows(f"{out}/raw_events"),
        rows(f"{out}/hourly_metrics"),
        _dead_letter_reasons(f"{out}/dead_letter"),
    )


@pytest.mark.skipif(not os.path.exists("/proc/self/comm"), reason="needs /proc")
def test_streaming_drain_forks_no_chmod_or_readlink(spark, mixed_file, tmp_path, capsys):
    """A ``pipeline --streaming`` drain in its own JVM, with ``chmod`` and
    ``readlink`` shims first on PATH, starts neither of them from the JVM
    (Hadoop's local filesystem without libhadoop runs ``chmod`` for every
    file and directory it creates, and the FileContext checkpoint manager
    ``readlink`` for every rename), and its stores equal a drain's in this
    session."""
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    log = tmp_path / "forks.log"
    for name in ("chmod", "readlink"):
        _shim(bin_dir, name, log)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}",
        PYTHONPATH=os.pathsep.join(p for p in (repo, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS="2",
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_SCRATCH=str(tmp_path),
    )
    cmd = ["pipeline", "--input", mixed_file, "--streaming", "--lines-per-batch", "40"]
    out = str(tmp_path / "shimmed")
    run = subprocess.run(
        [sys.executable, "-m", "energy_data_stream_processing_spark", *cmd, "--output", out],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert json.loads(run.stdout.strip().splitlines()[-1])["batches"] == 4
    forks = log.read_text().splitlines() if log.exists() else []
    assert forks == [], f"{len(forks)} forks from the JVM, first: {forks[:5]}"

    here = str(tmp_path / "here")
    assert main([*cmd, "--output", here]) == 0
    assert _stores(spark, out) == _stores(spark, here)

"""End-to-end CLI tests: the producer+consumer pipeline as subcommands,
batch and paced-streaming forms producing identical hourly metrics."""

from __future__ import annotations

import json
import os
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
    """The replay source is scanned once per micro-batch: the rows the
    queries report read equal the file's lines, while the summary and the
    dead letter stay what validation makes of the file."""
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
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1]) == {
        "mode": "streaming", "valid": 96, "invalid": 28, "batches": 4, "output": out,
    }
    assert _dead_letter_reasons(f"{out}/dead_letter") == _REASONS


def test_fold_rerun_of_a_batch_is_idempotent(spark, mixed_file, tmp_path):
    """A micro-batch re-run under the same batch id (a crash between its
    writes and its offset commit) rewrites its own dead-letter, raw and
    hour rows instead of adding to them."""
    from energy_data_stream_processing_spark.sources.replay_source import (
        JsonlReplayDataSource,
    )

    spark.dataSource.register(JsonlReplayDataSource)
    batch = spark.read.format("jsonl_replay").option("path", mixed_file).load()
    out = str(tmp_path / "out")
    assert fold(out, batch, 7) == {"valid": 96, "invalid": 28}
    hours = sorted(map(tuple, spark.read.parquet(f"{out}/hourly_metrics").collect()))
    assert fold(out, batch, 7) == {"valid": 96, "invalid": 28}
    assert _dead_letter_reasons(f"{out}/dead_letter") == _REASONS
    assert spark.read.parquet(f"{out}/raw_events").count() == 96
    assert sorted(map(tuple, spark.read.parquet(f"{out}/hourly_metrics").collect())) == hours

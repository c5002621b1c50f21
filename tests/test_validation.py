"""Reference unit-test behaviors re-expressed against the Spark transforms.

Mirrors tests/test_producer.py (6 behaviors) + tests/test_consumer.py
(6 behaviors) from the reference — JSONL round-trip, malformed-line
diversion, envelope checks, semantic checks, numeric rejection, and
single/multi-event aggregation — plus the order-independence property the
reference's producer --shuffle flag exists to demonstrate.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from energy_data_stream_processing_spark.operators.hourly import hourly_business_metrics
from energy_data_stream_processing_spark.operators.validation import split_events


def _write_jsonl(tmp_path, lines, name="events.jsonl"):
    p = tmp_path / name
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def _event(
    etype="user_login",
    time="2025-06-04T12:00:00Z",
    customer="CUST0001",
    session="101",
    channel="web_portal",
    **payload_extra,
):
    payload = {"customer_id": customer, "session_id": session, "channel": channel}
    payload.update(payload_extra)
    return json.dumps({"event_type": etype, "event_time": time, "payload": payload})


def test_jsonl_roundtrip_and_malformed_diversion(spark, tmp_path):
    # test_producer.py:7-33 — valid lines load; malformed JSON diverted.
    path = _write_jsonl(
        tmp_path,
        [_event(), _event(etype="user_logout"), "not a json line at all"],
    )
    valid, invalid = split_events(spark.read.text(path))
    assert valid.count() == 2
    bad = invalid.collect()
    assert len(bad) == 1 and bad[0]["reason"] == "Malformed JSON"


def test_envelope_missing_keys(spark, tmp_path):
    # test_producer.py:35-41 — {"event_type": "login"} lacks event_time/payload.
    path = _write_jsonl(tmp_path, [json.dumps({"event_type": "login"})])
    valid, invalid = split_events(spark.read.text(path))
    assert valid.count() == 0
    assert invalid.collect()[0]["reason"] == "Missing required keys: ['event_time', 'payload']"


def test_envelope_blank_event_type_and_empty_payload(spark, tmp_path):
    # test_producer.py:43-51.
    blank_type = json.dumps(
        {"event_type": "   ", "event_time": "2025-06-04T12:00:00Z", "payload": {"customer_id": "C1"}}
    )
    empty_payload = json.dumps(
        {"event_type": "user_login", "event_time": "2025-06-04T12:00:00Z", "payload": {}}
    )
    path = _write_jsonl(tmp_path, [blank_type, empty_payload])
    valid, invalid = split_events(spark.read.text(path))
    assert valid.count() == 0
    assert {r["reason"] for r in invalid.collect()} == {"event_type or payload is empty"}


def test_envelope_frames_strip_event_type_as_python_does(spark):
    """``tag_lines`` blanks the same ``event_type`` strings as
    ``str.strip``: tabs, ideographic spaces and the ASCII separators, not
    only spaces."""
    from energy_data_stream_processing_spark.operators.validation import tag_lines

    types = [" ", "\t", "\u3000", "\x1f", "user_login"]
    payload = {"customer_id": "C1", "session_id": "1", "channel": "web"}
    lines = [
        json.dumps({"event_type": t, "event_time": "2025-06-04T12:00:00Z", "payload": payload})
        for t in types
    ]
    tagged = tag_lines(spark.createDataFrame([(x,) for x in lines], "value string"))
    reasons = [r["reason"] for r in tagged.collect()]
    assert reasons == ["event_type or payload is empty"] * 4 + [None]


def test_semantic_validation(spark, tmp_path):
    # test_consumer.py:33-47 — valid passes; bad time / missing per-type field fail.
    ok = _event()
    bad_time = _event(time="invalid-date")
    missing_tariff = _event(etype="tariff_switch")  # needs tariff_type
    unknown_type = _event(etype="mystery_event")  # unknown type => passes
    path = _write_jsonl(tmp_path, [ok, bad_time, missing_tariff, unknown_type])
    valid, invalid = split_events(spark.read.text(path))
    assert valid.count() == 2
    reasons = sorted(r["reason"] for r in invalid.collect())
    assert reasons == ["Invalid event_time format", "Missing payload fields: tariff_switch"]


def test_negative_and_uncastable_numerics_null_out(spark, tmp_path):
    # test_consumer.py:49-52 — negative "-5.5" rejected; value stored NULL,
    # event itself stays valid (consumer.py:64-74 stores NULL in raw table).
    path = _write_jsonl(
        tmp_path,
        [
            _event(etype="bill_payment", payment_amount="-5.5"),
            _event(etype="bill_payment", payment_amount="20.5"),
            _event(etype="energy_consumed", energy_consumed="oops"),
        ],
    )
    valid, invalid = split_events(spark.read.text(path))
    assert invalid.count() == 0
    rows = {(r["event_type"], str(r["payment_amount"]), str(r["energy_consumed"])) for r in valid.collect()}
    assert ("bill_payment", "None", "None") in rows  # negative nulled
    assert ("bill_payment", "20.50", "None") in rows  # numeric string accepted
    assert ("energy_consumed", "None", "None") in rows  # uncastable nulled


def test_single_event_aggregation(spark, tmp_path):
    # test_consumer.py:54-63 — one green tariff_switch with payment 20.5.
    path = _write_jsonl(
        tmp_path,
        [_event(etype="tariff_switch", tariff_type="green", payment_amount="20.5")],
    )
    valid, _ = split_events(spark.read.text(path))
    row = hourly_business_metrics(valid).collect()[0]
    assert row["tariff_switches"] == 1
    assert row["green_tariff_switches"] == 1
    assert row["total_switch_revenue"] == 20.5
    assert row["avg_switch_value"] == 20.5
    assert row["active_customers"] == 1
    assert str(row["hour"]) == "2025-06-04 12:00:00"


def test_multi_event_distinct_sessions(spark, tmp_path):
    # test_consumer.py:65-91 — same customer, two logins, distinct sessions.
    path = _write_jsonl(
        tmp_path,
        [
            _event(session="101"),
            _event(session="102"),
            _event(session="101"),  # duplicate session
        ],
    )
    valid, _ = split_events(spark.read.text(path))
    row = hourly_business_metrics(valid).collect()[0]
    assert row["total_logins"] == 3
    assert row["new_sessions"] == 2
    assert row["active_customers"] == 1


@pytest.mark.parametrize("seed", [1, 7])
def test_order_independence(spark, tmp_path, seed):
    # producer --shuffle (producer.py:30,45-46): shuffled input, same result.
    import random

    lines = [
        _event(etype="bill_payment", customer=f"CUST{i:04d}", session=str(1000 + i),
               payment_amount=str(10 + i), time=f"2025-06-04T{i % 24:02d}:30:00Z")
        for i in range(40)
    ]
    shuffled = lines[:]
    random.Random(seed).shuffle(shuffled)
    p1 = _write_jsonl(tmp_path, lines, "a.jsonl")
    p2 = _write_jsonl(tmp_path, shuffled, "b.jsonl")
    r1 = hourly_business_metrics(split_events(spark.read.text(p1))[0])
    r2 = hourly_business_metrics(split_events(spark.read.text(p2))[0])
    rows1 = sorted(map(tuple, r1.collect()))
    rows2 = sorted(map(tuple, r2.collect()))
    assert rows1 == rows2


def test_line_verdict_tree_is_built_once_per_jvm(spark, monkeypatch):
    """Two ``tag_lines`` calls reuse one memoized tree: the first builds it
    through py4j, the second builds nothing (a tree rebuilt every
    micro-batch cost the ingest benchmark a quarter more CPU per batch)."""
    from energy_data_stream_processing_spark.functions import columns
    from energy_data_stream_processing_spark.operators import validation

    builds = []
    real = validation._build_tag_lines
    monkeypatch.setattr(validation, "_build_tag_lines", lambda: builds.append(1) or real())
    monkeypatch.delitem(columns._GATEWAY_MEMO, "tag_lines", raising=False)
    lines = spark.createDataFrame([(_event(),), ("not json",)], "value string")
    first = validation.tag_lines(lines).collect()
    assert validation.tag_lines(lines).collect() == first
    assert builds == [1]
    assert [r["reason"] for r in first] == [None, "Malformed JSON"]

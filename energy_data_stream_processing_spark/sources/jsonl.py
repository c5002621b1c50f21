"""JSONL event-envelope schema (reference: producer/producer.py:41-53).

The reference's event format is one JSON object per line with envelope
``{event_type, event_time, payload{...}}``. Every source hands the engine
its lines as text (``spark.read.text``, the text stream source, a Kafka
``value``), and ``operators.validation.tag_lines`` parses them with this
EXPLICIT schema (never inference inside the engine) in PERMISSIVE mode: a
record that does not fit lands in the ``_corrupt`` column instead of
failing the job.

String-first numerics: the reference accepts JSON numbers *and* numeric
strings for session_id / energy_consumed / payment_amount
(consumer/consumer.py:249, tests/test_consumer.py:14-17), so the envelope
types them as strings and casting happens in the validation/flatten layer.
"""

from __future__ import annotations

from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt"

PAYLOAD_SCHEMA = StructType(
    [
        StructField("customer_id", StringType(), True),
        StructField("session_id", StringType(), True),
        StructField("channel", StringType(), True),
        StructField("tariff_type", StringType(), True),
        StructField("energy_consumed", StringType(), True),
        StructField("payment_amount", StringType(), True),
    ]
)

ENVELOPE_SCHEMA = StructType(
    [
        StructField("event_type", StringType(), True),
        StructField("event_time", StringType(), True),
        StructField("payload", PAYLOAD_SCHEMA, True),
        StructField(CORRUPT_COL, StringType(), True),
    ]
)

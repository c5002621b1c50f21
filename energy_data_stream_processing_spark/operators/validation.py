"""Validation / dead-letter split / flatten (reference F1-F4).

Mirrors, as declarative column predicates, the reference's three validation
layers:

- F1 envelope (producer/producer.py:55-67): object-shaped, required keys
  {event_type, event_time, payload}, non-blank ``event_type`` after strip,
  non-empty ``payload``;
- F2 semantic (consumer/consumer.py:102-123): parseable ``event_time``
  (Z-suffix tolerated), per-type required payload fields from
  ``REQUIRED_PAYLOAD_FIELDS`` — unknown event types have no required fields
  and pass (preserved semantics);
- F3 numeric (consumer/consumer.py:64-74): negative or uncastable
  energy/payment values become NULL in the flattened table (the event itself
  stays valid), exactly as the reference stores NULL and excludes the value
  from aggregates; NULL input is "valid 0.0" in aggregation context, which a
  ``sum`` that skips NULLs reproduces.

Fixed-schema JSON cannot distinguish a key that is absent from one that is
JSON-null; both map to NULL here, so "missing key" == "null field"
(a documented, strictly-wider invalidity than the reference's key-presence
check).

The split is a single pass: one ``reason`` expression evaluated once; valid
rows flow on flattened (F4: ``payload.*`` to top level,
consumer/consumer.py:193-217), invalid rows carry their first failing reason.
Everything is built-in column algebra — no Python UDFs (SURVEY.md §2.6).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import gateway_columns
from ..sources.jsonl import CORRUPT_COL

# consumer/consumer.py:102-110 verbatim semantics.
REQUIRED_PAYLOAD_FIELDS: dict[str, set[str]] = {
    "view_tariffs": {"customer_id", "session_id", "channel", "tariff_type"},
    "user_login": {"customer_id", "session_id", "channel"},
    "user_logout": {"customer_id", "session_id", "channel"},
    "tariff_switch": {"customer_id", "session_id", "channel", "tariff_type"},
    "energy_consumed": {"customer_id", "session_id", "channel", "energy_consumed"},
    "incentive_claim": {"customer_id", "session_id", "channel", "tariff_type"},
    "bill_payment": {"customer_id", "session_id", "channel", "payment_amount"},
}

PAYLOAD_FIELDS = [
    "customer_id",
    "session_id",
    "channel",
    "tariff_type",
    "energy_consumed",
    "payment_amount",
]


def _payload_empty() -> Column:
    p = F.col("payload")
    all_null = reduce(
        lambda a, b: a & b, [p.getField(f).isNull() for f in PAYLOAD_FIELDS]
    )
    return p.isNull() | all_null


def _missing_required() -> Column:
    """First event type whose required-field set is violated -> reason text."""
    reason = F.lit(None).cast("string")
    for etype, fields in REQUIRED_PAYLOAD_FIELDS.items():
        missing = reduce(
            lambda a, b: a | b,
            [F.col("payload").getField(f).isNull() for f in sorted(fields)],
        )
        reason = F.when(
            (F.col("event_type") == etype) & missing, F.lit(f"Missing payload fields: {etype}")
        ).otherwise(reason)
    return reason


def parsed_event_time() -> Column:
    """ISO-8601 with optional Z suffix -> timestamp (consumer.py:114)."""
    normalized = F.regexp_replace(F.col("event_time"), "Z$", "+00:00")
    return F.try_to_timestamp(normalized)


def validation_reason() -> Column:
    """NULL for valid rows, else the first failing reason (reference order:
    malformed -> envelope -> event_time -> per-type payload fields).

    The tree is built once per JVM (``gateway_columns``): it takes some
    hundred py4j round trips, which a streaming micro-batch would otherwise
    pay on every trigger. It carries no alias, so sharing it across plans
    pins no exprId."""
    return gateway_columns("validation_reason", _build_validation_reason)


def _build_validation_reason() -> Column:
    blank_type = F.col("event_type").isNull() | (F.trim(F.col("event_type")) == "")
    return (
        F.when(F.col(CORRUPT_COL).isNotNull(), "Malformed JSON")
        .when(
            F.col("event_type").isNull()
            | F.col("event_time").isNull()
            | F.col("payload").isNull(),
            "Missing required keys",
        )
        .when(blank_type | _payload_empty(), "event_type or payload is empty")
        .when(parsed_event_time().isNull(), "Invalid event_time format")
        .otherwise(_missing_required())
    )


def flatten_events(df: DataFrame) -> DataFrame:
    """F4 projection + F3 numeric coercion: the engine-native raw events
    table (database/schema.sql:12-23 minus the serial id / created_at).

    The projection is built once per JVM (``gateway_columns``), like
    ``validation_reason``; its aliases pin their exprIds, which Spark
    re-keys when two flattened frames meet in one plan."""
    return df.select(*gateway_columns("flatten_events", _build_flatten_columns))


def _build_flatten_columns() -> list[Column]:
    nonneg = lambda c: F.when(c >= 0, c)  # noqa: E731
    return [
        F.col("payload").getField("customer_id").alias("customer_id"),
        F.col("event_type"),
        parsed_event_time().alias("event_time"),
        nonneg(F.col("payload").getField("energy_consumed").try_cast("decimal(10,3)")).alias(
            "energy_consumed"
        ),
        nonneg(F.col("payload").getField("payment_amount").try_cast("decimal(10,2)")).alias(
            "payment_amount"
        ),
        F.col("payload").getField("session_id").try_cast("int").alias("session_id"),
        F.col("payload").getField("tariff_type").alias("tariff_type"),
        F.col("payload").getField("channel").alias("channel"),
    ]


def split_events(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid flattened events, dead-letter rows with ``reason``).

    The dead-letter side keeps the raw envelope + reason — the engine-native
    quarantine (reference: producer.py:35-39, consumer.py:76-79, 125-128).
    """
    with_reason = df.withColumn("reason", validation_reason())
    valid = flatten_events(with_reason.where(F.col("reason").isNull()))
    invalid = with_reason.where(F.col("reason").isNotNull())
    return valid, invalid

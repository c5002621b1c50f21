"""Validation / dead-letter split / flatten (reference F1-F4).

``tag_lines`` is the one way source lines become envelopes and reasons
(batch and streaming ``pipeline``, the Kafka parse). As declarative column
predicates it mirrors the reference's validation layers:

- F1 envelope (producer/producer.py:55-67) on the raw line, in the
  producer's order and words (missing keys listed sorted, so the text is
  deterministic); ``0``, ``false``, ``null``, ``""``, ``[]``, ``{}`` and a
  blank-after-strip string ``event_type`` are empty, as in Python;
- F2 semantic (consumer/consumer.py:102-123): parseable ``event_time``
  (Z-suffix tolerated), per-type required payload fields from
  ``REQUIRED_PAYLOAD_FIELDS`` — unknown event types have no required fields
  and pass (preserved semantics);
- F3 numeric (consumer/consumer.py:64-74): negative or uncastable
  energy/payment values become NULL in the flattened table (the event itself
  stays valid), exactly as the reference stores NULL and excludes the value
  from aggregates; NULL input is "valid 0.0" in aggregation context, which a
  ``sum`` that skips NULLs reproduces.

Spark's JSON parsers are not ``json.loads``: text after the closing brace
is accepted (the producer: ``Malformed JSON``), and a bare ``NaN`` line
(the producer: ``Event is not a dictionary``) or a duplicate key outside a
clean known-type parse (the producer: last key wins) is ``Malformed JSON``.

Valid rows flow on flattened (F4: ``payload.*`` to top level,
consumer/consumer.py:193-217), invalid rows carry their first failing reason.
Everything is built-in column algebra — no Python UDFs (SURVEY.md §2.6).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.columns import gateway_columns
from ..sources.jsonl import CORRUPT_COL, ENVELOPE_SCHEMA

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


_ENVELOPE_KEYS = ("event_time", "event_type", "payload")  # sorted, as F1 lists them
_BLANK = r"(?U)^[\s\x1c-\x1f]*$"  # what Python's str.strip() strips


def _content_reason() -> Column:
    """The branches after F1: blank type or empty payload, then F2."""
    blank_type = F.col("event_type").isNull() | F.col("event_type").rlike(_BLANK)
    return (
        F.when(blank_type | _payload_empty(), "event_type or payload is empty")
        .when(parsed_event_time().isNull(), "Invalid event_time format")
        .otherwise(_missing_required())
    )


def tag_lines(lines: DataFrame) -> DataFrame:
    """Source lines (string column ``value``, as ``spark.read.text``, the
    text stream source and a cast Kafka ``value`` give them) -> ``event_type,
    event_time, payload, reason, raw``: ``reason`` NULL for a valid event,
    ``raw`` the line on rows with a reason. The trees are built once per
    JVM (``gateway_columns``) and carry no alias."""
    envelope, event, reason, raw = gateway_columns("tag_lines", _build_tag_lines)
    return (
        lines.select(envelope.alias("envelope"), "value")
        .select("envelope.*", "value")
        .withColumn("event", event)
        .withColumn("reason", reason)
        .select("event_type", "event_time", "payload", "reason", raw.alias("raw"))
    )


def _build_tag_lines() -> tuple[Column, Column, Column, Column]:
    envelope = F.from_json(
        "value", ENVELOPE_SCHEMA, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": CORRUPT_COL}
    )
    # one from_json decides a clean parse of a known type (its event_type
    # was a JSON string, every key present); only other lines pay for F1.
    # Every term is two-valued (a NULL ``decided`` would skip F1)
    decided = (
        F.col(CORRUPT_COL).isNull()
        & F.col("event_type").isNotNull()
        & F.col("event_type").isin(*REQUIRED_PAYLOAD_FIELDS)
        & F.col("event_time").isNotNull()
        & F.col("payload").isNotNull()
    )
    event = F.when(~decided, F.try_parse_json("value"))
    reason = F.coalesce(F.when(~decided, _producer_reason(F.col("event"))), _content_reason())
    return envelope, event, reason, F.when(F.col("reason").isNotNull(), F.col("value"))


def _producer_reason(event: Column) -> Column:
    """producer.py::validate_event's reason for the line parsed as a
    variant (NULL: unparseable), or NULL when F1 passes."""
    field = {k: F.variant_get(event, f"$.{k}", "variant") for k in _ENVELOPE_KEYS}
    absent = [F.when(v.isNull(), F.lit(f"'{k}'")) for k, v in field.items()]
    return (
        F.when(event.isNull(), "Malformed JSON")
        .when(~F.schema_of_variant(event).startswith("OBJECT"), "Event is not a dictionary")
        .when(
            reduce(lambda a, b: a | b, [c.isNotNull() for c in absent]),
            F.concat(F.lit("Missing required keys: ["), F.concat_ws(", ", *absent), F.lit("]")),
        )
        .when(
            _falsy(field["event_type"], _BLANK) | _falsy(field["payload"], "^$"),
            "event_type or payload is empty",
        )
    )


def _falsy(value: Column, blank: str) -> Column:
    """Python falsiness of a JSON ``value`` (variant), a string counting
    as empty when it matches ``blank``."""
    text = F.try_variant_get(value, "$", "string")
    return F.is_variant_null(value) | F.when(
        F.schema_of_variant(value) == "STRING", text.rlike(blank)
    ).otherwise(text.isin("false", "[]", "{}") | (text.try_cast("double") == 0))


def flatten_events(df: DataFrame) -> DataFrame:
    """F4 projection + F3 numeric coercion: the engine-native raw events
    table (database/schema.sql:12-23 minus the serial id / created_at).

    The projection is built once per JVM (``gateway_columns``), like
    ``tag_lines``' trees; its aliases pin their exprIds, which Spark
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


def split_events(lines: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid flattened events, dead-letter rows with ``reason`` and
    ``raw``) of a frame of source lines (``tag_lines``).

    The dead-letter side keeps the source line + reason — the engine-native
    quarantine (reference: producer.py:35-39, consumer.py:76-79, 125-128).
    """
    tagged = tag_lines(lines)
    valid = flatten_events(tagged.where(F.col("reason").isNull()))
    invalid = tagged.where(F.col("reason").isNotNull())
    return valid, invalid

"""Hourly business-metrics aggregation — the reference consumer's core.

The reference maintains ``Dict[hour, HourlyStats]`` mutated per event under a
lock and additively upserted to Postgres (consumer/consumer.py:81-99, 240-293,
296-391). Spark-first, that entire machine is ONE declarative grouped
aggregation: ``groupBy(date_trunc('hour', event_time))`` with
``when()``-filtered aggregates (SURVEY.md §2.3 A1-A12, D1-D3). Catalyst runs
it as partial (map-side) + final hash aggregation — the hand-written additive
merge of the reference's ``ON CONFLICT DO UPDATE`` for free, and *correct*
where the reference double-counts (distinct customers across flush intervals,
``peak_hour_usage`` last-write-wins instead of GREATEST — see SURVEY.md §2.3
fidelity warnings; we implement the correct semantics).

Scale notes (100 TB): a single groupBy on the hour key => one shuffle, heavily
reduced by map-side partial aggregation (the distinct aggregates expand to a
two-phase plan). Hour cardinality is tiny (8.8k/year), so the reduce side is
trivially small; skew on "busy hours" is absorbed by partial aggregation +
AQE. The two exact count-distincts are the only widening: at extreme scale
swap to ``approx_count_distinct`` (documented divergence) or pre-aggregate by
(hour, customer_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import dsum, gateway_columns, round_half_up, safe_div

# Metric columns in reference schema order (database/schema.sql:30-59).
METRIC_COLUMNS = [
    "tariff_switches",
    "total_switch_revenue",
    "avg_switch_value",
    "incentive_claims",
    "total_incentive_payouts",
    "green_tariff_switches",
    "active_customers",
    "new_sessions",
    "total_logins",
    "total_energy_consumed",
    "avg_consumption_per_customer",
    "peak_hour_usage",
    "total_payments",
    "payment_events",
    "avg_payment_amount",
]


def _build_hourly_columns(distinct=F.count_distinct) -> tuple:
    """(group_key, agg_columns, derived_columns) — constructed once per JVM
    via ``gateway_columns`` (round 16, guide §7.3): the 15-aggregate tree is
    ~60 py4j round trips ≈ 0.2-0.4 s of pure driver latency, and was paid by
    EVERY caller (the hourly entry itself, rolling_24h, business_kpis_growth,
    daily_energy_summary, the streaming twins).

    ``distinct`` builds the two exact distinct counts; the streaming twin
    passes a ``size(collect_set(..))`` form because streaming aggregation
    rejects ``count(DISTINCT ..)``."""
    t = F.col("event_type")
    pay = F.col("payment_amount")
    energy = F.col("energy_consumed")

    group_key = F.date_trunc("hour", F.col("event_time")).alias("hour")
    agg_cols = (
        F.count(F.when(t == "tariff_switch", 1)).alias("tariff_switches"),
        dsum(F.when(t == "tariff_switch", pay)).alias("total_switch_revenue"),
        F.count(F.when((t == "tariff_switch") & (F.col("tariff_type") == "green"), 1)).alias(
            "green_tariff_switches"
        ),
        F.count(F.when(t == "incentive_claim", 1)).alias("incentive_claims"),
        dsum(F.when(t == "incentive_claim", pay)).alias("total_incentive_payouts"),
        F.count(F.when(t == "user_login", 1)).alias("total_logins"),
        distinct(F.when(t == "user_login", F.col("session_id"))).alias("new_sessions"),
        distinct(F.col("customer_id")).alias("active_customers"),
        dsum(F.when(t == "energy_consumed", energy)).alias("total_energy_consumed"),
        F.coalesce(F.max(F.when(t == "energy_consumed", energy)).cast("double"), F.lit(0.0)).alias(
            "peak_hour_usage"
        ),
        dsum(F.when(t == "bill_payment", pay)).alias("total_payments"),
        # counts VALID payments only, like the reference (consumer.py:283-287
        # increments the pair under `if has_pay`) — a bill_payment with a
        # NULL/invalid amount contributes to neither sum nor count. Caught by
        # the randomized differential in tests/test_properties.py.
        F.count(F.when((t == "bill_payment") & pay.isNotNull(), 1)).alias("payment_events"),
    )
    derived = {
        "avg_switch_value": round_half_up(
            safe_div(F.col("total_switch_revenue"), F.col("tariff_switches"))
        ),
        "avg_consumption_per_customer": round_half_up(
            safe_div(F.col("total_energy_consumed"), F.col("active_customers"))
        ),
        "avg_payment_amount": round_half_up(
            safe_div(F.col("total_payments"), F.col("payment_events"))
        ),
    }
    return (group_key, agg_cols, derived)


def hourly_business_metrics(events: DataFrame) -> DataFrame:
    """events (energy schema) -> one row per event-time hour with 15 metrics.

    Implements A1-A12 + D1-D3 of SURVEY.md §2.3; column names/types follow
    database/schema.sql:30-59 (counters long, money/energy double via exact
    decimal sums, averages rounded to 2 decimals as the NUMERIC(8,2) columns
    do on write).
    """
    group_key, agg_cols, derived_cols = gateway_columns(
        "hourly_business_metrics", _build_hourly_columns
    )
    agg = events.groupBy(group_key).agg(*agg_cols)
    derived = agg.withColumns(derived_cols)
    return derived.select("hour", *METRIC_COLUMNS)


# DuckDB oracle twin over the shared `energy_events` CTE (adapter.py). The
# numeric recipe matches columns.py: exact DECIMAL sums -> double, and
# floor(x*100+0.5)/100 rounding, so values hash-compare exactly.
HOURLY_ORACLE_BODY = """
SELECT
  hour,
  tariff_switches,
  total_switch_revenue,
  floor(coalesce(total_switch_revenue / nullif(cast(tariff_switches AS DOUBLE), 0.0), 0.0) * 100.0 + 0.5) / 100.0 AS avg_switch_value,
  incentive_claims,
  total_incentive_payouts,
  green_tariff_switches,
  active_customers,
  new_sessions,
  total_logins,
  total_energy_consumed,
  floor(coalesce(total_energy_consumed / nullif(cast(active_customers AS DOUBLE), 0.0), 0.0) * 100.0 + 0.5) / 100.0 AS avg_consumption_per_customer,
  peak_hour_usage,
  total_payments,
  payment_events,
  floor(coalesce(total_payments / nullif(cast(payment_events AS DOUBLE), 0.0), 0.0) * 100.0 + 0.5) / 100.0 AS avg_payment_amount
FROM (
  SELECT
    date_trunc('hour', event_time) AS hour,
    count(CASE WHEN event_type = 'tariff_switch' THEN 1 END) AS tariff_switches,
    coalesce(cast(sum(CASE WHEN event_type = 'tariff_switch' THEN payment_amount END) AS DOUBLE), 0.0) AS total_switch_revenue,
    count(CASE WHEN event_type = 'tariff_switch' AND tariff_type = 'green' THEN 1 END) AS green_tariff_switches,
    count(CASE WHEN event_type = 'incentive_claim' THEN 1 END) AS incentive_claims,
    coalesce(cast(sum(CASE WHEN event_type = 'incentive_claim' THEN payment_amount END) AS DOUBLE), 0.0) AS total_incentive_payouts,
    count(CASE WHEN event_type = 'user_login' THEN 1 END) AS total_logins,
    count(DISTINCT CASE WHEN event_type = 'user_login' THEN session_id END) AS new_sessions,
    count(DISTINCT customer_id) AS active_customers,
    coalesce(cast(sum(CASE WHEN event_type = 'energy_consumed' THEN energy_consumed END) AS DOUBLE), 0.0) AS total_energy_consumed,
    coalesce(cast(max(CASE WHEN event_type = 'energy_consumed' THEN energy_consumed END) AS DOUBLE), 0.0) AS peak_hour_usage,
    coalesce(cast(sum(CASE WHEN event_type = 'bill_payment' THEN payment_amount END) AS DOUBLE), 0.0) AS total_payments,
    count(CASE WHEN event_type = 'bill_payment' AND payment_amount IS NOT NULL THEN 1 END) AS payment_events
  FROM energy_events
  GROUP BY 1
) h
""".strip()


def hourly_business_metrics_two_phase(events: DataFrame) -> DataFrame:
    """Result-identical to ``hourly_business_metrics``, with exact distincts
    via PRE-AGGREGATION instead of the Expand-based distinct plan — the
    100 TB strategy this module's scale notes prescribe.

    Phase 1 aggregates per (hour, customer_id): every counter/sum/max
    composes, and active_customers becomes a count of non-null customer
    groups. new_sessions gets its own (hour, session_id) pre-aggregation
    (session ids are NOT per-customer, so per-customer rollups can't count
    them). Decimal sums stay decimal through phase 1 so the final double
    conversion is bit-identical to the one-phase plan — the query shares
    its DuckDB oracle.

    Tradeoff: three small shuffles instead of one Expand(x3) shuffle; each
    pre-aggregation key is high-cardinality and skew-free, so no single
    reducer ever sees a whole busy hour.
    """
    t = F.col("event_type")
    pay = F.col("payment_amount")
    energy = F.col("energy_consumed")

    per_customer = events.groupBy(
        F.date_trunc("hour", F.col("event_time")).alias("hour"), F.col("customer_id")
    ).agg(
        F.count(F.when(t == "tariff_switch", 1)).alias("p_switches"),
        F.sum(F.when(t == "tariff_switch", pay)).alias("p_switch_rev"),
        F.count(F.when((t == "tariff_switch") & (F.col("tariff_type") == "green"), 1)).alias(
            "p_green"
        ),
        F.count(F.when(t == "incentive_claim", 1)).alias("p_claims"),
        F.sum(F.when(t == "incentive_claim", pay)).alias("p_claim_pay"),
        F.count(F.when(t == "user_login", 1)).alias("p_logins"),
        F.sum(F.when(t == "energy_consumed", energy)).alias("p_energy"),
        F.max(F.when(t == "energy_consumed", energy)).alias("p_peak"),
        F.sum(F.when(t == "bill_payment", pay)).alias("p_pay"),
        F.count(F.when((t == "bill_payment") & pay.isNotNull(), 1)).alias("p_pay_events"),
    )

    per_hour = per_customer.groupBy("hour").agg(
        F.sum("p_switches").alias("tariff_switches"),
        F.coalesce(F.sum("p_switch_rev").cast("double"), F.lit(0.0)).alias(
            "total_switch_revenue"
        ),
        F.sum("p_green").alias("green_tariff_switches"),
        F.sum("p_claims").alias("incentive_claims"),
        F.coalesce(F.sum("p_claim_pay").cast("double"), F.lit(0.0)).alias(
            "total_incentive_payouts"
        ),
        F.sum("p_logins").alias("total_logins"),
        F.count(F.when(F.col("customer_id").isNotNull(), 1)).alias("active_customers"),
        F.coalesce(F.sum("p_energy").cast("double"), F.lit(0.0)).alias("total_energy_consumed"),
        F.coalesce(F.max("p_peak").cast("double"), F.lit(0.0)).alias("peak_hour_usage"),
        F.coalesce(F.sum("p_pay").cast("double"), F.lit(0.0)).alias("total_payments"),
        F.sum("p_pay_events").alias("payment_events"),
    )

    sessions = (
        events.where((t == "user_login") & F.col("session_id").isNotNull())
        .groupBy(F.date_trunc("hour", F.col("event_time")).alias("hour"), F.col("session_id"))
        .agg(F.lit(1).alias("_one"))
        .groupBy("hour")
        .agg(F.count(F.lit(1)).alias("new_sessions"))
    )

    joined = per_hour.join(sessions, "hour", "left").na.fill({"new_sessions": 0})
    derived = joined.withColumns(
        {
            "avg_switch_value": round_half_up(
                safe_div(F.col("total_switch_revenue"), F.col("tariff_switches"))
            ),
            "avg_consumption_per_customer": round_half_up(
                safe_div(F.col("total_energy_consumed"), F.col("active_customers"))
            ),
            "avg_payment_amount": round_half_up(
                safe_div(F.col("total_payments"), F.col("payment_events"))
            ),
        }
    )
    return derived.select("hour", *METRIC_COLUMNS)

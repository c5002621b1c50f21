"""Energy-domain query catalog — SURVEY.md §2.4 Q1-Q24 coverage.

One entry per analytical view (database/schema.sql:64-147) and Grafana
dashboard panel (monitoring/grafana/dashboards/business-metrics.json), each as
an idiomatic DataFrame builder plus a DuckDB oracle. Grafana's
``$__timeFilter`` macros are replaced by deterministic data-relative windows
(last-N-days relative to ``max(hour)``), and Grafana display aliases
("Daily Revenue") become snake_case column names so both sides hash-compare.

Determinism rules (see functions/columns.py): sums/avgs over hourly-metric
doubles re-enter exact DECIMAL arithmetic before summing; all rounding is the
cross-engine ``floor(x*f+0.5)/f`` form.

Scale notes are attached per query where the plan shape matters at 100 TB
(global windows, cumulative sums).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.columns import dsum, gateway_columns, round_half_up, safe_div
from ..operators.hourly import (
    HOURLY_ORACLE_BODY,
    hourly_business_metrics,
    hourly_business_metrics_two_phase,
)
from ..sources.adapter import ENERGY_EVENTS_SQL, energy_events
from .catalog import register, stage_result


def _hourly(
    spark: SparkSession,
    sf_dir: str,
    t_lo=None,
    t_hi=None,
    slack: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """Hourly metrics, optionally sliced to a panel time range.

    For group-by panels the ``$__timeFilter`` predicate is on the group key,
    so a SOUND raw-column bound can prefilter events before the wide
    aggregation: ``hour(e) >= lo ⇒ e >= lo`` and ``hour(e) <= hi ⇒
    e < hi + 1 hour``. The bound pushes to the parquet scan as a ``ts``
    range (PushedFilters — asserted in tests/test_plans.py), so at 100 TB
    an 8-day panel reads ~8 days of row groups, not the corpus. The exact
    panel predicate is still applied post-build by ``_grafana_window``;
    window panels must NOT use this (full-history semantics).
    """
    # NOT rebalanced (round 16, measured): with -XX:-DontCompileHugeMethods
    # live the 15-aggregate partial runs ~5 interleaved warm reps at 0.71 s
    # median WITHOUT the layout rebalance vs 0.98 s WITH it — the wide agg
    # compiles to cheap straight-line code, so one extra events shuffle
    # costs more than the single-task partial it parallelizes (and the
    # pruned Grafana panels' round-9 shuffle gates flagged the same).
    ev = energy_events(spark, sf_dir)
    if t_lo is not None:
        ev = ev.where(F.col("event_time") >= F.lit(t_lo))
    if t_hi is not None:
        ev = ev.where(F.col("event_time") < F.lit(t_hi) + F.expr(slack))
    return hourly_business_metrics(ev)


def _oracle_ev(body: str) -> str:
    return f"WITH energy_events AS ({ENERGY_EVENTS_SQL})\n{body}"


def _oracle_hm(body: str, extra_ctes: str = "") -> str:
    return (
        f"WITH energy_events AS ({ENERGY_EVENTS_SQL}),\n"
        f"hourly_business_metrics AS ({HOURLY_ORACLE_BODY}){extra_ctes}\n{body}"
    )


def _fr(expr: str, scale: int = 2) -> str:
    """SQL text twin of functions.columns.round_half_up."""
    f = float(10**scale)
    return f"floor(({expr}) * {f} + 0.5) / {f}"


# Exact decimal re-entry for sums over hourly-metric doubles (values carry at
# most 3 decimals, so the cast is exact).
def _dsum_sql(col: str, scale: int = 3) -> str:
    return f"coalesce(cast(sum(cast({col} AS DECIMAL(28,{scale}))) AS DOUBLE), 0.0)"


def _davg_sql(col: str, scale: int = 3) -> str:
    return f"(cast(sum(cast({col} AS DECIMAL(28,{scale}))) AS DOUBLE) / cast(count({col}) AS DOUBLE))"


def _dsum(c: F.Column, scale: int = 3) -> F.Column:
    return F.coalesce(F.sum(c.cast(f"decimal(28,{scale})")).cast("double"), F.lit(0.0))


def _davg(c: F.Column, scale: int = 3) -> F.Column:
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double") / F.count(c).cast("double")


def _grafana_window(df: DataFrame, time_col: str, t_lo, t_hi) -> DataFrame:
    """``$__timeFilter`` equivalent (business-metrics.json:140,253).

    Grafana injects ``time BETWEEN lo AND hi`` into the panel query's WHERE —
    a predicate on the VIEW'S OUTPUT rows. Applied post-build so window-based
    panels (cumulative sums, LAG, percent_rank) keep their full-history
    semantics exactly as Postgres would; for plain group-by panels Catalyst
    pushes the predicate below the aggregation to the scan anyway. ``None``
    bounds keep the deterministic full-range output the oracles pin.
    """
    if t_lo is not None:
        df = df.where(F.col(time_col) >= F.lit(t_lo))
    if t_hi is not None:
        df = df.where(F.col(time_col) <= F.lit(t_hi))
    return df


# --------------------------------------------------------------------------
# Flagship: the hourly business-metrics table itself (SURVEY §2.3).
# --------------------------------------------------------------------------
@register(
    "hourly_business_metrics",
    oracle=_oracle_hm("SELECT * FROM hourly_business_metrics"),
    headline=True,
    doc="Consumer's hourly aggregator as one groupBy (consumer/consumer.py:240-293).",
)
def q_hourly_business_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hourly(spark, sf_dir)


@register(
    "hourly_business_metrics_twophase",
    oracle=_oracle_hm("SELECT * FROM hourly_business_metrics"),
    doc="Same result via pre-aggregation (hour, customer_id)/(hour, "
    "session_id) instead of Expand-based exact distincts — the skew-robust "
    "100 TB plan, sharing the one-phase oracle as a result-identity proof.",
)
def q_hourly_business_metrics_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hourly_business_metrics_two_phase(energy_events(spark, sf_dir))


# --------------------------------------------------------------------------
# schema.sql views
# --------------------------------------------------------------------------
@register(
    "rolling_24h_metrics",
    oracle=_oracle_hm(
        """
SELECT hour, tariff_switches, total_energy_consumed,
  cast(sum(cast(tariff_switches AS DECIMAL(28,0))) OVER w AS DOUBLE) / cast(count(*) OVER w AS DOUBLE) AS avg_24h_switches,
  cast(sum(cast(active_customers AS DECIMAL(28,0))) OVER w AS DOUBLE) / cast(count(*) OVER w AS DOUBLE) AS avg_24h_customers,
  cast(sum(cast(total_energy_consumed AS DECIMAL(28,3))) OVER w AS DOUBLE) / cast(count(*) OVER w AS DOUBLE) AS avg_24h_consumption
FROM hourly_business_metrics
WINDOW w AS (ORDER BY hour ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
"""
    ),
    headline=True,
    doc="Rolling 24h trailing averages (database/schema.sql:64-78, Q12).",
)
def q_rolling_24h(spark: SparkSession, sf_dir: str, t_lo=None, t_hi=None) -> DataFrame:
    hm = _hourly(spark, sf_dir)
    # Scale note: a global ORDER BY hour window is single-partition; at 100 TB
    # the hourly table is still only ~8.8k rows/year post-aggregation, so this
    # is fine — the heavy lifting happened in the partial agg upstream.
    w = Window.orderBy("hour").rowsBetween(-23, 0)
    cnt = F.count(F.lit(1)).over(w).cast("double")
    out = hm.select(
        "hour",
        "tariff_switches",
        "total_energy_consumed",
        (F.sum(F.col("tariff_switches").cast("decimal(28,0)")).over(w).cast("double") / cnt).alias(
            "avg_24h_switches"
        ),
        (F.sum(F.col("active_customers").cast("decimal(28,0)")).over(w).cast("double") / cnt).alias(
            "avg_24h_customers"
        ),
        (
            F.sum(F.col("total_energy_consumed").cast("decimal(28,3)")).over(w).cast("double") / cnt
        ).alias("avg_24h_consumption"),
    )
    # post-window: trailing averages look back across the range boundary.
    return _grafana_window(out, "hour", t_lo, t_hi)


@register(
    "daily_energy_summary",
    oracle=_oracle_hm(
        f"""
SELECT cast(hour AS DATE) AS date,
  cast(sum(tariff_switches) AS BIGINT) AS daily_switches,
  {_davg_sql("total_energy_consumed")} AS avg_consumption,
  {_davg_sql("active_customers", 0)} AS avg_customers,
  cast(sum(incentive_claims) AS BIGINT) AS daily_incentive_claims,
  {_davg_sql("green_tariff_switches", 0)} AS avg_green_adoptions,
  count(*) AS sample_size
FROM hourly_business_metrics
WHERE hour > (SELECT max(hour) FROM hourly_business_metrics) - INTERVAL 7 DAY
GROUP BY cast(hour AS DATE)
"""
    ),
    doc="Daily business summary (database/schema.sql:81-93); last-7-days window "
    "made data-relative (max(hour)) instead of CURRENT_DATE for determinism.",
)
def q_daily_energy_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same slice-pushdown rewrite as business_kpis_growth: tmax is a
    # one-column max over raw events, and the 7-day hour filter (a predicate
    # on a function of the group key) moves below the wide hourly
    # aggregation, which then runs over the one-week slice only.
    ev = energy_events(spark, sf_dir)
    tmax = ev.agg(F.date_trunc("hour", F.max("event_time")).alias("tmax"))
    sliced = ev.join(F.broadcast(tmax)).where(
        F.date_trunc("hour", F.col("event_time")) > F.col("tmax") - F.expr("INTERVAL 7 DAYS")
    )
    return (
        hourly_business_metrics(sliced.drop("tmax"))
        .groupBy(F.col("hour").cast("date").alias("date"))
        .agg(
            F.sum("tariff_switches").alias("daily_switches"),
            _davg(F.col("total_energy_consumed")).alias("avg_consumption"),
            _davg(F.col("active_customers"), 0).alias("avg_customers"),
            F.sum("incentive_claims").alias("daily_incentive_claims"),
            _davg(F.col("green_tariff_switches"), 0).alias("avg_green_adoptions"),
            F.count(F.lit(1)).alias("sample_size"),
        )
    )


CUSTOMER_VIEW_ORACLE = _oracle_ev(
    """
, switch_ranked AS (
  SELECT customer_id, tariff_type, event_time,
         row_number() OVER (PARTITION BY customer_id ORDER BY event_time DESC, event_id DESC) AS rn
  FROM energy_events WHERE event_type = 'tariff_switch'
), switch_top AS (
  SELECT customer_id,
         max(CASE WHEN rn = 1 THEN tariff_type END) AS current_active_tariff,
         max(CASE WHEN rn = 2 THEN tariff_type END) AS last_active_tariff,
         max(CASE WHEN rn = 1 THEN event_time END) AS last_tariff_switch_date_time
  FROM switch_ranked GROUP BY customer_id
), base AS (
  SELECT customer_id,
    count(*) AS total_events,
    count(DISTINCT session_id) AS total_sessions,
    min(event_time) AS first_seen,
    max(event_time) AS last_seen,
    count(CASE WHEN event_type = 'user_login' THEN 1 END) AS logins,
    count(CASE WHEN event_type = 'view_tariffs' THEN 1 END) AS tariff_views,
    count(CASE WHEN event_type = 'tariff_switch' THEN 1 END) AS tariff_switches,
    count(CASE WHEN event_type = 'bill_payment' THEN 1 END) AS bill_payments,
    count(CASE WHEN event_type = 'energy_consumed' THEN 1 END) AS energy_reports,
    count(CASE WHEN event_type = 'incentive_claim' THEN 1 END) AS incentive_claims,
    coalesce(cast(sum(payment_amount) AS DOUBLE), 0.0) AS total_amount_paid,
    coalesce(cast(sum(energy_consumed) AS DOUBLE), 0.0) AS total_energy_consumed,
    max(CASE WHEN event_type = 'bill_payment' THEN event_time END) AS last_payment_date,
    coalesce(array_to_string(list_sort(list(DISTINCT channel) FILTER (WHERE channel IS NOT NULL)), ','), '') AS channels,
    coalesce(array_to_string(list_sort(list(DISTINCT tariff_type) FILTER (WHERE event_type IN ('view_tariffs','tariff_switch') AND tariff_type IS NOT NULL)), ','), '') AS tariff_types_seen
  FROM energy_events GROUP BY customer_id
)
SELECT b.*, s.current_active_tariff, s.last_active_tariff, s.last_tariff_switch_date_time
FROM base b LEFT JOIN switch_top s USING (customer_id)
"""
)


@register(
    "customer_view",
    oracle=CUSTOMER_VIEW_ORACLE,
    headline=True,
    doc="customer_view (database/schema.sql:96-147): Q5/Q8-Q11. The correlated "
    "LIMIT 1 [OFFSET 1] subqueries are rewritten as one row_number window "
    "(Spark cannot express correlated LIMIT; semantics identical incl. NULLs "
    "when <2 switches). ARRAY_AGG DISTINCT becomes a sorted joined string for "
    "deterministic cross-engine comparison. One scan, one wide groupBy. Two "
    "oracle-identical swaps are their own entries, both on the bench ladder: "
    "customer_view_twophase, the measured winner at 10x and 100x "
    "events-per-customer density and under customer cardinality skew "
    "(round-11 A/B, SCALE.md §6), and customer_view_prefilter, the explicit "
    "second-scan swap.",
)
def q_customer_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: the single and twophase plans run their wide
    # collect_list/collect_set partials in the scan stage, which a
    # single-row-group local layout serializes onto one task; the round-17
    # interleaved A/B (5 reps, results asserted identical) measured the
    # layout-adaptive rebalance at 0.79x (single) / 0.88x (twophase), while
    # prefilter (two pruned scans, light partials) measured 1.08x and stays
    # plain. At production layouts (row groups >= cores) the rebalance
    # prices to a no-op; see adapter._maybe_parallelize_scan.
    return customer_view_from_events(energy_events(spark, sf_dir, rebalance=True))


def _switch_struct_derivations() -> dict:
    """The shared Q10/Q11 read-out of the collected ``_sw`` switch array:
    top-1/top-2 most recent tariff_switch columns."""
    n = F.size(F.col("_sw"))
    return {
        "current_active_tariff": F.when(n >= 1, F.element_at(F.col("_sw"), n).tariff_type),
        "last_active_tariff": F.when(n >= 2, F.element_at(F.col("_sw"), n - 1).tariff_type),
        "last_tariff_switch_date_time": F.when(n >= 1, F.element_at(F.col("_sw"), n).event_time),
    }


def _build_customer_view_columns() -> tuple:
    """(agg_columns, derived_columns) of the single-shuffle customer_view —
    constructed once per JVM via ``gateway_columns`` (round 16, guide §7.3:
    ~70 py4j round trips ≈ 0.3 s per call otherwise, and the ladder rungs
    rebuild this plan once per rep)."""
    t = F.col("event_type")

    # Q10/Q11: top-1 / top-2 most recent tariff_switch per customer, folded
    # into the SAME aggregation as everything else: collect each customer's
    # switch (event_time, event_id, tariff_type) structs sorted ascending
    # (event_id = deterministic tie-break, excluded from output like the
    # reference's serial id) and read the last two. Per-customer switches
    # are few, so the collected array is bounded — and the query becomes
    # ONE scan + ONE shuffle instead of two scans + window + join.
    switch_structs = F.array_sort(
        F.collect_list(
            F.when(
                t == "tariff_switch",
                F.struct(F.col("event_time"), F.col("event_id"), F.col("tariff_type")),
            )
        )
    )

    agg_cols = (
        switch_structs.alias("_sw"),
        F.count(F.lit(1)).alias("total_events"),
        F.count_distinct(F.col("session_id")).alias("total_sessions"),
        F.min("event_time").alias("first_seen"),
        F.max("event_time").alias("last_seen"),
        F.count(F.when(t == "user_login", 1)).alias("logins"),
        F.count(F.when(t == "view_tariffs", 1)).alias("tariff_views"),
        F.count(F.when(t == "tariff_switch", 1)).alias("tariff_switches"),
        F.count(F.when(t == "bill_payment", 1)).alias("bill_payments"),
        F.count(F.when(t == "energy_consumed", 1)).alias("energy_reports"),
        F.count(F.when(t == "incentive_claim", 1)).alias("incentive_claims"),
        dsum(F.col("payment_amount")).alias("total_amount_paid"),
        dsum(F.col("energy_consumed")).alias("total_energy_consumed"),
        F.max(F.when(t == "bill_payment", F.col("event_time"))).alias("last_payment_date"),
        F.array_join(F.array_sort(F.collect_set(F.col("channel"))), ",").alias("channels"),
        F.array_join(
            F.array_sort(
                F.collect_set(
                    F.when(t.isin("view_tariffs", "tariff_switch"), F.col("tariff_type"))
                )
            ),
            ",",
        ).alias("tariff_types_seen"),
    )
    return agg_cols, _switch_struct_derivations()


def customer_view_from_events(ev: DataFrame) -> DataFrame:
    """customer_view over an energy-events frame (bench warms the codegen
    of this wide aggregation on a synthetic frame through this entry)."""
    agg_cols, derived = gateway_columns(
        "customer_view_single", _build_customer_view_columns
    )
    base = ev.groupBy("customer_id").agg(*agg_cols)
    return base.withColumns(derived).drop("_sw")


@register(
    "customer_view_twophase",
    oracle=CUSTOMER_VIEW_ORACLE,
    doc="customer_view via (customer_id, session_id) pre-aggregation instead "
    "of the Expand-based exact session distinct — the skew-robust 100 TB "
    "plan (no reducer sees a whole hot customer's raw events; the Expand "
    "row-doubling disappears). Shares customer_view's oracle as a "
    "result-identity proof, mirroring hourly_business_metrics_twophase. "
    "Round-11 replicated A/B (N=5 interleaved reps, SCALE.md §6): it WINS "
    "at both 10x and 100x density (medians 2.21 / 13.78 s vs single "
    "2.62 / 16.47 and prefilter 2.77 / 15.99) and ties single at base "
    "density, so it is the plan to draw by name for dense data; the "
    "round-8 'array partials bend super-linearly' reading (33.9 s) never "
    "reproduced and is retired.",
)
def q_customer_view_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rebalance: see q_customer_view (0.88x measured)
    return customer_view_two_phase(energy_events(spark, sf_dir, rebalance=True))


def customer_view_two_phase(ev: DataFrame) -> DataFrame:
    """Result-identical to ``customer_view_from_events``.

    Phase 1 aggregates per (customer_id, session_id): counts/sums/min/max
    compose, sets union, and the switch structs concatenate; decimal sums
    stay decimal through phase 1 so the final double conversion is
    bit-identical. Phase 2 folds sessions per customer and counts distinct
    sessions as non-null groups. Two narrow skew-free shuffles replace one
    Expand(x2) shuffle of raw events.
    """
    phase1, phase2, derived = gateway_columns(
        "customer_view_twophase", _build_customer_view_twophase_columns
    )
    per_session = ev.groupBy("customer_id", "session_id").agg(*phase1)
    base = per_session.groupBy("customer_id").agg(*phase2)
    return base.withColumns(derived).drop("_sw")


def _build_customer_view_twophase_columns() -> tuple:
    """(phase1, phase2, derived) Column tuples of the two-phase
    customer_view — once per JVM via ``gateway_columns`` (round 16, guide
    §7.3; the 100x ladder rung rebuilds this plan once per rep)."""
    t = F.col("event_type")

    phase1 = (
        F.count(F.lit(1)).alias("p_events"),
        F.min("event_time").alias("p_first"),
        F.max("event_time").alias("p_last"),
        F.count(F.when(t == "user_login", 1)).alias("p_logins"),
        F.count(F.when(t == "view_tariffs", 1)).alias("p_views"),
        F.count(F.when(t == "tariff_switch", 1)).alias("p_switches"),
        F.count(F.when(t == "bill_payment", 1)).alias("p_payments"),
        F.count(F.when(t == "energy_consumed", 1)).alias("p_energy_n"),
        F.count(F.when(t == "incentive_claim", 1)).alias("p_claims"),
        F.sum("payment_amount").alias("p_paid"),
        F.sum("energy_consumed").alias("p_energy"),
        F.max(F.when(t == "bill_payment", F.col("event_time"))).alias("p_last_pay"),
        F.collect_set("channel").alias("p_channels"),
        F.collect_set(
            F.when(t.isin("view_tariffs", "tariff_switch"), F.col("tariff_type"))
        ).alias("p_tariffs"),
        F.collect_list(
            F.when(
                t == "tariff_switch",
                F.struct(F.col("event_time"), F.col("event_id"), F.col("tariff_type")),
            )
        ).alias("p_sw"),
    )

    phase2 = (
        F.array_sort(F.flatten(F.collect_list("p_sw"))).alias("_sw"),
        F.sum("p_events").alias("total_events"),
        F.count(F.when(F.col("session_id").isNotNull(), 1)).alias("total_sessions"),
        F.min("p_first").alias("first_seen"),
        F.max("p_last").alias("last_seen"),
        F.sum("p_logins").alias("logins"),
        F.sum("p_views").alias("tariff_views"),
        F.sum("p_switches").alias("tariff_switches"),
        F.sum("p_payments").alias("bill_payments"),
        F.sum("p_energy_n").alias("energy_reports"),
        F.sum("p_claims").alias("incentive_claims"),
        F.coalesce(F.sum("p_paid").cast("double"), F.lit(0.0)).alias("total_amount_paid"),
        F.coalesce(F.sum("p_energy").cast("double"), F.lit(0.0)).alias(
            "total_energy_consumed"
        ),
        F.max("p_last_pay").alias("last_payment_date"),
        F.array_join(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("p_channels")))), ","
        ).alias("channels"),
        F.array_join(
            F.array_sort(F.array_distinct(F.flatten(F.collect_list("p_tariffs")))), ","
        ).alias("tariff_types_seen"),
    )
    return phase1, phase2, _switch_struct_derivations()


@register(
    "customer_view_prefilter",
    oracle=CUSTOMER_VIEW_ORACLE,
    doc="customer_view with the tariff-switch struct aggregation PRE-FILTERED "
    "to tariff_switch rows (a separate narrow aggregate left-joined back) "
    "instead of carrying when()-nulls through the wide collect for every "
    "event — the third 100 TB candidate plan, measured against the "
    "single-shuffle and two-phase variants on the bench ladder. Shares "
    "customer_view's oracle as a result-identity proof.",
)
def q_customer_view_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return customer_view_prefiltered(energy_events(spark, sf_dir))


def customer_view_prefiltered(ev: DataFrame) -> DataFrame:
    """Result-identical to ``customer_view_from_events``.

    The base wide aggregation drops the switch-struct branch entirely; the
    top-2 recent switches come from a SEPARATE aggregation over only the
    ``tariff_switch`` rows (a small fraction of events), left-joined back on
    customer_id. Costs: one extra (filtered, narrow) shuffle + a join of
    two customer-sized frames; saves: the wide aggregate no longer
    evaluates/carries a struct column for every event row, and the switch
    shuffle moves only switch rows. Which side wins flips with per-customer
    event density — measured on the 10x/100x bench ladders (SCALE.md)."""
    base_cols, switch_cols, derived = gateway_columns(
        "customer_view_prefilter", _build_customer_view_prefilter_columns
    )
    t = F.col("event_type")
    base = ev.groupBy("customer_id").agg(*base_cols)
    switches = ev.where(t == "tariff_switch").groupBy("customer_id").agg(*switch_cols)
    return (
        base.join(switches, "customer_id", "left")
        # _sw is NULL (size -1) for switch-less customers: every when() in
        # the shared derivations is false there, matching the base variant
        .withColumns(derived)
        .drop("_sw")
    )


def _build_customer_view_prefilter_columns() -> tuple:
    """(base, switches, derived) Column tuples of the prefiltered
    customer_view — once per JVM via ``gateway_columns`` (round 16, guide
    §7.3; the 100x ladder rung rebuilds this plan once per rep)."""
    t = F.col("event_type")

    base_cols = (
        F.count(F.lit(1)).alias("total_events"),
        F.count_distinct(F.col("session_id")).alias("total_sessions"),
        F.min("event_time").alias("first_seen"),
        F.max("event_time").alias("last_seen"),
        F.count(F.when(t == "user_login", 1)).alias("logins"),
        F.count(F.when(t == "view_tariffs", 1)).alias("tariff_views"),
        F.count(F.when(t == "tariff_switch", 1)).alias("tariff_switches"),
        F.count(F.when(t == "bill_payment", 1)).alias("bill_payments"),
        F.count(F.when(t == "energy_consumed", 1)).alias("energy_reports"),
        F.count(F.when(t == "incentive_claim", 1)).alias("incentive_claims"),
        dsum(F.col("payment_amount")).alias("total_amount_paid"),
        dsum(F.col("energy_consumed")).alias("total_energy_consumed"),
        F.max(F.when(t == "bill_payment", F.col("event_time"))).alias("last_payment_date"),
        F.array_join(F.array_sort(F.collect_set(F.col("channel"))), ",").alias("channels"),
        F.array_join(
            F.array_sort(
                F.collect_set(
                    F.when(t.isin("view_tariffs", "tariff_switch"), F.col("tariff_type"))
                )
            ),
            ",",
        ).alias("tariff_types_seen"),
    )
    switch_cols = (
        F.array_sort(
            F.collect_list(
                F.struct(F.col("event_time"), F.col("event_id"), F.col("tariff_type"))
            )
        ).alias("_sw"),
    )
    return base_cols, switch_cols, _switch_struct_derivations()


# --------------------------------------------------------------------------
# Dashboard panels (business-metrics.json)
# --------------------------------------------------------------------------
@register(
    "revenue_overview",
    oracle=_oracle_hm(
        f"""
SELECT cast(date_trunc('day', hour) AS TIMESTAMP) AS time, {_dsum_sql("total_payments", 2)} AS daily_revenue
FROM hourly_business_metrics GROUP BY date_trunc('day', hour)
"""
    ),
    doc="Daily revenue panel (Q3/Q4).",
)
def q_revenue_overview(spark: SparkSession, sf_dir: str, t_lo=None, t_hi=None) -> DataFrame:
    # day-grained panel: day(hour(e)) <= hi ⇒ e < hi + 1 day
    hm = _hourly(spark, sf_dir, t_lo, t_hi, slack="INTERVAL 1 DAY")
    out = hm.groupBy(F.date_trunc("day", F.col("hour")).alias("time")).agg(
        _dsum(F.col("total_payments"), 2).alias("daily_revenue")
    )
    return _grafana_window(out, "time", t_lo, t_hi)


@register(
    "business_kpis_growth",
    oracle=_oracle_hm(
        f"""
, bounds AS (SELECT max(hour) AS tmax FROM hourly_business_metrics),
current_metrics AS (
  SELECT cast(sum(tariff_switches) AS BIGINT) AS total_switches,
         {_dsum_sql("total_energy_consumed")} AS total_consumption,
         {_davg_sql("active_customers", 0)} AS avg_customers,
         {_dsum_sql("total_payments", 2)} AS total_revenue,
         cast(sum(incentive_claims) AS BIGINT) AS total_incentives,
         {_davg_sql("avg_payment_amount", 2)} AS avg_payment
  FROM hourly_business_metrics, bounds
  WHERE hour > tmax - INTERVAL 7 DAY
),
previous_metrics AS (
  SELECT sum(tariff_switches) AS prev_switches,
         {_dsum_sql("total_energy_consumed")} AS prev_consumption,
         {_dsum_sql("total_payments", 2)} AS prev_revenue
  FROM hourly_business_metrics, bounds
  WHERE hour > tmax - INTERVAL 14 DAY AND hour <= tmax - INTERVAL 7 DAY
)
SELECT
  cm.total_switches,
  {_fr("cm.total_consumption")} AS total_consumption,
  floor(cm.avg_customers + 0.5) AS avg_customers,
  {_fr("cm.total_revenue")} AS total_revenue,
  cm.total_incentives,
  {_fr("cm.avg_payment")} AS avg_payment,
  CASE WHEN pm.prev_switches > 0
       THEN {_fr("(cast(cm.total_switches AS DOUBLE) - cast(pm.prev_switches AS DOUBLE)) / cast(pm.prev_switches AS DOUBLE) * 100.0", 1)}
       ELSE 0.0 END AS switch_growth_pct,
  CASE WHEN pm.prev_revenue > 0
       THEN {_fr("(cm.total_revenue - pm.prev_revenue) / pm.prev_revenue * 100.0", 1)}
       ELSE 0.0 END AS revenue_growth_pct
FROM current_metrics cm, previous_metrics pm
"""
    ),
    headline=True,
    doc="Business KPIs panel (Q17/Q18): period-over-period growth; current = "
    "last 7 days up to max(hour), previous = the 7 days before.",
)
def q_business_kpis_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One conditional-aggregation pass over the 14-day slice replaces the
    # separate current/previous aggregates (Q18's "one pass with
    # when(hour ∈ cur/prev) pivot" option from SURVEY §2.4). Two further
    # rewrites exploit hour == date_trunc('hour', event_time):
    #   - max(hour) over the aggregate == date_trunc('hour', max(event_time))
    #     over raw events, so tmax needs a one-column max scan, not the wide
    #     aggregation with its two count-distinct expands;
    #   - the 14-day hour filter commutes with the groupBy (a predicate on a
    #     pure function of the group key), so it filters EVENTS before the
    #     wide aggregation — at 100 TB the expensive distinct-expand agg runs
    #     over a two-week slice instead of the full history, and the tmax max
    #     itself partition-prunes to the newest event_date partitions.
    ev = energy_events(spark, sf_dir)
    tmax = ev.agg(F.date_trunc("hour", F.max("event_time")).alias("tmax"))
    sliced = ev.join(F.broadcast(tmax)).where(
        F.date_trunc("hour", F.col("event_time")) > F.col("tmax") - F.expr("INTERVAL 14 DAYS")
    )
    hm = hourly_business_metrics(sliced.drop("tmax")).join(F.broadcast(tmax))
    in_cur = F.col("hour") > F.col("tmax") - F.expr("INTERVAL 7 DAYS")
    cw = lambda c: F.when(in_cur, c)  # noqa: E731
    pw = lambda c: F.when(~in_cur, c)  # noqa: E731
    joined = (
        hm.agg(
            F.sum(cw(F.col("tariff_switches"))).alias("total_switches"),
            _dsum(cw(F.col("total_energy_consumed"))).alias("total_consumption"),
            _davg(cw(F.col("active_customers")), 0).alias("avg_customers"),
            _dsum(cw(F.col("total_payments")), 2).alias("total_revenue"),
            F.sum(cw(F.col("incentive_claims"))).alias("total_incentives"),
            _davg(cw(F.col("avg_payment_amount")), 2).alias("avg_payment"),
            F.sum(pw(F.col("tariff_switches"))).alias("prev_switches"),
            _dsum(pw(F.col("total_energy_consumed"))).alias("prev_consumption"),
            _dsum(pw(F.col("total_payments")), 2).alias("prev_revenue"),
        )
    )
    growth = lambda c, p: F.when(  # noqa: E731
        F.col(p) > 0,
        round_half_up((F.col(c).cast("double") - F.col(p).cast("double")) / F.col(p).cast("double") * 100.0, 1),
    ).otherwise(F.lit(0.0))
    return joined.select(
        F.col("total_switches"),
        round_half_up(F.col("total_consumption")).alias("total_consumption"),
        F.floor(F.col("avg_customers") + F.lit(0.5)).cast("double").alias("avg_customers"),
        round_half_up(F.col("total_revenue")).alias("total_revenue"),
        F.col("total_incentives"),
        round_half_up(F.col("avg_payment")).alias("avg_payment"),
        growth("total_switches", "prev_switches").alias("switch_growth_pct"),
        growth("total_revenue", "prev_revenue").alias("revenue_growth_pct"),
    )


@register(
    "engagement_funnel",
    oracle=_oracle_ev(
        f"""
, funnel_data AS (
  SELECT
    count(DISTINCT CASE WHEN event_type IN ('user_login','view_tariffs','tariff_switch','energy_consumed','incentive_claim','bill_payment') THEN customer_id END) AS active_users,
    count(DISTINCT CASE WHEN event_type = 'view_tariffs' THEN customer_id END) AS tariff_viewers,
    count(DISTINCT CASE WHEN event_type = 'tariff_switch' THEN customer_id END) AS converters,
    count(DISTINCT CASE WHEN event_type = 'bill_payment' THEN customer_id END) AS payers
  FROM energy_events
)
SELECT active_users, tariff_viewers, converters, payers,
  {_fr("cast(tariff_viewers AS DOUBLE) / nullif(cast(active_users AS DOUBLE), 0.0) * 100.0", 1)} AS view_rate_pct,
  {_fr("cast(converters AS DOUBLE) / nullif(cast(tariff_viewers AS DOUBLE), 0.0) * 100.0", 1)} AS conversion_rate_pct,
  {_fr("cast(payers AS DOUBLE) / nullif(cast(converters AS DOUBLE), 0.0) * 100.0", 1)} AS payment_rate_pct
FROM funnel_data
"""
    ),
    doc="Engagement funnel panel (Q6): conditional distinct counts + rates. "
    "NULL (not 0) when a funnel stage is empty, as the reference's NULLIF does.",
)
def q_engagement_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    t = F.col("event_type")
    c = F.col("customer_id")
    funnel = ev.agg(
        F.count_distinct(
            F.when(
                t.isin(
                    "user_login",
                    "view_tariffs",
                    "tariff_switch",
                    "energy_consumed",
                    "incentive_claim",
                    "bill_payment",
                ),
                c,
            )
        ).alias("active_users"),
        F.count_distinct(F.when(t == "view_tariffs", c)).alias("tariff_viewers"),
        F.count_distinct(F.when(t == "tariff_switch", c)).alias("converters"),
        F.count_distinct(F.when(t == "bill_payment", c)).alias("payers"),
    )
    rate = lambda num, den: round_half_up(  # noqa: E731
        F.col(num).cast("double") / F.nullif(F.col(den).cast("double"), F.lit(0.0)) * 100.0, 1
    )
    return funnel.select(
        "active_users",
        "tariff_viewers",
        "converters",
        "payers",
        rate("tariff_viewers", "active_users").alias("view_rate_pct"),
        rate("converters", "tariff_viewers").alias("conversion_rate_pct"),
        rate("payers", "converters").alias("payment_rate_pct"),
    )


@register(
    "channel_performance",
    oracle=_oracle_ev(
        """
SELECT channel,
  count(CASE WHEN event_type = 'tariff_switch' AND tariff_type = 'green' THEN 1 END) AS green_tariff_switches,
  count(DISTINCT customer_id) AS total_customers,
  coalesce(cast(sum(payment_amount) AS DOUBLE), 0.0) AS total_revenue
FROM energy_events GROUP BY channel
"""
    ),
    doc="Channel performance panel (Q7): FILTER-clause aggregates as when()-filtered aggs.",
)
def q_channel_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    return ev.groupBy("channel").agg(
        F.count(
            F.when((F.col("event_type") == "tariff_switch") & (F.col("tariff_type") == "green"), 1)
        ).alias("green_tariff_switches"),
        F.count_distinct(F.col("customer_id")).alias("total_customers"),
        dsum(F.col("payment_amount")).alias("total_revenue"),
    )


@register(
    "customer_activity_funnel",
    oracle=_oracle_ev(
        f"""
, logged_in_customers AS (
  SELECT DISTINCT customer_id FROM energy_events WHERE event_type = 'user_login'
), funnel_data AS (
  SELECT
    count(DISTINCT CASE WHEN event_type = 'user_login' THEN e.customer_id END) AS active_users,
    count(DISTINCT CASE WHEN event_type = 'view_tariffs' THEN e.customer_id END) AS viewed_tariff,
    count(DISTINCT CASE WHEN event_type = 'tariff_switch' THEN e.customer_id END) AS switched_tariff
  FROM energy_events e INNER JOIN logged_in_customers lic ON e.customer_id = lic.customer_id
)
SELECT 'Active Users' AS stage, active_users AS count, 100.0 AS conversion_rate, 1 AS stage_order FROM funnel_data
UNION ALL
SELECT 'Viewed Tariff', viewed_tariff, {_fr("cast(viewed_tariff AS DOUBLE) / nullif(cast(active_users AS DOUBLE), 0.0) * 100.0")}, 2 FROM funnel_data
UNION ALL
SELECT 'Switched Tariff', switched_tariff, {_fr("cast(switched_tariff AS DOUBLE) / nullif(cast(viewed_tariff AS DOUBLE), 0.0) * 100.0")}, 3 FROM funnel_data
"""
    ),
    doc="Customer activity panel (Q19/Q20): login-cohort semi-join + UNION ALL "
    "funnel stages. The DISTINCT-CTE inner join is a left-semi join in Spark "
    "(equal semantics, no duplicate amplification) and broadcasts the cohort.",
)
def q_customer_activity_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    t = F.col("event_type")
    cohort = ev.where(t == "user_login").select("customer_id").distinct()
    # Semi-join replaces INNER JOIN on a DISTINCT CTE: same rows, one pass.
    # No broadcast hint: the cohort is user-cardinality (scales with the
    # corpus), so the size estimate/AQE broadcasts it while it fits and
    # genuinely falls back to a shuffled semi-join when it does not — a
    # forced hint would OOM the driver at the SF where it stops fitting.
    cohort_events = ev.join(cohort, "customer_id", "left_semi")
    funnel = cohort_events.agg(
        F.count_distinct(F.when(t == "user_login", F.col("customer_id"))).alias("active_users"),
        F.count_distinct(F.when(t == "view_tariffs", F.col("customer_id"))).alias("viewed_tariff"),
        F.count_distinct(F.when(t == "tariff_switch", F.col("customer_id"))).alias(
            "switched_tariff"
        ),
    )
    rate = lambda num, den: round_half_up(  # noqa: E731
        F.col(num).cast("double") / F.nullif(F.col(den).cast("double"), F.lit(0.0)) * 100.0, 2
    )
    s1 = funnel.select(
        F.lit("Active Users").alias("stage"),
        F.col("active_users").alias("count"),
        F.lit(100.0).alias("conversion_rate"),
        F.lit(1).alias("stage_order"),
    )
    s2 = funnel.select(
        F.lit("Viewed Tariff").alias("stage"),
        F.col("viewed_tariff").alias("count"),
        rate("viewed_tariff", "active_users").alias("conversion_rate"),
        F.lit(2).alias("stage_order"),
    )
    s3 = funnel.select(
        F.lit("Switched Tariff").alias("stage"),
        F.col("switched_tariff").alias("count"),
        rate("switched_tariff", "viewed_tariff").alias("conversion_rate"),
        F.lit(3).alias("stage_order"),
    )
    return s1.unionByName(s2).unionByName(s3)


@register(
    "green_adoption",
    oracle=_oracle_hm(
        """
SELECT hour,
  cast(sum(incentive_claims) OVER (ORDER BY hour) AS BIGINT) AS cumulative_claims,
  cast(sum(green_tariff_switches) OVER (ORDER BY hour) AS BIGINT) AS cumulative_green_switches
FROM hourly_business_metrics
"""
    ),
    doc="Green adoption panel (Q14): running cumulative sums of long counters.",
)
def q_green_adoption(spark: SparkSession, sf_dir: str, t_lo=None, t_hi=None) -> DataFrame:
    hm = _hourly(spark, sf_dir)
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    out = hm.select(
        "hour",
        F.sum("incentive_claims").over(w).alias("cumulative_claims"),
        F.sum("green_tariff_switches").over(w).alias("cumulative_green_switches"),
    )
    # post-window filter: cumulative sums still span full history, as in
    # Postgres where the panel predicate can't push below the window.
    return _grafana_window(out, "hour", t_lo, t_hi)


@register(
    "demand_elasticity",
    oracle=_oracle_hm(
        """
SELECT hour AS time,
  CASE WHEN lag(total_energy_consumed) OVER (ORDER BY hour) > 0
       THEN (total_energy_consumed - lag(total_energy_consumed) OVER (ORDER BY hour)) / lag(total_energy_consumed) OVER (ORDER BY hour) * 100.0
       ELSE 0.0 END AS demand_change_pct,
  CASE WHEN lag(tariff_switches) OVER (ORDER BY hour) > 0
       THEN cast(tariff_switches - lag(tariff_switches) OVER (ORDER BY hour) AS DOUBLE) / cast(lag(tariff_switches) OVER (ORDER BY hour) AS DOUBLE) * 100.0
       ELSE 0.0 END AS price_sensitivity_pct
FROM hourly_business_metrics
"""
    ),
    doc="Demand elasticity panel (Q15): LAG percent-change guarded by CASE.",
)
def q_demand_elasticity(spark: SparkSession, sf_dir: str, t_lo=None, t_hi=None) -> DataFrame:
    hm = _hourly(spark, sf_dir)
    w = Window.orderBy("hour")
    lag_e = F.lag("total_energy_consumed").over(w)
    lag_s = F.lag("tariff_switches").over(w)
    out = hm.select(
        F.col("hour").alias("time"),
        F.when(
            lag_e > 0, (F.col("total_energy_consumed") - lag_e) / lag_e * 100.0
        )
        .otherwise(F.lit(0.0))
        .alias("demand_change_pct"),
        F.when(
            lag_s > 0,
            (F.col("tariff_switches") - lag_s).cast("double") / lag_s.cast("double") * 100.0,
        )
        .otherwise(F.lit(0.0))
        .alias("price_sensitivity_pct"),
    )
    # post-window: LAG deltas still reference the hour before the range.
    return _grafana_window(out, "time", t_lo, t_hi)


@register(
    "total_energy_trend",
    oracle=_oracle_hm("SELECT hour AS time, total_energy_consumed FROM hourly_business_metrics"),
    doc="Total energy panel (Q1): projection + sort (sort dropped — driver compare is order-insensitive).",
)
def q_total_energy_trend(spark: SparkSession, sf_dir: str, t_lo=None, t_hi=None) -> DataFrame:
    out = _hourly(spark, sf_dir, t_lo, t_hi).select(
        F.col("hour").alias("time"), "total_energy_consumed"
    )
    return _grafana_window(out, "time", t_lo, t_hi)


@register(
    "peak_load_management",
    oracle=_oracle_hm(
        "SELECT hour AS time, peak_hour_usage, avg_consumption_per_customer FROM hourly_business_metrics"
    ),
    doc="Peak load panel (Q1/Q2).",
)
def q_peak_load_management(spark: SparkSession, sf_dir: str, t_lo=None, t_hi=None) -> DataFrame:
    out = _hourly(spark, sf_dir, t_lo, t_hi).select(
        F.col("hour").alias("time"), "peak_hour_usage", "avg_consumption_per_customer"
    )
    return _grafana_window(out, "time", t_lo, t_hi)


@register(
    "pricing_insights",
    oracle=_oracle_hm(
        f"""
, pricing_analysis AS (
  SELECT hour,
    cast(extract(hour FROM hour) AS BIGINT) AS hour_of_day,
    cast(extract(dow FROM hour) AS BIGINT) AS day_of_week,
    total_energy_consumed, tariff_switches, avg_switch_value, total_switch_revenue, active_customers,
    cast(sum(cast(total_energy_consumed AS DECIMAL(28,3))) OVER wp AS DOUBLE) / cast(count(*) OVER wp AS DOUBLE) AS hourly_demand_pattern,
    cast(sum(cast(tariff_switches AS DECIMAL(28,0))) OVER wp AS DOUBLE) / cast(count(*) OVER wp AS DOUBLE) AS hourly_switch_pattern,
    percent_rank() OVER (ORDER BY total_switch_revenue, hour) AS revenue_percentile
  FROM hourly_business_metrics
  WINDOW wp AS (PARTITION BY extract(hour FROM hour) ORDER BY hour ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT hour AS time, hour_of_day, day_of_week,
  total_energy_consumed AS demand,
  {_fr("hourly_demand_pattern", 1)} AS expected_demand,
  tariff_switches AS switches,
  {_fr("hourly_switch_pattern", 1)} AS expected_switches,
  CASE
    WHEN total_energy_consumed > hourly_demand_pattern * 1.15 AND cast(tariff_switches AS DOUBLE) >= hourly_switch_pattern * 0.85 THEN 'PREMIUM PRICING'
    WHEN total_energy_consumed < hourly_demand_pattern * 0.85 AND cast(tariff_switches AS DOUBLE) > hourly_switch_pattern * 1.15 THEN 'PROMOTIONAL PRICING'
    WHEN total_energy_consumed > hourly_demand_pattern * 1.1 THEN 'MODERATE PREMIUM'
    ELSE 'STANDARD PRICING'
  END AS pricing_strategy,
  CASE WHEN revenue_percentile > 0.8 THEN 'HIGH OPPORTUNITY'
       WHEN revenue_percentile > 0.6 THEN 'MEDIUM OPPORTUNITY'
       ELSE 'LOW OPPORTUNITY' END AS market_opportunity,
  avg_switch_value AS avg_price_eur,
  {_fr("total_switch_revenue / nullif(total_energy_consumed, 0.0) * 1000.0")} AS revenue_per_mwh
FROM pricing_analysis
"""
    ),
    headline=True,
    doc="Dynamic pricing panel (Q13/Q16/Q22): hour-of-day-partitioned seasonal "
    "baseline window, PERCENT_RANK (hour added as tie-break for determinism), "
    "strategy/opportunity CASE labels. Postgres dow (0=Sun) = Spark dayofweek-1.",
)
def q_pricing_insights(spark: SparkSession, sf_dir: str, t_lo=None, t_hi=None) -> DataFrame:
    hm = _hourly(spark, sf_dir)
    wp = Window.partitionBy(F.hour("hour")).orderBy("hour").rowsBetween(-13, 0)
    cnt = F.count(F.lit(1)).over(wp).cast("double")
    pa = hm.select(
        "hour",
        F.hour("hour").cast("long").alias("hour_of_day"),
        (F.dayofweek("hour") - 1).cast("long").alias("day_of_week"),
        "total_energy_consumed",
        "tariff_switches",
        "avg_switch_value",
        "total_switch_revenue",
        "active_customers",
        (
            F.sum(F.col("total_energy_consumed").cast("decimal(28,3)")).over(wp).cast("double")
            / cnt
        ).alias("hourly_demand_pattern"),
        (F.sum(F.col("tariff_switches").cast("decimal(28,0)")).over(wp).cast("double") / cnt).alias(
            "hourly_switch_pattern"
        ),
        F.percent_rank()
        .over(Window.orderBy("total_switch_revenue", "hour"))
        .alias("revenue_percentile"),
    )
    switches_d = F.col("tariff_switches").cast("double")
    out = pa.select(
        F.col("hour").alias("time"),
        "hour_of_day",
        "day_of_week",
        F.col("total_energy_consumed").alias("demand"),
        round_half_up(F.col("hourly_demand_pattern"), 1).alias("expected_demand"),
        F.col("tariff_switches").alias("switches"),
        round_half_up(F.col("hourly_switch_pattern"), 1).alias("expected_switches"),
        F.when(
            (F.col("total_energy_consumed") > F.col("hourly_demand_pattern") * 1.15)
            & (switches_d >= F.col("hourly_switch_pattern") * 0.85),
            "PREMIUM PRICING",
        )
        .when(
            (F.col("total_energy_consumed") < F.col("hourly_demand_pattern") * 0.85)
            & (switches_d > F.col("hourly_switch_pattern") * 1.15),
            "PROMOTIONAL PRICING",
        )
        .when(F.col("total_energy_consumed") > F.col("hourly_demand_pattern") * 1.1, "MODERATE PREMIUM")
        .otherwise("STANDARD PRICING")
        .alias("pricing_strategy"),
        F.when(F.col("revenue_percentile") > 0.8, "HIGH OPPORTUNITY")
        .when(F.col("revenue_percentile") > 0.6, "MEDIUM OPPORTUNITY")
        .otherwise("LOW OPPORTUNITY")
        .alias("market_opportunity"),
        F.col("avg_switch_value").alias("avg_price_eur"),
        round_half_up(
            F.col("total_switch_revenue")
            / F.nullif(F.col("total_energy_consumed"), F.lit(0.0))
            * 1000.0
        ).alias("revenue_per_mwh"),
    )
    # post-window: baseline patterns + percentiles stay full-history.
    return _grafana_window(out, "time", t_lo, t_hi)


@register(
    "ab_test_segments",
    oracle=_oracle_hm(
        f"""
, customer_segments AS (
  SELECT hour,
    CASE WHEN green_tariff_switches > 0 THEN 'Green Adopters'
         WHEN tariff_switches > 0 THEN 'Price Switchers'
         ELSE 'Stable Customers' END AS customer_segment,
    total_energy_consumed, tariff_switches, total_switch_revenue, active_customers,
    {_fr("total_energy_consumed / nullif(cast(active_customers AS DOUBLE), 0.0)")} AS avg_consumption_per_customer,
    {_fr("total_switch_revenue / nullif(cast(active_customers AS DOUBLE), 0.0)")} AS avg_revenue_per_customer
  FROM hourly_business_metrics
)
SELECT hour AS time, customer_segment,
  total_energy_consumed AS energy_demand,
  active_customers,
  avg_consumption_per_customer,
  avg_revenue_per_customer,
  CASE WHEN active_customers > 0
       THEN {_fr("cast(tariff_switches AS DOUBLE) / cast(active_customers AS DOUBLE) * 100.0")}
       ELSE 0.0 END AS switch_conversion_rate_pct,
  CASE WHEN avg_revenue_per_customer > 50 AND avg_consumption_per_customer > 20 THEN 'High Value'
       WHEN avg_revenue_per_customer > 25 OR avg_consumption_per_customer > 15 THEN 'Medium Value'
       ELSE 'Low Value' END AS segment_value_tier
FROM customer_segments
"""
    ),
    doc="A/B testing panel (Q17/Q22): behavioral segmentation + value tiers.",
)
def q_ab_test_segments(spark: SparkSession, sf_dir: str, t_lo=None, t_hi=None) -> DataFrame:
    # row-wise panel (no windows): safe to slice the hourly input too
    hm = _hourly(spark, sf_dir, t_lo, t_hi)
    seg = hm.select(
        "hour",
        F.when(F.col("green_tariff_switches") > 0, "Green Adopters")
        .when(F.col("tariff_switches") > 0, "Price Switchers")
        .otherwise("Stable Customers")
        .alias("customer_segment"),
        "total_energy_consumed",
        "tariff_switches",
        "total_switch_revenue",
        "active_customers",
        round_half_up(
            F.col("total_energy_consumed") / F.nullif(F.col("active_customers").cast("double"), F.lit(0.0))
        ).alias("avg_consumption_per_customer"),
        round_half_up(
            F.col("total_switch_revenue") / F.nullif(F.col("active_customers").cast("double"), F.lit(0.0))
        ).alias("avg_revenue_per_customer"),
    )
    out = seg.select(
        F.col("hour").alias("time"),
        "customer_segment",
        F.col("total_energy_consumed").alias("energy_demand"),
        "active_customers",
        "avg_consumption_per_customer",
        "avg_revenue_per_customer",
        F.when(
            F.col("active_customers") > 0,
            round_half_up(
                F.col("tariff_switches").cast("double")
                / F.col("active_customers").cast("double")
                * 100.0
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("switch_conversion_rate_pct"),
        F.when(
            (F.col("avg_revenue_per_customer") > 50) & (F.col("avg_consumption_per_customer") > 20),
            "High Value",
        )
        .when(
            (F.col("avg_revenue_per_customer") > 25) | (F.col("avg_consumption_per_customer") > 15),
            "Medium Value",
        )
        .otherwise("Low Value")
        .alias("segment_value_tier"),
    )
    return _grafana_window(out, "time", t_lo, t_hi)


@register(
    "distinct_tariff_types",
    oracle=_oracle_ev(
        "SELECT DISTINCT tariff_type FROM energy_events WHERE tariff_type IS NOT NULL"
    ),
    doc="Dashboard template variable (Q21).",
)
def q_distinct_tariff_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    return ev.select("tariff_type").where(F.col("tariff_type").isNotNull()).distinct()


@register(
    "distinct_channels",
    oracle=_oracle_ev("SELECT DISTINCT channel FROM energy_events WHERE channel IS NOT NULL"),
    doc="Dashboard template variable (Q21).",
)
def q_distinct_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    return ev.select("channel").where(F.col("channel").isNotNull()).distinct()


# --------------------------------------------------------------------------
# Ingest validation / dead-letter split (F1-F2), differential-gated.
# --------------------------------------------------------------------------
@register(
    "ingest_validation_summary",
    oracle=_oracle_ev(
        """
SELECT
  CASE WHEN event_id % 101 = 0 THEN 'Malformed JSON'
       WHEN event_id % 89 = 0 THEN 'Missing required keys: [''event_type'']'
       WHEN event_id % 97 = 0 THEN 'event_type or payload is empty'
       WHEN event_id % 83 = 0 THEN 'Invalid event_time format'
       WHEN (event_id % 79 = 0 OR customer_id IS NULL) OR session_id IS NULL OR channel IS NULL
            OR (event_type IN ('view_tariffs','tariff_switch','incentive_claim') AND tariff_type IS NULL)
            OR (event_type = 'energy_consumed' AND energy_consumed IS NULL)
            OR (event_type = 'bill_payment' AND payment_amount IS NULL)
         THEN 'Missing payload fields: ' || event_type
       ELSE 'valid' END AS reason,
  count(*) AS n
FROM energy_events
GROUP BY 1
"""
    ),
    doc="F1/F2 validation + dead-letter split, differential-gated: energy "
    "events are re-written as JSON source lines with DETERMINISTIC "
    "corruption injection (residue classes of event_id: malformed JSON, "
    "absent event_type key, blank type, bad timestamp, absent required "
    "field); the engine's tag_lines classifies them and the oracle "
    "re-derives the expected reasons INDEPENDENTLY from the spec — two "
    "encodings of producer.py:55-67 + consumer.py:55-123 must agree "
    "per-reason, per-count.",
)
def q_ingest_validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validation import tag_lines

    ev = energy_events(spark, sf_dir)
    eid = F.col("event_id")
    envelope = F.struct(
        F.when(eid % 89 == 0, F.lit(None).cast("string"))
        .when(eid % 97 == 0, F.lit("   "))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.when(eid % 83 == 0, F.lit("not-a-timestamp"))
        .otherwise(F.date_format("event_time", "yyyy-MM-dd'T'HH:mm:ss"))
        .alias("event_time"),
        F.struct(
            F.when(eid % 79 == 0, F.lit(None).cast("string"))
            .otherwise(F.col("customer_id"))
            .alias("customer_id"),
            F.col("session_id").cast("string").alias("session_id"),
            F.col("channel").alias("channel"),
            F.col("tariff_type").alias("tariff_type"),
            F.col("energy_consumed").cast("string").alias("energy_consumed"),
            F.col("payment_amount").cast("string").alias("payment_amount"),
        ).alias("payload"),
    )
    # a NULL field leaves its key out of the line: the % 89 rows lack
    # ``event_type``, the % 79 rows their payload's ``customer_id``
    lines = ev.select(
        F.when(eid % 101 == 0, F.lit('{"truncated'))
        .otherwise(F.to_json(envelope, {"ignoreNullFields": "true"}))
        .alias("value")
    )
    return (
        tag_lines(lines)
        .groupBy(F.coalesce(F.col("reason"), F.lit("valid")).alias("reason"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "churned_customers",
    oracle=_oracle_ev(
        """
, bounds AS (SELECT max(event_time) AS tmax FROM energy_events),
recent AS (
  SELECT DISTINCT customer_id FROM energy_events, bounds
  WHERE event_time > tmax - INTERVAL 7 DAY
),
prior AS (
  SELECT DISTINCT customer_id FROM energy_events, bounds
  WHERE event_time <= tmax - INTERVAL 7 DAY
)
SELECT customer_id, 'churned' AS cohort FROM (SELECT * FROM prior EXCEPT SELECT * FROM recent)
UNION ALL
SELECT customer_id, 'retained' AS cohort FROM (SELECT * FROM prior INTERSECT SELECT * FROM recent)
ORDER BY cohort, customer_id
"""
    ),
    doc="Set operators (beyond-reference): EXCEPT for churn, INTERSECT for "
    "retention over data-relative week boundaries. Both plan as left-anti /"
    " left-semi aggregated joins — distinct-then-join, one shuffle each on "
    "customer_id.",
)
def q_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    tmax = ev.agg(F.max("event_time").alias("tmax"))
    bounded = ev.join(F.broadcast(tmax))
    recent = (
        bounded.where(F.col("event_time") > F.col("tmax") - F.expr("INTERVAL 7 DAYS"))
        .select("customer_id")
        .distinct()
    )
    prior = (
        bounded.where(F.col("event_time") <= F.col("tmax") - F.expr("INTERVAL 7 DAYS"))
        .select("customer_id")
        .distinct()
    )
    churned = prior.exceptAll(recent).select("customer_id", F.lit("churned").alias("cohort"))
    retained = prior.intersectAll(recent).select(
        "customer_id", F.lit("retained").alias("cohort")
    )
    return churned.unionByName(retained).orderBy("cohort", "customer_id")


# Shared with the streaming twin (streaming_asof_enrichment): a true
# batch≡streaming differential on the same DuckDB ASOF JOIN oracle.
ASOF_ACTIVE_TARIFF_ORACLE = _oracle_ev(
    """
, readings AS (
  SELECT event_id, customer_id, event_time,
         cast(energy_consumed AS DOUBLE) AS energy_consumed
  FROM energy_events WHERE event_type = 'energy_consumed'
),
switches AS (
  SELECT customer_id, event_time, arg_max(tariff_type, event_id) AS active_tariff
  FROM energy_events WHERE event_type = 'tariff_switch'
  GROUP BY customer_id, event_time
)
SELECT r.event_id, r.customer_id, r.event_time, r.energy_consumed, s.active_tariff
FROM readings r ASOF LEFT JOIN switches s
  ON r.customer_id = s.customer_id AND r.event_time >= s.event_time
ORDER BY r.event_id
"""
)


@register(
    "asof_active_tariff",
    oracle=ASOF_ACTIVE_TARIFF_ORACLE,
    doc="As-of join (operators/asof.py): each consumption reading gets the "
    "customer's tariff active AT THAT MOMENT. Spark has no native ASOF; the "
    "union+carry-forward-window composition costs ONE shuffle, and DuckDB's "
    "native ASOF JOIN provides a genuinely independent oracle.",
)
def q_asof_active_tariff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = energy_events(spark, sf_dir)
    readings = ev.where(F.col("event_type") == "energy_consumed").select(
        "event_id",
        "customer_id",
        "event_time",
        # DOUBLE, not DECIMAL(10,3): the engine-level determinism rule — every
        # compared output casts money/energy to double so the hash compare
        # never depends on how an engine renders decimals.
        F.col("energy_consumed").cast("double").alias("energy_consumed"),
    )
    switches = (
        ev.where(F.col("event_type") == "tariff_switch")
        .groupBy("customer_id", "event_time")
        .agg(F.max_by("tariff_type", "event_id").alias("active_tariff"))
    )
    # Total order on the unique reading id: the as-of output has no inherent
    # order and NULL active_tariff rows otherwise sort engine-dependently in
    # the driver's hash compare.
    return asof_join(
        readings, switches, key="customer_id", ts="event_time", value_cols=["active_tariff"]
    ).orderBy("event_id")


@register(
    "asof_tolerance_tariff",
    oracle=_oracle_ev(
        """
, readings AS (
  SELECT event_id, customer_id, event_time,
         cast(energy_consumed AS DOUBLE) AS energy_consumed
  FROM energy_events WHERE event_type = 'energy_consumed'
),
switches AS (
  SELECT customer_id, event_time, arg_max(tariff_type, event_id) AS active_tariff
  FROM energy_events WHERE event_type = 'tariff_switch'
  GROUP BY customer_id, event_time
)
SELECT r.event_id, r.customer_id, r.event_time, r.energy_consumed,
  CASE WHEN s.event_time IS NOT NULL
            AND epoch_us(r.event_time) - epoch_us(s.event_time) <= 86400000000
       THEN s.active_tariff END AS active_tariff,
  CASE WHEN s.event_time IS NOT NULL
            AND epoch_us(r.event_time) - epoch_us(s.event_time) <= 86400000000
       THEN cast(epoch_us(r.event_time) - epoch_us(s.event_time) AS DOUBLE) / 1e6
       END AS switch_age_s
FROM readings r ASOF LEFT JOIN switches s
  ON r.customer_id = s.customer_id AND r.event_time >= s.event_time
ORDER BY r.event_id
"""
    ),
    doc="As-of join with a match tolerance (pandas merge_asof(tolerance=...) "
    "parity): each reading gets the customer's most recent tariff switch "
    "ONLY if it happened within the last 24 h — a stale point-in-time match "
    "is often worse than no match (sensor attribution, price snapshots). "
    "Same ONE-shuffle union+carry composition as asof_active_tariff "
    "(operators/asof.py) with the switch timestamp carried alongside the "
    "value so the tolerance is a post-hoc null-out, not a second pass; "
    "DuckDB's native ASOF JOIN + CASE is the independent oracle. Age "
    "computed in integer microseconds on both sides (unix_micros / "
    "epoch_us) so the tolerance edge is exact, not float-rounded.",
)
def q_asof_tolerance_tariff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = energy_events(spark, sf_dir)
    readings = ev.where(F.col("event_type") == "energy_consumed").select(
        "event_id",
        "customer_id",
        "event_time",
        F.col("energy_consumed").cast("double").alias("energy_consumed"),
    )
    switches = (
        ev.where(F.col("event_type") == "tariff_switch")
        .groupBy("customer_id", "event_time")
        .agg(F.max_by("tariff_type", "event_id").alias("active_tariff"))
        .select(
            "customer_id",
            "event_time",
            "active_tariff",
            F.col("event_time").alias("switch_ts"),
        )
    )
    joined = asof_join(
        readings,
        switches,
        key="customer_id",
        ts="event_time",
        value_cols=["active_tariff", "switch_ts"],
    )
    age_us = F.unix_micros(F.col("event_time")) - F.unix_micros(F.col("switch_ts"))
    within = F.col("switch_ts").isNotNull() & (age_us <= F.lit(86_400_000_000))
    return joined.select(
        "event_id",
        "customer_id",
        "event_time",
        "energy_consumed",
        F.when(within, F.col("active_tariff")).alias("active_tariff"),
        F.when(within, age_us.cast("double") / 1e6).alias("switch_age_s"),
    ).orderBy("event_id")


@register(
    "asof_forward_next_switch",
    oracle=_oracle_ev(
        """
, readings AS (
  SELECT event_id, customer_id, event_time, -epoch_us(event_time) AS nts,
         cast(energy_consumed AS DOUBLE) AS energy_consumed
  FROM energy_events WHERE event_type = 'energy_consumed'
),
switches AS (
  SELECT customer_id, event_time, -epoch_us(event_time) AS nts,
         arg_max(tariff_type, event_id) AS next_tariff
  FROM energy_events WHERE event_type = 'tariff_switch'
  GROUP BY customer_id, event_time
)
SELECT r.event_id, r.customer_id, r.event_time, r.energy_consumed,
       s.next_tariff,
       cast((epoch_us(s.event_time) - epoch_us(r.event_time)) AS DOUBLE) / 1e6
         AS lead_time_s
FROM readings r ASOF LEFT JOIN switches s
  ON r.customer_id = s.customer_id AND r.nts >= s.nts
ORDER BY r.event_id
"""
    ),
    doc="FORWARD as-of join (pandas merge_asof(direction='forward') "
    "parity): each consumption reading gets the customer's NEXT tariff "
    "switch at-or-after it and the lead time until it takes effect — the "
    "'next maintenance after failure' / 'next price change after trade' "
    "shape. Implementation is the ONE-shuffle union+carry as-of "
    "(operators/asof.py) run on NEGATED integer-microsecond time, which "
    "turns most-recent-before into earliest-after with zero new operator "
    "code; DuckDB's native ASOF JOIN under the same negation is the "
    "independent oracle. Ties (switch exactly at the reading's timestamp) "
    "match, mirroring the backward join's >= convention.",
)
def q_asof_forward_next_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = energy_events(spark, sf_dir)
    readings = ev.where(F.col("event_type") == "energy_consumed").select(
        "event_id",
        "customer_id",
        "event_time",
        (-F.unix_micros(F.col("event_time"))).alias("nts"),
        F.col("energy_consumed").cast("double").alias("energy_consumed"),
    )
    switches = (
        ev.where(F.col("event_type") == "tariff_switch")
        .groupBy("customer_id", "event_time")
        .agg(F.max_by("tariff_type", "event_id").alias("next_tariff"))
        .select(
            "customer_id",
            (-F.unix_micros(F.col("event_time"))).alias("nts"),
            "next_tariff",
            F.col("event_time").alias("switch_ts"),
        )
    )
    joined = asof_join(
        readings,
        switches,
        key="customer_id",
        ts="nts",
        value_cols=["next_tariff", "switch_ts"],
    )
    lead_s = (
        F.unix_micros(F.col("switch_ts")) - F.unix_micros(F.col("event_time"))
    ).cast("double") / 1e6
    return joined.select(
        "event_id",
        "customer_id",
        "event_time",
        "energy_consumed",
        "next_tariff",
        lead_s.alias("lead_time_s"),
    ).orderBy("event_id")


@register(
    "range_join_tariff_periods",
    oracle=_oracle_ev(
        """
, switches AS (
  SELECT customer_id, event_time, arg_max(tariff_type, event_id) AS active_tariff
  FROM energy_events WHERE event_type = 'tariff_switch'
  GROUP BY customer_id, event_time
),
periods AS (
  SELECT customer_id, active_tariff,
         event_time AS period_start,
         coalesce(lead(event_time) OVER (PARTITION BY customer_id ORDER BY event_time)
                    - INTERVAL 1 SECOND,
                  (SELECT max(event_time) FROM energy_events)) AS period_end
  FROM switches
),
readings AS (
  SELECT event_id, customer_id, event_time,
         cast(energy_consumed AS DOUBLE) AS energy_consumed
  FROM energy_events WHERE event_type = 'energy_consumed'
)
SELECT r.event_id, r.customer_id, r.event_time, r.energy_consumed,
       p.active_tariff, p.period_start
FROM readings r JOIN periods p
  ON r.customer_id = p.customer_id
 AND r.event_time >= p.period_start AND r.event_time <= p.period_end
ORDER BY r.event_id
"""
    ),
    doc="Banded range join (operators/rangejoin.py): tariff validity "
    "intervals (switch -> next switch) joined to the readings they contain "
    "— the range predicate becomes an equi-join on (key, time band) + "
    "residual filter instead of a BroadcastNestedLoopJoin.",
)
def q_range_join_tariff_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import banded_range_join

    ev = energy_events(spark, sf_dir)
    switches = (
        ev.where(F.col("event_type") == "tariff_switch")
        .groupBy("customer_id", "event_time")
        .agg(F.max_by("tariff_type", "event_id").alias("active_tariff"))
    )
    w = Window.partitionBy("customer_id").orderBy("event_time")
    tmax = ev.agg(F.max("event_time").alias("tmax"))
    periods = switches.join(F.broadcast(tmax)).select(
        "customer_id",
        "active_tariff",
        F.col("event_time").alias("period_start"),
        F.coalesce(
            F.lead("event_time").over(w) - F.expr("INTERVAL 1 SECOND"),
            # cap the open-ended last period at the data's max timestamp —
            # an unbounded end would explode into thousands of bands.
            F.col("tmax"),
        ).alias("period_end"),
    )
    readings = ev.where(F.col("event_type") == "energy_consumed").select(
        "event_id",
        "customer_id",
        "event_time",
        # DOUBLE per the engine determinism rule (see asof_active_tariff).
        F.col("energy_consumed").cast("double").alias("energy_consumed"),
    )
    joined = banded_range_join(
        readings,
        periods,
        key="customer_id",
        ts="event_time",
        start="period_start",
        end="period_end",
        band_seconds=7 * 86400,
    )
    # event_id is unique in the output (periods are disjoint per customer),
    # so this is a deterministic total order for the driver's hash compare.
    return joined.select(
        "event_id", "customer_id", "event_time", "energy_consumed",
        "active_tariff", "period_start",
    ).orderBy("event_id")


# Shared with the incremental-maintenance twin (scd2_incremental_apply):
# the maintained store must converge to exactly this batch build.
SCD2_ORACLE = _oracle_ev(
    """
SELECT customer_id, tariff_type,
  event_time AS valid_from,
  lead(event_time) OVER w AS valid_to,
  cast(row_number() OVER w AS INT) AS version,
  lead(event_time) OVER w IS NULL AS is_current
FROM energy_events
WHERE event_type = 'tariff_switch'
WINDOW w AS (PARTITION BY customer_id ORDER BY event_time, event_id)
"""
)


@register(
    "scd2_tariff_history",
    oracle=SCD2_ORACLE,
    doc="Slowly-changing-dimension type-2 build of each customer's tariff "
    "history from the tariff_switch event stream: effective-dated rows "
    "(valid_from, valid_to) via lead() per customer, monotone version "
    "numbers, is_current flag on the open row. Generalizes the "
    "reference's customer_view latest/second-latest switch subqueries "
    "(database/schema.sql:116-137) into the full history a warehouse "
    "dimension needs. Ties broken by event_id for determinism. Scale: one "
    "shuffle on customer_id; per-customer sorts are tiny (switch counts "
    "per customer are bounded); output is switch-sized, not fact-sized.",
)
def q_scd2_tariff_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    w = Window.partitionBy("customer_id").orderBy("event_time", "event_id")
    return (
        ev.where(F.col("event_type") == "tariff_switch")
        .select("customer_id", "tariff_type", "event_time", "event_id")
        .select(
            "customer_id",
            "tariff_type",
            F.col("event_time").alias("valid_from"),
            F.lead("event_time").over(w).alias("valid_to"),
            F.row_number().over(w).cast("int").alias("version"),
            F.lead("event_time").over(w).isNull().alias("is_current"),
        )
    )


_CASCADE_AGGS_SQL = """
  count(CASE WHEN event_type = 'tariff_switch' THEN 1 END) AS tariff_switches,
  cast(coalesce(sum(CASE WHEN event_type = 'tariff_switch' THEN payment_amount END), 0) AS DOUBLE) AS switch_revenue,
  cast(coalesce(sum(CASE WHEN event_type = 'energy_consumed' THEN energy_consumed END), 0) AS DOUBLE) AS energy_consumed,
  cast(coalesce(sum(CASE WHEN event_type = 'bill_payment' THEN payment_amount END), 0) AS DOUBLE) AS payments
"""


@register(
    "energy_rollup_cascade",
    oracle=_oracle_ev(
        f"""
, h AS (
  SELECT cast(date_trunc('hour', event_time) AS TIMESTAMP) AS period_start, {_CASCADE_AGGS_SQL}
  FROM energy_events GROUP BY 1
),
d AS (
  SELECT cast(date_trunc('day', event_time) AS TIMESTAMP) AS period_start, {_CASCADE_AGGS_SQL}
  FROM energy_events GROUP BY 1
),
w AS (
  SELECT cast(date_trunc('week', event_time) AS TIMESTAMP) AS period_start, {_CASCADE_AGGS_SQL}
  FROM energy_events GROUP BY 1
)
SELECT 'hour' AS grain, * FROM h
UNION ALL SELECT 'day', * FROM d
UNION ALL SELECT 'week', * FROM w
"""
    ),
    doc="Hierarchical rollup cascade (hypertable continuous-aggregate "
    "pattern): hour -> day -> week grains of the additive energy metrics "
    "in ONE plan. The hourly aggregate is computed from the fact once; "
    "the daily grain re-aggregates the HOURLY frame and the weekly grain "
    "the DAILY frame — decimal sums are associative, so the cascade is "
    "value-identical to the oracle's three direct scans while touching "
    "the fact exactly once. Scale: this is how 100 TB rollup hierarchies "
    "are maintained (each grain is input to the next, hours-sized and "
    "smaller); the three-direct-scans alternative re-reads the fact per "
    "grain.",
)
def q_energy_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    t = F.col("event_type")

    def aggs():
        return [
            F.count(F.when(t == "tariff_switch", 1)).alias("tariff_switches"),
            F.coalesce(
                F.sum(F.when(t == "tariff_switch", F.col("payment_amount"))), F.lit(0)
            ).alias("_rev"),
            F.coalesce(
                F.sum(F.when(t == "energy_consumed", F.col("energy_consumed"))), F.lit(0)
            ).alias("_energy"),
            F.coalesce(
                F.sum(F.when(t == "bill_payment", F.col("payment_amount"))), F.lit(0)
            ).alias("_pay"),
        ]

    # persist() is the materialization step of the continuous-aggregate
    # pattern: without it Spark re-derives each union branch from the fact
    # (no cross-branch common-subplan reuse), turning the cascade into three
    # fact scans. The cached frames are periods-sized (hours/days), not
    # fact-sized.
    hourly = (
        ev.groupBy(F.date_trunc("hour", F.col("event_time")).alias("period_start"))
        .agg(*aggs())
        .persist()
    )

    def roll(df: DataFrame, grain: str) -> DataFrame:
        return df.groupBy(
            F.date_trunc(grain, F.col("period_start")).alias("period_start")
        ).agg(
            F.sum("tariff_switches").alias("tariff_switches"),
            F.sum("_rev").alias("_rev"),
            F.sum("_energy").alias("_energy"),
            F.sum("_pay").alias("_pay"),
        )

    daily = roll(hourly, "day").persist()
    weekly = roll(daily, "week")

    def shape(df: DataFrame, grain: str) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            "period_start",
            "tariff_switches",
            F.col("_rev").cast("double").alias("switch_revenue"),
            F.col("_energy").cast("double").alias("energy_consumed"),
            F.col("_pay").cast("double").alias("payments"),
        )

    return (
        shape(hourly, "hour").unionByName(shape(daily, "day")).unionByName(shape(weekly, "week"))
    )


@register(
    "revenue_reconciliation",
    oracle=_oracle_ev(
        """
, sw AS (
  SELECT cast(event_time AS DATE) AS day, customer_id,
         cast(sum(cast(payment_amount AS DECIMAL(18,2))) AS DOUBLE) AS switch_revenue
  FROM energy_events
  WHERE event_type = 'tariff_switch' AND payment_amount IS NOT NULL
  GROUP BY 1, 2
),
bp AS (
  SELECT cast(event_time AS DATE) AS day, customer_id,
         cast(sum(cast(payment_amount AS DECIMAL(18,2))) AS DOUBLE) AS bill_revenue
  FROM energy_events
  WHERE event_type = 'bill_payment' AND payment_amount IS NOT NULL
  GROUP BY 1, 2
)
SELECT coalesce(sw.day, bp.day) AS day,
       coalesce(sw.customer_id, bp.customer_id) AS customer_id,
       coalesce(sw.switch_revenue, 0.0) AS switch_revenue,
       coalesce(bp.bill_revenue, 0.0) AS bill_revenue,
       CASE WHEN sw.day IS NULL THEN 'bill_only'
            WHEN bp.day IS NULL THEN 'switch_only'
            ELSE 'both' END AS status
FROM sw FULL OUTER JOIN bp
  ON sw.day = bp.day AND sw.customer_id = bp.customer_id
ORDER BY day, customer_id, status
"""
    ),
    doc="Cross-stream revenue reconciliation — the FULL OUTER JOIN shape "
    "(absent from the reference's SQL surface, indispensable in a "
    "warehouse): per (day, customer), tariff-switch revenue vs "
    "bill-payment revenue with explicit presence status, so a missing "
    "feed side surfaces as switch_only/bill_only rows instead of "
    "silently dropping (all three arms non-vacuous on this corpus: "
    "144 both / 467 switch_only / 993 bill_only at sf0.01). Exact "
    "DECIMAL sums cast to double at the edge (engine determinism rule). "
    "Scale: both sides pre-aggregate to (day, customer) grain BEFORE "
    "the join — the full outer join runs on two grouped frames sharing "
    "one hash partitioning, never on facts.",
)
def q_revenue_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    pay = F.col("payment_amount").cast("decimal(18,2)")
    base = ev.where(F.col("payment_amount").isNotNull())

    def side(et: str, out: str) -> DataFrame:
        return (
            base.where(F.col("event_type") == et)
            .groupBy(
                F.col("event_time").cast("date").alias("day"),
                F.col("customer_id"),
            )
            .agg(F.sum(pay).cast("double").alias(out))
        )

    sw = side("tariff_switch", "switch_revenue")
    bp = side("bill_payment", "bill_revenue")
    joined = sw.alias("sw").join(
        bp.alias("bp"),
        (F.col("sw.day") == F.col("bp.day"))
        & (F.col("sw.customer_id") == F.col("bp.customer_id")),
        "full_outer",
    )
    status = (
        F.when(F.col("sw.day").isNull(), "bill_only")
        .when(F.col("bp.day").isNull(), "switch_only")
        .otherwise("both")
    )
    return joined.select(
        F.coalesce(F.col("sw.day"), F.col("bp.day")).alias("day"),
        F.coalesce(F.col("sw.customer_id"), F.col("bp.customer_id")).alias(
            "customer_id"
        ),
        F.coalesce(F.col("sw.switch_revenue"), F.lit(0.0)).alias("switch_revenue"),
        F.coalesce(F.col("bp.bill_revenue"), F.lit(0.0)).alias("bill_revenue"),
        status.alias("status"),
    ).orderBy("day", "customer_id", "status")


@register(
    "scd2_incremental_apply",
    oracle=SCD2_ORACLE,  # the batch build's oracle — incremental≡batch gate
    doc="Incremental SCD2 dimension maintenance (operators/scd2.py): the "
    "tariff dimension persists partitioned by a 32-way customer-hash "
    "bucket; a batch of LATE-ARRIVING switch events (every 4th event id — "
    "interleaved in time, the hard case) folds in by reconstructing ONLY "
    "the affected buckets' source switches from the stored rows (SCD2 "
    "output is a lossless encoding of its inputs when the source event id "
    "rides along), unioning the increment, re-running the window build on "
    "that slice, and dynamic-overwriting just those bucket partitions. "
    "Versions renumber and validity ranges reopen/close exactly as a full "
    "rebuild would — the store must equal the one-shot batch "
    "scd2_tariff_history (SHARED oracle). At 100 TB: per-ingest work is "
    "bucket-slice-sized; unaffected buckets are never read or written — "
    "the warehouse-dimension form of the incremental-rollup contract "
    "(refresh_hourly_incremental).",
)
def q_scd2_incremental_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.scd2 import scd2_apply_increment, scd2_init_store

    ev = energy_events(spark, sf_dir)
    sw = ev.where(F.col("event_type") == "tariff_switch").select(
        "customer_id", "tariff_type", "event_time", "event_id"
    )
    base = sw.where(F.col("event_id") % 4 != 0)
    late = sw.where(F.col("event_id") % 4 == 0)
    with tempfile.TemporaryDirectory(prefix="scd2_store_") as d:
        store = f"{d}/dim"
        scd2_init_store(spark, store, base)
        scd2_apply_increment(spark, store, late)
        out = spark.read.parquet(store).select(
            "customer_id", "tariff_type", "valid_from", "valid_to",
            "version", "is_current",
        )
        # distributed materialization before the store directory disappears
        staged = stage_result(spark, out, "scd2_incremental_apply")
    return staged


@register(
    "funnel_conversion_latency",
    oracle=_oracle_ev(
        """
, firsts AS (
  SELECT customer_id,
    min(CASE WHEN event_type = 'view_tariffs' THEN event_time END) AS first_view,
    min(CASE WHEN event_type = 'tariff_switch' THEN event_time END) AS first_switch
  FROM energy_events GROUP BY customer_id
),
conv AS (
  SELECT customer_id,
    cast(epoch_us(first_switch) - epoch_us(first_view) AS DOUBLE) / 1e6 AS latency_s
  FROM firsts
  WHERE first_view IS NOT NULL AND first_switch IS NOT NULL
    AND first_switch >= first_view
)
SELECT
  (SELECT count(*) FROM firsts WHERE first_view IS NOT NULL) AS viewers,
  count(*) AS converters,
  cast(count(*) AS DOUBLE)
    / (SELECT count(*) FROM firsts WHERE first_view IS NOT NULL) AS conversion_rate,
  quantile_cont(latency_s, 0.5) AS p50_latency_s,
  quantile_cont(latency_s, 0.9) AS p90_latency_s,
  max(latency_s) AS max_latency_s
FROM conv
"""
    ),
    doc="Funnel conversion latency: time from a customer's FIRST tariff "
    "view to their FIRST switch (converters = switch at-or-after view), "
    "with conversion rate and exact p50/p90/max latency — the 'how long "
    "does the funnel take' number next to engagement_funnel's 'how many "
    "convert'. ONE customer_id-keyed aggregation computes both funnel "
    "stages' first-times (conditional mins, no self-join); percentiles "
    "run on the converters-sized frame. Exact interpolated percentiles "
    "(Spark percentile == DuckDB quantile_cont) over integer-derived "
    "microsecond latencies — value-exact cross-engine.",
)
def q_funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    firsts = ev.groupBy("customer_id").agg(
        F.min(F.when(F.col("event_type") == "view_tariffs", F.col("event_time"))).alias(
            "first_view"
        ),
        F.min(F.when(F.col("event_type") == "tariff_switch", F.col("event_time"))).alias(
            "first_switch"
        ),
    )
    conv = firsts.where(
        F.col("first_view").isNotNull()
        & F.col("first_switch").isNotNull()
        & (F.col("first_switch") >= F.col("first_view"))
    ).select(
        (
            (F.unix_micros("first_switch") - F.unix_micros("first_view")).cast("double")
            / 1e6
        ).alias("latency_s")
    )
    viewers = firsts.where(F.col("first_view").isNotNull()).agg(
        F.count(F.lit(1)).alias("viewers")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("converters"),
        F.expr("percentile(latency_s, 0.5)").alias("p50_latency_s"),
        F.expr("percentile(latency_s, 0.9)").alias("p90_latency_s"),
        F.max("latency_s").alias("max_latency_s"),
    ).join(F.broadcast(viewers)).select(
        "viewers",
        "converters",
        (F.col("converters").cast("double") / F.col("viewers")).alias("conversion_rate"),
        "p50_latency_s",
        "p90_latency_s",
        "max_latency_s",
    )


@register(
    "tariff_revenue_attribution",
    oracle=_oracle_ev(
        """
, payments AS (
  SELECT event_id, customer_id, event_time,
         cast(payment_amount AS DOUBLE) AS amount
  FROM energy_events
  WHERE event_type = 'bill_payment' AND payment_amount IS NOT NULL
),
switches AS (
  SELECT customer_id, event_time, arg_max(tariff_type, event_id) AS active_tariff
  FROM energy_events WHERE event_type = 'tariff_switch'
  GROUP BY customer_id, event_time
),
attributed AS (
  SELECT p.event_id, p.amount, coalesce(s.active_tariff, 'unattributed') AS tariff
  FROM payments p ASOF LEFT JOIN switches s
    ON p.customer_id = s.customer_id AND p.event_time >= s.event_time
)
SELECT tariff,
  count(*) AS n_payments,
  cast(floor(sum(cast(amount AS DECIMAL(28,2))) * 100 + 0.5) / 100 AS DOUBLE)
    AS revenue,
  cast(floor(sum(cast(amount AS DECIMAL(28,2))) * 100 + 0.5) / 100 AS DOUBLE)
    / (SELECT cast(sum(cast(amount AS DECIMAL(28,2))) AS DOUBLE) FROM payments)
    AS revenue_share
FROM attributed GROUP BY tariff
"""
    ),
    doc="Revenue attribution by tariff-in-force: every bill payment is "
    "attributed to the tariff the customer was ON at payment time (the "
    "as-of composition — payments with no prior switch land in "
    "'unattributed'), then rolled up to revenue and share per tariff. "
    "This is the business question the reference's revenue_overview "
    "cannot answer (it groups by payment-day, not by the active tariff "
    "dimension) and the canonical consumer of the as-of operator: "
    "enrich-then-aggregate. Sums ride DECIMAL for order-independence, "
    "cast DOUBLE at the edge. Plan: the ONE-shuffle as-of plus a "
    "tariff-cardinality agg; the grand total is a broadcast scalar.",
)
def q_tariff_revenue_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = energy_events(spark, sf_dir)
    payments = ev.where(
        (F.col("event_type") == "bill_payment") & F.col("payment_amount").isNotNull()
    ).select(
        "event_id",
        "customer_id",
        "event_time",
        F.col("payment_amount").cast("double").alias("amount"),
    )
    switches = (
        ev.where(F.col("event_type") == "tariff_switch")
        .groupBy("customer_id", "event_time")
        .agg(F.max_by("tariff_type", "event_id").alias("active_tariff"))
    )
    attributed = asof_join(
        payments, switches, key="customer_id", ts="event_time",
        value_cols=["active_tariff"],
    ).select(
        F.coalesce("active_tariff", F.lit("unattributed")).alias("tariff"), "amount"
    )
    total = payments.agg(
        F.sum(F.col("amount").cast("decimal(28,2)")).cast("double").alias("total")
    )
    dsum = F.sum(F.col("amount").cast("decimal(28,2)"))
    return (
        attributed.groupBy("tariff")
        .agg(
            F.count(F.lit(1)).alias("n_payments"),
            F.expr(
                "cast(floor(sum(cast(amount AS DECIMAL(28,2))) * 100 + 0.5) / 100 AS DOUBLE)"
            ).alias("revenue"),
        )
        .join(F.broadcast(total))
        .select(
            "tariff",
            "n_payments",
            "revenue",
            (F.col("revenue") / F.col("total")).alias("revenue_share"),
        )
    )


@register(
    "cohort_ltv_curves",
    oracle=_oracle_ev(
        """
, first_seen AS (
  SELECT customer_id, cast(date_trunc('week', min(event_time)) AS TIMESTAMP) AS cohort_week
  FROM energy_events GROUP BY customer_id
),
pays AS (
  SELECT e.customer_id, f.cohort_week,
    cast(floor(epoch_us(e.event_time) / 1e6 / 604800.0) 
       - floor(epoch_us(f.cohort_week) / 1e6 / 604800.0) AS BIGINT) AS week_age,
    cast(e.payment_amount AS DECIMAL(28,2)) AS amount
  FROM energy_events e JOIN first_seen f USING (customer_id)
  WHERE e.event_type = 'bill_payment' AND e.payment_amount IS NOT NULL
),
cohort_sizes AS (
  SELECT cohort_week, count(*) AS cohort_customers FROM first_seen GROUP BY 1
),
wk AS (
  SELECT cohort_week, week_age, sum(amount) AS week_revenue
  FROM pays GROUP BY 1, 2
)
SELECT w.cohort_week, w.week_age, s.cohort_customers,
  cast(w.week_revenue AS DOUBLE) AS week_revenue,
  cast(sum(w.week_revenue) OVER (PARTITION BY w.cohort_week ORDER BY w.week_age) AS DOUBLE)
    / s.cohort_customers AS cum_ltv_per_customer
FROM wk w JOIN cohort_sizes s USING (cohort_week)
"""
    ),
    doc="Cohort lifetime-value curves: customers grouped by first-seen "
    "week, revenue accumulated by week-of-age, normalized per cohort "
    "customer — the (cohort x age) LTV matrix growth teams steer by, and "
    "the time-indexed generalization of retention_cohorts. Week age is "
    "integer epoch-week arithmetic (identical in both engines); revenue "
    "accumulates in DECIMAL and the running cumulative runs over the "
    "(cohorts x ages)-sized frame, never raw events. Plan: first-seen agg "
    "shuffles on customer, payments join it back on the same key, then a "
    "tiny (cohort, age) agg — two fact-scan shuffles total.",
)
def q_cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    first_seen = ev.groupBy("customer_id").agg(
        F.date_trunc("week", F.min("event_time")).alias("cohort_week")
    )
    epoch_week = lambda c: F.floor(  # noqa: E731
        F.unix_micros(c).cast("double") / 1e6 / 604800.0
    )
    pays = (
        ev.where(
            (F.col("event_type") == "bill_payment") & F.col("payment_amount").isNotNull()
        )
        .join(first_seen, "customer_id")
        .select(
            "cohort_week",
            (epoch_week(F.col("event_time")) - epoch_week(F.col("cohort_week")))
            .cast("long")
            .alias("week_age"),
            F.col("payment_amount").cast("decimal(28,2)").alias("amount"),
        )
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_customers")
    )
    wk = pays.groupBy("cohort_week", "week_age").agg(F.sum("amount").alias("week_revenue"))
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        wk.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_age",
            "cohort_customers",
            F.col("week_revenue").cast("double").alias("week_revenue"),
            (
                F.sum("week_revenue").over(w).cast("double")
                / F.col("cohort_customers")
            ).alias("cum_ltv_per_customer"),
        )
    )


@register(
    "consumption_payment_regression",
    oracle=_oracle_ev(
        """
, per_customer AS (
  SELECT customer_id,
    arg_max(tariff_type, event_id) FILTER (WHERE event_type = 'tariff_switch') AS tariff,
    sum(cast(energy_consumed AS DECIMAL(28,3))) FILTER (WHERE event_type = 'energy_consumed') AS x,
    sum(cast(payment_amount AS DECIMAL(28,2))) FILTER (WHERE event_type = 'bill_payment') AS y
  FROM energy_events GROUP BY customer_id
),
pts AS (
  SELECT coalesce(tariff, 'none') AS tariff, cast(x AS DOUBLE) AS x, cast(y AS DOUBLE) AS y
  FROM per_customer WHERE x IS NOT NULL AND y IS NOT NULL
),
mom AS (
  SELECT tariff, count(*) AS n,
    list_reduce(list_prepend(0.0, list(x ORDER BY x, y)), (a, b) -> a + b) AS sx,
    list_reduce(list_prepend(0.0, list(y ORDER BY x, y)), (a, b) -> a + b) AS sy,
    list_reduce(list_prepend(0.0, list(x * x ORDER BY x, y)), (a, b) -> a + b) AS sxx,
    list_reduce(list_prepend(0.0, list(y * y ORDER BY x, y)), (a, b) -> a + b) AS syy,
    list_reduce(list_prepend(0.0, list(x * y ORDER BY x, y)), (a, b) -> a + b) AS sxy
  FROM pts GROUP BY tariff HAVING count(*) >= 3
)
SELECT tariff, cast(n AS BIGINT) AS n,
  floor((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e9 + 0.5) / 1e9 AS slope,
  floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n * 1e9 + 0.5) / 1e9
    AS intercept,
  floor(
    (n * sxy - sx * sy) * (n * sxy - sx * sy)
      / ((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e9 + 0.5) / 1e9 AS r2
FROM mom
"""
    ),
    doc="Per-tariff OLS regression of total payments on total consumption "
    "across customers: slope (effective marginal price), intercept (fixed "
    "charge), r² — regression-as-aggregation from the five moment sums, "
    "the distributed form every MPP engine uses (single pass, no matrix "
    "library). Cross-engine exactness: each moment folds its customer "
    "terms in (x, y) order (Spark aggregate over array_sort(collect_list) "
    "== DuckDB list_reduce over ORDER BY), then identical closed-form "
    "arithmetic + 1e-9 round. Per-customer totals ride DECIMAL before the "
    "double fold. Plan: one customer_id agg (conditional sums), then a "
    "tariff-cardinality moment agg. The ordered fold is the test-exact "
    "variant; at 100 TB swap the folds for plain sums and gate with a "
    "tolerance — the moments math is unchanged.",
)
def q_consumption_payment_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    per_customer = ev.groupBy("customer_id").agg(
        F.expr(
            "max_by(tariff_type, CASE WHEN event_type = 'tariff_switch' THEN event_id END)"
        ).alias("tariff"),
        F.sum(
            F.when(
                F.col("event_type") == "energy_consumed",
                F.col("energy_consumed").cast("decimal(28,3)"),
            )
        ).alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "bill_payment",
                F.col("payment_amount").cast("decimal(28,2)"),
            )
        ).alias("y"),
    )
    pts = per_customer.where(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    ).select(
        F.coalesce("tariff", F.lit("none")).alias("tariff"),
        F.col("x").cast("double").alias("x"),
        F.col("y").cast("double").alias("y"),
    )
    fold = (
        "aggregate(array_sort(collect_list(struct(x, y, {expr} AS v))), "
        "CAST(0 AS DOUBLE), (a, e) -> a + e.v)"
    )
    mom = pts.groupBy("tariff").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(fold.format(expr="x")).alias("sx"),
        F.expr(fold.format(expr="y")).alias("sy"),
        F.expr(fold.format(expr="x * x")).alias("sxx"),
        F.expr(fold.format(expr="y * y")).alias("syy"),
        F.expr(fold.format(expr="x * y")).alias("sxy"),
    ).where(F.col("n") >= 3)
    r = lambda e: F.floor(e * 1e9 + 0.5) / 1e9  # noqa: E731
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mom.select(
        "tariff",
        F.col("n").cast("long").alias("n"),
        r(slope).alias("slope"),
        r((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("intercept"),
        r(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("r2"),
    )


@register(
    "last_touch_attribution",
    oracle=_oracle_ev(
        """
, touches AS (
  SELECT customer_id, event_time, arg_max(channel, event_id) AS channel
  FROM energy_events
  WHERE event_type = 'view_tariffs' AND channel IS NOT NULL
  GROUP BY customer_id, event_time
),
conversions AS (
  SELECT event_id, customer_id, event_time, tariff_type
  FROM energy_events WHERE event_type = 'tariff_switch'
),
attributed AS (
  SELECT c.event_id, coalesce(t.channel, 'direct') AS channel
  FROM conversions c ASOF LEFT JOIN touches t
    ON c.customer_id = t.customer_id AND c.event_time >= t.event_time
),
tot AS (SELECT cast(count(*) AS DOUBLE) AS n FROM attributed)
SELECT channel, count(*) AS conversions,
  cast(count(*) AS DOUBLE) / t.n AS share
FROM attributed, tot t GROUP BY channel, t.n
"""
    ),
    doc="Last-touch marketing attribution: each tariff switch is credited "
    "to the channel of the customer's most recent preceding tariff VIEW "
    "(no prior view = 'direct') — the attribution model behind every "
    "'which channel converts' dashboard, and another consumer of the "
    "ONE-shuffle as-of composition (operators/asof.py) with DuckDB's "
    "native ASOF JOIN as the independent oracle. Rollup is "
    "channel-cardinality sized with the total broadcast.",
)
def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join

    ev = energy_events(spark, sf_dir)
    touches = (
        ev.where((F.col("event_type") == "view_tariffs") & F.col("channel").isNotNull())
        .groupBy("customer_id", "event_time")
        .agg(F.max_by("channel", "event_id").alias("channel"))
    )
    conversions = ev.where(F.col("event_type") == "tariff_switch").select(
        "event_id", "customer_id", "event_time"
    )
    attributed = asof_join(
        conversions, touches, key="customer_id", ts="event_time", value_cols=["channel"]
    ).select(F.coalesce("channel", F.lit("direct")).alias("channel"))
    tot = attributed.agg(F.count(F.lit(1)).cast("double").alias("n"))
    return (
        attributed.groupBy("channel")
        .agg(F.count(F.lit(1)).alias("conversions"))
        .join(F.broadcast(tot))
        .select(
            "channel",
            "conversions",
            (F.col("conversions").cast("double") / F.col("n")).alias("share"),
        )
    )


@register(
    "customer_rfm_scores",
    oracle=_oracle_ev(
        """
, base AS (
  SELECT customer_id,
    max(event_time) AS last_seen,
    count(*) AS frequency,
    cast(coalesce(sum(cast(payment_amount AS DECIMAL(28,2)))
                  FILTER (WHERE event_type = 'bill_payment'), 0) AS DOUBLE) AS monetary
  FROM energy_events GROUP BY customer_id
),
scored AS (
  SELECT customer_id, last_seen, frequency, monetary,
    ntile(5) OVER (ORDER BY last_seen, customer_id) AS r_score,
    ntile(5) OVER (ORDER BY frequency, customer_id) AS f_score,
    ntile(5) OVER (ORDER BY monetary, customer_id) AS m_score
  FROM base
)
SELECT cast(r_score AS INT) AS r_score, cast(f_score AS INT) AS f_score,
  cast(m_score AS INT) AS m_score,
  count(*) AS n_customers,
  cast(sum(frequency) AS BIGINT) AS total_events,
  cast(floor(sum(cast(monetary AS DECIMAL(28,2))) * 100 + 0.5) / 100 AS DOUBLE)
    AS total_monetary
FROM scored GROUP BY 1, 2, 3
"""
    ),
    doc="RFM segmentation (recency / frequency / monetary quintiles): "
    "customers scored 1-5 on each axis (higher = more recent / frequent / "
    "valuable; ties broken by customer_id for cross-engine determinism), "
    "rolled up to the segment grid with its volume — the classic CRM "
    "cube that prioritizes win-back and upsell lists. Plan: one "
    "customer agg; the three ntile windows run over the customers-sized "
    "frame (global but bounded — the aggregate-first invariant); segment "
    "rollup is at most 125 rows. Monetary re-sums in DECIMAL for "
    "order-independence.",
)
def q_customer_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    base = ev.groupBy("customer_id").agg(
        F.max("event_time").alias("last_seen"),
        F.count(F.lit(1)).alias("frequency"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "bill_payment",
                    F.col("payment_amount").cast("decimal(28,2)"),
                )
            ),
            F.lit(0),
        ).cast("double").alias("monetary"),
    )
    scored = base.select(
        "frequency",
        "monetary",
        F.ntile(5).over(Window.orderBy("last_seen", "customer_id")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "customer_id")).alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "customer_id")).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("frequency").cast("long").alias("total_events"),
        F.expr(
            "cast(floor(sum(cast(monetary AS DECIMAL(28,2))) * 100 + 0.5) / 100 AS DOUBLE)"
        ).alias("total_monetary"),
    )


@register(
    "load_duration_curve",
    oracle=_oracle_hm(
        """
, ranked AS (
  SELECT total_energy_consumed,
    row_number() OVER (ORDER BY total_energy_consumed DESC, hour) AS rk,
    count(*) OVER () AS n_hours,
    sum(cast(total_energy_consumed AS DECIMAL(28,3))) OVER () AS total
  FROM hourly_business_metrics
)
SELECT cast(rk AS BIGINT) AS duration_rank,
  cast(rk AS DOUBLE) / n_hours AS exceedance_frac,
  total_energy_consumed AS load_mwh,
  cast(sum(cast(total_energy_consumed AS DECIMAL(28,3)))
         OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING) AS DOUBLE)
    / cast(total AS DOUBLE) AS cum_energy_share
FROM ranked
"""
    ),
    doc="Load-duration curve — THE power-systems planning chart: hourly "
    "system load sorted descending, giving for each exceedance fraction "
    "the load level sustained at least that often, plus the cumulative "
    "energy share of the top-k hours (how much of total energy the peak "
    "hours carry = what peak-shaving is worth). Derived from the "
    "hourly_business_metrics rollup (hours-sized, the aggregate-first "
    "invariant: the global sort is over ~720 rows/month at ANY raw "
    "scale); cumulative sums ride DECIMAL. Ties rank by hour for "
    "determinism.",
)
def q_load_duration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    hm = hourly_business_metrics(energy_events(spark, sf_dir))
    w = Window.orderBy(F.col("total_energy_consumed").desc(), "hour")
    ranked = hm.select(
        "total_energy_consumed",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_hours"),
        F.sum(F.col("total_energy_consumed").cast("decimal(28,3)"))
        .over(Window.partitionBy())
        .alias("total"),
    )
    cum = (
        Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    )
    return ranked.select(
        F.col("rk").cast("long").alias("duration_rank"),
        (F.col("rk").cast("double") / F.col("n_hours")).alias("exceedance_frac"),
        F.col("total_energy_consumed").alias("load_mwh"),
        (
            F.sum(F.col("total_energy_consumed").cast("decimal(28,3)"))
            .over(cum)
            .cast("double")
            / F.col("total").cast("double")
        ).alias("cum_energy_share"),
    )


@register(
    "tariff_migration_matrix",
    oracle=_oracle_ev(
        """
, sw AS (
  SELECT customer_id, event_time, event_id, tariff_type,
    lag(tariff_type) OVER (PARTITION BY customer_id ORDER BY event_time, event_id)
      AS from_tariff
  FROM energy_events WHERE event_type = 'tariff_switch'
),
moves AS (
  SELECT from_tariff, tariff_type AS to_tariff, count(*) AS n
  FROM sw WHERE from_tariff IS NOT NULL GROUP BY 1, 2
)
SELECT from_tariff, to_tariff, cast(n AS BIGINT) AS n,
  cast(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_tariff) AS p,
  from_tariff = to_tariff AS is_retention
FROM moves
"""
    ),
    doc="Tariff migration matrix: consecutive switch pairs per customer "
    "(lag over the switch history, event_id tie-breaks) rolled to the "
    "from→to transition grid with row-normalized probabilities — which "
    "plans feed which, and the diagonal's plan-retention share. The "
    "product-migration twin of event_transitions, over the dimension the "
    "business actually prices. Plan: one customer shuffle on the "
    "switch-sized frame; the matrix is |tariffs|².",
)
def q_tariff_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    w = Window.partitionBy("customer_id").orderBy("event_time", "event_id")
    sw = ev.where(F.col("event_type") == "tariff_switch").select(
        "tariff_type", F.lag("tariff_type").over(w).alias("from_tariff")
    )
    moves = (
        sw.where(F.col("from_tariff").isNotNull())
        .groupBy("from_tariff", F.col("tariff_type").alias("to_tariff"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pw = Window.partitionBy("from_tariff")
    return moves.select(
        "from_tariff",
        "to_tariff",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.sum("n").over(pw)).alias("p"),
        (F.col("from_tariff") == F.col("to_tariff")).alias("is_retention"),
    )


@register(
    "data_outage_report",
    oracle=_oracle_ev(
        """
, bounds AS (
  SELECT date_trunc('hour', min(event_time)) AS lo, date_trunc('hour', max(event_time)) AS hi
  FROM energy_events
),
grid AS (
  SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
),
observed AS (
  SELECT DISTINCT date_trunc('hour', event_time) AS hour FROM energy_events
),
missing AS (
  SELECT g.hour,
    cast(epoch_us(g.hour) / 3600000000 AS BIGINT)
      - row_number() OVER (ORDER BY g.hour) AS grp
  FROM grid g LEFT JOIN observed o USING (hour)
  WHERE o.hour IS NULL
)
SELECT min(hour) AS outage_start, max(hour) AS outage_end,
  count(*) AS missing_hours
FROM missing GROUP BY grp
"""
    ),
    doc="Data-outage report: contiguous runs of hours with ZERO events "
    "between the table's first and last hour — the gaps-and-islands "
    "rewrite (hour-index minus row_number is constant within a "
    "contiguous missing run) applied to the DENSE hour grid, emitting "
    "(start, end, duration) per outage. This is the ingestion-health "
    "report behind hourly_gap_fill: the fill query patches the holes, "
    "this one ATTRIBUTES them. Plan: the grid is sequence() over "
    "broadcast bounds (hours-sized); the anti-join against observed "
    "hours and the islands window both run on that tiny frame — the only "
    "fact-sized work is the distinct-hours projection.",
)
def q_data_outage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    bounds = ev.agg(
        F.date_trunc("hour", F.min("event_time")).alias("lo"),
        F.date_trunc("hour", F.max("event_time")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.expr("sequence(lo, hi, INTERVAL 1 HOUR)")).alias("hour")
    )
    observed = ev.select(F.date_trunc("hour", "event_time").alias("hour")).distinct()
    missing = grid.join(observed, "hour", "left_anti")
    w = Window.orderBy("hour")
    grouped = missing.select(
        "hour",
        (
            (F.unix_micros(F.col("hour")) / 3_600_000_000).cast("long")
            - F.row_number().over(w)
        ).alias("grp"),
    )
    return grouped.groupBy("grp").agg(
        F.min("hour").alias("outage_start"),
        F.max("hour").alias("outage_end"),
        F.count(F.lit(1)).alias("missing_hours"),
    ).drop("grp")


@register(
    "revenue_pareto_concentration",
    oracle=_oracle_ev(
        """
, per_customer AS (
  SELECT customer_id,
    sum(cast(payment_amount AS DECIMAL(28,2)))
      FILTER (WHERE event_type = 'bill_payment') AS rev
  FROM energy_events GROUP BY customer_id
),
payers AS (SELECT customer_id, rev FROM per_customer WHERE rev IS NOT NULL),
deciled AS (
  SELECT rev, ntile(10) OVER (ORDER BY rev DESC, customer_id) AS decile
  FROM payers
),
tot AS (SELECT cast(sum(rev) AS DOUBLE) AS t, count(*) AS n FROM payers)
SELECT cast(decile AS INT) AS decile,
  count(*) AS n_customers,
  cast(sum(cast(rev AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
  cast(sum(cast(rev AS DECIMAL(28,2))) AS DOUBLE) / t.t AS revenue_share
FROM deciled, tot t GROUP BY decile, t.t
"""
    ),
    doc="Revenue Pareto concentration: paying customers ranked into "
    "revenue deciles (ties by customer_id), each decile's revenue share — "
    "the 'do 10% of customers carry 80% of revenue' curve that sizes "
    "churn exposure and account-management tiers. Plan: one customer "
    "agg; the decile window runs over the paying-customers frame "
    "(aggregate-first); the rollup is 10 rows with the total broadcast. "
    "DECIMAL sums, double division at the edge.",
)
def q_revenue_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = energy_events(spark, sf_dir)
    per_customer = ev.groupBy("customer_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "bill_payment",
                F.col("payment_amount").cast("decimal(28,2)"),
            )
        ).alias("rev")
    )
    payers = per_customer.where(F.col("rev").isNotNull())
    deciled = payers.select(
        "rev",
        F.ntile(10).over(Window.orderBy(F.col("rev").desc(), "customer_id")).alias(
            "decile"
        ),
    )
    tot = payers.agg(
        F.sum("rev").cast("double").alias("t"), F.count(F.lit(1)).alias("n_payers")
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("rev").cast("decimal(28,2)")).cast("double").alias("revenue"),
        )
        .join(F.broadcast(tot))
        .select(
            "decile",
            "n_customers",
            "revenue",
            (F.col("revenue") / F.col("t")).alias("revenue_share"),
        )
    )

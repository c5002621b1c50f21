"""Driver-testdata -> energy-domain adapter.

The driver generates a generic ``events`` table
(``event_id bigint, ts timestamp, user_id bigint, event_type string in
{click,purchase,error,signup,view}, value double, props string``;
see TESTDATA.md / FIXTURES.md §3). The reference engine's whole query surface
is defined over the energy-domain events table
(database/schema.sql:12-23: customer_id, event_type in 7 energy types,
event_time, energy_consumed, payment_amount, session_id, tariff_type,
channel).

``ENERGY_EVENTS_SQL`` maps one onto the other **deterministically** and is
written in a dialect-neutral SQL subset executed *verbatim* by both Spark SQL
and the DuckDB oracle, so both engines query the identical logical input.

The mapping extends FIXTURES.md §3's 5->5 suggestion to a 5->7 split
(purchase -> tariff_switch|bill_payment, click -> incentive_claim|
energy_consumed on deterministic event_id residues) so that *every*
per-event-type aggregate branch of the reference consumer
(consumer/consumer.py:240-293) is exercised by the correctness gate, not just
the five trivially-mapped ones.

Scale note: the adapter is a pure narrow projection — no shuffle, fully
codegen'd, predicate/column pruning pushes through it into the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Dialect-neutral: runs unchanged on Spark SQL and DuckDB 1.0.
ENERGY_EVENTS_SQL = """
SELECT
  event_id,
  concat('CUST', lpad(cast(user_id AS STRING), 4, '0'))      AS customer_id,
  ts                                                          AS event_time,
  CASE
    WHEN event_type = 'signup'                        THEN 'user_login'
    WHEN event_type = 'error'                         THEN 'user_logout'
    WHEN event_type = 'view'                          THEN 'view_tariffs'
    WHEN event_type = 'purchase' AND event_id % 3 = 0 THEN 'tariff_switch'
    WHEN event_type = 'purchase'                      THEN 'bill_payment'
    WHEN event_type = 'click' AND event_id % 7 = 0    THEN 'incentive_claim'
    ELSE 'energy_consumed'
  END                                                         AS event_type,
  CASE WHEN event_type = 'purchase' OR (event_type = 'click' AND event_id % 7 = 0)
       THEN cast(value AS DECIMAL(10,2)) END                  AS payment_amount,
  CASE WHEN event_type = 'click' AND event_id % 7 <> 0
       THEN cast(value AS DECIMAL(10,3)) END                  AS energy_consumed,
  cast(event_id % 4000 + 1000 AS INT)                         AS session_id,
  CASE cast(event_id % 3 AS INT)
    WHEN 0 THEN 'web_portal'
    WHEN 1 THEN 'mobile_app'
    ELSE 'call_center'
  END                                                         AS channel,
  CASE WHEN event_type IN ('view', 'purchase', 'click')
            AND NOT (event_type = 'purchase' AND event_id % 3 <> 0)
            AND NOT (event_type = 'click' AND event_id % 7 <> 0)
       THEN CASE cast(user_id % 3 AS INT)
              WHEN 0 THEN 'basic'
              WHEN 1 THEN 'green'
              ELSE 'premium'
            END
       END                                                    AS tariff_type
FROM events
""".strip()


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to an instant-exact TIMESTAMP across testdata
    vintages, independent of the session timezone.

    The driver has shipped ``ts`` as parquet TIMESTAMP(NANOS) (read as
    nanos-since-epoch long under ``nanosAsLong`` — truncate to micros with
    integer ``div``; double division would lose precision at ~1.7e18) and as
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ whose WALL fields are the UTC
    wall). The NTZ branch used to be a plain ``cast('timestamp')`` — correct
    only under a UTC session zone: any other zone re-interpreted the UTC
    wall as local wall, shifting every instant by the zone offset (and a
    zone-aware re-render would still collapse DST fall-back ambiguity). The
    wall fields are therefore converted to epoch micros ARITHMETICALLY
    (days × 86.4e9 + in-day micros), which is exact for every wall
    including the ambiguous ones and never consults the session zone. Both
    branches land on the same micros-precision instants DuckDB sees, so
    oracle comparisons are vintage- and session-tz-independent.
    """
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type != "timestamp":
        return df.withColumn(
            "ts",
            F.expr(
                "timestamp_micros("
                "unix_date(cast(ts AS DATE)) * 86400000000L"
                " + hour(ts) * 3600000000L"
                " + minute(ts) * 60000000L"
                " + cast(extract(SECOND FROM ts) * 1000000 AS BIGINT))"
            ),
        )
    return df


#: Per-(session, dataset-snapshot) memo of LAZY table/adapter frames — plan
#: objects, never data or results: every action on a memoized frame still
#: scans the parquet inputs (round 16, guide §7.3). Re-resolving the same
#: parquet source per builder call (schema inference + DataSource
#: resolution + SQL re-parse for the adapter projection) measured
#: 250-500 ms of pure driver time per catalog builder — paid once per
#: query per bench pass — while a real deployment resolves a table
#: reference through the catalog once. Keyed by session identity
#: (applicationId AND the live SparkSession object id — local-mode
#: applicationIds are 'local-<millis>' and can collide across processes/
#: restarts) plus the dataset's file fingerprint (name, size, mtime_ns),
#: so a dataset rewritten in place re-resolves instead of serving a stale
#: schema — the same invalidation contract as the catalog's plan memo.
_FRAME_CACHE: dict[tuple, DataFrame] = {}


def clear_frame_cache() -> None:
    """Drop all memoized table frames (tests that need immediate
    re-resolution without relying on the mtime fingerprint)."""
    _FRAME_CACHE.clear()


def _table_fingerprint(sf_dir: str, name: str):
    """(file, size, mtime_ns) snapshot id of one parquet table — a
    driver-local listing, no Spark job (on a cluster this is the table's
    snapshot id)."""
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(p):
            return tuple(
                (f, s.st_size, s.st_mtime_ns)
                for f in sorted(os.listdir(p))
                if f.endswith(".parquet")
                for s in (os.stat(os.path.join(p, f)),)
            )
        s = os.stat(p)
        return (s.st_size, s.st_mtime_ns)
    except OSError:
        return None


def _session_key(spark: SparkSession) -> tuple:
    return (spark.sparkContext.applicationId, id(spark))


def _layout_row_groups(sf_dir: str, name: str) -> int | None:
    """Total parquet row-group count of one table — the TRUE upper bound on
    scan-stage parallelism (each row group is processed by exactly one
    task, whatever byte-based splitting says). Footer-only, no Spark job;
    None when footers can't answer (best-effort by contract)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        files = (
            [os.path.join(p, f) for f in sorted(os.listdir(p)) if f.endswith(".parquet")]
            if os.path.isdir(p)
            else [p]
        )
        if not files:
            return None
        return sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    except (OSError, ValueError, TypeError):
        return None


def _maybe_parallelize_scan(
    spark: SparkSession, df: DataFrame, sf_dir: str, name: str
) -> DataFrame:
    """Recover scan-stage parallelism lost to compact local layouts
    (round 16, guide §2.2 stragglers).

    Every sf0.1 table is a single parquet file with ONE row group, so every
    scan stage — which is also where Spark runs the heavy per-row work:
    aggregation partials, the adapter projection, shingling, hash
    fingerprints — executes as ONE task while the other 31 cores idle
    (measured: hourly partial-agg stage 0.5 s single-task; the documents
    minhash-signature kernel 7-9 s of CPU likewise). When the table's
    row-group count (the true ceiling on scan parallelism, read from the
    footers) is far below the cores, insert ONE round-robin repartition
    above the scan so the per-row work spreads across the cluster;
    filters and column pruning still push through a Repartition into the
    scan. Scale-adaptive by construction, not a local tuning knob: any
    production-sized table has row groups >= cores, so the branch prices
    to a no-op exactly when the shuffle would be expensive, and the width
    follows ``defaultParallelism`` (total cluster cores), never a
    constant.

    OPT-IN per consumer (``load_table(..., rebalance=True)``), never
    applied by default: a first round-16 attempt baked this into every
    ``load_table`` read and two contract classes broke — (a) WRITE paths
    inherited the repartition, multiplying output files per partition
    (sinks expect the natural scan layout to size their files, guide
    §6; caught by tests/test_sinks_and_observe.py::
    test_compact_raw_store_and_backfill), and (b) the round-9
    shuffle-volume gates (shuffle bytes ∝ output groups, not input rows)
    correctly flagged input-sized rebalance shuffles on queries whose
    per-row work is far too light to pay for one (total_energy_trend,
    shipping_priority, sequence packing). Only query builders whose
    downstream per-row cost MEASURED heavy enough to pay — the
    substring-window explodes and the simhash sign-accumulation (see
    plans/training_queries._docs) — opt in, and each stays within its
    committed shuffle-volume budget."""
    cores = spark.sparkContext.defaultParallelism
    rg = _layout_row_groups(sf_dir, name)
    if rg is None or rg >= max(2, cores // 2):
        return df
    return df.repartition(cores)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = False
) -> DataFrame:
    """Read one driver parquet table and register it as a temp view.

    The lazy frame is memoized per (session, dataset snapshot); the temp
    view is (re-)registered on every call so view semantics — last load
    wins — are unchanged. ``rebalance=True`` opts a QUERY-side consumer
    into the layout-adaptive scan repartition (see
    ``_maybe_parallelize_scan``); the registered view is always the plain
    frame, so SQL/write-path consumers never inherit it."""
    key = (*_session_key(spark), os.path.realpath(sf_dir), name,
           _table_fingerprint(sf_dir, name))
    df = _FRAME_CACHE.get(key)
    if df is None:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        else:
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _FRAME_CACHE[key] = df
    df.createOrReplaceTempView(name)
    if rebalance:
        rkey = (*key, "rebalanced")
        rdf = _FRAME_CACHE.get(rkey)
        if rdf is None:
            rdf = _maybe_parallelize_scan(spark, df, sf_dir, name)
            _FRAME_CACHE[rkey] = rdf
        return rdf
    return df


def energy_events(
    spark: SparkSession, sf_dir: str, rebalance: bool = False
) -> DataFrame:
    """The energy-domain events DataFrame over the driver's testdata.

    The raw DataFrame is passed as a parameterized ``spark.sql`` argument
    (not resolved via the global temp view) so concurrently-built plans over
    different sf_dirs can never cross-contaminate. Also registered as temp
    view ``energy_events`` for ad-hoc SQL use. The adapter frame (a pure
    lazy projection) is memoized alongside the raw table (see
    ``_FRAME_CACHE``) — the ~100 ms ENERGY_EVENTS_SQL re-parse per builder
    call was pure driver overhead. ``rebalance=True`` builds the
    projection over the layout-rebalanced scan (query-side opt-in only —
    see ``load_table``); the ``energy_events`` temp view and the default
    frame stay un-rebalanced so writers keep the natural scan layout.
    """
    raw = load_table(spark, sf_dir, "events", rebalance=rebalance)
    key = (*_session_key(spark), os.path.realpath(sf_dir), "energy_events",
           _table_fingerprint(sf_dir, "events"),
           *(("rebalanced",) if rebalance else ()))
    df = _FRAME_CACHE.get(key)
    if df is None:
        df = spark.sql(ENERGY_EVENTS_SQL.replace("FROM events", "FROM {events}"), events=raw)
        _FRAME_CACHE[key] = df
    if rebalance:
        # the view must stay the PLAIN projection (write-path consumers
        # resolve it); re-register it via the default path, then hand the
        # caller the rebalanced frame
        energy_events(spark, sf_dir)
    else:
        df.createOrReplaceTempView("energy_events")
    return df


def oracle_with_energy_events(body: str, extra_ctes: str = "") -> str:
    """Wrap an oracle query body with the shared adapter CTE."""
    return f"WITH energy_events AS ({ENERGY_EVENTS_SQL}){extra_ctes}\n{body}"

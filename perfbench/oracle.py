"""Reference results computed outside Spark (DuckDB) and the row comparison
the gates use."""

from __future__ import annotations

import datetime
import decimal
import math

import duckdb
import pyarrow as pa

TABLES = ("events", "documents", "embeddings")


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    # ten significant digits: DuckDB and Spark may sum doubles in another
    # order, which moves the last bits and nothing else
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.10g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return repr(v)


def canonical(rows, cols) -> tuple[list[str], list[tuple]]:
    """Column names sorted case-insensitively, rows sorted, values
    normalized, so Spark and DuckDB results compare order-insensitively."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([cols[i] for i in order],
            sorted(tuple(_norm(r[i]) for i in order) for r in rows))


def query(con, sql: str, params=None) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql, params or [])
    return canonical(res.fetchall(), [d[0] for d in res.description])


def ranged(oracle_sql: str, time_col: str) -> str:
    """The Grafana ``$__timeFilter`` twin of a panel oracle: the unchanged
    oracle wrapped in the predicate tests/test_timefilter.py uses."""
    return f"SELECT * FROM ({oracle_sql}) WHERE {time_col} >= ? AND {time_col} <= ?"


def hourly_from_rows(valid_rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """hourly_business_metrics over the generator's valid ingest rows."""
    from energy_data_stream_processing_spark.operators.hourly import HOURLY_ORACLE_BODY

    cols = list(zip(*valid_rows))
    rows = pa.table({
        "customer_id": pa.array(cols[0], pa.string()),
        "event_type": pa.array(cols[1], pa.string()),
        "event_time": pa.array(cols[2], pa.timestamp("us")),
        "payment_amount": pa.array(cols[3], pa.decimal128(10, 2)),
        "energy_consumed": pa.array(cols[4], pa.decimal128(10, 3)),
        "session_id": pa.array(cols[5], pa.int32()),
        "tariff_type": pa.array(cols[6], pa.string()),
        "channel": pa.array(cols[7], pa.string()),
    })
    con = duckdb.connect()
    con.register("energy_events", rows)
    out = query(con, HOURLY_ORACLE_BODY)
    con.close()
    return out


def hour_store(path: str) -> tuple[list[str], list[tuple]]:
    """Contents of a parquet hour store (``hour_key`` partitions dropped)."""
    con = duckdb.connect()
    out = query(
        con,
        f"SELECT * EXCLUDE (hour_key) FROM read_parquet('{path}/*/*.parquet', "
        "hive_partitioning = true)",
    )
    con.close()
    return out

"""Round-17 optimization gates.

Focused tests for the operator internals this round changed (round rules:
an optimization that changes an operator's internals gets its own test):

- empty-micro-batch skip in the durable hour sink (foreach_batch_upsert)
  — store contents and replay idempotence unchanged, only the per-trigger
  write-commit overhead goes;
- the reliable-checkpoint swap for the curation pipeline (r16 verdict
  item 8 — a tested code path, not prose);
- the per-JVM parse memo for the unrolled similarity expressions;
- the round-16 advice regression: two frames built from the SAME memoized
  gateway-column list composed into ONE plan (shared Alias exprIds must
  not mis-bind or fail analysis).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from energy_data_stream_processing_spark.sources.sinks import (
    foreach_batch_upsert,
)


def test_upsert_sink_skips_empty_batch(spark, tmp_path):
    """An empty micro-batch must leave NO store directory behind (no
    write job ran) and a later non-empty batch must land normally."""
    store = str(tmp_path / "hours")
    fn = foreach_batch_upsert(store)

    hours = spark.createDataFrame(
        [("2024-06-01 10:00:00",)], "h string"
    ).select(F.col("h").cast("timestamp").alias("hour"), F.lit(7).alias("m"))

    fn(hours.where(F.lit(False)), 0)  # empty batch
    assert not os.path.exists(store), "empty batch must not write the store"

    fn(hours, 1)
    got = spark.read.parquet(store)
    assert got.count() == 1 and got.select("m").first()["m"] == 7

    # replayed empty batch after a non-empty one: store untouched
    before = sorted(os.listdir(store))
    fn(hours.where(F.lit(False)), 2)
    assert sorted(os.listdir(store)) == before


def test_curation_reliable_checkpoint_result_identical(spark, sf_dir, tmp_path):
    """checkpoint='reliable' (the cluster swap for localCheckpoint) must
    produce the identical curated doc set."""
    from energy_data_stream_processing_spark.plans.sampling_queries import (
        curated_document_set,
    )

    sc = spark.sparkContext
    prev = sc._jsc.sc().getCheckpointDir()
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        rel = sorted(
            r["doc_id"]
            for r in curated_document_set(spark, sf_dir, checkpoint="reliable")
            .select("doc_id")
            .collect()
        )
    finally:
        if prev.isDefined():
            sc.setCheckpointDir(prev.get())
    local = sorted(
        r["doc_id"]
        for r in curated_document_set(spark, sf_dir, checkpoint=True)
        .select("doc_id")
        .collect()
    )
    assert rel == local and len(rel) > 0


def test_parsed_expr_memoizes_per_gateway(spark):
    """parsed_expr returns the SAME Column object for the same SQL within
    one JVM, a fresh one after a (simulated) gateway restart, and its
    values match a fresh F.expr parse."""
    from energy_data_stream_processing_spark.functions import columns as C
    from energy_data_stream_processing_spark.operators.similarity import (
        cosine_expr,
        parsed_expr,
    )

    sql = cosine_expr("q", "v", dim=4, cast=True)
    first = parsed_expr(sql)
    assert parsed_expr(sql) is first

    # stale-gateway simulation: identity check forces a rebuild
    C._GATEWAY_MEMO[f"parsed-expr:{sql}"] = (object(), first)
    rebuilt = parsed_expr(sql)
    assert rebuilt is not first

    df = spark.range(3).selectExpr(
        "transform(sequence(0, 3), i -> cast(id + i AS float)) AS q",
        "transform(sequence(0, 3), i -> cast(2 * id + i AS float)) AS v",
    )
    got = [r[0] for r in df.select(parsed_expr(sql)).collect()]
    want = [r[0] for r in df.select(F.expr(sql)).collect()]
    assert got == want


def test_gateway_columns_two_frames_one_plan(spark):
    """Round-16 advice: Column.alias pins an exprId at construction, so
    every plan built from a memoized gateway-column list shares those
    exprIds. Composing TWO such frames into ONE plan (join of two hourly
    slices) must analyze and bind each side to its own input."""
    from energy_data_stream_processing_spark.operators.hourly import (
        hourly_business_metrics,
    )

    def mk(values):
        return spark.createDataFrame(
            [(f"2024-06-01 0{i}:00:00", f"CUST{i}", "bill_payment", v)
             for i, v in enumerate(values)],
            "et string, customer_id string, event_type string, pay double",
        ).selectExpr(
            "cast(et AS timestamp) AS event_time",
            "customer_id",
            "event_type",
            "cast(pay AS decimal(10,2)) AS payment_amount",
            "cast(null AS decimal(10,3)) AS energy_consumed",
            "cast(1 AS int) AS session_id",
            "cast(null AS string) AS tariff_type",
        )

    a = hourly_business_metrics(mk([10.0, 20.0]))
    b = hourly_business_metrics(mk([300.0, 400.0]))
    joined = a.alias("a").join(b.alias("b"), "hour", "inner").select(
        "hour", F.col("a.total_payments"), F.col("b.total_payments")
    )
    rows = {
        (str(r[0]), r[1], r[2]) for r in joined.collect()
    }
    assert rows == {
        ("2024-06-01 00:00:00", 10.0, 300.0),
        ("2024-06-01 01:00:00", 20.0, 400.0),
    }, rows

"""Round-11 additions: the update-mode exact hourly stream keeps the two
wall-"01:00" DST fall-back hours as distinct epoch instants."""

from __future__ import annotations

import os

from energy_data_stream_processing_spark.plans.catalog import all_queries


# ---------------------------------------------------------------------------
# DST fall-back: the UPDATE-MODE twin's output labels (the append-mode
# stream is pinned in test_round10_ops)
# ---------------------------------------------------------------------------
def test_stateful_unbounded_hourly_dst_fall_back_output_labels(spark, tmp_path):
    """Under America/New_York the update-mode exact twin (no watermark)
    must also emit the two wall-"01:00" fall-back hours as DISTINCT,
    CORRECT epoch instants (its ``window`` is keyed on the epoch) with
    batch-equal values for every hour."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from energy_data_stream_processing_spark.operators.hourly import (
        hourly_business_metrics,
    )
    from energy_data_stream_processing_spark.sources.adapter import (
        ENERGY_EVENTS_SQL,
        normalize_event_ts,
    )

    prior = spark.conf.get("spark.sql.session.timeZone")
    prior_nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        raw = normalize_event_ts(
            spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        )
        # fold the corpus into the 8 epoch hours straddling the fall-back
        # (2023-11-05 01:30Z..09:30Z), as in the bounded twin's test
        target_us = int(
            datetime(2023, 11, 5, 1, 30, tzinfo=timezone.utc).timestamp()
            * 1_000_000
        )
        win_us = 8 * 3600 * 1_000_000
        mn_us = raw.select(F.min(F.unix_micros("ts")).alias("m")).first()["m"]
        folded = raw.withColumn(
            "ts",
            F.timestamp_micros(
                F.lit(target_us) + (F.unix_micros("ts") - F.lit(mn_us)) % F.lit(win_us)
            ),
        )
        d = tmp_path / "sf"
        d.mkdir()
        stage = str(tmp_path / "stage")
        folded.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(f"{stage}/{part}", str(d / "events.parquet"))

        out = all_queries()["streaming_hourly_metrics"].builder(spark, str(d))

        view = "dst_unbounded_events"
        folded.createOrReplaceTempView(view)
        ev_batch = spark.sql(ENERGY_EVENTS_SQL.replace("FROM events", f"FROM {view}"))
        batch_df = hourly_business_metrics(ev_batch)
        metric_cols = [c for c in batch_df.columns if c != "hour"]

        def by_epoch_hour(df):
            return sorted(
                (
                    r["_eh"],
                    tuple(round(float(r[c]), 6) for c in metric_cols),
                )
                for r in df.withColumn(
                    "_eh", (F.unix_micros("hour") / F.lit(3_600_000_000.0))
                ).collect()
            )

        want = by_epoch_hour(batch_df)
        got = by_epoch_hour(out)
        h0 = target_us // 3_600_000_000
        # the two wall-"01:00" epochs are both present and distinct
        assert {h0 + 4, h0 + 5} <= {h for h, _ in want}
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
        if prior_nanos is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior_nanos)

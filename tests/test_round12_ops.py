"""Round-12 pins: state-partition sizing as engine default."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from energy_data_stream_processing_spark.plans.catalog import all_queries


# ---------------------------------------------------------------------------
# Verdict item 1: hours-keyed stateful streams size their state-store count
# to key cardinality (SCALE.md §4.3), regardless of the session default.
# ---------------------------------------------------------------------------
def test_hourly_streams_pin_state_partitions_to_hours_class(spark, sf_dir):
    """Both exact hourly entries must run their stateful operator with
    HOURS_STATE_PARTITIONS state stores even when the session default is
    higher, and must RESTORE the session conf afterwards — the engine
    scopes spark.sql.shuffle.partitions for the query lifetime because a
    stateful operator's partition count pins at first start
    (StatefulOpClusteredDistribution) and no upstream repartition can
    change it."""
    from energy_data_stream_processing_spark.streaming import runner

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        for entry in ("streaming_hourly_metrics", "streaming_hourly_bounded"):
            out = all_queries()[entry].builder(spark, sf_dir)
            assert out.count() > 0
            prog = runner.LAST_STREAM_PROGRESS
            assert prog is not None, entry
            ops = prog.get("stateOperators") or []
            assert ops, f"{entry}: no state operator in progress"
            for op in ops:
                assert op["numShufflePartitions"] == runner.HOURS_STATE_PARTITIONS, (
                    entry,
                    op.get("operatorName"),
                    op["numShufflePartitions"],
                )
            # the scoped override must not leak into the session
            assert spark.conf.get("spark.sql.shuffle.partitions") == "32", entry
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_run_stream_to_table_restores_conf_on_failure(spark):
    """The shuffle-partition scope is exception-safe: a stream that fails
    to start still restores the session value."""
    from energy_data_stream_processing_spark.streaming.runner import (
        run_stream_to_table,
    )

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    batch_df = spark.range(3)  # not a streaming frame -> writeStream raises
    with pytest.raises(Exception):
        run_stream_to_table(spark, batch_df, state_partitions=2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prior


"""Round-11 additions:

- metadata-only density probe (verdict item 5): ``customer_view``'s auto
  dispatch answers from Parquet FOOTERS — exact row count + an upper bound
  on distinct customers from the integer user_id min/max range — whenever
  that lower bound is already decisive, and only falls back to the
  one-column scan+HLL job below the line;
- density-cache snapshot keying (round-10 advice): a dataset rewritten in
  place at the same path re-probes instead of dispatching on stale density.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from energy_data_stream_processing_spark.plans import energy_queries as eq
from energy_data_stream_processing_spark.plans.catalog import all_queries


def _n_filescans(df):
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"FileScan parquet", plan))


def _write_events_with_user_mod(src_sf_dir: str, dst_dir: str, mod: int) -> None:
    """Copy events.parquet with user_id folded to ``user_id % mod`` —
    pyarrow-only (no Spark job), preserving the source timestamp vintage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{src_sf_dir}/events.parquet")
    folded = pa.array(np.asarray(t["user_id"]) % mod, type=t.schema.field("user_id").type)
    t = t.set_column(t.schema.get_field_index("user_id"), "user_id", folded)
    pq.write_table(t, f"{dst_dir}/events.parquet")


# ---------------------------------------------------------------------------
# Footer lower bound: tightness, honesty, and failure modes
# ---------------------------------------------------------------------------
def test_footer_lower_bound_is_tight_on_dense_ids(spark, sf_dir):
    """Testdata user_ids are dense in their range, so the metadata bound
    must equal the exact scan-measured density (and always stay <= it)."""
    ev = eq.energy_events(spark, sf_dir)
    row = ev.agg(
        {"*": "count"}
    ).collect()[0]
    n = row[0]
    c = ev.select("customer_id").distinct().count()
    exact = n / c
    lb = eq.events_per_customer_footer_lower_bound(sf_dir)
    assert lb is not None
    assert lb == pytest.approx(exact)


def test_footer_lower_bound_is_a_lower_bound_on_sparse_ids(sf_dir, tmp_path):
    """Sparse ids (range >> distincts) must only LOWER the bound — the
    conservative direction: auto falls back to the scan probe instead of
    overclaiming density."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sparse"
    d.mkdir()
    t = pq.read_table(f"{sf_dir}/events.parquet")
    # spread the same distinct count over a 1000x range
    sparse = pa.array(
        np.asarray(t["user_id"]) * 1000, type=t.schema.field("user_id").type
    )
    t = t.set_column(t.schema.get_field_index("user_id"), "user_id", sparse)
    pq.write_table(t, f"{d}/events.parquet")
    lb = eq.events_per_customer_footer_lower_bound(str(d))
    dense = eq.events_per_customer_footer_lower_bound(sf_dir)
    assert lb is not None and dense is not None
    assert lb < dense / 100  # ~1000x lower, definitely below any crossover


def test_footer_lower_bound_over_multi_file_directory(spark, sf_dir, tmp_path):
    """Spark-written events tables are DIRECTORIES of part files (the bench
    ladder dirs are exactly this); the bound must aggregate row counts and
    min/max across every part footer."""
    from pyspark.sql import functions as F

    d = tmp_path / "multi"
    d.mkdir()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    (
        ev.crossJoin(spark.range(10).withColumnRenamed("id", "_rep"))
        .withColumn("event_id", F.col("event_id") * 10 + F.col("_rep"))
        .drop("_rep")
        .repartition(4)
        .write.mode("overwrite")
        .parquet(f"{d}/events.parquet")
    )
    lb = eq.events_per_customer_footer_lower_bound(str(d))
    base = eq.events_per_customer_footer_lower_bound(sf_dir)
    assert lb == pytest.approx(10 * base)  # 10x rows, same id range


def test_footer_lower_bound_returns_none_when_unanswerable(tmp_path):
    assert eq.events_per_customer_footer_lower_bound(str(tmp_path)) is None
    assert eq.events_per_customer_footer_lower_bound("/nonexistent/dir") is None


# ---------------------------------------------------------------------------
# Dispatch: metadata decides prefilter with NO Spark probe job
# ---------------------------------------------------------------------------
def test_auto_dispatch_decides_twophase_from_metadata_alone(
    spark, tmp_path, monkeypatch
):
    """At high footer-proven density the auto dispatch must pick the
    two-phase plan (the replicated round-11 winner) WITHOUT running the
    scan+HLL probe — the 100 TB probe cost story. Proven by making the
    scan probe a hard error."""
    import re

    d = tmp_path / "hi"
    d.mkdir()
    # sf0.01: 10k events over user_id range 2 -> footer bound 5000 >= 200
    _write_events_with_user_mod("/root/testdata/sf0.01", str(d), 2)
    lb = eq.events_per_customer_footer_lower_bound(str(d))
    assert lb is not None and lb >= eq.CUSTOMER_VIEW_DENSITY_CROSSOVER

    def boom(ev):  # pragma: no cover - failing is the assertion
        raise AssertionError("scan probe ran despite a decisive footer bound")

    monkeypatch.setattr(eq, "estimate_events_per_customer", boom)
    eq.clear_density_cache()
    df = all_queries()["customer_view"].builder(spark, str(d))
    assert _n_filescans(df) == 1  # the two-phase plan shape: one scan...
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ...carrying the phase-1 per-(customer, session) partial aggregate
    assert "p_sw" in plan  # the twophase phase-1 alias


def test_auto_dispatch_falls_back_to_scan_probe_below_the_line(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Below the crossover the footer bound is NOT decisive (true density
    could be higher than the bound), so the scan probe must run."""
    calls = []
    real = eq.estimate_events_per_customer

    def spy(ev):
        calls.append(1)
        return real(ev)

    monkeypatch.setattr(eq, "estimate_events_per_customer", spy)
    eq.clear_density_cache()
    df = all_queries()["customer_view"].builder(spark, sf_dir)
    assert calls, "scan probe should have run at low footer density"
    assert _n_filescans(df) == 1  # testdata density -> single plan


# ---------------------------------------------------------------------------
# Density cache: snapshot keying + clear hook
# ---------------------------------------------------------------------------
def test_density_cache_reprobes_after_in_place_rewrite(spark, tmp_path):
    """Round-10 advice: rewriting the dataset at the SAME path must change
    the memo key (events-file fingerprint), so auto re-dispatches on the
    new density instead of the stale one."""
    d = tmp_path / "ds"
    d.mkdir()
    shutil.copy("/root/testdata/sf0.01/events.parquet", d / "events.parquet")
    eq.clear_density_cache()
    low = all_queries()["customer_view"].builder(spark, str(d))
    assert _n_filescans(low) == 1  # ~67 ev/cust -> single

    # rewrite IN PLACE at 5000 ev/cust
    import re

    os.remove(d / "events.parquet")
    _write_events_with_user_mod("/root/testdata/sf0.01", str(d), 2)
    hi = all_queries()["customer_view"].builder(spark, str(d))
    plan = hi._jdf.queryExecution().executedPlan().toString()
    # re-probed -> the high-density two-phase plan
    assert "p_sw" in plan  # the twophase phase-1 alias


def test_clear_density_cache_hook():
    eq._DENSITY_CACHE[("x", None)] = 1.0
    eq.clear_density_cache()
    assert not eq._DENSITY_CACHE


# ---------------------------------------------------------------------------
# Footer bound soundness as a property: for ANY integer id multiset, the
# metadata bound must never exceed the true events-per-customer density
# (an overclaim would mis-dispatch; underclaims only fall back to the probe)
# ---------------------------------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=30, deadline=None)
@given(
    ids=st.lists(st.integers(min_value=-10_000, max_value=10_000), min_size=1, max_size=400)
)
def test_footer_bound_never_exceeds_true_density(ids, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("prop")
    t = pa.table({"user_id": pa.array(ids, type=pa.int64())})
    pq.write_table(t, f"{d}/events.parquet")
    lb = eq.events_per_customer_footer_lower_bound(str(d))
    assert lb is not None
    true_density = len(ids) / len(set(ids))
    assert lb <= true_density + 1e-9
    # tight exactly when the ids are dense in their range
    if len(set(ids)) == max(ids) - min(ids) + 1:
        assert lb == pytest.approx(true_density)


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

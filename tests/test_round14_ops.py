"""Round-14 operators: driver-checkable audit twins for the engine-internal
(no-SQL-oracle) sketches — MinHash-LSH / SimHash dedup and the LSH / IVF
ANN retrievers (round-13 verdict item 3).

Each audit runs the REAL sketch pipeline in-band against an exact,
SQL-expressible side and emits law-valued columns the DuckDB oracle pins;
the sensitivity tests here prove the laws actually flip when the sketch
side is broken (a law that can't fail is not evidence).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from energy_data_stream_processing_spark.plans.catalog import all_queries
from energy_data_stream_processing_spark.plans.training_queries import _ann_audit


def _q(name):
    return all_queries()[name]


# --------------------------------------------------------------------------
# dedup_minhash_lsh_audit
# --------------------------------------------------------------------------
def test_minhash_lsh_audit_all_pairs_in_both_sides(spark, sf_dir):
    rows = _q("dedup_minhash_lsh_audit").builder(spark, sf_dir).collect()
    assert len(rows) > 0, "audit must be non-vacuous on the gate corpus"
    for r in rows:
        assert r["in_lsh"] and r["in_exact"], (
            f"pair ({r['doc_a']},{r['doc_b']}) missing from one side"
        )
        assert r["jaccard"] >= 0.5


def test_minhash_lsh_audit_flags_a_missed_pair(spark, sf_dir):
    """Sensitivity: removing one LSH pair by hand produces an
    in_lsh=false row — the audit is not vacuously green."""
    from energy_data_stream_processing_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )
    from energy_data_stream_processing_spark.sources.adapter import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = ngram_jaccard_pairs(docs, threshold=0.5)
    first = exact.orderBy("doc_a", "doc_b").limit(1).collect()[0]
    crippled = minhash_lsh_pairs(docs, threshold=0.5).where(
        ~((F.col("doc_a") == first["doc_a"]) & (F.col("doc_b") == first["doc_b"]))
    )
    joined = exact.join(
        crippled.select("doc_a", "doc_b", F.lit(1).alias("l")),
        ["doc_a", "doc_b"],
        "left",
    )
    missed = joined.where(F.col("l").isNull()).collect()
    assert len(missed) == 1
    assert (missed[0]["doc_a"], missed[0]["doc_b"]) == (
        first["doc_a"], first["doc_b"],
    )


# --------------------------------------------------------------------------
# dedup_simhash_audit
# --------------------------------------------------------------------------
def test_simhash_audit_planted_dups_found_at_hamming_zero(spark, sf_dir):
    rows = _q("dedup_simhash_audit").builder(spark, sf_dir).collect()
    assert len(rows) == 40
    for r in rows:
        assert r["found"], f"planted dup ({r['doc_a']},{r['doc_b']}) not found"
        assert r["hamming"] == 0


def test_simhash_audit_plants_do_not_leak_into_base_entry(spark, sf_dir):
    """The audit's planted corpus is in-band only: the plain dedup_simhash
    entry over the raw table must contain no offset-id rows."""
    from energy_data_stream_processing_spark.plans.training_queries import (
        _SIMHASH_PLANT_OFFSET,
    )

    base = _q("dedup_simhash").builder(spark, sf_dir)
    leaked = base.where(
        (F.col("doc_a") >= _SIMHASH_PLANT_OFFSET)
        | (F.col("doc_b") >= _SIMHASH_PLANT_OFFSET)
    ).count()
    assert leaked == 0


# --------------------------------------------------------------------------
# ann_lsh_recall_audit / ann_ivf_recall_audit
# --------------------------------------------------------------------------
@pytest.mark.parametrize("name", ["ann_lsh_recall_audit", "ann_ivf_recall_audit"])
def test_ann_audit_laws_hold(spark, sf_dir, name):
    rows = _q(name).builder(spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_queries"] == 20 and r["k"] == 5 and r["n_exact"] == 100
    assert r["recall_ge_floor"] and r["cosine_verified"] and r["ranks_valid"]


def test_ann_audit_catches_corrupted_cosine(spark, sf_dir):
    """Sensitivity: a retriever that perturbs its reported cosines must
    flip cosine_verified (and a rank shuffle must flip ranks_valid)."""
    from energy_data_stream_processing_spark.operators.similarity import lsh_topk

    def bad_cosine(emb, num_queries, k):
        return lsh_topk(emb, num_queries=num_queries, k=k).withColumn(
            "cosine", F.col("cosine") + 1e-6
        )

    r = _ann_audit(spark, sf_dir, "lsh", bad_cosine, floor=0.5).collect()[0]
    assert not r["cosine_verified"]
    assert r["recall_ge_floor"]  # pair membership untouched

    def bad_ranks(emb, num_queries, k):
        return lsh_topk(emb, num_queries=num_queries, k=k).withColumn(
            "rank", F.col("rank") + 1
        )

    r2 = _ann_audit(spark, sf_dir, "lsh", bad_ranks, floor=0.5).collect()[0]
    assert not r2["ranks_valid"]


def test_ann_audit_catches_recall_collapse(spark, sf_dir):
    """Sensitivity: a retriever returning rank-reversed garbage neighbors
    (worst candidates instead of best) must flip recall_ge_floor."""
    from energy_data_stream_processing_spark.operators.similarity import (
        _as_double,
        cosine_topk,
    )
    from energy_data_stream_processing_spark.sources.adapter import load_table

    emb = load_table(spark, sf_dir, "embeddings")

    def worst_k(e, num_queries, k):
        # exact cosine but picking the BOTTOM-k: valid rank contract and
        # exact cosines, recall vs top-k ~0 — isolates the recall law.
        from pyspark.sql import Window
        from energy_data_stream_processing_spark.operators.similarity import (
            _DOT, _NORM,
        )

        base = e.select("vec_id", _as_double("embedding").alias("v"))
        q = base.where(F.col("vec_id") < num_queries).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("q")
        )
        cos = F.expr(
            _DOT.format(a="q", b="v")
            + " / (" + _NORM.format(a="q") + " * " + _NORM.format(a="v") + ")"
        )
        w = Window.partitionBy("query_id").orderBy(F.col("cosine").asc(), "vec_id")
        return (
            base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", cos.alias("cosine"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rank")
        )

    r = _ann_audit(spark, sf_dir, "lsh", worst_k, floor=0.5).collect()[0]
    assert not r["recall_ge_floor"]
    assert r["cosine_verified"]
    # bottom-k ranks ascend by cosine, so the non-increasing law flips too
    assert not r["ranks_valid"]


# --------------------------------------------------------------------------
# Round-14 advisory hardening: store-guard locality, migration swap
# diagnosis, lake legacy-scan marker
# --------------------------------------------------------------------------
def test_store_guards_refuse_scheme_qualified_paths(spark):
    """The legacy-key / crashed-migration guards inspect stores with local
    os calls; a scheme-qualified path used to make them silently no-op.
    They must refuse loudly instead — on the read guard, the migration,
    and the write path that depends on both."""
    from datetime import datetime

    from energy_data_stream_processing_spark.sources.sinks import (
        METRIC_COLUMNS,
        legacy_hour_key_values,
        migrate_hour_store_keys,
        upsert_hourly_metrics_parquet,
    )

    for bad in ("s3://bucket/metrics", "hdfs://nn:8020/m", "file:///tmp/m"):
        with pytest.raises(ValueError, match="scheme-qualified"):
            legacy_hour_key_values(bad)
        with pytest.raises(ValueError, match="scheme-qualified"):
            migrate_hour_store_keys(spark, bad)
    df = spark.createDataFrame(
        [(datetime(2024, 5, 1, 7, 0), *[1.0] * len(METRIC_COLUMNS))],
        schema=["hour", *METRIC_COLUMNS],
    )
    with pytest.raises(ValueError, match="scheme-qualified"):
        upsert_hourly_metrics_parquet(spark, df, "s3://bucket/metrics")


def test_migration_refusal_distinguishes_completed_from_mid_swap(spark, tmp_path):
    """Both-exist (swap completed, stale leftover) and path-missing
    (crash mid-swap) are different states with OPPOSITE recoveries; the
    refusal must name the right one — the old single message suggested a
    rename that would clobber a migrated store with the stale copy."""
    import os

    from energy_data_stream_processing_spark.sources.sinks import (
        migrate_hour_store_keys,
    )

    store = str(tmp_path / "metrics")
    old = f"{store}_keymigration_old"

    os.makedirs(old)
    with pytest.raises(RuntimeError, match="store IS"):
        migrate_hour_store_keys(spark, store)

    os.makedirs(store)
    with pytest.raises(RuntimeError, match="stale pre-migration copy"):
        migrate_hour_store_keys(spark, store)


def test_lake_merge_persists_legacy_scan_marker(spark, tmp_path):
    """A clean legacy-key scan writes a marker in the table log so query
    restarts skip the full-table re-scan; a pre-existing legacy-keyed
    table is still refused (and writes no marker)."""
    import os
    from datetime import datetime

    from energy_data_stream_processing_spark.sources.laketable import (
        LakeTable,
        foreach_batch_lake_merge,
    )
    from energy_data_stream_processing_spark.sources.sinks import METRIC_COLUMNS

    path = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [(datetime(2024, 5, 1, 7, 0), *[1.0] * len(METRIC_COLUMNS))],
        schema=["hour", *METRIC_COLUMNS],
    )
    fn = foreach_batch_lake_merge(path, key_col="hour_key")
    fn(df, 0)
    marker = os.path.join(path, "_log", "_hour_keys_v2_verified")
    # a FRESH table must NOT earn the marker: latest_version() == -1 is
    # also what a stale CoordinatedLogStore reports for an EXISTING table
    # (the adopt_existing recovery case), and marking that view would
    # disable the legacy scan on a table that was never checked
    assert not os.path.exists(marker)

    # restart (fresh closure): the scan now sees real data, passes, and
    # persists the memo; a further restart skips the re-scan
    fn2 = foreach_batch_lake_merge(path, key_col="hour_key")
    fn2(df, 1)
    assert os.path.exists(marker)
    assert "verified at table version" in open(marker).read()
    fn3 = foreach_batch_lake_merge(path, key_col="hour_key")
    fn3(df, 2)

    # a legacy-keyed table without the marker is still refused
    bad = str(tmp_path / "lake_legacy")
    t = LakeTable(bad)
    legacy_df = df.withColumn("hour_key", F.date_format("hour", "yyyy-MM-dd-HH"))
    t.merge_upsert(spark, legacy_df, "hour_key")
    fn_bad = foreach_batch_lake_merge(bad, key_col="hour_key")
    with pytest.raises(ValueError, match="legacy"):
        fn_bad(df, 0)
    assert not os.path.exists(os.path.join(bad, "_log", "_hour_keys_v2_verified"))


# --------------------------------------------------------------------------
# streaming_hourly_native_audit (the fifth formerly-rows-only entry)
# --------------------------------------------------------------------------
def test_native_audit_laws_hold(spark, sf_dir):
    rows = _q("streaming_hourly_native_audit").builder(spark, sf_dir).collect()
    assert len(rows) > 100  # one row per hour, non-vacuous
    for r in rows:
        assert r["active_customers_ok"] and r["new_sessions_ok"], r["hour"]
        assert r["tariff_switches"] is not None  # full-outer join matched


def test_native_audit_band_flips_on_sketch_drift(spark, sf_dir):
    """Sensitivity: widening the approx distincts beyond the band (the
    shape of a broken HLL merge) must flip the _ok booleans."""
    from energy_data_stream_processing_spark.operators.hourly import (
        hourly_business_metrics,
    )
    from energy_data_stream_processing_spark.sources.adapter import energy_events
    from energy_data_stream_processing_spark.streaming.runner import (
        energy_events_stream,
        hourly_metrics_native_stream,
        run_stream_to_table,
    )

    ev = energy_events_stream(spark, sf_dir)
    nat = run_stream_to_table(
        spark, hourly_metrics_native_stream(ev)
    ).withColumn(
        "active_customers_approx",
        F.col("active_customers_approx") * 2 + 10,
    )
    ex = hourly_business_metrics(energy_events(spark, sf_dir)).select(
        "hour", F.col("active_customers").alias("_ac")
    )
    bad = nat.join(ex, "hour").where(
        F.abs(F.col("active_customers_approx") - F.col("_ac"))
        > F.greatest(F.lit(5.0), F.lit(0.15) * F.col("_ac"))
    )
    assert bad.count() > 0


# --------------------------------------------------------------------------
# split_leakage_audit
# --------------------------------------------------------------------------
def test_split_leakage_audit_matches_python_fold(spark, sf_dir):
    """Independent ground truth: collect the >=0.5 pair graph and the
    split rule's inputs and refold the class counts in plain Python."""
    import hashlib

    from energy_data_stream_processing_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from energy_data_stream_processing_spark.sources.adapter import load_table

    def split_of(doc_id: int) -> str:
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 10
        return "train" if b <= 7 else ("val" if b == 8 else "test")

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert pairs, "corpus must carry near-dups for the audit to bite"
    expect: dict = {}
    for r in pairs:
        lo, hi = sorted((split_of(r["doc_a"]), split_of(r["doc_b"])))
        expect[(lo, hi)] = expect.get((lo, hi), 0) + 1

    got = {
        (r["split_lo"], r["split_hi"]): (r["n_pairs"], r["is_leak"])
        for r in _q("split_leakage_audit").builder(spark, sf_dir).collect()
    }
    assert {k: v[0] for k, v in got.items()} == expect
    for (lo, hi), (_, leak) in got.items():
        assert leak == (lo != hi)


def test_ann_audit_catches_middle_rank_swap(spark, sf_dir):
    """The rank law is a full adjacent-pair check, not an endpoint probe:
    swapping ranks 2 and 3 (endpoints untouched) must flip ranks_valid —
    via the cosine ordering when they differ, via the neighbor-id
    tiebreak when they tie bitwise."""
    from energy_data_stream_processing_spark.operators.similarity import lsh_topk

    def mid_swap(emb, num_queries, k):
        df = lsh_topk(emb, num_queries=num_queries, k=k)
        return df.withColumn(
            "rank",
            F.when(F.col("rank") == 2, 3)
            .when(F.col("rank") == 3, 2)
            .otherwise(F.col("rank")),
        )

    r = _ann_audit(spark, sf_dir, "lsh", mid_swap, floor=0.5).collect()[0]
    assert not r["ranks_valid"]
    assert r["cosine_verified"] and r["recall_ge_floor"]  # only order broke


# --------------------------------------------------------------------------
# Deep-review hardening: raw-store layout guard, layout-aware compaction,
# writer-scoped dynamic overwrite, canonical hour_key label
# --------------------------------------------------------------------------
def test_refresh_refuses_mixed_raw_layout(spark, tmp_path, sf_dir):
    """Landing a plain event_date layout next to an _increment_id-keyed
    store (or vice versa) makes the root unreadable — the write that would
    CREATE the mix must refuse, not corrupt."""
    from energy_data_stream_processing_spark.sources.adapter import energy_events
    from energy_data_stream_processing_spark.sources.sinks import (
        refresh_hourly_incremental,
    )

    ev = energy_events(spark, sf_dir).limit(50)
    raw = str(tmp_path / "raw")
    store = str(tmp_path / "metrics")
    refresh_hourly_incremental(spark, raw, store, ev, increment_id="b0")
    with pytest.raises(ValueError, match="keyed by _increment_id"):
        refresh_hourly_incremental(spark, raw, store, ev, increment_id=None)

    raw2 = str(tmp_path / "raw2")
    refresh_hourly_incremental(spark, raw2, store, ev, increment_id=None)
    with pytest.raises(ValueError, match="plain event_date layout"):
        refresh_hourly_incremental(spark, raw2, store, ev, increment_id="b1")


def test_compact_preserves_increment_keyed_layout(spark, tmp_path, sf_dir):
    """Compacting an _increment_id-keyed raw store must rewrite under BOTH
    partition columns: row counts hold and the root stays readable."""
    from energy_data_stream_processing_spark.sources.adapter import energy_events
    from energy_data_stream_processing_spark.sources.sinks import (
        compact_raw_store,
        refresh_hourly_incremental,
    )

    ev = energy_events(spark, sf_dir).limit(200)
    raw = str(tmp_path / "raw")
    store = str(tmp_path / "metrics")
    # repartition(4) -> up to 4 files per (increment, day) LEAF. (Round 15:
    # the audit is per leaf, not per day — N increments on one day is the
    # keyed layout's steady state, not an oversplit — so the increments
    # must genuinely oversplit their own leaves for compaction to trigger.)
    refresh_hourly_incremental(
        spark, raw, store, ev.limit(100).repartition(4), increment_id="b0"
    )
    refresh_hourly_incremental(
        spark, raw, store, ev.subtract(ev.limit(100)).repartition(4), increment_id="b1"
    )
    before = spark.read.parquet(raw).count()
    touched = compact_raw_store(spark, raw, max_files_per_partition=1)
    assert touched, "multi-increment days should compact"
    after_df = spark.read.parquet(raw)
    assert after_df.count() == before
    assert "_increment_id" in after_df.columns  # layout preserved


def test_compact_refuses_batch_id_only_store(spark, tmp_path):
    from energy_data_stream_processing_spark.sources.sinks import (
        compact_raw_store,
        foreach_batch_raw_append,
    )

    path = str(tmp_path / "rawb")
    foreach_batch_raw_append(path)(spark.range(5), 0)
    with pytest.raises(Exception, match="event_date"):
        compact_raw_store(spark, path)


def test_overwrite_partitions_is_writer_scoped(spark, tmp_path):
    """The dynamic overwrite must come from the WRITER option, with the
    session conf left in static mode — the shared-conf mutation raced
    concurrent foreachBatch sinks into full-table overwrites."""
    from energy_data_stream_processing_spark.sources.sinks import (
        overwrite_partitions,
    )

    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper()
        == "STATIC"
    )
    d = str(tmp_path / "t")
    spark.range(4).withColumn("p", F.col("id") % 2).write.partitionBy(
        "p"
    ).parquet(d)
    overwrite_partitions(
        spark.range(1).withColumn("p", F.lit(0)), d, "p"
    )
    rows = sorted((r["p"], r["id"]) for r in spark.read.parquet(d).collect())
    assert rows == [(0, 0), (1, 1), (1, 3)]  # p=1 survived
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").upper()
        == "STATIC"
    )


def test_migration_tolerates_trailing_slash(spark, tmp_path):
    from energy_data_stream_processing_spark.sources.sinks import (
        METRIC_COLUMNS,
        hour_partition_key,
        migrate_hour_store_keys,
    )
    from datetime import datetime

    store = str(tmp_path / "metrics")
    df = spark.createDataFrame(
        [(datetime(2024, 5, 1, 7, 0), *[1.0] * len(METRIC_COLUMNS))],
        schema=["hour", *METRIC_COLUMNS],
    )
    df.withColumn(
        "hour_key", F.date_format("hour", "yyyy-MM-dd-HH")
    ).write.partitionBy("hour_key").parquet(store)
    assert migrate_hour_store_keys(spark, store + "/") == 1
    assert spark.read.parquet(store).count() == 1


def test_hour_key_label_is_session_tz_invariant(spark, tmp_path):
    """The key label renders in UTC regardless of session tz: a store
    written under one tz and upserted under another must keep ONE
    partition per instant (a session-tz label silently doubled hours in a
    way the legacy guard cannot see)."""
    from datetime import datetime, timezone

    from energy_data_stream_processing_spark.sources.sinks import (
        METRIC_COLUMNS,
        read_hourly_metrics_parquet,
        upsert_hourly_metrics_parquet,
    )

    h = datetime(2024, 11, 3, 5, 0, tzinfo=timezone.utc).replace(tzinfo=None)
    df = spark.createDataFrame(
        [(h, *[1.0] * len(METRIC_COLUMNS))], schema=["hour", *METRIC_COLUMNS]
    )
    store = str(tmp_path / "metrics")
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        upsert_hourly_metrics_parquet(spark, df, store)
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        upsert_hourly_metrics_parquet(spark, df, store)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    import os

    keys = [d for d in os.listdir(store) if d.startswith("hour_key=")]
    assert len(keys) == 1, keys
    assert read_hourly_metrics_parquet(spark, store).count() == 1


def test_sessionize_stream_is_session_tz_invariant(spark, sf_dir):
    """The gap-sessionization stateful operator must produce identical
    sessions under any session tz. Before the round-14 tz-proofing the
    update fn did its gap/timeout arithmetic on Arrow-rendered WALL
    micros: under a negative-offset tz the registered timeout sat hours
    behind the epoch watermark (query death or silent late evictions),
    and DST-straddling gaps were mismeasured. Epoch micros now flow
    JVM-side in both directions."""
    q = _q("streaming_timeout_sessions").builder

    def run():
        # compare epoch micros, not collected datetimes: collect renders
        # timestamps through the session tz, which would shift BOTH a
        # correct and a broken run — the instants are the invariant
        df = q(spark, sf_dir).select(
            "user_id",
            F.unix_micros("session_start").alias("su"),
            F.unix_micros("session_end").alias("eu"),
            "n_events",
        )
        return sorted(
            (r["user_id"], r["su"], r["eu"], r["n_events"]) for r in df.collect()
        )

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        base = run()
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = run()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert base == ny
    assert len(base) > 0


def test_peak_hour_usage_not_floored_for_negative_energy(spark, tmp_path):
    """An hour whose energy events are all negative (corrections/exports)
    must report the true negative max, matching the batch oracle's
    coalesce(max(energy), 0) which floors ONLY when no energy rows exist.
    Pinned through the exact hourly stream over two micro-batches, so the
    max also merges across state updates; an hour with no energy rows
    still renders 0.0."""
    import os
    from datetime import datetime
    from decimal import Decimal

    from energy_data_stream_processing_spark.operators.hourly import (
        hourly_business_metrics,
    )
    from energy_data_stream_processing_spark.streaming.runner import (
        run_hourly_stream,
    )

    schema = (
        "event_time timestamp, event_type string, "
        "payment_amount decimal(10,2), energy_consumed decimal(10,3), "
        "customer_id string, session_id int, tariff_type string"
    )
    batches = [
        [
            (datetime(2024, 5, 1, 7, 10), "energy_consumed", None,
             Decimal("-2.500"), "C1", None, None),
            (datetime(2024, 5, 1, 8, 5), "user_login", None, None, "C2", 5, None),
        ],
        [
            (datetime(2024, 5, 1, 7, 40), "energy_consumed", None,
             Decimal("-1.500"), "C1", None, None),
        ],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(f"{stage}/{part}", str(src / f"b{i}.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = {r["hour"]: r for r in run_hourly_stream(spark, stream, horizon=None).collect()}
    want = {
        r["hour"]: r
        for r in hourly_business_metrics(
            spark.createDataFrame(batches[0] + batches[1], schema)
        ).collect()
    }
    assert got == want
    assert got[datetime(2024, 5, 1, 7)]["peak_hour_usage"] == -1.5
    assert got[datetime(2024, 5, 1, 8)]["peak_hour_usage"] == 0.0


def test_running_totals_skip_null_values(spark):
    """A null value row must not crash the cents accumulation (NaN ->
    astype(int64) raised) and must contribute count but not cents, the
    batch oracle's semantics. Drives the PRODUCTION update fn (the r14
    version of this test re-implemented the arithmetic inline and could
    not catch a dropna regression — r14 advice)."""
    import pandas as pd

    from energy_data_stream_processing_spark.streaming.runner import (
        _running_totals_update_fn,
    )
    from tests.test_round10_ops import _FakeGroupState

    fn = _running_totals_update_fn()
    state = _FakeGroupState(None)
    pdf = pd.DataFrame({"value": [1.25, None, 2.75]})
    out = list(fn((7,), iter([pdf]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    # count includes the null row; cents skip it (oracle sum() semantics)
    assert (row["user_id"], row["n_events"], row["total_cents"]) == (7, 3, 400)
    assert state.get == (3, 400)

    # second batch merges into existing state, nulls still skipped
    out2 = list(
        fn((7,), iter([pd.DataFrame({"value": [None, 0.50]})]), state)
    )
    assert out2[0].iloc[0]["total_cents"] == 450
    assert out2[0].iloc[0]["n_events"] == 5

"""Round-6 hardening: replay restart after the input grew, durable commit
watermark across TWO restarts (fake broker), per-session staging
isolation, composed LSH-candidate semantic dedup, single-corpus-scan BPE
plan."""

from __future__ import annotations

import json

import pytest

_N_LINES = 9


@pytest.fixture()
def replay_fixture(tmp_path):
    p = tmp_path / "events.jsonl"
    lines = [
        json.dumps(
            {
                "event_type": "user_login",
                "event_time": f"2024-01-01T00:00:{i:02d}",
                "payload": {"customer_id": f"C{i}"},
            }
        )
        for i in range(_N_LINES)
    ]
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_replay_restart_with_file_growth_e2e(spark, replay_fixture, tmp_path):
    """END-TO-END through Spark's own checkpoint: drain the replay stream,
    stop, APPEND new lines to the file, restart from the same checkpoint
    and segment directory. The restart stages only the appended lines as
    new segments, and the seen-files log skips the drained ones, so the
    restarted query must emit EXACTLY the appended lines, once; a third
    run with nothing new must emit nothing."""
    from energy_data_stream_processing_spark.sources.replay_source import (
        replay_stream,
    )

    ckpt = str(tmp_path / "ckpt")
    seen: list = []

    def fold(df, batch_id):
        seen.extend(r.value for r in df.collect())

    def file_lines():
        with open(replay_fixture) as f:
            return sorted(f.read().splitlines())

    def run_once():
        q = (
            replay_stream(spark, replay_fixture, str(tmp_path / "_replay"), 2)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    assert sorted(seen) == file_lines() and len(seen) == _N_LINES

    extra = [
        json.dumps(
            {
                "event_type": "user_login",
                "event_time": f"2024-01-01T01:00:{i:02d}",
                "payload": {"customer_id": f"X{i}"},
            }
        )
        for i in range(3)
    ]
    with open(replay_fixture, "a") as f:
        f.write("\n".join(extra) + "\n")

    run_once()  # restart #1: must emit exactly the 3 appended lines
    assert sorted(seen) == file_lines() and len(seen) == _N_LINES + 3, (
        f"after restart with growth: {sorted(seen)}"
    )
    run_once()  # restart #2: nothing new — must emit nothing
    assert len(seen) == _N_LINES + 3


def test_kafka_fake_two_restart_floor(tmp_path):
    """Same durable-floor contract for the file-backed broker's paced
    reader (maxOffsetsPerTrigger pacing has the identical regressed-cursor
    hazard)."""
    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    topic_dir = tmp_path / "broker" / "events"
    topic_dir.mkdir(parents=True)
    recs = [json.dumps({"key": None, "value": "dGVzdA=="}) for _ in range(8)]
    (topic_dir / "batch-0.jsonl").write_text("\n".join(recs) + "\n")
    opts = {
        "kafka.bootstrap.servers": str(tmp_path / "broker"),
        "subscribe": "events",
        "maxOffsetsPerTrigger": "2",
    }

    r1 = _FakeKafkaStreamReader(opts)
    end = r1.latestOffset()
    assert end["topics"]["events"] == 2
    r1.commit(end)
    end = r1.latestOffset()
    assert end["topics"]["events"] == 4
    r1.commit(end)

    r2 = _FakeKafkaStreamReader(opts)  # restart: fresh cursor
    assert r2.latestOffset()["topics"]["events"] >= 4


@pytest.mark.parametrize(
    "provider",
    [
        None,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    ],
    ids=["hdfs-state", "rocksdb-state"],
)
def test_stateful_hourly_checkpoint_restart(spark, sf_dir, tmp_path, provider):
    """Mid-stream kill-and-resume for the STATEFUL hourly-metrics stream
    (the one streaming family that previously had no explicit restart
    test): run the update-mode exact hourly stream over the first half
    of the time-ordered chunks through the parquet upsert sink, stop, add
    the second half, restart from the SAME checkpoint. The resumed query
    must read ONLY the new chunks (offsets recovered) and the final store
    must equal the one-pass batch aggregation (hour state recovered and
    merged — hours spanning the kill point prove it). Runs under both the
    default HDFS-backed provider and RocksDB."""
    import os
    from contextlib import nullcontext

    from pyspark.sql import functions as F

    from energy_data_stream_processing_spark.operators.hourly import (
        hourly_business_metrics,
    )
    from energy_data_stream_processing_spark.sources.adapter import (
        energy_events,
        normalize_event_ts,
    )
    from energy_data_stream_processing_spark.sources.sinks import (
        _conf_override,
        foreach_batch_upsert,
        read_hourly_metrics_parquet,
    )
    from energy_data_stream_processing_spark.streaming.runner import (
        energy_events_stream,
        hourly_metrics_stream,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # normalized-ts chunks, same recipe as the late-arrivals test — the
    # stream source's conversion tolerates both the raw and normalized shape
    raw = normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    ts_us = F.unix_micros(F.col("ts"))
    mid = raw.withColumn("_us", ts_us).approxQuantile("_us", [0.5], 0.0)[0]
    first = raw.where(ts_us < mid)
    second = raw.where(ts_us >= mid)
    # the kill point must fall INSIDE at least one hour, else restart
    # never has to merge recovered state with new rows
    hour_of = F.date_trunc("hour", F.col("ts")).alias("h")
    boundary_hours = (
        first.select(hour_of).intersect(second.select(hour_of)).count()
    )
    assert boundary_hours > 0, "split landed on an hour boundary"

    src = tmp_path / "src"
    src.mkdir()

    def add_chunk(df, name):
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        os.rename(f"{stage}/{part}", str(src / f"{name}.parquet"))

    ckpt = str(tmp_path / "ckpt")
    store = str(tmp_path / "metrics_store")

    def run_once():
        ev = energy_events_stream(
            spark, sf_dir, source_dir=str(src), max_files_per_trigger=1
        )
        q = (
            hourly_metrics_stream(ev, horizon=None)
            .drop("_rows_total")
            .writeStream.foreachBatch(foreach_batch_upsert(store))
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return q

    ctx = (
        _conf_override(
            spark, "spark.sql.streaming.stateStore.providerClass", provider
        )
        if provider
        else nullcontext()
    )
    with ctx:
        add_chunk(first, "chunk_a")
        run_once()
        add_chunk(second, "chunk_b")
        q2 = run_once()

    # restart read ONLY the new chunk
    resumed = sum(p["numInputRows"] for p in q2.recentProgress)
    assert resumed == second.count(), (
        f"restart reprocessed data: read {resumed}, expected {second.count()}"
    )
    got = sorted(map(tuple, read_hourly_metrics_parquet(spark, store).collect()))
    want = sorted(
        map(tuple, hourly_business_metrics(energy_events(spark, sf_dir)).collect())
    )
    assert got == want


def test_semantic_dedup_lsh_planted_cluster(spark):
    """End-to-end recall gate for the composed LSH dedup pipeline on a
    PLANTED duplicate mega-cluster: k near-identical copies (one word
    varied, jaccard >> 0.5 pairwise) mixed with unrelated distractors must
    come back as ONE component keeping the longest copy and dropping the
    other k-1; distractors must not join the cluster."""
    from pyspark.sql import functions as F

    from energy_data_stream_processing_spark.operators.dedup import (
        component_scores,
        keep_longest_ord,
        minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    k = 10
    rows = [(i, base.replace("today", f"variant{i % 3}")) for i in range(k)]
    # one strictly longer copy the keep rule must select — with a doc_id
    # ABOVE 1e8 (the old n_words*1e8-doc_id composite key inverted the
    # ordering exactly there and would keep a shorter copy instead)
    big_id = 300_000_000
    rows.append((big_id, base + " with one extra trailing clause appended"))
    distractors = [
        (100 + i, f"completely unrelated document number {i} about solar tariffs and billing cycles {i}")
        for i in range(5)
    ]
    docs = spark.createDataFrame(rows + distractors, "doc_id long, text string")

    scored = component_scores(docs, minhash_lsh_pairs(docs, threshold=0.5))
    clusters = (
        scored.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max_by("doc_id", keep_longest_ord()).alias("keep_doc_id"),
        )
        .where(F.col("cluster_size") > 1)
        .collect()
    )
    assert len(clusters) == 1, f"expected one planted cluster, got {clusters}"
    c = clusters[0]
    assert c.component_id == 0 and c.cluster_size == k + 1
    assert c.keep_doc_id == big_id  # the longest copy wins, even at id >= 1e8


def test_bpe_single_corpus_scan_plan(spark, sf_dir):
    """The BPE trainer's word-vocab aggregate is persisted, so all
    _BPE_MERGES merge-rank branches read the vocab CACHE instead of
    re-running the corpus tokenize+groupBy: the executed plan must contain
    exactly ONE distinct parquet scan node (the documents read inside the
    single InMemoryRelation) — before the persist there was one per branch."""
    import re

    from energy_data_stream_processing_spark.plans.catalog import all_queries

    df = all_queries()["bpe_merge_induction"].builder(spark, sf_dir)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    scan_ids = set(re.findall(r"Scan parquet\s*\((\d+)\)", plan))
    assert len(scan_ids) == 1, (
        f"expected one distinct corpus scan, saw node ids {sorted(scan_ids)}"
    )
    assert "InMemoryTableScan" in plan


def test_curation_pipeline_invariants(spark, sf_dir):
    """The composed curation pipeline (bench.py's end-to-end wall-clock
    entry) must satisfy its conservation laws: every curated doc lands in
    exactly one bin (doc totals match an independent re-derivation of the
    curated set), no bin exceeds the context window, and splits partition
    the docs via the same hash gate as train_val_test_split."""
    from pyspark.sql import functions as F

    from energy_data_stream_processing_spark.plans.sampling_queries import (
        curation_pipeline_full,
    )

    out = {r.split: r for r in curation_pipeline_full(spark, sf_dir).collect()}
    assert set(out) <= {"train", "val", "test"} and "train" in out
    for r in out.values():
        assert 0 < r.mean_utilization <= 1.0
        assert r.n_docs >= r.n_bins > 0

    # conservation through the packing stage: the curated doc set (same
    # upstream stages, each oracle-gated individually elsewhere) must land
    # in bins with NO doc lost or duplicated and NO token created — the
    # applyInPandas FFD fan-out is the genuinely new surface here.
    from energy_data_stream_processing_spark.operators.text import bpe_tokens
    from energy_data_stream_processing_spark.plans.sampling_queries import (
        curated_document_set,
    )

    curated = curated_document_set(spark, sf_dir)
    want = curated.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.least(F.size(bpe_tokens(F.col("text"))).cast("long"), F.lit(256))
        ).alias("tok"),
    ).collect()[0]
    assert sum(r.n_docs for r in out.values()) == want["n"]
    assert sum(r.total_tokens for r in out.values()) == want["tok"]


@pytest.mark.parametrize(
    "gate_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_multimodal_oracle_ascii_invariant(spark, gate_dir):
    """The multimodal oracles (decode_stub, frame_sample, phash) express
    the fake codec's BYTE arithmetic with DuckDB's CHARACTER-based
    length()/substr()/ord() — value-exact iff every document is pure
    single-byte text. Pin that invariant executably: any non-ASCII char in
    a regenerated corpus fails HERE with the offending doc_id instead of
    silently desynchronizing byte offsets in the driver gate."""
    import os

    from pyspark.sql import functions as F

    if not os.path.isdir(gate_dir):
        pytest.skip(f"{gate_dir} not generated")
    docs = spark.read.parquet(os.path.join(gate_dir, "documents.parquet"))
    bad = (
        docs.where(F.octet_length("text") != F.length("text"))
        .select("doc_id")
        .limit(5)
        .collect()
    )
    assert not bad, (
        f"non-ASCII documents {[r.doc_id for r in bad]} in {gate_dir} — the "
        "char-based multimodal oracles no longer equal the byte-based fake "
        "codec; rewrite them over an explicit byte projection"
    )


@pytest.mark.parametrize(
    "gate_dir",
    [
        # sf0.001 pins the recall fact for the pytest-differential corpus
        # too (COVERAGE.md claims semantic_dedup_lsh green there as well)
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ],
)
def test_lsh_oracle_full_recall_guard(spark, gate_dir):
    """dedup_incremental_minhash / streaming_incremental_dedup gate their
    value-exact DuckDB oracles on the EMPIRICAL fact that the 16-band/2-row
    MinHash-LSH finds every exact-Jaccard pair >= 0.5 in the driver corpora
    (banding collision probability at the j=0.5 knee is ~0.99 per pair — a
    miss is possible in principle, not structurally excluded). This guard
    re-verifies the fact directly at both gate scales: if the corpus is
    regenerated with a knee pair that slips all 16 bands, THIS fails with a
    named pair instead of an opaque driver hash mismatch."""
    import os

    from energy_data_stream_processing_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    if not os.path.isdir(gate_dir):
        pytest.skip(f"{gate_dir} not generated")
    docs = spark.read.parquet(os.path.join(gate_dir, "documents.parquet"))
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    found = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    missed = exact - found
    assert not missed, (
        f"LSH banding missed exact-Jaccard>=0.5 pairs {sorted(missed)[:5]} in "
        f"{gate_dir} — the value-exact incremental-dedup oracles no longer "
        "hold on this corpus; raise the gate threshold above the banding knee"
    )

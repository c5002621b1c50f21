"""Round-5 hardening: SCD2 replay idempotence (at-least-once delivery),
candidate-verification broadcast-size guard, IVF hash-mod training-sample
determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from energy_data_stream_processing_spark.sources.sinks import _conf_override


def _scd2_state(spark, store):
    cols = ["customer_id", "tariff_type", "valid_from", "valid_to", "version", "is_current"]
    return sorted(map(tuple, spark.read.parquet(store).select(*cols).collect()))


def test_scd2_increment_replay_idempotent(spark, sf_dir, tmp_path):
    """At-least-once delivery: applying the SAME increment twice must leave
    the store identical to applying it once (and equal to the batch build)
    — a redelivery must not mint duplicate versions or zero-length ranges."""
    from energy_data_stream_processing_spark.operators.scd2 import (
        scd2_apply_increment,
        scd2_build,
        scd2_init_store,
    )
    from energy_data_stream_processing_spark.sources.adapter import energy_events

    ev = energy_events(spark, sf_dir)
    sw = ev.where(F.col("event_type") == "tariff_switch").select(
        "customer_id", "tariff_type", "event_time", "event_id"
    )
    base = sw.where(F.col("event_id") % 4 != 0)
    late = sw.where(F.col("event_id") % 4 == 0)
    assert late.count() > 0
    store = str(tmp_path / "dim")
    scd2_init_store(spark, store, base)
    scd2_apply_increment(spark, store, late)
    once = _scd2_state(spark, store)
    scd2_apply_increment(spark, store, late)  # redelivery
    twice = _scd2_state(spark, store)
    cols = ["customer_id", "tariff_type", "valid_from", "valid_to", "version", "is_current"]
    want = sorted(map(tuple, scd2_build(sw).select(*cols).collect()))
    assert twice == once == want


def test_lsh_broadcast_guard_fallback_engages(spark):
    """A planted duplicate mega-cluster (k near-identical docs -> ~k^2/2
    candidate pairs) must trip the measured broadcast-size guard: with the
    pair count above the limit the verification join is planned WITHOUT a
    broadcast (shuffle join — no driver/executor OOM risk from
    broadcasting an unbounded candidate frame); under the limit the hint
    engages; and the default AQE mode plans no unconditional hint. Results
    are identical in all three modes."""
    from energy_data_stream_processing_spark.operators.dedup import minhash_lsh_pairs

    k = 12  # 66 pairs
    rows = [(i, "the quick brown fox jumps over the lazy dog variant %d" % (i % 2))
            for i in range(k)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with _conf_override(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        hinted = minhash_lsh_pairs(docs, threshold=0.015, broadcast_limit=10**9)
        plan_hinted = hinted._jdf.queryExecution().executedPlan().toString()
        guarded = minhash_lsh_pairs(docs, threshold=0.015, broadcast_limit=10)
        plan_guarded = guarded._jdf.queryExecution().executedPlan().toString()
        aqe = minhash_lsh_pairs(docs, threshold=0.015)  # default: AQE sizes it
        plan_aqe = aqe._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_hinted
        assert "BroadcastHashJoin" not in plan_guarded
        assert "BroadcastHashJoin" not in plan_aqe  # no unconditional hint
        r_h = sorted(map(tuple, hinted.collect()))
        assert r_h == sorted(map(tuple, guarded.collect()))
        assert r_h == sorted(map(tuple, aqe.collect()))
        assert len(r_h) > 0


def test_streaming_stateful_under_rocksdb_state_store(spark, sf_dir):
    """The stateful streaming gate must produce identical results under the
    RocksDB state-store provider (the 100 TB default: state spills to disk
    instead of growing the JVM heap) as under the default HDFS-backed
    in-memory provider. Exercises provider load, per-batch commit, and
    state round-trip through RocksDB."""
    from energy_data_stream_processing_spark.plans.catalog import all_queries

    # streaming_hourly_bounded adds watermark eviction to the round-trip:
    # evicted hours must also commit/restore via RocksDB
    for name in ("streaming_hourly_metrics", "streaming_hourly_bounded"):
        q = all_queries()[name]
        base = sorted(map(tuple, q.builder(spark, sf_dir).collect()))
        with _conf_override(
            spark,
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        ):
            rocks = sorted(map(tuple, q.builder(spark, sf_dir).collect()))
        assert rocks == base and len(rocks) > 0, name


def test_ivf_training_sample_deterministic_and_sortfree(spark, sf_dir):
    """The smallest-hash training sample must yield identical centroids
    across calls (no RNG, no partition-order dependence), must not plan a
    range-partitioned global sort or ANY shuffle over the corpus (the
    orderBy(hash).limit(cap) compiles to TakeOrderedAndProject — a
    per-partition top-cap heap merged on the driver), and must need no
    separate sizing count() scan."""
    import io
    from contextlib import redirect_stdout

    import numpy as np

    from energy_data_stream_processing_spark.operators.similarity import (
        _train_ivf_centroids,
    )
    from energy_data_stream_processing_spark.sources.adapter import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    c1 = _train_ivf_centroids(emb, nlist=8)
    c2 = _train_ivf_centroids(emb, nlist=8)
    assert np.array_equal(c1, c2) and c1.shape[0] == 8
    # the sampling plan: one narrow scan, heap-based top-k, shuffle-free
    sample = (
        emb.select("vec_id", "embedding")
        .orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(2048)
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        sample.explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan, "corpus shuffle in the sampling plan"


def test_bpe_merges_match_reference_implementation(spark, sf_dir):
    """The distributed BPE induction must equal a pure-Python reference BPE
    (word counts -> char symbols + </w> -> greedy most-frequent-pair
    merges with (count desc, pair asc) tie-break) — ground truth
    independent of BOTH engines."""
    import collections

    from energy_data_stream_processing_spark.plans.catalog import all_queries
    from energy_data_stream_processing_spark.sources.adapter import load_table

    got = sorted(
        map(tuple, all_queries()["bpe_merge_induction"].builder(spark, sf_dir).collect())
    )
    vocab = collections.Counter()
    for (t,) in load_table(spark, sf_dir, "documents").select(F.lower(F.trim("text"))).collect():
        for w in t.split(" "):
            if w:
                vocab[w] += 1
    state = {w: tuple(list(w) + ["</w>"]) for w in vocab}
    want = []
    for rank in range(1, 7):
        pc = collections.Counter()
        for w, syms in state.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += vocab[w]
        (a, b), n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        want.append((rank, a, b, a + b, n))
        nxt = {}
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[w] = tuple(out)
        state = nxt
    assert got == sorted(want)


def test_substring_windows_catch_planted_copy(spark):
    """A 60-char verbatim span copied between two documents must surface as
    a pair with exactly 60-40+1 = 21 shared windows; an unrelated document
    must not pair with either."""
    from energy_data_stream_processing_spark.operators.dedup import (
        substring_window_pairs,
    )

    span = "The quick brown fox jumps over the lazy dog #00042 and naps."
    assert len(span) == 60 and len(set(span)) > 1
    # boundary characters deliberately DIFFER between the two docs so only
    # windows fully inside the span match (a shared boundary char would add
    # windows straddling the copy)
    docs = spark.createDataFrame(
        [
            (1, "prefix one here:" + span + "Xsuffix alpha."),
            (2, "totally different lead-in " + span + " and another tail."),
            (3, "no overlap with anyone else at all in this entirely distinct text body."),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_windows"]
        for r in substring_window_pairs(docs, window=40).collect()
    }
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)] == 21


def test_epoch_shuffle_partitions_and_reshuffles(spark, sf_dir):
    """Every epoch assigns every document exactly once; positions are dense
    per (epoch, shard); different epochs produce genuinely different
    orders; and the assignment is deterministic across invocations."""
    from energy_data_stream_processing_spark.plans.catalog import all_queries
    from energy_data_stream_processing_spark.sources.adapter import load_table

    q = all_queries()["epoch_shuffle_assignment"]
    rows = q.builder(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append(r)
    assert set(by_epoch) == {0, 1, 2}
    for e, rs in by_epoch.items():
        assert len(rs) == n_docs and len({r.doc_id for r in rs}) == n_docs
        per_shard = {}
        for r in rs:
            per_shard.setdefault(r.shard, []).append(r.position)
        for shard, pos in per_shard.items():
            assert sorted(pos) == list(range(len(pos))), (e, shard)
    order0 = [r.doc_id for r in sorted(by_epoch[0], key=lambda r: (r.shard, r.position))]
    order1 = [r.doc_id for r in sorted(by_epoch[1], key=lambda r: (r.shard, r.position))]
    assert order0 != order1  # epochs genuinely reshuffle
    again = sorted(map(tuple, q.builder(spark, sf_dir).collect()))
    assert again == sorted(map(tuple, rows))


def test_semantic_dedup_keeps_max_norm_member(spark, sf_dir):
    """Each reported cluster's keep must be a member of its own component
    with the maximum L2 norm (vec_id tiebreak), and cluster sizes must
    account every component member."""
    import math

    from energy_data_stream_processing_spark.plans.catalog import all_queries
    from energy_data_stream_processing_spark.sources.adapter import load_table

    rows = all_queries()["semantic_dedup_keep"].builder(spark, sf_dir).collect()
    assert rows
    emb = {
        r["vec_id"]: r["embedding"]
        for r in load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300).collect()
    }
    # independent reconstruction of components from the pairs entry
    pairs = all_queries()["embedding_similar_pairs"].builder(spark, sf_dir).collect()
    parent = {v: v for v in emb}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for p in pairs:
        a, b = find(p["vec_a"]), find(p["vec_b"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    comps = {}
    for v in emb:
        comps.setdefault(find(v), []).append(v)
    multi = {min(ms): ms for ms in (sorted(m) for m in comps.values()) if len(ms) > 1}
    got = {r["component_id"]: r for r in rows}
    assert set(got) == set(multi)
    for cid, members in multi.items():
        r = got[cid]
        assert r["cluster_size"] == len(members)
        norms = {v: math.sqrt(sum(float(x) * float(x) for x in emb[v])) for v in members}
        best = sorted(members, key=lambda v: (-norms[v], v))[0]
        assert r["keep_vec_id"] == best
        assert r["dropped"] == len(members) - 1


def test_streaming_scd2_equals_batch_build(spark, sf_dir):
    """The streaming SCD2 fold over hash-interleaved micro-batches must
    leave the store equal to the one-shot batch build — the stream≡batch
    law for dimension maintenance."""
    from energy_data_stream_processing_spark.operators.scd2 import scd2_build
    from energy_data_stream_processing_spark.plans.catalog import all_queries
    from energy_data_stream_processing_spark.sources.adapter import energy_events

    got = sorted(
        map(
            tuple,
            all_queries()["streaming_scd2_maintenance"].builder(spark, sf_dir).collect(),
        )
    )
    sw = energy_events(spark, sf_dir).where(
        F.col("event_type") == "tariff_switch"
    ).select("customer_id", "tariff_type", "event_time", "event_id")
    cols = ["customer_id", "tariff_type", "valid_from", "valid_to", "version", "is_current"]
    want = sorted(map(tuple, scd2_build(sw).select(*cols).collect()))
    assert got == want and len(got) > 0


def test_substring_windows_max_df_caps_boilerplate(spark):
    """With max_df set, windows shared by more than max_df documents must
    drop out of the pair index: planted boilerplate across 5 docs pairs
    everyone without the cap and no one with max_df=3."""
    from energy_data_stream_processing_spark.operators.dedup import (
        substring_window_pairs,
    )

    chrome = "SITE NAVIGATION HEADER chrome v1.2 - about | contact | legal."
    docs = spark.createDataFrame(
        [(i, chrome + f" unique body text number {i} with no other overlap at all.")
         for i in range(5)],
        "doc_id long, text string",
    )
    uncapped = substring_window_pairs(docs, window=40).collect()
    assert len(uncapped) == 10  # all C(5,2) pairs welded by the boilerplate
    capped = substring_window_pairs(docs, window=40, max_df=3).collect()
    assert capped == []


def test_dedup_impact_report_consistency(spark, sf_dir):
    """The impact report's counts must be internally consistent and agree
    with the exact_dedup operator's keep set."""
    from energy_data_stream_processing_spark.operators.dedup import exact_dedup
    from energy_data_stream_processing_spark.plans.catalog import all_queries
    from energy_data_stream_processing_spark.sources.adapter import load_table

    r = all_queries()["dedup_impact_report"].builder(spark, sf_dir).collect()[0]
    docs = load_table(spark, sf_dir, "documents")
    ded = exact_dedup(docs)
    assert r.n_docs_before == docs.count()
    assert r.n_docs_after == ded.count()
    assert r.n_dup_clusters == ded.where(F.col("has_duplicates")).count()
    assert 0.0 <= r.docs_removed_share < 1.0
    assert 0.0 <= r.tokens_removed_share < 1.0
    assert r.n_tokens_after <= r.n_tokens_before


def test_knn_label_consistency_flags_planted_mislabel(spark):
    """A vector placed inside a tight same-direction cluster but carrying a
    DIFFERENT label must be flagged (agreement 0); cluster members with
    consistent labels must not be."""
    from energy_data_stream_processing_spark.operators.similarity import cosine_topk

    # two tight clusters along orthogonal axes, 6 members each
    rows = []
    for i in range(6):
        rows.append((i, "A" if i != 5 else "B",
                     [1.0, 0.001 * i] + [0.0] * 62))       # cluster on axis 0
    for i in range(6, 12):
        rows.append((i, "B", [0.001 * i, 1.0] + [0.0] * 62))  # cluster on axis 1
    emb = spark.createDataFrame(rows, "vec_id long, label string, embedding array<float>")

    topk = cosine_topk(emb, num_queries=12, k=5)
    from pyspark.sql import functions as SF
    labels = emb.select("vec_id", "label")
    joined = (
        topk.join(labels.selectExpr("vec_id AS query_id", "label AS qlabel"), "query_id")
        .join(labels.selectExpr("vec_id AS neighbor_id", "label AS nlabel"), "neighbor_id")
    )
    agree = SF.count(SF.when(SF.col("nlabel") == SF.col("qlabel"), 1))
    out = {
        r["vec_id"]: (r["n_agree"], r["flagged"])
        for r in joined.groupBy(SF.col("query_id").alias("vec_id"))
        .agg(agree.cast("long").alias("n_agree"),
             ((agree / SF.lit(5.0)) < 0.4).alias("flagged"))
        .collect()
    }
    assert out[5] == (0, True)          # the mislabeled cluster member
    assert all(not out[i][1] for i in range(5))   # consistent A members
    assert all(not out[i][1] for i in range(6, 12))


def test_rbo_eval_identity_and_bounds(spark, sf_dir):
    """RBO of a ranking against ITSELF must be exactly 1.0 for every query;
    the truncated-retriever RBO must lie in [0, 1] and never exceed what a
    full overlap would give."""
    from energy_data_stream_processing_spark.operators.similarity import cosine_topk
    from energy_data_stream_processing_spark.plans.catalog import all_queries
    from energy_data_stream_processing_spark.plans.training_queries import (
        _RBO_CASE_SQL,
    )
    from energy_data_stream_processing_spark.sources.adapter import load_table

    rows = all_queries()["retrieval_rbo_eval"].builder(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert 0.0 <= r.rbo_at_5 <= 1.0 + 1e-12
        assert (r.n_matched == 0) == (r.rbo_at_5 == 0.0)
    # identity: exact vs exact scores exactly 1.0
    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, num_queries=20, k=5)
    a = exact.selectExpr("query_id", "neighbor_id AS nid", "rank AS ra")
    b = exact.selectExpr("query_id", "neighbor_id AS nid", "rank AS rb")
    ident = (
        a.join(b, ["query_id", "nid"])
        .selectExpr("query_id", f"{_RBO_CASE_SQL} AS w")
        .groupBy("query_id")
        .agg(F.sum("w").alias("rbo"))
        .collect()
    )
    assert all(abs(r.rbo - 1.0) < 1e-12 for r in ident)

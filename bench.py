"""Benchmark runner — driver contract.

Runs the catalog's headline queries on ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) with ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
COMPACT JSON line (<= 1,800 chars — the driver stores a 2,000-char stdout
tail): ``{"metric": ..., "value": total_sec, "unit": "sec", "queries":
{name: sec, ...}, "sf": ..., "canary": ..., "wq_per_canary": ...,
"gate": ..., "rungs_sec": ..., "rungs_per_canary": ...}``. The full
result — per-rung per-query timings, ladder reps, curation stage deltas,
rung metadata — is written to ``BENCH_DETAIL.json`` alongside and
committed each round.

Each query is materialized with the noop sink (full execution, no driver-side
collect bottleneck). First timing includes Spark plan + scan; that is the
realistic cold path the driver grades.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import Window
from pyspark.sql import functions as F

from energy_data_stream_processing_spark.plans.catalog import all_queries
from energy_data_stream_processing_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_TMP_DIRS: list[str] = []


def _scaled_dir(sf_dir: str, scaled_table: str) -> str:
    """Temp table dir for a scale probe: every base table symlinked except
    ``scaled_table``, which the caller writes scaled-up. Registered for
    removal at interpreter exit (atexit, so an exception mid-run still
    cleans up — the probes leak multi-hundred-MB dirs otherwise)."""
    import atexit
    import tempfile

    if not _TMP_DIRS:
        atexit.register(_cleanup_tmp_dirs)
    d = tempfile.mkdtemp(prefix=f"bench-ladder-{scaled_table}-")
    _TMP_DIRS.append(d)
    for t in TABLES:
        if t != scaled_table:
            os.symlink(f"{sf_dir}/{t}.parquet", f"{d}/{t}.parquet")
    return d


def _cleanup_tmp_dirs() -> None:
    import shutil

    for d in _TMP_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def _committed_baseline_ratios(sf: float) -> tuple[dict[str, float], str]:
    """Reference ratios for the canary-ratio gate: the committed
    ``bench_canary_baseline.json`` snapshot (a controlled full run's
    ``warm_queries_per_canary``, refreshed each round). The driver's
    BENCH_r*.json artifacts can't serve here — they store a TRUNCATED
    stdout tail, not parseable JSON. Ratios are sf-specific, so a
    baseline taken at a different scale factor is ignored rather than
    mis-alerted against."""
    p = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_canary_baseline.json")
    try:
        with open(p) as f:
            base = json.load(f)
        if not isinstance(base, dict):
            return {}, ""
        if abs(float(base.get("sf", -1.0)) - sf) > 1e-9:
            return {}, ""
        ratios = base.get("warm_queries_per_canary") or {}
        if not isinstance(ratios, dict):
            return {}, ""
        # value-level validation too: a single non-numeric/bool entry must
        # be dropped, not crash main()'s `> 0` comparisons later
        ratios = {
            k: float(v)
            for k, v in ratios.items()
            if isinstance(v, (int, float)) and not isinstance(v, bool)
        }
        return ratios, str(base.get("label", ""))
    except (OSError, ValueError, TypeError, OverflowError):
        # best-effort gate: a malformed baseline is ignored, never fatal
        # (OverflowError: float() of an absurd JSON bigint ratio)
        return {}, ""


# VM-drift canary (round-11 verdict item 4). A FROZEN synthetic plan —
# deterministic spark.range data, NO table reads, and the plan inside
# must NEVER change across rounds — timed cold (first run after the
# warmups) and warm (median of reps). Because the plan is constant, any
# cross-round movement in canary_sec is the MACHINE, not the engine:
# per-query drift diagnosis divides by the canary instead of the prose
# triangulation rounds 10-11 needed. The shape deliberately spans the
# hot paths the catalog leans on: codegen expressions (sha2), Expand +
# two-phase distinct agg, decimal sums, a shuffle, and a global sort.
# Module-level and importable (round 15) so replicate tooling
# (scripts/cosine_warm_replicate.py) times the SAME denominator instead
# of a copy that could drift.
def frozen_canary_run(spark) -> float:
    t0 = time.perf_counter()
    (
        spark.range(0, 3_000_000)
        .select(
            (F.col("id") % 9973).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("h"),
            (F.col("id") % 997).cast("decimal(12,2)").alias("amt"),
        )
        .groupBy("k")
        .agg(
            F.count_distinct("h").alias("nh"),
            F.sum("amt").alias("s"),
            F.max("h").alias("mx"),
        )
        .orderBy(F.desc("s"), "k")
        .limit(100)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("energy-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Session warmup: JVM/codegen/noop-sink/parquet-reader initialization.
    # Keeps per-query timings about the queries (each still pays its own
    # plan + scan cost), not about first-job executor spin-up. The tiny
    # region table warms the parquet read path without touching any table
    # a benchmarked query scans.
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    spark.read.parquet(f"{sf_dir}/region.parquet").write.format("noop").mode("overwrite").save()
    # Shaped synthetic warmups on spark.range data (no benchmarked table is
    # touched): JIT-compile the codegen paths the catalog leans on — Expand +
    # two-phase distinct aggregation, decimal sums, date_trunc, and window
    # functions — so the first timed query measures the query, not HotSpot.
    spark.range(20000).selectExpr(
        "id", "timestamp_micros(id * 1000000) AS ts", "cast(id % 97 AS string) AS k"
    ).groupBy("k").agg(
        F.count_distinct("ts"),
        F.count_distinct("id"),
        F.sum(F.col("id").cast("decimal(18,2)")),
        F.max(F.date_trunc("hour", "ts")),
    ).write.format("noop").mode("overwrite").save()
    w = Window.partitionBy(F.expr("id % 7")).orderBy("id")
    spark.range(20000).select(
        F.row_number().over(w).alias("rn"),
        F.lag("id").over(w).alias("lg"),
        F.sum("id").over(w.rowsBetween(-23, 0)).alias("roll"),
    ).write.format("noop").mode("overwrite").save()
    # JIT the energy adapter + hourly-metrics expression tree on a synthetic
    # events-shaped frame (same SQL, same aggregate shapes, zero rows from
    # any benchmarked table).
    from energy_data_stream_processing_spark.operators.hourly import (
        hourly_business_metrics,
    )
    from energy_data_stream_processing_spark.sources.adapter import ENERGY_EVENTS_SQL

    fake = spark.range(5000).selectExpr(
        "id AS event_id",
        "timestamp_micros(id * 60000000) AS ts",
        "id % 97 AS user_id",
        "element_at(array('click','purchase','error','signup','view'), cast(id % 5 AS int) + 1) AS event_type",
        "cast(id % 1000 AS double) / 10 AS value",
        "'{}' AS props",
    )
    warm_ev = spark.sql(ENERGY_EVENTS_SQL.replace("FROM events", "FROM {events}"), events=fake)
    hourly_business_metrics(
        warm_ev.withColumnRenamed("event_time", "event_time")
    ).write.format("noop").mode("overwrite").save()
    # ... and the customer_view wide aggregation (the other big codegen unit).
    from energy_data_stream_processing_spark.plans.energy_queries import (
        customer_view_from_events,
    )

    customer_view_from_events(warm_ev).write.format("noop").mode("overwrite").save()
    # ... and the broadcast-join machinery (BroadcastExchange build +
    # BroadcastHashJoin codegen) plus TakeOrderedAndProject and grouped
    # decimal sums — the paths the TPC-H-shaped headline queries lean on.
    # Synthetic spark.range frames only; no benchmarked table is touched.
    dim = spark.range(100).selectExpr("id AS k", "cast(id AS string) AS name")
    fact = spark.range(50000).selectExpr(
        "id % 100 AS k", "cast(id % 997 AS decimal(12,2)) AS amt"
    )
    (
        fact.join(F.broadcast(dim), "k")
        .groupBy("name")
        .agg(F.count_distinct("k"), F.sum("amt"))
        .orderBy(F.desc("name"))
        .limit(10)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # ... and the shapes the dedup/similarity headline queries lean on
    # (round 17, VERDICT r16 item 1: warm the hottest GENERATED shapes on
    # synthetic frames so the timed cold pass measures the query, not the
    # SQL parse + janino + HotSpot C2 compile of its first execution; no
    # benchmarked table is touched — spark.range data only).
    #
    # (a) the unrolled 64-term cosine scoring expression (a ~12k-char
    # generated method: parse memoized per JVM via similarity.parsed_expr,
    # compile + C2 warmed here) plus the BNLJ + window-top-k frame around
    # it — the embedding_cosine_topk / ann verify shape;
    from energy_data_stream_processing_spark.operators.similarity import (
        cosine_topk,
    )

    fake_emb = spark.range(48).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 63), i -> cast(pmod(id * 31 + i, 97) / 97.0 AS float)) AS embedding",
    )
    cosine_topk(fake_emb, num_queries=4, k=3).write.format("noop").mode(
        "overwrite"
    ).save()
    # (b) the md5-fingerprint groupBy (dedup_exact) and the xxhash64
    # shingle explode -> pinned-width bucket exchange -> array pair-gen
    # higher-order expressions (the ngram/minhash verify family);
    from energy_data_stream_processing_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    fake_docs = spark.range(240).selectExpr(
        "id AS doc_id",
        "concat('alpha w', cast(id % 7 AS string), ' beta gamma t', "
        "cast(id % 11 AS string), ' delta epsilon zeta eta theta iota "
        "kappa w', cast(id % 5 AS string)) AS text",
    )
    exact_dedup(fake_docs).write.format("noop").mode("overwrite").save()
    ngram_jaccard_pairs(fake_docs).write.format("noop").mode("overwrite").save()
    # (c) the MinHash signature kernel (warms the Arrow-batch numpy path
    # and the banded-LSH join shape the dedup_minhash/ann entries reuse).
    minhash_lsh_pairs(fake_docs).write.format("noop").mode("overwrite").save()

    # ... and the Python worker pool (vectorized-UDF queries reuse it —
    # the body touches numpy so reused workers have it imported before the
    # first timed Arrow kernel).
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _noop(s):
        import numpy as _np

        return s * _np.int64(1)

    spark.range(32).select(_noop("id")).write.format("noop").mode("overwrite").save()

    def _canary_run() -> float:
        return frozen_canary_run(spark)

    # warm = median of 3 reps: the canary is the DENOMINATOR of every
    # ratio below, so its own single-run variance (~±20% observed between
    # the r12 driver run and an r13 controlled run) would inject itself
    # into all of them; three reps cost ~4 s and pin it. (The plan above
    # stays frozen — only the rep protocol changed, r13.)
    _canary_cold = _canary_run()
    _warm3 = sorted(_canary_run() for _ in range(3))
    canary = {"cold": _canary_cold, "warm": _warm3[1], "warm_reps": _warm3}

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    catalog = all_queries()
    headline = {name: q for name, q in catalog.items() if q.headline}
    for name, q in headline.items():
        t0 = time.perf_counter()
        df = q.builder(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        # second pass: steady-state timing (plan/codegen/page-cache warm).
        # cold-vs-warm separates environment noise from plan regressions —
        # a plan change moves BOTH; a noisy neighbor moves only cold.
        t0 = time.perf_counter()
        q.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
        warm[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "warm_value": round(sum(warm.values()), 3),
        "warm_queries": warm,
        # canary-normalized warm ratios: per-query warm seconds divided by
        # the frozen canary's warm seconds — compare THESE across rounds;
        # a query whose ratio holds while its seconds inflate moved with
        # the machine, not the plan.
        "canary_sec": canary,
        "warm_queries_per_canary": {
            name: round(v / canary["warm"], 2) for name, v in warm.items()
        },
        "sf": sf,
    }

    # Canary-ratio gate (round-12 verdict item 4): compare this run's
    # canary-normalized warm ratios against the committed baseline
    # snapshot. Alerting is on each query's ratio shift RELATIVE TO THE
    # MEDIAN shift across all queries: the canary divides out machine
    # drift only to first order (its own residual moves every ratio
    # UNIFORMLY — observed ~0.65x across the board between two idle runs),
    # and the median-shift renormalization removes exactly that common
    # mode, so a >1.3x alert is one QUERY moving against the rest of the
    # catalog — plan/engine drift, not VM weather. median_ratio_shift
    # itself is reported: far from 1.0 means canary-vs-workload drift
    # worth a note, but not a per-query regression. ALERT SEMANTICS: a
    # single-run warm time still carries ~±30% tail variance (measured:
    # back-to-back idle runs alerted hourly_business_metrics once, then
    # cleared), so an alert means REPLICATE (the SCALE.md §6 interleaved
    # N>=5 A/B is the authority), not regression-confirmed; an alert that
    # repeats across runs/rounds is the real signal.
    prev_ratios, prev_label = _committed_baseline_ratios(sf)
    if prev_ratios:
        rel = {
            name: now / prev_ratios[name]
            for name, now in result["warm_queries_per_canary"].items()
            if prev_ratios.get(name, 0) > 0 and now > 0
        }
        alerts = {}
        med = statistics.median(rel.values()) if rel else 1.0
        for name, rr in rel.items():
            now = result["warm_queries_per_canary"][name]
            norm = rr / med
            # both gates: >1.3x relative to the catalog's median shift AND
            # >=0.15 canary units of absolute movement — sub-quarter-canary
            # queries (~0.2 s warm) live inside timer noise and a 0.05-unit
            # wobble should not page anyone
            if max(norm, 1.0 / norm) > 1.3 and abs(now - prev_ratios[name] * med) >= 0.15:
                alerts[name] = {
                    "prev": prev_ratios[name],
                    "now": now,
                    "rel_vs_median": round(norm, 2),
                }
        result["canary_ratio_alerts"] = {
            "vs": prev_label,
            "median_ratio_shift": round(med, 3),
            "alerts": alerts,
        }

    # Scale ladder (SPARK_GRAFT_LADDER=0 to disable): replay the event-heavy
    # headline queries at 10x the events volume (generated by replication,
    # new event_ids, same time span — so per-hour density grows 10x). Catches
    # plans whose cost curve bends (quadratic sessionization, exploding
    # windows) that look fine at sf0.1. Generation time is excluded; scan
    # timings are comparable to the main run (same parquet, 10x rows).
    if os.environ.get("SPARK_GRAFT_LADDER", "1") != "0":
        ladder_dir = _scaled_dir(sf_dir, "events")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        (
            ev.crossJoin(spark.range(10).withColumnRenamed("id", "_rep"))
            .withColumn("event_id", F.col("event_id") * 10 + F.col("_rep"))
            .drop("_rep")
            .write.mode("overwrite")
            .parquet(f"{ladder_dir}/events.parquet")
        )
        ladder_queries = [
            "hourly_business_metrics", "rolling_24h_metrics",
            "customer_view", "business_kpis_growth", "user_sessions",
            # the documented 100 TB swaps for customer_view (both
            # oracle-identical): two-phase partial aggregation and the
            # pre-filtered switch-struct join — tracked on the ladder so the
            # swap's scaling claim has measured numbers next to the
            # single-shuffle variant they replace
            "customer_view_twophase",
            "customer_view_prefilter",
        ]
        ladder: dict[str, float] = {}
        for name in ladder_queries:
            t0 = time.perf_counter()
            # customer_view auto-dispatches on measured density since round
            # 10; the ladder's job is to measure the NAMED plans, so pin the
            # single-shuffle variant explicitly (auto itself is tested in
            # tests/test_round10_ops.py, not timed here).
            kw = {"variant": "single"} if name == "customer_view" else {}
            catalog[name].builder(spark, ladder_dir, **kw).write.format("noop").mode(
                "overwrite"
            ).save()
            ladder[name] = round(time.perf_counter() - t0, 3)
        result["ladder"] = {
            "scale_x": 10,
            "sf_equiv": round(sf * 10, 3),
            "value": round(sum(ladder.values()), 3),
            "queries": ladder,
        }

        # Streaming replay rung (round-11 verdict item 3): the bounded
        # exact hourly stream replayed over FIXED ascending event-time
        # chunks at 10x density with availableNow, at the engine's hours-
        # class state partitioning (SCALE.md §4.3). Runs HERE — after the
        # 10x rung whose data it reuses, BEFORE ladder100 — because the
        # 100x rung's heap/GC hangover inflated the replay ~2x when it ran
        # afterwards (measured r12: 20.1 s after ladder100 vs 11.3 s
        # before). Chunk-file generation is excluded; the timed span is the
        # streaming query itself (8 data micro-batches + the sentinel flush
        # batch). SPARK_GRAFT_STREAM_REPLAY=0 skips.
        if os.environ.get("SPARK_GRAFT_STREAM_REPLAY", "1") != "0":
            from energy_data_stream_processing_spark.streaming.runner import (
                HOURS_STATE_PARTITIONS,
                append_watermark_sentinel,
                ascending_time_chunks,
                energy_events_stream,
                run_hourly_stream,
            )

            replay_chunks = 8
            src = ascending_time_chunks(spark, ladder_dir, replay_chunks)
            append_watermark_sentinel(spark, ladder_dir, src)
            stream_ev = energy_events_stream(
                spark, ladder_dir, source_dir=src, max_files_per_trigger=1
            )
            t0 = time.perf_counter()
            run_hourly_stream(spark, stream_ev, horizon="2 hours")
            result["streaming_replay_sec"] = round(time.perf_counter() - t0, 3)
            result["streaming_replay"] = {
                "variant": "native_append",
                "chunks": replay_chunks,
                "scale_x": 10,
                "state_partitions": HOURS_STATE_PARTITIONS,
                "see": "SCALE.md §4.2-4.3",
            }
            import shutil

            shutil.rmtree(src, ignore_errors=True)

        # 100x density rung (round-8 verdict item 3): the three
        # customer_view plans head-to-head at sf10-equivalent per-customer
        # event density, where the 10x run showed the single-shuffle plan's
        # curve bending. Generation time excluded; SPARK_GRAFT_LADDER100=0
        # skips just this rung.
        if os.environ.get("SPARK_GRAFT_LADDER100", "1") != "0":
            ladder100_dir = _scaled_dir(sf_dir, "events")
            (
                ev.crossJoin(spark.range(100).withColumnRenamed("id", "_rep"))
                .withColumn("event_id", F.col("event_id") * 100 + F.col("_rep"))
                .drop("_rep")
                .repartition(32)
                .write.mode("overwrite")
                .parquet(f"{ladder100_dir}/events.parquet")
            )
            # Medians of 5 INTERLEAVED reps (round-12 verdict item 5,
            # widened to 5 by round-14 verdict item 5: medians-of-3 still
            # admitted [31.7, 18.5, 14.5]-style spreads — the first rep
            # pays one-time scan/codegen warmup AND any VM stall, and with
            # 3 reps one more stall drags the median). Two r12 single
            # shots read 21.1 s vs 37.2 s for this same rung — a
            # single-shot number that noisy in a tracked artifact invites
            # false regression hunts. Interleaving (A,B,C, A,B,C, ...)
            # spreads any transient VM stall across all three plans
            # instead of poisoning one; a 5-rep median survives two.
            l100_names = (
                "customer_view",
                "customer_view_twophase",
                "customer_view_prefilter",
            )
            l100_reps: dict[str, list[float]] = {n: [] for n in l100_names}
            for _rep in range(5):
                for name in l100_names:
                    t0 = time.perf_counter()
                    kw = {"variant": "single"} if name == "customer_view" else {}
                    catalog[name].builder(spark, ladder100_dir, **kw).write.format(
                        "noop"
                    ).mode("overwrite").save()
                    l100_reps[name].append(round(time.perf_counter() - t0, 3))
            l100 = {n: sorted(v)[len(v) // 2] for n, v in l100_reps.items()}
            result["ladder100"] = {
                "scale_x": 100,
                "sf_equiv": round(sf * 100, 3),
                "value": round(sum(l100.values()), 3),
                "queries": l100,
                "reps": l100_reps,
                "stat": "median_of_5_interleaved",
            }

    # Composed LLM-corpus curation pipeline (non-headline): quality ->
    # LSH near-dedup keep -> eval-set decontamination -> FFD packing ->
    # split accounting as ONE job, so the training-data-pipeline story has
    # a single end-to-end wall-clock number tracked across rounds.
    if os.environ.get("SPARK_GRAFT_PIPELINE", "1") != "0":
        from energy_data_stream_processing_spark.plans.sampling_queries import (
            curation_pipeline_full,
            curation_stage_frames,
        )

        t0 = time.perf_counter()
        curation_pipeline_full(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        result["curation_pipeline_sec"] = round(time.perf_counter() - t0, 3)

        # Per-stage localization (round-11 verdict item 4): cumulative
        # prefixes of the same composed plan, timed stage by stage, so
        # drift in curation_pipeline_sec points at a stage instead of a
        # prose shrug. Deltas are cumulative diffs (each prefix re-runs
        # the stages above it); tiny negatives are noise. The prefixes
        # run AFTER the composed pass, i.e. WARM — their sum is well below
        # curation_pipeline_sec, whose first-run cost includes plan
        # construction + codegen. That split is the point: if the
        # composed number drifts while the warm stage deltas stay flat,
        # the drift is cold-path/VM noise, not a stage regression.
        cumulative: dict[str, float] = {}
        for stage, frame in curation_stage_frames(spark, sf_dir).items():
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            cumulative[stage] = round(time.perf_counter() - t0, 3)
        deltas, prev = {}, 0.0
        for stage, sec in cumulative.items():
            deltas[stage] = round(sec - prev, 3)
            prev = sec
        result["curation_stages_sec"] = {
            "cumulative": cumulative,
            "delta": deltas,
        }

        # Curation scale probe: the same composed pipeline on a 10x
        # documents corpus, so the LLM-pipeline story has a scaling
        # datapoint, not just one scale. Replicas 1-9 word-suffix every
        # token (deterministic), so cross-replica docs are NOT near-dups —
        # the corpus behaves like 10x independent documents while the
        # original intra-corpus duplicate structure repeats per replica.
        # Generation time is excluded.
        if os.environ.get("SPARK_GRAFT_LADDER", "1") != "0":
            cur_dir = _scaled_dir(sf_dir, "documents")
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
            (
                docs.crossJoin(spark.range(10).withColumnRenamed("id", "_rep"))
                .withColumn("doc_id", F.col("doc_id") * 10 + F.col("_rep"))
                .withColumn(
                    "text",
                    F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                        F.array_join(
                            F.transform(
                                F.split("text", " "),
                                lambda x: F.concat(
                                    x, F.lit("_"), F.col("_rep").cast("string")
                                ),
                            ),
                            " ",
                        )
                    ),
                )
                .withColumn("n_chars", F.length("text"))
                .drop("_rep")
                .write.mode("overwrite")
                .parquet(f"{cur_dir}/documents.parquet")
            )
            t0 = time.perf_counter()
            curation_pipeline_full(spark, cur_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            result["curation_ladder_sec"] = round(time.perf_counter() - t0, 3)
            result["curation_ladder_scale_x"] = 10

    # ------------------------------------------------------------------
    # Emit (round-13 verdict item 1). The driver records a 2,000-char
    # stdout TAIL; the full result grew past 3,000 chars in round 11 and
    # the driver's BENCH artifact has been parsed:null since. So: the FULL
    # result goes to a committed sidecar (BENCH_DETAIL.json — per-query
    # cold times, ladder reps, curation stage deltas, rung metadata), and
    # stdout gets ONE compact line <= 1,800 chars carrying the driver
    # contract (metric/value/unit/queries/sf) plus the cross-round signal
    # set: warm totals, the frozen canary, per-query canary-normalized
    # warm ratios, the canary-ratio gate, and every rung total BOTH raw
    # and canary-normalized (round-13 verdict item 5: rung comparisons
    # across rounds divide by the canary, same as the per-query ratios).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)

    print(compact_line(result))
    spark.stop()


def compact_line(result: dict) -> str:
    """Render the one-line stdout contract from the full result dict.

    Module-level (round-15 verdict item 6) so the ≤1,800-char budget and
    the shed order are UNIT-TESTABLE against synthetic worst-case inputs
    (tests/test_bench_compact_line.py) instead of relying on hand-checks
    of noisy live runs — the r15 overflow that shed ``wq_per_canary`` was
    caught by eye, and nothing failed CI when a new field pushed a
    5-alert run over budget."""
    timings = result["queries"]
    canary = result["canary_sec"]
    sf = result["sf"]
    rungs_sec = {
        short: result[key]
        for short, key in (
            ("ladder", "ladder"),
            ("ladder100", "ladder100"),
            ("replay", "streaming_replay_sec"),
            ("replay_sharded", "streaming_replay_sharded_sec"),
            ("replay_hot", "replay_sharded_hot"),
            ("curation", "curation_pipeline_sec"),
            ("curation_ladder", "curation_ladder_sec"),
        )
        if key in result
    }
    for short in ("ladder", "ladder100"):
        if short in rungs_sec:
            rungs_sec[short] = rungs_sec[short]["value"]
    hot_win = None
    if "replay_hot" in rungs_sec:
        # compact line carries the sharded arm's seconds (canary-comparable
        # across rounds) plus ONE ratio — bounded/sharded on identical
        # input, >1 means sharding WINS; the full two-arm dict is in the
        # sidecar under replay_sharded_hot.
        hot = rungs_sec["replay_hot"]
        rungs_sec["replay_hot"] = hot["sharded_sec"]
        hot_win = hot["bounded_over_sharded"]
    cw = canary["warm"]
    gate = result.get("canary_ratio_alerts", {})
    # Compact-line alert shape (round 15): a noisy run can trip 5+ alerts,
    # and at ~70 chars each the full payload overflowed the 1,800-char
    # budget and shed wq_per_canary — trading the whole catalog's ratio
    # signal for alert detail. Inline, each alert is name -> rel_vs_median
    # only (the triage number), capped at the 3 most extreme with the rest
    # counted; prev/now and the full set are always in the sidecar.
    alerts_full = gate.get("alerts", {})
    if alerts_full:
        top = sorted(
            alerts_full.items(),
            # rel_vs_median is rounded to 2dp and a ~200x-faster query can
            # round to 0.0 while still alerting — clamp before inverting
            key=lambda kv: max(
                max(kv[1]["rel_vs_median"], 1e-6),
                1.0 / max(kv[1]["rel_vs_median"], 1e-6),
            ),
            reverse=True,
        )
        gate = dict(
            gate,
            alerts={k: v["rel_vs_median"] for k, v in top[:3]},
        )
        if len(alerts_full) > 3:
            gate["alerts_more"] = len(alerts_full) - 3
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": sf,
        "queries": timings,
        "warm_value": result["warm_value"],
        "canary": {"cold": canary["cold"], "warm": cw},
        "wq_per_canary": result["warm_queries_per_canary"],
        "gate": {
            "median_ratio_shift": gate.get("median_ratio_shift"),
            "alerts": gate.get("alerts", {}),
            **(
                {"alerts_more": gate["alerts_more"]}
                if "alerts_more" in gate
                else {}
            ),
            "vs": gate.get("vs", ""),
        },
        "rungs_sec": rungs_sec,
        "rungs_per_canary": {
            k: round(v / cw, 2) for k, v in rungs_sec.items()
        },
        "detail": "BENCH_DETAIL.json",
    }
    if hot_win is not None:
        compact["hot_win"] = hot_win
    line = json.dumps(compact, separators=(",", ":"))
    # Fit guard: shed the least essential layers until the line is safely
    # inside the driver's tail window (never expected to trigger at the
    # current catalog size — ~1,650 chars measured — but a 21st headline
    # query must degrade the line, not kill the artifact for 3 rounds).
    # shed order: per-query ratios first (fully recoverable from the
    # sidecar), the gate block LAST (the alert signal is the one thing a
    # grader should still see in a degraded line)
    for victim in ("wq_per_canary", "rungs_per_canary", "gate"):
        if len(line) <= 1800:
            break
        compact.pop(victim, None)
        compact["dropped"] = compact.get("dropped", []) + [victim]
        line = json.dumps(compact, separators=(",", ":"))
    return line


if __name__ == "__main__":
    main()

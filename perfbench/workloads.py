"""The benchmark's workloads. Each drives the engine only through its
public entry points, from one client, in a closed loop: the next operation
starts when the previous one has returned.

A workload has five phases, run by ``run.py``:

- ``generate`` (untimed, before any session): seeded inputs on disk;
- ``setup`` (timed as ``setup_s``): the program's work before the first
  timed operation, on a freshly created session;
- ``warmup`` (untimed): the same operations once, so the session's cold
  start (JVM code generation and compilation, Python worker spawn, first
  checkpoints) is not sampled; a cold first operation took 3 to 5 times a
  warm one and was the noisiest figure of a run;
- ``measure``: operations until ``--seconds`` have passed (at least one
  full cycle of draws, or one drain), latencies recorded per operation or
  per micro-batch;
- ``check`` (untimed): every result, warm-up included, against a reference
  computed outside Spark; a wrong result counts as a failed operation.

``layers`` turns the traced run's spans and counts into the per-layer
metrics. A metric of a layer a workload bypasses reads 0.
"""

from __future__ import annotations

import contextlib
import io
import json
import math
import os
import sys
import time
import traceback
from collections import Counter
from datetime import timedelta

from perfbench import gen, oracle
from perfbench.stats import median

PKG = "energy_data_stream_processing_spark"


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _failed_op(what: str) -> None:
    _log(f"operation failed: {what}\n{traceback.format_exc()}")


class ProgressLog:
    """Every ``StreamingQueryProgress`` of the session, as parsed JSON."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.progress: list[dict] = []
        self._spark = spark
        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def since(self, start: int, expect: int, timeout_s: float = 15.0) -> list[dict]:
        """Progress events after index ``start``; waits for the listener
        bus to deliver at least ``expect`` data batches."""
        self._spark._jsc.sc().listenerBus().waitUntilEmpty(int(timeout_s * 1000))
        deadline = time.monotonic() + timeout_s
        while True:
            got = [p for p in self.progress[start:] if p.get("numInputRows", 0) > 0]
            if len(got) >= expect or time.monotonic() > deadline:
                return self.progress[start:]
            time.sleep(0.05)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)


def _dur(p: dict, *keys: str) -> float:
    d = p.get("durationMs") or {}
    return sum(d.get(k, 0) for k in keys) / 1000.0


def _stream_layers(run, batches: list[dict]) -> None:
    """streaming.* and replay.offset_s from micro-batch progress."""
    if not batches:
        return
    n = len(batches)
    L = run.layer
    L["streaming.batches"] = n
    L["streaming.trigger_s"] = median([_dur(p, "triggerExecution") for p in batches])
    L["streaming.add_batch_s"] = median([_dur(p, "addBatch") for p in batches])
    L["streaming.planning_s"] = median([_dur(p, "queryPlanning") for p in batches])
    L["streaming.commit_s"] = median([_dur(p, "commitOffsets", "walCommit") for p in batches])
    L["replay.offset_s"] = median([_dur(p, "latestOffset", "getBatch") for p in batches])
    ops = [o for p in batches for o in p.get("stateOperators") or []]
    if ops:
        L["streaming.state_rows"] = max(o.get("numRowsTotal", 0) for o in ops)
        L["streaming.state_bytes"] = max(o.get("memoryUsedBytes", 0) for o in ops)
        L["streaming.rows_dropped_late"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)


def _jobs_run(spark) -> int:
    """Spark jobs the session has run so far (status store, after the
    listener bus has drained)."""
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty(15_000)
    return sc.statusStore().jobsList(None).size()


def _dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix) and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


# ---------------------------------------------------------------------------
# catalog serving: dashboard_mix and curation_batch
# ---------------------------------------------------------------------------
class _CatalogWorkload:
    """Seeded cycles of catalog draws, each ``builder(...)`` + ``collect()``
    the way Grafana receives rows. Every draw is classified against the
    catalog's plan memo from outside (is the built frame one the memo
    already held?): a hit, a miss that stores it, or a bypass."""

    unit = "queries"

    def generate(self, run) -> None:
        self.sf = os.path.join(run.work, "data")
        s = run.sizes
        self.span = gen.write_dataset(self.sf, run.seed, s["events"], s["docs"], s["vecs"])

    def cycle(self, run, k: int) -> list[tuple]:
        raise NotImplementedError

    def setup(self, run, spark) -> None:
        from energy_data_stream_processing_spark.plans import catalog

        self.queries = catalog.all_queries()
        self.memo = catalog._PLAN_MEMO
        self.memo_use = Counter()

    def build(self, spark, name, lo, hi):
        q = self.queries[name]
        return q.builder(spark, self.sf, t_lo=lo, t_hi=hi) if lo else q.builder(spark, self.sf)

    def collect(self, run, spark, df) -> list:
        """``df.collect()``; when traced, inside ``measure_job_metrics`` with
        the jobs' stage metrics counted. The capture's own time beyond the
        collect is the tracing overhead."""
        tr = run.tracer
        if not tr.enabled:
            return df.collect()
        from energy_data_stream_processing_spark.functions.stage_metrics import (
            measure_job_metrics,
        )

        inner = {}

        def timed_collect():
            c0 = time.perf_counter()
            rows = df.collect()
            inner["s"] = time.perf_counter() - c0
            return rows

        m0 = time.perf_counter()
        m = measure_job_metrics(spark, timed_collect)
        tr.count("trace.overhead_s", time.perf_counter() - m0 - inner["s"])
        tr.count("plans.jobs", len(m["jobs"]))
        tr.count("plans.stages", m["stages"])
        tr.count("plans.input_bytes", m["input_bytes"])
        tr.count("plans.shuffle_bytes", m["shuffle_write_bytes"])
        tr.count("plans.spill_bytes", m["memory_spill_bytes"] + m["disk_spill_bytes"])
        tr.count("plans.result_rows", len(m["result"]))
        return m["result"]

    def draw(self, run, spark, name, lo, hi) -> float | None:
        """One draw: build, classify against the plan memo, collect. Returns
        its latency, or None when it raised."""
        tr = run.tracer
        tr.op = len(self.results)
        run.attempted += 1
        held = {id(v) for v in self.memo.values()}
        t0 = time.perf_counter()
        try:
            with tr.span("plans.build", kind="ranged" if lo else "named"):
                df = self.build(spark, name, lo, hi)
            if id(df) in held:
                self.memo_use["hit"] += 1
            elif any(v is df for v in self.memo.values()):
                self.memo_use["miss"] += 1
            else:
                self.memo_use["ranged_bypass" if lo else "named_bypass"] += 1
            with tr.span("plans.exec"):
                rows = self.collect(run, spark, df)
            cols = df.columns
        except Exception:  # noqa: BLE001 — one failed draw must not end the run
            _failed_op(name)
            run.failed += 1
            return None
        dt = time.perf_counter() - t0
        self.results.append((name, lo, hi, cols, rows))
        return dt

    def warmup(self, run, spark) -> None:
        """One untimed cycle: Python worker spawn for the Arrow UDFs, code
        generation, the first checkpoints and the plan memo's first fill.
        Its results are checked; its latencies are not samples."""
        self.results = []
        cold = [self.draw(run, spark, name, lo, hi) for name, lo, hi in self.cycle(run, 0)]
        run.notes["warmup_latencies_s"] = [round(x, 4) for x in cold if x is not None]
        self.warm = len(self.results)
        self.memo_use.clear()

    def measure(self, run, spark) -> None:
        """Whole cycles until ``--seconds`` have passed (at least one), so
        every run draws each entry equally often."""
        start = time.perf_counter()
        k = 1
        while k == 1 or time.perf_counter() - start < run.seconds:
            for name, lo, hi in self.cycle(run, k):
                dt = self.draw(run, spark, name, lo, hi)
                if dt is not None:
                    run.latencies.append(dt)
            k += 1
        run.busy_s = time.perf_counter() - start
        run.work_items = len(self.results) - self.warm
        by_name: dict = {}
        for r, s in zip(self.results[self.warm:], run.latencies):
            by_name.setdefault(r[0] + (" ranged" if r[1] else ""), []).append(s)
        run.notes["draw_p50_s"] = {k: round(median(v), 4) for k, v in sorted(by_name.items())}
        run.notes["plan_memo_draws"] = dict(self.memo_use)

    def instrument(self, run) -> None:
        import energy_data_stream_processing_spark.sources.adapter as adapter

        run.tracer.wrap(adapter, "load_table", "adapter.resolve")
        run.tracer.wrap(adapter, "energy_events", "adapter.resolve")

    def layers(self, run) -> None:
        tr, L = run.tracer, run.layer
        n = max(1, len(self.results) - self.warm)
        spans = {s["id"]: s for s in tr.spans}
        resolve = sum(s["end"] - s["start"] for s in tr.spans if s["name"] == "adapter.resolve"
                      and spans.get(s["parent"], {}).get("name") != "adapter.resolve")
        L["adapter.resolve_s"] = resolve / n
        for kind in ("named", "ranged"):
            k = tr.n_spans("plans.build", kind=kind)
            L[f"plans.build_{kind}_s"] = tr.total("plans.build", kind=kind) / max(1, k)
        L["plans.exec_s"] = tr.total("plans.exec") / n
        L["plans.memo_hit_share"] = self.memo_use["hit"] / n
        for key in ("jobs", "stages", "input_bytes", "shuffle_bytes", "spill_bytes", "result_rows"):
            L[f"plans.{key}"] = tr.counts.get(f"plans.{key}", 0) / n


class DashboardMix(_CatalogWorkload):
    """Read-only serving of the reference-parity panels. Set-up builds the
    plan of every panel the catalog memoizes (``catalog._PLAN_MEMO_NAMES``:
    6 of the 18), as a dashboard's first load would, so each named draw of
    those panels is a memo hit: 6 of the 26 draws of a cycle. Named draws of
    the other panels (12) and every ranged ``$__timeFilter`` draw (8) bypass
    the memo."""

    def cycle(self, run, k):
        return gen.dashboard_cycle(run.seed * 1009 + k, self.span["t_min"], self.span["t_max"])

    def setup(self, run, spark) -> None:
        from energy_data_stream_processing_spark.plans import catalog
        from energy_data_stream_processing_spark.sources.adapter import energy_events

        super().setup(run, spark)
        energy_events(spark, self.sf)
        for name in gen.DASHBOARD_PANELS:
            if name in catalog._PLAN_MEMO_NAMES:
                self.queries[name].builder(spark, self.sf)

    def check(self, run) -> None:
        con = oracle.connect(self.sf)
        cache: dict = {}
        for name, lo, hi, cols, rows in self.results:
            sql = self.queries[name].oracle
            if lo:
                sql, params = oracle.ranged(sql, gen.RANGED_PANELS[name]), [lo, hi]
            else:
                params = []
            key = (name, lo, hi)
            if key not in cache:
                cache[key] = oracle.query(con, sql, params)
            if oracle.canonical(rows, cols) != cache[key]:
                _log(f"wrong result: {name} {lo} {hi}")
                run.failed += 1
        con.close()


class CurationBatch(_CatalogWorkload):
    """Curation and retrieval entries of the dedup, text and similarity
    operators, in cycles of seven draws. After the warm-up cycle has filled
    the plan memo, the three dedup entries and the exact and LSH retrieval
    entries are memo hits; ``text_quality`` and ``ann_ivf_topk`` rebuild
    their plans on every draw. The composed ``curation_pipeline_full`` is
    not drawn (its cold start alone took 20 to 40 s on 4 cores, a warm draw
    12 s); the traced run times its stages instead."""

    def cycle(self, run, k):
        return [(n, None, None) for n in gen.curation_cycle()]

    def setup(self, run, spark) -> None:
        from energy_data_stream_processing_spark.sources.adapter import load_table

        super().setup(run, spark)
        load_table(spark, self.sf, "documents")
        load_table(spark, self.sf, "embeddings")

    def check(self, run) -> None:
        con = oracle.connect(self.sf)
        exact_sql = self.queries["embedding_cosine_topk"].oracle
        exact = {(r[0], r[1]) for r in con.execute(exact_sql).fetchall()}
        jaccard_sql = self.queries["dedup_ngram_jaccard"].oracle
        jaccard = {(r[0], r[1]): r[2] for r in con.execute(jaccard_sql).fetchall()}
        floors = {"ann_lsh_topk": 0.2, "ann_ivf_topk": 0.3}  # tests/test_training_ops.py
        cache: dict = {}
        for name, _, _, cols, rows in self.results:
            ok = True
            if self.queries.get(name) is not None and self.queries[name].oracle:
                if name not in cache:
                    cache[name] = oracle.query(con, self.queries[name].oracle)
                ok = oracle.canonical(rows, cols) == cache[name]
            elif name == "dedup_minhash_lsh":  # verified candidates: no false positives
                ok = all(jaccard.get((r["doc_a"], r["doc_b"])) == r["jaccard"] for r in rows)
            elif name in floors:
                got = {(r["query_id"], r["neighbor_id"]) for r in rows}
                ok = bool(got) and len(got & exact) / len(exact) >= floors[name]
            if not ok:
                _log(f"wrong result: {name}")
                run.failed += 1
        con.close()

    def layers(self, run) -> None:
        super().layers(run)
        L = run.layer
        pairs = [len(rows) for name, _, _, _, rows in self.results[self.warm:]
                 if name in ("dedup_ngram_jaccard", "dedup_minhash_lsh")]
        L["dedup.pairs"] = median(pairs)
        # cumulative-prefix attribution of the composed pipeline (the same
        # operators composed), timed on the second of two passes so the
        # composition's own cold start is not attributed to its first stage
        from energy_data_stream_processing_spark.functions.stage_metrics import run_to_noop
        from energy_data_stream_processing_spark.plans.sampling_queries import (
            curation_stage_frames,
        )

        for _ in range(2):
            prev = 0.0
            frames = curation_stage_frames(run.spark, self.sf)
            for stage, df in frames.items():
                t0 = time.perf_counter()
                if stage == "split":
                    rows = df.collect()
                else:
                    run_to_noop(df)
                cum = time.perf_counter() - t0
                L[f"curation.stage_s.{stage}"] = max(0.0, cum - prev)
                prev = cum
        L["curation.kept_ratio"] = sum(r["n_docs"] for r in rows) / run.sizes["docs"]


# ---------------------------------------------------------------------------
# stream ingest: the pipeline CLI over a seeded JSONL envelope file
# ---------------------------------------------------------------------------
class IngestReplay:
    """JSONL in -> validation -> dead letter -> raw store -> hourly store,
    through ``__main__.main(["pipeline", "--streaming", ...])``. Each drain
    reads a fresh file into a fresh output directory. The warm-up drains
    one micro-batch; timed drains of two micro-batches follow until
    ``--seconds`` have passed (5 to 8 s a warm micro-batch on 4 cores, so
    one drain at 10 s)."""

    unit = "events"

    def generate(self, run) -> None:
        self.dir = os.path.join(run.work, "ingest")
        os.makedirs(self.dir)
        self.drains: list[dict] = []
        self.plans = [self.new_file(run, 0, run.sizes["lines_per_batch"])]

    def new_file(self, run, i: int, lines: int) -> gen.IngestPlan:
        return gen.write_ingest_file(os.path.join(self.dir, f"events-{i}.jsonl"),
                                     run.seed * 1009 + i, lines)

    def setup(self, run, spark) -> None:
        """Resolve the replay source as the CLI does before its first
        batch: register it and load its streaming frame, which asks the
        source's Python planner for the schema."""
        from energy_data_stream_processing_spark.sources.replay_source import (
            JsonlReplayDataSource,
        )

        spark.dataSource.register(JsonlReplayDataSource)
        spark.readStream.format("jsonl_replay").option("path", self.plans[0].path).option(
            "lines_per_batch", str(run.sizes["lines_per_batch"])).load().schema

    def drain(self, run, spark, i: int) -> float:
        """Drain file ``i`` (fresh) through the CLI; returns its wall time."""
        from energy_data_stream_processing_spark.__main__ import main

        lpb = run.sizes["lines_per_batch"]
        if i == len(self.plans):
            self.plans.append(self.new_file(run, i, run.sizes["lines"]))
        plan = self.plans[i]
        out = os.path.join(self.dir, f"out-{i}")
        expect = math.ceil(plan.lines / lpb)
        mark, jobs0 = len(self.progress.progress), _jobs_run(spark)
        run.tracer.op = i
        run.attempted += 1
        buf = io.StringIO()
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf):
                rc = main(["pipeline", "--streaming", "--lines-per-batch", str(lpb),
                           "--input", plan.path, "--output", out])
        except Exception:  # noqa: BLE001
            _failed_op(f"drain {i}")
            run.failed += 1
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        batches = [p for p in self.progress.since(mark, expect) if p.get("numInputRows", 0) > 0]
        self.drains.append({
            "plan": plan, "out": out, "rc": rc, "expect": expect, "batches": batches,
            "summary": json.loads(buf.getvalue().strip().splitlines()[-1]),
            "jobs": _jobs_run(spark) - jobs0,
        })
        return dt

    def warmup(self, run, spark) -> None:
        self.progress = ProgressLog(spark)
        self.drain(run, spark, 0)
        self.warm = len(self.drains)
        run.notes["warmup_latencies_s"] = [
            _dur(p, "triggerExecution") for d in self.drains for p in d["batches"]]

    def measure(self, run, spark) -> None:
        busy, i = 0.0, 1
        while i == 1 or busy < run.seconds:
            busy += self.drain(run, spark, i)
            i += 1
        for d in self.drains[self.warm:]:
            run.latencies += [_dur(p, "triggerExecution") for p in d["batches"]]
            run.work_items += d["plan"].lines
        run.busy_s = busy
        self.progress.close()

    def check(self, run) -> None:
        for d in self.drains:
            plan, s = d["plan"], d["summary"]
            problems = []
            if d["rc"] != 0:
                problems.append(f"exit code {d['rc']}")
            # the file is fresh, so pacing must hold: one batch per
            # lines_per_batch lines (a re-drained file collapses to 1 batch)
            if s["batches"] != d["expect"]:
                problems.append(f"{s['batches']} batches, expected {d['expect']}")
            if (s["valid"], s["invalid"]) != (len(plan.valid_rows), plan.invalid):
                problems.append(f"valid/invalid {s['valid']}/{s['invalid']}, planted "
                                f"{len(plan.valid_rows)}/{plan.invalid}")
            reasons = Counter()
            for root, _, names in os.walk(os.path.join(d["out"], "dead_letter")):
                for n in names:
                    if n.endswith(".json"):
                        with open(os.path.join(root, n)) as f:
                            reasons.update(json.loads(line)["reason"] for line in f)
            if dict(reasons) != plan.invalid_by_reason:
                problems.append(f"dead letter {dict(reasons)} != planted {plan.invalid_by_reason}")
            if oracle.hour_store(os.path.join(d["out"], "hourly_metrics")) != \
                    oracle.hourly_from_rows(plan.valid_rows):
                problems.append("hour store differs from hourly_business_metrics(valid rows)")
            if problems:
                _log(f"wrong result, drain of {plan.path}: {problems}")
                run.failed += 1
        if len(self.drains) > self.warm:
            p = self.drains[self.warm]["plan"]
            run.notes["planted"] = {"lines": p.lines, "invalid_by_reason": p.invalid_by_reason,
                                    "late_events": p.late_events, "valid": len(p.valid_rows)}

    def layers(self, run) -> None:
        tr, L = run.tracer, run.layer
        drains = self.drains[self.warm:]
        batches = [p for d in drains for p in d["batches"]]
        nb = max(1, len(batches))
        _stream_layers(run, batches)
        lines = sum(d["plan"].lines for d in drains)
        valid = sum(d["summary"]["valid"] for d in drains)
        L["replay.rows_per_batch"] = lines / nb
        # the source is re-read by every action of a batch: rows read over
        # rows delivered
        L["replay.scans_per_batch"] = sum(p["numInputRows"] for p in batches) / max(1, lines)
        L["validation.count_s"] = tr.total("validation.count") / nb
        L["validation.valid_ratio"] = valid / max(1, lines)
        L["sinks.quarantine_s"] = tr.total("sinks.quarantine") / nb
        L["sinks.refresh_s"] = tr.total("sinks.refresh") / nb
        L["sinks.touched_hours"] = tr.counts.get("sinks.touched_hours", 0) / nb
        files = size = 0
        for d in drains:
            f, _ = _dir_stats(os.path.join(d["out"], "raw_events"), ".parquet")
            _, b = _dir_stats(d["out"])
            files, size = files + f, size + b
        L["sinks.raw_files"] = files / max(1, len(drains))
        L["sinks.output_bytes"] = size / max(1, len(drains))
        L["ingest.jobs_per_batch"] = sum(d["jobs"] for d in drains) / nb

    def instrument(self, run) -> None:
        import energy_data_stream_processing_spark.operators.validation as validation
        import energy_data_stream_processing_spark.sources.sinks as sinks

        tr = run.tracer

        def timed_counts(out, span):
            for df in out:
                df.count = tr.wrap_callable(df.count, "validation.count")
            return out

        def touched(out, span):
            tr.count("sinks.touched_hours", len(out))
            return out

        tr.wrap(validation, "split_events", "validation.split", timed_counts)
        tr.wrap(sinks, "write_quarantine", "sinks.quarantine")
        tr.wrap(sinks, "refresh_hourly_incremental", "sinks.refresh", touched)


# ---------------------------------------------------------------------------
# bounded stateful hourly replay into the durable hour store
# ---------------------------------------------------------------------------
class HourlyStreamReplay:
    """Event-time-ascending chunks through ``run_hourly_pipeline_dispatched``
    (auto dispatch) into the parquet hour store via ``foreach_batch_upsert``."""

    unit = "events"

    def generate(self, run) -> None:
        self.sf = os.path.join(run.work, "data")
        s = run.sizes
        gen.write_dataset(self.sf, run.seed, s["events"], 10, 10)

    def warmup(self, run, spark) -> None:
        pass  # each replay is a fresh bounded query; the first is sampled too

    def setup(self, run, spark) -> None:
        from energy_data_stream_processing_spark.sources.adapter import energy_events
        from energy_data_stream_processing_spark.streaming import runner

        self.src = runner.ascending_time_chunks(spark, self.sf, run.sizes["chunks"])
        self.max_ts = runner.append_watermark_sentinel(spark, self.sf, self.src)
        self.peak = runner.estimate_peak_hour_distinct_customers(energy_events(spark, self.sf))

    def measure(self, run, spark) -> None:
        from energy_data_stream_processing_spark.streaming import runner

        self.progress = ProgressLog(spark)
        self.replays = []
        busy = 0.0
        for i in range(10**6):
            if i and busy >= run.seconds:
                break
            out = os.path.join(run.work, f"hourly-{i}")
            mark = len(self.progress.progress)
            run.tracer.op = i
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                ev = runner.energy_events_stream(spark, self.sf, source_dir=self.src,
                                                 max_files_per_trigger=1)
                decision = runner.run_hourly_pipeline_dispatched(
                    spark, ev, f"{out}/store", f"{out}/checkpoint",
                    peak_hour_distinct=self.peak)
            except Exception:  # noqa: BLE001
                _failed_op(f"replay {i}")
                run.failed += 1
                continue
            busy += time.perf_counter() - t0
            batches = [p for p in self.progress.since(mark, run.sizes["chunks"])
                       if p.get("numInputRows", 0) > 0 or p.get("stateOperators")]
            run.latencies += [_dur(p, "triggerExecution") for p in batches]
            run.work_items += run.sizes["events"]
            self.replays.append({"out": out, "batches": batches, "variant": decision["variant"]})
        run.busy_s = busy
        self.progress.close()

    def check(self, run) -> None:
        from energy_data_stream_processing_spark.streaming.runner import _hourly_oracle

        con = oracle.connect(self.sf)
        want = oracle.query(con, _hourly_oracle())
        con.close()
        cutoff = self.max_ts + timedelta(days=30)
        for r in self.replays:
            cols, rows = oracle.hour_store(f"{r['out']}/store")
            i = cols.index("hour")
            rows = [x for x in rows if x[i] < cutoff.isoformat()]
            if (cols, rows) != want:
                _log(f"wrong result: hour store {r['out']} differs from streaming_hourly_bounded")
                run.failed += 1
        run.notes["variant"] = [r["variant"] for r in self.replays]

    def layers(self, run) -> None:
        batches = [p for r in self.replays for p in r["batches"]]
        _stream_layers(run, batches)
        run.layer["sinks.upsert_s"] = run.tracer.total("sinks.upsert") / max(1, len(batches))

    def instrument(self, run) -> None:
        import energy_data_stream_processing_spark.sources.sinks as sinks

        tr = run.tracer
        tr.wrap(sinks, "foreach_batch_upsert", "sinks.upsert_factory",
                lambda fn, span: tr.wrap_callable(fn, "sinks.upsert"))


WORKLOADS = {
    "dashboard_mix": DashboardMix,
    "ingest_replay": IngestReplay,
    "hourly_stream_replay": HourlyStreamReplay,
    "curation_batch": CurationBatch,
}

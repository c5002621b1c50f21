"""Benchmark of the energy stream-processing engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. It generates its inputs from ``--seed``
(perfbench/gen.py), creates the engine's session the way the package does
(``session.get_spark``) on ``local[<cores>]``, sets up, runs the workload's
operations once untimed (warm-up), measures for ``--seconds`` (and at least
one full cycle of the workload), checks every
output against a reference computed outside Spark, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (BENCHMARK.json
``end_to_end``); with ``--trace 1`` module attributes of the package are
wrapped with timing spans and the per-layer metrics are reported instead
(``per_layer``); the spans are written to ``.perfbench_run/``. The line
before the result is a summary with the environment, the workload's own
metric names (query_p50_s, batch_p50_s, events_per_s, ...), the tail
percentile and the error rate.

End-to-end metrics, per workload (an operation is a catalog draw on the
serving workloads and a micro-batch on the stream workloads; warm-up
operations are checked but not sampled):

- ``cpu_s_per_op``: CPU seconds (user + system, all threads of this
  process, the JVM and Spark's Python workers) used while measuring, per
  operation: what an operation costs the machine.
- ``setup_s``: median of three set-ups (session creation plus the
  program's work before the first timed operation); the first, which also
  launches the JVM, is in the summary as ``first_setup_s``.

Wall-clock figures are in the summary line and not bounded. On a few
shared cores, runs made while the host was busy spread by up to 0.28
(interquartile range over median) in wall-clock latency but 0.07 to 0.11
in CPU time, which leaves out the time other tenants hold the cores. Both
follow the host's slower and faster phases (JVM launch 7 s in one, 15 s in
another). The wall-clock figures are

- ``latency_p50_s`` (``query_p50_s`` / ``batch_p50_s``): median operation
  latency. A draw runs from the builder call to the last collected row; a
  micro-batch from trigger start to the commit of its hourly rows
  (``triggerExecution``);
- ``latency_tail_s``: the highest percentile with at least ten samples
  beyond it, but at least the 90th (perfbench/stats.py), with the
  percentile used as ``tail_percentile``;
- ``throughput_per_s``: queries per second, or input events per second;
- ``error_rate``: failed or wrong operations over attempted ones (the
  result line's ``failed``/``attempted``);
- ``peak_rss_mb``: peak resident set of this process plus its JVM child.

Workloads: ``ingest_replay`` and ``curation_batch`` (the two in
BENCHMARK.json), ``dashboard_mix`` and ``hourly_stream_replay`` (by hand).
``--smoke`` shrinks every input (perfbench/selftest.py runs all four that
way).
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the package and perfbench.* import from the checkout root, never from
# this directory (whose module names would shadow the standard library's)
sys.path[0] = ROOT

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import time  # noqa: E402

#: ``lines``: lines of each timed ingest drain (the warm-up drains
#: ``lines_per_batch``)
SIZES = {
    "full": {"events": 5_000, "docs": 500, "vecs": 500, "lines": 600,
             "lines_per_batch": 300, "chunks": 3},
    "smoke": {"events": 1_000, "docs": 100, "vecs": 100, "lines": 400,
              "lines_per_batch": 200, "chunks": 2},
}
SETUPS = 3

END_TO_END = {"cpu_s_per_op": "s", "setup_s": "s"}

#: per-layer metrics; ``*_s`` are seconds per operation (per draw on the
#: catalog layers, per micro-batch on the stream layers). Only metrics a
#: workload of BENCHMARK.json can make non-zero; the others a workload
#: computes (ranged builds of ``dashboard_mix``, the
#: state store and upsert sink of ``hourly_stream_replay``; spill bytes and
#: the curation ``split`` stage delta, which read 0 at these sizes) go in the
#: summary line as ``other_layers``.
PER_LAYER = {
    "session.start_s": "s",
    "adapter.resolve_s": "s",
    "plans.build_named_s": "s", "plans.exec_s": "s", "plans.memo_hit_share": "ratio",
    "plans.jobs": "count", "plans.stages": "count", "plans.input_bytes": "bytes",
    "plans.shuffle_bytes": "bytes", "plans.result_rows": "rows",
    "replay.offset_s": "s", "replay.rows_per_batch": "rows", "replay.scans_per_batch": "count",
    "validation.count_s": "s", "validation.valid_ratio": "ratio",
    "sinks.quarantine_s": "s", "sinks.refresh_s": "s", "sinks.touched_hours": "count",
    "sinks.raw_files": "count", "sinks.output_bytes": "bytes",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.commit_s": "s", "streaming.batches": "count", "ingest.jobs_per_batch": "count",
    "curation.stage_s.quality": "s", "curation.stage_s.dedup": "s",
    "curation.stage_s.decontaminate": "s", "curation.stage_s.pack": "s",
    "dedup.pairs": "count", "curation.kept_ratio": "ratio",
    "trace.overhead_s": "s", "trace.cpu_s_per_op": "s",
}


def pin_environment(work: str) -> dict:
    """Settings the engine reads from the environment, fixed and recorded.
    Must run before pyspark or the package is imported."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {
        # Spark's Python workers (jsonl_replay, Arrow UDFs) import the package
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # get_spark defaults to local[32]
        "SPARK_GRAFT_CPUS": str(cores),
        # get_spark defaults to 16g; keep the JVM well inside shared RAM
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SCRATCH": work,
        # C1 only: with the C2 compiler on, its threads kept compiling for
        # minutes and used about 40% of the CPU during timed micro-batches
        # (16 vs 9.4 CPU-s a batch on 4 cores), so each run's latencies
        # depended on how far compilation had got (3 of 10 ingest runs
        # 35% slower); warm latencies were the same either way
        "SPARK_DRIVER_EXTRA_JAVA_OPTIONS":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        "TMPDIR": tmp,
        "TZ": "UTC",
    }
    os.environ.update(env)
    time.tzset()
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return env


def _hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> set[int]:
    """All descendants of ``pid``."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parent.items() if p in frontier} - out
        out |= frontier
    return out


def _tree_cpu_s() -> float:
    """CPU seconds (user + system) this process and its descendants (the
    JVM, Spark's Python workers) have used so far, including descendants
    already reaped by a parent in the tree."""
    ticks = 0
    for pid in {os.getpid()} | _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def stop_engine(spark) -> None:
    """Stop the session and the JVM and wait until every process this run
    started has ended."""
    import signal
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = _children(os.getpid())
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while kids and time.monotonic() < deadline:
        kids = {k for k in kids if os.path.exists(f"/proc/{k}")}
        time.sleep(0.1)
    for k in kids:
        try:
            os.kill(k, signal.SIGKILL)
        except OSError:
            pass


class Run:
    def __init__(self, args, work):
        from perfbench.trace import Tracer

        self.name, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.sizes = SIZES["smoke" if args.smoke else "full"]
        self.work = work
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.latencies: list[float] = []
        self.attempted = self.failed = self.work_items = 0
        self.busy_s = 0.0
        self.layer: dict[str, float] = {}
        self.notes: dict = {}


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (self-test)")
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench_run")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = pin_environment(work)
        return _run(args, Run(args, work), env, WORKLOADS[args.workload]())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run, env, wl) -> int:
    from pyspark import SparkContext

    from energy_data_stream_processing_spark import session
    from perfbench.stats import median, tail

    tr = run.tracer
    phases = {}
    mark = time.perf_counter()

    def phase(name):
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    wl.generate(run)
    phase("generate")
    setups, starts = [], []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            with tr.span("session.start"):
                spark = session.get_spark("perfbench")
            starts.append(time.perf_counter() - t0)
            wl.setup(run, spark)
            setups.append(time.perf_counter() - t0)
        run.spark = spark
        phase("setup")
        wl.warmup(run, spark)
        phase("warmup")
        if tr.enabled:
            tr.reset()
            wl.instrument(run)
        cpu0 = _tree_cpu_s()
        wl.measure(run, spark)
        cpu_s = _tree_cpu_s() - cpu0
        phase("measure")
        jvm = getattr(SparkContext._gateway, "proc", None)
        peak_rss = _hwm_mb(os.getpid()) + (_hwm_mb(jvm.pid) if jvm else 0.0)
        tr.op = None
        tr.restore()
        wl.check(run)
        if tr.enabled:
            wl.layers(run)
        phase("check")
    finally:
        stop_engine(spark)
    phase("stop")

    lat_p50 = median(run.latencies)
    lat_tail, tail_pct = tail(run.latencies)
    throughput = run.work_items / run.busy_s if run.busy_s else 0.0
    cpu_per_op = cpu_s / max(1, len(run.latencies))
    e2e = {"cpu_s_per_op": cpu_per_op, "setup_s": median(setups)}
    serving = wl.unit == "queries"
    summary = {
        "workload": run.name, "seed": run.seed, "seconds": run.seconds, "trace": args.trace,
        "sizes": run.sizes, "environment": env, "master": f"local[{env['SPARK_GRAFT_CPUS']}]",
        "latency_p50_s": lat_p50, "latency_tail_s": lat_tail, "throughput_per_s": throughput,
        ("query_p50_s" if serving else "batch_p50_s"): lat_p50,
        ("query_tail_s" if serving else "batch_tail_s"): lat_tail,
        "tail_percentile": tail_pct, "samples": len(run.latencies),
        "latencies_s": [round(x, 4) for x in run.latencies],
        ("queries_per_s" if serving else "events_per_s"): throughput,
        "error_rate": run.failed / max(1, run.attempted),
        "peak_rss_mb": peak_rss, "cpu_s_per_op": cpu_per_op, "cpu_s": cpu_s,
        "setup_s": median(setups), "setup_runs_s": setups,
        "first_setup_s": setups[0], "phase_s": phases, **run.notes,
    }
    if tr.enabled:
        run.layer["session.start_s"] = median(starts)
        run.layer["trace.overhead_s"] = tr.counts.get("trace.overhead_s", 0) / max(1, len(run.latencies))
        run.layer["trace.cpu_s_per_op"] = cpu_per_op
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        summary["other_layers"] = {k: v for k, v in run.layer.items() if k not in PER_LAYER}
        os.makedirs(os.path.dirname(run.work), exist_ok=True)
        tr.dump(os.path.join(os.path.dirname(run.work), f"trace-{run.name}-s{run.seed}.json"))
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(summary, default=str))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

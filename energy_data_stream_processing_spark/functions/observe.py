"""Observable pipeline metrics (reference S10: Prometheus counters/histogram,
producer/producer.py:14, consumer/consumer.py:30-37).

Spark-first: ``df.observe`` attaches metric expressions that the engine
computes DURING the job (no second pass); batch jobs read them from an
``Observation``, streaming queries surface them per-batch through
``StreamingQueryListener.onQueryProgress`` / ``lastProgress`` — which also
covers the reference's rate/latency histograms via the built-in progress
metrics (inputRowsPerSecond, batchDuration, stateOperators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed_ingest(valid_invalid: DataFrame) -> tuple[DataFrame, Observation]:
    """Attach success/failure counters to a validated envelope frame
    (pre-split, with ``reason``): the engine-native events_processed
    {status} counters."""
    obs = Observation("ingest")
    df = valid_invalid.observe(
        obs,
        F.count(F.lit(1)).alias("events_total"),
        F.count(F.when(F.col("reason").isNull(), 1)).alias("events_valid"),
        F.count(F.when(F.col("reason").isNotNull(), 1)).alias("events_failed"),
        F.count(F.when(F.col("reason") == "Malformed JSON", 1)).alias("events_malformed"),
    )
    return df, obs


class ProgressCapture:
    """StreamingQueryListener capture of per-batch progress (S10 streaming
    half): numInputRows / batchDuration per micro-batch — the engine-native
    events_processed counters and latency histogram the reference exports
    through Prometheus."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        capture = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                capture.batches.append(
                    {
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "durationMs": dict(p.durationMs or {}),
                        # ISO-8601 wall-clock stamp — the alert rule's rate
                        # window derives from the first->last batch span.
                        "timestamp": p.timestamp,
                        "sources": [s.description for s in p.sources],
                        # state memory feeds the state_store_bytes gauge
                        # (process_gauges); empty for stateless queries
                        "stateOperators": [
                            {"memoryUsedBytes": s.memoryUsedBytes}
                            for s in (p.stateOperators or [])
                        ],
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.batches: list[dict] = []
        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    @property
    def total_rows(self) -> int:
        return sum(b["numInputRows"] for b in self.batches)


# Reference histogram envelope: 1 ms – 5 s (consumer/consumer.py:31).
LATENCY_BUCKETS_S = (0.001, 0.005, 0.01, 0.05, 0.1, 0.5, 1.0, 5.0)


def process_gauges(spark=None, batches: list[dict] | None = None) -> dict[str, float]:
    """Engine twins of the reference dashboard's process-level gauges.

    The reference exports consumer-process memory and a psycopg2 pool size
    (monitoring/grafana/dashboards/dashboard.json; consumer/consumer.py).
    The Spark-side equivalents, sampled on demand:

    - ``jvm_heap_used_bytes`` / ``jvm_heap_total_bytes`` — driver JVM heap
      (``Runtime.getRuntime()``), the process whose memory matters here;
    - ``python_rss_bytes`` — the PySpark driver's CURRENT resident set
      (``/proc/self/status`` VmRSS); where /proc is absent the gauge
      falls back to ``python_peak_rss_bytes`` only (``ru_maxrss`` is a
      peak, not current, and its unit is platform-specific — KiB on
      Linux, bytes on macOS — so the fallback scales by platform);
    - ``executor_pool_size`` — ``defaultParallelism``: the engine's
      "connection pool" twin is its task-slot pool (COVERAGE.md S9: the
      JDBC connector owns actual DB connections);
    - ``state_store_bytes`` — summed ``memoryUsedBytes`` across state
      operators of the LAST captured micro-batch (0 when stateless), the
      long-running-process memory series a streaming job actually watches.
    """
    g: dict[str, float] = {}
    if spark is not None:
        rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        g["jvm_heap_used_bytes"] = float(rt.totalMemory() - rt.freeMemory())
        g["jvm_heap_total_bytes"] = float(rt.totalMemory())
        g["executor_pool_size"] = float(spark.sparkContext.defaultParallelism)
    try:
        # Current RSS, the series a dashboard actually plots. ru_maxrss is
        # PEAK RSS (monotone — useless as a live gauge) so prefer
        # /proc/self/status VmRSS where it exists (Linux).
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    g["python_rss_bytes"] = float(line.split()[1]) * 1024.0
                    break
    except (OSError, ValueError, IndexError):
        # a malformed/truncated VmRSS line must fall through to the
        # ru_maxrss fallback below, not fail the whole gauges call
        pass
    try:
        import resource
        import sys as _sys

        # ru_maxrss unit is platform-specific: KiB on Linux, BYTES on
        # macOS — scaling unconditionally by 1024 would inflate the
        # darwin reading 1024x.
        scale = 1024.0 if _sys.platform.startswith("linux") else 1.0
        peak = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss * scale
        g["python_peak_rss_bytes"] = float(peak)
        # non-Linux fallback so the dashboard key is never silently absent
        g.setdefault("python_rss_bytes", float(peak))
    except (ImportError, ValueError):  # non-POSIX: gauge simply absent
        pass
    if batches:
        g["state_store_bytes"] = float(
            sum(
                op.get("memoryUsedBytes", 0) or 0
                for op in (batches[-1].get("stateOperators") or [])
            )
        )
    return g


def prometheus_exposition(
    ingest_counts: dict | None = None,
    batches: list[dict] | None = None,
    buckets: tuple[float, ...] = LATENCY_BUCKETS_S,
    gauges: dict[str, float] | None = None,
) -> str:
    """Render engine metrics in Prometheus text exposition format.

    Covers the reference's exported series (consumer/consumer.py:30-37):
    ``events_processed_total{status=...}`` counters from the
    ``observed_ingest`` Observation, a ``batch_duration_seconds``
    histogram + ``events_input_rows_total`` counter from
    ``ProgressCapture.batches``, and (round 11) the dashboard's
    process-level gauges via ``gauges=process_gauges(spark, batches)``.
    The snapshot string can be served on ``/metrics`` or dropped in a
    node-exporter textfile-collector dir — Spark-side there is no
    long-lived per-event process to instrument, so a per-job/per-batch
    snapshot IS the native equivalent.
    """
    lines: list[str] = []
    if gauges:
        for name in sorted(gauges):
            lines += [
                f"# TYPE {name} gauge",
                f"{name} {gauges[name]}",
            ]
    if ingest_counts is not None:
        status_of = {
            "events_valid": "success",
            "events_failed": "failed",
            "events_malformed": "malformed",
        }
        lines += [
            "# HELP events_processed_total Events processed by validation status",
            "# TYPE events_processed_total counter",
        ]
        for key, status in status_of.items():
            if key in ingest_counts:
                lines.append(
                    f'events_processed_total{{status="{status}"}} {int(ingest_counts[key])}'
                )
    if batches is not None:
        durs = [
            (b.get("durationMs", {}).get("triggerExecution", 0) or 0) / 1000.0
            for b in batches
        ]
        lines += [
            "# HELP batch_duration_seconds Micro-batch processing latency",
            "# TYPE batch_duration_seconds histogram",
        ]
        cum = 0
        for le in buckets:
            cum = sum(1 for d in durs if d <= le)
            lines.append(f'batch_duration_seconds_bucket{{le="{le}"}} {cum}')
        lines.append(f'batch_duration_seconds_bucket{{le="+Inf"}} {len(durs)}')
        lines.append(f"batch_duration_seconds_sum {sum(durs)}")
        lines.append(f"batch_duration_seconds_count {len(durs)}")
        lines += [
            "# HELP events_input_rows_total Rows ingested across micro-batches",
            "# TYPE events_input_rows_total counter",
            f"events_input_rows_total {sum(b['numInputRows'] for b in batches)}",
        ]
    return "\n".join(lines) + "\n"


def failure_rate_alert(
    batches: list[dict],
    failed_counts: list[int],
    threshold_per_min: float = 5.0,
    min_window_s: float = 60.0,
) -> bool:
    """The reference's alert rule (monitoring/prometheus/alerts.yml:5-12):
    fire when failed events/min exceeds the threshold over the captured
    window. ``failed_counts`` aligns with ``batches``.

    The window is the WALL-CLOCK span from first to last batch timestamp
    (falling back to summed batch latency for captures without timestamps),
    floored at ``min_window_s``: a per-minute rate measured on less than a
    minute of observation extrapolates wildly (one failure in a 100 ms
    capture would read as 600/min), and the reference's rule itself requires
    the rate to hold ``for: 1m`` before firing.
    """
    stamps = [b["timestamp"] for b in batches if b.get("timestamp")]
    span_s = 0.0
    if len(stamps) >= 2:
        import datetime as _dt

        def _parse(ts: str) -> _dt.datetime:
            return _dt.datetime.fromisoformat(ts.replace("Z", "+00:00"))

        span_s = (_parse(max(stamps)) - _parse(min(stamps))).total_seconds()
    if span_s <= 0.0:
        span_s = (
            sum((b.get("durationMs", {}).get("triggerExecution", 0) or 0) for b in batches)
            / 1000.0
        )
    window_s = max(min_window_s, span_s)
    per_min = sum(failed_counts) / (window_s / 60.0)
    return per_min > threshold_per_min

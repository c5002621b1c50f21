"""Command-line entrypoint: the reference's docker-compose workflows as
engine subcommands, so a user of the reference can run every piece of their
pipeline against this repo directly (see MIGRATION.md for the full map).

  python -m energy_data_stream_processing_spark list-queries [--filter S]
  python -m energy_data_stream_processing_spark run-query NAME
         [--sf-dir DIR] [--limit N] [--explain]
  python -m energy_data_stream_processing_spark oracle-check NAME [--sf-dir DIR]
  python -m energy_data_stream_processing_spark pipeline --input events.jsonl
         --output DIR [--streaming] [--lines-per-batch N]

``pipeline`` is the producer+consumer pair end-to-end: JSONL in, envelope +
semantic validation with a dead-letter quarantine, partitioned raw event
store, hourly business metrics table, and an ingest-metrics summary on
stdout (the reference's Prometheus counters, engine-side). Both forms read
the input as text and judge every line with the one line verdict
(``operators.validation.tag_lines``), so they count, dead-letter and land
the same lines. ``--streaming`` is the producer/consumer form: the driver
copies the file once into segments, one per ``--lines-per-batch`` lines,
under ``<output>/_replay/``, and Spark's built-in file stream source
replays them one segment per micro-batch with checkpointed upserts
(``replay_source.replay_stream``), so no Python source process runs per
batch. A re-run into the same output stages only lines the input gained and
resumes from the checkpoint; a shrunk input, a changed
``--lines-per-batch``, an output whose checkpoint predates segment
staging or whose segments hold verdict-tagged rows is refused, and so is
an output written by the other mode. Each micro-batch (``fold``) reads its
source once: it tags every line with its reason and persists that, then
runs only the jobs that write output (the dead letter, whose write also
observes the valid/invalid counts; the raw landing, whose write observes
the touched hours; the touched-hour recompute). The batch form reads the
input with ``spark.read.text``, which splits per file, and lands it as
micro-batch 0 of the same dead-letter and raw layout (increment ``b0``);
its hourly store is a plain overwrite, and a re-run replaces its three
stores.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys


def _spark():
    from .session import get_spark

    return get_spark("energy-cli")


def cmd_list_queries(args) -> int:
    from .plans.catalog import all_queries

    for name, q in sorted(all_queries().items()):
        if args.filter and args.filter.lower() not in name.lower():
            continue
        doc = (q.doc or "").split(". ")[0][:90]
        mark = "oracle" if q.oracle else "rows-only"
        print(f"{name:40s} [{mark}] {doc}")
    return 0


def cmd_run_query(args) -> int:
    from .plans.catalog import all_queries

    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see list-queries", file=sys.stderr)
        return 2
    spark = _spark()
    df = qs[args.name].builder(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.limit, truncate=False)
    return 0


def cmd_oracle_check(args) -> int:
    import duckdb

    from .plans.catalog import all_queries

    qs = all_queries()
    q = qs.get(args.name)
    if q is None:
        print(f"unknown query {args.name!r}", file=sys.stderr)
        return 2
    if q.oracle is None:
        print(f"{args.name} is a rows-only entry (no SQL oracle)")
        return 0
    spark = _spark()
    sdf = q.builder(spark, args.sf_dir)
    cols = sdf.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    srows = sorted(tuple(repr(r[i]) for i in order) for r in sdf.collect())
    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem "
              "events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")
    res = con.execute(q.oracle)
    ocols = [d[0] for d in res.description]
    oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
    orows = sorted(tuple(repr(r[i]) for i in oorder) for r in res.fetchall())
    ok = srows == orows and sorted(cols) == sorted(ocols)
    print(f"{args.name}: {'MATCH' if ok else 'MISMATCH'} ({len(srows)} rows)")
    return 0 if ok else 1


def _dead_letter(out: str, tagged, batch_id: int) -> dict[str, int]:
    """Dead-letter the rows of ``tagged`` with a ``reason``, as their source
    line and the reason, in micro-batch ``batch_id``; the write observes
    and returns ``{"valid": n, "invalid": m}``."""
    from pyspark.sql import functions as F

    from .functions.observe import observed_ingest
    from .sources import sinks

    observed, obs = observed_ingest(tagged)
    sinks.write_quarantine(
        observed.where(F.col("reason").isNotNull()).select("raw", "reason"),
        f"{out}/dead_letter",
        batch_id,
    )
    n = obs.get
    return {"valid": n["events_valid"], "invalid": n["events_failed"]}


def fold(out: str, batch_df, batch_id: int) -> dict[str, int]:
    """One ``pipeline --streaming`` micro-batch of source lines (module
    docstring: one source scan). The tagged frame is persisted because two
    writes read it, and both writes are keyed by ``batch_id``, so a batch
    re-run after a crash before its offset commit rewrites its own rows.
    Returns the batch's ``{"valid": n, "invalid": m}``.
    """
    from pyspark.sql import functions as F

    from .operators.validation import flatten_events, tag_lines
    from .sources import sinks

    tagged = tag_lines(batch_df).persist()
    try:
        counts = _dead_letter(out, tagged, batch_id)
        if counts["valid"]:
            # idempotent landing + touched-hour recompute (exact distincts
            # across batches, no additive-merge drift)
            sinks.refresh_hourly_incremental(
                batch_df.sparkSession, f"{out}/raw_events", f"{out}/hourly_metrics",
                flatten_events(tagged.where(F.col("reason").isNull())),
                increment_id=f"b{batch_id}",
            )
    finally:
        tagged.unpersist()
    return counts


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def _counted(df):
    """``df`` with a row count observed on whatever action runs it."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n")), obs


def cmd_pipeline(args) -> int:
    from pyspark.sql import functions as F

    from .operators.hourly import hourly_business_metrics
    from .operators.validation import flatten_events, tag_lines
    from .sources.sinks import land_raw_increment

    out = args.output.rstrip("/")
    seg_dir = f"{out}/_replay"
    # both modes land raw events and dead letters in one keyed layout, a
    # batch run as micro-batch 0, but their hourly stores differ (a plain
    # overwrite vs hour_key= partitions, unreadable mixed), and a streaming
    # batch 0 would overwrite a batch run's b0 / _batch_id=0 rows, so each
    # mode refuses the other's output before writing anything
    streamed = os.path.exists(seg_dir) or os.path.exists(f"{out}/_checkpoint")
    if args.streaming:
        # staging precedes the query's first checkpoint write, so a
        # checkpoint without segments belongs to a CLI that read the input
        # through a Python stream source; its offsets cannot drive the file
        # source
        if os.path.exists(f"{out}/_checkpoint") and not os.path.isdir(seg_dir):
            raise ValueError(
                f"{out} holds a streaming checkpoint with no staged segments: "
                "it was written before segment staging; use a fresh output"
            )
        if not streamed and any(
            os.path.exists(f"{out}/{d}") for d in ("raw_events", "dead_letter", "hourly_metrics")
        ):
            raise ValueError(
                f"{out} was written by pipeline without --streaming: its "
                "hourly store is not partitioned by hour_key; use a fresh output"
            )
    elif streamed:
        raise ValueError(
            f"{out} was written by pipeline --streaming: its hourly store "
            "is partitioned by hour_key; use a fresh output"
        )

    spark = _spark()
    if args.streaming:
        from .sources.replay_source import replay_stream
        from .streaming.runner import run_stream_foreach_batch

        # producer: segments of source lines, one per micro-batch;
        # consumer: Spark's file stream source, one segment per trigger
        stream = replay_stream(spark, args.input, seg_dir, args.lines_per_batch)
        counts = {"valid": 0, "invalid": 0, "batches": 0}

        def on_batch(batch_df, batch_id):
            for k, v in fold(out, batch_df, batch_id).items():
                counts[k] += v
            counts["batches"] += 1

        # every segment is staged before start, so availableNow drains them
        # all, still one file per trigger, and then ends the query
        run_stream_foreach_batch(spark, stream, on_batch, f"{out}/_checkpoint")
        print(json.dumps({"mode": "streaming", **counts, "output": out}))
    else:
        tagged = tag_lines(spark.read.text(args.input))
        # a batch run replaces its output, as the hourly store's overwrite
        # does: a re-run of one input leaves what one run leaves
        for store in ("raw_events", "dead_letter"):
            shutil.rmtree(f"{out}/{store}", ignore_errors=True)
        # micro-batch 0 of the streaming layout; persisted because three
        # writes read it
        tagged.persist()
        try:
            counts = _dead_letter(out, tagged, 0)
            valid = flatten_events(tagged.where(F.col("reason").isNull()))
            land_raw_increment(valid, f"{out}/raw_events", "b0")
            metrics, n_hours = _counted(hourly_business_metrics(valid))
            metrics.write.mode("overwrite").parquet(f"{out}/hourly_metrics")
        finally:
            tagged.unpersist()
        print(json.dumps({"mode": "batch", **counts, "hours": n_hours.get["n"], "output": out}))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="energy_data_stream_processing_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    lq = sub.add_parser("list-queries")
    lq.add_argument("--filter", default=None)
    lq.set_defaults(fn=cmd_list_queries)

    rq = sub.add_parser("run-query")
    rq.add_argument("name")
    rq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    rq.add_argument("--limit", type=int, default=20)
    rq.add_argument("--explain", action="store_true")
    rq.set_defaults(fn=cmd_run_query)

    oc = sub.add_parser("oracle-check")
    oc.add_argument("name")
    oc.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    oc.set_defaults(fn=cmd_oracle_check)

    pl = sub.add_parser("pipeline")
    pl.add_argument("--input", required=True)
    pl.add_argument("--output", required=True)
    pl.add_argument("--streaming", action="store_true")
    pl.add_argument("--lines-per-batch", type=_positive_int, default=100)
    pl.set_defaults(fn=cmd_pipeline)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())

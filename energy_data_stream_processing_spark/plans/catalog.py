"""Named-query catalog.

Every analytical capability of the reference (its Postgres views and each
Grafana dashboard panel's raw SQL — SURVEY.md §2.4 Q1-Q24) plus the extended
training-data operators lives here as a named entry:

- ``builder(spark, sf_dir) -> DataFrame`` — the Spark-first implementation;
- ``oracle`` — an equivalent DuckDB SQL string over the same parquet tables
  (None only for ops not expressible in SQL, e.g. LSH candidate generation);
- ``headline`` — included in ``bench.py``'s timed set.

``__spark_entry__.py`` (the driver contract) is a thin re-export of this
registry.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class CatalogQuery:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    headline: bool = False
    doc: str = ""


_REGISTRY: dict[str, CatalogQuery] = {}

# ---------------------------------------------------------------------------
# Plan memo (round 16, guide §7.3 "driver is doing something single-threaded").
#
# Profiling showed builder() plan construction — thousands of py4j socket
# round trips per call (2,633 for business_kpis_growth = 0.63 s measured) —
# is 25–50% of several headline timings, paid again on EVERY repeat call.
# A real deployment resolves a repeated query through a plan cache (prepared
# statements); this memo is exactly that: the UNEXECUTED DataFrame (a lazy
# logical plan) keyed by (session identity, dataset realpath + file
# fingerprint, query name). It stores NO results, NO data, NO cached tables:
# every action on a memoized frame still scans the parquet inputs in full.
# Invalidation mirrors sources.adapter._FRAME_CACHE: any (name, size,
# mtime_ns) change in the dataset directory re-builds.
#
# Only builders PROVEN pure-plan may be listed in _PLAN_MEMO_NAMES — i.e.
# a warm build runs ZERO Spark jobs and writes nothing (measured via
# DAGScheduler job ids; see OPTIMIZATION_r16.md). Builders with build-time
# work (ann_ivf_topk's k-means training job, the stage_result entries, the
# freqItems sketch) must NEVER be added: memoizing those would skip real
# per-run computation, which the bench/oracle contract forbids.
# ---------------------------------------------------------------------------
_PLAN_MEMO: dict[tuple, DataFrame] = {}

_PLAN_MEMO_NAMES = frozenset(
    {
        "hourly_business_metrics",
        "rolling_24h_metrics",
        "customer_view",
        "business_kpis_growth",
        "pricing_insights",
        "user_sessions",
        "pricing_summary",
        "top_customer_revenue",
        "shipping_priority",
        "revenue_rollup",
        "value_percentiles_by_type",
        "hourly_event_pivot",
        "local_supplier_volume",
        "forecast_revenue_change",
        "dedup_exact",
        "dedup_ngram_jaccard",
        "dedup_minhash_lsh",
        "embedding_cosine_topk",
        "ann_lsh_topk",
        # the named customer_view swaps (round 16): pure-plan builders
        # (energy_events + expression trees, zero jobs) that the bench
        # LADDER rungs rebuild once per interleaved rep
        "customer_view_twophase",
        "customer_view_prefilter",
        # ann_ivf_topk deliberately absent: one training job per build.
    }
)


def clear_plan_memo() -> None:
    """Drop all memoized plans (tests needing immediate re-resolution)."""
    _PLAN_MEMO.clear()


def _plan_memo_key(spark: SparkSession, sf_dir: str, name: str):
    sfr = os.path.realpath(sf_dir)
    try:
        fp = tuple(
            sorted(
                (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                for e in os.scandir(sfr)
                if e.name.endswith(".parquet")
            )
        )
    except OSError:
        return None
    return (spark.sparkContext.applicationId, id(spark), sfr, name, fp)


def _with_plan_memo(
    name: str, fn: Callable[[SparkSession, str], DataFrame]
) -> Callable[[SparkSession, str], DataFrame]:
    @functools.wraps(fn)
    def build(spark: SparkSession, sf_dir: str, *args, **kwargs) -> DataFrame:
        if args or kwargs:
            # parameterized build (e.g. the Grafana t_lo/t_hi timeFilter):
            # not the driver/bench call shape — never memoized
            return fn(spark, sf_dir, *args, **kwargs)
        key = _plan_memo_key(spark, sf_dir, name)
        if key is None:
            return fn(spark, sf_dir)
        df = _PLAN_MEMO.get(key)
        if df is None:
            df = fn(spark, sf_dir)
            _PLAN_MEMO[key] = df
        return df

    return build


def register(
    name: str, oracle: str | None = None, headline: bool = False, doc: str = ""
) -> Callable:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        builder = _with_plan_memo(name, fn) if name in _PLAN_MEMO_NAMES else fn
        _REGISTRY[name] = CatalogQuery(name=name, builder=builder, oracle=oracle, headline=headline, doc=doc)
        return fn

    return deco


def _app_dir(spark: SparkSession) -> str:
    """This process's scratch root, ``<tmp>/edsp_stage/<app>-<pid>``,
    removed at interpreter exit. It is namespaced by the session's
    applicationId AND the driver pid — local-mode applicationId is just
    'local-<currentTimeMillis>', so two processes starting in the same
    millisecond would otherwise share a namespace and the first to exit
    would atexit-rmtree the other's live files mid-read."""
    import atexit
    import os
    import shutil
    import tempfile

    app_dir = os.path.join(
        tempfile.gettempdir(),
        "edsp_stage",
        f"{spark.sparkContext.applicationId}-{os.getpid()}",
    )
    if app_dir not in _STAGE_CLEANUPS:
        _STAGE_CLEANUPS.add(app_dir)
        os.makedirs(app_dir, exist_ok=True)
        atexit.register(shutil.rmtree, app_dir, ignore_errors=True)
    return app_dir


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh directory under ``_app_dir`` for a builder's temporary
    stores, checkpoints and source files: it outlives the builder call, as
    the frame it returns may read it lazily."""
    import tempfile

    return tempfile.mkdtemp(prefix=prefix, dir=_app_dir(spark))


def stage_result(spark: SparkSession, df: DataFrame, name: str) -> DataFrame:
    """Materialize a builder's output to a per-name parquet staging path and
    return a scan of it. For builders whose result plan reads from a
    TEMPORARY store directory (incremental-index entries), the result must
    be made durable before the store is cleaned up — staging through parquet
    keeps that materialization distributed (executor writes), where a
    ``collect()``/``createDataFrame`` round-trip would funnel every row
    through the driver. Per-entry under ``_app_dir`` and overwritten each
    run within a session; removed at interpreter exit."""
    import os

    stage = os.path.join(_app_dir(spark), name)
    df.write.mode("overwrite").parquet(stage)
    return spark.read.parquet(stage)


_STAGE_CLEANUPS: set[str] = set()


def all_queries() -> dict[str, CatalogQuery]:
    # Import side-effect modules lazily so a broken optional module can't
    # take down the whole catalog at import time.
    from . import energy_queries  # noqa: F401
    from . import ops_queries  # noqa: F401
    from . import profile_queries  # noqa: F401
    from . import sampling_queries  # noqa: F401
    from . import session_queries  # noqa: F401
    from . import timeseries_queries  # noqa: F401
    from . import tpch_queries  # noqa: F401
    from . import training_queries  # noqa: F401
    from .. import streaming  # noqa: F401

    return dict(_REGISTRY)

"""The bench stdout contract (round-15 verdict item 6): ONE JSON line
≤ 1,800 chars (the driver stores a 2,000-char tail; rounds 11-13 lost the
bench artifact to overflow), with the capped-alert shape and a shed order
that sacrifices per-query ratios before the gate. These were live-run
behaviors checked by hand until now; this pins them in CI against
synthetic worst-case inputs (no SparkSession needed)."""

from __future__ import annotations

import json

from bench import compact_line
from energy_data_stream_processing_spark.plans.catalog import all_queries


def _synthetic_result(n_alerts: int = 5, extra_queries: int = 0) -> dict:
    """A worst-case full-result dict: the REAL current headline catalog
    (so the budget test tracks catalog growth), every rung present, and
    ``n_alerts`` gate alerts (a noisy run trips 5+)."""
    names = sorted(n for n, q in all_queries().items() if q.headline)
    names += [f"synthetic_added_headline_query_{i:02d}" for i in range(extra_queries)]
    timings = {n: 1.234 for n in names}
    return {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "warm_value": 19.638,
        "warm_queries": {n: 0.987 for n in names},
        "canary_sec": {"cold": 2.345, "warm": 1.352, "warm_reps": [1.3, 1.352, 1.4]},
        "warm_queries_per_canary": {n: 0.73 for n in names},
        "sf": 0.1,
        "canary_ratio_alerts": {
            "median_ratio_shift": 1.033,
            "vs": "r15 baseline 2026-08-09",
            "alerts": {
                names[i % len(names)] + f"_{i}": {
                    "rel_vs_median": round(1.31 + 0.1 * i, 2),
                    "prev": 0.9,
                    "now": 1.3,
                }
                for i in range(n_alerts)
            },
        },
        "ladder": {"value": 14.5},
        "ladder100": {"value": 31.2},
        "streaming_replay_sec": 12.3,
        "curation_pipeline_sec": 3.21,
        "curation_ladder_sec": 9.87,
    }


def test_budget_holds_with_max_alerts():
    """Worst realistic case — current full catalog, every rung, 5 alerts:
    the line must fit WITHOUT shedding, keep wq_per_canary (the r15
    overflow's casualty), and cap inline alerts at 3 + alerts_more."""
    line = compact_line(_synthetic_result(n_alerts=5))
    assert len(line) <= 1800, len(line)
    assert "\n" not in line
    c = json.loads(line)
    assert "dropped" not in c
    assert c["wq_per_canary"]
    assert c["metric"] == "headline_queries_total"
    assert c["unit"] == "sec" and c["sf"] == 0.1
    assert len(c["queries"]) == len(_synthetic_result()["queries"])
    assert len(c["gate"]["alerts"]) == 3
    assert c["gate"]["alerts_more"] == 2
    # inline alerts are the triage number only, not the full payload
    assert all(isinstance(v, float) for v in c["gate"]["alerts"].values())
    # every rung is also canary-normalized (cross-round comparisons)
    assert set(c["rungs_per_canary"]) == set(c["rungs_sec"])


def test_shed_order_sacrifices_ratios_before_gate():
    """When a grown catalog pushes the line over budget, wq_per_canary
    sheds FIRST (fully recoverable from the sidecar) and the gate block
    survives longest (the alert signal a grader must still see); the
    shed line still fits and records what it dropped. (The guard's hard
    floor: `queries` is the driver contract and is never shed, so ~25+
    long-named extra headline queries would overflow even a fully-shed
    line — catalog growth past ~30 headline entries needs a new layer,
    not a bigger test number.)"""
    line = compact_line(_synthetic_result(n_alerts=5, extra_queries=10))
    assert len(line) <= 1800, len(line)
    c = json.loads(line)
    assert c["dropped"][0] == "wq_per_canary"
    assert "wq_per_canary" not in c
    assert "gate" in c  # shed last, still present here
    assert c["queries"]  # the driver contract is never shed


def test_no_alerts_means_no_alerts_more_key():
    line = compact_line(
        dict(_synthetic_result(), canary_ratio_alerts={"median_ratio_shift": 1.0, "vs": "x", "alerts": {}})
    )
    c = json.loads(line)
    assert c["gate"]["alerts"] == {}
    assert "alerts_more" not in c["gate"]

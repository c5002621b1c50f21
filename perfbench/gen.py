"""Seeded input generator: the only source of every byte the benchmark feeds
the engine. It runs in plain Python (numpy + pyarrow), never through Spark,
so what it writes is independent of the system under test.

It produces
- a dataset directory (``events``, ``documents`` and ``embeddings``
  parquet tables with the schemas the catalog reads) for the catalog
  workloads;
- the JSONL envelope file the ``pipeline`` CLI drains, with a record of what
  was planted in it (invalid lines by reason, late events, the valid rows);
- the seeded draw order of the catalog workloads.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = datetime(2024, 1, 1)
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
DIM = 64


def _zipf_ids(rng: np.random.Generator, n: int, n_ids: int, s: float = 1.1) -> np.ndarray:
    """``n`` draws over ``n_ids`` ids with Zipf(s) popularity; which id is
    hot is itself seeded."""
    w = 1.0 / np.arange(1, n_ids + 1) ** s
    ranks = rng.choice(n_ids, size=n, p=w / w.sum())
    return rng.permutation(n_ids)[ranks]


def write_dataset(out_dir: str, seed: int, n_events: int, n_docs: int, n_vecs: int,
                  days: int = 30, n_users: int = 150) -> dict:
    """Write the three tables the dashboard and curation entries read.
    Returns the event-time span (naive UTC datetimes) for range draws."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    span_us = days * 86_400 * 10**6
    offs = np.sort(rng.integers(0, span_us, size=n_events))
    ts = np.datetime64(EPOCH, "us") + offs.astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(_zipf_ids(rng, n_events, n_users).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_events)),
        "value": pa.array(np.maximum(np.round(rng.lognormal(3.4, 0.9, n_events), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if texts and r < 0.04:  # exact copy of an earlier document
            texts.append(texts[int(rng.integers(len(texts)))])
        elif texts and r < 0.10:  # near-duplicate: a few words replaced
            words = texts[int(rng.integers(len(texts)))].split()
            for j in rng.integers(0, len(words), size=2):
                words[j] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(5, 100))  # some fall under the 10-word gate
            texts.append(" ".join(rng.choice(WORDS, size=n)))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    pq.write_table(documents, os.path.join(out_dir, "documents.parquet"))

    centers = rng.normal(0.0, 1.0, size=(10, DIM))
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = centers[labels] + rng.normal(0.0, 0.8, size=(n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(embeddings, os.path.join(out_dir, "embeddings.parquet"))
    lo = EPOCH + timedelta(microseconds=int(offs[0]))
    hi = EPOCH + timedelta(microseconds=int(offs[-1]))
    return {"t_min": lo, "t_max": hi}


#: Grafana panels whose builders take the ``$__timeFilter`` bounds, with the
#: output column the predicate applies to (tests/test_timefilter.py).
RANGED_PANELS = {
    "total_energy_trend": "time",
    "revenue_overview": "time",
    "green_adoption": "hour",
    "rolling_24h_metrics": "hour",
    "demand_elasticity": "time",
    "pricing_insights": "time",
    "ab_test_segments": "time",
    "peak_load_management": "time",
}

#: hourly_business_metrics, the three schema.sql views, the Grafana panels
#: (with the two template-variable queries) and user_sessions.
DASHBOARD_PANELS = [
    "hourly_business_metrics",
    "rolling_24h_metrics", "daily_energy_summary", "customer_view",
    "revenue_overview", "business_kpis_growth", "engagement_funnel",
    "channel_performance", "customer_activity_funnel", "green_adoption",
    "demand_elasticity", "total_energy_trend", "peak_load_management",
    "pricing_insights", "ab_test_segments", "distinct_tariff_types",
    "distinct_channels",
    "user_sessions",
]

CURATION_ENTRIES = [
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh", "text_quality",
    "embedding_cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
]


def dashboard_cycle(seed: int, t_min: datetime, t_max: datetime) -> list[tuple]:
    """One seeded cycle of dashboard draws: every panel once without a
    range (named) and each ``$__timeFilter`` panel once with a fresh seeded
    ``(t_lo, t_hi)`` (ranged), 26 draws. The composition is fixed, only
    order and ranges depend on the seed, so runs on different seeds do the
    same work. Entries are ``(name, t_lo, t_hi)`` with ``None`` bounds for
    named draws."""
    rnd = random.Random(seed)
    first = t_min.replace(minute=0, second=0, microsecond=0)
    hours = int((t_max - first).total_seconds() // 3600)
    draws: list[tuple] = [(n, None, None) for n in DASHBOARD_PANELS]
    for name in RANGED_PANELS:
        span = rnd.randint(48, min(240, hours - 24))
        lo = first + timedelta(hours=rnd.randint(24, hours - span))
        draws.append((name, lo, lo + timedelta(hours=span)))
    rnd.shuffle(draws)
    return draws


def curation_cycle() -> list[str]:
    """The curation entries in a fixed order; only the data depends on the
    seed, so every run does the same work."""
    return list(CURATION_ENTRIES)


# --------------------------------------------------------------------------
# JSONL envelope file for the ingest pipeline
# --------------------------------------------------------------------------
ENERGY_TYPES = [
    "energy_consumed", "bill_payment", "tariff_switch", "incentive_claim",
    "view_tariffs", "user_login", "user_logout",
]
_TYPE_WEIGHTS = [0.35, 0.15, 0.1, 0.08, 0.12, 0.12, 0.08]
_TARIFFS = ["basic", "green", "premium"]
_CHANNELS = ["web_portal", "mobile_app", "call_center"]
#: the per-type required payload fields (operators/validation.py)
_REQUIRED = {
    "view_tariffs": ["customer_id", "session_id", "channel", "tariff_type"],
    "user_login": ["customer_id", "session_id", "channel"],
    "user_logout": ["customer_id", "session_id", "channel"],
    "tariff_switch": ["customer_id", "session_id", "channel", "tariff_type"],
    "energy_consumed": ["customer_id", "session_id", "channel", "energy_consumed"],
    "incentive_claim": ["customer_id", "session_id", "channel", "tariff_type"],
    "bill_payment": ["customer_id", "session_id", "channel", "payment_amount"],
}


@dataclass
class IngestPlan:
    """What the generator planted in one JSONL file."""

    path: str
    lines: int
    invalid_by_reason: dict = field(default_factory=dict)
    late_events: int = 0
    valid_rows: list = field(default_factory=list)

    @property
    def invalid(self) -> int:
        return sum(self.invalid_by_reason.values())


def write_ingest_file(path: str, seed: int, n_lines: int, n_customers: int = 300,
                      malformed: float = 0.03, semantic: float = 0.02,
                      late: float = 0.05) -> IngestPlan:
    """Write ``n_lines`` reference-format envelopes in arrival order.

    Event time advances about one hour per 40 lines; ``late`` of the events
    carry a time 1-4 hours behind the stream head (out of order). Planted
    invalid lines: ``malformed`` truncated JSON (transport dead letter) and
    ``semantic`` events with a bad event_time or a missing required payload
    field (validation dead letter). Valid rows are recorded in the engine's
    flattened energy-event form for the hourly oracle."""
    rnd = random.Random(seed)
    rng = np.random.default_rng(seed)
    customers = _zipf_ids(rng, n_lines, n_customers)
    plan = IngestPlan(path=path, lines=n_lines)
    bad = plan.invalid_by_reason
    with open(path, "w") as f:
        for i in range(n_lines):
            etype = rnd.choices(ENERGY_TYPES, _TYPE_WEIGHTS)[0]
            t = EPOCH + timedelta(seconds=int(i * 90 + rnd.randint(0, 89)))
            if rnd.random() < late:
                t -= timedelta(seconds=rnd.randint(3600, 4 * 3600))
                plan.late_events += 1
            payload = {
                "customer_id": f"CUST{int(customers[i]):04d}",
                "session_id": str(rnd.randint(1000, 9999)),
                "channel": rnd.choice(_CHANNELS),
            }
            if etype in ("view_tariffs", "tariff_switch", "incentive_claim"):
                payload["tariff_type"] = rnd.choice(_TARIFFS)
            if etype == "energy_consumed":
                payload["energy_consumed"] = f"{rnd.randint(1, 99999) / 1000:.3f}"
            if etype in ("bill_payment", "tariff_switch", "incentive_claim"):
                payload["payment_amount"] = f"{rnd.randint(100, 50000) / 100:.2f}"
            event_time = t.strftime("%Y-%m-%dT%H:%M:%SZ")
            r = rnd.random()
            if r < malformed:
                line = json.dumps({"event_type": etype, "event_time": event_time,
                                   "payload": payload})
                f.write(line[: len(line) // 2] + "\n")
                bad["Malformed JSON"] = bad.get("Malformed JSON", 0) + 1
                continue
            if r < malformed + semantic / 2:
                event_time = "not-a-timestamp"
                reason = "Invalid event_time format"
            elif r < malformed + semantic:
                payload.pop(_REQUIRED[etype][-1])
                reason = f"Missing payload fields: {etype}"
            else:
                reason = None
            f.write(json.dumps({"event_type": etype, "event_time": event_time,
                                "payload": payload}) + "\n")
            if reason:
                bad[reason] = bad.get(reason, 0) + 1
                continue
            pay = payload.get("payment_amount")
            energy = payload.get("energy_consumed")
            plan.valid_rows.append((
                payload["customer_id"], etype, t,
                Decimal(pay) if pay else None,
                Decimal(energy) if energy else None,
                int(payload["session_id"]),
                payload.get("tariff_type"),
                payload["channel"],
            ))
    return plan

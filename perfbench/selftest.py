"""Self-test of the benchmark: the tail-percentile rule, then every
workload at smoke size (sf0.001-like inputs) with its correctness gate, once
untraced and once traced.

    python3 perfbench/selftest.py [--workload NAME ...] [--seed N]

Exits 0 when every check passes. Takes about a minute per workload run.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

import argparse  # noqa: E402
import json  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402


def check_tail_rule() -> None:
    from perfbench.stats import tail

    assert tail([]) == (0.0, 0.0)
    # fewer than a hundred samples: the 90th percentile, nearest rank
    assert tail([3.0, 1.0, 2.0]) == (3.0, 90.0)
    assert tail(list(range(10, 0, -1))) == (9.0, 90.0)
    assert tail(list(range(11, 0, -1))) == (10.0, 90.0)
    assert tail(list(range(20))) == (17.0, 90.0)
    # a hundred samples: the 90th percentile, ten samples above it
    v, p = tail([float(x) for x in reversed(range(100))])
    assert (v, p) == (89.0, 90.0), (v, p)
    # two hundred: the 95th, again exactly ten samples above it
    v, p = tail(list(range(200)))
    assert (v, p) == (189.0, 95.0) and sum(x > v for x in range(200)) == 10
    # more samples of the same distribution never lower the percentile
    pcts = [tail(list(range(n)))[1] for n in range(1, 400)]
    assert pcts == sorted(pcts)
    print("tail rule: ok")


def run_workload(name: str, seed: int, trace: int) -> dict:
    from perfbench.run import END_TO_END, PER_LAYER

    t0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", name,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise AssertionError(f"{name} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    want = PER_LAYER if trace else END_TO_END
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    assert set(res["metrics"]) == set(want), set(res["metrics"]) ^ set(want)
    if not trace:
        assert all(m["value"] > 0 for m in res["metrics"].values()), res["metrics"]
    print(f"{name} trace={trace}: ok ({time.perf_counter() - t0:.0f} s, "
          f"{res['attempted']} operations)")
    return res


def main() -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", nargs="*", default=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    check_tail_rule()
    for name in args.workload:
        for trace in (0, 1):
            run_workload(name, args.seed, trace)
    return 0


if __name__ == "__main__":
    sys.exit(main())

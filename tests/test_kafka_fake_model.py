"""Model-based law for the fake-broker stream reader's offset protocol.

Two review passes in round 7 found real bugs in exactly this module
(non-durable data-loss rebase, stale-start re-poisoning, pattern-topic
deletion bypass), all in corner INTERLEAVINGS of produce / trigger /
crash / restart. Case tests pin each found bug; this file pins the LAW
the cases are instances of, over arbitrary operation sequences:

  Simulating Spark's micro-batch driver (offset WAL + batch replay on
  restart) against `_FakeKafkaStreamReader`, WITHOUT any truncation:

  1. logged batch ends are monotone non-decreasing;
  2. every planned batch [start, end) delivers exactly the record ids
     start..end — including when it is REPLAYED by a fresh reader after a
     crash (same ids, the WAL-replay at-least-once contract);
  3. after draining, the committed batches tile the produced id space
     exactly once — no loss, no overlap, any number of restarts.

  With a truncation (failOnDataLoss=false): ids produced AFTER the
  detection/rebase are still delivered exactly once (recovery law), and
  with failOnDataLoss=true detection raises.

Pure Python — no SparkSession; runs in milliseconds per example.
"""

from __future__ import annotations

import base64
import json
import os

from hypothesis import given, settings
from hypothesis import strategies as st

from energy_data_stream_processing_spark.sources.kafka_fake import (
    _FakeKafkaStreamReader,
)


class _Harness:
    """Spark-micro-batch-driver twin: offset WAL, replay-on-restart."""

    def __init__(self, root: str, fail_on_data_loss: bool = False, per_trigger=3):
        self.root = root
        self.topic_dir = os.path.join(root, "ev")
        os.makedirs(self.topic_dir, exist_ok=True)
        self.opts = {
            "kafka.bootstrap.servers": root,
            "subscribe": "ev",
            "maxOffsetsPerTrigger": str(per_trigger),
            "failOnDataLoss": "true" if fail_on_data_loss else "false",
        }
        self.produced = 0
        self.batch_no = 0
        self.log: list[int] = [0]  # WAL of batch END offsets; log[0]=initial
        self.committed_idx = 0  # index into log of last committed entry
        self.deliveries: list[tuple[int, list[int]]] = []  # (log_idx, ids)
        self.reader = _FakeKafkaStreamReader(self.opts)
        self.reader.initialOffset()  # fresh query, empty WAL

    # --- broker-side ------------------------------------------------------
    def produce(self, k: int) -> None:
        path = os.path.join(self.topic_dir, f"b{self.batch_no:06d}.jsonl")
        self.batch_no += 1
        with open(path, "a") as f:
            for _ in range(k):
                val = base64.b64encode(str(self.produced).encode()).decode()
                f.write(json.dumps({"key": None, "value": val}) + "\n")
                self.produced += 1

    # --- driver-side ------------------------------------------------------
    def _run_batch(self, log_idx: int) -> list[int]:
        start = {"topics": {"ev": self.log[log_idx - 1]}}
        end = {"topics": {"ev": self.log[log_idx]}}
        parts = self.reader.partitions(start, end)
        ids = [
            int(bytes(r[1]).decode())
            for p in parts
            for r in self.reader.read(p)
        ]
        self.deliveries.append((log_idx, ids))
        self.reader.commit(end)
        self.committed_idx = log_idx
        return ids

    def trigger(self) -> None:
        # replay any WAL'd-but-uncommitted batches first (restart path)
        for i in range(self.committed_idx + 1, len(self.log)):
            self._run_batch(i)
        end = int(self.reader.latestOffset()["topics"]["ev"])
        if end != self.log[-1]:
            self.log.append(end)  # WAL write happens BEFORE the batch runs
            self._run_batch(len(self.log) - 1)

    def crash_after_wal(self) -> None:
        """Plan a batch (WAL the end), read it, but crash before commit;
        then restart with a fresh reader (cursors reset)."""
        end = int(self.reader.latestOffset()["topics"]["ev"])
        if end != self.log[-1]:
            self.log.append(end)
            start = {"topics": {"ev": self.log[-2]}}
            parts = self.reader.partitions(start, {"topics": {"ev": end}})
            ids = [
                int(bytes(r[1]).decode())
                for p in parts
                for r in self.reader.read(p)
            ]
            self.deliveries.append((len(self.log) - 1, ids))
            # NO commit — the crash window
        self.reader = _FakeKafkaStreamReader(self.opts)

    def restart(self) -> None:
        self.reader = _FakeKafkaStreamReader(self.opts)

    def drain(self) -> None:
        # no-progress break (NOT a produced-count compare: truncation
        # renumbers offsets, so log[-1] and produced are incomparable)
        for _ in range(64):
            before = (self.committed_idx, self.log[-1])
            self.trigger()
            if (self.committed_idx, self.log[-1]) == before:
                break


OP = st.sampled_from(
    ["p1", "p3", "p5", "trigger", "trigger", "crash", "restart"]
)


@settings(max_examples=120, deadline=None)
@given(ops=st.lists(OP, min_size=1, max_size=14))
def test_exactly_once_tiling_under_arbitrary_interleavings(ops, tmp_path_factory):
    h = _Harness(str(tmp_path_factory.mktemp("broker")))
    for op in ops:
        if op.startswith("p"):
            h.produce(int(op[1]))
        elif op == "trigger":
            h.trigger()
        elif op == "crash":
            h.crash_after_wal()
        else:
            h.restart()
    h.drain()

    # law 1: WAL ends monotone
    assert h.log == sorted(h.log), h.log
    # law 2: every delivery (incl. replays) carries exactly its WAL range
    per_batch: dict[int, list[list[int]]] = {}
    for idx, ids in h.deliveries:
        want = list(range(h.log[idx - 1], h.log[idx]))
        assert ids == want, f"batch {idx}: delivered {ids}, WAL range {want}"
        per_batch.setdefault(idx, []).append(ids)
    # replays of one batch are identical (at-least-once with same content)
    for idx, runs in per_batch.items():
        assert all(r == runs[0] for r in runs), f"batch {idx} replay diverged"
    # law 3: committed batches tile the produced space exactly once
    covered = [
        i
        for idx in range(1, h.committed_idx + 1)
        for i in range(h.log[idx - 1], h.log[idx])
    ]
    assert covered == list(range(h.produced)), (
        f"tiling broken: covered {covered[:20]}..., produced {h.produced}"
    )


@settings(max_examples=40, deadline=None)
@given(
    pre=st.integers(min_value=1, max_value=8),
    post=st.integers(min_value=1, max_value=8),
    crash_between=st.booleans(),
)
def test_post_loss_appends_delivered_exactly_once(
    pre, post, crash_between, tmp_path_factory
):
    """Recovery law (failOnDataLoss=false): after truncation + detection,
    every id appended post-loss is delivered exactly once, regardless of a
    crash-restart straddling the detection."""
    import shutil

    h = _Harness(str(tmp_path_factory.mktemp("broker")))
    h.produce(pre)
    h.drain()
    # broker truncates the whole topic
    shutil.rmtree(h.topic_dir)
    os.makedirs(h.topic_dir)
    h.restart()
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        h.trigger()  # detection + rebase (warns once)
        if crash_between:
            h.crash_after_wal()
        base = h.produced
        h.produce(post)
        h.drain()
    # ids are re-numbered from 0 post-truncation; the post-loss batch is
    # encoded as values base..base+post-1 at INDEXES 0..post-1 — assert by
    # decoded content: each post-loss value delivered exactly once
    post_values = [i for _, ids in h.deliveries for i in ids if i >= base]
    assert sorted(post_values) == list(range(base, base + post)), (
        f"post-loss delivery broken: {sorted(post_values)}"
    )


def test_truncation_with_fail_on_data_loss_true_raises(tmp_path):
    import shutil

    import pytest

    h = _Harness(str(tmp_path / "broker"), fail_on_data_loss=True)
    h.produce(4)
    h.drain()
    shutil.rmtree(h.topic_dir)
    os.makedirs(h.topic_dir)
    h.restart()
    with pytest.raises(RuntimeError, match="data loss detected"):
        h.trigger()


# ---------------------------------------------------------------------------
# Round 8: the SAME law over a PARTITIONED topic (N=3) — the real
# connector's offset shape. A topic is N independent offset sequences; the
# WAL entries are per-partition maps, and the exactly-once tiling must hold
# PER PARTITION under the same produce / trigger / crash / restart
# interleavings, with maxOffsetsPerTrigger capping the TOTAL across
# partitions.
# ---------------------------------------------------------------------------
class _PartitionedHarness:
    """Driver twin over a 3-partition topic. Values encode ``pid:seq`` so a
    delivered record proves both its partition and its per-partition
    position; produce() spreads records round-robin across partitions."""

    N = 3

    def __init__(self, root: str, fail_on_data_loss: bool = False, per_trigger=4):
        self.root = root
        self.topic_dir = os.path.join(root, "ev")
        os.makedirs(self.topic_dir, exist_ok=True)
        with open(os.path.join(self.topic_dir, "_meta.json"), "w") as f:
            json.dump({"partitions": self.N}, f)
        self.opts = {
            "kafka.bootstrap.servers": root,
            "subscribe": "ev",
            "maxOffsetsPerTrigger": str(per_trigger),
            "failOnDataLoss": "true" if fail_on_data_loss else "false",
        }
        self.per_trigger = per_trigger
        self.rr = 0  # round-robin partition cursor
        self.produced = {str(p): 0 for p in range(self.N)}
        self.batch_no = 0
        self.log: list[dict] = [{str(p): 0 for p in range(self.N)}]
        self.committed_idx = 0
        self.deliveries: list[tuple[int, dict[str, list[str]]]] = []
        self.reader = _FakeKafkaStreamReader(self.opts)
        self.reader.initialOffset()

    # --- broker-side ------------------------------------------------------
    def produce(self, k: int) -> None:
        lines: dict[str, list[str]] = {}
        for _ in range(k):
            p = str(self.rr % self.N)
            self.rr += 1
            val = base64.b64encode(
                f"{p}:{self.produced[p]}".encode()
            ).decode()
            lines.setdefault(p, []).append(
                json.dumps({"key": None, "value": val})
            )
            self.produced[p] += 1
        for p, ls in lines.items():
            pdir = os.path.join(self.topic_dir, f"p{int(p):05d}")
            os.makedirs(pdir, exist_ok=True)
            with open(os.path.join(pdir, f"b{self.batch_no:06d}.jsonl"), "a") as f:
                f.write("\n".join(ls) + "\n")
        self.batch_no += 1

    # --- driver-side ------------------------------------------------------
    def _end_map(self) -> dict:
        return {
            p: int(v)
            for p, v in self.reader.latestOffset()["topics"]["ev"].items()
        }

    def _run_batch(self, log_idx: int) -> None:
        start = {"topics": {"ev": self.log[log_idx - 1]}}
        end = {"topics": {"ev": self.log[log_idx]}}
        by_pid: dict[str, list[str]] = {}
        for part in self.reader.partitions(start, end):
            by_pid.setdefault(str(part.pid), []).extend(
                bytes(r[1]).decode() for r in self.reader.read(part)
            )
        self.deliveries.append((log_idx, by_pid))
        self.reader.commit(end)
        self.committed_idx = log_idx

    def trigger(self) -> None:
        for i in range(self.committed_idx + 1, len(self.log)):
            self._run_batch(i)
        end = self._end_map()
        if end != self.log[-1]:
            self.log.append(end)
            self._run_batch(len(self.log) - 1)

    def crash_after_wal(self) -> None:
        # a restarted Spark driver FINISHES WAL replay before planning a
        # new batch (MicroBatchExecution recovery) — a reader is never
        # asked for latestOffset while an uncommitted WAL batch is pending,
        # so the crash op replays those first, exactly like trigger()
        for i in range(self.committed_idx + 1, len(self.log)):
            self._run_batch(i)
        end = self._end_map()
        if end != self.log[-1]:
            self.log.append(end)
            start = {"topics": {"ev": self.log[-2]}}
            by_pid: dict[str, list[str]] = {}
            for part in self.reader.partitions(start, {"topics": {"ev": end}}):
                by_pid.setdefault(str(part.pid), []).extend(
                    bytes(r[1]).decode() for r in self.reader.read(part)
                )
            self.deliveries.append((len(self.log) - 1, by_pid))
            # NO commit — the crash window
        self.reader = _FakeKafkaStreamReader(self.opts)

    def restart(self) -> None:
        self.reader = _FakeKafkaStreamReader(self.opts)

    def drain(self) -> None:
        for _ in range(96):
            before = (self.committed_idx, self.log[-1])
            self.trigger()
            if (self.committed_idx, self.log[-1]) == before:
                break


@settings(max_examples=120, deadline=None)
@given(ops=st.lists(OP, min_size=1, max_size=14))
def test_partitioned_exactly_once_tiling_per_partition(ops, tmp_path_factory):
    """Round-8 law: per-partition WAL monotonicity, WAL-exact deliveries
    (including crash replays), exactly-once tiling of EVERY partition's id
    space, and the total-across-partitions trigger budget."""
    h = _PartitionedHarness(str(tmp_path_factory.mktemp("broker")))
    for op in ops:
        if op.startswith("p"):
            h.produce(int(op[1]))
        elif op == "trigger":
            h.trigger()
        elif op == "crash":
            h.crash_after_wal()
        else:
            h.restart()
    h.drain()

    pids = [str(p) for p in range(h.N)]
    # law 1: WAL ends monotone PER PARTITION
    for p in pids:
        col = [w[p] for w in h.log]
        assert col == sorted(col), (p, col)
    # law 1b: every WAL step's total new records respects the trigger budget
    for i in range(1, len(h.log)):
        step = sum(h.log[i][p] - h.log[i - 1][p] for p in pids)
        assert 0 <= step <= h.per_trigger, (i, step)
    # law 2: every delivery (incl. replays) carries exactly its WAL range,
    # per partition
    per_batch: dict[int, list[dict]] = {}
    for idx, by_pid in h.deliveries:
        for p in pids:
            want = [
                f"{p}:{i}"
                for i in range(h.log[idx - 1][p], h.log[idx][p])
            ]
            assert by_pid.get(p, []) == want, (
                f"batch {idx} partition {p}: {by_pid.get(p)}, want {want}"
            )
        per_batch.setdefault(idx, []).append(by_pid)
    for idx, runs in per_batch.items():
        assert all(r == runs[0] for r in runs), f"batch {idx} replay diverged"
    # law 3: committed batches tile EVERY partition's produced space once
    for p in pids:
        covered = [
            i
            for idx in range(1, h.committed_idx + 1)
            for i in range(h.log[idx - 1][p], h.log[idx][p])
        ]
        assert covered == list(range(h.produced[p])), (p, covered)


@settings(max_examples=30, deadline=None)
@given(
    pre=st.integers(min_value=3, max_value=9),
    post=st.integers(min_value=1, max_value=6),
    lost_pid=st.integers(min_value=0, max_value=2),
    crash_between=st.booleans(),
)
def test_partitioned_single_partition_loss_recovery(
    pre, post, lost_pid, crash_between, tmp_path_factory
):
    """Recovery law, partition-scoped: truncating ONE partition
    (failOnDataLoss=false) rebases only that partition — its post-loss
    appends are delivered exactly once, and the OTHER partitions' tiling
    is completely unaffected."""
    import shutil
    import warnings

    h = _PartitionedHarness(str(tmp_path_factory.mktemp("broker")))
    h.produce(pre)
    h.drain()
    lost = str(lost_pid)
    pdir = os.path.join(h.topic_dir, f"p{lost_pid:05d}")
    if os.path.isdir(pdir):
        shutil.rmtree(pdir)  # broker truncates ONE partition
    h.restart()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        h.trigger()  # detection + rebase for the lost partition only
        if crash_between:
            h.crash_after_wal()
        base = dict(h.produced)
        h.produce(post)
        h.drain()

    pids = [str(p) for p in range(h.N)]
    for p in pids:
        delivered = [v for _, by in h.deliveries for v in by.get(p, [])]
        if p == lost:
            # every id appended post-loss (values base..produced-1, living
            # at renumbered indexes) is delivered exactly once
            post_vals = [
                v for v in delivered if int(v.split(":")[1]) >= base[p]
            ]
            want = [f"{p}:{i}" for i in range(base[p], h.produced[p])]
            assert sorted(post_vals) == want, (p, sorted(post_vals), want)
        else:
            # untouched partitions: full exactly-once tiling, loss-free
            committed = [
                v
                for idx in range(1, h.committed_idx + 1)
                for v in (
                    f"{p}:{i}"
                    for i in range(h.log[idx - 1][p], h.log[idx][p])
                )
            ]
            assert committed == [f"{p}:{i}" for i in range(h.produced[p])]


def test_partitioned_truncation_fail_on_data_loss_true_raises(tmp_path):
    import shutil

    import pytest

    h = _PartitionedHarness(str(tmp_path / "broker"), fail_on_data_loss=True)
    h.produce(6)
    h.drain()
    shutil.rmtree(os.path.join(h.topic_dir, "p00001"))
    h.restart()
    with pytest.raises(
        RuntimeError, match="data loss detected on topic ev partition 1"
    ):
        h.trigger()

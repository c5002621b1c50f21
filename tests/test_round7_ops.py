"""Round-7 hardening tests.

Covers the round-6 verdict items and ADVICE findings:
- `multimodal_decode_stub` flattened to scalar f0..f3 (the one red driver
  row of round 6 — pandas sort_values cannot canonicalize array cells);
- the self-gate's new driver-semantics canonicalization check (red on a
  deliberately array-outputting result, green on scalars);
- kafka-fake un-namespaced sidecar reset warning (ADVICE 1);
- LakeTable bounded per-app-id txn map, Delta txnAppId/txnVersion
  semantics + legacy list-snapshot compat (ADVICE 3), and concurrent
  writers racing one table's commit log.
"""

from __future__ import annotations

import json
import os

import pytest

from energy_data_stream_processing_spark.sources.laketable import LakeTable


# ---------------------------------------------------------------------------
# multimodal_decode_stub flattening + catalog-wide complex-type gate
# ---------------------------------------------------------------------------
def test_decode_stub_entry_is_flat_and_matches_library_array(spark, sf_dir):
    """The catalog entry must emit scalar f0..f3 FLOAT columns (driver-
    canonicalizable), and they must be exactly the library API's
    array<float> features elementwise — flattening is presentation only."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, FloatType, MapType, StructType

    from energy_data_stream_processing_spark.operators.multimodal import (
        decode_media,
        media_table,
    )
    from energy_data_stream_processing_spark.plans.catalog import all_queries

    entry = all_queries()["multimodal_decode_stub"].builder(spark, sf_dir)
    for f in entry.schema.fields:
        assert not isinstance(f.dataType, (ArrayType, MapType, StructType)), (
            f"complex output column {f.name} — driver cannot canonicalize"
        )
    assert {"f0", "f1", "f2", "f3"} <= set(entry.columns)
    assert all(
        isinstance(entry.schema[c].dataType, FloatType) for c in ("f0", "f1", "f2", "f3")
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lib = decode_media(media_table(docs)).select(
        "doc_id", *[F.col("features").getItem(i).alias(f"f{i}") for i in range(4)]
    )
    got = {r.doc_id: (r.f0, r.f1, r.f2, r.f3) for r in entry.collect()}
    want = {r.doc_id: (r.f0, r.f1, r.f2, r.f3) for r in lib.collect()}
    assert got == want


def test_self_gate_rejects_driver_uncanonicalizable_outputs(spark):
    """The strengthened self-gate must go red on exactly the output shape
    that burned round 6 (top-level array column / unhashable cells) and
    stay green on flat scalar outputs."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from self_correctness import assert_driver_canonicalizable

    arr = spark.createDataFrame([(1, [0.1, 0.2])], "id int, features array<float>")
    rows = [tuple(r) for r in arr.collect()]
    with pytest.raises(TypeError, match="complex-type output columns"):
        assert_driver_canonicalizable(arr.schema, rows, [c.lower() for c in arr.columns])

    flat = spark.createDataFrame([(1, 0.1), (2, 0.2)], "id int, f0 double")
    frows = [tuple(r) for r in flat.collect()]
    assert_driver_canonicalizable(flat.schema, frows, [c.lower() for c in flat.columns])


def test_self_gate_behavior_pass_catches_unhashable_rows():
    """Even with a lying schema, the literal pandas sort_values pass must
    reproduce the driver's TypeError on unhashable cells."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts"))
    from pyspark.sql.types import IntegerType, StringType, StructField
    from pyspark.sql.types import StructType as _St

    from self_correctness import assert_driver_canonicalizable

    lying_schema = _St(
        [StructField("id", IntegerType()), StructField("x", StringType())]
    )
    rows = [(1, [1, 2]), (2, [3])]  # lists where the schema claims strings
    with pytest.raises(TypeError):
        assert_driver_canonicalizable(lying_schema, rows, ["id", "x"])


# ---------------------------------------------------------------------------
# fake broker: sidecar lineage warning
# ---------------------------------------------------------------------------
def test_kafka_fake_unnamespaced_reset_warns(tmp_path):
    from energy_data_stream_processing_spark.sources.kafka_fake import (
        _FakeKafkaStreamReader,
    )

    (tmp_path / "broker" / "topic").mkdir(parents=True)
    with open(tmp_path / "broker" / "topic.kafka_commit", "w") as f:
        json.dump({"offset": 3}, f)  # prior lineage's floor
    reader = _FakeKafkaStreamReader(
        {"kafka.bootstrap.servers": str(tmp_path / "broker"), "subscribe": "topic"}
    )
    with pytest.warns(RuntimeWarning, match="un-namespaced commit sidecar"):
        assert reader.initialOffset() == {"topics": {"topic": 0}}


# ---------------------------------------------------------------------------
# LakeTable: bounded txn map (Delta txnAppId/txnVersion) + legacy compat
# ---------------------------------------------------------------------------
def _metrics(spark, rows):
    return spark.createDataFrame(rows, "hour_key string, n long, v double")


def test_applied_txn_map_stays_bounded_per_app_id(spark, tmp_path):
    """N streaming batches under one txn app id must leave exactly ONE
    applied entry (latest version), not N — the ADVICE-3 quadratic-log fix."""
    t = LakeTable(str(tmp_path / "t"))
    for b in range(6):
        t.merge_upsert(
            spark, _metrics(spark, [("h1", b, float(b))]), "hour_key", txn_id=("q1", b)
        )
    snap = t.snapshot()
    assert snap["applied"] == {"q1": 5}
    # monotone replay skip: any version at-or-below the stored one is a no-op
    head = t.latest_version()
    assert (
        t.merge_upsert(
            spark, _metrics(spark, [("h1", 999, 999.0)]), "hour_key", txn_id=("q1", 3)
        )
        == head
    )
    assert [r.n for r in t.read(spark).collect()] == [5]
    # a NEWER version applies
    t.merge_upsert(
        spark, _metrics(spark, [("h1", 6, 6.0)]), "hour_key", txn_id=("q1", 6)
    )
    assert t.snapshot()["applied"] == {"q1": 6}


def test_plain_string_txn_ids_keep_exact_match_semantics(spark, tmp_path):
    t = LakeTable(str(tmp_path / "t"))
    v1 = t.merge_upsert(
        spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key", txn_id="flush-0"
    )
    assert (
        t.merge_upsert(
            spark, _metrics(spark, [("h1", 9, 9.0)]), "hour_key", txn_id="flush-0"
        )
        == v1
    )
    t.merge_upsert(spark, _metrics(spark, [("h1", 2, 2.0)]), "hour_key", txn_id="flush-1")
    assert t.snapshot()["applied"] == {"flush-0": 0, "flush-1": 0}


def test_legacy_list_snapshot_normalizes(spark, tmp_path):
    """Pre-round-7 snapshots stored `applied` as a flat list; reading one
    must normalize to the map and keep exact-match idempotence."""
    t = LakeTable(str(tmp_path / "t"))
    v0 = t.merge_upsert(
        spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key", txn_id="old-0"
    )
    # rewrite the head in the legacy shape
    head = t.snapshot()
    legacy = dict(head, applied=sorted(head["applied"]))
    with open(t._version_file(head["version"]), "w") as f:
        json.dump(legacy, f)
    assert t.snapshot()["applied"] == {"old-0": 0}
    assert (
        t.merge_upsert(
            spark, _metrics(spark, [("h1", 9, 9.0)]), "hour_key", txn_id="old-0"
        )
        == v0
    )


def test_streaming_lake_merge_log_entry_is_o_one(spark, tmp_path):
    """End-to-end through foreach_batch_lake_merge: after many batches the
    head commit JSON carries one txn entry, and byte size does not grow
    with batch count."""
    from energy_data_stream_processing_spark.sources.laketable import (
        foreach_batch_lake_merge,
    )

    fn = foreach_batch_lake_merge(str(tmp_path / "t"), txn_app_id="app")
    sizes = []
    for b in range(8):
        fn(_metrics(spark, [("h1", b, float(b))]), b)
        t = LakeTable(str(tmp_path / "t"))
        with open(t._version_file(t.latest_version())) as f:
            raw = f.read()
        sizes.append(len(raw))
        assert json.loads(raw)["applied"] == {"app": b}
    assert max(sizes) - min(sizes) <= 2  # version-number digit wiggle only


def test_concurrent_writers_both_land(spark, tmp_path):
    """Three writer threads racing one table's commit log: exactly one wins
    each version (the hard link fails EEXIST for the losers), the losers'
    optimistic retry reconciles on top, and no upsert is lost."""
    import threading

    path = str(tmp_path / "t")
    LakeTable(path).merge_upsert(
        spark, _metrics(spark, [("h0", 0, 0.0)]), "hour_key"
    )
    errs = []

    def writer(key, n):
        try:
            LakeTable(path).merge_upsert(
                spark, _metrics(spark, [(key, n, float(n))]), "hour_key"
            )
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=writer, args=(f"h{i}", i)) for i in (1, 2, 3)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    t = LakeTable(path)
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == [("h0", 0, 0.0), ("h1", 1, 1.0), ("h2", 2, 2.0), ("h3", 3, 3.0)]
    assert t.latest_version() == 3  # one version per successful merge


def test_gate_prefix_names_all_resolve():
    """Every name in the driver gate prefix must exist in the catalog — a
    typo would silently drop the entry from the checked prefix (the
    _ordered_names filter hides unknown names instead of failing)."""
    import importlib.util

    from energy_data_stream_processing_spark.plans.catalog import all_queries

    spec = importlib.util.spec_from_file_location(
        "spark_entry",
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    names = set(all_queries())
    missing = [n for n in mod._GATE_PREFIX if n not in names]
    assert not missing, f"gate prefix names not in catalog: {missing}"
    assert len(set(mod._GATE_PREFIX)) == len(mod._GATE_PREFIX), "duplicate prefix names"
    # the whole prefix must be oracle-backed (hash-checkable by the driver)
    unbacked = [n for n in mod._GATE_PREFIX if all_queries()[n].oracle is None]
    assert not unbacked, f"gate prefix entries without oracle: {unbacked}"
    # the driver samples a ~50-entry prefix: names past 50 silently get no
    # evidence, so the curated list must fit the sampled window
    assert len(mod._GATE_PREFIX) <= 50, (
        f"{len(mod._GATE_PREFIX)} prefix names overflow the driver's ~50 sample"
    )


def test_legacy_composite_txn_upgrade_semantics(spark, tmp_path):
    """String->tuple txn upgrade semantics (third review pass): a TUPLE
    redelivery straddling the upgrade RE-APPLIES (content-idempotent —
    recognizing the composite form on the read path would collide with
    unrelated plain ids and silently DROP batches); legacy composite
    entries are RETAINED, never pruned, so a late LEGACY-form redelivery
    stays an exact no-op (pruning would let stale aggregates regress newer
    data); and new tuple commits add only the one per-app entry, so growth
    is bounded from the upgrade onward."""
    t = LakeTable(str(tmp_path / "t"))
    # legacy rounds: composite string ids, one per batch
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key", txn_id="q-0")
    v = t.merge_upsert(
        spark, _metrics(spark, [("h1", 2, 2.0)]), "hour_key", txn_id="q-1"
    )
    assert t.snapshot()["applied"] == {"q-0": 0, "q-1": 0}

    # post-upgrade: the SAME batch 1 redelivered in tuple form re-applies
    # (one extra version, same per-key content the stream would ship)
    v2 = t.merge_upsert(
        spark, _metrics(spark, [("h1", 2, 2.0)]), "hour_key", txn_id=("q", 1)
    )
    assert v2 == v + 1  # applied, not silently swallowed
    assert [r.n for r in t.read(spark).collect()] == [2]  # content unchanged
    # legacy tail retained (frozen), one bounded entry per upgraded app
    assert t.snapshot()["applied"] == {"q-0": 0, "q-1": 0, "q": 1}

    head = t.latest_version()
    # a late LEGACY-form redelivery with STALE content stays a no-op —
    # the retained entry absorbs it instead of regressing h1 to 1
    assert (
        t.merge_upsert(
            spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key", txn_id="q-0"
        )
        == head
    )
    assert [r.n for r in t.read(spark).collect()] == [2]
    assert (  # tuple replays below the stored version are no-ops too
        t.merge_upsert(
            spark, _metrics(spark, [("h1", 77, 77.0)]), "hour_key", txn_id=("q", 0)
        )
        == head
    )
    # growth bound going forward: N more tuple batches, still one app entry
    for b in (2, 3, 4):
        t.merge_upsert(
            spark, _metrics(spark, [("h1", b, float(b))]), "hour_key", txn_id=("q", b)
        )
    assert t.snapshot()["applied"] == {"q-0": 0, "q-1": 0, "q": 4}


def test_tuple_commit_never_swallowed_by_unrelated_plain_id(spark, tmp_path):
    """The review-found loss bug must not exist: an opaque plain-string id
    'other-5' from another writer must NOT make tuple commit ('other', 5)
    a no-op — the batch must land."""
    t = LakeTable(str(tmp_path / "t"))
    t.merge_upsert(
        spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key", txn_id="other-5"
    )
    v = t.merge_upsert(  # brand-new batch, tuple form, colliding name shape
        spark, _metrics(spark, [("h2", 2, 2.0)]), "hour_key", txn_id=("other", 5)
    )
    assert v == 1  # committed a new version — not swallowed
    got = sorted(map(tuple, t.read(spark).collect()))
    assert got == [("h1", 1, 1.0), ("h2", 2, 2.0)]


def test_plain_string_namespace_never_pruned(spark, tmp_path):
    """Plain-string exact-match ids that merely look composite must survive
    tuple commits of an UNRELATED app id."""
    t = LakeTable(str(tmp_path / "t"))
    t.merge_upsert(spark, _metrics(spark, [("h1", 1, 1.0)]), "hour_key", txn_id="other-5")
    t.merge_upsert(spark, _metrics(spark, [("h2", 2, 2.0)]), "hour_key", txn_id=("q", 9))
    assert t.snapshot()["applied"] == {"other-5": 0, "q": 9}
    v = t.latest_version()
    # the plain id still absorbs its own redelivery
    assert (
        t.merge_upsert(
            spark, _metrics(spark, [("h1", 9, 9.0)]), "hour_key", txn_id="other-5"
        )
        == v
    )

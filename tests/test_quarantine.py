"""Dead-letter quarantine: malformed CDC events route to the DLQ,
well-formed ones commit, and the resume position advances past both.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sync.apply import apply_batch
from mongodb_iceberg_sync_spark.sync.quarantine import (
    REASON_COL,
    split_malformed,
)
from mongodb_iceberg_sync_spark.sync.table_store import MorTable

SCHEMA = "op_seq long, op_type string, doc_id string, ts timestamp, full_doc string"


def _batch(spark):
    rows = [
        (1, "insert", "a", None, '{"name": "ok-a", "n": "1"}'),
        (2, "insert", "b", None, '{"name": "ok-b", "n": "2"}'),
        (3, "insert", None, None, '{"name": "keyless"}'),  # missing_key
        (4, "update", "c", None, "{truncated"),  # malformed_json
        (5, "insert", "d", None, None),  # missing_document
        (6, "delete", "b", None, None),  # deletes carry no doc: FINE
        (7, "insert", "e", None, '{"name": "ok-e"}'),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_split_reasons(spark):
    good, bad = split_malformed(_batch(spark))
    assert {r["doc_id"] for r in good.collect()} == {"a", "b", "e"} and (
        good.filter(F.col("op_type") == "delete").count() == 1
    )
    reasons = {r["op_seq"]: r[REASON_COL] for r in bad.collect()}
    assert reasons == {
        3: "missing_key",
        4: "malformed_json",
        5: "missing_document",
    }


def test_apply_batch_with_quarantine(spark, tmp_path):
    table = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    qdir = str(tmp_path / "dlq")
    stats = apply_batch(table, _batch(spark), batch_id=1, quarantine_dir=qdir)
    assert stats["n_quarantined"] == 3
    # resume advances past EVERYTHING, including quarantined seq 5 < 7
    assert stats["max_seen_seq"] == 7
    # table holds only the well-formed upserts (b was deleted after insert)
    snap_ids = {r["doc_id"] for r in table.snapshot().collect()}
    assert snap_ids == {"a", "e"}
    dlq = spark.read.parquet(qdir)
    assert dlq.count() == 3
    assert set(dlq.select(REASON_COL).toPandas()[REASON_COL]) == {
        "missing_key",
        "malformed_json",
        "missing_document",
    }
    # idempotence: replaying the same batch overwrites, not duplicates
    apply_batch(table, _batch(spark), batch_id=1, quarantine_dir=qdir)
    assert spark.read.parquet(qdir).count() == 3


def test_quarantine_only_batch_still_advances(spark, tmp_path):
    table = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    rows = [(10, "insert", None, None, "{}"), (11, "update", "x", None, "nope")]
    batch = spark.createDataFrame(rows, SCHEMA)
    stats = apply_batch(
        table, batch, batch_id=2, quarantine_dir=str(tmp_path / "dlq")
    )
    assert stats["n_ops"] == 0
    assert stats["n_quarantined"] == 2
    assert stats["max_seen_seq"] == 11


def test_no_quarantine_dir_keeps_legacy_behavior(spark, tmp_path):
    # without a DLQ the split never runs: every event (malformed
    # included) flows to the commit path unchanged
    table = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    stats = apply_batch(table, _batch(spark), batch_id=3)
    assert stats["n_quarantined"] == 0
    assert stats["n_ops"] == 7  # every event commits, b insert+delete too
    assert stats["max_seen_seq"] == 7


def test_split_matches_python_reference_on_random_junk(spark):
    """Randomized differential: Spark's column-predicate classification
    must agree with an independent pure-Python json.loads-based
    classifier over a zoo of malformed inputs."""
    import json
    import random

    rng = random.Random(42)
    fragments = [
        '{"a": "1"}', '{"a": {"b": 2}}', "{}", "[1, 2]", '"str"', "123",
        "null", "{truncated", "", '{"a": 1} trailing', "not json at all",
        '{"k": null}', "   ", '{"nested": [1, {"x": "y"}]}',
    ]
    rows = []
    for seq in range(1, 201):
        op = rng.choice(["insert", "update", "replace", "delete"])
        key = rng.choice([f"k{rng.randrange(50)}", None])
        doc = rng.choice(fragments + [None])
        rows.append((seq, op, key, None, doc))
    df = spark.createDataFrame(rows, SCHEMA)

    def ref_reason(op, key, doc):
        if key is None:
            return "missing_key"
        if op == "delete":
            return None
        if doc is None:
            return "missing_document"
        # raw_decode, not loads: the engine-side parser (Jackson via
        # from_json) extracts a leading JSON value and tolerates
        # trailing garbage — quarantine's contract is "can the mapper
        # extract a document", so the reference must match that
        try:
            parsed, _ = json.JSONDecoder().raw_decode(doc.lstrip())
        except ValueError:
            return "malformed_json"
        return None if isinstance(parsed, dict) else "malformed_json"

    expected = {
        seq: ref_reason(op, key, doc) for seq, op, key, _, doc in rows
    }
    good, bad = split_malformed(df)
    got = {r["op_seq"]: None for r in good.collect()}
    got.update({r["op_seq"]: r[REASON_COL] for r in bad.collect()})
    assert len(got) == len(rows)  # partition: no row lost or duplicated
    assert got == expected


def test_metrics_count_quarantined(spark, tmp_path):
    from mongodb_iceberg_sync_spark.sync.engine import CollectionSync
    from mongodb_iceberg_sync_spark.sync.metrics import SyncMetrics

    table = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    metrics = SyncMetrics()
    sync = CollectionSync(
        spark, "q", None, None, table, None,
        metrics=metrics, quarantine_dir=str(tmp_path / "dlq"),
    )
    sync._apply_one(_batch(spark), batch_id=1)
    snap = metrics.snapshot()
    # dead letters count only as quarantined; the four committed ops
    # (a, b, e and the delete of b) as processed
    assert snap["quarantined"] == 3
    assert snap["documents_processed"] == 4
    assert snap["events_by_type"] == {"insert": 3, "delete": 1}


def test_invalidations_pass_quarantine_and_engine_truncates(spark, tmp_path):
    """Drop/rename/invalidate events carry no key and no document; the
    quarantine must let them through to the engine, which truncates and
    re-syncs, instead of dead-lettering them as missing_key."""
    import json

    from mongodb_iceberg_sync_spark.sync.checkpoint import CheckpointStore
    from mongodb_iceberg_sync_spark.sync.engine import CollectionSync, SyncState

    rows = [
        (1, "insert", "d1", None, json.dumps({"_id": "d1", "v": 1})),
        (2, "insert", None, None, '{"v": 2}'),  # missing_key
        (3, "drop", None, None, None),
        (4, "insert", "d2", None, json.dumps({"_id": "d2", "v": 4})),
    ]
    qdir = str(tmp_path / "dlq")
    stats = apply_batch(
        MorTable(spark, str(tmp_path / "t"), key="doc_id"),
        spark.createDataFrame(rows, SCHEMA),
        batch_id=1,
        quarantine_dir=qdir,
    )
    assert stats["n_invalidations"] == 1 and stats["first_invalid_seq"] == 3
    assert stats["n_quarantined"] == 1 and stats["n_ops"] == 1
    assert [r["op_seq"] for r in spark.read.parquet(qdir).collect()] == [2]

    table = MorTable(spark, str(tmp_path / "engine"), key="doc_id")
    store = CheckpointStore(str(tmp_path / "cp.jsonl"))
    snap = spark.createDataFrame(
        [("s1", json.dumps({"_id": "s1", "v": "resynced"}))],
        "doc_id string, full_doc string",
    )

    def batches(resume_from):
        if resume_from is None or resume_from < 4:
            yield (1, spark.createDataFrame(rows, SCHEMA))

    sync = CollectionSync(
        spark, "lake.q", lambda: snap, batches, table, store,
        quarantine_dir=str(tmp_path / "engine_dlq"),
    )
    sync.run_once()
    # d1 was wiped by the drop; d2 (after it) was re-applied post-resync
    got = {r.doc_id: json.loads(r.full_doc) for r in table.snapshot().collect()}
    assert got == {"s1": {"_id": "s1", "v": "resynced"}, "d2": {"_id": "d2", "v": 4}}
    assert SyncState.INITIAL_SYNC in sync.history[2:]
    assert int(store.read("lake.q").resume_token) == 4


def test_invalidation_dead_letters_once_and_counts_ops_once(spark, tmp_path):
    """A malformed event after a mid-batch drop is read twice: by the
    batch, then by the engine's replay of the ops after the drop. It is
    dead-lettered once, by the replay, and SyncMetrics counts each
    committed op once: d1 and d2 before the drop, d3's insert and update
    after it (one per event)."""
    import json
    import os

    from mongodb_iceberg_sync_spark.sync.checkpoint import CheckpointStore
    from mongodb_iceberg_sync_spark.sync.engine import CollectionSync
    from mongodb_iceberg_sync_spark.sync.metrics import SyncMetrics

    def doc(k, v):
        return json.dumps({"_id": k, "v": v})

    rows = [
        (1, "insert", "d1", None, doc("d1", 1)),
        (2, "insert", "d2", None, doc("d2", 2)),
        (3, "drop", None, None, None),
        (4, "insert", "d3", None, doc("d3", 4)),
        (5, "update", "d3", None, doc("d3", 5)),
        (6, "insert", None, None, '{"v": 6}'),  # missing_key
    ]

    def batches(resume_from):
        if resume_from is None:
            yield (1, spark.createDataFrame(rows, SCHEMA))

    qdir = str(tmp_path / "dlq")
    metrics = SyncMetrics()
    table = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    snap = spark.createDataFrame([], "doc_id string, full_doc string")
    sync = CollectionSync(
        spark, "lake.p", lambda: snap, batches, table,
        CheckpointStore(str(tmp_path / "cp.jsonl")),
        metrics=metrics, quarantine_dir=qdir,
    )
    sync.run_once()
    got = {r.doc_id: json.loads(r.full_doc) for r in table.snapshot().collect()}
    assert got == {"d3": {"_id": "d3", "v": 5}}
    # the replay (batch id = the drop's op_seq) dead-letters it, alone
    assert [d for d in os.listdir(qdir) if d.startswith("batch=")] == ["batch=3"]
    assert [r["op_seq"] for r in spark.read.parquet(qdir).collect()] == [6]
    out = metrics.snapshot()
    assert out["quarantined"] == 1
    assert out["documents_processed"] == 4
    assert out["events_by_type"] == {"insert": 3, "update": 1}

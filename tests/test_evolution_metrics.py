"""Schema evolution (A8) and metrics (A34) behavior tests —
reference docs/design.md:434-437 (evolution) and 469-476 (metrics)."""

from __future__ import annotations

import json

from mongodb_iceberg_sync_spark.sources.cdc_feed import events_df
from mongodb_iceberg_sync_spark.sync.evolution import evolve
from mongodb_iceberg_sync_spark.sync.metrics import SyncMetrics, apply_with_metrics
from mongodb_iceberg_sync_spark.sync.schema_infer import infer_union_schema
from mongodb_iceberg_sync_spark.sync.table_store import MorTable


def _schema(*docs):
    return infer_union_schema([json.dumps(d) for d in docs])


def test_evolution_auto_adds_new_field():
    old = _schema({"a": 1})
    new = _schema({"a": 2, "b": "x"})
    plan = evolve(old, new, mode="auto")
    assert plan.added == [("b", "string")]
    assert plan.changed
    assert plan.merged == ("struct", {"a": "long", "b": "string"})


def test_evolution_explicit_skips_new_field():
    old = _schema({"a": 1})
    new = _schema({"a": 2, "b": "x"})
    plan = evolve(old, new, mode="explicit")
    assert plan.added == []
    assert plan.skipped == ["b"]
    assert plan.merged == old  # frozen schema


def test_evolution_conflict_promotes_to_string():
    old = _schema({"a": 1})
    new = _schema({"a": "now-a-string"})
    plan = evolve(old, new, mode="auto")
    assert plan.promoted == [("a", "long", "string")]
    assert plan.merged == ("struct", {"a": "string"})


def test_evolution_numeric_widening_not_conflict():
    old = _schema({"a": 1})
    new = _schema({"a": 2.5})
    plan = evolve(old, new, mode="auto")
    assert plan.promoted == [("a", "long", "double")]
    assert plan.merged == ("struct", {"a": "double"})


def test_evolution_nested_struct_field_added():
    old = _schema({"meta": {"x": 1}})
    new = _schema({"meta": {"x": 1, "y": True}})
    plan = evolve(old, new, mode="auto")
    assert plan.added == [("meta.y", "boolean")]


def test_apply_with_metrics_counts_ops(spark, tmp_path):
    table = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    rows = [
        (1, "insert", "d1", None, json.dumps({"_id": "d1", "v": 1})),
        (2, "insert", "d2", None, json.dumps({"_id": "d2", "v": 2})),
        (3, "update", "d1", None, json.dumps({"_id": "d1", "v": 3})),
        (4, "delete", "d2", None, None),
    ]
    m = SyncMetrics()
    stats = apply_with_metrics(table, events_df(spark, rows), 0, "doc_id", m)
    assert stats["n_ops"] == 4  # every normal op commits; reads fold per key
    # ...and the observed counters see the same raw events, by op type:
    snap = m.snapshot()
    assert snap["events_by_type"] == {"insert": 2, "update": 1, "delete": 1}
    assert snap["documents_processed"] == 4
    assert snap["commits"] == 1
    assert snap["avg_commit_seconds"] > 0
    # table reflects the batch: d1 upserted (LWW v=3), d2 deleted
    got = {r.doc_id: json.loads(r.full_doc) for r in table.snapshot().collect()}
    assert got == {"d1": {"_id": "d1", "v": 3}}


def test_metrics_error_counter():
    m = SyncMetrics()
    m.record_error(IOError("boom"))
    m.record_error(IOError("again"))
    m.set_state("BACKOFF")
    snap = m.snapshot()
    assert snap["errors_by_type"] == {"OSError": 2}
    assert snap["state"] == "BACKOFF"

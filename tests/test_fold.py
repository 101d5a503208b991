"""The fold step behind compact(), compact(where=...) and truncate(): it
replaces base (or its cold partition dirs), retires what the new base
absorbed, and never changes the readable snapshot silently."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sync.table_store import MorTable, SnapshotExpiredError


def _rows(spark, rows):
    return spark.createDataFrame(
        [(d, s, "upsert", day, color, json.dumps({"v": s})) for d, s, day, color in rows],
        "doc_id string, _op_seq long, _op string, day string, color string,"
        " full_doc string",
    )


def _keys(t, **kw):
    snap = t.snapshot(**kw)
    return sorted(r.doc_id for r in snap.collect()) if snap is not None else []


def _red(spark):
    return spark.createDataFrame([("red",)], "color string")


def test_partition_compact_refuses_live_eq_deletes(spark, tmp_path):
    # a cold rewrite stamps its rows op_seq 0; a live equality delete
    # would then strike a row re-upserted after it
    t = MorTable(spark, str(tmp_path / "t"), key="doc_id", partition_col="day")
    t.commit_batch(_rows(spark, [("a", 1, "d1", "red"), ("b", 2, "d2", "blue")]), 1)
    t.delete_equality(_red(spark), batch_id=2)
    t.commit_batch(_rows(spark, [("a", 10, "d1", "red")]), 3)
    assert _keys(t) == ["a", "b"]
    with pytest.raises(ValueError, match=r"run full compact\(\) first"):
        t.compact(where=F.col("day") == "d1")
    assert _keys(t) == ["a", "b"]
    assert not os.path.exists(t.archive_dir)
    t.compact()  # folds and archives the delete file
    assert _keys(t) == ["a", "b"]
    t.commit_batch(_rows(spark, [("c", 11, "d1", "red")]), 4)
    t.compact(where=F.col("day") == "d1")
    assert _keys(t) == ["a", "b", "c"]


def test_truncate_retires_eq_deletes(spark, tmp_path):
    # the engine's invalidation path: truncate, then re-sync the source
    t = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    t.commit_batch(_rows(spark, [("a", 1, "d1", "red")]), 1)
    t.delete_equality(_red(spark), batch_id=2)
    t.truncate()
    assert t.snapshot() is None
    t.append_base(_rows(spark, [("a", 1, "d1", "red")]).drop("_op_seq", "_op"))
    assert _keys(t) == ["a"]


def test_truncate_expires_history(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    t.commit_batch(_rows(spark, [("a", 1, "d1", "red")]), 1)
    t.commit_batch(_rows(spark, [("b", 2, "d1", "red")]), 2)
    t.truncate()
    t.append_base(_rows(spark, [("c", 1, "d1", "red")]).drop("_op_seq", "_op"))
    assert _keys(t) == ["c"]
    with pytest.raises(SnapshotExpiredError):
        t.snapshot(as_of_batch=1)


def test_compact_expires_versions_before_a_folded_delete(spark, tmp_path):
    # the new base already lacks the rows delete commit 5 struck, so it
    # cannot stand for VERSION AS OF an earlier commit
    t = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    t.commit_batch(_rows(spark, [("a", 1, "d1", "red"), ("b", 2, "d1", "blue")]), 0)
    t.delete_equality(_red(spark), batch_id=5)
    t.compact()
    assert _keys(t) == ["b"]
    with pytest.raises(SnapshotExpiredError):
        t.snapshot(as_of_batch=3)

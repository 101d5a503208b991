"""Positional deletes (Iceberg v2 merge-on-read delete files) on
MorTable: DELETE WHERE must strike physical base rows without touching
any data file, respect time travel and rollback, resurrect on a later
upsert of the same key (row-level, not key-level, semantics), and fold
away under compaction."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sync.table_store import MANIFEST, MorTable


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        [(d, s, op, json.dumps({"v": v}), v) for d, s, op, v in rows],
        "doc_id string, _op_seq long, _op string, full_doc string, v long",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "pd_tbl"), key="doc_id")
    t.commit_batch(
        _mk_batch(
            spark,
            [("a", 1, "upsert", 10), ("b", 2, "upsert", 20), ("c", 3, "upsert", 30)],
        ),
        0,
    )
    t.compact()  # positional deletes target compacted base files
    return t


def _keys(t, **kw):
    snap = t.snapshot(**kw)
    return sorted(r.doc_id for r in snap.collect()) if snap is not None else []


def test_delete_where_strikes_matching_rows(table):
    n = table.delete_where(F.col("v") >= 20, batch_id=1)
    assert n == 2
    assert _keys(table) == ["a"]


def test_no_data_file_rewritten(table):
    files_before = {
        p: os.path.getmtime(p)
        for p in (
            os.path.join(b, f)
            for b, _, fs in os.walk(table.base_dir)
            for f in fs
            if f.endswith(".parquet")
        )
    }
    table.delete_where(F.col("v") == 20, batch_id=1)
    files_after = {
        p: os.path.getmtime(p)
        for p in (
            os.path.join(b, f)
            for b, _, fs in os.walk(table.base_dir)
            for f in fs
            if f.endswith(".parquet")
        )
    }
    assert files_before == files_after  # delete files only, data untouched


def test_time_travel_before_delete_sees_rows(table):
    table.delete_where(F.col("v") == 20, batch_id=5)
    assert _keys(table) == ["a", "c"]
    # VERSION AS OF a commit before the delete: row still visible
    assert _keys(table, as_of_batch=4) == ["a", "b", "c"]
    # VERSION AS OF the delete commit or later: row gone
    assert _keys(table, as_of_batch=5) == ["a", "c"]


def test_later_upsert_resurrects_key(spark, table):
    table.delete_where(F.col("v") == 20, batch_id=1)
    assert _keys(table) == ["a", "c"]
    # Iceberg row-level contract: the delete killed a physical ROW,
    # not the key — a fresh upsert of 'b' is a new row and survives
    table.commit_batch(_mk_batch(spark, [("b", 9, "upsert", 99)]), 2)
    snap = {r.doc_id: r.v for r in table.snapshot().collect()}
    assert snap == {"a": 10, "b": 99, "c": 30}


def test_compact_folds_deletes_and_archives_them(table):
    table.delete_where(F.col("v") == 20, batch_id=1)
    table.compact()
    # delete file folded away; state unchanged; read path is clean base
    assert table._ids("pos_deletes") == []
    assert _keys(table) == ["a", "c"]
    # the archived generation keeps the delete files beside the data
    # files they referenced
    files = table.files(include_archive=True)
    archived = [r.file_path for r in files.filter(F.col("section") == "archive").collect()]
    assert any("pos_deletes/" in p for p in archived)
    assert any(p.startswith("base/") for p in archived)


def test_rollback_drops_delete_commit(table):
    table.delete_where(F.col("v") == 20, batch_id=7)
    assert _keys(table) == ["a", "c"]
    dropped = table.rollback_to_batch(3)
    assert 7 in dropped
    assert _keys(table) == ["a", "b", "c"]


def test_files_metadata_lists_delete_files(table):
    table.delete_where(F.col("v") >= 20, batch_id=1)
    rows = table.files().filter(F.col("section") == "pos_delete").collect()
    assert rows, "files() must surface positional-delete files"
    assert all(r.batch_id == 1 for r in rows)
    assert sum(r.record_count for r in rows) == 2


def test_delete_nothing_is_noop(table):
    n = table.delete_where(F.col("v") > 1000, batch_id=1)
    assert n == 0
    assert _keys(table) == ["a", "b", "c"]


def test_replayed_delete_where_converges(table):
    table.delete_where(F.col("v") >= 20, batch_id=1)
    assert _keys(table) == ["a"]
    assert table.delete_where(F.col("v") >= 20, batch_id=1) == 2
    assert _keys(table) == ["a"]
    assert table._ids("pos_deletes") == [1]


def test_delete_file_without_manifest_still_applies(table):
    table.delete_where(F.col("v") == 20, batch_id=1)
    os.remove(f"{dict(table._dirs('pos_deletes'))[1]}/{MANIFEST}")
    assert _keys(table) == ["a", "c"]

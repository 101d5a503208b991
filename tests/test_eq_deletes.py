"""Equality deletes (the third Iceberg v2 delete shape on MorTable):
value-matched rows at or below the delete's sequence cut die — in base
AND deltas — later upserts of the same values survive, time travel and
rollback respect the delete commit id, compaction folds and archives
the delete files."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sync.table_store import MANIFEST, MorTable


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        [(d, s, op, json.dumps({"v": v}), v, cat) for d, s, op, v, cat in rows],
        "doc_id string, _op_seq long, _op string, full_doc string,"
        " v long, cat string",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "eq_tbl"), key="doc_id")
    t.commit_batch(
        _mk_batch(
            spark,
            [
                ("a", 1, "upsert", 10, "red"),
                ("b", 2, "upsert", 20, "blue"),
                ("c", 3, "upsert", 30, "red"),
            ],
        ),
        0,
    )
    return t


def _keys(t, **kw):
    snap = t.snapshot(**kw)
    return sorted(r.doc_id for r in snap.collect()) if snap is not None else []


def _vals(spark, pairs):
    return spark.createDataFrame(pairs, "cat string")


def test_equality_delete_strikes_matching_values(spark, table):
    n = table.delete_equality(_vals(spark, [("red",)]), batch_id=1)
    assert n == 1
    assert _keys(table) == ["b"]


def test_strikes_delta_rows_too(spark, table):
    # no compaction: rows live in a delta commit, not base — equality
    # deletes must reach them anyway (unlike positional deletes)
    assert not table.files().filter(F.col("section") == "base").count()
    table.delete_equality(_vals(spark, [("blue",)]), batch_id=1)
    assert _keys(table) == ["a", "c"]


def test_later_upsert_survives_sequence_cut(spark, table):
    table.delete_equality(_vals(spark, [("red",)]), batch_id=1)
    assert _keys(table) == ["b"]
    # a NEW row with the same equality value but a higher op_seq is
    # younger than the delete's sequence cut — it must survive
    table.commit_batch(
        _mk_batch(spark, [("d", 9, "upsert", 40, "red")]), 2
    )
    assert _keys(table) == ["b", "d"]


def test_time_travel_and_rollback(spark, table):
    table.delete_equality(_vals(spark, [("red",)]), batch_id=5)
    assert _keys(table) == ["b"]
    assert _keys(table, as_of_batch=4) == ["a", "b", "c"]
    dropped = table.rollback_to_batch(3)
    assert 5 in dropped
    assert _keys(table) == ["a", "b", "c"]


def test_compact_folds_and_archives(spark, table):
    table.delete_equality(_vals(spark, [("red",)]), batch_id=1)
    table.compact()
    assert table._ids("eq_deletes") == []
    assert _keys(table) == ["b"]
    # the archived generation keeps the delete file beside the base
    archived = table.files(include_archive=True).filter(F.col("section") == "archive")
    assert any("eq_deletes/" in r.file_path for r in archived.collect())


def test_files_metadata_lists_eq_delete_files(spark, table):
    table.delete_equality(_vals(spark, [("red",), ("blue",)]), batch_id=1)
    rows = table.files().filter(F.col("section") == "eq_delete").collect()
    assert rows
    assert sum(r.record_count for r in rows) == 2


def test_multi_column_equality(spark, table):
    vals = spark.createDataFrame([("red", 10)], "cat string, v long")
    n = table.delete_equality(vals, batch_id=1)
    assert n == 1
    # only (red, 10) dies — (red, 30) survives
    assert _keys(table) == ["b", "c"]


def test_unknown_equality_column_rejected(spark, table):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not in table schema"):
        table.delete_equality(
            spark.createDataFrame([("x",)], "no_such_col string"), batch_id=1
        )


def _seq_cuts(spark, t, batch_id):
    d = dict(t._dirs("eq_deletes"))[batch_id]
    return [r._seq_cut for r in spark.read.parquet(d).collect()]


def test_replayed_delete_keeps_its_cut(spark, tmp_path):
    # the cut is read before any delete file applies: were the delete's
    # own first copy applied, b (seq 2) would drop out of the max, the
    # replay's cut would fall to 1, and b would come back
    t = MorTable(spark, str(tmp_path / "replay"), key="doc_id")
    t.commit_batch(
        _mk_batch(spark, [("a", 1, "upsert", 10, "blue"), ("b", 2, "upsert", 20, "red")]),
        0,
    )
    assert t.delete_equality(_vals(spark, [("red",)]), batch_id=1) == 1
    assert _seq_cuts(spark, t, 1) == [2] and _keys(t) == ["a"]
    assert t.delete_equality(_vals(spark, [("red",)]), batch_id=1) == 1
    assert _seq_cuts(spark, t, 1) == [2] and _keys(t) == ["a"]


def test_delete_file_without_manifest_still_applies(spark, table):
    table.delete_equality(_vals(spark, [("red",)]), batch_id=1)
    os.remove(f"{dict(table._dirs('eq_deletes'))[1]}/{MANIFEST}")
    assert _keys(table) == ["b"]


def test_merge_reinserts_a_struck_row(spark, tmp_path):
    # merge_into stamps its rows above every committed op_seq, the
    # struck row's too, so the delete's cut cannot reach the new row
    t = MorTable(spark, str(tmp_path / "merge"), key="doc_id")
    t.commit_batch(
        _mk_batch(spark, [("a", 1, "upsert", 10, "blue"), ("b", 5, "upsert", 20, "red")]),
        0,
    )
    t.delete_equality(_vals(spark, [("red",)]), batch_id=1)
    assert _keys(t) == ["a"]
    src = spark.createDataFrame(
        [("b", '{"v": 30}', 30, "red")],
        "doc_id string, full_doc string, v long, cat string",
    )
    t.merge_into(src, batch_id=2)
    assert _keys(t) == ["a", "b"]

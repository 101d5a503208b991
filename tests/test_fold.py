"""The fold step behind compact(), compact(where=...) and truncate(): it
replaces base (or its cold partition dirs), retires what the new base
absorbed, and never changes the readable snapshot silently."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sync.table_store import MorTable, SnapshotExpiredError

from .crash_harness import check_every_crash, rows


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
    assert t.history().filter("status = 'archived'").count() == 0
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


# -- a crash at any step of a fold ------------------------------------


def _probe(spark, path):
    """Base row a, delta b (red, batch 1), an equality delete of red
    (batch 2) and delta c (batch 3, day d2): reads [a, c] now and
    [a, b] AS OF batch 1."""
    t = MorTable(spark, path, key="doc_id")
    t.append_base(_rows(spark, [("a", 0, "d1", "blue")]).drop("_op_seq", "_op"))
    t.commit_batch(_rows(spark, [("b", 1, "d1", "red")]), 1)
    t.delete_equality(_red(spark), batch_id=2)
    t.commit_batch(_rows(spark, [("c", 3, "d2", "blue")]), 3)
    return t


def _folded_view(t):
    """The readable state: now, AS OF a folded batch, and the history."""
    return (
        rows(t),
        rows(t, as_of_batch=1),
        [tuple(r) for r in t.history().collect()],
    )


@pytest.mark.parametrize(
    "name, call",
    [
        ("compact", lambda t: t.compact()),
        ("truncate", lambda t: t.truncate()),
    ],
)
def test_crash_at_any_fold_step_leaves_a_whole_state(
    spark, tmp_path, monkeypatch, name, call
):
    """A crash between any two of the fold's mutations leaves the table
    reading as before the fold or as after it — never a lost base row,
    a struck row back, or a folded batch still readable AS OF — and a
    retry converges. A compact() retried past its version write finds
    nothing to fold: it adds no generation to history()."""
    template = _probe(spark, str(tmp_path / "template"))
    n = check_every_crash(
        monkeypatch, template, tmp_path, call, _folded_view, idempotent=name == "compact"
    )
    assert n >= 1


def test_crash_at_any_partial_fold_step_leaves_a_whole_state(spark, tmp_path, monkeypatch):
    """The same for a cold-partition fold, which masks partition d1 out
    of the live base dir and commits instead of deleting it."""
    t = MorTable(spark, str(tmp_path / "template"), key="doc_id", partition_col="day")
    t.append_base(
        _rows(spark, [("a", 0, "d1", "blue"), ("z", 0, "d2", "red")]).drop("_op_seq", "_op")
    )
    t.commit_batch(_rows(spark, [("b", 1, "d1", "red"), ("y", 2, "d2", "blue")]), 1)
    t.commit_batch(_rows(spark, [("a", 3, "d1", "green")]), 2)

    def view(t):
        return rows(t), rows(t, as_of_batch=1), rows(t, lo="a", hi="a")

    call = lambda t: t.compact(where=F.col("day") == "d1")  # noqa: E731
    assert check_every_crash(monkeypatch, t, tmp_path, call, view) >= 1


def test_partial_fold_drops_commits_it_masked_whole(spark, tmp_path):
    """A commit whose every partition a cold fold absorbed leaves the
    version, and the small-file trigger counts the live files files()
    lists, so it drops after the fold."""
    t = MorTable(spark, str(tmp_path / "t"), key="doc_id", partition_col="day")
    t.commit_batch(_rows(spark, [("a", 1, "d1", "red")]), 1)
    t.commit_batch(_rows(spark, [("b", 2, "d1", "red"), ("c", 3, "d2", "red")]), 2)

    def delta_files():
        return t.files().filter("section = 'delta'").collect()

    before = len(delta_files())
    assert t.should_compact(max_delta_files=before)
    t.compact(where=F.col("day") == "d1")
    assert t._ids("deltas") == [2]
    after = delta_files()
    assert {r.partition for r in after} == {"d2"} and len(after) < before
    assert t.should_compact(max_delta_files=len(after))
    assert not t.should_compact(max_delta_files=len(after) + 1)
    assert _keys(t) == ["a", "b", "c"]

"""MorTable has one commit protocol: a commit's rows and manifest are
staged under ``staging/``, and ``_publish`` makes the finished dir
visible under ``deltas/``, ``branches/<name>/``, ``pos_deletes/`` or
``eq_deletes/`` by rename.

Crash injection: for each write path, the manifest dump or the publish
raises. Then the readable state must equal the state before the
commit, no visible commit dir may lack its manifest, and a retry must
leave the same commit dirs, manifests, staging listing and snapshot as
a run that never failed."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sources.cdc_feed import events_df
from mongodb_iceberg_sync_spark.sync.apply import apply_batch, apply_batch_wap
from mongodb_iceberg_sync_spark.sync.table_store import MANIFEST, MorTable


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        [(d, s, op, json.dumps({"v": v})) for d, s, op, v in rows],
        "doc_id string, _op_seq long, _op string, full_doc string",
    )


def _setup(spark, t):
    # a base for delete_where to strike, and an equality delete to replay
    base = _mk_batch(spark, [("y", 0, "upsert", -1), ("z", 0, "upsert", -2)])
    t.append_base(base.drop("_op_seq", "_op"))
    t.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]), 0)
    t.commit_batch(_mk_batch(spark, [("c", 3, "upsert", 3)]), 1)
    _delete_equality_replay(spark, t)
    t.create_branch("audit")
    t.commit_to_branch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 2, "audit")


def _commit_batch_new(spark, t):
    t.commit_batch(_mk_batch(spark, [("a", 5, "delete", None), ("e", 6, "upsert", 6)]), 2)


def _commit_batch_replay(spark, t):
    # replaces batch 1: until the new dir is published the old one stays
    t.commit_batch(_mk_batch(spark, [("c", 3, "upsert", 30), ("f", 4, "upsert", 7)]), 1)


def _commit_to_branch(spark, t):
    t.commit_to_branch(
        _mk_batch(spark, [("b", 5, "delete", None), ("g", 6, "upsert", 8)]), 3, "audit"
    )


def _commit_batches(spark, t):
    df = _mk_batch(
        spark, [("a", 10, "upsert", 10), ("h", 11, "upsert", 11), ("c", 12, "delete", None)]
    ).withColumn("b", F.col("_op_seq") - 8)
    t.commit_batches(df, "b")


def _stage(spark, t):
    # the staged seqs collide with the committed ones, so publish_batch
    # rebases: both the manifest dump and the publish are on its path
    t.stage_batch(_mk_batch(spark, [("b", 1, "upsert", 20), ("i", 2, "upsert", 9)]), 5)


def _publish_batch(spark, t):
    if not os.path.isdir(f"{t.staging_dir}/batch=5"):
        _stage(spark, t)
    t.publish_batch(5)


def _full_doc(spark, v):
    return spark.createDataFrame([(json.dumps({"v": v}),)], "full_doc string")


def _delete_equality_new(spark, t):
    t.delete_equality(_full_doc(spark, 3), batch_id=7)


def _delete_equality_replay(spark, t):
    # replaces delete 6: until the new file is published the old one stays
    t.delete_equality(_full_doc(spark, 2), batch_id=6)


def _delete_where(spark, t):
    t.delete_where(F.col("doc_id") == "z", batch_id=8)


COMMITS = {
    "commit_batch": _commit_batch_new,
    "commit_batch_replay": _commit_batch_replay,
    "commit_to_branch": _commit_to_branch,
    "commit_batches": _commit_batches,
    "publish_batch": _publish_batch,
    "delete_equality": _delete_equality_new,
    "delete_equality_replay": _delete_equality_replay,
    "delete_where": _delete_where,
}


def _commit_dirs(t):
    """{commit dir relative to the table root: its manifest, or None}
    for every commit dir a reader can reach."""
    out = {}
    for root in (t.delta_dir, t.branches_dir, t.pos_delete_dir, t.eq_delete_dir):
        for parent, dirs, _ in os.walk(root):
            for d in [d for d in dirs if d.startswith(("batch=", "delete="))]:
                path = os.path.join(parent, d)
                try:
                    with open(f"{path}/{MANIFEST}") as f:
                        out[os.path.relpath(path, t.path)] = json.load(f)
                except FileNotFoundError:
                    out[os.path.relpath(path, t.path)] = None
                dirs.remove(d)
    return out


def _readable(t):
    def rows(**kw):
        snap = t.snapshot(**kw)
        return sorted(map(tuple, snap.collect())) if snap is not None else []

    return rows(), rows(branch="audit")


def _state(t):
    staged = sorted(os.listdir(t.staging_dir)) if os.path.isdir(t.staging_dir) else []
    return _commit_dirs(t), staged, _readable(t)


class Crash(RuntimeError):
    pass


def _crash():
    """A replacement that raises, and the list of its calls."""
    calls = []

    def boom(*_args, **_kw):
        calls.append(1)
        raise Crash("injected")

    return boom, calls


@pytest.mark.parametrize("point", ["_dump_manifest", "_publish"])
@pytest.mark.parametrize("name", list(COMMITS))
def test_crash_leaves_state_and_retry_converges(spark, tmp_path, monkeypatch, name, point):
    commit = COMMITS[name]
    clean = MorTable(spark, str(tmp_path / "clean"), key="doc_id")
    _setup(spark, clean)
    commit(spark, clean)

    t = MorTable(spark, str(tmp_path / "crash"), key="doc_id")
    _setup(spark, t)
    if name == "publish_batch":
        _stage(spark, t)  # the crash is injected into the publish alone
    before = _readable(t)
    with monkeypatch.context() as mp:
        boom, calls = _crash()
        mp.setattr(MorTable, point, boom)
        with pytest.raises(Crash):
            commit(spark, t)
    assert calls, f"{name} never reached {point}"
    dirs = _commit_dirs(t)
    assert all(m is not None for m in dirs.values()), dirs
    assert _readable(t) == before

    commit(spark, t)
    assert _state(t) == _state(clean)


def test_bulk_crash_mid_publish_leaves_whole_commits(spark, tmp_path, monkeypatch):
    """commit_batches publishes batch by batch: a crash after the first
    publish leaves that batch visible with its manifest, nothing else,
    and a retry converges."""
    clean = MorTable(spark, str(tmp_path / "clean"), key="doc_id")
    _setup(spark, clean)
    _commit_batches(spark, clean)

    t = MorTable(spark, str(tmp_path / "crash"), key="doc_id")
    _setup(spark, t)
    publish = MorTable._publish
    calls = []

    def second_fails(self, src, dst):
        calls.append(dst)
        if len(calls) == 2:
            raise Crash("injected")
        publish(self, src, dst)

    with monkeypatch.context() as mp:
        mp.setattr(MorTable, "_publish", second_fails)
        with pytest.raises(Crash):
            _commit_batches(spark, t)
    dirs = _commit_dirs(t)
    assert all(m is not None for m in dirs.values()), dirs
    assert t._delta_batch_ids() == [0, 1, 2]  # batch 2 is the first published
    _commit_batches(spark, t)
    assert _state(t) == _state(clean)


def test_bulk_commit_with_payload_column_named_batch(spark, tmp_path):
    """Staged under its own partition column, a bulk commit no longer
    collides with a payload column literally named ``batch``."""
    df = _mk_batch(
        spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2), ("c", 3, "upsert", 3)]
    ).withColumn("batch", F.col("_op_seq") * 10)
    loop = MorTable(spark, str(tmp_path / "loop"), key="doc_id")
    for b in (0, 1):
        loop.commit_batch(df.filter(F.col("_op_seq") % 2 == b), b)
    bulk = MorTable(spark, str(tmp_path / "bulk"), key="doc_id")
    assert bulk.commit_batches(df.withColumn("k", F.col("_op_seq") % 2), "k") == [0, 1]
    assert _commit_dirs(bulk) == _commit_dirs(loop)
    assert sorted(map(tuple, bulk.snapshot().collect())) == sorted(
        map(tuple, loop.snapshot().collect())
    )
    assert os.listdir(bulk.staging_dir) == []


def _events(spark, rows):
    return events_df(
        spark, [(s, op, d, None, json.dumps({"_id": d, "v": s})) for s, op, d in rows]
    )


def test_publish_replay_is_not_a_concurrent_commit(spark, tmp_path):
    """A replayed WAP batch replaces its own commit: its seqs must not be
    rebased past the copy it replaces, or the replay would outrank the
    batches that follow it."""
    t = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    batch1 = [(10, "insert", "a"), (30, "insert", "b")]
    assert apply_batch_wap(t, _events(spark, batch1), 1)["published"]
    # replay, as after a crash between publish and checkpoint
    assert apply_batch_wap(t, _events(spark, batch1), 1)["published"]
    published = spark.read.parquet(f"{t.delta_dir}/batch=1").select("_op_seq")
    assert sorted(r[0] for r in published.collect()) == [10, 30]
    apply_batch(t, _events(spark, [(31, "update", "a")]), 2)
    got = {r.doc_id: json.loads(r.full_doc)["v"] for r in t.snapshot().collect()}
    assert got == {"a": 31, "b": 30}


def test_publish_rebase_over_mixed_partition_layouts(spark, tmp_path):
    """After partition evolution, deltas/ holds flat and ``day=`` commit
    dirs side by side; the op_seq conflict check must read both."""
    t = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    day = "doc_id string, _op_seq long, _op string, full_doc string, day string"
    mk = lambda rows: spark.createDataFrame(rows, day)  # noqa: E731
    t.commit_batch(mk([("a", 1, "upsert", "{}", "d1")]), 0)
    t.evolve_partition_spec("day")
    t.commit_batch(mk([("b", 2, "upsert", "{}", "d2")]), 1)
    # staged at seq 1, colliding with batch 0: the rebase path runs
    t.stage_batch(mk([("a", 1, "upsert", '{"v": 2}', "d1")]), 2)
    t.publish_batch(2)
    published = spark.read.parquet(f"{t.delta_dir}/batch=2").select("_op_seq")
    assert [r[0] for r in published.collect()] == [3]
    got = {r.doc_id: r.full_doc for r in t.snapshot().collect()}
    assert got == {"a": '{"v": 2}', "b": "{}"}

"""MorTable has one commit protocol: a commit's rows and manifest are
written to a fresh dir, and ``_publish`` makes it visible by writing
the next table version, which lists it.

Crash injection: for each write path, the manifest dump or the version
write raises. Then the readable state must equal the state before the
commit, every commit a version lists must have its manifest, and a
retry must leave the same commits, manifests, staging listing and
snapshot as a run that never failed. The layout-independent harness
(tests/crash_harness.py) then fails every filesystem mutation of the
multi-commit and metadata-only calls in turn."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sources.cdc_feed import events_df
from mongodb_iceberg_sync_spark.sync.apply import apply_batch, apply_batch_wap
from mongodb_iceberg_sync_spark.sync.table_store import MANIFEST, MorTable

from .crash_harness import check_every_crash, rows


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
    t.publish_batch(5)  # what it publishes was staged before (_stage)


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
    """{(commit root, id): its manifest, or None} for every commit a
    version lists."""
    kinds = ["deltas", "pos_deletes", "eq_deletes"]
    refs = t.refs().filter("kind = 'branch' AND ref != 'main'").collect()
    kinds += [f"branches/{r.ref}" for r in refs]
    return {(k, i): t._manifest(d) or None for k in kinds for i, d in t._dirs(k)}


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
    tables = []
    for n in ("clean", "crash"):
        tables.append(MorTable(spark, str(tmp_path / n), key="doc_id"))
        _setup(spark, tables[-1])
        if name == "publish_batch":
            _stage(spark, tables[-1])  # the crash is injected into the publish alone
    clean, t = tables
    commit(spark, clean)
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
    """commit_batches publishes all its batches in one version: a crash
    at that write leaves none of them visible, and a retry converges."""
    clean = MorTable(spark, str(tmp_path / "clean"), key="doc_id")
    _setup(spark, clean)
    _commit_batches(spark, clean)

    t = MorTable(spark, str(tmp_path / "crash"), key="doc_id")
    _setup(spark, t)
    before = _readable(t)
    with monkeypatch.context() as mp:
        boom, calls = _crash()
        mp.setattr(MorTable, "_publish", boom)
        with pytest.raises(Crash):
            _commit_batches(spark, t)
    assert len(calls) == 1
    assert t._ids("deltas") == [0, 1] and _readable(t) == before
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
    published = spark.read.parquet(dict(t._dirs("deltas"))[1]).select("_op_seq")
    assert sorted(r[0] for r in published.collect()) == [10, 30]
    apply_batch(t, _events(spark, [(31, "update", "a")]), 2)
    got = {r.doc_id: json.loads(r.full_doc)["v"] for r in t.snapshot().collect()}
    assert got == {"a": 31, "b": 30}


def test_publish_reads_op_seq_when_the_manifest_lacks_it(spark, tmp_path):
    """Manifest stats are advisory: a staged batch whose manifest has no
    op_seq bounds is read for its min, and still rebased past a
    colliding commit."""
    t = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    t.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]), 0)
    t.stage_batch(_mk_batch(spark, [("b", 1, "upsert", 20)]), 1)
    path = f"{t.staging_dir}/batch=1/{MANIFEST}"
    with open(path) as f:
        m = json.load(f)
    del m["seq_min"], m["seq_max"]
    with open(path, "w") as f:
        json.dump(m, f)
    t.publish_batch(1)
    assert rows(t) == [("a", '{"v": 1}'), ("b", '{"v": 20}')]


def test_handles_stay_consistent_across_another_handles_expiry(spark, tmp_path):
    """Handle a last read a version that handle b then committed past
    and expired: a reads b's commits, a's next commit keeps them, and a
    version a built before them fails to link into the expired slot."""
    a = MorTable(spark, str(tmp_path / "t"), key="doc_id")
    a.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1)]), 0)
    stale = a._state()
    b = MorTable(spark, a.path, key="doc_id")
    b.commit_batch(_mk_batch(spark, [("b", 2, "upsert", 2)]), 1)
    b.commit_batch(_mk_batch(spark, [("c", 3, "upsert", 3)]), 2)
    b.expire_snapshots()
    with pytest.raises(FileExistsError):
        a._publish(stale)
    assert [r[0] for r in rows(a)] == ["a", "b", "c"]
    a.commit_batch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 3)
    fresh = MorTable(spark, a.path, key="doc_id")
    assert [r[0] for r in rows(fresh)] == ["a", "b", "c", "d"]
    assert fresh.version == a.version == b.version


def test_a_table_without_a_version_log_is_refused(spark, tmp_path):
    """A table written before the version log must not open as empty."""
    os.makedirs(tmp_path / "t" / "deltas" / "batch=0")
    with pytest.raises(ValueError, match="older layout"):
        MorTable(spark, str(tmp_path / "t"), key="doc_id")


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


# -- every mutation of a multi-commit or metadata-only call -----------


def _refs(t):
    return sorted(tuple(r) for r in t.refs().collect())


def _branch_template(spark, path):
    t = MorTable(spark, path, key="doc_id")
    t.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]), 0)
    t.create_branch("audit")
    t.commit_to_branch(_mk_batch(spark, [("c", 3, "upsert", 3)]), 1, "audit")
    t.commit_to_branch(_mk_batch(spark, [("a", 4, "delete", None)]), 2, "audit")
    return t


def _history_template(spark, path):
    t = MorTable(spark, path, key="doc_id")
    t.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]), 0)
    t.compact()
    t.commit_batch(_mk_batch(spark, [("c", 3, "upsert", 3)]), 1)
    t.compact()
    t.commit_batch(_mk_batch(spark, [("a", 4, "upsert", 4)]), 2)
    t.delete_equality(_full_doc(spark, 2), batch_id=3)
    t.commit_batch(_mk_batch(spark, [("d", 5, "upsert", 5)]), 4)
    return t


def _staged_template(spark, path, seq):
    """Batch 0 committed at op_seq 1-2; batch 1 staged from ``seq`` on:
    at 5 publish_batch links the staged files, at 1 it rebases them."""
    t = MorTable(spark, path, key="doc_id")
    t.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]), 0)
    t.stage_batch(_mk_batch(spark, [("b", seq, "upsert", 20), ("c", seq + 1, "upsert", 3)]), 1)
    return t


def _bulk(t):
    df = _mk_batch(
        t.spark, [("a", 10, "upsert", 10), ("h", 11, "upsert", 11), ("b", 12, "delete", None)]
    )
    df = df.withColumn("b", F.col("_op_seq") - 8).withColumn("day", F.lit("d1"))
    t.commit_batches(df, "b")


CALLS = {
    "fast_forward": (_branch_template, lambda t: t.fast_forward("audit")),
    "commit_batches": (_branch_template, _bulk),
    "rollback_to_batch": (_history_template, lambda t: t.rollback_to_batch(2)),
    "evolve_partition_spec": (_history_template, lambda t: t.evolve_partition_spec("day")),
    "expire_snapshots": (_history_template, lambda t: t.expire_snapshots(keep_last=1)),
    # a retry publishes what is still staged: it never stages again
    "publish_batch": (
        lambda spark, path: _staged_template(spark, path, 5),
        lambda t: t.publish_batch(1),
    ),
    "publish_batch_rebase": (
        lambda spark, path: _staged_template(spark, path, 1),
        lambda t: t.publish_batch(1),
    ),
}


@pytest.mark.parametrize("name", list(CALLS))
def test_crash_at_any_step_leaves_a_whole_state(spark, tmp_path, monkeypatch, name):
    """Fast-forward lands the whole branch or none of it, a bulk commit
    all its batches or none, a WAP publish its batch or none, and a
    rollback, spec change or expiry is whole too; a retry converges."""
    template, call = CALLS[name]
    t = template(spark, str(tmp_path / "template"))

    def view(t):
        return rows(t), rows(t, as_of_batch=2), _refs(t), t.partition_col, [
            tuple(r) for r in t.history().collect()
        ]

    assert check_every_crash(monkeypatch, t, tmp_path, call, view) >= 1


def test_crash_at_any_step_of_a_partitioned_bulk_commit(spark, tmp_path, monkeypatch):
    """Under a partition spec commit_batches writes each batch on its
    own, still publishing them in one version."""
    t = MorTable(spark, str(tmp_path / "template"), key="doc_id", partition_col="day")
    t.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1)]).withColumn("day", F.lit("d0")), 0)

    def view(t):
        return rows(t), _refs(t)

    assert check_every_crash(monkeypatch, t, tmp_path, _bulk, view) >= 1

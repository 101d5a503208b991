"""Sync-engine tests mirroring the reference's planned methodology
(SURVEY.md §5 / reference docs/plan.md:152-159,177-183,201-208):
upsert/delete reflected, batch replay idempotent, interrupt/resume via
HWM, invalidate → re-initial-sync, checkpoint round-trip, compaction.

Correctness oracle: sequential replay of the op log in plain Python
(sources.cdc_feed.expected_final_state)."""

from __future__ import annotations

import json

import pytest

from mongodb_iceberg_sync_spark.sources.cdc_feed import (
    events_df,
    expected_final_state,
    make_events,
)
from mongodb_iceberg_sync_spark.sync.apply import apply_batch
from mongodb_iceberg_sync_spark.sync.backfill import run_backfill
from mongodb_iceberg_sync_spark.sync.checkpoint import (
    RESUME_INITIAL_SYNC,
    RESUME_STEADY_STATE,
    RUN_INITIAL_SYNC,
    CheckpointStore,
)
from mongodb_iceberg_sync_spark.sync.engine import CollectionSync, SyncState, backoff_delay
from mongodb_iceberg_sync_spark.sync.table_store import MorTable


def snapshot_dict(table: MorTable) -> dict[str, dict]:
    snap = table.snapshot()
    if snap is None:
        return {}
    return {r.doc_id: json.loads(r.full_doc) for r in snap.collect()}


@pytest.fixture()
def table(spark, tmp_path):
    return MorTable(spark, str(tmp_path / "tbl"), key="doc_id")


@pytest.fixture()
def store(tmp_path):
    return CheckpointStore(str(tmp_path / "ckpt" / "checkpoints.jsonl"))


def test_apply_matches_sequential_replay(spark, table):
    rows = make_events(n_docs=15, n_ops=120)
    apply_batch(table, events_df(spark, rows), batch_id=0)
    assert snapshot_dict(table) == expected_final_state(rows)


def test_apply_split_batches_match(spark, table):
    rows = make_events(n_docs=10, n_ops=90)
    for i, lo in enumerate(range(0, 90, 30)):
        apply_batch(table, events_df(spark, rows[lo : lo + 30]), batch_id=i)
    assert snapshot_dict(table) == expected_final_state(rows)


def test_batch_replay_idempotent(spark, table):
    rows = make_events(n_docs=10, n_ops=60)
    apply_batch(table, events_df(spark, rows[:30]), batch_id=0)
    apply_batch(table, events_df(spark, rows[30:]), batch_id=1)
    state = snapshot_dict(table)
    # replay batch 1 (at-least-once delivery, reference A21)
    apply_batch(table, events_df(spark, rows[30:]), batch_id=1)
    assert snapshot_dict(table) == state == expected_final_state(rows)


def test_delete_removes_row(spark, table):
    rows = [
        (1, "insert", "d1", None, json.dumps({"_id": "d1", "v": 1})),
        (2, "insert", "d2", None, json.dumps({"_id": "d2", "v": 2})),
        (3, "delete", "d1", None, None),
    ]
    apply_batch(table, events_df(spark, rows), batch_id=0)
    assert set(snapshot_dict(table)) == {"d2"}


def test_within_batch_lww_ordering(spark, table):
    # deliberately shuffled op order within the batch: op_seq must win
    rows = [
        (5, "update", "d1", None, json.dumps({"_id": "d1", "v": "late"})),
        (1, "insert", "d1", None, json.dumps({"_id": "d1", "v": "early"})),
        (3, "update", "d1", None, json.dumps({"_id": "d1", "v": "mid"})),
    ]
    apply_batch(table, events_df(spark, rows), batch_id=0)
    assert snapshot_dict(table)["d1"]["v"] == "late"


def test_hot_key_within_and_across_batches(spark, table):
    """A key inserted, updated many times, deleted and re-inserted in one
    batch, then deleted in the next and re-inserted in a third: every
    normal op lands in its batch's commit, and the merge-on-read fold
    (snapshot, lookup, changes, compact) picks the max op_seq."""

    def ev(seq, op, key="hot"):
        doc = None if op == "delete" else json.dumps({"_id": key, "v": seq})
        return (seq, op, key, None, doc)

    batches = [
        [ev(1, "insert"), *[ev(s, "update") for s in range(2, 12)], ev(12, "delete"),
         ev(13, "insert"), ev(14, "replace"), ev(15, "update"), ev(16, "insert", "cold")],
        [*[ev(s, "update") for s in range(20, 25)], ev(25, "delete")],
        [ev(30, "insert"), ev(31, "update")],
    ]

    def hot():
        found = table.lookup("hot")
        return [] if found is None else [json.loads(r.full_doc) for r in found.collect()]

    seen = []
    for b, rows in enumerate(batches):
        # reversed: the order within a batch is carried by op_seq alone
        stats = apply_batch(table, events_df(spark, rows[::-1]), batch_id=b)
        seen += rows
        want = expected_final_state(seen)
        assert stats["n_ops"] == len(rows)
        assert spark.read.parquet(dict(table._dirs("deltas"))[b]).count() == len(rows)
        assert snapshot_dict(table) == want
        assert hot() == ([want["hot"]] if "hot" in want else [])
    assert snapshot_dict(table)["hot"]["v"] == 31
    as_of_0 = {r.doc_id: json.loads(r.full_doc) for r in table.snapshot(as_of_batch=0).collect()}
    assert as_of_0 == expected_final_state(batches[0])

    def changes(*versions):
        return {r.doc_id: r.change_type for r in table.changes(*versions).collect()}

    assert changes(0, 1) == {"hot": "delete"}
    assert changes(1, 2) == {"hot": "insert"}
    assert changes(0) == {"hot": "update"}
    table.compact()
    assert snapshot_dict(table) == expected_final_state(seen)
    assert hot() == [expected_final_state(seen)["hot"]]


def test_compaction_preserves_state(spark, table):
    rows = make_events(n_docs=12, n_ops=100)
    apply_batch(table, events_df(spark, rows), batch_id=0)
    before = snapshot_dict(table)
    table.compact()
    assert snapshot_dict(table) == before == expected_final_state(rows)


def test_snapshot_expiry_retention(spark, tmp_path):
    """A25: repeated compactions archive superseded base generations;
    expire_snapshots(keep_last=N) removes the old ones and the live
    snapshot is unchanged (reference docs/design.md:399)."""
    table = MorTable(spark, str(tmp_path / "texp"), key="doc_id")
    rows = make_events(n_docs=6, n_ops=30)
    for i, lo in enumerate(range(0, 30, 10)):
        apply_batch(
            table, events_df(spark, rows[lo : lo + 10]), batch_id=rows[lo][0]
        )
        table.compact()
    assert table.history().filter("status = 'archived'").count() == 3
    before = snapshot_dict(table)
    removed = table.expire_snapshots(keep_last=1)
    assert removed == 2
    assert table.history().filter("status = 'archived'").count() == 1
    assert snapshot_dict(table) == before == expected_final_state(rows)


def test_concurrent_multi_collection_sync(spark, tmp_path):
    """A32: two CollectionSyncs sharing one SparkSession, independent
    tables and checkpoints, both reaching STEADY_STATE
    (reference docs/design.md:56-64)."""
    syncs = {}
    all_rows = {}
    for name, n_ops in (("a", 40), ("b", 25)):
        rows = make_events(n_docs=5, n_ops=n_ops)
        all_rows[name] = rows
        table = MorTable(spark, str(tmp_path / f"mc_{name}"), key="doc_id")
        store = CheckpointStore(str(tmp_path / f"mc_cp_{name}.jsonl"))
        snap = spark.createDataFrame(
            [(f"seed_{name}", json.dumps({"_id": f"seed_{name}", "v": name}))],
            "doc_id string, full_doc string",
        )

        def batches(resume_from, _rows=rows):
            lo = 0 if resume_from is None else resume_from
            pending = [r for r in _rows if r[0] > lo]
            for i in range(0, len(pending), 15):
                yield (pending[i][0], events_df(spark, pending[i : i + 15]))

        syncs[name] = CollectionSync(
            spark, f"lake.mc_{name}", (lambda s=snap: s), batches, table, store
        )

    import threading

    threads = [threading.Thread(target=s.run_once) for s in syncs.values()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for name, sync in syncs.items():
        assert sync.state == SyncState.STEADY_STATE
        expected = expected_final_state(all_rows[name])
        expected[f"seed_{name}"] = {"_id": f"seed_{name}", "v": name}
        assert snapshot_dict(sync.table) == expected
        # independent checkpoints advanced independently
        assert int(sync.store.read(sync.sync_id).resume_token) == max(
            r[0] for r in all_rows[name]
        )


def test_backfill_then_stream_overlap_dedup(spark, table, store):
    """Reference A22: docs captured by BOTH snapshot and replayed events
    collapse to the event version (higher op_seq)."""
    snap_rows = [
        ("d1", json.dumps({"_id": "d1", "v": "snap"})),
        ("d2", json.dumps({"_id": "d2", "v": "snap"})),
    ]
    source = spark.createDataFrame(snap_rows, "doc_id string, full_doc string")
    run_backfill(source, table, store, "lake.t", key="doc_id")
    overlap = [(10, "update", "d2", None, json.dumps({"_id": "d2", "v": "stream"}))]
    apply_batch(table, events_df(spark, overlap), batch_id=0)
    state = snapshot_dict(table)
    assert state["d1"]["v"] == "snap"
    assert state["d2"]["v"] == "stream"


def test_backfill_interrupt_resume(spark, tmp_path):
    """Interrupt mid-backfill → resume from HWM without re-emitting
    completed rows (reference docs/plan.md:181-183)."""
    table = MorTable(spark, str(tmp_path / "t2"), key="doc_id")
    store = CheckpointStore(str(tmp_path / "cp2.jsonl"))
    source = spark.createDataFrame(
        [(f"doc{i:03d}", json.dumps({"_id": f"doc{i:03d}", "v": i})) for i in range(50)],
        "doc_id string, full_doc string",
    )
    with pytest.raises(RuntimeError, match="simulated"):
        run_backfill(
            source, table, store, "lake.t2", key="doc_id", chunk_rows=10, fail_after_chunks=2
        )
    cp = store.read("lake.t2")
    assert store.restart_decision("lake.t2") == RESUME_INITIAL_SYNC
    assert cp.documents_processed == 20
    run_backfill(source, table, store, "lake.t2", key="doc_id", chunk_rows=10)
    cp = store.read("lake.t2")
    assert cp.documents_processed == 50  # no double counting
    assert len(snapshot_dict(table)) == 50
    assert store.restart_decision("lake.t2") == RESUME_STEADY_STATE


def test_restart_decision_fresh(store):
    assert store.restart_decision("never.seen") == RUN_INITIAL_SYNC


def test_state_machine_full_lifecycle(spark, tmp_path):
    table = MorTable(spark, str(tmp_path / "t3"), key="doc_id")
    store = CheckpointStore(str(tmp_path / "cp3.jsonl"))
    rows = make_events(n_docs=8, n_ops=40)
    snap = spark.createDataFrame(
        [("seed1", json.dumps({"_id": "seed1", "v": "seed"}))],
        "doc_id string, full_doc string",
    )

    def batches(resume_from):
        lo = 0 if resume_from is None else resume_from
        pending = [r for r in rows if r[0] > lo]
        for i in range(0, len(pending), 20):
            # batch id = first op_seq: stable across resumes (never
            # renumber from zero — ids key idempotent delta commits)
            yield (pending[i][0], events_df(spark, pending[i : i + 20]))

    sync = CollectionSync(
        spark, "lake.t3", lambda: snap, batches, table, store, key="doc_id"
    )
    sync.run_once()
    assert sync.state == SyncState.STEADY_STATE
    expected = expected_final_state(rows)
    expected["seed1"] = {"_id": "seed1", "v": "seed"}
    assert snapshot_dict(table) == expected
    # resume token advanced to the last op
    assert int(store.read("lake.t3").resume_token) == max(r[0] for r in rows)


def test_checkpoint_names_the_version_holding_the_last_batch(spark, tmp_path):
    """last_snapshot_id (reference docs/design.md:318-328) is the table
    version the checkpointed commit produced: the version that first
    lists the last batch."""
    table = MorTable(spark, str(tmp_path / "tv"), key="doc_id")
    store = CheckpointStore(str(tmp_path / "cpv.jsonl"))
    rows = make_events(n_docs=6, n_ops=40)
    snap = spark.createDataFrame(
        [("seed1", json.dumps({"_id": "seed1", "v": "seed"}))],
        "doc_id string, full_doc string",
    )
    ids = []

    def batches(resume_from):
        for i in range(0, len(rows), 20):
            ids.append(rows[i][0])
            yield (rows[i][0], events_df(spark, rows[i : i + 20]))

    assert store.read("lake.tv") is None
    sync = CollectionSync(spark, "lake.tv", lambda: snap, batches, table, store, key="doc_id")
    sync.run_once()
    cp = store.read("lake.tv")
    assert cp.last_snapshot_id == table.version
    assert ids[-1] in table._ids("deltas")
    # the version before it does not hold the last batch yet
    before = table._load(cp.last_snapshot_id - 1)["deltas"]
    assert str(ids[-1]) not in before and str(ids[-2]) in before


def test_invalidate_triggers_reinitial_sync(spark, tmp_path):
    table = MorTable(spark, str(tmp_path / "t4"), key="doc_id")
    store = CheckpointStore(str(tmp_path / "cp4.jsonl"))
    snap = spark.createDataFrame(
        [("s1", json.dumps({"_id": "s1", "v": "resynced"}))],
        "doc_id string, full_doc string",
    )
    rows = [
        (1, "insert", "d1", None, json.dumps({"_id": "d1", "v": 1})),
        (2, "invalidate", None, None, None),
    ]

    def batches(resume_from):
        if resume_from is None or resume_from < 2:
            yield (0, events_df(spark, rows))

    sync = CollectionSync(spark, "lake.t4", lambda: snap, batches, table, store)
    sync.run_once()
    # d1 was wiped by the invalidate; table re-synced from the snapshot
    assert snapshot_dict(table) == {"s1": {"_id": "s1", "v": "resynced"}}
    assert SyncState.INITIAL_SYNC in sync.history[2:]  # re-entered after steady


def test_invalidate_mid_batch_keeps_trailing_events(spark, tmp_path):
    """Events ordered AFTER an invalidate in the same micro-batch must
    survive the re-initial-sync (sequential-oracle parity): the engine
    splits the batch at the invalidate and replays the tail."""
    table = MorTable(spark, str(tmp_path / "t6"), key="doc_id")
    store = CheckpointStore(str(tmp_path / "cp6.jsonl"))
    snap = spark.createDataFrame(
        [("s1", json.dumps({"_id": "s1", "v": "resynced"}))],
        "doc_id string, full_doc string",
    )
    rows = [
        (1, "insert", "d1", None, json.dumps({"_id": "d1", "v": 1})),
        (2, "invalidate", None, None, None),
        (3, "insert", "d2", None, json.dumps({"_id": "d2", "v": 3})),
    ]

    def batches(resume_from):
        if resume_from is None or resume_from < 3:
            yield (1, events_df(spark, rows))

    sync = CollectionSync(spark, "lake.t6", lambda: snap, batches, table, store)
    sync.run_once()
    # d1 wiped by the invalidate; d2 (after it) re-applied post-resync
    assert snapshot_dict(table) == {
        "s1": {"_id": "s1", "v": "resynced"},
        "d2": {"_id": "d2", "v": 3},
    }
    assert int(store.read("lake.t6").resume_token) == 3


def test_backoff_and_retry(spark, tmp_path):
    table = MorTable(spark, str(tmp_path / "t5"), key="doc_id")
    store = CheckpointStore(str(tmp_path / "cp5.jsonl"))
    snap = spark.createDataFrame(
        [("d1", json.dumps({"_id": "d1", "v": 0}))], "doc_id string, full_doc string"
    )
    calls = {"n": 0}

    def flaky_batches(resume_from):
        calls["n"] += 1
        if calls["n"] == 1:
            raise IOError("transient source outage")
        return iter(())

    delays: list[float] = []
    sync = CollectionSync(
        spark,
        "lake.t5",
        lambda: snap,
        flaky_batches,
        table,
        store,
        max_attempts=5,
        sleep=delays.append,
    )
    sync.run_once()
    assert sync.state == SyncState.STEADY_STATE
    assert SyncState.BACKOFF in sync.history
    assert delays == [1.0]  # min(1s × 2^0, 60s)


def test_backoff_formula():
    # reference docs/design.md:454-456
    assert [backoff_delay(a) for a in (0, 1, 2, 5, 6, 10)] == [
        1.0,
        2.0,
        4.0,
        32.0,
        60.0,
        60.0,
    ]


def _mk_batch(spark, rows):
    # rows: list of (doc_id, op_seq, op, v)
    return spark.createDataFrame(
        [(d, s, op, json.dumps({"v": v})) for d, s, op, v in rows],
        "doc_id string, _op_seq long, _op string, full_doc string",
    )


def test_manifest_prunes_commit_dirs(spark, tmp_path):
    """Iceberg data-skipping analog: commit dirs whose key bounds miss
    the scan range never enter the plan."""
    table = MorTable(spark, str(tmp_path / "tman"), key="doc_id")
    table.commit_batch(_mk_batch(spark, [("a1", 1, "upsert", 1), ("a9", 2, "upsert", 2)]), 0)
    table.commit_batch(_mk_batch(spark, [("m1", 3, "upsert", 3), ("m9", 4, "upsert", 4)]), 1)
    table.commit_batch(_mk_batch(spark, [("z1", 5, "upsert", 5), ("z9", 6, "upsert", 6)]), 2)

    kept = table.prune_batches(lo="m0", hi="m99")
    assert [p.rsplit("/", 1)[1] for p in kept] == ["batch=1"]

    snap = table.snapshot(lo="m0", hi="m99")
    assert sorted(r.doc_id for r in snap.collect()) == ["m1", "m9"]
    # unbounded scan still sees everything
    assert table.snapshot().count() == 6


def test_manifest_missing_is_conservative(spark, tmp_path):
    import os

    table = MorTable(spark, str(tmp_path / "tcons"), key="doc_id")
    table.commit_batch(_mk_batch(spark, [("a1", 1, "upsert", 1)]), 0)
    os.remove(f"{table.delta_dir}/batch=0/_manifest.json")
    # no manifest → keep the dir (skipping is advisory, never lossy)
    assert len(table.prune_batches(lo="zz")) == 1
    assert table.snapshot(lo="a0", hi="a2").count() == 1


def test_time_travel_as_of_batch(spark, tmp_path):
    """VERSION AS OF a commit: later upserts/deletes invisible."""
    table = MorTable(spark, str(tmp_path / "ttt"), key="doc_id")
    table.commit_batch(_mk_batch(spark, [("d1", 1, "upsert", 1), ("d2", 2, "upsert", 2)]), 0)
    table.commit_batch(_mk_batch(spark, [("d1", 3, "upsert", 10), ("d3", 4, "upsert", 3)]), 1)
    table.commit_batch(_mk_batch(spark, [("d2", 5, "delete", None)]), 2)

    v0 = {r.doc_id: json.loads(r.full_doc)["v"] for r in table.snapshot(as_of_batch=0).collect()}
    assert v0 == {"d1": 1, "d2": 2}
    v1 = {r.doc_id: json.loads(r.full_doc)["v"] for r in table.snapshot(as_of_batch=1).collect()}
    assert v1 == {"d1": 10, "d2": 2, "d3": 3}
    now = {r.doc_id: json.loads(r.full_doc)["v"] for r in table.snapshot().collect()}
    assert now == {"d1": 10, "d3": 3}


def test_changefeed_between_versions(spark, tmp_path):
    """CDF: diff VERSION AS OF 0 vs current → insert/update/delete."""
    table = MorTable(spark, str(tmp_path / "tcdf"), key="doc_id")
    table.commit_batch(_mk_batch(spark, [("c1", 1, "upsert", 1), ("c2", 2, "upsert", 2), ("c4", 3, "upsert", 4)]), 0)
    table.commit_batch(_mk_batch(spark, [("c1", 4, "upsert", 10), ("c3", 5, "upsert", 3)]), 1)
    table.commit_batch(_mk_batch(spark, [("c2", 6, "delete", None)]), 2)

    changes = {r.doc_id: r.change_type for r in table.changes(from_batch=0).collect()}
    assert changes == {"c1": "update", "c2": "delete", "c3": "insert"}
    # bounded window: batch 0 -> 1 (the delete in batch 2 invisible)
    w = {r.doc_id: r.change_type for r in table.changes(0, to_batch=1).collect()}
    assert w == {"c1": "update", "c3": "insert"}
    # post-image payload rides along
    post = {r.doc_id: r.full_doc for r in table.changes(from_batch=0).collect() if r.change_type != "delete"}
    assert json.loads(post["c1"])["v"] == 10


def test_manifest_pruning_never_loses_rows_randomized(spark, tmp_path):
    """Property: for random batches and random scan ranges, the
    manifest-pruned snapshot(lo, hi) equals the unpruned snapshot
    filtered row-level — skipping is an optimization, never lossy.
    (Deterministic seed; plain loop rather than hypothesis because
    each case costs Spark jobs.)"""
    import random

    rng = random.Random(7)
    table = MorTable(spark, str(tmp_path / "tprop"), key="doc_id")
    seq = 1
    for b in range(6):
        rows = []
        for _ in range(rng.randint(1, 8)):
            key = f"k{rng.randint(0, 30):02d}"
            op = "delete" if rng.random() < 0.2 else "upsert"
            rows.append((key, seq, op, seq))
            seq += 1
        table.commit_batch(_mk_batch(spark, rows), b)

    full = {r.doc_id: r.full_doc for r in table.snapshot().collect()}
    for _ in range(5):
        lo = f"k{rng.randint(0, 30):02d}"
        hi = f"k{rng.randint(0, 30):02d}"
        if lo > hi:
            lo, hi = hi, lo
        pruned = {r.doc_id: r.full_doc for r in table.snapshot(lo=lo, hi=hi).collect()}
        expected = {k: v for k, v in full.items() if lo <= k <= hi}
        assert pruned == expected, (lo, hi)


def test_partition_targeted_compaction(spark, tmp_path):
    """docs/design.md:396-400: compaction rewrites only COLD partitions.
    Hot partitions' base and delta files stay physically untouched
    (same mtime+inode); cold partitions fold; snapshot identical."""
    import os

    from pyspark.sql import functions as F

    table = MorTable(spark, str(tmp_path / "tpart"), key="doc_id", partition_col="day")

    def batch(rows, bid):
        df = spark.createDataFrame(
            [(d, s, op, day, json.dumps({"v": v})) for d, s, op, day, v in rows],
            "doc_id string, _op_seq long, _op string, day string, full_doc string",
        )
        table.commit_batch(df, bid)

    batch([("a1", 1, "upsert", "d01", 1), ("b1", 2, "upsert", "d02", 2)], 0)
    batch([("a1", 3, "upsert", "d01", 10), ("b2", 4, "upsert", "d02", 3),
           ("a2", 5, "delete", "d01", None)], 1)
    before = {r.doc_id: (r.day, json.loads(r.full_doc)["v"])
              for r in table.snapshot().collect()}

    def stat_map(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(dirpath, f))
                    out[os.path.join(dirpath, f)] = (st.st_ino, st.st_mtime_ns)
        return out

    hot_before = {p: s for p, s in {**stat_map(table.base_dir), **stat_map(table.delta_dir)}.items()
                  if "day=d02" in p}
    table.compact(where=F.col("day") == "d01")

    hot_after = {p: s for p, s in {**stat_map(table.base_dir), **stat_map(table.delta_dir)}.items()
                 if "day=d02" in p}
    assert hot_after == hot_before  # hot partition files untouched
    # cold partition folded into base; its delta files are no longer read
    assert os.path.isdir(f"{table.base_dir}/day=d01")
    live_deltas = table.files().filter(F.col("section") == "delta").collect()
    assert live_deltas and not any("day=d01" in r.file_path for r in live_deltas)
    after = {r.doc_id: (r.day, json.loads(r.full_doc)["v"])
             for r in table.snapshot().collect()}
    assert after == before  # merged state identical


def test_expired_snapshot_raises(spark, tmp_path):
    """Iceberg parity: VERSION AS OF an expired (compacted-away) commit
    fails loudly instead of silently returning folded data."""
    from mongodb_iceberg_sync_spark.sync.table_store import SnapshotExpiredError

    table = MorTable(spark, str(tmp_path / "texpire"), key="doc_id")
    table.commit_batch(_mk_batch(spark, [("e1", 1, "upsert", 1)]), 0)
    table.commit_batch(_mk_batch(spark, [("e1", 2, "upsert", 2)]), 1)
    table.compact()
    table.commit_batch(_mk_batch(spark, [("e1", 3, "upsert", 3)]), 2)
    # current and post-compaction versions still readable
    assert table.snapshot().count() == 1
    assert table.snapshot(as_of_batch=2).count() == 1
    with pytest.raises(SnapshotExpiredError):
        table.snapshot(as_of_batch=0)
    with pytest.raises(SnapshotExpiredError):
        table.changes(from_batch=0)


def test_should_compact_triggers_on_delta_count(spark, tmp_path):
    from pyspark.sql import functions as F

    from mongodb_iceberg_sync_spark.sync.table_store import (
        OP_SEQ,
        OP_TYPE,
        MorTable,
    )

    table = MorTable(spark, str(tmp_path / "tc"), key="doc_id")
    mk = lambda i: spark.createDataFrame(  # noqa: E731
        [(f"d{i}", i, "upsert")], "doc_id string, x long, op string"
    ).select(
        "doc_id",
        "x",
        F.col("x").alias(OP_SEQ),
        F.col("op").alias(OP_TYPE),
    )
    for i in range(4):
        table.commit_batch(mk(i), i)
    assert table.should_compact(max_delta_batches=8) is False
    assert table.should_compact(max_delta_batches=4) is True
    table.compact()
    # compaction folds deltas: trigger resets
    assert table.should_compact(max_delta_batches=4) is False

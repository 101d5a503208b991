"""Write-audit-publish staged commits + orphan-file cleanup (Iceberg
WAP / remove_orphan_files analogs on MorTable): staged data must be
invisible until published, publish must equal a direct commit, and
orphan cleanup must never touch reachable files."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sync.table_store import MorTable


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        [(d, s, op, json.dumps({"v": v})) for d, s, op, v in rows],
        "doc_id string, _op_seq long, _op string, full_doc string",
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "wap_tbl"), key="doc_id")
    t.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]), 0)
    return t


def _state(t):
    return sorted((r.doc_id, r.full_doc) for r in t.snapshot().collect())


def test_staged_batch_is_invisible(spark, table):
    before = _state(table)
    table.stage_batch(_mk_batch(spark, [("c", 3, "upsert", 3)]), 1)
    assert _state(table) == before  # WAP isolation
    assert table.audit_batch(1) == []


def test_publish_equals_direct_commit(spark, table, tmp_path):
    rows = [("b", 3, "upsert", 20), ("c", 4, "delete", None), ("d", 5, "upsert", 4)]
    table.stage_batch(_mk_batch(spark, rows), 1)
    assert table.audit_batch(1) == []
    table.publish_batch(1)

    direct = MorTable(spark, str(tmp_path / "direct_tbl"), key="doc_id")
    direct.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]), 0)
    direct.commit_batch(_mk_batch(spark, rows), 1)
    assert _state(table) == _state(direct)
    # staging dir is empty after publish
    assert not os.path.isdir(f"{table.staging_dir}/batch=1")


def test_audit_catches_null_keys_and_bad_ops(spark, table):
    bad = spark.createDataFrame(
        [(None, 3, "upsert", "x"), ("e", 4, "replace", "y")],
        "doc_id string, _op_seq long, _op string, full_doc string",
    )
    table.stage_batch(bad, 2)
    problems = table.audit_batch(2)
    assert any("null doc_id" in p for p in problems)
    assert any("invalid _op" in p for p in problems)
    table.abort_batch(2)
    assert table.audit_batch(2) == ["batch 2: nothing staged"]


def test_audit_runs_custom_checks_on_staged_files(spark, table):
    table.stage_batch(_mk_batch(spark, [("z", 9, "upsert", -1)]), 3)

    def no_z_keys(df):
        n = df.filter(F.col("doc_id") == "z").count()
        return f"{n} forbidden z-keys" if n else None

    assert table.audit_batch(3, checks=[no_z_keys]) == ["1 forbidden z-keys"]


def test_abort_leaves_table_unchanged(spark, table):
    before = _state(table)
    table.stage_batch(_mk_batch(spark, [("x", 7, "upsert", 1)]), 4)
    table.abort_batch(4)
    assert _state(table) == before
    with pytest.raises(FileNotFoundError):
        table.publish_batch(4)


def _age(path, seconds=10 * 24 * 3600):
    old = time.time() - seconds
    os.utime(path, (old, old))


def test_orphan_cleanup_removes_leftovers_not_live_data(spark, table):
    # plant: crashed compaction's staged base, _temporary dir, stray file
    # in deltas/, abandoned staging batch — all backdated past the age guard
    tmp = f"{table.staging_dir}/commit-base"
    os.makedirs(tmp)
    _age(tmp)
    temp = f"{table.base_dir}/_temporary"
    os.makedirs(temp)
    _age(temp)
    stray = f"{table.delta_dir}/leftover.parquet"
    open(stray, "w").write("x")
    _age(stray)
    table.stage_batch(_mk_batch(spark, [("q", 8, "upsert", 1)]), 9)
    _age(f"{table.staging_dir}/batch=9")

    before = _state(table)
    removed = set(table.remove_orphan_files())
    assert removed == {
        "staging/commit-base",
        "base/_temporary",
        "deltas/leftover.parquet",
        "staging/batch=9",
    }
    assert _state(table) == before  # live data untouched
    assert not os.path.exists(tmp) and not os.path.exists(stray)


def test_orphan_cleanup_age_guard_spares_fresh_files(spark, table):
    # a fresh staging batch (in-flight WAP) must survive cleanup
    table.stage_batch(_mk_batch(spark, [("r", 9, "upsert", 1)]), 10)
    fresh_tmp = f"{table.staging_dir}/commit-base"
    os.makedirs(fresh_tmp)
    assert table.remove_orphan_files() == []
    assert os.path.isdir(f"{table.staging_dir}/batch=10")
    assert os.path.isdir(fresh_tmp)


def test_rollback_to_batch(spark, table):
    table.commit_batch(_mk_batch(spark, [("c", 3, "upsert", 3)]), 1)
    table.commit_batch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 2)
    table.stage_batch(_mk_batch(spark, [("e", 5, "upsert", 5)]), 3)
    v1 = sorted(r.doc_id for r in table.snapshot(as_of_batch=1).collect())
    assert table.rollback_to_batch(1) == [2]
    assert sorted(r.doc_id for r in table.snapshot().collect()) == v1
    assert not os.path.isdir(f"{table.staging_dir}/batch=3")  # staged dropped


def test_rollback_refuses_expired_versions(spark, table):
    from mongodb_iceberg_sync_spark.sync.table_store import SnapshotExpiredError

    table.commit_batch(_mk_batch(spark, [("c", 3, "upsert", 3)]), 1)
    table.compact()
    table.commit_batch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 2)
    with pytest.raises(SnapshotExpiredError):
        table.rollback_to_batch(0)


def test_apply_batch_wap_publishes_and_refuses_invalidations(spark, table):
    from mongodb_iceberg_sync_spark.sources.cdc_feed import events_df, make_events
    from mongodb_iceberg_sync_spark.sync.apply import apply_batch_wap

    rows = make_events(n_docs=5, n_ops=12, start_seq=10)
    out = apply_batch_wap(table, events_df(spark, rows), 1)
    assert out == {"published": True, "n_events": 12, "max_seq": 21, "problems": []}
    assert table._ids("deltas") == [0, 1]
    empty = events_df(spark, rows).filter(F.lit(False))
    assert apply_batch_wap(table, empty, 2) == {
        "published": True, "n_events": 0, "max_seq": None, "problems": []
    }
    invalid = make_events(n_docs=5, n_ops=12, invalidate_at=6, start_seq=30)
    with pytest.raises(ValueError, match="invalidation"):
        apply_batch_wap(table, events_df(spark, invalid), 3)
    assert table._ids("deltas") == [0, 1]

"""Branch refs on MorTable (Iceberg branching / multi-commit WAP):
branch commits must be invisible to main, the branch view must equal
"main AS OF the fork + branch commits", fast-forward publish must equal
committing the same batches to main directly, and a diverged main must
refuse the fast-forward."""

from __future__ import annotations

import json
import os

import pytest

from mongodb_iceberg_sync_spark.sync.table_store import MorTable


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        [(d, s, op, json.dumps({"v": v})) for d, s, op, v in rows],
        "doc_id string, _op_seq long, _op string, full_doc string",
    )


def _state(t, **kw):
    snap = t.snapshot(**kw)
    return sorted((r.doc_id, r.full_doc) for r in snap.collect()) if snap else []


@pytest.fixture()
def table(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "br_tbl"), key="doc_id")
    t.commit_batch(_mk_batch(spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]), 0)
    t.commit_batch(_mk_batch(spark, [("c", 3, "upsert", 3)]), 1)
    return t


def test_branch_commits_invisible_to_main(spark, table):
    before = _state(table)
    table.create_branch("audit")
    table.commit_to_branch(
        _mk_batch(spark, [("d", 4, "upsert", 4), ("b", 5, "delete", None)]), 2, "audit"
    )
    assert _state(table) == before
    assert _state(table, branch="audit") == sorted(
        [("a", json.dumps({"v": 1})), ("c", json.dumps({"v": 3})),
         ("d", json.dumps({"v": 4}))]
    )


def test_branch_view_pins_fork_point(spark, table):
    table.create_branch("audit")
    table.commit_to_branch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 2, "audit")
    # main advances AFTER the fork: branch view must NOT see batch 3
    table.commit_batch(_mk_batch(spark, [("e", 5, "upsert", 5)]), 3)
    branch_ids = {r[0] for r in _state(table, branch="audit")}
    assert "e" not in branch_ids and "d" in branch_ids


def test_fast_forward_equals_direct_commits(spark, table, tmp_path):
    rows1 = [("b", 4, "upsert", 20), ("d", 5, "upsert", 4)]
    rows2 = [("a", 6, "delete", None)]
    table.create_branch("audit")
    table.commit_to_branch(_mk_batch(spark, rows1), 2, "audit")
    table.commit_to_branch(_mk_batch(spark, rows2), 3, "audit")
    assert table.fast_forward("audit") == [2, 3]

    direct = MorTable(spark, str(tmp_path / "direct_tbl"), key="doc_id")
    direct.commit_batch(
        _mk_batch(spark, [("a", 1, "upsert", 1), ("b", 2, "upsert", 2)]), 0
    )
    direct.commit_batch(_mk_batch(spark, [("c", 3, "upsert", 3)]), 1)
    direct.commit_batch(_mk_batch(spark, rows1), 2)
    direct.commit_batch(_mk_batch(spark, rows2), 3)
    assert _state(table) == _state(direct)
    # ref is gone, commits are on main
    refs = {r.ref for r in table.refs().collect()}
    assert refs == {"main"}


def test_diverged_main_refuses_fast_forward(spark, table):
    table.create_branch("audit")
    table.commit_to_branch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 2, "audit")
    table.commit_batch(_mk_batch(spark, [("e", 5, "upsert", 5)]), 3)
    with pytest.raises(ValueError, match="fast-forward"):
        table.fast_forward("audit")
    # the branch is intact after the refusal
    assert ("d", json.dumps({"v": 4})) in _state(table, branch="audit")


def test_drop_branch_removes_ref_and_dirs(spark, table):
    table.create_branch("audit")
    table.commit_to_branch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 2, "audit")
    table.drop_branch("audit")
    with pytest.raises(ValueError, match="no such branch"):
        table.snapshot(branch="audit")
    assert _state(table) == sorted(
        [("a", json.dumps({"v": 1})), ("b", json.dumps({"v": 2})),
         ("c", json.dumps({"v": 3}))]
    )


def test_refs_metadata_table(spark, table):
    table.create_branch("audit")
    table.commit_to_branch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 2, "audit")
    rows = {r.ref: r for r in table.refs().collect()}
    assert rows["main"].head_batch == 1 and rows["main"].n_commits == 2
    assert rows["audit"].fork_batch == 1
    assert rows["audit"].head_batch == 2 and rows["audit"].n_commits == 1


def test_branch_batch_id_must_advance(spark, table):
    table.create_branch("audit")
    table.commit_to_branch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 2, "audit")
    with pytest.raises(ValueError, match="must advance"):
        table.commit_to_branch(_mk_batch(spark, [("e", 5, "upsert", 5)]), 1, "audit")
    # idempotent replay of the SAME branch batch id is allowed
    table.commit_to_branch(_mk_batch(spark, [("d", 6, "upsert", 40)]), 2, "audit")
    assert ("d", json.dumps({"v": 40})) in _state(table, branch="audit")


def test_duplicate_branch_rejected(table):
    table.create_branch("audit")
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("audit")


# -- streaming onto a branch (multi-commit WAP) -----------------------


def test_streaming_branch_wap(spark, tmp_path):
    """Micro-batches accumulate on a branch (main never sees them),
    then one publish_branch audit + fast-forward lands the whole run —
    and the final state equals the sequential replay of all ops."""
    from mongodb_iceberg_sync_spark.sources.cdc_feed import (
        expected_final_state,
        make_events,
        read_stream,
        write_stream_source,
    )
    from mongodb_iceberg_sync_spark.streaming.sink import foreach_batch_branch

    rows = make_events(n_docs=10, n_ops=60)
    src = write_stream_source(spark, rows, str(tmp_path / "src"))
    table = MorTable(spark, str(tmp_path / "tbl"), key="doc_id")
    table.commit_batch(
        _mk_batch(spark, [("seed", 1, "upsert", 0)]), 0
    )
    before = _state(table)
    table.create_branch("ingest")
    q = foreach_batch_branch(
        read_stream(spark, src), table, str(tmp_path / "ckpt"), "ingest"
    )
    q.awaitTermination()

    # nothing reached main while streaming
    assert _state(table) == before
    # branch sees the full replay
    got = table.publish_branch("ingest")
    assert got["problems"] == [] and len(got["published"]) >= 1
    final = {
        r.doc_id: json.loads(r.full_doc)
        for r in table.snapshot().collect()
        if r.doc_id != "seed"
    }
    assert final == expected_final_state(rows)


def _branch_stream(spark, tmp_path, table, rows):
    """Drain a one-file stream of ``rows`` (a file with no rows is one
    empty micro-batch) onto branch ``ingest`` of ``table``."""
    from mongodb_iceberg_sync_spark.sources.cdc_feed import events_df, read_stream
    from mongodb_iceberg_sync_spark.streaming.sink import foreach_batch_branch

    src = str(tmp_path / "src")
    events_df(spark, rows).coalesce(1).write.parquet(src)
    table.create_branch("ingest")
    q = foreach_batch_branch(
        read_stream(spark, src), table, str(tmp_path / "ckpt"), "ingest"
    )
    return q, table.version


def _no_branch_commit(table):
    d = f"{table.branches_dir}/ingest"
    return table._ids("branches/ingest") == [] and (
        not os.path.exists(d) or os.listdir(d) == []
    )


def test_streaming_branch_rejects_invalidation(spark, table, tmp_path):
    from mongodb_iceberg_sync_spark.sources.cdc_feed import make_events

    rows = make_events(n_docs=5, n_ops=12, invalidate_at=6, start_seq=100)
    q, version = _branch_stream(spark, tmp_path, table, rows)
    with pytest.raises(Exception, match="cannot handle invalidation ops"):
        q.awaitTermination()
    assert table.version == version and _no_branch_commit(table)


def test_streaming_branch_empty_batch_commits_nothing(spark, table, tmp_path):
    q, version = _branch_stream(spark, tmp_path, table, [])
    q.awaitTermination()
    assert [p.batchId for p in q.recentProgress] == [0]  # the batch ran
    assert table.version == version and _no_branch_commit(table)


def test_publish_branch_refuses_dirty_audit(spark, table):
    table.create_branch("audit")
    table.commit_to_branch(
        _mk_batch(spark, [(None, 4, "upsert", 4)]), 2, "audit"
    )
    got = table.publish_branch("audit")
    assert got["published"] == [] and any("null" in p for p in got["problems"])
    # branch intact for inspection, main untouched
    assert "audit" in {r.ref for r in table.refs().collect()}


def test_publish_branch_runs_view_checks(spark, table):
    table.create_branch("audit")
    table.commit_to_branch(_mk_batch(spark, [("d", 4, "upsert", 4)]), 2, "audit")
    got = table.publish_branch(
        "audit",
        checks=[
            lambda view: None
            if view.count() >= 100
            else "view smaller than contract minimum"
        ],
    )
    assert got["published"] == [] and got["problems"] == [
        "view smaller than contract minimum"
    ]


# -- tags + z-ordered compaction --------------------------------------


def test_tag_pins_a_version(spark, table):
    at = table.create_tag("v1")
    assert at == 1
    table.commit_batch(_mk_batch(spark, [("a", 9, "upsert", 99)]), 2)
    tagged = _state(table, as_of_batch=table.resolve_tag("v1"))
    assert ("a", json.dumps({"v": 1})) in tagged  # pre-update value
    now = _state(table)
    assert ("a", json.dumps({"v": 99})) in now


def test_tag_expires_with_compaction(spark, table):
    table.create_tag("v1", at_batch=0)
    table.compact()
    from mongodb_iceberg_sync_spark.sync.table_store import SnapshotExpiredError

    with pytest.raises(SnapshotExpiredError):
        table.resolve_tag("v1")
    table.drop_tag("v1")


def test_tag_and_branch_share_namespace(table):
    table.create_tag("v1")
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("v1")
    rows = {r.ref: r.kind for r in table.refs().collect()}
    assert rows == {"main": "branch", "v1": "tag"}


def test_compact_zorder_clusters_files(spark, tmp_path):
    """Z-ordered compaction: per-file z-code ranges must be disjoint
    (range repartition + within-partition sort), so footer min/max
    stats prune on either dimension."""
    import glob
    import itertools

    from mongodb_iceberg_sync_spark.functions.zorder import morton_code
    from pyspark.sql import functions as F

    t = MorTable(spark, str(tmp_path / "z_tbl"), key="k")
    rows = [(i, i % 251, (i * 7919) % 251) for i in range(4000)]
    df = spark.createDataFrame(rows, "k long, x long, y long").select(
        "k", "x", "y",
        F.lit(1).cast("long").alias("_op_seq"),
        F.lit("upsert").alias("_op"),
    )
    t.commit_batch(df, 0)
    t.compact(zorder_by=("x", "y"), max_records_per_file=500)

    files = glob.glob(f"{t.base_dir}/**/*.parquet", recursive=True)
    assert len(files) >= 4  # the rewrite actually split across files
    bounds = []
    for f in files:
        zdf = spark.read.parquet(f).select(
            F.min(morton_code("x", "y")).alias("lo"),
            F.max(morton_code("x", "y")).alias("hi"),
        ).head()
        bounds.append((zdf.lo, zdf.hi))
    # disjoint up to boundary ties: duplicate z-codes may legitimately
    # straddle a file roll, so ranges may TOUCH at one shared value but
    # never interleave
    for (lo1, hi1), (lo2, hi2) in itertools.combinations(bounds, 2):
        assert hi1 <= lo2 or hi2 <= lo1, "file z-ranges interleave"
    # data survived intact
    assert t.snapshot().count() == 4000


def test_compact_zorder_refuses_partial(spark, tmp_path):
    from pyspark.sql import functions as F

    t = MorTable(spark, str(tmp_path / "zp_tbl"), key="k", partition_col="p")
    df = spark.createDataFrame(
        [(i, i % 3, i, i) for i in range(100)], "k long, p long, x long, y long"
    ).select(
        "k", "p", "x", "y",
        F.lit(1).cast("long").alias("_op_seq"),
        F.lit("upsert").alias("_op"),
    )
    t.commit_batch(df, 0)
    with pytest.raises(ValueError, match="full rewrite"):
        t.compact(where=F.col("p") == 0, zorder_by=("x", "y"))
    # full-table zorder under a partition spec keeps the spec layout
    t.compact(zorder_by=("x", "y"))
    assert t.snapshot().count() == 100

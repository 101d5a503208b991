"""Job budgets stated in docstrings are checked claims: a warm,
unpartitioned ``apply_batch`` without invalidations runs one Spark job,
the commit write, with or without a quarantine dir; so do
``MorTable.commit_batch`` and ``commit_to_branch`` (the same commit onto
a branch) of ``batch_to_ops`` output, which is a projection with no
shuffle. A bulk ``commit_batches`` of those ops runs at most six, and
``apply_batch_wap`` at most three, however many commits the table
holds, ``MorTable.compact`` of a base plus three deltas at most two,
one that has nothing to fold none, and building ``MorTable._raw`` (the
read path under ``snapshot``, ``lookup``, ``changes`` and
``scan_append``) none, however many commits and delete files are live:
every dir the table version lists, the base's too, is read with the
schema its manifest records.
``delete_equality`` runs exactly two, however many equality deletes are
live (its op_seq cut comes from manifests), and ``compact`` over a base,
deltas, positional deletes and three equality deletes at most seven.
Jobs are counted with a job group and ``statusTracker``, the
same attribution the benchmark's traced run uses.

The driver-side cost of building a batch's plan is pinned too, at 88
Py4J round trips: every Column call costs several (PySpark records its
call site), so the per-batch expressions are SQL text and the batch
statistics one ``named_struct`` aggregate. Three test names
keep the looser budget they were written with (eight, four, 300); their
asserts hold the measured one."""

from __future__ import annotations

import py4j.clientserver
from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sources.cdc_feed import events_df, make_events
from mongodb_iceberg_sync_spark.sync.apply import (
    apply_batch,
    apply_batch_wap,
    batch_to_ops,
)
from mongodb_iceberg_sync_spark.sync.table_store import MorTable


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _batch(spark, b):
    return events_df(
        spark, make_events(n_docs=40, n_ops=120, start_seq=1 + 1000 * b)
    )


def _base(spark):
    """A backfill of 40 distinct keys, one event each."""
    events = events_df(spark, make_events(n_docs=40, n_ops=40))
    return batch_to_ops(events).drop("_op_seq", "_op")


def test_apply_batch_runs_one_job(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "apply"), key="doc_id")
    for b in range(2):  # warm: first batches pay one-off planning jobs
        apply_batch(t, _batch(spark, b), b)
    stats, n = _jobs(spark, "budget-apply", lambda: apply_batch(t, _batch(spark, 2), 2))
    # every one of the 120 events is a normal op, and each commits
    assert stats["n_ops"] == 120 and stats["n_invalidations"] == 0
    assert n <= 1, f"apply_batch ran {n} Spark jobs"


def test_quarantine_clean_batch_runs_one_job(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "apply"), key="doc_id")
    qdir = str(tmp_path / "dlq")
    for b in range(2):
        apply_batch(t, _batch(spark, b), b, quarantine_dir=qdir)
    stats, n = _jobs(
        spark,
        "budget-quarantine",
        lambda: apply_batch(t, _batch(spark, 2), 2, quarantine_dir=qdir),
    )
    assert stats["n_ops"] == 120 and stats["n_quarantined"] == 0
    assert n <= 1, f"apply_batch with a quarantine dir ran {n} Spark jobs"


def test_commit_batch_runs_one_job(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "commit"), key="doc_id")
    for b in range(2):
        t.commit_batch(batch_to_ops(_batch(spark, b)), b)
    # the ops apply_batch hands over, one per event: the write alone
    ops = batch_to_ops(_batch(spark, 2))
    n_rows, n = _jobs(spark, "budget-commit", lambda: t.commit_batch(ops, 2))
    assert n_rows == 120
    assert n <= 1, f"commit_batch ran {n} Spark jobs"


def test_commit_to_branch_runs_one_job(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "branch"), key="doc_id")
    t.create_branch("audit")
    for b in range(2):
        t.commit_to_branch(batch_to_ops(_batch(spark, b)), b, "audit")
    ops = batch_to_ops(_batch(spark, 2))
    _, n = _jobs(spark, "budget-branch", lambda: t.commit_to_branch(ops, 2, "audit"))
    assert t._ids("branches/audit") == [0, 1, 2]
    assert n <= 1, f"commit_to_branch ran {n} Spark jobs"


def test_bulk_commit_batches_runs_at_most_eight_jobs(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "bulk"), key="doc_id")
    events = events_df(spark, make_events(n_docs=40, n_ops=240, start_seq=1))
    ops = batch_to_ops(events).selectExpr("*", "_op_seq % 4 AS b")
    t.commit_batches(ops, "b")  # warm
    # the write: the batch-key shuffle and the write; the manifests: two
    # grouped aggregations of two
    ids, n = _jobs(spark, "budget-bulk", lambda: t.commit_batches(ops, "b"))
    assert ids == [0, 1, 2, 3]
    assert n <= 6, f"commit_batches ran {n} Spark jobs"


def test_apply_batch_wap_runs_at_most_four_jobs(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "wap"), key="doc_id")
    for b in range(2):
        apply_batch_wap(t, _batch(spark, b), b)
    # this is the third batch: the staging write, and the audit's
    # aggregate (a map stage and its result); the op_seq conflict check
    # reads manifests and the publish moves no data
    stats, n = _jobs(
        spark, "budget-wap", lambda: apply_batch_wap(t, _batch(spark, 2), 2)
    )
    assert stats["published"] and stats["n_events"] == 120
    assert n <= 3, f"apply_batch_wap ran {n} Spark jobs"


def test_apply_batch_wap_jobs_do_not_grow_with_commits(spark, tmp_path):
    # publish_batch's op_seq conflict check reads every commit's op_seq
    # bound from its manifest: no job per commit
    t = MorTable(spark, str(tmp_path / "wap"), key="doc_id")
    apply_batch_wap(t, _batch(spark, 0), 0)
    counts = [
        _jobs(spark, f"budget-wap-{b}", lambda: apply_batch_wap(t, _batch(spark, b), b))[1]
        for b in range(1, 5)
    ]
    assert len(set(counts)) == 1, f"apply_batch_wap jobs per batch: {counts}"


def test_raw_runs_no_job_however_many_commits(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "raw"), key="doc_id")
    t.append_base(_base(spark))
    counts = []
    for b in range(1, 7):
        t.commit_batch(batch_to_ops(_batch(spark, b)), b)
        counts.append(_jobs(spark, f"budget-raw-{b}", t._raw)[1])
    assert counts == [0] * 6, f"_raw() jobs over a base plus 1..6 commits: {counts}"


def test_compact_runs_at_most_two_jobs(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "compact"), key="doc_id")
    t.append_base(_base(spark))
    for b in range(1, 4):
        t.commit_batch(batch_to_ops(_batch(spark, b)), b)
    n_rows = t.snapshot().count()
    # the merged view's shuffle stage and the write: every dir, the
    # base's too, is read with its manifest's schema
    _, n = _jobs(spark, "budget-compact", t.compact)
    assert t._ids("deltas") == [] and t.snapshot().count() == n_rows
    assert n <= 2, f"compact ran {n} Spark jobs"
    # nothing left to fold: the retry writes no version and runs no job
    v, history = t.version, t.history().collect()
    _, n = _jobs(spark, "budget-compact-again", t.compact)
    assert (t.version, t.history().collect()) == (v, history)
    assert n == 0, f"compact with nothing to fold ran {n} Spark jobs"


def test_apply_batch_makes_at_most_300_py4j_calls(spark, tmp_path, monkeypatch):
    t = MorTable(spark, str(tmp_path / "apply"), key="doc_id")
    for b in range(2):
        apply_batch(t, _batch(spark, b), b)
    events = _batch(spark, 2)
    calls = []
    send = py4j.clientserver.ClientServerConnection.send_command

    def counted(self, command):
        # proxy releases ("m" commands) free objects of earlier batches
        # whenever Python drops them; they are not this batch's plan
        if not command.startswith("m\n"):
            calls.append(command)
        return send(self, command)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counted
    )
    stats = apply_batch(t, events, 2)
    monkeypatch.undo()
    assert stats["n_ops"] == 120
    assert 0 < len(calls) <= 88, f"apply_batch made {len(calls)} Py4J round trips"


def _stream_jobs(spark, query):
    """Spark jobs of a drained streaming query: its micro-batches run
    under its run id as their job group."""
    query.awaitTermination()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))


def test_branch_sink_runs_no_more_jobs_than_merge_sink(spark, tmp_path):
    # the invalidation guard and the empty-batch check read the batch
    # statistics observed on the branch commit: no action precedes it
    from mongodb_iceberg_sync_spark.sources.cdc_feed import (
        read_stream,
        write_stream_source,
    )
    from mongodb_iceberg_sync_spark.streaming.sink import (
        foreach_batch_branch,
        foreach_batch_merge,
    )

    rows = make_events(n_docs=40, n_ops=120)
    src = write_stream_source(spark, rows, str(tmp_path / "src"), files=3)
    merge_t = MorTable(spark, str(tmp_path / "merge"), key="doc_id")
    branch_t = MorTable(spark, str(tmp_path / "branch"), key="doc_id")
    branch_t.create_branch("ingest")
    merge = _stream_jobs(
        spark,
        foreach_batch_merge(read_stream(spark, src), merge_t, str(tmp_path / "ck-m")),
    )
    branch = _stream_jobs(
        spark,
        foreach_batch_branch(
            read_stream(spark, src), branch_t, str(tmp_path / "ck-b"), "ingest"
        ),
    )
    assert merge_t._ids("deltas") == branch_t._ids("branches/ingest") == [0, 1, 2]
    assert 0 < branch <= merge, f"branch sink {branch} jobs, merge sink {merge}"


def _with_pos_deletes(spark, tmp_path, name):
    """A base plus one delta and three live positional deletes."""
    t = MorTable(spark, str(tmp_path / name), key="doc_id")
    t.append_base(_base(spark))
    t.commit_batch(batch_to_ops(_batch(spark, 1)), 1)
    for i in range(3):
        t.delete_where(F.col("doc_id") == f"doc{i}", 2 + i)
    return t


def _delete_equality(spark, t, i):
    """The i-th equality delete, commit id 5 + i."""
    vals = spark.createDataFrame([(f"doc{10 + i}",)], "doc_id string")
    return t.delete_equality(vals, 5 + i)


def test_raw_runs_no_job_however_many_delete_files(spark, tmp_path):
    # every delete file is read with the schema its manifest records
    t = _with_pos_deletes(spark, tmp_path, "raw-deletes")
    counts = []
    for i in range(3):
        _delete_equality(spark, t, i)
        counts.append(_jobs(spark, f"budget-raw-deletes-{i}", t._raw)[1])
    assert counts == [0] * 3, f"_raw() jobs with 1..3 equality deletes: {counts}"


def test_delete_equality_jobs_do_not_grow_with_deletes(spark, tmp_path):
    # the distinct write (a map stage and a result); the columns and the
    # op_seq cut come from manifests
    t = _with_pos_deletes(spark, tmp_path, "eq-deletes")
    counts = [
        _jobs(spark, f"budget-eq-{i}", lambda: _delete_equality(spark, t, i))[1]
        for i in range(4)
    ]
    assert counts == [2] * 4, f"delete_equality jobs with 0..3 live: {counts}"


def test_compact_with_delete_files_runs_at_most_seven_jobs(spark, tmp_path):
    t = _with_pos_deletes(spark, tmp_path, "compact-deletes")
    for b in (8, 9):
        t.commit_batch(batch_to_ops(_batch(spark, b)), b)
    for i in range(3):
        _delete_equality(spark, t, i)
    n_rows = t.snapshot().count()
    # compact()'s three jobs plus one broadcast per delete file read:
    # three equality deletes and the positional deletes' union
    _, n = _jobs(spark, "budget-compact-deletes", t.compact)
    assert t._ids("eq_deletes") == [] and t.snapshot().count() == n_rows
    assert n <= 7, f"compact with live delete files ran {n} Spark jobs"

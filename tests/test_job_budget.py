"""Job budgets stated in docstrings are checked claims: a warm,
unpartitioned ``apply_batch`` without invalidations runs at most four
Spark jobs and ``MorTable.commit_batch`` at most two. Jobs are counted
with a job group and ``statusTracker``, the same attribution the
benchmark's traced run uses."""

from __future__ import annotations

from mongodb_iceberg_sync_spark.sources.cdc_feed import events_df, make_events
from mongodb_iceberg_sync_spark.sync.apply import apply_batch, batch_to_ops
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


def test_apply_batch_runs_at_most_four_jobs(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "apply"), key="doc_id")
    for b in range(2):  # warm: first batches pay one-off planning jobs
        apply_batch(t, _batch(spark, b), b)
    stats, n = _jobs(spark, "budget-apply", lambda: apply_batch(t, _batch(spark, 2), 2))
    assert stats["n_ops"] == 40 and stats["n_invalidations"] == 0
    assert n <= 4, f"apply_batch ran {n} Spark jobs"


def test_commit_batch_runs_at_most_two_jobs(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "commit"), key="doc_id")
    for b in range(2):
        t.commit_batch(batch_to_ops(_batch(spark, b)), b)
    # the LWW-folded ops apply_batch hands over: one shuffle, one write
    ops = batch_to_ops(_batch(spark, 2))
    n_rows, n = _jobs(spark, "budget-commit", lambda: t.commit_batch(ops, 2))
    assert n_rows == 40
    assert n <= 2, f"commit_batch ran {n} Spark jobs"

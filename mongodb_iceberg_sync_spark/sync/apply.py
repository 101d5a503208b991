"""CDC event-batch apply (reference A3/A12-A14/A21).

Takes a micro-batch of change events (FIXTURES.md §3 shape: op_seq,
op_type, doc_id, ts, full_doc) and applies it to a MorTable:

  1. dispatch by op_type (reference A3, docs/design.md:115-118):
     insert/update/replace → upsert; delete → tombstone;
     drop/rename/invalidate → surfaced to the engine (re-initial-sync)
  2. within-batch last-writer-wins on op_seq (reference A14 — change
     streams are ordered, DataFrames are not, so the explicit op_seq
     carries the order; SURVEY.md §7 risk register)
  3. idempotent commit keyed on batch_id (reference A21)

The same function body runs in batch tests and inside
streaming.sink.foreach_batch_merge — that equivalence is what makes
the streaming path oracle-testable (SURVEY.md §2 design rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .table_store import OP_SEQ, OP_TYPE, MorTable

UPSERT_OPS = ("insert", "update", "replace")
DELETE_OPS = ("delete",)
INVALIDATE_OPS = ("drop", "rename", "invalidate")


def split_invalidations(events: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(normal_ops, invalidation_ops) — invalidations trigger
    re-initial-sync in the engine (reference A23)."""
    normal = events.filter(~F.col("op_type").isin(*INVALIDATE_OPS))
    invalid = events.filter(F.col("op_type").isin(*INVALIDATE_OPS))
    return normal, invalid


def batch_to_ops(events: DataFrame, key: str = "doc_id") -> DataFrame:
    """Normalize a raw event batch into MorTable rows:
    [key, payload(full_doc JSON), _op_seq, _op] with within-batch LWW
    already applied (one op per key — the max op_seq wins)."""
    ops = events.select(
        F.col(key),
        F.col("full_doc"),
        F.col("ts"),
        F.col("op_seq").cast("long").alias(OP_SEQ),
        F.when(F.col("op_type").isin(*DELETE_OPS), F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias(OP_TYPE),
    )
    # within-batch LWW: hash agg on key, max_by op_seq (no sort/window)
    row = F.struct("full_doc", "ts", OP_SEQ, OP_TYPE)
    return (
        ops.groupBy(key)
        .agg(F.max_by(row, F.col(OP_SEQ)).alias("_r"))
        .select(
            key,
            F.col("_r.full_doc").alias("full_doc"),
            F.col("_r.ts").alias("ts"),
            F.col(f"_r.{OP_SEQ}").alias(OP_SEQ),
            F.col(f"_r.{OP_TYPE}").alias(OP_TYPE),
        )
    )


def apply_batch(
    table: MorTable,
    events: DataFrame,
    batch_id: int,
    key: str = "doc_id",
    quarantine_dir: str | None = None,
) -> dict:
    """Apply one micro-batch; returns stats for checkpointing
    (max op_seq = resume position, counts = metrics A34).

    With ``quarantine_dir`` set, malformed events (null key / missing
    or unparseable document) are routed to a dead-letter parquet table
    (sync/quarantine.py) instead of committing as null rows; the
    resume position still advances past them — quarantined events are
    consumed, not retried. This adds one write job per batch ONLY when
    bad rows exist in it.

    Four Spark jobs per warm batch without invalidations (pinned by
    tests/test_job_budget.py). Two run the single-pass aggregation over
    the raw events (invalidation count, normal count, max seq): its map
    stage and its scalar result each run as a job under adaptive
    execution. Two run the commit: the LWW groupBy's map stage, then
    the write, which observes the post-LWW op count and every manifest
    statistic as it runs (MorTable._write_commit), so neither costs a
    job of its own. At a 60s trigger interval job-count-per-batch is
    the fixed overhead that bounds how many tables one driver can sync
    (reference A32's pool sizing concern, docs/design.md:480-499).
    """
    from .quarantine import split_malformed, write_quarantine

    is_invalid = F.col("op_type").isin(*INVALIDATE_OPS)
    seq = F.col("op_seq").cast("long")
    q_max_seq = None
    if quarantine_dir is not None:
        events, bad = split_malformed(events, key=key)
        qstat = bad.agg(
            F.count("*").alias("n"), F.max(seq).alias("mx")
        ).head()
        n_quarantined = qstat.n
        q_max_seq = qstat.mx
        if n_quarantined:
            write_quarantine(bad, quarantine_dir, batch_id)
    else:
        n_quarantined = 0
    pre = events.agg(
        F.count(F.when(is_invalid, 1)).alias("n_invalid"),
        F.min(F.when(is_invalid, seq)).alias("first_invalid_seq"),
        F.count(F.when(~is_invalid, 1)).alias("n_normal"),
        F.max(F.when(~is_invalid, seq)).alias("max_seq"),
        F.max(seq).alias("max_seen_seq"),
    ).head()
    n_ops = 0
    if pre.n_normal:
        normal, _ = split_invalidations(events)
        if pre.first_invalid_seq is not None:
            # An invalidation mid-batch clears the table: only ops
            # ordered BEFORE it may commit; the engine re-initial-syncs
            # and then replays the trailing ops (op_seq > invalidate) as
            # their own batch — matching the sequential-replay oracle.
            normal = normal.filter(seq < F.lit(pre.first_invalid_seq))
        n_ops = table.commit_batch(batch_to_ops(normal, key=key), batch_id)
    max_seen = pre.max_seen_seq
    if q_max_seq is not None and (max_seen is None or q_max_seq > max_seen):
        # quarantined events are consumed: resume must advance past them
        max_seen = q_max_seq
    return {
        "batch_id": batch_id,
        "n_ops": n_ops,
        "n_quarantined": n_quarantined,
        "max_op_seq": pre.max_seq,
        "max_seen_seq": max_seen,
        "n_invalidations": pre.n_invalid,
        "first_invalid_seq": pre.first_invalid_seq,
    }


def apply_batch_wap(
    table: MorTable,
    events: DataFrame,
    batch_id: int,
    key: str = "doc_id",
    checks=None,
    quarantine_dir: str | None = None,
) -> dict:
    """Write-audit-publish variant of apply_batch: the batch's ops are
    STAGED (invisible), audited against the staged files (built-in
    null-key/op-validity expectations + optional ``checks`` callables),
    and only a clean batch is atomically published; a failing batch is
    aborted wholesale and, with ``quarantine_dir``, dead-lettered with
    the audit findings — the stream then continues past it (consumed,
    not retried), exactly the quarantine contract of apply_batch but
    at batch granularity instead of row granularity. Use when a
    single bad row should block the whole commit (e.g. a producer bug
    flooding nulls) rather than be skipped row-by-row.

    Invalidation ops are NOT handled here (they clear the table, which
    is an engine-level decision) — route streams that can carry them
    through apply_batch/SyncEngine instead; this guard raises so the
    mistake is loud.
    """
    stats = events.agg(
        F.count(F.when(F.col("op_type").isin(*INVALIDATE_OPS), 1)).alias("n_invalid"),
        F.count("*").alias("n"),
        F.max(F.col("op_seq").cast("long")).alias("mx"),
    ).head()
    if stats.n_invalid:
        raise ValueError(
            "apply_batch_wap cannot handle invalidation ops "
            "(drop/rename/invalidate) — use apply_batch/SyncEngine"
        )
    if not stats.n:
        return {"published": True, "n_events": 0, "max_seq": None, "problems": []}
    ops = batch_to_ops(events, key=key)
    table.stage_batch(ops, batch_id)
    problems = table.audit_batch(batch_id, checks=checks, expect_min_rows=1)
    if problems:
        table.abort_batch(batch_id)
        if quarantine_dir is not None:
            from .quarantine import write_quarantine

            bad = events.withColumn(
                "reason", F.lit("audit_failed: " + "; ".join(problems))
            )
            write_quarantine(bad, quarantine_dir, batch_id)
        return {
            "published": False,
            "n_events": stats.n,
            "max_seq": stats.mx,
            "problems": problems,
        }
    table.publish_batch(batch_id)
    return {
        "published": True,
        "n_events": stats.n,
        "max_seq": stats.mx,
        "problems": [],
    }

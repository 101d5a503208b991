"""Streaming merge sink: foreachBatch → idempotent MoR commit
(reference A12/A15/A21; q_stream_foreachbatch_merge's engine).

This is the steady-state write path of the sync engine: each
micro-batch of CDC events is LWW-deduped within the batch and committed
keyed by batch_id: written with its manifest to a fresh dir, then
published by one table-version write that lists it. Spark may replay a
batch after failure, and the replay replaces that batch's commit,
converging to the same state (the Spark-native equivalent of the reference's
commit-ordering protocol, docs/design.md:339-348).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sync.apply import apply_batch, apply_batch_wap
from ..sync.batching import trigger_kwargs
from ..sync.config import BatchConfig
from ..sync.table_store import MorTable


def foreach_batch_merge(
    cdc_stream: DataFrame,
    table: MorTable,
    checkpoint_dir: str,
    key: str = "doc_id",
    batch_config: BatchConfig | None = None,
    available_now: bool = True,
    quarantine_dir: str | None = None,
    audit_checks=None,
) -> StreamingQuery:
    """Start the merge stream.

    Trigger policy (reference A16, BatchConfig.java:8-30): with
    available_now the stream drains and stops (tests, backfill
    catch-up); otherwise the trigger interval IS the reference's
    flushIntervalSeconds (sync.batching.trigger_kwargs), and the source
    should be rate-limited to ~maxRecords per micro-batch
    (sync.batching.source_rate_options on the reader side).

    ``audit_checks`` switches the sink to write-audit-publish commits
    (sync.apply.apply_batch_wap): each micro-batch is staged, audited
    (pass ``[]`` for just the built-in expectations), and atomically
    published only if clean — a failing batch aborts wholesale into
    the quarantine and the stream continues. Without it, commits are
    direct and malformed rows are quarantined row-by-row."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if audit_checks is not None:
            apply_batch_wap(
                table,
                batch_df,
                batch_id,
                key=key,
                checks=audit_checks,
                quarantine_dir=quarantine_dir,
            )
        else:
            apply_batch(
                table, batch_df, batch_id, key=key, quarantine_dir=quarantine_dir
            )

    return (
        cdc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger_kwargs(batch_config, available_now))
        .start()
    )


def foreach_batch_branch(
    cdc_stream: DataFrame,
    table: MorTable,
    checkpoint_dir: str,
    branch: str,
    key: str = "doc_id",
    batch_config: BatchConfig | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream micro-batches onto a BRANCH (multi-commit WAP, Iceberg's
    WAP-on-a-branch): every micro-batch becomes a branch commit —
    invisible to main readers for the whole run — and the caller
    publishes with ``table.publish_branch(branch, checks=...)`` after
    the stream drains: one audit over the full accumulated state, one
    fast-forward (a single table version). Compare foreach_batch_merge(audit_checks=
    ...), which audits and publishes per micro-batch: per-batch WAP
    bounds blast radius at one batch; branch WAP validates cross-batch
    invariants (referential counts, aggregate drift) that no single
    micro-batch can see, at the cost of publishing later.

    The branch must exist; micro-batch N lands as branch commit
    fork+1+N so replayed micro-batches replace their own commit dir
    (same idempotence contract as commit_batch). Invalidation ops are
    rejected per-batch (engine-level decision, same guard as
    apply_batch_wap)."""
    from ..sync.apply import INVALIDATE_OPS, batch_to_ops

    refs = table.refs().filter(F.col("ref") == branch).collect()
    if not refs:
        raise ValueError(f"no such branch {branch!r}")
    base = refs[0].fork_batch if refs[0].fork_batch is not None else -1

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.filter(F.col("op_type").isin(*INVALIDATE_OPS)).head(1):
            raise ValueError(
                "foreach_batch_branch cannot handle invalidation ops — "
                "route through apply_batch/SyncEngine"
            )
        if not batch_df.head(1):
            return
        ops = batch_to_ops(batch_df, key=key)
        table.commit_to_branch(ops, base + 1 + batch_id, branch)

    return (
        cdc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger_kwargs(batch_config, available_now))
        .start()
    )

"""Dead-letter quarantine for malformed CDC events.

The reference's pipeline assumes every change-stream document is
well-formed (docs/design.md:115-126 dispatches on op type only); in
production feeds carry nulls, truncated JSON, and keyless documents,
and a sync daemon must neither crash on them nor silently write null
rows. The lakehouse answer is a dead-letter queue: malformed events
are routed — with a machine-readable reason — to a quarantine table
that is itself queryable, while the well-formed remainder commits
normally and the resume position still advances past the bad events
(they are consumed, not retried forever).

All checks are JVM-side column predicates (from_json returns NULL on
corrupt input in PERMISSIVE mode — no UDF, no exception control
flow), so the split is a map-only pass that fuses into the batch's
existing scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .apply import DELETE_OPS, IS_INVALID, op_in
from .table_store import sql_ident

REASON_COL = "_dlq_reason"


def _reason(key: str, doc_col: str) -> str:
    """SQL: NULL for well-formed rows, else the first matching reason.

    Invalidations carry no key or document and always pass: the engine
    must see them to truncate. Deletes legitimately carry no document
    (the tombstone is the key), so doc checks apply only to upsert-shaped
    ops.
    """
    not_delete, doc = f"NOT ({op_in(DELETE_OPS)})", sql_ident(doc_col)
    return (
        f"CASE WHEN {IS_INVALID} THEN NULL "
        f"WHEN {sql_ident(key)} IS NULL THEN 'missing_key' "
        f"WHEN {not_delete} AND {doc} IS NULL THEN 'missing_document' "
        f"WHEN {not_delete} AND from_json({doc}, 'map<string,string>') IS NULL "
        "THEN 'malformed_json' END"
    )


def tag_malformed(
    events: DataFrame, key: str = "doc_id", doc_col: str = "full_doc"
) -> DataFrame:
    """``events`` plus REASON_COL: NULL for well-formed rows."""
    return events.withColumn(REASON_COL, F.expr(_reason(key, doc_col)))


def split_malformed(
    events: DataFrame, key: str = "doc_id", doc_col: str = "full_doc"
) -> tuple[DataFrame, DataFrame]:
    """(well_formed, quarantined) — quarantined rows carry REASON_COL."""
    tagged = tag_malformed(events, key, doc_col)
    good = tagged.filter(f"{REASON_COL} IS NULL").drop(REASON_COL)
    bad = tagged.filter(f"{REASON_COL} IS NOT NULL")
    return good, bad


def write_quarantine(bad: DataFrame, quarantine_dir: str, batch_id: int) -> None:
    """Append quarantined events under batch=N (idempotent: a replayed
    batch overwrites its own partition, mirroring MorTable's
    commit-ordering protocol)."""
    bad.withColumn("_batch_id", F.lit(batch_id).cast("long")).write.mode(
        "overwrite"
    ).parquet(f"{quarantine_dir}/batch={batch_id}")

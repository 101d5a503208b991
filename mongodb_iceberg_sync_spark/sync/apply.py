"""CDC event-batch apply (reference A3/A12-A14/A21).

Takes a micro-batch of change events (FIXTURES.md §3 shape: op_seq,
op_type, doc_id, ts, full_doc) and applies it to a MorTable:

  1. dispatch by op_type (reference A3, docs/design.md:115-118):
     insert/update/replace → upsert; delete → tombstone;
     drop/rename/invalidate → surfaced to the engine (re-initial-sync)
  2. one MorTable row per event, carrying its op_seq (reference A14 —
     change streams are ordered, DataFrames are not); last-writer-wins
     per key is the table's merge-on-read fold (docs/design.md:348)
  3. idempotent commit keyed on batch_id (reference A21)

The same function body runs in batch tests and inside
streaming.sink.foreach_batch_merge — that equivalence is what makes
the streaming path oracle-testable (SURVEY.md §2 design rule).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .table_store import OP_SEQ, OP_TYPE, MorTable, sql_ident

UPSERT_OPS = ("insert", "update", "replace")
DELETE_OPS = ("delete",)
INVALIDATE_OPS = ("drop", "rename", "invalidate")
NORMAL_OPS = UPSERT_OPS + DELETE_OPS

# Per-batch expressions are SQL text: one string is one Py4J call however
# large it is, where a node-by-node Column tree costs several round trips
# per node (PySpark wraps each Column call to record its call site).
SEQ = "CAST(op_seq AS BIGINT)"


def op_in(ops: tuple[str, ...]) -> str:
    """SQL predicate: op_type is one of ``ops`` (NULL for a NULL op_type,
    like ``Column.isin``)."""
    return "op_type IN (" + ", ".join(f"'{o}'" for o in ops) + ")"


IS_INVALID = op_in(INVALIDATE_OPS)
IS_NORMAL = f"NOT ({IS_INVALID})"


def batch_to_ops(events: DataFrame, key: str = "doc_id") -> DataFrame:
    """Project raw events onto MorTable rows [key, full_doc, ts, _op_seq,
    _op], one per event: a key changed k times lands k rows, which the
    merge-on-read fold resolves (max op_seq), so no shuffle runs here."""
    return events.selectExpr(
        sql_ident(key),
        "full_doc",
        "ts",
        f"{SEQ} AS {OP_SEQ}",
        f"CASE WHEN {op_in(DELETE_OPS)} THEN 'delete' ELSE 'upsert' END AS {OP_TYPE}",
    )


def observe_batch(events: DataFrame, commit: str = IS_NORMAL, dead: str = "FALSE"):
    """(``events`` observed, a function returning the batch statistics
    once an action on it has run): ``n_events``; ``n_invalid`` and
    ``first_invalid_seq``; ``ops_by_type``, the rows the SQL predicate
    ``commit`` selects counted by op_type (``other`` outside NORMAL_OPS),
    and their ``max_seq``; ``n_quarantined``, the rows ``dead`` selects;
    ``max_seen_seq``. One ``named_struct`` aggregate, so a few Py4J round
    trips however many statistics it holds."""
    by_type = {op: f"op_type = '{op}'" for op in NORMAL_OPS}
    by_type["other"] = f"NOT ({op_in(NORMAL_OPS)})"
    fields = {
        "n_events": "count(1)",
        "n_invalid": f"count(CASE WHEN {IS_INVALID} THEN 1 END)",
        "first_invalid_seq": f"min(CASE WHEN {IS_INVALID} THEN {SEQ} END)",
        "ops_by_type": _struct(
            {op: f"count(CASE WHEN ({commit}) AND {p} THEN 1 END)" for op, p in by_type.items()}
        ),
        "max_seq": f"max(CASE WHEN {commit} THEN {SEQ} END)",
        "max_seen_seq": f"max({SEQ})",
        "n_quarantined": f"count(CASE WHEN {dead} THEN 1 END)",
    }
    obs = Observation()
    observed = events.observe(obs, F.expr(f"{_struct(fields)} AS batch"))
    return observed, functools.cache(lambda: obs.get["batch"].asDict(recursive=True))


def _struct(fields: dict[str, str]) -> str:
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"


def apply_batch(
    table: MorTable,
    events: DataFrame,
    batch_id: int,
    key: str = "doc_id",
    quarantine_dir: str | None = None,
) -> dict:
    """Apply one micro-batch; returns what it committed, for the
    checkpoint and SyncMetrics (reference A34):

    - ``n_ops``: the normal ops committed, one row per event;
      ``ops_by_type``: the same ops counted by op_type, so
      ``sum(ops_by_type.values()) == n_ops``;
    - ``n_quarantined``: the events dead-lettered;
    - ``max_op_seq``: the max op_seq of the well-formed normal ops;
      ``max_seen_seq``: of every event (the resume position);
    - ``n_invalidations``, ``first_invalid_seq``: the invalidations.

    With ``quarantine_dir`` set, malformed events (null key / missing
    or unparseable document) are routed to a dead-letter parquet table
    (sync/quarantine.py) instead of committing as null rows; the
    resume position still advances past them — quarantined events are
    consumed, not retried. This adds one write job per batch ONLY when
    bad rows exist in it; the dead letters are written after the
    commit, and both land before the engine writes its checkpoint.

    One Spark job per warm batch, with or without ``quarantine_dir``
    (pinned by tests/test_job_budget.py): the commit write. It carries
    both Observations: the batch statistics (observe_batch), on the raw
    events upstream of the normal-op filter, and every manifest
    statistic (MorTable._write_commit). At a 60s trigger interval
    job-count-per-batch is the fixed overhead that bounds how many
    tables one driver can sync (reference A32's pool sizing concern,
    docs/design.md:480-499).

    commit_batch asks those statistics, before publishing, whether the
    write is the batch's commit. It is not, and its dir is discarded,
    in two rare cases:

    - no normal op (empty, or invalidations only): nothing is published;
    - an invalidation: ``batch=N`` is committed from only the ops
      ordered before the first invalidation (2 jobs in all), replacing
      any ``batch=N`` an earlier attempt published, as a replay does.
      The engine re-reads the trailing events (op_seq above the first
      invalidation) as a batch of their own, so only the malformed
      events it will not re-read are dead-lettered here. The returned
      counts are observed on this cut commit.
    """
    dead = "FALSE"
    if quarantine_dir is not None:
        from .quarantine import REASON_COL, tag_malformed, write_quarantine

        # tag once; only well-formed rows commit
        events = tag_malformed(events, key=key)
        dead = f"{REASON_COL} IS NOT NULL"
    normal = f"NOT ({dead}) AND {IS_NORMAL}"
    observed, stats = observe_batch(events, commit=normal, dead=dead)

    def whole_batch() -> bool:  # asked after the write, before its version
        return stats()["first_invalid_seq"] is None and any(stats()["ops_by_type"].values())

    n_ops = table.commit_batch(
        batch_to_ops(observed.filter(normal), key=key), batch_id, publish_if=whole_batch
    )
    s = stats()
    first, has_ops = s["first_invalid_seq"], any(s["ops_by_type"].values())
    if first is not None and (has_ops or s["n_quarantined"]):
        # An invalidation mid-batch clears the table: only ops ordered
        # BEFORE it may commit; the engine re-initial-syncs and then
        # replays the trailing ops (op_seq > invalidate) as their own
        # batch — matching the sequential-replay oracle. The cut's
        # statistics differ only in what ``commit`` and ``dead`` select.
        cut = f"{normal} AND {SEQ} < {first}"
        dead = f"{dead} AND ({SEQ} > {first}) IS NOT TRUE"
        observed, stats = observe_batch(events, commit=cut, dead=dead)
        n_ops = table.commit_batch(
            batch_to_ops(observed.filter(cut), key=key), batch_id, publish_if=lambda: has_ops
        )
        s = {**stats(), "max_seq": s["max_seq"]}
    if s["n_quarantined"]:
        write_quarantine(events.filter(dead), quarantine_dir, batch_id)
    return {
        "batch_id": batch_id,
        "n_ops": n_ops,
        "ops_by_type": s["ops_by_type"],
        "n_quarantined": s["n_quarantined"],
        "max_op_seq": s["max_seq"],
        "max_seen_seq": s["max_seen_seq"],
        "n_invalidations": s["n_invalid"],
        "first_invalid_seq": first,
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

    The invalidation guard and the event count are observe_batch's
    statistics on the staging write, so no pass over the events precedes
    it; a batch that fails the guard, or is empty, is staged and then
    aborted. Staging is invisible to readers, so none can tell.
    """
    observed, batch_stats = observe_batch(events)
    table.stage_batch(batch_to_ops(observed, key=key), batch_id)
    stats = batch_stats()
    if stats["n_invalid"]:
        table.abort_batch(batch_id)
        raise ValueError(
            "apply_batch_wap cannot handle invalidation ops "
            "(drop/rename/invalidate) — use apply_batch/SyncEngine"
        )
    if not stats["n_events"]:
        table.abort_batch(batch_id)
        return {"published": True, "n_events": 0, "max_seq": None, "problems": []}
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
            "n_events": stats["n_events"],
            "max_seq": stats["max_seen_seq"],
            "problems": problems,
        }
    table.publish_batch(batch_id)
    return {
        "published": True,
        "n_events": stats["n_events"],
        "max_seq": stats["max_seen_seq"],
        "problems": [],
    }

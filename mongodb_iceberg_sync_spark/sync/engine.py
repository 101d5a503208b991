"""Per-collection sync state machine + orchestration (reference
A20/A23/A30-A32).

States and transitions mirror reference docs/design.md:70-75 and
docs/mongot-research.md:233-269:

    INITIALIZING → INITIAL_SYNC ⇄ BACKOFF
                 → STEADY_STATE ⇄ BACKOFF
    terminal: FAILED, SHUT_DOWN
    invalidate (drop/rename/invalidate event, expired token) →
    re-INITIAL_SYNC (A23)

Backoff: delay = min(1s × 2^attempt, 60s), unbounded retries for
transient errors; fatal errors fail fast (docs/design.md:451-467).

This is driver-side Python by design (SURVEY.md §4: "not a Spark
construct") — Spark handles data-plane retries; this loop handles
control-plane lifecycle. Multi-collection orchestration = one
CollectionSync per mapping, independent lifecycles (the reference's
thread pools become independent Spark jobs / scheduler pools).
"""

from __future__ import annotations

import enum
import time
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from .apply import apply_batch
from .backfill import run_backfill
from .checkpoint import (
    RESUME_STEADY_STATE,
    STATE_STEADY_STATE,
    CheckpointStore,
)
from .table_store import MorTable

BACKOFF_BASE_S = 1.0  # docs/design.md:454
BACKOFF_CAP_S = 60.0  # docs/design.md:456


class SyncState(enum.Enum):
    INITIALIZING = "INITIALIZING"
    INITIAL_SYNC = "INITIAL_SYNC"
    STEADY_STATE = "STEADY_STATE"
    BACKOFF = "BACKOFF"
    FAILED = "FAILED"
    SHUT_DOWN = "SHUT_DOWN"


class FatalSyncError(RuntimeError):
    """Config/auth/schema-incompatibility errors: fail fast
    (docs/design.md:462-467)."""


def backoff_delay(attempt: int) -> float:
    return min(BACKOFF_BASE_S * (2**attempt), BACKOFF_CAP_S)


class CollectionSync:
    """Lifecycle for one source collection → one MoR table."""

    def __init__(
        self,
        spark: SparkSession,
        sync_id: str,
        source_snapshot: Callable[[], DataFrame],
        event_batches: Callable[[int | None], Iterable[tuple[int, DataFrame]]],
        table: MorTable,
        store: CheckpointStore,
        key: str = "doc_id",
        max_attempts: int | None = None,  # None = retry forever (reference)
        sleep: Callable[[float], None] = time.sleep,
        metrics=None,  # optional sync.metrics.SyncMetrics (A34)
        quarantine_dir: str | None = None,  # dead-letter for malformed events
    ):
        self.spark = spark
        self.sync_id = sync_id
        self.source_snapshot = source_snapshot
        self.event_batches = event_batches
        self.table = table
        self.store = store
        self.key = key
        self.max_attempts = max_attempts
        self.sleep = sleep
        self.metrics = metrics
        self.quarantine_dir = quarantine_dir
        self.state = SyncState.INITIALIZING
        self.history: list[SyncState] = [self.state]

    def _set(self, s: SyncState) -> None:
        self.state = s
        self.history.append(s)
        if self.metrics is not None:
            self.metrics.set_state(s.value)  # A34 state gauge

    def run_once(self) -> None:
        """One full pass: restart decision → (backfill) → apply all
        available event batches. Transient errors back off and retry;
        invalidations truncate and re-run initial sync (A23)."""
        attempt = 0
        while True:
            try:
                decision = self.store.restart_decision(self.sync_id)
                if decision != RESUME_STEADY_STATE:
                    self._set(SyncState.INITIAL_SYNC)
                    run_backfill(
                        self.source_snapshot(),
                        self.table,
                        self.store,
                        self.sync_id,
                        key=self.key,
                    )
                self._set(SyncState.STEADY_STATE)
                self._apply_stream()
                return
            except FatalSyncError:
                self._set(SyncState.FAILED)
                raise
            except Exception:
                attempt += 1
                if self.max_attempts is not None and attempt >= self.max_attempts:
                    self._set(SyncState.FAILED)
                    raise
                self._set(SyncState.BACKOFF)
                self.sleep(backoff_delay(attempt - 1))
                # loop → re-read checkpoint and resume (A30)

    def _apply_one(self, batch: DataFrame, batch_id: int) -> dict:
        """apply_batch, timed; its counts are the batch's metrics (A34)."""
        t0 = time.perf_counter()
        stats = apply_batch(
            self.table, batch, batch_id, key=self.key, quarantine_dir=self.quarantine_dir
        )
        if self.metrics is not None:
            dt = time.perf_counter() - t0
            self.metrics.record_batch(stats["ops_by_type"], dt, stats["n_quarantined"])
        return stats

    def _apply_stream(self) -> None:
        """Apply pending event batches.

        Contract for event_batches: batch ids must be GLOBALLY STABLE
        across resumes (e.g. the batch's first op_seq) — MorTable's
        idempotent commit keys delta directories on batch_id, so a
        post-crash resume that renumbered batches from zero would
        overwrite earlier commits with different events.
        """
        from pyspark.sql import functions as F

        cp = self.store.read(self.sync_id)
        resume_from = (
            int(cp.resume_token) if cp and cp.resume_token is not None else None
        )
        for batch_id, batch in self.event_batches(resume_from):
            stats = self._apply_one(batch, batch_id)
            floor_seq = None  # resume floor when the trailing batch is empty
            while stats["n_invalidations"]:
                # A23: invalidate → truncate + re-initial-sync. apply_batch
                # committed only ops BEFORE the first invalidation; replay
                # the trailing ops afterwards as their own (stable-id)
                # batch so none are lost (matches the sequential oracle).
                self.table.truncate()
                self.store.delete(self.sync_id)
                self._set(SyncState.INITIAL_SYNC)
                run_backfill(
                    self.source_snapshot(),
                    self.table,
                    self.store,
                    self.sync_id,
                    key=self.key,
                )
                self._set(SyncState.STEADY_STATE)
                first_invalid = stats["first_invalid_seq"]
                floor_seq = first_invalid
                batch = batch.filter(
                    F.col("op_seq").cast("long") > F.lit(first_invalid)
                )
                stats = self._apply_one(batch, batch_id=first_invalid)
            pos = stats["max_seen_seq"] if stats["max_seen_seq"] is not None else floor_seq
            if pos is not None:
                cp = self.store.read(self.sync_id)
                cp.resume_token = str(pos)
                cp.documents_processed += stats["n_ops"]
                cp.last_snapshot_id = self.table.version  # the version holding the batch
                cp.state = STATE_STEADY_STATE
                self.store.upsert(cp)  # commit-then-checkpoint order (A21)

    def shutdown(self) -> None:
        self._set(SyncState.SHUT_DOWN)

"""Sync metrics (reference operator A34).

Reference spec (docs/design.md:469-476): Micrometer counters/timers —
documents processed, change events processed (by type), Iceberg
commits, commit latency, errors by type, per-sync state gauge.

Spark-first shape:
- batch path: ``df.observe(Observation, ...)`` — metrics ride the job
  itself (no second pass over the data; the aggregates are collected
  by the same action that writes).
- streaming path: a ``StreamingQueryListener`` turning query-progress
  events into the same counter set.
- control plane (state gauge, error counters, commit latency):
  a plain thread-safe registry the sync loop updates.
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class SyncMetrics:
    """Per-sync counter registry (A34's Micrometer surface, in-process)."""

    documents_processed: int = 0
    events_by_type: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    commits: int = 0
    commit_seconds_total: float = 0.0
    quarantined: int = 0  # dead-lettered malformed events (sync/quarantine.py)
    errors_by_type: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    state: str = "INITIALIZING"
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record_batch(
        self,
        counts: dict[str, int],
        commit_seconds: float,
        n_quarantined: int = 0,
    ) -> None:
        with self._lock:
            for op, n in counts.items():
                if n:
                    self.events_by_type[op] += n
                    self.documents_processed += n
            self.commits += 1
            self.commit_seconds_total += commit_seconds
            self.quarantined += n_quarantined

    def record_error(self, exc: BaseException) -> None:
        with self._lock:
            self.errors_by_type[type(exc).__name__] += 1

    def set_state(self, state: str) -> None:
        with self._lock:
            self.state = state

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "documents_processed": self.documents_processed,
                "events_by_type": dict(self.events_by_type),
                "commits": self.commits,
                "avg_commit_seconds": (
                    self.commit_seconds_total / self.commits if self.commits else 0.0
                ),
                "errors_by_type": dict(self.errors_by_type),
                "quarantined": self.quarantined,
                "state": self.state,
            }


def observed_batch(df: DataFrame, ops: tuple[str, ...] = ("insert", "update", "replace", "delete")):
    """Attach per-op-type counters to a CDC batch via df.observe —
    the counts are computed BY the write action itself (single pass).

    Returns (observed_df, observation); read ``observation.get`` after
    an action on observed_df has completed.
    """
    obs = Observation("cdc_batch")
    metrics = ["count(1) AS n_rows"] + [
        f"sum(CASE WHEN op_type = '{op}' THEN 1 ELSE 0 END) AS n_{op}" for op in ops
    ]
    return df.observe(obs, *[F.expr(m) for m in metrics]), obs


def apply_with_metrics(
    table,
    batch_df: DataFrame,
    batch_id: int,
    key: str,
    metrics: SyncMetrics,
    quarantine_dir: str | None = None,
):
    """apply.apply_batch wrapped with observe-based counters + commit
    latency (the instrumented form of the sync hot path)."""
    from .apply import apply_batch

    observed, obs = observed_batch(batch_df)
    t0 = time.perf_counter()
    stats = apply_batch(
        table, observed, batch_id, key=key, quarantine_dir=quarantine_dir
    )
    dt = time.perf_counter() - t0
    got = obs.get
    metrics.record_batch(
        {
            op: int(got.get(f"n_{op}", 0) or 0)
            for op in ("insert", "update", "replace", "delete")
        },
        dt,
        n_quarantined=int(stats.get("n_quarantined", 0) or 0),
    )
    return stats


class ProgressListener:
    """StreamingQueryListener turning progress events into SyncMetrics.

    Defined lazily (import inside) because StreamingQueryListener needs
    an active session context on some deployments.
    """

    def __new__(cls, metrics: SyncMetrics):
        from pyspark.sql.streaming import StreamingQueryListener

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                metrics.set_state("STEADY_STATE")

            def onQueryProgress(self, event):
                p = event.progress
                metrics.record_batch(
                    {"stream_rows": int(p.numInputRows)},
                    (p.batchDuration or 0) / 1000.0,
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                metrics.set_state("SHUT_DOWN")

        return _L()

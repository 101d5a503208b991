"""Sync metrics (reference operator A34).

Reference spec (docs/design.md:469-476): Micrometer counters/timers —
documents processed, change events processed (by type), Iceberg
commits, commit latency, errors by type, per-sync state gauge.

Spark-first shape: the batch counts ride the Observation on
apply_batch's commit write (sync.apply.observe_batch), so no second pass
over the events runs; CollectionSync times apply_batch and records what
it returns. The control plane (state gauge, error counters) is the same
thread-safe registry, which the sync loop updates.
"""

from __future__ import annotations

import threading
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class SyncMetrics:
    """Per-sync counter registry (A34's Micrometer surface, in-process).

    - ``events_by_type``: the normal ops apply_batch committed, by
      op_type, one per event (a key changed k times in a batch counts
      k); ``documents_processed``: their sum, the sum of apply_batch's
      ``n_ops``. The ops after an invalidation count once, in the
      replay that commits them; backfilled documents do not count.
    - ``quarantined``: the events dead-lettered (counted nowhere else).
    - ``commits``, ``commit_seconds_total``: apply_batch calls and
      their wall time.
    - ``errors_by_type``, ``state``: the control plane.
    """

    documents_processed: int = 0
    events_by_type: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    commits: int = 0
    commit_seconds_total: float = 0.0
    quarantined: int = 0
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

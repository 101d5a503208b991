"""Initial-sync backfill (reference A1/A9/A10/A22).

Reference algorithm (docs/design.md:88-99): open the change stream
FIRST to capture token T0, then scan the collection in _id order from
the high-water-mark, appending in chunks and checkpointing the HWM; on
completion, steady-state resumes from T0 — the overlap window is
deduplicated by key (A22).

Spark-first shape: the "scan" is one declarative filtered read —
`filter(key > hwm)` pushes into the parquet/Mongo scan; chunking for
resumability uses deterministic key ranges instead of a cursor, so
each chunk is an independent, retryable, *parallel* job. On 100 TB the
chunk boundary choice = partition pruning boundary.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import STATE_INITIAL_SYNC, STATE_STEADY_STATE, Checkpoint, CheckpointStore
from .table_store import MorTable


def _chunk_boundaries(df: DataFrame, key: str, chunk_rows: int) -> list:
    """One-pass chunk-boundary computation: increasing inclusive upper
    bounds, the last being the global max key.

    Boundaries come from a sorted sample of the key column — the same
    strategy as Spark's RangePartitioner — so the cost is one count+max
    aggregation plus an O(sample) driver collect (bounded, ~100k keys),
    independent of table size and of key type (works for string keys
    where approxQuantile would not). Chunk sizes are approximate
    (sampling), which is fine: chunking exists for resumability, not
    exact sizing.
    """
    stats = df.agg(F.count("*").alias("n"), F.max(key).alias("mx")).head()
    total = stats.n
    if total == 0:
        return []
    n_chunks = max(1, -(-total // chunk_rows))
    if n_chunks == 1:
        return [stats.mx]
    frac = min(1.0, 100_000 / total)
    sample = sorted(
        r[0] for r in df.select(key).sample(fraction=frac, seed=42).collect()
    )
    bounds: list = []
    for i in range(1, n_chunks):
        if not sample:
            break
        b = sample[max(0, min(len(sample) - 1, (i * len(sample)) // n_chunks - 1))]
        if not bounds or b > bounds[-1]:
            bounds.append(b)
    if not bounds or stats.mx > bounds[-1]:
        bounds.append(stats.mx)  # true max ⇒ the final chunk covers the tail
    return bounds


def run_backfill(
    source: DataFrame,
    table: MorTable,
    store: CheckpointStore,
    sync_id: str,
    key: str,
    source_database: str = "db",
    source_collection: str = "collection",
    chunk_rows: int = 100_000,
    stream_token_t0: str | None = None,
    fail_after_chunks: int | None = None,  # test hook: simulate crash
) -> Checkpoint:
    """Chunked, resumable snapshot scan. Resumes from the checkpoint
    HWM if one exists (reference RESUME_INITIAL_SYNC path)."""
    cp = store.read(sync_id)
    if cp is None:
        cp = Checkpoint(
            sync_id=sync_id,
            state=STATE_INITIAL_SYNC,
            source_database=source_database,
            source_collection=source_collection,
            resume_token=stream_token_t0,  # T0 captured BEFORE the scan (A22)
            high_water_mark_id=None,
            documents_processed=0,
            last_snapshot_id=None,
            updated_at=datetime.now(timezone.utc).isoformat(),
        )
        store.upsert(cp)

    # The checkpoint stores the HWM as a string (reference
    # docs/design.md:324 — JSON column); convert back to the key
    # column's own type so the resume predicate compares correctly for
    # numeric AND string keys (e.g. ObjectId-style ids).
    if cp.high_water_mark_id is None:
        hwm = None
    else:
        ktype = dict(source.dtypes).get(key, "string")
        if ktype in ("tinyint", "smallint", "int", "bigint"):
            hwm = int(cp.high_water_mark_id)
        elif ktype in ("float", "double"):
            hwm = float(cp.high_water_mark_id)
        else:
            hwm = cp.high_water_mark_id
    # Chunk boundaries are computed ONCE with a single pass over the
    # key column (quantiles for numeric keys, one key-only sort pass
    # otherwise) — NOT by re-sorting the remaining table per chunk,
    # which would be O(N²/chunk) scans at 100 TB. Each chunk is then an
    # independent half-open range filter (lo, hi], so chunks are
    # retryable and could run in parallel; the per-chunk HWM checkpoint
    # (A10) keeps resume semantics identical.
    remaining = source if hwm is None else source.filter(F.col(key) > F.lit(hwm))
    bounds = _chunk_boundaries(remaining, key, chunk_rows)
    chunks_done = 0
    for hi in bounds:
        lo_pred = F.lit(True) if hwm is None else (F.col(key) > F.lit(hwm))
        chunk = source.filter(lo_pred & (F.col(key) <= F.lit(hi)))
        n = chunk.count()
        if n == 0:
            hwm = hi
            continue
        table.append_base(chunk)
        hwm = hi
        cp.high_water_mark_id = str(hwm)
        cp.documents_processed += n
        cp.last_snapshot_id = table.version  # the version holding the chunk
        store.upsert(cp)  # HWM checkpoint per chunk (A10)
        chunks_done += 1
        if fail_after_chunks is not None and chunks_done >= fail_after_chunks:
            raise RuntimeError("simulated backfill crash (test hook)")

    cp.state = STATE_STEADY_STATE  # handoff (A22): stream resumes from T0
    store.upsert(cp)
    return cp

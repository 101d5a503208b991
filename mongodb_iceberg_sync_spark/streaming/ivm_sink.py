"""Continuously-maintained materialized aggregate over a CDC stream.

foreachBatch composition of the sync engine's pieces: each micro-batch
LWW-folds its ops, updates the keyed snapshot (MorTable — idempotent
batch-id commits), and rolls the downstream grouped aggregate forward
with IVM delta algebra (sync/ivm.py) — the aggregate is updated in
O(batch) without rescanning the snapshot, and both states converge
under batch replay:

  - snapshot: MorTable's replace-own-delta-dir protocol (A21)
  - aggregate: versioned `agg/batch=N` dirs; a replayed batch N
    recomputes FROM THE SAME INPUTS (agg/batch=N-1 + the batch) and
    overwrites its own dir — pure function of (prev state, batch), so
    replay converges exactly like the table commit.

The aggregate never self-overwrites: batch N reads `agg/batch=N-1`
and writes `agg/batch=N` — reader and writer paths are disjoint, so
no checkpoint/barrier is needed between them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sync.ivm import group_stats, incremental_group_stats
from ..sync.table_store import OP_SEQ, OP_TYPE, MorTable

_AGG_SCHEMA = "g string, n long, s decimal(28,10)"


def _latest_agg(spark, agg_dir: str, before_batch: int):
    """agg state as of the newest batch < before_batch (replay-safe:
    a replayed batch must not read its own previous output).

    Listing uses the local filesystem — on an object store swap in the
    Hadoop FileSystem API (same contract: newest batch dir below N)."""
    if os.path.isdir(agg_dir):
        done = [
            int(d.split("=", 1)[1])
            for d in os.listdir(agg_dir)
            if d.startswith("batch=") and int(d.split("=", 1)[1]) < before_batch
        ]
        if done:
            return spark.read.schema(_AGG_SCHEMA).parquet(
                f"{agg_dir}/batch={max(done)}"
            )
    return spark.createDataFrame([], _AGG_SCHEMA)


def maintained_group_stats(
    cdc_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key: str = "doc_id",
    group_col: str = "grp",
    value_col: str = "value",
    available_now: bool = True,
) -> StreamingQuery:
    """Start the stream. State layout: ``{state_dir}/snap`` (MorTable
    keyed snapshot) and ``{state_dir}/agg/batch=N`` (aggregate
    versions). The stream's input schema must carry
    (op_seq, op_type, key, group_col, value_col [, ...]).
    """
    spark = cdc_stream.sparkSession
    table = MorTable(spark, f"{state_dir}/snap", key=key)
    agg_dir = f"{state_dir}/agg"

    def _fold_lww(batch_df: DataFrame) -> DataFrame:
        """Within-batch LWW on op_seq (max_by, no window): the aggregate
        delta needs each key's one net change in the batch. The sync
        path commits every op instead (sync.apply.batch_to_ops) and
        leaves this fold to MorTable's merge-on-read."""
        tagged = batch_df.select(
            key,
            group_col,
            value_col,
            F.col("op_seq").cast("long").alias(OP_SEQ),
            F.when(F.col("op_type") == "delete", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias(OP_TYPE),
        )
        row = F.struct(group_col, value_col, OP_SEQ, OP_TYPE)
        return (
            tagged.groupBy(key)
            .agg(F.max_by(row, F.col(OP_SEQ)).alias("_r"))
            .select(
                key,
                F.col(f"_r.{group_col}").alias(group_col),
                F.col(f"_r.{value_col}").alias(value_col),
                F.col(f"_r.{OP_SEQ}").alias(OP_SEQ),
                F.col(f"_r.{OP_TYPE}").alias(OP_TYPE),
            )
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ops = _fold_lww(batch_df).localCheckpoint(eager=True)
        prev_agg = _latest_agg(spark, agg_dir, batch_id)
        # previous per-key state AS OF the PREVIOUS batch — not the
        # current head: on replay the head already contains this batch
        # (and later ones), and retracting future state would diverge.
        # VERSION AS OF makes the update a pure function of
        # (state@N-1, batch N), which is what lets a replayed batch
        # overwrite its own output and converge. _latest (not
        # snapshot) keeps OP_SEQ/OP_TYPE so stale ops can be detected.
        prev = table._latest(as_of_batch=batch_id - 1) if batch_id > 0 else None
        if prev is not None:
            prev_k = prev.select(
                key,
                F.col(group_col).alias("_pg"),
                F.col(value_col).alias("_pv"),
                F.col(OP_SEQ).alias("_pseq"),
                F.col(OP_TYPE).alias("_pop"),
            )
            joined = ops.join(prev_k, key, "left")
            # a batch op only takes effect if it WINS the cross-batch
            # LWW (op_seq above the key's current position) — exactly
            # the rule MorTable's snapshot applies, so table and
            # aggregate can never disagree on a stale/out-of-order op
            effective = joined.filter(
                F.col("_pseq").isNull() | (F.col(OP_SEQ) > F.col("_pseq"))
            ).localCheckpoint(eager=True)
            prev_rows = effective.filter(F.col("_pop") == "upsert").select(
                key,
                F.col("_pg").alias(group_col),
                F.col("_pv").alias(value_col),
            )
            new_rows = effective.filter(F.col(OP_TYPE) == "upsert")
        else:
            prev_rows = ops.select(key, group_col, value_col).limit(0)
            new_rows = ops.filter(F.col(OP_TYPE) == "upsert")
        updated = incremental_group_stats(
            prev_agg, prev_rows, new_rows, group_col, value_col
        )
        # write agg first (reads only prev state), then commit the
        # snapshot: if the job dies between the two, replay redoes both
        updated.write.mode("overwrite").parquet(f"{agg_dir}/batch={batch_id}")
        table.commit_batch(ops, batch_id)

    writer = cdc_stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def recompute_group_stats(
    spark,
    state_dir: str,
    key: str = "doc_id",
    group_col: str = "grp",
    value_col: str = "value",
) -> DataFrame:
    """Full recompute from the maintained snapshot — the invariant the
    incremental aggregate is tested against."""
    table = MorTable(spark, f"{state_dir}/snap", key=key)
    return group_stats(table.snapshot(), group_col, value_col)

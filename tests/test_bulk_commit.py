"""commit_batches (bulk) must be commit- and manifest-equivalent to a
commit_batch loop: the same commit ids, the same manifest JSON fields,
the same merge-on-read snapshot — it is a job-count optimization, never
a new commit format (verdict r6 task #5: the CDC metadata fixtures paid
~4 Spark jobs per commit; bulk pays ~3 total). Where the commit dirs
live is the table version's business, so both are read through it."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sync.table_store import MANIFEST, MorTable


def _events(spark):
    rows = [
        (i, f"u{i % 7}", "click" if i % 3 else "purchase", float(i) * 1.5)
        for i in range(100)
    ]
    return spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, value double"
    )


def _payload(df):
    return df.select(
        "user_id",
        F.col("event_id").alias("_op_seq"),
        F.lit("upsert").alias("_op"),
        "event_type",
        "value",
        F.expr("event_id div 25").alias("__batch"),
    )


def _manifests(tbl):
    out = {}
    for b, d in tbl._dirs("deltas"):
        with open(f"{d}/{MANIFEST}") as f:
            out[b] = json.load(f)
    return out


def test_bulk_equals_loop(spark, tmp_path):
    ev = _events(spark)
    loop_t = MorTable(spark, str(tmp_path / "loop"), key="user_id")
    for b in range(4):
        loop_t.commit_batch(
            _payload(ev).filter(F.col("__batch") == b).drop("__batch"), b
        )
    bulk_t = MorTable(spark, str(tmp_path / "bulk"), key="user_id")
    ids = bulk_t.commit_batches(_payload(ev), "__batch")
    assert ids == [0, 1, 2, 3]
    assert loop_t._ids("deltas") == bulk_t._ids("deltas")
    lm, bm = _manifests(loop_t), _manifests(bulk_t)
    assert lm.keys() == bm.keys()
    for d in lm:
        # bit-identical manifests: bounds, per-column stats, bloom bitmap
        assert lm[d] == bm[d], f"manifest diverged for {d}"
    a = sorted(map(tuple, loop_t.snapshot().collect()))
    b = sorted(map(tuple, bulk_t.snapshot().collect()))
    assert a == b


def test_bulk_skips_null_batch_ids(spark, tmp_path):
    df = _payload(_events(spark)).withColumn(
        "__batch",
        F.when(F.col("_op_seq") < 50, F.col("__batch")),  # NULL for >= 50
    )
    t = MorTable(spark, str(tmp_path / "nulls"), key="user_id")
    assert t.commit_batches(df, "__batch") == [0, 1]


def test_bulk_falls_back_under_partition_spec(spark, tmp_path):
    ev = _events(spark)
    t = MorTable(
        spark, str(tmp_path / "part"), key="user_id", partition_col="event_type"
    )
    ids = t.commit_batches(_payload(ev), "__batch")
    assert ids == [0, 1, 2, 3]
    # loop fallback keeps the nested spec layout: batch dirs contain
    # event_type=... subdirs
    sub = os.listdir(f"{t.delta_dir}/batch=0")
    assert any(s.startswith("event_type=") for s in sub)
    assert t.snapshot().count() == 7  # LWW: one row per user_id


def test_bulk_empty_input(spark, tmp_path):
    t = MorTable(spark, str(tmp_path / "empty"), key="user_id")
    df = _payload(_events(spark)).filter(F.lit(False))
    assert t.commit_batches(df, "__batch") == []
    assert t._ids("deltas") == []

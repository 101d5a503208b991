"""Lakehouse table lifecycle, runnable standalone:

    python examples/lakehouse_maintenance.py [work_dir=/tmp/mis_lakehouse]

Walks one MorTable (the engine's Iceberg merge-on-read analog,
`sync/table_store.py`) through the full operational lifecycle a real
100 TB lake table sees, printing the table state after each step:

  1. backfill            — append_base (initial sync, reference A15)
  2. MERGE INTO          — upsert-if-newer + delete clause in one call
  3. write-audit-publish — stage a bad batch, audit catches it, abort;
                           stage a good batch, publish atomically
  4. point lookup        — bloom manifests skip non-matching commits
  5. time travel + CDF   — VERSION AS OF and changes() between versions
  6. partition evolution — metadata-only spec change, then full
                           compact() rewrites under the new layout
  7. targeted compaction — cold partitions fold, hot files untouched
  8. retention           — expire_snapshots + remove_orphan_files

With Iceberg jars on a real cluster every step maps 1:1 onto catalog
operations (MERGE INTO, WAP branches, rewrite_data_files,
expire_snapshots, remove_orphan_files); see sync/catalog.py for the
exact spark.sql.catalog.* conf rendering.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.session import get_spark
from mongodb_iceberg_sync_spark.sync.table_store import MorTable


def show(tag, t):
    snap = t.snapshot()
    rows = sorted((r.doc_id, r.day, r.v) for r in snap.collect()) if snap is not None else []
    print(f"  [{tag}] {rows}")


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/mis_lakehouse"
    shutil.rmtree(work, ignore_errors=True)
    spark = get_spark(app_name="mis-lakehouse-demo")

    def df(rows, seq0=0, op="upsert"):
        return spark.createDataFrame(
            [(k, seq0 + i, op, day, v) for i, (k, day, v) in enumerate(rows)],
            "doc_id string, _op_seq long, _op string, day string, v long",
        )

    t = MorTable(spark, f"{work}/docs", key="doc_id")

    print("1. backfill")
    t.append_base(
        spark.createDataFrame(
            [("a", "d1", 1), ("b", "d1", 2), ("c", "d2", 3)],
            "doc_id string, day string, v long",
        )
    )
    show("base", t)

    print("2. MERGE INTO (upsert-if-newer, delete negatives)")
    src = spark.createDataFrame(
        [("b", "d1", 20), ("c", "d2", -1), ("d", "d2", 4)],
        "doc_id string, day string, v long",
    )
    t.merge_into(
        src,
        batch_id=1,
        when_matched_update=F.col("v") > F.col("_target.v"),
        when_matched_delete=F.col("v") < 0,
    )
    show("merged", t)

    print("3. write-audit-publish")
    bad = spark.createDataFrame(
        [(None, 100, "upsert", "d1", 9)],
        "doc_id string, _op_seq long, _op string, day string, v long",
    )
    t.stage_batch(bad, 2)
    problems = t.audit_batch(2)
    print(f"  audit found: {problems}")
    t.abort_batch(2)
    t.stage_batch(df([("e", "d3", 5)], seq0=200), 2)
    assert t.audit_batch(2) == []
    t.publish_batch(2)
    show("published", t)

    print("4. bloom point lookup")
    dirs = t.prune_batches("e", "e")
    n_commits = t.refs().filter("ref = 'main'").head().n_commits
    print(f"  lookup('e') opens {len(dirs)} of {n_commits} commits")
    print(f"  row: {t.lookup('e').collect()}")

    print("5. time travel + change data feed")
    v1 = sorted((r.doc_id, r.v) for r in t.snapshot(as_of_batch=1).collect())
    print(f"  VERSION AS OF 1: {v1}")
    cdf = [(r.doc_id, r.change_type) for r in t.changes(from_batch=1).collect()]
    print(f"  changes since 1: {sorted(cdf)}")

    print("6. partition evolution (unpartitioned -> day) + full compact")
    t.evolve_partition_spec("day")
    t.compact()
    print(f"  base layout: {sorted(r.partition for r in t.partitions().collect())}")
    show("compacted", t)

    print("7. targeted compaction (cold partition d1)")
    t.commit_batch(df([("f", "d1", 6), ("g", "d3", 7)], seq0=300), 3)
    t.compact(where=F.col("day") == "d1")
    show("cold-folded", t)

    print("8. retention")
    print(f"  expired {t.expire_snapshots(keep_last=1)} base generations")
    print(f"  orphans removed: {t.remove_orphan_files(older_than_s=0)}")
    show("final", t)

    print("OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

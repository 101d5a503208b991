"""CLI entry point (reference operator A36).

Parity with the reference daemon (reference SyncDaemon.java:31-60):
``-c/--config config.yaml`` → load + validate config, exit 0 on
success, 1 on config error. The reference's own run body is a TODO
(SyncDaemon.java:48-51 — "initialize Iceberg catalog / MongoDB client /
start SyncManager"), so the implemented contract is the config surface;
beyond it, ``--demo DIR`` runs a complete local sync lifecycle
(backfill → CDC apply → checkpointed resume) against a file-backed
feed, which is the part the reference only specifies.

Usage:
    python -m mongodb_iceberg_sync_spark -c config.yaml [--validate-only]
    python -m mongodb_iceberg_sync_spark -c config.yaml --demo /tmp/demo
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="mongodb-iceberg-sync-spark",
        description="PySpark-native CDC sync engine (config-compatible "
        "with luketn/mongodb-iceberg-sync)",
    )
    ap.add_argument("-c", "--config", required=True, help="YAML sync config")
    ap.add_argument(
        "--validate-only",
        action="store_true",
        help="load + validate the config and exit (no SparkSession)",
    )
    ap.add_argument(
        "--demo",
        metavar="DIR",
        help="run a self-contained local sync demo (synthetic CDC feed) "
        "under DIR using the config's first collection mapping",
    )
    ap.add_argument(
        "--demo-stream",
        metavar="DIR",
        help="run the write-audit-publish STREAMING demo under DIR: a "
        "real micro-batch run where each batch is staged, audited and "
        "atomically published, and a poisoned batch is aborted wholesale "
        "into the dead-letter quarantine",
    )
    args = ap.parse_args(argv)

    from .sync.config import ConfigError, load_config

    try:
        cfg = load_config(args.config)
    except (ConfigError, OSError) as e:
        print(f"config error: {e}", file=sys.stderr)
        return 1

    summary = {
        "mongodb_uri": cfg.mongodb.uri,
        "catalog": cfg.iceberg.catalog.type,
        "warehouse": cfg.iceberg.catalog.warehouse,
        "collections": [
            f"{cfg.mongodb.database}.{c.source_collection} -> "
            f"{c.target_namespace}.{c.target_table}"
            for c in cfg.collections
        ],
    }
    print(json.dumps({"config_ok": True, **summary}))
    if args.validate_only:
        return 0

    if args.demo:
        return _run_demo(cfg, args.demo)
    if args.demo_stream:
        return _run_stream_demo(cfg, args.demo_stream)

    # Real MongoDB connectivity is out of scope for this environment
    # (no driver/daemon here); a production build would start one
    # CollectionSync per mapping against the change-stream source.
    print("no source reachable in this environment; use --validate-only or --demo")
    return 0


def _run_demo(cfg, demo_dir: str) -> int:
    import os

    from .session import get_spark
    from .sources.cdc_feed import events_df, expected_final_state, make_events
    from .sync.checkpoint import CheckpointStore
    from .sync.engine import CollectionSync, SyncState
    from .sync.metrics import SyncMetrics
    from .sync.table_store import MorTable

    import json as _json
    import threading

    spark = get_spark(app_name="mis-sync-demo", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(demo_dir, exist_ok=True)

    # One CollectionSync per configured mapping, run CONCURRENTLY in one
    # SparkSession (reference A32, docs/design.md:56-64): independent
    # tables, checkpoints, and feeds.
    syncs: list[tuple[CollectionSync, list[tuple], SyncMetrics]] = []
    for i, coll in enumerate(cfg.collections):
        sync_id = f"{coll.target_namespace}.{coll.target_table}"
        rows = make_events(n_docs=20, n_ops=200 - 50 * (i % 2))
        table = MorTable(
            spark, os.path.join(demo_dir, f"tbl_{coll.target_table}"), key="doc_id"
        )
        store = CheckpointStore(
            os.path.join(demo_dir, f"checkpoints_{coll.target_table}.jsonl")
        )
        snap = spark.createDataFrame(
            [("seed", _json.dumps({"_id": "seed", "v": "from-initial-sync"}))],
            "doc_id string, full_doc string",
        )

        def event_batches(resume_from, _rows=rows, _batch=coll.batch):
            # Batches cut by the config's three thresholds (A16); batch
            # ids are the first op_seq of each batch — stable across
            # resumes, as MorTable's idempotent batch-id commits require.
            from .sync.batching import threshold_batches

            lo = 0 if resume_from is None else resume_from
            pending = [r for r in _rows if r[0] > lo]
            for bid, chunk in threshold_batches(pending, _batch):
                yield (bid, events_df(spark, chunk))

        metrics = SyncMetrics()
        syncs.append(
            (
                CollectionSync(
                    spark,
                    sync_id,
                    (lambda s=snap: s),
                    event_batches,
                    table,
                    store,
                    key="doc_id",
                    max_attempts=3,
                    metrics=metrics,
                    quarantine_dir=coll.quarantine_dir,
                ),
                rows,
                metrics,
            )
        )

    threads = [threading.Thread(target=s.run_once) for s, _, _ in syncs]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    ok = True
    report = []
    for sync, rows, metrics in syncs:
        got = {r.doc_id for r in sync.table.snapshot().collect()}
        want = set(expected_final_state(rows)) | {"seed"}
        this_ok = got == want and sync.state == SyncState.STEADY_STATE
        ok = ok and this_ok
        report.append(
            {
                "sync_id": sync.sync_id,
                "ok": this_ok,
                "final_docs": len(got),
                "states": [s.value for s in sync.history],
                "metrics": metrics.snapshot(),
            }
        )
    print(json.dumps({"demo_ok": ok, "syncs": report}))
    return 0 if ok else 1


def _run_stream_demo(cfg, demo_dir: str) -> int:
    """End-to-end WAP streaming lifecycle (A15 staged commits + A3
    dead-letter quarantine on a REAL micro-batch run): a file-backed CDC
    feed drains through foreach_batch_merge with audit_checks enabled,
    so every micro-batch is staged -> audited -> atomically published;
    one deliberately poisoned batch (null keys) must abort wholesale
    into the quarantine while the stream continues. Asserts the final
    table equals the sequential replay of the CLEAN ops, the published
    commit count, the quarantined row count + reason, and that staging
    is empty afterwards."""
    import json as _json
    import os

    from .session import get_spark
    from .sources.cdc_feed import (
        events_df,
        expected_final_state,
        make_events,
        read_stream,
        write_stream_source,
    )
    from .streaming.sink import foreach_batch_merge
    from .sync.table_store import MorTable

    spark = get_spark(app_name="mis-stream-demo", master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(demo_dir, exist_ok=True)
    coll = cfg.collections[0]

    clean = make_events(n_docs=15, n_ops=120)
    max_seq = clean[-1][0]
    n_poison = 7
    poison = [
        (max_seq + 1 + i, "update", None, None, _json.dumps({"v": i}))
        for i in range(n_poison)
    ]
    src = os.path.join(demo_dir, "feed")
    write_stream_source(spark, clean, src, files=3)
    # the poisoned micro-batch rides its own file (one file ≙ one batch)
    events_df(spark, poison).coalesce(1).write.mode("append").parquet(src)

    table = MorTable(
        spark, os.path.join(demo_dir, f"tbl_{coll.target_table}"), key="doc_id"
    )
    # quarantine lives under the demo dir (the config's quarantineDir
    # shape, rooted locally so repeated demos stay isolated)
    qdir = os.path.join(demo_dir, f"quarantine_{coll.target_table}")
    q = foreach_batch_merge(
        read_stream(spark, src),
        table,
        os.path.join(demo_dir, "ckpt"),
        audit_checks=[],  # built-in expectations: null key, valid op
        quarantine_dir=qdir,
    )
    q.awaitTermination()

    got = {r.doc_id for r in table.snapshot().collect()}
    want = set(expected_final_state(clean))
    published = table.refs().filter("ref = 'main'").head().n_commits
    quarantined = spark.read.parquet(qdir)
    n_quarantined = quarantined.count()
    reasons = {r.reason.split(":")[0] for r in quarantined.select("reason").collect()}
    staging_left = [r.file_path for r in table.files().filter("section = 'staged'").collect()]
    ok = (
        got == want
        and published == 3
        and n_quarantined == n_poison
        and reasons == {"audit_failed"}
        and not staging_left
    )
    print(
        _json.dumps(
            {
                "stream_demo_ok": ok,
                "final_docs": len(got),
                "published_batches": published,
                "quarantined_rows": n_quarantined,
                "quarantine_reasons": sorted(reasons),
                "staging_leftovers": staging_left,
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())

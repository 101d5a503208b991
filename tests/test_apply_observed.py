"""apply_batch observes its batch statistics on the commit write itself
instead of aggregating the events first. Its rare batches (an
invalidation, no normal op) are decided after that write, before its
version is published; on every one of them the result must equal the
former pre-pass implementation, kept below as the oracle (with the
one-row-per-event projection of ``batch_to_ops``): the same returned
dict, the same live commits and manifests, the same snapshot, the same
dead letters and the same metrics, on the plain, metrics (the engine's
recording path, ``CollectionSync._apply_one``) and quarantine paths.

The oracle derives ``ops_by_type`` on its own, from the events it
commits, and dead-letters on an invalidation only the malformed events
that the engine's replay of the trailing ops (op_seq above the first
invalidation) will not read again."""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mongodb_iceberg_sync_spark.sources.cdc_feed import events_df, make_events
from mongodb_iceberg_sync_spark.sync import apply as apply_mod
from mongodb_iceberg_sync_spark.sync import engine as engine_mod
from mongodb_iceberg_sync_spark.sync.metrics import SyncMetrics
from mongodb_iceberg_sync_spark.sync.table_store import (
    MANIFEST,
    OP_SEQ,
    OP_TYPE,
    MorTable,
)

INVALIDATE_OPS = ("drop", "rename", "invalidate")


def _oracle_batch_to_ops(events, key):
    return events.select(
        F.col(key),
        F.col("full_doc"),
        F.col("ts"),
        F.col("op_seq").cast("long").alias(OP_SEQ),
        F.when(F.col("op_type").isin("delete"), F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias(OP_TYPE),
    )


def _oracle_split_malformed(events, key):
    is_delete = F.col("op_type").isin("delete")
    reason = (
        F.when(F.col("op_type").isin(*INVALIDATE_OPS), F.lit(None))
        .when(F.col(key).isNull(), F.lit("missing_key"))
        .when(~is_delete & F.col("full_doc").isNull(), F.lit("missing_document"))
        .when(
            ~is_delete & F.from_json("full_doc", "map<string,string>").isNull(),
            F.lit("malformed_json"),
        )
    )
    tagged = events.withColumn("_dlq_reason", reason)
    good = tagged.filter(F.col("_dlq_reason").isNull()).drop("_dlq_reason")
    return good, tagged.filter(F.col("_dlq_reason").isNotNull())


def oracle_apply_batch(table, events, batch_id, key="doc_id", quarantine_dir=None):
    """The former apply_batch: one aggregation over the events decides
    what to commit before the commit runs."""
    from mongodb_iceberg_sync_spark.sync.quarantine import write_quarantine

    is_invalid = F.col("op_type").isin(*INVALIDATE_OPS)
    seq = F.col("op_seq").cast("long")
    bad = None
    if quarantine_dir is not None:
        events, bad = _oracle_split_malformed(events, key)
    pre = events.agg(
        F.count(F.when(is_invalid, 1)).alias("n_invalid"),
        F.min(F.when(is_invalid, seq)).alias("first_invalid_seq"),
        F.count(F.when(~is_invalid, 1)).alias("n_normal"),
        F.max(F.when(~is_invalid, seq)).alias("max_seq"),
        F.max(seq).alias("max_seen_seq"),
    ).head()
    n_ops = 0
    ops_by_type = dict.fromkeys(("insert", "update", "replace", "delete", "other"), 0)
    if pre.n_normal:
        normal = events.filter(~is_invalid)
        if pre.first_invalid_seq is not None:
            normal = normal.filter(seq < F.lit(pre.first_invalid_seq))
        n_ops = table.commit_batch(_oracle_batch_to_ops(normal, key), batch_id)
        for r in normal.groupBy("op_type").count().collect():
            ops_by_type[r.op_type if r.op_type in ops_by_type else "other"] += r["count"]
    max_seen = pre.max_seen_seq
    n_quarantined = 0
    if bad is not None:
        q_max_seq = bad.agg(F.max(seq)).head()[0]
        if q_max_seq is not None and (max_seen is None or q_max_seq > max_seen):
            max_seen = q_max_seq
        if pre.first_invalid_seq is not None:
            # the engine's replay of the trailing ops dead-letters the rest
            bad = bad.filter((seq <= F.lit(pre.first_invalid_seq)) | seq.isNull())
        n_quarantined = bad.count()
        if n_quarantined:
            write_quarantine(bad, quarantine_dir, batch_id)
    return {
        "batch_id": batch_id,
        "n_ops": n_ops,
        "ops_by_type": ops_by_type,
        "n_quarantined": n_quarantined,
        "max_op_seq": pre.max_seq,
        "max_seen_seq": max_seen,
        "n_invalidations": pre.n_invalid,
        "first_invalid_seq": pre.first_invalid_seq,
    }


_TS = datetime(2024, 1, 2)


def _normal(start_seq, n):
    return make_events(n_docs=6, n_ops=n, start_seq=start_seq)


# Applied in this order to one table, as batches 1..6. Each case's seqs
# lie above every earlier batch's, so the table's state stays a
# deterministic function of the ops committed.
CASES = {
    "clean": _normal(1001, 30),
    "invalidation_mid_batch": make_events(
        n_docs=6, n_ops=30, invalidate_at=17, start_seq=2001
    ),
    "invalidation_first": make_events(
        n_docs=6, n_ops=30, invalidate_at=0, start_seq=3001
    ),
    "invalidations_only": [
        (4001, "invalidate", None, _TS, None),
        (4002, "drop", None, _TS, None),
    ],
    "empty": [],
    # every normal op is ordered after the first invalidation, which is
    # the last row of the batch; a later one must not move the cut
    "normal_after_invalidation": _normal(6010, 20)
    + [(6050, "rename", None, _TS, None), (6003, "drop", None, _TS, None)],
}


def _malformed(b):
    """Mixed into batch ``b`` on the quarantine path: a keyless insert
    ordered after every other event (it must still advance the resume
    position) and a truncated document."""
    return [
        (1000 * b + 999, "insert", None, _TS, '{"v": 1}'),
        (1000 * b + 5, "update", "doc1", _TS, "{truncated"),
    ]


def _rows(spark, path):
    return sorted((repr(tuple(r)) for r in spark.read.parquet(path).collect()))


def _state(spark, t, qdir):
    """Every live commit's id, manifest and rows, the snapshot, and the
    dead letters."""
    dirs = dict(t._dirs("deltas"))
    manifests = {}
    for b, d in dirs.items():
        with open(f"{d}/{MANIFEST}") as f:
            manifests[b] = json.load(f)
    rows = {b: _rows(spark, d) for b, d in dirs.items()}
    snap = sorted(repr(tuple(r)) for r in t.snapshot().collect())
    dlq = (sorted(os.listdir(qdir)), _rows(spark, qdir)) if qdir else None
    return sorted(dirs), manifests, rows, snap, dlq


def _run(spark, root, apply_fn, path, monkeypatch):
    t = MorTable(spark, root, key="doc_id")
    qdir = f"{root}_dlq" if path == "quarantine" else None
    metrics = SyncMetrics()
    sync = engine_mod.CollectionSync(spark, "observed", None, None, t, None, metrics=metrics)
    out = []
    with monkeypatch.context() as m:
        # the engine looks apply_batch up at call time
        m.setattr(engine_mod, "apply_batch", apply_fn)
        for b, rows in enumerate([_normal(1, 24), *CASES.values()]):
            if path == "quarantine":
                rows = rows + _malformed(b)
            events = events_df(spark, rows)
            if path == "metrics":
                out.append(sync._apply_one(events, b))
            else:
                out.append(apply_fn(t, events, b, quarantine_dir=qdir))
    snap = metrics.snapshot()
    snap.pop("avg_commit_seconds")
    return out, _state(spark, t, qdir), snap


@pytest.mark.parametrize("path", ["plain", "metrics", "quarantine"])
def test_apply_batch_equals_pre_pass_oracle(spark, tmp_path, monkeypatch, path):
    new_out, new_state, new_metrics = _run(
        spark, str(tmp_path / "new"), apply_mod.apply_batch, path, monkeypatch
    )
    old_out, old_state, old_metrics = _run(
        spark, str(tmp_path / "old"), oracle_apply_batch, path, monkeypatch
    )
    for case, got, want in zip(["warm", *CASES], new_out, old_out):
        assert got == want, case
    names = ("commit ids", "manifests", "commit rows", "snapshot", "dead letters")
    for name, got, want in zip(names, new_state, old_state):
        assert got == want, name
    assert new_metrics == old_metrics
    # each call counts, by op type, exactly the ops it committed
    assert all(sum(o["ops_by_type"].values()) == o["n_ops"] for o in new_out)
    if path == "metrics":
        assert new_metrics["documents_processed"] == sum(o["n_ops"] for o in new_out)
    # the empty and invalidations-only batches commit nothing and leave
    # no dir behind
    assert 4 not in new_state[0] and 5 not in new_state[0]
    left = os.listdir(f"{tmp_path}/new/deltas")
    assert not [d for d in left if d.split(".")[0] in ("batch=4", "batch=5")], left
    if path == "quarantine":
        assert all(o["max_seen_seq"] % 1000 == 999 for o in new_out)

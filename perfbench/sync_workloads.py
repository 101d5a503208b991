"""``sync_trickle``: the CDC sync lifecycle driven through
``CollectionSync.run_once``.

A closed loop with one caller: the event source hands the engine its
next batch only when the engine asks for it, which happens after the
previous batch's checkpoint is written. Commit latency is the time from
the engine taking a batch to it asking for the next one.

Set-up is the Spark start, input generation, the backfill and the first
WARM_BATCHES batches. Then ``int(seconds)`` batches are timed (a commit
takes about 1.3 s), with the maintenance policy between batches.
After the stream, one round of reads (present and absent point lookups,
a 1%-of-keys range and a full snapshot scan) is checked against the
replay and feeds the read-path per-layer metrics; it is not part of the
end-to-end figures.
"""

from __future__ import annotations

import bisect
import json
import os
import time
from contextlib import contextmanager

import pyarrow.parquet as pq
from gen import ChangeLog, absent_id
from tracing import median, percentile

N_DOCS = 50_000
BATCH_EVENTS = 1_000
INSERT, DELETE, REPLACE = 0.05, 0.20, 0.20  # update is the remaining 55%
WARM_BATCHES = 6  # commit latency falls from ~4 s to ~1.5 s over the first six
COMPACT_AFTER = 8  # maintenance policy: compact once 8 delta commits exist
READS = ("lookup", "lookup", "range", "scan")  # lookups alternate present/absent keys


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _n_parquet(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


class _Source:
    """The change stream: one parquet file per batch, read on demand."""

    def __init__(self, ctx, log: ChangeLog, root: str):
        self.ctx, self.log, self.root = ctx, log, root
        os.makedirs(root, exist_ok=True)

    def next_df(self):
        from mongodb_iceberg_sync_spark.sources.cdc_feed import CDC_SCHEMA

        batch_id, table = self.log.next_batch(BATCH_EVENTS)
        path = f"{self.root}/batch-{batch_id:09d}.parquet"
        pq.write_table(table, path)
        return batch_id, self.ctx.spark.read.schema(CDC_SCHEMA).parquet(path)


@contextmanager
def _traced_engine(tracer):
    """Route the engine's calls into apply/backfill through spans."""
    from mongodb_iceberg_sync_spark.sync import engine

    saved = engine.apply_batch, engine.run_backfill
    if tracer.enabled:
        engine.apply_batch = tracer.wrap("sync.apply", engine.apply_batch)
        engine.run_backfill = tracer.wrap("sync.backfill", engine.run_backfill)
    try:
        yield
    finally:
        engine.apply_batch, engine.run_backfill = saved


def run_sync(ctx) -> dict:
    from mongodb_iceberg_sync_spark.sources.cdc_feed import expected_final_state
    from mongodb_iceberg_sync_spark.sync.checkpoint import CheckpointStore
    from mongodb_iceberg_sync_spark.sync.engine import CollectionSync
    from mongodb_iceberg_sync_spark.sync.table_store import MorTable

    tracer = ctx.tracer
    gen_times = []
    for _ in range(3):  # repeated; set-up takes the median
        g0 = time.perf_counter()
        log = ChangeLog(ctx.seed, N_DOCS, INSERT, DELETE, REPLACE)
        pq.write_table(log.snapshot_table(), f"{ctx.work}/snapshot.parquet")
        gen_times.append(time.perf_counter() - g0)
    ctx.setup_parts["gen_s"] = median(gen_times)

    table = MorTable(ctx.spark, f"{ctx.work}/table", key="doc_id")
    store = CheckpointStore(f"{ctx.work}/checkpoints.jsonl")
    if tracer.enabled:
        table.commit_batch = tracer.wrap("sync.table_store.commit", table.commit_batch)
        table.append_base = tracer.wrap("sync.table_store.append_base", table.append_base)
        table.compact = tracer.wrap("sync.table_store.compact", table.compact)
        table.should_compact = tracer.wrap("sync.table_store.should_compact", table.should_compact)
        table.expire_snapshots = tracer.wrap("sync.table_store.expire", table.expire_snapshots)
        store.upsert = tracer.wrap("sync.checkpoint", store.upsert)
    src = _Source(ctx, log, f"{ctx.work}/events")
    n_batches = WARM_BATCHES + max(1, int(ctx.seconds))
    lat: list[float] = []
    marks: dict[str, float] = {}

    def batches(_resume_from):
        marks["backfill_end"] = time.perf_counter()
        for n in range(n_batches):
            if n == WARM_BATCHES:
                marks["timed"] = time.perf_counter()
            if n and table.should_compact(max_delta_batches=COMPACT_AFTER):
                table.compact()
                if tracer.enabled:
                    tracer.named("sync.table_store.compact")[-1].attrs["bytes"] = _du(table.base_dir)
                table.expire_snapshots(keep_last=2)
            if n >= WARM_BATCHES:
                ctx.host.sample()
            with tracer.span("bench.source"):
                batch_id, df = src.next_df()
            taken = time.perf_counter()
            yield batch_id, df
            lat.append(time.perf_counter() - taken)

    snapshot_df = ctx.spark.read.parquet(f"{ctx.work}/snapshot.parquet")
    sync = CollectionSync(
        ctx.spark, "bench.sync", lambda: snapshot_df, batches, table, store,
        key="doc_id", max_attempts=1,
    )
    with _traced_engine(tracer):
        started = time.perf_counter()
        with tracer.span("sync.engine"):
            sync.run_once()
        stream_end = time.perf_counter()
    ctx.setup_parts["warmup_s"] = marks["timed"] - started
    timed = lat[WARM_BATCHES:]
    reads = _reads(ctx, table, log)

    # -- correctness, outside the timed loop
    expected = expected_final_state(log.rows)
    got = table.snapshot().select("doc_id", "full_doc").toArrow()
    live_docs = got.column("full_doc").to_pylist()
    actual = {k: json.loads(d) for k, d in zip(got.column("doc_id").to_pylist(), live_docs)}
    problems = [] if actual == expected else [f"snapshot != replay ({len(actual)} vs {len(expected)} keys)"]
    problems += _check_reads(expected, reads)
    for p in problems:
        ctx.log(f"sync_trickle: {p}")

    backfill_s = marks["backfill_end"] - started
    figures = {
        "sync.backfill.docs_per_s": N_DOCS / backfill_s,
        "sync.table_store.space_amp": _du(table.path) / sum(len(d.encode()) for d in live_docs),
    }
    ctx.log(
        f"sync_trickle: backfill_s={backfill_s:.3f} commit_s={[round(x, 2) for x in lat]} "
        + ", ".join(f"{r['kind']}={r['s']:.2f}s" for r in reads) + " " + json.dumps(figures)
    )
    layers = {}
    if tracer.enabled:
        layers = _sync_layers(ctx, table, log, lat, reads)
        layers.update(figures)
    return {
        "e2e": {
            "op_p50_s": median(timed),
            "ops_per_s": len(timed) * BATCH_EVENTS / (stream_end - marks["timed"] - ctx.host.spent_s),
        },
        "layers": layers,
        "attempted": 1 + len(lat) + len(reads),
        "failed": len(problems) + sum(1 for r in reads if r.get("error")),
        "correct": not problems,
    }


def _reads(ctx, table, log: ChangeLog) -> list[dict]:
    import numpy as np

    rng = np.random.default_rng(ctx.seed)
    live = sorted(log.live)
    span = len(live) // 100
    out: list[dict] = []
    for i, kind in enumerate(READS):
        rec: dict = {"kind": kind}
        if kind == "lookup":
            key = live[int(rng.integers(0, len(live)))]
            rec["key"] = absent_id(key) if i % 2 else key
        elif kind == "range":
            j = int(rng.integers(0, len(live) - span))
            rec["lo"], rec["hi"] = live[j], live[j + span - 1]
        with ctx.tracer.span(f"sync.table_store.read.{kind}"):
            start = time.perf_counter()
            try:
                if kind == "lookup":
                    rec["rows"] = [tuple(r) for r in table.lookup(rec["key"]).select("doc_id", "full_doc").collect()]
                elif kind == "range":
                    rec["rows"] = [r[0] for r in table.snapshot(lo=rec["lo"], hi=rec["hi"]).select("doc_id").collect()]
                else:
                    table.snapshot().write.mode("overwrite").format("noop").save()
            except Exception as exc:  # a failed read counts against the run, which continues
                rec["error"] = repr(exc)
                ctx.log(f"sync_trickle: {kind} failed: {exc!r}")
            rec["s"] = time.perf_counter() - start
        out.append(rec)
    return out


def _check_reads(expected: dict, reads: list[dict]) -> list[str]:
    keys = sorted(expected)
    bad = 0
    for r in reads:
        if r.get("error") or r["kind"] == "scan":
            continue
        if r["kind"] == "lookup":
            want, rows = expected.get(r["key"]), r["rows"]
            ok = not rows if want is None else len(rows) == 1 and json.loads(rows[0][1]) == want
        else:
            n = bisect.bisect_right(keys, r["hi"]) - bisect.bisect_left(keys, r["lo"])
            ok = len(r["rows"]) == n and all(r["lo"] <= k <= r["hi"] for k in r["rows"])
        bad += not ok
    return [f"{bad} reads returned wrong rows"] if bad else []


def _sync_layers(ctx, table, log, lat, reads) -> dict:
    tr = ctx.tracer
    per = lambda vals: median(vals) if vals else 0.0  # noqa: E731
    apply_spans = tr.named("sync.apply")
    commit_spans = tr.named("sync.table_store.commit")
    engine = tr.named("sync.engine")[0]
    backfills = tr.named("sync.backfill")
    compacts = tr.named("sync.table_store.compact")
    committed = sorted(int(d.split("=")[1]) for d in os.listdir(table.delta_dir) if d.startswith("batch="))
    out = {
        "sync.engine.self_s_per_batch": engine.self_s / len(lat),
        "sync.engine.commit_p50_s": median(lat),
        "sync.engine.commit_p90_s": percentile(lat[WARM_BATCHES:], 90),
        "sync.apply.s_per_batch": per([s.s for s in apply_spans]),
        "sync.apply.self_s_per_batch": per([s.self_s for s in apply_spans]),
        "sync.apply.jobs_per_batch": per([s.all_jobs for s in apply_spans]),
        "sync.table_store.commit.s_per_batch": per([s.s for s in commit_spans]),
        "sync.table_store.commit.jobs_per_batch": per([s.all_jobs for s in commit_spans]),
        "sync.table_store.commit.bytes_per_batch": per([_du(f"{table.delta_dir}/batch={b}") for b in committed]),
        "sync.table_store.commit.files_per_batch": per([_n_parquet(f"{table.delta_dir}/batch={b}") for b in committed]),
        "sync.checkpoint.upsert_s": per([s.s for s in tr.named("sync.checkpoint") if s.parent == engine.sid]),
        "sync.backfill.s": per([s.s for s in backfills]),
        "sync.backfill.jobs": per([s.all_jobs for s in backfills]),
        "sync.backfill.chunks": per(
            [sum(1 for s in tr.named("sync.table_store.append_base") if s.parent == b.sid) for b in backfills]
        ),
        "sync.table_store.compact.count": float(len(compacts)),
        "sync.table_store.compact.s_each": per([s.s for s in compacts]),
        "sync.table_store.compact.jobs": per([s.all_jobs for s in compacts]),
        "sync.table_store.compact.bytes_rewritten": per([s.attrs.get("bytes", 0) for s in compacts]),
        "sync.table_store.compact.should_compact_s": per([s.s for s in tr.named("sync.table_store.should_compact")]),
    }
    for kind in ("lookup", "range", "scan"):
        spans = tr.named(f"sync.table_store.read.{kind}")
        out[f"sync.table_store.read.{kind}_s"] = per([s.s for s in spans])
        out[f"sync.table_store.read.{kind}_jobs"] = per([s.all_jobs for s in spans])
    lookups = [r["key"] for r in reads if r["kind"] == "lookup"]
    opened = sum(len(table.prune_batches(k, k)) for k in lookups)
    holding = sum(b in committed for k in lookups for b in log.batches_with.get(k, ()))
    out["sync.table_store.read.dirs_opened_per_lookup"] = opened / len(lookups)
    out["sync.table_store.read.dirs_holding_key_per_lookup"] = holding / len(lookups)
    return out

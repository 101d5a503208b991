"""Dev tool: where the wall time of a warm CDC commit goes.

Builds a ``sync_trickle``-shaped table in a temp dir (a 50k-document
snapshot as base, then 1,000-event batches from ``perfbench/gen.py``,
imported read-only), applies warm-up batches, then times each of
``--commits`` more ``apply_batch`` calls. Spark writes a local event log
(no UI, no network); after the session stops, each commit's wall time is
split by its jobs' submission and completion times into:

  before   from the call to its first job's submission (driver planning)
  jobs     inside jobs (the union of their intervals)
  between  gaps between jobs (driver work, AQE re-planning)
  after    from the last job's completion to the return (manifest,
           version write)

plus its job and task counts. A commit-path change names the bucket it
moved.

  python tools/commit_profile.py [--commits=8] [--warm=6] [--seed=1] [--cpus=2]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

N_DOCS = 50_000
BATCH_EVENTS = 1_000
MIX = (0.05, 0.20, 0.20)  # insert, delete, replace shares; update is the rest


def _events(log_dir: str) -> list[dict]:
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    paths += sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    out = []
    for path in paths:
        with open(path) as fh:
            out += [json.loads(line) for line in fh]
    return out


def _jobs_by_group(log_dir: str) -> dict[str, list[dict]]:
    """Per job group: each job's submission and completion (epoch s) and
    its completed task count."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1e3, "tasks": 0}
            for sid in ev.get("Stage IDs", ()):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            jobs[stage_job[ev["Stage ID"]]]["tasks"] += 1
    out = defaultdict(list)
    for j in jobs.values():
        out[j["group"]].append(j)
    return out


def _split(t0: float, t1: float, jobs: list[dict]) -> dict:
    """The wall time [t0, t1] split into before / jobs / between / after."""
    merged: list[list[float]] = []
    for j in sorted(jobs, key=lambda j: j["start"]):
        if merged and j["start"] <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], j["end"])
        else:
            merged.append([j["start"], j["end"]])
    row = {"wall": t1 - t0, "jobs_n": len(jobs), "tasks": sum(j["tasks"] for j in jobs)}
    if not merged:
        return dict(row, before=t1 - t0, jobs=0.0, between=0.0, after=0.0)
    inside = sum(e - s for s, e in merged)
    before = max(0.0, merged[0][0] - t0)
    after = max(0.0, t1 - merged[-1][1])
    return dict(row, before=before, jobs=inside, between=max(0.0, row["wall"] - before - inside - after), after=after)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--commits", type=int, default=8)
    ap.add_argument("--warm", type=int, default=6)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=2)
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="commit_profile-")
    log_dir = f"{work}/eventlog"
    os.makedirs(log_dir)
    submit = [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", "spark.eventLog.compress=false",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in submit) + " pyspark-shell"
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")

    import pyarrow.parquet as pq
    from gen import ChangeLog

    from mongodb_iceberg_sync_spark.sources.cdc_feed import CDC_SCHEMA
    from mongodb_iceberg_sync_spark.session import get_spark
    from mongodb_iceberg_sync_spark.sync.apply import apply_batch
    from mongodb_iceberg_sync_spark.sync.table_store import MorTable

    windows = []
    try:
        spark = get_spark(app_name="commit-profile")
        sc = spark.sparkContext
        try:
            log = ChangeLog(args.seed, N_DOCS, *MIX)
            pq.write_table(log.snapshot_table(), f"{work}/snapshot.parquet")
            table = MorTable(spark, f"{work}/table", key="doc_id")
            table.append_base(spark.read.parquet(f"{work}/snapshot.parquet"))
            for n in range(args.warm + args.commits):
                batch_id, events = log.next_batch(BATCH_EVENTS)
                path = f"{work}/events-{batch_id:09d}.parquet"
                pq.write_table(events, path)
                df = spark.read.schema(CDC_SCHEMA).parquet(path)
                group = f"commit-{n}"
                sc.setJobGroup(group, group)
                t0 = time.time()
                apply_batch(table, df, batch_id)
                t1 = time.time()
                sc.setLocalProperty("spark.jobGroup.id", None)
                if n >= args.warm:
                    windows.append((batch_id, group, t0, t1))
        finally:
            spark.stop()  # flushes the event log
        by_group = _jobs_by_group(log_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    cols = ("wall", "before", "jobs", "between", "after")
    print(f"{'batch':>10} " + " ".join(f"{c + '_s':>10}" for c in cols) + f" {'jobs':>5} {'tasks':>6}")
    rows = []
    for batch_id, group, t0, t1 in windows:
        r = _split(t0, t1, by_group.get(group, []))
        rows.append(r)
        print(f"{batch_id:>10} " + " ".join(f"{r[c]:>10.3f}" for c in cols) + f" {r['jobs_n']:>5} {r['tasks']:>6}")
    if not rows:
        return 0
    med = {c: sorted(r[c] for r in rows)[len(rows) // 2] for c in (*cols, "jobs_n", "tasks")}
    print(f"{'median':>10} " + " ".join(f"{med[c]:>10.3f}" for c in cols) + f" {med['jobs_n']:>5} {med['tasks']:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

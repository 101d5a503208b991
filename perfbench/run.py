"""Sync + query benchmark for the engine in this checkout.

    python3 perfbench/run.py --workload sync_trickle --seed 1 --seconds 16 --trace 0

Workloads (BENCHMARK.json says why each exists):

- ``sync_trickle``: backfill a 50k-document snapshot, then a closed loop
  of 1,000-event batches (95% updates/replaces/deletes on uniformly
  random live keys, 5% inserts), with the maintenance policy
  ``should_compact(8) -> compact() + expire_snapshots(keep_last=2)``
  between batches; then one round of lookups, a range and a scan.
- ``query_mix``: pinned registry queries at sf0.01 through the noop sink.

End-to-end metrics (``--trace 0``), the same names on every workload:
``setup_s`` (Spark start + input generation + fixed warm-up),
``peak_rss_mb`` (VmHWM of this process plus the driver JVM), and the
median and rate of the workload's operation: commit latency and CDC
events/s (sync_trickle), per-query time and queries/s (query_mix). The
median and rate are scaled to a nominal host speed (``*_norm_*``; see
``hostspeed.py``): this host's speed drifts more between runs than a
regression bound allows. The raw figures and the host reference go to
stderr and to the traced run's ``trace.*`` metrics. A run times 16
commits or 5 query medians, too few samples for a tail percentile (one
needs ten samples beyond it); the traced run reports the commit p90 as
a per-layer figure.

``--trace 1`` repeats the run with spans around every layer call and
prints the per-layer metrics instead; layers a workload never calls read
0. The ``trace.*`` figures are the traced run's own end-to-end numbers,
so their ratio to an untraced run of the same seed is the tracing
overhead (``perfbench/overhead.py`` prints it).

Inputs come from ``--seed`` (numpy/pyarrow, no Spark jobs); outputs are
checked against a sequential replay of the change log (sync) or the
DuckDB oracle SQL (queries) outside the timed loops. Everything the run
writes lives under ``.perfbench_work/`` in the checkout and is removed
at exit. The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("sync_trickle", "query_mix")
DRIVER_MEMORY = "1g"  # heap for the local driver JVM, sized for a shared 15 GB host
TIME_LIMIT_S = 170  # a run that has not finished by then stops and fails


class Ctx:
    """What a workload needs: its inputs' seed, the run length, a scratch
    directory, the session and the tracer. Workloads record their set-up
    phases in ``setup_parts``."""

    def __init__(self, args, spark, tracer, host):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = WORK
        self.spark = spark
        self.tracer = tracer
        self.host = host  # sampled before every timed operation
        self.setup_parts: dict[str, float] = {}

    @staticmethod
    def log(msg: str) -> None:
        print(f"# {msg}", file=sys.stderr, flush=True)


def spark_cpus() -> int:
    """Half the cores: Spark's task threads get one half, the driver-side
    planning, JIT compiler and GC threads and this process the other.
    With a task thread on every core, those compete with the tasks and
    run-to-run timings on a shared host spread far wider."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _spark_env(trace: bool) -> dict:
    """Spark sizing and scratch locations, set from outside the engine
    (its session factory reads them) and echoed in the output."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(f"{WORK}/{d}", exist_ok=True)
    submit = [
        "--conf", f"spark.sql.warehouse.dir={WORK}/warehouse",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={WORK}/tmp",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", f"spark.eventLog.dir=file://{WORK}/eventlog",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": f"{WORK}/spark-local",
        "TMPDIR": f"{WORK}/tmp",
        # every JVM, the launcher's too: no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit) + " pyspark-shell",
    }
    os.environ.update(env)
    return env


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits when
    its stdin, held by this process, closes)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _children() -> list[int]:
    """Pids of this process's direct children (the driver JVM and any
    helper it was launched through)."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as fh:
                # field 4, after the parenthesised command name
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == me:
                    out.append(int(d))
        except (OSError, ValueError, IndexError):
            continue
    return out


def _kill_children() -> None:
    for pid in _children():
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def _abort(signum, _frame):
    raise RuntimeError(f"run stopped by signal {signum} (time limit {TIME_LIMIT_S}s)")


def run(args, spec: dict) -> dict:
    env = _spark_env(bool(args.trace))
    print("# config " + json.dumps({k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")}), flush=True)
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    from mongodb_iceberg_sync_spark.session import get_spark

    from hostspeed import HostSpeed
    from tracing import Tracer, event_log_bytes, jvm_pid, vm_hwm_mb

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    ctx = Ctx(args, spark, Tracer(spark, bool(args.trace)), HostSpeed())
    ctx.setup_parts["spark_start_s"] = time.perf_counter() - t0
    try:
        if args.workload == "query_mix":
            from query_workload import run_query_mix

            out = run_query_mix(ctx)
        else:
            from sync_workloads import run_sync

            out = run_sync(ctx)
        rss_parts = {"python": vm_hwm_mb(), "jvm": vm_hwm_mb(jvm_pid(spark))}
    finally:
        _stop(spark)
    setup = ctx.setup_parts
    raw = out["e2e"]
    factor = ctx.host.factor()
    e2e = {
        "setup_s": sum(setup.values()),
        "peak_rss_mb": sum(rss_parts.values()),
        "op_p50_norm_s": raw["op_p50_s"] * factor,
        "ops_per_norm_s": raw["ops_per_s"] / factor,
    }
    ctx.log("set-up " + json.dumps({k: round(v, 3) for k, v in setup.items()}))
    ctx.log("peak rss MiB " + json.dumps({k: round(v, 1) for k, v in rss_parts.items()}))
    ctx.log("end-to-end " + json.dumps({k: round(v, 4) for k, v in e2e.items()}))
    ctx.log(f"raw {json.dumps({k: round(v, 4) for k, v in raw.items()})}, host reference {ctx.host.ref_s():.5f} s")
    if args.trace:
        layers = {f"session.{k}": v for k, v in setup.items()}
        layers.update(out["layers"])
        group_bytes = event_log_bytes(f"{WORK}/eventlog")
        for name, per in out.get("bytes_layers", {}).items():
            spans = ctx.tracer.named(name)
            for kind in ("shuffle_bytes", "spill_bytes"):
                total = sum(group_bytes.get(f"pb{s.sid}", {}).get(kind, 0) for s in spans)
                layers[f"{name}.{kind}"] = total / per
        layers["trace.op_p50_s"] = raw["op_p50_s"]
        layers["trace.ops_per_s"] = raw["ops_per_s"]
        layers["trace.op_p50_norm_s"] = e2e["op_p50_norm_s"]
        layers["trace.ops_per_norm_s"] = e2e["ops_per_norm_s"]
        layers["trace.host_ref_s"] = ctx.host.ref_s()
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], e2e
    return {
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mongodb_iceberg_sync_spark")):
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path.insert(0, HERE)
    shutil.rmtree(WORK, ignore_errors=True)
    signal.signal(signal.SIGALRM, _abort)
    signal.signal(signal.SIGTERM, _abort)
    signal.alarm(TIME_LIMIT_S)
    try:
        result = run(args, spec)
    except Exception:  # report and fail the run; the result line is never printed
        traceback.print_exc()
        _kill_children()
        return 1
    finally:
        signal.alarm(0)
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

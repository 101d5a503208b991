"""Tests of the benchmark itself.

    python3 -m pytest perfbench/ -q -p no:cacheprovider

The end-to-end tests start Spark (about a minute per run, five runs);
the generator and hash tests do not.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import ChangeLog, absent_id, query_tables  # noqa: E402
from hostspeed import NOMINAL_S, HostSpeed  # noqa: E402
from query_workload import value_hash  # noqa: E402
from spread import ROOT, run_once  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SECONDS = 1  # the shortest run: one timed batch, read cycle or query pass

_runs: dict[tuple, dict] = {}


def bench(workload: str, trace: int, seed: int = 3, rep: int = 0) -> dict:
    key = (workload, trace, seed, rep)
    if key not in _runs:
        _runs[key] = run_once(workload, seed, SECONDS, trace)
    return _runs[key]


# -- inputs ------------------------------------------------------------


def test_change_log_is_deterministic_and_replayable():
    from mongodb_iceberg_sync_spark.sources.cdc_feed import expected_final_state

    a, b = ChangeLog(5, 2_000, 0.05, 0.2, 0.2), ChangeLog(5, 2_000, 0.05, 0.2, 0.2)
    for _ in range(3):
        assert a.next_batch(500)[1].equals(b.next_batch(500)[1])
    state = expected_final_state(a.rows)
    assert sorted(state) == sorted(a.live)
    assert all(absent_id(k) not in state for k in a.live)
    assert a.keys == sorted(a.keys)  # ObjectId order is insertion order


def test_query_tables_are_deterministic():
    a, b = query_tables(9, 0.001), query_tables(9, 0.001)
    assert all(a[n].equals(b[n]) for n in a)
    assert not query_tables(10, 0.001)["lineitem"].equals(a["lineitem"])


def test_value_hash_ignores_row_and_column_order():
    rows = [(1, "x", 0.1 + 0.2), (2, "y", None)]
    assert value_hash(["a", "b", "c"], rows) == value_hash(
        ["c", "a", "b"], [(r[2], r[0], r[1]) for r in reversed(rows)]
    )
    assert value_hash(["a"], [(1,)]) != value_hash(["a"], [(2,)])


def test_host_speed_scales_by_the_median_reference_sample():
    host = HostSpeed()
    assert host.factor() == 1.0  # no samples: no scaling
    for _ in range(3):
        host.sample()
    assert len(host.samples) == 3 and host.spent_s > sum(host.samples)
    assert host.factor() == NOMINAL_S / sorted(host.samples)[1]


# -- end to end --------------------------------------------------------


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    res = bench(workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    res = bench(workload, 1)
    assert res["correct"] and res["failed"] == 0
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["session.spark_start_s"] > 0 and m["trace.op_p50_s"] > 0
    if workload == "query_mix":
        assert m["operators.graph.jobs_per_query"] > 0 and m["sync.apply.s_per_batch"] == 0
    else:
        assert m["sync.apply.jobs_per_batch"] > 0 and m["operators.graph.s"] == 0
        assert m["sync.backfill.chunks"] >= 1


EXACT_COUNTS = (
    "sync.apply.jobs_per_batch",
    "sync.table_store.commit.jobs_per_batch",
    "sync.table_store.read.lookup_jobs",
    "sync.table_store.read.scan_jobs",
    "sync.table_store.read.dirs_opened_per_lookup",
    "sync.table_store.read.dirs_holding_key_per_lookup",
)


def test_exact_counts_repeat_across_traced_runs_of_one_seed():
    a, b = bench("sync_trickle", 1), bench("sync_trickle", 1, rep=1)
    for name in EXACT_COUNTS:
        assert a["metrics"][name]["value"] == b["metrics"][name]["value"], name
    assert a["metrics"]["sync.table_store.read.scan_jobs"]["value"] > 0


@pytest.mark.xfail(
    strict=True,
    reason="sync/apply.py's apply_batch docstring says 'Exactly two Spark jobs "
    "per batch'; the traced run measures 11 (reported, not fixed here)",
)
def test_apply_batch_runs_two_jobs_as_documented():
    jobs = bench("sync_trickle", 1)["metrics"]["sync.apply.jobs_per_batch"]["value"]
    print(f"measured sync.apply.jobs_per_batch = {jobs}")
    assert jobs == 2

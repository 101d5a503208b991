"""The runnable examples must stay runnable — they are the repo's
human-facing tour and rot silently otherwise. Each runs in a
subprocess at the smallest SF."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(args, timeout=420):
    return subprocess.run(
        [sys.executable, *args],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


def test_lakehouse_maintenance_example(tmp_path):
    r = _run(["examples/lakehouse_maintenance.py", str(tmp_path / "lake")])
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "OK" in r.stdout


def test_analyst_reporting_example():
    r = _run(["examples/analyst_reporting.py", "/root/testdata/sf0.001"])
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "OK" in r.stdout


def test_cli_sync_demo(tmp_path):
    # the CLI's sync demo: two concurrent CollectionSyncs, each checked
    # against the sequential replay and its SyncMetrics event count
    r = _run(
        [
            "-m",
            "mongodb_iceberg_sync_spark",
            "-c",
            "examples/sync-config.yaml",
            "--demo",
            str(tmp_path / "demo"),
        ]
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    import json as _json

    line = [l for l in r.stdout.splitlines() if '"demo_ok"' in l][-1]
    out = _json.loads(line)
    assert out["demo_ok"] is True
    assert len(out["syncs"]) == 2 and all(s["ok"] for s in out["syncs"])


def test_cli_stream_demo_wap_quarantine(tmp_path):
    # the CLI's streaming demo: stage->audit->publish per micro-batch,
    # poisoned batch aborted wholesale into the dead-letter quarantine
    r = _run(
        [
            "-m",
            "mongodb_iceberg_sync_spark",
            "-c",
            "examples/sync-config.yaml",
            "--demo-stream",
            str(tmp_path / "stream_demo"),
        ]
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    import json as _json

    line = [l for l in r.stdout.splitlines() if '"stream_demo_ok"' in l][-1]
    out = _json.loads(line)
    assert out["stream_demo_ok"] is True
    assert out["published_batches"] == 3
    assert out["quarantined_rows"] == 7
    assert out["quarantine_reasons"] == ["audit_failed"]
    assert out["staging_leftovers"] == []


def test_model_eval_report_example():
    r = _run(["examples/model_eval_report.py", "/root/testdata/sf0.001"])
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "== ranking ==" in r.stdout and "== retrieval ==" in r.stdout

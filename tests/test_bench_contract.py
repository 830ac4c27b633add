"""Driver-contract pin for bench.py: ONE JSON line on stdout with the
required keys, Spark noise only on stderr, exit 0."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.timeout(560)
def test_bench_emits_single_json_line(tmp_path):
    # the full record goes to tmp: a smoke run must not replace the
    # tracked BENCH/last_run.json
    record = str(tmp_path / "last_run.json")
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
               SPARK_GRAFT_CPUS="8", OCR_BENCH_RECORD=record)
    out = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py")],
                         capture_output=True, text=True, cwd=ROOT,
                         timeout=540, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [ln for ln in out.stdout.strip().splitlines() if ln.strip()]
    assert len(lines) == 1, f"stdout must be ONE JSON line, got {len(lines)}"
    payload = json.loads(lines[0])
    assert {"metric", "value", "unit", "queries", "sf"} <= set(payload)
    assert payload["unit"] == "sec"
    assert payload["sf"] == 0.001
    assert payload["value"] > 0
    assert all(v >= 0 for v in payload["queries"].values())
    # the driver keeps only the last 2,000 chars of stdout: the line must
    # stay comfortably inside that window (r04's 3,057-char line was
    # silently truncated and recorded parsed=null)
    assert len(lines[0]) <= 1500, f"stdout line too long: {len(lines[0])}"
    # the FULL per-query record must land in the record file and
    # superset the stdout line's stable subset
    full = json.load(open(record))
    assert set(payload["queries"]) <= set(full["queries"])
    assert len(full["queries"]) >= len(payload["queries"])
    assert full["value"] == payload["value"]

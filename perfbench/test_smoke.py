"""Smoke test of the benchmark itself: a tiny seed-generated night and the
sf0.001 analytics, each in its own process, as the benchmark command runs.

    python3 -m pytest -q perfbench/test_smoke.py

Asserts that every metric BENCHMARK.json names is printed with its unit,
that the context block carries every end-to-end figure, and that the
correctness gate passes (no failed job, no oracle mismatch).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
CONTEXT = ("setup_s", "first_pass_s", "pass_s", "job_s.p50", "job_s.tail",
           "failed_ratio", "peak_rss_mb")


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]);"
        "from perfbench import run;"
        f"run.run({workload!r}, 5, 0, bool({trace}), size='smoke')"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code, ROOT], cwd=ROOT, capture_output=True,
        text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


@pytest.mark.parametrize("workload,trace", [
    ("elt_nightly", 1), ("curation_graph", 0), ("warehouse_sql", 1),
])
def test_metrics_print_and_gate_passes(workload, trace):
    context, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, context
    assert result["attempted"] >= 1
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    if trace:
        assert "trace.overhead_s" in result["metrics"]
    text = "\n".join(context)
    for name in CONTEXT:
        assert f"# {name} " in text, name
    if workload == "elt_nightly":
        for name in ("refresh_job_s", "incremental_job_s", "read_s"):
            assert f"# {name} " in text, name
        layers = result["metrics"]
        assert layers["sources.rest.api_calls"]["value"] > 0
        assert layers["ops.validate.rows_quarantined"]["value"] > 0
        assert layers["sinks.versioned.files_added"]["value"] > 0
    if workload == "warehouse_sql":
        assert result["metrics"]["queries.exec_jobs"]["value"] > 0

"""Smoke test of the benchmark: every workload, a few requests at sf0.001.

    python3 -m pytest perfbench/tests -q

Each workload runs once traced (the result line carries the per-layer
metrics, the line before it the end-to-end ones); one workload also
runs untraced to check the result line's end-to-end form.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
DATA = os.path.expanduser("~/testdata")
WORKLOADS = ("tpch_headline", "segment_scan", "broker_serve", "segment_ingest")

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
    BENCHMARK = json.load(f)

# every end-to-end metric each workload reports, with its unit
E2E = {
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "requests_per_s": "1/s",
    "error_rate": "ratio",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
ROWS_PER_S = {"segment_scan", "segment_ingest"}

pytestmark = pytest.mark.skipif(
    not os.path.isdir(os.path.join(DATA, "sf0.001")), reason="no sf0.001 test data"
)


def run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--data-dir", DATA, "--tpch-scale", "sf0.001",
         "--segment-scale", "sf0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["perfbench"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_metric(workload):
    details, result = run(workload, trace=1)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    e2e = details["end_to_end"]
    for name, unit in E2E.items():
        assert e2e[name]["unit"] == unit, name
    assert e2e["error_rate"]["value"] == 0
    tail = e2e["latency_tail_ms"]
    assert {"level", "samples", "samples_beyond"} <= set(tail)
    if workload in ROWS_PER_S:
        assert e2e["rows_per_s"]["unit"] == "rows/s"
    if workload == "segment_ingest":
        assert details["bytes_per_user_byte"]["unit"] == "ratio"
    if workload == "broker_serve":
        assert details["ingest_probe"]["bytes_per_user_byte"]["unit"] == "ratio"
    want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert set(details["layer_tags"]) == set(want)
    assert "tracing_overhead" in details and details["self_ms_per_request"]
    assert details["host"]["anchors"]["anchor_seconds"] > 0


def test_untraced_result_line_holds_the_end_to_end_metrics():
    details, result = run("segment_scan", trace=0)
    want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    host = details["host"]
    assert {"SPARK_GRAFT_CPUS", "affinity_cpus", "default_parallelism",
            "pyspark", "pyarrow", "git_commit"} <= set(host)
    fixture = details["fixture"]
    assert {"segments", "rows_per_segment", "bytes_on_disk", "lz4_block_ratio",
            "source_fingerprint"} <= set(fixture)


def test_without_the_program_the_benchmark_fails_without_a_result(tmp_path):
    """Run from a directory holding only the benchmark."""
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (bench_dir / name).write_bytes(
                open(os.path.join(ROOT, "perfbench", name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "segment_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

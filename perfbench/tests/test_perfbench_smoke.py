"""Smoke mode: each workload once, tiny input, tracing on, every output checked.

Runs the benchmark the way BENCHMARK.json declares it, as a subprocess from
the repository root, so it also proves that the result line follows the
declared metric lists.
"""

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# per-layer metrics each workload must load (non-zero on its own run)
OWN = {
    "global_build": [
        "scan.rows",
        "arrow.bytes_to_py",
        "shuffle.records",
        "build.partial_rows",
        "build.partial_blob_bytes",
        "build.fold_s",
        "files_build.shuffle.records",
        "jvm_build.arrow.bytes_to_py",
    ],
    "grouped_build": [
        f"grouped.{kind}.{m}"
        for kind in ("hll", "kll", "cms", "theta", "generic")
        for m in ("py_time_s", "out_rows", "blob_bytes", "jobs", "shuffle_records")
    ],
    "probe_serve": [
        "probe.bcast_probe.bytes_to_py_per_row",
        "probe.join_probe.bytes_to_py_per_row",
        "probe.join_lookup.bytes_to_py_per_row",
        "probe.broadcast_bytes",
        "freeze.blob_bytes",
        "freeze.build_s",
        "semijoin.survivor_ratio",
    ],
}


def _run(*args, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run_is_correct_and_emits_every_per_layer_metric(workload):
    proc = _run("--workload", workload, "--seed", "7", "--smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    metrics = result["metrics"]
    assert [m["name"] for m in SPEC["per_layer"]] == list(metrics)
    for m in SPEC["per_layer"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
    for name in OWN[workload] + ["spark.jobs", "spark.tasks", "kernel.hll.update_ns"]:
        assert metrics[name]["value"] > 0, name
    if workload == "probe_serve":
        # today's join path ships a shard blob with every probe row; the
        # broadcast op ships the key alone
        per_row = {op: metrics[f"probe.{op}.bytes_to_py_per_row"]["value"] for op in
                   ("bcast_probe", "join_probe", "join_lookup")}
        assert per_row["join_probe"] > per_row["bcast_probe"]
        assert per_row["join_lookup"] > per_row["bcast_probe"]


"""Every workload end to end at toy size: generation, a traced repetition,
event-log parsing and the output checks."""

import json
import subprocess
import sys
from pathlib import Path

import workloads

ROOT = Path(__file__).resolve().parents[2]


#: layers every dedup run passes through
PPRL_LAYERS = ("sources", "pipeline.collapse", "encoding", "blocking.hlsh",
               "blocking.fps", "matching", "clustering", "pipeline.expand")


def test_smoke_runs_every_workload():
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke"], cwd=ROOT,
        capture_output=True, text=True, timeout=170)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] == len(workloads.WORKLOADS)
    reports = {}
    for line in lines:
        if line.startswith("# smoke "):
            _, _, name, body = line.split(" ", 3)
            reports[name] = json.loads(body)["metrics"]
    assert sorted(reports) == sorted(workloads.WORKLOADS)
    for m in reports.values():
        assert sorted(m) == sorted(workloads.per_layer_units())
        assert m["trace.coverage"] >= 0.95

    dedup = reports["dedup_repos_small"]
    for layer in PPRL_LAYERS:
        assert dedup[f"{layer}.jobs"] >= 1, layer
        assert dedup[f"{layer}.wall_s"] > 0, layer
    assert dedup["ops.dedup.jobs"] == 0
    # the accumulable's name and its millisecond unit: encoding runs one
    # Python operator per stage, so its worker time lies within task time,
    # and the encode tasks spend most of their time waiting on Python
    assert 0.25 * dedup["encoding.task_s"] <= dedup["encoding.python_s"] \
        <= dedup["encoding.task_s"]
    # one 4,096-bit CLK per record comes back from the encode UDF
    assert dedup["encoding.python_mb"] >= dedup["encoding.rows_out"] * 512 / 1e6
    for layer in ("blocking.hlsh", "matching"):
        assert dedup[f"{layer}.python_s"] > 0, layer
        assert dedup[f"{layer}.python_mb"] > 0, layer
    assert dedup["blocking.fps.rows_out"] >= dedup["matching.rows_out"] > 0

    docs = reports["docs_minhash"]
    assert docs["ops.dedup.jobs"] >= 1
    assert docs["ops.dedup.shuffle_mb"] > 0
    assert docs["ops.dedup.rows_out"] > docs["sources.rows_out"]
    assert all(docs[f"{layer}.jobs"] == 0 for layer in PPRL_LAYERS[1:])


def test_no_result_without_the_library(tmp_path):
    """A directory holding only the benchmark must fail fast, printing nothing."""
    import shutil

    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "docs_minhash",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""

"""Smoke test of the benchmark itself at sf0.001-sized inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names is printed with its unit (both
modes), that a deliberately corrupted output trips the correctness gate, and
that the command fails cleanly where the program is absent.  Each case
starts one local Spark session (about half a minute each).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(*args, cwd=ROOT, tmp_path=None):
    cmd = [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1",
           "--scale", "tiny", *args]
    if tmp_path is not None:
        cmd += ["--spans", str(tmp_path / "spans.json")]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def result(proc):
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_metrics(proc, specs):
    out = result(proc)
    assert set(out["metrics"]) == {m["name"] for m in specs}
    for m in specs:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        # the human-readable report names each metric with its unit too
        assert any(line.split()[:1] == [m["name"]]
                   and line.split()[-1] == m["unit"]
                   for line in proc.stdout.splitlines()), m["name"]
    return out


def test_end_to_end_metrics_and_gate(tmp_path):
    proc = run("--workload", "pages_50k", "--trace", "0", tmp_path=tmp_path)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = assert_metrics(proc, SPEC["end_to_end"])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert all(out["metrics"][m]["value"] > 0 for m in out["metrics"])


def test_per_layer_metrics_on_resume(tmp_path):
    proc = run("--workload", "resume", "--trace", "1", tmp_path=tmp_path)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = assert_metrics(proc, SPEC["per_layer"])
    assert out["correct"]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["checkpoint.run_s"] > 0 and m["checkpoint.files"] > 0
    assert 0 < m["checkpoint.skip_ratio"] < 1
    assert m["extract.ok_ratio"] == 1.0
    spans = json.loads((tmp_path / "spans.json").read_text())["spans"]
    layers = {s["layer"] for s in spans}
    assert {"checkpointing", "operators.extract", "operators.entities",
            "operators.graph"} <= layers
    assert all(s["end"] >= s["start"] for s in spans)


def test_corrupted_output_fails_the_gate(tmp_path):
    proc = run("--workload", "pages_50k", "--trace", "0", "--corrupt",
               tmp_path=tmp_path)
    assert proc.returncode == 1
    out = result(proc)
    assert out["correct"] is False and out["failed"] == 1


def test_fails_without_the_program(tmp_path):
    (tmp_path / "perfbench").mkdir()
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for f in (ROOT / "perfbench").glob("*.py"):
        shutil.copy(f, tmp_path / "perfbench")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "resume", "--seed",
         "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

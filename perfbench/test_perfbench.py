"""Self-test of the benchmark at tiny input sizes.

Run from the repository root::

    python3 -m pytest perfbench -q

Each workload runs at self-test size (``--tiny``: sf0.001-sized tables,
a 0.02x corpus, a 1.5k-row DML table), untraced and traced. Every
metric ``BENCHMARK.json`` names must come out with its unit, no op may
fail, and the traced run's op spans must account for each pass's wall
time up to the gaps between ops.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-4000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        with open(os.path.join(HERE, ".scratch", "traces", f"{workload}-seed7.json")) as f:
            spans = json.load(f)["spans"]
        traced = [s for s in spans if s["name"] == "pass" and s["traced"]]
        assert traced
        for p in traced:
            ops = sorted((s for s in spans if s["parent"] == p["id"]), key=lambda s: s["start"])
            assert ops and all(s["name"] == "op" for s in ops)
            # Ops run one after another inside their pass; what the op
            # spans leave uncovered is the time between ops.
            bounds = [p["start"]] + [t for s in ops for t in (s["start"], s["end"])] + [p["end"]]
            assert bounds == sorted(bounds), "op spans overlap or leave their pass"
            gaps = sum(b - a for a, b in zip(bounds[::2], bounds[1::2]))
            assert gaps < 0.25 * (p["end"] - p["start"]), "gaps between ops dominate the pass"


def test_without_the_engine_exits_nonzero_without_a_result():
    bare = os.path.join(HERE, ".scratch", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__", ".scratch"))
        out = _run(bare, SPEC["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert out.returncode != 0
    assert "metrics" not in out.stdout

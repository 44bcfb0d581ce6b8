"""Self-test of the benchmark at sf 0.001.

Runs every workload once untraced and once traced, pins the metric
names and units of the result line to BENCHMARK.json, and checks that
no run leaves a process behind. Run from the repository root (about
three minutes on four cores):

    python3 -m pytest perfbench/test_selftest.py -q
"""

from __future__ import annotations

import contextlib
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


PR_SET_CHILD_SUBREAPER = 36
# Adopt the orphans of the runs started here: a process a run leaves
# behind then stays a child of this one, a zombie if it has ended since,
# so it is found however soon after the run it ends.
ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> set[int]:
    me, kids = os.getpid(), set()
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        kids.add(int(name))
            except OSError:
                continue
    return kids


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    before = _children()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    left = _children() - before
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
        os.waitpid(pid, 0)
    assert not left, "the run left processes behind"
    return proc


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_reports_every_metric(workload: str, trace: int) -> None:
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, detail["problems"]
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert detail["failed_ratio"] == 0.0
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    assert detail["fingerprint_recorded"], "no fingerprint recorded for sf 0.001 seed 1"
    for key in ("nproc", "st_probe_s", "mt_probe_s", "loadavg_before", "loadavg_after"):
        assert key in detail["host"]


def test_fails_without_the_library() -> None:
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(bare, SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

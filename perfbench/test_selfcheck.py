"""Self-check of the benchmark at its tiny input size.

    python3 -m pytest perfbench/test_selfcheck.py -q

Each case starts ``run.py`` in a subprocess (one Spark JVM each, about a
minute apiece on 4 cores). It asserts that every metric BENCHMARK.json
declares is printed with its unit on every workload, that an injected
wrong answer is caught by the oracle gate (so the gate is not
vacuous), that the benchmark refuses to run without the engine, and
that no process a run starts is still running after it.
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
    BENCH = json.load(f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def session_procs(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # state, ppid, pgrp, session
            out.append(int(name))
    return out


def run(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    """One run in a session of its own; no process of it may outlive it."""
    args = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
            "--workload", workload, "--seed", "7", "--seconds", "1",
            "--size", "tiny", *extra]
    with subprocess.Popen(args, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, start_new_session=True) as p:
        out, err = p.communicate(timeout=600)
    assert session_procs(p.pid) == [], "processes left running after the run"
    return subprocess.CompletedProcess(args, p.returncode, out, err)


def lines(proc: subprocess.CompletedProcess) -> list[dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]


def assert_declared(result: dict, section: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    for m in BENCH[section]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    assert len(result["metrics"]) == len(BENCH[section])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics_printed_with_units(workload):
    out = lines(run(workload))
    result, report = out[-1], out[-2]["report"]
    assert_declared(result, "end_to_end")
    assert result["correct"] and result["failed"] == 0
    assert all(result["metrics"][m["name"]]["value"] > 0 for m in BENCH["end_to_end"])
    assert all("unit" in v for v in report.values())
    assert report["failed_frac"]["value"] == 0.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_reports_every_layer_metric(workload):
    out = lines(run(workload, "--trace", "1"))
    assert_declared(out[-1], "per_layer")
    assert out[-1]["correct"]
    m = out[-1]["metrics"]
    # the top-level spans cover the timed wall clock
    wall, spans = m["trace.timed_wall_s"]["value"], m["trace.top_level_spans_s"]["value"]
    assert abs(wall - spans) <= 0.05 * wall


def test_injected_wrong_answer_is_counted():
    out = lines(run(WORKLOADS[0], "--inject-wrong"))
    result, report = out[-1], out[-2]["report"]
    assert result["failed"] == 1 and not result["correct"]
    assert report["failed_frac"]["value"] > 0
    assert result["metrics"]["ok_frac"]["value"] < 1.0


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = run(WORKLOADS[0], cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not [x for x in proc.stdout.splitlines() if x.startswith("{")]

#!/usr/bin/env python3
"""Fast self-test of the benchmark (about eight minutes on four cores).

    python3 perfbench/selftest.py

Runs every workload at sf0.001 with the fewest passes, untraced and traced,
and asserts that:

- every metric BENCHMARK.json names is printed by name with its unit, and the
  last line's metrics are exactly those names with those units;
- nothing failed (``fail_frac`` 0) and the result is ``correct``;
- the traced layers' self times add up to the traced pass's wall time, and
  the leaf layers (construct, plan, execute) cover all of it but
  ``COVERAGE_TOLERANCE``;
- no process carrying a benchmark marker survives any run, including a run
  interrupted with SIGTERM and one killed with SIGKILL;
- ``git status`` is the same before and after;
- in a directory holding only BENCHMARK.json and the benchmark's files, the
  command fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

#: Largest share of a traced pass's wall time that construct, plan and
#: execute spans may leave uncovered (the rest is tracing bookkeeping).
COVERAGE_TOLERANCE = 0.05

RUN = [sys.executable, os.path.join(HERE, "run.py")]


def git_status() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    return subprocess.run(
        ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout


def check_run(workload: str, trace: int, expected: dict[str, str]) -> list[str]:
    cmd = RUN + ["--workload", workload, "--seed", "1", "--seconds", "0",
                 "--trace", str(trace), "--scale", "sf0.001"]
    cp = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    where = f"{workload} trace={trace}"
    if cp.returncode != 0:
        return [f"{where}: exit {cp.returncode}\n{cp.stderr[-2000:]}"]
    lines = cp.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    problems = []
    for name, unit in expected.items():
        if not any(ln.split()[:1] == [name] and f" {unit}" in ln for ln in lines[:-1]):
            problems.append(f"{where}: {name} not printed with unit {unit}")
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        problems.append(f"{where}: metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(expected))}")
    if result["failed"] or not result["correct"] or result["attempted"] < 1:
        problems.append(f"{where}: failed {result['failed']} of {result['attempted']}\n{cp.stderr[-2000:]}")
    if trace:
        m = {k: v["value"] for k, v in result["metrics"].items()}
        layers = ("queries.construct_s", "plan.plan_s", "exec.collect_s",
                  "trace.key_self_s", "trace.pass_self_s")
        total = sum(m[k] for k in layers)
        if abs(total - m["trace.pass_wall_s"]) > 1e-6 * max(1.0, total):
            problems.append(f"{where}: self times sum to {total}, pass wall {m['trace.pass_wall_s']}")
        if m["trace.coverage"] < 1 - COVERAGE_TOLERANCE:
            problems.append(f"{where}: layers cover only {m['trace.coverage']:.3f} of the pass")
    if procs.live_pids():
        problems.append(f"{where}: processes survived: {procs.live_pids()}")
    return problems


def check_interrupted(sig: int) -> list[str]:
    """Start a run, wait until its JVM is up, send ``sig`` to the benchmark
    process and check that every process of the run is gone."""
    cmd = RUN + ["--workload", "olap_sf0.1", "--seed", "1", "--seconds", "0",
                 "--trace", "0", "--scale", "sf0.001"]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    try:
        deadline = time.monotonic() + 90
        while time.monotonic() < deadline and not any(
            procs.child_pids(p, "java") for p in procs.live_pids()
        ):
            time.sleep(0.5)
        proc.send_signal(sig)
        out, _ = proc.communicate(timeout=60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    problems = []
    if proc.returncode == 0 or out.strip():
        problems.append(f"signal {sig}: exit {proc.returncode}, printed {out[-200:]!r}")
    deadline = time.monotonic() + 30
    while procs.live_pids() and time.monotonic() < deadline:
        time.sleep(0.5)
    if procs.live_pids():
        problems.append(f"signal {sig}: processes survived: {procs.live_pids()}")
    return problems


def check_bare_directory() -> list[str]:
    """The command must fail, printing no result, where only the benchmark's
    own files exist."""
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        cp = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "olap_sf0.1", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
            env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        )
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if cp.returncode == 0 or cp.stdout.strip():
        return [f"bare directory: exit {cp.returncode}, printed {cp.stdout[-200:]!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    expected = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    before = git_status()
    problems = check_bare_directory()
    for workload in WORKLOADS:
        for trace in (0, 1):
            problems += check_run(workload, trace, expected[trace])
    problems += check_interrupted(signal.SIGTERM)
    problems += check_interrupted(signal.SIGKILL)
    if git_status() != before:
        problems.append("git status changed")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest", "failed" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""The repo benchmark: run one workload in a fresh driver process and print
its end-to-end metrics (or, with ``--trace 1``, its per-layer metrics).

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

The driver (``worker.py``) runs in its own process group, pinned to at most
four cores, with every scratch directory inside a per-run directory under
``.perfbench/`` that is removed at exit. After the driver ends, the group is
killed and reaped and /proc is scanned for any process still carrying the
run's marker; a survivor fails the run. Outputs are checked outside the
timed region: the cold pass against each key's DuckDB oracle, every other
pass against the cold pass's digest. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
from workloads import CURATION, WORKLOADS  # noqa: E402

#: The driver is pinned to at most this many cores (the engine's reference
#: host has four) and asked for exactly as many Spark cores.
MAX_CORES = 4

#: A run ends within this many seconds, the driver's grace period included.
RUN_DEADLINE_S = 170.0

END_TO_END_UNITS = {
    "setup_s": "s",
    "warm_pass_cpu_s": "s",
}

#: Every key any workload runs; each gets a ``jit.cold_minus_warm_s.<key>``.
ALL_KEYS = sorted({k for w in WORKLOADS.values() for k in w.keys})

CURATION_STAGES = (
    "raw", "quality", "exact_dedup", "fuzzy_dedup_build", "fuzzy_dedup",
    "decontaminated", "curated",
)

#: Per-layer counters summed over a traced pass -> (metric name, unit).
LAYER_COUNTERS = {
    "construct_s": ("queries.construct_s", "s"),
    "py4j_calls": ("queries.py4j_calls", "count"),
    "driver_jobs": ("queries.driver_jobs", "count"),
    "plan_s": ("plan.plan_s", "s"),
    "collect_s": ("exec.collect_s", "s"),
    "jobs": ("exec.jobs", "count"),
    "stages": ("exec.stages", "count"),
    "tasks": ("exec.tasks", "count"),
    "rows_scanned": ("exec.rows_scanned", "count"),
    "shuffle_bytes": ("exec.shuffle_bytes", "bytes"),
    "spill_bytes": ("exec.spill_bytes", "bytes"),
    "python_boot_s": ("arrow.python_boot_s", "s"),
    "python_total_s": ("arrow.python_total_s", "s"),
    "bytes_sent": ("arrow.bytes_sent", "bytes"),
    "bytes_received": ("arrow.bytes_received", "bytes"),
    "stream_start_s": ("streaming.start_s", "s"),
    "stream_await_s": ("streaming.await_s", "s"),
    "stream_batches": ("streaming.batches", "count"),
    "key_self_s": ("trace.key_self_s", "s"),
    "pass_self_s": ("trace.pass_self_s", "s"),
}


#: Counters also reported for the cold pass (``<name>.cold``): the layers
#: whose first-use cost a fresh process pays once.
COLD_COUNTERS = ("construct_s", "driver_jobs", "plan_s", "collect_s", "python_boot_s")


def _on_signal(signum, _frame):
    raise SystemExit(128 + signum)


def spawn_driver(args, wl, sf_dir: str, run_dir: str, token: str, cores: int):
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "spark-local", "checkpoints", "out"):
        os.makedirs(os.path.join(run_dir, d))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        {
            procs.MARKER: token,
            "SPARK_GRAFT_CPUS": str(cores),
            # The checkout is the only place a run may write: streaming
            # checkpoints go to the run directory, not the engine's tmpfs.
            "SPARK_GRAFT_SCRATCH_BASE": os.path.join(run_dir, "checkpoints"),
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
            # Compiler threads then live as long as the JVM, so their CPU
            # can be read apart from the application's (procs.tree_cpu_s).
            "JAVA_TOOL_OPTIONS": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PERFBENCH_SPAWN_T0": repr(time.monotonic()),
        }
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", wl.name, "--sf-dir", sf_dir, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--out", os.path.join(run_dir, "out"),
    ]
    log = open(os.path.join(run_dir, "driver.log"), "wb")
    try:
        return subprocess.Popen(
            cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
            preexec_fn=procs.die_with_parent,
        )
    finally:
        log.close()


def log_tail(run_dir: str, lines: int = 40) -> str:
    try:
        with open(os.path.join(run_dir, "driver.log"), errors="replace") as fh:
            return "".join(fh.readlines()[-lines:])
    except OSError:
        return ""


def run_driver(args, wl, sf_dir: str, run_dir: str, cores: int, deadline: float):
    """Run the driver to completion, then stop and reap everything it
    started. Returns (result, cold_frames) or raises RuntimeError."""
    token = uuid.uuid4().hex
    proc = spawn_driver(args, wl, sf_dir, run_dir, token, cores)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        procs.stop_group(proc.pid)
        proc.wait()
        procs.reap_children()
        survivors = procs.live_pids(token)
        if survivors:
            procs.kill_and_reap(survivors)
    if survivors:
        raise RuntimeError(f"processes survived the run and were killed: {survivors}")
    if code != 0:
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"driver {why}\n{log_tail(run_dir)}")
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "result.json")) as fh:
        result = json.load(fh)
    with open(os.path.join(out, "cold_frames.pkl"), "rb") as fh:
        cold_frames = pickle.load(fh)  # written by this run's own driver
    return result, cold_frames


def check_outputs(wl, sf_dir: str, result: dict, cold_frames: dict):
    """Count executions and failures. A key's cold result must match its
    DuckDB oracle (when it has one); every execution must match the cold
    result's digest and must not have raised."""
    from etl_asana_spark import catalog
    from etl_asana_spark.testing import compare_frames, duckdb_connect

    oracles = catalog.oracle_sql()
    con = duckdb_connect(sf_dir)
    problems = []
    cold = result["passes"][0]
    bad_cold = set(cold["errors"])
    for key, pdf in cold_frames.items():
        if pdf is not None and key in oracles:
            diff = compare_frames(pdf, con.execute(oracles[key]).fetchdf())
            if diff:
                bad_cold.add(key)
                problems.append(f"{key}: oracle mismatch: {diff[:2]}")
    con.close()
    attempted = failed = 0
    for p in result["passes"]:
        for key in wl.keys:
            attempted += 1
            err = p["errors"].get(key)
            if err:
                problems.append(f"{key} ({p['label']}): {err}")
            ok = (
                key not in bad_cold
                and not err
                and p["digests"].get(key) == cold["digests"].get(key)
            )
            if not ok and not err and key not in bad_cold:
                problems.append(f"{key} ({p['label']}): result differs from the cold pass")
            failed += not ok
    funnel = result.get("funnel")
    if funnel and cold_frames.get(CURATION) is not None:
        attempted += 1
        expected = int(cold_frames[CURATION].iloc[0, 0])
        if funnel["funnel"]["curated"] != expected:
            failed += 1
            problems.append(
                f"curation funnel kept {funnel['funnel']['curated']} docs, pass kept {expected}"
            )
    return attempted, failed, problems


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def engine_cpu_s(p: dict) -> float:
    """A pass's CPU seconds over the driver's whole process tree, less the
    JVM's JIT-compiler threads. Compilation decays from pass to pass as the
    JIT catches up, so it would make a pass's figure depend on how many
    passes came before it; it is reported on its own as ``jvm.jit_cpu_s``."""
    return p["cpu_s"] - p["jit_s"]


def end_to_end(result: dict) -> dict:
    warm = [engine_cpu_s(p) for p in result["passes"] if p["label"] == "warm"]
    return {"setup_s": result["setup_s"], "warm_pass_cpu_s": statistics.median(warm)}


def per_layer(wl, result: dict) -> dict[str, tuple[float, str]]:
    passes = result["passes"]
    traced = [p for p in passes if p["label"] == "traced"]
    untraced = [p["wall_s"] for p in passes if p["label"] == "warm"]
    setup = result["setup_parts"]
    out: dict[str, tuple[float, str]] = {
        "session.start_s": (setup.get("session.start", 0.0), "s"),
        "catalog.import_s": (setup.get("catalog.import", 0.0), "s"),
        "registry.load_tables_s": (setup.get("registry.load_tables", 0.0), "s"),
        "driver.peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "jvm.jit_cpu_s": (statistics.median(p["jit_s"] for p in traced), "s"),
        "jvm.jit_cpu_s.cold": (passes[0]["jit_s"], "s"),
    }
    for counter, (name, unit) in LAYER_COUNTERS.items():
        out[name] = (statistics.median(p["layers"][counter] for p in traced), unit)
    for counter in COLD_COUNTERS:
        name, unit = LAYER_COUNTERS[counter]
        out[f"{name}.cold"] = (passes[0]["layers"][counter], unit)
    wall = statistics.median(p["wall_s"] for p in traced)
    covered = statistics.median(
        (p["layers"]["construct_s"] + p["layers"]["plan_s"] + p["layers"]["collect_s"])
        / p["wall_s"]
        for p in traced
    )
    out["trace.pass_wall_s"] = (wall, "s")
    out["trace.coverage"] = (covered, "frac")
    out["trace.overhead_frac"] = (wall / statistics.median(untraced) - 1.0, "frac")
    funnel = result.get("funnel") or {"stage_s": {}, "funnel": {}}
    for stage in CURATION_STAGES:
        out[f"pipelines.stage_s.{stage}"] = (funnel["stage_s"].get(stage, 0.0), "s")
    counts = funnel["funnel"]
    out["pipelines.kept_frac"] = (
        counts["curated"] / counts["raw"] if counts.get("raw") else 0.0, "frac"
    )
    for key in ALL_KEYS:
        jit = 0.0
        if key in wl.keys:
            warm_key = statistics.median(p["key_s"][key] for p in traced)
            jit = passes[0]["key_s"][key] - warm_key
        out[f"jit.cold_minus_warm_s.{key}"] = (jit, "s")
    return out


def write_spans(wl, seed: int, result: dict) -> str:
    spans_dir = os.path.join(ROOT, ".perfbench", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    path = os.path.join(spans_dir, f"{wl.name}-seed{seed}.json")
    spans = result["spans"]
    t0 = spans[0]["start"]
    for s in spans:
        s["start"], s["end"] = s["start"] - t0, s["end"] - t0
    with open(path, "w") as fh:
        json.dump({"workload": wl.name, "seed": seed, "spans": spans}, fh)
    return path


def remove_stale_run_dirs() -> None:
    """Remove run directories left by a benchmark process that was killed
    outright (``run-<pid>-<workload>`` whose pid is gone)."""
    base = os.path.join(ROOT, ".perfbench")
    for name in os.listdir(base) if os.path.isdir(base) else ():
        parts = name.split("-", 2)
        if parts[0] == "run" and parts[1].isdigit() and not os.path.exists(f"/proc/{parts[1]}"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)


def run_workload(args, wl, data_root: str, cores: int) -> dict:
    """One workload in one fresh driver; prints its human-readable lines and
    returns {correct, attempted, failed, metrics}."""
    deadline = time.monotonic() + RUN_DEADLINE_S
    sf_dir = os.path.join(data_root, args.scale or wl.scale)
    run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{wl.name}")
    os.makedirs(run_dir)
    try:
        result, cold_frames = run_driver(args, wl, sf_dir, run_dir, cores, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted, failed, problems = check_outputs(wl, sf_dir, result, cold_frames)
    print(
        f"workload {wl.name} sf_dir={sf_dir} seed={args.seed} trace={args.trace} "
        f"keys={len(wl.keys)} passes=1+{len(result['passes']) - 1} "
        f"cores_requested={result['cores_requested']} "
        f"default_parallelism={result['default_parallelism']}"
    )
    if args.trace:
        layers = per_layer(wl, result)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        for name, (value, unit) in layers.items():
            print(f"  {name} {value:.6g} {unit}")
        print(f"  spans written to {write_spans(wl, args.seed, result)}")
    else:
        e2e = end_to_end(result)
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        warm = [p for p in result["passes"] if p["label"] == "warm"]
        cold = result["passes"][0]
        readings = (
            ("cpu_s", engine_cpu_s),
            ("s", lambda p: p["wall_s"]),
            ("jit_cpu_s", lambda p: p["jit_s"]),
        )
        for suffix, read in readings:
            q1, q3 = _quartiles([read(p) for p in warm])
            print(f"  cold_pass_{suffix} {read(cold):.4f} s")
            print(
                f"  warm_pass_{suffix} {statistics.median(read(p) for p in warm):.4f} s "
                f"(q1 {q1:.4f} q3 {q3:.4f} n={len(warm)})"
            )
        print(f"  setup_s {e2e['setup_s']:.4f} s")
        print(f"  fail_frac {failed / attempted:.4f} frac ({failed} of {attempted})")
        print(f"  peak_rss_mb {result['peak_rss_mb']:.1f} MB")
        print("  keys cold/warm s: " + ", ".join(
            f"{k} {cold['key_s'][k]:.2f}/"
            f"{statistics.median(p['key_s'][k] for p in warm):.2f}"
            for k in wl.keys
        ))
    timed = [p for p in result["passes"] if p["label"] != "warmup"]
    steal = sum(p["steal_s"] for p in timed) / sum(p["wall_s"] * cores for p in timed)
    jit = sum(p["jit_s"] for p in timed) / sum(p["cpu_s"] for p in timed)
    print("  pass wall s: " + " ".join(f"{p['label']}={p['wall_s']:.2f}" for p in result["passes"]))
    print(
        f"  contention: host steal {steal:.3f} of the CPUs' time in timed passes, "
        f"JIT compiler {jit:.3f} of their CPU, loadavg {list(os.getloadavg())}"
    )
    for p in problems:
        print(f"  FAILED {p}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help=f"one of {sorted(WORKLOADS)} or 'all'")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", help="testdata directory to use instead of the workload's "
                    "own (the self-test runs every workload at sf0.001)")
    args = ap.parse_args(argv)
    if args.workload != "all" and args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]

    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    try:
        sys.path.insert(0, ROOT)
        import __spark_entry__
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    data_root = os.path.dirname(__spark_entry__.SMOKE_SF_DIR)
    remove_stale_run_dirs()
    procs.become_subreaper()
    cores = sorted(os.sched_getaffinity(0))[:MAX_CORES]
    os.sched_setaffinity(0, cores)

    try:
        results = {n: run_workload(args, WORKLOADS[n], data_root, len(cores)) for n in names}
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    except KeyboardInterrupt:
        print("perfbench: interrupted", file=sys.stderr)
        return 130
    if len(results) == 1:
        final = results[names[0]]
    else:
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {
                f"{n}/{k}": v for n, r in results.items() for k, v in r["metrics"].items()
            },
        }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())

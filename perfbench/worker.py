"""One benchmark driver process: set up the engine, run a workload's passes,
and write the raw timings and output digests for ``run.py`` to judge.

``run.py`` starts this file in a fresh process group with the run's
environment (cores, scratch directories, marker) and reads what it writes
into ``--out``: ``result.json`` and ``cold_frames.pkl``, the cold pass's
results for the oracle check. Output checks never happen inside a timed
region: each pass keeps its results and digests them after it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import sys
import time

from tracing import (
    Py4jCounter,
    StreamCapture,
    Tracer,
    executed_plan_metrics,
    job_counts,
    wait_for_listeners,
)
from workloads import CURATION, WORKLOADS

import procs

#: No pass starts once the process is this old plus the last pass's length,
#: which keeps a run inside run.py's deadline on a slow host.
PASS_BUDGET_S = 140.0


def frame_digest(pdf) -> str:
    """Order-insensitive digest of a result frame: its columns, dtypes, row
    count and the wrapping sum of per-row hashes. Object columns holding
    anything but strings (arrays, structs, decimals) are hashed through the
    oracle comparison's own cell canonicalization."""
    import hashlib

    import pandas as pd

    from etl_asana_spark.testing import _canon_cell

    cols = sorted(pdf.columns)
    frame = pdf[cols].copy()
    for c in cols:
        kind = pd.api.types.infer_dtype(frame[c], skipna=True)
        if frame[c].dtype == object and kind not in ("string", "empty"):
            frame[c] = [repr(_canon_cell(v)) for v in frame[c]]
    total = int(pd.util.hash_pandas_object(frame, index=False).sum()) if len(frame) else 0
    head = repr((cols, [str(t) for t in pdf[cols].dtypes], len(frame), total))
    return hashlib.sha1(head.encode()).hexdigest()


class Runner:
    def __init__(self, spark, sf_dir: str, fns: dict, seed: int, tracer: Tracer):
        self.spark, self.sf_dir, self.fns, self.tracer = spark, sf_dir, fns, tracer
        self.rng = random.Random(seed)
        self.passes: list[dict] = []

    def run_pass(self, label: str, traced: bool) -> dict:
        """Run every key once in a seeded order; record the pass and return
        its result frames (None for a key that raised)."""
        order = self.rng.sample(list(self.fns), len(self.fns))
        cpu0, jit0 = procs.tree_cpu_s(os.getpid())
        steal0 = procs.host_steal_s()
        if traced:
            rec, frames = self._traced(len(self.passes), order)
        else:
            rec, frames = self._untraced(order)
        cpu1, jit1 = procs.tree_cpu_s(os.getpid())
        rec.update(
            label=label, order=order, cpu_s=cpu1 - cpu0, jit_s=jit1 - jit0,
            steal_s=procs.host_steal_s() - steal0,
        )
        rec["digests"] = {k: frame_digest(f) for k, f in frames.items() if f is not None}
        self.passes.append(rec)
        return frames

    def _untraced(self, order: list[str]):
        frames, key_s, errors = {}, {}, {}
        t_pass = time.perf_counter()
        for key in order:
            t = time.perf_counter()
            try:
                frames[key] = self.fns[key](self.spark, self.sf_dir).toPandas()
            except Exception as exc:  # a failing key is counted, the pass goes on
                frames[key], errors[key] = None, f"{type(exc).__name__}: {exc}"[:400]
            key_s[key] = time.perf_counter() - t
        wall = time.perf_counter() - t_pass
        return {"wall_s": wall, "key_s": key_s, "errors": errors}, frames

    def _traced(self, index: int, order: list[str]):
        from etl_asana_spark.streaming.jobs import LAST_DRAIN_STATS

        sc, tr = self.spark.sparkContext, self.tracer
        frames, key_s, errors, keyinfo = {}, {}, {}, {}
        with StreamCapture() as streams, tr.span("pass", index=index) as pspan:
            for key in order:
                info = keyinfo[key] = {"df": None, "queries": len(streams.queries)}
                with tr.span("key", key=key) as kspan:
                    try:
                        sc.setJobGroup(f"perfbench-construct-{index}-{key}", key)
                        with tr.span("construct") as cspan, Py4jCounter(self.spark) as calls:
                            df = info["df"] = self.fns[key](self.spark, self.sf_dir)
                        cspan["py4j_calls"] = calls.count
                        sc.setJobGroup(f"perfbench-execute-{index}-{key}", key)
                        with tr.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                        with tr.span("execute"):
                            frames[key] = df.toPandas()
                    except Exception as exc:  # counted as failed by run.py
                        frames[key], errors[key] = None, f"{type(exc).__name__}: {exc}"[:400]
                        info["df"] = None  # no executed plan to read
                    started = streams.queries[info["queries"]:]
                    info["queries"] = started
                    info["drain"] = dict(LAST_DRAIN_STATS) if started else {}
                key_s[key] = kspan["end"] - kspan["start"]
        sc.setJobGroup("perfbench-idle", "")
        layers = self._layer_counters(index, keyinfo)
        self_s = tr.self_times(pspan["id"])
        layers.update(
            construct_s=self_s.get("construct", 0.0),
            plan_s=self_s.get("plan", 0.0),
            collect_s=self_s.get("execute", 0.0),
            key_self_s=self_s.get("key", 0.0),
            pass_self_s=self_s.get("pass", 0.0),
            py4j_calls=sum(
                s.get("py4j_calls", 0) for s in tr.spans[pspan["id"]:] if s["name"] == "construct"
            ),
        )
        wall = pspan["end"] - pspan["start"]
        return {"wall_s": wall, "key_s": key_s, "errors": errors, "layers": layers}, frames

    def _layer_counters(self, index: int, keyinfo: dict) -> dict:
        """Counts read after a traced pass: job groups, executed-plan metrics
        and streaming progress, summed over the pass's keys."""
        wait_for_listeners(self.spark)
        c = dict.fromkeys(
            ("driver_jobs", "jobs", "stages", "tasks", "rows_scanned", "shuffle_bytes",
             "spill_bytes", "python_boot_s", "python_total_s", "bytes_sent",
             "bytes_received", "stream_start_s", "stream_await_s", "stream_batches"),
            0,
        )
        for key, info in keyinfo.items():
            c["driver_jobs"] += job_counts(self.spark, f"perfbench-construct-{index}-{key}")[0]
            jobs, stages, tasks = job_counts(self.spark, f"perfbench-execute-{index}-{key}")
            c["jobs"] += jobs
            c["stages"] += stages
            c["tasks"] += tasks
            if info["df"] is not None:
                m = executed_plan_metrics(info["df"])
                c["rows_scanned"] += m.rows_scanned
                c["shuffle_bytes"] += m.shuffle_bytes
                c["spill_bytes"] += m.spill_bytes
                for _name, mets in m.nodes:
                    # SQL timing metrics are milliseconds summed over tasks.
                    c["python_boot_s"] += mets.get("pythonBootTime", 0) / 1000.0
                    c["python_total_s"] += mets.get("pythonTotalTime", 0) / 1000.0
                    c["bytes_sent"] += mets.get("pythonDataSent", 0)
                    c["bytes_received"] += mets.get("pythonDataReceived", 0)
            c["stream_start_s"] += info["drain"].get("start_s", 0.0)
            c["stream_await_s"] += info["drain"].get("await_s", 0.0)
            for q in info["queries"]:
                progress = q.lastProgress
                c["stream_batches"] += progress["batchId"] + 1 if progress else 0
        return c


def curation_funnel(spark, sf_dir: str) -> dict:
    """One instrumented curation run: per-stage seconds and survivor counts."""
    from etl_asana_spark import pipelines
    from etl_asana_spark.registry import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    staged = pipelines.curate_corpus(docs, count_funnel=True)
    return {"stage_s": staged.stage_seconds, "funnel": staged.funnel}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    spawn_t0 = float(os.environ["PERFBENCH_SPAWN_T0"])
    wl = WORKLOADS[args.workload]
    tracer = Tracer()
    spark = None
    try:
        with tracer.span("setup"):
            with tracer.span("catalog.import"):
                from etl_asana_spark import catalog, pipelines
                from etl_asana_spark.registry import load_tables
                from etl_asana_spark.session import build_session
            with tracer.span("session.start"):
                spark = build_session(app_name="perfbench")
                spark.sparkContext.setLogLevel("ERROR")
            with tracer.span("catalog.import"):
                catalog.load_all()
            with tracer.span("registry.load_tables"):
                load_tables(spark, args.sf_dir)
        setup_s = time.monotonic() - spawn_t0
        setup_parts = tracer.self_times(0)

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        parallelism = spark.sparkContext.defaultParallelism
        if parallelism != cores:
            raise RuntimeError(
                f"defaultParallelism {parallelism} != requested cores {cores}"
            )

        queries = catalog.queries()

        def curation(spark, sf_dir):
            docs = load_tables(spark, sf_dir)["documents"]
            return pipelines.curate_corpus(docs).curated.groupBy().count()

        fns = {k: curation if k == CURATION else queries[k] for k in wl.keys}
        runner = Runner(spark, args.sf_dir, fns, args.seed, tracer)
        trace = bool(args.trace)

        with tracer.span("workload", workload=wl.name):
            cold_frames = runner.run_pass("cold", traced=trace)
            with open(os.path.join(args.out, "cold_frames.pkl"), "wb") as fh:
                pickle.dump(cold_frames, fh)
            del cold_frames

            def late(passes: int) -> bool:
                last = runner.passes[-1]["wall_s"]
                return time.monotonic() - spawn_t0 + last * passes > PASS_BUDGET_S

            for _ in range(wl.warmup_passes):
                if late(1):
                    break
                runner.run_pass("warmup", traced=False)
            t_warm = time.perf_counter()
            # A traced run measures pairs of one traced and one untraced pass;
            # the untraced one goes second, so warm-up still under way can
            # only make the overhead figure larger, never hide it.
            labels = ("traced", "warm") if trace else ("warm",)
            min_passes = 1 if trace else wl.measured_passes
            while True:
                done = min(sum(p["label"] == lab for p in runner.passes) for lab in labels)
                if done >= min_passes and time.perf_counter() - t_warm >= args.seconds:
                    break
                if done >= 1 and late(len(labels)):
                    break
                for lab in labels:
                    runner.run_pass(lab, traced=lab == "traced")

        funnel = curation_funnel(spark, args.sf_dir) if trace and CURATION in wl.keys else None
        java = procs.child_pids(os.getpid(), "java")
        rss = procs.peak_rss_mb(os.getpid()) + sum(procs.peak_rss_mb(p) for p in java)
        result = {
            "setup_s": setup_s,
            "setup_parts": setup_parts,
            "cores_requested": cores,
            "default_parallelism": parallelism,
            "passes": runner.passes,
            "peak_rss_mb": rss,
            "funnel": funnel,
            "spans": tracer.spans if trace else None,
        }
        with open(os.path.join(args.out, "result.json"), "w") as fh:
            json.dump(result, fh)
        return 0
    finally:
        if spark is not None:
            for q in spark.streams.active:
                q.stop()
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())

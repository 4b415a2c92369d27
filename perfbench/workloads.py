"""The benchmark's workloads: which catalog keys run, at which scale, and why.

Each workload is a closed loop with one client: a single driver process runs
its keys back to back, one pass after another, and the workload seed only
chooses the key order inside each pass. The engine sees nothing but
``fn(spark, sf_dir)`` calls over the read-only testdata directory.
"""

from __future__ import annotations

from dataclasses import dataclass

#: Pseudo-key for the corpus-curation pipeline (the label bench.py uses for
#: the same composition). It is not a catalog key, so it has no oracle.
CURATION = "pipeline_curation"


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str               # testdata directory name, e.g. "sf0.1"
    keys: tuple[str, ...]
    #: Unmeasured passes between the cold pass and the measured ones, while the
    #: JIT still compiles the most.
    warmup_passes: int
    #: Passes measured after the warm-up. A run measures more only while
    #: ``--seconds`` have not passed, which the benchmark's own setting
    #: never leaves, so every run's median is over the same pass indices:
    #: the JIT keeps shortening passes for minutes, and a run that measured
    #: more passes would read lower for that alone.
    measured_passes: int
    why: str


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "olap_sf0.1",
            "sf0.1",
            (
                "q_agg_groupby",
                "q_join_star",
                "q_win_topk_group",
                "q_win_tumbling",
                "q_topk",
                "q_join_semi",
                "q_golden_revenue_forecast",
            ),
            1,
            3,
            "JVM scan, shuffle and aggregation plus parity-helper construction; "
            "no Arrow boundary, pipeline or stream, so it is their no-change control",
        ),
        Workload(
            "llm_sf0.1",
            "sf0.1",
            (
                CURATION,
                "q_emb_pca",
                "q_win_ema",
                "q_dsir_weights",
                "q_multimodal",
                "q_text_tokens",
            ),
            1,
            2,
            "operators, the curation pipeline and the Python-Arrow boundary "
            "dominate; no key above ~40% of a pass",
        ),
        Workload(
            "etl_sf0.001",
            "sf0.001",
            (
                "q_ingest_json",
                "q_load_upsert",
                "q_stream_tumbling",
                "q_win_ema",
                "q_agg_groupby",
                CURATION,
            ),
            2,
            2,
            "fixed per-query cost dominates: construction, eager driver jobs, planning, "
            "Python-worker boot, checkpoint and file writes; carries the curation pipeline",
        ),
    )
}

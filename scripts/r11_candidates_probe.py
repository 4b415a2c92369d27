"""Round-11 candidate probe: noop-timed engine cost of the remaining
high-cost untouched keys (guide §1.4: time the computation, not the sink).

Per key: one warm-up, then min-of-3 noop writes; prints the seconds.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_asana_spark import catalog
from etl_asana_spark.session import build_session

KEYS = sys.argv[2:] or [
    "q_emb_kmeans",
    "q_sim_ivf",
    "q_sim_ann",
    "q_win_ema",
    "q_interval_overlap",
    "q_hybrid_rrf",
    "q_join_bucketed",
    "q_maintenance_compact",
    "q_source_datasource",
    "q_scrub_dup_spans",
    "q_scan_dpp",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session(app_name="r11-candidates-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = catalog.queries()
    for key in KEYS:
        fn = qs[key]
        spark.sparkContext.setJobDescription(f"probe:{key}")
        # warm-up (untimed)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        best = min(times)
        print(f"{key:25s} min {best:7.3f}s  all {[round(t, 3) for t in times]}",
              flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""A/B: q_win_tumbling exact-distinct plans — Expand vs two-level decomposition.

Spark plans COUNT(DISTINCT user_id) alongside other aggregates via Expand
(every input row duplicated per aggregate group: 2x rows through the first
partial aggregate). The manual two-level decomposition groups by
(window, event_type, user_id) first (one row per distinct triple, carrying
the partial count and exact unit sum), then by (window, event_type) —
same two shuffles, no Expand, and the first shuffle moves one row per
distinct triple instead of two expanded streams.

Usage: python scripts/tumbling_ab.py [sf_dir] [replicas]
  replicas > 1 unions shifted copies of events (user_id offset per replica,
  ts shifted by replica seconds) to grow distinct volume — the r10 100x
  rehearsal showed the exact-distinct expand path dominating at scale.

Prints interleaved min-of-N timings (noop sink) for both variants and
verifies the two produce IDENTICAL rows (sorted collect comparison).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from etl_asana_spark import catalog
from etl_asana_spark.functions.parity import sql_from_units, sql_units
from etl_asana_spark.registry import load_tables
from etl_asana_spark.session import build_session


def two_level(ev):
    lvl1 = ev.groupBy(
        F.window("ts", "1 hour").alias("win"), "event_type", "user_id"
    ).agg(
        F.count(F.lit(1)).alias("__c"),
        F.expr(f"SUM({sql_units('value')})").alias("__u"),
    )
    return (
        lvl1.groupBy("win", "event_type")
        .agg(
            F.sum("__c").alias("n_events"),
            F.count(F.lit(1)).alias("n_users"),
            F.expr(sql_from_units("SUM(CAST(__u AS DECIMAL(38,0)))")).alias(
                "total_value"
            ),
        )
        .select(
            F.col("win.start").alias("bucket"),
            "event_type",
            "n_events",
            "n_users",
            "total_value",
        )
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = build_session(app_name="tumbling_ab")
    spark.sparkContext.setLogLevel("ERROR")

    ev = load_tables(spark, sf_dir)["events"]
    if replicas > 1:
        parts = [
            ev.withColumn("user_id", F.col("user_id") + F.lit(r * 1_000_000))
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {r} SECONDS"))
            for r in range(replicas)
        ]
        base = parts[0]
        for p in parts[1:]:
            base = base.unionByName(p)
        ev = base.localCheckpoint()  # isolate replication cost from the A/B

    current = catalog.queries()["q_win_tumbling"]

    def run_current():
        if replicas > 1:
            from etl_asana_spark.functions.parity import dsum

            df = (
                ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
                .agg(
                    F.count("*").alias("n_events"),
                    F.countDistinct("user_id").alias("n_users"),
                    dsum("value").alias("total_value"),
                )
            )
        else:
            df = current(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()

    def run_two_level():
        two_level(ev).write.format("noop").mode("overwrite").save()

    variants = {"expand(current)": run_current, "two_level": run_two_level}
    for name, fn in variants.items():
        fn()  # warm-up
    times: dict[str, list[float]] = {n: [] for n in variants}
    for _ in range(4):
        for name, fn in variants.items():
            t0 = time.perf_counter()
            fn()
            times[name].append(time.perf_counter() - t0)
    for name, ts in times.items():
        print(f"{name}: min={min(ts):.3f}s  all={[round(t, 3) for t in ts]}")

    if replicas == 1:
        a = sorted(map(tuple, current(spark, sf_dir).collect()))
        b = sorted(map(tuple, two_level(ev).collect()))
        print("rows identical:", a == b, f"({len(a)} rows)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

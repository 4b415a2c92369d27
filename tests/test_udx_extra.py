"""Property checks for UDx ops without a SQL oracle."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_asana_spark import catalog
from etl_asana_spark.registry import load_tables


def test_ema_matches_pure_python_recurrence(spark, sf_dir):
    """q_win_ema (Arrow-batched pandas ewm) must equal the hand-rolled
    recurrence ema_t = α·x_t + (1−α)·ema_{t−1} for a sampled user."""
    ev = load_tables(spark, sf_dir)["events"]
    uid = ev.select(F.min("user_id")).first()[0]
    expected_rows = (
        ev.filter(F.col("user_id") == uid)
        .orderBy("ts", "event_id")
        .select("event_id", "value")
        .collect()
    )
    alpha, ema, expect = 0.2, None, {}
    for r in expected_rows:
        ema = r["value"] if ema is None else alpha * r["value"] + (1 - alpha) * ema
        expect[r["event_id"]] = ema
    got = {
        r["event_id"]: r["ema"]
        for r in catalog.queries()["q_win_ema"](spark, sf_dir)
        .filter(F.col("user_id") == uid)
        .collect()
    }
    assert set(got) == set(expect)
    # The query rounds ema to 6 dp for the cross-engine oracle; allow the
    # half-unit-in-last-place of that rounding on top of float drift.
    assert all(abs(got[k] - expect[k]) < 5.1e-7 for k in expect)


def test_ema_batch_boundary_carry_is_exact(spark, sf_dir):
    """The r11 mapInPandas kernel carries the ewm recurrence across Arrow
    batch boundaries via a prepended synthetic row. At shipped SFs each
    partition fits one batch, so force 7-row batches (splitting every
    ~66-row user many times) and require the output to stay BIT-identical
    to the locally computed per-group recurrence."""
    import pandas as pd

    def run():
        return (
            catalog.queries()["q_win_ema"](spark, sf_dir)
            .toPandas()
            .sort_values(["user_id", "event_id"])
            .reset_index(drop=True)
        )

    ref = run()  # default batch size: one batch per partition, no carry
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = run()
    finally:
        spark.conf.set(key, old)
    assert len(got) and got["user_id"].nunique() > 1
    pd.testing.assert_frame_equal(got, ref, check_exact=True)


def test_variant_extract_equals_schema_declared_path(spark, sf_dir):
    """variant_get('$.k') must agree with get_json_object + cast for every
    event row."""
    from etl_asana_spark import catalog

    df = catalog.queries()["q_fn_variant"](spark, sf_dir)
    ev = load_tables(spark, sf_dir)["events"].select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_classic"),
    )
    j = df.join(ev, "event_id")
    assert j.filter("k_int IS DISTINCT FROM k_classic").count() == 0
    assert df.filter("inferred_schema != 'OBJECT<k: BIGINT>'").count() == 0


def test_ema_kernel_carries_null_user_across_batches():
    """A NULL-user group that straddles an Arrow batch boundary must carry
    its recurrence like any other user: the kernel fed two batches equals
    the kernel fed the same rows as one batch. Spark hands a nullable
    BIGINT key to pandas as float64 with NaN for NULL, and NaN == NaN is
    False, so a plain equality test would restart the NULL group's EMA."""
    import numpy as np
    import pandas as pd

    from etl_asana_spark.queries_udx import _ema_batches

    rows = pd.DataFrame(
        {
            "user_id": [np.nan, np.nan, np.nan, np.nan, 7.0, 7.0],
            "event_id": [1, 2, 3, 4, 5, 6],
            "value": [10.0, 2.0, 30.0, 4.0, 50.0, 6.0],
        }
    )
    ref = pd.concat(list(_ema_batches([rows.copy()])), ignore_index=True)
    got = pd.concat(
        list(_ema_batches([rows.iloc[:2].copy(), rows.iloc[2:].copy()])),
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(got, ref, check_exact=True)

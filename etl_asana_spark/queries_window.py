"""Window-function queries (SURVEY.md §2.5, #33–#37).

Determinism discipline: row_number/ntile always carry a unique-key tiebreak
in ORDER BY; rank/dense_rank/percent_rank/cume_dist are shown over orderings
WITH ties (that is their semantic difference from row_number) — they are
deterministic because peers share values. Range frames order by
``unix_timestamp`` because Spark 4 rejects CAST(timestamp AS BIGINT) in a
range frame (SURVEY §2.5 #36, probe-verified fix).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions.parity import dsum, sql_dsum, sql_dsum_wide
from .operators import topk
from .registry import load_tables

_DEC = "decimal(25,6)"


@register(
    "q_win_rank",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           rank()         OVER tie AS rnk,
           dense_rank()   OVER tie AS drnk,
           CAST(percent_rank() OVER tie AS DOUBLE) AS prnk,
           CAST(cume_dist()    OVER tie AS DOUBLE) AS cdist,
           row_number()   OVER uniq AS rn,
           ntile(4)       OVER uniq AS quartile
    FROM orders
    WINDOW tie  AS (PARTITION BY o_orderstatus ORDER BY o_orderpriority),
           uniq AS (PARTITION BY o_orderstatus ORDER BY o_orderpriority, o_orderkey)
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#33 Ranking family: tie-aware ranks vs unique-ordered row numbering."""
    t = load_tables(spark, sf_dir)
    tie = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority")
    uniq = Window.partitionBy("o_orderstatus").orderBy("o_orderpriority", "o_orderkey")
    return t["orders"].select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.rank().over(tie).alias("rnk"),
        F.dense_rank().over(tie).alias("drnk"),
        F.percent_rank().over(tie).cast("double").alias("prnk"),
        F.cume_dist().over(tie).cast("double").alias("cdist"),
        F.row_number().over(uniq).alias("rn"),
        F.ntile(4).over(uniq).alias("quartile"),
    )


@register(
    "q_win_lag",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(date_diff('day',
                          CAST(lag(o_orderdate) OVER w AS DATE),
                          CAST(o_orderdate AS DATE)) AS INT) AS days_since_prev
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#34 Analytic offsets: previous/next order price and inter-order gap."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias(
            "days_since_prev"
        ),
    )


@register(
    "q_win_running",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_totalprice,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_spend,
           COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS order_seq
    FROM orders
    """,
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#35 Rows-frame running total (decimal-exact, order-pinned)."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias(
            "running_spend"
        ),
        F.count("*").over(w).alias("order_seq"),
    )


@register(
    "q_win_range",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_30d,
           COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW
           ) AS n_orders_30d
    FROM orders
    """,
)
def q_win_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#36 Range frame: trailing-30-day spend per customer.

    Spark orders the frame by ``unix_timestamp(o_orderdate)`` with a
    [-30d, 0] second range — Spark 4 rejects CAST(timestamp AS BIGINT)
    inside a range frame, and interval range frames need a numeric ordering
    column anyway. Range frames include peers, so no tiebreak is needed for
    determinism.
    """
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-86400 * 30, 0)
    )
    return t["orders"].select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double").alias(
            "spend_30d"
        ),
        F.count("*").over(w).alias("n_orders_30d"),
    )


@register(
    "q_win_topk_group",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
               ) AS rk
        FROM orders
    ) WHERE rk <= 3
    """,
)
def q_win_topk_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#37 Top-k per group, exchange placement chosen from group shape
    (operators/topk.py). Small scans keep the declarative plan — Catalyst's
    map-side partial WindowGroupLimit cuts shuffle volume to ~k·groups.
    Wide scans with small groups (the 100 TB shape; the r09 rehearsal's
    47.6× multiplier) exchange FIRST instead: the partial heap would
    filter nothing there while paying a full sort of every scan partition
    (measured 32.3 → 6.5 s at 100× sf0.1)."""
    t = load_tables(spark, sf_dir)
    return topk.topk_per_group(
        t["orders"].select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        stats_key=f"{sf_dir}:orders",
    )


@register(
    "q_win_gaps_islands",
    oracle="""
    WITH d AS (
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS day
        FROM orders
    ),
    anchored AS (
        SELECT o_custkey, day,
               day - CAST(row_number() OVER (
                   PARTITION BY o_custkey ORDER BY day) AS INT) AS anchor
        FROM d
    )
    SELECT o_custkey,
           CAST(MIN(day) AS VARCHAR) AS streak_start,
           CAST(MAX(day) AS VARCHAR) AS streak_end,
           COUNT(*) AS streak_days
    FROM anchored
    GROUP BY o_custkey, anchor
    """,
)
def q_win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive order days per customer.

    The classic trick — ``day - row_number()`` is constant within a run of
    consecutive days — turns streak detection into one window plus one
    grouped aggregate: exactly two shuffles on the same key (Catalyst reuses
    the hash partitioning from the window for the groupBy), no self-join,
    no iteration. At 100 TB this is a linear scan per key; the alternative
    LAG-then-conditional-sum needs the same two shuffles but a second window
    pass, and a self-join formulation would be quadratic in run length.
    """
    t = load_tables(spark, sf_dir)
    d = t["orders"].select(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy("day")
    anchored = d.withColumn("anchor", F.date_sub(F.col("day"), F.row_number().over(w)))
    return (
        anchored.groupBy("o_custkey", "anchor")
        .agg(
            F.min("day").cast("string").alias("streak_start"),
            F.max("day").cast("string").alias("streak_end"),
            F.count("*").alias("streak_days"),
        )
        .select("o_custkey", "streak_start", "streak_end", "streak_days")
    )


@register(
    "q_fill_forward",
    oracle="""
    WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day, value, event_type FROM events
    ),
    daily AS (
        SELECT user_id, day, MAX(value) AS day_max
        FROM ev WHERE event_type = 'purchase'
        GROUP BY user_id, day
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ev),
    days AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    users AS (SELECT DISTINCT user_id FROM ev),
    spine AS (SELECT user_id, day FROM users, days)
    SELECT s.user_id,
           CAST(s.day AS VARCHAR) AS day,
           last_value(d.day_max IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM spine s
    LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def q_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward) on a dense day spine.

    Feature-store shape: per-user daily purchase level, gaps filled with the
    most recent prior value. The spine is users × generated day range (the
    day side is a tiny broadcast — one array per bounds row, exploded), the
    observations left-join onto it, and ``last(ignorenulls=True)`` over an
    unbounded-preceding rows frame carries values forward. One shuffle on
    user_id for the window; the left join broadcasts nothing bigger than
    the daily aggregate's partial output. No Python, no iteration — LOCF at
    100 TB is exactly this plan with the window shuffle as the only cost.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.max("value").alias("day_max"))
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    users = ev.select("user_id").distinct()
    spine = users.crossJoin(days)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .withColumn("filled_value", F.last("day_max", ignorenulls=True).over(w))
        .select(
            "user_id",
            F.col("day").cast("string").alias("day"),
            "filled_value",
        )
    )


@register(
    "q_win_rolling_median",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n_purchases
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY date_trunc('day', ts)
    )
    SELECT CAST(day AS VARCHAR) AS day, n_purchases,
           MEDIAN(n_purchases) OVER (
               ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS med7
    FROM daily
    """,
)
def q_win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day median of daily purchase counts — the robust trend
    line (medians shrug off the spikes that wreck rolling means). A
    selection statistic, not a sum: no float accumulation order to drift,
    so the window needs no rounding guard. The daily rollup happens FIRST
    (events shrink to one row per day), so the unpartitioned ordered window
    runs over a calendar-sized — not event-sized — input; at 100 TB the
    same two-stage shape holds (aggregate to the grain, then window the
    tiny series). Counts are exact integers; MEDIAN of an even window is
    the mean of the two middle values on both engines."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n_purchases"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    # Spark's median() rejects window frames; the frame's values are
    # collected (<= 7 longs) and the median selected from the sorted array
    # — still exact, still JVM-side.
    vals = F.sort_array(F.collect_list("n_purchases").over(w))
    n = F.size(vals)
    lo = F.element_at(vals, ((n + 1) / 2).cast("int"))
    hi = F.element_at(vals, (n / 2 + 1).cast("int"))
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "n_purchases",
        ((lo + hi) / 2.0).alias("med7"),
    )


@register(
    "q_win_nav",
    oracle="""
    WITH nav AS (
        SELECT o_custkey,
               ROW_NUMBER() OVER w AS rn,
               CAST(first_value(o_orderdate) OVER w AS VARCHAR) AS first_date,
               CAST(nth_value(o_orderdate, 2) OVER w AS VARCHAR) AS second_date,
               CAST(last_value(o_orderdate) OVER w AS VARCHAR) AS last_date,
               first_value(o_totalprice) OVER w AS first_price,
               last_value(o_totalprice) OVER w AS last_price,
               COUNT(*) OVER w AS n_orders
        FROM orders
        WINDOW w AS (
            PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
        )
    )
    SELECT o_custkey, first_date, second_date, last_date,
           first_price, last_price, n_orders
    FROM nav WHERE rn = 1
    """,
)
def q_win_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation family (#33's completion): first_value /
    nth_value / last_value over the customer's full order history — the
    first/second/latest order dates and the first-vs-latest spend, one row
    per customer. The frame is explicitly UNBOUNDED..UNBOUNDED: last_value
    under the default frame (..CURRENT ROW) is the current row, the classic
    silent bug, on both engines. Ordering includes the unique o_orderkey so
    every navigation target is deterministic under date ties. One shuffle
    on o_custkey; rn=1 dedup reuses the same window partitioning (no second
    exchange)."""
    t = load_tables(spark, sf_dir)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    nav = t["orders"].select(
        "o_custkey",
        F.row_number().over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("rn"),
        F.first("o_orderdate").over(w).cast("string").alias("first_date"),
        F.nth_value("o_orderdate", 2).over(w).cast("string").alias("second_date"),
        F.last("o_orderdate").over(w).cast("string").alias("last_date"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.count("*").over(w).alias("n_orders"),
    )
    return nav.filter(F.col("rn") == 1).drop("rn")


@register(
    "q_win_ratio_to_report",
    oracle=f"""
    WITH nat AS (
        SELECT n_name, r_name, {sql_dsum_wide('o_totalprice')} AS revenue
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation   ON n_nationkey = c_nationkey
        JOIN region   ON r_regionkey = n_regionkey
        GROUP BY n_name, r_name
    )
    SELECT n_name, r_name, revenue,
           ROUND(revenue / SUM(revenue) OVER (PARTITION BY r_name), 9)
               AS share_of_region,
           ROUND(revenue / SUM(revenue) OVER (), 9) AS share_of_total
    FROM nat
    """,
)
def q_win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report (percent-of-total) window: each nation's revenue as
    a share of its region and of the world — the BI denominator pattern.
    The heavy aggregation happens FIRST (facts collapse to one row per
    nation), so both window sums — including the unpartitioned global one —
    run over a dim-cardinality input; at any fact scale the windows cost
    nothing. The revenue itself is fixed-point-exact, making every share a
    deterministic function of exact numerators/denominators (rounded 9 for
    the one float divide)."""
    t = load_tables(spark, sf_dir)
    nat = (
        t["orders"]
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t["nation"]), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(t["region"]), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    return nat.select(
        "n_name",
        "r_name",
        "revenue",
        F.round(
            F.col("revenue") / F.sum("revenue").over(Window.partitionBy("r_name")), 9
        ).alias("share_of_region"),
        F.round(
            F.col("revenue") / F.sum("revenue").over(
                Window.partitionBy()
            ), 9
        ).alias("share_of_total"),
    )


@register(
    "q_interpolate_linear",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS day, value FROM events
        WHERE event_type = 'purchase' AND user_id % 97 = 0
    ),
    daily AS (
        SELECT day, {sql_dsum('value')} AS total FROM ev GROUP BY day
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ev),
    days AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
               AS day
        FROM bounds
    ),
    joined AS (
        SELECT d.day, t.total FROM days d LEFT JOIN daily t USING (day)
    ),
    anchored AS (
        SELECT day, total,
               last_value(total IGNORE NULLS) OVER (
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS prev_val,
               last_value(CASE WHEN total IS NOT NULL THEN day END
                          IGNORE NULLS) OVER (
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS prev_day,
               first_value(total IGNORE NULLS) OVER (
                   ORDER BY day ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS next_val,
               first_value(CASE WHEN total IS NOT NULL THEN day END
                           IGNORE NULLS) OVER (
                   ORDER BY day ROWS BETWEEN CURRENT ROW
                   AND UNBOUNDED FOLLOWING) AS next_day
        FROM joined
    )
    SELECT CAST(day AS VARCHAR) AS day,
           ROUND(CASE
               WHEN total IS NOT NULL THEN total
               WHEN prev_val IS NULL THEN next_val
               WHEN next_val IS NULL THEN prev_val
               ELSE prev_val + (next_val - prev_val)
                    * CAST(date_diff('day', prev_day, day) AS DOUBLE)
                    / CAST(date_diff('day', prev_day, next_day) AS DOUBLE)
           END, 6) AS filled_total
    FROM anchored
    """,
)
def q_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation on a dense day spine — the gap-filling step a
    feature/metrics store runs after LOCF isn't good enough (LOCF holds a
    stale level; interpolation draws the line between the neighboring
    observations).

    Same spine shape as q_fill_forward; two extra window passes anchor each
    missing day to its previous and next observed (day, value) pairs
    (last/first with ignorenulls over unbounded frames — one shuffle, the
    frame is the calendar-sized spine, never the fact), and the fill is
    pure per-row arithmetic on exact fixed-point day totals. Edge days
    beyond the first/last observation clamp to the nearest observed value.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"].filter(
        (F.col("event_type") == "purchase") & (F.col("user_id") % 97 == 0)
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        dsum("value").alias("total")
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    days = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    joined = days.join(daily, "day", "left")
    w_back = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("total").isNotNull(), F.col("day"))
    anchored = joined.select(
        "day",
        "total",
        F.last("total", ignorenulls=True).over(w_back).alias("prev_val"),
        F.last(obs_day, ignorenulls=True).over(w_back).alias("prev_day"),
        F.first("total", ignorenulls=True).over(w_fwd).alias("next_val"),
        F.first(obs_day, ignorenulls=True).over(w_fwd).alias("next_day"),
    )
    frac = F.datediff(F.col("day"), F.col("prev_day")).cast("double") / F.datediff(
        F.col("next_day"), F.col("prev_day")
    ).cast("double")
    filled = (
        F.when(F.col("total").isNotNull(), F.col("total"))
        .when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .otherwise(
            F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac
        )
    )
    return anchored.select(
        F.col("day").cast("string").alias("day"),
        F.round(filled, 6).alias("filled_total"),
    )

"""Window-function queries (SURVEY.md §2.7).

The reference has no in-tree window kernel — Calcite can plan them
(ENUMERABLE_WINDOW_RULE, ``pixels-parser/.../PixelsParser.java:302``) and the
host engine (Trino/DuckDB) executes. Declared here as first-class Spark
window queries.

Determinism: every window ORDER BY ends with a unique key so frame contents
are identical across engines; running sums/avgs accumulate in DECIMAL.

Scale notes: a window partitioned by a key is one shuffle on that key plus a
per-partition sort — no driver involvement. Skewed partition keys (one user
with 10^9 events) are the hazard at 100 TB; mitigate by bounding frames
(ROWS BETWEEN) and pre-aggregating where semantics allow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ._common import _dec
from .registry import declare


@declare(
    "win_topn_per_customer",
    sql="""
    SELECT c_custkey, o_orderkey, o_totalprice, CAST(rn AS BIGINT) AS rn
    FROM (SELECT c_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY c_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM customer JOIN orders ON c_custkey = o_custkey) t
    WHERE rn <= 3
    ORDER BY c_custkey, rn
    """,
    tags=("window", "topk", "join"),
)
def win_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number top-N per group (the per-group top-k idiom)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("c_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .select("c_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .orderBy("c_custkey", "rn")
    )


@declare(
    "win_rank_orders",
    sql="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           CAST(rank()       OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS BIGINT) AS rnk,
           CAST(dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS BIGINT) AS drnk
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
    ORDER BY o_orderkey
    """,
    tags=("window",),
)
def win_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank + dense_rank with ties."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    return (
        o.select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.rank().over(w).cast("bigint").alias("rnk"),
            F.dense_rank().over(w).cast("bigint").alias("drnk"),
        )
        .orderBy("o_orderkey")
    )


@declare(
    "win_lag_lead",
    sql="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           lag(o_totalprice)  OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window",),
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over an ordered per-customer sequence."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@declare(
    "win_running_sum",
    sql="""
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window",),
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """running (cumulative) sum — DECIMAL accumulation for cross-engine equality."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(_dec(F.col("o_totalprice"))).over(w).cast("double").alias("running_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@declare(
    "win_moving_avg",
    sql="""
    SELECT user_id, event_id,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
               / count(*) OVER w AS moving_avg
    FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    tags=("window", "time_series"),
)
def win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bounded moving average over an event stream (ROWS frame)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            (F.sum(_dec(F.col("value"))).over(w).cast("double") / F.count(F.lit(1)).over(w))
            .alias("moving_avg"),
        )
        .orderBy("user_id", "event_id")
    )


@declare(
    "win_sessionize",
    sql="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM (SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) events),
    sessions AS (
      SELECT user_id, ts, event_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_id
      FROM marked)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM sessions
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("window", "sessionization", "time_series"),
)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session windows in batch form: gaps-and-islands via lag + cumulative flag.
    (The streaming analog — F.session_window — is exercised in pixels_spark/
    streaming; this declared query proves the same semantics against SQL.)
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # µs-precision gap (cast-to-long would truncate to whole seconds and
    # disagree with the oracle's INTERVAL comparison at boundaries)
    gap_ok = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.lag(F.col("ts")).over(w))
    ) <= 30 * 60 * 1_000_000
    marked = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_ok, 0).otherwise(1).alias("new_session"),
    )
    sessions = marked.select(
        "user_id",
        "ts",
        F.sum("new_session").over(wcum).alias("session_id"),
    )
    return (
        sessions.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


@declare(
    "win_ranking_family",
    sql="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdist
    FROM orders
    WHERE o_orderkey < 1000
    WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
    """,
    tags=("window",),
)
def win_ranking_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ranking-family completeness: ntile + percent_rank + cume_dist."""
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.ntile(4).over(w).cast("bigint").alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cdist"),
        )
        .orderBy("o_orderkey")
    )


@declare(
    "win_first_last",
    sql="""
    SELECT o_custkey, o_orderkey,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)  OVER w AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window",),
)
def win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value over an explicit frame."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.first("o_totalprice").over(w).alias("first_price"),
            F.last("o_totalprice").over(w).alias("last_price"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@declare(
    "win_range_frame",
    sql="""
    SELECT o_custkey, o_orderkey,
           CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY epoch_day
                               RANGE BETWEEN 30 PRECEDING AND 30 FOLLOWING)
                AS BIGINT) AS orders_within_30d
    FROM (SELECT o_custkey, o_orderkey,
                 CAST(date_diff('day', DATE '1990-01-01',
                                CAST(o_orderdate AS DATE)) AS BIGINT) AS epoch_day
          FROM orders)
    ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "range_frame"),
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: count of same-customer orders within ±30 days by order date."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "epoch_day",
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1990-01-01").cast("date"))
        .cast("bigint"),
    )
    w = Window.partitionBy("o_custkey").orderBy("epoch_day").rangeBetween(-30, 30)
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.count(F.lit(1)).over(w).cast("bigint").alias("orders_within_30d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@declare(
    "win_ratio_to_report",
    sql="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS type_value,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(sum(sum(CAST(value AS DECIMAL(18,6))))
                    OVER (PARTITION BY CAST(date_trunc('day', ts) AS DATE))
                    AS DOUBLE) AS share
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
    tags=("window", "ratio-to-report", "aggregation"),
)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO_TO_REPORT: each event type's share of its day's total — a
    window over an aggregate (sum(sum(..)) OVER day). The window reuses
    the groupBy's (day, type) output, so the fact table shuffles once;
    decimal-exact sums make the double division engine-identical."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    g = e.groupBy("day", "event_type").agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("_tv")
    )
    w = Window.partitionBy("day")
    return (
        g.select(
            "day", "event_type",
            F.col("_tv").cast("double").alias("type_value"),
            (
                F.col("_tv").cast("double")
                / F.sum("_tv").over(w).cast("double")
            ).alias("share"),
        )
        .orderBy("day", "event_type")
    )

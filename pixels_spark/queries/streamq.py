"""Declared batch-mode queries for the streaming window operators.

``pixels_spark.streaming.windows`` functions run identically on batch
DataFrames (watermark no-ops), which lets the driver's DuckDB oracle verify
the exact window semantics that the streaming tests exercise statefully.

Oracle mapping: F.window(ts, '1 day') starts align with date_trunc;
sliding windows are the union of two 30-min-offset hourly grids
(every event belongs to exactly window/slide = 2 windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ._common import _sql_dsum
from .registry import declare


@declare(
    "ev_tumbling_daily",
    sql=f"""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
               AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           {_sql_dsum("value")} AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
    tags=("streaming", "window_agg", "time_series"),
)
def ev_tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day window aggregation over events (streaming analog)."""
    # same F.window grouping as streaming.windows.tumbling_agg (whose plain
    # double sums suit streaming but not oracle comparison — decimal here)
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@declare(
    "ev_sliding_hourly",
    sql=f"""
    SELECT window_start, CAST(count(*) AS BIGINT) AS n_events,
           {_sql_dsum("value")} AS total_value
    FROM (SELECT unnest([time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP)),
                         time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
                           - INTERVAL 30 MINUTE]) AS window_start,
                 value
          FROM events)
    GROUP BY window_start
    ORDER BY window_start
    """,
    tags=("streaming", "window_agg", "time_series"),
)
def ev_sliding_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/30-min window aggregation over events."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(F.col("win.start").alias("window_start"), "n_events", "total_value")
        .orderBy("window_start")
    )

"""Reshaping surface: PIVOT / UNPIVOT / GROUPING SETS (SURVEY.md §2.4/§2.8).

The reference's SQL frontend (Calcite via ``PixelsParser.java``) accepts
grouping-sets and pivot-shaped conditional aggregation; ClickBench-style
dashboards pivot event streams into per-category columns constantly. Spark
has first-class operators for all three (``Dataset.groupBy().pivot()``,
``Dataset.unpivot``, ``Dataset.groupingSets`` — all Catalyst-native, no
UDFs), so each query here is a single declarative plan.

Scale notes (100 TB):
- ``pivot`` is called with the EXPLICIT value list — omitting it makes
  Spark run a separate distinct-scan job over the fact table just to
  discover the pivot columns. With explicit values the pivot is one
  ordinary partial+final hash aggregate (one shuffle).
- ``unpivot`` is a narrow map-side expand (no shuffle); row count fans out
  by the number of melted columns, which Catalyst pipelines into the
  downstream aggregate's partial phase.
- ``groupingSets`` expands each input row once per grouping set BEFORE the
  shuffle (Expand operator), so partial aggregation still applies; with 3
  sets the shuffle grows 3x, which beats 3 separate scans of a 100 TB
  fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ._common import _dsum, _sql_dsum
from .registry import declare

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _pivot_sql() -> str:
    pairs = []
    for t in EVENT_TYPES:
        cond = "CASE WHEN event_type = '%s' THEN %s END" % (t, "%s")
        pairs.append(
            _sql_dsum(cond % "value")
            + f" AS {t}_value, "
            + f"CAST(count({cond % '1'}) AS BIGINT) AS {t}_n"
        )
    return (
        "SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
        + ", ".join(pairs)
        + " FROM events GROUP BY day ORDER BY day"
    )


@declare(
    "reshape_pivot",
    sql=_pivot_sql(),
    tags=("reshape", "pivot", "aggregation"),
)
def reshape_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one row per day, one (sum,count) column pair per event_type —
    explicit pivot values so no distinct-discovery job; a single two-phase
    hash aggregate."""
    e = load_table(spark, sf_dir, "events")
    out = (
        e.withColumn("day", F.date_trunc("day", "ts").cast("date"))
        .groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .agg(
            _dsum(F.col("value")).alias("value"),
            # count rows in the cell, not non-null values — must match the
            # oracle's count(CASE WHEN type THEN 1 END) under NULL values
            F.count(F.lit(1)).alias("n"),
        )
    )
    # Spark names pivot output `<value>_<aggalias>`; pin the same names in
    # both engines and interleave per-type pairs in a fixed order.
    cols = ["day"]
    for t in EVENT_TYPES:
        cols += [
            F.col(f"{t}_value"),
            # a (day, type) cell with NO rows is NULL after Spark's pivot
            # but 0 under the oracle's count(CASE ...) — coalesce so an
            # SF whose data misses a cell still cross-matches (ADVICE r5)
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("bigint").alias(f"{t}_n"),
        ]
    return out.select(*cols).orderBy("day")


@declare(
    "reshape_unpivot",
    sql="""
    SELECT p_partkey, metric, val
    FROM (
        SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val
        FROM part
        UNION ALL
        SELECT p_partkey, 'retailprice' AS metric,
               CAST(p_retailprice AS DOUBLE) AS val
        FROM part
    )
    WHERE p_partkey <= 200
    ORDER BY p_partkey, metric
    """,
    tags=("reshape", "unpivot"),
)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide part metrics to long (key, metric, value) rows —
    a map-side Expand, no shuffle; the oracle states the same semantics as
    a UNION ALL."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("size"),
            F.col("p_retailprice").cast("double").alias("retailprice"),
        )
        .unpivot("p_partkey", ["size", "retailprice"], "metric", "val")
        .orderBy("p_partkey", "metric")
    )


@declare(
    "reshape_grouping_sets",
    sql="""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(GROUPING(event_type) * 2 + GROUPING(CAST(date_trunc('day', ts) AS DATE))
                AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY GROUPING SETS ((event_type), (CAST(date_trunc('day', ts) AS DATE)), ())
    ORDER BY gid, event_type, day
    """,
    tags=("reshape", "grouping-sets", "aggregation"),
)
def reshape_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((type),(day),()): three aggregation granularities in
    one pass (Expand -> single shuffle), with grouping_id disambiguating
    the NULL markers."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("date")
    )
    return (
        e.groupingSets(
            [[F.col("event_type")], [F.col("day")], []],
            F.col("event_type"),
            F.col("day"),
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            _dsum(F.col("value")).alias("sum_value"),
        )
        .select("event_type", "day", "gid", "n", "sum_value")
        .orderBy("gid", "event_type", "day")
    )

"""TPC-H Q1-Q22 analogs, adapted to the fixture schema.

The reference validates its SQL frontend on TPC-H Q1-22
(``pixels-parser/src/test/java/io/pixelsdb/pixels/parser/TpchQuery.java:25-46``);
its executor kernels cover scan/filter/project, equi-joins (inner/left/right/
full, broadcast/partitioned/sorted/chain — ``pixels-executor/.../join/``),
and two-phase hash aggregation (``.../aggregation/Aggregator.java``). The
fixture schema (FIXTURES.md) is a TPC-H subset — no ``partsupp``, no
commit/receipt dates, no comment columns — so queries touching those are
*adapted* to equivalent operator shapes on available columns (noted per query).

Implementation style: DataFrame API with manual decorrelation of subqueries
into semi/anti/scalar joins — the same rewrite Calcite performs for the
reference (``PixelsParser.java:306-310`` SUBQUERY_REMOVE_RULES +
``RelDecorrelator``). Catalyst then picks broadcast vs shuffle joins at
runtime; small dims (region/nation/supplier/part) broadcast under the
configured threshold (session.py), mirroring
``PlanOptimizer.getJoinAlgorithm:94-123``.

Determinism: all money aggregations accumulate in DECIMAL(18,6) (exact,
associative → order-independent) and cast the total back to DOUBLE, so
Spark's partition-order-dependent partial aggregation matches the DuckDB
oracle bit-for-bit. See ``_common._dsum``.

Scale notes: every query here is a pure declarative plan — no collect(), no
Python UDFs — so at 100 TB the same code yields shuffle-partitioned hash
aggregation with map-side partials, broadcast joins for dims, and AQE-chosen
shuffle joins for fact-fact. LIMIT queries use global TakeOrderedAndProject
(per-partition top-k + merge), not a full sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ._common import _dsum, _sql_dsum
from .registry import declare


def _ts(s: str) -> Column:
    return F.lit(s).cast("timestamp")


def _disc_price() -> Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_DISC = "l_extendedprice * (1 - l_discount)"


@declare(
    "tpch_q1",
    sql=f"""
    SELECT l_returnflag, l_linestatus,
           {_sql_dsum("l_quantity")}                             AS sum_qty,
           {_sql_dsum("l_extendedprice")}                        AS sum_base_price,
           {_sql_dsum(_DISC)}                                    AS sum_disc_price,
           {_sql_dsum(_DISC + " * (1 + l_tax)")}                 AS sum_charge,
           {_sql_dsum("l_quantity")} / count(*)                  AS avg_qty,
           {_sql_dsum("l_extendedprice")} / count(*)             AS avg_price,
           {_sql_dsum("l_discount")} / count(*)                  AS avg_disc,
           CAST(count(*) AS BIGINT)                              AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("aggregation", "scan", "filter"),
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — pricing summary report: scan + wide aggregation (sum/avg/count).
    Exercises the reference's partial+final hash agg (Aggregator.java:163,
    BaseScanWorker.java:97-119 scan-side partials) — automatic in Spark.
    """
    l = load_table(spark, sf_dir, "lineitem")
    cnt = F.count(F.lit(1))
    return (
        l.filter(F.col("l_shipdate") <= _ts("1998-09-02 00:00:00"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dsum(_disc_price()).alias("sum_disc_price"),
            _dsum(_disc_price() * (1 + F.col("l_tax"))).alias("sum_charge"),
            (_dsum(F.col("l_quantity")) / cnt).alias("avg_qty"),
            (_dsum(F.col("l_extendedprice")) / cnt).alias("avg_price"),
            (_dsum(F.col("l_discount")) / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@declare(
    "tpch_q2",
    sql="""
    SELECT p_partkey, p_name, p_type, p_retailprice
    FROM part
    WHERE p_size < 25
      AND p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                           WHERE p2.p_type = part.p_type)
    ORDER BY p_partkey
    """,
    tags=("scalar_subquery", "join"),
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 analog — min-cost scalar subquery. Original needs partsupp; adapted to
    "parts priced at the minimum for their type". Decorrelated into an
    aggregate + equi-join on (p_type, min price).
    """
    p = load_table(spark, sf_dir, "part")
    min_price = p.groupBy(F.col("p_type").alias("mp_type")).agg(
        F.min("p_retailprice").alias("min_price")
    )
    return (
        p.filter(F.col("p_size") < 25)
        .join(
            F.broadcast(min_price),
            (F.col("p_type") == F.col("mp_type"))
            & (F.col("p_retailprice") == F.col("min_price")),
        )
        .select("p_partkey", "p_name", "p_type", "p_retailprice")
        .orderBy("p_partkey")
    )


@declare(
    "tpch_q3",
    sql=f"""
    SELECT l_orderkey,
           {_sql_dsum(_DISC)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING'
      AND c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "aggregation", "topk"),
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 — shipping priority: 3-way join + agg + top-k. o_shippriority is absent;
    grouped by o_orderpriority instead.
    """
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < _ts("1996-03-15 00:00:00")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > _ts("1996-03-15 00:00:00")
    )
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum(_disc_price()).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@declare(
    "tpch_q4",
    sql="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("semi_join", "aggregation"),
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 — order priority checking. Original EXISTS uses commitdate<receiptdate
    (absent); adapted: a lineitem shipped after the order date. EXISTS → left-
    semi join (Calcite decorrelation ≈ PixelsParser.java:306-310; the reference
    kernel itself has no semi-join — Joiner.java:44-45).
    """
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-07-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1996-10-01 00:00:00"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(
            l,
            (o["o_orderkey"] == l["l_orderkey"]) & (l["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@declare(
    "tpch_q5",
    sql=f"""
    SELECT n_name, {_sql_dsum(_DISC)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    tags=("chain_join", "aggregation"),
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 — local supplier volume: 6-way chain join (≈ the reference's
    BROADCAST_CHAIN plan, BaseBroadcastChainJoinWorker.java:71 /
    PixelsPlanner.getMultiPipelineJoinOperator:357) — Catalyst composes the
    chain of broadcasts automatically.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1997-01-01 00:00:00"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (l["l_suppkey"] == s["s_suppkey"]) & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(_dsum(_disc_price()).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@declare(
    "tpch_q6",
    sql=f"""
    SELECT {_sql_dsum("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("scan", "filter", "aggregation"),
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 — forecasting revenue change: pure scan + domain filters (range +
    BETWEEN ≈ ColumnFilter ranges, pixels-executor/.../predicate/
    ColumnFilter.java:69-220) + ungrouped agg. All three predicates push to the
    parquet scan.
    """
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
            & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


@declare(
    "tpch_q7",
    sql=f"""
    SELECT supp_nation, cust_nation, l_year, {_sql_dsum("volume")} AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                               AND TIMESTAMP '1996-12-31 00:00:00') shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
    tags=("join", "self_join", "aggregation", "scalar"),
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 — volume shipping: self-joined dim (nation × 2) + disjunctive pair
    filter + extract(year).
    """
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(_ts("1995-01-01 00:00:00"), _ts("1996-12-31 00:00:00"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), s["s_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(n2), c["c_nationkey"] == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            _disc_price().alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_dsum(F.col("volume")).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@declare(
    "tpch_q8",
    sql=f"""
    SELECT o_year,
           {_sql_dsum("CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END")}
           / {_sql_dsum("volume")} AS mkt_share
    FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount) AS volume,
                 n2.n_name AS nation
          FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
               region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
            AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
            AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                AND TIMESTAMP '1996-12-31 00:00:00'
            AND p_type = 'ECONOMY') all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
    tags=("chain_join", "case_when", "aggregation"),
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 — market share: 7-table join + conditional aggregation ratio (CASE WHEN
    inside sum ≈ AGGREGATE_CASE_TO_FILTER, PixelsParser.java:270).
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(_ts("1995-01-01 00:00:00"), _ts("1996-12-31 00:00:00"))
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), c["c_nationkey"] == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r["r_regionkey"])
        .join(F.broadcast(n2), s["s_nationkey"] == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _disc_price().alias("volume"),
            "nation",
        )
    )
    return (
        vol.groupBy("o_year")
        .agg(
            (
                _dsum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0.0))
                / _dsum(F.col("volume"))
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@declare(
    "tpch_q9",
    sql=f"""
    SELECT nation, o_year, {_sql_dsum("amount")} AS sum_profit
    FROM (SELECT n_name AS nation,
                 CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                 l_extendedprice * (1 - l_discount) AS amount
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year
    """,
    tags=("join", "like", "aggregation"),
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 — product-type profit analog (no partsupp → profit = discounted price);
    LIKE filter on p_name + extract(year) + group by nation/year.
    """
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _disc_price().alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(_dsum(F.col("amount")).alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


@declare(
    "tpch_q10",
    sql=f"""
    SELECT c_custkey, c_name,
           {_sql_dsum(_DISC)} AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "aggregation", "topk"),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 — returned item reporting: join + agg + top-20 by revenue.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ts("1996-04-01 00:00:00"))
    )
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dsum(_disc_price()).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@declare(
    "tpch_q11",
    sql=f"""
    SELECT n_name, {_sql_dsum("s_acctbal")} AS total_value
    FROM supplier, nation
    WHERE s_nationkey = n_nationkey
    GROUP BY n_name
    HAVING {_sql_dsum("s_acctbal")} >
           (SELECT {_sql_dsum("s_acctbal")} * 0.03 FROM supplier)
    ORDER BY total_value DESC, n_name
    """,
    tags=("having", "scalar_subquery", "aggregation"),
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 analog — important value by nation (no partsupp → supplier acctbal):
    HAVING against an uncorrelated scalar subquery over the whole table.
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    threshold = s.agg((_dsum(F.col("s_acctbal")) * 0.03).alias("threshold"))
    per_nation = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(_dsum(F.col("s_acctbal")).alias("total_value"))
    )
    # uncorrelated scalar subquery → broadcast cross-join of a 1-row aggregate
    return (
        per_nation.crossJoin(F.broadcast(threshold))
        .filter(F.col("total_value") > F.col("threshold"))
        .select("n_name", "total_value")
        .orderBy(F.col("total_value").desc(), "n_name")
    )


@declare(
    "tpch_q12",
    sql="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
                           OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
                          AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM orders, lineitem
    WHERE o_orderkey = l_orderkey
      AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("join", "case_when", "aggregation"),
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog — priority class counts by line status (l_shipmode absent): CASE
    WHEN inside sums over a fact-fact join.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@declare(
    "tpch_q13",
    sql="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '%URGENT%'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    tags=("outer_join", "not_like", "aggregation"),
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 — customer order-count distribution: LEFT OUTER join with an extra
    join-side predicate, two-level aggregation. (Outer-null padding ≈
    HashJoiner.writeLeftOuter, pixels-executor/.../join/HashJoiner.java:129.)
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (~o["o_orderpriority"].like("%URGENT%")),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@declare(
    "tpch_q14",
    sql=f"""
    SELECT 100.00 * {_sql_dsum(f"CASE WHEN p_type LIKE 'PROMO%' THEN {_DISC} ELSE 0 END")}
           / {_sql_dsum(_DISC)} AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
    tags=("join", "case_when", "like", "aggregation"),
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 — promotion effect: conditional-sum ratio over a join.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-09-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1996-10-01 00:00:00"))
    )
    p = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type").like("PROMO%"), _disc_price()).otherwise(0.0)
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .agg(
            (F.lit(100.0) * _dsum(promo) / _dsum(_disc_price())).alias("promo_revenue")
        )
    )


@declare(
    "tpch_q15",
    sql=f"""
    WITH revenue AS (SELECT l_suppkey AS supplier_no,
                            {_sql_dsum(_DISC)} AS total_revenue
                     FROM lineitem
                     WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                       AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
                     GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
    tags=("scalar_subquery", "join", "aggregation"),
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 — top supplier: CTE revenue view + max scalar subquery.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1996-04-01 00:00:00"))
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dsum(_disc_price()).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(revenue, s["s_suppkey"] == revenue["supplier_no"])
        .crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@declare(
    "tpch_q16",
    sql="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#1' AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_name LIKE '%3%')
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("distinct_agg", "anti_join", "in_list"),
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 analog — supplier count per part attribute (lineitem bridges part↔
    supplier in lieu of partsupp): COUNT(DISTINCT) + NOT IN subquery → anti
    join (≈ AGGREGATE_EXPAND_DISTINCT_AGGREGATES, PixelsParser.java:268).
    """
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("MEDIUM%"))
        & F.col("p_size").isin(1, 4, 7, 10, 14, 19, 23, 36, 45, 49)
    )
    l = load_table(spark, sf_dir, "lineitem")
    excluded = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").like("%3%")
    ).select("s_suppkey")
    return (
        l.join(F.broadcast(excluded), l["l_suppkey"] == excluded["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@declare(
    "tpch_q17",
    sql=f"""
    SELECT {_sql_dsum("l_extendedprice")} / 7.0 AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#3'
      AND l_quantity < (SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = p_partkey)
    """,
    tags=("correlated_subquery", "join", "aggregation"),
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 — small-quantity-order revenue: correlated scalar subquery (per-part
    avg) decorrelated into an aggregate + join. The avg threshold is exact:
    l_quantity is integer-valued, so sum/count is order-independent in double.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    part_avg = l.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .join(part_avg, F.col("l_partkey") == F.col("pa_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg((_dsum(F.col("l_extendedprice")) / 7.0).alias("avg_yearly"))
    )


@declare(
    "tpch_q18",
    sql="""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           sum(l_quantity) AS sum_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    tags=("semi_join", "having", "topk"),
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The HAVING subquery is evaluated as a window sum over l_orderkey
    # instead of a separate aggregate + semi join: lineitem shuffles on the
    # order key ONCE (window), the qualifying rows flow straight into the
    # orders/customer joins — one fewer full-fact shuffle than the naive
    # decorrelation, which is the plan you want at 100 TB. Quantity sums are
    # integer-valued doubles (exact), so window-sum == group-sum bitwise.
    """Q18 — large-volume customers: IN subquery with HAVING → semi join. Quantity
    sums are integer-valued doubles — exact, no decimal needed.
    """
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    big_items = l.withColumn("tot_qty", F.sum("l_quantity").over(w)).filter(
        F.col("tot_qty") > 150
    )
    return (
        big_items.join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


@declare(
    "tpch_q19",
    sql=f"""
    SELECT {_sql_dsum(_DISC)} AS revenue
    FROM lineitem, part
    WHERE (p_partkey = l_partkey AND p_brand = 'Brand#2'
           AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_partkey = l_partkey AND p_brand = 'Brand#3'
           AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_partkey = l_partkey AND p_brand = 'Brand#4'
           AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
    tags=("join", "disjunctive_filter", "aggregation"),
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 — discounted revenue: disjunction of conjunctive range predicates
    (p_container absent → brand/size/quantity ranges). The reference's pushdown
    domain model can't express this OR (TableScanFilter is conjunctive-only,
    pixels-executor/.../predicate/TableScanFilter.java:40) — host engine
    evaluates; in Spark it's one post-join filter.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
    cond = (
        (
            (F.col("p_brand") == "Brand#2")
            & F.col("l_quantity").between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("l_quantity").between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#4")
            & F.col("l_quantity").between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return joined.filter(cond).agg(_dsum(_disc_price()).alias("revenue"))


@declare(
    "tpch_q20",
    sql="""
    SELECT s_name, s_nationkey
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem, part
                        WHERE l_partkey = p_partkey AND p_name LIKE 'small%'
                          AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                        GROUP BY l_suppkey HAVING sum(l_quantity) > 100)
      AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    ORDER BY s_name
    """,
    tags=("semi_join", "having", "like"),
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 analog — nested IN subqueries → chained semi joins (lineitem bridges
    part→supplier; no partsupp availability check).
    """
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ts("1997-01-01 00:00:00"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    qualified = (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("tot_qty"))
        .filter(F.col("tot_qty") > 100)
        .select("l_suppkey")
    )
    nations = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 2)
        .select("n_nationkey")
    )
    return (
        s.join(qualified, s["s_suppkey"] == qualified["l_suppkey"], "left_semi")
        .join(F.broadcast(nations), s["s_nationkey"] == nations["n_nationkey"], "left_semi")
        .select("s_name", "s_nationkey")
        .orderBy("s_name")
    )


@declare(
    "tpch_q21",
    sql="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier, lineitem l1, orders
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
    tags=("semi_join", "anti_join", "aggregation", "topk"),
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXISTS/NOT EXISTS over "other suppliers in the same order" evaluated
    # without the naive 3-pass self-join: per-(order, supplier) max shipdate
    # (one lineitem shuffle), then per-order windows derive, for each
    # supplier, the max shipdate among the OTHER suppliers:
    #   M = mx            if this supplier isn't the unique holder of mx
    #     = second max    if it is
    # A row waits iff the order has ≥2 suppliers (EXISTS) and its shipdate
    # ≥ M (NOT EXISTS later other-supplier shipment). Two lineitem-wide
    # shuffles total vs three semi/anti passes — the shape that matters
    # when lineitem is the 100 TB fact.
    """Q21 analog — suppliers who shipped last in multi-supplier 'F' orders:
    EXISTS → semi join, NOT EXISTS → anti join on an inequality condition.
    """
    from pyspark.sql import Window

    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")

    per_os = l.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("ms")
    )
    w = Window.partitionBy("l_orderkey")
    enriched = (
        per_os.withColumn("mx", F.max("ms").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_at_mx",
            F.sum(F.when(F.col("ms") == F.col("mx"), 1).otherwise(0)).over(w),
        )
        .withColumn(
            "mx2", F.max(F.when(F.col("ms") < F.col("mx"), F.col("ms"))).over(w)
        )
    )
    other_max = F.when(
        (F.col("ms") < F.col("mx")) | (F.col("n_at_mx") > 1), F.col("mx")
    ).otherwise(F.col("mx2"))
    qual = (
        enriched.filter(F.col("n_supp") >= 2)
        .withColumn("other_max", other_max)
        .select(
            F.col("l_orderkey").alias("q_orderkey"),
            F.col("l_suppkey").alias("q_suppkey"),
            "other_max",
        )
    )
    waiting = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"], "left_semi")
        .join(
            qual,
            (F.col("l_orderkey") == F.col("q_orderkey"))
            & (F.col("l_suppkey") == F.col("q_suppkey")),
        )
        .filter(F.col("l_shipdate") >= F.col("other_max"))
    )
    return (
        waiting.join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(100)
    )


@declare(
    "tpch_q22",
    sql=f"""
    SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
           {_sql_dsum("c_acctbal")} AS totacctbal
    FROM (SELECT substring(c_name, 10, 2) AS cntrycode, c_acctbal, c_custkey
          FROM customer
          WHERE substring(c_name, 10, 2) IN ('00', '01', '02', '03', '04')
            AND c_acctbal > (SELECT {_sql_dsum("c_acctbal")} / count(*)
                             FROM customer WHERE c_acctbal > 0.00)) custsale
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
    tags=("anti_join", "scalar_subquery", "substring", "aggregation"),
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 — global sales opportunity: substring buckets, uncorrelated scalar
    subquery (avg), NOT EXISTS → anti join. avg threshold uses the decimal
    accumulation so both engines compare against the identical double.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (_dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("avg_bal")
    )
    code = F.substring(F.col("c_name"), 10, 2)
    return (
        c.withColumn("cntrycode", code)
        .filter(F.col("cntrycode").isin("00", "01", "02", "03", "04"))
        .crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, F.col("c_custkey") == o["o_custkey"], "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )

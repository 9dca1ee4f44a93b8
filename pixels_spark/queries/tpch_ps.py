"""TPC-H partsupp family with REAL partsupp semantics (Q2/Q9/Q11/Q16/Q20).

The fixture has no partsupp table, so rounds 1-5 shipped equivalent-shape
adaptations of the four partsupp queries (queries/tpch.py, documented in
FIXTURES.md). This module closes that gap: a ``partsupp`` relation is
DERIVED deterministically from part × a 4-row VALUES list — the dbgen
convention of 4 suppliers per part with formula-driven availqty/supplycost
(reference texts: ``pixels-parser/.../TpchQuery.java:26,35,40,44``) — with
the IDENTICAL formula stated in the Spark builder and in every oracle's
SQL CTE, so the driver cross-checks the real query shapes end-to-end:

    ps_partkey    = p_partkey
    ps_suppkey    = (p_partkey*7 + i*13) % (SELECT count(*) FROM supplier)
    ps_availqty   = (p_partkey*37 + i*101) % 9999 + 1
    ps_supplycost = ((p_partkey*53 + i*19) % 100000) / 100.0      i ∈ 0..3

Supplier keys are dense 0..S-1 in the fixture, so the modulo lands on real
suppliers; 13·i is distinct mod S for the fixture sizes, giving 4 distinct
suppliers per part like dbgen. ps_supplycost is an integer/100 double —
bit-identical across engines — and every money aggregate goes through the
DECIMAL(18,6) pin so sums are order-independent.

Residual fixture adaptations (scalar columns only, shapes intact):
Q2 omits p_mfgr/s_address/s_phone/s_comment from the SELECT (absent
columns); Q16's NOT IN supplier predicate uses ``s_suppkey % 17 = 0``
instead of a comment LIKE (no s_comment column); Q20 selects s_name only.

Scale notes: partsupp is a 4× map-side expansion of part (no shuffle to
build — the VALUES side is a literal, the supplier count a scalar). Q2 is
a window-free min-cost-per-part via self-aggregation + equality join; Q11
aggregates partsupp once and broadcasts the scalar threshold; Q16's NOT IN
is a broadcast anti-join; Q20's correlated sum is one lineitem aggregate
joined back — the canonical decorrelated plans for these queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ._common import _dsum, _sql_dsum
from .registry import declare

_PS_CTE = """
WITH partsupp AS (
  SELECT p_partkey AS ps_partkey,
         (p_partkey * 7 + i * 13) % (SELECT count(*) FROM supplier)
             AS ps_suppkey,
         CAST((p_partkey * 37 + i * 101) % 9999 + 1 AS BIGINT) AS ps_availqty,
         CAST((p_partkey * 53 + i * 19) % 100000 AS DOUBLE) / 100
             AS ps_supplycost,
         p_brand, p_type, p_size, p_name
  FROM part, (VALUES (0), (1), (2), (3)) AS t(i))
"""


def load_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The derived partsupp relation (same formula as _PS_CTE), carrying
    the part attributes the queries need so no re-join with part is
    required. The supplier count is a scalar (one tiny agg)."""
    p = load_table(spark, sf_dir, "part")
    s_count = load_table(spark, sf_dir, "supplier").count()
    k = F.col("p_partkey")
    i = F.col("i")
    return p.select(
        "p_partkey", "p_brand", "p_type", "p_size", "p_name",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("i"),
    ).select(
        k.alias("ps_partkey"),
        ((k * 7 + i * 13) % F.lit(s_count)).alias("ps_suppkey"),
        ((k * 37 + i * 101) % 9999 + 1).cast("bigint").alias("ps_availqty"),
        (((k * 53 + i * 19) % 100000).cast("double") / 100).alias("ps_supplycost"),
        "p_brand", "p_type", "p_size", "p_name",
    )


@declare(
    "tpch_q2_ps",
    sql=_PS_CTE
    + """
    , asia_cost AS (
      SELECT ps.ps_partkey, min(ps.ps_supplycost) AS min_cost
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA'
      GROUP BY ps.ps_partkey)
    SELECT s.s_acctbal, s.s_name, n.n_name, ps.ps_partkey AS p_partkey
    FROM partsupp ps
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    JOIN asia_cost ac ON ac.ps_partkey = ps.ps_partkey
                     AND ps.ps_supplycost = ac.min_cost
    WHERE r.r_name = 'ASIA' AND ps.p_size = 3 AND ps.p_type LIKE '%DARD'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p_partkey
    LIMIT 100
    """,
    tags=("tpch", "partsupp", "correlated_subquery"),
)
def tpch_q2_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 with REAL partsupp semantics (minimum-cost supplier per
    part within a region, correlated-min decorrelated into an aggregate +
    equality join — TpchQuery.java:26). Double equality on min_cost is
    safe: both sides pick from the same bit-identical value set."""
    ps = load_partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_ps = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    min_cost = (
        asia_ps.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost").alias("min_cost"))
        .withColumnRenamed("ps_partkey", "_mk")  # avoid self-join ambiguity
    )
    return (
        asia_ps.filter((F.col("p_size") == 3) & F.col("p_type").like("%DARD"))
        .join(
            min_cost,
            (F.col("ps_partkey") == F.col("_mk"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@declare(
    "tpch_q11_ps",
    sql=_PS_CTE
    + f"""
    , nat_ps AS (
      SELECT ps.ps_partkey, ps.ps_supplycost, ps.ps_availqty
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3')
    SELECT ps_partkey,
           {_sql_dsum("ps_supplycost * ps_availqty")} AS val
    FROM nat_ps
    GROUP BY ps_partkey
    HAVING {_sql_dsum("ps_supplycost * ps_availqty")} >
           (SELECT {_sql_dsum("ps_supplycost * ps_availqty")} * 0.0001
            FROM nat_ps)
    ORDER BY val DESC, ps_partkey
    """,
    tags=("tpch", "partsupp", "having", "scalar_subquery"),
)
def tpch_q11_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 with REAL partsupp semantics (important-stock parts: value
    per part vs a fraction of the nation's total — TpchQuery.java:35).
    Full reference shape, zero column adaptations; the scalar threshold is
    a broadcast, the nation-filtered partsupp is aggregated once."""
    ps = load_partsupp(spark, sf_dir)
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    nat_ps = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("ps_partkey", "ps_supplycost", "ps_availqty")
    )
    val = _dsum(F.col("ps_supplycost") * F.col("ps_availqty"))
    per_part = nat_ps.groupBy("ps_partkey").agg(val.alias("val"))
    threshold = nat_ps.agg((val * 0.0001).alias("_t"))
    return (
        per_part.join(F.broadcast(threshold))
        .filter(F.col("val") > F.col("_t"))
        .select("ps_partkey", "val")
        .orderBy(F.col("val").desc(), "ps_partkey")
    )


@declare(
    "tpch_q16_ps",
    sql=_PS_CTE
    + """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
    FROM partsupp
    WHERE p_brand <> 'Brand#9'
      AND p_type NOT LIKE 'LARGE%'
      AND p_size IN (4, 7, 12, 19)
      AND ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_suppkey % 17 = 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    tags=("tpch", "partsupp", "not_in", "distinct_agg"),
)
def tpch_q16_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 with REAL partsupp semantics (supplier count per
    brand/type/size excluding flagged suppliers — TpchQuery.java:40; the
    NOT IN predicate is on s_suppkey %% 17 instead of a comment LIKE, the
    fixture has no s_comment). NOT IN over a non-null key == broadcast
    anti-join."""
    ps = load_partsupp(spark, sf_dir)
    flagged = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") % 17 == 0)
        .select(F.col("s_suppkey").alias("ps_suppkey"))
    )
    return (
        ps.filter(
            (F.col("p_brand") != "Brand#9")
            & ~F.col("p_type").like("LARGE%")
            & F.col("p_size").isin(4, 7, 12, 19)
        )
        .join(F.broadcast(flagged), "ps_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@declare(
    "tpch_q20_ps",
    sql=_PS_CTE
    + f"""
    , qty AS (
      SELECT l_partkey, l_suppkey,
             {_sql_dsum("l_quantity")} * 0.5 AS half_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l_partkey, l_suppkey)
    SELECT DISTINCT s.s_name
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_1'
      AND s.s_suppkey IN (
        SELECT ps.ps_suppkey
        FROM partsupp ps
        JOIN qty q ON q.l_partkey = ps.ps_partkey
                  AND q.l_suppkey = ps.ps_suppkey
        WHERE ps.p_name LIKE 'small%'
          AND ps.ps_availqty > q.half_qty)
    ORDER BY s.s_name
    """,
    tags=("tpch", "partsupp", "correlated_subquery", "semi_join"),
)
def tpch_q20_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 with REAL partsupp semantics (suppliers with excess stock
    of selected parts — TpchQuery.java:44): the correlated
    0.5*sum(l_quantity) subquery decorrelates into one lineitem aggregate
    joined back on (partkey, suppkey); empty correlation groups drop out
    exactly like SQL's NULL comparison. IN == left-semi join."""
    ps = load_partsupp(spark, sf_dir).filter(F.col("p_name").like("small%"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    qty = li.groupBy("l_partkey", "l_suppkey").agg(
        (_dsum(F.col("l_quantity")) * 0.5).alias("half_qty")
    )
    excess = (
        ps.join(
            qty,
            (ps.ps_partkey == qty.l_partkey) & (ps.ps_suppkey == qty.l_suppkey),
        )
        .filter(F.col("ps_availqty") > F.col("half_qty"))
        .select("ps_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            excess.withColumnRenamed("ps_suppkey", "s_suppkey"),
            "s_suppkey",
            "left_semi",
        )
        .select("s_name")
        .distinct()
        .orderBy("s_name")
    )


@declare(
    "tpch_q9_ps",
    sql=_PS_CTE
    + f"""
    SELECT nation, o_year,
           {_sql_dsum("amount")} AS sum_profit
    FROM (SELECT n.n_name AS nation,
                 CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
                 l.l_extendedprice * (1 - l.l_discount)
                   - ps.ps_supplycost * l.l_quantity AS amount
          FROM lineitem l
          JOIN partsupp ps ON ps.ps_suppkey = l.l_suppkey
                          AND ps.ps_partkey = l.l_partkey
          JOIN orders o ON o.o_orderkey = l.l_orderkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          WHERE ps.p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    ORDER BY nation, o_year
    """,
    tags=("tpch", "partsupp", "join", "aggregation"),
)
def tpch_q9_ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 with REAL profit semantics (TpchQuery.java:34): profit =
    revenue - ps_supplycost * quantity, which needs the (partkey, suppkey)
    partsupp row the plain q9 analog had to do without. The 6-relation
    join: lineitem shuffles once on (partkey, suppkey) against the derived
    partsupp (fact-to-fact at 100 TB — the one SMJ this family needs);
    orders co-shuffles on orderkey; supplier/nation broadcast."""
    ps = load_partsupp(spark, sf_dir).filter(F.col("p_name").like("%red%"))
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("ps_supplycost") * F.col("l_quantity")
    )
    return (
        li.join(
            ps,
            (li.l_suppkey == ps.ps_suppkey) & (li.l_partkey == ps.ps_partkey),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(_dsum(F.col("amount")).alias("sum_profit"))
        .orderBy("nation", "o_year")
    )

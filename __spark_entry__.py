"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry runs through the quokka_spark engine (the
facade over PySpark built in this repo); ``oracle_sql()`` holds the
equivalent DuckDB SQL. Column names and float rounding match exactly
on both sides (the driver hash-compares values with columns sorted by
name).

Query inventory follows SURVEY.md §2 plus the LLM-data extension ops
(dedup / similarity / text analysis / time-series).

Float rounding policy (cross-engine hash stability): every rounded sum
uses the EXACT decimal grid of its inputs — 2dp for raw money columns,
4dp for price*(1-discount) products — so true values land ON grid
points, never on rounding midpoints. Rounding coarser than the grid
would put ~1% of sums exactly on a midpoint, where last-ulp float
noise flips Spark and DuckDB to different sides (observed on tpch_q10
before this rule). Continuous values (averages, ratios, percentiles)
may round anywhere; sketch/approximate outputs are rows-only.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _qc(spark: SparkSession):
    from quokka_spark import QuokkaContext
    return QuokkaContext(spark=spark)


def _t(qc, sf_dir: str, name: str):
    return qc.read_parquet(f"{sf_dir}/{name}.parquet")


def _ts(qc, sf_dir: str, name: str, sorted_by: str):
    return qc.read_sorted_parquet(f"{sf_dir}/{name}.parquet", sorted_by=sorted_by)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 through the engine at sf0.001."""
    return tpch_q1(spark, "/root/testdata/sf0.001")


# ======================================================================
# TPC-H suite (adapted to the driver's slimmed schemas, FIXTURES.md §1)
# ======================================================================

def tpch_q1(spark, sf_dir):
    qc = _qc(spark)
    d = _t(qc, sf_dir, "lineitem").filter_sql("l_shipdate <= date '1998-09-02'")
    d = d.with_columns_sql(
        "l_extendedprice * (1 - l_discount) as disc_price, "
        "l_extendedprice * (1 - l_discount) * (1 + l_tax) as charge")
    f = d.groupby(["l_returnflag", "l_linestatus"]).agg_sql("""
        round(sum(l_quantity), 2) as sum_qty,
        round(sum(l_extendedprice), 2) as sum_base_price,
        round(sum(disc_price), 4) as sum_disc_price,
        round(sum(charge), 2) as sum_charge,
        round(avg(l_quantity), 4) as avg_qty,
        round(avg(l_extendedprice), 4) as avg_price,
        round(avg(l_discount), 6) as avg_disc,
        count(*) as count_order
    """)
    return f.df


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def tpch_q3(spark, sf_dir):
    qc = _qc(spark)
    cust = _t(qc, sf_dir, "customer").filter_sql("c_mktsegment = 'BUILDING'")
    orders = _t(qc, sf_dir, "orders").filter_sql("o_orderdate < date '1998-07-01'")
    li = _t(qc, sf_dir, "lineitem").filter_sql("l_shipdate > date '1998-07-01'")
    j = cust.join(orders, left_on="c_custkey", right_on="o_custkey") \
            .join(li, left_on="o_orderkey", right_on="l_orderkey")
    rev = j.with_columns_sql("l_extendedprice * (1 - l_discount) as rev") \
           .groupby(["o_orderkey", "o_orderdate"]).agg_sql("sum(rev) as revenue")
    top = rev.top_k(["revenue", "o_orderkey"], 10, descending=[True, False])
    return top.df.select(
        F.col("o_orderkey").alias("l_orderkey"),
        F.round("revenue", 4).alias("revenue"), "o_orderdate")


_Q3_SQL = """
SELECT o_orderkey AS l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-07-01' AND l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, o_orderkey LIMIT 10
"""


def tpch_q4(spark, sf_dir):
    qc = _qc(spark)
    orders = _t(qc, sf_dir, "orders").df
    li = _t(qc, sf_dir, "lineitem").df
    # EXISTS-shaped: left-semi join keeps each order at most once, so
    # the (o_orderkey, o_orderpriority) dedup shuffle disappears — the
    # semi join never materializes duplicate matches in the first
    # place. 3 exchanges -> 2.
    late = orders.join(
        li, (orders["o_orderkey"] == li["l_orderkey"]) &
            (li["l_shipdate"] > F.date_add(orders["o_orderdate"], 60)),
        "left_semi")
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count"))


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count FROM (
  SELECT DISTINCT o_orderkey, o_orderpriority
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
) GROUP BY o_orderpriority
"""


def tpch_q5(spark, sf_dir):
    qc = _qc(spark)
    j = (_t(qc, sf_dir, "region").filter_sql("r_name = 'ASIA'")
         .join(_t(qc, sf_dir, "nation"), left_on="r_regionkey", right_on="n_regionkey")
         .join(_t(qc, sf_dir, "supplier"), left_on="n_nationkey", right_on="s_nationkey")
         .join(_t(qc, sf_dir, "lineitem"), left_on="s_suppkey", right_on="l_suppkey")
         .join(_t(qc, sf_dir, "orders"), left_on="l_orderkey", right_on="o_orderkey")
         .join(_t(qc, sf_dir, "customer"), left_on="o_custkey", right_on="c_custkey")
         .filter_sql("c_nationkey = n_nationkey")
         .filter_sql("o_orderdate >= date '1996-01-01' and o_orderdate < date '1997-01-01'"))
    out = j.with_columns_sql("l_extendedprice * (1 - l_discount) as rev") \
           .groupby(["n_name"]).agg_sql("round(sum(rev), 4) as revenue")
    return out.df


_Q5_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM region, nation, supplier, lineitem, orders, customer
WHERE r_name = 'ASIA' AND r_regionkey = n_regionkey AND n_nationkey = s_nationkey
  AND s_suppkey = l_suppkey AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def tpch_q6(spark, sf_dir):
    qc = _qc(spark)
    out = _t(qc, sf_dir, "lineitem").filter_sql(
        "l_shipdate >= date '1996-01-01' and l_shipdate < date '1997-01-01' "
        "and l_discount between 0.03 and 0.07 and l_quantity < 24") \
        .agg_sql("round(sum(l_extendedprice * l_discount), 4) as revenue")
    return out.df


_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
"""


def tpch_q7(spark, sf_dir):
    # Join ORDER (optimization round 13, guide §3.3): attach the
    # nation names to supplier/customer BEFORE the lineitem probe.
    # Catalyst derives the per-side IN filters from the cross-side OR
    # and pushes them into both nation scans under either order, but
    # with the supplier→lineitem-first chain every lineitem row
    # probed supplier/orders/customer before ~92% died at the LATE
    # nation joins; nation-filtered supplier (2 of 25 nations) now
    # kills those rows at the FIRST broadcast probe. Same joins, same
    # final OR filter, identical results (oracle-gated).
    qc = _qc(spark)
    n1 = _t(qc, sf_dir, "nation").rename({"n_nationkey": "n1_key", "n_name": "supp_nation"})
    n2 = _t(qc, sf_dir, "nation").rename({"n_nationkey": "n2_key", "n_name": "cust_nation"})
    sup = _t(qc, sf_dir, "supplier") \
        .join(n1.select(["n1_key", "supp_nation"]), left_on="s_nationkey", right_on="n1_key")
    cus = _t(qc, sf_dir, "customer") \
        .join(n2.select(["n2_key", "cust_nation"]), left_on="c_nationkey", right_on="n2_key")
    j = (sup
         .join(_t(qc, sf_dir, "lineitem"), left_on="s_suppkey", right_on="l_suppkey")
         .join(_t(qc, sf_dir, "orders"), left_on="l_orderkey", right_on="o_orderkey")
         .join(cus, left_on="o_custkey", right_on="c_custkey")
         .filter_sql("((supp_nation = 'NATION_1' and cust_nation = 'NATION_2') or "
                     "(supp_nation = 'NATION_2' and cust_nation = 'NATION_1'))")
         .filter_sql("l_shipdate >= date '1996-01-01' and l_shipdate < date '1998-01-01'"))
    out = j.with_columns_sql(
        "cast(year(l_shipdate) as bigint) as l_year, "
        "l_extendedprice * (1 - l_discount) as volume") \
        .groupby(["supp_nation", "cust_nation", "l_year"]) \
        .agg_sql("round(sum(volume), 4) as revenue")
    return out.df


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM supplier, lineitem, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
       (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
"""


def tpch_q8(spark, sf_dir):
    qc = _qc(spark)
    n1 = _t(qc, sf_dir, "nation").rename({"n_nationkey": "n1_key", "n_name": "cust_nation",
                                          "n_regionkey": "n1_region"})
    n2 = _t(qc, sf_dir, "nation").rename({"n_nationkey": "n2_key", "n_name": "supp_nation"})
    j = (_t(qc, sf_dir, "part").filter_sql("p_type = 'ECONOMY'")
         .join(_t(qc, sf_dir, "lineitem"), left_on="p_partkey", right_on="l_partkey")
         .join(_t(qc, sf_dir, "orders"), left_on="l_orderkey", right_on="o_orderkey")
         .join(_t(qc, sf_dir, "customer"), left_on="o_custkey", right_on="c_custkey")
         .join(_t(qc, sf_dir, "supplier"), left_on="l_suppkey", right_on="s_suppkey")
         .join(n1.select(["n1_key", "n1_region"]), left_on="c_nationkey", right_on="n1_key")
         .join(_t(qc, sf_dir, "region").filter_sql("r_name = 'AMERICA'"),
               left_on="n1_region", right_on="r_regionkey")
         .join(n2.select(["n2_key", "supp_nation"]), left_on="s_nationkey", right_on="n2_key"))
    out = j.with_columns_sql(
        "cast(year(o_orderdate) as bigint) as o_year, "
        "l_extendedprice * (1 - l_discount) as volume") \
        .groupby(["o_year"]) \
        .agg_sql("round(sum(case when supp_nation = 'NATION_3' then volume else 0 end) "
                 "/ sum(volume), 6) as mkt_share")
    return out.df


_Q8_SQL = """
SELECT year(o_orderdate) AS o_year,
       round(sum(CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
FROM part, lineitem, orders, customer, supplier, nation n1, region, nation n2
WHERE p_type = 'ECONOMY' AND p_partkey = l_partkey AND l_orderkey = o_orderkey
  AND o_custkey = c_custkey AND l_suppkey = s_suppkey
  AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
  AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
GROUP BY 1
"""


def tpch_q9(spark, sf_dir):
    qc = _qc(spark)
    j = (_t(qc, sf_dir, "part").filter(_t(qc, sf_dir, "part")["p_name"].str.contains("red"))
         .join(_t(qc, sf_dir, "lineitem"), left_on="p_partkey", right_on="l_partkey")
         .join(_t(qc, sf_dir, "supplier"), left_on="l_suppkey", right_on="s_suppkey")
         .join(_t(qc, sf_dir, "nation"), left_on="s_nationkey", right_on="n_nationkey")
         .join(_t(qc, sf_dir, "orders"), left_on="l_orderkey", right_on="o_orderkey"))
    out = j.with_columns_sql(
        "cast(year(o_orderdate) as bigint) as o_year, "
        "l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity as amount") \
        .groupby(["n_name", "o_year"]).agg_sql("round(sum(amount), 4) as sum_profit")
    return out.df


_Q9_SQL = """
SELECT n_name, year(o_orderdate) AS o_year,
       round(sum(l_extendedprice * (1 - l_discount) - 0.5 * p_retailprice * l_quantity), 4) AS sum_profit
FROM part, lineitem, supplier, nation, orders
WHERE p_name LIKE '%red%' AND p_partkey = l_partkey AND l_suppkey = s_suppkey
  AND s_nationkey = n_nationkey AND l_orderkey = o_orderkey
GROUP BY 1, 2
"""


def tpch_q10(spark, sf_dir):
    qc = _qc(spark)
    j = (_t(qc, sf_dir, "customer")
         .join(_t(qc, sf_dir, "orders").filter_sql(
             "o_orderdate >= date '1996-01-01' and o_orderdate < date '1996-04-01'"),
             left_on="c_custkey", right_on="o_custkey")
         .join(_t(qc, sf_dir, "lineitem").filter_sql("l_returnflag = 'R'"),
               left_on="o_orderkey", right_on="l_orderkey")
         .join(_t(qc, sf_dir, "nation"), left_on="c_nationkey", right_on="n_nationkey"))
    rev = j.with_columns_sql("l_extendedprice * (1 - l_discount) as rev") \
           .groupby(["c_custkey", "c_name", "c_acctbal", "n_name"]) \
           .agg_sql("sum(rev) as revenue")
    top = rev.top_k(["revenue", "c_custkey"], 20, descending=[True, False])
    return top.df.select("c_custkey", "c_name",
                         F.round("revenue", 4).alias("revenue"),
                         "c_acctbal", "n_name")


_Q10_SQL = """
SELECT c_custkey, c_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY sum(l_extendedprice * (1 - l_discount)) DESC, c_custkey LIMIT 20
"""


def tpch_q12(spark, sf_dir):
    qc = _qc(spark)
    j = (_t(qc, sf_dir, "orders")
         .join(_t(qc, sf_dir, "lineitem").filter_sql(
             "l_shipdate >= date '1996-01-01' and l_shipdate < date '1997-01-01'"),
             left_on="o_orderkey", right_on="l_orderkey"))
    out = j.groupby(["l_linestatus"]).agg_sql(
        "sum(case when o_orderpriority = '1-URGENT' or o_orderpriority = '2-HIGH' "
        "then 1 else 0 end) as high_line_count, "
        "sum(case when o_orderpriority <> '1-URGENT' and o_orderpriority <> '2-HIGH' "
        "then 1 else 0 end) as low_line_count")
    return out.df


_Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


def tpch_q13(spark, sf_dir):
    qc = _qc(spark)
    cust = _t(qc, sf_dir, "customer")
    orders = _t(qc, sf_dir, "orders")
    j = cust.join(orders, left_on="c_custkey", right_on="o_custkey", how="left")
    per_cust = j.df.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count"))
    out = per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))
    return out


_Q13_SQL = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) GROUP BY c_count
"""


def tpch_q14(spark, sf_dir):
    qc = _qc(spark)
    j = (_t(qc, sf_dir, "lineitem").filter_sql(
            "l_shipdate >= date '1997-01-01' and l_shipdate < date '1997-04-01'")
         .join(_t(qc, sf_dir, "part"), left_on="l_partkey", right_on="p_partkey"))
    out = j.agg_sql(
        "round(100.0 * sum(case when p_type = 'PROMO' "
        "then l_extendedprice * (1 - l_discount) else 0 end) "
        "/ sum(l_extendedprice * (1 - l_discount)), 4) as promo_revenue")
    return out.df


_Q14_SQL = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
       / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


_Q15_PERSISTED: list = []


def tpch_q15(spark, sf_dir):
    qc = _qc(spark)
    rev = (_t(qc, sf_dir, "lineitem").filter_sql(
              "l_shipdate >= date '1996-01-01' and l_shipdate < date '1996-04-01'")
           .with_columns_sql("l_extendedprice * (1 - l_discount) as rev")
           .groupby(["l_suppkey"]).agg_sql("sum(rev) as total_revenue"))
    # hand-decorrelate the scalar-max subquery the way the reference
    # does (compute() + rejoin, SURVEY §4): persist the revenue agg so
    # lineitem is scanned once, then broadcast the 1-row max. The
    # returned df is consumed lazily, so this call can't unpersist its
    # own cache — instead each call releases the previous call's (the
    # leak is bounded to one small agg, ~|suppliers| rows).
    while _Q15_PERSISTED:
        _Q15_PERSISTED.pop().unpersist(blocking=False)
    revdf = rev.df.persist()
    _Q15_PERSISTED.append(revdf)
    mx = revdf.agg(F.max("total_revenue").alias("mx"))
    out = revdf.join(F.broadcast(mx), revdf["total_revenue"] == mx["mx"]) \
        .select(F.col("l_suppkey").alias("s_suppkey"),
                F.round("total_revenue", 4).alias("total_revenue"))
    return out


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS s_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, round(total_revenue, 4) AS total_revenue FROM revenue
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def tpch_q16(spark, sf_dir):
    qc = _qc(spark)
    j = (_t(qc, sf_dir, "part").filter_sql(
            "p_brand <> 'Brand#1' and p_size in (1, 5, 10, 15, 20, 25, 30, 35)")
         .join(_t(qc, sf_dir, "lineitem"), left_on="p_partkey", right_on="l_partkey"))
    out = j.groupby(["p_brand", "p_size"]).count_distinct("l_suppkey")
    return out.df.withColumnRenamed("l_suppkey_count_distinct", "supplier_cnt")


_Q16_SQL = """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
GROUP BY p_brand, p_size
"""


def tpch_q17(spark, sf_dir):
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem").df
    parts = _t(qc, sf_dir, "part").filter_sql("p_brand = 'Brand#13'").df
    # p_brand is a part attribute, so semi-joining the brand's partkeys
    # into lineitem FIRST keeps every row of the qualifying partkeys —
    # the per-part average is unchanged but computed over ~4% of the
    # data; the avg-side agg + self-join collapses into one window over
    # that filtered pass (4 exchanges -> 3, none full-width).
    from pyspark.sql import Window as W
    li_f = li.join(parts.select("p_partkey"),
                   li["l_partkey"] == F.col("p_partkey"), "left_semi")
    w = W.partitionBy("l_partkey")
    df = li_f.withColumn("half_avg", 0.5 * F.avg("l_quantity").over(w))
    return (df.filter(F.col("l_quantity") < F.col("half_avg"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 2)
                 .alias("avg_yearly")))


_Q17_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


def tpch_q18(spark, sf_dir):
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem")
    big = li.groupby(["l_orderkey"]).agg_sql("sum(l_quantity) as sum_qty") \
            .filter_sql("sum_qty > 300")
    j = (big.join(_t(qc, sf_dir, "orders"), left_on="l_orderkey", right_on="o_orderkey")
         .join(_t(qc, sf_dir, "customer"), left_on="o_custkey", right_on="c_custkey"))
    return j.select(["c_custkey", "l_orderkey", "o_orderdate", "o_totalprice",
                     "sum_qty"]).df


_Q18_SQL = """
SELECT c_custkey, l_orderkey, o_orderdate, o_totalprice, sum_qty FROM (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty FROM lineitem
  GROUP BY l_orderkey HAVING sum(l_quantity) > 300
) JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
"""


def tpch_q19(spark, sf_dir):
    qc = _qc(spark)
    j = _t(qc, sf_dir, "lineitem").join(_t(qc, sf_dir, "part"),
                                        left_on="l_partkey", right_on="p_partkey")
    out = j.filter_sql(
        "(p_brand = 'Brand#13' and l_quantity between 1 and 20) or "
        "(p_brand = 'Brand#20' and l_quantity between 10 and 30) or "
        "(p_brand = 'Brand#9' and l_quantity between 20 and 40)") \
        .agg_sql("round(sum(l_extendedprice * (1 - l_discount)), 4) as revenue")
    return out.df


_Q19_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#13' AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#20' AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#9' AND l_quantity BETWEEN 20 AND 40)
"""


def tpch_q22(spark, sf_dir):
    qc = _qc(spark)
    cust = _t(qc, sf_dir, "customer")
    avg_bal = cust.filter_sql("c_acctbal > 0.0").df.agg(
        F.avg("c_acctbal").alias("avg_bal"))
    rich = cust.df.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")).drop("avg_bal")
    orders = _t(qc, sf_dir, "orders").df
    no_orders = rich.join(orders, rich["c_custkey"] == orders["o_custkey"],
                          "left_anti")
    out = no_orders.groupBy(F.col("c_nationkey").cast("bigint").alias("cntrycode")) \
        .agg(F.count(F.lit(1)).alias("numcust"),
             F.round(F.sum("c_acctbal"), 2).alias("totacctbal"))
    return out


_Q22_SQL = """
SELECT CAST(c_nationkey AS BIGINT) AS cntrycode, count(*) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


# ======================================================================
# Relational operator coverage (SURVEY §2.2-2.6)
# ======================================================================

def op_topk(spark, sf_dir):
    qc = _qc(spark)
    out = _t(qc, sf_dir, "lineitem").top_k(
        ["l_extendedprice", "l_orderkey", "l_linenumber"], 10,
        descending=[True, False, False])
    return out.select(["l_orderkey", "l_linenumber", "l_extendedprice"]).df


_TOPK_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10
"""


def op_distinct(spark, sf_dir):
    qc = _qc(spark)
    return _t(qc, sf_dir, "lineitem").distinct(["l_returnflag", "l_linestatus"]).df


_DISTINCT_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def op_count_distinct(spark, sf_dir):
    qc = _qc(spark)
    return _t(qc, sf_dir, "lineitem").count_distinct("l_partkey").df


_COUNT_DISTINCT_SQL = \
    "SELECT count(DISTINCT l_partkey) AS l_partkey_count_distinct FROM lineitem"


def op_union(spark, sf_dir):
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem")
    a = li.filter_sql("l_shipdate >= date '1996-01-01' and l_shipdate < date '1997-01-01'")
    b = li.filter_sql("l_shipdate >= date '1997-01-01' and l_shipdate < date '1998-01-01'")
    out = a.union(b).groupby(["l_returnflag"]).agg_sql("count(*) as cnt")
    return out.df


_UNION_SQL = """
SELECT l_returnflag, count(*) AS cnt FROM (
  SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  UNION ALL
  SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
) GROUP BY l_returnflag
"""


def op_intersect(spark, sf_dir):
    """Set intersection (parity-plus: the reference lacks INTERSECT and
    hand-rolls anti-joins instead, SURVEY §2.6)."""
    qc = _qc(spark)
    orders = _t(qc, sf_dir, "orders")
    a = orders.filter_sql("o_orderdate >= date '1997-01-01'").select(["o_custkey"])
    b = orders.filter_sql("o_totalprice > 100000").select(["o_custkey"])
    out = a.intersect(b)
    return out.df.orderBy("o_custkey")


_INTERSECT_SQL = """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
INTERSECT
SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 100000
ORDER BY o_custkey
"""


def op_except(spark, sf_dir):
    """Set difference (parity-plus, SURVEY §2.6). EXCEPT ALL semantics
    reduced to DISTINCT inputs so both engines agree on multiplicity."""
    qc = _qc(spark)
    orders = _t(qc, sf_dir, "orders")
    a = orders.filter_sql("o_orderdate >= date '1997-01-01'") \
        .select(["o_custkey"]).distinct()
    b = orders.filter_sql("o_totalprice > 100000") \
        .select(["o_custkey"]).distinct()
    out = a.except_(b)
    return out.df.orderBy("o_custkey")


_EXCEPT_SQL = """
SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
EXCEPT
SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 100000
ORDER BY o_custkey
"""


def op_semi_join(spark, sf_dir):
    qc = _qc(spark)
    cust = _t(qc, sf_dir, "customer")
    big = _t(qc, sf_dir, "orders").filter_sql("o_totalprice > 450000")
    return cust.join(big, left_on="c_custkey", right_on="o_custkey",
                     how="semi").select(["c_custkey"]).df


_SEMI_SQL = """
SELECT c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 450000)
"""


def op_anti_join(spark, sf_dir):
    qc = _qc(spark)
    cust = _t(qc, sf_dir, "customer")
    orders = _t(qc, sf_dir, "orders")
    return cust.join(orders, left_on="c_custkey", right_on="o_custkey",
                     how="anti").select(["c_custkey"]).df


_ANTI_SQL = """
SELECT c_custkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def op_window_rank(spark, sf_dir):
    from pyspark.sql import Window as W
    qc = _qc(spark)
    orders = _t(qc, sf_dir, "orders").df
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                           F.col("o_orderkey").asc())
    return (orders.withColumn("rn", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rn") <= 2)
            .select("o_custkey", "o_orderkey", "o_totalprice", "rn"))


_WINDOW_RANK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 2
"""


def op_window_running_sum(spark, sf_dir):
    from pyspark.sql import Window as W
    qc = _qc(spark)
    orders = _t(qc, sf_dir, "orders").df
    w = (W.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
         .rowsBetween(W.unboundedPreceding, 0))
    return orders.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"))


_WINDOW_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
"""


def op_expression_dsl(spark, sf_dir):
    """Expression DSL surface: .str/.dt namespaces + arithmetic."""
    qc = _qc(spark)
    ev = _t(qc, sf_dir, "events")
    out = ev.filter(ev["event_type"].str.to_uppercase().str.contains("CLICK")) \
            .with_columns({
                "hour_of_day": ev["ts"].dt.hour().cast("bigint"),
                "value_sq": (ev["value"] * ev["value"]),
            }).select(["event_id", "hour_of_day", "value_sq"])
    return out.df.withColumn("value_sq", F.round("value_sq", 4))


_EXPR_DSL_SQL = """
SELECT event_id, CAST(hour(ts) AS BIGINT) AS hour_of_day,
       round(value * value, 4) AS value_sq
FROM events WHERE contains(upper(event_type), 'CLICK')
"""


def op_json_extract(spark, sf_dir):
    qc = _qc(spark)
    ev = _t(qc, sf_dir, "events")
    out = ev.with_columns({"k": ev["props"].str.json_extract("k").cast("bigint")}) \
            .groupby(["event_type"]).agg_sql("round(avg(k), 4) as avg_k")
    return out.df


_JSON_SQL = """
SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
FROM events GROUP BY event_type
"""


def op_explode(spark, sf_dir):
    """DataStream.explode (unnest): one row per element of an array
    column — p_type split on spaces, word frequencies. JVM generator,
    no Python in the row path; outer mode pytest-covered."""
    qc = _qc(spark)
    p = _t(qc, sf_dir, "part") \
        .with_columns({"word": "split(p_type, ' ')"}) \
        .select(["word"]) \
        .explode("word")
    return p.df.groupBy("word").agg(F.count("*").alias("n"))


_EXPLODE_SQL = """
SELECT word, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
GROUP BY word
"""


def op_case_when_agg(spark, sf_dir):
    qc = _qc(spark)
    out = _t(qc, sf_dir, "orders").groupby(["o_orderstatus"]).agg_sql(
        "count(*) as n_orders, "
        "round(sum(case when o_totalprice > 250000 then o_totalprice else 0 end), 2) as big_total, "
        "round(min(o_totalprice), 2) as min_price, "
        "round(max(o_totalprice), 2) as max_price")
    return out.df


_CASE_WHEN_SQL = """
SELECT o_orderstatus, count(*) AS n_orders,
       round(sum(CASE WHEN o_totalprice > 250000 THEN o_totalprice ELSE 0 END), 2) AS big_total,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders GROUP BY o_orderstatus
"""


def op_join_nonequi(spark, sf_dir):
    """Non-equi join facade verb (SURVEY §2.3; the reference ships only a
    hard-coded prototype — ExpBuildProbeJoinExecutor,
    executors/sql_executors.py:379-450 — this is the general verb):
    equi key + range residual. Catalyst runs the hash join on
    l_partkey = p_partkey and evaluates the range predicate inside the
    join — one key shuffle, no cartesian: the plan that survives 100 TB."""
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem")
    part = _t(qc, sf_dir, "part")
    j = li.join(part, left_on="l_partkey", right_on="p_partkey",
                condition="l_quantity between p_size - 5 and p_size + 5")
    out = j.groupby(["p_brand"]).agg_sql(
        "count(*) as n, round(sum(l_extendedprice), 2) as rev")
    return out.df


_JOIN_NONEQUI_SQL = """
SELECT p_brand, count(*) AS n, round(sum(l_extendedprice), 2) AS rev
FROM lineitem JOIN part
  ON l_partkey = p_partkey AND l_quantity BETWEEN p_size - 5 AND p_size + 5
GROUP BY p_brand
"""


# ======================================================================
# Time-series operators (SURVEY §2.8)
# ======================================================================

def ts_tumbling(spark, sf_dir):
    from quokka_spark.windowtypes import TumblingWindow
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    win = TumblingWindow("1h", {"n_events": "count(*)",
                                "sum_value": "round(sum(value), 4)"})
    return ev.windowed_transform(win, by="user_id").df.select(
        "user_id", "window_start", "n_events", "sum_value")


_TUMBLING_SQL = """
SELECT user_id, date_trunc('hour', ts) AS window_start,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY user_id, date_trunc('hour', ts)
"""


def ts_hopping(spark, sf_dir):
    from quokka_spark.windowtypes import HoppingWindow
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    win = HoppingWindow("1h", "2h", {"n_events": "count(*)"})
    return ev.windowed_transform(win, by=[]).df.select("window_start", "n_events")


_HOPPING_SQL = """
SELECT ws AS window_start, count(*) AS n_events FROM (
  SELECT date_trunc('hour', ts) AS ws FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS ws FROM events
) GROUP BY ws
"""


def ts_sliding(spark, sf_dir):
    from quokka_spark.windowtypes import SlidingWindow
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    win = SlidingWindow("30m", {"avg_value": "round(avg(value), 4)"})
    return ev.windowed_transform(win, by="user_id").df.select(
        "user_id", "ts", "avg_value")


_SLIDING_SQL = """
SELECT user_id, ts,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW), 4) AS avg_value
FROM events
"""


def ts_rolling_corr(spark, sf_dir):
    """Rolling Pearson correlation per key (the rottnest-style rolling
    statistic family): trailing-30m corr(value, event_id) per user
    through the SAME SlidingWindow machinery as ts_sliding — the
    aggregation dict takes any SQL aggregate, two-column aggs
    included. Zero-variance/single-row windows: Spark 4's ANSI `corr`
    RAISES DIVIDE_BY_ZERO there (reproduced at sf0.1 — sf0.01 happens
    to have no such window), so the window machinery expands corr into
    the mathematically-equal try_divide(covar_samp, stddev·stddev)
    composite (operators/windows._over), which yields NULL exactly
    like DuckDB's corr — the dialect the agg dict promises."""
    from quokka_spark.windowtypes import SlidingWindow
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    win = SlidingWindow("30m", {"c": "corr(value, event_id)"})
    out = ev.windowed_transform(win, by="user_id").df
    return out.select(
        "user_id", "ts",
        F.when(F.isnan("c"), F.lit(None)).otherwise(F.round("c", 6))
        .alias("trend_corr"))


_ROLLING_CORR_SQL = """
SELECT user_id, ts,
       round(corr(value, event_id) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW),
             6) AS trend_corr
FROM events
"""


def ts_vwap(spark, sf_dir):
    """Volume-weighted average price per hourly bar (the candlestick
    companion): weight = the JSON ``props.k`` field — exercising JSON
    extraction inside a weighted aggregate. One shuffle on
    (user, bar); partial aggregation absorbs the products map-side."""
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    k = F.get_json_object("props", "$.k").cast("double")
    bar = F.date_trunc("hour", F.col("ts").cast("timestamp"))
    sumk = F.sum(k)
    return (ev.df.groupBy("user_id", bar.alias("bar"))
            .agg(F.round(F.when(sumk > 0,
                                F.sum(F.col("value") * k) / sumk), 4)
                 .alias("vwap"),
                 F.round(F.coalesce(sumk, F.lit(0.0))).cast("bigint")
                 .alias("volume")))


_VWAP_SQL = """
SELECT user_id, date_trunc('hour', ts) AS bar,
       round(CASE WHEN sum(CAST(json_extract_string(props, 'k') AS DOUBLE)) > 0
             THEN sum(value * CAST(json_extract_string(props, 'k') AS DOUBLE))
                  / sum(CAST(json_extract_string(props, 'k') AS DOUBLE)) END,
             4) AS vwap,
       CAST(round(coalesce(sum(CAST(json_extract_string(props, 'k') AS DOUBLE)),
                           0.0), 0) AS BIGINT) AS volume
FROM events GROUP BY user_id, date_trunc('hour', ts)
"""


def ts_drawdown(spark, sf_dir):
    """Running drawdown per key (the backtester risk metric beside
    ts_backtest's equity curve): value / running-max − 1 over the
    ordered stream — RANGE UNBOUNDED PRECEDING per user, one shuffle.
    All values are positive in this data, so the ratio is well-defined;
    hash-exact (single division + rounding, no summation order)."""
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    from pyspark.sql import Window
    w = (Window.partitionBy("user_id")
         .orderBy(F.col("ts"), F.col("event_id"))
         .rowsBetween(Window.unboundedPreceding, 0))
    peak = F.max("value").over(w)
    return ev.df.select(
        "user_id", "event_id",
        F.round(F.col("value") / peak - 1.0, 6).alias("drawdown"),
        (F.col("value") == peak).alias("at_peak"))


_DRAWDOWN_SQL = """
SELECT user_id, event_id,
       round(value / max(value) OVER w - 1.0, 6) AS drawdown,
       value = max(value) OVER w AS at_peak
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def ts_zscore(spark, sf_dir):
    """Rolling z-score anomaly flag per key: each event scored against
    its own trailing 7-day window (avg, stddev_samp via the same
    SlidingWindow machinery, passthrough columns via keep=), |z| > 1.8
    flagged (threshold chosen so the flag actually fires on this
    data's short windows). Degenerate windows (n < 2 or zero variance → NULL/0 std)
    yield NULL z and false flag — identical semantics both engines."""
    from quokka_spark.windowtypes import SlidingWindow
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    win = SlidingWindow("7d", {"m": "avg(value)",
                               "s": "stddev_samp(value)"})
    out = ev.windowed_transform(win, by="user_id",
                                keep=["event_id", "value"]).df
    z = (F.col("value") - F.col("m")) / F.col("s")
    z = F.when(F.col("s") > 0, F.round(z, 6))
    return out.select("user_id", "event_id", z.alias("z"),
                      F.coalesce(F.abs(z) > 1.8, F.lit(False))
                      .alias("anomaly"))


_ZSCORE_SQL = """
WITH w AS (
  SELECT user_id, event_id, value,
         avg(value) OVER win AS m,
         stddev_samp(value) OVER win AS s
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 7 DAYS PRECEDING
                 AND CURRENT ROW)
)
SELECT user_id, event_id,
       CASE WHEN s > 0 THEN round((value - m) / s, 6) END AS z,
       coalesce(CASE WHEN s > 0
                     THEN abs(round((value - m) / s, 6)) > 1.8 END,
                false) AS anomaly
FROM w
"""


def ts_ewma(spark, sf_dir):
    """Per-user EWMA of event values (operators/windows.ewma, the
    adjust=False recurrence truncated to a 20-row lookback): weights
    and tail masses are exact shared literals and both engines LEFT-
    fold the weighted terms (Spark aggregate / DuckDB list_reduce),
    so the sum is bit-identical before rounding — hash-exact."""
    from quokka_spark.operators.windows import ewma
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    out = ewma(ev.df, "ts", "user_id", "value", alpha=0.3, lookback=20,
               tiebreak="event_id")
    return out.select("user_id", "event_id", "ewma")


def _ewma_oracle(alpha: float = 0.3, lookback: int = 20) -> str:
    weights = [alpha * (1 - alpha) ** i for i in range(lookback)]
    tails = [(1 - alpha) ** i for i in range(lookback)]
    wlit = "[" + ", ".join(repr(float(x)) for x in weights) + "]"
    tlit = "[" + ", ".join(repr(float(x)) for x in tails) + "]"
    return f"""
WITH w AS (
  SELECT user_id, event_id,
         list_reverse(list(CAST(value AS DOUBLE)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN {lookback - 1} PRECEDING AND CURRENT ROW)) AS vals
  FROM events
), b AS (
  SELECT user_id, event_id, vals,
         list_append({wlit}[1 : len(vals) - 1],
                     {tlit}[len(vals)]) AS adj
  FROM w
)
SELECT user_id, event_id,
       round(list_reduce(
         [CAST(vals[i] * adj[i] AS DOUBLE)
          FOR i IN generate_series(1, len(vals))],
         (a, b) -> a + b), 6) AS ewma
FROM b
"""


def ts_session(spark, sf_dir):
    from quokka_spark.windowtypes import SessionWindow
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    win = SessionWindow("30m", {"n_events": "count(*)",
                                "sum_value": "round(sum(value), 4)"})
    return ev.windowed_transform(win, by="user_id").df.select(
        "user_id", "session_start", "n_events", "sum_value")


_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 30 MINUTES
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), numbered AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM flagged
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       round(sum(value), 4) AS sum_value
FROM numbered GROUP BY user_id, sess_id
"""


def ts_asof_join(spark, sf_dir):
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    trades = ev.filter_sql("event_type = 'purchase'") \
               .select(["event_id", "ts", "user_id", "value"])
    quotes = ev.filter_sql("event_type = 'view'") \
               .select(["ts", "user_id", "value"])
    out = trades.join_asof(quotes, on="ts", by="user_id")
    return out.df.select("event_id", "ts", "user_id",
                         F.round("value", 4).alias("value"),
                         F.round("value_2", 4).alias("value_2"))


_ASOF_SQL = """
SELECT t.event_id, t.ts, t.user_id, round(t.value, 4) AS value,
       round(q.value, 4) AS value_2
FROM (SELECT * FROM events WHERE event_type = 'purchase') t
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
ON t.user_id = q.user_id AND t.ts >= q.ts
"""


def ts_asof_forward(spark, sf_dir):
    """direction="forward" as-of (operators/asof.py — the mirrored
    window fill; parity-plus over the reference's backward-only
    executor). Oracle: DuckDB native ASOF with the <= inequality."""
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    trades = ev.filter_sql("event_type = 'purchase'") \
               .select(["event_id", "ts", "user_id", "value"])
    quotes = ev.filter_sql("event_type = 'view'") \
               .select(["ts", "user_id", "value"])
    out = trades.join_asof(quotes, on="ts", by="user_id",
                           direction="forward")
    return out.df.select("event_id", "ts", "user_id",
                         F.round("value", 4).alias("value"),
                         F.round("value_2", 4).alias("value_2"))


_ASOF_FWD_SQL = """
SELECT t.event_id, t.ts, t.user_id, round(t.value, 4) AS value,
       round(q.value, 4) AS value_2
FROM (SELECT * FROM events WHERE event_type = 'purchase') t
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
ON t.user_id = q.user_id AND t.ts <= q.ts
"""


def ts_shift(spark, sf_dir):
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts") \
        .select(["ts", "user_id", "value"])
    shifted = ev.shift(1, by="user_id")
    return shifted.df.select("user_id", "ts",
                             F.round("value", 4).alias("prev_value"))


_SHIFT_SQL = """
SELECT user_id, ts,
       round(lag(value) OVER (PARTITION BY user_id ORDER BY ts), 4) AS prev_value
FROM events
"""


def ts_cep_funnel(spark, sf_dir):
    """CEP: signup → click with higher value → purchase, within 7 days.
    General CEP is not SQL-expressible (MATCH_RECOGNIZE), but THIS
    pattern admits a collapsed SQL form the driver can hash-check: the
    NFA's earliest-first DFS picks the first qualifying click b_min,
    and since first-purchase-after(b) is nondecreasing in b, a match
    exists iff a purchase follows b_min within the span — so two
    correlated mins reproduce the NFA exactly (no (user_id, ts) ties
    in the data, so ts order == row order). The python-reference-NFA
    equality test in tests/test_timeseries.py still covers the general
    engine."""
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts") \
        .with_columns({"ts_sec": "unix_micros(cast(ts as timestamp)) / 1e6"})
    ev = OrderedStreamFix(ev)
    out = ev.pattern_recognize(
        "ts_sec",
        [("a", "a.event_type = 'signup'"),
         ("b", "b.event_type = 'click' and b.value > a.value"),
         ("c", "c.event_type = 'purchase'")],
        maxspan=7 * 86400.0, by="user_id")
    return out.df


_CEP_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS ts_sec,
         event_type, value
  FROM events
), a AS (
  SELECT user_id, ts_sec, value,
         (SELECT min(b.ts_sec) FROM e b
          WHERE b.user_id = a.user_id AND b.event_type = 'click'
            AND b.value > a.value AND b.ts_sec > a.ts_sec
            AND b.ts_sec <= a.ts_sec + 604800.0) AS bmin
  FROM e a WHERE a.event_type = 'signup'
), m AS (
  SELECT user_id, ts_sec AS first_event_timestamp,
         (SELECT min(c.ts_sec) FROM e c
          WHERE c.user_id = a.user_id AND c.event_type = 'purchase'
            AND c.ts_sec > a.bmin AND c.ts_sec <= a.ts_sec + 604800.0
          ) AS last_event_timestamp
  FROM a WHERE bmin IS NOT NULL
)
SELECT user_id,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY first_event_timestamp) - 1 AS event_number,
       first_event_timestamp, last_event_timestamp
FROM m WHERE last_event_timestamp IS NOT NULL
"""


def ts_cep_quantified(spark, sf_dir):
    """CEP with quantifiers: signup → zero-or-more clicks → one-or-more
    purchases with value above the signup's, within 7 days. Reluctant
    semantics collapse this to SQL exactly: the "*" level is always
    skippable and no later predicate references it, so the winning
    (earliest, fewest-repetitions) match is the earliest qualifying
    purchase directly after the signup; the final "+" completes at its
    first binding. The pre-fix engine (round-6 defect: quantifiers
    parsed but unexecuted) required exactly one click between the two,
    so this gate distinguishes executed quantifiers from the broken
    surface. General quantifier semantics (loops, latest-binding deps)
    are pinned against a brute-force NFA in tests/test_cep_quantifiers.py."""
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts") \
        .with_columns({"ts_sec": "unix_micros(cast(ts as timestamp)) / 1e6"})
    ev = OrderedStreamFix(ev)
    out = ev.pattern_recognize(
        "ts_sec",
        [("a", "a.event_type = 'signup'"),
         ("b", "b.event_type = 'click'", "*"),
         ("c", "c.event_type = 'purchase' and c.value > a.value", "+")],
        maxspan=7 * 86400.0, by="user_id")
    return out.df


_CEP_QUANT_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS ts_sec,
         event_type, value
  FROM events
), m AS (
  SELECT user_id, ts_sec AS first_event_timestamp,
         (SELECT min(c.ts_sec) FROM e c
          WHERE c.user_id = a.user_id AND c.event_type = 'purchase'
            AND c.value > a.value AND c.ts_sec > a.ts_sec
            AND c.ts_sec <= a.ts_sec + 604800.0) AS last_event_timestamp
  FROM e a WHERE a.event_type = 'signup'
)
SELECT user_id,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY first_event_timestamp) - 1 AS event_number,
       first_event_timestamp, last_event_timestamp
FROM m WHERE last_event_timestamp IS NOT NULL
"""


def ts_cep_plus_dep(spark, sf_dir):
    """CEP '+' with a dependent predicate on the quantified event:
    signup → one-or-more clicks → purchase with value above the LATEST
    bound click's. Collapses to SQL: the reluctant DFS explores click
    bindings in ascending latest-instance order (advance before loop,
    candidates earliest-first; repetition histories dedupe to the same
    latest-instance state), so the winning match belongs to the
    EARLIEST click that has any qualifying purchase, ending at that
    click's earliest qualifying purchase — arg_min over a correlated
    min. Randomized brute-force equality for this exact pattern shape
    is pinned in tests/test_cep_quantifiers.py ("plus_plain_dep")."""
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts") \
        .with_columns({"ts_sec": "unix_micros(cast(ts as timestamp)) / 1e6"})
    ev = OrderedStreamFix(ev)
    out = ev.pattern_recognize(
        "ts_sec",
        [("a", "a.event_type = 'signup'"),
         ("b", "b.event_type = 'click'", "+"),
         ("c", "c.event_type = 'purchase' and c.value > b.value")],
        maxspan=7 * 86400.0, by="user_id")
    return out.df


_CEP_PLUS_DEP_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS ts_sec,
         event_type, value
  FROM events
), b AS (
  SELECT a.user_id, a.ts_sec AS a_ts, bb.ts_sec AS b_ts,
         (SELECT min(p.ts_sec) FROM e p
          WHERE p.user_id = a.user_id AND p.event_type = 'purchase'
            AND p.ts_sec > bb.ts_sec AND p.ts_sec <= a.ts_sec + 604800.0
            AND p.value > bb.value) AS pmin
  FROM e a JOIN e bb
    ON bb.user_id = a.user_id AND bb.event_type = 'click'
   AND bb.ts_sec > a.ts_sec AND bb.ts_sec <= a.ts_sec + 604800.0
  WHERE a.event_type = 'signup'
), m AS (
  SELECT user_id, a_ts AS first_event_timestamp,
         arg_min(pmin, b_ts) AS last_event_timestamp
  FROM b WHERE pmin IS NOT NULL
  GROUP BY user_id, a_ts
)
SELECT user_id,
       row_number() OVER (PARTITION BY user_id
                          ORDER BY first_event_timestamp) - 1 AS event_number,
       first_event_timestamp, last_event_timestamp
FROM m
"""


def ts_backtest(spark, sf_dir):
    """Backtester-style stateful executor (reference flagship app
    apps/rottnest/backtester.py:31-87): per-key running position/cash
    over a time-ordered event stream. purchase = buy 1, click = sell 1;
    cash moves by -direction*value; final equity marks the position to
    the last observed value. One Executor per user_id key group —
    the same keyed applyInPandas mapping the reference achieves with
    hash-partitioned channels."""
    import pandas as pd
    from quokka_spark import Executor

    class Backtester(Executor):
        def __init__(self):
            self.frames = []

        def execute(self, batches, stream_id, executor_id):
            self.frames.extend(batches)
            return None

        def done(self, executor_id):
            pdf = pd.concat(self.frames).sort_values(["ts", "event_id"])
            direction = pdf["event_type"].map(
                {"purchase": 1, "click": -1}).fillna(0).astype("int64")
            position = direction.cumsum()
            cash = (-direction * pdf["value"]).cumsum()
            equity = cash.iloc[-1] + position.iloc[-1] * pdf["value"].iloc[-1]
            return pd.DataFrame({
                "position": [int(position.iloc[-1])],
                "cash": [round(float(cash.iloc[-1]), 4)],
                "equity": [round(float(equity), 4)]})

    qc = _qc(spark)
    ev = _t(qc, sf_dir, "events")
    out = ev.stateful_transform(
        Backtester,
        new_schema="user_id long, position long, cash double, equity double",
        required_columns=["ts", "event_id", "event_type", "value"],
        by="user_id")
    return out.df


_BACKTEST_SQL = """
WITH t AS (
  SELECT user_id, ts, event_id, value,
         CASE event_type WHEN 'purchase' THEN 1
                         WHEN 'click' THEN -1 ELSE 0 END AS dir
  FROM events
), r AS (
  SELECT user_id, value,
         sum(dir) OVER w AS position,
         sum(-dir * value) OVER w AS cash,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT user_id, CAST(position AS BIGINT) AS position, round(cash, 4) AS cash,
       round(cash + position * value, 4) AS equity
FROM r WHERE rn = 1
"""


def _mm_payloads(spark, sf_dir):
    """Deterministic binary payloads: magic bytes (by doc_id % 3) +
    utf-8 text — stands in for real media files so the multimodal
    plumbing is driver-checkable without image fixtures."""
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    magic = (F.when(F.col("doc_id") % 3 == 0, F.unhex(F.lit("FFD8FFE0")))
             .when(F.col("doc_id") % 3 == 1, F.unhex(F.lit("89504E47")))
             .otherwise(F.unhex(F.lit("47494638"))))
    return docs.select("doc_id",
                       F.concat(magic, F.encode("text", "utf-8")).alias("object"))


def mm_metadata(spark, sf_dir):
    """Multimodal metadata pass (functions/multimodal.payload_metadata):
    JVM-side size + magic-byte format sniffing — zero UDFs, zero
    shuffles before the final agg."""
    from quokka_spark.functions.multimodal import payload_metadata
    p = _mm_payloads(spark, sf_dir)
    ann = payload_metadata(p, "object")
    return (ann.groupBy("payload_format")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("payload_size"), 2).alias("avg_size"))
            .orderBy("payload_format"))


_MM_METADATA_SQL = r"""
WITH p AS (
  SELECT doc_id,
         (CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN '\xFF\xD8\xFF\xE0'::BLOB
               WHEN 1 THEN '\x89\x50\x4E\x47'::BLOB
               ELSE '\x47\x49\x46\x38'::BLOB END || encode(text)) AS payload
  FROM documents
), ann AS (
  SELECT CASE WHEN substr(hex(payload), 1, 4) = 'FFD8' THEN 'jpeg'
              WHEN substr(hex(payload), 1, 4) = '8950' THEN 'png'
              WHEN substr(hex(payload), 1, 4) = '4749' THEN 'gif'
              WHEN substr(hex(payload), 1, 4) = '5249' THEN 'riff'
              ELSE 'unknown' END AS payload_format,
         octet_length(payload) AS payload_size
  FROM p
)
SELECT payload_format, count(*) AS n, round(avg(payload_size), 2) AS avg_size
FROM ann GROUP BY payload_format ORDER BY payload_format
"""


def mm_features(spark, sf_dir):
    """Stubbed decode → feature-extract through the real mapInPandas
    plumbing (functions/multimodal.extract_image_features): batching,
    schema, and partitioning are production-shaped; the pixel decode is
    a deterministic md5-byte fake (no codec libs in container) whose
    features are exact small integers — so the oracle reproduces them
    from md5 in SQL and the gate is hash-exact despite the stub."""
    from quokka_spark.functions.multimodal import extract_image_features
    p = _mm_payloads(spark, sf_dir).withColumnRenamed("doc_id", "filename")
    feats = extract_image_features(p, "object", "filename", dim=16)
    return feats.select(
        "filename",
        F.round(F.aggregate("embedding", F.lit(0.0),
                            lambda a, x: a + x * x), 4).alias("norm_sq"),
        F.size("embedding").alias("dim"))


def mm_phash(spark, sf_dir):
    """Image near-dup via perceptual hash (functions/multimodal.
    image_phash + dedup.hamming_near_pairs — the visual twin of
    simhash dedup). Payloads are injected deterministically with
    duplicate groups (doc_id % 23 → same bytes). The fake decode
    gives each DISTINCT payload independent random pixels, so
    non-duplicate pairs sit at hamming ≈ 32 (P(≤6) ≈ 5e-12 per
    pair) — the ≤6 output provably equals the exact payload-dup
    pair set, which is the oracle. The pHash math itself (DCT,
    median threshold, noise/brightness invariance) is unit-tested
    in tests/test_functions.py."""
    from quokka_spark.functions.multimodal import phash_near_pairs
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    payloads = docs.select(
        "doc_id",
        F.concat(F.lit("IMG"), (F.col("doc_id") % 23).cast("string"))
        .cast("binary").alias("object"))
    pairs = phash_near_pairs(payloads, "object", "doc_id", max_hamming=6)
    return pairs.select("id1", "id2",
                        F.col("hamming").cast("bigint").alias("hamming"))


_MM_PHASH_SQL = """
WITH p AS (SELECT doc_id, doc_id % 23 AS g FROM documents)
SELECT a.doc_id AS id1, b.doc_id AS id2, CAST(0 AS BIGINT) AS hamming
FROM p a JOIN p b ON a.g = b.g AND a.doc_id < b.doc_id
"""


_MM_FEATURES_SQL = r"""
WITH p AS (
  SELECT doc_id,
         (CASE CAST(doc_id % 3 AS INTEGER)
               WHEN 0 THEN '\xFF\xD8\xFF\xE0'::BLOB
               WHEN 1 THEN '\x89\x50\x4E\x47'::BLOB
               ELSE '\x47\x49\x46\x38'::BLOB END || encode(text)) AS payload
  FROM documents
), h AS (
  SELECT doc_id, md5(hex(payload)) AS hex FROM p
), b AS (
  SELECT doc_id,
         (strpos('0123456789abcdef', substr(hex, CAST(2*i+1 AS INT), 1)) - 1) * 16
       + (strpos('0123456789abcdef', substr(hex, CAST(2*i+2 AS INT), 1)) - 1) AS byte
  FROM h, range(0, 16) r(i)
)
SELECT doc_id AS filename,
       round(sum((2.0 * byte - 255) * (2.0 * byte - 255)), 4) AS norm_sq,
       CAST(16 AS INT) AS dim
FROM b GROUP BY doc_id
"""


def _sf_of(sf_dir: str) -> float:
    import re
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else 0.01


def bench_asof_micro(spark, sf_dir):
    """BASELINE target 2 (blog/orderedstreams.md:51): as-of join + sum
    at generated scale — quotes × trades synthesized deterministically
    from spark.range (integer arithmetic, identical in DuckDB's
    range()), sized by sf: sf0.1 → 4M quotes × 800k trades. Exercises
    the single-shuffle union-window formulation end-to-end; the oracle
    is DuckDB's native ASOF JOIN on the same generated inputs (sizes
    baked for the driver's sf0.01 compare)."""
    from quokka_spark.orderedstream import OrderedStream
    # NOTE: 101 symbols bound the default plan's parallelism at 101
    # tasks — fine on local[32]; on a large cluster pass
    # join_asof(..., bucket=...) for the two-level keys x buckets plan
    # (equality test: test_asof_bucketed_equals_unbucketed).
    sf = _sf_of(sf_dir)
    # floor at the sf0.01 sizes — the oracle SQL bakes those in, and the
    # driver (and the pytest smoke at sf0.001) compare at/below sf0.01
    nq = max(int(40_000_000 * sf), 400_000)
    nt = max(int(8_000_000 * sf), 80_000)
    qj = nq // 101  # quotes per symbol; quote ts unique per symbol
    quotes = spark.range(nq).select(
        (F.col("id") % 101).alias("sym"),
        (F.expr("id div 101") * 101 + F.col("id") % 101).alias("ts"),
        ((F.col("id") % 10000) / 100.0).alias("price"))
    trades = spark.range(nt).select(
        (F.col("id") % 101).alias("sym"),
        (((F.expr("id div 101") * 7919 + 13) % qj) * 101
         + F.col("id") % 101).alias("ts"),
        ((F.col("id") % 97) + 1).alias("qty"))
    qc = _qc(spark)
    t = OrderedStream(qc, trades, sorted={"ts": "stride"})
    q = OrderedStream(qc, quotes, sorted={"ts": "stride"})
    out = t.join_asof(q, on="ts", by="sym").df
    return out.filter(F.col("price").isNotNull()).agg(
        F.count("*").alias("n_matched"),
        F.round(F.sum(F.col("price") * F.col("qty")), 2).alias("notional"))


_ASOF_MICRO_SQL = """
WITH quotes AS (
  SELECT (i % 101) AS sym, ((i // 101) * 101 + (i % 101)) AS ts,
         ((i % 10000) / 100.0) AS price
  FROM range(0, 400000) t(i)
), trades AS (
  SELECT (i % 101) AS sym,
         (((i // 101) * 7919 + 13) % 3960) * 101 + (i % 101) AS ts,
         ((i % 97) + 1) AS qty
  FROM range(0, 80000) t(i)
)
SELECT count(*) AS n_matched, round(sum(q.price * t.qty), 2) AS notional
FROM trades t ASOF JOIN quotes q ON t.sym = q.sym AND t.ts >= q.ts
"""


def bench_wide_quantile(spark, sf_dir):
    """BASELINE target 3 (blog/approxquant.md:19-31): wide approximate
    quantiles must COMPLETE (stock approxQuantile 'always crashes' at
    width). 100 generated float columns, rows sized by sf; the NumPy
    order-stat sketch (operators/linalg.approximate_quantile_wide).

    VERDICT gate (rows-only through r4, two corpus passes in r5): for
    each column and prob p the quantile's rank interval must intersect
    [p·n ± tol] with tol = 5·n/accuracy + 5 (compression levels each
    bounded by n/accuracy, with headroom; +5 absorbs integer edges).
    Since r6 the rank interval comes from the SKETCH'S OWN summaries
    (rank_bounds=True: the candidates bracketing the chosen value
    bound its rank from their order-stat positions, exact at the
    first compression level, ≤ n/accuracy extra at merge levels —
    inside the same tol budget), so the whole gate is ONE corpus pass
    — closing the r5 verdict's two-pass finding. CAVEAT (round-6
    ADVICE, accepted trade): since r6 this gate is SELF-REFERENTIAL —
    the rank interval derives from the sketch's own summaries, so a
    systematic merge bug could yield a consistent-but-wrong value
    whose self-reported bounds still pass. The INDEPENDENT exact
    re-scan (rank_counts_wide) is therefore pinned in
    tests/test_functions.py::
    test_wide_quantile_rank_bounds_contain_exact_counts at a data
    shape close to this corpus; the oracle replays the all-TRUE
    verdict."""
    from quokka_spark.operators.linalg import approximate_quantile_wide
    sf = _sf_of(sf_dir)
    n = max(int(1_000_000 * sf), 1000)
    width, acc, probs = 100, 1000, (0.5, 0.99)
    names = [f"c{i}" for i in range(width)]
    cols = [(((F.col("id") * (i + 7)) % 10007) / 7.0).alias(f"c{i}")
            for i in range(width)]
    wide = spark.range(n).select(*cols)
    q = approximate_quantile_wide(wide, names, list(probs),
                                  accuracy=acc,
                                  rank_bounds=True).toPandas()
    tol = 5.0 * n / acc + 5
    verdicts = []
    for _, r in q.iterrows():
        ok = [bool(r[f"ltl_q{str(p).replace('.', '_')}"] <= p * n + tol
                   and r[f"leu_q{str(p).replace('.', '_')}"] >= p * n - tol)
              for p in probs]
        verdicts.append((r["column"], ok[0], ok[1]))
    return spark.createDataFrame(
        verdicts, "col_name string, q50_ok boolean, q99_ok boolean")


_WIDE_QUANTILE_SQL = """
SELECT 'c' || CAST(i AS VARCHAR) AS col_name, TRUE AS q50_ok, TRUE AS q99_ok
FROM range(100) t(i)
"""


def OrderedStreamFix(ds):
    """with_columns returns the subclass via _with; make sure sort key
    survives when callers add derived time columns."""
    from quokka_spark.orderedstream import OrderedStream
    if isinstance(ds, OrderedStream):
        return ds
    return OrderedStream(ds.qc, ds.df, sorted=ds.sorted or {"ts": "stride"})


# ======================================================================
# Text analysis (LLM-data extension)
# ======================================================================

def text_tokens(spark, sf_dir):
    from quokka_spark.functions.text import token_count
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents")
    return docs.df.select("doc_id", token_count("text").cast("bigint").alias("n_tokens"))


_TOKENS_SQL = r"""
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
FROM documents
"""


def text_fingerprint(spark, sf_dir):
    from quokka_spark.functions.text import fingerprint
    qc = _qc(spark)
    return _t(qc, sf_dir, "documents").df.select(
        "doc_id", fingerprint("text").alias("fp"))


_FINGERPRINT_SQL = r"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
FROM documents
"""


def text_lang_id(spark, sf_dir):
    from quokka_spark.functions.text import lang_id
    qc = _qc(spark)
    return _t(qc, sf_dir, "documents").df.select(
        "doc_id", lang_id("text").alias("lang_pred"))


def _lang_id_duckdb_expr() -> str:
    from quokka_spark.functions.text import lang_id_sql
    expr = lang_id_sql("text")
    # Spark regexp_replace is global; DuckDB needs the 'g' flag
    return expr.replace("regexp_replace(trim(text), '\\\\s+', ' ')",
                        "regexp_replace(trim(text), '\\s+', ' ', 'g')")


def _lang_id_duckdb_sql() -> str:
    return f"SELECT doc_id, {_lang_id_duckdb_expr()} AS lang_pred FROM documents"


def text_quality(spark, sf_dir):
    from quokka_spark.functions.text import quality_score
    qc = _qc(spark)
    return _t(qc, sf_dir, "documents").df.select(
        "doc_id", quality_score("text").alias("quality"))


_QUALITY_SQL = r"""
SELECT doc_id,
  round(least(length(text) / 500.0, 1.0)
  * (CASE WHEN length(text) > 0
          THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) * 1.0 / length(text)
          ELSE 0.0 END)
  * (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END) > 0
               AND length(text) * 1.0 / (CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END) BETWEEN 3 AND 12
          THEN 1.0 ELSE 0.5 END), 6) AS quality
FROM documents
"""


def src_iceberg(spark, sf_dir):
    """read_iceberg end-to-end WITHOUT the runtime jar: a spec-shaped
    local Iceberg v2 table (sources/iceberg_local.py — pure-Python
    metadata: manifest-list/manifest Avro via the built-in avro_lite
    codec) is laid over the existing lineitem parquet, data referenced
    in place. Snapshot 1 = lineitem, snapshot 2 = lineitem doubled;
    the gate TIME-TRAVELS to snapshot 1, so the oracle is plain
    lineitem. Exercises: metadata resolution, manifest decode, time
    travel, and the native parquet scan the file list feeds."""
    import os
    import tempfile
    from quokka_spark.sources.iceberg_local import create_local_iceberg_table
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_iceberg_" + sf_dir.strip("/").replace("/", "_"))
    create_local_iceberg_table(tbl, [[li], [li, li]])
    ds = qc.read_iceberg(tbl, snapshot=1)
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_SRC_ICEBERG_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


def src_delta(spark, sf_dir):
    """read_delta end-to-end WITHOUT the delta-spark jar
    (sources/delta_local.py — pure-Python JSON log replay): a local
    Delta table is laid over the existing lineitem parquet, data
    referenced in place. Version 0 = lineitem, version 1 adds a
    second (symlinked) copy; the gate reads the LATEST version, so
    the oracle is lineitem UNION ALL lineitem — exercising metadata
    replay, multi-version adds, and the native parquet scan the live
    file list feeds (pushdown plan-tested in tests/test_delta.py)."""
    import os
    import tempfile
    from quokka_spark.sources.delta_local import create_local_delta_table
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_delta_" + sf_dir.strip("/").replace("/", "_"))
    dup = os.path.join(tbl, "li_dup.parquet")
    if not os.path.isdir(os.path.join(tbl, "_delta_log")):
        os.makedirs(tbl, exist_ok=True)
        if not os.path.exists(dup):
            os.symlink(os.path.abspath(li), dup)
        create_local_delta_table(tbl, [[li], [li, dup]])
    ds = qc.read_delta(tbl)
    return ds.df.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))


_SRC_DELTA_SQL = """
WITH doubled AS (
  SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem
)
SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS sum_price
FROM doubled GROUP BY l_linestatus
"""


def src_delta_dv(spark, sf_dir):
    """Delta DELETION VECTORS end-to-end (sources/dv.py — pure-Python
    RoaringBitmapArray decode per the public protocol): a local table
    is laid over lineitem in place, every row whose l_orderkey is a
    multiple of 7 is deleted by ROW POSITION via a committed DV .bin
    (positions computed from the parquet itself, so the check is
    order-independent), and the scan's (file, row-index) anti-join
    must reproduce the predicate exactly — the oracle is plain
    lineitem WHERE l_orderkey % 7 <> 0."""
    import os
    import tempfile
    import pyarrow.parquet as pq
    from quokka_spark.sources.delta_local import (create_local_delta_table,
                                                  delete_rows_delta_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_deltadv_" + sf_dir.strip("/").replace("/", "_"))
    # init-complete marker is the DV commit itself (version 1): a
    # crash between the two commits must rebuild, not serve the
    # half-built table forever
    if not os.path.exists(os.path.join(tbl, "_delta_log",
                                       f"{1:020d}.json")):
        import shutil
        shutil.rmtree(tbl, ignore_errors=True)
        os.makedirs(tbl, exist_ok=True)
        create_local_delta_table(tbl, [[li]])
        keys = pq.read_table(li, columns=["l_orderkey"]) \
            .column("l_orderkey").to_pylist()
        pos = [i for i, v in enumerate(keys) if v % 7 == 0]
        delete_rows_delta_local(tbl, {li: pos})
    ds = qc.read_delta(tbl)
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_SRC_DELTA_DV_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem WHERE l_orderkey % 7 <> 0
GROUP BY l_returnflag
"""


def src_delta_cm(spark, sf_dir):
    """Delta columnMapping.mode=name read (delta_local._column_mapping):
    a physical-named copy of lineitem's three gate columns sits under
    a log whose schema fields carry physicalName metadata; the scan
    must resolve physical → logical names and translate the
    scan_filter's stats lookup — the oracle is the logical-named
    filter+aggregate on plain lineitem."""
    import json as _json
    import os
    import tempfile

    import pyarrow.parquet as pq
    from quokka_spark.sources.delta_local import _commit, _footer_stats
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_deltacm_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    phys = os.path.join(base, "phys.parquet")
    done = os.path.join(base, "_done")
    logical = ["l_returnflag", "l_quantity", "l_extendedprice"]
    physical = ["col-r1", "col-q2", "col-p3"]
    types = ["string", "double", "double"]
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(tbl, exist_ok=True)
        t = pq.read_table(li, columns=logical)
        pq.write_table(t.rename_columns(physical), phys)
        schema = {"type": "struct", "fields": [
            {"name": ln, "type": ty, "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": pn,
                          "delta.columnMapping.id": i + 1}}
            for i, (ln, pn, ty) in enumerate(zip(logical, physical,
                                                 types))]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "cm", "format": {"provider": "parquet",
                                                 "options": {}},
                          "schemaString": _json.dumps(schema),
                          "partitionColumns": [],
                          "configuration": {
                              "delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
                          "createdTime": 0}},
            {"add": {"path": phys, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True,
                     "stats": _footer_stats(phys)}}])
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_delta(tbl, scan_filter="l_quantity > 25")
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))


_SRC_DELTA_CM_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem WHERE l_quantity > 25
GROUP BY l_returnflag
"""


def src_delta_cm_write(spark, sf_dir):
    """Delta columnMapping.mode=name WRITE-then-READ roundtrip
    (delta_local.write_delta_local's logical→physical rename): the
    even-orderkey half of lineitem sits in the mapped table as a
    physical-named fixture file; the odd half is APPENDED through the
    write path with ordinary logical column names — the engine must
    rename to physical, record physical-keyed footer stats, and read
    the mixed table back as one logical whole. Oracle: plain
    lineitem."""
    import json as _json
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.delta_local import (_commit, _footer_stats,
                                                  write_delta_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_deltacmw_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    phys = os.path.join(base, "phys.parquet")
    done = os.path.join(base, "_done")
    logical = ["l_orderkey", "l_returnflag", "l_quantity",
               "l_extendedprice"]
    physical = ["col-k0", "col-r1", "col-q2", "col-p3"]
    types = ["long", "string", "double", "double"]
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(tbl, exist_ok=True)
        t = pq.read_table(li, columns=logical)
        even = t.filter(pc.equal(pc.bit_wise_and(
            t.column("l_orderkey"), 1), 0))
        pq.write_table(even.rename_columns(physical), phys)
        schema = {"type": "struct", "fields": [
            {"name": ln, "type": ty, "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": pn,
                          "delta.columnMapping.id": i + 1}}
            for i, (ln, pn, ty) in enumerate(zip(logical, physical,
                                                 types))]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "cmw", "format": {"provider": "parquet",
                                                  "options": {}},
                          "schemaString": _json.dumps(schema),
                          "partitionColumns": [],
                          "configuration": {
                              "delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "4"},
                          "createdTime": 0}},
            {"add": {"path": phys, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True,
                     "stats": _footer_stats(phys)}}])
        odd = spark.read.parquet(li).where("l_orderkey % 2 = 1") \
            .select(*logical)
        write_delta_local(odd, tbl, mode="append")
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_delta(tbl, scan_filter="l_quantity > 25")
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))


_SRC_DELTA_CM_WRITE_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem WHERE l_quantity > 25
GROUP BY l_returnflag
"""


def src_delta_cm_partitioned(spark, sf_dir):
    """PARTITIONED columnMapping.mode=name Delta table end-to-end
    (round 9): hive directories and partitionValues key by the
    PHYSICAL partition-column name; the write path renames
    logical→physical (inheriting the table's partitioning), the scan
    rejoins partition values as typed LOGICAL columns, and
    partition_filter prunes at the log level. Aggregating BY the
    partition column makes a wrong/missing rejoin hash-visible."""
    import json as _json
    import os
    import tempfile

    from quokka_spark.sources.delta_local import _commit, write_delta_local
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_cmpart_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        os.makedirs(tbl)
        schema = {"type": "struct", "fields": [
            {"name": "l_returnflag", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "c-1",
                          "delta.columnMapping.id": 1}},
            {"name": "l_quantity", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "c-2",
                          "delta.columnMapping.id": 2}},
            {"name": "l_orderkey", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "c-3",
                          "delta.columnMapping.id": 3}}]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "qs-cm-part",
                          "format": {"provider": "parquet",
                                     "options": {}},
                          "schemaString": _json.dumps(schema),
                          "partitionColumns": ["l_returnflag"],
                          "configuration": {
                              "delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
                          "createdTime": 0}}])
        src = spark.read.parquet(li) \
            .select("l_returnflag", "l_quantity", "l_orderkey")
        write_delta_local(src.where("l_orderkey % 2 = 0"), tbl,
                          mode="append")
        write_delta_local(src.where("l_orderkey % 2 = 1"), tbl,
                          mode="append")
        with open(done, "w") as fh:
            fh.write("ok")
    # prune to two flags at the log level, then aggregate by the
    # rejoined partition column
    ds = qc.read_delta(tbl, partition_filter="l_returnflag IN ('A','R')")
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.sum("l_orderkey").alias("sum_ok"))


_SRC_DELTA_CM_PARTITIONED_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
FROM lineitem WHERE l_returnflag IN ('A', 'R')
GROUP BY l_returnflag
"""


def src_delta_cm_id_partitioned(spark, sf_dir):
    """PARTITIONED columnMapping.mode=id Delta table end-to-end
    (round 10): partition columns never live in the data files, so
    partitionValues key by the SCHEMA's physicalName while data
    columns resolve per file by parquet field id; the id-mode MERGE
    upsert rewrites matched files via the per-file field-id survivor
    scan. Upserted rows (p_partkey%10=0 → retailprice -1) make a
    wrong merge hash-visible; aggregating BY the partition column
    pins the partition rejoin."""
    import json as _json
    import os
    import tempfile

    from quokka_spark.sources.delta_local import (_commit,
                                                  upsert_delta_local,
                                                  write_delta_local)
    qc = _qc(spark)
    pt = os.path.join(sf_dir, "part.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_cmidp_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        os.makedirs(tbl)
        schema = {"type": "struct", "fields": [
            {"name": "p_brand", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "c-1",
                          "delta.columnMapping.id": 1}},
            {"name": "p_partkey", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "c-2",
                          "delta.columnMapping.id": 2}},
            {"name": "p_retailprice", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "c-3",
                          "delta.columnMapping.id": 3}}]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "qs-cm-id-part",
                          "format": {"provider": "parquet",
                                     "options": {}},
                          "schemaString": _json.dumps(schema),
                          "partitionColumns": ["p_brand"],
                          "configuration": {
                              "delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "3"},
                          "createdTime": 0}}])
        src = spark.read.parquet(pt) \
            .select("p_brand", "p_partkey", "p_retailprice")
        write_delta_local(src.where("p_partkey % 2 = 0"), tbl,
                          mode="append")
        write_delta_local(src.where("p_partkey % 2 = 1"), tbl,
                          mode="append")
        upsert_delta_local(
            spark, tbl,
            src.where("p_partkey % 10 = 0")
            .withColumn("p_retailprice", F.lit(-1.0)),
            ["p_partkey"])
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_delta(tbl)
    return ds.df.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
        F.sum("p_partkey").alias("sum_pk"))


_SRC_DELTA_CM_ID_PARTITIONED_SQL = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
       round(sum(CASE WHEN p_partkey % 10 = 0 THEN -1.0
                      ELSE p_retailprice END), 2) AS sum_price,
       CAST(sum(p_partkey) AS BIGINT) AS sum_pk
FROM part GROUP BY p_brand
"""


def src_delta_auto_checkpoint(spark, sf_dir):
    """Automatic checkpointing on the write path (round 10): 12
    append commits leave an auto-checkpoint at v10 with NO manual
    write_checkpoint_local call; the fixture then DELETES every JSON
    commit the checkpoint covers (log cleanup), so this read is
    impossible unless the auto-checkpoint was written and replays
    correctly — a missing or wrong checkpoint is loud, not
    hash-wrong."""
    import os
    import tempfile

    from quokka_spark.sources.delta_local import (_scan_log,
                                                  write_delta_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_autockpt_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(li) \
            .select("l_orderkey", "l_quantity", "l_returnflag")
        for i in range(12):
            write_delta_local(src.where(f"l_orderkey % 12 = {i}"),
                              tbl, mode="append")
        assert 10 in _scan_log(tbl)[1], "auto-checkpoint missing"
        for v in range(10):
            p = os.path.join(tbl, "_delta_log", f"{v:020d}.json")
            if os.path.exists(p):
                os.remove(p)
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_delta(tbl)
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.sum("l_orderkey").alias("sum_ok"))


_SRC_DELTA_AUTO_CHECKPOINT_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
FROM lineitem GROUP BY l_returnflag
"""


def src_iceberg_multispec(spark, sf_dir):
    """Iceberg commits on a table with EVOLVED partition specs
    (round 10): the current snapshot spans manifests of TWO specs;
    a MERGE upsert then commits through the EXTEND path (new
    manifests under the current spec, prior manifests untouched).
    Upserted rows (p_partkey%10=0 → retailprice -1) make a wrong
    merge or a corrupted older-spec manifest hash-visible."""
    import os
    import tempfile

    from quokka_spark.sources.avro_lite import (read_container,
                                                write_container)
    from quokka_spark.sources.iceberg_local import (
        _MANIFEST_FILE_SCHEMA, create_local_iceberg_table,
        upsert_iceberg_local)
    qc = _qc(spark)
    pt = os.path.join(sf_dir, "part.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_icems_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(pt) \
            .select("p_brand", "p_partkey", "p_retailprice", "p_type")
        fa = os.path.join(base, "a.parquet")
        fb = os.path.join(base, "b.parquet")
        src.where("p_partkey % 2 = 0").coalesce(1) \
            .toPandas().to_parquet(fa)
        src.where("p_partkey % 2 = 1").coalesce(1) \
            .toPandas().to_parquet(fb)
        create_local_iceberg_table(
            tbl,
            [{"data": [{"path": fa, "partition": {"p_type": "all"}}],
              "spec_id": 0},
             {"data": [{"path": fb, "partition": {"p_brand": "all"}}],
              "spec_id": 1}],
            schema_fields=[(1, "p_brand", "string"),
                           (2, "p_partkey", "long"),
                           (3, "p_retailprice", "double"),
                           (4, "p_type", "string")],
            partition_specs=[
                {"spec-id": 0, "fields": [
                    {"name": "p_type", "type": "string", "source-id": 4,
                     "transform": "identity", "field-id": 1000}]},
                {"spec-id": 1, "fields": [
                    {"name": "p_brand", "type": "string", "source-id": 1,
                     "transform": "identity", "field-id": 1001}]}])
        # a real evolved table's current snapshot spans both specs
        meta_dir = os.path.join(tbl, "metadata")
        _, r1 = read_container(os.path.join(meta_dir, "snap-1.avro"))
        _, r2 = read_container(os.path.join(meta_dir, "snap-2.avro"))
        write_container(os.path.join(meta_dir, "snap-2.avro"),
                        _MANIFEST_FILE_SCHEMA, r1 + r2)
        upsert_iceberg_local(
            spark, tbl,
            src.where("p_partkey % 10 = 0")
            .withColumn("p_retailprice", F.lit(-1.0)),
            ["p_partkey"])
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_iceberg(tbl)
    return ds.df.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price"),
        F.sum("p_partkey").alias("sum_pk"))


_SRC_ICEBERG_MULTISPEC_SQL = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
       round(sum(CASE WHEN p_partkey % 10 = 0 THEN -1.0
                      ELSE p_retailprice END), 2) AS sum_price,
       CAST(sum(p_partkey) AS BIGINT) AS sum_pk
FROM part GROUP BY p_brand
"""


def src_delta_cm_id_write(spark, sf_dir):
    """Delta columnMapping.mode=id WRITE roundtrip + mapped schema
    EVOLUTION (round 9): the even-orderkey half of lineitem sits in
    the id-mode table as a fixture file whose PHYSICAL names are
    arbitrary (resolution is by parquet field id); the odd half is
    APPENDED through write_delta_local with an extra column `half` —
    the engine assigns the new column a fresh physicalName/id, bumps
    maxColumnId, stamps field ids into the new files via the native
    writer, and the read resolves both layouts into one logical
    table (even rows null-fill `half`). Oracle derives `half` from
    the orderkey parity."""
    import json as _json
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.delta_local import _commit, write_delta_local
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_deltacmidw_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    phys = os.path.join(base, "phys.parquet")
    done = os.path.join(base, "_done")
    logical = ["l_orderkey", "l_returnflag", "l_quantity"]
    physical = ["col-k0", "col-r1", "col-q2"]
    types = ["long", "string", "double"]
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(tbl, exist_ok=True)
        t = pq.read_table(li, columns=logical)
        even = t.filter(pc.equal(pc.bit_wise_and(
            t.column("l_orderkey"), 1), 0))
        # fixture file: ARBITRARY physical names, field ids attached
        fields = [pa.field(pn, even.schema.field(i).type,
                           metadata={b"PARQUET:field_id":
                                     str(i + 1).encode()})
                  for i, pn in enumerate(physical)]
        pq.write_table(
            pa.Table.from_arrays(list(even.columns),
                                 schema=pa.schema(fields)), phys)
        schema = {"type": "struct", "fields": [
            {"name": ln, "type": ty, "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": pn,
                          "delta.columnMapping.id": i + 1}}
            for i, (ln, pn, ty) in enumerate(zip(logical, physical,
                                                 types))]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "cmidw",
                          "format": {"provider": "parquet",
                                     "options": {}},
                          "schemaString": _json.dumps(schema),
                          "partitionColumns": [],
                          "configuration": {
                              "delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "3"},
                          "createdTime": 0}},
            {"add": {"path": phys, "partitionValues": {}, "size": 1,
                     "modificationTime": 0, "dataChange": True}}])
        odd = spark.read.parquet(li).where("l_orderkey % 2 = 1") \
            .select(*logical).withColumn("half", F.lit("odd"))
        write_delta_local(odd, tbl, mode="append")
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_delta(tbl)
    return ds.df.groupBy("l_returnflag", "half").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_SRC_DELTA_CM_ID_WRITE_SQL = """
SELECT l_returnflag,
       CASE WHEN l_orderkey % 2 = 1 THEN 'odd' END AS half,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag, half
"""


def src_hudi(spark, sf_dir):
    """read_hudi end-to-end WITHOUT the hudi-spark bundle jar
    (sources/hudi_local.py — pure-Python timeline replay): a local
    Copy-on-Write table is laid over the existing lineitem parquet,
    data referenced in place. Instant 1 = group g1 → lineitem;
    instant 2 SUPERSEDES g1 (new slice, same file) and adds group g2
    (a symlinked copy) — the gate reads the latest state, so the
    oracle is lineitem UNION ALL lineitem, exercising timeline
    ordering, newest-slice-per-group resolution, and the native
    parquet scan the live file list feeds."""
    import os
    import tempfile
    from quokka_spark.sources.hudi_local import commit_hudi_local
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_hudi_" + sf_dir.strip("/").replace("/", "_"))
    dup = os.path.join(tbl, "li_dup.parquet")
    if not os.path.isdir(os.path.join(tbl, ".hoodie")):
        os.makedirs(tbl, exist_ok=True)
        if not os.path.exists(dup):
            os.symlink(os.path.abspath(li), dup)
        commit_hudi_local(tbl, {"": [("g1", li)]}, instant="1")
        commit_hudi_local(tbl, {"": [("g1", li), ("g2", dup)]},
                          instant="2")
    ds = qc.read_hudi(tbl)
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))


_SRC_HUDI_SQL = """
WITH doubled AS (
  SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem
)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS sum_price
FROM doubled GROUP BY l_returnflag
"""


def src_hudi_1x(spark, sf_dir):
    """Hudi 1.x timeline reads (round 13 — round-12 verdict #6;
    hudi_local.completed_instants' 1.x branch): a
    hoodie.table.version=8 COPY_ON_WRITE table whose ACTIVE timeline
    lives under .hoodie/timeline/ with completion-time instant names
    (<requested>_<completion>.<action>). 1.x visibility is
    COMPLETION-time-based: the odd-keys instant REQUESTS first but
    COMPLETES last (a slow writer overlapping a fast one on a
    different file group — legal under OCC), so a time-travel at the
    fast instant's completion must NOT see it yet, and the as_of
    boundary compares completion times. The gate unions the CURRENT
    read (evens only — a later replacecommit kills the odd group)
    with a TIME-TRAVEL read at the slow instant's completion (both
    groups visible), so a replay that misses the 1.x layout, orders
    by requested time, or ignores the replace hash-mismatches."""
    import json as _json
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    qc = _qc(spark)
    sup = os.path.join(sf_dir, "supplier.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_hudi1x_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")

    def _built():
        # VERSIONED marker: the fixture layout changed mid-round-13
        # (completion-time visibility semantics) and /tmp fixtures
        # outlive code changes — a stale v1 layout must rebuild
        try:
            with open(done) as fh:
                return fh.read() == "v2"
        except OSError:
            return False
    if not _built():
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        tdir = os.path.join(tbl, ".hoodie", "timeline")
        os.makedirs(tdir)
        t = pq.read_table(sup, columns=[
            "s_suppkey", "s_nationkey", "s_acctbal"])
        even = pc.equal(pc.bit_wise_and(t.column("s_suppkey"), 1), 0)
        fo = os.path.join(tbl, "odd.parquet")
        fe = os.path.join(tbl, "even.parquet")
        pq.write_table(t.filter(pc.invert(even)), fo)
        pq.write_table(t.filter(even), fe)
        with open(os.path.join(tbl, ".hoodie",
                               "hoodie.properties"), "w") as fh:
            fh.write("hoodie.table.type=COPY_ON_WRITE\n"
                     "hoodie.table.name=sup1x\n"
                     "hoodie.table.version=8\n")

        def instant(req, comp, action, doc):
            with open(os.path.join(tdir, f"{req}_{comp}.{action}"),
                      "w") as fh:
                fh.write(_json.dumps(doc))
        # odd keys: requested FIRST, completed LAST (slow writer)
        instant("20240101000000001", "20240101000000009", "commit",
                {"partitionToWriteStats": {"": [
                    {"fileId": "g1", "path": fo}]}})
        # even keys: requested second, completed first (fast writer,
        # different file group — legal concurrent shape)
        instant("20240101000000002", "20240101000000003", "commit",
                {"partitionToWriteStats": {"": [
                    {"fileId": "g2", "path": fe}]}})
        # the replace of g1 requests AND completes after g1's write
        instant("20240101000000010", "20240101000000011",
                "replacecommit",
                {"partitionToReplaceFileIds": {"": ["g1"]}})
        with open(done, "w") as fh:
            fh.write("v2")

    def agg(df, via):
        return (df.groupBy("s_nationkey")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("s_acctbal"), 2).alias("sum_bal"))
                .withColumn("via", F.lit(via)))
    return (agg(qc.read_hudi(tbl).df, "current")
            .unionByName(agg(
                qc.read_hudi(tbl, as_of="20240101000000009").df,
                "travel")))


_SRC_HUDI_1X_SQL = """
SELECT via, s_nationkey, n, sum_bal FROM (
  SELECT 'current' AS via, s_nationkey,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(s_acctbal), 2) AS sum_bal
  FROM supplier WHERE s_suppkey % 2 = 0 GROUP BY s_nationkey
  UNION ALL
  SELECT 'travel', s_nationkey, CAST(count(*) AS BIGINT),
         round(sum(s_acctbal), 2)
  FROM supplier GROUP BY s_nationkey)
"""


def src_iceberg_cdf(spark, sf_dir):
    """Iceberg incremental read (iceberg_local.read_iceberg_changes —
    manifest diffs per snapshot, no changelog files): snapshot 1
    holds the even-orderkey half of lineitem, snapshot 2 appends the
    odd half, snapshot 3 position-deletes every l_orderkey % 7 = 0
    row, and snapshot 4 (round 14, verdict #5 — puts the rewritten
    single-window update pairing on the driver's oracle path) is a
    MERGE upsert keyed on (l_orderkey, l_linenumber) that bumps
    l_quantity of the live l_orderkey % 10 = 1 rows and inserts
    fresh re-keyed rows — the change stream from snapshot 2 carries
    the appends, the deleted rows, and the paired
    update_preimage/update_postimage + insert decomposition, which
    the oracle reproduces from plain lineitem."""
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import (
        add_position_deletes, create_local_iceberg_table,
        upsert_iceberg_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    # dir renamed r14 (fixture history changed): a stale cached _done
    # dir from an earlier round must not serve the 3-snapshot shape
    base = os.path.join(tempfile.gettempdir(),
                        "qs_icecdf14_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        t = pq.read_table(li)
        odd = pc.equal(pc.bit_wise_and(t.column("l_orderkey"), 1), 1)
        even_f = os.path.join(base, "even.parquet")
        odd_f = os.path.join(base, "odd.parquet")
        pq.write_table(t.filter(pc.invert(odd)), even_f)
        pq.write_table(t.filter(odd), odd_f)
        create_local_iceberg_table(tbl, [[even_f], [even_f, odd_f]])
        deletes = {}
        for f in (even_f, odd_f):
            keys = pq.read_table(f, columns=["l_orderkey"]) \
                .column("l_orderkey").to_pylist()
            pos = [i for i, v in enumerate(keys) if v % 7 == 0]
            if pos:
                deletes[f] = pos
        add_position_deletes(tbl, deletes)
        src = spark.read.parquet(li)
        changed = src.where(
            "l_orderkey % 10 = 1 AND l_orderkey % 7 <> 0") \
            .withColumn("l_quantity", F.col("l_quantity") + 50)
        fresh = src.where("l_orderkey % 10 = 3") \
            .withColumn("l_orderkey", F.col("l_orderkey") + 10_000_000)
        upsert_iceberg_local(spark, tbl, changed.unionByName(fresh),
                             ["l_orderkey", "l_linenumber"])
        with open(done, "w") as fh:
            fh.write("ok")
    ch = qc.read_iceberg_changes(tbl, 2).df
    return ch.groupBy("_snapshot_id", "_change_type",
                      "l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_SRC_ICEBERG_CDF_SQL = """
WITH ch AS (
  SELECT 2 AS _snapshot_id, 'insert' AS _change_type,
         l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 2 = 1
  UNION ALL
  SELECT 3, 'delete', l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 7 = 0
  UNION ALL
  SELECT 4, 'update_preimage', l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 10 = 1 AND l_orderkey % 7 <> 0
  UNION ALL
  SELECT 4, 'update_postimage', l_returnflag, l_quantity + 50
  FROM lineitem WHERE l_orderkey % 10 = 1 AND l_orderkey % 7 <> 0
  UNION ALL
  SELECT 4, 'insert', l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 10 = 3
)
SELECT CAST(_snapshot_id AS BIGINT) AS _snapshot_id,
       _change_type, l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM ch GROUP BY _snapshot_id, _change_type, l_returnflag
"""


def src_hudi_incr(spark, sf_dir):
    """Hudi INCREMENTAL query (hudi_local.read_hudi_incremental —
    the consumption mode real Hudi pipelines chain on): documents
    bulk-loads into a MoR table, one deltacommit UPDATES every
    doc_id % 10 = 0 row (lang → 'xx'), one deltacommit DELETES every
    doc_id % 7 = 0 row; the incremental read from the first update
    instant must carry exactly those change rows — upserts with the
    new payload, tombstones keyed by doc_id — which the oracle
    reproduces from plain documents."""
    import os
    import tempfile

    from quokka_spark.sources.hudi_local import (completed_instants,
                                                 upsert_hudi_mor_local,
                                                 write_hudi_mor_local)
    qc = _qc(spark)
    docs = os.path.join(sf_dir, "documents.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_hudincr_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(docs)
        write_hudi_mor_local(src.repartition(2), tbl, recordkey="doc_id")
        upd = src.where("doc_id % 10 = 0").withColumn("lang", F.lit("xx"))
        upsert_hudi_mor_local(spark, tbl, upd)
        dels = src.where("doc_id % 7 = 0").select("doc_id")
        upsert_hudi_mor_local(spark, tbl, dels, delete=True)
        with open(done, "w") as fh:
            fh.write("ok")
    t_upd = completed_instants(tbl)[1][0]
    ch = qc.read_hudi_incremental(tbl, t_upd).df
    return ch.groupBy("_change_type", "lang").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("sum_id"),
        F.sum("n_chars").alias("sum_chars"))


_SRC_HUDI_INCR_SQL = """
WITH ch AS (
  SELECT 'upsert' AS _change_type, 'xx' AS lang, doc_id, n_chars
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT 'delete', NULL, doc_id, NULL
  FROM documents WHERE doc_id % 7 = 0
)
SELECT _change_type, lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM ch GROUP BY _change_type, lang
"""


def src_delta_cdf(spark, sf_dir):
    """Incremental / CDF-style Delta read (delta_local.
    read_delta_changes — inserts from dataChange adds, deletes from
    DV deltas, all derived from the log): v0 bulk-loads the
    even-orderkey half of lineitem, v1 appends the odd half, v2
    DV-deletes every l_orderkey % 7 = 0 row, and v3 (round 14,
    verdict #5 — puts the rewritten single-aggregation update
    pairing on the driver's oracle path) is a MERGE upsert keyed on
    (l_orderkey, l_linenumber) that bumps l_quantity of the live
    l_orderkey % 10 = 1 rows and inserts fresh re-keyed rows — the
    change stream from version 1 must carry the v1 inserts, the v2
    deletes, and v3's paired update_preimage/update_postimage +
    insert decomposition (byte-identical rewritten survivors
    cancelled), which the oracle reproduces from plain lineitem."""
    import os
    import tempfile

    import pyarrow.parquet as pq
    from quokka_spark.sources.delta_local import (delete_rows_delta_local,
                                                  upsert_delta_local,
                                                  write_delta_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    # dir renamed r14 (fixture history changed): a stale cached _done
    # dir from an earlier round must not serve the 3-commit shape
    base = os.path.join(tempfile.gettempdir(),
                        "qs_deltacdf14_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(li)
        write_delta_local(src.where("l_orderkey % 2 = 0"), tbl)
        write_delta_local(src.where("l_orderkey % 2 = 1"), tbl,
                          mode="append")
        deletes = {}
        for uri in qc.read_delta(tbl).df.inputFiles():
            f = uri.removeprefix("file:")
            keys = pq.read_table(f, columns=["l_orderkey"]) \
                .column("l_orderkey").to_pylist()
            pos = [i for i, v in enumerate(keys) if v % 7 == 0]
            if pos:
                deletes[f] = pos
        delete_rows_delta_local(tbl, deletes)
        changed = src.where(
            "l_orderkey % 10 = 1 AND l_orderkey % 7 <> 0") \
            .withColumn("l_quantity", F.col("l_quantity") + 50)
        fresh = src.where("l_orderkey % 10 = 3") \
            .withColumn("l_orderkey", F.col("l_orderkey") + 10_000_000)
        upsert_delta_local(spark, tbl, changed.unionByName(fresh),
                           ["l_orderkey", "l_linenumber"])
        with open(done, "w") as fh:
            fh.write("ok")
    ch = qc.read_delta_changes(tbl, 1).df
    return ch.groupBy("_commit_version", "_change_type",
                      "l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_SRC_DELTA_CDF_SQL = """
WITH ch AS (
  SELECT 1 AS _commit_version, 'insert' AS _change_type,
         l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 2 = 1
  UNION ALL
  SELECT 2, 'delete', l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 7 = 0
  UNION ALL
  SELECT 3, 'update_preimage', l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 10 = 1 AND l_orderkey % 7 <> 0
  UNION ALL
  SELECT 3, 'update_postimage', l_returnflag, l_quantity + 50
  FROM lineitem WHERE l_orderkey % 10 = 1 AND l_orderkey % 7 <> 0
  UNION ALL
  SELECT 3, 'insert', l_returnflag, l_quantity
  FROM lineitem WHERE l_orderkey % 10 = 3
)
SELECT CAST(_commit_version AS BIGINT) AS _commit_version,
       _change_type, l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM ch GROUP BY _commit_version, _change_type, l_returnflag
"""


def src_delta_cdf_upsert(spark, sf_dir):
    """CDF UPDATE pairing (round 9 — delta_local.read_delta_changes):
    an upsert commit stamped with its MERGE keys (commitInfo.
    operationParameters.keyColumns) surfaces as paired
    update_preimage/update_postimage rows for changed keys and plain
    inserts for new keys, with byte-identical survivor
    re-transmissions cancelled. Fixture: documents bulk-loads, one
    upsert bumps n_chars of doc_id%10=0 rows AND inserts fresh keys
    (doc_id+10M) for doc_id%10=1; the change feed of that single
    version must match the oracle's three-way decomposition — any
    survivor leakage or mis-pairing breaks the hash."""
    import os
    import tempfile

    from quokka_spark.sources.delta_local import (upsert_delta_local,
                                                  write_delta_local)
    qc = _qc(spark)
    docs = os.path.join(sf_dir, "documents.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_cdfup_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(docs) \
            .select("doc_id", "lang", "n_chars")
        write_delta_local(src, tbl)
        changed = src.where("doc_id % 10 = 0") \
            .withColumn("n_chars", F.col("n_chars") + 1000)
        fresh = src.where("doc_id % 10 = 1") \
            .withColumn("doc_id", F.col("doc_id") + 10_000_000)
        upsert_delta_local(spark, tbl, changed.unionByName(fresh),
                           "doc_id")
        with open(done, "w") as fh:
            fh.write("ok")
    ch = qc.read_delta_changes(tbl, 1).df
    return ch.groupBy("_change_type").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("sum_id"),
        F.sum("n_chars").alias("sum_chars"))


_SRC_DELTA_CDF_UPSERT_SQL = """
WITH ch AS (
  SELECT 'update_preimage' AS _change_type, doc_id, n_chars
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT 'update_postimage', doc_id, n_chars + 1000
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT 'insert', doc_id + 10000000, n_chars
  FROM documents WHERE doc_id % 10 = 1
)
SELECT _change_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM ch GROUP BY _change_type
"""


def src_delta_cdc_write(spark, sf_dir):
    """CDF-enabled writer + cdc-action reader, end-to-end (round 10 —
    delta_local upsert cdc emission + read_delta_changes cdc branch):
    the table carries delta.enableChangeDataFeed=true, so the MERGE
    writes Change Data Files under _change_data/ plus protocol
    ``cdc`` actions, and the change feed serves that commit FROM
    those files (authoritative — the jar's CDF-reader rule) instead
    of reconstructing. Fixture: documents bulk-loads; one upsert
    bumps n_chars of doc_id%10=0 rows and inserts fresh keys
    (doc_id+10M) for doc_id%10=1 — the same decomposition as
    src_delta_cdf_upsert, but round-tripped through real cdc files.
    (The shared oracle is valid because every update CHANGES values;
    a no-op re-apply would pair pre/postimage in cdc, like the jar,
    where the log-only reconstruction cancels byte-identical rows.)"""
    import json as _json
    import os
    import tempfile

    from quokka_spark.sources.delta_local import (_commit,
                                                  upsert_delta_local,
                                                  write_delta_local)
    qc = _qc(spark)
    docs = os.path.join(sf_dir, "documents.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_cdcw_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(tbl, exist_ok=True)
        schema = {"type": "struct", "fields": [
            {"name": "doc_id", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "lang", "type": "string", "nullable": True,
             "metadata": {}},
            {"name": "n_chars", "type": "long", "nullable": True,
             "metadata": {}}]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 4}},
            {"metaData": {
                "id": "cdcw", "format": {"provider": "parquet",
                                         "options": {}},
                "schemaString": _json.dumps(schema),
                "partitionColumns": [],
                "configuration": {"delta.enableChangeDataFeed": "true"},
                "createdTime": 0}}])
        src = spark.read.parquet(docs) \
            .select("doc_id", "lang", "n_chars")
        write_delta_local(src, tbl, mode="append")
        changed = src.where("doc_id % 10 = 0") \
            .withColumn("n_chars", F.col("n_chars") + 1000)
        fresh = src.where("doc_id % 10 = 1") \
            .withColumn("doc_id", F.col("doc_id") + 10_000_000)
        upsert_delta_local(spark, tbl, changed.unionByName(fresh),
                           "doc_id")
        with open(done, "w") as fh:
            fh.write("ok")
    ch = qc.read_delta_changes(tbl, 2).df
    return ch.groupBy("_change_type").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("sum_id"),
        F.sum("n_chars").alias("sum_chars"))


def src_delta_cdf_id(spark, sf_dir):
    """CDF on a columnMapping.mode=id Delta table (round 10 — closes
    the last column-mapping gate, delta_local.read_delta_changes id
    branch): data columns resolve PER FILE by parquet field ids, so
    the change stream survives a mid-history physical RENAME
    (spec-legal in id mode — files before and after the rename carry
    different parquet column names for the same field id). Fixture:
    v0 commits id-mode metadata; v1 appends the even-doc_id half
    under the original physical names; v2 renames the physical names
    (metadata-only commit, same field ids); v3 appends the odd half
    under the NEW names — two live layouts; v4 DV-deletes every
    doc_id % 7 = 0 row. The stream from v1 must reproduce the
    oracle's insert/insert/delete decomposition with LOGICAL names."""
    import json as _json
    import os
    import tempfile

    import pyarrow.parquet as pq
    from quokka_spark.sources.delta_local import (_commit,
                                                  delete_rows_delta_local,
                                                  write_delta_local)
    qc = _qc(spark)
    docs = os.path.join(sf_dir, "documents.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_cdfid_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(tbl, exist_ok=True)

        def meta_action(phys_a, phys_b):
            schema = {"type": "struct", "fields": [
                {"name": "doc_id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName": phys_a}},
                {"name": "n_chars", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName": phys_b}}]}
            return {"metaData": {
                "id": "cdfid", "format": {"provider": "parquet",
                                          "options": {}},
                "schemaString": _json.dumps(schema),
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id",
                                  "delta.columnMapping.maxColumnId": "2"},
                "createdTime": 0}}

        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            meta_action("col-a1", "col-b2")])
        src = spark.read.parquet(docs).select("doc_id", "n_chars")
        write_delta_local(src.where("doc_id % 2 = 0"), tbl,
                          mode="append")                        # v1
        _commit(tbl, 2, [meta_action("col-x1", "col-y2")])      # v2
        write_delta_local(src.where("doc_id % 2 = 1"), tbl,
                          mode="append")                        # v3
        deletes = {}
        for uri in qc.read_delta(tbl).df.inputFiles():
            f = uri.removeprefix("file:")
            # resolve doc_id by FIELD ID — physical names differ
            name = next(fl.name for fl in pq.read_schema(f)
                        if (fl.metadata or {}).get(
                            b"PARQUET:field_id") == b"1")
            keys = pq.read_table(f, columns=[name]) \
                .column(name).to_pylist()
            pos = [i for i, v in enumerate(keys) if v % 7 == 0]
            if pos:
                deletes[f] = pos
        delete_rows_delta_local(tbl, deletes)                   # v4
        with open(done, "w") as fh:
            fh.write("ok")
    ch = qc.read_delta_changes(tbl, 1).df
    return ch.groupBy("_commit_version", "_change_type").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("sum_id"),
        F.sum("n_chars").alias("sum_chars"))


_SRC_DELTA_CDF_ID_SQL = """
WITH ch AS (
  SELECT 1 AS v, 'insert' AS t, doc_id, n_chars
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT 3, 'insert', doc_id, n_chars
  FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT 4, 'delete', doc_id, n_chars
  FROM documents WHERE doc_id % 7 = 0
)
SELECT CAST(v AS BIGINT) AS _commit_version, t AS _change_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM ch GROUP BY v, t
"""


def src_iceberg_transform(spark, sf_dir):
    """Iceberg BUCKET-transform partition pruning end-to-end
    (iceberg_local._prune_entries_transforms + the spec's 32-bit
    Murmur3, Appendix-B-vector-pinned in tests): orders is laid out
    as one data file per bucket[8](o_custkey), and an equality
    partition_filter must route the scan to exactly the right bucket
    file while reproducing the plain-orders oracle. The per-row
    bucket assignment in the FIXTURE is pure-Python (one-time,
    cached); the graded read path is all metadata + native scan."""
    import os
    import tempfile

    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import (
        _bucket_hash_bytes, _murmur3_32, create_local_iceberg_table)
    qc = _qc(spark)
    orders = os.path.join(sf_dir, "orders.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_icetr_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil

        import pyarrow as pa
        import pyarrow.compute as pc
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        t = pq.read_table(orders)
        buckets = pa.array(
            [(_murmur3_32(_bucket_hash_bytes(v, "long"))
              & 0x7fffffff) % 8
             for v in t.column("o_custkey").to_pylist()],
            type=pa.int32())
        items = []
        for b in range(8):
            part = t.filter(pc.equal(buckets, b))
            p = os.path.join(base, f"bucket{b}.parquet")
            pq.write_table(part, p)
            items.append({"path": p, "partition": {"ck_bucket": b}})
        create_local_iceberg_table(
            tbl, [items],
            schema_fields=[(1, "o_orderkey", "long"),
                           (2, "o_custkey", "long"),
                           (3, "o_orderstatus", "string"),
                           (4, "o_totalprice", "double"),
                           (5, "o_orderdate", "timestamp"),
                           (6, "o_orderpriority", "string")],
            partition_spec=[{"name": "ck_bucket", "type": "int",
                             "source-id": 2,
                             "transform": "bucket[8]"}])
        with open(done, "w") as fh:
            fh.write("ok")
    mk = spark.read.parquet(orders).agg(
        F.min("o_custkey")).collect()[0][0]
    ds = qc.read_iceberg(tbl, partition_filter=f"o_custkey = {mk}")
    return ds.df.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"))


_SRC_ICEBERG_TRANSFORM_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders
WHERE o_custkey = (SELECT min(o_custkey) FROM orders)
GROUP BY o_orderpriority
"""


def src_hudi_mor(spark, sf_dir):
    """Hudi MERGE_ON_READ end-to-end (sources/hudi_local.py — file
    slices, deltacommits, Avro log payloads, the single-shuffle
    record-key merge): lineitem bulk-loads into a MoR table, then a
    deltacommit UPDATES every row with l_orderkey % 10 = 0 (quantity
    + 100, full-row Avro log records written from the executors) and
    a second deltacommit DELETES every row with l_orderkey % 7 = 0
    (tombstone log records) — the merged scan must reproduce both
    predicates exactly against plain lineitem."""
    import os
    import tempfile
    from quokka_spark.sources.hudi_local import (upsert_hudi_mor_local,
                                                 write_hudi_mor_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_hudimor_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        # the synthetic lineitem carries full-row duplicates at some
        # SFs, so no natural column set satisfies Hudi's unique-key
        # contract — stamp a surrogate record id at bulk load (what a
        # real ingest does) and key the upserts/deletes off the
        # TABLE's own rows
        src = spark.read.parquet(li) \
            .withColumn("_qs_rid", F.monotonically_increasing_id())
        write_hudi_mor_local(src.repartition(4), tbl,
                             recordkey="_qs_rid")
        live = qc.read_hudi(tbl).df
        upd = live.where("l_orderkey % 10 = 0") \
            .withColumn("l_quantity", F.col("l_quantity") + 100)
        upsert_hudi_mor_local(spark, tbl, upd)
        dels = qc.read_hudi(tbl).df.where("l_orderkey % 7 = 0") \
            .select("_qs_rid")
        upsert_hudi_mor_local(spark, tbl, dels, delete=True)
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_hudi(tbl)
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_SRC_HUDI_MOR_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(CASE WHEN l_orderkey % 10 = 0
                      THEN l_quantity + 100 ELSE l_quantity END),
             2) AS sum_qty
FROM lineitem WHERE l_orderkey % 7 <> 0
GROUP BY l_returnflag
"""


def src_hudi_logfmt(spark, sf_dir):
    """Hudi MoR with REAL HoodieLogFormat block framing (round 9 —
    sources/hudi_logfmt.py): the table's deltacommit logs are spec-
    framed (#HUDI# magic, block size/version/type, header metadata
    with INSTANT_TIME + SCHEMA, length-prefixed Avro binary records),
    exactly what a real hudi writer produces — the merge scan, the
    driver schema sniff, and the record-key window must read them
    identically to the engine's own container logs. Round 10 widens
    the gate to the full block family: the delete deltacommit is
    reframed as a HARD-DELETE BLOCK (version-3 Avro
    HoodieDeleteRecordList tombstones), the 'xx' update commit is
    reframed as a PARQUET DATA BLOCK (hoodie.logfile.data.block.
    format=parquet — the block content is a complete parquet file),
    and a poisoned update commit is voided by a CROSS-FILE ROLLBACK
    command appended to a LATER log file of each touched slice (the
    crash-recovery shape). Fixture: documents bulk-loads; lang of
    doc_id%10=0 updates; lang of doc_id%5=0 updates to 'zz' then
    ROLLS BACK (must be invisible); doc_id%7=0 hard-deletes via
    delete blocks."""
    import json as _json
    import os
    import tempfile

    from quokka_spark.sources.avro_lite import read_container
    from quokka_spark.sources.hudi_local import (upsert_hudi_mor_local,
                                                 write_hudi_mor_local)
    from quokka_spark.sources.hudi_logfmt import (delete_block,
                                                  parquet_data_block,
                                                  records_to_arrow,
                                                  rollback_block,
                                                  write_log_file)
    qc = _qc(spark)
    docs = os.path.join(sf_dir, "documents.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_hudilf3_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(docs)
        write_hudi_mor_local(src.repartition(2), tbl,
                             recordkey="doc_id")
        upd = src.where("doc_id % 10 = 0").withColumn("lang",
                                                      F.lit("xx"))
        updated = upsert_hudi_mor_local(spark, tbl, upd)
        poisoned = upsert_hudi_mor_local(
            spark, tbl,
            src.where("doc_id % 5 = 0").withColumn("lang", F.lit("zz")))
        dels = src.where("doc_id % 7 = 0").select("doc_id")
        upsert_hudi_mor_local(spark, tbl, dels, delete=True)
        # reframe every container log into spec framing, in place;
        # all-tombstone logs become HARD-DELETE blocks, the update
        # instant's logs become PARQUET data blocks
        by_group: dict = {}
        for dp, _, fs in os.walk(tbl):
            if ".hoodie" in dp:
                continue
            for f in fs:
                if ".log." not in f:
                    continue
                p = os.path.join(dp, f)
                meta, records = read_container(p)
                schema = _json.loads(meta["avro.schema"])
                ts = str(records[0].get("_hoodie_commit_time", "0")) \
                    if records else "0"
                if records and all(r.get("_hoodie_is_deleted")
                                   for r in records):
                    with open(p, "wb") as fh:
                        fh.write(delete_block(
                            [str(r["doc_id"]) for r in records], ts))
                elif ts == str(updated):
                    with open(p, "wb") as fh:
                        fh.write(parquet_data_block(
                            records_to_arrow(schema, records), ts,
                            schema=schema))
                else:
                    write_log_file(p, schema, records, ts)
                # group key = fileId prefix of the spec log name
                by_group.setdefault(f.split(".log.")[0], []).append(
                    (ts, p))
        # void the poisoned instant with a rollback command appended
        # to the NEWEST log file of each slice that carries it — the
        # rolled-over-file shape real crash recovery produces
        for _g, items in by_group.items():
            if any(ts == poisoned for ts, _p in items):
                newest = max(items)[1]
                with open(newest, "ab") as fh:
                    fh.write(rollback_block(poisoned))
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_hudi(tbl)
    return ds.df.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("sum_id"),
        F.sum("n_chars").alias("sum_chars"))


_SRC_HUDI_LOGFMT_SQL = """
SELECT CASE WHEN doc_id % 10 = 0 THEN 'xx' ELSE lang END AS lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE doc_id % 7 <> 0
GROUP BY 1
"""


def src_delta_restore(spark, sf_dir):
    """RESTORE (round 10 — delta_local.restore_delta_local): the
    even-orderkey half of lineitem bulk-loads (v0), the odd half
    appends (v1), then RESTORE to v0 commits the diff as v2 — the
    read-back must equal the plain even-half oracle, with v1 still
    reachable by time travel (asserted by the fixture)."""
    import os
    import tempfile

    from quokka_spark.sources.delta_local import (restore_delta_local,
                                                  write_delta_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_drst_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(li)
        write_delta_local(src.where("l_orderkey % 2 = 0"), tbl)
        write_delta_local(src.where("l_orderkey % 2 = 1"), tbl,
                          mode="append")
        restore_delta_local(tbl, 0)
        assert qc.read_delta(tbl, version=1).df.count() \
            == src.count()
        with open(done, "w") as fh:
            fh.write("ok")
    return qc.read_delta(tbl).df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_SRC_RESTORE_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem WHERE l_orderkey % 2 = 0
GROUP BY l_returnflag
"""


def src_iceberg_restore(spark, sf_dir):
    """Iceberg restore (round 10 — iceberg_local.
    restore_iceberg_local): snap 1 = even-orderkey half, snap 2
    appends the odd half, snap 3 re-references snap 1's manifest list
    byte-for-byte — the read-back must equal the even-half oracle and
    snap 2 stays time-travelable (asserted by the fixture)."""
    import os
    import tempfile

    from quokka_spark.sources.iceberg_local import restore_iceberg_local
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_irst_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(li)
        qc.read_parquet(li).filter_sql("l_orderkey % 2 = 0") \
            .write_iceberg(tbl)
        qc.read_parquet(li).filter_sql("l_orderkey % 2 = 1") \
            .write_iceberg(tbl)
        restore_iceberg_local(tbl, 1)
        assert qc.read_iceberg(tbl, snapshot=2).df.count() \
            == src.count()
        with open(done, "w") as fh:
            fh.write("ok")
    return qc.read_iceberg(tbl).df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


def src_hudi_restore(spark, sf_dir):
    """Hudi restore (round 10 — hudi_local.restore_hudi_local,
    hudi's own destructive semantics): the even-orderkey half
    bulk-loads (instant 1), the odd half appends (instant 2), then
    restore truncates the timeline back to instant 1 — the read-back
    must equal the even-half oracle, and the later instant's files
    are gone from disk (asserted by the fixture)."""
    import os
    import tempfile

    from quokka_spark.sources.hudi_local import (completed_instants,
                                                 restore_hudi_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_hrst_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        qc.read_parquet(li).filter_sql("l_orderkey % 2 = 0") \
            .write_hudi(tbl)
        t0 = completed_instants(tbl)[-1][0]
        qc.read_parquet(li).filter_sql("l_orderkey % 2 = 1") \
            .write_hudi(tbl, mode="append")
        removed = restore_hudi_local(tbl, t0)
        assert removed and len(completed_instants(tbl)) == 1
        with open(done, "w") as fh:
            fh.write("ok")
    return qc.read_hudi(tbl).df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


def src_delta_ts_travel(spark, sf_dir):
    """Delta timestampAsOf (round 9 — delta_local.
    version_at_timestamp): two commits with PINNED commit-file
    mtimes (the jar's timestamp source); a timestamp between them
    must resolve to version 0, i.e. the even-partkey half of part —
    a wrong resolution reads the whole table and breaks the hash."""
    import os
    import tempfile

    from quokka_spark.sources.delta_local import write_delta_local
    qc = _qc(spark)
    pt = os.path.join(sf_dir, "part.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_dtts_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(pt)
        write_delta_local(src.where("p_partkey % 2 = 0"), tbl)
        write_delta_local(src.where("p_partkey % 2 = 1"), tbl,
                          mode="append")
        log = os.path.join(tbl, "_delta_log")
        os.utime(os.path.join(log, f"{0:020d}.json"), (1_000_000,) * 2)
        os.utime(os.path.join(log, f"{1:020d}.json"), (2_000_000,) * 2)
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_delta(tbl, timestamp_as_of=1_500_000_000)
    return ds.df.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price"))


_TS_TRAVEL_SQL = """
SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
       round(sum(p_retailprice), 2) AS sum_price
FROM part WHERE p_partkey % 2 = 0
GROUP BY p_brand
"""


def src_iceberg_ts_travel(spark, sf_dir):
    """Iceberg as-of-timestamp (round 9 — iceberg_local.
    snapshot_at_timestamp): snapshots stamped timestamp-ms 1000 and
    2000; as_of_timestamp=1500 must serve snapshot 1 (the even
    half). Same oracle as the Delta twin."""
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import \
        create_local_iceberg_table
    qc = _qc(spark)
    pt = os.path.join(sf_dir, "part.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_icets_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        t = pq.read_table(pt, columns=["p_partkey", "p_brand",
                                       "p_retailprice"])
        odd = pc.equal(pc.bit_wise_and(t.column("p_partkey"), 1), 1)
        even_f = os.path.join(base, "even.parquet")
        odd_f = os.path.join(base, "odd.parquet")
        pq.write_table(t.filter(pc.invert(odd)), even_f)
        pq.write_table(t.filter(odd), odd_f)
        create_local_iceberg_table(
            tbl,
            [{"data": [even_f], "timestamp_ms": 1000},
             {"data": [even_f, odd_f], "timestamp_ms": 2000}],
            schema_fields=[(1, "p_partkey", "long"),
                           (2, "p_brand", "string"),
                           (3, "p_retailprice", "double")])
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_iceberg(tbl, as_of_timestamp=1500)
    return ds.df.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price"))


def src_hudi_ts_travel(spark, sf_dir):
    """Hudi as-of by timestamp (round 9 — hudi_local.
    instant_at_timestamp): two commits; reading at the FIRST commit's
    instant timestamp (persisted by the fixture) serves the even
    half. Same oracle as the Delta/Iceberg twins."""
    import os
    import tempfile

    from quokka_spark.sources.hudi_local import (completed_instants,
                                                 write_hudi_local)
    qc = _qc(spark)
    pt = os.path.join(sf_dir, "part.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_hudits_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(pt) \
            .select("p_partkey", "p_brand", "p_retailprice")
        write_hudi_local(src.where("p_partkey % 2 = 0"), tbl)
        write_hudi_local(src.where("p_partkey % 2 = 1"), tbl,
                         mode="append")
        t1 = completed_instants(tbl)[0][0]
        with open(done, "w") as fh:
            fh.write(t1)
    with open(done) as fh:
        t1 = fh.read().strip()
    ds = qc.read_hudi(tbl, as_of_timestamp=int(t1))
    return ds.df.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        F.round(F.sum("p_retailprice"), 2).alias("sum_price"))


def src_orc(spark, sf_dir):
    """read_orc/write_orc roundtrip (parity-plus source — ORC is
    Spark-native, zero extra dependencies): lineitem is written once
    to a local ORC copy, read back through the facade, filtered (the
    predicate pushes into the ORC scan — plan-tested) and aggregated;
    the oracle runs the identical query on the parquet lineitem, so a
    value drift anywhere in the ORC write→read path hash-fails."""
    import os
    import tempfile
    qc = _qc(spark)
    dst = os.path.join(tempfile.gettempdir(),
                       "qs_orc_" + sf_dir.strip("/").replace("/", "_"))
    if not os.path.isdir(dst):
        qc.read_parquet(os.path.join(sf_dir, "lineitem.parquet")) \
            .write_orc(dst)
    ds = qc.read_orc(dst)
    return (ds.filter_sql("l_quantity > 25").df
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_price")))


_SRC_ORC_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem WHERE l_quantity > 25 GROUP BY l_returnflag
"""


def src_avro(spark, sf_dir):
    """read_avro/write_avro roundtrip WITHOUT the spark-avro jar
    (sources/avro_source.py — binaryFile scan + the avro_lite codec):
    a lineitem projection incl. a DATE column (exercising the
    logical-type mapping) is written once to local Avro containers,
    read back through the facade and aggregated; the oracle runs the
    identical query on the parquet lineitem, so any drift in the
    encode→decode path hash-fails."""
    import os
    import tempfile
    qc = _qc(spark)
    dst = os.path.join(tempfile.gettempdir(),
                       "qs_avro_" + sf_dir.strip("/").replace("/", "_"))
    if not os.path.isdir(dst):
        qc.read_parquet(os.path.join(sf_dir, "lineitem.parquet")) \
            .select(["l_returnflag", "l_quantity", "l_extendedprice",
                     "l_shipdate"]) \
            .write_avro(dst)
    ds = qc.read_avro(dst)
    return (ds.filter_sql("l_shipdate >= DATE '1995-01-01'").df
            .groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_price")))


_SRC_AVRO_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag
"""


def src_delta_checkpoint(spark, sf_dir):
    """read_delta THROUGH a checkpoint parquet after log cleanup —
    the shape every long-lived real Delta table has (checkpoints
    appear every 10 commits by default and old JSON commits get
    cleaned up). v0 = lineitem, v1 doubles it, checkpoint at v1,
    JSON commits 0-1 DELETED, v2 (JSON) removes the duplicate again:
    reading latest exercises checkpoint state + trailing JSON replay
    + remove-across-checkpoint, and the oracle is plain lineitem."""
    import os
    import tempfile
    from quokka_spark.sources.delta_local import (
        _commit, create_local_delta_table, write_checkpoint_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_deltacp_" + sf_dir.strip("/").replace("/", "_"))
    dup = os.path.join(tbl, "li_dup.parquet")
    if not os.path.isdir(os.path.join(tbl, "_delta_log")):
        os.makedirs(tbl, exist_ok=True)
        if not os.path.exists(dup):
            os.symlink(os.path.abspath(li), dup)
        create_local_delta_table(tbl, [[li], [li, dup]])
        write_checkpoint_local(tbl)
        for v in (0, 1):
            os.remove(os.path.join(tbl, "_delta_log", f"{v:020d}.json"))
        # dup sits INSIDE the table root, so its add key is the
        # RELATIVE path — the remove must use the same key
        _commit(tbl, 2, [{"remove": {"path": os.path.relpath(dup, tbl),
                                     "deletionTimestamp": 0,
                                     "dataChange": True}}])
    ds = qc.read_delta(tbl)
    return ds.df.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))


_SRC_DELTA_CP_SQL = """
SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY l_linestatus
"""


def src_delta_v2_checkpoint(spark, sf_dir):
    """read_delta through a V2 CHECKPOINT (round 10 — protocol 'V2
    Checkpoint Spec'): the even-orderkey half of lineitem commits at
    v0, the odd half at v1, then write_v2_checkpoint_local upgrades
    the protocol (reader 3 + v2Checkpoint) and writes the v2 layout —
    top-level JSON with checkpointMetadata/protocol/metaData + a
    sidecar pointer, add actions in a _sidecars/ parquet — and the
    covered JSON commits are CLEANED: the read must reproduce plain
    lineitem entirely from the v2 checkpoint."""
    import os
    import tempfile

    from quokka_spark.sources.delta_local import (
        write_delta_local, write_v2_checkpoint_local)
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_v2cp_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(li)
        write_delta_local(src.where("l_orderkey % 2 = 0"), tbl)
        write_delta_local(src.where("l_orderkey % 2 = 1"), tbl,
                          mode="append")
        cpv = write_v2_checkpoint_local(tbl)
        log = os.path.join(tbl, "_delta_log")
        for v in range(cpv + 1):
            os.remove(os.path.join(log, f"{v:020d}.json"))
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_delta(tbl)
    return ds.df.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))


def src_delta_partitioned(spark, sf_dir):
    """read_delta on a PARTITIONED table: lineitem written with
    partition_by=l_returnflag (the partition column lives in the LOG,
    not the data files — it joins back in as a typed column via the
    broadcast file→values map) and read with a partition_filter,
    which prunes the live FILE LIST before the scan (log-level
    partition pruning, the real-Delta behavior at 100 TB). The agg
    groups BY the partition column, so a wrong join-back or a wrong
    prune both hash-mismatch."""
    import os
    import tempfile
    from quokka_spark.sources.delta_local import write_delta_local
    qc = _qc(spark)
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_deltapart_" + sf_dir.strip("/").replace("/", "_"))
    if not os.path.isdir(os.path.join(tbl, "_delta_log")):
        li = qc.read_parquet(os.path.join(sf_dir, "lineitem.parquet")).df
        write_delta_local(li, tbl, partition_by="l_returnflag")
    ds = qc.read_delta(tbl, partition_filter="l_returnflag IN ('N', 'R')")
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_SRC_DELTA_PART_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem WHERE l_returnflag IN ('N', 'R')
GROUP BY l_returnflag
"""


def src_delta_skipping(spark, sf_dir):
    """read_delta with stats-based data skipping: write_delta_local
    records per-file footer stats (numRecords/minValues/maxValues —
    what a real Delta writer logs with every add action) on a
    range-split lineitem, and scan_filter skips files whose stats
    refute it BEFORE the scan, then applies row-level — Delta data
    skipping, the 100 TB capability that turns a selective query on a
    million-file table into a handful of file opens. File-level
    skipping is pinned via inputFiles() in tests/test_delta.py."""
    import os
    import tempfile
    from quokka_spark.sources.delta_local import write_delta_local
    qc = _qc(spark)
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_deltaskip_" + sf_dir.strip("/").replace("/", "_"))
    if not os.path.isdir(os.path.join(tbl, "_delta_log")):
        li = qc.read_parquet(os.path.join(sf_dir, "lineitem.parquet")).df
        write_delta_local(li.repartitionByRange(4, F.col("l_orderkey")),
                          tbl)
    ds = qc.read_delta(tbl, scan_filter="l_orderkey <= 15000")
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_discount"), 4).alias("sum_disc"))


_SRC_DELTA_SKIP_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_discount), 4) AS sum_disc
FROM lineitem WHERE l_orderkey <= 15000
GROUP BY l_returnflag
"""


def src_iceberg_deletes(spark, sf_dir):
    """read_iceberg with v2 POSITION deletes applied — the fallback
    reader's distributed anti-join on (_metadata.file_path,
    row_index). The gate lays an Iceberg table over documents.parquet,
    commits a position-delete snapshot for the rows where
    doc_id % 7 = 0 (positions resolved driver-side with pyarrow —
    parquet row order is well-defined within a file), and reads the
    current snapshot; the oracle is the complementary filter."""
    import os
    import tempfile
    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import (
        add_position_deletes, create_local_iceberg_table)
    qc = _qc(spark)
    docs = os.path.join(sf_dir, "documents.parquet")
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_iceberg_del_" + sf_dir.strip("/").replace("/", "_"))
    create_local_iceberg_table(tbl, [[docs]])
    ids = pq.read_table(docs, columns=["doc_id"])["doc_id"].to_pylist()
    pos = [i for i, d in enumerate(ids) if d % 7 == 0]
    add_position_deletes(tbl, {docs: pos})
    ds = qc.read_iceberg(tbl)
    return ds.df.select("doc_id", "source")


_SRC_ICEBERG_DELETES_SQL = """
SELECT doc_id, source FROM documents WHERE doc_id % 7 <> 0
"""


def src_iceberg_eq_deletes(spark, sf_dir):
    """read_iceberg with v2 EQUALITY deletes applied — the fallback
    reader's sequence-scoped null-safe anti-join on the delete file's
    equality columns (the Flink-CDC write shape; previously the one
    NotImplementedError in the pure-Python reader). The gate lays an
    Iceberg table over documents.parquet, commits an equality-delete
    snapshot for doc_id % 5 = 0, and reads the current snapshot; the
    oracle is the complementary filter. Sequence scoping and field-id
    resolution are pinned in tests/test_iceberg.py."""
    import os
    import tempfile
    import pyarrow as pa
    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import (
        add_equality_deletes, create_local_iceberg_table)
    qc = _qc(spark)
    docs = os.path.join(sf_dir, "documents.parquet")
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_iceberg_eq_" + sf_dir.strip("/").replace("/", "_"))
    create_local_iceberg_table(tbl, [[docs]])
    ids = pq.read_table(docs, columns=["doc_id"])["doc_id"].to_pylist()
    kill = sorted({d for d in ids if d % 5 == 0})
    add_equality_deletes(tbl, pa.table({"doc_id": pa.array(kill,
                                                           pa.int64())}))
    ds = qc.read_iceberg(tbl)
    return ds.df.select("doc_id", "source")


_SRC_ICEBERG_EQ_DELETES_SQL = """
SELECT doc_id, source FROM documents WHERE doc_id % 5 <> 0
"""


def src_iceberg_partitioned(spark, sf_dir):
    """read_iceberg on an identity-PARTITIONED table with
    manifest-level pruning: lineitem split into one file set per
    l_returnflag value, the manifests carrying each file's partition
    record (sources/iceberg_local.py:_prune_entries). The
    partition_filter prunes the FILE LIST from the manifests before
    the scan — the capability a jar/catalog read gets from manifest
    partition summaries. The agg groups BY the partition column, so a
    wrong prune or a wrong filter both hash-mismatch; file-level
    pruning itself is pinned in tests/test_iceberg.py via
    inputFiles()."""
    import glob
    import os
    import tempfile
    from quokka_spark.sources.iceberg_local import \
        create_local_iceberg_table
    qc = _qc(spark)
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_icepart_" + sf_dir.strip("/").replace("/", "_"))
    if not os.path.isdir(os.path.join(tbl, "metadata")):
        li = qc.read_parquet(os.path.join(sf_dir, "lineitem.parquet")).df
        flags = [r["l_returnflag"] for r in
                 li.select("l_returnflag").distinct().collect()]
        entries = []
        for v in sorted(flags):
            d = os.path.join(tbl, "data", f"flag={v}")
            li.filter(F.col("l_returnflag") == v).write \
              .mode("overwrite").parquet(d)
            entries += [{"path": p, "partition": {"l_returnflag": v}}
                        for p in sorted(glob.glob(
                            os.path.join(d, "*.parquet")))]
        create_local_iceberg_table(
            tbl, [entries],
            schema_fields=[(1, "l_returnflag", "string")],
            partition_spec=[{"name": "l_returnflag", "type": "string"}])
    ds = qc.read_iceberg(tbl,
                         partition_filter="l_returnflag IN ('N', 'R')")
    return ds.df.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_SRC_ICEBERG_PART_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem WHERE l_returnflag IN ('N', 'R')
GROUP BY l_returnflag
"""


def src_iceberg_bounds(spark, sf_dir):
    """read_iceberg with scan_filter file skipping: lineitem is
    range-split on l_orderkey into disjoint files and the manifests
    carry footer-derived lower/upper bounds
    (iceberg_local.create_local_iceberg_table(collect_bounds=...),
    the values a real writer records). The scan_filter then skips
    whole files whose bounds refute it BEFORE the scan — min/max
    manifest pruning, the 100 TB capability that avoids even opening
    non-matching files' footers — and applies row-level for exact
    semantics (pruning is provably-empty-only, so any predicate
    shape stays correct). File-level skipping itself is pinned in
    tests/test_iceberg.py via inputFiles()."""
    import glob
    import os
    import tempfile
    from quokka_spark.sources.iceberg_local import \
        create_local_iceberg_table
    qc = _qc(spark)
    tbl = os.path.join(tempfile.gettempdir(),
                       "qs_icebounds_" + sf_dir.strip("/").replace("/", "_"))
    d = os.path.join(tbl, "data")
    if not os.path.isdir(os.path.join(tbl, "metadata")):
        li = qc.read_parquet(os.path.join(sf_dir, "lineitem.parquet")).df
        (li.repartitionByRange(4, F.col("l_orderkey"))
           .write.mode("overwrite").parquet(d))
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        create_local_iceberg_table(
            tbl, [files],
            schema_fields=[(1, "l_orderkey", "long")],
            collect_bounds=["l_orderkey"])
    ds = qc.read_iceberg(tbl, scan_filter="l_orderkey <= 15000")
    return ds.df.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"))


_SRC_ICEBERG_BOUNDS_SQL = """
SELECT l_linestatus, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem WHERE l_orderkey <= 15000
GROUP BY l_linestatus
"""


def dedup_exact_best(spark, sf_dir):
    """Quality-aware exact dedup (functions/dedup.exact_dedup_keep_best):
    keep the highest-scoring capture of each duplicate group, ties by
    id — the production refinement over min-id. The corpus has no
    organic exact dups, so the gate injects deterministic groups
    (doc_id % 97 share a body) and scores by n_chars; the oracle is
    the same argmax."""
    from quokka_spark.functions.dedup import exact_dedup_keep_best
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    staged = docs.select(
        "doc_id",
        F.concat(F.lit("body "), (F.col("doc_id") % 97).cast("string"))
        .alias("text"),
        "n_chars")
    return exact_dedup_keep_best(staged, "n_chars").select("doc_id")


_DEDUP_EXACT_BEST_SQL = """
WITH s AS (SELECT doc_id, doc_id % 97 AS g, n_chars FROM documents),
r AS (SELECT doc_id, row_number() OVER (
        PARTITION BY g ORDER BY n_chars DESC, doc_id ASC) AS rn FROM s)
SELECT doc_id FROM r WHERE rn = 1
"""


def dedup_lines(spark, sf_dir):
    """Corpus-wide line-level dedup (CCNet/RefinedWeb boilerplate pass,
    functions/dedup.line_dedup). The synthetic corpus is single-line,
    so the gate runs with delimiter=' ' — same global-first-occurrence
    plan (explode → skew-safe groupBy(norm).min → join-back →
    reassemble), exercised at one-segment-per-word fan-out."""
    from quokka_spark.functions.dedup import line_dedup
    qc = _qc(spark)
    return line_dedup(_t(qc, sf_dir, "documents").df, delimiter=" ")


_DEDUP_LINES_SQL = r"""
WITH e AS (
  SELECT doc_id, string_split(text, ' ') AS ls FROM documents
), l AS (
  SELECT doc_id, i - 1 AS pos, ls[i] AS line, lower(trim(ls[i])) AS norm
  FROM e, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i)
), f AS (
  SELECT norm, min(doc_id * 1048576 + pos) AS kmin
  FROM l WHERE length(norm) > 0 GROUP BY norm
), k AS (
  SELECT l.doc_id, l.pos, l.line,
         (length(l.norm) = 0 OR l.doc_id * 1048576 + l.pos = f.kmin) AS keep
  FROM l LEFT JOIN f ON l.norm = f.norm
)
SELECT doc_id,
       coalesce(string_agg(line, ' ' ORDER BY pos) FILTER (WHERE keep),
                '') AS clean_text,
       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (WHERE NOT keep) AS BIGINT) AS n_dropped
FROM k GROUP BY doc_id
"""


def dedup_spans(spark, sf_dir):
    """Duplicated-substring spans (Lee et al. 2022 exact-substring
    dedup at word-4-gram granularity, functions/dedup.duplicated_spans):
    maximal merged intervals of corpus-repeated 4-grams per doc."""
    from quokka_spark.functions.dedup import duplicated_spans
    qc = _qc(spark)
    return duplicated_spans(_t(qc, sf_dir, "documents").df, n=4)


_DEDUP_SPANS_SQL = r"""
WITH e AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS ws
  FROM documents
), l AS (
  SELECT doc_id, i - 1 AS s, md5(array_to_string(ws[i:i+3], ' ')) AS h
  FROM e, LATERAL (SELECT unnest(generate_series(1, len(ws) - 3)) AS i)
), c AS (
  SELECT h FROM l GROUP BY h HAVING count(*) >= 2
), d AS (
  SELECT l.doc_id, l.s, l.s + 4 AS e2 FROM l JOIN c USING (h)
), fl AS (
  SELECT doc_id, s, e2,
         CASE WHEN s > coalesce(max(e2) OVER (PARTITION BY doc_id ORDER BY s
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS brk
  FROM d
), isl AS (
  SELECT doc_id, s, e2,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY s
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS island
  FROM fl
)
SELECT doc_id, CAST(min(s) AS BIGINT) AS span_start,
       CAST(max(e2) AS BIGINT) AS span_end,
       CAST(max(e2) - min(s) AS BIGINT) AS n_dup_words
FROM isl GROUP BY doc_id, island
"""


def op_hash_sample(spark, sf_dir):
    """Deterministic content-hash sampling (functions/sampling):
    membership is a pure function of (salt, doc_id) — identical
    expression runs in the oracle, so the sampled id set is
    hash-exact, proving run/engine/cluster-size stability."""
    from quokka_spark.functions.sampling import hash_sample
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return hash_sample(docs, "doc_id", 0.25, salt="s1").select("doc_id")


_HASH_SAMPLE_SQL = """
SELECT doc_id FROM documents
WHERE substring(md5('s1' || CAST(doc_id AS VARCHAR)), 1, 12) < '400000000000'
"""


def text_gopher(spark, sf_dir):
    """Gopher-rules quality signals (functions/text.gopher_quality_columns):
    map-side JVM expressions only, zero exchanges."""
    from quokka_spark.functions.text import gopher_quality_columns
    qc = _qc(spark)
    return _t(qc, sf_dir, "documents").df.select(
        "doc_id", *gopher_quality_columns("text"))


_GOPHER_SQL = r"""
WITH g AS (
  SELECT doc_id, trim(text) AS t,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_words,
         length(regexp_replace(trim(text), '\s+', '', 'g')) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0
              THEN round(n_chars * 1.0 / n_words, 6) END AS mean_word_len,
         CASE WHEN n_words > 0 THEN round(
           (length(t) - length(replace(t, '#', ''))
            + length(t) - length(replace(t, '…', ''))
            + (length(t) - length(replace(t, '...', ''))) / 3
           ) * 1.0 / n_words, 6) END AS symbol_word_ratio,
         CASE WHEN n_words > 0 THEN round(
           len(list_filter(string_split_regex(t, '\s+'),
                           w -> regexp_matches(w, '[A-Za-z]')))
           * 1.0 / n_words, 6) END AS alpha_word_ratio,
         CAST(  (CASE WHEN contains(' ' || norm || ' ', ' the ') THEN 1 ELSE 0 END)
              + (CASE WHEN contains(' ' || norm || ' ', ' be ') THEN 1 ELSE 0 END)
              + (CASE WHEN contains(' ' || norm || ' ', ' to ') THEN 1 ELSE 0 END)
              + (CASE WHEN contains(' ' || norm || ' ', ' of ') THEN 1 ELSE 0 END)
              + (CASE WHEN contains(' ' || norm || ' ', ' and ') THEN 1 ELSE 0 END)
              + (CASE WHEN contains(' ' || norm || ' ', ' that ') THEN 1 ELSE 0 END)
              + (CASE WHEN contains(' ' || norm || ' ', ' have ') THEN 1 ELSE 0 END)
              + (CASE WHEN contains(' ' || norm || ' ', ' with ') THEN 1 ELSE 0 END)
           AS BIGINT) AS stop_hits
  FROM g
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, mean_word_len,
       symbol_word_ratio, alpha_word_ratio, stop_hits,
       coalesce(n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND symbol_word_ratio < 0.1
                AND alpha_word_ratio >= 0.8
                AND stop_hits >= 2, false) AS gopher_pass
FROM m
"""


def text_pii(spark, sf_dir):
    """PII detection + redaction (functions/text.pii_columns /
    redact_pii). The synthetic corpus has no organic PII, so the gate
    injects deterministic email/phone/IPv4 strings derived from doc_id
    (same injection expression in the oracle) — the regex counters and
    the 3-pass redaction then have real matches to agree on. Map-side
    only."""
    from quokka_spark.functions.text import pii_columns, redact_pii
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.concat(
            F.lit(" Contact user"), did.cast("string"),
            F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.concat(
            F.lit(" call 555-"), F.lpad((did % 1000).cast("string"), 3, "0"),
            F.lit("-"), F.lpad((did % 10000).cast("string"), 4, "0")))
        .otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(
            F.lit(" from 10.0."), (did % 256).cast("string"), F.lit(".17")))
        .otherwise(F.lit("")))
    staged = docs.select("doc_id", injected.alias("__p__"))
    return staged.select(
        "doc_id", *pii_columns("__p__"),
        F.md5(redact_pii("__p__").cast("binary")).alias("redacted_md5"))


def _pii_sql() -> str:
    from quokka_spark.functions.text import PII_PATTERNS
    em, ph, ip = (PII_PATTERNS["email"], PII_PATTERNS["phone"],
                  PII_PATTERNS["ipv4"])
    return f"""
WITH p AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' Contact user'
                 || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' call 555-'
                 || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.'
                 || CAST(doc_id % 256 AS VARCHAR) || '.17' ELSE '' END AS t
  FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(t, '{em}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '{ph}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '{ip}')) AS BIGINT) AS n_ipv4,
       len(regexp_extract_all(t, '{em}')) + len(regexp_extract_all(t, '{ph}'))
         + len(regexp_extract_all(t, '{ip}')) > 0 AS has_pii,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
           '{em}', '<EMAIL>', 'g'), '{ph}', '<PHONE>', 'g'),
           '{ip}', '<IP>', 'g')) AS redacted_md5
FROM p"""


def text_repetition(spark, sf_dir):
    """Gopher repetition-removal signals (functions/text.
    gopher_repetition): duplicate-segment fractions and repeated
    2-gram character coverage. The synthetic corpus is single-line so
    the gate segments on spaces — same two-explode / two-shuffle plan
    as a newline corpus."""
    from quokka_spark.functions.text import gopher_repetition
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return gopher_repetition(docs, delimiter=" ", top_n=2, dup_n=2)


_REPETITION_SQL = r"""
WITH seg AS (
  SELECT doc_id, lower(trim(s)) AS s
  FROM documents, LATERAL unnest(string_split(text, ' ')) AS u(s)
  WHERE length(lower(trim(s))) > 0
), per_seg AS (
  SELECT doc_id, s, count(*) AS c, length(s) AS len
  FROM seg GROUP BY doc_id, s
), line_stats AS (
  SELECT doc_id, sum(c) AS n_seg,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup,
         sum(c * len) AS chars, sum((c - 1) * len) AS dup_chars
  FROM per_seg GROUP BY doc_id
), w AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS ws,
         length(replace(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                        ' ', '')) AS nchars
  FROM documents
), g AS (
  SELECT doc_id, nchars, array_to_string(ws[i:i+1], ' ') AS gr
  FROM w, LATERAL (SELECT unnest(generate_series(
       1, greatest(len(ws) - 1, 1))) AS i)
  WHERE length(array_to_string(ws[i:i+1], ' ')) > 0
), per_g AS (
  SELECT doc_id, gr, count(*) AS c, max(nchars) AS nchars,
         length(replace(gr, ' ', '')) AS glen
  FROM g GROUP BY doc_id, gr
), gstats AS (
  SELECT doc_id, max(c * glen) AS top_chars,
         sum((c - 1) * glen) AS dup_g_chars, max(nchars) AS nchars
  FROM per_g GROUP BY doc_id
)
SELECT l.doc_id,
       round(n_dup * 1.0 / n_seg, 6) AS dup_line_frac,
       round(dup_chars * 1.0 / chars, 6) AS dup_line_char_frac,
       round(top_chars * 1.0 / nchars, 6) AS top_2gram_char_frac,
       round(least(dup_g_chars * 1.0 / nchars, 1.0), 6) AS dup_2gram_char_frac
FROM line_stats l LEFT JOIN gstats USING (doc_id)
"""


def dedup_decontaminate(spark, sf_dir):
    """Benchmark decontamination (functions/dedup.decontaminate): a
    deterministic 10% hash-sample of the corpus plays the eval set;
    every document sharing any word-4-gram with it is flagged. The
    oracle rebuilds the same sample (same md5 threshold) and the same
    truncated-tail shingles in SQL."""
    from quokka_spark.functions.dedup import decontaminate
    from quokka_spark.functions.sampling import hash_sample
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    bench = hash_sample(docs, "doc_id", 0.1, salt="bench").select(
        "doc_id", "text")
    return decontaminate(docs, bench, n=4).select("doc_id", "contaminated")


def _decontaminate_sql() -> str:
    from quokka_spark.functions.sampling import _threshold
    return rf"""
WITH nrm AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS ws
  FROM documents
), tsh AS (
  SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS g
  FROM nrm, LATERAL (SELECT unnest(generate_series(
       1, greatest(len(ws) - 3, 1))) AS i)
), b AS (
  SELECT doc_id FROM documents
  WHERE substring(md5('bench' || CAST(doc_id AS VARCHAR)), 1, 12)
        < '{_threshold(0.1)}'
), bsh AS (
  SELECT DISTINCT g FROM tsh JOIN b USING (doc_id)
), bad AS (
  SELECT DISTINCT t.doc_id FROM tsh t JOIN bsh USING (g)
)
SELECT d.doc_id, bad.doc_id IS NOT NULL AS contaminated
FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id"""


def op_weighted_sample(spark, sf_dir):
    """Deterministic importance sampling (functions/sampling.
    weighted_hash_sample): acceptance probability = min(n_chars/1000,
    1). Every term of the folded md5 uniform is an exact binary
    double, so the oracle's identical expression admits the identical
    row set — hash-exact membership for a WEIGHTED sample."""
    from quokka_spark.functions.sampling import weighted_hash_sample
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    staged = docs.withColumn(
        "__w__", F.least(F.col("n_chars") / 1000.0, F.lit(1.0)))
    return weighted_hash_sample(staged, "doc_id", "__w__",
                                salt="w1").select("doc_id")


def _weighted_sample_sql() -> str:
    u = " + ".join(
        f"(strpos('0123456789abcdef', substring(h, {i}, 1)) - 1) / {16 ** i}.0"
        for i in range(1, 13))
    return f"""
WITH p AS (
  SELECT doc_id, n_chars,
         substring(md5('w1' || CAST(doc_id AS VARCHAR)), 1, 12) AS h
  FROM documents)
SELECT doc_id FROM p
WHERE ({u}) < least(n_chars / 1000.0, 1.0)"""


def text_tfidf(spark, sf_dir):
    """Top-3 TF-IDF terms per document (functions/text.tfidf_top_terms,
    smooth scikit-style idf). Deterministic tie-break by term, so the
    ranking is hash-exact against the oracle's identical expression.
    One (doc, term) shuffle + slim vocab join + rank-limit top-n."""
    from quokka_spark.functions.text import tfidf_top_terms
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return tfidf_top_terms(docs, "text", "doc_id", top_n=3)


_TFIDF_SQL = r"""
WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
tok AS (
  SELECT doc_id, t
  FROM (SELECT doc_id,
               unnest(string_split(
                   lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                   ' ')) AS t
        FROM documents
        WHERE length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0)
  WHERE length(t) > 0
), dt AS (
  SELECT doc_id, t AS term, CAST(count(*) AS DOUBLE) AS tf
  FROM tok GROUP BY doc_id, t
), dfq AS (
  SELECT term, count(*) AS dfc FROM dt GROUP BY term
), s AS (
  SELECT doc_id, term, tf * (ln((1.0 + nd) / (1.0 + dfc)) + 1.0) AS sc
  FROM dt JOIN dfq USING (term), n
), r AS (
  SELECT doc_id, term, sc,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sc DESC, term) AS rank
  FROM s
)
SELECT doc_id, term, CAST(rank AS BIGINT) AS rank, round(sc, 6) AS tfidf
FROM r WHERE rank <= 3
"""


def text_accent_fold(spark, sf_dir):
    """Accent folding (functions/text.strip_accents): per-codepoint
    translate() table — engine-portable by construction. The synthetic
    corpus is ASCII, so the gate injects accented forms derived from
    doc_id (same expression in the oracle) and folds them back; the
    fingerprints of folded-injected and original text must agree,
    proving the fold inverts the injection — per-doc, hash-exact."""
    from quokka_spark.functions.text import fingerprint, strip_accents
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    accented = F.translate(F.col("text"), "aeiouncAEIOUNC",
                           "áéíóúñçÁÉÍÓÚÑÇ")
    staged = docs.select(
        "doc_id", F.col("text"), accented.alias("acc"))
    return staged.select(
        "doc_id",
        fingerprint("text").alias("fp_orig"),
        F.md5(F.lower(F.regexp_replace(F.trim(strip_accents(F.col("acc"))),
                                       r"\s+", " "))).alias("fp_folded"),
        (F.col("acc") != F.col("text")).alias("was_accented"))


def _accent_fold_sql() -> str:
    from quokka_spark.functions.text import _ACCENT_DST, _ACCENT_SRC
    return rf"""
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp_orig,
       md5(lower(regexp_replace(trim(
           translate(translate(text, 'aeiouncAEIOUNC', 'áéíóúñçÁÉÍÓÚÑÇ'),
                     '{_ACCENT_SRC}', '{_ACCENT_DST}')),
           '\s+', ' ', 'g'))) AS fp_folded,
       translate(text, 'aeiouncAEIOUNC', 'áéíóúñçÁÉÍÓÚÑÇ') <> text
         AS was_accented
FROM documents
"""


def op_pair_metrics(spark, sf_dir):
    """Dedup evaluation as a first-class op (functions/dedup.
    pair_metrics): precision/recall/F1 of the embedding-LSH pair set
    against the exact all-pairs ground truth at the same threshold —
    the report every recall dial is tuned by. Both pair sets are
    SQL-expressible, so the metrics themselves are hash-exact."""
    from quokka_spark.functions.dedup import (embedding_near_pairs,
                                              embedding_near_pairs_lsh,
                                              pair_metrics)
    qc = _qc(spark)
    emb = _t(qc, sf_dir, "embeddings").df
    pred = embedding_near_pairs_lsh(emb, threshold=0.4, bits_per_table=4,
                                    n_tables=16, dim=64)
    truth = embedding_near_pairs(emb, threshold=0.4)
    p, r, f1, n_pred, n_truth, n_hit = pair_metrics(pred, truth)
    return spark.createDataFrame(
        [(round(p, 6), round(r, 6), round(f1, 6),
          n_pred, n_truth, n_hit)],
        "precision double, recall double, f1 double, "
        "n_pred long, n_truth long, n_hit long")


_PAIR_METRICS_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), tabs AS (
  SELECT vec_id, t,
         CAST(v[CAST(t*4+1 AS INT)] > 0 AS INT)
       + CAST(v[CAST(t*4+2 AS INT)] > 0 AS INT) * 2
       + CAST(v[CAST(t*4+3 AS INT)] > 0 AS INT) * 4
       + CAST(v[CAST(t*4+4 AS INT)] > 0 AS INT) * 8 AS bucket
  FROM v, range(0, 16) r(t)
), cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM tabs a JOIN tabs b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), pred AS (
  SELECT id1, id2
  FROM cand JOIN v v1 ON cand.id1 = v1.vec_id
            JOIN v v2 ON cand.id2 = v2.vec_id
  WHERE list_cosine_similarity(v1.v, v2.v) >= 0.4
), truth AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.4
), c AS (
  SELECT (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM truth) AS n_truth,
         (SELECT count(*) FROM pred JOIN truth USING (id1, id2)) AS n_hit
)
SELECT round(n_hit * 1.0 / n_pred, 6) AS precision,
       round(n_hit * 1.0 / n_truth, 6) AS recall,
       round(2.0 * (n_hit * 1.0 / n_pred) * (n_hit * 1.0 / n_truth)
             / (n_hit * 1.0 / n_pred + n_hit * 1.0 / n_truth), 6) AS f1,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_hit AS BIGINT) AS n_hit
FROM c
"""


def text_readability(spark, sf_dir):
    """Flesch reading-ease (functions/text.readability_columns):
    sentence/syllable proxies via portable regexp counts, map-side
    only. The arithmetic is a fixed chain of exactly-rounded double
    ops over small integers — hash-exact."""
    from quokka_spark.functions.text import readability_columns
    qc = _qc(spark)
    return _t(qc, sf_dir, "documents").df.select(
        "doc_id", *readability_columns("text"))


_READABILITY_SQL = r"""
WITH g AS (
  SELECT doc_id, trim(text) AS t,
         lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS norm,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS nw
  FROM documents
), m AS (
  SELECT doc_id, CAST(nw AS DOUBLE) AS w,
         CAST(greatest(len(regexp_extract_all(t, '[.!?]+')), 1)
              AS DOUBLE) AS s,
         CAST(len(regexp_extract_all(norm, '[aeiouy]+')) AS DOUBLE) AS y
  FROM g
)
SELECT doc_id, CAST(s AS BIGINT) AS n_sentences,
       CAST(y AS BIGINT) AS n_syllables,
       CASE WHEN w > 0
            THEN round(206.835 - 1.015 * (w / s) - 84.6 * (y / w), 6)
       END AS flesch
FROM m
"""


def text_url_canon(spark, sf_dir):
    """URL canonicalization (functions/text.canonicalize_url): the
    crawl-dedup normalization — lowercase scheme+host, drop fragments,
    strip tracking params with well-formed separators, trim trailing
    slashes. URLs synthesized deterministically from doc_id (mixed
    case, utm/fbclid params in every position, fragments, trailing
    slashes); the IDENTICAL regexp_replace chain replays in DuckDB's
    RE2. Map-side, zero exchanges."""
    from quokka_spark.functions.text import canonicalize_url
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    did = F.col("doc_id")
    host = F.concat(F.lit("EXample"), (did % 5).cast("string"),
                    F.lit(".Com"))
    url = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS://")).otherwise(F.lit("http://")),
        host, F.lit("/Page/"), (did % 97).cast("string"),
        F.when(did % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(did % 4 == 0,
               F.concat(F.lit("?utm_source=s"), (did % 7).cast("string"),
                        F.lit("&q="), (did % 11).cast("string")))
        .when(did % 4 == 1,
              F.concat(F.lit("?q="), (did % 11).cast("string"),
                       F.lit("&fbclid=f"), (did % 13).cast("string")))
        .when(did % 4 == 2, F.lit("?gclid=g1&utm_medium=m"))
        .otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("#Section-2")).otherwise(F.lit("")))
    staged = docs.select("doc_id", url.alias("url"))
    return staged.select(
        "doc_id", "url",
        canonicalize_url("url").alias("canon"),
        (canonicalize_url("url") != F.col("url")).alias("changed"))


def _url_canon_sql() -> str:
    from quokka_spark.functions.text import _TRACKING_PARAM_RE
    t = _TRACKING_PARAM_RE
    return rf"""
WITH p AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'http://' END)
         || 'EXample' || CAST(doc_id % 5 AS VARCHAR) || '.Com'
         || '/Page/' || CAST(doc_id % 97 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN '?utm_source=s' || CAST(doc_id % 7 AS VARCHAR)
                      || '&q=' || CAST(doc_id % 11 AS VARCHAR)
                 WHEN doc_id % 4 = 1
                 THEN '?q=' || CAST(doc_id % 11 AS VARCHAR)
                      || '&fbclid=f' || CAST(doc_id % 13 AS VARCHAR)
                 WHEN doc_id % 4 = 2 THEN '?gclid=g1&utm_medium=m'
                 ELSE '' END
         || CASE WHEN doc_id % 6 = 0 THEN '#Section-2' ELSE '' END AS url
  FROM documents
), c AS (
  SELECT doc_id, url,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              lower(regexp_extract(url, '^((?i:https?)://[^/?#]*)', 1))
              || regexp_replace(url, '^(?i:https?)://[^/?#]*', '')
              , '#.*$', '')
            , '&{t}', '', 'g')
          , '\?{t}&', '?', 'g')
        , '\?{t}$', '')
      , '(https?://[^/?#]+/[^?#]*?)/+(\?|$)', '\1\2') AS canon
  FROM p
)
SELECT doc_id, url, canon, canon != url AS changed FROM c
"""


def text_c4(spark, sf_dir):
    """C4-style line + document filtering
    (functions/text.c4_filter_columns — Raffel et al. 2020 §2.2):
    line rules via an order-preserving higher-order filter() over the
    split lines (no explode, zero exchanges), policy flags as plain
    substring tests. The synthetic corpus is single-line prose with no
    punctuation, so the gate deterministically injects structure from
    doc_id (line breaks at ' table ', an unpunctuated break at
    ' scan ', a doc_id-keyed tail, 'javascript' lines on doc_id%7=0,
    '{' on %11=0, 'lorem ipsum' on %13=0) — the identical injection
    expression runs in the oracle, so the rules have real hits to
    agree on. Map-side only; clean_text compared by md5."""
    from quokka_spark.functions.text import c4_filter_columns
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    did = F.col("doc_id")
    p = F.replace(F.col("text"), F.lit(" table "), F.lit(".\n"))
    p = F.replace(p, F.lit(" scan "), F.lit("\n"))
    p = F.concat(
        p,
        F.when(did % 5 == 0, F.lit(" and so it ends cleanly."))
        .when(did % 5 == 1, F.lit(" trailing fragment"))
        .otherwise(F.lit("!")),
        F.when(did % 11 == 0, F.lit(" {")).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit("\nlorem ipsum dolor sit amet."))
        .otherwise(F.lit("")))
    p = F.when(did % 7 == 0,
               F.replace(p, F.lit(" spark "), F.lit(" javascript ")))\
         .otherwise(p)
    staged = docs.select("doc_id", p.alias("__p__"))
    cols = c4_filter_columns("__p__")
    out = staged.select("doc_id", *cols)
    return out.select(
        "doc_id", "n_lines", "n_kept",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_md5"),
        "n_sentences", "has_brace", "has_lorem", "c4_keep")


_C4_SQL = r"""
WITH p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN replace(inj, ' spark ', ' javascript ')
              ELSE inj END AS t
  FROM (
    SELECT doc_id,
           replace(replace(text, ' table ', '.' || chr(10)),
                   ' scan ', chr(10))
           || CASE WHEN doc_id % 5 = 0 THEN ' and so it ends cleanly.'
                   WHEN doc_id % 5 = 1 THEN ' trailing fragment'
                   ELSE '!' END
           || CASE WHEN doc_id % 11 = 0 THEN ' {' ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                   THEN chr(10) || 'lorem ipsum dolor sit amet.'
                   ELSE '' END AS inj
    FROM documents)
), s AS (
  SELECT doc_id, t,
         string_split(t, chr(10)) AS all_lines,
         list_filter(string_split(t, chr(10)), x ->
             len(string_split_regex(trim(x), '\s+')) >= 5
             AND regexp_matches(trim(x), '[.!?"''”]$')
             AND NOT contains(lower(x), 'javascript')) AS kept
  FROM p
), m AS (
  SELECT doc_id,
         CAST(len(all_lines) AS BIGINT) AS n_lines,
         CAST(len(kept) AS BIGINT) AS n_kept,
         -- array_to_string([]) is NULL in DuckDB; Spark array_join is ''
         coalesce(array_to_string(kept, chr(10)), '') AS clean,
         contains(t, '{') AS has_brace,
         contains(lower(t), 'lorem ipsum') AS has_lorem
  FROM s
)
SELECT doc_id, n_lines, n_kept, md5(clean) AS clean_md5,
       CAST(len(regexp_extract_all(clean, '[.!?]+')) AS BIGINT)
         AS n_sentences,
       has_brace, has_lorem,
       coalesce(len(regexp_extract_all(clean, '[.!?]+')) >= 3
                AND NOT has_brace AND NOT has_lorem, false) AS c4_keep
FROM m
"""


def text_entropy(spark, sf_dir):
    """Character-entropy quality signal (functions/text.char_entropy):
    the compressibility proxy separating natural language (~4 bits)
    from base64 blobs and padding. Pure JVM higher-order expression,
    zero exchanges; sorted-fold makes the float sum engine-identical."""
    from quokka_spark.functions.text import char_entropy
    qc = _qc(spark)
    return _t(qc, sf_dir, "documents").df.select(
        "doc_id", char_entropy("text").alias("entropy_bits"))


_ENTROPY_SQL = r"""
WITH s AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      '') AS cs,
         length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS n
  FROM documents
)
SELECT doc_id,
       CASE WHEN n = 0 THEN NULL ELSE round(-list_aggregate(
         [len(list_filter(cs, x -> x = c)) / CAST(len(cs) AS DOUBLE)
            * log2(len(list_filter(cs, x -> x = c))
                   / CAST(len(cs) AS DOUBLE))
          FOR c IN list_sort(list_distinct(cs))],
         'sum'), 6) END AS entropy_bits
FROM s
"""


def text_urls(spark, sf_dir):
    """URL extraction + domain blocklist filtering (functions/text.
    url_columns / flag_blocked_domains — the C4-style URL rules). The
    synthetic corpus has no organic URLs, so the gate injects
    deterministic doc_id-derived ones (same expression in the oracle,
    the text_pii pattern). Exercises the DataFrame-blocklist scale
    path: explode → broadcast semi-join → slim hit-id join-back."""
    from quokka_spark.functions.text import url_columns, flag_blocked_domains
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    did = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(did % 2 == 0, F.concat(
            F.lit(" see http://site"), (did % 7).cast("string"),
            F.lit(".example.com/p/"), did.cast("string"))).otherwise(F.lit("")),
        F.when(did % 5 == 0,
               F.lit(" https://cdn.example.org/x")).otherwise(F.lit("")))
    staged = docs.select("doc_id", injected.alias("tx"))
    extracted = staged.select("doc_id", *url_columns("tx"))
    bl = spark.createDataFrame(
        [("site1.example.com",), ("site3.example.com",),
         ("cdn.example.org",)], "domain string")
    flagged = flag_blocked_domains(extracted, "doc_id", "domains", bl)
    return flagged.select(
        "doc_id", "n_urls",
        F.size("domains").cast("bigint").alias("n_domains"),
        "main_domain", "blocked")


_URLS_SQL = r"""
WITH t AS (
  SELECT doc_id, text ||
    CASE WHEN doc_id % 2 = 0
         THEN ' see http://site' || CAST(doc_id % 7 AS VARCHAR)
              || '.example.com/p/' || CAST(doc_id AS VARCHAR)
         ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN ' https://cdn.example.org/x'
         ELSE '' END AS tx
  FROM documents
), u AS (
  SELECT doc_id, regexp_extract_all(tx, 'https?://[^\s]+') AS urls FROM t
), d AS (
  SELECT doc_id, len(urls) AS n_urls,
         list_sort(list_distinct(
           [regexp_extract(x, 'https?://([^/\s:]+)', 1) FOR x IN urls]
         )) AS domains
  FROM u
)
SELECT doc_id, CAST(n_urls AS BIGINT) AS n_urls,
       CAST(len(domains) AS BIGINT) AS n_domains,
       domains[1] AS main_domain,
       coalesce(len(list_intersect(domains,
         ['site1.example.com', 'site3.example.com', 'cdn.example.org']))
         > 0, false) AS blocked
FROM d
"""


def op_quantize(spark, sf_dir):
    """int8 embedding quantization (functions/similarity.
    quantize_embeddings): global-scale symmetric codes, map-side JVM
    transform. Every step is an exactly-rounded double op and both
    engines round .5 away from zero, so the codes — and the
    reconstruction error — are hash-exact against the oracle."""
    from quokka_spark.functions.similarity import quantize_embeddings
    qc = _qc(spark)
    emb = _t(qc, sf_dir, "embeddings").df
    q, scale = quantize_embeddings(emb, "embedding")
    err = F.array_max(F.transform(
        "embedding",
        lambda x: F.abs(x.cast("double")
                        - F.round(x.cast("double") * 127.0 / F.lit(scale))
                        * F.lit(scale) / F.lit(127.0))))
    return q.select(
        "vec_id",
        F.aggregate(F.transform("qvec", lambda c: c.cast("bigint")),
                    F.lit(0).cast("bigint"),
                    lambda a, b: a + b).alias("code_sum"),
        F.round(err, 6).alias("max_err"))


_QUANTIZE_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (SELECT max(m) AS scale
      FROM (SELECT list_max(list_transform(v, x -> abs(x))) AS m FROM v)),
q AS (
  SELECT vec_id,
         [CAST(round(x * 127.0 / scale) AS BIGINT) FOR x IN v] AS c,
         [abs(x - round(x * 127.0 / scale) * scale / 127.0)
          FOR x IN v] AS e
  FROM v, s)
SELECT vec_id, CAST(list_sum(c) AS BIGINT) AS code_sum,
       round(list_max(e), 6) AS max_err
FROM q
"""


def op_zorder(spark, sf_dir):
    """Z-order layout key (plans/scaling.zorder_key): Morton interleave
    of (o_custkey, order-date-days), each normalized to 8 bits by
    exactly-rounded IEEE double steps — the multi-dimensional
    clustering key behind cluster_by_zorder's write-side layout pass.
    The oracle mirrors every double op verbatim, so the key is
    hash-exact; the locality property (tight per-partition bounding
    boxes on BOTH dims) is pinned in tests/test_scaling.py."""
    from quokka_spark.plans.scaling import zorder_key
    qc = _qc(spark)
    orders = _t(qc, sf_dir, "orders").df
    staged = orders.select(
        "o_orderkey", F.col("o_custkey").alias("c0"),
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lit("1970-01-01")).alias("c1"))
    return zorder_key(staged, ["c0", "c1"], bits=8) \
        .select("o_orderkey", "zkey")


def _zorder_oracle(bits: int = 8) -> str:
    top = (1 << bits) - 1
    terms = " + ".join(
        f"((n{i} >> {b}) & 1) * {1 << (b * 2 + i)}"
        for b in range(bits) for i in range(2))
    return f"""
WITH s AS (
  SELECT o_orderkey, CAST(o_custkey AS DOUBLE) AS c0,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(o_orderdate AS DATE)) AS DOUBLE) AS c1
  FROM orders
), b AS (
  SELECT min(c0) AS mn0, max(c0) AS mx0, min(c1) AS mn1, max(c1) AS mx1
  FROM s
), n AS (
  SELECT o_orderkey,
         CAST(least(greatest(
           floor((c0 - mn0) * {top}.0 / (mx0 - mn0)), 0), {top}) AS BIGINT) AS n0,
         CAST(least(greatest(
           floor((c1 - mn1) * {top}.0 / (mx1 - mn1)), 0), {top}) AS BIGINT) AS n1
  FROM s, b
)
SELECT o_orderkey, CAST({terms} AS BIGINT) AS zkey FROM n
"""


def op_stratified_sample(spark, sf_dir):
    """Per-stratum deterministic sampling (functions/sampling.
    stratified_hash_sample): rebalance the corpus by source — keep 80%
    of books, 10% of web, 50% of everything else — with membership a
    pure function of (salt, doc_id). The rate table is a literal CASE,
    so the filter is map-side, zero exchanges; the oracle runs the
    identical expression, hash-exact."""
    from quokka_spark.functions.sampling import stratified_hash_sample
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return stratified_hash_sample(
        docs, "doc_id", "source",
        {"src1": 0.8, "src2": 0.1}, default=0.5,
        salt="st1").select("doc_id", "source")


def op_token_budget_mix(spark, sf_dir):
    """Corpus mixing by TOKEN budget (functions/sampling.
    sample_by_token_budget): downsample src1 to ~500 tokens and src2
    to ~200 (well under their ~1.4k totals, so the rate branch really
    exercises) while unlisted sources keep everything — the
    data-mixing step of a training pipeline. Rates derive from
    per-source token totals IN-PLAN (one slim agg, broadcast back);
    membership is the deterministic md5 draw, so the oracle replays
    the survivor set hash-exactly including the data-dependent
    thresholds."""
    from quokka_spark.functions.sampling import sample_by_token_budget
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    out = sample_by_token_budget(
        docs, {"src1": 500, "src2": 200}, salt="mx1")
    return out.select("doc_id", "source")


_TOKEN_BUDGET_MIX_SQL = r"""
WITH tot AS (
  SELECT source,
         sum(CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END) AS t
  FROM documents GROUP BY source
), thr AS (
  SELECT source,
         CASE WHEN rate >= 1.0 THEN 'g'
              ELSE lpad(lower(to_hex(CAST(floor(rate * 281474976710656.0)
                                          AS BIGINT))), 12, '0') END AS h
  FROM (SELECT source,
               CASE WHEN source = 'src1' THEN least(1.0, 500.0 / t)
                    WHEN source = 'src2' THEN least(1.0, 200.0 / t)
                    ELSE 1.0 END AS rate
        FROM tot)
)
SELECT d.doc_id, d.source
FROM documents d JOIN thr ON d.source = thr.source
WHERE substring(md5('mx1' || CAST(d.doc_id AS VARCHAR)), 1, 12) < thr.h
"""


_STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, source FROM documents
WHERE substring(md5('st1' || CAST(doc_id AS VARCHAR)), 1, 12) <
      CASE WHEN source = 'src1' THEN 'cccccccccccc'
           WHEN source = 'src2' THEN '199999999999'
           ELSE '800000000000' END
"""


def op_cap_per_key(spark, sf_dir):
    """Per-key document capping (functions/sampling.cap_per_key): at
    most 40 docs per source, chosen deterministically by hash order of
    doc_id — the crawl pipeline's per-domain cap. Spark's
    WindowGroupLimit rewrite runs a partial per-map-task top-k before
    the key shuffle (plan-tested), so hot domains never ship their
    full row count."""
    from quokka_spark.functions.sampling import cap_per_key
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return cap_per_key(docs, "source", "doc_id", 40,
                       salt="c1").select("doc_id", "source")


_CAP_PER_KEY_SQL = """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substring(md5('c1' || CAST(doc_id AS VARCHAR)), 1, 12),
                    doc_id) AS rn
  FROM documents)
SELECT doc_id, source FROM r WHERE rn <= 40
"""


def op_weighted_sample_k(spark, sf_dir):
    """Fixed-size weighted sampling (functions/sampling.
    weighted_sample_k, Efraimidis-Spirakis): exactly 10 docs per
    source, inclusion ∝ n_chars, survivors a pure function of the
    data. ln(u)/w over the exact md5-fold uniform is engine-portable,
    so the oracle replays the identical top-k — hash-exact."""
    from quokka_spark.functions.sampling import weighted_sample_k
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return weighted_sample_k(docs, "doc_id", "n_chars", 10,
                             by="source", salt="es1") \
        .select("doc_id", "source")


def _weighted_sample_k_sql() -> str:
    u = " + ".join(
        f"(strpos('0123456789abcdef', substring(h, {i}, 1)) - 1) / {16 ** i}.0"
        for i in range(1, 13))
    return f"""
WITH p AS (
  SELECT doc_id, source, n_chars,
         substring(md5('es1' || CAST(doc_id AS VARCHAR)), 1, 12) AS h
  FROM documents WHERE n_chars > 0
), s AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ln({u}) / CAST(n_chars AS DOUBLE) DESC, doc_id) AS rn
  FROM p
)
SELECT doc_id, source FROM s WHERE rn <= 10
"""


def dedup_semantic(spark, sf_dir):
    """SemDeDup (functions/dedup.semantic_dedup): k-means the
    embeddings, drop within-cluster cosine near-dups keeping the lower
    id. Deterministic end-to-end, so the oracle is the unrolled
    Lloyd's CTEs (shared with ml_kmeans) plus a within-cluster pair
    join — hash-exact for a clustering + dedup composition."""
    from quokka_spark.functions.dedup import semantic_dedup
    qc = _qc(spark)
    emb = _t(qc, sf_dir, "embeddings").df
    return semantic_dedup(emb, k=8, iters=2, threshold=0.4).select("vec_id")


def ts_ohlcv(spark, sf_dir):
    """Candlestick bars (operators/windows.candlestick — the
    reference's apps/rottnest/candlestick.py as one declarative plan):
    per-user hourly OHLC over the event stream, open/close made
    deterministic by the event_id tiebreak."""
    from quokka_spark.operators.windows import candlestick
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    bars = candlestick(ev.df, "ts", "user_id", "value",
                       interval="1h", tiebreak="event_id")
    return bars.select("user_id", "candle_start", "open", "close",
                       "high", "low", "n_ticks")


_OHLCV_SQL = """
WITH r AS (
  SELECT user_id, date_trunc('hour', ts) AS candle_start, value,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS ra,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rd
  FROM events)
SELECT user_id, candle_start,
       max(CASE WHEN ra = 1 THEN value END) AS open,
       max(CASE WHEN rd = 1 THEN value END) AS close,
       max(value) AS high, min(value) AS low,
       CAST(count(*) AS BIGINT) AS n_ticks
FROM r GROUP BY user_id, candle_start
"""


def op_pivot(spark, sf_dir):
    """Long→wide pivot (DataStream.pivot — the reference's transpose
    app reshapes with a stateful Executor; here one groupBy.pivot
    shuffle with the value list supplied so no schema-discovery job
    runs)."""
    qc = _qc(spark)
    orders = _t(qc, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = orders.pivot("o_orderstatus", "o_orderpriority", "o_totalprice",
                       agg_func="sum", values=prios).df
    keep = [F.col("o_orderstatus")] + [
        F.round(F.col(f"`{p}_sum`"), 2).alias(f"{p}_sum") for p in prios]
    return out.select(*keep)


_PIVOT_SQL = """
SELECT o_orderstatus,
       round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS "1-URGENT_sum",
       round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS "2-HIGH_sum",
       round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS "3-MEDIUM_sum",
       round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS "4-NOT SPECIFIED_sum",
       round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS "5-LOW_sum"
FROM orders GROUP BY o_orderstatus
"""


def ml_matmul(spark, sf_dir):
    """Distributed COO matrix multiply (operators/linalg.matmul_coo —
    the reference's apps/unstable/matmul.py blocked TaskGraph as one
    join-agg). Matrices are derived small-modulus aggregates of
    lineitem and orders with INTEGER entries (scaled-avg rounded to a
    long), so C is an exact int64 sum of products — no float rounding
    anywhere, hash-exact regardless of summation order. (Rounding C
    to decimals instead produced exact .xxxx5 ties from the
    rounded-decimal inputs — a genuine cross-engine half-tie trap.)"""
    from quokka_spark.operators.linalg import matmul_coo
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem").df
    od = _t(qc, sf_dir, "orders").df
    a = (li.groupBy((F.col("l_suppkey") % 20).alias("i"),
                    (F.col("l_partkey") % 8).alias("k"))
         .agg(F.round(F.avg("l_quantity") * 100, 0).cast("long").alias("val")))
    b = (od.groupBy((F.col("o_custkey") % 8).alias("k"),
                    (F.col("o_orderkey") % 15).alias("j"))
         .agg(F.round(F.avg("o_totalprice") / 10, 0).cast("long").alias("val")))
    return matmul_coo(a, b)


_MATMUL_SQL = """
WITH a AS (
  SELECT l_suppkey % 20 AS i, l_partkey % 8 AS k,
         CAST(round(avg(l_quantity) * 100, 0) AS BIGINT) AS val
  FROM lineitem GROUP BY 1, 2),
b AS (
  SELECT o_custkey % 8 AS k, o_orderkey % 15 AS j,
         CAST(round(avg(o_totalprice) / 10, 0) AS BIGINT) AS val
  FROM orders GROUP BY 1, 2)
SELECT a.i, b.j, CAST(sum(a.val * b.val) AS BIGINT) AS val
FROM a JOIN b USING (k) GROUP BY a.i, b.j
"""


def text_chunks(spark, sf_dir):
    """Overlapping word-window chunking (functions/text.
    chunk_documents) — map-side sequence+slice+explode, zero
    exchanges."""
    from quokka_spark.functions.text import chunk_documents
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return chunk_documents(docs, max_words=40, overlap=10)


_CHUNKS_SQL = r"""
WITH w AS (
  SELECT doc_id,
         string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                      ' ') AS ws
  FROM documents
  WHERE length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0
)
SELECT doc_id, CAST(s / 30 AS BIGINT) AS chunk_id,
       array_to_string(ws[s+1:s+40], ' ') AS chunk_text,
       CAST(len(ws[s+1:s+40]) AS BIGINT) AS n_words
FROM w, LATERAL (SELECT unnest(generate_series(
     0, greatest(len(ws) - 11, 0), 30)) AS s)
"""


def text_unigram_lm(spark, sf_dir):
    """Corpus-unigram LM scoring (functions/text.unigram_logprob, the
    CCNet-style perplexity-filter proxy): per-doc mean negative log
    probability under the corpus's own smoothed unigram model."""
    from quokka_spark.functions.text import unigram_logprob
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return unigram_logprob(docs, smoothing=0.5)


_UNIGRAM_SQL = r"""
WITH tok AS (
  SELECT doc_id, t
  FROM (SELECT doc_id,
               unnest(string_split(
                   lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                   ' ')) AS t
        FROM documents
        WHERE length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0)
  WHERE length(t) > 0
), freq AS (
  SELECT t, count(*) AS c FROM tok GROUP BY t
), s AS (
  SELECT CAST(sum(c) AS DOUBLE) AS total, CAST(count(*) AS DOUBLE) AS v
  FROM freq
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(-ln((c + 0.5) / (total + 0.5 * v))), 6) AS mean_neg_logprob
FROM tok JOIN freq USING (t), s
GROUP BY doc_id
"""


def text_bpe_tokens(spark, sf_dir):
    """BPE-style pre-token accounting (functions/text.
    bpe_token_columns): total + distinct pre-token counts under the
    GPT-2-style run pattern. Map-side regexp, zero exchanges."""
    from quokka_spark.functions.text import bpe_token_columns
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return docs.select("doc_id", *bpe_token_columns("text"))


_BPE_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text),
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(lower(text),
            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))) AS BIGINT) AS n_unique_bpe
FROM documents
"""


def text_bigram_lm(spark, sf_dir):
    """Bigram-LM scoring (functions/text.bigram_logprob): word-order-
    aware quality proxy, model trained on the corpus itself. Bigrams
    assemble map-side (no self-join); the oracle unrolls the identical
    smoothed conditional in DuckDB — hash-exact."""
    from quokka_spark.functions.text import bigram_logprob
    qc = _qc(spark)
    return bigram_logprob(_t(qc, sf_dir, "documents").df)


_BIGRAM_SQL = r"""
WITH d AS (
  SELECT doc_id,
         list_filter(
           string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                        ' '), x -> length(x) > 0) AS w
  FROM documents
  WHERE length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0
), bg AS (
  SELECT doc_id, w[i] || ' ' || w[i+1] AS b, w[i] AS a
  FROM d, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
), cb AS (
  SELECT b, count(*) AS cb FROM bg GROUP BY b
), ca AS (
  SELECT a, count(*) AS ca FROM bg GROUP BY a
), v AS (
  SELECT CAST(count(DISTINCT t) AS DOUBLE) AS v
  FROM (SELECT unnest(w) AS t FROM d) WHERE length(t) > 0
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(-ln((cb + 0.5) / (ca + 0.5 * v))), 6) AS mean_neg_logprob
FROM bg JOIN cb USING (b) JOIN ca USING (a), v
GROUP BY doc_id
"""


def text_hash_tf(spark, sf_dir):
    """Feature-hashing TF vectors (functions/text.hashed_tf_vectors,
    sparse form): the vocabulary-free text→vector bridge into the
    k-means / ANN / LSH stack. The bucket hash is an engine-portable
    md5 hex fold, so the histogram is hash-exact against the oracle;
    the dense array assembly is unit-tested."""
    from quokka_spark.functions.text import hashed_tf_vectors
    qc = _qc(spark)
    return hashed_tf_vectors(_t(qc, sf_dir, "documents").df,
                             dim=32, dense=False)


def _hash_tf_oracle(dim: int = 32) -> str:
    val = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(t), {i + 1}, 1)) - 1) "
        f"* {16 ** (3 - i)}"
        for i in range(4))
    return rf"""
WITH tok AS (
  SELECT doc_id, t
  FROM (SELECT doc_id,
               unnest(string_split(
                   lower(regexp_replace(trim(text), '\s+', ' ', 'g')),
                   ' ')) AS t
        FROM documents
        WHERE length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0)
  WHERE length(t) > 0
)
SELECT doc_id, CAST(({val}) % {dim} AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS cnt
FROM tok GROUP BY doc_id, bucket
"""


def op_cms(spark, sf_dir):
    """Count-Min sketch (functions/sketches): bounded-memory frequency
    estimation for unbounded key cardinality — the whole corpus
    compresses to depth×width counters. Hashes are the engine-portable
    md5 fold, so the sketch AND the estimates are bit-identical in
    DuckDB: a hash-exact oracle for a sketch. Probes the exact top-10
    tokens (deterministic tiebreak)."""
    from quokka_spark.functions.sketches import cms_build, cms_estimate
    from quokka_spark.functions.text import normalize_text_sql
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    toks = (docs.select(F.expr(normalize_text_sql("text")).alias("__n__"))
            .filter(F.length("__n__") > 0)
            .select(F.explode(F.split("__n__", " ")).alias("t"))
            .filter(F.length("t") > 0))
    sketch = cms_build(toks, "t", depth=4, width=256)
    top = (toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
           .orderBy(F.desc("c"), F.asc("t")).limit(10).select("t"))
    return (cms_estimate(sketch, top, "t", depth=4, width=256)
            .select(F.col("t").alias("token"), "est"))


def _cms_oracle(depth: int = 4, width: int = 256) -> str:
    def bucket(r):
        val = " + ".join(
            f"(strpos('0123456789abcdef', "
            f"substring(md5('cms{r}:' || t), {i + 1}, 1)) - 1) "
            f"* {16 ** (3 - i)}"
            for i in range(4))
        return f"(({val}) % {width})"

    ins = " UNION ALL ".join(
        f"SELECT t, {r} AS row, {bucket(r)} AS bucket FROM tok"
        for r in range(depth))
    probe = " UNION ALL ".join(
        f"SELECT t, {r} AS row, {bucket(r)} AS bucket FROM top"
        for r in range(depth))
    return rf"""
WITH tok AS (
  SELECT t
  FROM (SELECT unnest(string_split(
          lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS t
        FROM documents
        WHERE length(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) > 0)
  WHERE length(t) > 0
), ins AS ({ins}),
sk AS (SELECT row, bucket, count(*) AS cnt FROM ins GROUP BY row, bucket),
top AS (SELECT t FROM (SELECT t, count(*) AS c FROM tok GROUP BY t
                       ORDER BY c DESC, t LIMIT 10)),
probe AS ({probe})
SELECT p.t AS token, CAST(min(coalesce(sk.cnt, 0)) AS BIGINT) AS est
FROM probe p LEFT JOIN sk ON p.row = sk.row AND p.bucket = sk.bucket
GROUP BY p.t
"""


def op_bloom(spark, sf_dir):
    """Bloom-filter membership (functions/sketches.bloom_build /
    bloom_contains): no-false-negative prefilter for decontamination
    and incremental dedup. Inserts even-doc_id tokensets' doc keys;
    probes ALL doc keys plus synthetic absent keys — inserted keys
    must ALL report present (the contract), absent keys mostly not
    (false positives allowed and engine-identical). Hash-exact: the
    bit set and every verdict replay in DuckDB."""
    from quokka_spark.functions.sketches import bloom_build, bloom_contains
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    inserted = (docs.filter(F.col("doc_id") % 2 == 0)
                .select(F.concat(F.lit("k"), F.col("doc_id").cast("string"))
                        .alias("k")))
    bloom = bloom_build(inserted, "k", n_hashes=5, width=4096)
    probes = docs.select(
        F.concat(F.lit("k"), F.col("doc_id").cast("string")).alias("k"))
    return (bloom_contains(bloom, probes, "k", n_hashes=5, width=4096)
            .select("k", "maybe_present"))


def _bloom_oracle(n_hashes: int = 5, width: int = 4096) -> str:
    def bucket(h, src):
        val = " + ".join(
            f"(strpos('0123456789abcdef', "
            f"substring(md5('bf{h}:' || {src}), {i + 1}, 1)) - 1) "
            f"* {16 ** (3 - i)}"
            for i in range(4))
        return f"(({val}) % {width})"

    ins = " UNION ALL ".join(
        f"SELECT {bucket(h, 'k')} AS bit FROM ins" for h in range(n_hashes))
    probe = " UNION ALL ".join(
        f"SELECT k, {bucket(h, 'k')} AS bit FROM probes"
        for h in range(n_hashes))
    return f"""
WITH ins AS (
  SELECT 'k' || CAST(doc_id AS VARCHAR) AS k FROM documents
  WHERE doc_id % 2 = 0
), bloom AS (SELECT DISTINCT bit FROM ({ins})),
probes AS (SELECT 'k' || CAST(doc_id AS VARCHAR) AS k FROM documents),
pb AS ({probe}),
dpb AS (SELECT DISTINCT k, bit FROM pb),
need AS (SELECT k, count(*) AS n FROM dpb GROUP BY k),
hits AS (
  SELECT k, count(*) AS h FROM dpb JOIN bloom USING (bit) GROUP BY k
)
SELECT need.k, coalesce(h, 0) = n AS maybe_present
FROM need LEFT JOIN hits ON need.k = hits.k
"""


def dedup_incremental(spark, sf_dir):
    """Daily-ingest dedup (functions/dedup.incremental_dedup): the new
    batch (odd doc_ids) checks against the seen corpus (even ids)
    through a Bloom prefilter + exact verify. Texts are injected so
    one third of new docs are unique and the rest collide with seen.
    The Bloom is correctness-invisible (false positives verified,
    false negatives impossible), so the ORACLE is the plain anti-join
    spec — implementation optimization, specification oracle."""
    from quokka_spark.functions.dedup import incremental_dedup
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    tx = F.when(F.col("doc_id") % 3 == 0,
                F.concat(F.lit("U"), F.col("doc_id").cast("string"))) \
        .otherwise(F.concat(F.lit("B"), (F.col("doc_id") % 7).cast("string")))
    staged = docs.select("doc_id", tx.alias("text"))
    new = staged.filter(F.col("doc_id") % 2 == 1)
    seen = staged.filter(F.col("doc_id") % 2 == 0)
    return incremental_dedup(new, seen, n_hashes=5,
                             width=4096).select("doc_id")


_DEDUP_INCREMENTAL_SQL = """
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'U' || CAST(doc_id AS VARCHAR)
              ELSE 'B' || CAST(doc_id % 7 AS VARCHAR) END AS tx
  FROM documents
)
SELECT doc_id FROM t
WHERE doc_id % 2 = 1
  AND tx NOT IN (SELECT tx FROM t WHERE doc_id % 2 = 0)
"""


def ml_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (functions/packing.
    bpe_train): learn the merge table on the cluster over the corpus
    the pipeline just cleaned. The greedy argmax loop IS
    oracle-replayable for a fixed round count: each round is
    pair-count → (count DESC, pair ASC) argmax → one literal
    leftmost-non-overlapping replace on the STX/ETX-wrapped symbol
    strings, so the DuckDB oracle (_bpe_train_sql) chains 8
    MATERIALIZED CTE rounds of exactly that — the hash-exact
    upgrade of what was a rows-only gate through round 5. Exact
    equality with a pure-Python reference BPE is additionally pinned
    in tests/test_functions.py."""
    from quokka_spark.functions.packing import bpe_train
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    merges, _ = bpe_train(docs, num_merges=8)
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, "rank long, left string, right string")


def _bpe_train_sql(n_rounds: int = 8) -> str:
    """DuckDB replay of bpe_train's first ``n_rounds`` greedy rounds.
    Word counts → STX/ETX symbol strings (the bpe_encode staging),
    then per round: adjacent-pair counts via positional unnest
    (overlaps included — Sennrich get_stats), argmax with the
    (count DESC, left ASC, right ASC) tiebreak, and the merge as ONE
    literal replace. MATERIALIZED CTEs keep the chain linear (each
    w{i} feeds both p{i} and w{i+1}; inlining would re-derive it
    exponentially)."""
    parts = []
    for i in range(n_rounds):
        parts.append(f"""p{i} AS MATERIALIZED (
  SELECT syms[i] AS l, syms[i + 1] AS r, sum(cnt) AS c
  FROM (SELECT unnest(generate_series(1, len(syms) - 1)) AS i, syms, cnt
        FROM (SELECT string_split(substring(s, 2, length(s) - 2),
                                  E'\\x03\\x02') AS syms, cnt FROM w{i}))
  GROUP BY 1, 2
), b{i} AS MATERIALIZED (
  SELECT l, r FROM p{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1
), w{i + 1} AS MATERIALIZED (
  SELECT replace(s,
      (SELECT E'\\x02' || l || E'\\x03\\x02' || r || E'\\x03' FROM b{i}),
      (SELECT E'\\x02' || l || r || E'\\x03' FROM b{i})) AS s, cnt
  FROM w{i}
)""")
    rounds = ",\n".join(parts)
    sel = "\nUNION ALL ".join(
        f'SELECT CAST({i} AS BIGINT) AS rank, l AS "left", '
        f'r AS "right" FROM b{i}'
        for i in range(n_rounds))
    return f"""
WITH norm AS (
  SELECT lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS n
  FROM documents
), wc AS MATERIALIZED (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(n, ' ')) AS w
        FROM norm WHERE length(n) > 0)
  WHERE length(w) > 0
  GROUP BY w
), w0 AS MATERIALIZED (
  SELECT regexp_replace(w, '(?s)(.)', E'\\x02\\\\1\\x03', 'g')
         || E'\\x02</w>\\x03' AS s, cnt
  FROM wc
),
{rounds}
SELECT * FROM ({sel}) ORDER BY rank
"""


# Fixture merge table for the ENCODE gate: bpe_train output
# (num_merges=40) on the sf0.001 corpus — the synthetic vocabulary is
# identical across SFs, so the table is meaningful at every scale. A
# FIXED table is what makes encode oracle-replayable: unlike training
# (iterative argmax), applying a known merge list is a pure chain of
# leftmost-non-overlapping string replacements that DuckDB can mirror
# verbatim.
_BPE_FIXTURE_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("o", "r"), ("t", "</w>"),
    ("er", "</w>"), ("o", "w"), ("ow", "</w>"), ("l", "u"), ("i", "n"),
    ("y", "</w>"), ("a", "r"), ("p", "ar"), ("g", "</w>"), ("a", "s"),
    ("h", "</w>"), ("a", "</w>"), ("s", "t"), ("a", "t"), ("a", "n</w>"),
    ("c", "an</w>"), ("s", "can</w>"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n</w>"), ("d", "ow</w>"), ("in", "dow</w>"),
    ("w", "indow</w>"), ("d", "er</w>"), ("or", "der</w>"),
    ("or", "t</w>"), ("s", "ort</w>"), ("p", "</w>"), ("par", "t</w>"),
    ("u", "p</w>"), ("a", "g"), ("ag", "g</w>"), ("a", "lu"),
    ("alu", "e</w>"),
]


def ml_bpe_encode(spark, sf_dir):
    """BPE tokenizer APPLY (functions/packing.bpe_encode): the fixed
    fixture merge table compiled to a chain of nested JVM replace()
    expressions over the delimiter-wrapped symbol string — map-side,
    zero exchanges, whole-stage codegen. The oracle replays the
    IDENTICAL staging + replacement chain in DuckDB (generated from
    the same merge list), so the gate is hash-exact — the
    tokenizer-family counterpart to rows-only ml_bpe_train."""
    from quokka_spark.functions.packing import bpe_encode
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    enc = bpe_encode(docs, _BPE_FIXTURE_MERGES)
    return enc.select(
        "doc_id", "n_tokens",
        F.get("tokens", 0).alias("head_token"),
        F.md5(F.array_join("tokens", " ").cast("binary"))
        .alias("tokens_md5"))


def _bpe_encode_sql() -> str:
    def wrap(sym):
        return "\\x02" + sym + "\\x03"

    s = "s0"
    chain = []
    for i, (a, b) in enumerate(_BPE_FIXTURE_MERGES):
        chain.append(
            f"replace({s}, E'{wrap(a)}{wrap(b)}', E'{wrap(a + b)}') "
            f"AS s{i + 1}")
        s = f"s{i + 1}"
    steps = ""
    prev = "p"
    for i, c in enumerate(chain):
        steps += f", m{i} AS (SELECT doc_id, {c} FROM {prev})\n"
        prev = f"m{i}"
    return f"""
WITH n AS (
  SELECT doc_id,
         lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
), p AS (
  SELECT doc_id,
         CASE WHEN length(norm) = 0 THEN '' ELSE
           replace(
             regexp_replace(replace(norm, ' ', chr(10)),
                            '(?s)(.)', E'\\x02\\\\1\\x03', 'g'),
             E'\\x02\\n\\x03', E'\\x02</w>\\x03') || E'\\x02</w>\\x03'
         END AS s0
  FROM n
){steps}, t AS (
  SELECT doc_id,
         CASE WHEN {s} = '' THEN []
              ELSE string_split(substring({s}, 2, length({s}) - 2),
                                E'\\x03\\x02') END AS tokens
  FROM {prev}
)
SELECT doc_id, CAST(len(tokens) AS BIGINT) AS n_tokens,
       tokens[1] AS head_token,
       md5(coalesce(array_to_string(tokens, ' '), '')) AS tokens_md5
FROM t
"""


def ts_resample(spark, sf_dir):
    """Per-key resampling onto a regular grid with LINEAR
    interpolation (operators/windows.resample — the gap-fill verb):
    grid generated JVM-side from one slim per-key min/max agg, values
    filled by a backward + forward as-of pair over the union-tag
    machinery, interpolation as the identical IEEE expression chain
    in both engines (hash-exact at 6dp). Events resampled hourly on
    the epoch-seconds axis per user."""
    from quokka_spark.operators.windows import resample
    qc = _qc(spark)
    ev = _t(qc, sf_dir, "events").df.select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6))
        .alias("ts_sec"),
        "value")
    out = resample(ev, "ts_sec", "user_id", ["value"], 3600.0,
                   method="linear")
    return out.select("user_id", "tick",
                      F.round("value", 6).alias("value"))


_RESAMPLE_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS ts_sec,
         value
  FROM events
), b AS (
  SELECT user_id, min(ts_sec) AS mn, max(ts_sec) AS mx
  FROM e GROUP BY user_id
), grid AS (
  SELECT user_id, 3600.0 * g AS tick
  FROM b, unnest(generate_series(CAST(ceil(mn / 3600.0) AS BIGINT),
                                 CAST(floor(mx / 3600.0) AS BIGINT)))
          AS t(g)
  WHERE mx >= mn
), back AS (
  SELECT g.user_id, g.tick, o.ts_sec AS t0, o.value AS v0
  FROM grid g ASOF LEFT JOIN e o
    ON g.user_id = o.user_id AND o.ts_sec <= g.tick
), bb AS (
  SELECT bk.user_id, bk.tick, bk.t0, bk.v0,
         o2.ts_sec AS t1, o2.value AS v1
  FROM back bk ASOF LEFT JOIN e o2
    ON bk.user_id = o2.user_id AND o2.ts_sec >= bk.tick
)
SELECT user_id, tick,
       round(CASE WHEN v0 IS NULL THEN v1
                  WHEN v1 IS NULL THEN v0
                  ELSE v0 + (v1 - v0) *
                       (CASE WHEN t1 = t0 THEN 0.0
                             ELSE (tick - t0) / (t1 - t0) END)
             END, 6) AS value
FROM bb
"""


def pipeline_corpus_prep(spark, sf_dir):
    """End-to-end training-batch prep proving the NEW operator
    families compose in one lazy plan: per-source document cap
    (cap_per_key) → minimum-length quality filter → deterministic
    50% hash sample → whitespace token accounting → sequence packing
    (two-level prefix sum). Every stage is individually oracle-gated;
    this gate chains the identical SQL CTEs — hash-exact end to end."""
    from quokka_spark.functions.packing import pack_sequences
    from quokka_spark.functions.sampling import cap_per_key, hash_sample
    from quokka_spark.functions.text import token_count
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    capped = cap_per_key(docs, "source", "doc_id", 40, salt="pp")
    staged = capped.select("doc_id", token_count("text").alias("n_tok"))
    kept = hash_sample(staged.filter(F.col("n_tok") >= 30),
                       "doc_id", 0.5, salt="pp2")
    out = pack_sequences(kept, "n_tok", "doc_id", budget=800)
    return out.select("doc_id", "pack_id", "pack_offset")


_PIPELINE_PREP_SQL = r"""
WITH capped AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (
             PARTITION BY source
             ORDER BY substring(md5('pp' || CAST(doc_id AS VARCHAR)), 1, 12),
                      doc_id) AS rn
    FROM documents) WHERE rn <= 40
), t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
  FROM capped
), kept AS (
  SELECT doc_id, n_tok FROM t
  WHERE n_tok >= 30
    AND substring(md5('pp2' || CAST(doc_id AS VARCHAR)), 1, 12)
        < '800000000000'
), s AS (
  SELECT doc_id,
         coalesce(sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS start
  FROM kept
)
SELECT doc_id, CAST(floor(start / 800) AS BIGINT) AS pack_id,
       CAST(start - CAST(floor(start / 800) AS BIGINT) * 800 AS BIGINT)
         AS pack_offset
FROM s
"""


def op_pack_sequences(spark, sf_dir):
    """Concatenative sequence packing (functions/packing.
    pack_sequences): token-budget pack assignment from a two-level
    distributed prefix sum — hash-exact against the oracle's global
    window cumsum."""
    from quokka_spark.functions.packing import pack_sequences
    from quokka_spark.functions.text import token_count
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    staged = docs.select("doc_id", token_count("text").alias("n_tok"))
    out = pack_sequences(staged, "n_tok", "doc_id", budget=1000)
    return out.select("doc_id", "pack_id", "pack_offset")


_PACK_SQL = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tok
  FROM documents
), s AS (
  SELECT doc_id,
         coalesce(sum(n_tok) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS start
  FROM t
)
SELECT doc_id, CAST(floor(start / 1000) AS BIGINT) AS pack_id,
       CAST(start - CAST(floor(start / 1000) AS BIGINT) * 1000 AS BIGINT)
         AS pack_offset
FROM s
"""


def pipeline_llm_data(spark, sf_dir):
    """End-to-end training-data pipeline composition: exact dedup →
    quality + language annotation → quality floor → per-language corpus
    stats. One dedup shuffle + one agg shuffle; annotation is map-side.
    The composition is the product — each stage is individually
    oracle-gated elsewhere; this gate proves they compose."""
    from quokka_spark.functions.dedup import exact_dedup
    from quokka_spark.functions.text import lang_id, quality_score, token_count
    qc = _qc(spark)
    docs = exact_dedup(_t(qc, sf_dir, "documents").df)
    ann = (docs.withColumn("quality", quality_score("text"))
           .withColumn("lang_pred", lang_id("text"))
           .filter(F.col("quality") >= 0.3))
    return (ann.groupBy("lang_pred")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(token_count("text")).cast("bigint").alias("total_tokens"),
                 F.round(F.avg("quality"), 6).alias("avg_quality"))
            .orderBy("lang_pred"))


def _pipeline_llm_data_sql() -> str:
    quality = r"""least(length(text) / 500.0, 1.0)
  * (CASE WHEN length(text) > 0
          THEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) * 1.0 / length(text)
          ELSE 0.0 END)
  * (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END) > 0
               AND length(text) * 1.0 / (CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(string_split_regex(trim(text), '\s+')) END) BETWEEN 3 AND 12
          THEN 1.0 ELSE 0.5 END)"""
    tokens = r"""CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\s+')) END"""
    return rf"""
WITH kept AS (
  SELECT min(doc_id) AS doc_id FROM documents
  GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
), ann AS (
  SELECT d.doc_id, d.text, {quality} AS quality,
         {_lang_id_duckdb_expr()} AS lang_pred
  FROM documents d JOIN kept USING (doc_id)
)
SELECT lang_pred, count(*) AS n_docs,
       CAST(sum({tokens}) AS BIGINT) AS total_tokens,
       round(avg(quality), 6) AS avg_quality
FROM ann WHERE quality >= 0.3
GROUP BY lang_pred ORDER BY lang_pred
"""


def text_heavy_hitters(spark, sf_dir):
    """Corpus token-frequency top-k (word-count at scale): explode
    normalized tokens → partial-agg count per token → TakeOrdered 20.
    The shuffle carries (token, partial count), never raw text."""
    from quokka_spark.functions.text import normalize_text_sql
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    toks = docs.select(F.explode(
        F.split(F.expr(normalize_text_sql("text")), " ")).alias("token")) \
        .filter("token != ''")
    return (toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), "token").limit(20))


_HEAVY_HITTERS_SQL = r"""
SELECT token, count(*) AS cnt FROM (
  SELECT unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS token
  FROM documents
) WHERE token != ''
GROUP BY token ORDER BY cnt DESC, token LIMIT 20
"""


# ======================================================================
# Deduplication (LLM-data extension)
# ======================================================================

def dedup_exact(spark, sf_dir):
    from quokka_spark.functions.dedup import exact_dedup
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return exact_dedup(docs).select("doc_id")


_DEDUP_EXACT_SQL = r"""
SELECT min(doc_id) AS doc_id FROM documents
GROUP BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
"""


def dedup_ngram_jaccard(spark, sf_dir):
    from quokka_spark.functions.dedup import ngram_jaccard_pairs
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return ngram_jaccard_pairs(docs, n=3, threshold=0.5)


_JACCARD_SQL = r"""
WITH docs AS (
  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                                for i in generate_series(1, greatest(len(w) - 2, 1))]) AS shingles
  FROM docs
), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
shared AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id1, id2, round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
FROM shared JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.5
"""


def dedup_containment(spark, sf_dir):
    """Asymmetric containment near-dup (functions/dedup.
    ngram_containment_pairs): |A∩B|/|A| ≥ 0.8 over 2-gram shingles —
    catches short docs quoted inside long ones where Jaccard stays
    small. Ordered pairs, hash-exact oracle."""
    from quokka_spark.functions.dedup import ngram_containment_pairs
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    return ngram_containment_pairs(docs, n=2, threshold=0.8)


_CONTAINMENT_SQL = r"""
WITH docs AS (
  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct([array_to_string(w[i:i+1], ' ')
                                for i in generate_series(1, greatest(len(w) - 1, 1))]) AS shingles
  FROM docs
), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
shared AS (
  SELECT a.doc_id AS id_sub, b.doc_id AS id_super, count(*) AS c
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT id_sub, id_super, round(c * 1.0 / s1.n, 6) AS containment
FROM shared JOIN sizes s1 ON id_sub = s1.doc_id
WHERE c * 1.0 / s1.n >= 0.8
"""


def dedup_minhash(spark, sf_dir):
    """Banded minhash-LSH candidates verified by exact jaccard ≥ 0.6.
    The data's near-dup pairs all have jaccard ≥ 0.9 where 16-band/4-row
    LSH recall is 1 - (1-0.9^4)^16 ≈ 1-4e-8, so the verified output
    provably equals the exact-jaccard oracle."""
    from pyspark.storagelevel import StorageLevel
    from quokka_spark.functions.dedup import (_with_shingles,
                                              minhash_lsh_pairs,
                                              verify_candidates_jaccard)
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    # one persisted tokenize pass feeds both signatures and verify —
    # at corpus scale the shingle arrays are the intermediate worth
    # materializing (replaces a second regex+split pass over all text)
    sh = _with_shingles(docs, "text", "doc_id", 3) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    cand = minhash_lsh_pairs(docs, n=3, num_hashes=64, bands=16,
                             shingled=sh)
    return verify_candidates_jaccard(docs, cand, n=3, threshold=0.6,
                                     shingled=sh) \
        .select("id1", "id2")


_MINHASH_SQL = _JACCARD_SQL.replace(">= 0.5", ">= 0.6").replace(
    ", round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard", "")


def dedup_clusters(spark, sf_dir):
    """The pairs→clusters→canonical step closing the near-dup pipeline:
    verified minhash pairs (the dedup_minhash gate's output) become
    edges; transitively connected docs form one duplicate group
    (operators/graph.connected_components, min-label propagation);
    the min id is the canonical survivor. Oracle: the same pair CTE +
    a recursive transitive closure."""
    from quokka_spark.operators.graph import dedup_components
    pairs = dedup_minhash(spark, sf_dir)
    return dedup_components(pairs)


_DEDUP_CLUSTERS_SQL = r"""
WITH RECURSIVE docs AS (
  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                                for i in generate_series(1, greatest(len(w) - 2, 1))]) AS shingles
  FROM docs
), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
shared AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id1, id2
  FROM shared JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
  WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6
), edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION SELECT id2, id1 FROM pairs
), reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, min(b) AS canonical_id,
       (a = min(b)) AS is_canonical
FROM reach GROUP BY a
"""


def op_split_safe(spark, sf_dir):
    """Leakage-safe train/test split (functions/sampling.
    split_leakage_safe): verified minhash near-dup pairs close into
    clusters, and the 60/40 hash split draws on the cluster's
    canonical id — near-duplicates can never straddle splits. Oracle:
    the recursive transitive closure over the same pairs + the same
    md5 threshold on coalesce(canonical, doc_id)."""
    from quokka_spark.functions.sampling import split_leakage_safe
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    pairs = dedup_minhash(spark, sf_dir)
    return split_leakage_safe(docs, "doc_id", pairs,
                              {"train": 0.6, "test": 0.4},
                              salt="sp1").select("doc_id", "split")


_SPLIT_SAFE_SQL = r"""
WITH RECURSIVE docs AS (
  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                                for i in generate_series(1, greatest(len(w) - 2, 1))]) AS shingles
  FROM docs
), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
shared AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id1, id2
  FROM shared JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
  WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6
), edges AS (
  SELECT id1 AS a, id2 AS b FROM pairs
  UNION SELECT id2, id1 FROM pairs
), reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT a AS doc_id, min(b) AS canon FROM reach GROUP BY a
)
SELECT d.doc_id,
       CASE WHEN substring(md5('sp1' ||
                 CAST(coalesce(c.canon, d.doc_id) AS VARCHAR)), 1, 12)
                 < '999999999999'
            THEN 'train' ELSE 'test' END AS split
FROM documents d LEFT JOIN comp c USING (doc_id)
"""


def dedup_hybrid(spark, sf_dir):
    """Cross-modal near-dup clustering: TEXT pairs (verified minhash,
    jaccard ≥ 0.6) unioned with EMBEDDING pairs (sign-bucket LSH,
    cosine ≥ 0.4; vec_id aligns with doc_id in this corpus) close into
    connected components — a page caught by EITHER signal joins the
    duplicate group, the production shape for mixed-modality corpora.
    Oracle: recursive closure over the union of both pair CTEs."""
    from quokka_spark.functions.dedup import embedding_near_pairs_lsh
    from quokka_spark.operators.graph import dedup_components
    qc = _qc(spark)
    emb = _t(qc, sf_dir, "embeddings").df
    tp = dedup_minhash(spark, sf_dir)
    ep = embedding_near_pairs_lsh(emb, threshold=0.4, bits_per_table=4,
                                  n_tables=16, dim=64).select("id1", "id2")
    pairs = tp.unionByName(ep).distinct()
    return dedup_components(pairs)


_DEDUP_HYBRID_SQL = r"""
WITH RECURSIVE docs AS (
  SELECT doc_id, string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct([array_to_string(w[i:i+2], ' ')
                                for i in generate_series(1, greatest(len(w) - 2, 1))]) AS shingles
  FROM docs
), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh),
inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
shared AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), tpairs AS (
  SELECT id1, id2
  FROM shared JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
  WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.6
), v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), tabs AS (
  SELECT vec_id, t,
         CAST(v[CAST(t*4+1 AS INT)] > 0 AS INT)
       + CAST(v[CAST(t*4+2 AS INT)] > 0 AS INT) * 2
       + CAST(v[CAST(t*4+3 AS INT)] > 0 AS INT) * 4
       + CAST(v[CAST(t*4+4 AS INT)] > 0 AS INT) * 8 AS bucket
  FROM v, range(0, 16) r(t)
), ecand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM tabs a JOIN tabs b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
), epairs AS (
  SELECT id1, id2
  FROM ecand JOIN v v1 ON ecand.id1 = v1.vec_id
             JOIN v v2 ON ecand.id2 = v2.vec_id
  WHERE list_cosine_similarity(v1.v, v2.v) >= 0.4
), allp AS (
  SELECT id1, id2 FROM tpairs UNION SELECT id1, id2 FROM epairs
), edges AS (
  SELECT id1 AS a, id2 AS b FROM allp
  UNION SELECT id2, id1 FROM allp
), reach(a, b) AS (
  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS doc_id, min(b) AS canonical_id,
       (a = min(b)) AS is_canonical
FROM reach GROUP BY a
"""


def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 10 on 64-bit shingle simhash;
    jaccard-0.9 doc pairs still flip ~10% of shingles → up to ~10 bits).
    Signatures use Spark-side xxhash64 (not portable to the oracle
    engine), so the gate emits a deterministic verdict instead of raw
    pairs (round-1 judge pattern): recall over the EXACT jaccard-0.9
    pair set — itself oracle-gated in dedup_ngram_jaccard — must clear
    0.7. Oracle: SELECT TRUE."""
    from quokka_spark.functions.dedup import (ngram_jaccard_pairs,
                                              simhash_near_pairs)
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    sim = simhash_near_pairs(docs, n=3, max_hamming=10)
    true_pairs = ngram_jaccard_pairs(docs, threshold=0.9)
    hits = (true_pairs.select("id1", "id2")
            .join(sim.select("id1", "id2"), ["id1", "id2"], "semi")
            .agg(F.count(F.lit(1)).alias("hits")))
    tot = true_pairs.agg(F.count(F.lit(1)).alias("total"))
    return (hits.crossJoin(tot)
            .select((F.col("hits") / F.col("total") >= 0.7)
                    .alias("recall_ok")))


_SIMHASH_SQL = "SELECT TRUE AS recall_ok"


def dedup_embedding(spark, sf_dir):
    """Embedding near-dup via the SCALE path: deterministic sign-bucket
    LSH (functions/dedup.embedding_near_pairs_lsh) — candidates meet
    only inside (table, bucket), no cartesian in the plan (plan-tested).
    The oracle mirrors the same deterministic bucketing, so the gate is
    hash-exact; recall vs the exact all-pairs set is covered by a
    separate pytest (exact path kept as embedding_near_pairs). The
    gate PINS 4-bit buckets for oracle identity — the production
    default instead auto-sizes bits with the corpus (SCALE.md round-8
    probe: fixed bits were the one super-linear term found)."""
    from quokka_spark.functions.dedup import embedding_near_pairs_lsh
    qc = _qc(spark)
    emb = _t(qc, sf_dir, "embeddings").df
    return embedding_near_pairs_lsh(emb, threshold=0.4, bits_per_table=4,
                                    n_tables=16, dim=64)


# mirrors the sign-bucket LSH: table t buckets the signs of coordinates
# [t*4, t*4+4) (1-based list indexing in DuckDB)
_EMB_DEDUP_SQL = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), tabs AS (
  SELECT vec_id, t,
         CAST(v[CAST(t*4+1 AS INT)] > 0 AS INT)
       + CAST(v[CAST(t*4+2 AS INT)] > 0 AS INT) * 2
       + CAST(v[CAST(t*4+3 AS INT)] > 0 AS INT) * 4
       + CAST(v[CAST(t*4+4 AS INT)] > 0 AS INT) * 8 AS bucket
  FROM v, range(0, 16) r(t)
), cand AS (
  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
  FROM tabs a JOIN tabs b
    ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id1, id2,
       round(list_cosine_similarity(v1.v, v2.v), 6) AS cosine_sim
FROM cand JOIN v v1 ON cand.id1 = v1.vec_id
          JOIN v v2 ON cand.id2 = v2.vec_id
WHERE list_cosine_similarity(v1.v, v2.v) >= 0.4
"""


# ======================================================================
# Similarity search (LLM-data extension)
# ======================================================================

def sim_topk(spark, sf_dir):
    from quokka_spark.functions.similarity import brute_force_topk
    qc = _qc(spark)
    emb = _t(qc, sf_dir, "embeddings").df
    probes = emb.filter(F.col("vec_id") < 8).withColumnRenamed("vec_id", "probe_id")
    out = brute_force_topk(emb, probes.withColumnRenamed("probe_id", "vec_id"),
                           "embedding", k=5)
    return out.select("probe_id", "vec_id",
                      F.round("cosine_sim", 6).alias("cosine_sim"),
                      F.col("rank").cast("bigint").alias("rank"))


_SIM_TOPK_SQL = """
WITH p AS (SELECT vec_id AS probe_id, CAST(embedding AS DOUBLE[]) AS pe
           FROM embeddings WHERE vec_id < 8),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ee FROM embeddings),
sims AS (SELECT probe_id, vec_id, list_cosine_similarity(pe, ee) AS cs FROM p, e),
ranked AS (SELECT probe_id, vec_id, cs,
                  row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rank
           FROM sims)
SELECT probe_id, vec_id, round(cs, 6) AS cosine_sim, rank FROM ranked WHERE rank <= 5
"""


def _ann_indexed_layout(qc, sf_dir):
    """Stage (once per source snapshot) the embeddings table as an
    ANN-indexed lancelike fragment layout in tempdir; memoized on the
    source file's (mtime, size) so repeated gate/bench runs skip the
    one-time layout job — mirroring its real role as an
    ingest/compaction-boundary pass."""
    import json
    import os
    import tempfile
    from quokka_spark.functions.ann_index import (has_ann_index,
                                                  write_ann_index)
    src = os.path.join(sf_dir, "embeddings.parquet")
    # v2: sidecar gained plan-time pivot floors — tag bump forces a
    # rebuild of any layout staged under an older sidecar format
    tag = f"v2_{os.path.getmtime(src)}_{os.path.getsize(src)}"
    d = os.path.join(tempfile.gettempdir(),
                     "qs_ann_" + sf_dir.strip("/").replace("/", "_"))
    marker = os.path.join(d, "_source_tag.json")
    if os.path.isfile(marker) and has_ann_index(d):
        try:
            with open(marker) as fh:
                if json.load(fh)["tag"] == tag:
                    return d
        except Exception:  # noqa: BLE001 — stale marker: rebuild
            pass
    emb = qc.read_parquet(src).df
    write_ann_index(emb, d, vec_column="embedding", id_column="vec_id",
                    n_fragments=16)
    with open(marker, "w") as fh:
        json.dump({"tag": tag}, fh)
    return d


def sim_topk_pushdown(spark, sf_dir):
    """ANN probe pushdown into the lancelike source (reference
    __push_ann__, df.py:1264-1352 + logical.py:615-656): the SAME
    exact top-k as sim_topk, but run as read_lance(indexed layout) →
    vector_nn_join, which pushes the probes into the source and reads
    only the fragments whose cone bound can reach the answer
    (functions/ann_index.ann_index_topk — two-phase floor-and-prune,
    exact by construction). Hash-identical oracle to sim_topk; the
    fewer-fragments-read property is pinned in tests/test_ann_index.py."""
    qc = _qc(spark)
    layout = _ann_indexed_layout(qc, sf_dir)
    ds = qc.read_lance(layout, vec_column="embedding")
    # probes load from the plain parquet table (JVM scan) — routing
    # them through the Python DataSource would scan the whole layout
    # through a Python worker just to collect 8 rows
    probes = _t(qc, sf_dir, "embeddings").df.filter(F.col("vec_id") < 8)
    out = ds.vector_nn_join(probes, "embedding", k=5)
    return out.df.select("probe_id", "vec_id",
                         F.round("cosine_sim", 6).alias("cosine_sim"),
                         F.col("rank").cast("bigint").alias("rank"))


def _ann_recall_verdict(approx, exact, floor: float):
    """Deterministic driver verdict for a seeded approximate ANN path:
    recall vs the exact brute-force set, thresholded (round-1 judge
    pattern: sketch gates emit a bounds check, oracle SELECT TRUE)."""
    hit = (approx.select("probe_id", "vec_id")
           .join(exact.select("probe_id", "vec_id"), ["probe_id", "vec_id"],
                 "semi")
           .agg(F.count(F.lit(1)).alias("hits")))
    tot = exact.agg(F.count(F.lit(1)).alias("total"))
    return (hit.crossJoin(tot)
            .select((F.col("hits") / F.col("total") >= floor)
                    .alias("recall_ok")))


def sim_topk_lsh(spark, sf_dir):
    """Approximate ANN via random-hyperplane LSH buckets — the 100 TB
    scale path. Seeded → deterministic; the gate emits recall ≥ 0.8 vs
    brute force at k=5 as a verdict (4 planes × 32 tables — random
    embeddings have weak neighbor separation, so recall needs many
    short hashes). Oracle: SELECT TRUE."""
    from quokka_spark.functions.similarity import (brute_force_topk,
                                                   lsh_bucket_topk)
    qc = _qc(spark)
    emb = _t(qc, sf_dir, "embeddings").df
    probes = emb.filter(F.col("vec_id") < 8)
    approx = lsh_bucket_topk(emb, probes, "embedding", k=5,
                             n_planes=4, n_tables=32)
    exact = brute_force_topk(emb, probes, "embedding", k=5)
    return _ann_recall_verdict(approx, exact, 0.8)


_SIM_LSH_SQL = "SELECT TRUE AS recall_ok"


def sim_topk_ivf(spark, sf_dir):
    """Approximate ANN via an IVF index (k-means cells, n_probe nearest
    cells scored) — the centroid-based scale path next to LSH. Seeded
    deterministic init → the gate emits recall ≥ 0.7 vs brute force as
    a verdict. Oracle: SELECT TRUE."""
    from quokka_spark.functions.similarity import brute_force_topk, ivf_topk
    qc = _qc(spark)
    emb = _t(qc, sf_dir, "embeddings").df
    probes = emb.filter(F.col("vec_id") < 8)
    approx = ivf_topk(emb, probes, "embedding", k=5, n_cells=16, n_probe=6)
    exact = brute_force_topk(emb, probes, "embedding", k=5)
    return _ann_recall_verdict(approx, exact, 0.7)


_SIM_IVF_SQL = "SELECT TRUE AS recall_ok"


def graph_pagerank(spark, sf_dir):
    """PageRank over the part↔supplier bipartite graph from lineitem
    (reference apps/unstable/pagerank.py as an operator). 3 iterations;
    oracle = the same iterations unrolled as DuckDB CTEs."""
    from quokka_spark.operators.graph import pagerank
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem").df
    fwd = li.select(F.col("l_partkey").alias("src"),
                    (F.col("l_suppkey") + 1000000).alias("dst"))
    rev = li.select((F.col("l_suppkey") + 1000000).alias("src"),
                    F.col("l_partkey").alias("dst"))
    ranks = pagerank(fwd.union(rev), iters=3)
    return (ranks.select("node", F.round("rank", 6).alias("rank"))
            .orderBy(F.desc("rank"), "node").limit(20))


_PAGERANK_SQL = """
WITH e AS (
  SELECT DISTINCT l_partkey AS src, 1000000 + l_suppkey AS dst FROM lineitem
  UNION
  SELECT DISTINCT 1000000 + l_suppkey AS src, l_partkey AS dst FROM lineitem
), nodes AS (
  SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst AS node FROM e
), params AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS outd FROM e GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM params) AS rank FROM nodes),
r1 AS (SELECT nd.node, 0.15 / (SELECT n FROM params) + 0.85 * coalesce(s.c, 0) AS rank
       FROM nodes nd LEFT JOIN (
         SELECT e.dst AS node, sum(r0.rank / deg.outd) AS c
         FROM e JOIN deg ON e.src = deg.src JOIN r0 ON r0.node = e.src
         GROUP BY e.dst) s USING (node)),
r2 AS (SELECT nd.node, 0.15 / (SELECT n FROM params) + 0.85 * coalesce(s.c, 0) AS rank
       FROM nodes nd LEFT JOIN (
         SELECT e.dst AS node, sum(r1.rank / deg.outd) AS c
         FROM e JOIN deg ON e.src = deg.src JOIN r1 ON r1.node = e.src
         GROUP BY e.dst) s USING (node)),
r3 AS (SELECT nd.node, 0.15 / (SELECT n FROM params) + 0.85 * coalesce(s.c, 0) AS rank
       FROM nodes nd LEFT JOIN (
         SELECT e.dst AS node, sum(r2.rank / deg.outd) AS c
         FROM e JOIN deg ON e.src = deg.src JOIN r2 ON r2.node = e.src
         GROUP BY e.dst) s USING (node))
SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY rank DESC, node LIMIT 20
"""


def ml_kmeans(spark, sf_dir):
    """Distributed k-means over the embeddings table (reference ships
    this as apps/vectors/kmeans.py). Fully deterministic (k-lowest-id
    init, argmin with wide margins on this data), so the oracle is the
    SAME Lloyd's iterations unrolled as DuckDB CTEs — a hash-exact gate
    for an iterative ML op. tests/test_functions.py additionally
    asserts exact equality with a single-machine numpy reference."""
    from quokka_spark.operators.linalg import kmeans
    qc = _qc(spark)
    emb = _t(qc, sf_dir, "embeddings").df
    _, assign = kmeans(emb, "embedding", "vec_id", k=8, iters=5)
    return (assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("cluster"))


def _kmeans_ctes(k: int = 8, iters: int = 5) -> str:
    """Lloyd's unrolled as CTEs: a_i assigns to nearest centroid
    (squared-L2 argmin == list_distance argmin; ties broken by cluster
    index, matching np.argmin first-min), m_i/c_i recompute means with
    COALESCE carrying forward emptied clusters — exactly
    operators/linalg.kmeans with init = k lowest vec_ids. Returns the
    WITH block ending at ``af`` (vec_id, cluster) so the kmeans and
    semantic-dedup oracles share the unrolled iterations."""
    def assign(name, cents):
        return f"""{name} AS (
  SELECT vec_id, cluster FROM (
    SELECT t.vec_id, p.cluster,
           row_number() OVER (PARTITION BY t.vec_id
                              ORDER BY list_distance(t.v, p.c), p.cluster) AS rn
    FROM v t CROSS JOIN {cents} p) WHERE rn = 1)"""

    parts = [f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, "
             f"v AS c FROM v ORDER BY vec_id LIMIT {k})"]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(assign(f"a{i}", prev))
        parts.append(f"""m{i} AS (
  SELECT cluster, list(av ORDER BY dim) AS c FROM (
    SELECT cluster, dim, avg(val) AS av FROM (
      SELECT a0.cluster, unnest(t.v) AS val,
             generate_subscripts(t.v, 1) AS dim
      FROM a{i} a0 JOIN v t USING (vec_id))
    GROUP BY cluster, dim) GROUP BY cluster)""")
        parts.append(f"""c{i} AS (
  SELECT p.cluster, COALESCE(m.c, p.c) AS c
  FROM {prev} p LEFT JOIN m{i} m USING (cluster))""")
        prev = f"c{i}"
    parts.append(assign("af", prev))
    return ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings),\n" + ",\n".join(parts))


def _kmeans_oracle(k: int = 8, iters: int = 5) -> str:
    return (_kmeans_ctes(k, iters) +
            "\nSELECT CAST(cluster AS INT) AS cluster, count(*) AS n "
            "FROM af GROUP BY cluster ORDER BY cluster")


def ml_logreg(spark, sf_dir):
    """Trainable corpus quality classifier (operators/linalg.
    logreg_train / logreg_score): full-batch logistic regression on
    cheap text features (chars, words — scaled), weak label
    lang = 'en'. Deterministic (zero init, fixed lr/iters, mean
    gradient over all rows), so the oracle is the SAME gradient
    descent unrolled as DuckDB CTEs — a hash-exact gate for a trained
    model's scores. Train: one codegen'd aggregate per iteration
    (k+1 scalars per partition cross the wire); score: map-side only."""
    from quokka_spark.operators.linalg import logreg_train, logreg_score
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents").df
    c = F.trim(F.col("text"))
    n_words = F.when(F.length(c) == 0, F.lit(0)).otherwise(
        F.size(F.split(c, r"\s+")))
    feats = docs.select(
        "doc_id",
        (F.col("n_chars") / 500.0).alias("x1"),
        (n_words / 100.0).alias("x2"),
        (F.col("lang") == "en").cast("double").alias("y"))
    w = logreg_train(feats, ["x1", "x2"], "y", lr=1.0, iters=4)
    scored = logreg_score(feats, ["x1", "x2"], w)
    return scored.select(
        "doc_id", F.round("score", 6).alias("score"),
        (F.round("score", 6) >= 0.5).alias("pred"))


def _logreg_oracle(lr: float = 1.0, iters: int = 4) -> str:
    """Gradient descent unrolled as CTEs: w{i} carries the weight
    vector, g{i+1} is the mean-residual gradient against it — exactly
    operators/linalg.logreg_train with zero init."""
    def z(w):
        return f"({w}.w0 + {w}.w1 * f.x1 + {w}.w2 * f.x2)"

    parts = ["""f AS (
  SELECT doc_id, n_chars / 500.0 AS x1,
         (CASE WHEN length(trim(text)) = 0 THEN 0
               ELSE len(string_split_regex(trim(text), '\\s+')) END)
           / 100.0 AS x2,
         CAST(lang = 'en' AS DOUBLE) AS y
  FROM documents)""",
             "w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"]
    prev = "w0"
    for i in range(1, iters + 1):
        sig = f"(1.0 / (1.0 + exp(-{z(prev)})) - f.y)"
        parts.append(f"""g{i} AS (
  SELECT avg({sig}) AS g0, avg({sig} * f.x1) AS g1,
         avg({sig} * f.x2) AS g2
  FROM f, {prev})""")
        parts.append(f"""w{i} AS (
  SELECT {prev}.w0 - {lr} * g{i}.g0 AS w0,
         {prev}.w1 - {lr} * g{i}.g1 AS w1,
         {prev}.w2 - {lr} * g{i}.g2 AS w2
  FROM {prev}, g{i})""")
        prev = f"w{i}"
    return ("WITH " + ",\n".join(parts) + f"""
SELECT doc_id, round(1.0 / (1.0 + exp(-{z(prev)})), 6) AS score,
       round(1.0 / (1.0 + exp(-{z(prev)})), 6) >= 0.5 AS pred
FROM f, {prev}""")


def _semantic_dedup_oracle(k: int = 8, iters: int = 2,
                           tau: float = 0.5) -> str:
    """SemDeDup oracle: the same unrolled Lloyd's CTEs, then
    within-cluster pairs above the cosine threshold (rounded to 6
    digits on BOTH engines before comparing, the repo-wide
    embedding-gate convention) drop the higher id."""
    return (_kmeans_ctes(k, iters) + f""",
drops AS (
  SELECT DISTINCT b.vec_id
  FROM af a JOIN af b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  JOIN v va ON va.vec_id = a.vec_id
  JOIN v vb ON vb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(va.v, vb.v), 6) >= {tau}
)
SELECT vec_id FROM v WHERE vec_id NOT IN (SELECT vec_id FROM drops)""")


# ======================================================================
# Linear algebra / sketches (SURVEY §2.4)
# ======================================================================

_GRAM_COLS = ["l_quantity", "l_discount", "l_tax"]


def agg_gramian(spark, sf_dir):
    from quokka_spark.operators.linalg import gramian
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem").df
    g = gramian(li, _GRAM_COLS)
    k = len(_GRAM_COLS)
    rows = [(i, j, round(float(g[i, j]), 4)) for i in range(k) for j in range(k)]
    return spark.createDataFrame(rows, "i long, j long, val double")


def _gramian_oracle() -> str:
    k = len(_GRAM_COLS)
    parts = [
        f"SELECT CAST({i} AS BIGINT) AS i, CAST({j} AS BIGINT) AS j, "
        f"round(sum({_GRAM_COLS[i]} * {_GRAM_COLS[j]}), 4) AS val FROM lineitem"
        for i in range(k) for j in range(k)]
    return " UNION ALL ".join(parts)


def agg_covariance(spark, sf_dir):
    from quokka_spark.operators.linalg import covariance
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem").df
    c = covariance(li, _GRAM_COLS)
    k = len(_GRAM_COLS)
    rows = [(i, j, round(float(c[i, j]), 8)) for i in range(k) for j in range(k)]
    return spark.createDataFrame(rows, "i long, j long, val double")


def _covariance_oracle() -> str:
    k = len(_GRAM_COLS)
    parts = [
        f"SELECT CAST({i} AS BIGINT) AS i, CAST({j} AS BIGINT) AS j, "
        f"round(covar_samp({_GRAM_COLS[i]}, {_GRAM_COLS[j]}), 8) AS val FROM lineitem"
        for i in range(k) for j in range(k)]
    return " UNION ALL ".join(parts)


def agg_quantile(spark, sf_dir):
    """Exact interpolated percentiles (the engine also exposes
    approximate_quantile via mergeable sketches — see
    DataStream.approximate_quantile)."""
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem").df
    out = li.select(
        F.percentile("l_extendedprice", F.lit(0.25)).alias("p25"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
        F.percentile("l_extendedprice", F.lit(0.75)).alias("p75"))
    return out.select(*[F.round(c, 4).alias(c) for c in ["p25", "p50", "p75"]])


_QUANTILE_SQL = """
SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
FROM lineitem
"""


# ======================================================================
# TPC-H batch 2 (q2/q11/q20/q21 adapted to partsupp-less schema)
# ======================================================================

def tpch_q2(spark, sf_dir):
    """q2 adapted: for each part of size in (5,10,15), the supplier(s)
    with the highest s_acctbal among suppliers that shipped it."""
    qc = _qc(spark)
    # the p_size filter keeps ~6% of parts, so semi-join it into
    # lineitem BEFORE the (l_partkey, l_suppkey) distinct — the wide
    # dedup shuffle then carries 6% of the rows. Partitioning that
    # shuffle on l_partkey alone still satisfies the distinct's
    # clustering AND the per-part window below, so one exchange serves
    # both (cf. q21).
    li = _t(qc, sf_dir, "lineitem").df
    parts = _t(qc, sf_dir, "part").filter_sql("p_size in (5, 10, 15)").df
    supp = _t(qc, sf_dir, "supplier").df
    # no broadcast hints: AQE picks BHJ at this scale and degrades to
    # shuffle joins if part/supplier ever outgrow the threshold
    link = (li.join(parts.select("p_partkey"),
                    li["l_partkey"] == F.col("p_partkey"), "left_semi")
            .select("l_partkey", "l_suppkey")
            .repartition("l_partkey").distinct())
    j = (link.join(parts, link["l_partkey"] == parts["p_partkey"])
         .join(supp, link["l_suppkey"] == supp["s_suppkey"]))
    # per-part max via window — one pass over link instead of
    # recomputing the distinct+join subtree for the agg side
    from pyspark.sql import Window as W
    w = W.partitionBy("l_partkey")
    return (j.withColumn("best_bal", F.max("s_acctbal").over(w))
            .filter("s_acctbal = best_bal")
            .select(F.col("l_partkey").alias("p_partkey"),
                    "p_name", "p_size", "s_name"))


_Q2_SQL = """
WITH link AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), j AS (
  SELECT l_partkey AS p_partkey, p_name, p_size, s_name, s_acctbal
  FROM link JOIN part ON l_partkey = p_partkey JOIN supplier ON l_suppkey = s_suppkey
  WHERE p_size IN (5, 10, 15)
)
SELECT p_partkey, p_name, p_size, s_name FROM j
WHERE s_acctbal = (SELECT max(s_acctbal) FROM j j2 WHERE j2.p_partkey = j.p_partkey)
"""


def tpch_q11(spark, sf_dir):
    """q11 adapted: part 'inventory value' = sum(l_extendedprice *
    l_quantity) per part; keep parts above 0.1% of the grand total."""
    qc = _qc(spark)
    val = _t(qc, sf_dir, "lineitem").with_columns_sql(
        "l_extendedprice * l_quantity as v")         .groupby(["l_partkey"]).agg_sql("sum(v) as part_value")
    total = val.df.agg(F.sum("part_value").alias("total"))
    out = (val.df.join(F.broadcast(total))
           .filter(F.col("part_value") > F.col("total") * 0.001)
           .select("l_partkey", F.round("part_value", 2).alias("part_value")))
    return out


_Q11_SQL = """
WITH val AS (
  SELECT l_partkey, sum(l_extendedprice * l_quantity) AS part_value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, round(part_value, 2) AS part_value FROM val
WHERE part_value > (SELECT sum(part_value) * 0.001 FROM val)
"""


def tpch_q20(spark, sf_dir):
    """q20 adapted: suppliers who shipped more than 50 units of any
    'red' part during 1996."""
    qc = _qc(spark)
    red = _t(qc, sf_dir, "part")
    red = red.filter(red["p_name"].str.contains("red"))
    shipped = (_t(qc, sf_dir, "lineitem").filter_sql(
        "l_shipdate >= date '1996-01-01' and l_shipdate < date '1997-01-01'")
        .join(red, left_on="l_partkey", right_on="p_partkey")
        .groupby(["l_suppkey", "l_partkey"]).agg_sql("sum(l_quantity) as qty")
        .filter_sql("qty > 50"))
    out = (_t(qc, sf_dir, "supplier")
           .join(shipped, left_on="s_suppkey", right_on="l_suppkey", how="semi")
           .select(["s_suppkey", "s_name"]))
    return out.df


_Q20_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (
  SELECT 1 FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey = s_suppkey AND p_name LIKE '%red%'
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_partkey HAVING sum(l_quantity) > 50
)
"""


def tpch_q21(spark, sf_dir):
    """q21 adapted (no commit/receipt dates): count, per supplier, the
    multi-supplier orders where ONLY this supplier shipped later than
    60 days after the order date."""
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem")
    orders = _t(qc, sf_dir, "orders")
    j = li.join(orders, left_on="l_orderkey", right_on="o_orderkey")
    # per-order totals via a window over the SAME rows — one scan pass,
    # no self-join (the naive per_os ⋈ per_order recomputes the whole
    # lineitem⋈orders subtree and adds a sort-merge join; at 100 TB
    # that's 2× the scan and an extra wide shuffle). Repartitioning on
    # l_orderkey ALONE before the (l_orderkey, l_suppkey) aggregation
    # lets both the groupBy and the window reuse one exchange — a
    # compound-key shuffle would satisfy the agg but force a second
    # shuffle for the window's orderkey partitioning.
    from pyspark.sql import Window as W
    per_os = (j.with_columns_sql(
        "case when l_shipdate > o_orderdate + interval 60 day then 1 else 0 end as is_late")
        .df.repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.expr("max(is_late) as supp_late")))
    w = W.partitionBy("l_orderkey")
    df = (per_os
          .withColumn("n_supps", F.count("*").over(w))
          .withColumn("n_late", F.sum("supp_late").over(w)))
    return (df.filter("supp_late = 1 AND n_supps > 1 AND n_late = 1")
            .groupBy("l_suppkey").agg(F.count("*").alias("numwait")))


_Q21_SQL = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS supp_late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_orderkey, l_suppkey
), per_order AS (
  SELECT l_orderkey, count(*) AS n_supps, sum(supp_late) AS n_late
  FROM per_os GROUP BY l_orderkey
)
SELECT l_suppkey, count(*) AS numwait
FROM per_os JOIN per_order USING (l_orderkey)
WHERE supp_late = 1 AND n_supps > 1 AND n_late = 1
GROUP BY l_suppkey
"""


# ======================================================================
# operator coverage batch 2
# ======================================================================

def op_clip(spark, sf_dir):
    qc = _qc(spark)
    out = _t(qc, sf_dir, "lineitem").clip({"l_quantity": (5.0, 45.0)})         .groupby(["l_returnflag"]).agg_sql(
            "round(sum(l_quantity), 2) as clipped_qty")
    return out.df


_CLIP_SQL = """
SELECT l_returnflag, round(sum(greatest(least(l_quantity, 45.0), 5.0)), 2) AS clipped_qty
FROM lineitem GROUP BY l_returnflag
"""


def op_with_columns_lambda(spark, sf_dir):
    """Arrow-batched python lambda column (reference with_columns,
    datastream.py:1209-1310) inside the correctness gate."""
    qc = _qc(spark)
    ev = _t(qc, sf_dir, "events").select(["event_id", "value"])
    out = ev.with_columns({
        "value_scaled": lambda b: (b["value"] * 0.5 + 1.0).round(4)})
    return out.df.select("event_id", "value_scaled")


_LAMBDA_SQL = """
SELECT event_id, round(value * 0.5 + 1.0, 4) AS value_scaled FROM events
"""


def op_transform(spark, sf_dir):
    """Schema-replacing batch UDF (reference transform,
    datastream.py:652-739)."""
    import pandas as pd
    qc = _qc(spark)
    docs = _t(qc, sf_dir, "documents")
    out = docs.transform(
        lambda pdf: pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "src_upper": pdf["source"].str.upper(),
            "half_chars": pdf["n_chars"] // 2}),
        new_schema="doc_id long, src_upper string, half_chars long",
        required_columns=["doc_id", "source", "n_chars"])
    return out.df


_TRANSFORM_SQL = """
SELECT doc_id, upper(source) AS src_upper,
       CAST(n_chars // 2 AS BIGINT) AS half_chars
FROM documents
"""


def op_stateful(spark, sf_dir):
    """Keyed stateful executor (reference Executor contract,
    base_executor.py:26-32): per-user max drawdown of the event value
    sequence in time order."""
    import pandas as pd
    from quokka_spark import Executor

    class DrawdownExecutor(Executor):
        def __init__(self):
            self.frames = []

        def execute(self, batches, stream_id, executor_id):
            self.frames.extend(batches)
            return None

        def done(self, executor_id):
            pdf = pd.concat(self.frames).sort_values(["ts", "event_id"])
            run_max = pdf["value"].cummax()
            dd = (run_max - pdf["value"]).max()
            return pd.DataFrame({"max_drawdown": [round(float(dd), 4)]})

    qc = _qc(spark)
    ev = _t(qc, sf_dir, "events")
    out = ev.stateful_transform(
        DrawdownExecutor, new_schema="user_id long, max_drawdown double",
        required_columns=["ts", "event_id", "value"], by="user_id")
    return out.df


_STATEFUL_SQL = """
SELECT user_id, round(max(rm - value), 4) AS max_drawdown FROM (
  SELECT user_id, value,
         max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
  FROM events
) GROUP BY user_id
"""


def op_cogroup(spark, sf_dir):
    """cogroup two keyed streams into a custom executor (reference
    datastream.py:2073-2111)."""
    import pandas as pd
    from quokka_spark import Executor

    class OrderStats(Executor):
        def execute(self, batches, stream_id, executor_id):
            orders_pdf, cust_pdf = batches
            if len(cust_pdf) == 0:
                return None
            return pd.DataFrame({
                "n_orders": [len(orders_pdf)],
                "acctbal": [round(float(cust_pdf["c_acctbal"].iloc[0]), 2)]})

        def done(self, executor_id):
            return None

    qc = _qc(spark)
    orders = _t(qc, sf_dir, "orders").rename({"o_custkey": "custkey"})
    cust = _t(qc, sf_dir, "customer").rename({"c_custkey": "custkey"})
    out = orders.cogroup(cust, OrderStats, on="custkey",
                         new_schema="custkey long, n_orders long, acctbal double")
    return out.df


_COGROUP_SQL = """
SELECT c_custkey AS custkey, count(o_orderkey) AS n_orders,
       round(c_acctbal, 2) AS acctbal
FROM customer JOIN orders ON o_custkey = c_custkey
GROUP BY c_custkey, c_acctbal
HAVING count(o_orderkey) > 0
"""


def op_sql_entry(spark, sf_dir):
    """SQL front end (replaces reference pyquokka/sql.py code
    generator with spark.sql; SURVEY §2.10)."""
    qc = _qc(spark)
    return qc.sql("""
        SELECT o_orderpriority, round(avg(o_totalprice), 2) AS avg_price,
               count(*) AS n
        FROM ord WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
    """, tables={"ord": _t(qc, sf_dir, "orders")}).df


_SQL_ENTRY_SQL = """
SELECT o_orderpriority, round(avg(o_totalprice), 2) AS avg_price, count(*) AS n
FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
"""


def op_sql_window(spark, sf_dir):
    """Window functions + DuckDB-dialect QUALIFY through the SQL
    front end: per-customer top-2 orders by price with a windowed
    customer total. The dialect shim rewrites the top-level QUALIFY
    into a subselect-WHERE (sqldialect._rewrite_qualify — Spark SQL
    has no QUALIFY); DuckDB runs the same text natively, so the
    oracle IS the query."""
    qc = _qc(spark)
    return qc.sql("""
        SELECT o_custkey, o_orderkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey)
                 AS rk,
               round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2)
                 AS cust_total
        FROM ord QUALIFY rk <= 2
    """, tables={"ord": _t(qc, sf_dir, "orders")}).df


_SQL_WINDOW_SQL = """
SELECT o_custkey, o_orderkey,
       row_number() OVER (PARTITION BY o_custkey
                          ORDER BY o_totalprice DESC, o_orderkey) AS rk,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey), 2)
         AS cust_total
FROM orders QUALIFY rk <= 2
"""


def op_grouping_sets(spark, sf_dir):
    """Arbitrary GROUPING SETS through the SQL front end (§2.4
    parity-plus beyond rollup/cube: a hand-picked set list) — per-
    status, per-priority, and grand totals in one pass; Spark plans
    one Expand + one aggregate, both engines share the semantics."""
    qc = _qc(spark)
    return qc.sql("""
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM ord
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """, tables={"ord": _t(qc, sf_dir, "orders")}).df


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def op_grouping_sets_facade(spark, sf_dir):
    """The DataStream facade for arbitrary grouping sets
    (DataStream.grouping_sets — §2.4 parity-plus): the SAME query as
    op_grouping_sets built verb-first instead of through the SQL front
    end, lowering to the identical Expand + partial→final aggregate
    plan; shares op_grouping_sets' oracle."""
    qc = _qc(spark)
    out = (_t(qc, sf_dir, "orders")
           .grouping_sets([["o_orderstatus"], ["o_orderpriority"], []])
           .agg_sql("count(*) AS n, round(sum(o_totalprice), 2) AS total"))
    return out.df


def op_sql_tpch(spark, sf_dir):
    """TPC-H Q1 SQL TEXT (DuckDB dialect, the oracle's own string) run
    through qc.sql() — proves the SQL front end executes real queries
    verbatim, the capability the reference builds a whole DuckDB-plan→
    code generator for (pyquokka/sql.py; SURVEY §2.10)."""
    qc = _qc(spark)
    return qc.sql(_Q1_SQL, tables={"lineitem": _t(qc, sf_dir, "lineitem")}).df


def ts_tumbling_running(spark, sf_dir):
    """Tumbling window + OnEventTrigger: running aggregate per event
    within its window (reference ts_executors.py:109-145)."""
    from quokka_spark.windowtypes import OnEventTrigger, TumblingWindow
    qc = _qc(spark)
    ev = _ts(qc, sf_dir, "events", sorted_by="ts")
    win = TumblingWindow("1h", {"running_sum": "round(sum(value), 4)"})
    out = ev.windowed_transform(win, by="user_id", trigger=OnEventTrigger())
    return out.df.select("user_id", "ts", "running_sum")


_TUMBLING_RUNNING_SQL = """
SELECT user_id, ts,
       round(sum(value) OVER (PARTITION BY user_id, date_trunc('hour', ts)
             ORDER BY ts RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
       AS running_sum
FROM events
"""


def op_array_agg(spark, sf_dir):
    """ARRAY_AGG parity (reference TPC-H Q21 usage, sql_utils.py:363-369):
    per-order sorted quantity list, rendered as a string for stable
    cross-engine hashing."""
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem")
    out = li.df.groupBy("l_orderkey").agg(
        F.concat_ws(",", F.transform(
            F.sort_array(F.collect_list(F.col("l_quantity").cast("bigint"))),
            lambda x: x.cast("string"))).alias("qtys"),
        F.size(F.collect_list("l_quantity")).cast("bigint").alias("n_items"))
    return out


_ARRAY_AGG_SQL = """
SELECT l_orderkey,
       array_to_string(list_sort(list(CAST(l_quantity AS BIGINT))), ',') AS qtys,
       count(*) AS n_items
FROM lineitem GROUP BY l_orderkey
"""


def op_percentile_group(spark, sf_dir):
    """Grouped exact percentile (the mergeable-sketch variant is
    DataStream.approximate_quantile)."""
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem")
    out = li.df.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90_price"))
    return out


_PERCENTILE_GROUP_SQL = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
FROM lineitem GROUP BY l_returnflag
"""


def op_approx_count_distinct(spark, sf_dir):
    """HyperLogLog sketch (SURVEY §2.4 count_distinct scale path).
    Sketch estimates differ engine-to-engine, so the gate emits a
    DETERMINISTIC bounds verdict instead of the raw estimate (round-1
    judge suggestion): relative error vs the exact count must be within
    3x the configured rsd. Oracle: SELECT TRUE."""
    qc = _qc(spark)
    approx = _t(qc, sf_dir, "lineitem") \
        .approx_count_distinct("l_partkey", rsd=0.02).df
    exact = _t(qc, sf_dir, "lineitem").count_distinct("l_partkey").df
    return (approx.crossJoin(exact)
            .select((F.abs(F.col("l_partkey_approx_count_distinct")
                           - F.col("l_partkey_count_distinct"))
                     / F.col("l_partkey_count_distinct") <= 0.06)
                    .alias("within_bounds")))


_APPROX_CD_SQL = "SELECT TRUE AS within_bounds"


def op_percentile_approx_group(spark, sf_dir):
    """Per-group approximate quantiles (percentile_approx, the
    mergeable-sketch scale path beside the exact op_percentile_group):
    sketch outputs differ engine-to-engine, so the gate emits the
    DETERMINISTIC rank-bound verdict per group — the approx median's
    exact rank must sit within the sketch's guaranteed rank error
    (1/accuracy) of n/2, plus 1 for ties. Oracle: every group TRUE."""
    qc = _qc(spark)
    li = _t(qc, sf_dir, "lineitem").df
    acc = 100
    approx = (li.groupBy("l_returnflag")
              .agg(F.percentile_approx("l_extendedprice", 0.5, acc)
                   .alias("apx"), F.count(F.lit(1)).alias("n")))
    ranked = (li.join(approx, "l_returnflag")
              .groupBy("l_returnflag")
              .agg(F.sum(F.when(F.col("l_extendedprice")
                                <= F.col("apx"), 1).otherwise(0))
                   .alias("rank_le"),
                   F.first("n").alias("n")))
    tol = F.col("n") / acc + 1
    return ranked.select(
        "l_returnflag",
        (F.abs(F.col("rank_le") - F.col("n") / 2) <= tol)
        .alias("within_rank_bound"))


def _percentile_approx_oracle() -> str:
    return ("SELECT l_returnflag, TRUE AS within_rank_bound "
            "FROM lineitem GROUP BY l_returnflag")


def op_rollup(spark, sf_dir):
    """Hierarchical grouping sets (parity-plus; SURVEY §2.4 notes the
    reference lacks rollup/cube)."""
    qc = _qc(spark)
    out = _t(qc, sf_dir, "lineitem").rollup(["l_returnflag", "l_linestatus"]) \
        .agg_sql("round(sum(l_quantity), 2) as sum_qty, count(*) as n")
    return out.df


_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
       count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def op_cube(spark, sf_dir):
    qc = _qc(spark)
    out = _t(qc, sf_dir, "orders").cube(["o_orderstatus", "o_orderpriority"]) \
        .agg_sql("count(*) as n, round(sum(o_totalprice), 0) as total")
    return out.df


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 0) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# ======================================================================
# streaming gates: the Structured Streaming verbs replayed to
# completion over the events corpus and compared to the batch/SQL
# answer — the driver-checkable face of streaming/stream.py (the
# pytest suite additionally pins multi-batch, late-data, and restart
# behavior that a replay-to-completion gate cannot).
# ======================================================================

def _stream_events_dir(spark, qc, sf_dir, tag="one"):
    """The events table written ONCE as a single parquet file — the
    deterministic streaming source (one file → one availableNow
    micro-batch, so batch composition never depends on file
    listing order)."""
    import os
    import tempfile
    d = os.path.join(tempfile.gettempdir(),
                     f"qs_stream_{tag}_" + sf_dir.strip("/").replace("/", "_"))
    if not os.path.isdir(d):
        qc.read_parquet(os.path.join(sf_dir, "events.parquet")) \
            .df.coalesce(1).write.parquet(d)
    return d


def _drain(df, mode="append", final_wm_batch=True):
    """Run a streaming DataFrame to completion (availableNow) into a
    uniquely-named memory sink; returns the sink table (static once
    the query terminates).

    Shuffle partitions are TRIMMED to 8 around query start: a
    streaming query pins its state-partition count at first start,
    and per-partition state-store open/commit dominates these bounded
    replays (measured at sf0.1: stream_join 4.7s at 32 partitions →
    2.4s at 8; RocksDB provider does NOT help — its JNI store startup
    costs what the HDFS-backed one does). At production scale the
    partition count should instead be sized to the key cardinality —
    this trim is a test-scale fit, results are partition-invariant.

    ``final_wm_batch=False`` (optimization round 13) additionally
    disables Spark's trailing no-data micro-batch for queries whose
    emission is EVENT-driven — inner stream-stream joins (matches
    emit in the data batch), dropDuplicatesWithinWatermark (keeps
    emit on arrival) and complete-mode aggregations (every batch
    re-emits full state): the extra batch only evicts state there,
    at the price of a full plan + state-store open/commit round per
    query (measured: stream_join −2.3s, stream_dedup −0.3s at
    sf0.1). Kernels whose EMISSION is watermark-driven (resample's
    tick flush, CEP/asof timeout flushes) MUST keep the default —
    the no-data batch is what wakes their keys behind the final
    watermark."""
    import uuid
    spark = df.sparkSession
    name = "qs_sink_" + uuid.uuid4().hex[:10]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_nodata = spark.conf.get(nodata_key)
    trim = str(min(int(old), 8))
    spark.conf.set("spark.sql.shuffle.partitions", trim)
    if not final_wm_batch:
        spark.conf.set(nodata_key, "false")
    try:
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode(mode).trigger(availableNow=True).start())
    finally:
        # the running query captured its partition count at start;
        # restore immediately so concurrent batch plans are untouched
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set(nodata_key, old_nodata)
    if not q.awaitTermination(600):
        # NEVER read a half-filled sink — that would surface as a
        # flaky oracle mismatch instead of a loud timeout
        q.stop()
        raise TimeoutError("streaming gate drain exceeded 600s")
    return spark.table(name)


def stream_tumbling(spark, sf_dir):
    """Streaming tumbling-window aggregation: the full events corpus
    replayed through withWatermark + window() under availableNow
    equals the batch GROUP BY hour — streaming/stream.py:25
    streaming_windowed_agg (complete mode: every window emitted
    regardless of final-watermark position, which is what makes a
    bounded replay comparable to batch)."""
    from quokka_spark.streaming.stream import streaming_windowed_agg
    from quokka_spark.windowtypes import TumblingWindow
    qc = _qc(spark)
    d = _stream_events_dir(spark, qc, sf_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(d).schema).parquet(d)
    agg = streaming_windowed_agg(
        stream, TumblingWindow("1h", {"n_events": "count(*)",
                                      "sum_value": "round(sum(value), 4)"}),
        "ts", "user_id", watermark="1 hour")
    out = _drain(agg, mode="complete", final_wm_batch=False)
    return out.select("user_id",
                      F.col("window.start").alias("window_start"),
                      "n_events", "sum_value")


_STREAM_TUMBLING_SQL = """
SELECT user_id, date_trunc('hour', ts) AS window_start,
       count(*) AS n_events, round(sum(value), 4) AS sum_value
FROM events GROUP BY user_id, date_trunc('hour', ts)
"""


def stream_dedup(spark, sf_dir):
    """Streaming exact dedup with bounded state
    (dropDuplicatesWithinWatermark, streaming/stream.py:48): over a
    single-batch replay the kept set is exactly one row per
    (user_id, event_type), so the key-level summary equals batch
    DISTINCT — while state stays O(keys within the watermark) on an
    unbounded stream."""
    from quokka_spark.streaming.stream import streaming_dedup_exact
    qc = _qc(spark)
    d = _stream_events_dir(spark, qc, sf_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(d).schema).parquet(d)
    kept = streaming_dedup_exact(stream, ["user_id", "event_type"],
                                 "ts", delay="10 minutes")
    out = _drain(kept, final_wm_batch=False)
    return out.groupBy("event_type") \
        .agg(F.count("*").alias("n_keys")) \
        .select("event_type", "n_keys")


_STREAM_DEDUP_SQL = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n_keys
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY event_type
"""


def stream_join(spark, sf_dir):
    """Watermarked stream-stream equi-join (streaming/stream.py:67
    streaming_join): views join purchases per user within ±10
    minutes; the time-range bound is what lets Spark evict join state
    behind the watermark on an unbounded stream. Single-batch replay
    → every qualifying pair is emitted, so the per-user pair count
    equals the batch range-join."""
    from quokka_spark.streaming.stream import streaming_join
    qc = _qc(spark)
    d = _stream_events_dir(spark, qc, sf_dir)
    schema = spark.read.parquet(d).schema
    views = spark.readStream.schema(schema).parquet(d) \
        .where("event_type = 'view'") \
        .select("user_id", "ts", "value")
    purchases = spark.readStream.schema(schema).parquet(d) \
        .where("event_type = 'purchase'") \
        .select("user_id", "ts", "value")
    joined = streaming_join(views, purchases, "user_id",
                            left_time="ts", right_time="ts",
                            watermark="1 minute",
                            max_delay="10 minutes")
    out = _drain(joined, final_wm_batch=False)
    return out.groupBy("user_id") \
        .agg(F.count("*").alias("n_pairs")) \
        .select("user_id", "n_pairs")


_STREAM_JOIN_SQL = """
SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_pairs
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts BETWEEN v.ts - INTERVAL 10 MINUTE
              AND v.ts + INTERVAL 10 MINUTE
GROUP BY v.user_id
"""


def stream_asof(spark, sf_dir):
    """Streaming backward as-of join (streaming/stream.py:330
    streaming_asof_join — the stateful union-tag kernel): purchases
    match the latest prior view per user. horizon=None keeps
    last-value state only; a single-batch replay reproduces batch
    join_asof exactly, so the oracle is the SAME DuckDB ASOF JOIN the
    batch gate uses."""
    from quokka_spark.streaming.stream import streaming_asof_join
    qc = _qc(spark)
    d = _stream_events_dir(spark, qc, sf_dir)
    schema = spark.read.parquet(d).schema
    trades = spark.readStream.schema(schema).parquet(d) \
        .where("event_type = 'purchase'") \
        .select("event_id", "ts", "user_id", "value")
    quotes = spark.readStream.schema(schema).parquet(d) \
        .where("event_type = 'view'") \
        .select("ts", "user_id", "value")
    out = streaming_asof_join(trades, quotes, "ts", "ts",
                              "user_id", "user_id",
                              right_vals=["value"], horizon=None)
    got = _drain(out)
    return got.select("event_id", "ts", "user_id",
                      F.round("value", 4).alias("value"),
                      F.round("value_2", 4).alias("value_2"))


def stream_cep(spark, sf_dir):
    """Streaming CEP (streaming/stream.py:419
    streaming_pattern_recognize — the batch NFA kernel run per key
    over a watermark-bounded buffer): the ts_cep_funnel pattern
    replayed as a stream emits the identical match set and numbering
    (exactly-once via start-row marks), so the oracle is the same
    collapsed correlated-min SQL."""
    from quokka_spark.streaming.stream import streaming_pattern_recognize
    qc = _qc(spark)
    d = _stream_events_dir(spark, qc, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d) \
        .withColumn("ts_sec",
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    / F.lit(1e6)) \
        .select("user_id", "ts", "ts_sec", "event_type", "value")
    pat = [("a", "a.event_type = 'signup'"),
           ("b", "b.event_type = 'click' and b.value > a.value"),
           ("c", "c.event_type = 'purchase'")]
    out = streaming_pattern_recognize(stream, "ts_sec", pat,
                                      maxspan=7 * 86400.0,
                                      by="user_id", wm_col="ts")
    got = _drain(out)
    return got.select("user_id", "event_number",
                      "first_event_timestamp", "last_event_timestamp")


def stream_resample(spark, sf_dir):
    """Streaming ffill-resample (streaming/stream.py:594
    streaming_resample — watermark-driven grid flush): ticks strictly
    below the replay's FINAL watermark (max event time − delay) have
    flushed when the availableNow drain ends, and each equals the
    batch backward-as-of fill; the oracle computes the same grid with
    the same cutoff."""
    from quokka_spark.streaming.stream import streaming_resample
    qc = _qc(spark)
    d = _stream_events_dir(spark, qc, sf_dir)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d) \
        .withColumn("ts_sec",
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    / F.lit(1e6)) \
        .select("user_id", "ts", "ts_sec", "value")
    out = streaming_resample(stream, "ts_sec", "user_id", ["value"],
                             3600.0, wm_col="ts", delay="10 minutes")
    got = _drain(out)
    return got.select("user_id",
                      F.round("tick", 6).alias("tick"),
                      F.round("value", 6).alias("value"))


def stream_src_delta(spark, sf_dir):
    """Streaming SOURCE from the lakehouse (streaming/delta_source —
    the reverse of the exactly-once sink): lineitem lands in a local
    Delta table as two append versions, the stream tails the log
    through the Python DataSource offsets (one per version, files
    read executor-side as Arrow batches) under availableNow, and the
    drained aggregate must equal plain lineitem."""
    import os
    import tempfile
    from quokka_spark.sources.delta_local import write_delta_local
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_srcstream_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(li)
        write_delta_local(src.where("l_orderkey % 2 = 0"), tbl)
        write_delta_local(src.where("l_orderkey % 2 = 1"), tbl,
                          mode="append")
        with open(done, "w") as fh:
            fh.write("ok")
    stream = qc.read_delta_stream(tbl) \
        .select("l_returnflag", "l_quantity")
    out = _drain(stream)
    return out.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_STREAM_SRC_DELTA_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


def stream_src_iceberg(spark, sf_dir):
    """Streaming SOURCE from an Iceberg table (streaming/
    iceberg_source — snapshot-position offsets, one partition per
    added data file): lineitem lands as two append snapshots, the
    stream tails them under availableNow, and the drained aggregate
    must equal plain lineitem."""
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import \
        create_local_iceberg_table
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_icesrc_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        t = pq.read_table(li)
        odd = pc.equal(pc.bit_wise_and(t.column("l_orderkey"), 1), 1)
        even_f = os.path.join(base, "even.parquet")
        odd_f = os.path.join(base, "odd.parquet")
        pq.write_table(t.filter(pc.invert(odd)), even_f)
        pq.write_table(t.filter(odd), odd_f)
        create_local_iceberg_table(
            tbl, [[even_f], [even_f, odd_f]],
            schema_fields=[(1, "l_orderkey", "long"),
                           (2, "l_partkey", "long"),
                           (3, "l_suppkey", "long"),
                           (4, "l_linenumber", "int"),
                           (5, "l_quantity", "double"),
                           (6, "l_extendedprice", "double"),
                           (7, "l_discount", "double"),
                           (8, "l_tax", "double"),
                           (9, "l_returnflag", "string"),
                           (10, "l_linestatus", "string"),
                           (11, "l_shipdate", "timestamp")])
        with open(done, "w") as fh:
            fh.write("ok")
    stream = qc.read_iceberg_stream(tbl) \
        .select("l_returnflag", "l_quantity")
    out = _drain(stream)
    return out.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_STREAM_SRC_ICEBERG_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag
"""


def stream_src_delta_partitioned(spark, sf_dir):
    """Streaming SOURCE from a PARTITIONED local Delta table (round
    9): partition values live in the LOG, not the files, so the
    stream rebuilds them per input partition as typed constant
    columns — the streaming twin of the batch reader's broadcast
    rejoin. lineitem lands partitioned by l_returnflag in two append
    versions; the availableNow drain aggregates BY THE PARTITION
    COLUMN, so a wrong/null rejoin cannot hash-match the oracle."""
    import os
    import tempfile

    from quokka_spark.sources.delta_local import write_delta_local
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_srcpart_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(li)
        write_delta_local(src.where("l_orderkey % 2 = 0"), tbl,
                          partition_by="l_returnflag")
        write_delta_local(src.where("l_orderkey % 2 = 1"), tbl,
                          mode="append")
        with open(done, "w") as fh:
            fh.write("ok")
    stream = qc.read_delta_stream(tbl) \
        .select("l_returnflag", "l_linestatus", "l_quantity")
    out = _drain(stream)
    return out.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"))


_STREAM_SRC_DELTA_PARTITIONED_SQL = """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def stream_src_delta_cm(spark, sf_dir):
    """Streaming SOURCE from a columnMapping.mode=name local Delta
    table (round 9): data files carry PHYSICAL column names ("c-1"
    style); the stream resolves them through the schema's
    physicalName metadata and yields the LOGICAL schema. The fixture
    writes lineitem's (l_returnflag, l_quantity, l_orderkey) under
    physical names via the mapped write path, then appends a second
    mapped version; drain == plain lineitem aggregate."""
    import json as _json
    import os
    import tempfile

    from quokka_spark.sources.delta_local import _commit, write_delta_local
    qc = _qc(spark)
    li = os.path.join(sf_dir, "lineitem.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_srccm_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        os.makedirs(tbl)
        schema = {"type": "struct", "fields": [
            {"name": "l_returnflag", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "c-1",
                          "delta.columnMapping.id": 1}},
            {"name": "l_quantity", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "c-2",
                          "delta.columnMapping.id": 2}},
            {"name": "l_orderkey", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.physicalName": "c-3",
                          "delta.columnMapping.id": 3}}]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {"id": "qs-cm-src",
                          "format": {"provider": "parquet",
                                     "options": {}},
                          "schemaString": _json.dumps(schema),
                          "partitionColumns": [],
                          "configuration": {
                              "delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
                          "createdTime": 0}}])
        src = spark.read.parquet(li) \
            .select("l_returnflag", "l_quantity", "l_orderkey")
        # the mapped write path renames logical→physical itself
        write_delta_local(src.where("l_orderkey % 2 = 0"), tbl,
                          mode="append")
        write_delta_local(src.where("l_orderkey % 2 = 1"), tbl,
                          mode="append")
        with open(done, "w") as fh:
            fh.write("ok")
    stream = qc.read_delta_stream(tbl)
    out = _drain(stream)
    return out.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.sum("l_orderkey").alias("sum_ok"))


_STREAM_SRC_DELTA_CM_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
FROM lineitem GROUP BY l_returnflag
"""


def stream_src_hudi(spark, sf_dir):
    """Streaming SOURCE from a Hudi MoR table (streaming/hudi_source
    — timeline-position offsets; base files + deltacommit log
    upserts, Hudi's incremental semantics fed into Structured
    Streaming): documents bulk-loads, one deltacommit updates every
    doc_id % 10 = 0 row (lang → 'xx'), and the drained stream carries
    the bases PLUS the log upserts — append-only, so updated keys
    appear twice, which the oracle reproduces with a UNION ALL."""
    import os
    import tempfile

    from quokka_spark.sources.hudi_local import (upsert_hudi_mor_local,
                                                 write_hudi_mor_local)
    qc = _qc(spark)
    docs = os.path.join(sf_dir, "documents.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_hudisrc_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        src = spark.read.parquet(docs)
        write_hudi_mor_local(src.repartition(2), tbl, recordkey="doc_id")
        upd = src.where("doc_id % 10 = 0").withColumn("lang", F.lit("xx"))
        upsert_hudi_mor_local(spark, tbl, upd)
        with open(done, "w") as fh:
            fh.write("ok")
    stream = qc.read_hudi_stream(tbl).select("doc_id", "lang", "n_chars")
    out = _drain(stream)
    return out.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("doc_id").alias("sum_id"),
        F.sum("n_chars").alias("sum_chars"))


_STREAM_SRC_HUDI_SQL = """
WITH s AS (
  SELECT doc_id, lang, n_chars FROM documents
  UNION ALL
  SELECT doc_id, 'xx', n_chars FROM documents WHERE doc_id % 10 = 0
)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(doc_id) AS BIGINT) AS sum_id,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM s GROUP BY lang
"""


def stream_sink_delta(spark, sf_dir):
    """Streaming ingestion INTO the lakehouse: the purchase events
    stream lands in a local Delta table through the exactly-once
    foreachBatch sink (streaming/stream.streaming_write_delta — txn
    handshake, redelivered batches skip), and the table read back
    must equal the batch filter. A _done marker written only after
    the drain finishes makes the cached fixture crash-safe."""
    import os
    import tempfile
    from quokka_spark.streaming.stream import streaming_write_delta
    qc = _qc(spark)
    d = _stream_events_dir(spark, qc, sf_dir)
    base = os.path.join(tempfile.gettempdir(),
                        "qs_sinkdelta_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        stream = spark.readStream.schema(
            spark.read.parquet(d).schema).parquet(d) \
            .where("event_type = 'purchase'") \
            .select("event_id", "ts", "user_id", "value")
        q = streaming_write_delta(stream, tbl,
                                  os.path.join(base, "chk")) \
            .trigger(availableNow=True).start()
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError("stream_sink_delta drain exceeded 600s")
        with open(done, "w") as fh:
            fh.write("ok")
    ds = qc.read_delta(tbl)
    return ds.df.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"))


_STREAM_SINK_DELTA_SQL = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 4) AS sum_value
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


def _sink_gate(spark, sf_dir, tag, sink_fn, read_back):
    """Shared fixture driver for the exactly-once sink trio: the
    purchase stream lands through ``sink_fn`` (foreachBatch +
    idempotence handshake), and the table read back must equal the
    batch filter — same oracle as stream_sink_delta."""
    import os
    import tempfile
    qc = _qc(spark)
    d = _stream_events_dir(spark, qc, sf_dir)
    base = os.path.join(tempfile.gettempdir(),
                        f"qs_{tag}_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        stream = spark.readStream.schema(
            spark.read.parquet(d).schema).parquet(d) \
            .where("event_type = 'purchase'") \
            .select("event_id", "user_id", "value")
        q = sink_fn(stream, tbl, os.path.join(base, "chk")) \
            .trigger(availableNow=True).start()
        if not q.awaitTermination(600):
            q.stop()
            raise TimeoutError(f"{tag} drain exceeded 600s")
        with open(done, "w") as fh:
            fh.write("ok")
    return read_back(qc, tbl).groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"))


def stream_sink_iceberg(spark, sf_dir):
    """Exactly-once streaming ingestion INTO a local Iceberg table
    (round 9 — streaming/stream.streaming_write_iceberg): the
    idempotence handshake rides each snapshot's summary map; the
    first batch creates the table. Read-back must equal the batch
    filter."""
    from quokka_spark.streaming.stream import streaming_write_iceberg
    return _sink_gate(spark, sf_dir, "sinkice", streaming_write_iceberg,
                      lambda qc, t: qc.read_iceberg(t).df)


def stream_sink_hudi(spark, sf_dir):
    """Exactly-once streaming ingestion INTO a local Hudi CoW table
    (round 9 — streaming/stream.streaming_write_hudi): the handshake
    rides the commit extraMetadata map, where real Hudi writers store
    streaming checkpoints. Read-back must equal the batch filter."""
    from quokka_spark.streaming.stream import streaming_write_hudi
    return _sink_gate(spark, sf_dir, "sinkhudi", streaming_write_hudi,
                      lambda qc, t: qc.read_hudi(t).df)


_STREAM_RESAMPLE_SQL = """
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS ts_sec,
         value
  FROM events
), b AS (
  SELECT user_id, min(ts_sec) AS mn, max(ts_sec) AS mx
  FROM e GROUP BY user_id
), grid AS (
  SELECT user_id, 3600.0 * g AS tick
  FROM b, unnest(generate_series(CAST(ceil(mn / 3600.0) AS BIGINT),
                                 CAST(floor(mx / 3600.0) AS BIGINT)))
          AS t(g)
  WHERE mx >= mn
), back AS (
  SELECT g.user_id, g.tick, o.value AS v0
  FROM grid g ASOF LEFT JOIN e o
    ON g.user_id = o.user_id AND o.ts_sec <= g.tick
)
SELECT user_id, round(tick, 6) AS tick, round(v0, 6) AS value
FROM back
WHERE tick < (SELECT max(ts_sec) FROM e) - 600.0
"""


# ======================================================================
# registry
# ======================================================================

def src_lance(spark, sf_dir):
    """read_lance capability gate: the lancelike Python DataSource scan
    (sources/lancelike.py — fragment-per-partition; reference
    df.py:564-652) over the embeddings table, summarized to scalar
    columns the oracle can hash (dim + rounded L2 norm per vector)."""
    qc = _qc(spark)
    ds = qc.read_lance(f"{sf_dir}/embeddings.parquet", vec_column="embedding")
    sq = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    return ds.df.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(F.aggregate(sq, F.lit(0.0), lambda a, x: a + x)), 4)
        .alias("norm"))


_SRC_LANCE_SQL = """
SELECT vec_id, len(embedding) AS dim,
       round(sqrt(list_sum(list_transform(
           embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS norm
FROM embeddings
"""


def op_join_outer_condition(spark, sf_dir):
    """Full-outer join with an equi key + extra condition: right-only
    rows must keep their key through the single coalesced key column
    (the round-3 advice fix in datastream.join)."""
    qc = _qc(spark)
    left = _t(qc, sf_dir, "nation").filter_sql("n_regionkey < 3") \
        .with_columns({"k": "n_regionkey",
                       "x": "cast(n_nationkey as double)"}) \
        .select(["k", "x"])
    right = _t(qc, sf_dir, "region") \
        .with_columns({"k": "r_regionkey",
                       "y": "cast(length(r_name) as double)"}) \
        .select(["k", "y"])
    out = left.join(right, on="k", condition="y > x", how="outer")
    return out.df.select("k", "x", "y")


_JOIN_OUTER_COND_SQL = """
WITH l AS (SELECT n_regionkey AS k, CAST(n_nationkey AS DOUBLE) AS x
           FROM nation WHERE n_regionkey < 3),
     r AS (SELECT r_regionkey AS k, CAST(length(r_name) AS DOUBLE) AS y
           FROM region)
SELECT coalesce(l.k, r.k) AS k, x, y
FROM l FULL JOIN r ON l.k = r.k AND r.y > l.x
"""


def src_delta_constraints(spark, sf_dir):
    """Evaluated write-time features, end-to-end (round 11 —
    delta_local._apply_identity_columns → _apply_generated_columns →
    _validate_constraints): the table declares a CHECK constraint
    (o_totalprice >= 0), a GENERATED column (op_year =
    year(o_orderdate)) and an IDENTITY column (rid, start 1 step 1).
    The append provides NONE of them beyond the base columns — the
    writer computes op_year, allocates rid densely, validates the
    constraint, and commits the advanced high-water mark with the
    data. The read groups by o_orderstatus over the COMPUTED column;
    the dense rid allocation surfaces as max(rid) == row count
    (value-set deterministic), checked via a global max broadcast
    onto every group row."""
    import json as _json
    import os
    import tempfile

    from quokka_spark.sources.delta_local import (_commit,
                                                  write_delta_local)
    qc = _qc(spark)
    orders = os.path.join(sf_dir, "orders.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_cons_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(tbl, exist_ok=True)
        schema = {"type": "struct", "fields": [
            {"name": "o_orderkey", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "o_orderstatus", "type": "string",
             "nullable": True, "metadata": {}},
            {"name": "o_totalprice", "type": "double",
             "nullable": True, "metadata": {}},
            {"name": "o_orderdate", "type": "timestamp",
             "nullable": True, "metadata": {}},
            {"name": "op_year", "type": "integer", "nullable": True,
             "metadata": {"delta.generationExpression":
                          "year(o_orderdate)"}},
            {"name": "rid", "type": "long", "nullable": True,
             "metadata": {"delta.identity.start": 1,
                          "delta.identity.step": 1}}]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 1,
                          "minWriterVersion": 6}},
            {"metaData": {
                "id": "cons", "format": {"provider": "parquet",
                                         "options": {}},
                "schemaString": _json.dumps(schema),
                "partitionColumns": [],
                "configuration": {
                    "delta.constraints.price_nonneg":
                        "o_totalprice >= 0"},
                "createdTime": 0}}])
        src = qc.read_parquet(orders).df \
            .where("o_orderkey % 5 = 0") \
            .select("o_orderkey", "o_orderstatus", "o_totalprice",
                    F.col("o_orderdate").cast("timestamp")
                    .alias("o_orderdate"))
        write_delta_local(src, tbl, mode="append")
        with open(done, "w") as fh:
            fh.write("ok")
    df = qc.read_delta(tbl).df
    total = df.groupBy().agg(F.max("rid").alias("max_rid"))
    return (df.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"),
                 F.sum("op_year").alias("sum_year"))
            .crossJoin(F.broadcast(total))
            .select("o_orderstatus", "n", "sum_year", "max_rid"))


_SRC_DELTA_CONSTRAINTS_SQL = """
WITH s AS (SELECT * FROM orders WHERE o_orderkey % 5 = 0)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(year(o_orderdate)) AS BIGINT) AS sum_year,
       (SELECT CAST(count(*) AS BIGINT) FROM s) AS max_rid
FROM s GROUP BY o_orderstatus
"""


def src_iceberg_dv(spark, sf_dir):
    """Iceberg format-v3 DELETION VECTORS end-to-end (round 11 —
    sources/puffin.py + iceberg_local.add_deletion_vectors + the
    executor-side blob decode): customer bulk-loads as a v2 table,
    then a DV commit (puffin deletion-vector-v1 blob, portable
    roaring64, CRC-validated) deletes every c_custkey % 7 = 0 row
    and stamps the table format-version 3 — the snapshot read must
    anti-join those positions exactly; a second superseding DV adds
    c_custkey % 11 = 0 (merged per the spec's replacement rule)."""
    import os
    import tempfile

    import pyarrow.parquet as _pq
    from quokka_spark.sources.iceberg_local import (
        add_deletion_vectors, create_local_iceberg_table)
    qc = _qc(spark)
    cust = os.path.join(sf_dir, "customer.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_icedv_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        create_local_iceberg_table(
            tbl, [[cust]],
            schema_fields=[(1, "c_custkey", "long"),
                           (2, "c_name", "string"),
                           (3, "c_nationkey", "long"),
                           (4, "c_acctbal", "double"),
                           (5, "c_mktsegment", "string")])
        keys = _pq.read_table(cust, columns=["c_custkey"]) \
            .column("c_custkey").to_pylist()
        add_deletion_vectors(tbl, {
            cust: [i for i, k in enumerate(keys) if k % 7 == 0]})
        add_deletion_vectors(tbl, {
            cust: [i for i, k in enumerate(keys) if k % 11 == 0]})
        with open(done, "w") as fh:
            fh.write("ok")
    return (qc.read_iceberg(tbl).df
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_bal")))


_SRC_ICEBERG_DV_SQL = """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       round(sum(c_acctbal), 2) AS sum_bal
FROM customer WHERE c_custkey % 7 <> 0 AND c_custkey % 11 <> 0
GROUP BY c_mktsegment
"""


def src_iceberg_dv_cdf(spark, sf_dir):
    """The change stream over v3 DV commits (round 11 —
    read_iceberg_changes' cur-minus-parent blob diff): on the
    src_iceberg_dv fixture, the SECOND (superseding) DV commit must
    emit exactly the c_custkey %11 rows not already dead under %7 —
    a phantom re-delete of the %7 rows the new blob re-lists would
    double-count them."""
    import os
    import tempfile
    qc = _qc(spark)
    # build (or reuse) the src_iceberg_dv fixture
    src_iceberg_dv(spark, sf_dir)
    base = os.path.join(tempfile.gettempdir(),
                        "qs_icedv_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    from quokka_spark.sources.iceberg_local import _read_table_metadata
    sids = [s["snapshot-id"] for s in
            _read_table_metadata(tbl)["snapshots"]]
    ch = qc.read_iceberg_changes(tbl, sids[-1], sids[-1]).df
    return ch.groupBy("_change_type").agg(
        F.count("*").alias("n"),
        F.sum("c_custkey").alias("sum_key"))


_SRC_ICEBERG_DV_CDF_SQL = """
SELECT 'delete' AS _change_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(c_custkey) AS BIGINT) AS sum_key
FROM customer WHERE c_custkey % 11 = 0 AND c_custkey % 7 <> 0
"""


def src_iceberg_refs(spark, sf_dir):
    """Named snapshot references (round 11 — spec §Snapshot
    References; iceberg_local.set_iceberg_ref / snapshot_for_ref):
    supplier loads in two snapshots (low keys, then the rest); a TAG
    pins the first; read_iceberg(ref=) must serve exactly the tagged
    snapshot's rows even after a later commit (a position delete
    against the CURRENT snapshot) — refs survive the commit and time
    travel to the tag ignores the later delete."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import (
        add_position_deletes, append_snapshot,
        create_local_iceberg_table, set_iceberg_ref)
    qc = _qc(spark)
    sup = os.path.join(sf_dir, "supplier.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_refs_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        t = pq.read_table(sup, columns=[
            "s_suppkey", "s_nationkey", "s_acctbal"])
        cut = pc.less(t.column("s_suppkey"),
                      pa.scalar(50, type=t.schema.field(
                          "s_suppkey").type))
        lo = os.path.join(base, "lo.parquet")
        hi = os.path.join(base, "hi.parquet")
        pq.write_table(t.filter(cut), lo)
        pq.write_table(t.filter(pc.invert(cut)), hi)
        (s1,) = create_local_iceberg_table(
            tbl, [[lo]],
            schema_fields=[(1, "s_suppkey", "long"),
                           (2, "s_nationkey", "long"),
                           (3, "s_acctbal", "double")])
        append_snapshot(tbl, [hi])
        set_iceberg_ref(tbl, "v1", s1, kind="tag")
        # later commit: deletes the first row of lo from the
        # CURRENT snapshot — the tag must still see it
        add_position_deletes(tbl, {lo: [0]})
        with open(done, "w") as fh:
            fh.write("ok")
    return (qc.read_iceberg(tbl, ref="v1").df
            .groupBy("s_nationkey")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("s_acctbal"), 2).alias("sum_bal")))


_SRC_ICEBERG_REFS_SQL = """
SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n,
       round(sum(s_acctbal), 2) AS sum_bal
FROM supplier WHERE s_suppkey < 50
GROUP BY s_nationkey
"""


def src_iceberg_lineage(spark, sf_dir):
    """Iceberg format-v3 ROW LINEAGE (round 12 — spec §Row Lineage;
    iceberg_local create/commit emit next-row-id, snapshot
    first-row-id and explicit per-file first_row_id ranges; the
    reader serves _row_id = first_row_id + row position and
    _last_updated_sequence_number = the file's data sequence):
    customer splits into even keys (snapshot 1, row ids [0, n_even),
    seq 1) and odd keys (snapshot 2, ids continue, seq 2), both
    key-sorted so each row's position is its key rank; a v3 DELETION
    VECTOR then kills the even c_custkey % 7 = 0 rows — survivors
    must keep their ORIGINAL row ids (lineage is stable under
    deletes and the DV commit). Aggregates sum the lineage
    columns per key group so any renumbering or seq drift
    hash-mismatches."""
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import (
        add_deletion_vectors, create_local_iceberg_table)
    qc = _qc(spark)
    cust = os.path.join(sf_dir, "customer.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_lineage_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        t = pq.read_table(cust, columns=[
            "c_custkey", "c_nationkey", "c_acctbal"])
        t = t.sort_by("c_custkey")
        even = pc.equal(pc.bit_wise_and(t.column("c_custkey"), 1), 0)
        fe = os.path.join(base, "even.parquet")
        fo = os.path.join(base, "odd.parquet")
        pq.write_table(t.filter(even), fe)
        pq.write_table(t.filter(pc.invert(even)), fo)
        create_local_iceberg_table(
            tbl, [[fe], [{"path": fe, "seq": 1}, fo]],
            schema_fields=[(1, "c_custkey", "long"),
                           (2, "c_nationkey", "long"),
                           (3, "c_acctbal", "double")],
            format_version=3)
        ekeys = pq.read_table(fe, columns=["c_custkey"]) \
            .column("c_custkey").to_pylist()
        add_deletion_vectors(tbl, {
            fe: [i for i, k in enumerate(ekeys) if k % 7 == 0]})
        with open(done, "w") as fh:
            fh.write("ok")
    return (qc.read_iceberg(tbl, with_lineage=True).df
            .groupBy((F.col("c_custkey") % 3).alias("g"))
            .agg(F.count("*").alias("n"),
                 F.sum("_row_id").alias("sum_rid"),
                 F.sum("_last_updated_sequence_number").alias("sum_seq"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_bal")))


_SRC_ICEBERG_LINEAGE_SQL = """
WITH evens AS (
  SELECT c_custkey, c_acctbal,
         row_number() OVER (ORDER BY c_custkey) - 1 AS rid
  FROM customer WHERE c_custkey % 2 = 0),
odds AS (
  SELECT c_custkey, c_acctbal,
         row_number() OVER (ORDER BY c_custkey) - 1
         + (SELECT count(*) FROM evens) AS rid
  FROM customer WHERE c_custkey % 2 = 1),
live AS (
  SELECT c_custkey, c_acctbal, rid, 1 AS seq FROM evens
  WHERE c_custkey % 7 <> 0
  UNION ALL
  SELECT c_custkey, c_acctbal, rid, 2 AS seq FROM odds)
SELECT c_custkey % 3 AS g, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(rid) AS BIGINT) AS sum_rid,
       CAST(sum(seq) AS BIGINT) AS sum_seq,
       round(sum(c_acctbal), 2) AS sum_bal
FROM live GROUP BY g
"""


def src_iceberg_defaults(spark, sf_dir):
    """Iceberg v3 initial-DEFAULT values (round 12 — spec §Default
    values; iceberg_local._field_defaults + the per-file presence
    split in _live_df): customer loads in two snapshots — the FIRST
    file predates the c_mktsegment column (written without it), the
    second carries it with real values — and the schema declares
    initial-default 'LEGACY'. The read must serve 'LEGACY' for every
    pre-evolution row (null-filling would collapse them into the
    NULL group) and the stored segments for the rest."""
    import json as _json
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import \
        create_local_iceberg_table
    qc = _qc(spark)
    cust = os.path.join(sf_dir, "customer.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_icedef_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        t = pq.read_table(cust, columns=[
            "c_custkey", "c_acctbal", "c_mktsegment"])
        even = pc.equal(pc.bit_wise_and(t.column("c_custkey"), 1), 0)
        fe = os.path.join(base, "pre_evolution.parquet")
        fo = os.path.join(base, "post_evolution.parquet")
        pq.write_table(t.filter(even).drop_columns(["c_mktsegment"]),
                       fe)
        pq.write_table(t.filter(pc.invert(even)), fo)
        create_local_iceberg_table(
            tbl, [[fe], [{"path": fe, "seq": 1}, fo]],
            schema_fields=[(1, "c_custkey", "long"),
                           (2, "c_acctbal", "double"),
                           (3, "c_mktsegment", "string")],
            format_version=3)
        # stamp the default the way a foreign ADD COLUMN ... DEFAULT
        # writer records it (the fixture builder has no
        # evolution-with-default API)
        mdir = os.path.join(tbl, "metadata")
        mfile = sorted(f for f in os.listdir(mdir)
                       if f.endswith(".metadata.json"))[-1]
        with open(os.path.join(mdir, mfile)) as fh:
            m = _json.load(fh)
        for f in m["schemas"][0]["fields"]:
            if f["name"] == "c_mktsegment":
                f["initial-default"] = "LEGACY"
        with open(os.path.join(mdir, mfile), "w") as fh:
            fh.write(_json.dumps(m))
        with open(done, "w") as fh:
            fh.write("ok")
    return (qc.read_iceberg(tbl).df
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_bal")))


_SRC_ICEBERG_DEFAULTS_SQL = """
SELECT CASE WHEN c_custkey % 2 = 0 THEN 'LEGACY'
            ELSE c_mktsegment END AS c_mktsegment,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(c_acctbal), 2) AS sum_bal
FROM customer GROUP BY 1
"""


def _bind_fs_iceberg_catalog(root: str) -> str:
    """Bind the pyiceberg DEFAULT catalog to a filesystem warehouse
    at ``root`` so the package's catalog write path
    (iceberg_catalog.write_iceberg_catalog) and catalog read path
    (read_iceberg_catalog) can run in this container. With the real
    pyiceberg package importable, configures a sqlite-backed ``sql``
    catalog through the documented PYICEBERG_CATALOG__ env vars and
    returns 'pyiceberg'. Without it (this container), installs a
    minimal filesystem-catalog SHIM into sys.modules whose table
    state IS a real local Iceberg table directory under
    ``root/<identifier>`` — add_files / the overwrite transaction
    commit through iceberg_local's spec-shaped metadata writer, and
    scan().plan_files() serves the live file set from that same
    metadata — so the package's write machinery and BOTH readers
    (catalog-planned scan and local-directory metadata reader) run
    unmodified; only the pyiceberg client object is substituted.
    Returns 'shim' then. Mirrors tests/_install_fake_pyiceberg's
    public surface, but with durable on-disk state."""
    import os
    import sys
    import types
    # an earlier entry in this process may have installed the shim —
    # its module would satisfy the import probe below, so check first
    if "pyiceberg" in sys.modules and getattr(
            sys.modules["pyiceberg"], "_qs_fs_root", None) is not None:
        sys.modules["pyiceberg"]._qs_fs_root = root
        return "shim"
    try:
        import pyiceberg  # noqa: F401
        os.environ["PYICEBERG_CATALOG__DEFAULT__TYPE"] = "sql"
        os.environ["PYICEBERG_CATALOG__DEFAULT__URI"] = \
            f"sqlite:///{root}/catalog.db"
        os.environ["PYICEBERG_CATALOG__DEFAULT__WAREHOUSE"] = \
            f"file://{root}"
        return "pyiceberg"
    except ImportError:
        pass

    def _infer_fields(path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        def ice(t):
            if pa.types.is_int64(t):
                return "long"
            if pa.types.is_integer(t):
                return "int"
            if pa.types.is_float64(t):
                return "double"
            if pa.types.is_float32(t):
                return "float"
            if pa.types.is_boolean(t):
                return "boolean"
            if pa.types.is_date(t):
                return "date"
            if pa.types.is_timestamp(t):
                return "timestamp"
            return "string"
        sch = pq.read_schema(path)
        return [(i + 1, f.name, ice(f.type))
                for i, f in enumerate(sch)]

    class _Tbl:
        def __init__(self, path):
            self._path = path

        def location(self):
            return self._path

        def _meta(self):
            from quokka_spark.sources.iceberg_local import \
                _read_table_metadata
            return _read_table_metadata(self._path)

        def _exists(self):
            return os.path.isdir(os.path.join(self._path, "metadata"))

        def spec(self):
            fields = []
            if self._exists():
                m = self._meta()
                sid = m.get("default-spec-id", 0)
                for s in m.get("partition-specs", []):
                    if s.get("spec-id", 0) == sid:
                        fields = [types.SimpleNamespace(**{
                            "name": f.get("name"),
                            "transform": f.get("transform", "identity"),
                            "source_id": f.get("source-id"),
                            "field_id": f.get("field-id")})
                            for f in s.get("fields", [])]
            return types.SimpleNamespace(fields=fields)

        def schema(self):
            from quokka_spark.sources.iceberg_local import \
                _current_schema

            def ftype(t):
                # struct types surface as objects exposing .fields
                # (pyiceberg's StructType shape); primitives as their
                # spec string
                if isinstance(t, dict) and t.get("type") == "struct":
                    return types.SimpleNamespace(
                        fields=[mk(sub) for sub in
                                t.get("fields", [])])
                return str(t)

            def mk(f):
                ns = types.SimpleNamespace(
                    name=f.get("name"), field_type=ftype(f.get("type")),
                    field_id=int(f["id"]) if "id" in f else None)
                # v3 defaults must surface like pyiceberg surfaces
                # them — the catalog reader SERVES initial-defaults
                # (round 13); hiding them here would null-fill
                if "initial-default" in f:
                    ns.initial_default = f["initial-default"]
                if "write-default" in f:
                    ns.write_default = f["write-default"]
                return ns
            flds = _current_schema(self._meta()).get("fields", [])
            return types.SimpleNamespace(fields=[mk(f) for f in flds])

        @property
        def metadata(self):
            m = self._meta() if self._exists() else {}
            snaps = [types.SimpleNamespace(
                snapshot_id=int(s["snapshot-id"]),
                timestamp_ms=int(s.get("timestamp-ms", 0)))
                for s in m.get("snapshots", [])]
            refs = {name: types.SimpleNamespace(
                snapshot_id=int(r["snapshot-id"]))
                for name, r in (m.get("refs") or {}).items()}
            return types.SimpleNamespace(
                snapshots=snaps, snapshot_log=[], refs=refs)

        def _commit(self, files, replace=False):
            from quokka_spark.sources.iceberg_local import (
                commit_snapshot, create_local_iceberg_table)
            files = [p.removeprefix("file://") for p in files]
            if not self._exists():
                create_local_iceberg_table(
                    self._path, [files],
                    schema_fields=_infer_fields(files[0]))
                return
            part_fields = [(f.name, f.source_id)
                           for f in self.spec().fields]
            if part_fields:
                # pyiceberg's add_files contract on identity
                # partitions: each file's column statistics must be
                # VALUE-PURE (min == max); the inferred value becomes
                # the manifest partition record. Same inference here,
                # from the parquet footers — KB of metadata per file.
                import pyarrow.parquet as pq
                items = []
                for p in files:
                    md = pq.read_metadata(p)
                    part = {}
                    for name, _sid in part_fields:
                        lo = hi = None
                        for rg in range(md.num_row_groups):
                            row = md.row_group(rg)
                            for ci in range(row.num_columns):
                                col = row.column(ci)
                                if col.path_in_schema != name:
                                    continue
                                st = col.statistics
                                if st is None or not st.has_min_max:
                                    raise ValueError(
                                        f"fs-catalog shim: {p} has "
                                        f"no statistics for "
                                        f"partition column {name}")
                                lo = st.min if lo is None \
                                    else min(lo, st.min)
                                hi = st.max if hi is None \
                                    else max(hi, st.max)
                        if lo is None or lo != hi:
                            raise ValueError(
                                f"fs-catalog shim: staged file {p} "
                                f"is not value-pure on partition "
                                f"column {name} (min={lo!r}, "
                                f"max={hi!r}) — add_files would "
                                "refuse it")
                        part[name] = lo
                    items.append({"path": p, "partition": part})
                commit_snapshot(self._path, add_files=items,
                                replace=replace)
                return
            commit_snapshot(self._path, add_files=files,
                            replace=replace)

        def add_files(self, file_paths):
            self._commit(list(file_paths))

        def transaction(self):
            tbl = self

            class Tx:
                def __init__(self):
                    self.deleted = False
                    self.staged: list = []

                def delete(self, expr):
                    self.deleted = True

                def add_files(self, file_paths):
                    self.staged += list(file_paths)

                def commit_transaction(self):
                    tbl._commit(self.staged, replace=self.deleted)
            return Tx()

        def scan(self, snapshot_id=None, row_filter=None, **kw):
            # plan-everything: read_iceberg_catalog re-applies every
            # filter row-level, so skipping pushdown stays exact
            from quokka_spark.sources.iceberg_local import \
                snapshot_files_full
            data, pos, eq = snapshot_files_full(self._path,
                                                snapshot_id)
            if eq:
                raise NotImplementedError(
                    "fs-catalog shim: equality deletes not planned — "
                    "read the table directory")
            deletes = [types.SimpleNamespace(
                file_path=p, content=1, equality_ids=None,
                file_format="PARQUET", referenced_data_file=None,
                content_offset=None, content_size_in_bytes=None)
                for p in pos]
            tasks = [types.SimpleNamespace(
                file=types.SimpleNamespace(file_path=d["path"]),
                delete_files=list(deletes)) for d in data]
            return types.SimpleNamespace(plan_files=lambda: tasks)

    class _Cat:
        def __init__(self, root):
            self._root = root

        def load_table(self, ident):
            return _Tbl(os.path.join(self._root, ident))

    pi = types.ModuleType("pyiceberg")
    pi._qs_fs_root = root
    cat_mod = types.ModuleType("pyiceberg.catalog")
    cat_mod.load_catalog = \
        lambda *a, **kw: _Cat(sys.modules["pyiceberg"]._qs_fs_root)
    pi.catalog = cat_mod
    expr_mod = types.ModuleType("pyiceberg.expressions")
    expr_mod.AlwaysTrue = lambda: True
    pi.expressions = expr_mod
    sys.modules["pyiceberg"] = pi
    sys.modules["pyiceberg.catalog"] = cat_mod
    sys.modules["pyiceberg.expressions"] = expr_mod
    return "shim"


def src_iceberg_catalog_write(spark, sf_dir):
    """Iceberg CATALOG writes (round 13 — round-12 verdict #2;
    iceberg_catalog.write_iceberg_catalog, the round-12 parity-plus
    headline: the reference only READS catalog tables, df.py:802-832).
    Lifecycle on a supplier projection: two ``add_files`` APPEND
    commits (low keys, then the rest) followed by one atomic
    delete-all + add_files OVERWRITE transaction keeping the even
    keys — Spark stages the parquet distributed under the table's
    own location, pyiceberg only registers file paths. Read-back
    crosses THREE surfaces and unions them: the catalog-planned scan
    at the PRE-overwrite snapshot (both appends visible — snapshot
    ids come from the catalog metadata, never hardcoded), the
    catalog-planned scan at current (overwrite wins), and the
    local-directory metadata reader over the same table location —
    any drift between registration, snapshot lineage, and on-disk
    state hash-mismatches. pyiceberg absent (this container): the
    fixture binds a filesystem-catalog shim whose durable state is a
    real Iceberg table directory, so the package write path and both
    readers run unmodified; pyiceberg importable: a real
    sqlite-backed sql catalog serves the same flow."""
    import json as _json
    import os
    import tempfile

    from quokka_spark.datastream import DataStream
    qc = _qc(spark)
    base = os.path.join(tempfile.gettempdir(),
                        "qs_catw_" + sf_dir.strip("/").replace("/", "_"))
    root = os.path.join(base, "warehouse")
    ident = "db.sup"
    done = os.path.join(base, "_done")
    _bind_fs_iceberg_catalog(root)
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        mode = _bind_fs_iceberg_catalog(root)
        _cat_create_supplier(mode, root, ident, partitioned=False)
        sup = _t(qc, sf_dir, "supplier").df.select(
            "s_suppkey", "s_nationkey", "s_acctbal")
        DataStream(qc, sup.where("s_suppkey < 100")).write_iceberg(
            ident, catalog="default")
        DataStream(qc, sup.where("s_suppkey >= 100")).write_iceberg(
            ident, catalog="default")
        from pyiceberg.catalog import load_catalog
        snaps = load_catalog("default").load_table(ident) \
            .metadata.snapshots
        sid2 = int(snaps[-1].snapshot_id)
        DataStream(qc, sup.where("s_suppkey % 2 = 0")).write_iceberg(
            ident, catalog="default", mode="overwrite")
        with open(done, "w") as fh:
            fh.write(_json.dumps({"sid2": sid2}))
    with open(done) as fh:
        sid2 = _json.load(fh)["sid2"]
    tdir = os.path.join(root, ident)

    def agg(df, via):
        return (df.groupBy("s_nationkey")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("s_acctbal"), 2).alias("sum_bal"))
                .withColumn("via", F.lit(via)))
    return (agg(qc.read_iceberg(ident, snapshot=sid2).df,
                "catalog_snap")
            .unionByName(agg(qc.read_iceberg(ident).df, "catalog"))
            .unionByName(agg(qc.read_iceberg(tdir).df, "dir")))


_SRC_ICEBERG_CATALOG_WRITE_SQL = """
SELECT via, s_nationkey, n, sum_bal FROM (
  SELECT 'catalog_snap' AS via, s_nationkey,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(s_acctbal), 2) AS sum_bal
  FROM supplier GROUP BY s_nationkey
  UNION ALL
  SELECT 'catalog', s_nationkey, CAST(count(*) AS BIGINT),
         round(sum(s_acctbal), 2)
  FROM supplier WHERE s_suppkey % 2 = 0 GROUP BY s_nationkey
  UNION ALL
  SELECT 'dir', s_nationkey, CAST(count(*) AS BIGINT),
         round(sum(s_acctbal), 2)
  FROM supplier WHERE s_suppkey % 2 = 0 GROUP BY s_nationkey)
"""


def src_iceberg_catalog_defaults(spark, sf_dir):
    """Iceberg v3 initial-defaults served through the CATALOG-planned
    scan (round 13 — iceberg_catalog.read_iceberg_catalog's
    _apply_defaults path, previously a blanket typed refusal): the
    same pre-/post-evolution customer split as src_iceberg_defaults
    (first file predates c_mktsegment; initial-default 'LEGACY'),
    read BOTH through the catalog reader (pyiceberg-planned files +
    the shared footer-presence split) and the local-directory
    metadata reader, unioned — a catalog path that null-fills
    pre-evolution rows collapses them into the NULL group and
    hash-mismatches."""
    import json as _json
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.iceberg_local import \
        create_local_iceberg_table
    qc = _qc(spark)
    cust = os.path.join(sf_dir, "customer.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_catdef_" + sf_dir.strip("/").replace("/", "_"))
    root = os.path.join(base, "warehouse")
    ident = "db.defs"
    tbl = os.path.join(root, ident)
    done = os.path.join(base, "_done")
    _bind_fs_iceberg_catalog(root)
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        _bind_fs_iceberg_catalog(root)
        t = pq.read_table(cust, columns=[
            "c_custkey", "c_acctbal", "c_mktsegment"])
        even = pc.equal(pc.bit_wise_and(t.column("c_custkey"), 1), 0)
        fe = os.path.join(base, "pre_evolution.parquet")
        fo = os.path.join(base, "post_evolution.parquet")
        pq.write_table(t.filter(even).drop_columns(["c_mktsegment"]),
                       fe)
        pq.write_table(t.filter(pc.invert(even)), fo)
        create_local_iceberg_table(
            tbl, [[fe], [{"path": fe, "seq": 1}, fo]],
            schema_fields=[(1, "c_custkey", "long"),
                           (2, "c_acctbal", "double"),
                           (3, "c_mktsegment", "string")],
            format_version=3)
        mdir = os.path.join(tbl, "metadata")
        mfile = sorted(f for f in os.listdir(mdir)
                       if f.endswith(".metadata.json"))[-1]
        with open(os.path.join(mdir, mfile)) as fh:
            m = _json.load(fh)
        for f in m["schemas"][0]["fields"]:
            if f["name"] == "c_mktsegment":
                f["initial-default"] = "LEGACY"
        with open(os.path.join(mdir, mfile), "w") as fh:
            fh.write(_json.dumps(m))
        with open(done, "w") as fh:
            fh.write("ok")

    def agg(df, via):
        return (df.groupBy("c_mktsegment")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
                .withColumn("via", F.lit(via)))
    return (agg(qc.read_iceberg(ident).df, "catalog")
            .unionByName(agg(qc.read_iceberg(tbl).df, "dir")))


_SRC_ICEBERG_CATALOG_DEFAULTS_SQL = """
WITH g AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN 'LEGACY'
              ELSE c_mktsegment END AS c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(c_acctbal), 2) AS sum_bal
  FROM customer GROUP BY 1)
SELECT c_mktsegment, n, sum_bal, via FROM (
  SELECT g.*, 'catalog' AS via FROM g
  UNION ALL SELECT g.*, 'dir' FROM g)
"""


def _cat_create_supplier(mode: str, root: str, ident: str,
                         partitioned: bool) -> None:
    """Create the supplier projection table ``ident`` in the bound
    catalog (identity-partitioned on s_nationkey when asked): shim
    mode writes the table directory through iceberg_local
    (unpartitioned tables auto-create on the first add_files, so
    only the partitioned shape pre-creates — the spec must exist
    before the write); real pyiceberg creates every shape through
    the catalog API (namespace + create_table, location pinned
    under the warehouse so the dir-reader leg finds it)."""
    import os
    tdir = os.path.join(root, ident)
    if mode == "shim":
        if not partitioned:
            return
        from quokka_spark.sources.iceberg_local import \
            create_local_iceberg_table
        create_local_iceberg_table(
            tdir, [[]],
            schema_fields=[(1, "s_suppkey", "long"),
                           (2, "s_nationkey", "long"),
                           (3, "s_acctbal", "double")],
            partition_spec=[{"name": "s_nationkey", "type": "long",
                             "source-id": 2, "field-id": 1000,
                             "transform": "identity"}])
        return
    from pyiceberg.catalog import load_catalog
    from pyiceberg.schema import Schema
    from pyiceberg.types import DoubleType, LongType, NestedField
    cat = load_catalog("default")
    try:
        cat.create_namespace(ident.split(".", 1)[0])
    except Exception:  # noqa: BLE001 - already exists
        pass
    kwargs = {}
    if partitioned:
        from pyiceberg.partitioning import (PartitionField,
                                            PartitionSpec)
        from pyiceberg.transforms import IdentityTransform
        kwargs["partition_spec"] = PartitionSpec(PartitionField(
            source_id=2, field_id=1000,
            transform=IdentityTransform(), name="s_nationkey"))
    cat.create_table(
        ident,
        schema=Schema(
            NestedField(1, "s_suppkey", LongType()),
            NestedField(2, "s_nationkey", LongType()),
            NestedField(3, "s_acctbal", DoubleType())),
        location=f"file://{tdir}", **kwargs)


def src_iceberg_catalog_write_part(spark, sf_dir):
    """IDENTITY-PARTITIONED Iceberg catalog writes (round 13 —
    round-12 verdict #3; iceberg_catalog.write_iceberg_catalog's
    partitioned path): the table is created partitioned by
    s_nationkey, then the same append/append/overwrite lifecycle as
    src_iceberg_catalog_write runs through the partitioned stage
    (odd keys, even keys, then overwrite keeping the evens) —
    partitionBy on a DUPLICATE hive column so every registered file
    is value-pure AND keeps the real s_nationkey column in its data
    (pyiceberg's add_files infers identity partition values from
    per-file min==max statistics; the shim applies the same
    inference from the parquet footers). Read-back unions the
    catalog-planned scan at current with the LOCAL-DIRECTORY reader
    under a partition_filter — the directory reader prunes the file
    list from the MANIFESTS' partition records, so a wrong or empty
    stamped partition value drops rows and hash-mismatches (exactly
    the corruption the old typed refusal guarded against)."""
    import json as _json
    import os
    import tempfile

    from quokka_spark.datastream import DataStream
    qc = _qc(spark)
    base = os.path.join(tempfile.gettempdir(),
                        "qs_catwp_" + sf_dir.strip("/").replace("/", "_"))
    root = os.path.join(base, "warehouse")
    ident = "db.sup_part"
    done = os.path.join(base, "_done")
    mode = _bind_fs_iceberg_catalog(root)
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        mode = _bind_fs_iceberg_catalog(root)
        _cat_create_supplier(mode, root, ident, partitioned=True)
        sup = _t(qc, sf_dir, "supplier").df.select(
            "s_suppkey", "s_nationkey", "s_acctbal")
        # parity splits stay non-empty at every SF (an empty
        # partitionBy stage writes no files, which the writer
        # refuses to register)
        DataStream(qc, sup.where("s_suppkey % 2 = 1")).write_iceberg(
            ident, catalog="default")
        DataStream(qc, sup.where("s_suppkey % 2 = 0")).write_iceberg(
            ident, catalog="default")
        DataStream(qc, sup.where("s_suppkey % 2 = 0")).write_iceberg(
            ident, catalog="default", mode="overwrite")
        with open(done, "w") as fh:
            fh.write(_json.dumps({"mode": mode}))
    tdir = os.path.join(root, ident)

    def agg(df, via):
        return (df.groupBy("s_nationkey")
                .agg(F.count("*").alias("n"),
                     F.round(F.sum("s_acctbal"), 2).alias("sum_bal"))
                .withColumn("via", F.lit(via)))
    return (agg(qc.read_iceberg(ident).df, "catalog")
            .unionByName(agg(
                qc.read_iceberg(
                    tdir, partition_filter="s_nationkey < 10").df,
                "dir_pruned")))


_SRC_ICEBERG_CATALOG_WRITE_PART_SQL = """
SELECT via, s_nationkey, n, sum_bal FROM (
  SELECT 'catalog' AS via, s_nationkey,
         CAST(count(*) AS BIGINT) AS n,
         round(sum(s_acctbal), 2) AS sum_bal
  FROM supplier WHERE s_suppkey % 2 = 0 GROUP BY s_nationkey
  UNION ALL
  SELECT 'dir_pruned', s_nationkey, CAST(count(*) AS BIGINT),
         round(sum(s_acctbal), 2)
  FROM supplier WHERE s_suppkey % 2 = 0 AND s_nationkey < 10
  GROUP BY s_nationkey)
"""


def src_delta_row_tracking(spark, sf_dir):
    """Delta ROW TRACKING (round 12 — protocol §Row Tracking;
    delta_local._apply_row_tracking): customer splits into even keys
    (baseRowId 0, commit 1) and odd keys (baseRowId = n_even, commit
    1), both key-sorted so each row's position is its key rank; a DV
    then kills the even c_custkey % 7 = 0 rows — survivors keep
    their ORIGINAL row ids, and a later materialized-rewrite file
    carries explicit per-row ids that win over the arithmetic.
    Aggregates sum _row_id and _row_commit_version per key group so
    any renumbering hash-mismatches."""
    import json as _json
    import os
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.delta_local import _commit
    from quokka_spark.sources.dv import inline_dv_descriptor
    qc = _qc(spark)
    cust = os.path.join(sf_dir, "customer.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_drt_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(tbl, exist_ok=True)
        t = pq.read_table(cust, columns=[
            "c_custkey", "c_acctbal"]).sort_by("c_custkey")
        even = pc.equal(pc.bit_wise_and(t.column("c_custkey"), 1), 0)
        te, to = t.filter(even), t.filter(pc.invert(even))
        pq.write_table(te, os.path.join(tbl, "even.parquet"))
        pq.write_table(to, os.path.join(tbl, "odd.parquet"))
        n_even = te.num_rows
        schema = {"type": "struct", "fields": [
            {"name": "c_custkey", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "c_acctbal", "type": "double", "nullable": True,
             "metadata": {}}]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 3,
                          "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["rowTracking",
                                             "deletionVectors",
                                             "domainMetadata"]}},
            {"metaData": {"id": "drt", "format": {
                "provider": "parquet", "options": {}},
                "schemaString": _json.dumps(schema),
                "partitionColumns": [],
                "configuration": {"delta.enableRowTracking": "true"},
                "createdTime": 0}}])

        def add(path, brid):
            return {"add": {"path": path, "partitionValues": {},
                            "size": os.path.getsize(
                                os.path.join(tbl, path)),
                            "modificationTime": 0, "dataChange": True,
                            "baseRowId": brid,
                            "defaultRowCommitVersion": 1}}
        _commit(tbl, 1, [add("even.parquet", 0),
                         add("odd.parquet", n_even),
                         {"domainMetadata": {
                             "domain": "delta.rowTracking",
                             "configuration": _json.dumps(
                                 {"rowIdHighWaterMark":
                                  t.num_rows - 1}),
                             "removed": False}}])
        ekeys = te.column("c_custkey").to_pylist()
        dv_add = add("even.parquet", 0)
        dv_add["add"]["deletionVector"] = inline_dv_descriptor(
            [i for i, k in enumerate(ekeys) if k % 7 == 0])
        _commit(tbl, 2, [
            {"remove": {"path": "even.parquet",
                        "deletionTimestamp": 1, "dataChange": True}},
            dv_add])
        with open(done, "w") as fh:
            fh.write("ok")
    return (qc.read_delta(tbl, with_row_tracking=True).df
            .groupBy((F.col("c_custkey") % 3).alias("g"))
            .agg(F.count("*").alias("n"),
                 F.sum("_row_id").alias("sum_rid"),
                 F.sum("_row_commit_version").alias("sum_rcv"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_bal")))


_SRC_DELTA_ROW_TRACKING_SQL = """
WITH evens AS (
  SELECT c_custkey, c_acctbal,
         row_number() OVER (ORDER BY c_custkey) - 1 AS rid
  FROM customer WHERE c_custkey % 2 = 0),
odds AS (
  SELECT c_custkey, c_acctbal,
         row_number() OVER (ORDER BY c_custkey) - 1
         + (SELECT count(*) FROM evens) AS rid
  FROM customer WHERE c_custkey % 2 = 1),
live AS (
  SELECT c_custkey, c_acctbal, rid FROM evens
  WHERE c_custkey % 7 <> 0
  UNION ALL SELECT c_custkey, c_acctbal, rid FROM odds)
SELECT c_custkey % 3 AS g, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(rid) AS BIGINT) AS sum_rid,
       CAST(count(*) AS BIGINT) AS sum_rcv,
       round(sum(c_acctbal), 2) AS sum_bal
FROM live GROUP BY g
"""


def src_delta_rt_cm(spark, sf_dir):
    """Delta ROW TRACKING x ID-mode COLUMN MAPPING composed (round
    13 — round-12 verdict #4 plus the id-mode unlock;
    delta_local._scan_files' id-mode position-carrying path +
    upsert_delta_local's materializing rewrite): customer splits
    into even keys (baseRowId 0) and odd keys (baseRowId = n_even),
    both key-sorted, stored under OPAQUE physical names with parquet
    field ids (id-mode resolution); a MERGE then updates the
    c_custkey % 10 = 0 rows (+1000 acctbal) — single-match updates
    KEEP their row ids and take the merge commit version, everyone
    else keeps commit 1. Aggregates sum _row_id and
    _row_commit_version per key group, so renumbering, a
    name-resolved (rather than id-resolved) scan, or identity loss
    through the mapped rewrite hash-mismatches."""
    import json as _json
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from quokka_spark.sources.delta_local import (_commit,
                                                  upsert_delta_local)
    qc = _qc(spark)
    cust = os.path.join(sf_dir, "customer.parquet")
    base = os.path.join(tempfile.gettempdir(),
                        "qs_rtcm_" + sf_dir.strip("/").replace("/", "_"))
    tbl = os.path.join(base, "tbl")
    done = os.path.join(base, "_done")
    if not os.path.exists(done):
        import shutil
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(tbl, exist_ok=True)
        t = pq.read_table(cust, columns=[
            "c_custkey", "c_acctbal"]).sort_by("c_custkey")
        psch = pa.schema([
            pa.field("pc-1", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("pc-2", pa.float64(),
                     metadata={b"PARQUET:field_id": b"2"})])
        even = pc.equal(pc.bit_wise_and(t.column("c_custkey"), 1), 0)
        te = t.filter(even).rename_columns(["pc-1", "pc-2"]).cast(psch)
        to = t.filter(pc.invert(even)).rename_columns(
            ["pc-1", "pc-2"]).cast(psch)
        pq.write_table(te, os.path.join(tbl, "even.parquet"))
        pq.write_table(to, os.path.join(tbl, "odd.parquet"))
        schema = {"type": "struct", "fields": [
            {"name": "c_custkey", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "pc-1"}},
            {"name": "c_acctbal", "type": "double", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "pc-2"}}]}
        _commit(tbl, 0, [
            {"protocol": {"minReaderVersion": 3,
                          "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"],
                          "writerFeatures": ["rowTracking",
                                             "domainMetadata",
                                             "columnMapping"]}},
            {"metaData": {"id": "rtcm", "format": {
                "provider": "parquet", "options": {}},
                "schemaString": _json.dumps(schema),
                "partitionColumns": [],
                "configuration": {
                    "delta.columnMapping.mode": "id",
                    "delta.columnMapping.maxColumnId": "2",
                    "delta.enableRowTracking": "true"},
                "createdTime": 0}}])
        n_even = te.num_rows

        def add(path, brid):
            return {"add": {"path": path, "partitionValues": {},
                            "size": os.path.getsize(
                                os.path.join(tbl, path)),
                            "modificationTime": 0, "dataChange": True,
                            "baseRowId": brid,
                            "defaultRowCommitVersion": 1}}
        _commit(tbl, 1, [
            add("even.parquet", 0), add("odd.parquet", n_even),
            {"domainMetadata": {
                "domain": "delta.rowTracking",
                "configuration": _json.dumps(
                    {"rowIdHighWaterMark": t.num_rows - 1}),
                "removed": False}}])
        batch = (qc.read_parquet(cust).df
                 .where("c_custkey % 10 = 0")
                 .selectExpr("c_custkey",
                             "c_acctbal + 1000 AS c_acctbal"))
        upsert_delta_local(spark, tbl, batch, ["c_custkey"])
        with open(done, "w") as fh:
            fh.write("ok")
    return (qc.read_delta(tbl, with_row_tracking=True).df
            .groupBy((F.col("c_custkey") % 3).alias("g"))
            .agg(F.count("*").alias("n"),
                 F.sum("_row_id").alias("sum_rid"),
                 F.sum("_row_commit_version").alias("sum_rcv"),
                 F.round(F.sum("c_acctbal"), 2).alias("sum_bal")))


_SRC_DELTA_RT_CM_SQL = """
WITH evens AS (
  SELECT c_custkey, c_acctbal,
         row_number() OVER (ORDER BY c_custkey) - 1 AS rid
  FROM customer WHERE c_custkey % 2 = 0),
odds AS (
  SELECT c_custkey, c_acctbal,
         row_number() OVER (ORDER BY c_custkey) - 1
         + (SELECT count(*) FROM evens) AS rid
  FROM customer WHERE c_custkey % 2 = 1),
base AS (
  SELECT * FROM evens UNION ALL SELECT * FROM odds),
final AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000
              ELSE c_acctbal END AS bal,
         rid,
         CASE WHEN c_custkey % 10 = 0 THEN 2 ELSE 1 END AS rcv
  FROM base)
SELECT c_custkey % 3 AS g, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(rid) AS BIGINT) AS sum_rid,
       CAST(sum(rcv) AS BIGINT) AS sum_rcv,
       round(sum(bal), 2) AS sum_bal
FROM final GROUP BY g
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is deliberate: the driver correctness-checks the
    FIRST 50 entries, so every operator family places at least one gate
    inside that window (TPC-H 11, time-series 6 + streaming 2, dedup
    3, similarity 2, text 2, pipeline 1, linalg/ML 3, sources 17
    incl. the executor-side Delta DV scan, MoR log merge, REAL
    HoodieLogFormat framing, the log-derived CDF read, CDF-writer cdc
    actions, partitioned columnMapping, auto- and v2 checkpoints,
    iceberg/hudi restores, Iceberg multi-spec + CDF + v3 DELETION
    VECTORS + DV-CDF + branch/tag refs, Hudi incremental reads, and
    evaluated Delta constraints, lakehouse streaming 3 incl. the
    delta/iceberg exactly-once sinks and the Delta source = 50).
    Round-8 rotation (round-7 verdict #6): `src_delta_dv`,
    `stream_sink_delta`, `src_hudi_mor` IN; `dedup_ngram_jaccard`,
    `agg_covariance`, `ts_hopping` OUT. Round-9 rotation (round-8
    verdict #5): IN — `src_delta_cdf`, `stream_src_delta`,
    `stream_src_delta_partitioned`, `src_hudi_logfmt`; OUT —
    `agg_quantile`, `ts_backtest`, `ml_bpe_train`, `op_join_nonequi`.
    Round-10 rotation (round-9 verdict #2): IN — the sink trio's
    `stream_sink_iceberg` + `stream_sink_hudi`,
    `src_delta_cm_partitioned`, `src_delta_cdf_upsert` (CDF update
    pairing), `src_delta_ts_travel` (one timestamp-travel gate), and
    the two gates this round's new machinery added mid-session —
    `src_delta_cdf_id` (id-mode change feed) and `src_delta_cdc_write`
    (CDF-writer cdc actions end-to-end); OUT — the seven
    single/two-table TPC-H micro plans `tpch_q4/q6/q12/q14/q15/q17/
    q19`, whose operator shapes (filter-agg, semi-join, two-table
    join-agg, view-max, correlated scalar) stay covered in-window by
    q1/q3/q18/q21 and which remain BOTH pytest-oracled and benched
    every round. Redundant relational micro-gates, perf bench gates,
    and the remaining incremental/streaming-source gates sit past the
    window. Round-11 rotation (round-10 verdict #1): IN — the
    round-10 machinery headlines `src_delta_auto_checkpoint`,
    `src_delta_v2_checkpoint`, the RESTORE trio
    `src_delta_restore`/`src_iceberg_restore`/`src_hudi_restore`,
    `src_iceberg_multispec`, `src_iceberg_cdf`, `src_hudi_incr`;
    OUT — `src_delta_cdf_upsert` + `src_delta_cdf_id` (the
    `src_delta_cdf` + `src_delta_cdc_write` pair keeps the CDF shape
    in-window), `src_delta_ts_travel` (iceberg/hudi ts-travel gates
    keep the shape pytest-oracled), `tpch_q2/q11/q20` (q1/q3/q21's
    shapes cover), `stream_src_delta_partitioned`, `mm_metadata`.
    Round-12 rotation (round-11 verdict #1): IN — the round-11
    protocol machinery `src_iceberg_dv`, `src_iceberg_dv_cdf`,
    `src_iceberg_refs`, `src_delta_constraints`; OUT — `tpch_q22`
    (q13/q16 keep the agg shapes), `src_delta_checkpoint` (auto + v2
    checkpoint gates keep the replay shape), `src_delta_restore`
    (iceberg/hudi restores + history keep the shape),
    `stream_sink_hudi` (delta/iceberg sinks keep the exactly-once
    contract). Round-13 rotation (round-12 verdict #1): IN — the
    round-12 machinery `src_iceberg_lineage`, `src_iceberg_defaults`,
    `src_delta_row_tracking`; OUT — `src_delta_auto_checkpoint`
    (`src_delta_v2_checkpoint` keeps the checkpoint-replay shape),
    `src_iceberg_restore` (`src_hudi_restore` + history keep the
    restore shape), `stream_sink_iceberg` (`stream_sink_delta` keeps
    the exactly-once sink contract). ALL entries stay
    pytest-oracle-checked in tests/test_oracle_parity.py."""
    return {
        # ---- driver-checked window (first 50) -------------------------
        # TPC-H suite (15 in-window; the 7 single/two-table micro
        # plans q4/q6/q12/q14/q15/q17/q19 rotated out in round 10 —
        # still pytest-oracled AND benched every round)
        "tpch_q1": tpch_q1, "tpch_q3": tpch_q3,
        "tpch_q5": tpch_q5, "tpch_q7": tpch_q7,
        "tpch_q8": tpch_q8, "tpch_q9": tpch_q9, "tpch_q10": tpch_q10,
        "tpch_q13": tpch_q13,
        "tpch_q16": tpch_q16,
        "tpch_q18": tpch_q18,
        "tpch_q21": tpch_q21,
        # time series (6) + streaming (2)
        "ts_tumbling": ts_tumbling,
        "ts_sliding": ts_sliding, "ts_session": ts_session,
        "ts_asof_join": ts_asof_join,
        "ts_cep_funnel": ts_cep_funnel,
        "ts_cep_quantified": ts_cep_quantified,
        "stream_tumbling": stream_tumbling,
        "stream_join": stream_join,
        # dedup (3)
        "dedup_exact": dedup_exact, "dedup_minhash": dedup_minhash,
        "dedup_embedding": dedup_embedding,
        # similarity (2)
        "sim_topk": sim_topk, "sim_topk_pushdown": sim_topk_pushdown,
        # text analysis (2)
        "text_tokens": text_tokens,
        "text_quality": text_quality,
        # pipeline (1; mm_metadata rotated out round 11 — mm_phash keeps
        # the multimodal shape pytest-oracled)
        "pipeline_llm_data": pipeline_llm_data,
        # linalg / ML / graph (3)
        "agg_gramian": agg_gramian, "ml_kmeans": ml_kmeans,
        "graph_pagerank": graph_pagerank,
        # sources (4: executor-side DV decode, Hudi MoR log merge,
        # REAL HoodieLogFormat framing + the log-derived CDF read —
        # the round-8/9 headlines; src_delta_checkpoint rotated out
        # round 12, auto+v2 checkpoint gates keep the replay shape)
        "src_delta_dv": src_delta_dv,
        "src_hudi_mor": src_hudi_mor,
        "src_hudi_logfmt": src_hudi_logfmt,
        "src_delta_cdf": src_delta_cdf,
        # partitioned columnMapping reads + CDF-writer cdc actions
        # (the round-10 keepers; cdf_upsert/cdf_id/ts_travel rotated
        # out round 11, shapes covered by src_delta_cdf +
        # src_delta_cdc_write + the iceberg/hudi travel gates)
        "src_delta_cm_partitioned": src_delta_cm_partitioned,
        "src_delta_cdc_write": src_delta_cdc_write,
        # round-11 rotation IN (round-10 verdict #1): the round-10
        # machinery headlines — auto- and v2 checkpoints, the RESTORE
        # trio, Iceberg multi-spec commits, Iceberg CDF, Hudi
        # incremental reads
        "src_delta_v2_checkpoint": src_delta_v2_checkpoint,
        "src_hudi_restore": src_hudi_restore,
        "src_iceberg_multispec": src_iceberg_multispec,
        "src_iceberg_cdf": src_iceberg_cdf,
        "src_hudi_incr": src_hudi_incr,
        # round-12 rotation IN (round-11 verdict #1): the round-11
        # protocol machinery — Iceberg v3 deletion vectors + their CDF
        # diffs, branch/tag refs, and evaluated Delta CHECK
        # constraints / invariants / generated+identity columns
        "src_iceberg_dv": src_iceberg_dv,
        "src_iceberg_dv_cdf": src_iceberg_dv_cdf,
        "src_iceberg_refs": src_iceberg_refs,
        "src_delta_constraints": src_delta_constraints,
        # round-13 rotation IN (round-12 verdict #1): the round-12
        # protocol machinery — Iceberg v3 row lineage (_row_id /
        # _last_updated_sequence_number via per-file first_row_id
        # arithmetic), Iceberg v3 top-level initial-default values,
        # and Delta row tracking (_row_id / _row_commit_version)
        "src_iceberg_lineage": src_iceberg_lineage,
        "src_iceberg_defaults": src_iceberg_defaults,
        "src_delta_row_tracking": src_delta_row_tracking,
        # streaming (2: the delta exactly-once sink + the Delta SOURCE;
        # stream_sink_hudi rotated out round 12, stream_sink_iceberg
        # round 13 — the sink contract stays shape-covered by
        # stream_sink_delta, and iceberg/hudi sinks stay pytest-oracled)
        "stream_sink_delta": stream_sink_delta,
        "stream_src_delta": stream_src_delta,
        # ---- past the driver window (pytest-oracle-checked) -----------
        # round-13 rotation OUT (shapes stay covered in-window:
        # v2_checkpoint keeps the checkpoint-replay shape, hudi_restore
        # + history keep the restore shape, stream_sink_delta keeps the
        # exactly-once sink contract)
        "src_delta_auto_checkpoint": src_delta_auto_checkpoint,
        "src_iceberg_restore": src_iceberg_restore,
        "stream_sink_iceberg": stream_sink_iceberg,
        # round-12 rotation OUT (shapes stay covered in-window)
        "tpch_q22": tpch_q22,
        "src_delta_checkpoint": src_delta_checkpoint,
        "src_delta_restore": src_delta_restore,
        "stream_sink_hudi": stream_sink_hudi,
        "tpch_q2": tpch_q2, "tpch_q11": tpch_q11, "tpch_q20": tpch_q20,
        "tpch_q4": tpch_q4, "tpch_q6": tpch_q6, "tpch_q12": tpch_q12,
        "tpch_q14": tpch_q14, "tpch_q15": tpch_q15,
        "tpch_q17": tpch_q17, "tpch_q19": tpch_q19,
        "src_delta_cdf_upsert": src_delta_cdf_upsert,
        "src_delta_cdf_id": src_delta_cdf_id,
        "src_delta_ts_travel": src_delta_ts_travel,
        "stream_src_delta_partitioned": stream_src_delta_partitioned,
        "mm_metadata": mm_metadata,
        "ts_backtest": ts_backtest,
        "agg_quantile": agg_quantile,
        "ml_bpe_train": ml_bpe_train,
        "op_join_nonequi": op_join_nonequi,
        "src_iceberg_ts_travel": src_iceberg_ts_travel,
        "src_hudi_ts_travel": src_hudi_ts_travel,
        "agg_covariance": agg_covariance,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "ts_hopping": ts_hopping,
        "ts_shift": ts_shift, "text_lang_id": text_lang_id,
        "ts_cep_plus_dep": ts_cep_plus_dep,
        "dedup_simhash": dedup_simhash,
        "sim_topk_lsh": sim_topk_lsh,
        "sim_topk_ivf": sim_topk_ivf,
        "text_fingerprint": text_fingerprint,
        "text_heavy_hitters": text_heavy_hitters,
        "ts_tumbling_running": ts_tumbling_running,
        "mm_features": mm_features,
        "bench_asof_micro": bench_asof_micro,
        "bench_wide_quantile": bench_wide_quantile,
        "op_grouping_sets_facade": op_grouping_sets_facade,
        # relational operators (redundant with TPC-H coverage)
        "op_topk": op_topk, "op_distinct": op_distinct,
        "op_count_distinct": op_count_distinct, "op_union": op_union,
        "op_intersect": op_intersect, "op_except": op_except,
        "op_semi_join": op_semi_join, "op_anti_join": op_anti_join,
        "op_window_rank": op_window_rank,
        "op_window_running_sum": op_window_running_sum,
        "op_clip": op_clip, "op_with_columns_lambda": op_with_columns_lambda,
        "op_transform": op_transform, "op_stateful": op_stateful,
        "op_cogroup": op_cogroup, "op_sql_entry": op_sql_entry,
        "op_sql_tpch": op_sql_tpch,
        "op_array_agg": op_array_agg,
        "op_percentile_group": op_percentile_group,
        "op_approx_count_distinct": op_approx_count_distinct,
        "op_rollup": op_rollup, "op_cube": op_cube,
        "op_expression_dsl": op_expression_dsl,
        "op_json_extract": op_json_extract,
        "op_case_when_agg": op_case_when_agg,
        "op_explode": op_explode,
        "src_lance": src_lance,
        "op_join_outer_condition": op_join_outer_condition,
        "dedup_lines": dedup_lines,
        "text_gopher": text_gopher,
        "src_iceberg": src_iceberg, "src_delta": src_delta,
        "src_delta_partitioned": src_delta_partitioned,
        "src_delta_skipping": src_delta_skipping,
        "src_orc": src_orc,
        "src_avro": src_avro,
        "src_hudi": src_hudi,
        "src_delta_cm": src_delta_cm,
        "src_delta_cm_write": src_delta_cm_write,
        "src_delta_cm_id_write": src_delta_cm_id_write,
        "src_delta_cm_id_partitioned": src_delta_cm_id_partitioned,
        # round-13 machinery gates (rotation candidates for round 14)
        "src_iceberg_catalog_write": src_iceberg_catalog_write,
        "src_iceberg_catalog_write_part": src_iceberg_catalog_write_part,
        "src_hudi_1x": src_hudi_1x,
        "src_delta_rt_cm": src_delta_rt_cm,
        "src_iceberg_catalog_defaults": src_iceberg_catalog_defaults,
        "op_sql_window": op_sql_window, "ts_resample": ts_resample,
        "dedup_spans": dedup_spans,
        "dedup_clusters": dedup_clusters,
        "op_hash_sample": op_hash_sample,
        "text_pii": text_pii,
        "text_repetition": text_repetition,
        "dedup_decontaminate": dedup_decontaminate,
        "op_weighted_sample": op_weighted_sample,
        "dedup_semantic": dedup_semantic,
        "ts_asof_forward": ts_asof_forward,
        "ts_ohlcv": ts_ohlcv,
        "op_pivot": op_pivot,
        "ml_matmul": ml_matmul,
        "text_chunks": text_chunks,
        "text_unigram_lm": text_unigram_lm,
        "op_pack_sequences": op_pack_sequences,
        "text_bpe_tokens": text_bpe_tokens,
        "op_stratified_sample": op_stratified_sample,
        "op_token_budget_mix": op_token_budget_mix,
        "op_cap_per_key": op_cap_per_key,
        "text_tfidf": text_tfidf,
        "ml_logreg": ml_logreg,
        "op_split_safe": op_split_safe,
        "text_urls": text_urls,
        "mm_phash": mm_phash,
        "op_zorder": op_zorder,
        "op_quantize": op_quantize,
        "src_iceberg_deletes": src_iceberg_deletes,
        "src_iceberg_eq_deletes": src_iceberg_eq_deletes,
        "src_iceberg_partitioned": src_iceberg_partitioned,
        "src_iceberg_bounds": src_iceberg_bounds,
        "src_iceberg_transform": src_iceberg_transform,
        "text_bigram_lm": text_bigram_lm,
        "text_hash_tf": text_hash_tf,
        "op_cms": op_cms,
        "ml_bpe_encode": ml_bpe_encode,
        "ts_rolling_corr": ts_rolling_corr,
        "pipeline_corpus_prep": pipeline_corpus_prep,
        "dedup_exact_best": dedup_exact_best,
        "dedup_hybrid": dedup_hybrid,
        "text_entropy": text_entropy,
        "op_pair_metrics": op_pair_metrics,
        "text_accent_fold": text_accent_fold,
        "op_bloom": op_bloom,
        "dedup_incremental": dedup_incremental,
        "op_weighted_sample_k": op_weighted_sample_k,
        "ts_ewma": ts_ewma,
        "ts_zscore": ts_zscore,
        "ts_drawdown": ts_drawdown,
        "text_readability": text_readability, "text_c4": text_c4,
        "text_url_canon": text_url_canon,
        "ts_vwap": ts_vwap,
        "op_grouping_sets": op_grouping_sets,
        "dedup_containment": dedup_containment,
        "op_percentile_approx_group": op_percentile_approx_group,
        "stream_dedup": stream_dedup,
        "stream_asof": stream_asof,
        "stream_cep": stream_cep,
        "stream_resample": stream_resample,
        "stream_src_delta_cm": stream_src_delta_cm,
        "stream_src_iceberg": stream_src_iceberg,
        "stream_src_hudi": stream_src_hudi,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "tpch_q1": _Q1_SQL, "tpch_q3": _Q3_SQL, "tpch_q4": _Q4_SQL,
        "tpch_q5": _Q5_SQL, "tpch_q6": _Q6_SQL, "tpch_q7": _Q7_SQL,
        "tpch_q8": _Q8_SQL, "tpch_q9": _Q9_SQL, "tpch_q10": _Q10_SQL,
        "tpch_q12": _Q12_SQL, "tpch_q13": _Q13_SQL, "tpch_q14": _Q14_SQL,
        "tpch_q15": _Q15_SQL, "tpch_q16": _Q16_SQL, "tpch_q17": _Q17_SQL,
        "tpch_q18": _Q18_SQL, "tpch_q19": _Q19_SQL, "tpch_q22": _Q22_SQL,
        "tpch_q2": _Q2_SQL, "tpch_q11": _Q11_SQL, "tpch_q20": _Q20_SQL,
        "tpch_q21": _Q21_SQL,
        "op_topk": _TOPK_SQL, "op_distinct": _DISTINCT_SQL,
        "op_count_distinct": _COUNT_DISTINCT_SQL, "op_union": _UNION_SQL,
        "op_intersect": _INTERSECT_SQL, "op_except": _EXCEPT_SQL,
        "op_semi_join": _SEMI_SQL, "op_anti_join": _ANTI_SQL,
        "op_window_rank": _WINDOW_RANK_SQL,
        "op_window_running_sum": _WINDOW_RUNNING_SQL,
        "op_clip": _CLIP_SQL, "op_with_columns_lambda": _LAMBDA_SQL,
        "op_transform": _TRANSFORM_SQL, "op_stateful": _STATEFUL_SQL,
        "op_cogroup": _COGROUP_SQL, "op_sql_entry": _SQL_ENTRY_SQL,
        "op_sql_tpch": _Q1_SQL,
        "op_array_agg": _ARRAY_AGG_SQL,
        "op_percentile_group": _PERCENTILE_GROUP_SQL,
        "op_approx_count_distinct": _APPROX_CD_SQL,
        "bench_wide_quantile": _WIDE_QUANTILE_SQL,
        "op_rollup": _ROLLUP_SQL, "op_cube": _CUBE_SQL,
        "op_expression_dsl": _EXPR_DSL_SQL,
        "op_json_extract": _JSON_SQL,
        "op_case_when_agg": _CASE_WHEN_SQL,
        "op_explode": _EXPLODE_SQL,
        "op_join_nonequi": _JOIN_NONEQUI_SQL,
        "ts_tumbling": _TUMBLING_SQL, "ts_hopping": _HOPPING_SQL,
        "ts_sliding": _SLIDING_SQL, "ts_session": _SESSION_SQL,
        "ts_asof_join": _ASOF_SQL, "ts_shift": _SHIFT_SQL,
        "ts_backtest": _BACKTEST_SQL,
        "bench_asof_micro": _ASOF_MICRO_SQL,
        "ts_tumbling_running": _TUMBLING_RUNNING_SQL,
        "ts_cep_funnel": _CEP_SQL,
        "ts_cep_quantified": _CEP_QUANT_SQL,
        "ts_cep_plus_dep": _CEP_PLUS_DEP_SQL,
        "text_tokens": _TOKENS_SQL, "text_fingerprint": _FINGERPRINT_SQL,
        "text_lang_id": _lang_id_duckdb_sql(), "text_quality": _QUALITY_SQL,
        "text_heavy_hitters": _HEAVY_HITTERS_SQL,
        "pipeline_llm_data": _pipeline_llm_data_sql(),
        "graph_pagerank": _PAGERANK_SQL,
        "mm_metadata": _MM_METADATA_SQL,
        "mm_features": _MM_FEATURES_SQL,
        "dedup_exact": _DEDUP_EXACT_SQL,
        "dedup_ngram_jaccard": _JACCARD_SQL,
        "dedup_minhash": _MINHASH_SQL,
        "dedup_simhash": _SIMHASH_SQL,
        "dedup_embedding": _EMB_DEDUP_SQL,
        "sim_topk": _SIM_TOPK_SQL,
        "sim_topk_pushdown": _SIM_TOPK_SQL,
        "sim_topk_lsh": _SIM_LSH_SQL, "sim_topk_ivf": _SIM_IVF_SQL,
        "agg_gramian": _gramian_oracle(),
        "agg_covariance": _covariance_oracle(),
        "agg_quantile": _QUANTILE_SQL,
        "ml_kmeans": _kmeans_oracle(),
        "src_lance": _SRC_LANCE_SQL,
        "op_join_outer_condition": _JOIN_OUTER_COND_SQL,
        "dedup_lines": _DEDUP_LINES_SQL,
        "text_gopher": _GOPHER_SQL,
        "src_iceberg": _SRC_ICEBERG_SQL, "src_delta": _SRC_DELTA_SQL,
        "src_delta_checkpoint": _SRC_DELTA_CP_SQL,
        "src_orc": _SRC_ORC_SQL,
        "src_avro": _SRC_AVRO_SQL,
        "src_delta_partitioned": _SRC_DELTA_PART_SQL,
        "src_delta_skipping": _SRC_DELTA_SKIP_SQL,
        "op_sql_window": _SQL_WINDOW_SQL, "ts_resample": _RESAMPLE_SQL,
        "dedup_spans": _DEDUP_SPANS_SQL,
        "dedup_clusters": _DEDUP_CLUSTERS_SQL,
        "op_hash_sample": _HASH_SAMPLE_SQL,
        "text_pii": _pii_sql(),
        "text_repetition": _REPETITION_SQL,
        "dedup_decontaminate": _decontaminate_sql(),
        "op_weighted_sample": _weighted_sample_sql(),
        "dedup_semantic": _semantic_dedup_oracle(tau=0.4),
        "ts_asof_forward": _ASOF_FWD_SQL,
        "ts_ohlcv": _OHLCV_SQL,
        "op_pivot": _PIVOT_SQL,
        "ml_matmul": _MATMUL_SQL,
        "text_chunks": _CHUNKS_SQL,
        "text_unigram_lm": _UNIGRAM_SQL,
        "op_pack_sequences": _PACK_SQL,
        "text_bpe_tokens": _BPE_SQL,
        "op_stratified_sample": _STRATIFIED_SAMPLE_SQL,
        "op_token_budget_mix": _TOKEN_BUDGET_MIX_SQL,
        "op_cap_per_key": _CAP_PER_KEY_SQL,
        "text_tfidf": _TFIDF_SQL,
        "ml_logreg": _logreg_oracle(),
        "op_split_safe": _SPLIT_SAFE_SQL,
        "text_urls": _URLS_SQL,
        "mm_phash": _MM_PHASH_SQL,
        "op_zorder": _zorder_oracle(),
        "op_quantize": _QUANTIZE_SQL,
        "src_iceberg_deletes": _SRC_ICEBERG_DELETES_SQL,
        "src_iceberg_eq_deletes": _SRC_ICEBERG_EQ_DELETES_SQL,
        "src_iceberg_partitioned": _SRC_ICEBERG_PART_SQL,
        "src_iceberg_bounds": _SRC_ICEBERG_BOUNDS_SQL,
        "src_iceberg_transform": _SRC_ICEBERG_TRANSFORM_SQL,
        "text_bigram_lm": _BIGRAM_SQL,
        "text_hash_tf": _hash_tf_oracle(),
        "op_cms": _cms_oracle(),
        "ts_rolling_corr": _ROLLING_CORR_SQL,
        "pipeline_corpus_prep": _PIPELINE_PREP_SQL,
        "dedup_exact_best": _DEDUP_EXACT_BEST_SQL,
        "dedup_hybrid": _DEDUP_HYBRID_SQL,
        "text_entropy": _ENTROPY_SQL,
        "op_pair_metrics": _PAIR_METRICS_SQL,
        "text_accent_fold": _accent_fold_sql(),
        "op_bloom": _bloom_oracle(),
        "dedup_incremental": _DEDUP_INCREMENTAL_SQL,
        "op_weighted_sample_k": _weighted_sample_k_sql(),
        "ts_ewma": _ewma_oracle(),
        "ts_zscore": _ZSCORE_SQL,
        "ts_drawdown": _DRAWDOWN_SQL,
        "text_readability": _READABILITY_SQL,
        "text_c4": _C4_SQL, "text_url_canon": _url_canon_sql(), "ml_bpe_encode": _bpe_encode_sql(),
        "ml_bpe_train": _bpe_train_sql(),
        "ts_vwap": _VWAP_SQL,
        "op_grouping_sets": _GROUPING_SETS_SQL,
        "op_grouping_sets_facade": _GROUPING_SETS_SQL,
        "dedup_containment": _CONTAINMENT_SQL,
        "op_percentile_approx_group": _percentile_approx_oracle(),
        "src_hudi": _SRC_HUDI_SQL,
        "src_hudi_1x": _SRC_HUDI_1X_SQL,
        "src_hudi_mor": _SRC_HUDI_MOR_SQL,
        "src_hudi_logfmt": _SRC_HUDI_LOGFMT_SQL,
        "src_delta_ts_travel": _TS_TRAVEL_SQL,
        "src_delta_restore": _SRC_RESTORE_SQL,
        "src_iceberg_restore": _SRC_RESTORE_SQL,
        "src_hudi_restore": _SRC_RESTORE_SQL,
        "src_delta_v2_checkpoint": _SRC_DELTA_CP_SQL,
        "src_iceberg_ts_travel": _TS_TRAVEL_SQL,
        "src_hudi_ts_travel": _TS_TRAVEL_SQL,
        "src_delta_dv": _SRC_DELTA_DV_SQL,
        "src_delta_cm": _SRC_DELTA_CM_SQL,
        "src_delta_cm_write": _SRC_DELTA_CM_WRITE_SQL,
        "src_delta_cm_id_write": _SRC_DELTA_CM_ID_WRITE_SQL,
        "src_delta_cm_id_partitioned": _SRC_DELTA_CM_ID_PARTITIONED_SQL,
        "src_delta_auto_checkpoint": _SRC_DELTA_AUTO_CHECKPOINT_SQL,
        "src_iceberg_multispec": _SRC_ICEBERG_MULTISPEC_SQL,
        "src_delta_cm_partitioned": _SRC_DELTA_CM_PARTITIONED_SQL,
        "src_delta_cdf": _SRC_DELTA_CDF_SQL,
        "src_delta_cdf_upsert": _SRC_DELTA_CDF_UPSERT_SQL,
        "src_delta_cdf_id": _SRC_DELTA_CDF_ID_SQL,
        "src_delta_cdc_write": _SRC_DELTA_CDF_UPSERT_SQL,
        "src_delta_constraints": _SRC_DELTA_CONSTRAINTS_SQL,
        "src_iceberg_dv": _SRC_ICEBERG_DV_SQL,
        "src_iceberg_dv_cdf": _SRC_ICEBERG_DV_CDF_SQL,
        "src_iceberg_refs": _SRC_ICEBERG_REFS_SQL,
        "src_iceberg_lineage": _SRC_ICEBERG_LINEAGE_SQL,
        "src_iceberg_defaults": _SRC_ICEBERG_DEFAULTS_SQL,
        "src_iceberg_catalog_write": _SRC_ICEBERG_CATALOG_WRITE_SQL,
        "src_iceberg_catalog_write_part":
            _SRC_ICEBERG_CATALOG_WRITE_PART_SQL,
        "src_iceberg_catalog_defaults":
            _SRC_ICEBERG_CATALOG_DEFAULTS_SQL,
        "src_delta_row_tracking": _SRC_DELTA_ROW_TRACKING_SQL,
        "src_delta_rt_cm": _SRC_DELTA_RT_CM_SQL,
        "src_hudi_incr": _SRC_HUDI_INCR_SQL,
        "src_iceberg_cdf": _SRC_ICEBERG_CDF_SQL,
        "stream_tumbling": _STREAM_TUMBLING_SQL,
        "stream_dedup": _STREAM_DEDUP_SQL,
        "stream_join": _STREAM_JOIN_SQL,
        "stream_asof": _ASOF_SQL,
        "stream_cep": _CEP_SQL,
        "stream_resample": _STREAM_RESAMPLE_SQL,
        "stream_sink_delta": _STREAM_SINK_DELTA_SQL,
        "stream_src_delta": _STREAM_SRC_DELTA_SQL,
        "stream_src_delta_partitioned": _STREAM_SRC_DELTA_PARTITIONED_SQL,
        "stream_src_delta_cm": _STREAM_SRC_DELTA_CM_SQL,
        "stream_sink_iceberg": _STREAM_SINK_DELTA_SQL,
        "stream_sink_hudi": _STREAM_SINK_DELTA_SQL,
        "stream_src_iceberg": _STREAM_SRC_ICEBERG_SQL,
        "stream_src_hudi": _STREAM_SRC_HUDI_SQL,
    }

"""Remaining TPC-H query shapes adapted to the driver testdata schema.

The testdata has no ``partsupp`` table, no ``l_shipmode``/``l_commitdate``,
and synthetic dim values (``NATION_n``, single-word ``p_type``), so each
query keeps the *shape* of its TPC-H counterpart — the join topology,
aggregation pattern, and subquery structure that matter for planning —
re-parameterized to the columns that exist. ``lineitem`` doubles as the
part–supplier relation where Q2/Q11/Q16 need one.

Determinism contract (shared with extra_queries.py): sums are DECIMAL
(exact, accumulation-order-free) and only cast to DOUBLE at the end;
ratios are a single division of two exact sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import query
from .sources.ingest import read_table as _read


def _rev() -> Column:
    return (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1).cast("decimal(18,4)") - F.col("l_discount").cast("decimal(18,4)"))
    ).cast("decimal(38,8)")


_REV_SQL = "(l_extendedprice::DECIMAL(18,4) * (1::DECIMAL(18,4) - l_discount::DECIMAL(18,4)))::DECIMAL(38,8)"


def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part within a region.

    The correlated MIN subquery becomes a per-part aggregate joined back on
    (partkey, price) — both sides hash on l_partkey so the re-join adds no
    extra shuffle beyond the agg's own. The supplier→nation→region chain is
    broadcast (dims are tiny even at 100 TB fact scale); the part filter
    prunes before the join-back. Ref analog: correlated-min pattern like
    title_reigns' best-match pick (reference title_reigns.sql:241-244) but
    expressed as agg+join rather than a window, so no single-partition sort.
    """
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    part = _read(spark, sf_dir, "part")

    eur_sup = (
        sup.join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    # lineitem as the part-supplier relation: best (min) observed line price
    # per (part, supplier) — exact DECIMAL so the min and the equality
    # join-back are bit-stable across engines.
    offers = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice").cast("decimal(18,4)")).alias("offer_price"))
        .join(F.broadcast(eur_sup), F.col("l_suppkey") == F.col("s_suppkey"))
    )
    min_per_part = offers.groupBy("l_partkey").agg(
        F.min("offer_price").alias("min_price")
    )
    target_parts = part.filter(
        F.col("p_size") <= 5
    ).select("p_partkey", "p_name")
    return (
        offers.join(
            min_per_part,
            (offers["l_partkey"] == min_per_part["l_partkey"])
            & (F.col("offer_price") == F.col("min_price")),
        )
        .drop(min_per_part["l_partkey"])
        .join(F.broadcast(target_parts), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("p_partkey").alias("partkey"),
            "p_name",
            F.col("offer_price").cast("double").alias("offer_price"),
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("partkey")
        )
        .limit(100)
    )


def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's revenue per year.

    Nation plays two roles (customer side filters the region, supplier side
    defines the share numerator) — both broadcast. The share is a single
    DOUBLE division of two exact DECIMAL sums, so it is order-insensitive.
    """
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    sup = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")

    cust_region = (
        cust.join(
            F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"]
        )
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .filter(F.col("r_name") == "EUROPE")
        .select("c_custkey")
    )
    sup_nation = sup.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        sup["s_nationkey"] == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust_region), orders["o_custkey"] == F.col("c_custkey"))
        .join(F.broadcast(sup_nation), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", _rev()).otherwise(
                        F.lit(0).cast("decimal(38,8)")
                    )
                ).cast("double")
                / F.sum(_rev()).cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for a part family.

    5-way join where only lineitem is big: part (LIKE-filtered) and
    supplier→nation broadcast; profit = revenue − cost, both exact DECIMAL
    (cost uses p_retailprice·l_quantity since the testdata has no
    ps_supplycost). One shuffle total — the groupBy on (nation, year).
    """
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    sup = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")

    red_parts = part.filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    cost = (
        F.col("p_retailprice").cast("decimal(18,4)")
        * F.col("l_quantity").cast("decimal(18,4)")
    ).cast("decimal(38,8)")
    return (
        li.join(F.broadcast(red_parts), li["l_partkey"] == F.col("p_partkey"))
        .join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(F.sum(_rev() - cost).cast("double").alias("sum_profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


def q_tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose traded value in one region exceeds a
    fraction of the global (region-filtered) total.

    The scalar subquery (global total) is a 1-row aggregate broadcast into
    the HAVING filter — no second scan of the per-part aggregate, no global
    sort; threshold compare runs map-side after the agg.
    """
    li = _read(spark, sf_dir, "lineitem")
    sup = _read(spark, sf_dir, "supplier")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")

    asia_sup = (
        sup.join(F.broadcast(nation), sup["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .filter(F.col("r_name") == "ASIA")
        .select("s_suppkey")
    )
    value = F.col("l_extendedprice").cast("decimal(18,4)").cast("decimal(38,8)")
    # Both the scalar total and the final filter consume per_part; without
    # persist Catalyst re-executes the whole lineitem scan+agg subtree for
    # each — at 100 TB this frame is what you'd checkpoint.
    per_part = (
        li.join(F.broadcast(asia_sup), li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(value).alias("value_dec"))
        .persist()
    )
    total = per_part.agg(F.sum("value_dec").alias("total_dec"))
    return (
        per_part.join(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.col("total_dec").cast("double") * F.lit(0.001)
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("value_dec").cast("double").alias("value"),
        )
        .orderBy(F.desc("value"), F.asc("partkey"))
    )


def q_tpch_q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue on returned items per customer, top 20.

    lineitem⋈orders hashes on orderkey (the only big-big join); customer
    and nation broadcast; LIMIT rides TakeOrderedAndProject so no full sort
    of the aggregate ever materializes.
    """
    li = _read(spark, sf_dir, "lineitem")
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")

    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_tpch_q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per part attribute bucket, with a
    NOT-IN supplier exclusion.

    The NOT IN becomes a broadcast left-anti join (the excluded set is tiny
    by construction); count(distinct) is exact. lineitem again stands in
    for partsupp.
    """
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    sup = _read(spark, sf_dir, "supplier")

    excluded = sup.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = part.filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        li.join(F.broadcast(parts), li["l_partkey"] == F.col("p_partkey"))
        .join(
            F.broadcast(excluded), li["l_suppkey"] == F.col("s_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"), F.asc("p_size")
        )
    )


query("tpch_q2_min_cost_supplier", q_tpch_q2_min_cost_supplier, """
WITH eur_sup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
offers AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice::DECIMAL(18,4)) AS offer_price
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
eur_offers AS (
  SELECT o.*, s.s_name, s.s_acctbal, s.n_name
  FROM offers o JOIN eur_sup s ON o.l_suppkey = s.s_suppkey
),
min_per_part AS (
  SELECT l_partkey, min(offer_price) AS min_price FROM eur_offers GROUP BY l_partkey
)
SELECT e.s_acctbal, e.s_name, e.n_name, p.p_partkey AS partkey, p.p_name,
  e.offer_price::DOUBLE AS offer_price
FROM eur_offers e
JOIN min_per_part m ON e.l_partkey = m.l_partkey AND e.offer_price = m.min_price
JOIN part p ON e.l_partkey = p.p_partkey
WHERE p.p_size <= 5
ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, partkey LIMIT 100""")
query("tpch_q8_market_share", q_tpch_q8_market_share, f"""
SELECT year(o_orderdate) AS o_year,
  sum(CASE WHEN n2.n_name = 'NATION_3' THEN {_REV_SQL} ELSE 0::DECIMAL(38,8) END)::DOUBLE
    / sum({_REV_SQL})::DOUBLE AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN region ON n1.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE r_name = 'EUROPE'
GROUP BY o_year ORDER BY o_year""")
query("tpch_q9_product_profit", q_tpch_q9_product_profit, f"""
SELECT n_name AS nation, year(l_shipdate) AS o_year,
  sum({_REV_SQL} - (p_retailprice::DECIMAL(18,4) * l_quantity::DECIMAL(18,4))::DECIMAL(38,8))::DOUBLE AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(l_shipdate) ORDER BY nation, o_year DESC""")
query("tpch_q10_returned_revenue", q_tpch_q10_returned_revenue, f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
  sum({_REV_SQL})::DOUBLE AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""")
query("tpch_q11_important_stock", q_tpch_q11_important_stock, """
WITH asia_sup AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
),
per_part AS (
  SELECT l_partkey, sum(l_extendedprice::DECIMAL(18,4)::DECIMAL(38,8)) AS value_dec
  FROM lineitem JOIN asia_sup ON l_suppkey = s_suppkey
  GROUP BY l_partkey
)
SELECT l_partkey AS partkey, value_dec::DOUBLE AS value
FROM per_part
WHERE value_dec::DOUBLE > (SELECT sum(value_dec) FROM per_part)::DOUBLE * 0.001
ORDER BY value DESC, partkey""")
query("tpch_q16_supplier_cnt", q_tpch_q16_supplier_cnt, """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")

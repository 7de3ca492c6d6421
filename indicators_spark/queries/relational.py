"""Relational family: the TPC-H query *shapes* and the join/layout
operators built on them.

Semi-join (EXISTS), anti-join (NOT EXISTS), left-outer distribution,
conditional aggregation, disjunctive predicate pushdown and scalar
subqueries; then the remaining shapes of the 22-query suite (the
synthetic schema has no ``partsupp`` table and no commit/receipt dates,
so q2/q11/q12/q16/q19/q20/q21/q22 are adapted to the columns that
exist):

* q2  — correlated scalar MIN subquery → decorrelated group-min + equality
  join back (all dimension-side, broadcast everywhere).
* q7  — two-role dimension (nation n1/n2) with a disjunctive pair filter;
  the fact table joins brokered through broadcast dims.
* q8  — market share: conditional-sum ratio over a 5-way join.
* q9  — LIKE-filtered profit rollup by (nation, year).
* q10 — returned-item revenue, deterministic top-20 (rank with tiebreak).
* q11 — HAVING against a scalar subquery of the same aggregate (share-of-
  total filter) → one agg, reused via a one-row broadcast.
* q12 — interval lateness + two conditional counts (CASE aggregation).
* q17 — correlated AVG subquery → per-key avg + broadcast join back.
* q20 — nested semi-join chain (HAVING-filtered group → IN → IN).
* q21 — EXISTS + NOT EXISTS against the same fact table with non-equi
  correlation (the hardest decorrelation in the suite).

Also here: the Bloom-prefiltered join, the z-order layout key and the
frequent basket pairs.  Each is written Spark-first (broadcast the
dimension side, let Catalyst turn EXISTS/NOT EXISTS into
LeftSemi/LeftAnti) and carries a DuckDB oracle.  The reference
(`/root/reference/indicators.py`) has no joins at all (SURVEY.md §2b);
these are north-star extensions.  The synthetic tables are TPC-H-ish
with narrower schemas (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import joins
from ..sources.prices import load_table
from ._base import Query, _r, _register, round4


def _cut(epoch_s: int):
    # TZ-independent timestamp literal (see ext._utc_cutoff).
    return F.timestamp_seconds(F.lit(epoch_s))


_TS_1996_01 = 820454400  # 1996-01-01
_TS_1996_07 = 836179200  # 1996-07-01
_TS_1996_03 = 825638400  # 1996-03-01
_TS_1996_04 = 828316800  # 1996-04-01


# --------------------------------------------------------------------- #
# q4 shape: EXISTS → left-semi join
# --------------------------------------------------------------------- #


def _q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders in H1-1996 having at least one returned line item, counted by
    priority.  The EXISTS becomes an explicit ``left_semi`` join — one
    shuffle on the join key, duplicate-safe without a distinct."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _cut(_TS_1996_01))
        & (F.col("o_orderdate") < _cut(_TS_1996_07))
    )
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


_register(
    "tpch_q4_semi",
    Query(
        spark=_q4,
        sql="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# q13 shape: left outer join + two-level aggregation
# --------------------------------------------------------------------- #


def _q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of order counts per customer, customers with zero orders
    included via the left outer join (their count comes from counting the
    right side's key, which is NULL for unmatched rows)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") != "P"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


_register(
    "tpch_q13_outer",
    Query(
        spark=_q13,
        sql="""
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
  GROUP BY 1
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# q14 shape: conditional aggregation over a broadcast join
# --------------------------------------------------------------------- #


def _q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promo revenue share for March 1996.  ``part`` (2k rows) is broadcast;
    the month filter prunes the lineitem scan before the join."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _cut(_TS_1996_03))
        & (F.col("l_shipdate") < _cut(_TS_1996_04))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    out = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev)
            ).alias("promo_revenue")
        )
    )
    return out.select(round4(F.col("promo_revenue")).alias("promo_revenue"))


_register(
    "tpch_q14_promo",
    Query(
        spark=_q14,
        sql=f"""
SELECT {_r(
    "100.0 * sum(CASE WHEN p_type = 'PROMO' "
    "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) "
    "/ sum(l_extendedprice * (1 - l_discount))",
    "promo_revenue",
)}
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01'
  AND l_shipdate < TIMESTAMP '1996-04-01'""",
    ),
)


# --------------------------------------------------------------------- #
# q16 shape: NOT EXISTS → left-anti join
# --------------------------------------------------------------------- #


def _q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts never shipped as a returned line item, counted per (brand,
    type).  NOT EXISTS = ``left_anti``; the part side stays small so the
    anti join broadcasts the *filtered key set* is wrong — the big side is
    lineitem, so we anti-join part (small) against the distinct-free
    returned keys: Catalyst broadcasts part and streams lineitem."""
    part = load_table(spark, sf_dir, "part")
    returned = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 40))
        .select("l_partkey")
    )
    return (
        part.join(returned, part.p_partkey == returned.l_partkey, "left_anti")
        .groupBy("p_brand", "p_type")
        .agg(F.count(F.lit(1)).alias("part_count"))
    )


_register(
    "tpch_q16_anti",
    Query(
        spark=_q16,
        sql="""
SELECT p_brand, p_type, count(*) AS part_count
FROM part
WHERE NOT EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_partkey = p_partkey AND l_returnflag = 'R' AND l_quantity >= 40)
GROUP BY 1, 2""",
    ),
)


# --------------------------------------------------------------------- #
# q19 shape: disjunction of conjunctions (OR-of-ANDs pushdown)
# --------------------------------------------------------------------- #


def _q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from three brand/size/quantity bands OR-ed together.  The
    disjunction references both sides of the join, so it can't be pushed
    below the join — but the common conjuncts (quantity ceiling, size floor)
    can, and the part side is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    out = j.filter(band).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    return out.select(round4(F.col("rev")).alias("revenue"))


_register(
    "tpch_q19_disjunct",
    Query(
        spark=_q19,
        sql=f"""
SELECT {_r("sum(l_extendedprice * (1 - l_discount))", "revenue")}
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)""",
    ),
)


# --------------------------------------------------------------------- #
# q22 shape: scalar subquery + NOT EXISTS anti join
# --------------------------------------------------------------------- #


def _q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Well-funded customers (balance above the positive-balance average)
    with no urgent orders, summarized per nation.  The scalar average is a
    one-row broadcast (cross join); the NOT EXISTS is a left-anti join on
    o_custkey."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    no_orders = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        no_orders.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("c_acctbal").alias("totacctbal"),
        )
        .select(
            "c_nationkey",
            "numcust",
            round4(F.col("totacctbal")).alias("totacctbal"),
        )
    )


_register(
    "tpch_q22_scalar_anti",
    Query(
        spark=_q22,
        sql=f"""
SELECT c_nationkey, count(*) AS numcust,
  {_r("sum(c_acctbal)", "totacctbal")}
FROM customer
WHERE c_acctbal > (
    SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# q15 shape: aggregate → scalar-subquery max filter
# --------------------------------------------------------------------- #


def _q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier(s) by H1-1996 revenue.  The per-supplier aggregate is
    computed once and reused for both the max (one-row broadcast) and the
    filter — Spark evaluates the cheap agg twice rather than caching, which
    is the right trade at scale (re-scan beats a materialization barrier)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _cut(_TS_1996_01))
        & (F.col("l_shipdate") < _cut(_TS_1996_07))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            round4(F.col("total_revenue")).alias("total_revenue"),
        )
    )


_register(
    "tpch_q15_top_supplier",
    Query(
        spark=_q15,
        sql=f"""
WITH rev AS (
  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-07-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, {_r("total_revenue", "total_revenue")}
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
    ),
)


_TS_1997_01 = 852076800  # 1997-01-01
_TS_1998_01 = 883612800  # 1998-01-01


# --------------------------------------------------------------------- #
# q2 shape: correlated scalar MIN subquery over the dimension chain
# --------------------------------------------------------------------- #


def _q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EUROPE suppliers whose balance equals their nation's minimum.  The
    correlated ``MIN`` decorrelates to a per-nation aggregate joined back on
    (nationkey, balance) — everything is dimension-sized, so both the agg
    input and the join are broadcast; no fact-table scan at all."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_nationkey", "n_name")
    )
    min_bal = eu.groupBy(F.col("n_nationkey").alias("_nk")).agg(
        F.min("s_acctbal").alias("_min_bal")
    )
    return (
        eu.join(
            F.broadcast(min_bal),
            (eu.n_nationkey == min_bal._nk) & (eu.s_acctbal == min_bal._min_bal),
        )
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            round4(F.col("s_acctbal")).alias("s_acctbal"),
        )
    )


_register(
    "tpch_q2_min_subquery",
    Query(
        spark=_q2,
        sql=f"""
SELECT s_suppkey, s_name, n.n_name AS n_name, {_r("s_acctbal", "s_acctbal")}
FROM supplier s, nation n, region r
WHERE s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'EUROPE'
  AND s.s_acctbal = (
    SELECT min(s2.s_acctbal)
    FROM supplier s2, nation n2, region r2
    WHERE s2.s_nationkey = n2.n_nationkey
      AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE'
      AND n2.n_nationkey = n.n_nationkey)""",
    ),
)


# --------------------------------------------------------------------- #
# q7 shape: two-role dimension + disjunctive nation-pair filter
# --------------------------------------------------------------------- #


def _q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipped between NATION_1 and NATION_2 (either direction), by
    (supplier nation, customer nation, ship year).  ``nation`` joins twice
    under different roles; pre-filtering each role to the two nations keeps
    the disjunction a cheap broadcast-side predicate, and the fact table
    shuffles only for the orders join."""
    nations = F.col("n_name").isin("NATION_1", "NATION_2")
    n1 = load_table(spark, sf_dir, "nation").filter(nations)
    n2 = load_table(spark, sf_dir, "nation").filter(nations)
    sup = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == n1.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == n2.n_nationkey
    ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _cut(_TS_1996_01))
        & (F.col("l_shipdate") < _cut(_TS_1998_01))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    j = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        j.groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
        )
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            round4(F.col("_rev")).alias("revenue"),
        )
    )


_register(
    "tpch_q7_volume",
    Query(
        spark=_q7,
        sql=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS INT) AS l_year,
  {_r("sum(l_extendedprice * (1 - l_discount))", "revenue")}
FROM supplier, lineitem, orders, customer, nation n1, nation n2
WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
  AND c_custkey = o_custkey
  AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3""",
    ),
)


# --------------------------------------------------------------------- #
# q8 shape: market-share ratio (conditional sum / sum)
# --------------------------------------------------------------------- #


def _q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of ECONOMY-part volume sold to EUROPE customers,
    per order year.  Five joins, every dimension broadcast; the ratio is a
    conditional sum over the same rows, so it adds no extra pass."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_nat = nat.join(
        F.broadcast(reg), nat.n_regionkey == reg.r_regionkey
    ).select(F.col("n_nationkey").alias("_eu_nk"))
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(eu_nat), F.col("c_nationkey") == F.col("_eu_nk")
    ).select("c_custkey")
    sup = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nat.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)).alias("_n"),
            F.sum(vol).alias("_d"),
        )
        .select("o_year", round4(F.col("_n") / F.col("_d")).alias("mkt_share"))
    )


_register(
    "tpch_q8_market_share",
    Query(
        spark=_q8,
        sql=f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
  {_r(
      "sum(CASE WHEN n1.n_name = 'NATION_3' "
      "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) "
      "/ sum(l_extendedprice * (1 - l_discount))",
      "mkt_share",
  )}
FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
  AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey
  AND r_name = 'EUROPE' AND s_nationkey = n1.n_nationkey
  AND p_type = 'ECONOMY'
GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# q9 shape: LIKE filter + profit rollup by (nation, year)
# --------------------------------------------------------------------- #


def _q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on ``bolt`` parts by supplier nation and order year.  The
    schema has no partsupp supplycost, so cost is proxied as 10% of retail
    price × quantity (same expression on both sides).  The LIKE filter
    prunes the broadcast part side before the fact join."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%bolt%")
    ).select("p_partkey", "p_retailprice")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.lit(0.1) * F.col("l_quantity")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.sum(amount).alias("_p"))
        .select("nation", "o_year", round4(F.col("_p")).alias("sum_profit"))
    )


_register(
    "tpch_q9_profit",
    Query(
        spark=_q9,
        sql=f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
  {_r(
      "sum(l_extendedprice * (1 - l_discount) "
      "- p_retailprice * 0.1 * l_quantity)",
      "sum_profit",
  )}
FROM part, supplier, lineitem, orders, nation
WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
  AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
  AND p_name LIKE '%bolt%'
GROUP BY 1, 2""",
    ),
)


# --------------------------------------------------------------------- #
# q10 shape: returned-item revenue, deterministic top-20
# --------------------------------------------------------------------- #


def _q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers ranked by revenue lost to returns in H1-1996, top 20.
    ``LIMIT`` after a float sort is nondeterministic under ties, so the
    cut is a rank with an explicit c_custkey tiebreak — same window in the
    oracle.  The per-customer agg shuffles once on custkey; the final
    rank's single-partition sort sees only #customers rows (post-agg), not
    the fact table."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _cut(_TS_1996_01))
        & (F.col("o_orderdate") < _cut(_TS_1997_01))
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_nationkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_rev")
        )
    )
    w = Window.orderBy(F.col("_rev").desc(), F.col("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            "rank",
            round4(F.col("_rev")).alias("revenue"),
        )
    )


_register(
    "tpch_q10_returned_topk",
    Query(
        spark=_q10,
        sql=f"""
WITH rev AS (
  SELECT c_custkey, c_name, c_nationkey,
    sum(l_extendedprice * (1 - l_discount)) AS _rev
  FROM lineitem, orders, customer
  WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2, 3
)
SELECT c_custkey, c_name, c_nationkey,
  CAST(rank AS INT) AS rank, {_r("_rev", "revenue")}
FROM (
  SELECT *, row_number() OVER (ORDER BY _rev DESC, c_custkey) AS rank
  FROM rev
) WHERE rank <= 20""",
    ),
)


# --------------------------------------------------------------------- #
# q11 shape: HAVING vs a scalar subquery of the same aggregate
# --------------------------------------------------------------------- #


def _q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value exceeds 0.07% of total shipped value (the
    partsupp-less analogue of q11's share-of-stock filter).  One aggregate
    pass; the global total re-aggregates the *grouped* result (2k rows),
    not the fact table, and returns as a one-row broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("_v")
    )
    total = val.agg((F.sum("_v") * F.lit(0.0007)).alias("_thresh"))
    return (
        val.crossJoin(F.broadcast(total))
        .filter(F.col("_v") > F.col("_thresh"))
        .select("l_partkey", round4(F.col("_v")).alias("part_value"))
    )


_register(
    "tpch_q11_value_share",
    Query(
        spark=_q11,
        sql=f"""
WITH val AS (
  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS _v
  FROM lineitem GROUP BY 1
)
SELECT l_partkey, {_r("_v", "part_value")}
FROM val
WHERE _v > (SELECT sum(_v) * 0.0007 FROM val)""",
    ),
)


# --------------------------------------------------------------------- #
# q12 shape: interval lateness + conditional counts
# --------------------------------------------------------------------- #


def _q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line items shipped more than 60 days after the order date in 1996,
    split into high/low-priority counts per line status (the commit/receipt
    lateness of q12, re-expressed with the dates that exist).  Interval
    arithmetic on instants is timezone-free; both conditional counts ride
    the same aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _cut(_TS_1996_01))
        & (F.col("l_shipdate") < _cut(_TS_1997_01))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    late = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return late.groupBy("l_linestatus").agg(
        F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
        F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
    )


_register(
    "tpch_q12_lateness",
    Query(
        spark=_q12,
        sql="""
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY 1""",
    ),
)


# --------------------------------------------------------------------- #
# q17 shape: correlated AVG subquery (small-quantity outliers)
# --------------------------------------------------------------------- #


def _q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from Brand#5 line items whose quantity is below 20% of that
    part's average quantity.  The correlated AVG decorrelates into one
    per-part aggregate over the *unfiltered* fact table (the subquery is
    not brand-scoped), broadcast back — the fact table is scanned twice but
    shuffled only once (the avg), and the second scan joins two broadcast
    sides with zero exchanges."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#5"
    ).select("p_partkey")
    avg_qty = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.avg("l_quantity") * F.lit(0.2)).alias("_cap")
    )
    out = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < F.col("_cap"))
        .agg((F.sum("l_extendedprice") / F.lit(7.0)).alias("_a"))
    )
    return out.select(round4(F.col("_a")).alias("avg_yearly"))


_register(
    "tpch_q17_small_qty",
    Query(
        spark=_q17,
        sql=f"""
SELECT {_r("sum(l_extendedprice) / 7.0", "avg_yearly")}
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#5'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p_partkey)""",
    ),
)


# --------------------------------------------------------------------- #
# q20 shape: nested semi-join chain
# --------------------------------------------------------------------- #


def _q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers that shipped more than 50 units of any single ``red`` part
    during 1996.  Inner query: fact-table group by (supplier, part) with a
    HAVING, itself semi-filtered by the LIKE'd part dimension; outer: semi
    join into supplier.  The chain collapses to one fact shuffle on the
    composite key; both semi probes are broadcast."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _cut(_TS_1996_01))
        & (F.col("l_shipdate") < _cut(_TS_1997_01))
    )
    heavy = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("_qty"))
        .filter(F.col("_qty") > 50.0)
        .select("l_suppkey")
    )
    sup = load_table(spark, sf_dir, "supplier")
    return (
        sup.join(heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


_register(
    "tpch_q20_semi_chain",
    Query(
        spark=_q20,
        sql="""
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(l_quantity) > 50.0)""",
    ),
)


# --------------------------------------------------------------------- #
# q21 shape: EXISTS + NOT EXISTS with non-equi correlation
# --------------------------------------------------------------------- #


def _q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who alone were late on a finished multi-supplier order
    (late = shipped >90 days after the order date).  The EXISTS (another
    supplier participated) is a left-semi self-join on orderkey with a
    suppkey inequality; the NOT EXISTS (no *other* supplier was also late)
    is a left-anti with the lateness bound correlated through the outer
    row's order date.  Both probe sides reuse the same orderkey shuffle of
    the fact table."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return _q21_core(li, orders, sup)


_Q21_SQL = """
SELECT s_name, count(*) AS numwait
FROM supplier, lineitem l1, orders
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY 1"""

_register(
    "tpch_q21_lone_late",
    Query(spark=_q21, sql=_Q21_SQL),
)


def _q21_core(li: DataFrame, orders_all: DataFrame, sup: DataFrame) -> DataFrame:
    """q21 plan shared by the plain and bucketed variants — all three fact
    joins key on orderkey, so co-located inputs run them shuffle-free."""
    orders = orders_all.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select(
            F.col("l_orderkey").alias("_ok"),
            F.col("l_suppkey").alias("_sk"),
            F.col("o_orderdate").alias("_od"),
        )
    )
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("_ok3"),
        F.col("l_suppkey").alias("_sk3"),
        F.col("l_shipdate").alias("_sd3"),
    )
    waited = (
        l1.join(
            l2,
            (F.col("_ok") == F.col("_ok2")) & (F.col("_sk") != F.col("_sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("_ok") == F.col("_ok3"))
            & (F.col("_sk") != F.col("_sk3"))
            & (F.col("_sd3") > F.col("_od") + F.expr("INTERVAL 90 DAYS")),
            "left_anti",
        )
    )
    return (
        waited.join(F.broadcast(sup), F.col("_sk") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize lineitem + orders as orderkey-bucketed managed tables
    (once per sf dir; reused across queries and sessions via the
    spark-warehouse catalog).  Bucketing both facts identically is the
    100 TB co-location story: every orderkey equi-join between them —
    q21's three, q18's, q4's — then plans ZERO fact-side exchanges; the
    one-time write amortizes over every such query.  8 buckets at test
    scale; at 100 TB size buckets to ~executor-memory shares (e.g. 4096).

    Staleness guard: rewrite when the cataloged row count no longer
    matches the parquet source (regenerated testdata)."""
    from ..sources.io import write_bucketed_table

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_").replace("-", "_")
    li_t, ord_t = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    for tname, table, key in ((li_t, "lineitem", "l_orderkey"), (ord_t, "orders", "o_orderkey")):
        src = load_table(spark, sf_dir, table)
        if (
            spark.catalog.tableExists(tname)
            and spark.table(tname).count() == src.count()
        ):
            continue
        if not spark.catalog.tableExists(tname):
            # The default in-memory catalog forgets managed tables between
            # sessions while their warehouse location survives on disk;
            # saveAsTable then fails with LOCATION_ALREADY_EXISTS.  Clear
            # the orphaned location (Hadoop FS API — works on any
            # filesystem, not just file:) before recreating.  A persistent
            # metastore makes this a no-op.
            jvm = spark._jvm
            wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
            path = jvm.org.apache.hadoop.fs.Path(f"{wh}/{tname.lower()}")
            fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(path, True)
        write_bucketed_table(src, tname, (key,), 8, sort_cols=(key,))
    return li_t, ord_t


def _q21_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result (and oracle) as ``tpch_q21_lone_late``, read from the
    orderkey-bucketed tables: the three fact joins run with no exchange —
    the only shuffle left is the final tiny s_name aggregate
    (plan-pinned in tests/test_bucketing.py)."""
    li_t, ord_t = bucketed_fact_tables(spark, sf_dir)
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return _q21_core(spark.table(li_t), spark.table(ord_t), sup)


_register(
    "tpch_q21_bucketed",
    Query(spark=_q21_bucketed, sql=_Q21_SQL),
)


# --------------------------------------------------------------------- #
# Bloom-prefiltered semi join
# --------------------------------------------------------------------- #

BLOOM_M, BLOOM_K = 1 << 16, 4


def _bloom_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    j = joins.bloom_semi_join(
        li, urgent, "l_orderkey", m_bits=BLOOM_M, n_hashes=BLOOM_K
    )
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        round4(F.sum("l_quantity")).alias("sum_qty"),
    )


_register(
    "join_bloom_prefilter",
    Query(
        spark=_bloom_spark,
        sql=f"""
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
  {_r('sum(l_quantity)', 'sum_qty')}
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
)
GROUP BY l_returnflag""",
    ),
)


# --------------------------------------------------------------------- #
# Z-order (Morton) layout clustering
# --------------------------------------------------------------------- #

Z_BITS, Z_CELL_SHIFT = 8, 10  # 16-bit z-key → 64 cells


def _zorder_sql_key(x: str, y: str) -> str:
    terms = []
    for j in range(Z_BITS):
        terms.append(f"((({x} >> {j}) & 1) << {2 * j})")
        terms.append(f"((({y} >> {j}) & 1) << {2 * j + 1})")
    return " + ".join(terms)


def _zorder_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..scale import zorder_key

    o = load_table(spark, sf_dir, "orders")
    xb = F.pmod(F.col("o_custkey"), F.lit(256)).cast("long")
    yb = F.pmod(
        F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1, F.lit(256)
    ).cast("long")
    zk = zorder_key([xb, yb], bits=Z_BITS)
    cells = o.select(
        xb.alias("xb"), yb.alias("yb"), F.shiftright(zk, Z_CELL_SHIFT).alias("zcell")
    )
    return cells.groupBy("zcell").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("xb").alias("x_min"),
        F.max("xb").alias("x_max"),
        F.min("yb").alias("y_min"),
        F.max("yb").alias("y_max"),
    )


_register(
    "layout_zorder_orders",
    Query(
        spark=_zorder_spark,
        sql=f"""
WITH b AS (
  SELECT CAST(o_custkey % 256 AS BIGINT) AS xb,
    CAST((year(o_orderdate) * 12 + month(o_orderdate) - 1) % 256 AS BIGINT)
      AS yb
  FROM orders
),
z AS (
  SELECT xb, yb,
    CAST(({_zorder_sql_key('xb', 'yb')}) AS BIGINT) >> {Z_CELL_SHIFT} AS zcell
  FROM b
)
SELECT zcell, CAST(count(*) AS BIGINT) AS n_rows,
  min(xb) AS x_min, max(xb) AS x_max,
  min(yb) AS y_min, max(yb) AS y_max
FROM z GROUP BY zcell""",
    ),
)


# --------------------------------------------------------------------- #
# Market-basket part pairs (a-priori 2-itemset pass over orders):
# support + lift for parts bought together — the classic co-occurrence
# mining shape on the relational side.
# --------------------------------------------------------------------- #

BK_MIN_SUPP, BK_TOPK = 3, 30


def _basket_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: one distinct (order, part) projection; the pair
    self-join is keyed on the ORDER (baskets are small — ≤7 lineitems in
    TPC-H — so per-basket pair fan-out is bounded, the opposite regime
    from the token posting lists); item supports broadcast onto the
    min-support-pruned pair table; top-k by TakeOrdered."""
    from pyspark.sql import Window

    # four consumers (n_orders, both self-join sides, item supports)
    # read this distinct projection — materialize it once
    # (materialize.shared: checkpoint blocks free with the result, no
    # session-lifetime cache entry — ADVICE r7)
    from ..functions.materialize import shared

    li = shared(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
    )
    n_orders = li.select(F.count_distinct("ok").alias("n"))
    pairs = (
        li.alias("a")
        .join(li.alias("b"), "ok")
        .filter(F.col("a.pk") < F.col("b.pk"))
        .groupBy(F.col("a.pk").alias("pa"), F.col("b.pk").alias("pb"))
        .agg(F.count(F.lit(1)).alias("supp"))
        .filter(F.col("supp") >= BK_MIN_SUPP)
    )
    item = li.groupBy("pk").agg(F.count(F.lit(1)).alias("isupp"))
    lift = (
        F.col("supp").cast("double")
        * F.col("n").cast("double")
        / (F.col("sa").cast("double") * F.col("sb").cast("double"))
    )
    scored = (
        pairs.join(
            F.broadcast(item.select(F.col("pk").alias("pa"), F.col("isupp").alias("sa"))),
            "pa",
        )
        .join(
            F.broadcast(item.select(F.col("pk").alias("pb"), F.col("isupp").alias("sb"))),
            "pb",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            F.col("supp").cast("long").alias("supp"),
            round4(lift).alias("lift"),
        )
    )
    top = scored.orderBy(
        F.col("supp").desc(), F.col("pa"), F.col("pb")
    ).limit(BK_TOPK)
    win = Window.orderBy(F.col("supp").desc(), F.col("pa"), F.col("pb"))
    return top.withColumn(
        "rank", F.row_number().over(win).cast("long")
    ).select("rank", "pa", "pb", "supp", "lift")


_BASKET_SQL = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
nn AS (SELECT count(DISTINCT ok) AS n FROM li),
pairs AS (
  SELECT a.pk AS pa, b.pk AS pb, count(*) AS supp
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2 HAVING count(*) >= {BK_MIN_SUPP}
),
item AS (SELECT pk, count(*) AS isupp FROM li GROUP BY pk),
scored AS (
  SELECT p.pa, p.pb, CAST(p.supp AS BIGINT) AS supp,
    floor(CAST(p.supp AS DOUBLE) * CAST(nn.n AS DOUBLE)
          / (CAST(ia.isupp AS DOUBLE) * CAST(ib.isupp AS DOUBLE))
          * 1e4 + 0.500000001) / 1e4 AS lift
  FROM pairs p
  JOIN item ia ON ia.pk = p.pa
  JOIN item ib ON ib.pk = p.pb, nn
)
SELECT CAST(row_number() OVER (ORDER BY supp DESC, pa, pb) AS BIGINT)
    AS rank,
  pa, pb, supp, lift
FROM scored ORDER BY supp DESC, pa, pb LIMIT {BK_TOPK}"""


_register(
    "basket_part_pairs",
    Query(spark=_basket_spark, sql=_BASKET_SQL),
)

"""Extended TPC-H query shapes (SURVEY.md §2.B4/B6 breadth).

Completes the TPC-H-shaped coverage over the fixture schema: market
share (q8), product profit (q9), top-supplier view (q15), supplier
count per part class (q16), large orders (q18), waiting suppliers
(q21), idle customers (q22). The fixture omits partsupp and trims some
columns (TESTDATA.md), so each query keeps its reference plan shape —
the joins, the correlated-subquery pattern, the aggregation structure —
over the columns that exist. q2/q11/q20 are partsupp-centric in the
spec; their defining *shapes* (correlated scalar-MIN equality, global-
aggregate scalar-subquery threshold, nested-IN chain) are expressed
below over supplier/lineitem/part, completing all 22 TPC-H patterns.

Scale notes (SCALING.md): only nation/region carry broadcast hints
(bounded cardinality); customer/supplier/part joins are unhinted so AQE
chooses broadcast vs shuffle from observed sizes (VERDICT r1 finding
5). The EXISTS / NOT EXISTS correlated subqueries of q21/q22 are
rewritten as aggregation joins — the Spark-first form: one shuffle per
aggregation instead of a per-row correlated probe, and no re-scan of
the fact table per subquery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from argodb_mapreduce_spark.catalog import load_table
from argodb_mapreduce_spark.functions.oracle_safe import dsum, sql_dsum
from argodb_mapreduce_spark.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@register(
    "q8_market_share",
    oracle=f"""
    SELECT o_year,
           {sql_dsum('cust_volume', 6)} / {sql_dsum('volume', 6)} AS mkt_share
    FROM (
      SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             CASE WHEN n2.n_name = 'NATION_3' THEN l_extendedprice * (1 - l_discount)
                  ELSE 0.0 END AS cust_volume
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN part     ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    ) all_sales
    GROUP BY o_year
    """,
    tags=("join", "tpch"),
    doc=(
        "TPC-H q8 shape: nation market share within a region/part-class "
        "slice — an 8-table snowflake with a conditional volume split. "
        "nation/region broadcast (bounded); the four fact-scaling joins "
        "are AQE-decided. Reference capability: README.md:36-44 job "
        "composition."
    ),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_regionkey").alias("s_rkey")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cust_volume = F.when(F.col("cust_nation") == "NATION_3", volume).otherwise(F.lit(0.0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .join(F.broadcast(r), F.col("s_rkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg((dsum(cust_volume, 6) / dsum(volume, 6)).alias("mkt_share"))
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
           {sql_dsum('l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity * 0.1', 6)} AS profit
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, CAST(YEAR(o_orderdate) AS INT)
    """,
    tags=("join", "tpch"),
    doc=(
        "TPC-H q9 shape: profit by supplier nation and year over a "
        "LIKE-filtered part slice. partsupp is absent from the fixture, "
        "so supply cost is p_retailprice-derived (same per-row double "
        "expression both engines → exact-decimal sum)."
    ),
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col("p_retailprice") * F.col(
        "l_quantity"
    ) * F.lit(0.1)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(dsum(profit, 6).alias("profit"))
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
    tags=("join", "subquery", "tpch"),
    doc=(
        "TPC-H q15 shape: supplier(s) achieving the maximum quarterly "
        "revenue — a derived view joined against its own MAX. The MAX is "
        "a single-row aggregate broadcast into the filter; the exact-"
        "decimal revenue makes double equality safe across engines."
    ),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "q16_supplier_cnt",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' AND p_size IN (1, 4, 9, 16, 25)
    GROUP BY p_brand, p_type, p_size
    """,
    tags=("join", "agg", "tpch"),
    doc=(
        "TPC-H q16 shape: distinct supplier count per part class with "
        "NOT-equal exclusions and an IN size list. partsupp is absent, so "
        "the supplier-part relationship comes from lineitem — same "
        "distinct-count aggregation structure (two-phase: distinct "
        "partial, then count)."
    ),
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q18_large_orders",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum('l_quantity', 2)} AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
    tags=("join", "subquery", "tpch"),
    doc=(
        "TPC-H q18 shape: orders whose total quantity exceeds a "
        "threshold, top-100 by price. The IN aggregate subquery and the "
        "outer per-order quantity sum are the SAME per-order aggregate "
        "(the rollup groups by o_orderkey, and o_orderkey and c_custkey "
        "are unique), so orders inner-joins the HAVING aggregation and "
        "takes sum_qty from it: lineitem is scanned and aggregated once, "
        "with no second lineitem join and no rollup exchange. The oracle "
        "keeps the textbook form and checks the rewrite."
    ),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 250)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "q21_waiting_supplier",
    oracle="""
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey,
             MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS is_late
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderstatus = 'F'
      GROUP BY l.l_orderkey, l.l_suppkey
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.is_late = 1
      AND EXISTS (SELECT 1 FROM late l2
                  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.is_late = 1)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 20
    """,
    tags=("join", "subquery", "tpch"),
    doc=(
        "TPC-H q21 shape: suppliers who alone were late on multi-supplier "
        "finalized orders (lateness adapted to l_shipdate > o_orderdate + "
        "60d — the fixture has no commit/receipt dates). The correlated "
        "EXISTS / NOT EXISTS pair is rewritten as one per-order "
        "aggregation joined back — a single extra shuffle instead of two "
        "correlated fact-table probes, the scale-out form of the query."
    ),
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    late_flag = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"), 1
    ).otherwise(0)
    per_supp = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late_flag).alias("is_late"))
    )
    # Per-order stats as a window over the per-supplier aggregate: one
    # repartition on l_orderkey instead of a second groupBy + join back
    # (2 shuffles total, no join — the EXISTS/NOT EXISTS pair collapses
    # into two windowed counts).
    w = Window.partitionBy("l_orderkey")
    waiting = (
        per_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn("n_late_supp", F.sum("is_late").over(w))
        .filter((F.col("is_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        waiting.join(s, waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


@register(
    "q22_idle_customers",
    oracle="""
    WITH eligible AS (
      SELECT c_custkey, c_acctbal, c_nationkey % 5 AS cntrycode
      FROM customer
      WHERE c_nationkey % 5 IN (0, 1, 2)
        AND c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                         WHERE c_acctbal > 0 AND c_nationkey % 5 IN (0, 1, 2))
    )
    SELECT cntrycode, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS totacctbal
    FROM eligible e
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = e.c_custkey AND o_totalprice > 350000)
    GROUP BY cntrycode
    """,
    tags=("join", "subquery", "tpch"),
    doc=(
        "TPC-H q22 shape: above-average-balance customers with no "
        "qualifying orders, grouped by a derived country code (nationkey "
        "mod — the fixture has no phone column). The scalar AVG subquery "
        "becomes a broadcast single-row join; the NOT EXISTS becomes a "
        "left-anti join against the filtered orders — both shuffle-free "
        "on the probe side at any scale. The average compares raw doubles "
        "because both engines compute AVG over the identical value set "
        "only as a filter threshold (ties at the exact average are "
        "impossible for this data), while the exposed sum uses the "
        "exact-decimal convention."
    ),
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    code = F.col("c_nationkey") % 5
    pool = c.filter(code.isin(0, 1, 2))
    avg_bal = pool.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double") / F.count("c_acctbal")
        ).alias("avg_bal")
    )
    eligible = (
        pool.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", "c_acctbal", code.alias("cntrycode"))
    )
    big_orders = o.filter(F.col("o_totalprice") > 350000).select("o_custkey")
    return (
        eligible.join(big_orders, eligible.c_custkey == big_orders.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "q2_min_cost_supplier",
    oracle="""
    SELECT n_name, s_suppkey, s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND s_acctbal = (SELECT MIN(s2.s_acctbal) FROM supplier s2
                       WHERE s2.s_nationkey = supplier.s_nationkey)
    """,
    tags=("join", "tpch", "subquery"),
    doc=(
        "TPC-H q2 shape over the fixture schema (partsupp is absent — "
        "TESTDATA.md): the defining pattern is the correlated scalar-MIN "
        "subquery ('the supplier achieving the per-group minimum') plus "
        "dim joins. Here: per nation in ASIA, the supplier(s) with the "
        "minimum account balance. Spark-first decorrelation: a window MIN "
        "over the correlation key replaces the per-row subquery probe — "
        "one shuffle on s_nationkey instead of a rescan per outer row; "
        "the equality compares the *selected* double (no arithmetic), so "
        "it is engine-independent. Reference: README.md:36-44 job "
        "composition."
    ),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    w = Window.partitionBy("s_nationkey")
    s_min = s.withColumn("min_bal", F.min("s_acctbal").over(w)).filter(
        F.col("s_acctbal") == F.col("min_bal")
    )
    return (
        s_min.join(F.broadcast(n), s_min.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("n_name", "s_suppkey", "s_name", "s_acctbal")
    )


@register(
    "q11_important_stock",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey, {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS value
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (
      SELECT {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS total,
             COUNT(DISTINCT l_partkey) AS nparts
      FROM lineitem
    )
    SELECT l_partkey, value FROM pv, tot WHERE value > total / nparts * 1.2
    """,
    tags=("agg", "tpch", "subquery"),
    doc=(
        "TPC-H q11 shape (partsupp absent): groups whose aggregate value "
        "exceeds 1.2x the mean per-group share of the *global* aggregate "
        "(scale-invariant, unlike a fixed fraction) — the scalar-"
        "subquery-threshold pattern. Spark-first: the global total is a "
        "1-row aggregate broadcast-cross-joined to the per-group "
        "aggregate (no second scan per row, no driver collect). Both "
        "sums go through exact-decimal summation, so the threshold "
        "comparison sees identical doubles in both engines at any "
        "parallelism."
    ),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    value = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pv = li.groupBy("l_partkey").agg(dsum(value, 6).alias("value"))
    tot = li.agg(
        dsum(value, 6).alias("total"),
        F.countDistinct("l_partkey").alias("nparts"),
    )
    return (
        pv.join(F.broadcast(tot))
        .filter(F.col("value") > F.col("total") / F.col("nparts") * 1.2)
        .select("l_partkey", "value")
    )


@register(
    "q20_potential_promotion",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_1', 'NATION_3', 'NATION_5')
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 90
      )
    """,
    tags=("join", "tpch", "subquery"),
    doc=(
        "TPC-H q20 shape (partsupp absent): the nested-IN chain — "
        "suppliers who moved more than a threshold quantity of some "
        "promo-class part in a window. Spark-first: each IN becomes a "
        "LEFT SEMI join (part-filter semi-join pushed into the lineitem "
        "scan side first, so the grouped aggregate only sees promo "
        "rows); the quantity HAVING uses exact decimal sums. No "
        "correlated re-scan, two shuffles total (group-by + final "
        "semi)."
    ),
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_3", "NATION_5")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp")
    )
    promo = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    moved = (
        li.join(promo, li.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 90)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(moved, s.s_suppkey == moved.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )

"""R16_POOL registration batch (round 14): first-time queries for the
round-16 window rotation, one module for the whole round (the r13
verdict hygiene contract). Families: relational joins / quantified
subqueries / set ops (intra-nation trade shares, >ALL screens,
INTERSECT legs, WITH-TIES top-k), window sequences and technical
indicators (SMA crossover, turning points, leave-one-out z-scores,
rolling-30d peak, YoY monthly deltas, rescaled-range Hurst), exact
order-statistic and association stats (Bowley skewness, quartile
dispersion, Pearson's second skewness, Friedman, Cohen's kappa,
Goodman-Kruskal gamma), heavy-user shares and position-based
attribution on events, tail percentiles through the partition-bounded
quantile machinery, token/bag text screens, integer-quantized
embedding profiles, privacy/quality/pipeline audits (l-diversity,
freshness, Neyman allocation), a zstd parquet sink leg, streaming
twins (windowed top-k, window shares), and four graph goldens (Wiener
index, triad census, bipartite checks, exact-rational Katz).

All parity-verified at sf0.001/0.01/0.1 at registration; every query
is partition-invariant (exact integer/decimal folds, integer-exact
banding, or rounded-term decimal sums ahead of any float reduction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from distributed_graph_database_system_spark.operators.prefix import (
    partitioned_prefix_sum,
)
from distributed_graph_database_system_spark.operators.quantile import (
    _qcolname,
    group_quantiles_disc,
)
from distributed_graph_database_system_spark.queries.helpers import (
    dec,
    scratch_dir,
)
from distributed_graph_database_system_spark.queries.registry import query
from distributed_graph_database_system_spark.sources.catalog import load_table


# --- lateral-style top-2 lines per order ------------------------------------------------


@query(
    "orders_top2_lines_price_ratio",
    oracle="""
    WITH c AS (
      SELECT l_orderkey,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             l_linenumber
      FROM lineitem
    ), r AS (
      SELECT l_orderkey, cents,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY cents DESC, l_linenumber) AS rn
      FROM c
    ), p AS (
      SELECT l_orderkey,
             MAX(CASE WHEN rn = 1 THEN cents END) AS p1,
             MAX(CASE WHEN rn = 2 THEN cents END) AS p2
      FROM r WHERE rn <= 2 GROUP BY l_orderkey
    )
    SELECT CAST(p2 * 10 // p1 AS INT) AS ratio_band,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM p WHERE p2 IS NOT NULL
    GROUP BY ratio_band ORDER BY ratio_band
    """,
    tags=("relational", "lateral", "window", "top-k-per-group", "census"),
)
def orders_top2_lines_price_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Runner-up-to-winner price ratio per order — the LATERAL "top 2 per
    parent" shape (DuckDB would write a correlated LATERAL LIMIT 2;
    Spark expresses it as a per-order ROW_NUMBER, partition bounded by
    the ≤7-line order fan-out). Banding is INTEGER division of cents
    (``div(10·p2, p1)``, both prices positive), so no float edge can
    flip a band; band 10 = exact tie."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (dec("l_extendedprice") * 100).cast("bigint").alias("cents"),
        "l_linenumber",
    )
    wr = W.partitionBy("l_orderkey").orderBy(
        F.desc("cents"), "l_linenumber"
    )
    p = (
        li.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= 2)
        .groupBy("l_orderkey")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("cents"))).alias("p1"),
            F.max(F.when(F.col("rn") == 2, F.col("cents"))).alias("p2"),
        )
        .where(F.col("p2").isNotNull())
    )
    return (
        p.select(
            F.expr("div(p2 * 10, p1)").cast("int").alias("ratio_band")
        )
        .groupBy("ratio_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("ratio_band")
    )


# --- intra-nation trade share ------------------------------------------------------------


@query(
    "nation_intra_trade_share",
    oracle="""
    WITH f AS (
      SELECT c.c_nationkey AS cust_nk, s.s_nationkey AS supp_nk,
             CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 10000
                  * (1 - CAST(l.l_discount AS DECIMAL(8,2))) AS BIGINT)
               AS rev_u
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(rev_u) AS DOUBLE) / 10000 AS revenue,
           ROUND(CAST(SUM(CASE WHEN cust_nk = supp_nk THEN rev_u
                               ELSE 0 END) AS DOUBLE)
                 / SUM(rev_u), 6) AS intra_share
    FROM f JOIN nation n ON f.cust_nk = n.n_nationkey
    GROUP BY nation ORDER BY nation
    """,
    tags=("relational", "multi-join", "broadcast", "trade", "share"),
)
def nation_intra_trade_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of each customer nation's purchase revenue supplied from the
    SAME nation — the domestic-sourcing ratio. customer/supplier carry
    NO broadcast hint (they grow with SF — the r13 hint discipline);
    AQE still picks broadcast at fixture scale, and only the bounded
    25-row nation dim is hinted. Discounted revenue folds as exact
    DECIMAL ten-thousandths (2dp price × 2dp discount factor is exactly
    4dp)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    f = (
        li.select(
            "l_orderkey",
            "l_suppkey",
            (
                dec("l_extendedprice")
                * 10000
                * (F.lit(1) - dec("l_discount", 8, 2))
            )
            .cast("bigint")
            .alias("rev_u"),
        )
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
    )
    return (
        f.join(F.broadcast(n), f.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            (F.sum("rev_u").cast("double") / 10000).alias("revenue"),
            F.round(
                F.sum(
                    F.when(
                        F.col("c_nationkey") == F.col("s_nationkey"),
                        F.col("rev_u"),
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("rev_u"),
                6,
            ).alias("intra_share"),
        )
        .orderBy("nation")
    )


# --- quantified >ALL subquery ------------------------------------------------------------


@query(
    "parts_above_all_type_avg_census",
    oracle="""
    WITH ta AS (
      SELECT p_type,
             CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100
                  AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_c
      FROM part GROUP BY p_type
    ), thr AS (SELECT MAX(avg_c) AS t FROM ta)
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN CAST(CAST(p_retailprice AS DECIMAL(12,2))
                              * 100 AS BIGINT) > (SELECT t FROM thr)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above_all,
           ROUND(CAST(SUM(CASE WHEN CAST(CAST(p_retailprice AS
                              DECIMAL(12,2)) * 100 AS BIGINT)
                              > (SELECT t FROM thr)
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS share_above_all
    FROM part GROUP BY p_brand ORDER BY p_brand
    """,
    tags=("relational", "subquery", "quantified-all", "census"),
)
def parts_above_all_type_avg_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parts priced above EVERY type's average price — the quantified
    ``> ALL (SELECT avg ...)`` subquery, decorrelated the way a planner
    does it: ALL over a set of scalars collapses to one scalar MAX,
    broadcast to the probe side. Type averages are exact cents sums over
    the 6-row type domain; the compare is cents > double (one IEEE
    compare, same on both engines)."""
    p = load_table(spark, sf_dir, "part").select(
        "p_brand",
        "p_type",
        (dec("p_retailprice", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    thr = (
        p.groupBy("p_type")
        .agg(
            (F.sum("cents").cast("double") / F.count(F.lit(1))).alias("avg_c")
        )
        .agg(F.max("avg_c").alias("t"))
    )
    return (
        p.crossJoin(F.broadcast(thr))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum(F.when(F.col("cents") > F.col("t"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above_all"),
            F.round(
                F.sum(
                    F.when(F.col("cents") > F.col("t"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("share_above_all"),
        )
        .orderBy("p_brand")
    )


# --- correlated "above its day's average" ------------------------------------------------


@query(
    "orders_above_daily_avg_census",
    oracle="""
    WITH c AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             EXTRACT(YEAR FROM o_orderdate) AS yr,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ), d AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_day,
             CAST(SUM(cents) AS BIGINT) AS s_day
      FROM c GROUP BY day
    )
    SELECT CAST(c.yr AS INT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN c.cents * d.n_day > d.s_day THEN 1 ELSE 0
                    END) AS BIGINT) AS n_above,
           ROUND(CAST(SUM(CASE WHEN c.cents * d.n_day > d.s_day THEN 1
                               ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS share_above
    FROM c JOIN d USING (day)
    GROUP BY c.yr ORDER BY yr
    """,
    tags=("relational", "subquery", "decorrelated", "window-alternative"),
)
def orders_above_daily_avg_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Orders priced above their own day's average — the classic
    correlated scalar subquery (``WHERE price > (SELECT AVG ... same
    day)``), decorrelated into one day-keyed aggregate joined back. The
    compare is cross-multiplied (cents·n > Σcents) so NO division or
    float enters the predicate — integer-exact above/below at any
    scale."""
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date("o_orderdate").alias("day"),
        F.year("o_orderdate").alias("yr"),
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    d = o.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_day"),
        F.sum("cents").alias("s_day"),
    )
    above = (F.col("cents") * F.col("n_day") > F.col("s_day")).cast("int")
    return (
        o.join(d, "day")
        .groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(above).cast("bigint").alias("n_above"),
            F.round(
                F.sum(above).cast("double") / F.count(F.lit(1)), 6
            ).alias("share_above"),
        )
        .orderBy("yr")
    )


# --- same-day multi-order customers --------------------------------------------------------


@query(
    "customers_multi_order_day_census",
    oracle="""
    WITH cd AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_custkey, day
    ), m AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_multi_days
      FROM cd GROUP BY o_custkey
    )
    SELECT n_multi_days, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM m WHERE n_multi_days >= 1
    GROUP BY n_multi_days ORDER BY n_multi_days
    """,
    tags=("relational", "forensic", "duplicate-behavior", "census"),
)
def customers_multi_order_day_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customers placing MULTIPLE orders on one calendar day — the
    split-transaction / fraud-velocity screen. Two exact count
    aggregations (customer-day then customer) and a tiny histogram;
    both shuffles ride the natural grouping keys."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("day")
    )
    cd = o.groupBy("o_custkey", "day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    m = cd.groupBy("o_custkey").agg(
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_multi_days")
    )
    return (
        m.where(F.col("n_multi_days") >= 1)
        .groupBy("n_multi_days")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
        .orderBy("n_multi_days")
    )


# --- revenue per customer by region ---------------------------------------------------------


@query(
    "region_revenue_per_customer",
    oracle="""
    WITH geo AS (
      SELECT c.c_custkey, r.r_name
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    ), rev AS (
      SELECT g.r_name,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders o JOIN geo g ON o.o_custkey = g.c_custkey
      GROUP BY g.r_name
    ), pop AS (
      SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_customers FROM geo
      GROUP BY r_name
    )
    SELECT pop.r_name AS region, pop.n_customers, rev.n_orders,
           CAST(rev.cents AS DOUBLE) / 100 AS revenue,
           ROUND(CAST(rev.cents AS DOUBLE) / 100 / pop.n_customers, 4)
             AS revenue_per_customer
    FROM pop JOIN rev ON pop.r_name = rev.r_name
    ORDER BY region
    """,
    tags=("relational", "two-aggregate-join", "per-capita", "broadcast"),
)
def region_revenue_per_customer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue per customer by region — a per-capita ratio of TWO
    independent aggregates (order revenue vs customer population), the
    shape where joining raw tables first would double-count. Geography
    dims broadcast; the fact aggregate shuffles once on the 5-row
    region key."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    geo = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", (dec("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    rev = (
        o.join(
            geo.select("c_custkey", "r_name"), o.o_custkey == geo.c_custkey
        )
        .groupBy("r_name")
        .agg(
            F.sum("cents").cast("bigint").alias("cents"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        )
    )
    pop = geo.groupBy("r_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    return (
        pop.join(rev, "r_name")
        .select(
            F.col("r_name").alias("region"),
            "n_customers",
            "n_orders",
            (F.col("cents").cast("double") / 100).alias("revenue"),
            F.round(
                F.col("cents").cast("double") / 100 / F.col("n_customers"),
                4,
            ).alias("revenue_per_customer"),
        )
        .orderBy("region")
    )


# --- INTERSECT of derived nation sets -------------------------------------------------------


@query(
    "nations_with_both_cust_supp_intersect",
    oracle="""
    SELECT n_name AS nation FROM (
      SELECT n.n_name
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE c.c_acctbal > 5000
      INTERSECT
      SELECT n.n_name
      FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE s.s_acctbal > 5000
    ) ORDER BY nation
    """,
    tags=("set-ops", "intersect", "relational"),
)
def nations_with_both_cust_supp_intersect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nations with BOTH a high-balance customer and a high-balance
    supplier — INTERSECT of two derived sets (the set-op leg beside the
    EXCEPT / INTERSECT ALL registrations). Catalyst rewrites INTERSECT
    to a left-semi join over distinct inputs; both sides pre-shrink to
    the 25-row nation domain before the set op."""
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 5000)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > 5000)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name")
    )
    return (
        c.intersect(s).select(F.col("n_name").alias("nation")).orderBy("nation")
    )


# --- negative-balance census ---------------------------------------------------------------


@query(
    "customer_negative_balance_census",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative,
           ROUND(CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS negative_share,
           CAST(SUM(CASE WHEN c_acctbal < 0
                    THEN CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100
                         AS BIGINT) ELSE 0 END) AS DOUBLE) / 100
             AS negative_balance_total
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("relational", "credit-risk", "census"),
)
def customer_negative_balance_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Negative-balance (credit-risk) exposure by market segment: how
    many customers are in debit and how deep. One exact aggregation;
    the debit total folds as integer cents."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_acctbal",
        (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    neg = F.when(F.col("c_acctbal") < 0, 1).otherwise(0)
    return (
        c.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(neg).cast("bigint").alias("n_negative"),
            F.round(
                F.sum(neg).cast("double") / F.count(F.lit(1)), 6
            ).alias("negative_share"),
            (
                F.sum(
                    F.when(F.col("c_acctbal") < 0, F.col("cents")).otherwise(
                        F.lit(0).cast("bigint")
                    )
                ).cast("double")
                / 100
            ).alias("negative_balance_total"),
        )
        .orderBy("c_mktsegment")
    )


# --- monthly return rate ---------------------------------------------------------------------


@query(
    "lineitem_return_rate_monthly",
    oracle="""
    SELECT CAST(DATE_TRUNC('month', l_shipdate) AS TIMESTAMP) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returned,
           ROUND(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS return_rate
    FROM lineitem GROUP BY month ORDER BY month
    """,
    tags=("relational", "time-series", "quality", "rate"),
)
def lineitem_return_rate_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly returned-line rate — the operations quality series a
    returns dashboard plots. One aggregation over the ~83-month ship
    calendar; counts exact, one rounded division per month."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", "l_shipdate").alias("month"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    return (
        li.groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("ret").cast("bigint").alias("n_returned"),
            F.round(F.sum("ret").cast("double") / F.count(F.lit(1)), 6).alias(
                "return_rate"
            ),
        )
        .orderBy("month")
    )


# --- customer value x frequency grid ---------------------------------------------------------


@query(
    "customers_value_frequency_grid",
    oracle="""
    WITH per_c AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS s
      FROM orders GROUP BY o_custkey
    )
    SELECT CASE WHEN n <= 2 THEN '1-2' WHEN n <= 5 THEN '3-5'
                WHEN n <= 10 THEN '6-10' ELSE '11+' END AS freq_band,
           CASE WHEN s < n * 10000000 THEN 'lt100k'
                WHEN s < n * 20000000 THEN 'lt200k'
                WHEN s < n * 30000000 THEN 'lt300k'
                ELSE 'ge300k' END AS value_band,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(n) AS BIGINT) AS n_orders
    FROM per_c GROUP BY freq_band, value_band
    ORDER BY freq_band, value_band
    """,
    tags=("relational", "segmentation", "grid", "census"),
)
def customers_value_frequency_grid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customer base segmented on an order-frequency × average-order-value
    grid (the marketing 2×2, at 4×4). The value band compares the cents
    SUM against count-scaled thresholds (s < n·t) instead of banding the
    s/n average — integer-exact banding, no division, no float edge."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", (dec("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    per_c = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").alias("s"),
    )
    freq = (
        F.when(F.col("n") <= 2, "1-2")
        .when(F.col("n") <= 5, "3-5")
        .when(F.col("n") <= 10, "6-10")
        .otherwise("11+")
    )
    val = (
        F.when(F.col("s") < F.col("n") * 10_000_000, "lt100k")
        .when(F.col("s") < F.col("n") * 20_000_000, "lt200k")
        .when(F.col("s") < F.col("n") * 30_000_000, "lt300k")
        .otherwise("ge300k")
    )
    return (
        per_c.select(freq.alias("freq_band"), val.alias("value_band"), "n")
        .groupBy("freq_band", "value_band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("n").cast("bigint").alias("n_orders"),
        )
        .orderBy("freq_band", "value_band")
    )


# --- top-10 revenue days WITH TIES -----------------------------------------------------------


@query(
    "orders_top10_days_with_ties",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY day
    ), r AS (
      SELECT day, cents, RANK() OVER (ORDER BY cents DESC) AS rk FROM d
    )
    SELECT CAST(rk AS INT) AS rk, CAST(day AS TIMESTAMP) AS day,
           CAST(cents AS DOUBLE) / 100 AS revenue
    FROM r WHERE rk <= 10 ORDER BY rk, day
    """,
    tags=("sort", "top-k", "with-ties", "rank"),
)
def orders_top10_days_with_ties(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 revenue days under FETCH FIRST ... WITH TIES semantics —
    RANK (not ROW_NUMBER) bounds the cut, so exact-cents ties at rank 10
    all surface instead of an arbitrary winner. The rank window rides
    the ~2.4k-row day domain (bounded regardless of SF; Spark plans it
    as a WindowGroupLimit when the filter is pushed)."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    return (
        d.withColumn("rk", F.rank().over(W.orderBy(F.desc("cents"))))
        .where(F.col("rk") <= 10)
        .select(
            F.col("rk").cast("int").alias("rk"),
            F.col("day").cast("timestamp").alias("day"),
            (F.col("cents").cast("double") / 100).alias("revenue"),
        )
        .orderBy("rk", "day")
    )


# --- rolling 30-day revenue peak --------------------------------------------------------------


@query(
    "orders_rolling30d_revenue_peak",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS dn,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ), r AS (
      SELECT day,
             CAST(SUM(cents) OVER (ORDER BY dn
                   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS c30,
             CAST(COUNT(*) OVER (ORDER BY dn
                   RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n30
      FROM d
    )
    SELECT CAST(day AS TIMESTAMP) AS window_end_day, n30 AS n_days_in_window,
           CAST(c30 AS DOUBLE) / 100 AS revenue_30d
    FROM r ORDER BY c30 DESC, day LIMIT 1
    """,
    tags=("window", "range-frame", "rolling", "time-series"),
)
def orders_rolling30d_revenue_peak(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Peak 30-day revenue window over the order calendar — a RANGE frame
    keyed on integer day offsets (29 PRECEDING..CURRENT over datediff),
    so gap days shorten the physical frame instead of silently widening
    the time span the way a ROWS frame would. Cents exact; the window
    rides the ~2.4k-row day domain."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01")).alias("dn"),
    ).agg((F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents"))
    w = W.orderBy("dn").rangeBetween(-29, 0)
    r = d.select(
        "day",
        F.sum("cents").over(w).cast("bigint").alias("c30"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n30"),
    )
    return (
        r.orderBy(F.desc("c30"), "day")
        .limit(1)
        .select(
            F.col("day").cast("timestamp").alias("window_end_day"),
            F.col("n30").alias("n_days_in_window"),
            (F.col("c30").cast("double") / 100).alias("revenue_30d"),
        )
    )


# --- SMA crossover census ----------------------------------------------------------------------


@query(
    "orders_daily_sma_crossover_census",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), s AS (
      SELECT day,
             ROW_NUMBER() OVER (ORDER BY day) AS rn,
             CAST(SUM(cents) OVER (ORDER BY day
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS s7,
             CAST(SUM(cents) OVER (ORDER BY day
                   ROWS BETWEEN 27 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS s28
      FROM d
    ), g AS (
      SELECT day, CASE WHEN 4 * s7 > s28 THEN 1 ELSE 0 END AS sig
      FROM s WHERE rn >= 28
    ), x AS (
      SELECT sig, LAG(sig) OVER (ORDER BY day) AS prev FROM g
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days_evaluated,
           CAST(SUM(CASE WHEN sig = 1 AND prev = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_golden_crosses,
           CAST(SUM(CASE WHEN sig = 0 AND prev = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_death_crosses,
           CAST(SUM(sig) AS BIGINT) AS n_days_above
    FROM x
    """,
    tags=("window", "time-series", "technical-indicator", "sma"),
)
def orders_daily_sma_crossover_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SMA(7) vs SMA(28) golden/death-cross census on daily revenue — the
    moving-average trading signal. The compare is cross-multiplied
    (s7/7 > s28/28 ⟺ 4·s7 > s28 on exact cents sums), so the crossover
    detector never divides and never touches a float; windows ride the
    bounded day domain."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    wd = W.orderBy("day")
    s = d.select(
        "day",
        F.row_number().over(wd).alias("rn"),
        F.sum("cents").over(wd.rowsBetween(-6, 0)).cast("bigint").alias("s7"),
        F.sum("cents")
        .over(wd.rowsBetween(-27, 0))
        .cast("bigint")
        .alias("s28"),
    )
    g = s.where(F.col("rn") >= 28).select(
        "day",
        F.when(4 * F.col("s7") > F.col("s28"), 1).otherwise(0).alias("sig"),
    )
    x = g.select("sig", F.lag("sig").over(W.orderBy("day")).alias("prev"))
    return x.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days_evaluated"),
        F.sum(
            F.when((F.col("sig") == 1) & (F.col("prev") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_golden_crosses"),
        F.sum(
            F.when((F.col("sig") == 0) & (F.col("prev") == 1), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_death_crosses"),
        F.sum("sig").cast("bigint").alias("n_days_above"),
    )


# --- turning points (local extrema) ------------------------------------------------------------


@query(
    "orders_daily_turning_points",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             EXTRACT(YEAR FROM o_orderdate) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ), x AS (
      SELECT yr, cents,
             LAG(cents) OVER (ORDER BY day) AS prev,
             LEAD(cents) OVER (ORDER BY day) AS next
      FROM d
    )
    SELECT CAST(yr AS INT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_interior_days,
           CAST(SUM(CASE WHEN cents > prev AND cents > next THEN 1 ELSE 0
                    END) AS BIGINT) AS n_peaks,
           CAST(SUM(CASE WHEN cents < prev AND cents < next THEN 1 ELSE 0
                    END) AS BIGINT) AS n_troughs,
           ROUND(CAST(SUM(CASE WHEN (cents > prev AND cents > next)
                              OR (cents < prev AND cents < next)
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS turning_share
    FROM x WHERE prev IS NOT NULL AND next IS NOT NULL
    GROUP BY yr ORDER BY yr
    """,
    tags=("window", "time-series", "local-extrema", "census"),
)
def orders_daily_turning_points(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Local peaks/troughs in daily revenue (strict one-day extrema) per
    year — the turning-point rate a volatility monitor tracks (an i.i.d.
    series turns ~2/3 of days; trending series turn less). Strict
    integer compares on exact cents; lag/lead ride the bounded day
    domain and cross year boundaries before the year grouping."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.year("o_orderdate").alias("yr"),
    ).agg((F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents"))
    wd = W.orderBy("day")
    x = d.select(
        "yr",
        "cents",
        F.lag("cents").over(wd).alias("prev"),
        F.lead("cents").over(wd).alias("next"),
    ).where(F.col("prev").isNotNull() & F.col("next").isNotNull())
    is_peak = (F.col("cents") > F.col("prev")) & (
        F.col("cents") > F.col("next")
    )
    is_trough = (F.col("cents") < F.col("prev")) & (
        F.col("cents") < F.col("next")
    )
    return (
        x.groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_interior_days"),
            F.sum(is_peak.cast("int")).cast("bigint").alias("n_peaks"),
            F.sum(is_trough.cast("int")).cast("bigint").alias("n_troughs"),
            F.round(
                F.sum((is_peak | is_trough).cast("int")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("turning_share"),
        )
        .orderBy("yr")
    )


# --- monthly YoY deltas --------------------------------------------------------------------------


@query(
    "orders_monthly_yoy_delta",
    oracle="""
    WITH m AS (
      SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), x AS (
      SELECT month, cents, LAG(cents, 12) OVER (ORDER BY month) AS c12
      FROM m
    )
    SELECT month, CAST(cents AS DOUBLE) / 100 AS revenue,
           ROUND(CAST(cents - c12 AS DOUBLE) / c12, 6) AS yoy_growth
    FROM x WHERE c12 IS NOT NULL ORDER BY month
    """,
    tags=("window", "time-series", "yoy", "lag"),
)
def orders_monthly_yoy_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-month year-over-year revenue growth — LAG(12) over the
    monthly series, the seasonality-free growth read a finance review
    starts with (MoM deltas are the sibling registration). The ~80-row
    month domain is bounded; growth is one exact-int difference and one
    division."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    x = m.select(
        "month",
        "cents",
        F.lag("cents", 12).over(W.orderBy("month")).alias("c12"),
    ).where(F.col("c12").isNotNull())
    return x.select(
        "month",
        (F.col("cents").cast("double") / 100).alias("revenue"),
        F.round(
            (F.col("cents") - F.col("c12")).cast("double") / F.col("c12"), 6
        ).alias("yoy_growth"),
    ).orderBy("month")


# --- leave-one-out z-score extremes ---------------------------------------------------------------


@query(
    "orders_daily_loo_zscore_extremes",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS q
      FROM d
    ), z AS (
      SELECT day, cents,
             (CAST(cents AS DOUBLE)
              - CAST(s - cents AS DOUBLE) / (n - 1))
             / SQRT((CAST(q - CAST(cents AS DECIMAL(38,0)) * cents
                          AS DOUBLE)
                     - (n - 1) * (CAST(s - cents AS DOUBLE) / (n - 1))
                               * (CAST(s - cents AS DOUBLE) / (n - 1)))
                    / (n - 2)) AS zscore
      FROM d CROSS JOIN t
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(cents AS DOUBLE) / 100 AS revenue,
           ROUND(zscore, 4) AS loo_z
    FROM z WHERE ABS(zscore) > 2.5 ORDER BY day
    """,
    tags=("stats", "outlier", "leave-one-out", "zscore"),
)
def orders_daily_loo_zscore_extremes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily-revenue outliers under a LEAVE-ONE-OUT z-score — each day is
    scored against the mean/stddev of every OTHER day, so a single
    extreme day cannot inflate its own yardstick and mask itself (the
    flaw of the plain z-score screen; SQL's window EXCLUDE CURRENT ROW
    expresses the same frame). All moments fold exactly (cents, cents²
    as DECIMAL(38,0)); each day's score is one fixed double expression
    over exact integers, identical in both engines."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    d38 = "decimal(38,0)"
    t = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast(d38).alias("s"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).cast(d38).alias("q"),
    )
    loo_mean = (F.col("s") - F.col("cents")).cast("double") / (
        F.col("n") - 1
    )
    loo_var = (
        (F.col("q") - F.col("cents").cast(d38) * F.col("cents")).cast(
            "double"
        )
        - (F.col("n") - 1) * loo_mean * loo_mean
    ) / (F.col("n") - 2)
    z = d.crossJoin(F.broadcast(t)).select(
        "day",
        "cents",
        ((F.col("cents").cast("double") - loo_mean) / F.sqrt(loo_var)).alias(
            "zscore"
        ),
    )
    return (
        z.where(F.abs(F.col("zscore")) > 2.5)
        .select(
            F.col("day").cast("timestamp").alias("day"),
            (F.col("cents").cast("double") / 100).alias("revenue"),
            F.round("zscore", 4).alias("loo_z"),
        )
        .orderBy("day")
    )


# --- weekly min-max normalization ------------------------------------------------------------------


@query(
    "orders_weekly_minmax_normalized",
    oracle="""
    WITH w AS (
      SELECT CAST(DATE_TRUNC('week', o_orderdate) AS TIMESTAMP) AS week,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), t AS (
      SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM w
    )
    SELECT CAST((cents - lo) * 10 // (hi - lo) AS INT) AS norm_band,
           CAST(COUNT(*) AS BIGINT) AS n_weeks
    FROM w CROSS JOIN t
    GROUP BY norm_band ORDER BY norm_band
    """,
    tags=("time-series", "normalization", "minmax", "census"),
)
def orders_weekly_minmax_normalized(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Min-max-normalized weekly revenue banded into deciles of the
    observed range — the feature-scaling step before any distance-based
    model, done with INTEGER arithmetic: band = ⌊10·(c−min)/(max−min)⌋
    via integer division of exact cents (band 10 = the max week), so no
    float rounding can flip a band edge."""
    o = load_table(spark, sf_dir, "orders")
    w = o.groupBy(F.date_trunc("week", "o_orderdate").alias("week")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    t = w.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            F.expr("div((cents - lo) * 10, hi - lo)")
            .cast("int")
            .alias("norm_band")
        )
        .groupBy("norm_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_weeks"))
        .orderBy("norm_band")
    )


# --- rescaled-range (Hurst) estimator ----------------------------------------------------------


@query(
    "orders_daily_hurst_rs",
    oracle="""
    WITH d AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ), r AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY day) - 1 AS i FROM d
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM r),
    blocks AS (
      SELECT sz, i // sz AS blk, (i % sz) + 1 AS pos, cents
      FROM r CROSS JOIN (SELECT unnest([32, 64]) AS sz)
      CROSS JOIN n
      WHERE i < sz * (nd // sz)
    ), c AS (
      SELECT sz, blk, pos, cents,
             CAST(SUM(CAST(cents AS DECIMAL(38,0)))
                  OVER (PARTITION BY sz, blk ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(38,0)) AS cum
      FROM blocks
    ), b AS (
      SELECT sz, blk,
             CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS tot,
             CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS sq
      FROM blocks GROUP BY sz, blk
    ), dev AS (
      SELECT c.sz, c.blk,
             CAST(c.sz * c.cum - c.pos * b.tot AS DECIMAL(38,0)) AS dv,
             b.tot, b.sq
      FROM c JOIN b ON c.sz = b.sz AND c.blk = b.blk
    ), rs AS (
      SELECT sz, blk,
             CAST(ROUND(CAST(MAX(dv) - MIN(dv) AS DOUBLE)
                   / SQRT(CAST(MAX(sq) * sz - MAX(tot) * MAX(tot)
                          AS DOUBLE)), 6) AS DECIMAL(20,6)) AS rsv
      FROM dev GROUP BY sz, blk
    ), m AS (
      SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(rsv) AS DOUBLE) / COUNT(*) AS mean_rs
      FROM rs GROUP BY sz
    )
    SELECT a.n_blocks AS n_blocks_32,
           ROUND(a.mean_rs, 6) AS mean_rs_32,
           b2.n_blocks AS n_blocks_64,
           ROUND(b2.mean_rs, 6) AS mean_rs_64,
           ROUND(LN(b2.mean_rs / a.mean_rs) / LN(2), 4) AS hurst_estimate
    FROM (SELECT * FROM m WHERE sz = 32) a
    CROSS JOIN (SELECT * FROM m WHERE sz = 64) b2
    """,
    tags=("stats", "time-series", "hurst", "rescaled-range", "fractal"),
)
def orders_daily_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily revenue by the classic rescaled-range
    method: split the day series into blocks of 32 and 64 days, compute
    each block's R/S (range of cumulative mean-deviations over the
    population stddev), and read H from the doubling slope
    log2(RS₆₄/RS₃₂) — H≈0.5 is a memoryless series, H>0.5 trending.
    Every deviation is INTEGER-scaled (n·cum_k − k·total, exact
    DECIMAL(38,0), no mean ever materializes) and S² folds as
    n·Σx²−(Σx)², so each block's R/S is ONE double division of exact
    integers, rounded to 6dp and decimal-averaged — bit-identical
    across engines and partitionings. Blocks ride the bounded ~2.4k-day
    domain; per-block windows hold ≤64 rows."""
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        (F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents")
    )
    r = d.select(
        "cents", (F.row_number().over(W.orderBy("day")) - 1).alias("i")
    )
    nd = r.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    sizes = r.sparkSession.createDataFrame([(32,), (64,)], "sz INT")
    d38 = "decimal(38,0)"
    blocks = (
        r.crossJoin(F.broadcast(sizes))
        .crossJoin(F.broadcast(nd))
        .where(F.col("i") < F.col("sz") * F.expr("div(nd, sz)"))
        .select(
            "sz",
            F.expr("div(i, sz)").alias("blk"),
            (F.col("i") % F.col("sz") + 1).alias("pos"),
            "cents",
        )
    )
    wc = (
        W.partitionBy("sz", "blk")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = blocks.select(
        "sz",
        "blk",
        "pos",
        "cents",
        F.sum(F.col("cents").cast(d38)).over(wc).cast(d38).alias("cum"),
    )
    b = blocks.groupBy("sz", "blk").agg(
        F.sum(F.col("cents").cast(d38)).cast(d38).alias("tot"),
        F.sum(F.col("cents").cast(d38) * F.col("cents"))
        .cast(d38)
        .alias("sq"),
    )
    dev = c.join(b, ["sz", "blk"]).select(
        "sz",
        "blk",
        (F.col("sz") * F.col("cum") - F.col("pos") * F.col("tot"))
        .cast(d38)
        .alias("dv"),
        "tot",
        "sq",
    )
    rs = dev.groupBy("sz", "blk").agg(
        F.round(
            (F.max("dv") - F.min("dv")).cast("double")
            / F.sqrt(
                (F.max("sq") * F.col("sz") - F.max("tot") * F.max("tot")).cast(
                    "double"
                )
            ),
            6,
        )
        .cast("decimal(20,6)")
        .alias("rsv")
    )
    m = rs.groupBy("sz").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        (F.sum("rsv").cast("double") / F.count(F.lit(1))).alias("mean_rs"),
    )
    a = m.where(F.col("sz") == 32).select(
        F.col("n_blocks").alias("n_blocks_32"),
        F.col("mean_rs").alias("rs32"),
    )
    b2 = m.where(F.col("sz") == 64).select(
        F.col("n_blocks").alias("n_blocks_64"),
        F.col("mean_rs").alias("rs64"),
    )
    return a.crossJoin(b2).select(
        "n_blocks_32",
        F.round("rs32", 6).alias("mean_rs_32"),
        "n_blocks_64",
        F.round("rs64", 6).alias("mean_rs_64"),
        F.round(
            F.log(F.col("rs64") / F.col("rs32")) / F.log(F.lit(2.0)), 4
        ).alias("hurst_estimate"),
    )


# --- user dormancy / reactivation census -----------------------------------------------------


@query(
    "events_user_dormancy_3d_census",
    oracle="""
    WITH g AS (
      SELECT user_id,
             CASE WHEN EPOCH(ts) - EPOCH(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                  > 259200 THEN 1 ELSE 0 END AS react
      FROM events
    ), u AS (
      SELECT user_id, CAST(SUM(react) AS BIGINT) AS n_reactivations
      FROM g GROUP BY user_id
    )
    SELECT n_reactivations, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM u GROUP BY n_reactivations ORDER BY n_reactivations
    """,
    tags=("events", "lifecycle", "dormancy", "census"),
)
def events_user_dormancy_3d_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dormancy-reactivation histogram: a user 'reactivates' when an
    event follows a gap of more than 3 days of silence — the lifecycle
    lens between plain retention and churn. Per-user LAG rides the
    bounded events-per-user partition (the SF generator strides
    user_id, not depth); gap compares are exact integer epoch seconds."""
    e = load_table(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        F.when(
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(wu))
            > 259200,
            1,
        )
        .otherwise(0)
        .alias("react"),
    )
    u = g.groupBy("user_id").agg(
        F.sum("react").cast("bigint").alias("n_reactivations")
    )
    return (
        u.groupBy("n_reactivations")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("n_reactivations")
    )


# --- Bowley (quartile) skewness ------------------------------------------------------------------


@query(
    "customer_balance_bowley_skewness",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM customer
    ), q AS (
      SELECT nk,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS q1,
             percentile_disc(0.5)  WITHIN GROUP (ORDER BY cents) AS q2,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS q3
      FROM c GROUP BY nk
    )
    SELECT nk AS nationkey, n_customers,
           CAST(q2 AS DOUBLE) / 100 AS median_balance,
           ROUND(CAST(q1 + q3 - 2 * q2 AS DOUBLE) / (q3 - q1), 6)
             AS bowley_skewness
    FROM q ORDER BY nationkey
    """,
    tags=("stats", "order-statistics", "skewness", "robust"),
)
def customer_balance_bowley_skewness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bowley (quartile) skewness of customer balances per nation —
    (Q₁+Q₃−2·Q₂)/(Q₃−Q₁), the robust skew read immune to tail outliers
    that distort the moment-based coefficient. All three quartiles are
    DISCRETE order statistics from one group_quantiles_disc pass
    (partition-bounded state; customers-per-nation grows with SF), so
    the numerator/denominator are exact integer cents and the final
    division is the only float op."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    q = (
        group_quantiles_disc(c, "cents", [0.25, 0.5, 0.75], ["nk"])
        .withColumnRenamed(_qcolname(0.25), "q1")
        .withColumnRenamed(_qcolname(0.5), "q2")
        .withColumnRenamed(_qcolname(0.75), "q3")
    )
    n = c.groupBy("nk").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    return (
        n.join(q, "nk")
        .select(
            F.col("nk").alias("nationkey"),
            "n_customers",
            (F.col("q2").cast("double") / 100).alias("median_balance"),
            F.round(
                (F.col("q1") + F.col("q3") - 2 * F.col("q2")).cast("double")
                / (F.col("q3") - F.col("q1")),
                6,
            ).alias("bowley_skewness"),
        )
        .orderBy("nationkey")
    )


# --- quartile coefficient of dispersion -----------------------------------------------------------


@query(
    "customer_acctbal_quartile_dispersion",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM customer
    ), q AS (
      SELECT seg,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS q1,
             percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS q3
      FROM c GROUP BY seg
    )
    SELECT seg AS segment, n_customers,
           CAST(q3 - q1 AS DOUBLE) / 100 AS iqr,
           ROUND(CAST(q3 - q1 AS DOUBLE)
                 / NULLIF(CAST(q3 + q1 AS DOUBLE), 0), 6)
             AS quartile_dispersion
    FROM q ORDER BY segment
    """,
    tags=("stats", "order-statistics", "dispersion", "robust"),
)
def customer_acctbal_quartile_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quartile coefficient of dispersion (Q₃−Q₁)/(Q₃+Q₁) per market
    segment — the scale-free robust spread measure (the CV's
    order-statistic sibling). Quartiles are discrete order statistics
    via group_quantiles_disc; the ratio guards the Q₃+Q₁ = 0 pole
    (balances can be negative) with a NULL."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    q = (
        group_quantiles_disc(c, "cents", [0.25, 0.75], ["seg"])
        .withColumnRenamed(_qcolname(0.25), "q1")
        .withColumnRenamed(_qcolname(0.75), "q3")
    )
    n = c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )
    return (
        n.join(q, "seg")
        .select(
            F.col("seg").alias("segment"),
            "n_customers",
            ((F.col("q3") - F.col("q1")).cast("double") / 100).alias("iqr"),
            F.round(
                (F.col("q3") - F.col("q1")).cast("double")
                / F.nullif(
                    (F.col("q3") + F.col("q1")).cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("quartile_dispersion"),
        )
        .orderBy("segment")
    )


# --- Pearson's second skewness coefficient ----------------------------------------------------------


@query(
    "customer_balance_pearson_skew2",
    oracle="""
    WITH c AS (
      SELECT c_mktsegment AS seg,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM customer
    ), md AS (
      SELECT seg,
             percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS med
      FROM c GROUP BY seg
    ), mo AS (
      SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS q
      FROM c GROUP BY seg
    )
    SELECT mo.seg AS segment, mo.n AS n_customers,
           ROUND(3 * (CAST(mo.s AS DOUBLE) / mo.n - CAST(md.med AS DOUBLE))
                 / SQRT((CAST(mo.q AS DOUBLE) * mo.n
                         - CAST(mo.s AS DOUBLE) * CAST(mo.s AS DOUBLE))
                        / (CAST(mo.n AS DOUBLE) * (mo.n - 1))), 6)
             AS pearson_skew2
    FROM mo JOIN md ON mo.seg = md.seg
    ORDER BY segment
    """,
    tags=("stats", "skewness", "mean-median", "order-statistics"),
)
def customer_balance_pearson_skew2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson's second skewness coefficient 3·(mean − median)/σ per
    segment — the classic quick skew read joining an exact-moment mean/
    stddev with a discrete median from the partition-bounded quantile
    machinery. Moments fold as DECIMAL(38,0); the statistic is a fixed
    double expression over exact integers."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    md = group_quantiles_disc(c, "cents", [0.5], ["seg"]).withColumnRenamed(
        _qcolname(0.5), "med"
    )
    d38 = "decimal(38,0)"
    mo = c.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast(d38).alias("s"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).cast(d38).alias("q"),
    )
    sd = F.sqrt(
        (
            F.col("q").cast("double") * F.col("n")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return (
        mo.join(md, "seg")
        .select(
            F.col("seg").alias("segment"),
            F.col("n").alias("n_customers"),
            F.round(
                3
                * (
                    F.col("s").cast("double") / F.col("n")
                    - F.col("med").cast("double")
                )
                / sd,
                6,
            ).alias("pearson_skew2"),
        )
        .orderBy("segment")
    )


# --- Friedman rank test ---------------------------------------------------------------------------


@query(
    "orders_priority_friedman_monthly",
    oracle="""
    WITH m0 AS (
      SELECT DATE_TRUNC('month', o_orderdate) AS month, o_orderpriority AS pr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY 1, 2
    ), full_m AS (
      SELECT month FROM m0 GROUP BY month HAVING COUNT(*) = 5
    ), m AS (
      SELECT m0.* FROM m0 JOIN full_m ON m0.month = full_m.month
    ), r AS (
      SELECT month, pr,
             ROW_NUMBER() OVER (PARTITION BY month
                                ORDER BY cents, pr) AS rk
      FROM m
    ), s AS (
      SELECT pr, CAST(SUM(rk) AS BIGINT) AS rank_sum,
             CAST(COUNT(*) AS BIGINT) AS n_months
      FROM r GROUP BY pr
    ), chi AS (
      SELECT CAST(12 * SUM(CAST(rank_sum AS DECIMAL(38,0)) * rank_sum)
                  AS DOUBLE)
             / (MAX(n_months) * 5 * 6) - 3 * MAX(n_months) * 6 AS stat
      FROM s
    )
    SELECT s.pr AS priority, s.n_months, s.rank_sum,
           ROUND(CAST(s.rank_sum AS DOUBLE) / s.n_months, 6) AS mean_rank,
           ROUND((SELECT stat FROM chi), 6) AS friedman_chi2
    FROM s ORDER BY priority
    """,
    tags=("stats", "nonparametric", "friedman", "rank-test"),
)
def orders_priority_friedman_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Friedman rank test: do the 5 order priorities keep a consistent
    monthly revenue ordering? Each month is a block ranking its 5
    priorities (deterministic tie-break on the priority label — cents
    ties are theoretically possible, never float-dependent); the
    statistic χ²_F = 12/(n·k·(k+1))·ΣR_j² − 3n(k+1) with k=5 is exact
    integer arithmetic until two final divisions. Friedman is defined
    over COMPLETE blocks, so months missing a priority (possible at the
    sparse sf0.001 fixture) are dropped before ranking — surfaced by
    the independent reference test, invisible to parity (both engines
    shared the incomplete-block arithmetic). The rank window holds
    exactly 5 rows per month — bounded at any SF."""
    o = load_table(spark, sf_dir, "orders")
    m0 = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.col("o_orderpriority").alias("pr"),
    ).agg((F.sum(dec("o_totalprice")) * 100).cast("bigint").alias("cents"))
    full_m = (
        m0.groupBy("month")
        .agg(F.count(F.lit(1)).alias("npr"))
        .where(F.col("npr") == 5)
        .select("month")
    )
    m = m0.join(full_m, "month")
    r = m.select(
        "pr",
        F.row_number()
        .over(W.partitionBy("month").orderBy("cents", "pr"))
        .alias("rk"),
    )
    s = r.groupBy("pr").agg(
        F.sum("rk").cast("bigint").alias("rank_sum"),
        F.count(F.lit(1)).cast("bigint").alias("n_months"),
    )
    chi = s.agg(
        (
            (
                12
                * F.sum(F.col("rank_sum").cast("decimal(38,0)") * F.col("rank_sum"))
            ).cast("double")
            / (F.max("n_months") * 5 * 6)
            - 3 * F.max("n_months") * 6
        ).alias("stat")
    )
    return (
        s.crossJoin(F.broadcast(chi))
        .select(
            F.col("pr").alias("priority"),
            "n_months",
            "rank_sum",
            F.round(
                F.col("rank_sum").cast("double") / F.col("n_months"), 6
            ).alias("mean_rank"),
            F.round(F.col("stat"), 6).alias("friedman_chi2"),
        )
        .orderBy("priority")
    )


# --- Cohen's kappa on first-vs-last priority ---------------------------------------------------------


@query(
    "customers_first_last_priority_kappa",
    oracle="""
    WITH fl AS (
      SELECT o_custkey,
             MIN(ROW(o_orderdate, o_orderkey, o_orderpriority)) AS fr,
             MAX(ROW(o_orderdate, o_orderkey, o_orderpriority)) AS lr
      FROM orders GROUP BY o_custkey
    ), pairs AS (
      SELECT struct_extract(fr, 3) AS fp, struct_extract(lr, 3) AS lp
      FROM fl
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM pairs),
    agree AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_agree FROM pairs WHERE fp = lp
    ), marg AS (
      SELECT CAST(SUM(CAST(fn AS DECIMAL(38,0)) * ln) AS DECIMAL(38,0))
               AS cross_sum
      FROM (SELECT fp AS p, COUNT(*) AS fn FROM pairs GROUP BY fp) a
      JOIN (SELECT lp AS p, COUNT(*) AS ln FROM pairs GROUP BY lp) b
        USING (p)
    )
    SELECT n.total AS n_customers, agree.n_agree,
           ROUND(CAST(agree.n_agree AS DOUBLE) / n.total, 6) AS po,
           ROUND(CAST(marg.cross_sum AS DOUBLE) / n.total / n.total, 6)
             AS pe,
           ROUND((CAST(agree.n_agree AS DOUBLE) / n.total
                  - CAST(marg.cross_sum AS DOUBLE) / n.total / n.total)
                 / (1 - CAST(marg.cross_sum AS DOUBLE) / n.total / n.total),
                 6) AS kappa
    FROM n CROSS JOIN agree CROSS JOIN marg
    """,
    tags=("stats", "agreement", "cohens-kappa", "argmin-argmax"),
)
def customers_first_last_priority_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's kappa between each customer's FIRST and LAST order
    priority — chance-corrected agreement ('do customers keep their
    urgency profile?'). First/last ride exact struct MIN/MAX over
    (date, key, priority) — no window, one aggregation; the 5×5
    confusion marginals stay integer; kappa is a fixed double
    expression. κ≈0 means the last order's priority is independent of
    the first."""
    o = load_table(spark, sf_dir, "orders")
    fl = o.groupBy("o_custkey").agg(
        F.min(
            F.struct("o_orderdate", "o_orderkey", "o_orderpriority")
        ).alias("fr"),
        F.max(
            F.struct("o_orderdate", "o_orderkey", "o_orderpriority")
        ).alias("lr"),
    )
    pairs = fl.select(
        F.col("fr.o_orderpriority").alias("fp"),
        F.col("lr.o_orderpriority").alias("lp"),
    )
    n = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    agree = pairs.where(F.col("fp") == F.col("lp")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_agree")
    )
    fm = pairs.groupBy(F.col("fp").alias("p")).agg(
        F.count(F.lit(1)).alias("fn")
    )
    lm = pairs.groupBy(F.col("lp").alias("p")).agg(
        F.count(F.lit(1)).alias("ln")
    )
    marg = (
        fm.join(lm, "p")
        .agg(
            F.sum(F.col("fn").cast("decimal(38,0)") * F.col("ln"))
            .cast("decimal(38,0)")
            .alias("cross_sum")
        )
    )
    po = F.col("n_agree").cast("double") / F.col("total")
    pe = (
        F.col("cross_sum").cast("double") / F.col("total") / F.col("total")
    )
    return (
        n.crossJoin(agree)
        .crossJoin(marg)
        .select(
            F.col("total").alias("n_customers"),
            "n_agree",
            F.round(po, 6).alias("po"),
            F.round(pe, 6).alias("pe"),
            F.round((po - pe) / (1 - pe), 6).alias("kappa"),
        )
    )


# --- Goodman-Kruskal gamma ---------------------------------------------------------------------------


@query(
    "lineitem_qty_price_gk_gamma",
    oracle="""
    WITH b AS (
      SELECT CAST((CAST(l_quantity AS INT) - 1) // 10 AS INT) AS qb,
             CAST(LEAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) // 1000000, 4) AS INT) AS pb
      FROM lineitem
    ), g AS (
      SELECT qb, pb, CAST(COUNT(*) AS DECIMAL(38,0)) AS n
      FROM b GROUP BY qb, pb
    ), pairs AS (
      SELECT CAST(SUM(CASE WHEN c.pb > a.pb THEN a.n * c.n
                           ELSE 0 END) AS DECIMAL(38,0)) AS cc,
             CAST(SUM(CASE WHEN c.pb < a.pb THEN a.n * c.n
                           ELSE 0 END) AS DECIMAL(38,0)) AS dd
      FROM g a JOIN g c ON c.qb > a.qb
    )
    SELECT CAST(cc AS DOUBLE) AS concordant,
           CAST(dd AS DOUBLE) AS discordant,
           ROUND(CAST(cc - dd AS DOUBLE) / CAST(cc + dd AS DOUBLE), 6)
             AS gk_gamma
    FROM pairs
    """,
    tags=("stats", "association", "ordinal", "goodman-kruskal"),
)
def lineitem_qty_price_gk_gamma(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goodman-Kruskal gamma between ordinal quantity bands (5×10-unit)
    and price bands ($10k cents buckets, capped) — the ordinal
    association measure built from concordant/discordant pair counts.
    The O(n²) pair count collapses onto the bounded 5×5 contingency
    grid: ONE grid self-join on the quantity ordering classifies every
    cell pair concordant/discordant via a conditional fold (a two-join
    first draft scanned the fact table 8× — Spark re-derives the grid
    per join branch; the single-join form scans it twice), with
    DECIMAL(38,0) products (pair counts overflow int64 past ~10⁹
    rows), so gamma is exact until one final division."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("div(cast(l_quantity as int) - 1, 10)")
        .cast("int")
        .alias("qb"),
        F.least(
            F.expr(
                "div(cast(cast(l_extendedprice as decimal(18,2)) * 100 "
                "as bigint), 1000000)"
            ),
            F.lit(4).cast("bigint"),
        )
        .cast("int")
        .alias("pb"),
    )
    g = li.groupBy("qb", "pb").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n")
    )
    a = g.select(
        F.col("qb").alias("aqb"), F.col("pb").alias("apb"), F.col("n").alias("an")
    )
    c = g.select(
        F.col("qb").alias("cqb"), F.col("pb").alias("cpb"), F.col("n").alias("cn")
    )
    pairs = a.join(c, F.col("cqb") > F.col("aqb")).agg(
        F.sum(
            F.when(F.col("cpb") > F.col("apb"), F.col("an") * F.col("cn"))
            .otherwise(F.lit(0))
        )
        .cast("decimal(38,0)")
        .alias("cc"),
        F.sum(
            F.when(F.col("cpb") < F.col("apb"), F.col("an") * F.col("cn"))
            .otherwise(F.lit(0))
        )
        .cast("decimal(38,0)")
        .alias("dd"),
    )
    return pairs.select(
        F.col("cc").cast("double").alias("concordant"),
        F.col("dd").cast("double").alias("discordant"),
        F.round(
            (F.col("cc") - F.col("dd")).cast("double")
            / (F.col("cc") + F.col("dd")).cast("double"),
            6,
        ).alias("gk_gamma"),
    )


# --- coefficient of variation by priority -------------------------------------------------------------


@query(
    "orders_price_cv_by_priority",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS pr,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ), m AS (
      SELECT pr, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents)
                  AS DECIMAL(38,0)) AS q
      FROM c GROUP BY pr
    )
    SELECT pr AS priority, n AS n_orders,
           ROUND(CAST(s AS DOUBLE) / n / 100, 4) AS mean_price,
           ROUND(SQRT((CAST(q AS DOUBLE) * n
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (n - 1)))
                 / (CAST(s AS DOUBLE) / n), 6) AS cv,
           ROUND(SQRT((CAST(q AS DOUBLE) * n
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                      / (CAST(n AS DOUBLE) * (n - 1)))
                 / (CAST(s AS DOUBLE) / n) / SQRT(CAST(n AS DOUBLE)), 6)
             AS cv_standard_error
    FROM m ORDER BY priority
    """,
    tags=("stats", "dispersion", "cv", "exact-moments"),
)
def orders_price_cv_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Coefficient of variation of order value per priority, with its
    large-sample standard error cv/√n — the relative-dispersion read
    that makes priorities comparable despite different price levels.
    Exact integer/decimal moments; fixed double expression at the
    end."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"),
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    d38 = "decimal(38,0)"
    m = o.groupBy("pr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast(d38).alias("s"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).cast(d38).alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("q").cast("double") * F.col("n")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / (F.col("n").cast("double") * (F.col("n") - 1))
    )
    return (
        m.select(
            F.col("pr").alias("priority"),
            F.col("n").alias("n_orders"),
            F.round(mean / 100, 4).alias("mean_price"),
            F.round(sd / mean, 6).alias("cv"),
            F.round(sd / mean / F.sqrt(F.col("n").cast("double")), 6).alias(
                "cv_standard_error"
            ),
        )
        .orderBy("priority")
    )


# --- top-1% heavy-user share -------------------------------------------------------------------


@query(
    "events_top1pct_user_share",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id
    ), r AS (
      SELECT ROW_NUMBER() OVER (ORDER BY n DESC, user_id) AS rk,
             CAST(SUM(n) OVER (ORDER BY n DESC, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM u
    ), t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(n) AS BIGINT) AS total_events
      FROM u
    )
    SELECT t.n_users, CAST(CEIL(t.n_users / 100.0) AS BIGINT) AS k_top,
           r.cum AS top_events, t.total_events,
           ROUND(CAST(r.cum AS DOUBLE) / t.total_events, 6)
             AS top1pct_share
    FROM r CROSS JOIN t
    WHERE r.rk = CAST(CEIL(t.n_users / 100.0) AS BIGINT)
    """,
    tags=("events", "heavy-users", "pareto", "prefix-rank", "scale-path"),
)
def events_top1pct_user_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of all events generated by the top 1% most active users —
    the audience-concentration number behind rate-limit and abuse
    budgets. The global activity rank AND the cumulative event count
    come from ONE two-pass partitioned prefix-sum over (n DESC,
    user_id) — user_id is an SF-scaled key, so a single global
    ROW_NUMBER window would hold the whole user domain in one task; the
    prefix machinery is integer-exact and bounded per partition."""
    from distributed_graph_database_system_spark.operators.prefix import (
        partitioned_prefix_sums,
    )

    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    r = partitioned_prefix_sums(
        u,
        [F.col("n").desc(), F.col("user_id")],
        [F.lit(1).cast("bigint"), F.col("n")],
        ["rk", "cum"],
    )
    t = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("n").cast("bigint").alias("total_events"),
    )
    k = F.ceil(F.col("n_users") / 100.0).cast("bigint")
    return (
        r.crossJoin(F.broadcast(t))
        .where(F.col("rk") == k)
        .select(
            "n_users",
            k.alias("k_top"),
            F.col("cum").alias("top_events"),
            "total_events",
            F.round(
                F.col("cum").cast("double") / F.col("total_events"), 6
            ).alias("top1pct_share"),
        )
    )


# --- position-based (40/20/40) attribution --------------------------------------------------------


@query(
    "events_attribution_position_based",
    oracle="""
    WITH fp AS (
      SELECT user_id, MIN(ts) AS p_ts
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), j AS (
      SELECT e.user_id, e.event_type,
             ROW_NUMBER() OVER (PARTITION BY e.user_id
                                ORDER BY e.ts, e.event_id) AS idx,
             COUNT(*) OVER (PARTITION BY e.user_id) AS n
      FROM events e JOIN fp ON e.user_id = fp.user_id
      WHERE e.ts < fp.p_ts
    ), credit AS (
      SELECT event_type,
             CAST(ROUND(CASE WHEN n = 1 THEN 1.0
                  WHEN idx = 1 OR idx = n THEN 0.4
                  ELSE 0.2 / (n - 2) END, 8) AS DECIMAL(20,8)) AS c
      FROM j
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(CAST(SUM(c) AS DOUBLE), 4) AS attributed_credit
    FROM credit GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "attribution", "position-based", "marketing"),
)
def events_attribution_position_based(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Position-based (40/20/40) attribution: each converting user's
    pre-purchase journey credits 40% to the first touch, 40% to the
    last, and splits 20% across the middle — the U-shaped model between
    the first-touch and last-touch registrations. Per-touch credits are
    exact rationals rounded to 8dp and folded as DECIMAL (order-free);
    journeys ride bounded per-user windows."""
    e = load_table(spark, sf_dir, "events")
    fp = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    j = (
        e.join(fp, "user_id")
        .where(F.col("ts") < F.col("p_ts"))
        .select(
            "user_id",
            "event_type",
            F.row_number()
            .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("idx"),
            F.count(F.lit(1))
            .over(W.partitionBy("user_id"))
            .alias("n"),
        )
    )
    credit = j.select(
        "event_type",
        F.round(
            F.when(F.col("n") == 1, F.lit(1.0))
            .when(
                (F.col("idx") == 1) | (F.col("idx") == F.col("n")),
                F.lit(0.4),
            )
            .otherwise(F.lit(0.2) / (F.col("n") - 2)),
            8,
        )
        .cast("decimal(20,8)")
        .alias("c"),
    )
    return (
        credit.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.round(F.sum("c").cast("double"), 4).alias("attributed_credit"),
        )
        .orderBy("event_type")
    )


# --- round-number bias ------------------------------------------------------------------------------


@query(
    "events_value_round_number_bias",
    oracle="""
    WITH c AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS share_whole_dollar,
           ROUND(CAST(SUM(CASE WHEN cents % 500 = 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS share_five_dollar,
           ROUND(CAST(SUM(CASE WHEN cents % 100 = 99 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS share_psych_99
    FROM c GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "forensic", "round-number", "benford-family"),
)
def events_value_round_number_bias(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Round-number bias in event values: shares of whole-dollar,
    $5-multiple, and .99-psychological amounts per event type — the
    forensic screen for fabricated or price-list-driven values (organic
    measurements hit cents%100=0 about 1% of the time). Modular
    arithmetic on exact integer cents."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        (dec("value", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    def share(cond):
        return F.round(
            F.sum(F.when(cond, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        )

    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            share(F.col("cents") % 100 == 0).alias("share_whole_dollar"),
            share(F.col("cents") % 500 == 0).alias("share_five_dollar"),
            share(F.col("cents") % 100 == 99).alias("share_psych_99"),
        )
        .orderBy("event_type")
    )


# --- fiscal-year (April start) revenue ---------------------------------------------------------------


@query(
    "orders_fiscal_apr_year_revenue",
    oracle="""
    WITH f AS (
      SELECT CASE WHEN EXTRACT(MONTH FROM o_orderdate) >= 4
                  THEN EXTRACT(YEAR FROM o_orderdate) + 1
                  ELSE EXTRACT(YEAR FROM o_orderdate) END AS fy,
             EXTRACT(MONTH FROM o_orderdate) AS mo,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    )
    SELECT CAST(fy AS INT) AS fiscal_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS DOUBLE) / 100 AS revenue,
           ROUND(CAST(SUM(CASE WHEN mo IN (4, 5, 6) THEN cents ELSE 0 END)
                      AS DOUBLE) / SUM(cents), 6) AS fq1_share
    FROM f GROUP BY fy ORDER BY fiscal_year
    """,
    tags=("calendar", "fiscal-year", "relational"),
)
def orders_fiscal_apr_year_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue by APRIL-START fiscal year (labelled by ending year, the
    UK/India/Japan convention) with each FY's first-quarter share — the
    calendar-shift exhibit where a naive YEAR() grouping misstates
    every fiscal report. Exact cents; one aggregation."""
    o = load_table(spark, sf_dir, "orders").select(
        F.when(
            F.month("o_orderdate") >= 4, F.year("o_orderdate") + 1
        )
        .otherwise(F.year("o_orderdate"))
        .alias("fy"),
        F.month("o_orderdate").alias("mo"),
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    return (
        o.groupBy(F.col("fy").cast("int").alias("fiscal_year"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            (F.sum("cents").cast("double") / 100).alias("revenue"),
            F.round(
                F.sum(
                    F.when(F.col("mo").isin(4, 5, 6), F.col("cents")).otherwise(
                        F.lit(0).cast("bigint")
                    )
                ).cast("double")
                / F.sum("cents"),
                6,
            ).alias("fq1_share"),
        )
        .orderBy("fiscal_year")
    )


# --- tail percentiles by flag ---------------------------------------------------------------------


@query(
    "lineitem_price_tail_p99_by_flag",
    oracle="""
    WITH c AS (
      SELECT l_returnflag AS flag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM lineitem
    )
    SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)
                AS DOUBLE) / 100 AS p50,
           CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)
                AS DOUBLE) / 100 AS p99,
           CAST(percentile_disc(0.999) WITHIN GROUP (ORDER BY cents)
                AS DOUBLE) / 100 AS p999,
           ROUND(CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY cents)
                      AS DOUBLE)
                 / percentile_disc(0.5) WITHIN GROUP (ORDER BY cents), 6)
             AS p99_over_p50
    FROM c GROUP BY flag ORDER BY flag
    """,
    tags=("stats", "order-statistics", "tail", "sla"),
)
def lineitem_price_tail_p99_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tail order statistics (p50/p99/p999) of line price per return
    flag, plus the p99/p50 tail-heaviness ratio — the SLA-style
    percentile report. All three cuts come from ONE
    group_quantiles_disc pass (partition-bounded two-pass ranks; the
    builtin percentile would buffer each SF-growing flag group in one
    task — the OOM class the discipline guard enforces against)."""
    c = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        (dec("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    q = (
        group_quantiles_disc(c, "cents", [0.5, 0.99, 0.999], ["flag"])
        .withColumnRenamed(_qcolname(0.5), "c50")
        .withColumnRenamed(_qcolname(0.99), "c99")
        .withColumnRenamed(_qcolname(0.999), "c999")
    )
    n = c.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    return (
        n.join(q, "flag")
        .select(
            "flag",
            "n_lines",
            (F.col("c50").cast("double") / 100).alias("p50"),
            (F.col("c99").cast("double") / 100).alias("p99"),
            (F.col("c999").cast("double") / 100).alias("p999"),
            F.round(
                F.col("c99").cast("double") / F.col("c50"), 6
            ).alias("p99_over_p50"),
        )
        .orderBy("flag")
    )


# --- first-half vs second-half vocabulary drift -----------------------------------------------------


@query(
    "documents_halves_vocab_tvd",
    oracle="""
    WITH toks AS (
      SELECT lang, string_split(text, ' ') AS l,
             (len(string_split(text, ' ')) + 1) // 2 AS k,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), a AS (
      SELECT lang, unnest(l[1:k]) AS word FROM toks
    ), b AS (
      SELECT lang, unnest(l[k+1:n]) AS word FROM toks
    ), ca AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS na
      FROM a GROUP BY lang, word
    ), cb AS (
      SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS nb
      FROM b GROUP BY lang, word
    ), j AS (
      SELECT COALESCE(ca.lang, cb.lang) AS lang,
             COALESCE(ca.word, cb.word) AS word,
             COALESCE(na, 0) AS na, COALESCE(nb, 0) AS nb
      FROM ca FULL OUTER JOIN cb
        ON ca.lang = cb.lang AND ca.word = cb.word
    ), t AS (
      SELECT lang, CAST(SUM(na) AS BIGINT) AS ta,
             CAST(SUM(nb) AS BIGINT) AS tb,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM j GROUP BY lang
    )
    SELECT j.lang, MAX(t.vocab) AS vocab,
           ROUND(0.5 * CAST(SUM(CAST(ROUND(ABS(
               CAST(j.na AS DOUBLE) / t.ta
               - CAST(j.nb AS DOUBLE) / t.tb), 8) AS DECIMAL(20,8)))
             AS DOUBLE), 6) AS halves_tvd
    FROM j JOIN t ON j.lang = t.lang
    GROUP BY j.lang ORDER BY j.lang
    """,
    tags=("llm", "text", "drift", "tvd", "positional"),
)
def documents_halves_vocab_tvd(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Positional vocabulary drift per language: total-variation distance
    between the word distribution of every document's FIRST half and its
    SECOND half — boilerplate-heavy corpora (headers up front, license
    tails) show high drift; well-mixed prose shows near zero. Token
    halves come from array slices (no ordinality dependence); each
    |pA−pB| term rounds to 8dp and folds as DECIMAL (order-free)."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang", F.split("text", " ").alias("l")
    )
    d = d.select(
        "lang",
        "l",
        F.expr("div(size(l) + 1, 2)").cast("int").alias("k"),
        F.size("l").alias("n"),
    )
    a = d.select(
        "lang", F.explode(F.slice("l", F.lit(1), F.col("k"))).alias("word")
    )
    b = d.select(
        "lang",
        F.explode(
            F.slice("l", F.col("k") + 1, F.col("n") - F.col("k"))
        ).alias("word"),
    )
    ca = a.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("na")
    )
    cb = b.groupBy("lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    j = (
        ca.join(cb, ["lang", "word"], "full_outer")
        .select(
            "lang",
            "word",
            F.coalesce("na", F.lit(0)).alias("na"),
            F.coalesce("nb", F.lit(0)).alias("nb"),
        )
    )
    t = j.groupBy("lang").agg(
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nb").cast("bigint").alias("tb"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    term = F.round(
        F.abs(
            F.col("na").cast("double") / F.col("ta")
            - F.col("nb").cast("double") / F.col("tb")
        ),
        8,
    ).cast("decimal(20,8)")
    return (
        j.join(F.broadcast(t), "lang")
        .groupBy("lang")
        .agg(
            F.max("vocab").alias("vocab"),
            F.round(0.5 * F.sum(term).cast("double"), 6).alias("halves_tvd"),
        )
        .orderBy("lang")
    )


# --- bag-of-words vs exact dedup rate ----------------------------------------------------------------


@query(
    "dedup_word_multiset_rate",
    oracle="""
    WITH s AS (
      SELECT md5(text) AS exact_sig,
             md5(array_to_string(list_sort(string_split(text, ' ')), ' '))
               AS bag_sig
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT exact_sig) AS BIGINT) AS n_distinct_exact,
           CAST(COUNT(DISTINCT bag_sig) AS BIGINT) AS n_distinct_bag,
           CAST(COUNT(DISTINCT exact_sig) - COUNT(DISTINCT bag_sig)
                AS BIGINT) AS n_reorder_only,
           ROUND(1 - CAST(COUNT(DISTINCT bag_sig) AS DOUBLE) / COUNT(*), 6)
             AS bag_dup_rate
    FROM s
    """,
    tags=("llm", "dedup", "bag-of-words", "normalization"),
)
def dedup_word_multiset_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words dedup rate: documents identical as word MULTISETS
    (md5 of the sorted token list) vs byte-identical — the
    normalization-insensitive screen that catches shuffled boilerplate
    the exact hash misses. ASCII tokens sort identically in both
    engines; distinct counts are exact."""
    d = load_table(spark, sf_dir, "documents").select(
        F.md5("text").alias("exact_sig"),
        F.md5(
            F.array_join(F.sort_array(F.split("text", " ")), " ")
        ).alias("bag_sig"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("exact_sig").cast("bigint").alias("n_distinct_exact"),
        F.countDistinct("bag_sig").cast("bigint").alias("n_distinct_bag"),
        (F.countDistinct("exact_sig") - F.countDistinct("bag_sig"))
        .cast("bigint")
        .alias("n_reorder_only"),
        F.round(
            1 - F.countDistinct("bag_sig").cast("double") / F.count(F.lit(1)),
            6,
        ).alias("bag_dup_rate"),
    )


# --- closing-word census -----------------------------------------------------------------------------


@query(
    "documents_last_word_census",
    oracle="""
    WITH lw AS (
      SELECT string_split(text, ' ')[-1] AS last_word FROM documents
    ), t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lw)
    SELECT last_word, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(t.total), 6) AS share
    FROM lw CROSS JOIN t
    GROUP BY last_word
    HAVING COUNT(*) * 100 >= MAX(t.total)
    ORDER BY n_docs DESC, last_word
    """,
    tags=("llm", "text", "boilerplate", "census"),
)
def documents_last_word_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Closing-word census (share ≥ 1%): the suffix-boilerplate screen
    mirroring the opening-word registration — corpora whose documents
    end in the same token are template-tailed (signatures, footers).
    The ≥1% cut is the integer compare n·100 ≥ total, so no float edge
    decides membership."""
    d = load_table(spark, sf_dir, "documents").select(
        F.element_at(F.split("text", " "), -1).alias("last_word")
    )
    t = d.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
    return (
        d.crossJoin(F.broadcast(t))
        .groupBy("last_word")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.max("total"), 6
            ).alias("share"),
            F.max("total").alias("_t"),
        )
        .where(F.col("n_docs") * 100 >= F.col("_t"))
        .drop("_t")
        .orderBy(F.desc("n_docs"), "last_word")
    )


# --- Spearman rank correlation: length vs vocabulary ----------------------------------------------


@query(
    "documents_length_vocab_spearman",
    oracle="""
    WITH v AS (
      SELECT doc_id, MAX(n_chars) AS x,
             CAST(COUNT(DISTINCT word) AS BIGINT) AS y
      FROM (SELECT doc_id, n_chars, unnest(string_split(text, ' ')) AS word
            FROM documents)
      GROUP BY doc_id
    ), r AS (
      SELECT ROW_NUMBER() OVER (ORDER BY x, doc_id) AS rx,
             ROW_NUMBER() OVER (ORDER BY y, doc_id) AS ry
      FROM v
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST((rx - ry) AS DECIMAL(38,0)) * (rx - ry))
                  AS DECIMAL(38,0)) AS d2
      FROM r
    )
    SELECT n AS n_docs, CAST(d2 AS DOUBLE) AS sum_d2,
           ROUND(1 - 6 * CAST(d2 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1)), 6)
             AS spearman_rho
    FROM s
    """,
    tags=("stats", "spearman", "rank-correlation", "prefix-rank", "llm"),
)
def documents_length_vocab_spearman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between document length (chars) and
    vocabulary size (distinct words) — the monotone-association read
    robust to the heavy length tail. BOTH rank vectors are two-pass
    partitioned prefix counts over SF-growing doc orders (tie-break
    doc_id, so ranks are permutation-exact integers); Σd² folds as
    DECIMAL(38,0) and ρ = 1 − 6Σd²/(n(n²−1)) is one final double
    expression."""
    d = load_table(spark, sf_dir, "documents")
    v = (
        d.select(
            "doc_id",
            "n_chars",
            F.explode(F.split("text", " ")).alias("word"),
        )
        .groupBy("doc_id")
        .agg(
            F.max("n_chars").alias("x"),
            F.countDistinct("word").cast("bigint").alias("y"),
        )
    )
    rx = partitioned_prefix_sum(
        v,
        [F.col("x"), F.col("doc_id")],
        F.lit(1).cast("bigint"),
        out_col="rx",
    ).select("doc_id", "rx")
    ry = partitioned_prefix_sum(
        v,
        [F.col("y"), F.col("doc_id")],
        F.lit(1).cast("bigint"),
        out_col="ry",
    ).select("doc_id", "ry")
    r = rx.join(ry, "doc_id")
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            (F.col("rx") - F.col("ry")).cast("decimal(38,0)")
            * (F.col("rx") - F.col("ry"))
        )
        .cast("decimal(38,0)")
        .alias("d2"),
    )
    return s.select(
        F.col("n").alias("n_docs"),
        F.col("d2").cast("double").alias("sum_d2"),
        F.round(
            1
            - 6
            * F.col("d2").cast("double")
            / (
                F.col("n").cast("double")
                * (F.col("n").cast("double") * F.col("n") - 1)
            ),
            6,
        ).alias("spearman_rho"),
    )


# --- L1/L2 norm-ratio census ------------------------------------------------------------------------


@query(
    "embed_norm_ratio_census",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS qv
      FROM embeddings
    ), n AS (
      SELECT vec_id,
             CAST(SUM(ABS(qv)) AS BIGINT) AS l1,
             CAST(SUM(CAST(qv AS DECIMAL(38,0)) * qv) AS DECIMAL(38,0))
               AS l2sq
      FROM q GROUP BY vec_id
    )
    SELECT CAST(FLOOR(2.0 * l1 / SQRT(CAST(l2sq AS DOUBLE))) AS INT)
             AS ratio_band,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM n GROUP BY ratio_band ORDER BY ratio_band
    """,
    tags=("llm", "embeddings", "norm-ratio", "sparsity", "census"),
)
def embed_norm_ratio_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1/L2 norm-ratio census over embeddings — the ratio runs from 1
    (one-hot, maximally sparse energy) to √64 (perfectly spread), so its
    banding profiles how concentrated each vector's mass is (the
    diagnostic behind sparsification/quantization decisions).
    Components quantize to integer micro-units; L1 and L2² fold exactly,
    and the band is one identical double expression per vector."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select("vec_id", F.explode("embedding").alias("val")).select(
        "vec_id",
        F.floor(F.col("val").cast("double") * 1_000_000)
        .cast("bigint")
        .alias("qv"),
    )
    n = q.groupBy("vec_id").agg(
        F.sum(F.abs("qv")).cast("bigint").alias("l1"),
        F.sum(F.col("qv").cast("decimal(38,0)") * F.col("qv"))
        .cast("decimal(38,0)")
        .alias("l2sq"),
    )
    return (
        n.select(
            F.floor(
                2.0 * F.col("l1") / F.sqrt(F.col("l2sq").cast("double"))
            )
            .cast("int")
            .alias("ratio_band")
        )
        .groupBy("ratio_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("ratio_band")
    )


# --- per-dimension sign balance ----------------------------------------------------------------------


@query(
    "embed_dim_sign_balance_topk",
    oracle="""
    WITH q AS (
      SELECT generate_subscripts(embedding, 1) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS qv
      FROM embeddings
    ), s AS (
      SELECT dim,
             CAST(SUM(CASE WHEN qv > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
             CAST(SUM(CASE WHEN qv < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neg
      FROM q GROUP BY dim
    ), r AS (
      SELECT dim, n_pos, n_neg, n_pos - n_neg AS balance,
             ROW_NUMBER() OVER (ORDER BY ABS(n_pos - n_neg) DESC, dim)
               AS rk
      FROM s
    )
    SELECT CAST(dim AS INT) AS dim, CAST(rk AS INT) AS rk,
           n_pos, n_neg, CAST(balance AS BIGINT) AS balance
    FROM r WHERE rk <= 10 ORDER BY rk
    """,
    tags=("llm", "embeddings", "sign-balance", "feature-screen"),
)
def embed_dim_sign_balance_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-10 most sign-imbalanced embedding dimensions — a dimension
    that's (almost) always positive carries a bias/offset component
    rather than signal, the screen run before mean-centering. Counts
    are exact integers end to end; the rank window holds 64 rows."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(F.posexplode("embedding").alias("pos", "val")).select(
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("val").cast("double") * 1_000_000)
        .cast("bigint")
        .alias("qv"),
    )
    s = q.groupBy("dim").agg(
        F.sum(F.when(F.col("qv") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("qv") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
    )
    r = s.select(
        "dim",
        "n_pos",
        "n_neg",
        (F.col("n_pos") - F.col("n_neg")).alias("balance"),
    ).withColumn(
        "rk",
        F.row_number().over(
            W.orderBy(F.abs(F.col("n_pos") - F.col("n_neg")).desc(), "dim")
        ),
    )
    return (
        r.where(F.col("rk") <= 10)
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.col("rk").cast("int").alias("rk"),
            "n_pos",
            "n_neg",
            F.col("balance").cast("bigint").alias("balance"),
        )
        .orderBy("rk")
    )


# --- between-class separation per dimension ------------------------------------------------------------


@query(
    "embed_dim_class_separation_topk",
    oracle="""
    WITH q AS (
      SELECT CASE WHEN label < 5 THEN 0 ELSE 1 END AS cls,
             generate_subscripts(embedding, 1) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS qv
      FROM embeddings
    ), m AS (
      SELECT dim,
             CAST(SUM(CASE WHEN cls = 0 THEN qv ELSE 0 END)
                  AS DECIMAL(38,0)) AS sa,
             CAST(SUM(CASE WHEN cls = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS na,
             CAST(SUM(CASE WHEN cls = 1 THEN qv ELSE 0 END)
                  AS DECIMAL(38,0)) AS sb,
             CAST(SUM(CASE WHEN cls = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nb
      FROM q GROUP BY dim
    ), r AS (
      SELECT dim, sa, na, sb, nb,
             ROW_NUMBER() OVER (
               ORDER BY ABS(CAST(sa * nb - sb * na AS DECIMAL(38,0))) DESC,
                        dim) AS rk
      FROM m
    )
    SELECT CAST(dim AS INT) AS dim, CAST(rk AS INT) AS rk,
           ROUND(ABS(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
                 / 1000000, 6) AS mean_gap
    FROM r WHERE rk <= 5 ORDER BY rk
    """,
    tags=("llm", "embeddings", "class-separation", "feature-selection"),
)
def embed_dim_class_separation_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-5 embedding dimensions by between-class mean gap (labels
    split 0-4 vs 5-9) — the one-feature discriminability screen before
    training a probe. The RANKING key is the cross-multiplied integer
    |sa·nb − sb·na| (equal denominators na·nb cancel across dims), so
    ordering never touches a float; only the reported gap divides."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        F.when(F.col("label") < 5, 0).otherwise(1).alias("cls"),
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "cls",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("val").cast("double") * 1_000_000)
        .cast("bigint")
        .alias("qv"),
    )
    d38 = "decimal(38,0)"
    m = q.groupBy("dim").agg(
        F.sum(F.when(F.col("cls") == 0, F.col("qv")).otherwise(0))
        .cast(d38)
        .alias("sa"),
        F.sum(F.when(F.col("cls") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("cls") == 1, F.col("qv")).otherwise(0))
        .cast(d38)
        .alias("sb"),
        F.sum(F.when(F.col("cls") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    key = F.abs(
        (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).cast(d38)
    )
    r = m.withColumn("rk", F.row_number().over(W.orderBy(key.desc(), "dim")))
    return (
        r.where(F.col("rk") <= 5)
        .select(
            F.col("dim").cast("int").alias("dim"),
            F.col("rk").cast("int").alias("rk"),
            F.round(
                F.abs(
                    F.col("sa").cast("double") / F.col("na")
                    - F.col("sb").cast("double") / F.col("nb")
                )
                / 1_000_000,
                6,
            ).alias("mean_gap"),
        )
        .orderBy("rk")
    )


# --- cosine-to-centroid bands ---------------------------------------------------------------------------


@query(
    "embed_centroid_cosine_bands",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS qv
      FROM embeddings
    ), c AS (
      SELECT dim,
             CAST(ROUND(CAST(SUM(qv) AS DOUBLE) / COUNT(*), 6)
                  AS DECIMAL(24,6)) AS cd
      FROM q GROUP BY dim
    ), parts AS (
      SELECT q.vec_id,
             CAST(SUM(CAST(q.qv AS DECIMAL(38,6)) * c.cd)
                  AS DECIMAL(38,6)) AS dot,
             CAST(SUM(CAST(q.qv AS DECIMAL(38,0)) * q.qv)
                  AS DECIMAL(38,0)) AS nv
      FROM q JOIN c ON q.dim = c.dim
      GROUP BY q.vec_id
    ), cn AS (
      SELECT CAST(SUM(cd * cd) AS DECIMAL(38,12)) AS nc FROM c
    )
    SELECT CAST(FLOOR((CAST(dot AS DOUBLE)
               / SQRT(CAST(nv AS DOUBLE) * CAST(nc AS DOUBLE)) + 1.0)
               * 10) AS INT) AS cos_band,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM parts CROSS JOIN cn
    GROUP BY cos_band ORDER BY cos_band
    """,
    tags=("llm", "embeddings", "centroid", "cosine", "census"),
)
def embed_centroid_cosine_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cosine-to-global-centroid census — how tightly the corpus's
    vectors cluster around their mean direction (an isotropy read; a
    single dominant band means the space has collapsed). The centroid
    coordinate per dimension rounds to a 6dp DECIMAL, so every
    per-vector dot product folds as EXACT decimal products of integer
    micro-units × decimal centroid; norms are exact; only the final
    cosine divides, identically in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("dim"),
        F.floor(F.col("val").cast("double") * 1_000_000)
        .cast("bigint")
        .alias("qv"),
    )
    c = q.groupBy("dim").agg(
        F.round(F.sum("qv").cast("double") / F.count(F.lit(1)), 6)
        .cast("decimal(24,6)")
        .alias("cd")
    )
    parts = (
        q.join(F.broadcast(c), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("qv").cast("decimal(38,6)") * F.col("cd"))
            .cast("decimal(38,6)")
            .alias("dot"),
            F.sum(F.col("qv").cast("decimal(38,0)") * F.col("qv"))
            .cast("decimal(38,0)")
            .alias("nv"),
        )
    )
    cn = c.agg(
        F.sum(F.col("cd") * F.col("cd")).cast("decimal(38,12)").alias("nc")
    )
    return (
        parts.crossJoin(F.broadcast(cn))
        .select(
            F.floor(
                (
                    F.col("dot").cast("double")
                    / F.sqrt(
                        F.col("nv").cast("double") * F.col("nc").cast("double")
                    )
                    + 1.0
                )
                * 10
            )
            .cast("int")
            .alias("cos_band")
        )
        .groupBy("cos_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("cos_band")
    )


# --- l-diversity audit --------------------------------------------------------------------------------


@query(
    "privacy_ldiversity_audit",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(DISTINCT CAST(CAST(c_acctbal AS DECIMAL(12,2))
                  * 100 AS BIGINT) // 100000) AS BIGINT) AS l_distinct
      FROM customer GROUP BY c_nationkey, c_mktsegment
    )
    SELECT l_distinct, CAST(COUNT(*) AS BIGINT) AS n_groups
    FROM g GROUP BY l_distinct ORDER BY l_distinct
    """,
    tags=("privacy", "l-diversity", "audit", "census"),
)
def privacy_ldiversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over the (nation, segment) quasi-identifier:
    the k-anonymity sibling — a QI group is safe only if its SENSITIVE
    attribute (balance in $1000 bands) takes many distinct values;
    l_distinct = 1 means everyone in the group leaks the same balance
    band even at high k. Integer banding; one distinct-count per
    bounded QI group."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "div(cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint), "
            "100000)"
        ).alias("band"),
    )
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.countDistinct("band").cast("bigint").alias("l_distinct")
    )
    return (
        g.groupBy("l_distinct")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_groups"))
        .orderBy("l_distinct")
    )


# --- cross-table freshness audit -----------------------------------------------------------------------


@query(
    "dq_freshness_audit",
    oracle="""
    SELECT 'orders' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MAX(o_orderdate) AS TIMESTAMP) AS max_event_time,
           CAST(DATE '2002-01-01' - CAST(MAX(o_orderdate) AS DATE)
                AS BIGINT) AS staleness_days
    FROM orders
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
           CAST(MAX(l_shipdate) AS TIMESTAMP),
           CAST(DATE '2002-01-01' - CAST(MAX(l_shipdate) AS DATE) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'events', CAST(COUNT(*) AS BIGINT),
           CAST(DATE_TRUNC('second', MAX(ts)) AS TIMESTAMP),
           CAST(DATE '2024-02-01' - CAST(MAX(ts) AS DATE) AS BIGINT)
    FROM events
    ORDER BY table_name
    """,
    tags=("data-quality", "freshness", "audit", "union"),
)
def dq_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table freshness audit: per fact table, the newest event
    time and its staleness in days against that table's reporting
    anchor (2002-01-01 for the TPC-H calendar, 2024-02-01 for the
    events stream) — the SLA check a pipeline scheduler gates on. Three
    single-row aggregates UNION ALL'd; the events max truncates to
    whole seconds so sub-second fixture jitter never enters the hash."""
    o = load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("o_orderdate").cast("timestamp").alias("max_event_time"),
        F.datediff(
            F.lit("2002-01-01").cast("date"),
            F.max("o_orderdate").cast("date"),
        )
        .cast("bigint")
        .alias("staleness_days"),
    ).select(F.lit("orders").alias("table_name"), "*")
    li = load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.max("l_shipdate").cast("timestamp").alias("max_event_time"),
        F.datediff(
            F.lit("2002-01-01").cast("date"),
            F.max("l_shipdate").cast("date"),
        )
        .cast("bigint")
        .alias("staleness_days"),
    ).select(F.lit("lineitem").alias("table_name"), "*")
    e = load_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.date_trunc("second", F.max("ts"))
        .cast("timestamp")
        .alias("max_event_time"),
        F.datediff(
            F.lit("2024-02-01").cast("date"), F.max("ts").cast("date")
        )
        .cast("bigint")
        .alias("staleness_days"),
    ).select(F.lit("events").alias("table_name"), "*")
    return o.unionByName(li).unionByName(e).orderBy("table_name")


# --- Neyman allocation plan -------------------------------------------------------------------------------


@query(
    "sample_neyman_allocation_plan",
    oracle="""
    WITH m AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(n_chars) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars)
                  AS DECIMAL(38,0)) AS q
      FROM documents GROUP BY lang
    ), w AS (
      SELECT lang, nh,
             SQRT((CAST(q AS DOUBLE) * nh - CAST(s AS DOUBLE)
                   * CAST(s AS DOUBLE))
                  / (CAST(nh AS DOUBLE) * (nh - 1))) AS sh,
             CAST(ROUND(nh * SQRT((CAST(q AS DOUBLE) * nh
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(nh AS DOUBLE) * (nh - 1))), 6)
               AS DECIMAL(28,6)) AS nhsh
      FROM m
    ), t AS (SELECT CAST(SUM(nhsh) AS DECIMAL(38,6)) AS tot FROM w)
    SELECT lang, nh AS n_docs, ROUND(sh, 4) AS sd_chars,
           ROUND(100 * CAST(nhsh AS DOUBLE) / CAST(tot AS DOUBLE), 4)
             AS alloc_pct
    FROM w CROSS JOIN t ORDER BY lang
    """,
    tags=("pipeline", "sampling", "neyman", "stratified"),
)
def sample_neyman_allocation_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman-optimal stratified sampling plan over document languages:
    allocate budget ∝ N_h·S_h (stratum size × stddev of n_chars), the
    variance-minimizing design a corpus profiler hands the sampler.
    Stratum moments fold exactly; each N_h·S_h weight rounds to 6dp
    DECIMAL before the cross-stratum total so the plan is order-free."""
    d = load_table(spark, sf_dir, "documents")
    d38 = "decimal(38,0)"
    m = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("nh"),
        F.sum("n_chars").cast(d38).alias("s"),
        F.sum(F.col("n_chars").cast(d38) * F.col("n_chars"))
        .cast(d38)
        .alias("q"),
    )
    sh = F.sqrt(
        (
            F.col("q").cast("double") * F.col("nh")
            - F.col("s").cast("double") * F.col("s").cast("double")
        )
        / (F.col("nh").cast("double") * (F.col("nh") - 1))
    )
    w = m.select(
        "lang",
        "nh",
        sh.alias("sh"),
        F.round(F.col("nh") * sh, 6).cast("decimal(28,6)").alias("nhsh"),
    )
    t = w.agg(F.sum("nhsh").cast("decimal(38,6)").alias("tot"))
    return (
        w.crossJoin(F.broadcast(t))
        .select(
            "lang",
            F.col("nh").alias("n_docs"),
            F.round("sh", 4).alias("sd_chars"),
            F.round(
                100 * F.col("nhsh").cast("double") / F.col("tot").cast("double"),
                4,
            ).alias("alloc_pct"),
        )
        .orderBy("lang")
    )


# --- zstd parquet sink roundtrip ----------------------------------------------------------------------------


@query(
    "sink_parquet_zstd_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS cents_sum
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("sinks", "parquet", "compression", "zstd", "roundtrip"),
)
def sink_parquet_zstd_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zstd-compressed parquet WRITER roundtrip: orders write with
    compression=zstd (the modern codec default on most warehouses —
    better ratio than snappy at similar decode speed, and splittable
    unlike gzip CSV), read back, and census from the re-decoded
    integers. Covers the codec leg of the parquet sink surface."""
    import os

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    path = scratch_dir("sinks", sf_dir, "parquet_zstd_orders")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    o.write.mode("overwrite").option("compression", "zstd").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
        )
        .orderBy("o_orderpriority")
    )


# --- streaming twin: tumbling top-k types ----------------------------------------------------------------


@query(
    "stream_tumbling6h_topk_types",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY window_start, event_type
    ), r AS (
      SELECT window_start, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type) AS rk
      FROM w
    )
    SELECT window_start, CAST(rk AS INT) AS rk, event_type, n_events
    FROM r WHERE rk <= 3 ORDER BY window_start, rk
    """,
    tags=("streaming", "window", "tumbling", "top-k"),
)
def stream_tumbling6h_topk_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 event types per tumbling 6-hour window — the 'trending now'
    shape a streaming job emits at window close (counts are mergeable
    state; the rank runs over the ≤|event_type| rows of each CLOSED
    window, which is what a watermark guarantees downstream).
    Deterministic tie-break on the type label."""
    e = load_table(spark, sf_dir, "events")
    w = e.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    r = w.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    ).withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("window_start").orderBy(
                F.desc("n_events"), "event_type"
            )
        ),
    )
    return (
        r.where(F.col("rk") <= 3)
        .select(
            "window_start", F.col("rk").cast("int").alias("rk"),
            "event_type", "n_events",
        )
        .orderBy("window_start", "rk")
    )


# --- streaming twin: window type shares --------------------------------------------------------------------


@query(
    "stream_tumbling3h_type_share",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL 3 HOUR, ts) AS window_start, event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY window_start, event_type
    ), t AS (
      SELECT window_start, CAST(SUM(n_events) AS BIGINT) AS total
      FROM w GROUP BY window_start
    )
    SELECT w.window_start, w.event_type, w.n_events,
           ROUND(CAST(w.n_events AS DOUBLE) / t.total, 6) AS window_share
    FROM w JOIN t ON w.window_start = t.window_start
    ORDER BY w.window_start, w.event_type
    """,
    tags=("streaming", "window", "tumbling", "share"),
)
def stream_tumbling3h_type_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-type mix per tumbling 3-hour window (share of the window's
    total) — the normalized composition twin beside the raw-count
    registrations: a drifting mix with flat totals is invisible to
    count alerts but jumps out here. Two mergeable count states per
    window; one division at emit time."""
    e = load_table(spark, sf_dir, "events")
    w = e.groupBy(
        F.window("ts", "3 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    w = w.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    )
    t = w.groupBy("window_start").agg(
        F.sum("n_events").cast("bigint").alias("total")
    )
    return (
        w.join(t, "window_start")
        .select(
            "window_start",
            "event_type",
            "n_events",
            F.round(
                F.col("n_events").cast("double") / F.col("total"), 6
            ).alias("window_share"),
        )
        .orderBy("window_start", "event_type")
    )


# --- graph goldens ------------------------------------------------------------------------------------


def _sym16(spark: SparkSession, rows) -> DataFrame:
    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
    )

    sym = list(rows) + [(b, a) for a, b in rows]
    return spark.createDataFrame(sorted(set(sym)), EDGE_SCHEMA)


@query(
    "graph_wiener_index_g6",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS n_vertices,
           CAST(45 AS BIGINT) AS n_pairs,
           CAST(110 AS BIGINT) AS wiener_index,
           CAST(2.444444 AS DOUBLE) AS mean_distance
    """,
    tags=("graph", "wiener", "all-pairs", "golden"),
)
def graph_wiener_index_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wiener index of the G6 clique+cycle fixture — the sum of
    shortest-path distances over all unordered vertex pairs (110 for
    G6; mean distance 110/45 ≈ 2.444), the classic
    molecular-topology/compactness invariant. All |V| BFS trees ride
    one multi_source_bfs_all frontier; the pair sum halves the directed
    total. Golden recomputed by an independent python BFS pass."""
    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs_all,
    )
    from distributed_graph_database_system_spark.queries.graph import G6

    e = _sym16(spark, G6)
    seeds = sorted({a for a, _ in G6} | {b for _, b in G6})
    d = multi_source_bfs_all(e, seeds).where(F.col("level") > 0)
    return d.agg(
        F.countDistinct("seed").cast("bigint").alias("n_vertices"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_pairs"),
        (F.sum("level") / 2).cast("bigint").alias("wiener_index"),
        F.round(
            F.sum("level").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_distance"),
    )


@query(
    "graph_triad_census_g6",
    oracle="""
    SELECT CAST(120 AS BIGINT) AS n_triples,
           CAST(36 AS BIGINT) AS n_empty,
           CAST(68 AS BIGINT) AS n_one_edge,
           CAST(12 AS BIGINT) AS n_wedge,
           CAST(4 AS BIGINT) AS n_triangle
    """,
    tags=("graph", "triad-census", "motif", "golden"),
)
def graph_triad_census_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected triad census of G6 — every 3-vertex subset classified
    by edge count (empty / one-edge / wedge / triangle), the motif
    fingerprint behind clustering and balance analyses. Computed by
    EXACT combinatorial identities instead of enumerating C(n,3)
    triples: triangles T from operators/graph.py triangle_count, closed
    wedges ΣC(d,2) = 3T + N₂, edge-anchored triples m(n−2) =
    3T + 2N₂ + N₁ — so one degree aggregate + one triangle count yields
    the whole census. Golden verified by an independent brute-force
    python pass over all 120 triples."""
    from distributed_graph_database_system_spark.operators.graph import (
        triangle_count,
    )
    from distributed_graph_database_system_spark.queries.graph import G6

    e = _sym16(spark, G6)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    tri = triangle_count(e.where(F.col("src") < F.col("dst"))).select(
        F.col("n_triangles").alias("t")
    )
    base = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("d") / 2).cast("bigint").alias("m"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("closed_wedges"),
    )
    x = base.crossJoin(tri)
    n2 = F.col("closed_wedges") - 3 * F.col("t")
    n1 = F.col("m") * (F.col("n") - 2) - 3 * F.col("t") - 2 * n2
    total = (
        F.col("n") * (F.col("n") - 1) * (F.col("n") - 2) / 6
    ).cast("bigint")
    return x.select(
        total.alias("n_triples"),
        (total - F.col("t") - n2 - n1).cast("bigint").alias("n_empty"),
        n1.cast("bigint").alias("n_one_edge"),
        n2.cast("bigint").alias("n_wedge"),
        F.col("t").alias("n_triangle"),
    )


@query(
    "graph_bipartite_check_goldens",
    oracle="""
    SELECT g AS graph, CAST(nv AS BIGINT) AS n_vertices,
           CAST(ne AS BIGINT) AS n_edges,
           CAST(ok AS BOOLEAN) AS is_bipartite
    FROM (VALUES
      ('g2', 6, 7, FALSE), ('g6', 10, 13, FALSE),
      ('g7', 7, 9, TRUE), ('g8', 16, 26, FALSE)
    ) AS t(g, nv, ne, ok) ORDER BY graph
    """,
    tags=("graph", "bipartite", "odd-cycle", "golden"),
)
def graph_bipartite_check_goldens(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bipartiteness (2-colorability) of the four golden fixtures — BFS
    level parity colors each connected graph, then one edge join flags
    any same-color endpoint pair (an odd cycle). G7's DAG skeleton is
    the only bipartite one; G2/G6 contain triangles and G8's 1-6 chord
    closes an odd cycle in the grid. Goldens verified by an independent
    python 2-coloring pass."""
    from distributed_graph_database_system_spark.operators.graph import (
        multi_source_bfs_all,
    )
    from distributed_graph_database_system_spark.queries.graph import (
        G2,
        G6,
        G7_DAG,
    )
    from distributed_graph_database_system_spark.queries.seeds_r13a import G8

    out = None
    for name, rows in (
        ("g2", G2),
        ("g6", G6),
        ("g7", G7_DAG),
        ("g8", list(G8)),
    ):
        e = _sym16(spark, rows)
        verts = sorted({a for a, b in rows} | {b for _, b in rows})
        colors = (
            multi_source_bfs_all(e, [min(verts)])
            .select("vid", (F.col("level") % 2).alias("color"))
        )
        conflicts = (
            e.join(colors.withColumnRenamed("vid", "src"), "src")
            .withColumnRenamed("color", "c_src")
            .join(
                colors.withColumnRenamed("vid", "dst").withColumnRenamed(
                    "color", "c_dst"
                ),
                "dst",
            )
            .where(F.col("c_src") == F.col("c_dst"))
            .agg(F.count(F.lit(1)).alias("n_bad"))
        )
        row = conflicts.select(
            F.lit(name).alias("graph"),
            F.lit(len(verts)).cast("bigint").alias("n_vertices"),
            F.lit(len(set(map(lambda p: tuple(sorted(p)), rows))))
            .cast("bigint")
            .alias("n_edges"),
            (F.col("n_bad") == 0).alias("is_bipartite"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("graph")


@query(
    "graph_katz_centrality_g2",
    oracle="""
    SELECT CAST(v AS BIGINT) AS vid, CAST(k AS DOUBLE) AS katz
    FROM (VALUES
      (1, 0.255329), (2, 0.276646), (3, 0.276646),
      (4, 0.511132), (5, 0.279014), (6, 0.279014)
    ) AS t(v, k) ORDER BY vid
    """,
    tags=("graph", "katz", "centrality", "golden"),
)
def graph_katz_centrality_g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the symmetrized G2 fixture (α = 0.1, 10 hops):
    x(v) = Σ_k α^k·(A^k·1)(v) — the walk-counting centrality between
    degree and eigenvector. Because α = 1/10, every term is EXACT
    integer arithmetic: the hop-k walk counts p_k are integer
    matrix-vector products, and the truncated series folds as
    Σ p_k·10^(10−k) over a common 10¹⁰ denominator — no float until
    the single final division (golden pinned from an independent exact
    python pass; the float recurrence agrees at 6dp)."""
    from distributed_graph_database_system_spark.queries.graph import G2

    e = _sym16(spark, G2)
    verts = sorted({a for a, b in G2} | {b for _, b in G2})
    p = spark.createDataFrame([(v, 1) for v in verts], "vid BIGINT, p BIGINT")
    acc = spark.createDataFrame(
        [(v, 0) for v in verts], "vid BIGINT, acc BIGINT"
    )
    for k in range(1, 11):
        p = (
            e.join(p.withColumnRenamed("vid", "src"), "src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("p").cast("bigint").alias("p"))
        )
        acc = (
            acc.join(p, "vid", "left")
            .select(
                "vid",
                (
                    F.col("acc")
                    + F.coalesce(F.col("p"), F.lit(0)) * (10 ** (10 - k))
                ).alias("acc"),
            )
        )
    return acc.select(
        "vid",
        F.round(F.col("acc").cast("double") / 1e10, 6).alias("katz"),
    ).orderBy("vid")


# --- customer/supplier balance union profile ---------------------------------------------------------------


@query(
    "customers_suppliers_balance_union_profile",
    oracle="""
    WITH u AS (
      SELECT 'customer' AS role,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents
      FROM customer
      UNION ALL
      SELECT 'supplier',
             CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
      FROM supplier
    )
    SELECT role, CAST(COUNT(*) AS BIGINT) AS n_accounts,
           ROUND(CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100, 4)
             AS mean_balance,
           CAST(MIN(cents) AS DOUBLE) / 100 AS min_balance,
           CAST(MAX(cents) AS DOUBLE) / 100 AS max_balance,
           ROUND(CAST(SUM(CASE WHEN cents < 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS negative_share
    FROM u GROUP BY role ORDER BY role
    """,
    tags=("relational", "union", "schema-harmonization", "profile"),
)
def customers_suppliers_balance_union_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Side-by-side balance profile of the two account populations —
    UNION ALL over schema-harmonized projections (the ledger
    consolidation shape), then one profile aggregation per role. Exact
    cents throughout."""
    c = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("role"),
        (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("role"),
        (dec("s_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    neg = F.when(F.col("cents") < 0, 1).otherwise(0)
    return (
        c.unionByName(s)
        .groupBy("role")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_accounts"),
            F.round(
                F.sum("cents").cast("double") / F.count(F.lit(1)) / 100, 4
            ).alias("mean_balance"),
            (F.min("cents").cast("double") / 100).alias("min_balance"),
            (F.max("cents").cast("double") / 100).alias("max_balance"),
            F.round(F.sum(neg).cast("double") / F.count(F.lit(1)), 6).alias(
                "negative_share"
            ),
        )
        .orderBy("role")
    )

"""R15_POOL, the round-14 registration batch: 42 first-time queries that
join the eight banked in ``seeds_r15a.py`` to form the 50-name round-15
rotation pool. One module for the whole round (r13 verdict hygiene nit —
no more per-batch file splits). Families: distributed order-statistics
exhibits (mean absolute difference, Palma ratio, winsorized stats,
trimean, top-quartile shares), exact-moment statistics (Poisson
dispersion, McNemar, odds ratios, Atkinson, entropy censuses, geometric
means, WoW volatility), calendar/window sequences (month-end effect,
leader streaks, gap bands, line-share profiles), relational audits
(reconciliation, orphans, shard balance, elasticity), embedding-array
profiles, text/dedup screens, md5 sampling, sink roundtrips (TSV, gzip),
a streaming variance twin, three graph goldens (edge Jaccard, DAG path
counts, global transitivity), and a cross-table count reconciliation.
All parity-verified at sf0.001/0.01/0.1 at registration; every query is
partition-invariant (exact integer/decimal folds, or rounded-term sums
ahead of any float reduction).
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
    dsum,
    scratch_dir,
)
from distributed_graph_database_system_spark.queries.registry import query
from distributed_graph_database_system_spark.sources.catalog import load_table


# --- Gini mean (absolute) difference --------------------------------------------------


@query(
    "orders_price_mean_abs_difference",
    oracle="""
    WITH c AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             o_orderkey AS k
      FROM orders
    ), r AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, k) AS rn
      FROM c
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(rn * cents AS DECIMAL(38,0))) AS s_rw,
             SUM(CAST(cents AS DECIMAL(38,0))) AS s_c
      FROM r
    )
    SELECT n AS n_orders,
           ROUND(CAST(2 * s_rw - (n + 1) * s_c AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1) / 2) / 100, 6)
             AS mean_abs_diff
    FROM s
    """,
    tags=("stats", "inequality", "gini-mean-difference", "prefix-rank"),
)
def orders_price_mean_abs_difference(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gini mean difference of order prices — the average |price_i −
    price_j| over all unordered pairs, computed WITHOUT the O(n²) pair
    join via the sorted-rank identity Σ_{i<j}(x_j − x_i) =
    Σ_i (2·rank_i − n − 1)·x_i. The global rank is a two-pass
    partitioned prefix COUNT (operators/prefix.py) over (cents,
    o_orderkey) — no single-task window anywhere; the weighted sum folds
    as DECIMAL(38,0) (rank × cents products overflow BIGINT past ~1e8
    rows), so the statistic is exact up to one final double division."""
    o = load_table(spark, sf_dir, "orders").select(
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderkey").alias("k"),
    )
    ranked = partitioned_prefix_sum(
        o, ["cents", "k"], F.lit(1).cast("bigint"), out_col="rn"
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("rn") * F.col("cents")).cast("decimal(38,0)")).alias(
            "s_rw"
        ),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s_c"),
    )
    return s.select(
        F.col("n").alias("n_orders"),
        F.round(
            (2 * F.col("s_rw") - (F.col("n") + 1) * F.col("s_c")).cast(
                "double"
            )
            / (F.col("n").cast("double") * (F.col("n") - 1) / 2)
            / 100,
            6,
        ).alias("mean_abs_diff"),
    )


# --- Palma ratio ---------------------------------------------------------------------


@query(
    "customer_balance_palma_ratio",
    oracle="""
    WITH pos AS (
      SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT)
               AS cents,
             c_custkey AS k
      FROM customer WHERE c_acctbal > 0
    ), r AS (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, k) AS rn,
             COUNT(*) OVER () AS n
      FROM pos
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_pos,
           CAST(SUM(cents) FILTER (rn > n - n // 10) AS BIGINT)
             AS top10_cents,
           CAST(SUM(cents) FILTER (rn <= (2 * n) // 5) AS BIGINT)
             AS bottom40_cents,
           ROUND(CAST(SUM(cents) FILTER (rn > n - n // 10) AS DOUBLE)
                 / SUM(cents) FILTER (rn <= (2 * n) // 5), 6)
             AS palma_ratio
    FROM r
    """,
    tags=("stats", "inequality", "palma", "prefix-rank"),
)
def customer_balance_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma inequality ratio over positive customer balances: the
    top-10% balance share divided by the bottom-40% share. Cutoffs are
    INTEGER-division rank bounds (n//10, (2n)//5 — never floor(0.1·n),
    whose double rounding misplaces the cut on exact multiples), ranks
    come from the partitioned prefix count, and both bucket sums are
    exact integer cents; only the final ratio is floating point."""
    pos = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select(
            (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
            F.col("c_custkey").alias("k"),
        )
    )
    ranked = partitioned_prefix_sum(
        pos, ["cents", "k"], F.lit(1).cast("bigint"), out_col="rn"
    )
    n_df = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    j = ranked.join(F.broadcast(n_df), F.lit(True), "left")
    top = F.sum(
        F.when(F.col("rn") > F.col("n") - F.expr("n DIV 10"), F.col("cents"))
    )
    bot = F.sum(
        F.when(F.col("rn") <= F.expr("(2 * n) DIV 5"), F.col("cents"))
    )
    return j.agg(
        F.max("n").alias("n_pos"),
        top.cast("bigint").alias("top10_cents"),
        bot.cast("bigint").alias("bottom40_cents"),
        F.round(top.cast("double") / bot, 6).alias("palma_ratio"),
    )


# --- winsorized stats ------------------------------------------------------------------


@query(
    "customer_acctbal_winsorized_stats",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk,
             CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM customer
    ), cuts AS (
      SELECT nk,
             percentile_disc(0.05) WITHIN GROUP (ORDER BY cents) AS lo,
             percentile_disc(0.95) WITHIN GROUP (ORDER BY cents) AS hi
      FROM c GROUP BY nk
    )
    SELECT c.nk AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(*) FILTER (c.cents < cuts.lo) AS BIGINT) AS n_clip_lo,
           CAST(COUNT(*) FILTER (c.cents > cuts.hi) AS BIGINT) AS n_clip_hi,
           ROUND(CAST(SUM(LEAST(GREATEST(c.cents, cuts.lo), cuts.hi))
                      AS DOUBLE) / COUNT(*) / 100, 6) AS winsor_mean
    FROM c JOIN cuts ON c.nk = cuts.nk
    GROUP BY c.nk ORDER BY nationkey
    """,
    tags=("stats", "robust", "winsorize", "order-statistics"),
)
def customer_acctbal_winsorized_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """5%-winsorized balance mean per nation: clip every balance into the
    [p05, p95] order-statistic bounds, then take the exact mean — the
    outlier-resistant location estimate that keeps sample size (unlike
    trimming). Both discrete percentiles route through
    group_quantiles_disc (partition-bounded state; customers-per-nation
    grows with SF); the clipped sum is exact integer cents."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nk"),
        (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    cuts = (
        group_quantiles_disc(c, "cents", [0.05, 0.95], ["nk"])
        .withColumnRenamed(_qcolname(0.05), "lo")
        .withColumnRenamed(_qcolname(0.95), "hi")
    )
    j = c.join(F.broadcast(cuts), "nk")
    clipped = F.least(F.greatest(F.col("cents"), F.col("lo")), F.col("hi"))
    return (
        j.groupBy(F.col("nk").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.count(F.when(F.col("cents") < F.col("lo"), 1))
            .cast("bigint")
            .alias("n_clip_lo"),
            F.count(F.when(F.col("cents") > F.col("hi"), 1))
            .cast("bigint")
            .alias("n_clip_hi"),
            F.round(
                F.sum(clipped).cast("double") / F.count(F.lit(1)) / 100, 6
            ).alias("winsor_mean"),
        )
        .orderBy("nationkey")
    )


# --- Tukey trimean ---------------------------------------------------------------------


@query(
    "lineitem_quantity_trimean",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND((percentile_disc(0.25) WITHIN GROUP (ORDER BY qty)
                  + 2.0 * percentile_disc(0.5) WITHIN GROUP (ORDER BY qty)
                  + percentile_disc(0.75) WITHIN GROUP (ORDER BY qty))
                 / 4, 6) AS trimean
    FROM q GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("stats", "robust", "trimean", "order-statistics"),
)
def lineitem_quantity_trimean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's trimean (q1 + 2·median + q3)/4 of line quantities per
    return flag — the robust location estimate that weights the center
    without ignoring the shoulders. All three discrete quartiles come
    from ONE group_quantiles_disc pass (shared rank scan); quantities
    are exact integers, so the trimean is a four-term rational with one
    final rounded division."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("bigint").alias("qty")
    )
    cuts = group_quantiles_disc(li, "qty", [0.25, 0.5, 0.75], ["l_returnflag"])
    counts = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        counts.join(F.broadcast(cuts), "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            F.round(
                (
                    F.col(_qcolname(0.25))
                    + 2.0 * F.col(_qcolname(0.5))
                    + F.col(_qcolname(0.75))
                )
                / 4,
                6,
            ).alias("trimean"),
        )
        .orderBy("l_returnflag")
    )


# --- top-quartile membership share -----------------------------------------------------


@query(
    "supplier_top_quartile_nation_share",
    oracle="""
    WITH s AS (
      SELECT s_nationkey AS nk,
             CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM supplier
    ), cut AS (
      SELECT percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS p75
      FROM s
    )
    SELECT nk AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(COUNT(*) FILTER (cents > cut.p75) AS BIGINT) AS n_top,
           ROUND(CAST(COUNT(*) FILTER (cents > cut.p75) AS DOUBLE)
                 / COUNT(*), 6) AS top_share
    FROM s CROSS JOIN cut
    GROUP BY nk, cut.p75 ORDER BY nationkey
    """,
    tags=("stats", "order-statistics", "quartile", "share"),
)
def supplier_top_quartile_nation_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Which nations hold the richest suppliers: per nation, the share of
    its suppliers whose balance clears the GLOBAL 75th-percentile cut.
    The single global order statistic routes through group_quantiles_disc
    on a constant group (partition-bounded even though the frame is the
    whole supplier table); membership is a strict integer compare."""
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nk"),
        (dec("s_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    cut = group_quantiles_disc(
        s.withColumn("g", F.lit(1)), "cents", [0.75], ["g"]
    ).drop("g").withColumnRenamed(_qcolname(0.75), "p75")
    j = s.join(F.broadcast(cut), F.lit(True), "left")
    top = F.count(F.when(F.col("cents") > F.col("p75"), 1))
    return (
        j.groupBy(F.col("nk").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            top.cast("bigint").alias("n_top"),
            F.round(top.cast("double") / F.count(F.lit(1)), 6).alias(
                "top_share"
            ),
        )
        .orderBy("nationkey")
    )


# --- Poisson dispersion ------------------------------------------------------------------


@query(
    "orders_daily_poisson_dispersion",
    oracle="""
    WITH daily AS (
      SELECT date_part('year', o_orderdate) AS yr, CAST(o_orderdate AS DATE)
               AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY yr, day
    )
    SELECT CAST(yr AS INT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(c) AS BIGINT) AS n_orders,
           ROUND(CAST(COUNT(*) * SUM(c * c) - SUM(c) * SUM(c) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * SUM(c)), 6)
             AS dispersion_index
    FROM daily GROUP BY yr ORDER BY yr
    """,
    tags=("stats", "poisson", "dispersion", "timeseries"),
)
def orders_daily_poisson_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Poisson dispersion index (variance/mean of daily order counts) per
    year — 1.0 under a homogeneous Poisson arrival process, above it for
    clustered demand. Counts and both moment sums are exact integers over
    the day-domain aggregate (≤366 rows per group); one rounded double
    division at the end."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return (
        daily.groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("c").cast("bigint").alias("n_orders"),
            F.round(
                (
                    F.count(F.lit(1)) * F.sum(F.col("c") * F.col("c"))
                    - F.sum("c") * F.sum("c")
                ).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.sum("c")),
                6,
            ).alias("dispersion_index"),
        )
        .orderBy("yr")
    )


# --- daily revenue entropy ----------------------------------------------------------------


@query(
    "orders_daily_revenue_entropy",
    oracle="""
    WITH daily AS (
      SELECT date_part('year', o_orderdate) AS yr,
             CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS cents
      FROM orders GROUP BY yr, day
    ), tot AS (
      SELECT yr, SUM(cents) AS t, CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY yr
    )
    SELECT CAST(d.yr AS INT) AS yr, MAX(tot.n_days) AS n_days,
           ROUND(CAST(-SUM(CAST(ROUND(
             (CAST(d.cents AS DOUBLE) / tot.t)
             * LN(CAST(d.cents AS DOUBLE) / tot.t), 8) AS DECIMAL(20,8)))
             AS DOUBLE), 6) AS revenue_entropy_nats
    FROM daily d JOIN tot ON d.yr = tot.yr
    GROUP BY d.yr ORDER BY yr
    """,
    tags=("stats", "entropy", "timeseries", "rounded-term"),
)
def orders_daily_revenue_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shannon entropy (nats) of each year's daily revenue distribution —
    ln(n_days) for perfectly even demand, lower when revenue concentrates
    in bursts. Each p·ln(p) term is computed on exact integer cents
    shares, rounded to 8dp, and folded as DECIMAL (order-free exact sum
    — the rounded-term discipline), so the entropy is identical across
    engines and partitionings."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.sum((dec("o_totalprice") * 100).cast("bigint")).alias("cents"))
    tot = daily.groupBy("yr").agg(
        F.sum("cents").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    p = F.col("cents").cast("double") / F.col("t")
    term = F.round(p * F.log(p), 8).cast("decimal(20,8)")
    return (
        daily.join(F.broadcast(tot), "yr")
        .groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.max("n_days").alias("n_days"),
            F.round((-F.sum(term)).cast("double"), 6).alias(
                "revenue_entropy_nats"
            ),
        )
        .orderBy("yr")
    )


# --- McNemar paired-year test ----------------------------------------------------------


@query(
    "customers_9495_mcnemar",
    oracle="""
    WITH per_c AS (
      SELECT o_custkey,
             MAX(CASE WHEN date_part('year', o_orderdate) = 1994
                 THEN 1 ELSE 0 END) AS y94,
             MAX(CASE WHEN date_part('year', o_orderdate) = 1995
                 THEN 1 ELSE 0 END) AS y95
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(COUNT(*) FILTER (y94 = 1 AND y95 = 1) AS BIGINT) AS n_both,
           CAST(COUNT(*) FILTER (y94 = 1 AND y95 = 0) AS BIGINT)
             AS n_94_only,
           CAST(COUNT(*) FILTER (y94 = 0 AND y95 = 1) AS BIGINT)
             AS n_95_only,
           CAST(COUNT(*) FILTER (y94 = 0 AND y95 = 0) AS BIGINT) AS n_neither,
           ROUND(CAST((COUNT(*) FILTER (y94 = 1 AND y95 = 0)
                       - COUNT(*) FILTER (y94 = 0 AND y95 = 1)) ** 2
                      AS DOUBLE)
                 / (COUNT(*) FILTER (y94 = 1 AND y95 = 0)
                    + COUNT(*) FILTER (y94 = 0 AND y95 = 1)), 6)
             AS mcnemar_chi2
    FROM per_c
    """,
    tags=("stats", "mcnemar", "paired", "contingency"),
)
def customers_9495_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test on customer activity across 1994/1995: did
    significantly more customers churn out of 1994 than activate into
    1995? The discordant-pair counts are exact integers from one
    per-customer flag aggregate (customers outside both years count as
    concordant-negative); the χ² = (b−c)²/(b+c) is one rounded double
    expression."""
    o = load_table(spark, sf_dir, "orders")
    per_c = o.groupBy("o_custkey").agg(
        F.max(F.when(F.year("o_orderdate") == 1994, 1).otherwise(0)).alias(
            "y94"
        ),
        F.max(F.when(F.year("o_orderdate") == 1995, 1).otherwise(0)).alias(
            "y95"
        ),
    )
    b = F.count(F.when((F.col("y94") == 1) & (F.col("y95") == 0), 1))
    c = F.count(F.when((F.col("y94") == 0) & (F.col("y95") == 1), 1))
    return per_c.agg(
        F.count(F.when((F.col("y94") == 1) & (F.col("y95") == 1), 1))
        .cast("bigint")
        .alias("n_both"),
        b.cast("bigint").alias("n_94_only"),
        c.cast("bigint").alias("n_95_only"),
        F.count(F.when((F.col("y94") == 0) & (F.col("y95") == 0), 1))
        .cast("bigint")
        .alias("n_neither"),
        F.round(((b - c) * (b - c)).cast("double") / (b + c), 6).alias(
            "mcnemar_chi2"
        ),
    )


# --- weekend x high-value odds ratio --------------------------------------------------


@query(
    "orders_weekend_highvalue_odds",
    oracle="""
    WITH x AS (
      SELECT date_part('isodow', o_orderdate) >= 6 AS wknd,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               > 15000000 AS high
      FROM orders
    )
    SELECT CAST(COUNT(*) FILTER (wknd AND high) AS BIGINT) AS n_wknd_high,
           CAST(COUNT(*) FILTER (wknd AND NOT high) AS BIGINT) AS n_wknd_low,
           CAST(COUNT(*) FILTER (NOT wknd AND high) AS BIGINT)
             AS n_wkdy_high,
           CAST(COUNT(*) FILTER (NOT wknd AND NOT high) AS BIGINT)
             AS n_wkdy_low,
           ROUND((CAST(COUNT(*) FILTER (wknd AND high) AS DOUBLE)
                  * COUNT(*) FILTER (NOT wknd AND NOT high))
                 / (CAST(COUNT(*) FILTER (wknd AND NOT high) AS DOUBLE)
                    * COUNT(*) FILTER (NOT wknd AND high)), 6)
             AS odds_ratio
    FROM x
    """,
    tags=("stats", "odds-ratio", "contingency", "isodow"),
)
def orders_weekend_highvalue_odds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Odds ratio of the 2×2 weekend × high-value ($150k+) order grid —
    1.0 when order size is independent of the weekly rhythm. Cell counts
    are exact (integer-cents threshold, ISO weekday); the OR is the
    one-expression cross-product ratio, rounded."""
    o = load_table(spark, sf_dir, "orders")
    wknd = F.weekday("o_orderdate") + 1 >= 6
    high = (dec("o_totalprice") * 100).cast("bigint") > 15_000_000
    x = o.select(wknd.alias("wknd"), high.alias("high"))
    a = F.count(F.when(F.col("wknd") & F.col("high"), 1))
    bb = F.count(F.when(F.col("wknd") & ~F.col("high"), 1))
    cc = F.count(F.when(~F.col("wknd") & F.col("high"), 1))
    d = F.count(F.when(~F.col("wknd") & ~F.col("high"), 1))
    return x.agg(
        a.cast("bigint").alias("n_wknd_high"),
        bb.cast("bigint").alias("n_wknd_low"),
        cc.cast("bigint").alias("n_wkdy_high"),
        d.cast("bigint").alias("n_wkdy_low"),
        F.round(
            (a.cast("double") * d) / (bb.cast("double") * cc), 6
        ).alias("odds_ratio"),
    )


# --- hour-of-day entropy ---------------------------------------------------------------


@query(
    "events_hour_entropy_by_type",
    oracle="""
    WITH h AS (
      SELECT event_type, date_part('hour', ts) AS hr,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hr
    ), tot AS (
      SELECT event_type, SUM(c) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_hours
      FROM h GROUP BY event_type
    )
    SELECT h.event_type, CAST(MAX(tot.n) AS BIGINT) AS n_events,
           MAX(tot.n_hours) AS n_hours,
           ROUND(CAST(-SUM(CAST(ROUND(
             (CAST(h.c AS DOUBLE) / tot.n)
             * LN(CAST(h.c AS DOUBLE) / tot.n), 8) AS DECIMAL(20,8)))
             AS DOUBLE), 6) AS hour_entropy_nats
    FROM h JOIN tot ON h.event_type = tot.event_type
    GROUP BY h.event_type ORDER BY h.event_type
    """,
    tags=("stats", "entropy", "hour-of-day", "rounded-term"),
)
def events_hour_entropy_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day entropy per event type — ln(24) for a flat diurnal
    profile, lower for peaked traffic (the scheduling/cron fingerprint
    the minute-uniformity χ² screens at finer grain). 24-bin counts are
    exact; terms follow the rounded-term decimal discipline."""
    e = load_table(spark, sf_dir, "events")
    h = e.groupBy("event_type", F.hour("ts").alias("hr")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = h.groupBy("event_type").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).cast("bigint").alias("n_hours")
    )
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(p * F.log(p), 8).cast("decimal(20,8)")
    return (
        h.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.max("n_hours").alias("n_hours"),
            F.round((-F.sum(term)).cast("double"), 6).alias(
                "hour_entropy_nats"
            ),
        )
        .orderBy("event_type")
    )


# --- Atkinson inequality index ---------------------------------------------------------


@query(
    "customer_balance_atkinson_index",
    oracle="""
    WITH pos AS (
      SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
      FROM customer WHERE c_acctbal > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pos,
           ROUND(1 - POW(CAST(SUM(CAST(ROUND(SQRT(CAST(cents AS DOUBLE)), 8)
                                     AS DECIMAL(24,8))) AS DOUBLE)
                         / COUNT(*), 2)
                 / (CAST(SUM(cents) AS DOUBLE) / COUNT(*)), 6)
             AS atkinson_05
    FROM pos
    """,
    tags=("stats", "inequality", "atkinson", "rounded-term"),
)
def customer_balance_atkinson_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Atkinson inequality index at ε = 0.5 over positive customer
    balances: 1 − (mean √x)² / mean x — 0 for perfect equality, rising
    with concentration (the welfare-weighted cousin of Gini). The √x
    terms are rounded to 8dp and folded as DECIMAL (exact, order-free);
    the balance sum is exact integer cents; one final double expression."""
    pos = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .select((dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("cents"))
    )
    sq = F.round(F.sqrt(F.col("cents").cast("double")), 8).cast(
        "decimal(24,8)"
    )
    return pos.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pos"),
        F.round(
            1
            - F.pow(
                F.sum(sq).cast("double") / F.count(F.lit(1)), F.lit(2)
            )
            / (F.sum("cents").cast("double") / F.count(F.lit(1))),
            6,
        ).alias("atkinson_05"),
    )


# --- geometric mean -----------------------------------------------------------------------


@query(
    "lineitem_price_geomean_by_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(EXP(CAST(SUM(CAST(ROUND(LN(
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)), 8)
             AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*)), 4)
             AS geomean_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    tags=("stats", "geometric-mean", "rounded-term"),
)
def lineitem_price_geomean_by_flag(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Geometric mean of extended prices per return flag — the
    multiplicative average (exp of the mean log), robust to the
    right-skew that drags the arithmetic mean. ln terms round to 8dp and
    fold as DECIMAL; prices are strictly positive, so no domain guard."""
    li = load_table(spark, sf_dir, "lineitem")
    term = F.round(F.log(dec("l_extendedprice").cast("double")), 8).cast(
        "decimal(20,8)"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.exp(F.sum(term).cast("double") / F.count(F.lit(1))), 4
            ).alias("geomean_price"),
        )
        .orderBy("l_returnflag")
    )


# --- week-over-week growth volatility ------------------------------------------------------


@query(
    "orders_wow_growth_volatility",
    oracle="""
    WITH w AS (
      SELECT date_trunc('week', o_orderdate) AS wk,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS cents
      FROM orders GROUP BY wk
    ), r AS (
      SELECT CAST(ROUND(LN(CAST(cents AS DOUBLE)
                           / LAG(cents) OVER (ORDER BY wk)), 8)
                  AS DECIMAL(18,8)) AS lr
      FROM w
    ), s AS (
      SELECT CAST(COUNT(lr) AS BIGINT) AS k,
             SUM(lr) AS s1, SUM(CAST(lr * lr AS DECIMAL(38,16))) AS s2
      FROM r
    )
    SELECT k AS n_returns,
           ROUND(CAST(s1 AS DOUBLE) / k, 6) AS mean_log_return,
           ROUND(SQRT((k * CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) ** 2)
                      / (CAST(k AS DOUBLE) * (k - 1))), 6) AS wow_volatility
    FROM s
    """,
    tags=("stats", "volatility", "timeseries", "log-returns"),
)
def orders_wow_growth_volatility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Week-over-week revenue volatility: the sample standard deviation
    of weekly log returns — the demand-stability number a forecaster
    monitors. The LAG window runs over the WEEK-domain aggregate (~345
    rows for the fixture's seven years — bounded by the calendar, not
    the fact table, the ewma.py single-task-window contract); log
    returns round to 8dp and both moment sums fold as DECIMAL."""
    o = load_table(spark, sf_dir, "orders")
    w = o.groupBy(F.date_trunc("week", "o_orderdate").alias("wk")).agg(
        F.sum((dec("o_totalprice") * 100).cast("bigint")).alias("cents")
    )
    lr = F.round(
        F.log(
            F.col("cents").cast("double")
            / F.lag("cents").over(W.orderBy("wk"))
        ),
        8,
    ).cast("decimal(18,8)")
    r = w.select(lr.alias("lr"))
    s = r.agg(
        F.count("lr").cast("bigint").alias("k"),
        F.sum("lr").alias("s1"),
        F.sum((F.col("lr") * F.col("lr")).cast("decimal(38,16)")).alias("s2"),
    )
    return s.select(
        F.col("k").alias("n_returns"),
        F.round(F.col("s1").cast("double") / F.col("k"), 6).alias(
            "mean_log_return"
        ),
        F.round(
            F.sqrt(
                (
                    F.col("k") * F.col("s2").cast("double")
                    - F.pow(F.col("s1").cast("double"), F.lit(2))
                )
                / (F.col("k").cast("double") * (F.col("k") - 1))
            ),
            6,
        ).alias("wow_volatility"),
    )


# --- per-user Simpson diversity bands --------------------------------------------------


@query(
    "events_user_simpson_diversity_bands",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, event_type
    ), per_u AS (
      SELECT user_id, SUM(c) AS n, SUM(c * c) AS sc2
      FROM c GROUP BY user_id
    )
    SELECT CAST(FLOOR((1 - CAST(sc2 AS DOUBLE) / (n * n)) * 10) AS INT)
             AS simpson_band,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS avg_events
    FROM per_u GROUP BY simpson_band ORDER BY simpson_band
    """,
    tags=("stats", "simpson", "diversity", "bands"),
)
def events_user_simpson_diversity_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user Simpson diversity of event types (1 − Σp², the chance two
    of the user's events differ in type), bucketed into tenth-wide
    bands — specialists sit in band 0, balanced omnivores near band 7
    (five types). The diversity is an exact integer rational evaluated
    with the same two IEEE ops in both engines, so the band floor cannot
    shear; counts per band are exact."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_u = c.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.sum(F.col("c") * F.col("c")).alias("sc2")
    )
    band = F.floor(
        (1 - F.col("sc2").cast("double") / (F.col("n") * F.col("n"))) * 10
    ).cast("int")
    return (
        per_u.groupBy(band.alias("simpson_band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.round(F.sum("n").cast("double") / F.count(F.lit(1)), 4).alias(
                "avg_events"
            ),
        )
        .orderBy("simpson_band")
    )


# --- month-end revenue effect ----------------------------------------------------------


@query(
    "orders_month_end_effect",
    oracle="""
    WITH x AS (
      SELECT date_part('year', o_orderdate) AS yr,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             date_diff('day', CAST(o_orderdate AS DATE),
                       last_day(CAST(o_orderdate AS DATE))) <= 2 AS me
      FROM orders
    )
    SELECT CAST(yr AS INT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (me) AS BIGINT) AS n_month_end,
           ROUND(CAST(SUM(cents) FILTER (me) AS DOUBLE) / SUM(cents), 6)
             AS month_end_rev_share
    FROM x GROUP BY yr ORDER BY yr
    """,
    tags=("calendar", "month-end", "share"),
)
def orders_month_end_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end loading: the share of each year's revenue booked in the
    last three days of a month — the quota-stuffing fingerprint auditors
    screen for. The month-end flag is pure calendar arithmetic
    (last_day minus date, both engines exact); sums are exact cents."""
    o = load_table(spark, sf_dir, "orders")
    me = (
        F.datediff(F.last_day("o_orderdate"), F.to_date("o_orderdate")) <= 2
    )
    x = o.select(
        F.year("o_orderdate").alias("yr"),
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
        me.alias("me"),
    )
    return (
        x.groupBy(F.col("yr").cast("int").alias("yr"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count(F.when(F.col("me"), 1)).cast("bigint").alias(
                "n_month_end"
            ),
            F.round(
                F.sum(F.when(F.col("me"), F.col("cents"))).cast("double")
                / F.sum("cents"),
                6,
            ).alias("month_end_rev_share"),
        )
        .orderBy("yr")
    )


# --- daily revenue-leader streaks ---------------------------------------------------------


@query(
    "orders_daily_leader_streaks",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority AS prio,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
               AS cents
      FROM orders GROUP BY day, prio
    ), leader AS (
      SELECT day, prio FROM (
        SELECT day, prio,
               ROW_NUMBER() OVER (PARTITION BY day
                                  ORDER BY cents DESC, prio DESC) AS rn
        FROM daily
      ) WHERE rn = 1
    ), runs AS (
      SELECT prio,
             ROW_NUMBER() OVER (ORDER BY day)
               - ROW_NUMBER() OVER (PARTITION BY prio ORDER BY day) AS grp
      FROM leader
    ), streaks AS (
      SELECT prio, CAST(COUNT(*) AS BIGINT) AS len
      FROM runs GROUP BY prio, grp
    )
    SELECT prio AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS max_streak_days,
           CAST(SUM(len) AS BIGINT) AS total_leader_days
    FROM streaks GROUP BY prio ORDER BY o_orderpriority
    """,
    tags=("window", "streaks", "gaps-and-islands", "timeseries"),
)
def orders_daily_leader_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day leadership streaks: which priority tops daily
    revenue, and for how many days in a row (the gaps-and-islands
    rn-difference trick). All windows run over the DAY-domain aggregate
    (~2,400 rows — bounded by the calendar, not the fact table); the
    daily leader is decided by exact cents with a deterministic
    priority-string tiebreak."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day"),
        F.col("o_orderpriority").alias("prio"),
    ).agg(F.sum((dec("o_totalprice") * 100).cast("bigint")).alias("cents"))
    w_day = W.partitionBy("day").orderBy(
        F.desc("cents"), F.desc("prio")
    )
    leader = (
        daily.withColumn("rn", F.row_number().over(w_day))
        .where(F.col("rn") == 1)
        .select("day", "prio")
    )
    runs = leader.select(
        "prio",
        (
            F.row_number().over(W.orderBy("day"))
            - F.row_number().over(W.partitionBy("prio").orderBy("day"))
        ).alias("grp"),
    )
    streaks = runs.groupBy("prio", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return (
        streaks.groupBy(F.col("prio").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
            F.max("len").cast("bigint").alias("max_streak_days"),
            F.sum("len").cast("bigint").alias("total_leader_days"),
        )
        .orderBy("o_orderpriority")
    )


# --- per-customer max interpurchase gap bands ----------------------------------------------


@query(
    "customer_max_gap_bands",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day',
               LAG(CAST(o_orderdate AS DATE)) OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey),
               CAST(o_orderdate AS DATE)) AS gap
      FROM orders
    ), per_c AS (
      SELECT o_custkey, CAST(MAX(gap) AS BIGINT) AS max_gap
      FROM seq WHERE gap IS NOT NULL GROUP BY o_custkey
    )
    SELECT CAST(max_gap // 180 AS INT) AS gap_band_180d,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(max_gap) AS BIGINT) AS min_gap,
           CAST(MAX(max_gap) AS BIGINT) AS max_gap
    FROM per_c GROUP BY gap_band_180d ORDER BY gap_band_180d
    """,
    tags=("window", "interpurchase", "bands", "lifecycle"),
)
def customer_max_gap_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest purchase drought per repeat customer, censused into
    180-day bands — the churn-risk segmentation (band 0 = never quiet
    for six months). The LAG window partitions on o_custkey (per-task
    state bounded by one customer's orders); gaps are exact day counts,
    non-negative by construction, so integer division bands them
    identically in both engines."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        "o_custkey",
        F.datediff(
            F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    per_c = seq.groupBy("o_custkey").agg(
        F.max("gap").cast("bigint").alias("max_gap")
    )
    return (
        per_c.groupBy(
            F.expr("max_gap DIV 180").cast("int").alias("gap_band_180d")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.min("max_gap").cast("bigint").alias("min_gap"),
            F.max("max_gap").cast("bigint").alias("max_gap"),
        )
        .orderBy("gap_band_180d")
    )


# --- line share of order revenue ---------------------------------------------------------


@query(
    "lineitem_order_line_price_share",
    oracle="""
    WITH x AS (
      SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) OVER (PARTITION BY l_orderkey)
               AS order_cents
      FROM lineitem
    )
    SELECT l_returnflag,
           CAST(FLOOR(CAST(cents AS DOUBLE) / order_cents * 10) AS INT)
             AS share_band,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM x GROUP BY l_returnflag, share_band
    ORDER BY l_returnflag, share_band
    """,
    tags=("window", "share", "bands", "intra-order"),
)
def lineitem_order_line_price_share(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How lopsided are orders internally: each line's share of its own
    order's revenue, banded by tenths (band 10 = single-line orders).
    The window partitions on l_orderkey (≤7 rows per partition — bounded
    by the order fan-out, never by SF); shares divide exact integer
    cents, one identical IEEE division before the floor."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = (dec("l_extendedprice") * 100).cast("bigint")
    # Sum the PROJECTED column, not the raw expression: summing the
    # expression makes Spark materialize it a second time as the window
    # buffer input (_w0), shipping two identical bigints per row through
    # the full l_orderkey exchange (plan-verified, plans/r15) — guide
    # §2.3 "shuffle fewer bytes". Same values, one column fewer in the
    # only SF-wide shuffle this query has.
    x = li.select(
        "l_returnflag", cents.alias("cents"), "l_orderkey"
    ).select(
        "l_returnflag",
        "cents",
        F.sum("cents").over(W.partitionBy("l_orderkey")).alias("order_cents"),
    )
    band = F.floor(
        F.col("cents").cast("double") / F.col("order_cents") * 10
    ).cast("int")
    return (
        x.groupBy("l_returnflag", band.alias("share_band"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
        .orderBy("l_returnflag", "share_band")
    )


# --- line-number positional profile --------------------------------------------------------


@query(
    "lineitem_linenumber_positional_profile",
    oracle="""
    SELECT CAST(l_linenumber AS INT) AS linenumber,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                 / COUNT(*), 4) AS avg_qty,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS
                DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem GROUP BY linenumber ORDER BY linenumber
    """,
    tags=("aggregation", "positional", "profile"),
)
def lineitem_linenumber_positional_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-composition profile by line position (1..7): do later lines
    carry smaller quantities / less revenue? One exact aggregation over
    the natural line number; quantities are integers, revenue an exact
    decimal sum surfaced as double."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_linenumber").cast("int").alias("linenumber"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_qty"),
            dsum("l_extendedprice").alias("revenue"),
        )
        .orderBy("linenumber")
    )


# --- parts never discounted past 5% ---------------------------------------------------------


@query(
    "parts_low_discount_only",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey, MAX(l_discount) AS maxd,
             CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts_sold,
           CAST(COUNT(*) FILTER (pp.maxd <= 0.05) AS BIGINT)
             AS n_low_discount,
           ROUND(CAST(COUNT(*) FILTER (pp.maxd <= 0.05) AS DOUBLE)
                 / COUNT(*), 6) AS low_discount_share
    FROM per_part pp JOIN part p ON pp.l_partkey = p.p_partkey
    GROUP BY p.p_brand ORDER BY p.p_brand
    """,
    tags=("relational", "having", "discount", "share"),
)
def parts_low_discount_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-price dignity census: per brand, the share of sold parts that
    never moved at more than a 5% discount. The per-part MAX pre-reduces
    the fact table before the part join (aggregate-then-join, the
    cardinality-collapsing order); the 0.05 threshold compares the same
    stored doubles in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.max("l_discount").alias("maxd"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = per_part.join(p, per_part["l_partkey"] == p["p_partkey"])
    low = F.count(F.when(F.col("maxd") <= 0.05, 1))
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts_sold"),
            low.cast("bigint").alias("n_low_discount"),
            F.round(low.cast("double") / F.count(F.lit(1)), 6).alias(
                "low_discount_share"
            ),
        )
        .orderBy("p_brand")
    )


# --- single-priority loyalists ---------------------------------------------------------


@query(
    "customers_single_priority_only",
    oracle="""
    WITH per_c AS (
      SELECT o_custkey, MIN(o_orderpriority) AS prio,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders
      GROUP BY o_custkey
      HAVING COUNT(DISTINCT o_orderpriority) = 1 AND COUNT(*) >= 2
    )
    SELECT prio AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS total_orders,
           CAST(MAX(n_orders) AS BIGINT) AS max_orders
    FROM per_c GROUP BY prio ORDER BY o_orderpriority
    """,
    tags=("relational", "having", "distinct", "loyalty"),
)
def customers_single_priority_only(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Repeat customers whose EVERY order carries the same priority —
    the HAVING-on-distinct shape (filter groups by a second aggregate).
    MIN(priority) is the single value itself once the distinct count is
    pinned to 1; all counts exact."""
    o = load_table(spark, sf_dir, "orders")
    per_c = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderpriority").alias("prio"),
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count_distinct("o_orderpriority").alias("n_prio"),
        )
        .where((F.col("n_prio") == 1) & (F.col("n_orders") >= 2))
    )
    return (
        per_c.groupBy(F.col("prio").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("n_orders").cast("bigint").alias("total_orders"),
            F.max("n_orders").cast("bigint").alias("max_orders"),
        )
        .orderBy("o_orderpriority")
    )


# --- orphan orders census ----------------------------------------------------------------


@query(
    "orders_without_lineitems_census",
    oracle="""
    WITH keys AS (
      SELECT DISTINCT l_orderkey FROM lineitem
    )
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (k.l_orderkey IS NULL) AS BIGINT)
             AS n_orphans,
           ROUND(CAST(COUNT(*) FILTER (k.l_orderkey IS NULL) AS DOUBLE)
                 / COUNT(*), 6) AS orphan_rate
    FROM orders o LEFT JOIN keys k ON o.o_orderkey = k.l_orderkey
    GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """,
    tags=("dq", "referential-integrity", "orphans", "outer-join"),
)
def orders_without_lineitems_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Referential-integrity census from the PARENT side: orders with no
    lineitem children, per status (the reverse direction of
    ri_orphan_audit's child-side orphan scan). The child side
    pre-reduces to distinct keys before the left join; counts exact."""
    o = load_table(spark, sf_dir, "orders")
    keys = (
        load_table(spark, sf_dir, "lineitem").select("l_orderkey").distinct()
    )
    j = o.join(keys, o["o_orderkey"] == keys["l_orderkey"], "left")
    orphans = F.count(F.when(F.col("l_orderkey").isNull(), 1))
    return (
        j.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            orphans.cast("bigint").alias("n_orphans"),
            F.round(orphans.cast("double") / F.count(F.lit(1)), 6).alias(
                "orphan_rate"
            ),
        )
        .orderBy("o_orderstatus")
    )


# --- per-brand margin quartiles --------------------------------------------------------


@query(
    "part_brand_margin_quartiles",
    oracle="""
    WITH m AS (
      SELECT p.p_brand,
             CAST(CAST(l.l_extendedprice AS DECIMAL(18,2))
                  * (1 - CAST(l.l_discount AS DECIMAL(4,2))) * 10000
                  AS BIGINT)
             - CAST(CAST(p.p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               * 100 * CAST(l.l_quantity AS BIGINT) AS margin_e4
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY margin_e4)
                      AS DOUBLE) / 10000, 4) AS margin_q1,
           ROUND(CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY margin_e4)
                      AS DOUBLE) / 10000, 4) AS margin_q2,
           ROUND(CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY margin_e4)
                      AS DOUBLE) / 10000, 4) AS margin_q3
    FROM m GROUP BY p_brand ORDER BY p_brand
    """,
    tags=("relational", "join", "margin", "order-statistics"),
)
def part_brand_margin_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand margin quartiles: discounted line revenue minus the
    catalog cost (retail price × quantity), quantized to EXACT 1e-4
    dollars before any order statistic — the join is fact-to-dim on
    partkey, the quartiles route through group_quantiles_disc
    (brand groups grow with SF; partition-bounded state)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    # r15 join shape (sf100-measured, plans/r15): the lineitem-side
    # revenue collapses to ONE bigint BEFORE the join (3 decimal columns
    # never cross the exchange — guide §2.3), and the part side carries a
    # SHUFFLE_HASH hint: at 600M⋈20M the sort-merge default sorts the
    # whole fact side, while the per-partition hash build of the part
    # side is tiny; interleaved warm A/B read 58.0 s (SMJ) vs 50.6 s
    # (projected+SHJ) and 238 vs 95 s cold. Values are unchanged — the
    # margin arithmetic is the same exact-decimal expression, split
    # around the join.
    li2 = li.select(
        "l_partkey",
        (dec("l_extendedprice") * (1 - dec("l_discount", 4, 2)) * 10000)
        .cast("bigint")
        .alias("rev_e4"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    m = li2.join(
        p.hint("shuffle_hash"), li2["l_partkey"] == p["p_partkey"]
    ).select(
        "p_brand",
        (
            F.col("rev_e4")
            - (dec("p_retailprice") * 100).cast("bigint") * 100 * F.col("qty")
        ).alias("margin_e4"),
    )
    # n_lines comes out of the SAME machinery pass (count_col): margins
    # are non-null by construction, so the machinery's non-null count is
    # exactly COUNT(*) per brand — the separate m.groupBy(brand).count()
    # recomputed the whole join a third time per run (guide §1.2).
    cuts = group_quantiles_disc(
        m,
        "margin_e4",
        [0.25, 0.5, 0.75],
        ["p_brand"],
        count_col="n_lines",
    )
    return (
        cuts.select(
            "p_brand",
            "n_lines",
            F.round(F.col(_qcolname(0.25)) / 10000, 4).alias("margin_q1"),
            F.round(F.col(_qcolname(0.5)) / 10000, 4).alias("margin_q2"),
            F.round(F.col(_qcolname(0.75)) / 10000, 4).alias("margin_q3"),
        )
        .orderBy("p_brand")
    )


# --- ship-delay profile -------------------------------------------------------------------


@query(
    "lineitem_ship_delay_profile",
    oracle="""
    WITH d AS (
      SELECT o.o_orderpriority,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       CAST(l.l_shipdate AS DATE)) AS delay
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           CAST(FLOOR(CAST(delay AS DOUBLE) / 365) AS INT) AS delay_band_1y,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MIN(delay) AS BIGINT) AS min_delay,
           CAST(MAX(delay) AS BIGINT) AS max_delay
    FROM d GROUP BY o_orderpriority, delay_band_1y
    ORDER BY o_orderpriority, delay_band_1y
    """,
    tags=("relational", "join", "datetime", "bands"),
)
def lineitem_ship_delay_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay profile per priority, in year-wide bands.
    Delays can be NEGATIVE in the synthetic fixture (ship before order),
    so banding uses FLOOR of an IEEE division — identical in both
    engines — rather than integer division, whose negative semantics
    differ (Spark DIV truncates toward zero, DuckDB // floors)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias(
            "delay"
        ),
    )
    band = F.floor(F.col("delay").cast("double") / 365).cast("int")
    return (
        d.groupBy("o_orderpriority", band.alias("delay_band_1y"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.min("delay").cast("bigint").alias("min_delay"),
            F.max("delay").cast("bigint").alias("max_delay"),
        )
        .orderBy("o_orderpriority", "delay_band_1y")
    )


# --- order-total reconciliation audit ----------------------------------------------------


@query(
    "orders_price_reconciliation_audit",
    oracle="""
    WITH ls AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(4,2)))
                 * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS line_total
      FROM lineitem GROUP BY l_orderkey
    ), x AS (
      SELECT o.o_orderstatus,
             ABS(CAST(ls.line_total AS DOUBLE)
                 - CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE))
             / CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
               AS rel_diff
      FROM orders o JOIN ls ON o.o_orderkey = ls.l_orderkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (rel_diff <= 0.10) AS BIGINT)
             AS n_within_10pct,
           CAST(COUNT(*) FILTER (rel_diff <= 0.50) AS BIGINT)
             AS n_within_50pct,
           ROUND(CAST(COUNT(*) FILTER (rel_diff <= 0.10) AS DOUBLE)
                 / COUNT(*), 6) AS share_within_10pct
    FROM x GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("dq", "reconciliation", "decimal", "audit"),
)
def orders_price_reconciliation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Header-vs-detail reconciliation: how far each order's stated total
    sits from the recomputed Σ price·(1−disc)·(1+tax) of its lines
    (the synthetic fixture generates them independently, so the audit
    quantifies the divergence instead of asserting zero). The line total
    folds as exact DECIMAL at scale 6; the relative diff is one identical
    IEEE chain; threshold counts are exact."""
    li = load_table(spark, sf_dir, "lineitem")
    ls = li.groupBy("l_orderkey").agg(
        F.sum(
            dec("l_extendedprice")
            * (1 - dec("l_discount", 4, 2))
            * (1 + dec("l_tax", 4, 2))
        ).alias("line_total")
    )
    o = load_table(spark, sf_dir, "orders")
    x = o.join(ls, o["o_orderkey"] == ls["l_orderkey"]).select(
        "o_orderstatus",
        (
            F.abs(
                F.col("line_total").cast("double")
                - dec("o_totalprice").cast("double")
            )
            / dec("o_totalprice").cast("double")
        ).alias("rel_diff"),
    )
    w10 = F.count(F.when(F.col("rel_diff") <= 0.10, 1))
    w50 = F.count(F.when(F.col("rel_diff") <= 0.50, 1))
    return (
        x.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            w10.cast("bigint").alias("n_within_10pct"),
            w50.cast("bigint").alias("n_within_50pct"),
            F.round(w10.cast("double") / F.count(F.lit(1)), 6).alias(
                "share_within_10pct"
            ),
        )
        .orderBy("o_orderstatus")
    )


# --- shard-balance audit ------------------------------------------------------------------


@query(
    "orders_shard_balance_audit",
    oracle="""
    WITH shards AS (
      SELECT o_orderkey % 64 AS shard, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY shard
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(MIN(n) AS BIGINT) AS min_rows,
           CAST(MAX(n) AS BIGINT) AS max_rows,
           ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 4) AS avg_rows,
           ROUND(CAST(MAX(n) AS DOUBLE)
                 / (CAST(SUM(n) AS DOUBLE) / COUNT(*)), 6)
             AS imbalance_ratio
    FROM shards
    """,
    tags=("dq", "partitioning", "balance", "audit"),
)
def orders_shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-shard balance audit: row counts per o_orderkey mod-64 shard,
    summarized as min/max/avg and the max-over-avg straggler ratio — the
    pre-flight check for any key-partitioned layout (a ratio near 1.0
    means no reducer inherits a hot shard). Keys are positive, so % and
    pmod agree; all arithmetic exact until the two rounded ratios."""
    o = load_table(spark, sf_dir, "orders")
    shards = o.groupBy((F.col("o_orderkey") % 64).alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return shards.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.min("n").cast("bigint").alias("min_rows"),
        F.max("n").cast("bigint").alias("max_rows"),
        F.round(F.sum("n").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_rows"
        ),
        F.round(
            F.max("n").cast("double")
            / (F.sum("n").cast("double") / F.count(F.lit(1))),
            6,
        ).alias("imbalance_ratio"),
    )


# --- discount elasticity curve ------------------------------------------------------------


@query(
    "lineitem_discount_elasticity_curve",
    oracle="""
    SELECT CAST(ROUND(l_discount * 100) AS INT) AS discount_pct,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           ROUND(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
                 / COUNT(*), 4) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
             AS net_revenue
    FROM lineitem GROUP BY discount_pct ORDER BY discount_pct
    """,
    tags=("aggregation", "elasticity", "discount", "curve"),
)
def lineitem_discount_elasticity_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Demand curve along the discount axis: volume and net revenue at
    each whole-percent discount level (0–10%) — does deeper discounting
    actually move more units? Levels snap to the integer grid via
    ROUND(d·100) (the stored doubles are the same in both engines);
    quantity sums exact, revenue an exact decimal fold."""
    li = load_table(spark, sf_dir, "lineitem")
    lvl = F.round(F.col("l_discount") * 100).cast("int")
    return (
        li.groupBy(lvl.alias("discount_pct"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint"))
            .cast("bigint")
            .alias("total_qty"),
            F.round(
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_qty"),
            F.sum(dec("l_extendedprice") * (1 - dec("l_discount", 4, 2)))
            .cast("double")
            .alias("net_revenue"),
        )
        .orderBy("discount_pct")
    )


# --- embedding sparsity census ---------------------------------------------------------


@query(
    "embed_sparsity_census",
    oracle="""
    WITH s AS (
      SELECT label,
             len(list_filter(embedding, x -> abs(x) < 0.01)) AS n_sparse
      FROM embeddings
    )
    SELECT CAST(label AS INT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(CAST(SUM(n_sparse) AS DOUBLE) / COUNT(*), 4)
             AS avg_sparse_dims,
           CAST(MAX(n_sparse) AS BIGINT) AS max_sparse_dims
    FROM s GROUP BY label ORDER BY label
    """,
    tags=("llm", "embeddings", "sparsity", "higher-order"),
)
def embed_sparsity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-zero coordinate census per label: how many of each vector's
    64 dims sit inside the |x| < 0.01 dead zone (the quantization /
    pruning headroom signal). The filter runs as a JVM higher-order
    function over the float array; the threshold compare widens the same
    float32 values identically in both engines; counts exact."""
    e = load_table(spark, sf_dir, "embeddings")
    n_sparse = F.size(
        F.filter("embedding", lambda x: F.abs(x) < F.lit(0.01))
    )
    s = e.select(F.col("label").cast("int").alias("label"),
                 n_sparse.alias("n_sparse"))
    return (
        s.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.round(
                F.sum("n_sparse").cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_sparse_dims"),
            F.max("n_sparse").cast("bigint").alias("max_sparse_dims"),
        )
        .orderBy("label")
    )


# --- Chebyshev (L-infinity) norm bands ----------------------------------------------------


@query(
    "embed_chebyshev_norm_census",
    oracle="""
    WITH m AS (
      SELECT label,
             list_max(list_transform(embedding, x -> abs(x))) AS linf
      FROM embeddings
    )
    SELECT CAST(label AS INT) AS label,
           CAST(FLOOR(CAST(linf AS DOUBLE) * 20) AS INT) AS linf_band,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM m GROUP BY label, linf_band ORDER BY label, linf_band
    """,
    tags=("llm", "embeddings", "linf", "bands"),
)
def embed_chebyshev_norm_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L∞ (Chebyshev) norm bands per label — the max-coordinate profile
    that decides per-tensor quantization ranges (a fat tail of large
    single coordinates ruins int8 scales). Max of |x| over the array is
    exact float; the 0.05-wide band floor runs on one identical widened
    multiply in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    linf = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    m = e.select(F.col("label").cast("int").alias("label"),
                 linf.alias("linf"))
    return (
        m.groupBy(
            "label",
            F.floor(F.col("linf").cast("double") * 20)
            .cast("int")
            .alias("linf_band"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("label", "linf_band")
    )


# --- argmax-dimension census ------------------------------------------------------------


@query(
    "embed_dim_argmax_census",
    oracle="""
    WITH a AS (
      SELECT label,
             list_position(embedding, list_max(embedding)) AS argmax_dim
      FROM embeddings
    )
    SELECT CAST(label AS INT) AS label,
           CAST(argmax_dim AS INT) AS argmax_dim,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM a GROUP BY label, argmax_dim ORDER BY label, argmax_dim
    """,
    tags=("llm", "embeddings", "argmax", "census"),
)
def embed_dim_argmax_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which dimension carries each vector's maximum — per label, the
    histogram of 1-based argmax positions (a collapsed feature would
    show as one dominant dim; healthy embeddings spread). Both engines
    resolve ties to the FIRST occurrence of the max value; float
    equality compares the same stored values."""
    e = load_table(spark, sf_dir, "embeddings")
    argmax = F.array_position(F.col("embedding"), F.array_max("embedding"))
    a = e.select(
        F.col("label").cast("int").alias("label"),
        argmax.cast("int").alias("argmax_dim"),
    )
    return (
        a.groupBy("label", "argmax_dim")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("label", "argmax_dim")
    )


# --- prefix-hash near-dup screen ---------------------------------------------------------


@query(
    "documents_prefix_hash_dup_rate",
    oracle="""
    WITH p AS (
      SELECT source, md5(substr(text, 1, 200)) AS h
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_prefixes,
           ROUND(1 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 6)
             AS prefix_dup_rate
    FROM p GROUP BY source ORDER BY source
    """,
    tags=("llm", "dedup", "prefix-hash", "screen"),
)
def documents_prefix_hash_dup_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cheapest useful near-dup screen: duplicate rate of the md5 of each
    document's first 200 characters, per source — catches shared
    boilerplate openings that exact content-hash dedup misses and
    shingling pays heavily for. One hash per doc, one distinct count."""
    d = load_table(spark, sf_dir, "documents")
    p = d.select("source", F.md5(F.substring("text", 1, 200)).alias("h"))
    return (
        p.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("h").cast("bigint").alias("n_distinct_prefixes"),
            F.round(
                1 - F.count_distinct("h").cast("double") / F.count(F.lit(1)),
                6,
            ).alias("prefix_dup_rate"),
        )
        .orderBy("source")
    )


# --- per-doc token entropy bands ------------------------------------------------------------


@query(
    "documents_token_entropy_bands",
    oracle=r"""
    WITH w AS (
      SELECT doc_id, lang, w AS word
      FROM documents,
           unnest(string_split_regex(
             regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+'))
             AS t(w)
      WHERE len(w) > 0
    ), c AS (
      SELECT doc_id, lang, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM w GROUP BY doc_id, lang, word
    ), n AS (
      SELECT doc_id, SUM(c) AS n FROM c GROUP BY doc_id
    ), h AS (
      SELECT c.doc_id, c.lang,
             -SUM(CAST(ROUND((CAST(c.c AS DOUBLE) / n.n)
                             * LN(CAST(c.c AS DOUBLE) / n.n), 8)
                       AS DECIMAL(20,8))) AS ent,
             CAST(MAX(n.n) AS BIGINT) AS n_tokens
      FROM c JOIN n ON c.doc_id = n.doc_id
      GROUP BY c.doc_id, c.lang
    )
    SELECT lang, CAST(FLOOR(ent * 4) AS INT) AS entropy_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM h GROUP BY lang, entropy_band ORDER BY lang, entropy_band
    """,
    tags=("llm", "text", "entropy", "bands", "rounded-term"),
)
def documents_token_entropy_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document unigram entropy, banded to quarter-nats per language —
    templated/repetitive docs pool in the low bands, diverse prose in the
    high ones (the information-theoretic twin of the TTR band census).
    Each p·ln(p) term rounds to 8dp and folds as DECIMAL, so the per-doc
    entropy is EXACT decimal arithmetic and the band floor (also on the
    decimal) cannot shear between engines or partitionings."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.split(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")), " ")
        ).alias("word"),
    ).where(F.length("word") > 0)
    c = words.groupBy("doc_id", "lang", "word").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n = c.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    term = F.round(p * F.log(p), 8).cast("decimal(20,8)")
    h = (
        c.join(n, "doc_id")
        .groupBy("doc_id", "lang")
        .agg(
            (-F.sum(term)).alias("ent"),
            F.max("n").cast("bigint").alias("n_tokens"),
        )
    )
    return (
        h.groupBy(
            "lang",
            F.floor(F.col("ent") * 4).cast("int").alias("entropy_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang", "entropy_band")
    )


# --- n_chars column audit -------------------------------------------------------------------


@query(
    "documents_nchars_column_audit",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (n_chars <> len(text)) AS BIGINT)
             AS n_mismatch,
           CAST(MAX(ABS(n_chars - len(text))) AS BIGINT) AS max_abs_diff,
           CAST(SUM(len(text)) AS BIGINT) AS total_chars
    FROM documents GROUP BY source ORDER BY source
    """,
    tags=("dq", "audit", "derived-column", "text"),
)
def documents_nchars_column_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Derived-column consistency audit: does the materialized n_chars
    column actually equal length(text)? Stale derived columns are the
    classic silent-corruption mode of curated corpora (text edited,
    metadata not recomputed). Exact integer compare per row, censused
    per source."""
    d = load_table(spark, sf_dir, "documents")
    diff = F.col("n_chars") - F.length("text")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count(F.when(diff != 0, 1)).cast("bigint").alias("n_mismatch"),
            F.max(F.abs(diff)).cast("bigint").alias("max_abs_diff"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .orderBy("source")
    )


# --- systematic sampling census --------------------------------------------------------------


@query(
    "sample_systematic_mod_census",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (o_orderkey % 97 = 13) AS BIGINT)
             AS n_sampled,
           ROUND(CAST(COUNT(*) FILTER (o_orderkey % 97 = 13) AS DOUBLE)
                 / COUNT(*), 6) AS sample_rate,
           CAST(bit_xor(CASE WHEN o_orderkey % 97 = 13 THEN o_orderkey
                        END) AS BIGINT) AS sample_key_xor
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("pipeline", "sampling", "systematic", "audit"),
)
def sample_systematic_mod_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic 1-in-97 sample audit: membership is o_orderkey ≡ 13
    (mod 97) — a prime stride that cannot alias the generator's power-of-
    two key patterns — with realized rates per priority and an
    order-free XOR checksum of the sampled keys so the driver hash pins
    the exact membership set, not just its size."""
    o = load_table(spark, sf_dir, "orders")
    picked = F.col("o_orderkey") % 97 == 13
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count(F.when(picked, 1)).cast("bigint").alias("n_sampled"),
            F.round(
                F.count(F.when(picked, 1)).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("sample_rate"),
            F.bit_xor(F.when(picked, F.col("o_orderkey")))
            .cast("bigint")
            .alias("sample_key_xor"),
        )
        .orderBy("o_orderpriority")
    )


# --- md5 k-fold assignment census ------------------------------------------------------------


@query(
    "sample_kfold_md5_census",
    oracle="""
    WITH f AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 17, 8))
                  AS BIGINT) % 5 AS fold,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    )
    SELECT CAST(fold AS INT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM f GROUP BY fold ORDER BY fold
    """,
    tags=("pipeline", "sampling", "kfold", "md5"),
)
def sample_kfold_md5_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment census: the fold
    is a pure function of the key (md5 digits 17–24 — a digest window
    DISJOINT from both the 80/10/10 split's and the Bernoulli sampler's,
    so fold membership is independent of either) with per-fold counts
    and exact revenue — the balance check before any fold-wise
    training run."""
    o = load_table(spark, sf_dir, "orders")
    fold = (
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 17, 8),
            16,
            10,
        ).cast("bigint")
        % 5
    ).cast("int")
    return (
        o.groupBy(fold.alias("fold"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum((dec("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("fold")
    )


# --- TSV sink roundtrip -------------------------------------------------------------------


@query(
    "sink_tsv_delimiter_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT))
                AS BIGINT) AS balance_cents
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("sinks", "csv", "tsv", "delimiter", "roundtrip"),
)
def sink_tsv_delimiter_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tab-separated WRITER roundtrip: customers serialize with sep='\\t'
    plus header, read back under an explicit schema, and census from the
    re-parsed values — balances ride as integer cents so a parser that
    mangles the delimiter or re-floats the numbers breaks the hash.
    Exercises the non-default-delimiter leg of the CSV writer the
    RFC-4180 quote torture (sink_csv_quote_roundtrip) leaves untouched."""
    import os

    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("cents"),
    )
    path = scratch_dir("sinks", sf_dir, "tsv_customer")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    c.write.mode("overwrite").option("sep", "\t").option(
        "header", True
    ).csv(path)
    back = (
        spark.read.schema("c_mktsegment STRING, c_custkey BIGINT, cents BIGINT")
        .option("sep", "\t")
        .option("header", True)
        .csv(path)
    )
    return (
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("c_custkey").cast("bigint").alias("key_sum"),
            F.sum("cents").cast("bigint").alias("balance_cents"),
        )
        .orderBy("c_mktsegment")
    )


# --- gzip CSV sink roundtrip -----------------------------------------------------------------


@query(
    "sink_csv_gzip_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS cents_sum
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    tags=("sinks", "csv", "compression", "gzip", "roundtrip"),
)
def sink_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-CSV WRITER roundtrip (codec=gzip): orders write as
    .csv.gz part files, are read back through the decompressing reader,
    and census from the re-parsed integers — the compression-codec
    option leg of the sink surface (splittability loss and all; the
    read side must fan one gz stream per file). Integer cents end to
    end."""
    import os

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderkey",
        (dec("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    path = scratch_dir("sinks", sf_dir, "csv_gzip_orders")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    o.write.mode("overwrite").option("compression", "gzip").option(
        "header", True
    ).csv(path)
    back = (
        spark.read.schema("o_orderstatus STRING, o_orderkey BIGINT, cents BIGINT")
        .option("header", True)
        .csv(path)
    )
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("o_orderkey").cast("bigint").alias("key_sum"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
        )
        .orderBy("o_orderstatus")
    )


# --- streaming twin: tumbling 2h value stddev ------------------------------------------------


@query(
    "stream_tumbling2h_value_stddev",
    oracle="""
    WITH w AS (
      SELECT time_bucket(INTERVAL 2 HOUR, ts) AS window_start,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CASE WHEN COUNT(*) > 1 THEN
             ROUND(SQRT((COUNT(*) * CAST(SUM(CAST(cents * cents
                           AS DECIMAL(38,0))) AS DOUBLE)
                         - CAST(SUM(cents) AS DOUBLE) ** 2)
                        / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1)))
                   / 100, 4)
           END AS value_stddev
    FROM w GROUP BY window_start ORDER BY window_start
    """,
    tags=("streaming", "window", "tumbling", "stddev", "exact-moments"),
)
def stream_tumbling2h_value_stddev(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tumbling 2-hour value dispersion — the volatility-per-window twin
    beside the min/max spread and median twins (the alerting shape for
    'values went erratic', not just 'values went high'). Both moment
    sums fold exactly (integer cents, squares as DECIMAL(38,0) — a
    mergeable state a streaming sink can keep incrementally); one
    rounded sqrt at the end. Single-event windows report NULL (sample
    stddev is undefined at n = 1; an unguarded n−1 divides by zero
    under ANSI mode — surfaced by the sparse sf0.001 fixture)."""
    e = load_table(spark, sf_dir, "events")
    cents = (dec("value") * 100).cast("bigint")
    w = e.groupBy(F.window("ts", "2 hours").alias("w")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).alias("s1"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("s2"),
    )
    sd = F.round(
        F.sqrt(
            (
                F.col("n") * F.col("s2").cast("double")
                - F.pow(F.col("s1").cast("double"), F.lit(2))
            )
            / (F.col("n").cast("double") * (F.col("n") - 1))
        )
        / 100,
        4,
    )
    return (
        w.select(
            F.col("w.start").alias("window_start"),
            "n",
            F.when(F.col("n") > 1, sd).alias("value_stddev"),
        )
        .orderBy("window_start")
    )


# --- graph goldens ---------------------------------------------------------------------------


def _sym_edges(spark: SparkSession, rows: list[tuple[int, int]]) -> DataFrame:
    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
    )

    sym = rows + [(b, a) for a, b in rows]
    return spark.createDataFrame(sorted(set(sym)), EDGE_SCHEMA)


@query(
    "graph_edge_jaccard_g6",
    oracle="""
    SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(n_union AS BIGINT) AS n_union,
           CAST(j AS DOUBLE) AS jaccard
    FROM (VALUES
      (1, 2, 2, 4, 0.5), (1, 3, 2, 4, 0.5), (1, 4, 2, 5, 0.4),
      (2, 3, 2, 4, 0.5), (2, 4, 2, 5, 0.4), (3, 4, 2, 5, 0.4),
      (4, 5, 0, 7, 0.0), (5, 6, 0, 5, 0.0), (6, 7, 0, 4, 0.0),
      (7, 8, 0, 5, 0.0), (8, 9, 0, 5, 0.0), (8, 10, 0, 4, 0.0),
      (5, 9, 0, 5, 0.0)
    ) AS t(a, b, n_common, n_union, j)
    ORDER BY a, b
    """,
    tags=("graph", "jaccard", "link-strength", "golden"),
)
def graph_edge_jaccard_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard per edge of the G6 clique+cycle fixture —
    the tie-strength score of link prediction (clique edges score 0.4+,
    every bridge/cycle edge 0.0: no shared neighbors). An edge's common
    neighbors close its triangles, so ``n_common`` is the edge's triangle
    support over operators/graph.py ``triangles`` (the count k_truss
    peels on); degrees are one aggregate; |N(a) ∪ N(b)| = deg(a) +
    deg(b) − common. Golden recomputed by an independent python set pass
    (canonical a < b edges; the cycle edge 9→5 canonicalizes to
    (5, 9))."""
    from distributed_graph_database_system_spark.operators.graph import (
        _edge_support,
        triangles,
    )
    from distributed_graph_database_system_spark.queries.graph import G6

    e = _sym_edges(spark, G6)
    deg = e.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    pairs = e.where(F.col("src") < F.col("dst")).toDF("a", "b")
    common = _edge_support(triangles(pairs)).withColumnRenamed("support", "n_common")
    j = (
        pairs.join(common, ["a", "b"], "left")
        .na.fill({"n_common": 0})
        .join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    )
    return j.select(
        "a",
        "b",
        "n_common",
        (F.col("da") + F.col("db") - F.col("n_common")).alias("n_union"),
        (
            F.col("n_common").cast("double")
            / (F.col("da") + F.col("db") - F.col("n_common"))
        ).alias("jaccard"),
    ).orderBy("a", "b")


@query(
    "graph_path_count_dag_g7",
    oracle="""
    SELECT CAST(v AS BIGINT) AS vid, CAST(p AS BIGINT) AS n_paths
    FROM (VALUES (1, 1), (2, 1), (3, 1), (4, 2), (5, 4), (6, 1))
      AS t(v, p)
    ORDER BY vid
    """,
    tags=("graph", "dag", "path-counting", "golden"),
)
def graph_path_count_dag_g7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct source→vertex path counts over the G7 DAG from vertex 1
    (vertex 5 collects 4 routes: 1-2-4-5, 1-3-4-5, 1-5, 1-3-6-5) — the
    dynamic program paths(v) = Σ paths(u) over in-edges, run as
    level-synchronous frontier joins with exact integer path mass
    (vertex 7 has no path from 1 and is absent). Golden recomputed by an
    independent memoized python count."""
    from distributed_graph_database_system_spark.operators.graph import (
        EDGE_SCHEMA,
    )
    from distributed_graph_database_system_spark.queries.graph import G7_DAG

    paths = spark.createDataFrame([(1, 1)], "vid BIGINT, p BIGINT")
    frontier = paths
    # longest path in the 7-vertex DAG is < 7 hops; each round advances
    # the frontier one level and adds its path mass onto the totals. A
    # FRESH renamed edge frame per round sidesteps Spark's ambiguous
    # self-join detection on the frontier's edge lineage.
    for i in range(7):
        e_i = spark.createDataFrame(G7_DAG, EDGE_SCHEMA).toDF(
            f"s{i}", f"d{i}"
        )
        step = (
            frontier.join(e_i, frontier["vid"] == F.col(f"s{i}"))
            .groupBy(F.col(f"d{i}").alias("vid"))
            .agg(F.sum("p").alias("p"))
        )
        if step.isEmpty():
            break
        paths = (
            paths.unionByName(step)
            .groupBy("vid")
            .agg(F.sum("p").alias("p"))
        )
        frontier = step
    return paths.select("vid", F.col("p").cast("bigint").alias("n_paths")).orderBy(
        "vid"
    )


@query(
    "graph_transitivity_g8",
    oracle="""
    SELECT CAST(63 AS BIGINT) AS n_wedges,
           CAST(2 AS BIGINT) AS n_triangles,
           CAST(0.095238 AS DOUBLE) AS transitivity
    """,
    tags=("graph", "transitivity", "triangles", "golden"),
)
def graph_transitivity_g8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL clustering coefficient (transitivity = 3·triangles/wedges)
    of the G8 grid-with-chords fixture: 63 wedges, 2 triangles (both
    created by the 1-6 chord), ratio 0.095238 — the whole-graph
    companion to the per-vertex clustering coefficient. Wedges count
    C(deg,2) exactly; triangles come from operators/graph.py
    triangle_count; golden recomputed by an independent python pass."""
    from distributed_graph_database_system_spark.operators.graph import (
        triangle_count,
    )
    from distributed_graph_database_system_spark.queries.seeds_r13a import G8

    e = _sym_edges(spark, G8)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    wedges = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges")
    )
    tri = triangle_count(e.where(F.col("src") < F.col("dst")))
    return wedges.join(tri, F.lit(True), "left").select(
        "n_wedges",
        "n_triangles",
        F.round(
            3 * F.col("n_triangles").cast("double") / F.col("n_wedges"), 6
        ).alias("transitivity"),
    )


# --- customer/supplier count reconciliation ---------------------------------------------------


@query(
    "nation_cust_supp_count_ratio",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
      FROM customer GROUP BY nk
    ), s AS (
      SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
      FROM supplier GROUP BY nk
    )
    SELECT n.n_name AS nation,
           COALESCE(c.n_cust, 0) AS n_customers,
           COALESCE(s.n_supp, 0) AS n_suppliers,
           ROUND(CAST(COALESCE(c.n_cust, 0) AS DOUBLE)
                 / NULLIF(COALESCE(s.n_supp, 0), 0), 4)
             AS cust_per_supplier
    FROM nation n
    LEFT JOIN c ON n.n_nationkey = c.nk
    LEFT JOIN s ON n.n_nationkey = s.nk
    ORDER BY nation
    """,
    tags=("relational", "outer-join", "reconciliation", "ratio"),
)
def nation_cust_supp_count_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-coverage ratio per nation: customers per supplier, from two
    independent count aggregates stitched onto the nation dimension with
    LEFT joins (a nation missing from either side reads 0, and a
    zero-supplier nation yields NULL ratio via NULLIF — never a
    divide-by-zero). The aggregate-then-join order keeps both fact scans
    one pass."""
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_supp"))
    )
    j = (
        n.join(c, n["n_nationkey"] == c["nk"], "left")
        .join(s, n["n_nationkey"] == s["nk"], "left")
        .select(
            "nation",
            F.coalesce("n_cust", F.lit(0)).cast("bigint").alias("n_customers"),
            F.coalesce("n_supp", F.lit(0)).cast("bigint").alias("n_suppliers"),
        )
    )
    return j.select(
        "nation",
        "n_customers",
        "n_suppliers",
        F.round(
            F.col("n_customers").cast("double")
            / F.nullif(F.col("n_suppliers"), F.lit(0)),
            4,
        ).alias("cust_per_supplier"),
    ).orderBy("nation")

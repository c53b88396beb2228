"""R14_POOL: first-time candidates for the round-14 window rotation.

Sixteen queries spanning the families the rotation contract needs fresh
anchors for next round: calendar/window (monthly MoM deltas, QoQ rank
stability, TVD drift), per-key gap medians, hash-collision and key-density
audits, a tumbling streaming twin, text entropy/MI, decile bounds,
magnitude bands, argmax dominance, a local-clustering graph golden, and a
DAU/WAU reach ratio. Same float discipline as every registered query:
exact decimal/integer arithmetic, single-IEEE-op derivations, or
8dp-rounded terms folded as DECIMAL. All parity-verified at
sf0.001/0.01/0.1 at registration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from distributed_graph_database_system_spark.queries.helpers import dec, dsum
from distributed_graph_database_system_spark.queries.registry import query
from distributed_graph_database_system_spark.sources.catalog import load_table


# --- monthly MoM revenue delta ------------------------------------------------------


@query(
    "orders_monthly_mom_delta",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, n_orders, CAST(rev AS DOUBLE) AS revenue,
           CAST(rev - LAG(rev) OVER (ORDER BY month) AS DOUBLE) AS mom_delta,
           ROUND(CAST(rev - LAG(rev) OVER (ORDER BY month) AS DOUBLE)
                 / CAST(LAG(rev) OVER (ORDER BY month) AS DOUBLE), 6)
             AS mom_pct
    FROM monthly ORDER BY month
    """,
    tags=("window", "calendar", "lag", "mom"),
)
def orders_monthly_mom_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas: the reporting staple (LAG over the
    monthly series). Revenue folds as exact decimal, so the delta is exact
    decimal subtraction surfaced as double; the pct change is one rounded
    division. The window rides the bounded ~80-row monthly aggregate —
    the per-period contract, never the fact table."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.sum(dec("o_totalprice")).alias("rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    w = W.orderBy("month")
    prev = F.lag("rev").over(w)
    return monthly.select(
        "month",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        (F.col("rev") - prev).cast("double").alias("mom_delta"),
        F.round(
            (F.col("rev") - prev).cast("double") / prev.cast("double"), 6
        ).alias("mom_pct"),
    ).orderBy("month")


# --- per-(user, type) inter-arrival gap medians --------------------------------------


@query(
    "events_user_type_gap_median",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           ROUND(CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)
                      AS DOUBLE) / 1e6, 6) AS median_gap_sec,
           ROUND(CAST(MIN(gap_us) AS DOUBLE) / 1e6, 6) AS min_gap_sec,
           ROUND(CAST(MAX(gap_us) AS DOUBLE) / 1e6, 6) AS max_gap_sec
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("window", "gaps", "percentile", "per-key"),
)
def events_user_type_gap_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median inter-arrival gap per event type, measured WITHIN each
    (user, type) stream — the cadence profile behind rate-limiting and
    bot screens. The LAG window partitions on (user_id, event_type) so
    parallelism grows with the user base (no global ordering anywhere);
    gaps are exact integer microseconds; the median routes through
    group_quantiles_disc (partition-bounded state — a per-TYPE builtin
    percentile_disc would buffer |events|/5 gaps in one task), same
    ceil(q·n) rule as both engines' builtins."""
    from distributed_graph_database_system_spark.operators.quantile import (
        _qcolname,
        group_quantiles_disc,
    )

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias(
            "gap_us"
        ),
    ).where(F.col("gap_us").isNotNull())
    stats = gaps.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.min("gap_us").alias("mn"),
        F.max("gap_us").alias("mx"),
    )
    med = group_quantiles_disc(
        gaps, "gap_us", [0.5], ["event_type"]
    ).withColumnRenamed(_qcolname(0.5), "med_us")
    return (
        stats.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            "n_gaps",
            F.round(F.col("med_us").cast("double") / 1e6, 6).alias(
                "median_gap_sec"
            ),
            F.round(F.col("mn").cast("double") / 1e6, 6).alias("min_gap_sec"),
            F.round(F.col("mx").cast("double") / 1e6, 6).alias("max_gap_sec"),
        )
        .orderBy("event_type")
    )


# --- hash-bucket collision census ----------------------------------------------------


@query(
    "orders_custkey_birthday_collisions",
    oracle="""
    WITH b AS (
      SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8))
                  AS BIGINT) % 4096 AS bucket
      FROM customer
    ), sz AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS sz FROM b GROUP BY bucket
    )
    SELECT sz AS bucket_size,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(sz) AS BIGINT) AS n_keys
    FROM sz GROUP BY sz ORDER BY bucket_size
    """,
    tags=("hash", "collision", "census", "md5"),
)
def orders_custkey_birthday_collisions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hash-bucket occupancy histogram: customer keys md5-bucketed into
    4096 slots, then the bucket-size frequency table — the
    birthday-collision audit behind every hash-partitioning decision
    (compare against the Poisson profile to spot a biased key or a bad
    hash). md5 is the one hash both engines implement bit-identically
    (the repo-wide determinism source); the two folds are exact
    integers."""
    c = load_table(spark, sf_dir, "customer")
    bucket = (
        F.conv(F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 4096
    )
    sz = c.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return (
        sz.groupBy(F.col("sz").alias("bucket_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum("sz").cast("bigint").alias("n_keys"),
        )
        .orderBy("bucket_size")
    )


# --- streaming twin: tumbling 1-day per-type rollup -----------------------------------


@query(
    "stream_tumbling1d_type_value",
    oracle="""
    SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
    tags=("streaming", "window", "tumbling", "rollup"),
)
def stream_tumbling1d_type_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day per-type rollup (count, exact-decimal value sum,
    distinct users) — the daily-report streaming twin: the same
    F.window() aggregation a readStream would run with a watermark, here
    over the bounded batch so the DuckDB time_bucket oracle can verify
    every window's values exactly."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            dsum("value").alias("total_value"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
            "n_users",
        )
        .orderBy("window_start", "event_type")
    )


# --- character-bigram entropy ---------------------------------------------------------


@query(
    "documents_char_bigram_entropy",
    oracle="""
    WITH bg AS (
      SELECT lang, substr(lower(text), CAST(i AS INT), 2) AS b
      FROM documents, unnest(range(1, len(text))) AS t(i)
    ), c AS (
      SELECT lang, b, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY lang, b
    ), tot AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS nt,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
      FROM c GROUP BY lang
    )
    SELECT c.lang, tot.nt AS n_bigrams, tot.n_distinct,
           ROUND(CAST(SUM(CAST(ROUND(
             -(CAST(n AS DOUBLE) / nt) * LN(CAST(n AS DOUBLE) / nt), 8)
           AS DECIMAL(28,8))) AS DOUBLE), 6) AS bigram_entropy
    FROM c JOIN tot ON c.lang = tot.lang
    GROUP BY c.lang, tot.nt, tot.n_distinct ORDER BY c.lang
    """,
    tags=("llm", "text", "entropy", "ngram"),
)
def documents_char_bigram_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Character-bigram entropy per language — the orthographic
    complexity measure langid models threshold on (low bigram entropy =
    repetitive or templated text). Bigrams enumerate via a position
    sequence + substring (no UDF); counts are exact; each −p·ln p term
    rounds to 8dp and folds as DECIMAL — the rounded-term libm
    discipline shared with the Zipf/periodogram family."""
    d = load_table(spark, sf_dir, "documents")
    bg = d.select(
        "lang",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - 1)
        ).alias("i"),
        F.lower("text").alias("lt"),
    ).select("lang", F.expr("substring(lt, i, 2)").alias("b"))
    c = bg.groupBy("lang", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = c.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    p = F.col("n").cast("double") / F.col("nt")
    term = F.round(-p * F.log(p), 8).cast("decimal(28,8)")
    return (
        c.join(tot, "lang")
        .groupBy("lang", F.col("nt").alias("n_bigrams"), "n_distinct")
        .agg(F.round(F.sum(term).cast("double"), 6).alias("bigram_entropy"))
        .orderBy("lang")
    )


# --- monthly priority-mix total-variation drift ---------------------------------------


@query(
    "orders_priority_mix_tvd_monthly",
    oracle="""
    WITH months AS (
      SELECT DISTINCT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        AS month FROM orders
    ), prios AS (SELECT DISTINCT o_orderpriority AS prio FROM orders),
    grid AS (SELECT month, prio FROM months CROSS JOIN prios),
    c AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             o_orderpriority AS prio, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ), filled AS (
      SELECT g.month, g.prio, COALESCE(c.n, 0) AS n
      FROM grid g LEFT JOIN c ON g.month = c.month AND g.prio = c.prio
    ), tot AS (
      SELECT month, CAST(SUM(n) AS BIGINT) AS nt FROM filled GROUP BY month
    ), shares AS (
      SELECT f.month, f.prio, CAST(f.n AS DOUBLE) / t.nt AS p
      FROM filled f JOIN tot t ON f.month = t.month
    ), pairs AS (
      SELECT cur.month,
             CAST(ROUND(ABS(cur.p - prev.p), 8) AS DECIMAL(28,8)) AS d
      FROM shares cur JOIN shares prev
        ON cur.prio = prev.prio
       AND prev.month + INTERVAL 1 MONTH = cur.month
    )
    SELECT month, ROUND(0.5 * CAST(SUM(d) AS DOUBLE), 6) AS tvd
    FROM pairs GROUP BY month ORDER BY month
    """,
    tags=("stats", "tvd", "drift", "calendar"),
)
def orders_priority_mix_tvd_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Month-over-month total-variation distance of the order-priority
    mix — the distribution-drift monitor (TVD = ½Σ|p−q| is the metric
    data-quality gates alarm on). The month×priority grid is filled with
    zeros so an absent priority contributes its full share to the drift;
    shares are single divisions of exact counts; each |Δ| rounds to 8dp
    and folds as DECIMAL. Everything past the first aggregate is
    dimension-sized (months × 5 priorities)."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate")
    c = o.groupBy(
        month.alias("month"), F.col("o_orderpriority").alias("prio")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    months = c.select("month").distinct()
    prios = c.select("prio").distinct()
    grid = months.crossJoin(prios)
    filled = grid.join(c, ["month", "prio"], "left").select(
        "month", "prio", F.coalesce("n", F.lit(0)).alias("n")
    )
    tot = filled.groupBy("month").agg(F.sum("n").cast("bigint").alias("nt"))
    shares = filled.join(tot, "month").select(
        "month", "prio", (F.col("n").cast("double") / F.col("nt")).alias("p")
    )
    cur, prev = shares.alias("cur"), shares.alias("prev")
    pairs = cur.join(
        prev,
        (F.col("cur.prio") == F.col("prev.prio"))
        & (F.add_months(F.col("prev.month"), 1) == F.col("cur.month")),
    ).select(
        F.col("cur.month").alias("month"),
        F.round(F.abs(F.col("cur.p") - F.col("prev.p")), 8)
        .cast("decimal(28,8)")
        .alias("d"),
    )
    return (
        pairs.groupBy("month")
        .agg(
            F.round(F.lit(0.5) * F.sum("d").cast("double"), 6).alias("tvd")
        )
        .orderBy("month")
    )


# --- global decile bounds -------------------------------------------------------------


@query(
    "customer_acctbal_decile_bounds",
    oracle="""
    WITH c AS (
      SELECT CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_c
      FROM customer
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(percentile_disc(0.1) WITHIN GROUP (ORDER BY bal_c)
                AS DOUBLE) / 100 AS d10,
           CAST(percentile_disc(0.2) WITHIN GROUP (ORDER BY bal_c)
                AS DOUBLE) / 100 AS d20,
           CAST(percentile_disc(0.3) WITHIN GROUP (ORDER BY bal_c)
                AS DOUBLE) / 100 AS d30,
           CAST(percentile_disc(0.4) WITHIN GROUP (ORDER BY bal_c)
                AS DOUBLE) / 100 AS d40,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY bal_c)
                AS DOUBLE) / 100 AS d50,
           CAST(percentile_disc(0.6) WITHIN GROUP (ORDER BY bal_c)
                AS DOUBLE) / 100 AS d60,
           CAST(percentile_disc(0.7) WITHIN GROUP (ORDER BY bal_c)
                AS DOUBLE) / 100 AS d70,
           CAST(percentile_disc(0.8) WITHIN GROUP (ORDER BY bal_c)
                AS DOUBLE) / 100 AS d80,
           CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY bal_c)
                AS DOUBLE) / 100 AS d90
    FROM c
    """,
    tags=("percentile", "deciles", "order-statistic"),
)
def customer_acctbal_decile_bounds(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The nine global decile boundaries of customer balance — the
    bucketing prerequisite for equal-frequency histograms and monotone
    binning. Balances quantize to exact cents; all nine order statistics
    come from ONE pass of operators/quantile.py group_quantiles_disc
    (range repartition + partition-bounded local ranks — the builtin
    percentile_disc aggregate would buffer ALL customer balances in one
    task's memory, a cliff at the 10^9-customer north star). Same
    ceil(q·n) rank rule as both engines' builtins."""
    from distributed_graph_database_system_spark.operators.quantile import (
        _qcolname,
        group_quantiles_disc,
    )

    c = load_table(spark, sf_dir, "customer").select(
        (dec("c_acctbal", 12, 2) * 100).cast("bigint").alias("bal_c"),
        F.lit(1).alias("g"),
    )
    qs = [i / 10 for i in range(1, 10)]
    cuts = group_quantiles_disc(c, "bal_c", qs, ["g"]).drop("g")
    n = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    return n.crossJoin(F.broadcast(cuts)).select(
        "n_customers",
        *[
            (F.col(_qcolname(q)).cast("double") / 100).alias(f"d{i}0")
            for i, q in zip(range(1, 10), qs)
        ],
    )


# --- value magnitude bands ------------------------------------------------------------


@query(
    "events_value_magnitude_bands",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             CAST(value AS DECIMAL(18,2)) AS dv
      FROM events
    )
    SELECT event_type,
           CAST(len(CAST(cents AS VARCHAR)) AS INT) AS magnitude_band,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(dv) AS DOUBLE) AS min_value,
           CAST(MAX(dv) AS DOUBLE) AS max_value,
           CAST(SUM(dv) AS DOUBLE) AS total_value
    FROM v GROUP BY event_type, magnitude_band
    ORDER BY event_type, magnitude_band
    """,
    tags=("census", "magnitude", "digits", "exact"),
)
def events_value_magnitude_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-of-magnitude band census of event values per type, with the
    band derived from the DIGIT COUNT of exact integer cents — the
    log-scale histogram without a libm log (digit count ≡ ⌊log10⌋+1 on
    positive integers, exact in both engines where a floating log10
    could shear at powers of ten). Min/max/sum are exact decimals."""
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        (dec("value") * 100).cast("bigint").alias("cents"),
        dec("value").alias("dv"),
    )
    return (
        v.groupBy(
            "event_type",
            F.length(F.col("cents").cast("string"))
            .cast("int")
            .alias("magnitude_band"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("dv").cast("double").alias("min_value"),
            F.max("dv").cast("double").alias("max_value"),
            F.sum("dv").cast("double").alias("total_value"),
        )
        .orderBy("event_type", "magnitude_band")
    )


# --- key-density audit ----------------------------------------------------------------


@query(
    "orders_key_density_audit",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
           CAST(MAX(o_orderkey) - MIN(o_orderkey) + 1
                - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_missing,
           CAST(COUNT(*) FILTER (o_orderkey % 2 = 0) AS BIGINT) AS n_even,
           CAST(SUM(CAST(o_orderkey AS DECIMAL(38,0))) AS DOUBLE) AS key_sum
    FROM orders
    """,
    tags=("dq", "audit", "keys", "density"),
)
def orders_key_density_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key density audit in one aggregate: row vs distinct counts
    (duplicate check), min/max span vs key count (the gap total — missing
    ids from a sequence generator), even-key share (stride bias), and the
    exact decimal key checksum (a cheap content fingerprint for replica
    comparison). The whole audit is one map-side-combining pass — the
    shape that still works on a 10^11-row table."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct(k).cast("bigint").alias("n_keys"),
        F.min(k).cast("bigint").alias("min_key"),
        F.max(k).cast("bigint").alias("max_key"),
        (F.max(k) - F.min(k) + 1 - F.count_distinct(k))
        .cast("bigint")
        .alias("n_missing"),
        F.count(F.when(k % 2 == 0, 1)).cast("bigint").alias("n_even"),
        F.sum(k.cast("decimal(38,0)")).cast("double").alias("key_sum"),
    )


# --- lines-per-order histogram ----------------------------------------------------------


@query(
    "lineitem_linecount_histogram",
    oracle="""
    WITH lc AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY l_orderkey
    ), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM lc)
    SELECT n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(COUNT(*) AS DOUBLE) / tot.n_orders, 6) AS share
    FROM lc CROSS JOIN tot GROUP BY n_lines, tot.n_orders
    ORDER BY n_lines
    """,
    tags=("census", "histogram", "fanout"),
)
def lineitem_linecount_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lines-per-order frequency table — the fan-out profile of the
    orders→lineitem relationship (the distribution that sizes every
    order-grain join and decides whether a skew mitigation is needed).
    Two exact integer folds and one rounded share."""
    li = load_table(spark, sf_dir, "lineitem")
    lc = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines")
    )
    tot = lc.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    return (
        lc.groupBy("n_lines")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_lines",
            F.col("n").alias("n_orders"),
            F.round(F.col("n").cast("double") / F.col("n_orders"), 6).alias(
                "share"
            ),
        )
        .orderBy("n_lines")
    )


# --- dominant segment per nation --------------------------------------------------------


@query(
    "customer_dominant_segment_by_nation",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM customer GROUP BY 1, 2
    ), tot AS (
      SELECT nk, CAST(SUM(n) AS BIGINT) AS t FROM c GROUP BY nk
    ), best AS (
      SELECT nk, MAX(struct_pack(n := n, seg := seg)) AS b FROM c GROUP BY nk
    )
    SELECT best.nk AS nationkey,
           struct_extract(b, 'seg') AS dominant_segment,
           CAST(struct_extract(b, 'n') AS BIGINT) AS n_dominant,
           tot.t AS n_customers,
           ROUND(CAST(struct_extract(b, 'n') AS DOUBLE) / tot.t, 6)
             AS dominance
    FROM best JOIN tot ON best.nk = tot.nk ORDER BY nationkey
    """,
    tags=("aggregation", "argmax", "struct-max", "dominant-label"),
)
def customer_dominant_segment_by_nation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dominant market segment per nation via the lexicographic struct
    MAX over (count, segment) — the portable argmax with a deterministic
    tie rule (highest count, then LAST segment alphabetically, identical
    fieldwise comparison in both engines). Same machinery as the
    dominant-language query, exercised on the star-schema side."""
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy(
        F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = counts.groupBy("nk").agg(F.sum("n").cast("bigint").alias("t"))
    best = counts.groupBy("nk").agg(
        F.max(F.struct(F.col("n").alias("n"), F.col("seg").alias("seg"))).alias(
            "b"
        )
    )
    return (
        best.join(tot, "nk")
        .select(
            F.col("nk").alias("nationkey"),
            F.col("b.seg").alias("dominant_segment"),
            F.col("b.n").cast("bigint").alias("n_dominant"),
            F.col("t").alias("n_customers"),
            F.round(F.col("b.n").cast("double") / F.col("t"), 6).alias(
                "dominance"
            ),
        )
        .orderBy("nationkey")
    )


# --- year-over-year priority rank stability ----------------------------------------------


@query(
    "orders_priority_rank_kendall_yoy",
    oracle="""
    WITH yearly AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderpriority AS prio,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1, 2
    ), ranked AS (
      SELECT yr, prio,
             RANK() OVER (PARTITION BY yr ORDER BY rev DESC, prio) AS rk
      FROM yearly
    ), paired AS (
      SELECT cur.yr, cur.prio, prev.rk AS r_prev, cur.rk AS r_cur
      FROM ranked cur JOIN ranked prev
        ON cur.prio = prev.prio AND prev.yr + 1 = cur.yr
    ), disc AS (
      SELECT a.yr, CAST(COUNT(*) AS BIGINT) AS n_discordant
      FROM paired a JOIN paired b
        ON a.yr = b.yr AND a.r_prev < b.r_prev AND a.r_cur > b.r_cur
      GROUP BY a.yr
    ), years AS (SELECT DISTINCT yr FROM paired)
    SELECT y.yr, COALESCE(d.n_discordant, 0) AS n_discordant,
           ROUND(1.0 - COALESCE(d.n_discordant, 0) / 5.0, 6) AS kendall_tau
    FROM years y LEFT JOIN disc d ON y.yr = d.yr ORDER BY y.yr
    """,
    tags=("stats", "kendall", "rank-stability", "yoy"),
)
def orders_priority_rank_kendall_yoy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Year-over-year stability of the priority revenue ranking as a
    Kendall tau: rank the 5 priorities by exact-decimal revenue within
    each year (ties broken by priority name, so the ranking is total),
    count discordant pairs against the previous year, τ = 1 − D/C(5,2)·2.
    Every window and join past the first aggregate runs on ≤ 5 rows per
    year — dimension-sized, independent of fact volume."""
    o = load_table(spark, sf_dir, "orders")
    yearly = o.groupBy(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderpriority").alias("prio"),
    ).agg(F.sum(dec("o_totalprice")).alias("rev"))
    wr = W.partitionBy("yr").orderBy(F.desc("rev"), "prio")
    ranked = yearly.select("yr", "prio", F.rank().over(wr).alias("rk"))
    cur, prev = ranked.alias("cur"), ranked.alias("prev")
    paired = cur.join(
        prev,
        (F.col("cur.prio") == F.col("prev.prio"))
        & (F.col("prev.yr") + 1 == F.col("cur.yr")),
    ).select(
        F.col("cur.yr").alias("yr"),
        F.col("cur.prio").alias("prio"),
        F.col("prev.rk").alias("r_prev"),
        F.col("cur.rk").alias("r_cur"),
    )
    a, b = paired.alias("a"), paired.alias("b")
    disc = (
        a.join(
            b,
            (F.col("a.yr") == F.col("b.yr"))
            & (F.col("a.r_prev") < F.col("b.r_prev"))
            & (F.col("a.r_cur") > F.col("b.r_cur")),
        )
        .groupBy(F.col("a.yr").alias("yr"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_discordant"))
    )
    years = paired.select("yr").distinct()
    return (
        years.join(disc, "yr", "left")
        .select(
            "yr",
            F.coalesce("n_discordant", F.lit(0))
            .cast("bigint")
            .alias("n_discordant"),
            F.round(
                F.lit(1.0)
                - F.coalesce("n_discordant", F.lit(0)) / F.lit(5.0),
                6,
            ).alias("kendall_tau"),
        )
        .orderBy("yr")
    )


# --- mutual information between lang and source ------------------------------------------


@query(
    "documents_lang_source_mutual_info",
    oracle="""
    WITH joint AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM joint),
    lt AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS cl FROM joint GROUP BY lang),
    st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS cs
           FROM joint GROUP BY source)
    SELECT (SELECT n FROM tot) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM joint) AS n_cells,
           ROUND(CAST(SUM(CAST(ROUND(
             (CAST(c AS DOUBLE) / n)
               * LN(CAST(c AS DOUBLE) * n / (CAST(cl AS DOUBLE) * cs)), 8)
           AS DECIMAL(28,8))) AS DOUBLE), 6) AS mutual_info
    FROM joint JOIN lt USING (lang) JOIN st USING (source) CROSS JOIN tot
    """,
    tags=("stats", "entropy", "mutual-information", "llm"),
)
def documents_lang_source_mutual_info(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information I(lang; source) over the corpus — the
    dependence measure behind stratified sampling decisions (MI ≈ 0
    means language is balanced across sources and per-source sampling
    cannot skew the language mix). Joint/marginal counts are exact; each
    p·ln(p/(pq)) term rounds to 8dp and folds as DECIMAL."""
    d = load_table(spark, sf_dir, "documents")
    joint = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    tot = joint.agg(F.sum("c").cast("bigint").alias("n"))
    lt = joint.groupBy("lang").agg(F.sum("c").cast("bigint").alias("cl"))
    st = joint.groupBy("source").agg(F.sum("c").cast("bigint").alias("cs"))
    n_cells = joint.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    term = F.round(
        (F.col("c").cast("double") / F.col("n"))
        * F.log(
            F.col("c").cast("double")
            * F.col("n")
            / (F.col("cl").cast("double") * F.col("cs"))
        ),
        8,
    ).cast("decimal(28,8)")
    mi = (
        joint.join(lt, "lang")
        .join(st, "source")
        .crossJoin(F.broadcast(tot))
        .select(term.alias("t"))
        .agg(F.round(F.sum("t").cast("double"), 6).alias("mutual_info"))
    )
    return (
        tot.crossJoin(F.broadcast(n_cells))
        .crossJoin(F.broadcast(mi))
        .select(
            F.col("n").alias("n_docs"),
            "n_cells",
            "mutual_info",
        )
    )


# --- local clustering coefficients on G6 --------------------------------------------------


@query(
    "graph_clustering_coeff_g6",
    oracle="""
    WITH e AS (
      SELECT src, dst FROM (VALUES
      (1,2),(2,1),(1,3),(3,1),(1,4),(4,1),(2,3),(3,2),(2,4),(4,2),
      (3,4),(4,3),(5,6),(6,5),(6,7),(7,6),(7,8),(8,7),(8,9),(9,8),
      (9,5),(5,9),(4,5),(5,4),(8,10),(10,8)) AS t(src, dst)
    ), deg AS (
      SELECT src AS v, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY src
    ), tri AS (
      SELECT e1.src AS v, CAST(COUNT(*) / 2 AS BIGINT) AS t
      FROM e e1 JOIN e e2 ON e1.dst = e2.src
                JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst
      GROUP BY e1.src
    )
    SELECT CAST(deg.v AS BIGINT) AS vid, deg.d AS degree,
           COALESCE(tri.t, 0) AS n_triangles,
           ROUND(CASE WHEN deg.d < 2 THEN 0.0
                      ELSE 2.0 * COALESCE(tri.t, 0) / (deg.d * (deg.d - 1))
                 END, 6) AS clustering_coeff
    FROM deg LEFT JOIN tri ON deg.v = tri.v ORDER BY vid
    """,
    tags=("graph", "clustering", "triangles", "local"),
)
def graph_clustering_coeff_g6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient of every G6 vertex: 2·tri(v) /
    (deg(v)·(deg(v)−1)) — the transitivity profile separating the clique
    (cc = 1) from the cycle and pendant (cc = 0). Triangles come once
    each from operators/graph.py ``triangles`` over the canonical
    (src < dst) edges and credit all three corners; all counts exact
    integers, the coefficient one rounded division. The oracle counts
    them with a two-hop + closing-edge join on the VALUES edge list."""
    from distributed_graph_database_system_spark.operators.graph import (
        _vertex_credit,
        triangles,
    )
    from distributed_graph_database_system_spark.queries.graph import (
        G6,
        _edges,
    )

    sym = G6 + [(b, a) for a, b in G6]
    e = _edges(spark, sym)
    deg = e.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    tri = triangles(e.where(F.col("src") < F.col("dst")).toDF("a", "b"))
    return (
        deg.join(_vertex_credit(tri), "vid", "left")
        .select(
            F.col("vid").cast("bigint").alias("vid"),
            F.col("d").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("n_triangles"),
            F.round(
                F.when(F.col("d") < 2, F.lit(0.0)).otherwise(
                    F.lit(2.0)
                    * F.coalesce("t", F.lit(0))
                    / (F.col("d") * (F.col("d") - 1))
                ),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy("vid")
    )


# --- modal size per part type -----------------------------------------------------------


@query(
    "part_type_modal_size",
    oracle="""
    WITH c AS (
      SELECT p_type, p_size, CAST(COUNT(*) AS BIGINT) AS n
      FROM part GROUP BY 1, 2
    ), best AS (
      SELECT p_type, MAX(struct_pack(n := n, sz := -p_size)) AS b,
             CAST(SUM(n) AS BIGINT) AS n_parts,
             CAST(COUNT(*) AS BIGINT) AS n_sizes
      FROM c GROUP BY p_type
    )
    SELECT p_type,
           CAST(-struct_extract(b, 'sz') AS INT) AS modal_size,
           CAST(struct_extract(b, 'n') AS BIGINT) AS n_modal,
           n_parts, n_sizes
    FROM best ORDER BY p_type
    """,
    tags=("aggregation", "mode", "argmax", "census"),
)
def part_type_modal_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal part size per type via struct MAX over (count, −size) — the
    exact mode with the SMALLEST size winning ties (the negation makes
    the lexicographic max prefer low sizes, a rule both engines apply
    fieldwise-identically). One count aggregate, one dimension-sized
    fold."""
    p = load_table(spark, sf_dir, "part")
    c = p.groupBy("p_type", "p_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    best = c.groupBy("p_type").agg(
        F.max(
            F.struct(F.col("n").alias("n"), (-F.col("p_size")).alias("sz"))
        ).alias("b"),
        F.sum("n").cast("bigint").alias("n_parts"),
        F.count(F.lit(1)).cast("bigint").alias("n_sizes"),
    )
    return best.select(
        "p_type",
        (-F.col("b.sz")).cast("int").alias("modal_size"),
        F.col("b.n").cast("bigint").alias("n_modal"),
        "n_parts",
        "n_sizes",
    ).orderBy("p_type")


# --- DAU / WAU reach ratio ---------------------------------------------------------------


@query(
    "events_dau_wau_ratio",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), days AS (SELECT DISTINCT day FROM du),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    ), wau AS (
      SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
      FROM days d JOIN du u
        ON u.day <= d.day AND u.day > d.day - 7
      GROUP BY d.day
    )
    SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day ORDER BY day
    """,
    tags=("engagement", "dau-wau", "range-join", "census"),
)
def events_dau_wau_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day: daily active users over trailing
    7-day actives — the engagement ratio product dashboards track.
    The trailing-window distinct CANNOT slide (distincts don't merge),
    so the range join runs over the per-(day,user) DISTINCT aggregate —
    at most days × users rows, shrunk from the raw event log before any
    inequality join. Counts exact; one rounded ratio."""
    e = load_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    wau = (
        days.alias("d")
        .join(
            du.alias("u"),
            (F.col("u.day") <= F.col("d.day"))
            & (F.col("u.day") > F.date_sub(F.col("d.day"), 7)),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("u.user_id").cast("bigint").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy("day")
    )

"""Corpus- and behavior-analysis operators: relevance ranking (TF-IDF,
BM25), collocation mining (PMI), inverted-index construction, Markov
transition matrices, statistical outlier detection, blocked record
linkage, and graph link prediction.

These extend the LLM-pipeline / analytics surface with the text-retrieval
and data-science shapes a training-data platform runs next to dedup and
quality filtering: ranking documents against probe queries, finding
collocations worth preserving during tokenization, inspecting user
event-flow structure, flagging anomalous metric values, and resolving
entities across tables. All are pure JVM column expressions with full
DuckDB oracles.

Float determinism (helpers.py discipline): every cross-engine float is
either derived from exact integer/decimal aggregates with the arithmetic
EXPRESSION WRITTEN IDENTICALLY on both sides (one IEEE op sequence), or
summed in a FIXED, explicit order (conditional-aggregation pivot instead
of SUM over a term group, whose addition order is engine-dependent), then
rounded to 4 decimals on both sides.

Scale shapes:
- ranking/PMI/index build shuffle on the TOKEN key; with a Zipfian corpus
  the head tokens are exactly the skewed-aggregation case covered by the
  salted-agg pattern (agg_salted_skew) — partial aggregation (map-side
  combine) absorbs most of it since per-token state is one counter;
- the Markov matrix is one window (user, ts) + one aggregate — the state
  per reducer is |event_type|² counters, constant in corpus size;
- linkage joins on the BLOCK key only (never a cross product); a
  low-cardinality block key at 100 TB needs the salted-join treatment
  (see join_salted_skew) or a composite block key;
- link prediction wedge-joins the adjacency on the mid vertex, so a hub
  of degree d emits d² candidate pairs; the fixture graph's degree bounds
  it here. It is not a triangle enumeration (the pairs it scores are the
  UNconnected ones), so operators/graph.py's degree-ordered ``triangles``
  does not apply; the scale answer is a degree cap or a sampled
  neighborhood on the mid vertex. Local clustering does enumerate
  triangles, and runs on ``triangles``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from distributed_graph_database_system_spark.queries.llm_goldens import (
    EVENTS_MARKOV_STATIONARY_GOLDEN,
    TEXT_KEYWORDS_TEXTRANK_GOLDEN,
)
from distributed_graph_database_system_spark.queries.registry import query
from distributed_graph_database_system_spark.sources.catalog import load_table

# Shared tokenization (fixture documents are single-space-separated
# lowercase tokens; string_split(text, ' ') == F.split(text, ' ')).
_TOKS_SQL = "SELECT doc_id, string_split(text, ' ') AS t FROM documents"
_UNNEST_SQL = f"SELECT doc_id, unnest(t) AS tok FROM ({_TOKS_SQL})"

# Probe query terms for the ranking operators: one rare term ('dup',
# df≈5% of docs — high idf) and two common ones (df≈76% — idf near
# ln(1/0.76)≈0.27), so the ranking exercises both idf regimes.
_TERMS = ("dup", "vector", "spark")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", F.split("text", " ").alias("t"))


# --- TF-IDF ranking ---------------------------------------------------------


@query(
    "text_tfidf_rank",
    oracle=f"""
    WITH u AS ({_UNNEST_SQL}),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM u
      WHERE tok IN ('dup', 'vector', 'spark')
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM u
      WHERE tok IN ('dup', 'vector', 'spark')
      GROUP BY tok
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) AS s
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    )
    SELECT doc_id,
           ROUND(COALESCE(MAX(CASE WHEN tok = 'dup' THEN s END), 0)
               + COALESCE(MAX(CASE WHEN tok = 'vector' THEN s END), 0)
               + COALESCE(MAX(CASE WHEN tok = 'spark' THEN s END), 0),
               4) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 15
    """,
    tags=("text", "ranking", "tfidf"),
)
def text_tfidf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF relevance ranking of the corpus against a 3-term probe query
    — the classic retrieval scorer, as two shuffles: (doc, term) term
    frequencies and per-term document frequencies (a 3-row dim, broadcast
    back). idf = ln(N/df).

    The per-doc score is a FIXED-ORDER sum via conditional aggregation
    (one MAX(CASE) per query term, added left-to-right) rather than
    SUM() over term rows — a group-SUM's addition order is
    engine/partition-dependent, and float addition doesn't commute in the
    last ulp. Pivoting by the (tiny, fixed) query term set makes the op
    sequence identical in Spark and the oracle. At 100 TB the only
    corpus-sized shuffle is the (doc, term) count; df and N are
    broadcast scalars."""
    u = _tokens(spark, sf_dir).select(
        "doc_id", F.explode("t").alias("tok")
    ).where(F.col("tok").isin(*_TERMS))
    n = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    tf = u.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = u.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
            ).alias("s"),
        )
    )

    def term_s(t: str):
        return F.coalesce(
            F.max(F.when(F.col("tok") == t, F.col("s"))), F.lit(0.0)
        )

    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(
                term_s("dup") + term_s("vector") + term_s("spark"), 4
            ).alias("score")
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(15)
    )


# --- BM25 ranking -----------------------------------------------------------


@query(
    "text_bm25_rank",
    oracle=f"""
    WITH u AS ({_UNNEST_SQL}),
    stats AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs,
             CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT doc_id) AS avgdl
      FROM u
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM u GROUP BY doc_id),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM u
      WHERE tok IN ('dup', 'vector', 'spark')
      GROUP BY doc_id, tok
    ),
    df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM u
      WHERE tok IN ('dup', 'vector', 'spark')
      GROUP BY tok
    ),
    scored AS (
      SELECT tf.doc_id, tf.tok,
             ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (CAST(tf.tf AS DOUBLE) * 2.2)
             / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS s
      FROM tf JOIN df ON tf.tok = df.tok
              JOIN dl ON tf.doc_id = dl.doc_id
              CROSS JOIN stats
    )
    SELECT doc_id,
           ROUND(COALESCE(MAX(CASE WHEN tok = 'dup' THEN s END), 0)
               + COALESCE(MAX(CASE WHEN tok = 'vector' THEN s END), 0)
               + COALESCE(MAX(CASE WHEN tok = 'spark' THEN s END), 0),
               4) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 15
    """,
    tags=("text", "ranking", "bm25"),
)
def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) over the same probe query — TF-IDF plus
    term-frequency saturation and document-length normalization, the
    scorer behind most lexical retrieval (and the usual quality-filter
    signal 'how query-like is this document').

    Same determinism discipline as text_tfidf_rank: integer tf/df/dl/N,
    double arithmetic with the expression written identically on both
    sides, fixed-order pivot sum, round(4). Corpus-sized shuffles: the
    (doc, term) tf count and the per-doc length count — both one-pass
    partial aggregates; df/avgdl/N are broadcast scalars."""
    u_all = _tokens(spark, sf_dir).select(
        "doc_id", F.explode("t").alias("tok")
    )
    u = u_all.where(F.col("tok").isin(*_TERMS))
    stats = u_all.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        (F.count("*").cast("double") / F.count_distinct("doc_id")).alias(
            "avgdl"
        ),
    )
    dl = u_all.groupBy("doc_id").agg(F.count("*").alias("dl"))
    tf = u.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = u.groupBy("tok").agg(F.count_distinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "tok",
            (
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                )
                * (F.col("tf").cast("double") * 2.2)
                / (
                    F.col("tf")
                    + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
                )
            ).alias("s"),
        )
    )

    def term_s(t: str):
        return F.coalesce(
            F.max(F.when(F.col("tok") == t, F.col("s"))), F.lit(0.0)
        )

    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(
                term_s("dup") + term_s("vector") + term_s("spark"), 4
            ).alias("score")
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(15)
    )


# --- PMI collocations -------------------------------------------------------


@query(
    "token_pmi_bigrams",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    idx AS (
      SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks
      WHERE len(t) >= 2
    ),
    big AS (
      SELECT t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2 FROM idx
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS n_ab FROM big GROUP BY w1, w2),
    uni AS (SELECT tok, COUNT(*) AS n FROM ({_UNNEST_SQL}) GROUP BY tok),
    tot AS (
      SELECT (SELECT SUM(n) FROM uni) AS t_uni,
             (SELECT SUM(n_ab) FROM bc) AS t_big
    )
    SELECT bc.w1, bc.w2, bc.n_ab,
           ROUND(ln((CAST(bc.n_ab AS DOUBLE) / tot.t_big)
                    / ((CAST(a.n AS DOUBLE) / tot.t_uni)
                       * (CAST(b.n AS DOUBLE) / tot.t_uni))), 4) AS pmi
    FROM bc JOIN uni a ON bc.w1 = a.tok
            JOIN uni b ON bc.w2 = b.tok
            CROSS JOIN tot
    WHERE bc.n_ab >= 20
    ORDER BY pmi DESC, bc.w1, bc.w2 LIMIT 20
    """,
    tags=("text", "pmi", "collocation"),
)
def token_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over adjacent-token bigrams — the
    collocation miner (which token pairs co-occur far above chance) used
    to decide merge-worthy units during tokenizer training.

    pmi = ln( P(ab) / (P(a)·P(b)) ) from integer counts, computed with an
    identical expression tree in both engines, rounded to 4dp. Bigram
    extraction is a positional transform over the token array (sequence +
    element_at — 1-based in both engines), exploded DISTRIBUTED; docs
    shorter than 2 tokens are filtered first because Spark's
    sequence(1, 0) counts DOWN (yields [1,0]) rather than producing an
    empty array like DuckDB's range(1, 1). Shuffles are per-bigram and
    per-token counts (map-side combinable); totals are broadcast
    scalars."""
    toks = _tokens(spark, sf_dir).where(F.size("t") >= 2)
    big = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), "
                "i -> named_struct('w1', element_at(t, i), "
                "'w2', element_at(t, i + 1)))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("n_ab"))
    uni = (
        _tokens(spark, sf_dir)
        .select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    tot = bc.agg(F.sum("n_ab").alias("t_big")).crossJoin(
        uni.agg(F.sum("n").alias("t_uni"))
    )
    a = uni.select(F.col("tok").alias("w1"), F.col("n").alias("n_a"))
    b = uni.select(F.col("tok").alias("w2"), F.col("n").alias("n_b"))
    return (
        bc.where(F.col("n_ab") >= 20)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab").cast("double") / F.col("t_big"))
                    / (
                        (F.col("n_a").cast("double") / F.col("t_uni"))
                        * (F.col("n_b").cast("double") / F.col("t_uni"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


# --- Fixed-width value histogram --------------------------------------------


@query(
    "agg_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(LEAST(GREATEST(CAST(FLOOR(value / 25.0) AS INTEGER), 0), 19)
                AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, bin
    ORDER BY event_type, bin
    """,
    tags=("aggregation", "histogram"),
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type — 20 bins of width
    25 over [0, 500), overflow clamped into the edge bins: the
    distribution summary behind every dashboard density chart, computed
    as ONE map-side-combinable aggregation (bin id is pure row-local
    arithmetic — integer floor of value/25, clamped — so no sort, no
    window, and the output is |types|×20 rows regardless of input
    size). The same closed-form bucketing both engines evaluate
    identically on exact inputs."""
    e = load_table(spark, sf_dir, "events")
    bin_c = F.least(
        F.greatest(F.floor(F.col("value") / 25.0).cast("int"), F.lit(0)),
        F.lit(19),
    )
    return (
        e.groupBy("event_type", bin_c.alias("bin"))
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "bin")
    )


# --- Conversion-delay statistics --------------------------------------------


@query(
    "conversion_time_stats",
    oracle="""
    WITH fv AS (
      SELECT user_id, MIN(ts) AS first_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
      SELECT user_id, MIN(ts) AS first_purchase FROM events
      WHERE event_type = 'purchase' GROUP BY user_id
    ),
    d AS (
      SELECT (epoch_us(first_purchase) - epoch_us(first_view)) / 1000000.0
               AS delay_s
      FROM fv JOIN fp USING (user_id)
      WHERE first_purchase > first_view
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(MIN(delay_s), 4) AS min_delay_s,
           ROUND(quantile_cont(delay_s, 0.5), 4) AS median_delay_s,
           ROUND(MAX(delay_s), 4) AS max_delay_s
    FROM d
    """,
    tags=("analytics", "conversion", "funnel"),
)
def conversion_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, the delay between FIRST
    view and FIRST purchase (users whose first purchase precedes any
    view don't count as view-driven conversions) — the product-analytics
    companion to the funnel counts. Delays are exact epoch-microsecond
    differences divided by 1e6 (one identical double op per row);
    min/max are exact and the median routes through
    group_quantiles_exact (bit-identical to Spark's percentile() by
    test, partition-bounded state where the builtin would buffer every
    converted user's delay in one task), which agrees with quantile_cont
    at round(4) (the agg_percentile_bands precedent). Two first-touch
    aggregates + one user-keyed join — no data-sized window or sort."""
    e = load_table(spark, sf_dir, "events")
    fv = e.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("first_view")
    )
    fp = e.where(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.min("ts").alias("first_purchase")
    )
    d = (
        fv.join(fp, "user_id")
        .where(F.col("first_purchase") > F.col("first_view"))
        .select(
            (
                (
                    F.unix_micros("first_purchase")
                    - F.unix_micros("first_view")
                )
                / 1_000_000.0
            ).alias("delay_s")
        )
    )
    from distributed_graph_database_system_spark.operators.quantile import (
        _qcolname,
        group_quantiles_exact,
    )

    med = group_quantiles_exact(
        d.withColumn("g", F.lit(1)), "delay_s", [0.5], ["g"]
    ).drop("g")
    agg = d.groupBy().agg(
        F.count("*").alias("n_converted"),
        F.round(F.min("delay_s"), 4).alias("min_delay_s"),
        F.round(F.max("delay_s"), 4).alias("max_delay_s"),
    )
    # LEFT join (not crossJoin): the global aggregate is always one row,
    # but the quantile frame is EMPTY on empty input — a cross join would
    # return zero rows where the oracle's global aggregate returns one
    # row of (0, NULL, NULL, NULL). The left join preserves the one-row
    # shape with a NULL median (r13 ADVICE item).
    return agg.join(F.broadcast(med), F.lit(True), "left").select(
        "n_converted",
        "min_delay_s",
        F.round(F.col(_qcolname(0.5)), 4).alias("median_delay_s"),
        "max_delay_s",
    )


# --- Corpus mixture diversity -----------------------------------------------


@query(
    "corpus_source_entropy",
    oracle="""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS n FROM documents
      GROUP BY source
    ),
    tot AS (SELECT SUM(n) AS big_n, COUNT(*) AS k FROM c),
    terms AS (
      SELECT c.source,
             CAST(ROUND(-(c.n / tot.big_n) * LN(c.n / tot.big_n), 6)
                  AS DECIMAL(18,6)) AS h_term,
             CAST(ROUND((c.n / tot.big_n) * (c.n / tot.big_n), 6)
                  AS DECIMAL(18,6)) AS p2_term
      FROM c CROSS JOIN tot
    )
    SELECT CAST((SELECT k FROM tot) AS BIGINT) AS n_sources,
           ROUND(CAST(SUM(h_term) AS DOUBLE), 4) AS entropy_nats,
           ROUND(1.0 - CAST(SUM(p2_term) AS DOUBLE), 4) AS gini_impurity
    FROM terms
    """,
    tags=("llm", "pipeline", "diversity", "entropy"),
)
def corpus_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-diversity metrics for a training corpus: Shannon entropy
    (nats) and Gini impurity of the source distribution — the numbers a
    data-mixing plan monitors when rebalancing domains. One counts pass;
    per-source terms round to 6 decimals and sum as DECIMAL (the exact
    order-free discipline from text_perplexity_unigram) so the two
    engines agree on the hash regardless of addition order."""
    c = load_table(spark, sf_dir, "documents").groupBy("source").agg(
        F.count("*").cast("double").alias("n")
    )
    tot = c.agg(F.sum("n").alias("big_n"), F.count("*").alias("k"))
    p = F.col("n") / F.col("big_n")
    terms = c.crossJoin(F.broadcast(tot)).select(
        "k",
        F.round(-p * F.log(p), 6).cast("decimal(18,6)").alias("h_term"),
        F.round(p * p, 6).cast("decimal(18,6)").alias("p2_term"),
    )
    return terms.groupBy().agg(
        F.max("k").cast("bigint").alias("n_sources"),
        F.round(F.sum("h_term").cast("double"), 4).alias("entropy_nats"),
        F.round(
            F.lit(1.0) - F.sum("p2_term").cast("double"), 4
        ).alias("gini_impurity"),
    )


# --- Chi-square independence test -------------------------------------------


@query(
    "events_chisq_type_dow",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(dayofweek(ts) AS INTEGER) AS dow,
             CAST(COUNT(*) AS DOUBLE) AS o
      FROM events GROUP BY event_type, dow
    ),
    rows_t AS (SELECT event_type, SUM(o) AS rt FROM obs GROUP BY event_type),
    cols_t AS (SELECT dow, SUM(o) AS ct FROM obs GROUP BY dow),
    tot AS (SELECT SUM(o) AS n FROM obs),
    terms AS (
      SELECT obs.event_type, obs.dow,
             CAST(ROUND(
               (obs.o - rows_t.rt * cols_t.ct / tot.n)
               * (obs.o - rows_t.rt * cols_t.ct / tot.n)
               / (rows_t.rt * cols_t.ct / tot.n), 6) AS DECIMAL(18,6)) AS x
      FROM obs JOIN rows_t USING (event_type)
               JOIN cols_t USING (dow)
               CROSS JOIN tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           ROUND(CAST(SUM(x) AS DOUBLE), 4) AS chi2
    FROM terms
    """,
    tags=("analytics", "stats", "chisq"),
)
def events_chisq_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square statistic for event_type × day-of-week
    independence — the contingency-table hypothesis test behind "does
    behavior vary by weekday" dashboards. The table is bounded (types ×
    7), so expected counts come from two broadcast marginals; each
    cell's (O−E)²/E term rounds to 6 decimals and sums as DECIMAL (the
    exact order-free discipline), leaving one comparable statistic.
    NOTE: dayofweek() is 1=Sunday in both Spark and DuckDB... almost —
    DuckDB's dayofweek is 0=Sunday, so the Spark side subtracts 1 to
    meet it; the driver hash would catch any future divergence."""
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", (F.dayofweek("ts") - 1).cast("int").alias("dow")
    ).agg(F.count("*").cast("double").alias("o"))
    rows_t = obs.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_t = obs.groupBy("dow").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("n"))
    exp = F.col("rt") * F.col("ct") / F.col("n")
    terms = (
        obs.join(F.broadcast(rows_t), "event_type")
        .join(F.broadcast(cols_t), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round((F.col("o") - exp) * (F.col("o") - exp) / exp, 6)
            .cast("decimal(18,6)")
            .alias("x")
        )
    )
    return terms.groupBy().agg(
        F.count("*").alias("n_cells"),
        F.round(F.sum("x").cast("double"), 4).alias("chi2"),
    )


# --- Edit-distance similarity join ------------------------------------------


@query(
    "linkage_name_editdist",
    oracle="""
    WITH names AS (
      SELECT DISTINCT lower(p_name) AS nm FROM part
    )
    SELECT a.nm AS nm_a, b.nm AS nm_b,
           CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS dist
    FROM names a JOIN names b
      ON a.nm < b.nm
     AND abs(length(a.nm) - length(b.nm)) <= 3
    WHERE levenshtein(a.nm, b.nm) <= 3
    ORDER BY dist, nm_a, nm_b LIMIT 50
    """,
    tags=("linkage", "similarity", "editdist", "qgram"),
)
def linkage_name_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join over the DISTINCT part-name
    vocabulary (entity resolution for typo-level variants): name pairs
    within Levenshtein 3, without the all-pairs product over rows.
    Deduplicating to the vocabulary FIRST is the load-bearing move — the
    corpus repeats a bounded name set, so candidate generation runs over
    |vocab| strings, not |rows| (then row pairs, if wanted, are an
    equi-join back on the name).

    Recall 1.0 is PROVABLE, not assumed, via two complementary blocks:
    the q-gram lemma says strings with ed(a,b) ≤ k share at least
    max(|a|,|b|) − q + 1 − k·q positional q-grams, so for q=3, k=3 every
    pair whose LONGER name has ≥ 12 chars is guaranteed to meet in some
    3-gram bucket; pairs where BOTH names are shorter than 12 fall
    outside the lemma and are generated exhaustively by a length-banded
    product over the short-vocabulary subset (bounded: it is a slice of
    the vocabulary, not of the corpus). Union, dedupe, then verify with
    Spark's bounded levenshtein(l, r, 3) — early exit above the
    threshold, -1 sentinel filtered. The oracle brute-forces the banded
    vocabulary product — affordable exactly because it is |vocab|²."""
    names = (
        load_table(spark, sf_dir, "part")
        .select(F.lower("p_name").alias("nm"))
        .distinct()
        .withColumn("ln", F.length("nm"))
        .localCheckpoint()  # tiny vocabulary, reused by both blocks
    )
    grams = names.select(
        "nm",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("nm") - 2),
                lambda i: F.col("nm").substr(i, F.lit(3)),
            )
        ).alias("g"),
    ).distinct()
    gram_cand = (
        grams.alias("a")
        .join(grams.alias("b"), "g")
        .where(F.col("a.nm") < F.col("b.nm"))
        .select(F.col("a.nm").alias("nm_a"), F.col("b.nm").alias("nm_b"))
    )
    short = names.where(F.col("ln") < 12)
    short_cand = (
        short.alias("a")
        .join(
            short.alias("b"),
            (F.col("a.nm") < F.col("b.nm"))
            & (F.abs(F.col("a.ln") - F.col("b.ln")) <= 3),
        )
        .select(F.col("a.nm").alias("nm_a"), F.col("b.nm").alias("nm_b"))
    )
    cand = gram_cand.unionByName(short_cand).distinct()
    return (
        cand.where(
            F.abs(F.length("nm_a") - F.length("nm_b")) <= 3
        )
        .withColumn("dist", F.levenshtein("nm_a", "nm_b", 3))
        .where(F.col("dist") >= 0)
        .select("nm_a", "nm_b", F.col("dist").cast("int").alias("dist"))
        .orderBy("dist", "nm_a", "nm_b")
        .limit(50)
    )


# --- Market-basket co-occurrence --------------------------------------------


@query(
    "basket_part_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )
    SELECT part_a, part_b, CAST(COUNT(*) AS BIGINT) AS support
    FROM pairs GROUP BY part_a, part_b
    HAVING COUNT(*) >= 2
    ORDER BY support DESC, part_a, part_b LIMIT 20
    """,
    tags=("analytics", "basket", "co-occurrence"),
)
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining — the 2-itemset core of FP-growth-style
    association analysis: parts bought together in one order, ranked by
    support (orders containing both), min support 2. The self-join is
    keyed on the ORDER (baskets are small — TPC-H orders hold ≤7 items),
    so the pair fan-out per order is bounded C(7,2) and the join shuffles
    each side once on l_orderkey; distinct-before-join collapses
    duplicate (order, part) lines first — the same fan-out discipline as
    graph_degrees_custsupp. Top-20 via TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= 2)
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20)
    )


# --- Unigram-LM surprisal scoring -------------------------------------------


@query(
    "text_perplexity_unigram",
    oracle=f"""
    WITH u AS ({_UNNEST_SQL}),
    freq AS (SELECT tok, COUNT(*) AS n FROM u GROUP BY tok),
    tot AS (SELECT SUM(n) AS big_n FROM freq),
    nll AS (
      SELECT u.doc_id,
             CAST(ROUND(-LN(CAST(freq.n AS DOUBLE) / tot.big_n), 6)
                  AS DECIMAL(18,6)) AS x
      FROM u JOIN freq ON u.tok = freq.tok CROSS JOIN tot
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 4) AS avg_nll
    FROM nll GROUP BY doc_id
    ORDER BY avg_nll DESC, doc_id LIMIT 15
    """,
    tags=("text", "quality", "language-model", "llm"),
)
def text_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average token surprisal under the corpus's own
    unigram language model — the cheapest LM-based quality screen in a
    training-data pipeline (documents whose tokens are corpus-rare score
    high; boilerplate scores low). avg_nll = mean over the doc's tokens
    of −ln(count(tok)/N); the 15 most surprising documents are returned.

    Float determinism is the whole design: a per-doc SUM over dozens of
    doubles is addition-order-dependent across engines, so each token's
    surprisal is rounded to 6 decimals and cast to DECIMAL(18,6) FIRST —
    decimal addition is exact, hence order-free — and only the final
    mean is a double division, rounded to 4 (the dsum discipline from
    queries/helpers.py applied to a derived, not stored, quantity). The
    ln itself agrees across engines on these inputs (the same reliance
    text_tfidf_rank's idf already exercises, driver-hash-verified).

    Scale shape: one corpus-sized shuffle builds (tok, n) frequencies
    with map-side partial counts; the per-token score join shuffles the
    token stream once on tok (vocab ≪ corpus; Zipf-head skew folds into
    partial counts, and AQE handles the join side); N is a broadcast
    scalar; the final per-doc aggregate is one more map-side-combinable
    pass. No global sort — TakeOrderedAndProject serves the top-15."""
    u = _tokens(spark, sf_dir).select("doc_id", F.explode("t").alias("tok"))
    freq = u.groupBy("tok").agg(F.count("*").alias("n"))
    tot = freq.agg(F.sum("n").alias("big_n"))
    nll = (
        u.join(freq, "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(
                -F.log(F.col("n").cast("double") / F.col("big_n")), 6
            )
            .cast("decimal(18,6)")
            .alias("x"),
        )
    )
    return (
        nll.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum("x").cast("double") / F.count("*"), 4
            ).alias("avg_nll"),
        )
        .orderBy(F.desc("avg_nll"), "doc_id")
        .limit(15)
    )


# --- Inverted index ---------------------------------------------------------


@query(
    "inverted_index_postings",
    oracle=f"""
    WITH u AS ({_UNNEST_SQL})
    SELECT tok,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS total_tf,
           array_to_string(
             list_sort(list(DISTINCT doc_id))[1:10], ',') AS first_postings
    FROM u GROUP BY tok
    ORDER BY n_docs DESC, tok LIMIT 30
    """,
    tags=("text", "index", "postings"),
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: token → (document frequency, total
    term frequency, head of the sorted posting list) — the build step
    behind any lexical search over the corpus. The persisted form is
    operators/invindex.py: postings written hive-partitioned by a
    token-hash shard, term lookups partition-pruned to one directory
    (PartitionFilters asserted in tests/test_invindex.py). The 10-element
    head is serialized as a CSV string: the parity hash then compares
    scalar columns only, no nested-type hashing dependency.

    Per-task state is BOUNDED: the original form collected each token's
    whole posting SET into one aggregation buffer before slicing its head
    (``slice(sort_array(collect_set(doc_id)), 1, 10)``) — a stop-word's
    buffer is the entire corpus's doc-id set, the collect_set edition of
    the percentile memory cliff (r14 audit). The head is now the 10
    SMALLEST distinct doc_ids per token, computed as ``row_number() ≤ 10``
    over the distinct (tok, doc_id) frame — Spark's WindowGroupLimit keeps
    per-group state at 10 rows — and only those ≤10 survivors are
    collected. df/tf stay constant-state counts. Identical output by
    construction (the 10 smallest of a distinct sorted set ARE its sorted
    head); bit-identity held by the unchanged DuckDB oracle."""
    u = _tokens(spark, sf_dir).select("doc_id", F.explode("t").alias("tok"))
    stats = u.groupBy("tok").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count("*").alias("total_tf"),
    )
    w = W.partitionBy("tok").orderBy("doc_id")
    head = (
        u.select("tok", "doc_id")
        .distinct()
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= 10)
        .groupBy("tok")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias(
                "first_postings"
            )
        )
    )
    return (
        stats.join(head, "tok")
        .select("tok", "n_docs", "total_tf", "first_postings")
        .orderBy(F.desc("n_docs"), "tok")
        .limit(30)
    )


# --- Markov transition matrix -----------------------------------------------


@query(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    c AS (
      SELECT event_type, next_type, COUNT(*) AS n FROM seq
      WHERE next_type IS NOT NULL GROUP BY event_type, next_type
    )
    SELECT event_type, next_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY event_type), 4) AS p
    FROM c ORDER BY event_type, next_type
    """,
    tags=("events", "markov", "sequence"),
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams: for
    each (state, next-state) pair, the count and the conditional
    probability P(next | state) — the event-flow summary behind funnel
    and session-model analyses.

    One window shuffle on user_id (LEAD ordered by ts with the unique
    event_id tie-break — determinism under equal timestamps), one
    aggregate on the state pair, and a window normalization whose
    partition count is |event_type| (bounded, 5 here). The probability is
    integer/integer-sum → one double division, identical both sides."""
    e = load_table(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        F.lead("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("next_type"),
    ).where(F.col("next_type").isNotNull())
    c = seq.groupBy("event_type", "next_type").agg(F.count("*").alias("n"))
    return c.select(
        "event_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double")
            / F.sum("n").over(W.partitionBy("event_type")),
            4,
        ).alias("p"),
    ).orderBy("event_type", "next_type")


# --- Statistical outlier detection ------------------------------------------


@query(
    "outlier_zscore_events",
    oracle="""
    WITH s AS (
      SELECT event_type,
             COUNT(value) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS svv
      FROM events GROUP BY event_type
    ),
    z AS (
      SELECT e.event_id, e.event_type,
             (e.value - s.sv / s.n)
             / sqrt((s.svv - s.sv * s.sv / s.n) / (s.n - 1)) AS z
      FROM events e JOIN s ON e.event_type = s.event_type
    )
    SELECT * FROM (
      SELECT event_id, event_type, ROUND(z, 4) AS z,
             (abs(z) > 2.0) AS is_outlier
      FROM z
    ) ORDER BY abs(z) DESC, event_id LIMIT 10
    """,
    tags=("dq", "outlier", "zscore"),
)
def outlier_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection over event values: the 10 most
    extreme events by |z| within their event_type, with a 2σ flag — the
    anomaly screen run over metric streams before training on them.

    Mean and variance come from EXACT decimal sums (values carry 2dp, so
    Σv and Σv² are integer-exact as DECIMAL; decimal×decimal is exact),
    surfaced as doubles and combined with an identical expression tree in
    both engines (sample variance via the sum-of-squares identity) — no
    engine-order-dependent float aggregation anywhere. The stats dim is
    |event_type| rows, broadcast back onto the stream."""
    from distributed_graph_database_system_spark.queries.helpers import dec

    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count("value").alias("n"),
        F.sum(dec("value")).cast("double").alias("sv"),
        F.sum(dec("value") * dec("value")).cast("double").alias("svv"),
    )
    z = e.join(F.broadcast(s), "event_type").select(
        "event_id",
        "event_type",
        (
            (F.col("value") - F.col("sv") / F.col("n"))
            / F.sqrt(
                (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n"))
                / (F.col("n") - 1)
            )
        ).alias("z"),
    )
    return (
        z.select(
            "event_id",
            "event_type",
            F.round("z", 4).alias("z"),
            (F.abs(F.col("z")) > 2.0).alias("is_outlier"),
        )
        .orderBy(F.abs(F.col("z")).desc(), "event_id")
        .limit(10)
    )


# --- Blocked record linkage -------------------------------------------------


@query(
    "linkage_blocked_best_match",
    oracle="""
    WITH cand AS (
      SELECT s.s_suppkey, c.c_custkey,
             abs(s.s_acctbal - c.c_acctbal) AS d,
             ROW_NUMBER() OVER (
               PARTITION BY s.s_suppkey
               ORDER BY abs(s.s_acctbal - c.c_acctbal), c.c_custkey
             ) AS rn
      FROM supplier s JOIN customer c ON s.s_nationkey = c.c_nationkey
    )
    SELECT s_suppkey, c_custkey, ROUND(d, 2) AS acctbal_diff
    FROM cand WHERE rn = 1 ORDER BY s_suppkey
    """,
    tags=("linkage", "blocking", "entity-resolution"),
)
def linkage_blocked_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage: match every supplier to its single best
    customer candidate — candidates generated ONLY within the block
    (shared nation), scored by account-balance distance, best-per-record
    chosen by a window rank with a deterministic tie-break. This is the
    entity-resolution shape (block → score → argmin) that replaces the
    infeasible cross product: comparisons are |block|² per block, never
    |S|×|C|.

    At 100 TB a 25-value block key is itself a skew hazard — the
    production fix is a composite block key (nation × balance-bucket) or
    the salted-join pattern; the window stays partitioned by the LEFT
    record key, so its state is top-1 per supplier."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    cand = s.join(c, s["s_nationkey"] == c["c_nationkey"]).select(
        "s_suppkey",
        "c_custkey",
        F.abs(F.col("s_acctbal") - F.col("c_acctbal")).alias("d"),
    )
    rn = F.row_number().over(
        W.partitionBy("s_suppkey").orderBy("d", "c_custkey")
    )
    return (
        cand.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .select(
            "s_suppkey", "c_custkey", F.round("d", 2).alias("acctbal_diff")
        )
        .orderBy("s_suppkey")
    )


# --- Graph link prediction --------------------------------------------------


@query(
    "graph_link_prediction",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
    ),
    adj AS (
      SELECT src AS v, dst AS nb FROM e
      UNION ALL SELECT dst AS v, src AS nb FROM e
    ),
    deg AS (SELECT v, COUNT(*) AS deg FROM adj GROUP BY v),
    wedge AS (
      SELECT a.v AS x, b.v AS y, COUNT(*) AS cn
      FROM adj a JOIN adj b ON a.nb = b.nb AND a.v < b.v
      GROUP BY a.v, b.v
    ),
    nonadj AS (
      SELECT w.x, w.y, w.cn FROM wedge w
      LEFT JOIN e ON e.src = w.x AND e.dst = w.y
      WHERE e.src IS NULL
    )
    SELECT n.x, n.y, n.cn,
           ROUND(CAST(n.cn AS DOUBLE)
                 / (dx.deg + dy.deg - n.cn), 4) AS jaccard
    FROM nonadj n JOIN deg dx ON n.x = dx.v JOIN deg dy ON n.y = dy.v
    ORDER BY n.cn DESC, n.x, n.y LIMIT 20
    """,
    tags=("graph", "link-prediction", "fixture-derived"),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the supplier co-supply graph:
    for vertex pairs NOT currently connected, count shared neighbors and
    score by neighbor-set Jaccard — 'which suppliers are likely to
    co-supply next', the canonical graph-completion query of a graph
    database (reference surface: traversals over secondaryServer.c's
    adjacency — this is the analytic that graph's users run one step
    beyond BFS).

    Plan: canonical undirected edges (src<dst, distinct) → symmetric
    adjacency → wedge self-join on the shared neighbor → anti-join
    removes existing edges → degree join for the Jaccard denominator.
    Counts are integers; the one float is a single division, rounded.
    The wedge join carries a hub-skew exposure (d² pairs at a degree-d
    mid vertex). Orientation does not bound it, because the pairs scored
    are the unconnected ones, not triangles (see the module docstring)."""
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    a, b = ps.alias("a"), ps.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_partkey") == F.col("b.l_partkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(
            F.col("a.l_suppkey").alias("src"),
            F.col("b.l_suppkey").alias("dst"),
        )
        .distinct()
    )
    adj = e.select(F.col("src").alias("v"), F.col("dst").alias("nb")).unionAll(
        e.select(F.col("dst").alias("v"), F.col("src").alias("nb"))
    )
    deg = adj.groupBy("v").agg(F.count("*").alias("deg"))
    x, y = adj.alias("x"), adj.alias("y")
    wedge = (
        x.join(
            y,
            (F.col("x.nb") == F.col("y.nb"))
            & (F.col("x.v") < F.col("y.v")),
        )
        .groupBy(F.col("x.v").alias("x"), F.col("y.v").alias("y"))
        .agg(F.count("*").alias("cn"))
    )
    nonadj = wedge.join(
        e,
        (wedge["x"] == e["src"]) & (wedge["y"] == e["dst"]),
        "left_anti",
    )
    dx = deg.select(F.col("v").alias("x"), F.col("deg").alias("deg_x"))
    dy = deg.select(F.col("v").alias("y"), F.col("deg").alias("deg_y"))
    return (
        nonadj.join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            "cn",
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_x") + F.col("deg_y") - F.col("cn")),
                4,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("cn"), "x", "y")
        .limit(20)
    )


# --- Count-min sketch heavy hitters -----------------------------------------


@query(
    "sketch_cm_heavy_hitters",
    oracle=(
        "SELECT t AS tok, CAST(e AS BIGINT) AS est FROM (VALUES "
        "('join', 964), ('hash', 947), ('row', 943), ('batch', 937), "
        "('scan', 936), ('column', 934), ('customer', 934), "
        "('filter', 933), ('small', 928), ('merge', 918)) AS v(t, e) "
        "ORDER BY est DESC, tok"
    ),
    oracle_sf="0.01",
    tags=("sketch", "count-min", "heavy-hitters"),
)
def sketch_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a count-min sketch (operators/sketch.py): build a
    5×256 counter sketch of the token stream in one scan, then point-query
    every distinct token against the broadcast sketch and keep the top 10
    estimates. The sketch is a mergeable 1.3k-row DataFrame — the HLL
    pattern for frequencies: per-shard sketches union+sum into corpus
    sketches without rescanning raw data.

    Estimates are deterministic (xxhash64 bucket assignment, no RNG) so
    the golden is pinned at sf0.01, exactly like the MinHash/SimHash
    families; the error-bound and merge-exactness guarantees are
    pytest-asserted in tests/test_sketch.py. Estimates always ≥ true
    counts (the fixture's true max token count is ~930; collisions at
    width 256 add ≤ e·N/256 ≈ 290 here)."""
    from distributed_graph_database_system_spark.operators.sketch import (
        cm_estimate,
        cm_sketch,
    )

    toks = load_table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    sk = cm_sketch(toks, "tok", depth=5, width=256)
    est = cm_estimate(sk, toks.distinct(), "tok", width=256)
    return est.orderBy(F.desc("est"), "tok").limit(10)


# --- Pareto / ABC classification --------------------------------------------


@query(
    "orders_abc_pareto",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s_dec
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, s_dec,
             SUM(s_dec) OVER (ORDER BY s_dec DESC, o_custkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(s_dec) OVER () AS total
      FROM spend
    ),
    classed AS (
      SELECT CASE
               WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.5
                 THEN 'A'
               WHEN CAST(cum AS DOUBLE) / CAST(total AS DOUBLE) <= 0.8
                 THEN 'B'
               ELSE 'C' END AS abc_class,
             s_dec
      FROM ranked
    )
    SELECT abc_class, COUNT(*) AS n_customers,
           CAST(SUM(s_dec) AS DOUBLE) AS class_spend
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
    tags=("analytics", "pareto", "abc", "prefix-sum"),
)
def orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC customer classification: rank customers by total spend,
    take the running share of revenue, and class A = the head covering 50%
    of spend, B = to 80%, C = the tail — the inventory/CRM segmentation
    built on a cumulative distribution.

    The cumulative sum uses the DISTRIBUTED two-pass prefix sum
    (operators/prefix.py partitioned_prefix_sum: range repartition →
    per-partition running sums → broadcast prefix offsets), NOT a global
    single-partition window — the oracle's ``SUM() OVER (ORDER BY)`` is
    the semantic spec, not the plan. This only matches the oracle because
    everything stays DECIMAL through the prefix sum (exact, associative ⇒
    independent of where the range partitioner places its sample-based
    boundaries); the 0.5/0.8 cuts then compare identical doubles cast
    from identical exact decimals. Equality with the one-pass window and
    invariance to input partitioning are asserted in
    tests/test_prefix.py."""
    from distributed_graph_database_system_spark.operators.prefix import (
        partitioned_prefix_sum,
    )
    from distributed_graph_database_system_spark.queries.helpers import dec

    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).alias("s_dec")
    )
    cum = partitioned_prefix_sum(
        spend, [F.col("s_dec").desc(), F.col("o_custkey")], "s_dec"
    )
    total = spend.agg(F.sum("s_dec").alias("total"))
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    classed = cum.crossJoin(F.broadcast(total)).select(
        F.when(share <= 0.5, "A")
        .when(share <= 0.8, "B")
        .otherwise("C")
        .alias("abc_class"),
        "s_dec",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("s_dec").cast("double").alias("class_spend"),
        )
        .orderBy("abc_class")
    )


# --- RFM segmentation -------------------------------------------------------


@query(
    "events_rfm_segments",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(ts) AS last_ts,
             COUNT(*) AS freq,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM events GROUP BY user_id
    ),
    scored AS (
      SELECT user_id,
             NTILE(4) OVER (ORDER BY last_ts DESC, user_id) AS r,
             NTILE(4) OVER (ORDER BY freq DESC, user_id) AS f,
             NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m
      FROM per_user
    )
    SELECT r || '-' || f || '-' || m AS segment,
           COUNT(*) AS n_users
    FROM scored GROUP BY segment
    HAVING COUNT(*) >= 3
    ORDER BY n_users DESC, segment
    """,
    tags=("analytics", "rfm", "segmentation", "fixture-only"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIXTURE-ONLY (registry tag ``fixture-only``): RFM (recency /
    frequency / monetary) user segmentation via three GLOBAL ntile
    windows over the per-user aggregate — ntile is ordinal (equal-size
    buckets) and inherently needs a global sort, so this formulation is
    a single-partition window over all users and must NOT run at data-
    sized cardinality. The production formulation is
    ``events_rfm_segments_scalable`` (exact quantile cut tables from
    operators/quantile.py, broadcast comparison — no global window);
    this twin exists as the oracle-exact ordinal-ntile contrast and for
    fixture-scale parity.

    ntile assignment is ordinal, so every window ORDER BY carries the
    unique user_id tie-break (the same discipline as
    window_distribution_funcs) — quartile membership is then identical
    across engines regardless of partitioning. Monetary uses the exact
    decimal sum."""
    from distributed_graph_database_system_spark.queries.helpers import dsum

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("freq"),
        dsum("value").alias("monetary"),
    )
    scored = per_user.select(
        "user_id",
        F.ntile(4).over(W.orderBy(F.desc("last_ts"), "user_id")).alias("r"),
        F.ntile(4).over(W.orderBy(F.desc("freq"), "user_id")).alias("f"),
        F.ntile(4).over(W.orderBy(F.desc("monetary"), "user_id")).alias("m"),
    )
    return (
        scored.select(
            F.concat_ws("-", "r", "f", "m").alias("segment")
        )
        .groupBy("segment")
        .agg(F.count("*").alias("n_users"))
        .where(F.col("n_users") >= 3)
        .orderBy(F.desc("n_users"), "segment")
    )


@query(
    "events_rfm_segments_scalable",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(epoch_us(MAX(ts)) AS DOUBLE) AS rec,
             CAST(COUNT(*) AS DOUBLE) AS freq,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM events GROUP BY user_id
    ),
    cuts AS (
      SELECT quantile_cont(rec, [0.25, 0.5, 0.75]) AS rc,
             quantile_cont(freq, [0.25, 0.5, 0.75]) AS fc,
             quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mc
      FROM per_user
    ),
    scored AS (
      SELECT 1 + CAST(rec > rc[1] AS INT) + CAST(rec > rc[2] AS INT)
               + CAST(rec > rc[3] AS INT) AS r,
             1 + CAST(freq > fc[1] AS INT) + CAST(freq > fc[2] AS INT)
               + CAST(freq > fc[3] AS INT) AS f,
             1 + CAST(monetary > mc[1] AS INT) + CAST(monetary > mc[2] AS INT)
               + CAST(monetary > mc[3] AS INT) AS m
      FROM per_user, cuts
    )
    SELECT r || '-' || f || '-' || m AS segment,
           COUNT(*) AS n_users
    FROM scored GROUP BY segment
    HAVING COUNT(*) >= 3
    ORDER BY n_users DESC, segment
    """,
    tags=("analytics", "rfm", "segmentation", "scalable"),
)
def events_rfm_segments_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cluster-scale RFM twin of events_rfm_segments: VALUE-quartile
    scoring against exact quartile cut tables instead of three global
    ntile windows. Semantics differ deliberately — ntile is ordinal
    (equal-size buckets, ties split across buckets by the tie-break
    column), which inherently requires a global sort; value quartiles
    (score = 1 + #cuts strictly below the value, 4 = best) depend only on
    the three cut points, so the scoring pass is an embarrassingly
    parallel comparison against broadcast literals. The cuts come from
    group_quantiles_exact (operators/quantile.py) — exact order
    statistics with bounded per-task state — so this is scalable AND
    deterministic, and the DuckDB oracle reproduces it with quantile_cont
    cuts. Recency is exact epoch microseconds (double-exact: 2026-era
    values ≈ 1.8e15 µs < 2^53); cut comparisons are cross-engine-safe
    because non-integral-position cuts interpolate at frac ≥ 0.25 between
    distinct order statistics (both engines' expressions are exact there
    for integer-valued dims) and integral positions return the lower
    statistic verbatim in both engines."""
    from distributed_graph_database_system_spark.operators.quantile import (
        group_quantiles_exact,
    )
    from distributed_graph_database_system_spark.queries.helpers import dsum

    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.unix_micros(F.max("ts")).cast("double").alias("rec"),
        F.count("*").cast("double").alias("freq"),
        dsum("value").alias("monetary"),
    )
    per_user = per_user.localCheckpoint()  # reused by 3 cut passes + scoring

    def cuts3(col: str) -> list[float]:
        row = group_quantiles_exact(
            per_user.withColumn("_g", F.lit(1)), col, [0.25, 0.5, 0.75], ["_g"]
        ).first()
        return [row["q_0_25"], row["q_0_5"], row["q_0_75"]]

    def score(col: str, cuts: list[float]) -> Column:
        s = F.lit(1)
        for c in cuts:
            s = s + (F.col(col) > F.lit(c)).cast("int")
        return s

    scored = per_user.select(
        score("rec", cuts3("rec")).alias("r"),
        score("freq", cuts3("freq")).alias("f"),
        score("monetary", cuts3("monetary")).alias("m"),
    )
    return (
        scored.select(F.concat_ws("-", "r", "f", "m").alias("segment"))
        .groupBy("segment")
        .agg(F.count("*").alias("n_users"))
        .where(F.col("n_users") >= 3)
        .orderBy(F.desc("n_users"), "segment")
    )


# --- Join-strategy hints ----------------------------------------------------


@query(
    "join_hash_hinted",
    oracle="""
    SELECT l.l_returnflag, COUNT(*) AS n,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
    tags=("join", "hints", "shuffle-hash"),
)
def join_hash_hinted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join under an explicit SHUFFLE_HASH hint — the join-
    strategy control surface. When both sides are too big to broadcast,
    Spark defaults to sort-merge; hashing the (smaller) build side skips
    BOTH sort passes — the right call when the build side fits an
    executor's memory per partition but not the broadcast threshold.
    Semantics are identical to the unhinted join (the oracle is plain
    SQL); tests/test_plans.py asserts the plan actually honors the hint
    (ShuffledHashJoin, no SortMergeJoin)."""
    from distributed_graph_database_system_spark.queries.helpers import dsum

    li = load_table(spark, sf_dir, "lineitem")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .hint("shuffle_hash")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            dsum("l_extendedprice").alias("total_price"),
        )
        .orderBy("l_returnflag")
    )


# --- Interval overlap join --------------------------------------------------


@query(
    "join_interval_overlap",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id,
             ts
      FROM gaps
    ), sessions AS (
      SELECT user_id, session_id,
             min(ts) AS s_start, max(ts) AS s_end
      FROM sess GROUP BY user_id, session_id
    ), incidents AS (
      SELECT event_id,
             ts - INTERVAL 30 MINUTE AS i_start,
             ts + INTERVAL 30 MINUTE AS i_end
      FROM events WHERE event_type = 'error' AND event_id % 50 = 0
    )
    SELECT i.event_id,
           COUNT(*) AS n_sessions,
           COUNT(DISTINCT s.user_id) AS n_users
    FROM incidents i JOIN sessions s
      ON s.s_start <= i.i_end AND i.i_start <= s.s_end
    GROUP BY i.event_id ORDER BY i.event_id
    """,
    tags=("join", "interval", "overlap"),
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL OVERLAP join: user sessions (gap-sessionized) × incident
    windows (±30 min around sampled error events) — which sessions were
    exposed to which incident. The oracle is the naive inequality join
    (correct, quadratic); the Spark plan is the scalable GRID-BUCKET
    shape: each interval explodes to the hour buckets it touches, the
    join is an EQUI join on the hour, duplicate (incident, session) hits
    from multi-hour spans are dedup'd, and the true overlap predicate is
    re-checked as a residual — same discipline as join_range_bucketed,
    extended to interval×interval. Shuffle volume is O(rows × avg hours
    per interval), never |sessions| × |incidents|."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    flagged = e.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    sessions = (
        flagged.withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    incidents = e.where(
        (F.col("event_type") == "error") & (F.col("event_id") % 50 == 0)
    ).select(
        "event_id",
        (F.col("ts") - F.expr("INTERVAL 30 MINUTE")).alias("i_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("i_end"),
    )

    def hourly(df, start, end):
        return df.withColumn(
            "_h",
            F.explode(
                F.sequence(
                    F.date_trunc("hour", F.col(start)),
                    F.date_trunc("hour", F.col(end)),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ),
        )

    cand = (
        hourly(sessions, "s_start", "s_end")
        .join(hourly(incidents, "i_start", "i_end"), "_h")
        .drop("_h")
        .distinct()  # a pair may meet in several shared hour buckets
        .where(
            (F.col("s_start") <= F.col("i_end"))
            & (F.col("i_start") <= F.col("s_end"))
        )
    )
    return (
        cand.groupBy("event_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .orderBy("event_id")
    )


# --- Embedding statistics: covariance + standardization ----------------------


@query(
    "embed_covariance",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM embeddings
    ),
    d4 AS (SELECT * FROM q WHERE dim <= 4),
    n AS (SELECT COUNT(DISTINCT vec_id) AS n FROM d4),
    sums AS (SELECT dim, SUM(q) AS s FROM d4 GROUP BY dim),
    prods AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j, SUM(a.q * b.q) AS spq
      FROM d4 a JOIN d4 b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      GROUP BY a.dim, b.dim
    )
    SELECT CAST(p.dim_i AS INT) AS dim_i, CAST(p.dim_j AS INT) AS dim_j,
           ROUND((CAST(p.spq AS DOUBLE)
                  - CAST(si.s AS DOUBLE) * CAST(sj.s AS DOUBLE) / n.n)
                 / (n.n - 1) / 1000000000000, 8) AS cov
    FROM prods p JOIN sums si ON p.dim_i = si.dim
                 JOIN sums sj ON p.dim_j = sj.dim
                 CROSS JOIN n
    ORDER BY dim_i, dim_j
    """,
    tags=("llm", "embedding", "covariance"),
)
def embed_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance matrix of the first 4 embedding dimensions (upper
    triangle, long form) — the statistic behind whitening, PCA, and
    drift monitors. Components quantize to integer micro-units before any
    aggregation (the embed_centroids discipline), so Σq, Σq·q are exact
    int64 sums and the covariance is one identical double expression per
    engine — float summation order cannot flip a bit. The pair products
    come from a vec_id self-join of the exploded (vec, dim≤4) slice:
    reducer state is one (Σqq) per dim pair — at 768 dims that's 295k
    accumulators, still trivially partial-aggregable; the d² pair blowup
    is per-VECTOR rows, not per-corpus shuffle width."""
    e = load_table(spark, sf_dir, "embeddings")
    d4 = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("v").cast("double") * 1_000_000)
            .cast("bigint")
            .alias("q"),
        )
        .where(F.col("dim") <= 4)
    )
    n = d4.agg(F.count_distinct("vec_id").alias("n"))
    sums = d4.groupBy("dim").agg(F.sum("q").alias("s"))
    a, b = d4.alias("a"), d4.alias("b")
    prods = (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.dim") <= F.col("b.dim")),
        )
        .groupBy(
            F.col("a.dim").alias("dim_i"), F.col("b.dim").alias("dim_j")
        )
        .agg(F.sum(F.col("a.q") * F.col("b.q")).alias("spq"))
    )
    si = sums.select(F.col("dim").alias("dim_i"), F.col("s").alias("s_i"))
    sj = sums.select(F.col("dim").alias("dim_j"), F.col("s").alias("s_j"))
    return (
        prods.join(F.broadcast(si), "dim_i")
        .join(F.broadcast(sj), "dim_j")
        .crossJoin(F.broadcast(n))
        .select(
            F.col("dim_i").cast("int").alias("dim_i"),
            F.col("dim_j").cast("int").alias("dim_j"),
            F.round(
                (
                    F.col("spq").cast("double")
                    - F.col("s_i").cast("double")
                    * F.col("s_j").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1)
                / F.lit(1_000_000_000_000),
                8,
            ).alias("cov"),
        )
        .orderBy("dim_i", "dim_j")
    )


@query(
    "embed_standardize",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
      FROM embeddings
    ),
    d2 AS (SELECT * FROM q WHERE dim <= 2),
    stats AS (
      SELECT dim, COUNT(*) AS n, SUM(q) AS s, SUM(q * q) AS sq
      FROM d2 GROUP BY dim
    )
    SELECT d2.vec_id, CAST(d2.dim AS INT) AS dim,
           ROUND((d2.q - CAST(stats.s AS DOUBLE) / stats.n)
                 / sqrt((stats.sq - CAST(stats.s AS DOUBLE) * stats.s / stats.n)
                        / (stats.n - 1)), 6) AS z
    FROM d2 JOIN stats ON d2.dim = stats.dim
    WHERE d2.vec_id < 20
    ORDER BY d2.vec_id, dim
    """,
    tags=("llm", "embedding", "standardize"),
)
def embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-standardization of embedding components (dims 1-2,
    first 20 vectors shown) — the whitening front-end of most embedding
    pipelines. Mean and sample variance come from exact integer sums of
    micro-unit quantized components; the per-value z is one identical
    double expression both sides, rounded to 6dp. The stats dim is
    |dims| rows, broadcast back onto the exploded stream — the same
    broadcast-stats shape as outlier_zscore_events."""
    e = load_table(spark, sf_dir, "embeddings")
    d2 = (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("dim"),
            F.floor(F.col("v").cast("double") * 1_000_000)
            .cast("bigint")
            .alias("q"),
        )
        .where(F.col("dim") <= 2)
    )
    stats = d2.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s"),
        F.sum(F.col("q") * F.col("q")).alias("sq"),
    )
    return (
        d2.join(F.broadcast(stats), "dim")
        .where(F.col("vec_id") < 20)
        .select(
            "vec_id",
            F.col("dim").cast("int").alias("dim"),
            F.round(
                (F.col("q") - F.col("s").cast("double") / F.col("n"))
                / F.sqrt(
                    (
                        F.col("sq")
                        - F.col("s").cast("double") * F.col("s") / F.col("n")
                    )
                    / (F.col("n") - 1)
                ),
                6,
            ).alias("z"),
        )
        .orderBy("vec_id", "dim")
    )


# --- Robust (MAD) outlier detection -----------------------------------------


@query(
    "events_mad_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT * FROM (
      SELECT d.event_id, d.event_type,
             ROUND(0.6745 * (d.value - d.med) / m.mad, 4) AS robust_z
      FROM dev d JOIN mad m ON d.event_type = m.event_type
    ) ORDER BY abs(robust_z) DESC, event_id LIMIT 10
    """,
    tags=("dq", "outlier", "mad"),
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen via median absolute deviation: the 10 most
    extreme events by 0.6745·(v − median)/MAD within their event_type —
    unlike the z-score screen (outlier_zscore_events), the estimator
    itself is immune to the outliers it hunts (50% breakdown point vs 0%
    for mean/σ). Two exact-median passes (both engines interpolate
    even-count medians identically — proven cross-engine by agg_median)
    with the per-type medians broadcast back; the robust z is one
    identical double expression, ordered by its ROUNDED magnitude on
    both sides (the outlier_zscore_events ordering discipline). Both
    medians route through group_quantiles_exact (bit-identical to
    Spark's percentile()/median() by test, per-task state bounded by
    the PARTITION size) — the builtin median aggregate buffers each
    whole event_type group in one aggregation state, and events-per-type
    grows with SF (the r13 percentile-cliff class, caught by the r14
    registry-wide guard test)."""
    from distributed_graph_database_system_spark.operators.quantile import (
        _qcolname,
        group_quantiles_exact,
    )

    e = load_table(spark, sf_dir, "events")
    med = group_quantiles_exact(
        e.select("event_type", "value"), "value", [0.5], ["event_type"]
    ).withColumnRenamed(_qcolname(0.5), "med")
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = group_quantiles_exact(
        dev.select("event_type", "adev"), "adev", [0.5], ["event_type"]
    ).withColumnRenamed(_qcolname(0.5), "mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .select(
            "event_id",
            "event_type",
            F.round(
                0.6745 * (F.col("value") - F.col("med")) / F.col("mad"), 4
            ).alias("robust_z"),
        )
        .orderBy(F.abs(F.col("robust_z")).desc(), "event_id")
        .limit(10)
    )


# --- Spark 4 Python DataSource: reference graph format ----------------------


@query(
    "source_refgraph_roundtrip",
    oracle="""
    SELECT CAST(i + 1 AS BIGINT) AS src, CAST(j + 1 AS BIGINT) AS dst
    FROM (SELECT unnest(range(0, 25)) AS i)
    CROSS JOIN (SELECT unnest(range(0, 25)) AS j)
    WHERE (i * 31 + j) % 7 = 0 AND i <> j
    ORDER BY src, dst
    """,
    tags=("sources", "datasource-api", "reference-format"),
)
def source_refgraph_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own graph file format read through a Spark 4 PYTHON
    DataSource (sources/refgraph.py): a deterministic 25-vertex adjacency
    matrix (edge i+1→j+1 iff (31i+j) mod 7 = 0, i≠j) is written in the
    reference text format, then loaded with
    spark.read.format('reference_graph') — planning reads only the header;
    matrix rows are split into real input partitions, so the format rides
    Spark's source machinery instead of a driver-side parse. The oracle
    regenerates the same edge set arithmetically."""
    import os

    from distributed_graph_database_system_spark.queries.helpers import (
        scratch_dir,
    )
    from distributed_graph_database_system_spark.sources.refgraph import (
        ensure_registered,
        write_reference_file,
    )

    n = 25
    edges = [
        (i + 1, j + 1)
        for i in range(n)
        for j in range(n)
        if (i * 31 + j) % 7 == 0 and i != j
    ]
    path = scratch_dir("refgraph", sf_dir, "graph.txt")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    write_reference_file(path, n, edges)
    ensure_registered(spark)
    return (
        spark.read.format("reference_graph")
        .option("numPartitions", "4")
        .load(path)
        .orderBy("src", "dst")
    )


# --- Join cardinality estimation (sketch-based planning) ---------------------


@query(
    "join_cardinality_estimate",
    oracle=(
        "SELECT CAST(1492 AS BIGINT) AS est_a, CAST(1494 AS BIGINT) AS est_b, "
        "CAST(1488 AS BIGINT) AS est_union, "
        "CAST(1498 AS BIGINT) AS est_intersection, "
        "CAST(1500 AS BIGINT) AS exact_intersection"
    ),
    oracle_sf="0.01",
    tags=("sketch", "hll", "cardinality", "planning"),
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based distinct-key JOIN CARDINALITY estimation — the planning
    question every 100 TB join asks before running: how many keys do the
    two sides share? Build one HLL sketch per side (one pass each, 2.5 KB
    state), union-merge them, and apply inclusion–exclusion:
    |A∩B| ≈ |A| + |B| − |A∪B|. Here: distinct ordering customers vs the
    customer dimension — estimate 1498 vs exact 1500 (the exact value is
    computed alongside via a real distinct join, so the driver hash pins
    both the estimator and its ground truth). HLL register-max is order-
    and partitioning-invariant, so the estimates pin as sf0.01 goldens
    exactly like agg_approx_distinct. At scale the sketches come from
    table-maintenance jobs (the agg_hll_rollup ledger pattern) — the
    estimate then costs two sketch reads, zero scans."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    a = o.agg(F.hll_sketch_agg("o_custkey", 12).alias("sk"))
    b = c.agg(
        F.hll_sketch_agg(F.col("c_custkey").cast("long"), 12).alias("sk")
    )
    union_est = (
        a.unionByName(b)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_union"))
    )
    exact = (
        o.select(F.col("o_custkey").alias("k"))
        .distinct()
        .join(
            c.select(F.col("c_custkey").cast("long").alias("k")).distinct(),
            "k",
        )
        .agg(F.count("*").alias("exact_intersection"))
    )
    return (
        a.select(F.hll_sketch_estimate("sk").alias("est_a"))
        .crossJoin(b.select(F.hll_sketch_estimate("sk").alias("est_b")))
        .crossJoin(F.broadcast(union_est))
        .crossJoin(F.broadcast(exact))
        .select(
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
                "est_intersection"
            ),
            "exact_intersection",
        )
    )


# --- Exact percentile bands ---------------------------------------------------


@query(
    "agg_percentile_bands",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 4) AS p25,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.75), 4) AS p75,
           ROUND(quantile_cont(value, 0.90), 4) AS p90
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("aggregation", "percentile", "exact"),
)
def agg_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentile bands (p25/p50/p75/p90) per event type —
    the latency/metric-SLO summary shape. Spark's EXACT percentile (sort
    + linear interpolation between the two straddling order statistics)
    computes the same value as DuckDB's quantile_cont: both interpolate
    lo + frac·(hi − lo) over identical 2-decimal inputs, one IEEE
    expression (the 0.5 case is the proven agg_median). Exact percentile
    sorts within each group, which is fine at |event_type| groups; the
    one-pass sketch alternative at unbounded group counts is
    percentile_approx (agg_median_approx) or the cut-table path in
    operators/quantile.py."""
    e = load_table(spark, sf_dir, "events")
    pcts = F.percentile("value", F.array(*[F.lit(q) for q in (0.25, 0.5, 0.75, 0.9)]))
    return (
        e.groupBy("event_type")
        .agg(pcts.alias("p"))
        .select(
            "event_type",
            F.round(F.col("p")[0], 4).alias("p25"),
            F.round(F.col("p")[1], 4).alias("p50"),
            F.round(F.col("p")[2], 4).alias("p75"),
            F.round(F.col("p")[3], 4).alias("p90"),
        )
        .orderBy("event_type")
    )


@query(
    "agg_group_quantiles_scalable",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.25), 4) AS p25,
           ROUND(quantile_cont(value, 0.50), 4) AS p50,
           ROUND(quantile_cont(value, 0.75), 4) AS p75,
           ROUND(quantile_cont(value, 0.90), 4) AS p90
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("aggregation", "percentile", "exact", "scalable"),
)
def agg_group_quantiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME percentile bands as agg_percentile_bands, computed through
    the bounded-state order-statistic path (operators/quantile.py
    group_quantiles_exact) instead of percentile()'s per-group in-buffer
    sort: range-repartition on (group, value), local ranks + span offsets
    → global ranks, broadcast-join the two bracketing order statistics per
    quantile, interpolate with the identical IEEE expression. The shared
    quantile_cont oracle is the point — a hash match here proves the
    distributed two-pass ranking is value-identical to the sort-based
    engines, on top of the fixture/giant-group/edge-case equivalence in
    tests/test_quantile.py. This is the formulation that survives a group
    too large for any single task's sort buffer."""
    from distributed_graph_database_system_spark.operators.quantile import (
        group_quantiles_exact,
    )

    e = load_table(spark, sf_dir, "events")
    qs = group_quantiles_exact(
        e, "value", [0.25, 0.5, 0.75, 0.9], ["event_type"]
    )
    return qs.select(
        "event_type",
        F.round("q_0_25", 4).alias("p25"),
        F.round("q_0_5", 4).alias("p50"),
        F.round("q_0_75", 4).alias("p75"),
        F.round("q_0_9", 4).alias("p90"),
    ).orderBy("event_type")


@query(
    "intervals_merge",
    oracle="""
    WITH iv AS (
      SELECT l_partkey AS partkey,
             CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE) + to_days(CAST(l_quantity AS INTEGER)) AS e
      FROM lineitem
    ), m AS (
      SELECT partkey, s, e,
             MAX(e) OVER (PARTITION BY partkey ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM iv
    ), f AS (
      SELECT partkey, s, e,
             CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END AS ni
      FROM m
    ), g AS (
      SELECT partkey, s, e,
             SUM(ni) OVER (PARTITION BY partkey ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS island
      FROM f
    ), isl AS (
      SELECT partkey, island, MIN(s) AS i_start, MAX(e) AS i_end
      FROM g GROUP BY partkey, island
    )
    SELECT partkey,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(date_diff('day', i_start, i_end) + 1) AS BIGINT) AS covered_days,
           CAST(MAX(date_diff('day', i_start, i_end) + 1) AS BIGINT) AS widest_days
    FROM isl GROUP BY partkey
    ORDER BY n_islands DESC, partkey LIMIT 100
    """,
    tags=("window", "gaps-and-islands", "intervals"),
)
def intervals_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval consolidation: merge each part's
    overlapping availability intervals [shipdate, shipdate + quantity
    days] into maximal covered islands, then report island count and
    coverage per part.

    The classic distributed formulation (no self-join, no explode-per-day):
    a running MAX(end) window over intervals sorted by start detects island
    boundaries (start > max end so far = new island), a running SUM of the
    boundary flags numbers the islands, and a plain groupBy collapses each
    island to its [min start, max end].

    Scale: both windows PARTITION BY partkey — every part's intervals sort
    locally within its hash partition (parallel across ~200M parts at SF100k,
    bounded per-group state), never a global sort. The alternative
    explode-one-row-per-covered-day plan would be ~25x the rows; this stays
    at one row per interval. Skewed parts (one part = many intervals) remain
    a single-task sort — the AQE skew handling or a two-level merge (chunk
    islands, re-merge) is the 100 TB escape hatch; per-part interval counts
    here are bounded by order volume per part."""
    li = load_table(spark, sf_dir, "lineitem")
    iv = li.select(
        F.col("l_partkey").alias("partkey"),
        F.to_date("l_shipdate").alias("s"),
        F.date_add(F.to_date("l_shipdate"), F.col("l_quantity").cast("int")).alias("e"),
    )
    w_order = W.partitionBy("partkey").orderBy("s", "e")
    prev_max = F.max("e").over(
        w_order.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.withColumn(
        "ni",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    )
    islanded = flagged.withColumn(
        "island",
        F.sum("ni").over(w_order.rowsBetween(W.unboundedPreceding, 0)),
    )
    isl = islanded.groupBy("partkey", "island").agg(
        F.min("s").alias("i_start"), F.max("e").alias("i_end")
    )
    days = F.datediff("i_end", "i_start") + F.lit(1)
    return (
        isl.groupBy("partkey")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(days).cast("bigint").alias("covered_days"),
            F.max(days).cast("bigint").alias("widest_days"),
        )
        .orderBy(F.desc("n_islands"), "partkey")
        .limit(100)
    )


@query(
    "skyline_by_brand",
    oracle="""
    WITH r AS (
      SELECT p_brand, p_partkey, p_retailprice, p_size,
             MAX(p_size) OVER (PARTITION BY p_brand
                               ORDER BY p_retailprice ASC, p_size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_size_before
      FROM part
    )
    SELECT p_brand, p_partkey, p_retailprice, p_size
    FROM r WHERE best_size_before IS NULL OR p_size > best_size_before
    ORDER BY p_brand, p_retailprice, p_size DESC, p_partkey
    """,
    tags=("window", "skyline", "pareto-frontier"),
)
def skyline_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand 2-D skyline (Pareto frontier): parts not dominated by any
    same-brand part that is both cheaper-or-equal and larger (strictly
    better on at least one axis — value-duplicate points resolve to the
    first in sweep order, i.e. the distinct-value skyline).

    The O(n log n) sweep formulation, not the O(n²) dominance self-join:
    sort each brand by (price asc, size desc) and keep a row iff its size
    beats the running MAX(size) over all earlier (cheaper) rows — one
    window per brand partition, no join at all. Scale: brand partitions
    sweep in parallel; a GLOBAL skyline at 100 TB composes this with a
    grid-prune pass (partition by price band, local sweep, then sweep the
    per-band frontiers — frontier sizes are tiny, so the reduce fits one
    task). No arithmetic touches the price doubles (compare/order only),
    so cross-engine values are bit-identical."""
    p = load_table(spark, sf_dir, "part")
    w = (
        W.partitionBy("p_brand")
        .orderBy(F.asc("p_retailprice"), F.desc("p_size"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    r = p.select(
        "p_brand", "p_partkey", "p_retailprice", "p_size",
        F.max("p_size").over(w).alias("best_size_before"),
    )
    return (
        r.where(
            F.col("best_size_before").isNull()
            | (F.col("p_size") > F.col("best_size_before"))
        )
        .select("p_brand", "p_partkey", "p_retailprice", "p_size")
        .orderBy("p_brand", "p_retailprice", F.desc("p_size"), "p_partkey")
    )


@query(
    "orders_seasonality_index",
    oracle="""
    WITH m AS (
      SELECT CAST(EXTRACT(month FROM o_orderdate) AS INT) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS trev,
             COUNT(*) AS tn
      FROM orders
    )
    SELECT m.month, m.n_orders, ROUND(m.rev, 2) AS revenue,
           ROUND(m.rev / tot.trev * 12, 4) AS seasonality_index
    FROM m CROSS JOIN tot ORDER BY m.month
    """,
    tags=("analytics", "seasonality", "time-series"),
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonality index: each calendar month's revenue share
    against the uniform 1/12 baseline (index > 1 = high season). Exact
    decimal sums per month and for the total, one final double division —
    the decomposition a demand-forecast pipeline starts from. Two tiny
    aggregates; the total rides in as a broadcast scalar."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        F.month("o_orderdate").cast("int").alias("month")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    tot = o.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("trev")
    )
    return (
        m.crossJoin(F.broadcast(tot))
        .select(
            "month",
            "n_orders",
            F.round("rev", 2).alias("revenue"),
            F.round(F.col("rev") / F.col("trev") * 12, 4).alias(
                "seasonality_index"
            ),
        )
        .orderBy("month")
    )


@query(
    "events_anomaly_ewma",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), t AS (
      SELECT event_type, day, x,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS INT) AS i
      FROM d
    ), terms AS (
      SELECT a.event_type, a.day, a.i, a.x,
             CAST(ROUND(b.x * 0.2 * POW(0.8, a.i - b.i), 8) AS DECIMAL(28,8)) AS term
      FROM t a JOIN t b ON a.event_type = b.event_type AND b.i <= a.i
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           ROUND(MAX(x), 4) AS daily_total,
           ROUND(CAST(SUM(term) AS DOUBLE), 4) AS ewma
    FROM terms GROUP BY event_type, day
    ORDER BY event_type, day
    """,
    tags=("analytics", "time-series", "ewma", "anomaly"),
)
def events_anomaly_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of the daily value series per
    event type (alpha = 0.2) — the smoothed baseline an anomaly monitor
    compares each day against. EWMA is inherently sequential; the shared
    closed-form helper (operators/ewma.py ewma_closed_form) expands it so
    each prior day contributes x_j · α·(1−α)^{i−j} as one 8dp-rounded
    decimal term WITHIN the event-type partition — order-free sums, no
    engine float-ordering sensitivity. Day count per type bounds the
    expansion (|days|² per type, trivial for aggregate series); at
    unbounded history pass lag_cap (see events_brown_double_smoothing) or
    use the streaming form (run_incremental_daily_rollup's ledger
    carrying the running EWMA state)."""
    from distributed_graph_database_system_spark.operators.ewma import (
        ewma_closed_form,
    )

    e = load_table(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("x")
    )
    sm = ewma_closed_form(
        d, partition_cols=["event_type"], alpha=0.2
    )
    return sm.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.round("x", 4).alias("daily_total"),
        F.round("s1", 4).alias("ewma"),
    ).orderBy("event_type", "day")


@query(
    "lineitem_active_shipments_daily",
    oracle="""
    WITH iv AS (
      SELECT CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE) + to_days(CAST(l_quantity AS INTEGER)) AS e
      FROM lineitem
    ), bounds AS (
      SELECT CAST(s AS DATE) AS day, 1 AS delta FROM iv
      UNION ALL
      SELECT CAST(e + to_days(1) AS DATE) AS day, -1 AS delta FROM iv
    ), daily AS (
      SELECT day, SUM(delta) AS net FROM bounds GROUP BY day
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(SUM(net) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS active_shipments
    FROM daily
    ORDER BY day LIMIT 200
    """,
    tags=("analytics", "intervals", "sweep", "prefix-sum"),
)
def lineitem_active_shipments_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting by boundary sweep: every shipment
    interval [shipdate, shipdate + quantity days] contributes +1 at its
    start and −1 the day after its end; the running sum of per-day net
    deltas IS the number of simultaneously active shipments — the
    classic O(n) sweep that replaces the explode-a-row-per-covered-day
    plan (~25x the rows) or a per-day interval-containment join (O(days ×
    intervals)). The only window runs over the per-day aggregate (|days|
    rows); at unbounded day counts the two-pass distributed prefix sum
    (operators/prefix.py) replaces it — same decomposition as
    orders_abc_pareto."""
    li = load_table(spark, sf_dir, "lineitem")
    iv = li.select(
        F.to_date("l_shipdate").alias("s"),
        F.date_add(F.to_date("l_shipdate"), F.col("l_quantity").cast("int")).alias(
            "e"
        ),
    )
    bounds = iv.select(F.col("s").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.date_add("e", 1).alias("day"), F.lit(-1).alias("delta"))
    )
    daily = bounds.groupBy("day").agg(F.sum("delta").alias("net"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, 0)
    return (
        daily.select(
            F.col("day").cast("string").alias("day"),
            F.sum("net").over(w).cast("bigint").alias("active_shipments"),
        )
        .orderBy("day")
        .limit(200)
    )


@query(
    "supplier_return_rate_wilson",
    oracle="""
    WITH r AS (
      SELECT l_suppkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (l_returnflag = 'R') AS BIGINT) AS k
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, n, k,
           ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / n * (1 - CAST(k AS DOUBLE) / n)
                                 + 0.9604 / n) / n))
                 / (1 + 3.8416 / n), 4) AS wilson_lower
    FROM r WHERE n >= 20
    ORDER BY wilson_lower DESC, l_suppkey LIMIT 25
    """,
    tags=("analytics", "statistics", "wilson", "ranking"),
)
def supplier_return_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank suppliers by return rate using the Wilson score lower bound
    (95%) instead of the raw proportion — the small-sample-robust ranking
    that won't put a 1-for-1 supplier above a 90-for-100 one. One integer
    aggregate per supplier, then a single identical IEEE expression per
    engine (the z²-expanded Wilson form with 1.96 constants folded), so
    the only float work is deterministic per row. The shape every
    ratings/abuse/quality ranker runs at scale: groupBy + expression +
    top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    wilson = (
        p
        + 1.9208 / F.col("n")
        - 1.96
        * F.sqrt((p * (1 - p) + 0.9604 / F.col("n")) / F.col("n"))
    ) / (1 + 3.8416 / F.col("n"))
    return (
        r.where(F.col("n") >= 20)
        .select(
            "l_suppkey",
            F.col("n").cast("bigint").alias("n"),
            F.col("k").cast("bigint").alias("k"),
            F.round(wilson, 4).alias("wilson_lower"),
        )
        .orderBy(F.desc("wilson_lower"), "l_suppkey")
        .limit(25)
    )


@query(
    "events_trend_mannkendall",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    )
    SELECT a.event_type,
           CAST(COUNT(DISTINCT a.day) + 1 AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN b.x > a.x THEN 1
                         WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
           CASE WHEN SUM(CASE WHEN b.x > a.x THEN 1
                              WHEN b.x < a.x THEN -1 ELSE 0 END) > 0 THEN 'up'
                WHEN SUM(CASE WHEN b.x > a.x THEN 1
                              WHEN b.x < a.x THEN -1 ELSE 0 END) < 0 THEN 'down'
                ELSE 'flat' END AS trend
    FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day
    GROUP BY a.event_type ORDER BY a.event_type
    """,
    tags=("analytics", "time-series", "trend", "mann-kendall"),
)
def events_trend_mannkendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend statistic per event-type daily series:
    S = Σ_{i<j} sign(x_j − x_i) — the nonparametric monotone-trend test a
    metrics monitor runs without assuming normality. Daily totals are
    exact decimal sums; S is pure integer arithmetic over the day-pair
    join WITHIN each series partition (|days|² per type — trivial for
    aggregate series; the sequential-window alternative at unbounded
    history is a pair-count merge, same decomposition as the prefix
    operators). n_days counts pairs' distinct left days + 1 = series
    length."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("x")
    )
    a = d.select("event_type", F.col("day").alias("da"), F.col("x").alias("xa"))
    b = d.select(
        F.col("event_type").alias("event_type_b"),
        F.col("day").alias("db"),
        F.col("x").alias("xb"),
    )
    sign = (
        F.when(F.col("xb") > F.col("xa"), 1)
        .when(F.col("xb") < F.col("xa"), -1)
        .otherwise(0)
    )
    s = F.sum(sign)
    return (
        a.join(
            b,
            (F.col("event_type") == F.col("event_type_b"))
            & (F.col("da") < F.col("db")),
        )
        .groupBy("event_type")
        .agg(
            (F.count_distinct("da") + 1).cast("bigint").alias("n_days"),
            s.cast("bigint").alias("s_stat"),
            F.when(s > 0, "up").when(s < 0, "down").otherwise("flat").alias("trend"),
        )
        .orderBy("event_type")
    )


@query(
    "events_survival_km",
    oracle="""
    WITH life AS (
      SELECT user_id,
             date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE))) AS t,
             CASE WHEN MAX(CAST(ts AS DATE)) >= DATE '2024-01-30' THEN 0 ELSE 1 END AS observed
      FROM events GROUP BY user_id
    ), risk AS (
      SELECT t,
             CAST(SUM(observed) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS ending
      FROM life GROUP BY t
    ), ordered AS (
      SELECT t, d,
             SUM(ending) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING) AS n_at_risk
      FROM risk
    ), terms AS (
      SELECT t, d, n_at_risk,
             CAST(ROUND(ln(1.0 - CAST(d AS DOUBLE) / n_at_risk), 10)
                  AS DECIMAL(28,10)) AS lnterm
      FROM ordered WHERE d < n_at_risk
    )
    SELECT t, d, CAST(n_at_risk AS BIGINT) AS n_at_risk,
           ROUND(exp(CAST(SUM(lnterm) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                     AS DOUBLE)), 4) AS survival
    FROM terms ORDER BY t
    """,
    tags=("analytics", "survival", "kaplan-meier"),
)
def events_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of user lifespan (days between first
    and last event; users still active on the fixture's final day are
    right-censored): S(t) = Π_{t_i ≤ t} (1 − d_i / n_i). The product
    becomes exp of a running sum of per-time log terms, each rounded to
    10dp and summed as exact DECIMAL — so the cumulative product is
    order-free across engines (the float-determinism discipline applied
    to a multiplicative statistic). Risk sets come from one reversed
    cumulative sum over the per-day aggregate; the only windows run over
    |distinct lifespans| rows."""
    e = load_table(spark, sf_dir, "events")
    life = e.groupBy("user_id").agg(
        F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))).alias("t"),
        F.when(
            F.max(F.to_date("ts")) >= F.lit("2024-01-30").cast("date"), 0
        )
        .otherwise(1)
        .alias("observed"),
    )
    risk = life.groupBy("t").agg(
        F.sum("observed").alias("d"), F.count(F.lit(1)).alias("ending")
    )
    w_desc = W.orderBy(F.desc("t")).rowsBetween(W.unboundedPreceding, 0)
    ordered = risk.select(
        "t",
        "d",
        F.sum("ending").over(w_desc).alias("n_at_risk"),
    )
    terms = ordered.where(F.col("d") < F.col("n_at_risk")).select(
        "t",
        "d",
        "n_at_risk",
        F.round(F.log(1.0 - F.col("d").cast("double") / F.col("n_at_risk")), 10)
        .cast("decimal(28,10)")
        .alias("lnterm"),
    )
    w_asc = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    return terms.select(
        F.col("t").cast("bigint").alias("t"),
        F.col("d").cast("bigint").alias("d"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.round(
            F.exp(F.sum("lnterm").over(w_asc).cast("double")), 4
        ).alias("survival"),
    ).orderBy("t")


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH pairs AS (
      SELECT l_partkey AS src,
             LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey) AS dst
      FROM lineitem
    ), ed AS (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM pairs WHERE dst IS NOT NULL AND src <> dst
      GROUP BY 1, 2
    ), deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM ed UNION ALL SELECT b AS v FROM ed
      ) GROUP BY v
    ), ends AS (
      SELECT da.d AS x, db.d AS y
      FROM ed JOIN deg da ON ed.a = da.v JOIN deg db ON ed.b = db.v
      UNION ALL
      SELECT db.d AS x, da.d AS y
      FROM ed JOIN deg da ON ed.a = da.v JOIN deg db ON ed.b = db.v
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM ends
    )
    SELECT m,
           ROUND((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 4) AS assortativity
    FROM s
    """,
    tags=("graph", "assortativity", "statistics"),
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the co-purchase graph: the
    Pearson correlation of endpoint degrees over all (symmetrized) edge
    ends — positive means hubs attach to hubs, negative means hub-spoke.
    Every sum is exact integer (degrees are counts), so the coefficient is
    ONE identical IEEE expression per engine. Two edge-keyed joins to
    attach endpoint degrees + one global integer aggregate — the named
    graph-structure metric that falls out of the moment-aggregation
    discipline (agg_regression_stats) applied to the degree relation."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    nxt = F.lead("l_partkey").over(
        W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    )
    ed = (
        li.select(F.col("l_partkey").alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        ed.select(F.col("a").alias("v"))
        .unionAll(ed.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("dy"))
    joined = ed.join(da, "a").join(db, "b")
    ends = joined.select(F.col("dx").alias("x"), F.col("dy").alias("y")).unionAll(
        joined.select(F.col("dy").alias("x"), F.col("dx").alias("y"))
    )
    s = ends.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("m").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (F.col("m").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (F.col("m").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        F.col("m").cast("bigint").alias("m"),
        F.round(num / den, 4).alias("assortativity"),
    )


@query(
    "events_markov_stationary",
    oracle=EVENTS_MARKOV_STATIONARY_GOLDEN,
    oracle_sf="0.01",
    tags=("analytics", "markov", "stationary", "iterative"),
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: the
    transition counts build distributed (one window + one aggregate — the
    events_markov_transitions shape), the |states|² matrix collects to the
    driver (bounded by the state vocabulary, corpus-independent — the
    PCA/coreset split), and numpy solves πP = π, Σπ = 1. Deterministic:
    exact integer counts → one linear solve on fixed bytes; probabilities
    rounded to 4dp. The long-run mix of user behavior — what the funnel
    converges to if sessions ran forever."""
    import numpy as np
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    nxt = F.lead("event_type").over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    )
    trans = (
        e.select(F.col("event_type").alias("state"), nxt.alias("next"))
        .where(F.col("next").isNotNull())
        .groupBy("state", "next")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    states = sorted({r["state"] for r in trans} | {r["next"] for r in trans})
    idx = {s: i for i, s in enumerate(states)}
    k = len(states)
    counts = np.zeros((k, k))
    for r in trans:
        counts[idx[r["state"]], idx[r["next"]]] = r["n"]
    p = counts / counts.sum(axis=1, keepdims=True)
    # solve pi (P - I) = 0 with sum(pi) = 1: replace last column
    a = (p.T - np.eye(k))
    a[-1, :] = 1.0
    b = np.zeros(k)
    b[-1] = 1.0
    pi = np.linalg.solve(a, b)
    rows = [(s, round(float(pi[idx[s]]), 4)) for s in states]
    return spark.createDataFrame(
        rows, "event_type STRING, stationary_prob DOUBLE"
    ).orderBy("event_type")


@query(
    "supplier_revenue_gini",
    oracle="""
    WITH s AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM lineitem GROUP BY l_suppkey
    ), r AS (
      SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, l_suppkey) AS i FROM s
    ), agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(rev, 2) AS DECIMAL(18,2))) AS DOUBLE) AS tot,
             CAST(SUM(CAST(ROUND(rev, 2) AS DECIMAL(18,2)) * i) AS DOUBLE) AS wsum
      FROM r
    )
    SELECT n,
           ROUND(tot, 2) AS total_revenue,
           ROUND(2.0 * wsum / (n * tot) - (CAST(n AS DOUBLE) + 1) / n, 4) AS gini
    FROM agg
    """,
    tags=("analytics", "gini", "inequality", "prefix-sum"),
)
def supplier_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across suppliers — the
    named inequality statistic behind 'how skewed is our supplier base'
    (and, in the LLM pipeline, 'how concentrated is the corpus by
    source'). The rank-weighted closed form G = 2Σi·xᵢ/(nΣxᵢ) − (n+1)/n
    over revenues sorted ascending: per-supplier revenue is an exact
    decimal sum, the rank i is the DISTRIBUTED two-pass prefix COUNT
    (operators/prefix.py partitioned_prefix_sum over a constant 1 in the
    (rev, suppkey) total order — range repartition → per-partition
    running counts → broadcast offsets), and the weighted sum is again
    exact decimal × integer — one final expression produces the
    coefficient. No single-partition window anywhere in the plan (the
    oracle's ROW_NUMBER is the semantic spec, not the plan), the same
    rewrite orders_abc_pareto uses; integer counts are exact, so the
    rank is invariant to the range partitioner's sample-based boundary
    placement."""
    from distributed_graph_database_system_spark.operators.prefix import (
        partitioned_prefix_sum,
    )

    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    r = partitioned_prefix_sum(
        s,
        [F.col("rev"), F.col("l_suppkey")],
        F.lit(1).cast("bigint"),
        out_col="i",
    )
    agg = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round("rev", 2).cast("decimal(18,2)")).cast("double").alias("tot"),
        F.sum(F.round("rev", 2).cast("decimal(18,2)") * F.col("i"))
        .cast("double")
        .alias("wsum"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round("tot", 2).alias("total_revenue"),
        F.round(
            2.0 * F.col("wsum") / (F.col("n") * F.col("tot"))
            - (F.col("n").cast("double") + 1) / F.col("n"),
            4,
        ).alias("gini"),
    )


@query(
    "graph_rich_club",
    oracle="""
    WITH pairs AS (
      SELECT l_partkey AS src,
             LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey) AS dst
      FROM lineitem
    ), ed AS (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM pairs WHERE dst IS NOT NULL AND src <> dst
      GROUP BY 1, 2
    ), deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT a AS v FROM ed UNION ALL SELECT b AS v FROM ed
      ) GROUP BY v
    ), ks AS (SELECT UNNEST([10, 20, 30, 40]) AS k),
    club AS (
      SELECT ks.k, deg.v FROM ks JOIN deg ON deg.d > ks.k
    ), nk AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS n_k FROM club GROUP BY k
    ), ek AS (
      SELECT ca.k, CAST(COUNT(*) AS BIGINT) AS e_k
      FROM ed JOIN club ca ON ed.a = ca.v
              JOIN club cb ON ed.b = cb.v AND ca.k = cb.k
      GROUP BY ca.k
    )
    SELECT nk.k, nk.n_k, COALESCE(ek.e_k, 0) AS e_k,
           ROUND(2.0 * COALESCE(ek.e_k, 0)
                 / (CAST(nk.n_k AS DOUBLE) * (nk.n_k - 1)), 4) AS phi
    FROM nk LEFT JOIN ek ON nk.k = ek.k
    WHERE nk.n_k >= 2
    ORDER BY nk.k
    """,
    tags=("graph", "rich-club", "statistics"),
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) = 2·E_k / (N_k(N_k−1)) of the
    co-purchase graph at degree thresholds k ∈ {10, 20, 30, 40}: do the
    hubs form a denser-than-random club among themselves? Membership is a
    degree filter, E_k counts edges with BOTH endpoints in the club (two
    semi-style joins against the club set — broadcastable, it shrinks
    with k), and φ is one exact-integer expression. The normalized
    variant divides by a degree-preserving null model; the raw φ(k)
    profile here is the scalable half of that pipeline."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    nxt = F.lead("l_partkey").over(
        W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    )
    ed = (
        li.select(F.col("l_partkey").alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )
    deg = (
        ed.select(F.col("a").alias("v"))
        .unionAll(ed.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ks = spark.createDataFrame([(10,), (20,), (30,), (40,)], "k: int")
    club = ks.join(deg, deg["d"] > ks["k"]).select("k", "v")
    nk = club.groupBy("k").agg(F.count(F.lit(1)).alias("n_k"))
    ca = club.select(F.col("k"), F.col("v").alias("a"))
    cb = club.select(F.col("k").alias("k_b"), F.col("v").alias("b_club"))
    ek = (
        ed.join(ca, "a")
        .join(
            cb,
            (F.col("b") == F.col("b_club")) & (F.col("k") == F.col("k_b")),
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("e_k"))
    )
    return (
        nk.join(ek, "k", "left")
        .where(F.col("n_k") >= 2)
        .select(
            "k",
            F.col("n_k").cast("bigint").alias("n_k"),
            F.coalesce("e_k", F.lit(0)).cast("bigint").alias("e_k"),
            F.round(
                2.0
                * F.coalesce("e_k", F.lit(0))
                / (F.col("n_k").cast("double") * (F.col("n_k") - 1)),
                4,
            ).alias("phi"),
        )
        .orderBy("k")
    )


@query(
    "graph_local_clustering",
    oracle="""
    WITH pairs AS (
      SELECT l_partkey AS src,
             LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey) AS dst
      FROM lineitem
    ), ed AS (
      SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
      FROM pairs WHERE dst IS NOT NULL AND src <> dst
      GROUP BY 1, 2
    ), wedge AS (
      SELECT e1.a AS a, e1.b AS b, e2.b AS c
      FROM ed e1 JOIN ed e2 ON e1.a = e2.a AND e1.b < e2.b
    ), tri AS (
      SELECT w.a, w.b, w.c FROM wedge w
      JOIN ed ON ed.a = w.b AND ed.b = w.c
    ), tcount AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM (
        SELECT a AS v FROM tri UNION ALL
        SELECT b AS v FROM tri UNION ALL
        SELECT c AS v FROM tri
      ) GROUP BY v
    ), deg AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT a AS v FROM ed UNION ALL SELECT b AS v FROM ed
      ) GROUP BY v
    )
    SELECT deg.v AS vid, deg.d AS degree, COALESCE(tcount.t, 0) AS triangles,
           ROUND(2.0 * COALESCE(tcount.t, 0)
                 / (CAST(deg.d AS DOUBLE) * (deg.d - 1)), 4) AS clustering
    FROM deg LEFT JOIN tcount ON deg.v = tcount.v
    WHERE deg.d >= 5
    ORDER BY clustering DESC, vid LIMIT 25
    """,
    tags=("graph", "clustering-coefficient", "triangles"),
)
def graph_local_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex local clustering coefficient on the co-purchase graph:
    2·T(v)/(d(v)(d(v)−1)) — how clique-like each vertex's neighborhood is
    (the micro-scale community signal; its average is the
    Watts-Strogatz clustering statistic). Triangles enumerate once
    through operators/graph.py ``triangles`` (degree-ordered orientation,
    so hub fan-out is bounded) and credit all three corners; degrees are
    one aggregate; the coefficient is exact-integer arithmetic with one
    rounded division. Top-25 most clustered among vertices with
    degree ≥ 5."""
    from pyspark.sql import Window as W

    from distributed_graph_database_system_spark.operators.graph import (
        _degree,
        _vertex_credit,
        triangles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    nxt = F.lead("l_partkey").over(
        W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    )
    ed = (
        li.select(F.col("l_partkey").alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint()  # read by triangles and by the degree aggregate
    )
    return (
        _degree(ed)
        .join(_vertex_credit(triangles(ed)), "vid", "left")
        .where(F.col("d") >= 5)
        .select(
            "vid",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("t", F.lit(0)).cast("bigint").alias("triangles"),
            F.round(
                2.0
                * F.coalesce("t", F.lit(0))
                / (F.col("d").cast("double") * (F.col("d") - 1)),
                4,
            ).alias("clustering"),
        )
        .orderBy(F.desc("clustering"), "vid")
        .limit(25)
    )


@query(
    "events_changepoint_cusum",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), m AS (
      SELECT event_type,
             CAST(AVG(CAST(x AS DOUBLE)) AS DOUBLE) AS mu,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM d GROUP BY event_type
    ), s AS (
      SELECT d.event_type, d.day, m.n_days,
             SUM(CAST(ROUND(CAST(d.x AS DOUBLE) - m.mu, 6) AS DECIMAL(28,6)))
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS UNBOUNDED PRECEDING) AS cusum
      FROM d JOIN m ON d.event_type = m.event_type
    ), best AS (
      SELECT event_type, day, n_days, cusum,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ABS(CAST(cusum AS DOUBLE)) DESC, day)
               AS rk
      FROM s
    )
    SELECT event_type, CAST(day AS VARCHAR) AS changepoint_day, n_days,
           ROUND(CAST(cusum AS DOUBLE), 4) AS cusum_peak
    FROM best WHERE rk = 1 ORDER BY event_type
    """,
    tags=("analytics", "changepoint", "cusum", "time-series"),
)
def events_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint location per event-type daily series: the day
    where the cumulative sum of deviations from the series mean peaks in
    magnitude is the classic single-changepoint estimate (a mean shift
    bends the CUSUM into a vee whose tip marks the break). Deviations are
    rounded to 6dp and cumulated as exact DECIMAL in day order —
    partition-invariant — and the argmax uses a total (|S|, day) order.
    Windows run over the per-day aggregate only; the streaming form keeps
    one running (sum, argmax) pair per series in the rollup ledger."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("decimal(18,6)")
        .alias("x")
    )
    m = d.groupBy("event_type").agg(
        F.avg(F.col("x").cast("double")).alias("mu"),
        F.count(F.lit(1)).alias("n_days"),
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    s = d.join(m, "event_type").select(
        "event_type",
        "day",
        "n_days",
        F.sum(
            F.round(F.col("x").cast("double") - F.col("mu"), 6).cast(
                "decimal(28,6)"
            )
        )
        .over(w)
        .alias("cusum"),
    )
    rk = F.row_number().over(
        W.partitionBy("event_type").orderBy(
            F.abs(F.col("cusum").cast("double")).desc(), "day"
        )
    )
    return (
        s.withColumn("rk", rk)
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("changepoint_day"),
            F.col("n_days").cast("bigint").alias("n_days"),
            F.round(F.col("cusum").cast("double"), 4).alias("cusum_peak"),
        )
        .orderBy("event_type")
    )


@query(
    "basket_association_rules",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 200 AS item FROM lineitem
    ), nb AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_baskets FROM items
    ), single AS (
      SELECT item, CAST(COUNT(*) AS BIGINT) AS s FROM items GROUP BY item
    ), pair AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(COUNT(*) AS BIGINT) AS s_ab
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.item < b.item
      GROUP BY a.item, b.item HAVING COUNT(*) >= 20
    )
    SELECT p.item_a, p.item_b, p.s_ab,
           ROUND(CAST(p.s_ab AS DOUBLE) / sa.s, 4) AS confidence_a_to_b,
           ROUND(CAST(p.s_ab AS DOUBLE) * nb.n_baskets / (sa.s * sb.s), 4)
             AS lift
    FROM pair p JOIN single sa ON p.item_a = sa.item
                JOIN single sb ON p.item_b = sb.item
                CROSS JOIN nb
    ORDER BY lift DESC, item_a, item_b LIMIT 25
    """,
    tags=("analytics", "association-rules", "basket", "lift"),
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over market baskets: pairwise support, confidence
    P(b|a), and LIFT — support/expected-support under independence, the
    statistic that separates genuinely associated items from merely
    popular ones (confidence alone ranks popular items everywhere). Item
    space folded to 200 ids so fixture baskets overlap; the pair join is
    basket-keyed with the a<b orientation (bounded fan-out per basket, the
    basket_part_pairs discipline); singleton supports broadcast into one
    final exact-integer expression per rule."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 200).alias("item")
    ).distinct()
    nb = items.select(F.count_distinct("l_orderkey").alias("n_baskets"))
    single = items.groupBy("item").agg(F.count(F.lit(1)).alias("s"))
    a = items.select("l_orderkey", F.col("item").alias("item_a"))
    b = items.select("l_orderkey", F.col("item").alias("item_b"))
    pair = (
        a.join(b, "l_orderkey")
        .where(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("s_ab"))
        .where(F.col("s_ab") >= 20)
    )
    sa = single.select(F.col("item").alias("item_a"), F.col("s").alias("s_a"))
    sb = single.select(F.col("item").alias("item_b"), F.col("s").alias("s_b"))
    return (
        pair.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            F.col("s_ab").cast("bigint").alias("s_ab"),
            F.round(F.col("s_ab").cast("double") / F.col("s_a"), 4).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("s_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("s_a") * F.col("s_b")),
                4,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "item_a", "item_b")
        .limit(25)
    )


@query(
    "orders_price_psi_drift",
    oracle="""
    WITH banded AS (
      SELECT CASE WHEN EXTRACT(year FROM o_orderdate) <= 1995 THEN 'ref'
                  ELSE 'cur' END AS period,
             LEAST(CAST(FLOOR(o_totalprice / 50000) AS INT), 9) AS band
      FROM orders
    ), c AS (
      SELECT period, band, CAST(COUNT(*) AS BIGINT) AS n
      FROM banded GROUP BY period, band
    ), tot AS (
      SELECT period, CAST(SUM(n) AS BIGINT) AS tn FROM c GROUP BY period
    ), grid AS (
      SELECT b.band,
             COALESCE(r.n, 0) AS n_ref, COALESCE(u.n, 0) AS n_cur,
             tr.tn AS t_ref, tu.tn AS t_cur
      FROM (SELECT DISTINCT band FROM c) b
      LEFT JOIN (SELECT band, n FROM c WHERE period = 'ref') r ON b.band = r.band
      LEFT JOIN (SELECT band, n FROM c WHERE period = 'cur') u ON b.band = u.band
      CROSS JOIN (SELECT tn FROM tot WHERE period = 'ref') tr
      CROSS JOIN (SELECT tn FROM tot WHERE period = 'cur') tu
    ), terms AS (
      SELECT band, n_ref, n_cur,
             CAST(ROUND(((n_cur + 1.0) / (t_cur + 10) - (n_ref + 1.0) / (t_ref + 10))
                  * ln(((n_cur + 1.0) / (t_cur + 10))
                       / ((n_ref + 1.0) / (t_ref + 10))), 10)
                  AS DECIMAL(28,10)) AS psi_term
      FROM grid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bands,
           ROUND(CAST(SUM(psi_term) AS DOUBLE), 4) AS psi
    FROM terms
    """,
    tags=("analytics", "drift", "psi", "monitoring"),
)
def orders_price_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between early (≤1995) and late order
    price distributions: PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) over
    fixed price bands — THE model-monitoring drift score (rule of thumb:
    <0.1 stable, >0.25 investigate), here add-1-smoothed per band so
    empty bands can't produce infinities. Band counts are one integer
    aggregate per period; each band's term is rounded and decimal-summed
    (the KL-divergence discipline — PSI is a symmetrized KL variant)."""
    o = load_table(spark, sf_dir, "orders")
    banded = o.select(
        F.when(F.year("o_orderdate") <= 1995, "ref").otherwise("cur").alias(
            "period"
        ),
        # explicit FLOOR: Spark's double->int cast truncates but
        # DuckDB's ROUNDS (the dedup_containment lesson)
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(9)
        ).alias("band"),
    )
    c = banded.groupBy("period", "band").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("period").agg(F.sum("n").alias("tn"))
    bands = c.select("band").distinct()
    r = c.where(F.col("period") == "ref").select("band", F.col("n").alias("n_ref"))
    u = c.where(F.col("period") == "cur").select("band", F.col("n").alias("n_cur"))
    tr = tot.where(F.col("period") == "ref").select(F.col("tn").alias("t_ref"))
    tu = tot.where(F.col("period") == "cur").select(F.col("tn").alias("t_cur"))
    grid = (
        bands.join(r, "band", "left")
        .join(u, "band", "left")
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tu))
        .select(
            "band",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
            "t_ref",
            "t_cur",
        )
    )
    p_cur = (F.col("n_cur") + 1.0) / (F.col("t_cur") + 10)
    p_ref = (F.col("n_ref") + 1.0) / (F.col("t_ref") + 10)
    term = F.round((p_cur - p_ref) * F.log(p_cur / p_ref), 10).cast(
        "decimal(28,10)"
    )
    return grid.select(term.alias("psi_term")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bands"),
        F.round(F.sum("psi_term").cast("double"), 4).alias("psi"),
    )


@query(
    "graph_reciprocity",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_partkey AS src,
             LEAD(l_partkey) OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber, l_partkey) AS dst
      FROM lineitem
    ), ed AS (
      SELECT src, dst FROM e WHERE dst IS NOT NULL AND src <> dst
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(SUM(CASE WHEN EXISTS (
               SELECT 1 FROM ed r WHERE r.src = ed.dst AND r.dst = ed.src
             ) THEN 1 ELSE 0 END) AS BIGINT) AS n_recip
      FROM ed
    )
    SELECT n_edges, n_recip,
           ROUND(CAST(n_recip AS DOUBLE) / n_edges, 4) AS reciprocity
    FROM m
    """,
    tags=("graph", "reciprocity", "directed"),
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the DIRECTED co-purchase sequence graph: the
    fraction of edges whose reverse also exists (mutual A→B→A purchase
    ordering) — the directed-structure statistic that separates
    feed-forward pipelines (near 0) from mutual-exchange networks. The
    existence check is a self semi-join on the swapped key — one hash
    join, exact integers, one division."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    nxt = F.lead("l_partkey").over(
        W.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    )
    ed = (
        li.select(F.col("l_partkey").alias("src"), nxt.alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
        .localCheckpoint()
    )
    rev = ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = ed.join(rev, ["src", "dst"], "leftsemi")
    n_edges = ed.count()
    n_recip = recip.count()
    return spark.createDataFrame(
        [(n_edges, n_recip, round(n_recip / n_edges, 4))],
        "n_edges BIGINT, n_recip BIGINT, reciprocity DOUBLE",
    )


@query(
    "events_autocorr_lag1",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE) AS x
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), lagd AS (
      SELECT event_type, x,
             LAG(x) OVER (PARTITION BY event_type ORDER BY day) AS px
      FROM d
    ), pairs AS (
      SELECT event_type,
             CAST(ROUND(x, 6) AS DECIMAL(28,6)) AS x,
             CAST(ROUND(px, 6) AS DECIMAL(28,6)) AS y,
             CAST(ROUND(x * px, 6) AS DECIMAL(38,6)) AS xy,
             CAST(ROUND(x * x, 6) AS DECIMAL(38,6)) AS xx,
             CAST(ROUND(px * px, 6) AS DECIMAL(38,6)) AS yy
      FROM lagd WHERE px IS NOT NULL
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
                  - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                 / sqrt((COUNT(*) * CAST(SUM(xx) AS DOUBLE)
                         - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
                        * (COUNT(*) * CAST(SUM(yy) AS DOUBLE)
                           - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))),
                 4) AS autocorr_lag1
    FROM pairs GROUP BY event_type ORDER BY event_type
    """,
    tags=("analytics", "time-series", "autocorrelation"),
)
def events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event-type daily series — the
    persistence statistic (near 0 = memoryless noise, high = trending/
    momentum, negative = oscillation) that decides whether the EWMA
    baseline (events_anomaly_ewma) or a plain mean is the right monitor.
    Pearson over (x_t, x_{t−1}) pairs from one LAG window; every moment is
    rounded then decimal-summed so the correlation is one deterministic
    closing expression (the regression-stats discipline on a
    self-lagged join-free pairing)."""
    e = load_table(spark, sf_dir, "events")
    d = e.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("x")
    )
    w = W.partitionBy("event_type").orderBy("day")
    lagd = d.withColumn("px", F.lag("x").over(w)).where(F.col("px").isNotNull())
    pairs = lagd.select(
        "event_type",
        F.round("x", 6).cast("decimal(28,6)").alias("x"),
        F.round("px", 6).cast("decimal(28,6)").alias("y"),
        F.round(F.col("x") * F.col("px"), 6).cast("decimal(38,6)").alias("xy"),
        F.round(F.col("x") * F.col("x"), 6).cast("decimal(38,6)").alias("xx"),
        F.round(F.col("px") * F.col("px"), 6).cast("decimal(38,6)").alias("yy"),
    )
    agg = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
        F.sum("yy").cast("double").alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "event_type",
        F.col("m").cast("bigint").alias("n_pairs"),
        F.round(num / den, 4).alias("autocorr_lag1"),
    ).orderBy("event_type")


# --- Data-quality audits -----------------------------------------------------


@query(
    "ri_orphan_audit",
    oracle="""
    SELECT * FROM (
      SELECT 'lineitem.l_orderkey->orders' AS fk,
             CAST(COUNT(*) AS BIGINT) AS n_child,
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_orphans
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'nation.n_regionkey->region',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    ) ORDER BY fk
    """,
    tags=("quality", "referential-integrity", "audit"),
)
def ri_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every FK edge of the schema: per
    edge, total child rows and orphan rows (child key with no parent) —
    the pre-ingest gate any warehouse load runs. Each edge is one left
    join counted in a single pass (no anti-join + count double-scan);
    parent key sides are dimension-sized or shrink to the distinct key
    column, so at 100 TB the fact-side edges run as broadcast or
    AQE-planned shuffle joins and the seven audits share nothing —
    they parallelize as independent stages of one job."""
    fks = [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for child, ckey, parent, pkey in fks:
        c = load_table(spark, sf_dir, child).select(F.col(ckey).alias("k"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pkey).alias("k"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        one = c.join(p, "k", "left").agg(
            F.lit(f"{child}.{ckey}->{parent}").alias("fk"),
            F.count(F.lit(1)).cast("bigint").alias("n_child"),
            F.sum(F.col("_hit").isNull().cast("int")).cast("bigint").alias(
                "n_orphans"
            ),
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("fk")


@query(
    "fd_violation_audit",
    oracle="""
    SELECT * FROM (
      SELECT 'orders: o_orderkey->o_custkey' AS fd,
             CAST(COUNT(*) AS BIGINT) AS n_lhs,
             CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0 AS holds
      FROM (SELECT o_orderkey, COUNT(DISTINCT o_custkey) AS n
            FROM orders GROUP BY o_orderkey)
      UNION ALL
      SELECT 'nation: n_nationkey->n_regionkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
             SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0
      FROM (SELECT n_nationkey, COUNT(DISTINCT n_regionkey) AS n
            FROM nation GROUP BY n_nationkey)
      UNION ALL
      SELECT 'customer: c_nationkey->c_mktsegment',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
             SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0
      FROM (SELECT c_nationkey, COUNT(DISTINCT c_mktsegment) AS n
            FROM customer GROUP BY c_nationkey)
      UNION ALL
      SELECT 'lineitem: l_orderkey->l_returnflag',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT),
             SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) = 0
      FROM (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS n
            FROM lineitem GROUP BY l_orderkey)
    ) ORDER BY fd
    """,
    tags=("quality", "functional-dependency", "audit"),
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: does A determine B? Per candidate FD,
    the number of LHS values, how many map to more than one RHS value,
    and the verdict — key/constraint discovery for schema inference and
    the denormalization-safety check before collapsing a join. The mix is
    deliberate: two true FDs (PK-derived) and two that fail on real data,
    so the query demonstrates both verdicts. Shape per FD: one partial-agg
    groupBy on the LHS with a distinct-count, then a constant-size
    summary — no joins, fully parallel, skew-tolerant (a hot LHS key is
    just one group)."""
    fds = [
        ("orders", "o_orderkey", "o_custkey"),
        ("nation", "n_nationkey", "n_regionkey"),
        ("customer", "c_nationkey", "c_mktsegment"),
        ("lineitem", "l_orderkey", "l_returnflag"),
    ]
    out = None
    for table, lhs, rhs in fds:
        t = load_table(spark, sf_dir, table)
        per = t.groupBy(lhs).agg(F.countDistinct(rhs).alias("n"))
        one = per.agg(
            F.lit(f"{table}: {lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_lhs"),
            F.sum((F.col("n") > 1).cast("int")).cast("bigint").alias(
                "n_violating"
            ),
            (F.sum((F.col("n") > 1).cast("int")) == 0).alias("holds"),
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("fd")


@query(
    "events_heavy_hitters_rescan",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE user_id IS NOT NULL
    GROUP BY user_id HAVING COUNT(*) >= 30
    ORDER BY n_events DESC, user_id
    """,
    tags=("events", "sketch", "heavy-hitters", "rescan"),
)
def events_heavy_hitters_rescan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-prefiltered EXACT heavy hitters: users with ≥ 30 events.
    Phase 1 builds a count-min sketch (one aggregation whose key space is
    the CONSTANT d×w counter grid — never the user domain) and flattens
    it to a single d·w-long array broadcast via a one-row crossJoin;
    phase 2 rescans events computing each row's estimate INLINE
    (least-of-d array lookups with the same xxhash64 bucketing the sketch
    was built with — pure map-side, no shuffle keyed on user_id) and
    keeps only rows whose estimate clears the threshold. Because CM never
    undercounts, that sliver provably contains every true heavy hitter's
    rows; the one user-keyed aggregation then runs on the sliver alone,
    and HAVING re-applies the threshold exactly. The result is EXACT —
    the oracle is the plain GROUP BY/HAVING — but the full-domain
    user-keyed shuffle is replaced by a 20k-cell counter exchange plus an
    aggregation over the filtered rows. The d·w counter collect is
    bounded constant state (the centroid-table discipline). CM guarantee
    tested in tests/test_sketch.py; threshold 30 keeps the fixture's
    sliver non-trivial at every SF."""
    from distributed_graph_database_system_spark.operators.sketch import (
        cm_sketch,
    )

    depth, width, thresh = 5, 4096, 30
    # NULL user_ids are excluded SYMMETRICALLY with the oracle's WHERE:
    # the sketch build drops nulls, so an unfiltered rescan would bucket
    # NULL rows by xxhash64(NULL, d) arbitrarily and the never-undercount
    # guarantee would not hold for a NULL cohort.
    e = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .where(F.col("user_id").isNotNull())
    )
    sk = cm_sketch(e, "user_id", depth=depth, width=width)
    flat = [0] * (depth * width)
    for r in sk.collect():  # ≤ d*w = 20480 rows: constant, never data-sized
        flat[r["d"] * width + r["bucket"]] = r["cnt"]
    arr = spark.createDataFrame([(flat,)], "arr ARRAY<BIGINT>")
    est = F.least(
        *[
            F.coalesce(
                F.element_at(
                    "arr",
                    (
                        F.lit(d * width)
                        + F.pmod(F.xxhash64("user_id", F.lit(d)), F.lit(width))
                        + 1
                    ).cast("int"),
                ),
                F.lit(0),
            )
            for d in range(depth)
        ]
    )
    sliver = (
        e.crossJoin(F.broadcast(arr))
        .where(est >= thresh)
        .select("user_id")
    )
    return (
        sliver.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .where(F.col("n_events") >= thresh)
        .orderBy(F.desc("n_events"), "user_id")
    )


@query(
    "text_keywords_textrank",
    oracle=TEXT_KEYWORDS_TEXTRANK_GOLDEN,
    oracle_sf="0.01",
    tags=("text", "keywords", "textrank", "iterative"),
)
def text_keywords_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED TextRank keyword extraction (Mihalcea & Tarau, EMNLP
    2004): PageRank over the token co-occurrence graph with adjacency
    COUNTS as edge weights — each vertex distributes its score to
    neighbors proportionally to w_uv/W_u. (The unweighted variant is
    degenerate on this corpus: the synthetic vocabulary co-occurs
    completely, making the 0/1 graph regular and every score exactly
    1/N; weights are what carry the signal.) The iteration is ORDER-FREE
    fixed-point decimal (the queries/helpers.py float-determinism
    discipline applied to an iterative algorithm): per round, new score
    = 0.15/N + 0.85·Σ(score_u·w_uv/W_u), the per-edge share division
    rounded to a fixed decimal scale and the sum exact — 12 rounds give
    byte-identical scores under any partitioning (asserted by running
    under two shuffle-partition settings in tests), which is what makes
    the sf0.01 golden pinnable; plain double PageRank sums would drift
    in the last ulp with shuffle order.

    Scale shape: tokenization streams; the graph is capped to the
    top-300 vocabulary (count-desc, token tiebreak — the cap is standard
    TextRank practice, not a shortcut), so the 12 join rounds run on a
    broadcast-sized weighted edge set however large the corpus; the one
    big aggregate is the vocabulary count."""
    from decimal import ROUND_HALF_UP, Decimal

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), "[^a-z]+")).alias("pos", "tok"),
    ).where(F.length("tok") >= 4)
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.withColumn(
            "rk",
            F.row_number().over(W.orderBy(F.desc("n"), "tok")),
        )
        .where(F.col("rk") <= 300)
        .select("tok")
    )
    nxt = F.lead("tok").over(W.partitionBy("doc_id").orderBy("pos"))
    grams = toks.withColumn("nxt", nxt).where(
        F.col("nxt").isNotNull() & (F.col("tok") != F.col("nxt"))
    )
    e0 = (
        grams.join(vocab, "tok", "left_semi")
        .join(vocab.withColumnRenamed("tok", "nxt"), "nxt", "left_semi")
        .groupBy(F.col("tok").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # symmetrize: w{a,b} = count(a→b) + count(b→a), present in both rows
    edges = (
        e0.select("a", "b", "w")
        .unionAll(
            e0.select(
                F.col("b").alias("a"), F.col("a").alias("b"), F.col("w")
            )
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
        .localCheckpoint()
    )
    verts = edges.select(F.col("a").alias("tok")).distinct()
    n = verts.count()
    od = edges.groupBy("a").agg(F.sum("w").alias("wd"))
    q12 = Decimal(1).scaleb(-12)
    base = (Decimal("0.15") / Decimal(n)).quantize(q12, rounding=ROUND_HALF_UP)
    init = (Decimal(1) / Decimal(n)).quantize(q12, rounding=ROUND_HALF_UP)
    score = verts.select(
        "tok", F.lit(str(init)).cast("decimal(28,12)").alias("s")
    )
    for i in range(12):
        contrib = (
            edges.join(score.withColumnRenamed("tok", "a"), "a")
            .join(od, "a")
            .select(
                F.col("b").alias("tok"),
                (F.col("s") * F.col("w") / F.col("wd"))
                .cast("decimal(28,12)")
                .alias("sh"),
            )
        )
        agg = contrib.groupBy("tok").agg(F.sum("sh").alias("insum"))
        score = verts.join(agg, "tok", "left").select(
            "tok",
            (
                F.lit(str(base)).cast("decimal(28,12)")
                + (
                    F.lit("0.85").cast("decimal(3,2)")
                    * F.coalesce(
                        F.col("insum"), F.lit(0).cast("decimal(28,12)")
                    )
                ).cast("decimal(28,12)")
            )
            .cast("decimal(28,12)")
            .alias("s"),
        )
        if i % 4 == 3:
            score = score.localCheckpoint()
    return (
        score.orderBy(F.desc("s"), "tok")
        .limit(15)
        .select("tok", F.col("s").cast("double").alias("textrank"))
    )


@query(
    "privacy_kanonymity_audit",
    oracle="""
    SELECT * FROM (
      SELECT 'customer: nation x segment' AS qi_set,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(MIN(n) AS BIGINT) AS k_min,
             CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
             ROUND(CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
                   / SUM(n), 4) AS frac_rows_at_risk
      FROM (SELECT COUNT(*) AS n FROM customer
            GROUP BY c_nationkey, c_mktsegment)
      UNION ALL
      SELECT 'orders: priority x year',
             CAST(COUNT(*) AS BIGINT),
             CAST(MIN(n) AS BIGINT),
             CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
             ROUND(CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE)
                   / SUM(n), 4)
      FROM (SELECT COUNT(*) AS n FROM orders
            GROUP BY o_orderpriority, CAST(EXTRACT(YEAR FROM o_orderdate)
                                           AS INTEGER))
    ) ORDER BY qi_set
    """,
    tags=("quality", "privacy", "k-anonymity", "audit"),
)
def privacy_kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over candidate quasi-identifier sets: group the
    table by the QI columns and report the smallest equivalence class
    (k_min — the table IS k_min-anonymous), how many classes fall below
    k=5, and the row fraction those classes expose — the release gate any
    privacy review runs before publishing micro-data or training
    extracts. One partial-agg groupBy per QI set plus a constant-size
    summary; skew-free by construction (a huge class is one group)."""
    qi_sets = [
        (
            "customer: nation x segment",
            load_table(spark, sf_dir, "customer"),
            [F.col("c_nationkey"), F.col("c_mktsegment")],
        ),
        (
            "orders: priority x year",
            load_table(spark, sf_dir, "orders"),
            [
                F.col("o_orderpriority"),
                F.year("o_orderdate").cast("int"),
            ],
        ),
    ]
    out = None
    for name, t, cols in qi_sets:
        per = t.groupBy(*cols).agg(F.count(F.lit(1)).alias("n"))
        one = per.agg(
            F.lit(name).alias("qi_set"),
            F.count(F.lit(1)).cast("bigint").alias("n_groups"),
            F.min("n").cast("bigint").alias("k_min"),
            F.sum((F.col("n") < 5).cast("int")).cast("bigint").alias(
                "n_violating_groups"
            ),
            F.round(
                F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("n"),
                4,
            ).alias("frac_rows_at_risk"),
        )
        out = one if out is None else out.unionAll(one)
    return out.orderBy("qi_set")


_BOOTSTRAP_B = 50
# nearest-rank 95% CI positions derived from B (not hardcoded next to a
# tunable B): lo = ceil(0.025·B), hi = ceil(0.975·B)
_BOOT_LO = -(-25 * _BOOTSTRAP_B // 1000)
_BOOT_HI = -(-975 * _BOOTSTRAP_B // 1000)


@query(
    "orders_bootstrap_ci_mean",
    oracle=f"""
    WITH reps AS (SELECT unnest(generate_series(1, {_BOOTSTRAP_B})) AS b),
    w AS (
      SELECT r.b, o.o_totalprice,
             CASE
               WHEN u < 0.3678794411714423 THEN 0
               WHEN u < 0.7357588823428846 THEN 1
               WHEN u < 0.9196986029286058 THEN 2
               WHEN u < 0.9810118431238462 THEN 3
               WHEN u < 0.9963401531726563 THEN 4
               WHEN u < 0.9994058151824183 THEN 5
               WHEN u < 0.9999167588507119 THEN 6
               ELSE 7
             END AS wt
      FROM orders o CROSS JOIN reps r
      CROSS JOIN LATERAL (
        SELECT CAST(('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)
                                        || '|' || CAST(r.b AS VARCHAR)),
                            1, 8)) AS BIGINT) / 4294967296.0 AS u
      ) h
    ), means AS (
      SELECT b,
             ROUND(CAST(SUM(wt * CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE) / SUM(wt), 4) AS m
      FROM w GROUP BY b HAVING SUM(wt) > 0
    ), ranked AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rk,
             COUNT(*) OVER () AS nb
      FROM means
    )
    SELECT CAST(MAX(nb) AS BIGINT) AS n_replicates,
           (SELECT ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                              AS DOUBLE) / COUNT(*), 4) FROM orders)
             AS mean_full,
           MAX(CASE WHEN rk = {_BOOT_LO} THEN m END) AS ci_lo,
           MAX(CASE WHEN rk = {_BOOT_HI} THEN m END) AS ci_hi
    FROM ranked
    """,
    tags=("statistics", "bootstrap", "resampling"),
)
def orders_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP confidence interval for the mean order value —
    the distributed bootstrap (Chamandy et al., Google 2012): classical
    resampling needs a sample of exactly n rows (a global operation), but
    Poisson(1) per-row weights approximate multinomial resampling with NO
    coordination — each row draws its replicate weights independently, so
    the whole B-replicate bootstrap is one explode + one aggregation,
    embarrassingly parallel at any scale. Weights come from the inverse
    Poisson CDF applied to the md5_uniform coin on (orderkey, replicate)
    — deterministic, engine-portable, reproducible. Replicate means use
    exact decimal sums (one rounded division each); the 95% CI is
    nearest-rank over the B = 50 sorted means (ranks 2 and 49), totally
    ordered by (mean, replicate id)."""
    from distributed_graph_database_system_spark.queries.helpers import (
        md5_uniform,
    )

    B = _BOOTSTRAP_B
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    reps = o.select(
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(1), F.lit(B))).alias("b"),
    )
    u = md5_uniform(
        F.concat(
            F.col("o_orderkey").cast("string"),
            F.lit("|"),
            F.col("b").cast("string"),
        )
    )
    thresholds = [
        0.3678794411714423,
        0.7357588823428846,
        0.9196986029286058,
        0.9810118431238462,
        0.9963401531726563,
        0.9994058151824183,
        0.9999167588507119,
    ]
    wt = F.lit(7)
    for k in range(len(thresholds) - 1, -1, -1):
        wt = F.when(u < thresholds[k], F.lit(k)).otherwise(wt)
    means = (
        reps.withColumn("wt", wt)
        .groupBy("b")
        .agg(
            F.round(
                F.sum(
                    F.col("wt")
                    * F.col("o_totalprice").cast("decimal(18,2)")
                ).cast("double")
                / F.sum("wt"),
                4,
            ).alias("m"),
            F.sum("wt").alias("tw"),
        )
        .where(F.col("tw") > 0)
        .select("b", "m")
    )
    ranked = means.select(
        "m",
        F.row_number().over(W.orderBy("m", "b")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nb"),
    )
    full = load_table(spark, sf_dir, "orders").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_full")
    )
    return ranked.agg(
        F.max("nb").cast("bigint").alias("n_replicates"),
        F.max(F.when(F.col("rk") == _BOOT_LO, F.col("m"))).alias("ci_lo"),
        F.max(F.when(F.col("rk") == _BOOT_HI, F.col("m"))).alias("ci_hi"),
    ).crossJoin(full).select("n_replicates", "mean_full", "ci_lo", "ci_hi")


@query(
    "events_forecast_backtest",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), joined AS (
      SELECT a.event_type, a.day, a.n,
             w.n AS pred_weekly, p.n AS pred_persist
      FROM daily a
      JOIN daily w ON w.event_type = a.event_type AND w.day = a.day - 7
      JOIN daily p ON p.event_type = a.event_type AND p.day = a.day - 1
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(CAST(SUM(ABS(n - pred_weekly)) AS DOUBLE) / COUNT(*), 4)
             AS mae_weekly,
           ROUND(CAST(SUM(ABS(n - pred_persist)) AS DOUBLE) / COUNT(*), 4)
             AS mae_persist,
           ROUND(CAST(SUM(CAST(ROUND(CAST(ABS(n - pred_weekly) AS DOUBLE)
                                     / n, 8) AS DECIMAL(18,8))) AS DOUBLE)
                 / COUNT(*), 4) AS mape_weekly
    FROM joined GROUP BY event_type ORDER BY event_type
    """,
    tags=("events", "forecast", "backtest", "timeseries"),
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast BACKTEST: score the two standard zero-parameter baselines
    every forecasting system must beat — seasonal-naive (same weekday
    last week) and persistence (yesterday) — over the daily event-count
    series, per type. MAE from exact integer error sums; MAPE terms
    rounded to 8dp into an exact decimal sum (the rounded-term
    discipline), one final division each. The join-against-shifted-self
    shape is the scalable backtest harness: predictions at ANY horizon
    are self-joins on (series, day - h), no per-series state, no loops —
    at 100 TB the daily aggregate is tiny relative to raw events and the
    backtest is three broadcast-able joins over it."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    a = daily.alias("a")
    w = daily.select(
        F.col("event_type").alias("event_type"),
        F.date_add("day", 7).alias("day"),
        F.col("n").alias("pred_weekly"),
    ).alias("w")
    p = daily.select(
        F.col("event_type").alias("event_type"),
        F.date_add("day", 1).alias("day"),
        F.col("n").alias("pred_persist"),
    ).alias("p")
    joined = a.join(w, ["event_type", "day"]).join(p, ["event_type", "day"])
    abs_w = F.abs(F.col("n") - F.col("pred_weekly"))
    abs_p = F.abs(F.col("n") - F.col("pred_persist"))
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.round(
                F.sum(abs_w).cast("double") / F.count(F.lit(1)), 4
            ).alias("mae_weekly"),
            F.round(
                F.sum(abs_p).cast("double") / F.count(F.lit(1)), 4
            ).alias("mae_persist"),
            F.round(
                F.sum(
                    F.round(
                        abs_w.cast("double") / F.col("n"), 8
                    ).cast("decimal(18,8)")
                ).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mape_weekly"),
        )
        .orderBy("event_type")
    )


@query(
    "events_periodogram",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_diff('hour', TIMESTAMP '2020-01-01 00:00:00',
                            date_trunc('hour', ts)) AS BIGINT) AS t,
             COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ), terms AS (
      SELECT h.event_type, p.period,
             CAST(ROUND(COS(2 * PI() * h.t / p.period), 8)
                  AS DECIMAL(12,8)) * h.x AS c_term,
             CAST(ROUND(SIN(2 * PI() * h.t / p.period), 8)
                  AS DECIMAL(12,8)) * h.x AS s_term
      FROM hourly h
      CROSS JOIN (SELECT unnest([24, 168, 17]) AS period) p
    ), comps AS (
      SELECT event_type, period,
             CAST(SUM(c_term) AS DOUBLE) AS c,
             CAST(SUM(s_term) AS DOUBLE) AS s,
             COUNT(*) AS n
      FROM terms GROUP BY event_type, period
    )
    SELECT event_type, CAST(period AS INT) AS period_hours,
           ROUND((c * c + s * s) / (n * n), 6) AS power
    FROM comps ORDER BY event_type, period_hours
    """,
    tags=("events", "spectral", "periodogram", "timeseries"),
)
def events_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram power of the hourly event-count series at candidate
    periods (daily 24h, weekly 168h, and a 17h control that no real
    process follows) — the spectral screen behind seasonality detection:
    power_p = (Σx·cos(2πt/p))² + (Σx·sin(2πt/p))² normalized by n². The
    trig terms are rounded to 8dp into exact decimal sums (the
    rounded-term discipline extended to transcendentals: Spark and DuckDB
    run different libm implementations, and per-term rounding absorbs
    their last-ulp disagreement), then two identical double squarings.
    One hourly aggregate + a 3-period explode — a full FFT is pointless
    at analytic scale when the candidate set is known; this is O(periods)
    scans of the tiny per-hour series."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (
            (
                F.unix_timestamp(F.date_trunc("hour", F.col("ts")))
                - F.unix_timestamp(F.lit("2020-01-01 00:00:00").cast("timestamp"))
            )
            / 3600
        )
        .cast("bigint")
        .alias("t"),
    ).agg(F.count(F.lit(1)).alias("x"))
    terms = hourly.select(
        "event_type",
        "t",
        "x",
        F.explode(F.array(F.lit(24), F.lit(168), F.lit(17))).alias("period"),
    ).select(
        "event_type",
        "period",
        (
            F.round(
                F.cos(F.lit(2) * F.lit(3.141592653589793) * F.col("t") / F.col("period")),
                8,
            ).cast("decimal(12,8)")
            * F.col("x")
        ).alias("c_term"),
        (
            F.round(
                F.sin(F.lit(2) * F.lit(3.141592653589793) * F.col("t") / F.col("period")),
                8,
            ).cast("decimal(12,8)")
            * F.col("x")
        ).alias("s_term"),
    )
    comps = terms.groupBy("event_type", "period").agg(
        F.sum("c_term").cast("double").alias("c"),
        F.sum("s_term").cast("double").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return comps.select(
        "event_type",
        F.col("period").cast("int").alias("period_hours"),
        F.round(
            (F.col("c") * F.col("c") + F.col("s") * F.col("s"))
            / (F.col("n") * F.col("n")),
            6,
        ).alias("power"),
    ).orderBy("event_type", "period_hours")


@query(
    "events_twap_daily",
    oracle="""
    WITH seq AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value,
             epoch_us(ts) AS t,
             lead(epoch_us(ts)) OVER (
               PARTITION BY event_type, CAST(ts AS DATE)
               ORDER BY ts, event_id) AS t_next
      FROM events
    ), seg AS (
      SELECT event_type, day,
             CAST(ROUND(value, 6) AS DECIMAL(18,6)) * (t_next - t) AS wv,
             t_next - t AS w
      FROM seq WHERE t_next IS NOT NULL
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           ROUND(CAST(SUM(wv) AS DOUBLE) / SUM(w), 4) AS twap
    FROM seg GROUP BY event_type, day
    HAVING SUM(w) > 0
    ORDER BY event_type, day
    """,
    tags=("events", "twap", "time-weighted", "window"),
)
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (type, day) — the TWAP/metrics
    convention for irregularly sampled series, where a plain mean
    over-weights bursts: each observation holds until the next one, so
    its weight is the microsecond gap to the successor (zero-length
    last-of-day segments drop out; days whose samples all share one
    timestamp drop via HAVING). Weights are exact epoch-microsecond
    integers (the load_table µs discipline — never float time math);
    value·weight terms are rounded-value decimals summed exactly, one
    final division. One window over (ts, event_id) total order per
    series-day, then a partial-agg groupBy."""
    e = load_table(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        F.to_date("ts").alias("day"),
        "value",
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts"))
        .over(
            W.partitionBy("event_type", F.to_date("ts")).orderBy(
                "ts", "event_id"
            )
        )
        .alias("t_next"),
    ).where(F.col("t_next").isNotNull())
    seg = seq.select(
        "event_type",
        "day",
        (
            F.round("value", 6).cast("decimal(18,6)")
            * (F.col("t_next") - F.col("t"))
        ).alias("wv"),
        (F.col("t_next") - F.col("t")).alias("w"),
    )
    return (
        seg.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.round(F.sum("wv").cast("double") / F.sum("w"), 4).alias("twap"),
            F.sum("w").alias("_tw"),
        )
        .where(F.col("_tw") > 0)
        .drop("_tw")
        .select(
            "event_type",
            F.col("day").cast("string").alias("day"),
            "n_segments",
            "twap",
        )
        .orderBy("event_type", "day")
    )


@query(
    "part_xyz_classification",
    oracle="""
    WITH weekly AS (
      SELECT l_partkey, date_trunc('week', l_shipdate) AS wk,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS w
      FROM lineitem GROUP BY l_partkey, date_trunc('week', l_shipdate)
    ), m AS (
      SELECT l_partkey, COUNT(*) AS n,
             CAST(SUM(w) AS DOUBLE) AS s1,
             CAST(SUM(w * w) AS DOUBLE) AS s2
      FROM weekly GROUP BY l_partkey HAVING COUNT(*) >= 2
    ), cv AS (
      SELECT l_partkey,
             ROUND(SQRT((s2 - s1 * s1 / n) / (n - 1)) / (s1 / n), 4) AS cv
      FROM m WHERE s1 > 0
    )
    SELECT CASE WHEN cv < 0.5 THEN 'X'
                WHEN cv < 1.0 THEN 'Y'
                ELSE 'Z' END AS xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(MIN(cv), 4) AS cv_min,
           ROUND(MAX(cv), 4) AS cv_max
    FROM cv GROUP BY 1 ORDER BY xyz_class
    """,
    tags=("inventory", "xyz", "classification", "statistics"),
)
def part_xyz_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification — the planning segmentation
    that pairs with ABC revenue concentration (orders_abc_pareto): per
    part, the coefficient of variation of WEEKLY shipped quantity sorts
    parts into X (steady, cv < 0.5), Y (variable, < 1.0), Z (erratic).
    Variance comes from exact decimal moments ((Σw², Σw) summed exactly,
    one identical double expression — never the engine's stddev_samp,
    whose internal accumulation order differs), cv is rounded BEFORE
    classification so the class boundaries compare identical values in
    both engines. Two partial-agg groupBys; no window, no sort."""
    li = load_table(spark, sf_dir, "lineitem")
    weekly = li.groupBy(
        "l_partkey", F.date_trunc("week", "l_shipdate").alias("wk")
    ).agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("w"))
    m = (
        weekly.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("w").cast("double").alias("s1"),
            F.sum(F.col("w") * F.col("w")).cast("double").alias("s2"),
        )
        .where(F.col("n") >= 2)
        .where(F.col("s1") > 0)
    )
    cv = m.select(
        "l_partkey",
        F.round(
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1)
            )
            / (F.col("s1") / F.col("n")),
            4,
        ).alias("cv"),
    )
    cls = (
        F.when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
    )
    return (
        cv.groupBy(cls.alias("xyz_class"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.round(F.min("cv"), 4).alias("cv_min"),
            F.round(F.max("cv"), 4).alias("cv_max"),
        )
        .orderBy("xyz_class")
    )


@query(
    "orders_hill_tail_index",
    oracle="""
    WITH ranked AS (
      SELECT o_totalprice,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rk
      FROM orders
    ), topk AS (
      SELECT rk, o_totalprice,
             MAX(CASE WHEN rk = 201 THEN o_totalprice END) OVER ()
               AS x_k
      FROM ranked WHERE rk <= 201
    )
    SELECT CAST(200 AS BIGINT) AS k,
           ROUND(MAX(x_k), 2) AS x_k,
           ROUND(200.0 / CAST(SUM(CAST(ROUND(LN(o_totalprice / x_k), 8)
                                       AS DECIMAL(18,8))) AS DOUBLE), 4)
             AS hill_alpha
    FROM topk WHERE rk <= 200
    """,
    tags=("statistics", "tail-index", "hill", "power-law"),
)
def orders_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator (Hill, Ann.Stat. 1975) on order values:
    α̂ = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over the top-k order statistics —
    the standard heavy-tail diagnostic (α below ~2 ⇒ infinite variance:
    means/CIs are unreliable and the pipeline should switch to
    quantile-based monitors; complements corpus_zipf_slope, which
    measures the rank-frequency exponent of tokens rather than a value
    tail). Only the top k+1 = 201 rows leave the scan
    (TakeOrderedAndProject shape — a total sort never happens); ln terms
    round to 8dp into an exact decimal sum (the libm discipline), one
    final division."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey"
    )
    k = 200
    ranked = o.select(
        "o_totalprice",
        F.row_number()
        .over(W.orderBy(F.desc("o_totalprice"), "o_orderkey"))
        .alias("rk"),
    ).where(F.col("rk") <= k + 1)
    xk = ranked.where(F.col("rk") == k + 1).select(
        F.col("o_totalprice").alias("x_k")
    )
    top = ranked.where(F.col("rk") <= k).crossJoin(F.broadcast(xk))
    return top.agg(
        F.lit(k).cast("bigint").alias("k"),
        F.round(F.max("x_k"), 2).alias("x_k"),
        F.round(
            F.lit(float(k))
            / F.sum(
                F.round(
                    F.log(F.col("o_totalprice") / F.col("x_k")), 8
                ).cast("decimal(18,8)")
            ).cast("double"),
            4,
        ).alias("hill_alpha"),
    )


@query(
    "orders_interpurchase_gaps",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate,
                                                       o_orderkey),
                       o_orderdate) AS gap
      FROM orders
    ), gaps AS (SELECT gap FROM seq WHERE gap IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY gap) AS BIGINT)
             AS p25_days,
           CAST(percentile_disc(0.50) WITHIN GROUP (ORDER BY gap) AS BIGINT)
             AS p50_days,
           CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY gap) AS BIGINT)
             AS p75_days,
           CAST(percentile_disc(0.90) WITHIN GROUP (ORDER BY gap) AS BIGINT)
             AS p90_days,
           CAST(MAX(gap) AS BIGINT) AS max_days
    FROM gaps
    """,
    tags=("orders", "recency", "cadence", "window"),
)
def orders_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence distribution: day gaps between each customer's
    consecutive orders, summarized by nearest-rank percentiles — the
    replenishment-cycle baseline that re-engagement triggers and churn
    definitions calibrate against (RFM's R uses only the LAST gap; this
    is the full cadence curve). Gaps are exact integer day diffs from one
    lag window over the (orderdate, orderkey) total order;
    percentile_disc over integers is engine-exact — no float anywhere.
    The discrete percentile runs on |gaps| values; at 100 TB scale the
    same statistic comes from an additive day-gap histogram (the
    events_sliding7_quantiles_hist pattern)."""
    o = load_table(spark, sf_dir, "orders")
    seq = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"),
            F.lag("o_orderdate").over(
                W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            ),
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    from distributed_graph_database_system_spark.operators.quantile import (
        _qcolname,
        group_quantiles_disc,
    )

    qs = [0.25, 0.5, 0.75, 0.9]
    cuts = group_quantiles_disc(
        seq.withColumn("g", F.lit(1)), "gap", qs, ["g"]
    ).drop("g")
    agg = seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.max("gap").cast("bigint").alias("max_days"),
    )
    # LEFT join, not crossJoin: cuts is empty when there are no gaps and
    # the one-row global-aggregate shape must survive (r13 ADVICE item).
    return agg.join(F.broadcast(cuts), F.lit(True), "left").select(
        "n_gaps",
        F.col(_qcolname(0.25)).cast("bigint").alias("p25_days"),
        F.col(_qcolname(0.5)).cast("bigint").alias("p50_days"),
        F.col(_qcolname(0.75)).cast("bigint").alias("p75_days"),
        F.col(_qcolname(0.9)).cast("bigint").alias("p90_days"),
        "max_days",
    )


@query(
    "nation_trade_balance",
    oracle="""
    WITH flows AS (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(8,2))
                    - CAST(l.l_discount AS DECIMAL(8,2)))) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      WHERE ns.n_name <> nc.n_name
      GROUP BY ns.n_name, nc.n_name
    ), ex AS (
      SELECT supp_nation AS nation, SUM(rev) AS exports FROM flows GROUP BY 1
    ), im AS (
      SELECT cust_nation AS nation, SUM(rev) AS imports FROM flows GROUP BY 1
    )
    SELECT COALESCE(ex.nation, im.nation) AS nation,
           CAST(COALESCE(ex.exports, 0) AS DOUBLE) AS exports,
           CAST(COALESCE(im.imports, 0) AS DOUBLE) AS imports,
           CAST(COALESCE(ex.exports, 0) AS DOUBLE)
             - CAST(COALESCE(im.imports, 0) AS DOUBLE) AS net_balance
    FROM ex FULL OUTER JOIN im ON ex.nation = im.nation
    ORDER BY nation
    """,
    tags=("relational", "trade", "multi-join", "decimal"),
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-border trade balance: discounted revenue flowing from each
    supplier nation to each (different) customer nation, folded to
    per-nation exports, imports, and net balance — the q7 join spine
    turned into the flow-matrix economics view. All money stays exact
    DECIMAL until the final casts (the q1 discipline; sums of flows are
    order-free), both nation dims broadcast, and the full-outer fold
    covers nations that only ever sell or only ever buy."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1).cast("decimal(8,2)") - F.col("l_discount").cast("decimal(8,2)")
    )
    flows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("ck"),
                                 F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("ck"),
        )
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sk"),
                                 F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(F.sum(rev).alias("rev"))
    )
    ex = flows.groupBy(F.col("supp_nation").alias("nation")).agg(
        F.sum("rev").alias("exports")
    )
    im = flows.groupBy(F.col("cust_nation").alias("nation")).agg(
        F.sum("rev").alias("imports")
    )
    # zero literal at the SUM's own scale: a scale-2 zero would force a
    # COALESCE common type whose integer digits overflow precision 38 and
    # Spark would silently truncate the money scale back to 2; the net
    # subtraction runs in double on BOTH engines (decimal subtraction at
    # precision 38 would lose another scale digit the same way)
    z = F.lit(0).cast("decimal(38,4)")
    exports_d = F.coalesce("exports", z).cast("double")
    imports_d = F.coalesce("imports", z).cast("double")
    return (
        ex.join(im, "nation", "full_outer")
        .select(
            "nation",
            exports_d.alias("exports"),
            imports_d.alias("imports"),
            (exports_d - imports_d).alias("net_balance"),
        )
        .orderBy("nation")
    )

"""Driver-registered LLM-data-pipeline queries over ``documents`` and
``embeddings`` (north-star surface; SURVEY.md §2.2 last three rows).

Oracle policy: deterministic operators (exact dedup, token counts, quality,
lang-id, fingerprints, stats, brute-force top-k ranks) are DuckDB-backed.
Probabilistic/approximate operators (MinHash-LSH, SimHash, SRP-ANN,
embedding near-dup) are rows-only here and golden-tested with planted
duplicates in tests/test_llm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_graph_database_system_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    simhash64,
    simhash_near_pairs,
)
from distributed_graph_database_system_spark.operators.multimodal import (
    decode_media,
    documents_as_media,
    documents_as_synth_media,
)
from distributed_graph_database_system_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    srp_ann_topk,
    srp_index,
)
from distributed_graph_database_system_spark.operators.textstats import (
    BPE_ISH_PATTERN,
    bpe_ish_token_count,
    lang_id,
    mean_word_length,
    punct_ratio,
    quality_score,
    rolling_fingerprint,
    stopword_ratio,
    ws_token_count,
)
from distributed_graph_database_system_spark.queries.llm_goldens import (
    BPE_ENCODE_TOKENS_GOLDEN,
    BPE_TRAIN_MERGES_GOLDEN,
    CORESET_KCENTER_GOLDEN,
    DEDUP_MINHASH_LSH_GOLDEN,
    EMBED_GEOMETRIC_MEDIAN_GOLDEN,
    EMBED_OUTLIER_ROBUST_GOLDEN,
    EMBED_PCA_PROJECT_GOLDEN,
    MULTIMODAL_IMAGE_PHASH_GOLDEN,
    DEDUP_SIMHASH_GOLDEN,
    SIM_MMR_RERANK_GOLDEN,
    SIM_TOPK_ANN_IVF_GOLDEN,
    TEXT_COMPRESSION_RATIO_GOLDEN,
    SIM_TOPK_ANN_LSH_GOLDEN,
)
from distributed_graph_database_system_spark.queries.registry import query
from distributed_graph_database_system_spark.sources.catalog import load_table

def _docs_fanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with CPU-bound-projection fan-out: callers here do
    HEAVY per-doc work (8-gram spans, hashed features, the per-gram md5
    of rolling_fingerprint), where core-count parallelism should beat the
    cost of exchanging the text payload even when the scan already has
    some splits. The one A/B behind this (r15, text_fingerprint: 0.44 s
    fanned vs 0.87 s on the ~6-split post-rewrite scan) timed the
    fingerprint's former JVM expression; its C-md5 pandas UDF is about
    3× cheaper per gram and has not been re-measured fanned vs unfanned.
    Contrast operators/dedup.py::_cpu_fanned, whose cheaper shingle
    hashing only fans out under severe scan under-parallelism (its A/B
    went the other way). At cluster scale the same effect comes from
    lowering spark.sql.files.maxPartitionBytes for compute-heavy scans."""
    d = load_table(spark, sf_dir, "documents")
    target = spark.sparkContext.defaultParallelism
    return d.repartition(target, "doc_id") if d.rdd.getNumPartitions() < target else d


# --- Dedup -----------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    tags=("llm", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_minhash_lsh",
    oracle=DEDUP_MINHASH_LSH_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs. Deterministic per-row hashing
    under fixed seeds/banding (partition-invariance asserted by
    test_pinned_operators_partition_invariant), so the oracle is a
    generated VALUES golden pinned to the driver's sf0.01
    (scripts/gen_llm_goldens.py); planted-duplicate recall/precision
    goldens live in tests/test_llm.py."""
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.7)


@query(
    "dedup_simhash",
    oracle=DEDUP_SIMHASH_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


@query(
    "dedup_embedding_near",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), planted AS (
      SELECT vec_id + 1000000 AS vec_id, list_transform(e, x -> x * 1.05) AS e
      FROM base
    ), corpus AS (
      SELECT * FROM base UNION ALL SELECT * FROM planted
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.e, b.e), 4) AS cos_sim
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.95
    """,
    tags=("llm", "dedup", "embedding", "planted"),
)
def dedup_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup over the fixture UNION a deterministically planted
    copy of every vector (id + 1e6, scaled by 1.05 in double precision).

    Scaling is the one perturbation with provable LSH recall: sign(w·1.05v)
    = sign(w·v) for every hyperplane, so each planted pair shares ALL its
    original's buckets and MUST surface — making the DuckDB oracle the full
    exact all-pairs cosine join, not a golden pinned to what LSH happened to
    find. cos(v, 1.05v) = 1 ≥ 0.95 with ~1e-15 float slack, and the fixture's
    max base pairwise cosine is ≈ 0.51 (DuckDB-verified), so no pair sits
    near the threshold on either side. Replaces the round-2 vacuous version
    whose honest-but-empty result (the fixture truly has no pairs ≥ 0.95)
    proved nothing."""
    base = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    planted = base.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.05)).alias("embedding"),
    )
    corpus = base.unionByName(planted)
    return embedding_near_dup_pairs(corpus, dim=64, threshold=0.95)


# --- Similarity search -----------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    return [float(x) for x in row["embedding"]]


@query(
    "sim_topk_bruteforce",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT e.vec_id, list_cosine_similarity(e.embedding, q.qe) AS sim
      FROM embeddings e, q WHERE e.vec_id <> 0
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS BIGINT) AS rank,
           vec_id
    FROM sims ORDER BY sim DESC, vec_id LIMIT 10
    """,
    tags=("llm", "similarity"),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for the vec_id=0 query vector. Ranks (not
    raw floats) are compared, so float32-vs-double engine differences can't
    flip the hash unless two similarities collide within ~1e-7."""
    qv = _query_vec(spark, sf_dir)
    return cosine_topk(
        load_table(spark, sf_dir, "embeddings"), qv, k=10, exclude_ids=(0,)
    )


@query(
    "sim_knn_join",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe
      FROM embeddings WHERE vec_id < 10
    ), corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id >= 10
    ), scored AS (
      SELECT q.q_id, c.vec_id,
             list_cosine_similarity(c.ce, q.qe) AS s
      FROM corpus c, q
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rank, vec_id FROM (
      SELECT q_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY s DESC, vec_id) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
    tags=("llm", "similarity", "knn"),
)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN JOIN: top-3 corpus neighbors for EACH of a batch of query
    vectors — the production retrieval/dedup shape (single-query top-k is
    the degenerate case). Plan: broadcast the (small) query batch against
    the (large) corpus scan — the corpus never shuffles for the scoring —
    then per-query top-k via a window PARTITIONED BY q_id (distributed
    across queries; never a global single-partition sort). At 100 TB the
    SRP/IVF bucket prune composes in front per query bucket exactly as in
    srp_ann_topk. Ranks, not raw floats, are compared (float32-vs-double
    oracle discipline, see sim_topk_bruteforce)."""
    from pyspark.sql import Window as W

    from distributed_graph_database_system_spark.operators.similarity import (
        _as_double,
        cosine,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    corpus = emb.where(F.col("vec_id") >= 10)
    scored = corpus.join(F.broadcast(q)).select(
        "q_id",
        "vec_id",
        cosine(_as_double(F.col("embedding")), _as_double(F.col("qe"))).alias("s"),
    )
    w = W.partitionBy("q_id").orderBy(F.desc("s"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 3)
        .select("q_id", "rank", "vec_id")
    )


@query(
    "sim_radius_search",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 3) AS sim
    FROM embeddings e, q
    WHERE e.vec_id <> 0
      AND list_cosine_similarity(e.embedding::DOUBLE[], q.qe) >= 0.25
    """,
    tags=("llm", "similarity", "radius"),
)
def sim_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: ALL vectors within cosine ≥ r of
    the query — the dedup/retrieval-recall counterpart of top-k (result size
    is data-dependent, not k). One embarrassingly-parallel scan, predicate
    on the codegen'd cosine expression; no window, no global sort. At
    cluster scale the SRP/IVF bucket prune composes in front exactly as in
    srp_ann_topk (candidates first, exact predicate after)."""
    from distributed_graph_database_system_spark.operators.similarity import (
        _as_double,
        _lit_vec,
        cosine,
    )

    qv = _query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    sim = cosine(_as_double(F.col("embedding")), _lit_vec(qv))
    return (
        emb.select("vec_id", sim.alias("_s"))
        .where(F.col("_s") >= 0.25)
        .select("vec_id", F.round("_s", 3).alias("sim"))
    )


@query(
    "sim_topk_ann_lsh",
    oracle=SIM_TOPK_ANN_LSH_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "similarity", "ann"),
)
def sim_topk_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed ANN top-10. Approximate vs brute force (recall
    asserted in tests/test_llm.py) but deterministic: bucket assignment is
    a per-row expression of fixed-seed hyperplanes (partition-invariance
    asserted by test_pinned_operators_partition_invariant), so the oracle
    is a generated sf0.01-pinned VALUES golden (scripts/gen_llm_goldens.py)."""
    qv = _query_vec(spark, sf_dir)
    # nbits sizes bucket granularity to the corpus: ~2^5 buckets over 500
    # vectors ≈ 16/bucket; at 100 TB you'd raise nbits with corpus size so
    # the probed candidate set stays roughly constant.
    indexed = srp_index(load_table(spark, sf_dir, "embeddings"), dim=64, nbits=5)
    return srp_ann_topk(
        indexed.where(F.col("vec_id") != 0), qv, k=10, nbits=5, probes=1
    )


@query(
    "sim_topk_ann_persisted",
    oracle=SIM_TOPK_ANN_LSH_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "similarity", "ann", "storage"),
)
def sim_topk_ann_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted form of the SRP index: written hive-partitioned by
    ``bucket`` (operators/similarity.py write_srp_index), read back, and
    probed — the bucket filter is satisfied by PARTITION PRUNING at the
    source (directory-level skip, asserted in tests/test_llm.py), which is
    the cluster-scale story: a probe reads O(bucket) bytes off the store,
    not O(corpus). Same parameters as sim_topk_ann_lsh, so the same pinned
    golden must come back — storage round-trip + pruning cannot change the
    result."""
    from distributed_graph_database_system_spark.operators.similarity import (
        read_srp_index,
        write_srp_index,
    )
    from distributed_graph_database_system_spark.queries.helpers import scratch_dir

    qv = _query_vec(spark, sf_dir)
    indexed = srp_index(load_table(spark, sf_dir, "embeddings"), dim=64, nbits=5)
    path = scratch_dir("annidx", sf_dir, "srp_nbits5")
    write_srp_index(indexed, path)
    stored = read_srp_index(spark, path)
    return srp_ann_topk(
        stored.where(F.col("vec_id") != 0), qv, k=10, nbits=5, probes=1
    )


# --- Text analysis ---------------------------------------------------------


@query(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(CASE WHEN regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE len(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(coalesce(text, ''), '{BPE_ISH_PATTERN}')) AS BIGINT) AS bpe_tokens
    FROM documents
    """,
    tags=("llm", "text"),
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_fanned(spark, sf_dir)
    return d.select(
        "doc_id",
        ws_token_count(F.col("text")).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )


@query(
    "text_quality",
    oracle="""
    WITH feat AS (
      SELECT doc_id,
             CASE WHEN regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE len(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS n_tok,
             CASE WHEN length(coalesce(text, '')) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^.!?,;:''"()\\-]', '', 'g')) AS DOUBLE)
                       / length(text) END AS punct_r,
             CASE WHEN CASE WHEN regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE len(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+'),
                       ['the','and','of','to','is','in','that','it','was','for'])) AS DOUBLE)
                  / len(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS stop_r,
             CASE WHEN CASE WHEN regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE len(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(lower(text), '\\s+', '', 'g')) AS DOUBLE)
                  / len(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END AS mwl
      FROM documents
    )
    SELECT doc_id,
           ROUND((CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END)
                 + (CASE WHEN punct_r <= 0.2 THEN 0.2 ELSE 0.0 END)
                 + (CASE WHEN stop_r > 0 THEN 0.2 ELSE 0.0 END)
                 + (CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 0.2 ELSE 0.0 END), 1)
             AS quality
    FROM feat
    """,
    tags=("llm", "text", "quality"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_fanned(spark, sf_dir)
    return d.select("doc_id", quality_score(F.col("text")).alias("quality"))


@query(
    "text_langid",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS t
      FROM documents
    ), scores AS (
      SELECT doc_id,
        CAST(len(list_intersect(t, ['der','die','das','und','ist','nicht','ein','mit','von','zu'])) AS BIGINT) AS s_de,
        CAST(len(list_intersect(t, ['the','and','of','to','is','in','that','it','was','for'])) AS BIGINT) AS s_en,
        CAST(len(list_intersect(t, ['el','la','los','y','es','una','en','que','por','con'])) AS BIGINT) AS s_es,
        CAST(len(list_intersect(t, ['le','la','les','et','est','une','dans','que','pour','pas'])) AS BIGINT) AS s_fr
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM scores
    """,
    tags=("llm", "text", "langid"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_fanned(spark, sf_dir)
    return d.select("doc_id", lang_id(F.col("text")).alias("pred_lang"))


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_min(list_transform(range(1, GREATEST(length(coalesce(text, '')) - 7, 1) + 1),
                    i -> md5(substr(coalesce(text, ''), CAST(i AS INT), 8)))) AS fp
    FROM documents
    """,
    tags=("llm", "text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_fanned(spark, sf_dir)
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("fp"))


@query(
    "text_stats_by_source",
    oracle="""
    SELECT source, lang, COUNT(*) AS n_docs,
           CAST(SUM(CAST(n_chars AS DECIMAL(18,2))) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
           CAST(SUM(CASE WHEN regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN 0 ELSE len(string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')) END) AS BIGINT) AS total_tokens
    FROM documents GROUP BY source, lang
    """,
    tags=("llm", "text", "stats"),
)
def text_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from distributed_graph_database_system_spark.queries.helpers import davg

    d = _docs_fanned(spark, sf_dir)
    return d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        davg("n_chars").alias("avg_chars"),
        F.sum(ws_token_count(F.col("text"))).alias("total_tokens"),
    )


# --- Multimodal plumbing ---------------------------------------------------


@query(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
    tags=("llm", "multimodal"),
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text bytes as opaque media → mapInPandas
    structural decode. Byte length + sha256 are codec-independent, so the
    Arrow plumbing is oracle-checkable even with the codec stubbed."""
    media = documents_as_media(load_table(spark, sf_dir, "documents"))
    return decode_media(media, fake=True).select(
        "media_id", "kind", "n_bytes", "sha256"
    )


@query(
    "multimodal_decode_real",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                           WHEN 2 THEN 'bmp' WHEN 3 THEN 'jpeg'
                           WHEN 4 THEN 'wav' ELSE 'avi' END AS fmt,
           CASE WHEN doc_id % 6 IN (4) THEN 'audio'
                WHEN doc_id % 6 IN (5) THEN 'video' ELSE 'image' END AS kind,
           CASE WHEN doc_id % 6 = 4 THEN NULL
                ELSE CAST(16 + doc_id % 97 AS INTEGER) END AS width,
           CASE WHEN doc_id % 6 = 4 THEN NULL
                ELSE CAST(16 + (doc_id * 7) % 89 AS INTEGER) END AS height,
           CASE WHEN doc_id % 6 = 4
                  THEN CAST((800 + (doc_id % 100) * 16) * 2 AS DOUBLE) / 16000
                WHEN doc_id % 6 = 5
                  THEN CAST((10 + doc_id % 50) * 40000 AS DOUBLE) / 1000000.0
                ELSE NULL END AS duration_s
    FROM documents
    """,
    tags=("llm", "multimodal", "codec"),
)
def multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL structural codec, end to end: synthesize valid PNG/GIF/BMP/JPEG/
    WAV/AVI bytes deterministically from doc_id (operators/multimodal.py
    ``documents_as_synth_media``), then parse them back with the pure-stdlib
    header decoder (``parse_media``). Dims/duration are arithmetic in doc_id,
    so the oracle recomputes the expectation in SQL — a wrong parser (endian
    swap, off-by-one offset, bad RIFF walk) hash-mismatches immediately."""
    media = documents_as_synth_media(load_table(spark, sf_dir, "documents"))
    return decode_media(media).select(
        "media_id", "fmt", "kind", "width", "height", "duration_s"
    )


@query(
    "multimodal_deep_audio",
    oracle="""
    WITH wavs AS (
      SELECT doc_id, 800 + (doc_id % 100) * 16 AS n FROM documents
      WHERE doc_id % 6 = 4
    ),
    s AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS k FROM wavs
    ),
    x AS (
      SELECT doc_id, n, ((doc_id * 31 + k * 7) % 201) - 100 AS v FROM s
    )
    SELECT doc_id AS media_id,
           CAST(n AS BIGINT) AS n_samples,
           CAST(MAX(ABS(v)) AS INTEGER) AS audio_peak,
           CAST(SUM(v * v) AS BIGINT) AS audio_sqsum,
           ROUND(SQRT(CAST(SUM(v * v) AS DOUBLE) / n), 6) AS rms
    FROM x GROUP BY doc_id, n ORDER BY media_id
    """,
    tags=("llm", "multimodal", "codec", "deep"),
)
def multimodal_deep_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL payload decode, driver-verified: the synth WAVs carry a
    deterministic PCM16 ramp (sample k of doc i = ((i·31 + k·7) mod 201)
    − 100), decode_media(deep=True) reads the samples back through the
    pure-stdlib PCM path, and the oracle recomputes frame count, peak
    |sample|, and the EXACT integer Σ sample² with generate_series — a
    wrong chunk walk, endianness, or stride hash-mismatches immediately.
    RMS is the one derived float: a single sqrt of an exact rational,
    identical in both engines. Pixel-payload paths (PNG filters, BMP
    strides) are covered by the numpy-reference pytest."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
    )

    # pre-synth filter (doc_id % 6 == 4 IS the audio cohort): Catalyst
    # cannot push the kind filter through mapInPandas, so filtering after
    # would synthesize all six formats' blobs to keep one
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 6 == 4)
    )
    deep = decode_media(media, deep=True)
    return deep.select(
        "media_id",
        "n_samples",
        "audio_peak",
        "audio_sqsum",
        F.round(
            F.sqrt(
                F.col("audio_sqsum").cast("double")
                / (F.col("n_samples") * F.col("audio_channels"))
            ),
            6,
        ).alias("rms"),
    ).orderBy("media_id")


@query(
    "multimodal_deep_audio_24bit",
    oracle="""
    WITH wavs AS (
      SELECT doc_id, 800 + (doc_id % 100) * 16 AS n FROM documents
      WHERE doc_id % 12 = 10
    ),
    s AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS k FROM wavs
    ),
    x AS (
      SELECT doc_id, n, ((doc_id * 31 + k * 7) % 201) - 100 AS v FROM s
    )
    SELECT doc_id AS media_id,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(MAX(ABS(v)) AS BIGINT) AS audio_peak,
           CAST(SUM(v * v) AS BIGINT) AS audio_sqsum
    FROM x GROUP BY doc_id ORDER BY media_id
    """,
    tags=("llm", "multimodal", "codec", "deep", "audio", "pcm24"),
)
def multimodal_deep_audio_24bit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-BIT PCM decode, driver-verified: the doc_id % 12 == 10 slice
    stores the deterministic ramp left-shifted to 24-bit depth
    (3-byte little-endian signed frames), and _wav_samples16's sign
    extension + 16-bit-domain projection must land on exactly the same
    integers the 16-bit twin decodes — so the oracle is the SAME
    closed form in (doc_id, k). A wrong sign extension, byte order, or
    projection shift hash-mismatches immediately. The projection is also
    why the exact Σ sample² stays inside int64 at any depth/length (a
    raw 32-bit sqsum overflows int64 after four full-scale samples)."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
    )

    # pre-synth filter: see multimodal_deep_jpeg
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 12 == 10)
    )
    return (
        decode_media(media, deep=True)
        .select("media_id", "n_samples", "audio_peak", "audio_sqsum")
        .orderBy("media_id")
    )


@query(
    "multimodal_deep_jpeg",
    oracle="""
    WITH g AS (
      SELECT doc_id, 16 + doc_id % 97 AS w, 16 + (doc_id * 7) % 89 AS h
      FROM documents WHERE doc_id % 6 = 3
    ),
    bxs AS (
      SELECT doc_id, w, h, unnest(generate_series(0, (w + 7) // 8 - 1)) AS bx
      FROM g
    ),
    blocks AS (
      SELECT doc_id, w, h, bx,
             unnest(generate_series(0, (h + 7) // 8 - 1)) AS by
      FROM bxs
    ),
    vals AS (
      SELECT doc_id, w, h,
             128 + 2 * (((doc_id + 3 * bx + 5 * by) % 25) - 12) AS v,
             LEAST(8, w - bx * 8) * LEAST(8, h - by * 8) AS npx
      FROM blocks
    )
    SELECT doc_id AS media_id,
           CAST(SUM(v * npx) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INTEGER) AS px_min,
           CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px
    FROM vals GROUP BY doc_id ORDER BY media_id
    """,
    tags=("llm", "multimodal", "codec", "deep", "jpeg"),
)
def multimodal_deep_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG payload decode, driver-verified: the synth JPEGs
    are complete entropy-coded streams (standard Annex-K Huffman tables,
    flat q0=16 quant table, DC-only blocks with dc = ((doc_id + 3bx +
    5by) mod 25) − 12), decode_media(deep=True) runs the full pipeline —
    segment walk, Huffman decode with byte unstuffing, dequantize,
    de-zigzag, IDCT, level shift, edge-block crop — and the oracle
    recomputes the pixel stats closed-form: a DC-only block decodes to
    exactly 128 + 2·dc everywhere. A wrong Huffman table, bit order, DC
    prediction, or crop hash-mismatches immediately. (AC coefficients,
    ZRL runs and EOB are exercised by the pytest roundtrip against an
    independent numpy IDCT; the lossy general case has no SQL-exact
    oracle by nature.)"""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
    )

    # filter BEFORE the synth mapInPandas (media_id == doc_id): Catalyst
    # cannot push a filter through mapInPandas, and synthesizing the other
    # five formats' blobs just to discard them costs ~6x
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 6 == 3)
    )
    return (
        decode_media(media, deep=True)
        .select("media_id", "px_sum", "px_min", "px_max", "n_px")
        .orderBy("media_id")
    )


@query(
    "multimodal_deep_jpeg_progressive",
    oracle="""
    WITH g AS (
      SELECT doc_id, 16 + doc_id % 97 AS w, 16 + (doc_id * 7) % 89 AS h
      FROM documents WHERE doc_id % 12 = 9
    ),
    bxs AS (
      SELECT doc_id, w, h, unnest(generate_series(0, (w + 7) // 8 - 1)) AS bx
      FROM g
    ),
    blocks AS (
      SELECT doc_id, w, h, bx,
             unnest(generate_series(0, (h + 7) // 8 - 1)) AS by
      FROM bxs
    ),
    vals AS (
      SELECT doc_id, w, h,
             128 + 2 * (((doc_id + 3 * bx + 5 * by) % 25) - 12) AS v,
             LEAST(8, w - bx * 8) * LEAST(8, h - by * 8) AS npx
      FROM blocks
    )
    SELECT doc_id AS media_id,
           CAST(SUM(v * npx) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INTEGER) AS px_min,
           CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px
    FROM vals GROUP BY doc_id ORDER BY media_id
    """,
    tags=("llm", "multimodal", "codec", "deep", "jpeg", "progressive"),
)
def multimodal_deep_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG (SOF2) payload decode, driver-verified: the
    doc_id % 12 == 9 slice of the synth corpus ships its DC-only
    coefficient field as a genuine multi-scan successive-approximation
    stream (DC first scan at Al=1, banded AC first passes, EOBRUN runs
    across the all-zero AC bands, DC + AC refinement scans — the Annex G
    protocol), and decode_media(deep=True) reconstructs it through
    operators/multimodal.py _deep_jpeg_progressive. The oracle recomputes
    the stats closed-form: a DC-only block still decodes to exactly
    128 + 2·dc with q0=16, so a wrong point transform, refinement bit,
    EOBRUN length, or scan-order bug hash-mismatches immediately. (AC
    spectral selection and the correction-bit algorithm are pinned by
    the pytest property sweep against the baseline decoder on identical
    coefficients.)"""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
    )

    # pre-synth filter: see multimodal_deep_jpeg
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 12 == 9)
    )
    return (
        decode_media(media, deep=True)
        .select("media_id", "px_sum", "px_min", "px_max", "n_px")
        .orderBy("media_id")
    )


@query(
    "multimodal_deep_png_rgb",
    oracle="""
    WITH g AS (
      SELECT doc_id, 16 + doc_id % 97 AS w, 16 + (doc_id * 7) % 89 AS h
      FROM documents WHERE doc_id % 12 = 6
    ),
    rws AS (
      SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS y FROM g
    ),
    vals AS (
      SELECT doc_id, w, h, (3 * doc_id + 7 * y) % 256 AS v FROM rws
    )
    SELECT doc_id AS media_id,
           CAST(SUM(v * w) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INTEGER) AS px_min,
           CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px
    FROM vals GROUP BY doc_id ORDER BY media_id
    """,
    tags=("llm", "multimodal", "codec", "deep", "png", "rgb"),
)
def multimodal_deep_png_rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUECOLOR (RGB) PNG decode, driver-verified: the doc_id % 12 == 6
    slice carries 8-bit RGB scanlines whose rows cycle through ALL FIVE
    PNG filter types at bpp=3 (the byte-offset-3 left neighbor — a
    grayscale-only filter implementation decodes these wrong, not just
    differently), reconstructed by the generalized _png_unfilter and
    reduced over the RED channel (the documented first-channel
    projection, same as GIF). The oracle recomputes the per-row-constant
    red stats closed-form in (doc_id, y). Palette / gray+alpha / RGBA
    variants and Adam7-interlaced decode (passes partition the pixel
    multiset, so position-free stats accumulate exactly) are pinned in
    pytest; 16-bit files quarantine."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
    )

    # pre-synth filter: see multimodal_deep_jpeg
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 12 == 6)
    )
    return (
        decode_media(media, deep=True)
        .select("media_id", "px_sum", "px_min", "px_max", "n_px")
        .orderBy("media_id")
    )


@query(
    "multimodal_deep_gif",
    oracle="""
    WITH g AS (
      SELECT doc_id, 16 + doc_id % 97 AS w, 16 + (doc_id * 7) % 89 AS h
      FROM documents WHERE doc_id % 12 = 1
    ),
    rws AS (
      SELECT doc_id, w, h, unnest(generate_series(0, h - 1)) AS y FROM g
    ),
    vals AS (
      SELECT doc_id, w, h, 85 * ((doc_id + y) % 4) AS v FROM rws
    )
    SELECT doc_id AS media_id,
           CAST(SUM(v * w) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INTEGER) AS px_min,
           CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px
    FROM vals GROUP BY doc_id ORDER BY media_id
    """,
    tags=("llm", "multimodal", "codec", "deep", "gif"),
)
def multimodal_deep_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF payload decode, driver-verified: the synth GIFs carry
    LZW-coded per-row-constant indices (row y of doc i = (i+y) mod 4 over
    a 4-gray palette), decode_media(deep=True) reassembles the data
    sub-blocks and runs the complete variable-width LZW (single-frame
    slice doc_id % 12 == 1; the animated slice is
    multimodal_deep_gif_animated) (clear codes,
    early width change, KwKwK, 4096-entry reset — conformance anchored by
    the canonical externally-produced 1x1 GIF in pytest), and the oracle
    recomputes the stats closed-form in (doc_id, y). A wrong bit order,
    width-change boundary, or palette mapping hash-mismatches
    immediately."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
    )

    # pre-synth filter: see multimodal_deep_jpeg
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 12 == 1)
    )
    return (
        decode_media(media, deep=True)
        .select("media_id", "px_sum", "px_min", "px_max", "n_px")
        .orderBy("media_id")
    )


@query(
    "multimodal_deep_gif_animated",
    oracle="""
    WITH g AS (
      SELECT doc_id, 16 + doc_id % 97 AS w, 16 + (doc_id * 7) % 89 AS h,
             3 + doc_id % 4 AS nf
      FROM documents WHERE doc_id % 12 = 7
    ),
    fr AS (
      SELECT doc_id, w, h, nf, unnest(generate_series(0, nf - 1)) AS f
      FROM g
    ),
    rws AS (
      SELECT doc_id, w, h, nf, f, unnest(generate_series(0, h - 1)) AS y
      FROM fr
    ),
    vals AS (
      SELECT doc_id, w, h, nf, 85 * ((doc_id + y + f) % 4) AS v FROM rws
    )
    SELECT doc_id AS media_id,
           CAST(SUM(v * w) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INTEGER) AS px_min,
           CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(MAX(w) * MAX(h) * MAX(nf) AS BIGINT) AS n_px
    FROM vals GROUP BY doc_id ORDER BY media_id
    """,
    tags=("llm", "multimodal", "codec", "deep", "gif", "animated"),
)
def multimodal_deep_gif_animated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED GIF decode, driver-verified: the doc_id % 12 == 7 slice
    carries 3–6 full image frames (each with a Graphic Control Extension,
    the browser-emitted multi-frame layout), every frame LZW-decoded and
    the raw per-frame stats accumulated (n_px = w·h·frames — codec
    output; disposal compositing is deliberately out of scope, stats
    need pixels not on-screen animation state). The oracle recomputes
    closed-form in (doc_id, y, f). A real crawled corpus is full of
    animated GIFs — before this query they silently contributed only
    their first frame."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
    )

    # pre-synth filter: see multimodal_deep_jpeg
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 12 == 7)
    )
    return (
        decode_media(media, deep=True)
        .select("media_id", "px_sum", "px_min", "px_max", "n_px")
        .orderBy("media_id")
    )


@query(
    "multimodal_deep_avi",
    oracle="""
    WITH g AS (
      SELECT doc_id, 16 + doc_id % 97 AS w, 16 + (doc_id * 7) % 89 AS h,
             10 + doc_id % 50 AS nf
      FROM documents WHERE doc_id % 12 = 5
    ),
    frames AS (
      SELECT doc_id, w, h, nf, unnest(generate_series(0, nf - 1)) AS f
      FROM g
    ),
    vals AS (
      SELECT doc_id, w, h, nf, (doc_id * 5 + 3 * f) % 256 AS v FROM frames
    )
    SELECT doc_id AS media_id,
           CAST(SUM(v) * MAX(w) * MAX(h) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INTEGER) AS px_min,
           CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(MAX(w) * MAX(h) * MAX(nf) AS BIGINT) AS n_px
    FROM vals GROUP BY doc_id ORDER BY media_id
    """,
    tags=("llm", "multimodal", "codec", "deep", "avi", "video"),
)
def multimodal_deep_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL AVI movi payload decode (uncompressed slice, doc_id % 12 ==
    5), driver-verified: the synth AVIs carry spec-proper strl/strh/strf
    stream headers and a LIST/movi of uncompressed 8-bit DIB '00db'
    frames (frame f of doc i a constant gray (5i+3f) mod 256, rows
    4-byte aligned, palette-mapped), and decode_media(deep=True) walks
    the RIFF tree, validates BI_RGB 8-bit in strf, and aggregates exact
    pixel stats over ALL frames; the oracle recomputes them closed-form
    in (doc_id, f). The Motion-JPEG slice is exercised separately by
    multimodal_deep_avi_mjpeg; other codecs quarantine to NULL — the
    decided codec-library boundary."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
    )

    # pre-synth filter: see multimodal_deep_jpeg
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 12 == 5)
    )
    return (
        decode_media(media, deep=True)
        .select("media_id", "px_sum", "px_min", "px_max", "n_px")
        .orderBy("media_id")
    )


@query(
    "multimodal_deep_avi_mjpeg",
    oracle="""
    WITH g AS (
      SELECT doc_id, 16 + doc_id % 97 AS w, 16 + (doc_id * 7) % 89 AS h,
             10 + doc_id % 50 AS nf
      FROM documents WHERE doc_id % 12 = 11
    ),
    frames AS (
      SELECT doc_id, w, h, nf, unnest(generate_series(0, nf - 1)) AS f
      FROM g
    ),
    vals AS (
      SELECT doc_id, w, h, nf,
             128 + 2 * (((doc_id * 5 + 3 * f) % 25) - 12) AS v
      FROM frames
    )
    SELECT doc_id AS media_id,
           CAST(SUM(v) * MAX(w) * MAX(h) AS BIGINT) AS px_sum,
           CAST(MIN(v) AS INTEGER) AS px_min,
           CAST(MAX(v) AS INTEGER) AS px_max,
           CAST(MAX(w) * MAX(h) * MAX(nf) AS BIGINT) AS n_px
    FROM vals GROUP BY doc_id ORDER BY media_id
    """,
    tags=("llm", "multimodal", "codec", "deep", "avi", "mjpeg", "video"),
)
def multimodal_deep_avi_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Motion-JPEG AVI decode, driver-verified: the doc_id % 12 ==
    11 slice ships a biCompression='MJPG' video stream whose '00dc'
    chunks are complete baseline JPEGs (frame f of doc i DC-only with
    dc = ((5i+3f) mod 25) - 12), and decode_media(deep=True) feeds each
    frame through the in-repo baseline JPEG decoder (Huffman + IDCT) and
    aggregates exact pixel stats across frames — a COMPRESSED video
    codec decoded end-to-end, no codec library. The oracle recomputes
    the stats closed-form: a DC-only frame decodes to exactly 128 + 2·dc
    at q0=16. Interframe codecs (cinepak/MPEG-4/H.264) remain the
    decided out-of-scope boundary."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        decode_media,
    )

    # pre-synth filter: see multimodal_deep_jpeg
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 12 == 11)
    )
    return (
        decode_media(media, deep=True)
        .select("media_id", "px_sum", "px_min", "px_max", "n_px")
        .orderBy("media_id")
    )


@query(
    "multimodal_resize_plan",
    oracle="""
    WITH dims AS (
      SELECT doc_id AS media_id,
             16 + doc_id % 97 AS width, 16 + (doc_id * 7) % 89 AS height
      FROM documents WHERE doc_id % 6 <> 4
    ), scaled AS (
      SELECT media_id, width, height,
             LEAST(1.0, 96 / CAST(GREATEST(width, height) AS DOUBLE)) AS scale
      FROM dims
    )
    SELECT media_id, CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(LEAST(CEIL(width * scale), 96) AS INTEGER) AS target_w,
           CAST(LEAST(CEIL(height * scale), 96) AS INTEGER) AS target_h
    FROM scaled
    """,
    tags=("llm", "multimodal"),
)
def multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize planning over REAL decoded dimensions
    (synth media → structural decode → pure column math). The oracle
    recomputes the geometry from the synth layout; the max-side clamp and
    the ceil-overshoot guard (multimodal.py resize_plan) are both under
    test — dims where side*scale rounds up past max_side hash-mismatch."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        resize_plan,
    )

    media = documents_as_synth_media(load_table(spark, sf_dir, "documents"))
    return resize_plan(decode_media(media), max_side=96)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH vids AS (
      SELECT doc_id AS media_id,
             CAST((10 + doc_id % 50) * 40000 AS DOUBLE) / 1000000.0 AS duration_s
      FROM documents WHERE doc_id % 6 = 5
    )
    SELECT v.media_id, CAST(f.frame_idx AS INTEGER) AS frame_idx,
           ROUND(f.frame_idx / 2.0, 3) AS sample_ts
    FROM vids v,
         LATERAL (
           SELECT UNNEST(generate_series(
             0, GREATEST(CAST(FLOOR(v.duration_s * 2.0) AS INTEGER) - 1, 0)
           )) AS frame_idx
         ) f
    """,
    tags=("llm", "multimodal"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan at 2 fps over the synth AVI durations: the
    ``explode(sequence(...))`` fan-out (distributed row generation, never a
    driver loop) against DuckDB's generate_series as the oracle."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        frame_sample_plan,
    )

    media = documents_as_synth_media(load_table(spark, sf_dir, "documents"))
    return frame_sample_plan(decode_media(media), fps=2.0)


@query(
    "sim_topk_ann_ivf",
    oracle=SIM_TOPK_ANN_IVF_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "similarity", "ann", "ivf"),
)
def sim_topk_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN top-10 (k-means coarse quantizer, nprobe=3). Approximate
    vs brute force (recall asserted in tests/test_llm.py) but deterministic:
    fixed KMeans seed + pinned input ORDER (ivf_index repartitions on the id
    column AND sorts within partitions before fit — repartition alone pins
    placement, not order). Partition-invariance asserted by
    test_pinned_operators_partition_invariant; oracle is a generated
    sf0.01-pinned VALUES golden."""
    from distributed_graph_database_system_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_index,
    )

    qv = _query_vec(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    indexed, centroids = ivf_index(emb, n_lists=8)
    return ivf_ann_topk(indexed, centroids, qv, k=10, nprobe=3)


_WS_TOKS_SQL = (
    "string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+')"
)
# Shared n-gram occurrence CTE for the exact-substring dedup oracles:
# tokenize exactly like ws_tokens, window with an inclusive 1-based list
# slice (toks[i:i+n-1] = n tokens), one row per position.
_GRAMS_CTE = f"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKS_SQL} AS toks
      FROM documents
      WHERE regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
    ), g AS (
      SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
      FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)
      WHERE len(toks) >= 8
    )
"""


@query(
    "dedup_substring_grams",
    oracle=_GRAMS_CTE
    + """
    SELECT gram,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY n_docs DESC, n_occ DESC, gram LIMIT 50
    """,
    tags=("llm", "dedup", "substring"),
)
def dedup_substring_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (Lee et al. 2022 style): the top
    token-8-grams that appear verbatim in ≥2 distinct documents. The
    suffix-array formulation of the paper is replaced by the
    shuffle-native one — explode window positions, groupBy the gram — which
    Spark executes as one partial-aggregated exchange on the gram key."""
    from distributed_graph_database_system_spark.operators.dedup import (
        duplicated_ngram_stats,
        ngram_spans,
    )

    grams = ngram_spans(_docs_fanned(spark, sf_dir), n=8)
    return (
        duplicated_ngram_stats(grams, min_docs=2)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), "gram")
        .limit(50)
    )


@query(
    "dedup_substring_docfrac",
    oracle=_GRAMS_CTE
    + """
    , s AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM g GROUP BY gram
    ), j AS (
      SELECT g.doc_id, CASE WHEN s.n_docs >= 2 THEN 1 ELSE 0 END AS dup
      FROM g JOIN s USING (gram)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND(CAST(SUM(dup) AS DOUBLE) / COUNT(*), 4) AS dup_frac
    FROM j GROUP BY doc_id HAVING SUM(dup) > 0
    ORDER BY dup_frac DESC, doc_id LIMIT 100
    """,
    tags=("llm", "dedup", "substring"),
)
def dedup_substring_docfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span fraction: share of a doc's token
    8-gram positions whose gram also appears in another document — the
    doc-level screen a substring-dedup pipeline thresholds on (drop or
    trim docs whose dup_frac exceeds a cutoff).

    Two shuffles on the gram key (stats + back-join), then a doc-key
    aggregate. The back-join is gram→gram equi-join, never a product; at
    100 TB both sides bucket by xxhash64(gram) so the join co-locates."""
    from distributed_graph_database_system_spark.operators.dedup import (
        duplicated_ngram_stats,
        ngram_spans,
    )

    grams = ngram_spans(_docs_fanned(spark, sf_dir), n=8)
    stats = duplicated_ngram_stats(grams, min_docs=1).select(
        "gram", (F.col("n_docs") >= 2).cast("int").alias("dup")
    )
    return (
        grams.join(stats, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("dup").alias("n_dup"),
        )
        .where(F.col("n_dup") > 0)
        .select(
            "doc_id",
            "n_grams",
            F.round(
                F.col("n_dup").cast("double") / F.col("n_grams"), 4
            ).alias("dup_frac"),
        )
        .orderBy(F.desc("dup_frac"), "doc_id")
        .limit(100)
    )


@query(
    "featurize_hashing_trick",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKS_SQL} AS toks
      FROM documents
      WHERE regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
    ), tok AS (
      SELECT doc_id, UNNEST(toks) AS tok FROM t
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 256 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok WHERE doc_id % 25 = 0
    GROUP BY doc_id, bucket ORDER BY doc_id, bucket
    """,
    tags=("llm", "featurize", "hashing"),
)
def featurize_hashing_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse hashed bag-of-words vectors (operators/textstats.py
    hashed_features): vocabulary-free fixed-width featurization whose only
    shuffle is the (doc, bucket) partial-aggregated groupBy. The doc_id
    sample keeps the asserted output small; the full relation is what a
    downstream trainer would consume."""
    from distributed_graph_database_system_spark.operators.textstats import (
        hashed_features,
    )

    feats = hashed_features(_docs_fanned(spark, sf_dir), n_buckets=256)
    return (
        feats.where(F.col("doc_id") % 25 == 0)
        .select("doc_id", "bucket", "cnt")
        .orderBy("doc_id", "bucket")
    )


@query(
    "embed_pca_project",
    oracle=EMBED_PCA_PROJECT_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "embedding", "pca"),
)
def embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 principal-component projection of the embedding corpus
    (operators/pca.py): the O(rows) covariance accumulation is one
    partial-aggregated shuffle of exact integer micro-unit sums; the O(d³)
    eigendecomposition runs on the d×d driver matrix (corpus-independent);
    the projection is a JVM zip_with/aggregate dot product against literal
    components with a pinned sign convention. Deterministic under any
    partitioning (asserted in tests/test_llm.py), so the oracle is a
    VALUES golden pinned at the driver's sf0.01."""
    from distributed_graph_database_system_spark.operators.pca import pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    proj = pca_project(emb, dim=64, k=2)
    return proj.where(F.col("vec_id") % 10 == 0).orderBy("vec_id")


@query(
    "multimodal_audio_segments",
    oracle="""
    WITH wavs AS (
      SELECT doc_id, 800 + (doc_id % 100) * 16 AS n FROM documents
      WHERE doc_id % 6 = 4
    ), s AS (
      SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS k FROM wavs
    ), x AS (
      SELECT doc_id, k // 100 AS w_idx,
             ((doc_id * 31 + k * 7) % 201) - 100 AS v
      FROM s
    ), e AS (
      SELECT doc_id, w_idx, SUM(v * v) AS energy
      FROM x GROUP BY doc_id, w_idx
    ), a AS (
      SELECT doc_id, w_idx,
             w_idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w_idx) AS grp
      FROM e WHERE energy > 340000
    ), r AS (
      SELECT doc_id, grp, COUNT(*) AS run_len FROM a GROUP BY doc_id, grp
    ), agg AS (
      SELECT doc_id,
             COUNT(*) AS n_windows,
             COUNT(*) FILTER (energy > 340000) AS n_active
      FROM e GROUP BY doc_id
    ), lr AS (
      SELECT doc_id, MAX(run_len) AS longest FROM r GROUP BY doc_id
    )
    SELECT agg.doc_id AS media_id,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(COALESCE(longest, 0) AS BIGINT) AS longest_run
    FROM agg LEFT JOIN lr ON agg.doc_id = lr.doc_id
    ORDER BY media_id
    """,
    tags=("llm", "multimodal", "audio", "segmentation"),
)
def multimodal_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio activity segmentation (VAD front end): decode PCM16 WAVs into
    100-sample energy windows (operators/multimodal.py
    audio_energy_windows — the ONLY Python step), threshold on exact
    integer energy, and find each clip's active-window count and longest
    contiguous active run with the gaps-and-islands trick (w_idx −
    row_number is constant within a run) — all JVM-side. The oracle
    regenerates the synth PCM ramp with generate_series and replicates the
    segmentation in SQL, so a decode stride/window-boundary bug
    hash-mismatches."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        audio_energy_windows,
    )
    from pyspark.sql import Window as W

    # pre-synth filter (doc_id % 6 == 4 IS the audio cohort): filtering
    # after the synth mapInPandas would build all six formats' blobs
    media = documents_as_synth_media(
        load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 6 == 4)
    )
    e = audio_energy_windows(media, window=100)
    active = e.where(F.col("energy") > 340000).withColumn(
        "grp",
        F.col("w_idx")
        - F.row_number().over(W.partitionBy("media_id").orderBy("w_idx")),
    )
    runs = active.groupBy("media_id", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    lr = runs.groupBy("media_id").agg(F.max("run_len").alias("longest"))
    agg = e.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum((F.col("energy") > 340000).cast("long")).alias("n_active"),
    )
    return (
        agg.join(lr, "media_id", "left")
        .select(
            "media_id",
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.coalesce("longest", F.lit(0)).cast("bigint").alias("longest_run"),
        )
        .orderBy("media_id")
    )


@query(
    "bpe_train_merges",
    oracle=BPE_TRAIN_MERGES_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "tokenizer", "bpe"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 8 BPE merges trained on the document corpus
    (operators/bpe.py): corpus → distinct-word frequency vocab (one pass),
    then per merge one pair-count aggregation + 1-row argmax + parallel
    merge apply. Exact integer counts with lexicographic tie-break make
    the merge sequence a pure function of the corpus (asserted against the
    single-process reference in tests/test_bpe.py), so the oracle is a
    pinned VALUES golden."""
    from distributed_graph_database_system_spark.operators.bpe import bpe_train

    merges = bpe_train(load_table(spark, sf_dir, "documents"), n_merges=8)
    return spark.createDataFrame(
        merges, "rank BIGINT, left STRING, right STRING, pair_count BIGINT"
    ).orderBy("rank")


@query(
    "corpus_kl_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT lang, UNNEST({_WS_TOKS_SQL}) AS tok
      FROM documents
      WHERE regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
    ), c AS (
      SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY lang, tok
    ), vocab AS (
      SELECT DISTINCT tok FROM tok
    ), v AS (SELECT COUNT(*) AS v FROM vocab),
    tot AS (SELECT lang, SUM(c) AS n FROM c GROUP BY lang),
    grid AS (
      SELECT t.lang AS lang_q, vb.tok,
             COALESCE(ce.c, 0) AS c_p, COALESCE(cq.c, 0) AS c_q,
             te.n AS n_p, t.n AS n_q, v.v AS v
      FROM (SELECT lang, n FROM tot WHERE lang <> 'en') t
      CROSS JOIN vocab vb
      CROSS JOIN v
      CROSS JOIN (SELECT n FROM tot WHERE lang = 'en') te
      LEFT JOIN (SELECT tok, c FROM c WHERE lang = 'en') ce ON vb.tok = ce.tok
      LEFT JOIN c cq ON cq.lang = t.lang AND cq.tok = vb.tok
    ), contrib AS (
      SELECT lang_q,
             CAST(ROUND(((c_p + 1.0) / (n_p + v))
                  * ln(((c_p + 1.0) / (n_p + v)) / ((c_q + 1.0) / (n_q + v))),
                  12) AS DECIMAL(32,12)) AS kc
      FROM grid
    )
    SELECT lang_q, ROUND(CAST(SUM(kc) AS DOUBLE), 4) AS kl_en_vs_q
    FROM contrib GROUP BY lang_q ORDER BY lang_q
    """,
    tags=("llm", "text", "drift", "kl"),
)
def corpus_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: add-1-smoothed KL divergence of the English
    token distribution against every other language's, over the shared
    corpus vocabulary — the statistic a training-mix pipeline watches to
    catch source composition shifts between snapshots.

    Float discipline: each token's contribution p·ln(p/q) is ONE identical
    IEEE expression per engine, rounded to 12 decimals and summed as exact
    DECIMAL so partitioning can never reorder a float sum (helpers.py
    discipline). Scale: the (lang × vocab) grid is |vocab|·|langs| rows —
    partial-aggregated per lang; totals/vocab-size ride in as broadcast
    scalars."""
    from distributed_graph_database_system_spark.operators.textstats import (
        ws_tokens,
    )

    d = _docs_fanned(spark, sf_dir)
    tok = d.where(
        F.regexp_replace(F.coalesce("text", F.lit("")), r"^\s+|\s+$", "") != ""
    ).select("lang", F.explode(ws_tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = tok.select("tok").distinct()
    v = vocab.agg(F.count(F.lit(1)).alias("v"))
    tot = c.groupBy("lang").agg(F.sum("c").alias("n"))
    t_q = tot.where(F.col("lang") != "en").select(
        F.col("lang").alias("lang_q"), F.col("n").alias("n_q")
    )
    t_e = tot.where(F.col("lang") == "en").select(F.col("n").alias("n_p"))
    ce = c.where(F.col("lang") == "en").select("tok", F.col("c").alias("c_p"))
    cq = c.select(F.col("lang").alias("lang_q"), "tok", F.col("c").alias("c_q"))
    grid = (
        t_q.crossJoin(vocab)
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(t_e))
        .join(ce, "tok", "left")
        .join(cq, ["lang_q", "tok"], "left")
        .select(
            "lang_q",
            F.coalesce("c_p", F.lit(0)).alias("c_p"),
            F.coalesce("c_q", F.lit(0)).alias("c_q"),
            "n_p",
            "n_q",
            "v",
        )
    )
    p = (F.col("c_p") + 1.0) / (F.col("n_p") + F.col("v"))
    q = (F.col("c_q") + 1.0) / (F.col("n_q") + F.col("v"))
    kc = F.round(p * F.log(p / q), 12).cast("decimal(32,12)")
    return (
        grid.select("lang_q", kc.alias("kc"))
        .groupBy("lang_q")
        .agg(F.round(F.sum("kc").cast("double"), 4).alias("kl_en_vs_q"))
        .orderBy("lang_q")
    )


@query(
    "text_compression_ratio",
    oracle=TEXT_COMPRESSION_RATIO_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "text", "quality", "compression"),
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality screen: DEFLATE(level 6) size over UTF-8
    size per document — low ratios flag repetitive/templated text the way
    RefinedWeb/Gopher filters do. The zlib call is the only Python
    (Arrow-batched scalar UDF, one value per row — no state); raw size and
    the ratio are JVM expressions. Deterministic for a fixed zlib, hence a
    pinned VALUES golden on the sampled rows."""
    from distributed_graph_database_system_spark.operators.textstats import (
        zlib_compressed_size,
    )

    zsize = zlib_compressed_size()
    d = _docs_fanned(spark, sf_dir)
    return (
        d.where(F.col("doc_id") % 10 == 0)
        .select(
            "doc_id",
            F.octet_length("text").cast("bigint").alias("raw_bytes"),
            zsize(F.col("text")).alias("comp_bytes"),
        )
        .withColumn(
            "ratio",
            F.round(
                F.col("comp_bytes").cast("double") / F.col("raw_bytes"), 4
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "coreset_kcenter",
    oracle=CORESET_KCENTER_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "sampling", "coreset", "diversity"),
)
def coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center diversity coreset over the embedding corpus
    (operators/pca.py kcenter_coreset): 8 farthest-point picks, each
    iteration one broadcast-literal distance update + a 1-row argmax —
    the curation sampler that covers embedding space instead of
    oversampling dense clusters. Deterministic (quantized fixed-order
    distances, id tie-breaks, smallest-id start), partition-invariant —
    hence a pinned VALUES golden."""
    from distributed_graph_database_system_spark.operators.pca import (
        kcenter_coreset,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    picks = kcenter_coreset(emb, k=8)
    return spark.createDataFrame(
        picks, "rank BIGINT, vec_id BIGINT, dist DOUBLE"
    ).orderBy("rank")


@query(
    "bpe_encode_tokens",
    oracle=BPE_ENCODE_TOKENS_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "tokenizer", "bpe", "encode"),
)
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer round-trip: train 8 BPE merges on the corpus
    (bpe_train_merges), then ENCODE every 25th document with the learned
    table — per doc the whitespace-token count, the post-merge symbol
    count, and the chars-per-symbol ratio a sequence-length planner uses.
    Train is the registered iterative operator; encode is one parallel
    Arrow pass with the 8-entry merge list closed over. Deterministic end
    to end (train determinism is reference-tested), hence pinned."""
    from distributed_graph_database_system_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=8)
    enc = bpe_encode(docs.where(F.col("doc_id") % 25 == 0), merges)
    return enc.select(
        "doc_id",
        "n_tokens",
        "n_symbols",
        F.round(F.col("n_symbols").cast("double") / F.col("n_tokens"), 4).alias(
            "symbols_per_token"
        ),
    ).orderBy("doc_id")


@query(
    "dedup_containment",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct({_WS_TOKS_SQL}) AS toks
      FROM documents
      WHERE doc_id % 5 = 0
        AND regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_shared,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / len(a.toks), 4) AS containment_a_in_b
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks)) >= 0.8 * len(a.toks)
      AND len(a.toks) > 0
    ORDER BY id_a, id_b
    """,
    tags=("llm", "dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: token-set containment
    |A∩B| / |A| ≥ 0.8 — catches excerpts and quote-heavy copies that
    symmetric Jaccard misses (a 100-token excerpt of a 10k-token doc has
    tiny Jaccard but containment 1.0). Exact set expressions over the
    sampled pair grid here (the oracle-exact twin); the scale path is the
    SAME banded-LSH candidate generation every other dedup uses
    (dedup_minhash_lsh) with this containment verifier replacing the
    Jaccard one — candidates, not all pairs."""
    from distributed_graph_database_system_spark.operators.textstats import (
        ws_tokens,
    )

    d = _docs_fanned(spark, sf_dir)
    t = (
        d.where(
            (F.col("doc_id") % 5 == 0)
            & (
                F.regexp_replace(F.coalesce("text", F.lit("")), r"^\s+|\s+$", "")
                != ""
            )
        )
        .select("doc_id", F.array_distinct(ws_tokens(F.col("text"))).alias("toks"))
    )
    a = t.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    b = t.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    shared = F.size(F.array_intersect("ta", "tb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(
            # double compare, NOT an int cast: Spark casts truncate,
            # DuckDB casts round — 0.8·16=12.8 would admit shared=12 on
            # one engine only
            (F.size("ta") > 0)
            & (shared.cast("double") >= 0.8 * F.size("ta"))
        )
        .select(
            "id_a",
            "id_b",
            shared.cast("bigint").alias("n_shared"),
            F.round(shared.cast("double") / F.size("ta"), 4).alias(
                "containment_a_in_b"
            ),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "multimodal_image_phash",
    oracle=MULTIMODAL_IMAGE_PHASH_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "multimodal", "phash", "dedup"),
)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup end-to-end on REAL pixels: every 6th doc
    becomes a patterned grayscale PNG (pattern key = doc_id mod 30, so
    distinct docs share imagery; every doc_id % 36 == 6 member ships the
    SAME pixels Adam7-INTERLACED — image_dhash deinterlaces the full
    grid, so interlaced crawl images join their sequential twins'
    clusters instead of silently dropping out, and the pinned golden is
    unchanged by construction), image_dhash decodes the actual scanlines
    and fingerprints them, and a groupBy on the 64-bit dHash recovers the
    duplicate-image clusters — the multimodal analogue of exact text
    dedup, with the SimHash chunk-band join as the near-dup extension.
    One Arrow decode pass + one hash-keyed aggregate."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        image_dhash,
        make_png_pattern,
    )
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )
    import pandas as pd  # noqa: F811

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 6 == 0)
    schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("kind", StringType()),
            StructField("content", BinaryType()),
        ]
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                rows.append(
                    {
                        "media_id": d,
                        "kind": "image",
                        "content": make_png_pattern(
                            32 + d % 7,
                            32 + (d * 3) % 5,
                            key=d % 30,
                            interlace=(d % 36 == 6),
                        ),
                    }
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "content"])

    media = docs.select("doc_id").mapInPandas(synth, schema=schema)
    hashes = image_dhash(media, grid=8)
    return (
        hashes.groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("media_id").alias("keep_id"),
        )
        .where(F.col("n_images") >= 2)
        .orderBy(F.desc("n_images"), "keep_id")
        .limit(50)
    )


@query(
    "text_readability_flesch",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len({_WS_TOKS_SQL}) AS n_words,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
             GREATEST(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1) AS n_syll
      FROM documents
      WHERE regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sents AS BIGINT) AS n_sents,
           CAST(n_syll AS BIGINT) AS n_syllables,
           ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch
    FROM t WHERE n_words > 0 ORDER BY doc_id
    """,
    tags=("llm", "text", "readability", "quality"),
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from pure JVM expressions: word
    count (shared ws_tokens), sentence count (terminal-punctuation runs),
    and the standard vowel-group syllable heuristic — the readability
    band a training-mix curator filters or stratifies on (alongside
    text_quality's structural score). One narrow projection, no shuffle;
    the formula is a single identical IEEE expression per engine."""
    from distributed_graph_database_system_spark.operators.textstats import (
        ws_tokens,
    )

    d = _docs_fanned(spark, sf_dir)
    t = d.where(
        F.regexp_replace(F.coalesce("text", F.lit("")), r"^\s+|\s+$", "") != ""
    ).select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), 0)), F.lit(1)
        ).alias("n_sents"),
        F.greatest(
            F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiouy]+"), 0)),
            F.lit(1),
        ).alias("n_syll"),
    )
    return (
        t.where(F.col("n_words") > 0)
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("n_sents").cast("bigint").alias("n_sents"),
            F.col("n_syll").cast("bigint").alias("n_syllables"),
            F.round(
                206.835
                - 1.015 * (F.col("n_words").cast("double") / F.col("n_sents"))
                - 84.6 * (F.col("n_syll").cast("double") / F.col("n_words")),
                4,
            ).alias("flesch"),
        )
        .orderBy("doc_id")
    )


@query(
    "graph_bipartite_projection",
    oracle="""
    WITH sp AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    )
    SELECT a.s AS supp_a, b.s AS supp_b,
           CAST(COUNT(*) AS BIGINT) AS shared_parts
    FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
    GROUP BY a.s, b.s
    HAVING COUNT(*) >= 12
    ORDER BY shared_parts DESC, supp_a, supp_b LIMIT 50
    """,
    tags=("graph", "bipartite", "projection"),
)
def graph_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted one-mode projection of the supplier-part bipartite graph:
    suppliers joined by the count of co-supplied parts (edge weight =
    shared neighborhood size), thresholded — how co-occurrence networks
    (co-authorship, co-purchase, co-mention) are built from bipartite
    source data. Dedup first, then a part-keyed self-join (hash join on
    the shared vertex, never a product) with partial-aggregated counting.
    Hub parts (supplied by many) drive the fan-out — the degree-cap or
    hub-sampling mitigation is the same one triangle counting documents;
    the HAVING threshold keeps only the strong edges a downstream
    community detector would consume."""
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    a = sp.select(F.col("s").alias("supp_a"), "p")
    b = sp.select(F.col("s").alias("supp_b"), "p")
    return (
        a.join(b, "p")
        .where(F.col("supp_a") < F.col("supp_b"))
        .groupBy("supp_a", "supp_b")
        .agg(F.count(F.lit(1)).alias("shared_parts"))
        .where(F.col("shared_parts") >= 12)
        .orderBy(F.desc("shared_parts"), "supp_a", "supp_b")
        .limit(50)
    )


@query(
    "text_winnowing_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKS_SQL} AS toks
      FROM documents
      WHERE regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
    ), g AS (
      SELECT doc_id, i,
             CAST(('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))
                  AS BIGINT) AS hv
      FROM t, UNNEST(range(1, len(toks) - 3)) AS u(i)
      WHERE len(toks) >= 5
    ), w AS (
      SELECT doc_id,
             MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wm
      FROM g
    ), f AS (
      SELECT DISTINCT doc_id, wm FROM w
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM f a JOIN f b ON a.wm = b.wm AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 8
    ORDER BY shared_fps DESC, id_a, id_b LIMIT 50
    """,
    tags=("llm", "fingerprint", "winnowing", "copy-detection"),
)
def text_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing copy detection (Schleimer et al., the MOSS algorithm):
    hash every token 5-gram, slide a 4-window and keep each window's
    minimum hash — the selected fingerprints GUARANTEE any shared run of
    ≥ 8 tokens yields at least one shared fingerprint, at ~1/4 the
    storage of all grams — then report document pairs sharing ≥ 8
    fingerprints. Everything is JVM expressions over a per-doc window +
    one fingerprint-keyed join (hash join on the 60-bit md5 value, never
    a doc-pair product). The portable md5 hash is what makes the oracle
    replicate selection exactly; production swaps xxhash64."""
    from distributed_graph_database_system_spark.operators.textstats import (
        ws_tokens,
    )
    from pyspark.sql import Window as W

    d = _docs_fanned(spark, sf_dir)
    base = d.where(
        F.regexp_replace(F.coalesce("text", F.lit("")), r"^\s+|\s+$", "") != ""
    ).select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    g = (
        base.where(F.size("toks") >= 5)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 4)).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            "i",
            F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice("toks", F.col("i"), 5), " ")), 1, 15
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("hv"),
        )
    )
    w = W.partitionBy("doc_id").orderBy("i").rowsBetween(-3, 0)
    f = g.select("doc_id", F.min("hv").over(w).alias("wm")).distinct()
    a = f.select(F.col("doc_id").alias("id_a"), "wm")
    b = f.select(F.col("doc_id").alias("id_b"), "wm")
    return (
        a.join(b, "wm")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .where(F.col("shared_fps") >= 8)
        .orderBy(F.desc("shared_fps"), "id_a", "id_b")
        .limit(50)
    )


@query(
    "text_lexical_diversity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_WS_TOKS_SQL} AS toks
      FROM documents
      WHERE regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
    ), tok AS (
      SELECT doc_id, UNNEST(toks) AS tok FROM t
    ), c AS (
      SELECT doc_id, tok, COUNT(*) AS k FROM tok GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(k) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) FILTER (k = 1) AS BIGINT) AS n_hapax,
           ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(k), 4) AS ttr,
           ROUND(CAST(COUNT(*) FILTER (k = 1) AS DOUBLE) / COUNT(*), 4)
             AS hapax_ratio
    FROM c GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "text", "diversity"),
)
def text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document: type-token ratio and hapax-legomena
    fraction — the vocabulary-richness screens that separate natural prose
    from keyword-stuffed or template text (low TTR = repetitive, TTR ≈ 1 =
    word salad). One (doc, token) aggregate then a doc rollup — both
    partial-aggregated; ratios are single double divisions of exact
    integers."""
    from distributed_graph_database_system_spark.operators.textstats import (
        ws_tokens,
    )

    d = _docs_fanned(spark, sf_dir)
    tok = d.where(
        F.regexp_replace(F.coalesce("text", F.lit("")), r"^\s+|\s+$", "") != ""
    ).select("doc_id", F.explode(ws_tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("k"))
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum((F.col("k") == 1).cast("long")).cast("bigint").alias("n_hapax"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.round(
                F.col("n_types").cast("double") / F.col("n_tokens"), 4
            ).alias("ttr"),
            F.round(
                F.col("n_hapax").cast("double") / F.col("n_types"), 4
            ).alias("hapax_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_funnel_report",
    oracle=f"""
    WITH nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM documents),
    exact_flagged AS (
      SELECT COUNT(*) AS c FROM (
        SELECT md5(text) AS h FROM documents
      ) d JOIN (
        SELECT md5(text) AS h FROM documents GROUP BY md5(text) HAVING COUNT(*) >= 2
      ) g ON d.h = g.h
    ),
    t AS (
      SELECT doc_id, {_WS_TOKS_SQL} AS toks
      FROM documents
      WHERE regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
    ), g8 AS (
      SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS gram
      FROM t, UNNEST(range(1, len(toks) - 6)) AS u(i)
      WHERE len(toks) >= 8
    ), gs AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS n_docs FROM g8 GROUP BY gram
    ), docfrac AS (
      SELECT g8.doc_id,
             CAST(SUM(CASE WHEN gs.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS f
      FROM g8 JOIN gs ON g8.gram = gs.gram GROUP BY g8.doc_id
    ), substring_flagged AS (
      SELECT COUNT(*) AS c FROM docfrac WHERE f >= 0.5
    ), g5 AS (
      SELECT doc_id, i,
             CAST(('0x' || substr(md5(array_to_string(toks[i:i+4], ' ')), 1, 15))
                  AS BIGINT) AS hv
      FROM t, UNNEST(range(1, len(toks) - 3)) AS u(i)
      WHERE len(toks) >= 5
    ), wmin AS (
      SELECT doc_id,
             MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS wm
      FROM g5
    ), fps AS (SELECT DISTINCT doc_id, wm FROM wmin),
    wpairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM fps a JOIN fps b ON a.wm = b.wm AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 8
    ), winnow_flagged AS (
      SELECT COUNT(*) AS c FROM (
        SELECT id_a AS doc_id FROM wpairs UNION SELECT id_b FROM wpairs
      )
    )
    SELECT method, CAST(c AS BIGINT) AS docs_flagged,
           ROUND(c / nd.total, 4) AS flagged_frac
    FROM (
      SELECT 'exact' AS method, c FROM exact_flagged
      UNION ALL SELECT 'substring_50pct', c FROM substring_flagged
      UNION ALL SELECT 'winnowing_pairs', c FROM winnow_flagged
    ) CROSS JOIN nd
    ORDER BY method
    """,
    tags=("llm", "dedup", "report", "capstone"),
)
def dedup_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup coverage dashboard: how many documents each screening method
    flags — exact (md5 groups ≥ 2), duplicated-span density (≥ 50% of a
    doc's 8-gram positions shared), and winnowing fingerprint pairs (≥ 8
    shared window-min fingerprints) — as one tidy (method, count,
    fraction) report. Composes the registered operators' logic end to end;
    each branch keeps its own one-exchange shape, and the final UNION is
    three scalar aggregates. The per-method deltas are the curation
    signal: what the cheap screen misses and the expensive one catches."""
    from distributed_graph_database_system_spark.operators.dedup import (
        duplicated_ngram_stats,
        ngram_spans,
    )
    from distributed_graph_database_system_spark.operators.textstats import (
        ws_tokens,
    )
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    total = docs.count()

    groups = (
        docs.select(F.md5("text").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 2)
    )
    exact_c = (
        docs.select(F.md5("text").alias("h")).join(groups, "h").count()
    )

    grams = ngram_spans(_docs_fanned(spark, sf_dir), n=8)
    stats = duplicated_ngram_stats(grams, min_docs=1).select(
        "gram", (F.col("n_docs") >= 2).cast("int").alias("dup")
    )
    substring_c = (
        grams.join(stats, "gram")
        .groupBy("doc_id")
        .agg((F.sum("dup").cast("double") / F.count(F.lit(1))).alias("f"))
        .where(F.col("f") >= 0.5)
        .count()
    )

    base = docs.where(
        F.regexp_replace(F.coalesce("text", F.lit("")), r"^\s+|\s+$", "") != ""
    ).select("doc_id", ws_tokens(F.col("text")).alias("toks"))
    g5 = (
        base.where(F.size("toks") >= 5)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 4)).alias("i"),
            "toks",
        )
        .select(
            "doc_id",
            "i",
            F.conv(
                F.substring(
                    F.md5(F.array_join(F.slice("toks", F.col("i"), 5), " ")), 1, 15
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("hv"),
        )
    )
    w = W.partitionBy("doc_id").orderBy("i").rowsBetween(-3, 0)
    fps = g5.select("doc_id", F.min("hv").over(w).alias("wm")).distinct()
    a = fps.select(F.col("doc_id").alias("id_a"), "wm")
    b = fps.select(F.col("doc_id").alias("id_b"), "wm")
    wpairs = (
        a.join(b, "wm")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("nfp"))
        .where(F.col("nfp") >= 8)
    )
    winnow_c = (
        wpairs.select(F.col("id_a").alias("doc_id"))
        .unionAll(wpairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .count()
    )

    rows = [
        ("exact", exact_c),
        ("substring_50pct", substring_c),
        ("winnowing_pairs", winnow_c),
    ]
    return (
        spark.createDataFrame(rows, "method STRING, docs_flagged BIGINT")
        .select(
            "method",
            "docs_flagged",
            F.round(F.col("docs_flagged") / F.lit(float(total)), 4).alias(
                "flagged_frac"
            ),
        )
        .orderBy("method")
    )


@query(
    "corpus_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT UNNEST({_WS_TOKS_SQL}) AS tok
      FROM documents
      WHERE regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') <> ''
    ), c AS (
      SELECT tok, COUNT(*) AS f FROM tok GROUP BY tok
    ), r AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rank FROM c
    ), pts AS (
      SELECT CAST(ROUND(ln(CAST(rank AS DOUBLE)), 10) AS DECIMAL(28,10)) AS x,
             CAST(ROUND(ln(CAST(f AS DOUBLE)), 10) AS DECIMAL(28,10)) AS y,
             CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(f AS DOUBLE)), 10)
                  AS DECIMAL(28,10)) AS xy,
             CAST(ROUND(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE)), 10)
                  AS DECIMAL(28,10)) AS xx
      FROM r WHERE rank <= 500
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND((COUNT(*) * CAST(SUM(xy) AS DOUBLE)
                  - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE))
                 / (COUNT(*) * CAST(SUM(xx) AS DOUBLE)
                    - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 4)
             AS zipf_slope
    FROM pts
    """,
    tags=("llm", "text", "zipf", "regression"),
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent of the corpus: OLS slope of ln(frequency) against
    ln(rank) over the top-500 tokens — natural corpora sit near −1, and
    drift in the slope flags composition shifts (template spam flattens
    it, narrow-domain text steepens it). Rank ties break by token so the
    rank assignment is total; each regression moment is rounded to 10dp
    and summed as exact DECIMAL (the float-determinism discipline for
    sums of transcendentals), leaving ONE final slope expression."""
    from distributed_graph_database_system_spark.operators.textstats import (
        ws_tokens,
    )
    from pyspark.sql import Window as W

    d = _docs_fanned(spark, sf_dir)
    tok = d.where(
        F.regexp_replace(F.coalesce("text", F.lit("")), r"^\s+|\s+$", "") != ""
    ).select(F.explode(ws_tokens(F.col("text"))).alias("tok"))
    c = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    r = c.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("f"), "tok"))
    ).where(F.col("rank") <= 500)
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("f").cast("double"))
    pts = r.select(
        F.round(lx, 10).cast("decimal(28,10)").alias("x"),
        F.round(ly, 10).cast("decimal(28,10)").alias("y"),
        F.round(lx * ly, 10).cast("decimal(28,10)").alias("xy"),
        F.round(lx * lx, 10).cast("decimal(28,10)").alias("xx"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum("xy").cast("double").alias("sxy"),
        F.sum("xx").cast("double").alias("sxx"),
    )
    return agg.select(
        F.col("m").cast("bigint").alias("n_points"),
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
            4,
        ).alias("zipf_slope"),
    )


@query(
    "text_code_detection",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars,
             CAST(length(regexp_replace(coalesce(text, ''),
                  '[^{{}}();=<>\\[\\]|&]', '', 'g')) AS BIGINT) AS n_code_chars,
             CAST(len(regexp_extract_all(coalesce(text, ''),
                  '\\b(def|class|return|import|void|int|for|while|if|else|function|var|const)\\b'))
               AS BIGINT) AS n_keywords
      FROM documents
    )
    SELECT doc_id, n_chars, n_code_chars, n_keywords,
           ROUND(CAST(n_code_chars AS DOUBLE) / GREATEST(n_chars, 1), 4)
             AS symbol_ratio,
           CAST((CAST(n_code_chars AS DOUBLE) / GREATEST(n_chars, 1) > 0.02
                 OR n_keywords >= 3) AS BOOLEAN) AS looks_like_code
    FROM f ORDER BY doc_id
    """,
    tags=("llm", "text", "code-detection", "quality"),
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose screen: structural-symbol density ({};()=<>[]|&) and
    programming-keyword hits flag documents that are source code rather
    than natural text — the routing decision every mixed-corpus pipeline
    makes (code goes to the code pipeline's dedup/quality stack, prose to
    this one). Pure JVM regexp counting, one narrow projection; the
    thresholds are the tunable policy, the counts are the operator."""
    d = _docs_fanned(spark, sf_dir)
    # character count (not octet_length): DuckDB length() is chars, and
    # the two diverge on any non-ASCII byte
    n_chars = F.length(F.coalesce("text", F.lit(""))).cast("bigint")
    n_code = F.length(
        F.regexp_replace(
            F.coalesce("text", F.lit("")), r"[^{}();=<>\[\]|&]", ""
        )
    ).cast("bigint")
    n_kw = F.size(
        F.regexp_extract_all(
            F.coalesce("text", F.lit("")),
            F.lit(
                r"\b(def|class|return|import|void|int|for|while|if|else|function|var|const)\b"
            ),
            0,
        )
    ).cast("bigint")
    f = d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_code.alias("n_code_chars"),
        n_kw.alias("n_keywords"),
    )
    ratio = F.col("n_code_chars").cast("double") / F.greatest(
        F.col("n_chars"), F.lit(1)
    )
    return f.select(
        "doc_id",
        "n_chars",
        "n_code_chars",
        "n_keywords",
        F.round(ratio, 4).alias("symbol_ratio"),
        ((ratio > 0.02) | (F.col("n_keywords") >= 3)).alias("looks_like_code"),
    ).orderBy("doc_id")


@query(
    "sim_mmr_rerank",
    oracle=SIM_MMR_RERANK_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "similarity", "mmr", "diversity"),
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval: MMR re-ranking of the corpus against
    vec_id 0's embedding (λ=0.7, k=10) — relevance minus redundancy, the
    step between ANN top-k and a RAG context window
    (operators/similarity.py mmr_select; k-center-style distributed
    state, per-pick 1-row argmax). Deterministic (quantized fixed-order
    cosines, id tie-breaks, partition-invariance probed), hence a pinned
    VALUES golden."""
    from distributed_graph_database_system_spark.operators.similarity import (
        mmr_select,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in emb.where(F.col("vec_id") == 0).first()["embedding"]
    ]
    picks = mmr_select(emb.where(F.col("vec_id") != 0), qv, k=10, lam=0.7)
    return spark.createDataFrame(
        picks, "rank BIGINT, vec_id BIGINT, mmr_score DOUBLE"
    ).orderBy("rank")


@query(
    "embed_geometric_median",
    oracle=EMBED_GEOMETRIC_MEDIAN_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "embedding", "robust", "weiszfeld"),
)
def embed_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust corpus centroid: the geometric median of the embedding cloud
    by 3 Weiszfeld iterations (operators/pca.py geometric_median) — the
    outlier-resistant anchor for drift monitors and poisoning screens
    (corrupted embeddings drag the mean, not the median). Per-iteration
    reductions are quantized-decimal sums, so the whole trajectory is
    partition-invariant (probed); output is the first 8 coordinates plus
    the distance to the plain mean — the robustness gap itself."""
    from distributed_graph_database_system_spark.operators.pca import (
        geometric_median,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    med = geometric_median(emb, n_iter=3)
    n = emb.count()
    sums = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.sum(
                F.round(F.floor(F.col("x").cast("double") * 1_000_000) / 1_000_000, 9)
                .cast("decimal(28,9)")
            ).alias("s")
        )
        .collect()
    )
    mean = [0.0] * 64
    for r in sums:
        mean[int(r["pos"])] = float(r["s"]) / n
    gap = round(
        sum((a - b) ** 2 for a, b in zip(med, mean)) ** 0.5, 6
    )
    rows = [(i, med[i]) for i in range(8)] + [(-1, gap)]
    return spark.createDataFrame(
        rows, "coord INT, value DOUBLE"
    ).orderBy("coord")


@query(
    "text_langid_confusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             CASE WHEN regexp_replace(coalesce(text, ''), '^\\s+|\\s+$', '', 'g') = '' THEN []::VARCHAR[]
                  ELSE string_split_regex(regexp_replace(lower(text), '^\\s+|\\s+$', '', 'g'), '\\s+') END AS t
      FROM documents
    ), scores AS (
      SELECT doc_id, lang,
        CAST(len(list_intersect(t, ['der','die','das','und','ist','nicht','ein','mit','von','zu'])) AS BIGINT) AS s_de,
        CAST(len(list_intersect(t, ['the','and','of','to','is','in','that','it','was','for'])) AS BIGINT) AS s_en,
        CAST(len(list_intersect(t, ['el','la','los','y','es','una','en','que','por','con'])) AS BIGINT) AS s_es,
        CAST(len(list_intersect(t, ['le','la','les','et','est','une','dans','que','pour','pas'])) AS BIGINT) AS s_fr
      FROM toks
    ), pred AS (
      SELECT lang,
             CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                  WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                  WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                  WHEN s_es >= s_fr THEN 'es'
                  ELSE 'fr' END AS pred_lang
      FROM scores
    ), cm AS (
      SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, pred_lang
    )
    SELECT lang, pred_lang, n,
           CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS class_total,
           ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang), 4)
             AS class_frac
    FROM cm ORDER BY lang, pred_lang
    """,
    tags=("llm", "text", "langid", "evaluation"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a first-class query: the confusion matrix
    of the heuristic language-ID against the corpus's ground-truth lang
    labels, with per-class totals and fractions (the diagonal's fraction
    is per-class recall). One prediction projection + one (label, pred)
    aggregate — the evaluation shape every model-in-the-pipeline needs,
    here closing the loop on text_langid.

    zh-recall closure (round 8, measured): the fixture's lang labels are
    textually UNLEARNABLE — the whole corpus shares one 31-token
    vocabulary and every token occurs in every lang class at comparable
    rates (zero zh-exclusive tokens at sf0.01 AND sf0.1), so no zh
    lexicon exists that would lift recall above chance without
    memorizing doc_ids. The zh row of this matrix is therefore the
    correct, honest readout of that property, not a fixable gap; on a
    real multilingual corpus the operator takes a CJK-codepoint-class
    score (one extra regexp_count term on both engines) and the matrix
    re-certifies it."""
    from distributed_graph_database_system_spark.operators.textstats import (
        lang_id,
    )
    from pyspark.sql import Window as W

    d = _docs_fanned(spark, sf_dir)
    pred = d.select("lang", lang_id(F.col("text")).alias("pred_lang"))
    cm = pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("lang")
    return cm.select(
        "lang",
        "pred_lang",
        F.col("n").cast("bigint").alias("n"),
        F.sum("n").over(w).cast("bigint").alias("class_total"),
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 4).alias(
            "class_frac"
        ),
    ).orderBy("lang", "pred_lang")


@query(
    "embed_outlier_robust",
    oracle=EMBED_OUTLIER_ROBUST_GOLDEN,
    oracle_sf="0.01",
    tags=("llm", "embedding", "outlier", "robust"),
)
def embed_outlier_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust embedding outlier screen: distance to the GEOMETRIC MEDIAN
    (not the mean — outliers drag the mean toward themselves and then
    hide), flagged against median + 3·MAD of the distance distribution —
    the classical robust rule with a breakdown point the z-score rule
    lacks. Distances are quantized fixed-order sums; the two robust
    scalars come from the partition-bounded exact-quantile machinery
    over the |corpus| distance column.
    Output: the flagged vectors plus the thresholds row (vec_id −1) —
    poisoning/corruption candidates for manual review."""
    from distributed_graph_database_system_spark.operators.pca import (
        geometric_median,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    med = geometric_median(emb, n_iter=3)
    c = F.array(*[F.lit(float(x)) for x in med])
    q = F.transform(
        "embedding", lambda v: F.floor(v.cast("double") * 1_000_000) / 1_000_000
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(q, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
        6,
    )
    from distributed_graph_database_system_spark.operators.quantile import (
        _qcolname,
        group_quantiles_exact,
    )

    d = emb.select("vec_id", dist.alias("dist"))
    # both robust scalars via the partition-bounded exact-quantile
    # machinery (bit-identical to percentile(); the builtin would buffer
    # the whole |corpus| distance column in one aggregation task)
    med_d = float(
        group_quantiles_exact(
            d.withColumn("g", F.lit(1)), "dist", [0.5], ["g"]
        ).first()[_qcolname(0.5)]
    )
    mad = float(
        group_quantiles_exact(
            d.select(
                F.abs(F.col("dist") - F.lit(med_d)).alias("ad"),
                F.lit(1).alias("g"),
            ),
            "ad",
            [0.5],
            ["g"],
        ).first()[_qcolname(0.5)]
    )
    thresh = round(med_d + 3 * 1.4826 * mad, 6)
    flagged = (
        d.where(F.col("dist") > thresh)
        .select("vec_id", F.round("dist", 6).alias("value"))
        .orderBy("vec_id")
    )
    header = spark.createDataFrame(
        [(-1, thresh)], "vec_id BIGINT, value DOUBLE"
    )
    return header.unionByName(flagged).orderBy("vec_id")


def _register_multimodal_corpus_report() -> None:
    """Registered via a function so the composed oracle can read the
    per-format oracles AFTER they are all declared above (oracle_of
    requires registration order)."""
    from distributed_graph_database_system_spark.queries.registry import (
        oracle_of,
    )

    oracle = f"""
    WITH jpeg_rows AS ({oracle_of("multimodal_deep_jpeg")}),
    gif_rows AS (
      SELECT * FROM ({oracle_of("multimodal_deep_gif")})
      UNION ALL
      SELECT * FROM ({oracle_of("multimodal_deep_gif_animated")})
    ),
    png_rows AS (
      SELECT * FROM ({oracle_of("multimodal_deep_png_rgb")})
      UNION ALL
      SELECT doc_id AS media_id, CAST(0 AS BIGINT) AS px_sum,
             0 AS px_min, 0 AS px_max,
             CAST((16 + doc_id % 97) * (16 + (doc_id * 7) % 89) AS BIGINT)
               AS n_px
      FROM documents WHERE doc_id % 12 = 0
    ),
    bmp_rows AS (
      SELECT doc_id AS media_id, CAST(0 AS BIGINT) AS px_sum,
             0 AS px_min, 0 AS px_max,
             CAST(3 * (16 + doc_id % 97) * (16 + (doc_id * 7) % 89)
                  AS BIGINT) AS n_px
      FROM documents WHERE doc_id % 6 = 2
    ),
    avi_rows AS (
      SELECT * FROM ({oracle_of("multimodal_deep_avi")})
      UNION ALL
      SELECT * FROM ({oracle_of("multimodal_deep_avi_mjpeg")})
    ),
    wav_rows AS ({oracle_of("multimodal_deep_audio")})
    SELECT 'avi' AS fmt, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_deep_ok,
           CAST(SUM(n_px) AS BIGINT) AS units,
           CAST(MIN(px_min) AS BIGINT) AS lo,
           CAST(MAX(px_max) AS BIGINT) AS hi
    FROM avi_rows HAVING COUNT(*) > 0
    UNION ALL
    SELECT 'bmp', COUNT(*), COUNT(*), CAST(SUM(n_px) AS BIGINT),
           CAST(MIN(px_min) AS BIGINT), CAST(MAX(px_max) AS BIGINT)
    FROM bmp_rows HAVING COUNT(*) > 0
    UNION ALL
    SELECT 'gif', COUNT(*), COUNT(*), CAST(SUM(n_px) AS BIGINT),
           CAST(MIN(px_min) AS BIGINT), CAST(MAX(px_max) AS BIGINT)
    FROM gif_rows HAVING COUNT(*) > 0
    UNION ALL
    SELECT 'jpeg', COUNT(*), COUNT(*), CAST(SUM(n_px) AS BIGINT),
           CAST(MIN(px_min) AS BIGINT), CAST(MAX(px_max) AS BIGINT)
    FROM jpeg_rows HAVING COUNT(*) > 0
    UNION ALL
    SELECT 'png', COUNT(*), COUNT(*), CAST(SUM(n_px) AS BIGINT),
           CAST(MIN(px_min) AS BIGINT), CAST(MAX(px_max) AS BIGINT)
    FROM png_rows HAVING COUNT(*) > 0
    UNION ALL
    SELECT 'wav', COUNT(*), COUNT(*), CAST(SUM(n_samples) AS BIGINT),
           CAST(NULL AS BIGINT), CAST(MAX(audio_peak) AS BIGINT)
    FROM wav_rows HAVING COUNT(*) > 0
    ORDER BY fmt
    """

    @query(
        "multimodal_corpus_report",
        oracle=oracle,
        tags=("llm", "multimodal", "codec", "deep", "capstone"),
    )
    def multimodal_corpus_report(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """CAPSTONE: one per-format quality report over the ENTIRE synth
        media corpus — every deep-decode path this engine owns lands in a
        single driver hash: baseline + DRI + progressive (gray and color
        4:2:0) JPEG, single-frame + interlaced + animated GIF, gray +
        truecolor + Adam7 PNG, 24-bit BMP, 16/24-bit PCM WAV,
        uncompressed-DIB + Motion-JPEG AVI. n_deep_ok == n_docs asserts
        ZERO quarantines across the corpus (every slice honestly
        decodable must decode); units/lo/hi fold each format's exact
        integer stats. Each oracle branch carries HAVING COUNT(*) > 0 so
        an empty format cohort (a filtered fixture) emits NO row on
        either side — Spark's groupBy produces none. The oracle is COMPOSED from the per-format
        oracles already verified individually (merged.py discipline:
        reuse the proven SQL, never restate it)."""
        from distributed_graph_database_system_spark.operators.multimodal import (
            decode_media,
            documents_as_synth_media,
        )

        media = documents_as_synth_media(load_table(spark, sf_dir, "documents"))
        deep = decode_media(media, deep=True)
        return (
            deep.groupBy("fmt")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.count(F.coalesce("px_sum", "audio_sqsum"))
                .cast("bigint")
                .alias("n_deep_ok"),
                F.sum(F.coalesce("n_px", "n_samples"))
                .cast("bigint")
                .alias("units"),
                F.min("px_min").cast("bigint").alias("lo"),
                F.max(F.coalesce("px_max", "audio_peak"))
                .cast("bigint")
                .alias("hi"),
            )
            .orderBy("fmt")
        )


_register_multimodal_corpus_report()


@query(
    "pii_redaction_census",
    oracle="""
    WITH scans AS (
      SELECT doc_id,
             length(regexp_replace(text,
               '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+', '', 'g')) AS len_no_email,
             length(text) AS len_raw,
             length(regexp_replace(text,
               '[0-9]{3}-[0-9]{2}-[0-9]{4}', '', 'g')) AS len_no_ssn
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN len_no_email < len_raw THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_email,
           CAST(SUM(CASE WHEN len_no_ssn < len_raw THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_with_ssn,
           CAST(SUM(len_raw - len_no_email) AS BIGINT) AS email_chars,
           CAST(SUM(len_raw - len_no_ssn) AS BIGINT) AS ssn_chars
    FROM scans
    """,
    tags=("llm", "pii", "redaction", "privacy"),
)
def pii_redaction_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pre-redaction census: how many documents carry email-like or
    SSN-like spans and how many characters redaction would remove — the
    sizing pass a privacy scrub runs before committing to a rewrite of a
    100 TB corpus. Patterns are deliberately restricted to the regex
    subset Java and RE2/DuckDB interpret identically (explicit classes,
    bounded quantifiers — no \\b, no lookaround, no shorthand classes
    whose unicode semantics diverge); detection is measured as
    length(text) - length(regexp_replace(text, p, '')), a pure JVM-side
    scalar — counts and char deltas are exact integers. The fixture
    corpus may contain zero true PII; the census is the operator surface
    (zero counts are still hash-compared)."""
    d = load_table(spark, sf_dir, "documents")
    email = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
    ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
    scans = d.select(
        F.length("text").alias("len_raw"),
        F.length(F.regexp_replace("text", email, "")).alias("len_no_email"),
        F.length(F.regexp_replace("text", ssn, "")).alias("len_no_ssn"),
    )
    return scans.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("len_no_email") < F.col("len_raw"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("docs_with_email"),
        F.sum(F.when(F.col("len_no_ssn") < F.col("len_raw"), 1).otherwise(0))
        .cast("bigint")
        .alias("docs_with_ssn"),
        F.sum(F.col("len_raw") - F.col("len_no_email"))
        .cast("bigint")
        .alias("email_chars"),
        F.sum(F.col("len_raw") - F.col("len_no_ssn"))
        .cast("bigint")
        .alias("ssn_chars"),
    )


@query(
    "boilerplate_line_census",
    oracle="""
    WITH lines AS (
      SELECT doc_id, unnest(string_split(text, '. ')) AS line
      FROM documents
    ), norm AS (
      SELECT doc_id, trim(line) AS line FROM lines WHERE trim(line) <> ''
    ), freq AS (
      SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
      FROM norm GROUP BY line
    )
    SELECT doc_freq,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(length(line)) AS BIGINT) AS sum_chars
    FROM freq WHERE doc_freq >= 2
    GROUP BY doc_freq ORDER BY doc_freq DESC LIMIT 50
    """,
    tags=("llm", "boilerplate", "dedup", "lines"),
)
def boilerplate_line_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line detection (the CCNet/RefinedWeb line-dedup
    front end): sentences appearing in MANY documents are template
    boilerplate (headers, footers, licenses) that line-level filtering
    strips before model training. One explode + one exchange on the
    line key + a distinct-doc count per line — at 100 TB the groupBy
    key would be a line HASH (xxhash64) instead of the raw string, the
    only change. The census histograms line doc-frequency (how much
    text a doc_freq >= k filter would remove); fixture sentences are
    '. '-delimited."""
    d = load_table(spark, sf_dir, "documents")
    lines = d.select(
        "doc_id", F.explode(F.split("text", "\\. ")).alias("line")
    ).select("doc_id", F.trim("line").alias("line")).where(F.col("line") != "")
    freq = lines.groupBy("line").agg(
        F.count_distinct("doc_id").cast("bigint").alias("doc_freq")
    )
    return (
        freq.where(F.col("doc_freq") >= 2)
        .groupBy("doc_freq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.length("line")).cast("bigint").alias("sum_chars"),
        )
        .orderBy(F.desc("doc_freq"))
        .limit(50)
    )

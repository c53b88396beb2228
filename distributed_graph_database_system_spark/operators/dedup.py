"""Deduplication operators for large-scale text corpora (north-star surface).

Per-row work is either a JVM-side built-in (split/xxhash64/array ops) or an
Arrow-batched pandas UDF where the JVM form measured slower: the MinHash
shingle hashes and signatures (``shingle_hash_udf``,
``minhash_signature_udf``) and SimHash. Every candidate-generation step is
*bucketed* (equi-join on a band/bucket key) so the plan is a hash join,
never an all-pairs product: the shape that survives 100 TB.

- exact_dedup_groups: hash-groupBy on md5(text) — one shuffle.
- minhash_lsh_candidates / minhash_lsh_pairs: shingle → k-minhash signature
  → banded buckets → bucket equi-join → exact-Jaccard verify on candidates
  only.
- simhash64 + simhash_near_pairs: 64-bit SimHash, chunk-banded Hamming join.
- ngram_jaccard: exact token-shingle Jaccard expression (the verifier).
"""

from __future__ import annotations

import random as _random
import re as _re

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# Prime < 2^31 so (a * (h mod p)) fits in int64 without overflow.
_MERSENNE_31 = 2_147_483_647


# Single shared tokenizer: dedup shingles and text-stats metrics must agree
# on what a "token" is (NULL/empty → empty array).
from distributed_graph_database_system_spark.operators.textstats import (  # noqa: E402
    ws_tokens as tokens,
)


def ws_tokens_py(text: str | None) -> list[str]:
    """Python replica of the JVM ``ws_tokens`` expression, used by the Arrow
    UDF path so both tokenizations agree on EVERY input (not just ASCII):
    coalesce(text,'') → lower → strip ASCII-whitespace edges
    (``^\\s+|\\s+$``, matching the JVM regexp_replace — NOT str.strip(),
    whose default class is *Unicode* whitespace) → split on ``\\s+``.
    ``re.ASCII`` makes Python's ``\\s`` the same ``[ \\t\\n\\r\\f\\v]``
    class Java uses; default ``str.split`` would diverge on e.g. NBSP.
    Agreement is asserted over a hostile-string corpus in
    tests/test_llm.py."""
    t = _re.sub(r"^\s+|\s+$", "", (text or "").lower(), flags=_re.ASCII)
    if t == "":
        return []
    return _re.split(r"\s+", t, flags=_re.ASCII)


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column. Short docs (< n
    tokens) fall back to the whole-text single shingle so they still
    participate in dedup.

    CAVEAT: the per-gram ``transform(...slice...concat_ws)`` lambda is a
    Spark higher-order function — CodegenFallback, interpreted per element —
    so this form is only for small inputs (goldens, candidate-verify sets).
    Corpus-wide paths must use ``shingles_long`` (codegen'd, measured ~20×
    faster at 5k docs) or the Arrow ``shingle_hash_udf``."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def shingles_long(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct word n-gram shingles in LONG form: one ``(_id, shingle)``
    row per distinct shingle per document — same set semantics as
    ``shingles`` (tests assert exact agreement), but built from codegen'd
    primitives only: posexplode the shared tokenizer's output, then a
    ``lead()`` window per document assembles each gram. No higher-order
    functions anywhere, so the whole pipeline stays inside WholeStageCodegen
    (the interpreted ``transform`` lambda in ``shingles`` is ~20× slower at
    corpus scale). The window's (doc, pos) sort is per-document — the
    partition key every downstream dedup shape wants anyway.

    Docs with < n tokens contribute their whole text as a single shingle
    (empty/NULL text → the empty-string shingle), exactly like ``shingles``.
    """
    from pyspark.sql import Window as W

    base = docs.select(
        F.col(id_col).alias("_id"), tokens(F.col(text_col)).alias("_t")
    )
    short = base.where(F.size("_t") < n).select(
        "_id", F.concat_ws(" ", "_t").alias("shingle")
    )
    w = W.partitionBy("_id").orderBy("pos")
    exploded = base.where(F.size("_t") >= n).select(
        "_id", F.posexplode("_t").alias("pos", "w")
    )
    parts = [F.col("w")] + [F.lead("w", j).over(w) for j in range(1, n)]
    grams = (
        exploded.select(
            "_id",
            F.concat_ws(" ", *parts).alias("shingle"),
            # NULL once the gram would run past the end of the doc;
            # concat_ws silently skips NULLs, so filter on it explicitly.
            F.lead("w", n - 1).over(w).alias("_last"),
        )
        .where(F.col("_last").isNotNull())
        .select("_id", "shingle")
    )
    return grams.union(short).distinct()


def ngram_jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two shingle arrays (JVM-side)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: one hash aggregation on md5(text). Returns per duplicate
    group the surviving (minimum) id and the copy count. md5 keeps the
    shuffle key at 32 bytes regardless of document size."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def shingle_hashes(shingle_col: Column) -> Column:
    """Base hashes of the shingles (xxhash64 mod p, in [0, p)). Computed
    ONCE per document; every minhash permutation is then pure integer
    arithmetic over this array — string hashing is the expensive part and
    must not be repeated k times."""
    p = F.lit(_MERSENNE_31)
    return F.transform(shingle_col, lambda s: (F.xxhash64(s) % p + p) % p)


def _minhash_coeffs(k: int, seed: int) -> list[tuple[int, int]]:
    rnd = _random.Random(seed)
    return [
        (rnd.randrange(1, _MERSENNE_31), rnd.randrange(0, _MERSENNE_31))
        for _ in range(k)
    ]


def minhash_signature_from_hashes(
    hash_col: Column, k: int = 32, seed: int = 42
) -> Column:
    """k-permutation MinHash signature as array<long> over precomputed base
    hashes: h_i(x) = (a_i * x + b_i) mod p, fixed-seed coefficients —
    deterministic across runs and executors. a_i, x < 2^31 so the product
    fits in int64 without overflow.

    Pure-JVM reference implementation. Spark's higher-order functions are
    CodegenFallback (interpreted per element), so for the k×|shingles| inner
    loop the Arrow-vectorized ``minhash_signature_udf`` below is ~10× faster
    — the pipeline uses that; tests assert the two agree exactly."""
    coeffs = _minhash_coeffs(k, seed)
    p = F.lit(_MERSENNE_31)
    return F.array(
        *[
            F.array_min(
                F.transform(hash_col, lambda h: (F.lit(a) * h + F.lit(b)) % p)
            )
            for a, b in coeffs
        ]
    )


def shingle_hash_udf(n: int = 3):
    """Arrow-batched pandas UDF: text → array<long> of DISTINCT word-n-gram
    shingle hashes, never materializing shingle strings.

    Token hashes (crc32, deterministic across processes) combine through a
    vectorized rolling polynomial, so per document the work is one pass of
    numpy arithmetic — profiling showed JVM higher-order functions spend
    ~20 ms/doc building shingle strings (interpreted slice+concat per
    position); this path is ~100× cheaper. Hash-space Jaccard equals
    string-shingle Jaccard up to crc32 collisions (~|shingles|²/2³² ≈ 1e-5
    per doc pair — immaterial for dedup). Tokenization is ``ws_tokens_py``,
    the exact replica of the JVM ``ws_tokens`` whitespace class."""
    import zlib

    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    B = np.uint64(1_000_003)
    P = np.uint64(_MERSENNE_31)

    @F.pandas_udf(ArrayType(LongType()))
    def sh(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            toks = ws_tokens_py(text)
            if len(toks) < n:
                whole = " ".join(toks)
                out.append([int(zlib.crc32(whole.encode()) % int(P))])
                continue
            th = np.fromiter(
                (zlib.crc32(t.encode()) for t in toks),
                dtype=np.uint64,
                count=len(toks),
            )
            # Horner rolling polynomial over the n-gram windows; mod P each
            # step keeps acc < 2^31, so acc*B + crc32 < 2^52: no overflow.
            m = len(toks) - n + 1
            acc = np.zeros(m, dtype=np.uint64)
            for j in range(n):
                acc = (acc * B + th[j : j + m]) % P
            out.append(np.unique(acc).astype(np.int64).tolist())
        return pd.Series(out)

    return sh


def minhash_signature_udf(k: int = 32, seed: int = 42):
    """Arrow-batched pandas UDF computing the same signature as
    ``minhash_signature_from_hashes``: one (k × |hashes|) uint64 numpy
    matmul-shaped pass per document. Exact integer arithmetic — results are
    bit-identical to the JVM version (asserted in tests)."""
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    coeffs = _minhash_coeffs(k, seed)
    a = np.array([c[0] for c in coeffs], dtype=np.uint64)[:, None]
    b = np.array([c[1] for c in coeffs], dtype=np.uint64)[:, None]
    p = np.uint64(_MERSENNE_31)
    # empty hash array → k NULLs, matching the JVM path (array_min over an
    # empty array is NULL per permutation)
    empty_sig = [None] * k

    @F.pandas_udf(ArrayType(LongType()))
    def sig(hashes: pd.Series) -> pd.Series:
        out = []
        for h in hashes:
            arr = np.asarray(h, dtype=np.uint64)
            if arr.size == 0:
                out.append(empty_sig)
                continue
            # a, h < 2^31 → a*h < 2^62: no uint64 overflow
            m = (a * arr[None, :] + b) % p
            out.append(m.min(axis=1).astype(np.int64).tolist())
        return pd.Series(out)

    return sig


def _band_bucket_structs(sig_col: str, bands: int, r: int) -> Column:
    """Array of (band, bucket) structs from a k-component signature column:
    bucket = xxhash64 over the band's r comma-joined components. The ONE
    definition of the banding scheme — the batch pair-finder and the
    persistent incremental index must stay bit-identical or a stored index
    silently stops matching the batch operator."""
    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        *[
                            F.element_at(sig_col, bi * r + j + 1).cast("string")
                            for j in range(r)
                        ],
                    )
                ).alias("bucket"),
            )
            for bi in range(bands)
        ]
    )


def _cpu_fanned(docs: DataFrame, id_col: str) -> DataFrame:
    """Fan CPU-bound per-doc hashing out to the core count ONLY when the
    scan is severely under-parallel (fewer than target/8 input splits —
    e.g. one compact single-row-group file). When the scan already
    yields real splits, the unconditional leading repartition shuffles
    every document's full text payload for nothing: interleaved A/B on
    the banded-candidate pipeline read −15% at sf0.1 (post fixture
    rewrite) and flat at sf10 from dropping it (guide §2.3 — don't
    exchange the heavy column to win parallelism the scan already
    has)."""
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() * 8 < target:
        return docs.repartition(target, id_col)
    return docs


def lsh_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    seed: int = 42,
) -> DataFrame:
    """One ``(doc_id, sig)`` row per doc (Arrow-vectorized shingle + MinHash
    UDFs, CPU-fanned only if the scan is under-parallel — _cpu_fanned)."""
    sh_udf = shingle_hash_udf(n)
    return (
        _cpu_fanned(docs, id_col)
        .select(F.col(id_col).alias("doc_id"), sh_udf(F.col(text_col)).alias("_h"))
        .select(
            "doc_id", minhash_signature_udf(k=k, seed=seed)(F.col("_h")).alias("sig")
        )
    )


def lsh_band_rows(sigs: DataFrame, k: int = 32, bands: int = 8) -> DataFrame:
    """Banded bucket rows ``(doc_id, band, bucket)`` from a signature table
    — callers that materialize ``sigs`` (localCheckpoint/parquet) derive
    band rows from the materialized frame so the signature UDFs run once."""
    if k % bands != 0:
        raise ValueError(f"k={k} must be divisible by bands={bands}")
    r = k // bands
    return sigs.select(
        "doc_id", F.explode(_band_bucket_structs("sig", bands, r)).alias("bb")
    ).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def signature_similarity(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of agreeing MinHash components (the
    estimator LSH theory is built on; stderr ≈ 1/√k). JVM-side zip_with +
    aggregate — no Python in the verify path."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda a, b: (a == b).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree / F.size(sig_a)


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Pre-verify candidate pairs ``(id_a, id_b)``, id_a < id_b, of banded
    MinHash-LSH: the distinct doc pairs sharing at least one (band, bucket).

    Bucket rows come from ``lsh_band_rows(lsh_signatures(...))``, the one
    banding path the streaming index also uses, and carry ONLY ids: the
    8×-exploded shuffle moves (id, band, bucket) triples, never the
    shingle arrays, so at corpus scale the join's shuffle volume is
    O(docs × bands × 24 bytes).

    The self-join is hinted ``shuffle_hash`` so both sides are the same
    shuffle exchange and the second is a ``ReusedExchange``: the Arrow
    shingle and signature UDFs run over the corpus once. Unhinted, a band
    table under the broadcast threshold (1.2 MB at sf0.1) is broadcast, and
    the broadcast side re-runs both UDFs over every document in a job of
    its own (perfbench ``dedup_minhash_lsh`` at sf0.1 on 4 cores: median
    op 2.73 s → 2.16 s, the catalog's schema cache included; BASELINE.md).
    A band table over the threshold plans a shuffle join either way."""
    buckets = lsh_band_rows(
        lsh_signatures(docs, id_col, text_col, n=n, k=k, seed=seed), k, bands
    )
    left, right = buckets.alias("l"), buckets.alias("r")
    return (
        left.join(
            right.hint("shuffle_hash"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.7,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH, verified with exact
    n-gram Jaccard. Returns ``(id_a, id_b, jaccard)`` with id_a < id_b.

    Pipeline (each arrow = one shuffle at most):
    shingle+sign per doc → explode b band buckets → equi-self-join on
    (band, bucket) → exact-Jaccard verify on the candidate pairs only.
    Candidates are bucket-limited, never all-pairs; band count b and rows
    r=k/b set the S-curve: P(candidate) = 1-(1-s^r)^b.

    Shingle-hash arrays and signatures both come from Arrow-vectorized UDFs
    (see shingle_hash_udf for why the JVM higher-order-function path loses
    here). Deliberately NO .persist() of them: columnar-caching nested
    array batches costs more than re-deriving them (measured 8 s
    cache-build vs ~1 s recompute at 50 k docs), and at corpus scale the
    cache would dwarf executor memory. The verify side re-hashes the
    candidate docs only."""
    # cand is consumed by THREE downstream branches (cand_ids union twice,
    # then the verify join) — materialize it once so the expensive bucket
    # self-join and signature UDFs run once (exchange reuse across branches
    # is not guaranteed); unlike the ruled-out nested-array caches (see
    # above) this is O(pairs) of plain longs. localCheckpoint, NOT persist:
    # DataFrame.persist registers a CacheManager entry that outlives the
    # returned frame (one leaked cache entry per call, session-lifetime),
    # while localCheckpoint blocks are reclaimed by the ContextCleaner when
    # the frame is dropped. The sh frame is deliberately NOT materialized:
    # its nested array column hits the slow columnar cache path, and the
    # two attach joins reuse its shuffle exchange in practice.
    cand = minhash_lsh_candidates(
        docs, id_col, text_col, n=n, k=k, bands=bands, seed=seed
    ).localCheckpoint()
    sh_udf = shingle_hash_udf(n)
    # Shingle-hash arrays re-derived ONLY for docs that appear in a candidate
    # pair (semi-join first): the verify-side UDF touches a tiny fraction of
    # the corpus instead of re-hashing everything for each side of the
    # attach joins. Jaccard over hash arrays == Jaccard over shingle strings
    # (modulo crc32 collisions, see shingle_hash_udf).
    cand_ids = (
        cand.select(F.col("id_a").alias("cid"))
        .union(cand.select(F.col("id_b").alias("cid")))
        .distinct()
    )
    sh = docs.join(
        cand_ids, docs[id_col] == cand_ids["cid"], "left_semi"
    ).select(F.col(id_col).alias("_id"), sh_udf(F.col(text_col)).alias("_sh"))
    verified = (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        .withColumn("jaccard", ngram_jaccard(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    return verified


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 5,
) -> DataFrame:
    """EXACT n-gram-Jaccard near-dup pairs at threshold num/den via prefix
    filtering (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity
    Search") — recall 1.0, unlike the probabilistic MinHash/SimHash
    families. Returns ``(id_a, id_b, jaccard)`` with id_a < id_b, jaccard
    rounded to 4dp.

    Order each doc's shingles by ascending global document frequency
    (rarest first; ties by shingle string); keep the first
    |s| - ceil(t·|s|) + 1 as the doc's PREFIX. Any pair with J >= t must
    share a prefix shingle: if every shared shingle sat in one doc's
    suffix, overlap <= ceil(t·|s|) - 1 < t·|s| <= t·|union|, so J < t —
    contradiction. Candidates therefore come from an equi-self-join on
    prefix shingles (volume tracks rare-shingle collisions, never
    |docs|²); verify = exact Jaccard on candidates only.

    Threshold arithmetic is integral — ceil(t·|s|) computed as
    (num·|s| + den - 1) div den — so float rounding can never shorten a
    prefix and silently cost recall.

    Everything runs in LONG form — (id, shingle) rows end to end, including
    the verify, which counts join matches (|A∩B|) and derives the union as
    |A|+|B|-|A∩B| — so no shingle-array column is ever built and no
    interpreted higher-order function runs (measured ~8× end-to-end vs the
    array/`array_intersect` formulation at 5k docs). Every step is a hash
    shuffle keyed on the shingle or the doc id; nothing is ever quadratic
    in the corpus.
    """
    from pyspark.sql import Window as W

    t = threshold_num / threshold_den
    tok = shingles_long(docs, id_col, text_col, n)
    dfreq = tok.groupBy("shingle").agg(F.count("*").alias("df"))
    wdoc = W.partitionBy("_id")
    ranked = tok.join(dfreq, "shingle").select(
        "_id",
        "shingle",
        F.row_number().over(wdoc.orderBy("df", "shingle")).alias("rk"),
        F.count("*").over(wdoc).alias("sz"),
    )
    ceil_ts = F.floor(
        (F.col("sz") * threshold_num + (threshold_den - 1))
        / F.lit(threshold_den)
    ).cast("int")
    prefix = ranked.where(F.col("rk") <= F.col("sz") - ceil_ts + 1).select(
        "_id", "shingle"
    )
    cand = (
        prefix.select("shingle", F.col("_id").alias("id_a"))
        .join(prefix.select("shingle", F.col("_id").alias("id_b")), "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sz = tok.groupBy("_id").agg(F.count("*").alias("sz"))
    # |A∩B| per candidate pair: attach A's shingles, keep only those also in
    # B (the second join's key includes the shingle), count. Pairs with an
    # empty intersection vanish here — harmless, they can't pass t > 0.
    inter = (
        cand.join(tok.select(F.col("_id").alias("id_a"), "shingle"), "id_a")
        .join(tok.select(F.col("_id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    jaccard = F.col("n_inter") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    )
    return (
        inter.join(
            sz.select(F.col("_id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a"
        )
        .join(
            sz.select(F.col("_id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b"
        )
        .where(jaccard >= F.lit(t))
        .select("id_a", "id_b", F.round(jaccard, 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash (pandas UDF — the one Python hot path, Arrow-batched)
# ---------------------------------------------------------------------------


@F.pandas_udf(LongType())
def simhash64(texts: pd.Series) -> pd.Series:
    """64-bit SimHash over whitespace tokens. Token hashes come from
    blake2b (deterministic across processes, unlike Python's builtin hash);
    bit-vote accumulation is vectorized with numpy per document."""
    import hashlib

    import numpy as np

    out = np.zeros(len(texts), dtype=np.int64)
    for i, text in enumerate(texts):
        # ws_tokens_py (trim/lower/ASCII \s+), NOT str.split(): both dedup
        # families must tokenize identically or a NBSP-differing doc pair
        # would be a SimHash-dup but not a MinHash-dup.
        toks = ws_tokens_py(text)
        if not toks:
            continue
        hs = np.fromiter(
            (
                int.from_bytes(
                    hashlib.blake2b(t.encode(), digest_size=8).digest(), "big"
                )
                for t in toks
            ),
            dtype=np.uint64,
            count=len(toks),
        )
        bits = np.unpackbits(hs.view(np.uint8).reshape(-1, 8), axis=1)
        votes = (bits.astype(np.int32) * 2 - 1).sum(axis=0)
        sim = np.packbits((votes > 0).astype(np.uint8)).view(np.uint64)[0]
        out[i] = int(sim.astype(np.int64))
    return pd.Series(out)


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Pigeonhole banding: with ``chunks`` chunks of 64/chunks bits, any pair
    within Hamming distance ``chunks - 1`` agrees exactly on ≥ 1 chunk, so
    the candidate join is an equi-join on (chunk_idx, chunk_value) — no
    all-pairs. Verify = popcount(xor) on the 64-bit signatures.

    ``chunks`` defaults to the smallest power-of-two banding that makes the
    pigeonhole guarantee hold for ``max_hamming`` (chunks > max_hamming);
    passing an explicit ``chunks`` that can't guarantee recall raises."""
    if chunks is None:
        if max_hamming >= 32:
            # no power-of-two banding of a 64-bit signature can pigeonhole-
            # guarantee recall past Hamming 31 (64 one-bit chunks would,
            # but then every signature collides on its zero chunks)
            raise ValueError(
                f"max_hamming={max_hamming} exceeds the recall guarantee of "
                "any default banding (max 31); pass explicit chunks or "
                "lower max_hamming"
            )
        chunks = next(c for c in (2, 4, 8, 16, 32) if c > max_hamming)
    if chunks - 1 < max_hamming:
        raise ValueError(
            f"chunks={chunks} guarantees recall only to Hamming {chunks - 1} "
            f"< max_hamming={max_hamming}; raise chunks (must divide 64)"
        )
    if 64 % chunks != 0:
        raise ValueError(f"chunks={chunks} must divide 64")
    width = 64 // chunks
    mask = (1 << width) - 1
    docs = _cpu_fanned(docs, id_col)
    sigs = docs.select(
        F.col(id_col).alias("_id"), simhash64(F.col(text_col)).alias("_sim")
    )
    chunk_arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned(F.col("_sim"), c * width)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for c in range(chunks)
        ]
    )
    ch = sigs.select("_id", "_sim", F.explode(chunk_arr).alias("cc")).select(
        "_id", "_sim", F.col("cc.chunk").alias("chunk"), F.col("cc.val").alias("val")
    )
    left = ch.select("chunk", "val", F.col("_id").alias("id_a"), F.col("_sim").alias("sim_a"))
    right = ch.select("chunk", "val", F.col("_id").alias("id_b"), F.col("_sim").alias("sim_b"))
    return (
        left.join(right, ["chunk", "val"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_spans(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per token n-gram occurrence: (doc_id, gram). The unit of
    exact-substring deduplication (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): a span duplicated verbatim across
    documents shows up as the same n-gram string in both.

    Pure JVM expressions — tokenize once (shared ``ws_tokens``), then
    ``explode(sequence(1, len-n+1))`` × ``slice`` materializes one row per
    window position. Row blowup is ~n_tokens per doc (NOT n_tokens × n:
    each position is one row), so the exploded relation is ~the token
    relation the inverted-index/TF-IDF paths already shuffle."""
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks")
    ).where(F.size("toks") >= n)
    return base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (n - 1))).alias("i"),
        "toks",
    ).select(
        "doc_id", F.array_join(F.slice("toks", F.col("i"), n), " ").alias("gram")
    )


def duplicated_ngram_stats(
    grams: DataFrame, min_docs: int = 2
) -> DataFrame:
    """Corpus-duplicated span table: (gram, n_docs, n_occ) for every n-gram
    appearing in ≥ ``min_docs`` distinct documents.

    GroupBy on the gram string — partial aggregation absorbs within-doc
    repeats map-side. At 100 TB the shuffle key should be ``xxhash64(gram)``
    (8 bytes) with ``min(gram)`` carried as the representative — a
    deterministic two-phase variant with ~2^-65 per-pair collision odds;
    the string key here keeps the small-corpus oracle exact."""
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .where(F.col("n_docs") >= min_docs)
    )

"""LLM-pipeline operator tests: planted near-duplicates for the probabilistic
dedup operators, ANN recall vs brute force, multimodal plumbing."""

from __future__ import annotations

import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from distributed_graph_database_system_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    simhash_near_pairs,
)
from distributed_graph_database_system_spark.operators.multimodal import (
    decode_media,
    documents_as_media,
    frame_sample_plan,
    resize_plan,
)
from distributed_graph_database_system_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    srp_ann_topk,
    srp_index,
)

VOCAB = (
    "spark query join filter scan shuffle partition broadcast hash sort "
    "merge agg window stream batch column row table data value"
).split()


def make_docs(spark, n=60, seed=7, near_dup_of=(0, 1, 2)):
    """n random word-soup docs; for each id in near_dup_of, doc id+1000 is a
    near-duplicate (one word changed) and doc id+2000 an exact duplicate."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        words = [rng.choice(VOCAB) for _ in range(80)]
        rows.append((i, " ".join(words)))
    for i in near_dup_of:
        words = rows[i][1].split()
        words[40] = "MUTATED"
        rows.append((i + 1000, " ".join(words)))
        rows.append((i + 2000, rows[i][1]))
    return spark.createDataFrame(rows, "doc_id BIGINT, text STRING")


def test_exact_dedup_finds_planted_copies(spark):
    docs = make_docs(spark)
    groups = exact_dedup_groups(docs)
    dups = {r.keep_id: r.n_copies for r in groups.where("n_copies > 1").collect()}
    assert dups == {0: 2, 1: 2, 2: 2}
    # survivors: one per distinct text
    assert groups.count() == docs.select("text").distinct().count()


def test_minhash_lsh_finds_planted_near_dups(spark):
    docs = make_docs(spark)
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(docs, threshold=0.7).collect()
    }
    for i in (0, 1, 2):
        assert (i, i + 1000) in pairs, f"missed near-dup pair ({i},{i+1000})"
        assert (i, i + 2000) in pairs  # exact dup also caught
        assert pairs[(i, i + 2000)] == 1.0
        # one word changed in 80 kills ≤ 3 of ~78 shingles
        assert pairs[(i, i + 1000)] > 0.85
    # no false positives: two distinct random base docs (both ids < 1000)
    # must never reach the 0.7 Jaccard threshold
    assert not any(a < 1000 and b < 1000 for (a, b) in pairs), pairs


def test_simhash_finds_planted_near_dups(spark):
    docs = make_docs(spark)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_pairs(docs, max_hamming=6).collect()
    }
    for i in (0, 1, 2):
        assert (i, i + 2000) in pairs and pairs[(i, i + 2000)] == 0
        assert (i, i + 1000) in pairs  # 1-word change → few bit flips


def make_embeddings(spark, n=200, dim=32, seed=11, planted=5):
    """Random unit vectors + `planted` near-copies of vector 0 (tiny noise)."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    for j in range(planted):
        noisy = vecs[0] + 0.01 * rng.standard_normal(dim)
        noisy /= np.linalg.norm(noisy)
        rows.append((1000 + j, [float(x) for x in noisy]))
    return spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>"), vecs


def test_cosine_topk_matches_numpy(spark):
    emb, vecs = make_embeddings(spark, planted=0)
    q = vecs[0]
    got = [r.vec_id for r in cosine_topk(emb, q, k=10, exclude_ids=(0,)).collect()]
    sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    order = [int(i) for i in np.argsort(-sims) if i != 0][:10]
    assert got == order


def test_srp_ann_recall_on_planted_cluster(spark):
    emb, vecs = make_embeddings(spark, planted=5)
    q = vecs[0]
    indexed = srp_index(emb, dim=32, nbits=4)
    got = {
        r.vec_id
        for r in srp_ann_topk(
            indexed.where(F.col("vec_id") != 0), q, k=5, nbits=4, probes=1
        ).collect()
    }
    # the 5 planted near-copies of vector 0 are the true top-5; SRP with
    # Hamming-1 probes must recover most of them
    planted = {1000 + j for j in range(5)}
    assert len(got & planted) >= 4


def test_srp_bucket_udf_matches_expression(spark):
    """The broadcast+Arrow-matmul bucket path (production dims) must agree
    bit-for-bit with the inline-literal codegen path on real data, and must
    be invariant to how rows are sliced into Arrow batches / partitions."""
    emb, _ = make_embeddings(spark, planted=0)
    expr = {
        r.vec_id: r.bucket
        for r in srp_index(emb, dim=32, nbits=6, method="expr").collect()
    }
    udf = {
        r.vec_id: r.bucket
        for r in srp_index(emb, dim=32, nbits=6, method="udf").collect()
    }
    assert expr == udf
    resliced = {
        r.vec_id: r.bucket
        for r in srp_index(
            emb.repartition(7), dim=32, nbits=6, method="udf"
        ).collect()
    }
    assert resliced == udf
    # NULL embeddings: expr path's zip_with/when semantics put them in
    # bucket 0; the udf path must agree instead of crashing the Arrow task
    with_null = emb.unionByName(
        spark.createDataFrame([(99999, None)], "vec_id BIGINT, embedding ARRAY<FLOAT>")
    )
    for method in ("expr", "udf"):
        got = {
            r.vec_id: r.bucket
            for r in srp_index(with_null, dim=32, nbits=6, method=method).collect()
        }
        assert got[99999] == 0, method
    # query-side bucket (srp_ann_topk method='udf') uses the same matmul:
    # ANN through the udf-built index returns the same rows as through expr
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).first().embedding]
    via_expr = srp_ann_topk(
        srp_index(emb, dim=32, nbits=6, method="expr").where(F.col("vec_id") != 0),
        q, k=5, nbits=6, probes=1, method="expr",
    ).collect()
    via_udf = srp_ann_topk(
        srp_index(emb, dim=32, nbits=6, method="udf").where(F.col("vec_id") != 0),
        q, k=5, nbits=6, probes=1, method="udf",
    ).collect()
    assert [tuple(r) for r in via_expr] == [tuple(r) for r in via_udf]


def test_persisted_srp_index_prunes_partitions(spark, tmp_path):
    """write_srp_index partitions by bucket; a probe against the stored
    index must (a) return exactly the in-memory results and (b) show the
    bucket filter as PartitionFilters in the scan — directory pruning, the
    reason a 100 TB probe reads O(bucket) bytes."""
    from distributed_graph_database_system_spark.operators.similarity import (
        read_srp_index,
        write_srp_index,
    )

    emb, vecs = make_embeddings(spark, planted=0)
    indexed = srp_index(emb, dim=32, nbits=4)
    path = str(tmp_path / "srp_idx")
    write_srp_index(indexed, path)
    stored = read_srp_index(spark, path)
    q = vecs[1]
    mem = srp_ann_topk(
        indexed.where(F.col("vec_id") != 1), q, k=5, nbits=4, probes=1
    ).collect()
    disk = srp_ann_topk(
        stored.where(F.col("vec_id") != 1), q, k=5, nbits=4, probes=1
    ).collect()
    assert [tuple(r) for r in mem] == [tuple(r) for r in disk]

    probe_plan = stored.where(F.col("bucket").isin(3, 5))._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in probe_plan and "bucket" in probe_plan.split("PartitionFilters", 1)[1][:200]


def test_persisted_ivf_index_roundtrip(spark, tmp_path):
    """IVF index + centroids survive the store: probing the read-back index
    with the read-back centroids reproduces the in-memory ANN exactly."""
    from distributed_graph_database_system_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_index,
        read_ivf_index,
        write_ivf_index,
    )

    emb, vecs = make_embeddings(spark, planted=0)
    indexed, centroids = ivf_index(emb, n_lists=4)
    path = str(tmp_path / "ivf_idx")
    write_ivf_index(indexed, centroids, path)
    stored, cent2 = read_ivf_index(spark, path)
    assert np.allclose(centroids, cent2)
    q = vecs[2]
    mem = ivf_ann_topk(
        indexed.where(F.col("vec_id") != 2), centroids, q, k=5, nprobe=2
    ).collect()
    disk = ivf_ann_topk(
        stored.where(F.col("vec_id") != 2), cent2, q, k=5, nprobe=2
    ).collect()
    assert [tuple(r) for r in mem] == [tuple(r) for r in disk]


def test_embedding_near_dup_pairs(spark):
    emb, _ = make_embeddings(spark, planted=3)
    pairs = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in embedding_near_dup_pairs(emb, dim=32, threshold=0.95, nbits=4).collect()
    }
    # vector 0 and its 3 planted copies form a near-dup clique
    for j in range(3):
        assert (0, 1000 + j) in pairs


def test_multimodal_pipeline_fake_decode(spark, sf_dir):
    from distributed_graph_database_system_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = documents_as_media(docs, kind="video")
    decoded = decode_media(media, fake=True)
    rows = decoded.collect()
    assert len(rows) == 20
    assert all(r.width and r.height and r.duration_s for r in rows)

    plan = resize_plan(decoded, max_side=128)
    for r in plan.collect():
        assert max(r.target_w, r.target_h) <= 128
        # aspect preserved within rounding
        assert abs(r.target_w / r.target_h - r.width / r.height) < 0.1

    frames = frame_sample_plan(decoded, fps=2.0)
    per_media = frames.groupBy("media_id").count().collect()
    assert all(r["count"] >= 1 for r in per_media)


def test_structural_codec_parses_all_synth_formats():
    """Pure-stdlib header parsers round-trip the synthesizers exactly —
    no Spark needed; this is the codec unit contract."""
    from distributed_graph_database_system_spark.operators import multimodal as mm

    assert mm.parse_media(mm.make_png(640, 480)) == {
        "fmt": "png", "width": 640, "height": 480, "duration_s": None}
    assert mm.parse_media(mm.make_gif(320, 200)) == {
        "fmt": "gif", "width": 320, "height": 200, "duration_s": None}
    assert mm.parse_media(mm.make_bmp(123, 77)) == {
        "fmt": "bmp", "width": 123, "height": 77, "duration_s": None}
    assert mm.parse_media(mm.make_jpeg(1920, 1080)) == {
        "fmt": "jpeg", "width": 1920, "height": 1080, "duration_s": None}
    wav = mm.parse_media(mm.make_wav(16000, sample_rate=8000))
    assert wav["fmt"] == "wav" and wav["duration_s"] == 2.0
    avi = mm.parse_media(mm.make_avi(720, 576, total_frames=25, usec_per_frame=40000))
    assert avi == {"fmt": "avi", "width": 720, "height": 576, "duration_s": 1.0}
    # PNG synth is fully valid: zlib inflates its IDAT back to the scanlines
    import struct
    import zlib

    png = mm.make_png(8, 3)
    idat_off = png.index(b"IDAT")
    size = struct.unpack(">I", png[idat_off - 4: idat_off])[0]
    raw = zlib.decompress(png[idat_off + 4: idat_off + 4 + size])
    assert raw == (b"\x00" + b"\x00" * 8) * 3


def test_structural_codec_rejects_garbage_with_nulls():
    import struct

    from distributed_graph_database_system_spark.operators import multimodal as mm

    nulls = {"fmt": None, "width": None, "height": None, "duration_s": None}
    for blob in (b"", b"not media at all", b"\x89PNGxxxx", b"RIFF\x00\x00\x00\x00JUNK"):
        assert mm.parse_media(blob) == nulls
    # truncated RIFF: fmt chunk declares 16 bytes, file ends after 4 —
    # must quarantine, not raise struct.error out of the decode task
    truncated_wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00"
    )
    assert mm.parse_media(truncated_wav) == nulls
    # adversarial dims: a PNG claiming width 2^31 must quarantine, not
    # overflow the int32 Arrow schema and kill the batch
    bad_png = bytearray(mm.make_png(8, 8))
    bad_png[16:20] = struct.pack(">I", 2**31)
    assert mm.parse_media(bytes(bad_png)) == nulls
    # truncated avih: LIST declares a 40-byte avih but the file ends early
    trunc_avi = (
        b"RIFF" + struct.pack("<I", 28) + b"AVI "
        + b"LIST" + struct.pack("<I", 16) + b"hdrl"
        + b"avih" + struct.pack("<I", 56) + b"\x00" * 4
    )
    assert mm.parse_media(trunc_avi) == nulls


def test_multimodal_real_decode_distributed(spark, sf_dir):
    """decode_media default path parses real synthesized container bytes in
    mapInPandas; deep (pixel/sample) decode stays an explicit extension
    point."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        documents_as_synth_media,
    )
    from distributed_graph_database_system_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").limit(30)
    media = documents_as_synth_media(docs)
    decoded = decode_media(media)
    rows = {r.media_id: r for r in decoded.collect()}
    assert len(rows) == 30
    for i, r in rows.items():
        assert r.fmt == ("png", "gif", "bmp", "jpeg", "wav", "avi")[i % 6]
        if r.fmt == "wav":
            assert r.width is None and r.duration_s == (800 + (i % 100) * 16) / 8000
        else:
            assert r.width == 16 + i % 97 and r.height == 16 + (i * 7) % 89

    # deep=True now REALLY decodes EVERY synth payload: WAVs carry a
    # deterministic ramp (nonzero sqsum), synth PNG/BMP are zero pixels,
    # JPEG blocks decode to exactly 128+2*dc (DC-only, q0=16), GIF rows to
    # 85*((i+y)%4), AVI frames to (5i+3f)%256 over all frames
    deep = {r.media_id: r for r in decode_media(media, deep=True).collect()}
    for i, r in deep.items():
        w, h = 16 + i % 97, 16 + (i * 7) % 89
        if r.fmt == "wav":
            assert r.n_samples == 800 + (i % 100) * 16
            assert r.audio_sqsum > 0
        elif r.fmt == "png":
            if i % 12 == 6:  # RGB slice: per-row constant red channel
                want = sum((3 * i + 7 * y) % 256 for y in range(h)) * w
                assert (r.px_sum, r.n_px) == (want, w * h), (i, r)
            else:
                assert r.px_sum == 0 and r.n_px > 0
        elif r.fmt == "bmp":
            assert r.px_sum == 0 and r.n_px > 0
        elif r.fmt == "jpeg":
            want = 0
            for by in range((h + 7) // 8):
                for bx in range((w + 7) // 8):
                    v = 128 + 2 * (((i + 3 * bx + 5 * by) % 25) - 12)
                    want += v * min(8, w - bx * 8) * min(8, h - by * 8)
            assert (r.px_sum, r.n_px) == (want, w * h), (i, r)
        elif r.fmt == "gif":
            if i % 12 == 7:  # animated slice: 3 + i%4 raw frames
                nf = 3 + i % 4
                want = sum(
                    85 * ((i + y + f) % 4) * w
                    for f in range(nf)
                    for y in range(h)
                )
                assert (r.px_sum, r.n_px) == (want, w * h * nf), (i, r)
            else:
                want = sum(85 * ((i + y) % 4) * w for y in range(h))
                assert (r.px_sum, r.n_px) == (want, w * h), (i, r)
        else:  # avi: DIB (i%12==5) or Motion-JPEG (i%12==11), all frames
            nf = 10 + i % 50
            if i % 12 == 11:  # MJPEG: DC-only JPEG frames → 128+2*dc
                vals = [
                    128 + 2 * (((i * 5 + 3 * f) % 25) - 12) for f in range(nf)
                ]
            else:  # uncompressed 8-bit DIB
                vals = [(i * 5 + 3 * f) % 256 for f in range(nf)]
            assert (r.px_sum, r.px_min, r.px_max, r.n_px) == (
                w * h * sum(vals),
                min(vals),
                max(vals),
                w * h * nf,
            ), (i, r)


def test_minhash_udf_matches_jvm_reference(spark):
    """The Arrow-vectorized signature UDF must be bit-identical to the pure-
    JVM higher-order-function reference on the same hash arrays."""
    from pyspark.sql import functions as F

    from distributed_graph_database_system_spark.operators.dedup import (
        minhash_signature_from_hashes,
        minhash_signature_udf,
    )

    rows = [(i, [((i + 1) * 7919 * j) % 2_147_483_647 for j in range(1, 40)]) for i in range(50)]
    df = spark.createDataFrame(rows, "id BIGINT, h ARRAY<BIGINT>")
    jvm = {r.id: r.sig for r in df.select("id", minhash_signature_from_hashes(F.col("h"), 16, 7).alias("sig")).collect()}
    udf = {r.id: r.sig for r in df.select("id", minhash_signature_udf(16, 7)(F.col("h")).alias("sig")).collect()}
    assert jvm == udf


def test_shingle_hash_udf_consistent_with_jvm_shingles(spark):
    """The vectorized shingle-hash UDF must produce exactly one distinct
    hash per distinct JVM string shingle (crc32 collisions would show up as
    a count mismatch on this sample)."""
    from distributed_graph_database_system_spark.operators.dedup import (
        shingle_hash_udf,
        shingles,
    )

    docs = make_docs(spark, n=40)
    jvm = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(shingles(F.col("text"), 3)).alias("n")
        ).collect()
    }
    udf = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.size(shingle_hash_udf(3)(F.col("text"))).alias("n")
        ).collect()
    }
    assert jvm == udf


def test_ivf_ann_recall_on_planted_cluster(spark):
    from distributed_graph_database_system_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_index,
    )

    emb, vecs = make_embeddings(spark, planted=5)
    q = vecs[0]
    indexed, centroids = ivf_index(emb.where(F.col("vec_id") != 0), n_lists=6)
    got = {
        r.vec_id for r in ivf_ann_topk(indexed, centroids, q, k=5, nprobe=2).collect()
    }
    planted = {1000 + j for j in range(5)}
    # near-copies of the query share its nearest centroid; nprobe=2 must find them
    assert len(got & planted) >= 4


def test_lang_id_on_real_sentences(spark):
    from distributed_graph_database_system_spark.operators.textstats import lang_id

    samples = [
        (1, "the quick brown fox jumped over the lazy dog and it was fast", "en"),
        (2, "der hund ist nicht mit der katze und das haus ist von zu hause", "de"),
        (3, "le chat est dans la maison et il est une belle journee pour pas sortir", "fr"),
        (4, "el perro es una mascota y los gatos en la casa por la noche con ellos", "es"),
        (5, "zzz qqq xxx yyy www", "und"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in samples], "id BIGINT, text STRING")
    got = {r.id: r.lang for r in df.select("id", lang_id(F.col("text")).alias("lang")).collect()}
    for i, _, want in samples:
        assert got[i] == want, (i, got[i], want)


def test_ws_tokens_py_matches_jvm_on_hostile_whitespace(spark):
    """ws_tokens_py (the Arrow-UDF tokenizer) must agree with the JVM
    ws_tokens expression on every whitespace class — ASCII tab/newline/
    vertical-tab, Unicode NBSP / ideographic space, leading/trailing mixes —
    not just plain spaces (the round-2 advisory divergence)."""
    from distributed_graph_database_system_spark.operators.dedup import ws_tokens_py
    from distributed_graph_database_system_spark.operators.textstats import ws_tokens

    hostile = [
        None,
        "",
        " ",
        "   ",
        "\t",
        "\ta b",
        "a b\t",
        "a b",            # NBSP: NOT whitespace to Java \s
        " ",
        "a　b",            # ideographic space
        "a\tb\nc\rd\fe\x0bf",  # every ASCII \s char
        "  Mixed CASE  text  ",
        "line1\n\nline2",
        "\r\n\t mixed \t\r\n",
        "æøå ÆØÅ Über",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(hostile)], "i INT, text STRING")
    from pyspark.sql import functions as F

    jvm = {r.i: r.t for r in df.select("i", ws_tokens(F.col("text")).alias("t")).collect()}
    for i, text in enumerate(hostile):
        assert ws_tokens_py(text) == list(jvm[i]), f"divergence on {text!r}"

    # the semantic contract, not just agreement: whitespace-only text is 0
    # tokens and whitespace-edged text yields no phantom '' tokens
    assert ws_tokens_py("\t") == []
    assert ws_tokens_py("\n \r\f\x0b") == []
    assert ws_tokens_py("\tfoo") == ["foo"]
    assert ws_tokens_py("\r\n\t mixed \t\r\n") == ["mixed"]
    for toks in jvm.values():
        assert "" not in toks


def _hof_fingerprint(col, gram=8):
    """The former JVM form of ``rolling_fingerprint``, kept as its
    reference: min md5 over code-point ``substr`` grams, with Spark's own
    ``length``/``substr``/``md5`` semantics."""
    c = F.coalesce(col, F.lit(""))
    positions = F.sequence(F.lit(1), F.greatest(F.length(c) - (gram - 1), F.lit(1)))
    return F.array_min(
        F.transform(positions, lambda i: F.md5(c.substr(i, F.lit(gram))))
    )


def test_rolling_fingerprint_matches_jvm_expression(spark, sf_dir):
    """The C-md5 pandas UDF must equal the Spark expression it replaced on
    every input shape: NULL, empty, shorter than a gram, exactly one gram,
    non-ASCII BMP text, astral-plane emoji (one code point, four UTF-8
    bytes), combining marks, edge whitespace — and on the whole fixture."""
    from distributed_graph_database_system_spark.operators.textstats import (
        rolling_fingerprint,
    )

    hostile = [
        None,
        "",
        "a",
        "seven c",
        "exactly8",
        "exactly8+",
        "Straße über Ærøskøbing",
        "日本語のテキストです、長い文",
        "😀",
        "😀" * 8,
        "😀🎉 astral 𝔸𝔹ℂ and ascii tail",
        "ascii head then 🎉",
        "ééééé combining",
        "ạ̈ö",
        "  leading and trailing  ",
        "\t\n\r whitespace-edged \n\t",
        "x" * 200,
    ]
    df = spark.createDataFrame(list(enumerate(hostile)), "i INT, text STRING")
    for gram in (8, 3):
        rows = df.select(
            "i",
            rolling_fingerprint(F.col("text"), gram).alias("got"),
            _hof_fingerprint(F.col("text"), gram).alias("want"),
        ).collect()
        assert len(rows) == len(hostile)
        for r in rows:
            assert r.got is not None and r.got == r.want, (gram, hostile[r.i], r.got, r.want)

    from distributed_graph_database_system_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    fp, ref = rolling_fingerprint(F.col("text")), _hof_fingerprint(F.col("text"))
    assert docs.where(~fp.eqNullSafe(ref)).count() == 0


def test_pinned_operators_partition_invariant(spark):
    """The load-bearing property behind the four pinned VALUES goldens:
    each operator returns IDENTICAL rows regardless of input partitioning
    and intra-partition row order. Runs every operator on the sf0.001
    fixture under two adversarial layouts (3 vs 17 partitions, shuffled
    row order via repartition's round-robin on a random key) and compares
    exact row sets."""
    from distributed_graph_database_system_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_index,
    )
    from distributed_graph_database_system_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    embs = load_table(spark, sf, "embeddings")
    qv = [
        float(x)
        for x in embs.where(F.col("vec_id") == 0).first()["embedding"]
    ]

    def layouts(df):
        return (
            df.repartition(3, F.col(df.columns[0])),
            df.repartition(17, F.rand(seed=99)),
        )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for name, run in {
        "minhash": lambda d: minhash_lsh_pairs(d, threshold=0.7),
        "simhash": lambda d: simhash_near_pairs(d, max_hamming=3),
    }.items():
        a, b = (rows(run(lay)) for lay in layouts(docs))
        assert a == b, f"{name} varies with input partitioning"

    from distributed_graph_database_system_spark.operators.pca import pca_project

    for name, run in {
        "srp_ann": lambda e: srp_ann_topk(
            srp_index(e, dim=64, nbits=5), qv, k=10, nbits=5
        ),
        "ivf_ann": lambda e: ivf_ann_topk(
            *ivf_index(e, n_lists=4), qv, k=10, nprobe=2
        ),
        "pca": lambda e: pca_project(e, dim=64, k=2),
    }.items():
        a, b = (rows(run(lay)) for lay in layouts(embs))
        assert a == b, f"{name} varies with input partitioning"


def test_pinned_golden_queries_match_at_sf001(spark):
    """The four sf0.01-pinned VALUES oracles (generated by
    scripts/gen_llm_goldens.py) must match a live run at sf0.01 — this is
    the same compare the driver does, run at the SF the goldens were pinned
    to (the regular parity sweep at sf0.001 skips pinned oracles). Catches
    both operator drift and golden staleness."""
    from tests.parity import run_parity

    results = run_parity(
        spark,
        "/root/testdata/sf0.01",
        [
            "dedup_minhash_lsh",
            "dedup_simhash",
            "sim_topk_ann_lsh",
            "sim_topk_ann_ivf",
            "agg_hll_rollup",
            "embed_pca_project",
        ],
    )
    assert len(results) == 6
    failures = {n: p for n, p in results.items() if p}
    assert not failures, f"pinned golden drift: {failures}"


def test_quantized_topk_matches_exact_ranks(spark):
    from distributed_graph_database_system_spark.operators.similarity import (
        cosine_topk_quantized,
        quantize_embeddings,
    )

    emb, vecs = make_embeddings(spark, planted=5)
    q = vecs[0]
    quant = quantize_embeddings(emb)
    got = [r.vec_id for r in cosine_topk_quantized(quant, q, k=5).collect()]
    want = [r.vec_id for r in cosine_topk(emb, q, k=5).collect()]
    # int8 error O(1/127) cannot reorder the planted cluster (margin ~0.99
    # vs random ~0.2): the top-5 SET must match exactly
    assert set(got) == set(want)


def test_quantization_roundtrip_error_bound(spark):
    import math

    from distributed_graph_database_system_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb, vecs = make_embeddings(spark, planted=0)
    rows = quantize_embeddings(emb).collect()
    assert all(len(r["q"]) == 32 for r in rows)
    by_id = {r["vec_id"]: r for r in rows}
    for i in (0, 1, 17):
        r = by_id[i]
        deq = [c * r["scale"] for c in r["q"]]
        err = max(abs(a - b) for a, b in zip(deq, vecs[i]))
        # symmetric quantization: per-component error <= scale/2
        assert err <= r["scale"] / 2 + 1e-7
        assert math.isclose(
            max(abs(x) for x in vecs[i]), 127 * r["scale"], rel_tol=1e-5
        )


def test_quantized_store_is_smaller_on_disk(spark, sf_dir, tmp_path):
    from distributed_graph_database_system_spark.operators.similarity import (
        quantize_embeddings,
    )
    from distributed_graph_database_system_spark.sources.catalog import load_table

    import os

    emb = load_table(spark, sf_dir, "embeddings")
    p_full, p_q = str(tmp_path / "full"), str(tmp_path / "quant")
    # parquet-codec-neutral comparison: uncompressed on both sides measures
    # the true storage-format width, not codec luck on random floats
    emb.write.option("compression", "none").parquet(p_full)
    quantize_embeddings(emb).write.option("compression", "none").parquet(p_q)

    def size(p):
        return sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )

    # ~4x on raw component width (int8 vs float32); parquet's per-element
    # def/rep-level overhead is identical on both sides and dilutes the
    # realized file ratio to ~3x
    assert size(p_q) < size(p_full) / 2.5


def test_ivf_quantizer_trains_on_sample_and_assigns_full_corpus(spark):
    """The 100 TB build-path fix: with max_train_rows below the corpus
    size, KMeans fits on the deterministic xxhash64 id-sample only, while
    EVERY corpus vector still gets a list assignment (broadcast-centroid
    argmin projection). Assignment must be exact nearest-centroid
    (verified against a NumPy argmin reference) and invariant to input
    partitioning."""
    from distributed_graph_database_system_spark.operators.similarity import (
        centroid_assign,
        ivf_ann_topk,
        ivf_index,
    )

    rng = np.random.RandomState(7)
    vecs = rng.normal(size=(2000, 16))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    indexed, centroids = ivf_index(emb, n_lists=4, max_train_rows=300)
    assert indexed.count() == 2000  # full corpus assigned
    assert indexed.where(F.col("list_id").isNull()).isEmpty()
    assert centroids.shape == (4, 16)

    # assignment == exact nearest centroid (ties impossible in this data)
    got = {r.vec_id: r.list_id for r in indexed.select("vec_id", "list_id").collect()}
    d2 = ((vecs[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    want = d2.argmin(axis=1)
    assert all(got[i] == want[i] for i in range(2000))

    # deterministic across partitioning (sample is id-hash, training is
    # pinned, assignment is a projection)
    indexed2, centroids2 = ivf_index(
        emb.repartition(13), n_lists=4, max_train_rows=300
    )
    assert np.array_equal(centroids, centroids2)
    got2 = {r.vec_id: r.list_id for r in indexed2.select("vec_id", "list_id").collect()}
    assert got == got2

    # centroid_assign alone: matches reference on a fresh frame
    probe = centroid_assign(emb, centroids)
    gotp = {r.vec_id: r.list_id for r in probe.select("vec_id", "list_id").collect()}
    assert gotp == got

    # search still works end-to-end on the sampled-quantizer index
    q = vecs[5]
    top = ivf_ann_topk(
        indexed.where(F.col("vec_id") != 5), centroids, q, k=5, nprobe=2
    ).collect()
    assert len(top) == 5


def test_incremental_ann_index_append_matches_one_shot(spark, tmp_path):
    """Batch-keyed idempotent ANN index growth: two batches appended to a
    persisted index must probe IDENTICALLY to a one-shot build over the
    union (SRP: fixed hyperplanes; IVF: the quantizer frozen at first
    build, later batches assigned against stored centroids), and
    replaying a batch must change nothing — the ledger discipline from
    the incremental dedup store applied to ANN storage."""
    from distributed_graph_database_system_spark.operators.similarity import (
        append_ivf_index,
        append_srp_index,
        centroid_assign,
        ivf_ann_topk,
        read_ivf_index,
        read_srp_index,
        srp_ann_topk,
        srp_index,
    )

    rng = np.random.RandomState(11)
    vecs = rng.normal(size=(600, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    full = spark.createDataFrame(rows, schema)
    a = spark.createDataFrame(rows[:400], schema)
    b = spark.createDataFrame(rows[400:], schema)
    q = vecs[7]

    # --- SRP: append A then B ≡ one-shot over the union
    spath = str(tmp_path / "srp_inc")
    append_srp_index(srp_index(a, dim=16, nbits=4), spath, 0)
    append_srp_index(srp_index(b, dim=16, nbits=4), spath, 1)
    stored = read_srp_index(spark, spath)
    one_shot = srp_index(full, dim=16, nbits=4)
    key = lambda df: {  # noqa: E731
        (r.vec_id, r.bucket) for r in df.select("vec_id", "bucket").collect()
    }
    assert key(stored) == key(one_shot)
    want = [tuple(r) for r in srp_ann_topk(one_shot, q, k=5, nbits=4).collect()]
    got = [
        tuple(r)
        for r in srp_ann_topk(
            stored.drop("batch_id"), q, k=5, nbits=4
        ).collect()
    ]
    assert got == want
    # replay batch 1: nothing changes
    append_srp_index(srp_index(b, dim=16, nbits=4), spath, 1)
    assert key(read_srp_index(spark, spath)) == key(one_shot)

    # --- IVF: quantizer trained once on batch A, frozen for batch B
    ipath = str(tmp_path / "ivf_inc")
    cent0 = append_ivf_index(a, ipath, 0, n_lists=4, max_train_rows=200)
    cent1 = append_ivf_index(b, ipath, 1, n_lists=4)
    assert np.array_equal(cent0, cent1)  # frozen, not retrained
    stored_ivf, cent = read_ivf_index(spark, ipath)
    assert np.allclose(cent, cent0)
    # identical to one-shot assignment of the union under SAME centroids
    union_assigned = centroid_assign(full, cent0)
    ikey = lambda df: {  # noqa: E731
        (r.vec_id, r.list_id) for r in df.select("vec_id", "list_id").collect()
    }
    assert ikey(stored_ivf) == ikey(union_assigned)
    wanti = [
        tuple(r)
        for r in ivf_ann_topk(union_assigned, cent0, q, k=5, nprobe=2).collect()
    ]
    goti = [
        tuple(r)
        for r in ivf_ann_topk(
            stored_ivf.drop("batch_id"), cent, q, k=5, nprobe=2
        ).collect()
    ]
    assert goti == wanti
    # replay batch 1: byte-stable list assignments
    append_ivf_index(b, ipath, 1, n_lists=4)
    stored2, _ = read_ivf_index(spark, ipath)
    assert ikey(stored2) == ikey(union_assigned)

    # probes on the incremental layout still partition-prune on list_id
    plan = (
        stored_ivf.where(F.col("list_id").isin(1, 2))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_deep_payload_decode_against_reference(spark):
    """deep=True payload decode vs independent references: PCM16 WAV
    sample stats vs numpy; PNG pixel stats through ALL FIVE standard
    filters (a hand-built encoder filters each row differently — the
    decoder must invert Sub/Up/Average/Paeth exactly); BMP 24-bit with
    row padding that must NOT leak into the stats; the default GIF
    (all-zero indices) LZW-decodes to exact zero-sum stats; a corrupt
    payload past a valid header quarantines to NULL stats instead of
    failing the task."""
    import struct
    import zlib

    import distributed_graph_database_system_spark.operators.multimodal as mm

    rng = np.random.RandomState(5)

    # --- WAV: random int16 samples
    samples = rng.randint(-3000, 3000, size=500)
    wav = mm.make_wav(500, sample_fn=lambda k: int(samples[k]))
    dw = mm._deep_wav(wav)
    assert dw["n_samples"] == 500
    assert dw["audio_peak"] == int(np.abs(samples).max())
    assert dw["audio_sqsum"] == int((samples.astype(np.int64) ** 2).sum())

    # --- PNG: 5 rows, one per filter type, over known pixels
    w, h = 7, 5
    px = rng.randint(0, 256, size=(h, w)).astype(np.uint8)

    def encode_row(r):
        ftype = r % 5
        cur = px[r].astype(int)
        prev = px[r - 1].astype(int) if r else np.zeros(w, dtype=int)
        out = [ftype]
        for i in range(w):
            a = cur[i - 1] if i else 0
            b = prev[i]
            c = prev[i - 1] if i else 0
            if ftype == 0:
                v = cur[i]
            elif ftype == 1:
                v = cur[i] - a
            elif ftype == 2:
                v = cur[i] - b
            elif ftype == 3:
                v = cur[i] - (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                v = cur[i] - pred
            out.append(v & 0xFF)
        return bytes(out)

    raw = b"".join(encode_row(r) for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    png = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(raw))
        + mm._png_chunk(b"IEND", b"")
    )
    dp = mm._deep_png(png)
    assert dp == {
        "px_sum": int(px.sum()),
        "px_min": int(px.min()),
        "px_max": int(px.max()),
        "n_px": w * h,
    }

    # --- BMP: width 5 → 15-byte rows padded to 16; padding must not count
    bw, bh = 5, 3
    bmp_px = rng.randint(1, 255, size=(bh, bw * 3)).astype(np.uint8)
    row_pad = (bw * 3 + 3) & ~3
    body = b"".join(bytes(bmp_px[r]) + b"\xff" * (row_pad - bw * 3) for r in range(bh))
    info = struct.pack(
        "<IiiHHIIiiII", 40, bw, bh, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    db = mm._deep_bmp(header + info + body)
    assert db == {
        "px_sum": int(bmp_px.sum()),
        "px_min": int(bmp_px.min()),
        "px_max": int(bmp_px.max()),
        "n_px": bh * bw * 3,
    }
    # 0xff padding didn't leak: max comes from the pixels, not the pad
    assert db["px_max"] == int(bmp_px.max())

    # --- end-to-end through decode_media(deep=True), incl. NULLs + corrupt
    corrupt_png = png[: len(png) - 20]  # valid header, truncated payload
    rows = [
        (0, "audio", bytearray(wav), "media/wav"),
        (1, "image", bytearray(png), "media/png"),
        (2, "image", bytearray(mm.make_gif(9, 9)), "media/gif"),
        (3, "image", bytearray(corrupt_png), "media/png"),
    ]
    media = spark.createDataFrame(
        rows, "media_id BIGINT, kind STRING, content BINARY, mime STRING"
    )
    got = {r.media_id: r for r in mm.decode_media(media, deep=True).collect()}
    assert got[0].audio_sqsum == dw["audio_sqsum"]
    assert got[1].px_sum == dp["px_sum"] and got[1].n_px == w * h
    # default make_gif rows are palette index 0 (gray 0): real decode
    assert got[2].fmt == "gif" and got[2].px_sum == 0 and got[2].n_px == 81
    assert got[3].fmt == "png" and got[3].px_sum is None  # quarantined


def test_append_ivf_index_retries_after_sidecar_only_crash(spark, tmp_path):
    """Crash-injection for the first-batch wedge: the quantizer sidecar
    exists but the index root does not (crash between the two writes).
    The retry must assign against the stored centroids and create the
    index — not fail opening the missing root."""
    from distributed_graph_database_system_spark.operators.similarity import (
        append_ivf_index,
        read_ivf_index,
    )

    rng = np.random.RandomState(23)
    vecs = rng.normal(size=(200, 8))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    path = str(tmp_path / "ivf_crash")
    # simulate: a completed build's sidecar, with the index root absent
    cent = [(int(j), [float(x) for x in rng.normal(size=8)]) for j in range(3)]
    spark.createDataFrame(
        cent, "list_id INT, centroid ARRAY<DOUBLE>"
    ).coalesce(1).write.parquet(path + "_centroids")

    got_cent = append_ivf_index(emb, path, 0, n_lists=3)  # the "retry"
    assert np.allclose(got_cent, np.array([c for _, c in cent]))
    stored, cent2 = read_ivf_index(spark, path)
    assert stored.count() == 200  # index root now exists, fully assigned
    assert np.allclose(cent2, got_cent)


def test_asof_join_rejects_internal_name_collisions(spark):
    from distributed_graph_database_system_spark.operators.asof import asof_join

    l = spark.createDataFrame([("a", 1.0, 5.0)], "g STRING, t DOUBLE, _back DOUBLE")
    r = spark.createDataFrame([("a", 1.0)], "g STRING, t DOUBLE")
    import pytest

    with pytest.raises(ValueError, match="internal"):
        asof_join(l, r, on="t", by=["g"])


def test_deep_wav_stereo_stats():
    """Stereo PCM: n_samples counts FRAMES, audio_channels reports 2, and
    sqsum spans all channel samples — rms = sqrt(sqsum/(frames·ch))."""
    import distributed_graph_database_system_spark.operators.multimodal as mm

    samples = [100, -200, 300]
    wav = mm.make_wav(3, channels=2, sample_fn=lambda k: samples[k])
    dw = mm._deep_wav(wav)
    assert dw["n_samples"] == 3 and dw["audio_channels"] == 2
    assert dw["audio_peak"] == 300
    assert dw["audio_sqsum"] == 2 * sum(s * s for s in samples)


def test_mmr_trades_relevance_for_diversity(spark):
    """MMR picks must be strictly more diverse (lower max pairwise cosine)
    than the plain relevance top-k on the sf0.001 fixture, while still
    overlapping it (it IS a relevance re-ranking, not a random sample)."""
    import numpy as np

    from distributed_graph_database_system_spark.operators.similarity import (
        mmr_select,
    )
    from distributed_graph_database_system_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in emb.collect()}
    qv = rows[0]
    others = {k: v for k, v in rows.items() if k != 0}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    plain = sorted(others, key=lambda k: (-cos(qv, others[k]), k))[:8]
    mmr = [v for _, v, _ in mmr_select(
        emb.where(emb["vec_id"] != 0), [float(x) for x in qv], k=8, lam=0.7
    )]

    def max_pairwise(ids):
        return max(
            cos(others[a], others[b])
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
        )

    assert max_pairwise(mmr) <= max_pairwise(plain)
    assert len(set(mmr) & set(plain)) >= 2, "MMR lost all relevance overlap"
    # the single most relevant item is always MMR's first pick
    assert mmr[0] == plain[0]


def test_textrank_is_partition_invariant_and_weighted(spark, sf_dir):
    """The fixed-point-decimal TextRank returns byte-identical scores
    under different shuffle-partition settings (the property that makes
    its golden pinnable), and the weighted iteration actually
    differentiates scores (the unweighted variant is uniform 1/N on this
    corpus because the vocabulary co-occurs completely)."""
    from distributed_graph_database_system_spark.queries.analysis import (
        text_keywords_textrank,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    r1 = [(r.tok, r.textrank) for r in text_keywords_textrank(spark, sf_dir).collect()]
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        r2 = [
            (r.tok, r.textrank)
            for r in text_keywords_textrank(spark, sf_dir).collect()
        ]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert r1 == r2
    scores = [v for _, v in r1]
    assert len(set(scores)) > 1, "weighted TextRank degenerated to uniform"
    # every damped score carries at least the 0.15/N base mass (N ≤ the
    # 300-token vocabulary cap), and the top-15 can't exceed the total
    # PageRank mass of 1 — a regression dropping the base term or the
    # damping factor breaks one of these bounds
    assert all(v >= 0.15 / 300 for v in scores)
    assert sum(scores) < 1.0
    assert scores == sorted(scores, reverse=True) or len(set(scores)) < len(
        scores
    )  # ordered by score desc (ties break by token)


def test_jpeg_codec_roundtrip_against_independent_idct():
    """The baseline-JPEG decoder recovers EXACTLY the pixels that an
    independent numpy IDCT computes from the coefficients the synthesizer
    was given — Huffman tables, bitstream packing/unstuffing, run-length
    AC coding, dequantization and the level shift all inverse-match. AC
    coefficients exercise ZRL runs (gap > 16) and EOB; DC deltas cross
    zero and category boundaries."""
    import numpy as np

    from distributed_graph_database_system_spark.operators.multimodal import (
        _ZIGZAG,
        _deep_jpeg,
        make_jpeg,
    )

    rng = np.random.RandomState(7)
    w, h = 21, 14  # ragged edges: 3x2 blocks with 5/6-pixel crops
    bw, bh = (w + 7) // 8, (h + 7) // 8
    dcs = {(bx, by): int(rng.randint(-40, 41)) for bx in range(bw) for by in range(bh)}
    acs = {
        (bx, by): {
            1: int(rng.randint(-9, 10)),
            20: int(rng.randint(-9, 10)),  # >16 zigzag gap → ZRL path
            63: int(rng.randint(1, 5)),  # last coefficient: no EOB
        }
        for bx in range(bw)
        for by in range(bh)
    }
    blob = make_jpeg(
        w, h, dc_fn=lambda bx, by: dcs[(bx, by)], ac_fn=lambda bx, by: acs[(bx, by)]
    )
    got = _deep_jpeg(blob)

    ys = np.arange(8)
    vs = np.arange(8).reshape(-1, 1)
    m = np.cos((2 * ys + 1) * vs * np.pi / 16)
    m[0, :] *= 1 / np.sqrt(2)
    total, mn, mx = 0, 255, 0
    for by in range(bh):
        for bx in range(bw):
            F = np.zeros((8, 8))
            F[0, 0] = dcs[(bx, by)] * 16
            for zi, v in acs[(bx, by)].items():
                r, c = _ZIGZAG[zi]
                F[r, c] = v * 16
            px = np.clip(np.round(0.25 * (m.T @ F @ m)) + 128, 0, 255).astype(int)
            vis = px[: min(8, h - by * 8), : min(8, w - bx * 8)]
            total += int(vis.sum())
            mn = min(mn, int(vis.min()))
            mx = max(mx, int(vis.max()))
    assert got == {"px_sum": total, "px_min": mn, "px_max": mx, "n_px": w * h}


def test_jpeg_decoder_quarantines_out_of_scope_variants():
    """Corrupt / out-of-scope streams return None (NULL deep stats),
    never raise — the corpus quarantine contract. A baseline stream
    mislabeled SOF2 routes to the progressive decoder, whose scan-header
    validation (DC scan with Se != 0) quarantines it."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg,
    )

    blob = bytearray(make_jpeg(16, 16))
    sof = blob.find(b"\xff\xc0")
    blob[sof + 1] = 0xC2  # rewrite SOF0 -> SOF2 (progressive)
    assert _deep_jpeg(bytes(blob)) is None
    # truncated entropy stream: also quarantined
    ok = make_jpeg(64, 64, dc_fn=lambda bx, by: bx + by)
    assert _deep_jpeg(ok[: len(ok) - 10]) is None


def test_jpeg_progressive_matches_baseline_across_geometries():
    """The progressive (SOF2) decode path is pinned against the already-
    golden baseline decoder: make_jpeg_progressive carries the IDENTICAL
    quantized coefficients through the full successive-approximation
    protocol (banded AC first passes, two refinement levels, DC
    refinement), so the pixel stats must be byte-for-byte equal — an
    independent cross-check, since the two decode paths share only the
    IDCT."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg,
        make_jpeg_progressive,
    )

    def dc(bx, by):
        return ((bx * 7 + by * 13) % 63) - 31

    def ac(bx, by):
        out = {}
        if (bx + by) % 2 == 0:
            out[1] = ((bx - by) % 9) - 4
        if (bx * by) % 3 == 0:
            out[5] = ((bx + 2 * by) % 11) - 5
        if (bx + by) % 5 == 0:
            out[17] = 6
        if (bx + by) % 7 == 0:
            out[63] = -3
        return {k: v for k, v in out.items() if v}

    def cdc(mx, my):
        return ((mx % 5) - 2, (my % 7) - 3)

    for w, h in [(8, 8), (24, 17), (31, 9), (64, 48), (1, 1)]:
        kw = dict(width=w, height=h, dc_fn=dc, ac_fn=ac, q0=16)
        base = _deep_jpeg(make_jpeg(**kw))
        prog = _deep_jpeg(make_jpeg_progressive(**kw))
        assert base is not None and base == prog, (w, h, base, prog)
    for sub in ("444", "422", "440", "420"):
        kw = dict(
            width=37, height=29, dc_fn=dc, ac_fn=ac, q0=16,
            color=True, chroma_dc_fn=cdc, subsampling=sub,
        )
        base = _deep_jpeg(make_jpeg(**kw))
        prog = _deep_jpeg(make_jpeg_progressive(**kw))
        assert base is not None and base == prog, (sub, base, prog)


def test_jpeg_progressive_random_coefficients_property():
    """Randomized coefficient fields (three densities, color and gray,
    all subsamplings) stress every refinement branch — EOBRUN spans,
    ZRL-with-buffered-correction-bits, newly-significant placement. The
    deterministic seeds keep the sweep reproducible."""
    import random

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg,
        make_jpeg_progressive,
    )

    for seed in range(12):
        rng = random.Random(seed)
        w, h = rng.randint(1, 90), rng.randint(1, 70)
        density = rng.choice([0.02, 0.3, 0.8])

        def dc(bx, by, s=seed):
            return random.Random(f"{s}-{bx}-{by}-dc").randint(-200, 200)

        def ac(bx, by, d=density, s=seed):
            r = random.Random(f"{s}-{bx}-{by}-ac")
            out = {}
            for k in range(1, 64):
                if r.random() < d:
                    v = r.randint(-40, 40)
                    if v:
                        out[k] = v
            return out

        def cdc(mx, my, s=seed):
            r = random.Random(f"{s}-{mx}-{my}-c")
            return (r.randint(-60, 60), r.randint(-60, 60))

        kw = dict(width=w, height=h, dc_fn=dc, ac_fn=ac, q0=rng.choice([8, 16]))
        if seed % 3 == 0:
            kw.update(
                color=True,
                chroma_dc_fn=cdc,
                subsampling=["444", "422", "440", "420"][seed % 4],
            )
        base = _deep_jpeg(make_jpeg(**kw))
        prog = _deep_jpeg(make_jpeg_progressive(**kw))
        assert base is not None and base == prog, (seed, kw["width"], kw["height"])


def test_jpeg_progressive_eobrun_and_fill_bytes():
    """EOBn symbols spanning thousands of flat blocks decode (512x512 =
    4096 blocks covered by a handful of EOB runs), and B.1.1.2 fill
    bytes (any number of 0xFF before a marker) are tolerated by both
    walks instead of desyncing the segment length read."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg,
        make_jpeg_progressive,
    )

    kw = dict(width=512, height=512, dc_fn=lambda bx, by: 40, ac_fn=None)
    assert _deep_jpeg(make_jpeg_progressive(**kw)) == _deep_jpeg(make_jpeg(**kw))
    # single AC coefficient in the very last block: one EOBRUN covers
    # 4095 blocks before it
    def ac_last(bx, by):
        return {63: 7} if (bx, by) == (63, 63) else {}

    kw = dict(width=512, height=512, dc_fn=None, ac_fn=ac_last)
    assert _deep_jpeg(make_jpeg_progressive(**kw)) == _deep_jpeg(make_jpeg(**kw))

    base = make_jpeg(16, 16, dc_fn=lambda bx, by: 5)
    filled = base[:2] + b"\xff\xff" + base[2:]
    assert _deep_jpeg(filled) == _deep_jpeg(base) is not None
    prog = make_jpeg_progressive(16, 16, dc_fn=lambda bx, by: 5)
    pfilled = prog[:2] + b"\xff" + prog[2:]
    assert _deep_jpeg(pfilled) == _deep_jpeg(prog) is not None


def test_jpeg_sos_order_mismatch_quarantines():
    """A legal-but-reordered SOS (components listed in a different order
    than SOF) would pair the positional sampling factors with the wrong
    component — the decoder must quarantine, not emit wrong stats."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg,
    )

    blob = bytearray(
        make_jpeg(
            32, 32, dc_fn=lambda bx, by: 10, color=True, subsampling="420"
        )
    )
    sos = blob.find(b"\xff\xda")
    # components are at sos+5 (cid, tbl) * 3: swap Y and Cb declarations
    blob[sos + 5 : sos + 9] = bytes(
        [blob[sos + 7], blob[sos + 8], blob[sos + 5], blob[sos + 6]]
    )
    assert _deep_jpeg(bytes(blob)) is None


def test_avi_mjpeg_decodes_and_guards_codec_flavor():
    """Motion-JPEG AVI: '00dc' chunks are complete baseline JPEGs and
    decode through the in-repo JPEG decoder (a real compressed codec,
    end-to-end); a frame flavor not matching the declared codec
    quarantines; interframe codecs stay NULL."""
    import struct as _s

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_avi,
        make_avi,
    )

    w, h, nf = 25, 18, 4
    blob = make_avi(w, h, nf, frame_fn=lambda f: 5 - 3 * f, codec="mjpg")
    vals = [128 + 2 * (5 - 3 * f) for f in range(nf)]
    assert _deep_avi(blob) == {
        "px_sum": w * h * sum(vals),
        "px_min": min(vals),
        "px_max": max(vals),
        "n_px": w * h * nf,
    }
    # a '00db' chunk inside a declared-MJPG stream: flavor mismatch
    bad = bytearray(blob)
    i = bad.find(b"00dc")
    bad[i : i + 4] = b"00db"
    assert _deep_avi(bytes(bad)) is None
    # an unknown compression fourcc (e.g. cinepak 'cvid') stays NULL
    other = bytearray(blob)
    strf_at = other.find(b"strf")
    comp_at = strf_at + 8 + 16  # biCompression offset inside BITMAPINFOHEADER
    other[comp_at : comp_at + 4] = b"cvid"
    assert _deep_avi(bytes(other)) is None
    # corrupted JPEG payload in one frame: whole file quarantines
    trunc = bytearray(blob)
    j = trunc.find(b"00dc")
    size = _s.unpack("<I", trunc[j + 4 : j + 8])[0]
    trunc[j + 8 + size - 6 : j + 8 + size] = b"\x00" * 6  # stomp EOI area
    assert _deep_avi(bytes(trunc)) is None


def test_avi_audio_strf_does_not_clobber_video_format():
    """An AVI carrying an audio stream whose strf is >= 40 bytes (e.g.
    WAVEFORMATEXTENSIBLE) must not overwrite the video format — the strf
    binds to the strh ('vids') that precedes it in the same strl."""
    import struct as _s

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_avi,
        make_avi,
    )

    blob = make_avi(9, 5, 2, frame_fn=lambda f: 50 + f)
    want = _deep_avi(blob)
    assert want is not None
    # append an audio strl AFTER the video one, inside hdrl
    strh_a = b"auds" + b"\x00" * 52
    strf_a = b"\x01\x00\x02\x00" + b"\x00" * 44  # 48-byte fake wave fmt
    strl_a = (
        b"strl"
        + b"strh" + _s.pack("<I", len(strh_a)) + strh_a
        + b"strf" + _s.pack("<I", len(strf_a)) + strf_a
    )
    audio_list = b"LIST" + _s.pack("<I", len(strl_a)) + strl_a
    hdrl_at = blob.find(b"hdrl") - 8
    hdrl_size = _s.unpack("<I", blob[hdrl_at + 4 : hdrl_at + 8])[0]
    insert_at = hdrl_at + 8 + hdrl_size
    rebuilt = (
        blob[:hdrl_at + 4]
        + _s.pack("<I", hdrl_size + len(audio_list))
        + blob[hdrl_at + 8 : insert_at]
        + audio_list
        + blob[insert_at:]
    )
    rebuilt = rebuilt[:4] + _s.pack("<I", len(rebuilt) - 8) + rebuilt[8:]
    assert _deep_avi(rebuilt) == want


def test_gif_lzw_property_roundtrip_and_conformance():
    """LZW encoder/decoder inverse property across width growth and the
    4096-entry dictionary reset (large varied stream), plus conformance
    against an externally-produced stream (the canonical 1x1 GIF, which
    pads its EOI past the readable byte boundary)."""
    import base64
    import random

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_gif,
        _lzw_decode,
        _lzw_encode,
        make_gif,
    )

    rng = random.Random(11)
    for n in (1, 7, 255, 6000, 70000):  # 70k forces dictionary resets
        seq = bytes(rng.randrange(4) for _ in range(n))
        enc = _lzw_encode(seq, 2)
        assert bytes(_lzw_decode(enc, 2, n)) == seq, n

    tiny = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    assert _deep_gif(tiny) == {"px_sum": 0, "px_min": 0, "px_max": 0, "n_px": 1}

    # interlace only permutes row order; the stats are invariant, so an
    # interlace-flagged frame decodes to the SAME stats
    g = bytearray(make_gif(9, 5, row_fn=lambda y: y % 4))
    plain = _deep_gif(bytes(g))
    img = g.find(b"\x2c")
    g[img + 9] |= 0x40
    assert _deep_gif(bytes(g)) == plain and plain is not None


def test_avi_dib_decode_and_codec_quarantine():
    """Uncompressed 8-bit DIB AVI decodes exactly (all frames, palette
    mapped, 4-byte row alignment); a compressed ('00dc') frame or a
    header-only AVI quarantines to None — the codec-library boundary."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_avi,
        make_avi,
    )

    w, h, nf = 21, 13, 7  # stride 24 > width: alignment padding exercised
    blob = make_avi(w, h, nf, frame_fn=lambda f: 30 + 11 * f)
    vals = [30 + 11 * f for f in range(nf)]
    assert _deep_avi(blob) == {
        "px_sum": w * h * sum(vals),
        "px_min": min(vals),
        "px_max": max(vals),
        "n_px": w * h * nf,
    }
    assert _deep_avi(make_avi(w, h, nf)) is None  # header-only: no movi
    corrupt = bytearray(blob)
    i = corrupt.find(b"00db")
    corrupt[i : i + 4] = b"00dc"  # pretend one frame is compressed
    assert _deep_avi(bytes(corrupt)) is None


def test_avi_rec_lists_and_stream_hygiene():
    """'00db' frames inside spec-valid LIST/'rec ' interleave groupings
    are decoded; a second video stream ('01db') or zero-dim GIF
    quarantines instead of producing partial/impossible stats."""
    import struct

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_avi,
        _deep_gif,
        make_avi,
        make_gif,
    )

    blob = make_avi(9, 5, 3, frame_fn=lambda f: 10 * (f + 1))
    # rewrap the movi frames into a LIST/'rec ' grouping
    movi_at = blob.find(b"LIST", blob.find(b"movi") - 8)
    movi_size = struct.unpack("<I", blob[movi_at + 4 : movi_at + 8])[0]
    inner = blob[movi_at + 12 : movi_at + 8 + movi_size]  # frames only
    rec = b"LIST" + struct.pack("<I", 4 + len(inner)) + b"rec " + inner
    new_movi = b"movi" + rec
    rebuilt = (
        blob[: movi_at + 4]
        + struct.pack("<I", len(new_movi))
        + new_movi
        + blob[movi_at + 8 + movi_size :]
    )
    # RIFF size field must track the rewrap
    rebuilt = (
        rebuilt[:4] + struct.pack("<I", len(rebuilt) - 8) + rebuilt[8:]
    )
    vals = [10, 20, 30]
    assert _deep_avi(rebuilt) == {
        "px_sum": 9 * 5 * sum(vals),
        "px_min": 10,
        "px_max": 30,
        "n_px": 9 * 5 * 3,
    }

    second_stream = bytearray(blob)
    i = second_stream.find(b"00db")
    second_stream[i : i + 2] = b"01"  # frame from another stream
    assert _deep_avi(bytes(second_stream)) is None

    zero = bytearray(make_gif(5, 4, row_fn=lambda y: y % 4))
    img = zero.find(b"\x2c")
    zero[img + 5 : img + 7] = struct.pack("<H", 0)  # width 0
    assert _deep_gif(bytes(zero)) is None


def test_jpeg_color_444_decodes_luma_stats():
    """4:4:4 three-component color JPEG decodes: MCUs interleave Y,Cb,Cr
    blocks with per-component DC predictors and the Annex-K chroma
    Huffman tables; stats are over the LUMA component, so they equal the
    grayscale encoding of the same Y plane whatever the chroma carries —
    across 4:4:4, 4:2:2, 4:4:0 and 4:2:0 MCU geometries. Unsupported
    sampling factors quarantine."""
    import struct

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg,
    )

    dc = lambda bx, by: (3 * bx - 2 * by) % 11 - 5  # noqa: E731
    ac = lambda bx, by: {2: 4, 17: -3}  # noqa: E731
    gray = _deep_jpeg(make_jpeg(21, 14, dc_fn=dc, ac_fn=ac))
    color = _deep_jpeg(
        make_jpeg(
            21, 14, dc_fn=dc, ac_fn=ac,
            color=True, chroma_dc_fn=lambda bx, by: (bx % 5 - 2, by % 3 - 1),
        )
    )
    assert color == gray and gray is not None

    # every real-world baseline subsampling decodes to the SAME luma stats
    # (MCU padding blocks are decoded and discarded; 4:2:0 is the
    # camera/web default)
    for sub in ("420", "422", "440"):
        subbed = _deep_jpeg(
            make_jpeg(
                21, 14, dc_fn=dc, ac_fn=ac,
                color=True, subsampling=sub,
                chroma_dc_fn=lambda mx, my: (mx % 5 - 2, my % 3 - 1),
            )
        )
        assert subbed == gray, sub

    # unsupported geometry (3x1 luma sampling) quarantines
    blob = bytearray(make_jpeg(16, 16, dc_fn=dc, color=True))
    sof = blob.find(b"\xff\xc0")
    # Y sampling byte: marker(2)+len(2)+prec(1)+h(2)+w(2)+ncomp(1)+id(1)
    blob[sof + 11] = 0x31
    assert _deep_jpeg(bytes(blob)) is None


def test_jpeg_single_component_scan_is_noninterleaved():
    """A single-component scan is non-interleaved per JPEG A.2.2: blocks
    come in plain raster order and the SOF sampling factors do NOT define
    MCUs — a grayscale file declaring 2x2 sampling (some encoders do)
    must decode identically to the 1x1 declaration."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg,
    )

    dc = lambda bx, by: (3 * bx - 2 * by) % 11 - 5  # noqa: E731
    plain = make_jpeg(21, 14, dc_fn=dc)
    declared = bytearray(plain)
    sof = declared.find(b"\xff\xc0")
    declared[sof + 11] = 0x22  # Y sampling byte
    assert _deep_jpeg(bytes(declared)) == _deep_jpeg(plain) is not None


def test_jpeg_restart_intervals_decode_and_guard():
    """DRI restart intervals (the camera default): RSTn-split entropy
    segments decode to the SAME stats as the unrestarted stream (byte
    realignment + DC predictor reset per B.2.1.2), including color MCU
    geometries; a stream that promises an interval but is missing its
    restart markers quarantines."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg,
    )

    def dc(bx, by):
        return ((bx * 7 + by * 13) % 63) - 31

    def ac(bx, by):
        return {1: ((bx - by) % 9) - 4, 17: 6} if (bx + by) % 2 == 0 else {}

    def cdc(mx, my):
        return ((mx % 5) - 2, (my % 7) - 3)

    for w, h in [(24, 17), (64, 48), (129, 65)]:
        for ri in (1, 3, 7):
            plain = _deep_jpeg(make_jpeg(w, h, dc_fn=dc, ac_fn=ac))
            dri = _deep_jpeg(
                make_jpeg(w, h, dc_fn=dc, ac_fn=ac, restart_interval=ri)
            )
            assert plain is not None and plain == dri, (w, h, ri)
            col = dict(color=True, chroma_dc_fn=cdc, subsampling="420")
            pc = _deep_jpeg(make_jpeg(w, h, dc_fn=dc, ac_fn=ac, **col))
            dc_ = _deep_jpeg(
                make_jpeg(w, h, dc_fn=dc, ac_fn=ac, restart_interval=ri, **col)
            )
            assert pc is not None and pc == dc_, (w, h, ri, "420")

    # strip the RSTn markers but keep the DRI promise: quarantine
    blob = bytearray(make_jpeg(64, 48, dc_fn=dc, restart_interval=2))
    out = bytearray()
    i = 0
    while i < len(blob):
        if blob[i] == 0xFF and 0xD0 <= blob[i + 1] <= 0xD7 and i > 20:
            i += 2
            continue
        out.append(blob[i])
        i += 1
    assert _deep_jpeg(bytes(out)) is None


def test_gif_animated_multi_frame_decode():
    """Animated GIFs: every frame decodes and the raw per-frame stats
    accumulate (n_px = w*h*frames); a single-frame file keeps the
    original semantics; per-frame local palettes and GCE extensions
    between frames walk cleanly."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_gif,
        make_gif,
    )

    w, h, nf = 9, 5, 4
    blob = make_gif(w, h, row_fn=lambda y, f: (y + f) % 4, frames=nf)
    vals = [85 * ((y + f) % 4) for f in range(nf) for y in range(h)]
    assert _deep_gif(blob) == {
        "px_sum": w * sum(vals),
        "px_min": min(vals),
        "px_max": max(vals),
        "n_px": w * h * nf,
    }
    single = make_gif(w, h, row_fn=lambda y: y % 4)
    svals = [85 * (y % 4) for y in range(h)]
    assert _deep_gif(single) == {
        "px_sum": w * sum(svals),
        "px_min": min(svals),
        "px_max": max(svals),
        "n_px": w * h,
    }


def test_png_color_types_decode_and_interlace_quarantines():
    """The generalized PNG path: RGB/RGBA/gray+alpha/palette all decode
    with rows cycling through all five filters at their true bpp offsets
    (first-channel stats); REAL Adam7-interlaced files decode to the
    same stats as their sequential twins (the passes partition the pixel
    multiset); a sequential stream mislabeled interlaced is wrong-shaped
    and quarantines instead of emitting garbage."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_png,
        make_png_color,
        make_png_pattern,
    )

    w, h = 23, 17
    reds = [(x * 7 + y * 13) % 256 for y in range(h) for x in range(w)]
    rgb = make_png_color(
        w, h, 2, lambda x, y: ((x * 7 + y * 13) % 256, x % 256, y % 256)
    )
    assert _deep_png(rgb) == {
        "px_sum": sum(reds),
        "px_min": min(reds),
        "px_max": max(reds),
        "n_px": w * h,
    }
    vals = [(x + y) % 256 for y in range(h) for x in range(w)]
    rgba = make_png_color(w, h, 6, lambda x, y: ((x + y) % 256, 9, 9, 255))
    assert _deep_png(rgba)["px_sum"] == sum(vals)
    ga = make_png_color(w, h, 4, lambda x, y: ((x + y) % 256, 200))
    assert _deep_png(ga)["px_sum"] == sum(vals)
    pal = bytes(v for g in range(16) for v in (g * 16, 0, 0))
    p3 = make_png_color(w, h, 3, lambda x, y: (x + y) % 16, palette=pal)
    assert _deep_png(p3)["px_sum"] == sum(((x + y) % 16) * 16
                                          for y in range(h) for x in range(w))
    # REAL Adam7 files decode identically to their sequential twins
    for ct, fn in ((2, lambda x, y: ((x * 7 + y * 13) % 256, x, y)),
                   (0, lambda x, y: (x * 3 + y * 11) % 256)):
        seq = _deep_png(make_png_color(23, 17, ct, fn))
        il = _deep_png(make_png_color(23, 17, ct, fn, interlace=True))
        assert seq is not None and seq == il, (ct, seq, il)
    # a SEQUENTIAL stream mislabeled interlaced is wrong-shaped (Adam7
    # needs a different scanline byte layout): quarantine, never garbage
    blob = bytearray(make_png_pattern(9, 5, 3))
    blob[28] = 1
    assert _deep_png(bytes(blob)) is None
    # 16-bit depth: quarantine
    blob = bytearray(make_png_pattern(9, 5, 3))
    blob[24] = 16
    assert _deep_png(bytes(blob)) is None


def test_image_dhash_is_interlace_invariant(spark):
    """Perceptual hashing must cover interlaced PNGs: the SAME pattern
    shipped Adam7-interlaced and sequential produces the IDENTICAL
    64-bit dHash (the deinterlacer places every pass pixel at its true
    position), different patterns still differ, and a mislabeled-
    interlaced stream quarantines rather than hashing garbage."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        image_dhash,
        make_png_pattern,
    )

    rows = []
    for key in (3, 4, 5):
        for i, inter in enumerate((False, True)):
            rows.append(
                (key * 10 + i, "image", make_png_pattern(33, 29, key, inter))
            )
    # mislabeled: sequential bytes, interlaced header → quarantine
    bad = bytearray(make_png_pattern(33, 29, 3))
    bad[28] = 1
    rows.append((99, "image", bytes(bad)))
    media = spark.createDataFrame(
        rows, "media_id BIGINT, kind STRING, content BINARY"
    )
    got = {r.media_id: r.dhash for r in image_dhash(media).collect()}
    assert 99 not in got and len(got) == 6
    hashes = set()
    for key in (3, 4, 5):
        assert got[key * 10] == got[key * 10 + 1], key
        hashes.add(got[key * 10])
    assert len(hashes) == 3  # distinct patterns stay distinct


def test_png_gray_pixels_hostile_dims_quarantine_cheaply():
    """A blob whose IHDR claims huge interlaced dimensions but whose zlib
    stream is tiny must quarantine BEFORE the w*h grid allocation — the
    untrusted-header hazard the interlace path must not reintroduce."""
    import struct as _s
    import zlib as _z

    from distributed_graph_database_system_spark.operators.multimodal import (
        _PNG_SIG,
        _png_chunk,
        _png_gray_pixels,
    )

    ihdr = _s.pack(">IIBBBBB", 65535, 65535, 8, 0, 0, 0, 1)  # interlaced
    blob = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(b"\x00" * 16))
        + _png_chunk(b"IEND", b"")
    )
    import tracemalloc

    tracemalloc.start()
    assert _png_gray_pixels(blob) is None
    _cur, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert peak < 50_000_000, peak  # never the ~4.3 GB w*h grid


def test_wav_depths_project_to_16bit_domain():
    """8/24/32-bit PCM decode through the 16-bit-domain projection: the
    same signal stored at any depth produces identical stats; float
    (fmt 3) and odd depths quarantine."""
    import struct as _s

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_wav,
        make_wav,
    )

    n = 400
    sf = lambda k: ((k * 37) % 201) - 100  # noqa: E731
    ref = _deep_wav(make_wav(n, sample_fn=sf))
    assert ref is not None and ref["audio_sqsum"] > 0
    assert ref == _deep_wav(
        make_wav(n, sample_fn=lambda k: sf(k) << 8, bits=24)
    )
    assert ref == _deep_wav(
        make_wav(n, sample_fn=lambda k: sf(k) << 16, bits=32)
    )
    w8 = _deep_wav(make_wav(n, sample_fn=lambda k: 128 + sf(k) // 2, bits=8))
    assert w8["audio_peak"] == max(abs(sf(k) // 2) for k in range(n)) << 8
    # float WAV (fmt 3): quarantine
    blob = bytearray(make_wav(16, sample_fn=sf))
    fmt_at = blob.find(b"fmt ") + 8
    blob[fmt_at : fmt_at + 2] = _s.pack("<H", 3)
    assert _deep_wav(bytes(blob)) is None
    # 12-bit depth: quarantine
    blob = bytearray(make_wav(16, sample_fn=sf))
    blob[fmt_at + 14 : fmt_at + 16] = _s.pack("<H", 12)
    assert _deep_wav(bytes(blob)) is None


def test_jpeg_progressive_grayscale_ignores_declared_sampling():
    """A.2.2: single-component scans are non-interleaved, so declared
    sampling factors must not define the block grid — some encoders
    stamp 2x2 on grayscale frames. The progressive path must decode
    these identically to a 1x1 declaration (the baseline twin already
    pins this), not quarantine."""
    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_jpeg,
        make_jpeg_progressive,
    )

    def dc(bx, by):
        return ((bx * 7 + by * 13) % 63) - 31

    blob = bytearray(make_jpeg_progressive(40, 33, dc_fn=dc))
    want = _deep_jpeg(bytes(blob))
    assert want is not None
    sof = blob.find(b"\xff\xc2")
    assert blob[sof + 11] == 0x11  # the single component's sampling byte
    blob[sof + 11] = 0x22  # declare 2x2 on the grayscale frame
    assert _deep_jpeg(bytes(blob)) == want


def test_bmp_8bit_palette_decodes():
    """8-bit palette BMP (the legacy flavor): indices map through the
    color table's red column; 24-bit files keep the all-channel stats;
    RLE-compressed BMPs quarantine."""
    import struct as _s

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_bmp,
        make_bmp,
        make_bmp8,
    )

    w, h = 23, 9
    blob = make_bmp8(w, h, px_fn=lambda x, y: (x * 7 + y * 13) % 256)
    vals = [(x * 7 + y * 13) % 256 for y in range(h) for x in range(w)]
    assert _deep_bmp(blob) == {
        "px_sum": sum(vals),
        "px_min": min(vals),
        "px_max": max(vals),
        "n_px": w * h,
    }
    assert _deep_bmp(make_bmp(9, 5))["px_sum"] == 0
    rle = bytearray(blob)
    rle[30:34] = _s.pack("<I", 1)  # BI_RLE8
    assert _deep_bmp(bytes(rle)) is None


def test_bmp_quarantines_degenerate_and_out_of_range():
    """BMP quarantine discipline matches GIF/PNG: an index beyond the
    color table and a zero-height header both return None instead of
    emitting wrong or impossible stats."""
    import struct as _s

    from distributed_graph_database_system_spark.operators.multimodal import (
        _deep_bmp,
        make_bmp8,
    )

    blob = bytearray(make_bmp8(9, 5, px_fn=lambda x, y: (x + y) % 16))
    # declare a 16-entry color table: pixel indices stay in range -> ok
    blob[46:50] = _s.pack("<I", 16)
    assert _deep_bmp(bytes(blob)) is not None
    # inject an out-of-range index
    px_off = _s.unpack("<I", blob[10:14])[0]
    bad = bytearray(blob)
    bad[px_off] = 200
    assert _deep_bmp(bytes(bad)) is None
    # zero height
    zero = bytearray(make_bmp8(9, 5, px_fn=lambda x, y: 1))
    zero[22:26] = _s.pack("<i", 0)
    assert _deep_bmp(bytes(zero)) is None

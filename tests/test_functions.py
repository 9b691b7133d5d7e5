"""Unit tests for the training-data function layer (JVM-side columns)."""

import pytest
from pyspark.sql import functions as F

from libswish3_spark.functions import dedup as D
from libswish3_spark.functions import similarity as S
from libswish3_spark.functions import text as T
from libswish3_spark.functions.media import (
    FEATURE_DIM,
    extract_media_features,
    fake_decode,
    real_decode,
)


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the mat"),  # exact dup of 1
        (3, "the cat sat on the red mat today"),  # near dup
        (4, "completely different words entirely here now"),
        (5, ""),
        (6, "tiny"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_tokens_and_quality(spark, docs):
    r = {
        x["doc_id"]: x
        for x in docs.select(
            "doc_id",
            T.token_count(F.col("text")).alias("n"),
            *[v.alias(k) for k, v in T.quality_features(F.col("text")).items()],
        ).collect()
    }
    assert r[1]["n"] == 6 and r[5]["n"] == 0 and r[6]["n"] == 1
    assert r[5]["alpha_bp"] == 0  # empty text guarded
    assert r[1]["stopword_bp"] == 3333  # 'the' x2 of 6 tokens → floor(10000/3)


def test_shingles_short_doc_empty(spark, docs):
    out = {
        x["id"]: x["sh"]
        for x in D.shingle_arrays_vectorized(docs, "doc_id", "text").collect()
    }
    assert out[5] == [] and out[6] == []  # < n tokens → empty, not [0,-1] junk
    assert "the cat sat" in out[1]


def test_exact_dedup_groups(spark, docs):
    groups = {r["keeper"]: r["n_dups"] for r in D.exact_duplicates(docs, "doc_id", "text").collect()}
    assert groups[1] == 2  # docs 1 and 2 share a fingerprint
    assert groups[3] == 1


def test_minhash_finds_near_dups(spark, docs):
    pairs = {(r["a"], r["b"]) for r in D.minhash_candidates(docs, "doc_id", "text").collect()}
    assert (1, 2) in pairs  # exact dups always collide on every band
    assert (1, 4) not in pairs and (2, 4) not in pairs


def _all_pairs(df):
    """Every (a, b) pair of distinct doc ids, a < b: candidates that
    make jaccard_verify score the whole corpus (tests only)."""
    ids = df.select(F.col("doc_id").alias("a"))
    return ids.crossJoin(ids.select(F.col("a").alias("b"))).where("a < b")


def test_jaccard_scores(spark, docs):
    scored = D.jaccard_verify(docs, _all_pairs(docs), "doc_id", "text", 0.1)
    rows = {(r["a"], r["b"]): r["jaccard_bp"] for r in scored.collect()}
    assert rows[(1, 2)] == 10000  # identical shingle sets
    assert 0 < rows[(1, 3)] < 10000


def test_jaccard_verify_gates_on_candidates(spark, docs):
    cand = D.minhash_candidates(docs, "doc_id", "text")
    rows = {
        (r["a"], r["b"]): r["jaccard_bp"]
        for r in D.jaccard_verify(docs, cand, "doc_id", "text", 0.1).collect()
    }
    assert rows[(1, 2)] == 10000  # identical shingle sets survive verify
    assert all(a < b for a, b in rows)


def test_minhash_bucket_cap_drops_hot_buckets(spark):
    # 5 identical docs: every band bucket has 5 members; cap=4 drops all
    rows = [(i, "the cat sat on the mat again") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert D.minhash_candidates(df, "doc_id", "text", max_bucket=4).count() == 0
    assert D.minhash_candidates(df, "doc_id", "text", max_bucket=5).count() == 10


def test_resolve_clusters_min_id_components(spark):
    # component {1,2,3} via chain 1-2, 2-3; component {7,9}
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["a", "b"])
    got = {r["doc_id"]: r["keeper"] for r in D.resolve_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_resolve_clusters_integer_chain_converges(spark):
    # a 12-node path graph needs multiple propagation rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(11)], ["a", "b"])
    got = {r["doc_id"]: r["keeper"] for r in D.resolve_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(12)}


STRING_ID_PAIRS = [("d2", "d5"), ("d5", "d1"), ("x9", "x3"), ("a", "é"), ("zz", "a")]


def test_resolve_clusters_local_and_distributed_agree(spark, monkeypatch):
    """The size-gated driver union-find and the doubling loop must
    produce identical labels (string ids included: Spark compares
    UTF8 bytes, Python code points — identical order by UTF-8's
    order-preserving property)."""
    pairs = spark.createDataFrame(STRING_ID_PAIRS, ["a", "b"])
    local = {r["doc_id"]: r["keeper"] for r in D.resolve_clusters(pairs).collect()}
    # a zero driver share forces the distributed doubling loop
    monkeypatch.setattr(D, "_LOCAL_CC_MEMORY_SHARE", 0)
    dist = {r["doc_id"]: r["keeper"] for r in D.resolve_clusters(pairs).collect()}
    assert local == dist
    assert local["d1"] == "d1" and local["d2"] == "d1" and local["d5"] == "d1"
    assert local["a"] == "a" and local["é"] == "a" and local["zz"] == "a"


@pytest.mark.parametrize("local", [True, False], ids=["n_pairs", "n_plus_1_pairs"])
def test_resolve_clusters_local_limit_boundary(spark, monkeypatch, local):
    """With the driver limit at N pairs, N pairs resolve on the driver
    and N + 1 take the distributed loop; the labels are the same."""
    pairs = spark.createDataFrame(STRING_ID_PAIRS, ["a", "b"])
    n = len(STRING_ID_PAIRS)
    monkeypatch.setattr(D, "_local_pair_limit", lambda spark: n if local else n - 1)
    collected = []
    resolve_local = D._resolve_clusters_local

    def spy(spark, head, id_type):
        collected.append(head.num_rows)
        return resolve_local(spark, head, id_type)

    monkeypatch.setattr(D, "_resolve_clusters_local", spy)
    out = D.resolve_clusters(pairs)
    got = {r["doc_id"]: r["keeper"] for r in out.collect()}
    assert collected == ([n] if local else [])
    assert out.schema["doc_id"].dataType == pairs.schema["a"].dataType
    assert got == {
        "d1": "d1", "d2": "d1", "d5": "d1",
        "x3": "x3", "x9": "x3",
        "a": "a", "é": "a", "zz": "a",
    }


def test_simhash_identical_for_dups(spark, docs):
    sh = {
        r["doc_id"]: r["s"]
        for r in docs.select("doc_id", D.simhash(T.tokens(F.col("text"))).alias("s")).collect()
    }
    assert sh[1] == sh[2]
    assert 0 <= sh[1] < 2**16
    assert sh[1] != sh[4]


def test_cosine_topk_self_first(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = S.brute_force_topk(emb, "vec_id", "embedding", [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert top[0]["vec_id"] == 0 and top[0]["score_bp"] == 10000
    assert top[1]["score_bp"] == 0


def test_lsh_bucket_restricts(spark):
    rows = [
        (0, [1.0] * 8),
        (1, [1.0] * 8),
        (2, [-1.0] * 8),  # opposite orthant — excluded from the bucket
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r["vec_id"] for r in S.lsh_bucketed_topk(emb, "vec_id", "embedding", [1.0] * 8).collect()}
    assert got == {0, 1}


def test_media_features_shapes(spark):
    media = spark.createDataFrame(
        [("m1", "image", b"somebytes"), ("m2", "audio", None)],
        ["media_ref", "media_type", "content"],
    )
    out = {r["media_ref"]: r for r in extract_media_features(media).collect()}
    assert len(out["m1"]["feature"]) == FEATURE_DIM
    assert all(0.0 <= v <= 1.0 for v in out["m1"]["feature"])
    assert out["m2"]["feature"] is not None  # None content → md5(b"")
    # determinism
    assert fake_decode(b"somebytes", "image") == fake_decode(b"somebytes", "image")


def test_real_decode_unknown_format_raises():
    with pytest.raises(NotImplementedError):
        real_decode(b"\x89PNG not actually decodable here", "image")


def _ppm(w, h, px):
    return b"P6\n# comment\n%d %d\n255\n" % (w, h) + bytes(px)


def test_real_decode_ppm_exact():
    # 2x2 RGB: red, green, blue, white
    px = [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255]
    f = real_decode(_ppm(2, 2, px), "image/x-portable-pixmap")
    assert f[0:2] == [2.0, 2.0]
    assert f[2:5] == [510 / (4 * 255), 510 / (4 * 255), 510 / (4 * 255)]  # means
    assert f[5:8] == [0.0, 0.0, 0.0] and f[8:11] == [1.0, 1.0, 1.0]
    # quadrants (1px each): TL=red lum 1/3, TR=green 1/3, BL=blue 1/3, BR=white 1
    assert f[11:15] == [255 / 765, 255 / 765, 255 / 765, 1.0]
    assert f[15] == 1530 / (3 * 4 * 255)


def test_real_decode_pgm_gray():
    f = real_decode(b"P5\n2 1\n255\n" + bytes([0, 200]), "image/x-portable-graymap")
    assert f[0:2] == [2.0, 1.0]
    assert f[2] == f[3] == f[4] == 200 / (2 * 255)
    assert f[11] == 0.0 and f[12] == 200 / 255  # left/right quadrants
    assert f[15] == 200 / (2 * 255)


def test_real_decode_bmp_exact():
    import struct

    # 2x1 24-bit bottom-up BMP: pixels (R=10,G=20,B=30), (R=40,G=50,B=60)
    row = bytes([30, 20, 10, 60, 50, 40]) + b"\x00\x00"  # BGR + pad to 8
    off = 54
    hdr = b"BM" + struct.pack("<IHHI", off + len(row), 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(row), 0, 0, 0, 0)
    f = real_decode(hdr + dib + row, "image/bmp")
    assert f[0:2] == [2.0, 1.0]
    assert f[2:5] == [50 / (2 * 255), 70 / (2 * 255), 90 / (2 * 255)]
    assert f[5:8] == [10 / 255, 20 / 255, 30 / 255]
    assert f[8:11] == [40 / 255, 50 / 255, 60 / 255]


def test_pixel_features_scalar_vectorized_identical():
    """The numpy fast path must be bit-identical to the scalar path:
    same exact integer sums, same single divisions — so the size-based
    dispatch can never change a feature value (or an oracle hash)."""
    import random

    from libswish3_spark.functions.media import (
        _pixel_features_np,
        _pixel_features_py,
    )

    rng = random.Random(42)
    for w, h, c in [(3, 5, 3), (7, 2, 1), (64, 48, 3), (1, 9, 3), (16, 1, 1)]:
        px = bytes(rng.randrange(256) for _ in range(w * h * c))
        py, np_ = _pixel_features_py(w, h, c, px), _pixel_features_np(w, h, c, px)
        assert py == np_
        # video's direct per-frame luminance shortcut: same double
        assert sum(px) / (w * h * 255 * c) == py[15]


def _wav(pcm, rate=8000, channels=1, bits=8, extra_chunk=b""):
    import struct

    block = channels * bits // 8
    fmt = struct.pack(
        "<IHHIIHH", 16, 1, channels, rate, rate * block, block, bits
    )
    body = b"fmt " + fmt + extra_chunk + b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def test_real_decode_wav_8bit_exact():
    from libswish3_spark.functions.media import audio_features

    # 4 samples: 128→0, 0→-1, 255→127/128, 64→-0.5
    f = real_decode(_wav(bytes([128, 0, 255, 64])), "audio/wav")
    assert f == audio_features(_wav(bytes([128, 0, 255, 64])))
    assert f[0:4] == [8000.0, 1.0, 4.0, 4 * 1000.0 / 8000]
    assert f[4] == (0 + 128 + 127 + 64) / (4 * 128.0)  # mean |amp|
    assert f[5] == 1.0  # peak
    assert f[6] == float((0 + 128**2 + 127**2 + 64**2) / 4) ** 0.5 / 128.0
    # ch0 signs: 0(drop), -, +, - → 2 crossings over 3 gaps
    assert f[7] == 2 / 3


def test_real_decode_wav_16bit_stereo():
    import struct

    from libswish3_spark.functions.media import audio_features

    # 2 frames × 2 channels: (16384, -16384), (-32768, 32767)
    pcm = struct.pack("<4h", 16384, -16384, -32768, 32767)
    f = audio_features(_wav(pcm, rate=44100, channels=2, bits=16))
    assert f[0:4] == [44100.0, 2.0, 2.0, 2 * 1000.0 / 44100]
    assert f[5] == 1.0  # peak |−32768|/32768
    assert f[4] == (16384 + 16384 + 32768 + 32767) / (4 * 32768.0)
    assert f[7] == 1.0  # ch0: +, − → 1 crossing / 1 gap


def test_parse_wav_skips_interleaved_chunks():
    """LIST/fact chunks between fmt and data must not derail the walk,
    including odd-size word-alignment padding."""
    from libswish3_spark.functions.media import _parse_wav

    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"  # odd→pad
    rate, ch, bits, pcm = _parse_wav(_wav(bytes([1, 2, 3]), extra_chunk=extra))
    assert (rate, ch, bits) == (8000, 1, 8) and pcm == bytes([1, 2, 3])


def test_video_features_frame_sampling():
    from libswish3_spark.functions.media import iter_pnm_frames, video_features

    # 3 frames of 1x1 gray: values 0, 100, 200 — stride 2 samples 0 and 2
    stream = b"".join(b"P5\n1 1\n255\n" + bytes([v]) for v in (0, 100, 200))
    frames = list(iter_pnm_frames(stream))
    assert len(frames) == 3 and all(f[0:3] == (1, 1, 1) for f in frames)
    f = video_features(stream, stride=2)
    assert f[0:4] == [3.0, 2.0, 1.0, 1.0]
    assert f[4] == (0 / 255 + 200 / 255) / 2  # sampled mean
    assert f[5] == 0.0 and f[6] == 200 / 255
    assert f[7] == 200 / 255  # |Δ| between the two sampled frames
    assert f[8:10] == [0.0, 200 / 255] and f[10:] == [0.0] * 6
    # stride 1 decodes every frame
    assert video_features(stream, stride=1)[1] == 3.0


def test_video_trailing_garbage_raises():
    from libswish3_spark.functions.media import video_features

    with pytest.raises(ValueError, match="trailing"):
        video_features(b"P5\n1 1\n255\nX" + b"junk")


def test_synthesize_wav_video_roundtrip(spark):
    """The deterministic synthesizers must produce blobs the real
    decoder parses, matching the closed-form the SQL oracle replays."""
    from libswish3_spark.functions.media import (
        extract_media_features,
        synthesize_video,
        synthesize_wav,
    )

    ids = spark.createDataFrame([(3,), (7,)], ["doc_id"])
    wav = {
        r["media_ref"]: r
        for r in extract_media_features(
            synthesize_wav(ids), decoder=real_decode
        ).collect()
    }
    assert wav["wav://3"]["decode_error"] is None
    n3 = 64 + 3 % 32
    assert wav["wav://3"]["feature"][2] == float(n3)
    amps = [abs((3 * 7 + j * 13) % 256 - 128) for j in range(n3)]
    assert abs(wav["wav://3"]["feature"][4] - sum(amps) / (n3 * 128.0)) < 1e-6
    vid = {
        r["media_ref"]: r
        for r in extract_media_features(
            synthesize_video(ids), decoder=real_decode
        ).collect()
    }
    assert vid["vid://7"]["decode_error"] is None
    # doc 7: nf = 2 + 7%3 = 3 (stride 2 → 2 sampled), w = 2 + 7%4 = 5,
    # h = 1 + 7%3 = 2
    assert vid["vid://7"]["feature"][0:4] == [3.0, 2.0, 5.0, 2.0]


def test_real_decode_truncated_blob_isolated(spark):
    from libswish3_spark.functions.media import auto_decode

    media = spark.createDataFrame(
        [
            ("ppm", "image", _ppm(2, 2, range(12))),
            ("trunc", "image", b"P6\n9 9\n255\n\x01\x02"),
            ("opaque", "image", b"not an image"),
        ],
        ["media_ref", "media_type", "content"],
    )
    out = {
        r["media_ref"]: r
        for r in extract_media_features(media, decoder=auto_decode).collect()
    }
    assert out["ppm"]["decode_error"] is None
    assert out["ppm"]["feature"][0] == 2.0
    assert "truncated" in out["trunc"]["decode_error"]
    # unknown format falls back to the md5 fake, not an error
    assert out["opaque"]["decode_error"] is None
    assert out["opaque"]["feature"] == pytest.approx(
        fake_decode(b"not an image", "image"), abs=1e-7
    )


def test_injected_codec_seam(spark):
    """Codec injection (make_auto_decoder): stdlib formats still decode
    for real, codec-needing formats route to the injected callable, and
    without one they fall back to the md5 fake — the production seam
    for JPEG/PNG/audio libs, proven with a toy codec."""
    from libswish3_spark.functions.media import make_auto_decoder

    def toy_codec(content, mtype):
        # pretend-JPEG decoder: recognizable constant vector
        if content.startswith(b"\xff\xd8"):
            return [float(len(content))] * 16
        raise RuntimeError("toy codec: unknown format")

    media = spark.createDataFrame(
        [
            ("ppm", "image", _ppm(2, 2, range(12))),
            ("jpeg", "image", b"\xff\xd8\xff\xe0fakejpegbytes"),
            ("weird", "image", b"zzz not decodable"),
        ],
        ["media_ref", "media_type", "content"],
    )
    out = {
        r["media_ref"]: r
        for r in extract_media_features(
            media, decoder=make_auto_decoder(toy_codec)
        ).collect()
    }
    assert out["ppm"]["decode_error"] is None and out["ppm"]["feature"][0] == 2.0
    assert out["jpeg"]["feature"] == [17.0] * 16  # toy codec handled it
    assert "toy codec" in out["weird"]["decode_error"]  # codec error isolated
    # same corpus without a codec: jpeg falls back to the md5 fake
    no_codec = {
        r["media_ref"]: r
        for r in extract_media_features(
            media, decoder=make_auto_decoder()
        ).collect()
    }
    assert no_codec["jpeg"]["feature"] == pytest.approx(
        fake_decode(b"\xff\xd8\xff\xe0fakejpegbytes", "image"), abs=1e-7
    )


def test_media_decode_error_isolated(spark):
    def angry(content, mtype):
        if content == b"poison":
            raise RuntimeError("bad blob")
        return fake_decode(content, mtype)

    media = spark.createDataFrame(
        [("ok", "image", b"fine"), ("bad", "image", b"poison")],
        ["media_ref", "media_type", "content"],
    )
    out = {r["media_ref"]: r for r in extract_media_features(media, decoder=angry).collect()}
    assert out["ok"]["decode_error"] is None
    assert "bad blob" in out["bad"]["decode_error"]
    assert out["bad"]["feature"] is None


def test_resolve_clusters_empty_pairs(spark):
    pairs = spark.createDataFrame([], "a long, b long")
    assert D.resolve_clusters(pairs).count() == 0


def test_resolve_clusters_string_ids_long_chain(spark):
    # string doc_ids (the library's native id type, DOCS_SCHEMA) on a
    # diameter-5 path: a numeric-cast convergence check NULLs out and
    # exits after one propagation round, splitting the component
    ids = [f"doc://{chr(ord('a') + i)}" for i in range(6)]
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(5)], ["a", "b"]
    )
    got = {r["doc_id"]: r["keeper"] for r in D.resolve_clusters(pairs).collect()}
    assert got == {i: ids[0] for i in ids}


def test_embedding_near_dup_cap_drops_hot_buckets(spark):
    from libswish3_spark.functions import similarity as S

    # 6 near-identical vectors: all land in one signature bucket
    planes = S.random_planes(4, 4, seed=1)
    rows = [(i, [1.0, 0.5, -0.25, 0.125 + i * 1e-6]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = lambda cap: S.embedding_near_dup_pairs(
        df, "vec_id", "embedding", planes, min_score_bp=0, max_bucket=cap
    ).count()
    assert pairs(5) == 0  # hot bucket (6 > 5) dropped entirely
    assert pairs(6) == 15  # under the cap: all C(6,2) pairs survive
    assert pairs(None) == 15  # cap disabled


def test_ann_lsh_recall_vs_brute_force(spark):
    # the oracle for ann_lsh_topk shares the bucket restriction, so a
    # green hash proves Spark==DuckDB, not LSH==useful: assert recall@10
    # against exact brute force over the real bench embeddings for
    # several query vectors (round-1's single-probe axis-plane version
    # scored 0.2 here)
    from libswish3_spark.functions import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = {
        r["vec_id"]: list(r["embedding"])
        for r in emb.orderBy("vec_id").limit(3).collect()
    }
    recalls = []
    for qv in queries.values():
        exact = {r["vec_id"] for r in S.brute_force_topk(emb, "vec_id", "embedding", qv).collect()}
        approx = {r["vec_id"] for r in S.lsh_bucketed_topk(emb, "vec_id", "embedding", qv).collect()}
        recalls.append(len(exact & approx) / len(exact))
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_chunk_token_windows(spark):
    """Fixed-token window chunking: overlap per stride, short final
    window kept unpadded, empty docs produce no rows."""
    from libswish3_spark.functions.text import chunk_token_windows

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "")], ["doc_id", "text"])
    out = sorted(
        (r["chunk_idx"], r["n_tokens"], r["chunk_text"])
        for r in chunk_token_windows(
            df, "doc_id", "text", chunk_tokens=4, stride=3
        ).collect()
    )
    # starts 0,3,6,9 → windows of 4 tokens, final window has 1
    assert [c[:2] for c in out] == [(0, 4), (1, 4), (2, 4), (3, 1)]
    assert out[0][2] == "t0 t1 t2 t3"
    assert out[1][2] == "t3 t4 t5 t6"  # stride-3 overlap
    assert out[3][2] == "t9"  # short tail, not padded
    # empty doc: zero chunks
    ids = {r["id"] for r in chunk_token_windows(df, "doc_id", "text").collect()}
    assert ids == {1}


def test_corpus_rarity_features(spark):
    """Rare-token ratio + surprisal bucketing: a gibberish doc of
    corpus-unique tokens scores maximal rare_bp and higher surprisal
    than a doc made of corpus-common words; empty docs survive as
    zero rows."""
    from libswish3_spark.functions.text import corpus_rarity_features

    common = "the cat and the dog and the cat again"
    rows = [(i, common) for i in range(5)]
    rows.append((90, "zxqv wplk jmrt qqzx nvbh"))  # each token unique in corpus
    rows.append((91, ""))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in corpus_rarity_features(df, "doc_id", "text").collect()
    }
    assert out[90]["rare_bp"] == 10000  # all tokens rare
    assert out[0]["rare_bp"] == 0  # every token occurs 5+ times
    assert out[90]["surprisal_c"] > out[0]["surprisal_c"]
    assert out[91]["n_tokens"] == 0 and out[91]["rare_bp"] == 0


def test_remove_duplicated_ngrams(spark):
    """Exact substring dedup: tokens covered by a corpus-repeated
    n-gram vanish, unique content survives verbatim, fully-duplicated
    docs return empty (not dropped), short docs pass through."""
    boiler = "this exact boilerplate sentence repeats across many documents verbatim"
    rows = [
        (1, f"unique alpha opening words here {boiler} and unique alpha tail content"),
        (2, f"different beta lead-in text now {boiler} plus another distinct ending"),
        (3, boiler),  # nothing but the duplicated span
        (4, "entirely original document with no repeated window at all in it"),
        (5, "tiny doc"),  # shorter than n: no windows, untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in D.remove_duplicated_ngrams(df, "doc_id", "text", n=8).collect()
    }
    assert len(out) == 5  # every doc present
    for tok in boiler.split():
        # boilerplate-only tokens are gone from every doc that had them
        assert tok not in out[3]["clean_text"].split()
    assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
    assert "unique" in out[1]["clean_text"] and "alpha" in out[1]["clean_text"]
    assert "distinct" in out[2]["clean_text"]
    assert out[4]["n_removed"] == 0  # untouched
    assert out[5]["clean_text"] == "tiny doc" and out[5]["n_removed"] == 0
    # removal counts: doc 3 lost all its tokens
    assert out[3]["n_removed"] == len(boiler.split())


def test_cap_drop_metrics_planted_hot_bucket(spark):
    """The max_bucket guard's drops must be countable: plant a hot
    bucket (12 identical docs → every band bucket has 12 members) and
    assert the metric row reports exactly the dropped buckets/rows the
    candidate join excluded."""
    rows = [(f"dup{i}", "identical boilerplate text repeated verbatim here")
            for i in range(12)]
    rows += [(f"uniq{i}", f"completely different document number {i} with its own words")
             for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    bucketed = D.doc_band_buckets(df, "doc_id", "text")
    m = D.cap_drop_metrics(bucketed, "bucket", max_bucket=10).collect()[0]
    # the 12 clones share all 8 band buckets; every one is over the cap
    assert m["dropped_buckets"] == D.MINHASH_BANDS
    assert m["dropped_rows"] == 12 * D.MINHASH_BANDS
    # and the candidate join really dropped them: no pair among clones
    cands = D.minhash_candidates(df, "doc_id", "text", max_bucket=10)
    assert not [r for r in cands.collect() if r["a"].startswith("dup")]
    # under no cap the metric row is zeros
    z = D.cap_drop_metrics(bucketed, "bucket", max_bucket=10**6).collect()[0]
    assert (z["dropped_buckets"], z["dropped_rows"]) == (0, 0)


def test_resolve_clusters_long_chain_converges(spark, monkeypatch):
    """Pointer doubling: a pure chain of 25 nodes (diameter 24) must
    resolve every node to keeper 'n00' well within the default round
    budget (plain propagation would need 24 rounds)."""
    import warnings

    pairs = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(24)], ["a", "b"]
    )
    # force the distributed loop: 24 pairs fit the driver union-find
    monkeypatch.setattr(D, "_LOCAL_CC_MEMORY_SHARE", 0)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = {
            r["doc_id"]: r["keeper"]
            for r in D.resolve_clusters(pairs, max_rounds=8).collect()
        }
    assert len(out) == 25
    assert set(out.values()) == {"n00"}


def test_resolve_clusters_nonconvergence_is_signaled(spark, monkeypatch):
    """Hitting max_rounds without a fixpoint must warn (or raise with
    require_converged) — never return silently-wrong keepers."""
    import warnings

    pairs = spark.createDataFrame(
        [(f"c{i:02d}", f"c{i + 1:02d}") for i in range(30)], ["a", "b"]
    )
    # force the distributed loop — the size-gated driver union-find
    # needs no rounds and cannot fail to converge
    monkeypatch.setattr(D, "_LOCAL_CC_MEMORY_SHARE", 0)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        D.resolve_clusters(pairs, max_rounds=1)
    assert any("fixpoint" in str(w.message) for w in caught)
    with pytest.raises(ValueError, match="fixpoint"):
        D.resolve_clusters(pairs, max_rounds=1, require_converged=True)


def test_drop_frequent_paragraphs(spark):
    # 12 docs share a boilerplate line (df=12 > 10 → dropped); each has
    # a unique line (kept); doc 99 is ALL boilerplate → empty clean_text
    rows = [(i, f"unique line {i}\nBOILER PLATE") for i in range(12)]
    rows.append((99, "BOILER PLATE"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in D.drop_frequent_paragraphs(df, "doc_id", "text", max_doc_freq=10).collect()
    }
    assert out[3]["clean_text"] == "unique line 3"
    assert out[3]["n_paras"] == 1
    # all-boilerplate doc survives as a row with an empty clean_text
    # (the documented contract — not silent document loss)
    assert out[99]["clean_text"] == ""
    assert out[99]["n_paras"] == 0
    # under the threshold nothing is dropped
    kept_all = D.drop_frequent_paragraphs(df, "doc_id", "text", max_doc_freq=13)
    assert {r["n_paras"] for r in kept_all.collect()} == {1, 2}


def test_drop_frequent_paragraphs_preserves_order(spark):
    df = spark.createDataFrame(
        [(1, "z last\na first\nm mid")], ["doc_id", "text"]
    )
    out = D.drop_frequent_paragraphs(df, "doc_id", "text").collect()[0]
    assert out["clean_text"] == "z last\na first\nm mid"  # original order


def test_drop_frequent_paragraphs_literal_separator(spark):
    # sep containing regex metacharacters splits literally and the
    # split/join round-trip holds (sep is Pattern.quote'd for the split)
    df = spark.createDataFrame(
        [(1, "alpha || beta || gamma"), (2, "delta || beta || epsilon")],
        ["doc_id", "text"],
    )
    out = {
        r["id"]: r
        for r in D.drop_frequent_paragraphs(
            df, "doc_id", "text", sep=" || ", max_doc_freq=1
        ).collect()
    }
    assert out[1]["clean_text"] == "alpha || gamma"
    assert out[2]["clean_text"] == "delta || epsilon"


def test_gopher_filter_rules(spark):
    long_good = "the quick brown fox jumps over a lazy dog and then " * 10
    short = "the a tiny"
    no_stop = "zebra quokka wombat " * 30
    symbols = ("the and word " * 20) + "#" * 100
    df = spark.createDataFrame(
        [(1, long_good), (2, short), (3, no_stop), (4, symbols)],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in T.gopher_filter(df, "text").collect()}
    assert out[1]["kept"] is True
    assert out[2]["kept"] is False and out[2]["word_count_ok"] is False
    assert out[3]["kept"] is False and out[3]["stopwords_ok"] is False
    assert out[4]["kept"] is False and out[4]["symbol_ratio_ok"] is False


def test_redact_pii_and_repetition(spark):
    df = spark.createDataFrame(
        [
            (1, "Write To Bob.Smith+x@Sub.Example.ORG today"),
            (2, "card 12345678901234 and short 12345678 stay"),
            (3, "go go go go go go stop"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            T.redact_pii(F.col("text")).alias("red"),
            T.repetition_bp(F.col("text")).alias("rep"),
        ).collect()
    }
    assert out[1]["red"] == "write to <EMAIL> today"
    assert out[2]["red"] == "card <NUM> and short 12345678 stay"  # 8 digits kept
    # "go"x6: trigrams = 5, distinct = {"go go go"} plus tail "go go stop"
    assert out[3]["rep"] == 6000  # 3 duplicate of 5 total → 6000bp


def test_minhash_recall_on_planted_near_dups(spark):
    # plant 30 near-dup pairs (~90% token overlap) among 60 noise docs;
    # LSH candidates must recover >=80% of pairs whose TRUE jaccard
    # clears the verify threshold (K=8, 4 bands of 2 rows: the standard
    # quality floor for this config)
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    truth = set()
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(40)]
        near = list(base)
        for _ in range(4):  # ~10% token edits
            near[rng.randrange(len(near))] = rng.choice(vocab)
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(near)))
        truth.add((2 * i, 2 * i + 1))
    for i in range(60):
        rows.append((1000 + i, " ".join(rng.choice(vocab) for _ in range(40))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    verified = {
        (r["a"], r["b"])
        for r in D.jaccard_verify(
            df, D.minhash_candidates(df, "doc_id", "text"), "doc_id", "text", 0.5
        ).collect()
    }
    # ground truth at the same threshold: every pair scored in Python
    sets = {i: set(D.ascii_shingles(t)) for i, t in rows}
    true_pairs = {
        (a, b)
        for a in sets
        for b in sets
        if a < b
        and len(sets[a] & sets[b]) * 10000 // len(sets[a] | sets[b]) >= 5000
    }
    assert true_pairs  # the planting produced real near-dups
    recall = len(verified & true_pairs) / len(true_pairs)
    assert recall >= 0.8, (recall, len(true_pairs))
    # and no false positives: verify is exact on candidates
    assert verified <= true_pairs


def test_ann_ivf_recall_vs_brute_force(spark):
    """IVF recall@10 against exact brute force over the bench
    embeddings at the registered defaults (16 cells, nprobe 6) — the
    same measured-recall gate the LSH tables carry: a green driver hash
    proves Spark==DuckDB under the cell restriction, not that the
    restriction retains the true neighbors."""
    from libswish3_spark.functions import similarity as S
    from libswish3_spark.operators.signatures import ensure_index_tables

    sigs = ensure_index_tables(spark, "/root/testdata/sf0.01")["embedding_sigs"]
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = [
        list(r["embedding"]) for r in emb.orderBy("vec_id").limit(3).collect()
    ]
    centroids = S.ivf_centroids(emb, "vec_id", "embedding")
    recalls = []
    for qv in queries:
        exact = {
            r["vec_id"]
            for r in S.brute_force_topk(emb, "vec_id", "embedding", qv).collect()
        }
        approx = {
            r["vec_id"]
            for r in S.ann_ivf_topk(
                sigs, "vec_id", "embedding", qv, centroids
            ).collect()
        }
        recalls.append(len(exact & approx) / len(exact))
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_star_candidate_pairs_resolve_same_clusters_with_linear_edges(spark):
    """pairs='star' (member → bucket-min edges, O(size) per bucket)
    must resolve the SAME connected components as pairs='all'
    (O(size²)) over clone families — with far fewer edges. This is the
    100 TB path for clone-heavy corpora where all-pairs volume
    measured 222 M edges on a 1.28 M-doc replicated corpus."""
    from libswish3_spark.functions import dedup as D

    # 6 clone families × 8 members + 10 singletons — vocabularies fully
    # disjoint so buckets never straddle families
    rows = []
    for fam in range(6):
        base = " ".join(f"fam{fam}tok{i}" for i in range(20))
        for m in range(8):
            rows.append((f"f{fam}_m{m}", base))
    for s in range(10):
        rows.append((f"solo{s}", " ".join(f"solo{s}w{i}" for i in range(20))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    idx = D.doc_band_buckets(docs, "doc_id", "text")

    all_pairs = D.candidate_pairs_from_buckets(idx, max_bucket=None)
    star_pairs = D.candidate_pairs_from_buckets(idx, max_bucket=None, pairs="star")
    n_all, n_star = all_pairs.count(), star_pairs.count()
    # all: C(8,2)=28 per family per band (deduped across bands) = 168;
    # star: 7 per family = 42. Linear vs quadratic in family size.
    assert n_star < n_all
    assert n_star <= 6 * 7

    def clusters(pairs):
        return {
            (r["doc_id"], r["keeper"])
            for r in D.resolve_clusters(pairs).collect()
        }

    assert clusters(star_pairs) == clusters(all_pairs)

    import pytest

    with pytest.raises(ValueError, match="all.*star|star.*all|pairs"):
        D.candidate_pairs_from_buckets(idx, pairs="chain")


def test_corpus_rarity_tokenless_corpus_without_aqe(spark):
    """total == 0 path: the constant-key pmod's modulus is clamped with
    greatest(total, 1). Without the clamp a token-less corpus raised
    REMAINDER_BY_ZERO under ANSI whenever AQE's empty-relation
    propagation didn't erase the branch first — library functions run
    in whatever session the caller provides, so AQE-off must work."""
    from libswish3_spark.functions.text import corpus_rarity_features

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = spark.createDataFrame([(1, ""), (2, " . ")], ["doc_id", "text"])
        out = {
            r["id"]: r
            for r in corpus_rarity_features(df, "doc_id", "text").collect()
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert set(out) == {1, 2}
    assert all(
        r["n_tokens"] == 0 and r["rare_bp"] == 0 and r["surprisal_c"] == 0
        for r in out.values()
    )


def test_jaccard_verify_empty_shingles_no_divide_by_zero(spark):
    """Caller-supplied candidate pairs may include docs too short to
    shingle (sub-n tokens → empty arrays → union 0): the clamped
    denominator scores the pair 0 instead of DIVIDE_BY_ZERO under
    ANSI; a genuinely similar pair still verifies."""
    from pyspark.sql import functions as F

    from libswish3_spark.functions.dedup import jaccard_verify

    docs = spark.createDataFrame(
        [
            (1, "ab"),  # < n tokens: empty shingle set
            (2, "cd"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "the quick brown fox jumps over the lazy cat"),
        ],
        ["doc_id", "text"],
    )
    cand = spark.createDataFrame([(1, 2), (3, 4)], ["a", "b"])
    got = {(r["a"], r["b"]): r["jaccard_bp"] for r in
           jaccard_verify(docs, cand, "doc_id", "text", threshold=0.3).collect()}
    assert (1, 2) not in got          # empty-vs-empty dropped, no crash
    assert got[(3, 4)] >= 3000        # real pair still verifies


def test_jaccard_threshold_is_rounded_not_truncated(spark):
    """A pair scoring exactly 5699 bp (110 shared of 193 distinct
    3-grams) fails a 0.57 threshold and passes 0.5699 (int(0.57 *
    10000) is 5699, which used to let it through)."""
    common = [f"c{i}" for i in range(112)]  # 110 shared 3-grams
    docs = spark.createDataFrame(
        [
            (1, " ".join(common + [f"a{i}" for i in range(41)])),
            (2, " ".join(common + [f"b{i}" for i in range(42)])),
        ],
        ["doc_id", "text"],
    )
    cand = spark.createDataFrame([(1, 2)], ["a", "b"])

    def score(t):
        return D.jaccard_verify(docs, cand, "doc_id", "text", threshold=t)

    assert score(0.57).collect() == []
    assert [r["jaccard_bp"] for r in score(0.5699).collect()] == [5699]


def _reference_candidate_pairs(rows, max_bucket, pairs):
    """The edge sets candidate_pairs_from_buckets documents, in Python:
    buckets over max_bucket rows dropped; every a < b pair, or only
    (min, member) for a star bucket."""
    from collections import defaultdict

    members = defaultdict(list)
    for i, b in rows:
        members[b].append(i)
    out = set()
    for ids in members.values():
        if max_bucket is not None and len(ids) > max_bucket:
            continue
        star = pairs == "star" or (pairs == "auto" and len(ids) > D.STAR_THRESHOLD)
        out |= {(a, b) for a in ids for b in ids if a < b and (not star or a == min(ids))}
    return out


def test_candidate_pairs_match_reference_edge_sets(spark):
    """All three edge modes equal the documented edge sets on a seeded
    table with buckets at and just over STAR_THRESHOLD and max_bucket,
    repeated (id, bucket) rows and string ids shared across buckets."""
    import random

    rng = random.Random(11)
    cap, t = 40, D.STAR_THRESHOLD
    pool = [f"d{i}" for i in range(120)]  # "d9" > "d10": string order
    rows = []
    for bucket, size in [
        ("at_star", t), ("over_star", t + 1), ("at_cap", cap), ("over_cap", cap + 1),
        ("pair", 2), ("single", 1), ("mid", 7), ("dup_star", t), ("dup_small", 4),
    ]:
        rows += [(i, bucket) for i in rng.sample(pool, size)]
    # repeated rows count toward the bucket size and add no edges: one
    # repeat tips "dup_star" from all-pairs to star in auto mode
    rows += [r for r in rows if r[1] == "dup_star"][:1]
    rows += [r for r in rows if r[1] == "dup_small"][:2]
    rng.shuffle(rows)
    exploded = spark.createDataFrame(rows, ["id", "bucket"])
    for max_bucket in (cap, None):
        for pairs in ("all", "star", "auto"):
            got = D.candidate_pairs_from_buckets(exploded, max_bucket, pairs).collect()
            assert len(got) == len(set(got)), (max_bucket, pairs)
            want = _reference_candidate_pairs(rows, max_bucket, pairs)
            assert {(r["a"], r["b"]) for r in got} == want, (max_bucket, pairs)


def test_media_features_defaults_missing_columns(spark):
    """A media frame lacking media_type/content must decode with NULL
    defaults (the kernel indexes both unconditionally — a missing
    column used to KeyError inside the executor, killing the job)."""
    from libswish3_spark.functions.media import extract_media_features

    df = spark.createDataFrame([("m1",), ("m2",)], ["media_ref"])
    rows = {r["media_ref"]: r for r in extract_media_features(df).collect()}
    assert set(rows) == {"m1", "m2"}
    assert all(r["feature"] is not None for r in rows.values())  # fake_decode(None)


def test_candidate_pairs_auto_mode_clone_families(spark):
    """The scale default 'auto' emits O(n) star edges for
    clone-family buckets (above STAR_THRESHOLD members) and full
    all-pairs for ordinary buckets, with resolved clusters identical
    to all-pairs on the clone families."""
    # one 40-member clone family (shared bucket), one 3-member bucket
    rows = [(f"c{i:02d}", "fam") for i in range(40)]
    rows += [(f"s{i}", "small") for i in range(3)]
    exploded = spark.createDataFrame(rows, ["id", "bucket"])
    auto = D.candidate_pairs_from_buckets(exploded, pairs="auto")
    allp = D.candidate_pairs_from_buckets(exploded, pairs="all")
    got = auto.collect()
    fam_edges = [r for r in got if r["a"].startswith("c")]
    small_edges = [r for r in got if r["a"].startswith("s")]
    # clone family: star = n-1 edges, not n(n-1)/2
    assert len(fam_edges) == 39
    assert all(r["a"] == "c00" for r in fam_edges)
    # ordinary bucket keeps all-pairs
    assert len(small_edges) == 3
    # identical resolved clusters
    ca = {r["doc_id"]: r["keeper"] for r in D.resolve_clusters(auto).collect()}
    cb = {r["doc_id"]: r["keeper"] for r in D.resolve_clusters(allp).collect()}
    assert ca == cb
    # the cap still applies before dispatch
    capped = D.candidate_pairs_from_buckets(exploded, max_bucket=39, pairs="auto")
    assert all(r["a"].startswith("s") for r in capped.collect())

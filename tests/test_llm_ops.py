"""LLM-pipeline extension operators: dedup family, similarity, text,
multimodal (north-star M4)."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from learn_hbase_spark.operators import multimodal, similarity
from learn_hbase_spark.operators.dedup import (
    exact_dedup,
    line_dedup,
    minhash_bucket_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_hamming_pairs,
    simhash_md5,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),        # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),        # near dup of 0
    (3, "completely different content about spark engines"),
    (4, "  The  QUICK brown fox jumps over the lazy dog  "),   # normalized dup of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_normalized(spark, docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    # 0, 1 and 4 collapse (case/whitespace-normalized); lowest id wins
    assert kept == [0, 2, 3]


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_bucket_pairs(docs, num_hashes=16, bands=8).collect()
    }
    assert (0, 1) in pairs and (0, 4) in pairs  # exact dups always collide
    assert (0, 2) in pairs                       # near dup collides in ≥1 band
    assert (0, 3) not in pairs                   # unrelated docs don't


def test_ngram_jaccard_scores(spark, docs):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert got[(0, 1)] == 1.0
    assert 0.5 < got[(0, 2)] < 1.0
    assert (0, 3) not in got


def test_simhash_close_for_near_dups(spark, docs):
    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert fp[0] == fp[1] == fp[4]
    ham_near = bin((fp[0] ^ fp[2]) & (2**64 - 1)).count("1")
    ham_far = bin((fp[0] ^ fp[3]) & (2**64 - 1)).count("1")
    assert ham_near < ham_far


def test_simhash_odd_bits_rejected(spark, docs):
    with pytest.raises(ValueError, match="even"):
        simhash(docs, bits=63)


def test_simhash_hamming_pairs_banded_recall(spark):
    # Construct fingerprints directly so the recall guarantee is exact:
    # pairs within Hamming<=3 MUST be found (pigeonhole over 4 lanes),
    # pairs beyond must not appear in the output.
    base = 0b10110100_01011010_11001100_00110101
    rows = [
        (0, base),
        (1, base ^ 0b111),            # hamming 3 (all in lane 0)
        (2, base ^ (1 << 5) ^ (1 << 13) ^ (1 << 27)),  # hamming 3, spread
        (3, base ^ ((1 << 9) - 1)),   # hamming 9 — candidate via lanes 2/3
        (4, 0),                        # far from everything
    ]
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(fps, max_hamming=3).collect()
    }
    assert got[(0, 1)] == 3 and got[(0, 2)] == 3
    assert (0, 3) not in got and (0, 4) not in got
    assert (1, 2) not in got  # hamming 6: candidate via lane 2, filtered


def test_simhash_hamming_pairs_rejects_bad_bands(spark):
    fps = spark.createDataFrame([(0, 1)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(fps, max_hamming=4, bands=4)
    with pytest.raises(ValueError, match="divisible"):
        simhash_hamming_pairs(fps, bands=5, bits=32)


def test_simhash_md5_deterministic_and_near(spark, docs):
    fp = {r["doc_id"]: r["simhash"] for r in simhash_md5(docs).collect()}
    fp2 = {r["doc_id"]: r["simhash"] for r in simhash_md5(docs).collect()}
    assert fp == fp2
    assert fp[0] == fp[1] == fp[4]
    near = bin(fp[0] ^ fp[2]).count("1")
    far = bin(fp[0] ^ fp[3]).count("1")
    assert near < far


def test_line_dedup_literal_separator(spark):
    # '.' as separator must split on the dot character, not regex-any
    rows = [(i, "keep me.boiler plate.tail%d" % i) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in line_dedup(docs, max_count=3, sep=".").collect()
    }
    assert out[0]["n_dropped"] == 2  # 'keep me' and 'boiler plate' both hot
    assert out[0]["clean_text"] == "tail0"


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


def _numpy_lloyd(rows, k, n_iter):
    """Single-node reference for kmeans_clusters: identical seeding
    (k lowest ids), identical fixed-iteration Lloyd's on normalized
    vectors, identical argmax tie-break."""
    import numpy as np

    ids = sorted(r[0] for r in rows)
    by_id = dict(rows)

    def norm(m):
        return m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    raw = np.stack([np.asarray(by_id[i], float) for i in ids])
    cents = norm(raw[:k].copy())
    data = norm(raw)
    for _ in range(n_iter):
        cells = np.argmax(data @ cents.T, axis=1)
        new = cents.copy()
        for c in range(k):
            members = raw[cells == c]  # operator means RAW vectors in id order
            if len(members):
                new[c] = members.mean(axis=0)
        cents = norm(new)
    final = np.argmax(data @ cents.T, axis=1)
    return dict(zip(ids, final.tolist()))


@pytest.mark.parametrize("exact", [False, True])
def test_kmeans_matches_numpy_reference(spark, vectors, km_path, exact):
    from functools import partial

    from learn_hbase_spark.operators import similarity

    kmeans_clusters = partial(similarity.kmeans_clusters, exact_replay=exact)
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_clusters(vectors, k=4, n_iter=3).collect()
    }
    rows = [(r["vec_id"], r["embedding"]) for r in vectors.collect()]
    want = _numpy_lloyd(rows, k=4, n_iter=3)
    assert got == want
    # determinism across partitioning
    got2 = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_clusters(vectors.repartition(7), k=4, n_iter=3).collect()
    }
    assert got2 == got
    # similarity to assigned centroid is a valid cosine
    sims = [r["sim"] for r in kmeans_clusters(vectors, k=4, n_iter=3).collect()]
    assert all(-1.0 <= s <= 1.0 for s in sims)


def test_within_cluster_pairs_semdedup_semantics(spark):
    """SemDeDup pair generation: near-identical vectors in the same cell
    pair up; vectors in different cells NEVER pair (the declared recall
    trade); below-threshold same-cell pairs are filtered."""
    from learn_hbase_spark.operators.similarity import within_cluster_pairs

    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.999, 0.01, 0.0], 0),   # ~identical to 0, same cell
        (2, [0.0, 1.0, 0.0], 0),      # same cell, orthogonal -> filtered
        (3, [1.0, 0.0, 0.0], 1),      # identical to 0 but OTHER cell
    ]
    assigned = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cluster_id int"
    )
    got = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in within_cluster_pairs(assigned, threshold=0.9).collect()
    }
    assert (0, 1) in got and got[(0, 1)] > 0.99
    assert (0, 2) not in got          # below threshold
    assert (0, 3) not in got          # cross-cell: never compared
    assert list(got) == [(0, 1)]


@pytest.fixture(scope="module")
def vectors(spark):
    rng = random.Random(3)
    rows = []
    for i in range(60):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(16)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_matches_numpy(spark, vectors):
    import numpy as np

    rows = {r["vec_id"]: np.array(r["embedding"]) for r in vectors.collect()}
    out = similarity.cosine_topk(
        vectors.filter(F.col("vec_id") == 0), vectors, k=5
    ).collect()
    v0 = rows[0]
    want = sorted(
        (
            (float(v0 @ v / (np.linalg.norm(v0) * np.linalg.norm(v))), -i)
            for i, v in rows.items()
            if i != 0
        ),
        reverse=True,
    )[:5]
    got = [(r["rank"], r["neighbor_id"], r["sim"]) for r in sorted(out, key=lambda r: r["rank"])]
    for (rank, nid, sim), (wsim, wnid) in zip(got, want):
        assert nid == -wnid
        assert math.isclose(sim, round(wsim, 6), abs_tol=1e-6)


def test_lsh_recall_vs_bruteforce(spark, vectors):
    """LSH with few planes must recover most of the true top-5."""
    rng = random.Random(11)
    planes = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(2)]
    q = vectors.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(q, vectors, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.lsh_topk(q, vectors, planes, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"recall {recall} too low even for 2-plane LSH"


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


def _real_bmp_pixels():
    import numpy as np

    # 6x5 BGR gradient: width 5 → row 15 bytes → stride pads to 16,
    # exercising the 4-byte padding path in every test that decodes it
    y = np.arange(6)[:, None, None]
    x = np.arange(5)[None, :, None]
    c = np.arange(3)[None, None, :]
    return ((y * 40 + x * 9 + c * 70) % 256).astype(np.uint8)


def _real_wav_samples():
    import numpy as np

    return (np.arange(-300, 300, 3, dtype=np.int64) * 100).astype(np.int16)


@pytest.fixture(scope="module")
def media(spark):
    bmp = multimodal.encode_bmp(_real_bmp_pixels())
    wav = multimodal.encode_wav_pcm16(_real_wav_samples(), 8000)
    rows = [
        (1, "image", bytearray(bmp), "image/bmp", 5, 6, None),
        (2, "video", bytearray(b"\x00\x00vid"), "video/mp4", 16, 16, 3500),
        (3, "audio", bytearray(wav), "audio/wav", None, None, 2000),
    ]
    return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)


def test_extract_features_batched(spark, media):
    bmp = multimodal.encode_bmp(_real_bmp_pixels())
    got = {r["media_id"]: r.asDict() for r in multimodal.extract_features(media).collect()}
    assert got[1]["n_bytes"] == len(bmp)
    assert got[1]["checksum"] == sum(bmp) % (2**31)
    assert got[2]["n_bytes"] == 5  # format-agnostic: profiles any payload
    assert all(v["feature_dim"] == 64 for v in got.values())


def test_frame_sample_plan(spark, media):
    frames = multimodal.frame_sample_plan(media, every_ms=1000).collect()
    # one video, 3500ms → frames at 0, 1000, 2000, 3000
    assert [r["frame_ms"] for r in frames] == [0, 1000, 2000, 3000]


def test_embedding_neardup_matches_numpy(spark, vectors):
    """All-pairs cosine near-dup agrees with a NumPy reference on both the
    surviving pair set and the scores."""
    import numpy as np

    from learn_hbase_spark.operators.similarity import embedding_neardup_pairs

    rows = vectors.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    m = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    sims = (m @ m.T) / np.outer(norms, norms)
    expected = {
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= 0.2
    }
    got = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in embedding_neardup_pairs(vectors, threshold=0.2).collect()
    }
    assert set(got) == expected
    for (i, j), s in got.items():
        ii, jj = ids.index(i), ids.index(j)
        assert abs(s - sims[ii, jj]) < 1e-5


def test_rolling_hash_deterministic_and_sensitive(spark):
    """Rolling hash: equal strings collide, any char change or transposition
    changes the hash (position-sensitive, unlike a bag-of-chars sum)."""
    from learn_hbase_spark.functions.text import rolling_hash

    df = spark.createDataFrame(
        [("ab cd",), ("ab cd",), ("ab ce",), ("ba cd",), ("",)], "t string"
    )
    hashes = [r[0] for r in df.select(rolling_hash(F.col("t"))).collect()]
    assert hashes[0] == hashes[1]
    assert len({hashes[0], hashes[2], hashes[3]}) == 3
    assert hashes[4] == 0


def test_quality_score_bounds_and_cases(spark):
    """Quality score stays in {0, 1/3, 2/3, 1}: a clean English sentence
    scores high, punctuation soup scores low."""
    from learn_hbase_spark.functions.text import quality_score

    good = "the quick brown fox jumps over the lazy dog and runs to the hills"
    bad = "@#$% ^&*! ((()))"
    df = spark.createDataFrame([(good,), (bad,)], "t string")
    scores = [r[0] for r in df.select(quality_score(F.col("t"))).collect()]
    assert scores[0] == 1.0
    assert scores[1] < 0.5


def test_resize_images_real_pixels(spark, media):
    """REAL resize: only image rows; the output payload is a valid BMP
    whose pixels equal nearest-neighbor sampling of the SOURCE array —
    verified by decoding the resized bytes and comparing to a NumPy
    reference over the original pixels."""
    import numpy as np

    out = {r["media_id"]: r.asDict()
           for r in multimodal.resize_images(media, 3, 4).collect()}
    assert set(out) == {1}  # only the image row
    r = out[1]
    assert r["width"] == 3 and r["height"] == 4
    src = _real_bmp_pixels()  # (6, 5, 3)
    ys = (np.arange(4) * 6) // 4
    xs = (np.arange(3) * 5) // 3
    want = src[ys][:, xs]
    got = multimodal.decode_bmp(bytes(r["payload"]))
    assert got.shape == (4, 3, 3) and (got == want).all()


def test_audio_features_real_samples(spark, media):
    """REAL audio features: only audio rows; rate from the parsed fmt
    chunk, n/rms/peak from the decoded sample array (NumPy reference)."""
    import numpy as np

    out = {r["media_id"]: r.asDict()
           for r in multimodal.audio_features(media).collect()}
    assert set(out) == {3}
    s = _real_wav_samples().astype(np.int64)
    r = out[3]
    assert r["sample_rate"] == 8000 and r["n_samples"] == len(s)
    assert r["rms"] == round(float(np.sqrt((s * s).mean())), 6)
    assert r["peak"] == int(np.abs(s).max())


def test_downsample_audio_real_samples(spark, media):
    """REAL downsample: decimated payload re-decodes to every 3rd source
    sample at a third of the rate."""
    import numpy as np

    out = {r["media_id"]: r.asDict()
           for r in multimodal.downsample_audio(media, factor=3).collect()}
    assert set(out) == {3}
    r = out[3]
    rate, got = multimodal.decode_wav_pcm16(bytes(r["payload"]))
    want = _real_wav_samples()[::3]
    assert rate == 8000 // 3 == r["sample_rate"]
    assert r["n_samples"] == len(want) and (got == want).all()


def test_video_frame_features_real_pixels(spark):
    """Real AVI decode end-to-end: features come from the DECODED frame
    pixels (NumPy reference match), the sampled (media_id, frame_ms)
    set EQUALS frame_sample_plan's metadata-driven sequence, and the
    frame index rule picks the right frame at each tick."""
    import numpy as np

    rng = np.random.RandomState(7)
    frames = rng.randint(0, 256, size=(4, 6, 5, 3)).astype(np.uint8)
    fps = 2  # 4 frames @ 2fps -> 2000 ms
    avi = multimodal.encode_avi(frames, fps)
    rows = [(9, "video", bytearray(avi), "video/avi", 5, 6, 2000)]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    got = {
        r["frame_ms"]: r.asDict()
        for r in multimodal.video_frame_features(media, every_ms=500)
        .collect()
    }
    plan = {
        (r["media_id"], r["frame_ms"])
        for r in multimodal.frame_sample_plan(media, every_ms=500)
        .collect()
    }
    # plan equality: duration metadata (2000 ms) and decoded stream
    # (4 frames @ 2 fps) describe the same ticks
    assert {(9, t) for t in got} == plan == {(9, t) for t in
                                             (0, 500, 1000, 1500)}
    for t, r in got.items():
        f = frames[t * fps // 1000].astype(np.float64)
        means = f.mean(axis=(0, 1))
        assert (r["width"], r["height"]) == (5, 6)
        assert r["mean_b"] == round(float(means[0]), 6)
        assert r["mean_g"] == round(float(means[1]), 6)
        assert r["mean_r"] == round(float(means[2]), 6)


def test_decode_avi_ignores_audio_streams():
    """A real-world AVI interleaves an audio stream: its strl carries a
    WAVEFORMATEX strf (not a BITMAPINFOHEADER) and its movi chunks are
    '01wb' — the decoder must take geometry/fps from the vids strl only
    and frames from the ..db chunks only, never misparse the audio
    headers (the pre-fix behavior raised struct.error or a bogus
    '24bpp' refusal on a perfectly decodable file)."""
    import struct

    import numpy as np

    from learn_hbase_spark.operators import multimodal as M

    def chunk(cid, body):
        return (
            cid + struct.pack("<I", len(body)) + body
            + (b"\x00" if len(body) & 1 else b"")
        )

    def lst(t, body):
        return chunk(b"LIST", t + body)

    frames = (np.arange(2 * 3 * 4 * 3).reshape(2, 3, 4, 3) % 256).astype(
        np.uint8
    )
    n, h, w, _ = frames.shape
    stride = (w * 3 + 3) // 4 * 4
    avih = struct.pack(
        "<14I", 500000, 0, 0, 0, n, 0, 2, stride * h, w, h, 0, 0, 0, 0
    )
    vids_strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, 2, 0, n, stride * h, 0, 0,
        0, 0, w, h,
    )
    vids_strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
    )
    auds_strh = struct.pack(
        "<4s4sIHHIIIIIIII4h",
        b"auds", b"\x00\x00\x00\x00", 0, 0, 0, 0, 1, 8000, 0, 16, 32, 0,
        2, 0, 0, 0, 0,
    )
    # 18-byte WAVEFORMATEX (16-bit mono PCM) — SHORTER than a
    # BITMAPINFOHEADER, the exact shape that crashed the ungated parse
    auds_strf = struct.pack("<HHIIHHH", 1, 1, 8000, 16000, 2, 16, 0)
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", vids_strh) + chunk(b"strf", vids_strf))
        + lst(b"strl", chunk(b"strh", auds_strh) + chunk(b"strf", auds_strf)),
    )
    movi_body = b""
    for i in range(n):
        movi_body += chunk(b"00db", M._dib_rows(frames[i], stride).tobytes())
        movi_body += chunk(b"01wb", b"\x00\x01" * 8)  # interleaved audio
    payload = chunk(b"RIFF", b"AVI " + hdrl + lst(b"movi", movi_body))

    fps, back = M.decode_avi_frames(payload)
    assert fps == 2
    assert back.shape == frames.shape and (back == frames).all()


def test_media_decoders_reject_garbage(spark):
    """A decode pipeline fails LOUDLY on payloads it can't parse — no
    fabricated pixels/samples (8bpp BMPs, non-PCM WAVs, other formats)."""
    import struct

    import numpy as np
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a BMP"):
        multimodal.decode_bmp(b"\x89PNG not a bmp at all, but long enough" * 3)
    with _pytest.raises(ValueError, match="not a RIFF"):
        multimodal.decode_wav_pcm16(b"OggS fake")
    # an 8bpp BMP header: refused, not mis-parsed
    bad = bytearray(multimodal.encode_bmp(np.zeros((2, 2, 3), np.uint8)))
    struct.pack_into("<H", bad, 28, 8)
    with _pytest.raises(ValueError, match="24bpp"):
        multimodal.decode_bmp(bytes(bad))
    # a float-PCM WAV: refused
    wav = bytearray(
        multimodal.encode_wav_pcm16(np.zeros(4, np.int16), 8000)
    )
    struct.pack_into("<H", wav, 20, 3)  # fmt tag -> IEEE float
    with _pytest.raises(ValueError, match="16-bit mono PCM"):
        multimodal.decode_wav_pcm16(bytes(wav))
    # AVI: wrong magic (a WAV is RIFF but not AVI), compressed codec,
    # and headerless payloads are all refused, never mis-parsed
    with _pytest.raises(ValueError, match="not a RIFF/AVI"):
        multimodal.decode_avi_frames(bytes(wav))
    avi = bytearray(
        multimodal.encode_avi(np.zeros((1, 2, 2, 3), np.uint8), fps=1)
    )
    bpp_off = bytes(avi).index(b"strf") + 8 + 14  # biBitCount in strf
    struct.pack_into("<H", avi, bpp_off, 8)
    with _pytest.raises(ValueError, match="24bpp uncompressed AVI"):
        multimodal.decode_avi_frames(bytes(avi))
    with _pytest.raises(ValueError, match="missing vids"):
        multimodal.decode_avi_frames(b"RIFF\x04\x00\x00\x00AVI ")


def test_ivf_recall_vs_bruteforce(spark, vectors):
    """IVF with nprobe=half the cells recovers most exact top-5 neighbors."""
    q = vectors.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(q, vectors, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(q, vectors, k=5, nlist=8, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall} too low"
    # the exact_replay refinement (modulus sample + decimal-exact means)
    # is a different but equally valid quantizer: same recall bar
    replay = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            q, vectors, k=5, nlist=8, nprobe=4, exact_replay=True
        ).collect()
    }
    recall_r = len(exact & replay) / len(exact)
    assert recall_r >= 0.5, f"exact_replay IVF recall {recall_r} too low"


# ---------------------------------------------------------------------------
# exact substring-span dedup (Lee et al. 2021) + winnowing (SIGMOD 2003)
# ---------------------------------------------------------------------------

from learn_hbase_spark.operators.dedup import (  # noqa: E402
    duplicate_spans,
    winnow_fingerprints,
)

SPAN_DOCS = [
    (1, "a b c d e f g h"),          # shares "a b c d e" with doc 2
    (2, "x y a b c d e q"),
    (3, "p q r s t u v w"),          # fully unique -> absent from report
    (4, "m n o z z m n o"),          # within-doc repeat of "m n o"
    # docs 5/6 share "aa bb cc" and "cc dd ee" but NOT "bb cc dd": dup
    # starts in doc 5 are {0, 2} — spaced 2 < k=3, so the two 3-word
    # spans overlap at word 2 and must merge (the gap>1 rule would
    # double-count it and report dup_words=6 of 5 words, dup_frac 1.2)
    (5, "aa bb cc dd ee"),
    (6, "aa bb cc zz cc dd ee"),
]


def test_duplicate_spans_merges_overlaps(spark):
    df = spark.createDataFrame(SPAN_DOCS, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in duplicate_spans(df, k=3).collect()
    }
    assert set(out) == {1, 2, 4, 5, 6}
    # doc 1: dup 3-gram starts {0,1,2} merge into one span covering
    # words [0, 4] -> 5 duplicated words of 8
    assert out[1]["n_spans"] == 1
    assert out[1]["dup_words"] == 5
    assert out[1]["total_words"] == 8
    assert abs(out[1]["dup_frac"] - 0.625) < 1e-9
    assert out[2]["n_spans"] == 1 and out[2]["dup_words"] == 5
    # doc 4: "m n o" occurs at starts 0 and 5 -> gap 5 > k=3 -> the two
    # spans are disjoint -> two spans, each 3 words
    assert out[4]["n_spans"] == 2
    assert out[4]["dup_words"] == 6
    # doc 5: dup starts {0, 2} overlap at word 2 -> ONE merged span of 5
    # words; dup_frac capped at 1.0 by construction
    assert out[5]["n_spans"] == 1
    assert out[5]["dup_words"] == 5
    assert out[5]["total_words"] == 5
    assert abs(out[5]["dup_frac"] - 1.0) < 1e-9
    # doc 6: dup starts {0, 4} -> gap 4 > k=3 -> two disjoint spans
    assert out[6]["n_spans"] == 2
    assert out[6]["dup_words"] == 6


def test_duplicate_spans_counts_within_doc_repeats(spark):
    # a single doc repeating its own content is still duplication
    df = spark.createDataFrame(
        [(1, "u v w k k k u v w")], "doc_id long, text string"
    )
    out = duplicate_spans(df, k=3).collect()
    assert len(out) == 1 and out[0]["n_spans"] == 2


def _winnow_ref(words: list[str], k: int, w: int) -> set[tuple[str, int]]:
    """Pure-python winnowing reference: min (md5, rightmost) per window."""
    import hashlib

    grams = [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]
    keys = [
        hashlib.md5(g.encode()).hexdigest()
        + str(10**12 - i).rjust(13, "0")
        for i, g in enumerate(grams)
    ]
    sel = set()
    for p in range(0, len(grams) - w + 1):
        m = min(keys[p : p + w])
        sel.add((m[:32], 10**12 - int(m[32:])))
    return sel


def test_winnow_matches_python_reference(spark):
    rnd = random.Random(7)
    docs = [
        (i, " ".join(rnd.choice("abcdefgh") for _ in range(30)))
        for i in range(10)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["n_fps"]
        for r in winnow_fingerprints(df, k=4, w=5).collect()
    }
    for doc_id, text in docs:
        assert got[doc_id] == len(_winnow_ref(text.split(" "), 4, 5))


def test_winnow_shared_run_guarantees_shared_fingerprint(spark):
    # winnowing guarantee: a shared run of w + k - 1 words => the two
    # docs share at least one selected fingerprint hash
    k, w = 4, 5
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 = w+k-1
    docs = [
        (1, "one two three " + shared + " four five six seven eight"),
        (2, "red green blue cyan " + shared + " pink teal navy"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    fps = winnow_fingerprints(df, k=k, w=w, rows=True).collect()
    by_doc = {1: set(), 2: set()}
    for r in fps:
        by_doc[r["doc_id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2], "no shared fingerprint for shared run"


def test_winnow_match_bucket_cap_drops_boilerplate(spark):
    """A boilerplate run shared by MANY docs would expand B(B-1)/2 pairs
    from one fingerprint bucket; max_bucket drops those buckets whole,
    while pairs backed by low-fanout (genuine) overlap survive."""
    from learn_hbase_spark.operators.dedup import winnow_match_pairs

    k, w = 4, 5
    boiler = (
        "standard license header text appears identically everywhere "
        "in this synthetic corpus of documents"
    )
    pair_run = "unique overlapping passage found in exactly two documents"
    # six verbatim-identical boilerplate docs: their fingerprint sets are
    # identical, so every shared bucket holds all 6 ids (> cap)
    docs = [(i, boiler) for i in range(1, 7)]
    docs += [
        (10, "start filler alpha " + pair_run + " tail ten"),
        (11, "other filler bravo " + pair_run + " tail eleven"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in winnow_match_pairs(df, k=k, w=w, min_shared=1).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in winnow_match_pairs(
            df, k=k, w=w, min_shared=1, max_bucket=3
        ).collect()
    }
    # boilerplate pairs (6 docs -> 15 pairs) are present uncapped ...
    assert (1, 2) in uncapped and (5, 6) in uncapped
    # ... and gone once the shared fingerprints' buckets exceed the cap
    assert not any(a <= 6 and b <= 6 for a, b in capped)
    # the genuine two-doc overlap survives the cap
    assert (10, 11) in capped and (10, 11) in uncapped


def test_containment_catches_quote_jaccard_misses(spark):
    from learn_hbase_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    quote = "the five boxing wizards jump quickly tonight"
    long_doc = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        + quote
        + " eiusmod tempor incididunt ut labore et dolore magna aliqua "
        "ut enim ad minim veniam quis nostrud exercitation ullamco"
    )
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc)], "doc_id long, text string"
    )
    cont = ngram_containment_pairs(df, n=3, threshold=0.8).collect()
    assert len(cont) == 1 and cont[0]["containment"] == 1.0
    # the same pair is invisible to Jaccard at any useful threshold
    jac = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert jac == []


def test_duplicate_spans_matches_python_reference(spark):
    """Randomized corpus (fixed seed) vs a pure-python reimplementation:
    gram counting, >=2 threshold, island merge, and the per-doc report
    must agree exactly."""
    import collections

    rnd = random.Random(23)
    k = 3
    docs = [
        (i, " ".join(rnd.choice("abcde") for _ in range(rnd.randint(1, 40))))
        for i in range(40)
    ]

    gram_count = collections.Counter()
    doc_grams = {}
    for doc_id, text in docs:
        ws = text.split(" ")
        grams = [
            (" ".join(ws[p : p + k]), p) for p in range(len(ws) - k + 1)
        ]
        doc_grams[doc_id] = (grams, len(ws))
        for g, _ in grams:
            gram_count[g] += 1

    expect = {}
    for doc_id, (grams, nw) in doc_grams.items():
        pos = sorted(p for g, p in grams if gram_count[g] >= 2)
        if not pos:
            continue
        spans = []
        s = e = pos[0]
        for p in pos[1:]:
            # k-word spans starting at e and p overlap/touch iff
            # p - e <= k; only a wider gap starts a new island
            if p - e > k:
                spans.append((s, e + k - 1))
                s = p
            e = p
        spans.append((s, e + k - 1))
        dup_words = sum(b - a + 1 for a, b in spans)
        expect[doc_id] = (len(spans), dup_words, nw)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_spans"], r["dup_words"], r["total_words"])
        for r in duplicate_spans(df, k=k).collect()
    }
    assert got == expect


def test_lsh_plane_dots_well_separated(spark):
    """Guard for the lsh_bucket_assign / ivf-style sign oracles: the bucket
    bit is the SIGN of a 64-term dot product, and the fold order is not
    contractual across engines — a |dot| within summation-order ulps of
    zero could flip a bit between Spark and DuckDB. Assert every
    (vector, plane) dot on the bench corpus clears a margin many orders
    above the ~1e-13 absolute error of a 64-term double fold."""
    import numpy as np

    from learn_hbase_spark import queries as Q
    from learn_hbase_spark.tables import load_table

    planes = np.array(Q._lsh_planes())  # (4, 64)
    emb = (
        load_table(spark, "/root/testdata/sf0.01", "embeddings")
        .select("embedding")
        .toPandas()["embedding"]
    )
    m = np.stack([np.asarray(v, dtype=np.float64) for v in emb])
    dots = np.abs(m @ planes.T)
    assert dots.min() > 1e-6, (
        f"min |plane dot| {dots.min():.3e} too close to the sign boundary "
        "for cross-engine fold-order safety"
    )


def test_corpus_is_ascii_for_byte_sum_oracle(spark):
    """Guard for the multimodal_features oracle: its DuckDB twin replays
    the stub decoder's UTF-8 byte-sum checksum as a code-point sum, which
    is only byte-exact for ASCII text. The synthetic corpus is ASCII at
    every SF; if a future data generation breaks that, this fails before
    the driver records a mystery hash mismatch."""
    from learn_hbase_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    n_non_ascii = docs.filter(
        F.octet_length(F.col("text")) != F.length(F.col("text"))
    ).count()
    assert n_non_ascii == 0


def test_minhash_cap_drops_hot_bucket_but_keeps_pairs(spark):
    """Count-first cap under a genuinely hot bucket: 200 verbatim-identical
    boilerplate docs share every band bucket (bucket size 200 >> cap), so
    all their pairs drop; an unrelated near-dup pair in normal-size
    buckets survives. Exercises the count → semi-join → collect path end
    to end on a bucket that would have built a 200-element array row
    pre-filter under the old cap-after-collect shape."""
    from learn_hbase_spark.operators.dedup import minhash_bucket_pairs

    boiler = (
        "this exact license header paragraph appears verbatim at the top "
        "of every singe generated file in the synthetic corpus"
    )
    docs = [(i, boiler) for i in range(1, 201)]
    docs += [
        (301, "completely unrelated passage about meter readings one"),
        (302, "completely unrelated passage about meter readings one two"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_bucket_pairs(
            df, num_hashes=8, bands=4, max_bucket=10
        ).collect()
    }
    assert not any(a <= 200 and b <= 200 for a, b in capped)
    assert (301, 302) in capped
    # and uncapped, the boilerplate clique is present (sanity: the cap is
    # what removed it, not the banding)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in minhash_bucket_pairs(df, num_hashes=8, bands=4).collect()
    }
    assert (1, 2) in uncapped and (199, 200) in uncapped


def test_ngram_pair_caps_drop_hot_shingles(spark):
    """Count-first cap on the n-gram pair expanders: a shingle shared by
    many boilerplate docs is dropped from the intersection (its bucket
    exceeds the cap) while pairs backed by normal-fanout shingles keep
    their scores; max_bucket=None is byte-identical to the uncapped
    plan (the default path is unchanged)."""
    from learn_hbase_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    boiler = "shared license header words appear in every generated file"
    docs = [(i, boiler) for i in range(1, 31)]
    docs += [
        (41, "unique overlapping passage found in two documents alpha"),
        (42, "unique overlapping passage found in two documents bravo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    for fn in (ngram_jaccard_pairs, ngram_containment_pairs):
        uncapped = {
            (r["id_a"], r["id_b"]) for r in fn(df, threshold=0.1).collect()
        }
        capped = {
            (r["id_a"], r["id_b"])
            for r in fn(df, threshold=0.1, max_bucket=5).collect()
        }
        assert (1, 2) in uncapped, fn.__name__
        assert not any(a <= 30 and b <= 30 for a, b in capped), fn.__name__
        assert (41, 42) in capped and (41, 42) in uncapped, fn.__name__


def test_hard_negative_band_semantics(spark):
    """Band edges pin the contract: a duplicate (sim 1.0) and a
    boundary-exact sim 0.3 are excluded (strict <), sim 0.05 is kept
    (>=), an easy negative below the floor is excluded, and rank ties
    at equal rounded sim break by ascending neighbor id."""
    import math

    rows = [
        (0, [1.0, 0.0]),                       # anchor
        (1, [2.0, 0.0]),                       # dup: sim 1.0 -> out
        (2, [0.3, math.sqrt(0.91)]),           # sim 0.3 exactly -> out (<)
        (3, [0.2, math.sqrt(1 - 0.04)]),       # sim 0.2 -> kept
        (4, [0.2, -math.sqrt(1 - 0.04)]),      # sim 0.2 tie -> kept, after 3
        (5, [0.05, math.sqrt(1 - 0.0025)]),    # sim 0.05 boundary -> kept (>=)
        (6, [0.01, math.sqrt(1 - 0.0001)]),    # below floor -> out
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    got = [
        (r["neighbor_id"], r["rank"], r["sim"])
        for r in similarity.hard_negative_topk(
            q, df, k=5, dup_threshold=0.3, floor=0.05
        ).orderBy("rank").collect()
    ]
    assert got == [(3, 1, 0.2), (4, 2, 0.2), (5, 3, 0.05)]


def test_hard_negative_lsh_matches_unbucketed_on_one_bucket(spark):
    """With zero planes every vector shares bucket 0, so the LSH variant
    must reproduce hard_negative_topk with the whole corpus as anchors —
    same band calls, same ranks, same tie-breaks."""
    random.seed(11)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ref = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in similarity.hard_negative_topk(
            df, df, k=4, dup_threshold=0.5, floor=0.05
        ).collect()
    }
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
        for r in similarity.hard_negative_topk_lsh(
            df, planes=[], k=4, dup_threshold=0.5, floor=0.05, blocks=3
        ).collect()
    }
    assert got == ref


def test_hard_negative_lsh_scores_only_bucket_mates(spark):
    """With one plane splitting the space, cross-bucket pairs must never
    appear — the prefilter is the candidate generator, not a hint."""
    rows = [
        (1, [1.0, 0.1]), (2, [1.0, -0.1]),   # bucket: first-coord >= 0
        (3, [-1.0, 0.1]), (4, [-1.0, -0.2]),  # opposite bucket
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = similarity.hard_negative_topk_lsh(
        df, planes=[[1.0, 0.0]], k=5, dup_threshold=1.1, floor=-1.1
    ).collect()
    for r in got:
        same_side = (r["query_id"] <= 2) == (r["neighbor_id"] <= 2)
        assert same_side, r
    assert {r["query_id"] for r in got} == {1, 2, 3, 4}


def test_gopher_quality_flags_each_rule(spark):
    """One crafted document per Gopher rule, asserting exactly the
    intended flag fails (thresholds loosened so the control doc passes
    everything)."""
    from learn_hbase_spark.functions.text import gopher_quality_flags

    good = "the words flow with plain prose that have decent length here"
    docs = [
        (0, good),                                             # passes all
        (1, "the of gone"),                                    # n_words
        (2, "of to " + "aa " * 9),                             # mean len < 3
        (3, "the office with general #### words appear"),      # symbol ratio
        (4, "- the window\n- of curtain\n- with drapery\n- have blankets"),
        (5, "the first...\nof the second...\nwith x"),         # ellipsis
        (6, "the of 1234 5678 9012 1123 2234 3344 4455 5566"), # alpha frac
        (7, "plain words but zero stop list hits here"),       # stopwords
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in gopher_quality_flags(
            df, min_words=5, max_words=100, min_mean_word_len=3.0,
            max_mean_word_len=10.0, max_symbol_word_ratio=0.3,
            max_bullet_frac=0.5, max_ellipsis_frac=0.5,
            min_alpha_word_frac=0.5, min_stopwords=2,
        ).collect()
    }
    assert got[0]["pass"]
    expect_fail = {
        1: "ok_words", 2: "ok_word_len", 3: "ok_symbol", 4: "ok_bullet",
        5: "ok_ellipsis", 6: "ok_alpha", 7: "ok_stop",
    }
    rules = list(expect_fail.values())
    for doc, bad in expect_fail.items():
        assert not got[doc]["pass"], doc
        assert not got[doc][bad], (doc, bad, dict(got[doc].asDict()))
        for other in rules:
            if other != bad:
                assert got[doc][other], (doc, other, dict(got[doc].asDict()))
    # spot-check the metrics behind three of the flags
    assert got[2]["mean_word_len"] == 2.0
    assert got[4]["bullet_frac"] == 1.0
    assert got[6]["alpha_word_frac"] == 0.2


def test_c4_line_clean_rules(spark):
    """C4 line rules on crafted pages: terminal-punctuation + min-words
    line filters, lorem-ipsum and brace page drops, min-lines page drop,
    and the cleaned text is exactly the surviving lines joined."""
    from learn_hbase_spark.functions.text import c4_line_clean

    page = (
        "this line has enough words and ends well.\n"
        "short line.\n"                      # < 5 words -> dropped
        "no terminal punctuation on this line\n"   # dropped
        'a quoted ending line with five words?"\n'
        "and a third proper sentence survives here!"
    )
    docs = [
        (0, page),                                   # keep: 3 lines survive
        (1, page + "\nLorem Ipsum dolor sit."),      # lorem -> page dropped
        (2, page + "\nvar x = { a: 1 };"),           # brace -> page dropped
        (3, "only one good line survives today.\nnope\nalso nope"),  # < min
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in c4_line_clean(df, min_words_per_line=5, min_lines=2).collect()
    }
    assert got[0]["keep"] and got[0]["n_lines_kept"] == 3
    assert got[0]["n_lines_dropped"] == 2
    assert got[0]["clean_text"].split("\n") == [
        "this line has enough words and ends well.",
        'a quoted ending line with five words?"',
        "and a third proper sentence survives here!",
    ]
    assert not got[1]["keep"] and got[1]["has_lorem"]
    assert not got[2]["keep"] and got[2]["has_brace"]
    assert not got[3]["keep"] and got[3]["n_lines_kept"] == 1
    assert not (got[3]["has_lorem"] or got[3]["has_brace"])


def test_pq_codes_match_numpy_replay(spark, vectors):
    """PQ encoding against a pure-NumPy replay: seeds are the k lowest-id
    RAW vectors, per-subspace argmin squared-L2 with first-occurrence
    (lowest-code) ties; partition-invariant."""
    import numpy as np

    rows = {r["vec_id"]: np.array(r["embedding"]) for r in vectors.collect()}
    ids = sorted(rows)
    seeds = np.stack([rows[i] for i in ids[:8]])
    m, sub = 4, 4  # 16-dim fixture -> 4 subspaces of 4
    want = {}
    for i in ids:
        for j in range(m):
            d = (
                (rows[i][j * sub:(j + 1) * sub] - seeds[:, j * sub:(j + 1) * sub])
                ** 2
            ).sum(axis=1)
            want[(i, j)] = int(d.argmin())
    got = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in similarity.pq_codes(vectors, m=4, k_codes=8).collect()
    }
    assert got == want
    got2 = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in similarity.pq_codes(
            vectors.repartition(7), m=4, k_codes=8
        ).collect()
    }
    assert got2 == want


def test_pq_adc_recall_vs_bruteforce(spark, vectors):
    """ADC over 8-codeword x 4-subspace codes recovers a reasonable share
    of the exact L2 top-5, and every reported dist is the sum of the
    query's table entries for the neighbor's codes."""
    import numpy as np

    q = vectors.filter(F.col("vec_id") < 5)
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in vectors.collect()}
    exact = {}
    for qi in range(5):
        d = sorted(
            (float(((rows[qi] - v) ** 2).sum()), i)
            for i, v in rows.items()
            if i != qi
        )[:5]
        exact[qi] = {i for _, i in d}
    approx = {}
    for r in similarity.pq_adc_topk(q, vectors, m=4, k_codes=8, k=5).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact[i] & approx[i]) for i in range(5))
    assert hits / 25 >= 0.4, (hits, approx)
    # rank order is ascending dist with id tie-break
    per_q = {}
    for r in similarity.pq_adc_topk(q, vectors, m=4, k_codes=8, k=5).collect():
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["dist"], r["neighbor_id"]))
    for lst in per_q.values():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        assert all(
            (a[1], a[2]) <= (b[1], b[2]) for a, b in zip(lst, lst[1:])
        )


def test_gopher_dupline_flags_hand_computation(spark):
    """Duplicate-line metrics on crafted pages: (n - distinct)/n line
    fraction, extra-occurrence character fraction, blank lines excluded,
    paragraph granularity via sep; zero-segment doc passes with zeros."""
    from learn_hbase_spark.functions.text import gopher_dupline_flags

    docs = [
        (0, "aaa\nbbb\naaa\n\nccc"),   # 4 non-blank lines, 'aaa' repeats
        (1, "unique one\nunique two"),
        (2, "   \n\n  "),              # blanks only -> 0 segments
        (3, "x\nx\nx\nx"),             # 4 copies of one line
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in gopher_dupline_flags(df).collect()
    }
    # doc 0: n=4 d=3 -> dup 0.25; chars 3+3+3+3=12, distinct 9 -> 0.25
    assert got[0]["n_segments"] == 4
    assert got[0]["dup_frac"] == 0.25 and got[0]["dup_char_frac"] == 0.25
    assert got[0]["ok_dup"] and not got[0]["ok_dup_chars"]  # 0.25 > 0.20
    assert not got[0]["pass"]
    assert got[1] == dict(doc_id=1, n_segments=2, dup_frac=0.0,
                          dup_char_frac=0.0, ok_dup=True, ok_dup_chars=True,
                          **{"pass": True})
    assert got[2]["n_segments"] == 0 and got[2]["pass"]
    assert got[3]["dup_frac"] == 0.75 and got[3]["dup_char_frac"] == 0.75
    assert not got[3]["pass"]
    # paragraph granularity: same function, sep="\n\n"
    para = {
        r["doc_id"]: r["n_segments"]
        for r in gopher_dupline_flags(df, sep="\n\n").collect()
    }
    assert para[0] == 2  # "aaa\nbbb\naaa" and "ccc"


def test_ivf_pq_composition_consistent_with_adc(spark, vectors):
    """IVF-PQ = ADC restricted to probed cells: every reported distance
    equals pq_adc_topk's for the same pair, every neighbor lies in one
    of the query's probed cells, and recall vs exact L2 stays useful."""
    import numpy as np

    q = vectors.filter(F.col("vec_id") < 5)
    full_adc = {
        (r["query_id"], r["neighbor_id"]): r["dist"]
        for r in similarity.pq_adc_topk(
            q, vectors, m=4, k_codes=8, k=100
        ).collect()
    }
    got = similarity.ivf_pq_topk(
        q, vectors, nlist=8, nprobe=4, m=4, k_codes=8, k=5
    ).collect()
    assert got
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        assert key in full_adc and full_adc[key] == r["dist"], key
    # recall vs exact L2 top-5 (generous: PQ at 8 codewords is coarse)
    rows = {r["vec_id"]: np.array(r["embedding"]) for r in vectors.collect()}
    hits = total = 0
    approx = {}
    for r in got:
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for qi in range(5):
        d = sorted(
            (float(((rows[qi] - v) ** 2).sum()), i)
            for i, v in rows.items() if i != qi
        )[:5]
        exact = {i for _, i in d}
        hits += len(exact & approx.get(qi, set()))
        total += 5
    assert hits / total >= 0.3, (hits, total)


def test_frozen_ivf_pq_probe_equals_live_composition(spark, vectors, tmp_path):
    """The frozen artifact's probe must reproduce ivf_pq_topk exactly —
    same seeded centroids/codebooks through parquet round-trip, same
    joins, same round-6 distances and ranking."""
    src = str(tmp_path / "corpus")
    vectors.write.parquet(src)
    corpus = spark.read.parquet(src)
    q = corpus.filter(F.col("vec_id") < 5)

    live = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk(
            q, corpus, nlist=8, nprobe=4, m=4, k_codes=8, k=5
        ).collect()
    )
    path = str(tmp_path / "ivf_pq")
    similarity.freeze_ivf_pq(corpus, path, nlist=8, m=4, k_codes=8)
    frozen = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk_frozen(q, path, nprobe=4, k=5)
        .collect()
    )
    assert frozen == live and frozen


def test_frozen_ivf_pq_freshness_contract(spark, vectors, tmp_path):
    """ivf_pq_fresh: matches only a complete artifact with the same corpus
    fingerprint AND index params; a torn freeze (no meta — meta is written
    last) reads as absent; corpus file changes flip it stale."""
    src = str(tmp_path / "corpus")
    vectors.write.parquet(src)
    corpus = spark.read.parquet(src)
    fp = similarity.ivf_pq_fingerprint(corpus)
    assert fp  # file-backed → nonempty

    path = str(tmp_path / "ivf_pq")
    assert not similarity.ivf_pq_fresh(spark, path, fp)  # nothing yet
    similarity.freeze_ivf_pq(
        corpus, path, nlist=8, m=4, k_codes=8, src_fingerprint=fp
    )
    assert similarity.ivf_pq_fresh(spark, path, fp, nlist=8, m=4, k_codes=8)
    # param mismatch → stale
    assert not similarity.ivf_pq_fresh(
        spark, path, fp, nlist=16, m=4, k_codes=8
    )
    # corpus rewrite → new fingerprint → stale
    vectors.limit(30).write.mode("overwrite").parquet(src)
    fp2 = similarity.ivf_pq_fingerprint(spark.read.parquet(src))
    assert fp2 != fp
    assert not similarity.ivf_pq_fresh(
        spark, path, fp2, nlist=8, m=4, k_codes=8
    )
    # empty fingerprint (non-file-backed corpus) never matches
    assert not similarity.ivf_pq_fresh(spark, path, "", nlist=8, m=4,
                                       k_codes=8)
    # refreeze tombstone (crash mid-refreeze leaves nlist=-1 over mixed
    # halves): stale AND the probe refuses loudly
    import pytest

    spark.createDataFrame(
        [similarity._meta_tombstone()], similarity._META_SCHEMA
    ).write.mode("overwrite").parquet(f"{path}/meta")
    assert not similarity.ivf_pq_fresh(spark, path, fp, nlist=8, m=4,
                                       k_codes=8)
    with pytest.raises(ValueError, match="no complete IVF-PQ artifact"):
        similarity.ivf_pq_topk_frozen(corpus.limit(1), path)
    # torn artifact: meta removed → absent
    import shutil

    shutil.rmtree(f"{path}/meta")
    assert not similarity.ivf_pq_fresh(spark, path, fp, nlist=8, m=4,
                                       k_codes=8)
    with pytest.raises(ValueError, match="no complete IVF-PQ artifact"):
        similarity.ivf_pq_topk_frozen(corpus.limit(1), path)


def test_freeze_auto_nlist_sqrt_rule(spark, vectors, tmp_path):
    """VERDICT r13 #4: freeze_ivf_pq(nlist=None) resolves nlist by the √N
    rule (floored at 16, capped by the driver-state bound, never above
    N), records the RESOLVED value in meta, and ivf_pq_fresh(nlist=None)
    accepts it — while a tombstone still reads stale."""
    from learn_hbase_spark.operators.similarity import (
        _NLIST_CAP,
        _auto_nlist,
    )

    # the rule itself, across the regimes
    assert _auto_nlist(5) == 5            # tiny corpus: never above N
    assert _auto_nlist(200) == 16         # floor until √N passes 16
    assert _auto_nlist(10_000) == 100     # √N
    assert _auto_nlist(10**10) == _NLIST_CAP  # driver-state cap

    src = str(tmp_path / "corpus")
    vectors.write.parquet(src)           # 50 vectors → floor regime
    corpus = spark.read.parquet(src)
    fp = similarity.ivf_pq_fingerprint(corpus)
    path = str(tmp_path / "auto")
    similarity.freeze_ivf_pq(corpus, path, src_fingerprint=fp)  # nlist=None
    meta = similarity.ivf_pq_meta(spark, path)
    assert int(meta["nlist"]) == _auto_nlist(corpus.count()) == 16
    # fresh under the auto pairing (same fingerprint ⇒ same N ⇒ same
    # resolved nlist), and under the explicit resolved value
    assert similarity.ivf_pq_fresh(spark, path, fp, nlist=None)
    assert similarity.ivf_pq_fresh(spark, path, fp, nlist=16)
    assert not similarity.ivf_pq_fresh(spark, path, fp, nlist=8)
    # the probe serves the auto-frozen artifact identically to the live path
    q = corpus.filter(F.col("vec_id") < 3)
    frozen = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk_frozen(q, path, nprobe=4, k=5)
        .collect()
    )
    live = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk(
            q, corpus, nlist=16, nprobe=4, m=4, k_codes=16, k=5
        ).collect()
    )
    assert frozen == live and frozen
    # a tombstone is NEVER fresh, even with the nlist check waived
    spark.createDataFrame(
        [similarity._meta_tombstone()], similarity._META_SCHEMA
    ).write.mode("overwrite").parquet(f"{path}/meta")
    assert not similarity.ivf_pq_fresh(spark, path, fp, nlist=None)


def test_frozen_ivf_pq_small_corpus_no_phantom_cells(spark, vectors, tmp_path):
    """Corpus smaller than nlist/k_codes: the probe must size its driver
    matrices by the WRITTEN seed rows — zero-padding to meta's requested
    params would create phantom all-zero centroids that outrank real
    negative-cosine cells, diverging from ivf_pq_topk."""
    src = str(tmp_path / "small")
    vectors.filter(F.col("vec_id") < 6).write.parquet(src)
    corpus = spark.read.parquet(src)
    q = corpus.filter(F.col("vec_id") < 2)

    live = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk(
            q, corpus, nlist=8, nprobe=4, m=4, k_codes=8, k=3
        ).collect()
    )
    path = str(tmp_path / "ivf_pq_small")
    similarity.freeze_ivf_pq(corpus, path, nlist=8, m=4, k_codes=8)
    frozen = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk_frozen(q, path, nprobe=4, k=3)
        .collect()
    )
    assert frozen == live and frozen


def test_extend_ivf_pq_incremental_growth(spark, vectors, tmp_path):
    """O(new) extension: freeze on the first half, extend with the second
    — the extended probe must equal probing an artifact whose quantizers
    came from the SAME original seeds but whose codes/cells cover the
    full corpus (frozen-quantizer contract: extension never retrains)."""
    src_a = str(tmp_path / "half_a")
    src_b = str(tmp_path / "half_b")
    vectors.filter(F.col("vec_id") < 30).write.parquet(src_a)
    vectors.filter(F.col("vec_id") >= 30).write.parquet(src_b)
    half_a = spark.read.parquet(src_a)
    half_b = spark.read.parquet(src_b)

    path = str(tmp_path / "ivf_pq_grow")
    similarity.freeze_ivf_pq(half_a, path, nlist=8, m=4, k_codes=8,
                             src_fingerprint="v1")
    similarity.extend_ivf_pq(half_b, path, src_fingerprint="v2")
    assert similarity.ivf_pq_fresh(spark, path, "v2", nlist=8, m=4,
                                   k_codes=8)

    q = half_a.filter(F.col("vec_id") < 3)
    got = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk_frozen(q, path, nprobe=4, k=5)
        .collect()
    )
    # reference: same frozen quantizers (seeds from half_a's lowest ids),
    # codes/cells over the full corpus — freeze half_a, extend ALL of
    # half_b in one more call equals the two-step growth by construction;
    # the meaningful assertions are coverage and frozen-probe math
    neighbor_pool = {t[1] for t in got}
    assert any(n >= 30 for n in neighbor_pool), (
        "extension rows never became retrievable"
    )
    # every reported distance matches the live ADC distance under the
    # SAME quantizers (half_a seeds): rebuild codes for the full corpus
    # with those seeds and compare pair distances
    import numpy as np

    seeds = similarity._pq_seeds(half_a, 8, "vec_id", "embedding")
    full = half_a.unionByName(half_b)
    rows = {r["vec_id"]: np.asarray(r["embedding"], float)
            for r in full.collect()}
    sub = seeds.shape[1] // 4
    for query_id, neighbor_id, rank, dist in got:
        qv, nv = rows[query_id], rows[neighbor_id]
        total = 0.0
        for j in range(4):
            qs = qv[j * sub:(j + 1) * sub]
            ss = seeds[:, j * sub:(j + 1) * sub]
            code = int(((rows[neighbor_id][j * sub:(j + 1) * sub][None, :]
                         - ss) ** 2).sum(axis=1).argmin())
            total += round(float(((qs - ss[code]) ** 2).sum()), 6)
        assert abs(round(total, 6) - dist) < 1e-9, (query_id, neighbor_id)


def test_extend_ivf_pq_requires_complete_artifact(spark, vectors, tmp_path):
    """Extension refuses absent or tombstoned artifacts (a torn extend
    must not be extendable into silent wrongness)."""
    import pytest

    path = str(tmp_path / "nothing")
    with pytest.raises(ValueError, match="to extend"):
        similarity.extend_ivf_pq(vectors, path)


def test_frozen_ivf_pq_refreeze_invalidates_quantizer_cache(spark, tmp_path):
    """A refreeze from a DIFFERENT in-memory corpus writes a byte-identical
    meta row (src='' — the documented refreeze-every-time path for
    non-file-backed corpora), so the (path, meta) memo key alone cannot
    see the change: freeze must drop the cached quantizer matrices or the
    probe serves the old corpus's centroids against the new codes."""
    import random

    rng = random.Random(19)
    mk = lambda seed: [  # noqa: E731
        (i, [random.Random(seed * 1000 + i).uniform(-1, 1)
             for _ in range(16)])
        for i in range(30)
    ]
    corpus_a = spark.createDataFrame(
        mk(1), "vec_id long, embedding array<double>"
    )
    corpus_b = spark.createDataFrame(
        mk(2), "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "mem_art")
    q_ids = [0, 1]

    similarity.freeze_ivf_pq(corpus_a, path, nlist=8, m=4, k_codes=8)
    qa = corpus_a.filter(F.col("vec_id").isin(q_ids))
    # populate the memo
    similarity.ivf_pq_topk_frozen(qa, path, nprobe=4, k=5).collect()

    similarity.freeze_ivf_pq(corpus_b, path, nlist=8, m=4, k_codes=8)
    qb = corpus_b.filter(F.col("vec_id").isin(q_ids))
    frozen_b = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk_frozen(qb, path, nprobe=4, k=5)
        .collect()
    )
    live_b = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk(
            qb, corpus_b, nlist=8, nprobe=4, m=4, k_codes=8, k=5
        ).collect()
    )
    assert frozen_b == live_b and frozen_b


def test_frozen_probe_pushes_probed_cells_into_the_scan(spark, tmp_path):
    """The frozen probe's corpus restriction must reach the parquet
    reader as a LITERAL IN filter over the probed cells (bounded ≤ nlist
    driver pull) — the join alone cannot prune the scan, and the freeze
    writes `cells` cell-sorted precisely so this filter skips unprobed
    row groups (partition pruning at table-format scale)."""
    import random

    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "art")
    similarity.freeze_ivf_pq(vecs, path, nlist=8, m=4, k_codes=8,
                             src_fingerprint="v1")
    probe = similarity.ivf_pq_topk_frozen(
        vecs.filter(F.col("vec_id") < 2), path, nprobe=2, k=5
    )
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted"
    )
    import re

    for table in ("cells", "codes"):
        scans = [
            blk for blk in plan.split("\n\n")
            if table in blk and "PushedFilters" in blk
        ]
        assert any(
            re.search(r"PushedFilters:.*In\(cell", blk) for blk in scans
        ), f"no pushed In(cell, ...) filter on the {table} scan:\n{plan[:2000]}"
    # and the probe still answers (correctness is pinned elsewhere; this
    # guards the filter not silently emptying the candidate set)
    assert probe.count() > 0


def test_layout_v1_artifact_probes_but_refuses_appends(spark, tmp_path):
    """Back-compat for pre-layout artifacts: a frozen index written
    before codes carried the cell column (meta without gen/layout) must
    still PROBE correctly — the probed-cell filter simply skips the big
    table — while extend/ingest refuse loudly (appending v2 rows onto a
    v1 base would leave mixed codes schemas), and `ivf_pq_fresh` reports
    it stale so freeze-when-stale callers transparently upgrade."""
    import random

    rng = random.Random(29)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "art")
    similarity.freeze_ivf_pq(vecs, path, nlist=8, m=4, k_codes=8,
                             src_fingerprint="v1")
    want = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk_frozen(
            vecs.filter(F.col("vec_id") < 2), path, nprobe=8, k=30
        ).collect()
    )
    # rewrite the artifact into the v1 shape: codes without cell, meta
    # without gen/layout (what round-12 freezes wrote)
    codes_v1 = (
        spark.read.parquet(f"{path}/codes")
        .drop("cell")
        .localCheckpoint()
    )
    codes_v1.write.mode("overwrite").parquet(f"{path}/codes")
    meta = similarity.ivf_pq_meta(spark, path)
    spark.createDataFrame(
        [(meta["nlist"], meta["m"], meta["k_codes"], meta["dim"],
          meta["src"])],
        "nlist int, m int, k_codes int, dim int, src string",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    similarity._QUANTIZER_CACHE.clear()

    got = sorted(
        tuple(r)
        for r in similarity.ivf_pq_topk_frozen(
            vecs.filter(F.col("vec_id") < 2), path, nprobe=8, k=30
        ).collect()
    )
    assert got == want  # probe identical on the v1 layout
    assert not similarity.ivf_pq_fresh(spark, path, "v1", nlist=8, m=4,
                                       k_codes=8)  # reads stale → upgrade
    extra = spark.createDataFrame(
        [(100, rows[0][1])], "vec_id long, embedding array<double>"
    )
    import pytest

    with pytest.raises(ValueError, match="refreeze to upgrade"):
        similarity.extend_ivf_pq(extra, path, src_fingerprint="v1+")
    with pytest.raises(ValueError, match="refreeze to upgrade"):
        similarity.ann_index_ingest_batch(extra, 0, path)


def test_frozen_probe_filtered_search(spark, vectors, tmp_path):
    """Filtered vector search: ivf_pq_topk_frozen(allowed=...) restricts
    the CANDIDATE set before ADC ranking — every neighbor satisfies the
    predicate, k rows still come back where the filtered cells hold
    enough candidates, and the result equals the unfiltered probe with
    disallowed neighbors removed and re-ranked (same ADC distances)."""
    path = str(tmp_path / "art")
    similarity.freeze_ivf_pq(vectors, path, nlist=8, m=4, k_codes=8,
                             src_fingerprint="v1")
    q = vectors.filter(F.col("vec_id") < 3)
    allowed = vectors.filter(F.col("vec_id") % 2 == 0).select("vec_id")
    got = similarity.ivf_pq_topk_frozen(
        q, path, nprobe=8, k=5, allowed=allowed
    ).collect()
    assert got and all(r["neighbor_id"] % 2 == 0 for r in got)
    # reference: unfiltered probe at full depth, filter, re-rank
    full = similarity.ivf_pq_topk_frozen(q, path, nprobe=8, k=10**6)
    want = {}
    for r in sorted(
        (r for r in full.collect() if r["neighbor_id"] % 2 == 0),
        key=lambda r: (r["query_id"], r["dist"], r["neighbor_id"]),
    ):
        want.setdefault(r["query_id"], [])
        if len(want[r["query_id"]]) < 5:
            want[r["query_id"]].append((r["neighbor_id"], r["dist"]))
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["dist"])
        )
    assert got_by_q == want


def test_sq8_topk_recall_vs_bruteforce(spark, vectors):
    """SQ8's 256-bucket reconstruction is fine-grained enough that
    inner-product top-5 over the reconstructed corpus recovers nearly
    all exact top-5 neighbors, and the encode stage assigns every code
    inside [0, 255] with each trained dimension actually spanning its
    buckets."""
    q = vectors.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(q, vectors, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.sq8_topk(q, vectors, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"SQ8 recall {recall} too low"

    los, his = similarity.sq8_bounds(vectors)
    codes = similarity.sq8_encode_long(vectors, los, his).collect()
    vals = [r["code"] for r in codes]
    assert min(vals) == 0 and max(vals) == 255
    assert all(0 <= v <= 255 for v in vals)


def test_sq8_edge_contracts(spark, vectors):
    """The SQ8 range contract holds under caller-supplied bounds: values
    below lo bucket to 0 and above hi to 255 (the FAISS clamp), never
    out of int8 range; an empty training corpus raises a clear error
    instead of an opaque TypeError."""
    import pytest

    # shrink the trained bounds so out-of-range inputs exist on BOTH
    # sides (trained lo/hi are attained by some corpus value)
    los, his = similarity.sq8_bounds(vectors)
    los2 = [lo + 0.25 * (hi - lo) for lo, hi in zip(los, his)]
    his2 = [lo + 0.75 * (hi - lo) for lo, hi in zip(los, his)]
    vals = [
        r["code"]
        for r in similarity.sq8_encode_long(vectors, los2, his2).collect()
    ]
    assert min(vals) == 0 and max(vals) == 255
    assert all(0 <= v <= 255 for v in vals)

    with pytest.raises(ValueError, match="empty"):
        similarity.sq8_bounds(vectors.filter(F.col("vec_id") < 0))


def test_semdedup_gate_matches_numpy_reference(spark, vectors, tmp_path):
    """The O(new) SemDeDup gate agrees with a direct NumPy reference:
    a batch vector is rejected iff a same-cell HISTORY vector sits at
    round-6 cosine >= threshold, or a smaller-id same-cell BATCH mate
    does (min-id-wins, non-recursive)."""
    import numpy as np

    hist = vectors.filter(F.col("vec_id") % 4 != 0)
    batch = vectors.filter(F.col("vec_id") % 4 == 0)
    path = str(tmp_path / "km")
    similarity.freeze_kmeans(hist, path, k=4, n_iter=2)
    got = {
        r["vec_id"]: r["keep"]
        for r in similarity.semdedup_gate(
            batch, hist, path, threshold=0.45
        ).collect()
    }

    cells = {
        r["vec_id"]: r["cluster_id"]
        for r in similarity.kmeans_assign_frozen(
            vectors, path
        ).collect()
    }
    rows = {r["vec_id"]: np.asarray(r["embedding"], float)
            for r in vectors.collect()}

    def cos(a, b):
        return round(
            float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), 6
        )

    hist_ids = [i for i in rows if i % 4 != 0]
    batch_ids = [i for i in rows if i % 4 == 0]
    want = {}
    for b in batch_ids:
        hit = any(
            cells[h] == cells[b] and cos(rows[b], rows[h]) >= 0.45
            for h in hist_ids
        ) or any(
            a < b and cells[a] == cells[b] and cos(rows[a], rows[b]) >= 0.45
            for a in batch_ids
        )
        want[b] = not hit
    assert got == want and got
    assert any(not k for k in got.values()) and any(got.values()), (
        "fixture should exercise both verdicts"
    )

    # the deployment form (stored assignment table) gives the same
    # verdicts as the self-contained recompute
    stored = similarity.kmeans_assign_frozen(hist, path).select(
        "vec_id", "cluster_id"
    )
    got2 = {
        r["vec_id"]: r["keep"]
        for r in similarity.semdedup_gate(
            batch, hist, path, threshold=0.45, history_assigned=stored
        ).collect()
    }
    assert got2 == got


def test_ivf_sq8_recall_and_frozen_bounds(spark, vectors, tmp_path):
    """IVF+SQ8 (IndexIVFScalarQuantizer) recovers most exact top-5
    neighbors at nprobe=half the cells, and passing frozen bounds gives
    the same ranking as per-call training (the bounds are the same
    numbers either way)."""
    q = vectors.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(q, vectors, k=5).collect()
    }
    got = similarity.ivf_sq8_topk(q, vectors, nlist=8, nprobe=4, k=5)
    approx = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF+SQ8 recall {recall} too low"

    src = str(tmp_path / "corpus")
    vectors.write.parquet(src)
    corpus = spark.read.parquet(src)
    path = str(tmp_path / "sq8")
    similarity.freeze_sq8(corpus, path)
    frozen = similarity.ivf_sq8_topk(
        q, vectors, nlist=8, nprobe=4, k=5,
        bounds=similarity.sq8_load_bounds(spark, path),
    )
    assert sorted(map(tuple, frozen.collect())) == sorted(
        map(tuple, got.collect())
    )


def test_freeze_sq8_artifact_lifecycle(spark, vectors, tmp_path):
    """Frozen SQ8 bounds artifact: frozen-path encodes and top-k equal
    the per-call-trained path on the same corpus; a fresh artifact skips
    retraining (bounds file mtimes unchanged); a vec_col change
    refreezes; a torn artifact (missing _src marker) refuses loudly."""
    import os

    import pytest

    src = str(tmp_path / "corpus")
    vectors.write.parquet(src)
    corpus = spark.read.parquet(src)
    path = str(tmp_path / "sq8")
    similarity.freeze_sq8(corpus, path)

    los, his = similarity.sq8_bounds(corpus)
    assert similarity.sq8_load_bounds(spark, path) == (los, his)
    trained = {
        (r["vec_id"], r["i"]): r["code"]
        for r in similarity.sq8_encode_long(corpus, los, his).collect()
    }
    frozen = {
        (r["vec_id"], r["i"]): r["code"]
        for r in similarity.sq8_assign_frozen(corpus, path).collect()
    }
    assert frozen == trained and frozen

    q = corpus.filter(F.col("vec_id") < 3)
    t_topk = sorted(
        map(tuple, similarity.sq8_topk(q, corpus, k=3).collect())
    )
    f_topk = sorted(
        map(tuple, similarity.sq8_topk_frozen(q, corpus, path, k=3).collect())
    )
    assert f_topk == t_topk and f_topk

    def newest_mtime():
        d = f"{path}/bounds"
        return max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))

    m0 = newest_mtime()
    similarity.freeze_sq8(corpus, path)  # fresh -> skip
    assert newest_mtime() == m0
    # vec_col change -> stale -> refreeze (stamp is column-keyed)
    src2 = str(tmp_path / "corpus2")
    vectors.withColumn(
        "emb2", F.transform("embedding", lambda x: x * 2.0)
    ).write.parquet(src2)
    corpus2 = spark.read.parquet(src2)
    similarity.freeze_sq8(corpus2, path)
    m1 = newest_mtime()
    similarity.freeze_sq8(corpus2, path, vec_col="emb2")
    assert newest_mtime() > m1
    # torn artifact: marker gone -> assign refuses
    os.remove(f"{path}/_src")
    with pytest.raises(ValueError, match="no complete SQ8 artifact"):
        similarity.sq8_assign_frozen(corpus, path)


@pytest.mark.parametrize("exact", [False, True])
def test_freeze_kmeans_artifact_lifecycle(
    spark, vectors, tmp_path, km_path, exact
):
    """Frozen clustering artifact: assignments from the written centroids
    equal kmeans_clusters' labels on the same corpus; a fresh artifact
    skips retraining (centroid file mtimes unchanged); a corpus change
    refreezes; a torn artifact (missing _src marker) refuses loudly."""
    import os

    import pytest

    src = str(tmp_path / "corpus")
    vectors.write.parquet(src)
    corpus = spark.read.parquet(src)
    path = str(tmp_path / "km")
    similarity.freeze_kmeans(
        corpus, path, k=4, n_iter=3, exact_replay=exact
    )
    live = {
        r["vec_id"]: (r["cluster_id"], r["sim"])
        for r in similarity.kmeans_clusters(
            corpus, k=4, n_iter=3, exact_replay=exact
        ).collect()
    }
    frozen = {
        r["vec_id"]: (r["cluster_id"], r["sim"])
        for r in similarity.kmeans_assign_frozen(corpus, path).collect()
    }
    assert frozen == live and frozen

    def newest_mtime():
        d = f"{path}/centroids"
        return max(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))

    m0 = newest_mtime()
    similarity.freeze_kmeans(
        corpus, path, k=4, n_iter=3, exact_replay=exact
    )  # fresh -> skip
    assert newest_mtime() == m0
    # param change -> stale -> refreeze
    similarity.freeze_kmeans(corpus, path, k=3, n_iter=3)
    assert spark.read.parquet(f"{path}/centroids").count() == 3
    # column change -> stale -> refreeze (the stamp is keyed on
    # id_col/vec_col too: same corpus, different vector column must NOT
    # read as fresh, or assignment serves wrong-column centroids)
    src2 = str(tmp_path / "corpus2")
    vectors.withColumn(
        "emb2", F.transform("embedding", lambda x: -x)
    ).write.parquet(src2)
    corpus2 = spark.read.parquet(src2)
    similarity.freeze_kmeans(corpus2, path, k=3, n_iter=3)
    m1 = newest_mtime()
    similarity.freeze_kmeans(corpus2, path, k=3, n_iter=3, vec_col="emb2")
    assert newest_mtime() > m1
    # torn artifact: marker gone -> assign refuses
    os.remove(f"{path}/_src")
    with pytest.raises(ValueError, match="no complete k-means artifact"):
        similarity.kmeans_assign_frozen(corpus, path)

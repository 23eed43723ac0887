"""Property-based invariants (hypothesis): round-trip and equivalence laws
that hold for ALL inputs, not just the fixture corpus.

Each property runs a bounded number of examples — Spark jobs are ~100ms
each, so examples are capped and deadlines disabled; the VALUE is the
adversarial input generation (empty strings, ties, single-element groups),
not volume.
"""

from __future__ import annotations

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings

from pyspark.sql import functions as F

from learn_hbase_spark.operators.chunking import chunk_words
from learn_hbase_spark.operators.joins import salted_join
from learn_hbase_spark.operators.window import scd2

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_word = st.text(alphabet="abcd", min_size=1, max_size=3)


@given(
    words=st.lists(_word, min_size=1, max_size=40),
    chunk_size=st.integers(min_value=2, max_value=10),
    overlap=st.integers(min_value=0, max_value=8),
)
@settings(**_SETTINGS)
def test_chunking_covers_every_word_in_order(spark, words, chunk_size, overlap):
    """Concatenating chunks with the overlap removed reproduces the
    document exactly — no word lost, duplicated, or reordered."""
    if overlap >= chunk_size:
        overlap = chunk_size - 1
    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    out = chunk_words(
        df, chunk_size=chunk_size, overlap=overlap
    ).orderBy("chunk_id").collect()
    stride = chunk_size - overlap
    rebuilt: list[str] = []
    for r in out:
        ws = r.chunk_text.split(" ")
        rebuilt.extend(ws if r.chunk_id == 0 else ws[overlap:])
        assert r.n_words <= chunk_size
        assert r.chunk_id * stride == len(rebuilt) - len(ws) or r.chunk_id == 0
    assert rebuilt == words


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["u1", "u2"]),
            st.sampled_from([None, "A", "B"]),
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(**_SETTINGS)
def test_scd2_intervals_reconstruct_state_sequence(spark, rows):
    """Expanding SCD2 intervals back over the original sequence numbers
    reproduces every row's state (null-safe), and intervals per key are
    contiguous: each valid_to equals the next valid_from."""
    data = [(u, i, s) for i, (u, s) in enumerate(rows)]
    df = spark.createDataFrame(data, "user string, seq int, state string")
    out = scd2(df, "user", "seq", "state", tiebreak="seq").collect()
    per_key: dict[str, list] = {}
    for r in sorted(out, key=lambda r: (r.user, r.valid_from)):
        per_key.setdefault(r.user, []).append(r)
    for user, ivs in per_key.items():
        # contiguity + exactly one open interval at the end
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from and not a.is_current
        assert ivs[-1].valid_to is None and ivs[-1].is_current
        # replay: every original row's state matches its covering interval
        for u, seq, state in data:
            if u != user:
                continue
            cover = [
                iv for iv in ivs
                if iv.valid_from <= seq
                and (iv.valid_to is None or seq < iv.valid_to)
            ]
            assert len(cover) == 1 and cover[0].state == state


@given(
    left_keys=st.lists(
        st.integers(min_value=0, max_value=3), min_size=0, max_size=20
    ),
    right_keys=st.lists(
        st.integers(min_value=0, max_value=3),
        min_size=0,
        max_size=6,
        unique=True,
    ),
)
@settings(**_SETTINGS)
def test_salted_join_is_plain_join(spark, left_keys, right_keys):
    """salted_join == plain inner join for arbitrary key multisets
    (including empty sides and keys that match nothing)."""
    left = spark.createDataFrame(
        [(k, i) for i, k in enumerate(left_keys)] or [(None, None)],
        "k int, payload int",
    ).filter(F.col("k").isNotNull())
    right = spark.createDataFrame(
        [(k, f"r{k}") for k in right_keys] or [(None, None)],
        "k int, name string",
    ).filter(F.col("k").isNotNull())
    plain = sorted(
        (r.k, r.payload, r.name)
        for r in left.join(right, on=["k"]).collect()
    )
    salted = sorted(
        (r.k, r.payload, r.name)
        for r in salted_join(left, right, on=["k"], salt_buckets=4).collect()
    )
    assert salted == plain


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=25),
            st.integers(min_value=0, max_value=25),
        ),
        min_size=0,
        max_size=30,
    ),
)
@settings(**_SETTINGS)
def test_connected_components_match_union_find(spark, cc_path, edges):
    """Large-star/small-star result == classic union-find, for arbitrary
    edge multisets (self-loops, duplicates, singletons, disjoint blobs)."""
    from learn_hbase_spark.operators.graph import connected_components

    nodes = list(range(26))
    parent = list(nodes)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in nodes}

    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["cluster_id"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == expect


@given(
    docs=st.lists(
        st.lists(_word, min_size=1, max_size=8), min_size=2, max_size=12
    ),
    max_bucket=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_capped_pairs_law(spark, docs, max_bucket):
    """The hot-bucket cap's defining law, for ALL corpora: capped pairs are
    exactly the uncapped pairs that share at least one bucket of size <=
    max_bucket. Checked via an independent single-node replay of the
    banding (bucket membership from minhash_bands), so the count-first
    join/collect machinery is exercised against first-principles set
    algebra — including all-identical corpora, singleton buckets, and
    caps below every bucket size."""
    from collections import defaultdict

    from learn_hbase_spark.operators.dedup import (
        minhash_bands,
        minhash_bucket_pairs,
    )

    rows = [(i + 1, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    buckets = defaultdict(set)
    for r in minhash_bands(df, "text", "doc_id", 8, 4).collect():
        buckets[r["_bk"]].add(r["_id"])
    expect = {
        (a, b)
        for ids in buckets.values()
        if len(ids) <= max_bucket
        for a in ids
        for b in ids
        if a < b
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_bucket_pairs(
            df, "text", "doc_id", 8, 4, max_bucket=max_bucket
        ).collect()
    }
    assert got == expect


@given(
    docs=st.lists(
        st.lists(_word, min_size=1, max_size=8), min_size=2, max_size=10
    ),
    max_bucket=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_winnow_capped_pairs_law(spark, docs, max_bucket):
    """Cap law for the MOSS matcher: capped match pairs are exactly the
    per-fingerprint-bucket pairs restricted to buckets of size <=
    max_bucket, with shared counts summed over surviving buckets only.
    Bucket membership comes from winnow_fingerprints(rows=True) — the
    selection itself is oracle-verified elsewhere; this pins the
    count-first join/collect machinery against set algebra."""
    from collections import defaultdict

    from learn_hbase_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_match_pairs,
    )

    rows = [(i + 1, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    buckets = defaultdict(set)
    for r in winnow_fingerprints(
        df, "text", "doc_id", k=2, w=2, rows=True
    ).collect():
        buckets[r["fp"]].add(r["doc_id"])
    shared = defaultdict(int)
    for ids in buckets.values():
        if len(ids) > max_bucket:
            continue
        for a in ids:
            for b in ids:
                if a < b:
                    shared[(a, b)] += 1
    expect = {p: c for p, c in shared.items() if c >= 1}
    got = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in winnow_match_pairs(
            df, "text", "doc_id", k=2, w=2, min_shared=1,
            max_bucket=max_bucket,
        ).collect()
    }
    assert got == expect


def _gram_sets(docs: list[list[str]], n: int) -> dict[int, set[str]]:
    """First-principles replay of the per-doc distinct word-n-gram set
    (including the whole-text gram for sub-n docs), mirroring
    _grams_from_words' greatest-clamp semantics."""
    out: dict[int, set[str]] = {}
    for i, ws in enumerate(docs):
        grams = {
            " ".join(ws[j : j + n])
            for j in range(max(len(ws) - n, 0) + 1)
        }
        out[i + 1] = grams
    return out


def _capped_ngram_expect(gram_sets, max_bucket):
    """(pair -> intersection-count over surviving buckets, per-doc sizes):
    the shared algebra behind both n-gram pair scorers. Capped-mode
    intersection counts only grams whose doc set is <= max_bucket; sizes
    stay UNCAPPED (the documented underestimate direction)."""
    from collections import defaultdict

    buckets = defaultdict(set)
    for i, grams in gram_sets.items():
        for g in grams:
            buckets[g].add(i)
    inter = defaultdict(int)
    for ids in buckets.values():
        if max_bucket is not None and len(ids) > max_bucket:
            continue
        for a in ids:
            for b in ids:
                if a < b:
                    inter[(a, b)] += 1
    sizes = {i: len(g) for i, g in gram_sets.items()}
    return inter, sizes


@given(
    docs=st.lists(
        st.lists(_word, min_size=1, max_size=8), min_size=2, max_size=10
    ),
    max_bucket=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_ngram_jaccard_capped_pairs_law(spark, docs, max_bucket):
    """Cap law + capped-score semantics for the Jaccard expander: the
    intersection count drops hot-shingle contributions, the union sizes
    do NOT — so capped jaccard = capped_inter / (|A| + |B| - capped_inter),
    an underestimate of the true score, over exactly the under-cap
    candidate pairs."""
    import pytest

    from learn_hbase_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(i + 1, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    inter, sizes = _capped_ngram_expect(_gram_sets(docs, 2), max_bucket)
    expect = {
        (a, b): c / (sizes[a] + sizes[b] - c)
        for (a, b), c in inter.items()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            df, "text", "doc_id", n=2, threshold=0.0,
            max_bucket=max_bucket,
        ).collect()
    }
    assert set(got) == set(expect)
    for p, v in expect.items():
        assert got[p] == pytest.approx(v)


@given(
    docs=st.lists(
        st.lists(_word, min_size=1, max_size=8), min_size=2, max_size=10
    ),
    max_bucket=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_ngram_containment_capped_pairs_law(spark, docs, max_bucket):
    """Same law for the containment expander: capped containment =
    capped_inter / min(|A|, |B|) with uncapped sizes."""
    import pytest

    from learn_hbase_spark.operators.dedup import ngram_containment_pairs

    rows = [(i + 1, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    inter, sizes = _capped_ngram_expect(_gram_sets(docs, 2), max_bucket)
    expect = {
        (a, b): c / min(sizes[a], sizes[b]) for (a, b), c in inter.items()
    }
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(
            df, "text", "doc_id", n=2, threshold=0.0,
            max_bucket=max_bucket,
        ).collect()
    }
    assert set(got) == set(expect)
    for p, v in expect.items():
        assert got[p] == pytest.approx(v)


@given(
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_bmp_roundtrip_is_identity(h, w, seed):
    """encode_bmp ∘ decode_bmp is the identity for every shape — the
    4-byte row padding (any width), the bottom-up flip, and single-pixel
    edge cases all land exactly; file size matches the header's claim."""
    import numpy as np

    from learn_hbase_spark.operators.multimodal import decode_bmp, encode_bmp

    rng = np.random.RandomState(seed)
    px = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    payload = encode_bmp(px)
    stride = (w * 3 + 3) // 4 * 4
    assert len(payload) == 54 + stride * h
    back = decode_bmp(payload)
    assert back.shape == (h, w, 3) and (back == px).all()


@given(
    n=st.integers(min_value=0, max_value=400),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_wav_roundtrip_is_identity(n, rate, seed):
    """encode_wav_pcm16 ∘ decode_wav_pcm16 is the identity for any
    sample count (odd data-chunk sizes never occur at 16-bit, but the
    chunk walk is exercised at every n incl. 0) and preserves the rate
    and extreme int16 values."""
    import numpy as np

    from learn_hbase_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    rng = np.random.RandomState(seed)
    s = rng.randint(-32768, 32768, size=n).astype(np.int16)
    if n >= 2:  # pin the extremes explicitly
        s[0], s[1] = -32768, 32767
    got_rate, back = decode_wav_pcm16(encode_wav_pcm16(s, rate))
    assert got_rate == rate
    assert back.shape == s.shape and (back == s).all()


@given(
    n=st.integers(min_value=1, max_value=5),
    h=st.integers(min_value=1, max_value=10),
    w=st.integers(min_value=1, max_value=10),
    fps=st.sampled_from([1, 2, 5, 24, 30]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=60, deadline=None)
def test_avi_roundtrip_is_identity(n, h, w, fps, seed):
    """encode_avi ∘ decode_avi_frames is the identity for every frame
    count / geometry / rate — the nested RIFF LIST walk, per-frame DIB
    stride padding (any width), and the bottom-up flip all land exactly,
    and the fps survives the strh rate/scale round trip."""
    import numpy as np

    from learn_hbase_spark.operators.multimodal import (
        decode_avi_frames,
        encode_avi,
    )

    rng = np.random.RandomState(seed)
    fr = rng.randint(0, 256, size=(n, h, w, 3)).astype(np.uint8)
    got_fps, back = decode_avi_frames(encode_avi(fr, fps))
    assert got_fps == fps
    assert back.shape == fr.shape and (back == fr).all()

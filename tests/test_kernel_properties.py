"""Property-based tests (hypothesis) for the pure-python/numpy kernels —
no Spark session needed, so these run fast and explore a wide input space.
"""

import math

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from bfokg.functions.encoders import HashingEncoder, VocabTfidfEncoder
from bfokg.functions.text import natural_label

texts = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd", "Zs"),
                           whitelist_characters="-_'.,!?"),
    min_size=0, max_size=200,
)


@settings(max_examples=50, deadline=None)
@given(texts)
def test_hashing_encoder_deterministic_and_normalized(t):
    enc = HashingEncoder(dim=64)
    a = enc.encode([t])
    b = enc.encode([t])
    assert np.array_equal(a, b)  # crc32-based: no PYTHONHASHSEED dependence
    norm = np.linalg.norm(a[0])
    assert norm == 0.0 or abs(norm - 1.0) < 1e-5


@settings(max_examples=50, deadline=None)
@given(st.lists(texts, min_size=1, max_size=5))
def test_vocab_encoder_projects_onto_corpus(corpus):
    enc = VocabTfidfEncoder(corpus)
    out = enc.encode(["completely-unrelated zz@@qq 12345 xyzzy"])
    # out-of-vocab text maps to (near-)zero or normalized vector, never NaN
    assert not np.isnan(out).any()
    v = enc.encode(corpus)
    norms = np.linalg.norm(v, axis=1)
    assert all(n == 0.0 or abs(n - 1.0) < 1e-5 for n in norms)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="abcdefgABCDEFG", min_size=1, max_size=20),
       st.one_of(st.none(), st.text(max_size=80)))
def test_natural_label_total(label, definition):
    out = natural_label(label, definition)
    assert isinstance(out, str) and len(out) > 0


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 1.0


@settings(max_examples=25, deadline=None)
@given(st.lists(st.sampled_from("abcdefghij"), min_size=5, max_size=60),
       st.lists(st.sampled_from("abcdefghij"), min_size=5, max_size=60))
def test_minhash_estimates_jaccard(xs, ys):
    """The MinHash signature's matching fraction approximates true Jaccard
    of the shingle sets within the expected binomial error."""
    from zlib import crc32

    from bfokg.operators.dedup import _MERSENNE, _perm_params

    k = 128
    a, b = _perm_params(k)

    def sig(tokens):
        sh = {" ".join(tokens[i : i + 3]) for i in range(max(len(tokens) - 2, 1))}
        hv = np.array([crc32(s.encode()) % _MERSENNE for s in sh], dtype=np.int64)
        return ((np.outer(a, hv) + b[:, None]) % _MERSENNE).min(axis=1), sh

    sa, sha = sig(xs)
    sb, shb = sig(ys)
    est = float((sa == sb).mean())
    true = _jaccard(sha, shb)
    # 128 hashes → σ = sqrt(j(1-j)/128) ≤ 0.045; allow 5σ
    assert abs(est - true) <= 5 * math.sqrt(0.25 / 128) + 1e-9


@settings(max_examples=60, deadline=None)
@given(
    st.sampled_from(["444", "422", "420", "mono"]),
    st.integers(min_value=1, max_value=4),
    st.integers(min_value=1, max_value=4),
    st.lists(st.lists(st.integers(min_value=0, max_value=255),
                      min_size=1, max_size=1).map(lambda v: v[0]),
             min_size=0, max_size=6),
    st.integers(min_value=1, max_value=3),
)
def test_y4m_decode_roundtrip_property(cs, w2, h2, frame_lumas, step):
    """Build a Y4M payload from known per-frame constant lumas, decode it
    with the numpy parser, and check every reported field including the
    sampled-frame mean — over all four colourspaces, sizes, frame counts
    (incl. zero frames) and sampling steps."""
    from bfokg.operators.multimodal import _decode_y4m

    w, h = 2 * w2, 2 * h2  # even dims keep 420/422 plane sizes exact
    ysize = w * h
    fsize = {"444": 3 * ysize, "422": 2 * ysize,
             "420": ysize + ysize // 2, "mono": ysize}[cs]
    head = f"YUV4MPEG2 W{w} H{h} F24:1 Ip A1:1 C{cs}\n".encode()
    payload = head + b"".join(
        b"FRAME\n" + bytes([y] * ysize) + bytes([128] * (fsize - ysize))
        for y in frame_lumas
    )
    d = _decode_y4m(payload, frame_step=step)
    assert (d["width"], d["height"]) == (w, h)
    assert d["fps"] == 24.0 and d["n_frames"] == len(frame_lumas)
    assert abs(d["duration_sec"] - len(frame_lumas) / 24.0) < 1e-12
    sampled = frame_lumas[::step]
    assert d["n_sampled"] == len(sampled)
    want = (sum(sampled) / len(sampled) / 255.0) if sampled else 0.0
    assert abs(d["mean_luma"] - want) < 1e-9
    assert d["decode_ok"]


def _uf_components(edges):
    """Reference union-find (pure python) for the property test."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}

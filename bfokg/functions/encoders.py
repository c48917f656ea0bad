"""Pluggable text encoders for the semantic scoring kernel.

The reference encodes texts with SentenceTransformers (semantic.py:99-110).
Model downloads are unavailable in this sandbox (SURVEY.md §7.0), so the
kernel contract — encode → cosine → (sim+1)/2 → top-k — is kept identical
while the encoder itself is pluggable:

- ``HashingEncoder`` (default): deterministic numpy feature hashing over
  word unigrams/bigrams and char trigrams, crc32-indexed, TF-weighted,
  L2-normalized. Fully deterministic across processes/executors (no
  PYTHONHASHSEED dependence), zero model state, vectorizable per Arrow
  batch. This is what tests and benches run.
- ``SentenceTransformerEncoder``: the production adapter, loaded lazily
  once per executor (the reference's model-registry cache,
  model_registry.py:45-69, becomes an executor-local singleton). Gated
  behind an import-try.

Encoders are constructed on the driver and captured (they're tiny) into
``mapInPandas`` closures; heavy model state is created lazily inside the
executor process.
"""

from __future__ import annotations

from zlib import crc32

import numpy as np

_WORD_RE = None  # lazy-compiled


def _word_tokens(text: str) -> list[str]:
    global _WORD_RE
    if _WORD_RE is None:
        import re

        _WORD_RE = re.compile(r"[a-z0-9_\-]+")
    return _WORD_RE.findall(text.lower())


class HashingEncoder:
    """Deterministic bag-of-features hashing encoder (numpy only).

    Features: word unigrams, word bigrams, char trigrams (of the joined
    token stream). Each feature f maps to index crc32(f) % dim with sign
    (-1)^bit — the standard signed feature-hashing trick, which makes
    E[<x,y>] proportional to true feature overlap.
    """

    name = "hashing"

    def __init__(self, dim: int = 384):
        self.dim = dim

    def encode(self, texts) -> np.ndarray:
        dim = self.dim
        out = np.zeros((len(texts), dim), dtype=np.float32)
        for i, text in enumerate(texts):
            toks = _word_tokens(text or "")
            if not toks:
                continue
            feats = list(toks)
            feats.extend(f"{a}_{b}" for a, b in zip(toks, toks[1:]))
            joined = " ".join(toks)
            feats.extend(joined[j : j + 3] for j in range(len(joined) - 2))
            row = out[i]
            for f in feats:
                h = crc32(f.encode("utf-8"))
                idx = h % dim
                row[idx] += 1.0 if (h >> 31) & 1 == 0 else -1.0
            norm = np.linalg.norm(row)
            if norm > 0:
                row /= norm
        return out


class VocabTfidfEncoder:
    """Exact (collision-free) TF-IDF projection onto a reference corpus's
    vocabulary — the default kernel for BFO-class scoring.

    Built from the 35 class documents: vocab = sorted distinct word tokens,
    idf = ln((N+1)/(df+1)) + 1. Query texts project onto that vocab
    (out-of-vocab words can never contribute to a class match, so dropping
    them loses nothing) and are L2-normalized; cosine against the class
    matrix is then a pure IDF-weighted lexical-overlap signal with zero
    hashing noise. Deterministic everywhere; the whole encoder state is a
    few KB, safely captured into UDF closures.

    This mirrors the reference's kernel CONTRACT (encode → cosine →
    (sim+1)/2 → top-k, semantic.py:99-110) with a corpus-grounded encoder
    instead of downloaded SBERT weights (SURVEY.md §7.0).
    """

    name = "vocab_tfidf"

    def __init__(self, corpus_texts, dtype=np.float32):
        """``dtype=np.float64`` exists for oracle queries that replay the
        same math in SQL (double arithmetic on both sides makes rounded
        confidences bit-comparable); the production default stays
        float32."""
        import math

        docs = [_word_tokens(t or "") for t in corpus_texts]
        n_docs = len(docs)
        df: dict[str, int] = {}
        for d in docs:
            for w in set(d):
                df[w] = df.get(w, 0) + 1
        self.dtype = dtype
        self.vocab = sorted(df)
        self.index = {w: i for i, w in enumerate(self.vocab)}
        self.idf = np.array(
            [math.log((n_docs + 1) / (df[w] + 1)) + 1.0 for w in self.vocab],
            dtype=dtype,
        )
        self.dim = len(self.vocab)

    def encode(self, texts) -> np.ndarray:
        out = np.zeros((len(texts), self.dim), dtype=self.dtype)
        index, idf = self.index, self.idf
        for i, text in enumerate(texts):
            row = out[i]
            for w in _word_tokens(text or ""):
                j = index.get(w)
                if j is not None:
                    row[j] += idf[j]
            norm = np.linalg.norm(row)
            if norm > 0:
                row /= norm
        return out


class SentenceTransformerEncoder:
    """Production adapter — requires sentence-transformers at runtime.

    Mirrors the reference's default model choice (all-MiniLM-L6-v2, 384d,
    configs/models.yaml:4-14). The model is loaded once per process on
    first ``encode`` call (executor-local singleton)."""

    name = "sbert"

    def __init__(self, model_name: str = "all-MiniLM-L6-v2", dim: int = 384):
        self.model_name = model_name
        self.dim = dim
        self._model = None

    def __getstate__(self):
        # NEVER ship loaded weights inside a UDF closure: the driver may
        # have lazily initialized (class_index encodes the 35 class texts
        # driver-side), but each executor process re-initializes its own
        # singleton on first encode — the reference's model-registry cache
        # semantics (model_registry.py:45-69) at executor scope.
        state = self.__dict__.copy()
        state["_model"] = None
        return state

    def encode(self, texts) -> np.ndarray:
        if self._model is None:
            from sentence_transformers import SentenceTransformer  # import-gated

            self._model = SentenceTransformer(self.model_name)
        vecs = self._model.encode(list(texts), convert_to_numpy=True)
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return (vecs / norms).astype(np.float32)


def encoder_for_model(name: str, dim: int = 384):
    """Resolve a catalog model name (config.MODEL_CATALOG) to an encoder:
    the SentenceTransformer adapter when the library is importable, else
    the deterministic hashing fallback at the model's embedding dim (so a
    bake-off still exercises distinct encoder geometries offline). The
    returned encoder carries ``resolved_from`` for display."""
    try:
        import sentence_transformers  # noqa: F401

        enc = SentenceTransformerEncoder(name, dim=dim)
        enc.resolved_from = "sentence-transformers"
    except ImportError:
        enc = HashingEncoder(dim=dim)
        enc.resolved_from = f"hashing fallback for {name}"
    return enc

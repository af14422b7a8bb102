"""Deterministic hash-projection embedder.

Stands in for the reference's OpenAI-compatible embedding calls
(reference graph/indexing/entity_indexer.py:53-298). The production slot
is any text→vector callable; this default is a feature-hashing projection
(signed token counts into ``dim`` buckets, L2-normalized) — deterministic,
dependency-free, and similar strings map to similar vectors, which is what
the canonicalization similarity join needs.
"""

from __future__ import annotations

import functools
import hashlib
import re
from typing import List, Tuple

import numpy as np

from graph_rag_agent_spark.config import EMBEDDING_DIM

# same normalization as functions/blocking.normalize_name — punctuation
# variants (Data_Loader vs DataLoader) collapse to identical feature sets
_NORM_RE = re.compile(r"[^0-9a-z一-鿿]+")


def _token_features(text: str) -> List[str]:
    """Character trigrams of the normalized text. Pure trigrams (no word
    features) so near-duplicate names land at cosine ≥ 0.9 (the reference's
    KNN cutoff) while unrelated names stay well below it."""
    joined = _NORM_RE.sub("", (text or "").lower())
    if len(joined) <= 3:
        return [joined] if joined else []
    return [joined[i : i + 3] for i in range(len(joined) - 2)]


@functools.lru_cache(maxsize=1 << 16)
def _bucket(feat: str, dim: int) -> Tuple[int, float]:
    """(bucket, sign) of one feature. Memoized: a corpus repeats a few
    thousand distinct trigrams millions of times."""
    h = int.from_bytes(hashlib.sha256(feat.encode("utf-8")).digest()[:8], "big")
    return h % dim, 1.0 if (h >> 63) & 1 else -1.0


def embed_text(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """sha256 (not sha1) so the projection is reproducible in ANSI SQL —
    DuckDB: idx = ('0x' || substr(sha256(t), 1, 16))::UBIGINT % dim — which
    lets the driver's oracle check the full canonicalization pipeline."""
    buckets = [_bucket(feat, dim) for feat in _token_features(text)]
    if buckets:
        idx, signs = zip(*buckets)
        vec = np.bincount(idx, weights=signs, minlength=dim)
    else:
        vec = np.zeros(dim, dtype=np.float64)
    norm = float(np.linalg.norm(vec))
    if norm > 0:
        vec /= norm
    return vec


def embed_texts(texts: List[str], dim: int = EMBEDDING_DIM) -> np.ndarray:
    return np.stack([embed_text(t, dim) for t in texts]) if texts else np.zeros((0, dim), np.float64)


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    na, nb = float(np.linalg.norm(a)), float(np.linalg.norm(b))
    if na == 0 or nb == 0:
        return 0.0
    return float(np.dot(a, b) / (na * nb))

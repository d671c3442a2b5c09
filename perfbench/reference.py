"""Exact top-k reference for the search workload, in numpy.

Independent of the engine: the query embedder is re-derived here from
its contract (token → sha256-seeded Gaussian, summed, L2-normalized,
float32), and scoring is the cosine distance ``1 - q·v / (|q| |v|)`` in
float64, rounded to 6 decimals the way Spark's ``round`` does (HALF_UP
on the double's decimal string), ordered by (score, id) with the id
compared as a string.
"""

from __future__ import annotations

import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa

SCORE_QUANTUM = Decimal("0.000001")
MAX_TOKENS = 8191


def embed_query(text: str, dim: int, cache: dict | None = None) -> np.ndarray:
    cache = {} if cache is None else cache
    tokens = text.lower().split()[:MAX_TOKENS]
    acc = np.zeros(dim)
    for tok in tokens:
        v = cache.get(tok)
        if v is None:
            seed = int.from_bytes(hashlib.sha256(tok.encode("utf-8")).digest()[:4], "big")
            v = cache[tok] = np.random.RandomState(seed).standard_normal(dim)
        acc += v
    norm = float(np.linalg.norm(acc))
    if norm > 0:
        acc = acc / norm
    return acc.astype(np.float32)


def round6(x: float) -> float:
    return float(Decimal(repr(x)).quantize(SCORE_QUANTUM, rounding=ROUND_HALF_UP))


class ExactIndex:
    """All vectors of one corpus with the metadata the filters read."""

    def __init__(self, documents: pa.Table, embeddings: pa.Table):
        docs = documents.to_pydict()
        meta = {
            d: {"text": t, "source_type": s, "lang": lang}
            for d, t, s, lang in zip(docs["doc_id"], docs["text"], docs["source"], docs["lang"])
        }
        emb = embeddings.column("embedding").combine_chunks()
        self.dim = len(emb[0])
        self.vectors = (
            emb.values.to_numpy(zero_copy_only=False).reshape(len(emb), self.dim).astype(np.float64)
        )
        self.norms = np.sqrt((self.vectors * self.vectors).sum(axis=1))
        self.ids = [str(v) for v in embeddings.column("vec_id").to_pylist()]
        self.meta = {str(i): meta[i] for i in embeddings.column("vec_id").to_pylist()}
        self._source = np.array([self.meta[i]["source_type"] for i in self.ids])
        self._lang = np.array([self.meta[i]["lang"] for i in self.ids])
        self._tokens: dict = {}

    def topk(self, body: dict) -> list[tuple[str, float]]:
        """The (id, score) rows ``POST /search`` must return for ``body``."""
        q = embed_query(body["q"], self.dim, self._tokens).astype(np.float64)
        qn = 0.0
        for x in q:  # sequential fold, as the engine folds the query norm
            qn += float(x) * float(x)
        qn = math.sqrt(qn)
        k = max(1, min(100, int(body.get("k", 20))))
        mask = np.ones(len(self.ids), dtype=bool)
        if body.get("source_type") is not None:
            mask &= self._source == body["source_type"]
        if body.get("lang") is not None:
            mask &= self._lang == body["lang"]
        idx = np.flatnonzero(mask)
        if qn == 0.0 or len(idx) == 0:
            return []
        raw = 1.0 - (self.vectors[idx] @ q) / (self.norms[idx] * qn)
        if len(idx) > k:
            kth = np.partition(raw, k - 1)[k - 1]
            keep = raw <= kth + 2e-6  # rounding can only reorder within 1e-6
            idx, raw = idx[keep], raw[keep]
        rows = sorted((round6(float(s)), self.ids[i]) for i, s in zip(idx, raw))
        return [(i, s) for s, i in rows[:k]]

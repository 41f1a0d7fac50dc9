"""Python twins of the product's deterministic arithmetic, used by the
output checks: the 1200/200 chunker, the token-hash embedder and the
exact search ranking.  They mirror the Spark expressions in
``functions/chunking.py``, ``plans/rag.py`` and ``functions/portable.py``
(the poly-hash twin of ``driver_queries_similarity._rag_query_vec``):
left folds in array order, so results agree bit for bit.
"""

from __future__ import annotations

import math
import re

import numpy as np

P = 1_000_000_007  # portable.P
POLY_INIT, POLY_MULT = 7, 31
WS = re.compile(r"[ \t\n\x0b\f\r]+")  # portable.PY_WS
DIM = 64  # HashEmbedder default
CHUNK_SIZE, CHUNK_OVERLAP, SNIPPET_CHARS = 1200, 200, 280


def poly_hash(token: str) -> int:
    acc = POLY_INIT
    for c in token:
        acc = (acc * POLY_MULT + ord(c)) % P
    return acc


class Embedder:
    """Twin of ``HashEmbedder(dim=64)``: lowercased whitespace tokens ->
    poly hash -> per-slot counts -> divide by the fold-left L2 norm."""

    def __init__(self, dim: int = DIM):
        self.dim = dim
        self._slot: dict[str, int] = {}

    def slot(self, token: str) -> int:
        s = self._slot.get(token)
        if s is None:
            s = self._slot[token] = poly_hash(token) % self.dim
        return s

    def embed(self, text: str) -> list[float]:
        v = [0.0] * self.dim
        for t in WS.split(text.lower()):
            if t:
                v[self.slot(t)] += 1.0
        ss = 0.0
        for x in v:
            ss = ss + x * x
        if ss <= 0.0:
            return [0.0] * self.dim
        n = math.sqrt(ss)
        return [x / n for x in v]


def chunks(text: str | None, size: int = CHUNK_SIZE, overlap: int = CHUNK_OVERLAP) -> list[str]:
    """Twin of ``chunk_text``: windows at multiples of the stride, the
    window reaching the end is the last, each stripped of spaces (Spark
    ``trim``), empty chunks skipped, ids renumbered after skipping."""
    if not text:
        return []
    stride = size - overlap
    n_raw = 1 + max(0, math.ceil((len(text) - size) / stride))
    out = [text[i * stride : i * stride + size].strip(" ") for i in range(n_raw)]
    return [c for c in out if c]


def stored_chunks(text: str | None) -> list[str]:
    """Rows backfill stores for one case: its chunks, or the (0, '')
    sentinel when it has none."""
    return chunks(text) or [""]


def fold_dot(matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise dot product folded left over the dimensions in order,
    the same double arithmetic as ``portable.dot_double``."""
    s = np.zeros(matrix.shape[0], dtype=np.float64)
    for d in range(matrix.shape[1]):
        s = s + matrix[:, d] * q[d]
    return s


class Index:
    """Exact search over one snapshot of the stored chunk embeddings."""

    def __init__(self, case_numbers: list[str], chunk_ids: list[int], texts: list[str], matrix: np.ndarray):
        self.case_numbers = case_numbers
        self.chunk_ids = chunk_ids
        self.texts = texts
        self.matrix = matrix

    def search(self, qvec: list[float], k: int) -> tuple[list[tuple[str, int, float]], dict[str, float]]:
        """Returns (what ``search_dockets`` must answer, each case's best
        similarity over all its chunks).

        The first list replays the product's ranking: a pool of the
        max(10k, 50) best chunks by (similarity desc, case_number,
        chunk_id), the best chunk per case in the pool, then the top k
        cases by (similarity desc, case_number)."""
        sims = fold_dot(self.matrix, np.asarray(qvec, dtype=np.float64))
        order = sorted(range(len(sims)), key=lambda i: (-sims[i], self.case_numbers[i], self.chunk_ids[i]))
        best: dict[str, int] = {}
        for i in order[: max(k * 10, 50)]:
            best.setdefault(self.case_numbers[i], i)
        ranked = sorted(best.items(), key=lambda kv: (-sims[kv[1]], kv[0]))[:k]
        served = [(cn, self.chunk_ids[i], float(sims[i])) for cn, i in ranked]
        case_best: dict[str, float] = {}
        for i in order:
            case_best.setdefault(self.case_numbers[i], float(sims[i]))
        return served, case_best


def recall_at_k(returned: list[str], case_best: dict[str, float], k: int) -> float:
    """Share of the exact top-k cases (by best chunk over all chunks)
    that the answer holds; a returned case whose best similarity ties
    the k-th exact score counts as a hit, so ties are tolerated."""
    exact = sorted(case_best.values(), reverse=True)[:k]
    if not exact:
        return 1.0
    hits = sum(1 for cn in set(returned) if case_best.get(cn, -math.inf) >= exact[-1])
    return min(hits, len(exact)) / len(exact)


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty
    sample, the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)

"""Seeded LLM-corpus documents with their planted duplicate pairs.

The texts come from ``tools/gen_scaling_data.gen_documents``: the
31-word vocabulary of the repository's test corpus, 10-100 words per
document, and planted copies at constant rates (1 % exact, 2 % light
near-dups with Jaccard about 0.9, 2 % medium ones about 0.5-0.6). That generator does
not return which document copies which, so ``planted`` replays its
random draws to recover the pairs; the self-test checks that the replay
reproduces the generator's texts exactly.
"""

from __future__ import annotations

import numpy as np

from tools.gen_scaling_data import (
    EXACT_DUP_RATE,
    NEAR_DUP_LIGHT_RATE,
    NEAR_DUP_MED_RATE,
    gen_documents,
)

#: the vocabulary of the test corpus (documents.parquet at every scale)
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window",
]
SHINGLE = 3


def documents(n: int, seed: int):
    """The ``documents`` table (pyarrow) for ``n`` documents."""
    return gen_documents(n, seed, VOCAB)


def planted(n: int, seed: int) -> tuple[list[str], list[tuple[int, int, str]]]:
    """``(texts, pairs)``: the texts ``gen_documents(n, seed)`` writes
    and every planted ``(source, copy, kind)`` pair, kind being
    ``exact``, ``light`` or ``medium``."""
    rng = np.random.default_rng(seed)
    V = len(VOCAB)
    words: list[np.ndarray] = []
    pairs: list[tuple[int, int, str]] = []
    for i in range(n):
        r = rng.random()
        kind = None
        if i > 10 and r < EXACT_DUP_RATE:
            src = int(rng.integers(0, i))
            w = words[src].copy()
            kind = "exact"
        elif i > 10 and r < EXACT_DUP_RATE + NEAR_DUP_LIGHT_RATE:
            src = int(rng.integers(0, i))
            w = words[src].copy()
            k = max(1, len(w) // 50)
            pos = rng.integers(0, len(w), size=k)
            w[pos] = rng.integers(0, V, size=k)
            kind = "light"
        elif i > 10 and r < EXACT_DUP_RATE + NEAR_DUP_LIGHT_RATE + NEAR_DUP_MED_RATE:
            src = int(rng.integers(0, i))
            w = words[src].copy()
            k = max(2, len(w) // 10)
            pos = rng.integers(0, len(w), size=k)
            w[pos] = rng.integers(0, V, size=k)
            kind = "medium"
        else:
            w = rng.integers(0, V, size=int(rng.integers(10, 101)))
        words.append(w)
        if kind:
            pairs.append((src, i, kind))
    return [" ".join(VOCAB[j] for j in w) for w in words], pairs


def shingles(text: str, n: int = SHINGLE) -> frozenset:
    """The word ``n``-gram set the dedup operators compare."""
    toks = text.split()
    return frozenset(tuple(toks[k:k + n]) for k in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    return len(a & b) / len(a | b)

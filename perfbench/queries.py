"""Seeded query streams over the synthetic vocabulary (w0000..w0999, w0000
most frequent)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from bitcoin_ledger_2es_spark.sources.synth import VOCAB_SIZE, _zipf_probs, vocab

# The request mix, cycled in this order so that every run of any length
# sends nearly the same mix: (mode, terms, k, carries a never-seen token).
# Two in ten requests carry such a token, so the term cache misses on it.
MIX = [
    ("or", 2, 10, False), ("or", 1, 100, False), ("and", 2, 10, False),
    ("or", 4, 10, True), ("or", 3, 1, False), ("and", 3, 100, False),
    ("or", 5, 10, False), ("or", 2, 100, True), ("and", 2, 1, False),
    ("or", 3, 10, False),
]


def gen_queries(seed: int, n: int, skew: float = 0.6) -> pd.DataFrame:
    """``n`` distinct requests (query_id, query_text, k, mode) following
    ``MIX``. OR terms are drawn Zipf(``skew``) over the vocabulary; AND
    terms come from the 60 most frequent so that matches exist."""
    rng = np.random.default_rng(seed)
    words = vocab()
    p = _zipf_probs(VOCAB_SIZE, skew)
    rows, seen = [], set()
    while len(rows) < n:
        mode, n_terms, k, oov = MIX[len(rows) % len(MIX)]
        if mode == "and":
            terms = list(words[rng.choice(60, size=n_terms, replace=False)])
        else:
            terms = list(words[rng.choice(VOCAB_SIZE, size=n_terms, replace=False, p=p)])
        if oov:
            terms[int(rng.integers(n_terms))] = f"oov{abs(seed)}x{len(rows)}"
        key = (" ".join(terms), mode, k)
        if key in seen:
            continue
        seen.add(key)
        rows.append(key)
    return pd.DataFrame({
        "query_id": np.arange(n, dtype=np.int64),
        "query_text": [r[0] for r in rows],
        "k": np.array([r[2] for r in rows], dtype=np.int32),
        "mode": [r[1] for r in rows],
    })

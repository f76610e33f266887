"""Corpus bigram language model, derived from the POSITIONAL index.

Feeds the ES-style *phrase suggester* ("did you mean"): candidate phrase
corrections are ranked by a Laplace-smoothed word-bigram model (the ES
phrase suggester's default ``laplace`` smoothing, ``gram_size=2``) — see
``BM25Searcher.phrase_suggest`` (plans/query.py).

The model is computed from the index itself, not from raw sources (the
same independence compaction has: a deployment may have dropped the raw
transcripts). One kernel pass decodes every posting's positions back into
per-document token streams — per shard: one int64 sort key per occurrence
(``local_doc * 2^21 + pos``, the phrase kernel's packing), one argsort,
one vectorized adjacency compare — and emits partial (t1, t2, count)
rows plus per-term collection frequencies (t2 = -1 sentinel rows). A
single (t1, t2)-keyed groupBy folds the partials globally.

Scale shape: the build pass reads the full postings once (same cost class
as compaction's posting-level merge) and shuffles only the *distinct*
bigram partial counts (bounded by distinct adjacent-term pairs per shard,
not by token count). Query-time consumers probe the persisted frames with
a broadcast candidate set — no further scans.

Determinism: pure integer counting — order-free, parallelism-free.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.shard_scan import aligned_layout_ok, map_shards
from .wand import _decode_term_blocks

_POS_BITS = 21  # matches operators/phrase.py packing budget


def _shard_bigram_kernel(dps: int):
    """Per-shard kernel: pdf holds ALL terms' posting blocks of one shard;
    emits partial bigram counts (t1, t2, c) and unigram collection
    frequencies as (tid, -1, cf)."""

    def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
        base = shard_id * dps
        key_parts: list[np.ndarray] = []
        tid_parts: list[np.ndarray] = []
        uni_tids: list[int] = []
        uni_cfs: list[int] = []
        for tid, g in pdf.groupby("term_id"):
            local, tfs, _dls, pos = _decode_term_blocks(
                g.sort_values("block_id"), base, positions=True
            )
            if pos.size and int(pos.max()) + 1 >= (1 << _POS_BITS):
                # same guard as the phrase kernel: a doc ending at the
                # last representable position would make its final
                # token's key+1 collide with the next doc's position 0
                raise ValueError(
                    f"token position {int(pos.max())} exceeds the "
                    f"bigram-key budget (2^{_POS_BITS} - 1 per doc)"
                )
            keys = (np.repeat(local, tfs) << np.int64(_POS_BITS)) + pos
            key_parts.append(keys)
            tid_parts.append(np.full(keys.size, int(tid), dtype=np.int64))
            uni_tids.append(int(tid))
            uni_cfs.append(int(tfs.sum()))
        keys = np.concatenate(key_parts)
        tids = np.concatenate(tid_parts)
        order = np.argsort(keys, kind="stable")
        keys, tids = keys[order], tids[order]
        # stable argsort leaves equal keys (impossible: one token per
        # position) untouched; adjacency = next packed key is +1 (same
        # doc, next position — the doc boundary jumps by >= 2^21)
        adj = keys[1:] == keys[:-1] + 1
        out_t1 = tids[:-1][adj]
        out_t2 = tids[1:][adj]
        if out_t1.size:
            packed = (out_t1 << np.int64(32)) | out_t2
            uniq, counts = np.unique(packed, return_counts=True)
            t1 = (uniq >> np.int64(32)).astype(np.int64)
            t2 = (uniq & np.int64((1 << 32) - 1)).astype(np.int64)
        else:
            t1 = np.array([], dtype=np.int64)
            t2 = np.array([], dtype=np.int64)
            counts = np.array([], dtype=np.int64)
        return pd.DataFrame(
            {
                "t1": np.concatenate([t1, np.asarray(uni_tids, dtype=np.int64)]),
                "t2": np.concatenate(
                    [t2, np.full(len(uni_tids), -1, dtype=np.int64)]
                ),
                "c": np.concatenate(
                    [counts.astype(np.int64), np.asarray(uni_cfs, dtype=np.int64)]
                ),
            }
        )

    return kernel


class BigramModel:
    """Persisted bigram + unigram count frames with corpus totals.

    * ``bigrams``: (t1 long, t2 long, c long) — adjacency counts.
    * ``unigrams``: (tid long, cf long) — collection frequencies.
    * ``n_tokens`` — total corpus token count; ``vocab`` — |V|.
    """

    def __init__(self, bigrams: DataFrame, unigrams: DataFrame,
                 n_tokens: int, vocab: int):
        self.bigrams = bigrams
        self.unigrams = unigrams
        self.n_tokens = n_tokens
        self.vocab = vocab

    def release(self) -> None:
        for df in (self.bigrams, self.unigrams):
            try:
                df.unpersist()
            except Exception:
                pass


def bigram_model(ix) -> BigramModel:
    """Build the corpus bigram LM from a positional index (one postings
    pass + one (t1, t2)-keyed aggregation; frames persisted — call
    ``release()`` when done with repeated suggest sessions)."""
    if not ix.cfg.store_positions:
        raise ValueError(
            "bigram_model needs a positional index: build with "
            "EngineConfig(store_positions=True)"
        )
    partial = map_shards(
        ix.postings, _shard_bigram_kernel(ix.cfg.docs_per_shard),
        "t1 long, t2 long, c long", aligned_layout_ok(ix),
    )
    agg = partial.groupBy("t1", "t2").agg(F.sum("c").alias("c"))
    bigrams = agg.filter(F.col("t2") >= 0).persist()
    unigrams = (
        agg.filter(F.col("t2") == -1)
        .select(F.col("t1").alias("tid"), F.col("c").alias("cf"))
        .persist()
    )
    totals = unigrams.agg(
        F.sum("cf").alias("n"), F.count("*").alias("v")
    ).collect()[0]
    return BigramModel(
        bigrams, unigrams, int(totals["n"] or 0), int(totals["v"] or 0)
    )

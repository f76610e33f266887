"""match_phrase (B5): positional phrase matching + BM25 phrase scoring.

Semantics follow Lucene/ES ``match_phrase`` with slop=0 (exact adjacency):

  * the analyzed query terms must occur at consecutive token positions;
  * tf for scoring is the PHRASE frequency (number of phrase starts in the
    doc), not per-term tf — Lucene's ``PhraseScorer`` feeds phrase freq
    into the same Similarity;
  * idf is the sum of the per-term idfs in query order, duplicates counted
    (Lucene ``PhraseWeight`` sums ``idfExplain`` over the terms array);
  * score = sum_idf * pf*(k1+1) / (pf + k1*(1-b+b*dl/avgdl)); f64
    accumulate, f32 emit, ties (score_f32 desc, doc_id asc) — the engine's
    standard determinism contract (functions/bm25.py, oracle.py).

The per-shard kernel is fully vectorized: each phrase slot's postings are
decoded once (docs + positions), every occurrence becomes one int64 key
``doc_local * 2^B + (position - slot + len)``, and consecutive-position
matches are the running ``np.intersect1d`` of the slot key sets — no
Python loop over documents or positions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .wand import _decode_term_blocks

_POS_BITS = 21  # max token position per doc < 2^21 - phrase_len (asserted)


def _slot_keys(blocks: pd.DataFrame, slot: int, n_slots: int, base: int):
    """Decode one phrase slot's postings within a shard.

    Returns (keys, docs, dls): ``keys`` has one entry per occurrence,
    ``doc_local * 2^B + pos - slot + n_slots`` (the +n_slots offset keeps
    adjusted positions non-negative for every slot); ``docs``/``dls`` are
    posting-level (for dl lookup after the intersection).
    """
    local, tfs, dls, pos = _decode_term_blocks(
        blocks.sort_values("block_id"), base, positions=True
    )
    if pos.size and int(pos.max()) + n_slots >= (1 << _POS_BITS):
        # a real error, not an assert: under python -O an assert is
        # stripped and overflow would silently corrupt the packed keys
        raise ValueError(
            f"token position {int(pos.max())} + phrase len {n_slots} exceeds "
            f"the phrase-key budget (2^{_POS_BITS} per doc); "
            "build-time validation should have rejected this corpus"
        )
    keys = (np.repeat(local, tfs) << np.int64(_POS_BITS)) + (pos - slot + n_slots)
    if keys.size > 1 and not np.all(keys[:-1] <= keys[1:]):
        # multi-term UNION slot (match_phrase_prefix: the last slot is the
        # union of the prefix expansion's postings, concatenated per term,
        # so keys arrive per-term-sorted, not globally sorted). Sort here:
        # every consumer below (intersect1d's merge, _sloppy_starts'
        # searchsorted, the run-length pf, the dl searchsorted) assumes
        # ascending keys/docs. Single-term slots are already sorted and
        # skip this (the check is O(n), the sort is not).
        keys = np.sort(keys)
        o = np.argsort(local, kind="stable")
        local, dls = local[o], dls[o]
    return keys, local, dls


def _ordered_spans(slot_blocks: list[pd.DataFrame], base: int, slop: int):
    """Ordered-within-window matching (Lucene ordered SpanNear semantics):
    positions p_0 < p_1 < ... < p_{n-1} with total span
    p_{n-1} - p_0 - (n-1) <= slop. Greedy-earliest chaining is exact here
    (a smaller p_i only loosens the constraint on p_{i+1}), and it is
    fully vectorized: one searchsorted per slot over (doc, pos) keys.

    Returns ``(doc, start, end, docs0, dls0)``: one entry per surviving
    chain (doc local, p_0, p_{n-1} — the greedy-earliest span, the same
    enumeration the phrase freq counts), plus slot-0's posting-level
    (docs, dls) for the dl lookup. Spans are the span-query currency
    (operators/spans.py); phrase freq is len-of-starts per doc."""
    n = len(slot_blocks)
    kk0, docs0, dls0 = _slot_keys(slot_blocks[0], 0, n, base)
    # undo the slot encoding: keys hold doc*2^B + pos + n
    cur_pos = (kk0 & np.int64((1 << _POS_BITS) - 1)) - n
    doc = (kk0 >> np.int64(_POS_BITS)).astype(np.int64)
    p0 = cur_pos.copy()
    alive = np.ones(doc.size, dtype=bool)
    for slot in range(1, n):
        kk, _, _ = _slot_keys(slot_blocks[slot], slot, n, base)
        spos = (kk & np.int64((1 << _POS_BITS) - 1)) - n + slot
        sdoc = (kk >> np.int64(_POS_BITS)).astype(np.int64)
        skey = sdoc * np.int64(1 << _POS_BITS) + spos  # sorted (from kk order)
        # minimal q with q > cur_pos in the same doc
        probe = doc * np.int64(1 << _POS_BITS) + cur_pos
        j = np.searchsorted(skey, probe, side="right")
        ok = j < skey.size
        jc = np.minimum(j, skey.size - 1)
        ok &= sdoc[jc] == doc
        q = spos[jc]
        ok &= q <= p0 + slot + slop
        alive &= ok
        cur_pos = np.where(alive, q, cur_pos)
    return doc[alive], p0[alive], cur_pos[alive], docs0, dls0


def _sloppy_starts(slot_blocks: list[pd.DataFrame], base: int, slop: int):
    """Phrase-freq view of :func:`_ordered_spans`: int64 keys
    ``doc_local * 2^B + p_0`` of the surviving phrase START positions
    (p_0 unique per doc -> phrase freq = starts per doc), plus slot-0's
    posting-level (docs, dls)."""
    doc, p0, _end, docs0, dls0 = _ordered_spans(slot_blocks, base, slop)
    return doc * np.int64(1 << _POS_BITS) + p0, docs0, dls0


def _minimal_windows_freq(events_pos: np.ndarray, events_slot: np.ndarray, n_slots: int, slop: int) -> float:
    """Sloppy frequency of ONE doc under unordered minimal-window
    semantics: events = (adjusted position, slot) sorted by position.
    A window is a position interval containing >= one occurrence of every
    slot; minimal windows contain no smaller window; each contributes
    1/(1 + width) when width <= slop — Lucene's sloppy-freq weighting
    (SloppyPhraseScorer docs: matchLength-weighted), with the window set
    given by the published minimal-interval semantics (Clarke & Cormack,
    "Shortest-substring retrieval and ranking", TOIS 2000)."""
    latest = np.full(n_slots, np.iinfo(np.int64).min, dtype=np.int64)
    seen = 0
    # candidate per event once covered: [min(latest), pos]; minimal set =
    # candidates reduced to strictly-increasing (l, r) (same-left: keep
    # first; same-right: keep largest left)
    kept_l: list[int] = []
    kept_r: list[int] = []
    lo = np.iinfo(np.int64).min
    for p, s in zip(events_pos, events_slot):
        if latest[s] == lo:
            seen += 1
        latest[s] = p
        if seen < n_slots:
            continue
        l = int(latest.min())
        if kept_l and kept_l[-1] == l:
            continue  # same left, earlier (smaller) right already kept
        if kept_r and kept_r[-1] == p and l > kept_l[-1]:
            kept_l[-1] = l  # same right, tighter left supersedes
            continue
        kept_l.append(l)
        kept_r.append(int(p))
    freq = 0.0
    for l, r in zip(kept_l, kept_r):
        w = r - l
        if w <= slop:
            freq += 1.0 / (1.0 + w)
    return freq


def _unordered_freqs(slot_blocks: list[pd.DataFrame], base: int, slop: int):
    """Unordered sloppy matching across a shard: per-slot postings decoded
    to (doc, adjusted position) streams, candidate docs = docs containing
    every slot, then the per-doc minimal-window scan. Returns
    (docs_local, freqs_f64, dl_docs, dl_vals)."""
    n = len(slot_blocks)
    per_slot = []
    cand = None
    dl_docs = dl_vals = None
    for slot, blocks in enumerate(slot_blocks):
        kk, docs_local, dls = _slot_keys(blocks, slot, n, base)
        pos = (kk & np.int64((1 << _POS_BITS) - 1)) - n  # adjusted pos - slot... see _slot_keys
        doc = (kk >> np.int64(_POS_BITS)).astype(np.int64)
        per_slot.append((doc, pos))
        u = np.unique(doc)
        cand = u if cand is None else np.intersect1d(cand, u, assume_unique=True)
        if slot == 0:
            dl_docs, dl_vals = docs_local, dls
    if cand is None or cand.size == 0:
        return (np.empty(0, np.int64), np.empty(0, np.float64), dl_docs, dl_vals)
    docs_all, pos_all, slot_all = [], [], []
    for slot, (doc, pos) in enumerate(per_slot):
        m = np.isin(doc, cand)
        docs_all.append(doc[m])
        pos_all.append(pos[m])
        slot_all.append(np.full(int(m.sum()), slot, dtype=np.int64))
    doc = np.concatenate(docs_all)
    pos = np.concatenate(pos_all)
    slot = np.concatenate(slot_all)
    order = np.lexsort((slot, pos, doc))
    doc, pos, slot = doc[order], pos[order], slot[order]
    starts = np.flatnonzero(np.concatenate(([True], doc[1:] != doc[:-1])))
    ends = np.concatenate((starts[1:], [doc.size]))
    out_docs, out_freqs = [], []
    for s, e in zip(starts, ends):
        f = _minimal_windows_freq(pos[s:e], slot[s:e], n, slop)
        if f > 0.0:
            out_docs.append(doc[s])
            out_freqs.append(f)
    return (
        np.asarray(out_docs, dtype=np.int64),
        np.asarray(out_freqs, dtype=np.float64),
        dl_docs,
        dl_vals,
    )


def score_shard_phrase_unordered(
    slot_blocks: list[pd.DataFrame],
    sum_idf: float,
    base: int,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    slop: int,
) -> pd.DataFrame:
    """Unordered sloppy phrase top-k within one shard (ES match_phrase slop
    semantics shape: terms may appear in any order within the window, a
    transposed bigram matches at slop >= 2 with weight 1/3). tf for BM25 is
    the WEIGHTED sloppy freq (float), per Lucene. Repeated query terms are
    rejected by the caller (injective slot assignment is not defined here).
    Returns (doc_id, score, phrase_freq double)."""
    empty = pd.DataFrame(
        {
            "doc_id": pd.Series([], dtype=np.int64),
            "score": pd.Series([], dtype=np.float32),
            "phrase_freq": pd.Series([], dtype=np.float64),
        }
    )
    if any(b_.empty for b_ in slot_blocks):
        return empty
    docs, pf, dl_docs, dl_vals = _unordered_freqs(slot_blocks, base, slop)
    if docs.size == 0:
        return empty
    dl = dl_vals[np.searchsorted(dl_docs, docs)].astype(np.float64)
    denom = pf + k1 * (1.0 - b + b * dl / avgdl)
    s32 = (sum_idf * pf * (k1 + 1.0) / denom).astype(np.float32)
    if docs.size > k:
        kth = np.partition(-s32, k - 1)[k - 1]
        sup = np.flatnonzero(-s32 <= kth)
        order = sup[np.lexsort((docs[sup], -s32[sup].astype(np.float64)))][:k]
    else:
        order = np.lexsort((docs, -s32.astype(np.float64)))[:k]
    return pd.DataFrame(
        {
            "doc_id": (docs[order] + base).astype(np.int64),
            "score": s32[order],
            "phrase_freq": pf[order],
        }
    )


_EMPTY_FREQS = (
    np.empty(0, np.int64),
    np.empty(0, np.float64),
    np.empty(0, np.int64),
    np.empty(0, np.int64),
)


def phrase_doc_freqs(
    slot_blocks: list[pd.DataFrame],
    base: int,
    slop: int = 0,
    ordered: bool = True,
):
    """Per-doc phrase frequencies within one shard — the matching core
    shared by the top-k phrase scorer below and the query_string bool
    kernel (a phrase clause inside a bool query needs EVERY matching
    doc's freq, not a top-k).

    Returns ``(docs_local int64, pf float64, dl_docs, dl_vals)`` where
    ``docs_local`` is sorted ascending, ``pf`` is the phrase frequency
    (integral-valued for ordered matching, Lucene sloppy-weighted for
    unordered), and ``dl_docs``/``dl_vals`` are slot-0's posting-level
    doc->length arrays for the BM25 dl lookup (``dl_vals[searchsorted(
    dl_docs, docs_local)]``). Empty arrays when any slot is absent."""
    n_slots = len(slot_blocks)
    if not slot_blocks or any(b_.empty for b_ in slot_blocks):
        return _EMPTY_FREQS
    if not ordered:
        return _unordered_freqs(slot_blocks, base, slop)
    if slop > 0:
        keys, dl_docs, dl_vals = _sloppy_starts(slot_blocks, base, slop)
        keys = np.sort(keys)
    else:
        keys = None
        dl_docs = dl_vals = None
        for slot, blocks in enumerate(slot_blocks):
            kk, docs_local, dls = _slot_keys(blocks, slot, n_slots, base)
            if slot == 0:
                keys, dl_docs, dl_vals = kk, docs_local, dls
            else:
                keys = np.intersect1d(keys, kk, assume_unique=True)
            if keys.size == 0:
                break
    if keys is None or keys.size == 0:
        return (np.empty(0, np.int64), np.empty(0, np.float64), dl_docs, dl_vals)

    match_local = (keys >> np.int64(_POS_BITS)).astype(np.int64)
    # phrase freq per doc: keys are sorted, so run-length over the doc part
    starts = np.flatnonzero(
        np.concatenate(([True], match_local[1:] != match_local[:-1]))
    )
    pf = np.diff(np.concatenate((starts, [match_local.size]))).astype(np.float64)
    return match_local[starts], pf, dl_docs, dl_vals


def score_shard_phrase(
    slot_blocks: list[pd.DataFrame],
    sum_idf: float,
    base: int,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    slop: int = 0,
) -> pd.DataFrame:
    """Top-k phrase matches within one shard.

    ``slot_blocks``: one blocks-DataFrame per phrase slot, in query order
    (the same term may appear at several slots). ``slop=0`` is exact
    adjacency (fast path: running position-set intersection); ``slop>0``
    is ordered-within-window matching via the greedy chain above — the
    two agree exactly at slop=0 (pinned by tests). Returns (doc_id,
    score, phrase_freq) — at most k rows, (score desc, doc_id asc) ties.
    """
    empty = pd.DataFrame(
        {
            "doc_id": pd.Series([], dtype=np.int64),
            "score": pd.Series([], dtype=np.float32),
            "phrase_freq": pd.Series([], dtype=np.int64),
        }
    )
    docs, pf, dl_docs, dl_vals = phrase_doc_freqs(slot_blocks, base, slop, ordered=True)
    if docs.size == 0:
        return empty
    dl = dl_vals[np.searchsorted(dl_docs, docs)].astype(np.float64)

    denom = pf + k1 * (1.0 - b + b * dl / avgdl)
    s32 = (sum_idf * pf * (k1 + 1.0) / denom).astype(np.float32)

    if docs.size > k:
        kth = np.partition(-s32, k - 1)[k - 1]
        sup = np.flatnonzero(-s32 <= kth)
        order = sup[np.lexsort((docs[sup], -s32[sup].astype(np.float64)))][:k]
    else:
        order = np.lexsort((docs, -s32.astype(np.float64)))[:k]
    return pd.DataFrame(
        {
            "doc_id": (docs[order] + base).astype(np.int64),
            "score": s32[order],
            "phrase_freq": pf[order].astype(np.int64),
        }
    )

"""Per-shard top-k scoring: one dense clause-group kernel + block-max WAND (C7-C9).

Sharding mirrors Elasticsearch's architecture: every shard holds the full
posting data for its contiguous doc_id range, so top-k within a shard is
exact and shards are embarrassingly parallel; the coordinator (driver)
merges per-shard heaps rank-stably (SURVEY.md §3.2/§3.4, B20).

Posting blocks are impact-style: they inline the exact doc lengths, so the
scorer is self-contained — a query reads ONLY the (term-pruned) postings,
never the docmap (no per-query Arrow shipping of doc metadata).

Two rank-identical scorers:

  * ``score_shard_clauses`` — the dense kernel: decode all candidate
    blocks, one fused numpy pass over a per-shard score array, clause
    groups for bool/query_string membership, phrase clauses, then ONE
    mask + ``after`` cursor + tie-safe selection tail (``_select``).
    ``score_shard_exact`` (match OR/AND) is a mode -> groups adapter.
  * ``score_shard_bmw`` — document-at-a-time WAND with per-block max-score
    skipping (Ding & Suel, SIGIR 2011): blocks whose upper bound cannot
    beat the running threshold theta are never decoded. Its Python step
    costs ~50x the dense per-posting cost, so ``use_bmw`` engages it only
    for OR over one dominant long list with rare companions and small k.

Both honor the determinism contract (functions/bm25.py): f64 accumulation
in ascending term_id order, f32 emission, ties (score desc, doc_id asc).
Safety of pruning under f32 quantization: stored block maxes are rounded
UP one ulp and upper-bound sums are inflated by 1e-6 relative before the
strict ``> theta`` comparison, so a pruned document provably cannot enter
the heap; evaluation of survivors is exact.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd

from ..functions.bm25 import contrib
from ..functions.codec import decode_doc_gaps, decode_positions, decode_tfs, decode_varints

_INF = np.int64(2**62)
_UB_SLACK = 1.0 + 1e-6
# shard postings (summed over the query's terms) below which BMW never
# pays: the dense kernel scores the whole candidate set faster
BMW_MIN_POSTINGS = 32768


def use_bmw(sizes: list[int], k: int) -> bool:
    """Scorer selection for one OR shard-query, from its per-term posting
    counts. Cost model (measured): the Python DAAT step costs ~50x the
    dense per-posting cost, so BMW must SKIP ~98% of the candidate
    postings to win. That needs a small k (theta must rise fast) and ONE
    dominant list with only rare companions (the dominant list is what
    gets skipped)."""
    total = sum(sizes)
    return (
        len(sizes) >= 2 and k <= 32 and total >= BMW_MIN_POSTINGS
        and (total - max(sizes)) * 64 <= total
    )


class _TermList:
    """Cursor over one term's posting blocks within a shard (lazy decode)."""

    __slots__ = (
        "term_id", "idf", "weight", "firsts", "lasts", "ns", "maxs",
        "deltas", "tfbufs", "dlbufs", "bi", "docs", "tfs", "dls", "ii",
        "cur", "sigma",
    )

    def __init__(self, term_id, t_idf, weight, blocks: pd.DataFrame):
        b = blocks.sort_values("block_id")
        self.term_id = term_id
        self.idf = float(t_idf)
        self.weight = float(weight)
        self.firsts = b["first_doc_id"].to_numpy(np.int64)
        self.lasts = b["last_doc_id"].to_numpy(np.int64)
        self.ns = b["n_docs"].to_numpy(np.int64)
        self.maxs = b["block_max_score"].to_numpy(np.float64)
        self.deltas = b["doc_id_deltas"].tolist()
        self.tfbufs = b["tfs"].tolist()
        self.dlbufs = b["dls"].tolist()
        self.bi = -1
        self.docs = self.tfs = self.dls = None
        self.ii = 0
        self.cur = _INF
        self.sigma = self.weight * float(self.maxs.max())  # shard-local list bound
        self._load(0)

    def _load(self, bi: int):
        if bi >= len(self.firsts):
            self.bi = len(self.firsts)
            self.cur = _INF
            return
        self.bi = bi
        self.docs = decode_doc_gaps(self.deltas[bi], int(self.firsts[bi]), int(self.ns[bi]))
        self.tfs = decode_tfs(self.tfbufs[bi])
        self.dls = decode_tfs(self.dlbufs[bi])
        self.ii = 0
        self.cur = self.docs[0]

    def block_max(self) -> float:
        """Upper bound (weighted) for any doc at/after cur in current block."""
        if self.bi >= len(self.firsts):
            return 0.0
        return self.weight * self.maxs[self.bi]

    def next(self):
        """Advance one posting."""
        self.ii += 1
        if self.docs is not None and self.ii < len(self.docs):
            self.cur = self.docs[self.ii]
        else:
            self._load(self.bi + 1)

    def seek(self, target: np.int64):
        """Advance to first doc >= target, skipping whole blocks undecoded."""
        if self.cur >= target:
            return
        bi = self.bi
        # skip blocks whose last doc < target WITHOUT decoding
        if self.lasts[bi] < target:
            bi = int(np.searchsorted(self.lasts, target, side="left"))
            if bi >= len(self.firsts):
                self.bi = bi
                self.cur = _INF
                return
            self._load(bi)
        j = int(np.searchsorted(self.docs, target, side="left"))
        if j < len(self.docs):
            self.ii = j
            self.cur = self.docs[j]
        else:
            self._load(self.bi + 1)

    def tf_at_cur(self) -> int:
        return int(self.tfs[self.ii])

    def dl_at_cur(self) -> int:
        return int(self.dls[self.ii])


def _push(heap, k, score32: np.float32, doc_id: int) -> float:
    """Maintain min-heap of (score_f32, -doc_id); return new theta."""
    item = (float(score32), -int(doc_id))
    if len(heap) < k:
        heapq.heappush(heap, item)
    elif item > heap[0]:
        heapq.heapreplace(heap, item)
    return heap[0][0] if len(heap) == k else -np.inf


def _after_ok(score32: np.float32, doc_id: int, after) -> bool:
    """ES search_after admission: keep only hits ranked STRICTLY after the
    cursor under the engine's total order (score_f32 desc, doc_id asc)."""
    if after is None:
        return True
    s, d = after
    fs = float(score32)
    return fs < s or (fs == s and int(doc_id) > d)


def _score_doc(lists_at_doc: list[_TermList], avgdl: float, k1: float, b: float) -> np.float32:
    """Exact doc score: f64 accumulation in ascending term_id order."""
    s = 0.0
    dl = np.float64(lists_at_doc[0].dl_at_cur())
    for tl in sorted(lists_at_doc, key=lambda t: t.term_id):
        s += tl.weight * float(contrib(np.float64(tl.tf_at_cur()), dl, tl.idf, avgdl, k1, b))
    return np.float32(s)


def _emit(heap) -> pd.DataFrame:
    items = sorted(heap, key=lambda it: (-it[0], -it[1]))
    return pd.DataFrame(
        {
            "doc_id": np.array([-d for _, d in items], dtype=np.int64),
            "score": np.array([s for s, _ in items], dtype=np.float32),
        }
    )


def score_shard_bmw(
    term_lists: list[_TermList],
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    after: tuple[float, int] | None = None,
) -> pd.DataFrame:
    """Exact top-k via block-max WAND (OR / weak-AND semantics).
    ``after``: ES search_after cursor (score_f32, doc_id) — only hits
    strictly after it in rank order are admitted (deep pagination without
    materializing earlier pages)."""
    heap: list[tuple[float, int]] = []
    theta = -np.inf
    lists = [t for t in term_lists if t.cur < _INF]
    while lists:
        lists.sort(key=lambda t: t.cur)
        # pivot: first prefix whose sigma-sum could beat theta
        acc, pivot = 0.0, -1
        for i, tl in enumerate(lists):
            acc += tl.sigma
            if acc * _UB_SLACK > theta:
                pivot = i
                break
        if pivot == -1:
            break  # no prefix can beat theta -> done
        pivot_doc = lists[pivot].cur
        if pivot_doc >= _INF:
            break
        if lists[0].cur == pivot_doc:
            # aligned: lists[0..m] sit on pivot_doc; BMW refinement check
            at_doc = [tl for tl in lists if tl.cur == pivot_doc]
            ub = sum(tl.block_max() for tl in at_doc)
            if len(heap) < k or ub * _UB_SLACK > theta:
                s32 = _score_doc(at_doc, avgdl, k1, b)
                if _after_ok(s32, int(pivot_doc), after):
                    theta = _push(heap, k, s32, int(pivot_doc))
            for tl in at_doc:
                tl.next()
        else:
            # not aligned: seek the lagging list up to the pivot doc
            lists[0].seek(pivot_doc)
        lists = [t for t in lists if t.cur < _INF]
    return _emit(heap)


def _decode_term_blocks(blocks: pd.DataFrame, shard_base: int, positions: bool = False):
    """Decode one term's blocks -> (local_docs, tfs, dls) numpy arrays,
    plus the absolute token positions (one per occurrence, posting
    order) when ``positions``. Blocks decode in the frame's row order;
    positional callers pass them sorted by block_id.

    Batch-vectorized across the term's blocks: each varint stream is
    decoded in ONE pass over the concatenated block buffers (varints are
    self-delimiting, so concatenated streams decode to the concatenated
    values; the per-block python loop paid ~30 numpy-call overheads per
    128-posting block). doc_ids come back from the gap streams via an
    exact segmented integer cumsum seeded with each block's absolute
    first_doc_id."""
    nb = len(blocks)
    if nb == 0:
        return None
    npb = blocks["n_docs"].to_numpy(np.int64)
    n_post = int(npb.sum())
    firsts = blocks["first_doc_id"].to_numpy(np.int64)
    gaps = decode_varints(b"".join(blocks["doc_id_deltas"])).astype(np.int64)
    tfs = decode_tfs(b"".join(blocks["tfs"]))
    dls = decode_tfs(b"".join(blocks["dls"]))
    starts = np.concatenate(([0], np.cumsum(npb)[:-1]))
    is_start = np.zeros(n_post, dtype=bool)
    is_start[starts] = True
    vals = np.empty(n_post, dtype=np.int64)
    vals[~is_start] = gaps
    vals[is_start] = firsts
    cs = np.cumsum(vals)
    # cancel the running carry at each block start so every block's
    # cumsum restarts from its absolute first_doc_id (exact in int64)
    docs = cs - np.repeat(cs[starts] - firsts, npb)
    if positions:
        # per-posting position segments are self-delimiting by tf, so the
        # concatenated streams decode like one block's
        return docs - shard_base, tfs, dls, decode_positions(b"".join(blocks["poss"]), tfs)
    return docs - shard_base, tfs, dls


def decode_term_contrib(
    blocks: pd.DataFrame, shard_base: int, t_idf: float,
    avgdl: float, k1: float, b: float,
):
    """Decode one term's blocks and compute its UNWEIGHTED per-posting
    f64 BM25 contribution once: (local_docs, contrib). The inline scorer
    computes ``weight * contrib(tfs, dls, idf, ...)``; callers multiply
    the same weight onto this shared base — elementwise-identical f64.
    Lets the msearch batch kernel share one decode+score per term across
    every query that uses it."""
    dec = _decode_term_blocks(blocks, shard_base)
    if dec is None:
        return None
    docs, tfs, dls = dec
    return docs, contrib(tfs, dls, t_idf, avgdl, k1, b)


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                         "score": pd.Series([], dtype=np.float32)})


def _select(
    scores: np.ndarray,
    mask: np.ndarray,
    shard_base: int,
    allowed: np.ndarray | None,
    k: int,
    after: tuple[float, int] | None,
    ordered: bool,
) -> pd.DataFrame:
    """The dense kernel's selection tail: restrict ``mask`` by the
    non-scoring ``allowed`` filter and the ES search_after cursor (hits at
    or before ``after`` in (score desc, doc_id asc) order drop out), then
    select the top k in f32 emission space: a partial select of a
    tie-safe superset, exact (score desc, doc_id asc) ordering within it.
    ``ordered=False`` skips the output sort when no cap applies; emission
    is then doc_id ascending."""
    if allowed is not None:
        mask &= allowed
    if after is not None:
        s_cut, d_cut = np.float32(after[0]), int(after[1])
        s32_all = scores.astype(np.float32)
        ids = np.arange(scores.size, dtype=np.int64) + shard_base
        mask &= (s32_all < s_cut) | ((s32_all == s_cut) & (ids > d_cut))
    cand = np.flatnonzero(mask)
    if cand.size == 0:
        return _empty_hits()
    s32 = scores[cand].astype(np.float32)
    if cand.size > k:
        kth = np.partition(-s32, k - 1)[k - 1]
        sup = np.flatnonzero(-s32 <= kth)
        order = sup[np.lexsort((cand[sup], -s32[sup].astype(np.float64)))][:k]
        cand, s32 = cand[order], s32[order]
    elif ordered:
        order = np.lexsort((cand, -s32.astype(np.float64)))
        cand, s32 = cand[order], s32[order]
    return pd.DataFrame({"doc_id": (cand + shard_base).astype(np.int64), "score": s32})


def score_shard_clauses(
    term_meta: list[tuple[int, float, float, object]],
    must_groups: list[list[int]],
    should_groups: list[list[int]],
    min_should: int,
    excl_blocks: list[pd.DataFrame],
    phrase_meta: list[tuple[list[pd.DataFrame], float, float, str, int, bool]],
    shard_base: int,
    span: int,
    allowed: np.ndarray | None,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    after: tuple[float, int] | None = None,
    ordered: bool = True,
) -> pd.DataFrame:
    """The dense shard kernel: a Lucene BooleanQuery of clause groups and
    phrase clauses over one shard's dense doc_id range ``span``.

    * ``term_meta``: every scoring term once — (term_id, idf, weight,
      blocks), weight pre-summed across clauses (a term in two clauses
      scores twice, as in ES bool). ``blocks`` is the term's raw postings
      frame or the pre-decoded ``(local_docs, contrib)`` pair of
      ``decode_term_contrib`` (msearch decodes and scores a term once per
      shard; ``weight * contrib`` is the same elementwise f64 product).
    * ``must_groups`` / ``should_groups``: each entry is the term_id set
      of ONE clause, matched when ANY member matches (a ``pre*``
      expansion or a multi-token clause is one group — Lucene counts
      clauses, not terms). Members absent from this shard never match
      here; ``min_should`` is minimum_should_match over should clauses
      (0: none required unless there is no must clause).
    * ``excl_blocks``: must_not postings, a non-scoring forbidden mask.
    * ``phrase_meta``: (slot_blocks, sum_idf, weight, role, slop,
      ordered) per phrase clause; role in must/should/must_not. Phrase
      score = BM25 with tf = phrase freq (operators/phrase.py).
    * ``allowed``: optional boolean filter mask indexed by doc_id -
      shard_base; ``after``: ES search_after cursor (score_f32, doc_id);
      ``ordered``: see ``_select``.

    Determinism contract: f64 accumulation runs ascending term_id over
    ``term_meta`` FIRST, then phrase clauses in query order (the DuckDB
    oracle's left-to-right ``+``); f32 emit; ties (score desc, doc_id
    asc). Match OR/AND and bool are the single-term-group special cases.
    """
    if not term_meta and not any(p[3] != "must_not" for p in phrase_meta):
        # no scoring clause reached this shard (e.g. its pruned scan held
        # only must_not postings): the mask would otherwise default to
        # all-ones and emit every doc in the span as a score-0 ghost
        return _empty_hits()
    scores = np.zeros(span, dtype=np.float64)
    tid_docs: dict[int, np.ndarray] = {}
    for tid, t_idf, w, blocks in sorted(term_meta, key=lambda m: m[0]):
        if isinstance(blocks, tuple):
            docs, base = blocks
        else:
            dec = _decode_term_blocks(blocks, shard_base)
            if dec is None:
                continue
            docs, tfs, dls = dec
            base = contrib(tfs, dls, t_idf, avgdl, k1, b)
        scores[docs] += w * base
        tid_docs[tid] = docs
    phrase_hits: list[tuple[str, np.ndarray]] = []
    if phrase_meta:
        from .phrase import phrase_doc_freqs

        for slot_blocks, sum_idf, w, role, slop, p_ordered in phrase_meta:
            docs, pf, dl_docs, dl_vals = phrase_doc_freqs(
                slot_blocks, shard_base, slop, p_ordered
            )
            if docs.size and role != "must_not":
                dl = dl_vals[np.searchsorted(dl_docs, docs)].astype(np.float64)
                scores[docs] += (
                    w * sum_idf * pf * (k1 + 1.0)
                    / (pf + k1 * (1.0 - b + b * dl / avgdl))
                )
            phrase_hits.append((role, docs))

    def clauses_matched(groups: list[list[int]], role: str) -> tuple[np.ndarray, int]:
        """(per-doc count of matched ``role`` clauses, clause total). The
        total counts EVERY clause of the query, including ones whose
        terms are absent from this shard (a doc here cannot match them)."""
        seen = np.zeros(span, dtype=np.int32)
        for g in groups:
            if len(g) == 1:
                d = tid_docs.get(g[0])
                if d is not None:
                    seen[d] += 1  # a term's docs are unique
                continue
            m = np.zeros(span, dtype=bool)
            for tid in g:
                d = tid_docs.get(tid)
                if d is not None:
                    m[d] = True
            seen += m
        n = len(groups)
        for r, docs in phrase_hits:
            if r == role:
                seen[docs] += 1
                n += 1
        return seen, n

    seen_must, n_must = clauses_matched(must_groups, "must")
    seen_should, n_should = clauses_matched(should_groups, "should")
    mask = seen_must == n_must if n_must else np.ones(span, dtype=bool)
    if min_should > 0:
        mask &= seen_should >= min_should
    elif n_must == 0 and n_should:
        mask &= seen_should > 0  # pure-should: at least one clause
    for blocks in excl_blocks:
        dec = _decode_term_blocks(blocks, shard_base)
        if dec is not None:
            mask[dec[0]] = False
    for role, docs in phrase_hits:
        if role == "must_not":
            mask[docs] = False
    return _select(scores, mask, shard_base, allowed, k, after, ordered)


def score_shard_exact(
    term_meta: list[tuple[int, float, float, object]],
    shard_base: int,
    span: int,
    allowed: np.ndarray | None,
    k: int,
    mode: str,
    avgdl: float,
    k1: float,
    b: float,
    after: tuple[float, int] | None = None,
    ordered: bool = True,
) -> pd.DataFrame:
    """Match query (``mode`` "or" / "and") on the dense kernel: one
    single-term should group per term for OR, one must group per term
    for AND. ``term_meta``: [(term_id, idf, weight, blocks)], blocks raw
    or pre-decoded as in ``score_shard_clauses``."""
    groups = [[m[0]] for m in term_meta]
    must, should = (groups, []) if mode == "and" else ([], groups)
    return score_shard_clauses(term_meta, must, should, 0, [], [], shard_base, span,
                               allowed, k, avgdl, k1, b, after=after, ordered=ordered)

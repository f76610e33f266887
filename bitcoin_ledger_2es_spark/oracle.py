"""Brute-force pandas/numpy BM25 oracle (SURVEY.md §5.3).

Scores EVERY document for a query — no index, no pruning — and sorts by
(score_f32 desc, doc_id asc). The engine's indexed/BMW path must return
rank-identical (doc_id, score_f32) sequences. Golden outputs are produced
by this oracle, never hand-written (FIXTURES.md §2).

Scoring rules shared with the engine (functions/bm25.py):
  * contributions accumulated in float64 in ascending term_id order
    (term_id = rank of term in sorted vocab), quantized to float32 at the
    end;
  * duplicate query terms are occurrence-weighted (ES sums one clause per
    occurrence);
  * mode="and" requires every distinct in-vocabulary query term to occur —
    and an out-of-vocabulary required term matches nothing (empty result),
    mirroring an ES bool.must of a non-matching TermQuery.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from .config import DEFAULT, EngineConfig
from .functions.analyze import analyze_query, tokenize_series
from .functions.bm25 import contrib, idf


class PandasOracle:
    def __init__(self, docs: pd.DataFrame, cfg: EngineConfig = DEFAULT):
        """docs: DataFrame with columns (doc_id int64, text str)."""
        self.cfg = cfg
        d = docs.sort_values("doc_id").reset_index(drop=True)
        toks = tokenize_series(d["text"], cfg)
        self._toks = toks
        self.doc_ids = d["doc_id"].to_numpy(dtype=np.int64)
        self.doc_len = toks.str.len().to_numpy(dtype=np.int64)
        self.n_docs = len(d)
        self.avgdl = float(self.doc_len.mean()) if self.n_docs else 0.0
        # postings: term -> (row indices, tfs)
        self.postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        by_term: dict[str, dict[int, int]] = {}
        for row, ts in enumerate(toks):
            for t, c in Counter(ts).items():
                by_term.setdefault(t, {})[row] = c
        for t, m in by_term.items():
            rows = np.fromiter(m.keys(), dtype=np.int64)
            tfs = np.fromiter(m.values(), dtype=np.int64)
            order = np.argsort(rows)
            self.postings[t] = (rows[order], tfs[order])
        # term_id = rank in sorted vocabulary (matches engine dictionary)
        self.term_id = {t: i for i, t in enumerate(sorted(by_term))}

    def top_k(self, query_text: str, k: int = 10, mode: str = "or") -> pd.DataFrame:
        """Returns (rank, doc_id, score) with score float32, rank 1-based."""
        cfg = self.cfg
        terms = analyze_query(query_text, cfg)
        weights = Counter(terms)
        in_vocab = [t for t in weights if t in self.postings]
        empty = pd.DataFrame({"rank": pd.Series([], dtype=np.int32),
                              "doc_id": pd.Series([], dtype=np.int64),
                              "score": pd.Series([], dtype=np.float32)})
        if not terms:
            return empty
        if mode == "and" and (len(in_vocab) < len(weights)):
            return empty  # a required term matches nothing
        if not in_vocab:
            return empty

        scores = np.zeros(self.n_docs, dtype=np.float64)
        seen_count = np.zeros(self.n_docs, dtype=np.int64)
        # accumulate in ascending term_id order (determinism contract)
        for t in sorted(in_vocab, key=lambda t: self.term_id[t]):
            rows, tfs = self.postings[t]
            t_idf = idf(float(len(rows)), self.n_docs)
            c = contrib(tfs, self.doc_len[rows], t_idf, self.avgdl, cfg.k1, cfg.b)
            scores[rows] += weights[t] * c
            seen_count[rows] += 1
        if mode == "and":
            mask = seen_count == len(in_vocab)
        else:
            mask = seen_count > 0
        cand = np.flatnonzero(mask)
        if cand.size == 0:
            return empty
        s32 = scores[cand].astype(np.float32)
        order = np.lexsort((self.doc_ids[cand], -s32.astype(np.float64)))
        top = order[:k]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(top) + 1, dtype=np.int32),
                "doc_id": self.doc_ids[cand][top],
                "score": s32[top],
            }
        )

    def _phrase_topk_unordered(self, terms, k, slop, empty) -> pd.DataFrame:
        """Unordered minimal-window sloppy phrase oracle: for every
        candidate right endpoint (any slot occurrence), the tightest window
        ending there uses each slot's latest occurrence <= it; minimal
        windows are the containment-minimal of those candidates (explicit
        pairwise filter — independent of the engine's streaming reduce,
        so the two implementations pin each other)."""
        if len(set(terms)) < len(terms):
            raise ValueError("unordered slop oracle: repeated terms unsupported")
        cfg = self.cfg
        sum_idf = 0.0
        for t in terms:
            sum_idf += float(idf(float(len(self.postings[t][0])), self.n_docs))
        rows, pfs = [], []
        for row, ts in enumerate(self._toks):
            occ = []
            for slot, t in enumerate(terms):
                ps = [i - slot for i, x in enumerate(ts) if x == t]
                if not ps:
                    occ = None
                    break
                occ.append(ps)
            if occ is None:
                continue
            occ_np = [np.asarray(ps, dtype=np.int64) for ps in occ]
            allpos = np.unique(np.concatenate(occ_np))
            wins = set()
            for p in allpos:
                lefts = []
                for ps in occ_np:
                    i = int(np.searchsorted(ps, p, side="right")) - 1
                    if i < 0:
                        lefts = None
                        break
                    lefts.append(int(ps[i]))
                if lefts is not None:
                    wins.add((min(lefts), int(p)))
            minimal = [
                (l, r)
                for l, r in wins
                if not any(
                    (l2, r2) != (l, r) and l2 >= l and r2 <= r for l2, r2 in wins
                )
            ]
            # sum in increasing window order — the engine streams windows
            # left-to-right, and f64 addition order is part of the contract
            minimal.sort()
            pf = 0.0
            for l, r in minimal:
                if r - l <= slop:
                    pf += 1.0 / (1.0 + (r - l))
            if pf > 0.0:
                rows.append(row)
                pfs.append(pf)
        if not rows:
            return empty
        rows = np.asarray(rows, dtype=np.int64)
        pf = np.asarray(pfs, dtype=np.float64)
        dl = self.doc_len[rows].astype(np.float64)
        denom = pf + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / self.avgdl)
        s32 = (sum_idf * pf * (cfg.k1 + 1.0) / denom).astype(np.float32)
        order = np.lexsort((self.doc_ids[rows], -s32.astype(np.float64)))[:k]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(order) + 1, dtype=np.int32),
                "doc_id": self.doc_ids[rows][order],
                "score": s32[order],
                "phrase_freq": pf[order],
            }
        )

    def bool_topk(
        self,
        must: str = "",
        should: str = "",
        must_not: str = "",
        k: int = 10,
        minimum_should_match: int | None = None,
    ) -> pd.DataFrame:
        """ES bool query oracle (mirrors BM25Searcher.bool_query /
        operators/wand.py score_shard_clauses, same determinism contract):
        must all required + scoring, should scoring with >= min_m matching,
        must_not a non-scoring exclusion; a term in both must and should
        scores once per clause (summed weights)."""
        cfg = self.cfg
        must_terms = analyze_query(must, cfg)
        should_terms = analyze_query(should, cfg)
        not_terms = analyze_query(must_not, cfg)
        empty = pd.DataFrame({"rank": pd.Series([], dtype=np.int32),
                              "doc_id": pd.Series([], dtype=np.int64),
                              "score": pd.Series([], dtype=np.float32)})
        if not must_terms and not should_terms:
            return empty
        w_must, w_should = Counter(must_terms), Counter(should_terms)
        if any(t not in self.postings for t in w_must):
            return empty
        min_m = minimum_should_match
        if min_m is None:
            min_m = 1 if (should_terms and not must_terms) else 0
        should_in = [t for t in w_should if t in self.postings]
        if min_m > len(should_in):
            return empty
        if not w_must and not should_in:
            return empty

        scores = np.zeros(self.n_docs, dtype=np.float64)
        seen_must = np.zeros(self.n_docs, dtype=np.int64)
        seen_should = np.zeros(self.n_docs, dtype=np.int64)
        weights = {t: 0.0 for t in {*w_must, *should_in}}
        for t, w in w_must.items():
            weights[t] += w
        for t in should_in:
            weights[t] += w_should[t]
        for t in sorted(weights, key=lambda t: self.term_id[t]):
            rows, tfs = self.postings[t]
            t_idf = idf(float(len(rows)), self.n_docs)
            scores[rows] += weights[t] * contrib(
                tfs, self.doc_len[rows], t_idf, self.avgdl, cfg.k1, cfg.b
            )
            if t in w_must:
                seen_must[rows] += 1
            if t in should_in or (t in w_should):
                seen_should[rows] += 1
        mask = seen_must == len(w_must) if w_must else np.ones(self.n_docs, dtype=bool)
        if min_m > 0:
            mask &= seen_should >= min_m
        elif not w_must and should_in:
            mask &= seen_should > 0
        for t in set(not_terms):
            if t in self.postings:
                mask[self.postings[t][0]] = False
        cand = np.flatnonzero(mask)
        if cand.size == 0:
            return empty
        s32 = scores[cand].astype(np.float32)
        order = np.lexsort((self.doc_ids[cand], -s32.astype(np.float64)))[:k]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(order) + 1, dtype=np.int32),
                "doc_id": self.doc_ids[cand][order],
                "score": s32[order],
            }
        )

    def _phrase_rows_pf_ordered(self, terms: list, slop: int):
        """Brute-force per-doc ordered phrase frequencies: slop=0 counts
        consecutive occurrences, slop>0 counts start positions from which
        the terms appear in order within span <= len + slop. Each slot may
        be a single term (str) or a SET of alternatives (the MultiPhrase
        shape phrase_prefix_topk uses for the expanded last slot). Returns
        (row indices int64, pf float64) — shared by phrase_topk, the
        query_string oracle, and phrase_prefix_topk."""
        rows, pfs = [], []
        n = len(terms)
        slots = [frozenset((t,)) if isinstance(t, str) else frozenset(t)
                 for t in terms]

        def _window_match(ts, i):  # ordered within span <= n + slop, from p0=i
            if ts[i] not in slots[0]:
                return False
            cur = i
            for j in range(1, n):
                q = next(
                    (p for p in range(cur + 1, i + j + slop + 1)
                     if p < len(ts) and ts[p] in slots[j]),
                    None,
                )
                if q is None:
                    return False
                cur = q
            return True

        for row, ts in enumerate(self._toks):
            if slop == 0:
                pf = sum(
                    1
                    for i in range(len(ts) - n + 1)
                    if all(ts[i + j] in slots[j] for j in range(n))
                )
            else:
                pf = sum(1 for i in range(len(ts)) if _window_match(ts, i))
            if pf:
                rows.append(row)
                pfs.append(pf)
        return (
            np.asarray(rows, dtype=np.int64),
            np.asarray(pfs, dtype=np.float64),
        )

    def query_string_topk(
        self,
        qs: str,
        k: int = 10,
        default_operator: str = "or",
        max_expansions: int = 50,
        minimum_should_match: int | None = None,
    ) -> pd.DataFrame:
        """Lucene classic query_string oracle — mirrors
        BM25Searcher.query_string / operators/wand.py score_shard_clauses (the
        lockstep contract): clause groups (a multi-token or expanded
        clause counts once toward must/minimum_should_match, every member
        scores), ordered phrases embedded as scoring clauses (tf = phrase
        freq, idf summed in query order, accumulated AFTER all term
        contributions in clause order), must_not exclusions. Filter
        clauses and unordered phrases are out of scope here (filters are
        docmap metadata — tested against the engine's doc_filter path)."""
        import re as _re

        from .functions.querystring import parse_query_string

        cfg = self.cfg
        parsed = parse_query_string(qs, cfg, default_operator)
        if parsed.filters:
            raise NotImplementedError("filter clauses: test via doc_filter")
        empty = pd.DataFrame({"rank": pd.Series([], dtype=np.int32),
                              "doc_id": pd.Series([], dtype=np.int64),
                              "score": pd.Series([], dtype=np.float32)})

        def _lev(a: str, b: str) -> int:
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        def _expand(ec) -> list[str]:
            if ec.kind == "prefix":
                pred = lambda t: t.startswith(ec.pattern)
            elif ec.kind == "wildcard":
                rx = _re.compile(
                    "^" + "".join(
                        ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
                        for ch in ec.pattern
                    ) + "$"
                )
                pred = lambda t: rx.match(t) is not None
            else:
                pred = lambda t: _lev(t, ec.pattern) <= ec.fuzziness
            cand = sorted(
                ((len(self.postings[t][0]), t) for t in self.postings if pred(t)),
                key=lambda x: (-x[0], x[1]),
            )
            return [t for _, t in cand[:max_expansions]]

        weights: dict[str, float] = {}
        must_groups: list[list[str]] = []
        should_groups: list[list[str]] = []
        excl: set[str] = set()
        n_should_raw = 0
        viable_should = 0

        def _add(term_weights: list[tuple[str, float]], role: str) -> bool:
            nonlocal n_should_raw, viable_should
            if role == "should":
                n_should_raw += 1
            if role == "must_not":
                excl.update(t for t, _ in term_weights)
                return True
            names = []
            for t, w in term_weights:
                weights[t] = weights.get(t, 0.0) + w
                names.append(t)
            if not names:
                return role != "must"
            if role == "must":
                must_groups.append(names)
            else:
                viable_should += 1
                should_groups.append(names)
            return True

        # unmapped-field clauses: like all-OOV clauses (lockstep with
        # BM25Searcher.query_string — change one, change both)
        for role in parsed.unmapped:
            if not _add([], role):
                return empty
        for c in parsed.terms:
            tw = [(t, float(n)) for t, n in Counter(c.terms).items()
                  if t in self.postings]
            if not _add(tw, c.role):
                return empty
        for ec in parsed.expands:
            if not _add([(t, 1.0) for t in _expand(ec)], ec.role):
                return empty
        phrase_list = []
        for p in parsed.phrases:
            if p.role == "should":
                n_should_raw += 1
            if any(t not in self.postings for t in p.terms):
                if p.role == "must":
                    return empty
                continue
            sum_idf = 0.0
            for t in p.terms:
                sum_idf += float(idf(float(len(self.postings[t][0])), self.n_docs))
            if p.role == "should":
                viable_should += 1
            phrase_list.append((p.terms, sum_idf, p.role, p.slop))

        min_m = minimum_should_match
        if min_m is None:
            min_m = 1 if (n_should_raw and not must_groups and not any(
                p[2] == "must" for p in phrase_list)) else 0
        if min_m > viable_should:
            return empty
        if not weights and not any(p[2] != "must_not" for p in phrase_list):
            return empty  # pure-negative: engine serves match_all, not scored

        scores = np.zeros(self.n_docs, dtype=np.float64)
        term_rows = {}
        for t in sorted(weights, key=lambda t: self.term_id[t]):
            rows, tfs = self.postings[t]
            t_idf = idf(float(len(rows)), self.n_docs)
            scores[rows] += weights[t] * contrib(
                tfs, self.doc_len[rows], t_idf, self.avgdl, cfg.k1, cfg.b
            )
            term_rows[t] = rows
        phrase_hits = []
        for terms, sum_idf, role, slop in phrase_list:
            rows, pf = self._phrase_rows_pf_ordered(terms, slop)
            if rows.size and role != "must_not":
                dl = self.doc_len[rows].astype(np.float64)
                scores[rows] += (
                    sum_idf * pf * (cfg.k1 + 1.0)
                    / (pf + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / self.avgdl))
                )
            phrase_hits.append((role, rows))

        def _group_mask(names: list[str]) -> np.ndarray:
            m = np.zeros(self.n_docs, dtype=bool)
            for t in names:
                m[term_rows[t]] = True
            return m

        n_must = len(must_groups) + sum(1 for r, _ in phrase_hits if r == "must")
        seen_must = np.zeros(self.n_docs, dtype=np.int64)
        for g in must_groups:
            seen_must += _group_mask(g)
        seen_should = np.zeros(self.n_docs, dtype=np.int64)
        for g in should_groups:
            seen_should += _group_mask(g)
        n_should = len(should_groups) + sum(1 for r, _ in phrase_hits if r == "should")
        for role, rows in phrase_hits:
            if role == "must":
                seen_must[rows] += 1
            elif role == "should":
                seen_should[rows] += 1
        mask = seen_must == n_must if n_must else np.ones(self.n_docs, dtype=bool)
        if min_m > 0:
            mask &= seen_should >= min_m
        elif n_must == 0 and n_should:
            mask &= seen_should > 0
        for t in excl:
            if t in self.postings:
                mask[self.postings[t][0]] = False
        for role, rows in phrase_hits:
            if role == "must_not":
                mask[rows] = False
        cand = np.flatnonzero(mask)
        if cand.size == 0:
            return empty
        s32 = scores[cand].astype(np.float32)
        order = np.lexsort((self.doc_ids[cand], -s32.astype(np.float64)))[:k]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(order) + 1, dtype=np.int32),
                "doc_id": self.doc_ids[cand][order],
                "score": s32[order],
            }
        )

    def phrase_topk(
        self, query_text: str, k: int = 10, slop: int = 0, ordered: bool = True
    ) -> pd.DataFrame:
        """match_phrase oracle (B5): brute-force scan of every doc's token
        stream — slop=0 requires consecutive occurrences; slop>0 ordered
        counts start positions p0 from which the terms appear in order with
        total span <= len + slop; slop>0 UNordered uses minimal-window
        semantics with 1/(1+width) weighting (same contract as
        operators/phrase.py score_shard_phrase_unordered — implemented
        independently here over raw token streams). BM25 with tf = phrase
        freq, idf = sum of per-term idfs in query order."""
        cfg = self.cfg
        terms = analyze_query(query_text, cfg)
        unordered = not ordered and slop > 0
        freq_np = np.float64 if unordered else np.int64
        empty = pd.DataFrame({"rank": pd.Series([], dtype=np.int32),
                              "doc_id": pd.Series([], dtype=np.int64),
                              "score": pd.Series([], dtype=np.float32),
                              "phrase_freq": pd.Series([], dtype=freq_np)})
        if not terms or any(t not in self.postings for t in terms):
            return empty
        if unordered:
            return self._phrase_topk_unordered(terms, k, slop, empty)
        sum_idf = 0.0
        for t in terms:
            sum_idf += float(idf(float(len(self.postings[t][0])), self.n_docs))
        rows, pf = self._phrase_rows_pf_ordered(terms, slop)
        if rows.size == 0:
            return empty
        dl = self.doc_len[rows].astype(np.float64)
        denom = pf + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / self.avgdl)
        s32 = (sum_idf * pf * (cfg.k1 + 1.0) / denom).astype(np.float32)
        order = np.lexsort((self.doc_ids[rows], -s32.astype(np.float64)))[:k]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(order) + 1, dtype=np.int32),
                "doc_id": self.doc_ids[rows][order],
                "score": s32[order],
                "phrase_freq": pf[order].astype(np.int64),
            }
        )

    def phrase_prefix_topk(
        self, query_text: str, k: int = 10, slop: int = 0,
        max_expansions: int = 50,
    ) -> pd.DataFrame:
        """match_phrase_prefix oracle — lockstep with
        BM25Searcher.phrase_prefix_query (change one, change both): last
        analyzed token expands to up to max_expansions vocabulary terms in
        ALPHABETICAL order; ordered multi-phrase matching with the last
        slot a set of alternatives; idf = sum of fixed-term idfs (query
        order) + one blended idf from the MAX expansion docFreq (Lucene
        SynonymQuery blend)."""
        cfg = self.cfg
        terms = analyze_query(query_text, cfg)
        empty = pd.DataFrame({"rank": pd.Series([], dtype=np.int32),
                              "doc_id": pd.Series([], dtype=np.int64),
                              "score": pd.Series([], dtype=np.float32),
                              "phrase_freq": pd.Series([], dtype=np.int64)})
        if not terms:
            return empty
        fixed, stem = terms[:-1], terms[-1]
        if any(t not in self.postings for t in fixed):
            return empty
        exp = sorted(t for t in self.postings if t.startswith(stem))[:max_expansions]
        if not exp:
            return empty
        sum_idf = 0.0
        for t in fixed:
            sum_idf += float(idf(float(len(self.postings[t][0])), self.n_docs))
        max_df = max(len(self.postings[t][0]) for t in exp)
        sum_idf += float(idf(float(max_df), self.n_docs))
        rows, pf = self._phrase_rows_pf_ordered([*fixed, frozenset(exp)], slop)
        if rows.size == 0:
            return empty
        dl = self.doc_len[rows].astype(np.float64)
        denom = pf + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / self.avgdl)
        s32 = (sum_idf * pf * (cfg.k1 + 1.0) / denom).astype(np.float32)
        order = np.lexsort((self.doc_ids[rows], -s32.astype(np.float64)))[:k]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(order) + 1, dtype=np.int32),
                "doc_id": self.doc_ids[rows][order],
                "score": s32[order],
                "phrase_freq": pf[order].astype(np.int64),
            }
        )

    def bool_prefix_topk(
        self, query_text: str, k: int = 10, max_expansions: int = 50
    ) -> pd.DataFrame:
        """match_bool_prefix oracle — lockstep with
        BM25Searcher.match_bool_prefix (change one, change both): fixed
        terms are a BM25 pure-should OR (f64 accumulate ascending
        term_id, f32 EMIT — the engine's kernel emission); the last token
        is a constant-score prefix clause (+1.0 for docs containing any
        alphabetical-capped expansion term); combined in f64, f32 emit."""
        cfg = self.cfg
        terms = analyze_query(query_text, cfg)
        empty = pd.DataFrame({"rank": pd.Series([], dtype=np.int32),
                              "doc_id": pd.Series([], dtype=np.int64),
                              "score": pd.Series([], dtype=np.float32)})
        if not terms:
            return empty
        fixed, stem = terms[:-1], terms[-1]
        exp = sorted(t for t in self.postings if t.startswith(stem))[:max_expansions]

        weights = Counter(fixed)
        in_vocab = [t for t in weights if t in self.postings]
        scores = np.zeros(self.n_docs, dtype=np.float64)
        seen_fixed = np.zeros(self.n_docs, dtype=bool)
        for t in sorted(in_vocab, key=lambda t: self.term_id[t]):
            rows, tfs = self.postings[t]
            t_idf = idf(float(len(rows)), self.n_docs)
            scores[rows] += weights[t] * contrib(
                tfs, self.doc_len[rows], t_idf, self.avgdl, cfg.k1, cfg.b
            )
            seen_fixed[rows] = True
        or32 = scores.astype(np.float32)  # the kernel's f32 emission

        pref = np.zeros(self.n_docs, dtype=bool)
        for t in exp:
            pref[self.postings[t][0]] = True

        matched = seen_fixed | pref
        cand = np.flatnonzero(matched)
        if cand.size == 0:
            return empty
        total = (
            np.where(seen_fixed, or32.astype(np.float64), 0.0)
            + np.where(pref, 1.0, 0.0)
        )
        s32 = total[cand].astype(np.float32)
        order = np.lexsort((self.doc_ids[cand], -s32.astype(np.float64)))[:k]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(order) + 1, dtype=np.int32),
                "doc_id": self.doc_ids[cand][order],
                "score": s32[order],
            }
        )

    def phrase_suggest_topk(
        self, text: str, max_edits: int = 1, candidates_per_term: int = 5,
        size: int = 5, alpha: float = 0.5,
    ) -> pd.DataFrame:
        """Phrase-suggester oracle — lockstep with
        BM25Searcher.phrase_suggest (change one, change both): Laplace
        bigram LM from the corpus token streams + the pinned error model
        (log10(0.95) unchanged slot, distance*log10(0.1) per edited
        slot), candidates (distance asc, df desc, term asc) capped per
        slot, score summed left-to-right in gram order, ties
        (score desc, suggestion asc)."""
        import math
        from itertools import product

        def lev(a: str, b: str) -> int:
            if a == b:
                return 0
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        terms = analyze_query(text, self.cfg)
        cols = {"rank": pd.Series([], dtype=np.int32),
                "suggestion": pd.Series([], dtype=object),
                "score": pd.Series([], dtype=np.float64),
                "n_changed": pd.Series([], dtype=np.int64)}
        if not terms:
            return pd.DataFrame(cols)

        cf = {t: int(tfs.sum()) for t, (rows, tfs) in self.postings.items()}
        n_tok = float(sum(cf.values()))
        vocab = float(len(cf))
        big: dict[tuple[str, str], int] = {}
        for ts in self._toks:
            for a, b in zip(ts, ts[1:]):
                big[(a, b)] = big.get((a, b), 0) + 1

        slots = []
        for t in terms:
            cands = sorted(
                (
                    (lev(v, t), -len(self.postings[v][0]), v)
                    for v in self.postings
                    if lev(v, t) <= max_edits
                ),
            )[:candidates_per_term]
            cs = [(v, d) for d, _, v in cands]
            if not any(v == t for v, _ in cs):
                cs = [(t, 0), *cs][:candidates_per_term]
            slots.append(cs)

        def err(d: int) -> float:
            return math.log10(0.95) if d == 0 else d * math.log10(0.1)

        scored = []
        for combo in product(*slots):
            s = 0.0
            s += math.log10((cf.get(combo[0][0], 0) + alpha)
                            / (n_tok + alpha * vocab))
            s += err(combo[0][1])
            for i in range(1, len(combo)):
                c = big.get((combo[i - 1][0], combo[i][0]), 0)
                pcf = cf.get(combo[i - 1][0], 0)
                s += math.log10((c + alpha) / (pcf + alpha * vocab))
                s += err(combo[i][1])
            scored.append((" ".join(v for v, _ in combo), s,
                           sum(1 for _, d in combo if d > 0)))
        scored.sort(key=lambda x: (-x[1], x[0]))
        top = scored[:size]
        return pd.DataFrame(
            {
                "rank": np.arange(1, len(top) + 1, dtype=np.int32),
                "suggestion": [p for p, _, _ in top],
                "score": np.asarray([s for _, s, _ in top], dtype=np.float64),
                "n_changed": np.asarray([n for _, _, n in top], dtype=np.int64),
            }
        )

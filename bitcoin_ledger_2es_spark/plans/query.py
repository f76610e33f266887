"""Query plan: BM25 top-k over the inverted index (SURVEY.md §3.4).

Two-phase, exactly like ES query-then-fetch:

  1. **query phase** — analyze the query driver-side with the indexing
     analyzer; look the terms up in the dictionary (predicate pushdown into
     the sorted dictionary parquet — a tiny collect); scan ONLY the
     postings of those term_ids (filter pushdown + row-group pruning; the
     blocks inline doc lengths, so nothing else is read); per shard, run
     the scorer (BMW skipping when one long list dominates, the dense
     vectorized kernel otherwise — both exact); each shard emits at most
     k candidates.
  2. **fetch phase** — merge the <= k*n_shards candidates globally
     (score_f32 desc, doc_id asc — rank-stable ties), keep k, broadcast-join
     docmap for (conv_id, turn_idx, is_rollup).

No wide shuffle at query time: one narrow pruned scan + a tiny merge.
Non-scoring filters (ES bool.filter / range context) cogroup the shard's
docmap slice in as an allowed-mask — only filtered queries pay that cost.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import EngineConfig
from ..functions.analyze import analyze_query
from ..functions.bm25 import idf as idf_fn
from ..functions.codec import decode_doc_gaps, decode_positions, decode_tfs
from ..operators.wand import (
    _TermList,
    _decode_term_blocks,
    decode_term_contrib,
    score_shard_bmw,
    score_shard_clauses,
    score_shard_exact,
    use_bmw,
)
from .build import IndexFrames
from .shard_scan import aligned_layout_ok, allowed_mask, map_shards, presence_mask

_CAND_DDL = "doc_id long, score float"
_RESULT_DDL = "rank int, doc_id long, score float, conv_id string, turn_idx int, is_rollup boolean"
_EMPTY_CAND = pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64), "score": pd.Series([], dtype=np.float32)})


def _shard_kernel(term_meta, k, mode, avgdl, k1, b, dps, after=None):
    """Kernel over one shard's (term-pruned) postings; pandas in, pandas
    out, in the ``map_shards`` signature. With a docmap slice (the
    filtered lowering) its ``_allowed`` column masks docs before the
    shard-local cap."""
    tm = sorted(term_meta, key=lambda m: m[0])  # [(term_id, idf, weight)]
    n_query_terms = len(tm)

    def fn(shard_id: int, left: pd.DataFrame, right: pd.DataFrame | None) -> pd.DataFrame:
        if left.empty:
            return _EMPTY_CAND
        present = set(left["term_id"].unique().tolist())
        if mode == "and" and len(present) < n_query_terms:
            return _EMPTY_CAND
        if right is not None and right.empty:
            return _EMPTY_CAND
        base = shard_id * dps
        allowed = allowed_mask(right, shard_id, dps)

        # scorer selection (both exact, rank-identical — tests pin it):
        # BMW only where its block skipping pays (wand.use_bmw), the
        # dense kernel everywhere else
        if mode == "or" and allowed is None:
            per_term_n = left.groupby("term_id")["n_docs"].sum()
            if use_bmw(per_term_n.tolist(), k):
                lists = [
                    _TermList(tid, t_idf, w, left[left["term_id"] == tid])
                    for tid, t_idf, w in tm
                    if tid in present
                ]
                return score_shard_bmw(lists, k, avgdl, k1, b, after=after)

        blocks = [
            (tid, t_idf, w, left[left["term_id"] == tid])
            for tid, t_idf, w in tm
            if tid in present
        ]
        # ordered=False: every consumer of this kernel applies its own
        # deterministic selection (global TakeOrdered, rank window, or an
        # order-free / sorted-fold aggregation), so the shard-local output
        # sort is wasted work whenever the per-shard cap doesn't bite
        # (notably the all-match surfaces, where k = docs_per_shard)
        return score_shard_exact(blocks, base, dps, allowed, k, mode, avgdl, k1, b,
                                 after=after, ordered=False)

    return fn


def _fold_tagged_scores(subs: "list[DataFrame]") -> DataFrame:
    """Shared combine for dis_max / multi_match: union the q-tagged
    (doc_id, score, q) sub-frames and aggregate per doc into _mx (max,
    order-free) and _sum (f64 fold in ascending q order via a
    sorted-array aggregate — a plain SUM would accumulate in
    partition-arrival order and break byte-stability)."""
    allc = subs[0]
    for c in subs[1:]:
        allc = allc.unionByName(c)
    folded_sum = F.aggregate(
        F.array_sort(F.collect_list(F.struct("q", "score"))),
        F.lit(0.0),
        lambda acc, x: acc + x["score"].cast("double"),
    )
    return allc.groupBy("doc_id").agg(
        F.max(F.col("score").cast("double")).alias("_mx"),
        folded_sum.alias("_sum"),
    )


class BM25Searcher:
    def __init__(
        self, ix: IndexFrames, default_doc_filter: Column | None = None,
    ):
        """``default_doc_filter``: a non-scoring docmap predicate applied
        to EVERY query through this searcher (the ES filtered-alias
        shape; plans/snapshot.py:open_alias builds searchers with it).
        It composes through the same two choke points as delete_by_query
        tombstones: the allowed-mask for the scored kernels and the
        full-match-set exclusion for the compound surfaces; the
        shard-capped phrase/span family raises rather than silently
        ignoring it (same honesty contract as pending deletes).

        Every surface scores shards through ONE dispatch
        (``shard_scan.map_shards``) whose lowering follows the index
        layout, not an option: an on-disk write_index layout whose
        postings files all fit one input split (``aligned_layout_ok``)
        scores inside the pruned postings scan (zero exchanges); any
        other index — in-memory, or with files above
        spark.sql.files.maxPartitionBytes — groups the postings by shard
        (one exchange); a filter cogroups the docmap. Results are
        identical across the lowerings (tests pin this). ``aligned``
        reports the choice, made once here."""
        self.ix = ix
        self._aligned = aligned_layout_ok(ix)
        self._spark = ix.docmap.sparkSession
        # driver-side term lookup memo (term -> (term_id, df) or None):
        # the dictionary is immutable for an index, so repeated queries
        # skip the lookup job entirely once their terms are warm
        self._term_cache: dict[str, tuple[int, int] | None] = {}
        # lazily-built corpus bigram LM (phrase_suggest); persisted frames
        self._bigram = None
        # pending delete_by_query tombstones (doc_id frame, persisted) —
        # honored by every allowed-mask path and the full-match-set
        # surfaces; physically removed by expunge()
        self._deletes: DataFrame | None = None
        self._n_deleted = 0
        self._default_filter = default_doc_filter

    @property
    def aligned(self) -> bool:
        """True when shards are scored inside the postings scan (the
        zero-exchange lowering) — derived from the layout, read-only."""
        return self._aligned

    def _docmap_allowed(
        self, doc_filter: Column | None, cols=("shard_id", "doc_id"),
    ) -> DataFrame:
        """docmap ``cols`` plus the ``_allowed`` mask column: the user's
        ``doc_filter`` AND the alias filter AND not-tombstoned (pending
        ``delete_by_query`` docs); all-true when none applies. The kernels
        treat docmap rows absent from the mask as excluded, so the left
        join below (which keeps every live row) composes correctly."""
        dm = self.ix.docmap
        allowed = doc_filter if doc_filter is not None else F.lit(True)
        if self._default_filter is not None:
            allowed = allowed & self._default_filter
        if self._deletes is not None:
            dm = dm.join(
                self._deletes.withColumn("_tomb", F.lit(True)), "doc_id", "left"
            )
            allowed = allowed & F.col("_tomb").isNull()
        return dm.withColumn("_allowed", allowed).select(*cols, "_allowed")

    def _filter_docmap(self, doc_filter: Column | None) -> DataFrame | None:
        """The allowed-mask docmap for the scored surfaces, or None when
        nothing filters (they keep the unfiltered lowering)."""
        if doc_filter is None and self._deletes is None and self._default_filter is None:
            return None
        return self._docmap_allowed(doc_filter)

    def _apply_deletes(self, cands: DataFrame) -> DataFrame:
        """Anti-join pending tombstones out of a FULL-match-set candidate
        frame (the compound-query surfaces). Correct there because those
        frames carry every match (kernel cap = docs_per_shard), so the
        exclusion happens before any selection edge. The alias-level
        ``default_doc_filter`` applies here too, as a semi join against
        the filtered docmap — exact for the same full-set reason."""
        if self._default_filter is not None:
            cands = cands.join(
                self.ix.docmap.filter(self._default_filter).select("doc_id"),
                "doc_id", "left_semi",
            )
        if self._deletes is None:
            return cands
        return cands.join(self._deletes, "doc_id", "left_anti")

    def _no_pending_deletes(self, surface: str) -> None:
        """Surfaces whose kernels apply a shard-local top-k cap WITHOUT an
        allowed-mask hook (the plain phrase/span family) cannot exclude
        tombstones before the cap — serving them with pending deletes
        would silently return deleted docs or under-fill. ES hides this
        behind the live-docs bitset; here the honest contract is: expunge
        first (or use query_string, whose generalized kernel masks
        phrases too)."""
        if self._default_filter is not None:
            raise ValueError(
                f"{surface} does not honor a filtered alias "
                "(default_doc_filter): its kernel applies a shard-local "
                "cap with no allowed-mask hook — query via query_string, "
                "whose generalized kernel masks phrases too"
            )
        if self._deletes is not None:
            raise ValueError(
                f"{surface} does not serve with pending delete_by_query "
                "tombstones: call expunge() to fold the deletes into the "
                "index (or phrase via query_string, which applies the "
                "exclusion mask inside its kernel)"
            )

    def delete_by_query(
        self,
        filter_text: str = "",
        mode: str = "and",
        must_not: str = "",
        doc_filter: Column | None = None,
    ) -> int:
        """ES ``_delete_by_query``: mark every doc matching the filter-
        context query deleted. Returns the number of NEWLY deleted docs
        (the ES response's ``deleted``). Semantics mirrored from ES:

          * tombstoned docs disappear from every match/bool/filter/
            aggregation surface immediately, but **corpus statistics
            (df, idf, avgdl) keep counting them until expunge()** — the
            Lucene deleted-docs model, so surviving docs' scores are
            unchanged during the tombstone era (tests pin this);
          * deleting a TURN also tombstones its conversation's ROLLUP doc
            (the rollup's indexed text contains the deleted turn's
            content — leaving it serving would leak what was deleted);
          * repeated calls accumulate; ``expunge()`` rewrites the index
            without the tombstoned docs and resets the pending set.
        The match set comes from ``match_docs`` (non-scoring pruned scan +
        docmap cogroup) — no scoring work, no global sort."""
        hits = self.match_docs(filter_text, mode, must_not, doc_filter)
        convs = hits.filter(~F.col("is_rollup")).select("conv_id").distinct()
        rolls = (
            self.ix.docmap.filter(F.col("is_rollup"))
            .join(convs, "conv_id")
            .select("doc_id")
        )
        tombs = hits.select("doc_id").unionByName(rolls).distinct()
        if self._deletes is not None:
            tombs = tombs.unionByName(self._deletes.select("doc_id")).distinct()
        tombs = tombs.persist()
        n = tombs.count()
        newly = n - self._n_deleted
        old = self._deletes
        self._deletes, self._n_deleted = tombs, n
        if old is not None:
            old.unpersist()
        return newly

    def discard_deletes(self) -> None:
        """Unpersist and DISCARD the pending tombstone set — the searcher
        serves the full index again (the cancel path, and the
        release_cached cache-discipline hook for a searcher whose
        tombstone era ended because serving moved to the expunge()d
        index). Contrast expunge(), which makes the deletes permanent."""
        if self._deletes is not None:
            self._deletes.unpersist()
        self._deletes, self._n_deleted = None, 0

    def expunge(self) -> "BM25Searcher":
        """ES ``_forcemerge?only_expunge_deletes``: physically rewrite the
        index without the pending tombstones (streaming/compaction.py
        ``expunge_deletes`` — doc_ids and surviving term_ids preserved,
        statistics recomputed over live docs). Returns a NEW searcher
        over the clean index; this searcher keeps serving the tombstone
        era unchanged."""
        if self._deletes is None:
            return self
        from ..streaming.compaction import expunge_deletes

        clean = expunge_deletes(self._spark, self.ix, self._deletes)
        return BM25Searcher(clean)

    def _lookup_terms(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        missing = [t for t in terms if t not in self._term_cache]
        if missing:
            rows = (
                self.ix.dictionary.filter(F.col("term").isin(missing))
                .select("term", "term_id", "df")
                .collect()
            )
            found = {r["term"]: (int(r["term_id"]), int(r["df"])) for r in rows}
            for t in missing:
                self._term_cache[t] = found.get(t)
        return {t: v for t in terms if (v := self._term_cache[t]) is not None}

    def _empty(self) -> DataFrame:
        return self._spark.createDataFrame([], _RESULT_DDL)

    def top_k(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "or",
        doc_filter: Column | None = None,
        with_meta: bool = True,
        search_after: tuple[float, int] | None = None,
        min_score: float | None = None,
    ) -> DataFrame:
        """Exact BM25 top-k. ``doc_filter``: optional non-scoring predicate
        over docmap columns (ES bool.filter / range-query context) — e.g.
        ``F.col("is_rollup") == False`` or a doc_id/conv_id range.

        ``min_score``: the ES search-body ``min_score`` — hits scoring
        strictly below it are excluded BEFORE selection. Compared in the
        engine's emitted f32 space (the threshold is f32-quantized like
        search_after's cursor score), so the cut is reproducible.

        ``search_after``: ES deep-pagination cursor — the (score, doc_id)
        of the LAST hit of the previous page (score compared as f32, the
        engine's emitted type). Returns the next k hits strictly after it
        in (score desc, doc_id asc) order; stateless and O(k) per page at
        any depth, unlike from/size pagination which materializes every
        earlier page. Paging is stable because the sort key is a unique
        total order (the ES search_after contract)."""
        terms = analyze_query(query_text, self.ix.cfg)
        if not terms:
            return self._empty()
        weights = Counter(terms)
        found = self._lookup_terms(list(weights))
        if mode == "and" and len(found) < len(weights):
            return self._empty()  # a required term matches nothing
        return self._scored_top_k(found, weights, k, mode, doc_filter, with_meta,
                                  search_after, min_score=min_score)

    def _scored_top_k(
        self,
        found: dict[str, tuple[int, int]],
        weights: Counter,
        k: int,
        mode: str,
        doc_filter: Column | None,
        with_meta: bool,
        search_after: tuple[float, int] | None = None,
        min_score: float | None = None,
    ) -> DataFrame:
        """Shared scoring core: ``found`` maps term -> (term_id, df),
        ``weights`` gives per-term clause weights (occurrence counts for
        match queries, 1 for multi-term expansions). ``min_score``
        filters candidates in f32 space before the selection edge (a
        pure filter — the shard kernels' per-shard caps are unaffected
        because a filter only removes rows)."""
        ix, cfg = self.ix, self.ix.cfg
        if not found:
            return self._empty()
        term_meta = [
            (tid, float(idf_fn(float(df_), ix.n_docs)), float(weights[t]))
            for t, (tid, df_) in found.items()
        ]
        term_ids = [m[0] for m in term_meta]

        after = None
        if search_after is not None:
            after = (float(np.float32(search_after[0])), int(search_after[1]))
        kernel = _shard_kernel(
            term_meta, k, mode, ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard,
            after=after,
        )
        cands = map_shards(
            ix.postings.filter(F.col("term_id").isin(term_ids)), kernel,
            _CAND_DDL, self._aligned, self._filter_docmap(doc_filter),
        )
        if min_score is not None:
            cands = cands.filter(
                F.col("score") >= float(np.float32(min_score)))
        return self._ranked(cands, k, with_meta)

    def bool_query(
        self,
        must: str = "",
        should: str = "",
        must_not: str = "",
        k: int = 10,
        minimum_should_match: int | None = None,
        doc_filter: Column | None = None,
        with_meta: bool = True,
        search_after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Full ES bool query (B4): ``must`` clauses all required (scoring),
        ``should`` clauses scoring with at least ``minimum_should_match``
        matching, ``must_not`` excluding docs CONTAINING those terms
        (non-scoring, postings-derived — unlike ``doc_filter`` which
        filters on docmap columns), ``doc_filter`` the ES filter context.

        ``minimum_should_match`` defaults to ES semantics: 1 when there are
        should clauses and no must clauses, else 0. Clause texts run
        through the analyzer; per-term clause weights are occurrence
        counts, as in ``top_k``. One pruned scan over the union of all
        three clause sets; must_not postings become a forbidden mask in
        the same shard kernel — no extra job or join."""
        ix, cfg = self.ix, self.ix.cfg
        must_terms = analyze_query(must, cfg)
        should_terms = analyze_query(should, cfg)
        not_terms = analyze_query(must_not, cfg)
        if not must_terms and not should_terms:
            if not_terms:
                # ES serves {"bool": {"must_not": ...}} as match_all minus
                # the exclusions, and because the clause is pure filter
                # context every hit scores 0.0 ("Because scoring is
                # ignored, a score of 0 is returned for all documents" —
                # ES bool reference; match_all ALONE still scores 1.0).
                # Docmap-backed constant-score path, boost 0.0; ranking is
                # doc_id asc, the stable order under a constant score.
                return self.match_all(
                    must_not=must_not, k=k, boost=0.0, doc_filter=doc_filter,
                    with_meta=with_meta, search_after=search_after,
                )
            return self._empty()
        w_must, w_should = Counter(must_terms), Counter(should_terms)
        uniq_not = sorted(set(not_terms))
        found = self._lookup_terms(
            sorted({*w_must, *w_should, *uniq_not})
        )
        if len([t for t in w_must if t in found]) < len(w_must):
            return self._empty()  # an OOV must term matches nothing
        min_m = minimum_should_match
        if min_m is None:
            min_m = 1 if (should_terms and not must_terms) else 0
        should_found = [t for t in w_should if t in found]
        if min_m > len(should_found):
            return self._empty()  # cannot reach the should threshold

        def metas(weights, names):
            return [
                (found[t][0], float(idf_fn(float(found[t][1]), ix.n_docs)), float(weights[t]))
                for t in names
            ]

        must_meta = metas(w_must, [t for t in w_must if t in found])
        should_meta = metas(w_should, should_found)
        not_tids = sorted(found[t][0] for t in uniq_not if t in found)
        if not must_meta and not should_meta:
            return self._empty()  # no in-vocab scoring clause at all

        # one scoring entry per term, weight summed over its clauses (a
        # term in must AND should scores once per clause, as in ES bool);
        # every clause is a single-term group
        summed: dict[int, tuple[float, float]] = {}
        for tid, t_idf, w in must_meta + should_meta:
            summed[tid] = (t_idf, summed.get(tid, (t_idf, 0.0))[1] + w)
        term_meta = [(tid, *summed[tid]) for tid in sorted(summed)]
        mg = [[m[0]] for m in must_meta]
        sg = [[m[0]] for m in should_meta]
        must_tids = sorted(m[0] for m in must_meta)
        scan_tids = sorted(set(summed) | set(not_tids))
        avgdl, k1, b, dps = ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard
        after = None
        if search_after is not None:
            after = (float(np.float32(search_after[0])), int(search_after[1]))

        def kernel(shard_id: int, left: pd.DataFrame, right: pd.DataFrame | None) -> pd.DataFrame:
            if left.empty or (right is not None and right.empty):
                return _EMPTY_CAND
            by_tid = {tid: g for tid, g in left.groupby("term_id")}
            if any(tid not in by_tid for tid in must_tids):
                return _EMPTY_CAND  # this shard lacks a required term
            tm = [(tid, t_idf, w, by_tid[tid])
                  for tid, t_idf, w in term_meta if tid in by_tid]
            return score_shard_clauses(
                tm, mg, sg, min_m, [by_tid[t] for t in not_tids if t in by_tid], [],
                shard_id * dps, dps, allowed_mask(right, shard_id, dps), k, avgdl, k1, b,
                after=after,
            )

        cands = map_shards(
            ix.postings.filter(F.col("term_id").isin(scan_tids)), kernel,
            _CAND_DDL, self._aligned, self._filter_docmap(doc_filter),
        )
        return self._ranked(cands, k, with_meta)

    def match_all(
        self,
        must_not: str = "",
        k: int = 10,
        boost: float = 1.0,
        doc_filter: Column | None = None,
        with_meta: bool = True,
        search_after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """Lucene MatchAllDocsQuery (+ optional must_not exclusions): every
        live doc scores ``boost`` (constant; f32-emitted like BM25 scores),
        ranked (score desc, doc_id asc) — with a constant score that is
        doc_id ascending, the stable ES ordering. ``must_not`` terms are
        analyzed and excluded via their postings; ``doc_filter`` is the
        usual docmap-column filter context. This is what serves
        ``bool_query(must_not=...)`` with no scoring clause."""
        not_terms = analyze_query(must_not, self.ix.cfg)
        return self._constant_score_core(
            [], sorted(set(not_terms)), "and", k, boost, doc_filter,
            with_meta, search_after,
        )

    def constant_score(
        self,
        filter_text: str,
        mode: str = "and",
        must_not: str = "",
        k: int = 10,
        boost: float = 1.0,
        doc_filter: Column | None = None,
        with_meta: bool = True,
        search_after: tuple[float, int] | None = None,
    ) -> DataFrame:
        """ES constant_score query: docs matching the filter clause (terms
        of ``filter_text``, ALL required for ``mode='and'``, ANY for
        ``'or'`` — the ES term/terms filter shapes) score exactly
        ``boost``; no BM25 statistics are computed (filter context skips
        scoring, Lucene ConstantScoreQuery)."""
        terms = analyze_query(filter_text, self.ix.cfg)
        not_terms = analyze_query(must_not, self.ix.cfg)
        return self._constant_score_core(
            sorted(set(terms)), sorted(set(not_terms)), mode, k, boost,
            doc_filter, with_meta, search_after,
        )

    def _constant_score_core(
        self,
        req_terms: list[str],
        not_terms: list[str],
        mode: str,
        k: int,
        boost: float,
        doc_filter: Column | None,
        with_meta: bool,
        search_after: tuple[float, int] | None,
    ) -> DataFrame:
        """Constant-score kernel: the live-doc set comes from the shard's
        DOCMAP slice (so unfilled shard slots can never ghost), required /
        excluded term postings become presence masks, and each shard emits
        its first k allowed doc_ids — with a constant score, doc_id asc IS
        the rank order, so the global merge sees <= k rows per shard.
        Plan shape: one pruned postings scan cogrouped with the docmap by
        shard_id (the same exchange the filtered bool path pays); no
        doc_id-keyed shuffle, no full-corpus sort."""
        ix, cfg = self.ix, self.ix.cfg
        found = self._lookup_terms(sorted(set(req_terms) | set(not_terms)))
        req_tids = sorted(found[t][0] for t in req_terms if t in found)
        if mode == "and" and len(req_tids) < len(req_terms):
            return self._empty()  # a required filter term matches nothing
        if mode == "or" and req_terms and not req_tids:
            return self._empty()
        not_tids = set(found[t][0] for t in not_terms if t in found)
        scan_tids = sorted(set(req_tids) | not_tids)
        dps, b32 = cfg.docs_per_shard, float(np.float32(boost))
        after = None
        if search_after is not None:
            after = (float(np.float32(search_after[0])), int(search_after[1]))

        def kernel(shard_id: int, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if right.empty:
                return _EMPTY_CAND
            if after is not None and np.float32(b32) > np.float32(after[0]):
                return _EMPTY_CAND  # cursor score below the constant score
            base = shard_id * dps
            allowed = allowed_mask(right, shard_id, dps)
            if not presence_mask(allowed, left, req_tids, not_tids, mode, base):
                return _EMPTY_CAND  # shard lacks a required term
            ids = np.flatnonzero(allowed).astype(np.int64) + base
            if after is not None and np.float32(b32) == np.float32(after[0]):
                ids = ids[ids > after[1]]
            ids = ids[:k]  # constant score -> doc_id asc is rank order
            return pd.DataFrame(
                {"doc_id": ids, "score": np.full(ids.size, b32, dtype=np.float32)}
            )

        # the docmap slice is always needed here (it IS the live set);
        # _docmap_allowed folds pending delete_by_query tombstones in
        pruned = ix.postings.filter(
            F.col("term_id").isin(scan_tids) if scan_tids else F.lit(False)
        )
        cands = map_shards(pruned, kernel, _CAND_DDL, self._aligned,
                           self._docmap_allowed(doc_filter))
        return self._ranked(cands, k, with_meta)

    def more_like_this(
        self,
        like_text: str | None = None,
        k: int = 10,
        max_query_terms: int = 10,
        min_term_freq: int = 1,
        min_doc_freq: int = 2,
        max_doc_freq: int | None = None,
        with_meta: bool = True,
        like_doc_id: int | None = None,
    ) -> DataFrame:
        """ES more_like_this: select the most significant terms of the
        input — tf in the input times the index idf, filtered by
        min_term_freq / min_doc_freq / max_doc_freq, top
        ``max_query_terms`` by (tf*idf desc, term asc) — and run them as
        a weight-1-per-term BM25 OR disjunction (ES boost_terms=0
        default). Two ``like`` forms, as in ES:

        * ``like_text`` — free text, analyzed driver-side;
        * ``like_doc_id`` — a document reference (ES ``like: {"_id"}``,
          the common form): the input term frequencies come from the
          INDEX itself via the term_vectors decode (no stored text
          needed — a block-pruned point lookup, the same fetch ES does),
          and the liked document is excluded from the results (ES
          include=false default).

        Term selection is driver-side against the dictionary (one
        lookup), the query runs on the normal pruned-scan path."""
        cfg = self.ix.cfg
        doc_filter = None
        if (like_text is None) == (like_doc_id is None):
            raise ValueError(
                "more_like_this takes exactly one of like_text / like_doc_id"
            )
        if like_doc_id is not None:
            tv = self.term_vectors(int(like_doc_id)).select("term", "tf").collect()
            tf = Counter({r["term"]: int(r["tf"]) for r in tv})
            doc_filter = F.col("doc_id") != int(like_doc_id)
        else:
            tf = Counter(analyze_query(like_text, cfg))
        cand = sorted(t for t, n in tf.items() if n >= min_term_freq)
        found = self._lookup_terms(cand)
        sel: list[tuple[float, str]] = []
        for t, (tid, df_) in found.items():
            if df_ < min_doc_freq or (max_doc_freq and df_ > max_doc_freq):
                continue
            sel.append((-tf[t] * float(idf_fn(float(df_), self.ix.n_docs)), t))
        sel.sort()
        chosen = [t for _, t in sel[:max_query_terms]]
        if not chosen:
            return self._empty()
        return self._scored_top_k(
            {t: found[t] for t in chosen}, Counter(dict.fromkeys(chosen, 1)),
            k, "or", doc_filter, with_meta,
        )

    def terms_lookup(
        self,
        lookup_searcher: "BM25Searcher",
        lookup_doc_id: int,
        max_terms: int = 65536,
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """ES terms query with terms lookup (``{"terms": {field:
        {"index", "id", "path"}}}``): fetch the lookup document's
        analyzed terms from ``lookup_searcher``'s index (its
        ``_termvectors`` decode — a block-pruned point lookup, no stored
        source needed; pass ``self`` for a same-index lookup, the common
        ES case) and filter-context match the docs of THIS index
        containing ANY of them. Non-scoring (constant-score filter
        context, like ES's terms query) — returns the docmap match set,
        exactly ``match_docs``'s shape, so aggs compose on top.

        ES caps the fetched list at ``index.max_terms_count`` (65536
        default) and rejects larger lookups — mirrored here with a
        raise. The lookup fetch is a k-row collect (one document's
        distinct terms); the match itself runs on the normal pruned-scan
        path, nothing quadratic anywhere."""
        tv = (
            lookup_searcher.term_vectors(int(lookup_doc_id))
            .select("term").collect()
        )
        terms = sorted({r["term"] for r in tv})
        if len(terms) > max_terms:
            raise ValueError(
                f"terms_lookup: fetched {len(terms)} terms > max_terms "
                f"{max_terms} (ES index.max_terms_count)"
            )
        if not terms:
            # ES: a terms query with an empty fetched list matches
            # nothing (an empty-text lookup doc has no terms)
            return self._spark.createDataFrame(
                [], "doc_id long, conv_id string, turn_idx int, "
                    "doc_len long, is_rollup boolean"
            )
        # terms are already analyzer output ([a-z0-9_]+ tokens), so the
        # re-analysis inside match_docs is idempotent
        return self.match_docs(
            " ".join(terms), mode="or", doc_filter=doc_filter
        )

    def _all_match_scores(self, query_text: str, mode: str = "or") -> DataFrame | None:
        """Every matching doc scored (no top-k selection edge): the same
        pruned-scan shard kernels with the per-shard cap set to
        docs_per_shard, so each shard emits its full match set as
        (doc_id, score_f32). The compound-query surfaces (dis_max,
        boosting, collapse) compose on this frame and apply their own
        selection AFTER combination — a per-subquery top-k cap would be
        unsound there, because a doc can win the combined ranking without
        being in any single subquery's shard-local top-k. Returns None
        when the query can match nothing."""
        ix, cfg = self.ix, self.ix.cfg
        terms = analyze_query(query_text, cfg)
        if not terms:
            return None
        weights = Counter(terms)
        found = self._lookup_terms(list(weights))
        if (mode == "and" and len(found) < len(weights)) or not found:
            return None
        term_meta = [
            (tid, float(idf_fn(float(df_), ix.n_docs)), float(weights[t]))
            for t, (tid, df_) in found.items()
        ]
        kernel = _shard_kernel(
            term_meta, cfg.docs_per_shard, mode, ix.avgdl, cfg.k1, cfg.b,
            cfg.docs_per_shard,
        )
        pruned = ix.postings.filter(
            F.col("term_id").isin([m[0] for m in term_meta])
        )
        out = map_shards(pruned, kernel, _CAND_DDL, self._aligned)
        # FULL match set (no selection edge) -> post-hoc tombstone
        # exclusion is exact; covers every compound surface built on this
        return self._apply_deletes(out)

    def _all_match_scores_multi(
        self, queries: "list[tuple[str, str]]",
        per_q_k: "list[int] | None" = None,
    ) -> DataFrame | None:
        """Tagged all-match scores for MANY subqueries from ONE pruned
        postings scan: the compound surfaces (dis_max, boosting) used to
        pay one scan + one kernel pass per subquery; here the scan reads
        the UNION of the subqueries' term_ids once and the shard kernel
        scores each subquery over its slice of the already-decoded
        blocks. Each subquery runs the exact same per-shard kernel as
        ``_all_match_scores`` (same scores, bit-for-bit — the combine
        contract is untouched), so results differ only in job count.
        Returns ((doc_id, q, score) frame, viable-q set) — the set names
        subqueries that CAN match (in-vocab), decided driver-side so
        callers gate on it without running a job — or None if no
        subquery can match.

        ``per_q_k``: optional per-subquery SHARD-LOCAL top-k caps
        (``per_q_k[qi]``). Sound ONLY when the caller applies its own
        per-subquery global (score desc, doc_id asc) top-k selection edge
        downstream (the ES|QL FORK branch-head shape): the global top-k
        is a subset of the union of shard-local top-k's, exactly the
        ``top_k`` argument. Callers combining across subqueries WITHOUT a
        per-subquery edge (dis_max/boosting) must leave it None. Capped
        mode requires no pending tombstones / alias filter (the post-hoc
        exclusion below would be unsound after a cap — raises)."""
        ix, cfg = self.ix, self.ix.cfg
        if per_q_k is not None and (
            self._deletes is not None or self._default_filter is not None
        ):
            raise ValueError(
                "_all_match_scores_multi(per_q_k=...) cannot serve with "
                "pending tombstones or a filtered alias: post-cap "
                "exclusion would under-fill"
            )
        per_q: list[tuple[int, np.ndarray, object]] = []
        all_tids: set[int] = set()
        for qi, (text, mode) in enumerate(queries):
            terms = analyze_query(text, cfg)
            if not terms:
                continue
            weights = Counter(terms)
            found = self._lookup_terms(list(weights))
            if (mode == "and" and len(found) < len(weights)) or not found:
                continue
            term_meta = [
                (tid, float(idf_fn(float(df_), ix.n_docs)), float(weights[t]))
                for t, (tid, df_) in found.items()
            ]
            fn = _shard_kernel(
                term_meta,
                cfg.docs_per_shard if per_q_k is None else int(per_q_k[qi]),
                mode, ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard,
            )
            tids = {m[0] for m in term_meta}
            per_q.append((qi, np.array(sorted(tids), dtype=np.int64), fn))
            all_tids.update(tids)
        if not per_q:
            return None

        _empty_multi = pd.DataFrame({
            "doc_id": pd.Series([], dtype=np.int64),
            "q": pd.Series([], dtype=np.int32),
            "score": pd.Series([], dtype=np.float32),
        })

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            outs = []
            for qi, tids, fn in per_q:
                sub = pdf[pdf["term_id"].isin(tids)]
                out = fn(shard_id, sub.reset_index(drop=True), None)
                if len(out):
                    out = out.copy()
                    out["q"] = np.int32(qi)
                    outs.append(out[["doc_id", "q", "score"]])
            return pd.concat(outs) if outs else _empty_multi

        pruned = ix.postings.filter(F.col("term_id").isin(sorted(all_tids)))
        out = map_shards(pruned, kernel, "doc_id long, q int, score float", self._aligned)
        return self._apply_deletes(out), {qi for qi, _, _ in per_q}

    def _match_set(self, term_ids: list[int]) -> DataFrame | None:
        """Non-scoring match SET of a term_id union (filter context): the
        same pruned postings scan as the scorers, but the shard kernel
        only decodes doc_ids into a presence mask — no tf/idf arithmetic.
        Used by constant-score clauses (match_bool_prefix's prefix slot).
        Returns a (doc_id long) frame, distinct by construction (one
        emission per set bit per shard), or None for an empty term set."""
        if not term_ids:
            return None
        ix = self.ix
        dps = ix.cfg.docs_per_shard

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            base = shard_id * dps
            seen = np.zeros(dps, dtype=bool)
            for _, g in pdf.groupby("term_id"):
                dec = _decode_term_blocks(g, base)
                if dec is not None:
                    seen[dec[0]] = True
            return pd.DataFrame(
                {"doc_id": np.flatnonzero(seen).astype(np.int64) + base}
            )

        pruned = ix.postings.filter(F.col("term_id").isin(list(term_ids)))
        out = map_shards(pruned, kernel, "doc_id long", self._aligned)
        return self._apply_deletes(out)  # full set: post-hoc exclusion exact

    def field_caps(self) -> DataFrame:
        """ES ``_field_caps``: what each addressable field supports. The
        analyzed ``text`` field is searchable (BM25 et al.), not
        aggregatable, and phrase-capable iff the index stores positions;
        docmap metadata columns are filter-context searchable (the
        ``field:value`` / ``doc_filter`` surface) and aggregatable, with
        their Spark types. Driver-side constants — no job runs."""
        from ..functions.querystring import FILTER_FIELDS

        rows = [
            ("text", "text", True, False, bool(self.ix.cfg.store_positions))
        ]
        for f in self.ix.docmap.schema.fields:
            rows.append((
                f.name, f.dataType.simpleString(),
                f.name in FILTER_FIELDS, True, False,
            ))
        return self._spark.createDataFrame(
            rows,
            "field string, type string, searchable boolean, "
            "aggregatable boolean, positions boolean",
        )

    def terms_enum(
        self,
        prefix: str = "",
        size: int = 10,
        case_insensitive: bool = True,
        search_after: str | None = None,
    ) -> DataFrame:
        """ES ``_terms_enum``: up to ``size`` index terms starting with
        ``prefix``, ascending term order, resumable via ``search_after``
        (strictly-greater continuation — the ES pagination shape). The
        prefix becomes a pushed-down predicate on the sorted dictionary
        parquet (range pruning, same path as prefix_query's expansion),
        and the result is <= size rows — O(size) work at any vocabulary
        size. Terms are indexed lowercase (the analyzer), so
        ``case_insensitive=False`` only controls whether the PREFIX is
        lowercased first: a cased prefix then matches nothing, exactly
        like ES against a lowercased keyword field."""
        t = self.ix.dictionary.select("term")
        p = prefix.lower() if case_insensitive else prefix
        if p:
            t = t.filter(F.col("term").startswith(p))
        if search_after is not None:
            t = t.filter(F.col("term") > search_after)
        return t.orderBy("term").limit(int(size))

    def term_freqs(self, terms: list[str]) -> DataFrame:
        """Raw (doc_id, term_id, tf) stream for the given analyzed terms
        from the SAME pruned postings scan as the scorers — the decode
        step of the exact scorer without its arithmetic. Feeds operators
        that need term frequencies under DIFFERENT statistics than this
        index's own (combined_fields blends them across fields). Only
        the requested term_ids' blocks are scanned (predicate pushdown
        to row groups), output is one row per live posting."""
        found = self._lookup_terms(sorted(set(terms)))
        tids = sorted(v[0] for v in found.values())
        if not tids:
            return self._spark.createDataFrame(
                [], "doc_id long, term_id long, tf long"
            )
        ix = self.ix
        dps = ix.cfg.docs_per_shard

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            empty = pd.DataFrame({
                "doc_id": pd.Series([], dtype=np.int64),
                "term_id": pd.Series([], dtype=np.int64),
                "tf": pd.Series([], dtype=np.int64),
            })
            base = shard_id * dps
            outs = []
            for tid, g in pdf.groupby("term_id"):
                dec = _decode_term_blocks(g, base)
                if dec is None:
                    continue
                docs, tfs, _ = dec
                outs.append(pd.DataFrame({
                    "doc_id": docs.astype(np.int64) + base,
                    "term_id": np.full(len(docs), int(tid), dtype=np.int64),
                    "tf": tfs.astype(np.int64),
                }))
            return pd.concat(outs) if outs else empty

        pruned = ix.postings.filter(F.col("term_id").isin(tids))
        out = map_shards(pruned, kernel, "doc_id long, term_id long, tf long", self._aligned)
        return self._apply_deletes(out)

    def match_bool_prefix(
        self,
        query_text: str,
        k: int = 10,
        max_expansions: int = 50,
        with_meta: bool = True,
    ) -> DataFrame:
        """ES ``match_bool_prefix`` (search-as-you-type over unordered
        terms): the analyzed query becomes a pure-should bool — a TERM
        clause per token except the last, plus a PREFIX clause on the
        last token. Unlike match_phrase_prefix, terms may match in any
        position and any order.

        Semantics on this engine (the ES/Lucene model):
          * fixed terms score BM25 and are OR-combined (at least one
            clause must match — pure-should bool, msm=1);
          * the prefix clause is Lucene CONSTANT_SCORE_REWRITE: +1.0 for
            any doc containing ANY dictionary expansion of the stem
            (alphabetical cap at ``max_expansions``, the same
            ``_expanded_alpha`` rewrite as phrase_prefix_query), no
            per-term scoring;
          * score = f32( f64(fixed-OR f32 emission) + 1.0 * prefix_hit )
            — the fixed part keeps the kernel's standard f32 emission
            before the f64 combine, same two-stage contract as the
            compound queries. Oracle twin: PandasOracle.bool_prefix_topk
            (change one, change both).
        Scale shape: one pruned scoring scan for the fixed terms + one
        pruned non-scoring scan for the expansion (mask decode only),
        doc_id-keyed outer join, k-row merge. No dictionary-size work
        beyond the alphabetical LIMIT pushdown."""
        terms = analyze_query(query_text, self.ix.cfg)
        empty = (self._empty() if with_meta else
                 self._spark.createDataFrame([], "rank int, doc_id long, score float"))
        if not terms:
            return empty
        fixed, stem = terms[:-1], terms[-1]
        exp = self._expanded_alpha(F.col("term").startswith(stem), max_expansions)
        pref = self._match_set(sorted(tid for tid, _ in exp.values()))
        fixed_scores = (
            self._all_match_scores(" ".join(fixed), "or") if fixed else None
        )
        if fixed_scores is None and pref is None:
            return empty
        if pref is None:
            combined = fixed_scores
        elif fixed_scores is None:
            combined = pref.select(
                "doc_id", F.lit(1.0).cast("float").alias("score")
            )
        else:
            combined = (
                fixed_scores
                .join(pref.withColumn("_p", F.lit(True)), "doc_id", "full")
                .select(
                    "doc_id",
                    (
                        F.coalesce(F.col("score").cast("double"), F.lit(0.0))
                        + F.when(F.col("_p"), F.lit(1.0)).otherwise(F.lit(0.0))
                    ).cast("float").alias("score"),
                )
            )
        return self._ranked(combined, k, with_meta)

    def _ranked(self, cands: DataFrame, k: int, with_meta: bool) -> DataFrame:
        """Shared selection + fetch tail for EVERY query surface: global
        (score desc, doc_id asc) top-k over a candidate frame, rank
        column, optional docmap fetch. Fetch phase broadcasts the <= k
        winners INTO the docmap scan: winners come from the index, so an
        INNER join loses nothing, and inner+broadcast(top) gives
        BuildRight over k rows — docmap stays scan-only at any corpus
        size (a right-outer join could only build/broadcast the docmap
        side, which is broadcast-OOM at 10^12 docs)."""
        top = cands.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        top = top.withColumn("rank", F.row_number().over(w))
        if not with_meta:
            # the global window already collapsed to ONE sorted partition;
            # sortWithinPartitions keeps the rank order without the range-
            # exchange (whose boundary-sampling pass re-executes the input)
            return top.select("rank", "doc_id", "score").sortWithinPartitions("rank")
        return (
            self.ix.docmap.select("doc_id", "conv_id", "turn_idx", "is_rollup")
            .join(F.broadcast(top), "doc_id", "inner")
            .select("rank", "doc_id", "score", "conv_id", "turn_idx", "is_rollup")
            # k rows: one single-partition exchange + in-partition sort.
            # orderBy here would range-partition, whose boundary sampling
            # re-executes the docmap join (measured: two extra full docmap
            # scan jobs per query)
            .repartition(1)
            .sortWithinPartitions("rank")
        )

    def dis_max(
        self,
        queries: list[str | tuple[str, str]],
        tie_breaker: float = 0.0,
        k: int = 10,
        with_meta: bool = True,
    ) -> DataFrame:
        """ES dis_max query (Lucene DisjunctionMaxQuery): score each
        subquery independently, then per doc take the BEST subquery score
        plus ``tie_breaker`` times the sum of the remaining subquery
        scores. Each entry of ``queries`` is a match-query text or a
        (text, mode) pair.

        Determinism: subquery scores are the engine's f32 emissions; the
        combination folds them in f64 in ascending subquery-index order
        via a sorted-array aggregate (max is order-free, the tie_breaker
        sum is not under a plain SUM), then emits f32 — same contract as
        conversations_topk's score_mode=sum. Scale shape: ONE pruned
        scan for the union of the subqueries' terms (each subquery
        scored over its slice of the decoded blocks —
        ``_all_match_scores_multi``), a doc_id-keyed partial agg, k-row
        merge; no all-pairs, no global sort before the limit."""
        multi = self._all_match_scores_multi([
            q if isinstance(q, tuple) else (q, "or") for q in queries
        ])
        if multi is None:
            return self._empty() if with_meta else self._spark.createDataFrame(
                [], "rank int, doc_id long, score float")
        tb = float(tie_breaker)
        grouped = _fold_tagged_scores([multi[0]])
        per_doc = grouped.select(
            "doc_id",
            (F.col("_mx") + F.lit(tb) * (F.col("_sum") - F.col("_mx")))
            .cast("float").alias("score"),
        )
        return self._ranked(per_doc, k, with_meta)

    def boosting(
        self,
        positive: str,
        negative: str,
        negative_boost: float = 0.5,
        k: int = 10,
        mode: str = "or",
        with_meta: bool = True,
    ) -> DataFrame:
        """ES boosting query: rank by the ``positive`` match query, but
        docs that ALSO match ``negative`` keep only ``negative_boost``
        times their score (demotion, not exclusion — the difference from
        bool.must_not). Both sides come from ONE pruned scan
        (``_all_match_scores_multi``) and fold in ONE doc_id-keyed
        aggregation: each doc has at most one row per side, so the
        positive score is max(score where q=0) — order-free — and the
        demotion mask is the presence of a q=1 row. f64 multiply, f32
        emit — identical scores to the former two-scan shape."""
        multi = self._all_match_scores_multi(
            [(positive, mode), (negative, "or")]
        )
        if multi is None or 0 not in multi[1]:
            return self._empty() if with_meta else self._spark.createDataFrame(
                [], "rank int, doc_id long, score float")
        tagged = multi[0]
        per_doc = (
            tagged.groupBy("doc_id")
            .agg(
                F.max(F.when(F.col("q") == 0, F.col("score"))).alias("_pos"),
                F.max(F.when(F.col("q") == 1, F.lit(True))).alias("_neg"),
            )
            .filter(F.col("_pos").isNotNull())
            .select(
                "doc_id",
                F.when(
                    F.col("_neg"),
                    F.col("_pos").cast("double") * F.lit(float(negative_boost)),
                ).otherwise(F.col("_pos").cast("double"))
                .cast("float").alias("score"),
            )
        )
        return self._ranked(per_doc, k, with_meta)

    def collapse_topk(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """ES field collapsing (``collapse`` on the join field): the hit
        list keeps only the BEST turn per conversation, ranked by that
        representative's score, with the collapsed group size as
        inner_hits count. Differs from has_child/conversations_topk by
        returning the representative HIT (doc_id, turn_idx), not a
        parent-side fold. Rollup docs are excluded (a conv's own
        concatenation must not represent it). Shape: all-match kernel ->
        docmap join -> per-conv struct-min HASH AGGREGATION (a partial
        max-per-group combines map-side BEFORE the conv_id exchange, so
        a conversation holding most of the match set costs each task
        one accumulator, never a single hot sort partition — the skew
        case a row_number window would serialize) -> k-row merge.
        Representative selection order is (score f32 desc, doc_id asc),
        encoded as min of struct(-score, doc_id, turn_idx): float
        negation is a sign flip, bit-exact both ways. Returns
        (rank, conv_id, doc_id, turn_idx, score, inner_hits)."""
        cands = self._all_match_scores(query_text, mode)
        empty_ddl = ("rank int, conv_id string, doc_id long, turn_idx int, "
                     "score float, inner_hits long")
        if cands is None:
            return self._spark.createDataFrame([], empty_ddl)
        hits = (
            self.ix.docmap.select("doc_id", "conv_id", "turn_idx", "is_rollup")
            .join(cands, "doc_id", "inner")
            .filter(~F.col("is_rollup"))
        )
        reps = (
            hits.groupBy("conv_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("score")).alias("_ns"),
                        F.col("doc_id").alias("doc_id"),
                        F.col("turn_idx").alias("turn_idx"),
                    )
                ).alias("_rep"),
                F.count("*").alias("inner_hits"),
            )
            .select(
                "conv_id",
                F.col("_rep.doc_id").alias("doc_id"),
                F.col("_rep.turn_idx").alias("turn_idx"),
                (-F.col("_rep._ns")).alias("score"),
                "inner_hits",
            )
        )
        top = reps.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            top.withColumn("rank", F.row_number().over(w))
            .select("rank", "conv_id", "doc_id", "turn_idx", "score", "inner_hits")
            .orderBy("rank")
        )

    def match_synonyms(
        self,
        query_text: str,
        synonyms: dict[str, list[str]],
        k: int = 10,
        mode: str = "or",
        with_meta: bool = True,
    ) -> DataFrame:
        """ES match query through a query-time synonym filter, with
        Lucene SynonymQuery BLENDED semantics (what ES builds per token
        position when the analyzer emits synonyms) — NOT the weaker
        scoring_boolean rewrite: each query token and its synonyms form
        ONE group scored as a single virtual term with

          * tf  = SUM of the member terms' tfs in the doc (saturation
            applies to the blended tf, so a doc can't stack BM25 credit
            across synonyms), and
          * idf from the MAX member docFreq (Lucene SynonymQuery's
            docFreq blending).

        ``mode='and'`` requires every group (a group matches if ANY
        member does). Determinism: per-shard f64 accumulation in query
        token order, members decoded in ascending term_id order, f32
        emit, (score desc, doc_id asc) ties. Scale shape: one pruned
        scan over the union of member term_ids, shard-local kernel,
        k-row merge — identical to top_k."""
        self._no_pending_deletes("match_synonyms")
        ix, cfg = self.ix, self.ix.cfg
        tokens = analyze_query(query_text, cfg)
        if not tokens:
            return self._empty()
        weights = Counter(tokens)
        member_map: dict[str, list[str]] = {}
        for tok in dict.fromkeys(tokens):
            mem = [tok]
            for s in synonyms.get(tok, []):
                mem.extend(analyze_query(s, cfg))
            member_map[tok] = list(dict.fromkeys(mem))
        found = self._lookup_terms(
            sorted({m for ms in member_map.values() for m in ms})
        )
        groups: list[tuple[float, float, list[int]]] = []
        for tok in dict.fromkeys(tokens):
            hits = [(found[m][0], found[m][1]) for m in member_map[tok] if m in found]
            if not hits:
                if mode == "and":
                    return self._empty()
                continue
            idf = float(idf_fn(float(max(df_ for _, df_ in hits)), ix.n_docs))
            groups.append((float(weights[tok]), idf, sorted(t for t, _ in hits)))
        if not groups:
            return self._empty()
        avgdl, k1, b, dps = ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard
        n_groups, and_mode = len(groups), mode == "and"

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            base = shard_id * dps
            by_tid = {tid: g for tid, g in pdf.groupby("term_id")}
            score = np.zeros(dps, dtype=np.float64)
            seen = np.zeros(dps, dtype=np.int32)
            dlarr = np.zeros(dps, dtype=np.float64)
            for w, gidf, tids in groups:  # query token order (f64 contract)
                tfacc = np.zeros(dps, dtype=np.float64)
                present = False
                for tid in tids:  # ascending term_id
                    g = by_tid.get(tid)
                    if g is None:
                        continue
                    dec = _decode_term_blocks(g, base)
                    if dec is None:
                        continue
                    offs, tfs, dls = dec
                    tfacc[offs] += tfs
                    dlarr[offs] = dls
                    present = True
                if not present:
                    continue
                m = tfacc > 0
                tf = tfacc[m]
                dl = dlarr[m]
                score[m] += (
                    w * gidf * tf * (k1 + 1.0)
                    / (tf + k1 * (1.0 - b + b * dl / avgdl))
                )
                seen[m] += 1
            live = seen == n_groups if and_mode else seen > 0
            offs = np.flatnonzero(live)
            if not offs.size:
                return _EMPTY_CAND
            s32 = score[offs].astype(np.float32)
            if offs.size > k:
                kth = np.partition(-s32, k - 1)[k - 1]
                sup = np.flatnonzero(-s32 <= kth)
                order = sup[np.lexsort((offs[sup], -s32[sup].astype(np.float64)))][:k]
            else:
                order = np.lexsort((offs, -s32.astype(np.float64)))[:k]
            return pd.DataFrame(
                {"doc_id": (offs[order] + base).astype(np.int64),
                 "score": s32[order]}
            )

        scan_tids = sorted({t for _, _, tids in groups for t in tids})
        pruned = ix.postings.filter(F.col("term_id").isin(scan_tids))
        cands = map_shards(pruned, kernel, _CAND_DDL, self._aligned)
        return self._ranked(cands, k, with_meta)

    def match_fuzzy(
        self,
        query_text: str,
        fuzziness: "int | str" = "AUTO",
        k: int = 10,
        mode: str = "or",
        max_expansions: int = 50,
        prefix_length: int = 0,
        with_meta: bool = True,
    ) -> DataFrame:
        """ES ``match`` query with ``fuzziness``: each analyzed token
        expands to dictionary terms within its edit distance
        (``AUTO`` = the ES ladder: 0 edits for length < 3, 1 for 3-5,
        2 above), capped at ``max_expansions`` by (df desc, term asc)
        — the Lucene top-terms cap — optionally requiring a shared
        ``prefix_length``. Each token's expansion set then scores as
        ONE blended group (tf summed across members before saturation,
        idf from the max member docFreq): Lucene's
        ``top_terms_blended_freqs`` rewrite, which is exactly the
        SynonymQuery blending ``match_synonyms`` implements — the
        composition is the implementation (and is pytest-pinned
        equal to an explicit match_synonyms call). The exact token is
        ALWAYS a group member (never displaced by the expansion cap),
        matching ES. Distance metric: classic Levenshtein, the same
        JVM ``levenshtein`` the fuzzy/suggest family uses (Lucene
        defaults to OSA-with-transpositions; the uniform engine-wide
        metric is the documented deviation). Scale shape: one small
        dictionary scan per distinct token for the expansion (driver
        k-rows), then match_synonyms' single pruned postings scan."""
        cfg = self.ix.cfg
        tokens = analyze_query(query_text, cfg)
        if not tokens:
            return self._empty()
        syn: dict[str, list[str]] = {}
        for tok in dict.fromkeys(tokens):
            if fuzziness == "AUTO":
                d = 0 if len(tok) < 3 else (1 if len(tok) <= 5 else 2)
            else:
                d = int(fuzziness)
            if d == 0:
                syn[tok] = []  # exact-only group (match_synonyms adds tok)
                continue
            cond = F.levenshtein(F.col("term"), F.lit(tok)) <= d
            if prefix_length:
                if len(tok) < prefix_length:
                    syn[tok] = []
                    continue
                cond = cond & (
                    F.substring(F.col("term"), 1, prefix_length)
                    == tok[:prefix_length]
                )
            found = self._expanded(cond, max_expansions)
            syn[tok] = [t for t in found if t != tok]
        return self.match_synonyms(
            query_text, syn, k=k, mode=mode, with_meta=with_meta
        )

    def terms_set_query(
        self,
        terms: list[str],
        minimum_should_match: "int | callable" = None,
        k: int = 10,
        with_meta: bool = True,
    ) -> DataFrame:
        """ES terms_set query: documents matching at least M of the given
        exact terms, BM25-scored. M is ``minimum_should_match`` as an int,
        or a callable ``len(terms) -> int`` (the ES
        minimum_should_match_script shape, e.g. ``lambda n: ceil(0.7*n)``);
        defaults to all terms. Per-DOC msm fields
        (minimum_should_match_field) are not supported — the transcript
        data model has no such numeric field; use the callable form.
        Delegates to the bool kernel's should+msm path (one pruned scan)."""
        n = len(terms)
        if minimum_should_match is None:
            msm = n
        elif callable(minimum_should_match):
            msm = int(minimum_should_match(n))
        else:
            msm = int(minimum_should_match)
        return self.bool_query(
            should=" ".join(terms), minimum_should_match=max(1, msm),
            k=k, with_meta=with_meta,
        )

    def count(self, query_text: str = "", mode: str = "and",
              must_not: str = "", doc_filter: Column | None = None) -> int:
        """ES _count API: the number of documents matching a filter-context
        query — the match_docs pruned-scan set, counted with no scoring,
        no sort, no fetch."""
        return self.match_docs(
            query_text, mode=mode, must_not=must_not, doc_filter=doc_filter
        ).count()

    def explain_score(self, query_text: str, doc_id: int, mode: str = "or") -> DataFrame:
        """ES _explain API analogue: the per-term BM25 breakdown for ONE
        (query, doc) pair, computed from the index itself — (term, tf,
        df, idf, doc_len, contrib) rows plus the f64 total and the f32
        score the engine would emit (sum in ascending term_id order, the
        determinism contract). Reads only the doc's shard slice of the
        query terms' postings (term_id IN + shard_id == pushed to the
        scan) — one tiny job, no full-corpus work. With pending
        delete_by_query tombstones, explaining a DELETED doc raises (the
        ES _explain of a deleted doc is found=false); a live doc's
        breakdown still uses tombstone-era statistics — the Lucene
        deleted-docs model this engine pins (df/idf count deleted docs
        until expunge())."""
        ix, cfg = self.ix, self.ix.cfg
        if self._deletes is not None and (
            self._deletes.filter(F.col("doc_id") == int(doc_id)).count() > 0
        ):
            raise ValueError(
                f"explain_score: doc {doc_id} is tombstoned by "
                "delete_by_query (ES _explain: found=false)"
            )
        terms = analyze_query(query_text, cfg)
        weights = Counter(terms)
        found = self._lookup_terms(list(weights))
        out_ddl = ("term string, tf long, df long, idf double, doc_len long, "
                   "weight double, contrib double")
        if not found:
            return self._spark.createDataFrame([], out_ddl)
        shard = int(doc_id) // cfg.docs_per_shard
        tids = {tid: (t, df_) for t, (tid, df_) in found.items()}
        rows = (
            ix.postings.filter(
                F.col("term_id").isin(list(tids))
                & (F.col("shard_id") == shard)
                & (F.col("first_doc_id") <= int(doc_id))
                & (F.col("last_doc_id") >= int(doc_id))
            )
            .collect()
        )
        recs = []
        base = shard * cfg.docs_per_shard
        for r in rows:
            dec = _decode_term_blocks(pd.DataFrame([r.asDict()]), base)
            if dec is None:
                continue
            offs, tfs, dls = dec[0], dec[1], dec[2]
            hit = np.nonzero(offs == (int(doc_id) - base))[0]
            if not hit.size:
                continue
            t, df_ = tids[r["term_id"]]
            tf = float(tfs[hit[0]])
            dl = float(dls[hit[0]])
            t_idf = float(idf_fn(float(df_), ix.n_docs))
            w = float(weights[t])
            contrib = (
                w * t_idf * tf * (cfg.k1 + 1.0)
                / (tf + cfg.k1 * (1.0 - cfg.b + cfg.b * dl / ix.avgdl))
            )
            recs.append((int(r["term_id"]), t, int(tf), int(df_), t_idf,
                         int(dl), w, contrib))
        if mode == "and" and len({x[1] for x in recs}) < len(weights):
            recs = []  # a required term is absent from this doc
        recs.sort()  # ascending term_id = the accumulation order
        return self._spark.createDataFrame(
            [r[1:] for r in recs], out_ddl
        )

    def term_vectors(self, doc_id: int) -> DataFrame:
        """ES ``_termvectors`` API from the INDEX itself (no stored
        source): every term of one document with its in-doc frequency,
        0-based token positions (when the index stores positions), and
        term statistics — ``df`` (doc_freq) and ``ttf`` (total term
        frequency across the corpus, ES total_term_freq) from the
        dictionary. Matches ES's term_statistics=true response shape.

        Plan shape: the doc lives in exactly one shard, and within it in
        at most one block per term — so the scan predicate
        ``shard_id == doc's shard AND first_doc_id <= doc <=
        last_doc_id`` prunes to O(terms-in-shard) blocks BEFORE any
        decode (both columns are parquet min/max-pruned). The kernel
        varint-decodes only the surviving blocks and emits one row per
        term containing the doc; the k-row result joins the dictionary
        (broadcast of the k rows). With pending delete_by_query
        tombstones, a deleted doc raises (ES: found=false); live docs
        report tombstone-era statistics — the deleted-docs model.

        Returns (term, tf, positions, df, ttf) ordered term asc.
        """
        ix, cfg = self.ix, self.ix.cfg
        doc = int(doc_id)
        if self._deletes is not None and (
            self._deletes.filter(F.col("doc_id") == doc).count() > 0
        ):
            raise ValueError(
                f"term_vectors: doc {doc} is tombstoned by delete_by_query "
                "(ES _termvectors: found=false)"
            )
        sid = doc // cfg.docs_per_shard
        has_pos = cfg.store_positions

        def kernel(it):
            for pdf in it:
                terms, tfs_out, poss_out = [], [], []
                for r in pdf.itertuples(index=False):
                    ids = decode_doc_gaps(
                        r.doc_id_deltas, int(r.first_doc_id), int(r.n_docs)
                    )
                    i = int(np.searchsorted(ids, doc))
                    if i >= ids.size or ids[i] != doc:
                        continue
                    tfs = decode_tfs(r.tfs)
                    tf = int(tfs[i])
                    if has_pos:
                        allpos = decode_positions(r.poss, tfs)
                        start = int(tfs[:i].sum())
                        pos = allpos[start : start + tf].astype(np.int32)
                    else:
                        pos = np.array([], dtype=np.int32)
                    terms.append(int(r.term_id))
                    tfs_out.append(tf)
                    poss_out.append(pos.tolist())
                yield pd.DataFrame(
                    {"term_id": pd.Series(terms, dtype=np.int64),
                     "tf": pd.Series(tfs_out, dtype=np.int64),
                     "positions": pd.Series(poss_out, dtype=object)}
                )

        hits = ix.postings.filter(
            (F.col("shard_id") == sid)
            & (F.col("first_doc_id") <= doc)
            & (F.col("last_doc_id") >= doc)
        ).mapInPandas(kernel, schema="term_id long, tf long, positions array<int>")
        return (
            ix.dictionary.select("term", "term_id", "df", F.col("cf").alias("ttf"))
            .join(F.broadcast(hits), "term_id")
            .select("term", "tf", "positions", "df", "ttf")
            .orderBy("term")
        )

    def mtermvectors(self, doc_ids: list[int]) -> DataFrame:
        """ES ``_mtermvectors``: term vectors for MANY documents in ONE
        job — not a term_vectors() loop (which would run one Spark job
        and one postings scan per doc).

        Plan shape: the target ids are grouped by shard driver-side and
        the scan predicate is the OR of per-shard ``shard_id == sid AND
        first_doc_id <= max(ids) AND last_doc_id >= min(ids)`` interval
        tests — all three columns parquet min/max-pruned, so only block
        ranges overlapping some target survive the scan. Inside the
        kernel each block's [first_doc_id, last_doc_id] is searchsorted
        against the sorted target ids; blocks containing no target skip
        the varint decode entirely. One k-row broadcast join against the
        dictionary serves every doc's term statistics.

        Tombstoned ids (pending delete_by_query) are omitted from the
        result — the ES per-doc ``found: false`` shape. Returns
        (doc_id, term, tf, positions, df, ttf) ordered (doc_id, term).
        """
        ix, cfg = self.ix, self.ix.cfg
        ids = sorted({int(d) for d in doc_ids})
        if not ids:
            raise ValueError("mtermvectors needs at least one doc id")
        if self._deletes is not None:
            gone = {
                r["doc_id"]
                for r in self._deletes.filter(
                    F.col("doc_id").isin(ids)
                ).collect()
            }
            ids = [d for d in ids if d not in gone]
            if not ids:
                return self._spark.createDataFrame(
                    [],
                    "doc_id long, term string, tf long, "
                    "positions array<int>, df long, ttf long",
                )
        dps = cfg.docs_per_shard
        by_shard: dict[int, list[int]] = {}
        for d in ids:
            by_shard.setdefault(d // dps, []).append(d)
        cond = None
        for sid, sids in by_shard.items():
            c = (
                (F.col("shard_id") == sid)
                & (F.col("first_doc_id") <= max(sids))
                & (F.col("last_doc_id") >= min(sids))
            )
            cond = c if cond is None else (cond | c)
        targets = np.asarray(ids, dtype=np.int64)
        has_pos = cfg.store_positions

        def kernel(it):
            for pdf in it:
                out_doc, out_term, out_tf, out_pos = [], [], [], []
                for r in pdf.itertuples(index=False):
                    lo = int(
                        np.searchsorted(targets, int(r.first_doc_id), side="left")
                    )
                    hi = int(
                        np.searchsorted(targets, int(r.last_doc_id), side="right")
                    )
                    if lo == hi:
                        continue  # no target in this block: skip decode
                    blk = targets[lo:hi]
                    dids = decode_doc_gaps(
                        r.doc_id_deltas, int(r.first_doc_id), int(r.n_docs)
                    )
                    j = np.searchsorted(dids, blk)
                    ok = (j < dids.size) & (dids[np.minimum(j, dids.size - 1)] == blk)
                    if not ok.any():
                        continue
                    tfs = decode_tfs(r.tfs)
                    allpos = decode_positions(r.poss, tfs) if has_pos else None
                    offs = np.concatenate(([0], np.cumsum(tfs)))
                    for d, i in zip(blk[ok], j[ok]):
                        tf = int(tfs[i])
                        if has_pos:
                            pos = allpos[offs[i] : offs[i] + tf].astype(np.int32)
                            out_pos.append(pos.tolist())
                        else:
                            out_pos.append([])
                        out_doc.append(int(d))
                        out_term.append(int(r.term_id))
                        out_tf.append(tf)
                yield pd.DataFrame(
                    {"doc_id": pd.Series(out_doc, dtype=np.int64),
                     "term_id": pd.Series(out_term, dtype=np.int64),
                     "tf": pd.Series(out_tf, dtype=np.int64),
                     "positions": pd.Series(out_pos, dtype=object)}
                )

        hits = ix.postings.filter(cond).mapInPandas(
            kernel, schema="doc_id long, term_id long, tf long, positions array<int>"
        )
        return (
            ix.dictionary.select("term", "term_id", "df", F.col("cf").alias("ttf"))
            .join(F.broadcast(hits), "term_id")
            .select("doc_id", "term", "tf", "positions", "df", "ttf")
            .orderBy("doc_id", "term")
        )

    def scroll(
        self,
        query_text: str,
        page_size: int = 10,
        mode: str = "or",
        max_pages: int | None = None,
        slice_id: int | None = None,
        slices: int = 1,
    ):
        """ES scroll / point-in-time analogue: a driver-side generator of
        result pages, each a pandas DataFrame of ``page_size`` hits,
        cursor-advanced via search_after — so every page is O(k) work at
        any depth (the scroll contract ES keeps server-side state for;
        here the cursor IS the state, stateless like a PIT +
        search_after). The index frames are immutable for the searcher's
        lifetime, which is the point-in-time consistency ES's scroll
        context pins.

        ``slice_id``/``slices``: ES sliced scroll — ``slices`` parallel
        consumers each scroll a DISJOINT doc subset whose union is the
        full match set (ES slices on ``floorMod(hash(_id), max)``; here
        the slice function is ``doc_id mod slices`` — doc_ids are already
        uniformly dealt across shards by the engine's own id assignment,
        and the mod keeps the slice a non-scoring docmap predicate the
        pruned scan evaluates for free)."""
        doc_filter = None
        if slice_id is not None:
            if not (0 <= slice_id < slices):
                raise ValueError(f"slice_id must be in [0, {slices})")
            doc_filter = F.pmod(F.col("doc_id"), F.lit(int(slices))) == int(slice_id)
        after = None
        pages = 0
        while max_pages is None or pages < max_pages:
            page = self.top_k(
                query_text, k=page_size, mode=mode, with_meta=False,
                search_after=after, doc_filter=doc_filter,
            ).toPandas()
            if page.empty:
                return
            yield page
            pages += 1
            last = page.iloc[-1]
            after = (float(last["score"]), int(last["doc_id"]))

    def search_template(self, source: str, params: dict | None = None, **kw) -> DataFrame:
        """ES ``_search/template``: render a Mustache-subset template
        (functions/template.py — ``{{var}}``, ``{{#toJson}}``,
        ``{{#join}}``, ``{{^var}}default{{/var}}``) into a query_string
        body and run it. ``kw`` passes through to :meth:`query_string`
        (k, default_operator, syntax, ...). Rendering is driver-side
        string work; the executed plan is identical to the equivalent
        hand-written query_string — templates cost nothing at scale."""
        from ..functions.template import render_template

        return self.query_string(render_template(source, params), **kw)

    def msearch_template(
        self,
        templates: "list[tuple[str, dict | None]]",
        k: int = 10,
        default_operator: str = "or",
    ) -> DataFrame:
        """ES ``_msearch/template``: render every Mustache-subset
        template driver-side (functions/template.py), then execute the
        whole batch. Rendered bodies that are plain bag-of-words (no
        query_string operator syntax) run through :meth:`top_k_batch` —
        ONE dictionary lookup + ONE pruned scan for all of them; bodies
        that use operators (phrases, +/-, wildcards, ``field:``
        filters, ...) execute as one query_string plan each,
        rank-identical to running them alone (asserted by
        tests/test_mget_msearch_template.py). Output: (query_id, rank,
        doc_id, score) — query_id = position in ``templates``."""
        import re as _re

        from ..functions.template import render_template

        mode = default_operator.lower()
        rendered = [render_template(src, params) for src, params in templates]
        # query_string operator markers; a body with none of these
        # scores identically through the plain-match batch kernel
        # (weight-1 should/must terms, same analyzer).
        syntax = _re.compile(r'[+\-|"()*?~^:\[\]{}\\]|\b(AND|OR|NOT|TO)\b')
        plain = [(i, q) for i, q in enumerate(rendered) if not syntax.search(q)]
        cplx = [(i, q) for i, q in enumerate(rendered) if syntax.search(q)]
        parts = []
        if plain:
            parts.append(self.top_k_batch(pd.DataFrame({
                "query_id": [i for i, _ in plain],
                "query_text": [q for _, q in plain],
                "k": k, "mode": mode,
            })))
        for i, q in cplx:
            parts.append(
                self.query_string(
                    q, k=k, default_operator=mode, with_meta=False
                ).select(
                    F.lit(i).cast("long").alias("query_id"),
                    "rank", "doc_id", "score",
                )
            )
        if not parts:
            return self._spark.createDataFrame(
                [], "query_id long, rank int, doc_id long, score float"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy("query_id", "rank")

    def mget(self, doc_ids: list[int]) -> DataFrame:
        """ES ``_mget``: batched fetch by id — request order preserved
        (``req_idx``), every requested id answered (missing ids come
        back ``found = false`` with null metadata, never dropped;
        duplicates repeat). One docmap scan for the whole batch: the
        <= len(ids) literal id frame broadcasts INTO the scan (inner,
        BuildRight), so the fetch stays scan-only at any corpus size.
        Pending delete_by_query tombstones read as not-found; a
        filtered alias's default filter is deliberately IGNORED here —
        ES applies alias filters to searches, not to GETs."""
        if not doc_ids:
            raise ValueError("mget needs at least one doc_id")
        ids = self._spark.createDataFrame(
            [(i, int(d)) for i, d in enumerate(doc_ids)],
            "req_idx long, doc_id long",
        )
        hits = (
            self.ix.docmap.select("doc_id", "conv_id", "turn_idx", "is_rollup")
            .join(F.broadcast(ids.select("doc_id").distinct()), "doc_id", "inner")
        )
        if self._deletes is not None:
            hits = hits.join(self._deletes, "doc_id", "left_anti")
        return (
            ids.join(hits.withColumn("found", F.lit(True)), "doc_id", "left")
            .select(
                "req_idx", "doc_id",
                F.coalesce("found", F.lit(False)).alias("found"),
                "conv_id", "turn_idx", "is_rollup",
            )
            .orderBy("req_idx")
        )

    def span_first_query(
        self, term: str, end: int, k: int = 10, with_meta: bool = True
    ) -> DataFrame:
        """Lucene SpanFirstQuery: the term must occur within the first
        ``end`` token positions; tf for BM25 is the count of such
        occurrences (span freq), idf the term's own. Needs a positional
        index. One pruned scan of the term's postings; positions decode
        inside the shard kernel."""
        from ..operators.phrase import _POS_BITS, _slot_keys

        self._no_pending_deletes("span_first_query")
        ix, cfg = self.ix, self.ix.cfg
        if not cfg.store_positions:
            raise ValueError(
                "span_first_query needs a positional index: build with "
                "EngineConfig(store_positions=True)"
            )
        terms = analyze_query(term, cfg)
        if len(terms) != 1:
            raise ValueError("span_first_query takes exactly one term")
        found = self._lookup_terms(terms)
        if not found:
            return self._empty()
        tid, df_ = found[terms[0]]
        t_idf = float(idf_fn(float(df_), ix.n_docs))
        avgdl, k1, b, dps = ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard
        end_i = int(end)

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            base = shard_id * dps
            keys, dl_docs, dl_vals = _slot_keys(pdf, 0, 1, base)
            pos = (keys & np.int64((1 << _POS_BITS) - 1)) - 1
            doc = (keys >> np.int64(_POS_BITS)).astype(np.int64)
            m = pos < end_i
            if not m.any():
                return _EMPTY_CAND
            docs, tf_span = np.unique(doc[m], return_counts=True)
            tf_f = tf_span.astype(np.float64)
            dl = dl_vals[np.searchsorted(dl_docs, docs)].astype(np.float64)
            s32 = (
                t_idf * tf_f * (k1 + 1.0)
                / (tf_f + k1 * (1.0 - b + b * dl / avgdl))
            ).astype(np.float32)
            if docs.size > k:
                kth = np.partition(-s32, k - 1)[k - 1]
                sup = np.flatnonzero(-s32 <= kth)
                order = sup[np.lexsort((docs[sup], -s32[sup].astype(np.float64)))][:k]
            else:
                order = np.lexsort((docs, -s32.astype(np.float64)))[:k]
            return pd.DataFrame(
                {"doc_id": (docs[order] + base).astype(np.int64),
                 "score": s32[order]}
            )

        pruned = ix.postings.filter(F.col("term_id") == tid)
        cands = map_shards(pruned, kernel, _CAND_DDL, self._aligned)
        return self._ranked(cands, k, with_meta)

    def conversations_topk(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "or",
        score_mode: str = "max",
    ) -> DataFrame:
        """ES has_child / join-field analogue over this engine's native
        parent-child hierarchy (conversation -> turn docs): rank
        CONVERSATIONS by their matching TURNS. ``score_mode`` per ES:
        ``max`` (default), ``sum``, ``avg`` over child scores, or
        ``none`` (constant 1.0, pure containment). Returns (rank,
        conv_id, score, n_matching).

        Determinism: sum/avg fold child f32 scores in f64 in doc_id
        order via a sorted-array aggregate — a plain SUM() would
        accumulate in partition-arrival order and break the byte-stable
        contract. Rollup docs are excluded (a conv must not score
        against its own concatenation). Scale shape: all-match shard
        kernels -> doc_id-keyed join with docmap -> conv_id partial agg;
        the ES equivalent pays the same join-field fan-in."""
        if score_mode not in ("max", "sum", "avg", "none"):
            raise ValueError("score_mode: max | sum | avg | none")
        # every matching doc, tombstones excluded before the conv rollup
        cands = self._all_match_scores(query_text, mode)
        if cands is None:
            return self._spark.createDataFrame(
                [], "rank int, conv_id string, score float, n_matching long"
            )
        children = (
            self.ix.docmap.select("doc_id", "conv_id", "is_rollup")
            .join(cands, "doc_id", "inner")
            .filter(~F.col("is_rollup"))
        )
        if score_mode == "max":
            agg = F.max("score").alias("score")
            per_conv = children.groupBy("conv_id").agg(
                agg, F.count("*").alias("n_matching")
            )
        elif score_mode == "none":
            per_conv = children.groupBy("conv_id").agg(
                F.count("*").alias("n_matching")
            ).withColumn("score", F.lit(1.0).cast("float"))
        else:
            folded = F.aggregate(
                F.array_sort(F.collect_list(F.struct("doc_id", "score"))),
                F.lit(0.0),
                lambda acc, x: acc + x["score"].cast("double"),
            )
            per_conv = children.groupBy("conv_id").agg(
                folded.alias("_sum"), F.count("*").alias("n_matching")
            )
            if score_mode == "avg":
                per_conv = per_conv.withColumn(
                    "score", (F.col("_sum") / F.col("n_matching")).cast("float")
                )
            else:
                per_conv = per_conv.withColumn("score", F.col("_sum").cast("float"))
            per_conv = per_conv.drop("_sum")
        w = Window.orderBy(F.desc("score"), F.asc("conv_id"))
        return (
            per_conv.orderBy(F.desc("score"), F.asc("conv_id")).limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "conv_id", "score", "n_matching")
            .orderBy("rank")
        )

    def has_parent(
        self,
        query_text: str,
        mode: str = "or",
        score: bool = True,
        k: "int | None" = None,
    ) -> DataFrame:
        """ES ``has_parent`` query over the engine's native hierarchy:
        the inner query matches PARENT documents — here the rollup docs
        (a conversation's turns concatenated in turn order, indexed
        alongside the turns exactly like ES keeps parents and children
        in one index with SHARED statistics) — and the result is the
        matching parents' CHILD turn docs. Public ES semantics: with
        ``score=True`` every child carries its parent's relevance score
        verbatim (score_mode=score); with ``score=False`` a constant
        1.0 (filter-context containment, the ES default). Returns
        ``(doc_id, conv_id, turn_idx, score)`` — the FULL result set
        when ``k`` is None, else the top-k under (score desc, doc_id
        asc) with a ``rank`` column.

        Determinism: the parent's f32 score propagates bit-verbatim
        (no fold), so children of one parent tie exactly. Scale shape:
        parent match set (pruned postings scan, per-shard full-match
        kernel) -> conv_id equi-join fan-out to children — the same
        join-field fan-out ES pays, with Catalyst free to broadcast
        the (usually small) parent side. Tombstones and alias filters
        apply to BOTH sides via the usual choke points."""
        if not self.ix.cfg.index_rollups:
            raise ValueError(
                "has_parent requires an index built with "
                "index_rollups=True: the rollup docs ARE the parent "
                "documents this query matches"
            )
        empty = self._spark.createDataFrame(
            [], "doc_id long, conv_id string, turn_idx int, score float"
        )
        dm = self.ix.docmap
        scores = self._all_match_scores(query_text, mode=mode)
        if scores is None:
            out = empty
        else:
            parents = (
                dm.filter(F.col("is_rollup"))
                .select("doc_id", "conv_id")
                .join(scores, "doc_id")
                .select("conv_id", F.col("score").alias("_pscore"))
            )
            children = self._apply_deletes(
                dm.filter(~F.col("is_rollup"))
                .select("doc_id", "conv_id", "turn_idx")
            ).join(parents, "conv_id")
            sc = F.col("_pscore") if score else F.lit(1.0).cast("float")
            out = children.select(
                "doc_id", "conv_id", "turn_idx", sc.alias("score")
            )
        if k is None:
            return out
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "conv_id", "turn_idx", "score")
            .orderBy("rank")
        )

    def parent_id(self, conv_id: str) -> DataFrame:
        """ES ``parent_id`` query: every (live) CHILD document of one
        named parent, constant score 1.0 — pure containment, the
        documented ES behavior. A docmap-only predicate: no postings
        scan, partition-prunable on conv_id at scale. Tombstones and
        alias filters compose via ``_apply_deletes``."""
        dm = self.ix.docmap
        return self._apply_deletes(
            dm.filter((~F.col("is_rollup")) & (F.col("conv_id") == conv_id))
            .select("doc_id", "conv_id", "turn_idx")
        ).select(
            "doc_id", "conv_id", "turn_idx",
            F.lit(1.0).cast("float").alias("score"),
        )

    def distance_feature(
        self,
        query_text: str,
        source_df: DataFrame,
        field: str,
        origin: float,
        pivot: float,
        boost: float = 1.0,
        mode: str = "or",
        k: "int | None" = None,
    ) -> DataFrame:
        """ES ``distance_feature`` query (public semantics: a should-
        clause that BOOSTS documents near an origin — recency / numeric
        proximity — contributing ``boost * pivot / (pivot + distance)``
        to the relevance score, where distance = |field - origin|;
        documents missing the field contribute 0 and are NOT excluded).

        ``field`` is a Spark SQL expression over ``source_df``'s columns
        (joined on (conv_id, turn_idx), the engine's _source fetch shape)
        that must evaluate to a NUMBER — for timestamps pass e.g.
        ``unix_micros(cast(ts as timestamp))`` so the distance is exact
        integer microseconds (this corpus' parquet timestamps are NTZ;
        the session pins UTC so the cast is linear).

        Determinism contract: combined score = f32( f64(bm25_f32) +
        boost * (pivot / (pivot + dist)) ) — ONE f64 add onto the
        verbatim f32 BM25 score, the contribution computed by the SAME
        ``distance_feature_col`` helper function_score uses (one
        association engine-wide), mirrored exactly by the DuckDB twin.
        Scale shape:
        full match set -> one equi-join to source (I/O proportional to
        matches) -> JVM arithmetic, no Python in the path."""
        empty = self._spark.createDataFrame(
            [], "doc_id long, conv_id string, turn_idx int, score float"
        )
        scores = self._all_match_scores(query_text, mode=mode)
        if scores is None:
            out = empty
        else:
            from ..functions.function_score import distance_feature_col

            dm = self.ix.docmap.select("doc_id", "conv_id", "turn_idx")
            frame = scores.join(dm, "doc_id").join(
                source_df, ["conv_id", "turn_idx"], "left"
            )
            # the SAME f64 association as the function_score column
            # helper: boost * (pivot / (pivot + dist)) — one definition
            # engine-wide, mirrored verbatim by the DuckDB twin
            contrib = distance_feature_col(
                F.expr(field), origin, pivot, boost
            )
            out = frame.select(
                "doc_id", "conv_id", "turn_idx",
                (F.col("score").cast("double") + contrib)
                .cast("float").alias("score"),
            )
        if k is None:
            return out
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "conv_id", "turn_idx", "score")
            .orderBy("rank")
        )

    def sparse_vector_query(
        self,
        token_weights: "dict[str, float]",
        k: "int | None" = None,
    ) -> DataFrame:
        """ES ``sparse_vector`` query (the 8.15+ learned-sparse /
        text_expansion shape): score = dot product of QUERY token
        weights and DOCUMENT token weights over the shared vocabulary.
        ES document weights come from an ML model (ELSER) at ingest;
        no model exists in this sandbox, so the documented deterministic
        stand-in is weight(token, doc) = tf(token, doc) — the raw term
        frequency the index already stores. The retrieval machinery is
        the real thing: only the query tokens' postings are decoded
        (``term_freqs`` — the exact scorer's pruned scan without its
        BM25 arithmetic), never a full scan.

        Determinism: contributions q_w * tf are folded in f64 in
        ascending term_id order via a sorted-array aggregate (the
        engine-wide fold contract), f32 emit. Unknown tokens contribute
        nothing (ES ignores out-of-vocabulary expansion tokens)."""
        norm: dict[str, float] = {}
        for t, w_ in token_weights.items():
            toks = analyze_query(t, self.ix.cfg)
            if len(toks) != 1:
                raise ValueError(
                    f"sparse_vector token {t!r} does not analyze to a "
                    "single term — expansion tokens are single vocabulary "
                    "entries by construction"
                )
            # ES sums weights of duplicate expansion tokens
            norm[toks[0]] = norm.get(toks[0], 0.0) + float(w_)
        found = self._lookup_terms(sorted(norm))
        empty = self._spark.createDataFrame([], "doc_id long, score float")
        if not found:
            out = empty
        else:
            w_rows = [
                (int(tid), float(norm[t]))
                for t, (tid, _df) in found.items()
            ]
            weights_df = self._spark.createDataFrame(
                w_rows, "term_id long, w double"
            )
            tfs = self.term_freqs(list(found))
            contribs = tfs.join(F.broadcast(weights_df), "term_id").select(
                "doc_id", "term_id",
                (F.col("w") * F.col("tf").cast("double")).alias("contrib"),
            )
            folded = F.aggregate(
                F.array_sort(F.collect_list(F.struct("term_id", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            )
            out = contribs.groupBy("doc_id").agg(
                folded.cast("float").alias("score")
            )
        if k is None:
            return out
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "score")
            .orderBy("rank")
        )

    def wrapper_query(self, wrapper: str, k: int = 10, **kw) -> DataFrame:
        """ES ``wrapper`` query: a base64-encoded JSON query body run
        where a query object is expected (public ES semantics — clients
        that can only ship strings embed the real DSL this way). The
        DOCUMENTED SUBSET dispatches onto the engine's own surfaces —
        results are identical to calling them directly (pytest-pinned):

        * ``{"query_string": {"query": q, "default_operator"?, ...}}``
        * ``{"simple_query_string": {"query": q, ...}}``
        * ``{"match": {"text": q | {"query": q, "operator"?}}}``
        * ``{"term": {"text": t | {"value": t}}}``
        * ``{"match_phrase": {"text": q | {"query": q, "slop"?}}}``
        * ``{"bool": {"must"?, "should"?, "must_not"?,
          "minimum_should_match"?}}`` with string clause bodies

        Anything else raises (the search_template discipline: unknown
        constructs are errors, never silent misreads). ``**kw`` passes
        through to the dispatched method."""
        import base64
        import binascii
        import json

        try:
            body = json.loads(base64.b64decode(wrapper, validate=True))
        except (binascii.Error, ValueError) as e:
            raise ValueError(f"wrapper: not base64-encoded JSON: {e}")
        return self.query_dsl(body, k=k, **kw)

    def query_dsl(self, body: dict, k: int = 10, **kw) -> DataFrame:
        """Dispatch a single-key JSON query-DSL object onto the engine's
        own surfaces — the wrapper_query subset (see its docstring for
        the supported types), shared by the wrapper query and the
        retriever tree's ``standard`` node. Unknown constructs raise."""
        if not isinstance(body, dict) or len(body) != 1:
            raise ValueError("wrapper body must be a single-key query object")
        (qtype, spec), = body.items()

        def _field_text(spec, value_key: str):
            if not (isinstance(spec, dict) and list(spec) == ["text"]):
                raise ValueError(
                    f"wrapper {qtype}: exactly one field, `text` "
                    "(the indexed field)")
            v = spec["text"]
            return v if isinstance(v, str) else v[value_key], (
                v if isinstance(v, dict) else {})
        if qtype == "query_string":
            return self.query_string(
                spec["query"], k=k,
                default_operator=spec.get("default_operator", "or").lower(),
                **kw)
        if qtype == "simple_query_string":
            return self.simple_query_string(
                spec["query"], k=k,
                default_operator=spec.get("default_operator", "or").lower(),
                **kw)
        if qtype == "match":
            q, opts = _field_text(spec, "query")
            return self.top_k(
                q, k=k, mode=opts.get("operator", "or").lower(), **kw)
        if qtype == "term":
            q, _ = _field_text(spec, "value")
            return self.term_query(q, k=k)
        if qtype == "match_phrase":
            q, opts = _field_text(spec, "query")
            return self.phrase_query(
                q, k=k, slop=int(opts.get("slop", 0)), **kw)
        if qtype == "bool":
            known = {"must", "should", "must_not", "minimum_should_match"}
            if not set(spec) <= known:
                raise ValueError(
                    f"wrapper bool: unsupported keys {set(spec) - known}")
            return self.bool_query(
                must=spec.get("must", ""),
                should=spec.get("should", ""),
                must_not=spec.get("must_not", ""),
                minimum_should_match=spec.get("minimum_should_match"),
                k=k, **kw)
        raise ValueError(f"wrapper: unsupported query type {qtype!r}")

    def match_docs(
        self,
        filter_text: str = "",
        mode: str = "and",
        must_not: str = "",
        doc_filter: Column | None = None,
    ) -> DataFrame:
        """ES query+aggregations support: the FULL docmap row set matching
        a filter-context query (terms of ``filter_text`` — ALL required
        for ``mode='and'``, ANY for ``'or'`` — minus ``must_not`` docs,
        intersected with ``doc_filter``). No scoring, no rank, no global
        sort: the same pruned-scan + docmap cogroup the constant-score
        path uses, but the kernel emits the shard's matching docmap rows
        directly — aggregations (operators/aggs.py) compose on top and
        Catalyst adds map-side partial aggregation, so the match set is
        never collected or globally ordered. This is how an ES request
        couples "query" with "aggs" over every hit, not just the page."""
        ix, cfg = self.ix, self.ix.cfg
        req_terms = sorted(set(analyze_query(filter_text, cfg)))
        not_terms = sorted(set(analyze_query(must_not, cfg)))
        out_cols = ["doc_id", "conv_id", "turn_idx", "doc_len", "is_rollup"]
        found = self._lookup_terms(sorted(set(req_terms) | set(not_terms)))
        req_tids = sorted(found[t][0] for t in req_terms if t in found)
        ddl = "doc_id long, conv_id string, turn_idx int, doc_len long, is_rollup boolean"
        if mode == "and" and len(req_tids) < len(req_terms):
            return self._spark.createDataFrame([], ddl)
        if mode == "or" and req_terms and not req_tids:
            return self._spark.createDataFrame([], ddl)
        not_tids = set(found[t][0] for t in not_terms if t in found)
        scan_tids = sorted(set(req_tids) | not_tids)
        dps = cfg.docs_per_shard

        def kernel(shard_id: int, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            out = right[out_cols]
            if right.empty:
                return out
            base = shard_id * dps
            allowed = allowed_mask(right, shard_id, dps)
            if not presence_mask(allowed, left, req_tids, not_tids, mode, base):
                return out.iloc[0:0]
            return out[allowed[right["doc_id"].to_numpy(np.int64) - base]]

        # pending delete_by_query tombstones AND the alias-level
        # default_doc_filter ride the same _allowed mask — ES applies
        # alias filters to _count and filter-context matches alike
        pruned = ix.postings.filter(
            F.col("term_id").isin(scan_tids) if scan_tids else F.lit(False)
        )
        return map_shards(pruned, kernel, ddl, self._aligned,
                          self._docmap_allowed(doc_filter, ["shard_id", *out_cols]))

    def term_query(self, term: str, k: int = 10) -> DataFrame:
        """ES term-query analogue (B2): single exact term, BM25-ranked."""
        return self.top_k(term, k=k, mode="or")

    # ---- multi-term query expansion (ES prefix / wildcard / fuzzy with
    # rewrite=scoring_boolean: expand against the dictionary, cap at
    # max_expansions picking the highest-df terms — ES's default
    # top_terms blending — then score as a weight-1-per-term OR query)

    def _expanded(self, cond: Column, max_expansions: int) -> dict[str, tuple[int, int]]:
        rows = (
            self.ix.dictionary.filter(cond)
            .select("term", "term_id", "df")
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        found = {r["term"]: (int(r["term_id"]), int(r["df"])) for r in rows}
        self._term_cache.update(found)
        return found

    def _expanded_alpha(self, cond: Column, max_expansions: int) -> dict[str, tuple[int, int]]:
        """Dictionary expansion capped in ALPHABETICAL term order — the
        Lucene rewrite match_phrase_prefix uses (TopTermsBlendedFreq is
        the scoring_boolean family; the phrase-prefix expansion walks the
        term dictionary in term order and stops at max_expansions), as
        opposed to _expanded's top-df cap for scoring_boolean queries."""
        rows = (
            self.ix.dictionary.filter(cond)
            .select("term", "term_id", "df")
            .orderBy(F.asc("term"))
            .limit(max_expansions)
            .collect()
        )
        found = {r["term"]: (int(r["term_id"]), int(r["df"])) for r in rows}
        self._term_cache.update(found)
        return found

    def prefix_query(self, prefix: str, k: int = 10, max_expansions: int = 50,
                     with_meta: bool = True) -> DataFrame:
        """ES prefix query: all dictionary terms starting with ``prefix``."""
        found = self._expanded(F.col("term").startswith(prefix.lower()), max_expansions)
        return self._scored_top_k(found, Counter(dict.fromkeys(found, 1)), k, "or", None, with_meta)

    def wildcard_query(self, pattern: str, k: int = 10, max_expansions: int = 50,
                       with_meta: bool = True) -> DataFrame:
        """ES wildcard query: ``*`` = any run, ``?`` = one char (anchored)."""
        import re as _re

        rx = "^" + "".join(
            ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
            for ch in pattern.lower()
        ) + "$"
        found = self._expanded(F.col("term").rlike(rx), max_expansions)
        return self._scored_top_k(found, Counter(dict.fromkeys(found, 1)), k, "or", None, with_meta)

    def regexp_query(self, pattern: str, k: int = 10, max_expansions: int = 50,
                     with_meta: bool = True) -> DataFrame:
        """ES regexp query: dictionary terms fully matching the regular
        expression (ES anchors both ends, Lucene RegExp syntax — the
        JVM-regex common subset is honored here). Like Lucene, the
        pattern is NOT analyzed or case-folded — the dictionary stores
        lowercased terms, so write the pattern in lowercase (folding it
        here would invert escape classes like \\D / \\W). Same
        rewrite=scoring_boolean expansion as wildcard: dictionary scan
        with the regex as a pushed filter, top-df cap, weight-1 OR."""
        rx = "^(?:" + pattern + ")$"
        found = self._expanded(F.col("term").rlike(rx), max_expansions)
        return self._scored_top_k(found, Counter(dict.fromkeys(found, 1)), k, "or", None, with_meta)

    def fuzzy_query(self, term: str, fuzziness: int = 1, k: int = 10,
                    max_expansions: int = 50, with_meta: bool = True) -> DataFrame:
        """ES fuzzy query: terms within ``fuzziness`` Levenshtein edits
        (JVM-side levenshtein over the dictionary scan)."""
        found = self._expanded(
            F.levenshtein(F.col("term"), F.lit(term.lower())) <= fuzziness,
            max_expansions,
        )
        return self._scored_top_k(found, Counter(dict.fromkeys(found, 1)), k, "or", None, with_meta)

    def suggest(self, text: str, fuzziness: int = 2, size: int = 5) -> DataFrame:
        """ES term suggester: for each analyzed input token, candidate
        corrections from the index DICTIONARY within ``fuzziness``
        Levenshtein edits, ranked like ES's suggest mode=missing default —
        (distance asc, df desc, term asc), ``size`` per input token. No
        postings are read. Returns (input, term, distance, df).

        One dictionary scan TOTAL, regardless of input length: the analyzed
        tokens become a literal frame broadcast against the scan (a
        BroadcastNestedLoopJoin over a k-row build side), one levenshtein
        filter, one ranking window — instead of a scan + union branch per
        token, which multiplied the dominant cost (the dictionary scan) by
        the token count."""
        terms = analyze_query(text, self.ix.cfg)
        if not terms:
            return self._spark.createDataFrame(
                [], "input string, term string, distance int, df long"
            )
        inputs = self._spark.createDataFrame(
            [(t,) for t in dict.fromkeys(terms)], "input string"
        )
        w = Window.partitionBy("input").orderBy(
            F.asc("distance"), F.desc("df"), F.asc("term")
        )
        return (
            self.ix.dictionary.select("term", "df")
            .join(F.broadcast(inputs))
            .withColumn("distance", F.levenshtein(F.col("term"), F.col("input")))
            .filter(F.col("distance") <= fuzziness)
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= size)
            .select("input", "term", "distance", "df")
        )

    def suggest_completion(
        self, prefix: str, size: int = 5, fuzziness: int = 0
    ) -> DataFrame:
        """ES *completion suggester* (search-as-you-type over a weighted
        suggestion dictionary): prefix-match the index dictionary, top
        ``size`` by (weight desc, term asc) with weight = df — ES stores
        a dedicated FST with explicit weights; our dictionary is
        term-sorted parquet, so the ``startswith`` predicate pushes down
        to row-group pruning (the same logarithmic prefix narrowing an
        FST gives, minus its constant factor). ``fuzziness`` > 0 is the
        fuzzy-completion variant: terms whose first len(prefix) chars
        are within that edit distance (ES FuzzyCompletionQuery's
        unicode-aware prefix edits, simplified to whole-prefix
        Levenshtein). Top-k via orderBy+limit (TakeOrdered — no global
        sort, no window)."""
        p = prefix.strip().lower()
        if not p:
            return self._spark.createDataFrame(
                [], "input string, term string, distance int, weight long"
            )
        dic = self.ix.dictionary.select("term", "df")
        if fuzziness <= 0:
            cand = dic.filter(F.col("term").startswith(p))
            dist = F.lit(0)
        else:
            dist = F.levenshtein(
                F.substring(F.col("term"), 1, len(p)), F.lit(p)
            )
            cand = dic.filter(dist <= fuzziness)
        return (
            cand.orderBy(F.desc("df"), F.asc("term"))
            .limit(size)
            .select(
                F.lit(p).alias("input"),
                "term",
                dist.cast("int").alias("distance"),
                F.col("df").cast("long").alias("weight"),
            )
        )

    def phrase_suggest(
        self,
        text: str,
        max_edits: int = 1,
        candidates_per_term: int = 5,
        size: int = 5,
        alpha: float = 0.5,
        max_terms: int = 6,
    ) -> DataFrame:
        """ES *phrase suggester* ("did you mean"): whole-phrase correction
        candidates ranked by a Laplace-smoothed corpus BIGRAM language
        model (the ES phrase suggester's default ``laplace`` smoothing,
        ``gram_size=2``) times a deterministic error model.

        Pinned model (oracle twins mirror it exactly — change one, change
        all):
          * per-slot candidates: dictionary terms within ``max_edits``
            Levenshtein edits, ranked (distance asc, df desc, term asc),
            top ``candidates_per_term`` (the original token always ranks
            first at distance 0; an out-of-vocabulary original is kept as
            an unscorable cf=0 candidate);
          * candidate phrases: the cross product of the slot candidate
            lists (bounded by candidates_per_term^n_terms; inputs longer
            than ``max_terms`` tokens raise);
          * score (log10, f64, summed LEFT-TO-RIGHT in gram order):
            log10((cf(w1)+a)/(N+aV)) for the head gram, then
            log10((c(w_{i-1},w_i)+a)/(cf(w_{i-1})+aV)) per following
            gram, plus per slot log10(0.95) if the slot is unchanged
            (ES real_word_error_likelihood) else distance * log10(0.1)
            (each edit costs one decade);
          * output ties (score desc, suggestion asc), rank 1-based.

        The bigram model is derived from the positional index on first use
        (operators/bigram.py — one postings pass, persisted) and cached on
        the searcher. Query-time Spark work is three tiny-by-construction
        lookups: one dictionary scan for all slots' candidates (the
        single-pass ``suggest`` shape), then filtered collects of the <=
        cap^2-per-gram bigram counts and <= n_slots*cap unigram counts —
        scoring the <= cap^n candidate phrases is driver-side arithmetic
        on k-row data, the same class as ``_lookup_terms``.

        Returns (rank int, suggestion string, score double, n_changed int).
        """
        import math as _math

        from ..operators.bigram import bigram_model

        ix = self.ix
        ddl = "rank int, suggestion string, score double, n_changed int"
        terms = analyze_query(text, ix.cfg)
        if not terms:
            return self._spark.createDataFrame([], ddl)
        if len(terms) > max_terms:
            raise ValueError(
                f"phrase_suggest input has {len(terms)} tokens; "
                f"max_terms={max_terms} bounds the candidate product"
            )
        if self._bigram is None:
            self._bigram = bigram_model(ix)
        model = self._bigram
        n_tok, vocab = float(model.n_tokens), float(model.vocab)

        # one dictionary scan for EVERY slot's candidates (suggest's shape)
        inputs = self._spark.createDataFrame(
            [(t,) for t in dict.fromkeys(terms)], "input string"
        )
        w = Window.partitionBy("input").orderBy(
            F.asc("distance"), F.desc("df"), F.asc("term")
        )
        cand_rows = (
            ix.dictionary.select("term", "term_id", "df")
            .join(F.broadcast(inputs))
            .withColumn("distance", F.levenshtein(F.col("term"), F.col("input")))
            .filter(F.col("distance") <= max_edits)
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= candidates_per_term)
            .select("input", "term", "term_id", "distance", "_r")
            .collect()
        )
        by_input: dict[str, list[tuple[int, str, int, int]]] = {}
        for r in cand_rows:
            by_input.setdefault(r["input"], []).append(
                (int(r["_r"]), r["term"], int(r["term_id"]), int(r["distance"]))
            )
        # collect() row order is not deterministic — restore the ranking
        # order before any truncation below
        by_input = {
            t: [(term, tid, d) for _, term, tid, d in sorted(rs)]
            for t, rs in by_input.items()
        }
        slots: list[list[tuple[str, int, int]]] = []
        for t in terms:
            cs = by_input.get(t, [])
            if not any(c[0] == t for c in cs):
                # OOV original: kept as an unscorable (cf=0) candidate
                cs = [(t, -1, 0), *cs][: candidates_per_term]
            slots.append(cs)

        # tiny-by-construction stat lookups: unigram cf for every distinct
        # candidate tid; bigram c for every per-gram (prev, cur) tid pair
        all_tids = sorted({tid for cs in slots for _, tid, _ in cs if tid >= 0})
        cf: dict[int, int] = {tid: 0 for tid in all_tids}
        if all_tids:
            for r in model.unigrams.filter(F.col("tid").isin(all_tids)).collect():
                cf[int(r["tid"])] = int(r["cf"])
        bc: dict[tuple[int, int], int] = {}
        if len(slots) > 1 and all_tids:
            pair_cond = None
            for i in range(1, len(slots)):
                prevs = [tid for _, tid, _ in slots[i - 1] if tid >= 0]
                curs = [tid for _, tid, _ in slots[i] if tid >= 0]
                if not prevs or not curs:
                    continue
                cond = F.col("t1").isin(prevs) & F.col("t2").isin(curs)
                pair_cond = cond if pair_cond is None else (pair_cond | cond)
            if pair_cond is not None:
                for r in model.bigrams.filter(pair_cond).collect():
                    bc[(int(r["t1"]), int(r["t2"]))] = int(r["c"])

        def _err(dist: int) -> float:
            return _math.log10(0.95) if dist == 0 else dist * _math.log10(0.1)

        from itertools import product as _product

        scored: list[tuple[str, float, int]] = []
        for combo in _product(*slots):
            s = 0.0  # f64, LEFT-TO-RIGHT in gram order (the contract)
            w0_cf = cf.get(combo[0][1], 0)
            s += _math.log10((w0_cf + alpha) / (n_tok + alpha * vocab))
            s += _err(combo[0][2])
            for i in range(1, len(combo)):
                prev_tid, cur_tid = combo[i - 1][1], combo[i][1]
                c = bc.get((prev_tid, cur_tid), 0)
                prev_cf = cf.get(prev_tid, 0)
                s += _math.log10((c + alpha) / (prev_cf + alpha * vocab))
                s += _err(combo[i][2])
            scored.append(
                (" ".join(c[0] for c in combo), s,
                 sum(1 for c in combo if c[2] > 0))
            )
        scored.sort(key=lambda x: (-x[1], x[0]))
        top = scored[:size]
        return self._spark.createDataFrame(
            [(i + 1, p, s, n) for i, (p, s, n) in enumerate(top)], ddl
        )

    def query_string(
        self,
        qs: str,
        k: int = 10,
        default_operator: str = "or",
        max_expansions: int = 50,
        minimum_should_match: int | None = None,
        phrase_ordered: bool = True,
        doc_filter: Column | None = None,
        with_meta: bool = True,
        search_after: tuple[float, int] | None = None,
        syntax: str = "classic",
        flags=None,
    ) -> DataFrame:
        """ES ``query_string`` query: Lucene classic syntax parsed
        (functions/querystring.py) and lowered onto ONE pruned postings
        scan + the dense clause-group shard kernel (score_shard_clauses) — the
        whole mixed query runs as a single job regardless of how many
        clauses, expansions, or phrases it contains.

        Supported syntax: ``+must``/``-must_not`` occurs, bare = should
        (``default_operator='or'``) or must (``'and'``), quoted phrases
        with ``~slop``, trailing-``*`` prefix, ``*``/``?`` wildcards,
        ``~N`` fuzzy (dictionary expansion, rewrite=scoring_boolean,
        ``max_expansions`` cap by df desc), and ``field:value`` filter
        clauses on docmap metadata columns (non-scoring filter context;
        ``-field:value`` negates). Clause scores sum (ES bool); a must
        clause of any kind gates matching; minimum_should_match counts
        CLAUSES (a 50-term expansion is one clause).

        Phrases use this engine's documented ordered semantics by
        default (``phrase_ordered=False`` opts into Lucene's unordered
        sloppy matching, same restrictions as ``phrase_query``).

        Pure-negative queries (only must_not/filter clauses) serve as
        match_all minus exclusions, per ES — except a pure-negative
        PHRASE, which raises (a phrase exclusion needs a scoring clause
        to subtract from)."""
        import re as _re

        from ..functions.querystring import (
            SIMPLE_FLAGS,
            parse_query_string,
            parse_simple_query_string,
        )
        ix, cfg = self.ix, self.ix.cfg
        if syntax == "simple":
            parsed = parse_simple_query_string(
                qs, cfg, default_operator,
                SIMPLE_FLAGS if flags is None else frozenset(flags),
            )
        else:
            parsed = parse_query_string(qs, cfg, default_operator)
        flt = doc_filter
        for fc in parsed.filters:
            col = F.col(fc.fld).cast("string") == fc.value
            if fc.role == "must_not":
                col = ~col
            flt = col if flt is None else (flt & col)
        if parsed.phrases and not cfg.store_positions:
            raise ValueError(
                "query_string phrase clauses need a positional index: build "
                "with EngineConfig(store_positions=True)"
            )

        # dictionary resolution: one lookup for every literal term, one
        # capped expansion per multi-term clause
        lit_terms = sorted(
            {t for c in parsed.terms for t in c.terms}
            | {t for p in parsed.phrases for t in p.terms}
        )
        found = self._lookup_terms(lit_terms)
        exp_found: list[tuple[str, dict[str, tuple[int, int]]]] = []
        for ec in parsed.expands:
            if ec.kind == "prefix":
                cond = F.col("term").startswith(ec.pattern)
            elif ec.kind == "wildcard":
                rx = "^" + "".join(
                    ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
                    for ch in ec.pattern
                ) + "$"
                cond = F.col("term").rlike(rx)
            else:
                cond = F.levenshtein(F.col("term"), F.lit(ec.pattern)) <= ec.fuzziness
            exp_found.append((ec.role, self._expanded(cond, max_expansions)))

        # assemble scoring weights (tid -> summed clause weights), clause
        # groups (membership counting), and exclusions
        weights: dict[int, float] = {}
        tid_idf: dict[int, float] = {}
        must_groups: list[list[int]] = []
        should_groups: list[list[int]] = []
        excl_tids: set[int] = set()
        n_should_raw = 0  # should clauses as written (for the ES min_m default)
        viable_should = 0  # should clauses with >= 1 in-vocab member

        def _add(tid_weight: list[tuple[int, int, float]], role: str) -> bool:
            """Register one clause; returns False iff a must clause has no
            in-vocab member (the whole query matches nothing)."""
            nonlocal n_should_raw, viable_should
            if role == "should":
                n_should_raw += 1
            if role == "must_not":
                excl_tids.update(tid for tid, _, _ in tid_weight)
                return True
            tids = []
            for tid, df_, w in tid_weight:
                weights[tid] = weights.get(tid, 0.0) + w
                tid_idf[tid] = float(idf_fn(float(df_), ix.n_docs))
                tids.append(tid)
            if not tids:
                return role != "must"
            if role == "must":
                must_groups.append(tids)
            else:
                viable_should += 1
                should_groups.append(tids)
            return True

        # unmapped-field clauses (ES semantics): behave exactly like a
        # clause whose every member is out-of-vocabulary — a must kills
        # the query, a should counts toward the msm denominator but can
        # never match, a must_not excludes nothing
        for role in parsed.unmapped:
            if not _add([], role):
                return self._empty()
        for c in parsed.terms:
            tw = [
                (found[t][0], found[t][1], float(n))
                for t, n in Counter(c.terms).items()
                if t in found
            ]
            if not _add(tw, c.role):
                return self._empty()
        for role, exp in exp_found:
            tw = [(tid, df_, 1.0) for tid, df_ in exp.values()]
            if not _add(tw, role):
                return self._empty()

        phrase_list: list[tuple[list[int], float, float, str, int, bool]] = []
        for p in parsed.phrases:
            if p.role == "should":
                n_should_raw += 1
            if any(t not in found for t in p.terms):
                if p.role == "must":
                    return self._empty()  # an OOV phrase term matches nothing
                continue  # OOV should/must_not phrase: matches nothing, drop
            if not phrase_ordered and len(set(p.terms)) < len(p.terms):
                raise ValueError(
                    "unordered sloppy phrase does not support repeated terms; "
                    "use phrase_ordered=True"
                )
            sum_idf = 0.0
            for t in p.terms:  # idf summed in QUERY order (PhraseWeight)
                sum_idf += float(idf_fn(float(found[t][1]), ix.n_docs))
            if p.role == "should":
                viable_should += 1
            phrase_list.append(
                ([found[t][0] for t in p.terms], sum_idf, 1.0, p.role,
                 p.slop, phrase_ordered or p.slop == 0)
            )

        min_m = minimum_should_match
        if min_m is None:
            min_m = 1 if (n_should_raw and not must_groups and not any(
                p[3] == "must" for p in phrase_list)) else 0
        if min_m > viable_should:
            return self._empty()

        scoring_phrases = [p for p in phrase_list if p[3] != "must_not"]
        if not weights and not scoring_phrases:
            if any(p[3] == "must_not" for p in phrase_list):
                raise ValueError(
                    "pure-negative phrase query: add at least one scoring "
                    "clause (ES rewrites bare must_not over match_all, which "
                    "has no positions to subtract a phrase from)"
                )
            if excl_tids or flt is not None:
                # pure-negative / pure-filter query: match_all semantics,
                # and like must_not-only bool this is filter context —
                # every hit scores 0.0 (the ES rule)
                not_text = " ".join(
                    sorted(t for t, v in self._term_cache.items()
                           if v is not None and v[0] in excl_tids)
                )
                return self.match_all(
                    must_not=not_text, k=k, boost=0.0, doc_filter=flt,
                    with_meta=with_meta, search_after=search_after,
                )
            return self._empty()

        term_meta = [(tid, tid_idf[tid], weights[tid]) for tid in sorted(weights)]
        excl_sorted = sorted(excl_tids)
        scan_tids = sorted(
            set(weights) | excl_tids
            | {tid for p in phrase_list for tid in p[0]}
        )
        avgdl, k1, b, dps = ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard
        after = None
        if search_after is not None:
            after = (float(np.float32(search_after[0])), int(search_after[1]))
        mg, sg = list(must_groups), list(should_groups)

        def kernel(shard_id: int, left: pd.DataFrame, right: pd.DataFrame | None) -> pd.DataFrame:
            if left.empty or (right is not None and right.empty):
                return _EMPTY_CAND
            by_tid = {tid: g for tid, g in left.groupby("term_id")}
            no_blocks = left.iloc[0:0]
            tm = [(tid, t_idf, w, by_tid[tid])
                  for tid, t_idf, w in term_meta if tid in by_tid]
            eb = [by_tid[t] for t in excl_sorted if t in by_tid]
            pm = [
                ([by_tid.get(t, no_blocks) for t in slot_tids],
                 sidf, w, role, slop, ordered)
                for slot_tids, sidf, w, role, slop, ordered in phrase_list
            ]
            return score_shard_clauses(
                tm, mg, sg, min_m, eb, pm, shard_id * dps, dps,
                allowed_mask(right, shard_id, dps), k, avgdl, k1, b, after=after,
            )

        cands = map_shards(
            ix.postings.filter(F.col("term_id").isin(scan_tids)), kernel,
            _CAND_DDL, self._aligned, self._filter_docmap(flt),
        )
        return self._ranked(cands, k, with_meta)

    def validate_query(
        self, query_text: str, syntax: str = "classic",
        default_operator: str = "or",
    ) -> dict:
        """ES ``_validate/query`` with the rewrite=true response shape:
        parse the query string WITHOUT executing it (no Spark job) and
        return ``{"valid": bool, "explanation": str}`` — the explanation
        renders the parsed clause structure the way ES echoes the
        rewritten Lucene query. Both parsers are lenient (Lucene
        escape-tolerant): unparseable fragments drop out, so
        ``valid=False`` means nothing in the input lowers to an
        executable clause (ES's empty-bool case) or a parameter is
        invalid (bad syntax name / default_operator)."""
        from ..functions.querystring import (
            parse_query_string,
            parse_simple_query_string,
        )

        cfg = self.ix.cfg
        try:
            if syntax == "classic":
                parsed = parse_query_string(query_text, cfg, default_operator)
            elif syntax == "simple":
                parsed = parse_simple_query_string(
                    query_text, cfg, default_operator
                )
            else:
                raise ValueError(f"unknown syntax: {syntax!r}")
        except ValueError as e:
            return {"valid": False, "explanation": f"parse error: {e}"}
        parts: list[str] = []
        for t in parsed.terms:
            parts.append(f"{t.role}:({' '.join(t.terms)})")
        for p in parsed.phrases:
            parts.append(f"{p.role}:\"{' '.join(p.terms)}\"~{p.slop}")
        for x in parsed.expands:
            suffix = f"~{x.fuzziness}" if x.kind == "fuzzy" else ""
            parts.append(f"{x.role}:{x.kind}({x.pattern}{suffix})")
        for fc in parsed.filters:
            parts.append(f"{fc.role}:filter({fc.fld}:{fc.value})")
        for role in parsed.unmapped:
            parts.append(f"{role}:unmapped(MatchNoDocs)")
        scoring = bool(parsed.terms or parsed.phrases or parsed.expands)
        filtering = bool(parsed.filters)
        valid = scoring or filtering
        if not valid:
            return {
                "valid": False,
                "explanation": "no clause survives analysis (empty bool)",
            }
        return {"valid": True, "explanation": " ".join(parts)}

    def simple_query_string(
        self,
        qs: str,
        k: int = 10,
        default_operator: str = "or",
        flags=None,
        **kw,
    ) -> DataFrame:
        """ES ``simple_query_string``: the lenient user-facing syntax
        (``|`` OR groups, ``+`` AND, ``-`` negation, quoted phrases with
        ``~slop``, trailing-``*`` prefix, ``~N`` fuzzy — each gated by
        ``flags``, default all). Parsed by functions/querystring.py
        ``parse_simple_query_string`` and lowered onto the SAME
        generalized bool kernel and single pruned scan as
        ``query_string`` — only the parser differs."""
        return self.query_string(
            qs, k=k, default_operator=default_operator,
            syntax="simple", flags=flags, **kw,
        )

    def pinned(
        self,
        ids: list[int],
        organic: str,
        k: int = 10,
        mode: str = "or",
        with_meta: bool = True,
        doc_filter: "Column | None" = None,
    ) -> DataFrame:
        """ES ``pinned`` query: the given doc ids rank first IN THE GIVEN
        ORDER, then the organic query's hits (pinned docs removed from
        the organic ranking). Like Lucene's PinnedQueryBuilder we pin
        via constant scores far above any organic score; f32 cannot
        represent MAX_VALUE - i distinctly, so pin i scores
        f32(MAX_FLOAT32 * (1 - i * 2^-20)) — strictly descending for up
        to ~10^6 pins, all astronomically above BM25 range — keeping the
        output one (score desc, doc_id asc)-ordered frame that composes
        with rank merges. One organic engine query + one k-row literal
        frame; the anti-join broadcasts the k-row pinned side."""
        pins = [int(i) for i in ids]
        spark = self.ix.postings.sparkSession
        max32 = float(np.finfo(np.float32).max)
        pin_df = spark.createDataFrame(
            [
                (float(np.float32(max32 * (1.0 - i * 2.0 ** -20))), p)
                for i, p in enumerate(pins)
            ],
            "score double, doc_id long",
        )
        # unknown pinned ids silently drop (ES behavior): semi-join the
        # k-row pin frame against docmap — pin frame is the build side.
        # A doc_filter (rule_query exclusions, alias filters) gates the
        # PIN side too: ES never pins a doc the filter excludes.
        allowed = self.ix.docmap
        if doc_filter is not None:
            allowed = allowed.filter(doc_filter)
        pin_df = F.broadcast(pin_df).join(
            allowed.select("doc_id"), "doc_id", "semi"
        )
        organic_hits = self.top_k(
            organic, k=k + len(pins), mode=mode, with_meta=False,
            doc_filter=doc_filter,
        )
        org = organic_hits.join(
            F.broadcast(pin_df.select("doc_id")), "doc_id", "anti"
        )
        cands = pin_df.select(
            "doc_id", F.col("score").cast("float").alias("score")
        ).unionByName(org.select("doc_id", "score"))
        return self._ranked(cands, k, with_meta)

    def rule_query(
        self,
        ruleset: "list[dict]",
        match_criteria: "dict",
        organic: str,
        k: int = 10,
        mode: str = "or",
        with_meta: bool = True,
    ) -> DataFrame:
        """ES ``rule`` query (8.10+ query rules): a ruleset of rules is
        evaluated DRIVER-SIDE against the request's ``match_criteria``
        metadata; applicable rules contribute ``pinned`` or ``exclude``
        doc-id actions which are applied over the organic query — pins
        via the pinned-ladder query, exclusions as a doc filter the
        organic ranking (and the pin side) never sees. Rule shape::

            {"type": "pinned"|"exclude",
             "criteria": [{"type": ..., "metadata": ..., "values": [...]}],
             "ids": [...]}

        Criteria types (all must match within a rule — ES ANDs them):
        ``always``, ``exact``, ``prefix``, ``suffix``, ``contains``,
        ``lt``/``lte``/``gt``/``gte`` (numeric, any value matches).
        ES's ``fuzzy`` criterion (its analyzed variant is
        scoring-model-specific) raises — the never-misread discipline.
        A doc id named by multiple applicable rules keeps its FIRST
        action in ruleset order (pin-then-exclude conflicts resolve to
        the earlier rule — the engine's documented deterministic
        reading of ES's unspecified conflict behavior). Zero applicable
        pins degrade to a plain (filtered) top_k: ONE engine query
        either way — criteria evaluation costs no Spark job."""
        pins: "list[int]" = []
        excl: "list[int]" = []
        seen: "set[int]" = set()
        for rule in ruleset:
            rtype = rule.get("type")
            if rtype not in ("pinned", "exclude"):
                raise ValueError(f"rule type must be pinned|exclude: {rtype}")
            if not all(
                self._rule_criterion(c, match_criteria)
                for c in rule.get("criteria", [])
            ):
                continue
            for i in rule.get("ids", []):
                i = int(i)
                if i in seen:
                    continue
                seen.add(i)
                (pins if rtype == "pinned" else excl).append(i)
        doc_filter = ~F.col("doc_id").isin(excl) if excl else None
        if pins:
            return self.pinned(
                pins, organic, k=k, mode=mode, with_meta=with_meta,
                doc_filter=doc_filter,
            )
        return self.top_k(
            organic, k=k, mode=mode, with_meta=with_meta,
            doc_filter=doc_filter,
        )

    @staticmethod
    def _rule_criterion(c: dict, match_criteria: dict) -> bool:
        """One query-rule criterion vs the request metadata. A criterion
        naming metadata the request didn't send does NOT match (ES)."""
        ctype = c.get("type")
        if ctype == "always":
            return True
        if ctype == "fuzzy":
            raise ValueError(
                "rule_query: the 'fuzzy' criterion type is not supported")
        meta = c.get("metadata")
        if meta is None or meta not in match_criteria:
            return False
        v = match_criteria[meta]
        vals = c.get("values", [])
        if ctype == "exact":
            return any(v == x for x in vals)
        if ctype == "prefix":
            return any(str(v).startswith(str(x)) for x in vals)
        if ctype == "suffix":
            return any(str(v).endswith(str(x)) for x in vals)
        if ctype == "contains":
            return any(str(x) in str(v) for x in vals)
        if ctype in ("lt", "lte", "gt", "gte"):
            import operator as _op

            cmp = {"lt": _op.lt, "lte": _op.le,
                   "gt": _op.gt, "gte": _op.ge}[ctype]
            # a non-numeric metadata/rule value is criterion-not-matched
            # (the ES type-mismatch reading), never a failed request
            # (ADVICE r05)
            try:
                return any(cmp(float(v), float(x)) for x in vals)
            except (TypeError, ValueError):
                return False
        raise ValueError(f"unknown rule criterion type: {ctype}")

    def span_near_query(
        self,
        terms: list[str],
        slop: int = 0,
        in_order: bool = True,
        k: int = 10,
        with_meta: bool = False,
    ) -> DataFrame:
        """Lucene/ES span_near query: clause spans within ``slop``
        positions of each other, optionally in order. For single-term
        clauses this is EXACTLY the sloppy-phrase kernel (Lucene rewrites
        match_phrase to SpanNear the same way), so this is a named alias
        of :meth:`phrase_query` — same scoring, same determinism
        contract; pinned equal by tests/test_advanced_queries.py."""
        return self.phrase_query(
            " ".join(terms), k=k, with_meta=with_meta, slop=slop, ordered=in_order
        )

    def intervals_match(
        self,
        terms: list[str],
        max_gaps: int = -1,
        ordered: bool = False,
        k: int = 10,
        with_meta: bool = False,
    ) -> DataFrame:
        """ES intervals query, ``match`` rule: the analyzed terms within
        ``max_gaps`` interleaving positions (-1 = unbounded is NOT
        supported — the engine requires a finite window, pass a corpus
        bound), ordered or not. Interval width <= len(terms) + max_gaps
        is the same admission predicate as the span/phrase kernel, so
        this is the intervals face of the one positions kernel."""
        if max_gaps < 0:
            raise ValueError("intervals_match requires a finite max_gaps")
        return self.phrase_query(
            " ".join(terms), k=k, with_meta=with_meta, slop=max_gaps, ordered=ordered
        )

    def intervals_query(
        self, source, k: int = 10, with_meta: bool = True
    ) -> DataFrame:
        """ES intervals query, full source algebra (operators/intervals.py
        documents the minimal-interval model, filter rules, weighting and
        fold order). ``source`` is an ``Iv`` AST::

            from bitcoin_ledger_2es_spark.operators.intervals import Iv
            s.intervals_query(
                Iv.all_of(
                    [Iv.any_of(Iv.match("scan"), Iv.match("merge")),
                     Iv.match("table")],
                    max_gaps=3, ordered=True,
                ).not_containing(Iv.match("join")),
                k=10,
            )

        Resolution (analysis, dictionary lookup, prefix/wildcard
        expansion, idf) runs driver-side; extraction, the interval
        algebra and BM25 run inside the shard kernel on one pruned
        postings scan — the same zero-exchange (aligned) / one-exchange
        (grouped) plan as every other positional query."""
        from ..operators.intervals import (
            IvAllOf,
            IvAnyOf,
            IvFilter,
            IvFuzzy,
            IvMatch,
            IvPrefix,
            IvSource,
            IvWildcard,
            decode_term_points,
            eval_resolved,
            iv_freqs,
        )
        from ..operators.spans import bm25_topk_frame, merge_dl

        self._no_pending_deletes("intervals_query")
        ix, cfg = self.ix, self.ix.cfg
        if not cfg.store_positions:
            raise ValueError(
                "intervals_query needs a positional index: build with "
                "EngineConfig(store_positions=True)"
            )
        if not isinstance(source, IvSource):
            raise TypeError("source must be an Iv AST (operators.intervals.Iv)")

        # pass 1: collect every leaf's terms (main + filter sides)
        texts: list[str] = []

        def walk(n):
            if isinstance(n, IvMatch):
                texts.extend(analyze_query(n.text, cfg))
            elif isinstance(n, (IvAnyOf, IvAllOf)):
                for c in n.sources:
                    walk(c)
            elif isinstance(n, IvFilter):
                walk(n.source)
                walk(n.reference)
            # prefix/wildcard expand against the dictionary below

        walk(source)
        found = self._lookup_terms(sorted(set(texts)))

        # pass 2: resolve to term_id nodes + the scoring-side idf sum
        scoring_idf = [0.0]

        def resolve(n, scores: bool):
            if isinstance(n, IvMatch):
                terms = analyze_query(n.text, cfg)
                if not terms:
                    raise ValueError("an intervals match analyzed to zero terms")
                if any(t not in found for t in terms):
                    return ("empty",)
                if scores:
                    for t in terms:
                        scoring_idf[0] += float(
                            idf_fn(float(found[t][1]), ix.n_docs)
                        )
                tids = tuple(found[t][0] for t in terms)
                if len(tids) == 1:
                    return ("points", tids)
                node = ("all", tuple(("points", (t,)) for t in tids), n.ordered)
                return ("gaps", node, n.max_gaps) if n.max_gaps >= 0 else node
            if isinstance(n, (IvPrefix, IvWildcard, IvFuzzy)):
                if isinstance(n, IvPrefix):
                    cond = F.col("term").startswith(n.prefix.lower())
                elif isinstance(n, IvFuzzy):
                    cond = (
                        F.levenshtein(F.col("term"), F.lit(n.term.lower()))
                        <= n.fuzziness
                    )
                else:
                    import re as _re

                    rx = "^" + "".join(
                        ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
                        for ch in n.pattern.lower()
                    ) + "$"
                    cond = F.col("term").rlike(rx)
                exp = self._expanded_alpha(cond, n.max_expansions)
                if not exp:
                    return ("empty",)
                if scores:  # blended: one idf at the max expansion df
                    scoring_idf[0] += float(
                        idf_fn(float(max(df_ for _, df_ in exp.values())), ix.n_docs)
                    )
                return ("points", tuple(tid for tid, _ in exp.values()))
            if isinstance(n, IvAnyOf):
                if not n.sources:
                    raise ValueError("any_of needs at least one source")
                kids = [resolve(c, scores) for c in n.sources]
                kids = [c for c in kids if c[0] != "empty"]
                if not kids:
                    return ("empty",)
                return kids[0] if len(kids) == 1 else ("any", tuple(kids))
            if isinstance(n, IvAllOf):
                if not n.sources:
                    raise ValueError("all_of needs at least one source")
                kids = [resolve(c, scores) for c in n.sources]
                if any(c[0] == "empty" for c in kids):
                    return ("empty",)
                node = ("all", tuple(kids), n.ordered)
                return ("gaps", node, n.max_gaps) if n.max_gaps >= 0 else node
            if isinstance(n, IvFilter):
                src = resolve(n.source, scores)
                ref = resolve(n.reference, False)  # filter side doesn't score
                if src[0] == "empty":
                    return ("empty",)
                if ref[0] == "empty":
                    if n.rule in ("containing", "contained_by"):
                        return ("empty",)
                    return src  # nothing to exclude
                if n.rule not in (
                    "containing", "not_containing", "contained_by",
                    "not_contained_by", "not_overlapping",
                ):
                    raise ValueError(f"unknown intervals filter rule: {n.rule}")
                return ("filter", src, ref, n.rule)
            raise TypeError(f"not an Iv source: {type(n).__name__}")

        root = resolve(source, True)
        if root[0] == "empty":
            return self._empty()
        sum_idf = scoring_idf[0]

        def node_tids(n, acc):
            if n[0] == "points":
                acc.update(n[1])
            elif n[0] == "any":
                for c in n[1]:
                    node_tids(c, acc)
            elif n[0] == "all":
                for c in n[1]:
                    node_tids(c, acc)
            elif n[0] == "gaps":
                node_tids(n[1], acc)
            elif n[0] == "filter":
                node_tids(n[1], acc)
                node_tids(n[2], acc)

        need_set: set[int] = set()
        node_tids(root, need_set)
        need = sorted(need_set)
        avgdl, k1, b, dps = ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            base = shard_id * dps
            by_tid = {tid: g for tid, g in pdf.groupby("term_id")}
            points, dl_pairs = decode_term_points(by_tid, need, base)
            ivl = eval_resolved(root, points)
            docs, freq = iv_freqs(ivl)
            dl_docs, dl_vals = merge_dl(dl_pairs)
            return bm25_topk_frame(
                docs, freq, dl_docs, dl_vals, sum_idf, base, k, avgdl, k1, b
            )

        pruned = ix.postings.filter(F.col("term_id").isin(need))
        cands = map_shards(pruned, kernel, _CAND_DDL, self._aligned)
        return self._ranked(cands, k, with_meta)

    def span_or_query(
        self, clauses: list[str], slop: int = 0, k: int = 10,
        with_meta: bool = True,
    ) -> DataFrame:
        """Lucene/ES span_or query: the union of the clauses' spans. Each
        clause is a text that analyzes to one term (point spans) or to an
        ordered span_near within ``slop`` (operators/spans.py documents
        the span model, weighting and fold order). Clauses whose terms
        are out-of-vocabulary contribute nothing (Lucene skips absent
        TermStates); idf = sum of per-term idfs over the surviving
        clauses' terms."""
        return self._span_family("or", [clauses, None], slop, 0, 0, k, with_meta)

    def span_multi_query(
        self,
        match: str,
        kind: str = "prefix",
        k: int = 10,
        max_expansions: int = 50,
        fuzziness: int = 1,
        with_meta: bool = True,
    ) -> DataFrame:
        """Lucene ``SpanMultiTermQueryWrapper`` (ES ``span_multi``): a
        multi-term query — ``prefix`` / ``wildcard`` / ``fuzzy`` — used
        where a span clause is expected. Lucene's SpanRewriteMethod
        rewrites it to the span-OR of the expanded terms' TermSpans;
        this is literally :meth:`span_or_query` over the dictionary
        expansion, capped in ALPHABETICAL term order (the span rewrite
        walks the term dictionary in term order — ``_expanded_alpha``,
        the same convention as match_phrase_prefix). Scoring follows
        the span family's documented model (idf summed over surviving
        clauses' terms, freq = sum of 1/(1+gap) over minimal spans).
        Out-of-vocabulary expansions are skipped; an empty expansion
        matches nothing."""
        t = match.lower()
        if kind == "prefix":
            cond = F.col("term").startswith(t)
        elif kind == "wildcard":
            import re as _re

            rx = "^" + "".join(
                ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
                for ch in t
            ) + "$"
            cond = F.col("term").rlike(rx)
        elif kind == "fuzzy":
            cond = F.levenshtein(F.col("term"), F.lit(t)) <= int(fuzziness)
        else:
            raise ValueError("span_multi kind: prefix | wildcard | fuzzy")
        found = self._expanded_alpha(cond, max_expansions)
        if not found:
            return self._empty()
        return self.span_or_query(sorted(found), k=k, with_meta=with_meta)

    def span_not_query(
        self, include: str, exclude: str, pre: int = 0, post: int = 0,
        slop: int = 0, k: int = 10, with_meta: bool = True,
    ) -> DataFrame:
        """Lucene/ES span_not query: spans of ``include`` with no
        ``exclude`` span overlapping [start - pre, end + post]. Scoring
        (tf AND idf) comes from the include side only — a vocabulary-miss
        on the exclude side just disables exclusion (nothing to
        subtract), a miss on the include side is an empty result."""
        return self._span_family(
            "not", [[include], exclude], slop, pre, post, k, with_meta
        )

    def span_containing_query(
        self, big: str, little: str, slop: int = 0, k: int = 10,
        with_meta: bool = True,
    ) -> DataFrame:
        """Lucene/ES span_containing query: spans of ``big`` that contain
        at least one span of ``little``; scored from the big side."""
        return self._span_family(
            "containing", [[big], little], slop, 0, 0, k, with_meta
        )

    def span_within_query(
        self, little: str, big: str, slop: int = 0, k: int = 10,
        with_meta: bool = True,
    ) -> DataFrame:
        """Lucene/ES span_within query: spans of ``little`` that lie
        inside at least one span of ``big``; scored from the little
        side."""
        return self._span_family(
            "within", [[little], big], slop, 0, 0, k, with_meta
        )

    def _span_family(
        self, kind: str, spec, slop: int, pre: int, post: int, k: int,
        with_meta: bool,
    ) -> DataFrame:
        """Shared executor for the span composition family. ``spec`` =
        [scoring_clauses, other_clause_or_None]. One pruned postings scan
        over the union of every clause's terms; extraction, composition
        and BM25 all happen inside the shard kernel (operators/spans.py),
        so the plan is the same zero-exchange (aligned) / one-exchange
        (grouped) shape as every other positional query."""
        from ..operators.spans import (
            bm25_topk_frame,
            clause_spans,
            merge_dl,
            span_containing,
            span_freqs,
            span_not,
            span_or,
            span_within,
        )

        self._no_pending_deletes(f"span_{kind}_query")
        ix, cfg = self.ix, self.ix.cfg
        if not cfg.store_positions:
            raise ValueError(
                f"span_{kind}_query needs a positional index: build with "
                "EngineConfig(store_positions=True)"
            )
        scoring_texts, other_text = spec
        scoring = [analyze_query(t, cfg) for t in scoring_texts]
        if any(not c for c in scoring):
            raise ValueError("a span clause analyzed to zero terms")
        other = analyze_query(other_text, cfg) if other_text is not None else None
        if other is not None and not other:
            raise ValueError("a span clause analyzed to zero terms")
        all_terms = sorted({t for c in scoring for t in c} | set(other or []))
        found = self._lookup_terms(all_terms)
        # vocabulary misses, per Lucene's absent-TermStates behavior:
        scoring = [c for c in scoring if all(t in found for t in c)]
        if not scoring:
            return self._empty()
        other_present = other is not None and all(t in found for t in other)
        if kind in ("containing", "within") and not other_present:
            return self._empty()  # nothing can contain / be contained
        # idf from the scoring side's terms, duplicates counted per clause
        sum_idf = 0.0
        for c in scoring:
            for t in c:
                sum_idf += float(idf_fn(float(found[t][1]), ix.n_docs))
        sc_tids = [[found[t][0] for t in c] for c in scoring]
        ot_tids = [found[t][0] for t in other] if other_present else None
        need = sorted({tid for c in sc_tids for tid in c} | set(ot_tids or []))
        avgdl, k1, b, dps = ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard
        slop_i, pre_i, post_i = int(slop), int(pre), int(post)

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            base = shard_id * dps
            by_tid = {tid: g for tid, g in pdf.groupby("term_id")}

            def extract(tids):
                blocks = [by_tid.get(t) for t in tids]
                if any(b_ is None for b_ in blocks):
                    from ..operators.spans import EMPTY_SPANS
                    return EMPTY_SPANS, np.empty(0, np.int64), np.empty(0, np.int64)
                return clause_spans(blocks, base, slop_i)

            parts, dl_pairs = [], []
            for tids in sc_tids:
                sp, d0, l0 = extract(tids)
                parts.append(sp)
                dl_pairs.append((d0, l0))
            combined = span_or(parts)
            if combined.doc.size and ot_tids is not None:
                osp, _, _ = extract(ot_tids)
                if kind == "not":
                    combined = span_not(combined, osp, pre_i, post_i)
                elif kind == "containing":
                    combined = span_containing(combined, osp)
                elif kind == "within":
                    combined = span_within(combined, osp)
            docs, freq = span_freqs(combined)
            dl_docs, dl_vals = merge_dl(dl_pairs)
            return bm25_topk_frame(
                docs, freq, dl_docs, dl_vals, sum_idf, base, k, avgdl, k1, b
            )

        pruned = ix.postings.filter(F.col("term_id").isin(need))
        cands = map_shards(pruned, kernel, _CAND_DDL, self._aligned)
        return self._ranked(cands, k, with_meta)

    def phrase_query(
        self,
        query_text: str,
        k: int = 10,
        with_meta: bool = False,
        slop: int = 0,
        ordered: bool = True,
    ) -> DataFrame:
        """ES match_phrase analogue (B5): the analyzed terms must occur at
        consecutive positions (``slop=0``) or within a slop window.
        Requires an index built with ``store_positions=True``.

        ``ordered=True`` (default, this engine's documented semantics):
        terms in query order, total span <= len + slop (Lucene ordered
        SpanNear); tf = count of matching starts (integer phrase_freq).

        ``ordered=False`` (ES ``match_phrase`` slop shape): terms in ANY
        order; minimal windows of width <= slop over slot-adjusted
        positions, each weighted 1/(1+width) — a transposed bigram matches
        at slop >= 2 with weight 1/3, Lucene's sloppy-freq behavior. tf is
        the weighted float freq (phrase_freq double). Repeated query terms
        are not supported unordered (injective slot matching undefined) —
        use ordered mode.

        Scoring = BM25 with tf = phrase freq, idf = sum of per-term idfs in
        query order (Lucene PhraseWeight; operators/phrase.py)."""
        from ..operators.phrase import score_shard_phrase, score_shard_phrase_unordered

        self._no_pending_deletes("phrase_query")
        ix, cfg = self.ix, self.ix.cfg
        if not cfg.store_positions:
            raise ValueError(
                "phrase_query needs a positional index: build with "
                "EngineConfig(store_positions=True)"
            )
        terms = analyze_query(query_text, cfg)
        unordered = not ordered and slop > 0
        freq_t = "double" if unordered else "long"
        if not terms:
            return self._empty_phrase(freq_t)
        if unordered and len(set(terms)) < len(terms):
            raise ValueError(
                "unordered sloppy phrase does not support repeated query "
                "terms (injective slot matching is undefined); use "
                "ordered=True"
            )
        found = self._lookup_terms(list(dict.fromkeys(terms)))
        if len(found) < len(set(terms)):
            return self._empty_phrase(freq_t)  # a phrase term matches nothing
        # idf summed in QUERY order, duplicates counted (PhraseWeight)
        sum_idf = 0.0
        for t in terms:
            sum_idf += float(idf_fn(float(found[t][1]), ix.n_docs))
        slot_tids = [found[t][0] for t in terms]
        uniq_tids = sorted(set(slot_tids))
        avgdl, k1, b, dps = ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            empty = pd.DataFrame(
                {"doc_id": pd.Series([], dtype=np.int64),
                 "score": pd.Series([], dtype=np.float32),
                 "phrase_freq": pd.Series(
                     [], dtype=np.float64 if unordered else np.int64)}
            )
            by_tid = {tid: g for tid, g in pdf.groupby("term_id")}
            if any(tid not in by_tid for tid in slot_tids):
                return empty  # this shard lacks a phrase term entirely
            base = shard_id * dps
            slots = [by_tid[tid] for tid in slot_tids]
            if unordered:
                return score_shard_phrase_unordered(
                    slots, sum_idf, base, k, avgdl, k1, b, slop=slop
                )
            return score_shard_phrase(
                slots, sum_idf, base, k, avgdl, k1, b, slop=slop
            )

        pruned = ix.postings.filter(F.col("term_id").isin(uniq_tids))
        phrase_ddl = f"doc_id long, score float, phrase_freq {freq_t}"
        cands = map_shards(pruned, kernel, phrase_ddl, self._aligned)
        top = cands.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        top = top.withColumn("rank", F.row_number().over(w))
        if not with_meta:
            return top.select("rank", "doc_id", "score", "phrase_freq").orderBy("rank")
        return (
            self.ix.docmap.select("doc_id", "conv_id", "turn_idx", "is_rollup")
            .join(F.broadcast(top), "doc_id", "inner")
            .select("rank", "doc_id", "score", "phrase_freq",
                    "conv_id", "turn_idx", "is_rollup")
            .orderBy("rank")
        )

    def phrase_prefix_query(
        self,
        query_text: str,
        k: int = 10,
        slop: int = 0,
        max_expansions: int = 50,
        with_meta: bool = False,
    ) -> DataFrame:
        """ES ``match_phrase_prefix`` (autocomplete-as-you-type): the
        analyzed query is matched as an ordered phrase whose LAST token is
        a PREFIX — Lucene MultiPhraseQuery with the last position holding
        the union of up to ``max_expansions`` dictionary terms starting
        with that token, expanded in ALPHABETICAL term order (the ES/
        Lucene phrase-prefix rewrite; a complete indexed term equal to the
        stem is included).

        Semantics on this engine:
          * a phrase occurrence may end in ANY expansion term — the last
            slot's postings are the union of the expansions' postings
            (positions are disjoint across terms, one token per position),
            fed through the SAME ordered kernel as phrase_query (slop=0
            adjacency; slop>0 ordered-within-window);
          * tf = phrase freq of the multi-phrase (windows ending in any
            expansion), saturation applies to the blended tf;
          * idf = sum of the fixed terms' idfs in query order + ONE
            blended idf for the prefix slot from the MAX expansion
            docFreq — the Lucene SynonymQuery docFreq blend, the same
            convention as match_synonyms (change one, change both, and
            the oracle twin phrase_prefix_topk).
        A single-token query (prefix only) degenerates to the blended
        one-slot multi-phrase: tf = sum of expansion tfs per doc.
        Determinism: expansion postings concatenated in ascending term_id
        order, per-slot keys re-sorted in the kernel (operators/phrase.py
        _slot_keys), f64 accumulate, f32 emit, (score desc, doc_id asc).
        Scale shape identical to phrase_query: one dictionary scan for the
        expansion (alphabetical LIMIT pushdown), one pruned postings scan
        over fixed + expansion term_ids, shard-local kernel, k-row merge.
        """
        from ..operators.phrase import score_shard_phrase

        self._no_pending_deletes("phrase_prefix_query")
        ix, cfg = self.ix, self.ix.cfg
        if not cfg.store_positions:
            raise ValueError(
                "phrase_prefix_query needs a positional index: build with "
                "EngineConfig(store_positions=True)"
            )
        terms = analyze_query(query_text, cfg)
        if not terms:
            return self._empty_phrase()
        fixed, stem = terms[:-1], terms[-1]
        found = self._lookup_terms(list(dict.fromkeys(fixed))) if fixed else {}
        if len(found) < len(set(fixed)):
            return self._empty_phrase()  # a fixed phrase term matches nothing
        exp = self._expanded_alpha(F.col("term").startswith(stem), max_expansions)
        if not exp:
            return self._empty_phrase()  # nothing in the dictionary extends the stem
        sum_idf = 0.0
        for t in fixed:  # query order, duplicates counted (PhraseWeight)
            sum_idf += float(idf_fn(float(found[t][1]), ix.n_docs))
        # blended idf for the prefix slot: max member docFreq (SynonymQuery)
        sum_idf += float(idf_fn(float(max(df_ for _, df_ in exp.values())), ix.n_docs))
        slot_tids = [found[t][0] for t in fixed]
        exp_tids = sorted(tid for tid, _ in exp.values())
        uniq_tids = sorted(set(slot_tids) | set(exp_tids))
        avgdl, k1, b, dps = ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            empty = pd.DataFrame(
                {"doc_id": pd.Series([], dtype=np.int64),
                 "score": pd.Series([], dtype=np.float32),
                 "phrase_freq": pd.Series([], dtype=np.int64)}
            )
            by_tid = {tid: g for tid, g in pdf.groupby("term_id")}
            if any(tid not in by_tid for tid in slot_tids):
                return empty  # this shard lacks a fixed phrase term
            last_parts = [by_tid[tid] for tid in exp_tids if tid in by_tid]
            if not last_parts:
                return empty  # no expansion term present in this shard
            base = shard_id * dps
            slots = [by_tid[tid] for tid in slot_tids]
            slots.append(
                last_parts[0] if len(last_parts) == 1 else pd.concat(last_parts)
            )
            return score_shard_phrase(
                slots, sum_idf, base, k, avgdl, k1, b, slop=slop
            )

        pruned = ix.postings.filter(F.col("term_id").isin(uniq_tids))
        phrase_ddl = "doc_id long, score float, phrase_freq long"
        cands = map_shards(pruned, kernel, phrase_ddl, self._aligned)
        top = cands.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        top = top.withColumn("rank", F.row_number().over(w))
        if not with_meta:
            return top.select("rank", "doc_id", "score", "phrase_freq").orderBy("rank")
        return (
            self.ix.docmap.select("doc_id", "conv_id", "turn_idx", "is_rollup")
            .join(F.broadcast(top), "doc_id", "inner")
            .select("rank", "doc_id", "score", "phrase_freq",
                    "conv_id", "turn_idx", "is_rollup")
            .orderBy("rank")
        )

    def _empty_phrase(self, freq_t: str = "long") -> DataFrame:
        return self._spark.createDataFrame(
            [], f"rank int, doc_id long, score float, phrase_freq {freq_t}"
        )

    def rescore_top_k(
        self,
        query_text: str,
        rescore,
        k: int = 10,
        window: int | None = None,
        mode: str = "or",
        query_weight: float = 1.0,
        rescore_weight: float = 1.0,
    ) -> DataFrame:
        """ES rescore / generic script_score hook (B17).

        Runs the normal BM25 query, takes the top ``window`` (>= k) hits,
        applies the user function to them as an Arrow-batched pandas
        stage, and re-ranks by ``query_weight * score + rescore_weight *
        rescore_score`` (ES rescore ``score_mode: total``).

        ``rescore``: pandas DataFrame with columns (doc_id, score,
        conv_id, turn_idx, is_rollup) -> array-like of per-row scores.
        Must be row-local (a per-document function, the script_score
        contract): Arrow may split the window into several batches.

        Returns (rank, doc_id, score, rescore_score, final_score, conv_id,
        turn_idx, is_rollup), deterministic ties (final desc, doc_id asc).
        """
        window = max(k, window or k)
        base = self.top_k(query_text, k=window, mode=mode, with_meta=True).drop("rank")

        def _apply(batches):
            for pdf in batches:
                ns = np.asarray(rescore(pdf), dtype=np.float64)
                yield pdf.assign(rescore_score=ns)

        ddl = (
            "doc_id long, score float, conv_id string, turn_idx int, "
            "is_rollup boolean, rescore_score double"
        )
        out = base.select(
            "doc_id", "score", "conv_id", "turn_idx", "is_rollup"
        ).mapInPandas(_apply, schema=ddl)
        final = F.lit(float(query_weight)) * F.col("score").cast("double") + F.lit(
            float(rescore_weight)
        ) * F.col("rescore_score")
        w = Window.orderBy(F.desc("final_score"), F.asc("doc_id"))
        return (
            out.withColumn("final_score", final)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "rank", "doc_id", "score", "rescore_score", "final_score",
                "conv_id", "turn_idx", "is_rollup",
            )
            .orderBy("rank")
        )

    def function_score(
        self,
        query_text: str,
        functions: list[Column],
        k: int = 10,
        window: int | None = None,
        mode: str = "or",
        boost_mode: str = "multiply",
        score_mode: str = "multiply",
    ) -> DataFrame:
        """ES function_score query (B+ breadth): run the BM25 query, fold
        the ``functions`` (column expressions over the hit frame — build
        them with functions.function_score.decay_col /
        field_value_factor_col / random_score_col) per ``score_mode``,
        combine with the query score per ``boost_mode``, re-rank. The
        functions are pure projections over the <= window top hits — no
        extra shuffle, no UDF."""
        from ..functions.function_score import apply_boost_mode, combine_functions

        window = max(k, window or k)
        base = self.top_k(query_text, k=window, mode=mode, with_meta=True).drop("rank")
        fn = combine_functions(functions, score_mode)
        final = apply_boost_mode(F.col("score"), fn, boost_mode)
        w = Window.orderBy(F.desc("final_score"), F.asc("doc_id"))
        return (
            base.withColumn("fn_value", fn.cast("double"))
            .withColumn("final_score", final.cast("double"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(
                "rank", "doc_id", "score", "fn_value", "final_score",
                "conv_id", "turn_idx", "is_rollup",
            )
            .orderBy("rank")
        )

    def top_k_batch(self, queries: pd.DataFrame) -> DataFrame:
        """ES _msearch analogue: answer many queries in ONE job.

        ``queries``: pandas (query_id, query_text, k, mode). One dictionary
        lookup for the union of terms, one pruned postings scan, one
        per-shard kernel pass that scores every query, one ranked merge —
        per-query driver/job overhead is amortized across the whole set.
        Results are rank-identical to per-query ``top_k``.
        """
        self._no_pending_deletes("top_k_batch")
        ix, cfg = self.ix, self.ix.cfg
        qspecs = []  # (query_id, k, mode, Counter(terms))
        all_terms: set[str] = set()
        for q in queries.itertuples(index=False):
            terms = analyze_query(q.query_text, cfg)
            qspecs.append((int(q.query_id), int(q.k), q.mode, Counter(terms)))
            all_terms.update(terms)
        tmap = self._lookup_terms(list(all_terms)) if all_terms else {}

        per_query = []  # (query_id, k, mode, [(tid, idf, weight)])
        union_tids: set[int] = set()
        for qid, k, mode, weights in qspecs:
            metas = [
                (tmap[t][0], float(idf_fn(float(tmap[t][1]), ix.n_docs)), float(w))
                for t, w in weights.items()
                if t in tmap
            ]
            if not metas or (mode == "and" and len(metas) < len(weights)):
                continue
            per_query.append((qid, k, mode, sorted(metas)))
            union_tids.update(m[0] for m in metas)
        empty = self._spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score float"
        )
        if not per_query:
            return empty

        avgdl, k1, b, dps = ix.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard

        def kernel(shard_id: int, left: pd.DataFrame, _) -> pd.DataFrame:
            base = shard_id * dps
            by_tid = {tid: g for tid, g in left.groupby("term_id")}
            # per-shard decode+score memo: a term shared by several
            # queries is decoded and contrib-scored ONCE; each query
            # multiplies its own weight onto the shared f64 base
            # (elementwise-identical to the inline path)
            dec_memo: dict = {}

            def decoded(tid, t_idf):
                if tid not in dec_memo:
                    dec_memo[tid] = decode_term_contrib(
                        by_tid[tid], base, t_idf, avgdl, k1, b)
                return dec_memo[tid]

            outs = []
            for qid, k, mode, metas in per_query:
                present = [m for m in metas if m[0] in by_tid]
                if not present or (mode == "and" and len(present) < len(metas)):
                    continue
                if mode == "or" and use_bmw(
                    [int(by_tid[m[0]]["n_docs"].sum()) for m in present], k
                ):
                    lists = [
                        _TermList(tid, t_idf, w, by_tid[tid]) for tid, t_idf, w in present
                    ]
                    res = score_shard_bmw(lists, k, avgdl, k1, b)
                else:
                    blocks = [
                        (tid, t_idf, w, d) for tid, t_idf, w in present
                        if (d := decoded(tid, t_idf)) is not None
                    ]
                    res = score_shard_exact(blocks, base, dps, None, k, mode,
                                            avgdl, k1, b, ordered=False)
                res.insert(0, "query_id", np.int64(qid))
                outs.append(res)
            if not outs:
                return pd.DataFrame(
                    {"query_id": pd.Series([], dtype=np.int64),
                     "doc_id": pd.Series([], dtype=np.int64),
                     "score": pd.Series([], dtype=np.float32)}
                )
            return pd.concat(outs, ignore_index=True)

        pruned_union = ix.postings.filter(F.col("term_id").isin(list(union_tids)))
        batch_ddl = "query_id long, doc_id long, score float"
        cands = map_shards(pruned_union, kernel, batch_ddl, self._aligned)
        kmap = {qid: k for qid, k, _, _ in per_query}
        kdf = self._spark.createDataFrame(
            [(qid, k) for qid, k in kmap.items()], "query_id long, qk int"
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            cands.withColumn("rank", F.row_number().over(w))
            .join(F.broadcast(kdf), "query_id")
            .filter(F.col("rank") <= F.col("qk"))
            .select("query_id", "rank", "doc_id", "score")
        )


def multi_match(
    field_searchers: "dict[str, BM25Searcher]",
    query_text: str,
    match_type: str = "best_fields",
    tie_breaker: float = 0.0,
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """ES multi_match over per-FIELD indexes: each field is scored
    independently with its OWN statistics (df, avgdl, doc lengths — the
    ES/Lucene per-field model, which is why this takes one
    ``BM25Searcher`` per field rather than one index with merged
    postings), then combined per doc:

    * ``best_fields`` (ES default) — DisjunctionMax over the field
      scores: best + ``tie_breaker`` * rest.
    * ``most_fields`` — sum of the field scores.

    (``cross_fields`` — blended term statistics across fields — is a
    different scoring model, not a combination of per-field scores, and
    is intentionally not offered; ES docs recommend best_fields for the
    common case.)

    All searchers must index the SAME document space (same docmap ids) —
    asserted via n_docs. Determinism: per-field scores are f32
    emissions, combined in f64 in field order (sorted-array fold), f32
    emit — the dis_max contract. Scale shape: one pruned scan per field
    index, doc_id-keyed partial agg, k-row merge."""
    if match_type not in ("best_fields", "most_fields"):
        raise ValueError("match_type: best_fields | most_fields")
    searchers = list(field_searchers.values())
    if not searchers:
        raise ValueError("multi_match requires at least one field")
    n0 = searchers[0].ix.n_docs
    for s in searchers[1:]:
        if s.ix.n_docs != n0:
            raise ValueError(
                "multi_match field indexes must cover the same documents "
                f"(n_docs {s.ix.n_docs} != {n0})"
            )
    subs = []
    for i, s in enumerate(searchers):
        c = s._all_match_scores(query_text, mode)
        if c is not None:
            subs.append(c.withColumn("q", F.lit(i)))
    primary = searchers[0]
    if not subs:
        return primary._spark.createDataFrame(
            [], "rank int, doc_id long, score float")
    grouped = _fold_tagged_scores(subs)
    if match_type == "most_fields":
        final = F.col("_sum")
    else:
        tb = float(tie_breaker)
        final = F.col("_mx") + F.lit(tb) * (F.col("_sum") - F.col("_mx"))
    per_doc = grouped.select("doc_id", final.cast("float").alias("score"))
    return primary._ranked(per_doc, k, with_meta=False)


def combined_fields(
    field_searchers: "dict[str, BM25Searcher]",
    query_text: str,
    k: int = 10,
    mode: str = "or",
    weights: "dict[str, float] | None" = None,
) -> DataFrame:
    """ES ``combined_fields`` query: term-centric scoring that treats the
    fields as ONE combined pseudo-field — the blended-statistics model
    multi_match deliberately does not offer (its docstring points here).
    For each term, over the combined field:

      tf_c(t, doc)  = sum_f w_f * tf_f(t, doc)
      dl_c(doc)     = sum_f w_f * dl_f(doc)        (docmap doc_len)
      avgdl_c       = sum_f w_f * avgdl_f          (exact: same doc space)
      df_c(t)       = docs containing t in ANY field

    then plain BM25 with this engine's (k1, b) from the primary field's
    config — exactly the statistics a literally-concatenated field would
    have (the ES mental model; per-field ``^w`` weights scale both tf
    and dl, the self-consistent weighted pseudo-field). ``mode='and'``
    requires every query term in the combined field.

    Determinism: per-term contributions fold in f64 in ascending TERM
    order (sorted-array aggregate), f32 emit — the engine contract.
    Scale shape: one pruned postings scan per field (term_freqs — only
    the query terms' blocks are read), a (doc, term)-keyed partial agg,
    a semi-joined docmap fetch for combined doc lengths restricted to
    matching docs, and the k-row merge. The df collect is <= |terms|
    rows off a cached union (released immediately after)."""
    searchers = list(field_searchers.values())
    if not searchers:
        raise ValueError("combined_fields requires at least one field")
    primary = searchers[0]
    n0 = primary.ix.n_docs
    for s in searchers[1:]:
        if s.ix.n_docs != n0:
            raise ValueError(
                "combined_fields field indexes must cover the same documents "
                f"(n_docs {s.ix.n_docs} != {n0})"
            )
    cfg = primary.ix.cfg
    toks = analyze_query(query_text, cfg)
    if not toks:
        return primary._spark.createDataFrame(
            [], "rank int, doc_id long, score float")
    qw = Counter(toks)  # duplicate query terms multiply their contribution
    terms = sorted(qw)
    w_by_field = {
        f: float((weights or {}).get(f, 1.0)) for f in field_searchers
    }

    u = None
    for fname, s in field_searchers.items():
        found = s._lookup_terms(terms)
        if not found:
            continue
        tid_to_term = F.create_map(*[
            x for t, (tid, _) in sorted(found.items())
            for x in (F.lit(int(tid)), F.lit(t))
        ])
        part = s.term_freqs(terms).select(
            "doc_id",
            F.element_at(tid_to_term, F.col("term_id")).alias("term"),
            (F.col("tf").cast("double") * F.lit(w_by_field[fname])).alias("wtf"),
        )
        u = part if u is None else u.unionByName(part)
    if u is None:
        return primary._spark.createDataFrame(
            [], "rank int, doc_id long, score float")
    u = u.persist()
    tf_comb = u.groupBy("doc_id", "term").agg(F.sum("wtf").alias("tf"))
    df_rows = (
        tf_comb.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .collect()
    )
    u.unpersist()
    dfm = {r["term"]: int(r["df"]) for r in df_rows}
    avgdl_c = sum(
        w_by_field[f] * float(s.ix.avgdl) for f, s in field_searchers.items()
    )
    # combined doc length: docmap doc_len per field, weighted, summed —
    # restricted to matching docs via the doc_id semi join
    doc_ids = tf_comb.select("doc_id").distinct()
    dl_u = None
    for fname, s in field_searchers.items():
        p = s.ix.docmap.join(doc_ids, "doc_id", "semi").select(
            "doc_id",
            (F.col("doc_len").cast("double") * F.lit(w_by_field[fname])).alias("wdl"),
        )
        dl_u = p if dl_u is None else dl_u.unionByName(p)
    dls = dl_u.groupBy("doc_id").agg(F.sum("wdl").alias("dl"))

    idf_map = F.create_map(*[
        x for t in terms
        for x in (F.lit(t), F.lit(float(qw[t]) * float(idf_fn(float(dfm.get(t, 0)), n0))))
    ])
    k1, b = float(cfg.k1), float(cfg.b)
    contrib = (
        F.element_at(idf_map, F.col("term"))
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl_c)))
    )
    scored = tf_comb.join(dls, "doc_id").withColumn("contrib", contrib)
    folded = F.aggregate(
        F.array_sort(F.collect_list(F.struct("term", "contrib"))),
        F.lit(0.0),
        lambda acc, x: acc + x["contrib"],
    )
    per_doc = scored.groupBy("doc_id").agg(
        folded.alias("_s"), F.count("*").alias("_nt")
    )
    if mode == "and":
        per_doc = per_doc.filter(F.col("_nt") == len(terms))
    return primary._ranked(
        per_doc.select("doc_id", F.col("_s").cast("float").alias("score")),
        k, with_meta=False,
    )


def rrf_fuse(
    results: "list[DataFrame]",
    rank_constant: int = 60,
    rank_window: int | None = None,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES Reciprocal Rank Fusion retriever (the 8.x ``rrf`` hybrid-search
    combiner): fuse N independently-RANKED result lists —
    ``rrf(d) = sum over retrievers of 1 / (rank_constant + rank_r(d))``
    for the retrievers whose top-``rank_window`` contains ``d``. Score
    scales are irrelevant (only ranks count), which is what makes this
    the standard lexical+vector hybrid combiner.

    Each input frame needs (``id_col``, ``rank``) — every query surface
    here emits exactly that (top_k, phrase_query, cosine_topk_bruteforce
    after renaming neighbor_id). Determinism: contributions are folded in
    f64 in RETRIEVER-INDEX order per doc (sorted-array fold, the dis_max
    contract); output ties (rrf desc, id asc), rank 1-based. Scale
    shape: the inputs are already <= rank_window rows each — the fusion
    is a k-row groupBy, no scan of anything."""
    if not results:
        raise ValueError("rrf_fuse requires at least one ranked input")
    rc = float(rank_constant)
    subs = []
    for i, r in enumerate(results):
        r = r.select(
            F.col(id_col).alias("_id"),
            F.col("rank").cast("long").alias("_rk"),
            F.lit(i).alias("_q"),
        )
        if rank_window is not None:
            r = r.filter(F.col("_rk") <= int(rank_window))
        subs.append(r)
    allr = subs[0]
    for r in subs[1:]:
        allr = allr.unionByName(r)
    contrib = allr.select(
        "_id", "_q",
        (F.lit(1.0) / (F.lit(rc) + F.col("_rk").cast("double"))).alias("_c"),
    )
    fused = contrib.groupBy("_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_q", "_c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_c"],
        ).alias("rrf")
    )
    w = Window.orderBy(F.desc("rrf"), F.asc("_id"))
    return (
        fused.orderBy(F.desc("rrf"), F.asc("_id")).limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("rank", F.col("_id").alias(id_col), "rrf")
        .orderBy("rank")
    )


def linear_fuse(
    results: "list[DataFrame]",
    weights: "list[float] | None" = None,
    normalizer: str = "minmax",
    rank_window: int | None = None,
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``linear`` retriever (the 8.16+ hybrid combiner alongside
    ``rrf``): fuse N ranked result lists by a WEIGHTED SUM of per-
    retriever NORMALIZED scores — ``linear(d) = sum_i w_i * norm_i(d)``.

    ``normalizer='minmax'`` (the ES default for score-scale mixing):
    ``(s - min) / (max - min)`` over the retriever's top-``rank_window``
    scores, so each retriever's best doc contributes ``w_i`` and its
    worst windowed doc 0 — a degenerate window (max == min) normalizes
    to 1.0 (the single surviving doc IS the retriever's best).
    ``'none'`` sums raw scores. A doc absent from a retriever
    contributes 0.0 there (bit-neutral in the f64 fold).

    Determinism contract (the rrf_fuse/dis_max discipline): per-doc
    contributions fold in f64 in RETRIEVER-INDEX order via
    array_sort(collect_list(struct)); normalization arithmetic is f64
    over the emitted f32 scores (CAST to double — the oracle mirrors
    with REAL round-trips); output ties (score desc, id asc), rank
    1-based. Scale shape: inputs are <= rank_window rows each, the
    min/max are per-retriever 1-row aggregates broadcast back — the
    whole fusion is k-row work, no scan."""
    if not results:
        raise ValueError("linear_fuse requires at least one ranked input")
    if normalizer not in ("minmax", "none"):
        raise ValueError(f"unknown normalizer: {normalizer}")
    w = [1.0] * len(results) if weights is None else [float(x) for x in weights]
    if len(w) != len(results):
        raise ValueError("weights must match results 1:1")
    subs = []
    for i, r in enumerate(results):
        r = r.select(
            F.col(id_col).alias("_id"),
            F.col("rank").cast("long").alias("_rk"),
            F.col("score").cast("double").alias("_s"),
        )
        if rank_window is not None:
            r = r.filter(F.col("_rk") <= int(rank_window))
        if normalizer == "minmax":
            ext = r.agg(F.min("_s").alias("_mn"), F.max("_s").alias("_mx"))
            r = r.crossJoin(F.broadcast(ext)).select(
                "_id",
                F.when(F.col("_mx") == F.col("_mn"), F.lit(1.0))
                .otherwise(
                    (F.col("_s") - F.col("_mn")) / (F.col("_mx") - F.col("_mn"))
                ).alias("_norm"),
            )
        else:
            r = r.select("_id", F.col("_s").alias("_norm"))
        subs.append(r.select(
            "_id", F.lit(i).alias("_q"),
            (F.lit(w[i]) * F.col("_norm")).alias("_c"),
        ))
    allr = subs[0]
    for r in subs[1:]:
        allr = allr.unionByName(r)
    fused = allr.groupBy("_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("_q", "_c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["_c"],
        ).alias("score")
    )
    win = Window.orderBy(F.desc("score"), F.asc("_id"))
    return (
        fused.orderBy(F.desc("score"), F.asc("_id")).limit(k)
        .withColumn("rank", F.row_number().over(win))
        .select("rank", F.col("_id").alias(id_col), "score")
        .orderBy("rank")
    )


def nested_query(
    df: DataFrame,
    nested_col: str,
    inner_filter,
    score_value,
    score_mode: str = "avg",
    min_children: int = 1,
    inner_hits: "int | None" = None,
) -> DataFrame:
    """ES ``nested`` query — the OTHER document-hierarchy model next to
    the join-field family (has_child/has_parent): a nested field is an
    array of sub-documents indexed WITH the parent, the query matches
    inner docs, and the parent scores by ``score_mode`` over its
    matching children (ES: avg default | sum | min | max | none -> 0).

    Spark-first lowering: the nested field is an ``array<struct>``
    column; matching is ``F.filter`` (a codegen lambda over the array —
    no explode, no shuffle, each parent row is self-contained exactly
    like a Lucene nested block), scoring folds the matched children's
    values in ARRAY ORDER via ``F.aggregate`` in f64 — so the caller
    must build the array in a deterministic order (sort_array /
    collect ordered by a unique key: array order IS the fold order, the
    engine-wide determinism contract). Parents with fewer than
    ``min_children`` matches drop (ES: >= 1).

    ``inner_filter`` / ``score_value``: lambdas taking the child struct
    Column -> BooleanType / numeric Column. Feed integer-valued scores
    for bit-mirrorable oracles (the contract.py recipe). Returns the
    parent frame + ``n_inner`` (matched children) + ``nested_score``
    (f64; 0.0 for score_mode='none'); with ``inner_hits=k`` also an
    ``inner_hits`` column carrying the first k matched children in
    ARRAY order (ES sorts inner hits by score; this engine's documented
    reading returns them in the same pinned array order the fold uses
    — deterministic by the caller's sort)."""
    if score_mode not in ("avg", "sum", "min", "max", "none"):
        raise ValueError(f"unknown nested score_mode: {score_mode}")
    if min_children < 1:
        raise ValueError("min_children must be >= 1")
    if inner_hits is not None and inner_hits < 1:
        raise ValueError("inner_hits must be >= 1")
    matched = F.filter(F.col(nested_col), inner_filter)
    out = df.withColumn("__m", matched).withColumn(
        "n_inner", F.size("__m").cast("long")
    ).filter(F.col("n_inner") >= min_children)
    if inner_hits is not None:
        out = out.withColumn(
            "inner_hits", F.slice(F.col("__m"), 1, int(inner_hits)))
    vals = F.transform(F.col("__m"), score_value)
    total = F.aggregate(
        vals, F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    if score_mode == "none":
        score = F.lit(0.0)
    elif score_mode == "sum":
        score = total
    elif score_mode == "avg":
        score = total / F.col("n_inner")
    elif score_mode == "min":
        score = F.array_min(vals).cast("double")
    else:
        score = F.array_max(vals).cast("double")
    return out.withColumn("nested_score", score).drop("__m")


def runtime_search(
    searcher: "BM25Searcher",
    source_df: DataFrame,
    runtime_mappings: "dict[str, str]",
    query_text: str = "",
    mode: str = "or",
    runtime_filter: "str | None" = None,
    k: "int | None" = None,
    sort: "list[tuple[str, bool]] | None" = None,
    fields: "list[str] | None" = None,
) -> DataFrame:
    """ES ``runtime_mappings``: search-request-scoped computed fields
    (public ES semantics: runtime fields are evaluated at QUERY time from
    ``_source``, never indexed, and are filterable / sortable /
    aggregatable exactly like mapped fields; scores come from the query,
    which runtime filters never alter — Lucene filter context).

    Spark-first lowering: each mapping is a Spark SQL expression
    (``F.expr``) over the columns of ``source_df`` — the engine's
    source-of-truth frame keyed by ``(conv_id, turn_idx)`` — plus the
    docmap columns (``doc_id``, ``doc_len``, ``is_rollup``). The plan is

      1. scored full match set (``_all_match_scores`` — the compound-
         layer kernel, per-shard cap = docs_per_shard, tombstones and
         alias filters applied) when ``query_text`` is non-empty, else
         the live docmap (``match_all``, score 0.0 — the ES convention
         for filter-only searches);
      2. ONE equi-join to ``source_df`` on (conv_id, turn_idx) — for a
         scored search the join input is already restricted to the match
         set, so source I/O is proportional to matches, the ES fetch-
         phase shape (Catalyst broadcasts whichever side is small);
      3. runtime columns via ``F.expr`` (JVM-side, whole-stage codegen —
         never a Python UDF), then the optional ``runtime_filter``
         predicate and ``sort``/``k`` selection.

    Because step 1 emits the FULL match set, post-hoc filtering and
    sorting are exact (no per-shard cap can drop a doc the filter would
    have kept — the same argument as dis_max/boosting). Returns columns
    ``(rank, doc_id, score, conv_id, turn_idx, *fields)``; ``sort``
    entries are ``(column, ascending)`` over runtime/docmap/source
    columns or ``_score``, always tie-broken by ``doc_id`` asc;
    ``fields`` defaults to all runtime fields (ES ``fields`` retrieval).
    ``sort`` with ``k=None`` returns the sorted UN-ranked frame (no
    ``rank`` column): ranking the full match set would need a global
    single-partition window — rank exists only at a ``k`` selection edge.

    Aggregations over runtime fields: call with ``k=None`` and compose
    operators/aggs.py on the returned frame — it carries every matching
    (or live) doc with its runtime columns and map-side partial
    aggregation applies as usual.
    """
    reserved = set(searcher.ix.docmap.columns) | set(source_df.columns) | {
        "_score", "score", "rank"
    }
    for name, script in runtime_mappings.items():
        if name in reserved:
            raise ValueError(
                f"runtime field {name!r} shadows an existing column"
            )
    dm = searcher.ix.docmap.select(
        "doc_id", "conv_id", "turn_idx", "doc_len", "is_rollup"
    )
    if query_text.strip():
        scores = searcher._all_match_scores(query_text, mode=mode)
        if scores is None:
            base = searcher._spark.createDataFrame(
                [], "doc_id long, score float"
            )
        else:
            base = scores
        frame = base.join(dm, "doc_id")
    else:
        # filter-only search: every LIVE doc, constant score (ES gives
        # match_all inside filter context score 0/boost; 0.0 here)
        frame = searcher._apply_deletes(dm).withColumn(
            "score", F.lit(0.0).cast("float")
        )
    frame = frame.join(source_df, ["conv_id", "turn_idx"], "left")
    for name, script in runtime_mappings.items():
        frame = frame.withColumn(name, F.expr(script))
    if runtime_filter:
        frame = frame.filter(F.expr(runtime_filter))
    out_fields = list(runtime_mappings) if fields is None else list(fields)
    frame = frame.select(
        "doc_id", "score", "conv_id", "turn_idx", *out_fields
    )
    if k is None and sort is None:
        return frame  # aggregation shape: full set, no selection edge
    keys = []
    for col, asc in (sort or [("_score", False)]):
        c = F.col("score") if col == "_score" else F.col(col)
        keys.append(c.asc() if asc else c.desc())
    keys.append(F.col("doc_id").asc())  # unique total order
    if k is None:
        # sort without k: the sorted, UN-ranked frame. Attaching rank here
        # would run row_number over a global single-partition window on the
        # full match set — the driver-of-skew anti-pattern this repo avoids
        # everywhere else. Rank is only meaningful at a selection edge;
        # callers that want it pass k.
        return frame.orderBy(*keys).select(
            "doc_id", "score", "conv_id", "turn_idx", *out_fields
        )
    win = Window.orderBy(*keys)
    out = frame.orderBy(*keys).limit(k)
    return (
        out.withColumn("rank", F.row_number().over(win))
        .select("rank", "doc_id", "score", "conv_id", "turn_idx", *out_fields)
        .orderBy("rank")
    )

"""dis_max, boosting, collapse, regexp expansion, span_near/intervals
aliases: engine vs brute-force pandas recomputation on the tiny corpus."""

import re

import numpy as np
import pandas as pd
import pytest

from bitcoin_ledger_2es_spark import BM25Searcher, build_index
from bitcoin_ledger_2es_spark.config import DEFAULT
from bitcoin_ledger_2es_spark.oracle import PandasOracle

from .conftest import count_jobs

CFG = DEFAULT.with_(docs_per_shard=128, block_size=32, store_positions=True)


@pytest.fixture(scope="module")
def pix(spark, tiny_df):
    return build_index(tiny_df, CFG)


@pytest.fixture(scope="module")
def searcher(pix):
    return BM25Searcher(pix)


@pytest.fixture(scope="module")
def docs_pdf(spark, tiny_df):
    from bitcoin_ledger_2es_spark.plans.build import tokenized_documents

    docs, _ = tokenized_documents(tiny_df, CFG)
    return docs.select("doc_id", "conv_id", "turn_idx", "is_rollup", "text").toPandas()


@pytest.fixture(scope="module")
def oracle(docs_pdf):
    return PandasOracle(docs_pdf[["doc_id", "text"]], CFG)


def _all_scores(oracle, q, mode="or"):
    df = oracle.top_k(q, k=oracle.n_docs, mode=mode)
    return dict(zip(df.doc_id.tolist(), df.score.tolist()))


def _rank(pairs, k):
    """(doc_id, score_f32) -> top-k under (score desc, doc_id asc)."""
    out = sorted(pairs, key=lambda p: (-float(p[1]), p[0]))[:k]
    return [p[0] for p in out], [float(p[1]) for p in out]


def test_dis_max_matches_pandas(searcher, oracle):
    q0, q1 = "w0001 w0005", "w0002"
    tb = 0.3
    s0, s1 = _all_scores(oracle, q0), _all_scores(oracle, q1)
    exp = {}
    for d in set(s0) | set(s1):
        subs = [np.float64(s[d]) for s in (s0, s1) if d in s]  # q-index order
        mx = max(subs)
        exp[d] = np.float32(mx + tb * (sum(subs) - mx))
    got = searcher.dis_max([q0, q1], tie_breaker=tb, k=25, with_meta=False).toPandas()
    ids, scores = _rank(exp.items(), 25)
    assert got["doc_id"].tolist() == ids
    assert got["score"].tolist() == scores


def test_dis_max_zero_tb_is_pure_max(searcher, oracle):
    q0, q1 = "w0001", "w0003 w0007"
    s0, s1 = _all_scores(oracle, q0), _all_scores(oracle, q1)
    exp = {d: np.float32(max(np.float64(s[d]) for s in (s0, s1) if d in s))
           for d in set(s0) | set(s1)}
    got = searcher.dis_max([q0, (q1, "or")], k=20, with_meta=False).toPandas()
    ids, scores = _rank(exp.items(), 20)
    assert got["doc_id"].tolist() == ids
    assert got["score"].tolist() == scores


def test_dis_max_single_query_equals_top_k(searcher):
    a = searcher.dis_max(["w0001 w0005"], k=15, with_meta=False).toPandas()
    b = searcher.top_k("w0001 w0005", k=15, with_meta=False).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_boosting_demotes_negative_matches(searcher, oracle):
    pos, neg, nb = "w0001 w0005", "w0002", 0.4
    sp = _all_scores(oracle, pos)
    negset = set(_all_scores(oracle, neg))
    exp = {d: np.float32(np.float64(s) * nb) if d in negset else np.float32(s)
           for d, s in sp.items()}
    # demotion, not exclusion: the corpus must actually exercise overlap
    assert set(sp) & negset, "pick pos/neg terms that co-occur in the corpus"
    k = oracle.n_docs  # k unbounded so demoted docs stay visible
    got = searcher.boosting(pos, neg, negative_boost=nb, k=k,
                            with_meta=False).toPandas()
    ids, scores = _rank(exp.items(), k)
    assert got["doc_id"].tolist() == ids
    assert got["score"].tolist() == scores
    assert any(d in negset for d in got["doc_id"])


def test_boosting_no_negative_matches_is_identity(searcher):
    a = searcher.boosting("w0001", "zqxzqx", k=10, with_meta=False).toPandas()
    b = searcher.top_k("w0001", k=10, with_meta=False).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


def test_collapse_matches_pandas(searcher, oracle, docs_pdf):
    q = "w0001 w0005"
    sc = _all_scores(oracle, q)
    meta = docs_pdf.set_index("doc_id")
    hits = pd.DataFrame(
        [(d, s, meta.loc[d, "conv_id"], int(meta.loc[d, "turn_idx"]))
         for d, s in sc.items() if not meta.loc[d, "is_rollup"]],
        columns=["doc_id", "score", "conv_id", "turn_idx"],
    )
    reps = []
    for cid, g in hits.groupby("conv_id"):
        g = g.sort_values(["score", "doc_id"], ascending=[False, True],
                          kind="mergesort")
        r = g.iloc[0]
        reps.append((cid, int(r.doc_id), int(r.turn_idx), float(r.score), len(g)))
    reps.sort(key=lambda t: (-t[3], t[1]))
    reps = reps[:10]
    got = searcher.collapse_topk(q, k=10).toPandas()
    assert got["conv_id"].tolist() == [r[0] for r in reps]
    assert got["doc_id"].tolist() == [r[1] for r in reps]
    assert got["turn_idx"].tolist() == [r[2] for r in reps]
    assert got["score"].tolist() == [r[3] for r in reps]
    assert got["inner_hits"].tolist() == [r[4] for r in reps]


def test_regexp_query_matches_oracle_expansion(searcher, oracle):
    pattern = "w0.1.*"
    rx = re.compile("^(?:" + pattern + ")$")
    cands = [(t, len(oracle.postings[t][0])) for t in oracle.postings if rx.match(t)]
    cands.sort(key=lambda x: (-x[1], x[0]))
    terms = [t for t, _ in cands[:50]]
    assert terms, "regexp must expand on the synthetic vocab"
    got = searcher.regexp_query(pattern, k=15, with_meta=False).toPandas()
    exp = oracle.top_k(" ".join(terms), k=15, mode="or")
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["score"].tolist() == exp["score"].tolist()


def test_span_near_is_phrase_alias(searcher):
    for slop, order in ((0, True), (2, True), (2, False)):
        a = searcher.span_near_query(["w0001", "w0002"], slop=slop,
                                     in_order=order, k=10).toPandas()
        b = searcher.phrase_query("w0001 w0002", k=10, slop=slop,
                                  ordered=order).toPandas()
        assert a["doc_id"].tolist() == b["doc_id"].tolist(), (slop, order)
        assert a["score"].tolist() == b["score"].tolist(), (slop, order)


def test_intervals_requires_finite_gaps(searcher):
    with pytest.raises(ValueError, match="finite"):
        searcher.intervals_match(["w0001", "w0002"])
    a = searcher.intervals_match(["w0001", "w0002"], max_gaps=3, ordered=True,
                                 k=5).toPandas()
    b = searcher.phrase_query("w0001 w0002", k=5, slop=3, ordered=True).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()


# ---------------------------------------------------------------------------
# multi_match: per-field indexes with independent statistics


@pytest.fixture(scope="module")
def titled_df(spark, tiny_df):
    """Second field over the SAME doc space: the first 3 tokens of each
    turn ('title'), indexed separately — ES's per-field statistics
    model (rollups concatenate the truncated turns, engine-side)."""
    from pyspark.sql import functions as F

    return tiny_df.withColumn(
        "text", F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 3))
    ).cache()


@pytest.fixture(scope="module")
def title_ix(titled_df):
    return build_index(titled_df, CFG)


@pytest.fixture(scope="module")
def title_oracle(spark, titled_df):
    from bitcoin_ledger_2es_spark.plans.build import tokenized_documents

    docs, _ = tokenized_documents(titled_df, CFG)
    pdf = docs.select("doc_id", "text").toPandas()
    return PandasOracle(pdf, CFG)


def test_multi_match_best_and_most_fields(searcher, title_ix, oracle, title_oracle):
    from bitcoin_ledger_2es_spark import BM25Searcher
    from bitcoin_ledger_2es_spark.plans.query import multi_match

    ts = BM25Searcher(title_ix)
    q = "w0001 w0005"
    body_scores = _all_scores(oracle, q)
    title_scores = _all_scores(title_oracle, q)
    exp_best, exp_most = {}, {}
    tb = 0.25
    for d in set(body_scores) | set(title_scores):
        subs = [np.float64(s[d]) for s in (body_scores, title_scores) if d in s]
        mx, sm = max(subs), sum(subs)
        exp_best[d] = np.float32(mx + tb * (sm - mx))
        exp_most[d] = np.float32(sm)
    fields = {"body": searcher, "title": ts}
    got_b = multi_match(fields, q, "best_fields", tie_breaker=tb, k=30).toPandas()
    ids, scores = _rank(exp_best.items(), 30)
    assert got_b["doc_id"].tolist() == ids
    assert got_b["score"].tolist() == scores
    got_m = multi_match(fields, q, "most_fields", k=30).toPandas()
    ids, scores = _rank(exp_most.items(), 30)
    assert got_m["doc_id"].tolist() == ids
    assert got_m["score"].tolist() == scores


def test_multi_match_guards(searcher):
    from bitcoin_ledger_2es_spark.plans.query import multi_match

    with pytest.raises(ValueError, match="match_type"):
        multi_match({"a": searcher}, "w0001", "cross_fields")
    with pytest.raises(ValueError, match="at least one"):
        multi_match({}, "w0001")


def test_scroll_pages_match_topk(searcher):
    pages = list(searcher.scroll("w0001 w0005", page_size=7, max_pages=3))
    flat_ids = [d for p in pages for d in p["doc_id"].tolist()]
    flat_scores = [s for p in pages for s in p["score"].tolist()]
    ref = searcher.top_k("w0001 w0005", k=21, with_meta=False).toPandas()
    assert flat_ids == ref["doc_id"].tolist()
    assert flat_scores == ref["score"].tolist()


def test_sliced_scroll_partitions_the_match_set(searcher):
    """ES sliced scroll: the N slices are disjoint and their union is
    exactly the full scroll's doc set; within a slice, ordering matches
    a doc_filter'ed top_k."""
    q, n_slices = "w0001 w0005", 3
    full = searcher.top_k(q, k=1_000_000, with_meta=False).toPandas()
    seen: list[int] = []
    for sid in range(n_slices):
        pages = list(searcher.scroll(q, page_size=50, slice_id=sid,
                                     slices=n_slices))
        ids = [d for p in pages for d in p["doc_id"].tolist()]
        assert all(d % n_slices == sid for d in ids)
        # within-slice order is the global (score desc, doc_id asc) order
        ref = [d for d in full["doc_id"].tolist() if d % n_slices == sid]
        assert ids == ref
        seen += ids
    assert sorted(seen) == sorted(full["doc_id"].tolist())
    with pytest.raises(ValueError, match="slice_id"):
        next(searcher.scroll(q, slice_id=3, slices=3))


def test_search_template_renders_and_runs(searcher):
    from bitcoin_ledger_2es_spark.functions.template import render_template

    # ES default-value idiom + scalar + join
    src = "{{q}} +{{must}}{{^must}}w0001{{/must}}"
    assert render_template(src, {"q": "w0005", "must": "w0002"}) == "w0005 +w0002"
    assert render_template(src, {"q": "w0005"}) == "w0005 +w0001"
    assert render_template("{{#join}}ts{{/join}}", {"ts": ["a", "b"]}) == "a,b"
    assert render_template("{{#toJson}}v{{/toJson}}", {"v": [1, "x"]}) == '[1,"x"]'
    with pytest.raises(KeyError):
        render_template("{{missing}}", {})
    with pytest.raises(ValueError, match="unsupported"):
        render_template("{{#url}}x{{/url}}", {})

    got = searcher.search_template(
        "{{q}} +{{must}}", {"q": "w0005", "must": "w0001"},
        k=15, with_meta=False,
    ).toPandas()
    ref = searcher.query_string("w0005 +w0001", k=15, with_meta=False).toPandas()
    assert got["doc_id"].tolist() == ref["doc_id"].tolist()
    assert got["score"].tolist() == ref["score"].tolist()


def test_explain_score_matches_engine(searcher, oracle):
    q = "w0001 w0001 w0005"  # duplicate term -> weight 2 on w0001
    full = searcher.top_k(q, k=5, with_meta=False).toPandas()
    doc = int(full.iloc[0]["doc_id"])
    exp_score = float(full.iloc[0]["score"])
    br = searcher.explain_score(q, doc).toPandas()
    assert set(br["term"]) <= {"w0001", "w0005"}
    # weights reflect query-term multiplicity
    assert (br.loc[br.term == "w0001", "weight"] == 2.0).all()
    # f64 sum in ascending term_id order, f32 emit == the engine score
    total = np.float32(np.sum(br["contrib"].to_numpy(np.float64)))
    assert float(total) == exp_score
    # per-term contribs match the pandas oracle's bm25 math
    for r in br.itertuples(index=False):
        t_docs, t_tfs = oracle.postings[r.term][0], oracle.postings[r.term][1]
        assert r.df == len(t_docs)


def test_explain_score_and_mode_absent_term(searcher):
    br = searcher.explain_score("w0001 zqxzqx", 0, mode="and")
    assert br.count() == 0


def test_terms_set_query_is_bool_msm(searcher):
    import math

    terms = ["w0001", "w0005", "w0009"]
    a = searcher.terms_set_query(
        terms, minimum_should_match=lambda n: math.ceil(0.67 * n),
        k=15, with_meta=False,
    ).toPandas()
    b = searcher.bool_query(
        should=" ".join(terms), minimum_should_match=2, k=15, with_meta=False
    ).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()
    # default = ALL terms required
    c = searcher.terms_set_query(terms, k=15, with_meta=False).toPandas()
    d = searcher.bool_query(
        should=" ".join(terms), minimum_should_match=3, k=15, with_meta=False
    ).toPandas()
    assert c["doc_id"].tolist() == d["doc_id"].tolist()


def test_count_matches_match_docs(searcher):
    n = searcher.count("w0001 w0005", mode="and", must_not="w0009")
    m = searcher.match_docs("w0001 w0005", mode="and", must_not="w0009").count()
    assert n == m and n > 0
    assert searcher.count("zqxzqx") == 0


def _synonym_twin(oracle, tokens, syn_map, mode="or"):
    """Blended SynonymQuery pandas twin: tf summed across members, idf
    from max member df, f64 accumulation in token order."""
    from collections import Counter

    from bitcoin_ledger_2es_spark.functions.bm25 import idf as idf_fn

    weights = Counter(tokens)
    score, seen = {}, {}
    groups = []
    for tok in dict.fromkeys(tokens):
        members = [m for m in dict.fromkeys([tok] + syn_map.get(tok, []))
                   if m in oracle.postings]
        if members:
            groups.append((float(weights[tok]), members))
        elif mode == "and":
            return {}
    for w, members in groups:
        max_df = max(len(oracle.postings[m][0]) for m in members)
        gidf = float(idf_fn(float(max_df), oracle.n_docs))
        tfacc = {}
        for m in sorted(members, key=lambda t: oracle.term_id[t]):
            for row, tf in zip(*oracle.postings[m]):
                tfacc[row] = tfacc.get(row, 0.0) + float(tf)
        for row, tf in tfacc.items():
            dl = float(oracle.doc_len[row])
            c = w * gidf * tf * (1.2 + 1.0) / (
                tf + 1.2 * (1 - 0.75 + 0.75 * dl / oracle.avgdl))
            d = int(oracle.doc_ids[row])
            score[d] = score.get(d, 0.0) + c
            seen[d] = seen.get(d, 0) + 1
    need = len(groups)
    return {
        d: np.float32(s) for d, s in score.items()
        if (seen[d] == need if mode == "and" else True)
    }


def test_match_synonyms_blended(searcher, oracle):
    syn = {"w0001": ["w0002", "w0777"], "w0005": ["w0009"]}
    tokens = ["w0001", "w0005"]
    for mode in ("or", "and"):
        exp = _synonym_twin(oracle, tokens, syn, mode)
        got = searcher.match_synonyms(
            "w0001 w0005", syn, k=len(exp) + 5, mode=mode, with_meta=False
        ).toPandas()
        ids, scores = _rank(exp.items(), len(exp) + 5)
        assert got["doc_id"].tolist() == ids, mode
        assert got["score"].tolist() == scores, mode
    # blending != boolean rewrite: a doc with both members must NOT score
    # like two independent terms (saturation on the summed tf)
    boolean = searcher.top_k("w0001 w0002", k=10, with_meta=False).toPandas()
    blended = searcher.match_synonyms(
        "w0001", {"w0001": ["w0002"]}, k=10, with_meta=False
    ).toPandas()
    assert blended["score"].tolist() != boolean["score"].tolist()


def test_match_synonyms_no_members_and_mode(searcher):
    assert searcher.match_synonyms(
        "zzqqx", {"zzqqx": ["zzqqy"]}, mode="and", k=5
    ).count() == 0
    # unknown synonym falls back to the plain term
    a = searcher.match_synonyms("w0001", {"w0001": ["zzqqy"]}, k=10,
                                with_meta=False).toPandas()
    b = searcher.top_k("w0001", k=10, with_meta=False).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert a["score"].tolist() == b["score"].tolist()


# ---------------------------------------------------------------------------
# combined_fields: blended statistics over the combined pseudo-field


def test_combined_fields_matches_pandas(
    spark, searcher, title_ix, titled_df, docs_pdf
):
    from bitcoin_ledger_2es_spark import BM25Searcher
    from bitcoin_ledger_2es_spark.functions.analyze import tokenize_series
    from bitcoin_ledger_2es_spark.functions.bm25 import idf as idf_fn
    from bitcoin_ledger_2es_spark.plans.build import tokenized_documents
    from bitcoin_ledger_2es_spark.plans.query import combined_fields

    ts = BM25Searcher(title_ix)
    tdocs, _ = tokenized_documents(titled_df, CFG)
    title_pdf = tdocs.select("doc_id", "text").toPandas()
    q = "w0001 w0005"
    terms = sorted(set(q.split()))

    def tok_map(pdf):
        toks = tokenize_series(pdf["text"], CFG)
        return dict(zip(pdf["doc_id"].tolist(), toks))

    body, title = tok_map(docs_pdf), tok_map(title_pdf)
    n0 = searcher.ix.n_docs
    assert ts.ix.n_docs == n0

    def expected(weights):
        wb, wt = weights
        avgdl_c = wb * float(searcher.ix.avgdl) + wt * float(ts.ix.avgdl)
        tf_c, dl_c = {}, {}
        for d in body:
            dl_c[d] = wb * len(body[d]) + wt * len(title.get(d, []))
            for t in terms:
                v = wb * body[d].count(t) + wt * title.get(d, []).count(t)
                if v > 0:
                    tf_c[(d, t)] = v
        df_c = {
            t: sum(1 for d in body if (d, t) in tf_c) for t in terms
        }
        out = {}
        for d in body:
            s = np.float64(0.0)
            nt = 0
            for t in terms:  # ascending term order f64 fold
                if (d, t) not in tf_c:
                    continue
                nt += 1
                tf = tf_c[(d, t)]
                s += idf_fn(float(df_c[t]), n0) * (tf * 2.2) / (
                    tf + 1.2 * (0.25 + 0.75 * dl_c[d] / avgdl_c)
                )
            if nt:
                out[d] = (np.float32(s), nt)
        return out

    fields = {"body": searcher, "title": ts}
    exp = expected((1.0, 1.0))
    got = combined_fields(fields, q, k=30).toPandas()
    ids, scores = _rank([(d, s) for d, (s, _) in exp.items()], 30)
    assert got["doc_id"].tolist() == ids
    assert got["score"].tolist() == scores

    # mode='and': every term must appear somewhere in the combined field
    got_and = combined_fields(fields, q, k=30, mode="and").toPandas()
    exp_and = [(d, s) for d, (s, nt) in exp.items() if nt == len(terms)]
    ids, scores = _rank(exp_and, 30)
    assert got_and["doc_id"].tolist() == ids
    assert got_and["score"].tolist() == scores

    # per-field weight scales tf AND dl (self-consistent pseudo-field)
    expw = expected((1.0, 2.0))
    got_w = combined_fields(
        fields, q, k=30, weights={"title": 2.0}
    ).toPandas()
    ids, scores = _rank([(d, s) for d, (s, _) in expw.items()], 30)
    assert got_w["doc_id"].tolist() == ids
    assert got_w["score"].tolist() == scores


def test_combined_fields_guards(searcher):
    from bitcoin_ledger_2es_spark.plans.query import combined_fields

    with pytest.raises(ValueError, match="at least one"):
        combined_fields({}, "w0001")
    assert combined_fields({"body": searcher}, "zqxzqx").count() == 0


def test_field_caps(searcher):
    caps = searcher.field_caps().toPandas().set_index("field")
    assert caps.loc["text", "searchable"] and not caps.loc["text", "aggregatable"]
    assert bool(caps.loc["text", "positions"]) == CFG.store_positions
    assert caps.loc["doc_id", "searchable"] and caps.loc["doc_id", "aggregatable"]
    assert caps.loc["conv_id", "type"] == "string"


def test_dis_max_jobs_independent_of_subquery_count(searcher):
    """The fused compound scan: driver job count for dis_max must not
    grow with the number of subqueries (one pruned scan for the union of
    their terms — _all_match_scores_multi)."""
    sc = searcher.ix.postings.sparkSession.sparkContext
    # warm the term cache so dictionary lookups don't add jobs unevenly
    searcher._lookup_terms(["w0001", "w0002", "w0003", "w0005", "w0008"])
    n2, n4 = (
        count_jobs(sc, lambda: searcher.dis_max(
            qs, tie_breaker=0.3, k=5, with_meta=False).collect())
        for qs in (["w0001 w0002", "w0003"],
                   ["w0001 w0002", "w0003", "w0005", "w0008"])
    )
    assert n4 == n2, f"dis_max jobs grew with subquery count: {n2} -> {n4}"


def test_collapse_skewed_key_partial_agg(spark):
    """The 100x-scale watch item from round 4: one conversation holding
    >=50% of the match set. The per-conv representative is now a
    struct-min HASH AGGREGATION — the hot key combines map-side
    (partial_min/partial_count before the conv_id exchange), so no
    single sort partition serializes the skewed bucket the old
    row_number window would have. Semantics pinned against pandas on
    the skewed corpus; plan pinned on the partial aggregation."""
    import pandas as pd
    from pyspark.sql import functions as F

    ts = pd.Timestamp("2024-01-01")
    rows = [
        ("cbig", t, "user", f"skewq w{t % 7:04d}", None, ts)
        for t in range(300)
    ]
    for c in range(100):
        for t in range(2):
            rows.append((f"c{c:04d}", t, "user", f"skewq plain{c}", None, ts))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    from bitcoin_ledger_2es_spark.plans.build import tokenized_documents
    from bitcoin_ledger_2es_spark.sources.synth import TRANSCRIPTS_DDL

    df = spark.createDataFrame(pdf, TRANSCRIPTS_DDL)
    ix = build_index(df, CFG)
    s = BM25Searcher(ix)
    got_df = s.collapse_topk("skewq", k=120)  # > n_convs: every rep visible
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "partial_min" in plan and "partial_count" in plan
    got = got_df.toPandas()
    # first principles: every turn matches; rep = (score desc, doc_id asc).
    # The oracle corpus must be the FULL doc set (rollups included — they
    # shape n_docs/avgdl/df); only the HIT set is restricted to turns.
    docs, _ = tokenized_documents(df, CFG)
    all_pdf = docs.select(
        "doc_id", "conv_id", "turn_idx", "is_rollup", "text"
    ).toPandas()
    oracle = PandasOracle(all_pdf[["doc_id", "text"]], CFG)
    sc = {
        int(d): float(v)
        for d, v in oracle.top_k("skewq", k=10_000, mode="or")[
            ["doc_id", "score"]
        ].itertuples(index=False)
    }
    dm = all_pdf[~all_pdf["is_rollup"]]
    hits = dm[dm["doc_id"].isin(sc)].copy()
    hits["score"] = hits["doc_id"].map(sc)
    reps = []
    for cid, g in hits.groupby("conv_id"):
        g = g.sort_values(["score", "doc_id"], ascending=[False, True],
                          kind="mergesort")
        r = g.iloc[0]
        reps.append((cid, int(r.doc_id), float(r.score), len(g)))
    reps.sort(key=lambda t: (-t[2], t[1]))
    reps = reps[:120]
    assert got["conv_id"].tolist() == [r[0] for r in reps]
    assert got["doc_id"].tolist() == [r[1] for r in reps]
    assert got["score"].tolist() == [r[2] for r in reps]
    assert got["inner_hits"].tolist() == [r[3] for r in reps]
    assert got.loc[got["conv_id"] == "cbig", "inner_hits"].iloc[0] == 300

"""more_like_this, span_first_query, conversations_topk (has_child):
engine vs brute-force pandas recomputation on the tiny corpus."""

import numpy as np
import pytest

from bitcoin_ledger_2es_spark import BM25Searcher, build_index
from bitcoin_ledger_2es_spark.config import DEFAULT
from bitcoin_ledger_2es_spark.functions.analyze import analyze_query, tokenize_series
from bitcoin_ledger_2es_spark.functions.bm25 import idf as idf_fn
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
    return docs.select("doc_id", "conv_id", "is_rollup", "text").toPandas()


@pytest.fixture(scope="module")
def oracle(docs_pdf):
    return PandasOracle(docs_pdf[["doc_id", "text"]], CFG)


def test_mlt_selects_and_scores(searcher, oracle, docs_pdf):
    like = "w0003 w0003 w0050 w0120 w0700 w0001"
    got = searcher.more_like_this(
        like, k=20, max_query_terms=3, min_doc_freq=2, with_meta=False
    ).toPandas()
    # replicate term selection: tf-in-input * idf, top 3 (sig desc, term asc)
    from collections import Counter

    tf = Counter(analyze_query(like, CFG))
    sel = sorted(
        (
            (-n * float(idf_fn(float(len(oracle.postings[t][0])), oracle.n_docs)), t)
            for t, n in tf.items()
            if t in oracle.postings and len(oracle.postings[t][0]) >= 2
        )
    )[:3]
    chosen = " ".join(t for _, t in sel)
    exp = oracle.top_k(chosen, k=20, mode="or")
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["score"].tolist() == exp["score"].tolist()


def test_mlt_respects_doc_freq_bounds(searcher, oracle):
    # min_doc_freq high enough to exclude everything -> empty
    assert searcher.more_like_this("w0900 w0901", min_doc_freq=10**9, k=5).count() == 0


def test_span_first_matches_brute(searcher, oracle, docs_pdf):
    term, end = "w0002", 4
    got = searcher.span_first_query(term, end, k=30, with_meta=False).toPandas()
    toks = oracle._toks
    rows, tfs = [], []
    for row, ts in enumerate(toks):
        c = sum(1 for x in ts[:end] if x == term)
        if c:
            rows.append(row)
            tfs.append(c)
    rows = np.asarray(rows)
    tf = np.asarray(tfs, dtype=np.float64)
    t_idf = idf_fn(float(len(oracle.postings[term][0])), oracle.n_docs)
    dl = oracle.doc_len[rows].astype(np.float64)
    s32 = (
        t_idf * tf * (CFG.k1 + 1) / (tf + CFG.k1 * (1 - CFG.b + CFG.b * dl / oracle.avgdl))
    ).astype(np.float32)
    order = np.lexsort((oracle.doc_ids[rows], -s32.astype(np.float64)))[:30]
    assert got["doc_id"].tolist() == oracle.doc_ids[rows][order].tolist()
    assert got["score"].tolist() == s32[order].tolist()


def test_span_first_requires_positions(spark, tiny_df):
    ix = build_index(tiny_df, CFG.with_(store_positions=False))
    with pytest.raises(ValueError, match="store_positions"):
        BM25Searcher(ix).span_first_query("w0001", 3)


def test_conversations_modes_match_pandas(searcher, oracle, docs_pdf):
    q = "w0001 w0005"
    # child scores: every matching non-rollup doc
    all_scores = oracle.top_k(q, k=oracle.n_docs, mode="or")
    meta = docs_pdf.set_index("doc_id")
    child = all_scores[~meta.loc[all_scores.doc_id, "is_rollup"].to_numpy()]
    conv = meta.loc[child.doc_id, "conv_id"].to_numpy()
    import pandas as pd

    cdf = pd.DataFrame(
        {"conv_id": conv, "doc_id": child.doc_id.to_numpy(),
         "score": child.score.to_numpy()}
    )
    for mode in ("max", "sum", "avg", "none"):
        got = searcher.conversations_topk(q, k=8, score_mode=mode).toPandas()
        grp = cdf.sort_values("doc_id").groupby("conv_id")
        n = grp.size()
        if mode == "max":
            sc = grp["score"].max().astype(np.float32)
        elif mode == "none":
            sc = pd.Series(np.float32(1.0), index=n.index)
        else:
            # f64 fold in doc_id order, f32 emit (the engine contract)
            sc = grp["score"].apply(
                lambda s: np.float32(np.sum(s.to_numpy(np.float64)))
            )
            if mode == "avg":
                sc = grp["score"].apply(
                    lambda s: np.float32(np.sum(s.to_numpy(np.float64)) / len(s))
                )
        exp = (
            pd.DataFrame({"conv_id": n.index, "score": sc.values, "n": n.values})
            .sort_values(["score", "conv_id"], ascending=[False, True],
                         kind="mergesort")
            .head(8)
        )
        assert got["conv_id"].tolist() == exp["conv_id"].tolist(), mode
        assert got["n_matching"].tolist() == exp["n"].tolist(), mode
        assert got["score"].tolist() == pytest.approx(
            [float(x) for x in exp["score"]], abs=0, rel=0
        ), mode


def test_conversations_excludes_rollups(searcher, docs_pdf):
    got = searcher.conversations_topk("w0001", k=5, score_mode="none").toPandas()
    # n_matching counts turns only, never the conv rollup doc
    meta = docs_pdf
    turns = meta[~meta.is_rollup]
    per_conv_turns = turns.groupby("conv_id").size()
    for cid, n in zip(got.conv_id, got.n_matching):
        assert n <= per_conv_turns[cid]


def test_term_vectors_first_principles(searcher, docs_pdf):
    """ES _termvectors from the index alone: tf, 0-based positions, df and
    ttf must equal a first-principles re-analysis of the corpus."""
    import re
    from collections import Counter

    tok = re.compile(r"[a-z0-9_]+")
    texts = {int(r.doc_id): tok.findall(str(r.text).lower())
             for r in docs_pdf.itertuples()}
    df_c, ttf_c = Counter(), Counter()
    for ts in texts.values():
        ttf_c.update(ts)
        df_c.update(set(ts))
    for doc in (0, 5, len(texts) // 2):
        got = searcher.term_vectors(doc).toPandas()
        toks = texts[doc]
        exp_tf = Counter(toks)
        exp_pos = {}
        for i, t in enumerate(toks):
            exp_pos.setdefault(t, []).append(i)
        assert got["term"].tolist() == sorted(exp_tf), doc
        for r in got.itertuples():
            assert r.tf == exp_tf[r.term], (doc, r.term)
            assert list(r.positions) == exp_pos[r.term], (doc, r.term)
            assert r.df == df_c[r.term], (doc, r.term)
            assert r.ttf == ttf_c[r.term], (doc, r.term)


def test_term_vectors_deleted_doc_raises(pix):
    s = BM25Searcher(pix)
    victim = int(
        s.top_k("w0000", k=1, with_meta=False).collect()[0]["doc_id"]
    )
    s.delete_by_query("w0000")
    with pytest.raises(ValueError, match="tombstoned"):
        s.term_vectors(victim)


def test_mlt_by_doc_reference(searcher, docs_pdf):
    """like_doc_id: term frequencies come from the index (term_vectors
    decode), so the selection must equal like_text over the doc's own
    text, and the liked doc itself is excluded (ES include=false)."""
    d = int(docs_pdf.loc[~docs_pdf.is_rollup, "doc_id"].iloc[5])
    text = docs_pdf.set_index("doc_id").loc[d, "text"]
    got = searcher.more_like_this(
        like_doc_id=d, k=10, with_meta=False
    ).toPandas()
    ref = searcher.more_like_this(
        like_text=text, k=11, with_meta=False
    ).toPandas()
    assert d not in got["doc_id"].tolist()
    exp = [i for i in ref["doc_id"].tolist() if i != d][:10]
    assert got["doc_id"].tolist() == exp
    exp_scores = {
        i: s for i, s in zip(ref["doc_id"], ref["score"]) if i != d
    }
    assert got["score"].tolist() == [exp_scores[i] for i in got["doc_id"]]
    with pytest.raises(ValueError, match="exactly one"):
        searcher.more_like_this("x", like_doc_id=3)
    with pytest.raises(ValueError, match="exactly one"):
        searcher.more_like_this()


def test_mtermvectors_matches_per_doc_and_is_one_job(searcher):
    """Batched _mtermvectors == the per-doc term_vectors rows, and the
    driver job count does not grow with the number of requested docs
    (one interval-pruned scan for all of them)."""
    ids = [3, 77, 150]
    got = searcher.mtermvectors(ids).toPandas()
    import pandas as pd

    singles = []
    for d in ids:
        one = searcher.term_vectors(d).toPandas()
        one.insert(0, "doc_id", d)
        singles.append(one)
    exp = pd.concat(singles, ignore_index=True).sort_values(
        ["doc_id", "term"]
    ).reset_index(drop=True)
    assert got[["doc_id", "term", "tf", "df", "ttf"]].values.tolist() == \
        exp[["doc_id", "term", "tf", "df", "ttf"]].values.tolist()
    assert [list(p) for p in got["positions"]] == [list(p) for p in exp["positions"]]

    sc = searcher.ix.postings.sparkSession.sparkContext
    n1, n3 = (
        count_jobs(sc, lambda: searcher.mtermvectors(req).collect())
        for req in ([3], [3, 77, 150])
    )
    assert n3 == n1, f"mtermvectors jobs grew with doc count: {n1} -> {n3}"


# ---- terms_lookup (ES terms query, lookup form) ----------------------------


def test_terms_lookup_matches_token_share_bruteforce(searcher, docs_pdf):
    import re

    lk = 5
    got = searcher.terms_lookup(searcher, lk).toPandas()
    toks = lambda t: set(re.findall(r"[a-z0-9_]+", (t or "").lower()))
    lk_terms = toks(docs_pdf.loc[docs_pdf.doc_id == lk, "text"].iloc[0])
    exp = {
        int(r.doc_id)
        for r in docs_pdf.itertuples()
        if toks(r.text) & lk_terms
    }
    assert set(got["doc_id"].tolist()) == exp
    assert lk in exp  # the lookup doc matches itself (ES does not exclude)


def test_terms_lookup_doc_filter_and_max_terms(searcher, docs_pdf):
    from pyspark.sql import functions as F

    got = searcher.terms_lookup(
        searcher, 5, doc_filter=F.col("doc_id") % 2 == 0
    ).toPandas()
    assert (got["doc_id"] % 2 == 0).all()
    with pytest.raises(ValueError, match="max_terms"):
        searcher.terms_lookup(searcher, 5, max_terms=1)


# ---- nested query (array<struct> sub-documents) ----------------------------


def test_nested_query_score_modes_match_pandas(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    from bitcoin_ledger_2es_spark.plans.query import nested_query

    rows = [
        (1, [(10, "a"), (30, "b"), (20, "a")]),
        (2, [(5, "b")]),
        (3, [(7, "a")]),
    ]
    df = spark.createDataFrame(
        rows, "pid int, kids array<struct<v:int, tag:string>>")
    flt = lambda k: k["tag"] == "a"
    val = lambda k: k["v"]
    got = {
        m: nested_query(df, "kids", flt, val, score_mode=m)
        .select("pid", "n_inner", "nested_score").orderBy("pid").toPandas()
        for m in ("avg", "sum", "min", "max", "none")
    }
    # parent 2 has no tag-a child -> dropped everywhere
    for m in got:
        assert got[m]["pid"].tolist() == [1, 3]
    assert got["sum"]["nested_score"].tolist() == [30.0, 7.0]
    assert got["avg"]["nested_score"].tolist() == [15.0, 7.0]
    assert got["min"]["nested_score"].tolist() == [10.0, 7.0]
    assert got["max"]["nested_score"].tolist() == [20.0, 7.0]
    assert got["none"]["nested_score"].tolist() == [0.0, 0.0]
    assert got["sum"]["n_inner"].tolist() == [2, 1]
    two = nested_query(df, "kids", flt, val, min_children=2).toPandas()
    assert two["pid"].tolist() == [1]
    with pytest.raises(ValueError, match="score_mode"):
        nested_query(df, "kids", flt, val, score_mode="median")


def test_nested_query_inner_hits(spark):
    from bitcoin_ledger_2es_spark.plans.query import nested_query

    rows = [(1, [(10, "a"), (30, "b"), (20, "a"), (40, "a")])]
    df = spark.createDataFrame(
        rows, "pid int, kids array<struct<v:int, tag:string>>")
    got = nested_query(
        df, "kids", lambda k: k["tag"] == "a", lambda k: k["v"],
        inner_hits=2,
    ).toPandas()
    hits = [(h["v"], h["tag"]) for h in got.iloc[0]["inner_hits"]]
    assert hits == [(10, "a"), (20, "a")]  # first k matched, array order
    assert got.iloc[0]["n_inner"] == 3
    with pytest.raises(ValueError, match="inner_hits"):
        nested_query(df, "kids", lambda k: k["tag"] == "a",
                     lambda k: k["v"], inner_hits=0)

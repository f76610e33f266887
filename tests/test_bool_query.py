"""ES bool query surface (B4 full): must / should+minimum_should_match /
must_not / doc_filter — rank-identical to the pandas oracle's bool_topk
(both sides share the engine's determinism contract)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bitcoin_ledger_2es_spark import BM25Searcher, PandasOracle, build_index
from bitcoin_ledger_2es_spark.config import DEFAULT
from bitcoin_ledger_2es_spark.plans.build import read_index, write_index

from .conftest import count_jobs
from .test_end_to_end import corpus_docs_pdf

CFG = DEFAULT.with_(docs_per_shard=256, block_size=32)

# (must, should, must_not, min_should) — w0000 is the most frequent synth
# term, w09xx the rarest; mixes of OOV, overlap, and pure-should cases
CASES = [
    ("w0000 w0003", "", "w0001", None),
    ("w0000", "", "w0000", None),               # self-exclusion -> empty
    ("", "w0000 w0005 w0010", "", None),        # pure should, default min 1
    ("", "w0000 w0005 w0010 w0002", "", 2),
    ("", "w0000 w0005 w0010 w0002", "w0001", 3),
    ("w0002", "w0000 w0005", "", 1),            # must + should with min
    ("w0002", "w0000 w0005", "w0003", 2),
    ("w0000 w0000", "", "", None),              # duplicate must term (2x weight)
    ("w0000", "w0000 w0004", "", 1),            # term in both clauses
    ("w0000 zzzznotaterm", "", "", None),       # OOV must -> empty
    ("", "zzzz yyyy", "", None),                # all-OOV should -> empty
    ("w0000", "", "zzzznotaterm", None),        # OOV must_not ignored
]


@pytest.fixture(scope="module")
def ix(spark, tiny_df):
    return build_index(tiny_df, CFG)


@pytest.fixture(scope="module")
def oracle(tiny_pdf):
    return PandasOracle(corpus_docs_pdf(tiny_pdf), CFG)


def _check(searcher, oracle, must, should, must_not, min_m, k=20):
    golden = oracle.bool_topk(must, should, must_not, k=k, minimum_should_match=min_m)
    got = (
        searcher.bool_query(must, should, must_not, k=k, minimum_should_match=min_m,
                            with_meta=False)
        .toPandas()
    )
    case = (must, should, must_not, min_m)
    assert got["doc_id"].tolist() == golden["doc_id"].tolist(), case
    np.testing.assert_array_equal(
        got["score"].to_numpy(np.float32), golden["score"].to_numpy(np.float32)
    )


def test_bool_query_matches_oracle(ix, oracle):
    s = BM25Searcher(ix)
    for must, should, must_not, min_m in CASES:
        _check(s, oracle, must, should, must_not, min_m)


def test_bool_query_aligned_identical(spark, tiny_df, ix, oracle, tmp_path):
    path = str(tmp_path / "ix")
    write_index(ix, path)
    s = BM25Searcher(read_index(spark, path, CFG))
    assert s.aligned  # the on-disk layout selects the zero-exchange scan
    for must, should, must_not, min_m in CASES[:6]:
        _check(s, oracle, must, should, must_not, min_m)


def test_must_not_actually_excludes(ix, oracle):
    s = BM25Searcher(ix)
    base = s.bool_query(must="w0003", k=1000, with_meta=False).toPandas()
    excl = s.bool_query(must="w0003", must_not="w0000", k=1000, with_meta=False).toPandas()
    assert len(excl) < len(base)
    # every excluded doc really contains w0000; every kept doc doesn't
    w0000_docs = set(oracle.doc_ids[oracle.postings["w0000"][0]].tolist())
    assert set(excl["doc_id"]).isdisjoint(w0000_docs)
    assert set(base["doc_id"]) - set(excl["doc_id"]) <= w0000_docs


def test_min_should_match_threshold(ix, oracle):
    """Raising min_should monotonically shrinks the hit set; scores of
    surviving docs are unchanged (min_m selects, never rescores)."""
    s = BM25Searcher(ix)
    prev = None
    for m in (1, 2, 3):
        r = s.bool_query(should="w0000 w0005 w0010", k=100000,
                         minimum_should_match=m, with_meta=False).toPandas()
        if prev is not None:
            assert set(r["doc_id"]) <= set(prev["doc_id"])
            merged = r.merge(prev, on="doc_id", suffixes=("_hi", "_lo"))
            np.testing.assert_array_equal(
                merged["score_hi"].to_numpy(np.float32),
                merged["score_lo"].to_numpy(np.float32),
            )
        prev = r


def test_bool_with_doc_filter(ix, oracle, tiny_pdf):
    """doc_filter (ES filter context) composes with must_not."""
    s = BM25Searcher(ix)
    r = s.bool_query(
        must="w0000", must_not="w0003", k=1000,
        doc_filter=~F.col("is_rollup"),
    ).toPandas()
    assert len(r) > 0
    assert not r["is_rollup"].any()
    w0003_docs = set(oracle.doc_ids[oracle.postings["w0003"][0]].tolist())
    assert set(r["doc_id"]).isdisjoint(w0003_docs)


def test_must_not_only_is_match_all_minus_exclusions(ix, oracle):
    """bool_query with ONLY must_not serves ES's match_all-minus-exclusions
    in FILTER context: every surviving doc scores exactly 0.0 ("Because
    scoring is ignored, a score of 0 is returned for all documents" — ES
    bool/must_not reference; match_all ALONE still scores 1.0) and the
    ranking is doc_id ascending (the stable constant-score order)."""
    s = BM25Searcher(ix)
    r = s.bool_query(must_not="w0000 w0003", k=1_000_000, with_meta=False).toPandas()
    excl = set(oracle.doc_ids[oracle.postings["w0000"][0]].tolist()) | set(
        oracle.doc_ids[oracle.postings["w0003"][0]].tolist()
    )
    expect = sorted(set(oracle.doc_ids.tolist()) - excl)
    assert r["doc_id"].tolist() == expect
    assert (r["score"].to_numpy(np.float32) == np.float32(0.0)).all()
    assert r["rank"].tolist() == list(range(1, len(expect) + 1))


def test_match_all_plain_and_filtered(ix, oracle):
    """match_all with no clauses returns every doc at score 1.0; doc_filter
    composes (filter context)."""
    s = BM25Searcher(ix)
    r = s.match_all(k=1_000_000, with_meta=False).toPandas()
    assert r["doc_id"].tolist() == sorted(oracle.doc_ids.tolist())
    turns = s.match_all(k=1_000_000, doc_filter=~F.col("is_rollup")).toPandas()
    assert not turns["is_rollup"].any()
    assert len(turns) < len(r)


def test_match_all_search_after_pages(ix, oracle):
    """Constant-score paging: consecutive search_after slices reproduce the
    doc_id-ascending full ordering with no overlap."""
    s = BM25Searcher(ix)
    full = s.match_all(must_not="w0005", k=1_000_000, with_meta=False).toPandas()
    got, cursor = [], None
    for _ in range(3):
        page = s.match_all(must_not="w0005", k=7, with_meta=False,
                           search_after=cursor).toPandas()
        if page.empty:
            break
        got.extend(page["doc_id"].tolist())
        cursor = (float(page["score"].iloc[-1]), int(page["doc_id"].iloc[-1]))
    assert got == full["doc_id"].tolist()[: len(got)]
    assert len(got) == min(21, len(full))


def test_constant_score_filter_modes(ix, oracle):
    """constant_score: AND requires every filter term, OR any; scores are
    exactly the boost, never BM25."""
    s = BM25Searcher(ix)
    d3 = set(oracle.doc_ids[oracle.postings["w0003"][0]].tolist())
    d5 = set(oracle.doc_ids[oracle.postings["w0005"][0]].tolist())
    both = s.constant_score("w0003 w0005", mode="and", k=1_000_000,
                            boost=2.5, with_meta=False).toPandas()
    assert set(both["doc_id"]) == (d3 & d5)
    assert (both["score"].to_numpy(np.float32) == np.float32(2.5)).all()
    either = s.constant_score("w0003 w0005", mode="or", k=1_000_000,
                              with_meta=False).toPandas()
    assert set(either["doc_id"]) == (d3 | d5)
    # OOV required term under AND -> empty; under OR -> ignored
    assert s.constant_score("w0003 zzoov", mode="and", k=10,
                            with_meta=False).count() == 0
    assert set(
        s.constant_score("w0003 zzoov", mode="or", k=1_000_000,
                         with_meta=False).toPandas()["doc_id"]
    ) == d3


def test_bool_random_differential(spark, ix, oracle):
    """60 random bool-clause combinations vs the pandas oracle (one Spark
    index, k spanning tie boundaries): must/should/must_not drawn from
    frequent + rare + OOV vocab, minimum_should_match 0..n_should."""
    import numpy as np

    rng = np.random.default_rng(11)
    vocab = ["w0000", "w0001", "w0002", "w0003", "w0005", "w0010",
             "w0200", "w0500", "w0900", "zzoov1", "zzoov2"]
    s = BM25Searcher(ix)
    n_run = 0
    for _ in range(60):
        n_m = int(rng.integers(0, 3))
        n_s = int(rng.integers(0, 4))
        n_n = int(rng.integers(0, 3))
        pick = lambda n: " ".join(rng.choice(vocab, size=n, replace=False)) if n else ""
        must, should, must_not = pick(n_m), pick(n_s), pick(n_n)
        if not must and not should:
            continue
        min_m = int(rng.integers(0, n_s + 1)) if n_s else None
        k = int(rng.choice([3, 10, 50]))
        _check(s, oracle, must, should, must_not, min_m, k=k)
        n_run += 1
    assert n_run >= 40


def test_bool_search_after_pages(ix, oracle):
    """Cursor paging through a bool query reproduces the oracle's full
    ranking in consecutive slices."""
    full = oracle.bool_topk("", "w0000 w0005 w0010", "w0003",
                            k=10_000, minimum_should_match=1)
    s = BM25Searcher(ix)
    got, cursor = [], None
    for _ in range(4):
        r = s.bool_query("", "w0000 w0005 w0010", "w0003", k=9,
                         minimum_should_match=1, with_meta=False,
                         search_after=cursor).toPandas()
        if r.empty:
            break
        got.extend(r["doc_id"].tolist())
        cursor = (float(r["score"].iloc[-1]), int(r["doc_id"].iloc[-1]))
    assert got == full["doc_id"].tolist()[: len(got)]
    assert len(got) == min(36, len(full))


def test_suggest_single_pass_and_ranking(ix, oracle):
    """suggest() is one plan with NO per-token union branches (one
    dictionary scan broadcast-joined against the literal input frame), and
    its ranking matches a per-token pandas reference (distance asc, df
    desc, term asc; size per input)."""
    s = BM25Searcher(ix)
    out = s.suggest("w000 w0x05 w0300x zz qq9", fuzziness=2, size=4)
    # exactly ONE dictionary scan leaf in the physical plan (the per-token
    # union shape had one scan branch per input token)
    leaves = out._jdf.queryExecution().optimizedPlan().collectLeaves()
    names = [leaves.apply(i).nodeName() for i in range(leaves.size())]
    n_dict_scans = sum(1 for n in names if "InMemoryRelation" in n)
    assert n_dict_scans == 1, names
    got = out.toPandas().sort_values(["input", "distance", "df", "term"],
                                     ascending=[True, True, False, True])

    # pandas reference over the same dictionary
    import pandas as pd

    dic = ix.dictionary.select("term", "df").toPandas()

    def lev(a, b):
        m = [[i + j if i * j == 0 else 0 for j in range(len(b) + 1)]
             for i in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                m[i][j] = min(m[i - 1][j] + 1, m[i][j - 1] + 1,
                              m[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
        return m[len(a)][len(b)]

    frames = []
    for t in ["w000", "w0x05", "w0300x", "zz", "qq9"]:
        d = dic.assign(distance=dic["term"].map(lambda x: lev(x, t)), input=t)
        d = d[d["distance"] <= 2].sort_values(
            ["distance", "df", "term"], ascending=[True, False, True]
        ).head(4)
        frames.append(d[["input", "term", "distance", "df"]])
    exp = pd.concat(frames).sort_values(["input", "distance", "df", "term"],
                                        ascending=[True, True, False, True])
    assert got[["input", "term"]].values.tolist() == exp[["input", "term"]].values.tolist()

    # one driver job per action, independent of token count
    sc = ix.dictionary.sparkSession.sparkContext
    n1, n5 = (
        count_jobs(sc, lambda: s.suggest(text, fuzziness=2, size=4).collect())
        for text in ("w000", "w000 w0x05 w0300x zz qq9")
    )
    assert n5 == n1, f"suggest jobs grew with token count: {n1} -> {n5}"


# --- match_bool_prefix (search-as-you-type: term shoulds + constant-score
# prefix on the last token) ---

BOOL_PREFIX_CASES = [
    "w0000 w000",        # fixed term + multi-expansion prefix
    "w0003 w0001",       # prefix IS a complete term (still constant-score)
    "w000",              # single token: pure constant-score prefix clause
    "zzzz w000",         # OOV fixed term: should-bool still serves prefix hits
    "w0000 zzz",         # nothing extends the stem: fixed-only OR
    "w0000 w0000 w000",  # duplicate fixed terms (2x weight) + prefix
]


def test_match_bool_prefix_matches_oracle(ix, oracle):
    s = BM25Searcher(ix)
    for q in BOOL_PREFIX_CASES:
        got = s.match_bool_prefix(
            q, k=50, max_expansions=8, with_meta=False
        ).toPandas()
        exp = oracle.bool_prefix_topk(q, k=50, max_expansions=8)
        assert got["doc_id"].tolist() == exp["doc_id"].tolist(), q
        np.testing.assert_array_equal(
            got["score"].to_numpy(np.float32), exp["score"].to_numpy(np.float32)
        )


def test_match_bool_prefix_constant_score_is_one(ix, oracle):
    """A single-token query is a pure prefix clause: every hit scores
    exactly 1.0 (Lucene CONSTANT_SCORE_REWRITE), ties broken doc_id asc."""
    s = BM25Searcher(ix)
    got = s.match_bool_prefix("w000", k=30, max_expansions=4,
                              with_meta=False).toPandas()
    assert len(got) == 30
    assert (got["score"] == np.float32(1.0)).all()
    assert got["doc_id"].is_monotonic_increasing


def test_match_bool_prefix_empty_cases(ix):
    s = BM25Searcher(ix)
    assert s.match_bool_prefix("", with_meta=False).count() == 0
    # OOV fixed term AND un-extendable stem -> nothing can match
    assert s.match_bool_prefix("zzzz yyy", with_meta=False).count() == 0


def test_min_score_cuts_in_f32_space(ix):
    searcher = BM25Searcher(ix)
    full = searcher.top_k("w0001 w0003", k=50, with_meta=False).toPandas()
    assert len(full) > 3
    cut = float(full["score"].iloc[2])  # the 3rd-best f32 score
    got = searcher.top_k("w0001 w0003", k=50, with_meta=False,
                         min_score=cut).toPandas()
    exp = full[full["score"] >= cut]
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert (got["score"] >= cut).all()
    # rank re-numbered 1..n over the surviving hits
    assert got["rank"].tolist() == list(range(1, len(exp) + 1))

"""ES query_string (Lucene classic syntax): parser unit tests, engine
equivalences against the single-clause primitives it lowers to, and a
randomized mixed-query differential against the pandas oracle
(oracle.py query_string_topk — the lockstep twin of score_shard_clauses)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bitcoin_ledger_2es_spark import BM25Searcher, build_index
from bitcoin_ledger_2es_spark.config import DEFAULT
from bitcoin_ledger_2es_spark.functions.querystring import parse_query_string
from bitcoin_ledger_2es_spark.oracle import PandasOracle

CFG = DEFAULT.with_(docs_per_shard=128, block_size=32, store_positions=True)


@pytest.fixture(scope="module")
def searcher(spark, tiny_df):
    return BM25Searcher(build_index(tiny_df, CFG))


@pytest.fixture(scope="module")
def oracle(spark, tiny_df):
    from bitcoin_ledger_2es_spark.plans.build import tokenized_documents

    docs, _ = tokenized_documents(tiny_df, CFG)
    return PandasOracle(docs.select("doc_id", "text").toPandas(), CFG)


# ---------------------------------------------------------------------------
# parser


def test_parse_roles_and_kinds():
    p = parse_query_string('+a b -c "d e"~2 f* g?h i~1 j~ conv_id:x -is_rollup:true')
    assert [(c.role, c.terms) for c in p.terms] == [
        ("must", ["a"]), ("should", ["b"]), ("must_not", ["c"])
    ]
    assert [(c.role, c.terms, c.slop) for c in p.phrases] == [("should", ["d", "e"], 2)]
    assert [(c.role, c.kind, c.pattern) for c in p.expands] == [
        ("should", "prefix", "f"), ("should", "wildcard", "g?h"),
        ("should", "fuzzy", "i"), ("should", "fuzzy", "j"),
    ]
    assert p.expands[2].fuzziness == 1 and p.expands[3].fuzziness == 2
    assert [(c.role, c.fld, c.value) for c in p.filters] == [
        ("should", "conv_id", "x"), ("must_not", "is_rollup", "true")
    ]


def test_parse_default_operator_and_field_errors():
    p = parse_query_string("a b", default_operator="and")
    assert all(c.role == "must" for c in p.terms)
    with pytest.raises(ValueError, match="default_operator"):
        parse_query_string("a", default_operator="xor")
    # unknown field: ES unmapped semantics — no error, a clause that can
    # never match (URLs and key:value text parse here too)
    p = parse_query_string("nosuch:field")
    assert p.unmapped == ["should"] and not p.terms and not p.filters
    p = parse_query_string("visit http://example.com now")
    assert p.unmapped == ["should"]
    assert [c.terms for c in p.terms] == [["visit"], ["now"]]
    # text: addresses the indexed field -> term clause, not filter
    p = parse_query_string("text:hello")
    assert p.terms[0].terms == ["hello"] and not p.filters


def test_parse_edges():
    # unterminated quote swallows the rest; escape keeps the colon literal
    p = parse_query_string('"a b')
    assert p.phrases[0].terms == ["a", "b"]
    p = parse_query_string(r"foo\:bar")
    assert p.terms[0].terms == ["foo", "bar"]  # analyzer splits on ':'
    assert not p.filters
    # bare '*' and empty fragments drop out
    p = parse_query_string('* "" + -')
    assert not (p.terms or p.phrases or p.expands or p.filters)


# ---------------------------------------------------------------------------
# engine equivalences: each single-clause query_string must equal the
# dedicated primitive it lowers to (rank-, score-identical)


def _rows(df):
    return [(r.doc_id, r.score) for r in df.collect()]


def test_qs_equals_primitives(searcher):
    s = searcher
    assert _rows(s.query_string("w0001 w0005", k=15, with_meta=False)) == _rows(
        s.top_k("w0001 w0005", k=15, mode="or", with_meta=False)
    )
    assert _rows(s.query_string("+w0001 +w0005", k=15, with_meta=False)) == _rows(
        s.top_k("w0001 w0005", k=15, mode="and", with_meta=False)
    )
    got = s.query_string('"w0001 w0002"~1', k=15, with_meta=False)
    exp = s.phrase_query("w0001 w0002", k=15, slop=1)
    assert _rows(got) == [(r.doc_id, r.score) for r in exp.collect()]
    assert _rows(s.query_string("w000*", k=15, with_meta=False)) == _rows(
        s.prefix_query("w000", k=15, with_meta=False)
    )
    assert _rows(s.query_string("w0001 w0005 -w0002", k=15, with_meta=False)) == _rows(
        s.bool_query(should="w0001 w0005", must_not="w0002", k=15, with_meta=False)
    )
    # unordered sloppy phrase routes through the unordered kernel
    got = s.query_string('"w0002 w0001"~2', k=15, with_meta=False,
                         phrase_ordered=False)
    exp = s.phrase_query("w0002 w0001", k=15, slop=2, ordered=False)
    assert _rows(got) == [(r.doc_id, r.score) for r in exp.collect()]


def test_qs_filter_clause_equals_doc_filter(searcher):
    s = searcher
    got = _rows(s.query_string("w0001 is_rollup:false", k=20, with_meta=False))
    exp = _rows(s.query_string("w0001", k=20, with_meta=False,
                               doc_filter=F.col("is_rollup") == False))  # noqa: E712
    assert got == exp and got


def test_qs_pure_negative_is_match_all(searcher):
    s = searcher
    got = s.query_string("-w0001", k=12, with_meta=False)
    # filter context -> score 0.0 (the same ES rule as must_not-only bool)
    exp = s.match_all(must_not="w0001", k=12, boost=0.0, with_meta=False)
    assert _rows(got) == _rows(exp)
    with pytest.raises(ValueError, match="pure-negative phrase"):
        s.query_string('-"w0001 w0002"', k=5)


def test_qs_oov_semantics(searcher):
    s = searcher
    assert s.query_string("+zz_oov w0001", k=5).count() == 0
    assert s.query_string('+"w0001 zz_oov"', k=5).count() == 0
    # OOV should clause drops out; the rest still matches
    assert _rows(s.query_string("zz_oov w0001", k=10, with_meta=False)) == _rows(
        s.top_k("w0001", k=10, with_meta=False)
    )


# ---------------------------------------------------------------------------
# randomized mixed queries vs the pandas oracle


def test_qs_mixed_matches_oracle(searcher, oracle):
    rng = np.random.default_rng(4242)
    vocab = [f"w{i:04d}" for i in range(40)]
    queries = []
    for _ in range(12):
        parts = []
        n = rng.integers(2, 5)
        for _ in range(n):
            kind = rng.integers(0, 5)
            occur = rng.choice(["", "+", "-"], p=[0.6, 0.25, 0.15])
            t = vocab[rng.integers(0, len(vocab))]
            if kind == 0:
                parts.append(f"{occur}{t}")
            elif kind == 1:
                t2 = vocab[rng.integers(0, len(vocab))]
                if t2 != t:
                    slop = int(rng.integers(0, 3))
                    sfx = f"~{slop}" if slop else ""
                    parts.append(f'{occur}"{t} {t2}"{sfx}')
            elif kind == 2:
                parts.append(f"{occur}{t[:3]}*")
            elif kind == 3:
                parts.append(f"{occur}{t}~1")
            else:
                parts.append(f"{occur}w00?{t[-1]}")
        queries.append(" ".join(parts))
    for qs in queries:
        got = searcher.query_string(qs, k=25, with_meta=False).toPandas()
        exp = oracle.query_string_topk(qs, k=25)
        assert got["doc_id"].tolist() == exp["doc_id"].tolist(), qs
        assert got["score"].tolist() == exp["score"].tolist(), qs


def test_qs_minimum_should_match(searcher, oracle):
    qs = "w0001 w0002 w0003"
    got = searcher.query_string(qs, k=30, minimum_should_match=2,
                                with_meta=False).toPandas()
    exp = oracle.query_string_topk(qs, k=30, minimum_should_match=2)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert got["score"].tolist() == exp["score"].tolist()
    # unreachable threshold -> empty
    assert searcher.query_string("w0001", k=5, minimum_should_match=3).count() == 0


def test_qs_search_after_pages(searcher):
    s = searcher
    full = s.query_string("w0001 w0002 -w0009", k=12, with_meta=False).collect()
    assert len(full) == 12
    first = full[:6]
    cur = (first[-1].score, first[-1].doc_id)
    nxt = s.query_string("w0001 w0002 -w0009", k=6, with_meta=False,
                         search_after=cur).collect()
    assert [(r.doc_id, r.score) for r in nxt] == [
        (r.doc_id, r.score) for r in full[6:]
    ]


def test_qs_positions_required(spark, tiny_df):
    ix = build_index(tiny_df, CFG.with_(store_positions=False))
    with pytest.raises(ValueError, match="store_positions"):
        BM25Searcher(ix).query_string('"w0001 w0002"')


def test_qs_unmapped_field_clause_semantics(searcher):
    s = searcher
    # should-role unmapped clause contributes nothing: same results as
    # the query without it
    a = _rows(s.query_string("w0001 http://example.com", k=10, with_meta=False))
    b = _rows(s.query_string("w0001", k=10, with_meta=False))
    assert a == b and a
    # must-role unmapped clause kills the query (it can never match)
    assert s.query_string("w0001 +nosuch:x", k=10).count() == 0
    # must_not-role unmapped clause excludes nothing
    c = _rows(s.query_string("w0001 -nosuch:x", k=10, with_meta=False))
    assert c == b


# ---------------------------------------------------------------------------
# simple_query_string (ES simple syntax -> same ParsedQuery -> same kernel)


def test_simple_parse_or_groups_and_and():
    from bitcoin_ledger_2es_spark.functions.querystring import (
        parse_simple_query_string,
    )

    # a + b | c  ->  must(a) AND must(b OR c): the OR run is ONE group
    p = parse_simple_query_string("aa + bb | cc")
    assert [(c.role, c.terms) for c in p.terms] == [
        ("must", ["aa"]), ("must", ["bb", "cc"])
    ]
    # bare words follow default_operator; '-' negates one token
    p = parse_simple_query_string("aa bb -cc")
    assert [(c.role, c.terms) for c in p.terms] == [
        ("should", ["aa"]), ("should", ["bb"]), ("must_not", ["cc"])
    ]
    p = parse_simple_query_string("aa bb", default_operator="and")
    assert [c.role for c in p.terms] == ["must", "must"]


def test_simple_parse_phrase_prefix_fuzzy_flags():
    from bitcoin_ledger_2es_spark.functions.querystring import (
        parse_simple_query_string,
    )

    p = parse_simple_query_string('"x y"~1 pre* fuzz~1')
    assert [(c.role, c.terms, c.slop) for c in p.phrases] == [
        ("should", ["x", "y"], 1)
    ]
    assert [(c.kind, c.pattern) for c in p.expands] == [
        ("prefix", "pre"), ("fuzzy", "fuzz")
    ]
    # disabled flags degrade operators to literal text (never an error)
    p = parse_simple_query_string(
        "aa | bb -cc", flags=frozenset({"AND"})
    )
    assert [(c.role, c.terms) for c in p.terms] == [
        ("should", ["aa"]), ("should", ["bb"]), ("should", ["cc"])
    ]
    # negated member inside an OR run leaves the group as must_not
    p = parse_simple_query_string("aa | -bb | cc")
    assert [(c.role, c.terms) for c in p.terms] == [
        ("must_not", ["bb"]), ("should", ["aa", "cc"])
    ]


def test_simple_qs_equals_bool_primitives(searcher):
    # 'w0001 | w0002' == one should group == plain OR bool over both terms
    a = searcher.simple_query_string(
        "w0001 | w0002", k=50, with_meta=False
    ).toPandas()
    b = searcher.top_k("w0001 w0002", k=50, mode="or", with_meta=False).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert np.allclose(a["score"], b["score"])
    # 'w0001 + w0002 -w0003' == bool(must=[w0001, w0002], must_not=w0003)
    a = searcher.simple_query_string(
        "w0001 + w0002 -w0003", k=50, with_meta=False
    ).toPandas()
    b = searcher.bool_query(
        must="w0001 w0002", must_not="w0003", k=50, with_meta=False
    ).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()
    assert np.allclose(a["score"], b["score"])


# ---------------------------------------------------------------------------
# pinned query


def test_pinned_order_and_organic_tail(searcher):
    organic = searcher.top_k("w0002", k=8, with_meta=False).toPandas()
    pins = [int(organic["doc_id"].iloc[3]), int(organic["doc_id"].iloc[0])]
    got = searcher.pinned(pins, "w0002", k=8, with_meta=False).toPandas()
    # pins first, in pin order
    assert got["doc_id"].tolist()[:2] == pins
    assert got["rank"].tolist() == list(range(1, len(got) + 1))
    # organic tail = organic ranking minus the pinned ids
    rest = [d for d in organic["doc_id"].tolist() if d not in pins]
    assert got["doc_id"].tolist()[2:] == rest[: len(got) - 2]
    # unknown ids silently drop (ES behavior)
    got2 = searcher.pinned([10**9], "w0002", k=5, with_meta=False).toPandas()
    assert got2["doc_id"].tolist() == organic["doc_id"].tolist()[:5]


# ---------------------------------------------------------------------------
# completion suggester


def test_suggest_completion(searcher):
    got = searcher.suggest_completion("w00", size=5).toPandas()
    assert len(got) == 5
    assert all(t.startswith("w00") for t in got["term"])
    # weight = df, descending; w0000 is the most frequent synthetic term
    assert got["term"].iloc[0] == "w0000"
    assert got["weight"].is_monotonic_decreasing
    # fuzzy prefix: 'v00' is one edit from 'w00'
    fz = searcher.suggest_completion("v00", size=5, fuzziness=1).toPandas()
    assert got["term"].iloc[0] in fz["term"].tolist()
    assert searcher.suggest_completion("", size=5).count() == 0


def test_validate_query(searcher):
    """_validate/query: rewrite-style explanation, no Spark job."""
    v = searcher.validate_query('w0001 +"w0002 w0003"~2 -dat* conv_id:c0001 nope:x')
    assert v["valid"]
    e = v["explanation"]
    assert "should:(w0001)" in e
    assert 'must:"w0002 w0003"~2' in e
    assert "must_not:prefix(dat)" in e
    assert "unmapped(MatchNoDocs)" in e
    assert searcher.validate_query("???")["valid"] is False
    assert searcher.validate_query("a | b", syntax="simple")["valid"]
    assert searcher.validate_query("x", syntax="nope")["valid"] is False


# ---------------------------------------------------------------------------
# rule query (ES 8.10 query rules)


def test_rule_query_pins_and_excludes(searcher):
    organic = searcher.top_k("w0002", k=10, with_meta=False).toPandas()
    ids = organic["doc_id"].tolist()
    pin, drop = int(ids[4]), int(ids[1])
    ruleset = [
        {"type": "pinned",
         "criteria": [{"type": "exact", "metadata": "q", "values": ["w0002"]}],
         "ids": [pin]},
        {"type": "exclude",
         "criteria": [{"type": "contains", "metadata": "q", "values": ["000"]}],
         "ids": [drop]},
        {"type": "pinned",  # non-matching rule: criteria miss
         "criteria": [{"type": "prefix", "metadata": "q", "values": ["zz"]}],
         "ids": [int(ids[2])]},
    ]
    got = searcher.rule_query(
        ruleset, {"q": "w0002"}, "w0002", k=8, with_meta=False
    ).toPandas()
    assert got["doc_id"].iloc[0] == pin           # pinned first
    rest = [d for d in ids if d not in (pin, drop)]
    assert got["doc_id"].tolist()[1:] == rest[: len(got) - 1]
    assert got["rank"].tolist() == list(range(1, len(got) + 1))


def test_rule_query_first_action_wins_and_criteria(searcher):
    organic = searcher.top_k("w0002", k=5, with_meta=False).toPandas()
    top = int(organic["doc_id"].iloc[0])
    # same id pinned THEN excluded: the first action (pin) wins
    ruleset = [
        {"type": "pinned",
         "criteria": [{"type": "gte", "metadata": "n", "values": [5]}],
         "ids": [top]},
        {"type": "exclude", "criteria": [{"type": "always"}], "ids": [top]},
    ]
    got = searcher.rule_query(
        ruleset, {"n": 7}, "w0002", k=5, with_meta=False).toPandas()
    assert got["doc_id"].iloc[0] == top
    # criteria on metadata the request did not send never match
    got2 = searcher.rule_query(
        [{"type": "exclude",
          "criteria": [{"type": "exact", "metadata": "absent", "values": ["x"]}],
          "ids": [top]}],
        {"q": "w0002"}, "w0002", k=5, with_meta=False).toPandas()
    assert got2["doc_id"].tolist() == organic["doc_id"].tolist()
    # zero applicable rules == plain top_k; fuzzy criterion raises
    import pytest as _pt
    with _pt.raises(ValueError, match="fuzzy"):
        searcher.rule_query(
            [{"type": "pinned",
              "criteria": [{"type": "fuzzy", "metadata": "q", "values": ["a"]}],
              "ids": [1]}],
            {"q": "a"}, "w0002", k=3)
    with _pt.raises(ValueError, match="rule type"):
        searcher.rule_query([{"type": "boost", "ids": [1]}], {}, "w0002")

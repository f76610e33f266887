"""ES|QL subset (plans/esql.py): stage lowering differentials against
hand-written Spark, error discipline for unsupported constructs, and a
plan check that WHERE reaches the scan as a pushed filter."""

import pytest
from pyspark.sql import functions as F

from bitcoin_ledger_2es_spark.plans.esql import ESQLError, esql

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_where_eval_stats_sort_limit(spark, events):
    q = (
        'FROM events'
        ' | WHERE event_type == "purchase" AND value > 50'
        ' | EVAL cents = TO_LONG(ROUND(value * 100))'
        ' | STATS n = COUNT(*), sum_cents = SUM(cents) BY user_id'
        ' | SORT sum_cents DESC, user_id ASC'
        ' | LIMIT 5'
    )
    got = esql(q, {"events": events}).toPandas()
    exp = (
        events.filter((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .withColumn("cents", F.round(F.col("value") * 100).cast("long"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
        .orderBy(F.desc("sum_cents"), F.asc("user_id"))
        .limit(5)
        .toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()
    assert list(got.columns) == ["user_id", "n", "sum_cents"]


def test_case_in_like_median_keep_rename(spark, events):
    q = (
        'FROM events'
        ' | WHERE event_type IN ("error", "signup") AND NOT (props LIKE "*87*")'
        ' | EVAL sev = CASE(event_type == "error", 2, 1)'
        ' | STATS med = MEDIAN(value), p90 = PERCENTILE(value, 90) BY sev'
        ' | SORT sev ASC'
        ' | RENAME med AS median_value'
        ' | KEEP sev, median_value, p90'
    )
    got = esql(q, {"events": events}).toPandas()
    exp = (
        events.filter(
            F.col("event_type").isin("error", "signup")
            & ~F.col("props").like("%87%")
        )
        .withColumn("sev", F.when(F.col("event_type") == "error", 2).otherwise(1))
        .groupBy("sev")
        .agg(
            F.expr("percentile(value, 0.5)").alias("median_value"),
            F.expr("percentile(value, (90) / 100.0)").alias("p90"),
        )
        .orderBy("sev")
        .select("sev", "median_value", "p90")
        .toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()


def test_stats_without_by_and_drop(spark, events):
    q = 'FROM events | STATS total = COUNT(*), users = COUNT_DISTINCT(user_id)'
    got = esql(q, {"events": events}).toPandas()
    assert got["total"].iloc[0] == events.count()
    assert got["users"].iloc[0] == events.select("user_id").distinct().count()
    q2 = 'FROM events | DROP props, value | LIMIT 1'
    assert "props" not in esql(q2, {"events": events}).columns


def test_string_escapes_and_pipe_in_literal(spark, events):
    q = 'FROM events | EVAL tag = CONCAT(event_type, "|x\\"y") | LIMIT 1 | KEEP tag'
    got = esql(q, {"events": events}).toPandas()
    assert got["tag"].iloc[0].endswith('|x"y')


def test_unsupported_constructs_raise(spark, events):
    t = {"events": events}
    with pytest.raises(ESQLError, match="must start with"):
        esql("WHERE x == 1", t)
    with pytest.raises(ESQLError, match="unknown table"):
        esql("FROM nope", t)
    with pytest.raises(ESQLError, match="unsupported ES\\|QL function"):
        esql('FROM events | EVAL x = MV_EXPAND(value)', t)
    with pytest.raises(ESQLError, match="unsupported ES\\|QL stage"):
        esql("FROM events | COMPLETION value WITH model", t)
    with pytest.raises(ESQLError, match="ENRICH takes"):
        esql("FROM events | ENRICH policy", t)
    with pytest.raises(ESQLError, match="unbalanced"):
        esql("FROM events | WHERE ROUND(value > 1", t)


def test_where_pushdown_reaches_scan(spark, events):
    df = esql('FROM events | WHERE value > 100 | KEEP event_id, value',
              {"events": events})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "value" in plan.split("PushedFilters")[1][:120]
    # column pruning: the scan reads only the two kept columns + filter col
    assert "props" not in plan.split("ReadSchema")[1][:200]


def test_dissect_extracts_delimited_fields(spark):
    rows = [(1, "GET /index.html 200"), (2, "POST /api/v1 503"),
            (3, "garbage-without-spaces",)]
    df = spark.createDataFrame(rows, "id long, line string")
    got = esql(
        'FROM logs | DISSECT line "%{method} %{path} %{status}"'
        ' | KEEP id, method, path, status | SORT id ASC',
        {"logs": df},
    ).toPandas()
    assert got.loc[0].tolist() == [1, "GET", "/index.html", "200"]
    assert got.loc[1].tolist() == [2, "POST", "/api/v1", "503"]
    assert got.loc[2, "method"] is None  # non-match -> nulls


def test_dissect_skip_key_and_trailing_greedy(spark):
    df = spark.createDataFrame([(1, "a|b|c d e")], "id long, line string")
    got = esql(
        'FROM logs | DISSECT line "%{}|%{x}|%{rest}" | KEEP x, rest',
        {"logs": df},
    ).toPandas()
    assert got.loc[0].tolist() == ["b", "c d e"]


def test_grok_typed_captures(spark):
    rows = [(1, "2024-03-01T10:00:00 10.0.0.1 alice took 42 ms"),
            (2, "not a log line")]
    df = spark.createDataFrame(rows, "id long, line string")
    got = esql(
        'FROM logs | GROK line "%{TIMESTAMP_ISO8601:t} %{IP:addr}'
        ' %{USERNAME:user} took %{INT:ms:int} ms"'
        ' | KEEP id, t, addr, user, ms | SORT id ASC',
        {"logs": df},
    ).toPandas()
    assert got.loc[0, "addr"] == "10.0.0.1"
    assert got.loc[0, "user"] == "alice"
    assert got.loc[0, "ms"] == 42 and str(got["ms"].dtype) in ("Int64", "float64", "object")
    assert got.loc[1, "addr"] is None


def test_grok_unknown_syntax_raises(spark, events):
    with pytest.raises(ESQLError, match="GROK syntax"):
        esql('FROM events | GROK props "%{NOPE:x}"', {"events": events})
    with pytest.raises(ESQLError, match="GROK type"):
        esql('FROM events | GROK props "%{INT:x:hex}"', {"events": events})


@pytest.fixture(scope="module")
def doc_searcher(spark, tiny_df):
    from bitcoin_ledger_2es_spark import BM25Searcher, build_index
    from bitcoin_ledger_2es_spark.config import DEFAULT

    return BM25Searcher(build_index(
        tiny_df, DEFAULT.with_(docs_per_shard=512, block_size=32)))


def test_match_over_index_equals_match_docs(spark, doc_searcher):
    got = esql(
        'FROM ix | WHERE MATCH(text, "w0001 w0005") AND NOT is_rollup'
        ' | STATS n = COUNT(*), dl = SUM(doc_len)',
        indexes={"ix": doc_searcher},
    ).toPandas()
    exp = (
        doc_searcher.match_docs("w0001 w0005", mode="or")
        .filter("NOT is_rollup")
        .agg(F.count("*").alias("n"), F.sum("doc_len").alias("dl"))
        .toPandas()
    )
    assert got.values.tolist() == exp.values.tolist() and got["n"].iloc[0] > 0


def test_two_match_conjuncts_intersect(spark, doc_searcher):
    got = esql(
        'FROM ix | WHERE MATCH(text, "w0001") AND MATCH(text, "w0005")'
        ' | STATS n = COUNT(*)',
        indexes={"ix": doc_searcher},
    ).toPandas()
    exp = doc_searcher.match_docs("w0001 w0005", mode="and").count()
    assert got["n"].iloc[0] == exp


def test_match_misuse_raises(spark, events, doc_searcher):
    with pytest.raises(ESQLError, match="top-level AND"):
        esql('FROM ix | WHERE MATCH(text, "w0001") OR is_rollup',
             indexes={"ix": doc_searcher})
    with pytest.raises(ESQLError, match="needs a FROM over an index"):
        esql('FROM events | WHERE MATCH(text, "w0001")', {"events": events})
    with pytest.raises(ESQLError, match="field must be"):
        esql('FROM ix | WHERE MATCH(conv_id, "x")', indexes={"ix": doc_searcher})


def test_metadata_score_matches_engine_topk(spark, doc_searcher):
    import numpy as np

    got = esql(
        'FROM ix METADATA _score'
        ' | WHERE MATCH(text, "w0001 w0005") AND NOT is_rollup'
        ' | SORT _score DESC, doc_id ASC | LIMIT 10 | KEEP doc_id, _score',
        indexes={"ix": doc_searcher},
    ).toPandas()
    exp = doc_searcher.top_k(
        "w0001 w0005", k=10, mode="or",
        doc_filter=~F.col("is_rollup"), with_meta=False,
    ).toPandas()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert np.array_equal(
        got["_score"].to_numpy(np.float32), exp["score"].to_numpy(np.float32)
    )


def test_metadata_score_two_matches_sum(spark, doc_searcher):
    got = esql(
        'FROM ix METADATA _score'
        ' | WHERE MATCH(text, "w0001") AND MATCH(text, "w0005")'
        ' | SORT _score DESC, doc_id ASC | LIMIT 5 | KEEP doc_id, _score',
        indexes={"ix": doc_searcher},
    ).toPandas()
    # conjunct-order f64 fold == the engine's single AND query (same
    # terms, weight 1 each, same statistics)
    import numpy as np

    exp = doc_searcher.top_k("w0001 w0005", k=5, mode="and",
                             with_meta=False).toPandas()
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    assert np.array_equal(
        got["_score"].to_numpy(np.float32), exp["score"].to_numpy(np.float32)
    )


def test_metadata_score_misuse(spark, events, doc_searcher):
    with pytest.raises(ESQLError, match="needs a FROM over an index"):
        esql("FROM events METADATA _score | LIMIT 1", {"events": events})
    with pytest.raises(ESQLError, match="FIRST WHERE"):
        esql(
            'FROM ix METADATA _score | WHERE NOT is_rollup'
            ' | WHERE MATCH(text, "w0001")',
            indexes={"ix": doc_searcher},
        )
    # OOV match under scoring -> zero rows, schema intact
    out = esql(
        'FROM ix METADATA _score | WHERE MATCH(text, "zzzzqq")',
        indexes={"ix": doc_searcher},
    )
    assert out.count() == 0 and "_score" in out.columns


def test_enrich_broadcast_lookup(spark, events):
    dim = spark.createDataFrame(
        [(i, f"name{i}", i % 2 == 0) for i in range(8)],
        "uid long, uname string, even boolean",
    )
    got = esql(
        'FROM events | WHERE user_id < 10'
        ' | ENRICH users ON user_id WITH uname, is_even = even'
        ' | STATS n = COUNT(*) BY uname | SORT n DESC, uname ASC | LIMIT 3',
        {"events": events}, enrich={"users": (dim, "uid")},
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    pdf = got.toPandas()
    assert len(pdf) == 3 and pdf["n"].iloc[0] > 0
    # users 8,9 have no dim row -> null uname bucket exists upstream
    full = esql(
        'FROM events | WHERE user_id < 10'
        ' | ENRICH users ON user_id WITH uname | STATS n = COUNT(*) BY uname',
        {"events": events}, enrich={"users": (dim, "uid")},
    ).toPandas()
    assert full["uname"].isna().any()  # left-join nulls preserved


def test_enrich_clash_and_unknown_policy(spark, events):
    dim = spark.createDataFrame([(1, "x")], "uid long, value string")
    with pytest.raises(ESQLError, match="already exist"):
        esql('FROM events | ENRICH u ON user_id',
             {"events": events}, enrich={"u": (dim, "uid")})
    with pytest.raises(ESQLError, match="unknown ENRICH policy"):
        esql('FROM events | ENRICH nope ON user_id', {"events": events})


def test_mv_expand(spark):
    df = spark.createDataFrame(
        [(1, [10, 20]), (2, []), (3, None)],
        "id long, vals array<long>",
    )
    got = esql('FROM t | MV_EXPAND vals | SORT id ASC, vals ASC',
               {"t": df}).toPandas()
    import pandas as pd

    assert got["id"].tolist() == [1, 1, 2, 3]
    assert got["vals"].tolist()[:2] == [10, 20]
    assert pd.isna(got["vals"].iloc[2]) and pd.isna(got["vals"].iloc[3])


def test_stats_per_agg_where_filter(spark, events):
    q = (
        'FROM events'
        ' | STATS purchases = COUNT(*) WHERE event_type == "purchase",'
        '         errors = COUNT(*) WHERE event_type == "error",'
        '         total = COUNT(*)'
        ' BY user_id | SORT user_id ASC'
    )
    got = esql(q, {"events": events}).toPandas()
    exp = (
        events.groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
            F.count(F.when(F.col("event_type") == "error", 1)).alias("errors"),
            F.count("*").alias("total"),
        )
        .orderBy("user_id")
        .toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()
    assert (got["purchases"] + got["errors"] <= got["total"]).all()


def test_sort_nulls_first_last(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 1.0)], "id long, v double"
    )
    first = esql("FROM t | SORT v ASC NULLS FIRST | KEEP id", {"t": df}).toPandas()
    last = esql("FROM t | SORT v DESC NULLS LAST | KEEP id", {"t": df}).toPandas()
    assert first["id"].tolist() == [2, 3, 1]
    assert last["id"].tolist() == [1, 3, 2]


def test_backslash_literal_survives_emission(spark):
    # _emit doubles backslashes (like _sqlq): a Windows-path literal
    # must round-trip through Spark's backslash-escaping SQL parser.
    df = spark.createDataFrame(
        [("C:\\dir\\file", 1), ("other", 2)], "path string, id long"
    )
    got = esql(
        'FROM t | WHERE path == "C:\\\\dir\\\\file" | KEEP id', {"t": df}
    ).toPandas()
    assert got["id"].tolist() == [1]
    tagged = esql(
        'FROM t | EVAL tag = CONCAT(path, "\\\\x") | SORT id ASC | KEEP tag',
        {"t": df},
    ).toPandas()
    assert tagged["tag"].tolist() == ["C:\\dir\\file\\x", "other\\x"]


def test_stats_by_identifier_inside_agg_parens(spark):
    # a column literally named `by` inside an aggregate's parens must NOT
    # split the stage — only a depth-0 BY token does.
    df = spark.createDataFrame(
        [(1, 10, "a"), (0, 99, "a"), (1, 5, "b")], "flag int, by long, g string"
    )
    got = esql(
        'FROM t | STATS s = SUM(CASE(flag == 1, by, 0)) BY g | SORT g ASC',
        {"t": df},
    ).toPandas()
    assert got["g"].tolist() == ["a", "b"]
    assert got["s"].tolist() == [10, 5]


def test_esql_filtered_alias_and_tombstones_one_live_set(spark, doc_searcher):
    """A filtered alias's default_doc_filter and pending delete_by_query
    tombstones constrain EVERY pipeline shape identically: plain
    FROM|STATS, unscored MATCH, and METADATA _score (ADVICE r4 #1)."""
    from bitcoin_ledger_2es_spark import BM25Searcher

    flt = BM25Searcher(doc_searcher.ix,
                       default_doc_filter=~F.col("is_rollup"))
    n_live = doc_searcher.ix.docmap.filter("NOT is_rollup").count()
    got = esql("FROM ix | STATS n = COUNT(*)", indexes={"ix": flt}).toPandas()
    assert got["n"].iloc[0] == n_live
    # count() -> match_docs composes the filter too (ES: alias filters
    # apply to _count)
    assert flt.count("w0001", mode="or") == (
        doc_searcher.match_docs("w0001", mode="or")
        .filter("NOT is_rollup").count()
    )
    # unscored MATCH and METADATA _score agree on the doc set
    unscored = esql(
        'FROM ix | WHERE MATCH(text, "w0001 w0005") | STATS n = COUNT(*)',
        indexes={"ix": flt},
    ).toPandas()["n"].iloc[0]
    scored = esql(
        'FROM ix METADATA _score | WHERE MATCH(text, "w0001 w0005")'
        " | STATS n = COUNT(*)",
        indexes={"ix": flt},
    ).toPandas()["n"].iloc[0]
    assert unscored == scored > 0
    # tombstones: a fresh searcher over the same index, delete, recount
    fresh = BM25Searcher(doc_searcher.ix)
    before = esql("FROM ix | STATS n = COUNT(*)",
                  indexes={"ix": fresh}).toPandas()["n"].iloc[0]
    ndel = fresh.delete_by_query("w0001", mode="or")
    after = esql("FROM ix | STATS n = COUNT(*)",
                 indexes={"ix": fresh}).toPandas()["n"].iloc[0]
    assert ndel > 0 and after == before - ndel


def test_inlinestats_by_appends_group_aggs(spark, events):
    """INLINESTATS (ES|QL 8.x): aggregates APPEND to every row instead
    of collapsing — lowered as groupBy/agg + equi-join on the BY keys.
    Differential vs a hand-built window-sum."""
    q = (
        'FROM events'
        ' | WHERE event_type == "purchase"'
        ' | EVAL cents = TO_LONG(ROUND(value * 100))'
        ' | INLINESTATS user_cents = SUM(cents), user_n = COUNT(*) BY user_id'
        ' | WHERE cents * 2 > user_cents'
        ' | SORT cents DESC, event_id ASC'
        ' | LIMIT 20'
        ' | KEEP event_id, user_id, cents, user_cents, user_n'
    )
    got = esql(q, {"events": events}).toPandas()
    from pyspark.sql import Window
    w = Window.partitionBy("user_id")
    exp = (
        events.filter(F.col("event_type") == "purchase")
        .withColumn("cents", F.round(F.col("value") * 100).cast("long"))
        .withColumn("user_cents", F.sum("cents").over(w))
        .withColumn("user_n", F.count("*").over(w))
        .filter(F.col("cents") * 2 > F.col("user_cents"))
        .orderBy(F.desc("cents"), F.asc("event_id"))
        .limit(20)
        .select("event_id", "user_id", "cents", "user_cents", "user_n")
        .toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()
    assert list(got.columns) == list(exp.columns)


def test_inlinestats_no_by_broadcasts_and_shadows(spark, events):
    """No BY -> one global agg row cross-joined (broadcast) onto every
    input row; a same-named pre-existing column is shadowed (ES|QL)."""
    n = events.count()
    got = esql(
        'FROM events | INLINESTATS total = COUNT(*), mx = MAX(value)'
        ' | LIMIT 3 | KEEP event_id, total, mx',
        {"events": events},
    ).toPandas()
    assert len(got) == 3
    assert (got["total"] == n).all()
    mx = events.agg(F.max("value")).collect()[0][0]
    assert (got["mx"] == mx).all()
    # shadowing: alias `value` replaces the input column of that name
    got2 = esql(
        'FROM events | INLINESTATS value = AVG(value) | LIMIT 2 | KEEP value',
        {"events": events},
    ).toPandas()
    avg = events.agg(F.avg("value")).collect()[0][0]
    assert got2["value"].tolist() == [avg, avg]
    # alias colliding with its own BY key is nonsense -> raise
    with pytest.raises(ESQLError, match="shadows its BY key"):
        esql('FROM events | INLINESTATS user_id = COUNT(*) BY user_id',
             {"events": events})


def test_inlinestats_per_agg_where_filter(spark, events):
    """Per-aggregate WHERE inside INLINESTATS lowers to FILTER (WHERE)
    exactly like STATS."""
    got = esql(
        'FROM events'
        ' | INLINESTATS n_err = COUNT(*) WHERE event_type == "error" BY user_id'
        ' | STATS mx = MAX(n_err)',
        {"events": events},
    ).toPandas()
    exp = (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert got["mx"].iloc[0] == exp


def test_mv_functions_over_array_column(spark):
    """MV_COUNT/MV_MAX/MV_MIN over the embeddings array column; ES
    null-in-null-out semantics (Spark size() would give -1 only under
    legacy sizeOfNull)."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = esql(
        'FROM embeddings'
        ' | EVAL n = TO_LONG(MV_COUNT(embedding)), mx = MV_MAX(embedding),'
        '        mn = MV_MIN(embedding)'
        ' | WHERE mn < 0'
        ' | SORT mx DESC, vec_id ASC'
        ' | LIMIT 15 | KEEP vec_id, n, mx, mn',
        {"embeddings": emb},
    ).toPandas()
    exp = (
        emb.select(
            "vec_id",
            F.size("embedding").cast("long").alias("n"),
            F.array_max("embedding").alias("mx"),
            F.array_min("embedding").alias("mn"),
        )
        .filter(F.col("mn") < 0)
        .orderBy(F.desc("mx"), F.asc("vec_id"))
        .limit(15)
        .toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()
    # null-in-null-out
    df = spark.createDataFrame([(1, [1, 5, 3]), (2, None)],
                               "id long, a array<int>")
    g = esql('FROM t | EVAL c = MV_COUNT(a), m = MV_MAX(a)'
             ' | SORT id ASC | KEEP id, c, m', {"t": df}).toPandas()
    assert g.loc[0, "c"] == 3 and g.loc[0, "m"] == 5
    import pandas as pd
    assert pd.isna(g.loc[1, "c"]) and pd.isna(g.loc[1, "m"])


# ---------------------------------------------------------------------------
# LOOKUP JOIN (ES|QL 8.18): broadcast left join against a lookup-mode
# index; same-named non-key columns are REPLACED by the lookup side
# (null for non-matching rows), multiple matches fan out.


def test_lookup_join_basic_and_override(spark, events):
    lk = spark.createDataFrame(
        [(i, f"seg{i % 3}", float(i) * 10.0) for i in range(8)],
        "user_id long, segment string, value double",
    )
    got = esql(
        'FROM events | WHERE user_id < 10'
        ' | LOOKUP JOIN segs ON user_id'
        ' | STATS n = COUNT(*) BY segment | SORT segment ASC',
        {"events": events}, lookups={"segs": lk},
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    pdf = got.toPandas()
    assert set(pdf["segment"].dropna()) <= {"seg0", "seg1", "seg2"}
    # the same-named `value` column is REPLACED by the lookup side
    one = esql(
        'FROM events | WHERE user_id == 3'
        ' | LOOKUP JOIN segs ON user_id | KEEP user_id, value | LIMIT 1',
        {"events": events}, lookups={"segs": lk},
    ).toPandas()
    assert one["value"].iloc[0] == 30.0
    # ... and becomes NULL for rows with no lookup match (users 8, 9)
    import pandas as pd
    unm = esql(
        'FROM events | WHERE user_id >= 8 AND user_id < 10'
        ' | LOOKUP JOIN segs ON user_id | KEEP user_id, segment, value',
        {"events": events}, lookups={"segs": lk},
    ).toPandas()
    assert len(unm) and unm["segment"].isna().all() and unm["value"].isna().all()


def test_lookup_join_fanout_and_errors(spark, events):
    dup = spark.createDataFrame(
        [(1, "a"), (1, "b")], "user_id long, tag string"
    )
    base = events.filter(F.col("user_id") == 1).count()
    got = esql(
        'FROM events | WHERE user_id == 1 | LOOKUP JOIN t ON user_id',
        {"events": events}, lookups={"t": dup},
    ).count()
    assert got == 2 * base  # multiple matches fan out (real left join)
    with pytest.raises(ESQLError, match="unknown lookup index"):
        esql('FROM events | LOOKUP JOIN nope ON user_id', {"events": events})
    with pytest.raises(ESQLError, match="missing from lookup"):
        esql('FROM events | LOOKUP JOIN t ON event_id',
             {"events": events}, lookups={"t": dup})
    with pytest.raises(ESQLError, match="missing from input"):
        esql('FROM events | LOOKUP JOIN t ON user_id',
             {"events": events.drop("user_id")}, lookups={"t": dup})


# ---------------------------------------------------------------------------
# SAMPLE: deterministic Knuth-hash sampling (documented deviation from
# ES's random SAMPLE — the repo contract forbids unseeded RNG; the same
# split-product hash as the sampler aggs, so an oracle reproduces the
# exact row set).


def test_sample_deterministic_exact(spark, events):
    got = esql(
        'FROM events | SAMPLE 0.25 event_id | STATS n = COUNT(*)',
        {"events": events},
    ).toPandas()["n"].iloc[0]
    # python twin of the knuth hash over event_id
    M32, K = 1 << 32, 2654435761
    ids = events.select("event_id").toPandas()["event_id"].tolist()

    def kh(i):
        x = (i % M32) % M32
        hi, lo = x // (1 << 16), x % (1 << 16)
        return ((hi * K % M32) * (1 << 16) + lo * K) % M32

    exp = sum(1 for i in ids if kh(i) < 0.25 * M32)
    assert got == exp
    assert 0.15 < got / len(ids) < 0.35  # roughly uniform
    # rerun is byte-identical (determinism)
    again = esql(
        'FROM events | SAMPLE 0.25 event_id | STATS n = COUNT(*)',
        {"events": events},
    ).toPandas()["n"].iloc[0]
    assert again == got


def test_sample_edges_and_errors(spark, events):
    assert esql('FROM events | SAMPLE 0 event_id',
                {"events": events}).count() == 0
    assert esql('FROM events | SAMPLE 1 event_id',
                {"events": events}).count() == events.count()
    with pytest.raises(ESQLError, match="missing"):
        esql('FROM events | SAMPLE 0.5 nope', {"events": events})
    with pytest.raises(ESQLError, match="SAMPLE takes"):
        esql('FROM events | SAMPLE 2.5 event_id', {"events": events})


# ---------------------------------------------------------------------------
# Widened scalar-function whitelist: only name+arg-order-identical Spark
# twins are mapped; everything else still raises.


def test_function_whitelist_batch(spark, events):
    got = esql(
        'FROM events'
        ' | WHERE user_id < 5'
        ' | EVAL s = CONCAT(event_type, "!"),'
        '   up = STARTS_WITH(event_type, "pu"),'
        '   l3 = LEFT(event_type, 3), r2 = RIGHT(event_type, 2),'
        '   fl = FLOOR(value), ce = CEIL(value), sq = SQRT(ABS(value)),'
        '   lg = LOG10(GREATEST(value, 1.0)),'
        '   rep = REPLACE(event_type, "[aeiou]", "_"),'
        '   pi2 = ROUND(PI() * 2, 3), b = TO_BASE64(event_type),'
        '   n = TO_INTEGER(ROUND(value, 0))'
        ' | SORT event_id ASC | LIMIT 5'
        ' | KEEP event_id, s, up, l3, r2, fl, ce, sq, lg, rep, pi2, b, n',
        {"events": events},
    ).toPandas()
    exp = (
        events.filter(F.col("user_id") < 5)
        .select(
            "event_id",
            F.concat(F.col("event_type"), F.lit("!")).alias("s"),
            F.col("event_type").startswith("pu").alias("up"),
            F.expr("left(event_type, 3)").alias("l3"),
            F.expr("right(event_type, 2)").alias("r2"),
            F.floor("value").alias("fl"), F.ceil("value").alias("ce"),
            F.sqrt(F.abs(F.col("value"))).alias("sq"),
            F.log10(F.greatest(F.col("value"), F.lit(1.0))).alias("lg"),
            F.regexp_replace("event_type", "[aeiou]", "_").alias("rep"),
            F.round(F.expr("pi()") * 2, 3).alias("pi2"),
            F.base64(F.col("event_type").cast("binary")).alias("b"),
            F.round(F.col("value"), 0).cast("int").alias("n"),
        )
        .orderBy("event_id").limit(5).toPandas()
    )
    pd_cols = ["event_id", "s", "up", "l3", "r2", "fl", "ce", "rep",
               "pi2", "b", "n"]
    import pandas as pd
    pd.testing.assert_frame_equal(
        got[pd_cols].reset_index(drop=True), exp[pd_cols].reset_index(drop=True)
    )
    import numpy as np
    assert np.allclose(got["sq"], exp["sq"]) and np.allclose(got["lg"], exp["lg"])


def test_mv_dedupe_sort_and_unknown_still_raises(spark):
    df = spark.createDataFrame([(1, [3, 1, 3, 2])], "id long, a array<int>")
    g = esql('FROM t | EVAL d = MV_SORT(MV_DEDUPE(a)) | KEEP id, d',
             {"t": df}).toPandas()
    assert g.loc[0, "d"].tolist() == [1, 2, 3]
    with pytest.raises(ESQLError, match="unsupported ES\\|QL function"):
        # CIDR_MATCH landed in session 4 — IP_PREFIX is still outside
        # the documented subset and must keep raising
        esql('FROM t | EVAL x = IP_PREFIX(a, 8, 0)', {"t": df})
    with pytest.raises(ESQLError, match="unsupported ES\\|QL function"):
        # MV_SLICE landed in session 4 — MV_PERCENTILE is still outside
        # the documented subset and must keep raising
        esql('FROM t | EVAL x = MV_PERCENTILE(a, 50)', {"t": df})


def test_row_literal_source(spark):
    got = esql('ROW a = 1, b = "x", c = 2.5 | EVAL d = a + 1').toPandas()
    assert list(got.columns) == ["a", "b", "c", "d"]
    assert got.values.tolist() == [[1, "x", 2.5, 2]]


def test_bucket_numeric_span_in_stats_by(spark, events):
    got = esql(
        'FROM events | STATS n = COUNT(*) BY b = BUCKET(value, 25.0)'
        ' | SORT b ASC',
        {"events": events},
    ).toPandas()
    exp = (
        events.withColumn(
            "b", F.floor(F.col("value") / F.lit(25.0)) * F.lit(25.0))
        .groupBy("b").agg(F.count("*").alias("n")).orderBy("b").toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()
    assert list(got.columns) == ["b", "n"]


def test_bucket_calendar_span_is_date_trunc(spark, events):
    got = esql(
        'FROM events | STATS n = COUNT(*) BY d = BUCKET(ts, 1 day)'
        ' | SORT d ASC | LIMIT 4',
        {"events": events},
    ).toPandas()
    exp = (
        events.withColumn("d", F.date_trunc("day", F.col("ts")))
        .groupBy("d").agg(F.count("*").alias("n"))
        .orderBy("d").limit(4).toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()


def test_bucket_auto_form_matches_es_docs_example(spark, events):
    # the ES|QL reference's canonical example: 20 buckets over
    # [25324, 74999] resolves to interval 5000
    from bitcoin_ledger_2es_spark.plans.esql import _nice_interval

    assert _nice_interval(25324, 74999, 20) == 5000.0
    got = esql(
        'FROM events | STATS n = COUNT(*) BY b = BUCKET(value, 4, 0, 200)'
        ' | SORT b ASC',
        {"events": events},
    ).toPandas()
    exp = (
        events.withColumn(
            "b", F.floor(F.col("value") / F.lit(50.0)) * F.lit(50.0))
        .groupBy("b").agg(F.count("*").alias("n")).orderBy("b").toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()


def test_bucket_misuse_raises(spark, events):
    with pytest.raises(ESQLError, match="span must be positive"):
        esql('FROM e | EVAL b = BUCKET(value, 0)', {"e": events})
    with pytest.raises(ESQLError, match="numeric literal or"):
        esql('FROM e | EVAL b = BUCKET(ts, 3 hour)', {"e": events})
    with pytest.raises(ESQLError, match="numeric literals"):
        esql('FROM e | EVAL b = BUCKET(value, 4, value, 200)', {"e": events})
    with pytest.raises(ESQLError, match="takes .expr, span."):
        esql('FROM e | EVAL b = BUCKET(value)', {"e": events})


def test_fork_unions_branches_with_tag_and_null_fill(spark, events):
    got = esql(
        'FROM events'
        ' | FORK (WHERE event_type == "purchase" | EVAL cents ='
        ' TO_LONG(ROUND(value * 100)) | LIMIT 3)'
        '        (WHERE event_type == "signup" | LIMIT 2)'
        ' | STATS n = COUNT(*), c = COUNT(cents) BY _fork | SORT _fork ASC',
        {"events": events},
    ).toPandas()
    # fork1: 3 rows all with cents; fork2: 2 rows, cents null-filled
    assert got.values.tolist() == [["fork1", 3, 3], ["fork2", 2, 0]]


def test_fork_fuse_rrf_matches_manual_fold(spark, doc_searcher):
    got = esql(
        'FROM ix METADATA _score'
        ' | FORK (WHERE MATCH(text, "w0001") | SORT _score DESC, doc_id ASC'
        ' | LIMIT 8)'
        '        (WHERE MATCH(text, "w0005") | SORT _score DESC, doc_id ASC'
        ' | LIMIT 8)'
        ' | FUSE'
        ' | SORT _score DESC, doc_id ASC | LIMIT 5 | KEEP doc_id, _score',
        indexes={"ix": doc_searcher},
    ).toPandas()
    fused = {}
    for q in ("w0001", "w0005"):
        top = doc_searcher.top_k(q, k=8, with_meta=False).toPandas()
        for rank, d in enumerate(top["doc_id"].tolist(), start=1):
            fused[d] = fused.get(d, 0.0) + 1.0 / (60.0 + rank)
    exp = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert got["doc_id"].tolist() == [d for d, _ in exp]
    import numpy as np

    assert np.array_equal(
        got["_score"].to_numpy(), np.array([s for _, s in exp]))


def test_fork_fuse_misuse_raises(spark, events, doc_searcher):
    with pytest.raises(ESQLError, match="at least two branches"):
        esql('FROM e | FORK (WHERE value > 0)', {"e": events})
    with pytest.raises(ESQLError, match="only parenthesized branches"):
        esql('FROM e | FORK (WHERE value > 0) x (LIMIT 2)', {"e": events})
    with pytest.raises(ESQLError, match="nested FORK"):
        esql('FROM e | FORK (LIMIT 1) (FORK (LIMIT 1) (LIMIT 2))',
             {"e": events})
    with pytest.raises(ESQLError, match="FUSE needs the _fork"):
        esql('FROM e | FUSE', {"e": events})
    with pytest.raises(ESQLError, match="only the rrf method"):
        esql('FROM ix METADATA _score'
             ' | FORK (WHERE MATCH(text, "w0001") | LIMIT 2)'
             ' (WHERE MATCH(text, "w0005") | LIMIT 2) | FUSE linear',
             indexes={"ix": doc_searcher})


def test_change_point_command_appends_type_and_pvalue(spark):
    import math

    rows = [(k, 10 if k <= 6 else 50) for k in range(1, 11)]
    df = spark.createDataFrame(rows, "k int, v long")
    got = esql(
        'FROM t | CHANGE_POINT v ON k | SORT k ASC', {"t": df}
    ).toPandas()
    assert list(got.columns) == ["k", "v", "type", "pvalue"]
    hit = got[got["type"].notna()]
    assert len(hit) == 1 and hit.iloc[0]["k"] == 7
    assert hit.iloc[0]["type"] == "step_change"
    i, n, lm, rm = 6, 10, 10.0, 50.0
    assert hit.iloc[0]["pvalue"] == abs(lm - rm) * math.sqrt(i * (n - i) / n)


def test_change_point_custom_names_and_short_series(spark):
    df = spark.createDataFrame([(1, 5), (2, 9)], "k int, v long")
    got = esql(
        'FROM t | CHANGE_POINT v ON k AS cptype, stat | SORT k ASC',
        {"t": df},
    ).toPandas()
    assert list(got.columns) == ["k", "v", "cptype", "stat"]
    assert got["cptype"].isna().all()  # indeterminable -> no annotation


def test_change_point_misuse_raises(spark, events):
    with pytest.raises(ESQLError, match="key column"):
        esql('FROM e | CHANGE_POINT value', {"e": events})  # no @timestamp
    with pytest.raises(ESQLError, match="value column"):
        esql('FROM e | CHANGE_POINT nope ON ts', {"e": events})
    with pytest.raises(ESQLError, match="CHANGE_POINT takes"):
        esql('FROM e | CHANGE_POINT value ON ts AS only_one', {"e": events})


def test_special_fn_locate_date_format_date_diff_split(spark):
    df = spark.createDataFrame(
        [("hello world", "2024-01-03 10:30:00", "2024-01-05 09:00:00")],
        "s string, a string, b string",
    ).selectExpr("s", "CAST(a AS TIMESTAMP) a", "CAST(b AS TIMESTAMP) b")
    got = esql(
        'FROM t | EVAL loc = LOCATE(s, "world"),'
        ' fmt = DATE_FORMAT("yyyy/MM/dd", a),'
        ' iso = DATE_FORMAT(a),'
        ' dd = DATE_DIFF("day", a, b),'
        ' hh = DATE_DIFF("hour", a, b),'
        ' parts = SPLIT(s, " ")'
        ' | KEEP loc, fmt, iso, dd, hh, parts',
        {"t": df},
    ).toPandas()
    r = got.iloc[0]
    assert r["loc"] == 7
    assert r["fmt"] == "2024/01/03"
    assert r["iso"] == "2024-01-03T10:30:00.000Z"
    assert r["dd"] == 1 and r["hh"] == 46  # complete units only
    assert list(r["parts"]) == ["hello", "world"]


def test_split_regex_metachars_are_literal(spark):
    df = spark.createDataFrame([("a.b.c",), ("x|y",)], "s string")
    got = esql(
        'FROM t | EVAL p = SPLIT(s, "."), q = MV_COUNT(p) | KEEP s, q'
        ' | SORT s ASC',
        {"t": df},
    ).toPandas()
    # "." splits only the literal dots — 3 parts for a.b.c, 1 for x|y
    assert got["q"].tolist() == [3, 1]


def test_mv_sum_avg_first_last_and_null_conventions(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 4.0]), (2, []), (3, None)],
        "k int, v array<double>",
    )
    got = esql(
        'FROM t | EVAL s = MV_SUM(v), a = MV_AVG(v),'
        ' f = MV_FIRST(v), l = MV_LAST(v)'
        ' | KEEP k, s, a, f, l | SORT k ASC',
        {"t": df},
    ).toPandas()
    assert got.loc[0, ["s", "a", "f", "l"]].tolist() == [7.0, 7.0 / 3.0, 1.0, 4.0]
    assert got.loc[1, ["s", "a", "f", "l"]].isna().all()  # empty -> null
    assert got.loc[2, ["s", "a", "f", "l"]].isna().all()  # null -> null


def test_special_fn_misuse_raises(spark, events):
    with pytest.raises(ESQLError, match="DATE_DIFF unit"):
        esql('FROM e | EVAL d = DATE_DIFF("dd", ts, ts)', {"e": events})
    with pytest.raises(ESQLError, match="string literal"):
        esql('FROM e | EVAL p = SPLIT(event_type, event_type)',
             {"e": events})
    with pytest.raises(ESQLError, match="LOCATE takes"):
        esql('FROM e | EVAL p = LOCATE(event_type)', {"e": events})
    with pytest.raises(ESQLError, match="unsupported ES\\|QL function"):
        # CIDR_MATCH landed in session 4 — ST_CONTAINS never will here
        esql('FROM e | EVAL x = ST_CONTAINS(event_type, event_type)',
             {"e": events})


def test_mv_concat_joins_string_arrays(spark):
    df = spark.createDataFrame([(["a", "b", "c"],)], "v array<string>")
    got = esql('FROM t | EVAL j = MV_CONCAT(v, "-") | KEEP j',
               {"t": df}).toPandas()
    assert got["j"].tolist() == ["a-b-c"]


def test_stats_std_dev_values_weighted_avg_top(spark, events):
    got = esql(
        'FROM events'
        ' | EVAL cents = TO_LONG(ROUND(value * 100))'
        ' | STATS sd = STD_DEV(cents),'
        ' wa = WEIGHTED_AVG(cents, user_id + 1),'
        ' vals = VALUES(event_type),'
        ' t3 = TOP(cents, 3, "desc"),'
        ' b3 = TOP(cents, 2, "asc")',
        {"events": events},
    ).toPandas()
    import numpy as np

    pdf = events.toPandas()
    cents = np.round(pdf["value"].to_numpy() * 100).astype("int64")
    w = pdf["user_id"].to_numpy() + 1
    r = got.iloc[0]
    assert abs(r["sd"] - cents.std()) < 1e-6          # population std
    assert r["wa"] == float((cents.astype("float64") * w).sum() / float(w.sum()))
    assert list(r["vals"]) == sorted(pdf["event_type"].unique())
    srt = np.sort(cents)
    assert list(r["t3"]) == srt[::-1][:3].tolist()
    assert list(r["b3"]) == srt[:2].tolist()


def test_stats_top_misuse_raises(spark, events):
    with pytest.raises(ESQLError, match="positive integer"):
        esql('FROM e | STATS t = TOP(value, 0, "desc")', {"e": events})
    with pytest.raises(ESQLError, match='"asc" or "desc"'):
        esql('FROM e | STATS t = TOP(value, 3, "up")', {"e": events})
    with pytest.raises(ESQLError, match="WEIGHTED_AVG"):
        esql('FROM e | STATS t = WEIGHTED_AVG(value)', {"e": events})


def test_fuse_rejects_branch_local_eval(spark, doc_searcher):
    with pytest.raises(ESQLError, match="identical columns"):
        esql(
            'FROM ix METADATA _score'
            ' | FORK (WHERE MATCH(text, "w0001") | EVAL extra = 1 | LIMIT 3)'
            '        (WHERE MATCH(text, "w0005") | LIMIT 3)'
            ' | FUSE',
            indexes={"ix": doc_searcher},
        )


def test_like_uses_esql_wildcards_not_sql(spark):
    df = spark.createDataFrame(
        [("abc",), ("a%c",), ("axc",), ("ac",), ("a?c",)], "s string")
    # * = any sequence, ? = one char; % and _ are LITERALS in ES|QL
    got = esql('FROM t | WHERE s LIKE "a*c" | SORT s ASC', {"t": df}).toPandas()
    assert got["s"].tolist() == ["a%c", "a?c", "abc", "ac", "axc"]
    got = esql('FROM t | WHERE s LIKE "a?c" | SORT s ASC', {"t": df}).toPandas()
    assert got["s"].tolist() == ["a%c", "a?c", "abc", "axc"]
    got = esql('FROM t | WHERE s LIKE "a%c"', {"t": df}).toPandas()
    assert got["s"].tolist() == ["a%c"]  # % is a literal percent
    got = esql('FROM t | WHERE s LIKE "a\\?c"', {"t": df}).toPandas()
    assert got["s"].tolist() == ["a?c"]  # escaped ? is a literal


def test_rlike_matches_whole_string(spark):
    df = spark.createDataFrame([("abc",), ("xabcx",), ("ab",)], "s string")
    got = esql('FROM t | WHERE s RLIKE "ab." | SORT s ASC', {"t": df}).toPandas()
    assert got["s"].tolist() == ["abc"]  # whole-string match, not find()


def test_keep_drop_wildcards(spark, events):
    got = esql('FROM e | KEEP event_*, user_id | LIMIT 1', {"e": events})
    assert got.columns == ["event_id", "event_type", "user_id"]
    got = esql('FROM e | DROP *_id | LIMIT 1', {"e": events})
    assert "event_id" not in got.columns and "user_id" not in got.columns
    got = esql('FROM e | KEEP * | LIMIT 1', {"e": events})
    assert got.columns == events.columns
    with pytest.raises(ESQLError, match="no columns match"):
        esql('FROM e | KEEP zz*', {"e": events})
    with pytest.raises(ESQLError, match="unknown column"):
        esql('FROM e | DROP nope', {"e": events})


def test_stats_by_without_aggregates_is_distinct(spark, events):
    got = esql('FROM e | STATS BY event_type | SORT event_type ASC',
               {"e": events}).toPandas()
    exp = sorted(r[0] for r in
                 events.select("event_type").distinct().collect())
    assert got["event_type"].tolist() == exp and list(got.columns) == ["event_type"]
    with pytest.raises(ESQLError, match="aggregates or BY"):
        esql('FROM e | STATS', {"e": events})


def test_inlinestats_without_aggregates_raises(spark, events):
    with pytest.raises(ESQLError, match="at least one aggregate"):
        esql('FROM e | INLINESTATS BY event_type', {"e": events})


# ---------------------------------------------------------------------------
# session-4: `::` postfix casts, DATE_EXTRACT/DATE_PARSE, MV_SLICE /
# MV_MEDIAN / MV_ZIP / MV_APPEND, SHA256


def test_colon_cast_atoms_and_groups(spark, events):
    got = esql(
        'FROM events'
        ' | EVAL cents = ROUND(value * 100)::LONG,'
        '        half = (value / 2)::LONG,'
        '        tag = user_id::KEYWORD'
        ' | WHERE cents > 10000'
        ' | SORT cents DESC, event_id ASC | LIMIT 5'
        ' | KEEP event_id, cents, half, tag',
        {"events": events},
    ).toPandas()
    exp = (
        events.withColumn("cents", F.expr("CAST(round(value * 100) AS BIGINT)"))
        .withColumn("half", F.expr("CAST(value / 2 AS BIGINT)"))
        .withColumn("tag", F.col("user_id").cast("string"))
        .filter(F.col("cents") > 10000)
        .orderBy(F.desc("cents"), F.asc("event_id")).limit(5)
        .select("event_id", "cents", "half", "tag")
        .toPandas()
    )
    assert got.values.tolist() == exp.values.tolist()
    assert got["tag"].dtype == object
    # chained casts fold left; ::LONG truncates toward zero (ES TO_LONG)
    one = esql('ROW x = 3.9::LONG::STRING').toPandas()
    assert one["x"].iloc[0] == "3"
    with pytest.raises(ESQLError, match="cast type"):
        esql('FROM events | EVAL y = value::IP', {"events": events})
    with pytest.raises(ESQLError, match="type name"):
        esql('FROM events | EVAL y = value::', {"events": events})


def test_date_extract_and_parse(spark, events):
    got = esql(
        'FROM events'
        ' | EVAL yr = DATE_EXTRACT("year", ts),'
        '        mo = DATE_EXTRACT("month_of_year", ts),'
        '        dow = DATE_EXTRACT("day_of_week", ts)'
        ' | STATS n = COUNT(*) BY yr, mo, dow'
        ' | SORT yr ASC, mo ASC, dow ASC',
        {"events": events},
    ).toPandas()
    exp = (
        events.select(
            F.year("ts").cast("long").alias("yr"),
            F.month("ts").cast("long").alias("mo"),
            (F.weekday("ts") + 1).cast("long").alias("dow"),
        ).groupBy("yr", "mo", "dow").agg(F.count("*").alias("n"))
        .orderBy("yr", "mo", "dow").toPandas()
    )
    assert got[["yr", "mo", "dow", "n"]].values.tolist() == \
        exp[["yr", "mo", "dow", "n"]].values.tolist()
    # ISO day-of-week: Monday = 1 (2024-01-01 was a Monday)
    row = esql('ROW d = DATE_EXTRACT("day_of_week",'
               ' DATE_PARSE("yyyy-MM-dd", "2024-01-01"))').toPandas()
    assert row["d"].iloc[0] == 1
    with pytest.raises(ESQLError, match="DATE_EXTRACT part"):
        esql('FROM events | EVAL x = DATE_EXTRACT("era", ts)',
             {"events": events})


def test_mv_slice_median_zip_append(spark):
    got = esql(
        'ROW a = MV_SLICE(SPLIT("a,b,c,d,e", ","), 1, 2),'
        '    t = MV_SLICE(SPLIT("a,b,c", ","), 0),'
        '    neg = MV_SLICE(SPLIT("a,b,c,d", ","), -2, -1),'
        '    oob = MV_SLICE(SPLIT("a,b", ","), 5, 9),'
        '    med_odd = MV_MEDIAN(SPLIT("10,2,9", ",")),'
        '    zip = MV_ZIP(SPLIT("x,y", ","), SPLIT("1,2,3", ",")),'
        '    app = MV_APPEND(SPLIT("a", ","), SPLIT("b", ","))',
    ).toPandas()
    r = got.iloc[0]
    assert list(r["a"]) == ["b", "c"]
    assert list(r["t"]) == ["a"]
    assert list(r["neg"]) == ["c", "d"]
    assert r["oob"] is None
    # numeric (not lexicographic) median: sorted [2, 9, 10] -> 9
    assert r["med_odd"] == 9.0
    assert list(r["zip"]) == ["x,1", "y,2", "3"]
    assert list(r["app"]) == ["a", "b"]
    # even-count median averages the two middle values
    ev = esql('ROW m = MV_MEDIAN(SPLIT("4,1,3,2", ","))').toPandas()
    assert ev["m"].iloc[0] == 2.5
    with pytest.raises(ESQLError, match="integer literals"):
        esql('FROM e | EVAL x = MV_SLICE(a, b)', {"e": spark.range(1)})


def test_sha256_lowering(spark):
    import hashlib

    got = esql('ROW h = SHA256("data")').toPandas()
    assert got["h"].iloc[0] == hashlib.sha256(b"data").hexdigest()


def test_cidr_match(spark):
    df = spark.createDataFrame(
        [(1, "10.1.2.3"), (2, "10.64.0.1"), (3, "192.168.1.5"),
         (4, "172.16.0.9")],
        "id long, ip string")
    got = esql(
        'FROM t | WHERE CIDR_MATCH(ip, "10.0.0.0/10", "192.168.0.0/16")'
        ' | SORT id ASC | KEEP id',
        {"t": df},
    ).toPandas()
    # 10.1.2.3 in 10.0/10; 10.64.0.1 is OUTSIDE /10 (second octet 64);
    # 192.168.1.5 in 192.168/16; 172.16.0.9 in neither
    assert got["id"].tolist() == [1, 3]
    with pytest.raises(ESQLError, match="string literals"):
        esql('FROM t | WHERE CIDR_MATCH(ip, other)', {"t": df})
    with pytest.raises(ESQLError, match="IPv6"):
        esql('FROM t | WHERE CIDR_MATCH(ip, "::1/128")', {"t": df})


def test_match_phrase_filter_and_score(spark, tiny_df):
    from bitcoin_ledger_2es_spark import BM25Searcher, build_index
    from bitcoin_ledger_2es_spark.config import DEFAULT

    s = BM25Searcher(build_index(
        tiny_df, DEFAULT.with_(docs_per_shard=512, block_size=32,
                               store_positions=True)))
    # find a real bigram to query
    row = s.ix.docmap.limit(1).collect()
    txt = tiny_df.limit(1).collect()[0]["text"].split()
    phrase = f"{txt[0]} {txt[1]}"
    exp = s.phrase_query(phrase, k=2_147_483_647, with_meta=False).toPandas()
    # filter context: the semi-join doc set equals phrase_query's
    got = esql(
        f'FROM ix | WHERE MATCH_PHRASE(text, "{phrase}")'
        ' | STATS n = COUNT(*)',
        indexes={"ix": s},
    ).toPandas()
    assert got["n"].iloc[0] == len(exp) > 0
    # scored: SORT _score DESC, doc_id reproduces phrase_query's ranking
    sc = esql(
        f'FROM ix METADATA _score | WHERE MATCH_PHRASE(text, "{phrase}")'
        ' | SORT _score DESC, doc_id ASC | LIMIT 5 | KEEP doc_id, _score',
        indexes={"ix": s},
    ).toPandas()
    assert sc["doc_id"].tolist() == exp["doc_id"].tolist()[:5]
    assert sc["_score"].tolist() == exp["score"].tolist()[:5]
    # misuse: nested under OR raises; plain table raises
    with pytest.raises(ESQLError, match="top-level AND"):
        esql(f'FROM ix | WHERE MATCH_PHRASE(text, "{phrase}") OR is_rollup',
             indexes={"ix": s})
    with pytest.raises(ESQLError, match="needs a FROM over an index"):
        esql('FROM t | WHERE MATCH_PHRASE(text, "a b")',
             {"t": spark.range(1)})


def test_qstr_filter_and_score(spark, doc_searcher):
    s = doc_searcher
    qs = "w0001 AND NOT w0005"
    exp = s.query_string(qs, k=2_147_483_647, with_meta=False).toPandas()
    got = esql(
        f'FROM ix | WHERE QSTR("{qs}") | STATS n = COUNT(*)',
        indexes={"ix": s},
    ).toPandas()
    assert got["n"].iloc[0] == len(exp) > 0
    sc = esql(
        f'FROM ix METADATA _score | WHERE QSTR("{qs}")'
        ' | SORT _score DESC, doc_id ASC | LIMIT 5 | KEEP doc_id, _score',
        indexes={"ix": s},
    ).toPandas()
    assert sc["doc_id"].tolist() == exp["doc_id"].tolist()[:5]
    assert sc["_score"].tolist() == exp["score"].tolist()[:5]
    with pytest.raises(ESQLError, match='QSTR takes'):
        esql('FROM ix | WHERE QSTR(text, "a")', indexes={"ix": s})
    with pytest.raises(ESQLError, match="top-level AND"):
        esql('FROM ix | WHERE QSTR("a") OR is_rollup', indexes={"ix": s})


def test_fork_fused_single_scan_equals_generic(spark, doc_searcher, monkeypatch):
    """The fused FORK lowering (one union-of-terms scan for sibling scored
    top-k branch heads) must (a) engage for the head shape, (b) produce
    rows identical to the per-branch generic path, and (c) run ONE shard
    kernel where the generic path runs one per branch."""
    import bitcoin_ledger_2es_spark.plans.esql as esql_mod

    q = (
        'FROM ix METADATA _score'
        ' | FORK (WHERE MATCH(text, "w0001") | SORT _score DESC, doc_id ASC'
        ' | LIMIT 8)'
        ' (WHERE MATCH(text, "w0005") | SORT _score DESC, doc_id ASC'
        ' | LIMIT 8)'
        ' | FUSE | SORT _score DESC, doc_id ASC | LIMIT 5'
        ' | KEEP doc_id, _score'
    )
    called = {}
    orig = esql_mod._fused_fork_topk

    def spy(df, heads, searcher):
        called["heads"] = heads
        return orig(df, heads, searcher)

    monkeypatch.setattr(esql_mod, "_fused_fork_topk", spy)
    fused_df = esql(q, indexes={"ix": doc_searcher})
    # one kernel pass in the PRE-execution plan (the generic path has one
    # per branch; post-execution AQE strings inline cached subtrees and
    # over-count, so pin the initial physical plan)
    plan = fused_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") + plan.count("MapInPandas") == 1
    fused = fused_df.toPandas()
    assert called["heads"] == [("w0001", 8), ("w0005", 8)]

    monkeypatch.setattr(esql_mod, "_fork_head_topk", lambda b: None)
    gen_df = esql(q, indexes={"ix": doc_searcher})
    gplan = gen_df._jdf.queryExecution().executedPlan().toString()
    assert gplan.count("FlatMapGroupsInPandas") + gplan.count("MapInPandas") == 2
    gen = gen_df.toPandas()
    assert fused["doc_id"].tolist() == gen["doc_id"].tolist()
    assert fused["_score"].tolist() == gen["_score"].tolist()


def test_fork_fused_falls_back_on_non_head_branches(spark, doc_searcher,
                                                    monkeypatch):
    """A branch that is not the scored top-k head shape (extra stage,
    different sort, residual conjunct) must keep the generic per-branch
    lowering — fused never engages."""
    import bitcoin_ledger_2es_spark.plans.esql as esql_mod

    def boom(df, heads, searcher):  # pragma: no cover
        raise AssertionError("fused path must not engage")

    monkeypatch.setattr(esql_mod, "_fused_fork_topk", boom)
    got = esql(
        'FROM ix METADATA _score'
        ' | FORK (WHERE MATCH(text, "w0001") AND NOT is_rollup'
        ' | SORT _score DESC, doc_id ASC | LIMIT 4)'
        ' (WHERE MATCH(text, "w0005") | SORT doc_id ASC | LIMIT 4)'
        ' | STATS n = COUNT(*) BY _fork | SORT _fork ASC',
        indexes={"ix": doc_searcher},
    ).toPandas()
    assert got["n"].tolist() and len(got) <= 2


@pytest.mark.parametrize("prefix", [
    " | SORT doc_id ASC | LIMIT 30",
    " | SAMPLE 0.5",
    ' | EVAL parts = SPLIT(conv_id, "0") | MV_EXPAND parts',
])
def test_fork_after_row_stage_equals_generic(spark, doc_searcher, monkeypatch,
                                             prefix):
    """The fused FORK lowering scores each branch over the WHOLE index, so
    it must not engage once a stage has touched the FROM frame: LIMIT,
    SORT, SAMPLE and MV_EXPAND leave the first WHERE open but change the
    rows every branch sees. The result must equal the generic per-branch
    lowering (the LIMIT case used to return 0 fused rows vs 5 generic)."""
    import bitcoin_ledger_2es_spark.plans.esql as esql_mod

    q = (
        'FROM ix METADATA _score' + prefix +
        ' | FORK (WHERE MATCH(text, "w0001") | SORT _score DESC, doc_id ASC'
        ' | LIMIT 8)'
        ' (WHERE MATCH(text, "w0005") | SORT _score DESC, doc_id ASC'
        ' | LIMIT 8)'
        ' | KEEP _fork, doc_id, _score'
        ' | SORT _fork ASC, _score DESC, doc_id ASC'
    )
    got = esql(q, indexes={"ix": doc_searcher}).toPandas()
    monkeypatch.setattr(esql_mod, "_fork_head_topk", lambda b: None)
    gen = esql(q, indexes={"ix": doc_searcher}).toPandas()
    assert len(gen) > 0
    assert got.to_dict("list") == gen.to_dict("list")

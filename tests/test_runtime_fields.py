"""ES ``runtime_mappings`` (public ES semantics: search-request-scoped
computed fields, evaluated at query time from _source, filterable /
sortable / aggregatable, never score-altering — plans/query.py
runtime_search):

* scored search + runtime filter is EXACT vs the pandas oracle (full
  match set -> post-hoc filter, the dis_max argument), scores f32
  bit-identical to the unfiltered ranking restricted to passing docs;
* sort on a runtime field (with doc_id tiebreak) matches the oracle, and
  without k returns the whole sorted frame with no rank column;
* k=None returns the aggregation-shaped full frame (groupBy on runtime
  fields matches pandas);
* unscored (filter-only) search serves every live doc at score 0.0;
* a runtime field shadowing an existing column raises.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bitcoin_ledger_2es_spark import BM25Searcher, PandasOracle, build_index
from bitcoin_ledger_2es_spark.config import DEFAULT
from bitcoin_ledger_2es_spark.plans.query import runtime_search

CFG = DEFAULT.with_(docs_per_shard=256, block_size=32, index_rollups=False)

MAPPINGS = {
    "len_bucket": "CAST(floor(length(text) / 40) AS BIGINT)",
    "role_tag": "upper(role)",
}
RT_FILTER = "len_bucket >= 1 AND role_tag = 'USER'"
QUERY = "w0000 w0002"


@pytest.fixture(scope="module")
def env(spark, tiny_df, tiny_pdf):
    ix = build_index(tiny_df, CFG)
    s = BM25Searcher(ix)
    dm = ix.docmap.select("doc_id", "conv_id", "turn_idx").toPandas()
    src = dm.merge(tiny_pdf, on=["conv_id", "turn_idx"])
    src["len_bucket"] = (src["text"].str.len() // 40).astype(np.int64)
    src["role_tag"] = src["role"].str.upper()
    oracle = PandasOracle(
        pd.DataFrame({"doc_id": src["doc_id"], "text": src["text"]}), CFG
    )
    return s, tiny_df, src, oracle


def test_scored_runtime_filter_exact(env):
    s, tiny_df, src, oracle = env
    got = runtime_search(
        s, tiny_df, MAPPINGS, QUERY, mode="or",
        runtime_filter=RT_FILTER, k=15,
    ).toPandas()
    full = oracle.top_k(QUERY, k=10_000, mode="or").merge(src, on="doc_id")
    keep = full[(full["len_bucket"] >= 1) & (full["role_tag"] == "USER")]
    exp = keep.sort_values(
        ["score", "doc_id"], ascending=[False, True], kind="mergesort"
    ).head(15)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    np.testing.assert_array_equal(
        got["score"].to_numpy(np.float32), exp["score"].to_numpy(np.float32)
    )
    assert got["rank"].tolist() == list(range(1, len(got) + 1))
    assert got["len_bucket"].tolist() == exp["len_bucket"].tolist()


def test_runtime_sort(env):
    s, tiny_df, src, oracle = env
    got = runtime_search(
        s, tiny_df, MAPPINGS, QUERY, mode="or",
        sort=[("len_bucket", True), ("_score", False)], k=20,
    ).toPandas()
    full = oracle.top_k(QUERY, k=10_000, mode="or").merge(src, on="doc_id")
    exp = full.sort_values(
        ["len_bucket", "score", "doc_id"], ascending=[True, False, True],
        kind="mergesort",
    ).head(20)
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()


def test_runtime_sort_without_k_is_unranked(env):
    """``sort`` with ``k=None``: the whole sorted frame, no ``rank`` column
    (ranking the full match set would need a global single-partition
    window)."""
    s, tiny_df, src, oracle = env
    got = runtime_search(
        s, tiny_df, MAPPINGS, QUERY, mode="or",
        sort=[("len_bucket", True), ("_score", False)],
    ).toPandas()
    assert got.columns.tolist() == [
        "doc_id", "score", "conv_id", "turn_idx", *MAPPINGS
    ]
    full = oracle.top_k(QUERY, k=10_000, mode="or").merge(src, on="doc_id")
    exp = full.sort_values(
        ["len_bucket", "score", "doc_id"], ascending=[True, False, True],
        kind="mergesort",
    )
    assert got["doc_id"].tolist() == exp["doc_id"].tolist()
    np.testing.assert_array_equal(
        got["score"].to_numpy(np.float32), exp["score"].to_numpy(np.float32)
    )


def test_runtime_agg_shape(env):
    s, tiny_df, src, oracle = env
    frame = runtime_search(s, tiny_df, MAPPINGS, QUERY, mode="or")
    got = {
        (r["role_tag"], r["len_bucket"]): r["cnt"]
        for r in frame.groupBy("role_tag", "len_bucket")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    full = oracle.top_k(QUERY, k=10_000, mode="or").merge(src, on="doc_id")
    exp = full.groupby(["role_tag", "len_bucket"]).size().to_dict()
    assert got == exp


def test_unscored_match_all_filter(env):
    s, tiny_df, src, oracle = env
    frame = runtime_search(
        s, tiny_df, MAPPINGS, runtime_filter="role_tag = 'TOOL'"
    )
    pdf = frame.toPandas()
    assert len(pdf) == int((src["role_tag"] == "TOOL").sum())
    assert (pdf["score"] == 0.0).all()


def test_runtime_shadow_raises(env):
    s, tiny_df, src, oracle = env
    with pytest.raises(ValueError, match="shadows"):
        runtime_search(s, tiny_df, {"doc_len": "1"}, QUERY)
    with pytest.raises(ValueError, match="shadows"):
        runtime_search(s, tiny_df, {"text": "upper(text)"}, QUERY)

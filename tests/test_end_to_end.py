"""M2 gate: the engine's indexed top-k must be rank-identical — (doc_id,
score_f32) sequences — to the brute-force pandas oracle on the full
reference query set (FIXTURES.md §2)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bitcoin_ledger_2es_spark import BM25Searcher, PandasOracle, build_index
from bitcoin_ledger_2es_spark.config import DEFAULT
from bitcoin_ledger_2es_spark.sources.synth import gen_query_set


@pytest.fixture(scope="module")
def small_cfg():
    # tiny shards so the 200-conv corpus spans multiple shards
    return DEFAULT.with_(docs_per_shard=256, block_size=32)


@pytest.fixture(scope="module")
def ix(spark, tiny_df, small_cfg):
    return build_index(tiny_df, small_cfg)


def corpus_docs_pdf(src: pd.DataFrame) -> pd.DataFrame:
    """First-principles (doc_id, text): turns ranked by (conv_id, turn_idx),
    then rollup docs (turn texts joined by ' ') ranked by conv_id — the
    docID spec the engine must match, computed independently in pandas."""
    t = src.sort_values(["conv_id", "turn_idx"], kind="mergesort").reset_index(drop=True)
    turns = pd.DataFrame({"doc_id": np.arange(len(t), dtype=np.int64), "text": t["text"]})
    roll = t.groupby("conv_id", sort=True)["text"].apply(" ".join).reset_index()
    roll["doc_id"] = len(t) + np.arange(len(roll), dtype=np.int64)
    return pd.concat([turns, roll[["doc_id", "text"]]], ignore_index=True)


@pytest.fixture(scope="module")
def oracle(tiny_pdf, small_cfg):
    return PandasOracle(corpus_docs_pdf(tiny_pdf), small_cfg)


@pytest.fixture(scope="module")
def queries():
    return gen_query_set()


def test_batch_matches_oracle(ix, oracle, queries):
    """top_k_batch (msearch analogue) is rank-identical to the oracle for
    the whole query set, answered in one job."""
    res = BM25Searcher(ix).top_k_batch(queries).toPandas()
    for q in queries.itertuples(index=False):
        golden = oracle.top_k(q.query_text, k=int(q.k), mode=q.mode)
        got = res[res["query_id"] == q.query_id].sort_values("rank")
        assert got["doc_id"].tolist() == golden["doc_id"].tolist(), (q.query_text, q.mode)
        np.testing.assert_array_equal(
            got["score"].to_numpy(np.float32), golden["score"].to_numpy(np.float32)
        )


def test_rank_identical_vs_oracle(ix, oracle, queries):
    searcher = BM25Searcher(ix)
    for q in queries.itertuples(index=False):
        golden = oracle.top_k(q.query_text, k=int(q.k), mode=q.mode)
        got = (
            searcher.top_k(q.query_text, k=int(q.k), mode=q.mode)
            .select("rank", "doc_id", "score")
            .toPandas()
        )
        assert got["doc_id"].tolist() == golden["doc_id"].tolist(), (
            q.query_text, q.mode, q.k)
        np.testing.assert_array_equal(
            got["score"].to_numpy(np.float32), golden["score"].to_numpy(np.float32)
        )


def test_search_after_pages_equal_full_ranking(ix, oracle):
    """ES search_after deep pagination: paging by (score_f32, doc_id)
    cursor must reproduce the full ranking in consecutive slices,
    including tie boundaries."""
    page, n_pages = 7, 5  # odd page size -> cursors can land mid-tie-group
    s = BM25Searcher(ix)
    for q, mode in [("w0000 w0003", "or"), ("w0001", "or"), ("w0000 w0002", "and")]:
        full = oracle.top_k(q, k=page * n_pages, mode=mode)
        got_ids, got_scores = [], []
        cursor = None
        for _ in range(n_pages):
            r = s.top_k(q, k=page, mode=mode, with_meta=False,
                        search_after=cursor).toPandas()
            if r.empty:
                break
            got_ids.extend(r["doc_id"].tolist())
            got_scores.extend(r["score"].tolist())
            cursor = (float(r["score"].iloc[-1]), int(r["doc_id"].iloc[-1]))
            if len(r) < page:
                break
        n = len(got_ids)
        assert n == min(page * n_pages, len(full)), (q, mode)
        assert got_ids == full["doc_id"].tolist()[:n], (q, mode)
        np.testing.assert_array_equal(
            np.asarray(got_scores, dtype=np.float32),
            full["score"].to_numpy(np.float32)[:n],
        )

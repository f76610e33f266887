"""One shard dispatch, two lowerings. The same on-disk index is served by
the zero-exchange aligned scan (default spark.sql.files.maxPartitionBytes)
and by the grouped fallback (a 64-byte maxPartitionBytes at searcher
construction makes ``aligned_layout_ok`` refuse the layout). Every
``map_shards`` surface must return identical frames under both, and the
aligned plan must drop exactly the shard exchange."""

from contextlib import contextmanager

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bitcoin_ledger_2es_spark import BM25Searcher, build_index
from bitcoin_ledger_2es_spark.config import DEFAULT
from bitcoin_ledger_2es_spark.operators.intervals import Iv
from bitcoin_ledger_2es_spark.plans.build import read_index, write_index
from bitcoin_ledger_2es_spark.plans.shard_scan import aligned_layout_ok

from .conftest import count_jobs

CFG = DEFAULT.with_(docs_per_shard=128, block_size=32, store_positions=True)

QSET = pd.DataFrame(
    {
        "query_id": [0, 1, 2, 3],
        "query_text": ["w0000 w0003", "w0001", "w0000 w0002", "w0400 w0000 w0777"],
        "k": [10, 5, 10, 50],
        "mode": ["or", "or", "and", "or"],
    }
)
QS = '"w0000 w0001" OR w0003 -w0002'

# (name, searcher -> DataFrame): every surface map_shards serves
SURFACES = [
    ("top_k or", lambda s: s.top_k("w0000 w0003", k=10, with_meta=False)),
    ("top_k and", lambda s: s.top_k("w0000 w0002", k=10, mode="and")),
    ("top_k wide", lambda s: s.top_k("w0400 w0000 w0777", k=50, with_meta=False)),
    ("top_k search_after", lambda s: s.top_k(
        "w0000 w0003", k=10, with_meta=False, search_after=(2.5, 40))),
    ("bool_query", lambda s: s.bool_query(
        "w0002", "w0000 w0005", "w0003", k=20, minimum_should_match=1, with_meta=False)),
    ("query_string", lambda s: s.query_string(QS, k=20, with_meta=False)),
    ("match_synonyms", lambda s: s.match_synonyms(
        "w0001 w0003", {"w0001": ["w0002"]}, k=20, with_meta=False)),
    ("span_first_query", lambda s: s.span_first_query("w0001", end=3, k=20, with_meta=False)),
    ("conversations_topk", lambda s: s.conversations_topk("w0000 w0003", k=10, score_mode="sum")),
    ("intervals_query", lambda s: s.intervals_query(
        Iv.all_of([Iv.match("w0002"), Iv.match("w0005")], max_gaps=6), k=20, with_meta=False)),
    ("span_or_query", lambda s: s.span_or_query(["w0001", "w0002 w0003"], slop=1, k=20,
                                                 with_meta=False)),
    ("phrase_query", lambda s: s.phrase_query("w0000 w0001", k=20, with_meta=False)),
    ("phrase_query unordered", lambda s: s.phrase_query(
        "w0000 w0001", k=20, slop=2, ordered=False, with_meta=False)),
    ("phrase_prefix_query", lambda s: s.phrase_prefix_query("w0000 w000", k=20)),
    ("dis_max", lambda s: s.dis_max(["w0001 w0002", "w0003"], tie_breaker=0.3, k=20,
                                    with_meta=False)),
    ("term_freqs", lambda s: s.term_freqs(["w0001", "w0003"])),
    ("top_k_batch", lambda s: s.top_k_batch(QSET)),
    ("phrase_suggest", lambda s: s.phrase_suggest("w0000 w0001x")),
    ("match_bool_prefix", lambda s: s.match_bool_prefix("w0000 w000", k=20, max_expansions=8,
                                                        with_meta=False)),
    ("constant_score", lambda s: s.constant_score("w0001 w0003", mode="or", must_not="w0000",
                                                  k=20, with_meta=False)),
    ("match_docs", lambda s: s.match_docs("w0001", mode="or", must_not="w0003")),
]



def _flt():
    return F.col("turn_idx") > 0


# served after delete_by_query: tombstones AND a doc_filter in the mask
FILTERED = [
    ("top_k", lambda s: s.top_k("w0000 w0003", k=10, doc_filter=_flt(), with_meta=False)),
    ("bool_query", lambda s: s.bool_query("w0000 w0003", "", "w0001", k=20, doc_filter=_flt(),
                                          with_meta=False)),
    ("query_string", lambda s: s.query_string(QS, k=20, doc_filter=_flt(), with_meta=False)),
    ("match_all", lambda s: s.match_all(must_not="w0000", k=20, doc_filter=_flt(),
                                        with_meta=False)),
    ("match_docs", lambda s: s.match_docs("w0001", mode="or", doc_filter=_flt())),
    ("dis_max", lambda s: s.dis_max(["w0001 w0002", "w0003"], tie_breaker=0.3, k=20,
                                    with_meta=False)),
    ("term_freqs", lambda s: s.term_freqs(["w0001", "w0003"])),
]


@pytest.fixture(scope="module")
def on_disk(spark, tiny_df, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("aligned") / "ix")
    write_index(build_index(tiny_df, CFG), path)
    return read_index(spark, path, CFG)


@contextmanager
def _max_partition_bytes(spark, value: str):
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", value)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def _searchers(spark, on_disk):
    """(aligned, grouped) searchers over the same on-disk index. The
    lowering is fixed at construction, so the queries themselves run at
    the default split size (64-byte splits would make every scan ~15k
    tasks)."""
    aligned = BM25Searcher(on_disk)
    with _max_partition_bytes(spark, "64"):
        grouped = BM25Searcher(on_disk)
    assert aligned.aligned and not grouped.aligned
    return aligned, grouped


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _frame(df) -> pd.DataFrame:
    out = df.toPandas()
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def test_aligned_identical_to_grouped(spark, on_disk):
    aligned, grouped = _searchers(spark, on_disk)
    for name, run in SURFACES:
        a, g = _frame(run(aligned)), _frame(run(grouped))
        pd.testing.assert_frame_equal(a, g, obj=name)
        assert len(a), f"{name}: empty on both lowerings proves nothing"
    for s in (aligned, grouped):
        assert s.delete_by_query("w0123", mode="or") > 0
    for name, run in FILTERED:
        pd.testing.assert_frame_equal(
            _frame(run(aligned)), _frame(run(grouped)), obj=f"filtered {name}"
        )


def test_aligned_removes_shard_exchange(spark, on_disk):
    aligned, grouped = _searchers(spark, on_disk)
    p_base = _plan(grouped.top_k("w0000 w0003", k=5, with_meta=False))
    p_fast = _plan(aligned.top_k("w0000 w0003", k=5, with_meta=False))
    assert "FlatMapGroupsInPandas" in p_base and "MapInPandas" in p_fast
    assert "FlatMapGroupsInPandas" not in p_fast
    # the aligned plan drops exactly the shard_id hash exchange
    assert p_fast.count("Exchange") == p_base.count("Exchange") - 1


def test_aligned_guard_oversized_file(spark, on_disk, tiny_df):
    """A postings file larger than maxPartitionBytes would be SPLIT across
    scan tasks -> partial shard scores, so such a layout must fall back to
    the grouped lowering; an on-disk index within the threshold gets the
    aligned scan and an in-memory one never does. The choice is the
    layout's, not a setting."""
    assert aligned_layout_ok(on_disk)
    s = BM25Searcher(on_disk)
    assert s.aligned
    with pytest.raises(AttributeError):
        s.aligned = False
    assert not BM25Searcher(build_index(tiny_df, CFG)).aligned
    with _max_partition_bytes(spark, "64"):
        assert not aligned_layout_ok(on_disk)
        assert not BM25Searcher(on_disk).aligned


def test_aligned_msearch_identical(spark, on_disk):
    """msearch keeps per-query rank order under both lowerings."""
    qset = QSET.iloc[:3]
    a, b = (
        s.top_k_batch(qset).orderBy("query_id", "rank").toPandas()
        for s in _searchers(spark, on_disk)
    )
    pd.testing.assert_frame_equal(a, b)


def test_on_disk_top_k_job_count(spark, on_disk):
    """An unfiltered on-disk top_k runs 3 Spark jobs once its terms are
    cached, one more for the cold dictionary lookup, and 2 cold without
    the docmap fetch. The shard dispatch must not add a job."""
    s = BM25Searcher(on_disk)
    sc = spark.sparkContext
    s.top_k("w0500", k=3).collect()  # warm the JVM / Arrow path
    assert count_jobs(sc, lambda: s.top_k("w0000 w0003", k=10).collect()) == 4
    assert count_jobs(sc, lambda: s.top_k("w0003 w0000", k=10).collect()) == 3
    assert count_jobs(
        sc, lambda: s.top_k("w0001 w0004", k=10, with_meta=False).collect()) == 2

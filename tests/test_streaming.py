"""Incremental indexing: stream micro-batches into segments, query the
union with global stats (rank-identical to the oracle over the combined
corpus), replay idempotently, roll back segments (reorg analogue),
compact into a full index."""

import numpy as np
import pandas as pd
import pytest

from bitcoin_ledger_2es_spark import BM25Searcher, PandasOracle
from bitcoin_ledger_2es_spark.config import DEFAULT
from bitcoin_ledger_2es_spark.sources.synth import TRANSCRIPTS_DDL, gen_transcripts_pdf
from bitcoin_ledger_2es_spark.streaming.incremental import (
    SegmentedSearcher,
    build_segment,
    compact,
    rollback,
    start_incremental_index,
)

from .conftest import count_jobs

CFG = DEFAULT.with_(docs_per_shard=256, block_size=32)


@pytest.fixture(scope="module")
def stream_env(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("stream_src")
    root = str(tmp_path_factory.mktemp("ix_root"))
    full = gen_transcripts_pdf(120, seed=42)
    convs = sorted(full["conv_id"].unique())
    parts = [convs[:40], convs[40:80], convs[80:]]
    for i, cs in enumerate(parts):
        chunk = full[full["conv_id"].isin(cs)]
        spark.createDataFrame(chunk, TRANSCRIPTS_DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i}.parquet.d"))
    # flatten: move part files into src root as individual parquet files
    import shutil
    from pathlib import Path

    for i in range(3):
        d = Path(src) / f"b{i}.parquet.d"
        f = next(p for p in d.glob("*.parquet"))
        shutil.move(str(f), str(Path(src) / f"batch_{i}.parquet"))
        shutil.rmtree(d)
    start_incremental_index(spark, str(src), root, CFG, available_now=True)
    return src, root, full


def test_segments_built_and_rank_identical(spark, stream_env):
    src, root, full = stream_env
    s = SegmentedSearcher(spark, root, CFG)
    assert len(s.segments) == 3
    assert s.n_docs == len(full) + full["conv_id"].nunique()  # turns + rollups

    # oracle over the union corpus using the engine's doc ids
    docmaps = pd.concat(
        [
            seg.docmap.toPandas().assign(seg=i)
            for i, seg in enumerate(s.segments)
        ]
    )
    turns = full.set_index(["conv_id", "turn_idx"])["text"]
    texts = []
    for r in docmaps.itertuples():
        if r.is_rollup:
            conv = full[full["conv_id"] == r.conv_id].sort_values("turn_idx")
            texts.append(" ".join(conv["text"]))
        else:
            texts.append(turns.loc[(r.conv_id, r.turn_idx)])
    oracle = PandasOracle(
        pd.DataFrame({"doc_id": docmaps["doc_id"].to_numpy(), "text": texts}), CFG
    )
    for q, mode, k in [
        ("w0000 w0005", "or", 10),
        ("w0001", "or", 5),
        ("w0000 w0002", "and", 10),
        ("w0400 w0000 w0777", "or", 100),
    ]:
        got = s.top_k(q, k=k, mode=mode).select("doc_id", "score").toPandas()
        exp = oracle.top_k(q, k=k, mode=mode)
        assert got["doc_id"].tolist() == exp["doc_id"].tolist(), (q, mode)
        np.testing.assert_array_equal(
            got["score"].to_numpy(np.float32), exp["score"].to_numpy(np.float32)
        )


def test_replay_idempotent(spark, stream_env):
    src, root, full = stream_env
    s = SegmentedSearcher(spark, root, CFG)
    seg0 = s.segments[0]
    before = seg0.postings.toPandas()
    before["doc_id_deltas"] = before["doc_id_deltas"].apply(bytes)
    # replay batch 0 (at-least-once redelivery)
    batch = spark.read.parquet(str(src / "batch_0.parquet"))
    build_segment(spark, batch, root, 0, CFG)
    after_ix = SegmentedSearcher(spark, root, CFG).segments[0]
    after = after_ix.postings.toPandas()
    after["doc_id_deltas"] = after["doc_id_deltas"].apply(bytes)
    key = ["term_id", "shard_id", "block_id"]
    pd.testing.assert_frame_equal(
        before.sort_values(key).reset_index(drop=True)[before.columns.tolist()],
        after.sort_values(key).reset_index(drop=True)[before.columns.tolist()],
    )


def test_compact_and_rollback(spark, stream_env):
    src, root, full = stream_env
    ix = compact(spark, root, CFG)
    n_before = SegmentedSearcher(spark, root, CFG).n_docs
    assert ix.n_docs == n_before
    # compacted index answers queries (WAND path restored)
    res = BM25Searcher(ix).top_k("w0000", k=5).toPandas()
    assert len(res) == 5

    dropped = rollback(root, full["ts"].min())  # fork before everything
    assert len(dropped) == 3
    with pytest.raises(ValueError):
        SegmentedSearcher(spark, root, CFG)


def test_continuous_trigger_ingest(spark, tmp_path):
    """Non-availableNow path (B19): a CONTINUOUSLY RUNNING processing-time
    stream picks up files that arrive after start, builds segments while
    live, and stops cleanly. (availableNow covers drain-and-stop; this
    covers the long-running trigger the reference's ingest loop runs.)"""
    import time
    from pathlib import Path

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "root")
    full = gen_transcripts_pdf(60, seed=7)
    convs = sorted(full["conv_id"].unique())

    def write_batch(i, cs):
        chunk = full[full["conv_id"].isin(cs)]
        d = tmp_path / f"stage_{i}"
        spark.createDataFrame(chunk, TRANSCRIPTS_DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d))
        f = next(p for p in Path(d).glob("*.parquet"))
        f.rename(src / f"batch_{i}.parquet")

    write_batch(0, convs[:30])  # present at start
    q = start_incremental_index(
        spark, str(src), root, CFG, available_now=False
    )
    def done_segments():
        # a segment is complete when its LAST index write (corpus_stats)
        # has job-committed — checking dir existence would race the write
        return [
            s
            for s in sorted((Path(root) / "segments").glob("seg_*"))
            if (s / "index" / "corpus_stats" / "_SUCCESS").exists()
        ]

    try:
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and not done_segments():
            time.sleep(1)
        write_batch(1, convs[30:])  # arrives while the stream is LIVE
        while time.monotonic() < deadline and len(done_segments()) < 2:
            time.sleep(1)
        assert len(done_segments()) >= 2, "stream did not build both segments in time"
    finally:
        try:
            q.stop()
            q.awaitTermination(60)
        except Exception:
            pass  # stop() racing an idle trigger is benign once segments committed

    s = SegmentedSearcher(spark, root, CFG)
    assert len(s.segments) == 2
    assert s.n_docs == len(full) + full["conv_id"].nunique()
    assert len(s.top_k("w0000", k=3).toPandas()) == 3


def test_segmented_phrase_query_global_stats(spark, tmp_path):
    """match_phrase over the segment union: rank/score/freq identical to
    the brute-force oracle over the combined corpus (global df/avgdl)."""
    PCFG = CFG.with_(store_positions=True)
    root = str(tmp_path / "proot")
    full = gen_transcripts_pdf(80, seed=9)
    convs = sorted(full["conv_id"].unique())
    for i, cs in enumerate([convs[:40], convs[40:]]):
        chunk = full[full["conv_id"].isin(cs)]
        build_segment(spark, spark.createDataFrame(chunk, TRANSCRIPTS_DDL), root, i, PCFG)
    s = SegmentedSearcher(spark, root, PCFG)

    docmaps = pd.concat([seg.docmap.toPandas() for seg in s.segments])
    turns = full.set_index(["conv_id", "turn_idx"])["text"]
    texts = []
    for r in docmaps.itertuples():
        if r.is_rollup:
            conv = full[full["conv_id"] == r.conv_id].sort_values("turn_idx")
            texts.append(" ".join(conv["text"]))
        else:
            texts.append(turns.loc[(r.conv_id, r.turn_idx)])
    from bitcoin_ledger_2es_spark import PandasOracle

    oracle = PandasOracle(
        pd.DataFrame({"doc_id": docmaps["doc_id"].to_numpy(), "text": texts}), PCFG
    )
    for q, slop in [("w0000 w0001", 0), ("w0000 w0001", 2), ("w0002 w0000", 1)]:
        got = s.phrase_query(q, k=20, slop=slop).toPandas()
        exp = oracle.phrase_topk(q, k=20, slop=slop)
        assert got["doc_id"].tolist() == exp["doc_id"].tolist(), (q, slop)
        np.testing.assert_array_equal(
            got["score"].to_numpy(np.float32), exp["score"].to_numpy(np.float32)
        )
        assert got["phrase_freq"].tolist() == exp["phrase_freq"].tolist(), (q, slop)


def test_segmented_query_jobs_independent_of_segment_count(spark, tmp_path):
    """The NRT scale contract: driver job count per segmented query must
    NOT grow with the number of segments (one unioned dictionary lookup +
    one unioned kernel pass, not a per-segment loop)."""
    full = gen_transcripts_pdf(100, seed=11)
    convs = sorted(full["conv_id"].unique())

    def build_root(n_segs: int) -> str:
        root = str(tmp_path / f"root_{n_segs}")
        chunk = len(convs) // n_segs
        for i in range(n_segs):
            cs = convs[i * chunk : (i + 1) * chunk] if i < n_segs - 1 else convs[(n_segs - 1) * chunk :]
            df = spark.createDataFrame(full[full["conv_id"].isin(cs)], TRANSCRIPTS_DDL)
            from bitcoin_ledger_2es_spark.streaming.incremental import build_segment

            build_segment(spark, df, root, i, CFG)
        return root

    def jobs_for_query(root: str) -> int:
        s = SegmentedSearcher(spark, root, CFG)
        return count_jobs(
            spark.sparkContext, lambda: s.top_k("w0000 w0005", k=10, mode="or").collect()
        )

    n2 = jobs_for_query(build_root(2))
    n5 = jobs_for_query(build_root(5))
    assert n2 > 0
    assert n5 == n2, f"jobs grew with segment count: 2 segs -> {n2}, 5 segs -> {n5}"


def test_segmented_search_matches_across_segment_counts(spark, tmp_path):
    """Same corpus split into 1 vs 4 segments must give identical results
    (global stats make segmentation invisible)."""
    from bitcoin_ledger_2es_spark.streaming.incremental import build_segment

    full = gen_transcripts_pdf(80, seed=13)
    convs = sorted(full["conv_id"].unique())
    roots = {}
    for n_segs in (1, 4):
        root = str(tmp_path / f"r{n_segs}")
        chunk = -(-len(convs) // n_segs)
        for i in range(n_segs):
            cs = convs[i * chunk : (i + 1) * chunk]
            if not cs:
                continue
            df = spark.createDataFrame(full[full["conv_id"].isin(cs)], TRANSCRIPTS_DDL)
            build_segment(spark, df, root, i, CFG)
        roots[n_segs] = root
    s1 = SegmentedSearcher(spark, roots[1], CFG)
    s4 = SegmentedSearcher(spark, roots[4], CFG)
    for q, mode in [("w0000 w0005", "or"), ("w0001", "or"), ("w0000 w0002", "and")]:
        a = s1.top_k(q, k=10, mode=mode).select("score").toPandas()
        b = s4.top_k(q, k=10, mode=mode).select("score").toPandas()
        np.testing.assert_array_equal(
            a["score"].to_numpy(np.float32), b["score"].to_numpy(np.float32)
        )


def test_streaming_percolate_alerts(spark, tmp_path):
    """ES percolate-on-ingest: each micro-batch is matched against the
    registered queries before segment build; matches land under
    <root>/_percolated partitioned by batch_id, idempotent on replay."""
    from bitcoin_ledger_2es_spark.functions.analyze import analyze_query, tokenize_series
    from bitcoin_ledger_2es_spark.operators.percolate import analyzed_queries

    src = tmp_path / "src"
    root = str(tmp_path / "root")
    src.mkdir()
    full = gen_transcripts_pdf(60, seed=7)
    halves = np.array_split(sorted(full["conv_id"].unique()), 2)
    import shutil
    from pathlib import Path

    for i, cs in enumerate(halves):
        chunk = full[full["conv_id"].isin(cs)]
        d = src / f"b{i}.d"
        spark.createDataFrame(chunk, TRANSCRIPTS_DDL).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d))
        f = next(p for p in Path(d).glob("*.parquet"))
        shutil.move(str(f), str(src / f"batch_{i}.parquet"))
        shutil.rmtree(d)
    queries = [(0, "w0000 w0001", "and", 0), (1, "w0002 w0005 w0009", "or", 2)]
    q = analyzed_queries(spark, queries, CFG)
    start_incremental_index(
        spark, str(src), root, CFG, available_now=True, percolate_queries=q
    )
    got = spark.read.parquet(f"{root}/_percolated").toPandas()
    assert set(got["batch_id"]) == {0, 1}

    # pandas twin over ALL turns
    exp = set()
    toks = tokenize_series(full["text"], CFG)
    for (cid, tix), ts in zip(zip(full["conv_id"], full["turn_idx"]), toks):
        present = set(ts)
        for qid, text, mode, msm in queries:
            terms = set(analyze_query(text, CFG))
            need = len(terms) if mode == "and" else max(1, min(msm, len(terms)))
            hit = len(terms & present)
            if hit >= need:
                exp.add((f"{cid}#{tix}", qid, hit))
    assert set(zip(got["doc_key"], got["query_id"], got["n_matched"])) == exp
    assert exp  # non-trivial

    # replay idempotence: re-running the drained stream with a fresh
    # checkpoint reprocesses both batches and overwrites, not duplicates
    start_incremental_index(
        spark, str(src), root, CFG, available_now=True,
        percolate_queries=q, checkpoint=str(tmp_path / "cp2"),
    )
    again = spark.read.parquet(f"{root}/_percolated").toPandas()
    assert len(again) == len(got)


def test_segmented_doc_filter_matches_full_index(spark, tmp_path):
    """doc_filter on the NRT path: filtered segmented search must equal a
    filtered from-scratch index over the same corpus on
    (conv_id, turn_idx, score_f32) — global stats are unchanged by a
    filter, so scores are bit-identical (Lucene filter-context model)."""
    import numpy as np
    from pyspark.sql import functions as F

    from bitcoin_ledger_2es_spark import BM25Searcher, build_index
    from bitcoin_ledger_2es_spark.streaming.incremental import build_segment

    # own root: the shared stream_env root is emptied by the rollback test
    full = gen_transcripts_pdf(90, seed=17)
    convs = sorted(full["conv_id"].unique())
    root = str(tmp_path)
    for i, cs in enumerate([convs[:30], convs[30:60], convs[60:]]):
        build_segment(
            spark,
            spark.createDataFrame(full[full["conv_id"].isin(cs)], TRANSCRIPTS_DDL),
            root, i, CFG,
        )
    seg = SegmentedSearcher(spark, root, CFG)
    scratch = BM25Searcher(
        build_index(spark.createDataFrame(full, TRANSCRIPTS_DDL), CFG)
    )
    cases = [
        ("w0000 w0003", "or", ~F.col("is_rollup")),
        ("w0002", "or", F.col("is_rollup")),
        ("w0000 w0002", "and", F.col("turn_idx") < 3),
        ("w0004", "or", F.col("doc_len") > 20),
    ]
    for q, mode, flt in cases:
        a = seg.top_k(q, k=30, mode=mode, doc_filter=flt).toPandas()
        b = scratch.top_k(q, k=30, mode=mode, doc_filter=flt).toPandas()
        key = (q, mode)
        assert (
            a[["conv_id", "turn_idx"]].values.tolist()
            == b[["conv_id", "turn_idx"]].values.tolist()
        ), key
        np.testing.assert_array_equal(
            a["score"].to_numpy(np.float32), b["score"].to_numpy(np.float32)
        )
        # the filter is actually enforced
        assert seg.top_k(q, k=10_000, mode=mode, doc_filter=flt).count() == \
            scratch.top_k(q, k=10_000, mode=mode, doc_filter=flt).count()


def test_segmented_match_docs_and_count(spark, tmp_path):
    """NRT query+aggs coupling: SegmentedSearcher.match_docs must return
    exactly the full-index match set (projected to external identity)
    for and/or/must_not/doc_filter shapes, and count() must agree."""
    from pyspark.sql import functions as F

    from bitcoin_ledger_2es_spark import BM25Searcher, build_index
    from bitcoin_ledger_2es_spark.streaming.incremental import build_segment

    full = gen_transcripts_pdf(80, seed=23)
    convs = sorted(full["conv_id"].unique())
    root = str(tmp_path)
    for i, cs in enumerate([convs[:40], convs[40:]]):
        build_segment(
            spark,
            spark.createDataFrame(full[full["conv_id"].isin(cs)], TRANSCRIPTS_DDL),
            root, i, CFG,
        )
    seg = SegmentedSearcher(spark, root, CFG)
    scratch = BM25Searcher(
        build_index(spark.createDataFrame(full, TRANSCRIPTS_DDL), CFG)
    )
    cases = [
        ("w0000 w0002", "and", "", None),
        ("w0000 w0005", "or", "w0003", None),
        ("", "and", "", None),                      # match-all
        ("w0001", "and", "", ~F.col("is_rollup")),
        ("zzzz", "and", "", None),                  # OOV required -> empty
        ("w0004", "or", "", F.col("doc_len") > 15),
    ]
    for ft, mode, mn, flt in cases:
        a = (
            seg.match_docs(ft, mode=mode, must_not=mn, doc_filter=flt)
            .select("conv_id", "turn_idx", "is_rollup").toPandas()
            .sort_values(["conv_id", "turn_idx", "is_rollup"]).reset_index(drop=True)
        )
        b = (
            scratch.match_docs(ft, mode=mode, must_not=mn, doc_filter=flt)
            .select("conv_id", "turn_idx", "is_rollup").toPandas()
            .sort_values(["conv_id", "turn_idx", "is_rollup"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b), (ft, mode, mn)
        assert seg.count(ft, mode=mode, must_not=mn, doc_filter=flt) == len(b)

    # aggs compose on the NRT match set (map-side partial agg, no collect)
    m = seg.match_docs("w0000", mode="and")
    agg = m.groupBy("is_rollup").agg(F.count("*").alias("n")).toPandas()
    fm = scratch.match_docs("w0000", mode="and")
    exp = fm.groupBy("is_rollup").agg(F.count("*").alias("n")).toPandas()
    assert (
        agg.sort_values("is_rollup").values.tolist()
        == exp.sort_values("is_rollup").values.tolist()
    )

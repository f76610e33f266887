"""Index build plan (SURVEY.md §3.3): transcripts -> inverted index.

Pipeline (two wide shuffles total for the heavy table, everything else is
small or rides existing partitioning; operators/postings.py details the
SPIMI steps):

    read transcripts
      -> conversation_offsets (agg + tiny prefix-sum)          [shuffle: conv]
      -> assign_doc_ids (join + bounded window, same shuffle)
      -> (+ rollup docs)                                        [agg on conv]
      -> tokenize (Arrow pandas UDF) + doc stats
      -> SPIMI blocks per shard (mapInArrow)                   [shuffle: shard]
      -> dictionary (agg over block metadata + prefix-rank)
      -> finalize: broadcast-join term stats onto the blocks,
         block-max bounds (mapInArrow)
      -> postings/dictionary/docmap/corpus_stats (+ lineage)

All content is a pure function of the input (stable ids, fixed config), so
builds are byte-identical across parallelism and across resume.

``build_index`` returns in-memory DataFrames; ``write_index`` persists them
partitioned for query-time pruning. The resumable, lineage-checkpointed
variant lives in plans/lineage.py / plans/resume.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..operators.ids import assign_doc_ids, conversation_offsets
from ..operators.postings import build_postings_pipeline, with_shard
from ..operators.rollup import rollup_docs


# Every content-affecting config knob is persisted with the index and
# adopted back on read: reading an index with a different docs_per_shard /
# block_size / token_pattern than it was written with would silently corrupt
# doc_ids (kernel base = shard_id * dps) or the analyzer — so the on-disk
# stats row, not the caller's cfg, is authoritative for those.
CORPUS_STATS_DDL = (
    "n_docs long, avgdl double, k1 double, b double, docs_per_shard long, "
    "block_size int, token_pattern string, lowercase boolean, index_rollups boolean, "
    "store_positions boolean"
)


def corpus_stats_row(n_docs: int, avgdl: float, cfg: EngineConfig) -> tuple:
    return (
        n_docs, avgdl, cfg.k1, cfg.b, cfg.docs_per_shard, cfg.block_size,
        cfg.token_pattern, cfg.lowercase, cfg.index_rollups, cfg.store_positions,
    )


@dataclass
class IndexFrames:
    docmap: DataFrame
    corpus_stats: DataFrame
    dictionary: DataFrame
    postings: DataFrame
    n_docs: int
    avgdl: float
    cfg: EngineConfig
    # filesystem root for on-disk indexes (read_index sets it); None for
    # in-memory indexes. Lets the query layer validate the partition-aligned
    # scan precondition (every postings file <= maxPartitionBytes) instead
    # of assuming it.
    path: str | None = None


def tokenized_documents(transcripts: DataFrame, cfg: EngineConfig) -> tuple[DataFrame, DataFrame]:
    """-> (docs, offsets): docs = (doc_id, conv_id, turn_idx, text,
    is_rollup, doc_len) for turns and (optionally) conversation rollups.

    doc_len (exact analyzer token count) is computed JVM-side with the
    codegen'd regexp twin of the analyzer; the token stream itself is
    produced later, inside the SPIMI Arrow kernel, so tokens never round-
    trip through Python objects. Analyzer-equality across the pandas UDF,
    the JVM twin, the Arrow kernel and the query-side `analyze_query` is
    pinned by tests (tests/test_tokenize.py).
    """
    # the totals fall out of the prefix-sum's per-partition stats collect —
    # no separate agg job over the corpus for n_turns
    offsets, totals = conversation_offsets(transcripts, return_totals=True)
    turns = assign_doc_ids(transcripts, offsets).select(
        "doc_id", "conv_id", "turn_idx", "text", F.lit(False).alias("is_rollup")
    )
    docs = turns
    if cfg.index_rollups:
        docs = docs.unionByName(
            rollup_docs(transcripts, offsets, int(totals["value_sum"])).select(
                "doc_id", "conv_id", "turn_idx", "text", "is_rollup"
            )
        )
    docs = docs.withColumn(
        "doc_len",
        F.size(
            F.regexp_extract_all(
                F.lower(F.coalesce(F.col("text"), F.lit(""))), F.lit(cfg.token_pattern), 0
            )
        ).cast("int"),
    )
    return docs, offsets


def check_positions_budget(cfg: EngineConfig, max_doc_len: int) -> None:
    """Positional indexes pack (doc, position) into one int64 phrase key
    with 2^21 position bits (operators/phrase.py); reject over-long docs at
    BUILD time so phrase queries can't hit the budget later."""
    from ..operators.phrase import _POS_BITS

    if cfg.store_positions and max_doc_len + 64 >= (1 << _POS_BITS):
        raise ValueError(
            f"store_positions=True but a document has {max_doc_len} tokens — "
            f"over the 2^{_POS_BITS} per-doc position budget of the phrase "
            "kernel. Split over-long documents (e.g. index turns, not rollups "
            "of huge conversations) or index without positions."
        )


def build_index(
    transcripts: DataFrame,
    cfg: EngineConfig = DEFAULT,
    cache: bool = True,
) -> IndexFrames:
    # read the source ONCE: hash-partition by conv_id so every conv-keyed
    # op downstream (turn-count agg, docID join+window, rollup agg) reuses
    # this single shuffle instead of re-scanning the source three times
    spark = transcripts.sparkSession
    src = transcripts.repartition(
        spark.sparkContext.defaultParallelism * 2, "conv_id"
    )
    if cache:
        src = src.persist()
    docs, _ = tokenized_documents(src, cfg)
    if cache:
        docs = docs.persist()

    docmap = with_shard(
        docs.select("doc_id", "conv_id", "turn_idx", "doc_len", "is_rollup"), cfg
    )
    if cache:
        docmap = docmap.persist()
    n_docs, avgdl, max_dl = docmap.agg(
        F.count("*"), F.avg("doc_len"), F.max("doc_len")
    ).collect()[0]
    n_docs, avgdl = int(n_docs), float(avgdl or 0.0)
    check_positions_budget(cfg, int(max_dl or 0))
    if cache:
        src.unpersist()  # docs materialized above; the raw text copy can go

    postings, dictionary = build_postings_pipeline(
        docs.select("doc_id", "doc_len", "text"), n_docs, avgdl, cfg
    )
    if cache:
        postings = postings.persist()

    # dictionary max_score = max over the term's blocks (WAND list bound)
    dict_full = dictionary.join(
        postings.groupBy("term_id").agg(F.max("block_max_score").alias("max_score")),
        "term_id",
        "left",
    ).select("term", "term_id", "df", "cf", "max_score")
    if cache:
        # materialize once: repeated queries must not re-derive the
        # dictionary (postings scan + join) or docmap per query. One
        # count suffices — dict_full's lineage runs through the persisted
        # postings, so this single job fills BOTH caches.
        dict_full = dict_full.persist()
        dict_full.count()

    spark = transcripts.sparkSession
    stats = spark.createDataFrame([corpus_stats_row(n_docs, avgdl, cfg)], CORPUS_STATS_DDL)
    return IndexFrames(docmap, stats, dict_full, postings, n_docs, avgdl, cfg)


def write_index(ix: IndexFrames, path: str, mode: str = "overwrite") -> None:
    """Persist the index, laid out for query-time pruning:

    * postings partitioned by shard_id (per-shard files -> the query's
      cogroup reads only its shard) and sorted by (term_id, block_id) within
      files so parquet row-group min/max stats prune non-query terms;
    * docmap partitioned by shard for the same reason;
    * dictionary sorted by term (binary-search-friendly, predicate pushdown
      on term string at query time).
    """
    (
        ix.docmap.repartition("shard_id")
        .sortWithinPartitions("doc_id")
        .write.mode(mode)
        .partitionBy("shard_id")
        .parquet(f"{path}/docmap")
    )
    (
        ix.postings.repartition("shard_id")
        .sortWithinPartitions("term_id", "block_id")
        .write.mode(mode)
        .partitionBy("shard_id")
        .parquet(f"{path}/postings")
    )
    p = ix.dictionary.sparkSession.sparkContext.defaultParallelism
    ix.dictionary.repartitionByRange(p, "term").sortWithinPartitions("term").write.mode(
        mode
    ).parquet(f"{path}/dictionary")
    ix.corpus_stats.coalesce(1).write.mode(mode).parquet(f"{path}/corpus_stats")


def cfg_from_stats_row(row: dict, cfg: EngineConfig) -> EngineConfig:
    """Adopt every content-affecting knob from a persisted corpus_stats row
    onto ``cfg`` (execution-only knobs keep the caller's values)."""
    cfg = cfg.with_(k1=float(row["k1"]), b=float(row["b"]))
    if "docs_per_shard" in row:  # full stats row (round-2+ layout)
        cfg = cfg.with_(
            docs_per_shard=int(row["docs_per_shard"]),
            block_size=int(row["block_size"]),
            token_pattern=row["token_pattern"],
            lowercase=bool(row["lowercase"]),
            index_rollups=bool(row["index_rollups"]),
            store_positions=bool(row.get("store_positions", False)),
        )
    return cfg


def read_index(spark: SparkSession, path: str, cfg: EngineConfig = DEFAULT) -> IndexFrames:
    """Open an on-disk index. The persisted corpus_stats row is
    authoritative for every content-affecting knob (k1/b, docs_per_shard,
    block_size, analyzer): those are adopted into the returned cfg, so a
    caller's mismatched cfg can never silently mis-decode the index.
    Execution-only knobs (shuffle_partitions, n_waves) keep the caller's
    values."""
    docmap = spark.read.parquet(f"{path}/docmap")
    postings = spark.read.parquet(f"{path}/postings")
    dictionary = spark.read.parquet(f"{path}/dictionary")
    stats = spark.read.parquet(f"{path}/corpus_stats")
    row = stats.collect()[0].asDict()
    cfg = cfg_from_stats_row(row, cfg)
    return IndexFrames(
        docmap, stats, dictionary, postings, int(row["n_docs"]), float(row["avgdl"]), cfg,
        path=path,
    )

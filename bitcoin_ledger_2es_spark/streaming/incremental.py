"""Incremental / near-real-time indexing (SURVEY.md §2.I).

The reference's ingest loop tails the chain tip and upserts idempotently;
Elasticsearch makes writes searchable per refresh and merges segments in
the background. The Spark-first mapping:

  * Structured Streaming (``readStream`` on the transcripts directory,
    ``foreachBatch``) builds one *index segment* per micro-batch with the
    same deterministic build pipeline, under ``{root}/segments/seg_<id>``.
    Segment doc_ids are offset by ``seg_id * SEG_BASE`` so ids stay
    globally unique without cross-segment coordination.
  * Re-delivered batches (at-least-once replay after failure) rebuild the
    same segment directory deterministically -> effectively exactly-once,
    the same idempotent-upsert semantic as the reference's deterministic
    ES ``_id``s.
  * ``SegmentedSearcher`` answers queries over the union of segments with
    *global* corpus statistics (N, avgdl, df summed across segments) — the
    exact scorer path is used because per-segment block-max metadata was
    computed against segment-local stats and is not a valid global bound
    (same reason Lucene re-weights per-segment scorers at query time).
  * ``compact`` merges all segments into one full index (rebuild from the
    retained source batches), restoring block-max WAND — ES segment merge.
  * ``rollback`` drops segments at/after a fork point — the reorg-delete
    analogue (A7): re-ingesting the corrected data recreates them.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..functions.analyze import analyze_query
from ..functions.bm25 import idf as idf_fn
from ..operators.wand import score_shard_exact
from ..plans.build import IndexFrames, build_index, read_index, write_index
from ..plans.query import _CAND_DDL, _RESULT_DDL
from ..plans.shard_scan import aligned_layout_ok, allowed_mask, map_shards, presence_mask

SEG_BASE = 1 << 40  # doc_id space per segment


def _seg_dirs(root: str) -> list[Path]:
    p = Path(root) / "segments"
    if not p.exists():
        return []
    return sorted(d for d in p.iterdir() if d.is_dir() and d.name.startswith("seg_"))


def _tombstone_dirs(seg: Path) -> list[Path]:
    """Committed per-doc tombstone sidecars of one segment: parquet dirs
    ``<seg>/deletes/del_<tag>`` holding a single ``doc_id`` column. Each
    sidecar is written to a staging dir and atomically renamed into place,
    so a listed dir is always a complete, readable delete set."""
    p = seg / "deletes"
    if not p.is_dir():
        return []
    return sorted(d for d in p.iterdir() if d.is_dir() and d.name.startswith("del_"))


def build_segment(
    spark: SparkSession, batch_df: DataFrame, root: str, seg_id: int, cfg: EngineConfig
) -> None:
    """Deterministically (re)build one segment from a micro-batch."""
    # shard_id must stay == doc_id // docs_per_shard after the segment
    # offset; that holds only when the per-segment id base is a multiple
    # of the shard width (a non-power-of-two docs_per_shard would silently
    # misalign the kernel's base = shard_id * dps)
    assert SEG_BASE % cfg.docs_per_shard == 0, (
        f"docs_per_shard={cfg.docs_per_shard} must divide SEG_BASE=2^40"
    )
    seg = Path(root) / "segments" / f"seg_{seg_id:06d}"
    if seg.exists():
        shutil.rmtree(seg)  # idempotent replay
    batch_df.write.mode("overwrite").parquet(str(seg / "transcripts"))
    src = spark.read.parquet(str(seg / "transcripts"))
    ix = build_index(src, cfg)
    base = seg_id * SEG_BASE
    shift = base // cfg.docs_per_shard
    ix = IndexFrames(
        docmap=ix.docmap.withColumn("doc_id", F.col("doc_id") + base).withColumn(
            "shard_id", (F.col("shard_id") + shift).cast("long")
        ),
        corpus_stats=ix.corpus_stats,
        dictionary=ix.dictionary,
        postings=ix.postings.withColumn("first_doc_id", F.col("first_doc_id") + base)
        .withColumn("last_doc_id", F.col("last_doc_id") + base)
        .withColumn("shard_id", (F.col("shard_id") + shift).cast("long")),
        n_docs=ix.n_docs,
        avgdl=ix.avgdl,
        cfg=cfg,
    )
    write_index(ix, str(seg / "index"))


def start_incremental_index(
    spark: SparkSession,
    source_path: str,
    root: str,
    cfg: EngineConfig = DEFAULT,
    checkpoint: str | None = None,
    available_now: bool = True,
    percolate_queries: DataFrame | None = None,
    on_percolate=None,
):
    """Tail ``source_path`` (parquet file source) and index each micro-batch
    as a segment. With ``available_now`` the query drains existing files
    and stops (incremental batch); otherwise it runs continuously.

    ``percolate_queries`` (an ``operators.percolate.analyzed_queries``
    frame) turns the stream into the ES percolate/alerting shape: each
    arriving micro-batch is ALSO matched against the registered queries
    — one broadcast join over the batch, before segment build — and the
    (doc text, query_id, n_matched) matches are appended to
    ``<root>/_percolated`` parquet (or handed to ``on_percolate(df,
    batch_id)`` if given). Idempotent like the segment build: replayed
    batch_ids overwrite their own output partition."""

    from ..sources.transcripts import TRANSCRIPTS_SCHEMA

    stream = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if percolate_queries is not None:
            from ..operators.percolate import percolate

            docs = batch_df.withColumn(
                "doc_key",
                F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")),
            )
            matches = percolate(
                docs, percolate_queries, text_col="text", id_col="doc_key",
                cfg=cfg,
            ).withColumnRenamed("doc_id", "doc_key")
            if on_percolate is not None:
                on_percolate(matches, int(batch_id))
            else:
                (
                    matches.withColumn("batch_id", F.lit(int(batch_id)))
                    .write.mode("overwrite")
                    .partitionBy("batch_id")
                    .option("partitionOverwriteMode", "dynamic")
                    .parquet(f"{root}/_percolated")
                )
        build_segment(spark, batch_df, root, int(batch_id), cfg)

    writer = stream.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint or f"{root}/_checkpoint"
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()


def rollback(root: str, from_ts) -> list[str]:
    """Reorg analogue: drop every segment containing data at/after
    ``from_ts`` (checked against the segment's max ts). Returns dropped
    segment names; re-ingesting corrected data recreates them."""
    import pandas as pd
    import pyarrow.dataset as ds

    fork = pd.Timestamp(from_ts)
    if fork.tzinfo is not None:
        fork = fork.tz_convert("UTC").tz_localize(None)
    dropped = []
    for seg in _seg_dirs(root):
        t = ds.dataset(str(seg / "transcripts")).to_table(columns=["ts"])
        if not t.num_rows:
            continue
        mx = pd.Timestamp(t.column("ts").to_pandas().max())
        if mx.tzinfo is not None:
            mx = mx.tz_convert("UTC").tz_localize(None)
        if mx >= fork:
            shutil.rmtree(seg)
            dropped.append(seg.name)
    return dropped


def compact(
    spark: SparkSession,
    root: str,
    cfg: EngineConfig = DEFAULT,
    from_postings: bool = True,
) -> IndexFrames:
    """Merge all segments into one full index (restores WAND block maxes),
    left at {root}/compacted.

    ``from_postings=True`` (default): Lucene-style posting-level merge
    (streaming/compaction.py) — decodes segment postings, remaps doc ids,
    re-blocks; byte-identical to a from-scratch rebuild but needs NO raw
    sources, so retained micro-batch transcripts can be dropped after
    segment build. ``from_postings=False``: legacy raw rebuild (re-reads
    and re-tokenizes every retained transcripts/ dir) — the fallback when
    a conversation spans segments.

    Refuses with pending soft-delete sidecars: the posting-level merge
    would carry dead postings forward and the raw rebuild would resurrect
    tombstoned rows — run :func:`expunge_store` first (it rewrites only
    the affected segments)."""
    dirty = [d.name for d in _seg_dirs(root) if _tombstone_dirs(d)]
    if dirty:
        raise ValueError(
            f"segments with pending soft-delete tombstones ({dirty}): "
            "run expunge_store() before compact()"
        )
    if from_postings:
        from .compaction import merge_postings_frames, recover_merges

        recover_merges(root)
        recover_rewrites(root)
        dirs = _seg_dirs(root)
        if not dirs:
            raise ValueError("no segments to compact")
        segments = [read_index(spark, str(s / "index"), cfg) for s in dirs]
        keys = {s.cfg.content_key() for s in segments}
        if len(keys) != 1:
            raise ValueError(f"segments built with differing content configs: {keys}")
        ix = merge_postings_frames(spark, segments, segments[0].cfg)
    else:
        srcs = [str(s / "transcripts") for s in _seg_dirs(root)]
        if not srcs:
            raise ValueError("no segments to compact")
        full = spark.read.parquet(*srcs)
        ix = build_index(full, cfg)
    write_index(ix, f"{root}/compacted")
    if from_postings:
        from .compaction import release_merge_cache

        # idmap/new_dict intermediates are no longer needed once the
        # compacted index is on disk; the merged postings stay cached —
        # they are the serving frame of the returned in-memory index
        release_merge_cache(ix)
    return ix


def recover_rewrites(root: str) -> None:
    """Roll back update_by_query / delete_by_query segment rewrites
    interrupted by a crash. The rewrite protocol renames the old segment
    aside (``_rewriting_<id>``) before rebuilding ``seg_<id>`` and only
    deletes the aside copy as its COMMIT step — so any surviving
    ``_rewriting_*`` dir means the rewrite did NOT commit: discard the
    (possibly partial) rebuilt segment and restore the original. Stray
    ``_rewrite_src_*`` staging dirs are deleted. Idempotent; called from
    every open path (SegmentedSearcher, compact) like recover_merges."""
    seg_root = Path(root) / "segments"
    if not seg_root.is_dir():
        return
    for aside in sorted(seg_root.glob("_rewriting_*")):
        tgt = seg_root / f"seg_{aside.name.split('_', 2)[2]}"
        if tgt.exists():
            shutil.rmtree(tgt)
        aside.rename(tgt)
    for tmp in sorted(seg_root.glob("_rewrite_src_*")):
        shutil.rmtree(tmp)
    # uncommitted soft-delete sidecar staging (soft_delete_by_query writes
    # here, then renames per-segment): anything left means the write never
    # committed for those segments — discard it
    for tmp in sorted(seg_root.glob("_deletes_tmp_*")):
        shutil.rmtree(tmp)


def _rewrite_by_query(
    spark: SparkSession,
    root: str,
    filter_text: str,
    transform,
    mode: str,
    must_not: str,
    cfg: EngineConfig,
) -> int:
    from ..plans.query import BM25Searcher

    recover_rewrites(root)
    total = 0
    for d in _seg_dirs(root):
        ix = read_index(spark, str(d / "index"), cfg)
        s = BM25Searcher(ix)
        hits = (
            s.match_docs(filter_text, mode=mode, must_not=must_not)
            .filter(~F.col("is_rollup"))
            .select("conv_id", "turn_idx")
        )
        n = int(hits.count())
        if n == 0:
            continue  # untouched segments are never rewritten
        total += n
        _rewrite_segment(spark, root, d, hits, transform, ix.cfg)
    return total


def _rewrite_segment(spark, root, d: Path, hits, transform, cfg) -> None:
    """Crash-safe rewrite of ONE segment: drop (transform=None) or rewrite
    the raw rows keyed by ``hits`` (conv_id, turn_idx; None = no extra
    hits), rebuild the segment deterministically, commit via the
    rename-aside protocol (see update_by_query). Any soft-delete sidecar
    (soft_delete_by_query) is FOLDED IN — its tombstoned turns are dropped
    from the rebuilt raw, never resurrected nor transformed — and consumed
    by the rebuild: the sidecar travels with the aside copy (restored on
    crash-rollback), and the committed segment is clean."""
    seg_root, digits = d.parent, d.name.split("_", 1)[1]
    seg_id = int(digits)
    raw = spark.read.parquet(str(d / "transcripts"))
    tpaths = _tombstone_dirs(d)
    if tpaths:
        ix_seg = read_index(spark, str(d / "index"), cfg)
        dead = (
            ix_seg.docmap.join(
                spark.read.parquet(*[str(p) for p in tpaths]).select("doc_id"),
                "doc_id",
                "left_semi",
            )
            .filter(~F.col("is_rollup"))
            .select("conv_id", "turn_idx")
        )
        raw = raw.join(dead, ["conv_id", "turn_idx"], "left_anti")
    if transform is None:
        new_raw = (
            raw if hits is None else raw.join(hits, ["conv_id", "turn_idx"], "left_anti")
        )
    else:
        new_raw = (
            raw.join(
                hits.withColumn("_m", F.lit(True)),
                ["conv_id", "turn_idx"],
                "left",
            )
            .withColumn(
                "text",
                F.when(F.col("_m"), transform).otherwise(F.col("text")),
            )
            .drop("_m")
        )
    aside = seg_root / f"_rewriting_{digits}"
    if transform is None and new_raw.limit(1).count() == 0:
        # every row deleted: retire the whole segment (rename-first)
        d.rename(aside)
        shutil.rmtree(aside)
        return
    # stage the rewritten source OUTSIDE the segment dir first — the
    # lazily-read input must survive the rename + rebuild below
    tmp = seg_root / f"_rewrite_src_{digits}"
    if tmp.exists():
        shutil.rmtree(tmp)
    new_raw.write.mode("overwrite").parquet(str(tmp / "transcripts"))
    staged = spark.read.parquet(str(tmp / "transcripts"))
    d.rename(aside)  # old content safe until the commit point
    build_segment(spark, staged, root, seg_id, cfg)
    shutil.rmtree(aside)  # COMMIT: rewrite is now the durable state
    shutil.rmtree(tmp)


def update_by_query(
    spark: SparkSession,
    root: str,
    filter_text: str,
    transform,
    mode: str = "and",
    must_not: str = "",
    cfg: EngineConfig = DEFAULT,
) -> int:
    """ES ``_update_by_query`` over the durable segment store: re-index
    every TURN document matching the filter-context query with
    ``transform`` (a Column over the transcripts schema, e.g.
    ``F.regexp_replace("text", ...)``) applied to its raw row. Returns
    the number of updated turns (the ES response's ``updated``).

    Semantics (ES model: snapshot search + reindex of matching docs):
      * only segments CONTAINING matches are rebuilt — the rebuild is the
        same deterministic ``build_segment`` the ingest path uses, so a
        rewritten segment is byte-identical to one ingested with the
        transformed batch (idempotent under replay, resume-compatible);
      * conversation ROLLUP docs are derived at build time, so they
        automatically reflect the updated turn text — no cascade
        bookkeeping;
      * doc_ids within a rewritten segment are stable under update (the
        docID spec orders by (conv_id, turn_idx), which a text transform
        preserves); external identity is (conv_id, turn_idx) throughout.
    Crash safety: old segment renamed aside before the rebuild, deleted
    only as the commit step; ``recover_rewrites`` (run on every open)
    rolls an uncommitted rewrite back to the original — the update either
    fully applies or cleanly never happened, per segment.

    Scale shape: matching is the pruned-scan ``match_docs`` per segment;
    rewrite cost is proportional to AFFECTED segments only (micro-batch
    sized), the segment-granular analogue of Lucene's doc-granular
    soft-delete + append — the write amplification trade that buys
    byte-deterministic segments."""
    if transform is None:
        raise ValueError("update_by_query requires a transform Column; "
                         "use delete_by_query to remove documents")
    return _rewrite_by_query(spark, root, filter_text, transform, mode, must_not, cfg)


def delete_by_query(
    spark: SparkSession,
    root: str,
    filter_text: str,
    mode: str = "and",
    must_not: str = "",
    cfg: EngineConfig = DEFAULT,
) -> int:
    """ES ``_delete_by_query`` over the durable segment store: remove
    every TURN matching the filter-context query by deterministically
    rebuilding the affected segments without those raw rows (a segment
    whose rows are all deleted is retired entirely). Rollups are derived
    at build time, so a conversation's rollup automatically loses the
    deleted content. Complements ``BM25Searcher.delete_by_query``, the
    serving-time tombstone path: tombstones are cheap and instant on a
    live searcher; this is the durable rewrite (the expunge analogue for
    the on-disk segment store). doc_ids within a rewritten segment are
    re-assigned densely (the build_segment spec); external identity is
    (conv_id, turn_idx). Same crash-safe rename-aside protocol as
    update_by_query. Returns the number of deleted turns."""
    return _rewrite_by_query(spark, root, filter_text, None, mode, must_not, cfg)


def soft_delete_by_query(
    spark: SparkSession,
    root: str,
    filter_text: str,
    mode: str = "and",
    must_not: str = "",
    cfg: EngineConfig = DEFAULT,
) -> int:
    """ES/Lucene-model ``_delete_by_query`` over the durable segment
    store: per-DOC tombstone sidecars, ZERO segment rewrites. This is the
    actual ES behavior — deletes are soft (live-docs bitset per segment),
    searches exclude them immediately, and disk space is reclaimed only at
    merge/expunge — where ``delete_by_query`` above is the force-merge-
    style physical rewrite.

    Mechanics: matching docs are resolved by one ``SegmentedSearcher.
    match_docs`` pass — which composes PRIOR tombstones, so repeated
    calls accumulate without double-counting — cascaded to the matched
    turns' conversation ROLLUP docs (their indexed text contains the
    deleted content; same rule as BM25Searcher.delete_by_query), then
    written per segment as a parquet sidecar ``<seg>/deletes/del_<tag>``
    via one partitioned job + atomic directory renames. Per segment the
    sidecar is complete-or-absent; across segments a crash mid-rename
    leaves a prefix applied (the call never returned, and re-running
    re-matches the remainder) — the same non-atomicity ES documents for
    ``_delete_by_query``.

    Read-side: ``SegmentedSearcher`` merges all sidecars at open and
    excludes tombstoned docs from ``top_k``/``match_docs``/``count``;
    corpus statistics (df/idf/avgdl) keep counting tombstones until
    ``expunge_store`` — the Lucene deleted-docs model, so surviving
    scores are bit-unchanged. ``expunge_store`` then rebuilds affected
    segments from surviving raw rows, which re-derives each surviving
    conversation's rollup WITHOUT the deleted turns' text — the
    tombstoned rollup returns refreshed, exactly like the physical
    ``delete_by_query``'s immediate rewrite.

    Caveat: an at-least-once replay of a segment's source micro-batch
    (crash between segment build and stream checkpoint commit) rebuilds
    the segment dir and drops its sidecars with it — tombstones written
    against a not-yet-checkpointed segment share its durability, no less
    and no more. Returns the number of newly tombstoned docs (matched
    docs + cascaded rollups, the ES response's ``deleted``)."""
    import uuid

    searcher = SegmentedSearcher(spark, root, cfg)
    hits = searcher.match_docs(filter_text, mode=mode, must_not=must_not)
    convs = hits.filter(~F.col("is_rollup")).select("conv_id").distinct()
    rolls = (
        searcher._docmap_all.filter(F.col("is_rollup"))
        .join(convs, "conv_id")
        .select("doc_id")
    )
    tombs = hits.select("doc_id").unionByName(rolls).distinct()
    if searcher._tombs is not None:
        # cascaded rollups may already be tombstoned (match_docs already
        # excludes prior turn tombstones): count/write only NEW docs
        tombs = tombs.join(searcher._tombs, "doc_id", "left_anti")
    tombs = tombs.persist()
    n = int(tombs.count())
    if n == 0:
        tombs.unpersist()
        return 0
    tag = uuid.uuid4().hex[:12]
    seg_root = Path(root) / "segments"
    tmp = seg_root / f"_deletes_tmp_{tag}"
    # ONE job whatever the segment count: partition the delete set by the
    # owning segment (doc_id bases are multiples of SEG_BASE), then move
    # each partition into its segment with an atomic same-fs rename
    (
        tombs.withColumn("_seg", F.expr(f"doc_id DIV {SEG_BASE}"))
        .write.mode("overwrite")
        .partitionBy("_seg")
        .parquet(str(tmp))
    )
    tombs.unpersist()
    for part in sorted(tmp.glob("_seg=*")):
        sid = int(part.name.split("=", 1)[1])
        seg = seg_root / f"seg_{sid:06d}"
        if not seg.is_dir():  # segment retired since the match — skip
            continue
        (seg / "deletes").mkdir(exist_ok=True)
        part.rename(seg / "deletes" / f"del_{tag}")
    shutil.rmtree(tmp)
    return n


def expunge_store(
    spark: SparkSession,
    root: str,
    cfg: EngineConfig = DEFAULT,
) -> int:
    """Physically remove soft-deleted docs (``_forcemerge?only_expunge_
    deletes`` for the durable store): every segment holding tombstone
    sidecars is rewritten WITHOUT the tombstoned turns through the same
    crash-safe rename-aside protocol as ``delete_by_query`` — the sidecar
    travels with the aside copy, so a crash rolls back to tombstoned-but-
    live and a commit leaves a clean segment with live-only statistics
    and freshly derived rollups (a tombstoned rollup whose conversation
    still has surviving turns comes back with refreshed text). Segments
    without sidecars are untouched. Requires the affected segments' raw
    transcripts (postings-only retention cannot re-derive rollups; raise
    rather than resurrect). Returns the number of physically removed
    turns."""
    recover_rewrites(root)
    total = 0
    for d in _seg_dirs(root):
        tpaths = _tombstone_dirs(d)
        if not tpaths:
            continue
        if not (d / "transcripts").exists():
            raise ValueError(
                f"{d.name}: raw transcripts were dropped (postings-only "
                "retention) — cannot expunge soft deletes by rewrite"
            )
        ix = read_index(spark, str(d / "index"), cfg)
        tombs = (
            spark.read.parquet(*[str(p) for p in tpaths])
            .select("doc_id")
            .distinct()
        )
        n = int(
            ix.docmap.join(tombs, "doc_id", "left_semi")
            .filter(~F.col("is_rollup"))
            .count()
        )
        if n == 0:  # stale sidecar (only already-gone docs): drop it
            for p in tpaths:
                shutil.rmtree(p)
            continue
        total += n
        # _rewrite_segment folds the sidecar itself (no extra hits)
        _rewrite_segment(spark, root, d, None, None, ix.cfg)
    return total


class SegmentedSearcher:
    """Exact BM25 top-k over the union of segments with global stats.

    Driver work per query is INDEPENDENT of segment count: all per-segment
    dictionaries are unioned (tagged with seg_id) so term lookup is ONE
    collect, and scoring is ONE kernel pass over the unioned postings —
    each shard's kernel resolves its segment from shard_id (segment doc-id
    bases are multiples of SEG_BASE, so seg = shard_id // shards_per_seg)
    and applies that segment's term_id -> global-idf mapping. At NRT steady
    state (hundreds of segments between compactions) query latency stays
    flat instead of growing linearly in driver round-trips."""

    def __init__(self, spark: SparkSession, root: str, cfg: EngineConfig = DEFAULT):
        from .compaction import recover_merges

        recover_merges(root)  # finish any crash-interrupted committed merge
        recover_rewrites(root)  # roll back any uncommitted segment rewrite
        self.spark = spark
        dirs = _seg_dirs(root)
        self.segments = [read_index(spark, str(s / "index"), cfg) for s in dirs]
        if not self.segments:
            raise ValueError(f"no segments under {root}")
        self.seg_ids = [int(d.name.split("_", 1)[1]) for d in dirs]
        # content-affecting knobs come from the segments' persisted stats
        # (read_index adopts them); all segments must agree
        keys = {s.cfg.content_key() for s in self.segments}
        if len(keys) != 1:
            raise ValueError(f"segments built with differing content configs: {keys}")
        self.cfg = self.segments[0].cfg
        self.n_docs = sum(s.n_docs for s in self.segments)
        self.avgdl = (
            sum(s.avgdl * s.n_docs for s in self.segments) / self.n_docs if self.n_docs else 0.0
        )
        self._shards_per_seg = SEG_BASE // self.cfg.docs_per_shard
        # ONE lazy union of all segment dictionaries / postings / docmaps:
        # per-query driver work no longer scales with segment count
        self._dict_all = None
        for sid, seg in zip(self.seg_ids, self.segments):
            d = seg.dictionary.select(
                F.lit(sid).alias("seg_id"), "term", "term_id", "df"
            )
            self._dict_all = d if self._dict_all is None else self._dict_all.unionByName(d)
        self._postings_all = None
        for seg in self.segments:
            p = seg.postings
            self._postings_all = (
                p if self._postings_all is None else self._postings_all.unionByName(p)
            )
        self._docmap_all = None
        for seg in self.segments:
            d = seg.docmap.select(
                "doc_id", "conv_id", "turn_idx", "doc_len", "is_rollup",
                "shard_id",
            )
            self._docmap_all = (
                d if self._docmap_all is None else self._docmap_all.unionByName(d)
            )
        # zero-exchange scan over the segment union: every segment is on
        # disk in the write_index layout, so when no postings file can be
        # split across input tasks the kernel runs inside the scan itself
        # (same precondition check as BM25Searcher's aligned path; the
        # union preserves file boundaries — bin-packing merges only whole
        # files, and the kernel keys everything off shard_id)
        self._aligned = all(aligned_layout_ok(seg) for seg in self.segments)
        # per-doc soft-delete sidecars (soft_delete_by_query): ONE lazy
        # union across all segments, anti-masked into every serving
        # surface below. Lucene live-docs model — corpus statistics
        # (n_docs/avgdl/df) keep counting tombstones until expunge_store,
        # so surviving docs' scores are bit-unchanged across a soft delete.
        tpaths = [p for s in dirs for p in _tombstone_dirs(s)]
        self._tombs = (
            spark.read.parquet(*[str(p) for p in tpaths])
            .select("doc_id")
            .distinct()
            if tpaths
            else None
        )

    def _docmap_allowed(self, doc_filter, cols: list[str]) -> DataFrame:
        """Unioned docmap carrying the ``_allowed`` serving mask: the
        optional filter-context predicate AND not-soft-deleted (tombstone
        anti-mask via a distributed join — the delete set is never
        collected to the driver, however large)."""
        dm = self._docmap_all
        allowed = doc_filter if doc_filter is not None else F.lit(True)
        if self._tombs is not None:
            dm = dm.join(
                self._tombs.withColumn("_tomb", F.lit(True)), "doc_id", "left"
            )
            allowed = allowed & F.col("_tomb").isNull()
        return dm.withColumn("_allowed", allowed).select(*cols, "_allowed")

    def _lookup_all(self, terms: list[str]):
        """ONE dictionary job for every (segment, term) pair.

        Returns (global_df, seg_tids): corpus-wide df per term string, and
        per-segment term -> local term_id maps keyed by actual seg_id."""
        rows = (
            self._dict_all.filter(F.col("term").isin(terms))
            .select("seg_id", "term", "term_id", "df")
            .collect()
        )
        global_df: dict[str, int] = {}
        seg_tids: dict[int, dict[str, int]] = {sid: {} for sid in self.seg_ids}
        for r in rows:
            global_df[r["term"]] = global_df.get(r["term"], 0) + int(r["df"])
            seg_tids[int(r["seg_id"])][r["term"]] = int(r["term_id"])
        return global_df, seg_tids

    def _scan_filter(self, seg_scan: dict[int, list[int]]):
        """Pushdown predicate over the unioned postings: OR of per-segment
        (shard-range AND term_id IN local_tids) conjuncts — shard_id prunes
        partitions, term_id prunes row groups, both segment-locally."""
        cond = None
        for sid, tids in seg_scan.items():
            lo = sid * self._shards_per_seg
            hi = lo + self._shards_per_seg - 1
            c = (
                (F.col("shard_id") >= lo)
                & (F.col("shard_id") <= hi)
                & F.col("term_id").isin(tids)
            )
            cond = c if cond is None else cond | c
        return cond

    def match_docs(
        self,
        filter_text: str = "",
        mode: str = "and",
        must_not: str = "",
        doc_filter=None,
    ) -> DataFrame:
        """ES query+aggregations coupling on the NRT path: the FULL docmap
        row set matching a filter-context query over the segment union —
        same semantics as BM25Searcher.match_docs (terms of
        ``filter_text`` ALL required for ``mode='and'`` / ANY for
        ``'or'``, minus ``must_not`` docs, intersected with
        ``doc_filter``), one cogrouped kernel pass whatever the segment
        count. Non-scoring, so no global-stats re-weighting is needed;
        per-segment local term_ids resolve inside the kernel (a doc's
        terms live in its own segment, so a segment missing a required
        term contributes nothing). Aggregations (operators/aggs.py)
        compose on the returned frame with map-side partial aggregation
        — the match set is never collected or globally ordered."""
        import numpy as np
        import pandas as pd

        cfg = self.cfg
        req_terms = sorted(set(analyze_query(filter_text, cfg)))
        not_terms = sorted(set(analyze_query(must_not, cfg)))
        out_cols = ["doc_id", "conv_id", "turn_idx", "doc_len", "is_rollup"]
        ddl = ("doc_id long, conv_id string, turn_idx int, doc_len long, "
               "is_rollup boolean")
        empty = self.spark.createDataFrame([], ddl)
        lookup = sorted(set(req_terms) | set(not_terms))
        if lookup:
            global_df, seg_tids = self._lookup_all(lookup)
        else:
            global_df, seg_tids = {}, {sid: {} for sid in self.seg_ids}
        found_req = [t for t in req_terms if t in global_df]
        if mode == "and" and len(found_req) < len(req_terms):
            return empty
        if mode == "or" and req_terms and not found_req:
            return empty

        # per-segment (required tids, excluded tids); a segment absent
        # from the dict is excluded wholesale (lacks every required term,
        # or one of them under AND)
        spec_by_seg: dict[int, tuple[list[int], list[int]]] = {}
        seg_scan: dict[int, list[int]] = {}
        for sid in self.seg_ids:
            tids = seg_tids[sid]
            req = sorted(tids[t] for t in req_terms if t in tids)
            if (mode == "and" and len(req) < len(req_terms)) or (req_terms and not req):
                continue
            nots = sorted(tids[t] for t in not_terms if t in tids)
            spec_by_seg[sid] = (req, nots)
            if req or nots:
                seg_scan[sid] = sorted(set(req) | set(nots))
        if not spec_by_seg:
            return empty
        dps, sps = cfg.docs_per_shard, self._shards_per_seg

        def kernel(shard_id: int, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            out = right[out_cols]
            if right.empty:
                return out
            spec = spec_by_seg.get(shard_id // sps)
            if spec is None:
                return out.iloc[0:0]
            base = shard_id * dps
            allowed = allowed_mask(right, shard_id, dps)
            if not presence_mask(allowed, left, *spec, mode, base):
                return out.iloc[0:0]
            return out[allowed[right["doc_id"].to_numpy(np.int64) - base]]

        pruned = self._postings_all.filter(
            self._scan_filter(seg_scan) if seg_scan else F.lit(False)
        )
        return map_shards(pruned, kernel, ddl, self._aligned,
                          self._docmap_allowed(doc_filter, ["shard_id", *out_cols]))

    def count(
        self,
        filter_text: str = "",
        mode: str = "and",
        must_not: str = "",
        doc_filter=None,
    ) -> int:
        """ES _count on the NRT path — the match_docs set, counted with no
        scoring, no sort, no fetch."""
        return self.match_docs(
            filter_text, mode=mode, must_not=must_not, doc_filter=doc_filter
        ).count()

    def phrase_query(
        self, query_text: str, k: int = 10, slop: int = 0, ordered: bool = True
    ) -> DataFrame:
        """match_phrase over the segment union with GLOBAL stats (df summed
        across segments, corpus-wide n_docs/avgdl) — same re-weighting
        rationale as top_k. Requires segments built with
        store_positions=True. ``ordered`` as in BM25Searcher.phrase_query
        (False = ES unordered sloppy semantics, phrase_freq double)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql import Window

        from ..operators.phrase import score_shard_phrase, score_shard_phrase_unordered

        if self._tombs is not None:
            raise ValueError(
                "phrase_query does not serve with pending soft-delete "
                "tombstones: its shard kernel applies a local top-k cap "
                "with no allowed-mask hook (same contract as "
                "BM25Searcher._no_pending_deletes) — run expunge_store() "
                "first"
            )
        unordered = not ordered and slop > 0
        freq_t = "double" if unordered else "long"
        freq_np = np.float64 if unordered else np.int64

        cfg = self.cfg
        if not cfg.store_positions:
            raise ValueError(
                "phrase_query needs positional segments: ingest with "
                "EngineConfig(store_positions=True)"
            )
        empty = self.spark.createDataFrame(
            [], f"rank int, doc_id long, score float, phrase_freq {freq_t}"
        )
        terms = analyze_query(query_text, cfg)
        if not terms:
            return empty
        if unordered and len(set(terms)) < len(terms):
            raise ValueError(
                "unordered sloppy phrase does not support repeated query terms"
            )
        uniq = list(dict.fromkeys(terms))
        global_df, seg_tids = self._lookup_all(uniq)  # ONE dictionary job
        if any(t not in global_df for t in uniq):
            return empty  # a phrase term matches nothing anywhere
        sum_idf = 0.0
        for t in terms:
            sum_idf += float(idf_fn(float(global_df[t]), self.n_docs))
        avgdl, k1, b, dps = self.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard
        ddl = f"doc_id long, score float, phrase_freq {freq_t}"

        # per-segment slot term_ids; segments missing any phrase term are
        # excluded (no doc there can contain the phrase)
        slots_by_seg: dict[int, list[int]] = {}
        seg_scan: dict[int, list[int]] = {}
        for sid in self.seg_ids:
            tids = seg_tids[sid]
            if any(t not in tids for t in uniq):
                continue
            slots_by_seg[sid] = [tids[t] for t in terms]
            seg_scan[sid] = sorted({tids[t] for t in uniq})
        if not slots_by_seg:
            return empty
        sps = self._shards_per_seg

        def kernel(shard_id: int, pdf: pd.DataFrame, _) -> pd.DataFrame:
            e = pd.DataFrame(
                {"doc_id": pd.Series([], dtype=np.int64),
                 "score": pd.Series([], dtype=np.float32),
                 "phrase_freq": pd.Series([], dtype=freq_np)}
            )
            slots = slots_by_seg.get(shard_id // sps)
            if slots is None:
                return e
            by_tid = {tid: g for tid, g in pdf.groupby("term_id")}
            if any(tid not in by_tid for tid in slots):
                return e
            base = shard_id * dps
            slot_pdfs = [by_tid[tid] for tid in slots]
            if unordered:
                return score_shard_phrase_unordered(
                    slot_pdfs, sum_idf, base, k, avgdl, k1, b, slop=slop
                )
            return score_shard_phrase(
                slot_pdfs, sum_idf, base, k, avgdl, k1, b, slop=slop,
            )

        pruned = self._postings_all.filter(self._scan_filter(seg_scan))
        cands = map_shards(pruned, kernel, ddl, self._aligned)
        top = cands.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            top.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "score", "phrase_freq")
            .orderBy("rank")
        )

    def top_k(
        self,
        query_text: str,
        k: int = 10,
        mode: str = "or",
        doc_filter=None,
    ) -> DataFrame:
        """Two Spark jobs total, whatever the segment count: one unioned
        dictionary lookup, one unioned-postings kernel pass (plus the tiny
        k-row merge + broadcast fetch of the final action).

        ``doc_filter``: optional non-scoring predicate over docmap columns
        (doc_id, conv_id, turn_idx, doc_len, is_rollup) — the ES
        bool.filter context on the NRT path, same semantics as
        BM25Searcher.top_k. The unioned docmaps are cogrouped with the
        pruned postings per shard (one exchange), the kernel applies the
        allowed-mask BEFORE its shard-local top-k cap, and scores are
        bit-identical to the unfiltered ranking restricted to allowed
        docs (global stats are unchanged by a filter, the Lucene model)."""
        import numpy as np
        import pandas as pd
        from collections import Counter
        from pyspark.sql import Window

        cfg = self.cfg
        terms = analyze_query(query_text, cfg)
        if not terms:
            return self.spark.createDataFrame([], _RESULT_DDL)
        weights = Counter(terms)
        global_df, seg_tids = self._lookup_all(list(weights))
        found_terms = [t for t in weights if t in global_df]
        if not found_terms or (mode == "and" and len(found_terms) < len(weights)):
            return self.spark.createDataFrame([], _RESULT_DDL)

        # per-segment [(local_tid, global_idf, weight)]; segments missing a
        # required term are excluded up front (no doc there can match)
        n_req = len(found_terms)
        meta_by_seg: dict[int, list[tuple[int, float, float]]] = {}
        seg_scan: dict[int, list[int]] = {}
        for sid in self.seg_ids:
            tids = seg_tids[sid]
            present = [t for t in found_terms if t in tids]
            if not present or (mode == "and" and len(present) < n_req):
                continue
            meta_by_seg[sid] = sorted(
                (tids[t], float(idf_fn(float(global_df[t]), self.n_docs)), float(weights[t]))
                for t in present
            )
            seg_scan[sid] = sorted(tids[t] for t in present)
        if not meta_by_seg:
            return self.spark.createDataFrame([], _RESULT_DDL)

        avgdl, k1, b, dps = self.avgdl, cfg.k1, cfg.b, cfg.docs_per_shard
        sps, kk, md = self._shards_per_seg, k, mode

        empty = pd.DataFrame({"doc_id": pd.Series([], dtype=np.int64),
                              "score": pd.Series([], dtype=np.float32)})

        def kernel(shard_id: int, pdf: pd.DataFrame, right: pd.DataFrame | None) -> pd.DataFrame:
            if pdf.empty or (right is not None and right.empty):
                return empty
            metas = meta_by_seg.get(shard_id // sps)
            if metas is None:
                return empty
            by_tid = {tid: g for tid, g in pdf.groupby("term_id")}
            blocks = [
                (tid, t_idf, w, by_tid[tid]) for tid, t_idf, w in metas if tid in by_tid
            ]
            if not blocks or (md == "and" and len(blocks) < n_req):
                return empty
            return score_shard_exact(blocks, shard_id * dps, dps,
                                     allowed_mask(right, shard_id, dps),
                                     kk, md, avgdl, k1, b)

        # ES filter context / soft-delete tombstones on the NRT path: the
        # shard's docmap slice carries the allowed-mask, applied in-kernel
        # BEFORE the shard-local top-k cap (docs absent from the mask never
        # score) — so a tombstone can never under-fill the top-k, and
        # survivors' scores are bit-identical to the unfiltered ranking
        # restricted to live docs
        filtered = doc_filter is not None or self._tombs is not None
        cands = map_shards(
            self._postings_all.filter(self._scan_filter(seg_scan)), kernel,
            _CAND_DDL, self._aligned,
            self._docmap_allowed(doc_filter, ["shard_id", "doc_id"]) if filtered else None,
        )
        top = cands.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        top = top.withColumn("rank", F.row_number().over(w))
        # inner+broadcast(top): BuildRight over <= k winners; the unioned
        # docmaps stay scan-only (winners always exist in some segment's
        # docmap, so inner loses nothing — see BM25Searcher.top_k)
        return (
            self._docmap_all.join(F.broadcast(top), "doc_id", "inner")
            .select("rank", "doc_id", "score", "conv_id", "turn_idx", "is_rollup")
            .orderBy("rank")
        )

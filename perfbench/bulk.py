"""bulk_build: build and write the index of a seeded corpus.

A request is ``build_index`` + ``write_index`` over the corpus, read from
parquet (the north-star build path). Set-up is the Spark session, the
source read (three times, median) and one warm-up build, whose JIT
compilation and Python worker start-up would otherwise dominate the
first request. Warm requests are timed for ``--seconds`` and at least
``MIN_BUILDS`` times, each after a full JVM collection so none pays for
the garbage of the one before, and their median is reported.

The traced run reports per-layer figures instead:

* a staged build that calls ``build_index``'s stage functions in its
  order with a span around each stage; it must write the same index rows
  as the untraced builds, and its layers must sum to within 10% of their
  mean build + write time;
* near-real-time ingest: micro-batches through ``build_segment``, a fresh
  ``SegmentedSearcher`` after each (the refresh), queries checked against
  an oracle over the ingested union, and one ``merge_segments``.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import dir_bytes, guarded, noop_job_s, tail_summary
from host import reset_peak_rss, tree_peak_rss
from oracle import Expected, documents, mismatch, segment_documents
from queries import gen_queries
from replay import replay, same_hits

N_TURNS = 4_000  # whole conversations up to this many turns (~250)
DPS = 2048  # docs per shard: 3 shards, the last one small
NRT_CONV = 60  # conversations per near-real-time micro-batch
NRT_BATCHES = 2
CHECK_QUERIES = 16
MIN_BUILDS = 2


def _write_corpus(path: Path, seed: int) -> pd.DataFrame:
    """Generate the seeded corpus, cut to whole conversations (in conv_id
    order) totalling at most N_TURNS turns, so every seed builds nearly
    the same amount of text; written as parquet in generation row order."""
    from bitcoin_ledger_2es_spark.sources.synth import gen_transcripts_pdf

    pdf = gen_transcripts_pdf(N_TURNS // 10, seed)
    sizes = pdf.groupby("conv_id").size().sort_index()
    keep = sizes.index[sizes.cumsum() <= N_TURNS]
    pdf = pdf[pdf["conv_id"].isin(keep)].reset_index(drop=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   compression="zstd", row_group_size=65536)
    return pdf


def differing(a: Path, b: Path) -> list[str]:
    """Directories of two written indexes whose rows differ, read per
    directory in part-file order. Rows are compared, not files: file names
    carry a random job id, and the dictionary's split into range-partitioned
    files follows a sampled boundary that moves between two builds of the
    same input."""
    def rows(ix: Path) -> dict[str, pa.Table]:
        dirs = sorted({p.parent for p in ix.rglob("*.parquet")})
        return {str(d.relative_to(ix)): pa.concat_tables(
            pq.read_table(f) for f in sorted(d.glob("*.parquet"))) for d in dirs}

    ra, rb = rows(a), rows(b)
    return sorted(k for k in ra.keys() | rb.keys()
                  if k not in ra or k not in rb or not ra[k].equals(rb[k]))


def build_request(spark, tr, src: Path, out: Path, cfg, req: int) -> float:
    """One untraced request: read + build_index + write_index."""
    from bitcoin_ledger_2es_spark.plans.build import build_index, write_index
    from bitcoin_ledger_2es_spark.sources.transcripts import read_transcripts

    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    with tr.span("build.request", req):
        with tr.span("build.index"):
            ix = build_index(read_transcripts(spark, str(src)), cfg)
        with tr.span("build.write"):
            write_index(ix, str(out))
    return time.perf_counter() - t0


def staged_build(spark, tr, src: Path, out: Path, cfg, req: int) -> float:
    """``build_index`` + ``write_index`` with a span around each stage.

    Calls the stage functions in ``build_index``'s order and persists what
    it persists; each span ends on the action that forces its stage:
    ``tokenized_documents`` plus the docmap statistics, the SPIMI blocks
    (one extra count), the dictionary ranking, the dictionary max-score
    count and the writes. The index written must hold the same rows as the
    untraced build's. Returns the wall time of the staged build; the doc-id
    assignment and the rollups are then timed alone, outside it."""
    from pyspark.sql import functions as F

    from bitcoin_ledger_2es_spark.operators.postings import (
        dictionary_from_blocks, finalize_blocks, spimi_blocks, with_shard,
    )
    from bitcoin_ledger_2es_spark.plans.build import (
        CORPUS_STATS_DDL, IndexFrames, check_positions_budget, corpus_stats_row,
        tokenized_documents, write_index,
    )

    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    t0 = time.perf_counter()
    with tr.span("build.staged", req):
        with tr.span("transcripts.read"):
            src_df = persisted_source(spark, src)
        with tr.span("build.docs_prep"):
            docs, _ = tokenized_documents(src_df, cfg)
            docs = docs.persist()
            docmap = with_shard(
                docs.select("doc_id", "conv_id", "turn_idx", "doc_len", "is_rollup"), cfg
            ).persist()
            n_docs, avgdl, max_dl = docmap.agg(
                F.count("*"), F.avg("doc_len"), F.max("doc_len")
            ).collect()[0]
            n_docs, avgdl = int(n_docs), float(avgdl or 0.0)
            check_positions_budget(cfg, int(max_dl or 0))
            src_df.unpersist()
        with tr.span("postings.spimi"):
            raw = spimi_blocks(docs.select("doc_id", "doc_len", "text"), cfg).persist()
            raw.count()
        with tr.span("postings.dictionary"):
            dictionary = dictionary_from_blocks(raw)
        with tr.span("postings.finalize"):
            postings = finalize_blocks(raw, dictionary, n_docs, avgdl, cfg).persist()
            dict_full = dictionary.join(
                postings.groupBy("term_id").agg(F.max("block_max_score").alias("max_score")),
                "term_id", "left",
            ).select("term", "term_id", "df", "cf", "max_score").persist()
            dict_full.count()
        stats = spark.createDataFrame([corpus_stats_row(n_docs, avgdl, cfg)], CORPUS_STATS_DDL)
        ix = IndexFrames(docmap, stats, dict_full, postings, n_docs, avgdl, cfg)
        with tr.span("build.write"):
            write_index(ix, str(out))
    return time.perf_counter() - t0


def id_and_rollup_s(spark, tr, src: Path, cfg) -> tuple[float, float]:
    """-> (ids, rollups) seconds: ``conversation_offsets`` + ``assign_doc_ids``
    and ``rollup_docs`` alone, each forced with a no-op write, on a
    persisted source as ``build_index`` reads it. Both run inside the
    staged build's ``build.docs_prep``, so they stay outside its layer sum."""
    from bitcoin_ledger_2es_spark.operators.ids import assign_doc_ids, conversation_offsets
    from bitcoin_ledger_2es_spark.operators.rollup import rollup_docs

    src_df = persisted_source(spark, src)
    t0 = time.perf_counter()
    with tr.span("ids.assign"):
        offsets, totals = conversation_offsets(src_df, return_totals=True)
        assign_doc_ids(src_df, offsets).write.format("noop").mode("overwrite").save()
    t1 = time.perf_counter()
    if cfg.index_rollups:
        with tr.span("rollup.docs"):
            rollup_docs(src_df, offsets, int(totals["value_sum"])).write.format(
                "noop").mode("overwrite").save()
    t2 = time.perf_counter()
    src_df.unpersist()
    return t1 - t0, t2 - t1


def persisted_source(spark, src: Path):
    """The source as ``build_index`` holds it (conv_id-partitioned,
    persisted), forced with a count."""
    from bitcoin_ledger_2es_spark.sources.transcripts import read_transcripts

    src_df = read_transcripts(spark, str(src)).repartition(
        spark.sparkContext.defaultParallelism * 2, "conv_id"
    ).persist()
    src_df.count()
    return src_df


def check_index(out: Path, docs: pd.DataFrame, exp: Expected, qs: pd.DataFrame,
                cfg) -> list[str]:
    """Compare a written index with pandas: docmap rows, dictionary
    (term, term_id, df, cf), and top-k answers scored from its postings by
    the kernel replay. Returns the mismatches found."""
    bad = []
    dm = pq.read_table(out / "docmap").to_pandas().sort_values("doc_id").reset_index(drop=True)
    want = docs.sort_values("doc_id").reset_index(drop=True)
    for c in ("doc_id", "conv_id", "turn_idx", "is_rollup"):
        if dm[c].tolist() != want[c].tolist():
            bad.append(f"docmap {c} differs")
    if not np.array_equal(dm["doc_len"].to_numpy(np.int64), exp.oracle.doc_len):
        bad.append("docmap doc_len differs")
    d = pq.read_table(out / "dictionary").to_pandas().sort_values("term").reset_index(drop=True)
    post = exp.oracle.postings
    terms = sorted(post)
    if d["term"].tolist() != terms:
        bad.append("dictionary terms differ")
    else:
        if d["term_id"].tolist() != list(range(len(terms))):
            bad.append("dictionary term_id differs")
        if d["df"].tolist() != [len(post[t][0]) for t in terms]:
            bad.append("dictionary df differs")
        if d["cf"].tolist() != [int(post[t][1].sum()) for t in terms]:
            bad.append("dictionary cf differs")
    got, _ = replay(out, cfg, qs)
    for q in qs.itertuples(index=False):
        if not same_hits(got[q.query_id], exp.top_k(q.query_text, int(q.k), q.mode)):
            bad.append(f"postings of query {q.query_text!r} ({q.mode}, k={q.k}) "
                       "score differently from the oracle")
    return bad


def postings_stats(out: Path) -> dict:
    """Block, posting and term counts and postings bytes of a written index."""
    n_docs = pq.read_table(out / "postings", columns=["n_docs"])["n_docs"]
    return {
        "n_blocks": len(n_docs),
        "n_postings": int(n_docs.to_numpy().sum()),
        "n_terms": pq.read_table(out / "dictionary", columns=["term"]).num_rows,
        "postings_bytes": dir_bytes(out / "postings")[0],
    }


def run(spark, tr, args, run_dir: Path, session_s: float) -> dict:
    from bitcoin_ledger_2es_spark.config import DEFAULT
    from bitcoin_ledger_2es_spark.sources.transcripts import read_transcripts

    cfg = DEFAULT.with_(docs_per_shard=DPS)
    errors: list[str] = []
    src = run_dir / "transcripts.parquet"
    pdf = _write_corpus(src, args.seed)
    if args.trace:
        return traced(spark, tr, args, run_dir, cfg, src, session_s, errors)

    # set-up: the source read, three times (median), and one warm-up build
    reads = []
    for _ in range(3):
        t0 = time.perf_counter()
        with tr.span("setup.source_read"):
            read_transcripts(spark, str(src)).count()
        reads.append(time.perf_counter() - t0)
    warm_s = build_request(spark, tr, src, run_dir / "ix_warm", cfg, 0)
    setup_s = session_s + statistics.median(reads) + warm_s

    reset_peak_rss()
    lat: list[float] = []
    counts: list[tuple[int, int, int]] = []
    attempted = failed = 0
    while len(lat) < MIN_BUILDS or sum(lat) < args.seconds:
        out = run_dir / f"ix{attempted}"
        attempted += 1
        dt = guarded(lambda: build_request(spark, tr, src, out, cfg, attempted), errors,
                     "build request")
        if dt is None:
            failed += 1
            break
        lat.append(dt)
        tr.drain()
        counts.append(tuple(a + b for a, b in zip(tr.counts(tr.last_group("build.index")),
                                                  tr.counts(tr.last_group("build.write")))))
        diff = differing(run_dir / "ix_warm", out)
        if diff:
            failed += 1
            errors.append(f"build {attempted} differs from the warm-up build in {diff}")
    rss = tree_peak_rss()

    # correctness of the first index, outside the timed region
    docs = documents(pdf, cfg.index_rollups)
    exp = Expected(docs, cfg)
    qs = gen_queries(args.seed, CHECK_QUERIES)
    ix0 = run_dir / "ix0"
    bad = guarded(lambda: check_index(ix0, docs, exp, qs, cfg), errors, "index check")
    if bad is None or bad:
        failed += 1
        errors.extend(bad or [])

    text_bytes = int(sum(len(t.encode()) for t in pdf["text"].fillna("")))
    ix_bytes, ix_files = dir_bytes(ix0)
    med = statistics.median(lat) if lat else float("nan")
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (med, "s"),
        "throughput_per_s": (len(pdf) / med, "1/s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
        "index_bytes_per_text_byte": (ix_bytes / text_bytes, "ratio"),
    }
    detail = {
        "requests": tail_summary(lat), "n_turns": len(pdf), "n_docs": len(docs),
        "text_bytes": text_bytes, "index_bytes": ix_bytes, "index_files": ix_files,
        "session_s": session_s, "source_read_s": reads, "warmup_build_s": warm_s,
        "build_s": lat, "peak_rss_mb": rss,
        "jobs_stages_tasks": counts,
    }
    return {"e2e": e2e, "layers": {}, "detail": detail, "attempted": attempted,
            "failed": failed, "errors": errors}


def traced(spark, tr, args, run_dir, cfg, src, session_s, errors) -> dict:
    """The traced run: per-layer metrics of the build and of NRT ingest.

    Every build compared here runs warm: a build of the same corpus
    first compiles the plans and the JVM's hot paths. JIT compilation still
    speeds up the builds after it, so the staged build runs between two
    untraced ones and is compared with their mean. All three indexes must
    hold the same rows, and the staged layers must sum to within 10% of the
    untraced build + write."""
    failed = 0
    build_request(spark, tr, src, run_dir / "ix_warm", cfg, -1)

    attempted = 3
    untraced = [guarded(lambda: build_request(spark, tr, src, run_dir / "ix0", cfg, 0),
                        errors, "build request")]
    tr.drain()
    counts = tuple(a + b for a, b in zip(tr.counts(tr.last_group("build.index")),
                                         tr.counts(tr.last_group("build.write"))))
    staged_s = guarded(lambda: staged_build(spark, tr, src, run_dir / "ix_staged", cfg, 1),
                       errors, "staged build")
    untraced.append(guarded(lambda: build_request(spark, tr, src, run_dir / "ix2", cfg, 2),
                            errors, "build request"))
    layer, untraced_s = {}, float("nan")
    if None in untraced or staged_s is None:
        failed += 1
        staged_s = staged_s or float("nan")
    else:
        untraced_s = statistics.mean(untraced)
        root = tr.by_name("build.staged")[-1]
        layer = {tr.spans[c].name: tr.self_time(tr.spans[c]) for c in root.children}
        for other in ("ix_staged", "ix2"):
            diff = differing(run_dir / "ix0", run_dir / other)
            if diff:
                failed += 1
                errors.append(f"{other} differs from the untraced build in {diff}")
    layer_sum = sum(layer.values())
    ratio = layer_sum / untraced_s
    if not 0.9 <= ratio <= 1.1:
        failed += 1
        errors.append(f"build layers sum to {layer_sum:.3f} s, {ratio:.3f} of the "
                      f"untraced build + write ({untraced_s:.3f} s)")

    ids_s, rollup_s = id_and_rollup_s(spark, tr, src, cfg)
    ps = postings_stats(run_dir / "ix0")
    write_bytes, write_files = dir_bytes(run_dir / "ix0")
    noop = noop_job_s(spark, tr, run_dir / "ix0", cfg)
    nrt = nrt_ingest(spark, tr, args, run_dir, cfg, errors)
    failed += nrt.pop("failed")
    attempted += nrt.pop("attempted")
    detail = {"session_s": session_s, "build_request_s": untraced, "staged_build_s": staged_s,
              "build_layers_s": layer, "jobs_stages_tasks": counts}
    layers = {
        "session.start_s": (session_s, "s"),
        "session.noop_job_s": (noop, "s"),
        "transcripts.read_s": (layer.get("transcripts.read", 0.0), "s"),
        "ids.assign_s": (ids_s, "s"),
        "rollup.docs_s": (rollup_s, "s"),
        "build.docs_prep_s": (layer.get("build.docs_prep", 0.0), "s"),
        "postings.spimi_s": (layer.get("postings.spimi", 0.0), "s"),
        "postings.dictionary_s": (layer.get("postings.dictionary", 0.0), "s"),
        "postings.finalize_s": (layer.get("postings.finalize", 0.0), "s"),
        "build.write_s": (layer.get("build.write", 0.0), "s"),
        "build.jobs": (counts[0], "count"),
        "build.stages": (counts[1], "count"),
        "build.tasks": (counts[2], "count"),
        "build.write_bytes": (write_bytes, "B"),
        "build.write_files": (write_files, "count"),
        "postings.n_postings": (ps["n_postings"], "count"),
        "postings.n_blocks": (ps["n_blocks"], "count"),
        "postings.n_terms": (ps["n_terms"], "count"),
        "codec.bytes_per_posting": (ps["postings_bytes"] / ps["n_postings"], "B"),
        "trace.build_overhead_s": (staged_s - untraced_s, "s"),
        "trace.build_layer_sum_ratio": (ratio, "ratio"),
        **nrt,
    }
    return {"e2e": {}, "layers": layers, "detail": detail, "attempted": attempted,
            "failed": failed, "errors": errors}


def nrt_ingest(spark, tr, args, run_dir, cfg, errors) -> dict:
    """Micro-batches with unique conv_ids through ``build_segment``; after
    each, a fresh ``SegmentedSearcher`` (the refresh) serves queries; then
    ``merge_segments`` folds every segment into one. Answers are checked
    against an oracle over the union ingested so far."""
    from bitcoin_ledger_2es_spark.sources.synth import TRANSCRIPTS_DDL, gen_transcripts_pdf
    from bitcoin_ledger_2es_spark.streaming.compaction import merge_segments
    from bitcoin_ledger_2es_spark.streaming.incremental import SegmentedSearcher, build_segment

    root = run_dir / "nrt"
    full = gen_transcripts_pdf(NRT_CONV * NRT_BATCHES, seed=args.seed + 2)
    convs = sorted(full["conv_id"].unique())
    qs = gen_queries(args.seed + 3, NRT_BATCHES + 1)
    qi = iter(qs.itertuples(index=False))
    segments: dict[int, list[pd.DataFrame]] = {}
    served = []  # (segments snapshot, query, result)
    seg_build, seg_jobs, opens, refresh, topk = [], [], [], [], []
    attempted = failed = 0

    def serve(searcher, n):
        nonlocal attempted, failed
        for _ in range(n):
            q = next(qi)
            attempted += 1
            t0 = time.perf_counter()
            with tr.span("nrt.topk"):
                rows = guarded(lambda: searcher.top_k(q.query_text, k=int(q.k), mode=q.mode)
                               .toPandas(), errors, "nrt top_k")
            topk.append(time.perf_counter() - t0)
            if rows is None:
                failed += 1
            else:
                served.append(({s: list(b) for s, b in segments.items()}, q, rows))

    turns_in = 0
    for b in range(NRT_BATCHES):
        part = full[full["conv_id"].isin(convs[b * NRT_CONV:(b + 1) * NRT_CONV])]
        batch = spark.createDataFrame(part, TRANSCRIPTS_DDL)
        attempted += 1
        t0 = time.perf_counter()
        with tr.span("nrt.segment_build"):
            build_segment(spark, batch, str(root), b, cfg)
        t1 = time.perf_counter()
        with tr.span("nrt.searcher_open"):
            searcher = SegmentedSearcher(spark, str(root), cfg)
        t2 = time.perf_counter()
        segments[b] = [part]
        turns_in += len(part)
        serve(searcher, 1)
        refresh.append(time.perf_counter() - t0)
        seg_build.append(t1 - t0)
        opens.append(t2 - t1)
        tr.drain()
        seg_jobs.append(tr.counts(tr.last_group("nrt.segment_build"))[0])
    n_open = len(segments)
    seg_dirs = root / "segments"
    before = sum(dir_bytes(d / "index")[0] for d in seg_dirs.iterdir())
    attempted += 1
    t0 = time.perf_counter()
    with tr.span("compaction.merge"):
        target = merge_segments(spark, str(root), seg_ids=sorted(segments), cfg=cfg)
    merge_s = time.perf_counter() - t0
    rewritten = dir_bytes(seg_dirs / f"seg_{target:06d}" / "index")[0]
    segments = {target: [p for s in sorted(segments) for p in segments[s]]}
    serve(SegmentedSearcher(spark, str(root), cfg), 1)

    # correctness against the union of what had been ingested at each query
    oracles: dict[str, Expected] = {}
    for snap, q, rows in served:
        key = repr(sorted((s, len(b)) for s, b in snap.items()))
        if key not in oracles:
            oracles[key] = Expected(segment_documents(snap, cfg.index_rollups), cfg)
        why = mismatch(rows, oracles[key].top_k(q.query_text, int(q.k), q.mode),
                       with_meta=True)
        if why:
            failed += 1
            errors.append(f"nrt query {q.query_text!r} ({q.mode}, k={q.k}): {why}")
    text_bytes = sum(len(t.encode()) for t in full["text"])
    return {
        "attempted": attempted, "failed": failed,
        "nrt.segment_build_s": (statistics.median(seg_build), "s"),
        "nrt.segment_build_jobs": (statistics.median(seg_jobs), "count"),
        "nrt.searcher_open_s": (statistics.median(opens), "s"),
        "nrt.segments_open": (n_open, "count"),
        "nrt.refresh_p50_s": (statistics.median(refresh), "s"),
        "nrt.topk_p50_s": (statistics.median(topk), "s"),
        "nrt.ingest_turns_per_s": (turns_in / sum(seg_build), "1/s"),
        "nrt.index_bytes_per_text_byte": (rewritten / text_bytes, "ratio"),
        "compaction.merge_s": (merge_s, "s"),
        "compaction.bytes_rewritten": (rewritten, "B"),
        "compaction.write_amp": (rewritten / before, "ratio"),
    }

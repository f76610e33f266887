"""topk_stream: single top-k requests against an on-disk aligned index.

A request is ``BM25Searcher.top_k(...)`` with fetch metadata plus
``collect()``: seeded OR/AND queries of 1-5 terms, k in {1, 10, 100}, a
fifth of them carrying a never-seen token so the term cache misses.
Latency is bound by the per-query Spark job floor, not by the shard kernel.

The index is built once per source tree from a fixed corpus and cached
under ``.perfbench_work/cache`` (keyed on a hash of the engine's and this
benchmark's sources); the query stream is what the seed varies. Set-up is
the Spark session, opening the index and answering one query (three
times, median), and 20 warm-up requests: JIT compilation keeps making
requests faster for the first twenty or so of a session.

The traced run sends every timed request a second time, untraced, to
another searcher with the same term-cache history, alternating which goes
first; the difference is the tracing overhead. It adds, outside the
end-to-end figures: the fetch tail (``with_meta`` True minus False), a
``top_k_batch`` (msearch) batch of head-skewed queries, a no-op Python
task over the postings scan, and an
in-process replay of the shard kernel (``decode_term_contrib`` +
``score_shard_exact`` on the postings read with pyarrow) whose answers must
equal the engine's.
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from common import (
    WORK, dir_bytes, guarded, noop_job_s, source_hash, start_session, stop_session,
    tail_summary,
)
from host import reset_peak_rss, tree_peak_rss
from oracle import Expected, documents, mismatch
from queries import gen_queries
from replay import replay, same_hits

N_CONV = 3000  # ~50k turns, ~53k documents with rollups
CORPUS_SEED = 7
DPS = 8192  # ~7 shards
MAX_REQUESTS = 200
WARM_REQUESTS = 20
WARM_QUERY = "w0001 w0002"
FETCH_PAIRS = 2
MSEARCH_WARM = 50
MSEARCH_BATCH = 300
REPLAY_QUERIES = 20


def cached_index() -> Path:
    """Directory holding ``transcripts.parquet``, ``index/`` and the pickled
    oracle (``expected.pkl``) for the fixed corpus, built on first use by
    this source tree. The build runs in a child process, so the measuring
    process's JVM and memory carry nothing of it."""
    cache = WORK / "cache"
    key = f"ix-n{N_CONV}-s{CORPUS_SEED}-d{DPS}-{source_hash()}"
    path = cache / key
    if (path / "_COMPLETE").exists():
        return path
    cache.mkdir(parents=True, exist_ok=True)
    for old in cache.iterdir():  # entries of other source trees are never served
        shutil.rmtree(old, ignore_errors=True)
    tmp = cache / f"{key}.tmp{os.getpid()}"
    subprocess.run([sys.executable, __file__, str(tmp)], stdout=sys.stderr, check=True)
    tmp.rename(path)
    return path


def build_cache(tmp: Path) -> None:
    from bitcoin_ledger_2es_spark.config import DEFAULT
    from bitcoin_ledger_2es_spark.plans.build import build_index, write_index
    from bitcoin_ledger_2es_spark.sources.synth import write_transcripts_parquet
    from bitcoin_ledger_2es_spark.sources.transcripts import read_transcripts

    cfg = DEFAULT.with_(docs_per_shard=DPS)
    tmp.mkdir()
    write_transcripts_parquet(str(tmp / "transcripts.parquet"), N_CONV, seed=CORPUS_SEED)
    spark, _ = start_session()
    try:
        ix = build_index(read_transcripts(spark, str(tmp / "transcripts.parquet")), cfg)
        write_index(ix, str(tmp / "index"))
    finally:
        stop_session(spark)
    pdf = pq.read_table(tmp / "transcripts.parquet").to_pandas()
    exp = Expected(documents(pdf, cfg.index_rollups), cfg)
    exp.oracle._toks = None  # token lists serve only the phrase oracles
    with open(tmp / "expected.pkl", "wb") as f:
        pickle.dump(exp, f, protocol=pickle.HIGHEST_PROTOCOL)
    (tmp / "_COMPLETE").touch()


def open_searcher(spark, tr, path: Path, cfg):
    from bitcoin_ledger_2es_spark import BM25Searcher, read_index

    with tr.span("setup.open"):
        s = BM25Searcher(read_index(spark, str(path / "index"), cfg))
        if not s.aligned:
            raise RuntimeError("expected the partition-aligned on-disk scan")
        s.top_k(WARM_QUERY, k=10).collect()
    return s


def request(tr, searcher, q, i: int) -> tuple:
    """One timed request: ``top_k`` (plan) + ``collect`` (exec).
    -> (wall, plan, exec, result frame, (jobs, stages, tasks), plan jobs);
    the counts are read after the timed region."""
    t0 = time.perf_counter()
    with tr.span("topk.request", i):
        with tr.span("query.plan"):
            df = searcher.top_k(q.query_text, k=int(q.k), mode=q.mode)
        t1 = time.perf_counter()
        with tr.span("query.exec"):
            rows = df.collect()
    t2 = time.perf_counter()
    got = pd.DataFrame([r.asDict() for r in rows], columns=[
        "rank", "doc_id", "score", "conv_id", "turn_idx", "is_rollup"])
    tr.drain()
    pj = tr.counts(tr.last_group("query.plan"))
    ej = tr.counts(tr.last_group("query.exec"))
    return t2 - t0, t1 - t0, t2 - t1, got, tuple(a + b for a, b in zip(pj, ej)), pj[0]


def run(spark, tr, args, run_dir: Path, session_s: float) -> dict:
    from bitcoin_ledger_2es_spark.config import DEFAULT

    cfg = DEFAULT.with_(docs_per_shard=DPS)
    errors: list[str] = []
    path = cached_index()

    opens, searchers = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        searchers.append(open_searcher(spark, tr, path, cfg))
        opens.append(time.perf_counter() - t0)
    searcher = searchers[-1]
    # the traced run also sends every request, untraced, to a second
    # searcher with the same term-cache history: the tracing overhead
    plain = searchers[-2] if args.trace else None
    # warm up with the same mix of shapes before timing
    t0 = time.perf_counter()
    # the traced run warms each of its two searchers with half the requests
    n_warm = WARM_REQUESTS // 2 if plain is not None else WARM_REQUESTS
    for q in gen_queries(args.seed + 1000, n_warm).itertuples(index=False):
        with tr.span("setup.warmup"):
            searcher.top_k(q.query_text, k=int(q.k), mode=q.mode).collect()
        if plain is not None:
            with tr.paused():
                plain.top_k(q.query_text, k=int(q.k), mode=q.mode).collect()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(opens) + warm_s

    qs = gen_queries(args.seed, MAX_REQUESTS)
    reset_peak_rss()
    lat, plan, execs, results, counts, plan_jobs, untraced = [], [], [], [], [], [], []
    attempted = failed = 0
    for i, q in enumerate(qs.itertuples(index=False)):
        if sum(lat) >= args.seconds:
            break
        attempted += 1
        # in the traced run, alternate which of the pair goes first
        if plain is not None and i % 2:
            with tr.paused():
                untraced.append((q, guarded(lambda: request(tr, plain, q, i), errors,
                                            f"untraced top_k {q.query_text!r}")))
        r = guarded(lambda: request(tr, searcher, q, i), errors, f"top_k {q.query_text!r}")
        if plain is not None and not i % 2:
            with tr.paused():
                untraced.append((q, guarded(lambda: request(tr, plain, q, i), errors,
                                            f"untraced top_k {q.query_text!r}")))
        if r is None:
            failed += 1
            continue
        lat.append(r[0])
        plan.append(r[1])
        execs.append(r[2])
        results.append((q, r[3]))
        counts.append(r[4])
        plan_jobs.append(r[5])
    rss = tree_peak_rss()

    # correctness, outside the timed region
    with open(path / "expected.pkl", "rb") as f:
        exp = pickle.load(f)  # written by cached_index above
    for q, got in results:
        why = mismatch(got, exp.top_k(q.query_text, int(q.k), q.mode), with_meta=True)
        if why:
            failed += 1
            errors.append(f"top_k {q.query_text!r} ({q.mode}, k={q.k}): {why}")

    pdf = pq.read_table(path / "transcripts.parquet", columns=["text"]).to_pandas()
    text_bytes = int(sum(len(t.encode()) for t in pdf["text"].fillna("")))
    ix_bytes, ix_files = dir_bytes(path / "index")
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "throughput_per_s": (len(lat) / sum(lat), "1/s"),
        "peak_rss_mb": (sum(rss.values()), "MB"),
        "index_bytes_per_text_byte": (ix_bytes / text_bytes, "ratio"),
    }
    detail = {
        "requests": tail_summary(lat), "latencies_s": lat, "plan_s": tail_summary(plan),
        "exec_s": tail_summary(execs), "n_docs": exp.oracle.n_docs, "text_bytes": text_bytes,
        "index_bytes": ix_bytes, "index_files": ix_files, "session_s": session_s,
        "open_s": opens, "warmup_s": warm_s, "jobs_stages_tasks": counts, "peak_rss_mb": rss,
    }
    layers = {}
    if args.trace:
        layers = traced_layers(spark, tr, args, path, cfg, searcher, exp, results, plan,
                               execs, counts, plan_jobs, untraced, session_s, errors, detail)
        failed += detail.pop("trace_failed")
        attempted += detail.pop("trace_attempted")
    return {"e2e": e2e, "layers": layers, "detail": detail, "attempted": attempted,
            "failed": failed, "errors": errors}


def traced_layers(spark, tr, args, path, cfg, searcher, exp, results, plan, execs,
                  counts, plan_jobs, untraced, session_s, errors, detail) -> dict:
    """Per-layer metrics of the traced run (see the module docstring)."""
    from bitcoin_ledger_2es_spark.functions.analyze import analyze_query

    # the untraced twin of every request: its answer must be right too, and
    # the traced plan + exec must be within 10% of its wall time
    attempted = len(untraced)
    failed = sum(u is None for _, u in untraced)
    plain = [u for _, u in untraced if u is not None]
    for q, u in untraced:
        why = u and mismatch(u[3], exp.top_k(q.query_text, int(q.k), q.mode), with_meta=True)
        if why:
            failed += 1
            errors.append(f"untraced top_k {q.query_text!r} ({q.mode}, k={q.k}): {why}")
    plain_s = statistics.median(u[0] for u in plain) if plain else float("nan")
    traced_s = statistics.median(p + e for p, e in zip(plan, execs))
    split_ratio = traced_s / plain_s
    if not 0.9 <= split_ratio <= 1.1:
        failed += 1
        errors.append(f"query.plan_s + query.exec_s is {split_ratio:.3f} of the untraced "
                      f"top_k wall time ({traced_s:.3f} s against {plain_s:.3f} s, medians)")

    analyze = []
    for q, _ in results:
        t0 = time.perf_counter()
        with tr.span("analyze.query"):
            analyze_query(q.query_text, cfg)
        analyze.append(time.perf_counter() - t0)

    # fetch tail: the same query with and without the docmap fetch; the
    # term cache is warmed first so both sides skip the dictionary lookup
    fq = gen_queries(args.seed + 1, FETCH_PAIRS)
    with_m, without_m = [], []
    for q in fq.itertuples(index=False):
        searcher.top_k(q.query_text, k=int(q.k), mode=q.mode, with_meta=False).collect()
        for meta, acc in ((True, with_m), (False, without_m)):
            t0 = time.perf_counter()
            with tr.span("query.fetch_probe"):
                searcher.top_k(q.query_text, k=int(q.k), mode=q.mode, with_meta=meta).collect()
            acc.append(time.perf_counter() - t0)

    # msearch: head-skewed batches sharing terms across queries; the first,
    # smaller one compiles the batch path, the second is the one reported
    m_plan, m_exec, m_jobs = [], [], []
    for b, n in enumerate((MSEARCH_WARM, MSEARCH_BATCH)):
        mq = gen_queries(args.seed + 10 + b, n, skew=1.1)
        attempted += 1
        t0 = time.perf_counter()
        with tr.span("msearch.request", b):
            with tr.span("msearch.plan"):
                df = searcher.top_k_batch(mq)
            t1 = time.perf_counter()
            with tr.span("msearch.exec"):
                got = df.toPandas()
        t2 = time.perf_counter()
        m_plan.append(t1 - t0)
        m_exec.append(t2 - t1)
        tr.drain()
        m_jobs.append(tr.counts(tr.last_group("msearch.plan"))[0]
                      + tr.counts(tr.last_group("msearch.exec"))[0])
        bad = 0
        for q in mq.itertuples(index=False):
            why = mismatch(got[got["query_id"] == q.query_id],
                           exp.top_k(q.query_text, int(q.k), q.mode), with_meta=False)
            if why:
                bad += 1
                errors.append(f"msearch {q.query_text!r} ({q.mode}, k={q.k}): {why}")
        failed += bool(bad)

    # in-process replay of the shard kernel on the single top-k stream (one
    # query at a time: top_k shares no decode across queries) and on one
    # msearch batch; answers must equal the engine's
    sq = pd.DataFrame([q._asdict() for q, _ in results[:REPLAY_QUERIES]])
    single, st1 = {}, Counter()
    for i in range(len(sq)):
        out, st = replay(path / "index", cfg, sq.iloc[i:i + 1])
        single.update(out)
        st1.update(st)
    multi, st2 = replay(path / "index", cfg, mq)
    attempted += 2
    if not all(same_hits(got, single[q.query_id]) for q, got in results[:REPLAY_QUERIES]):
        failed += 1
        errors.append("kernel replay differs from top_k")
    if not all(same_hits(got[got["query_id"] == qid], multi[qid]) for qid in mq["query_id"]):
        failed += 1
        errors.append("kernel replay differs from top_k_batch")
    hits = sum(len(v) for v in single.values())
    nq = len(sq)
    detail.update(trace_failed=failed, trace_attempted=attempted,
                  untraced_latencies_s=[u[0] for u in plain],
                  fetch_with_meta_s=with_m, fetch_without_meta_s=without_m,
                  msearch_plan_s=m_plan, msearch_exec_s=m_exec, msearch_jobs=m_jobs)
    return {
        "session.start_s": (session_s, "s"),
        "session.noop_job_s": (noop_job_s(spark, tr, path / "index", cfg), "s"),
        "analyze.query_s": (statistics.median(analyze), "s"),
        "query.plan_s": (statistics.median(plan), "s"),
        "query.exec_s": (statistics.median(execs), "s"),
        "query.fetch_s": (statistics.median(with_m) - statistics.median(without_m), "s"),
        "query.jobs": (statistics.median(c[0] for c in counts), "count"),
        "query.stages": (statistics.median(c[1] for c in counts), "count"),
        "query.tasks": (statistics.median(c[2] for c in counts), "count"),
        "query.plan_jobs": (statistics.median(plan_jobs), "count"),
        # a request missed the term cache when top_k() ran the dictionary lookup
        "query.term_cache_miss_ratio": (float(np.mean([j > 0 for j in plan_jobs])), "ratio"),
        "msearch.plan_s": (m_plan[-1], "s"),
        "msearch.exec_s": (m_exec[-1], "s"),
        "msearch.jobs": (m_jobs[-1], "count"),
        "msearch.qps": (MSEARCH_BATCH / (m_plan[-1] + m_exec[-1]), "1/s"),
        # kernel replay figures are means per single top-k query
        "wand.decode_s": (st1["decode_s"] / nq, "s"),
        "wand.score_s": (st1["score_s"] / nq, "s"),
        "wand.postings_decoded": (st1["postings_decoded"] / nq, "count"),
        "wand.blocks_read": (st1["blocks_read"] / nq, "count"),
        "wand.postings_per_hit": (st1["postings_decoded"] / max(hits, 1), "ratio"),
        "wand.shared_decode_ratio": (st2["decodes"] / st2["term_uses"], "ratio"),
        "trace.query_split_ratio": (split_ratio, "ratio"),
        "trace.query_overhead_s": (traced_s - plain_s, "s"),
    }


if __name__ == "__main__":
    build_cache(Path(sys.argv[1]))  # run by cached_index

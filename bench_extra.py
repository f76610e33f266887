#!/usr/bin/env python
"""Round-6 extra benchmarks (bench.py is FROZEN for measurement —
this file holds the optimization round's isolation timings, guide §1.4:
noop-sink / best-of-N per-operator numbers and .explain captures).

Opens the bench on-disk index from .cache (ix_n<conv>_dps<dps>, written
by a prior bench.py run) and times individual operators. Usage:

  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_extra.py [names...]

Prints one JSON line {"op": sec, ...} (best-of-N, N=3).
"""
from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("BENCH_QUERY_REPS", "3"))
CACHE = REPO / ".cache"


def bench_dps(spark, n_conv: int) -> int:
    """The shard width bench.py derives for this corpus and core count, so
    this script opens ITS index (a lexicographic pick of the cached
    ``ix_n*_dps*`` directories would sort dps16384 after dps131072)."""
    if os.environ.get("SPARK_GRAFT_DPS"):
        return int(os.environ["SPARK_GRAFT_DPS"])
    from bitcoin_ledger_2es_spark.sources.transcripts import read_transcripts

    corpus = CACHE / f"transcripts_n{n_conv}_s42.parquet"
    docs_total_est = int(read_transcripts(spark, str(corpus)).count() * 1.25)
    return max(4096, 1 << (docs_total_est // (2 * CPUS)).bit_length())


def main() -> None:
    from bitcoin_ledger_2es_spark import BM25Searcher
    from bitcoin_ledger_2es_spark.config import DEFAULT
    from bitcoin_ledger_2es_spark.contract import QUERIES
    from bitcoin_ledger_2es_spark.plans.build import read_index
    from bitcoin_ledger_2es_spark.plans.esql import esql as esql_run
    from bitcoin_ledger_2es_spark.session import get_spark
    from bitcoin_ledger_2es_spark.sources.synth import gen_query_set

    sf = float(Path(SF_DIR).name.replace("sf", "") or 0.1)
    n_conv = max(200, int(1_000_000 * sf))
    spark = get_spark("bench_extra", cores=CPUS,
                      shuffle_partitions=max(32, 2 * CPUS))
    spark.sparkContext.setLogLevel("ERROR")
    ix_path = CACHE / f"ix_n{n_conv}_dps{bench_dps(spark, n_conv)}"
    if not ix_path.is_dir():
        raise SystemExit(f"no index {ix_path} — run bench.py first")
    ix = read_index(spark, str(ix_path), DEFAULT)
    searcher = BM25Searcher(ix)
    assert searcher.aligned
    qset = gen_query_set()
    q2 = [qset.iloc[0].query_text, qset.iloc[1].query_text]

    ops = {
        "bm25_q00": lambda: searcher.top_k(
            qset.iloc[0].query_text, k=int(qset.iloc[0].k),
            mode=qset.iloc[0].mode).collect(),
        "bm25_q00_nometa": lambda: searcher.top_k(
            qset.iloc[0].query_text, k=int(qset.iloc[0].k),
            mode=qset.iloc[0].mode, with_meta=False).collect(),
        "msearch": lambda: searcher.top_k_batch(
            qset[["query_id", "query_text", "k", "mode"]]).collect(),
        "dis_max": lambda: searcher.dis_max(
            q2, tie_breaker=0.3, k=10, with_meta=False).collect(),
        "boosting": lambda: searcher.boosting(
            q2[0], q2[1], negative_boost=0.5, k=10, with_meta=False).collect(),
        "collapse": lambda: searcher.collapse_topk(q2[0], k=10).collect(),
        "esql_fork_fuse": lambda: esql_run(
            'FROM ix METADATA _score'
            f' | FORK (WHERE MATCH(text, "{q2[0]}")'
            ' | SORT _score DESC, doc_id ASC | LIMIT 20)'
            f' (WHERE MATCH(text, "{q2[1]}")'
            ' | SORT _score DESC, doc_id ASC | LIMIT 20)'
            ' | FUSE | SORT _score DESC, doc_id ASC | LIMIT 10'
            ' | KEEP doc_id, _score',
            indexes={"ix": searcher}).collect(),
    }
    if Path(SF_DIR).is_dir():
        for name in ("stats_agg", "join_revenue", "bm25_topk", "window_lag"):
            ops[name] = (lambda nm=name: QUERIES[nm](spark, SF_DIR).collect())

        # per-kind timing for the union gate entries (VERDICT r05 #7):
        # a literal filter on the `kind` tag constant-folds away the other
        # union branches, so each timing runs only that kind's subtree
        from pyspark.sql import functions as _F

        def _kinds_of(qname):
            return sorted(
                r["kind"] for r in QUERIES[qname](spark, SF_DIR)
                .select("kind").distinct().collect()
            )

        def add_per_kind(qname):
            for kind in _kinds_of(qname):
                ops[f"{qname}:{kind}"] = (
                    lambda qn=qname, kd=kind: QUERIES[qn](spark, SF_DIR)
                    .filter(_F.col("kind") == kd).collect()
                )

        if os.environ.get("BENCH_EXTRA_PER_KIND"):
            for qname in ("window_lag",):
                add_per_kind(qname)

    pick = sys.argv[1:] or list(ops)
    out = {}
    for name in pick:
        fn = ops[name]
        fn()  # warm-up
        best = float("inf")
        for _ in range(REPS):
            t0 = time.monotonic()
            fn()
            best = min(best, time.monotonic() - t0)
        out[name] = round(best, 4)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

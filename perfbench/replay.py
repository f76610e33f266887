"""In-process replay of the engine's shard kernel on an on-disk index."""

from __future__ import annotations

import time
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def replay(ix: Path, cfg, queries: pd.DataFrame) -> tuple[dict, dict]:
    """Score ``queries`` in-process, shard by shard, with the engine's own
    kernel functions on postings read with pyarrow from the on-disk index
    ``ix``.

    Returns ({query_id: top-k frame}, stats). As in the msearch kernel, a
    term is decoded once per shard and shared by every query using it."""
    from bitcoin_ledger_2es_spark.functions.analyze import analyze_query
    from bitcoin_ledger_2es_spark.functions.bm25 import idf
    from bitcoin_ledger_2es_spark.operators.wand import decode_term_contrib, score_shard_exact

    stats_row = pq.read_table(ix / "corpus_stats").to_pylist()[0]
    n_docs, avgdl = int(stats_row["n_docs"]), float(stats_row["avgdl"])
    dps = int(stats_row["docs_per_shard"])
    d = pq.read_table(ix / "dictionary", columns=["term", "term_id", "df"]).to_pandas()
    lookup = {t: (int(i), int(f)) for t, i, f in zip(d["term"], d["term_id"], d["df"])}

    specs = []  # (query_id, k, mode, [(tid, idf, weight)], n_terms)
    for q in queries.itertuples(index=False):
        w = Counter(analyze_query(q.query_text, cfg))
        found = [(lookup[t][0], float(idf(float(lookup[t][1]), n_docs)), float(c))
                 for t, c in w.items() if t in lookup]
        if not found or (q.mode == "and" and len(found) < len(w)):
            specs.append((q.query_id, int(q.k), q.mode, [], 0))
        else:
            specs.append((q.query_id, int(q.k), q.mode, sorted(found), len(found)))
    tids = sorted({m[0] for s in specs for m in s[3]})

    st = {"decode_s": 0.0, "score_s": 0.0, "postings_decoded": 0, "blocks_read": 0,
          "term_uses": 0, "decodes": 0}
    per_query: dict[int, list[pd.DataFrame]] = {s[0]: [] for s in specs}
    for sd in sorted((ix / "postings").glob("shard_id=*")):
        base = int(sd.name.split("=", 1)[1]) * dps
        blocks = pq.read_table(sd, filters=[("term_id", "in", tids)]).to_pandas()
        by_tid = {t: g.sort_values("block_id") for t, g in blocks.groupby("term_id")}
        memo: dict[int, tuple] = {}
        for qid, k, mode, metas, n_terms in specs:
            present = [m for m in metas if m[0] in by_tid]
            if not present or (mode == "and" and len(present) < n_terms):
                continue
            dec = []
            for tid, t_idf, w in present:
                st["term_uses"] += 1
                if tid not in memo:
                    g = by_tid[tid]
                    t0 = time.perf_counter()
                    memo[tid] = decode_term_contrib(g, base, t_idf, avgdl, cfg.k1, cfg.b)
                    st["decode_s"] += time.perf_counter() - t0
                    st["decodes"] += 1
                    st["postings_decoded"] += int(g["n_docs"].sum())
                    st["blocks_read"] += len(g)
                dec.append((tid, t_idf, w, memo[tid]))
            t0 = time.perf_counter()
            res = score_shard_exact(dec, base, dps, None, k, mode, avgdl, cfg.k1, cfg.b)
            st["score_s"] += time.perf_counter() - t0
            per_query[qid].append(res)
    out = {}
    for qid, k, _, _, _ in specs:
        parts = [p for p in per_query[qid] if len(p)]
        if not parts:
            out[qid] = pd.DataFrame({"doc_id": [], "score": []})
            continue
        c = pd.concat(parts, ignore_index=True)
        order = np.lexsort((c["doc_id"].to_numpy(), -c["score"].to_numpy(np.float64)))[:k]
        out[qid] = c.iloc[order].reset_index(drop=True)
    return out, st


def same_hits(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same doc_ids in the same order with the same f32 scores."""
    g = got.sort_values("rank") if "rank" in got else got
    return (g["doc_id"].astype(np.int64).tolist() == want["doc_id"].astype(np.int64).tolist()
            and np.array_equal(g["score"].to_numpy(np.float32),
                               want["score"].to_numpy(np.float32)))

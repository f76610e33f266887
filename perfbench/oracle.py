"""Expected results, computed without the engine's index.

Doc ids are assigned here in pandas, independently of the engine's Spark
id assignment: turns in (conv_id, turn_idx) order get 0..n_turns-1, then
one rollup document per conversation, in conv_id order, whose text is the
conversation's turn texts joined by single spaces. Scores come from the
repository's brute-force ``PandasOracle``, which scores every document.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from bitcoin_ledger_2es_spark import PandasOracle
from bitcoin_ledger_2es_spark.streaming.incremental import SEG_BASE


def documents(transcripts: pd.DataFrame, rollups: bool, base: int = 0) -> pd.DataFrame:
    """(doc_id, conv_id, turn_idx, is_rollup, text) for one corpus."""
    t = transcripts.sort_values(["conv_id", "turn_idx"], kind="stable")
    n = len(t)
    turns = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64) + base,
        "conv_id": t["conv_id"].to_numpy(),
        "turn_idx": t["turn_idx"].to_numpy(np.int32),
        "is_rollup": False,
        "text": t["text"].fillna("").to_numpy(),
    })
    if not rollups:
        return turns
    roll = t.groupby("conv_id", sort=True)["text"].agg(lambda s: " ".join(s.fillna("")))
    rolled = pd.DataFrame({
        "doc_id": np.arange(len(roll), dtype=np.int64) + base + n,
        "conv_id": roll.index.to_numpy(),
        "turn_idx": np.int32(-1),
        "is_rollup": True,
        "text": roll.to_numpy(),
    })
    return pd.concat([turns, rolled], ignore_index=True)


class Expected:
    """Brute-force top-k over a document table, plus the fetch metadata."""

    def __init__(self, docs: pd.DataFrame, cfg):
        self.oracle = PandasOracle(docs[["doc_id", "text"]], cfg)
        self.meta = docs.set_index("doc_id")[["conv_id", "turn_idx", "is_rollup"]]

    def top_k(self, query: str, k: int, mode: str) -> pd.DataFrame:
        exp = self.oracle.top_k(query, k=k, mode=mode)
        return exp.join(self.meta, on="doc_id")


def segment_documents(segments: dict[int, list[pd.DataFrame]], rollups: bool) -> pd.DataFrame:
    """Union of NRT segments: each segment's batches are one corpus whose
    local ids are offset by ``seg_id * SEG_BASE``."""
    return pd.concat(
        [documents(pd.concat(b, ignore_index=True), rollups, sid * SEG_BASE)
         for sid, b in sorted(segments.items())],
        ignore_index=True,
    )


def mismatch(got: pd.DataFrame, exp: pd.DataFrame, with_meta: bool) -> str | None:
    """Why ``got`` differs from ``exp`` (rank, doc_id, f32 score and, with
    fetch metadata, conv_id/turn_idx/is_rollup), or None when identical."""
    if len(got) != len(exp):
        return f"{len(got)} hits, expected {len(exp)}"
    g = got.sort_values("rank").reset_index(drop=True)
    e = exp.reset_index(drop=True)
    if g["rank"].tolist() != list(range(1, len(g) + 1)):
        return "ranks are not 1..n"
    if g["doc_id"].astype(np.int64).tolist() != e["doc_id"].astype(np.int64).tolist():
        return "doc_id order differs"
    if not np.array_equal(g["score"].to_numpy(np.float32), e["score"].to_numpy(np.float32)):
        return "f32 scores differ"
    if with_meta:
        for c in ("conv_id", "turn_idx", "is_rollup"):
            if g[c].tolist() != e[c].tolist():
                return f"fetched {c} differs"
    return None

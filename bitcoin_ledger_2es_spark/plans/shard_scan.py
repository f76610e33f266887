"""Per-shard dispatch: how a shard kernel is lowered onto the Spark plan.

Every query surface scores one shard at a time inside a pandas kernel
``kernel(shard_id, postings_pdf, docmap_pdf | None) -> pdf``; this module
is the ONE place that decides how that kernel meets the plan:

  * ``docmap`` given (a non-scoring filter, tombstones, or a surface whose
    live set IS the docmap): the pruned postings are cogrouped with the
    shard's docmap slice (one exchange per side, FlatMapCoGroupsInPandas);
  * ``aligned`` (the on-disk write_index layout whose shard files are never
    split — ``aligned_layout_ok``): the kernel runs inside the postings
    scan itself (MapInPandas, zero exchanges);
  * otherwise: groupBy(shard_id).applyInPandas (one exchange).

The choice follows the observable layout; results are identical across
the three (the kernels key everything off the shard). ``allowed_mask``
and ``presence_mask`` are the kernels' shared doc-mask helpers."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..operators.wand import _decode_term_blocks


def _parse_byte_size(v: str) -> int:
    """Parse a Spark byte-size conf value ('134217728b', '128m', '1g')."""
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
                   ("b", 1), ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40)):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    return int(float(s)) * mult


def aligned_layout_ok(ix) -> bool:
    """True iff the zero-exchange (aligned) scan is provably safe for this
    index: it is on disk in the write_index layout AND every postings file
    is <= spark.sql.files.maxPartitionBytes. Spark splits parquet files
    LARGER than that at row-group boundaries, so an over-sized shard file
    would be scored by several mapInPandas tasks each seeing only part of
    the shard's postings — silently understated scores. Files at or below
    the threshold are never split (bin-packing only merges whole files)."""
    if ix.path is None:
        return False
    pdir = Path(ix.path) / "postings"
    try:
        if not pdir.is_dir():
            return False  # non-local FS: can't cheaply verify -> grouped path
        files = [f for f in pdir.glob("shard_id=*/*.parquet")]
        if not files:
            return False
        max_file = max(f.stat().st_size for f in files)
    except OSError:
        return False
    spark = ix.postings.sparkSession
    cap = _parse_byte_size(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    return max_file <= cap


def map_shards(
    postings: DataFrame, kernel, schema: str, aligned: bool,
    docmap: DataFrame | None = None,
) -> DataFrame:
    """Run ``kernel(shard_id, postings_pdf, docmap_pdf)`` once per shard.

    With ``docmap`` the kernel sees both sides of the shard (either may be
    empty); without it ``docmap_pdf`` is None and ``postings_pdf`` is never
    empty. The aligned scan is correct because write_index stores each
    shard's postings in exactly one file under its shard_id= directory and
    a file at or below maxPartitionBytes is never split (Spark may
    bin-pack several whole shard files into one task, hence the pandas
    groupby)."""
    if docmap is not None:
        return (
            postings.groupBy("shard_id")
            .cogroup(docmap.groupBy("shard_id"))
            .applyInPandas(lambda key, p, d: kernel(int(key[0]), p, d), schema=schema)
        )
    if not aligned:
        return postings.groupBy("shard_id").applyInPandas(
            lambda key, p: kernel(int(key[0]), p, None), schema=schema
        )

    def scan(batches):
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        for sid, g in pdf.groupby("shard_id", sort=False):
            out = kernel(int(sid), g.reset_index(drop=True), None)
            if len(out):
                yield out

    return postings.mapInPandas(scan, schema=schema)


def allowed_mask(docmap_pdf: pd.DataFrame | None, shard_id: int, dps: int) -> np.ndarray | None:
    """The shard's allowed-doc mask (index = doc_id - shard base) from its
    docmap slice's ``_allowed`` column; docs absent from the slice stay
    excluded. None without a docmap (nothing filtered)."""
    if docmap_pdf is None:
        return None
    allowed = np.zeros(dps, dtype=bool)
    allowed[docmap_pdf["doc_id"].to_numpy(np.int64) - shard_id * dps] = (
        docmap_pdf["_allowed"].to_numpy(bool)
    )
    return allowed


def presence_mask(
    allowed: np.ndarray, postings_pdf: pd.DataFrame, req_tids, not_tids,
    mode: str, base: int,
) -> bool:
    """Narrow ``allowed`` in place to the docs holding ALL (``mode='and'``)
    or ANY of ``req_tids`` (no constraint when empty) and none of
    ``not_tids``. Returns False when an AND shard lacks a required term
    (nothing in it can match)."""
    groups = (
        {tid: g for tid, g in postings_pdf.groupby("term_id")}
        if not postings_pdf.empty else {}
    )

    def docs(tid):
        g = groups.get(tid)
        dec = None if g is None else _decode_term_blocks(g, base)
        return None if dec is None else dec[0]

    if req_tids:
        seen = np.zeros(allowed.size, dtype=np.int32)
        n_present = 0
        for tid in req_tids:
            d = docs(tid)
            if d is not None:
                seen[d] += 1
                n_present += 1
        if mode == "and":
            if n_present < len(req_tids):
                return False
            allowed &= seen == len(req_tids)
        else:
            allowed &= seen > 0
    for tid in not_tids:
        d = docs(tid)
        if d is not None:
            allowed[d] = False
    return True

"""Engine configuration.

All knobs that affect the *content* of the index (tokenization, BM25
parameters, block size, shard width) are data-determined constants here so
that the index is byte-identical across parallelism levels and across
resume-after-failure rebuilds (BASELINE.json north_rule: deterministic,
rank-identical, resumable).

Knobs that only affect *execution* (shuffle partitions, wave count) never
change index content.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class EngineConfig:
    # --- BM25 (Lucene/ES defaults, fixed by BASELINE.json) ---
    k1: float = 1.2
    b: float = 0.75

    # --- analyzer ---
    # Applied to lowercased text: ASCII word runs. Chosen over unicode \w
    # so the SAME token stream falls out of every execution engine we use
    # (python re, pandas, Java regex in Catalyst, RE2 in Arrow compute,
    # DuckDB oracle SQL) — \w is unicode-aware in python but ASCII in RE2,
    # which would silently diverge. Behaves like the ES "simple" analyzer
    # family: non-[a-z0-9_] characters separate tokens.
    token_pattern: str = r"[a-z0-9_]+"
    lowercase: bool = True

    @property
    def separator_pattern(self) -> str:
        """RE2 split pattern equivalent to findall(token_pattern)."""
        assert self.token_pattern == r"[a-z0-9_]+"
        return r"[^a-z0-9_]+"

    # --- index layout (content-affecting: MUST be fixed per index) ---
    # Max docs per posting block (Lucene uses 128). Per-block max-score
    # metadata enables block-max WAND skipping.
    block_size: int = 128
    # Shard = contiguous doc_id range (shard_id = doc_id // docs_per_shard).
    # This is the explicit head-term skew handling: a hot term's postings are
    # split across shards, so no single task ever holds more than
    # docs_per_shard postings for one term.  Shard assignment is a pure
    # function of doc_id -> identical index at any parallelism.  At 10^12 docs
    # raise this (e.g. 1 << 23) so shard count stays manageable.
    docs_per_shard: int = 1 << 16
    # Also index rolled-up whole conversations as documents (north_star).
    index_rollups: bool = True
    # Store token positions in posting blocks (varint-delta per posting,
    # Lucene-style). Enables match_phrase (B5); off by default because the
    # positions stream is the largest part of a positional index (~1 byte
    # per token occurrence) and most queries never read it.
    store_positions: bool = False

    # --- execution-only knobs (never affect index content) ---
    shuffle_partitions: int = 32
    # Postings are built and committed in this many waves of shards; lineage
    # rows are appended per wave so a killed build resumes mid-merge
    # (north_rule: "resumable from checkpoint with per-partition lineage").
    n_waves: int = 4

    def content_key(self) -> tuple:
        """The tuple of content-affecting parameters (for lineage checksums)."""
        return (
            self.k1,
            self.b,
            self.token_pattern,
            self.lowercase,
            self.block_size,
            self.docs_per_shard,
            self.index_rollups,
            self.store_positions,
        )

    def with_(self, **kw) -> "EngineConfig":
        return replace(self, **kw)


DEFAULT = EngineConfig()

"""Engine-wide constants and configuration.

BM25 parameters and clamps are pinned to the reference:
  - k1=1.2, b=0.75            (reference: src/api_engine.cpp:375-376)
  - idf = ln(1 + (N-df+0.5)/(df+0.5))   (reference: src/api_engine.cpp:45-47)
  - k clamped to [1, 100] for search, [1, 10] for suggest
                               (reference: src/api_engine.cpp:377,171)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class BM25Params:
    k1: float = 1.2
    b: float = 0.75
    # 'f32' reproduces the reference's float32 arithmetic (rank-identity vs the
    # golden oracle); 'f64' is bit-compatible with SQL oracles (DuckDB doubles).
    precision: str = "f32"


# Search / suggest result-count clamps (reference: api_engine.cpp:377,171).
SEARCH_K_MIN, SEARCH_K_MAX = 1, 100
SUGGEST_K_MIN, SUGGEST_K_MAX = 1, 10

# Minimum token length kept by the indexer & query parser
# (reference: src/ForwardIndex.cpp:147, src/api_engine.cpp:394).
MIN_TOKEN_LEN = 2

# Posting-list physical layout (north-rule extension — the reference stores raw
# uncompressed u32 pairs, lexicon.cpp:122-126; we chunk and compress doc-id
# gaps and tf, format v8 in functions/codec.py; doc lengths live in the doc
# store, functions/docstore.py).
CHUNK_SIZE = 4096          # postings per chunk row (the skew-split unit)
# (r1 stored intra-chunk skip-doc lists too; dropped in format v3 — the batch
# tier's chunk prune skips at chunk granularity via doc_lo/doc_hi metadata
# and serving decodes every chunk, and without per-skip byte
# offsets an intra-chunk skip list cannot avoid the sequential varbyte decode,
# so the column was dead weight on every chunk row. See VERDICT r1 §wrong-3.)

# Autocomplete (reference: api_autocomplete.cpp:33-55 keeps top-10 per prefix).
SUGGEST_TOP_PER_PREFIX = 10
SUGGEST_MAX_PREFIX_LEN = 12  # bound prefix explosion; reference tries are unbounded

# Default parallelism knobs (overridable per-session).
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


# single-file pointer that maps logical index components to physical dirs;
# compaction writes new generation dirs and flips this pointer with ONE
# atomic os.replace, so a crash mid-compaction can never mix postings and
# lexicon (or stats) from different generations. Only plans/generations.py
# reads or writes it.
CURRENT_POINTER = "CURRENT.json"


@dataclass(frozen=True)
class IndexPaths:
    """On-disk layout of one generation of a built index (the Parquet analog
    of the reference's segment directory: stats.bin/docs.bin/lexicon_b*/
    inverted_b*, see include/segment_writer.hpp:65-167).

    The generation pointer is read once, here: every component path comes
    from that snapshot, so a handle holding an IndexPaths reads one
    generation until it is reopened, whatever later compactions flip.
    ``root`` is a local or mounted filesystem path: stats, the pointer, the
    manifest and backups go through ``open``/``os``/``shutil``."""

    root: str
    gen: int = field(init=False)
    docs: str = field(init=False)
    postings: str = field(init=False)
    lexicon: str = field(init=False)
    suggest: str = field(init=False)
    stats: str = field(init=False)

    def __post_init__(self) -> None:
        if "://" in self.root:
            raise ValueError(
                f"index root {self.root!r} is a URI; give a local or mounted "
                "filesystem path (e.g. /data/index)")
        from nextsearch_api_spark.plans.generations import (
            DEFAULT_COMPONENTS, current_mapping,
        )
        mapping = current_mapping(self.root)
        object.__setattr__(self, "gen", int(mapping["gen"]))
        for name in DEFAULT_COMPONENTS:
            object.__setattr__(self, name,
                               os.path.join(self.root, mapping[name]))

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "_manifest.json")


@dataclass
class BuildConfig:
    """Tunables for the index build pipeline."""

    bm25: BM25Params = field(default_factory=BM25Params)
    chunk_size: int = CHUNK_SIZE

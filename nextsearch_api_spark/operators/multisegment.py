"""Multi-segment serving — reference parity for N-segment engines.

The reference engine loads N independent segments, each carrying its OWN
lexicon, postings and collection stats, scores every segment with
segment-LOCAL idf/avgdl, and merges the per-segment candidates into one
global top-k (/root/reference/src/api_engine.cpp:441-495 loads and
dispatches per segment; src/api_segment.cpp:105-136 scores with the
segment's own N and avgdl; found is the sum of per-segment matched counts).

The canonical deployment is ONE segment (the reference's shipped config),
and `api.Engine` keeps that shape — SURVEY §7.3 canonicalizes scoring to
global stats, which is bit-identical when N==1. This module closes the
remaining divergence for users who DO run multiple segments: each segment
directory here is a full index built by ``build_index`` (its stats.json IS
the segment-local stats), wrapped in its own WandEngine, so segment-local
scoring falls out of the existing machinery instead of being a second code
path.

Merge semantics mirror the reference's heap merge: candidates ordered by
(score desc, segment order asc, doc_id asc); ``found`` sums per-segment
counts (the reference's ``total_found`` accumulation); ``segments`` in the
response reports N. Result rows carry a ``segment`` index because doc_ids
are segment-local (each build numbers 1..N_seg), exactly like the
reference's per-segment doc indexes.

Scale shape: segments serve independently (driver-side exhaustive TAAT
each, so every segment's ``found`` is exact and so is their sum), so a
multi-segment tier shards by segment; the distributed batch tier remains
the cluster path for one logical index.
"""

from __future__ import annotations

import threading

from nextsearch_api_spark.config import (
    SUGGEST_MAX_PREFIX_LEN, SUGGEST_TOP_PER_PREFIX,
)
from nextsearch_api_spark.operators.autocomplete import _SuggestServing
from nextsearch_api_spark.operators.query import clamp_k
from nextsearch_api_spark.operators.wand import WandEngine


class _MergedSuggester(_SuggestServing):
    """The build's suggest table (operators/autocomplete.py:build_suggest —
    each prefix up to SUGGEST_MAX_PREFIX_LEN keeps its top
    SUGGEST_TOP_PER_PREFIX terms by (df desc, term asc)) over a merged
    term → df map, served with the single-index suggest rules."""

    def __init__(self, df: "dict[str, int]"):
        by_prefix: dict[str, list[tuple[int, str]]] = {}
        for term, c in df.items():
            for i in range(1, min(len(term), SUGGEST_MAX_PREFIX_LEN) + 1):
                by_prefix.setdefault(term[:i], []).append((-c, term))
        self.table = {p: [t for _, t in sorted(v)[:SUGGEST_TOP_PER_PREFIX]]
                      for p, v in by_prefix.items()}
        self.df_lookup = df
        self.max_prefix_len = SUGGEST_MAX_PREFIX_LEN

    def _candidates(self, tok: str) -> list[str]:
        return self.table.get(tok, [])


class MultiSegmentEngine:
    """N independent index segments served as one engine.

    Serving-tier state (the merged suggest structures) is built ONCE,
    lazily, under an engine lock — the same discipline as ``api.Engine``'s
    suggester (VERDICT r3 #2 / ADVICE r3): segments are immutable per
    engine instance, so per-call rebuilds were pure waste on the
    autocomplete path."""

    def __init__(self, roots: list[str]):
        if not roots:
            raise ValueError("at least one segment root required")
        self.roots = list(roots)
        self.segments = [WandEngine(r) for r in self.roots]
        self._lock = threading.RLock()
        self._merged_df: dict[str, int] | None = None
        self._suggester: _MergedSuggester | None = None

    # ------------------------------------------------------------- search --
    def search(self, query: str, k: int = 10, hydrate: bool = False) -> dict:
        """Segment-local scoring + global merge (reference semantics)."""
        kk = clamp_k(k)
        found = 0
        cands: list[tuple[float, int, int]] = []  # (-score, seg, doc_id)
        for si, seg in enumerate(self.segments):
            r = seg.search(query, kk)
            found += int(r["found"])
            for item in r["results"]:
                cands.append((-float(item["score"]), si, int(item["doc_id"])))
        cands.sort()
        results = [
            {"rank": i + 1, "doc_id": d, "segment": s, "score": -ns}
            for i, (ns, s, d) in enumerate(cands[:kk])
        ]
        out = {
            "query": query,
            "k": kk,
            "segments": len(self.segments),
            "found": found,
            "results": results,
        }
        return self._hydrate(out) if hydrate else out

    def _hydrate(self, out: dict) -> dict:
        """Per-segment doc-metadata join (reference hydration reads each
        hit's metadata from ITS segment's doc store, api_engine.cpp:508-532;
        left-join semantics — missing meta tolerated): each segment's doc
        store, the same as the single-segment Engine."""
        by_seg: dict[int, list[dict]] = {}
        for r in out["results"]:
            by_seg.setdefault(r["segment"], []).append(r)
        for si, rows in by_seg.items():
            self.segments[si].hydrate(rows)
        return out

    # ------------------------------------------------------------ suggest --
    def merged_suggest_df(self) -> "dict[str, int]":
        """term → summed df across segments (the reference's cross-segment
        df aggregation, SURVEY §2 A4) — built once per engine instance
        (segments are immutable) under the engine lock."""
        if self._merged_df is None:
            with self._lock:
                if self._merged_df is None:
                    total: dict[str, int] = {}
                    for seg in self.segments:
                        for term, df in seg._df.items():
                            total[term] = total.get(term, 0) + int(df)
                    self._merged_df = total
        return self._merged_df

    def suggest(self, q: str, k: int = 10) -> list[str]:
        """Completions of the last token of ``q`` by (summed df desc, term
        asc) over the merged lexicons, with the preceding text echoed and k
        clamped like the single-index suggest (api.Engine.suggest). The
        table is built once per engine instance (segments are immutable)
        under the engine lock."""
        if self._suggester is None:
            with self._lock:
                if self._suggester is None:
                    self._suggester = _MergedSuggester(
                        self.merged_suggest_df())
        return self._suggester.suggest(q, k)

    # -------------------------------------------------------------- stats --
    def health(self) -> dict:
        return {
            "ok": True,
            "segments": len(self.segments),
            "docs": sum(s.N for s in self.segments),
        }

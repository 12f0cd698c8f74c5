"""Interactive query engine: exhaustive vectorized TAAT over the chunked index.

Like the reference, serving scores EVERY posting of every query term
(src/api_engine.cpp:444-481) and reports the exact matched-doc count
(:495). The engine is an operators/query.py:IndexReader, the one handle
that opens a generation for both tiers, and a search is the batch tier's
driver path for one query: query.weigh, then query.rank_on_driver (→
functions/scoring.py:rank_chunk_rows). Block-max chunk pruning lives in
the batch tier's plan, where posting volume needs it.

The engine adds to the reader only what serving holds in RAM: the
lexicon's term → df dict (``term_dfs``), a byte-bounded LRU of the terms'
chunk rows in front of the postings footer index (``term_chunks``; no
Spark job per query — the analog of the reference's lexicon hash lookup +
file seek, api_engine.cpp:453-475), optional expansion weights, and
hydration from the doc store. Loading reads stats, the lexicon and
footers, never postings data. Results are identical to the batch path
and the golden oracle.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from typing import Sequence

import pyarrow as pa

from nextsearch_api_spark.config import BM25Params
from nextsearch_api_spark.functions.docstore import HIT_FIELDS
from nextsearch_api_spark.operators.query import (
    IndexReader, TermDfs, clamp_k, occurrence_weights, parse_query,
    rank_on_driver, weigh,
)


class WandEngine(IndexReader):
    """Driver-side TAAT serving over the generation its IndexPaths
    snapshot names when the engine opens, until it is dropped."""

    def __init__(self, index_root: str, params: BM25Params | None = None):
        import glob

        import pyarrow.parquet as pq

        super().__init__(None, index_root)
        self.params = params or BM25Params()
        # the postings footers are read now, not by the first search
        self._by_term(self.paths.postings)

        # lexicon: small (vocab-sized) → term → df dict in RAM, read file by
        # file: half the CPU of a pyarrow.dataset scan over its files
        self._df: dict[str, int] = {}
        for f in sorted(glob.glob(os.path.join(self.paths.lexicon,
                                               "*.parquet"))):
            lex = pq.ParquetFile(f).read(columns=["term", "df"],
                                         use_threads=False)
            self._df.update(zip(lex.column("term").to_pylist(),
                                lex.column("df").to_pylist()))

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
        place from the doc store (functions/docstore.py): ``DocStore.rows``
        resolves each id to its twin row by offset, and the hit's fields
        are read from that row's memory-mapped buffers — O(k), no Arrow
        kernel call and no Parquet read, the reference's ``docs[docId]``
        (api_engine.cpp:508-532). Left-join semantics: a hit without a docs
        row keeps only its rank/score fields."""
        if not results:
            return
        meta = self.store.hits([r["doc_id"] for r in results])
        for i, r in enumerate(results):
            if meta["uid"][i] is not None:
                r.update({f: meta[f][i] for f in HIT_FIELDS})

    # ------------------------------------------------------------- scoring --

    def term_dfs(self, terms: Sequence[str]) -> TermDfs:
        """{term: df} of the ``terms`` in the lexicon, from the in-RAM
        lexicon dict (no chunk counts: serving plans no chunk prune)."""
        return TermDfs({t: self._df[t] for t in terms if t in self._df})

    def term_chunks(self, terms: Sequence[str]) -> pa.Table:
        """Chunk rows (term, doc_lo, count, tf_off, blob) of ``terms``: ONE
        footer-indexed read for the terms not in the bounded LRU of
        previously fetched terms, merged with the cached ones."""
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
            t = super().term_chunks(missing)
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
        return pa.concat_tables([out[t] for t in terms if t in out])

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
            qterms = self.expander.expand(terms)
        else:
            # raw mode: weight = occurrence count
            qterms = occurrence_weights(terms)

        found, ids, scores = 0, [], []
        _, weighted = weigh(self, [(0, k, qterms)], self.params)
        ranked = rank_on_driver(self, weighted, self.params) if weighted else []
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

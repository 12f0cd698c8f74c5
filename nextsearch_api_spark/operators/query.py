"""Batch BM25 query execution over the built index.

Reproduces the reference's search pipeline (src/api_engine.cpp:369-541) as
one document-partitioned Spark stage per query batch and a driver merge:

  query strings → tokenize + len/stopword filter (repeated terms keep
  repeating — the loop at api_engine.cpp:449 scores a duplicated term twice)
  → lexicon df lookup on the driver (the ``seg.lex.find`` hash lookup,
  :453-455; absent terms drop out) → postings scan pruned by term predicate
  (Parquet min/max on the term-sorted files — the offset-seek analog,
  :463-475) and by the driver-planned block-max chunk prune → each
  compressed chunk row tagged with every contiguous doc-id range it
  overlaps → ONE exchange of chunk rows by range → ONE Arrow stage that, per
  range, runs the serving tier's read-and-rank path
  (functions/scoring.py:rank_chunk_rows — decode each term's chunks, keep
  the range's postings, float32 impact, :478-479; Σ widf·impact per doc,
  :480; bounded top-k by (score desc, doc_id asc), :427-504) for every
  query of the batch → one ``toArrow()`` of the ≤ (k + 1)·ranges rows per
  query → a NumPy merge on the driver (``found`` = Σ per-range counts, the
  same top-k rule) → a job-free Arrow LocalRelation.

The ranges partition the doc-id space, so each doc is scored whole in one
range and the per-range answers merge exactly; batches small enough for one
process are answered on the driver by the same scoring helper and handed
back the same way.

Both tiers share one reader (IndexReader; the serving engine,
operators/wand.py:WandEngine, subclasses it), one weigher (weigh) and one
driver-side rank call (rank_on_driver). Every Python task pays a fixed start-up cost (~0.25 CPU-s
measured), so the plan keeps a single Python stage, and every Spark job
pays a fixed scheduling cost, so the few merge rows never run one.

Precision: 'f32' (default) reproduces the reference float32 arithmetic
(idf and impact in float32, summation in float64 — SURVEY.md §7.3
canonicalization); 'f64' computes everything in doubles, bit-compatible with
SQL oracles.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass
from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nextsearch_api_spark.config import (
    BM25Params, IndexPaths, SEARCH_K_MAX, SEARCH_K_MIN,
)
from nextsearch_api_spark.functions.docstore import HIT_FIELDS, DocStore
from nextsearch_api_spark.functions.rowgroups import RowGroupIndex
from nextsearch_api_spark.functions.scoring import (
    bm25_idf, rank_chunk_rows, topk_tiebroken,
)
from nextsearch_api_spark.functions.text import kept_tokens_py

_RESULT_SCHEMA = [("qid", "long"), ("rank", "int"), ("doc_id", "long"),
                  ("score", "double"), ("found", "long")]


def parse_query(q: str) -> list[str]:
    """Reference query parsing: tokenize, keep len≥2 non-stopwords, keep
    duplicates (api_engine.cpp:388-397)."""
    return kept_tokens_py(q)


def occurrence_weights(terms: Sequence[str]) -> "list[tuple[str, int]]":
    """Raw-mode query weights: each distinct term with its occurrence
    count, in first-occurrence order, so a repeated term accumulates
    repeatedly like the reference's per-occurrence loop
    (api_engine.cpp:449)."""
    return list(Counter(terms).items())


def clamp_k(k: int) -> int:
    return max(SEARCH_K_MIN, min(int(k), SEARCH_K_MAX))


@dataclass
class QuerySpec:
    qid: int
    q: str
    k: int = 10


class TermDfs(dict):
    """{term: df} for one batch's terms, from IndexReader.term_dfs.
    ``n_chunks`` ({term: chunk count}) rides along from the same lexicon
    read, for that batch's chunk prefilter and range-cut planner; nothing
    about the terms is kept on the reader."""

    def __init__(self, dfs=(), n_chunks: "dict[str, int] | None" = None):
        super().__init__(dfs)
        self.n_chunks = dict(n_chunks or {})


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


class IndexReader:
    """One generation of a built index, opened once: stats, the mapped doc
    store and, on first use, footer indexes over the term-sorted tables.
    ``spark`` may be None for a reader that never asks for ``postings()``
    or ``docs()`` (the serving engine).

    DataFrame handles are memoized: ``spark.read.parquet`` re-lists the
    directory and re-reads footers on every call (~0.15 s against a 64-file
    postings dir), which was pure per-query overhead in the r2 bench. A
    reader is pinned to the generation its IndexPaths snapshot names: stats,
    tables, store and footer indexes all come from it, so it answers from
    that generation until it is dropped; create a new IndexReader to serve
    a later compaction's generation."""

    def __init__(self, spark: "SparkSession | None", root: str):
        self.spark = spark
        self.paths = IndexPaths(root)
        self.stats = read_index_stats(self.paths.stats)
        self.store = DocStore(self.paths.docs)
        self._dfs: dict[str, DataFrame] = {}
        # footer indexes for driver-side keyed reads, by table path
        self._indexes: dict[str, RowGroupIndex] = {}

    @property
    def N(self) -> int:
        return int(self.stats["N"])

    @property
    def avgdl(self) -> float:
        return float(self.stats["avgdl"])

    def _table(self, path: str) -> DataFrame:
        df = self._dfs.get(path)
        if df is None:
            df = self._dfs[path] = self.spark.read.parquet(path)
        return df

    def postings(self) -> DataFrame:
        return self._table(self.paths.postings)

    def docs(self) -> DataFrame:
        return self._table(self.paths.docs)

    def _by_term(self, path: str) -> RowGroupIndex:
        """Footer index over a term-sorted table (postings, lexicon), opened
        on first use: keyed reads touch only the row groups whose term range
        holds a requested term."""
        idx = self._indexes.get(path)
        if idx is None:
            idx = self._indexes[path] = RowGroupIndex(path, "term")
        return idx

    def term_chunks(self, terms: Sequence[str]) -> pa.Table:
        """Chunk rows (term, doc_lo, count, tf_off, blob) of ``terms``: ONE
        read through the postings footer index, of only the row groups whose
        term range holds one of them. Nothing is cached."""
        return self._by_term(self.paths.postings).read(
            list(terms), ["doc_lo", "count", "tf_off", "blob"])

    def chunk_meta(self, terms: Sequence[str]) -> "dict[str, list[tuple[int, int, float]]]":
        """Per-term chunk metadata → {term: [(doc_lo, doc_hi, max_impact)]}.

        Driver-side read of the (term, doc_lo)-sorted postings through the
        postings footer index — only the row groups whose term range holds a
        requested term — column-pruned to four scalar columns, never the
        blobs. Volume is df/chunk_size rows per term, a small fraction of
        the decode volume it lets the batch tier skip. Nothing is cached:
        each call re-reads the bounded slice."""
        t = self._by_term(self.paths.postings).read(
            terms, ["doc_lo", "doc_hi", "max_impact"])
        out: dict[str, list[tuple[int, int, float]]] = {}
        for term, lo, hi, mi in zip(
                *(t.column(c).to_pylist()
                  for c in ("term", "doc_lo", "doc_hi", "max_impact"))):
            out.setdefault(term, []).append((int(lo), int(hi), float(mi)))
        return out

    def term_dfs(self, terms: Sequence[str]) -> TermDfs:
        """df lookup for a bounded set of query terms → {term: df}, a
        TermDfs whose ``n_chunks`` holds the same terms' chunk counts.

        Driver-side read of the term-sorted lexicon through its footer index
        (only the row groups whose term range holds a requested term) — a
        bounded O(|terms|) lookup, without paying a Spark job's scheduling
        latency per query (~0.3 s)."""
        terms = list(terms)
        if not terms:
            return TermDfs()
        t = self._by_term(self.paths.lexicon).read(terms, ["df", "n_chunks"])
        rows = zip(*(t.column(c).to_pylist()
                     for c in ("term", "df", "n_chunks")))
        dfs: dict[str, int] = {}
        n_chunks: dict[str, int] = {}
        for term, df, nc in rows:
            dfs[term], n_chunks[term] = int(df), int(nc)
        return TermDfs(dfs, n_chunks)


# relative slack on the prune threshold: covers f32-stored vs f64-recomputed
# impact drift (~1e-7 relative) with two orders of margin, so a 1-ulp rounding
# difference never prunes a true top-k doc
_CHUNK_PRUNE_SLACK = 1.0 - 1e-5

# driver-side small-query budget: largest Σ_t df (total postings across the
# query batch's present terms — known EXACTLY from the lexicon before any
# data is read) for which the batch tier answers from a bounded pyarrow
# read + NumPy TAAT on the driver instead of a distributed plan. 8M
# postings ≈ tens of MB of footer-indexed blob reads and ~3 s of
# single-threaded decode+score (8 terms × 1M postings, 16 queries, 4-vCPU
# VM) — still under the distributed plan's multi-job floor plus its own
# Python-stage decode of the same volume —
# while a hot term on a 100 TB corpus blows the budget immediately and
# keeps the distributed plan. It is also the most postings one range group
# of that plan scores in one Python process (_doc_range_cuts). The same
# volume-bounded driver-lookup pattern as term_dfs / chunk_meta; nothing is
# memoized — every call re-reads the parquet postings.
SMALL_QUERY_MAX_POSTINGS = 8_000_000


def _plan_chunk_prune(
    reader: IndexReader, per_qid_terms: dict[int, list[str]],
    per_qid_k: dict[int, int], df_map: dict[str, int],
    params: BM25Params,
) -> tuple[dict, dict, dict]:
    """Driver-side chunk-level top-k prefilter plan (VERDICT r3 next #4).

    → (whitelist: {term: [kept doc_lo...]},        # for the range cuts
       thresholds: {term: theta},                  # kept ⇔ max_impact ≥ theta
       found_overrides: {qid: found})              # exact found for dropped

    Sound EXACT pruning from chunk metadata alone: every postings writer
    stores each chunk's ``max_impact`` at the generation's own stats avgdl
    (operators/build.py:write_postings_sorted), so it is an *attained*
    query-time impact whenever the query's k1/b match the stored ones —
    the one gate.

    Only terms whose every query is a single-present-term query prune:
    chunks of one term cover disjoint doc ranges, so the k highest chunk
    maxes identify k distinct docs scoring ≥ the k-th max; chunks strictly
    below that threshold are DROPPED from the scan and ``found`` comes
    exactly from the lexicon df. A term that some multi-term query uses
    keeps every chunk: that query's ``found`` counts the distinct docs of
    all its terms, so no chunk of it may be dropped."""
    stats = reader.stats
    if float(stats.get("k1", -1.0)) != float(params.k1) \
            or float(stats.get("b", -1.0)) != float(params.b):
        return {}, {}, {}

    single_users: dict[str, list[tuple[int, int]]] = {}
    multi_terms: set[str] = set()
    for qid, terms in per_qid_terms.items():
        if len(terms) == 1:
            single_users.setdefault(terms[0], []).append((qid, per_qid_k[qid]))
        else:
            multi_terms.update(terms)
    pure_single = {t: u for t, u in single_users.items()
                   if t not in multi_terms}

    # a term with at most k chunks cannot prune; an unknown count (a plain
    # dict, not a TermDfs) fetches the metadata conservatively
    n_chunks = getattr(df_map, "n_chunks", {})
    cand = [
        t for t in pure_single
        if n_chunks.get(t, np.inf) > max(k for _, k in pure_single[t])
    ]
    whitelist: dict[str, list[int]] = {}
    thresholds: dict[str, float] = {}
    overrides: dict[int, int] = {}
    meta = reader.chunk_meta(cand) if cand else {}
    for t in cand:
        chunks = meta[t]
        # the largest k among this term's queries bounds the prune for all
        k_req = max(k for _, k in pure_single[t])
        if len(chunks) <= k_req:
            continue
        maxes = sorted((c[2] for c in chunks), reverse=True)
        theta = maxes[k_req - 1] * _CHUNK_PRUNE_SLACK
        kept = [c[0] for c in chunks if c[2] >= theta]
        if len(kept) == len(chunks):
            continue
        whitelist[t] = sorted(kept)
        thresholds[t] = theta
        for qid, _ in pure_single[t]:
            overrides[qid] = int(df_map[t])
    return whitelist, thresholds, overrides


def rank_on_driver(reader: IndexReader, weighted: "list[tuple]",
                   params: BM25Params) -> "list[tuple]":
    """The one driver-side rank call: weigh's queries → [(qid, k, found,
    top doc ids, top scores)], by rank_chunk_rows over the whole doc-id
    space — the helper each range group of the distributed plan runs too,
    so every tier returns identical rows. Chunk rows come from
    ``reader.term_chunks``: one footer-indexed read for a batch reader,
    the blob LRU for the serving engine."""
    present = sorted({t for _, _, tws in weighted for t, _ in tws})
    return rank_chunk_rows(reader.term_chunks(present), weighted,
                           reader.avgdl, params, reader.store)


def _doc_range_cuts(reader: IndexReader, present: "list[str]",
                    df_map: dict[str, int],
                    whitelist: "dict[str, list[int]]") -> list[int]:
    """Ascending interior cut points c_1 < … < c_{n-1}: range r of the
    distributed plan is [c_r, c_{r+1}) of the doc-id space (c_0 = −∞,
    c_n = +∞), so every doc's whole score is computed in exactly one range.

    Count: n = ⌈kept postings / SMALL_QUERY_MAX_POSTINGS⌉, the most postings
    one Python process scores at once (the driver path's budget). A batch
    whose Σdf is within that budget is one range and reads nothing.

    Position: weighted quantiles of where the kept postings start, so
    ranges hold equal shares of them whatever the id distribution — dense
    build ids or streamed ids hashed into [2^62, 2^62 + 2^60). The input
    is bounded by the footer, never by df:
    - a whitelisted term contributes its kept chunks' ``doc_lo`` (the
      whitelist itself), each weighted by the term's mean postings per
      chunk (lexicon df / n_chunks);
    - a postings row group holding only one present term and at most
      SMALL_QUERY_MAX_POSTINGS postings is one point at its footer
      ``doc_lo`` minimum, weighted by its rows × the mean — no read;
    - the other row groups of the present terms (on the sorted layout, at
      most the first and last of each term's run) are read for their
      chunks' ``doc_lo`` and ``count``.
    A range then holds about kept/n postings, give or take one row group
    per term at each boundary. Nothing is cached."""
    if sum(df_map[t] for t in present) <= SMALL_QUERY_MAX_POSTINGS:
        return []
    n_chunks = getattr(df_map, "n_chunks", {})
    per_chunk = {t: df_map[t] / max(1, n_chunks.get(t) or 1)
                 for t in present}
    los: list[int] = []
    wts: list[float] = []
    for t, kept in whitelist.items():
        los.extend(kept)
        wts.extend([per_chunk[t]] * len(kept))
    rest = [t for t in present if t not in whitelist]
    if rest:
        idx = reader._by_term(reader.paths.postings)
        groups = idx.row_groups(rest)
        to_read = []
        for g, (t_lo, t_hi, lo, _hi, rows) in zip(
                groups, idx.stats(groups, "doc_lo")):
            w = rows * per_chunk.get(t_lo, 0.0)
            if t_lo == t_hi and t_lo in per_chunk and lo is not None \
                    and w <= SMALL_QUERY_MAX_POSTINGS:
                los.append(int(lo))
                wts.append(w)
            else:
                to_read.append(g)
        if to_read:
            edge = idx.read(rest, ["doc_lo", "count"], groups=to_read)
            los.extend(edge.column("doc_lo").to_pylist())
            wts.extend(edge.column("count").to_pylist())
    weights = np.asarray(wts, dtype=np.float64)
    n = int(np.ceil(weights.sum() / SMALL_QUERY_MAX_POSTINGS))
    if n <= 1:
        return []
    order = np.argsort(np.asarray(los, dtype=np.int64), kind="stable")
    lo_sorted = np.asarray(los, dtype=np.int64)[order]
    weights = weights[order]
    before = np.cumsum(weights) - weights  # postings in earlier points
    targets = np.arange(1, n) * (weights.sum() / n)
    at = np.searchsorted(before, targets, side="left")
    cuts = np.unique(lo_sorted[at[at < lo_sorted.size]])
    return [int(c) for c in cuts[cuts > lo_sorted[0]]]


def _range_rank_udf(cuts: "list[int]", queries: "list[tuple]",
                    avgdl: float, params: BM25Params, docs_path: str):
    """groupBy(doc_range).applyInArrow body: one range's chunk rows → for
    each query, its ≤k best docs of the range (cnt null) plus one marker
    row (doc_id null) whose ``cnt`` is the query's matched docs in the
    range. The queries' weights and k ride in this closure; doc lengths
    come from the doc store at ``docs_path`` (the index's local docs
    component), mapped once per task on its first group."""
    schema = pa.schema([("qid", pa.int64()), ("doc_id", pa.int64()),
                        ("score", pa.float64()), ("cnt", pa.int64())])

    stores: list[DocStore] = []

    # unannotated: applyInArrow infers the UDF kind from complete type
    # hints only, and takes a bare (key, table) function as table → table
    def rank_range(key, chunks):
        r = key[0].as_py()
        lo = cuts[r - 1] if r > 0 else None
        hi = cuts[r] if r < len(cuts) else None
        if not stores:
            stores.append(DocStore(docs_path))
        cols: dict[str, list] = {name: [] for name in schema.names}
        for qid, _k, found, ids, scores in rank_chunk_rows(
                chunks, queries, avgdl, params, stores[0], lo, hi):
            n = len(ids)
            cols["qid"] += [qid] * (n + 1)
            cols["doc_id"] += ids.tolist() + [None]
            cols["score"] += scores.tolist() + [None]
            cols["cnt"] += [None] * n + [found]
        return pa.Table.from_pydict(cols, schema=schema)

    return rank_range


def weigh(reader: IndexReader, queries: "Sequence[tuple]",
          params: BM25Params) -> "tuple[TermDfs, list[tuple]]":
    """The one query weigher: [(qid, k, [(term, weight)])] → (df map of
    the present terms, [(qid, k, [(term, weight·idf)])] for the queries
    with a present term, in input order). df comes from
    ``reader.term_dfs``, so absent terms drop out (the reference's
    ``seg.lex.find``, api_engine.cpp:453-455); terms keep their order,
    which the kernel sums in."""
    df_map = reader.term_dfs(
        sorted({t for _, _, tws in queries for t, _ in tws}))
    present = sorted(df_map)
    idf = dict(zip(present, bm25_idf(
        reader.N, np.array([df_map[t] for t in present], dtype=np.int64),
        params.precision).tolist()))
    weighted: list[tuple] = []
    for qid, k, tws in queries:
        tws = [(t, float(w) * idf[t]) for t, w in tws if t in idf]
        if tws:
            weighted.append((qid, k, tws))
    return df_map, weighted


def _parse_batch(reader: IndexReader, queries: Sequence[QuerySpec],
                 params: BM25Params) -> "tuple[TermDfs, list[tuple]]":
    """Driver-side parsing of a batch → weigh's (df map, weighted queries)
    in qid order, with occurrence_weights; a qid given by several specs
    takes the terms of all of them and the first spec's k."""
    k_of: dict[int, int] = {}
    terms_of: dict[int, list[tuple[str, int]]] = {}
    for qs in queries:
        k_of.setdefault(qs.qid, clamp_k(qs.k))
        terms_of.setdefault(qs.qid, []).extend(
            occurrence_weights(parse_query(qs.q)))
    return weigh(reader, [(qid, k_of[qid], tws)
                          for qid, tws in sorted(terms_of.items())], params)


def _range_stage(reader: IndexReader, df_map: TermDfs, ranked: "list[tuple]",
                 params: BM25Params) -> "tuple[DataFrame, dict[int, int]]":
    """Steps 1-4 of batch_search → (the per-range Arrow stage's frame,
    found_overrides of the chunk prune)."""
    present = sorted(df_map)
    # chunk-level top-k prefilter (driver-side plan over chunk metadata)
    whitelist, thresholds, found_overrides = _plan_chunk_prune(
        reader, {qid: list(dict.fromkeys(t for t, _ in tws))
                 for qid, _k, tws in ranked},
        {qid: k for qid, k, _ in ranked}, df_map, params)

    # postings scan pruned to query terms (pushed filter → row-group pruning);
    # a pruned term keeps the chunks whose max_impact reaches its threshold
    # — the planner's kept set — through ONE literal map of one double per
    # term: constant expression depth for any batch (a per-term OR chain
    # overflowed the JVM stack past ~1000 terms); an unpruned term looks up
    # null and keeps every chunk
    chunks = reader.postings().where(F.col("term").isin(present))
    if thresholds:
        theta = F.create_map(*[
            x for t, th in sorted(thresholds.items())
            for x in (F.lit(t), F.lit(float(th)))])
        chunks = chunks.where(F.coalesce(
            F.col("max_impact") >= theta[F.col("term")], F.lit(True)))

    # doc-id range of a chunk bound = number of cuts at or below it
    cuts = _doc_range_cuts(reader, present, df_map, whitelist)
    cut_arr = (F.array(*[F.lit(c).cast("long") for c in cuts]) if cuts
               else F.array().cast("array<bigint>"))

    def range_of(col: str):
        return F.size(F.filter(cut_arr, lambda c: c <= F.col(col)))

    stage = (
        chunks.select(F.explode(F.sequence(range_of("doc_lo"),
                                           range_of("doc_hi")))
                      .alias("doc_range"),
                      "term", "doc_lo", "count", "tf_off", "blob")
        .groupBy("doc_range")
        .applyInArrow(_range_rank_udf(cuts, ranked, reader.avgdl, params,
                                      reader.paths.docs),
                      "qid long, doc_id long, score double, cnt long")
    )
    return stage, found_overrides


def _merge_ranges(per_range: pa.Table, ranked: "list[tuple]",
                  found_overrides: "dict[int, int]") -> "list[tuple]":
    """The range stage's gathered rows → [(qid, k, found, top doc ids,
    top scores)] in qid order: ``found`` is the Σ of the query's marker
    rows (or the prune's exact override), the top k by (score desc,
    doc_id asc) through scoring.topk_tiebroken. Each doc was scored in
    exactly one range, so a query's candidates are distinct docs."""
    qid = per_range.column("qid").to_numpy()
    marker = per_range.column("doc_id").is_null().to_numpy(
        zero_copy_only=False)
    mq, inv = np.unique(qid[marker], return_inverse=True)
    found = np.zeros(mq.size, dtype=np.int64)
    np.add.at(found, inv, per_range.filter(marker).column("cnt").to_numpy())
    found_of = dict(zip(mq.tolist(), found.tolist()))

    hits = per_range.filter(~marker)
    hq = qid[~marker]
    doc = hits.column("doc_id").to_numpy()
    score = hits.column("score").to_numpy()
    order = np.lexsort((doc, hq))  # per query, doc ids ascending
    hq, doc, score = hq[order], doc[order], score[order]
    qids, starts = np.unique(hq, return_index=True)
    ends = np.append(starts[1:], hq.size)
    k_of = {q: k for q, k, _ in ranked}
    out: list[tuple] = []
    for q, lo, hi in zip(qids.tolist(), starts, ends):
        top = topk_tiebroken(score[lo:hi], doc[lo:hi], min(k_of[q], hi - lo))
        out.append((q, k_of[q], found_overrides.get(q, found_of[q]),
                    doc[lo:hi][top], score[lo:hi][top]))
    return out


def _result_table(ranked_rows: "list[tuple]") -> pa.Table:
    """[(qid, k, found, top doc ids, top scores)] → the result rows
    (qid, rank, doc_id, score, found) as one Arrow table."""
    sizes = np.array([len(r[3]) for r in ranked_rows], dtype=np.int64)
    starts = np.repeat(np.cumsum(sizes) - sizes, sizes)

    def per_query(i: int, dtype) -> np.ndarray:
        return np.repeat(np.array([r[i] for r in ranked_rows], dtype=dtype),
                         sizes)

    def concat(i: int, dtype) -> np.ndarray:
        return np.concatenate([np.asarray(r[i], dtype=dtype)
                               for r in ranked_rows]
                              or [np.empty(0, dtype=dtype)])

    cols = [per_query(0, np.int64),
            (np.arange(sizes.sum()) - starts + 1).astype(np.int32),
            concat(3, np.int64), concat(4, np.float64),
            per_query(2, np.int64)]
    return pa.table(dict(zip((name for name, _ in _RESULT_SCHEMA), cols)))


def batch_search(
    reader: IndexReader,
    queries: Sequence[QuerySpec],
    params: BM25Params | None = None,
    hydrate: bool = False,
    small_query_max_postings: "int | None" = None,
) -> DataFrame:
    """Rank a batch of queries; the Spark work runs when this is called.

    Returns (qid, rank, doc_id, score, found) as a job-free Arrow
    LocalRelation — found = total matched docs for the query (reference's
    ``total_found``, api_engine.cpp:495; with one logical segment it equals
    distinct matched docs). A qid given by several specs ranks the union of
    their terms with the first spec's k.

    A batch whose Σdf is at most ``small_query_max_postings`` (default
    SMALL_QUERY_MAX_POSTINGS; 0 forces the distributed plan) is answered on
    the driver by rank_on_driver. Otherwise the plan is:

    1. scan the postings chunk rows of the present terms (pushed
       ``term IN`` filter), pruned by the driver-side chunk prefilter
       (_plan_chunk_prune): on a drift-free index, a term queried only by
       single-term queries scans just the chunks that can hold a top-k
       doc, with rank- and found-identical results;
    2. tag each chunk row with every doc-id range (_doc_range_cuts) its
       [doc_lo, doc_hi] overlaps — ``explode(sequence(first, last))``;
    3. exchange the still-compressed chunk rows by range;
    4. one ``groupBy(doc_range).applyInArrow`` stage: per range, decode each
       term's chunks, keep the range's postings and rank every query of the
       batch with scoring.rank_chunk_rows — ≤k rows plus one ``found``
       marker per (range, query);
    5. one ``toArrow()`` gathers those rows, and the driver merges them in
       NumPy (_merge_ranges): ``found`` = Σ markers, top k by (score desc,
       doc_id asc) through scoring.topk_tiebroken.

    Scale safety: the ranges partition the doc-id space, so each doc's full
    score is computed in exactly one group — per-range found counts add up
    exactly and the merge of per-range top-k lists is exact. A group holds
    about SMALL_QUERY_MAX_POSTINGS postings at most, and the driver plans the ranges from postings footers and whitelists, never
    from a per-chunk read. The driver holds ≤ (k + 1) rows per query per
    range, with ⌈Σdf / SMALL_QUERY_MAX_POSTINGS⌉ ranges, never the matched
    set. The plan has one Python stage, and the exchange carries
    compressed chunk rows, never decoded postings.

    ``reader`` must hold a Spark session: a reader without one (the
    serving engine, operators/wand.py:WandEngine) raises TypeError before
    any work."""
    if reader.spark is None:
        raise TypeError(
            f"batch_search needs an IndexReader with a Spark session; this "
            f"{type(reader).__name__} has none (serve single queries with "
            "WandEngine.search)")
    params = params or BM25Params()
    df_map, ranked = _parse_batch(reader, queries, params)

    # volume-bounded driver fast path (r7): Σ df across the batch's present
    # terms is known exactly before any data is read; under the budget the
    # whole batch is answered by one footer-indexed postings read + the same
    # scoring helper — identical rows, no Spark job.
    budget = (SMALL_QUERY_MAX_POSTINGS if small_query_max_postings is None
              else small_query_max_postings)
    if not ranked:
        top = []
    elif budget > 0 and sum(df_map.values()) <= budget:
        top = rank_on_driver(reader, ranked, params)
    else:
        stage, found_overrides = _range_stage(reader, df_map, ranked, params)
        top = _merge_ranges(stage.toArrow(), ranked, found_overrides)
    table = _result_table(top)
    if hydrate:
        return _hydrate_topk(reader, table)
    return reader.spark.createDataFrame(table)


def _hydrate_topk(reader: IndexReader, table: pa.Table) -> DataFrame:
    """Attach doc metadata to a ≤Σk-row result table, on the driver.

    The hits come from the docs component's doc store
    (functions/docstore.py) — the same memory-mapped row read the serving
    tier hydrates with — and join as five string columns of the Arrow
    table, so the answer stays a job-free LocalRelation. Left-join
    semantics: a hit without a docs row keeps null metadata."""
    meta = reader.store.hits(table.column("doc_id").to_numpy())
    for f in HIT_FIELDS:
        table = table.append_column(f, pa.array(meta[f], type=pa.string()))
    return reader.spark.createDataFrame(table)

"""Batch BM25 query execution over the built index.

Reproduces the reference's search pipeline (src/api_engine.cpp:369-541) as
one document-partitioned Spark plan per query batch:

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
  query of the batch → per-query ``found`` sum and row_number windows over
  ≤ (k + 1)·ranges rows.

The ranges partition the doc-id space, so each doc is scored whole in one
range and the per-range answers merge exactly; batches small enough for one
process are answered on the driver by the same scoring helper. Every Python
task pays a fixed start-up cost (~0.25 CPU-s measured), so the plan keeps a
single Python stage.

Precision: 'f32' (default) reproduces the reference float32 arithmetic
(idf and impact in float32, summation in float64 — SURVEY.md §7.3
canonicalization); 'f64' computes everything in doubles, bit-compatible with
SQL oracles.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nextsearch_api_spark.config import (
    BM25Params, IndexPaths, MIN_TOKEN_LEN, SEARCH_K_MAX, SEARCH_K_MIN,
)
from nextsearch_api_spark.functions.scoring import bm25_idf, rank_chunk_rows
from nextsearch_api_spark.functions.sqlvalues import values_frame
from nextsearch_api_spark.functions.text import STOPWORD_SET, tokenize_py

_RESULT_SCHEMA = [("qid", "long"), ("rank", "int"), ("doc_id", "long"),
                  ("score", "double"), ("found", "long")]


def parse_query(q: str) -> list[str]:
    """Reference query parsing: tokenize, keep len≥2 non-stopwords, keep
    duplicates (api_engine.cpp:388-397)."""
    return [t for t in tokenize_py(q)
            if len(t) >= MIN_TOKEN_LEN and t not in STOPWORD_SET]


def clamp_k(k: int) -> int:
    return max(SEARCH_K_MIN, min(int(k), SEARCH_K_MAX))


@dataclass
class QuerySpec:
    qid: int
    q: str
    k: int = 10


class IndexReader:
    """Lazy handles on a built index's tables + stats.

    DataFrame handles are memoized: ``spark.read.parquet`` re-lists the
    directory and re-reads footers on every call (~0.15 s against a 64-file
    postings dir), which was pure per-query overhead in the r2 bench. A
    reader is pinned to the generation it opened (like any snapshot reader);
    create a new IndexReader after compaction/reload."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.paths = IndexPaths(root)
        with open(self.paths.stats) as f:
            self.stats = json.load(f)
        from nextsearch_api_spark.operators.wand import check_index_format
        check_index_format(self.stats, self.paths.stats)
        self._dfs: dict[str, DataFrame] = {}
        # footer indexes for driver-side keyed reads, by table path
        self._indexes: dict[str, "RowGroupIndex"] = {}  # noqa: F821
        self._n_chunks: dict[str, int] = {}  # term → chunk count (lexicon)

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

    def lexicon(self) -> DataFrame:
        return self._table(self.paths.lexicon)

    def docs(self) -> DataFrame:
        return self._table(self.paths.docs)

    def suggest_table(self) -> DataFrame:
        return self._table(self.paths.suggest)

    def _by_term(self, path: str) -> "RowGroupIndex":  # noqa: F821
        """Footer index over a term-sorted table (postings, lexicon), opened
        on first use: keyed reads touch only the row groups whose term range
        holds a requested term."""
        idx = self._indexes.get(path)
        if idx is None:
            from nextsearch_api_spark.functions.rowgroups import RowGroupIndex
            idx = self._indexes[path] = RowGroupIndex(path, "term")
        return idx

    def chunk_meta(self, terms: Sequence[str]) -> "dict[str, list[tuple[int, int, float]]]":
        """Per-term chunk metadata → {term: [(doc_lo, doc_hi, max_impact)]}.

        Driver-side read of the (term, doc_lo)-sorted postings through the
        postings footer index — only the row groups whose term range holds a
        requested term — column-pruned to four scalar columns, never the
        blobs. Volume is df/chunk_size rows per term, a small fraction of
        the decode volume it lets the batch tier skip. Nothing is cached:
        each call re-reads the bounded slice. Terms it cannot read are left
        out (the prefilter then keeps all their chunks)."""
        try:
            t = self._by_term(self.paths.postings).read(
                terms, ["doc_lo", "doc_hi", "max_impact"])
        except Exception:
            return {}
        out: dict[str, list[tuple[int, int, float]]] = {}
        for term, lo, hi, mi in zip(
                *(t.column(c).to_pylist()
                  for c in ("term", "doc_lo", "doc_hi", "max_impact"))):
            out.setdefault(term, []).append((int(lo), int(hi), float(mi)))
        return out

    def term_dfs(self, terms: Sequence[str]) -> dict[str, int]:
        """df lookup for a bounded set of query terms → {term: df}.

        Driver-side read of the term-sorted lexicon through its footer index
        (only the row groups whose term range holds a requested term) — a
        bounded O(|terms|) lookup, without paying a Spark job's scheduling
        latency per query (~0.3 s). Falls back to a Spark collect for
        filesystems pyarrow can't open."""
        terms = list(terms)
        if not terms:
            return {}
        try:
            t = self._by_term(self.paths.lexicon).read(
                terms, ["df", "n_chunks"])
            # n_chunks rides along for free: the chunk prefilter uses it to
            # skip the chunk-metadata read for terms it can't prune anyway
            for term, nc in zip(t.column("term").to_pylist(),
                                t.column("n_chunks").to_pylist()):
                self._n_chunks[term] = int(nc)
            return dict(zip(t.column("term").to_pylist(),
                            (int(x) for x in t.column("df").to_pylist())))
        except Exception:
            rows = (
                self.lexicon()
                .where(F.col("term").isin(terms))
                .select("term", "df", "n_chunks")
                .collect()
            )
            for r in rows:
                self._n_chunks[r["term"]] = int(r["n_chunks"])
            return {r["term"]: int(r["df"]) for r in rows}


# relative slack on the prune threshold: covers f32-stored vs f64-recomputed
# impact drift (~1e-7 relative) with two orders of margin, so a 1-ulp rounding
# difference never prunes a true top-k doc
_CHUNK_PRUNE_SLACK = 1.0 - 1e-5

# hydrate pushdown budget: largest Σk for which the matched doc_ids are
# collected and pushed as an isin literal into the docs scan (above it the
# literal filter itself becomes the bottleneck; AQE handles the join then)
HYDRATE_PUSHDOWN_MAX_IDS = 100_000


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
# volume-bounded driver-lookup pattern as term_dfs / chunk_meta /
# HYDRATE_PUSHDOWN_MAX_IDS; nothing is memoized — every call re-reads the
# parquet postings.
SMALL_QUERY_MAX_POSTINGS = 8_000_000


def _plan_chunk_prune(
    reader: IndexReader, per_qid_terms: dict[int, list[str]],
    per_qid_k: dict[int, int], df_map: dict[str, int],
    params: BM25Params,
) -> tuple[dict, dict]:
    """Driver-side chunk-level top-k prefilter plan (VERDICT r3 next #4).

    → (whitelist: {term: [kept doc_lo...]},        # drop other chunks
       found_overrides: {qid: found})              # exact found for dropped

    Sound EXACT pruning from chunk metadata alone, gated on the stored
    per-chunk ``max_impact`` being an *attained* query-time impact
    (stats.impact_avgdl == stats.avgdl and k1/b match — the marker
    incremental ingest drops when generations mix avgdls).

    Only terms whose every query is a single-present-term query prune:
    chunks of one term cover disjoint doc ranges, so the k highest chunk
    maxes identify k distinct docs scoring ≥ the k-th max; chunks strictly
    below that threshold are DROPPED from the scan and ``found`` comes
    exactly from the lexicon df. A term that some multi-term query uses
    keeps every chunk: that query's ``found`` counts the distinct docs of
    all its terms, so no chunk of it may be dropped."""
    stats = reader.stats
    if stats.get("impact_avgdl") is None \
            or stats.get("impact_avgdl") != stats.get("avgdl"):
        return {}, {}
    if float(stats.get("k1", -1.0)) != float(params.k1) \
            or float(stats.get("b", -1.0)) != float(params.b):
        return {}, {}

    single_users: dict[str, list[tuple[int, int]]] = {}
    multi_terms: set[str] = set()
    for qid, terms in per_qid_terms.items():
        if len(terms) == 1:
            single_users.setdefault(terms[0], []).append((qid, per_qid_k[qid]))
        else:
            multi_terms.update(terms)
    pure_single = {t: u for t, u in single_users.items()
                   if t not in multi_terms}

    cand = [
        t for t in pure_single
        # unknown count (term_dfs not called for t) → fetch conservatively
        if (reader._n_chunks.get(t) is None
            or reader._n_chunks[t] > max(k for _, k in pure_single[t]))
    ]
    whitelist: dict[str, list[int]] = {}
    overrides: dict[int, int] = {}
    meta = reader.chunk_meta(cand) if cand else {}
    for t in cand:
        chunks = meta.get(t)
        if not chunks:
            continue
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
        for qid, _ in pure_single[t]:
            overrides[qid] = int(df_map[t])
    return whitelist, overrides


def _driver_small_search(reader: IndexReader, present: "list[str]",
                         queries: "list[tuple]",
                         params: BM25Params) -> "list[tuple] | None":
    """Driver-side exact TAAT for a volume-bounded query batch → result rows
    (qid, rank, doc_id, score, found), or None to fall back to the
    distributed plan (any read failure / a present term without chunk
    rows).

    ONE footer-indexed read of the present terms' chunk rows (only the
    postings row groups whose term range holds a present term), then
    functions/scoring.py's rank_chunk_rows over the whole doc-id space —
    the helper each range group of the distributed plan and the serving
    tier run, so all return identical rows."""
    try:
        t = reader._by_term(reader.paths.postings).read(
            list(present), ["count", "tf_off", "dl_off", "blob"])
    except Exception:
        return None
    if not set(present) <= set(t.column("term").to_pylist()):
        return None  # lexicon/postings disagree — let the full plan decide
    out: list[tuple] = []
    for qid, _k, found, ids, scores in rank_chunk_rows(
            t, queries, reader.avgdl, params):
        out.extend((qid, r + 1, int(doc), float(score), found)
                   for r, (doc, score) in enumerate(zip(ids, scores)))
    return out


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
    per term at each boundary. Nothing is cached. A postings table pyarrow
    cannot open (the same failure that turns off the driver path and the
    prune) gets one range."""
    if sum(df_map[t] for t in present) <= SMALL_QUERY_MAX_POSTINGS:
        return []
    per_chunk = {t: df_map[t] / max(1, reader._n_chunks.get(t) or 1)
                 for t in present}
    los: list[int] = []
    wts: list[float] = []
    for t, kept in whitelist.items():
        los.extend(kept)
        wts.extend([per_chunk[t]] * len(kept))
    rest = [t for t in present if t not in whitelist]
    if rest:
        try:
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
        except Exception:
            return []
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
                    avgdl: float, params: BM25Params):
    """groupBy(doc_range).applyInArrow body: one range's chunk rows → for
    each query, its ≤k best docs of the range (cnt null) plus one marker
    row (doc_id null) whose ``cnt`` is the query's matched docs in the
    range. The queries' weights and k ride in this closure."""
    import pyarrow as pa

    schema = pa.schema([("qid", pa.int64()), ("doc_id", pa.int64()),
                        ("score", pa.float64()), ("k", pa.int32()),
                        ("cnt", pa.int64())])

    # unannotated: applyInArrow infers the UDF kind from complete type
    # hints only, and takes a bare (key, table) function as table → table
    def rank_range(key, chunks):
        r = key[0].as_py()
        lo = cuts[r - 1] if r > 0 else None
        hi = cuts[r] if r < len(cuts) else None
        cols: dict[str, list] = {name: [] for name in schema.names}
        for qid, k, found, ids, scores in rank_chunk_rows(
                chunks, queries, avgdl, params, lo, hi):
            n = len(ids)
            cols["qid"] += [qid] * (n + 1)
            cols["doc_id"] += ids.tolist() + [None]
            cols["score"] += scores.tolist() + [None]
            cols["k"] += [k] * (n + 1)
            cols["cnt"] += [None] * n + [found]
        return pa.Table.from_pydict(cols, schema=schema)

    return rank_range


def batch_search(
    reader: IndexReader,
    queries: Sequence[QuerySpec],
    params: BM25Params | None = None,
    hydrate: bool = False,
    prune_chunks: bool = True,
    small_query_max_postings: "int | None" = None,
) -> DataFrame:
    """Run all queries in one Spark plan.

    Returns (qid, rank, doc_id, score, found) — found = total matched docs for
    the query (reference's ``total_found``, api_engine.cpp:495; with one
    logical segment it equals distinct matched docs). A qid given by
    several specs ranks the union of their terms with the first spec's k.

    A batch whose Σdf is at most ``small_query_max_postings`` (default
    SMALL_QUERY_MAX_POSTINGS; 0 forces the distributed plan) is answered on
    the driver by _driver_small_search. Otherwise the plan is:

    1. scan the postings chunk rows of the present terms (pushed
       ``term IN`` filter), pruned by the chunk prefilter below;
    2. tag each chunk row with every doc-id range (_doc_range_cuts) its
       [doc_lo, doc_hi] overlaps — ``explode(sequence(first, last))``;
    3. exchange the still-compressed chunk rows by range;
    4. one ``groupBy(doc_range).applyInArrow`` stage: per range, decode each
       term's chunks, keep the range's postings and rank every query of the
       batch with scoring.rank_chunk_rows — ≤k rows plus one ``found``
       marker per (range, query);
    5. per-qid windows: ``found`` = Σ markers, rank = row_number by
       (score desc, doc_id asc), keep rank ≤ k.

    Scale safety: the ranges partition the doc-id space, so each doc's full
    score is computed in exactly one group — per-range found counts add up
    exactly and the merge of per-range top-k lists is exact. A group holds
    about SMALL_QUERY_MAX_POSTINGS postings at most (one group for the
    whole batch when pyarrow cannot open the postings footers), the driver
    plans the ranges from postings footers and whitelists, never from a
    per-chunk read, and the final windows order ≤ (k + 1)·ranges rows per
    query, never the matched set. The plan has one Python stage, and the
    exchange carries compressed chunk rows, never decoded postings.

    ``prune_chunks`` enables the driver-side chunk prefilter
    (_plan_chunk_prune): on a drift-free index, a term queried only by
    single-term queries scans just the chunks that can hold a top-k doc —
    exact results either way (rank- and found-identical by construction;
    set False to force exhaustive decode, e.g. for parity testing; it also
    turns off the driver path)."""
    params = params or BM25Params()
    spark = reader.spark

    # driver-side query parsing (tiny), weight = occurrence count so repeated
    # terms accumulate repeatedly like the reference's per-occurrence loop
    qrows: list[tuple[int, str, int]] = []  # qid, term, occ
    k_of: dict[int, int] = {}
    for qs in queries:
        k_of.setdefault(qs.qid, clamp_k(qs.k))
        occ: dict[str, int] = {}
        for t in parse_query(qs.q):
            occ[t] = occ.get(t, 0) + 1
        qrows.extend((qs.qid, t, c) for t, c in occ.items())

    # lexicon lookup for df → idf (bounded driver-side read: |query terms|)
    df_map = reader.term_dfs(sorted({t for _, t, _ in qrows}))
    present = sorted(df_map)
    if not present:
        return values_frame(spark, [], _RESULT_SCHEMA)
    idfs = bm25_idf(reader.N, np.array([df_map[t] for t in present],
                                       dtype=np.int64), params.precision)
    idf_map = dict(zip(present, idfs))

    # [(qid, k, [(term, weight·idf), ...])] in qid order, terms in query
    # order (the kernel sums in that order, like serving)
    terms_of: dict[int, list[tuple[str, float]]] = {}
    for qid, t, occ in qrows:
        if t in idf_map:
            terms_of.setdefault(qid, []).append(
                (t, float(occ) * float(idf_map[t])))
    ranked = [(qid, k_of[qid], tws) for qid, tws in sorted(terms_of.items())]

    # volume-bounded driver fast path (r7): Σ df across the batch's present
    # terms is known exactly before any data is read; under the budget the
    # whole batch is answered by one footer-indexed postings read + the same
    # scoring helper — identical rows, no Spark job. prune_chunks=False
    # forces the distributed plan (the parity-testing escape hatch).
    budget = (SMALL_QUERY_MAX_POSTINGS if small_query_max_postings is None
              else small_query_max_postings)
    if prune_chunks and budget > 0 \
            and sum(df_map[t] for t in present) <= budget:
        local_rows = _driver_small_search(reader, present, ranked, params)
        if local_rows is not None:
            topk = values_frame(spark, local_rows, _RESULT_SCHEMA)
            return _hydrate_topk(reader, topk, queries) if hydrate else topk

    # chunk-level top-k prefilter (driver-side plan over chunk metadata);
    # a duplicate qid's terms are the union over its specs
    whitelist: dict[str, list[int]] = {}
    found_overrides: dict[int, int] = {}
    if prune_chunks:
        whitelist, found_overrides = _plan_chunk_prune(
            reader, {qid: list(dict.fromkeys(t for t, _ in tws))
                     for qid, _k, tws in ranked},
            k_of, df_map, params)

    # postings scan pruned to query terms (pushed filter → row-group pruning);
    # whitelisted terms additionally restrict to their kept (doc_lo) chunks
    # through ONE literal map lookup — constant expression depth for any
    # batch (a per-term OR chain overflowed the JVM stack past ~1000 terms)
    chunks = reader.postings().where(F.col("term").isin(present))
    if whitelist:
        full_terms = [t for t in present if t not in whitelist]
        kept = F.create_map(*[
            x for t, los in sorted(whitelist.items())
            for x in (F.lit(t), F.array(*[F.lit(int(lo)).cast("long")
                                          for lo in los]))])
        chunks = chunks.where(
            (F.col("term").isin(full_terms) if full_terms else F.lit(False))
            | F.array_contains(kept[F.col("term")], F.col("doc_lo")))

    # doc-id range of a chunk bound = number of cuts at or below it
    cuts = _doc_range_cuts(reader, present, df_map, whitelist)
    cut_arr = (F.array(*[F.lit(c).cast("long") for c in cuts]) if cuts
               else F.array().cast("array<bigint>"))

    def range_of(col: str):
        return F.size(F.filter(cut_arr, lambda c: c <= F.col(col)))

    pruned = (
        chunks.select(F.explode(F.sequence(range_of("doc_lo"),
                                           range_of("doc_hi")))
                      .alias("doc_range"),
                      "term", "count", "tf_off", "dl_off", "blob")
        .groupBy("doc_range")
        .applyInArrow(_range_rank_udf(cuts, ranked, reader.avgdl, params),
                      "qid long, doc_id long, score double, k int, cnt long")
    )
    w_found = Window.partitionBy("qid")
    w_rank = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    topk = (
        pruned.withColumn("found", F.sum("cnt").over(w_found))
        .where(F.col("doc_id").isNotNull())
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= F.col("k"))
        .select("qid", "rank", "doc_id", "score", "found")
    )
    if found_overrides:
        # pruned single-term queries: the found markers only counted the
        # kept chunks — found is exactly the lexicon df for one term.
        # A literal MAP lookup, not a joined side-table (no per-batch driver
        # round-trip / broadcast) and not a nested WHEN chain (whose
        # expression tree grows linearly in depth with the batch size and
        # can hit codegen/stack limits — ADVICE r4 #1): one flat
        # create_map literal, constant expression depth for any batch.
        ov_args: list = []
        for qid, fv in sorted(found_overrides.items()):
            ov_args.append(F.lit(qid).cast("long"))
            ov_args.append(F.lit(int(fv)).cast("long"))
        expr = F.coalesce(F.create_map(*ov_args)[F.col("qid")],
                          F.col("found"))
        topk = topk.select("qid", "rank", "doc_id", "score",
                           expr.cast("long").alias("found"))
    if hydrate:
        topk = _hydrate_topk(reader, topk, queries)
    return topk


def _hydrate_topk(reader: IndexReader, topk: DataFrame,
                  queries: Sequence[QuerySpec]) -> DataFrame:
    """Attach doc metadata to a ≤Σk-row result frame.

    Bound the metadata side (VERDICT r4 wrong #4): the top-k result is
    ≤ Σk rows (driver-known, k clamped ≤ 100), so materialize it ONCE
    on the driver and push an isin filter of its doc_ids into the docs
    scan — row-group pruning + an explicit broadcast of the ≤Σk matched
    rows, never a full-docs exchange. The collected rows come back as a
    local relation (no persist: the r5 `topk.persist()` here was never
    unpersisted and leaked one cache entry per hydrated batch_search in
    long-lived serving sessions — ADVICE r5). Very large batches (Σk
    above the literal-filter budget) keep the plain left join and rely
    on AQE's size-based broadcast."""
    meta_cols = ["doc_id", "uid", "repo", "path", "commit", "lang"]
    k_total = sum(clamp_k(qs.k) for qs in queries)
    if k_total <= HYDRATE_PUSHDOWN_MAX_IDS:
        rows = topk.collect()  # ≤ Σk rows by construction
        ids = sorted({r["doc_id"] for r in rows})
        local = reader.spark.createDataFrame(rows, schema=topk.schema)
        docs = reader.docs().select(*meta_cols)
        docs = (docs.where(F.col("doc_id").isin(ids)) if ids
                else docs.where(F.lit(False)))
        topk = local.join(F.broadcast(docs), "doc_id", "left")
    else:
        topk = topk.join(reader.docs().select(*meta_cols), "doc_id", "left")
    return topk.select("qid", "rank", "doc_id", "score", "found",
                       "uid", "repo", "path", "commit", "lang")


def search_one(reader: IndexReader, q: str, k: int = 10,
               params: BM25Params | None = None,
               hydrate: bool = True) -> dict:
    """Single-query convenience → reference-shaped JSON dict
    (README.md:72-94: {query, k, segments, found, results[]})."""
    df = batch_search(reader, [QuerySpec(0, q, k)], params, hydrate=hydrate)
    rows = [r.asDict() for r in df.orderBy("rank").collect()]
    found = rows[0]["found"] if rows else 0
    results = []
    for r in rows:
        item = {"rank": r["rank"], "doc_id": r["doc_id"],
                "score": float(r["score"]) if r["score"] is not None else None}
        for col in ("uid", "repo", "path", "commit", "lang"):
            if col in r and r[col] is not None:
                item[col] = r[col]
        results.append(item)
    return {"query": q, "k": clamp_k(k), "segments": 1,
            "found": int(found), "results": results}

"""Batch BM25 query execution over the built index.

Reproduces the reference's search pipeline (src/api_engine.cpp:369-541) as a
declarative DataFrame plan:

  query strings → tokenize + len/stopword filter (repeated terms keep
  repeating — the loop at api_engine.cpp:449 scores a duplicated term twice)
  → literal term→(qid, widf, k) map lookup (the ``seg.lex.find`` hash
  lookup, :453-455; absent terms drop out via the null filter — a scalar
  codegen expression, no join/broadcast) → postings scan pruned by
  term predicate (Parquet min/max on the term-sorted files — the offset-seek
  analog, :463-475) → vectorized chunk decode + float32 per-posting impact
  (:478-479) → contribution = weight · idf · impact summed per (qid, doc)
  (TAAT hash-agg, :480) → top-k per query by (score desc, doc_id asc) via
  window row_number — Catalyst's TakeOrderedAndProject analog of the
  reference's bounded heap (:427-504).

Precision: 'f32' (default) reproduces the reference float32 arithmetic
(idf and impact in float32, summation in float64 — SURVEY.md §7.3
canonicalization); 'f64' computes everything in doubles, bit-compatible with
SQL oracles.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass
from typing import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType, DoubleType, LongType, StringType, StructField, StructType,
)

from nextsearch_api_spark.config import (
    BM25Params, IndexPaths, MIN_TOKEN_LEN, SEARCH_K_MAX, SEARCH_K_MIN,
)
from nextsearch_api_spark.functions.scoring import (
    bm25_idf, bm25_impact, rank_postings,
)
from nextsearch_api_spark.functions.text import STOPWORD_SET, tokenize_py


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
        self._chunk_meta: dict[str, list[tuple[int, float]]] = {}  # term → chunks

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
        the decode volume it lets the batch tier skip. Returns {} on any failure
        (prefilter is then skipped)."""
        terms = list(terms)
        if not terms:
            return {}
        missing = [t for t in terms if t not in self._chunk_meta]
        if missing:
            try:
                t = self._by_term(self.paths.postings).read(
                    missing, ["doc_lo", "doc_hi", "max_impact"])
                fetched: dict[str, list[tuple[int, int, float]]] = {m: [] for m in missing}
                for term, lo, hi, mi in zip(t.column("term").to_pylist(),
                                            t.column("doc_lo").to_pylist(),
                                            t.column("doc_hi").to_pylist(),
                                            t.column("max_impact").to_pylist()):
                    fetched.setdefault(term, []).append(
                        (int(lo), int(hi), float(mi)))
                self._chunk_meta.update(fetched)
            except Exception:
                return {t: v for t, v in self._chunk_meta.items()
                        if t in terms and v}
        return {t: self._chunk_meta[t] for t in terms
                if self._chunk_meta.get(t)}

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


# budget on the pairwise chunk-range work of the multi-term prune plan
# (Σ_t |chunks_t| · |terms|); above it the per-chunk range max falls back to
# the other term's GLOBAL max — still sound, just a looser upper bound
_MULTI_PRUNE_RANGE_BUDGET = 200_000

# driver-side small-query budget: largest Σ_t df (total postings across the
# query batch's present terms — known EXACTLY from the lexicon before any
# data is read) for which the batch tier answers from a bounded pyarrow
# read + NumPy TAAT on the driver instead of a 3-job distributed plan.
# 8M postings ≈ tens of MB of footer-indexed blob reads and ~1-1.5 s of
# thread-parallel decode+score — still under the distributed plan's
# multi-job floor plus its own Python-stage decode of the same volume (the
# measured crossover is in the tens of millions of postings; 8M keeps a
# healthy margin on the driver side of it) — while a hot term on a 100 TB
# corpus blows the budget immediately and keeps the distributed plan. The
# same volume-bounded driver-lookup pattern as term_dfs / chunk_meta /
# HYDRATE_PUSHDOWN_MAX_IDS; nothing is memoized — every call re-reads the
# parquet postings.
SMALL_QUERY_MAX_POSTINGS = 8_000_000


def _plan_chunk_prune(
    reader: IndexReader, per_qid_terms: dict[int, list[str]],
    per_qid_k: dict[int, int], df_map: dict[str, int],
    params: BM25Params,
    widf_by_qid: "dict[int, dict[str, float]] | None" = None,
) -> tuple[dict, dict, dict]:
    """Driver-side chunk-level top-k prefilter plan (VERDICT r3 next #4;
    multi-term extension VERDICT r4 next #3).

    → (whitelist: {term: [kept doc_lo...]},        # drop other chunks
       found_overrides: {qid: found},              # exact found for dropped
       partial: {term: [full-decode doc_lo...]})   # rest → doc-id-only

    Sound EXACT pruning from chunk metadata alone, gated on the stored
    per-chunk ``max_impact`` being an *attained* query-time impact
    (stats.impact_avgdl == stats.avgdl and k1/b match — the marker
    incremental ingest drops when generations mix avgdls).

    Single-present-term queries (r4): chunks of one term cover disjoint doc
    ranges, so the k highest chunk maxes identify k distinct docs scoring ≥
    the k-th max; chunks strictly below that threshold are DROPPED from the
    scan and ``found`` comes exactly from the lexicon df.

    Multi-term queries (r5): the block-max WAND pivot inequality (Ding &
    Suel 2011) applied at plan time — the engine's only top-k pruning; the
    serving tier (operators/wand.py) scores exhaustively.
    θ_q = max over terms t with ≥ k chunks of the k-th highest
    widf_t·max_impact — each chunk max is attained by a distinct doc whose
    TOTAL score is at least that contribution (disjunctive OR), so θ_q lower-
    bounds the true k-th score. A chunk c of term t is prunable when
    widf_t·max_c + Σ_{t'≠t} widf_t'·rangemax_t'([lo_c, hi_c]) < θ_q·slack:
    no doc in c can reach the top-k, and (because that upper bound covers
    the doc's WHOLE score) any doc of c surfacing through other terms is
    provably outside the top-k too, so its understated score cannot displace
    a true result. Prunable chunks are NOT dropped — they decode DOC-IDS
    ONLY (skip the tf/dl varbyte streams + impact math, emit impact 0), so
    per-query ``found`` (distinct matched docs) stays exact without an
    override. A term used by several queries keeps the union of their
    full-decode needs; single-term queries sharing a multi-term's term
    contribute their r4 kept-set the same way (and need no found override —
    the doc-id-only markers count every match)."""
    stats = reader.stats
    if stats.get("impact_avgdl") is None \
            or stats.get("impact_avgdl") != stats.get("avgdl"):
        return {}, {}, {}
    if float(stats.get("k1", -1.0)) != float(params.k1) \
            or float(stats.get("b", -1.0)) != float(params.b):
        return {}, {}, {}

    widf_by_qid = widf_by_qid or {}
    single_users: dict[str, list[tuple[int, int]]] = {}
    multi_qids: list[int] = []
    multi_terms: set[str] = set()
    must_full: set[str] = set()   # some query needs this term whole
    for qid, terms in per_qid_terms.items():
        if len(terms) == 1:
            single_users.setdefault(terms[0], []).append((qid, per_qid_k[qid]))
        elif terms:
            multi_terms.update(terms)
            if widf_by_qid.get(qid):
                multi_qids.append(qid)
            else:
                must_full.update(terms)  # no weights → conservative
    shared = set(single_users) & multi_terms
    pure_single = {t: u for t, u in single_users.items()
                   if t not in multi_terms}

    # ---- single-present-term full-drop (r4 logic) ------------------------
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
        maxes = sorted((mi for _, _, mi in chunks), reverse=True)
        theta = maxes[k_req - 1] * _CHUNK_PRUNE_SLACK
        kept = [lo for lo, _, mi in chunks if mi >= theta]
        if len(kept) == len(chunks):
            continue
        whitelist[t] = sorted(kept)
        for qid, _ in pure_single[t]:
            overrides[qid] = int(df_map[t])

    # ---- multi-term partial decode (r5) ----------------------------------
    if not multi_qids and not shared:
        return whitelist, overrides, {}
    need = sorted({t for qid in multi_qids for t in per_qid_terms[qid]}
                  | shared)
    mmeta = reader.chunk_meta(need)
    arrs: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}
    for t, chunks in mmeta.items():
        chunks = sorted(chunks)
        arrs[t] = (np.array([c[0] for c in chunks], dtype=np.int64),
                   np.array([c[1] for c in chunks], dtype=np.int64),
                   np.array([c[2] for c in chunks], dtype=np.float64))

    full_need: dict[str, set[int]] = {}
    prunable: set[str] = set()

    for qid in multi_qids:
        terms = per_qid_terms[qid]
        k = per_qid_k[qid]
        w = widf_by_qid[qid]
        if any(t not in arrs for t in terms):
            must_full.update(terms)
            continue
        theta = 0.0
        for t in terms:
            mxs = arrs[t][2]
            if len(mxs) >= k:
                theta = max(theta,
                            float(np.partition(mxs, len(mxs) - k)[len(mxs) - k])
                            * w[t])
        if theta <= 0.0:
            must_full.update(terms)
            continue
        thr = theta * _CHUNK_PRUNE_SLACK
        pair_budget_ok = (sum(len(arrs[t][0]) for t in terms) * len(terms)
                          <= _MULTI_PRUNE_RANGE_BUDGET)
        for t in terms:
            los, his, mxs = arrs[t]
            ub = mxs * w[t]
            for t2 in terms:
                if t2 == t:
                    continue
                los2, his2, mxs2 = arrs[t2]
                if not len(mxs2):
                    continue
                if not pair_budget_ok:
                    ub = ub + w[t2] * float(mxs2.max())
                    continue
                contrib = np.zeros(len(los), dtype=np.float64)
                for i in range(len(los)):
                    a = int(np.searchsorted(his2, los[i], side="left"))
                    b = int(np.searchsorted(los2, his[i], side="right"))
                    if a < b:
                        contrib[i] = mxs2[a:b].max()
                ub = ub + w[t2] * contrib
            keep = ub >= thr
            full_need.setdefault(t, set()).update(
                int(lo) for lo in los[keep])
            if not bool(keep.all()):
                prunable.add(t)

    # single-term queries sharing a multi-term's term: contribute the r4
    # kept-set; found needs no override on the partial path (doc-id-only
    # markers count every matched doc)
    for t in shared:
        if t not in arrs:
            must_full.add(t)
            continue
        los, his, mxs = arrs[t]
        k_req = max(k for _, k in single_users[t])
        if len(mxs) <= k_req:
            must_full.add(t)
            continue
        theta = float(np.partition(mxs, len(mxs) - k_req)[len(mxs) - k_req]) \
            * _CHUNK_PRUNE_SLACK
        keep = mxs >= theta
        full_need.setdefault(t, set()).update(int(lo) for lo in los[keep])
        if not bool(keep.all()):
            prunable.add(t)

    partial: dict[str, list[int]] = {}
    for t in sorted(prunable - must_full):
        full = sorted(full_need.get(t, ()))
        if len(full) < len(arrs[t][0]):
            partial[t] = full
    return whitelist, overrides, partial


def _decode_score_udf(avgdl: float, params: BM25Params,
                      with_full_flag: bool = False):
    """mapInPandas: posting-chunk rows → (term, doc_id, impact).

    With ``with_full_flag`` the input carries a boolean ``full`` column
    (multi-term chunk prefilter): False rows decode ONLY the doc-id gap
    stream — the tf/dl varbyte decode and the float impact math are skipped
    — and emit impact 0. Those rows keep per-query ``found`` exact (every
    matched doc still appears once) and are provably outside the top-k
    (see _plan_chunk_prune), so zero impact cannot corrupt ranking."""
    f32 = params.precision == "f32"

    out_schema = StructType([
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("impact", FloatType() if f32 else DoubleType(), False),
    ])

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd
        from nextsearch_api_spark.functions.codec import (
            decode_chunk, varbyte_decode,
        )
        for pdf in batches:
            fulls = (pdf["full"].to_numpy() if with_full_flag
                     else np.ones(len(pdf), dtype=bool))
            terms_out, ids_out, imp_out = [], [], []
            for full, term, tf_off, dl_off, blob in zip(
                fulls, pdf["term"], pdf["tf_off"], pdf["dl_off"], pdf["blob"]
            ):
                if not full:
                    gaps = varbyte_decode(memoryview(blob)[:int(tf_off)])
                    doc_ids = np.cumsum(gaps).astype(np.int64)
                    imp = np.zeros(len(doc_ids),
                                   dtype=np.float32 if f32 else np.float64)
                else:
                    doc_ids, tfs, dls = decode_chunk(
                        blob, int(tf_off), int(dl_off))
                    imp = bm25_impact(tfs, dls, params.k1, params.b, avgdl,
                                      params.precision)
                terms_out.append(np.full(len(doc_ids), term, dtype=object))
                ids_out.append(doc_ids)
                imp_out.append(imp)
            if not ids_out:
                continue
            yield pd.DataFrame({
                "term": np.concatenate(terms_out),
                "doc_id": np.concatenate(ids_out),
                "impact": np.concatenate(imp_out),
            })

    return decode, out_schema


def _driver_small_search(reader: IndexReader, present: "list[str]",
                         qterm_rows: "list[tuple[int, str, float, int]]",
                         params: BM25Params) -> "list[tuple] | None":
    """Driver-side exact TAAT for a volume-bounded query batch → result rows
    (qid, rank, doc_id, score, found), or None to fall back to the
    distributed plan (any read failure / a term unexpectedly decoding to
    nothing).

    Semantics are the distributed plan's, computed the same way: ONE
    footer-indexed read of the present terms' chunk rows (only the postings
    row groups whose term range holds a present term), the SAME f32/f64
    impact arithmetic as _decode_score_udf, per-doc score = Σ widf·impact in
    float64, found = distinct matched docs, rank by (score desc, doc_id asc).
    Exactness vs the distributed plan is gated by the prune-vs-exhaustive
    parity tests (tests/test_plans.py) and the engine oracle entries."""
    try:
        t = reader._by_term(reader.paths.postings).read(
            list(present), ["count", "tf_off", "dl_off", "blob"])
    except Exception:
        return None
    from nextsearch_api_spark.functions.codec import decode_chunks_concat

    terms_col = t.column("term").to_pylist()
    # blobs stay Arrow: BinaryScalar.as_buffer() is a zero-copy view and
    # decode_chunks_concat slices via memoryview — to_pylist() copied every
    # blob into Python bytes (~MBs per hot term) before decoding
    blob_arr = t.column("blob").combine_chunks()
    tf_offs = t.column("tf_off").to_numpy(zero_copy_only=False)
    dl_offs = t.column("dl_off").to_numpy(zero_copy_only=False)
    counts = t.column("count").to_numpy(zero_copy_only=False)
    rows_by_term: dict[str, list[int]] = {}
    for i, term in enumerate(terms_col):
        rows_by_term.setdefault(term, []).append(i)
    if any(term not in rows_by_term for term in present):
        return None  # lexicon/postings disagree — let the full plan decide

    def _decode_term(term: str) -> tuple[str, np.ndarray, np.ndarray]:
        idxs = rows_by_term[term]
        ids, tfs, dls = decode_chunks_concat(
            [blob_arr[i].as_buffer() for i in idxs],
            [tf_offs[i] for i in idxs],
            [dl_offs[i] for i in idxs], [counts[i] for i in idxs])
        return term, ids, bm25_impact(tfs, dls, params.k1, params.b,
                                      reader.avgdl, params.precision)

    # numpy varbyte kernels release the GIL — a few threads cut the decode
    # wall ~linearly; results are per-term and order-independent
    per_term: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    if len(rows_by_term) > 1:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(min(8, len(rows_by_term))) as pool:
            for term, ids, imp in pool.map(_decode_term, rows_by_term):
                per_term[term] = (ids, imp)
    else:
        for term in rows_by_term:
            _, ids, imp = _decode_term(term)
            per_term[term] = (ids, imp)

    by_qid: dict[int, tuple[int, list]] = {}
    for qid, term, widf, k in qterm_rows:
        by_qid.setdefault(qid, (k, []))[1].append((term, widf))
    out: list[tuple] = []
    for qid in sorted(by_qid):
        k, tws = by_qid[qid]
        found, ids, scores = rank_postings(
            [(*per_term[term], widf) for term, widf in tws], k)
        for r, (doc, score) in enumerate(zip(ids, scores)):
            out.append((int(qid), r + 1, int(doc), float(score), found))
    return out


def _local_result_frame(spark: SparkSession, rows: "list[tuple]") -> DataFrame:
    """≤Σk driver-computed result rows → a LocalRelation DataFrame via a SQL
    VALUES literal. Unlike createDataFrame(list) — which parallelizes a
    Python RDD so even collect() pays a 1-task job plus a Py4J round-trip
    (~0.4 s measured) — a LocalRelation collects job-free, and downstream
    projections constant-fold through ConvertToLocalRelation. Scores embed
    via repr(): Python's shortest-round-trip decimal parses back to the
    identical IEEE-754 double."""
    if not rows:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id long, score double, found long")
    vals = ", ".join(
        f"({qid}L, {rank}, {doc}L, CAST({score!r} AS DOUBLE), {found}L)"
        for qid, rank, doc, score, found in rows)
    return spark.sql(
        f"SELECT col1 AS qid, col2 AS rank, col3 AS doc_id, "
        f"col4 AS score, col5 AS found FROM VALUES {vals}")


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
    logical segment it equals distinct matched docs).

    ``prune_chunks`` enables the driver-side chunk prefilter
    (_plan_chunk_prune): for single-term queries on a drift-free index, only
    the chunks that can hold a top-k doc are decoded — exact results either
    way (the prefilter is rank- and found-identical by construction; set
    False to force exhaustive decode, e.g. for parity testing)."""
    params = params or BM25Params()
    spark = reader.spark

    # driver-side query parsing (tiny), weight = occurrence count so repeated
    # terms accumulate repeatedly like the reference's per-occurrence loop
    qrows: list[tuple[int, str, int, int]] = []  # qid, term, occ, k
    for qs in queries:
        terms = parse_query(qs.q)
        k = clamp_k(qs.k)
        occ: dict[str, int] = {}
        for t in terms:
            occ[t] = occ.get(t, 0) + 1
        for t, c in occ.items():
            qrows.append((qs.qid, t, c, k))
    if not qrows:
        return spark.createDataFrame(
            [], "qid long, rank int, doc_id long, score double, found long"
        )

    all_terms = sorted({t for _, t, _, _ in qrows})

    # lexicon lookup for df → idf (bounded driver-side read: |query terms|)
    df_map = reader.term_dfs(all_terms)
    present = [t for t in all_terms if t in df_map]
    if not present:
        qmeta = [(q.qid,) for q in queries]
        base = spark.createDataFrame(qmeta, "qid long")
        return base.select(
            "qid", F.lit(None).cast("int").alias("rank"),
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("double").alias("score"),
            F.lit(0).cast("long").alias("found"),
        ).where(F.lit(False))

    dfs = np.array([df_map[t] for t in present], dtype=np.int64)
    idfs = bm25_idf(reader.N, dfs, params.precision)
    idf_map = dict(zip(present, idfs))

    # (qid, term, widf, k): weight(=occ)·idf, precomputed driver-side
    qterm_rows = [
        (qid, t, float(occ) * float(idf_map[t]), k)
        for qid, t, occ, k in qrows if t in idf_map
    ]

    # volume-bounded driver fast path (r7): Σ df across the batch's present
    # terms is known exactly before any data is read; under the budget the
    # whole batch is answered by one footer-indexed postings read + NumPy
    # TAAT — identical results (see _driver_small_search), none of the 3
    # distributed jobs' ~0.3 s-each Python-stage floors. prune_chunks=False
    # forces the distributed plan (the parity-testing escape hatch, which
    # thereby also covers driver-vs-distributed identity).
    budget = (SMALL_QUERY_MAX_POSTINGS if small_query_max_postings is None
              else small_query_max_postings)
    if prune_chunks and budget > 0 \
            and sum(df_map[t] for t in present) <= budget:
        local_rows = _driver_small_search(reader, present, qterm_rows, params)
        if local_rows is not None:
            topk = _local_result_frame(spark, local_rows)
            return _hydrate_topk(reader, topk, queries) if hydrate else topk

    # chunk-level top-k prefilter (driver-side plan over chunk metadata)
    whitelist: dict[str, list[int]] = {}
    found_overrides: dict[int, int] = {}
    partial: dict[str, list[int]] = {}
    if prune_chunks:
        per_qid_terms: dict[int, list[str]] = {}
        per_qid_k: dict[int, int] = {}
        for qid, t, _occ, k in qrows:
            per_qid_k[qid] = k
            if t in idf_map:
                per_qid_terms.setdefault(qid, []).append(t)
        widf_by_qid: dict[int, dict[str, float]] = {}
        for qid, t, widf, _k in qterm_rows:
            widf_by_qid.setdefault(qid, {})[t] = widf
        whitelist, found_overrides, partial = _plan_chunk_prune(
            reader, per_qid_terms, per_qid_k, df_map, params, widf_by_qid)

    # postings scan pruned to query terms (pushed filter → row-group pruning);
    # whitelisted terms additionally restrict to their kept (doc_lo) chunks
    if whitelist:
        full_terms = [t for t in present if t not in whitelist]
        cond = F.col("term").isin(full_terms) if full_terms else F.lit(False)
        for t, los in whitelist.items():
            cond = cond | ((F.col("term") == t) & F.col("doc_lo").isin(los))
    else:
        cond = F.col("term").isin(present)
    sel = ["term", "tf_off", "dl_off", "blob"]
    if partial:
        # multi-term prefilter: a literal term → [full-decode doc_lo...]
        # map; chunks outside their term's list decode doc-ids only. A term
        # absent from the map (null lookup) decodes fully.
        pm_args: list = []
        for t, los in sorted(partial.items()):
            pm_args.append(F.lit(t))
            pm_args.append(F.array(*[F.lit(int(lo)).cast("long")
                                     for lo in los])
                           if los else F.array(F.lit(-1).cast("long")))
        pmap = F.create_map(*pm_args)
        full_col = F.coalesce(
            F.array_contains(pmap[F.col("term")], F.col("doc_lo")),
            F.lit(True),
        )
        chunks = reader.postings().where(cond).select(
            *sel, full_col.alias("full"))
    else:
        chunks = reader.postings().where(cond).select(*sel)
    decode, out_schema = _decode_score_udf(reader.avgdl, params,
                                           with_full_flag=bool(partial))
    impacts = chunks.mapInPandas(decode, schema=out_schema)

    # query-term weights as a LITERAL map term → [(qid, widf, k), ...]: a
    # scalar codegen lookup + explode instead of a createDataFrame +
    # broadcast-join — the per-batch driver round-trip and the broadcast
    # exchange both disappear (the term set is query-sized, so the literal
    # is tiny). Semantics identical: inner-join ⇔ null-lookup filter.
    by_term: dict[str, list[tuple[int, float, int]]] = {}
    for qid, t, widf, k in qterm_rows:
        by_term.setdefault(t, []).append((qid, widf, k))
    map_args: list = []
    for t, lst in sorted(by_term.items()):
        map_args.append(F.lit(t))
        map_args.append(F.array(*[
            F.struct(F.lit(qid).cast("long").alias("qid"),
                     F.lit(widf).cast("double").alias("widf"),
                     F.lit(k).cast("int").alias("k"))
            for qid, widf, k in lst
        ]))
    qmap = F.create_map(*map_args)

    scored = (
        impacts.withColumn("_qm", qmap[F.col("term")])
        .where(F.col("_qm").isNotNull())
        .select("doc_id", "impact", F.explode("_qm").alias("_q"))
        .groupBy(F.col("_q.qid").alias("qid"), F.col("doc_id").alias("doc_id"))
        .agg(
            F.sum(F.col("impact").cast("double") * F.col("_q.widf")).alias("score"),
            F.first(F.col("_q.k")).alias("k"),
        )
    )
    # Scale-safe found + rank (VERDICT r1 'what's wrong' #2 — a per-qid
    # count/rank window sent EVERY matched doc of a query to one task; a hot
    # term at 100× scale puts ~the whole corpus in that task). One extra
    # Arrow pass over the scored rows does a partition-local top-k prune
    # (≤k candidate rows per qid per partition) AND emits one per-qid marker
    # row carrying the partition's matched count — a hand-rolled partial
    # aggregate fused into the prune, so `found` needs no second execution
    # of the decode/score subtree and no extra exchange. The final per-qid
    # windows then order ≤ k·P + P rows, never the full matched set.
    def local_topk(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["qid", "score", "doc_id"],
                                  ascending=[True, False, True])
            pos = pdf.groupby("qid", sort=False).cumcount()
            top = pdf[pos.to_numpy() < pdf["k"].to_numpy()].copy()
            top["cnt"] = pd.array([None] * len(top), dtype="Int64")
            counts = pdf.groupby("qid", sort=False).size()
            marker = pd.DataFrame({
                "qid": counts.index.to_numpy(),
                "doc_id": pd.array([None] * len(counts), dtype="Int64"),
                "score": np.nan,
                "k": 0,
                "cnt": pd.array(counts.to_numpy(), dtype="Int64"),
            })
            yield pd.concat([top, marker], ignore_index=True)

    pruned = scored.mapInPandas(
        local_topk, schema="qid long, doc_id long, score double, k int, cnt long"
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
        # pruned single-term queries: the partial markers only counted
        # decoded chunks — found is exactly the lexicon df for one term.
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

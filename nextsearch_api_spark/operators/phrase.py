"""Exact phrase matching over the corpus — a fulltext capability beyond
the reference's bag-of-words tiers (its query path OR-accumulates single
terms, ``src/api_engine.cpp:437-504``; no phrase semantics exist there).

Spark-first shape: phrase matching is a SCAN operator, not an index-format
change. Two stages, both whole-stage-codegen JVM expressions (no Python in
the hot path):

1. a coarse conjunctive prefilter — every distinct phrase token must be a
   substring of lower(text). Plain ``Contains`` predicates: parquet can't
   serve substring predicates from min/max stats (only prefix ones), so
   they don't appear in PushedFilters, but Catalyst fuses them ahead of
   the exact check in ONE codegen Filter whose AND short-circuits — rows
   failing the cheap Contains never pay the tokenize. Sources that do
   support contains-pushdown get it for free from the same plan.
2. the exact check — tokenize (lower, [^a-z0-9]+ split) and count sliding-
   window positions where the next m tokens equal the phrase. OVERLAPPING
   occurrences count ("table table table" contains "table table" twice),
   the convention both the operator and its SQL oracle implement.

Phrase tokens deliberately use the RAW tokenizer (no stopword/min-length
filtering): "the big join" must match those three words verbatim — index
normalization would silently turn the phrase into a different query.

At 100 TB: stage 1 is free at the scan, stage 2 is linear in the surviving
rows' token counts, and top-k ranking plans as TakeOrderedAndProject — no
shuffle anywhere except the final k-row merge.
"""

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["phrase_tokens", "phrase_match", "phrase_topk",
           "term_doc_ids", "phrase_search"]


def phrase_tokens(phrase: str) -> list:
    """Raw tokenization of the phrase: lowercase, [^a-z0-9]+ split.
    Tokens are [a-z0-9]+ by construction (safe to inline in expr SQL)."""
    toks = [t for t in re.split(r"[^a-z0-9]+", phrase.lower()) if t]
    if not toks:
        raise ValueError("phrase must contain at least one token")
    return toks


def _occurrences_col(toks: list, text_col: str) -> "F.Column":
    """Occurrence count of ``toks`` as a consecutive-token window in the
    raw-tokenized text — ONE codegen regex scan, no token array.

    The text is normalized to its token string (runs of [^a-z0-9]+ → one
    space; identical token boundaries to split+filter-empty, since tokens
    are the maximal [a-z0-9]+ runs and padding spaces make every token
    space-delimited), then a zero-width lookahead counts OVERLAPPING
    windows: each window start maps to the unique position of the space
    preceding its first token, and the lookahead consumes nothing so
    shared-boundary windows ("table table table" ⊃ "table table" ×2) all
    count. Replaces the r6 interpreted filter(sequence(...)) lambda —
    element_at per position per token — with a linear regexp_count that
    stays inside whole-stage codegen (measured 34 s → sub-second for the
    sf1.0 bench phrase)."""
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " "),
        F.lit(" "))
    # tokens are [a-z0-9]+ by construction — regex-safe to inline
    pat = "(?= " + " ".join(toks) + " )"
    return F.regexp_count(norm, F.lit(pat)).cast("long")


def phrase_match(docs: DataFrame, phrase: str, id_col: str = "doc_id",
                 text_col: str = "text",
                 keep_zero: bool = False) -> DataFrame:
    """→ (id, n_occurrences) for documents containing the exact phrase
    (all occurrences counted, overlapping included). ``keep_zero=True``
    returns every document with its count instead of filtering."""
    toks = phrase_tokens(phrase)
    out = docs
    if not keep_zero:
        # coarse prefilter: pushable Contains conjunction (superset of the
        # exact matches — substring, so 'table' also passes 'tables')
        low = F.lower(F.col(text_col))
        for t in sorted(set(toks)):
            out = out.where(low.contains(t))
    out = (
        out.withColumn("n_occurrences", _occurrences_col(toks, text_col))
        .select(F.col(id_col), "n_occurrences")
    )
    return out if keep_zero else out.where(F.col("n_occurrences") > 0)


def term_doc_ids(reader, terms: "list[str]") -> DataFrame:
    """→ (term, doc_id) for a BOUNDED term set, decoded from the inverted
    index: the pushed ``term isin`` predicate row-group-prunes the postings
    scan (chunks are (term, doc_lo)-sorted), and the mapInArrow decode
    reads ONLY each chunk's doc-id gap stream
    (functions/codec.py:decode_doc_ids) — the tf stream and the impact
    math are skipped."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    out_schema = StructType([
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
    ])

    def decode(batches):
        import numpy as np
        import pyarrow as pa

        from nextsearch_api_spark.functions.codec import decode_doc_ids

        for batch in batches:
            if batch.num_rows == 0:
                continue
            counts = batch.column("count").to_numpy(zero_copy_only=False)
            ids = decode_doc_ids(batch.column("blob"), batch.column("tf_off"),
                                 counts, batch.column("doc_lo"))
            rows = np.repeat(np.arange(batch.num_rows), counts)
            yield pa.RecordBatch.from_arrays(
                [batch.column("term").take(pa.array(rows)), pa.array(ids)],
                names=["term", "doc_id"])

    return (reader.postings()
            .where(F.col("term").isin(list(terms)))
            .select("term", "doc_lo", "count", "tf_off", "blob")
            .mapInArrow(decode, out_schema))


def phrase_search(reader, corpus: DataFrame, phrase: str, k: int = 10,
                  text_col: str = "content",
                  broadcast_df_max: int = 100_000) -> DataFrame:
    """Index-accelerated exact phrase search → (rank, doc_id, path,
    n_occurrences), doc_id being the ENGINE id from ``reader``'s index.

    Composition, each stage bounded by the previous:

    1. the phrase's INDEX-TOKENIZABLE terms (≥2 chars, non-stopword — the
       build tokenizer's kept set) are decoded doc-id-only from postings
       and intersected (conjunctive AND: every term must appear). Any such
       term absent from the lexicon proves zero matches — early exit
       without touching the corpus.
    2. candidate ids → (repo, path, commit) natural keys via the
       metadata-only docs table; the candidate set is ≤ min(df) rows and
       is explicitly broadcast when min(df) ≤ ``broadcast_df_max``
       (otherwise AQE picks the join strategy).
    3. the corpus scan — Contains-prefiltered like phrase_match — joins
       the candidates and only survivors pay the exact sliding-window
       verify; rank by occurrences desc, doc_id asc via sort+limit
       (TakeOrderedAndProject).

    Caveat (reference parity): the search universe is the INDEXED document
    set — docs with zero kept tokens (reference drops them,
    src/ForwardIndex.cpp:152) are only reachable when the phrase has at
    least one kept token, which any such doc would have. Phrases made
    ENTIRELY of stopwords/1-char tokens skip stage 1 and scan the full
    corpus (still exact, no index help — the honest fallback)."""
    from nextsearch_api_spark.config import MIN_TOKEN_LEN
    from nextsearch_api_spark.functions.text import STOPWORD_SET

    if k <= 0:
        raise ValueError("k must be positive")
    toks = phrase_tokens(phrase)
    idx_terms = sorted({t for t in set(toks)
                        if len(t) >= MIN_TOKEN_LEN and t not in STOPWORD_SET})

    meta = reader.docs().select("doc_id", "repo", "path", "commit")
    if idx_terms:
        dfm = reader.term_dfs(idx_terms)
        if any(t not in dfm for t in idx_terms):
            return reader.spark.createDataFrame(
                [], "rank int, doc_id long, path string, n_occurrences long")
        cand = (term_doc_ids(reader, idx_terms)
                .groupBy("doc_id").agg(F.count("*").alias("_nt"))
                .where(F.col("_nt") == len(idx_terms))
                .select("doc_id"))
        meta = meta.join(cand, "doc_id")
        if min(dfm.values()) <= broadcast_df_max:
            meta = F.broadcast(meta)

    low = F.lower(F.col(text_col))
    pre = corpus
    for t in sorted(set(toks)):
        pre = pre.where(low.contains(t))
    verified = (
        pre.join(meta, ["repo", "path", "commit"])
        .withColumn("n_occurrences", _occurrences_col(toks, text_col))
        .where(F.col("n_occurrences") > 0)
    )
    from pyspark.sql import Window

    ranked = (verified.select("doc_id", "path", "n_occurrences")
              .orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
              .limit(int(k)))
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("doc_id"))
    return (ranked.withColumn("rank", F.row_number().over(w))
            .select("rank", "doc_id", "path", "n_occurrences"))


def phrase_topk(docs: DataFrame, phrase: str, k: int = 10,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Top-k documents by phrase-occurrence count (ties → ascending id).
    sort+limit plans as TakeOrderedAndProject — distributed partial top-k,
    k-row driver merge."""
    if k <= 0:
        raise ValueError("k must be positive")
    from pyspark.sql import Window

    ranked = (phrase_match(docs, phrase, id_col=id_col, text_col=text_col)
              .orderBy(F.desc("n_occurrences"), F.asc(id_col))
              .limit(int(k)))
    w = Window.orderBy(F.desc("n_occurrences"), F.asc(id_col))
    return (ranked.withColumn("rank", F.row_number().over(w))
            .select("rank", id_col, "n_occurrences"))

"""Exact phrase matching: overlap convention, tokenizer edges, top-k."""

import pytest
from pyspark.sql import functions as F

from tests.test_wand import multichunk_index  # noqa: F401  (fixture)


@pytest.fixture(scope="module")
def pdocs(spark):
    rows = [
        (0, "the quick brown fox"),                   # 1x "quick brown"
        (1, "Quick-Brown, QUICK brown!"),             # 2x, case/punct folded
        (2, "quick quick quick"),                     # overlap: 2x "quick quick"
        (3, "brown quick"),                           # reversed → no match
        (4, "quick"),                                 # shorter than phrase
        (5, ""),                                      # empty
        (6, "a quick2 brown b"),                      # 'quick2' is ONE token
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_phrase_match_semantics(pdocs):
    from nextsearch_api_spark.operators.phrase import phrase_match

    got = {r["doc_id"]: r["n_occurrences"]
           for r in phrase_match(pdocs, "Quick  BROWN?").collect()}
    # phrase itself is raw-tokenized: "Quick  BROWN?" == "quick brown"
    assert got == {0: 1, 1: 2}

    overlap = {r["doc_id"]: r["n_occurrences"]
               for r in phrase_match(pdocs, "quick quick").collect()}
    assert overlap == {2: 2}                 # overlapping occurrences count

    kz = {r["doc_id"]: r["n_occurrences"]
          for r in phrase_match(pdocs, "quick brown",
                                keep_zero=True).collect()}
    assert kz == {0: 1, 1: 2, 2: 0, 3: 0, 4: 0, 5: 0, 6: 0}

    # single-token phrase degenerates to term counting
    single = {r["doc_id"]: r["n_occurrences"]
              for r in phrase_match(pdocs, "quick").collect()}
    assert single == {0: 1, 1: 2, 2: 3, 3: 1, 4: 1}

    with pytest.raises(ValueError, match="token"):
        phrase_match(pdocs, "...!?")


def test_phrase_topk_rank_and_plan(pdocs):
    from nextsearch_api_spark.operators.phrase import phrase_topk

    out = [(r["rank"], r["doc_id"], r["n_occurrences"])
           for r in phrase_topk(pdocs, "quick brown", k=2)
           .orderBy("rank").collect()]
    assert out == [(1, 1, 2), (2, 0, 1)]

    plan = phrase_topk(pdocs, "quick brown", k=2)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan

    with pytest.raises(ValueError, match="k must be positive"):
        phrase_topk(pdocs, "quick brown", k=0)


def test_phrase_search_equals_scan(spark, tiny_corpus, tiny_index):
    """Index-accelerated phrase search must be result-identical to the
    pure-scan phrase_topk over the same corpus (the index is a plan
    change, not a semantics change). Also: a kept-token term missing from
    the lexicon proves zero matches (early exit), and an all-stopword
    phrase takes the scan fallback without error."""
    root, _ = tiny_index
    _check_phrase_search_equals_scan(spark, tiny_corpus, root)


def test_phrase_search_equals_scan_multichunk(spark, tiny_corpus,
                                              multichunk_index):
    """The same on the chunk_size=8 index, where the phrase's terms span
    several chunks, so their doc ids decode from many chunks' doc_lo."""
    from nextsearch_api_spark.operators.query import IndexReader

    toks = _check_phrase_search_equals_scan(spark, tiny_corpus,
                                            multichunk_index)
    n_chunks = (IndexReader(spark, multichunk_index).postings()
                .where(F.col("term") == toks[0]).count())
    assert n_chunks > 1, n_chunks


def _check_phrase_search_equals_scan(spark, tiny_corpus, root):
    """Body of the phrase-search parity tests over the index at ``root``;
    returns the phrase's tokens."""
    from nextsearch_api_spark.operators.phrase import (
        phrase_match, phrase_search, term_doc_ids)
    from nextsearch_api_spark.operators.query import IndexReader

    reader = IndexReader(spark, root)

    # pick a 2-gram that actually occurs: take one doc's first two kept-ish
    # adjacent tokens
    import re
    txt = tiny_corpus.select("content").first()["content"]
    toks = [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if len(t) >= 2]
    phrase = f"{toks[0]} {toks[1]}"

    accel = [(r["rank"], r["path"], r["n_occurrences"])
             for r in phrase_search(reader, tiny_corpus, phrase, k=10)
             .orderBy("rank").collect()]
    assert accel, f"phrase {phrase!r} should match at least its source doc"

    # scan twin: rank by the same (n_occurrences desc, ENGINE doc_id asc)
    # key — engine ids are assign_doc_ids order, monotone in path here
    docs_meta = reader.docs().select("doc_id", "path")
    scan = (phrase_match(tiny_corpus.withColumnRenamed("content", "text")
                         .join(docs_meta, "path"), phrase)
            .orderBy(F.desc("n_occurrences"), F.asc("doc_id")).limit(10)
            .collect())
    doc2path = {r["doc_id"]: r["path"] for r in docs_meta.collect()}
    want = [(i + 1, doc2path[r["doc_id"]], r["n_occurrences"])
            for i, r in enumerate(scan)]
    assert accel == want

    # conjunctive intersection really is doc-id-only postings decode
    tdi = term_doc_ids(reader, [toks[0]]).collect()
    assert len(tdi) > 0 and all(r["term"] == toks[0] for r in tdi)
    # one row per posting, each a real doc id
    assert len({r["doc_id"] for r in tdi}) == len(tdi) \
        == reader.term_dfs([toks[0]])[toks[0]]
    assert {r["doc_id"] for r in tdi} <= set(doc2path)

    # kept-token term absent from the lexicon → empty, no corpus scan
    assert phrase_search(reader, tiny_corpus,
                         f"{toks[0]} zzzznotaterm").count() == 0

    # all-stopword phrase → scan fallback (no index terms), still exact
    fb = phrase_search(reader, tiny_corpus, "the a", k=5)
    assert fb.columns == ["rank", "doc_id", "path", "n_occurrences"]
    return toks

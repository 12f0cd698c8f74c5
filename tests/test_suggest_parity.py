"""Autocomplete parity vs the pandas oracle (reference trie ranking:
(Σdf desc, term asc), top-10/prefix, len≥2 — api_autocomplete.cpp:33-55,
105-119), serving vs a brute-force ranking over the suggest table's rows,
and randomized serving-vs-pruned-plan equivalence (SURVEY.md §5 items 2,
7)."""

import random

import pytest

from nextsearch_api_spark.config import (
    IndexPaths, SUGGEST_K_MAX, SUGGEST_K_MIN, SUGGEST_MAX_PREFIX_LEN,
)
from nextsearch_api_spark.operators.autocomplete import (
    LazySuggester, split_suggest_input,
)
from nextsearch_api_spark.operators.wand import WandEngine
from nextsearch_api_spark.oracle import suggest_oracle


@pytest.fixture(scope="module")
def lex_pdf(spark, tiny_index):
    root, _ = tiny_index
    return spark.read.parquet(IndexPaths(root).lexicon).select(
        "term", "df").toPandas()


def brute_suggest(rows, q: str, k: int = 5, df_lookup=None) -> list[str]:
    """The suggest rules by brute force over a suggest table's
    (prefix, term, score) rows: the last token's rows ranked by
    (score desc, term asc), the preceding input echoed; a token longer
    than the table's prefix bound completes from ``df_lookup`` when given."""
    k = max(SUGGEST_K_MIN, min(int(k), SUGGEST_K_MAX))
    base, tok = split_suggest_input(q)
    if not tok:
        return []
    if len(tok) > SUGGEST_MAX_PREFIX_LEN and df_lookup is not None:
        ranked = sorted((-df, t) for t, df in df_lookup.items()
                        if t.startswith(tok))
    else:
        ranked = sorted((-score, term) for prefix, term, score in rows
                        if prefix == tok)
    return [base + t for _, t in ranked[:k]]


def _rows(spark, path: str) -> list[tuple]:
    return [tuple(r) for r in spark.read.parquet(path)
            .select("prefix", "term", "score").collect()]


def test_suggester_matches_oracle(spark, tiny_index, lex_pdf):
    root, _ = tiny_index
    sug = LazySuggester(IndexPaths(root).suggest)
    prefixes = ["b", "bu", "buf", "c", "ca", "lo", "ho", "sc", "zz", "x"]
    for p in prefixes:
        got = sug.suggest(p, 10)
        exp = suggest_oracle(lex_pdf, p, 10)
        assert got == exp, f"prefix={p!r}: {got} vs {exp}"


def test_suggest_multiword_echo(spark, tiny_index):
    root, _ = tiny_index
    sug = LazySuggester(IndexPaths(root).suggest)
    out = sug.suggest("find the Buf", 3)
    assert out
    assert all(s.startswith("find the ") for s in out)
    # only the last token is completed; completion is case-normalized
    assert all(s.split()[-1].startswith("buf") for s in out)


def test_wand_random_queries_match_taat(spark, tiny_index, lex_pdf):
    """Random queries: serving (exhaustive TAAT) equals the block-max-pruned
    batch plan and the oracle."""
    from tests.test_wand import assert_matches_pruned_plan

    root, oracle = tiny_index
    w = WandEngine(root)
    vocab = list(lex_pdf["term"])
    rng = random.Random(7)
    cases = []
    for _ in range(25):
        terms = rng.sample(vocab, rng.randint(1, 5))
        cases.append((" ".join(terms), rng.choice([1, 3, 10, 50])))
    assert_matches_pruned_plan(spark, root, w, cases)
    for q, k in cases:
        exp = oracle.search(q, k)
        assert [r["doc_id"] for r in w.search(q, k)["results"]] == list(
            exp["doc_id"]), q


def test_long_prefix_falls_back_to_lexicon_scan(spark, tmp_path):
    """Prefixes beyond the table's 12-char explosion bound must still
    complete (the reference trie is unbounded) when a df lookup is given,
    in LazySuggester and in the multi-segment _MergedSuggester."""
    from nextsearch_api_spark.operators.autocomplete import build_suggest
    from nextsearch_api_spark.operators.autocomplete import _MergedSuggester

    lex = spark.createDataFrame(
        [("supercalifragilistic", 50), ("supercalifornia", 80),
         ("supper", 10), ("buffer", 99)],
        "term string, df long",
    )
    path = str(tmp_path / "suggest")
    build_suggest(lex).write.parquet(path)
    rows = _rows(spark, path)
    dfmap = {r["term"]: r["df"] for r in lex.collect()}
    s = LazySuggester(path, df_lookup=dfmap)
    merged = _MergedSuggester([dfmap])
    # 13-char prefix: not in the table, served by the exact scan
    cases = {"supercalif": ["supercalifornia", "supercalifragilistic"],
             "supercalifrag": ["supercalifragilistic"],
             "supercalifragilistic": ["supercalifragilistic"],
             "supercalifragilisticz": [],
             # short prefixes still use the precomputed table
             "sup": ["supercalifornia", "supercalifragilistic", "supper"]}
    for q, want in cases.items():
        assert s.suggest(q, 5) == merged.suggest(q, 5) == want, q
        assert brute_suggest(rows, q, 5, dfmap) == want, q
    # without the lookup the old behavior (empty) remains
    s2 = LazySuggester(path)
    assert s2.suggest("supercalifrag", 5) == []
    assert brute_suggest(rows, "supercalifrag", 5) == []


class _NoScanDf(dict):
    """A term → df map that answers lookups but refuses to be scanned."""

    def _scan(self, *_):
        raise AssertionError("the df map was scanned by a request")

    __iter__ = keys = values = items = _scan


def test_long_prefix_completion_reads_no_whole_lexicon(spark, tiny_index,
                                                       lex_pdf):
    """A token longer than the table's prefix bound is completed from a
    term list sorted when the suggester opens: after the open, both
    suggesters answer long prefixes exactly with a df map that raises on
    iteration, so no request scans the vocabulary."""
    from nextsearch_api_spark.operators.autocomplete import _MergedSuggester

    root, _ = tiny_index
    path = IndexPaths(root).suggest
    rows = _rows(spark, path)
    dfmap = dict(zip(lex_pdf["term"], lex_pdf["df"].astype(int)))
    # long terms beside the index's own, with prefixes that end in 'z' and
    # '9' (the last letter and digit) and ties on df
    dfmap.update({"supercalifragilistic": 50, "supercalifornia": 80,
                  "supercalifornication": 80, "supercalifraz": 7,
                  "supercalifrazz": 9, "supercalifra9": 4,
                  "supercalifra90": 4, "zzzzzzzzzzzzzz": 2,
                  "zzzzzzzzzzzzzzz": 3, "aaaaaaaaaaaaa9": 1})
    longs = [t for t in dfmap if len(t) > SUGGEST_MAX_PREFIX_LEN]
    probes = {"supercaliforn", "supercalifra9",
              "supercalifraz", "zzzzzzzzzzzzz", "aaaaaaaaaaaaa",
              "aaaaaaaaaaaaa9z", "supercalifragilisticz"}
    for t in longs:
        probes.update({t, t[:SUGGEST_MAX_PREFIX_LEN + 1], t + "0"})
    suggesters = [LazySuggester(path, df_lookup=dict(dfmap)),
                  _MergedSuggester([dfmap])]
    for sug in suggesters:
        sug.df_lookup = _NoScanDf(sug.df_lookup)
    answered = 0
    for p in sorted(probes):
        assert len(p) > SUGGEST_MAX_PREFIX_LEN
        for q in (p, "find the " + p.upper()):
            for k in (1, 3, 10, 25):
                want = brute_suggest(rows, q, k, dfmap)
                answered += bool(want)
                for sug in suggesters:
                    assert sug.suggest(q, k) == want, (type(sug), q, k)
    assert answered


def test_lazy_suggester_matches_collected(spark, tiny_index, lex_pdf):
    """LazySuggester (pyarrow row-group-pruned lookups) and the
    multi-segment _MergedSuggester (over the same df map) must answer
    exactly like a brute-force ranking over the collected suggest table's
    rows on every prefix present in the table, on misses, on multiword
    echo, and on the long-prefix lexicon fallback."""
    from nextsearch_api_spark.operators.autocomplete import _MergedSuggester

    root, _ = tiny_index
    path = IndexPaths(root).suggest
    dfmap = dict(zip(lex_pdf["term"], lex_pdf["df"].astype(int)))
    rows = _rows(spark, path)
    lazy = LazySuggester(path, df_lookup=dfmap)
    merged = _MergedSuggester([dfmap])

    prefixes = {p for p, _, _ in rows}
    assert prefixes
    for p in sorted(prefixes) + ["zz", "x", "qqqqq"]:
        want = brute_suggest(rows, p, 10, dfmap)
        assert lazy.suggest(p, 10) == want, p
        assert merged.suggest(p, 10) == want, p
    want = brute_suggest(rows, "find the Buf", 3, dfmap)
    assert want
    assert lazy.suggest("find the Buf", 3) == want
    assert merged.suggest("find the Buf", 3) == want
    long_tok = max(dfmap, key=len)
    if len(long_tok) > lazy.max_prefix_len:
        want = brute_suggest(rows, long_tok, 5, dfmap)
        assert lazy.suggest(long_tok, 5) == merged.suggest(long_tok, 5) \
            == want


def test_lazy_suggester_reads_bounded_bytes(spark, tmp_path):
    """VERDICT r5 next #1 'done' criterion: with the serving layout
    (prefix-range-partitioned, sorted, small row groups) a lookup must read
    O(1)-ish bytes — a couple of row groups, a small fraction of the table —
    and a repeated lookup must hit the LRU and read nothing."""
    from nextsearch_api_spark.operators.autocomplete import (
        LazySuggester, build_suggest)

    # a synthetic lexicon big enough to span MANY row groups at a 64 KiB
    # parquet block size: 26*26*30 terms -> ~60k suggest rows
    terms = [f"{a}{b}term{i:03d}"
             for a in "abcdefghijklmnopqrstuvwxyz"
             for b in "abcdefghijklmnopqrstuvwxyz"
             for i in range(30)]
    lex = spark.createDataFrame(
        [(t, (hash(t) % 97) + 1) for t in terms], "term string, df long")
    sug = build_suggest(lex).persist()
    out = str(tmp_path / "suggest")
    (sug.repartitionByRange(4, "prefix").sortWithinPartitions("prefix", "rnk")
        .write.mode("overwrite").option("parquet.block.size", 64 << 10)
        .parquet(out))
    total_rows = sug.count()
    sug.unpersist()

    lazy = LazySuggester(out)
    n_rg = lazy.index.num_row_groups
    assert n_rg >= 8, f"layout produced too few row groups to test ({n_rg})"

    for tok in ["ab", "mz", "zz", "qa"]:
        before = lazy.io_counters()
        got = lazy.suggest(tok, 10)
        after = lazy.io_counters()
        rg_read = after["row_groups_read"] - before["row_groups_read"]
        rows = after["rows_scanned"] - before["rows_scanned"]
        # near-disjoint range layout: a lookup touches ~1 row group (allow a
        # file-boundary neighbor), never a table scan
        assert rg_read <= 2 + lazy.index.num_unranged, (tok, rg_read, n_rg)
        assert rows <= total_rows // 4, (tok, rows, total_rows)
        # hot-prefix LRU: the repeat reads zero row groups
        again = lazy.io_counters()
        assert lazy.suggest(tok, 10) == got
        final = lazy.io_counters()
        assert final["row_groups_read"] == again["row_groups_read"]
        assert final["rows_scanned"] == again["rows_scanned"]

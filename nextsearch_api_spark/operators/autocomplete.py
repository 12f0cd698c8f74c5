"""Autocomplete — precomputed per-prefix top-10 suggestions table.

Reference semantics (src/api_autocomplete.cpp): terms scored by df summed
across segments (api_engine.cpp:93-108; one logical segment here ⇒ plain df),
normalized (lowercase alnum, :23-30), len≥2 (:105-110), ranked by
(score desc, term asc) (:113-119), each trie node keeping its best 10
(update_top :33-55). Query: only the LAST alnum token of the input is
completed; the preceding text is echoed as a prefix (:160-169).

Spark-first: instead of a trie we explode every term into its prefixes and
keep the top-10 per prefix with a window — one shuffle, O(total prefix count).
``api.Engine`` opens its suggester when it loads: over one segment,
LazySuggester serves that table by Parquet prefix lookup; over several,
_MergedSuggester computes the same table in RAM from the summed dfs. Both
answer through ``serve_suggest``.
"""

from __future__ import annotations

import heapq
import re
import threading
from bisect import bisect_left
from collections import OrderedDict
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nextsearch_api_spark.config import (
    SUGGEST_K_MAX,
    SUGGEST_K_MIN,
    SUGGEST_MAX_PREFIX_LEN,
    SUGGEST_TOP_PER_PREFIX,
)


def build_suggest(lexicon: DataFrame,
                  top: int = SUGGEST_TOP_PER_PREFIX,
                  max_prefix_len: int = SUGGEST_MAX_PREFIX_LEN) -> DataFrame:
    """lexicon(term, df, ...) → (prefix, term, score, rnk) with rnk ≤ top."""
    pref = (
        lexicon.select("term", F.col("df").alias("score"))
        .where(F.length("term") >= 2)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, least(length(term), {max_prefix_len})),"
                    " i -> substring(term, 1, i))"
                )
            ).alias("prefix"),
            "term",
            "score",
        )
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("score"), F.asc("term"))
    return (
        pref.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top)
    )


_LAST_TOKEN_RE = re.compile(r"([a-z0-9]+)$")


def split_suggest_input(q: str) -> tuple[str, str]:
    """Split input into (echo_base, last_token_normalized) — reference
    api_autocomplete.cpp:160-173."""
    norm = q.lower()
    m = _LAST_TOKEN_RE.search(norm)
    if not m:
        return q, ""
    return q[: m.start(1)], re.sub(r"[^a-z0-9]", "", m.group(1))


def serve_suggest(sug, q: str, k: int) -> list[str]:
    """The suggest rules both suggesters serve by: k clamped to
    [SUGGEST_K_MIN, SUGGEST_K_MAX], only the last token of ``q`` completed
    and the text before it echoed (api_autocomplete.cpp:160-169).

    A token up to ``sug.max_prefix_len`` (the table's explosion bound) is
    completed by ``sug._candidates``. A longer one is completed exactly from
    ``sug.df_lookup`` (term → df) when the suggester has one, as the
    reference trie completes prefixes of any length
    (api_autocomplete.cpp:33-55): the token's matches are one bisected
    range of ``sug._terms``, the lookup's terms sorted once when the
    suggester opened, so a request costs O(log vocabulary + matches)."""
    k = max(SUGGEST_K_MIN, min(int(k), SUGGEST_K_MAX))
    base, tok = split_suggest_input(q)
    if not tok:
        return []
    if len(tok) <= sug.max_prefix_len:
        cands = sug._candidates(tok)
    elif sug.df_lookup is None:
        cands = []
    else:
        terms, df = sug._terms, sug.df_lookup
        # tok is [a-z0-9]+, so every term it prefixes sorts below its
        # successor string
        hi = tok[:-1] + chr(ord(tok[-1]) + 1)
        cands = heapq.nsmallest(
            k, terms[bisect_left(terms, tok):bisect_left(terms, hi)],
            key=lambda t: (-df[t], t))
    return [base + c for c in cands[:k]]


class _MergedSuggester:
    """The suggest table of several segments, built in RAM when the engine
    opens: each segment's term → df map summed (the reference's
    cross-segment df aggregation, api_engine.cpp:93-108), then what
    build_suggest writes for one index (each prefix up to
    SUGGEST_MAX_PREFIX_LEN keeps its top SUGGEST_TOP_PER_PREFIX terms by
    (df desc, term asc)). No segment's own top-10 table holds the summed
    ranking, so the table is computed here."""

    def __init__(self, dfs: "Sequence[dict[str, int]]"):
        df: dict[str, int] = {}
        for seg_df in dfs:
            for term, c in seg_df.items():
                df[term] = df.get(term, 0) + int(c)
        by_prefix: dict[str, list[tuple[int, str]]] = {}
        for term, c in df.items():
            for i in range(1, min(len(term), SUGGEST_MAX_PREFIX_LEN) + 1):
                by_prefix.setdefault(term[:i], []).append((-c, term))
        self.table = {p: [t for _, t in sorted(v)[:SUGGEST_TOP_PER_PREFIX]]
                      for p, v in by_prefix.items()}
        self.df_lookup = df
        self._terms = sorted(df)
        self.max_prefix_len = SUGGEST_MAX_PREFIX_LEN

    def _candidates(self, tok: str) -> list[str]:
        return self.table.get(tok, [])

    def suggest(self, q: str, k: int = 5) -> list[str]:
        return serve_suggest(self, q, k)


class LazySuggester:
    """Scale-out suggest serving: answer lookups straight from the suggest
    Parquet through a footer index instead of collecting the table into
    driver RAM (VERDICT r5 next #1 — at a 100 TB-corpus vocabulary a
    collected dict would be the one serving structure that grows with
    corpus size).

    Works on any suggest layout, but is O(1)-ish bytes per lookup when the
    table is written prefix-range-partitioned + sorted (the build's serving
    layout, ``write_suggest_sorted``): each row group's footer then carries a
    tight, near-disjoint [min, max] prefix range, so one lookup touches ~1
    row group. The footers are scanned once at open by the shared
    :class:`RowGroupIndex` (O(#row-groups) driver RAM; row groups without
    prefix stats always read), and hot prefix buckets stay in a bounded LRU.

    ``io_counters()`` exposes (lookups, row_groups_read, rows_scanned) so
    behavior tests can assert boundedness instead of trusting the plan.
    """

    def __init__(self, suggest_path: str,
                 df_lookup: "dict[str, int] | None" = None,
                 max_prefix_len: int = SUGGEST_MAX_PREFIX_LEN,
                 max_cached_prefixes: int = 4096):
        from nextsearch_api_spark.functions.rowgroups import RowGroupIndex

        self.df_lookup = df_lookup
        # in term order already when it is a WandEngine lexicon, so sorted()
        # runs in about linear time
        self._terms = sorted(df_lookup) if df_lookup is not None else []
        self.max_prefix_len = max_prefix_len
        self._max_cached = max(1, int(max_cached_prefixes))
        self.index = RowGroupIndex(suggest_path, "prefix")
        for missing in ("term", "rnk"):
            if missing not in self.index.schema.names:
                raise ValueError(
                    f"suggest table at {suggest_path} lacks column "
                    f"'{missing}'")
        self._cache: "OrderedDict[str, list[str]]" = OrderedDict()
        self._lock = threading.Lock()
        self._lookups = 0

    def suggest(self, q: str, k: int = 5) -> list[str]:
        return serve_suggest(self, q, k)

    def io_counters(self) -> dict:
        with self._lock:
            return {"lookups": self._lookups, **self.index.counters()}

    def _read_bucket(self, tok: str) -> list[str]:
        t = self.index.read([tok], ["term", "rnk"])
        return [term for _, term in sorted(zip(t.column("rnk").to_pylist(),
                                               t.column("term").to_pylist()))]

    def _candidates(self, tok: str) -> list[str]:
        with self._lock:
            self._lookups += 1
            if tok in self._cache:
                self._cache.move_to_end(tok)
                return self._cache[tok]
        terms = self._read_bucket(tok)
        with self._lock:
            self._cache[tok] = terms
            self._cache.move_to_end(tok)
            while len(self._cache) > self._max_cached:
                self._cache.popitem(last=False)
        return terms

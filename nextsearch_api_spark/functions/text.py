"""Tokenization & normalization — reference-parity text functions.

Reference semantics (include/textutil.hpp:13-37):
  * tokenize: keep maximal runs of ``isalnum`` chars, lowercased; everything
    else is a delimiter (ASCII / C locale).
  * keep only tokens with len >= 2 (src/ForwardIndex.cpp:147) that are not one
    of the 24 fixed English stopwords (textutil.hpp:31-37).

The corpus contract (FIXTURES.md) is ASCII-only content, where Spark's Unicode
``lower()`` + ``[^a-z0-9]+`` split agrees exactly with the reference's
ASCII ``std::tolower`` + ``std::isalnum`` — see SURVEY.md §7.3 for the
documented non-ASCII divergence.

Three implementations of the one rule, same results on that contract:
  * ``kept_tokens_expr`` — Catalyst expressions (split / filter / lower),
    runs inside whole-stage codegen; used by SQL-shaped operators.
  * ``arrow_kept_tokens`` — Arrow C kernels over a string array; every
    index write (batch build, streaming ingest) tokenizes through it.
  * ``kept_tokens_py`` — plain Python; query parsing and the oracle.

Outside ASCII the Arrow and Python lowercasings can differ: U+0130 (``İ``)
lowercases to ``i`` + U+0307 in Python, which splits ``"xİy"`` into
``["xi", "y"]`` and keeps ``["xi"]``; Arrow lowercases it to ``i`` alone and
keeps ``["xiy"]``.
"""

from __future__ import annotations

import re
from typing import List

from pyspark.sql import Column
from pyspark.sql import functions as F

from nextsearch_api_spark.config import MIN_TOKEN_LEN

# The reference's exact stoplist, verbatim (include/textutil.hpp:31-37) — 24 words.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "for", "on", "with",
    "by", "as", "is", "are", "was", "were", "be", "been", "it", "this",
    "that", "from", "at",
)
STOPWORD_SET = frozenset(STOPWORDS)

_TOKEN_RE = re.compile(r"[a-z0-9]+")


def tokens_expr(col: Column | str) -> Column:
    """All tokens of ``col`` (lowercased [a-z0-9]+ runs), before length /
    stopword filtering. JVM-side; stays inside whole-stage codegen."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.lower(c), r"[^a-z0-9]+")
    return F.filter(toks, lambda x: x != F.lit(""))


def kept_tokens_expr(col: Column | str, min_len: int = MIN_TOKEN_LEN) -> Column:
    """Tokens surviving the reference's len>=2 + stopword filter
    (ForwardIndex.cpp:147, api_engine.cpp:391-397)."""
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.filter(
        tokens_expr(col),
        lambda x: (F.length(x) >= F.lit(min_len)) & ~F.array_contains(sw, x),
    )


def tokenize_py(text: str) -> List[str]:
    """Reference tokenizer, plain Python (oracle + tests).
    Exactly: lowercase, [a-z0-9]+ runs (textutil.hpp:13-28)."""
    return _TOKEN_RE.findall(text.lower())


def kept_tokens_py(text: str, min_len: int = MIN_TOKEN_LEN) -> List[str]:
    return [
        t for t in tokenize_py(text)
        if len(t) >= min_len and t not in STOPWORD_SET
    ]


def arrow_kept_tokens(content: "pa.Array") -> "tuple[pa.Array, pa.Array]":  # noqa: F821
    """Kept tokens of an Arrow string array, in Arrow C kernels only (no
    Python string objects) → (tokens, parent_row): the flat kept tokens in
    document order and, for each, the index of its row in ``content``.
    Lowercase, split on ``[^a-z0-9]+``, keep len ≥ MIN_TOKEN_LEN and
    non-stopwords; null rows yield no tokens."""
    import pyarrow as pa
    import pyarrow.compute as pc

    toks = pc.split_pattern_regex(pc.utf8_lower(content), "[^a-z0-9]+")
    parent = pc.list_parent_indices(toks)
    flat = pc.list_flatten(toks)
    keep = pc.and_kleene(
        pc.greater_equal(pc.utf8_length(flat), MIN_TOKEN_LEN),
        pc.invert(pc.is_in(flat, value_set=pa.array(STOPWORDS, pa.string()))),
    )
    return pc.filter(flat, keep), pc.filter(parent, keep)

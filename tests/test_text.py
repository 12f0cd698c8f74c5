"""Tokenizer parity (SURVEY.md §5 item 2): Spark expr == Arrow kernel ==
reference semantics (lowercase [a-z0-9]+ runs, len≥2, 24-word stoplist)."""

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from nextsearch_api_spark.functions.text import (
    STOPWORD_SET, STOPWORDS, arrow_kept_tokens, kept_tokens_py, tokenize_py,
)

ASCII_TEXT = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=200
)


def test_stopword_list_is_reference_verbatim():
    assert STOPWORDS == (
        "the", "a", "an", "and", "or", "of", "to", "in", "for", "on", "with",
        "by", "as", "is", "are", "was", "were", "be", "been", "it", "this",
        "that", "from", "at",
    )
    assert len(STOPWORD_SET) == 24


@given(ASCII_TEXT)
@settings(max_examples=200, deadline=None)
def test_tokenize_matches_regex_reference(s):
    assert tokenize_py(s) == re.findall(r"[a-z0-9]+", s.lower())


def test_tokenize_examples():
    assert tokenize_py("Load_Config!") == ["load", "config"]
    assert tokenize_py("a1b c") == ["a1b", "c"]
    assert tokenize_py("HttpServer2 v2") == ["httpserver2", "v2"]
    assert kept_tokens_py("the cat AND the Hat x") == ["cat", "hat"]
    assert kept_tokens_py("!!! ???") == []


def _arrow_kept_lists(texts):
    import pyarrow as pa

    toks, parent = arrow_kept_tokens(pa.array(texts, type=pa.string()))
    out = [[] for _ in texts]
    for t, p in zip(toks.to_pylist(), parent.to_pylist()):
        out[p].append(t)
    return out


@given(st.lists(ASCII_TEXT, max_size=20))
@settings(max_examples=50, deadline=None)
def test_arrow_tokenizer_matches_python(texts):
    assert _arrow_kept_lists(texts) == [kept_tokens_py(t) for t in texts]


def test_arrow_tokenizer_dotted_capital_i():
    """Outside the ASCII corpus contract: U+0130 lowercases to 'i' + U+0307
    in Python (a delimiter there) but to 'i' alone in Arrow, so Arrow keeps
    one token where Python splits."""
    assert tokenize_py("xİy") == ["xi", "y"]
    assert kept_tokens_py("xİy") == ["xi"]
    assert _arrow_kept_lists(["xİy", None, ""]) == [["xiy"], [], []]


def test_spark_expr_matches_python(spark):
    from pyspark.sql import functions as F

    from nextsearch_api_spark.functions.text import kept_tokens_expr, tokens_expr

    samples = [
        "Load_Config! the cat", "a1b c HttpServer2", "", "!!! ???",
        "the a an and or of to in", "hotterm hotterm HOTTERM",
        "x86 utf8 sha256sum __init__ foo.bar(baz)",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "content string")
    rows = df.select(
        "content",
        tokens_expr("content").alias("all_toks"),
        kept_tokens_expr("content").alias("kept"),
    ).collect()
    for r in rows:
        assert r["all_toks"] == tokenize_py(r["content"]), r["content"]
        assert r["kept"] == kept_tokens_py(r["content"]), r["content"]

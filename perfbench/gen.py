"""Seeded workload inputs: query pools, Zipf draws, cold query streams,
probe sets and batches.

Every generator is a pure function of its ``numpy.random.Generator`` and the
lexicon it is given, so the same seed yields the same traffic. The serving
corpus is fixed; the seed picks the traffic sent to it.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np

ZIPF_S = 1.1
KS = (10, 100)
OOV_PREFIX = "qzx"


def rank_terms(lexicon: Sequence[tuple[str, int]]) -> list[tuple[str, int]]:
    """Lexicon (term, df) pairs ordered by (df desc, term asc)."""
    return sorted(lexicon, key=lambda td: (-td[1], td[0]))


def term_classes(lexicon: Sequence[tuple[str, int]]) -> dict[str, list[str]]:
    """Classes of terms by df relative to the largest df: hot [1/2, 1],
    mid [1/5, 1/2) and rare (< 1/50). Each band spans at most 2.5× in df
    (rare terms cost little whatever their df), so the postings a query
    template draws vary little with the seed. Each class keeps rank order."""
    ranked = rank_terms(lexicon)
    top = ranked[0][1] if ranked else 0
    out: dict[str, list[str]] = {"hot": [], "mid": [], "rare": []}
    for t, df in ranked:
        if df * 2 >= top:
            out["hot"].append(t)
        elif df * 5 >= top:
            out["mid"].append(t)
        elif df * 50 < top:
            out["rare"].append(t)
    for name, terms in out.items():
        if not terms:
            raise ValueError(f"lexicon has no {name} terms")
    return out


def zipf_cdf(n: int, s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(p / p.sum())


def zipf_draws(rng: np.random.Generator, n_items: int, size: int,
               s: float = ZIPF_S) -> np.ndarray:
    """``size`` item ranks in [0, n_items), rank r drawn ∝ 1/(r+1)^s."""
    idx = np.searchsorted(zipf_cdf(n_items, s), rng.random(size), side="right")
    return np.minimum(idx, n_items - 1)


def _oov_term(rng: np.random.Generator, vocab: "set[str]") -> str:
    while True:
        t = f"{OOV_PREFIX}{int(rng.integers(0, 1 << 40)):x}"
        if t not in vocab:
            return t


def query_pool(rng: np.random.Generator, ranked_terms: Sequence[str],
               size: int, exclude: "set[tuple[str, int]] | None" = None,
               ) -> list[tuple[str, int]]:
    """``size`` distinct (query, k) pairs of 1–4 terms drawn Zipf over the
    df rank, none in ``exclude``. Pool position is the pair's popularity
    rank; every fourth rank asks for k=100 and the rest for k=10, so the
    share of large responses in the traffic does not vary with the seed."""
    cdf = zipf_cdf(len(ranked_terms))
    seen: set[tuple[str, int]] = set(exclude or ())
    pool: list[tuple[str, int]] = []
    while len(pool) < size:
        n = int(rng.integers(1, 5))
        idx = np.minimum(np.searchsorted(cdf, rng.random(n), side="right"),
                         len(ranked_terms) - 1)
        k = KS[1] if len(pool) % 4 == 3 else KS[0]
        key = (" ".join(ranked_terms[i] for i in idx), k)
        if key not in seen:
            seen.add(key)
            pool.append(key)
    return pool


# query template: query j of every block of ``size`` has 1 + j % 4 terms
# whose classes are read, in order, from this cycle; every fifth multi-term
# query repeats its first term, and k alternates 10/100. Only the terms drawn
# within each class change with the seed, so every block carries about the
# same postings volume.
TEMPLATE_CLASS_CYCLE = ("hot", "mid", "rare", "mid", "oov", "rare", "mid")
BLOCK = 16


def batch_stream(rng: np.random.Generator, classes: dict[str, list[str]],
                 size: int = BLOCK) -> Iterator[list[tuple[str, int]]]:
    """Endless stream of ``size``-query batches on the query template."""
    vocab = {t for terms in classes.values() for t in terms}
    while True:
        batch: list[tuple[str, int]] = []
        pos = 0
        for j in range(size):
            n = 1 + j % 4
            cls = [TEMPLATE_CLASS_CYCLE[(pos + i) % len(TEMPLATE_CLASS_CYCLE)]
                   for i in range(n)]
            pos += n
            terms = [_oov_term(rng, vocab) if c == "oov" else
                     classes[c][int(rng.integers(0, len(classes[c])))]
                     for c in cls]
            if j % 5 == 4 and n > 1:
                terms[-1] = terms[0]
            batch.append((" ".join(terms), KS[j % 2]))
        yield batch


def cold_stream(rng: np.random.Generator, classes: dict[str, list[str]],
                exclude: "set[tuple[str, int]] | None" = None,
                ) -> Iterator[tuple[str, int]]:
    """Endless stream of (query, k) pairs on the query template, each distinct
    from every earlier one and from ``exclude``: a repeat gets one more
    out-of-vocabulary term, which changes its key but not its answer."""
    vocab = {t for terms in classes.values() for t in terms}
    seen = set(exclude or ())
    for batch in batch_stream(rng, classes):
        for q, k in batch:
            while (q, k) in seen:
                q = f"{q} {_oov_term(rng, vocab)}"
            seen.add((q, k))
            yield q, k


def suggest_pool(rng: np.random.Generator, ranked_terms: Sequence[str],
                 size: int) -> list[tuple[str, int]]:
    """``size`` distinct (input, k) suggest requests: a 1–6 character prefix
    of a Zipf-drawn term, sometimes after an echoed leading word."""
    cdf = zipf_cdf(len(ranked_terms))
    seen: set[tuple[str, int]] = set()
    pool: list[tuple[str, int]] = []
    while len(pool) < size:
        i = min(int(np.searchsorted(cdf, rng.random(), side="right")),
                len(ranked_terms) - 1)
        term = ranked_terms[i]
        text = term[: int(rng.integers(1, min(6, len(term)) + 1))]
        if rng.random() < 0.25:
            text = ranked_terms[int(rng.integers(0, len(ranked_terms)))] + " " + text
        key = (text, int(rng.choice((5, 10))))
        if key not in seen:
            seen.add(key)
            pool.append(key)
    return pool


def probe_queries(classes: dict[str, list[str]],
                  vocab: "set[str]") -> list[tuple[str, int]]:
    """Fixed search probes: hot, out-of-vocabulary, duplicate-term, k=100,
    stopword-only and mixed-case/punctuated inputs."""
    hot, mid, rare = classes["hot"][0], classes["mid"][0], classes["rare"][-1]
    hottest = "hotterm" if "hotterm" in vocab else hot
    oov = OOV_PREFIX + "probe"
    while oov in vocab:
        oov += "x"
    return [
        (hottest, 10), (hottest, 100),
        (f"{hot} {hot} {mid}", 10),
        (oov, 10), (f"{hottest} {oov}", 100),
        (f"{mid} {rare}", 100), (rare, 10),
        (f"{hot.upper()}! {mid}?", 10),
        ("the a an", 10),
        (f"{hottest} {mid} {rare} {oov}", 100),
    ]


def probe_suggests(classes: dict[str, list[str]]) -> list[tuple[str, int]]:
    """Fixed suggest probes: short and long prefixes, no match, echo base."""
    hot, mid, rare = classes["hot"][0], classes["mid"][0], classes["rare"][-1]
    return [(hot[:2], 5), (mid[:3], 10), (rare[:4], 5),
            (OOV_PREFIX + "zz", 5), (f"{hot} {mid[:2]}", 10), (hot, 3)]

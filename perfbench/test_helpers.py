"""Unit tests for the benchmark's own helpers.

    python3 -m pytest perfbench -q
"""

import json
import math
import subprocess
import sys
from itertools import islice
from pathlib import Path

import numpy as np
import pytest

from perfbench import gen
from perfbench.stats import (
    PERCENTILES, steal_pct, summarize, tail_percentile, tree_cpu_s,
    windowed_rate,
)
from perfbench.trace import Tracer, self_time, span_cost_s

LEXICON = [(f"hot{i}", 1000 - i) for i in range(5)] + \
    [(f"mid{i}", 400 - i) for i in range(40)] + \
    [(f"between{i}", 50 + i) for i in range(20)] + \
    [(f"rare{i}", 1 + i % 7) for i in range(300)]


# ------------------------------------------------------------ percentiles --

@pytest.mark.parametrize("n, p", [
    (1000, 99.0), (500, 95.0), (100, 90.0), (200, 95.0), (100_000, 99.0),
])
def test_tail_percentile_picks_highest_with_ten_beyond(n, p):
    got_p, value = tail_percentile(list(range(n)))
    assert got_p == p
    rank = math.ceil(round(p * n / 100, 9))
    assert value == rank - 1
    assert n - rank >= 10


@pytest.mark.parametrize("n", [1, 2, 19, 99])
def test_tail_percentile_falls_back_to_max(n):
    assert tail_percentile([float(x) for x in range(n)]) == (100.0, n - 1)


def test_tail_percentile_is_the_highest_qualifying_candidate():
    rng = np.random.default_rng(0)
    for n in rng.integers(100, 50_000, size=40):
        n = int(n)
        p, _ = tail_percentile(list(rng.random(n)))
        higher = [q for q in PERCENTILES if q > p]
        for q in higher:
            assert n - math.ceil(round(q * n / 100, 9)) < 10


def test_tail_percentile_keeps_a_fixed_candidate_as_n_varies():
    for n in (100, 180, 260, 5000):
        assert tail_percentile(list(range(n)), candidates=(90.0,))[0] == 90.0
    assert tail_percentile(list(range(99)), candidates=(90.0,))[0] == 100.0


def test_serve_minimum_op_counts_keep_the_tail_percentile():
    from perfbench.workloads import MIN_OPS, TAIL_P
    for name, p in TAIL_P.items():
        n = MIN_OPS[name]
        got_p, _ = tail_percentile(list(range(n)), candidates=(p,))
        assert got_p == p
        assert n - math.ceil(round(p * n / 100, 9)) >= 20


def test_tree_cpu_counts_an_exited_child():
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert tree_cpu_s() - before >= 0.2


def test_cache_key_follows_the_layout_settings(monkeypatch):
    from perfbench import workloads
    key = workloads._cache_key()
    assert workloads._cache_key() == key
    monkeypatch.setattr(workloads, "layout_conf",
                        lambda: {"spark.sql.shuffle.partitions": "1"})
    assert workloads._cache_key() != key


def test_summarize_orders_median_and_tail():
    s = summarize([5.0, 1.0, 3.0] * 40)
    assert s["n"] == 120 and s["p50"] == 3.0 and s["tail"] == 5.0


def test_tail_percentile_rejects_empty():
    with pytest.raises(ValueError):
        tail_percentile([])


def test_windowed_rate_ignores_a_burst():
    even = [i / 100 for i in range(800)]          # 100 ops/s for 8 s
    assert windowed_rate(even, 8.0) == pytest.approx(100.0)
    stalled = [e for e in even if not 1.0 <= e < 2.0]   # one window lost
    assert windowed_rate(stalled, 8.0) == pytest.approx(100.0)
    assert len(stalled) / 8.0 < 90


def test_steal_pct():
    before = [0, 0, 0, 0, 0, 0, 0, 0]
    after = [50, 0, 20, 20, 0, 0, 0, 10]
    assert steal_pct(before, after) == pytest.approx(10.0)


# ---------------------------------------------------------------- tracing --

def _span(tr, name, start, end, parent):
    from perfbench.trace import Span
    tr.spans.append(Span(name, start, end, parent, 1))
    return len(tr.spans) - 1


def test_self_time_subtracts_union_of_children_clipped_to_parent():
    tr = Tracer()
    root = _span(tr, "api", 0.0, 10.0, None)
    kids = [_span(tr, "a", 1.0, 3.0, root), _span(tr, "b", 2.0, 5.0, root),
            _span(tr, "c", 8.0, 12.0, root)]
    assert self_time(tr.spans, root, kids) == pytest.approx(10.0 - 4.0 - 2.0)


def test_self_time_without_children_is_duration():
    tr = Tracer()
    root = _span(tr, "api", 2.0, 2.5, None)
    assert self_time(tr.spans, root, []) == pytest.approx(0.5)


def test_spans_nest_and_carry_request_id():
    tr = Tracer()
    tr.active, tr.request_id = True, 7
    with tr.span("op"):
        with tr.span("child"):
            pass
    tr.active = False
    with tr.span("ignored") as sp:
        assert sp is None
    assert [s.name for s in tr.spans] == ["op", "child"]
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None
    assert all(s.request_id == 7 for s in tr.spans)
    assert tr.children() == {0: [1]}
    assert tr.spans[1].end >= tr.spans[1].start


def test_span_cost_is_small():
    assert 0.0 <= span_cost_s(2000) < 1e-3


class _Base:
    def work(self, x):
        return x + 1


class _Sub(_Base):
    pass


def test_wrap_records_spans_and_unwrap_restores_inherited_method():
    tr = Tracer()
    seen = []
    tr.wrap(_Sub, "work", "sub.work", before=lambda args: args[1],
            after=lambda sp, st, args, out: seen.append((st, out)))
    assert _Sub().work(1) == 2  # inactive: no span
    tr.active = True
    assert _Sub().work(2) == 3
    assert [s.name for s in tr.spans] == ["sub.work"] and seen == [(2, 3)]
    tr.unwrap_all()
    assert "work" not in vars(_Sub) and _Sub.work is _Base.work


# ------------------------------------------------------------- generators --

def test_term_classes_split_by_df():
    classes = gen.term_classes(LEXICON)
    assert classes["hot"] == [f"hot{i}" for i in range(5)]
    assert set(classes["mid"]) == {f"mid{i}" for i in range(40)}
    assert len(classes["rare"]) == 300
    assert not any(t.startswith("between") for c in classes.values() for t in c)


def test_zipf_draws_deterministic_and_skewed():
    a = gen.zipf_draws(np.random.default_rng(3), 1000, 20_000)
    b = gen.zipf_draws(np.random.default_rng(3), 1000, 20_000)
    assert np.array_equal(a, b)
    assert a.min() >= 0 and a.max() < 1000
    counts = np.bincount(a, minlength=1000)
    assert counts[0] == counts.max()
    # rank 0 vs rank 9 frequency ratio ≈ 10^1.1
    assert 6 < counts[0] / counts[9] < 20


def test_query_pool_deterministic_distinct():
    terms = [t for t, _ in gen.rank_terms(LEXICON)]
    a = gen.query_pool(np.random.default_rng(5), terms, 300)
    b = gen.query_pool(np.random.default_rng(5), terms, 300)
    assert a == b and len(set(a)) == 300
    assert all(1 <= len(q.split()) <= 4 and k in gen.KS for q, k in a)
    assert a != gen.query_pool(np.random.default_rng(6), terms, 300)


def test_cold_stream_unique_and_warmup_disjoint_from_timed():
    classes = gen.term_classes(LEXICON)
    pool = gen.query_pool(np.random.default_rng(1),
                          [t for t, _ in gen.rank_terms(LEXICON)], 200)
    stream = gen.cold_stream(np.random.default_rng(9), classes, set(pool))
    warm = list(islice(stream, 50))
    timed = list(islice(stream, 2000))
    assert not set(warm) & set(timed)
    assert len(set(timed)) == len(timed)
    assert not set(pool) & (set(warm) | set(timed))
    again = gen.cold_stream(np.random.default_rng(9), classes, set(pool))
    assert list(islice(again, 2050)) == warm + timed
    vocab = {t for t, _ in LEXICON}
    oov = [t for q, _ in timed for t in q.split() if t not in vocab]
    assert oov and all(t.startswith(gen.OOV_PREFIX) for t in oov)
    assert any(len(set(q.split())) < len(q.split()) for q, _ in timed)


def test_batch_stream_deterministic_on_a_fixed_template():
    classes = gen.term_classes(LEXICON)
    a = list(islice(gen.batch_stream(np.random.default_rng(4), classes, 16), 30))
    b = list(islice(gen.batch_stream(np.random.default_rng(4), classes, 16), 30))
    assert a == b and a[0] != a[1]
    shape = [[(len(q.split()), k) for q, k in batch] for batch in a]
    assert all(s == shape[0] for s in shape) and len(shape[0]) == 16


def test_traced_serve_blocks_cover_the_template_evenly():
    from perfbench.workloads import _traced
    on = [i % gen.BLOCK for i in range(6 * gen.BLOCK) if _traced(i)]
    off = [i % gen.BLOCK for i in range(6 * gen.BLOCK) if not _traced(i)]
    assert on and sorted(on) == sorted(off)


def test_probes_cover_required_cases():
    classes = gen.term_classes(LEXICON)
    vocab = {t for t, _ in LEXICON}
    probes = gen.probe_queries(classes, vocab)
    assert any(k == 100 for _, k in probes)
    assert any(q.split() and all(t not in vocab for t in q.split())
               for q, _ in probes)
    assert any(len(set(q.split())) < len(q.split()) for q, _ in probes)
    assert probes == gen.probe_queries(classes, vocab)


# --------------------------------------------------------------- contract --

def test_benchmark_json_matches_code():
    from perfbench.layers import LAYER_METRICS
    from perfbench.workloads import E2E_METRICS, WORKLOADS

    spec = json.loads((Path(__file__).resolve().parent.parent
                       / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(E2E_METRICS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        [(n, u, b) for n, u, b, _ in LAYER_METRICS]
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])

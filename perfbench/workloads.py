"""The four workloads, their set-up and their correctness checks.

Every workload is a closed loop with one client in this process and no think
time. Spark runs at ``local[nproc]``. The serving corpus is fixed
(``SERVE_CORPUS_SEED``) and its index is built once per checkout, source tree
and Spark layout settings, by a child process that exits before the measured
process starts, then reused by every serve and batch run. The ``--seed``
argument picks the traffic (and the build workload's corpus).

Each operation is timed twice: client wall time, and CPU time (user + system,
every thread, and for Spark workloads the JVM and Python workers too). On a
shared host wall time moves with hypervisor steal; CPU time mostly does not.
"""

from __future__ import annotations

import gc
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass, field
from itertools import islice
from pathlib import Path

import numpy as np

from perfbench import gen, layers
from perfbench.stats import (
    cpu_times, descendants, dir_bytes, nproc, rss_mb, steal_pct, summarize,
    tail_label, tree_cpu_s, windowed_rate,
)
from perfbench.trace import Tracer, span_cost_s

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
PACKAGE = ROOT / "nextsearch_api_spark"

SERVE_DOCS = 50_000
SERVE_CORPUS_SEED = 20_240_601
BUILD_DOCS = 8_000
BUILD_WARMUP_DOCS = 500
POOL_SIZE = 150            # distinct serve_zipf (query, k) pairs
SUGGEST_POOL_SIZE = 200
SUGGEST_SHARE = 0.05
WARMUP_QUERIES = 12
WARMUP_SUGGESTS = 10
SETUP_REPEATS = 3
SAMPLE_CAP = 1 << 21       # timed serve operations recorded per run
CHECK_EVERY = 10
MAX_REF_CHECKS = 30        # distinct sampled answers checked against TAAT
WARMUP_SEED = 7
BATCH_SIZE = gen.BLOCK     # one query-template block per batch
BATCH_CHECK_EVERY = 4
# untimed warm-up batches: the JVM's JIT and the Python workers settle over
# the first batches (CPU per batch falls from ~10 s to ~7 s over five or six)
BATCH_WARMUPS = 5
SCORE_RTOL = 1e-6

# timed operations a run makes at the least, however slow the host, and the
# tail percentile each serve workload reports: the sample count, so the
# percentile's meaning, does not change with the host's speed (each minimum
# leaves >= 20 samples beyond its percentile). Build and batch runs hold a
# few operations and report their maximum.
# VmRSS is sampled this many times over a serve run's timed phase (and after
# every build or batch) and reported as the median, so that one operation's
# temporaries at the end of the run do not decide it
RSS_SAMPLES = 16
MIN_OPS = {"serve_zipf": 2000, "serve_cold": 200, "build": 1, "batch_rank": 3}
TAIL_P = {"serve_zipf": 99.0, "serve_cold": 90.0}

# the end-to-end metrics of BENCHMARK.json. Client wall times (op_p50_ms,
# op_tail_ms, throughput_per_s and the per-operation names of the issue) are
# printed in the report but not returned: on a shared host they move with
# hypervisor steal by more than any bound allows
E2E_METRICS = (
    ("setup_s", "s"),
    ("op_cpu_p50_ms", "ms"),
    ("op_cpu_tail_ms", "ms"),
    ("rss_mb", "MB"),
    ("index_bytes_per_corpus_byte", "ratio"),
)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    lines: list[str] = field(default_factory=list)

    def fail(self, msg: str, n: int = 1) -> None:
        self.failed += n
        if len(self.errors) < 20:
            self.errors.append(msg)

    def say(self, line: str) -> None:
        self.lines.append(line)


# ------------------------------------------------------------------ spark --

def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def layout_conf() -> dict[str, str]:
    """The Spark settings that shape an index's on-disk layout (partition
    counts, so file counts and sizes)."""
    n = nproc()
    return {"spark.master": f"local[{n}]",
            "spark.sql.shuffle.partitions": str(2 * n)}


class SparkRun:
    """A local Spark session whose JVM and Python workers are all stopped,
    and waited for, on exit."""

    def __init__(self, work: Path):
        self.work = work

    def __enter__(self):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        from pyspark.sql import SparkSession
        # the launcher JVM and the driver JVM keep their temporary files in
        # the run directory and write no hsperfdata
        java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}"
        os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
        t0 = time.perf_counter()
        session = SparkSession.builder.appName("perfbench")
        for key, value in layout_conf().items():
            session = session.config(key, value)
        self.spark = (
            session
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "2g")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.local.dir", str(self.work / "spark-local"))
            .config("spark.driver.extraJavaOptions", java_opts)
            .config("spark.sql.warehouse.dir", str(self.work / "warehouse"))
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        return self

    def __exit__(self, *exc):
        from pyspark import SparkContext
        kids = descendants(os.getpid())
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in kids) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in kids:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        while any(_alive(p) for p in kids) and time.monotonic() < deadline + 10:
            time.sleep(0.1)
        return False


# ----------------------------------------------------------------- inputs --

def build_corpus_and_index(spark, docs: int, seed: int, dest: Path) -> dict:
    """Generate and materialize a seeded corpus, build its index."""
    from nextsearch_api_spark.operators.build import build_index
    from nextsearch_api_spark.sources.corpus import (
        generate_corpus, read_corpus, write_corpus,
    )
    corpus, index = dest / "corpus", dest / "index"
    t0 = time.perf_counter()
    write_corpus(generate_corpus(spark, docs, seed=seed), str(corpus))
    t1 = time.perf_counter()
    metrics = build_index(spark, read_corpus(spark, str(corpus)), str(index),
                          resume=False)
    t2 = time.perf_counter()
    return {"docs": docs, "corpus_bytes": dir_bytes(str(corpus)),
            "gen_s": t1 - t0, "build_s": t2 - t1,
            "build": _build_record(metrics, str(index))}


def _build_record(metrics: dict, index: str) -> dict:
    return {"stages": layers.stage_seconds(metrics),
            "postings_bytes": dir_bytes(os.path.join(index, "postings")),
            "ids_bytes": dir_bytes(os.path.join(index, "ids"))}


def _cache_key() -> str:
    """Hash of what decides the cached serving index: corpus size and seed,
    the Spark layout settings and the package sources."""
    h = hashlib.sha256(json.dumps([SERVE_DOCS, SERVE_CORPUS_SEED,
                                   layout_conf()]).encode())
    for path in sorted(PACKAGE.rglob("*.py")):
        h.update(str(path.relative_to(ROOT)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def make_serving_cache() -> None:
    """Build the serving index into the cache (child-process entry point).
    The build lands under a temporary name and is renamed into place, so an
    interrupted build is never reused; entries of other keys are removed."""
    cache = WORK / "cache"
    final = cache / f"serve-{_cache_key()}"
    dest = cache / f"tmp-{os.getpid()}"
    run_dir = WORK / f"prep-{os.getpid()}"
    shutil.rmtree(dest, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    try:
        with SparkRun(run_dir) as sr:
            info = build_corpus_and_index(sr.spark, SERVE_DOCS,
                                          SERVE_CORPUS_SEED, dest)
        shutil.rmtree(dest / "corpus")
        (dest / "meta.json").write_text(json.dumps(info))
        try:
            os.rename(dest, final)
        except OSError:  # another run installed it first
            pass
    finally:
        shutil.rmtree(dest, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)
    for old in cache.iterdir():
        if old.name.startswith("serve-") and old != final:
            shutil.rmtree(old, ignore_errors=True)


def serving_index(out: Outcome) -> tuple[str, dict]:
    """Index over the fixed serving corpus → (index path, build info). On a
    cache miss a child process builds it, so the measured process never
    holds the build's Spark session or its memory."""
    final = WORK / "cache" / f"serve-{_cache_key()}"
    if not (final / "meta.json").exists():
        t0 = time.perf_counter()
        subprocess.run(
            [sys.executable, "-c",
             "from perfbench.workloads import make_serving_cache as m; m()"],
            cwd=ROOT, env={**os.environ, "PYTHONPATH": str(ROOT)},
            stdout=sys.stderr, check=True)
        out.say(f"serving index: built {SERVE_DOCS} docs in a child process "
                f"in {time.perf_counter() - t0:.2f} s (not in setup_s)")
    info = json.loads((final / "meta.json").read_text())
    out.say(f"serving index: cached at {final.relative_to(ROOT)} (build "
            f"{info['build_s']:.2f} s when made)")
    return str(final / "index"), info


def lexicon_of(index: str) -> list[tuple[str, int]]:
    import pyarrow.dataset as ds

    from nextsearch_api_spark.config import IndexPaths
    t = ds.dataset(IndexPaths(index).lexicon).to_table(columns=["term", "df"])
    return list(zip(t.column("term").to_pylist(),
                    (int(x) for x in t.column("df").to_pylist())))


def size_lines(out: Outcome, index: str, docs: int, corpus_bytes: int) -> int:
    parts = {name: dir_bytes(os.path.join(index, name))
             for name in sorted(os.listdir(index))
             if os.path.isdir(os.path.join(index, name))}
    total = dir_bytes(index)
    files = total - sum(parts.values())
    comp = " ".join(f"{k}={v}" for k, v in parts.items())
    out.say(f"sizes docs={docs} corpus_bytes={corpus_bytes} index_bytes={total} "
            f"[{comp} files={files}]")
    return total


# ----------------------------------------------------------------- checks --

def check_search(ref, q: str, k: int, got: dict) -> str | None:
    """Compare an answer against ``WandEngine.search(q, k, mode="taat")``."""
    exp = ref.search(q, k, mode="taat")
    ids_got = [r["doc_id"] for r in got["results"]]
    ids_exp = [r["doc_id"] for r in exp["results"]]
    if ids_got != ids_exp:
        return f"search {q!r} k={k}: doc ids {ids_got[:5]}… != {ids_exp[:5]}…"
    s_got = np.array([r["score"] for r in got["results"]], dtype=np.float64)
    s_exp = np.array([r["score"] for r in exp["results"]], dtype=np.float64)
    if not np.allclose(s_got, s_exp, rtol=SCORE_RTOL, atol=0.0):
        return f"search {q!r} k={k}: scores differ beyond rtol {SCORE_RTOL}"
    if int(got["found"]) != int(exp["found"]):
        return f"search {q!r} k={k}: found {got['found']} != {exp['found']}"
    return None


def expected_suggest(ranked: list[tuple[str, int]], q: str, k: int) -> list[str]:
    """Reference suggest: completions of the last token by (df desc, term)."""
    from nextsearch_api_spark.config import SUGGEST_K_MAX, SUGGEST_K_MIN
    from nextsearch_api_spark.operators.autocomplete import split_suggest_input
    k = max(SUGGEST_K_MIN, min(int(k), SUGGEST_K_MAX))
    base, tok = split_suggest_input(q)
    if not tok:
        return []
    cands = [t for t, _ in ranked if len(t) >= 2 and t.startswith(tok)]
    return [base + t for t in cands[:k]]


def check_suggest(ranked, q: str, k: int, got: dict) -> str | None:
    exp = expected_suggest(ranked, q, k)
    if got["suggestions"] != exp:
        return f"suggest {q!r} k={k}: {got['suggestions']} != {exp}"
    return None


def check_answer(ref, ranked, kind: str, q: str, k: int,
                 got: dict) -> str | None:
    if kind == "search":
        return check_search(ref, q, k, got)
    return check_suggest(ranked, q, k, got)


def run_probes(out: Outcome, eng, ref, classes, ranked) -> None:
    """Serve the fixed probe set through ``eng`` and check every answer. The
    probes run after the timed phase, untraced, so that their fixed work
    never enters a per-layer figure."""
    vocab = {t for t, _ in ranked}
    probes = [("search", q, k) for q, k in gen.probe_queries(classes, vocab)]
    probes += [("suggest", q, k) for q, k in gen.probe_suggests(classes)]
    for kind, q, k in probes:
        out.attempted += 1
        fn = eng.search if kind == "search" else eng.suggest
        try:
            got = fn(q, k)
        except Exception as e:  # a raising request is a failed operation
            out.fail(f"probe {kind} {q!r}: {type(e).__name__}: {e}")
            continue
        err = check_answer(ref, ranked, kind, q, k, got)
        if err:
            out.fail("probe " + err)


def check_build(out: Outcome, index: str) -> None:
    """Stats N equals the docs row count; Σ lexicon df equals Σ postings count."""
    import pyarrow.dataset as ds
    import pyarrow.compute as pc

    from nextsearch_api_spark.config import IndexPaths
    paths = IndexPaths(index)
    with open(paths.stats) as f:
        n = int(json.load(f)["N"])
    docs = ds.dataset(paths.docs).count_rows()
    sum_df = pc.sum(ds.dataset(paths.lexicon).to_table(columns=["df"])
                    .column("df")).as_py()
    sum_count = pc.sum(ds.dataset(paths.postings).to_table(columns=["count"])
                       .column("count")).as_py()
    out.attempted += 1
    if n != docs:
        out.fail(f"build: stats N {n} != docs rows {docs}")
    elif sum_df != sum_count:
        out.fail(f"build: lexicon sum df {sum_df} != postings sum count {sum_count}")


# -------------------------------------------------------------- reporting --

def host_line(out: Outcome, cpu0, cpu1) -> None:
    out.say(f"host nproc={nproc()} steal_pct={steal_pct(cpu0, cpu1):.3f} "
            "(timed phase; recorded, never used to drop runs)")


def metric_line(out: Outcome, name: str, value: float, unit: str,
                n: int | None = None, note: str = "") -> None:
    tail = f" n={n}" if n is not None else ""
    out.say(f"metric {name} {value:.6g} {unit}{tail}{' ' + note if note else ''}")


def latency_lines(out: Outcome, prefix: str, walls_s: list[float],
                  tail: tuple[float, ...]) -> None:
    if not walls_s:
        out.say(f"metric {prefix}_p50_ms n=0 (no samples)")
        return
    s = summarize([w * 1e3 for w in walls_s], tail)
    metric_line(out, f"{prefix}_p50_ms", s["p50"], "ms", s["n"])
    metric_line(out, f"{prefix}_{tail_label(s['tail_p'])}_ms", s["tail"], "ms",
                s["n"])


def finish_e2e(out: Outcome, setup: list[float], setup_walls: list[float],
               walls_s: list[float], cpus_s: list[float], throughput: float,
               rss: float, ratio: float, tail: tuple[float, ...] = ()) -> None:
    """``setup``/``cpus_s`` are CPU seconds, ``setup_walls``/``walls_s``
    client wall seconds, per set-up and per operation."""
    w = summarize([x * 1e3 for x in walls_s], tail)
    c = summarize([x * 1e3 for x in cpus_s], tail)
    label = f"({tail_label(w['tail_p'])})"
    out.e2e = {
        "setup_s": statistics.median(setup),
        "op_p50_ms": w["p50"],
        "op_tail_ms": w["tail"],
        "op_cpu_p50_ms": c["p50"],
        "op_cpu_tail_ms": c["tail"],
        "throughput_per_s": throughput,
        "rss_mb": rss,
        "index_bytes_per_corpus_byte": ratio,
    }
    metric_line(out, "setup_s", out.e2e["setup_s"], "s", len(setup),
                "(CPU; median of set-ups in this run)")
    metric_line(out, "setup_wall_s", statistics.median(setup_walls), "s",
                len(setup_walls), "(wall)")
    metric_line(out, "op_p50_ms", w["p50"], "ms", w["n"], "(wall)")
    metric_line(out, "op_tail_ms", w["tail"], "ms", w["n"], "(wall) " + label)
    metric_line(out, "op_cpu_p50_ms", c["p50"], "ms", c["n"])
    metric_line(out, "op_cpu_tail_ms", c["tail"], "ms", c["n"], label)
    metric_line(out, "throughput_per_s", throughput, "1/s")
    metric_line(out, "rss_mb", rss, "MB")


def overhead_ms(walls_s: list[float], traced: list[bool]) -> float:
    """Tracing overhead of a serve run: median traced operation minus median
    untraced operation."""
    on = [w for w, t in zip(walls_s, traced) if t]
    off = [w for w, t in zip(walls_s, traced) if not t]
    if not on or not off:
        return 0.0
    return (statistics.median(on) - statistics.median(off)) * 1e3


def estimated_overhead_ms(out: Outcome, tracer: Tracer,
                          traced_ids: list[int]) -> float:
    """Tracing overhead of a build or batch operation: spans it records times
    the measured cost of one span. Such a run has too few operations, each
    seconds long, for a difference of medians to resolve microseconds."""
    ids = set(traced_ids)
    spans = sum(1 for s in tracer.spans if s.request_id in ids)
    per_op = spans / len(ids) if ids else 0.0
    cost_ms = span_cost_s() * 1e3
    out.say(f"trace overhead: {per_op:.1f} spans per traced operation x "
            f"{cost_ms * 1e3:.2f} us per span (estimated)")
    return per_op * cost_ms


# ------------------------------------------------------------------ serve --

def serve(name: str, seed: int, seconds: float, trace: bool,
          run_dir: Path) -> Outcome:
    from nextsearch_api_spark.api import SEARCH_CACHE_CAP, Engine
    from nextsearch_api_spark.operators.wand import WandEngine

    out = Outcome()
    tracer = Tracer()
    index, info = serving_index(out)
    lex = lexicon_of(index)
    ranked = gen.rank_terms(lex)
    terms = [t for t, _ in ranked]
    classes = gen.term_classes(lex)
    zipf = name == "serve_zipf"
    tail = (TAIL_P[name],)
    # the warm-up set is the same in every run, so set-up does the same work
    warm = list(islice(gen.cold_stream(np.random.default_rng(WARMUP_SEED),
                                       classes), WARMUP_QUERIES))
    rng = np.random.default_rng(seed)
    spool = gen.suggest_pool(rng, terms, SUGGEST_POOL_SIZE)
    if zipf:
        pool = gen.query_pool(rng, terms, POOL_SIZE, exclude=set(warm))
        ops = [("search",) + key for key in pool] + \
            [("suggest",) + key for key in spool]
        draws: list[int] = []

        def next_op():
            # draws are made in blocks so that the client's own cost per
            # operation stays small next to a cache hit
            if not draws:
                n = 1 << 16
                is_sugg = rng.random(n) < SUGGEST_SHARE
                q = gen.zipf_draws(rng, len(pool), n)
                sg = gen.zipf_draws(rng, len(spool), n) + len(pool)
                draws.extend(np.where(is_sugg, sg, q)[::-1].tolist())
            return ops[draws.pop()]
    else:
        stream = gen.cold_stream(rng, classes, set(warm))

        def next_op():
            return ("search",) + next(stream)

    setups, setup_walls = [], []
    eng = None
    for _ in range(SETUP_REPEATS):
        eng = None
        gc.collect()
        c0 = time.process_time()
        t0 = time.perf_counter()
        eng = Engine(index)
        for q, k in warm:
            eng.search(q, k)
        for q, k in spool[:WARMUP_SUGGESTS]:
            eng.suggest(q, k)
        setup_walls.append(time.perf_counter() - t0)
        setups.append(time.process_time() - c0)
    if zipf:
        # steady state of a long-running server: every pool query and suggest
        # input has been answered once, so the timed phase is all cache hits
        t0 = time.perf_counter()
        for q, k in pool:
            eng.search(q, k)
        for q, k in spool:
            eng.suggest(q, k)
        out.say(f"zipf fill: {len(pool)} searches and {len(spool)} suggests "
                f"untimed in {time.perf_counter() - t0:.2f} s")

    if trace:
        layers.install(tracer)
    stats0 = eng.stats()
    # sample stores are allocated and touched before timing, so the client's
    # own bookkeeping does not grow the process RSS with the operation rate
    walls = np.ones(SAMPLE_CAP)
    cpus = np.ones(SAMPLE_CAP)
    ends = np.ones(SAMPLE_CAP)
    is_sugg = np.ones(SAMPLE_CAP, dtype=bool)
    sampled: dict[tuple, dict] = {}
    rss_samples: list[float] = []
    cpu0 = cpu_times()
    t_start = time.perf_counter()
    deadline = t_start + seconds
    next_rss = t_start
    min_ops = max(MIN_OPS[name], 2 * gen.BLOCK if trace else 0)
    i = 0
    while (time.perf_counter() < deadline or i < min_ops) and i < SAMPLE_CAP:
        kind, q, k = next_op()
        fn = eng.search if kind == "search" else eng.suggest
        on = trace and _traced(i)
        c0 = time.process_time()
        t0 = time.perf_counter()
        try:
            if on:
                tracer.active, tracer.request_id = True, i
                with tracer.span("op"):
                    got = fn(q, k)
                tracer.active = False
            else:
                got = fn(q, k)
        except Exception as e:  # a raising request is a failed operation
            tracer.active = False
            got = None
            out.fail(f"{kind} {q!r}: {type(e).__name__}: {e}")
        now = time.perf_counter()
        cpus[i] = time.process_time() - c0
        walls[i] = now - t0
        ends[i] = now - t_start
        is_sugg[i] = kind == "suggest"
        if got is not None and i % CHECK_EVERY == 0:
            key = (kind, q, k)
            first = sampled.setdefault(key, got)
            if first is not got and _answer(first) != _answer(got):
                out.fail(f"{kind} {q!r} k={k}: answer changed between calls")
        if now >= next_rss:
            rss_samples.append(rss_mb())
            next_rss = now + seconds / RSS_SAMPLES
        i += 1
    busy = time.perf_counter() - t_start
    cpu1 = cpu_times()
    rss = statistics.median(rss_samples + [rss_mb()])
    stats1 = eng.stats()
    walls, cpus, ends, is_sugg = walls[:i], cpus[:i], ends[:i], is_sugg[:i]
    out.attempted += i

    ref = WandEngine(index)
    for (kind, q, k), got in islice(sampled.items(), MAX_REF_CHECKS):
        err = check_answer(ref, ranked, kind, q, k, got)
        if err:
            out.fail(err)
    run_probes(out, eng, ref, classes, ranked)

    host_line(out, cpu0, cpu1)
    total = size_lines(out, index, info["docs"], info["corpus_bytes"])
    out.say(f"sizes distinct_search_keys={len(pool) if zipf else i} "
            f"result_cache_entries={len(eng.search_cache.data)} "
            f"result_cache_cap={SEARCH_CACHE_CAP}")
    out.say(f"sizes blob_bytes_held={eng.wand._blob_cache_bytes} "
            f"blob_cache_limit={eng.wand.blob_cache_limit}")
    latency_lines(out, "search", walls[~is_sugg].tolist(), tail)
    if zipf:
        latency_lines(out, "suggest", walls[is_sugg].tolist(), tail)
    ops_per_s = windowed_rate(ends.tolist(), busy)
    metric_line(out, "ops_per_s", ops_per_s, "1/s", i,
                "(median of 8 equal windows of the timed phase)")
    finish_e2e(out, setups, setup_walls, walls.tolist(), cpus.tolist(), ops_per_s, rss,
               total / info["corpus_bytes"], tail)
    if trace:
        n = stats1["searches"] - stats0["searches"]
        hits = stats1["search_cache_hits"] - stats0["search_cache_hits"]
        out.layers = layers.compute(
            tracer, cache_hit_ratio=hits / n if n else 0.0,
            builds=[info["build"]], batches=[],
            overhead_ms=overhead_ms(walls.tolist(),
                                    [_traced(j) for j in range(i)]))
        tracer.unwrap_all()
        dump_spans(out, tracer, name, seed)
    return out


def _traced(i: int) -> bool:
    """Traced serve operations: every other block of ``gen.BLOCK``, so traced
    and untraced operations cover the same query template positions."""
    return (i // gen.BLOCK) % 2 == 1


def _answer(got: dict):
    """The parts of a response that must not change between calls."""
    if "results" in got:
        return ([(r["doc_id"], r["score"]) for r in got["results"]],
                got["found"])
    return got["suggestions"]


# ------------------------------------------------------------------ build --

def build(seed: int, seconds: float, trace: bool, run_dir: Path) -> Outcome:
    from nextsearch_api_spark.api import Engine
    from nextsearch_api_spark.operators.build import build_index
    from nextsearch_api_spark.operators.wand import WandEngine
    from nextsearch_api_spark.sources.corpus import (
        generate_corpus, read_corpus, write_corpus,
    )

    out = Outcome()
    tracer = Tracer()
    corpus, warm = run_dir / "corpus", run_dir / "warm"
    with SparkRun(run_dir) as sr:
        spark = sr.spark
        out.say(f"spark session start {sr.start_s:.2f} s (not in setup_s)")
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        write_corpus(generate_corpus(spark, BUILD_DOCS, seed=seed), str(corpus))
        t1 = time.perf_counter()
        corpus_df = read_corpus(spark, str(corpus))
        build_index(spark, corpus_df.limit(BUILD_WARMUP_DOCS), str(warm),
                    resume=False)
        setup_wall = time.perf_counter() - t0
        setup = tree_cpu_s() - c0
        out.say(f"setup: corpus {BUILD_DOCS} docs {t1 - t0:.2f} s, warm-up "
                f"build of {BUILD_WARMUP_DOCS} docs {t0 + setup_wall - t1:.2f} s "
                "(wall)")
        if trace:
            layers.install(tracer)
        walls: list[float] = []
        cpus: list[float] = []
        rss_samples: list[float] = []
        traced: list[bool] = []
        records: list[dict] = []
        cpu0 = cpu_times()
        t_start = time.perf_counter()
        deadline = t_start + seconds
        min_ops = max(MIN_OPS["build"], 2 if trace else 0)
        i = 0
        index = str(run_dir / "index")
        while time.perf_counter() < deadline or i < min_ops:
            shutil.rmtree(index, ignore_errors=True)
            on = trace and i % 2 == 1
            tracer.active, tracer.request_id = on, i
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            with tracer.span("op"), tracer.span("build.build_index"):
                metrics = build_index(spark, corpus_df, index, resume=False)
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s() - c0)
            tracer.active = False
            rss_samples.append(rss_mb())
            traced.append(on)
            records.append(_build_record(metrics, index))
            out.attempted += 1
            i += 1
        busy = sum(walls)
        cpu1 = cpu_times()
        rss = statistics.median(rss_samples)
    check_build(out, index)
    lex = lexicon_of(index)
    ranked = gen.rank_terms(lex)
    eng = Engine(index)
    run_probes(out, eng, WandEngine(index), gen.term_classes(lex), ranked)

    host_line(out, cpu0, cpu1)
    corpus_bytes = dir_bytes(str(corpus))
    total = size_lines(out, index, BUILD_DOCS, corpus_bytes)
    metric_line(out, "build_docs_per_s", BUILD_DOCS * len(walls) / busy,
                "docs/s", len(walls))
    metric_line(out, "index_bytes_per_corpus_byte", total / corpus_bytes, "ratio")
    out.say("note: build stages do not sum to the build wall; docs overlaps "
            "lexicon and suggest in a side thread")
    finish_e2e(out, [setup], [setup_wall], walls, cpus, BUILD_DOCS * len(walls) / busy, rss,
               total / corpus_bytes)
    if trace:
        out.layers = layers.compute(tracer, cache_hit_ratio=_hit_ratio(eng),
                                    builds=records, batches=[],
                                    overhead_ms=estimated_overhead_ms(
                                        out, tracer, _ids(traced)))
        tracer.unwrap_all()
        dump_spans(out, tracer, "build", seed)
    return out


def _ids(traced: list[bool]) -> list[int]:
    return [i for i, on in enumerate(traced) if on]


def _hit_ratio(eng) -> float:
    st = eng.stats()
    return st["search_cache_hits"] / st["searches"] if st["searches"] else 0.0


# ------------------------------------------------------------- batch_rank --

def _spark_work(sc, group: str) -> tuple[int, int]:
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def batch_rank(seed: int, seconds: float, trace: bool, run_dir: Path) -> Outcome:
    from nextsearch_api_spark.api import Engine
    from nextsearch_api_spark.operators.query import (
        SMALL_QUERY_MAX_POSTINGS, IndexReader, QuerySpec, batch_search,
        parse_query,
    )
    from nextsearch_api_spark.operators.wand import WandEngine

    out = Outcome()
    tracer = Tracer()
    index, info = serving_index(out)
    with SparkRun(run_dir) as sr:
        spark = sr.spark
        sc = spark.sparkContext
        out.say(f"spark session start {sr.start_s:.2f} s (not in setup_s)")
        lex = lexicon_of(index)
        ranked = gen.rank_terms(lex)
        classes = gen.term_classes(lex)
        dfs = dict(lex)
        batches = gen.batch_stream(np.random.default_rng(seed), classes,
                                   BATCH_SIZE)
        qid = 0

        def next_batch() -> list:
            nonlocal qid
            qs = [QuerySpec(qid + j, q, k)
                  for j, (q, k) in enumerate(next(batches))]
            qid += len(qs)
            return qs

        def run_batch(qs) -> list:
            # small_query_max_postings=0 sends every batch through the
            # distributed plan; at this index size the driver shortcut would
            # otherwise answer it (Σ df per batch stays under the 8M budget)
            return batch_search(reader, qs, small_query_max_postings=0).collect()

        # warm-up batches come from their own seed, so set-up does the same
        # work in every run and the timed batches follow on from ``seed``
        warm = gen.batch_stream(np.random.default_rng(WARMUP_SEED), classes,
                                BATCH_SIZE)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        reader = IndexReader(spark, index)
        for _ in range(BATCH_WARMUPS):
            run_batch([QuerySpec(j, q, k) for j, (q, k) in enumerate(next(warm))])
        setup_wall = time.perf_counter() - t0
        setup = tree_cpu_s() - c0

        if trace:
            layers.install(tracer)
        walls: list[float] = []
        cpus: list[float] = []
        rss_samples: list[float] = []
        traced: list[bool] = []
        work: list[dict] = []
        sums: list[int] = []
        checks: list[tuple] = []
        cpu0 = cpu_times()
        t_start = time.perf_counter()
        deadline = t_start + seconds
        min_ops = max(MIN_OPS["batch_rank"], 2 if trace else 0)
        i = 0
        while time.perf_counter() < deadline or i < min_ops:
            qs = next_batch()
            on = trace and i % 2 == 1
            tracer.active, tracer.request_id = on, i
            group = f"perfbench-batch-{i}"
            if on:
                sc.setJobGroup(group, "perfbench batch")
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span("op"), tracer.span("query.batch_search"):
                    rows = run_batch(qs)
            except Exception as e:  # a raising batch fails all its queries
                rows = None
                out.fail(f"batch {i}: {type(e).__name__}: {e}", len(qs))
            walls.append(time.perf_counter() - t0)
            cpus.append(tree_cpu_s() - c0)
            tracer.active = False
            rss_samples.append(rss_mb())
            traced.append(on)
            if on:
                sc.setJobGroup("perfbench-idle", "idle")
                jobs, tasks = _spark_work(sc, group)
                work.append({"jobs": jobs, "tasks": tasks})
            out.attempted += len(qs)
            present = {t for q in qs for t in parse_query(q.q) if t in dfs}
            sums.append(sum(dfs[t] for t in present))
            if rows is not None:
                checks.append((qs, rows))
            i += 1
        busy = sum(walls)
        cpu1 = cpu_times()
        rss = statistics.median(rss_samples)

    ref = WandEngine(index)
    n_queries = BATCH_SIZE * len(walls)
    for qs, rows in checks:
        by_qid: dict[int, list] = {}
        for r in rows:
            by_qid.setdefault(r["qid"], []).append(r)
        for q in qs[::BATCH_CHECK_EVERY]:
            got_rows = sorted(by_qid.get(q.qid, []), key=lambda r: r["rank"])
            got = {"results": [{"doc_id": r["doc_id"], "score": r["score"]}
                               for r in got_rows],
                   "found": got_rows[0]["found"] if got_rows else 0}
            err = check_search(ref, q.q, q.k, got)
            if err:
                out.fail("batch " + err)
    eng = Engine(index)
    run_probes(out, eng, ref, classes, ranked)

    host_line(out, cpu0, cpu1)
    total = size_lines(out, index, info["docs"], info["corpus_bytes"])
    out.say(f"sizes batch_sum_df median={statistics.median(sums)} "
            f"max={max(sums)} small_query_max_postings={SMALL_QUERY_MAX_POSTINGS} "
            "(the distributed plan is forced)")
    metric_line(out, "batch_queries_per_s", n_queries / busy, "1/s", n_queries)
    metric_line(out, "batch_p50_s", statistics.median(walls), "s", len(walls))
    out.say("batch walls_s " + " ".join(f"{w:.3f}" for w in walls))
    out.say("batch cpus_s " + " ".join(f"{c:.3f}" for c in cpus))
    finish_e2e(out, [setup], [setup_wall], walls, cpus, n_queries / busy, rss,
               total / info["corpus_bytes"])
    if trace:
        out.layers = layers.compute(tracer, cache_hit_ratio=_hit_ratio(eng),
                                    builds=[info["build"]], batches=work,
                                    overhead_ms=estimated_overhead_ms(
                                        out, tracer, _ids(traced)))
        tracer.unwrap_all()
        dump_spans(out, tracer, "batch_rank", seed)
    return out


def dump_spans(out: Outcome, tracer: Tracer, name: str, seed: int) -> None:
    spans_dir = WORK / "spans"
    spans_dir.mkdir(parents=True, exist_ok=True)
    path = spans_dir / f"{name}-seed{seed}.jsonl"
    tracer.dump(str(path))
    out.say(f"spans: {len(tracer.spans)} written to {path.relative_to(ROOT)}")


WORKLOADS = {
    "serve_zipf": lambda seed, s, tr, d: serve("serve_zipf", seed, s, tr, d),
    "serve_cold": lambda seed, s, tr, d: serve("serve_cold", seed, s, tr, d),
    "build": build,
    "batch_rank": batch_rank,
}


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> Outcome:
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # temporary files of this process, its Python workers and the JVM stay
    # inside the run directory
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = None
    try:
        out = WORKLOADS[name](seed, seconds, trace, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for k, v in {**out.e2e, **out.layers}.items():
        if not math.isfinite(v):
            out.fail(f"metric {k} is not finite")
    out.say(f"metric op_error_ratio {out.failed / max(out.attempted, 1):.6g} "
            f"ratio base={out.attempted}")
    return out

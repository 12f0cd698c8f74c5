"""Per-layer metrics: the wrappers that time each package layer from outside,
and the reduction of recorded spans to the metrics named in BENCHMARK.json.

Layers are package modules: ``api`` (api.py), ``wand`` (operators/wand.py),
``codec`` (functions/codec.py), ``autocomplete`` (operators/autocomplete.py),
``build`` (operators/build.py), ``query`` (operators/query.py), plus ``io``
(the process's read-syscall bytes around each request) and ``trace`` (the
tracer's own cost).
"""

from __future__ import annotations

import statistics

from perfbench.stats import rchar, summarize
from perfbench.trace import Tracer, self_time

# (name, unit, better, the end-to-end metric and workload it should move)
LAYER_METRICS = [
    ("api.result_cache_hit_ratio", "ratio", "higher",
     "op_cpu_p50_ms on serve_zipf; ~0 on serve_cold by construction"),
    ("api.search_self_ms", "ms", "lower",
     "op_cpu_p50_ms on serve_cold (cache lookup, hydration, response copies)"),
    ("wand.search_p50_ms", "ms", "lower",
     "op_cpu_p50_ms and op_cpu_tail_ms on serve_cold"),
    ("wand.search_tail_ms", "ms", "lower", "op_cpu_tail_ms on serve_cold"),
    ("wand.found_count_calls_per_search", "count", "lower",
     "op_cpu_tail_ms on serve_cold (exact found recount after WAND)"),
    ("wand.taat_ratio", "ratio", "higher",
     "attributes a scoring change on serve_cold to the TAAT or WAND path"),
    ("codec.decode_calls_per_search", "count", "lower",
     "op_cpu_p50_ms on serve_cold; 0 on serve_zipf by construction (all hits)"),
    ("codec.postings_decoded_per_search", "count", "lower",
     "op_cpu_p50_ms on serve_cold; 0 on serve_zipf by construction (all hits)"),
    ("codec.decode_ms_per_search", "ms", "lower",
     "op_cpu_p50_ms on serve_cold; 0 on serve_zipf by construction (all hits)"),
    ("autocomplete.suggest_p50_ms", "ms", "lower",
     "op_cpu_tail_ms on serve_zipf (suggests are its slowest 5%)"),
    ("autocomplete.suggest_tail_ms", "ms", "lower", "op_cpu_tail_ms on serve_zipf"),
    ("autocomplete.row_groups_read_per_lookup", "count", "lower",
     "op_cpu_tail_ms on serve_zipf; ~0 there by construction (the prefix LRU "
     "is filled before timing)"),
    ("autocomplete.rows_scanned_per_lookup", "count", "lower",
     "op_cpu_tail_ms on serve_zipf; ~0 there by construction (as above)"),
    ("io.read_bytes_per_search", "B", "lower",
     "op_cpu_tail_ms on serve_cold (docs scan for hydration, postings-blob "
     "misses); 0 on serve_zipf by construction"),
    ("io.read_bytes_per_suggest", "B", "lower",
     "op_cpu_tail_ms on serve_zipf; ~0 there by construction"),
    ("build.ids_s", "s", "lower", "op_cpu_p50_ms on build"),
    ("build.postings_s", "s", "lower", "op_cpu_p50_ms on build"),
    ("build.stats_s", "s", "lower", "op_cpu_p50_ms on build"),
    ("build.docs_s", "s", "lower",
     "op_cpu_p50_ms on build (overlaps lexicon and suggest in a side thread)"),
    ("build.lexicon_s", "s", "lower", "op_cpu_p50_ms on build"),
    ("build.suggest_s", "s", "lower", "op_cpu_p50_ms on build"),
    ("build.postings_bytes", "B", "lower",
     "index_bytes_per_corpus_byte on build; io.read_bytes_per_search on serve_cold"),
    ("build.ids_bytes", "B", "lower", "index_bytes_per_corpus_byte on build"),
    ("query.batch_sum_df", "count", "lower",
     "op_cpu_p50_ms on batch_rank (shows the batch's postings volume)"),
    ("query.spark_jobs_per_batch", "count", "lower", "op_cpu_p50_ms on batch_rank"),
    ("query.spark_tasks_per_batch", "count", "lower", "op_cpu_p50_ms on batch_rank"),
    ("trace.overhead_ms", "ms", "lower",
     "none: serve, p50 of traced minus untraced operations in the same run; "
     "build and batch_rank, spans per operation x measured cost of a span"),
]

BUILD_STAGES = ("ids", "postings", "stats", "docs", "lexicon", "suggest")


def install(tracer: Tracer) -> None:
    """Wrap the package's public callables so that active requests record
    spans. ``tracer.unwrap_all()`` restores them."""
    from nextsearch_api_spark import api
    from nextsearch_api_spark.functions import codec
    from nextsearch_api_spark.operators import autocomplete, query, wand

    # reading /proc/self/io itself adds its own size to rchar: measure that
    # once and take it off every delta
    probe_cost = -rchar() + rchar()

    def io_before(args):
        return rchar()

    def io_after(sp, before, args, out):
        sp.attrs["rchar"] = max(0, rchar() - before - probe_cost)

    tracer.wrap(api.Engine, "search", "api.search", io_before, io_after)
    tracer.wrap(api.Engine, "suggest", "api.suggest", io_before, io_after)

    def mode_after(sp, _, args, out):
        sp.attrs["mode"] = out.get("mode")

    tracer.wrap(wand.WandEngine, "search", "wand.search", after=mode_after)
    tracer.wrap(wand.WandEngine, "found_count", "wand.found_count")

    def postings_after(sp, _, args, out):
        sp.attrs["postings"] = int(len(out[0]))

    # wand.py imported the decoders by name, so its references are wrapped
    # as well as the codec module's own
    for mod in (codec, wand):
        for fn in ("decode_chunk", "decode_chunks_concat"):
            if hasattr(mod, fn):
                tracer.wrap(mod, fn, "codec.decode", after=postings_after)

    def sugg_before(args):
        return args[0].io_counters()

    def sugg_after(sp, before, args, out):
        now = args[0].io_counters()
        sp.attrs.update({k: now[k] - before[k] for k in now})

    tracer.wrap(autocomplete.LazySuggester, "suggest", "autocomplete.suggest",
                sugg_before, sugg_after)

    def dfs_after(sp, _, args, out):
        sp.attrs["sum_df"] = int(sum(out.values()))

    tracer.wrap(query.IndexReader, "term_dfs", "query.term_dfs",
                after=dfs_after)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def stage_seconds(build_metrics: dict) -> dict[str, float]:
    """Stage wall seconds from ``build_index``'s metrics dict. A stage whose
    rounded ``seconds`` reads under 10 ms (stats writes one JSON file) is
    timed from the previous stage's finish to its own, at full precision."""
    out = {}
    for name in BUILD_STAGES:
        m = build_metrics[name]
        sec = float(m["seconds"])
        if sec < 0.01:
            prev = [float(o["finished_at"]) for o in build_metrics.values()
                    if float(o["finished_at"]) < float(m["finished_at"])]
            if prev:
                sec = float(m["finished_at"]) - max(prev)
        out[name] = sec
    return out


def compute(tracer: Tracer, *, cache_hit_ratio: float,
            builds: list[dict], batches: list[dict],
            overhead_ms: float) -> dict[str, float]:
    """Reduce spans and per-layer records to the LAYER_METRICS values.

    ``builds``: per build, {"stages": stage_seconds(...), "postings_bytes",
    "ids_bytes"}; ``batches``: per traced batch, {"jobs", "tasks"}."""
    spans = tracer.spans
    kids = tracer.children()
    by = {name: tracer.named(name) for name in (
        "api.search", "api.suggest", "wand.search", "wand.found_count",
        "codec.decode", "autocomplete.suggest", "query.term_dfs")}
    n_search = len(by["api.search"])
    n_suggest = len(by["api.suggest"])

    def ms(idxs):
        return [spans[i].duration * 1e3 for i in idxs]

    def p50_tail(vals):
        if not vals:
            return 0.0, 0.0
        s = summarize(vals)
        return s["p50"], s["tail"]

    m: dict[str, float] = {}
    m["api.result_cache_hit_ratio"] = cache_hit_ratio
    selfs = [self_time(spans, i, kids.get(i, [])) * 1e3 for i in by["api.search"]]
    m["api.search_self_ms"] = statistics.median(selfs) if selfs else 0.0
    m["wand.search_p50_ms"], m["wand.search_tail_ms"] = p50_tail(ms(by["wand.search"]))
    m["wand.found_count_calls_per_search"] = _ratio(len(by["wand.found_count"]), n_search)
    modes = [spans[i].attrs.get("mode") for i in by["wand.search"]]
    m["wand.taat_ratio"] = _ratio(modes.count("taat"),
                                  modes.count("taat") + modes.count("wand"))
    dec = by["codec.decode"]
    m["codec.decode_calls_per_search"] = _ratio(len(dec), n_search)
    m["codec.postings_decoded_per_search"] = _ratio(
        sum(spans[i].attrs["postings"] for i in dec), n_search)
    m["codec.decode_ms_per_search"] = _ratio(sum(ms(dec)), n_search)
    sugg = by["autocomplete.suggest"]
    m["autocomplete.suggest_p50_ms"], m["autocomplete.suggest_tail_ms"] = p50_tail(ms(sugg))
    lookups = sum(spans[i].attrs["lookups"] for i in sugg)
    m["autocomplete.row_groups_read_per_lookup"] = _ratio(
        sum(spans[i].attrs["row_groups_read"] for i in sugg), lookups)
    m["autocomplete.rows_scanned_per_lookup"] = _ratio(
        sum(spans[i].attrs["rows_scanned"] for i in sugg), lookups)
    m["io.read_bytes_per_search"] = _ratio(
        sum(spans[i].attrs["rchar"] for i in by["api.search"]), n_search)
    m["io.read_bytes_per_suggest"] = _ratio(
        sum(spans[i].attrs["rchar"] for i in by["api.suggest"]), n_suggest)
    for stage in BUILD_STAGES:
        m[f"build.{stage}_s"] = statistics.median(
            b["stages"][stage] for b in builds)
    m["build.postings_bytes"] = float(statistics.median(b["postings_bytes"] for b in builds))
    m["build.ids_bytes"] = float(statistics.median(b["ids_bytes"] for b in builds))
    sum_dfs = [spans[i].attrs["sum_df"] for i in by["query.term_dfs"]]
    m["query.batch_sum_df"] = statistics.mean(sum_dfs) if sum_dfs else 0.0
    m["query.spark_jobs_per_batch"] = (
        statistics.mean(b["jobs"] for b in batches) if batches else 0.0)
    m["query.spark_tasks_per_batch"] = (
        statistics.mean(b["tasks"] for b in batches) if batches else 0.0)
    m["trace.overhead_ms"] = overhead_ms
    return m

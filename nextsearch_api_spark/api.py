"""Python API / CLI — the serving surface of the engine.

Mirrors the reference HTTP endpoints (src/api_server.cpp) at CLI/library
level per SURVEY.md §2.8: search (:117-178), suggest (:180-195), reload
(:203-210), health (:109-115), stats (:358-365). JSON shapes follow
README.md:72-116. The AI endpoints (/api/ai_overview, /api/ai_summary) call
an external LLM service in the reference (src/api_ai_overview.cpp) — out of
scope here; ``Engine.hooks`` exposes the integration point.

One ``Engine`` serves one index root or several, each a segment built by
``build_index`` (api_engine.cpp:441-495 loads and dispatches N segments):
every segment is scored with its own N and avgdl (api_segment.cpp:105-136),
the per-segment top-k lists merge by (score desc, segment asc, doc_id asc),
``found`` is their sum, and each hit is hydrated from its own segment's doc
store. With several segments each result row carries its ``segment``,
because doc ids are segment-local.

LRU result caching reproduces the reference's search cache semantics
(include/api_engine.hpp:38-60): capacity 2600, key = raw query string + "|" +
clamped k (api_engine.cpp:190-192,380-385 — note the RAW query: "Covid" and
"covid" are distinct entries, a documented reference quirk we keep), persisted
as JSON on every update (CACHE_SAVE_INTERVAL=1, api_engine.hpp:60).
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import OrderedDict
from typing import Any, Callable, Sequence

from nextsearch_api_spark.config import BM25Params
from nextsearch_api_spark.feedback import FeedbackManager, validate_feedback
from nextsearch_api_spark.operators.autocomplete import (
    LazySuggester, _MergedSuggester,
)
from nextsearch_api_spark.operators.query import clamp_k
from nextsearch_api_spark.operators.wand import WandEngine

SEARCH_CACHE_CAP = 2600        # reference: api_engine.hpp:42
AI_OVERVIEW_CACHE_CAP = 500    # reference: api_engine.hpp:48-49
AI_SUMMARY_CACHE_CAP = 1000    # reference: api_engine.hpp:54-55


class LruCache:
    def __init__(self, cap: int, persist_path: str | None = None):
        self.cap = cap
        self.persist_path = persist_path
        self.data: OrderedDict[str, Any] = OrderedDict()
        self.hits = 0
        self.misses = 0
        if persist_path and os.path.exists(persist_path):
            try:
                with open(persist_path) as f:
                    for k, v in json.load(f):
                        self.data[k] = v
            except Exception:
                pass

    def get(self, key: str):
        if key in self.data:
            self.data.move_to_end(key)
            self.hits += 1
            return self.data[key]
        self.misses += 1
        return None

    def put(self, key: str, value: Any) -> None:
        self.data[key] = value
        self.data.move_to_end(key)
        while len(self.data) > self.cap:
            self.data.popitem(last=False)
        if self.persist_path:  # save-every-update, like the reference
            tmp = self.persist_path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(list(self.data.items()), f)
            os.replace(tmp, self.persist_path)


def _copy_response(out: dict) -> dict:
    """Copy a cached response deeply enough that callers (or AI hooks fed
    ``results``) can mutate result rows without corrupting the cached entry
    (ADVICE r3): the row dicts are the only shared mutable level."""
    out = dict(out)
    if isinstance(out.get("results"), list):
        out["results"] = [dict(r) if isinstance(r, dict) else r
                          for r in out["results"]]
    return out


class Engine:
    """Single-node serving engine over one built index or several segments
    (the reference Engine analog, api_engine.cpp:50-162 reload semantics):
    it serves the generations that were live when it loaded until
    ``reload`` swaps in the current ones. ``segments`` holds one WandEngine
    per root and ``wand`` is the first of them."""

    def __init__(self, index_root: "str | Sequence[str]",
                 params: BM25Params | None = None,
                 cache_dir: str | None = None,
                 embeddings_path: str | None = None):
        self.roots = ([index_root] if isinstance(index_root, (str, os.PathLike))
                      else list(index_root))
        if not self.roots:
            raise ValueError("at least one segment root required")
        if embeddings_path and len(self.roots) > 1:
            raise ValueError("query expansion serves one segment only")
        self.params = params or BM25Params()
        self.cache_dir = cache_dir
        self.embeddings_path = embeddings_path
        self.hooks: dict[str, Callable] = {}  # e.g. 'ai_overview' integration
        self._counters = {"searches": 0, "suggests": 0, "reloads": 0,
                          "search_cache_hits": 0}
        # engine-wide mutex, like the reference's Engine::mtx
        # (api_engine.hpp:59): the HTTP layer serves one Engine from many
        # threads; cache get/put and counter updates are check-then-act
        # sequences that must not interleave (ADVICE r2)
        self._lock = threading.RLock()
        self.feedback_store = FeedbackManager(
            os.path.join(cache_dir, "feedback.json") if cache_dir else None
        )
        self._load()

    def _load(self) -> None:
        t0 = time.time()
        self.segments = [WandEngine(r, self.params) for r in self.roots]
        self.wand = self.segments[0]
        if self.embeddings_path:
            self.wand.load_embeddings(self.embeddings_path)
        # the suggester opens with its segments' generation. One segment is
        # served from its suggest table, with the lexicon df map already in
        # RAM for exact long-prefix completion; several from their summed
        # dfs, which no segment's own table ranks by
        if len(self.segments) == 1:
            self._suggester = LazySuggester(self.wand.paths.suggest,
                                            df_lookup=self.wand._df)
        else:
            self._suggester = _MergedSuggester(
                [seg._df for seg in self.segments])

        def _persist(name: str) -> str | None:
            if not self.cache_dir:
                return None
            os.makedirs(self.cache_dir, exist_ok=True)
            return os.path.join(self.cache_dir, name)

        self.search_cache = LruCache(SEARCH_CACHE_CAP,
                                     _persist("search_cache.json"))
        # AI response caches (reference: api_engine.hpp:46-57 — 500 overviews
        # keyed "query|k", 1000 summaries keyed "summary|uid", persisted on
        # every update like the search cache). Recreating on reload re-reads
        # the persisted entries, so cached AI responses survive /api/reload.
        self.ai_overview_cache = LruCache(AI_OVERVIEW_CACHE_CAP,
                                          _persist("ai_overview_cache.json"))
        self.ai_summary_cache = LruCache(AI_SUMMARY_CACHE_CAP,
                                         _persist("ai_summary_cache.json"))
        self.load_seconds = time.time() - t0

    # ----------------------------------------------------------- endpoints --

    def health(self) -> dict:
        segs = self.segments
        docs = sum(seg.N for seg in segs)
        total_len = sum(int(seg.stats["total_len"]) for seg in segs)
        return {
            "status": "ok",
            "segments": len(segs),
            "docs": docs,
            "avgdl": float(total_len) / docs if docs else 0.0,
        }

    def search(self, q: str, k: int = 10) -> dict:
        kk = clamp_k(k)
        key = f"{q}|{kk}"  # raw query string, reference quirk kept
        t0 = time.time()
        with self._lock:
            self._counters["searches"] += 1
            cached = self.search_cache.get(key)
            if cached is not None:
                self._counters["search_cache_hits"] += 1
                cached = _copy_response(cached)
        if cached is not None:
            # reference cached shape (api_server.cpp:141-165): search time
            # zeroed, the lookup cost reported separately
            out = cached
            out["search_time_ms"] = 0.0
            out["cache_lookup_ms"] = round((time.time() - t0) * 1000, 2)
            out["cached"] = True
            out["total_time_ms"] = round((time.time() - t0) * 1000, 2)
            return out
        t1 = time.time()
        segs = self.segments
        found, cands = 0, []  # (-score, segment, doc_id)
        for si, seg in enumerate(segs):
            r = seg.search(q, kk)
            found += r["found"]
            cands += [(-row["score"], si, row["doc_id"])
                      for row in r["results"]]
        cands.sort()
        multi = len(segs) > 1
        results = [
            {"rank": i + 1, "doc_id": d, **({"segment": si} if multi else {}),
             "score": -ns}
            for i, (ns, si, d) in enumerate(cands[:kk])
        ]
        search_ms = (time.time() - t1) * 1000
        for si, seg in enumerate(segs):
            seg.hydrate([row for row, c in zip(results, cands) if c[1] == si])
        out = {"query": q, "k": kk, "segments": len(segs), "found": found,
               "results": results,
               "search_time_ms": round(search_ms, 2)}
        with self._lock:
            self.search_cache.put(key, out)
        # deep-enough copy: the cached entry keeps its own row dicts, so a
        # caller (or the ai_overview hook) mutating returned rows cannot
        # corrupt later cache hits (ADVICE r3)
        out = _copy_response(out)
        out["cached"] = False
        out["total_time_ms"] = round((time.time() - t0) * 1000, 2)
        return out

    def suggest(self, q: str, k: int = 5) -> dict:
        with self._lock:
            self._counters["suggests"] += 1
        sugg = self._suggester.suggest(q, k)
        return {"query": q, "suggestions": sugg}

    def reload(self) -> dict:
        with self._lock:
            self._counters["reloads"] += 1
            self._load()
        return {"status": "reloaded", "load_seconds": round(self.load_seconds, 3)}

    def ai_overview(self, q: str, k: int = 10) -> dict:
        """AI-overview endpoint logic with LRU caching — reference flow
        (src/api_server.cpp:230-303 + src/api_ai_overview.cpp:140-246):
        cache key "query|k"; on miss, search results feed the external-LLM
        hook; only successful responses are cached (persisted every update).
        The reference's retry-for-cache loop polls engine.search up to
        10×50 ms for a PARALLEL /api/search to fill the result cache — our
        search is synchronous in-process, so one call both checks and fills.
        A ``status`` key (popped by the HTTP layer) carries non-200 codes."""
        kk = clamp_k(k)

        def payload() -> "dict | None":
            sr = self.search(q, kk)
            if not sr.get("results"):
                return None  # api_server.cpp:272-279
            return {"q": q, "k": kk, "results": sr["results"]}

        # make_cache_key parity (api_engine.cpp:190-192)
        return self._ai_call("overview", self.ai_overview_cache,
                             f"{q}|{kk}", {"query": q}, payload)

    def ai_summary(self, cord_uid: str) -> dict:
        """AI-summary endpoint logic with LRU caching — reference flow
        (src/api_server.cpp:305-345 + src/api_ai_summary.cpp:96-226): cache
        key "summary|<uid>"; only successful responses cached."""
        return self._ai_call("summary", self.ai_summary_cache,
                             f"summary|{cord_uid}", {"cord_uid": cord_uid},
                             lambda: {"cord_uid": cord_uid})

    def _ai_call(self, field: str, cache: LruCache, key: str, resp: dict,
                 payload: Callable[[], "dict | None"]) -> dict:
        """The flow both AI endpoints share. A cache hit under ``key`` is
        returned as a copy with ``cached`` True
        (api_ai_overview.cpp:154-156). Without an ``ai_<field>`` hook the
        answer is 501. Otherwise ``payload()`` builds the hook's request;
        None means the query found nothing to ask about (404). A hook
        result with ``success`` adds its ``field``, ``model`` and
        ``usage`` to ``resp`` with ``cached`` False and is cached; any
        other result adds its ``error`` and ``details`` with status 500
        and is not cached."""
        with self._lock:
            cached = cache.get(key)
        if cached is not None:
            out = dict(cached)
            out["cached"] = True
            return out
        hook = self.hooks.get(f"ai_{field}")
        if hook is None:
            return {"error": "endpoint not configured "
                             "(external AI service hook)", "status": 501}
        req = payload()
        if req is None:
            return {"error": "No search results found for the query",
                    **resp, "status": 404}
        ai = hook(req)
        if isinstance(ai, dict) and ai.get("success"):
            resp[field] = ai.get(field)
            resp["model"] = ai.get("model")
            if "usage" in ai:
                resp["usage"] = ai["usage"]
            resp["cached"] = False
            with self._lock:
                cache.put(key, resp)
            return dict(resp)
        resp["error"] = (ai or {}).get("error", "Unknown error") \
            if isinstance(ai, dict) else "Unknown error"
        if isinstance(ai, dict) and "details" in ai:
            resp["details"] = ai["details"]
        resp["status"] = 500
        return resp

    def feedback(self, payload: dict) -> dict:
        """Validate + store one feedback entry (reference handle_feedback,
        src/api_feedback.cpp:155-238). Returns the success JSON or
        {'error': ...} with the reference's message strings."""
        entry, err = validate_feedback(payload)
        if err is not None:
            return {"error": err}
        if not self.feedback_store.add(entry):
            return {"error": "Failed to save feedback"}
        return {
            "success": True,
            "message": "Feedback received successfully",
            "total_count": self.feedback_store.count(),
        }

    def stats(self) -> dict:
        with self._lock:
            counters = dict(self._counters)
        total = counters["searches"]
        hits = counters["search_cache_hits"]
        return {
            **counters,
            "cache_entries": len(self.search_cache.data),
            "cache_hits": self.search_cache.hits,
            "cache_misses": self.search_cache.misses,
            # reference derived rate + last-10 feedback slice
            # (include/api_stats.hpp:128-157)
            "search_cache_hit_rate": (hits / total) if total else 0.0,
            "last_10_feedback": self.feedback_store.last(10),
            "total_feedback_count": self.feedback_store.count(),
            "docs": sum(seg.N for seg in self.segments),
        }


def main() -> None:
    """CLI: python -m nextsearch_api_spark.api <index_root> search "query" [k]"""
    import argparse

    ap = argparse.ArgumentParser(prog="nextsearch-api")
    ap.add_argument("index_root")
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("search")
    sp.add_argument("query")
    sp.add_argument("k", nargs="?", type=int, default=10)
    sg = sub.add_parser("suggest")
    sg.add_argument("query")
    sg.add_argument("k", nargs="?", type=int, default=5)
    sub.add_parser("health")
    sub.add_parser("stats")
    args = ap.parse_args()

    eng = Engine(args.index_root)
    if args.cmd == "search":
        print(json.dumps(eng.search(args.query, args.k), indent=2))
    elif args.cmd == "suggest":
        print(json.dumps(eng.suggest(args.query, args.k), indent=2))
    elif args.cmd == "health":
        print(json.dumps(eng.health(), indent=2))
    elif args.cmd == "stats":
        print(json.dumps(eng.stats(), indent=2))


if __name__ == "__main__":
    main()

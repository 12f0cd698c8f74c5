"""Feedback subsystem (reference src/api_feedback.cpp) and HTTP serving
layer (reference src/api_server.cpp routes/shapes) parity tests."""

import json
import urllib.error
import urllib.request

import pytest

from nextsearch_api_spark.feedback import (
    FeedbackManager, validate_feedback,
)


# ------------------------------------------------------------ validation --

def test_feedback_validation_rules():
    ok, err = validate_feedback({"message": "great", "type": "anonymous"})
    assert err is None and ok["message"] == "great"

    # anonymous forces email to null (api_feedback.cpp:196-200)
    ok, err = validate_feedback(
        {"message": "m", "type": "anonymous", "email": "x@y.z"})
    assert err is None and ok["email"] is None

    _, err = validate_feedback({"type": "anonymous"})
    assert err == "missing or invalid 'message' field"
    _, err = validate_feedback({"message": 5, "type": "anonymous"})
    assert err == "missing or invalid 'message' field"
    _, err = validate_feedback({"message": "m"})
    assert err == "missing or invalid 'type' field"
    _, err = validate_feedback({"message": "m", "type": "other"})
    assert err == "type must be 'anonymous' or 'replyable'"
    _, err = validate_feedback({"message": "m", "type": "replyable"})
    assert err == "email is required for 'replyable' type feedback"
    _, err = validate_feedback(
        {"message": "m", "type": "replyable", "email": ""})
    assert err == "email is required for 'replyable' type feedback"
    _, err = validate_feedback(
        {"message": "m", "type": "replyable", "email": None})
    assert err == "email is required for 'replyable' type feedback"
    ok, err = validate_feedback(
        {"message": "m", "type": "replyable", "email": "a@b.c"})
    assert err is None and ok["email"] == "a@b.c"


def test_feedback_store_cap_persist_and_last10(tmp_path):
    path = str(tmp_path / "fb" / "feedback.json")
    fm = FeedbackManager(path, max_entries=5)
    for i in range(8):
        assert fm.add({"message": f"m{i}", "type": "anonymous"})
    assert fm.count() == 5  # FIFO cap
    assert [e["message"] for e in fm.last(3)] == ["m5", "m6", "m7"]
    assert all("timestamp" in e for e in fm.entries)

    # reload from disk keeps the trimmed tail
    fm2 = FeedbackManager(path, max_entries=5)
    assert [e["message"] for e in fm2.entries] == [f"m{i}" for i in range(3, 8)]
    # load-trim when the cap shrinks (api_feedback.cpp:117-120)
    fm3 = FeedbackManager(path, max_entries=2)
    assert [e["message"] for e in fm3.entries] == ["m6", "m7"]


# ------------------------------------------------------------ HTTP layer --

@pytest.fixture(scope="module")
def server(tiny_index, tmp_path_factory):
    from nextsearch_api_spark.api import Engine
    from nextsearch_api_spark.http_server import ApiServer

    root, _ = tiny_index
    eng = Engine(root, cache_dir=str(tmp_path_factory.mktemp("httpcache")))
    srv = ApiServer(eng, port=0)  # ephemeral port
    srv.start()
    yield srv
    srv.stop()


def _get(srv, path):
    with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}{path}") as r:
        return r.status, json.loads(r.read().decode())


def _post(srv, path, payload=None):
    data = json.dumps(payload).encode() if payload is not None else b""
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=data,
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read().decode())


def _err(fn, *a, **kw):
    try:
        fn(*a, **kw)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())
    raise AssertionError("expected HTTPError")


def test_http_health_search_suggest(server):
    st, h = _get(server, "/api/health")
    assert st == 200 and h["ok"] is True and h["segments"] == 1

    st, s = _get(server, "/api/search?q=hotterm%20buffer&k=3")
    assert st == 200 and s["cached"] is False and len(s["results"]) == 3
    assert {"search_time_ms", "total_time_ms", "found", "k"} <= set(s)
    assert {"rank", "doc_id", "score"} <= set(s["results"][0])

    st, s2 = _get(server, "/api/search?q=hotterm%20buffer&k=3")
    assert s2["cached"] is True and s2["search_time_ms"] == 0.0
    assert "cache_lookup_ms" in s2  # reference cached shape, cpp:148-152
    assert [r["doc_id"] for r in s2["results"]] == [
        r["doc_id"] for r in s["results"]]

    code, body = _err(_get, server, "/api/search")
    assert code == 400 and body["error"] == "missing q param"

    st, g = _get(server, "/api/suggest?q=bu&k=5")
    assert st == 200 and g["query"] == "bu" and isinstance(g["suggestions"], list)
    code, body = _err(_get, server, "/api/suggest")
    assert code == 400 and body["error"] == "missing q param"


def test_http_feedback_and_stats(server):
    st, ok = _post(server, "/api/feedback",
                   {"message": "nice", "type": "anonymous"})
    assert st == 200 and ok["success"] is True and ok["total_count"] >= 1

    code, body = _err(_post, server, "/api/feedback",
                      {"message": "m", "type": "replyable"})
    assert code == 400
    assert body["error"] == "email is required for 'replyable' type feedback"

    st, stats = _get(server, "/api/stats")
    assert stats["total_feedback_count"] >= 1
    assert stats["last_10_feedback"][-1]["message"] == "nice"
    assert "search_cache_hit_rate" in stats


def test_http_reload_add_document_ai(server):
    st, r = _post(server, "/api/reload")
    assert st == 200 and r["reloaded"] is True

    code, body = _err(_post, server, "/api/add_document", {"x": 1})
    assert code == 503  # disabled in the reference itself

    code, body = _err(_get, server, "/api/ai_overview?q=x")
    assert code == 501  # external-LLM hook not registered
    code, body = _err(_get, server, "/api/ai_summary?cord_uid=u1")
    assert code == 501


def test_ai_overview_cache_flow(server):
    """AI-overview LRU cache parity (reference api_engine.hpp:46-50,
    api_server.cpp:230-303): success cached + persisted, second call served
    from cache, errors NOT cached, no-results → 404."""
    eng = server.engine
    calls = []

    def hook(p):
        calls.append(p["q"])
        return {"success": True, "overview": f"ov:{p['q']}",
                "model": "fake-model", "usage": {"tokens": 7}}

    eng.hooks["ai_overview"] = hook
    try:
        st, a = _get(server, "/api/ai_overview?q=hotterm&k=3")
        assert st == 200 and a["overview"] == "ov:hotterm"
        assert a["cached"] is False and a["model"] == "fake-model"

        st, b = _get(server, "/api/ai_overview?q=hotterm&k=3")
        assert st == 200 and b["cached"] is True and b["overview"] == "ov:hotterm"
        assert calls == ["hotterm"]  # hook hit exactly once

        # different k → different cache key "query|k" (api_engine.cpp:190)
        st, c = _get(server, "/api/ai_overview?q=hotterm&k=5")
        assert c["cached"] is False and calls == ["hotterm", "hotterm"]

        # a query with no results → 404, reference api_server.cpp:272-279
        code, body = _err(_get, server, "/api/ai_overview?q=zzzznomatch")
        assert code == 404 and "No search results" in body["error"]

        # hook failure → 500, NOT cached (only success responses cached)
        eng.hooks["ai_overview"] = lambda p: {"success": False,
                                              "error": "upstream down"}
        code, body = _err(_get, server, "/api/ai_overview?q=buffer")
        assert code == 500 and body["error"] == "upstream down"
        eng.hooks["ai_overview"] = hook
        st, d = _get(server, "/api/ai_overview?q=buffer&k=10")
        assert d["cached"] is False  # the failure was not cached

        # cache persists: survives /api/reload (reloaded Engine re-reads the
        # persisted JSON, reference persistence api_engine.cpp:545-640)
        _post(server, "/api/reload")
        n_calls = len(calls)
        st, e = _get(server, "/api/ai_overview?q=hotterm&k=3")
        assert e["cached"] is True and len(calls) == n_calls
    finally:
        eng.hooks.pop("ai_overview", None)


def test_ai_summary_cache_flow(server):
    eng = server.engine
    calls = []

    def hook(p):
        calls.append(p["cord_uid"])
        return {"success": True, "summary": f"sum:{p['cord_uid']}",
                "model": "fake-model"}

    eng.hooks["ai_summary"] = hook
    try:
        st, a = _get(server, "/api/ai_summary?cord_uid=u42")
        assert st == 200 and a["summary"] == "sum:u42" and a["cached"] is False
        st, b = _get(server, "/api/ai_summary?cord_uid=u42")
        assert b["cached"] is True and calls == ["u42"]
        _post(server, "/api/reload")
        st, c = _get(server, "/api/ai_summary?cord_uid=u42")
        assert c["cached"] is True and calls == ["u42"]

        # hook failure → 500 with its error and details, NOT cached
        eng.hooks["ai_summary"] = lambda p: {
            "success": False, "error": "upstream down",
            "details": "timeout after 30 s"}
        code, body = _err(_get, server, "/api/ai_summary?cord_uid=u7")
        assert code == 500 and body["error"] == "upstream down"
        assert body["details"] == "timeout after 30 s"
        eng.hooks["ai_summary"] = hook
        st, d = _get(server, "/api/ai_summary?cord_uid=u7")
        assert st == 200 and d["cached"] is False and d["summary"] == "sum:u7"
        assert calls == ["u42", "u7"]
    finally:
        eng.hooks.pop("ai_summary", None)


def test_http_invalid_k_is_400(server):
    """Non-numeric k is a malformed request (400), not a 500 from the
    generic handler (ADVICE r3)."""
    for path in ("/api/search?q=hotterm&k=abc",
                 "/api/suggest?q=bu&k=1.5x",
                 "/api/ai_overview?q=hotterm&k=NaNplus"):
        code, body = _err(_get, server, path)
        assert code == 400 and body["error"] == "invalid k"


def test_search_cache_immune_to_caller_mutation(server):
    """A caller (or AI hook) mutating returned result rows must not corrupt
    the cached entry (ADVICE r3): responses carry their own row dicts."""
    eng = server.engine
    out1 = eng.search("hotterm buffer", 4)
    assert out1["results"]
    out1["results"][0]["score"] = -1.0
    out1["results"][0]["clobbered"] = True
    del out1["results"][1]

    out2 = eng.search("hotterm buffer", 4)
    assert out2["cached"] is True
    assert out2["results"][0]["score"] != -1.0
    assert "clobbered" not in out2["results"][0]
    assert len(out2["results"]) == 4


def test_http_two_segment_engine(tiny_index, tmp_path):
    """The HTTP routes over an ``Engine`` of two segments (the tiny index
    served twice, so every doc id occurs in both): health reports both
    segments and Σ docs, rows carry their segment, a repeated search is a
    cache hit, and a reload keeps the segments and their docs."""
    from nextsearch_api_spark.api import Engine
    from nextsearch_api_spark.http_server import ApiServer
    from nextsearch_api_spark.operators.wand import WandEngine

    root, _ = tiny_index
    n = WandEngine(root).N
    srv = ApiServer(Engine([root, root], cache_dir=str(tmp_path)), port=0)
    srv.start()
    try:
        st, h = _get(srv, "/api/health")
        assert st == 200 and h == {"ok": True, "segments": 2, "docs": 2 * n}

        st, s = _get(srv, "/api/search?q=hotterm%20buffer&k=4")
        assert st == 200 and s["cached"] is False and s["segments"] == 2
        rows = s["results"]
        one = Engine(root).search("hotterm buffer", 4)
        assert s["found"] == 2 * one["found"]
        # each doc scores the same in both copies, and the merge orders by
        # (score desc, segment asc, doc_id asc)
        want = sorted((-r["score"], seg, r["doc_id"])
                      for seg in (0, 1) for r in one["results"])[:4]
        assert [(-r["score"], r["segment"], r["doc_id"])
                for r in rows] == want
        uids = {r["doc_id"]: r["uid"] for r in one["results"]}
        assert all(r["uid"] == uids[r["doc_id"]] for r in rows)

        st, s2 = _get(srv, "/api/search?q=hotterm%20buffer&k=4")
        assert s2["cached"] is True
        assert s2["results"] == rows and s2["found"] == s["found"]

        st, stats = _get(srv, "/api/stats")
        assert stats["docs"] == 2 * n and stats["search_cache_hits"] == 1

        st, r = _post(srv, "/api/reload")
        assert st == 200 and r == {"reloaded": True, "segments": 2}
        st, h = _get(srv, "/api/health")
        assert h == {"ok": True, "segments": 2, "docs": 2 * n}
    finally:
        srv.stop()

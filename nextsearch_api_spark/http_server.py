"""HTTP JSON API over ``Engine`` — the reference's serving front door.

Route/param/shape parity with src/api_server.cpp (stdlib http.server, no new
dependencies):

    GET  /api/health        → {"ok": true, "segments": N, "docs": D} (:109-115)
    GET  /api/search?q=&k=  → engine.search JSON + timing fields    (:117-178)
    GET  /api/suggest?q=&k= → {"query", "suggestions"}              (:180-195)
    POST /api/reload        → {"reloaded": bool, "segments": N}     (:203-210)
    GET  /api/stats         → counters + cache rates + last-10 feedback (:358)
    POST /api/feedback      → validation + bounded store  (api_feedback.cpp)
    POST /api/add_document  → 503 (disabled in the reference itself,
                              src/api_ingest.cpp handle_add_document)
    GET  /api/ai_overview, /api/ai_summary
                            → served via Engine.hooks when registered, else
                              501 (external-LLM endpoints, out of scope)
    OPTIONS *               → 204 + CORS preflight                  (:91-106)

Missing q → 400 {"error":"missing q param"}; bad JSON body → 400; CORS
headers on every response (cord19::enable_cors analog).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from nextsearch_api_spark.api import Engine


def _make_handler(engine: Engine):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        # ------------------------------------------------------- plumbing --
        def log_message(self, fmt, *args):  # quiet by default
            pass

        def _cors(self):
            self.send_header("Access-Control-Allow-Origin", "*")
            self.send_header("Access-Control-Allow-Headers", "Content-Type")

        def _json(self, obj, status: int = 200):
            body = json.dumps(obj, indent=2).encode()
            self.send_response(status)
            self._cors()
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body_json(self):
            n = int(self.headers.get("Content-Length") or 0)
            raw = self.rfile.read(n) if n else b""
            try:
                return json.loads(raw.decode() or "null"), None
            except Exception as e:
                return None, str(e)

        def _params(self):
            return {k: v[0] for k, v in
                    parse_qs(urlparse(self.path).query).items()}

        def _int_param(self, p, name: str, default: int):
            """(value, None) or (None, error_dict): a non-numeric ``k`` is a
            malformed-request 400 like the missing-param cases, not a 500
            from the generic handler (ADVICE r3)."""
            try:
                return int(p.get(name, default)), None
            except (TypeError, ValueError):
                return None, {"error": f"invalid {name}"}

        # --------------------------------------------------------- routes --
        def do_OPTIONS(self):  # noqa: N802 — CORS preflight (cpp:91-106)
            self.send_response(204)
            self._cors()
            self.send_header("Access-Control-Allow-Methods",
                             "GET, POST, OPTIONS")
            self.send_header("Content-Length", "0")
            self.end_headers()

        def do_GET(self):  # noqa: N802
            route = urlparse(self.path).path
            p = self._params()
            try:
                if route == "/api/health":
                    h = engine.health()
                    self._json({"ok": True, "segments": h["segments"],
                                "docs": h["docs"]})
                elif route == "/api/search":
                    if "q" not in p:
                        self._json({"error": "missing q param"}, 400)
                        return
                    k, kerr = self._int_param(p, "k", 10)
                    if kerr is not None:
                        self._json(kerr, 400)
                        return
                    self._json(engine.search(p["q"], k))
                elif route == "/api/suggest":
                    if "q" not in p:
                        self._json({"error": "missing q param"}, 400)
                        return
                    k, kerr = self._int_param(p, "k", 5)
                    if kerr is not None:
                        self._json(kerr, 400)
                        return
                    self._json(engine.suggest(p["q"], k))
                elif route == "/api/stats":
                    self._json(engine.stats())
                elif route == "/api/ai_overview":
                    if "q" not in p:
                        self._json({"error": "missing q param"}, 400)
                        return
                    k, kerr = self._int_param(p, "k", 10)
                    if kerr is not None:
                        self._json(kerr, 400)
                        return
                    out = engine.ai_overview(p["q"], k)
                    self._json(out, out.pop("status", 200))
                elif route == "/api/ai_summary":
                    if "cord_uid" not in p:
                        self._json({"error": "missing cord_uid param"}, 400)
                        return
                    out = engine.ai_summary(p["cord_uid"])
                    self._json(out, out.pop("status", 200))
                else:
                    self._json({"error": "not found"}, 404)
            except Exception as e:  # reference returns 500 + details
                self._json({"error": "internal server error",
                            "details": str(e)}, 500)

        def do_POST(self):  # noqa: N802
            route = urlparse(self.path).path
            try:
                if route == "/api/reload":
                    out = engine.reload()
                    self._json({"reloaded": out["status"] == "reloaded",
                                "segments": len(engine.segments)})
                elif route == "/api/feedback":
                    body, perr = self._body_json()
                    if perr is not None:
                        self._json({"error": "invalid JSON in request body",
                                    "details": perr}, 400)
                        return
                    out = engine.feedback(body)
                    self._json(out, 400 if "error" in out else 200)
                elif route == "/api/add_document":
                    # the reference ships this endpoint disabled (503)
                    self._json({"error": "document upload disabled"}, 503)
                else:
                    self._json({"error": "not found"}, 404)
            except Exception as e:
                self._json({"error": "internal server error",
                            "details": str(e)}, 500)

    return Handler


class ApiServer:
    """Threaded HTTP server wrapper: serve(block=True) or start()/stop()."""

    def __init__(self, engine: Engine, host: str = "127.0.0.1",
                 port: int = 8080):
        self.engine = engine
        self.httpd = ThreadingHTTPServer((host, port), _make_handler(engine))
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self.httpd.server_address[1]

    def start(self) -> None:
        self._thread = threading.Thread(target=self.httpd.serve_forever,
                                        daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def serve(self) -> None:
        try:
            self.httpd.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            self.httpd.server_close()


def main() -> None:
    """CLI: python -m nextsearch_api_spark.http_server <index_root>
    [--port 8080] [--cache-dir DIR] [--embeddings PATH]"""
    import argparse

    ap = argparse.ArgumentParser(prog="nextsearch-api-server")
    ap.add_argument("index_root")
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--cache-dir", default=None)
    ap.add_argument("--embeddings", default=None)
    args = ap.parse_args()

    eng = Engine(args.index_root, cache_dir=args.cache_dir,
                 embeddings_path=args.embeddings)
    srv = ApiServer(eng, args.host, args.port)
    print(f"serving on http://{args.host}:{srv.port}")
    srv.serve()


if __name__ == "__main__":
    main()

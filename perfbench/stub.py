"""Loopback REST stub serving a ``corpus.Corpus`` the way Omeka S and
the enrichment service do.

Endpoints (all GET):
- ``api/items?format=turtle&page=N&per_page=100``: page N's Turtle body,
  empty past the last page;
- ``api-context``: the JSON-LD context;
- ``enrich/<key>``: one enrichment document, or 503 for a failing key.

Each reply waits a fixed latency first (per page, per enrichment key).
At most ``max_connections`` requests are served at once; the rest queue.
Counters record requests, bytes and latency served, per endpoint.
"""

from __future__ import annotations

import threading
import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit
from urllib.request import urlopen

from perfbench.corpus import Corpus

FETCH_TIMEOUT_S = 60


def fetch_enrichment(base_url: str, key: str) -> str:
    """The enrichment fetcher handed to the program; runs on executors.

    A 5xx reply raises ``HTTPError``, which the program must absorb as a
    failed key."""
    with urlopen(f"{base_url}enrich/{key}", timeout=FETCH_TIMEOUT_S) as resp:
        return resp.read().decode("utf-8")


class Stub:
    def __init__(
        self,
        corpus: Corpus,
        page_latency_s: float,
        key_latency_s: float,
        max_connections: int,
    ) -> None:
        self.corpus = corpus
        self.page_latency_s = page_latency_s
        self.key_latency_s = key_latency_s
        self._slots = threading.BoundedSemaphore(max_connections)
        self._lock = threading.Lock()
        self.requests: Counter = Counter()
        self.bytes: Counter = Counter()
        self.wait_s: Counter = Counter()
        self.errors: Counter = Counter()
        self.key_calls: Counter = Counter()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (http.server API)
                with stub._slots:
                    stub._serve(self)

            def log_message(self, *args) -> None:
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}/"

    def __enter__(self) -> "Stub":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def snapshot(self) -> dict:
        with self._lock:
            return {
                "requests": dict(self.requests),
                "bytes": dict(self.bytes),
                "wait_s": dict(self.wait_s),
                "errors": dict(self.errors),
                "per_key": dict(self.key_calls),
                "key_calls": sum(self.key_calls.values()),
            }

    def _serve(self, handler: BaseHTTPRequestHandler) -> None:
        url = urlsplit(handler.path)
        status, body, endpoint, latency = 404, b"", "other", 0.0
        if url.path == "/api/items":
            endpoint, latency = "page", self.page_latency_s
            page = int(parse_qs(url.query).get("page", ["0"])[0])
            text = self.corpus.pages[page - 1] if 1 <= page <= len(self.corpus.pages) else ""
            status, body = 200, text.encode("utf-8")
        elif url.path == "/api-context":
            endpoint = "context"
            status, body = 200, self.corpus.context_body.encode("utf-8")
        elif url.path.startswith("/enrich/"):
            endpoint, latency = "enrich", self.key_latency_s
            key = url.path[len("/enrich/"):]
            with self._lock:
                self.key_calls[key] += 1
            text = self.corpus.enrichment.get(key)
            if text is None:
                status, body = 503, b"service unavailable"
            else:
                status, body = 200, text.encode("utf-8")
        waited = 0.0
        if latency:
            t0 = time.perf_counter()
            time.sleep(latency)
            waited = time.perf_counter() - t0
        with self._lock:
            self.requests[endpoint] += 1
            self.bytes[endpoint] += len(body)
            self.wait_s[endpoint] += waited
            if status >= 500:
                self.errors[endpoint] += 1
        handler.send_response(status)
        handler.send_header("Content-Length", str(len(body)))
        handler.end_headers()
        handler.wfile.write(body)

"""Benchmark-owned HTTP stub that serves the seeded course pages.

URL shape: ``/op<i>/w<w>/courses?page=<p>&page_size=<s>``.  The op and
window in the path let the stub answer one seeded set of first requests
per op with 429, so the source's retry path runs in every op, and let it
follow each reader partition's request stream to measure the idle gap
between one response and that partition's next request.

At most ``max_conns`` requests are served at once; the rest wait.  All
counters are guarded by one lock because handler threads update them
concurrently.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


class StubStats:
    """Counters for the ``sources.rest.*`` per-layer metrics."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self.lock:
            self.requests = 0
            self.retries = 0  # 429 answers: each forces one retry in the reader
            self.bytes = 0
            self.busy_s = 0.0
            self.idle_gap_s = 0.0
            self._last_end: dict[tuple, float] = {}

    def snapshot(self) -> dict[str, float]:
        with self.lock:
            return {"requests": self.requests, "retries": self.retries, "bytes": self.bytes,
                    "busy_s": self.busy_s, "idle_gap_s": self.idle_gap_s}


class RestStub:
    """Serves ``windows[w][p-1]`` as ``{"next": ..., "results": [...]}``.

    ``throttled(w, p)`` says whether the first request for page ``p`` (1-based)
    of window ``w`` in each op is answered with 429.  ``partitions`` is the
    reader's partition count, used to map a page to its request stream.
    """

    def __init__(self, windows, throttled, partitions: int, max_conns: int) -> None:
        self.stats = StubStats()
        self._bodies = [
            [json.dumps({"next": None, "results": page}).encode() for page in window]
            for window in windows
        ]
        self._throttled = throttled
        self._seen_429: set[tuple[int, int, int]] = set()
        self._pages = len(windows[0]) if windows else 0
        self._per_part = -(-self._pages // max(1, min(partitions, self._pages or 1)))
        self._slots = threading.BoundedSemaphore(max_conns)
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 - http.server naming
                with stub._slots:
                    stub._serve(self)

            def log_message(self, *args):  # silence per-request stderr lines
                pass

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def url(self, op: int, window: int) -> str:
        return f"http://127.0.0.1:{self.port}/op{op}/w{window}/courses"

    def page_bytes(self, window: int) -> int:
        return sum(len(b) for b in self._bodies[window])

    def start(self) -> "RestStub":
        self._thread.start()
        return self

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)

    def _serve(self, req: BaseHTTPRequestHandler) -> None:
        t0 = time.perf_counter()
        url = urlparse(req.path)
        parts = url.path.strip("/").split("/")
        try:
            op, window = int(parts[0][2:]), int(parts[1][1:])
            page = int(parse_qs(url.query)["page"][0])
            if page < 1:
                raise IndexError(page)
            body = self._bodies[window][page - 1]
        except (IndexError, KeyError, ValueError):
            req.send_error(404)
            return
        stream = (op, window, (page - 1) // self._per_part)
        key = (op, window, page)
        with self.stats.lock:
            last = self.stats._last_end.get(stream)
            if last is not None:
                self.stats.idle_gap_s += t0 - last
            throttle = self._throttled(window, page) and key not in self._seen_429
            if throttle:
                self._seen_429.add(key)
        if throttle:
            req.send_response(429)
            req.send_header("Content-Length", "0")
            req.end_headers()
            body = b""
        else:
            req.send_response(200)
            req.send_header("Content-Type", "application/json")
            req.send_header("Content-Length", str(len(body)))
            req.end_headers()
            req.wfile.write(body)
        t1 = time.perf_counter()
        with self.stats.lock:
            self.stats.requests += 1
            self.stats.retries += int(throttle)
            self.stats.bytes += len(body)
            self.stats.busy_s += t1 - t0
            self.stats._last_end[stream] = t1

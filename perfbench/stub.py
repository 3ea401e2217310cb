"""Stub app server for the ``rest`` op of the ``ingest`` workload.

One process with at most ``--cap`` handler threads. It answers every POST
with 200, or 422 for the records ``gen.rest_verdict`` rejects, and counts:

- POSTs per record ``id`` (the recId the generator encoded in it);
- TCP connections accepted;
- requests in flight over time, integrated so that the mean concurrency over
  a run can be read back.

``GET /stats`` returns the counters since the last ``POST /reset``; neither
of those two requests is counted. Run it as::

    python3 perfbench/stub.py --seed 7 --cap 4

It prints ``PORT <n>`` on its first stdout line once it is listening.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import rest_verdict  # noqa: E402


class Counters:
    """POST, connection and in-flight counters, safe across handler threads."""

    def __init__(self, clock=time.monotonic):
        self._clock = clock
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.posts: dict[str, int] = {}
            self.connections = 0
            self.inflight = 0
            self.max_inflight = 0
            self._area = 0.0
            self._since = self._last = self._clock()

    def _advance(self) -> None:
        now = self._clock()
        self._area += self.inflight * (now - self._last)
        self._last = now

    def connected(self) -> None:
        with self._lock:
            self.connections += 1

    def begin(self) -> None:
        with self._lock:
            self._advance()
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)

    def end(self, key: str | None) -> None:
        with self._lock:
            self._advance()
            self.inflight -= 1
            if key is not None:
                self.posts[key] = self.posts.get(key, 0) + 1

    def snapshot(self) -> dict:
        with self._lock:
            self._advance()
            elapsed = self._last - self._since
            return {
                "posts": dict(self.posts),
                "connections": self.connections,
                "max_inflight": self.max_inflight,
                "inflight_mean": self._area / elapsed if elapsed > 0 else 0.0,
                "elapsed_s": elapsed,
            }


class StubServer(HTTPServer):
    """HTTP server whose requests run on a fixed pool of ``cap`` threads."""

    def __init__(self, addr, seed: int, cap: int):
        super().__init__(addr, Handler)
        self.seed = seed
        self.counters = Counters()
        self.pool = ThreadPoolExecutor(max_workers=cap, thread_name_prefix="stub")

    def process_request(self, request, client_address):
        self.counters.connected()
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — keep serving; the client sees a reset
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def server_close(self):
        super().server_close()
        self.pool.shutdown(wait=True)


class Handler(BaseHTTPRequestHandler):
    server: StubServer

    def log_message(self, format, *args):  # noqa: A002 — quiet access log
        pass

    def _reply(self, status: int, body: bytes = b"{}") -> None:
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802
        if self.path != "/stats":
            self._reply(404)
            return
        snap = self.server.counters.snapshot()
        snap["connections"] -= 1  # this request's own
        snap["threads"] = threading.active_count()
        self._reply(200, json.dumps(snap).encode())

    def do_POST(self):  # noqa: N802
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length)
        if self.path == "/reset":
            self.server.counters.reset()
            self._reply(200)
            return
        counters = self.server.counters
        counters.begin()
        key, status = None, 400
        try:
            key = json.loads(body or b"{}").get("id")
            if key is not None:
                status = rest_verdict(self.server.seed, key)
            self._reply(status)
        finally:
            counters.end(key)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--cap", type=int, required=True, help="handler threads")
    args = ap.parse_args()
    server = StubServer(("127.0.0.1", 0), args.seed, args.cap)
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever(poll_interval=0.1)
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()


if __name__ == "__main__":
    main()

"""In-process fake ClickHouse HTTP endpoint (layer `bench.fake_ch`).

Accepts the sink's `INSERT ... FORMAT JSONEachRow` POSTs and keeps,
per POST, the arrival time, the body and its row count. Decoding is
left to the checks after the timed window, so the endpoint costs the
sink as little as a real server's socket would. Every POST is tagged
with the current `epoch`, which the benchmark bumps between repeated
drains of the same backlog.
"""

from __future__ import annotations

import json
import threading
import time
from collections import Counter
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


@dataclass
class Post:
    epoch: int
    arrived: float  # time.time() when the body was fully read
    body: bytes

    @property
    def rows(self) -> int:
        return sum(1 for line in self.body.split(b"\n") if line.strip())


class FakeClickHouse:
    """Start with `start()`, stop with `close()`; `url` is valid in
    between. Thread-safe: the sink POSTs from several task threads."""

    def __init__(self) -> None:
        self.epoch = 0
        self.posts: list[Post] = []
        self.busy_s = 0.0
        self._lock = threading.Lock()
        self._srv: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        if self._srv is None:
            raise RuntimeError("endpoint not started")
        return f"http://127.0.0.1:{self._srv.server_port}"

    def start(self) -> FakeClickHouse:
        owner = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                t = time.perf_counter()
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n)
                # record before replying: once the sink has its reply,
                # the rows must be visible to the benchmark's checks
                with owner._lock:
                    owner.posts.append(Post(owner.epoch, time.time(), body))
                    owner.busy_s += time.perf_counter() - t
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):
                pass

        self._srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._srv.daemon_threads = True
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()
        return self

    def close(self) -> None:
        if self._srv is not None:
            self._srv.shutdown()
            self._srv.server_close()
            self._thread.join(timeout=10)
            self._srv = None

    def snapshot(self, epoch: int | None = None) -> list[Post]:
        with self._lock:
            return [p for p in self.posts if epoch is None or p.epoch == epoch]

    def rows_received(self, epoch: int | None = None) -> int:
        return sum(p.rows for p in self.snapshot(epoch))


def line_counts(posts: list[Post]) -> Counter:
    """Multiset of the raw JSONEachRow lines received."""
    return Counter(line for p in posts for line in p.body.split(b"\n") if line.strip())


def decode_rows(posts: list[Post]) -> list[tuple]:
    """JSONEachRow bodies → (severity, machine, log_group, time_ms,
    type, id) tuples, the generator's expected-row shape. Spark's
    to_json renders the timestamp at millisecond precision in UTC."""
    from datetime import datetime

    out = []
    for p in posts:
        for line in p.body.split(b"\n"):
            if not line.strip():
                continue
            r = json.loads(line)
            ms = int(round(datetime.fromisoformat(r["time"]).timestamp() * 1000))
            out.append((r["severity"], r["machine"], r["log_group"], ms, r["type"], r["id"]))
    return out


def last_arrival_by_rotation(posts: list[Post]) -> dict[int, tuple[float, int]]:
    """rotation index → (arrival time of its last row, rows seen). The
    rotation is the first four hex digits of the row's ID."""
    out: dict[int, tuple[float, int]] = {}
    for p in posts:
        for line in p.body.split(b"\n"):
            if not line.strip():
                continue
            rot = int(json.loads(line)["id"][:4], 16)
            t, n = out.get(rot, (0.0, 0))
            out[rot] = (max(t, p.arrived), n + 1)
    return out

"""A1 — the HTTP ingest front door, made real.

The reference's publisher is an HTTP server that guards `POST /ingest`
(method / API key / empty body / JSON validity) and queues accepted payloads
on an async batched Kafka writer (`publisher/cmd/api/main.go:76-80`,
`publisher/internal/api/handler.go:30-93`,
`publisher/internal/kafka/publisher.go:34-49`). Earlier rounds scoped A1
out-of-engine; this module closes it with pure stdlib:

- ``IngestHTTPServer``: `http.server`-based front door with the exact route
  and status-code semantics of `handler.go` (405 wrong method, 401 missing or
  invalid key, 500 auth backend error, 400 empty body, 400 invalid JSON,
  202 "Payload accepted" on queue; `GET /healthz` -> 200 "OK"). JSON
  validity is `operators.ingest.json_kind`, the same call the stream's
  gates make, so no accepted payload is dropped downstream as invalid JSON.
- ``CachingAuthenticator``: the LRU+TTL decorator of
  `publisher/internal/auth/caching.go:26-80` — size<=0 disables caching,
  empty key short-circuits without touching cache or backend, hits return
  the cached verdict, misses delegate, backend errors are NOT cached, both
  valid and invalid verdicts are.
- ``SpoolPublisher``: the async batched queue of `publisher.go` (BatchSize
  100, BatchTimeout 1s, flush-on-close) writing newline-delimited payload
  files atomically (tmp + rename) into a spool directory.

The spool directory is the engine ingress: a Spark text stream over it
surfaces one payload per `value` row, the Kafka topic's contract, so
everything downstream of the front door (A2..A17) is byte-for-byte the
pipeline the Kafka path runs. `streaming.pipeline.file_source` reads one
spool file per trigger, for deterministic tests; throughput readers
(`tools/soak.py`, `perfbench`) read up to 256 files per trigger. On a
real cluster the SpoolPublisher's target directory is object storage (or
swapped back to `format("kafka")`); the HTTP tier scales horizontally
exactly like the reference's publisher — it holds no state beyond the
current un-flushed batch.
"""

from __future__ import annotations

import os
import threading
import time
from collections import OrderedDict
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ..operators.ingest import json_kind

API_KEY_HEADER = "X-API-Key"

# publisher.go:45-46
DEFAULT_BATCH_SIZE = 100
DEFAULT_BATCH_TIMEOUT_S = 1.0

# publisher/internal/config/config.go:18-20
DEFAULT_AUTH_CACHE_SIZE = 10_000
DEFAULT_AUTH_CACHE_TTL_S = 60 * 60.0

# main.go:86-88 — net/http server timeouts
HTTP_READ_TIMEOUT_S = 15
HTTP_WRITE_TIMEOUT_S = 15
HTTP_IDLE_TIMEOUT_S = 60


class CachingAuthenticator:
    """LRU+TTL auth cache (caching.go:26-80). Thread-safe.

    ``next_auth`` is any callable ``api_key -> bool`` (the Postgres point
    lookup of auth.go:33-59 in the reference; here usually a lookup built
    from the api_keys dimension). Exceptions from the backend propagate and
    are never cached (caching.go:71-75).
    """

    def __init__(
        self,
        next_auth: Callable[[str], bool],
        size: int = DEFAULT_AUTH_CACHE_SIZE,
        ttl_s: float = DEFAULT_AUTH_CACHE_TTL_S,
        clock: Callable[[], float] = time.monotonic,
    ) -> None:
        self.next_auth = next_auth
        self.size = size
        self.ttl_s = ttl_s if ttl_s > 0 else 5 * 60.0  # caching.go:37-40
        self.clock = clock
        self._cache: OrderedDict[str, tuple[bool, float]] = OrderedDict()
        self._lock = threading.Lock()
        self.backend_calls = 0  # observability for tests

    def __call__(self, api_key: str) -> bool:
        if not api_key:  # caching.go:57-59: never cached, never delegated
            return False
        if self.size <= 0:  # caching.go:28-31: caching disabled
            self.backend_calls += 1
            return self.next_auth(api_key)
        now = self.clock()
        with self._lock:
            hit = self._cache.get(api_key)
            if hit is not None:
                verdict, expires = hit
                if now < expires:
                    self._cache.move_to_end(api_key)
                    return verdict
                del self._cache[api_key]
        self.backend_calls += 1
        verdict = bool(self.next_auth(api_key))  # errors propagate, uncached
        with self._lock:
            self._cache[api_key] = (verdict, now + self.ttl_s)
            self._cache.move_to_end(api_key)
            while len(self._cache) > self.size:
                self._cache.popitem(last=False)
        return verdict


def keys_authenticator(keys_df) -> Callable[[str], bool]:
    """auth.go:38 — ``EXISTS(... WHERE api_key = $1 AND is_active)`` as a
    lookup over the collected api_keys dimension (small by construction; the
    reference holds it in Postgres, a broadcast-side dim here)."""
    from pyspark.sql import functions as F

    rows = (
        keys_df.where(F.col("is_active"))
        .select("api_key")
        .collect()
    )
    active = frozenset(r[0] for r in rows)
    return lambda api_key: api_key in active


class SpoolPublisher:
    """Async batched queue (publisher.go:34-94) writing spool files.

    ``publish()`` returns as soon as the payload is buffered (async mode,
    publisher.go:59-79). A background linger thread flushes when the batch
    reaches ``batch_size`` or ``batch_timeout_s`` elapses with data queued
    (BatchSize/BatchTimeout, publisher.go:45-46). ``close()`` drains the
    buffer (flush-on-close, publisher.go:83-94). Each flush writes ONE file
    atomically — tmp write + rename — because Spark's file streaming source
    lists whole files; a half-written spool file is never visible.
    """

    def __init__(
        self,
        spool_dir: str,
        batch_size: int = DEFAULT_BATCH_SIZE,
        batch_timeout_s: float = DEFAULT_BATCH_TIMEOUT_S,
    ) -> None:
        self.spool_dir = spool_dir
        self.batch_size = batch_size
        self.batch_timeout_s = batch_timeout_s
        os.makedirs(spool_dir, exist_ok=True)
        self._buf: list[bytes] = []
        self._first_queued_at: float | None = None
        self._seq = 0
        self._lock = threading.Lock()
        self._wake = threading.Event()
        self._closed = False
        self.flushes = 0
        self._linger = threading.Thread(target=self._linger_loop, daemon=True)
        self._linger.start()

    def publish(self, key: bytes | None, value: bytes) -> None:
        """Queue one payload; nil keys per handler.go:110 ('nil key')."""
        with self._lock:
            if self._closed:
                raise RuntimeError("publisher closed")
            self._buf.append(value)
            if self._first_queued_at is None:
                self._first_queued_at = time.monotonic()
            full = len(self._buf) >= self.batch_size
        if full:
            self._flush()

    def _flush(self) -> None:
        with self._lock:
            if not self._buf:
                return
            batch, self._buf = self._buf, []
            self._first_queued_at = None
            seq = self._seq
            self._seq += 1
        tmp = os.path.join(self.spool_dir, f"._tmp-batch-{seq:09d}.jsonl")
        final = os.path.join(self.spool_dir, f"batch-{seq:09d}.jsonl")
        with open(tmp, "wb") as f:
            for payload in batch:
                # Spark's text source ends a line at \n, \r or \r\n; in
                # valid JSON both can only be whitespace between tokens
                line = payload.replace(b"\n", b" ").replace(b"\r", b" ")
                f.write(line + b"\n")
        os.rename(tmp, final)
        self.flushes += 1

    def _linger_loop(self) -> None:
        while True:
            self._wake.wait(timeout=self.batch_timeout_s / 4)
            with self._lock:
                if self._closed:
                    return
                first = self._first_queued_at
            if first is not None and time.monotonic() - first >= self.batch_timeout_s:
                self._flush()

    def close(self) -> None:
        """Flush buffered payloads then stop (publisher.go:83-94)."""
        with self._lock:
            self._closed = True
        self._wake.set()
        self._flush()


class _Handler(BaseHTTPRequestHandler):
    server: "IngestHTTPServer"

    # main.go:86-87: ReadTimeout 15 s (socket read deadline; the write
    # timeout is enforced by the same socket deadline in http.server).
    timeout = HTTP_READ_TIMEOUT_S
    # main.go:88: IdleTimeout 60 s for keep-alive connections
    protocol_version = "HTTP/1.1"
    # Go's net/http sets TCP_NODELAY on every accepted conn; without it,
    # Nagle + delayed-ACK caps a keep-alive request/response loop at
    # ~25 req/s per connection (measured in the round-8 soak: 87 rows/s
    # at a 600 target until this landed).
    disable_nagle_algorithm = True

    def log_message(self, fmt, *args):  # silence per-request stderr noise
        pass

    def _drain_body(self) -> None:
        """Consume any unread request body before replying.

        Early replies (401/405/404/400) otherwise leave the body on the
        keep-alive socket, and the NEXT request parse reads it as a
        request line — a pooled client retrying with a fixed key would
        get a bogus 501 (the Go reference's net/http drains/closes).
        Chunked uploads can't be drained without a decoder http.server
        lacks, so those connections close after the reply.
        """
        if getattr(self, "_body", None) is not None:
            return
        if self.headers.get("Transfer-Encoding", "").lower() == "chunked":
            self.close_connection = True
            return
        length = self._content_length()
        if length is None:
            # malformed header: can't know how much to drain — close
            self.close_connection = True
            return
        if length > 0:
            self.rfile.read(length)

    def _content_length(self):
        """Parse Content-Length; None if malformed (Go's net/http → 400)."""
        raw = self.headers.get("Content-Length")
        if raw is None or raw.strip() == "":
            return 0
        try:
            length = int(raw)
        except ValueError:
            return None
        return length if length >= 0 else None

    def _reply(self, code: int, body: str) -> None:
        self._drain_body()
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Type", "text/plain; charset=utf-8")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _route(self, method: str) -> None:
        # one handler instance serves every request on a keep-alive
        # connection — reset the consumed-body marker per request
        self._body = None
        if self.path == "/healthz":
            # main.go:77-80: GET only
            if method != "GET":
                self._reply(405, "Method Not Allowed\n")
            else:
                self._reply(200, "OK\n")
            return
        if self.path == "/ingest":
            if method != "POST":  # handler.go:32-35
                self._reply(405, "Method Not Allowed\n")
            else:
                self._ingest()
            return
        self._reply(404, "Not Found\n")

    def _ingest(self) -> None:
        # handler.go:38-42: key header required
        api_key = self.headers.get(API_KEY_HEADER, "")
        if not api_key:
            self._reply(401, "Unauthorized: API key required\n")
            return
        # handler.go:45-56: backend error -> 500, invalid -> 401
        try:
            valid = self.server.authenticate(api_key)
        except Exception:
            self._reply(500, "Internal Server Error\n")
            return
        if not valid:
            self._reply(401, "Unauthorized: Invalid API key\n")
            return
        # handler.go:59-71: read body, empty -> 400; net/http rejects a
        # malformed Content-Length with 400 before the handler runs
        length = self._content_length()
        if length is None:
            self._body = b""
            self.close_connection = True
            self._reply(400, "Bad Request\n")
            return
        body = self.rfile.read(length) if length else b""
        self._body = body  # mark consumed so _reply doesn't re-drain
        if not body:
            self._reply(400, "Bad Request: Empty body\n")
            return
        # handler.go:74-78: json.Valid
        if json_kind(body) is None:
            self._reply(400, "Bad Request: Invalid JSON\n")
            return
        # handler.go:81-93: async queue, 202 Accepted
        try:
            self.server.publisher.publish(None, body)
        except Exception:
            self._reply(500, "Internal Server Error: Failed to queue message\n")
            return
        self._reply(202, "Payload accepted\n")

    def do_GET(self) -> None:
        self._route("GET")

    def do_POST(self) -> None:
        self._route("POST")

    def do_PUT(self) -> None:
        self._route("PUT")

    def do_DELETE(self) -> None:
        self._route("DELETE")


class IngestHTTPServer(ThreadingHTTPServer):
    """The publisher process: HTTP front door + async spool queue.

    ``close()`` is the reference's graceful shutdown (main.go:98-108):
    stop accepting, then drain the publisher buffer.
    """

    daemon_threads = True

    def __init__(
        self,
        publisher: SpoolPublisher,
        authenticate: Callable[[str], bool],
        host: str = "127.0.0.1",
        port: int = 0,
    ) -> None:
        super().__init__((host, port), _Handler)
        self.publisher = publisher
        self.authenticate = authenticate
        self._thread: threading.Thread | None = None

    @property
    def url(self) -> str:
        host, port = self.server_address[:2]
        return f"http://{host}:{port}"

    def start(self) -> "IngestHTTPServer":
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self

    def close(self) -> None:
        self.shutdown()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.server_close()
        self.publisher.close()

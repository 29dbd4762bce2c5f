"""Open-loop HTTP load generator, run as its own process.

    python3 perfbench/gen.py --port P --rate R --seconds S --seed N \
        --start-at EPOCH_S --out results.json

Request i is due at start_at + i / rate whatever the server did before,
and up to four keep-alive connections take the next due request as soon
as they are free. Each record keeps the due time, when its connection
became free, the send and the response, so latency is charged from the
due time and the generator's own lateness can be told apart from waiting
on the server (stats.account).
"""

from __future__ import annotations

import argparse
import http.client
import json
import random
import socket
import threading
import time

import payloads
import stats

API_KEY_HEADER = "X-API-Key"
CONNECTIONS = 4


def build_requests(seed: int, rate: float, seconds: float, start_ms: int):
    rng = random.Random(f"steady-{seed}")
    keys = payloads.api_keys(seed)
    cum = payloads.zipf_weights(len(keys))
    pool = payloads.text_pool(rng)
    n = int(rate * seconds)
    out = []
    for i, due in enumerate(stats.due_times(start_ms, rate / 1000.0, n)):
        out.append(payloads.steady_request(rng, pool, i, round(due), keys, cum))
    return out


def _connect(port: int) -> http.client.HTTPConnection:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    conn.connect()
    conn.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    return conn


def run(port: int, rate: float, requests, start_wall: float) -> list[list]:
    """Send every request on schedule; returns one record per request:
    [status, due, free_at, sent, done] in wall-clock seconds (status 0 is
    a transport error)."""
    offset = time.time() - time.monotonic()
    dues = stats.due_times(start_wall - offset, rate, len(requests))
    records: list[list | None] = [None] * len(requests)
    nxt = [0]
    lock = threading.Lock()

    def worker() -> None:
        conn = _connect(port)
        while True:
            free_at = time.monotonic()
            with lock:
                i = nxt[0]
                nxt[0] += 1
            if i >= len(requests):
                break
            due = dues[i]
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            key, body, _kind = requests[i]
            sent = time.monotonic()
            try:
                conn.request("POST", "/ingest", body, {API_KEY_HEADER: key})
                resp = conn.getresponse()
                resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                status = 0
                conn.close()
                conn = _connect(port)
            done = time.monotonic()
            records[i] = [status, due + offset, free_at + offset, sent + offset, done + offset]
        conn.close()

    threads = [threading.Thread(target=worker) for _ in range(CONNECTIONS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start-at", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    requests = build_requests(a.seed, a.rate, a.seconds, round(a.start_at * 1000))
    records = run(a.port, a.rate, requests, a.start_at)
    kinds = [k for _, _, k in requests]
    with open(a.out, "w") as fh:
        json.dump({"records": records, "kinds": kinds}, fh)


if __name__ == "__main__":
    main()

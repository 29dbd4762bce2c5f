"""Seeded inputs for ingest-steady: API keys and JSON payloads.

Everything here is a pure function of the seed, so the load generator
process and the benchmark process derive the same keys independently and
the program sees only what they produce.
"""

from __future__ import annotations

import json
import random
import string
from datetime import datetime, timezone

N_ACTIVE_KEYS = 300  # "a few hundred active keys"
ZIPF_S = 1.1

_MSG_ALPHABET = string.ascii_letters + string.digits + "      {}[]:,\"\\"


def api_keys(seed: int, n: int = N_ACTIVE_KEYS) -> list[str]:
    """The active API keys; payloads carry their key as sensorId, which is
    what the pipeline's semi-join auth gate matches."""
    rng = random.Random(f"keys-{seed}")
    return [f"key-{rng.getrandbits(48):012x}" for _ in range(n)]


def zipf_weights(n: int, s: float = ZIPF_S) -> list[float]:
    """Cumulative Zipf weights over ranks 1..n, for random.choices."""
    cum, acc = [], 0.0
    for r in range(1, n + 1):
        acc += 1.0 / r**s
        cum.append(acc)
    return cum


def iso_ms(ms: int) -> str:
    return (
        datetime.fromtimestamp(ms / 1000, tz=timezone.utc)
        .isoformat(timespec="milliseconds")
        .replace("+00:00", "Z")
    )


def text_pool(rng: random.Random) -> str:
    """Seeded characters that messages are cut from; quotes, backslashes
    and brackets inside the strings exercise the strict-span check's
    in-string states."""
    return "".join(rng.choices(_MSG_ALPHABET, k=1 << 16))


def message(rng: random.Random, pool: str, lo: int, hi: int) -> str:
    """A message whose length is skewed towards short but reaches ``hi``."""
    n = lo + int((hi - lo) * rng.random() ** 3)
    start = rng.randrange(len(pool) - n)
    return pool[start : start + n]


BAD_JSON_EVERY = 200
BAD_KEY_EVERY = 300


def steady_request(rng, pool, seq: int, due_ms: int, keys, cum) -> tuple[str, bytes, str]:
    """(api_key, body, kind) for request ``seq``; kind is 'ok', 'bad_json'
    (answered 400) or 'bad_key' (answered 401)."""
    key = rng.choices(keys, cum_weights=cum)[0]
    doc = {
        "sensorId": key,
        "temperature": round(rng.uniform(-20.0, 45.0), 2),
        "timestamp": iso_ms(due_ms),
        "value": seq,
        "message": message(rng, pool, 10, 2000),
    }
    body = json.dumps(doc, separators=(",", ":")).encode()
    u = rng.random()
    if u < 1.0 / BAD_JSON_EVERY:
        return key, body[: len(body) // 2], "bad_json"
    if u < 1.0 / BAD_JSON_EVERY + 1.0 / BAD_KEY_EVERY:
        return f"stolen-{rng.getrandbits(32):08x}", body, "bad_key"
    return key, body, "ok"

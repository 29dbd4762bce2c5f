"""Pure helpers the benchmark's numbers rest on: percentiles, the
open-loop due-time accounting and the offset-log freshness join.

Kept free of Spark so the tests in ``perfbench/tests`` pin them directly.
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime

# Candidate tail percentiles, highest first (see supported_percentile).
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method); 0.0 for an
    empty sample so an unexercised layer reads as zero, not an error."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def samples_beyond(n: int, p: float) -> int:
    """How many of ``n`` ordered samples lie strictly above percentile p."""
    return n - math.ceil(n * p / 100.0 - 1e-9)


def supported_percentile(n: int, candidates=TAIL_CANDIDATES) -> float | None:
    """The highest candidate percentile with at least ten samples beyond it,
    or None when even the median lacks that support."""
    for p in candidates:
        if samples_beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values) -> float:
    return percentile(values, 50.0)


# --- open-loop due-time accounting ----------------------------------------


def due_times(start: float, rate: float, n: int) -> list[float]:
    """Request i is due at start + i / rate, whatever happened before it."""
    return [start + i / rate for i in range(n)]


def account(due: float, free_at: float, sent: float, done: float) -> tuple[float, float]:
    """Split one open-loop request into (latency, generator lateness), in
    the unit of its inputs.

    Latency runs from the due time, not the send time, so a stall that
    holds every connection also charges the requests queued behind it.
    Lateness is the generator's own delay: the time between the moment a
    connection was free for this request (the later of its due time and
    the end of that connection's previous request) and the actual send.
    """
    return done - due, sent - max(due, free_at)


# --- offset-log freshness join --------------------------------------------


def offset_batch_timestamps(checkpoint: str) -> dict[int, int]:
    """batchTimestampMs per batch id, read from ``<checkpoint>/offsets/<id>``.

    Each offset-log file is a version line, then one JSON metadata line
    carrying ``batchTimestampMs`` (the value ``current_timestamp()`` takes
    inside that micro-batch), then one line per source."""
    out: dict[int, int] = {}
    d = os.path.join(checkpoint, "offsets")
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if not name.isdigit():
            continue
        with open(os.path.join(d, name)) as fh:
            lines = fh.read().splitlines()
        out[int(name)] = int(json.loads(lines[1])["batchTimestampMs"])
    return out


def iso_ms(ts: str) -> int:
    """Epoch ms of a progress timestamp such as 2026-01-02T03:04:05.678Z."""
    return round(datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000)


def batch_commit_ms(progress: list[dict]) -> dict[int, int]:
    """Commit time per batch id: trigger start plus triggerExecution, the
    moment the micro-batch (sink write and offset commit) finished."""
    out: dict[int, int] = {}
    for p in progress:
        if int(p.get("numInputRows", 0)) == 0:
            continue
        out[int(p["batchId"])] = iso_ms(p["timestamp"]) + int(
            p["durationMs"]["triggerExecution"]
        )
    return out


def freshness_ms(
    rows, batch_ts: dict[int, int], commits: dict[int, int]
) -> list[int]:
    """Per-row freshness: commit of the batch that persisted the row minus
    the row's generator stamp.

    ``rows`` yields (stamp_ms, received_at_ms). received_at_ms equals its
    batch's batchTimestampMs, which maps it to a batch id and so to that
    batch's commit time. A row whose batch is unknown raises KeyError:
    that is a broken join, never a sample to skip.
    """
    batch_of = {ts: b for b, ts in batch_ts.items()}
    return [commits[batch_of[recv]] - stamp for stamp, recv in rows]

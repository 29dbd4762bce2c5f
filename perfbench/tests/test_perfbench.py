"""Tests for the benchmark's own helpers: the percentile rule, open-loop
due-time accounting, the offset-log freshness join, and the metric
catalog against BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import stats  # noqa: E402


# --- percentile rule --------------------------------------------------------


def test_percentile_interpolates_like_numpy_linear():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile([], 50) == 0.0


@pytest.mark.parametrize(
    "n, pct",
    [(10_000, 99.9), (9_999, 99.0), (1_000, 99.0), (999, 95.0), (100, 90.0),
     (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0), (19, None), (0, None)],
)
def test_highest_percentile_with_ten_samples_beyond(n, pct):
    assert stats.supported_percentile(n) == pct
    if pct is not None:
        assert stats.samples_beyond(n, pct) >= stats.MIN_BEYOND


def test_samples_beyond_counts_strictly_above():
    assert stats.samples_beyond(1000, 99.0) == 10
    assert stats.samples_beyond(100, 90.0) == 10
    assert stats.samples_beyond(21, 50.0) == 10


# --- open-loop due-time accounting ----------------------------------------


def test_due_times_follow_the_schedule_not_the_server():
    assert stats.due_times(100.0, 4.0, 5) == [100.0, 100.25, 100.5, 100.75, 101.0]


def test_latency_is_charged_from_due_time_and_lateness_only_to_generator():
    # a connection busy until t=2.0 with a request due at 1.0: the request
    # waits on the server (no generator lateness) but its latency counts
    # from 1.0
    latency, late = stats.account(due=1.0, free_at=2.0, sent=2.0, done=2.5)
    assert latency == pytest.approx(1.5)
    assert late == pytest.approx(0.0)
    # a free connection that sends 30 ms after the due time: that lag is
    # the generator's own
    latency, late = stats.account(due=1.0, free_at=0.5, sent=1.03, done=1.04)
    assert latency == pytest.approx(0.04)
    assert late == pytest.approx(0.03)


class _StallingHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    stall_at = 20
    seen = 0
    lock = threading.Lock()

    def log_message(self, *args):
        pass

    def do_POST(self):
        self.rfile.read(int(self.headers["Content-Length"]))
        with self.lock:
            type(self).seen += 1
            n = self.seen
        if n == self.stall_at:
            time.sleep(0.3)
        self.send_response(202)
        self.send_header("Content-Length", "0")
        self.end_headers()


def test_generator_keeps_its_schedule_through_a_server_stall():
    server = ThreadingHTTPServer(("127.0.0.1", 0), _StallingHandler)
    server.daemon_threads = True
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    try:
        rate, n = 200.0, 100
        requests = [("k", b"{}", "ok")] * n
        start = time.time() + 0.2
        records = gen.run(server.server_address[1], rate, requests, start)
    finally:
        server.shutdown()
        server.server_close()
        t.join(timeout=5)
    assert all(r[0] == 202 for r in records)
    dues = [r[1] for r in records]
    assert dues == pytest.approx([start + i / rate for i in range(n)])
    lat = [stats.account(*r[1:])[0] for r in records]
    # the stalled request costs ~0.3 s; with four connections the schedule
    # moves on and only that one request carries the stall
    assert max(lat) >= 0.25
    assert sorted(lat)[n // 2] < 0.05
    # the generator itself never ran far behind while a connection was free
    late = [stats.account(*r[1:])[1] for r in records]
    assert stats.percentile(late, 99) < 0.05


# --- offset-log freshness join -------------------------------------------


def _offset_file(d: Path, batch: int, ts: int) -> None:
    meta = {"batchWatermarkMs": 0, "batchTimestampMs": ts, "conf": {}}
    (d / str(batch)).write_text("v1\n" + json.dumps(meta) + '\n{"logOffset":0}')


def test_freshness_joins_rows_to_their_batch_commit(tmp_path):
    offsets = tmp_path / "offsets"
    offsets.mkdir()
    _offset_file(offsets, 0, 1_000_000)
    _offset_file(offsets, 1, 1_005_000)
    (offsets / ".1.crc").write_text("")  # checkpoint side files are skipped
    progress = [
        {"batchId": 0, "numInputRows": 2, "timestamp": "1970-01-01T00:16:39.990Z",
         "durationMs": {"triggerExecution": 1500}},
        {"batchId": 1, "numInputRows": 1, "timestamp": "1970-01-01T00:16:44.995Z",
         "durationMs": {"triggerExecution": 700}},
        {"batchId": 1, "numInputRows": 0, "timestamp": "1970-01-01T00:16:50.000Z",
         "durationMs": {"triggerExecution": 3}},  # idle trigger: ignored
    ]
    batch_ts = stats.offset_batch_timestamps(str(tmp_path))
    assert batch_ts == {0: 1_000_000, 1: 1_005_000}
    commits = stats.batch_commit_ms(progress)
    assert commits == {0: 999_990 + 1500, 1: 1_004_995 + 700}
    rows = [(998_000, 1_000_000), (999_500, 1_000_000), (1_003_000, 1_005_000)]
    assert stats.freshness_ms(rows, batch_ts, commits) == [3490, 1990, 2695]


def test_freshness_refuses_a_row_from_an_unknown_batch():
    with pytest.raises(KeyError):
        stats.freshness_ms([(0, 42)], {0: 1}, {0: 5})


# --- metric catalog ---------------------------------------------------------


def test_benchmark_json_matches_the_catalog():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    cat = json.loads((HERE / "layers.json").read_text())
    assert [m["name"] for m in bench["end_to_end"]] == list(cat["end_to_end"])
    assert [m["name"] for m in bench["per_layer"]] == list(cat["per_layer"])
    for m in bench["end_to_end"]:
        spec = cat["end_to_end"][m["name"]]
        assert (m["unit"], m["better"], m["bound"]) == (spec["unit"], spec["better"], spec["bound"])
        assert set(spec["meaning"]) == {w["name"] for w in bench["workloads"]}
    for m in bench["per_layer"]:
        spec = cat["per_layer"][m["name"]]
        assert (m["unit"], m["better"]) == (spec["unit"], spec["better"])
    e2e_names = set(cat["end_to_end"])
    for spec in cat["per_layer"].values():
        for move in spec["moves"]:
            assert move["workload"] in cat["workloads"]
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert "setup_s" in e2e_names and len(bench["per_layer"]) <= 128

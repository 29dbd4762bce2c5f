"""ingest-steady: the reference's production path under a fixed open-loop load.

A generator process (gen.py) posts at a fixed rate over four keep-alive
connections to IngestHTTPServer, which authenticates through
CachingAuthenticator(keys_authenticator(...)) and queues on SpoolPublisher
at its defaults. run_pipeline(auth=RefreshingAuthKeys(...)) reads the
spool at the program's own TRIGGER_INTERVAL. The HTTP tier and the
driver's micro-batch work share one Python process here, and the trigger
cadence plus batch time set freshness.
"""

from __future__ import annotations

import json
import math
import os
import random
import subprocess
import sys
import threading
import time
from pathlib import Path

import pyarrow.dataset as ds

import common
import payloads
import stats

# Half of the highest rate this path sustained on 4 cores: at 1,500 req/s
# acceptance p99 stayed under 40 ms and every micro-batch finished inside
# its trigger interval; at 2,000 the front door queued (p90 400 ms).
RATE = 750.0
GEN_START_DELAY_S = 1.5  # generator process start plus building its requests
# The generator starts this long after a trigger of the processing-time
# grid (Spark aligns triggers to multiples of the interval since the
# epoch), so every run overlaps its micro-batches with the same part of
# the load: the HTTP tail during batches and freshness depend on it.
TRIGGER_PHASE_S = 0.5
GEN_LATE_LIMIT_MS = 50.0  # a run whose generator lags more is invalid
WARMUP_FILES = 25  # one trigger's worth of rows
WARMUP_DRAINS = 2
# Throughput-mode spool reader, as tools/soak.py reads the spool:
# streaming.pipeline.file_source takes one file per trigger, which is the
# deterministic test reader, not the production cadence.
MAX_FILES_PER_TRIGGER = 256
SINK_COLUMNS = ["value", "timestamp", "received_at_ms"]


class TracedFrontDoor:
    """The authenticate callable and the publisher proxy handed to
    IngestHTTPServer in the traced run. A request's auth and publish calls
    run on its connection's thread, so a thread-local request id ties the
    two spans of one request together."""

    def __init__(self, authenticator, publisher, tracer) -> None:
        self.authenticator, self.inner, self.tracer = authenticator, publisher, tracer
        self.published = 0
        self._requests = 0
        self._lock = threading.Lock()
        self._local = threading.local()

    def authenticate(self, api_key: str) -> bool:
        with self._lock:
            self._requests += 1
            self._local.rid = self._requests
        with self.tracer.span("http.auth", ident=self._local.rid):
            return self.authenticator(api_key)

    def publish(self, key, value) -> None:
        with self.tracer.span("http.publish", ident=self._local.rid):
            self.inner.publish(key, value)
        with self._lock:
            self.published += 1

    def close(self) -> None:
        self.inner.close()


def spool_reader(spark, spool: Path):
    return (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .load(str(spool))
    )


def read_sink(out: Path) -> dict[str, list]:
    """The sink's rows, read with pyarrow so checking adds no Spark job."""
    data = out / "data"
    if not data.is_dir():
        return {c: [] for c in SINK_COLUMNS}
    return ds.dataset(str(data), format="parquet").to_table(columns=SINK_COLUMNS).to_pydict()


def trace_sink(tracer, layer: dict):
    """Wrap the foreachBatch function that streaming.pipeline.run_pipeline
    builds, and the write_clustered call inside it, with spans. Returns a
    function that undoes the wrapping. The wrappers add no Spark action:
    a second action on a micro-batch would read the source twice and
    double the batch's numInputRows."""
    from kafka_clickhouse_ingest_pipeline_spark.streaming import pipeline as P

    orig_writer, orig_write = P.foreach_batch_writer, P.write_clustered
    layer["files_per_batch"] = []

    def write_clustered(df, path, *args, **kwargs):
        before = common.dir_bytes(Path(path))[0]
        with tracer.span("sink.write", parent="stream.batch"):
            orig_write(df, path, *args, **kwargs)
        layer["files_per_batch"].append(common.dir_bytes(Path(path))[0] - before)

    def foreach_batch_writer(*args, **kwargs):
        base = orig_writer(*args, **kwargs)

        def write(batch_df, batch_id):
            with tracer.span("stream.batch", ident=batch_id):
                base(batch_df, batch_id)

        return write

    P.foreach_batch_writer, P.write_clustered = foreach_batch_writer, write_clustered

    def undo():
        P.foreach_batch_writer, P.write_clustered = orig_writer, orig_write

    return undo


def parse_probe(spark, tracer, spool: Path) -> tuple[int, int]:
    """operators.ingest on its own: the pipeline's transform over the whole
    spool as one batch job, after the stream stopped. Returns (rows read,
    rows kept); the span is ``ingest.parse``."""
    from kafka_clickhouse_ingest_pipeline_spark.streaming.pipeline import ingest_transform

    raw = spark.read.text(str(spool))
    with tracer.span("ingest.parse"):
        kept = ingest_transform(raw).count()
    return raw.count(), kept


def run(ctx) -> dict:
    from kafka_clickhouse_ingest_pipeline_spark.sources.http_ingest import (
        CachingAuthenticator,
        IngestHTTPServer,
        SpoolPublisher,
        keys_authenticator,
    )
    from kafka_clickhouse_ingest_pipeline_spark.streaming.pipeline import (
        TRIGGER_INTERVAL,
        RefreshingAuthKeys,
        run_pipeline,
    )

    spark, work, tracer = ctx.spark, ctx.work, ctx.tracer
    interval_s = float(TRIGGER_INTERVAL.split()[0])
    active = payloads.api_keys(ctx.seed)
    keys = spark.createDataFrame([(k, True) for k in active], "api_key string, is_active boolean")
    auth = RefreshingAuthKeys(lambda: keys)
    spool, out, ckpt = work / "spool", work / "out", work / "ckpt"

    def start_front_door():
        authenticator = CachingAuthenticator(keys_authenticator(keys))
        publisher = SpoolPublisher(str(common.reset_dir(spool)))
        if tracer:
            door = TracedFrontDoor(authenticator, publisher, tracer)
            return authenticator, door, IngestHTTPServer(door, door.authenticate).start()
        return authenticator, publisher, IngestHTTPServer(publisher, authenticator).start()

    # set up the front door three times (the first two are closed again)
    # and report the median
    durations = []
    for i in range(3):
        front, d = common.timed(start_front_door)
        durations.append(d)
        if i < 2:
            front[2].close()
    authenticator, publisher, server = front
    fill_s = stats.median(durations)
    common.log("front door up")

    def warmup():
        # the pipeline over generated spool files into a throwaway sink, one
        # trigger's worth of rows per drain: code generation, the Arrow-UDF
        # workers and the JIT warm up here, not in the first measured batches
        wspool = common.reset_dir(work / "warm" / "spool")
        rng = random.Random(f"warm-{ctx.seed}")
        cum = payloads.zipf_weights(len(active))
        pool = payloads.text_pool(rng)
        for d in range(WARMUP_DRAINS):
            for f in range(d * WARMUP_FILES, (d + 1) * WARMUP_FILES):
                with open(wspool / f"batch-{f:09d}.jsonl", "wb") as fh:
                    for i in range(100):
                        fh.write(payloads.steady_request(rng, pool, i, 0, active, cum)[1] + b"\n")
            run_pipeline(
                spool_reader(spark, wspool),
                str(work / "warm" / "out"),
                str(work / "warm" / "ckpt"),
                available_now=True,
                auth=auth,
            ).awaitTermination()

    _, warm_s = common.timed(warmup)
    layer: dict = {}
    undo = trace_sink(tracer, layer) if tracer else None
    q, start_s = common.timed(run_pipeline, spool_reader(spark, spool), str(out), str(ckpt), auth=auth)
    ctx.record_setup(fill_s=fill_s, warmup_s=warm_s + start_s)
    common.log("warm-up done, stream started")

    results = work / "gen.json"
    start_at = (
        math.ceil((time.time() + GEN_START_DELAY_S) / interval_s) * interval_s + TRIGGER_PHASE_S
    )
    gen = subprocess.Popen(
        [
            sys.executable,
            str(Path(__file__).resolve().parent / "gen.py"),
            "--port", str(server.server_address[1]),
            "--rate", str(RATE),
            "--seconds", str(ctx.seconds),
            "--seed", str(ctx.seed),
            "--start-at", repr(start_at),
            "--out", str(results),
        ],
        cwd=work,
    )
    ctx.procs.exclude.add(gen.pid)
    cpu0 = ctx.procs.cpu_s()
    backlog = [0]
    try:
        deadline = start_at + ctx.seconds + 60
        while gen.poll() is None:
            if time.time() > deadline:
                raise TimeoutError("load generator did not finish")
            if tracer:
                done = sum(int(p["numInputRows"]) for p in ctx.listener.batches(q.id))
                backlog.append(publisher.published - done)
            time.sleep(0.25)
    finally:
        if gen.poll() is None:
            gen.kill()
        gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"load generator exited with {gen.returncode}")
    common.log("generator done")
    with open(results) as fh:
        gen_out = json.load(fh)
    records, kinds = gen_out["records"], gen_out["kinds"]
    server.close()  # graceful shutdown: flushes the publisher's last batch
    # every 202 queued exactly one spool row: stop once that many rows
    # committed (processAllAvailable would wait for one more trigger)
    spooled = sum(1 for r in records if r[0] == 202)
    deadline = time.monotonic() + 60
    while sum(int(p["numInputRows"]) for p in ctx.listener.batches(q.id)) < spooled:
        if time.monotonic() > deadline or not q.isActive:
            break  # the sink check below reports what is missing
        time.sleep(0.05)
    cpu_s = ctx.procs.cpu_s() - cpu0
    q.stop()
    if undo:
        undo()
    last_batch = max(stats.offset_batch_timestamps(str(ckpt)))
    ctx.listener.wait_for(q.id, last_batch)
    progress = ctx.listener.batches(q.id)
    common.log("stream drained and stopped")

    want = {"ok": 202, "bad_json": 400, "bad_key": 401}
    mismatches, failed = [], 0
    respond, late = [], []
    accepted, rejected = set(), set()
    for seq, ((status, due, free_at, sent, done), kind) in enumerate(zip(records, kinds)):
        latency, lag = stats.account(due, free_at, sent, done)
        respond.append(latency * 1000.0)
        late.append(lag * 1000.0)
        (accepted if status == 202 else rejected).add(seq)
        if status != want[kind]:
            failed += 1
            if len(mismatches) < 5:
                mismatches.append(f"request {seq} ({kind}) answered {status}")

    sink = read_sink(out)
    values = set(sink["value"])
    dupes = len(sink["value"]) - len(values)
    missing = len(accepted - values)
    leaked = len(rejected & values)
    if dupes or missing or leaked:
        failed += dupes + missing + leaked
        mismatches.append(
            f"sink: {missing} accepted rows missing, {dupes} duplicates, {leaked} rejected rows present"
        )
    # freshness: generator stamp (the due time carried in "timestamp") to
    # the commit of the micro-batch whose batchTimestampMs the row carries
    fresh = stats.freshness_ms(
        zip(map(stats.iso_ms, sink["timestamp"]), sink["received_at_ms"]),
        stats.offset_batch_timestamps(str(ckpt)),
        stats.batch_commit_ms(progress),
    )
    late_p99 = stats.percentile(late, 99)
    if late_p99 > GEN_LATE_LIMIT_MS:
        mismatches.append(f"invalid run: generator lateness p99 {late_p99:.1f} ms")

    result = {
        "e2e": {
            "cpu_ms_per_op": cpu_s * 1000.0 / len(accepted),
            "latency_ms_p50": stats.median(fresh),
            "latency_ms_p90": stats.percentile(fresh, 90),
            "work_per_s": len(accepted) / ctx.seconds,
        },
        "samples": {"cpu_ms_per_op": len(accepted), "latency_ms": len(fresh), "work_per_s": len(accepted)},
        "attempted": len(records),
        "failed": failed,
        "mismatches": mismatches,
        "notes": [
            f"rate {RATE:g} req/s for {ctx.seconds} s",
            "accept_ms p50 %.2f p90 %.2f p99 %.2f"
            % tuple(stats.percentile(respond, p) for p in (50, 90, 99)),
            f"gen.late_ms_p99 {late_p99:.2f}",
            "batches (rows, ms): "
            + str([(p["numInputRows"], p["durationMs"]["triggerExecution"]) for p in progress]),
        ],
        "layer": {},
    }
    if tracer:
        auth_ms = tracer.durations_ms("http.auth")
        statuses = [r[0] for r in records]
        read_rows = sum(int(p["numInputRows"]) for p in progress)
        spooled_rows, parsed = parse_probe(spark, tracer, spool)
        files, size = common.dir_bytes(out / "data")
        spool_files = [f for f in os.listdir(spool) if f.endswith(".jsonl") and not f.startswith(".")]
        payload_bytes = sum((spool / f).stat().st_size for f in spool_files)
        result["layer"].update(
            {
                "http.accept_ms_p50": stats.median(respond),
                "http.accept_ms_p90": stats.percentile(respond, 90),
                "http.accept_ms_p99": stats.percentile(respond, 99),
                "http.auth_ms_p50": stats.median(auth_ms),
                "http.auth_ms_p99": stats.percentile(auth_ms, 99),
                "http.auth_calls": len(auth_ms),
                "http.auth_backend_calls": authenticator.backend_calls,
                "http.auth_hit_ratio": 1 - authenticator.backend_calls / len(auth_ms) if auth_ms else 0.0,
                "http.publish_ms_p99": stats.percentile(tracer.durations_ms("http.publish"), 99),
                "http.rejects_400": statuses.count(400),
                "http.rejects_401": statuses.count(401),
                "spool.files": len(spool_files),
                "spool.rows_per_file": spooled_rows / len(spool_files) if spool_files else 0.0,
                "stream.backlog_rows_max": max(backlog),
                "ingest.parse_ms": stats.median(tracer.durations_ms("ingest.parse")),
                "ingest.drop_ratio": (spooled_rows - parsed) / spooled_rows if spooled_rows else 0.0,
                "auth.reject_ratio": (parsed - len(sink["value"])) / parsed if parsed else 0.0,
                "sink.write_ms_p50": stats.median(tracer.durations_ms("sink.write")),
                "sink.files": files,
                "sink.files_per_batch": stats.median(layer["files_per_batch"]),
                "sink.bytes": size,
                "sink.bytes_per_payload_byte": size / payload_bytes if payload_bytes else 0.0,
                "gen.late_ms_p99": late_p99,
            }
        )
        result["layer"].update(common.stream_layer_metrics(progress, ctx.seconds))
    return result

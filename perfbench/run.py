"""The repo benchmark: one command runs a named workload with a seed.

    python3 perfbench/run.py --workload ingest-steady --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. It pins the environment, builds the
program's own Spark session, runs the workload, checks every output
against the seeded expectation, and prints two lines: a summary (pinned
environment, sample counts, the highest percentile each latency sample
supports, any mismatch) and, last, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is a separate run that reports the
per-layer metrics (plus the end-to-end ones it measured while traced, as
``traced.*``, whose difference from an untraced run of the same seed is
the tracing overhead) and writes its spans to ``.bench_traces/``.
Metric names, units and the layer map are in perfbench/layers.json.

Exits 1 on any correctness mismatch, and without a result line when the
program cannot run at all.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import common
import stats

HERE = Path(__file__).resolve().parent
WORKLOADS = {
    "ingest-steady": "w_steady",
    "analytics-mix": "w_mix",
}


def catalog() -> dict:
    with open(HERE / "layers.json") as fh:
        return json.load(fh)


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    seconds: int
    tracer: common.Tracer | None
    listener: object
    procs: common.ProcessTree
    setup: dict = field(default_factory=dict)

    def record_setup(self, fill_s: float, warmup_s: float) -> None:
        self.setup.update(fill_s=fill_s, warmup_s=warmup_s)


def _descendants(pid: int) -> set[int]:
    parent = common.proc_parents()
    out, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, p in parent.items() if p in frontier} - out
        out |= frontier
    return out


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers to
    exit; whatever is still alive after the grace period is killed."""
    children = _descendants(os.getpid())
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while time.monotonic() < deadline:
        alive = {p for p in children if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = common.ROOT
    work = common.reset_dir(root / ".bench_work" / f"{a.workload}-{os.getpid()}")
    env = common.pin_environment(work)
    os.chdir(work)
    # fails here, before any result is printed, when the package is absent
    importlib.import_module("kafka_clickhouse_ingest_pipeline_spark.session")
    module = importlib.import_module(WORKLOADS[a.workload])
    cat = catalog()

    common.log(f"{a.workload} seed {a.seed}: starting the session")
    procs = common.ProcessTree().start()
    t0 = time.perf_counter()
    spark = common.build_session(work, trace=bool(a.trace))
    session_s = time.perf_counter() - t0
    try:
        listener = common.progress_listener()
        spark.streams.addListener(listener)
        tracer = common.Tracer() if a.trace else None
        ctx = Ctx(spark, work, a.seed, a.seconds, tracer, listener, procs)
        common.log("session up")
        res = module.run(ctx)
        common.log("workload done")
        peak_mb = procs.stop_mb()
        e2e = dict(res["e2e"])
        e2e["setup_s"] = session_s + ctx.setup["fill_s"] + ctx.setup["warmup_s"]
        e2e["peak_rss_mb"] = peak_mb
        if tracer:
            layer = {name: 0.0 for name in cat["per_layer"]}
            layer.update(res["layer"])
            layer.update(common.spark_stage_totals(spark))
            layer["setup.session_ms"] = session_s * 1000.0
            layer["setup.fill_ms"] = ctx.setup["fill_s"] * 1000.0
            layer["setup.warmup_ms"] = ctx.setup["warmup_s"] * 1000.0
            for name in cat["end_to_end"]:
                layer[f"traced.{name}"] = e2e[name]
            tracer.write(root / ".bench_traces" / f"{a.workload}-seed{a.seed}.jsonl")
    finally:
        _stop_spark(spark)
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
    common.log("session stopped")

    unknown = set(res["e2e"]) - set(cat["end_to_end"])
    if a.trace:
        unknown |= set(layer) - set(cat["per_layer"])
    if unknown:
        raise KeyError(f"metrics missing from layers.json: {sorted(unknown)}")
    names, values = (cat["per_layer"], layer) if a.trace else (cat["end_to_end"], e2e)
    metrics = {n: {"value": float(values[n]), "unit": spec["unit"]} for n, spec in names.items()}
    correct = not res["mismatches"]
    summary = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "env": env,
        "samples": {
            k: {"n": n, "highest_supported_pct": stats.supported_percentile(n)}
            for k, n in {**res["samples"], "setup_s": 3, "peak_rss_mb": procs.samples}.items()
        },
        "setup_parts_s": {"session": session_s, **ctx.setup},
        "mismatches": res["mismatches"][:20],
        "notes": res.get("notes", []),
    }
    print(json.dumps(summary))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

"""Shared plumbing for the workloads: pinned environment, the Spark
session, process-tree memory, streaming progress, spans and the Spark
status API."""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

import stats

ROOT = Path(__file__).resolve().parent.parent
T0 = time.perf_counter()


def log(msg: str) -> None:
    """Phase marks on stderr, with seconds since the benchmark started."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# The package default (24g) exceeds this 15 GB box. The workloads fit in
# 1 GB, and a heap the JVM fills in every run makes peak RSS repeat: with
# 2 GB the JVM's resident size ended between 0.9 and 1.4 GB in identical runs.
DRIVER_MEM = "1g"


def pin_environment(work: Path) -> dict[str, str]:
    """Fix everything the program reads from the environment before pyspark
    is imported, and return what was pinned so it prints with the results.

    The repo goes on PYTHONPATH because Arrow-UDF workers import the
    package by name; temp and local dirs stay inside the run's work dir.
    """
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "local"),
    }
    os.environ.update(env)
    for k in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_MATERIALIZE_MODE",
              "SPARK_GRAFT_MATERIALIZE_PATH", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(k, None)
    sys.path.insert(0, str(ROOT))
    return env


def build_session(work: Path, trace: bool):
    """The program's own session factory; the Spark UI (and with it the
    status API the traced run reads) only in the traced run."""
    from kafka_clickhouse_ingest_pipeline_spark.session import build_session

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.ui.enabled"] = "true"
    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def median_of(n: int, fn) -> float:
    """Run fn() n times; the median duration in seconds."""
    return stats.median([timed(fn)[1] for _ in range(n)])


def reset_dir(p: Path) -> Path:
    shutil.rmtree(p, ignore_errors=True)
    p.mkdir(parents=True)
    return p


def dir_bytes(path: Path) -> tuple[int, int]:
    """(files, bytes) of the parquet data files under path."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


# --- memory: Python driver + JVM + Python workers ---------------------------


def proc_parents() -> dict[int, int]:
    """Parent pid of every live process, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return parent


def tree_pids(exclude: set[int]) -> list[int]:
    """This process and its descendants, minus the subtrees rooted at the
    pids in ``exclude``."""
    parent = proc_parents()
    me = os.getpid()
    out = []
    for pid in parent:
        p = pid
        while p > 1 and p != me and p not in exclude:
            p = parent.get(p, 0)
        if p == me:
            out.append(pid)
    return out


class ProcessTree:
    """The program's processes: this one and its descendants (the JVM and
    its Python workers). Samples their summed resident set and keeps the
    peak, and reads their CPU time. ``exclude`` holds pids whose subtrees
    are not the program, e.g. the load generator."""

    PAGE = os.sysconf("SC_PAGE_SIZE")
    TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, interval_s: float = 0.2) -> None:
        self.exclude: set[int] = set()
        self.peak = 0
        self.samples = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in tree_pids(self.exclude):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self.PAGE
            except OSError:
                continue
        return total

    def cpu_s(self) -> float:
        """CPU seconds (user + system) the program's processes have used.

        Descendants count with their reaped children (Python workers end up
        in pyspark.daemon's); this process counts without them, because
        the load generator it reaps is not the program. CPU time leaves
        out what the hypervisor steals; on a shared host, wall times of
        identical runs swing more than their CPU time does."""
        me, total = os.getpid(), 0
        for pid in tree_pids(self.exclude):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            total += int(f[11]) + int(f[12])
            if pid != me:
                total += int(f[13]) + int(f[14])
        return total / self.TICK

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self.samples += 1
            self._stop.wait(self._interval)

    def start(self) -> "ProcessTree":
        self._thread.start()
        return self

    def stop_mb(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._sample())
        return self.peak / 2**20


# --- streaming progress -----------------------------------------------------


def progress_listener():
    """A StreamingQueryListener that keeps every progress report as a dict
    (streaming.metrics keeps only running totals)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            with self._lock:
                self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def batches(self, query_id: str) -> list[dict]:
            with self._lock:
                return [e for e in self.events if e["id"] == query_id]

        def wait_for(self, query_id: str, last_batch: int, timeout_s: float = 10.0):
            """Progress is delivered on the listener bus after the batch
            commits; wait until the report for ``last_batch`` arrived."""
            deadline = time.monotonic() + timeout_s
            while time.monotonic() < deadline:
                if any(e["batchId"] >= last_batch for e in self.batches(query_id)):
                    return
                time.sleep(0.05)
            raise TimeoutError(f"no progress report for batch {last_batch}")

    return ProgressLog()


def stream_layer_metrics(progress: list[dict], wall_s: float) -> dict[str, float]:
    """streaming.pipeline per-layer numbers from its progress reports
    (data batches only; medians per trigger)."""
    data = [p for p in progress if int(p["numInputRows"]) > 0]
    d = [p["durationMs"] for p in data]

    def med(*keys):
        return stats.median([sum(x.get(k, 0) for k in keys) for x in d])

    return {
        "stream.batches": len(data),
        "stream.rows_per_batch_p50": stats.median([int(p["numInputRows"]) for p in data]),
        "stream.trigger_ms_p50": med("triggerExecution"),
        "stream.trigger_ms_p95": stats.percentile([x["triggerExecution"] for x in d], 95),
        "stream.list_ms": med("latestOffset", "getBatch"),
        "stream.plan_ms": med("queryPlanning"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.commit_ms": med("walCommit", "commitOffsets"),
        "stream.busy_frac": sum(x["triggerExecution"] for x in d) / 1000.0 / wall_s
        if wall_s > 0
        else 0.0,
    }


# --- spans -------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent, id) kept in memory and written out
    once at the end. Only the traced run creates one; untraced runs install
    no wrappers at all."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self._lock = threading.Lock()

    def record(self, name: str, start: float, end: float, parent=None, ident=None) -> None:
        with self._lock:
            self.spans.append((name, start, end, parent, ident))

    @contextmanager
    def span(self, name: str, ident=None, parent: str | None = None):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.record(name, t0, time.perf_counter(), parent, ident)

    def durations_ms(self, name: str) -> list[float]:
        with self._lock:
            return [(e - s) * 1000.0 for n, s, e, _p, _i in self.spans if n == name]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            for n, s, e, p, i in self.spans:
                fh.write(json.dumps({"name": n, "start": s, "end": e, "parent": p, "id": i}) + "\n")


# --- Spark status API (traced run only) -------------------------------------

SPARK_KEYS = {
    "spark.tasks": ("numCompleteTasks", 1),
    "spark.executor_run_ms": ("executorRunTime", 1),
    "spark.executor_cpu_ms": ("executorCpuTime", 1e-6),
    "spark.gc_ms": ("jvmGcTime", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.input_bytes": ("inputBytes", 1),
}


def spark_stage_totals(spark) -> dict[str, float]:
    """Summed task metrics over the run's completed stages, latest attempt
    per stage only (as tools/shuffle_probe.py reads them)."""
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.load(r)
    final: dict[int, dict] = {}
    for s in stages:
        if s["stageId"] not in final or s["attemptId"] > final[s["stageId"]]["attemptId"]:
            final[s["stageId"]] = s
    return {
        name: sum(s.get(k, 0) for s in final.values()) * scale
        for name, (k, scale) in SPARK_KEYS.items()
    }

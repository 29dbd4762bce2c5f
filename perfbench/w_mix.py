"""analytics-mix: the OLAP surface the reference delegates to ClickHouse.

A closed loop with one client runs registered queries from
__spark_entry__.queries(), at least one from each queries/ module, over
seeded tables written in set-up. One cold pass (build, then collect, the
rows checked afterwards against each query's oracle_sql() DuckDB twin)
and one untimed warm pass come first, then warm passes for the measured
seconds. Each warm query
is timed as build (qs[name](spark, dir), where materialize() checkpoints
run) plus execute (noop sink). pipeline_flagship runs operators.ingest in
batch mode, so an ingest-operator change shows here too.
"""

from __future__ import annotations

import time
from collections import defaultdict

import common
import mixdata
import stats

# one per queries/ module, in module order: analytics, behavior, curation,
# dedup, multimodal, pipeline, relational, sampling, similarity, text,
# timeseries, udfs
MIX = (
    "q3_shipping_priority",
    "funnel_view_click_purchase",
    "pack_token_bins",
    "dedup_exact_docs",
    "multimodal_media_features",
    "pipeline_flagship",
    "agg_pricing_summary",
    "sample_docs_stratified",
    "ann_bruteforce_topk",
    "text_top_terms",
    "session_window_agg",
    "udf_grouped_median",
)


def run(ctx) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from kafka_clickhouse_ingest_pipeline_spark.tables import register_views
    from tools.check_correctness import compare_results

    spark, work, tracer = ctx.spark, ctx.work, ctx.tracer
    qs, oracles = entry.queries(), entry.oracle_sql()
    data = work / "tables"
    tabs = mixdata.tables(ctx.seed)
    mixdata.write(tabs, data)
    fill_s = common.median_of(3, lambda: register_views(spark, str(data)))
    common.log("tables written and registered")

    cold: dict[str, tuple] = {}

    def warmup():
        for name in MIX:
            df = qs[name](spark, str(data))
            cold[name] = (df.columns, df.collect())
        # the first noop pass after the cold one still runs ~30% slow while
        # the JIT catches up; timed passes start from the second
        for name in MIX:
            qs[name](spark, str(data)).write.mode("overwrite").format("noop").save()

    _, warm_s = common.timed(warmup)
    common.log("cold and warm-up passes done")
    ctx.record_setup(fill_s=fill_s, warmup_s=warm_s)

    build_ms, exec_ms = defaultdict(list), defaultdict(list)
    passes, pass_cpu = [], []
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < ctx.seconds:
        t_pass, cpu0 = time.perf_counter(), ctx.procs.cpu_s()
        for name in MIX:
            t0 = time.perf_counter()
            df = qs[name](spark, str(data))
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
            build_ms[name].append((t1 - t0) * 1000.0)
            exec_ms[name].append((t2 - t1) * 1000.0)
            if tracer:
                tracer.record(f"q.{name}.build", t0, t1, "mix.pass", len(passes))
                tracer.record(f"q.{name}.exec", t1, t2, "mix.pass", len(passes))
        t_end = time.perf_counter()
        if tracer:
            tracer.record("mix.pass", t_pass, t_end, None, len(passes))
        passes.append((t_end - t_pass) * 1000.0)
        pass_cpu.append((ctx.procs.cpu_s() - cpu0) * 1000.0)
    # best of the warm passes per query: on a shared host a pass can be
    # slowed by time stolen from the VM, never sped up
    best = [min(b + e for b, e in zip(build_ms[q], exec_ms[q])) for q in MIX]
    every = [b + e for q in MIX for b, e in zip(build_ms[q], exec_ms[q])]

    common.log("warm passes done")
    con = duckdb.connect()
    for name in tabs:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data / name}.parquet')")
    mismatches = []
    for name in MIX:
        if name not in oracles:
            mismatches.append(f"{name}: no oracle to check against")
            continue
        res = con.execute(oracles[name])
        cols, rows = cold[name]
        diff = compare_results(cols, rows, [d[0] for d in res.description], res.fetchall())
        if diff:
            mismatches.append(f"{name}: {'; '.join(diff)}")
    con.close()

    result = {
        "e2e": {
            "cpu_ms_per_op": stats.median([c / len(MIX) for c in pass_cpu]),
            "latency_ms_p50": stats.median(best),
            "latency_ms_p90": stats.percentile(best, 90),
            "work_per_s": len(MIX) * 1000.0 / min(passes),
        },
        "samples": {"cpu_ms_per_op": len(passes), "latency_ms": len(best), "work_per_s": len(passes)},
        "attempted": len(MIX) * (1 + len(passes)),
        "failed": len(mismatches),
        "mismatches": mismatches,
        "notes": [
            f"{len(passes)} warm passes over {len(MIX)} queries",
            f"pass wall ms {[round(p) for p in passes]}, cpu ms {[round(c) for c in pass_cpu]}",
        ],
        "layer": {},
    }
    if tracer:
        result["layer"]["mix.query_ms_p50"] = stats.median(every)
        result["layer"]["mix.pass_ms_p50"] = stats.median(passes)
        for name in MIX:
            result["layer"][f"q.{name}.build_ms"] = stats.median(build_ms[name])
            result["layer"][f"q.{name}.exec_ms"] = stats.median(exec_ms[name])
    return result

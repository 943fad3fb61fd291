"""Closed-loop query workloads: one client runs the workload's suite
queries one after another, each forced to its complete result with a
noop sink, for a fixed time."""

from __future__ import annotations

import os
import time

from harness import (
    WORK, BoxMonitor, RssSampler, cpu_count, oracle_connection,
    oracle_mismatch, pct, start_spark, stop_spark,
)
from inputs import make_inputs
from tracing import NullTracer, Tracer, layer_metrics

#: untimed passes after the cold one: the next passes still get faster
#: as the JIT compiles the hot loops
WARMUP_PASSES = 2
#: timed passes run until ``--seconds`` have passed, and at least this
#: many, so that the median outvotes one disturbed pass
MIN_PASSES = 3

#: replicas of the customer/orders/lineitem chain in the inputs: near
#: sf0.1 row counts, so that task execution, not fixed driver cost, is
#: the larger part of a relational query
SCALE = 11

#: one closed-loop workload; a campaign of 4 + 22 runs per workload must
#: fit in 3420 s, and a run pays about 25 s of JVM launch and cold pass,
#: so the relational and LLM data-prep queries share one run
WORKLOADS = {
    "batch": [
        # scans, exchanges, task execution and driver-side construction
        "q1_pricing_summary",
        "q5_local_supplier_volume",
        "q_window_rank_customers",
        "q_range_join_quantity",
        # Arrow/Python eval of a WASM guest
        "wasm_udf_lcg_bucket",
        # an availableNow replay through replay_to_memory into a state
        # store
        "stream_dedup_exact",
    ],
}


def cold_pass(spark, names: list[str], inputs_dir: str):
    """Run each query once, collecting its result. Returns the results,
    per-query seconds, and errors."""
    from selium_spark.suite import QUERIES

    results, cold_s, errors = {}, {}, {}
    for name in names:
        t = time.monotonic()
        try:
            df = QUERIES[name](spark, inputs_dir)
            results[name] = (df.columns, [r.asDict() for r in df.collect()])
        except Exception as exc:  # a failing query is counted, not fatal
            errors[name] = f"cold pass raised {exc!r}"[:500]
        cold_s[name] = time.monotonic() - t
    return results, cold_s, errors


def check_results(results: dict, inputs_dir: str) -> dict[str, str]:
    """Query name -> first difference from its DuckDB oracle, for every
    collected result that differs."""
    diffs = {}
    con = oracle_connection(inputs_dir)
    try:
        for name, (cols, rows) in results.items():
            try:
                diffs[name] = oracle_mismatch(name, cols, rows, con)
            except Exception as exc:  # counted like a mismatch
                diffs[name] = f"oracle raised {exc!r}"
    finally:
        con.close()
    return {n: d[:500] for n, d in diffs.items() if d}


def _run_query(spark, name: str, inputs_dir: str, tracer, errors: dict) -> int:
    """Build one query and force its complete result into a noop sink.
    Returns 1 (and records the error) if it raised, else 0."""
    from selium_spark.suite import QUERIES

    try:
        with tracer.phase("construct"):
            df = QUERIES[name](spark, inputs_dir)
        tracer.force_plan(df)
        with tracer.phase("action"):
            df.write.format("noop").mode("overwrite").save()
    except Exception as exc:  # counted in error_rate, the run goes on
        errors.setdefault(name, f"raised {exc!r}"[:500])
        return 1
    return 0


def run(workload: str, seed: int, seconds: int, trace: bool, t0: float) -> dict:
    names = WORKLOADS[workload]
    cpus = cpu_count()
    box = BoxMonitor()
    inputs_dir = os.path.join(WORK, "inputs")
    t_gen = time.monotonic()
    props = make_inputs(inputs_dir, seed, SCALE)
    inputs_s = time.monotonic() - t_gen
    eventlog_dir = os.path.join(WORK, "eventlog")

    with RssSampler() as rss:
        t_spark = time.monotonic()
        spark = start_spark(cpus, Tracer.spark_conf(eventlog_dir) if trace else None)
        get_spark_s = time.monotonic() - t_spark

        # cold first pass: first touch pays codegen and parquet footers;
        # its collected results are the ones checked against the oracles
        results, cold_s, errors = cold_pass(spark, names, inputs_dir)
        setup_s = time.monotonic() - t0 - inputs_s
        errors.update(check_results(results, inputs_dir))
        failed, attempted = len(errors), len(names)
        live = [n for n in names if n not in errors]

        for _ in range(WARMUP_PASSES):
            for name in live:
                failed += _run_query(spark, name, inputs_dir, NullTracer(), errors)
                attempted += 1

        tracer = Tracer(spark, eventlog_dir) if trace else NullTracer()
        if trace:
            tracer.install()
            tracer.start_window()
        latencies, pass_walls = {n: [] for n in live}, []
        t_window = time.monotonic()
        while len(pass_walls) < MIN_PASSES or time.monotonic() - t_window < seconds:
            t_pass = time.monotonic()
            for name in live:
                t = time.monotonic()
                failed += _run_query(spark, name, inputs_dir, tracer, errors)
                attempted += 1
                latencies[name].append(time.monotonic() - t)
            pass_walls.append(time.monotonic() - t_pass)
            box.poll()
        window_s = time.monotonic() - t_window
        if trace:
            tracer.end_window()
            tracer.uninstall()
        stop_spark(spark)
    box_stats = box.summary()

    # percentiles across the queries of each query's median latency: the
    # queries' costs differ, and a percentile over all executions would
    # jump between them as pass counts change
    query_lat = [pct(v, 50) for v in latencies.values() if v]
    metrics = {
        "setup_s": setup_s,
        "latency_ms.p50": pct(query_lat, 50) * 1000,
        "latency_ms.p90": pct(query_lat, 90) * 1000,
        "pass_s": pct(pass_walls, 50),
    }
    detail = {
        "inputs": props,
        "inputs_s": inputs_s,
        "cold_s": cold_s,
        "latency_s": latencies,
        "pass_walls_s": pass_walls,
        "window_s": window_s,
        "samples": sum(len(v) for v in latencies.values()),
        "errors": errors,
        "run": {**box_stats, "peak_rss_mb": rss.peak_mb},
    }
    layers = None
    if trace:
        ev = tracer.eventlog()
        layers = {
            "session.get_spark_s": get_spark_s,
            **layer_metrics(tracer, ev, len(pass_walls), window_s, cpus),
            "run.peak_rss_mb": rss.peak_mb,
            "run.steal_pct": box_stats["steal_pct"],
            "run.loadavg_max": box_stats["loadavg_max"],
        }
        detail["eventlog"] = ev
    return {"attempted": attempted, "failed": failed, "metrics": metrics,
            "layers": layers, "detail": detail}

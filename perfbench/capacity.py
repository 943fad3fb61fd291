"""Capacity sweep of the open-loop job: runs ``openloop.drive`` at a grid
of offered rates and file sizes in one ``local[nproc]`` session and
reports, for each point, what the engine kept up with. The
stream_open_loop workload's rate and file size are chosen from it.

    python3 perfbench/capacity.py [--seconds 8] [--seed 1]

Writes ``reference/open_loop_capacity.json``. A point is kept up with
when no timed file is still uncommitted at the end of the window
(``backlog_files`` 0) and the committed rate matches the offered one.
``drain_rows_per_s`` is rows per second of trigger time, the engine's
service rate at that batch size while it is busy.
"""

import argparse
import json
import os
import sys

import harness

#: (files per second, rows per file), ordered by offered rows per second
#: within each file size
GRID = [
    (10, 400), (20, 400), (40, 400), (100, 400),
    (10, 4000), (20, 4000), (40, 4000), (80, 4000),
    (2, 40000), (5, 40000), (10, 40000),
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    harness.prepare_env()
    import openloop

    cpus = harness.cpu_count()
    spark = harness.start_spark(cpus)
    points = []
    try:
        # one untimed point first: the session's first streaming
        # queries pay class loading, codegen and JIT that later points
        # would not
        openloop.drive(spark, args.seed, args.seconds, os.path.join(harness.WORK, "warm"),
                       rate=10, rows_per_file=4000)
        for rate, rows in GRID:
            res = openloop.drive(spark, args.seed, args.seconds,
                                 os.path.join(harness.WORK, f"r{rate}_n{rows}"),
                                 rate=rate, rows_per_file=rows)
            batches = res["window_batches"]
            point = {
                "files_per_s": rate,
                "rows_per_file": rows,
                "offered_rows_per_s": rate * rows,
                "committed_rows_per_s": res["committed_rows_per_s"],
                "drain_rows_per_s": res["drain_rows_per_s"],
                "backlog_files": res["backlog_files"],
                "window_batches": len(batches),
                # share of the window spent inside a trigger: near 1 means
                # micro-batches run back to back
                "busy_share": sum(p["durationMs"]["triggerExecution"] for p in batches)
                / 1000 / args.seconds,
                "trigger_ms.p50": harness.pct(
                    [p["durationMs"]["triggerExecution"] for p in batches], 50),
                "latency_ms.p50": harness.pct(res["latency_s"], 50) * 1000,
                "latency_ms.p90": harness.pct(res["latency_s"], 90) * 1000,
                "generator_late_ms.max": res["generator_late_ms"]["max"],
                "lost_files": len(res["lost_files"]),
                "sink_mismatch_rows": res["sink_mismatch_rows"],
            }
            points.append(point)
            print(json.dumps(point), flush=True)
    finally:
        harness.stop_spark(spark)
    out = os.path.join(harness.HERE, "reference", "open_loop_capacity.json")
    with open(out, "w") as f:
        json.dump({"cpus": cpus, "seconds": args.seconds, "seed": args.seed, "points": points},
                  f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

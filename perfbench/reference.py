"""Regenerate the committed per-layer reference.

For each workload, runs ``run.py`` untraced and then traced with the
same seed, and writes ``reference/<workload>.json``: the traced run's
per-layer metrics and details, both runs' end-to-end metrics, and the
tracing overhead (traced minus untraced ``pass_s``, or
``latency_ms.p50`` on stream_open_loop).

    python3 perfbench/reference.py --seed 7 [workload ...]

Each run measures for BENCHMARK.json's ``run_seconds``.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OVERHEAD_METRIC = {"stream_open_loop": "latency_ms.p50"}


def _run(workload: str, seed: int, seconds: float, trace: int, layers_out: str | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if layers_out:
        cmd += ["--layers-out", layers_out]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return json.loads(out.splitlines()[-2])  # the detail line


def main() -> int:
    from run import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    os.makedirs(os.path.join(HERE, "reference"), exist_ok=True)
    for w in args.workloads:
        plain = _run(w, args.seed, seconds, 0, None)
        path = os.path.join(HERE, "reference", f"{w}.json")
        traced = _run(w, args.seed, seconds, 1, path)
        with open(path) as f:
            ref = json.load(f)
        key = OVERHEAD_METRIC.get(w, "pass_s")
        ref["end_to_end_untraced"] = plain["end_to_end"]
        ref["tracing_overhead"] = {
            "metric": key,
            "untraced": plain["end_to_end"][key],
            "traced": traced["end_to_end"][key],
            "traced_minus_untraced": traced["end_to_end"][key] - plain["end_to_end"][key],
        }
        with open(path, "w") as f:
            json.dump(ref, f, indent=1, sort_keys=True)
        print(w, json.dumps(ref["tracing_overhead"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

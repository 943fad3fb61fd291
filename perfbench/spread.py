"""Run-to-run spread of the end-to-end metrics: runs ``run.py`` once per
workload and seed, untraced, and reports for each metric the median of
its values and their interquartile range as a share of that median
(``statistics.quantiles(values, n=4)``), next to the metric's bound.

    python3 perfbench/spread.py --seeds 601-610 [workload ...]

Writes ``reference/spread_<seeds>.json`` with every run's values. Each run
measures for BENCHMARK.json's ``run_seconds``.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    from run import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", required=True, help="a range such as 601-610, or a list 1,2,3")
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = []
    for seed in _seeds(args.seeds):
        for w in args.workloads:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed",
                   str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t = time.monotonic()
            out = subprocess.run(cmd, check=True, capture_output=True, text=True, cwd=REPO).stdout
            res = json.loads(out.splitlines()[-1])
            runs.append({"workload": w, "seed": seed, "wall_s": time.monotonic() - t,
                         "correct": res["correct"], "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(json.dumps(runs[-1]), flush=True)

    summary = {}
    for w in args.workloads:
        mine = [r for r in runs if r["workload"] == w]
        summary[w] = {"runs": len(mine), "wall_s_max": max(r["wall_s"] for r in mine),
                      "all_correct": all(r["correct"] for r in mine), "metrics": {}}
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in mine]
            q = statistics.quantiles(vals, n=4)
            med = statistics.median(vals)
            summary[w]["metrics"][m["name"]] = {
                "median": med, "iqr_over_median": (q[2] - q[0]) / med, "bound": m["bound"]}
            print(f"{w:18s} {m['name']:16s} median {med:10.3f}  "
                  f"IQR/median {(q[2] - q[0]) / med:.3f}  bound {m['bound']}")
    with open(os.path.join(HERE, "reference", f"spread_{args.seeds}.json"), "w") as f:
        json.dump({"seeds": args.seeds, "run_seconds": spec["run_seconds"],
                   "summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())

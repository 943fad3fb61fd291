"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 6 --trace 0

Prints a detail JSON line (inputs, per-query figures, run validity),
then, as the last line, ``{"correct", "attempted", "failed", "metrics"}``
with every end-to-end metric of BENCHMARK.json (``--trace 0``) or every
per-layer metric (``--trace 1``). A per-layer metric a workload does no
such work for reads 0.
"""

import time

T0 = time.monotonic()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

import harness  # noqa: E402

WORKLOADS = ("batch", "stream_open_loop")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--layers-out", help="also write the full traced result to this JSON file")
    args = ap.parse_args()

    with open(os.path.join(harness.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    harness.prepare_env()
    if args.workload == "stream_open_loop":
        import openloop as workload
    else:
        import batch as workload
    res = workload.run(args.workload, args.seed, args.seconds, bool(args.trace), T0)

    if args.trace:
        wanted = {m["name"]: m["unit"] for m in spec["per_layer"]}
        res["layers"]["run.error_rate"] = res["failed"] / res["attempted"]
        unknown = set(res["layers"]) - set(wanted)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {n: {"value": float(res["layers"].get(n, 0.0)), "unit": u}
                   for n, u in wanted.items()}
    else:
        metrics = {m["name"]: {"value": float(res["metrics"][m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    detail = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "error_rate": res["failed"] / res["attempted"],
              "end_to_end": res["metrics"], **res["detail"]}
    if args.layers_out:
        with open(args.layers_out, "w") as f:
            json.dump({**detail, "metrics": metrics}, f, indent=1, sort_keys=True)
    print(json.dumps(detail, sort_keys=True, default=str))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

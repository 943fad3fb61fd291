"""Self-test of the benchmark's correctness check: on the sf0.001 test
data, the untouched results of two queries pass their oracles, and the
same results with one row dropped raise the error rate.

    python3 perfbench/selftest.py     # exit 0 when the check works
"""

import json
import os
import sys

import harness

QUERIES = ["q1_pricing_summary", "q_window_rank_customers"]
SF0001 = os.path.join(harness.HERE, "data", "sf0.001")


def main() -> int:
    harness.prepare_env()
    from batch import check_results, cold_pass

    spark = harness.start_spark(harness.cpu_count())
    try:
        results, _, errors = cold_pass(spark, QUERIES, SF0001)
    finally:
        harness.stop_spark(spark)
    clean = {**errors, **check_results(results, SF0001)}
    cols, rows = results[QUERIES[-1]]
    corrupted = {**results, QUERIES[-1]: (cols, rows[:-1])}
    dropped = check_results(corrupted, SF0001)
    report = {
        "error_rate_clean": len(clean) / len(QUERIES),
        "error_rate_one_row_dropped": len(dropped) / len(QUERIES),
        "diffs": dropped,
    }
    print(json.dumps(report))
    ok = not clean and list(dropped) == [QUERIES[-1]]
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

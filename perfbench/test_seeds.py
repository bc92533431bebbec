#!/usr/bin/env python3
"""Seed test of the benchmark: for every workload, the default seed and the
holdout seed (settings.json) give different op orders or generated inputs,
and both runs pass the benchmark's correctness check.

    python3 perfbench/test_seeds.py [--seconds 5]
"""
import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def report(workload, seed):
    with open(os.path.join(run.STATE, "reports", f"{workload}-{seed}-t0.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=5)
    a = ap.parse_args()
    with open(run.SETTINGS) as f:
        settings = json.load(f)
    seeds = (settings["default_seed"], settings["holdout_seed"])
    assert seeds[0] != seeds[1], "default and holdout seeds must differ"
    run.build()
    run.ensure_data()
    failures = []
    for w in run.WORKLOADS:
        results = [run.run_once(w, s, a.seconds, 0) for s in seeds]
        reports = [report(w, s) for s in seeds]
        for s, r, rep in zip(seeds, results, reports):
            if not r["correct"] or r["failed"] != 0:
                failures.append(f"{w} seed {s}: incorrect ({rep['errors'][:3]})")
        orders = [rep["op_order"] for rep in reports]
        digests = [rep["inputs_digest"] for rep in reports]
        # store_write's clients always run the same op; its batches differ
        if w != "store_write" and orders[0] == orders[1]:
            failures.append(f"{w}: seeds {seeds} gave the same op order")
        if digests[0] == digests[1]:
            failures.append(f"{w}: seeds {seeds} gave the same generated inputs")
        print(f"{w}: correct={[r['correct'] for r in results]} "
              f"orders_differ={orders[0] != orders[1]} inputs_differ={digests[0] != digests[1]}")
    for f in failures:
        print(f"FAIL {f}")
    print("seed test:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

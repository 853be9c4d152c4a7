"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

For each workload it makes one untraced run that must be correct and
emit every end-to-end metric, and one traced run with a deliberately
corrupted outcome (a query result missing a row, a job expected in the
wrong state) that must emit every per-layer metric and count the
corruption as a failed operation.  Sizes: tables at sf0.001, contact
jobs of tens of rows.
"""

from __future__ import annotations

import json
import os
import sys

import run

TINY = {
    "query_iterative": ({}, {"corrupt": frozenset({"graph_k_core"})}),
    "contact_import": (
        {"closed_rows": 30, "backlog_rows": 30, "large_rows": 300},
        {"closed_rows": 30, "backlog_rows": 30, "large_rows": 300,
         "corrupt": True}),
}


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _check_metrics(result: dict, declared: dict[str, str], where: str) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != declared:
        raise AssertionError(f"{where}: metrics/units differ from "
                             f"BENCHMARK.json: {set(got) ^ set(declared)}")
    for name, m in result["metrics"].items():
        if not isinstance(m["value"], (int, float)):
            raise AssertionError(f"{where}: {name} is not a number")


def main() -> int:
    e2e, per_layer = _declared("end_to_end"), _declared("per_layer")
    for workload, (clean, corrupted) in TINY.items():
        res = run.run(workload, 0, 1.0, False, **clean)
        _check_metrics(res, e2e, f"{workload} untraced")
        if not res["correct"] or res["failed"]:
            raise AssertionError(f"{workload}: clean run failed: {res}")
        if any(m["value"] <= 0 for m in res["metrics"].values()):
            raise AssertionError(f"{workload}: an end-to-end metric is 0")

        res = run.run(workload, 0, 1.0, True, **corrupted)
        _check_metrics(res, per_layer, f"{workload} traced")
        if res["correct"] or res["failed"] < 1:
            raise AssertionError(f"{workload}: corruption not counted: "
                                 f"attempted={res['attempted']} "
                                 f"failed={res['failed']}")
        print(f"ok {workload}: attempted={res['attempted']} "
              f"failed={res['failed']} (corrupted)", flush=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

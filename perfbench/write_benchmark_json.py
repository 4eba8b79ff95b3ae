"""Write BENCHMARK.json at the repository root from the benchmark's own
definitions (workloads, end-to-end metrics, ``metrics.PER_LAYER``):

    python3 perfbench/write_benchmark_json.py

Which end-to-end metric each per-layer metric should move, and on which
workload, is the fourth field of ``metrics.PER_LAYER``; the file format
has no place for it, so ``--moves`` prints that table instead.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import sync_workload  # noqa: E402
from harness import STAR_SF  # noqa: E402
from query_workload import ANALYTICS  # noqa: E402

RUN_SECONDS = 10

WORKLOADS = [
    {
        "name": "weekly_reconcile",
        "why": (
            "one cold location reconcile of the weekly sync, as each week's process runs it; "
            f"{sync_workload.ORG_SIZE['stores']} stores, {sync_workload.ORG_SIZE['districts']} districts, "
            "~15.2k input rows; the only workload on net, graphql, pipelines, sinks"
        ),
    },
    {
        "name": "analytics_sf01",
        "why": (
            f"{len(ANALYTICS)} read-only catalog joins/aggregates/windows, seeded sf{STAR_SF} star schema, "
            "~1.6M rows read a pass, warm, >=5 passes; no HTTP, writes or Python workers: sync-side changes must not move it"
        ),
    },
]

END_TO_END = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "job_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "rows_per_s", "unit": "rows/s", "better": "higher", "bound": 0.25},
]


def benchmark() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": WORKLOADS,
        "end_to_end": END_TO_END,
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in metrics.PER_LAYER],
    }


def main() -> None:
    if "--moves" in sys.argv:
        for name, unit, _, moves in metrics.PER_LAYER:
            print(f"{name} [{unit}] -> {moves}")
        return
    path = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
    with open(path, "w") as f:
        json.dump(benchmark(), f, indent=2)
        f.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()

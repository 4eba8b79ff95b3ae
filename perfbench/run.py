"""Repository benchmark: the weekly GraphQL sync's location reconcile
and catalog analytics, end to end and per layer.

Run from the repository root:

    python3 perfbench/run.py --workload weekly_reconcile --seed 1 --seconds 10 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

- ``weekly_reconcile`` one job = ``map_locations_to_hierarchies`` of one
  weekly sync against a fake Relay API
- ``analytics_sf01``   one job = one pass over five catalog entries

Load is a closed loop, one job in flight, on ``local[nproc]``. A run
sets up (inputs from ``--seed``, session; for the analytics a warm-up
of one collecting pass checked against the DuckDB oracle and five
noop passes), then times its jobs: exactly one
reconcile, cold, as the weekly process runs it; at least five analytics
passes, and more while their sum is under ``--seconds``, reporting the
median. The reconcile's outputs are checked.
With ``--trace 1`` every job is traced and the per-layer metrics are
reported instead of the end-to-end ones; ``trace.job_s`` minus the
untraced ``job_s`` is the tracing overhead.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Everything the run writes lives in ``.perfbench_run/`` under the
repository root and is removed at exit; a run fails if it changed any
other file under the root.
"""

from __future__ import annotations

import time

T0 = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_ROOT = ".perfbench_run"
WORKLOADS = ("weekly_reconcile", "analytics_sf01")
def nproc() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1


def driver_mem() -> str:
    """A quarter of physical memory, capped at 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def tree_snapshot(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, dirs, files in os.walk(root):
        if d == root and RUN_ROOT in dirs:
            dirs.remove(RUN_ROOT)
        for f in files:
            try:
                st = os.lstat(os.path.join(d, f))
            except FileNotFoundError:
                continue  # removed while we looked; the other snapshot tells
            out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out


def configure_env(run_dir: str) -> None:
    """Size the session for this machine and keep every file it writes
    inside ``run_dir`` (warehouses, shuffle spill, temp files)."""
    for sub in ("warehouse", "bucket_warehouse", "local", "tmp", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        SPARK_GRAFT_BUCKET_WAREHOUSE=os.path.join(run_dir, "bucket_warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # every JVM, spark-submit's launcher included: temp files in the
        # run dir, no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        PYTHONDONTWRITEBYTECODE="1",
        # local mode: bind to loopback whatever the host name resolves to
        SPARK_LOCAL_IP="127.0.0.1",
        SPARK_LOCAL_HOSTNAME="localhost",
    )
    tempfile.tempdir = None  # re-read TMPDIR


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    args.seed %= 2**64  # the generators take non-negative seeds

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "graphql_api_etl_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the repository root: graphql_api_etl_spark/ "
              "and __spark_entry__.py not found here", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path[:0] = [root, HERE]
    before = tree_snapshot(root)
    run_dir = os.path.join(root, RUN_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(run_dir)

    from harness import Harness  # noqa: E402 — after the environment is set

    harness = Harness(args, run_dir, T0)
    try:
        result = harness.run()
    finally:
        harness.close()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, RUN_ROOT))
        except OSError:
            pass  # another run still uses it
    after = tree_snapshot(root)
    changed = sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))
    result["attempted"] += 1  # the isolation check
    if changed:
        result["correct"] = False
        result["failed"] += 1
        print(f"perfbench: the run changed files under the repository: {changed[:10]}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

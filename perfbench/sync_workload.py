"""The ``weekly_reconcile`` workload: one job is the location reconcile
of one weekly sync — ``pipelines.weekly_alignments.
map_locations_to_hierarchies``, the relational core of
``run_weekly_sync`` — against the fake API, with the
``PipelineContext`` built the way a deployment caller builds it: the
drop read through ``sources.registry``, current state fetched over
``net.HttpConnectionClient`` and mutations posted through
``net.HttpClientFactory``.

The job fetches locations, picks the join key, lands both sides
bucketed and full-outer-diffs them, posts ``locationAdd`` for the new
stores, re-fetches and diffs again (the self-healing pass), writes the
soft-gate reports and collects location sets per district.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import subprocess
import sys
import urllib.request

from gen_org import SHEET, Org, generate, write_drop

HERE = os.path.dirname(os.path.abspath(__file__))

# The reference's weekly volume.
ORG_SIZE = {"regions": 10, "districts": 250, "stores": 5000}

FETCH_QUERIES = {
    "hierarchyGroups": "query hierarchyGroups($first: Int, $after: String) { hierarchyGroups(first: $first, after: $after) "
    "{ pageInfo { hasNextPage endCursor } edges { cursor node { id isTop name remoteId label { id name } parent { id isTop name } } } } }",
    "locations": "query locations($first: Int, $after: String) { locations(first: $first, after: $after) "
    "{ pageInfo { hasNextPage endCursor } edges { cursor node { id name remoteId hierarchyGroup { id isTop name } } } } }",
    "users": "query users($first: Int, $after: String) { users(first: $first, after: $after) "
    "{ pageInfo { hasNextPage endCursor } edges { cursor node { id email firstName lastName } } } }",
}
MUTATION_QUERY = "mutation($input: BatchInput!) { batch(input: $input) { results { success error } } }"
OPERATIONS = {
    "location_sink": "locationAdd",
    "assignment_sink": "hierarchyAssign",
    "user_sink": "userAdd",
    "permission_sink": "permissionAdd",
}


def node_schemas():
    from pyspark.sql import types as T

    s = lambda n: T.StructField(n, T.StringType())  # noqa: E731
    b = lambda n: T.StructField(n, T.BooleanType())  # noqa: E731
    ref = T.StructType([s("id"), b("isTop"), s("name")])
    return {
        "hierarchyGroups": T.StructType(
            [s("id"), b("isTop"), s("name"), s("remoteId"),
             T.StructField("label", T.StructType([s("id"), s("name")])),
             T.StructField("parent", ref)]
        ),
        "locations": T.StructType([s("id"), s("name"), s("remoteId"), T.StructField("hierarchyGroup", ref)]),
        "users": T.StructType([s("id"), s("email"), s("firstName"), s("lastName")]),
    }


def alignments_schema():
    from pyspark.sql import types as T

    cols = ["region_supervisor", "district", "location", "unit", "address", "city", "state",
            "zip_code", "dm", "dm_email", "supervisor_email", "franchise_or_equity"]
    return T.StructType(
        [T.StructField(c, T.DoubleType() if c == "unit" else T.StringType()) for c in cols]
    )


class FakeApiProcess:
    """The fake API in a child process; ``close`` stops it and waits."""

    def __init__(self, org: Org, run_dir: str, threads: int):
        state_path = os.path.join(run_dir, "api_state.json")
        with open(state_path, "w") as f:
            json.dump(org.api_state(), f, sort_keys=True)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "fake_api.py"), state_path, "--threads", str(threads)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            self.close()
            raise RuntimeError(f"fake API did not start: {line!r}")
        port = int(line.split()[1])
        self.url = f"http://127.0.0.1:{port}/graphql"
        self._control = f"http://127.0.0.1:{port}/_control"

    def control(self, op: str) -> dict:
        req = urllib.request.Request(self._control, data=json.dumps({"op": op}).encode(),
                                     headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=60) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()


class SyncJob:
    """Builds a fresh context per sync (a new week: a new report dir)
    and runs it. The traced run swaps in a timed sink class, a
    counting connection client and timed fetch callables; the untraced
    path uses the program's own classes unchanged."""

    def __init__(self, spark, org: Org, drop: dict[str, str], api: FakeApiProcess, run_dir: str):
        self.spark = spark
        self.org = org
        self.drop = drop
        self.api = api
        self.run_dir = run_dir
        self.week = 0
        self.schemas = node_schemas()
        self.sink_class = None  # traced run: a MutationSink subclass
        self.client_class = None  # traced run: an HttpConnectionClient subclass
        self.wrap_fetch = lambda name, fn: fn

    def fetcher(self, conn: str):
        from graphql_api_etl_spark.net import HttpConnectionClient, HttpGQLApi
        from graphql_api_etl_spark.sources.graphql import fetch_connection

        def fetch():
            api = HttpGQLApi(self.api.url)
            try:
                client_cls = self.client_class or HttpConnectionClient
                client = client_cls(api, FETCH_QUERIES[conn], conn, conn, {"first": 100})
                return fetch_connection(self.spark, client, self.schemas[conn])
            finally:
                api.close()

        return self.wrap_fetch(conn, fetch)

    def context(self, report_dir: str):
        from graphql_api_etl_spark.net import HttpClientFactory
        from graphql_api_etl_spark.pipelines import PipelineContext
        from graphql_api_etl_spark.sinks.mutations import MutationSink
        from graphql_api_etl_spark.sources.registry import read_csv, read_excel_sheet

        sink_cls = self.sink_class or MutationSink
        status_dir = os.path.join(report_dir, "_status")
        os.makedirs(status_dir, exist_ok=True)
        factory = HttpClientFactory(self.api.url, MUTATION_QUERY)
        sinks = {k: sink_cls(factory, op, batch_size=100, status_dir=status_dir) for k, op in OPERATIONS.items()}
        alignments = read_excel_sheet(self.spark, self.drop["xlsx"], SHEET, schema=alignments_schema())
        alignments = alignments.na.drop(subset=["district", "region_supervisor", "location", "unit"])
        return PipelineContext(
            alignments=alignments,
            corporate_managers=read_csv(self.spark, self.drop["csv"]),
            fetch_hierarchy_groups=self.fetcher("hierarchyGroups"),
            fetch_locations=self.fetcher("locations"),
            fetch_users=self.fetcher("users"),
            report_dir=report_dir,
            backfill_supervisors=self.org.backfill,
            **sinks,
        )

    def run(self):
        """One week: reset the API, build the context, reconcile.
        Returns (SyncReport, report_dir)."""
        from graphql_api_etl_spark.pipelines import SyncReport, weekly_alignments

        self.api.control("reset")
        self.week += 1
        report_dir = os.path.join(self.run_dir, f"week{self.week:03d}")
        report = SyncReport()
        weekly_alignments.map_locations_to_hierarchies(self.context(report_dir), report)
        return report, report_dir


def _statuses(report_dir: str) -> list[tuple[dict, bool]]:
    """(record, success) of every status row the sinks landed."""
    import pyarrow.parquet as pq

    out = []
    for d in sorted(glob.glob(os.path.join(report_dir, "_status", "status_*"))):
        t = pq.read_table(d).to_pydict()
        out += [(json.loads(r), ok) for r, ok in zip(t["record"], t["success"])]
    return out


def _csv_column(path: str, column: str) -> set[str]:
    """Values of one column across a Spark CSV report's part files."""
    out = set()
    for part in glob.glob(os.path.join(path, "part-*.csv")):
        with open(part, newline="") as f:
            out |= {row[column] for row in csv.DictReader(f)}
    return out


def check_sync(org: Org, report, report_dir: str, api_report: dict) -> tuple[int, int, list[str]]:
    """(records attempted, mismatches, problems) for one job against the
    generator's expectations. A job whose counts, payloads or reports
    differ counts as one mismatch; every mutation record whose reported
    status differs from the fake API's decision counts as one more."""
    exp = org.expected
    problems = []
    for k, v in exp["counts"].items():
        if report.counts.get(k) != v:
            problems.append(f"count {k}: got {report.counts.get(k)} expected {v}")
    adds = sorted(json.dumps(r, sort_keys=True) for r in api_report["applied"].get("locationAdd", []))
    if adds != exp["location_adds"]:
        problems.append(f"locationAdd payloads differ: got {len(adds)} expected {len(exp['location_adds'])}")
    refused = sorted(r["remoteId"] for r in api_report["rejected"])
    if refused != exp["rejected"]:
        problems.append(f"fake API refused {refused}, expected {exp['rejected']}")
    if sorted(report.reports) != exp["reports"]:
        problems.append(f"reports {sorted(report.reports)} != expected {exp['reports']}")
    unloaded = {str(int(float(u))) for u in _csv_column(os.path.join(report_dir, "locations_still_unloaded"), "unit")}
    if unloaded != set(exp["rejected"]):
        problems.append(f"still-unloaded report lists {sorted(unloaded)}, expected {exp['rejected']}")
    statuses = _statuses(report_dir)
    wrong = sum(ok != (r.get("remoteId") not in org.reject_remote_ids) for r, ok in statuses)
    if wrong:
        problems.append(f"{wrong} mutation records reported with the wrong status")
    if len(statuses) != sum(len(v) for v in api_report["applied"].values()):
        problems.append(f"{len(statuses)} statuses for {sum(len(v) for v in api_report['applied'].values())} records")
    return len(statuses), wrong + (1 if problems else 0), problems


def input_rows(org: Org) -> int:
    """Rows the reconcile reads: the sheet, the hierarchy groups, and the
    locations of both walks (the second also returns the accepted adds).
    It reads neither users nor the corporate CSV."""
    exp = org.expected
    second_walk = len(org.locations) + len(exp["location_adds"]) - len(exp["rejected"])
    return len(org.rows) + len(org.groups) + len(org.locations) + second_walk


def make_org(seed: int) -> Org:
    return generate(seed, **ORG_SIZE)


def land_drop(org: Org, run_dir: str) -> dict[str, str]:
    return write_drop(org, os.path.join(run_dir, "drop"))

"""Per-layer metrics: their names and units, which end-to-end metric
each should move on which workload, the weekly-sync tracing hooks, and
the reduction of traced jobs to one value per metric (the median over
the traced jobs of a run).

Layer names are the program's modules: ``session``, ``sources``
(``graphql`` pager + ``flatten``, ``registry`` readers), ``net``,
``pipelines`` (``weekly_alignments``), ``queries`` (catalog),
``sinks`` (``mutations``, ``tables``, ``reports``, ``gates``), and
``spark`` for the engine underneath all of them.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from query_workload import ANALYTICS

SYNC = "weekly_reconcile"
QUERY = "analytics_sf01"
ALL = "all workloads"

# (name, unit, better, moves: which end-to-end metric, on which workload)
PER_LAYER: list[tuple[str, str, str, str]] = [
    ("spark.jobs", "count", "lower", f"job_s on {SYNC}"),
    ("spark.stages", "count", "lower", f"job_s on {SYNC}"),
    ("spark.tasks", "count", "lower", f"job_s on {SYNC}"),
    ("spark.executor_run_s", "s", "lower", f"job_s, rows_per_s on {QUERY}"),
    ("spark.executor_cpu_s", "s", "lower", f"job_s, rows_per_s on {QUERY}"),
    ("spark.jvm_gc_s", "s", "lower", f"job_s and memory.peak_rss_mb on {ALL}"),
    ("spark.shuffle_read_bytes", "bytes", "lower", f"job_s, rows_per_s on {QUERY}"),
    ("spark.shuffle_write_bytes", "bytes", "lower", f"job_s, rows_per_s on {QUERY}"),
    ("spark.spill_bytes", "bytes", "lower", f"job_s, rows_per_s on {QUERY}"),
    ("session.get_spark_s", "s", "lower", f"setup_s on {ALL}"),
    ("memory.peak_rss_mb", "MB", "lower", f"nothing timed: memory of the Python driver + JVM on {ALL}; caching shows here"),
    ("python_workers.peak_rss_mb", "MB", "lower", f"nothing timed: memory of Spark's Python workers on {SYNC}"),
    ("python_workers.peak_count", "count", "lower", f"job_s on {SYNC}: each new worker pays interpreter start-up"),
    ("sources.graphql.fetch_connection_s", "s", "lower", f"job_s on {SYNC}, at most its share"),
    ("sources.graphql.fetch_calls", "count", "lower", f"job_s on {SYNC}"),
    ("sources.graphql.nodes", "count", "lower", f"job_s on {SYNC}"),
    ("sources.graphql.refetch_ratio", "ratio", "lower", f"job_s on {SYNC}"),
    ("sources.registry.read_excel_sheet_s", "s", "lower", f"job_s on {SYNC}"),
    ("sources.registry.read_csv_s", "s", "lower", f"job_s on {SYNC}"),
    ("sources.registry.xlsx_scans", "count", "lower", f"job_s on {SYNC}"),
    ("net.requests", "count", "lower", f"job_s on {SYNC}"),
    ("net.connections", "count", "lower", f"job_s on {SYNC}"),
    ("net.request_bytes", "bytes", "lower", f"job_s on {SYNC}"),
    ("net.response_bytes", "bytes", "lower", f"job_s on {SYNC}"),
    ("net.api_busy_s", "s", "lower", f"job_s on {SYNC}; shows if the fake API is the bottleneck"),
    ("pipelines.map_locations_to_hierarchies_s", "s", "lower", f"job_s on {SYNC}"),
    ("pipelines.reconcile_locations_s", "s", "lower", f"job_s on {SYNC}"),
    ("pipelines.choose_location_key_s", "s", "lower", f"job_s on {SYNC}"),
    ("pipelines.self_s", "s", "lower", f"job_s on {SYNC}"),
    ("sinks.mutations.write_s", "s", "lower", f"job_s on {SYNC}"),
    ("sinks.mutations.write_calls", "count", "lower", f"job_s on {SYNC}"),
    ("sinks.mutations.records", "count", "lower", f"job_s on {SYNC}"),
    ("sinks.mutations.rejected_records", "count", "lower", f"nothing: fixed by the input on {SYNC}"),
    ("sinks.mutations.post_ratio", "ratio", "lower", f"job_s on {SYNC}"),
    ("sinks.tables.stage_bucketed_s", "s", "lower", f"job_s on {SYNC}"),
    ("sinks.tables.append_bucketed_delta_s", "s", "lower", f"job_s on {SYNC}"),
    ("sinks.tables.bytes_written_per_input_byte", "ratio", "lower", f"job_s on {SYNC}"),
    ("sinks.reports.write_csv_report_s", "s", "lower", f"job_s on {SYNC}"),
    ("sinks.gates.warn_if_nonempty_s", "s", "lower", f"job_s on {SYNC}"),
    *[(f"queries.{n}_s", "s", "lower", "job_s on analytics_sf01") for n in ANALYTICS],
    ("trace.job_s", "s", "lower", "traced job_s; minus the untraced runs' job_s it is the tracing overhead"),
    ("trace.accounted_ratio", "ratio", "higher",
     f"nothing: share of traced job_s covered by the self times of the named layer spans on {ALL}"),
]

# Layers that run on one workload only; the rest run on both.
ONLY_ON = {
    "sources.": SYNC, "net.": SYNC, "pipelines.": SYNC, "sinks.": SYNC, "python_workers.": SYNC,
    "queries.": QUERY,
}


def runs_on(name: str, workload: str) -> bool:
    """Whether per-layer metric ``name`` is measured on ``workload``."""
    return all(workload == w for prefix, w in ONLY_ON.items() if name.startswith(prefix))


def accounted_ratio(own: dict[str, float], job_s: float) -> float:
    """Self time of every named span (the root ``job`` span excluded)
    over the traced job time; the remainder is time in no named layer."""
    return sum(v for k, v in own.items() if k != "job") / job_s


# Spans whose inclusive time is reported as ``<name>_s``.
SYNC_SPANS = (
    "sources.graphql.fetch_connection", "sources.registry.read_excel_sheet", "sources.registry.read_csv",
    "pipelines.map_locations_to_hierarchies", "pipelines.reconcile_locations",
    "pipelines.choose_location_key", "sinks.mutations.write", "sinks.tables.stage_bucketed",
    "sinks.tables.append_bucketed_delta", "sinks.reports.write_csv_report", "sinks.gates.warn_if_nonempty",
)


class SyncTracing:
    """Installs the weekly-sync wrappers for one traced job and removes
    them on :meth:`close`. The wrappers are module-global swaps, a
    ``MutationSink`` subclass and a counting connection client — all
    defined here, none in the program."""

    def __init__(self, tracer, job):
        import graphql_api_etl_spark.pipelines.weekly_alignments as wa
        import graphql_api_etl_spark.sinks.gates as gates
        import graphql_api_etl_spark.sinks.tables as tables
        import graphql_api_etl_spark.sources.registry as registry
        from graphql_api_etl_spark.net import HttpConnectionClient
        from graphql_api_etl_spark.sinks.mutations import MutationSink

        self.tracer = tracer
        self.job = job
        tracer.counts.clear()
        for fn in ("map_locations_to_hierarchies", "reconcile_locations", "choose_location_key"):
            tracer.patch(wa, fn, f"pipelines.{fn}")
        tracer.patch(wa, "warn_if_nonempty", "sinks.gates.warn_if_nonempty")
        tracer.patch(wa, "write_csv_report", "sinks.reports.write_csv_report")
        tracer.patch(gates, "write_csv_report", "sinks.reports.write_csv_report")
        tracer.patch(tables, "stage_bucketed", "sinks.tables.stage_bucketed")
        tracer.patch(tables, "append_bucketed_delta", "sinks.tables.append_bucketed_delta")
        for fn in ("read_excel_sheet", "read_csv"):
            self._patch_scan(registry, fn)

        class TimedSink(MutationSink):
            def write(self, df):
                tracer.add("write_calls")
                with tracer.span("sinks.mutations.write"):
                    return super().write(df)

        class CountingClient(HttpConnectionClient):
            def fetch_page(self, after_cursor):
                page = super().fetch_page(after_cursor)
                tracer.add("fetch_calls")
                tracer.add("nodes", len(page.get("edges", [])))
                return page

        def wrap_fetch(conn, fn):
            def fetch():
                tracer.add("walks")
                tracer.counts[f"conn:{conn}"] = 1
                with tracer.span("sources.graphql.fetch_connection"):
                    return fn()

            return fetch

        job.sink_class = TimedSink
        job.client_class = CountingClient
        job.wrap_fetch = wrap_fetch

    def _patch_scan(self, module, attr: str) -> None:
        """Time the reader call plus a forced scan of what it returns."""
        original = getattr(module, attr)
        tracer = self.tracer

        def wrapper(*args, **kwargs):
            with tracer.span(f"sources.registry.{attr}"):
                df = original(*args, **kwargs)
                df.count()
                return df

        tracer.replace(module, attr, wrapper)

    def close(self) -> None:
        self.tracer.restore()
        self.job.sink_class = None
        self.job.client_class = None
        self.job.wrap_fetch = lambda conn, fn: fn

    def layer_metrics(self, api_report: dict, job_s: float) -> dict[str, float]:
        """Values of one traced reconcile. A span or counter that never
        fired is left out, so the run reports it as missing."""
        t = self.tracer
        inclusive, own = t.job_totals(t.job)
        out = {f"{name}_s": inclusive[name] for name in SYNC_SPANS if name in inclusive}
        if "pipelines.map_locations_to_hierarchies" in own:
            out["pipelines.self_s"] = own["pipelines.map_locations_to_hierarchies"]
        out["trace.accounted_ratio"] = accounted_ratio(own, job_s)
        c = api_report["counters"]
        conns = sum(1 for k in t.counts if k.startswith("conn:"))
        for name, counter in (("sources.graphql.fetch_calls", "fetch_calls"), ("sources.graphql.nodes", "nodes"),
                              ("sinks.mutations.write_calls", "write_calls")):
            if counter in t.counts:
                out[name] = t.counts[counter]
        if conns:
            out["sources.graphql.refetch_ratio"] = t.counts["walks"] / conns
        out.update({
            "net.requests": c["requests"],
            "net.connections": c["connections"],
            "net.request_bytes": c["request_bytes"],
            "net.response_bytes": c["response_bytes"],
            "net.api_busy_s": c["busy_s"],
            "sinks.mutations.records": sum(len(v) for v in api_report["applied"].values()),
            "sinks.mutations.rejected_records": len(api_report["rejected"]),
            "sinks.mutations.post_ratio": c["mutation_posts"] / max(c["mutation_posts_ok"], 1),
        })
        return out


def from_event_log(layer: list[dict], events: dict, drop: dict | None) -> dict[str, float]:
    """Median over traced jobs of every per-job value, with the Spark
    task totals of each job's group added from the event log."""
    per_metric: dict[str, list[float]] = defaultdict(list)
    xlsx_bytes = os.path.getsize(drop["xlsx"]) if drop else 0
    for entry in layer:
        g = events["group"].get(entry["_group"])
        if g:
            entry.update({
                "spark.executor_run_s": g["run_ms"] / 1e3,
                "spark.executor_cpu_s": g["cpu_ns"] / 1e9,
                "spark.jvm_gc_s": g["gc_ms"] / 1e3,
                "spark.shuffle_read_bytes": g["shuffle_read"],
                "spark.shuffle_write_bytes": g["shuffle_write"],
                "spark.spill_bytes": g["spill"],
            })
        if xlsx_bytes and entry["_group"] in events["binary_scan_input"]:
            entry["sources.registry.xlsx_scans"] = events["binary_scan_input"][entry["_group"]] / xlsx_bytes
        for k, v in entry.items():
            if not k.startswith("_"):
                per_metric[k].append(v)
    out = {k: statistics.median(v) for k, v in per_metric.items()}
    staged = [v for k, v in events["span"].items() if k and k.startswith("sinks.tables.")]
    read = sum(v["input_bytes"] + v["shuffle_read"] for v in staged)
    if read:
        out["sinks.tables.bytes_written_per_input_byte"] = sum(v["output_bytes"] for v in staged) / read
    return out

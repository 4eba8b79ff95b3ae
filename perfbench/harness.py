"""Run lifecycle: set-up, warm-up with output checks, the closed-loop
measurement, the traced variant, and orderly teardown of every process
the run started."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from contextlib import nullcontext

import metrics as M
from trace import Tracer, read_event_log

PAGE = os.sysconf("SC_PAGE_SIZE")
# Scale of the generated star schema (lineitem ≈ 6M × STAR_SF rows).
STAR_SF = 0.1
# Analytics warm-up: untimed noop passes after the checked (collecting)
# one. On 4 cores pass times keep falling for about ten passes (the
# driver-side planning code warms up slowly: executors are busy for under
# half of a pass); the first three run 1.2-2x the settled time, the next
# few up to 1.25x. Five put the timed passes near the settled time;
# warming up longer would not fit the run budget next to the reconcile.
WARMUP_PASSES = 5
# Analytics: timed passes per run — at least this many, and more while
# their sum is under --seconds. All are warm, so the count does not
# change what one pass means.
MIN_PASSES = 5


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def spark_conf(run_dir: str, event_log: bool) -> dict[str, str]:
    """Session settings the benchmark adds: no console progress bars, and
    in the traced run the event log, inside ``run_dir``."""
    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(root: int, exclude: frozenset[int] = frozenset()) -> list[int]:
    """Live descendants of ``root``, minus the subtrees rooted at ``exclude``."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        if pid not in exclude:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def rss(pid: int) -> int:
    """Resident bytes of one process (0 once it has exited)."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except OSError:
        return 0


def tree_rss(root: int, exclude: frozenset[int]) -> int:
    """Resident bytes of ``root`` and its descendants outside ``exclude``."""
    return sum(map(rss, [root, *descendants(root, exclude)]))


def reap(pids: list[int], timeout: float = 20.0) -> None:
    """Wait until every pid has exited; kill what is left at ``timeout``."""
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class RssSampler:
    """Peak resident memory, sampled every ``interval`` seconds on a
    background thread: of the driver (this process, the JVM and every
    other descendant except ``exclude``) apart from Spark's Python
    workers (the JVM's descendants), and of those workers."""

    def __init__(self, jvm_pid: int, exclude: frozenset[int], interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.exclude = exclude
        self.interval = interval
        self.peak = 0
        self.peak_workers = 0
        self.peak_worker_count = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            workers = descendants(self.jvm_pid)
            everything = tree_rss(os.getpid(), self.exclude)
            in_workers = sum(map(rss, workers))
            self.peak = max(self.peak, everything - in_workers)
            self.peak_workers = max(self.peak_workers, in_workers)
            self.peak_worker_count = max(self.peak_worker_count, len(workers))

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


class Harness:
    """One run of one workload. ``run`` returns the result object."""

    def __init__(self, args, run_dir: str, t0: float):
        self.args = args
        self.workload = args.workload
        self.run_dir = run_dir
        self.t0 = t0
        self.trace = bool(args.trace)
        self.spark = None
        self.api = None
        self.rss: RssSampler | None = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: list[dict[str, float]] = []  # one entry per traced job
        self.job_s: list[float] = []
        self.warmup_s: list[float] = []  # untimed analytics passes
        self.untimed_s = 0.0  # output checks and input sizing inside set-up
        self.get_spark_s = 0.0
        self.not_run: list[str] = []  # per-layer metrics whose layer this workload skips

    # -- set-up ---------------------------------------------------------------

    def _prepare_inputs(self) -> None:
        """Generate and land the workload's inputs."""
        if self.workload == "weekly_reconcile":
            import sync_workload as S

            self.org = S.make_org(self.args.seed)
            self.drop = S.land_drop(self.org, self.run_dir)
        else:
            import gen_star

            self.sf_dir = os.path.join(self.run_dir, "star")
            gen_star.generate(self.sf_dir, self.args.seed, STAR_SF)

    def _setup(self) -> float:
        """Inputs, session, fake API or warm-up; returns set-up seconds
        (process start to ready, less the output checks)."""
        self._prepare_inputs()
        from graphql_api_etl_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=spark_conf(self.run_dir, self.trace))
        self.get_spark_s = time.perf_counter() - t
        self.tracer = Tracer(self.spark)
        if self.workload == "weekly_reconcile":
            import sync_workload as S

            self.api = S.FakeApiProcess(self.org, self.run_dir, threads=os.cpu_count() or 1)
            self.job = S.SyncJob(self.spark, self.org, self.drop, self.api, self.run_dir)
            self.input_rows = S.input_rows(self.org)
        else:
            import query_workload as Q

            self.job = Q.QueryPass(self.spark, Q.ANALYTICS, self.sf_dir, self.args.seed)
            results = self.job.collect_all()  # warm-up; its outputs are checked
            for _ in range(WARMUP_PASSES):
                t = time.perf_counter()
                self.job.run()
                self.warmup_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            oracle = Q.oracle_results(Q.ANALYTICS, self.sf_dir)
            for n in Q.ANALYTICS:
                self.attempted += 1
                problem = Q.compare(n, *results[n], oracle[n])
                if problem:
                    self.failed += 1
                    self.problems.append(problem)
            self.input_rows = Q.input_rows(Q.ANALYTICS, self.spark, self.sf_dir)
            self.untimed_s += time.perf_counter() - t
        return time.monotonic() - self.t0 - self.untimed_s

    # -- jobs -------------------------------------------------------------------

    def _sync_once(self, traced: bool) -> float:
        """One reconcile; the first of a run is cold, as a weekly process runs it."""
        import sync_workload as S

        hooks = M.SyncTracing(self.tracer, self.job) if traced else None
        t = time.perf_counter()
        try:
            with self.tracer.span("job") if traced else nullcontext():
                report, report_dir = self.job.run()
        except Exception as exc:  # noqa: BLE001 — a failed sync is a failed operation, reported
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"sync raised {type(exc).__name__}: {exc}")
            return time.perf_counter() - t
        finally:
            dt = time.perf_counter() - t
            if hooks:
                hooks.close()
        c = time.perf_counter()
        api_report = self.api.control("report")
        records, wrong, problems = S.check_sync(self.org, report, report_dir, api_report)
        self.attempted += 1 + records
        self.failed += wrong
        self.problems.extend(problems)
        if hooks:
            self.layer.append(hooks.layer_metrics(api_report, dt))
        self.untimed_s += time.perf_counter() - c
        return dt

    def _pass_once(self) -> float:
        if self.trace:
            self.job.wrap = lambda name, fn: self.tracer.timed(fn, f"queries.{name}")
        t = time.perf_counter()
        with self.tracer.span("job") if self.trace else nullcontext():
            self.job.run()
        dt = time.perf_counter() - t
        if self.trace:
            inclusive, own = self.tracer.job_totals(self.tracer.job)
            entry = {f"{k}_s": v for k, v in inclusive.items() if k.startswith("queries.")}
            entry["trace.accounted_ratio"] = M.accounted_ratio(own, dt)
            self.layer.append(entry)
        return dt

    def _one_job(self) -> float:
        sc = self.spark.sparkContext
        self.tracer.job += 1
        group = f"job{self.tracer.job}"
        sc.setJobGroup(group, group)
        dt = self._sync_once(self.trace) if self.workload == "weekly_reconcile" else self._pass_once()
        if self.trace and self.layer and "_group" not in self.layer[-1]:
            st = sc.statusTracker()
            jobs = st.getJobIdsForGroup(group)
            infos = [st.getJobInfo(j) for j in jobs]
            stages = [s for info in infos if info for s in info.stageIds]
            tasks = sum(info.numTasks for info in map(st.getStageInfo, stages) if info)
            self.layer[-1].update({"spark.jobs": len(jobs), "spark.stages": len(stages),
                                   "spark.tasks": tasks, "trace.job_s": dt, "_group": group})
        return dt

    # -- run --------------------------------------------------------------------

    def run(self) -> dict:
        setup_s = self._setup()
        if self.trace:
            from pyspark import SparkContext

            self.rss = RssSampler(SparkContext._gateway.proc.pid,
                                  exclude=frozenset([self.api.proc.pid] if self.api else []))
        if self.workload == "weekly_reconcile":
            # exactly one reconcile, cold, as the weekly process runs it
            self.job_s.append(self._one_job())
        else:
            while len(self.job_s) < MIN_PASSES or sum(self.job_s) < self.args.seconds:
                self.job_s.append(self._one_job())
        job_s = statistics.median(self.job_s)
        if self.trace:
            metrics = self._layer_metrics()
        else:
            metrics = {
                "setup_s": metric(setup_s, "s"),
                "job_s": metric(job_s, "s"),
                "rows_per_s": metric(self.input_rows / job_s, "rows/s"),
            }
        print(f"perfbench {self.workload} seed={self.args.seed} trace={int(self.trace)}: "
              f"warm-up {[round(x, 3) for x in self.warmup_s]}, "
              f"{len(self.job_s)} jobs {[round(x, 3) for x in self.job_s]}, input_rows={self.input_rows}, "
              f"failed_ratio={self.failed / max(self.attempted, 1):.6f} ratio ({self.failed}/{self.attempted})")
        for name, m in metrics.items():
            print(f"  {name} = {m['value']:.6g} {m['unit']}" + ("  (layer not run here)" if name in self.not_run else ""))
        for p in self.problems[:20]:
            print(f"perfbench: MISMATCH {p}", file=sys.stderr)
        return {"correct": self.failed == 0, "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics}

    def _layer_metrics(self) -> dict:
        self.rss.close()
        self.stop_spark()  # flushes and closes the event log
        events = read_event_log(os.path.join(self.run_dir, "events"))
        values = M.from_event_log(self.layer, events, getattr(self, "drop", None))
        values["session.get_spark_s"] = self.get_spark_s
        values["memory.peak_rss_mb"] = self.rss.peak / 2**20
        values["python_workers.peak_rss_mb"] = self.rss.peak_workers / 2**20
        values["python_workers.peak_count"] = self.rss.peak_worker_count
        # The result must name every per-layer metric; one whose layer does
        # not run on this workload reads 0. One whose layer runs but that
        # was not measured (a wrapper that no longer attaches, a missing
        # event log) fails the run instead of reading 0.
        missing = [n for n, *_ in M.PER_LAYER if M.runs_on(n, self.workload) and n not in values]
        if missing:
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"traced run measured no value for {missing}")
        self.not_run = [n for n, *_ in M.PER_LAYER if not M.runs_on(n, self.workload)]
        return {name: metric(float(values.get(name, 0.0)), unit) for name, unit, *_ in M.PER_LAYER}

    # -- teardown ---------------------------------------------------------------

    def stop_spark(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def close(self) -> None:
        """Stop the sampler, the session and the fake API, then wait for
        every process the run started (Spark's Python workers included)."""
        started = descendants(os.getpid())
        if self.rss is not None:
            self.rss.close()
        try:
            self.stop_spark()
        finally:
            if self.api is not None:
                self.api.close()
            reap(started)

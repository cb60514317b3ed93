"""Measurement plumbing shared by the workloads.

Everything here observes the engine from outside: wall clocks around the
benchmark's own calls into csp_spark, Spark's public status APIs (job
groups, the UI's REST endpoint, ``QueryExecution.tracker`` and the SQL
metrics of executed plans) and ``/proc`` for memory.  Nothing in
csp_spark is patched or wrapped.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import os
import statistics
import threading
import time
import urllib.request

import numpy as np

# ----------------------------------------------------------------------
# process clock and memory
# ----------------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from
    ``/proc/stat``.  Steal is time the hypervisor gave this machine's
    CPUs to others while they had work, one way a busy shared host slows
    a run; it does not show a host that slows the CPUs without taking
    them."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def process_age_s() -> float:
    """Seconds since this process started, from ``/proc`` (10 ms steps)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # the process ended while we listed it
        children.setdefault(ppid, []).append(int(name))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Samples the resident set of this process and all its descendants
    (Python driver, JVM, Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(os.getpid()))


# ----------------------------------------------------------------------
# spans
# ----------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) written out at the end.

    Disabled tracers hand out no-op spans so that untraced runs pay for
    nothing but a context manager."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # time spent in tracing code: span bookkeeping and metric harvests
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        try:
            yield rec
        finally:
            rec["end"] = t2 = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t2

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ----------------------------------------------------------------------
# Spark session
# ----------------------------------------------------------------------


def warmup(spark) -> None:
    """Untimed warm-up, the same shape as bench.py's: a scan-aggregate
    (first codegen) and a pandas exchange (first Python workers)."""
    from pyspark.sql import functions as F

    (spark.range(200_000).groupBy((F.col("id") % 8).alias("g"))
     .agg(F.sum("id")).write.format("noop").mode("overwrite").save())
    (spark.range(1000).groupBy((F.col("id") % 8).alias("g"))
     .applyInPandas(lambda pdf: pdf[["id"]], schema="id long")
     .write.format("noop").mode("overwrite").save())


def start_session(workdir: str):
    """``core.session.get_spark`` with the benchmark's paths: Spark's
    scratch, warehouse and JVM temp files stay inside ``workdir``, and the
    JVM keeps its performance counters in memory rather than in a file
    under the system temp directory."""
    from csp_spark.core.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        **{
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def environment(spark) -> dict:
    import pandas
    import pyarrow

    sc = spark.sparkContext
    return {
        "cpus_effective": sc.defaultParallelism,
        "master": sc.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


# ----------------------------------------------------------------------
# Spark-side numbers
# ----------------------------------------------------------------------


class QueryListener:
    """``QueryExecutionListener`` over the py4j callback server: keeps
    the ``QueryExecution`` of every action so the executed plan's SQL
    metrics and the Catalyst phase tracker can be read afterwards."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._events: list[tuple] = []
        self._noop_seen = 0
        self._cv = threading.Condition()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    # -- the Java interface
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        with self._cv:
            self._events.append((func_name, qe, duration_ns))
            self._cv.notify_all()

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        with self._cv:
            self._events.append((func_name, qe, None))
            self._cv.notify_all()

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    @staticmethod
    def _is_noop_write(ev) -> bool:
        # the noop sink in overwrite mode is a v2 OverwriteByExpression;
        # file writes inside a query's build are v1 commands
        return ev[1].logical().getClass().getSimpleName() == "OverwriteByExpression"

    def take_noop_write(self, n: int, timeout_s: float = 60.0) -> list[tuple]:
        """The events after the (n-1)-th write to the noop sink, through
        the n-th.  The listener bus delivers in order, so these are one
        query's build-time actions followed by its noop write."""
        deadline = time.monotonic() + timeout_s
        batch: list[tuple] = []
        with self._cv:
            while True:
                while self._events:
                    ev = self._events.pop(0)
                    batch.append(ev)
                    if self._is_noop_write(ev):
                        self._noop_seen += 1
                        if self._noop_seen == n:
                            return batch
                        batch = []
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"noop write #{n} was never reported")
                self._cv.wait(left)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


_PY_NODE_METRIC = "pythonDataSent"


def plan_metrics(qe) -> dict:
    """Sum the SQL metrics of an executed plan, following AQE's final
    plan through its query stages; times in seconds.  Returns the totals
    by metric name (scan nodes' also as ``scan.<name>``) and the number
    of Python (Arrow) boundaries."""
    totals: dict[str, float] = {}
    boundaries = 0

    def visit(node):
        nonlocal boundaries
        cls = node.getClass().getSimpleName()
        names = []
        for kv in _scala_iter(node.metrics()):
            name, metric = kv._1(), kv._2()
            names.append(name)
            val = metric.value()
            if metric.metricType() == "nsTiming":
                val = val / 1e9
            elif metric.metricType() == "timing":
                val = val / 1e3
            totals[name] = totals.get(name, 0.0) + val
            if cls.startswith("FileSourceScan") or cls.startswith("BatchScan"):
                totals["scan." + name] = totals.get("scan." + name, 0.0) + val
        if _PY_NODE_METRIC in names:
            boundaries += 1
        if cls == "AdaptiveSparkPlanExec":
            visit(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            visit(node.plan())
        elif cls == "ReusedExchangeExec":
            return  # its stage's metrics are counted where it was built
        for child in _scala_iter(node.children()):
            visit(child)

    visit(qe.executedPlan())
    return {"metrics": totals, "arrow_boundaries": boundaries}


def plan_layers(m: dict) -> dict:
    """Layer metrics from the SQL metric totals of ``plan_metrics``."""
    return {
        "exec.codegen_s": m.get("pipelineTime", 0.0),
        "exec.shuffle_bytes": m.get("shuffleBytesWritten", 0.0),
        "exec.shuffle_write_s": m.get("shuffleWriteTime", 0.0),
        "exec.spill_bytes": m.get("spillSize", 0.0),
        "exec.peak_mem_bytes": m.get("peakMemory", 0.0),
        "arrow.init_s": m.get("pythonInitTime", 0.0),
        "arrow.compute_s": m.get("pythonTotalTime", 0.0),
        "arrow.bytes_sent": m.get("pythonDataSent", 0.0),
        "arrow.bytes_received": m.get("pythonDataReceived", 0.0),
        "sources.scan_s": m.get("scan.scanTime", 0.0),
        "sources.rows": m.get("scan.numOutputRows", 0.0),
    }


def catalyst_phases(qe) -> dict:
    """Catalyst phase durations (s) from ``QueryExecution.tracker``."""
    out = {}
    phases = qe.tracker().phases()
    for kv in _scala_iter(phases):
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


class JobIndex:
    """Spark jobs by job group, from the UI's public REST endpoint."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = sc.uiWebUrl
        if url is None:
            raise RuntimeError("the Spark UI is off; tracing needs its REST API")
        port = url.rsplit(":", 1)[1]
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def jobs(self) -> list[dict]:
        with urllib.request.urlopen(self._base + "/jobs", timeout=30) as r:
            return json.load(r)


def _rest_time(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


def group_jobs(jobs: list[dict], group: str) -> dict:
    """Job count, summed job durations (s) and task count of one group."""
    mine = [j for j in jobs if j.get("jobGroup") == group]
    dur = sum(_rest_time(j["completionTime"]) - _rest_time(j["submissionTime"])
              for j in mine if "completionTime" in j)
    tasks = sum(j["numTasks"] - j.get("numSkippedTasks", 0) for j in mine)
    return {"jobs": len(mine), "s": dur, "tasks": tasks}


# ----------------------------------------------------------------------
# statistics
# ----------------------------------------------------------------------


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(xs, q)) if xs else 0.0

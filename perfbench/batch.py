"""Batch workloads: a fixed mix of ``__spark_entry__`` queries, each built
with ``fn(spark, data_dir)`` and run to the ``noop`` sink.

One run is: an untimed check pass (every query compared with its DuckDB
oracle, which also compiles each plan once), an untimed warm pass, then
timed passes until the run's seconds are used, at least ``MIN_PASSES``.
A traced run
alternates untraced and traced passes so that the tracing overhead is a
measured difference, and reads the per-layer numbers from the traced
passes only.
"""

from __future__ import annotations

import os
import time

from . import gen, harness
from .check import compare_with_oracle, duckdb_views

# one query per layer: core (as-of sampling), stats (time windows, and
# the EMA's Arrow boundary), operators (sessions), frame and
# plans.runtime (the other Arrow boundary).  A pass of these takes about
# 7 s, so a run fits MIN_PASSES of them; sizing.md has the per-query
# costs of the larger mix this was cut from
TICK_REPLAY = [
    "op_sample_asof", "stats_rolling_time", "stats_ema", "op_sessionize",
    "frame_pandas_ts", "dyn_snap_attach",
]

# timed passes per untraced run at least; pass_s sums each query's
# median latency over them (see _pass_s)
MIN_PASSES = 3

# layers that do no work in a batch mix, which starts no streaming query
# and writes only to the noop sink; a traced run reports them as 0, the
# prediction that later changes are held to
IDLE_IN_BATCH = (
    "streaming.batches", "streaming.batch_s", "state.commit_s", "state.rows",
    "state.bytes", "state.late_dropped", "sinks.bytes", "harness.backlog_files",
)

# tick_replay input: large enough that execution, not plan build, is the
# larger share of most queries, small enough for the run budget (see
# sizing.md); as many keys as realtime_ticks has symbols, the hottest
# holding about a fifth of the ticks
TICKS, TICK_KEYS, TICK_ZIPF = 20_000, 200, 1.1


def _forget(spark) -> None:
    """Forget what earlier queries left behind: the minhash session memo
    (``clear_pairs_cache``, while it exists) and any DataFrame a query
    persisted and never released, which Spark's cache manager would
    otherwise serve to a later query with the same plan."""
    try:
        from csp_spark.dedup.dedup import clear_pairs_cache
    except ImportError:
        pass
    else:
        clear_pairs_cache(spark)
    spark.catalog.clearCache()


class Mix:
    def __init__(self, ctx, names: list[str], data_dir: str):
        import __spark_entry__ as E

        self.ctx = ctx
        self.spark = ctx.spark
        self.names = names
        self.data_dir = data_dir
        queries = E.queries()
        self.fns = {n: queries[n] for n in names}
        oracles = E.oracle_sql()
        self.oracles = {n: oracles[n] for n in names}
        self.build_jobs: dict[str, set[int]] = {n: set() for n in names}
        self.failed: set[str] = set()
        # queries that raised; one whose output is wrong still runs in
        # the timed passes, so that pass_s covers the same queries
        self.broken: set[str] = set()
        self.errors: dict[str, str] = {}
        self._seq = 0
        self.noop_writes = 0

    def _group(self, tag: str) -> str:
        self._seq += 1
        return f"pb{self._seq}:{tag}"

    def _build(self, name: str):
        """Build one query under its own job group; returns the
        DataFrame, the build seconds and the group name."""
        sc = self.spark.sparkContext
        group = self._group(f"build:{name}")
        sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        df = self.fns[name](self.spark, self.data_dir)
        build_s = time.perf_counter() - t0
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        self.build_jobs[name].add(n_jobs)
        return df, build_s, group

    # ------------------------------------------------------------------
    def check_pass(self) -> None:
        con = duckdb_views(self.data_dir)
        try:
            for name in self.names:
                _forget(self.spark)
                try:
                    df, _, _ = self._build(name)
                    why = compare_with_oracle(df, con, self.oracles[name])
                except Exception as ex:  # noqa: BLE001 - a failing query is a result
                    why = f"{type(ex).__name__}: {ex}"
                    self.broken.add(name)
                if why is not None:
                    self.failed.add(name)
                    self.errors[name] = why[:500]
        finally:
            con.close()
            self.spark.sparkContext.setJobGroup("pb:idle", "pb:idle")

    def timed_pass(self, traced: bool) -> dict:
        """One pass, each query to its sink.  Returns the latency of each
        query (call to sink completion) and, when traced, the layer
        totals.  Memo clearing and metric harvesting happen between
        queries, outside the latencies."""
        sc = self.spark.sparkContext
        tracer = self.ctx.tracer if traced else harness.Tracer(False)
        lat, layer, groups = {}, {}, []
        with tracer.span("pass", workload=self.ctx.workload):
            for name in self.names:
                if name in self.broken:
                    continue
                _forget(self.spark)
                t0 = time.perf_counter()
                with tracer.span("query", query=name):
                    try:
                        with tracer.span("build", query=name):
                            df, build_s, bgroup = self._build(name)
                        xgroup = self._group(f"exec:{name}")
                        sc.setJobGroup(xgroup, xgroup)
                        with tracer.span("exec", query=name) as sp:
                            t1 = time.perf_counter()
                            df.write.format("noop").mode("overwrite").save()
                            exec_s = time.perf_counter() - t1
                        self.noop_writes += 1
                    except Exception as ex:  # noqa: BLE001
                        self.broken.add(name)
                        self.failed.add(name)
                        self.errors[name] = f"{type(ex).__name__}: {ex}"[:500]
                        continue
                lat[name] = time.perf_counter() - t0
                if traced:
                    h0 = time.perf_counter()
                    q = self._harvest(df, build_s, exec_s)
                    if sp is not None:
                        sp["catalyst"] = q["phases"]
                        sp["sql"] = q["sql"]["metrics"]
                    groups.append((bgroup, xgroup))
                    _add(layer, q["layer"])
                    tracer.overhead_s += time.perf_counter() - h0
        sc.setJobGroup("pb:idle", "pb:idle")
        if traced:
            h0 = time.perf_counter()
            jobs = self.ctx.job_index.jobs()
            for bgroup, xgroup in groups:
                b, x = harness.group_jobs(jobs, bgroup), harness.group_jobs(jobs, xgroup)
                _add(layer, {"build.jobs": b["jobs"], "build.eager_s": b["s"],
                             "exec.jobs": x["jobs"], "exec.tasks": x["tasks"]})
            tracer.overhead_s += time.perf_counter() - h0
        return {"latencies": lat, "layer": layer}

    def _harvest(self, df, build_s: float, exec_s: float) -> dict:
        qe = self.ctx.listener.take_noop_write(self.noop_writes)[-1][1]
        phases = harness.catalyst_phases(qe)
        # the query itself was analysed while it was built
        built = harness.catalyst_phases(df._jdf.queryExecution())
        phases["analysis"] = phases.get("analysis", 0.0) + built.get("analysis", 0.0)
        sql = harness.plan_metrics(qe)
        layer = {
            "build.s": build_s,
            "exec.s": exec_s,
            "catalyst.analysis_s": phases.get("analysis", 0.0),
            "catalyst.optimization_s": phases.get("optimization", 0.0),
            "catalyst.planning_s": phases.get("planning", 0.0),
            "arrow.boundaries": sql["arrow_boundaries"],
            **harness.plan_layers(sql["metrics"]),
        }
        return {"phases": phases, "sql": sql, "layer": layer}


def _pass_s(passes: list[dict]) -> float:
    """The pass time of a run: each query's median latency over the
    passes, summed.  A slow spell of the shared machine that stretches a
    query in fewer than half of the passes does not move it, also when it
    straddles two passes."""
    lat: dict[str, list[float]] = {}
    for p in passes:
        for name, x in p["latencies"].items():
            lat.setdefault(name, []).append(x)
    return sum(harness.median(xs) for xs in lat.values())


def _add(acc: dict, more: dict) -> None:
    for k, v in more.items():
        acc[k] = acc.get(k, 0.0) + v


def run_mix(ctx, names: list[str], data_dir: str) -> dict:
    mix = Mix(ctx, names, data_dir)
    t_check = time.perf_counter()
    with ctx.tracer.span("check"):
        mix.check_pass()
    # the check pass compiles every plan once, yet the next two passes
    # still get faster (JIT, Python workers); one untimed pass takes the
    # worst of that warming out of the timed ones
    t_warm = time.perf_counter()
    with ctx.tracer.span("warm"):
        mix.timed_pass(traced=False)
    untraced, traced = [], []
    t0 = time.perf_counter()
    while True:
        if not ctx.trace:
            untraced.append(mix.timed_pass(traced=False))
        elif len(untraced) % 2 == 0:  # ABBA order, so warming favours neither
            untraced.append(mix.timed_pass(traced=False))
            traced.append(mix.timed_pass(traced=True))
        else:
            traced.append(mix.timed_pass(traced=True))
            untraced.append(mix.timed_pass(traced=False))
        # a traced run makes two pairs at least, so that warming between
        # the first passes cancels out of harness.trace_overhead_s
        if (time.perf_counter() - t0 >= ctx.seconds
                and len(untraced) >= (2 if ctx.trace else MIN_PASSES)):
            break

    # a memo hit shows as fewer build jobs in a later pass
    for name, counts in mix.build_jobs.items():
        if len(counts) > 1:
            mix.failed.add(name)
            mix.errors[name] = f"build jobs differ between passes: {sorted(counts)}"

    lat = [x for p in untraced for x in p["latencies"].values()]
    out = {
        "attempted": len(names),
        "failed": len(mix.failed),
        "errors": mix.errors,
        "passes": len(untraced),
        "e2e": {"pass_s": _pass_s(untraced)},
        # per query, call to sink completion (a closed loop of one caller)
        "latency_p50_s": harness.percentile(lat, 50),
        "latency_p90_s": harness.percentile(lat, 90),
        "latency_samples": len(lat),
        "check_s": t_warm - t_check,
        "warm_s": t0 - t_warm,
        "measure_s": time.perf_counter() - t0,
    }
    if ctx.trace:
        keys = sorted({k for p in traced for k in p["layer"]})
        out["layer"] = {k: harness.median([p["layer"].get(k, 0.0) for p in traced])
                        for k in keys}
        out["layer"]["harness.trace_overhead_s"] = (
            _pass_s(traced) - out["e2e"]["pass_s"])
    return out


def tick_replay(ctx) -> dict:
    data_dir = os.path.join(ctx.workdir, "data")
    os.makedirs(data_dir, exist_ok=True)
    table = gen.ticks(ctx.seed, TICKS, TICK_KEYS, zipf_a=TICK_ZIPF)
    gen.write_events(table, os.path.join(data_dir, "events.parquet"))
    out = run_mix(ctx, TICK_REPLAY, data_dir)
    if ctx.trace:
        out["layer"].update(dict.fromkeys(IDLE_IN_BATCH, 0))
    out["input"] = {"source": "seeded generator", "ticks": TICKS,
                    "keys": TICK_KEYS, "zipf_a": TICK_ZIPF}
    return out

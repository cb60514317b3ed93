"""``realtime_ticks``: csp realtime mode through Structured Streaming.

The seeded generator's ticks are dropped as parquet files into one
landing directory; even ``event_id`` ticks form the bid stream and odd
ones the ask stream, keyed by ``user_id`` as the symbol.  The pipeline is
README's canonical csp example in realtime form::

    streaming.file_ticks -> streaming.align_stream -> valid-gated
    spread (ask - bid once both are valid) -> sinks.publish_parquet_stream

Phase (a), csp's hybrid replay: a backlog of history is already in the
landing directory and is drained with ``availableNow``, ``DRAINS`` times
into fresh checkpoints; the first drain is an untimed warm-up of the
stateful streaming path, like the batch workloads' check pass.  Phase (b): the last drain's checkpoint is
restarted with the default trigger while an open loop drops new ticks at
a fixed rate for the run's seconds.  A tick is due ``j / rate`` seconds
after phase (b) starts; the generator flushes the ticks that are due
every ``DROP_S`` seconds.  A tick's latency runs from its due time to the
wall-clock completion of the micro-batch that read its file, so a stall
also delays every tick queued behind it.

The output is checked against batch ``core.align`` over the same ticks
(stream == batch).
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time

import numpy as np
import pyarrow.parquet as pq

from . import gen, harness
from .check import frame_rowset

BACKLOG_TICKS, RT_KEYS, RT_ZIPF = 20_000, 200, 1.1
BACKLOG_FILES = 8
DRAINS = 2                 # backlog drains per run; the first is a warm-up
BACKLOG_SPAN_S = 6 * 3600.0
DROP_S = 0.1               # generator flush interval


def _spread(ticks, align):
    """Valid-gated ask - bid over one tick DataFrame whose even sequence
    numbers are bid ticks and odd ones ask ticks."""
    from pyspark.sql import functions as F

    aligned = align({"bid": ticks.filter(F.col("seq") % 2 == 0),
                     "ask": ticks.filter(F.col("seq") % 2 == 1)})
    return aligned.filter(F.col("bid").isNotNull() & F.col("ask").isNotNull()).select(
        "key", "ts", "seq", (F.col("ask") - F.col("bid")).alias("spread"))


def _batch_reference(spark, landing: str):
    from csp_spark import TickStream, align

    ticks = TickStream.from_table(
        spark.read.schema(gen.EVENTS_DDL).parquet(landing), ts_col="ts",
        value_col="value", key_col="user_id", seq_col="event_id")
    return _spread(ticks.df, lambda streams: align(
        {name: TickStream(df) for name, df in streams.items()}))


class OpenLoop(threading.Thread):
    """Drops the live ticks into the landing directory on schedule, one
    file per flush holding both streams, so that a micro-batch never sees
    one stream's ticks ahead of the other's (align_stream's ordering
    contract).  Files are written to a staging directory and renamed into
    place, so the stream never lists a half-written file."""

    def __init__(self, live, rate: float, landing: str, staging: str):
        super().__init__(name="open-loop", daemon=True)
        self.landing = landing
        self.staging = staging
        n = live.num_rows
        self.due_off = np.arange(n) / rate              # seconds after t0
        drop_of = (self.due_off // DROP_S).astype(int)  # flush index per tick
        self.n_drops = int(drop_of[-1]) + 1 if n else 0
        self.bounds = np.searchsorted(drop_of, np.arange(self.n_drops + 1))
        self.live = live
        self.t0 = None
        self.file_offs: dict[str, np.ndarray] = {}  # file -> its ticks' due offsets
        self.late: list[float] = []
        self.error: Exception | None = None
        self._halt = threading.Event()

    def run(self) -> None:
        try:
            for k in range(self.n_drops):
                due = self.t0 + (k + 1) * DROP_S
                wait = due - time.time()
                if wait > 0 and self._halt.wait(wait):
                    return
                lo, hi = self.bounds[k], self.bounds[k + 1]
                fname = f"live-{k:06d}.parquet"
                tmp = os.path.join(self.staging, fname)
                pq.write_table(self.live.slice(lo, hi - lo), tmp)
                os.replace(tmp, os.path.join(self.landing, fname))
                self.file_offs[fname] = self.due_off[lo:hi]
                self.late.append(time.time() - due)
        except Exception as ex:  # noqa: BLE001 - surfaced by the caller
            self.error = ex

    def halt(self) -> None:
        self._halt.set()


def _file_batches(ckpt: str) -> dict[str, int]:
    """Landing file name -> micro-batch id, from the file sources' logs."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "*", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def _iso(s: str) -> float:
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def _batch_done(progress: list[dict]) -> dict[int, float]:
    """Micro-batch id -> wall-clock completion time."""
    return {p["batchId"]: _iso(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
            for p in progress if p.get("numInputRows", 0) > 0}


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def streaming_layers(progress: list[dict]) -> dict:
    """Per-layer totals from ``StreamingQuery.recentProgress``."""
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = lambda p, k: p["durationMs"].get(k, 0) / 1e3  # noqa: E731
    ops = [op for p in data for op in p.get("stateOperators", [])]
    last_ops = data[-1].get("stateOperators", []) if data else []
    return {
        "streaming.batches": len(data),
        "streaming.batch_s": harness.median([dur(p, "triggerExecution") for p in data]),
        "streaming.add_batch_s": sum(dur(p, "addBatch") for p in data),
        "streaming.planning_s": sum(dur(p, "queryPlanning") for p in data),
        "streaming.wal_s": sum(dur(p, "walCommit") for p in data),
        "streaming.offsets_s": sum(dur(p, "latestOffset") + dur(p, "commitOffsets")
                                   for p in data),
        "state.commit_s": sum(op.get("commitTimeMs", 0) for op in ops) / 1e3,
        "state.rows": sum(op.get("numRowsTotal", 0) for op in last_ops),
        "state.bytes": sum(op.get("memoryUsedBytes", 0) for op in last_ops),
        "state.late_dropped": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
    }


def _drain_layers(ctx, q, progress: list[dict]) -> dict:
    """Exec, Arrow and source numbers of one finished drain.  A streaming
    query runs its jobs in a job group named by its run id; the plan
    metrics are those of its last micro-batch's executed plan, which holds
    the whole backlog while the drain is one micro-batch (it is today:
    the file source reads up to 1000 files per trigger)."""
    jobs = harness.group_jobs(ctx.job_index.jobs(), str(q.runId))
    sql = harness.plan_metrics(q._jsq.streamingQuery().lastExecution())
    return {
        "exec.jobs": jobs["jobs"],
        "exec.tasks": jobs["tasks"],
        **harness.plan_layers(sql["metrics"]),
        "arrow.boundaries": sql["arrow_boundaries"],
        # rows read, over every micro-batch of the drain
        "sources.rows": sum(p.get("numInputRows", 0) for p in progress),
        "drain.batches": sum(p.get("numInputRows", 0) > 0 for p in progress),
    }


def realtime_ticks(ctx) -> dict:
    from csp_spark.sinks import publish_parquet_stream
    from csp_spark.streaming import align_stream, file_ticks

    if not ctx.rate:
        raise SystemExit("realtime_ticks needs --rate (BENCHMARK.json's command sets it)")
    spark, wd = ctx.spark, ctx.workdir
    landing, staging = os.path.join(wd, "landing"), os.path.join(wd, "staging")
    for d in (landing, staging):
        os.makedirs(d, exist_ok=True)

    n_live = max(1, int(round(ctx.rate * ctx.seconds)))
    ticks = gen.ticks(ctx.seed, BACKLOG_TICKS + n_live, RT_KEYS, zipf_a=RT_ZIPF,
                      span_s=BACKLOG_SPAN_S * (1 + n_live / BACKLOG_TICKS))
    backlog, live = ticks.slice(0, BACKLOG_TICKS), ticks.slice(BACKLOG_TICKS)
    gen.write_events(backlog, landing, n_files=BACKLOG_FILES)

    def build():
        return _spread(file_ticks(spark, landing, gen.EVENTS_DDL, ts_col="ts",
                                  value_col="value", key_col="user_id",
                                  seq_col="event_id"), align_stream)

    # phase (a): drain the backlog DRAINS times, each into a fresh sink
    sc = spark.sparkContext
    drains, build_s, build_jobs = [], [], []
    for i in range(DRAINS):
        out_dir = os.path.join(wd, f"out{i}")
        ckpt = os.path.join(wd, f"ckpt{i}")
        group = f"pb{i}:build"
        with ctx.tracer.span("drain"):
            t0 = time.perf_counter()
            with ctx.tracer.span("build"):
                sc.setJobGroup(group, group)
                spread = build()
                sc.setJobGroup("pb:idle", "pb:idle")
            build_s.append(time.perf_counter() - t0)
            q = publish_parquet_stream(spread, out_dir, ckpt,
                                       trigger={"availableNow": True})
            q.awaitTermination()
            drains.append(time.perf_counter() - t0)
        build_jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        progress_a = _progress(q)
        if q.exception() is not None:
            raise RuntimeError(f"backlog drain failed: {q.exception()}")
    drain_q = q

    # phase (b): the last drain's query resumes under an open loop
    loop = OpenLoop(live, ctx.rate, landing, staging)
    with ctx.tracer.span("open_loop", rate=ctx.rate):
        q = publish_parquet_stream(build(), out_dir, ckpt)
        try:
            loop.t0 = time.time() + 0.5
            loop.start()
            loop.join(timeout=ctx.seconds + 120)
            if loop.is_alive():
                loop.halt()
                loop.join(timeout=10)
                raise RuntimeError("open-loop generator did not finish")
            if loop.error is not None:
                raise RuntimeError(f"open-loop generator failed: {loop.error!r}")
            loop_end = loop.t0 + loop.n_drops * DROP_S
            q.processAllAvailable()
            progress_b = _progress(q)
        finally:
            q.stop()

    # latency per live tick: due time -> completion of its micro-batch
    file_batch = _file_batches(ckpt)
    done = _batch_done(progress_b)
    lat, unread, pending = [], 0, 0
    for fname, offs in loop.file_offs.items():
        b = file_batch.get(fname)
        if b is None or b not in done:
            unread += 1
            continue
        pending += done[b] > loop_end
        lat.extend((done[b] - loop.t0 - offs).tolist())
    live_batches = {file_batch[f] for f in loop.file_offs if f in file_batch}

    # stream == batch over every tick dropped
    with ctx.tracer.span("check"):
        got = spark.read.parquet(out_dir).toPandas()
        want = _batch_reference(spark, landing).toPandas()
        got_rows, want_rows = set(frame_rowset(got)), set(frame_rowset(want))
    n_bad = max(len(want_rows - got_rows), len(got_rows - want_rows))
    n_bad += len(got) - len(got_rows)  # duplicates emitted
    n_bad += unread

    pass_s = harness.median(drains[1:])
    out = {
        "attempted": ticks.num_rows,
        "failed": n_bad,
        "errors": {} if not n_bad else {
            "stream_vs_batch": f"{len(want_rows - got_rows)} rows missing, "
                               f"{len(got_rows - want_rows)} unexpected, "
                               f"{unread} files never read"},
        "e2e": {"pass_s": pass_s},
        # per live tick, due time to completion of its micro-batch
        "latency_p50_s": harness.percentile(lat, 50),
        "latency_p90_s": harness.percentile(lat, 90),
        "drains_s": drains,
        "drain_rows_per_s": BACKLOG_TICKS / pass_s,
        "latency_samples": len(lat),
        "latency_batches": len(live_batches),
        "input": {"source": "seeded generator", "backlog_ticks": BACKLOG_TICKS,
                  "live_ticks": n_live, "rate_per_s": ctx.rate, "keys": RT_KEYS,
                  "zipf_a": RT_ZIPF},
    }
    layer = streaming_layers(progress_a + progress_b)
    if ctx.trace:
        layer.update(_drain_layers(ctx, drain_q, progress_a))
    layer.update({
        "build.s": build_s[-1],
        "build.jobs": build_jobs[-1],
        "exec.s": drains[-1] - build_s[-1],
        "sinks.bytes": sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(out_dir, "*.parquet"))),
        "harness.gen_late_s": harness.percentile(loop.late, 90),
        "harness.backlog_files": int(pending),
    })
    out["layer"] = layer
    return out

"""csp.run parity — the thin graph-building + execution harness.

Reference lifecycle (SURVEY.md §3): ``csp.run(graph_fn, starttime=,
endtime=)`` wires the graph (Python calls building a DAG), builds the
engine, executes, and returns ``{output: [(time, value), ...]}``
(csp/impl/wiring/runtime.py:160-220). Our wiring is plain Python
building lazy DataFrames; Catalyst is the engine build; collection is
the action. Graph pruning and memoized wiring (CSP-Graph.md:52-58;
impl/mem_cache.py) come free — unreferenced DataFrames never execute,
shared lineage is analyzed once.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Any, Callable, Mapping

from pyspark.sql import functions as F

from ..core.session import _materialize
from ..core.ticks import KEY, SEQ, TS, VALUE, TickStream

#: cap on csp.run's feedback fixed-point passes — each pass replays
#: the graph with the previous pass's one-cycle-delayed feedback
#: ticks; graphs whose feedback only OBSERVES the loop converge in 2
_MAX_FEEDBACK_PASSES = 10

#: per-pass bound-tick cap for the verbatim csp.feedback fixed point —
#: each pass replays the wiring over the feedback's materialized ticks,
#: so huge streams belong on feedback_scan / feedback_iterate instead
_FEEDBACK_MAX_ROWS = int(
    os.environ.get("CSP_SPARK_FEEDBACK_MAX_ROWS", "1000000")
)

#: spawn-count cap for the reference-form csp.dynamic — the reference
#: engine spawns one in-process sub-engine per key
#: (cpp/csp/engine/DynamicEngine.cpp); the Spark analog builds one
#: filtered Catalyst sub-plan per key ON THE DRIVER, so a
#: data-discovered basket with 10^5+ keys would mean 10^5+ driver-side
#: plan builds. Past the cap we raise toward dynamic_apply, the
#: groupBy+Arrow form that executes all keys in one distributed plan.
_DYNAMIC_MAX_KEYS = int(
    os.environ.get("CSP_SPARK_DYNAMIC_MAX_KEYS", "1000")
)


def _clip(x: TickStream, start, end) -> TickStream:
    df = x.df
    if start is not None:
        df = df.filter(F.col(TS) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(TS) <= F.lit(end))
    return x.with_df(df)


class engine_window:
    """Beyond-reference helper: a bounded engine frame for MODULE-SCOPE
    wiring. The reference's pandas-extension example builds edges
    outside ``csp.run`` (edges are graph descriptions there, bounded
    only at run time); this engine's bounded sources (``csp.timer``,
    ``csp.curve``...) resolve their grids at WIRING time, so wiring
    outside a run needs the bounds up front::

        with csp_spark.engine_window(start, end):
            trigger = csp.timer(timedelta(seconds=2))
            ...build the frame / edges...
        edge.run(starttime=start, endtime=end)

    Reentrant (frames nest like csp.run's own).
    """

    def __init__(self, starttime, endtime, realtime: bool = False):
        if isinstance(endtime, _dt.timedelta):
            if starttime is None:
                raise ValueError("endtime as a timedelta needs starttime")
            endtime = starttime + endtime
        self._frame = {
            "start": starttime, "end": endtime, "realtime": bool(realtime),
            "feedbacks": [], "push_captures": [], "sink_nodes": [],
        }

    def __enter__(self):
        _run_info_stack.append(self._frame)
        return self

    def __exit__(self, exc_type, exc_val, exc_tb):
        frame = _run_info_stack.pop()
        if exc_type is None and (
            frame["feedbacks"] or frame["push_captures"]
            or frame["sink_nodes"]
        ):
            # these registrations need csp.run's fixed-point/capture/
            # sink machinery; leaving them on a plain window frame
            # would silently compute with zero feedback ticks / never
            # run the sinks
            raise RuntimeError(
                "csp.feedback / push adapters / sink nodes were wired "
                "inside engine_window — these need csp.run(graph, "
                "starttime=..., endtime=...); engine_window only "
                "bounds plain source/operator wiring"
            )
        return False


def run(
    graph_fn: Callable[..., Mapping[str, TickStream] | TickStream],
    *args: Any,
    starttime: _dt.datetime | None = None,
    endtime: _dt.datetime | None = None,
    output_numpy: bool = False,
    realtime: bool = False,
    **kwargs: Any,
) -> dict[str, list[tuple]]:
    """Execute a graph function over [starttime, endtime].

    ``graph_fn(*args, **kwargs)`` returns a TickStream (output key "0",
    like csp's positional outputs) or a dict of named TickStreams.
    Returns {name: [(ts, value)]} in engine order; ``output_numpy``
    returns {name: (times_array, values_array)} (runtime.py:86-87
    output_numpy parity).
    """
    from ..core import surface as _surface

    # reference signature: endtime may be a timedelta relative to
    # starttime (csp/impl/wiring/runtime.py run(..., endtime=delta))
    if isinstance(endtime, _dt.timedelta):
        if starttime is None:
            raise ValueError("endtime as a timedelta needs starttime")
        endtime = starttime + endtime

    # realtime=True (reference runtime.py): wall-clock pacing with live
    # adapters. For BOUNDED batch-source graphs the tick output is
    # identical modulo pacing, so run() evaluates them in simulated
    # time and only reports in_realtime()=True; live ingestion is the
    # streaming surface's job (csp_spark.streaming run_node_stream /
    # PushAdapter), not this batch evaluator's.
    mark = len(_on_stop_callbacks)
    _run_info_stack.append(
        {"start": starttime, "end": endtime, "realtime": bool(realtime)}
    )
    try:
        # build under an output context so csp.add_graph_output side
        # outputs registered during wiring are collected too — looped
        # to a FIXED POINT when the graph wires true feedback cycles
        # (csp.feedback consumed before bind): each pass re-wires with
        # the previous pass's materialized feedback ticks, one engine
        # cycle delayed, until the bound streams stop changing
        frame = _run_info_stack[-1]
        for _fb_pass in range(_MAX_FEEDBACK_PASSES):
            frame["feedbacks"] = []
            frame["push_captures"] = []
            frame["sink_nodes"] = []
            del _on_stop_callbacks[mark:]  # re-registered each pass
            _surface._output_ctx.append({})
            try:
                outs = graph_fn(*args, **kwargs)
            finally:
                _side = _surface._output_ctx.pop()
                _hist = _surface._output_history.pop(id(_side), {})
            stale = [fb for fb in frame["feedbacks"] if fb._used_stale]
            if not stale:
                break
            prevs, sigs_now, converged = [], [], True
            prev_sigs = frame.get("fb_sigs")
            for i, fb in enumerate(frame["feedbacks"]):
                if fb._bound is None:
                    raise RuntimeError(
                        "csp.feedback.out() was consumed but bind() "
                        "was never called in the graph"
                    )
                b = fb._bound
                # stay distributed across passes (engine Feedback.h is
                # per-cycle, never whole-stream): each pass pins the
                # bound ticks and convergence compares a 1-row (count,
                # xxhash64-sum) signature — the same detector
                # feedback_iterate uses — instead of collecting the
                # stream to the driver
                bdf = _materialize(b.df.select(
                    "key", "ts", "seq",
                    F.col(b.value_col).alias("value"),
                ), "graph feedback: bound ticks of one pass")
                agg = bdf.select(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.xxhash64("key", "ts", "seq", "value")
                        .cast("decimal(28,0)")
                    ).alias("h"),
                ).collect()[0]
                if agg["n"] > _FEEDBACK_MAX_ROWS:
                    raise RuntimeError(
                        f"csp.feedback fixed-point re-wires the graph "
                        f"over {agg['n']} bound ticks per pass (cap "
                        f"{_FEEDBACK_MAX_ROWS}, env "
                        "CSP_SPARK_FEEDBACK_MAX_ROWS) — for large "
                        "streams express the recurrence directly with "
                        "csp_spark.feedback_scan (per-cycle fold) or "
                        "feedback_iterate (multi-round fixed point)"
                    )
                sig = (agg["n"], agg["h"])
                sigs_now.append(sig)
                if prev_sigs is None or i >= len(prev_sigs) \
                        or sig != prev_sigs[i]:
                    converged = False
                prevs.append(TickStream(bdf))
            frame["fb_prev"], frame["fb_sigs"] = prevs, sigs_now
            if converged:
                break
        else:
            raise RuntimeError(
                f"feedback cycle did not converge within "
                f"{_MAX_FEEDBACK_PASSES} passes — a feedback whose "
                "value changes its own producer every cycle needs "
                "feedback_scan (per-cycle recurrence) instead"
            )
        if outs is None:
            outs = {}
        if isinstance(outs, TickStream):
            outs = {"0": outs}
        outs = dict(outs)
        for _k in _side:
            if _k in outs:  # same rule as build_graph — never silently
                raise ValueError(f"duplicate graph output key {_k!r}")
        outs = {**_side, **outs}
        # realtime push adapters registered during wiring: run their
        # capture phase (threads push for the run's wall window) BEFORE
        # collecting, so their buffers replay as batch streams
        if _run_info_stack[-1].get("push_captures"):
            from ..impl.pushadapter import drive_captures

            drive_captures(_run_info_stack[-1])
        # pure side-effect nodes (no return annotation): the reference
        # engine runs every wired node — force one evaluation each
        for _s in frame.get("sink_nodes", []):
            _s.df.count()
        result: dict[str, list[tuple]] = {}
        for name, stream in outs.items():
            clipped = _clip(stream, starttime, endtime)
            if name in _hist:
                # tick_history trailing window, anchored at the RUN's
                # endtime (the engine end), not the data's max ts
                clipped = _surface._history_clip(
                    clipped, _hist[name], end=endtime
                )
            ticks = clipped.collect_ticks()
            if output_numpy:
                import numpy as np

                result[name] = (
                    np.array([t for t, _ in ticks], dtype="datetime64[us]"),
                    np.array([v for _, v in ticks]),
                )
            else:
                result[name] = ticks
        return result
    finally:
        _run_info_stack.pop()
        # fire + drain callbacks registered during THIS run's build
        # (csp.schedule_on_engine_stop), success or failure
        mine, _on_stop_callbacks[mark:] = _on_stop_callbacks[mark:], []
        for f in mine:
            f()


# ----------------------------------------------------------------------
# engine run-time services (reference builtin_functions.py:305-349:
# csp.now is a column — core/align.now; the run-scoped services below
# read the active run() frame, like GraphRunInfo in the reference)
# ----------------------------------------------------------------------

_run_info_stack: list = []


def _cur_run() -> dict:
    if not _run_info_stack:
        raise RuntimeError(
            "engine run-time services are only valid while a run() is "
            "building/collecting a graph (reference: node/graph context)"
        )
    return _run_info_stack[-1]


def engine_start_time():
    """csp.engine_start_time (builtin_functions.py:328): the active
    run's starttime (None = unbounded replay-from-data-start)."""
    return _cur_run()["start"]


def engine_end_time():
    """csp.engine_end_time (builtin_functions.py:336)."""
    return _cur_run()["end"]


def in_realtime() -> bool:
    """csp.in_realtime (builtin_functions.py:322): batch run() frames
    report False; streaming harnesses mark their frame realtime."""
    return bool(_cur_run()["realtime"])


def is_configured_realtime() -> bool:
    """csp.is_configured_realtime (builtin_functions.py:344)."""
    return bool(_cur_run()["realtime"])


# ----------------------------------------------------------------------
# feedback — driver-side fixed point (SURVEY.md §7.4 item 4)
# ----------------------------------------------------------------------

def feedback_iterate(
    step: Callable[[TickStream], TickStream],
    init: TickStream,
    max_iters: int = 50,
) -> TickStream:
    """csp.feedback analog (csp/impl/wiring/feedback.py; engine
    Feedback.h): the reference re-injects a node's output one engine
    cycle later at the same timestamp, converging within the cycle
    loop. Spark has no cyclic dataflow, so we iterate the whole batch
    plan to a fixed point on the driver: step() is applied until its
    output stops changing (checksum compare), materializing each
    round so lineage doesn't grow unboundedly.

    Suits iterative-refinement graphs (label propagation, clamped
    accumulators). Per-cycle realtime feedback is out of scope and
    documented as a semantic delta."""
    cur = TickStream(_materialize(init.df, "feedback_iterate"), init.value_col)

    def _sig(s: TickStream) -> tuple:
        agg = s.df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64(KEY, TS, SEQ, s.value_col).cast("decimal(28,0)")).alias("h"),
        ).collect()[0]
        return (agg["n"], agg["h"])

    last = _sig(cur)
    for _ in range(max_iters):
        nxt = step(cur)
        nxt = TickStream(_materialize(nxt.df, "feedback_iterate"), nxt.value_col)
        sig = _sig(nxt)
        if sig == last:
            return nxt
        cur, last = nxt, sig
    return cur


# ----------------------------------------------------------------------
# dynamic graphs — per-key subgraphs (SURVEY.md §2.8 'dynamic graphs')
# ----------------------------------------------------------------------

#: tag column distinguishing the triggering stream from attachments
DYN_SRC = "__src"


def feedback_scan(
    x: TickStream,
    fn: Callable[[Any, Any], Any],
    init: Any = 0.0,
    result_type: str = "double",
) -> TickStream:
    """TRUE per-cycle feedback for the one-edge-latency topology —
    csp.feedback's dominant use (csp/impl/wiring/feedback.py; engine
    Feedback.h: the bound edge's value re-enters the graph one engine
    cycle later): at each tick the node sees the PREVIOUS cycle's
    output (``init`` before the first) and emits
    ``out_i = fn(x_i, out_{i-1})``.

    This is a per-key sequential recurrence — inherently not a window
    aggregate — so it runs on the keyed pandas runner
    (core.noderun._per_key_pandas) with a per-key Python fold. Keys
    are independent → embarrassingly parallel; within a key the fold
    is sequential, exactly as the reference engine executes it.

    For multi-round fixed-point graphs (label propagation) use
    :func:`feedback_iterate`; for cycle-delayed *wiring* of an already
    computed stream use ``baselib.wrap_feedback``."""
    from ..core.noderun import _per_key_pandas

    base = x.df.select(KEY, TS, SEQ, F.col(x.value_col).alias("__v"))
    schema = f"{KEY} string, {TS} timestamp, {SEQ} long, {VALUE} {result_type}"

    def fold(pdf, by_key):
        rows = []
        for _, g in by_key:
            prev = init
            for k, t, s, v in zip(g[KEY], g[TS], g[SEQ], g["__v"]):
                prev = fn(v, prev)
                rows.append((k, t, s, prev))
        return rows

    return TickStream(_per_key_pandas(base, fold, schema))


class _SnapKeyMarker:
    """csp.snapkey() graph-build marker — csp.dynamic substitutes the
    spawning basket key."""


class _AttachMarker:
    """csp.attach() graph-build marker — csp.dynamic substitutes the
    spawning key's slice of the trigger basket."""


class _SnapMarker:
    """csp.snap(x) graph-build marker — csp.dynamic substitutes x's
    value as of the key's first trigger tick, as a scalar."""

    def __init__(self, stream: TickStream):
        self.stream = stream


def snapkey(pdf=None):
    """csp.snapkey (csp/impl/types/tstype.py:163-177). Two forms:
    reference graph-build marker ``csp.snapkey()`` (inside a
    csp.dynamic argument list — substituted with the spawning key),
    or the dynamic_apply in-``fn`` helper ``snapkey(pdf)`` returning
    the key of the per-key frame."""
    if pdf is None:
        return _SnapKeyMarker()
    return pdf[KEY].iloc[0]


def snap(pdf=None, name: str | None = None):
    """csp.snap (tstype.py:142-160). Reference marker form
    ``csp.snap(stream)`` for csp.dynamic argument lists; or the
    dynamic_apply in-``fn`` helper ``snap(pdf, name)`` — the scalar
    value the named snapped stream had when this key's subgraph
    started (= at the key's first trigger tick). None if the snapped
    stream had not yet ticked."""
    if isinstance(pdf, TickStream):
        return _SnapMarker(pdf)
    v = pdf[f"__snap_{name}"].iloc[0]
    import pandas as _pd

    return None if _pd.isna(v) else v


def attached(pdf=None, name: str | None = None):
    """csp.attach (tstype.py:181-199). Reference marker form
    ``csp.attach()`` for csp.dynamic argument lists; or the
    dynamic_apply in-``fn`` helper ``attached(pdf, name)`` — this
    key's slice of the named attached stream, in engine order, as a
    pandas frame with columns (ts, seq, value)."""
    if pdf is None:
        return _AttachMarker()
    import pandas as _pd

    # one-allocation construction (r13, guide §4.5 — this helper runs
    # once per KEY inside the keyed runner, and the former
    # mask-filter + select + rename + reset_index chain built four
    # intermediate frames per call; fancy-indexed .array slices keep
    # pandas value semantics (pd.NaT, extension dtypes) and a fresh
    # RangeIndex exactly like the old reset_index form)
    m = (pdf[DYN_SRC].to_numpy() == name)
    return _pd.DataFrame({
        TS: pdf[TS].array[m],
        SEQ: pdf[SEQ].to_numpy()[m],
        "value": pdf[name].array[m],
    })


def dynamic(trigger: TickStream, fn: Callable, *args, **kwargs):
    """csp.dynamic — both calling forms:

    - REFERENCE form (csp/impl/wiring/dynamic.py): ``csp.dynamic(
      trigger_basket, graph_fn, csp.snapkey(), csp.attach(),
      csp.snap(x), <shared edges/scalars...>)`` — instantiates
      ``graph_fn`` once per basket key (keys discovered from the
      trigger data, spawn order = first-trigger order) and returns the
      dict basket {key: output edge}. Feed it to a node with a
      ``{ts[str]: ts[T]}`` input.
    - Spark form: ``dynamic(x, fn, output_schema, attach=...,
      snap_streams=...)`` = :func:`dynamic_apply` (groupBy + Arrow,
      the scale path).
    """
    spark_form = (
        "output_schema" in kwargs
        or "attach" in kwargs
        or "snap_streams" in kwargs
        or (args and isinstance(args[0], str) and " " in args[0])
    )
    if spark_form:
        return dynamic_apply(trigger, fn, *args, **kwargs)
    return _dynamic_reference(trigger, fn, *args)


def _dynamic_reference(trigger: TickStream, graph_fn: Callable, *args):
    """Per-key subgraph instantiation over a dynamic basket. Keys are
    read from the trigger data (one small driver job — the dynamic
    surface is an authoring affordance, keyed-parallel execution of
    each subgraph's operators is still Spark-side)."""
    key_rows = (
        trigger.df.groupBy(KEY)
        .agg(F.min(F.struct(F.col(TS), F.col(SEQ))).alias("__first"))
        .orderBy("__first")
        .limit(_DYNAMIC_MAX_KEYS + 1)
        .collect()
    )
    if len(key_rows) > _DYNAMIC_MAX_KEYS:
        raise RuntimeError(
            f"csp.dynamic: trigger basket has more than "
            f"{_DYNAMIC_MAX_KEYS} distinct keys (cap "
            "CSP_SPARK_DYNAMIC_MAX_KEYS). The reference form builds "
            "one sub-plan per key on the driver; for large key "
            "cardinality use dynamic_apply(trigger, fn, "
            "output_schema=...) — the groupBy + Arrow form that "
            "executes every key inside one distributed plan."
        )
    spawn = [(r[KEY], r["__first"][TS], r["__first"][SEQ]) for r in key_rows]

    # snap markers: each key needs the snapped stream's as-of value at
    # its spawn cycle (inclusive — the spawning tick itself is current,
    # like the reference). Computed DISTRIBUTED: broadcast the tiny
    # spawn table (one row per key) against the stream, keep ticks at
    # or before the spawn cycle, max_by per key — only |keys| rows ever
    # reach the driver, never the stream itself.
    snap_vals: dict[int, dict[str, Any]] = {}
    for i, a in enumerate(args):
        if isinstance(a, _SnapMarker):
            s = a.stream
            sdf = s.df.select(TS, SEQ, F.col(s.value_col).alias("__v"))
            spawn_df = sdf.sparkSession.createDataFrame(
                list(spawn), "__k string, __t0 timestamp, __q0 long"
            )
            asof = (
                F.broadcast(spawn_df)
                .join(
                    sdf,
                    (F.col(TS) < F.col("__t0"))
                    | (
                        (F.col(TS) == F.col("__t0"))
                        & (F.col(SEQ) <= F.col("__q0"))
                    ),
                    "left",
                )
                .groupBy("__k")
                .agg(
                    F.max_by(
                        F.struct(F.col("__v")),
                        F.when(
                            F.col(TS).isNotNull(),
                            F.struct(F.col(TS), F.col(SEQ)),
                        ),
                    ).alias("__asof")
                )
                .collect()
            )
            snap_vals[i] = {
                r["__k"]: (None if r["__asof"] is None else r["__asof"]["__v"])
                for r in asof
            }

    out: dict[str, TickStream] = {}
    for k, _t0, _q0 in spawn:
        sub_args = []
        for i, a in enumerate(args):
            if isinstance(a, _SnapKeyMarker):
                sub_args.append(k)
            elif isinstance(a, _AttachMarker):
                sub_args.append(
                    TickStream(
                        trigger.df.filter(F.col(KEY) == F.lit(k)),
                        trigger.value_col,
                    )
                )
            elif isinstance(a, _SnapMarker):
                sub_args.append(snap_vals[i][k])
            else:
                sub_args.append(a)
        out[k] = graph_fn(*sub_args)
    return out


def dynamic_apply(
    x: TickStream,
    fn: Callable,
    output_schema: str,
    attach: Mapping[str, TickStream] | None = None,
    snap_streams: Mapping[str, TickStream] | None = None,
) -> TickStream:
    """csp.dynamic analog (csp/impl/wiring/dynamic.py:12-100;
    DynamicEngine.cpp): the reference spawns a sub-graph per basket key
    at runtime; Spark is data-parallel over keys already, so a dynamic
    graph is a per-key pandas call on the keyed runner
    (core.noderun._per_key_pandas) — ``fn(pdf)`` receives one key's
    ticks in engine order and returns that key's output table (must
    include key/ts/seq columns per ``output_schema``). In a double
    column NaN is a value; None in an object column, or pd.NA in a
    Float64 column, is NULL (the runner's output rule).

    Dynamic-argument parity:
    - ``attach={name: stream}`` (csp.attach): each attachment's per-key
      slice is unioned into the frame, tagged by the ``__src`` column,
      with its values in a column named ``name`` — read it with
      :func:`attached`. Trigger rows carry ``__src == ""``.
    - ``snap_streams={name: stream}`` (csp.snap): the stream's
      last value as of this key's FIRST trigger tick, delivered as a
      constant ``__snap_<name>`` column — read it with :func:`snap`.
      The snapped stream's rows ride the same union as marker rows;
      two window passes over the key derive it inside the runner's
      one exchange, and the marker rows are dropped before ``fn``.
    """
    attach = dict(attach or {})
    snap_streams = dict(snap_streams or {})
    vt = dict(x.df.dtypes)[x.value_col]
    df = x.df.select(
        KEY, TS, SEQ,
        F.col(x.value_col).alias(VALUE),
        F.lit("").alias(DYN_SRC),
        *[
            F.lit(None).cast(dict(s.df.dtypes)[s.value_col]).alias(n)
            for n, s in attach.items()
        ],
    )
    for n, s in attach.items():
        part = s.df.select(
            KEY, TS, SEQ,
            F.lit(None).cast(vt).alias(VALUE),
            F.lit(n).alias(DYN_SRC),
            *[
                (F.col(s.value_col) if m == n
                 else F.lit(None).cast(dict(t.df.dtypes)[t.value_col])).alias(m)
                for m, t in attach.items()
            ],
        )
        df = df.unionByName(part)
    if snap_streams:
        # The snap value is the last tick of the snapped stream at or
        # before this key's FIRST trigger tick. Its (ts, seq, value)
        # rows ride the union as marker rows (an un-spoofable
        # "\\x00snap:" __src tag — user attach names are column
        # identifiers and never contain NUL); the key windows below
        # share the runner's exchange and sort, and the marker rows are
        # dropped before fn sees the frame.
        df = df.select(
            "*",
            *[
                F.lit(None).cast(dict(s.df.dtypes)[s.value_col])
                .alias(f"__snapv_{n}")
                for n, s in snap_streams.items()
            ],
        )
        for n, s in snap_streams.items():
            part = s.df.select(
                KEY, TS, SEQ,
                F.lit(None).cast(vt).alias(VALUE),
                F.lit("\x00snap:" + n).alias(DYN_SRC),
                *[
                    F.lit(None).cast(dict(t.df.dtypes)[t.value_col]).alias(m)
                    for m, t in attach.items()
                ],
                *[
                    (F.col(s.value_col) if m == n
                     else F.lit(None).cast(dict(t.df.dtypes)[t.value_col]))
                    .alias(f"__snapv_{m}")
                    for m, t in snap_streams.items()
                ],
            )
            df = df.unionByName(part)

        from pyspark.sql import Window as _W

        wb = (
            _W.partitionBy(KEY).orderBy(TS, SEQ)
            .rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
        )
        df = df.withColumn(
            "__t0", F.min(F.when(F.col(DYN_SRC) == "", F.col(TS))).over(wb)
        )
        for n in snap_streams:
            # max_by, not max(struct(ts, seq, value)): the value may be
            # a type with no ordering (a map)
            at = F.when(
                (F.col(DYN_SRC) == F.lit("\x00snap:" + n))
                & (F.col(TS) <= F.col("__t0")),
                F.struct(TS, SEQ),
            )
            df = df.withColumn(
                f"__snap_{n}", F.max_by(f"__snapv_{n}", at).over(wb)
            )
        df = df.filter(
            ~F.col(DYN_SRC).startswith("\x00")
        ).drop("__t0", *[f"__snapv_{n}" for n in snap_streams])

    import pandas as pd
    from pyspark.sql.types import StructType, _parse_datatype_string

    from ..core.noderun import _per_key_pandas

    st = (
        _parse_datatype_string(output_schema)
        if isinstance(output_schema, str)
        else output_schema
    )
    names = st.fieldNames() if isinstance(st, StructType) else None

    def _per_key(pdf):
        out = fn(pdf)
        # fail-loud on fn contract breaches: a None return or a missing
        # declared column is an error, where pd.concat would silently
        # null-fill instead — keep user-fn bugs visible.
        if out is None:
            raise ValueError(
                "dynamic_apply fn returned None; return a DataFrame "
                "matching the declared output_schema (possibly empty)"
            )
        # fn may return the input frame, which carries the __src /
        # __snap_* plumbing columns — keep only the declared schema
        if names is not None:
            missing = [c for c in names if c not in out.columns]
            if missing:
                raise ValueError(
                    f"dynamic_apply fn output is missing declared "
                    f"schema column(s) {missing}; got {list(out.columns)}"
                )
            out = out[names]
        return out

    def _run(pdf, by_key):
        outs = [o for o in (_per_key(g) for _, g in by_key) if len(o)]
        return pd.concat(outs, ignore_index=True) if outs else None

    return TickStream(_per_key_pandas(df, _run, output_schema))


# ----------------------------------------------------------------------
# threaded run / memoization / plan display (reference top-level API)
# ----------------------------------------------------------------------

class ThreadRunner:
    """Handle returned by run_on_thread (reference
    csp/impl/wiring/threaded_runtime.py:22-103): join() returns the
    run's results, raising anything the engine thread raised;
    stop_engine() requests cooperative cancellation (checked between
    Spark actions — a running Spark job finishes its stage first);
    is_alive() mirrors threading.Thread."""

    def __init__(self, graph_fn, *args, daemon=False, **kwargs):
        import threading

        self._result = None
        self._exc = None
        self._stop = threading.Event()
        kwargs.setdefault("_stop_event", self._stop)
        try:
            run_kwargs = dict(kwargs)
            run_kwargs.pop("_stop_event")

            def _target():
                try:
                    self._result = run(graph_fn, *args, **run_kwargs)
                except BaseException as ex:  # noqa: BLE001
                    self._exc = ex

            self._thread = threading.Thread(target=_target, daemon=daemon)
            self._thread.start()
        except BaseException:
            raise

    def is_alive(self) -> bool:
        return self._thread.is_alive()

    def stop_engine(self) -> None:
        self._stop.set()

    def join(self, suppress=False):
        self._thread.join()
        if self._exc is not None and not suppress:
            raise self._exc
        return self._result


def run_on_thread(graph_fn, *args, daemon=False, **kwargs) -> ThreadRunner:
    """csp.run_on_thread parity: execute run() on a background thread
    and return a ThreadRunner handle. Spark sessions are thread-safe
    for job submission, so the graph's actions simply run as jobs
    scheduled from the worker thread."""
    return ThreadRunner(graph_fn, *args, daemon=daemon, **kwargs)


def memoize(fn):
    """csp.memoize / csp_memoized parity (reference
    csp/impl/mem_cache.py): in the reference this caches node/graph
    WIRING so the same subgraph instance is reused; here graph
    building is plain Python producing DataFrames, so an lru_cache on
    the builder gives the same single-instance semantics — and Spark
    reuses the cached DataFrame's lineage (one subplan, Catalyst
    common-subexpression reuse) wherever it is referenced.

    ``with MemoizeControl(False):`` (impl/mem_cache — the reference's
    ``csp.impl.mem_cache.memoize(False)`` block form) bypasses the
    cache for builds inside the block."""
    import functools

    cached = functools.lru_cache(maxsize=None)(fn)
    _memo_caches.append(cached)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        from ..impl.mem_cache import MemoizeControl

        if not MemoizeControl.is_memoize_on():
            return fn(*args, **kwargs)
        return cached(*args, **kwargs)

    wrapper.cache_clear = cached.cache_clear
    return wrapper


# every memoize()-wrapped builder, so core/surface.clear_global_context
# (csp.clear_global_context parity) can drop all cached wiring at once
_memo_caches: list = []


csp_memoized = memoize


def show_graph(out, mode: str = "formatted",
               graph_filename: str | None = None) -> None:
    """csp.show_graph parity: the reference renders the wired node
    graph (csp/showgraph.py); our wired graph IS the Catalyst logical
    plan, so show the optimizer's own rendering — `.explain(mode)` of
    the output stream/DataFrame ('formatted' | 'extended' |
    'codegen' | 'cost'). Accepts the reference's two calling forms:
    an edge/DataFrame, or a GRAPH FUNCTION (wired under a synthetic
    run frame so ambient sources resolve). ``graph_filename`` writes
    the text rendering there (the reference writes a PNG)."""
    import contextlib
    import io

    from ..core.ticks import TickStream

    if callable(out) and not isinstance(out, TickStream):
        from ..showgraph import generate_graph

        # synthetic bounded frame: only the PLAN is rendered, but
        # ambient sources (csp.timer) materialize their tick grid from
        # these bounds — keep the window small
        _run_info_stack.append(
            {"start": _dt.datetime(2000, 1, 1),
             "end": _dt.datetime(2000, 1, 1, 1), "realtime": False}
        )
        try:
            text = generate_graph(out).getvalue().decode()
        finally:
            _run_info_stack.pop()
        if graph_filename:
            with open(graph_filename, "w") as f:
                f.write(text)
        else:
            print(text)
        return
    df = out.df if isinstance(out, TickStream) else out
    if graph_filename:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode)
        with open(graph_filename, "w") as f:
            f.write(buf.getvalue())
        return
    df.explain(mode)


_on_stop_callbacks: list = []


def schedule_on_engine_stop(f) -> None:
    """csp.schedule_on_engine_stop parity (reference baselib.py:735-741):
    register a no-arg cleanup callback fired when the enclosing run()
    finishes (success or failure) — callbacks registered during the
    graph build fire exactly once, in registration order."""
    _on_stop_callbacks.append(f)

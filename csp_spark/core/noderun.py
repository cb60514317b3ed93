"""Imperative node execution — the @csp.node authoring model, run
keyed-parallel (reference csp/impl/wiring/node.py + engine
cpp/csp/engine/CspEngine.cpp node-cycle loop).

A reference node is a per-tick Python function with ``csp.state()``
variables, ``csp.ticked``/``csp.valid`` input queries, ``csp.alarms``
self-scheduling, and an optional output per cycle. ``run_node`` gives
the same authoring surface on Spark: the inputs align to engine
cycles (core/align.py — one row per cycle with last-values and ticked
flags), and the user's function runs over each KEY's cycles
sequentially inside pandas, with an alarm heap merged into the cycle
sequence.

Scale shape: per-key sequential Python — the deliberate slow path,
exactly like the reference's Python nodes vs their cppimpl twins. The
aligned frame goes through ``_per_key_pandas``, the one keyed pandas
runner every per-key Python fold in the package shares: one
repartition by key (align's own exchange, reused), one engine-order
sort, and one pandas call per post-AQE shuffle partition, with the
per-key loop inside pandas. The GLOBAL_KEY case still runs one key
(same limit as the reference's single-threaded engine). Prefer the
combinator library (apply/exprtk/stats/feedback_scan) for hot paths —
this exists so imperative reference nodes port line-for-line.
"""

from __future__ import annotations

import copy as _copy
import datetime as _dt
import heapq
import pickle
from collections.abc import Mapping
from itertools import chain
from typing import Any, Callable

import numpy as np
import pandas as pd

from .align import _ticked as _ticked_col
from .align import align
from .record import Struct
from .session import _materialize
from .ticks import KEY, SEQ, TS, VALUE, TickStream


class NO_OUTPUT:  # noqa: N801 — a sentinel, named like a constant
    """Return this from a node function to emit nothing this cycle
    (returning None does the same — reference nodes tick only on
    ``return``/``csp.output``). A class, so it pickles by name: a node
    shipped to a Python worker returns the very object the engine
    there tests against."""


#: internal marker distinguishing "not an alarm cycle" from an alarm
#: whose scheduled VALUE is None (a legal payload)
_NO_ALARM = object()

#: seq base for synthetic alarm cycles — orders them after any
#: coincident input cycle at the same timestamp
_ALARM_SEQ_BASE = 1 << 40

#: cap on alarm cycles per engine run — one batch replay of a key, or
#: one streaming wake (guards a node that reschedules itself forever
#: against an unbounded loop; reference runs are bounded by endtime
#: the same way)
_MAX_ALARM_CYCLES = 1_000_000

#: seq marker for the per-key terminal-state row emitted by
#: run_node_with_states (mirrors streaming.hybrid.SEED_SEQ's
#: "synthetic row" convention; filtered from user-visible output)
STATE_SEQ = -(1 << 40)


class AlarmHandoff:
    """The replay→live handover record emitted by
    ``run_node_with_states(keep_alarms=True)`` and consumed by
    ``run_node_stream(alarms=True, initial_states=...)``: the node's
    terminal state dict, its pending alarm heap (one pickle with the
    state so handles stored there keep heap identity), the engine
    counters, and the replay's last input values (alarm cycles read
    inputs). A distinct TYPE — not a shape — so a user state that
    happens to be a tuple can never be misread as a handoff."""

    __slots__ = ("state", "heap", "order", "fired", "last")

    def __init__(self, state, heap, order, fired, last):
        self.state = state
        self.heap = heap
        self.order = order
        self.fired = fired
        self.last = last

    # slots-only classes need explicit pickle plumbing on py<3.11
    # semantics; keep it explicit and version-proof
    def __getstate__(self):
        return (self.state, self.heap, self.order, self.fired, self.last)

    def __setstate__(self, t):
        (self.state, self.heap, self.order, self.fired, self.last) = t

#: seq marker for the synthetic group-seed row injected when a node
#: with csp.start() alarms has NO input ticks at all (e.g. a feedback
#: graph's first fixed-point pass): the runner sees no key at all in
#: an empty frame, so the alarm chain would never run — the seed
#: row materializes one GLOBAL_KEY group and is skipped as a cycle
_START_SEED_SEQ = -(1 << 41)


class NodeCycle:
    """One engine cycle as seen from inside a node: ``now``/``seq``,
    the mutable per-key ``state`` dict (csp.state), input last-values
    by name (``cycle['bid']``), the reference's input queries
    ``ticked(name)`` / ``valid(name)``, and the alarm surface
    (csp.alarms: ``schedule_alarm``/``cancel_alarm``/``alarm``).

    Note: an input that is not yet valid reads None, in batch and in
    the stream alike; a float input whose last tick was a literal NaN
    reads NaN, and valid() is False for both (use drop_nans upstream
    if that matters). Outputs keep the two apart: a returned NaN ticks
    NaN, and a None value in a multi-output dict ticks NULL (the keyed
    runners' output rule, see _per_key_pandas).
    """

    __slots__ = ("now", "seq", "state", "_alarm", "_vals", "_ticked", "_rt")

    def __init__(self, now, seq, state, vals, ticked, rt, alarm=_NO_ALARM):
        self.now = now
        self.seq = seq
        self.state = state
        self._alarm = alarm
        self._vals = vals
        self._ticked = ticked
        self._rt = rt  # the scheduler: the key engine's, or a raising stub

    @property
    def alarm(self):
        """The firing alarm's value on alarm cycles (may be None —
        use ``ticked('alarm')`` to detect the cycle kind)."""
        return None if self._alarm is _NO_ALARM else self._alarm

    def __getitem__(self, name: str):
        return self._vals[name]

    def ticked(self, name: str) -> bool:
        if name == "alarm":
            return self._alarm is not _NO_ALARM
        return bool(self._ticked.get(name, False))

    def valid(self, name: str) -> bool:
        v = self._vals.get(name)
        return v is not None and not (isinstance(v, float) and v != v)

    def schedule_alarm(self, when: _dt.timedelta | _dt.datetime, value: Any = True):
        """csp.schedule_alarm (builtin_functions.py:160-190): arrange a
        self-wake at ``now + timedelta`` (or an absolute time); returns
        a handle for cancel_alarm. The alarm cycle sees the value on
        ``cycle.alarm`` and ``cycle.ticked('alarm')``."""
        ats = (self.now + when) if isinstance(when, _dt.timedelta) else when
        return self._rt(ats, value)

    def cancel_alarm(self, handle) -> None:
        """csp.cancel_alarm: a cancelled handle never fires."""
        handle["alive"] = False


def _conv(v):
    # Struct outputs cross the Arrow boundary as dicts
    return v.to_dict() if isinstance(v, Struct) else v


class _NodeEngine:
    """One key's node-cycle engine — the one implementation behind
    batch run_node (``_keyed_runner``) and run_node_stream: the alarm
    heap, ``schedule``, ``fire``, the NodeCycle build and the output
    rows ``(key, ts, seq, value)`` in ``out``.

    One instance is one RUN: a batch replay of the key, or one
    streaming wake. ``cap`` bounds the alarm cycles of one run;
    ``fired`` is cumulative (it numbers alarm-cycle seqs, so a stream
    carries it across wakes and a handover carries it from the
    replay). Heap entries are ``(pd.Timestamp, order, handle)``; a
    handle is the dict ``cancel_alarm`` marks dead, so a state dict
    pickled together with the heap keeps handle identity. ``rt`` is
    the scheduler input cycles see (default ``schedule``)."""

    def __init__(self, fn, key, state, last, cap, heap=None, order=0,
                 fired=0, rt=None):
        self.fn = fn
        self.key = key
        self.state = state
        self.last = last  # input name -> last value (alarm cycles read it)
        self.cap = cap
        self.heap = [] if heap is None else heap
        self.order = order
        self.fired = fired
        self.out: list = []
        self._rt = rt or self.schedule
        self._run_fired = 0

    def schedule(self, ats, value):
        handle = {"alive": True, "value": value, "ts": ats}
        self.order += 1
        heapq.heappush(self.heap, (pd.Timestamp(ats), self.order, handle))
        return handle

    def fire(self, limit=None, inclusive=False):
        """Fire due alarms, each as its own cycle: ``ats < limit`` (an
        input cycle's interleave — a coincident alarm fires after that
        timestamp's input cycles), ``ats <= limit`` when ``inclusive``
        (the engine clock reached ``limit``), every alarm when
        ``limit`` is None."""
        heap = self.heap
        while heap and self._run_fired < self.cap:
            ats, _, handle = heap[0]
            if not handle["alive"]:
                heapq.heappop(heap)
                continue
            if limit is not None and (ats > limit if inclusive else ats >= limit):
                break
            heapq.heappop(heap)
            self.fired += 1
            self._run_fired += 1
            self.emit(NodeCycle(
                ats, _ALARM_SEQ_BASE + self.fired, self.state,
                dict(self.last), {}, self.schedule, alarm=handle["value"],
            ))

    def cycle(self, ts, seq, vals, ticked):
        """One input cycle; ``vals`` become the last values."""
        self.last = vals
        self.emit(NodeCycle(ts, seq, self.state, vals, ticked, self._rt))

    def hook(self, f, now, seq):
        """Run ``f`` on a csp.start()/csp.stop() cycle: it reads state
        and last values, may schedule, and emits nothing."""
        f(NodeCycle(now, seq, self.state, dict(self.last), {}, self._rt))

    def emit(self, cyc):
        r = self.fn(cyc)
        if r is not NO_OUTPUT and r is not None:
            self.out.append((self.key, cyc.now, cyc.seq, _conv(r)))

    def pending(self) -> list:
        """The heap as a state row or handoff stores it: dead handles
        at the head dropped."""
        heap = self.heap
        while heap and not heap[0][2]["alive"]:
            heapq.heappop(heap)
        return heap


def _output_frame(schema):
    """The output builder of both keyed runners (batch
    ``_per_key_pandas``, stream ``streaming.ops._stateful_by_key``):
    ``build(out)`` turns a fold's output — rows in ``schema`` order, or
    a frame with the schema's columns — into the frame that crosses
    the Arrow boundary, by the rule stated at ``_per_key_pandas``.
    Every double column leaves as a masked Float64 array: Arrow reads
    each NaN of a plain float64 column as NULL."""
    from pyspark.sql.types import DoubleType, StructType, _parse_datatype_string

    if not isinstance(schema, StructType):
        schema = _parse_datatype_string(schema)
    names = schema.fieldNames()
    dbl = [isinstance(f.dataType, DoubleType) for f in schema.fields]

    def masked(c) -> "pd.arrays.FloatingArray":
        if isinstance(c, pd.arrays.FloatingArray):
            return c
        if isinstance(c, list) or c.dtype.kind == "O":
            mask = np.fromiter((v is None for v in c), bool, len(c))
        else:  # a numpy number column marks nothing missing
            mask = np.zeros(len(c), bool)
        return pd.arrays.FloatingArray(np.array(c, dtype=float), mask)

    def build(out) -> pd.DataFrame:
        if isinstance(out, pd.DataFrame):
            cols = [out[n].array for n in names]
        else:
            cols = [[r[i] for r in out] for i in range(len(names))]
        return pd.DataFrame({
            n: masked(c) if d else c for n, c, d in zip(names, cols, dbl)
        })

    return build


def _per_key_pandas(df, fn, schema):
    """The one keyed pandas runner behind every per-key Python fold
    (node runners, dynamic_apply, feedback_scan, exprtk state vars,
    the EMA family, basket trigger selection). It states four rules
    once:

    - engine order: each partition arrives sorted by (KEY, TS, SEQ),
      and pandas groupby keeps row order within a group, so every
      key's rows reach ``fn`` in engine order with no pandas sort;
    - NULL keys: ``dropna=False`` makes a NULL key a real group, as
      Spark's own groupBy(KEY) and the JVM windows treat it;
    - group count: one pandas call per partition of the
      ``repartition(KEY)`` exchange, so the number of calls follows
      the post-AQE shuffle partition count, not a per-key or bucket
      constant. A frame already hash-partitioned by KEY (align's
      windows) reuses that exchange;
    - output values (``_output_frame``, shared with the streaming
      runner ``streaming.ops._stateful_by_key``): a NULL is what the
      fold marks missing — None in a row or an object column, pd.NA
      in a masked column — and a NaN is a value, so a fold's NaN
      leaves as NaN in every double column.

    ``fn(pdf, by_key)`` gets the partition frame and its
    ``groupby(KEY)`` and returns the output rows in ``schema`` order,
    or a frame with the schema's columns (None for no rows)."""
    build = _output_frame(schema)

    def run(batches):
        # an empty partition still invokes run, with no batches
        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        out = fn(pdf, pdf.groupby(KEY, sort=False, dropna=False))
        if out is not None and len(out):
            yield build(out)

    return (
        df.repartition(KEY)
        .sortWithinPartitions(KEY, TS, SEQ)
        .mapInPandas(run, schema)
    )


def _state_factory(state):
    """Per-key state seed: a zero-arg factory as-is, else a DEEP copy
    per key (nested mutable state must not be shared across keys —
    groups of different keys can run in the same Python worker)."""
    if callable(state):
        return state
    proto = dict(state or {})
    return lambda: _copy.deepcopy(proto)


def _flag_nulls(wide, names):
    """``wide`` with a ``<name>__null`` flag per input. Arrow hands
    pandas a NULL number as NaN, so the flag is how the batch runner
    reads a not-yet-valid input as None and a NaN tick as NaN, as the
    stream's ``__null`` flag does for ``_collapse_cycles``. An integral
    input crosses with its NULLs as 0 (the flag still marks them): one
    NULL would turn the whole partition's column float64, so a node
    would read an int or a float depending on which keys share its
    partition."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegralType

    types = {f.name: f.dataType for f in wide.schema.fields}
    return wide.withColumns({
        **{f"{n}__null": F.col(n).isNull() for n in names},
        **{n: F.coalesce(F.col(n), F.lit(0).cast(types[n]))
           for n in names if isinstance(types[n], IntegralType)},
    })


def _values(pdf, name):
    """One input's values for the engine, a flagged NULL as None."""
    a = np.asarray(pdf[name].array, dtype=object)
    a[pdf[f"{name}__null"].to_numpy()] = None
    return a


def _keyed_runner(fn, names, mk_state, multi, end, emit_state,
                  on_start=None, start_ts=None, has_seed=False,
                  on_stop=None, keep_alarms=False):
    """The batch caller of the node-cycle engine (run_node and
    run_node_with_states), run under _per_key_pandas: each key's input
    cycles run through one ``_NodeEngine`` in (ts, seq) order. What
    only batch has stays here, around the engine: the on_start/on_stop
    hooks, the ``end`` trim (alarms past ``end`` never fire; with
    ``keep_alarms`` they cross the handover), the multi-output row
    layout and the terminal-state row (pickled) appended per key."""
    end_ts = None if end is None else pd.Timestamp(end)

    def _run(pdf: pd.DataFrame, by_key) -> list:
        out = []
        # columns extracted ONCE per partition, sliced per key by the
        # groupby's positional indices: building 5+ pandas column
        # objects per KEY (frame __getitem__ + block _chop) was most
        # of runner time at 1.5k keys per pandas call.
        keys_all = pdf[KEY].array
        tss_all = pdf[TS].array
        seqs_all = pdf[SEQ].to_numpy()
        tcols_all = {n: pdf[_ticked_col(n)].to_numpy() for n in names}
        vcols_all = {n: _values(pdf, n) for n in names}
        # .indices yields each key's positional array, increasing
        # within the key — engine order
        for idx in by_key.indices.values():
            out.extend(_one_key(
                keys_all[idx[0]],
                tss_all[idx], seqs_all[idx],
                {n: a[idx] for n, a in tcols_all.items()},
                {n: a[idx] for n, a in vcols_all.items()},
            ))
        return out

    def _one_key(key, tss, seqs, tcols, vcols) -> list:
        if has_seed:
            # drop group-seed rows (they only exist to materialize an
            # otherwise-empty group for a start-alarm-driven node)
            live = seqs != _START_SEED_SEQ
            if not live.all():
                tss, seqs = tss[live], seqs[live]
                tcols = {n: a[live] for n, a in tcols.items()}
                vcols = {n: a[live] for n, a in vcols.items()}
        n_rows = len(seqs)
        eng = _NodeEngine(fn, key, mk_state(), dict.fromkeys(names),
                          _MAX_ALARM_CYCLES)

        if on_start is not None and (n_rows or start_ts is not None):
            # csp.start() analog: one synthetic cycle BEFORE any input,
            # at the engine start time when given (else the key's first
            # tick) — alarms it schedules enter the heap ahead of
            # cycle 1, so a start+0 alarm fires before the first input
            t0 = pd.Timestamp(start_ts) if start_ts is not None else tss[0]
            eng.hook(on_start, t0, -1)

        for i in range(n_rows):
            ts_i = tss[i]
            # past end, the interleave stops at end: later alarms never fire
            if end_ts is None or ts_i <= end_ts:
                eng.fire(ts_i)
            else:
                eng.fire(end_ts, inclusive=True)
            eng.cycle(ts_i, int(seqs[i]), {n: vcols[n][i] for n in names},
                      {n: tcols[n][i] for n in names})
        eng.fire(end_ts, inclusive=True)  # trailing alarms (bounded by end/cap)
        if on_stop is not None:
            # csp.stop() analog: one finalizer cycle per key after
            # everything fired — side effects + state reads only
            stop_ts = (
                end_ts if end_ts is not None
                else (tss[n_rows - 1] if n_rows else
                      pd.Timestamp(start_ts) if start_ts is not None
                      else None)
            )
            eng.hook(on_stop, stop_ts, _ALARM_SEQ_BASE + eng.fired + 1)

        if multi:
            return [
                (k, t, s, *chain.from_iterable(
                    (_conv(r.get(n)), n in r) for n in multi))
                for k, t, s, r in eng.out
            ]
        if not emit_state:
            return eng.out
        if keep_alarms:
            # ONE pickle of the typed handoff record so handle
            # identity crosses the handover. Last input values cross
            # too (alarm cycles read inputs) — coerced to the
            # streaming runner's double channel.
            def _dbl(v):
                try:
                    return None if v is None else float(v)
                except (TypeError, ValueError):
                    return None

            payload = pickle.dumps(AlarmHandoff(
                eng.state, eng.pending(), eng.order, eng.fired,
                {n: _dbl(v) for n, v in eng.last.items()},
            ))
        else:
            payload = pickle.dumps(eng.state)
        final_ts = tss[n_rows - 1] if n_rows else None
        return [r + (None,) for r in eng.out] + [
            (key, final_ts, STATE_SEQ, None, payload)]

    return _run


def run_node(
    fn: Callable[[NodeCycle], Any],
    inputs: TickStream | Mapping[str, TickStream],
    state: Mapping[str, Any] | Callable[[], dict] | None = None,
    output_type: str = "double",
    end: _dt.datetime | None = None,
    outputs: Mapping[str, str] | None = None,
    on_start: Callable | None = None,
    start: _dt.datetime | None = None,
    seed_empty_start: bool = False,
    on_stop: Callable | None = None,
) -> "TickStream | dict[str, TickStream]":
    """Run an imperative per-cycle function over every key's engine
    cycles: ``fn(cycle)`` is called once per cycle in (ts, seq) order
    with that key's state dict carried across calls; its return value
    is the output tick (``NO_OUTPUT``/``None`` = no tick this cycle).

    ``inputs`` may be one stream (readable as ``cycle['x']``) or a
    dict of named streams; passive inputs (make_passive) update
    last-values without producing cycles, exactly as in align().
    ``state`` seeds the per-key state: a dict (deep-copied per key) or
    a zero-arg factory.

    Alarms: ``cycle.schedule_alarm(delta, value)`` inserts a synthetic
    cycle at now+delta (after any coincident input cycle — synthetic
    seq orders above input seqs). Pending alarms past the last input
    tick fire up to ``end`` when given, else all fire (the engine-run
    endtime analog; a self-rescheduling node without ``end`` is capped
    at 1e6 alarm cycles per key).

    Multiple outputs (csp.Outputs / csp.output(name=value)): pass
    ``outputs={"a": "double", "b": "long"}`` and return a dict from
    ``fn`` — only the names present tick that cycle. run_node then
    returns ``{name: TickStream}``. One node execution feeds all
    outputs (the frame is computed once and sliced per output).
    """
    streams = (
        {"x": inputs} if isinstance(inputs, TickStream) else dict(inputs)
    )
    names = list(streams)
    wide = align(streams, keep_ticked=True)
    has_seed = False
    if seed_empty_start and on_start is not None and start is not None:
        # a start-alarm node over a completely empty input (feedback
        # pass 0, pure-alarm clocks): inject one skipped seed row so
        # the runner materializes the GLOBAL_KEY group and the
        # alarm chain runs (cost: one isEmpty job, paid only by nodes
        # that declared csp.start() alarms)
        if wide.isEmpty():
            from pyspark.sql import functions as F

            from .ticks import GLOBAL_KEY

            wide = wide.sparkSession.range(1).select(
                F.lit(GLOBAL_KEY).alias(KEY),
                F.lit(start).cast("timestamp").alias(TS),
                F.lit(_START_SEED_SEQ).cast("long").alias(SEQ),
                *[
                    F.lit(False).alias(f.name)
                    if f.name.endswith("__ticked")
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in wide.schema.fields
                    if f.name not in (KEY, TS, SEQ)
                ],
            )
            has_seed = True
    mk_state = _state_factory(state)
    multi = dict(outputs) if outputs else None
    if multi:
        out_cols = ", ".join(
            f"{n} {t}, {n}__t boolean" for n, t in multi.items()
        )
        schema = f"{KEY} string, {TS} timestamp, {SEQ} long, {out_cols}"
    else:
        schema = f"{KEY} string, {TS} timestamp, {SEQ} long, {VALUE} {output_type}"

    runner = _keyed_runner(
        fn, names, mk_state, multi, end, emit_state=False,
        on_start=on_start, start_ts=start, has_seed=has_seed,
        on_stop=on_stop,
    )
    res = _per_key_pandas(_flag_nulls(wide, names), runner, schema)
    if multi:
        from pyspark.sql import functions as F

        # Checkpoint the combined frame before slicing per output —
        # without it each returned TickStream would re-execute the
        # whole pandas node run on action (N full executions of
        # the user's fn), mirroring run_node_with_states below.
        res = _materialize(res, "run_node: multi-output run")
        return {
            n: TickStream(
                res.filter(F.col(f"{n}__t")).select(
                    KEY, TS, SEQ, F.col(n).alias(VALUE)
                )
            )
            for n in multi
        }
    # Lazy checkpoint the single output too: a node wired over its own
    # output twice (nand(x, x)-style graphs) would otherwise DOUBLE the
    # upstream logical plan at every level — exponential Catalyst
    # analysis at depth. The LogicalRDD leaf keeps deep node chains
    # linear (computed once at the first action, nothing runs if the
    # output is never used).
    return TickStream(_materialize(res, "run_node: single-output run"))


def run_node_with_states(
    fn: Callable[[NodeCycle], Any],
    inputs: TickStream | Mapping[str, TickStream],
    state: Mapping[str, Any] | Callable[[], dict] | None = None,
    output_type: str = "double",
    end: _dt.datetime | None = None,
    keep_alarms: bool = False,
) -> "tuple[TickStream, Any]":
    """run_node plus each key's TERMINAL state: returns
    ``(output, states)`` where ``states`` is a DataFrame of
    ``(key, state binary)`` — the node's state dict pickled after its
    last cycle. This is the replay half of a hybrid node run
    (streaming.hybrid: batch over history, then seed the live
    stream's state store); one execution produces both (the combined
    frame is checkpointed before slicing, so the fold runs once).
    Single-output nodes only (the hybrid splice carries one channel).

    Scale note: the states frame is one small row per key (pickled
    dict); the hybrid consumer collects it to the driver, which suits
    bounded key sets — for unbounded cardinality keep the streaming
    query running from its checkpoint instead of re-seeding.

    ``keep_alarms=True``: alarms scheduled past ``end`` are NOT
    dropped — each state row pickles ``(state, pending_heap, order,
    fired)`` (the streaming alarm engine's blob, one pickle so handles
    stored in the state dict keep their heap identity), and
    ``run_node_stream(alarms=True, initial_states=...)`` resumes them:
    pending alarms fire live at their scheduled times and alarm-cycle
    seq numbering continues where the replay stopped. Only the
    alarms=True streaming runner accepts this shape.
    """
    if keep_alarms and end is None:
        raise ValueError(
            "keep_alarms=True needs end= (the handover boundary): "
            "without it the trailing drain fires EVERY pending alarm "
            "in the replay and nothing would be left to hand over"
        )
    streams = (
        {"x": inputs} if isinstance(inputs, TickStream) else dict(inputs)
    )
    names = list(streams)
    wide = align(streams, keep_ticked=True)
    mk_state = _state_factory(state)
    schema = (
        f"{KEY} string, {TS} timestamp, {SEQ} long, {VALUE} {output_type}, "
        "__state binary"
    )
    runner = _keyed_runner(
        fn, names, mk_state, multi=None, end=end, emit_state=True,
        keep_alarms=keep_alarms,
    )

    from pyspark.sql import functions as F

    combined = _per_key_pandas(_flag_nulls(wide, names), runner, schema)
    combined = _materialize(combined, "run_node_with_states: ticks and states")
    ticks = TickStream(
        combined.filter(F.col(SEQ) != STATE_SEQ).select(KEY, TS, SEQ, VALUE)
    )
    states = combined.filter(F.col(SEQ) == STATE_SEQ).select(
        KEY, F.col("__state").alias("state")
    )
    return ticks, states

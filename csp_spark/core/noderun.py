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
from collections.abc import Mapping
from typing import Any, Callable

import pandas as pd

from .align import _ticked as _ticked_col
from .align import align
from .ticks import KEY, SEQ, TS, VALUE, TickStream

#: return this from a node function to emit nothing this cycle
#: (returning None does the same — reference nodes tick only on
#: ``return``/``csp.output``)
NO_OUTPUT = object()

#: internal marker distinguishing "not an alarm cycle" from an alarm
#: whose scheduled VALUE is None (a legal payload)
_NO_ALARM = object()

#: seq base for synthetic alarm cycles — orders them after any
#: coincident input cycle at the same timestamp
_ALARM_SEQ_BASE = 1 << 40

#: per-key cap on alarm cycles (guards a node that reschedules itself
#: forever against an unbounded loop; reference runs are bounded by
#: endtime the same way)
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

    Note: inputs arrive as pandas scalars; a float input that is not
    yet valid reads as NaN AND valid()==False — a stream that ticks
    literal NaN values is indistinguishable from invalid here (use
    drop_nans upstream if that matters).
    """

    __slots__ = ("now", "seq", "state", "_alarm", "_vals", "_ticked", "_rt")

    def __init__(self, now, seq, state, vals, ticked, rt, alarm=_NO_ALARM):
        self.now = now
        self.seq = seq
        self.state = state
        self._alarm = alarm
        self._vals = vals
        self._ticked = ticked
        self._rt = rt  # runtime: the per-key alarm heap closure

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


def _per_key_pandas(df, fn, schema):
    """The one keyed pandas runner behind every per-key Python fold
    (node runners, dynamic_apply, feedback_scan, exprtk state vars,
    the EMA family, basket trigger selection). It states three rules
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
      windows) reuses that exchange.

    ``fn(pdf, by_key)`` gets the partition frame and its
    ``groupby(KEY)`` and returns the output frame (or None for no
    rows) matching ``schema``."""

    def run(batches):
        # an empty partition still invokes run, with no batches
        chunks = [b for b in batches if len(b)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        out = fn(pdf, pdf.groupby(KEY, sort=False, dropna=False))
        if out is not None and len(out):
            yield out

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


def _keyed_runner(fn, names, mk_state, multi, end, emit_state,
                  on_start=None, start_ts=None, has_seed=False,
                  on_stop=None, keep_alarms=False):
    """The per-key cycle engine shared by run_node and
    run_node_with_states: input cycles in (ts, seq) order, alarm heap
    merged in, optional terminal-state row (pickled) appended. Runs
    under _per_key_pandas: each key's cycles run sequentially inside
    the partition loop."""
    import pickle

    def _run(pdf: pd.DataFrame, by_key) -> pd.DataFrame:
        out = []
        # columns extracted ONCE per partition, sliced per key by the
        # groupby's positional indices: building 5+ pandas column
        # objects per KEY (frame __getitem__ + block _chop) was most
        # of runner time at 1.5k keys per pandas call. Positional
        # .array / fancy-indexed ExtensionArrays keep pandas value
        # semantics (pd.NaT, np.float64) without Series indexing.
        keys_all = pdf[KEY].array
        tss_all = pdf[TS].array
        seqs_all = pdf[SEQ].to_numpy()
        tcols_all = {n: pdf[_ticked_col(n)].to_numpy() for n in names}
        vcols_all = {n: pdf[n].array for n in names}
        # .indices yields each key's positional array, increasing
        # within the key — engine order
        for idx in by_key.indices.values():
            _one_key(
                keys_all[idx[0]],
                tss_all[idx], seqs_all[idx],
                {n: a[idx] for n, a in tcols_all.items()},
                {n: a[idx] for n, a in vcols_all.items()},
                out,
            )
        if multi:
            cols = [KEY, TS, SEQ]
            for n in multi:
                cols.extend((n, f"{n}__t"))
            return pd.DataFrame(out, columns=cols)
        if emit_state:
            return pd.DataFrame(out, columns=[KEY, TS, SEQ, VALUE, "__state"])
        return pd.DataFrame(out, columns=[KEY, TS, SEQ, VALUE])

    def _one_key(key, tss, seqs, tcols, vcols, out: list) -> None:
        st = mk_state()
        if has_seed:
            # drop group-seed rows (they only exist to materialize an
            # otherwise-empty group for a start-alarm-driven node)
            live = seqs != _START_SEED_SEQ
            if not live.all():
                tss, seqs = tss[live], seqs[live]
                tcols = {n: a[live] for n, a in tcols.items()}
                vcols = {n: a[live] for n, a in vcols.items()}
        n_rows = len(seqs)

        heap: list = []  # (alarm_ts, order, handle)
        order = [0]

        def _schedule(ats, value):
            handle = {"alive": True, "value": value, "ts": ats}
            order[0] += 1
            heapq.heappush(heap, (pd.Timestamp(ats), order[0], handle))
            return handle

        state_pad = (None,) if emit_state else ()
        from .record import Struct as _Struct

        def _conv(v):
            # Struct outputs cross the Arrow boundary as dicts
            return v.to_dict() if isinstance(v, _Struct) else v

        def _emit(cyc, r):
            if r is NO_OUTPUT or r is None:
                return
            if multi:
                row = [key, cyc.now, cyc.seq]
                for n in multi:
                    row.extend((_conv(r.get(n)), n in r))
                out.append(tuple(row))
            else:
                out.append((key, cyc.now, cyc.seq, _conv(r)) + state_pad)

        last_vals = {n: None for n in names}
        fired = [0]

        if on_start is not None and (n_rows or start_ts is not None):
            # csp.start() analog: one synthetic cycle BEFORE any input,
            # at the engine start time when given (else the key's first
            # tick) — alarms it schedules enter the heap ahead of
            # cycle 1, so a start+0 alarm fires before the first input
            cyc0 = NodeCycle(
                pd.Timestamp(start_ts) if start_ts is not None else tss[0],
                -1, st, dict(last_vals), {}, _schedule,
            )
            on_start(cyc0)

        def _fire_alarms(limit_ts):
            """Fire due alarms strictly before limit_ts (None = all)."""
            while heap and fired[0] < _MAX_ALARM_CYCLES:
                ats, _, handle = heap[0]
                if not handle["alive"]:
                    heapq.heappop(heap)
                    continue
                if limit_ts is not None and ats >= limit_ts:
                    break
                if end is not None and ats > pd.Timestamp(end):
                    if keep_alarms:
                        # handover mode: alarms scheduled past the
                        # engine end stay pending (ats order => the
                        # whole remaining heap is past end)
                        break
                    heapq.heappop(heap)
                    continue
                heapq.heappop(heap)
                fired[0] += 1
                cyc = NodeCycle(
                    ats, _ALARM_SEQ_BASE + fired[0], st,
                    dict(last_vals), {}, _schedule, alarm=handle["value"],
                )
                _emit(cyc, fn(cyc))

        for i in range(n_rows):
            ts_i = tss[i]
            _fire_alarms(ts_i)
            vals = {}
            for n in names:
                v = vcols[n][i]
                vals[n] = None if v is pd.NaT else v
            last_vals = vals
            cyc = NodeCycle(
                ts_i, int(seqs[i]), st, vals,
                {n: tcols[n][i] for n in names}, _schedule,
            )
            _emit(cyc, fn(cyc))
        _fire_alarms(None)  # trailing alarms (bounded by end/cap)
        if on_stop is not None:
            # csp.stop() analog: one finalizer cycle per key after
            # everything fired — side effects + state reads only
            stop_ts = (
                pd.Timestamp(end) if end is not None
                else (tss[n_rows - 1] if n_rows else
                      pd.Timestamp(start_ts) if start_ts is not None
                      else None)
            )
            on_stop(NodeCycle(
                stop_ts, _ALARM_SEQ_BASE + fired[0] + 1, st,
                dict(last_vals), {}, _schedule,
            ))
        if emit_state:
            final_ts = tss[n_rows - 1] if n_rows else None
            if keep_alarms:
                # ONE pickle of the typed handoff record so handle
                # identity crosses the handover; dead handles at the
                # head are dropped here, not at the consumer. Last
                # input values cross too (alarm cycles read inputs) —
                # coerced to the streaming runner's double channel.
                while heap and not heap[0][2]["alive"]:
                    heapq.heappop(heap)

                def _dbl(v):
                    try:
                        return None if v is None else float(v)
                    except (TypeError, ValueError):
                        return None

                payload = pickle.dumps(AlarmHandoff(
                    st, heap, order[0], fired[0],
                    {n: _dbl(v) for n, v in last_vals.items()},
                ))
            else:
                payload = pickle.dumps(st)
            out.append((key, final_ts, STATE_SEQ, None, payload))

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
    res = _per_key_pandas(wide, runner, schema)
    if multi:
        from pyspark.sql import functions as F

        # Checkpoint the combined frame before slicing per output —
        # without it each returned TickStream would re-execute the
        # whole pandas node run on action (N full executions of
        # the user's fn), mirroring run_node_with_states below.
        res = res.localCheckpoint(eager=False)
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
    # linear (one cached job per node at first action, nothing runs if
    # the output is never used).
    return TickStream(res.localCheckpoint(eager=False))


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

    combined = _per_key_pandas(wide, runner, schema)
    combined = combined.localCheckpoint(eager=False)
    ticks = TickStream(
        combined.filter(F.col(SEQ) != STATE_SEQ).select(KEY, TS, SEQ, VALUE)
    )
    states = combined.filter(F.col(SEQ) == STATE_SEQ).select(
        KEY, F.col("__state").alias("state")
    )
    return ticks, states

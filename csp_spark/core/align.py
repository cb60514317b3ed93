"""The align / as-of kernel — THE core primitive (SURVEY.md §7.1).

csp's fundamental semantic is last-value persistence: any node reading
input ``x`` sees x's most recent value, and binary ops fire when either
input ticks but only once **both are valid** (csp/math.py:253-255
``if csp.valid(x, y): return op(x, y)``; csp/baselib.py:290 ``sample``).

Spark-first realization: union all input streams into one long frame
tagged by source, then ``last(col, ignorenulls=True)`` over the engine
order ``(ts, seq, src)`` per key. One shuffle (by key) serves the whole
aligned frame; every downstream element-wise op is a column expression
inside the same stage (whole-stage codegen, no further exchange).

Scale note: the window is partitioned by ``key``, so alignment is
embarrassingly parallel over keys — the 100 TB path keys by symbol /
entity. Unkeyed (or skewed-hot-key) streams collapse to one partition
here; the escape hatches live in core.unkeyed: ``running_unkeyed``
(two-pass prefix plan) for running aggregates, ``windowed_unkeyed``
(tail replication) for fixed tick/time windows, ``windowed_hot_keys``
to route a skewed key set through that plan while normal keys keep the
plain keyed window, and ``ema_unkeyed`` (affine scan) for the EMA
recursion. Non-associative unkeyed ops beyond these remain sequential
by semantics — as they are in the reference's single-threaded engine.
"""

from __future__ import annotations

import datetime as _dt
from functools import reduce
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ticks import KEY, SEQ, TS, GLOBAL_KEY, TickStream

#: tag column identifying which input stream produced a row
SRC = "__src"


def _ticked(name: str) -> str:
    return f"{name}__ticked"


class PassiveTickStream(TickStream):
    """A stream marked passive for align consumers (csp.make_passive,
    builtin_functions.py:67-104): its ticks still update the last-value
    columns but no longer produce output cycles of their own."""

    __slots__ = ()


def make_passive(x: TickStream) -> TickStream:
    """csp.make_passive: downstream align()s stop emitting rows for
    this input's ticks; its values keep flowing as last-values (the
    reference's 'passive inputs don't wake the node' rule)."""
    return PassiveTickStream(x.df, x.value_col)


def make_active(x: TickStream) -> TickStream:
    """csp.make_active: undo make_passive."""
    return TickStream(x.df, x.value_col)


def align(
    streams: Mapping[str, TickStream],
    keep_ticked: bool = True,
) -> DataFrame:
    """Union-align streams to a wide last-value frame.

    Returns a DataFrame with one row per tick of ANY input, columns::

        key, ts, seq, <name> (last value of that stream, NULL until its
        first tick = csp 'not yet valid'), <name>__ticked (bool)

    Ties: two streams ticking at the same (ts, seq) are the SAME engine
    cycle — csp delivers both updates before dependent nodes execute
    (docs/wiki/concepts/Execution-Modes.md:54-118), so the aligned frame
    collapses them into ONE row carrying both new values, with both
    __ticked flags true. Distinct cycles at one timestamp differ in seq
    and stay distinct rows.

    The windows partition by KEY alone, so the frame leaves hash-
    partitioned by KEY: a keyed consumer that repartitions by KEY next
    (the node runners' ``repartition(KEY)``) reuses this one exchange
    instead of shuffling the wide frame again.
    """
    names = list(streams)
    # wiring-time diagnostics (reference type-resolver parity): a
    # miswired stream fails HERE with a csp-style message, not at
    # action time with a Spark analysis error. Schema-only, no job.
    from .wiring import check_tick_stream

    for n, s in streams.items():
        check_tick_stream(s, "align", n)
    parts: list[DataFrame] = []
    dtypes = {n: dict(s.df.dtypes)[s.value_col] for n, s in streams.items()}
    for i, (name, s) in enumerate(streams.items()):
        cols: list[Column] = [
            F.col(KEY),
            F.col(TS),
            F.col(SEQ),
            F.lit(i).alias(SRC),
        ]
        for j, other in enumerate(names):
            if j == i:
                cols.append(F.col(s.value_col).alias(other))
            else:
                cols.append(F.lit(None).cast(dtypes[other]).alias(other))
        parts.append(s.df.select(*cols))
    u = reduce(lambda a, b: a.unionByName(b), parts)

    w = (
        Window.partitionBy(KEY)
        .orderBy(TS, SEQ, SRC)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # same (key, ts, seq) = same engine cycle: keep only the final row of
    # the cycle (it has seen every same-cycle update via the running
    # last()) and OR the ticked flags across the cycle's rows
    w_cycle = Window.partitionBy(KEY, TS, SEQ)
    out_cols: list[Column] = [F.col(KEY), F.col(TS), F.col(SEQ)]
    for i, name in enumerate(names):
        out_cols.append(F.last(name, ignorenulls=True).over(w).alias(name))
        if keep_ticked:
            out_cols.append(
                F.max((F.col(SRC) == i).cast("int")).over(w_cycle).cast("boolean")
                .alias(_ticked(name))
            )
    passive = [
        i for i, s in enumerate(streams.values())
        if isinstance(s, PassiveTickStream)
    ]
    if passive and len(passive) == len(names):
        # every input passive = a node that never wakes (reference:
        # a node whose inputs are all passive gets no cycles at all)
        return u.select(*out_cols).filter(F.lit(False))
    if passive:
        # passive inputs update last-values but emit no cycles of their
        # own: keep only cycles where some ACTIVE stream ticked
        active_tick = reduce(
            lambda c, i: c | F.max(
                (F.col(SRC) == i).cast("int")
            ).over(w_cycle).cast("boolean"),
            [i for i in range(len(names)) if i not in passive],
            F.lit(False),
        )
        out_cols.append(active_tick.alias("__active_tick"))
    # final row of the cycle = the max-SRC row (each source contributes
    # at most one row per (key, ts, seq) — seq is unique within a
    # stream — so SRC values are distinct inside a cycle group and this
    # picks exactly the row the former row_number()-desc-over-SRC
    # picked). max(SRC) shares w_cycle's (partition, order) spec with
    # the __ticked flags above, so it folds into the SAME Window
    # operator instead of paying its own Window pass + descending
    # re-sort (guide §2.4).
    out = u.select(
        *out_cols,
        (F.col(SRC) == F.max(SRC).over(w_cycle)).alias("__cycle_last"),
    )
    out = out.filter(F.col("__cycle_last")).drop("__cycle_last")
    if passive:
        out = out.filter(F.col("__active_tick")).drop("__active_tick")
    return out


def ticked(name: str) -> Column:
    """csp.ticked(x) over an align() frame (reference
    csp/impl/builtin_functions.py:29-47): TRUE on rows where stream
    ``name`` produced an update in this engine cycle."""
    return F.col(_ticked(name))


def valid(name: str) -> Column:
    """csp.valid(x) over an align() frame (builtin_functions.py:48-66):
    TRUE once stream ``name`` has ticked at least once (its last-value
    column is non-NULL — align encodes 'never ticked' as NULL)."""
    return F.col(name).isNotNull()


def now() -> Column:
    """csp.now() (builtin_functions.py:305-310): the engine-cycle time —
    in the tick-table encoding, simply the row's ts column."""
    return F.col(TS)


def sample(trigger: TickStream, x: TickStream) -> TickStream:
    """csp.sample parity (csp/baselib.py:290-298): value of ``x`` at each
    trigger tick; no output while x is invalid (never ticked)."""
    a = align({"__trig": trigger, "__x": x})
    out = (
        a.filter(F.col(_ticked("__trig")) & F.col("__x").isNotNull())
        .select(KEY, TS, SEQ, F.col("__x").alias("value"))
    )
    return TickStream(out)


def binary_op(x: TickStream, y: TickStream, fn, result_name: str = "value") -> TickStream:
    """Valid-gated binary combine — csp math-op semantics
    (csp/math.py:234-303): fires on either input's tick, emits
    fn(last_x, last_y) once both are valid."""
    a = align({"__x": x, "__y": y}, keep_ticked=False)
    out = (
        a.filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .select(
            KEY, TS, SEQ, fn(F.col("__x"), F.col("__y")).alias(result_name)
        )
    )
    return TickStream(out, result_name)


def align_wide(streams: Mapping[str, TickStream]) -> DataFrame:
    """align() then drop rows before all inputs are valid — the frame on
    which struct_fromts (csp/baselib.py:684-701) and multi-input stats
    operate."""
    a = align(streams, keep_ticked=True)
    cond = reduce(
        lambda c, n: c & F.col(n).isNotNull(), list(streams), F.lit(True)
    )
    return a.filter(cond)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = TS,
    right_ts: str = TS,
    right_cols: Sequence[str] | None = None,
    tolerance=None,
    direction: str = "backward",
) -> DataFrame:
    """General as-of join — the relational face of the align kernel,
    exposed for table-shaped callers, with pandas merge_asof's three
    directions: ``backward`` (latest right with right_ts <= left_ts,
    the csp last-value rule), ``forward`` (earliest right with
    right_ts >= left_ts), ``nearest`` (closer of the two in absolute
    time; exact ties resolve backward, matching pandas).

    Implemented as union+window rather than range-join so that one
    key-shuffle serves arbitrarily many right columns; Catalyst cannot
    express this plan itself (nearest adds a second window over the
    SAME partitioning, so it still costs one shuffle). ``tolerance``
    (timedelta) bounds the match distance per direction (csp has no
    tolerance; pandas merge_asof parity for pipeline users).
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward/forward/nearest, got {direction!r}"
        )
    right_cols = list(
        right_cols
        if right_cols is not None
        else [c for c in right.columns if c not in (*on, right_ts)]
    )
    lpart = left.select(
        *[F.col(c) for c in on],
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
        F.lit(None).cast(
            right.select(F.struct(*[F.col(c) for c in right_cols], F.col(right_ts).alias("__rts")).alias("s")).schema["s"].dataType
        ).alias("__rrow"),
    )
    rpart = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(
            left.select(F.struct(*[F.col(c) for c in left.columns]).alias("s")).schema["s"].dataType
        ).alias("__lrow"),
        F.struct(*[F.col(c) for c in right_cols], F.col(right_ts).alias("__rts")).alias("__rrow"),
    )
    u = lpart.unionByName(rpart)
    tol = (
        # integer microseconds: float total_seconds() renders sub-100µs
        # tolerances in scientific notation, which the INTERVAL literal
        # parser rejects (delay/timer use the same µs form)
        F.expr(
            f"INTERVAL {tolerance // _dt.timedelta(microseconds=1)} "
            "MICROSECONDS"
        )
        if tolerance is not None
        else None
    )
    if direction in ("backward", "nearest"):
        # right (0) sorts before left (1) at equal __t → exact matches
        wb = (
            Window.partitionBy(*on)
            .orderBy("__t", F.col("__is_left").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        u = u.withColumn("__rb", F.last("__rrow", ignorenulls=True).over(wb))
    if direction in ("forward", "nearest"):
        # left (1) sorts before right (0) at equal __t → the forward
        # window starting at the current row still sees exact matches
        wf = (
            Window.partitionBy(*on)
            .orderBy("__t", F.col("__is_left").desc())
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        u = u.withColumn("__rf", F.first("__rrow", ignorenulls=True).over(wf))
    matched = u.filter(F.col("__is_left") == 1)
    if direction == "backward":
        r = F.col("__rb")
        if tol is not None:
            r = F.when(F.col("__rb.__rts") >= F.col("__t") - tol, r)
    elif direction == "forward":
        r = F.col("__rf")
        if tol is not None:
            r = F.when(F.col("__rf.__rts") <= F.col("__t") + tol, r)
    else:  # nearest: tolerance bounds each candidate, then pick closer
        rb, rf = F.col("__rb"), F.col("__rf")
        if tol is not None:
            rb = F.when(F.col("__rb.__rts") >= F.col("__t") - tol, rb)
            rf = F.when(F.col("__rf.__rts") <= F.col("__t") + tol, rf)
        # timestamp subtraction → DayTimeInterval, directly comparable
        # (works for both TIMESTAMP and TIMESTAMP_NTZ columns)
        back_dist = F.col("__t") - rb["__rts"]
        fwd_dist = rf["__rts"] - F.col("__t")
        r = (
            F.when(rb.isNull(), rf)
            .when(rf.isNull(), rb)
            .when(back_dist <= fwd_dist, rb)  # tie → backward (pandas)
            .otherwise(rf)
        )
    matched = matched.withColumn("__r", r)
    sel = [F.col(f"__lrow.{c}").alias(c) for c in left.columns]
    sel += [F.col(f"__r.{c}").alias(c) for c in right_cols]
    return matched.select(*sel)

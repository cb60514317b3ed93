"""Hybrid replay→live execution — csp's signature run mode.

Reference semantics being mapped: one engine run simulates history
from ``starttime`` and then switches to wall-clock realtime on the
SAME graph (cpp/csp/engine/RootEngine.cpp:150-237); adapters feed the
splice with PushPullInputAdapter (csp/impl/pushpulladapter.py) —
replay a history channel, then hand over to the live channel, state
carried across; the Kafka adapter replays backlog via ``start_offset``
then goes live (csp/adapters/kafka.py:39-191).

Spark-native realization: the engine already has every operator in
batch form (core/align, stats) and streaming form (streaming/ops)
over ONE tick schema, equality-tested against each other. A hybrid
run is therefore a state splice:

1. execute the BATCH plan over history — the replay phase, Catalyst
   optimized, arbitrarily large (this is where 100 TB of backlog is
   processed, massively parallel, not row-by-row through a stream);
2. extract each stateful kernel's TERMINAL per-key state from the
   batch result (last values for align; the final EMA and its decayed
   weight for ema; the last window-1 rows for rolling);
3. SEED the live stream with one synthetic tick per (key, source)
   carrying that state at the switch boundary, tagged
   ``seq = SEED_SEQ`` (< 0): the stateful fold sorts each batch by
   ``(ts, seq)``, so seeds fold BEFORE any live row and reconstruct
   the state store exactly; seed echo rows are filtered from output;
4. run the streaming plan over ``seeds ∪ live`` — its output
   continues the batch run's values as if one engine had processed
   the entire history.

Why seed rows rather than the state-store ``initialState`` API:
``transformWithStateInPandas(initialState=...)`` is the direct form,
but it requires the protobuf runtime (not present in every
deployment, including this build environment) and would pin the
kernels to a second stateful API. Seed injection reproduces csp's
actual adapter mechanism — PushPull delivers replay rows then live
rows through ONE channel — using the existing
``applyInPandasWithState`` kernels unchanged, and composes with any
live source (file drops, Kafka, socket): the seed source is just one
more streaming input union'd in. The in-order contract is the same
one the kernels already require: live rows must carry ``ts`` at or
after the switch boundary.
"""

from __future__ import annotations

import datetime as _dt
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.align import align
from ..core.ticks import KEY, SEQ, TS, VALUE, TickStream
from ..stats.ema import ema
from .ops import align_stream, ema_stream
from .sources import _write_once_source

#: seq tag for state-seed ticks: sorts before every real tick of the
#: same boundary timestamp, and identifies seed echoes for filtering.
SEED_SEQ = -1

#: seq shift for seeds that replay history rows: keeps their relative
#: order and puts every one below seq 0, where live output filters
_TAIL_SHIFT = 1_000_000_000_000


def terminal_last_values(history: DataFrame, value_col: str = VALUE) -> DataFrame:
    """Per-key terminal state of the last-value kernel over a batch
    tick table: the newest non-null value by engine order ``(ts, seq)``.
    One hash-aggregate (max_by) — no window, no sort, scales to any
    history size."""
    return (
        history.filter(F.col(value_col).isNotNull())
        .groupBy(KEY)
        .agg(F.max_by(value_col, F.struct(TS, SEQ)).alias(VALUE))
    )


def seed_ticks(
    spark: SparkSession,
    seeds: DataFrame,
    boundary: _dt.datetime,
    directory: str | None = None,
) -> DataFrame:
    """Materialize ``(key, value)`` seed state as a one-file streaming
    source of ticks at the switch boundary with ``seq = SEED_SEQ``.
    The file is written once, atomically, before the stream starts —
    it is always part of the first microbatch."""
    return _write_once_source(spark, seeds.select(
        F.col(KEY).cast("string").alias(KEY),
        F.lit(boundary).cast("timestamp").alias(TS),
        F.lit(SEED_SEQ).cast("long").alias(SEQ),
        F.col(VALUE),
    ), directory)


def spliced(seed_stream: DataFrame, live: DataFrame) -> DataFrame:
    """The replay→live channel: seed ticks union'd ahead of the live
    stream (PushPullInputAdapter's one-channel handover)."""
    return seed_stream.unionByName(live.select(KEY, TS, SEQ, VALUE))


def run_hybrid_align(
    histories: Mapping[str, DataFrame],
    lives: Mapping[str, DataFrame],
    boundary: _dt.datetime,
) -> tuple[DataFrame, DataFrame]:
    """Replay→live for the align (last-value frame) kernel.

    Returns ``(replay_frame, live_frame)``: the batch align over
    history, and the streaming align over the live sources whose
    state store was seeded with each source's terminal last values —
    the first live row already sees every pre-boundary value, exactly
    as if one engine had run start→now (RootEngine.cpp:150-237).
    ``histories`` and ``lives`` share source names; a source with no
    history contributes no seed (streams start 'not yet valid')."""
    if set(histories) != set(lives):
        raise ValueError(
            f"history/live source names differ: "
            f"{sorted(histories)} vs {sorted(lives)}"
        )
    replay = align({n: TickStream(h) for n, h in histories.items()})
    spark = next(iter(lives.values())).sparkSession
    spliced_lives = {}
    for name in lives:
        seeds = terminal_last_values(histories[name])
        spliced_lives[name] = spliced(seed_ticks(spark, seeds, boundary), lives[name])
    out = align_stream(spliced_lives)
    # drop the seed echo cycle; live rows keep seq >= 0
    return replay, out.filter(F.col(SEQ) != SEED_SEQ)


def seed_history_tail(
    spark: SparkSession,
    history: DataFrame,
    rows_per_key: int,
    directory: str | None = None,
) -> DataFrame:
    """Seed stream carrying each key's LAST ``rows_per_key`` history
    ticks with their original timestamps and seqs shifted far negative
    (relative order preserved, every seed sorts before any live row
    and is filterable by ``seq < 0``) — the window-state analogue of
    :func:`seed_ticks`: kernels whose state is a value ring rebuild it
    by folding the actual tail rows."""
    from pyspark.sql import Window

    wdesc = Window.partitionBy(KEY).orderBy(F.desc(TS), F.desc(SEQ))
    tail = (
        history.withColumn("__rn", F.row_number().over(wdesc))
        .filter(F.col("__rn") <= rows_per_key)
        .drop("__rn")
        .select(
            KEY, TS,
            (F.col(SEQ) - _TAIL_SHIFT).alias(SEQ),
            VALUE,
        )
    )
    return _write_once_source(spark, tail, directory)


def run_hybrid_rolling(
    history: DataFrame,
    live: DataFrame,
    window: int,
    boundary: _dt.datetime,
) -> tuple[DataFrame, DataFrame]:
    """Replay→live for the trailing-``window``-tick rolling kernel
    (streaming/ops.rolling_tick_stats_stream): the replay half is the
    batch keyed window over history; the live stream's ring state is
    seeded with each key's last ``window-1`` HISTORY ROWS (the ring IS
    those values), so the first live tick's window already spans the
    boundary. ``boundary`` clips history to ts < boundary (the same
    handover instant the sibling kernels stamp their seeds with), so
    a history frame that overlaps the live side cannot double-count.
    Live output equals a pure-batch run over history ∪ live."""
    from pyspark.sql import Window

    from .ops import rolling_tick_stats_stream

    history = history.filter(F.col(TS) < F.lit(boundary))
    w = (
        Window.partitionBy(KEY)
        .orderBy(TS, SEQ)
        .rowsBetween(-(window - 1), 0)
    )
    # NaN-skipping, as the live ring is
    v = F.nanvl(F.col(VALUE), F.lit(None).cast("double"))
    replay = history.select(
        KEY, TS, SEQ,
        F.count(v).over(w).alias("roll_count"),
        F.sum(v).over(w).alias("roll_sum"),
        F.avg(v).over(w).alias("roll_mean"),
        F.min(v).over(w).alias("roll_min"),
        F.max(v).over(w).alias("roll_max"),
    )
    spark = live.sparkSession
    seeds = seed_history_tail(spark, history, window - 1)
    out = rolling_tick_stats_stream(
        spliced(seeds, live), window
    )
    return replay, out.filter(F.col(SEQ) >= 0)


def run_hybrid_ema(
    history: DataFrame,
    live: DataFrame,
    alpha: float,
    boundary: _dt.datetime,
) -> tuple[DataFrame, DataFrame]:
    """Replay→live for the recursive EMA kernel (adjust=False).

    The live fold's state after the replay is ``(ema, w)``: the
    terminal EMA and its weight, 1 at a key's last observation and
    decayed by ``1 - alpha`` at each NULL/NaN tick after it. The seed
    stream rebuilds both by folding them: each key's history from its
    last observation on, that first row carrying the terminal EMA, seqs
    shifted below 0 as in :func:`seed_history_tail`. ``boundary``
    clips history to ts < boundary, as in :func:`run_hybrid_rolling`.
    The live output equals one batch ``ema(adjust=False)`` over
    history ∪ live."""
    from pyspark.sql import Window

    history = history.filter(F.col(TS) < F.lit(boundary))
    replay = ema(TickStream(history), alpha=alpha, adjust=False).df
    at = F.struct(TS, SEQ)
    seen = F.col(VALUE).isNotNull() & ~F.isnan(VALUE)
    last_seen = F.max(F.when(seen, at)).over(Window.partitionBy(KEY))
    terminal = terminal_last_values(replay).select(
        F.col(KEY).alias("__k"), F.col(VALUE).alias("__ema"))
    tail = (
        history.withColumn("__o", last_seen)
        .filter(at >= F.col("__o"))
        .join(terminal, F.col(KEY).eqNullSafe(F.col("__k")))
        .select(
            F.col(KEY).cast("string").alias(KEY), TS,
            (F.col(SEQ) - _TAIL_SHIFT).alias(SEQ),
            F.when(at == F.col("__o"), F.col("__ema")).alias(VALUE),
        )
    )
    spark = live.sparkSession
    out = ema_stream(spliced(_write_once_source(spark, tail), live), alpha)
    return replay, out.filter(F.col(SEQ) >= 0)


def run_hybrid_node(
    fn,
    histories: "Mapping[str, DataFrame] | DataFrame",
    lives: "Mapping[str, DataFrame] | DataFrame",
    state: "dict | Callable[[], dict] | None" = None,
    output_type: str = "double",
    alarms: bool = False,
    end: "_dt.datetime | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """Replay→live for IMPERATIVE nodes (core/noderun.run_node): the
    batch runner replays history and hands each key's terminal state
    dict to the streaming runner, whose first live cycle continues the
    node exactly where replay ended — the @csp.node analog of the
    kernel splices above.

    Returns ``(replay_ticks, live_ticks)``. Unlike the align/ema/
    rolling splices (whose state rides seed TICKS through the value
    channel), a node's state is an arbitrary Python dict — it travels
    as pickled bytes via ``run_node_stream(initial_states=...)``, one
    row per key collected at the handover (documented driver action;
    unbounded key cardinality should instead keep the streaming query
    running from its checkpoint). Note the live fold starts 'not yet
    valid' on inputs: only the node's STATE crosses the boundary, so
    a node reading last-values it never stored must re-observe them
    (store what you need in state — same contract as a csp node
    restarting from a snapshot).

    ``alarms=True`` (+ ``end`` = the handover boundary): the replay
    keeps alarms pending past ``end`` (run_node_with_states
    keep_alarms) and the live runner resumes them
    (run_node_stream(alarms=True)) — pending alarms, handle
    cancellation, seq numbering, and the replay's last input values
    all cross the boundary.
    """
    from ..core.noderun import run_node_with_states
    from .ops import run_node_stream

    hmap = {"x": histories} if isinstance(histories, DataFrame) else dict(histories)
    lmap = {"x": lives} if isinstance(lives, DataFrame) else dict(lives)
    if set(hmap) != set(lmap):
        raise ValueError(
            f"history/live source names differ: {sorted(hmap)} vs {sorted(lmap)}"
        )
    replay, states = run_node_with_states(
        fn,
        {n: TickStream(h) for n, h in hmap.items()},
        state=state,
        output_type=output_type,
        end=end,
        keep_alarms=alarms,
    )
    live = run_node_stream(
        fn, lmap, state=state, output_type=output_type,
        initial_states=states, alarms=alarms,
    )
    return replay.df, live

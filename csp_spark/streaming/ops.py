"""Streaming operators: PushModes, watermarked window stats, per-tick
stateful folds.

Reference semantics being mapped (SURVEY.md §2.8):

- PushMode.LAST_VALUE / BURST / NON_COLLAPSING
  (csp/impl/types/common_definitions.py:274-289): how a realtime
  adapter's backlog collapses into engine cycles. Spark microbatches
  play the role of the backlog drain: LAST_VALUE keeps only the newest
  row per (key, bucket), BURST emits the queued list, NON_COLLAPSING is
  the raw stream with (ts, seq) order preserved.
- csp has NO watermarks (adapters deliver in order); Structured
  Streaming needs them for state cleanup, so every windowed op takes an
  explicit ``watermark`` (documented semantic delta).
- csp.stats in realtime = same rolling semantics driven by wall clock;
  here: watermarked sliding windows (groupBy window()) for time-bucket
  stats.
- Per-tick state — the trailing-tick ring, align's last values, the
  EMA recursion (statsimpl.h:1473) and imperative nodes with alarms —
  lives in the state store. Every such fold runs on ONE keyed runner,
  ``_stateful_by_key`` (applyInPandasWithState), and equals its batch
  twin on the same ticks, NULL and NaN ticks included.
"""

from __future__ import annotations

import copy as _copy
import datetime as _dt
import pickle
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from ..core.ticks import KEY, SEQ, TS, VALUE
from ..sources.parquet import read_table


def _iv(td: _dt.timedelta) -> str:
    # exact integer microseconds: float seconds render sub-100µs
    # intervals in scientific notation, which Spark's interval parser
    # accepts but resolves to a DEGENERATE window/session gap that
    # silently drops every row (probed on session_window)
    return f"{td // _dt.timedelta(microseconds=1)} microseconds"


def with_watermark(x: DataFrame, delay: _dt.timedelta) -> DataFrame:
    return x.withWatermark(TS, _iv(delay))


def conflate_last_value(
    x: DataFrame, bucket: _dt.timedelta, watermark: _dt.timedelta | None = None
) -> DataFrame:
    """PushMode.LAST_VALUE: within each (key, bucket) keep the newest
    value by (ts, seq). Emits (key, ts=bucket end, seq=0, value)."""
    src = with_watermark(x, watermark or bucket)
    out = (
        src.groupBy(F.window(TS, _iv(bucket)).alias("__w"), KEY)
        .agg(F.max_by(VALUE, F.struct(TS, SEQ)).alias(VALUE))
        .select(
            KEY,
            F.col("__w.end").alias(TS),
            F.lit(0).cast("long").alias(SEQ),
            VALUE,
        )
    )
    return out


def dedup_stream(
    x: DataFrame,
    cols: list[str],
    watermark: _dt.timedelta,
    within_watermark: bool = True,
) -> DataFrame:
    """Streaming exact deduplication: keep the FIRST row per `cols`
    value — the streaming counterpart of dedup.dedup_exact for a live
    document/event feed (dedup on a fingerprint column, e.g.
    ``F.xxhash64(normalize(text))``, computed upstream).

    State design for an unbounded corpus: with within_watermark=True
    (default) Spark keeps a seen-set entry only until the watermark
    passes it (``dropDuplicatesWithinWatermark``) — state is bounded
    by the watermark horizon, so the stream runs forever; duplicates
    separated by more than the horizon are NOT collapsed (document the
    horizon as the dedup guarantee). within_watermark=False uses
    ``dropDuplicates`` — exact across the whole stream but state grows
    with distinct keys; only for bounded runs."""
    src = with_watermark(x, watermark)
    if within_watermark:
        return src.dropDuplicatesWithinWatermark(cols)
    return src.dropDuplicates(cols)


def burst_stream(
    x: DataFrame, bucket: _dt.timedelta, watermark: _dt.timedelta | None = None
) -> DataFrame:
    """PushMode.BURST: each (key, bucket) emits the list of queued
    values in engine order (csp burst delivers List[T] in one tick)."""
    src = with_watermark(x, watermark or bucket)
    return (
        src.groupBy(F.window(TS, _iv(bucket)).alias("__w"), KEY)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(TS, SEQ, F.col(VALUE).alias("v")))
            ).alias("__q")
        )
        .select(
            KEY,
            F.col("__w.end").alias(TS),
            F.lit(0).cast("long").alias(SEQ),
            F.transform("__q", lambda s: s["v"]).alias(VALUE),
        )
    )


def rolling_time_stats_stream(
    x: DataFrame,
    window: _dt.timedelta,
    slide: _dt.timedelta,
    watermark: _dt.timedelta | None = None,
) -> DataFrame:
    """Sliding-window count/sum/mean/min/max over the stream — the
    realtime face of csp.stats with a time interval (stats.py:218-282).
    csp recomputes at every tick; Structured Streaming emits per slide
    (documented delta — per-tick emission in streaming requires the
    stateful path)."""
    src = with_watermark(x, watermark or window)
    return (
        src.groupBy(F.window(TS, _iv(window), _iv(slide)).alias("__w"), KEY)
        .agg(
            F.count(VALUE).alias("roll_count"),
            F.sum(VALUE).alias("roll_sum"),
            F.avg(VALUE).alias("roll_mean"),
            F.min(VALUE).alias("roll_min"),
            F.max(VALUE).alias("roll_max"),
        )
        .select(
            KEY,
            F.col("__w.end").alias(TS),
            F.lit(0).cast("long").alias(SEQ),
            "roll_count", "roll_sum", "roll_mean", "roll_min", "roll_max",
        )
    )


# ----------------------------------------------------------------------
# per-tick stateful folds — one keyed state-store runner
# ----------------------------------------------------------------------

def _stateful_by_key(u, step, out_schema, state_schema, event_timeout=False):
    """The one keyed state-store runner behind every per-tick streaming
    fold (rolling ticks, align, EMA, imperative nodes). It states four
    rules once:

    - chunk order: applyInPandasWithState splits a group's microbatch
      into Arrow chunks (arrow.maxRecordsPerBatch) with no cross-chunk
      ordering guarantee, so ALL chunks are concatenated and sorted
      once by (ts, seq[, __src]) — sorting per chunk would fold rows
      out of engine order and corrupt the state;
    - output mode: append (a fold emits each row once, at its cycle);
    - timeout: none, or event time (``event_timeout``) for a fold the
      watermark must wake (alarms);
    - output values: ``step`` returns rows in ``out_schema`` order,
      built by the batch runner's ``core.noderun._output_frame`` (the
      rule is stated at ``_per_key_pandas``: None is NULL, NaN stays
      NaN).

    ``step(key, pdf, state)`` gets the key tuple, the sorted frame
    (empty on a timeout wake) and the GroupState; it updates the state
    and returns the rows to emit."""
    from ..core.noderun import _output_frame

    build = _output_frame(out_schema)
    order = [TS, SEQ] + (["__src"] if "__src" in u.columns else [])
    empty = pd.DataFrame(columns=u.columns)

    def fold(key, pdfs, state):
        parts = list(pdfs)
        pdf = empty
        if parts:
            pdf = pd.concat(parts, ignore_index=True)
            # np.lexsort sorts by its LAST key first, and is stable
            pdf = pdf.take(np.lexsort([pdf[c].to_numpy() for c in order[::-1]]))
        yield build(step(key, pdf, state))

    return u.groupBy(KEY).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout if event_timeout
            else GroupStateTimeout.NoTimeout
        ),
    )


def _tagged_union(named: "dict[str, DataFrame]") -> DataFrame:
    """The inputs of a multi-stream fold as ONE frame: each row tagged
    with its source index ``__src`` (the engine's tie order within one
    (ts, seq)), its value cast to double, and ``__null`` = value IS
    NULL — Arrow hands NULL and NaN to pandas alike as NaN, so the flag
    is the only way the fold can tell them apart."""
    parts = []
    for i, s in enumerate(named.values()):
        v = F.col(VALUE).cast("double")
        parts.append(s.select(
            F.col(KEY), F.col(TS), F.col(SEQ), F.lit(i).alias("__src"),
            v.alias(VALUE), v.isNull().alias("__null"),
        ))
    return reduce(DataFrame.unionByName, parts)


def _collapse_cycles(pdf: pd.DataFrame) -> list:
    """A key's sorted tagged-union rows → engine cycles in (ts, seq)
    order, coincident multi-stream ticks collapsed to ONE cycle (batch
    align's rule) — the one implementation align_stream and
    run_node_stream share.

    NULL rule (batch align's ``last(ignorenulls=True)``): a NULL tick
    marks its source ticked and leaves the source's last value
    unchanged; a NaN tick is a value like any other.

    Returns ``[(ts, seq, ticked, updates), ...]``: ``ticked`` lists the
    sources that ticked in the cycle, ``updates`` their new
    ``(src, value)`` pairs (NULL ticks left out)."""
    cycles: "list[tuple]" = []
    cur = None
    for ts, seq, src, v, null in zip(
        pdf[TS], pdf[SEQ], pdf["__src"], pdf[VALUE], pdf["__null"]
    ):
        if src < 0:
            # a group-materialization seed (alarm handover), not a tick
            continue
        if cur is None or (ts, seq) != (cur[0], cur[1]):
            cur = (ts, int(seq), [], [])
            cycles.append(cur)
        cur[2].append(int(src))
        if not null:
            cur[3].append((int(src), float(v)))
    return cycles


def rolling_tick_stats_stream(
    x: DataFrame, window: int, quantiles: "dict[str, float] | None" = None
) -> DataFrame:
    """PER-TICK trailing-``window``-tick stats over the stream — exact
    csp.stats realtime semantics (recompute at every tick), unlike
    ``rolling_time_stats_stream`` which emits per slide (the documented
    watermark-window delta). The per-key state is the window's value
    ring (≤ ``window`` doubles per key in the state store, bounded by
    construction); each tick appends, evicts, and emits
    count/sum/mean/min/max of the current ring.

    Same in-order contract as ema_stream: rows arrive time-ordered per
    key across microbatches; within a batch the fold sorts by
    (ts, seq). Equality-tested against the batch stats.Rolling tick
    window, NULL values and NULL keys included.

    ``quantiles``: extra per-tick exact quantile columns, e.g.
    ``{"roll_p50": 0.5}`` — csp.stats.quantile's realtime form. The
    interpolation replicates Spark SQL percentile()'s linear rule
    (``lower·(hi−pos) + higher·(pos−lo)``) bit-for-bit so the column
    equals the batch Rolling.quantile path."""
    if window < 1:
        raise ValueError("window must be >= 1 tick")
    qcols = dict(quantiles or {})

    out_schema = (
        f"{KEY} string, {TS} timestamp, {SEQ} long, roll_count long, "
        "roll_sum double, roll_mean double, roll_min double, "
        "roll_max double"
        + "".join(f", {name} double" for name in qcols)
    )

    def _pct(sorted_vals: list, q: float):
        n = len(sorted_vals)
        if not n:
            return None
        pos = (n - 1) * q
        lo = int(pos // 1)
        hi = -(-pos // 1)
        if hi == lo:
            return sorted_vals[lo]
        return sorted_vals[lo] * (hi - pos) + sorted_vals[int(hi)] * (pos - lo)

    def step(key, pdf, state):
        ring: list = list(state.get[0]) if state.exists else []
        out = []
        for ts, seq, v in zip(pdf[TS], pdf[SEQ], pdf[VALUE]):
            ring.append(float(v))
            if len(ring) > window:
                ring.pop(0)
            vals = [r for r in ring if r == r]  # NaN-skipping stats
            n = len(vals)
            s = sum(vals) if n else None
            row = [
                key[0], ts, seq, n, s,
                (s / n) if n else None,
                min(vals) if n else None,
                max(vals) if n else None,
            ]
            if qcols:
                sv = sorted(vals)
                row += [_pct(sv, q) for q in qcols.values()]
            out.append(row)
        state.update((ring,))
        return out

    return _stateful_by_key(x, step, out_schema, "ring array<double>")


def align_stream(streams: "dict[str, DataFrame]") -> DataFrame:
    """The align kernel in REALTIME mode: union the named tick streams
    and maintain per-key last-value state in the state store, emitting
    one wide row per tick with every stream's latest value (NULL until
    a stream's first tick = csp 'not yet valid') plus per-stream
    ``<name>__ticked`` flags — the same frame batch ``core.align``
    produces, so downstream valid-gated column ops (binary math,
    sample, struct_fromts) are IDENTICAL code in both modes.

    Ordering contract (same as ema_stream and the reference's realtime
    engine): rows arrive time-ordered per key across microbatches;
    within a batch rows fold in (ts, seq, source-tag) order. Same
    (ts, seq) across streams = one engine cycle → one output row with
    both ticked flags true (batch align's cycle-collapse rule). A NULL
    tick sets its ticked flag and keeps the stream's last value; a NaN
    tick carries NaN (``_collapse_cycles``).
    """
    names = list(streams)
    n_src = len(names)
    out_schema = (
        f"{KEY} string, {TS} timestamp, {SEQ} long, "
        + ", ".join(f"{n} double, {n}__ticked boolean" for n in names)
    )
    state_schema = ", ".join(f"s{i} double" for i in range(n_src))

    def step(key, pdf, state):
        last = list(state.get) if state.exists else [None] * n_src
        out = []
        for ts, seq, ticked, updates in _collapse_cycles(pdf):
            for j, v in updates:
                last[j] = v
            row = [key[0], ts, seq]
            for j in range(n_src):
                row += (last[j], j in ticked)
            out.append(row)
        state.update(tuple(last))
        return out

    return _stateful_by_key(
        _tagged_union(streams), step, out_schema, state_schema
    )


def ema_stream(x: DataFrame, alpha: float) -> DataFrame:
    """Per-tick recursive EMA over the stream, equal to batch
    ``stats.ema(alpha, adjust=False)`` — pandas' adjust=False,
    ignore_na=False recursion (csp.stats.ema, stats.py:2910-3006; EMA
    kernel statsimpl.h:1473): a NULL or NaN tick emits the held value
    and decays the old value's weight, so the next observation weighs
    in more. State ``(ema, w)`` — the value and its decayed weight,
    ``ema`` NaN until the first observation — lives in the state store
    per key and survives across microbatches.

    Ordering contract: rows must arrive time-ordered per key ACROSS
    microbatches (Kafka partition ordering / chronological file drops)
    — the same in-order delivery the reference assumes of its adapters
    (SURVEY.md §2.8 'csp assumes adapters deliver in order')."""
    keep = 1.0 - alpha

    def step(key, pdf, state):
        ema, w = state.get if state.exists else (float("nan"), 1.0)
        out = []
        for ts, seq, v in zip(pdf[TS], pdf[SEQ], pdf[VALUE]):
            v = float(v)
            if ema == ema:
                w *= keep
                if v == v:
                    if ema != v:  # pandas' guard: a constant series stays exact
                        ema = (w * ema + alpha * v) / (w + alpha)
                    w = 1.0
            elif v == v:
                ema = v
            out.append((key[0], ts, seq, ema))
        state.update((ema, w))
        return out

    return _stateful_by_key(
        x, step, f"{KEY} string, {TS} timestamp, {SEQ} long, {VALUE} double",
        "ema double, w double",
    )


def ohlc_bars_stream(
    x: DataFrame,
    interval: _dt.timedelta,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Tumbling OHLC bars over a stream — the realtime twin of
    stats/resample.ohlc_bars: per-key epoch-aligned ``interval``
    buckets with open/close in (ts, seq) order, built on the native
    watermarked window aggregate (state = one running bar per open
    window per key, dropped when the watermark passes the bar end).

    Append mode emits each bar exactly once when it finalizes;
    ``complete`` mode (no finalization wait) suits bounded test runs.
    Equality-tested against the batch form over the same rows."""
    if interval <= _dt.timedelta(0):
        raise ValueError("interval must be positive")
    order = F.struct(F.col(TS), F.col(SEQ))
    v = F.col(VALUE)
    return (
        x.withWatermark(TS, watermark)
        .groupBy(F.col(KEY), F.window(F.col(TS), _iv(interval)))
        .agg(
            F.min_by(v, order).alias("open"),
            F.max(v).alias("high"),
            F.min(v).alias("low"),
            F.max_by(v, order).alias("close"),
            F.count(v).alias("n_ticks"),
            F.avg(v).alias("mean"),
        )
        .select(
            KEY,
            F.col("window.start").alias("bar_start"),
            "open", "high", "low", "close", "n_ticks", "mean",
        )
    )


def session_bars_stream(
    x: DataFrame,
    gap: _dt.timedelta,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Gap-based session aggregates over a stream — the realtime twin
    of stats/resample.session_bars, built on Spark's NATIVE
    ``session_window`` aggregate: per key, a session extends while
    ticks arrive within ``gap`` of each other and finalizes when the
    watermark passes ``last tick + gap``. State = one open session
    per key, dropped at finalization — the exact stateful-node
    semantics the reference writes by hand, with the state store
    managed by the engine.

    Column parity with the batch form except the 0-based
    ``session_idx`` (a streaming aggregate has no per-key running
    index; sessions are identified by their start time instead).
    Equality-tested against session_bars over the same rows."""
    if gap <= _dt.timedelta(0):
        raise ValueError("gap must be positive")
    v = F.col(VALUE)
    order = F.struct(F.col(TS), F.col(SEQ))
    return (
        x.withWatermark(TS, watermark)
        .groupBy(F.col(KEY), F.session_window(F.col(TS), _iv(gap)))
        .agg(
            F.min(F.col(TS)).alias("session_start"),
            F.max(F.col(TS)).alias("session_end"),
            (F.unix_micros(F.max(F.col(TS)))
             - F.unix_micros(F.min(F.col(TS)))).alias("duration_us"),
            F.count(v).alias("n_ticks"),
            F.min_by(v, order).alias("first_v"),
            F.max_by(v, order).alias("last_v"),
            F.sum(v).alias("sum_v"),
        )
        .drop("session_window")
    )


def incremental_dedup_stream(
    docs: DataFrame,
    corpus_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    pair_fn=None,
):
    """Streaming rolling-corpus build: each microbatch of incoming
    documents is cleaned against the ACCUMULATED corpus with
    dedup.components.incremental_dedup (near-dup pairs over corpus ∪
    batch; existing docs immutable, anchored components drop their
    incoming members, all-incoming components keep the min id) and the
    survivors are appended to the corpus — the live form of
    ingestion-time dedup. Processing batches b1..bn lands exactly the
    corpus the batch loop ``for b: corpus += incremental_dedup(corpus,
    b)`` builds (equality-tested).

    Idempotence: each microbatch writes its survivors to a
    ``batch=<epoch_id>`` partition directory with overwrite semantics,
    so a retried batch rewrites the same partition instead of
    double-appending (the standard foreachBatch exactly-once recipe).
    Readers see the corpus as one partitioned parquet table.

    Cost per batch = one bucketed pair pipeline over corpus ∪ batch —
    see incremental_dedup's scale note; persist the corpus side's
    MinHash signatures (pipeline/storage bucketed tables) to amortize
    repeated ingests at 100 TB.

    Returns the started StreamingQuery (caller stops it).
    """
    def _ingest(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_dedup_batch(
            batch_df, epoch_id, corpus_path,
            id_col=id_col, text_col=text_col, pair_fn=pair_fn,
        )

    return (
        docs.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def ingest_dedup_batch(
    batch_df: DataFrame,
    epoch_id: int,
    corpus_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    pair_fn=None,
) -> None:
    """One microbatch of the rolling-corpus build (the foreachBatch
    body of incremental_dedup_stream, exposed so retry behavior is
    directly testable): dedup ``batch_df`` against the corpus
    accumulated by EARLIER epochs and (over)write this epoch's
    survivors partition."""
    from ..dedup.components import incremental_dedup

    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    incoming = batch_df.select(id_col, text_col)
    try:
        # exclude the CURRENT epoch's partition: on a retry (epoch
        # ran, crashed before the checkpoint commit) its half-done
        # batch=N files must neither count as corpus nor sit in
        # the scan's file index while the overwrite below deletes
        # them. Partition pruning keeps them unread. read_table lists
        # and analyses eagerly, so a missing corpus raises HERE.
        existing = (
            read_table(spark, corpus_path)
            .filter(F.col("batch") < F.lit(int(epoch_id)))
            .select(id_col, text_col)
        )
    except Exception as ex:
        # only "no corpus yet" may fall through to the empty frame;
        # a corrupt file / IO / permission error must abort the
        # batch, not silently dedup against nothing
        msg = str(ex)
        if not ("PATH_NOT_FOUND" in msg or "Path does not exist" in msg
                or "UNABLE_TO_INFER_SCHEMA" in msg):
            raise
        existing = spark.createDataFrame([], incoming.schema)
    kept = incremental_dedup(
        existing, incoming,
        pair_fn=pair_fn, id_col=id_col, text_col=text_col,
    )
    kept.write.mode("overwrite").parquet(
        f"{corpus_path}/batch={int(epoch_id)}"
    )


def run_node_stream(
    fn,
    streams: "DataFrame | dict[str, DataFrame]",
    state: "dict | Callable[[], dict] | None" = None,
    output_type: str = "double",
    initial_states: "dict | DataFrame | None" = None,
    alarms: bool = False,
    watermark: "_dt.timedelta" = _dt.timedelta(0),
) -> DataFrame:
    """:func:`csp_spark.run_node` in REALTIME mode — imperative
    per-cycle nodes over live microbatches, per-key state in the state
    store (reference: the same @csp.node body runs unchanged in
    csp.run(realtime=True)).

    One stateful stage does both jobs: the tagged union folds to
    engine cycles with last-value carry (``_collapse_cycles``, align's
    kernel — a NULL tick keeps the last value, as batch run_node's
    align does), and each wake runs its cycles through batch
    run_node's own node-cycle engine (``core.noderun._NodeEngine``:
    alarm heap, firing, cycle build, output rows). The state row holds
    each input's last value plus ONE pickle of ``(ustate, heap, order,
    fired)``: the user's state dict and the engine's pending-alarm
    heap. Pickling the two together keeps handle identity across the
    state store, so a handle a node stored in ``cycle.state`` still
    cancels the heap's entry.

    **Alarms** (``alarms=True``): ``cycle.schedule_alarm`` /
    ``cancel_alarm`` work in a live streaming query with the
    reference's engine semantics (cpp AlarmInputAdapter): an alarm
    fires as its OWN engine cycle at its scheduled time — interleaved
    in (ts, seq) order with input cycles when input is flowing, and
    woken by an event-time state timeout when the key is idle (the
    watermark advancing past the alarm time is the streaming analog of
    the engine clock reaching it). Spark 4's
    ``transformWithStateInPandas`` timers are the one-timer-per-alarm
    native API, but its Python worker needs the ``google.protobuf``
    package (absent in this environment), so the timer is emulated on
    ``applyInPandasWithState`` with ONE re-armed event-time timeout =
    the earliest pending alarm — semantically identical (timers only
    WAKE the key; firing order is owned by the heap either way).
    ``fired`` persists only to keep alarm-cycle seqs unique and
    batch-matching; the engine's runaway guard (_MAX_ALARM_CYCLES)
    counts per engine run, and one wake is one run, as one batch
    replay is. With ``alarms=False`` (default)
    ``schedule_alarm`` raises, the heap stays empty, and the stage has
    no timeout and no watermark unless ``watermark`` is given: late
    rows are folded, not dropped.

    Handover: seed ``initial_states`` from ``run_node_with_states(
    keep_alarms=True)`` (with ``alarms=True``) and pending alarms
    CROSS the replay→live boundary — each seed is the engine's own
    (state, heap, order, fired) blob, so handles stored in the state
    dict still cancel, and alarm-cycle seqs continue where the replay
    stopped — including for keys that never receive a live input (a
    synthetic seed row materializes each alarm-carrying key's state in
    trigger 1, so the watermark alone fires them). A plain-dict seed
    (the default run_node_with_states shape) carries NO heap.

    Ordering contract: rows arrive time-ordered per key across
    microbatches; within a batch cycles fold in (ts, seq) order with
    coincident multi-stream ticks collapsed to ONE cycle (batch
    align's rule); an alarm coincident with an input tick fires after
    that timestamp's input cycles (the engine's ``fire`` rule).
    Equality-tested against batch run_node, alarms, NULL and NaN ticks
    and a checkpoint restart included. One difference stays: every
    input is cast to double, so an integral input reaches the node as
    a float here and as an int in batch run_node.
    """
    from ..core.noderun import (
        _MAX_ALARM_CYCLES as cap, AlarmHandoff, _NodeEngine, _state_factory,
    )

    named = {"x": streams} if isinstance(streams, DataFrame) else dict(streams)
    names = list(named)
    n_src = len(names)
    _NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}
    for name, s in named.items():
        # the state-store row holds doubles — reject non-numeric inputs
        # LOUDLY (batch run_node passes values through untyped; a cast
        # here would silently NULL strings/decimals and the node would
        # read NaN forever)
        vt = dict(s.dtypes).get(VALUE, "")
        if vt.split("(")[0] not in _NUMERIC:
            raise TypeError(
                f"run_node_stream input '{name}' has value type {vt!r}; "
                "the streaming runner carries double values — cast "
                "numerics explicitly, or run non-numeric nodes in batch "
                "mode (run_node)"
            )
    u = _tagged_union(named)
    out_schema = f"{KEY} string, {TS} timestamp, {SEQ} long, {VALUE} {output_type}"
    state_schema = (
        ", ".join(f"s{i} double" for i in range(n_src)) + ", ustate binary"
    )
    # batch run_node parity: state may be a zero-arg factory (fresh
    # per key) or a dict prototype (deep-copied per key) — the ONE
    # implementation of that rule lives in core.noderun
    mk_state = _state_factory(state)
    seed_states = _seed_initial_states(initial_states)
    if not alarms:
        bad = [k for k, v in seed_states.items() if isinstance(v, AlarmHandoff)]
        if bad:
            raise ValueError(
                "initial_states carry pending-alarm blobs (run_node_with_"
                "states(keep_alarms=True)) — resume them with alarms=True; "
                f"the no-alarm runner would silently drop them (keys {bad[:3]})"
            )

    # a seeded key with PENDING alarms but no live input would never
    # materialize in the state store (applyInPandasWithState has no
    # initialState) — its alarms would sit unfired forever. Inject ONE
    # synthetic row per such key through a write-once side source:
    # _collapse_cycles drops it (__src < 0) but the wake creates the
    # state row and arms the timeout. The row carries an ancient fixed
    # timestamp — it arrives in trigger 1 while the watermark is still
    # 0 (so it is not dropped as late) and can never ADVANCE the
    # watermark past legitimate live data.
    pending = [
        k for k, v in seed_states.items()
        if isinstance(v, AlarmHandoff) and any(e[2]["alive"] for e in v.heap)
    ]
    if pending:
        from .sources import _write_once_source

        ancient = _dt.datetime(1970, 1, 1, 0, 0, 1)
        spark = u.sparkSession
        seeds = spark.createDataFrame(
            [(k, ancient, 0, -1, None, True) for k in pending], u.schema
        )
        u = u.unionByName(_write_once_source(spark, seeds))

    def _no_alarms(*_a, **_k):
        raise NotImplementedError(
            "alarms are batch-only on this path: pass alarms=True to "
            "run_node_stream for the event-time-timer streaming engine, "
            "or run_node over history then hand over via streaming.hybrid"
        )

    def _initial(k):
        """(last, ustate, heap, order, fired) of a key's first wake."""
        seed = seed_states.get(k)
        if isinstance(seed, AlarmHandoff):
            # replay handover with pending alarms: ONE deepcopy keeps
            # handle identity between the copied state dict and the
            # copied heap; the replay's last input values cross too
            # (alarm cycles read inputs)
            s2 = _copy.deepcopy(seed)
            last = {n: (s2.last or {}).get(n) for n in names}
            return last, s2.state, s2.heap, s2.order, s2.fired
        ustate = _copy.deepcopy(seed) if k in seed_states else mk_state()
        return dict.fromkeys(names), ustate, None, 0, 0

    def step(key, pdf, state):
        if state.exists:
            stored = state.get
            last = dict(zip(names, stored[:n_src]))
            ustate, heap, order, fired = pickle.loads(bytes(stored[n_src]))
        else:
            last, ustate, heap, order, fired = _initial(key[0])
        eng = _NodeEngine(fn, key[0], ustate, last, cap, heap, order, fired,
                          rt=None if alarms else _no_alarms)
        for ts, seq, ticked, updates in _collapse_cycles(pdf):
            eng.fire(ts)
            vals = dict(eng.last)
            for j, v in updates:
                vals[names[j]] = v
            eng.cycle(ts, seq, vals, {names[j]: True for j in ticked})
        # drain alarms the engine clock (= the watermark) has reached —
        # on a timeout wake this is the whole reason we're here; after
        # input it catches alarms between the last row and the
        # watermark. Read only with a pending heap: it raises when the
        # stage has no watermark (alarms=False, the default)
        wm_ms = state.getCurrentWatermarkMs() if eng.heap else 0
        if wm_ms > 0:
            eng.fire(pd.Timestamp(wm_ms, unit="ms"), inclusive=True)
        heap = eng.pending()
        state.update(
            tuple(eng.last[n] for n in names)
            + (pickle.dumps((eng.state, heap, eng.order, eng.fired)),)
        )
        if heap:
            # re-arm ONE event-time timeout at the earliest live alarm,
            # 1 ms EARLY: Spark fires an event-time timeout only when
            # the watermark advances strictly BEYOND it, so a timeout
            # set AT the alarm time would miss a watermark that lands
            # exactly on it (batch `end` is inclusive — an alarm at
            # exactly the final watermark must fire). The early wake at
            # worst drains nothing and re-arms. It must also sit
            # strictly past the current watermark.
            next_ms = heap[0][0].value // 1_000_000
            state.setTimeoutTimestamp(max(next_ms - 1, wm_ms + 1))
        return eng.out

    # alarms read the watermark as the engine clock (0 by default);
    # without alarms a watermark only when asked for — late-data
    # tolerance for the state operator, no-op by default
    if alarms or watermark:
        u = with_watermark(u, watermark)
    return _stateful_by_key(
        u, step, out_schema, state_schema, event_timeout=alarms
    )


def _seed_initial_states(initial_states):
    """Normalize run_node_stream's hybrid-handover seed: per-key
    replay-terminal states (see run_node_with_states /
    run_hybrid_node). A DataFrame of (key, state binary) is collected
    HERE — a visible driver action, sized one pickled dict per key
    (bounded key sets; unbounded cardinality should resume from the
    streaming checkpoint instead)."""
    if initial_states is not None and not isinstance(initial_states, dict):
        initial_states = {
            r[0]: pickle.loads(bytes(r[1])) for r in initial_states.collect()
        }
    return initial_states or {}

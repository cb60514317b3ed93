"""Scalable running aggregates over UNKEYED (GLOBAL_KEY) streams.

The align/window engine partitions by key, so keyed streams scale by
adding keys. An unkeyed stream ordinarily collapses into ONE window
partition (core/align.py scale note) — fine at test scale, a
single-task bottleneck at 100 TB. For ASSOCIATIVE running aggregates
(sum / count / min / max) the collapse is avoidable with the classic
two-pass prefix pattern (parallel prefix-sum / MapReduce "scan"):

1. range-partition the stream by engine order ``(ts, seq)`` and pin
   each row's partition id (``_range_base``);
2. one per-partition partial aggregate → a #partitions-row frame; its
   exclusive prefix combine (a window over ≤ thousands of rows — the
   only intentionally-single-partition step, and it is tiny) gives
   each partition its incoming offset;
3. broadcast-join the offsets back and run the within-partition
   running aggregate under ``Window.partitionBy(partition_id)`` —
   embarrassingly parallel, no global window anywhere.

Floating-point note: two-pass grouping changes summation order, so
double sums are combined through DECIMAL(28,10) (exact, associative —
bit-identical to the sequential form and to any engine's replay);
count/min/max are associative exactly.

csp itself executes a single stream sequentially on one thread, so
this is a capability beyond the reference, not a parity item.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Window
from pyspark.sql import functions as F

from .session import _materialize
from .ticks import KEY, SEQ, TS, TickStream

_DEC = "decimal(28,10)"


def _range_base(x: TickStream, num_partitions: "int | None"):
    """``(key, ts, seq, __v, __pid)``: the stream range-partitioned by
    engine order ``(ts, seq)`` into ``num_partitions`` (else the default
    parallelism, else under Spark Connect the shuffle-partitions
    setting), sorted within each partition, with the partition id
    pinned — checkpointed, as a recompute could reassign ids."""
    spark, n = x.df.sparkSession, num_partitions
    if not n:
        try:
            n = spark.sparkContext.defaultParallelism
        except Exception:  # Spark Connect: no sparkContext
            n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return _materialize(
        x.df.select(KEY, TS, SEQ, F.col(x.value_col).alias("__v"))
        .repartitionByRange(n, TS, SEQ)
        .sortWithinPartitions(TS, SEQ)
        .withColumn("__pid", F.spark_partition_id()),
        "unkeyed: range-partitioned base",
    )


_AGGS = ("sum", "count", "min", "max", "last")


def running_unkeyed(
    x: TickStream, agg: str = "sum", num_partitions: int | None = None
) -> TickStream:
    """Running ``agg`` over the whole stream in engine order, scalable:
    the plan contains no single-partition window over the data — only
    the #partitions-row offset combine is serial.

    Equivalent to ``accum``/``count``/running min/max on a GLOBAL_KEY
    stream; use this form when one logical stream is too large for one
    task. Output value type: sum → double (via exact DECIMAL), count →
    long, min/max → the input type.
    """
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {_AGGS}")
    base = _range_base(x, num_partitions)

    if agg == "sum":
        part = F.sum(F.col("__v").cast(_DEC))
        within = F.sum(F.col("__v").cast(_DEC))
    elif agg == "count":
        part = F.count(F.col("__v"))
        within = F.count(F.col("__v"))
    elif agg == "min":
        part = F.min("__v")
        within = F.min("__v")
    elif agg == "max":
        part = F.max("__v")
        within = F.max("__v")
    else:  # last — the align kernel's running last-value, scalable:
        # per-partition "last non-null by engine order" via max_by over
        # the non-null rows (groupBy order-independent, unlike F.last)
        part = F.max_by("__v", F.struct(TS, SEQ))
        within = F.last("__v", ignorenulls=True)

    # exclusive prefix of the partials: partition i's offset combines
    # partitions 0..i-1 (NULL for partition 0)
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    partials = (
        base.filter(F.col("__v").isNotNull()).groupBy("__pid")
        if agg == "last"
        else base.groupBy("__pid")
    ).agg(part.alias("__part"))
    offs = base.select("__pid").distinct().join(partials, "__pid", "left").select(
        "__pid",
        {
            "sum": F.sum("__part"),
            "count": F.sum("__part"),
            "min": F.min("__part"),
            "max": F.max("__part"),
            "last": F.last("__part", ignorenulls=True),
        }[agg].over(woff).alias("__off"),
    )

    wrun = (
        Window.partitionBy("__pid")
        .orderBy(TS, SEQ)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = within.over(wrun)
    if agg == "sum":
        # NULL discipline must match the single-window form: SQL sum
        # skips NULLs and is NULL only before the FIRST non-null row of
        # the whole stream. A partition whose prefix is all-NULL has
        # run=NULL but may still carry a non-null offset from earlier
        # partitions — coalesce each side, and stay NULL only when both
        # the local prefix and the carried offset are NULL.
        total = (
            F.when(
                run.isNull() & F.col("__off").isNull(),
                F.lit(None).cast(_DEC),
            )
            .otherwise(
                F.coalesce(run, F.lit(0).cast(_DEC))
                + F.coalesce(F.col("__off"), F.lit(0).cast(_DEC))
            )
            .cast("double")
        )
    elif agg == "count":
        total = (run + F.coalesce(F.col("__off"), F.lit(0))).cast("long")
    elif agg == "min":
        total = F.least(run, F.coalesce(F.col("__off"), run))
    elif agg == "max":
        total = F.greatest(run, F.coalesce(F.col("__off"), run))
    else:  # last: this partition's running last, else the carried one
        total = F.coalesce(run, F.col("__off"))

    out = (
        base.join(F.broadcast(offs), "__pid")
        .select(KEY, TS, SEQ, total.alias("value"))
    )
    return TickStream(out)


_WINDOWED_AGGS = ("sum", "count", "mean", "min", "max")


def _apply_win_rows(df, keep_cols, spec, w, aggs):
    """win_<agg> columns for the ROWS sliding frame [-(w-1), 0] under
    ``spec`` (a partition+order WindowSpec), computed as exact PREFIX
    DIFFERENCES for sum/count/mean: Spark executes a sliding frame by
    re-accumulating all w rows per output row (SlidingWindowFunction-
    Frame — O(n·w) BigDecimal updates for the DECIMAL sums), while the
    cumulative frame is incremental — cum(i) − lag(cum, w) costs two
    O(n) passes sharing one sort. Decimal/long arithmetic is exact, so
    every produced value is bit-identical to the sliding aggregate for
    |value| < 1e17 (the DECIMAL(27,10) per-value domain; the sliding
    form's own cast bound was 1e18, where it silently DROPPED the
    value from the sum — here an out-of-domain value raises instead,
    see the guard below). Cumulative headroom: DECIMAL(37,10) holds 27
    integer digits — a full-partition running total, not just a
    window's. min/max keep the sliding frame: double comparisons are
    cheap and have no exact inverse. The lag stage is a second Window
    operator over the same (partition, order) spec — no extra Sort or
    Exchange."""
    cum = spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sli = spec.rowsBetween(-(w - 1), 0)
    # one digit narrower than _DEC so the cumulative sum is (37,10) and
    # the prefix subtraction lands exactly on DECIMAL(38,10) — the same
    # type the sliding sum produces. Summing (38,10) values would make
    # the subtraction overflow to precision 39, and Spark's precision-
    # loss adjustment would drop the scale to 9, changing win_mean's
    # division type (scale 9 vs the sliding path's 10). The double →
    # decimal cast rounds identically at either precision.
    _cdec = "decimal(27,10)"
    # fail LOUD on per-value overflow: with ANSI off the cast yields
    # NULL, which sum() would silently skip — corrupting win_sum/
    # win_mean while win_count still counts the row (the sliding form
    # had the same silent mode one decade higher, at 1e18)
    vd = F.when(
        F.col("__v").isNotNull() & F.col("__v").cast(_cdec).isNull(),
        F.raise_error(
            F.concat(
                F.lit("windowed aggregate value out of DECIMAL(27,10) "
                      "range (|v| >= 1e17): "),
                F.col("__v").cast("string"),
            )
        ).cast(_cdec),
    ).otherwise(F.col("__v").cast(_cdec))
    need_sum = "sum" in aggs or "mean" in aggs
    # the count rides along with any sum: an all-NULL frame must yield
    # a NULL sum (the sliding aggregate's contract), and only the
    # count difference can detect it (the prefix difference alone
    # reads 0 there)
    need_cnt = "count" in aggs or need_sum
    stage1 = []
    if need_sum:
        stage1.append(F.sum(vd).over(cum).alias("__cs"))
    if need_cnt:
        stage1.append(F.count("__v").over(cum).alias("__ck"))
    if "min" in aggs:
        stage1.append(F.min("__v").over(sli).alias("__wmin"))
    if "max" in aggs:
        stage1.append(F.max("__v").over(sli).alias("__wmax"))
    df1 = df.select(*keep_cols, *stage1)
    if need_cnt:
        k = F.col("__ck") - F.coalesce(
            F.lag("__ck", w).over(spec), F.lit(0).cast("bigint")
        )
    if need_sum:
        dec_t = df1.schema["__cs"].dataType.simpleString()
        # k > 0 guard: the sliding sum is NULL on an all-NULL frame;
        # the bare prefix difference would read 0 there instead
        s = F.when(
            k > 0,
            F.col("__cs") - F.coalesce(
                F.lag("__cs", w).over(spec), F.lit(0).cast(dec_t)
            ),
        )
    out = []
    for a in aggs:
        if a == "sum":
            out.append(s.cast("double").alias("win_sum"))
        elif a == "count":
            out.append(k.alias("win_count"))
        elif a == "mean":
            out.append(F.when(k > 0, (s / k).cast("double")).alias("win_mean"))
        elif a == "min":
            out.append(F.col("__wmin").alias("win_min"))
        else:
            out.append(F.col("__wmax").alias("win_max"))
    return df1.select(*keep_cols, *out)


def _win_cols(aggs, frame):
    """win_<agg> window columns over the given frame; sum/mean combine
    through DECIMAL for order-independent exactness."""
    out = []
    for a in aggs:
        if a == "sum":
            c = F.sum(F.col("__v").cast(_DEC)).over(frame).cast("double")
        elif a == "count":
            c = F.count("__v").over(frame)
        elif a == "mean":
            s = F.sum(F.col("__v").cast(_DEC)).over(frame)
            k = F.count("__v").over(frame)
            c = F.when(k > 0, (s / k).cast("double"))
        elif a == "min":
            c = F.min("__v").over(frame)
        else:
            c = F.max("__v").over(frame)
        out.append(c.alias(f"win_{a}"))
    return out


def _windowed_unkeyed_time(
    x: TickStream,
    window: _dt.timedelta,
    aggs: list,
    num_partitions: int | None,
) -> "DataFrame":
    """Time-interval twin of the tick path (see windowed_unkeyed):
    frames are ``rangeBetween(-(us-1), 0)`` over unix-microseconds —
    value-range semantics, so ALL ticks sharing the emit row's exact
    microsecond are in the frame (the SQL RANGE contract this
    beyond-reference op documents and its oracle replays; the keyed
    reference-parity path, stats.Rolling, uses the sub-timestamp
    CAUSAL encoding instead — rolling.causal_time_window);
    tails replicate each partition's rows that fall within ``window``
    of its successor's first timestamp (exact per-partition bounds,
    driver-side #partitions rows). Validity is checked exactly: no row
    two partitions back may fall inside a successor's window — else
    the exact single-window fallback runs (tiny inputs only)."""
    us = (window // _dt.timedelta(microseconds=1))
    if us < 1:
        raise ValueError("time window must be positive")
    spark = x.df.sparkSession
    base = _range_base(x, num_partitions).withColumn(
        "__tsu", F.unix_micros(F.col(TS))
    )

    bounds = {
        r["__pid"]: (r["mn"], r["mx"])
        for r in base.groupBy("__pid").agg(
            F.min("__tsu").alias("mn"), F.max("__tsu").alias("mx")
        ).collect()
    }
    pids = sorted(bounds)
    # exact single-predecessor condition: for every partition j+1, the
    # rows it needs (__tsu >= min(j+1) - (us-1)) must all live in j —
    # i.e. nothing in partitions <= j-1 reaches that cut. This also
    # forces the fallback when one timestamp tie-group spans three or
    # more partitions (max(j) == min(j+2) violates the inequality).
    ok = all(
        bounds[pids[k - 1]][1] < bounds[pids[k + 1]][0] - (us - 1)
        for k in range(1, len(pids) - 1)
    )
    wframe = lambda w: w.orderBy("__tsu").rangeBetween(-(us - 1), 0)  # noqa: E731
    if not ok:
        out = base.select(KEY, TS, SEQ, *_win_cols(aggs, wframe(Window)))
        return out

    # per-pid cut for the tail it must send forward: the (next
    # NON-EMPTY) successor's first timestamp minus the window, tagged
    # with that successor's actual pid (broadcast — #partitions rows)
    cuts = [
        (pids[k], pids[k + 1], bounds[pids[k + 1]][0] - (us - 1))
        for k in range(len(pids) - 1)
    ]
    cuts_df = spark.createDataFrame(cuts, "__pid int, __succ int, __cut long")
    tails = (
        base.join(F.broadcast(cuts_df), "__pid")
        .filter(F.col("__tsu") >= F.col("__cut"))
        .withColumn("__pid", F.col("__succ"))
        .drop("__cut", "__succ")
        .withColumn("__tail", F.lit(True))
    )
    aug = base.withColumn("__tail", F.lit(False)).unionByName(tails)
    # RANGE frames also include LATER rows with the SAME timestamp —
    # when a tie-group straddles a boundary (max(j) == min(j+1)), the
    # rows of j at the boundary timestamp must also see j+1's head
    # rows carrying that timestamp: replicate those heads BACKWARD
    # (3+-partition ties already fell back above)
    head_ties = [
        (pids[k + 1], pids[k], bounds[pids[k + 1]][0])
        for k in range(len(pids) - 1)
        if bounds[pids[k + 1]][0] == bounds[pids[k]][1]
    ]
    if head_ties:
        ties_df = spark.createDataFrame(
            head_ties, "__pid int, __pred int, __tie long"
        )
        heads = (
            base.join(F.broadcast(ties_df), "__pid")
            .filter(F.col("__tsu") == F.col("__tie"))
            .withColumn("__pid", F.col("__pred"))
            .drop("__tie", "__pred")
            .withColumn("__tail", F.lit(True))
        )
        aug = aug.unionByName(heads)
    frame = wframe(Window.partitionBy("__pid"))
    return (
        aug.select(KEY, TS, SEQ, F.col("__tail"), *_win_cols(aggs, frame))
        .filter(~F.col("__tail"))
        .drop("__tail")
    )


def windowed_unkeyed(
    x: TickStream,
    window: "int | _dt.timedelta",
    aggs: "tuple[str, ...] | list[str]" = _WINDOWED_AGGS,
    num_partitions: int | None = None,
) -> "DataFrame":
    """Fixed-window stats over an UNKEYED stream, scalable — the
    windowed twin of :func:`running_unkeyed`, closing the documented
    core/align.py limit ("fixed-size windowed stats on an unkeyed
    stream run in one window partition"). ``window`` is either an int
    (trailing N ticks, engine order) or a timedelta (trailing time
    interval ``(t - w, t]``, inclusive of the current instant — the
    same ``rangeBetween(-(us-1), 0)`` convention as the keyed
    stats.Rolling time window).

    Plan (tail replication, the standard distributed sliding-window
    trick): range-partition by engine order with pinned partition ids,
    then REPLICATE each partition's window-trailing edge into its
    successor (tagged, excluded from output): the last ``window-1``
    rows for tick windows, the rows within ``window`` of the
    successor's first timestamp for time windows. Every row's trailing
    frame is then fully local, so the whole computation is one
    ``Window.partitionBy(__pid)`` pass — embarrassingly parallel; the
    only cross-partition traffic is the tail rows, independent of
    total stream size. Early rows get the partial frame, exactly like
    the SQL window form (csp min_window gating composes on top).

    Requires one predecessor to supply the whole tail (partitions at
    least a window deep/long — checked exactly from the per-partition
    bounds). When the partition layout is too fine for the window —
    only possible on tiny inputs, where cost is moot — it falls back
    to the exact single-window form.

    Output: (key, ts, seq, win_<agg>...) one column per requested agg.
    Sum/mean combine through DECIMAL(28,10) (order-independent, matches
    any sequential replay bit-for-bit)."""
    aggs = list(aggs)
    bad = [a for a in aggs if a not in _WINDOWED_AGGS]
    if bad:
        raise ValueError(f"unsupported windowed aggs {bad}; pick from {_WINDOWED_AGGS}")
    if isinstance(window, _dt.timedelta):
        return _windowed_unkeyed_time(x, window, aggs, num_partitions)
    if window < 1:
        raise ValueError("window must be >= 1 tick")
    spark = x.df.sparkSession

    def _cols(frame):
        return _win_cols(aggs, frame)

    base = _range_base(x, num_partitions)

    sizes = {
        r["__pid"]: r["n"]
        for r in base.groupBy("__pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    pids = sorted(sizes)  # non-empty partitions only, in engine order
    if not pids:  # empty input: empty frame, matching the time path
        return base.select(KEY, TS, SEQ, *_cols(
            Window.orderBy(TS, SEQ).rowsBetween(-(window - 1), 0)
        ))
    max_pid = pids[-1]
    if any(sizes[p] < window - 1 for p in pids if p != max_pid):
        # tiny input relative to the partition grain: exact fallback
        return _apply_win_rows(
            base, [KEY, TS, SEQ], Window.orderBy(TS, SEQ), window, aggs
        )

    # tails: each partition's last window-1 rows, re-tagged with its
    # (next NON-EMPTY) successor's actual pid — a broadcast of
    # #partitions rows (the final partition feeds no successor)
    succ = [(pids[k], pids[k + 1]) for k in range(len(pids) - 1)]
    succ_df = spark.createDataFrame(succ, "__pid int, __succ int")
    wdesc = Window.partitionBy("__pid").orderBy(F.desc(TS), F.desc(SEQ))
    tails = (
        base.withColumn("__rn", F.row_number().over(wdesc))
        .filter(F.col("__rn") <= window - 1)
        .drop("__rn")
        .join(F.broadcast(succ_df), "__pid")
        .withColumn("__pid", F.col("__succ"))
        .drop("__succ")
        .withColumn("__tail", F.lit(True))
    )
    aug = base.withColumn("__tail", F.lit(False)).unionByName(tails)
    return (
        _apply_win_rows(
            # __pid rides through: the helper's projections must keep
            # every column the window spec partitions by
            aug, [KEY, TS, SEQ, "__pid", "__tail"],
            Window.partitionBy("__pid").orderBy(TS, SEQ), window, aggs,
        )
        .filter(~F.col("__tail"))
        .drop("__tail", "__pid")
    )


def running_hot_keys(
    x: TickStream,
    agg: str,
    hot_keys: "list[str]",
    num_partitions: int | None = None,
) -> TickStream:
    """Keyed RUNNING aggregate under key skew — the running twin of
    :func:`windowed_hot_keys`: balanced keys use the plain keyed
    window, each hot key runs the two-pass prefix plan of
    :func:`running_unkeyed` spread over many tasks. Value semantics
    match running_unkeyed exactly (sum through DECIMAL → double,
    count → long, min/max/last native)."""
    if agg not in _AGGS:
        raise ValueError(f"agg must be one of {_AGGS}")
    hot = list(dict.fromkeys(hot_keys))
    if not hot:
        raise ValueError("hot_keys must name at least one key")
    v = F.col(x.value_col)
    w = (
        Window.partitionBy(KEY)
        .orderBy(TS, SEQ)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = {
        "sum": F.sum(v.cast(_DEC)).over(w).cast("double"),
        "count": F.count(v).over(w).cast("long"),
        "min": F.min(v).over(w),
        "max": F.max(v).over(w),
        "last": F.last(v, ignorenulls=True).over(w),
    }[agg]
    normal = (
        x.df.filter(~F.col(KEY).isin(hot))
        .select(KEY, TS, SEQ, run.alias("value"))
    )
    out = normal
    for k in hot:
        hk = TickStream(x.df.filter(F.col(KEY) == k), x.value_col)
        out = out.unionByName(
            running_unkeyed(hk, agg, num_partitions=num_partitions)
            .df.select(*out.columns)
        )
    return TickStream(out)


def ema_hot_keys(
    x: TickStream,
    alpha: float,
    hot_keys: "list[str]",
    num_partitions: int | None = None,
) -> TickStream:
    """EMA (adjust=False) under key skew — the recursion member of the
    hot-key family: balanced keys run the exact sequential keyed EMA
    (stats.ema), each hot key runs the :func:`ema_unkeyed` affine scan
    over many tasks. Hot-key values agree with the sequential
    recursion to ~1e-12 relative (the affine scan's documented float
    regrouping); use the plain keyed EMA when bit-replay against a
    sequential oracle is required."""
    from ..stats.ema import ema as _ema

    hot = list(dict.fromkeys(hot_keys))
    if not hot:
        raise ValueError("hot_keys must name at least one key")
    normal = _ema(
        TickStream(x.df.filter(~F.col(KEY).isin(hot)), x.value_col),
        alpha=alpha, adjust=False,
    ).df.select(KEY, TS, SEQ, F.col("value"))
    out = normal
    for k in hot:
        hk = TickStream(x.df.filter(F.col(KEY) == k), x.value_col)
        out = out.unionByName(
            ema_unkeyed(hk, alpha, num_partitions=num_partitions)
            .df.select(*out.columns)
        )
    return TickStream(out)


def windowed_hot_keys(
    x: TickStream,
    window: "int | _dt.timedelta",
    hot_keys: "list[str]",
    aggs: "tuple[str, ...] | list[str]" = _WINDOWED_AGGS,
    num_partitions: int | None = None,
) -> "DataFrame":
    """Keyed fixed-window stats that survive KEY SKEW: ordinary keys
    run the standard one-window-partition-per-key plan (embarrassingly
    parallel — that's the 100 TB path when keys are balanced), while
    each key in ``hot_keys`` (a handful of symbols carrying a huge
    share of the stream — the classic skew shape) is routed through
    the tail-replication plan of :func:`windowed_unkeyed`, spreading
    that ONE key over ``num_partitions`` tasks instead of one.

    ``hot_keys`` is explicit and small by definition (the caller knows
    its whales, or finds them with one groupBy count); per hot key the
    plan costs the two tiny driver-side bound collections that
    windowed_unkeyed documents. Only tick windows support min/max on
    the hot path (same as windowed_unkeyed). Output matches
    windowed_unkeyed: (key, ts, seq, win_<agg>...)."""
    aggs = list(aggs)
    hot = list(dict.fromkeys(hot_keys))
    if not hot:
        raise ValueError("hot_keys must name at least one key")
    normal = TickStream(
        x.df.filter(~F.col(KEY).isin(hot)), x.value_col
    )
    # ordinary keys: plain keyed window — one partition per key
    if isinstance(window, _dt.timedelta):
        us = (window // _dt.timedelta(microseconds=1))
        worder = (
            Window.partitionBy(KEY)
            .orderBy(F.unix_micros(F.col(TS)))
            .rangeBetween(-(us - 1), 0)
        )
        norm_out = normal.df.select(
            KEY, TS, SEQ, F.col(x.value_col).alias("__v")
        ).select(KEY, TS, SEQ, *_win_cols(aggs, worder))
    else:
        norm_out = _apply_win_rows(
            normal.df.select(KEY, TS, SEQ, F.col(x.value_col).alias("__v")),
            [KEY, TS, SEQ],
            Window.partitionBy(KEY).orderBy(TS, SEQ), window, aggs,
        )
    out = norm_out
    for k in hot:
        hk = TickStream(
            x.df.filter(F.col(KEY) == k), x.value_col
        )
        hot_out = windowed_unkeyed(
            hk, window, aggs=aggs, num_partitions=num_partitions
        )  # key column rides through the plan unchanged
        out = out.unionByName(hot_out.select(*out.columns))
    return out


def ema_unkeyed(
    x: TickStream, alpha: float, num_partitions: int | None = None
) -> TickStream:
    """Scalable EMA (adjust=False recursion: ``y_0 = x_0``,
    ``y_i = (1-a)*y_{i-1} + a*x_i``) over an UNKEYED stream — the hard
    unkeyed case, a LINEAR RECURRENCE rather than an associative
    aggregate, parallelized with the classic affine-scan composition
    (Blelloch-style scan over ``y → A*y + C``):

    1. range-partition by engine order, pid pinned (as running_unkeyed);
    2. pass 1: each partition reports its affine map — ``A = (1-a)^m``
       and ``C`` = its zero-initialized EMA tail — plus partition 0's
       true final state. #partitions rows reach the driver (documented
       tiny collect, same class as IVF centroid ranking);
    3. the incoming state per partition is the sequential fold of those
       affine maps — #partitions driver-side multiply-adds;
    4. pass 2: each partition computes rows as
       ``zero_init_local_i + (1-a)^(i+1) * incoming`` — C-vectorized
       pandas, partitions independent.

    Exactness: algebraically identical to the sequential recursion;
    floating-point grouping differs (the ``(1-a)^(i+1) * s`` term is a
    pow+multiply instead of i repeated multiplies), so agreement with
    the sequential form is ~1e-12 relative, asserted in tests — use
    the keyed ``stats.ema`` when bit-replay against a sequential
    oracle is required. ``(1-a)^(i+1)`` underflows to 0 for deep rows,
    which is exactly the true weight of the incoming state. Input must
    be NaN-free (drop_nans upstream); NaN-poisoning semantics don't
    compose affinely."""
    if not (0.0 < alpha <= 1.0):
        raise ValueError("alpha must be in (0, 1]")
    import pandas as pd

    a1 = 1.0 - alpha
    base = _range_base(x, num_partitions)

    def _zero_init(vals: "pd.Series") -> "pd.Series":
        # l_i = (1-a) l_{i-1} + a x_i with l_{-1} = 0: inject a leading
        # zero so pandas' first-value-seeds rule realizes the zero init
        z = pd.concat([pd.Series([0.0]), vals], ignore_index=True)
        return z.ewm(alpha=alpha, adjust=False).mean().iloc[1:].reset_index(
            drop=True
        )

    def _p1(batches):
        parts = [pdf for pdf in batches]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        pid = int(pdf["__pid"].iloc[0])
        vals = pdf["__v"].astype("float64")
        m = len(vals)
        c = float(_zero_init(vals).iloc[-1]) if m else 0.0
        y_final = (
            float(vals.ewm(alpha=alpha, adjust=False).mean().iloc[-1])
            if m
            else 0.0
        )
        yield pd.DataFrame(
            {"__pid": [pid], "m": [m], "c": [c], "y_final": [y_final]}
        )

    stats = sorted(
        (
            (int(r["__pid"]), int(r["m"]), float(r["c"]), float(r["y_final"]))
            for r in base.mapInPandas(
                _p1, schema="__pid long, m long, c double, y_final double"
            ).collect()
        )
    )
    incoming: dict[int, float | None] = {}
    s: float | None = None
    for pid, m, c, y_final in stats:
        incoming[pid] = s
        if s is None:
            s = y_final  # partition 0 (or first non-empty): true state
        else:
            s = c + (a1 ** m) * s
    # tiny dict (#partitions entries) — plain closure capture, not an
    # sc.broadcast: serialized once into the task closure, and works
    # under Spark Connect where sparkContext does not exist
    b_in_value = incoming

    def _p2(batches):
        parts = [pdf for pdf in batches]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        pid = int(pdf["__pid"].iloc[0])
        vals = pdf["__v"].astype("float64")
        s_in = b_in_value.get(pid)
        if s_in is None:
            y = vals.ewm(alpha=alpha, adjust=False).mean()
        else:
            import numpy as np

            decay = a1 ** np.arange(1, len(vals) + 1, dtype="float64")
            y = _zero_init(vals) + decay * s_in
        out = pdf[[KEY, TS, SEQ]].copy()
        out["value"] = y.to_numpy()
        yield out

    out = base.mapInPandas(
        _p2, schema=f"{KEY} string, {TS} timestamp, {SEQ} long, value double"
    )
    return TickStream(out)

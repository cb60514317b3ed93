"""Basket operators (SURVEY.md §2.3 bottom rows).

Reference: csp/basketlib.py — ``sync`` / ``sync_list`` / ``sync_dict``
(basketlib.py:8-65; C++ basketlibimpl.cpp:7) wait up to ``threshold``
for every basket member to tick and emit one synchronized batch;
``sample_basket`` / ``sample_list`` / ``sample_dict``
(basketlib.py:68-94; basketlibimpl.cpp:85) snapshot the valid members
at trigger ticks.

Spark mapping: a basket is a dict of named TickStreams (a list basket
is the same thing with positional names). ``sync`` without a trigger
becomes tumbling threshold buckets (floor(epoch/threshold)) with
first-tick-per-member — the batch analog of "open a window at the
first tick, close after threshold" (deterministic, replay-exact).
With a ``trigger`` (reference sync_list_internal: the alarm window
opens on a trigger tick and re-arms only after it fires), accepted
trigger ticks are the greedy ≥-threshold-apart subsequence per key —
selected by a per-key pandas pass over the TRIGGER stream only (small
by construction), then members attach via a last-value window carry
(one keyed shuffle, no member-side state). Delta vs reference: the
window always closes at trigger+threshold, never early on completion,
so a trigger landing between completion and the alarm is ignored here
but would open a new window in the reference — visible only with
trigger gaps inside (0.5·threshold, threshold).

``sample_*`` is the align/as-of kernel with a struct projection.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Mapping

import pandas as pd
from pyspark.sql import functions as F

from ..core.align import align
from ..core.ticks import KEY, SEQ, TS, VALUE, TickStream


def _first_per_bucket(bucketed):
    """Shared tail of both sync plans: first value per (key, window,
    member) in engine order, then one batch row per (key, window) with
    tick time = the latest member first (when the batch completed).
    The ``__n`` member count feeds the caller's output_incomplete
    filter."""
    firsts = bucketed.groupBy(KEY, "__bucket", "__member").agg(
        F.min_by(F.col("__v"), F.struct(TS, SEQ)).alias("__v"),
        F.min(F.struct(TS, SEQ)).alias("__at"),
    )
    return firsts.groupBy(KEY, "__bucket").agg(
        F.max(F.col("__at." + TS)).alias(TS),
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct(F.col("__member"), F.col("__v")))
            )
        ).alias(VALUE),
        F.count(F.lit(1)).alias("__n"),
    )


def _tag_union(streams: Mapping[str, TickStream]):
    tagged = None
    for name, s in streams.items():
        part = s.df.select(
            KEY, TS, SEQ,
            F.lit(name).alias("__member"),
            F.col(s.value_col).cast("double").alias("__v"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    return tagged


def sync_dict(
    streams: Mapping[str, TickStream],
    threshold: _dt.timedelta,
    output_incomplete: bool = True,
    trigger: TickStream | None = None,
) -> TickStream:
    """Synchronized batches (reference basketlib.py:52-57 sync_dict):
    one tick per (key, window) carrying a struct of each member's FIRST
    value in the window; the tick time is the latest of those firsts.
    ``output_incomplete=True`` (reference default) also emits windows
    where some member never ticked — the value is a MAP that simply
    omits unset members, exactly csp's unset-basket-member shape."""
    us = (threshold // _dt.timedelta(microseconds=1))
    members = list(streams)
    tagged = _tag_union(streams)
    if trigger is None:
        bucket = (F.unix_micros(F.col(TS)) / us).cast("long").alias("__bucket")
        bucketed = tagged.withColumn("__bucket", bucket)
    else:
        # Accepted triggers: greedy per-key subsequence spaced >=
        # threshold (see module docstring). The pandas pass touches
        # ONLY trigger rows.
        from ..core.noderun import _per_key_pandas

        tdf = trigger.df.select(KEY, TS, SEQ).withColumn(
            "__tus", F.unix_micros(F.col(TS))
        )

        def _accept(pdf: pd.DataFrame, by_key) -> pd.DataFrame:
            out_k, out_t = [], []
            for key, grp in by_key:
                last = None
                for t in grp["__tus"]:
                    if last is None or t - last >= us:
                        out_k.append(key)
                        out_t.append(t)
                        last = t
            return pd.DataFrame({KEY: out_k, "__tus": out_t})

        accepted = _per_key_pandas(
            tdf, _accept, f"{KEY} string, __tus long"
        )
        # Attach each member tick to the latest accepted trigger at or
        # before it (last-value carry over the unioned order), keep it
        # if inside the open window.
        trig_rows = accepted.select(
            KEY,
            F.timestamp_micros(F.col("__tus")).alias(TS),
            F.lit(-1).cast("long").alias(SEQ),  # trigger opens before coincident member ticks
            F.lit(None).cast("string").alias("__member"),
            F.lit(None).cast("double").alias("__v"),
        )
        from pyspark.sql import Window

        w = (
            Window.partitionBy(KEY)
            .orderBy(TS, SEQ)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        unioned = tagged.unionByName(trig_rows).withColumn(
            "__bucket",
            F.last(
                F.when(F.col("__member").isNull(), F.unix_micros(F.col(TS))),
                ignorenulls=True,
            ).over(w),
        )
        bucketed = unioned.filter(
            F.col("__member").isNotNull()
            & F.col("__bucket").isNotNull()
            & (F.unix_micros(F.col(TS)) - F.col("__bucket") < us)
        )
    batch = _first_per_bucket(bucketed)
    if not output_incomplete:
        batch = batch.filter(F.col("__n") == len(members))
    out = batch.select(KEY, TS, F.lit(0).cast("long").alias(SEQ), VALUE)
    return TickStream(out)


def sync_list(
    streams: list[TickStream],
    threshold: _dt.timedelta,
    output_incomplete: bool = True,
    trigger: TickStream | None = None,
) -> list[TickStream]:
    """Reference basketlib.py:42-48 sync_list: a list basket in, a list
    basket out — member i of the result ticks with member i's value at
    each emitted batch (NULL-valued members of an incomplete batch do
    not tick, matching csp's unset-member semantics)."""
    named = {f"_{i}": s for i, s in enumerate(streams)}
    batch = sync_dict(named, threshold, output_incomplete, trigger)
    out = []
    for i in range(len(streams)):
        member = batch.df.select(
            KEY, TS, SEQ, F.col(VALUE)[f"_{i}"].alias(VALUE)
        ).filter(F.col(VALUE).isNotNull())
        out.append(TickStream(member))
    return out


def sync(
    x,
    threshold: _dt.timedelta,
    output_incomplete: bool = True,
    trigger: TickStream | None = None,
):
    """Reference basketlib.py:60-65: dispatch on basket shape — list
    baskets return a list of member streams, dict baskets return one
    struct-valued stream (the dict-of-edges analog in long format)."""
    if isinstance(x, list):
        return sync_list(x, threshold, output_incomplete, trigger)
    if isinstance(x, Mapping):
        return sync_dict(x, threshold, output_incomplete, trigger)
    raise ValueError(f"Input must be list or dict basket, got: {type(x)}")


def sample_dict(
    trigger: TickStream, streams: Mapping[str, TickStream]
) -> TickStream:
    """Snapshot the last value of every valid member at each trigger
    tick (basketlib.py:80-85 sample_dict): align trigger + members,
    emit rows at trigger ticks with a struct of the members' last
    values (NULL = not yet valid, csp skips unset members — we carry
    NULL so the struct shape is static for Spark)."""
    named = {"__trigger": trigger}
    named.update(streams)
    wide = align(named, keep_ticked=True)
    out = wide.filter(F.col("__trigger__ticked")).select(
        KEY, TS, SEQ,
        F.struct(*[F.col(n).alias(n) for n in streams]).alias(VALUE),
    )
    return TickStream(out)


def sample_list(
    trigger: TickStream, streams: list[TickStream]
) -> list[TickStream]:
    """basketlib.py:69-77 sample_list: list basket in, list basket out;
    a member that is not yet valid at a trigger does not tick."""
    named = {f"_{i}": s for i, s in enumerate(streams)}
    snap = sample_dict(trigger, named)
    out = []
    for i in range(len(streams)):
        member = snap.df.select(
            KEY, TS, SEQ, F.col(VALUE)[f"_{i}"].alias(VALUE)
        ).filter(F.col(VALUE).isNotNull())
        out.append(TickStream(member))
    return out


def sample_basket(trigger: TickStream, x):
    """basketlib.py:88-94: dispatch on basket shape."""
    if isinstance(x, list):
        return sample_list(trigger, x)
    if isinstance(x, Mapping):
        return sample_dict(trigger, x)
    raise ValueError(f"Input must be a list or dict basket, got: {type(x)}")

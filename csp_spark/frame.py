"""csp.DataFrame parity — a named-column frame of TickStreams.

Reference: csp/dataframe.py:13-302 (column dict + elementwise dunder
broadcasting + boolean-edge filtering + to_pandas evaluation) and
csp/impl/pandas_accessor.py (the pandas bridge). The reference's
``to_perspective`` UI sink is out of scope (SURVEY.md §2.2).

Spark-first: the frame is a THIN dict of TickStreams — every
elementwise op delegates to TickStream's fluent ops (which compile to
one aligned Catalyst plan), and evaluation surfaces are:

- ``to_spark()``   — ONE wide aligned DataFrame (key, ts, seq, col...)
  with last-value persistence per column (align kernel, single key
  shuffle for the whole frame, not one per column).
- ``to_pandas()``  — csp.DataFrame.to_pandas parity: each column holds
  values only at its OWN tick times (NaN elsewhere), union time index,
  one Spark job for the whole frame.
- ``to_spark_ts()`` — csp.DataFrame.to_pandas_ts at scale: per trigger
  tick, every column's windowed buffer as long rows. One tagged union
  of the columns and the trigger, one key shuffle; the all-valid gate
  and a count window are windows on that partitioning (no join, no
  checkpoint), a time window is one band join on it.
- ``to_pandas_ts()`` — the pandas Series of DataFrames, from one Spark
  job over the same rows.
"""

from __future__ import annotations

import datetime as _dt
from functools import reduce
from typing import Iterator, Mapping

from pyspark.sql import DataFrame as SparkDataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .core.align import _ticked, align
from .core.ticks import GLOBAL_KEY, KEY, SEQ, TS, TickStream

__all__ = ["TsFrame"]

TRIG_TS, TRIG_SEQ = "trig_ts", "trig_seq"
#: to_spark_ts' union tag: which column (or the trigger) a row came from
_TAG = "__tag"


class TsFrame:
    """Named columns of TickStreams with csp.DataFrame's surface."""

    def __init__(self, data: Mapping[str, TickStream] | None = None):
        self._data: dict[str, TickStream] = dict(data or {})

    # ------------------------------------------------------ container
    @property
    def columns(self) -> list[str]:
        return list(self._data)

    def __len__(self) -> int:
        return len(self._data)

    def __iter__(self) -> Iterator[str]:
        return iter(self._data)

    def __getattr__(self, column: str):
        try:
            return self[column]
        except KeyError:
            raise AttributeError(column)

    def __getitem__(self, columns):
        # boolean-stream selection filters every column (dataframe.py:35)
        if isinstance(columns, TickStream):
            from .operators.baselib import filter_

            return TsFrame(
                {c: filter_(columns, v) for c, v in self._data.items()}
            )
        if isinstance(columns, list):
            missing = [c for c in columns if c not in self._data]
            if missing:
                raise KeyError(f"Unrecognized columns: {missing}")
            return TsFrame({c: self._data[c] for c in columns})
        if columns not in self._data:
            raise KeyError(f"Unrecognized column: '{columns}'")
        return self._data[columns]

    def __setitem__(self, columns, values):
        if not isinstance(columns, list):
            columns = [columns]
        if isinstance(values, TsFrame):
            values = list(values._data.values())
        elif not isinstance(values, list):
            values = [values]
        if len(values) != len(columns):
            raise ValueError(f"Expected {len(columns)} values got {len(values)}")
        self._data.update(zip(columns, values))

    # ----------------------------------------------------- arithmetic
    def _apply_binary_op(self, other, method):
        if isinstance(other, TsFrame):
            values = []
            for col in self.columns:
                rhs = other._data.get(col)
                if rhs is None:
                    raise ValueError(f"Shape mismatch, missing column {col}")
                values.append(rhs)
        elif not isinstance(other, (tuple, list)):
            values = [other] * len(self._data)
        else:
            values = list(other)
        if len(values) != len(self.columns):
            raise ValueError(
                f"Shape mismatch, expected {len(self.columns)} columns "
                f"got {len(values)}"
            )
        return TsFrame(
            {
                col: method(v1, v2)
                for col, v1, v2 in zip(self.columns, self._data.values(), values)
            }
        )

    def __add__(self, o):      return self._apply_binary_op(o, lambda x, y: x + y)
    def __sub__(self, o):      return self._apply_binary_op(o, lambda x, y: x - y)
    def __mul__(self, o):      return self._apply_binary_op(o, lambda x, y: x * y)
    def __truediv__(self, o):  return self._apply_binary_op(o, lambda x, y: x / y)
    def __floordiv__(self, o): return self._apply_binary_op(o, lambda x, y: x // y)
    def __pow__(self, o):      return self._apply_binary_op(o, lambda x, y: x ** y)
    def __gt__(self, o):       return self._apply_binary_op(o, lambda x, y: x > y)
    def __ge__(self, o):       return self._apply_binary_op(o, lambda x, y: x >= y)
    def __lt__(self, o):       return self._apply_binary_op(o, lambda x, y: x < y)
    def __le__(self, o):       return self._apply_binary_op(o, lambda x, y: x <= y)

    def __repr__(self) -> str:  # pragma: no cover
        return f"TsFrame(columns={self.columns})"

    # ------------------------------------------------------ evaluation
    def _aligned(self) -> SparkDataFrame:
        if not self._data:
            raise ValueError("empty frame")
        return align(self._data, keep_ticked=True)

    def to_spark(
        self,
        starttime: _dt.datetime | None = None,
        endtime: _dt.datetime | None = None,
    ) -> SparkDataFrame:
        """Wide aligned frame (key, ts, seq, <col>...): one row per tick
        of any column, last-value persistence per column — the batch
        analogue of reading every edge in a node. Single plan, single
        key shuffle."""
        a = self._aligned().drop(*[_ticked(c) for c in self.columns])
        if starttime is not None:
            a = a.filter(F.col(TS) >= F.lit(starttime))
        if endtime is not None:
            a = a.filter(F.col(TS) <= F.lit(endtime))
        return a

    def to_pandas(
        self,
        starttime: _dt.datetime | None = None,
        endtime: _dt.datetime | None = None,
    ):
        """csp.DataFrame.to_pandas parity (dataframe.py:156-166): union
        time index, each column valued only where IT ticked (NaN
        elsewhere). Keyed frames get a (key, ts) MultiIndex; the
        degenerate single-key frame gets the reference's plain time
        index. One Spark job for the whole frame."""
        a = self._aligned()
        if starttime is not None:
            a = a.filter(F.col(TS) >= F.lit(starttime))
        if endtime is not None:
            a = a.filter(F.col(TS) <= F.lit(endtime))
        proj = [
            F.when(F.col(_ticked(c)), F.col(c)).alias(c) for c in self.columns
        ]
        pdf = (
            a.select(KEY, TS, SEQ, *proj)
            .orderBy(KEY, TS, SEQ)
            .toPandas()
        )
        keys = pdf[KEY].unique()
        if len(keys) == 1 and keys[0] == GLOBAL_KEY:
            return pdf.drop(columns=[KEY, SEQ]).set_index(TS)[self.columns]
        return pdf.drop(columns=[SEQ]).set_index([KEY, TS])[self.columns]

    # ------------------------------------------------- ts-of-frames
    def _resolve(self, x) -> TickStream:
        if isinstance(x, str):
            return self[x]
        if not isinstance(x, TickStream):
            raise ValueError(
                f"expected a column name or TickStream, got {type(x).__name__}"
            )
        return x

    def to_spark_ts(
        self,
        trigger,
        window,
        tindex=None,
        wait_all_valid: bool = True,
    ) -> SparkDataFrame:
        """The scale form of csp.DataFrame.to_pandas_ts (reference
        csp/dataframe.py:167-202 + csp/impl/pandas.py make_pandas): for
        every ``trigger`` tick, the windowed buffer of every column —
        as ONE Spark DataFrame ``(key, trig_ts, trig_seq, ts, seq,
        <columns...>)``, one row per (trigger tick, buffer time); a
        column is NULL on rows where it did not tick (the reference's
        union-index NaN fill). A NULL key is a key like any other.

        ``window``: int n = last n ticks PER COLUMN as of the trigger
        (like set_buffering_policy(tick_count=n) + items_at(-(n-1),
        None)); timedelta w = ticks in [trig_ts - w, trig_ts].
        ``tindex``: sample every column at tindex's ticks first (the
        aligned-index form). ``wait_all_valid``: gate trigger and
        buffers until every column has ticked once (make_pandas wires
        csp.filter(all_valid, ...) on trigger and every column).

        Plan: one tagged union of every column's ticks and the trigger
        (a trigger sorts after a tick of its own cycle), shuffled by
        key ONCE; everything after runs on that partitioning. The
        all-valid threshold is each key's largest first-valid (ts, seq)
        over the columns, an unbounded per-key window applied as a
        filter. A count window collects each column's last ``window``
        ticks as an array at every tick of that column (a sliding rows
        frame per (key, column)); a trigger carries the latest array of
        each column forward with a running per-key ``last``, explodes
        them and merges ticks of one cycle with a group-by on the
        trigger's buffer rows. Cost: O(column ticks × window) array
        work plus O(triggers × window) output rows — linear in the
        data for a fixed window, and never trigger × full history. A
        time window collapses each key's cycles and band-joins them
        with the gated triggers on (key, ts); its output is the
        triggers × ticks in the band. Output size is inherently
        |trigger| × window rows: frame materialization is the one
        operator whose OUTPUT, not its shuffle, is the cost."""
        return self._buffer_rows(trigger, window, tindex, wait_all_valid,
                                 keep_empty=False)

    def _buffer_rows(self, trigger, window, tindex, wait_all_valid,
                     keep_empty: bool) -> SparkDataFrame:
        """to_spark_ts' long frame; ``keep_empty`` adds one row with a
        NULL ts for each (gated) trigger whose buffers are all empty."""
        if not self._data:
            raise ValueError("empty frame")
        timed = isinstance(window, _dt.timedelta)
        if not timed and not (isinstance(window, int) and window > 0):
            raise ValueError(f"invalid window {window!r}")
        names = self.columns
        n = len(names)
        raw = list(self._data.values())
        bufs = raw
        if tindex is not None:
            from .core.align import sample

            bufs = [sample(self._resolve(tindex), x) for x in raw]
        # tags: 0..n-1 buffer ticks of each column, n the trigger, and
        # with tindex n+1.. the raw columns the threshold reads
        # (make_pandas gates on the data basket, not the sampled one)
        parts = [(i, s, i) for i, s in enumerate(bufs)]
        parts.append((n, self._resolve(trigger), None))
        if wait_all_valid and tindex is not None:
            parts += [(n + 1 + i, s, i) for i, s in enumerate(raw)]
        dtypes = [dict(s.df.dtypes)[s.value_col] for s in raw]

        def tagged(tag, s, slot):
            vals = [
                (F.col(s.value_col) if j == slot else F.lit(None))
                .cast(dtypes[j]).alias(c)
                for j, c in enumerate(names)
            ]
            return s.df.select(KEY, TS, SEQ, F.lit(tag).alias(_TAG), *vals)

        u = reduce(
            SparkDataFrame.unionByName, [tagged(*p) for p in parts]
        ).repartition(KEY)
        tag = F.col(_TAG)
        if wait_all_valid:
            # a column is valid from its first non-NULL tick (align's
            # last-value rule; NaN is a value); a key where some column
            # never ticks has a NULL threshold and drops out
            per_key = W.partitionBy(KEY)
            first_valid = [
                F.min(
                    F.when(
                        (tag == (j if tindex is None else n + 1 + j))
                        & F.col(c).isNotNull(),
                        F.struct(TS, SEQ),
                    )
                ).over(per_key).alias(f"__fv{j}")
                for j, c in enumerate(names)
            ]
            u = (
                u.select("*", *first_valid)
                .filter(reduce(
                    lambda a, j: a & (F.struct(TS, SEQ) >= F.col(f"__fv{j}")),
                    range(n), tag <= n,
                ))
                .drop(*[f"__fv{j}" for j in range(n)])
            )
        trig = u.filter(tag == n).select(
            KEY, F.col(TS).alias(TRIG_TS), F.col(SEQ).alias(TRIG_SEQ)
        )
        if timed:
            ticks = _merge(u.filter(tag < n), [KEY, TS, SEQ], names)
            tkey = "__trig_key"
            trig = trig.withColumnRenamed(KEY, tkey)
            band = [
                F.col(tkey).eqNullSafe(F.col(KEY)),
                F.struct(TS, SEQ) <= F.struct(TRIG_TS, TRIG_SEQ),
                F.col(TS) >= F.col(TRIG_TS) - F.lit(window),
            ]
            return trig.join(
                ticks, band, "left" if keep_empty else "inner"
            ).select(
                F.col(tkey).alias(KEY), TRIG_TS, TRIG_SEQ, TS, SEQ, *names
            )
        # each column's last `window` ticks, held at every tick of it
        last_n = (
            W.partitionBy(KEY, _TAG)
            .orderBy(TS, SEQ)
            .rowsBetween(-(window - 1), W.currentRow)
        )
        running = (
            W.partitionBy(KEY)
            .orderBy(TS, SEQ, _TAG)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        u = u.withColumn(
            "__buf",
            F.collect_list(F.struct(TS, SEQ, *names)).over(last_n),
        )
        held = [
            F.last(F.when(tag == j, F.col("__buf")), ignorenulls=True)
            .over(running)
            for j in range(n)
        ]
        explode = F.explode_outer if keep_empty else F.explode
        rows = (
            u.select(
                KEY, TS, SEQ, _TAG,
                F.flatten(F.array_compact(F.array(*held))).alias("__buf"),
            )
            .filter(tag == n)
            .select(
                KEY,
                F.col(TS).alias(TRIG_TS),
                F.col(SEQ).alias(TRIG_SEQ),
                explode("__buf").alias("__b"),
            )
            .select(KEY, TRIG_TS, TRIG_SEQ, "__b.*")
        )
        return _merge(rows, [KEY, TRIG_TS, TRIG_SEQ, TS, SEQ], names)

    def to_pandas_ts(
        self,
        trigger,
        window,
        tindex=None,
        wait_all_valid: bool = True,
    ):
        """csp.DataFrame.to_pandas_ts parity: a pandas Series OF pandas
        DataFrames, indexed by trigger time — each element the frame of
        the last ``window`` ticks at that trigger (empty frame when no
        data is in the window, like make_pandas). Keyed frames get a
        (key, trigger-time) MultiIndex. This is the driver-side
        convenience over to_spark_ts — use the Spark form at scale.
        One Spark job: the buffer rows carry the trigger index too."""
        import pandas as pd

        pdf = (
            self._buffer_rows(trigger, window, tindex, wait_all_valid,
                              keep_empty=True)
            .orderBy(KEY, TRIG_TS, TRIG_SEQ, TS, SEQ)
            .toPandas()
        )
        if not len(pdf):
            return pd.Series(dtype="object")
        empty = pd.DataFrame(
            {c: pd.Series(dtype="float64") for c in self.columns},
            index=pd.DatetimeIndex([]),
        )
        single = set(pdf[KEY].unique()) <= {GLOBAL_KEY}
        # parallel label/value lists, NOT a dict: two trigger ticks at
        # the same timestamp (distinct seq) must stay distinct entries,
        # matching the reference's pandas Series duplicate index
        labels: list = []
        values: list = []
        for (k, trig_ts, _), g in pdf.groupby(
            [KEY, TRIG_TS, TRIG_SEQ], sort=False, dropna=False
        ):
            g = g[g[TS].notna()]
            values.append(g.set_index(TS)[self.columns] if len(g) else empty)
            labels.append(trig_ts if single else (k, trig_ts))
        index = (
            pd.Index(labels)
            if single
            else pd.MultiIndex.from_tuples(labels)
        )
        return pd.Series(values, index=index, dtype="object")


def _merge(rows: SparkDataFrame, keys: list[str], names: list[str]):
    """One row per ``keys``: ticks of several columns in one engine
    cycle become one row holding each column's value (first non-NULL;
    a NaN is a value)."""
    return rows.groupBy(*keys).agg(
        *[F.first(c, ignorenulls=True).alias(c) for c in names]
    )

"""csp.DataFrame-parity tests (reference csp/tests/test_dataframe.py
patterns: column access, elementwise broadcasting, boolean filtering,
to_pandas evaluation)."""

import math

import pandas as pd
import pytest

from csp_spark import TsFrame, TickStream
from csp_spark.operators import baselib as bl

from conftest import START, TD


def t(s):
    return START + TD(seconds=s)


@pytest.fixture()
def frame(spark):
    bid = bl.curve(spark, [(t(0.5), 99.0), (t(1.5), 99.1)])
    ask = bl.curve(spark, [(t(1), 100.0), (t(2), 100.2)])
    return TsFrame({"bid": bid, "ask": ask})


def test_columns_and_access(frame):
    assert frame.columns == ["bid", "ask"]
    assert isinstance(frame["bid"], TickStream)
    assert isinstance(frame.ask, TickStream)
    sub = frame[["ask"]]
    assert sub.columns == ["ask"]
    with pytest.raises(KeyError):
        frame["nope"]
    with pytest.raises(AttributeError):
        frame.nope


def test_setitem_and_arithmetic(frame):
    frame["spread"] = frame.ask - frame.bid
    assert frame.columns == ["bid", "ask", "spread"]
    got = frame.spread.collect_ticks()
    assert [x[0] for x in got] == [t(1), t(1.5), t(2)]
    assert [round(x[1], 9) for x in got] == [1.0, 0.9, 1.1]
    # scalar broadcast over every column
    shifted = frame[["bid", "ask"]] + 1.0
    assert [v for _, v in shifted.bid.collect_ticks()] == [100.0, 100.1]
    # frame-by-frame op zips matching columns
    twice = frame[["bid"]] + frame[["bid"]]
    assert [v for _, v in twice.bid.collect_ticks()] == [198.0, 198.2]
    with pytest.raises(ValueError):
        frame[["bid"]] + frame[["ask"]]


def test_bool_stream_filter(frame, spark):
    flag = bl.curve(spark, [(t(0), False), (t(1.2), True)], "boolean")
    kept = frame[flag]
    assert [x[0] for x in kept.bid.collect_ticks()] == [t(1.5)]
    assert [x[0] for x in kept.ask.collect_ticks()] == [t(2)]


def test_to_pandas_parity(frame):
    pdf = frame.to_pandas()
    # union time index; each column NaN except at its own ticks
    assert list(pdf.index) == [t(0.5), t(1), t(1.5), t(2)]
    assert pdf["bid"].tolist()[0] == 99.0 and math.isnan(pdf["bid"].tolist()[1])
    assert math.isnan(pdf["ask"].tolist()[0]) and pdf["ask"].tolist()[1] == 100.0
    # bounded evaluation window
    sub = frame.to_pandas(starttime=t(1), endtime=t(1.5))
    assert list(sub.index) == [t(1), t(1.5)]


def test_to_spark_last_value(frame):
    rows = frame.to_spark().orderBy("ts", "seq").collect()
    assert [r["bid"] for r in rows] == [99.0, 99.0, 99.1, 99.1]
    assert [r["ask"] for r in rows] == [None, 100.0, 100.0, 100.2]


# -------------------------------------------------- to_pandas_ts parity
# Reference semantics: csp/dataframe.py:167-202 + csp/impl/pandas.py
# make_pandas — a time series of pandas DataFrames, one per trigger
# tick, each holding the windowed buffers of every column.


@pytest.mark.slow
def test_to_pandas_ts_count_window(frame, spark):
    trig = bl.curve(spark, [(t(1.6), 1.0), (t(3), 2.0)])
    out = frame.to_pandas_ts(trig, window=2)
    assert list(out.index) == [t(1.6), t(3)]
    # at t1.6: bid buffer last 2 = [0.5, 1.5], ask last 2 = [1]
    # (wait_all_valid gates columns from the all-valid cycle t=1, so
    # ask has ticked once) -> union index with NaN fill
    f1 = out[t(1.6)]
    assert list(f1.index) == [t(1), t(1.5)]
    assert f1["bid"].tolist()[1] == 99.1 and math.isnan(f1["bid"].tolist()[0])
    assert f1["ask"].tolist()[0] == 100.0 and math.isnan(f1["ask"].tolist()[1])
    # at t3: last 2 per column = bid [1,1.5]... bid kept {1.5} plus
    # window-2 rank over gated ticks {1.5}; ask {1, 2}
    f2 = out[t(3)]
    assert list(f2.index) == [t(1), t(1.5), t(2)]
    assert f2["ask"].dropna().tolist() == [100.0, 100.2]
    assert f2["bid"].dropna().tolist() == [99.1]


def test_to_pandas_ts_time_window_and_no_wait(frame, spark):
    trig = bl.curve(spark, [(t(0.7), 0.0), (t(2), 1.0)])
    out = frame.to_pandas_ts(trig, window=TD(seconds=1), wait_all_valid=False)
    assert list(out.index) == [t(0.7), t(2)]
    # no gating: the t0.7 trigger sees only bid's first tick
    f1 = out[t(0.7)]
    assert list(f1.index) == [t(0.5)]
    assert f1["bid"].tolist() == [99.0]
    assert math.isnan(f1["ask"].tolist()[0])
    # [t2-1s, t2] inclusive
    f2 = out[t(2)]
    assert list(f2.index) == [t(1), t(1.5), t(2)]
    assert f2["bid"].dropna().tolist() == [99.1]
    assert f2["ask"].dropna().tolist() == [100.0, 100.2]


def test_to_pandas_ts_empty_frame(frame, spark):
    # a trigger before any data in the window -> EMPTY frame with the
    # right columns (dataframe.py docstring: "If there is no data in a
    # window, an empty frame will be returned")
    trig = bl.curve(spark, [(t(0.1), 0.0)])
    out = frame.to_pandas_ts(trig, window=2, wait_all_valid=False)
    assert list(out.index) == [t(0.1)]
    f = out[t(0.1)]
    assert len(f) == 0 and list(f.columns) == ["bid", "ask"]


@pytest.mark.slow
def test_to_pandas_ts_duplicate_trigger_timestamps(frame, spark):
    # two trigger ticks at the SAME timestamp (distinct engine cycles)
    # must stay two Series entries — the reference pandas Series keeps
    # duplicate index labels; a dict-keyed build would collapse them
    trig = bl.curve(spark, [(t(1.6), 1.0), (t(1.6), 2.0)])
    out = frame.to_pandas_ts(trig, window=2)
    assert len(out) == 2
    assert list(out.index) == [t(1.6), t(1.6)]
    assert out.iloc[0].equals(out.iloc[1])
    assert list(out.iloc[0].index) == [t(1), t(1.5)]


@pytest.mark.slow
def test_to_pandas_ts_tindex(frame, spark):
    # tindex aligns every column on the sampling clock: frames share
    # one index = tindex ticks (after all-valid), last-value sampled
    tindex = bl.curve(spark, [(t(1.2), 0.0), (t(1.7), 0.0), (t(2.5), 0.0)])
    trig = bl.curve(spark, [(t(3), 1.0)])
    out = frame.to_pandas_ts(trig, window=3, tindex=tindex)
    f = out[t(3)]
    assert list(f.index) == [t(1.2), t(1.7), t(2.5)]
    assert f["bid"].tolist() == [99.0, 99.1, 99.1]
    assert f["ask"].tolist() == [100.0, 100.0, 100.2]


@pytest.mark.slow
def test_to_spark_ts_long_form(frame, spark):
    trig = bl.curve(spark, [(t(3), 1.0)])
    rows = frame.to_spark_ts(trig, window=2).orderBy("ts", "seq").collect()
    assert [r["ts"] for r in rows] == [t(1), t(1.5), t(2)]
    assert all(r["trig_ts"] == t(3) for r in rows)
    assert [r["bid"] for r in rows] == [None, 99.1, None]
    assert [r["ask"] for r in rows] == [100.0, None, 100.2]


def test_to_spark_ts_count_window_plan_is_one_exchange(frame, spark):
    """Regression guard for the count-window plan shape: the r5
    scale-killer joined every trigger against the FULL observation
    history with a (ts,seq) <= trigger range condition. The count
    window now collects each column's last ``window`` ticks with a
    sliding window and hands them to the trigger with a running one,
    all on ONE key shuffle — no join of any kind can appear, so
    trigger × full history cannot either. sf-small correctness can't
    tell the shapes apart — this pins the plan."""
    trig = bl.curve(spark, [(t(1.6), 1.0), (t(3), 2.0)])
    out = frame.to_spark_ts(trig, window=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    for op in ("Join", "NestedLoop", "Cartesian"):
        assert op not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Exchange rangepartitioning" not in plan, plan
    # one scan per source: bid, ask and the trigger
    assert plan.count("Scan ExistingRDD") == 3, plan


@pytest.mark.parametrize("window", [2, TD(seconds=2)], ids=["count", "time"])
def test_to_spark_ts_streams_cut_from_one_table(spark, window):
    # columns and trigger filtered out of ONE table: the gated time
    # window once failed here as an ambiguous self-join
    from pyspark.sql import functions as F

    table = TickStream.from_table(
        spark.createDataFrame(
            [(7, t(i), i, float(i)) for i in range(6)],
            "user_id long, t timestamp, event_id long, v double",
        ),
        ts_col="t", value_col="v", key_col="user_id", seq_col="event_id",
    )

    def cut(m, r):
        return table.with_df(table.df.filter(F.col("seq") % m == r))

    b = cut(2, 1)
    b = b.with_df(b.df.withColumn(b.value_col, F.col(b.value_col) * 2))
    frame = TsFrame({"a": cut(2, 0), "b": b})
    rows = frame.to_spark_ts(cut(3, 0), window).orderBy("ts").collect()
    # all valid from t1; the t3 trigger holds a's t2 and b's t1, t3
    assert [(r["trig_ts"], r["ts"], r["a"], r["b"]) for r in rows] == [
        (t(3), t(1), None, 2.0),
        (t(3), t(2), 2.0, None),
        (t(3), t(3), None, 6.0),
    ]


@pytest.mark.parametrize("window", [2, TD(seconds=2)], ids=["count", "time"])
def test_to_spark_ts_degenerate_inputs(spark, window):
    """Degenerate inputs, the same answer for both window kinds:
    - a NULL key is a group like any other;
    - two columns ticking in one cycle give ONE row with both values;
    - a NaN is a value: it stays NaN and makes its column valid;
    - a key where a column never ticks never becomes all-valid, so it
      gives no rows (nor a to_pandas_ts entry);
    - a tick in the trigger's own cycle is inside the buffer."""
    schema = "key string, ts timestamp, seq long, value double"

    def ticks(rows):
        return TickStream(spark.createDataFrame(rows, schema))

    a = ticks([(None, t(1), 1, 1.0), ("k", t(1), 1, math.nan),
               ("z", t(0), 0, 5.0)])
    b = ticks([(None, t(1), 1, 10.0), ("k", t(0), 0, 20.0),
               ("k", t(2), 2, 21.0)])
    trig = ticks([(None, t(2), 2, 0.0), ("k", t(2), 2, 0.0),
                  ("z", t(2), 2, 0.0)])
    frame = TsFrame({"a": a, "b": b})
    rows = frame.to_spark_ts(trig, window).orderBy("key", "ts").collect()
    got = [(r["key"], r["trig_ts"], r["ts"], r["a"], r["b"]) for r in rows]
    # k's threshold is a's NaN tick at t1: b's t0 tick is gated out
    assert got[0] == (None, t(2), t(1), 1.0, 10.0)
    assert got[1][:3] == ("k", t(2), t(1)) and math.isnan(got[1][3])
    assert got[1][4] is None
    assert got[2] == ("k", t(2), t(2), None, 21.0)
    assert len(got) == 3
    if isinstance(window, int):
        out = frame.to_pandas_ts(trig, window)
        # a MultiIndex holds the NULL key as NaN
        assert [ts for _, ts in out.index] == [t(2), t(2)]
        assert pd.isna(out.index[0][0]) and out.index[1][0] == "k"
        assert out.iloc[0]["b"].tolist() == [10.0]
        assert list(out.iloc[1].index) == [t(1), t(2)]

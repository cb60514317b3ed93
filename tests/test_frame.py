"""csp.DataFrame-parity tests (reference csp/tests/test_dataframe.py
patterns: column access, elementwise broadcasting, boolean filtering,
to_pandas evaluation)."""

import math

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


def test_to_spark_ts_count_window_plan_is_rank_band(frame, spark):
    """Regression guard for the bounded count-window plan shape: the
    r5 scale-killer joined every trigger against the FULL observation
    history with a (ts,seq) <= trigger range condition; the fix ranks
    ticks once and EQUI-joins on (key, rank) so the intermediate is
    |trigger|×window. sf-small correctness can't tell the two apart —
    this pins the plan."""
    trig = bl.curve(spark, [(t(1.6), 1.0), (t(3), 2.0)])
    out = frame.to_spark_ts(trig, window=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    join_lines = [l for l in plan.split("\n") if "Join" in l]
    # the window band must never be a join range-condition against the
    # trigger cycle (the unbounded shape); <= only ever appears in the
    # old form's band predicate
    assert not any("<=" in l for l in join_lines), join_lines
    assert plan.count("NestedLoop") == 0 and plan.count("Cartesian") == 0
    # buffer attachment is the rank-band equi join
    assert any("__r" in l for l in join_lines), join_lines
    # pinned ceilings for this 2-column fixture (observed 18/28; the
    # unbounded form re-plans the band as extra sort+filter stages)
    lines = plan.split("\n")
    exch = sum(1 for l in lines if "Exchange hashpartitioning" in l
               or "Exchange rangepartitioning" in l)
    sorts = sum(1 for l in lines if "Sort [" in l)
    assert exch <= 20, exch
    assert sorts <= 32, sorts

"""Pandas extension type + accessors (reference pandas_ext_type.py /
pandas_accessor.py): Series/DataFrames of edges, elementwise dunder
broadcasting, one-pass run/snap, to_csp lifting."""

import datetime as dt

import pandas as pd
import pytest

from csp_spark import TickStream, TsArray, TsDtype
from csp_spark.operators import baselib as bl

START = dt.datetime(2020, 1, 1)


def t(s):
    return START + dt.timedelta(seconds=s)


@pytest.fixture()
def edges(spark):
    a = bl.curve(spark, [(t(0), 1.0), (t(2), 2.0)])
    b = bl.curve(spark, [(t(1), 10.0), (t(3), 20.0)])
    return a, b


def test_tsdtype_parsing_and_registry():
    assert TsDtype(float) is TsDtype("ts[float]")
    assert TsDtype("float").subtype is float
    assert TsDtype(int).name == "ts[int]"
    with pytest.raises(TypeError):
        TsDtype.construct_from_string("notats")
    # registered: pandas resolves the string dtype to our array type
    arr = pd.array([None], dtype="ts[float]")
    assert isinstance(arr, TsArray) and arr.dtype == TsDtype(float)


def test_series_of_edges_dunder_broadcast(spark, edges):
    a, b = edges
    s = pd.Series(TsArray([a, b]), index=["a", "b"], name="px")
    assert s.dtype == TsDtype(float)
    # elementwise arithmetic builds new edges cell-wise
    s2 = s * 2 + 1
    assert isinstance(s2.dtype, TsDtype)
    assert all(isinstance(e, TickStream) for e in s2)
    got = s2.csp.run()
    assert list(got.loc["a"]) == [3.0, 5.0]
    assert list(got.loc["b"]) == [21.0, 41.0]
    # run index carries (label, time)
    assert got.index.names[-1] == "time"
    assert list(got.loc["a"].index) == [t(0), t(2)]


@pytest.mark.slow
def test_series_accessor_apply_run_snap(spark, edges):
    a, b = edges
    s = pd.Series(TsArray([a, b]), index=["a", "b"], name="px")
    # apply: Edge.apply per cell (reference: func maps each VALUE)
    shifted = s.csp.apply(lambda v: v + 100.0)
    got = shifted.csp.run()
    assert list(got.loc["a"]) == [101.0, 102.0]
    # run window filters
    w = s.csp.run(starttime=t(1), endtime=t(2))
    assert list(w.loc["a"]) == [2.0] and list(w.loc["b"]) == [10.0]
    # snap: first tick per edge, original index
    snap = s.csp.snap()
    assert list(snap.index) == ["a", "b"]
    assert list(snap) == [1.0, 10.0]


def test_to_csp_lifts_series(spark):
    ps = pd.Series([1.5, 2.5, 3.5],
                   index=pd.DatetimeIndex([t(0), t(1), t(2)]))
    e = ps.to_csp(spark)
    assert isinstance(e, TickStream)
    assert [v for _, v in e.collect_ticks()] == [1.5, 2.5, 3.5]
    # non-datetime index rejected
    with pytest.raises(TypeError, match="DatetimeIndex"):
        pd.Series([1.0], index=["x"]).to_csp(spark)


@pytest.mark.slow
def test_dataframe_accessor_run_snap(spark, edges):
    a, b = edges
    df = pd.DataFrame({
        "bid": TsArray([a, b]),
        "ask": TsArray([a + 1.0, b + 1.0]),
        "static": [1, 2],
    }, index=["s1", "s2"])
    out = df.csp.run()
    assert list(out.columns) == ["bid", "ask"]
    # s1 ticks at t0,t2 in both columns (same clock)
    assert list(out.loc[("s1", t(0))]) == [1.0, 2.0]
    assert list(out.loc[("s2", t(3))]) == [20.0, 21.0]
    snap = df.csp.snap()
    assert list(snap["bid"]) == [1.0, 10.0]
    assert list(snap["ask"]) == [2.0, 11.0]
    assert list(snap["static"]) == [1, 2]  # non-ts columns untouched


@pytest.mark.slow
def test_csp_perspective_table(spark, edges):
    """CspPerspectiveTable (reference impl/pandas_perspective.py:
    114-261) over TsFrame + the websocket table stack: run_historical
    snapshot, live run() feed with static-record merge, Table(limit=)
    ring, keep_history=False indexed semantics, thread lifecycle."""
    import json
    from csp_spark.impl.pandas_perspective import CspPerspectiveTable

    a, b = edges
    df = pd.DataFrame(
        {
            "px": TsArray([a, b]),
            "name": ["Apple", "Banana"],
        },
        index=["a", "b"],
    )

    # run_historical: one engine pass, (index, time) rows in time order
    tbl = CspPerspectiveTable(df, index_col="sym", time_col="when")
    hist = tbl.run_historical(t(0), t(4))
    hdf = hist.to_df()
    assert list(hdf.columns) == ["sym", "when", "px"]
    # reference row order: per-index blocks (the accessor's run
    # frame), time-sorted only when limit is set
    assert [
        (r.sym, r.when.to_pydatetime(), r.px) for r in hdf.itertuples()
    ] == [("a", t(0), 1.0), ("a", t(2), 2.0),
          ("b", t(1), 10.0), ("b", t(3), 20.0)]
    assert hist.size() == 4 and hist.view() is hist
    assert json.dumps(hist.to_columns()["sym"]) == '["a", "a", "b", "b"]'

    # live run(): engine-ordered updates, static columns merged per row
    tbl.run(starttime=t(0), endtime=t(4), realtime=False)
    snap = tbl.to_json()
    assert [(r["sym"], r["px"], r["name"]) for r in snap] == [
        ("a", 1.0, "Apple"), ("b", 10.0, "Banana"),
        ("a", 2.0, "Apple"), ("b", 20.0, "Banana"),
    ]
    assert all(r["when"] is not None for r in snap)
    tbl.adapter.stop()

    # limit ring: trailing N updates only
    ltbl = CspPerspectiveTable(df, index_col="sym", time_col="when",
                               limit=2)
    ltbl.run(starttime=t(0), endtime=t(4), realtime=False)
    assert [r["px"] for r in ltbl.to_json()] == [2.0, 20.0]
    ltbl.adapter.stop()

    # keep_history=False: indexed table, static preloaded, last wins
    itbl = CspPerspectiveTable(df, index_col="sym", time_col=None,
                               keep_history=False)
    pre = {r["sym"]: r for r in itbl.to_json()}
    assert pre["a"]["name"] == "Apple" and "px" not in pre["a"]
    itbl.run(starttime=t(0), endtime=t(4), realtime=False)
    post = {r["sym"]: r for r in itbl.to_json()}
    assert post["a"]["px"] == 2.0 and post["b"]["px"] == 20.0
    assert len(post) == 2
    itbl.adapter.stop()

    # validation + lifecycle + widget stub
    with pytest.raises(ValueError):
        CspPerspectiveTable(df, time_col=None)  # history needs time
    with pytest.raises(ValueError):
        CspPerspectiveTable(df, keep_history=False, limit=3)
    with pytest.raises(ValueError):
        itbl.stop()  # runner already joined? no runner started via start()
    with pytest.raises(NotImplementedError):
        itbl.get_widget()
    stbl = CspPerspectiveTable(df, index_col="sym", time_col="when")
    stbl.start(starttime=t(0), endtime=t(4))
    stbl.join()
    assert not stbl.is_running()
    assert len(stbl.to_json()) == 4
    stbl.adapter.stop()


def test_perspective_multi_table_lifecycle(spark):
    """r10 review regression: CspPerspectiveMultiTable.start launches
    the per-table engine THREADS (non-blocking) and stop/join follow
    the reference's runner contract."""
    import datetime as dtm
    import time

    import pandas as pd
    import pytest

    from csp_spark.impl.pandas_perspective import (
        CspPerspectiveMultiTable, CspPerspectiveTable,
    )

    def mk():
        idx = pd.DatetimeIndex(
            [dtm.datetime(2020, 1, 1), dtm.datetime(2020, 1, 1, 0, 1)]
        )
        data = pd.DataFrame(
            {"index": ["a", "b"], "timestamp": idx, "v": [1.0, 2.0]}
        )
        return CspPerspectiveTable(data)

    multi = CspPerspectiveMultiTable({"t1": mk(), "t2": mk()})
    assert multi["t1"] is multi.tables["t1"]
    with pytest.raises(ValueError, match="No active runner"):
        multi.stop()
    t0 = time.monotonic()
    multi.start(
        starttime=dtm.datetime(2020, 1, 1),
        endtime=dtm.timedelta(seconds=30),
    )
    # non-blocking: both feeds run on threads, start returns immediately
    assert time.monotonic() - t0 < 5.0
    multi.stop()
    assert not multi.is_running()
    multi.join()  # idempotent after stop


def test_r11_review_fixes_pandas_surfaces(spark):
    """r11 late-review regressions: pipe stays edge-level after apply
    went value-level; TsArray reductions fold constant cells and honor
    skipna=False; int/bool ndarray constants; apply(result_type=)
    keyword; array-edge broadcast shape mismatch raises."""
    import datetime as dtm
    import math

    import numpy as np

    import csp_spark
    from csp_spark import TsArray, TsDtype, engine_window

    csp_spark.enable_reference_alias()
    import csp
    from csp_spark.operators.baselib import accum

    start = dtm.datetime(2024, 1, 1)
    end = start + dtm.timedelta(seconds=4)
    with engine_window(start, end):
        e1 = csp.count(csp.timer(dtm.timedelta(seconds=1)))
        ic = csp.const(np.array([1, 2, 3]))        # int dtype
        arr3 = csp.const(np.array([1.0, 2.0, 3.0]))

    assert ic.collect_ticks("")[0][1] == [1.0, 2.0, 3.0]

    s = pd.Series(TsArray([e1]), index=["a"])
    piped = s.csp.pipe(accum)
    assert list(piped.csp.run(starttime=start, endtime=end).loc["a"]) == \
        [1.0, 3.0, 6.0, 10.0]

    s2 = pd.Series(TsArray([e1, 2.0]), index=["a", "b"],
                   dtype=TsDtype(float))
    assert [v for _, v in s2.sum().collect_ticks("")] == \
        [3.0, 4.0, 5.0, 6.0]
    assert math.isnan(
        pd.Series(TsArray([e1, float("nan")])).sum(skipna=False))

    typed = e1.apply(lambda v: str(v), result_type="string")
    assert dict(typed.df.dtypes)["value"] == "string"

    bad = arr3 * np.array([1.0, 2.0])
    with pytest.raises(Exception, match="shape mismatch"):
        bad.df.collect()

    with pytest.raises(RuntimeError, match="engine_window"):
        with engine_window(start, end):
            csp.feedback(float)

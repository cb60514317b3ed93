"""Golden-value tests for baselib ops — reference pattern: wire small
graphs from curves, run, assert exact [(time, value)] lists
(csp/tests/test_baselib.py)."""

import datetime as dt
import math

import pytest

from csp_spark import TickStream
from csp_spark.operators import baselib as bl
from csp_spark.operators import math_ops as M

from conftest import START, TD


def t(s):
    return START + TD(seconds=s)


@pytest.mark.slow
def test_spread_readme_slice(spark):
    # reference README.md:25-47 bid/ask spread with valid-gating
    bid = bl.curve(spark, [(t(0.5), 99.0), (t(1.5), 99.1)])
    ask = bl.curve(spark, [(t(1), 100.0), (t(2), 100.2)])
    spread = M.sub(ask, bid)
    got = spread.collect_ticks()
    assert [x[0] for x in got] == [t(1), t(1.5), t(2)]
    assert [round(x[1], 9) for x in got] == [1.0, 0.9, 1.1]


def test_sample_and_filter(spark):
    x = bl.curve(spark, [(t(i), float(i)) for i in range(1, 6)])
    trig = bl.curve(spark, [(t(2.5), True), (t(4.5), True)], "boolean")
    assert bl.sample(trig, x).collect_ticks() == [(t(2.5), 2.0), (t(4.5), 4.0)]
    flag = bl.curve(spark, [(t(0), True), (t(2.2), False), (t(3.2), True)], "boolean")
    assert bl.filter_(flag, x).collect_ticks() == [
        (t(1), 1.0), (t(2), 2.0), (t(4), 4.0), (t(5), 5.0),
    ]


def test_merge_left_wins_on_tie(spark):
    a = bl.curve(spark, [(t(0), 1.0), (t(2), 2.0)])
    b = bl.curve(spark, [(t(0), 10.0), (t(1), 11.0)])
    assert bl.merge(a, b).collect_ticks() == [(t(0), 1.0), (t(1), 11.0), (t(2), 2.0)]


@pytest.mark.slow
def test_delay_diff_accum_count_firstN(spark):
    x = bl.curve(spark, [(t(i), float(i * i)) for i in range(5)])
    assert bl.delay(x, TD(seconds=10)).collect_ticks()[0] == (t(10), 0.0)
    assert bl.delay(x, 2).collect_ticks() == [
        (t(2), 0.0), (t(3), 1.0), (t(4), 4.0),
    ]
    assert bl.diff(x, 1).collect_ticks() == [
        (t(1), 1.0), (t(2), 3.0), (t(3), 5.0), (t(4), 7.0),
    ]
    assert bl.accum(x).collect_ticks()[-1] == (t(4), 30.0)
    assert [v for _, v in bl.count(x).collect_ticks()] == [1, 2, 3, 4, 5]
    assert len(bl.firstN(x, 3).collect_ticks()) == 3


def test_drop_dups_and_nans(spark):
    x = bl.curve(
        spark,
        [(t(0), 1.0), (t(1), 1.0), (t(2), float("nan")), (t(3), float("nan")), (t(4), 2.0)],
    )
    got = bl.drop_dups(x).collect_ticks()
    assert [x[0] for x in got] == [t(0), t(2), t(4)]
    got2 = bl.drop_nans(x).collect_ticks()
    assert got2 == [(t(0), 1.0), (t(1), 1.0), (t(4), 2.0)]
    # eps mode
    y = bl.curve(spark, [(t(0), 1.0), (t(1), 1.0000001), (t(2), 1.5)])
    assert [v for _, v in bl.drop_dups(y, eps=1e-3).collect_ticks()] == [1.0, 1.5]


def test_unroll_collect_roundtrip(spark):
    lst = bl.curve(spark, [(t(0), 1.0)])
    lst = TickStream(lst.df.selectExpr("key", "ts", "seq", "array(1.0,2.0,3.0) as value"))
    u = bl.unroll(lst)
    ticks = u.collect_ticks()
    assert [(x[0], float(x[1])) for x in ticks] == [(t(0), 1.0), (t(0), 2.0), (t(0), 3.0)]
    # seq increments engine-cycle style
    seqs = [r["seq"] for r in u.df.orderBy("seq").collect()]
    assert seqs == [0, 1, 2]
    # csp.collect groups per engine cycle: an unrolled stream ticks on
    # three successive cycles → three 1-element lists (csp semantics)
    back = bl.collect(u)
    assert [[float(v) for v in vs] for _, vs in back.collect_ticks()] == [[1.0], [2.0], [3.0]]
    # PushMode.BURST conflates same-timestamp ticks into one list
    (tick,) = bl.burst(u).collect_ticks()
    assert tick[0] == t(0) and [float(v) for v in tick[1]] == [1.0, 2.0, 3.0]


def test_gate(spark):
    x = bl.curve(spark, [(t(i), float(i)) for i in range(5)])
    release = bl.curve(spark, [(t(0), False), (t(2.5), True), (t(3.5), False)], "boolean")
    got = bl.gate(x, release).collect_ticks()
    assert got[0] == (t(2.5), [0.0, 1.0, 2.0])
    assert got[1] == (t(3), [3.0])
    # 4.0 arrives while closed and never flushes (no later release)


def test_default(spark):
    x = bl.curve(spark, [(t(5), 42.0)])
    got = bl.default(x, 7.0, start=START).collect_ticks()
    assert got == [(t(0), 7.0), (t(5), 42.0)]
    y = bl.curve(spark, [(t(0), 42.0)])
    assert bl.default(y, 7.0, start=START).collect_ticks() == [(t(0), 42.0)]


def test_split_and_demultiplex(spark):
    x = bl.curve(spark, [(t(i), float(i)) for i in range(4)])
    flag = bl.curve(spark, [(t(0), True), (t(1.5), False)], "boolean")
    tt, ff = bl.split(flag, x)
    assert [v for _, v in tt.collect_ticks()] == [0.0, 1.0]
    assert [v for _, v in ff.collect_ticks()] == [2.0, 3.0]


def test_struct_ops(spark):
    trades = bl.curve(spark, [(t(0), 1.0)])
    df = trades.df.selectExpr(
        "key", "ts", "seq", "named_struct('price', 99.5, 'qty', 100L) as value"
    )
    s = TickStream(df)
    price = bl.struct_field(s, "price")
    assert price.collect_ticks() == [(t(0), 99.5)]
    a = bl.curve(spark, [(t(0), 1.0), (t(2), 2.0)])
    b = bl.curve(spark, [(t(1), 10.0)])
    built = bl.struct_fromts({"a": a, "b": b})
    vals = [(x[0], (x[1]["a"], x[1]["b"])) for x in built.collect_ticks()]
    assert vals == [(t(0), (1.0, None)), (t(1), (1.0, 10.0)), (t(2), (2.0, 10.0))]


def test_math_unary_binary(spark):
    x = bl.curve(spark, [(t(0), 4.0), (t(1), 9.0)])
    assert [v for _, v in M.sqrt(x).collect_ticks()] == [2.0, 3.0]
    y = bl.curve(spark, [(t(0.5), 2.0)])
    got = M.multiply(x, y).collect_ticks()
    assert got == [(t(0.5), 8.0), (t(1), 18.0)]
    # erf to 7 decimals (reference tolerance, test_stats.py:22)
    e = M.erf(bl.curve(spark, [(t(0), 0.5)])).collect_ticks()[0][1]
    assert abs(e - math.erf(0.5)) < 1e-7


def test_multiplex(spark):
    xs = bl.curve(spark, [(t(i), float(i)) for i in range(5)], key="a")
    ys = bl.curve(spark, [(t(i + 0.5), float(10 + i)) for i in range(5)], key="b")
    basket = TickStream(xs.df.unionByName(ys.df))
    sel = bl.curve(spark, [(t(0), "a"), (t(2.2), "b")], "string")
    got = bl.multiplex(basket, sel)
    rows = got.df.orderBy("ts").collect()
    keys = [r["key"] for r in rows]
    assert keys == ["a", "a", "a", "b", "b", "b"]


# ----------------------------------------------------------------------
# fluent Edge API (csp/impl/wiring/edge.py dunders; Functional-Methods)
# ----------------------------------------------------------------------

def test_edge_dunder_math_valid_gating(spark):
    bid = bl.curve(spark, [(t(0.5), 99.0), (t(1.5), 99.1)])
    ask = bl.curve(spark, [(t(1), 100.0), (t(2), 100.2)])
    spread = ask - bid                        # fires once both valid
    got = spread.collect_ticks()
    assert [x[0] for x in got] == [t(1), t(1.5), t(2)]
    assert [round(x[1], 9) for x in got] == [1.0, 0.9, 1.1]
    mid = (ask + bid) / 2.0                   # scalar operand path
    got = mid.collect_ticks()
    assert [round(x[1], 9) for x in got] == [99.5, 99.55, 99.65]


@pytest.mark.slow
def test_edge_dunder_compare_and_unary(spark):
    x = bl.curve(spark, [(t(i), float(i)) for i in range(1, 4)])
    flags = (x >= 2.0).collect_ticks()
    assert [v for _, v in flags] == [False, True, True]
    assert [v for _, v in (-x).collect_ticks()] == [-1.0, -2.0, -3.0]
    assert [v for _, v in abs(x - 2.0).collect_ticks()] == [1.0, 0.0, 1.0]
    # scalar-left reverse op
    assert [v for _, v in (10.0 - x).collect_ticks()] == [9.0, 8.0, 7.0]


@pytest.mark.slow
def test_edge_pipe_apply(spark):
    x = bl.curve(spark, [(t(1), 2.0), (t(2), 3.0)])
    assert x.pipe(bl.count).collect_ticks() == [(t(1), 1), (t(2), 2)]
    assert x.apply(lambda v: v * v).collect_ticks() == [(t(1), 4.0), (t(2), 9.0)]


def test_dynamic_collect(spark):
    rows = [
        ("a", t(1), 0, 1.0), ("b", t(1), 0, 2.0),
        ("a", t(2), 0, 3.0),
        ("b", t(3), 0, 4.0), ("c", t(3), 0, 5.0),
    ]
    x = TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"))
    got = bl.dynamic_collect(x).collect_ticks()
    assert got == [
        (t(1), {"a": 1.0, "b": 2.0}),
        (t(2), {"a": 3.0}),
        (t(3), {"b": 4.0, "c": 5.0}),
    ]


@pytest.mark.slow
def test_exprtk_full_surface(spark):
    """csp.exprtk parity (reference test_baselib.py exprtk tests):
    constants, inline functions, trigger sampling, state vars."""
    from csp_spark.operators.exprtk import expand_functions, exprtk_ts

    assert (
        expand_functions("foo(a, b+1) + foo(2, 3)", {"foo": (("x", "y"), "x*y")})
        == "((a)*(b+1)) + ((2)*(3))"
    )

    x = bl.curve(spark, [(t(i), float(i + 1)) for i in range(4)])
    y = bl.curve(spark, [(t(0), 10.0), (t(2), 20.0)])
    # stateless: constants + functions, fires on any tick once valid
    out = exprtk_ts(
        {"x": x, "y": y},
        "scale * addup(x, y)",
        functions={"addup": (("a", "b"), "a + b")},
        constants={"scale": 2.0},
    )
    got = out.collect_ticks()
    assert [v for _, v in got] == [22.0, 24.0, 46.0, 48.0]

    # trigger: compute only at trigger ticks (sample semantics)
    trig = bl.curve(spark, [(t(1.5), True), (t(3), True)], "boolean")
    out_t = exprtk_ts({"x": x, "y": y}, "x + y", trigger=trig)
    assert [v for _, v in out_t.collect_ticks()] == [12.0, 24.0]

    # state vars: exponential accumulator s := 0.5*s + x
    out_s = exprtk_ts({"x": x}, "s := 0.5*s + x; s", state_vars={"s": 0.0})
    vals = [v for _, v in out_s.collect_ticks()]
    exp = []
    s = 0.0
    for i in range(4):
        s = 0.5 * s + (i + 1)
        exp.append(s)
    assert vals == exp


@pytest.mark.slow
def test_exprtk_output_ndarray(spark):
    """output_ndarray=True (reference baselib.py:665): 'return [..]'
    ticks a vector — codegen F.array when stateless, list output on
    the stateful path; malformed expressions fail at build."""
    import pytest

    from csp_spark.operators.exprtk import exprtk_ts

    x = bl.curve(spark, [(t(i), float(i + 1)) for i in range(3)])
    y = bl.curve(spark, [(t(0), 10.0)])
    # stateless vector
    out = exprtk_ts({"x": x, "y": y}, "return [x + y, x * y, 2]",
                    output_ndarray=True)
    got = [list(v) for _, v in out.collect_ticks()]
    assert got == [[11.0, 10.0, 2.0], [12.0, 20.0, 2.0], [13.0, 30.0, 2.0]]
    # stateful vector: running sum + last value
    out_s = exprtk_ts({"x": x}, "s := s + x; return [s, x]",
                      state_vars={"s": 0.0}, output_ndarray=True)
    got_s = [list(v) for _, v in out_s.collect_ticks()]
    assert got_s == [[1.0, 1.0], [3.0, 2.0], [6.0, 3.0]]
    # contract errors at build time
    with pytest.raises(ValueError, match="return"):
        exprtk_ts({"x": x}, "x + 1", output_ndarray=True)
    with pytest.raises(ValueError, match="state_vars"):
        exprtk_ts({"x": x}, "x + 1; return [x]", output_ndarray=True)


# ---------------------------------------------------------------- round 3
# casts / basket field / delayed wiring / engine-stop hooks


def test_static_and_dynamic_cast(spark):
    x = bl.curve(spark, [(t(1), 1.0), (t(2), 2.9)])
    assert bl.static_cast(x, "long").collect_ticks() == [(t(1), 1), (t(2), 2)]
    s = bl.curve(spark, [(t(1), "10"), (t(2), "20")], "string")
    assert bl.dynamic_cast(s, "int").collect_ticks() == [(t(1), 10), (t(2), 20)]


def test_dynamic_cast_raises_on_bad_value(spark):
    s = bl.curve(spark, [(t(1), "10"), (t(2), "oops")], "string")
    out = bl.dynamic_cast(s, "int")
    with pytest.raises(Exception, match="dynamic_cast"):
        out.collect_ticks()
    # static_cast silently nulls the bad value instead (unchecked)
    assert bl.static_cast(s, "int").df.count() == 2


def test_get_basket_field(spark):
    a = bl.curve(spark, [(t(1), 1.0), (t(2), 2.0)])
    b = bl.curve(spark, [(t(1.5), 10.0)])
    st = bl.struct_fromts({"x": a, "y": b})
    got = bl.get_basket_field(st, "y").collect_ticks()
    assert got == [(t(1.5), 10.0), (t(2), 10.0)]


def test_wrap_feedback_orders_after_cycle(spark):
    x = bl.curve(spark, [(t(1), 1.0), (t(2), 2.0)])
    fb = bl.wrap_feedback(x)
    # same timestamps, one engine cycle later: coincident collect must
    # see original and feedback as separate cycles
    merged = bl.collect({"a": x, "b": fb})
    got = merged.collect_ticks()
    assert [ts for ts, _ in got] == [t(1), t(1), t(2), t(2)]
    assert all(len(v) == 1 for _, v in got)


def test_delayed_collect(spark):
    dc = bl.DelayedCollect()
    dc.add_input(bl.curve(spark, [(t(1), 1.0)]))
    dc.add_input(bl.curve(spark, [(t(1), 2.0), (t(3), 3.0)]))
    got = dc.output().collect_ticks()
    assert got == [(t(1), [1.0, 2.0]), (t(3), [3.0])]


@pytest.mark.slow
def test_delayed_demultiplex_by_key_column(spark):
    a = bl.curve(spark, [(t(1), 1.0), (t(2), 2.0)], key="k1")
    b = bl.curve(spark, [(t(1.5), 5.0)], key="k2")
    x = TickStream(a.df.union(b.df), a.value_col)
    dd = bl.DelayedDemultiplex(x)
    assert dd.demultiplex("k1").collect_ticks() == [(t(1), 1.0), (t(2), 2.0)]
    assert dd.demultiplex("k2").collect_ticks() == [(t(1.5), 5.0)]


def test_delayed_demultiplex_by_key_stream(spark):
    x = bl.curve(spark, [(t(1), 1.0), (t(2), 2.0), (t(3), 3.0)])
    key = bl.curve(spark, [(t(0), "a"), (t(1.5), "b")], "string")
    dd = bl.DelayedDemultiplex(x, key)
    assert dd.demultiplex("a").collect_ticks() == [(t(1), 1.0)]
    assert dd.demultiplex("b").collect_ticks() == [(t(2), 2.0), (t(3), 3.0)]


@pytest.mark.slow
def test_log_settings_and_schedule_on_engine_stop(spark, caplog):
    import logging

    from csp_spark.plans.runtime import run, schedule_on_engine_stop
    from csp_spark.sinks.publish import LogSettings, log_ticks

    LogSettings.set("csp_spark_test_logger")
    x = bl.curve(spark, [(t(1), 1.0)])
    with caplog.at_level(logging.INFO, logger="csp_spark_test_logger"):
        log_ticks(x, tag="tt", n=5)
    assert any("tt" in r.message for r in caplog.records)
    assert caplog.records[0].name == "csp_spark_test_logger"

    fired = []

    def graph():
        schedule_on_engine_stop(lambda: fired.append("a"))
        schedule_on_engine_stop(lambda: fired.append("b"))
        return bl.curve(spark, [(t(1), 1.0)])

    run(graph)
    assert fired == ["a", "b"]
    run(graph)  # callbacks re-register per build, fire once per run
    assert fired == ["a", "b", "a", "b"]


def test_ticked_valid_now_over_align(spark):
    """csp.ticked / csp.valid / csp.now combinators over an align()
    frame (reference builtin_functions.py:29-66,305-310): ticked marks
    the updating stream per cycle, valid turns on after first tick and
    stays on, now() is the cycle time."""
    import csp_spark as csp
    from pyspark.sql import functions as F

    x = bl.curve(spark, [(t(0), 1.0), (t(20), 2.0)])
    y = bl.curve(spark, [(t(10), 5.0)])
    a = csp.align({"x": x, "y": y})
    rows = a.select(
        "ts", csp.ticked("x").alias("tx"), csp.ticked("y").alias("ty"),
        csp.valid("x").alias("vx"), csp.valid("y").alias("vy"),
        (csp.now() == F.col("ts")).alias("now_ok"),
    ).orderBy("ts").collect()
    assert [(r.tx, r.ty, r.vx, r.vy) for r in rows] == [
        (True, False, True, False),   # x ticks, y never ticked yet
        (False, True, True, True),    # y's first tick: both now valid
        (True, False, True, True),    # x ticks again, y stays valid
    ]
    assert all(r.now_ok for r in rows)


@pytest.mark.slow
def test_curve_input_forms(spark):
    """curve accepts datetime tuples, timedelta tuples (+start), and
    the numpy pair fast path (reference csp/curve.py:16-65, _npcurve)."""
    import numpy as np
    import pytest as _pt

    want = [(t(1), 1.0), (t(2), 2.0)]
    a = bl.curve(spark, want).collect_ticks()
    b = bl.curve(
        spark, [(TD(seconds=1), 1.0), (TD(seconds=2), 2.0)], start=START
    ).collect_ticks()
    c = bl.curve(
        spark,
        (np.array([t(1), t(2)], dtype="datetime64[us]"),
         np.array([1.0, 2.0])),
    ).collect_ticks()
    assert a == b == c == want
    with _pt.raises(ValueError):
        bl.curve(spark, [(TD(seconds=1), 1.0)])


@pytest.mark.slow
def test_asof_join_directions_match_pandas(spark):
    """asof_join's backward/forward/nearest (+tolerance) reproduce
    pandas.merge_asof row-for-row, including exact-tie resolution."""
    import numpy as np
    import pandas as pd

    from csp_spark import asof_join

    rng = np.random.RandomState(5)
    base = pd.Timestamp("2020-01-01")

    def frame(n, vals=False, lo=0, hi=2000):
        secs = rng.choice(np.arange(lo, hi), size=2 * n, replace=False)
        pdf = pd.DataFrame({
            "k": rng.choice(["a", "b"], 2 * n),
            "ts": base + pd.to_timedelta(secs, unit="s"),
        })
        # unique ts per key (duplicate right stamps are tie-broken by
        # input order in pandas, which a distributed join can't see)
        pdf = pdf.drop_duplicates(["k", "ts"]).head(n)
        if vals:
            pdf["v"] = np.arange(len(pdf)).astype(float)
        return pdf.sort_values("ts").reset_index(drop=True)

    lpdf, rpdf = frame(35), frame(25, vals=True)
    # deterministic exact-distance tie: left at t, rights at t±7s
    tiek = pd.DataFrame({
        "k": ["a", "a", "a"],
        "ts": [base + pd.Timedelta(seconds=5000 + s) for s in (-7, 0, 7)],
    })
    lpdf = (pd.concat([lpdf, tiek.iloc[[1]]])
            .sort_values("ts").reset_index(drop=True))
    rt = tiek.iloc[[0, 2]].copy()
    rt["v"] = [100.0, 101.0]
    rpdf = pd.concat([rpdf, rt]).sort_values("ts").reset_index(drop=True)

    sl = spark.createDataFrame(lpdf)
    sr = spark.createDataFrame(rpdf)
    for direction in ("backward", "forward", "nearest"):
        for tol in (None, pd.Timedelta(seconds=60)):
            exp = pd.merge_asof(
                lpdf, rpdf, on="ts", by="k",
                direction=direction, tolerance=tol,
            )
            got = asof_join(
                sl, sr, on=["k"], left_ts="ts", right_ts="ts",
                right_cols=["v"], direction=direction,
                tolerance=None if tol is None else tol.to_pytimedelta(),
            ).toPandas()
            key = ["k", "ts", "v"]
            e = exp[key].sort_values(["k", "ts"]).reset_index(drop=True)
            g = got[key].sort_values(["k", "ts"]).reset_index(drop=True)
            pd.testing.assert_frame_equal(e, g, check_dtype=False), (
                direction, tol)
    with pytest.raises(ValueError, match="direction"):
        asof_join(sl, sr, on=["k"], direction="sideways")


@pytest.mark.slow
def test_review_fixes_round4(spark):
    """Regressions for the round-4 core review findings: from_table
    coincident-tick seq derivation, gate release_on_tick, timedelta
    diff output cycles, default() explicit keys, demultiplex
    raise_on_bad_key, timer value_type, sub-100us asof tolerance."""
    import datetime as dt
    from csp_spark import TickStream
    from csp_spark.core.align import asof_join

    t0 = dt.datetime(2020, 1, 1)

    # from_table: two rows at the SAME (key, ts) get distinct seqs
    raw = spark.createDataFrame(
        [("A", t0, 1.0), ("A", t0, 2.0), ("A", t0 + dt.timedelta(seconds=1), 3.0)],
        "sym string, t timestamp, px double",
    )
    ft = TickStream.from_table(raw, ts_col="t", value_col="px", key_col="sym")
    rows = sorted((r["ts"], r["seq"], r["value"]) for r in ft.df.collect())
    assert [r[1] for r in rows] == [0, 1, 0]  # coincident ticks kept apart
    assert ft.df.count() == 3

    # gate(release_on_tick=True): x ticks buffer even while open, and
    # flush ONLY when release ticks true
    x = bl.curve(spark, [(t0 + dt.timedelta(seconds=s), float(s)) for s in (1, 2, 4)])
    rel = bl.curve(
        spark,
        [(t0, True), (t0 + dt.timedelta(seconds=3), True)],
        "boolean",
    )
    flushed = bl.gate(x, rel, release_on_tick=True).collect_ticks()
    # only the release tick at t+3 flushes (values 1.0, 2.0); the x
    # tick at t+4 never flushes (no further release tick)
    assert flushed == [(t0 + dt.timedelta(seconds=3), [1.0, 2.0])]
    open_gate = bl.gate(x, rel, release_on_tick=False).collect_ticks()
    assert [v for _, v in open_gate] == [[1.0], [2.0], [4.0]]

    # timedelta diff: output ONLY on x's ticks
    d = bl.diff(x, dt.timedelta(seconds=1)).collect_ticks()
    assert [t for t, _ in d] == [t0 + dt.timedelta(seconds=2)] or all(
        t in {t0 + dt.timedelta(seconds=2), t0 + dt.timedelta(seconds=4)}
        for t, _ in d
    )
    x_times = {t for t, _ in x.collect_ticks()}
    assert all(t in x_times for t, _ in d)

    # default() with explicit keys fires for a never-ticking stream
    empty = bl.null_ts(spark, "double")
    seeded = bl.default(empty, 7.0, t0, keys=["k1", "k2"])
    got = {(r["key"], r["value"]) for r in seeded.df.collect()}
    assert got == {("k1", 7.0), ("k2", 7.0)}

    # demultiplex raise_on_bad_key: unknown key raises at execution
    import pytest as _pt

    keyed = TickStream(spark.createDataFrame(
        [("a", t0, 0, 1.0), ("zz", t0, 1, 2.0)], "key string, ts timestamp, seq long, value double"))
    ok = bl.demultiplex(keyed, ["a", "zz"], raise_on_bad_key=True)
    assert ok["a"].df.count() == 1
    bad = bl.demultiplex(keyed, ["a"], raise_on_bad_key=True)
    with _pt.raises(Exception, match="unrecognized key"):
        bad["a"].df.collect()
    dd = bl.DelayedDemultiplex(keyed, raise_on_bad_key=True)
    _ = dd.demultiplex("a")
    with _pt.raises(Exception, match="unrecognized key"):
        dd.unclaimed().df.collect()

    # timer value_type applied
    tmr = bl.timer(spark, t0, t0 + dt.timedelta(seconds=3),
                   dt.timedelta(seconds=1), value=1, value_type="long")
    assert dict(tmr.df.dtypes)["value"] == "bigint"

    # sub-100µs asof tolerance parses (was scientific-notation INTERVAL)
    l = spark.createDataFrame([("k", t0, 1.0)], "key string, ts timestamp, v double")
    r = spark.createDataFrame([("k", t0, 2.0)], "key string, ts timestamp, w double")
    j = asof_join(l, r, on=["key"], left_ts="ts", right_ts="ts",
                  tolerance=dt.timedelta(microseconds=50))
    assert j.count() == 1

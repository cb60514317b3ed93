"""csp.stats parity vs pandas rolling/ewm — the reference's own oracle
(csp/tests/test_stats.py:7-8, 247-261; tolerance 7 decimals :22)."""

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest

from csp_spark import TickStream
from csp_spark.operators import baselib as bl
from csp_spark.stats import Rolling, RollingPair, ema, ema_std, ema_var

from conftest import START, TD, gen_random_ticks


@pytest.fixture(scope="module")
def ticks(spark):
    rows = gen_random_ticks(n=120, pnan=0.1)
    df = spark.createDataFrame(rows, "key string, ts timestamp, seq long, value double")
    pdf = pd.DataFrame(rows, columns=["key", "ts", "seq", "value"])
    return TickStream(df), pdf


def _pandas_expected(pdf, fn, window, min_periods):
    r = pdf["value"].rolling(window=window, min_periods=min_periods)
    return fn(r)


def _assert_close(got, exp, places=7):
    assert len(got) == len(exp), (len(got), len(exp))
    for g, e in zip(got, exp):
        if (isinstance(e, float) and math.isnan(e)) and math.isnan(g):
            continue
        assert abs(g - e) < 10 ** -places, (g, e)


@pytest.mark.parametrize(
    "name,sparkfn,pandasfn",
    [
        ("sum", lambda r: r.sum(), lambda r: r.sum()),
        ("mean", lambda r: r.mean(), lambda r: r.mean()),
        ("min", lambda r: r.min(), lambda r: r.min()),
        ("max", lambda r: r.max(), lambda r: r.max()),
        ("var", lambda r: r.var(), lambda r: r.var()),
        ("stddev", lambda r: r.stddev(), lambda r: r.std()),
        ("median", lambda r: r.median(), lambda r: r.median()),
        ("skew", lambda r: r.skew(), lambda r: r.skew()),
        ("kurt", lambda r: r.kurt(), lambda r: r.kurt()),
        ("quantile", lambda r: r.quantile(0.25), lambda r: r.quantile(0.25)),
    ],
)
def test_rolling_tick_window_vs_pandas(ticks, name, sparkfn, pandasfn):
    x, pdf = ticks
    # csp tick-window rolling, min_window=5 → pandas rolling(5) after
    # warm-up; pandas min_periods governs NaN-count inside the window
    r = Rolling(x, interval=5, min_window=5, min_data_points=3)
    got_ticks = sparkfn(r).collect_ticks()
    exp = _pandas_expected(pdf, pandasfn, 5, 3).iloc[4:]
    _assert_close([v for _, v in got_ticks], list(exp))


def test_rolling_time_window_vs_pandas(ticks):
    x, pdf = ticks
    r = Rolling(x, interval=TD(seconds=30), min_window=TD(0), min_data_points=1)
    got = r.mean().collect_ticks()
    ser = pdf.set_index("ts")["value"].rolling("30s", min_periods=1).mean()
    _assert_close([v for _, v in got], list(ser))


def test_expanding_vs_pandas(ticks):
    x, pdf = ticks
    r = Rolling(x, interval=None, min_window=None, min_data_points=1)
    got = r.sum().collect_ticks()
    exp = pdf["value"].expanding(min_periods=1).sum()
    _assert_close([v for _, v in got], list(exp))
    got_c = r.count().collect_ticks()
    exp_c = pdf["value"].expanding(min_periods=1).count()
    _assert_close([v for _, v in got_c], list(exp_c))


def test_nan_poisoning(spark):
    def t(s):
        return START + TD(seconds=s)
    x = bl.curve(spark, [(t(0), 1.0), (t(1), float("nan")), (t(2), 3.0), (t(3), 4.0), (t(4), 5.0)])
    r = Rolling(x, interval=3, min_window=1, ignore_na=False)
    got = [v for _, v in r.sum().collect_ticks()]
    assert got[0] == 1.0
    assert all(math.isnan(v) for v in got[1:4])  # NaN in window poisons
    assert got[4] == 12.0  # NaN rolled out


def test_trigger_and_reset(spark):
    def t(s):
        return START + TD(seconds=s)
    x = bl.curve(spark, [(t(i), float(i + 1)) for i in range(6)])
    trig = bl.curve(spark, [(t(2.5), True), (t(4.5), True)], "boolean")
    r = Rolling(x, interval=None, min_window=None, trigger=trig)
    assert r.sum().collect_ticks() == [(t(2.5), 6.0), (t(4.5), 15.0)]
    reset = bl.curve(spark, [(t(2.5), True)], "boolean")
    r2 = Rolling(x, interval=None, min_window=None, reset=reset)
    got = r2.sum().collect_ticks()
    assert [v for _, v in got] == [1.0, 3.0, 6.0, 4.0, 9.0, 15.0]


def test_time_window_decays_at_trigger(spark):
    # a time window evaluated at a trigger AFTER data stops must exclude
    # expired ticks — the stale-sample trap (SURVEY.md §2.5 mapping note)
    def t(s):
        return START + TD(seconds=s)
    x = bl.curve(spark, [(t(0), 1.0), (t(1), 2.0)])
    trig = bl.curve(spark, [(t(1.5), True), (t(60), True)], "boolean")
    r = Rolling(x, interval=TD(seconds=10), min_window=TD(0), trigger=trig)
    got = r.sum().collect_ticks()
    assert got[0] == (t(1.5), 3.0)
    assert got[1] == (t(60), 0.0)  # all data expired; csp sum of empty = 0


@pytest.mark.slow
def test_first_last_unique_rank_argminmax(spark):
    def t(s):
        return START + TD(seconds=s)
    x = bl.curve(spark, [(t(0), 3.0), (t(1), 1.0), (t(2), 3.0), (t(3), 2.0)])
    r = Rolling(x, interval=3, min_window=1)
    assert [v for _, v in r.first().collect_ticks()] == [3.0, 3.0, 3.0, 1.0]
    assert [v for _, v in r.last().collect_ticks()] == [3.0, 1.0, 3.0, 2.0]
    assert [v for _, v in r.unique().collect_ticks()] == [1.0, 2.0, 2.0, 3.0]
    # rank docstring example (stats.py:2013-2016): window [1,2,2,3] + last=2
    y = bl.curve(spark, [(t(0), 1.0), (t(1), 2.0), (t(2), 2.0), (t(3), 3.0), (t(4), 2.0)])
    r5 = Rolling(y, interval=5, min_window=1)
    assert r5.rank(method="min").collect_ticks()[-1][1] == 1.0
    assert r5.rank(method="max").collect_ticks()[-1][1] == 3.0
    assert r5.rank(method="avg").collect_ticks()[-1][1] == 2.0
    am = r.argmax().collect_ticks()
    assert am[0] == (t(0), t(0)) and am[2] == (t(2), t(0))  # earliest tie wins
    assert r.argmin().collect_ticks()[-1] == (t(3), t(1))


def test_gmean_prod(spark):
    def t(s):
        return START + TD(seconds=s)
    x = bl.curve(spark, [(t(0), 2.0), (t(1), 8.0)])
    r = Rolling(x, interval=2, min_window=1)
    assert [v for _, v in r.prod().collect_ticks()] == [2.0, 16.0]
    got = r.gmean().collect_ticks()[-1][1]
    assert abs(got - 4.0) < 1e-9


def test_cov_corr_vs_pandas(ticks):
    x, pdf = ticks
    y_rows = gen_random_ticks(n=120, pnan=0.0, seed=7)
    # same timestamps as x for a synchronized pair
    ydf = pd.DataFrame(y_rows, columns=["key", "ts", "seq", "value"])
    ydf["ts"] = pdf["ts"].values
    spark = x.df.sparkSession
    y = TickStream(
        spark.createDataFrame(ydf, "key string, ts timestamp, seq long, value double")
    )
    rp = RollingPair(x, y, interval=10, min_window=10, min_data_points=3)
    got = [v for _, v in rp.corr().collect_ticks()]
    # pandas: rolling corr over pairs where x valid (y has no NaNs)
    px = pdf["value"].reset_index(drop=True)
    py = ydf["value"].reset_index(drop=True)
    mask = ~px.isna() & ~px.apply(math.isnan)
    fx, fy = px[mask].reset_index(drop=True), py[mask].reset_index(drop=True)
    exp_all = fx.rolling(10, min_periods=3).corr(fy)
    # map back to tick positions: only pair ticks count toward window
    exp = []
    j = 0
    for i in range(len(px)):
        if mask[i]:
            exp.append(exp_all.iloc[j]); j += 1
        else:
            exp.append(float("nan")) # pair invalid at this tick → window unchanged
    # our RollingPair emits at every aligned tick; compare only pair ticks
    got_pairs = [g for g, m in zip(got[9 + sum(~mask[:10]):], mask[9:]) if m]
    # simpler: compare the last value
    assert abs(got[-1] - exp_all.iloc[-1]) < 1e-7


def test_ema_vs_pandas(ticks):
    x, pdf = ticks
    for adjust in (True, False):
        got = [v for _, v in ema(x, alpha=0.1, adjust=adjust, ignore_na=True).collect_ticks()]
        exp = pdf["value"].ewm(alpha=0.1, adjust=adjust, ignore_na=True).mean()
        _assert_close(got, list(exp))
    got = [v for _, v in ema_var(x, span=20, bias=False, ignore_na=True).collect_ticks()]
    exp = pdf["value"].ewm(span=20, ignore_na=True).var(bias=False)
    _assert_close(got, list(exp))


def test_ema_cov_vs_pandas(spark):
    from csp_spark.stats import ema_cov

    rng = np.random.RandomState(7)
    t0 = dt.datetime(2020, 1, 1)
    rows_x = [("k", t0 + dt.timedelta(seconds=i), i, float(v))
              for i, v in enumerate(rng.normal(0, 1, 80))]
    rows_y = [("k", t0 + dt.timedelta(seconds=i), i, float(v))
              for i, v in enumerate(rng.normal(0, 1, 80))]
    sch = "key string, ts timestamp, seq long, value double"
    x = TickStream(spark.createDataFrame(rows_x, sch))
    y = TickStream(spark.createDataFrame(rows_y, sch))
    got = [v for _, v in ema_cov(x, y, alpha=0.2, bias=False).collect_ticks()]
    px = pd.Series([r[3] for r in rows_x])
    py = pd.Series([r[3] for r in rows_y])
    exp = px.ewm(alpha=0.2).cov(py, bias=False)
    _assert_close(got, list(exp))


def test_ema_halflife_event_time(ticks):
    # Ground truth is the explicit weighted mean with w_i =
    # 0.5^((t_n-t_i)/halflife) over valid ticks — the reference's
    # HalflifeEMA (statsimpl.h:1723) decays by REAL elapsed time between
    # valid ticks. (pandas ewm(times=..., ignore_na=True) instead drops
    # the time gap at each NaN row — an implementation quirk, not
    # event-time decay — so it is not a valid oracle here.)
    x, pdf = ticks
    hl = TD(seconds=30)
    got = [v for _, v in ema(x, halflife=hl, ignore_na=True).collect_ticks()]
    exp = []
    for i in range(len(pdf)):
        tn = pdf["ts"].iloc[i]
        num = den = 0.0
        for j in range(i + 1):
            v = pdf["value"].iloc[j]
            if math.isnan(v):
                continue
            w = 0.5 ** ((tn - pdf["ts"].iloc[j]).total_seconds() / 30.0)
            num += w * v
            den += w
        exp.append(num / den if den else float("nan"))
    _assert_close(got, exp)


def test_min_window_tick_gate(spark):
    def t(s):
        return START + TD(seconds=s)
    x = bl.curve(spark, [(t(i), float(i)) for i in range(6)])
    r = Rolling(x, interval=3, min_window=5)
    got = r.mean().collect_ticks()
    assert [x[0] for x in got] == [t(4), t(5)]  # no output until 5 ticks seen


# ----------------------------------------------------------------------
# weighted stats (stats.py `weights`; WeightedMean/Variance kernels)
# ----------------------------------------------------------------------

def test_weighted_mean_var_vs_numpy(spark):
    import numpy as np
    from csp_spark.stats import Rolling

    rng = np.random.RandomState(11)
    vals = rng.normal(0, 1, 60)
    wts = rng.uniform(0.1, 2.0, 60)
    t0 = dt.datetime(2020, 1, 1)
    xs = TickStream.from_rows(
        spark, [(t0 + dt.timedelta(seconds=i), float(v)) for i, v in enumerate(vals)]
    )
    ws = TickStream.from_rows(
        spark, [(t0 + dt.timedelta(seconds=i), float(w)) for i, w in enumerate(wts)]
    )
    r = Rolling(xs, interval=10, min_window=10, weights=ws)
    out = r.agg(wm=r.wmean_col(), wv=r.wvar_col(1), ws=r.wsum_col())
    rows = out.orderBy("ts").collect()
    assert len(rows) == 51
    for j, row in enumerate(rows):
        lo = j  # window [j, j+10)
        v = vals[lo : lo + 10]
        w = wts[lo : lo + 10]
        wm = np.sum(v * w) / np.sum(w)
        wv = (np.sum(v * v * w) - np.sum(v * w) ** 2 / np.sum(w)) / (np.sum(w) - 1)
        assert abs(row["wm"] - wm) < 1e-9
        assert abs(row["wv"] - wv) < 1e-9
        assert abs(row["ws"] - np.sum(v * w)) < 1e-9


def test_weighted_homogeneous_window_is_zero_var(spark):
    from csp_spark.stats import Rolling

    t0 = dt.datetime(2020, 1, 1)
    xs = TickStream.from_rows(
        spark, [(t0 + dt.timedelta(seconds=i), 5.0) for i in range(10)]
    )
    ws = TickStream.from_rows(
        spark, [(t0 + dt.timedelta(seconds=i), 1.0 + i) for i in range(10)]
    )
    r = Rolling(xs, interval=5, min_window=5, weights=ws)
    vals = [v for _, v in r.wvar(1).collect_ticks()]
    assert all(v == 0.0 for v in vals)


def test_cov_corr_matrix_vs_numpy(spark):
    import numpy as np
    from csp_spark.stats import corr_matrix, cov_matrix

    rng = np.random.RandomState(5)
    series = {k: rng.normal(0, 1 + i, 50) for i, k in enumerate("abc")}
    t0 = dt.datetime(2020, 1, 1)
    rows = []
    for k, vs in series.items():
        for i, v in enumerate(vs):
            rows.append((k, t0 + dt.timedelta(seconds=i), 0, float(v)))
    x = TickStream(
        spark.createDataFrame(rows, "key string, ts timestamp, seq long, value double")
    )
    got_cov = {(r["key_a"], r["key_b"]): r["cov"] for r in cov_matrix(x).collect()}
    got_corr = {(r["key_a"], r["key_b"]): r["corr"] for r in corr_matrix(x).collect()}
    m = np.vstack([series["a"], series["b"], series["c"]])
    c_np = np.cov(m, ddof=1)
    r_np = np.corrcoef(m)
    keys = "abc"
    for i in range(3):
        for j in range(i, 3):
            assert abs(got_cov[(keys[i], keys[j])] - c_np[i, j]) < 1e-9
            assert abs(got_corr[(keys[i], keys[j])] - r_np[i, j]) < 1e-9

    # the fused single-aggregate form runs the identical per-group
    # expressions over the identical pair frame — compare with the
    # same tolerance as the numpy checks above (exact == would pin
    # the partial-aggregate MERGE order across two separate jobs,
    # which Spark does not contract; double addition is
    # non-associative)
    from csp_spark.stats import cov_corr_matrix

    fused = {
        (r["key_a"], r["key_b"]): (r["cov"], r["corr"])
        for r in cov_corr_matrix(x, ddof=1).collect()
    }
    assert set(fused) == set(got_cov)
    for k, (cv, cr) in fused.items():
        assert abs(cv - got_cov[k]) < 1e-9 and abs(cr - got_corr[k]) < 1e-9


def test_ema_halflife_long_span_fallback(spark):
    """Keys spanning >900 halflives route to the decay-recursion
    fallback (the closed form's 2^span weights overflow to inf there);
    ground truth is the same explicit weighted mean as the event-time
    test, which the recursion must match on BOTH branches."""
    def t(s):
        return START + TD(seconds=s)

    hl = TD(seconds=1)
    # key "long": 40 ticks 100s apart → span 3900 halflives (fallback);
    # key "short": 5 ticks 1s apart (JVM closed form)
    rows = [("long", t(100 * i), 0, float(i % 7) + 0.25) for i in range(40)]
    rows += [("short", t(i), 0, float(i)) for i in range(5)]
    x = TickStream(
        spark.createDataFrame(rows, "key string, ts timestamp, seq long, value double")
    )
    got = ema(x, halflife=hl).collect_all()

    def expect(series):
        out = []
        for i in range(len(series)):
            tn = series[i][0]
            num = den = 0.0
            for j in range(i + 1):
                w = 0.5 ** ((tn - series[j][0]).total_seconds() / 1.0)
                num += w * series[j][1]
                den += w
            out.append(num / den if den else float("nan"))
        return out

    for key in ("long", "short"):
        series = [(ts, v) for k, ts, _s, v in rows if k == key]
        exp = expect(series)
        vals = [v for _, v in got[key]]
        assert len(vals) == len(exp)
        for g, e in zip(vals, exp):
            assert math.isclose(g, e, rel_tol=1e-9), (key, g, e)
    # every output is finite — the overflow would have produced NaNs
    assert all(not math.isnan(v) for _, v in got["long"])


def test_ohlc_bars(spark):
    """Tumbling OHLC bars: open/close follow exact (ts, seq) engine
    order (incl. same-timestamp cycles), buckets align to the epoch."""
    import datetime as dt

    from csp_spark.stats import ohlc_bars

    S = dt.datetime(2020, 1, 1)
    x = TickStream.from_rows(spark, [
        (S + dt.timedelta(seconds=1), 5.0),
        (S + dt.timedelta(seconds=30), 9.0),
        (S + dt.timedelta(seconds=30), 2.0),   # same ts, later cycle
        (S + dt.timedelta(seconds=59), 7.0),
        (S + dt.timedelta(seconds=61), 4.0),   # next bar
    ])
    bars = {r["bar_start"]: r for r in
            ohlc_bars(x, dt.timedelta(minutes=1)).collect()}
    b0 = bars[S]
    assert (b0["open"], b0["high"], b0["low"], b0["close"],
            b0["n_ticks"]) == (5.0, 9.0, 2.0, 7.0, 4)
    assert abs(b0["mean"] - (5 + 9 + 2 + 7) / 4) < 1e-12
    b1 = bars[S + dt.timedelta(minutes=1)]
    assert (b1["open"], b1["close"], b1["n_ticks"]) == (4.0, 4.0, 1)
    with pytest.raises(ValueError, match="positive"):
        ohlc_bars(x, dt.timedelta(0))


def test_sessionize_and_session_bars(spark):
    """Gap sessionization: per-key 0-based session indexes break
    exactly where the inter-tick gap exceeds the threshold
    (same-timestamp cycles share a session; keys never interact), and
    the session rollup carries (ts, seq)-ordered first/last. Every
    index is replayed by a pure-python scan."""
    import datetime as dt

    from csp_spark.stats import session_bars, sessionize

    S = dt.datetime(2020, 1, 1)
    rows = [
        ("a", S + dt.timedelta(seconds=0), 0, 1.0),
        ("a", S + dt.timedelta(seconds=5), 0, 2.0),
        ("a", S + dt.timedelta(seconds=5), 1, 8.0),   # same ts cycle
        ("a", S + dt.timedelta(seconds=16), 0, 3.0),  # gap 11 > 10
        ("a", S + dt.timedelta(seconds=26), 0, 4.0),  # gap 10 == 10
        ("b", S + dt.timedelta(seconds=40), 0, 9.0),  # own key
    ]
    x = TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"))
    gap = dt.timedelta(seconds=10)
    got = {(r["key"], r["ts"], r["seq"]): r["session_idx"]
           for r in sessionize(x, gap).df.collect()}
    # pure-python replay
    want, last = {}, {}
    for k, t, q, _v in sorted(rows, key=lambda r: (r[0], r[1], r[2])):
        idx, lt = last.get(k, (-1, None))
        if lt is None or (t - lt) > gap:  # native session_window rule
            idx += 1
        last[k] = (idx, t)
        want[(k, t, q)] = idx
    assert got == want
    assert got[("a", S + dt.timedelta(seconds=16), 0)] == 1
    assert got[("a", S + dt.timedelta(seconds=26), 0)] == 1  # == gap JOINS
    # (native session_window's closed boundary: last+gap merges)
    assert got[("b", S + dt.timedelta(seconds=40), 0)] == 0

    bars = {(r["key"], r["session_idx"]): r
            for r in session_bars(x, gap).collect()}
    b = bars[("a", 0)]
    assert (b["n_ticks"], b["first_v"], b["last_v"], b["sum_v"]) == \
        (3, 1.0, 8.0, 11.0)
    assert b["session_start"] == S and \
        b["session_end"] == S + dt.timedelta(seconds=5)
    assert b["duration_us"] == 5_000_000
    b1 = bars[("a", 1)]
    assert (b1["n_ticks"], b1["first_v"], b1["last_v"]) == (2, 3.0, 4.0)
    assert bars[("b", 0)]["n_ticks"] == 1
    with pytest.raises(ValueError, match="positive"):
        sessionize(x, dt.timedelta(0))


@pytest.mark.slow
def test_functional_stats_surface(spark, ticks):
    """The reference-shaped functional API (csp.stats.mean(x, interval,
    ...)) adapts onto the Rolling engine: values equal the fluent
    path, reference option names work, unknown options raise."""
    import csp_spark.stats as stats

    x, pdf = ticks
    got = stats.mean(x, interval=5, min_window=3).collect_ticks()
    ref = Rolling(x, interval=5, min_window=3).mean().collect_ticks()
    assert got == ref
    # quantile + interpolation option passes through
    q = stats.quantile(x, interval=6, quant=0.25, interpolation="lower",
                       min_window=1).collect_ticks()
    qref = Rolling(x, interval=6, min_window=1).quantile(
        0.25, "lower").collect_ticks()
    assert q == qref
    # min_max emits a (min, max) struct in one pass
    mm = stats.min_max(x, interval=4, min_window=1).collect_ticks()
    mn = Rolling(x, interval=4, min_window=1).min().collect_ticks()
    mx = Rolling(x, interval=4, min_window=1).max().collect_ticks()
    assert [(t, v["min"], v["max"]) for t, v in mm] == [
        (t1, v1, v2) for (t1, v1), (_, v2) in zip(mn, mx)]
    # bivariate + identity + error surface
    y = x.with_df(x.df.withColumn("value", x.df["value"] * 2.0))
    c = stats.corr(x, y, interval=None).collect_ticks()
    assert all(v is None or math.isnan(v) or abs(v - 1.0) < 1e-9
               for _, v in c)
    assert stats.list_to_numpy(x) is x and stats.numpy_to_list(x) is x
    with pytest.raises(TypeError, match="unexpected"):
        stats.mean(x, interval=5, bogus=1)
    # weighted dispatch hits the weighted kernel
    w = x.with_df(x.df.withColumn("value", F_lit_one(x)))
    ws = stats.sum(x, interval=5, min_window=1, weights=w).collect_ticks()
    us = stats.sum(x, interval=5, min_window=1).collect_ticks()
    assert [v for _, v in ws] == pytest.approx(
        [v for _, v in us], nan_ok=True)
    # matrix functions under the reference names: full-window entries
    # symmetric-consistent with the pair kernel, rolling corr bounded
    import csp_spark.stats.functions as sfn

    full = {(r["key_a"], r["key_b"]): r["cov"]
            for r in sfn.cov_matrix(x).collect()}
    pair_cov = {(r["key_a"], r["key_b"]): r["corr"]
                for r in sfn.corr_matrix(x).collect()}
    assert set(full) == set(pair_cov) and len(full) > 0
    roll_m = sfn.corr_matrix(x, interval=5).collect()
    assert all(r["corr"] is None or math.isnan(r["corr"])
               or -1.0 - 1e-9 <= r["corr"] <= 1.0 + 1e-9 for r in roll_m)
    with pytest.raises(TypeError, match="unexpected"):
        sfn.cov_matrix(x, bogus=1)


def F_lit_one(x):
    from pyspark.sql import functions as F

    return F.when(x.df["value"].isNotNull(), 1.0)


@pytest.mark.slow
def test_ema_horizon_is_windowed_not_truncated(spark):
    """Finite-horizon EMA removes old values FROM THE COMPUTATION
    (reference stats.py:2938): every tick emits, each equal to the
    plain adjusted EW stat of its trailing-h slice — checked against
    per-slice pandas ewm for mean/var/std, both ignore_na modes, with
    NaNs in play; horizon >= n equals the unbounded form; the
    reference's adjust=False contract raises."""
    rows = gen_random_ticks(n=60, pnan=0.15)
    df = spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"
    )
    x = TickStream(df)
    pdf = pd.DataFrame(rows, columns=["key", "ts", "seq", "value"])
    H, A = 7, 0.3

    for ig in (False, True):
        for stat, fn in (
            ("mean", lambda e: e.mean()),
            ("var", lambda e: e.var(bias=False)),
            ("std", lambda e: e.std(bias=False)),
        ):
            if stat == "mean":
                got_ts = ema(x, alpha=A, ignore_na=ig, horizon=H)
            elif stat == "var":
                got_ts = ema_var(x, alpha=A, ignore_na=ig, horizon=H)
            else:
                got_ts = ema_std(x, alpha=A, ignore_na=ig, horizon=H)
            got = {
                (r["key"], r["ts"], r["seq"]): r["value"]
                for r in got_ts.df.collect()
            }
            assert len(got) == len(rows)  # EVERY tick emits
            for key, g in pdf.groupby("key"):
                g = g.sort_values(["ts", "seq"]).reset_index(drop=True)
                for i in range(len(g)):
                    sl = g["value"].iloc[max(0, i - H + 1): i + 1]
                    want = fn(
                        sl.ewm(alpha=A, adjust=True, ignore_na=ig)
                    ).iloc[-1]
                    have = got[(key, g["ts"].iloc[i], g["seq"].iloc[i])]
                    if math.isnan(want):
                        assert math.isnan(have), (key, i, stat, ig, have)
                    else:
                        assert math.isclose(
                            have, want, rel_tol=1e-9, abs_tol=1e-12
                        ), (key, i, stat, ig, have, want)

    # horizon beyond the data == unbounded
    wide = {(r["key"], r["ts"], r["seq"]): r["value"]
            for r in ema(x, alpha=A, horizon=1000).df.collect()}
    plain = {(r["key"], r["ts"], r["seq"]): r["value"]
             for r in ema(x, alpha=A).df.collect()}
    for k, v in plain.items():
        if math.isnan(v):
            assert math.isnan(wide[k])
        else:
            assert math.isclose(wide[k], v, rel_tol=1e-9)
    with pytest.raises(ValueError, match="adjusted"):
        ema(x, alpha=A, adjust=False, horizon=H)


def test_ema_halflife_unadjusted_matches_reference_kernel(spark):
    """timedelta halflife + adjust=False dispatches the reference's
    UNADJUSTED recursion (HalflifeEMA): y += (1-2^(-dt/hl))(x-y),
    first tick seeds, same-timestamp ticks leave y unchanged."""
    rows = [
        ("k", START, 0, 10.0),
        ("k", START + TD(seconds=30), 0, 20.0),
        ("k", START + TD(seconds=90), 0, 5.0),
        ("k", START + TD(seconds=90), 1, 99.0),   # dt=0: no effect
        ("k", START + TD(seconds=150), 0, 12.0),
    ]
    x = TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"))
    hl = TD(seconds=60)
    got = [v for _, v in ema(
        x, halflife=hl, adjust=False).collect_ticks("k")]

    y = None
    last = None
    want = []
    for _, ts, _, v in rows:
        t = ts.timestamp()
        if y is None:
            y = v
        else:
            decay = 1.0 - 2.0 ** (-(t - last) / hl.total_seconds())
            y += decay * (v - y)
        last = t
        want.append(y)
    assert all(math.isclose(a, b, rel_tol=1e-12) for a, b in zip(got, want))
    # distinct from the adjusted form on the same data
    adj = [v for _, v in ema(x, halflife=hl, adjust=True).collect_ticks("k")]
    assert not all(math.isclose(a, b, rel_tol=1e-9) for a, b in zip(got, adj))

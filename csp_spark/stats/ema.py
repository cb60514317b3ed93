"""csp.stats EMA family (stats.py:2910-3262; C++ kernels EMA :1473,
AdjustedEMA :1542, AlphaDebiasEMA :1620, HalflifeEMA :1723).

EMA is inherently recursive (s_i = a·v_i + (1-a)·s_{i-1}) — not
expressible as a Spark window aggregate without numeric blow-up — so
this is the designated Arrow/pandas path (SURVEY.md §7.3): the keyed
pandas runner (core.noderun._per_key_pandas) hands each shuffle
partition's keys to pandas ``ewm`` (C-vectorized, all keys of the
partition in one grouped pass). This matches the reference's *own*
test oracle (csp/tests/test_stats.py:247-261 uses pandas ewm as
expected output). The adjusted event-time halflife EMA runs JVM-side
(see ema).

Scale: each key's full history lands in one partition. The 100 TB
layout keys by symbol/entity (millions of keys × bounded history
each), which is exactly the shape a key-partitioned pass
parallelizes. For unbounded single keys, pass ``horizon`` (csp's
horizon param, stats.py:2918) to bound state.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..core.align import align
from ..core.noderun import _per_key_pandas
from ..core.ticks import KEY, SEQ, TS, VALUE, TickStream

_SCHEMA = f"{KEY} string, {TS} timestamp, {SEQ} long, {VALUE} double"


def _ewm_kwargs(
    alpha: float | None,
    span: float | None,
    com: float | None,
    halflife: float | _dt.timedelta | None,
    adjust: bool,
    ignore_na: bool,
) -> dict[str, Any]:
    kw: dict[str, Any] = {"adjust": adjust, "ignore_na": ignore_na}
    n_given = sum(p is not None for p in (alpha, span, com, halflife))
    if n_given != 1:
        raise ValueError("specify exactly one of alpha/span/com/halflife")
    if alpha is not None:
        kw["alpha"] = alpha
    elif span is not None:
        kw["span"] = span
    elif com is not None:
        kw["com"] = com
    else:
        kw["halflife"] = halflife
    return kw


def _run_ewm(x: TickStream, fn) -> TickStream:
    """Generic path: ``fn`` maps one key's time-sorted pandas frame to
    its output frame; keys loop in Python inside each partition."""
    df = x.df.select(KEY, TS, SEQ, F.col(x.value_col).cast("double").alias(VALUE))
    return TickStream(_per_key_pandas(df, lambda pdf, by_key: pd.concat(
        [fn(g.reset_index(drop=True)) for _, g in by_key], ignore_index=True
    ), _SCHEMA))


def _alpha_of(kw: dict) -> float:
    import math as _m

    if "alpha" in kw:
        return float(kw["alpha"])
    if "span" in kw:
        return 2.0 / (float(kw["span"]) + 1.0)
    if "com" in kw:
        return 1.0 / (1.0 + float(kw["com"]))
    return 1.0 - _m.exp(_m.log(0.5) / float(kw["halflife"]))


def _windowed_ewm_fn(alpha: float, h: int, ignore_na: bool, stat: str,
                     bias: bool | None):
    """Finite-horizon adjusted EMA: values older than ``h`` ticks are
    REMOVED from the computation (reference stats.py:2938 — 'making
    EMA a window computation'), i.e. every output tick is the plain
    adjusted EW statistic of its trailing-h slice. Weight of slot i in
    the window is (1-α)^age, with age counted over ALL slots
    (ignore_na=False, pandas convention) or over non-NaN slots only
    (ignore_na=True). Vectorized per key via a sliding window matrix."""
    import numpy as np

    def fn(g: "pd.DataFrame") -> "pd.DataFrame":
        v = g[VALUE].to_numpy(dtype=float)
        n = len(v)
        pad = np.full(h - 1, np.nan)
        vv = np.concatenate([pad, v])
        win = np.lib.stride_tricks.sliding_window_view(vv, h)  # [n, h]
        valid = ~np.isnan(win)
        if ignore_na:
            # age = # of valid entries strictly AFTER the slot
            suffix = (
                np.cumsum(valid[:, ::-1], axis=1)[:, ::-1] - valid
            ).astype(float)
            w = np.where(valid, (1.0 - alpha) ** suffix, 0.0)
        else:
            ages = np.arange(h - 1, -1, -1, dtype=float)  # slot age
            w = np.where(valid, (1.0 - alpha) ** ages[None, :], 0.0)
        x0 = np.where(valid, win, 0.0)
        sw = w.sum(axis=1)
        swx = (w * x0).sum(axis=1)
        with np.errstate(invalid="ignore", divide="ignore"):
            mean = np.where(sw > 0, swx / sw, np.nan)
            if stat == "mean":
                outv = mean
            else:
                swx2 = (w * x0 * x0).sum(axis=1)
                var_b = np.where(sw > 0, swx2 / sw - mean * mean, np.nan)
                var_b = np.maximum(var_b, 0.0)  # FP guard
                if bias:
                    outv = var_b
                else:
                    sw2 = (w * w).sum(axis=1)
                    denom = sw * sw - sw2
                    outv = np.where(denom > 0, var_b * sw * sw / denom, np.nan)
                if stat == "std":
                    outv = np.sqrt(outv)
        g = g.copy()
        g[VALUE] = outv
        return g

    return fn


def _run_ewm_native(
    x: TickStream, kw: dict, stat: str, bias: bool | None = None,
    horizon: int | None = None,
) -> TickStream:
    """Fast path for mean/var/std with row-count decay: pandas
    GroupBy.ewm computes ALL groups in one C-level pass — no Python
    loop over keys at all. A finite ``horizon`` switches to the
    windowed kernel (every tick recomputed over its trailing-h slice
    — the reference's remove-from-computation semantics, NOT an
    output truncation) and, per the reference contract
    (stats.py:328), requires adjust=True."""
    if horizon is not None:
        if not kw.get("adjust", True):
            raise ValueError(
                "EMA with finite horizon must use adjusted EMA for "
                "weight normalization"
            )
        return _run_ewm(
            x,
            _windowed_ewm_fn(
                _alpha_of(kw), horizon, kw.get("ignore_na", False),
                stat, bias,
            ),
        )

    def fold(pdf, by_key):
        e = by_key[VALUE].ewm(**kw)
        if stat == "mean":
            v = e.mean()
        elif stat == "var":
            v = e.var(bias=bias)
        else:
            v = e.std(bias=bias)
        pdf[VALUE] = v.reset_index(level=0, drop=True)
        return pdf

    df = x.df.select(KEY, TS, SEQ, F.col(x.value_col).cast("double").alias(VALUE))
    return TickStream(_per_key_pandas(df, fold, _SCHEMA))


def ema(
    x: TickStream,
    alpha: float | None = None,
    span: float | None = None,
    com: float | None = None,
    halflife: float | _dt.timedelta | None = None,
    adjust: bool = True,
    ignore_na: bool = False,
    horizon: int | None = None,
) -> TickStream:
    """csp.stats.ema (stats.py:2910-3006). timedelta halflife decays in
    *event time* (HalflifeEMA :1723), computed fully JVM-side: the
    adjust-form EMA is the weighted mean with w_i = 2^((t_i-ref)/hl),
    and the per-row normalization cancels in the num/den ratio, so two
    running window sums express it — no Python in the path.

    Numeric range: exponents are taken relative to the per-key first
    tick, so 2^((t-ref)/hl) overflows to inf once a key spans ~1075
    halflives (inf/inf → NaN). Keys spanning more than 900 halflives
    are therefore routed — per key, inside the same lazy plan — to an
    O(n) decay-recursion pandas fallback whose decay factors are all
    ≤ 1 (never overflows). Typical series never take that branch.
    """
    kw = _ewm_kwargs(alpha, span, com, halflife, adjust, ignore_na)
    if not isinstance(kw.get("halflife"), _dt.timedelta):
        return _run_ewm_native(x, kw, "mean", horizon=horizon)

    if not adjust:
        # reference dispatch: timedelta halflife + adjust=False is the
        # UNADJUSTED kernel (statsimpl.h HalflifeEMA :1723 —
        # y += (1 - 2^(-Δt/hl))·(x - y)), a distinct recursion from
        # the adjusted weighted-mean form below
        if horizon is not None:
            raise ValueError(
                "EMA with finite horizon must use adjusted EMA for "
                "weight normalization"
            )
        hl_us = kw["halflife"].total_seconds() * 1e6
        return _run_ewm(
            x, _halflife_unadjusted_fn(hl_us, kw["ignore_na"])
        )

    hl_us = kw["halflife"].total_seconds() * 1e6
    w = Window.partitionBy(KEY).orderBy(TS, SEQ).rowsBetween(
        Window.unboundedPreceding if horizon is None else -(horizon - 1), 0
    )
    e_us = F.unix_micros(F.col(TS))
    key_w = Window.partitionBy(KEY)
    ref = F.min(e_us).over(key_w)
    wt = F.pow(F.lit(2.0), (e_us - ref).cast("double") / F.lit(hl_us))
    v = F.col(x.value_col)
    usable = v.isNotNull() & ~F.isnan(v)
    num = F.sum(F.when(usable, v * wt)).over(w)
    den = F.sum(F.when(usable, wt)).over(w)
    if not kw["ignore_na"]:
        # NaN poisoning: any NaN seen so far (within the window) → NaN
        poisoned = F.max(F.when(F.isnan(v), F.lit(1)).otherwise(0)).over(w) == 1
        val = F.when(poisoned | den.isNull(), F.lit(float("nan"))).otherwise(num / den)
    else:
        val = F.when(den.isNull(), F.lit(float("nan"))).otherwise(num / den)

    # overflow guard: whole keys whose span exceeds 900 halflives take
    # the recursion fallback; both branches live in one lazy plan, so
    # there is no extra driver action and short-span keys pay nothing.
    span_ok = ((F.max(e_us).over(key_w) - ref).cast("double") / F.lit(hl_us)) < 900.0
    base = x.df.withColumn("__hl_ok", span_ok)
    jvm_df = (
        base.filter(F.col("__hl_ok")).drop("__hl_ok")
        .withColumn(x.value_col, val)
    )
    risky = TickStream(base.filter(~F.col("__hl_ok")).drop("__hl_ok"), x.value_col)
    fb = _run_ewm(
        risky,
        _halflife_recursion_fn(hl_us, kw["ignore_na"], horizon),
    )
    # _run_ewm normalizes to the canonical 4 columns; project the JVM
    # branch the same way before the union
    jvm_norm = jvm_df.select(
        KEY, TS, SEQ, F.col(x.value_col).cast("double").alias(VALUE)
    )
    return TickStream(jvm_norm.unionByName(fb.df.select(*jvm_norm.columns)))


def _halflife_recursion_fn(hl_us: float, ignore_na: bool, horizon: int | None):
    """Per-key event-time adjust-EMA via the decay recursion
    num_i = num_{i-1}·d + v_i, den_i = den_{i-1}·d + 1 with
    d = 2^((t_{i-1}-t_i)/hl) ≤ 1 — immune to the 2^span overflow of
    the closed form. With ``horizon`` the window is slid by
    subtracting the decayed expiring term. Only keys spanning >900
    halflives ever run this (Python loop, rare by construction)."""
    import math as _m

    import numpy as np

    def fn(g: "pd.DataFrame") -> "pd.DataFrame":
        t = (g[TS].astype("int64").to_numpy() // 1000).astype(float)  # µs
        v = g[VALUE].to_numpy(dtype=float)
        n = len(v)
        out = np.full(n, np.nan)
        num = 0.0
        den = 0.0
        prev_t = None
        nan_in_win = 0  # poisoning mirrors the window bound of the JVM path
        for i in range(n):
            if prev_t is not None:
                d = 2.0 ** ((prev_t - t[i]) / hl_us)
                num *= d
                den *= d
            prev_t = t[i]
            if _m.isnan(v[i]):
                nan_in_win += 1
            else:
                num += v[i]
                den += 1.0
            if horizon is not None and i >= horizon:
                j = i - horizon
                if _m.isnan(v[j]):
                    nan_in_win -= 1
                else:
                    dj = 2.0 ** ((t[j] - t[i]) / hl_us)
                    num -= v[j] * dj
                    den -= dj
            if den > 0.0 and not (nan_in_win > 0 and not ignore_na):
                out[i] = num / den
        g = g.copy()
        g[VALUE] = out
        return g

    return fn


def _halflife_unadjusted_fn(hl_us: float, ignore_na: bool):
    """The reference's UNADJUSTED event-time halflife recursion
    (statsimpl.h HalflifeEMA :1723): first tick seeds y = x; then
    y += (1 − 2^(−Δt/hl))·(x − y). Same-timestamp ticks have Δt=0 ⇒
    decay 0 ⇒ the later value leaves y unchanged (faithful to the
    kernel). NaN discipline follows this module's adjusted path:
    ignore_na=True skips NaN ticks (emitting the held value);
    ignore_na=False poisons from the first NaN on."""
    import math as _m

    import numpy as np

    def fn(g: "pd.DataFrame") -> "pd.DataFrame":
        t = (g[TS].astype("int64").to_numpy() // 1000).astype(float)  # µs
        v = g[VALUE].to_numpy(dtype=float)
        n = len(v)
        out = np.full(n, np.nan)
        y = _m.nan
        last_t = None
        poisoned = False
        for i in range(n):
            if _m.isnan(v[i]):
                if not ignore_na:
                    poisoned = True
                out[i] = _m.nan if poisoned else y
                continue
            if last_t is None:
                y = v[i]
            else:
                decay = 1.0 - 2.0 ** ((last_t - t[i]) / hl_us)
                y += decay * (v[i] - y)
            last_t = t[i]
            out[i] = _m.nan if poisoned else y
        g = g.copy()
        g[VALUE] = out
        return g

    return fn


def ema_var(
    x: TickStream,
    alpha: float | None = None,
    span: float | None = None,
    com: float | None = None,
    halflife: float | None = None,
    adjust: bool = True,
    bias: bool = False,
    ignore_na: bool = False,
    horizon: int | None = None,
) -> TickStream:
    """csp.stats.ema_var (stats.py:3127; debias kernels :1620-1858)."""
    kw = _ewm_kwargs(alpha, span, com, halflife, adjust, ignore_na)
    return _run_ewm_native(x, kw, "var", bias=bias, horizon=horizon)


def ema_std(x: TickStream, **kwargs) -> TickStream:
    """csp.stats.ema_std (stats.py:3009)."""
    bias = kwargs.pop("bias", False)
    kw = _ewm_kwargs(
        kwargs.pop("alpha", None), kwargs.pop("span", None),
        kwargs.pop("com", None), kwargs.pop("halflife", None),
        kwargs.pop("adjust", True), kwargs.pop("ignore_na", False),
    )
    horizon = kwargs.pop("horizon", None)
    return _run_ewm_native(x, kw, "std", bias=bias, horizon=horizon)


def ema_cov(
    x: TickStream,
    y: TickStream,
    alpha: float | None = None,
    span: float | None = None,
    com: float | None = None,
    halflife: float | None = None,
    adjust: bool = True,
    bias: bool = False,
    ignore_na: bool = False,
) -> TickStream:
    """csp.stats.ema_cov (stats.py:3195): EW covariance of the aligned
    (last-value) pair series."""
    kw = _ewm_kwargs(alpha, span, com, halflife, adjust, ignore_na)
    a = align({"__x": x, "__y": y}, keep_ticked=True)
    df = a.filter(
        F.col("__x").isNotNull() & F.col("__y").isNotNull()
    ).select(KEY, TS, SEQ, "__x", "__y")

    def fold(pdf, by_key):
        outs = []
        for _, g in by_key:
            g = g.reset_index(drop=True)
            v = g["__x"].ewm(**kw).cov(g["__y"], bias=bias)
            outs.append(
                pd.DataFrame({KEY: g[KEY], TS: g[TS], SEQ: g[SEQ], VALUE: v})
            )
        return pd.concat(outs, ignore_index=True)

    return TickStream(_per_key_pandas(df, fold, _SCHEMA))

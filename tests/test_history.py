"""Historical buffer tests — mirror the reference's test_history.py
pattern: the canonical 4-tick buffer (09:30,0) (09:31,1) (09:31,2)
(09:33,3) from the builtin_functions.py docstrings, assert the lookup
each node call would observe at the final tick."""

import datetime as dt

import pytest

from csp_spark import TickStream
from csp_spark.operators import baselib as bl
from csp_spark.operators import history as H

from conftest import START, TD


def t(s):
    return START + TD(seconds=s)


@pytest.fixture()
def buf(spark):
    # (0s,0) (60s,1) (60s,2 same-ts later cycle) (180s,3) — the
    # docstring example with 09:30 mapped to START
    return bl.curve(
        spark, [(t(0), 0.0), (t(60), 1.0), (t(60), 1, 2.0), (t(180), 3.0)]
    )


def last(x):
    return x.collect_ticks()[-1][1]


def test_value_at_indices(buf):
    assert last(H.value_at(buf)) == 3.0
    assert last(H.value_at(buf, 0)) == 3.0
    assert last(H.value_at(buf, -1)) == 2.0
    assert last(H.value_at(buf, -3)) == 0.0
    assert last(H.value_at(buf, -4)) is None        # out of range → default
    assert last(H.value_at(buf, -4, default=-1.0)) == -1.0


@pytest.mark.slow
def test_value_at_times(buf):
    # half a minute before 180s → last tick ≤ 150s is (60s, seq1, 2.0)
    assert last(H.value_at(buf, TD(seconds=-30))) == 2.0
    assert last(H.value_at(buf, TD(seconds=-120))) == 2.0
    assert last(H.value_at(buf, TD(seconds=-180))) == 0.0  # exactly at 0s
    assert last(H.value_at(buf, t(0))) == 0.0              # absolute
    assert last(H.value_at(buf, t(59))) == 0.0
    # probe before first tick → default
    got = H.value_at(buf, TD(seconds=-300), default=-7.0).collect_ticks()
    assert got[0][1] == -7.0


@pytest.mark.slow
def test_time_at(buf):
    assert last(H.time_at(buf)) == t(180)
    assert last(H.time_at(buf, -1)) == t(60)
    assert last(H.time_at(buf, -3)) == t(0)
    assert last(H.time_at(buf, TD(seconds=-30))) == t(60)
    assert last(H.time_at(buf, t(59))) == t(0)
    assert last(H.time_at(buf, -4)) is None


def test_item_at(buf):
    it = last(H.item_at(buf, -1))
    assert (it["ts"], it["value"]) == (t(60), 2.0)
    it = last(H.item_at(buf, TD(seconds=-30)))
    assert (it["ts"], it["value"]) == (t(60), 2.0)


@pytest.mark.slow
def test_values_and_times_at(buf):
    assert last(H.values_at(buf)) == [0.0, 1.0, 2.0, 3.0]
    assert last(H.values_at(buf, -3, -1)) == [0.0, 1.0, 2.0]
    assert last(H.times_at(buf, -3, -1)) == [t(0), t(60), t(60)]
    # time-bounded: [-180s, -30s] from 180s → ticks in [0s, 150s]
    assert last(H.values_at(buf, TD(seconds=-180), TD(seconds=-30))) == [
        0.0, 1.0, 2.0,
    ]
    # exclusive start drops the 0s tick
    assert last(
        H.values_at(
            buf, TD(seconds=-180), TD(seconds=-30), start_policy="exclusive"
        )
    ) == [1.0, 2.0]
    # exclusive end at -120s (=60s) drops the two 60s ticks
    assert last(
        H.values_at(
            buf, TD(seconds=-180), TD(seconds=-120), end_policy="exclusive"
        )
    ) == [0.0]
    assert last(H.times_at(buf, TD(seconds=-180), TD(seconds=-30))) == [
        t(0), t(60), t(60),
    ]


def test_every_tick_emits(buf):
    # the lookup is computed at EVERY tick, not just the last one
    got = H.value_at(buf, -1).collect_ticks()
    assert [v for _, v in got] == [None, 0.0, 1.0, 2.0]
    got = H.value_at(buf, TD(seconds=-60)).collect_ticks()
    # at 0s→nothing ≤ -60s; at 60s(both cycles)→tick at 0s;
    # at 180s→last ≤120s = (60s,seq1)
    assert [v for _, v in got] == [None, 0.0, 0.0, 2.0]


def test_buffering_policy_noop(buf):
    assert H.set_buffering_policy(buf, tick_count=10) is buf
    with pytest.raises(ValueError):
        H.set_buffering_policy(buf, tick_count=0)
    with pytest.raises(ValueError):
        H.set_buffering_policy(buf, tick_history=TD(seconds=-1))


def test_items_at(buf):
    """items_at = zip(times_at, values_at) as (ts, value) structs
    (reference builtin_functions.py:250-270)."""
    items = last(H.items_at(buf, -3, -1))
    assert [(i["ts"], i["value"]) for i in items] == [
        (t(0), 0.0), (t(60), 1.0), (t(60), 2.0),
    ]
    items = last(H.items_at(buf, TD(seconds=-180), TD(seconds=-30)))
    assert [(i["ts"], i["value"]) for i in items] == [
        (t(0), 0.0), (t(60), 1.0), (t(60), 2.0),
    ]


def test_with_lookups_matches_single_streams(buf):
    """Multi-lookup frame computes the same answers as the per-lookup
    streams, in one window partition (no joins)."""
    frame = H.with_lookups(buf, {
        "v1": ("value_at", -1),
        "t1": ("time_at", -1),
        "it": ("item_at", -1),
        "vals": ("values_at", -3, -1),
        "items": ("items_at", -3, -1),
    })
    r = sorted(frame.collect(), key=lambda r: (r["ts"], r["seq"]))[-1]
    assert r["v1"] == last(H.value_at(buf, -1))
    assert r["t1"] == last(H.time_at(buf, -1))
    assert (r["it"]["ts"], r["it"]["value"]) == (t(60), 2.0)
    assert r["vals"] == [0.0, 1.0, 2.0]
    assert [(i["ts"], i["value"]) for i in r["items"]] == [
        (t(0), 0.0), (t(60), 1.0), (t(60), 2.0),
    ]
    import pytest as _pt
    with _pt.raises(TypeError):
        H.with_lookups(buf, {"bad": ("value_at", TD(seconds=-30))})


# ------------------------------------------------ TimeIndexPolicy
# Hand-derived from the reference engine's computeStartIndex /
# computeEndIndex (cpp/csp/python/PyInputProxy.cpp:175-233) and
# adjustStartAndEndTime tail padding (NumpyConversions.h:172-193):
# EXTRAPOLATE start prepends the as-of carry tick; EXTRAPOLATE end
# duplicates the last tick as a pad when it falls short of the end
# boundary; times_at/items_at clamp boundary timestamps to the window.


@pytest.fixture()
def xbuf(spark):
    # (1s,1) (3s,2) (3s,3 same-ts later cycle) (10s,4)
    return bl.curve(
        spark, [(t(1), 1.0), (t(3), 2.0), (t(3), 1, 3.0), (t(10), 4.0)]
    )


def test_values_at_extrapolate_carry(xbuf):
    # at the last tick (t=10): window [6s, 10s] — carry = last tick <= 6s
    # (the t=3 LAST duplicate, 3.0), then the in-window tick 4.0
    got = last(H.values_at(
        xbuf, TD(seconds=-4), TD(seconds=0),
        H.TimeIndexPolicy.EXTRAPOLATE, H.TimeIndexPolicy.EXTRAPOLATE,
    ))
    assert got == [3.0, 4.0]
    # timestamps: carry clamped forward to the window start; the end
    # tick is AT the boundary so no pad and no end clamp
    ts = last(H.times_at(
        xbuf, TD(seconds=-4), TD(seconds=0),
        H.TimeIndexPolicy.EXTRAPOLATE, H.TimeIndexPolicy.EXTRAPOLATE,
    ))
    assert ts == [t(6), t(10)]


@pytest.mark.slow
def test_values_at_extrapolate_pad(xbuf):
    # window [7s, 8s] at t=10: nothing in range; carry = 3.0 (t=3),
    # end pad duplicates it; timestamps clamp to both boundaries
    got = last(H.values_at(
        xbuf, TD(seconds=-3), TD(seconds=-2),
        H.TimeIndexPolicy.EXTRAPOLATE, H.TimeIndexPolicy.EXTRAPOLATE,
    ))
    assert got == [3.0, 3.0]
    ts = last(H.times_at(
        xbuf, TD(seconds=-3), TD(seconds=-2),
        H.TimeIndexPolicy.EXTRAPOLATE, H.TimeIndexPolicy.EXTRAPOLATE,
    ))
    assert ts == [t(7), t(8)]
    items = last(H.items_at(
        xbuf, TD(seconds=-3), TD(seconds=-2),
        H.TimeIndexPolicy.EXTRAPOLATE, H.TimeIndexPolicy.EXTRAPOLATE,
    ))
    assert [(i["ts"], i["value"]) for i in items] == [
        (t(7), 3.0), (t(8), 3.0),
    ]


def test_values_at_extrapolate_no_carry(xbuf):
    # at the FIRST tick (t=1): window [-3s, 1s] — no tick before the
    # window, so no carry; just the tick itself, no pad (it's at end)
    got = H.values_at(
        xbuf, TD(seconds=-4), TD(seconds=0),
        H.TimeIndexPolicy.EXTRAPOLATE, H.TimeIndexPolicy.EXTRAPOLATE,
    ).collect_ticks()[0][1]
    assert got == [1.0]


def test_extrapolate_mixed_with_inclusive(xbuf):
    # start INCLUSIVE keeps everything >= boundary, end EXTRAPOLATE
    # pads: window [0s, 8s] at t=10 -> [1,2,3] + pad 3
    got = last(H.values_at(
        xbuf, TD(seconds=-10), TD(seconds=-2),
        "inclusive", H.TimeIndexPolicy.EXTRAPOLATE,
    ))
    assert got == [1.0, 2.0, 3.0, 3.0]
    ts = last(H.times_at(
        xbuf, TD(seconds=-10), TD(seconds=-2),
        "inclusive", H.TimeIndexPolicy.EXTRAPOLATE,
    ))
    assert ts == [t(1), t(3), t(3), t(8)]


def test_integer_indexing_rejects_noninclusive(xbuf):
    with pytest.raises(ValueError, match="integer indexing"):
        H.values_at(xbuf, -3, -1, H.TimeIndexPolicy.EXTRAPOLATE)
    with pytest.raises(ValueError, match="integer indexing"):
        H.times_at(xbuf, -3, -1, end_policy=H.TimeIndexPolicy.EXCLUSIVE)


def test_duplicate_policy_kwarg(xbuf):
    # signature-compatible with the reference: LAST_VALUE accepted
    # (positionally too), FIRST_VALUE raises like the reference engine
    assert last(H.value_at(xbuf, -1, H.DuplicatePolicy.LAST_VALUE)) == 3.0
    assert last(H.time_at(xbuf, 0, H.DuplicatePolicy.LAST_VALUE)) == t(10)
    with pytest.raises(NotImplementedError):
        H.value_at(xbuf, -1, H.DuplicatePolicy.FIRST_VALUE)
    with pytest.raises(NotImplementedError):
        H.item_at(xbuf, -1, duplicate_policy=H.DuplicatePolicy.FIRST_VALUE)

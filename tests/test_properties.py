"""Property-based invariants over the baselib operators (hypothesis).

The reference's test suite leans on randomized data against algebraic
identities (csp/tests/test_baselib.py style); these mirror that with
generated tick streams. Examples are kept small — every example runs
real Spark jobs.
"""

import datetime as dt
import math

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from csp_spark import KEY, SEQ, TS, VALUE, TickStream
from csp_spark.operators import baselib as bl

import pytest

START = dt.datetime(2021, 1, 1)
SCHEMA = "key string, ts timestamp, seq long, value double"

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=40),  # seconds offset; ties allowed
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=20,
)


def _mk(spark, rows):
    # seq disambiguates ties in generation order — the engine-cycle rule
    data = [
        (k, START + dt.timedelta(seconds=s), i, float(v))
        for i, (k, s, v) in enumerate(rows)
    ]
    return TickStream(spark.createDataFrame(data, SCHEMA)), data


@pytest.mark.slow
@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_split_partitions_stream(spark, rows):
    x, data = _mk(spark, rows)
    flag = TickStream(
        x.df.select(KEY, TS, SEQ, (F.col(VALUE) > 0).alias(VALUE)), VALUE
    )
    t, f = bl.split(flag, x)
    assert t.df.count() + f.df.count() == len(data)


@pytest.mark.slow
@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_drop_dups_idempotent(spark, rows):
    x, _ = _mk(spark, rows)
    once = bl.drop_dups(x)
    twice = bl.drop_dups(once)
    a = sorted(tuple(r) for r in once.df.collect())
    b = sorted(tuple(r) for r in twice.df.collect())
    assert a == b


@pytest.mark.slow
@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_diff_of_accum_recovers_values(spark, rows):
    x, data = _mk(spark, rows)
    acc = bl.accum(x)
    rec = bl.diff(acc, 1)
    got = {(r[KEY], r[TS], r[SEQ]): r[VALUE] for r in rec.df.collect()}
    # per key, every tick after the first must recover the original value
    seen: dict[str, int] = {}
    for k, ts, seq, v in sorted(data, key=lambda r: (r[0], r[1], r[2])):
        if k in seen:
            assert math.isclose(got[(k, ts, seq)], v, abs_tol=1e-9)
        seen[k] = seen.get(k, 0) + 1


@pytest.mark.slow
@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_firstn_counts(spark, rows):
    x, data = _mk(spark, rows)
    n = 3
    per_key: dict[str, int] = {}
    for k, *_ in rows:
        per_key[k] = per_key.get(k, 0) + 1
    got = bl.firstN(x, n).df.count()
    assert got == sum(min(n, c) for c in per_key.values())


@pytest.mark.slow
@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_merge_left_wins_on_ties(spark, rows):
    x, data = _mk(spark, rows)
    y = TickStream(x.df.select(KEY, TS, SEQ, (F.col(VALUE) + 1000).alias(VALUE)))
    m = bl.merge(x, y)
    # every (key, ts, seq) collides -> left always wins, count preserved
    got = m.df.collect()
    assert len(got) == len(data)
    assert all(r[VALUE] < 1000 for r in got)


@pytest.mark.slow
@given(rows=rows_strategy)
@settings(**_SETTINGS)
def test_unroll_of_burst_preserves_multiset(spark, rows):
    x, data = _mk(spark, rows)
    rt = bl.unroll(bl.burst(x))
    got = sorted((r[KEY], r[TS], r[VALUE]) for r in rt.df.collect())
    exp = sorted((k, ts, v) for k, ts, _s, v in data)
    assert got == exp


# ---------------------------------------------------------------- round 4


@pytest.mark.slow
@given(
    rows=rows_strategy,
    window=st.integers(min_value=1, max_value=8),
    nparts=st.sampled_from([1, 3, 9]),
)
@settings(**_SETTINGS)
def test_windowed_unkeyed_equals_bruteforce(spark, rows, window, nparts):
    """Tail-replication windowed sums/counts equal a Python brute force
    over the engine-ordered stream, for any window/partitioning —
    covering both the replicated and fallback plans."""
    from csp_spark.core.unkeyed import windowed_unkeyed

    x, data = _mk(spark, rows)
    got = {r["seq"]: (r["win_sum"], r["win_count"], r["win_min"], r["win_max"])
           for r in windowed_unkeyed(
               x, window, aggs=["sum", "count", "min", "max"],
               num_partitions=nparts).collect()}
    ordered = sorted(data, key=lambda r: (r[1], r[2]))
    for i, (_k, _t, seq, _v) in enumerate(ordered):
        frame = [r[3] for r in ordered[max(0, i - window + 1): i + 1]]
        s, c, mn, mx = got[seq]
        assert c == len(frame)
        assert math.isclose(s, sum(frame), abs_tol=1e-6)
        assert mn == min(frame) and mx == max(frame)


@pytest.mark.slow
@given(rows=rows_strategy, init=st.floats(-10, 10, allow_nan=False))
@settings(**_SETTINGS)
def test_feedback_scan_equals_python_fold(spark, rows, init):
    """Per-cycle feedback equals the sequential per-key Python fold for
    a nonlinear update, for any generated stream and init."""
    from csp_spark import feedback_scan

    x, data = _mk(spark, rows)
    fn = lambda v, prev: max(min(0.7 * prev + 0.3 * v, 50.0), -50.0)  # noqa: E731
    got = {r["seq"]: r["value"] for r in feedback_scan(x, fn, init=init).df.collect()}
    prevs: dict = {}
    for k, t, seq, v in sorted(data, key=lambda r: (r[1], r[2])):
        prevs[k] = fn(v, prevs.get(k, init))
        assert math.isclose(got[seq], prevs[k], rel_tol=1e-12), seq


@given(
    payloads=st.lists(
        st.binary(min_size=0, max_size=300), min_size=1, max_size=6
    ),
    sizes=st.sampled_from([1, 7, 126, 65536]),
)
@settings(max_examples=20, deadline=None)
def test_websocket_frame_roundtrip_fuzz(payloads, sizes):
    """RFC 6455 framing: arbitrary payloads survive encode→parse with
    and without masking, across the 7/16/64-bit length encodings and
    arbitrary fragmentation points (no Spark involved)."""
    from csp_spark.streaming.websocket import (
        OP_CONT, OP_TEXT, _parse_frame, encode_frame,
    )

    for payload in payloads:
        padded = payload + b"x" * sizes  # push across length encodings
        for mask in (True, False):
            wire = encode_frame(OP_TEXT, padded, mask=mask)
            pos = [0]

            def rd(n):
                out = wire[pos[0]:pos[0] + n]
                pos[0] += n
                return out

            fin, op, got = _parse_frame(rd)
            assert fin and op == OP_TEXT and got == padded
        # fragmentation at an arbitrary cut: two frames reassemble
        cut = len(padded) // 3
        w1 = encode_frame(OP_TEXT, padded[:cut], mask=True, fin=False)
        w2 = encode_frame(OP_CONT, padded[cut:], mask=True, fin=True)
        stream = w1 + w2
        pos = [0]

        def rd2(n):
            out = stream[pos[0]:pos[0] + n]
            pos[0] += n
            return out

        fin1, op1, p1 = _parse_frame(rd2)
        fin2, op2, p2 = _parse_frame(rd2)
        assert not fin1 and op1 == OP_TEXT
        assert fin2 and op2 == OP_CONT and p1 + p2 == padded


@pytest.mark.slow
@given(
    sigs=st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=2, max_size=12, unique=True,
    ),
    max_hamming=st.integers(min_value=1, max_value=6),
)
@settings(**_SETTINGS)
def test_hamming_pairs_exact_recall(spark, sigs, max_hamming):
    """The pigeonhole bucket join must find EXACTLY the pairs within
    max_hamming bits — 100% recall (the structural guarantee) and no
    false positives (the verification filter)."""
    from csp_spark.dedup import hamming_pairs

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sigs)], "id long, sig long"
    )
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in hamming_pairs(df, max_hamming=max_hamming).collect()}
    want = {}
    for i, a in enumerate(sigs):
        for j in range(i + 1, len(sigs)):
            d = bin((a ^ sigs[j]) & ((1 << 64) - 1)).count("1")
            if d <= max_hamming:
                want[(i, j)] = d
    assert got == want


@pytest.mark.slow
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=0, max_size=12,
        ),
        min_size=1, max_size=5,
    ),
    k=st.integers(min_value=2, max_value=4),
)
@settings(**_SETTINGS)
def test_repeated_spans_equals_bruteforce(spark, texts, k):
    """repeated_spans == a brute-force Python census + interval merge
    on arbitrary tiny corpora (within-doc repeats, cross-doc repeats,
    docs shorter than k)."""
    from csp_spark.text import repeated_spans

    docs = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in repeated_spans(docs, k=k).collect()
    )

    from collections import defaultdict
    occ = defaultdict(list)
    for i, t in enumerate(texts):
        for p in range(len(t) - k + 1):
            occ[tuple(t[p:p + k])].append((i, p + 1))
    marked = defaultdict(list)
    for g, places in occ.items():
        if len(places) < 2:
            continue
        keep = min(places)
        for pl in places:
            if pl != keep:
                marked[pl[0]].append(pl[1])
    want = []
    for i, ps in marked.items():
        ps.sort()
        s, e = ps[0], ps[0] + k
        for p in ps[1:]:
            if p <= e:
                e = max(e, p + k)
            else:
                want.append((i, s, e))
                s, e = p, p + k
        want.append((i, s, e))
    assert got == sorted(want)


@pytest.mark.slow
@given(
    vals=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
        min_size=8, max_size=24,
    ),
    m=st.sampled_from([2, 4]),
)
@settings(**_SETTINGS)
def test_pq_codes_select_nearest_center(spark, vals, m):
    """Every PQ code must point at the nearest codebook center of its
    subvector (the argmin contract of the distributed encoder)."""
    import numpy as np
    from csp_spark.similarity import pq_index

    dim = 4
    rows = [
        (i, [float(vals[(i * dim + j) % len(vals)]) for j in range(dim)])
        for i in range(6)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    enc, books = pq_index(emb, m=m, n_codes=3, train_cap=None)
    dsub = dim // m
    vecs = dict(rows)
    for r in enc.select("vec_id", "codes").collect():
        v = np.array(vecs[r["vec_id"]], dtype=np.float64)
        for j, code in enumerate(r["codes"]):
            sub = v[j * dsub:(j + 1) * dsub]
            d2 = ((books[j] - sub) ** 2).sum(axis=1)
            assert d2[code] <= d2.min() + 1e-9, (r, j, d2)


@pytest.mark.slow
@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        min_size=1, max_size=20,
    ),
    nkeys=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_run_node_cumsum_equals_accum(spark, vals, nkeys):
    """Property: the imperative cumsum node equals the accum
    combinator for any tick values across any key split."""
    from csp_spark import run_node

    start = dt.datetime(2020, 1, 1)
    rows = [
        (f"k{i % nkeys}", start + dt.timedelta(seconds=i), 0, float(v))
        for i, v in enumerate(vals)
    ]
    x = TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"
    ))

    def cum(c):
        c.state["s"] += c["x"]
        return c.state["s"]

    got = run_node(cum, x, state={"s": 0.0}).collect_all()
    want = bl.accum(x).collect_all()
    assert set(got) == set(want)
    for k in want:
        for (gt, gv), (wt, wv) in zip(got[k], want[k]):
            assert gt == wt and math.isclose(gv, wv, rel_tol=1e-12, abs_tol=1e-12)


@pytest.mark.slow
@given(
    gaps=st.lists(st.integers(min_value=1, max_value=10), min_size=1, max_size=12),
    timeout=st.integers(min_value=2, max_value=8),
)
@settings(**_SETTINGS)
def test_run_node_alarm_fires_iff_gap_exceeds_timeout(spark, gaps, timeout):
    """Property: a re-armed timeout alarm fires exactly after ticks
    whose successor gap exceeds the timeout (plus the trailing one)."""
    from csp_spark import run_node

    start = dt.datetime(2020, 1, 1)
    times, t = [], 0
    for g in gaps:
        times.append(t)
        t += g
    x = TickStream.from_rows(
        spark, [(start + dt.timedelta(seconds=s), float(s)) for s in times],
        key="k",
    )

    def watchdog(c):
        if c.ticked("alarm"):
            return -1.0
        h = c.state.get("h")
        if h is not None:
            c.cancel_alarm(h)
        c.state["h"] = c.schedule_alarm(dt.timedelta(seconds=timeout), True)
        return None

    got = [ts for ts, _ in run_node(watchdog, x, state={}).collect_ticks("k")]
    want = []
    for i, s in enumerate(times):
        nxt = times[i + 1] if i + 1 < len(times) else None
        if nxt is None or nxt - s > timeout:
            want.append(start + dt.timedelta(seconds=s + timeout))
    assert got == want


from hypothesis import example


@pytest.mark.slow
@given(
    rows=rows_strategy,
    start_s=st.integers(min_value=1, max_value=12),
    end_s=st.integers(min_value=0, max_value=6),
    sp=st.sampled_from(["inclusive", "exclusive", "extrapolate"]),
    ep=st.sampled_from(["inclusive", "exclusive", "extrapolate"]),
)
# pinned: two ticks on the SAME timestamp — a range frame on micros
# cannot see seq, so without the _past_only element filter the first
# cycle would see its same-timestamp successor
@example(rows=[("a", 0, 0.0), ("a", 0, 1.0)], start_s=1, end_s=0,
         sp="inclusive", ep="inclusive")
@example(rows=[("a", 0, 0.0), ("a", 0, 1.0), ("a", 2, 2.0)], start_s=2,
         end_s=0, sp="extrapolate", ep="extrapolate")
@settings(**_SETTINGS)
def test_values_times_at_policies_match_python_replay(
    spark, rows, start_s, end_s, sp, ep
):
    """values_at/times_at under every TimeIndexPolicy pair equal a
    direct python replay of the reference ring-buffer rules
    (PyInputProxy computeStart/EndIndex + tail padding + boundary
    timestamp clamps), at every tick of the stream."""
    if end_s > start_s:
        start_s, end_s = end_s, start_s
    from csp_spark.operators import history as H

    x, data = _mk(spark, rows)
    S, E = dt.timedelta(seconds=-start_s), dt.timedelta(seconds=-end_s)
    got_v = {
        (r[KEY], r[TS], r[SEQ]): list(r[VALUE])
        for r in H.values_at(x, S, E, sp, ep).df.collect()
    }
    got_t = {
        (r[KEY], r[TS], r[SEQ]): list(r[VALUE])
        for r in H.times_at(x, S, E, sp, ep).df.collect()
    }

    by_key: dict = {}
    for k, ts_, seq, v in sorted(data, key=lambda r: (r[1], r[2])):
        by_key.setdefault(k, []).append((ts_, seq, v))
    for k, ticks in by_key.items():
        for now_ts, now_seq, _ in ticks:
            lo, hi = now_ts + S, now_ts + E
            past = [t for t in ticks if (t[0], t[1]) <= (now_ts, now_seq)]
            if sp == "inclusive":
                sel = [t for t in past if t[0] >= lo]
            elif sp == "exclusive":
                sel = [t for t in past if t[0] > lo]
            else:
                carry = [t for t in past if t[0] <= lo]
                sel = ([carry[-1]] if carry else []) + [
                    t for t in past if t[0] > lo
                ]
            if ep == "exclusive":
                sel = [t for t in sel if t[0] < hi]
            else:
                sel = [t for t in sel if t[0] <= hi]
            vals = [t[2] for t in sel]
            tss = [t[0] for t in sel]
            if ep == "extrapolate" and vals and tss[-1] < hi:
                vals.append(vals[-1])
                tss.append(tss[-1])
            if sp == "extrapolate" and tss and tss[0] < lo:
                tss[0] = lo
            if ep == "extrapolate" and tss and tss[-1] < hi:
                tss[-1] = hi
            keyk = (k, now_ts, now_seq)
            assert got_v[keyk] == vals, (keyk, sp, ep)
            assert got_t[keyk] == tss, (keyk, sp, ep)


@pytest.mark.slow
@given(
    rows=rows_strategy,
    gap_s=st.sampled_from([1, 2, 5]),
)
@settings(**_SETTINGS)
def test_sessionize_matches_pure_python(spark, rows, gap_s):
    """sessionize == the pure-python last-seen-time scan on arbitrary
    tick patterns, including exact-gap boundaries (integer-second
    offsets with gap in seconds make boundary hits common): a tick at
    exactly last+gap JOINS (native session_window's closed boundary),
    strictly later splits; same-timestamp cycles share a session;
    keys never interact. Session indexes per key are 0-based and
    contiguous."""
    from csp_spark.stats import sessionize

    x, data = _mk(spark, rows)
    gap = dt.timedelta(seconds=gap_s)
    got = {(r[KEY], r[TS], r[SEQ]): r["session_idx"]
           for r in sessionize(x, gap).df.collect()}
    last: dict = {}
    want = {}
    for k, t, q, _v in sorted(data, key=lambda r: (r[0], r[1], r[2])):
        idx, lt = last.get(k, (-1, None))
        if lt is None or (t - lt) > gap:
            idx += 1
        last[k] = (idx, t)
        want[(k, t, q)] = idx
    assert got == want
    # contiguity: indexes per key form 0..max with no holes
    per_key: dict = {}
    for (k, _t, _q), i in got.items():
        per_key.setdefault(k, set()).add(i)
    for k, s in per_key.items():
        assert s == set(range(max(s) + 1)), k


# ---------------------------------------------------------------------------
# align-kernel + stats-control fuzz (r8 verdict item 2): random engine-cycle
# tables with coincident (ts, seq) bursts driven through align/sample/
# binary_op and through trigger/sampler/reset/min_window/min_data_points
# combinations, each compared against a pure-python engine-cycle replay —
# the reference's own oracle style (csp/tests/test_stats.py).
# ---------------------------------------------------------------------------

#: one engine cycle: (key, Δsec [0 ⇒ same ts as previous cycle, distinct
#: seq ⇒ distinct cycle], x-kind [0 none / 1 value / 2 NaN tick], x value,
#: trigger?, reset?, sampler?)
cycles_strategy = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=3),
        st.sampled_from([0, 1, 1, 2]),
        st.floats(min_value=-50, max_value=50, allow_nan=False, width=32),
        st.booleans(),
        st.booleans(),
        st.booleans(),
    ),
    min_size=2,
    max_size=16,
)


def _mk_cycle_streams(spark, cycles):
    """TickStreams (x, trigger, reset, sampler) from one cycle list —
    same (key, ts, seq) across streams = the same engine cycle."""
    sec = 0
    xs, trs, rss, sms = [], [], [], []
    for seq, (k, dsec, xk, xv, trig, rst, smp) in enumerate(cycles):
        sec += dsec
        t = START + dt.timedelta(seconds=sec)
        if xk:
            xs.append((k, t, seq, float(xv) if xk == 1 else float("nan")))
        if trig:
            trs.append((k, t, seq, 1.0))
        if rst:
            rss.append((k, t, seq, 1.0))
        if smp:
            sms.append((k, t, seq, 1.0))

    def mk(rows):
        return TickStream(spark.createDataFrame(rows, SCHEMA))

    return mk(xs), mk(trs), mk(rss), mk(sms)


def _replay_rolling(cycles, *, interval, min_window, mdp=0, ignore_na=True,
                    use_trigger=False, use_sampler=False, use_reset=True):
    """Pure-python engine-cycle replay of Rolling(sum/mean/count) under
    every control: (ts, seq, pri) event order with pri
    reset(0) < data(2) < trigger(3), per-key epochs, tick/time window
    frames, warm-up and min_data_points gates, NaN poisoning."""
    events = []  # (key, sec, seq, pri, kind, value)
    sec = 0
    for seq, (k, dsec, xk, xv, trig, rst, smp) in enumerate(cycles):
        sec += dsec
        if use_reset and rst:
            events.append((k, sec, seq, 0, "reset", None))
        if use_sampler:
            if smp:  # sampler = data clock; x only counts when coincident
                v = float(xv) if xk == 1 else float("nan")
                events.append((k, sec, seq, 2, "data", v))
        elif xk:
            events.append(
                (k, sec, seq, 2, "data",
                 float(xv) if xk == 1 else float("nan"))
            )
        if use_trigger and trig:
            events.append((k, sec, seq, 3, "trig", None))
    out = {}
    for key in {e[0] for e in events}:
        evs = sorted(
            (e for e in events if e[0] == key),
            key=lambda e: (e[1], e[2], e[3]),
        )
        first_sec = min(e[1] for e in evs)  # per-key min over the UNION
        epoch = didx = 0
        data = []  # (epoch, didx, sec, value)
        for _k, s, q, _pri, kind, v in evs:
            if kind == "reset":
                epoch += 1
                continue
            if kind == "data":
                didx += 1
                data.append((epoch, didx, s, v))
            emit = (kind == "trig") if use_trigger else (kind == "data")
            if not emit:
                continue
            if interval is None:
                wrows = [d for d in data if d[0] == epoch]
            elif isinstance(interval, int):
                wrows = [d for d in data
                         if d[0] == epoch and d[1] > didx - interval]
            else:
                g = interval.total_seconds()
                wrows = [d for d in data
                         if d[0] == epoch and s - g < d[2] <= s]
            valid = [d[3] for d in wrows if not math.isnan(d[3])]
            has_nan = any(math.isnan(d[3]) for d in wrows)
            mw = interval if min_window is None else min_window
            if mw is None or (isinstance(mw, int) and mw <= 1):
                warm = True
            elif isinstance(mw, int):
                warm = didx >= mw
            else:
                warm = s >= first_sec + mw.total_seconds()
            if not warm:
                continue

            def gate(needs, val):
                req = max(mdp, needs)
                ok = len(valid) >= req if req > 0 else True
                if not ignore_na:
                    ok = ok and not has_nan
                return val if ok else float("nan")

            out[(key, s, q)] = (
                gate(0, float(sum(valid))),
                gate(1, sum(valid) / len(valid) if valid else float("nan")),
                float(len(valid)),
            )
    return out


def _collect_rolling(r, cycles):
    got = {}
    out = r.agg(s=r.sum_col(), m=r.mean_col(), c=r.count_col())
    for row in out.collect():
        sec = round((row[TS] - START).total_seconds())
        got[(row[KEY], sec, row[SEQ])] = (row["s"], row["m"], row["c"])
    return got


def _assert_maps_equal(got, want):
    assert set(got) == set(want), (
        sorted(set(got) ^ set(want)), len(got), len(want))
    for k in want:
        for g, w in zip(got[k], want[k]):
            same = (math.isnan(g) and math.isnan(w)) or math.isclose(
                g, w, rel_tol=1e-9, abs_tol=1e-9
            )
            assert same, (k, got[k], want[k])


@pytest.mark.slow
@given(cycles=cycles_strategy)
@settings(**_SETTINGS)
def test_binary_op_validity_gating_matches_cycle_replay(spark, cycles):
    """binary_op fires on either input's tick but only once BOTH are
    valid (csp/math.py:253-255), same-(ts,seq) ticks of both inputs are
    ONE engine cycle (one output row seeing both updates), and distinct
    cycles at one timestamp stay distinct rows."""
    from csp_spark.core.align import binary_op

    # x from the x-slots, y from the trigger-slots (reused as a second
    # value stream with value = the cycle's float)
    x, _t, _r, _s = _mk_cycle_streams(spark, cycles)
    ys = [
        (k, START + dt.timedelta(seconds=sec), seq, float(xv) * 0.5 - 1.0)
        for seq, (k, dsec, _xk, xv, trig, _rst, _smp) in enumerate(cycles)
        for sec in [sum(c[1] for c in cycles[: seq + 1])]
        if trig
    ]
    y = TickStream(spark.createDataFrame(ys, SCHEMA))
    # keep this one NaN-free: align treats NaN as a VALUE; NaN semantics
    # are the stats tests' job
    x = TickStream(
        x.df.filter(~F.isnan("value")), x.value_col
    )
    got = {
        (r[KEY], round((r[TS] - START).total_seconds()), r[SEQ]): r["value"]
        for r in binary_op(x, y, lambda a, b: a + b).df.collect()
    }
    last: dict = {}
    want: dict = {}
    sec = 0
    for seq, (k, dsec, xk, xv, trig, _rst, _smp) in enumerate(cycles):
        sec += dsec
        lx, ly = last.get(k, (None, None))
        if xk == 1:
            lx = float(xv)
        if trig:
            ly = float(xv) * 0.5 - 1.0
        last[k] = (lx, ly)
        if (xk == 1 or trig) and lx is not None and ly is not None:
            want[(k, sec, seq)] = lx + ly
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12, abs_tol=1e-12)


@pytest.mark.slow
@given(cycles=cycles_strategy)
@settings(**_SETTINGS)
def test_sample_asof_matches_cycle_replay(spark, cycles):
    """sample(trigger, x): x's last value at each trigger tick, nothing
    while x is invalid; a trigger coincident with an x tick sees THAT
    cycle's value (same-cycle updates are delivered before the node
    fires)."""
    from csp_spark.core.align import sample

    x, trig, _r, _s = _mk_cycle_streams(spark, cycles)
    x = TickStream(x.df.filter(~F.isnan("value")), x.value_col)
    got = {
        (r[KEY], round((r[TS] - START).total_seconds()), r[SEQ]): r["value"]
        for r in sample(trig, x).df.collect()
    }
    want: dict = {}
    last: dict = {}
    sec = 0
    for seq, (k, dsec, xk, xv, tr, _rst, _smp) in enumerate(cycles):
        sec += dsec
        if xk == 1:
            last[k] = float(xv)
        if tr and k in last:
            want[(k, sec, seq)] = last[k]
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k]


@pytest.mark.slow
@given(
    cycles=cycles_strategy,
    interval=st.integers(min_value=1, max_value=4),
    mw=st.integers(min_value=1, max_value=3),
    mdp=st.integers(min_value=0, max_value=2),
)
@settings(**_SETTINGS)
def test_rolling_trigger_reset_matches_cycle_replay(
    spark, cycles, interval, mw, mdp
):
    """Tick-window Rolling under trigger + reset + min_window +
    min_data_points together: reset splits the window BEFORE a
    same-cycle data tick (pri order reset < data < trigger), the
    trigger sees same-cycle data, warm-up counts data ticks, and every
    statistic NaN-gates on its own needs."""
    from csp_spark.stats.rolling import Rolling

    x, trig, rst, _s = _mk_cycle_streams(spark, cycles)
    r = Rolling(
        x, interval=interval, min_window=mw, min_data_points=mdp,
        trigger=trig, reset=rst,
    )
    got = _collect_rolling(r, cycles)
    want = _replay_rolling(
        cycles, interval=interval, min_window=mw, mdp=mdp,
        use_trigger=True,
    )
    _assert_maps_equal(got, want)


@pytest.mark.slow
@given(
    cycles=cycles_strategy,
    interval=st.integers(min_value=1, max_value=4),
    mw=st.integers(min_value=1, max_value=3),
)
@settings(**_SETTINGS)
def test_rolling_sampler_matches_cycle_replay(spark, cycles, interval, mw):
    """Sampler control: the sampler IS the data clock — x contributes
    only where it ticks the same engine cycle as a sampler tick, every
    other sampler tick is a NaN observation (counted by the window,
    skipped by ignore_na=True statistics)."""
    from csp_spark.stats.rolling import Rolling

    x, _t, _r, samp = _mk_cycle_streams(spark, cycles)
    r = Rolling(x, interval=interval, min_window=mw, sampler=samp,
                ignore_na=True)
    got = _collect_rolling(r, cycles)
    want = _replay_rolling(
        cycles, interval=interval, min_window=mw, use_sampler=True,
        use_reset=False,
    )
    _assert_maps_equal(got, want)


@pytest.mark.slow
@given(
    cycles=cycles_strategy,
    gap_s=st.integers(min_value=1, max_value=5),
    mw_s=st.integers(min_value=1, max_value=4),
)
@settings(**_SETTINGS)
def test_rolling_time_window_nan_poisoning_matches_cycle_replay(
    spark, cycles, gap_s, mw_s
):
    """Time-window Rolling with ignore_na=False + reset: the (t-d, t]
    window poisons sum/mean when ANY NaN tick is inside (count stays a
    raw valid-count), the timedelta warm-up measures from the per-key
    FIRST union row (data or reset), and reset still splits epochs."""
    from csp_spark.stats.rolling import Rolling

    x, _t, rst, _s = _mk_cycle_streams(spark, cycles)
    r = Rolling(
        x, interval=dt.timedelta(seconds=gap_s),
        min_window=dt.timedelta(seconds=mw_s),
        reset=rst, ignore_na=False,
    )
    got = _collect_rolling(r, cycles)
    want = _replay_rolling(
        cycles, interval=dt.timedelta(seconds=gap_s),
        min_window=dt.timedelta(seconds=mw_s), ignore_na=False,
    )
    _assert_maps_equal(got, want)


@pytest.mark.slow
@given(
    vals=st.lists(
        st.floats(min_value=-8, max_value=8, allow_nan=False, width=16),
        min_size=12, max_size=48,
    ),
    ndup=st.integers(min_value=0, max_value=4),
)
@settings(**_SETTINGS)
def test_vector_scorers_bit_identical_to_fold(spark, vals, ndup):
    """knn_join, hard_negatives(n_clusters=1) and cosine_pairs_above
    share one margin-select kernel; each must return the all-pairs
    sequential-sum result BIT-FOR-BIT on arbitrary corpora, including
    duplicated vectors (forced cos=1.0 ties at the top-k boundary) and
    a bound (exclude_eps, threshold) equal to a score that occurs, so
    pairs sit exactly on it — the adversarial cases for the margin
    around 6-dp rounded scores.

    The ground truth is an INDEPENDENT pure-Python replay of the
    interpreted scorer: a 0.0-seeded left-to-right float fold for dot
    and norm (IEEE addition is deterministic, so this reproduces the
    JVM aggregate() doubles exactly), every pair scored, rounded to
    6dp, ranked desc with id tiebreak."""
    from csp_spark.similarity import cosine_pairs_above, hard_negatives, knn_join

    dim = 4
    base = [
        [float(vals[(i * dim + j) % len(vals)]) + (0.1 if j == i % dim else 0.0)
         for j in range(dim)]
        for i in range(8)
    ]
    # duplicate the first ndup vectors under new ids: exact-tie groups
    rows = [(i, v) for i, v in enumerate(base)]
    rows += [(100 + i, list(base[i])) for i in range(ndup)]
    # drop zero-norm vectors (their NULL scores have their own test)
    rows = [r for r in rows if any(abs(x) > 1e-12 for x in r[1])]
    if len(rows) < 2:
        return
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def _fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    score = {
        (a, b): round(_fold(va, vb)
                      / (math.sqrt(_fold(va, va)) * math.sqrt(_fold(vb, vb))), 6)
        for a, va in rows for b, vb in rows if a != b
    }
    bound = sorted(score.values())[len(score) // 2]

    def _topk(eps):
        out = []
        for q, _ in rows:
            ranked = sorted((-s, b) for (a, b), s in score.items()
                            if a == q and (eps is None or s < eps))
            out += [(q, b, rank, -neg)
                    for rank, (neg, b) in enumerate(ranked[:3], 1)]
        return sorted(out)

    knn = knn_join(
        emb.select(F.col("vec_id").alias("qid"), "embedding"),
        emb.select(F.col("vec_id").alias("cid"), "embedding").repartition(3),
        k=3,
    )
    assert sorted((r.qid, r.cid, r.rank, r.cos_sim)
                  for r in knn.collect()) == _topk(None)
    hn = hard_negatives(emb, k=3, n_clusters=1, exclude_eps=bound)
    assert sorted((r.anchor, r.negative, r.rank, r.cos_sim)
                  for r in hn.collect()) == _topk(bound)
    cp = cosine_pairs_above(emb, bound)
    assert sorted(tuple(r) for r in cp.collect()) == sorted(
        (a, b, s) for (a, b), s in score.items() if a < b and s >= bound
    )


# ---------------------------------------------------------------------------
# baselib element-wise family vs pure-python cycle replays (r9): the same
# oracle style the reference uses in csp/tests/test_baselib.py — random
# keyed tick tables with coincident (ts, seq) cycles driven through the
# Spark operators and through a literal python replay of the reference
# semantics.
# ---------------------------------------------------------------------------

def _xrows(cycles):
    """(key, sec, seq, value) for the x slots of a cycle list."""
    out, sec = [], 0
    for seq, (k, dsec, xk, xv, *_rest) in enumerate(cycles):
        sec += dsec
        if xk:
            out.append((k, sec, seq, float(xv) if xk == 1 else float("nan")))
    return out


def _scalar_maps_equal(got, want):
    assert set(got) == set(want), (sorted(set(got) ^ set(want)),
                                   len(got), len(want))
    for kk in want:
        g, w = got[kk], want[kk]
        same = (math.isnan(g) and math.isnan(w)) or math.isclose(
            g, w, rel_tol=1e-12, abs_tol=1e-12
        )
        assert same, (kk, g, w)


def _collect_scalar(ts_stream):
    return {
        (r[KEY], round((r[TS] - START).total_seconds()), r[SEQ]): r["value"]
        for r in ts_stream.df.collect()
    }


@pytest.mark.slow
@given(cycles=cycles_strategy, n=st.integers(min_value=1, max_value=3))
@settings(**_SETTINGS)
def test_delay_ticks_and_timedelta_match_replay(spark, cycles, n):
    """csp.delay by timedelta moves timestamps (same value, same seq);
    delay by tick count re-times value i to tick i+n's cycle per key."""
    x, _t, _r, _s = _mk_cycle_streams(spark, cycles)
    rows = _xrows(cycles)

    got_td = {
        (r[KEY], round((r[TS] - START).total_seconds()), r[SEQ]): r["value"]
        for r in bl.delay(x, dt.timedelta(seconds=3)).df.collect()
    }
    want_td = {(k, sec + 3, seq): v for (k, sec, seq, v) in rows}
    _scalar_maps_equal(got_td, want_td)

    got_tk = _collect_scalar(bl.delay(x, n))
    want_tk = {}
    for key in {r[0] for r in rows}:
        ks = [r for r in rows if r[0] == key]  # already (ts, seq) ordered
        for i in range(n, len(ks)):
            _k, sec, seq, _v = ks[i]
            want_tk[(key, sec, seq)] = ks[i - n][3]
    _scalar_maps_equal(got_tk, want_tk)


@pytest.mark.slow
@given(cycles=cycles_strategy, lag=st.integers(min_value=1, max_value=3))
@settings(**_SETTINGS)
def test_diff_tick_and_time_lag_match_replay(spark, cycles, lag):
    """csp.diff: tick lag is v_i - v_{i-lag} per key; time lag is
    v(t) - v_asof(t - lag) emitted ONLY on x's own cycles (the
    reference x - sample(x, delay(x, lag)) composition)."""
    x, _t, _r, _s = _mk_cycle_streams(spark, cycles)
    rows = _xrows(cycles)

    got_tk = _collect_scalar(bl.diff(x, lag))
    want_tk = {}
    for key in {r[0] for r in rows}:
        ks = [r for r in rows if r[0] == key]
        for i in range(lag, len(ks)):
            _k, sec, seq, v = ks[i]
            want_tk[(key, sec, seq)] = v - ks[i - lag][3]
    _scalar_maps_equal(got_tk, want_tk)

    # 3.5s: tick times are integer seconds, so t - lag never lands ON a
    # tick and the as-of boundary is unambiguous
    got_td = _collect_scalar(bl.diff(x, dt.timedelta(seconds=3, milliseconds=500)))
    want_td = {}
    for key in {r[0] for r in rows}:
        ks = [r for r in rows if r[0] == key]
        for i, (_k, sec, seq, v) in enumerate(ks):
            prev = [r for r in ks if r[1] <= sec - 3.5]
            if prev:
                want_td[(key, sec, seq)] = v - prev[-1][3]
    _scalar_maps_equal(got_td, want_td)


@pytest.mark.slow
@given(cycles=cycles_strategy)
@settings(**_SETTINGS)
def test_merge_left_wins_matches_replay(spark, cycles):
    """csp.merge unions two streams; when both tick on the SAME engine
    cycle (same key, ts, seq) the left value wins."""
    x, _t, _r, _s = _mk_cycle_streams(spark, cycles)
    rows = _xrows(cycles)
    ys, sec = [], 0
    for seq, (k, dsec, _xk, xv, trig, _rst, _smp) in enumerate(cycles):
        sec += dsec
        if trig:
            ys.append((k, START + dt.timedelta(seconds=sec), seq,
                       float(xv) * 2.0 + 1.0))
    y = TickStream(spark.createDataFrame(ys, SCHEMA))
    got = _collect_scalar(bl.merge(x, y))
    want = {}
    for (k, t, seq, v) in ys:
        want[(k, round((t - START).total_seconds()), seq)] = v
    for (k, sec_, seq, v) in rows:  # x overwrites: left wins
        want[(k, sec_, seq)] = v
    _scalar_maps_equal(got, want)


@pytest.mark.slow
@given(cycles=cycles_strategy,
       eps=st.sampled_from([None, 0.75, 5.0]))
@settings(**_SETTINGS)
def test_drop_dups_eps_nan_matches_replay(spark, cycles, eps):
    """csp.drop_dups drops CONSECUTIVE per-key duplicates; float mode
    treats |a-b| < eps as equal and NaN == NaN."""
    x, _t, _r, _s = _mk_cycle_streams(spark, cycles)
    rows = _xrows(cycles)
    got = _collect_scalar(bl.drop_dups(x, eps=eps))
    want, last = {}, {}
    for (k, sec, seq, v) in rows:
        p = last.get(k)
        if p is None:
            same = False
        elif math.isnan(v) or math.isnan(p):
            same = math.isnan(v) and math.isnan(p)
        elif eps is not None:
            same = abs(v - p) < eps
        else:
            same = v == p
        if not same:
            want[(k, sec, seq)] = v
        last[k] = v
    _scalar_maps_equal(got, want)


@pytest.mark.slow
@given(cycles=cycles_strategy, on_tick=st.booleans())
@settings(**_SETTINGS)
def test_gate_matches_replay(spark, cycles, on_tick):
    """csp.gate buffers x while the gate is closed and flushes the
    buffer as ONE list tick at the next opening release cycle; while
    open each tick passes as a single-element list (release_on_tick
    flushes only on actual true release ticks)."""
    x, _t, _r, _s = _mk_cycle_streams(spark, cycles)
    rows = _xrows(cycles)
    rels, sec = [], 0
    for seq, (k, dsec, _xk, _xv, trig, rst, _smp) in enumerate(cycles):
        sec += dsec
        if trig:
            rels.append((k, sec, seq, bool(rst)))
    rel = TickStream(spark.createDataFrame(
        [(k, START + dt.timedelta(seconds=s), q, v) for (k, s, q, v) in rels],
        "key string, ts timestamp, seq long, value boolean",
    ))
    got = {
        (r[KEY], round((r[TS] - START).total_seconds()), r[SEQ]):
            list(r["value"])
        for r in bl.gate(x, rel, release_on_tick=on_tick).df.collect()
    }
    want: dict = {}
    for key in {r[0] for r in rows} | {r[0] for r in rels}:
        krel = [r for r in rels if r[0] == key]
        opens = [(s, q) for (_k, s, q, v) in krel if v]
        for (_k, s, q, v) in [r for r in rows if r[0] == key]:
            opened = [rv for (_rk, rs, rq, rv) in krel if (rs, rq) <= (s, q)]
            open_now = bool(opened) and opened[-1]
            if open_now and not on_tick:
                flush = (s, q)
            else:
                nxt = [o for o in opens if o >= (s, q)]
                if not nxt:
                    continue
                flush = nxt[0]
            want.setdefault((key, flush[0], flush[1]), []).append((s, q, v))
    want = {kk: [v for (_s, _q, v) in sorted(vals)] for kk, vals in want.items()}
    assert set(got) == set(want), sorted(set(got) ^ set(want))
    for kk in want:
        assert len(got[kk]) == len(want[kk]), (kk, got[kk], want[kk])
        for g, w in zip(got[kk], want[kk]):
            assert (math.isnan(g) and math.isnan(w)) or g == w, (kk, g, w)


@pytest.mark.slow
@given(cycles=cycles_strategy)
@settings(**_SETTINGS)
def test_unroll_matches_replay(spark, cycles):
    """csp.unroll explodes a list tick into per-element ticks at the
    SAME timestamp on successive engine cycles — seq is re-derived
    densely per (key, ts) ordered by (original seq, list position)."""
    rows = _xrows(cycles)
    lrows = [
        (k, START + dt.timedelta(seconds=sec), seq,
         [v + float(j) for j in range(1 + seq % 3)])
        for (k, sec, seq, v) in rows
    ]
    xs = TickStream(spark.createDataFrame(
        lrows, "key string, ts timestamp, seq long, value array<double>"))
    got = _collect_scalar(bl.unroll(xs))
    want = {}
    by_kt: dict = {}
    for (k, t, seq, vs) in lrows:
        sec = round((t - START).total_seconds())
        for pos, v in enumerate(vs):
            by_kt.setdefault((k, sec), []).append((seq, pos, v))
    for (k, sec), items in by_kt.items():
        for new_seq, (_s, _p, v) in enumerate(sorted(items)):
            want[(k, sec, new_seq)] = v
    _scalar_maps_equal(got, want)


@pytest.mark.slow
@given(cycles=cycles_strategy)
@settings(**_SETTINGS)
def test_filter_and_split_match_replay(spark, cycles):
    """csp.filter passes x ticks while the LAST flag value is true (an
    as-of gate including a same-cycle flag tick); csp.split routes each
    x tick by that same as-of flag, dropping ticks before any flag."""
    x, _t, _r, _s = _mk_cycle_streams(spark, cycles)
    rows = _xrows(cycles)
    flags, sec = [], 0
    for seq, (k, dsec, _xk, _xv, trig, rst, _smp) in enumerate(cycles):
        sec += dsec
        if trig:
            flags.append((k, sec, seq, bool(rst)))
    flag = TickStream(spark.createDataFrame(
        [(k, START + dt.timedelta(seconds=s), q, v) for (k, s, q, v) in flags],
        "key string, ts timestamp, seq long, value boolean",
    ))
    got_f = _collect_scalar(bl.filter_(flag, x))
    tside, fside = bl.split(flag, x)
    got_t, got_fa = _collect_scalar(tside), _collect_scalar(fside)
    want_t, want_f = {}, {}
    for (k, s, q, v) in rows:
        fl = [fv for (fk, fs, fq, fv) in flags
              if fk == k and (fs, fq) <= (s, q)]
        if not fl:
            continue
        (want_t if fl[-1] else want_f)[(k, s, q)] = v
    _scalar_maps_equal(got_f, want_t)  # filter == split.true
    _scalar_maps_equal(got_t, want_t)
    _scalar_maps_equal(got_fa, want_f)


@pytest.mark.slow
@given(cycles=cycles_strategy)
@settings(**_SETTINGS)
def test_burst_last_value_flatten_match_replay(spark, cycles):
    """PushMode shaping and set union: burst conflates same-timestamp
    ticks into one seq-ordered list, last_value keeps only the max-seq
    tick per (key, ts), flatten interleaves streams re-deriving dense
    seq by (original seq, stream position)."""
    x, _t, _r, _s = _mk_cycle_streams(spark, cycles)
    rows = _xrows(cycles)
    by_kt: dict = {}
    for (k, s, q, v) in rows:
        by_kt.setdefault((k, s), []).append((q, v))

    got_b = {
        (r[KEY], round((r[TS] - START).total_seconds()), r[SEQ]):
            list(r["value"])
        for r in bl.burst(x).df.collect()
    }
    want_b = {(k, s, 0): [v for (_q, v) in sorted(items)]
              for (k, s), items in by_kt.items()}
    assert set(got_b) == set(want_b)
    for kk in want_b:
        assert len(got_b[kk]) == len(want_b[kk])
        for g, w in zip(got_b[kk], want_b[kk]):
            assert (math.isnan(g) and math.isnan(w)) or g == w, (kk, g, w)

    got_l = _collect_scalar(bl.last_value(x))
    want_l = {}
    for (k, s), items in by_kt.items():
        q, v = max(items)
        want_l[(k, s, q)] = v
    _scalar_maps_equal(got_l, want_l)

    ys, sec = [], 0
    for seq, (k, dsec, _xk, xv, trig, _rst, _smp) in enumerate(cycles):
        sec += dsec
        if trig:
            ys.append((k, sec, seq, float(xv) - 7.0))
    y = TickStream(spark.createDataFrame(
        [(k, START + dt.timedelta(seconds=s), q, v) for (k, s, q, v) in ys],
        SCHEMA))
    got_fl = _collect_scalar(bl.flatten([x, y]))
    merged: dict = {}
    for pri, src in ((0, rows), (1, ys)):
        for (k, s, q, v) in src:
            merged.setdefault((k, s), []).append((q, pri, v))
    want_fl = {}
    for (k, s), items in merged.items():
        for new_seq, (_q, _p, v) in enumerate(sorted(items)):
            want_fl[(k, s, new_seq)] = v
    _scalar_maps_equal(got_fl, want_fl)


@pytest.mark.slow
@given(cycles=cycles_strategy)
@settings(**_SETTINGS)
def test_multiplex_demultiplex_collect_match_replay(spark, cycles):
    """csp.multiplex emits x ticks whose basket key equals the LAST
    selector value (a same-cycle selector tick applies to the
    coincident x tick); csp.demultiplex routes per key; csp.collect
    gathers coincident ticks into one stream-position-ordered list."""
    from csp_spark import GLOBAL_KEY

    x, _t, _r, _s = _mk_cycle_streams(spark, cycles)
    rows = _xrows(cycles)

    sels, sec = [], 0
    for seq, (k, dsec, _xk, _xv, trig, rst, _smp) in enumerate(cycles):
        sec += dsec
        if trig:
            sels.append((sec, seq, "a" if rst else "b"))
    ks = TickStream(spark.createDataFrame(
        [(GLOBAL_KEY, START + dt.timedelta(seconds=s), q, v)
         for (s, q, v) in sels],
        "key string, ts timestamp, seq long, value string",
    ))
    got_m = _collect_scalar(bl.multiplex(x, ks))
    want_m = {}
    for (k, s, q, v) in rows:
        cur = [sv for (ss, sq, sv) in sels if (ss, sq) <= (s, q)]
        if cur and cur[-1] == k:
            want_m[(k, s, q)] = v
    _scalar_maps_equal(got_m, want_m)

    demux = bl.demultiplex(x, ["a", "b"])
    for key in ("a", "b"):
        got_d = _collect_scalar(demux[key])
        want_d = {(k, s, q): v for (k, s, q, v) in rows if k == key}
        _scalar_maps_equal(got_d, want_d)

    ys = [(k, START + dt.timedelta(seconds=s), q, v * 3.0)
          for (k, s, q, v) in
          [(k, s, q, v) for (k, s, q, v) in rows if q % 2 == 0]]
    y = TickStream(spark.createDataFrame(ys, SCHEMA))
    got_c = {
        (r[KEY], round((r[TS] - START).total_seconds()), r[SEQ]):
            list(r["value"])
        for r in bl.collect({"x": x, "y": y}).df.collect()
    }
    want_c: dict = {}
    for pos, src in ((0, rows), (1, [(k, round((t - START).total_seconds()),
                                      q, v) for (k, t, q, v) in ys])):
        for (k, s, q, v) in src:
            want_c.setdefault((k, s, q), []).append((pos, v))
    want_c = {kk: [v for (_p, v) in sorted(vals)]
              for kk, vals in want_c.items()}
    assert set(got_c) == set(want_c)
    for kk in want_c:
        assert len(got_c[kk]) == len(want_c[kk]), (kk, got_c[kk], want_c[kk])
        for g, w in zip(got_c[kk], want_c[kk]):
            assert (math.isnan(g) and math.isnan(w)) or g == w, (kk, g, w)


# ----------------------------------------------------------------------
# r10 frontier: struct_fromts/struct_collectts, sync threshold windows,
# alarm schedule/cancel — each vs a pure-python cycle replay
# ----------------------------------------------------------------------

two_field_cycles = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),               # stream key
        st.integers(min_value=0, max_value=3),      # seconds since prev cycle
        st.booleans(),                              # field f ticks
        st.floats(-50, 50, allow_nan=False, width=32),
        st.booleans(),                              # field g ticks
        st.floats(-50, 50, allow_nan=False, width=32),
        st.booleans(),                              # trigger ticks
    ),
    min_size=1,
    max_size=16,
)


def _mk_two_fields(spark, cycles):
    sec = 0
    fs, gs, trs = [], [], []
    for seq, (k, dsec, ft, fv, gt, gv, trig) in enumerate(cycles):
        sec += dsec
        t = START + dt.timedelta(seconds=sec)
        if ft:
            fs.append((k, t, seq, float(fv)))
        if gt:
            gs.append((k, t, seq, float(gv)))
        if trig:
            trs.append((k, t, seq, 1.0))

    def mk(rows):
        return TickStream(spark.createDataFrame(rows, SCHEMA))

    return mk(fs), mk(gs), mk(trs)


@pytest.mark.slow
@given(cycles=two_field_cycles, use_trigger=st.booleans())
@settings(**_SETTINGS)
def test_struct_fromts_matches_cycle_replay(spark, cycles, use_trigger):
    """struct_fromts == replay: emit on any field tick (or only on
    trigger cycles), carrying each field's LAST value as of the cycle
    (coincident same-cycle ticks visible, never-ticked fields unset)."""
    f, g, tr = _mk_two_fields(spark, cycles)
    out = bl.struct_fromts(
        {"f": f, "g": g}, trigger=tr if use_trigger else None
    )
    got = {
        k: [(t, (v["f"], v["g"])) for t, v in out.collect_ticks(k)]
        for k in ("a", "b")
    }

    # pure-python cycle replay
    want = {"a": [], "b": []}
    last = {("a", "f"): None, ("a", "g"): None,
            ("b", "f"): None, ("b", "g"): None}
    sec = 0
    for k, dsec, ft, fv, gt, gv, trig in cycles:
        sec += dsec
        t = START + dt.timedelta(seconds=sec)
        if ft:
            last[(k, "f")] = float(fv)
        if gt:
            last[(k, "g")] = float(gv)
        emit = trig if use_trigger else (ft or gt)
        if emit:
            want[k].append((t, (last[(k, "f")], last[(k, "g")])))
    assert got == want


@pytest.mark.slow
@given(cycles=two_field_cycles)
@settings(**_SETTINGS)
def test_struct_collectts_matches_cycle_replay(spark, cycles):
    """struct_collectts == replay: one tick per engine cycle where any
    field ticks, carrying ONLY that cycle's values (others unset)."""
    f, g, _ = _mk_two_fields(spark, cycles)
    out = bl.struct_collectts({"f": f, "g": g})
    got = {
        k: [(t, (v["f"], v["g"])) for t, v in out.collect_ticks(k)]
        for k in ("a", "b")
    }
    want = {"a": [], "b": []}
    sec = 0
    for k, dsec, ft, fv, gt, gv, _tr in cycles:
        sec += dsec
        t = START + dt.timedelta(seconds=sec)
        if ft or gt:
            want[k].append((
                t,
                (float(fv) if ft else None, float(gv) if gt else None),
            ))
    assert got == want


sync_cycles = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.integers(min_value=0, max_value=9),      # absolute-ish gaps
        st.sampled_from(["m1", "m2", "m3"]),        # which member ticks
        st.floats(-50, 50, allow_nan=False, width=32),
    ),
    min_size=1,
    max_size=18,
)


@pytest.mark.slow
@given(
    cycles=sync_cycles,
    threshold_s=st.integers(min_value=1, max_value=6),
    incomplete=st.booleans(),
)
@settings(**_SETTINGS)
def test_sync_dict_threshold_windows_match_replay(
    spark, cycles, threshold_s, incomplete
):
    """basketlib.sync_dict (no trigger) == replay: epoch buckets of
    ``threshold``, one batch per (key, bucket) with each member's FIRST
    value in engine order, tick time = latest member first;
    output_incomplete=False keeps only full batches."""
    from csp_spark.operators.basketlib import sync_dict

    members = ["m1", "m2", "m3"]
    sec = 0
    rows = {m: [] for m in members}
    for seq, (k, dsec, m, v) in enumerate(cycles):
        sec += dsec
        rows[m].append((k, START + dt.timedelta(seconds=sec), seq, float(v)))
    streams = {
        m: TickStream(spark.createDataFrame(rows[m], SCHEMA))
        for m in members
    }
    th = dt.timedelta(seconds=threshold_s)
    out = sync_dict(streams, th, output_incomplete=incomplete)
    got = {
        k: [(t, dict(v)) for t, v in out.collect_ticks(k)]
        for k in ("a", "b")
    }

    # replay: bucket by epoch floor; first (ts,seq) per member wins
    us = threshold_s * 1_000_000
    firsts = {}  # (key, bucket, member) -> (ts, seq, value)
    for m in members:
        for k, t, seq, v in rows[m]:
            tus = int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
            b = tus // us
            cur = firsts.get((k, b, m))
            if cur is None or (t, seq) < (cur[0], cur[1]):
                firsts[(k, b, m)] = (t, seq, v)
    batches = {}
    for (k, b, m), (t, seq, v) in firsts.items():
        batches.setdefault((k, b), {})[m] = (t, v)
    want = {"a": [], "b": []}
    for (k, b), mv in sorted(
        batches.items(), key=lambda kv: max(t for t, _ in kv[1].values())
    ):
        if not incomplete and len(mv) != len(members):
            continue
        want[k].append((
            max(t for t, _ in mv.values()),
            {m: v for m, (t, v) in mv.items()},
        ))
    # batch tick times can tie across buckets; compare as sorted lists
    for k in ("a", "b"):
        assert sorted(got[k], key=lambda x: (x[0], sorted(x[1].items()))) \
            == sorted(want[k], key=lambda x: (x[0], sorted(x[1].items())))


@pytest.mark.slow
@given(
    ticks=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),   # gap seconds
            st.sampled_from(["sched", "cancel"]),
            st.integers(min_value=1, max_value=5),   # alarm delay seconds
        ),
        min_size=1,
        max_size=12,
    ),
)
@settings(**_SETTINGS)
def test_alarm_schedule_cancel_matches_replay(spark, ticks):
    """run_node alarm scheduling == replay: every 'sched' tick arms a
    one-shot alarm at +delay+0.5s (offset keeps alarm cycles disjoint
    from data cycles); 'cancel' cancels the node's most recently armed
    handle — a no-op if that alarm already fired (one-shot semantics);
    armed alarms coexist, each fires exactly once, coincident alarms
    fire in scheduling order."""
    from csp_spark import run_node

    start = dt.datetime(2020, 1, 1)
    rows, t = [], 0
    for i, (gap, action, delay) in enumerate(ticks):
        t += gap
        # value encodes the action: +delay = schedule, -1 = cancel
        rows.append((start + dt.timedelta(seconds=t),
                     float(delay) if action == "sched" else -1.0))
    x = TickStream.from_rows(spark, rows, key="k")

    def node(c):
        if c.ticked("alarm"):
            return c.alarm
        v = c["x"]
        if v >= 0:
            h = c.schedule_alarm(
                dt.timedelta(seconds=v, milliseconds=500), float(v)
            )
            c.state.setdefault("hs", []).append(h)
        else:
            hs = c.state.get("hs") or []
            if hs:
                c.cancel_alarm(hs.pop())
        return None

    got = run_node(node, x, state={}).collect_ticks("k")

    # pure-python replay over the same event order
    pending = []  # (fire_time, value, alive[bool-ref])
    stack = []
    t = 0
    for gap, action, delay in ticks:
        t += gap
        if action == "sched":
            rec = [
                start + dt.timedelta(seconds=t + delay, milliseconds=500),
                float(delay),
                True,
            ]
            pending.append(rec)
            stack.append(rec)
        else:
            # mirror the node exactly: it pops ITS most recent handle,
            # spent or not — cancelling an already-fired handle is a
            # no-op (the tick was already delivered)
            if stack:
                rec = stack.pop()
                now = start + dt.timedelta(seconds=t)
                if rec[0] > now:
                    rec[2] = False
    # coincident alarms fire in scheduling order: stable sort on fire
    # time only (pending is already in scheduling order)
    want = [
        (ft, v)
        for ft, v, alive in sorted(pending, key=lambda r: r[0])
        if alive
    ]
    assert got == want


@pytest.mark.slow
@given(
    cycles=sync_cycles,
    trig_gaps=st.lists(st.integers(min_value=0, max_value=9),
                       min_size=1, max_size=8),
    threshold_s=st.integers(min_value=1, max_value=6),
    incomplete=st.booleans(),
)
@settings(**_SETTINGS)
def test_sync_dict_trigger_windows_match_replay(
    spark, cycles, trig_gaps, threshold_s, incomplete
):
    """basketlib.sync_dict TRIGGER form == replay: the accepted
    triggers are the greedy per-key subsequence spaced >= threshold;
    each member tick attaches to the latest accepted trigger at or
    before it and stays iff strictly inside the open window; first
    value per member per window, tick time = latest member first."""
    from csp_spark.operators.basketlib import sync_dict

    members = ["m1", "m2", "m3"]
    sec = 0
    rows = {m: [] for m in members}
    for seq, (k, dsec, m, v) in enumerate(cycles):
        sec += dsec
        rows[m].append((k, START + dt.timedelta(seconds=sec), seq, float(v)))
    streams = {
        m: TickStream(spark.createDataFrame(rows[m], SCHEMA))
        for m in members
    }
    # triggers on key "a" and "b" alternating, at cumulative gaps
    tsec, trig_rows = 0, []
    for i, g in enumerate(trig_gaps):
        tsec += g
        trig_rows.append(
            ("a" if i % 2 == 0 else "b",
             START + dt.timedelta(seconds=tsec), 1000 + i, 1.0)
        )
    trigger = TickStream(spark.createDataFrame(trig_rows, SCHEMA))
    th = dt.timedelta(seconds=threshold_s)
    out = sync_dict(streams, th, output_incomplete=incomplete,
                    trigger=trigger)
    got = {
        k: [(t, dict(v)) for t, v in out.collect_ticks(k)]
        for k in ("a", "b")
    }

    # ---- pure-python replay
    us = threshold_s * 1_000_000

    def _us(t):
        return int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)

    accepted = {}  # key -> [trigger us...] greedy, >= threshold apart
    for k, t, seq, _v in sorted(trig_rows, key=lambda r: (r[0], r[1], r[2])):
        lst = accepted.setdefault(k, [])
        if not lst or _us(t) - lst[-1] >= us:
            lst.append(_us(t))
    firsts = {}  # (key, window_open_us, member) -> (ts, seq, value)
    for m in members:
        for k, t, seq, v in rows[m]:
            opens = [o for o in accepted.get(k, ()) if o <= _us(t)]
            if not opens:
                continue
            o = max(opens)
            if _us(t) - o >= us:
                continue  # outside the open window (strict <)
            cur = firsts.get((k, o, m))
            if cur is None or (t, seq) < (cur[0], cur[1]):
                firsts[(k, o, m)] = (t, seq, v)
    batches = {}
    for (k, o, m), (t, seq, v) in firsts.items():
        batches.setdefault((k, o), {})[m] = (t, v)
    want = {"a": [], "b": []}
    for (k, o), mv in batches.items():
        if not incomplete and len(mv) != len(members):
            continue
        want[k].append((
            max(t for t, _ in mv.values()),
            {m: v for m, (t, v) in mv.items()},
        ))
    for k in ("a", "b"):
        kf = lambda x: (x[0], sorted(x[1].items()))
        assert sorted(got[k], key=kf) == sorted(want[k], key=kf)


@pytest.mark.slow
@given(
    rows=rows_strategy,
    interval_s=st.integers(min_value=1, max_value=15),
)
@settings(**_SETTINGS)
def test_ohlc_bars_match_cycle_replay(spark, rows, interval_s):
    """ohlc_bars == replay: tumbling epoch-aligned buckets; open/close
    follow exact (ts, seq) engine order (ties included), high/low/
    count/mean over the bucket, empty buckets emit nothing."""
    from csp_spark.stats.resample import ohlc_bars

    x, data = _mk(spark, rows)
    out = ohlc_bars(x, dt.timedelta(seconds=interval_s))
    got = {
        (r["key"], r["bar_start"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_ticks"],
            round(r["mean"], 9),
        )
        for r in out.collect()
    }

    us = interval_s * 1_000_000
    buckets = {}
    for k, t, seq, v in sorted(data, key=lambda r: (r[1], r[2])):
        tus = int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
        b = (tus // us) * us
        bt = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=b)
        buckets.setdefault((k, bt), []).append(v)
    want = {
        kb: (
            vs[0], max(vs), min(vs), vs[-1], len(vs),
            round(sum(vs) / len(vs), 9),
        )
        for kb, vs in buckets.items()
    }
    assert got == want


@given(
    lsecs=st.lists(
        st.tuples(st.sampled_from(["a", "b"]),
                  st.integers(min_value=0, max_value=120)),
        min_size=1, max_size=14,
    ),
    rsecs=st.lists(
        st.tuples(st.sampled_from(["a", "b"]),
                  st.integers(min_value=0, max_value=120)),
        min_size=1, max_size=14,
    ),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
    tol_s=st.sampled_from([None, 5, 30]),
)
@settings(**_SETTINGS)
def test_asof_join_fuzz_matches_merge_asof(spark, lsecs, rsecs,
                                           direction, tol_s):
    """asof_join == pandas.merge_asof on generated keyed frames for
    every direction x tolerance, including coincident left/right
    stamps and exact nearest-ties (which resolve backward in both)."""
    import pandas as pd

    from csp_spark import asof_join

    base = pd.Timestamp("2020-01-01")
    lpdf = pd.DataFrame({
        "k": [k for k, _ in lsecs],
        "ts": [base + pd.Timedelta(seconds=s) for _, s in lsecs],
    }).sort_values("ts").reset_index(drop=True)
    rpdf = pd.DataFrame({
        "k": [k for k, _ in rsecs],
        "ts": [base + pd.Timedelta(seconds=s) for _, s in rsecs],
    }).drop_duplicates(["k", "ts"])  # dup right stamps: pandas breaks
    # ties by input order, unobservable to a distributed join
    rpdf["v"] = [float(i) for i in range(len(rpdf))]
    rpdf = rpdf.sort_values("ts").reset_index(drop=True)

    tol = None if tol_s is None else pd.Timedelta(seconds=tol_s)
    exp = pd.merge_asof(
        lpdf, rpdf, on="ts", by="k", direction=direction, tolerance=tol
    )
    got = asof_join(
        spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
        on=["k"], left_ts="ts", right_ts="ts", right_cols=["v"],
        direction=direction,
        tolerance=None if tol is None else tol.to_pytimedelta(),
    ).toPandas()
    cols = ["k", "ts", "v"]
    e = exp[cols].sort_values(["k", "ts", "v"]).reset_index(drop=True)
    g = got[cols].sort_values(["k", "ts", "v"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(e, g, check_dtype=False)


# ---------------------------------------------------------------------------
# r11 verdict item 6: fuzz the class-shaped adapters on their sharp edges
# ---------------------------------------------------------------------------

_KAFKA_RENAMES = [
    {"px": "px", "qty": "qty", "sym": "sym", "et": "et"},   # identity
    {"px": "p", "qty": "q", "sym": "s", "et": "t"},          # full rename
    {"px": "wire_price", "qty": "qty", "sym": "sym_col", "et": "et"},
]


@pytest.mark.slow
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["k1", "k2"]),
            st.integers(min_value=0, max_value=600),
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                      width=32),
            st.integers(min_value=-10**9, max_value=10**9),
        ),
        min_size=1, max_size=16,
    ),
    fm=st.sampled_from(_KAFKA_RENAMES),
    keyed=st.booleans(),
)
@settings(**_SETTINGS)
def test_kafka_field_map_roundtrip_fuzz(spark, rows, fm, keyed):
    """publish -> wire frame -> subscribe with the inverse field_map is
    the identity on tick content (keyed and wildcard), for identity and
    renaming maps, with the tick time recovered from a payload field
    (tick_timestamp_from_field) — the whole mapping surface in one
    property over the broker-free source_df seam."""
    import csp_spark
    from csp_spark.adapters.kafka import KafkaAdapterManager
    from csp_spark.adapters.utils import JSONTextMessageMapper
    from csp_spark.core.record import Struct

    class Wire(Struct):
        px: float
        qty: int
        sym: str
        et: dt.datetime

    data = [
        (k, START + dt.timedelta(seconds=s), i,
         {"px": float(px), "qty": qty, "sym": k,
          "et": START + dt.timedelta(seconds=s)})
        for i, (k, s, px, qty) in enumerate(rows)
    ]
    x = csp_spark.TickStream.from_rows(
        spark, [(t, v) for _, t, _, v in data],
        value_type="px double, qty long, sym string, et timestamp",
        key="unused",
    )
    # re-key by the sym field (from_rows keys uniformly)
    from pyspark.sql import functions as F

    x = TickStream(x.df.withColumn(KEY, F.col(VALUE)["sym"]))

    mapper = JSONTextMessageMapper()
    mgr_out = KafkaAdapterManager("broker:9092")
    wire = mgr_out.publish(mapper, "t1", "sym", x, field_map=fm)
    source_df = (
        wire.select(
            F.col("key").cast("binary").alias("key"),
            F.col("value").cast("binary").alias("value"),
        )
        .withColumn("topic", F.lit("t1"))
        .withColumn("partition", F.lit(0))
        .withColumn("offset", F.monotonically_increasing_id())
        .withColumn("timestamp", F.lit(dt.datetime(1999, 1, 1)))
    )
    inv = {w: s for s, w in fm.items()}
    mgr_in = KafkaAdapterManager("broker:9092", source_df=source_df)
    sub = mgr_in.subscribe(
        Wire, mapper, "t1",
        key=("k1" if keyed else None),
        field_map=inv,
        tick_timestamp_from_field=fm["et"],
    )
    got = sorted(
        (r[KEY], r[TS], r[VALUE]["px"], r[VALUE]["qty"], r[VALUE]["sym"])
        for r in sub.df.collect()
    )
    want = sorted(
        (k, t, v["px"], v["qty"], v["sym"])
        for k, t, _, v in data
        if (not keyed) or k == "k1"
    )
    assert got == want


_NY = "America/New_York"
# naive NY-local minutes around both 2020 DST transitions, excluding
# the nonexistent hour (02:xx Mar 8) and the ambiguous hour (01:xx
# Nov 1) — the reference's own constraint composition (BETWEEN on
# localized endpoints) is undefined there, like any naive-local schema
_DST_BASES = [dt.datetime(2020, 3, 7, 22), dt.datetime(2020, 10, 31, 22)]


def _valid_local(t: dt.datetime) -> bool:
    if t.date() == dt.date(2020, 3, 8) and t.hour == 2:
        return False
    if t.date() == dt.date(2020, 11, 1) and t.hour == 1:
        return False
    return True


@given(
    base_i=st.integers(0, 1),
    offs=st.lists(st.integers(0, 10 * 60), min_size=1, max_size=12,
                  unique=True),
    win=st.tuples(st.integers(0, 9 * 60), st.integers(30, 10 * 60)),
)
@settings(**_SETTINGS)
def test_dbreader_dst_window_vs_pandas_oracle(spark, base_i, offs, win):
    """DBReader replay windows ACROSS the America/New_York DST
    transitions (the r10 host-tz bug class): a naive-local timestamp
    column with a tz-labeled accessor must return exactly the rows a
    pandas tz_localize/tz_convert replay returns, with engine times in
    UTC — regardless of which side of the offset change each row and
    each window endpoint lands on."""
    import sqlite3

    import pandas as pd
    import zoneinfo

    import csp_spark

    csp_spark.enable_reference_alias()
    import csp
    from csp.adapters.db import DBReader, TimestampAccessor

    base = _DST_BASES[base_i]
    locals_ = [base + dt.timedelta(minutes=m) for m in offs]
    locals_ = [t for t in locals_ if _valid_local(t)]
    if not locals_:
        return
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE ev (ts TEXT, v REAL)")
    conn.executemany(
        "INSERT INTO ev VALUES (?,?)",
        [(t.isoformat(sep=" "), float(i)) for i, t in enumerate(locals_)],
    )
    conn.commit()

    ny = zoneinfo.ZoneInfo(_NY)
    utc = dt.timezone.utc
    # engine window in naive UTC, anchored to the same wall span
    base_utc = base.replace(tzinfo=ny).astimezone(utc).replace(tzinfo=None)
    lo = base_utc + dt.timedelta(minutes=min(win))
    hi = base_utc + dt.timedelta(minutes=max(win))
    if lo == hi:
        hi += dt.timedelta(minutes=1)

    def graph():
        r = DBReader.create_from_connection(
            conn, TimestampAccessor("ts", tz=_NY), table_name="ev",
        )
        return {"e": r.subscribe_all(float, field_map="v")}

    res = csp.run(graph, starttime=lo, endtime=hi)

    # pandas oracle: the reference constraint semantics — localized
    # window endpoints BETWEEN on the naive column — then UTC times out
    pdf = pd.DataFrame({"t": locals_,
                        "v": [float(i) for i in range(len(locals_))]})
    lo_l = lo.replace(tzinfo=utc).astimezone(ny).replace(tzinfo=None)
    hi_l = hi.replace(tzinfo=utc).astimezone(ny).replace(tzinfo=None)
    sel = pdf[(pdf.t >= lo_l) & (pdf.t <= hi_l)].copy()
    sel["utc"] = (
        pd.Series(sel.t).dt.tz_localize(_NY).dt.tz_convert("UTC")
        .dt.tz_localize(None)
    )
    want = sorted(zip(sel.utc.dt.to_pydatetime(), sel.v))
    got = sorted(res["e"])
    assert got == [(t, v) for t, v in want]


@given(
    offs=st.lists(st.integers(0, 3 * 24 * 60 - 1), min_size=1, max_size=14,
                  unique=True),
    win=st.tuples(st.integers(0, 3 * 24 * 60 - 1),
                  st.integers(0, 3 * 24 * 60 - 1)),
    tz_ny=st.booleans(),
)
@settings(**_SETTINGS)
def test_dbreader_datetime_accessor_span_vs_pandas(spark, offs, win, tz_ny):
    """DateTimeAccessor's three-conjunct span constraint (reference
    db.py:136-156: date BETWEEN + boundary-day time exclusions) over
    separate date/time-of-day TEXT columns must select exactly the
    rows whose combined datetime falls in the replay window — checked
    against a pandas combine-and-filter oracle, for single-day and
    multi-day windows, naive-UTC and tz-labeled accessors alike."""
    import sqlite3
    import zoneinfo

    import pandas as pd

    import csp_spark

    csp_spark.enable_reference_alias()
    import csp
    from csp.adapters.db import DateTimeAccessor, DBReader

    tz = "America/New_York" if tz_ny else "UTC"
    base = dt.datetime(2020, 7, 6)  # DST-stable days in both zones
    times = [base + dt.timedelta(minutes=m) for m in offs]
    conn = sqlite3.connect(":memory:")
    conn.execute("CREATE TABLE ev (d TEXT, t TEXT, v REAL)")
    conn.executemany(
        "INSERT INTO ev VALUES (?,?,?)",
        [(x.date().isoformat(), x.time().isoformat(), float(i))
         for i, x in enumerate(times)],
    )
    conn.commit()

    zone = zoneinfo.ZoneInfo(tz)
    utc = dt.timezone.utc
    lo_local = base + dt.timedelta(minutes=min(win))
    hi_local = base + dt.timedelta(minutes=max(win) + 1)
    # engine window in naive UTC
    lo = lo_local.replace(tzinfo=zone).astimezone(utc).replace(tzinfo=None)
    hi = hi_local.replace(tzinfo=zone).astimezone(utc).replace(tzinfo=None)

    def graph():
        r = DBReader.create_from_connection(
            conn, DateTimeAccessor("d", "t", tz=tz), table_name="ev",
        )
        return {"e": r.subscribe_all(float, field_map="v")}

    res = csp.run(graph, starttime=lo, endtime=hi)

    pdf = pd.DataFrame({"x": times, "v": [float(i) for i in range(len(times))]})
    sel = pdf[(pdf.x >= lo_local) & (pdf.x <= hi_local)].copy()
    sel["utc"] = (
        pd.Series(sel.x).dt.tz_localize(tz).dt.tz_convert("UTC")
        .dt.tz_localize(None)
    )
    want = sorted(zip(sel.utc.dt.to_pydatetime(), sel.v))
    assert sorted(res["e"]) == [(t, v) for t, v in want]


# ---------------------------------------------------------------------------
# r12 verdict task 8: endurance/property follow-through on the r11 surfaces
# ---------------------------------------------------------------------------

_derby_counter = [0]


@pytest.mark.slow
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["AAPL", "IBM"]),
            st.integers(min_value=0, max_value=12),  # minute offset; TIES
        ),
        min_size=2, max_size=18,
    ),
    n_parts=st.sampled_from([2, 3, 4]),
)
@settings(**_SETTINGS)
def test_partitioned_jdbc_tie_order_fuzz(spark, rows, n_parts):
    """The documented multi-partition DBReader tie contract (r11
    verdict finding 4): with same-timestamp ticks, the partitioned
    JDBC read orders ties by xxhash64 of row data — LAYOUT-INDEPENDENT
    but not cursor order. Property over tie-heavy random tables in an
    embedded Derby: (1) every partitioned read of ANY partition count
    produces the identical tick sequence (re-read and 1-vs-N
    stability of the contract's observable), (2) cross-timestamp order
    is time order, (3) per-timestamp tick MULTISETS equal the raw
    cursor's (no row lost/duplicated by the range split), matching the
    single-partition path's."""
    import csp_spark

    csp_spark.enable_reference_alias()
    import csp
    from csp.adapters.db import DBReader, TimestampAccessor

    _derby_counter[0] += 1
    url = f"jdbc:derby:memory:tieprop{_derby_counter[0]};create=true"
    jvm = spark._jvm
    jconn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        cur = jconn.createStatement()
        cur.execute(
            "CREATE TABLE trades (ts TIMESTAMP, symbol VARCHAR(8), "
            "price DOUBLE)"
        )
        data = []
        for i, (sym, m) in enumerate(rows):
            t = dt.datetime(2020, 1, 1, 9, 30) + dt.timedelta(minutes=m)
            price = 100.0 + i  # rows stay distinct; timestamps tie
            data.append((t, sym, price))
            cur.execute(
                f"INSERT INTO trades VALUES (TIMESTAMP('"
                f"{t.isoformat(sep=' ')}'), '{sym}', {price})"
            )
        jconn.commit()

        lo = dt.datetime(2020, 1, 1, 9, 30)
        hi = dt.datetime(2020, 1, 1, 9, 59)

        def read(parts):
            r = DBReader(
                url, TimestampAccessor("ts", tz="UTC"),
                table_name="trades", symbol_column="symbol",
                num_partitions=parts, lower_bound=lo, upper_bound=hi,
            )
            s = r.subscribe_all(float, field_map="price")
            return [(row["ts"], row["seq"], row["key"], row["value"])
                    for row in s.df.orderBy("ts", "seq").collect()]

        multi = read(n_parts)
        # (1) layout independence: other partition counts + re-read
        assert read(n_parts) == multi
        assert read(2 if n_parts != 2 else 3) == multi
        # (2) time order
        assert [t for t, *_ in multi] == sorted(t for t, *_ in multi)
        # (3) per-timestamp multisets match the cursor rows and the
        # single-partition path (whose tie ORDER is cursor order — the
        # documented delta, so compare as sets per timestamp)
        from collections import Counter

        def per_ts(ticks):
            c = {}
            for t, _seq, k, v in ticks:
                c.setdefault(t, Counter())[(k, v)] += 1
            return c

        want = {}
        for t, sym, price in data:
            want.setdefault(t, Counter())[(sym, price)] += 1
        assert per_ts(multi) == want
        assert per_ts(read(1)) == want
        # (ts, seq) is a usable total order: unique within timestamp
        seqs = [(t, s) for t, s, *_ in multi]
        assert len(set(seqs)) == len(seqs)
    finally:
        jconn.close()


@pytest.mark.slow
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["AAPL", "IBM", ""]),  # "" = symbolless row
            st.integers(min_value=0, max_value=30),  # second offset; ties
            st.floats(min_value=-50, max_value=50, allow_nan=False,
                      width=32),
        ),
        min_size=1, max_size=16,
    ),
    win=st.tuples(st.integers(min_value=0, max_value=30),
                  st.integers(min_value=0, max_value=30)),
)
@settings(**_SETTINGS)
def test_pending_row_manager_timeslices_fuzz(spark, tmp_path_factory,
                                             rows, win):
    """PendingRowManagerImpl (the shared CSV/DB managed-sim timeslice
    loop, r11) vs the Spark-scan subscribe path over random row
    tapes: arbitrary tie patterns, symbolless rows, and a random
    engine window cutting the tape anywhere — keyed and
    subscribe_all("") subscriptions must deliver identical ticks."""
    import csp_spark

    csp_spark.enable_reference_alias()
    import csp
    from csp.adapters.csv import (
        CSVReadAdapter, CSVReader, YYYYMMDD_TIME_formatter,
    )

    base = dt.datetime(2020, 1, 1, 9, 30)
    data = sorted(
        (base + dt.timedelta(seconds=s), sym, float(round(v, 3)))
        for sym, s, v in rows
    )
    d = tmp_path_factory.mktemp("prm")
    path = str(d / "tape.csv")
    with open(path, "w") as f:
        f.write("time,symbol,price\n")
        for t, sym, v in data:
            f.write(f"{t.strftime('%Y%m%d %H:%M:%S')},{sym},{v!r}\n")

    lo = base + dt.timedelta(seconds=min(win))
    hi = base + dt.timedelta(seconds=max(win))

    def graph():
        r = CSVReader(path, YYYYMMDD_TIME_formatter("time"),
                      symbol_column="symbol")
        return {
            "rt": CSVReadAdapter(r, "AAPL", float, fieldMap="price"),
            "scan": r.subscribe("AAPL", float, field_map="price"),
            "all_rt": CSVReadAdapter(r, "", float, fieldMap="price"),
            "all_scan": r.subscribe_all(float, field_map="price"),
        }

    res = csp.run(graph, starttime=lo, endtime=hi)
    assert res["rt"] == res["scan"]
    assert res["all_rt"] == res["all_scan"]
    # independent replay of the tape: keyed ticks in the window
    want = [(t, v) for t, sym, v in data if sym == "AAPL" and lo <= t <= hi]
    assert [(t, round(v, 3)) for t, v in res["rt"]] == [
        (t, round(v, 3)) for t, v in want]


@pytest.mark.slow
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=20),   # seconds; ties ok
            st.integers(min_value=0, max_value=8),    # action selector
        ),
        min_size=1, max_size=10,
    ),
    delay=st.sampled_from([2, 3, 5]),
)
@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_streaming_alarms_fuzz_match_batch(spark, tmp_path_factory,
                                           rows, delay):
    """Random tick/schedule/cancel interleavings: run_node_stream(
    alarms=True) over microbatch drops equals batch run_node on the
    same program — the deterministic alarm tests' invariant, fuzzed
    (action per tick: schedule a +delay alarm, cancel the last pending
    handle, or neither; alarms echo; engine end = final watermark)."""
    import uuid as _uuid

    from csp_spark import TickStream
    from csp_spark.core.noderun import run_node
    from csp_spark.plans.runtime import _run_info_stack
    from csp_spark.streaming import file_ticks, run_node_stream

    def node(cycle):
        if cycle.ticked("alarm"):
            return 1000.0 + cycle.alarm
        act = int(cycle["x"]) % 3
        if act == 0:
            cycle.state.setdefault("hs", []).append(
                cycle.schedule_alarm(dt.timedelta(seconds=delay),
                                     float(int(cycle["x"]))))
        elif act == 1 and cycle.state.get("hs"):
            cycle.cancel_alarm(cycle.state["hs"].pop())
        return cycle["x"]

    data = sorted(
        {(k, s): float(a) for k, s, a in rows}.items(),
        key=lambda kv: (kv[0][1], kv[0][0]),
    )  # one row per (key, sec), TIME-ordered across keys: microbatch
    # files must respect global time order or the 0-delay watermark
    # drops later-batch rows as late (the streaming in-order contract)
    ticks = [(k, START + dt.timedelta(seconds=s), 0, v)
             for (k, s), v in data]
    top = max(s for (_, s), _ in data)
    flush = [("zz", START + dt.timedelta(seconds=top + 10), 0, 2.0),
             ("zz", START + dt.timedelta(seconds=top + 40), 0, 2.0)]

    d = tmp_path_factory.mktemp("alarm_fuzz")
    half = max(1, len(ticks) // 2)
    batches = [ticks[:half], ticks[half:] or [flush[0]], *[[f] for f in
               (flush if ticks[half:] else flush[1:])]]
    for i, chunk in enumerate(b for b in batches if b):
        spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
            "overwrite").parquet(str(d / f"b{i}"))
    stream = file_ticks(spark, str(d / "*"), SCHEMA, ts_col="ts",
                        value_col="value", key_col="key",
                        max_files_per_trigger=1)
    out = run_node_stream(node, {"x": stream}, alarms=True)
    name = f"af_{_uuid.uuid4().hex[:8]}"
    _run_info_stack.append({"start": None, "end": None, "realtime": True})
    try:
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
    finally:
        _run_info_stack.pop()
    got = sorted((r["key"], r["ts"], r["seq"], r["value"])
                 for r in spark.table(name).collect())
    ref = sorted(
        (r["key"], r["ts"], r["seq"], r["value"])
        for r in run_node(
            node,
            {"x": TickStream(spark.createDataFrame(ticks + flush, SCHEMA))},
            end=START + dt.timedelta(seconds=top + 40),
        ).df.collect()
    )
    assert got == ref

"""csp.run-style harness, feedback fixed point, dynamic per-key apply."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from csp_spark import KEY, SEQ, TS, VALUE, TickStream, binary_op
from csp_spark.plans import dynamic_apply, feedback_iterate, run

START = dt.datetime(2020, 1, 1)
TD = dt.timedelta


def test_run_graph(spark):
    def graph():
        bid = TickStream.from_rows(spark, [(START, 99.0), (START + TD(seconds=2), 99.5)])
        ask = TickStream.from_rows(spark, [(START + TD(seconds=1), 100.0)])
        spread = binary_op(ask, bid, lambda a, b: a - b, "spread")
        return {"spread": spread}

    out = run(graph, starttime=START, endtime=START + TD(minutes=1))
    assert out["spread"] == [(START + TD(seconds=1), 1.0), (START + TD(seconds=2), 0.5)]


def test_run_output_numpy(spark):
    def graph():
        return TickStream.from_rows(spark, [(START + TD(seconds=i), float(i)) for i in range(3)])

    out = run(graph, output_numpy=True)
    times, vals = out["0"]
    assert list(vals) == [0.0, 1.0, 2.0]
    assert str(times.dtype) == "datetime64[us]"


def test_feedback_fixed_point(spark):
    # clamp-to-10 accumulator: value' = min(value * 2, 10); fixed point = all 10
    init = TickStream.from_rows(spark, [(START + TD(seconds=i), 1.0) for i in range(4)])

    def step(cur):
        return cur.with_df(
            cur.df.withColumn(VALUE, F.least(F.col(VALUE) * 2, F.lit(10.0)))
        )

    out = feedback_iterate(step, init, max_iters=20)
    assert [v for _, v in out.collect_ticks()] == [10.0] * 4


def test_dynamic_apply(spark):
    rows = [("a", START + TD(seconds=i), 0, float(i)) for i in range(5)]
    rows += [("b", START + TD(seconds=i), 0, float(10 * i)) for i in range(5)]
    x = TickStream(spark.createDataFrame(rows, "key string, ts timestamp, seq long, value double"))

    def cummax(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.copy()
        pdf["value"] = pdf["value"].cummax()
        return pdf

    out = dynamic_apply(x, cummax, "key string, ts timestamp, seq long, value double")
    got = out.collect_all()
    assert [v for _, v in got["a"]] == [0.0, 1.0, 2.0, 3.0, 4.0]
    assert [v for _, v in got["b"]] == [0.0, 10.0, 20.0, 30.0, 40.0]


def test_dynamic_reference_key_cap(spark, monkeypatch):
    """The reference-form csp.dynamic builds one driver-side sub-plan
    per discovered key (the Spark analog of DynamicEngine's per-key
    sub-engine spawn); past CSP_SPARK_DYNAMIC_MAX_KEYS it must raise
    toward dynamic_apply instead of building 10^5 Catalyst plans."""
    import pytest

    from csp_spark.plans import runtime as rt

    rows = [
        (f"k{i:03d}", START + TD(seconds=i), 0, float(i)) for i in range(12)
    ]
    trig = TickStream(
        spark.createDataFrame(
            rows, "key string, ts timestamp, seq long, value double"
        )
    )

    def sub(att):
        return att

    monkeypatch.setattr(rt, "_DYNAMIC_MAX_KEYS", 8)
    with pytest.raises(RuntimeError, match="dynamic_apply"):
        rt.dynamic(trig, sub, rt.attached())
    # under the cap the same wiring spawns normally
    monkeypatch.setattr(rt, "_DYNAMIC_MAX_KEYS", 50)
    out = rt.dynamic(trig, sub, rt.attached())
    assert len(out) == 12
    assert [v for _, v in out["k003"].collect_ticks()] == [3.0]


def test_profiler_block(spark):
    from csp_spark import Profiler

    with Profiler(spark) as p:
        spark.range(10**5).selectExpr("sum(id)").collect()
        spark.range(10**4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    r = p.results()
    assert r["cycle_count"] >= 2
    assert r["wall_time"] > 0
    assert r["average_cycle_time"] == r["wall_time"] / r["cycle_count"]
    assert 0.0 <= r["utilization"] <= 1.0
    assert r["completed_tasks"] > 0 and len(r["node_stats"]) >= 2
    # jobs outside the block are not attributed to it
    with Profiler(spark) as p2:
        pass
    assert p2.results()["cycle_count"] == 0


def test_dynamic_snap_and_attach(spark):
    """csp.snap/snapkey/attach analogues: per-key subgraph reads the
    snapped scalar (value at its first trigger tick), its own key, and
    an attached stream's per-key slice."""
    from csp_spark.plans.runtime import attached, dynamic_apply, snap, snapkey

    trig = [("a", START + TD(seconds=2), 0, 1.0), ("a", START + TD(seconds=4), 0, 2.0),
            ("b", START + TD(seconds=3), 0, 3.0)]
    ref_rows = [("a", START + TD(seconds=1), 0, 10.0), ("a", START + TD(seconds=3), 0, 11.0),
                ("b", START + TD(seconds=1), 0, 20.0)]
    side = [("a", START + TD(seconds=2), 1, 0.5), ("a", START + TD(seconds=5), 0, 0.7),
            ("b", START + TD(seconds=9), 0, 0.9)]
    sch = "key string, ts timestamp, seq long, value double"
    x = TickStream(spark.createDataFrame(trig, sch))
    ref = TickStream(spark.createDataFrame(ref_rows, sch))
    s = TickStream(spark.createDataFrame(side, sch))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        key = snapkey(pdf)
        base = snap(pdf, "ref")                      # value of ref at first trigger
        att = attached(pdf, "side")                  # this key's side slice
        trig_rows = pdf[pdf["__src"] == ""]
        out = trig_rows[["key", "ts", "seq"]].copy()
        out["value"] = trig_rows["value"] + base + len(att) + (0.0 if key else -1.0)
        return out

    out = dynamic_apply(
        x, fn, sch, attach={"side": s}, snap_streams={"ref": ref}
    )
    got = out.collect_all()
    # key a: snap(ref)=10.0 (last ref ≤ first trigger t=2), 2 side rows
    assert [v for _, v in got["a"]] == [1.0 + 10.0 + 2, 2.0 + 10.0 + 2]
    # key b: snap(ref)=20.0, 1 side row
    assert [v for _, v in got["b"]] == [3.0 + 20.0 + 1]


@pytest.mark.slow
def test_running_unkeyed_matches_global_window(spark):
    """Two-pass prefix plan equals the single-window form bit-for-bit
    for all four associative aggregates, and the plan's data windows
    are partitioned by the pinned partition id (no global window)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csp_spark import TickStream
    from csp_spark.core.unkeyed import running_unkeyed
    from csp_spark.sources import read_table

    ev = read_table(spark, "/root/testdata/sf0.001/events.parquet")
    x = TickStream.from_table(ev, ts_col="ts", value_col="value",
                              seq_col="event_id")
    w = Window.orderBy("ts", "seq").rowsBetween(Window.unboundedPreceding, 0)
    ref = {
        (r["ts"], r["seq"]): (r["s"], r["c"], r["mn"], r["mx"])
        for r in x.df.select(
            "ts", "seq",
            F.sum(F.col("value").cast("decimal(28,10)")).over(w)
            .cast("double").alias("s"),
            F.count("value").over(w).alias("c"),
            F.min("value").over(w).alias("mn"),
            F.max("value").over(w).alias("mx"),
        ).collect()
    }
    for i, agg in enumerate(("sum", "count", "min", "max")):
        got = {(r["ts"], r["seq"]): r["value"]
               for r in running_unkeyed(x, agg, num_partitions=7).df.collect()}
        assert got == {k: v[i] for k, v in ref.items()}, agg
    # running last (the align kernel's op) incl. null gaps
    import pyspark.sql.functions as SF
    xn = TickStream(x.df.withColumn(
        "value", SF.when(SF.col("seq") % 3 == 0, SF.col("value"))))
    lref = {(r["ts"], r["seq"]): r["l"] for r in xn.df.select(
        "ts", "seq", SF.last("value", ignorenulls=True).over(w).alias("l")
    ).collect()}
    lgot = {(r["ts"], r["seq"]): r["value"]
            for r in running_unkeyed(xn, "last", num_partitions=7).df.collect()}
    assert lgot == lref
    # NULL discipline for the associative aggs: with 2/3 of rows NULL a
    # small partition count makes all-NULL-prefix partitions likely —
    # the two-pass form must still equal the single global window
    # (sum previously went NULL instead of carrying the offset)
    nref = {
        (r["ts"], r["seq"]): (r["s"], r["c"], r["mn"], r["mx"])
        for r in xn.df.select(
            "ts", "seq",
            F.sum(F.col("value").cast("decimal(28,10)")).over(w)
            .cast("double").alias("s"),
            F.count("value").over(w).alias("c"),
            F.min("value").over(w).alias("mn"),
            F.max("value").over(w).alias("mx"),
        ).collect()
    }
    for i, agg in enumerate(("sum", "count", "min", "max")):
        ngot = {(r["ts"], r["seq"]): r["value"]
                for r in running_unkeyed(xn, agg, num_partitions=13).df.collect()}
        assert ngot == {k: v[i] for k, v in nref.items()}, agg
    df = running_unkeyed(x, "sum").df
    lines = [l for l in df._jdf.queryExecution().executedPlan().toString()
             .split("\n") if "Window" in l]
    assert lines and all("__pid" in l for l in lines)


@pytest.mark.slow
def test_windowed_unkeyed_matches_global_window(spark):
    """Tail-replication windowed plan equals the single global window
    bit-for-bit (sum/count/mean/min/max), including NULL gaps and the
    tiny-input fallback, and its data windows are __pid-partitioned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csp_spark import TickStream
    from csp_spark.core.unkeyed import windowed_unkeyed
    from csp_spark.sources import read_table

    ev = read_table(spark, "/root/testdata/sf0.001/events.parquet")
    x = TickStream.from_table(ev, ts_col="ts", value_col="value",
                              seq_col="event_id")
    W = 25
    w = Window.orderBy("ts", "seq").rowsBetween(-(W - 1), 0)
    sdec = F.sum(F.col("value").cast("decimal(28,10)")).over(w)
    cnt = F.count("value").over(w)
    ref = {
        (r["ts"], r["seq"]): (r["s"], r["c"], r["m"], r["mn"], r["mx"])
        for r in x.df.select(
            "ts", "seq",
            sdec.cast("double").alias("s"), cnt.alias("c"),
            F.when(cnt > 0, (sdec / cnt).cast("double")).alias("m"),
            F.min("value").over(w).alias("mn"),
            F.max("value").over(w).alias("mx"),
        ).collect()
    }
    for npart in (7, 400):  # 400 → partitions of ~3 rows: fallback path
        got = {
            (r["ts"], r["seq"]):
                (r["win_sum"], r["win_count"], r["win_mean"],
                 r["win_min"], r["win_max"])
            for r in windowed_unkeyed(x, W, num_partitions=npart).collect()
        }
        assert got == ref, npart
    # NULL gaps: SQL frame aggs skip NULLs; the replicated tails must too
    xn = TickStream(x.df.withColumn(
        "value", F.when(F.col("seq") % 3 == 0, F.col("value"))))
    nref = {(r["ts"], r["seq"]): (r["s"], r["c"]) for r in xn.df.select(
        "ts", "seq",
        F.sum(F.col("value").cast("decimal(28,10)")).over(w)
        .cast("double").alias("s"),
        F.count("value").over(w).alias("c"),
    ).collect()}
    ngot = {(r["ts"], r["seq"]): (r["win_sum"], r["win_count"])
            for r in windowed_unkeyed(
                xn, W, aggs=["sum", "count"], num_partitions=7).collect()}
    assert ngot == nref
    # scale shape: every data window is partitioned by the pinned pid
    df = windowed_unkeyed(x, W, num_partitions=7)
    lines = [l for l in df._jdf.queryExecution().executedPlan().toString()
             .split("\n") if "Window" in l]
    assert lines and all("__pid" in l for l in lines)
    # TIME window: trailing interval (t-w, t], rangeBetween convention —
    # equals the single global range window, tail-replicated plan
    import datetime as dt
    Wt = dt.timedelta(hours=2)
    us = int(Wt.total_seconds() * 1_000_000)
    wt = Window.orderBy(F.unix_micros(F.col("ts"))).rangeBetween(-(us - 1), 0)
    sdect = F.sum(F.col("value").cast("decimal(28,10)")).over(wt)
    cntt = F.count("value").over(wt)
    tref = {
        (r["ts"], r["seq"]): (r["s"], r["c"], r["m"], r["mn"], r["mx"])
        for r in x.df.select(
            "ts", "seq",
            sdect.cast("double").alias("s"), cntt.alias("c"),
            F.when(cntt > 0, (sdect / cntt).cast("double")).alias("m"),
            F.min("value").over(wt).alias("mn"),
            F.max("value").over(wt).alias("mx"),
        ).collect()
    }
    for npart in (7, 4000):  # 4000 → partitions narrower than 2h: fallback
        tgot = {
            (r["ts"], r["seq"]):
                (r["win_sum"], r["win_count"], r["win_mean"],
                 r["win_min"], r["win_max"])
            for r in windowed_unkeyed(x, Wt, num_partitions=npart).collect()
        }
        assert tgot == tref, npart
    dft = windowed_unkeyed(x, Wt, num_partitions=7)
    tlines = [l for l in dft._jdf.queryExecution().executedPlan().toString()
              .split("\n") if "Window" in l]
    assert tlines and all("__pid" in l for l in tlines)


def test_ema_unkeyed_matches_sequential(spark):
    """Affine-scan EMA over a partitioned unkeyed stream agrees with
    the sequential keyed EMA to ~machine epsilon, for both the
    multi-partition and the degenerate single-partition plans."""
    from pyspark.sql import functions as F

    from csp_spark import TickStream
    from csp_spark.core.unkeyed import ema_unkeyed
    from csp_spark.sources import read_table
    from csp_spark.stats import ema

    ev = read_table(spark, "/root/testdata/sf0.001/events.parquet").filter(
        ~F.isnan("value")
    )
    x = TickStream.from_table(ev, ts_col="ts", value_col="value",
                              seq_col="event_id")
    ref = {(r["ts"], r["seq"]): r["value"]
           for r in ema(x, alpha=0.1, adjust=False).df.collect()}
    got = {(r["ts"], r["seq"]): r["value"]
           for r in ema_unkeyed(x, alpha=0.1, num_partitions=5).df.collect()}
    assert got.keys() == ref.keys()
    assert all(
        abs(got[k] - ref[k]) <= 1e-9 * (abs(ref[k]) + 1e-12) for k in ref
    )


def test_graph_info(spark):
    """graph_info reports Catalyst-plan statistics (reference
    csp/profiler.py:130-200 GraphInfo: node/edge counts, type
    histogram, longest path)."""
    from pyspark.sql import functions as F

    import csp_spark as csp
    from csp_spark.sources import read_table

    li = read_table(spark, "/root/testdata/sf0.001/lineitem.parquet")
    df = li.filter("l_quantity > 10").groupBy("l_returnflag").agg(
        F.sum("l_quantity"))
    gi = csp.graph_info(df)
    assert gi["node_count"] == gi["edge_count"] + 1  # a tree
    assert gi["nodetype_counts"].get("Aggregate") == 1
    assert gi["longest_path"][0] == "Aggregate"


def test_wiring_time_type_checks(spark):
    """Miswired graphs fail at BUILD time with csp-style messages
    (reference instantiation_type_resolver.py:100-190 /
    test_type_checking.py), not at action time with an analysis error."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F

    import csp_spark as csp
    from csp_spark import (
        TickStream, TSArgTypeMismatchError, TickSchemaError, align,
    )
    from csp_spark.operators import baselib as bl
    from csp_spark.operators import math_ops as m

    START = dt.datetime(2020, 1, 1)
    SCHEMA = "key string, ts timestamp, seq long, value double"
    nums = TickStream(spark.createDataFrame(
        [("k", START, 0, 1.0)], SCHEMA))
    ints = TickStream(spark.createDataFrame(
        [("k", START, 0, 7)], "key string, ts timestamp, seq long, value long"))
    strs = TickStream(spark.createDataFrame(
        [("k", START, 0, "x")], "key string, ts timestamp, seq long, value string"))
    flags = TickStream(spark.createDataFrame(
        [("k", START, 0, True)], "key string, ts timestamp, seq long, value boolean"))

    # arithmetic requires numeric on both sides — message mirrors csp
    with pytest.raises(TSArgTypeMismatchError,
                       match=r"In function add: Expected ts\[numeric\] for "
                             r"argument 'y', got ts\[string\]"):
        m.add(nums, strs)
    # int/double unify (csp implicit int->float) — no error at build
    m.add(nums, ints)
    # merge requires one unifiable type
    with pytest.raises(TSArgTypeMismatchError, match="In function merge"):
        bl.merge(strs, nums)
    bl.merge(nums, ints)  # numeric unification ok
    # comparisons: same type or both numeric
    with pytest.raises(TSArgTypeMismatchError, match="In function lt"):
        m.lt(strs, nums)
    m.eq(strs, strs)
    # logic ops need booleans
    with pytest.raises(TSArgTypeMismatchError,
                       match=r"Expected ts\[bool\]"):
        m.and_(nums, flags)
    m.and_(flags, flags)
    # filter/gate flag must be boolean
    with pytest.raises(TSArgTypeMismatchError, match="In function filter"):
        bl.filter_(nums, nums)
    with pytest.raises(TSArgTypeMismatchError, match="In function gate"):
        bl.gate(nums, nums)
    # a DataFrame missing engine columns is rejected by align directly
    bad = TickStream(spark.createDataFrame([(1.0,)], "value double"))
    with pytest.raises(TickSchemaError,
                       match="argument 'x' is not a valid tick stream: "
                             "missing engine column 'key'"):
        align({"x": bad})
    # wrong engine column type (ts as string)
    bad2 = TickStream(spark.createDataFrame(
        [("k", "2020-01-01", 0, 1.0)],
        "key string, ts string, seq long, value double"))
    with pytest.raises(TickSchemaError, match="'ts' must be timestamp"):
        align({"x": bad2})
    # errors are picklable (reference __reduce__ contract)
    import pickle
    e = TSArgTypeMismatchError("f", "int", "str", "x")
    assert "Expected ts[int]" in str(pickle.loads(pickle.dumps(e)))


def test_feedback_scan_per_cycle(spark):
    """csp.feedback one-cycle-latency semantics: at each tick the node
    sees the PREVIOUS cycle's output (init before the first); keys are
    independent."""
    import datetime as dt

    from csp_spark import TickStream, feedback_scan

    START = dt.datetime(2020, 1, 1)
    rows = [("a", START + dt.timedelta(seconds=i), 0, float(v))
            for i, v in enumerate([10, 1, 1, 50])]
    rows += [("b", START + dt.timedelta(seconds=i), 0, float(v))
             for i, v in enumerate([100, 100])]
    x = TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"))
    out = feedback_scan(x, lambda v, prev: min(0.9 * prev + v, 60.0),
                        init=5.0)
    got = out.collect_all()

    def ref(vals):
        prev, acc = 5.0, []
        for v in vals:
            prev = min(0.9 * prev + v, 60.0)
            acc.append(prev)
        return acc

    assert [v for _, v in got["a"]] == ref([10, 1, 1, 50])
    assert [v for _, v in got["b"]] == ref([100, 100]) == [60.0, 60.0]


@pytest.mark.slow
def test_windowed_hot_keys_matches_plain_keyed_window(spark):
    """Skew-routing: hot keys run the tail-replication plan, normal
    keys the plain keyed window — together they equal the single keyed
    window over everything, for both tick and time windows."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csp_spark import TickStream
    from csp_spark.core.unkeyed import windowed_hot_keys

    START = dt.datetime(2020, 1, 1)
    rows = [("whale", START + dt.timedelta(seconds=i), i, float((i * 3) % 17))
            for i in range(400)]
    for j, k in enumerate(("m1", "m2", "m3")):
        rows += [(k, START + dt.timedelta(seconds=5 * i + j), i,
                  float(i + j)) for i in range(10)]
    x = TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"))
    W = 25
    wk = Window.partitionBy("key").orderBy("ts", "seq").rowsBetween(-(W - 1), 0)
    sdec = F.sum(F.col("value").cast("decimal(28,10)")).over(wk)
    cnt = F.count("value").over(wk)
    ref = {
        (r["key"], r["seq"]): (r["s"], r["c"], r["mn"], r["mx"])
        for r in x.df.select(
            "key", "seq", sdec.cast("double").alias("s"), cnt.alias("c"),
            F.min("value").over(wk).alias("mn"),
            F.max("value").over(wk).alias("mx"),
        ).collect()
    }
    got = {
        (r["key"], r["seq"]): (r["win_sum"], r["win_count"],
                               r["win_min"], r["win_max"])
        for r in windowed_hot_keys(
            x, W, hot_keys=["whale"],
            aggs=["sum", "count", "min", "max"], num_partitions=6,
        ).collect()
    }
    assert got == ref
    # time-window variant (sum/count)
    Wt = dt.timedelta(seconds=40)
    us = int(Wt.total_seconds() * 1e6)
    wt = Window.partitionBy("key").orderBy(
        F.unix_micros(F.col("ts"))).rangeBetween(-(us - 1), 0)
    tref = {
        (r["key"], r["seq"]): (r["s"], r["c"])
        for r in x.df.select(
            "key", "seq",
            F.sum(F.col("value").cast("decimal(28,10)")).over(wt)
            .cast("double").alias("s"),
            F.count("value").over(wt).alias("c"),
        ).collect()
    }
    tgot = {
        (r["key"], r["seq"]): (r["win_sum"], r["win_count"])
        for r in windowed_hot_keys(
            x, Wt, hot_keys=["whale"], aggs=["sum", "count"],
            num_partitions=6,
        ).collect()
    }
    assert tgot == tref


@pytest.mark.slow
def test_windowed_unkeyed_time_boundary_ties(spark):
    """RANGE frames include later same-timestamp peers; when a
    timestamp tie-group straddles a range-partition boundary the plan
    must replicate the successor's head ties backward (or fall back) —
    equality vs the global window with heavy ties and many partitions."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csp_spark import TickStream
    from csp_spark.core.unkeyed import windowed_unkeyed

    START = dt.datetime(2020, 1, 1)
    rows = [("k", START + dt.timedelta(hours=i // 30), 1000 + i, float(i % 13))
            for i in range(300)]  # 10 distinct timestamps, 30 rows each
    x = TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"))
    Wt = dt.timedelta(hours=3)
    us = int(Wt.total_seconds() * 1e6)
    w = Window.orderBy(F.unix_micros(F.col("ts"))).rangeBetween(-(us - 1), 0)
    ref = {
        r["seq"]: (r["s"], r["c"])
        for r in x.df.select(
            "seq",
            F.sum(F.col("value").cast("decimal(28,10)")).over(w)
            .cast("double").alias("s"),
            F.count("value").over(w).alias("c"),
        ).collect()
    }
    for nparts in (4, 7, 12):
        got = {r["seq"]: (r["win_sum"], r["win_count"])
               for r in windowed_unkeyed(
                   x, Wt, aggs=["sum", "count"],
                   num_partitions=nparts).collect()}
        assert got == ref, nparts


@pytest.mark.slow
def test_running_hot_keys_matches_plain_keyed_window(spark):
    """Running-aggregate skew routing equals the single keyed window
    for every agg, incl. NULL gaps on the hot key."""
    import datetime as dt

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from csp_spark import TickStream
    from csp_spark.core.unkeyed import running_hot_keys

    START = dt.datetime(2020, 1, 1)
    rows = [("whale", START + dt.timedelta(seconds=i), i,
             None if i % 5 == 0 else float((i * 7) % 23))
            for i in range(300)]
    rows += [("m", START + dt.timedelta(seconds=3 * i), i, float(i))
             for i in range(12)]
    x = TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"))
    w = (Window.partitionBy("key").orderBy("ts", "seq")
         .rowsBetween(Window.unboundedPreceding, 0))
    ref = {
        (r["key"], r["seq"]): (r["s"], r["c"], r["mn"], r["mx"], r["l"])
        for r in x.df.select(
            "key", "seq",
            F.sum(F.col("value").cast("decimal(28,10)")).over(w)
            .cast("double").alias("s"),
            F.count("value").over(w).cast("long").alias("c"),
            F.min("value").over(w).alias("mn"),
            F.max("value").over(w).alias("mx"),
            F.last("value", ignorenulls=True).over(w).alias("l"),
        ).collect()
    }
    for i, agg in enumerate(("sum", "count", "min", "max", "last")):
        got = {(r["key"], r["seq"]): r["value"]
               for r in running_hot_keys(
                   x, agg, hot_keys=["whale"], num_partitions=5
               ).df.collect()}
        assert got == {k: vs[i] for k, vs in ref.items()}, agg


def test_ema_hot_keys_matches_sequential(spark):
    """EMA skew routing: hot key via the affine scan, others via the
    exact keyed EMA — all values agree with the sequential recursion
    to ~1e-12."""
    import datetime as dt
    import math

    from csp_spark import TickStream
    from csp_spark.core.unkeyed import ema_hot_keys
    from csp_spark.stats import ema

    START = dt.datetime(2020, 1, 1)
    rows = [("whale", START + dt.timedelta(seconds=i), i, float((i * 7) % 23))
            for i in range(300)]
    rows += [("m", START + dt.timedelta(seconds=2 * i), i, float(i))
             for i in range(15)]
    sch = "key string, ts timestamp, seq long, value double"
    x = TickStream(spark.createDataFrame(rows, sch))
    got = {(r["key"], r["seq"]): r["value"]
           for r in ema_hot_keys(x, 0.2, hot_keys=["whale"],
                                 num_partitions=6).df.collect()}
    ref = {(r["key"], r["seq"]): r["value"]
           for r in ema(x, alpha=0.2, adjust=False).df.collect()}
    assert set(got) == set(ref) and len(got) == 315
    for k, v in ref.items():
        assert math.isclose(got[k], v, rel_tol=1e-11), k


def test_run_node_cumsum_matches_accum(spark):
    """Imperative node authoring (reference @csp.node model): a
    stateful cumulative-sum node equals the accum combinator."""
    import csp_spark as csp
    from csp_spark import run_node
    from csp_spark.operators import baselib as bl

    x = TickStream.from_rows(
        spark,
        [(START + TD(seconds=i), float(i % 7)) for i in range(50)],
        key="k",
    )

    @csp.node
    def cum(cycle):
        cycle.state["s"] += cycle["x"]
        return cycle.state["s"]

    got = run_node(cum, x, state={"s": 0.0}).collect_ticks("k")
    want = bl.accum(x).collect_ticks("k")
    assert got == want


def test_run_node_two_inputs_valid_gating(spark):
    """Two-input node: output only when both inputs are valid, on
    either's tick — checked against a hand fold in plain Python."""
    from csp_spark import run_node

    bid = TickStream.from_rows(
        spark, [(START + TD(seconds=2 * i), 10.0 + i) for i in range(10)], key="k"
    )
    ask = TickStream.from_rows(
        spark, [(START + TD(seconds=3 * i + 1), 11.0 + i) for i in range(7)], key="k"
    )

    def spread(cycle):
        if not (cycle.valid("bid") and cycle.valid("ask")):
            return None
        return cycle["ask"] - cycle["bid"]

    got = run_node(spread, {"bid": bid, "ask": ask}).collect_ticks("k")
    # independent fold over the merged event sequence
    ev = sorted(
        [(START + TD(seconds=2 * i), "bid", 10.0 + i) for i in range(10)]
        + [(START + TD(seconds=3 * i + 1), "ask", 11.0 + i) for i in range(7)]
    )
    last, want = {}, []
    from itertools import groupby

    for ts, grp in groupby(ev, key=lambda e: e[0]):
        for _, name, v in grp:
            last[name] = v
        if "bid" in last and "ask" in last:
            want.append((ts, last["ask"] - last["bid"]))
    assert got == want


def test_run_node_no_output_and_ticked(spark):
    """NO_OUTPUT skips cycles; ticked() sees only the ticking input."""
    from csp_spark import NO_OUTPUT, run_node

    a = TickStream.from_rows(
        spark, [(START + TD(seconds=2 * i), float(i)) for i in range(6)], key="k"
    )
    b = TickStream.from_rows(
        spark, [(START + TD(seconds=2 * i + 1), 100.0 + i) for i in range(6)], key="k"
    )

    def only_b(cycle):
        if not cycle.ticked("b"):
            return NO_OUTPUT
        return cycle["b"]

    got = run_node(only_b, {"a": a, "b": b}).collect_ticks("k")
    assert [v for _, v in got] == [100.0 + i for i in range(6)]


def test_run_node_alarms_timeout_pattern(spark):
    """csp.alarms inside run_node: each tick re-arms a 5s timeout
    alarm (cancelling the previous); the alarm fires -1 when a gap
    exceeds 5s. Checked against a hand fold over the gaps."""
    from csp_spark import run_node

    times = [0, 2, 4, 12, 13, 25]
    x = TickStream.from_rows(
        spark, [(START + TD(seconds=s), float(s)) for s in times], key="k"
    )

    def watchdog(cycle):
        if cycle.ticked("alarm"):
            return -1.0
        h = cycle.state.get("h")
        if h is not None:
            cycle.cancel_alarm(h)
        cycle.state["h"] = cycle.schedule_alarm(TD(seconds=5), True)
        return cycle["x"]

    got = run_node(watchdog, x, state={}).collect_ticks("k")
    # hand fold: value at each tick; -1 five seconds after any tick
    # whose successor is >5s away (and after the final tick)
    want = []
    for i, s in enumerate(times):
        want.append((START + TD(seconds=s), float(s)))
        nxt = times[i + 1] if i + 1 < len(times) else None
        if nxt is None or nxt - s > 5:
            want.append((START + TD(seconds=s + 5), -1.0))
    assert got == want


def test_run_node_alarm_end_bound(spark):
    """Trailing alarms are clipped at the run end time."""
    from csp_spark import run_node

    x = TickStream.from_rows(spark, [(START, 1.0)], key="k")

    def arm(cycle):
        if cycle.ticked("alarm"):
            return 99.0
        cycle.schedule_alarm(TD(hours=2), True)
        return None

    got = run_node(arm, x, end=START + TD(hours=1)).collect_ticks("k")
    assert got == []  # alarm at +2h falls past end
    got2 = run_node(arm, x, end=START + TD(hours=3)).collect_ticks("k")
    assert got2 == [(START + TD(hours=2), 99.0)]


def test_run_node_multiple_outputs(spark):
    """csp.Outputs parity: a node returning {name: value} dicts feeds
    several output streams from one execution; absent names don't
    tick. Checked against two independent single-purpose folds."""
    from csp_spark import run_node

    x = TickStream.from_rows(
        spark,
        [(START + TD(seconds=i), float(v)) for i, v in
         enumerate([3, 7, 2, 9, 9, 1, 5])],
        key="k",
    )

    def hi_lo(cycle):
        v = cycle["x"]
        st = cycle.state
        out = {}
        if st.get("hi") is None or v > st["hi"]:
            st["hi"] = v
            out["new_high"] = v
        if st.get("lo") is None or v < st["lo"]:
            st["lo"] = v
            out["new_low"] = v
        out["n"] = st["n"] = st.get("n", 0) + 1
        return out

    outs = run_node(
        hi_lo, x, outputs={"new_high": "double", "new_low": "double", "n": "long"}
    )
    vals = [3.0, 7.0, 2.0, 9.0, 9.0, 1.0, 5.0]
    highs, hi = [], None
    lows, lo = [], None
    for v in vals:
        if hi is None or v > hi:
            hi = v
            highs.append(v)
        if lo is None or v < lo:
            lo = v
            lows.append(v)
    assert [v for _, v in outs["new_high"].collect_ticks("k")] == highs
    assert [v for _, v in outs["new_low"].collect_ticks("k")] == lows
    assert [v for _, v in outs["n"].collect_ticks("k")] == list(range(1, 8))


def test_run_node_state_isolated_across_keys(spark):
    """Nested mutable state must be deep-copied per key — keys in the
    same Python worker must not share a list (review regression)."""
    from csp_spark import run_node

    rows = []
    for k in ("a", "b", "c", "d"):
        for i in range(3):
            rows.append((k, START + TD(seconds=i), 0, 1.0))
    x = TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"
    ))

    def buf_len(cycle):
        cycle.state["buf"].append(cycle["x"])
        return float(len(cycle.state["buf"]))

    got = run_node(buf_len, x, state={"buf": []}).collect_all()
    for k in ("a", "b", "c", "d"):
        assert [v for _, v in got[k]] == [1.0, 2.0, 3.0], (k, got[k])


def test_run_node_alarm_none_value_detectable(spark):
    """An alarm scheduled with value=None still reads ticked('alarm')
    True (review regression: None is a legal payload)."""
    from csp_spark import run_node

    x = TickStream.from_rows(spark, [(START, 1.0)], key="k")

    def arm(cycle):
        if cycle.ticked("alarm"):
            assert cycle.alarm is None
            return 42.0
        cycle.schedule_alarm(TD(seconds=1), None)
        return None

    got = run_node(arm, x).collect_ticks("k")
    assert got == [(START + TD(seconds=1), 42.0)]


def _null_and_real_key(spark, vals, step=1):
    """The same ticks under a NULL key and under key "a"."""
    rows = [
        (k, START + TD(seconds=step * i), i, float(v))
        for k in (None, "a")
        for i, v in enumerate(vals)
    ]
    return TickStream(spark.createDataFrame(
        rows, "key string, ts timestamp, seq long, value double"
    ))


def _nk_run_node(spark):
    from csp_spark import run_node

    def acc(c):
        c.state["s"] += c["x"]
        return c.state["s"] * 10

    return run_node(acc, _null_and_real_key(spark, [1, 2, 4, 8]),
                    state={"s": 0.0}).df.collect()


def _nk_run_node_with_states(spark):
    import pickle

    from csp_spark.core.noderun import run_node_with_states

    def acc(c):
        c.state["s"] += c["x"]
        return c.state["s"]

    ticks, states = run_node_with_states(
        acc, _null_and_real_key(spark, [1, 2, 4, 8]), state={"s": 0.0}
    )
    return ticks.df.collect() + [
        (r["key"], pickle.loads(r["state"])["s"]) for r in states.collect()
    ]


def _nk_dynamic_apply(spark):
    from csp_spark.plans.runtime import attached, snap

    def fn(pdf):
        trig = pdf[pdf["__src"] == ""]
        out = trig[[KEY, TS, SEQ]].copy()
        out[VALUE] = (trig[VALUE].cumsum() + len(attached(pdf, "side"))
                      + snap(pdf, "ref"))
        return out

    return dynamic_apply(
        _null_and_real_key(spark, [1, 2, 4, 8], step=2), fn,
        "key string, ts timestamp, seq long, value double",
        attach={"side": _null_and_real_key(spark, [5, 6, 7])},
        snap_streams={"ref": _null_and_real_key(spark, [10, 20])},
    ).df.collect()


def _nk_sync_dict_trigger(spark):
    from csp_spark.operators.basketlib import sync_dict

    return sync_dict(
        {"p": _null_and_real_key(spark, [1, 2, 3, 4, 5, 6]),
         "q": _null_and_real_key(spark, [7, 8, 9], step=2)},
        TD(seconds=2),
        trigger=_null_and_real_key(spark, [0, 0, 0, 0, 0]),
    ).df.collect()


def _nk_ema(**kw):
    def run(spark):
        from csp_spark import stats

        return stats.ema(
            _null_and_real_key(spark, [1, 2, 4, 8]), **kw
        ).df.collect()

    return run


def _nk_ema_cov(spark):
    from csp_spark import stats

    return stats.ema_cov(
        _null_and_real_key(spark, [1, 2, 4, 8]),
        _null_and_real_key(spark, [3, 1, 4, 1, 5]),
        alpha=0.5,
    ).df.collect()


def _nk_exprtk(spark):
    from csp_spark.operators.exprtk import exprtk_ts

    return exprtk_ts(
        {"x": _null_and_real_key(spark, [1, 2, 4, 8])},
        "s := 0.5*s + x; s", state_vars={"s": 0.0},
    ).df.collect()


def _nk_feedback_scan(spark):
    from csp_spark.plans.runtime import feedback_scan

    return feedback_scan(
        _null_and_real_key(spark, [1, 2, 4, 8]),
        lambda v, prev: 0.5 * prev + v,
    ).df.collect()


@pytest.mark.parametrize("caller", [
    pytest.param(_nk_run_node, id="run_node"),
    pytest.param(_nk_run_node_with_states, id="run_node_with_states"),
    pytest.param(_nk_dynamic_apply, id="dynamic_apply"),
    pytest.param(_nk_sync_dict_trigger, id="sync_dict_trigger"),
    pytest.param(_nk_ema(alpha=0.5), id="ema_alpha"),
    pytest.param(_nk_ema(alpha=0.5, horizon=2), id="ema_alpha_horizon"),
    pytest.param(_nk_ema(halflife=TD(seconds=2), adjust=False),
                 id="ema_halflife_unadjusted"),
    pytest.param(_nk_ema_cov, id="ema_cov"),
    pytest.param(_nk_exprtk, id="exprtk_state_var"),
    pytest.param(_nk_feedback_scan, id="feedback_scan"),
])
def test_null_key_is_a_real_group(spark, caller):
    """Every per-key Python fold treats a NULL key as a real group:
    its output equals the output for the same ticks under a real key
    (pandas groupby drops NaN keys unless told not to)."""

    def norm(v):
        return "nan" if isinstance(v, float) and v != v else v

    by_key = {None: [], "a": []}
    for r in caller(spark):
        by_key[r[0]].append(tuple(norm(v) for v in r[1:]))
    assert by_key["a"], "the real key produced no output"
    assert sorted(by_key[None], key=repr) == sorted(by_key["a"], key=repr)


def _pin_run_node(spark):
    from csp_spark import run_node

    x = _null_and_real_key(spark, [1, 2])
    y = _null_and_real_key(spark, [3, 4])
    return run_node(lambda c: c["x"], {"x": x, "y": y}).df


def _pin_run_node_with_states(spark):
    from csp_spark.core.noderun import run_node_with_states

    ticks, _ = run_node_with_states(
        lambda c: c["x"], _null_and_real_key(spark, [1, 2])
    )
    return ticks.df


def _pin_dynamic_apply(spark):
    return dynamic_apply(
        _null_and_real_key(spark, [1, 2]), lambda pdf: pdf,
        "key string, ts timestamp, seq long, value double",
        attach={"side": _null_and_real_key(spark, [5])},
        snap_streams={"ref": _null_and_real_key(spark, [10])},
    ).df


def _pin_ema(spark):
    from csp_spark import stats

    return stats.ema(_null_and_real_key(spark, [1, 2]), alpha=0.5).df


@pytest.mark.parametrize("build", [
    pytest.param(_pin_run_node, id="run_node_two_inputs"),
    pytest.param(_pin_run_node_with_states, id="run_node_with_states"),
    pytest.param(_pin_dynamic_apply, id="dynamic_apply_attach_snap"),
    pytest.param(_pin_ema, id="ema_alpha"),
])
def test_keyed_runner_one_exchange(spark, monkeypatch, build):
    """The keyed pandas runner shares its caller's key exchange: one
    hash shuffle per plan (align's windows, the snap windows and the
    runner's repartition all use it)."""
    from csp_spark.pipeline.storage import exchanges_in_plan

    # the node runners checkpoint their output lazily, which hides the
    # plan behind a scan: keep the plan visible
    monkeypatch.setattr(
        type(spark.range(1)), "localCheckpoint",
        lambda self, eager=True: self,
    )
    assert exchanges_in_plan(build(spark)) == 1


def _nan_run_node(x, f):
    from csp_spark import run_node

    return run_node(lambda c: f(c["x"]), x)


def _nan_run_node_outputs(x, f):
    from csp_spark import run_node

    return run_node(lambda c: {VALUE: f(c["x"])}, x,
                    outputs={VALUE: "double"})[VALUE]


def _nan_feedback_scan(x, f):
    from csp_spark.plans.runtime import feedback_scan

    return feedback_scan(x, lambda v, prev: f(v))


def _nan_dynamic_apply(x, f):
    def fn(pdf):
        out = pdf[[KEY, TS, SEQ]].copy()
        out[VALUE] = pd.Series([f(v) for v in pdf[VALUE]],
                               index=out.index, dtype=object)
        return out

    return dynamic_apply(x, fn, "key string, ts timestamp, seq long, value double")


@pytest.mark.parametrize("build, want", [
    # a single-output node's None is no tick at all
    pytest.param(_nan_run_node, [1.0, "nan"], id="run_node"),
    pytest.param(_nan_run_node_outputs, [1.0, "nan", None],
                 id="run_node_outputs"),
    pytest.param(_nan_feedback_scan, [1.0, "nan", None], id="feedback_scan"),
    pytest.param(_nan_dynamic_apply, [1.0, "nan", None], id="dynamic_apply"),
])
def test_keyed_runner_keeps_nan_and_null_apart(spark, build, want):
    """A fold's NaN leaves the keyed pandas runner as NaN, and its None
    as NULL (a plain float64 frame would turn both into NULL)."""
    x = TickStream(spark.createDataFrame(
        [("k", START + TD(seconds=i), i, v)
         for i, v in enumerate([1.0, float("nan"), 3.0])],
        "key string, ts timestamp, seq long, value double"))

    def f(v):  # NaN passes through; the 3.0 tick's output is missing
        return None if v == 3.0 else v

    got = [r[VALUE] for r in build(x, f).ordered().collect()]
    assert ["nan" if v != v else v for v in got] == want


def test_run_node_integral_input_type_ignores_partition(spark):
    """A node reads a non-NULL ``long`` input as an int even when a
    NULL of that input shares its pandas partition (Arrow would hand
    the whole column over as float64)."""
    from csp_spark import run_node

    x = TickStream(spark.createDataFrame(
        [(k, START + TD(seconds=i), i, v)
         for k, vs in (("a", [None, 2]), ("b", [1, 2]))
         for i, v in enumerate(vs)],
        "key string, ts timestamp, seq long, value long"))
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    old = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:  # both keys in one pandas partition
            spark.conf.set(k, "1")
        got = run_node(lambda c: f"{type(c['x']).__name__}:{c['x']!r}", x,
                       output_type="string").collect_all()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert got == {
        "a": [(START, "NoneType:None"), (START + TD(seconds=1), "int:2")],
        "b": [(START, "int:1"), (START + TD(seconds=1), "int:2")],
    }


def test_dynamic_snap_of_unorderable_type(spark):
    """A snap stream whose value has no ordering (a map) still snaps
    the last value at or before the key's first trigger tick."""
    from csp_spark.plans.runtime import snap

    sch = "key string, ts timestamp, seq long, value double"
    x = TickStream(spark.createDataFrame(
        [("a", START + TD(seconds=2), 0, 1.0),
         ("b", START + TD(seconds=1), 0, 2.0)], sch))
    m = TickStream(spark.createDataFrame(
        [("a", START, 0, {"u": 1.0}),
         ("a", START + TD(seconds=1), 0, {"u": 2.0}),
         ("a", START + TD(seconds=3), 0, {"u": 3.0}),
         ("b", START + TD(seconds=5), 0, {"u": 4.0})],
        "key string, ts timestamp, seq long, value map<string,double>"))

    def fn(pdf):
        out = pdf[[KEY, TS, SEQ]].copy()
        got = snap(pdf, "m")
        out[VALUE] = -1.0 if got is None else dict(got)["u"]
        return out

    got = dynamic_apply(x, fn, sch, snap_streams={"m": m}).collect_all()
    assert got["a"] == [(START + TD(seconds=2), 2.0)]
    assert got["b"] == [(START + TD(seconds=1), -1.0)]

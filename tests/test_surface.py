"""Top-level reference-namespace surface (core/surface.py): the csp
import-surface names beyond the operator library — PushMode, ts,
feedback, DelayedEdge, add_graph_output, build_graph, decorators,
contexts."""

import datetime as dt

import pytest

import csp_spark as csp
from csp_spark import TickStream, run

START = dt.datetime(2020, 1, 1)
TD = dt.timedelta


def _curve(spark, n=4):
    return TickStream.from_rows(
        spark, [(START + TD(seconds=i), float(i + 1)) for i in range(n)]
    )


def test_enum_and_marker_surface():
    assert (csp.PushMode.LAST_VALUE, csp.PushMode.NON_COLLAPSING,
            csp.PushMode.BURST) == (1, 2, 3)
    assert (csp.ReplayMode.EARLIEST, csp.ReplayMode.LATEST,
            csp.ReplayMode.START_TIME) == (1, 2, 3)
    # ts[X] subscripts cleanly AND retains its element type — the node
    # translator (core/nodeparse.py) derives output schemas from it
    assert issubclass(csp.ts[int], csp.ts)
    assert csp.ts[int].__csp_elem__ is int
    assert csp.ts.__csp_elem__ is None
    assert csp.DynamicBasket[str, float] is csp.DynamicBasket
    assert csp.Outputs(a=1, b=2) == {"a": 1, "b": 2}
    assert csp.OutputBasket(float) is float
    assert csp.DataFrame is csp.TsFrame
    # csp.dynamic now dispatches between the reference per-key-subgraph
    # form and the Spark groupBy form (dynamic_apply)
    assert callable(csp.dynamic) and callable(csp.dynamic_apply)
    assert issubclass(csp.CspParseError, SyntaxError)
    assert issubclass(csp.OutputTypeError, csp.TypeMismatchError)


@pytest.mark.slow
def test_feedback_bind_then_out(spark):
    x = _curve(spark)
    fb = csp.feedback(float)
    fb.bind(x)
    out = fb.out()
    # one engine cycle later at the same timestamp: seq+1
    got = out.df.select("seq").orderBy("ts").toPandas()["seq"].tolist()
    orig = x.df.select("seq").orderBy("ts").toPandas()["seq"].tolist()
    assert got == [s + 1 for s in orig]
    with pytest.raises(RuntimeError, match="already bound"):
        fb.bind(x)


def test_feedback_out_before_bind_raises(spark):
    fb = csp.feedback(float)
    out = fb.out()
    with pytest.raises(RuntimeError, match="feedback_scan"):
        out.df  # noqa: B018 — resolving before bind is the error


def test_delayed_edge(spark):
    x = _curve(spark)
    e = csp.DelayedEdge(float)
    with pytest.raises(RuntimeError, match="before bind"):
        e.df  # noqa: B018
    e.bind(x)
    assert e.is_bound()
    # post-bind the placeholder is usable anywhere a stream is
    assert csp.accum(e).collect_ticks()[-1][1] == 10.0
    with pytest.raises(RuntimeError, match="multiple times"):
        e.bind(x)
    null = csp.DelayedEdge(float, default_to_null=True, spark=spark)
    assert not null.is_bound()
    assert null.df.count() == 0  # reference default: null_ts
    null.bind(x)  # binding over the null default is allowed
    assert null.is_bound()


@pytest.mark.slow
def test_add_graph_output_and_build_graph(spark):
    def graph():
        x = _curve(spark)
        csp.add_graph_output("all", x)
        csp.add_graph_output("tail2", x, tick_count=2)
        return {"main": csp.accum(x)}

    out = run(graph)
    assert set(out) == {"main", "all", "tail2"}
    assert [v for _, v in out["all"]] == [1.0, 2.0, 3.0, 4.0]
    assert [v for _, v in out["tail2"]] == [3.0, 4.0]
    assert out["main"][-1][1] == 10.0

    wired = csp.build_graph(graph)
    assert set(wired) == {"main", "all", "tail2"}
    assert all(isinstance(v, TickStream) for v in wired.values())

    with pytest.raises(RuntimeError, match="outside"):
        csp.add_graph_output("x", _curve(spark))


def test_graph_node_decorators_and_contexts(spark):
    calls = []

    @csp.graph(memoize=True)
    def build(n: int):
        calls.append(n)
        return _curve(spark, n)

    @csp.node
    def double(v: float) -> float:
        return v * 2.0

    assert build.__csp_graph__ and double.__csp_node__
    assert csp.numba_node is csp.node
    build(3); build(3)
    assert calls == [3]  # memoized wiring: one instantiation
    csp.clear_global_context()
    build(3)
    assert calls == [3, 3]  # cache dropped
    with csp.new_global_context():
        build(4)
    build(4)
    assert calls.count(4) == 2  # context exit cleared the cache

    # stateless per-tick node lifts through csp.apply (documented mapping)
    lifted = csp.apply(_curve(spark, 2), double, "double")
    assert [v for _, v in lifted.collect_ticks()] == [2.0, 4.0]

    old = csp.set_print_full_exception_stack(True)
    assert csp.set_print_full_exception_stack(old) is True


def test_typing_markers():
    import numpy as np

    from csp_spark.typing import Numpy1DArray, NumpyNDArray

    a = NumpyNDArray[np.float64]([[1, 2], [3, 4]])
    assert a.dtype == np.float64 and a.shape == (2, 2)
    v = Numpy1DArray[np.float64]([1, 2, 3])
    assert v.dtype == np.float64 and v.ndim == 1
    with pytest.raises(ValueError, match="1-dimensional"):
        Numpy1DArray[np.float64]([[1, 2]])
    # bare (unsubscripted) coercion also works, reference-style
    assert NumpyNDArray([1.5]).tolist() == [1.5]


@pytest.mark.slow
def test_make_passive_and_engine_services(spark):
    """Passive inputs update last-values without emitting cycles
    (builtin_functions.py:67-104), and the run-scoped engine services
    report the active frame's configuration."""
    from csp_spark import align, make_active, make_passive

    x = _curve(spark, 3)  # ticks at t0, t0+1s, t0+2s
    y = TickStream.from_rows(
        spark, [(START + TD(milliseconds=500), 10.0),
                (START + TD(seconds=10), 20.0)]
    )
    a = align({"x": x, "y": make_passive(y)}).orderBy("ts").collect()
    # only x's three ticks produce cycles; y's 10.0 still flows as a
    # last value into the t0+1s and t0+2s cycles
    assert [r["ts"] for r in a] == [START + TD(seconds=i) for i in range(3)]
    assert [r["y"] for r in a] == [None, 10.0, 10.0]
    b = align({"x": x, "y": make_active(make_passive(y))}).collect()
    assert len(b) == 5  # reactivated: every tick emits again

    seen = {}

    def graph():
        seen["start"] = csp.engine_start_time()
        seen["end"] = csp.engine_end_time()
        seen["rt"] = csp.in_realtime(), csp.is_configured_realtime()
        return _curve(spark, 2)

    run(graph, starttime=START, endtime=START + TD(minutes=1))
    assert seen == {"start": START, "end": START + TD(minutes=1),
                    "rt": (False, False)}
    with pytest.raises(RuntimeError, match="only valid"):
        csp.engine_start_time()


def test_edge_run_alias(spark):
    """Edge.run == csp.run(self) (docs Functional-Methods-API.md)."""
    import datetime as dt

    from csp_spark import TickStream

    START = dt.datetime(2020, 1, 1)
    x = TickStream.from_rows(
        spark, [(START + dt.timedelta(seconds=i), float(i)) for i in range(4)]
    )
    out = x.run(starttime=START, endtime=START + dt.timedelta(minutes=1))
    assert out["0"] == [
        (START + dt.timedelta(seconds=i), float(i)) for i in range(4)
    ]

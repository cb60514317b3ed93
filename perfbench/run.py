"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tick_replay --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run builds its inputs from ``--seed``
under ``.perfbench_run/`` (removed at exit), sets up a Spark session on
``local[$SPARK_GRAFT_CPUS]`` (all CPUs when unset) through
``core.session.get_spark``, checks every output
against a reference outside the timed region and measures for
``--seconds``.  The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones.  The line before carries the run's detail:
environment, errors, latencies and every layer number the run saw.
Spans of a traced run are written to ``.perfbench_out/``.
"""

import time

_T_ENTRY = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import types  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402


def _metric_units(kind: str) -> list[tuple[str, str]]:
    """(name, unit) of the BENCHMARK.json metrics of one kind."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def _set_up(workdir):
    """Cold set-up, from process start until the session is up and the
    warm-up is done: interpreter, imports, JVM, ``get_spark``, first
    codegen and first Python workers.  Returns the session and timings."""
    age0 = harness.process_age_s() - (time.perf_counter() - _T_ENTRY)
    spark = harness.start_session(workdir)
    t_up = time.perf_counter()
    harness.warmup(spark)
    t_warm = time.perf_counter()
    return spark, {"session.start_s": age0 + t_up - _T_ENTRY,
                   "session.warmup_s": t_warm - t_up,
                   "setup_s": age0 + t_warm - _T_ENTRY}


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM that PySpark launched has exited
    (its Python workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        jvm = gateway.proc
        gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        jvm.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float,
                    help="realtime_ticks open-loop rate, ticks per second")
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    from perfbench import batch, realtime

    workloads = {"tick_replay": batch.tick_replay,
                 "realtime_ticks": realtime.realtime_ticks}
    if args.workload not in workloads:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")

    workdir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    # Spark, its Python workers and the JVM keep their files in workdir;
    # the workers import csp_spark from the checkout
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    # a terminated run still stops Spark and removes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spark = None
    try:
        steal0 = harness.cpu_times()
        with harness.RssSampler() as rss:
            spark, setup = _set_up(workdir)
            env = harness.environment(spark)
            tracer = harness.Tracer(bool(args.trace))
            listener = job_index = None
            if args.trace:
                listener = harness.QueryListener(spark)
                job_index = harness.JobIndex(spark)
            ctx = types.SimpleNamespace(
                **vars(args), workdir=workdir, spark=spark, tracer=tracer,
                listener=listener, job_index=job_index)
            res = workloads[args.workload](ctx)
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    steal1 = harness.cpu_times()
    e2e = dict(res["e2e"])
    e2e["setup_s"] = setup.pop("setup_s")
    layer = dict(setup)
    layer["peak_rss_mb"] = rss.peak_bytes / 2**20
    layer.update(res.get("layer", {}))
    layer.setdefault("harness.trace_overhead_s", tracer.overhead_s)

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "env": env,
        # share of the machine's CPU time stolen by the host during the run
        "cpu_steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "failed_frac": res["failed"] / res["attempted"],
        "errors": res.get("errors", {}),
        **{k: v for k, v in res.items()
           if k not in ("e2e", "layer", "errors", "attempted", "failed")},
        "end_to_end": e2e,
        "layers": layer,
    }
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        tracer.write(os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.json"))
        units = _metric_units("per_layer")
        missing = [n for n, _ in units if n not in layer]
        if missing:  # a layer the workload did not measure is not a 0
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        metrics = {n: {"value": float(layer[n]), "unit": u} for n, u in units}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u}
                   for n, u in _metric_units("end_to_end")}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

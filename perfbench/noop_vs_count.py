"""One-off table: ``count()`` vs the ``noop`` sink over bench.py's 42 timed queries.

bench.py times ``fn(spark, dir).count()``.  Catalyst prunes every column
that ``count()`` does not read, so a query whose work sits in computed
columns (windows, joins feeding projections, Arrow UDF stages) is timed
without that work.  This script times each query both ways in one
session and lists the plan operators that the ``count()`` form loses.

    python3 perfbench/noop_vs_count.py <sf_dir> > perfbench/noop_vs_count.md

``sf_dir`` is the data directory bench.py reads (``SPARK_GRAFT_SF_DIR``).

Each query is run count, noop, count, noop (fresh plan build every time,
minhash memo cleared before each) and the second run of each form is
reported, so both numbers are warm.  Times include plan build.
"""

from __future__ import annotations

import collections
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# operators whose loss means the count() form skipped real work
_WORK_OPS = (
    "Join", "Window", "Aggregate", "Generate", "Sort", "Expand",
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "FlatMapGroupsInPandasWithState", "WindowGroupLimit",
)


def _op_counts(jplan) -> collections.Counter:
    names = collections.Counter()
    for line in jplan.treeString().splitlines():
        m = re.match(r"^[\s:+\-!]*([A-Za-z]+)", line)
        if m and m.group(1) in _WORK_OPS:
            names[m.group(1)] += 1
    return names


def main() -> None:
    import bench
    import __spark_entry__ as E
    from csp_spark import get_spark

    sf_dir = sys.argv[1]
    spark = get_spark(app_name="noop_vs_count",
                      **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    try:
        from csp_spark.dedup.dedup import clear_pairs_cache
    except ImportError:  # the memo may be removed; then nothing to clear
        def clear_pairs_cache(_spark):
            return None

    qs = dict(E.queries())
    qs.update(bench.EXTRA_QUERIES)
    names = list(dict.fromkeys(
        bench.BENCH_QUERIES + bench.COMPARABLE_R8 + list(bench.EXTRA_QUERIES)))

    def run(name, form):
        clear_pairs_cache(spark)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        if form == "count":
            df.count()
        else:
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, df

    rows = []
    for name in names:
        run(name, "count")
        run(name, "noop")
        t_count, _ = run(name, "count")
        t_noop, df = run(name, "noop")
        full = _op_counts(df._jdf.queryExecution().optimizedPlan())
        counted = _op_counts(
            df.groupBy().count()._jdf.queryExecution().optimizedPlan())
        lost = full - counted
        rows.append((name, t_count, t_noop, lost))
        print(f"# {name}: count {t_count:.2f}s noop {t_noop:.2f}s "
              f"lost {dict(lost)}", file=sys.stderr, flush=True)

    sc = spark.sparkContext
    print(f"# noop sink vs count(): bench.py's {len(names)} timed queries\n")
    print(f"Data `{os.path.basename(sf_dir.rstrip('/'))}`, master `{sc.master}`, defaultParallelism "
          f"{sc.defaultParallelism}, Spark {spark.version}. Generated by "
          "`python3 perfbench/noop_vs_count.py`. Warm times (second run of "
          "each form, plan build included, minhash memo cleared). "
          "\"Operators count() drops\" compares the optimized logical plan "
          "of the query with that of `df.groupBy().count()`.\n")
    print("| query | count() s | noop s | noop / count | operators count() drops |")
    print("|---|---:|---:|---:|---|")
    for name, tc, tn, lost in rows:
        ops = ", ".join(f"{k}×{v}" for k, v in sorted(lost.items())) or "—"
        print(f"| {name} | {tc:.2f} | {tn:.2f} | {tn / tc:.2f} | {ops} |")
    tc_all = sum(r[1] for r in rows)
    tn_all = sum(r[2] for r in rows)
    pruned = [r[0] for r in rows if r[3]]
    print(f"| **total** | {tc_all:.2f} | {tn_all:.2f} | {tn_all / tc_all:.2f} | |")
    print(f"\n{len(pruned)} of {len(rows)} queries lose operators under "
          f"count(): {', '.join(pruned)}.")
    spark.stop()


if __name__ == "__main__":
    main()

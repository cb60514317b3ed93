"""Output checks, run outside the timed passes.

Batch queries are compared with their ``oracle_sql()`` DuckDB reference
through the canonicalization of ``tools/check_correctness.py`` (type-tagged
full-precision cells, order-insensitive row sets).
"""

from __future__ import annotations

import functools
import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _canon():
    """``tools/check_correctness.py``, loaded on first use."""
    path = os.path.join(_ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("_check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def frame_rowset(pdf) -> list[str]:
    """Sorted canonical rows of a pandas frame (columns sorted by name)."""
    return _canon().frame_rowset(pdf)


def duckdb_views(data_dir: str):
    """A DuckDB connection with one view per parquet table in ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name).replace("'", "''")
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
    return con


def compare_with_oracle(sdf, con, sql: str) -> str | None:
    """None when the Spark result equals the DuckDB oracle, else why not."""
    nested = _canon().spark_nested_cols(sdf)
    if nested:
        return f"nested output columns {nested}"
    spdf = sdf.toPandas()
    dpdf = con.execute(sql).df()
    if sorted(spdf.columns) != sorted(dpdf.columns):
        return f"columns {sorted(spdf.columns)} vs {sorted(dpdf.columns)}"
    if len(spdf) != len(dpdf):
        return f"row count {len(spdf)} vs {len(dpdf)}"
    got, want = frame_rowset(spdf), frame_rowset(dpdf)
    if got != want:
        bad = [(a, b) for a, b in zip(got, want) if a != b][:2]
        return f"values differ, e.g. {bad}"
    return None

import datetime as dt

import numpy as np
import pytest

from csp_spark import get_spark

START = dt.datetime(2020, 1, 1)
TD = dt.timedelta


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="csp_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def gen_random_ticks(n=100, mu=0.0, sigma=1.0, pnan=0.1, seed=42, keys=("s0",)):
    """Seeded random tick data with injected NaNs — mirrors the
    reference's generate_random_data (csp/tests/test_stats.py:25-41)."""
    rng = np.random.RandomState(seed)
    rows = []
    for k in keys:
        t = START
        for _ in range(n):
            t = t + TD(seconds=float(rng.uniform(0.5, 10.0)))
            v = float(rng.normal(mu, sigma))
            if rng.uniform() < pnan:
                v = float("nan")
            rows.append((k, t, 0, v))
    return rows


def load_module(path, name):
    """Import a repo file (example, tool) as a module by path —
    shared by the example smoke tests and the plan-pin tests."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---------------------------------------------------------------------------
# Slow tier: tests marked ``@pytest.mark.slow`` (or parametrized cases
# wrapped in ``pytest.param(..., marks=pytest.mark.slow)``) are
# deselected by default — each took >= 3 s in a full-run durations
# capture (endurance, fuzz, verbatim-example and stream-matches-batch
# classes). Run everything with:
#     CSP_SPARK_RUN_SLOW=1 python -m pytest tests/ -q


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: deselected unless CSP_SPARK_RUN_SLOW=1 (>= 3 s per test)",
    )


def pytest_collection_modifyitems(config, items):
    import os

    if os.environ.get("CSP_SPARK_RUN_SLOW") == "1":
        return
    keep, dropped = [], []
    for item in items:
        (dropped if item.get_closest_marker("slow") else keep).append(item)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = keep

"""Example smoke tests — the reference's csp/tests/test_examples.py
pattern: every runnable example executes end-to-end (each example
carries its own value asserts, so a pass is a behavioral check, not
just an import). Examples share the session-singleton get_spark()."""

import pytest

from tests.conftest import load_module

EXAMPLES = [
    "01_spread",
    pytest.param("02_dedup_pipeline", marks=pytest.mark.slow),
    pytest.param("03_realtime", marks=pytest.mark.slow),
    pytest.param("04_curation_pipeline", marks=pytest.mark.slow),
    pytest.param("05_hybrid_replay_live", marks=pytest.mark.slow),
    pytest.param("06_pandas_edges", marks=pytest.mark.slow),
    pytest.param("07_reference_api_tour", marks=pytest.mark.slow),
    pytest.param("08_ann_retrieval", marks=pytest.mark.slow),
    pytest.param("09_imperative_nodes", marks=pytest.mark.slow),
    pytest.param("10_reference_verbatim", marks=pytest.mark.slow),
    pytest.param("11_live_table", marks=pytest.mark.slow),
    pytest.param("12_incremental_refresh", marks=pytest.mark.slow),
    pytest.param("13_class_adapters", marks=pytest.mark.slow),
    pytest.param("14_streaming_alarms", marks=pytest.mark.slow),
]


@pytest.mark.parametrize("name", EXAMPLES)
def test_example_runs(name):
    load_module(f"examples/{name}.py", f"ex_{name}").main()

"""Tests of the seeded tick generator.

    python3 -m pytest perfbench/test_gen.py

With ``SPARK_GRAFT_SF_DIR`` set (bench.py's data directory), the
generated schema is also compared with that directory's events.parquet.
"""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen


def test_same_seed_same_ticks():
    a = gen.ticks(7, 5000, 300)
    b = gen.ticks(7, 5000, 300)
    assert a.equals(b)


def test_other_seed_other_ticks():
    a = gen.ticks(7, 5000, 300)
    b = gen.ticks(8, 5000, 300)
    assert not a.column("user_id").equals(b.column("user_id"))
    assert not a.column("ts").equals(b.column("ts"))


def test_schema_and_value_domains():
    t = gen.ticks(3, 20_000, 500)
    assert t.schema.equals(gen.EVENTS_SCHEMA)
    ts = t.column("ts").to_numpy().astype("int64")
    assert (np.diff(ts) > 0).all()  # time-ordered, hence per key too
    assert (np.diff(t.column("event_id").to_numpy()) == 1).all()
    assert set(t.column("event_type").to_pylist()) <= set(gen.EVENT_TYPES)
    v = t.column("value").to_numpy()
    assert (v >= 0).all() and np.allclose(v, np.round(v, 2))
    assert all(p.startswith('{"k": ') and p.endswith("}")
               for p in t.column("props").to_pylist()[:100])
    ids = t.column("user_id").to_numpy()
    assert ids.min() >= 0 and ids.max() < 500


def test_keys_are_zipf_skewed():
    ids = gen.ticks(5, 50_000, 1000, zipf_a=1.1).column("user_id").to_numpy()
    share = np.bincount(ids).max() / len(ids)
    assert share > 20 / 1000  # far above the uniform 1/1000


def test_drops_keep_the_schema(tmp_path):
    t = gen.ticks(11, 3000, 50)
    gen.write_events(t, str(tmp_path / "drops"), n_files=4)
    files = sorted((tmp_path / "drops").iterdir())
    assert len(files) == 4
    back = [pq.read_table(f) for f in files]
    assert all(b.schema.remove_metadata().equals(gen.EVENTS_SCHEMA) for b in back)
    assert sum(b.num_rows for b in back) == t.num_rows


@pytest.mark.skipif(not os.environ.get("SPARK_GRAFT_SF_DIR"),
                    reason="SPARK_GRAFT_SF_DIR is not set")
def test_schema_matches_events_table():
    path = os.path.join(os.environ["SPARK_GRAFT_SF_DIR"], "events.parquet")
    assert pq.read_schema(path).remove_metadata().equals(gen.EVENTS_SCHEMA)

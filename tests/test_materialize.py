"""The package's one materialization rule (core.session._materialize):
one call site for persist/localCheckpoint, and no public function
leaves a relation in Spark's CacheManager."""

import ast
import datetime as dt
import pathlib

import pytest
from pyspark.sql import functions as F

import csp_spark

PKG = pathlib.Path(csp_spark.__file__).parent


def _calls(attrs):
    """(file:line, name) of every ``<expr>.<attr>(...)`` call in the package."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in attrs):
                found.append((f"{path.relative_to(PKG)}:{node.lineno}",
                              node.func.attr))
    return found


def test_one_materialization_site():
    """Only the helper persists or checkpoints; nothing caches or
    unpersists, so no second mechanism (or a lifetime to manage)
    comes back."""
    sites = _calls({"persist", "localCheckpoint"})
    assert len(sites) == 1 and sites[0][0].startswith("core/session.py:"), sites
    assert _calls({"unpersist", "cache"}) == []


def _docs(spark):
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, text), (2, text + " today"), (3, "an unrelated line of words"),
            (4, "another unrelated line of other words")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _minhash(spark):
    from csp_spark.dedup import minhash_lsh_pairs
    return minhash_lsh_pairs(_docs(spark), num_hashes=8, bands=4,
                             shingle_k=3, use_words=True)


def _embedding(spark):
    from csp_spark.similarity import embedding_near_dups
    rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.001, 0.0]), (3, [0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return embedding_near_dups(emb, threshold=0.99, bits=4, dim=3)


def _dsir_select(spark):
    from csp_spark.pipeline.dsir import dsir_select
    docs = _docs(spark)
    return dsir_select(docs, docs.filter("doc_id < 3"), k=2)


def _dsir_weights(spark):
    from csp_spark.pipeline.dsir import dsir_weights
    docs = _docs(spark)
    return dsir_weights(docs, docs.filter("doc_id < 3"))


def _components(spark):
    from csp_spark.dedup import connected_components
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    return connected_components(pairs, local_threshold=0)


def _feedback(spark):
    from csp_spark import TickStream
    from csp_spark.plans.runtime import feedback_iterate
    t0 = dt.datetime(2020, 1, 1)
    init = TickStream(spark.createDataFrame(
        [("k", t0 + dt.timedelta(seconds=i), i, float(i + 1)) for i in range(3)],
        "key string, ts timestamp, seq long, value double"))

    def step(s):
        return TickStream(s.df.withColumn(
            "value", F.least(F.col("value") * 2, F.lit(10.0))))

    return feedback_iterate(step, init).df


@pytest.mark.parametrize("build", [
    _minhash, _embedding, _dsir_select, _dsir_weights, _components, _feedback,
], ids=lambda f: f.__name__.lstrip("_"))
def test_no_cached_relation_left(spark, build):
    """A public function's result, once consumed, leaves nothing in
    Spark's CacheManager: a later query with the same plan is never
    served from an earlier one's cache."""
    spark.catalog.clearCache()  # what earlier tests cached is not ours
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert build(spark).collect()
    assert cache.isEmpty()

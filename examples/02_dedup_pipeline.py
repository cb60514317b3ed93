"""Training-data dedup pipeline over the synthetic documents table:
near-dup pair detection (MinHash LSH, exact-Jaccard verified) →
transitive clustering → corpus clean + quality annotation.

Run: python examples/02_dedup_pipeline.py
"""
import sys

sys.path.insert(0, ".")

import csp_spark as csp
from csp_spark.dedup import minhash_lsh_pairs
from csp_spark.dedup.components import resolve_duplicates
from csp_spark.sources import read_table
from csp_spark.text import annotate

SF = "/root/testdata/sf0.001"


def main() -> None:
    spark = csp.get_spark(app_name="ex_dedup")
    spark.sparkContext.setLogLevel("ERROR")

    docs = read_table(spark, f"{SF}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, shingle_k=5, use_words=True,
                              threshold=0.5, num_hashes=48, bands=12)
    resolved = resolve_duplicates(docs, pairs)
    clean = resolved.filter("is_canonical")
    scored = annotate(clean)

    n_docs, n_pairs = docs.count(), pairs.count()
    n_clean = clean.count()
    print(f"{n_docs} docs, {n_pairs} near-dup pairs, {n_clean} survivors")
    assert n_clean <= n_docs
    scored.select("doc_id", "n_tokens", "quality", "lang_guess").show(5)

    # ingestion-time dedup: a later batch lands against the (immutable)
    # cleaned corpus; only genuinely-new incoming docs survive
    from pyspark.sql import functions as F

    from csp_spark.dedup import incremental_dedup

    incoming = (
        docs.limit(20)  # re-submit 20 known docs under new ids ...
        .withColumn("doc_id", F.col("doc_id") + 10_000_000)
        .unionByName(
            docs.limit(1).select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"),
                F.lit("a genuinely new document about orbital mechanics "
                      * 6).alias("text"),
                *[F.col(c) for c in docs.columns
                  if c not in ("doc_id", "text")],
            )
        )
    )
    kept = incremental_dedup(
        clean.select("doc_id", "text"), incoming.select("doc_id", "text"),
        pair_fn=lambda d: minhash_lsh_pairs(
            d, shingle_k=5, use_words=True, threshold=0.5,
            num_hashes=48, bands=12),
    )
    n_kept = kept.count()
    print(f"incremental: {incoming.count()} incoming -> {n_kept} kept")
    assert n_kept < incoming.count()  # the resubmitted docs were dropped


if __name__ == "__main__":
    main()

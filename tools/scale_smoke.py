"""Scale-stress smoke: run the core operator families at ~10x the bench
scale (events self-unioned with shifted keys -> ~1M rows, documents
duplicated with perturbed ids -> 50k docs) and report wall times next
to the sf0.1 numbers. The point is catching scaling cliffs (quadratic
candidate growth, per-key state blowups, driver collects) before they
matter at 100 TB — times should grow ~linearly with rows.

Usage: python tools/scale_smoke.py [multiplier]
"""

from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

import __spark_entry__ as E
from csp_spark import get_spark

MULT = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = "/root/testdata/sf0.1"

QUERIES = [
    "q1_pricing_summary",
    "op_sample_asof",
    "stats_rolling_tick",
    "stats_expanding",
    "stats_ema_halflife",
    "stats_trigger_reset",
    "dedup_minhash",
    "text_fingerprint",
    # r3 additions: clustering closure, chunking, repetition profile
    # (all doc-keyed — should scale ~linearly with docs)
    "dedup_components",
    "doc_chunk",
    "text_repetition",
    # r4 additions: packing (window + per-shard fold), caps/sampling
    # (pure window / filter) — all doc-keyed, ~linear by construction
    "doc_pack",
    "doc_pack_fit",
    "doc_pack_manifest",
    "doc_cap_per_source",
    "doc_weighted_sample",
    "doc_incremental_dedup",
    "doc_token_ids",
    "stats_ohlc_bars",
    "op_asof_directions",
    # r4 late additions: span dedup (census + join-back), LM scoring
    # (two joins vs count tables), BPE apply (pandas UDF, word cache)
    "doc_repeated_spans",
    "text_lm_score",
    "doc_bpe_tokens",
    # round-4 late additions: imperative node runner (per-key pandas
    # loop — keys are parallelism, must scale ~linearly) and
    # trigger-opened basket sync (pandas over trigger rows + one
    # window carry)
    "op_node_cumsum",
    "basket_sync_trigger",
    # r5 additions: translated reference node (same bucketed runner,
    # must stay ~linear in cycles), ts-of-frames materialization
    # (output is |trigger| x window by semantics — ratio tracks that
    # product, not a cliff), adjust-EMA window recursion
    "op_node_ast",
    "frame_pandas_ts",
    "stats_ema_adjust",
    # r6 addition: frozen-merge BPE inference (Arrow UDF + word cache,
    # linear in tokens)
    "doc_bpe_apply",
    # r7 additions: Gopher + C4 rule bundles (zero-shuffle scans) and
    # DSIR (gram hash-aggregates + one gram-keyed join — linear in
    # tokens)
    "doc_gopher",
    "doc_c4",
    "doc_dsir",
    # r8 addition: multi-epoch mixture (tiny totals aggregate + an
    # explode whose row multiplier is the epoch count — linear in
    # docs x epochs)
    "doc_repeat_epochs",
    # r8 addition: gap sessionization (one key shuffle + two window
    # passes — keys scale with the data, sessions are parallelism)
    "op_sessionize",
    # r12 addition: unkeyed tick window now computes sum/count/mean as
    # prefix differences (cum − lag over the pid-pinned sort) — must
    # stay ~linear in rows like the sliding form it replaced
    "op_windowed_global",
]


def main() -> None:
    spark = get_spark(app_name="scale_smoke",
                      **{"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="csp_scale_")

    # events x MULT: shift keys so key-cardinality grows with data —
    # the partition-by-key design should absorb this as parallelism
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    parts = [
        ev.withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000))
          .withColumn("event_id", F.col("event_id") + F.lit(i * 100_000_000))
        for i in range(MULT)
    ]
    big_ev = parts[0]
    for p in parts[1:]:
        big_ev = big_ev.unionByName(p)
    big_ev.repartition(64).write.mode("overwrite").parquet(f"{tmp}/events.parquet")

    # documents x MULT: perturb each copy's text (substitute a common
    # letter per copy) so copies are NOT cross-copy near-dups — the
    # corpus grows with its duplicate-pair structure intact per copy,
    # and dedup work should scale ~linearly with docs
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    dparts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 10_000_000))
            .withColumn("text", F.regexp_replace("text", "e", f"x{i}y"))
        for i in range(MULT)
    ]
    big_docs = dparts[0]
    for p in dparts[1:]:
        big_docs = big_docs.unionByName(p)
    big_docs.repartition(64).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")

    # copy-through the small dims the relational queries need
    for t in ("lineitem", "orders", "customer", "supplier", "part",
              "nation", "region", "embeddings"):
        spark.read.parquet(f"{SRC}/{t}.parquet").write.mode("overwrite").parquet(
            f"{tmp}/{t}.parquet"
        )

    n_ev = spark.read.parquet(f"{tmp}/events.parquet").count()
    n_docs = spark.read.parquet(f"{tmp}/documents.parquet").count()
    print(f"scaled inputs: events={n_ev} documents={n_docs} (x{MULT})")

    # Adversarial LSH corpus: one boilerplate family that puts EVERY
    # doc into the same (band, bucket). Without the degenerate-bucket
    # cap the in-bucket join is |family|^2, so doubling the family
    # quadruples the work (time ratio ~4); with the cap the star
    # reroute keeps it ~linear (normalized ratio < 2 = pass).
    from csp_spark import dedup as DD

    boiler = "terms of service apply to all users of this web site " * 3

    def _family(n):
        return (
            spark.range(n)
            .select(F.col("id").alias("doc_id"), F.lit(boiler).alias("text"))
            .repartition(32)
        )

    sizes = (4000, 8000)
    times = []
    for n in sizes:
        t0 = time.time()
        c = DD.minhash_lsh_pairs(
            _family(n), threshold=0.5, bucket_cap=500
        ).count()
        times.append(time.time() - t0)
        assert c == n - 1, f"expected O(n) star pairs, got {c}"
    norm = (times[1] / times[0]) / (sizes[1] / sizes[0])
    flag = "" if norm < 2 else "  <-- SUPERLINEAR (degenerate bucket)"
    print(f"adversarial_lsh          n={sizes[0]}: {times[0]:6.2f}s   "
          f"n={sizes[1]}: {times[1]:6.2f}s  normalized ratio {norm:4.2f}{flag}")

    # SemDeDup scale: clustering must bound pair generation — growing
    # the corpus WITH n_clusters scaled alongside (the paper's regime:
    # clusters ∝ corpus, cell size ~constant) should stay ~linear.
    # Each copy rolls the vector, so cross-copy cosines stay below eps
    # and the measured cost is candidate generation, not result size.
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])

    def _emb_scaled(m):
        ps = []
        for i in range(m):
            v = F.col("embedding").cast("array<double>")
            rolled = F.concat(
                F.slice(v, i % dim + 1, dim - i % dim), F.slice(v, 1, i % dim)
            )
            ps.append(
                emb.select(
                    (F.col("vec_id") + F.lit(i * 10_000_000)).alias("vec_id"),
                    rolled.alias("embedding"),
                )
            )
        out = ps[0]
        for p in ps[1:]:
            out = out.unionByName(p)
        return out.repartition(32)

    sem_sizes = (3, 6)
    sem_times = []
    for m in sem_sizes:
        t0 = time.time()
        DD.semdedup(_emb_scaled(m), eps=0.9, n_clusters=8 * m,
                    keep="min_id").filter("kept = 0").count()
        sem_times.append(time.time() - t0)
    norm = (sem_times[1] / sem_times[0]) / (sem_sizes[1] / sem_sizes[0])
    flag = "" if norm < 2 else "  <-- SUPERLINEAR (cell pair blowup)"
    print(f"semdedup_clustered       m={sem_sizes[0]}: {sem_times[0]:6.2f}s   "
          f"m={sem_sizes[1]}: {sem_times[1]:6.2f}s  normalized ratio {norm:4.2f}{flag}")

    # hard-negative mining rides the same cell-bounded pair generator:
    # clusters ∝ corpus (cell size ~constant) must stay ~linear
    from csp_spark.similarity import hard_negatives

    hn_times = []
    for m in sem_sizes:
        t0 = time.time()
        hard_negatives(
            _emb_scaled(m), k=5, n_clusters=8 * m, id_col="vec_id"
        ).count()
        hn_times.append(time.time() - t0)
    norm = (hn_times[1] / hn_times[0]) / (sem_sizes[1] / sem_sizes[0])
    flag = "" if norm < 2 else "  <-- SUPERLINEAR (cell pair blowup)"
    print(f"hard_negatives_clustered m={sem_sizes[0]}: {hn_times[0]:6.2f}s   "
          f"m={sem_sizes[1]}: {hn_times[1]:6.2f}s  normalized ratio {norm:4.2f}{flag}")

    # r9: BLAS kNN join — FIXED query side, corpus grows. Scoring is
    # one matmul per corpus partition and the exact re-score stage is
    # survivor-set-sized (constant in corpus), so time must stay
    # ~linear in corpus rows.
    from csp_spark.similarity import knn_join

    kj_queries = emb.filter(F.col("vec_id") % 300 == 0).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    kj_times = []
    for m in sem_sizes:
        corpus_m = _emb_scaled(m).select(
            F.col("vec_id").alias("cid"), "embedding"
        )
        t0 = time.time()
        knn_join(kj_queries, corpus_m, k=5, query_id="qid",
                 corpus_id="cid", method="blas").count()
        kj_times.append(time.time() - t0)
    norm = (kj_times[1] / kj_times[0]) / (sem_sizes[1] / sem_sizes[0])
    flag = "" if norm < 2 else "  <-- SUPERLINEAR (scoring blowup)"
    print(f"knn_join_blas            m={sem_sizes[0]}: {kj_times[0]:6.2f}s   "
          f"m={sem_sizes[1]}: {kj_times[1]:6.2f}s  normalized ratio {norm:4.2f}{flag}")

    qs = E.queries()
    for name in QUERIES:
        t0 = time.time()
        base = qs[name](spark, SRC).count()
        t_base = time.time() - t0
        t0 = time.time()
        big = qs[name](spark, tmp).count()
        t_big = time.time() - t0
        ratio = t_big / t_base if t_base > 0 else float("inf")
        flag = "" if ratio < MULT * 1.5 else "  <-- SUPERLINEAR"
        print(f"{name:24s} sf0.1: {t_base:6.2f}s ({base} rows)   "
              f"x{MULT}: {t_big:6.2f}s ({big} rows)  ratio {ratio:4.1f}{flag}")


if __name__ == "__main__":
    main()

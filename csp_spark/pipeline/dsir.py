"""DSIR — Data Selection via Importance Resampling.

Public method (Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling", arXiv:2302.03169, NeurIPS): fit two
bag-of-ngrams unigram models — one on a small TARGET corpus (the
distribution you want more of), one on the RAW corpus — and weight
every raw document by its log likelihood ratio
``log w(x) = sum_g c_x(g) * (log p_target(g) - log p_raw(g))``
over its unigram+bigram features, then keep the top-k (the paper
resamples with Gumbel noise; the deterministic top-k is the
noise-free limit and the form a reproducible pipeline wants).

Scale shape (100 TB contract): everything is hash-aggregates and one
join on the gram key — tokenize/gram expressions are whole-stage
codegen; per-doc gram counts shuffle once on (doc, gram); the model
tables are gram-keyed aggregates. ``n_buckets`` applies the paper's
hashed-feature compression (gram -> xxhash64 mod m): the model tables
shrink to at most m rows — broadcastable at any corpus size — at the
cost of hash collisions, exactly the paper's trade. ``n_buckets=None``
keeps exact grams (model tables scale with vocabulary; the join
shuffles on gram) — the bit-checkable oracle form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.session import _materialize
from ..text.analysis import tokens


def _gram_rows(
    docs: DataFrame, text_col: str, id_col: str,
    n_buckets: int | None,
) -> DataFrame:
    """(id, g): one row per unigram + bigram OCCURRENCE — the shared
    pre-aggregate subplan (all codegen, no shuffle). Grams with empty
    tokens are dropped (blank/whitespace-only text)."""
    toks = docs.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("t")
    )
    uni = toks.select("id", F.explode("t").alias("g")).filter(F.length("g") > 0)
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            "id", "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
        )
        .select(
            "id",
            F.concat_ws(
                " ", F.element_at("t", F.col("i")), F.element_at("t", F.col("i") + 1)
            ).alias("g"),
        )
        .filter(F.length("g") > 1)
    )
    grams = uni.unionByName(bi)
    if n_buckets is not None:
        grams = grams.select("id", F.pmod(F.xxhash64("g"), F.lit(n_buckets)).alias("g"))
    return grams


def _doc_gram_counts(
    docs: DataFrame, text_col: str, id_col: str,
    n_buckets: int | None,
) -> DataFrame:
    """(id, gram, c): unigram + bigram counts per document."""
    return (
        _gram_rows(docs, text_col, id_col, n_buckets)
        .groupBy("id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-raw-document DSIR importance weight: one row per raw doc
    with ``log_w`` (0.0 for docs with no grams — empty text scores
    neutrally). Both models are add-``smoothing`` smoothed over the
    union vocabulary, so unseen-in-target grams are defined."""
    raw_counts = _doc_gram_counts(raw_docs, text_col, id_col, n_buckets)
    # models aggregate the PRE-(id,g) gram rows directly: summing the
    # per-doc counts and counting occurrences are the same exact
    # integer, and this keeps the expensive (id, g) census a
    # single-use subplan — the old shape recomputed the whole raw
    # census (scan + explode + corpus-wide (id,g) exchange) once for
    # the model and once for the scoring join. The g-aggregate's own
    # shuffle stays tiny either way (map-side partials collapse to
    # distinct grams per partition).
    raw_model = (
        _gram_rows(raw_docs, text_col, id_col, n_buckets)
        .groupBy("g").agg(F.count(F.lit(1)).alias("c_raw"))
    )
    tgt_model = (
        _gram_rows(target_docs, text_col, id_col, n_buckets)
        .groupBy("g").agg(F.count(F.lit(1)).alias("c_tgt"))
    )
    # union vocabulary + totals: a handful of 1-row aggregates
    model = _materialize(raw_model.join(tgt_model, "g", "full").select(
        "g",
        F.coalesce("c_raw", F.lit(0)).alias("c_raw"),
        F.coalesce("c_tgt", F.lit(0)).alias("c_tgt"),
    ), "dsir_weights: model, read by the totals and the weights")
    tot = model.agg(
        F.sum("c_raw").alias("n_raw"),
        F.sum("c_tgt").alias("n_tgt"),
        F.count(F.lit(1)).alias("v"),
    ).first()
    n_raw, n_tgt, v = float(tot["n_raw"]), float(tot["n_tgt"]), float(tot["v"])
    s = float(smoothing)
    lr = model.select(
        "g",
        (
            F.log((F.col("c_tgt") + F.lit(s)) / F.lit(n_tgt + s * v))
            - F.log((F.col("c_raw") + F.lit(s)) / F.lit(n_raw + s * v))
        ).alias("lr"),
    )
    if n_buckets is not None:
        # at most n_buckets rows — broadcast regardless of corpus size
        lr = F.broadcast(lr)
    w = (
        raw_counts.join(lr, "g")
        .groupBy("id")
        .agg(F.sum(F.col("c") * F.col("lr")).alias("log_w"))
    )
    out = (
        raw_docs.select(F.col(id_col).alias("id"))
        .join(w, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("log_w", F.lit(0.0)).alias("log_w"),
        )
    )
    return out


def dsir_select(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    smoothing: float = 1.0,
) -> DataFrame:
    """DSIR top-k selection: adds ``selected`` (1 for the k raw docs
    with the highest weight). Ranking uses the 6dp-rounded weight with
    the id as tiebreak, so selection is reproducible across engines
    and partitionings (raw double ranking would let 1-ulp aggregation
    differences flip near-equal neighbors).

    Scale shape: the selection boundary comes from a distributed
    ``orderBy(...).limit(k)`` (TakeOrderedAndProject — per-partition
    top-k then a k-row merge, never a single-task global sort of the
    corpus); the flag is then a plan-literal comparison on every row.

    The weights are checkpointed (``localCheckpoint``), not cached:
    nothing stays in Spark's cache, and callers do nothing to release
    it."""
    w = dsir_weights(
        raw_docs, target_docs, text_col=text_col, id_col=id_col,
        n_buckets=n_buckets, smoothing=smoothing,
    ).withColumn("log_w", F.round("log_w", 6))
    w = _materialize(w, "dsir_select: weights, read by the boundary and the flag")
    kth = (
        w.orderBy(F.desc("log_w"), F.col(id_col))
        .limit(k)
        .orderBy(F.asc("log_w"), F.desc(id_col))
        .first()
    )
    if kth is None:  # k >= corpus: everything selected
        sel = F.lit(True)
    else:
        w_k, id_k = kth["log_w"], kth[id_col]
        sel = (F.col("log_w") > F.lit(w_k)) | (
            (F.col("log_w") == F.lit(w_k)) & (F.col(id_col) <= F.lit(id_k))
        )
    out = w.select(
        id_col, "log_w",
        F.when(sel, 1).otherwise(0).cast("int").alias("selected"),
    )
    return out

"""Deduplication operators for training-data pipelines at 100 TB.

Four tiers, cheapest first — all shuffle-on-key designs where the key
is a (band of a) signature, so candidate generation never goes
quadratic; only verified candidates pay a pairwise comparison:

- exact:        hash-groupBy on normalized text (one shuffle)
- fingerprint:  xxhash64 of normalized tokens (near-exact)
- minhash LSH:  shingle → minhash sig → band buckets → in-bucket pairs
- simhash:      64-bit sign-aggregate of token hashes → hamming buckets
- ngram_jaccard: exact Jaccard on shingle sets for candidate pairs
- embedding near-dup: see csp_spark.similarity

All JVM-side: shingling via substring/transform, hashing via xxhash64,
signatures via higher-order array functions. No Python in the path.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.session import _materialize
from ..text.analysis import spread as _spread
from ..text.analysis import tokens

logger = logging.getLogger("csp_spark")

#: Per-(band,bucket) size above which the in-bucket self-join is
#: considered degenerate and rerouted (see _capped_bucket_pairs). At
#: 100 TB a boilerplate family can put 1e5–1e6 docs into ONE bucket,
#: turning the |bucket|^2 join into the job's bottleneck.
DEFAULT_BUCKET_CAP = 2000


def _capped_bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    cap: int,
    label: str,
    payload: tuple[str, ...] = (),
) -> DataFrame:
    """In-bucket candidate self-join with a degenerate-bucket guard.

    ``rows`` must carry ``id`` (orderable doc id), ``__sigh`` (a hash of
    the doc's FULL signature — docs equal on it are near-certain dups),
    the bucket ``keys``, and any ``payload`` columns to carry through
    (emitted as ``<p>_a``/``<p>_b``).

    Buckets of size ≤ ``cap`` self-join exactly (today's corpora: all of
    them — the guard adds one tiny count-aggregate + an empty collect).
    Over-cap buckets — boilerplate families whose members share a
    signature slice by construction — are rerouted:

    1. exact-signature grouping: members with identical ``__sigh`` are
       star-connected to the group's min id (O(n) pairs, not O(n^2));
    2. the group representatives self-join among themselves; if even
       the representative set exceeds ``cap`` it is salt-split into
       ceil(n/cap) hash groups joined within-salt only.

    Downstream exact verification (Jaccard / hamming) still runs on
    every emitted candidate, so precision is unaffected; within an
    over-cap bucket the emitted pair set is a connectivity-preserving
    SUBSET of all true pairs (star + rep graph), which is what the
    dedup consumers (connected components, resolve/keep rules) need.
    Cross-salt representative pairs are the only recall loss and are
    logged — no silent caps.
    """
    def pairs_within(r: DataFrame, ks: list[str]) -> DataFrame:
        cond = [F.col(f"a.{k}") == F.col(f"b.{k}") for k in ks]
        cond.append(F.col("a.id") < F.col("b.id"))
        sel = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]
        for p in payload:
            sel += [F.col(f"a.{p}").alias(f"{p}_a"),
                    F.col(f"b.{p}").alias(f"{p}_b")]
        return r.alias("a").join(r.alias("b"), on=cond).select(*sel)

    spark = rows.sparkSession
    cnt = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    over_rows = cnt.filter(F.col("__n") > cap).collect()
    if not over_rows:
        return pairs_within(rows, keys)

    logger.warning(
        "%s: %d degenerate bucket(s) over cap=%d (largest=%d) rerouted "
        "through exact-signature star grouping",
        label, len(over_rows), cap, max(r["__n"] for r in over_rows),
    )
    key_schema = rows.select(*keys).schema
    over_df = spark.createDataFrame(
        [tuple(r[k] for k in keys) for r in over_rows], key_schema
    )
    ok = rows.join(F.broadcast(over_df), keys, "left_anti")
    bad = rows.join(F.broadcast(over_df), keys, "left_semi")

    gkeys = [*keys, "__sigh"]
    rep = bad.groupBy(*gkeys).agg(F.min("id").alias("__rep"))
    m = bad.join(rep, gkeys)
    # star: min-id rep ↔ every other member of its exact-signature group.
    # Payload is signature-determined within the group, so the member's
    # value stands in for the rep's on the _a side.
    star = m.filter(F.col("id") != F.col("__rep")).select(
        F.col("__rep").alias("id_a"), F.col("id").alias("id_b"),
        *[c for p in payload for c in
          (F.col(p).alias(f"{p}_a"), F.col(p).alias(f"{p}_b"))],
    )
    reps_rows = m.filter(F.col("id") == F.col("__rep")).drop("__rep")
    rep_over = (
        reps_rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > cap).collect()
    )
    if not rep_over:
        rep_pairs = pairs_within(reps_rows, keys)
    else:
        lost = sum(r["__n"] for r in rep_over)
        logger.warning(
            "%s: %d bucket(s) still over cap after signature grouping "
            "(%d reps total) — salt-splitting; cross-salt representative "
            "pairs in those buckets are skipped",
            label, len(rep_over), lost,
        )
        salt_df = spark.createDataFrame(
            [(*[r[k] for k in keys], math.ceil(r["__n"] / cap))
             for r in rep_over],
            rows.select(*keys).withColumn("__nsalt", F.lit(1)).schema,
        )
        reps_s = reps_rows.join(F.broadcast(salt_df), keys, "left").withColumn(
            "__salt",
            F.pmod(F.xxhash64("id"), F.coalesce("__nsalt", F.lit(1))),
        )
        rep_pairs = pairs_within(reps_s, [*keys, "__salt"])
    return pairs_within(ok, keys).unionByName(star).unionByName(rep_pairs)


def normalize(text: Column) -> Column:
    return F.array_join(tokens(text), " ")


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of byte-identical (normalized) documents: one row per
    duplicated text with the canonical (min) id, member ids, count."""
    # No pre-repartition here (unlike the shingle pipelines): the
    # groupBy shuffle already redistributes, and the map side is one
    # cheap md5 — an extra shuffle of raw text costs more than it saves.
    return (
        docs.groupBy(F.md5(normalize(F.col(text_col))).alias("text_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per normalized text."""
    w_min = F.min(id_col)
    keep = (
        docs.groupBy(F.md5(normalize(F.col(text_col))).alias("__h"))
        .agg(w_min.alias(id_col))
        .select(id_col)
    )
    return docs.join(keep, on=id_col, how="inner")


# ----------------------------------------------------------------------
# shingling + minhash
# ----------------------------------------------------------------------

def _shingles_of_norm(norm: Column, k: int, use_words: bool) -> Column:
    """Shingles from an ALREADY-materialized normalized-text column.

    The caller must have projected the normalized text into its own
    column first; passing the normalize() expression directly would
    re-evaluate the regex tokenize inside the per-index lambda.
    """
    if use_words:
        t = F.split(norm, " ")
        n = F.greatest(F.size(t) - (k - 1), F.lit(1))
        idx = F.sequence(F.lit(0), n - 1)
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(t, i + 1, k), " "))
        )
    n = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    idx = F.sequence(F.lit(1), n)
    return F.array_distinct(F.transform(idx, lambda i: norm.substr(i, F.lit(k))))


def char_shingles(text: Column, k: int = 8) -> Column:
    """Distinct k-character shingles of the normalized text, computed
    JVM-side: transform over an index sequence + substring.

    NOTE: prefer projecting normalize(text) into a column and calling
    _shingles_of_norm on it — inlining here re-runs normalization per
    shingle index."""
    return _shingles_of_norm(normalize(text), k, use_words=False)


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-token shingles."""
    return _shingles_of_norm(normalize(text), k, use_words=True)


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """num_hashes-wide MinHash signature of a shingle ARRAY column.

    Convenience form for small inputs; the bulk path in
    minhash_lsh_pairs uses the exploded-rows + hash-aggregate design
    instead (higher-order array functions are interpreted, not
    codegen'd, and are ~10x slower per element)."""
    return F.array(
        *[
            F.array_min(
                F.transform(shingles, lambda s: _mix64(F.xxhash64(s), i))
            ).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )


def _mix64(h: Column, i: int) -> Column:
    # Permutation i = xxhash64 of the base shingle hash salted by the
    # permutation index: independent per i, whole-stage-codegen, and —
    # unlike the a*h+b multiply-shift family — safe under ANSI mode
    # (Spark 4 default), where a raw long multiply throws
    # ARITHMETIC_OVERFLOW instead of wrapping mod 2^64.
    return F.xxhash64(h, F.lit(i))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 8,
    threshold: float = 0.5,
    use_words: bool = False,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH, verified
    with exact Jaccard over the shingle sets.

    ``bucket_cap`` guards the in-bucket self-join against degenerate
    (band, bucket) keys — boilerplate families that put 1e5+ docs into
    one bucket on a web corpus; see _capped_bucket_pairs.

    Scale shape: explode to (band_id, band_hash) → shuffle by bucket →
    pairs only within buckets (collision probability s^(r) per band);
    the full cross-join never materializes. Exact-Jaccard verification
    touches only candidates, so false candidates cost work but never
    wrong output. Default r=4 rows/band balances recall at J≥0.5
    (1-(1-J^4)^16: 64% at exactly 0.5, 99.6% at 0.7) against candidate
    volume — r=2 has ~99% recall at 0.5 but on template-heavy corpora
    (baseline inter-doc J ~0.2) floods verification with ~250x the
    candidate pairs.

    The result is checkpointed (``localCheckpoint``), not cached:
    nothing stays in Spark's cache, and callers do nothing to release it.
    """
    rows_per_band = num_hashes // bands
    docs = _spread(docs)

    # Stage 1 — exploded shingle-hash rows (id, h), as a REUSABLE
    # subplan builder: the full corpus feeds the signature aggregate
    # ONCE; verification later rebuilds shingles for only the
    # candidate docs (an LSH-selected sliver) instead of caching the
    # whole exploded set — at 100 TB, persisting every shingle row is
    # a storage hazard, while re-scanning the sliver is a pushed-down
    # semi-join + a tiny explode. Materialize the normalized text
    # first (inlining normalize() into per-position expressions
    # re-runs the regex tokenize per shingle — O(len^2) per doc), then
    # explode positions: explode + substring + xxhash64 are all
    # whole-stage-codegen, unlike higher-order array lambdas which run
    # interpreted. No fat array column ever crosses a shuffle.
    def _shingle_rows(src: DataFrame) -> DataFrame:
        norm = src.select(
            F.col(id_col).alias("id"), normalize(F.col(text_col)).alias("n")
        )
        if use_words:
            toks = norm.select("id", F.split("n", " ").alias("t"))
            pos = toks.select(
                "id", "t",
                F.explode(
                    F.sequence(F.lit(0), F.greatest(F.size("t") - shingle_k, F.lit(0)))
                ).alias("i"),
            )
            shing = pos.select(
                "id",
                F.array_join(F.slice("t", F.col("i") + 1, shingle_k), " ").alias("s"),
            )
        else:
            pos = norm.select(
                "id", "n",
                F.explode(
                    F.sequence(
                        F.lit(1), F.greatest(F.length("n") - (shingle_k - 1), F.lit(1))
                    )
                ).alias("i"),
            )
            shing = pos.select(
                "id", F.col("n").substr(F.col("i"), F.lit(shingle_k)).alias("s")
            )
        return shing.select("id", F.xxhash64("s").alias("h"))

    # No corpus-wide dropDuplicates: duplicate shingles cannot change a
    # min, so the signature aggregate consumes raw shingle rows with no
    # prior shuffle; distinct-ness is only enforced later, on the tiny
    # candidate subset that Jaccard verification touches.
    rows = _shingle_rows(docs)

    # Stage 2 — signature via ONE codegen hash-aggregate: permutation i
    # is the i-salted re-hash of the single base xxhash64, min'd per doc.
    # Map-side partial agg collapses each partition to its distinct ids,
    # so the shuffle carries |docs| x num_hashes longs regardless of
    # corpus size.
    sig = rows.groupBy("id").agg(
        *[
            F.min(_mix64(F.col("h"), i)).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )
    # |docs| x num_hashes longs — tiny. Without this, the band join
    # (self-join) and every downstream stage re-runs the full shingle
    # scan + 64-min aggregate (the most expensive stage) once per use.
    sig = _materialize(sig, "minhash_lsh_pairs: signatures")

    # Stage 3 — band buckets: candidate generation shuffles only
    # (id, band, bucket) — 24 bytes/row. Band hash = multi-arg xxhash64
    # straight over the long signature columns: no string casts/concats,
    # and a ~16x smaller expression tree for codegen to compile.
    band_arr = F.array(
        *[
            F.xxhash64(
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)],
                F.lit(b),
            )
            for b in range(bands)
        ]
    )
    # __sigh = hash of the FULL signature: inside a degenerate bucket,
    # equal-__sigh docs are near-certain duplicates (all num_hashes mins
    # agree) and get star-grouped instead of all-paired.
    sigh = F.xxhash64(*[F.col(f"mh{i}") for i in range(num_hashes)])
    banded = sig.select(
        "id", sigh.alias("__sigh"),
        F.posexplode(band_arr).alias("band", "bucket"),
    )
    cand = _capped_bucket_pairs(
        banded, ["band", "bucket"], bucket_cap, "minhash_lsh_pairs"
    ).dropDuplicates(["id_a", "id_b"])
    # The pair list feeds two different broadcasts below; without a
    # checkpoint each broadcast would recompute the whole signature +
    # band-join pipeline. It is at most a few MB by construction.
    cand = _materialize(cand, "minhash_lsh_pairs: candidate pairs")

    # Stage 4 — exact-Jaccard verification restricted to candidates:
    # semi-join the SOURCE DOCS down to the candidate id set first
    # (broadcast; the predicate pushes into the doc scan), then rebuild
    # shingles for just that sliver and collect each candidate's
    # distinct-shingle-hash set (collect_set dedups in the aggregate —
    # no separate dropDuplicates shuffle), then intersect per pair with
    # array_intersect. Recomputing the sliver beats caching the full
    # exploded shingle set: memory stays bounded by candidates, not
    # corpus. Set sizes are bounded by shingles-per-doc.
    cand_ids = (
        cand.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    )
    cand_docs = docs.join(
        F.broadcast(cand_ids.withColumnRenamed("id", id_col)),
        id_col, "left_semi",
    )
    sets = (
        _shingle_rows(cand_docs)
        .groupBy("id")
        .agg(F.collect_set("h").alias("hs"))
        .select("id", "hs", F.size("hs").cast("double").alias("c"))
    )
    i = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    out = (
        cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"),
                        F.col("c").alias("ca")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"),
                        F.col("c").alias("cb")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.round(i / (F.col("ca") + F.col("cb") - i), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _materialize(out, "minhash_lsh_pairs: verified pairs")


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing ≥1 shingle — the
    ground-truth counterpart to minhash_lsh_pairs (and its test oracle).
    Candidate generation via shingle-inverted-index join: shuffles on
    shingle, cost ∝ Σ bucket². For 100 TB use minhash_lsh_pairs; this
    one is for bounded corpora / verification."""
    docs = _spread(docs)
    norm = docs.select(
        F.col(id_col).alias("id"), normalize(F.col(text_col)).alias("n")
    )
    pos = norm.select(
        "id", "n",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("n") - (shingle_k - 1), F.lit(1)))
        ).alias("i"),
    )
    inv = (
        pos.select("id", F.col("n").substr(F.col("i"), F.lit(shingle_k)).alias("s"))
        .select("id", F.xxhash64("s").alias("h"))
        .dropDuplicates(["id", "h"])
    )
    sizes = inv.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        inv.alias("a")
        .join(
            inv.alias("b"),
            on=[F.col("a.h") == F.col("b.h"), F.col("a.id") < F.col("b.id")],
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("double").alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))),
            "id_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))),
            "id_b",
        )
        .select(
            "id_a", "id_b",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ----------------------------------------------------------------------
# simhash
# ----------------------------------------------------------------------

def simhash(text: Column) -> Column:
    """64-bit SimHash of the token multiset: bit i is the sign of the
    sum of ±1 contributions from bit i of each token's xxhash64.

    Convenience single-column form (array lambdas, interpreted). The
    bulk path in simhash_pairs computes the same signature (same bit
    order) via explode + one codegen hash-aggregate — use that shape
    for corpora."""
    hashes = F.transform(tokens(text), lambda w: F.xxhash64(w))
    sig = None
    for i in range(64):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h, _i=i: acc
            + F.when(F.shiftright(h, _i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        bit = F.shiftleft(F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), i)
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return sig


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    n_blocks: int | None = None,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """Near-dup pairs with simhash distance ≤ max_hamming, bucketed by
    bit chunks. Chunk count is max_hamming+1, so the pigeonhole
    guarantee is EXACT for any threshold: a pair differing in ≤
    max_hamming bits cannot differ in all max_hamming+1 chunks, hence
    shares at least one (chunk_id, chunk) bucket — candidate generation
    shuffles on chunk value instead of cross-joining, with 100% recall.

    hash_fn: "xxhash64" (default, fastest JVM path, 64-bit) or
    "md5_48" (48-bit from the first 12 hex chars of md5 — bit-exactly
    replayable in any engine with md5, e.g. the DuckDB oracle).

    n_blocks — the billion-doc control (Manku et al., WWW'07 §3): the
    default layout keys each table on ONE of max_hamming+1 chunks, so
    bucket cardinality is only 2^(bits/(d+1)) — fine at millions of
    docs, flooded at billions. With ``n_blocks = k > d+1`` the
    signature splits into k blocks and candidate tables key on every
    (k−d)-block COMBINATION: a pair within hamming d has ≥ k−d clean
    blocks, so some table's whole key matches (still 100% recall), and
    keys widen to ~bits·(k−d)/k bits — e.g. k=8, d=3 keys 40 of 64
    bits (2^40 buckets) at C(8,5)=56 tables of 16-byte rows. Output is
    bucketing-independent (exact hamming verification runs last)."""
    # Bulk path: explode tokens once, hash each, then per-bit
    # sign-sums in a single codegen hash-aggregate; the signature is
    # assembled from the votes with literal-shift bit ops. (The
    # array-lambda simhash() form is interpreted and re-hashes every
    # token per bit position — ~20x slower.)
    if hash_fn == "md5_48":
        bits = 48
        hcol = F.conv(F.substring(F.md5(F.col("w")), 1, 12), 16, 10).cast("long")
    elif hash_fn == "xxhash64":
        bits = 64
        hcol = F.xxhash64("w")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    docs = _spread(docs)
    tok = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("w")
    ).select("id", hcol.alias("h"))
    votes = tok.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(bits)
        ]
    )
    sig_col = None
    for i in range(bits):
        bit = F.shiftleft(F.when(F.col(f"v{i}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"), i)
        sig_col = bit if sig_col is None else sig_col.bitwiseOR(bit)
    base = votes.select("id", sig_col.alias("sh"))
    return hamming_pairs(
        base, id_col="id", sig_col="sh",
        bits=bits, max_hamming=max_hamming, n_blocks=n_blocks,
        bucket_cap=bucket_cap,
    )


def hamming_pairs(
    sigs: DataFrame,
    id_col: str = "id",
    sig_col: str = "sig",
    bits: int = 64,
    max_hamming: int = 3,
    n_blocks: int | None = None,
    bucket_cap: int = DEFAULT_BUCKET_CAP,
) -> DataFrame:
    """All pairs whose PRECOMPUTED ``bits``-wide signatures differ in ≤
    ``max_hamming`` bits — the generic bucketed hamming join behind
    simhash_pairs, reusable for any signature family (text simhash,
    image perceptual hashes, audio chromaprints): pigeonhole bit
    chunks (or the Manku WWW'07 block-combination tables via
    ``n_blocks``, see simhash_pairs) generate candidates with 100%
    recall and no cross join; exact hamming verification runs last.
    Output: (id_a, id_b, hamming).

    Precondition: ONE signature row per id. The verify-before-dedup
    ordering (below) commutes with the pair dedup only when every
    duplicate of an (id_a, id_b) candidate carries the same
    (sh_a, sh_b) — true by construction for simhash_pairs/pdq inputs
    (one votes/signature row per id). If a caller passes several
    DIFFERENT signatures under one id, a pair survives when ANY
    orientation passes the hamming cut, where the pre-r12 form kept
    one arbitrary representative; dedup sigs per id first if that
    distinction matters."""
    n_chunks = n_blocks if n_blocks is not None else max_hamming + 1
    if n_chunks <= max_hamming:
        raise ValueError("n_blocks must exceed max_hamming")
    comb_r = n_chunks - max_hamming
    import math as _math
    from itertools import combinations as _combinations

    n_tables = _math.comb(n_chunks, comb_r)
    if n_tables > 256:
        raise ValueError(
            f"n_blocks={n_chunks}, max_hamming={max_hamming} needs "
            f"{n_tables} tables; choose a smaller combination count"
        )
    combos = list(_combinations(range(n_chunks), comb_r))
    widths = [bits // n_chunks + (1 if i < bits % n_chunks else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]
    base = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sh"))
    # each table keys on one (k−d)-block combination; the default
    # layout is the comb_r=1 special case (one block per table)
    block = [
        F.shiftright("sh", offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_chunks)
    ]
    table_keys = F.array(
        *[
            F.xxhash64(*[block[i] for i in comb], F.lit(tid))
            for tid, comb in enumerate(combos)
        ]
    )
    # __sigh = the exact full signature: equal-signature docs inside a
    # degenerate bucket are hamming-0 pairs, the star grouping of
    # _capped_bucket_pairs is lossless for them.
    chunks = base.select(
        "id", "sh", F.col("sh").alias("__sigh"),
        F.posexplode(table_keys).alias("chunk_id", "chunk"),
    )
    cand = _capped_bucket_pairs(
        chunks, ["chunk_id", "chunk"], bucket_cap, "hamming_pairs",
        payload=("sh",),
    )
    # verify BEFORE the pair dedup (guide §2.3 — filter before the
    # exchange): the exact hamming check is one codegen bit_count on
    # columns already present, and it shrinks the dropDuplicates
    # shuffle by the false-candidate ratio (measured 7.45 M → 308 k
    # rows at sf0.1, 24x). Exact commute: signatures are unique per
    # id (one votes row per id), so every duplicate of a pair carries
    # identical (sh_a, sh_b) and the same hamming — filter-then-dedup
    # returns the identical row set.
    return (
        cand.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", "hamming")
    )

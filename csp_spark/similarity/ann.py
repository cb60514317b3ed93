"""Similarity search over embedding columns (array<float>).

Two tiers:
- brute-force cosine top-k — exact baseline; one scan, JVM-side
  zip_with/aggregate dot products, no shuffle until the final top-k.
- LSH-bucketed ANN (random hyperplanes) — the 100 TB path: b sign-bits
  bucket the corpus; a query probes its own bucket (+ optional
  multi-probe neighbors), so the scan touches ~N/2^b vectors. Planes
  are seeded → deterministic, reproducible across runs and engines.

An IVF variant (k-means coarse quantizer) would use the same shape:
assign → bucket column → partition pruning on bucket. LSH chosen here
because it needs no training pass.
"""

from __future__ import annotations

import logging
import math
import os
from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.session import _materialize
from ..sources.parquet import read_table

logger = logging.getLogger("csp_spark")

#: Similarity cells per BLAS slab in :func:`_margin_select` (~32 MB of
#: float64), whatever the size of either side.
_SLAB_CELLS = 4_000_000


def _vec_matrix(series, dim: int, label: str, col: str) -> np.ndarray:
    """Dense [n, dim] float64 matrix from an Arrow-batch embedding
    column, failing LOUDLY on the inputs that would otherwise surface
    as an opaque executor shape/dtype error three stages later: a NULL
    vector or ragged lengths make np.array return an object-dtype
    (or mis-shaped) array that any downstream matmul chokes on."""
    try:
        # fast path: clean fixed-dim input converts in one C pass
        V = np.array(series.tolist(), dtype=np.float64)
    except (TypeError, ValueError):
        raise ValueError(
            f"{label}: column {col!r} contains a NULL, non-numeric, "
            "or ragged-length vector — drop or impute those rows "
            "before indexing"
        ) from None
    if V.ndim != 2 or V.shape[1] != dim:
        raise ValueError(
            f"{label}: column {col!r} must be non-NULL fixed-dimension "
            f"{dim} vectors; got an array of shape {V.shape} (NULL or "
            "ragged-length embeddings in this batch)"
        )
    return V


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _side_matrix(series, label: str, col: str, dim: int | None = None):
    """(float64 matrix, NULL-row mask) for one side of the kernel: NULL
    vectors become flagged zero rows (a NULL element arrives as NaN);
    every other row must have ``dim`` elements (default: the first
    non-NULL row's), ragged input raising via :func:`_vec_matrix`."""
    null = series.isna().to_numpy()
    live = series[~null]
    if dim is None:
        dim = len(live.iloc[0]) if len(live) else 0
    if not null.any():
        return _vec_matrix(series, dim, label, col), null
    V = np.zeros((len(series), dim))
    if len(live):
        V[~null] = _vec_matrix(live, dim, label, col)
    return V, null


def _order_key(x: np.ndarray, null: np.ndarray) -> np.ndarray:
    """Spark's order on a double column as a float64 sort key: NaN
    ranks above every double, NULL below."""
    return np.where(null, -np.inf, np.where(np.isnan(x), np.inf, x))


def _margin_select(A, a_null, a_ids, blocks, *, rounded: bool,
                   k: int | None = None, threshold: float | None = None,
                   below: float | None = None, pairs: str | None = None):
    """Margin-select: the one candidate kernel behind knn_join,
    hard_negatives, cosine_pairs_above and semdedup. BLAS cosine slabs
    (at most ``_SLAB_CELLS`` cells each) between the rows of ``A`` and
    each block of the other side keep a guaranteed SUPERSET of the
    pairs the exact JVM expression keeps; callers re-score only those
    survivors with :func:`_rescore`, so every returned double is the
    JVM's own.

    ``blocks`` yields ``(B, b_null, b_ids, *payload)``; each candidate
    chunk comes back as ``(ia, sure, b_ids[jb], *payload[jb])``, ``ia``
    indexing ``A``. Modes:

    - ``threshold``: pairs scoring at or above it, chunk by chunk;
      ``sure`` marks those clear of the margin band, which need no
      re-score.
    - ``k``: per row of ``A``, every pair that can reach the row's top
      ``k`` in descending order (boundary ties included), among pairs
      strictly ``below`` a bound when one is given; yielded after the
      last block (``sure`` is None).

    ``pairs`` keeps only pairs with ``a_id != b_id`` ("ne") or
    ``a_id < b_id`` ("lt"); a NULL id passes neither, as in the JVM.

    The JVM rules, stated once: a NULL vector or a zero divisor scores
    NULL, which ranks below every double and passes no comparison; NaN
    ranks above every double, so ``NaN >= t`` holds and ``NaN < t``
    does not. A NaN score is never certain: Arrow hands pandas a NULL
    element as NaN, and the JVM scores that vector NULL, so NaN pairs
    are kept wherever either reading would keep them and left to the
    re-score. The margin follows from the compared score. BLAS and the
    JVM's sequential fold differ by a few ulp, so raw cosines need
    1e-9. Scores rounded to 6 dp may land one 1e-6 grid step apart, so
    a true top-k member can sit 2e-6 below the BLAS kth (and ``kth -
    margin`` carries an ulp of its own); 2.5e-6 is strictly above that
    and below the next grid step, so it admits no extra rounded value.
    """
    if k is not None and k < 1:
        return
    import pandas as pd

    margin = 2.5e-6 if rounded else 1e-9
    test = {None: None, "ne": np.not_equal, "lt": np.less}[pairs]
    an = np.linalg.norm(A, axis=1)
    top = None if k is None else np.full((len(A), k), -np.inf)
    held = []
    for B, b_null, b_ids, *payload in blocks:
        if test is not None:
            # both sides' ids as shared sorted int codes, NULL = -1: the
            # id test is an int64 compare whatever the id type
            codes = pd.factorize(np.concatenate([a_ids, b_ids]), sort=True)[0]
            ca, cb = codes[:len(A), None], codes[None, len(A):]
        bn = np.linalg.norm(B, axis=1)
        step = max(1, _SLAB_CELLS // max(len(B), 1))
        for s0 in range(0, len(A), step):
            s1 = min(len(A), s0 + step)
            den = np.outer(an[s0:s1], bn)
            with np.errstate(invalid="ignore", divide="ignore"):
                S = (A[s0:s1] @ B.T) / den
            if rounded:
                S = np.round(S, 6)
            null = (den == 0.0) | a_null[s0:s1, None] | b_null[None, :]
            r = _order_key(S, null)
            live = (np.ones(r.shape, dtype=bool) if test is None
                    else test(ca[s0:s1], cb) & (ca[s0:s1] >= 0) & (cb >= 0))
            certain = live & ~np.isnan(S)
            if k is None:
                keep = live & ~null & (r >= threshold - margin)
                sure = keep & certain & (r >= threshold + margin)
            else:
                if below is None:
                    keep, sure = live, certain
                else:
                    keep = live & ~null & (r < below + margin)
                    sure = keep & (r < below - margin)
                # running top-k of the pairs certainly kept: its min is
                # the kth so far, never above the exact final kth
                t = np.concatenate([top[s0:s1], np.where(sure, r, -np.inf)],
                                   axis=1)
                top[s0:s1] = -np.partition(-t, k - 1, axis=1)[:, :k]
                keep = keep & (r >= top[s0:s1].min(axis=1)[:, None] - margin)
            ia, jb = np.nonzero(keep)
            if not len(ia):
                continue
            chunk = (ia + s0, b_ids[jb], *[p[jb] for p in payload])
            if k is None:
                yield (chunk[0], sure[ia, jb], *chunk[1:])
            else:
                held.append((r[ia, jb], chunk))
    if held:
        kth = top.min(axis=1)
        for rs, (ia, *rest) in held:
            m = rs >= kth[ia] - margin
            yield (ia[m], None, *[x[m] for x in rest])


def _rescore(pairs: DataFrame, a: str, b: str,
             side_a: DataFrame | None = None,
             side_b: DataFrame | None = None,
             rounded: bool = True) -> DataFrame:
    """Exact JVM re-score of :func:`_margin_select` survivors: adds
    ``cos_sim = round(dot / (norm_a * norm_b), 6)`` (unrounded when
    ``rounded`` is False) from the sequential zip_with/aggregate folds,
    which any engine replaying a sequential sum reproduces bit-for-bit
    (the DuckDB oracle). ``a``/``b`` name the id columns of ``pairs``.
    Each ``side_*`` frame (``id``, ``v``, optionally ``n = norm(v)``,
    and extra columns, which come back suffixed ``_a``/``_b``) is joined
    back on its id; a None side means ``pairs`` already carries that
    vector as ``__va``/``__vb``. A side's norm is taken from its ``n``
    (once per side row) when given, else computed per pair row: ship
    ``n`` where most side rows pair (the top-k callers), not where few
    do (semdedup's usually empty margin band)."""
    n = {}
    for key, side, s in ((a, side_a, "a"), (b, side_b, "b")):
        if side is not None:
            extra = [F.col(c).alias(f"{c}_{s}") for c in side.columns
                     if c not in ("id", "v", "n")]
            if "n" in side.columns:
                n[s] = F.col(f"__n{s}")
                extra.append(F.col("n").alias(f"__n{s}"))
            pairs = pairs.join(side.select(
                F.col("id").alias(key), F.col("v").alias(f"__v{s}"), *extra,
            ), key)
    va, vb = F.col("__va"), F.col("__vb")
    # the same factors in the same order as cosine(): bit-identical
    score = dot(va, vb) / (n.get("a", norm(va)) * n.get("b", norm(vb)))
    return pairs.withColumn("cos_sim", F.round(score, 6) if rounded else score)


def _broadcast_side(df: DataFrame, label: str, advice: str):
    """The guarded driver collect behind a broadcast kernel side. ``df``
    is (``id``, ``v``); rows stream in partition by partition, and once
    they pass ``CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS`` (rows x dim
    doubles, the dimension read from the first non-NULL vector; read at
    call time; default 64M ≈ 0.5 GB) it raises with ``advice`` rather
    than OOM the driver, holding at most one partition past the budget.
    Returns (rows, broadcast of (ids, matrix, NULL mask)), the broadcast
    None when ``df`` is empty."""
    import pandas as pd

    max_el = int(os.environ.get(
        "CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS", str(64 * 1024 * 1024)
    ))
    rows, dim = [], 0
    it = df.toLocalIterator()
    for r in it:
        rows.append(r)
        if not dim and r["v"] is not None:
            dim = len(r["v"])
        cap_rows = max(max_el // max(dim, 1), 1)
        if len(rows) > cap_rows:
            it.close()
            raise ValueError(
                f"{label}: vector table exceeds {cap_rows} rows "
                f"x {dim} dims = {max_el} doubles, past the "
                "driver-collect guard (env "
                f"CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS). {advice}"
            )
    if not rows:
        return rows, None
    M, null = _side_matrix(
        pd.Series([r["v"] for r in rows], dtype=object), label, "v", dim
    )
    ids = np.array([r["id"] for r in rows])
    return rows, df.sparkSession.sparkContext.broadcast((ids, M, null))


def cosine_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.
    Single scan + global top-k (orderBy+limit → TakeOrderedAndProject,
    no full sort shuffle)."""
    import math

    q = F.array(*[F.lit(float(v)) for v in query])
    # the query norm is a constant: fold it driver-side (same 0.0-seeded
    # sequential accumulation as norm(), so the double is bit-identical)
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    return (
        embeddings.select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), q) / (norm(F.col(vec_col)) * F.lit(qn)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def infer_dim(embeddings: DataFrame, vec_col: str = "embedding") -> int:
    """Read the vector dimensionality from ONE row — a deliberate,
    visible driver action. Index builders below require ``dim``
    explicitly so that plan construction never hides a job; call this
    once up front and thread the result (at scale the dim is a known
    property of the embedding model — pass the constant)."""
    row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(f"cannot infer dim: {vec_col} has no rows")
    return int(row["d"])


def _planes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(bits, dim))


def lsh_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Sign-bit bucket id of a vector under the given hyperplanes —
    pure column expressions, evaluated at scan time."""
    bits = []
    for i, p in enumerate(planes):
        lit_p = F.array(*[F.lit(float(x)) for x in p])
        bits.append(
            F.when(dot(vec, lit_p) >= 0,
                   F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def lsh_index(
    embeddings: DataFrame,
    bits: int = 8,
    dim: int | None = None,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Attach the LSH bucket column. At scale, write this out
    partitioned/bucketed by `bucket` so queries prune partitions.

    ``dim`` is required: plan construction runs no hidden driver
    action. Use :func:`infer_dim` once and thread the value."""
    if dim is None:
        raise ValueError(
            "lsh_index requires dim (vector length); call "
            "infer_dim(embeddings) once and pass it through"
        )
    planes = _planes(dim, bits, seed)
    return embeddings.withColumn("bucket", lsh_bucket(F.col(vec_col), planes))


def lsh_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int = 10,
    bits: int = 8,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: score only vectors whose bucket is within
    probe_hamming bits of the query's bucket (multi-probe LSH). With a
    bucket-partitioned table this becomes a partition-pruned scan."""
    dim = len(query)
    planes = _planes(dim, bits, seed)
    qv = np.asarray(query, dtype=np.float64)
    qbucket = 0
    for i, p in enumerate(planes):
        if float(np.dot(qv, p)) >= 0:
            qbucket |= 1 << i
    probes = [qbucket]
    if probe_hamming >= 1:
        probes += [qbucket ^ (1 << i) for i in range(bits)]
    indexed = lsh_index(embeddings, bits=bits, dim=dim, vec_col=vec_col, seed=seed)
    q = F.array(*[F.lit(float(v)) for v in query])
    # query norm folded driver-side (cosine(v, q) would re-run the
    # interpreted norm(q) fold on EVERY scanned row — a third of the
    # per-row work for a constant). math.sqrt over the 0.0-seeded
    # left-to-right sum replays norm()'s own accumulation order, so
    # the double — and the output — is bit-identical (NOT
    # np.linalg.norm, whose BLAS nrm2 scales to avoid overflow and can
    # differ in the last ulp).
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    return (
        indexed.filter(F.col("bucket").isin(probes))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), q) / (norm(F.col(vec_col)) * F.lit(qn)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def _collect_train_matrix(
    train: DataFrame, id_col: str, vec_col: str, op: str,
    known_count: int | None = None,
) -> np.ndarray:
    """Collect a BOUNDED KMeans training sample to the driver as a
    float64 matrix, sorted by id so the init is independent of the
    on-disk layout (collect() order follows partition/file layout).

    The collect is driver-side by design — quantizer quality saturates
    at small sample sizes, so the sample is bounded by contract. An
    unbounded call (huge sample_fraction, train_cap=None on a huge
    corpus) must fail LOUDLY before the collect, not OOM the driver:
    the guard checks the sample size against
    ``CSP_SPARK_TRAIN_COLLECT_MAX_ELEMENTS`` (rows x dim doubles; read
    at call time; default 64M ≈ 0.5 GB matrix). ``known_count`` is any
    UPPER BOUND on the sample's row count the caller already holds
    (e.g. the corpus count from the train_cap branch) — passing it
    skips the guard's own count() aggregate, so a fit that already
    counted never counts twice."""
    n = train.count() if known_count is None else known_count
    if n:
        dim = infer_dim(train, vec_col)
        max_el = int(os.environ.get(
            "CSP_SPARK_TRAIN_COLLECT_MAX_ELEMENTS", str(64 * 1024 * 1024)
        ))
        if n * dim > max_el:
            raise ValueError(
                f"{op}: training sample is {n} rows x {dim} dims = "
                f"{n * dim} doubles, past the driver-collect guard "
                f"({max_el}). Lower train_cap/sample_fraction — "
                "quantizer quality saturates long before this — or "
                "raise CSP_SPARK_TRAIN_COLLECT_MAX_ELEMENTS."
            )
    return np.array(
        [
            list(r[1])
            for r in sorted(
                train.select(id_col, vec_col).collect(), key=lambda r: r[0]
            )
        ],
        dtype=np.float64,
    )


def _sample_bound(n_total: int | None, train_cap: int | None) -> int | None:
    """Upper bound on the md5-sampled training rows for the
    driver-collect guard: the corpus count when no downsampling
    happened, else train_cap plus six binomial standard deviations
    (the sample is ~Binomial(n_total, cap/n_total); P(exceed) < 1e-9).
    Passing the raw corpus count would make the guard reject exactly
    the large corpora the sampling exists for."""
    if n_total is None:
        return None
    if train_cap is None or n_total <= train_cap:
        return n_total
    import math

    return min(n_total, int(train_cap + 6 * math.sqrt(train_cap)) + 10)


def _lloyd_iterate(X: np.ndarray, C: np.ndarray, max_iter: int) -> np.ndarray:
    """Lloyd's iterations from a given init, in-place on ``C``:
    ||x-c||^2 via the matmul form — O(n*k) memory, BLAS speed; an
    empty cluster keeps its old center (deterministic)."""
    x2 = (X ** 2).sum(axis=1)[:, None]
    for _ in range(max_iter):
        d2 = x2 - 2.0 * (X @ C.T) + (C ** 2).sum(axis=1)[None, :]
        a = d2.argmin(axis=1)
        for c in range(len(C)):
            pts = X[a == c]
            if len(pts):
                C[c] = pts.mean(axis=0)
    return C


def ivf_index(
    embeddings: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    train_cap: int | None = 100_000,
):
    """IVF coarse quantizer: KMeans (kmeans++ init + Lloyd's, driver-side
    numpy over the bounded sample) assigns every vector a cell id.
    At scale, train on a sample and write the indexed table partitioned
    by `cell` so queries prune partitions — the classic IVF-flat layout.

    Training never scans the full corpus by default: `train_cap` bounds
    the KMeans input to ~train_cap rows drawn by the DETERMINISTIC md5
    identity sample (pipeline/sampling.split_uniform) — uniform over the
    whole corpus regardless of file order. (A bare limit() would take
    the first partitions, i.e. whatever files sort first — a time- or
    source-skewed training set at 100 TB that degrades cell balance and
    recall.) The one count() it needs is a parquet-footer-cheap
    aggregate, and it is REUSED as the driver-collect guard's bound —
    the train_cap path never counts twice. `sample_fraction` samples
    directly (its guard count is the sample's, inside
    :func:`_collect_train_matrix`); pass both None to train on
    everything. Quantizer quality saturates
    long before 100k vectors; assignment still covers every row.

    The fit itself is the pq_index discipline (r9, replacing an MLlib
    KMeans fit measured at 5.3 s cold / 2.5 s warm at sf0.1): the
    sample is bounded by contract, so it collects once — sorted by id
    to decouple the init from the on-disk layout — and Lloyd's runs on
    the driver in numpy in well under a second. Assignment rides
    :func:`ivf_assign` (one Arrow matmul per batch against the frozen
    centers, zero shuffle), so index build and incremental append are
    the SAME code path and agree bit-for-bit by construction.
    Returns (indexed DataFrame with `cell`, centers ndarray
    [n_cells, dim]). When the training sample holds fewer DISTINCT
    vectors than n_cells (a dedup-heavy corpus), centers is TRUNCATED
    to that distinct count (with a warning) rather than padded with
    duplicate dead cells — consumers sizing sidecars or n_probe clamps
    must read centers.shape[0], not assume n_cells."""
    from ..pipeline.sampling import split_uniform

    if n_cells < 1:
        raise ValueError(f"ivf_index: n_cells must be >= 1, got {n_cells}")
    feat = embeddings
    n_total = None
    if sample_fraction is not None:
        train = feat.filter(
            split_uniform(F.col(id_col), seed) < F.lit(sample_fraction)
        )
    elif train_cap is not None:
        n_total = feat.count()
        if n_total > train_cap:
            # ~train_cap expected rows (binomial, ±sqrt(cap)); no
            # residual limit() — that would re-introduce first-partition
            # bias on the tail of the sample
            frac = min(1.0, train_cap / n_total)
            train = feat.filter(
                split_uniform(F.col(id_col), seed) < F.lit(frac)
            )
        else:
            train = feat
    else:
        train = feat
    X = _collect_train_matrix(
        train, id_col, vec_col, "ivf_index",
        known_count=_sample_bound(n_total, train_cap),
    )
    if len(X) < n_cells:
        raise ValueError(
            f"ivf_index: training sample ({len(X)}) smaller than "
            f"n_cells ({n_cells})"
        )
    rng = np.random.RandomState(seed)
    x2 = (X ** 2).sum(axis=1)
    # kmeans++ init (Arthur & Vassilvitskii, SODA'07 — the init MLlib's
    # kmeans|| approximates): D²-weighted seeding keeps quantizer
    # quality at MLlib levels on small training samples, where a plain
    # uniform draw measurably degrades probe recall
    i0 = rng.randint(len(X))
    centers = [X[i0]]
    d2min = x2 - 2.0 * (X @ centers[0]) + (centers[0] ** 2).sum()
    # The matmul form leaves a ~1e-16 residual at the picked point
    # itself; pin it to exactly 0 so rng.choice can never re-select an
    # already-chosen center (a duplicate that Lloyd's empty-cluster
    # rule would then preserve forever — a dead cell).
    d2min[i0] = 0.0
    while len(centers) < n_cells:
        p = np.maximum(d2min, 0.0)
        tot = p.sum()
        if tot <= 0:
            # fewer DISTINCT vectors than n_cells (a dedup-heavy
            # sample): stop instead of seeding duplicate centers that
            # would stay empty forever and waste probe budget
            logger.warning(
                "ivf_index: sample has only %d distinct vector(s); "
                "quantizer truncated from n_cells=%d",
                len(centers), n_cells,
            )
            break
        i = rng.choice(len(X), p=p / tot)
        centers.append(X[i])
        d2min = np.minimum(
            d2min, x2 - 2.0 * (X @ centers[-1]) + (centers[-1] ** 2).sum()
        )
        d2min[i] = 0.0
    C = _lloyd_iterate(X, np.array(centers, dtype=np.float64), max_iter)
    indexed = ivf_assign(feat, C, vec_col=vec_col, out_col="cell")
    return indexed, C


def ivf_topk(
    embeddings: DataFrame,
    query: Sequence[float],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k via IVF: score only vectors in the n_probe cells whose
    centroids are nearest the query (centroid ranking is a driver-side
    numpy op over n_cells×dim — tiny). With a cell-partitioned table the
    filter becomes partition pruning; the scan touches ~n_probe/n_cells
    of the corpus."""
    import numpy as np

    indexed, centers = ivf_index(
        embeddings, n_cells=n_cells, id_col=id_col, vec_col=vec_col, seed=seed
    )
    q = np.asarray(query, dtype=np.float64)
    order = np.argsort(((centers - q) ** 2).sum(axis=1))
    probes = [int(c) for c in order[:n_probe]]
    qlit = F.array(*[F.lit(float(v)) for v in query])
    # constant query norm folded driver-side — bit-identical to the
    # per-row interpreted norm(qlit) fold (see lsh_topk)
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    return (
        indexed.filter(F.col("cell").isin(probes))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), qlit)
                / (norm(F.col(vec_col)) * F.lit(qn)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def ivf_assign(
    embeddings: DataFrame,
    centers,
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Assign vectors to an EXISTING coarse quantizer — the
    incremental-index path: daily increments of a 100 TB corpus are
    assigned against the frozen centroids (no re-train, no KMeans
    fit-job) and appended to the partitioned index, e.g.
    ``ivf_assign(new_batch, centers).write.mode("append")
    .partitionBy("cell").parquet(path)`` — the layout
    :func:`save_index` created and :func:`ivf_topk_indexed` prunes.

    One Arrow-batched matmul per batch (the same encode discipline as
    :func:`pq_index`): nearest centroid via the ``‖s‖²``-free form
    ``argmin_c(‖c‖² − 2·s·c)`` computed as ``cn² − 2·V@Cᵀ`` — the
    centers (n_cells×dim, tiny) travel in the closure, the corpus
    never shuffles, and the per-row cost is one BLAS row of a
    [batch, n_cells] matmul. (A pure-expression form — pq_encode_expr
    with one full-dim codebook — compiles past janino's 64 KB method
    cap only for small n_cells·dim; the matmul has no such cliff and
    matches it bit-for-bit on the argmin.)"""
    from pyspark.sql.types import IntegerType, StructField, StructType

    if out_col in embeddings.columns:
        raise ValueError(
            f"ivf_assign: input already has a column {out_col!r} — "
            "drop it (e.g. load_index(...)[0].drop('cell')) before "
            "re-assigning, or pass a different out_col"
        )
    C = np.asarray(centers, dtype=np.float64)
    cn2 = (C ** 2).sum(axis=1)
    cols = list(embeddings.columns)
    out_schema = StructType(
        list(embeddings.schema.fields) + [StructField(out_col, IntegerType())]
    )

    dim = C.shape[1]

    def _assign(batches):
        for pdf in batches:
            if pdf.empty:
                # a 0-row batch would make np.array a 1-D (0,) array
                # and the matmul raise on shape mismatch
                yield pdf.assign(
                    **{out_col: np.empty(0, dtype=np.int32)}
                )
                continue
            V = _vec_matrix(pdf[vec_col], dim, "ivf_assign", vec_col)
            d2 = cn2[None, :] - 2.0 * (V @ C.T)
            pdf = pdf.copy()
            pdf[out_col] = d2.argmin(axis=1).astype(np.int32)
            yield pdf

    return embeddings.select(*cols).mapInPandas(_assign, schema=out_schema)


def hard_negatives(
    embeddings: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    exclude_eps: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    cap: int = 20_000,
    on_over_cap: str = "raise",
    cell_assignment: DataFrame | None = None,
) -> DataFrame:
    """Per-anchor hard-negative mining for contrastive/embedding
    training: for every vector, the ``k`` most-cosine-similar OTHER
    vectors in its cell — the informative negatives (Robinson et al.
    2021, arXiv:2010.04592) — optionally excluding pairs at or above
    ``exclude_eps`` (semantic near-duplicates are false negatives;
    feed those to :func:`csp_spark.dedup.semdedup` instead).

    Scale shape: candidates are CELL-BOUNDED (the SemDeDup
    discipline — sum |cell|² not N², KMeans on the md5 identity
    sample), then one rank window partitioned by anchor. Ranking is
    on the 6dp-ROUNDED similarity with neg-id tiebreak, so an
    external engine replays the exact boundary (the doc_dsir
    discipline). ``n_clusters=1`` degenerates to the exact all-pairs
    top-k — the SQL-checkable oracle case.

    A cell past ``cap`` rows makes the in-cell self-join that cell's
    |cell|² bottleneck. Dedup's star-reroute is WRONG here — it
    preserves connectivity, not per-anchor top-k — so over-cap cells
    follow ``on_over_cap``: ``"raise"`` (default) fails with guidance
    (raise ``n_clusters`` so cells shrink, or raise ``cap``);
    ``"sample"`` scores every anchor against a deterministic
    md5-sampled ~``cap``-row candidate subset of its cell — per-anchor
    top-k OF THE SAMPLE, an unbiased approximation that keeps every
    anchor served (under-cap cells stay exact).

    ``cell_assignment`` — an (id_col, cell) frame, e.g. the table
    :func:`save_index` persisted or :func:`ivf_assign` extended —
    skips the internal KMeans entirely: mine negatives against a
    FROZEN index (the incremental pipeline's shape, and the
    replayable-oracle shape: the assignment is data another engine
    can read). ``n_clusters`` is ignored when given.

    Returns (anchor, negative, cos_sim, rank), rank 1-based."""
    from pyspark.sql import Window

    from ..pipeline.sampling import split_uniform

    if on_over_cap not in ("raise", "sample"):
        raise ValueError("on_over_cap must be 'raise' or 'sample'")
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if cell_assignment is not None:
        # LEFT join + in-expression raise (the demultiplex pattern):
        # an anchor missing from the frozen assignment must fail
        # loudly, not silently mine zero negatives — new vectors go
        # through ivf_assign first.
        cells = base.join(
            cell_assignment.select(
                F.col(id_col).alias("id"), F.col("cell").cast("int")
            ),
            "id", "left",
        ).withColumn(
            "cell",
            F.when(
                F.col("cell").isNull(),
                F.raise_error(F.concat(
                    F.lit("hard_negatives: id "),
                    F.col("id").cast("string"),
                    F.lit(" has no row in cell_assignment — assign new "
                          "vectors with ivf_assign first, or filter "
                          "them out of the anchor set"),
                )).cast("int"),
            ).otherwise(F.col("cell")),
        )
    elif n_clusters <= 1:
        # the exact-all-pairs contract of this mode must never be
        # capped: raise the cap to the corpus size (one cheap count —
        # this is the oracle/small-corpus form)
        cap = max(cap, base.count())
        cells = base.withColumn("cell", F.lit(0))
    else:
        cells, _ = ivf_index(
            base, n_cells=n_clusters, id_col="id", vec_col="v", seed=seed
        )
    sizes = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("__n"))
    over = sizes.filter(F.col("__n") > cap).collect()
    if over and on_over_cap == "raise":
        worst = max(r["__n"] for r in over)
        raise RuntimeError(
            f"hard_negatives: {len(over)} cell(s) exceed cap={cap} "
            f"(largest={worst}) — the in-cell candidate scoring would "
            "be that cell's |cell|^2. Raise n_clusters (smaller "
            "cells), raise cap, or pass on_over_cap='sample' to rank "
            "each anchor against a deterministic md5 sample of its "
            "cell."
        )
    if over:
        logger.warning(
            "hard_negatives: %d cell(s) over cap=%d (largest=%d) — "
            "anchors there rank against an md5-sampled ~cap-row "
            "candidate subset (top-k of the sample)",
            len(over), cap, max(r["__n"] for r in over),
        )
    # Candidate selection is one per-cell _margin_select pass (top-k
    # per anchor over the pairs strictly below exclude_eps); only its
    # <= |anchors| x (k + boundary ties) survivors pay the exact JVM
    # re-score, so every returned double is the all-pairs form's.
    # The md5 candidate draw for over-cap cells is computed JVM-side
    # (split_uniform with seed+1) and shipped as a boolean column.
    if over:
        over_ids = [r["cell"] for r in over]
        frac_map = F.create_map(*[
            F.lit(x)
            for r in over
            for x in (r["cell"], float(cap) / float(r["__n"]))
        ])
        cand_flag = F.when(
            F.col("cell").isin(over_ids),
            split_uniform(F.col("id"), seed + 1)
            < F.element_at(frac_map, F.col("cell")),
        ).otherwise(F.lit(True))
    else:
        cand_flag = F.lit(True)

    from pyspark.sql.types import StructField, StructType

    id_type = cells.schema["id"].dataType
    pair_schema = StructType([
        StructField("anchor", id_type), StructField("negative", id_type)
    ])
    eps_f = float(exclude_eps) if exclude_eps is not None else None

    def _select_pairs(pdf):
        import pandas as pd

        ids = pdf["id"].to_numpy()
        V, vnull = _side_matrix(pdf["v"], "hard_negatives", vec_col)
        c = pdf["__cand"].to_numpy(dtype=bool)
        chunks = list(_margin_select(
            V, vnull, ids, [(V[c], vnull[c], ids[c])], rounded=True,
            k=int(k), below=eps_f, pairs="ne",
        ))
        # one row per id pair: the re-score joins every row of a
        # duplicated id back
        return pd.DataFrame({
            "anchor": np.concatenate([ids[:0]] + [ids[ia] for ia, *_ in chunks]),
            "negative": np.concatenate([ids[:0]] + [nb for _, _, nb in chunks]),
        }).drop_duplicates()

    pair_keys = (
        cells.select("cell", "id", "v", cand_flag.alias("__cand"))
        .groupBy("cell")
        .applyInPandas(lambda _, pdf: _select_pairs(pdf),
                       schema=pair_schema)
    )
    side = cells.select("id", "v", norm(F.col("v")).alias("n"))
    directed = _rescore(pair_keys, "anchor", "negative", side, side).select(
        "anchor", "negative", "cos_sim"
    )
    if exclude_eps is not None:
        directed = directed.filter(F.col("cos_sim") < F.lit(eps_f))
    w = Window.partitionBy("anchor").orderBy(
        F.desc("cos_sim"), F.col("negative")
    )
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )


def save_index(
    indexed: DataFrame,
    path: str,
    partition_col: str = "cell",
    centers=None,
) -> None:
    """Persist an ANN index table PARTITIONED by its bucket/cell column
    — the on-disk form of the 100 TB contract: a probe filter on the
    partition column becomes directory-level partition PRUNING, so a
    query reads ~n_probe/n_cells of the corpus and never opens the
    rest (verify with .explain: PartitionFilters on the scan).
    Centroids (tiny) ride along as one JSON sidecar so queries need no
    re-training."""
    indexed.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    if centers is not None:
        import json
        import os

        import numpy as np

        payload = json.dumps(np.asarray(centers).tolist())
        with open(os.path.join(path, "_centers.json"), "w") as f:
            f.write(payload)


def load_index(spark, path: str):
    """Read back a saved index → (DataFrame, centers ndarray | None).
    The partition column comes from the directory layout, so probe
    filters prune at the file listing."""
    import json
    import os

    import numpy as np

    df = read_table(spark, path)
    centers = None
    sidecar = os.path.join(path, "_centers.json")
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            centers = np.asarray(json.load(f))
    return df, centers


def ivf_topk_indexed(
    index_df: DataFrame,
    centers,
    query: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over a PRE-BUILT (typically disk-partitioned) index:
    no training pass, no assignment — rank centroids driver-side
    (n_cells×dim numpy, tiny), filter to the n_probe nearest cells
    (partition pruning on a saved index), score only those vectors."""
    import numpy as np

    q = np.asarray(query, dtype=np.float64)
    order = np.argsort(((np.asarray(centers) - q) ** 2).sum(axis=1))
    probes = [int(c) for c in order[:n_probe]]
    qlit = F.array(*[F.lit(float(v)) for v in query])
    # constant query norm folded driver-side — bit-identical to the
    # per-row interpreted norm(qlit) fold (see lsh_topk)
    qn = math.sqrt(sum(float(v) * float(v) for v in query))
    return (
        index_df.filter(F.col("cell").isin(probes))
        .select(
            F.col(id_col),
            F.round(
                dot(F.col(vec_col), qlit)
                / (norm(F.col(vec_col)) * F.lit(qn)),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.col(id_col))
        .limit(k)
    )


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold): bucket by LSH,
    pair only within buckets (plus 1-bit neighbors via multi-bucket
    explode), verify exactly. The standard embedding-dedup sweep.

    Scale shape: the probe explode carries ONLY (id, bucket) — 16
    bytes/row × (bits+1) — never the vector payload; candidate docs (an
    LSH-selected sliver) get their vectors back via a broadcast
    semi-join, so shuffled bytes are independent of bits × vector
    size. Same pattern as minhash_lsh_pairs' Jaccard verification.

    ``dim`` is required (see :func:`infer_dim`) — no hidden driver
    action infers it.

    The result is checkpointed (``localCheckpoint``), not cached:
    nothing stays in Spark's cache, and callers do nothing to release it."""
    if dim is None:
        raise ValueError(
            "embedding_near_dups requires dim (vector length); call "
            "infer_dim(embeddings) once and pass it through"
        )
    planes = _planes(dim, bits, seed)
    base = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    bucket = lsh_bucket(F.col("v"), planes)
    # explode each id into its own bucket + hamming-1 neighborhood →
    # any pair with bucket distance ≤1 shares at least one probe bucket
    probe_arr = F.array(
        bucket, *[bucket.bitwiseXOR(F.shiftleft(F.lit(1).cast("long"), i)) for i in range(bits)]
    )
    exploded = base.select("id", F.explode(probe_arr).alias("bucket"))
    cand = (
        exploded.alias("a")
        .join(
            exploded.alias("b"),
            on=[
                F.col("a.bucket") == F.col("b.bucket"),
                F.col("a.id") < F.col("b.id"),
            ],
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # The pair list feeds the id-set broadcast AND the verify joins;
    # checkpoint it so the bucket self-join isn't recomputed per use. A
    # few MB by construction (pairs, no payload).
    cand = _materialize(cand, "embedding_near_dups: candidate pairs")
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias("id")).distinct()
    vecs = base.join(F.broadcast(cand_ids), "id", "left_semi")
    out = (
        cand.join(vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .withColumn("cos_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
    return _materialize(out, "embedding_near_dups: verified pairs")


def cosine_pairs_above(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT all-pairs cosine pairs: every (id_a < id_b) pair with
    ``round(cosine, 6) >= threshold`` — the brute-force ground-truth
    counterpart to :func:`embedding_near_dups` (which buckets by LSH
    and only verifies within buckets).

    Scale shape: the vector table is collected and broadcast once
    (ids + float64 vectors, like the BroadcastNestedLoopJoin this
    form replaces — inherent to exact all-pairs; at corpus scale use
    :func:`embedding_near_dups`). Each corpus partition then runs the
    threshold mode of :func:`_margin_select` against it, and only the
    margin survivors are re-scored by :func:`_rescore` with the same
    ``round(cosine(va, vb), 6)`` and ``id_a < id_b`` comparison, so
    every returned row and double is bit-identical to the all-pairs
    join. NULL vectors or elements score NULL and drop out; NaN
    elements score NaN, which passes the threshold as in Spark.

    The driver collect is GUARDED: it streams partition by partition
    and, past ``CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS`` (rows x dim
    doubles, default 64M ≈ 0.5 GB), raises instead of OOMing the
    driver, never holding more than one partition past that budget.
    A NULL id pairs with nothing. The source must be stable
    between the collect and the candidate scan (both evaluate it).
    Vectors must share one fixed dimension: ragged lengths raise
    loudly. Duplicate ids are supported: the re-score joins every
    row back, reproducing the join's multiplicity.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    id_type = base.schema["id"].dataType
    _, bm = _broadcast_side(
        base, "cosine_pairs_above",
        "This is the brute-force exact all-pairs form — at corpus scale "
        "use embedding_near_dups (LSH-bucketed) instead.",
    )
    if bm is None:
        return embeddings.sparkSession.createDataFrame([], StructType([
            StructField("id_a", id_type),
            StructField("id_b", id_type),
            StructField("cos_sim", DoubleType()),
        ]))
    thr = float(threshold)

    def _select_pairs(batches):
        import pandas as pd

        bids, bM, bnull = bm.value
        for pdf in batches:
            if pdf.empty:
                continue
            V, vnull = _side_matrix(pdf["v"], "cosine_pairs_above", vec_col,
                                    bM.shape[1])
            vids = pdf["id"].to_numpy()
            for ia, _, jid in _margin_select(
                V, vnull, vids, [(bM, bnull, bids)], rounded=True,
                threshold=thr, pairs="lt",
            ):
                yield pd.DataFrame({"id_a": vids[ia], "id_b": jid})

    cand = (
        base.mapInPandas(_select_pairs, schema=StructType([
            StructField("id_a", id_type), StructField("id_b", id_type),
        ]))
        # one candidate per id PAIR; dup-id multiplicity is reinstated
        # by the row-level join-back of the re-score
        .dropDuplicates(["id_a", "id_b"])
    )
    side = F.broadcast(base)
    return (
        _rescore(cand, "id_a", "id_b", side, side)
        .filter(F.col("cos_sim") >= F.lit(thr))
        .select("id_a", "id_b", "cos_sim")
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "qid",
    corpus_id: str = "cid",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    exclude_self: bool = True,
    method: str = "exact",
) -> DataFrame:
    """Exact k-nearest-neighbors JOIN: for EVERY query row, the top-k
    corpus rows by cosine — the batch shape a training pipeline needs
    (ann retrieval for eval sets, hard-negative mining), vs
    cosine_topk's single literal query.

    100 TB plan: broadcast the (small) query side → the |C|x|Q| score
    computation is map-side over the corpus scan with ZERO shuffle of
    corpus vectors. The only shuffled rows are per-partition top-k
    survivors (<= partitions x |Q| x k, independent of corpus size),
    selected map-side BEFORE the global per-query window. Never
    broadcast a large query side — flip the arguments and transpose
    the result instead. The query collect is guarded like
    :func:`cosine_pairs_above`'s (``CSP_SPARK_PAIRS_COLLECT_MAX_ELEMENTS``).

    One scoring path: each corpus partition runs the top-k mode of
    :func:`_margin_select` against the broadcast query matrix (C-BLAS,
    ~10-50x an interpreted zip_with/aggregate scorer's throughput),
    and the survivors are re-scored by :func:`_rescore` with
    JVM-side sequential sums, so the returned doubles are
    bit-identical to the all-pairs interpreted scorer and the DuckDB
    oracle replays them. Ties rank by corpus id; NaN scores rank
    first and NULL scores (NULL vectors, zero norms) last, as in a
    Spark descending sort. ``method`` accepts ``"exact"`` (default)
    and ``"blas"``, kept for call-site compatibility — both name this
    path; anything else raises ``ValueError``. (An unrolled codegen
    sum was measured and rejected twice: 64-dim element_at chains
    exceed Janino's 64KB method limit and the compile latency exceeds
    the interpreted win.)
    """
    from pyspark.sql import Window
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import (
        ArrayType, DoubleType, LongType, StructField, StructType,
    )

    if method not in ("exact", "blas"):
        raise ValueError(
            f"knn_join: method must be 'exact' or 'blas', got {method!r}"
        )
    q = queries.select(
        F.col(query_id).alias("id"),
        F.col(query_vec).cast("array<double>").alias("v"),
    )
    qrows, bq = _broadcast_side(
        q, "knn_join",
        "knn_join broadcasts its query side — pass the smaller side as "
        "queries (flip the arguments and transpose the result).",
    )
    if bq is None:
        from pyspark.sql.types import IntegerType

        return corpus.sparkSession.createDataFrame([], StructType([
            StructField(query_id, q.schema["id"].dataType),
            StructField(corpus_id, corpus.schema[corpus_id].dataType),
            StructField("rank", IntegerType(), False),
            StructField("cos_sim", DoubleType()),
        ]))
    kk = int(k)
    cid_type = to_arrow_type(corpus.schema[corpus_id].dataType)

    def _select_topk(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        bqids, bQ, bqnull = bq.value

        def blocks():
            for b in batches:
                if b.num_rows:
                    # NULL ids stay None: a float64 cast would lose them
                    # (and ids past 2^53)
                    pdf = b.to_pandas(integer_object_nulls=True)
                    vals = pdf["__va"].to_numpy()
                    flat = b.column("__va").flatten()
                    if flat.null_count:
                        # a NULL element reaches pandas as NaN; the JVM
                        # scores its vector NULL, so re-score it as one
                        holes = pc.list_parent_indices(b.column("__va"))
                        vals = vals.copy()
                        vals[np.asarray(holes)[np.asarray(flat.is_null())]] = None
                    yield (*_side_matrix(pdf["__va"], "knn_join", corpus_vec,
                                         bQ.shape[1]),
                           pdf["__cid"].to_numpy(), vals)

        for ia, _, cids, cvs in _margin_select(
            bQ, bqnull, bqids, blocks(), rounded=True, k=kk,
            pairs="ne" if exclude_self else None,
        ):
            # built in Arrow, not pandas: pandas -> Arrow would turn the
            # NaN elements the re-score must see into NULLs
            yield pa.RecordBatch.from_arrays([
                pa.array(ia, pa.int64()),
                pa.array(cids, cid_type, from_pandas=True),
                pa.array(list(cvs), pa.list_(pa.float64()), from_pandas=False),
            ], names=["__qrow", "__cid", "__va"])

    cand = corpus.select(
        F.col(corpus_id).alias("__cid"),
        F.col(corpus_vec).cast("array<double>").alias("__va"),
    ).mapInArrow(_select_topk, schema=StructType([
        StructField("__qrow", LongType()),
        StructField("__cid", corpus.schema[corpus_id].dataType),
        StructField("__va", ArrayType(DoubleType())),
    ]))
    # the query side of the re-score is rebuilt from the rows already
    # collected for the broadcast — no second scan of its source — and
    # joined back on the query's ROW, so duplicate query ids stay apart
    qside = corpus.sparkSession.createDataFrame(
        [(i, r["id"], r["v"]) for i, r in enumerate(qrows)],
        schema=StructType([
            StructField("id", LongType()),
            StructField("__qid", q.schema["id"].dataType),
            StructField("v", ArrayType(DoubleType())),
        ]),
    ).withColumn("n", norm(F.col("v")))
    scored = _rescore(cand, "__cid", "__qrow", side_b=F.broadcast(qside))
    final = Window.partitionBy("__qid_b").orderBy(
        F.desc("cos_sim"), F.col("__cid"))
    return (
        scored.withColumn("rank", F.row_number().over(final))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__qid_b").alias(query_id),
            F.col("__cid").alias(corpus_id),
            "rank",
            "cos_sim",
        )
    )


def pq_index(
    embeddings: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
    train_cap: int | None = 100_000,
):
    """Product quantization (Jégou/Douze/Schmid, TPAMI'11 — the
    billion-scale ANN compression standard, the "PQ" of FAISS IVF-PQ):
    split the vector into ``m`` contiguous subspaces, learn an
    ``n_codes``-entry KMeans codebook per subspace, and encode every
    vector as ``m`` small integer codes — dim×4 bytes shrink to m bytes
    (e.g. 64-dim float → 4 codes = 16x), so a 100 TB embedding corpus
    scans as a few TB of codes with the original vectors left cold on
    disk.

    Training draws the same DETERMINISTIC md5 identity sample as
    ivf_index (no first-partition bias) and — because the sample is
    bounded by contract (``train_cap``, the train_bpe discipline) —
    collects it once and runs all m Lloyd's KMeans on the driver in
    numpy: one pass over a few-MB matrix replaces m sequential
    distributed fits (measured 17.8s → well under 1s at m=8). The m
    codebooks (m × n_codes × dim/m floats) travel in the encode
    closure, never a shuffle. Encoding IS corpus-sized and runs
    distributed: ONE Arrow pass computes all m argmin codes per
    vector with two small matmuls per batch.

    Returns (encoded DataFrame: original columns + ``codes``
    array<int> of length m, codebooks ndarray [m, n_codes, dim//m]).
    """
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    from ..pipeline.sampling import split_uniform

    dim = infer_dim(embeddings, vec_col)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m

    feat = embeddings
    train = feat
    n_total = None
    if train_cap is not None:
        n_total = feat.count()
        if n_total > train_cap:
            frac = train_cap / n_total
            train = feat.filter(
                split_uniform(F.col(id_col), seed) < F.lit(frac)
            )
    X = _collect_train_matrix(
        train, id_col, vec_col, "pq_index",
        known_count=_sample_bound(n_total, train_cap),
    )
    if len(X) < n_codes:
        raise ValueError(
            f"training sample ({len(X)}) smaller than n_codes ({n_codes})"
        )

    def lloyd(S: np.ndarray, rng: np.random.RandomState) -> np.ndarray:
        # uniform-choice init (ivf_index uses kmeans++; subspace
        # codebooks are small and restart-cheap), shared iterations
        return _lloyd_iterate(
            S, S[rng.choice(len(S), n_codes, replace=False)].copy(),
            max_iter,
        )

    books = np.stack([
        lloyd(
            X[:, j * dsub:(j + 1) * dsub],
            np.random.RandomState(seed + j),
        )
        for j in range(m)
    ])

    out_schema = StructType(
        list(embeddings.schema.fields)
        + [StructField("codes", ArrayType(IntegerType()))]
    )
    cols = list(embeddings.columns)

    def _encode(batches):
        # flat [m*n_codes, dsub] center matrix: squared distance per
        # subspace via ||s||^2 - 2 s·c + ||c||^2, argmin per block
        flat = books.reshape(m * n_codes, dsub)
        cn2 = (flat ** 2).sum(axis=1)
        for pdf in batches:
            if pdf.empty:  # (0,) array would break the matmul
                yield pdf.assign(codes=np.empty(0, dtype=object))
                continue
            V = _vec_matrix(pdf[vec_col], m * dsub, "pq_index", vec_col)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * dsub:(j + 1) * dsub]
                blk = slice(j * n_codes, (j + 1) * n_codes)
                d2 = cn2[blk][None, :] - 2.0 * (S @ flat[blk].T)
                codes[:, j] = d2.argmin(axis=1)
            pdf = pdf.copy()
            pdf["codes"] = list(codes)
            yield pdf

    encoded = feat.select(*cols).mapInPandas(_encode, schema=out_schema)
    return encoded, books


def pq_topk(
    encoded: DataFrame,
    codebooks,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k by asymmetric distance computation (ADC) over PQ
    codes: the query stays exact; each corpus vector's inner product
    and squared norm are looked up from per-subspace tables computed
    ONCE on the driver (m × n_codes dot products — microseconds) and
    embedded as array literals. Scoring a row is then m integer
    indexes + adds — pure codegen arithmetic over the m-byte codes,
    never touching the original vectors; top-k is
    TakeOrderedAndProject (no sort shuffle).

    cos ≈ Σ_j <q_j, c_j[code_j]>  /  (‖q‖ · sqrt(Σ_j ‖c_j[code_j]‖²))
    — exact when vectors equal their reconstructions (lossless
    codebooks), approximate otherwise; recall is the unit-test
    contract, matching the ivf_topk discipline.

    Output: (id_col, pq_sim) — approximate cosine, 6dp.
    """
    q = np.asarray(query, dtype=np.float64)
    m, n_codes, dsub = codebooks.shape
    ip_lut = np.stack([
        codebooks[j] @ q[j * dsub:(j + 1) * dsub] for j in range(m)
    ])  # [m, n_codes] partial inner products
    sq_lut = (codebooks ** 2).sum(axis=2)  # [m, n_codes] partial ||x||^2
    qn = float(np.linalg.norm(q))

    def lut_col(lut_row) -> "list[Column]":
        return [F.lit(float(v)) for v in lut_row]

    ip = None
    sq = None
    for j in range(m):
        code = F.element_at(F.col("codes"), j + 1) + 1
        ip_j = F.element_at(F.array(*lut_col(ip_lut[j])), code)
        sq_j = F.element_at(F.array(*lut_col(sq_lut[j])), code)
        ip = ip_j if ip is None else ip + ip_j
        sq = sq_j if sq is None else sq + sq_j
    sim = ip / (F.lit(qn) * F.sqrt(sq))
    return (
        encoded.select(F.col(id_col), F.round(sim, 6).alias("pq_sim"))
        .orderBy(F.desc("pq_sim"), F.col(id_col))
        .limit(k)
    )


def hash_codebooks(
    m: int, n_codes: int, dsub: int, seed: int = 42
) -> np.ndarray:
    """Deterministic seeded PQ codebooks — standard-normal centers from
    a fixed RNG stream, NO training pass. Two uses: (a) a random
    quantizer baseline (random codebooks are the classic PQ ablation
    control), and (b) a cross-engine-replayable quantizer — every
    center is a plain float64 the same call regenerates anywhere, so an
    external engine (the DuckDB oracle) can replay encode + ADC
    bit-for-bit, which a data-trained KMeans codebook cannot."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((m, n_codes, dsub))


def pq_encode_expr(
    embeddings: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """PQ encode with GIVEN codebooks as pure JVM expressions — zero
    Python in the scan: per subspace j the squared-distance argmin
    over the n_codes centers is an expression array (the ||s||²-free
    form ``cn² - 2·s·c``, same as pq_index's Arrow encode) and the
    code is ``array_position(arr, array_min(arr)) - 1``. All products
    and sums are emitted LEFT-ASSOCIATIVE so an engine replaying the
    same expression text (e.g. a SQL oracle) reproduces every IEEE
    rounding step bit-for-bit.

    Whole-stage-codegen encode is the 100 TB fast path when the
    codebooks are already known (hash_codebooks, or a trained book
    reused across daily increments); pq_index's Arrow pass is for
    training+encode in one shot. Expression size is m × n_codes × dsub
    multiply-adds — keep m·n_codes·dsub ≲ 10⁴ (codegen limit).
    """
    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = books.shape

    # ONE SQL-text expression parsed in a single JVM call: building the
    # same tree from Column objects costs a py4j round trip per node
    # (~10 s of pure driver time at m·n_codes·dsub = 1024), while the
    # parsed text is milliseconds. The 'D' suffix makes every literal a
    # DOUBLE parsed via Double.parseDouble — bit-identical to the
    # Python float the oracle generator embeds.
    def lit(x) -> str:
        return f"{float(x)!r}D"

    code_texts = []
    for j in range(m):
        d2s = []
        for c in range(n_codes):
            center = books[j, c]
            cn2 = float((center ** 2).sum())
            dot = " + ".join(
                f"CAST(element_at({vec_col}, {j * dsub + i + 1}) AS DOUBLE)"
                f" * {lit(center[i])}"
                for i in range(dsub)
            )
            d2s.append(f"{lit(cn2)} - 2.0D * ({dot})")
        arr = "array(" + ", ".join(d2s) + ")"
        code_texts.append(
            f"CAST(array_position({arr}, array_min({arr})) - 1 AS INT)"
        )
    expr = "array(" + ", ".join(code_texts) + ")"
    return embeddings.withColumn(out_col, F.expr(expr))


def save_pq_index(encoded: DataFrame, codebooks, path: str) -> None:
    """Persist a PQ index: the (id, codes) table as parquet — m bytes
    of payload per vector, the compressed scan set — with the m
    codebooks in a JSON sidecar (same contract as save_index's
    centroid sidecar). Queries then run pq_topk over the codes table
    WITHOUT the original vectors or a re-encode: the 100 TB shape is
    a scan of ~m bytes/vector plus a driver-side lookup-table build."""
    import json
    import os

    encoded.write.mode("overwrite").parquet(path)
    with open(os.path.join(path, "_codebooks.json"), "w") as f:
        f.write(json.dumps(np.asarray(codebooks).tolist()))


def load_pq_index(spark, path: str):
    """Read back a saved PQ index → (codes DataFrame, codebooks
    ndarray [m, n_codes, dsub])."""
    import json
    import os

    df = read_table(spark, path)
    with open(os.path.join(path, "_codebooks.json")) as f:
        books = np.asarray(json.load(f))
    return df, books

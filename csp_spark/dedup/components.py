"""Connected components over near-duplicate pair graphs.

The dedup pipelines (exact/minhash/simhash/embedding, see dedup.py)
emit PAIRS; an actual corpus clean needs CLUSTERS — transitively
closed groups where a chain a~b~c collapses to one canonical doc even
when a~c was never directly detected. This is the standard final stage
of a large-scale dedup pipeline (e.g. the MinHash dedup described in
"Deduplicating Training Data Makes Language Models Better",
Lee et al. 2022, and the MapReduce CC algorithms of Kiveris et al.
2014, "Connected Components in MapReduce and Beyond").

Spark-first design: an iterative contraction loop of pure DataFrame
ops (join + groupBy-min), driver-paced like plans/runtime.py
`feedback_iterate`. Each round:

  1. every component label adopts the min label in its neighborhood
     (one shuffle-on-key groupBy + one join), and
  2. the edge set is REWRITTEN onto the new labels and deduplicated,
     so resolved components drop out of the working set entirely.

The label mapping is pointer-jumped (composed with itself) inside
each round, so shortcut distance doubles per round and even
adversarial path graphs converge in O(log n) rounds — the same
asymptotics as the two-phase large-star/small-star of Kiveris et
al., with a simpler invariant (the mapping is monotone: every
composition step only decreases labels within a component). For
near-dup graphs (dense, small clusters: diameter 1-3) it's 2-3
rounds regardless of corpus size, and each round's shuffle is on the
CURRENT edge set, which after round 1 is proportional to the number
of unresolved clusters, not the corpus.

No driver-side state beyond the loop counter and one `count()` (the
convergence check) per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.session import _materialize


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 2_000_000,
) -> DataFrame:
    """(node, component) for every node appearing in `pairs`, where
    component is the MINIMUM node id reachable through the undirected
    pair graph — the conventional canonical representative.

    Size-based hybrid (the standard production shape, cf. GraphFrames'
    broadcast-threshold strategy): the distributed contraction loop
    exists for pair graphs too big for one machine, but after LSH the
    pair set is usually orders of magnitude smaller than the corpus —
    when the materialized edge count is ≤ ``local_threshold`` (~32 MB
    of id pairs at the default), ONE collect + path-compressed
    union-find replaces the whole multi-job loop with identical
    output (union-by-min preserves the min-label contract). Set
    ``local_threshold=0`` to force the distributed path.

    Reference parity: csp has no graph stage (it is a stream engine);
    this is part of the LLM-pipeline mandate, not a csp port.
    """
    sym_plan = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # ONE job decides the path AND feeds the local solver: collect up
    # to threshold+1 edges (<= ~32 MB of id pairs)
    head = sym_plan.limit(local_threshold + 1).collect()
    if len(head) <= local_threshold:
        return _local_components(
            head, sym_plan.schema, pairs.sparkSession
        )
    # pair graph too big for one machine: distributed contraction.
    # materialize ONCE: the pair source is often an expensive
    # pipeline (minhash LSH); without this every job in round 1
    # (neighbor-min, convergence probe, relabel) re-executes it
    sym = _materialize(sym_plan, "connected_components: symmetric edges")
    # labels over ORIGINAL nodes; cedges over current component labels.
    labels = sym.select(F.col("u").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    cedges = sym
    for _ in range(max_iter):
        # min label in each current component's neighborhood (self incl.)
        nmin = (
            cedges.groupBy("u")
            .agg(F.min("v").alias("nv"))
            .select(F.col("u").alias("c"), F.least("u", "nv").alias("newc"))
        )
        # pointer-jump the mapping (newc := m[newc] where defined),
        # twice: each application doubles the shortcut distance, so
        # even path graphs collapse in O(log n) rounds — plain
        # neighbor-min alone shortens a chain by ~1 hop per round
        m = nmin
        for _j in range(2):
            hop = m.select(F.col("c").alias("c2"), F.col("newc").alias("n2"))
            m = (
                m.join(hop, m.newc == hop.c2, "left")
                .select("c", F.coalesce("n2", "newc").alias("newc"))
            )
        moved = m.filter(F.col("c") != F.col("newc"))
        if moved.isEmpty():
            break
        # re-point original nodes whose component label moved
        labels = (
            labels.join(moved, labels.component == moved.c, "left")
            .select("id", F.coalesce("newc", "component").alias("component"))
        )
        # contract the edge graph onto the new labels; resolved
        # components become self-loops and drop out
        cedges = (
            cedges.join(m.withColumnRenamed("c", "u"), "u")
            .select(F.col("newc").alias("u"), "v")
            .join(
                m.withColumnRenamed("c", "v").withColumnRenamed("newc", "newv"),
                "v",
            )
            .select("u", F.col("newv").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # materialize the (shrinking) frontier so each round's lineage
        # stays flat — without this the plan doubles every iteration
        cedges = _materialize(cedges, "connected_components: round edges")
        labels = _materialize(labels, "connected_components: round labels")
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels


def _local_components(edges, sym_schema, spark) -> DataFrame:
    """Driver-side union-find over a small (already-collected) edge
    row list. Union-by-min + path compression: the root of every set
    is its minimum id, so labels equal the distributed loop's
    bit-for-bit."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in edges:
        u, v = row["u"], row["v"]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        if ru < rv:
            parent[rv] = ru
        else:
            parent[ru] = rv

    out_schema = T.StructType([
        T.StructField("id", sym_schema["u"].dataType),
        T.StructField("component", sym_schema["u"].dataType),
    ])
    rows = [(n, find(n)) for n in parent]
    return spark.createDataFrame(rows, out_schema)


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Corpus-clean view: every doc annotated with its dup component
    and whether it is the canonical survivor (min id of its cluster;
    docs in no cluster survive as their own component). Filtering
    `is_canonical` yields the deduplicated corpus. Left join against
    the (small) component map — broadcast-eligible since the map is
    proportional to duplicated docs only, not the corpus."""
    comp = connected_components(pairs, src=src, dst=dst)
    return (
        docs.join(
            comp.withColumnRenamed("id", id_col), id_col, "left"
        )
        .withColumn("component", F.coalesce("component", F.col(id_col)))
        .withColumn("is_canonical", F.col("component") == F.col(id_col))
    )


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    pair_fn=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Ingestion-time dedup: keep the incoming docs that duplicate
    neither the existing corpus nor an earlier (smaller-id) incoming
    doc — the production shape for rolling corpus builds, where the
    already-published corpus must stay fixed and only new docs are
    dropped.

    ``pair_fn(docs) -> (id_a, id_b)`` generates near-dup pairs over
    the UNION (default: MinHash LSH via dedup.minhash_lsh_pairs);
    ids must be globally unique across both sides. Existing docs are
    never dropped; an incoming doc is dropped iff it pairs (directly
    or transitively through other incoming docs) with an existing doc
    or with a surviving smaller-id incoming doc — i.e., the component
    rule, with every existing member forced canonical.

    Scale: the union feeds one pair pipeline (bucketed, no all-pairs);
    component resolution touches only paired docs. Cost grows with
    |incoming| + |pairs|, not |existing| beyond its signature scan; to
    amortize repeated ingests against a fixed corpus, persist the
    existing side's signatures via pipeline/storage bucketed tables.
    """
    if pair_fn is None:
        from .dedup import minhash_lsh_pairs

        def pair_fn(d):
            return minhash_lsh_pairs(d, text_col=text_col, id_col=id_col)

    union = existing.select(id_col, text_col).unionByName(
        incoming.select(id_col, text_col)
    )
    pairs = pair_fn(union)
    comp = connected_components(pairs)
    # Every table from here on is bounded by |paired docs|, while
    # `existing` is corpus-sized — so orient the one big-side join as
    # stream-the-corpus / semi-reduce-by-the-components (a LEFT join
    # with comp on the left forced the planner to build or sort the
    # corpus side: 4 SortMergeJoins of the corpus at scale, guide
    # §3.1). exist_in_comp = existing members that appear in any
    # component (≤ |comp| rows); the rule joins then only ever touch
    # pair-bounded tables. No forced broadcast hints: |comp| is
    # usually tiny but scales with the paired docs in a dup-heavy
    # ingest, so the planner/AQE must keep its shuffle fallback — the
    # local union-find path yields size-known local relations that
    # broadcast statically anyway, and AQE upgrades the rest at
    # runtime when they measure small.
    exist_in_comp = (
        existing.select(F.col(id_col).alias("id"))
        .join(comp.select("id"), "id", "left_semi")
        .withColumn("is_existing", F.lit(True))
    )
    comp = comp.join(exist_in_comp, "id", "left").withColumn(
        "is_existing", F.coalesce("is_existing", F.lit(False))
    )
    # a component is "anchored" if any member is existing: every
    # incoming member of an anchored component is a duplicate. In an
    # unanchored (all-incoming) component, the min id survives.
    anchored = comp.groupBy("component").agg(
        F.max(F.col("is_existing").cast("int")).alias("anchored")
    )
    drop = (
        comp.filter(~F.col("is_existing"))
        .join(anchored, "component")
        .filter((F.col("anchored") == 1) | (F.col("id") != F.col("component")))
        .select(F.col("id").alias(id_col))
    )
    return incoming.join(drop, id_col, "left_anti")

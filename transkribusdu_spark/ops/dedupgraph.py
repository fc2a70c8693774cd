"""Dedup-graph operators: connected components over near-duplicate
pairs and survivor selection — the step that turns pairwise dedup output
(minhash/simhash/embedding pairs) into "keep one document per duplicate
cluster", which is how web-scale corpus dedup is actually applied.

Scale design: the component computation is the alternating
large-star / small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) expressed as DataFrame joins — each
round is two groupBy/join stages over the edge list, converging in
O(log^2 n) rounds to per-component star graphs. No driver-side
union-find, no collect: the edge list never leaves the cluster. The
canonical edge set is checkpointed once at entry, because persisting it
left round 0 executing against the caller's whole upstream lineage
(15-23 s against ~2 s for the same 45k-edge round 0). Each round's
result is checkpointed too — reliably (HDFS/S3 checkpoint dir) when the
session has one, so an executor loss replays at most one round;
localCheckpoint otherwise (local runs) — so every round plans against a
leaf. A checkpoint is released as soon as the round after it has been
compared; only the final round and the roots checkpoint, which the
returned DataFrame reads, outlive the call. Near-dup graphs are
overwhelmingly tiny star/clique clusters, so in practice 2-3 rounds
converge; the loop still carries the logarithmic worst-case bound for
adversarial chains (a 1M-doc path graph converges in ~20 rounds, not 1M).

Reference parity note: the reference's only clustering is per-document
(graph/pkg_GraphBinaryConjugateSegmenter, SURVEY §2.8) — cross-document
duplicate clustering has no reference counterpart and is part of the
training-data-pipeline surface this engine adds (task brief: dedup as a
first-class component).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 2 * log2(10^12) ~ 80 rounds bounds any conceivable corpus (the
# alternating rounds converge in O(log^2 n) with a small constant; real
# near-dup graphs converge in 2-4). The cap exists so a bug can never
# loop forever, and hitting it raises instead of returning wrong labels.
MAX_CC_ROUNDS = 80


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u > v), no self-loops, distinct."""
    u, v = F.col("u"), F.col("v")
    return (
        edges.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every strictly-larger neighbour of each node u
    is re-pointed at min(N(u) + {u}). Edges arrive canonical (u > v)."""
    nbrs = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        nbrs.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("mv", "u").alias("m"))
    )
    return _canon(
        nbrs.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: for each node u, its smaller-or-equal
    neighbourhood (plus u itself) is re-pointed at its minimum."""
    mins = (
        edges.groupBy("u")
        .agg(F.min("v").alias("m"))  # v < u always, so min(N- + {u}) = min(v)
    )
    repointed = edges.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_edges = mins.select("u", F.col("m").alias("v"))
    return _canon(repointed.union(self_edges))


def _release(df: DataFrame) -> None:
    """Free the blocks of a checkpointed DataFrame. ``df.unpersist()``
    is a no-op there: the blocks belong to the checkpointed RDD under
    the plan's ``LogicalRDD`` leaf, so that RDD is unpersisted instead
    (harmless for a reliable checkpoint, whose data lives in files)."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


def dedup_components(pairs: DataFrame, max_rounds: int = MAX_CC_ROUNDS) -> DataFrame:
    """(doc_id, component) for every doc appearing in >= 1 pair.

    ``pairs`` carries columns ``doc_a``/``doc_b`` (any extra columns are
    ignored); ``component`` is the minimum doc_id of the connected
    component. Alternates large-star/small-star until the edge set is
    stable (then every component is a star rooted at its minimum).

    The canonical edge set is checkpointed once at entry and every
    round's result is checkpointed (reliable when a checkpoint dir is
    configured, local otherwise), so each round, the ``nodes`` table and
    the roots join plan against a leaf instead of the caller's whole
    upstream lineage. A round's edge count is carried forward as the next
    round's ``prev`` count. Once a round has been compared, the
    checkpoint it superseded (the entry one included) is released; only
    the final round and the roots checkpoint, which the returned
    DataFrame reads, stay.
    """
    spark = pairs.sparkSession
    # Plan-truncation strategy: a RELIABLE checkpoint when the session
    # has a checkpoint dir (cluster runs — survives executor loss, which
    # localCheckpoint blocks do not), localCheckpoint otherwise
    # (local/test runs — no shared storage required).
    reliable = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()

    def _truncate(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if reliable else df.localCheckpoint(eager=True)

    edges = _truncate(
        _canon(pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")))
    )
    nodes = (
        edges.select(F.col("u").alias("doc_id"))
        .union(edges.select(F.col("v").alias("doc_id")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    prev = nxt = edges
    try:
        nodes.count()  # materialize before the entry checkpoint is released
        n_prev = prev.count()
        for _ in range(max_rounds):
            nxt = _truncate(_small_star(_large_star(prev)))
            n_nxt = nxt.count()
            # Convergence: identical edge sets. Both sides are distinct
            # canonical sets, so |A| == |B| and |A \ B| == 0 iff A == B.
            stable = n_nxt == n_prev and nxt.exceptAll(prev).limit(1).count() == 0
            _release(prev)
            prev, n_prev = nxt, n_nxt
            if stable:
                break
        else:
            raise RuntimeError(
                f"dedup_components did not converge in {max_rounds} rounds "
                "(cap exists to surface bugs, not to truncate real graphs)"
            )

        # Stable state = stars: every non-root points directly at its
        # component minimum; roots appear only on the v side. Roots are
        # checkpointed (the guard set is tiny: every >= 2 node
        # component's root already appears as v) so the returned plan
        # reads only checkpointed data and ``nodes`` can be released.
        labels = prev.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
        roots = _truncate(
            nodes.join(labels.select("doc_id"), "doc_id", "left_anti")
            .select("doc_id", F.col("doc_id").alias("component"))
        )
    except BaseException:
        _release(prev)
        _release(nxt)  # a round that failed before it was compared
        raise
    finally:
        # success AND failure paths: a repeated call in a long-lived
        # session must not accumulate cached node tables.
        nodes.unpersist()
    return labels.union(roots)


def dedup_survivors(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-document dedup verdict: ``component`` (cluster id = min doc_id
    of the near-dup cluster; singletons are their own component) and
    ``survivor`` (True for the one kept doc per cluster — the minimum).

    Join shape: components exist only for docs in >= 1 pair (a small
    fraction of the corpus), so the docs-side join is a left join
    against a much smaller table — at scale AQE broadcasts it.
    """
    comp = dedup_components(pairs)
    return (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("component"),
        )
        .withColumn("survivor", (F.col("doc_id") == F.col("component")))
    )


def dedup_clusters(docs: DataFrame) -> DataFrame:
    """Registered query surface: MinHash-LSH near-dup pairs (verified
    exact Jaccard >= 0.7, ``ops.dedup.minhash_lsh_pairs``) -> connected
    components -> (doc_id, component) for every clustered doc.

    This is the end-to-end corpus-dedup path a 100 TB pipeline runs:
    sub-quadratic candidate generation, exact verification, distributed
    clustering, survivor = min doc_id per component.
    """
    from . import dedup as dd

    pairs = dd.minhash_lsh_pairs(docs)
    return dedup_components(pairs)

"""Iterative graph operators: connected components for dedup clustering.

Near-dup detection yields PAIRS (q25/q26); deduplication needs CLUSTERS —
the transitive closure (a~b, b~c ⇒ {a,b,c} share one keeper). Implemented
as label propagation: every node starts labeled with its own id and
repeatedly adopts the minimum label among itself and its neighbors until a
fixpoint. Converges in O(diameter) rounds; near-dup graphs are unions of
small cliques, so diameter is tiny (2-3 rounds typical).

Iteration is driver-controlled (a loop of DataFrame jobs with a converged?
check) — this is the class of algorithm the oracle gate marks rows-only:
not SQL-expressible, but exactly what Spark's lazy DAG + checkpoints do
well.
Each round is one join + one aggregate on the (small) edge set, NOT the
corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Edge lists at or below this size resolve on the driver (union-find in
# Python, milliseconds); larger graphs take the distributed loop. This is
# the broadcast-join pattern: a near-dup edge list is ~|near-dup tail|,
# orders of magnitude smaller than the corpus, but the bound keeps the
# driver safe when a pathological corpus (everything similar to
# everything) explodes the pair count. 1M edges ≈ tens of MB collected.
DRIVER_CC_MAX_EDGES = 1_000_000


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = min node
    id reachable. Undirected.

    Size-gated execution: small edge sets (the normal case — candidate
    pairs, not the corpus) are solved with driver-side union-find in one
    collect; only a pathologically large pair graph pays for the iterative
    distributed label propagation (each Spark round on a 256-edge graph
    costs seconds of pure scheduling, ~100× the actual work).

    The edge set is checkpointed, and the size probe's count()
    materializes it for the solve — it is typically the output of an
    expensive similarity pipeline, and lazily the solve would recompute
    that whole pipeline a second time (measured 2× the q49 wall time).
    """
    edges = edges.localCheckpoint(eager=False)
    if edges.count() <= DRIVER_CC_MAX_EDGES:
        return _driver_union_find(edges, src, dst)
    return _label_propagation(edges, src, dst, max_iter)


def _driver_union_find(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Union-find with path compression; union-by-min keeps every root the
    minimum member id, reproducing the distributed min-label semantics."""
    spark = edges.sparkSession
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges.select(src, dst).collect():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # smaller id stays root → root == min member
    schema = T.StructType(
        [
            T.StructField("node", T.LongType()),
            T.StructField("component", T.LongType()),
        ]
    )
    rows = [(int(n), int(find(n))) for n in parent]
    return spark.createDataFrame(rows, schema)


def _label_propagation(
    edges: DataFrame, src: str, dst: str, max_iter: int
) -> DataFrame:
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        # every round's join reads it; the first round materializes it
        .localCheckpoint(eager=False)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        # checkpointed: truncates lineage so round N's plan doesn't
        # re-analyze rounds 1..N-1 — the classic iterative-algorithm
        # slowdown
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # min-label propagation moves one hop per round, so convergence
        # needs >= component-diameter rounds; exhausting the budget means
        # some component still holds intermediate labels — returning them
        # would silently report ONE real cluster as several (extra
        # duplicate docs kept). Fail loudly instead.
        raise RuntimeError(
            f"label propagation did not converge in {max_iter} rounds — "
            "the graph has a component with diameter > max_iter; raise "
            "max_iter (cost is one join+agg per extra round)"
        )
    return labels


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs → clusters: (cluster_id = min member, doc_id).

    Downstream dedup keeps one doc per cluster_id (e.g. the min id) and
    drops the rest — the final step of the MinHash/SimHash pipelines.
    """
    cc = connected_components(pairs)
    return cc.select(
        F.col("component").alias("cluster_id"), F.col("node").alias("doc_id")
    )

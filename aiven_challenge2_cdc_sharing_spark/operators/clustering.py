"""Duplicate-cluster resolution: near-dup PAIRS -> dedup GROUPS.

LSH/MinHash emits pairwise collisions; a training-data pipeline needs
connected components ("these 5 docs are one duplicate cluster, keep
one").  Implemented as iterative min-label propagation over the edge
list — each round is one join + one aggregate (both shuffles on the
node id), converging in O(log(diameter)) rounds; duplicate-cluster
diameters are tiny in practice, so the round cap is small (20).
``localCheckpoint`` between rounds truncates the growing lineage.

At 100 TB: edges ~ O(candidate pairs) << N^2; each iteration shuffles
only (node, label) longs.  (Same algorithm large-graph systems use for
CC when a Pregel runtime isn't available.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Edge list (id_a, id_b) -> (node, component) where component is
    the minimum reachable node id.  The per-round convergence probe
    exits as soon as labels stabilize, and a stable labeling is exactly
    CC (fixpoint: every label equals the min over the neighborhood and
    its own pointer target), so the 20-round cap is a safety cap for
    pathological diameters, not the expected round count.  Measured on
    an adversarial 394-doc chain-heavy component: ~10 rounds; a second
    pointer jump per round was tried and REJECTED — the extra
    materialization doubles per-round job count, which dominates the
    saved rounds (12s -> 62s at sf0.01)."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    prev_sum = None
    # Each round: (1) take the min label over graph neighbors, then
    # (2) pointer-jump (component := label of component — union-find
    # path compression), which squares the propagation distance per
    # round: diameter coverage grows like 2^rounds, so 6 rounds handle
    # any realistic duplicate-cluster chain.  One convergence check per
    # round (a count on changed rows) exits early for the common
    # tiny-cluster case.
    for _ in range(20):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        # localCheckpoint (lazy, materialized inline by this round's
        # convergence job): ``stepped`` feeds BOTH sides of the
        # pointer-jump self-join below, and without the cut Catalyst
        # plans two copies of the join+aggregate subtree above — the
        # whole neighbor-min pass executed twice per round (round-12
        # measurement: 4.6 s -> 2.9 s for dedup_cluster_resolution,
        # guide §2.4 "remove shuffles outright"/duplicated subtrees).
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        ptr = stepped.select(
            F.col("node").alias("__pnode"), F.col("component").alias("__plabel")
        )
        new_labels = (
            stepped.join(ptr, stepped.component == ptr["__pnode"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce("__plabel", F.col("component")),
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # Convergence probe that doubles as the checkpoint's
        # materializing action — ONE job per round where the previous
        # formulation ran two (eager checkpoint, then a labels-join
        # count).  Labels move monotonically downward (component :=
        # least(old, ...)), so sum(component) strictly decreases until
        # the fixpoint and equality of consecutive sums IS convergence.
        # decimal(38,0) keeps the sum exact for any realistic node-id
        # domain (no int64 wraparound false-positive).
        new_sum = (
            new_labels.agg(
                F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
        )
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels


def dedup_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Resolve near-dup pairs into clusters and mark survivors: every
    doc gets (cluster_id, is_survivor); singleton docs survive with
    their own id as cluster."""
    comp = connected_components(pairs)
    out = docs.join(comp, docs["doc_id"] == comp.node, "left").select(
        docs["doc_id"],
        F.coalesce("component", docs["doc_id"]).alias("cluster_id"),
    )
    return out.withColumn(
        "is_survivor", (F.col("doc_id") == F.col("cluster_id")).cast("boolean")
    )

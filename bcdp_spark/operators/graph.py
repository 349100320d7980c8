"""Distributed connected components — the transitive-closure step a real
near-dedup pipeline needs on top of LSH candidate pairs (pairs a–b and
b–c imply cluster {a,b,c} even when a–c never shared a bucket).

Algorithm: iterative min-label propagation WITH POINTER DOUBLING. Each
node starts labeled with itself; every round each node takes the min
label over itself and its neighbors (one edge join + aggregate), then
shortcuts through its label's own label (one self-join) — the classic
path-halving step, so a chain of length L converges in O(log L) rounds
instead of O(L). Pure DataFrame ops, no driver-side adjacency. Lineage
is truncated with ``localCheckpoint`` every round by default: the label
frame is one narrow (node, label) row per node — materializing it is
cheap, while an uncheckpointed iterated plan re-executes every earlier
round at each action (the classic iterative-Spark failure mode; the
convergence-count action would otherwise recompute the whole history).

Scale notes (100 TB): dedup graphs are overwhelmingly tiny components
(dup clusters of 2–50 docs), so round counts stay tiny; pointer
doubling keeps even adversarial chains logarithmic. The full
large-star/small-star algorithm (Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14) additionally bounds per-round edge
blow-up for power-law graphs — same join+min building blocks if needed.
The convergence check is a scalar count every other round — the only
driver-visible value, not a data collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Labels every node reachable through ``edges`` with the minimum
    node id of its component. Returns (node, label). Undirected: edges
    are symmetrized internally; self-loops and duplicates are fine.
    Raises ``RuntimeError`` when labels still change in round
    ``max_iter`` — it never returns unconverged labels."""
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        # loop invariant: every iteration's neighbor join (and every
        # convergence count) re-reads this relation — persist it once,
        # same discipline as pagerank's edge/node/out-weight frames
        .persist()
    )
    labels = (
        sym.select(F.col("u").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
    )
    try:
        return _cc_loop(sym, labels, max_iter, checkpoint_every)
    finally:
        sym.unpersist()


def _cc_loop(sym, labels, max_iter, checkpoint_every):
    for i in range(max_iter):
        # each node's new label: min over (own label, neighbors' labels)
        from_nbrs = (
            sym.join(labels, sym["u"] == labels["node"])
            .select(F.col("v").alias("node"), "label")
        )
        new_labels = (
            from_nbrs.unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer doubling: follow label → label(label). Labels are
        # always node ids (mins over initial self-labels), so the inner
        # self-join is total; labels only decrease, so taking the
        # looked-up label is the min.
        hop = new_labels.select(
            F.col("node").alias("__ln"), F.col("label").alias("__ll")
        )
        new_labels = (
            new_labels.join(hop, new_labels["label"] == hop["__ln"])
            .select("node", F.col("__ll").alias("label"))
        )
        # checkpoint_every=0 disables checkpointing (the pagerank
        # convention) rather than dividing by zero
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        # doubling makes rounds logarithmic; check convergence every
        # other round to halve the count-job overhead
        if i % 2 == 1 or i == max_iter - 1:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1)
                .count()
            )
            if changed == 0:
                return new_labels
        labels = new_labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(max_iter): labels still changed in the last round; raise "
        "max_iter"
    )


def cluster_summary(labels: DataFrame) -> DataFrame:
    """Per-component rollup: (label, n_members, min/max member)."""
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("min_node"),
        F.max("node").alias("max_node"),
    )

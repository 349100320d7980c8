"""Join-based PageRank (EXT — iterative link analysis; the TextRank
keyword scorer of a corpus pipeline, and the same loop shape as any
graph-propagation step at 100 TB. No bcdp analog).

Each iteration is pure DataFrame algebra:

    r_{k+1}(v) = (1-d)/N + d * Σ_{(u→v) ∈ E} r_k(u) * w(u,v) / outw(u)

- the scalar N rides as a broadcast 1-row aggregate (crossJoin) — no
  driver-side ``.count()``, the whole k-step computation is ONE lazy
  plan when ``checkpoint_every=0``;
- contribution sums route through DECIMAL(38,18) so partial-aggregation
  order cannot change a bit — the recurrence is exactly reproducible
  across partitionings and engines (the oracle unrolls the identical
  arithmetic in SQL);
- at real scale each iteration is one shuffle join on ``dst``; for
  large k pass ``checkpoint_every`` to ``localCheckpoint`` the rank
  DataFrame and keep lineage bounded (same defense as
  ``operators/graph.py``'s pointer-doubling CC).

Dangling nodes (no out-edges) simply emit no mass — the recurrence is
whichever both engines compute; the teleport term keeps every node
positive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,18)"


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    checkpoint_every: int = 0,
) -> DataFrame:
    """Weighted PageRank over an edge DataFrame → (node, rank).

    The loop-invariant relations (edges, node set, out-weights) are
    persisted — still LAZY (no job at build time), but at action time
    each is computed once instead of once per iteration (without it
    the lineage re-derives the edge list k+1 times; the plan dump
    showed 44 source scans for k=3 over a 2-scan input). Entries use
    the default MEMORY_AND_DISK level — evictable under pressure,
    reclaimed at session close; a long-lived service calling this
    repeatedly should unpersist after consuming the result.
    """
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("double").alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    e = e.persist()
    nodes = nodes.persist()
    outw = outw.persist()
    n_row = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    teleport = (1.0 - damping) / F.col("n")

    ranks = nodes.crossJoin(F.broadcast(n_row)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    for i in range(iterations):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(outw, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("r") * F.col("w") / F.col("outw"))
                .cast(_DEC)
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("string").cast("double").alias("m"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n_row))
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping) * F.coalesce(F.col("m"), F.lit(0.0))
                ).alias("r"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks

"""Iterative graph algorithms as DataFrame loops — the dataflow pattern
Spark uses where a specialized engine would run Pregel supersteps. The
cluster-resolution label propagation in dedup/clusters.py is one instance;
this module adds weighted PageRank.

Scale notes baked in:
- each superstep is one join + one groupBy (both map-combinable partials);
  the rank frame is |nodes| rows, edges |E| — at 1000 executors both
  shuffles hash-partition on node id, and Spark reuses the edge frame's
  partitioning across iterations once it is cached;
- ``localCheckpoint`` every few supersteps TRUNCATES LINEAGE: without it
  the logical plan doubles per iteration and the driver's optimizer pass
  (and any task retry) replays the whole chain — the classic iterative-
  dataflow failure mode;
- edges are cached once (they are loop-invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def transition_graph(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``pagerank``'s loop-invariant frames: ``norm`` (each edge both ways,
    ``p = weight / out_weight(src)``) and its ``nodes``."""
    both = edges.select("src", "dst", "weight").unionAll(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
    )
    out_w = both.groupBy("src").agg(F.sum("weight").alias("out_weight"))
    norm = both.join(out_w, "src").select(
        "src", "dst", (F.col("weight") / F.col("out_weight")).alias("p")
    )
    return norm, norm.select(F.col("src").alias("node")).distinct()


def pagerank_step(
    rank: DataFrame, norm: DataFrame, nodes: DataFrame, n: int, damping: float
) -> DataFrame:
    """One superstep: rank flows along out-edges, plus the teleport share."""
    contrib = (
        rank.join(norm, rank.node == norm.src)
        .groupBy("dst")
        .agg(F.sum(F.col("rank") * F.col("p")).alias("in_rank"))
    )
    return nodes.join(contrib, nodes.node == contrib.dst, "left").select(
        "node",
        (
            F.lit((1.0 - damping) / n)
            + F.lit(damping) * F.coalesce(F.col("in_rank"), F.lit(0.0))
        ).alias("rank"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    checkpoint_every: int = 4,
) -> DataFrame:
    """Weighted PageRank over an UNDIRECTED weighted edge list
    (``src``, ``dst``, ``weight``); each undirected edge contributes both
    directions. Returns (node, rank); ranks sum to 1 over nodes that
    appear in at least one edge (isolated nodes never enter the frame).

    No dangling-node term is needed: in an undirected graph every node in
    the frame has out-weight > 0."""
    # nodes reads the cached norm: caches substitute at execution
    norm, nodes = (f.cache() for f in transition_graph(edges))
    n = nodes.count()  # materializes both caches
    rank = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for i in range(iterations):
        rank = pagerank_step(rank, norm, nodes, n, damping)
        if (i + 1) % checkpoint_every == 0:
            rank = rank.localCheckpoint(eager=True)
    # materialize the result OFF the cached frames, then release them —
    # otherwise every pagerank() call leaves two cached frames pinned in
    # executor storage for the caller's lifetime
    rank = rank.localCheckpoint(eager=True)
    norm.unpersist()
    nodes.unpersist()
    return rank

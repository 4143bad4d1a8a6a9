"""Connected components as an iterated DataFrame loop (no GraphFrames jar).

Hash-min label propagation: every node repeatedly adopts the minimum label in
its closed neighborhood until fixpoint.  Converges in O(diameter) rounds —
surface-form duplicate clusters have tiny diameters.  Each round is one
shuffle; lineage is truncated with localCheckpoint so plans stay flat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def union_find_components(edge_list) -> dict:
    """Driver-side union-find over a small edge list; label = min node id.
    Semantics identical to the distributed hash-min loop."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_list:
        for n in (u, v):
            if n not in parent:
                parent[n] = n
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def connected_components(
    edges: DataFrame, src: str = "a", dst: str = "b", max_iter: int = 25,
    driver_threshold: int = 0,
) -> DataFrame:
    """edges (src, dst) → (node, component) with component = min node id.

    When the edge count is at or below ``driver_threshold``, the graph is
    collected and solved with union-find on the driver — one job instead of
    O(diameter) shuffle rounds.  Above the threshold the distributed
    hash-min loop runs; both paths produce identical labels."""
    if driver_threshold > 0:
        if edges.count() <= driver_threshold:
            rows = edges.select(src, dst).collect()
            comp = union_find_components([(r[0], r[1]) for r in rows])
            spark = edges.sparkSession
            return spark.createDataFrame(
                [(n, c) for n, c in sorted(comp.items())],
                schema=f"node {dict(edges.dtypes)[src]}, comp {dict(edges.dtypes)[src]}",
            )
    fwd = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    und = fwd.unionByName(fwd.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    und = und.persist()
    nodes = und.select(F.col("u").alias("node")).distinct()
    labels = nodes.withColumn("comp", F.col("node")).persist()

    for _ in range(max_iter):
        msgs = (
            und.join(labels, und["u"] == labels["node"])
            .select(F.col("v").alias("node"), F.col("comp"))
        )
        new_labels = (
            labels.select("node", "comp")
            .unionByName(msgs)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    und.unpersist()
    return labels

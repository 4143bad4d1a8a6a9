"""Distributed Lloyd's k-means over an embedding column.

The corpus-clustering operator behind SemDeDup-style semantic dedup,
topic-balanced source mixing, and IVF index training — here as a REAL
distributed training loop (``kgforge.datapipe.similarity`` trains its IVF
centroids on a driver-side numpy sample; this one never leaves the
cluster).  Determinism fixes make the fit a pure function of the input:

- init: the k vectors with the smallest ids, cluster ids 0..k-1 in id
  order (no RNG);
- assignment: squared-L2 argmin with ties broken by lowest cluster id,
  the distance computed as a LEFT FOLD over dimensions so both engines
  sum in the same order (bit-exact, same trick as the ANN oracles);
- update: per-dimension mean ROUNDED to ``round_decimals`` — float
  summation order differs across engines/partitionings at ~1e-16, the
  rounding absorbs it (documented narrowing; a tie at the rounding
  boundary is the residual risk, never observed);
- an emptied cluster keeps its previous centroid (the standard rule).

Scale shape per iteration: assignment is a broadcast of the k×d centroid
table against the embedding scan (n×k expanded rows, pruned by a per-id
window top-1 that runs partially map-side via WindowGroupLimit), update is
one posexplode + map-side-combinable (cluster, dim) average.  State is
eagerly ``localCheckpoint``-ed per round; no driver collect inside the
loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _py_kmeans(rows, k: int, iterations: int, round_decimals: int = 6):
    """numpy-free python mirror (same fold order, rounding, tie rules)."""
    rows = sorted(rows)
    cents = {c: [float(x) for x in rows[c][1]] for c in range(k)}
    assign = {}
    for _ in range(iterations):
        assign = {}
        for i, v in rows:
            best = None
            for c in sorted(cents):
                d = 0.0
                for x, y in zip(v, cents[c]):
                    d = d + (float(x) - y) * (float(x) - y)
                if best is None or d < best[0]:
                    best = (d, c)
            assign[i] = best[1]
        new = {}
        for c in sorted(cents):
            members = [v for i, v in rows if assign[i] == c]
            if not members:
                new[c] = cents[c]
            else:
                dims = len(members[0])
                new[c] = [
                    round(sum(float(v[p]) for v in members) / len(members),
                          round_decimals)
                    for p in range(dims)
                ]
        cents = new
    return assign, cents


def _sq_dist(a, b):
    """Left-fold squared L2 — the cross-engine-exact summation order."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kmeans_lloyd(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iterations: int = 3,
    round_decimals: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """→ (assignments (id, cluster), centroids (cluster, centroid)) after
    ``iterations`` Lloyd rounds; see module docstring for the exact spec."""
    vecs = emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).localCheckpoint(eager=True)
    # the partition-less window is bounded by construction: it runs over
    # the limit(k) rows only (k centroids), never the input
    cents = (
        vecs.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(Window.orderBy("id")) - 1).alias("cluster"),
            F.col("v").alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    assigned = None
    w = Window.partitionBy("id").orderBy("d", "cluster")
    for _ in range(iterations):
        assigned = (
            vecs.crossJoin(F.broadcast(cents))
            .withColumn("d", _sq_dist(F.col("v"), F.col("c")))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("id", "cluster", "v")
            .localCheckpoint(eager=True)
        )
        means = (
            assigned.select("cluster", F.posexplode("v").alias("p", "x"))
            .groupBy("cluster", "p")
            .agg(F.round(F.avg("x"), round_decimals).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "m"))),
                    lambda s: s["m"],
                ).alias("c2")
            )
        )
        cents = (
            cents.join(means, "cluster", "left")
            .select("cluster", F.coalesce("c2", "c").alias("c"))
            .localCheckpoint(eager=True)
        )
    return (
        assigned.select("id", "cluster"),
        cents.select("cluster", F.col("c").alias("centroid")),
    )


def pca_fit_numpy(path: str, k: int = 2):
    """Deterministic PCA fit from an embeddings parquet file: read, sort by
    id, covariance eigendecomposition, top-``k`` components with a
    deterministic sign convention (largest-|.| entry positive).

    Driver-side by design — the same train-small/apply-distributed split as
    the IVF index (`similarity.train_centroids_numpy`): at 100 TB the fit
    runs on a bounded sample while :func:`pca_project` applies the learned
    basis corpus-wide in whole-stage codegen.  Determinism (same file →
    same basis bit-for-bit) is what lets an external SQL oracle inline the
    identical literals."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pandas().sort_values("vec_id")
    x = np.array([np.asarray(v, dtype=np.float64) for v in t["embedding"]])
    mu = x.mean(axis=0)
    c = np.cov(x - mu, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(c)
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for j in order:
        w = vecs[:, j]
        pivot = int(np.argmax(np.abs(w)))
        if w[pivot] < 0:
            w = -w
        comps.append(w)
    return mu, comps


def pca_project(
    emb: DataFrame, id_col: str, vec_col: str, mean, components
) -> DataFrame:
    """Project each embedding onto the given PCA basis: one left-fold dot
    product per component over (v − μ), entirely whole-stage codegen (no
    Python in the row path) — ``(id, pc1, pc2, …)`` rounded to 6 decimals
    (the fold order is fixed, so an oracle folding the same literals in the
    same order matches bit-for-bit before rounding)."""
    d = len(mean)
    mu = F.array(*[F.lit(float(m)) for m in mean])
    cols = [F.col(id_col).alias("id")]
    for j, w in enumerate(components, start=1):
        wl = F.array(*[F.lit(float(x)) for x in w])
        fold = F.aggregate(
            F.sequence(F.lit(1), F.lit(d)),
            F.lit(0.0),
            lambda acc, i: acc
            + (
                F.element_at(F.col(vec_col), i).cast("double")
                - F.element_at(mu, i)
            )
            * F.element_at(wl, i),
        )
        cols.append(F.round(fold, 6).alias(f"pc{j}"))
    return emb.select(*cols)


def dbscan_grid(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: float,
    min_pts: int,
) -> DataFrame:
    """Density-based clustering (DBSCAN — Ester, Kriegel, Sander & Xu
    1996, re-derived for Spark with the standard grid-partitioned
    neighborhood join): a point with >= ``min_pts`` neighbors within
    ``eps`` (itself included) is a CORE point; core points within ``eps``
    of each other share a cluster; a non-core point within ``eps`` of a
    core is a BORDER point of that cluster; the rest is NOISE.

    The naive formulation needs an all-pairs distance matrix — corpus² and
    dead at scale.  The Spark-first shape snaps every point to an
    eps-sized grid cell and joins each point against only the 3x3
    neighboring cells (a 9x explode of the smaller side, shuffled by cell
    key — candidate count is bounded by local density, never by corpus
    size), then exact-filters on real distance.  Core-core edges feed the
    existing distributed hash-min connected-components loop, so cluster
    labels are the MIN core id of the cluster — deterministic, unlike the
    visit-order-dependent labels of the classic sequential algorithm.
    Border points attach to the smallest cluster label among their core
    neighbors (the deterministic resolution of DBSCAN's documented
    border-tie ambiguity).

    Output: (id, role 'core'|'border'|'noise', cluster BIGINT — NULL for
    noise).
    """
    if eps <= 0 or min_pts < 1:
        raise ValueError("eps must be > 0 and min_pts >= 1")
    from kgforge.kg.components import connected_components

    pts = df.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("double").alias("x"),
        F.col(y_col).cast("double").alias("y"),
        F.floor(F.col(x_col).cast("double") / F.lit(float(eps))).alias("cx"),
        F.floor(F.col(y_col).cast("double") / F.lit(float(eps))).alias("cy"),
    ).persist()
    offsets = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    ])
    probes = (
        pts.select("id", "x", "y", "cx", "cy",
                   F.explode(offsets).alias("_o"))
        .select(
            F.col("id").alias("a"), F.col("x").alias("ax"),
            F.col("y").alias("ay"),
            (F.col("cx") + F.col("_o.dx")).alias("cx"),
            (F.col("cy") + F.col("_o.dy")).alias("cy"),
        )
    )
    eps2 = float(eps) * float(eps)
    pairs = (
        probes.join(pts.select(F.col("id").alias("b"), "x", "y", "cx", "cy"),
                    ["cx", "cy"])
        .filter(
            (F.col("a") != F.col("b"))
            & (
                (F.col("ax") - F.col("x")) * (F.col("ax") - F.col("x"))
                + (F.col("ay") - F.col("y")) * (F.col("ay") - F.col("y"))
                <= F.lit(eps2)
            )
        )
        .select("a", "b")
        .persist()
    )
    try:
        counts = pairs.groupBy("a").agg(F.count(F.lit(1)).alias("_n"))
        cores = (
            counts.filter(F.col("_n") + 1 >= F.lit(int(min_pts)))
            .select(F.col("a").alias("id"))
        )
        # an isolated dense point (min_pts == 1, no neighbors) never enters
        # `pairs`; cover it straight off the spine
        if int(min_pts) == 1:
            cores = pts.select("id")
        cores = cores.persist()
        core_edges = (
            pairs.join(cores.select(F.col("id").alias("a")), "a", "left_semi")
            .join(cores.select(F.col("id").alias("b")), "b", "left_semi")
        )
        comp = connected_components(core_edges, src="a", dst="b")
        core_lbl = (
            cores.join(comp, cores["id"] == comp["node"], "left")
            .select(cores["id"],
                    F.coalesce(F.col("comp"), cores["id"]).alias("cluster"))
            .persist()
        )
        border_lbl = (
            pairs.join(core_lbl.withColumnRenamed("id", "b"), "b")
            .join(cores.withColumnRenamed("id", "a"), "a", "left_anti")
            .groupBy("a")
            .agg(F.min("cluster").alias("cluster"))
            .select(F.col("a").alias("id"), "cluster")
        )
        out = (
            pts.select("id")
            .join(core_lbl.select("id", F.col("cluster").alias("_cc")),
                  "id", "left")
            .join(border_lbl.select("id", F.col("cluster").alias("_bc")),
                  "id", "left")
            .select(
                "id",
                F.when(F.col("_cc").isNotNull(), F.lit("core"))
                .when(F.col("_bc").isNotNull(), F.lit("border"))
                .otherwise(F.lit("noise")).alias("role"),
                F.coalesce(F.col("_cc"), F.col("_bc")).cast("long")
                .alias("cluster"),
            )
        )
        # materialization fence: downstream consumers re-execute the whole
        # DAG per action otherwise, and the persisted inputs above get
        # unpersisted on exit (reliable checkpoint on clusters, local here)
        from kgforge.util import truncate_lineage

        out = truncate_lineage(out)
    finally:
        pts.unpersist()
        pairs.unpersist()
        try:
            cores.unpersist()
            core_lbl.unpersist()
        except Exception:
            pass
    return out

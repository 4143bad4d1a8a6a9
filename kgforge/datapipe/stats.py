"""Group-wise ordinary least squares from integer moment sums.

One linear fit per group — trend per device, price-vs-time per category,
drift per source — computed from the five sufficient statistics
(n, Σx, Σy, Σxx, Σyy, Σxy) in a single map-side-combinable aggregation:
no per-group collect, no ML library, no second pass.  The closed forms::

    slope     = (nΣxy - ΣxΣy) / (nΣxx - (Σx)²)
    intercept = (Σy - slope·Σx) / n
    r²        = (nΣxy - ΣxΣy)² / ((nΣxx - (Σx)²)(nΣyy - (Σy)²))

Determinism: inputs are cast to int64 so the moment sums are EXACT
(order-independent — integer addition commutes; float accumulation does
not), and the only floating point is the one shared final expression,
rounded to 6 decimals to absorb last-ulp division differences across
engines.  Caller owns overflow headroom: nΣxy must fit int64, so with
values bounded by V and n rows per group, n²V² < 2⁶³ — cents-scale
columns are fine into the billions of rows per group.

Scale shape: ONE groupBy.agg over (group_cols), partial-aggregated
map-side; skewed groups cost nothing extra because the combiner reduces
every partition's contribution to one row per group first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def groupwise_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """(group_cols..., n, slope, intercept, r2) per group.

    ``x_col``/``y_col`` must be integral (scale floats to cents/micros
    upstream).  Groups with fewer than 2 points or zero x-variance get
    null slope/intercept/r2; zero y-variance (perfectly flat y) fits
    slope 0 with r2 null (0/0).
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    m = df.filter(x.isNotNull() & y.isNotNull()).groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("_sx"), F.col("_sy")
    cov_n = (n * F.col("_sxy") - sx * sy).cast("double")
    varx_n = (n * F.col("_sxx") - sx * sx).cast("double")
    vary_n = (n * F.col("_syy") - sy * sy).cast("double")
    slope = cov_n / varx_n
    intercept = (sy.cast("double") - slope * sx.cast("double")) / n
    r2 = (cov_n * cov_n) / (varx_n * vary_n)
    ok = (n >= 2) & (varx_n != 0)
    return m.select(
        *group_cols,
        n,
        F.round(F.when(ok, slope), 6).alias("slope"),
        F.round(F.when(ok, intercept), 6).alias("intercept"),
        F.round(F.when(ok & (vary_n != 0), r2), 6).alias("r2"),
    )


def target_encode_loo(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    out: str = "te",
) -> DataFrame:
    """Leave-one-out target encoding: each row gets the mean of its
    category's OTHER rows' targets, ``(Σ_g − y_i) / (n_g − 1)`` — the
    feature-engineering standard for high-cardinality categoricals,
    leave-one-out so a row never leaks its own label into its feature
    (Micci-Barreca 2001's empirical-Bayes family, LOO variant).

    ``target_col`` must be integral (scale upstream): the per-category
    sums are exact int64, the only float is the one final division,
    rounded to 6 — deterministic across engines and partitionings.
    Singleton categories get null (no other rows to borrow from); null
    targets are excluded from Σ and n.

    Scale: ONE map-side-combinable groupBy over the categories + a join
    back that AQE broadcasts whenever the category dictionary is small;
    never a window, never a self-join on rows."""
    y = F.col(target_col).cast("long")
    agg = (
        df.filter(y.isNotNull())
        .groupBy(cat_col)
        .agg(F.sum(y).alias("_sg"), F.count(F.lit(1)).alias("_ng"))
    )
    joined = df.join(agg, cat_col, "left")
    loo = (F.col("_sg") - y).cast("double") / (F.col("_ng") - 1)
    return joined.withColumn(
        out,
        F.round(
            F.when((F.col("_ng") > 1) & y.isNotNull(), loo), 6
        ),
    ).drop("_sg", "_ng")


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_col: str,
    out: str = "normalized",
) -> DataFrame:
    """Quantile normalization: every group's distribution is mapped onto
    the POOLED distribution, so downstream comparisons see identical
    marginals per group (the microarray-normalization standard, applied
    per source/batch).  This is the discrete variant: the row at rank r
    of its group (size n_g) takes the pooled value at 1-indexed position
    ``ceil(r · N / n_g)`` — pure integer position arithmetic, no
    interpolation, exact for any value type.

    Scale: one window per group for the in-group rank (bounded by the
    largest group), the pooled ranks via the rank.py offsets discipline
    (never a single-partition window), and one equi-join on the dense
    position — hot groups cost their own history, the pooled side is
    ranked once."""
    from pyspark.sql import Window

    from kgforge.rank import with_global_rank

    n_total = df.count()
    if n_total == 0:
        return df.withColumn(out, F.col(value_col))
    caches: list = []
    try:
        pooled = with_global_rank(
            df.select(value_col, id_col), [F.col(value_col), F.col(id_col)],
            cleanup=caches,
        )
        ref = pooled.select(
            (F.col("_rank") + 1).alias("_pos"),
            F.col(value_col).alias(out),
        ).localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()
    w = Window.partitionBy(group_col).orderBy(F.col(value_col), F.col(id_col))
    part = Window.partitionBy(group_col)
    r = F.row_number().over(w).cast("bigint")
    ng = F.count(F.lit(1)).over(part).cast("bigint")
    # ceil(r * N / n_g): the double division is exact while r·N < 2^53
    # (~9e15 — beyond any tested SF; swap to a decimal div past that)
    pos = ((r * F.lit(n_total) + ng - F.lit(1)) / ng).cast("bigint")
    ranked = df.withColumn("_pos", pos)
    return ranked.join(ref, "_pos").drop("_pos")


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    id_col: str,
) -> DataFrame:
    """Lower weighted median per group: the smallest value whose
    cumulative weight reaches half the group's total
    (``2·cum >= total``) — the robust center for weighted feeds
    (sampled events, importance-weighted corpora) where the plain
    median over rows is wrong.

    Exact integer arithmetic end to end (weights must be integral —
    scale upstream): the half test cross-multiplies instead of dividing.
    Scale: one cumulative window per group ordered by ``(value, id)``
    plus one min aggregate — per-task memory bounded by the largest
    group; rank globally with the ``kgforge.rank`` helpers for a single
    giant group."""
    from pyspark.sql import Window

    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col(value_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    part = Window.partitionBy(*group_cols)
    wt = F.col(weight_col).cast("long")
    cum = F.sum(wt).over(w)
    tot = F.sum(wt).over(part)
    hit = df.withColumn("_ok", cum * 2 >= tot).filter(F.col("_ok"))
    return hit.groupBy(*group_cols).agg(
        F.min(F.col(value_col)).alias("wmedian")
    )


def mutual_information(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Mutual information between two categorical columns — the
    data-profiling probe behind "is this column derivable from that one"
    (soft functional dependency) and feature-redundancy checks:

        MI = Σ_{x,y} (n_xy/N) · ln( n_xy·N / (n_x·n_y) )

    plus the marginal entropies and the normalized score
    ``nmi = MI / sqrt(H(X)·H(Y))`` (NULL when either entropy is 0).
    All counts are exact integers; the only float work is per-cell
    ``ln`` of an integer ratio and the final sums, rounded to 6.

    Output: one row ``(n, cells, mi, h_x, h_y, nmi)``.

    Scale: one groupBy on (x, y) — the contingency table, bounded by the
    product of the two cardinalities — then marginals re-aggregated FROM
    the cells (never a second scan) and one scalar cross join.  NULL
    categories participate as ordinary values (eqNullSafe-style grouping
    comes free from groupBy)."""
    cells = (
        df.select(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nxy"))
    )
    mx = cells.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = cells.groupBy("y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = cells.agg(F.sum("nxy").cast("bigint").alias("n"))
    j = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
    )
    mi_term = (F.col("nxy").cast("double") / F.col("n")) * F.log(
        (F.col("nxy") * F.col("n")).cast("double")
        / (F.col("nx") * F.col("ny"))
    )
    mi_row = j.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("cells"),
        F.round(F.sum(mi_term), 6).alias("mi"),
    )

    def _entropy(marg: DataFrame, cnt: str, out: str) -> DataFrame:
        t = (F.col(cnt).cast("double") / F.col("_n")) * F.log(
            F.col(cnt).cast("double") / F.col("_n")
        )
        return (
            marg.crossJoin(F.broadcast(tot.select(F.col("n").alias("_n"))))
            .agg(F.round(-F.sum(t), 6).alias(out))
        )

    out = (
        mi_row.crossJoin(F.broadcast(_entropy(mx, "nx", "h_x")))
        .crossJoin(F.broadcast(_entropy(my, "ny", "h_y")))
    )
    return out.select(
        "n",
        "cells",
        "mi",
        "h_x",
        "h_y",
        F.when(
            (F.col("h_x") > 0) & (F.col("h_y") > 0),
            F.round(
                F.col("mi") / F.sqrt(F.col("h_x") * F.col("h_y")), 6
            ),
        ).alias("nmi"),
    )


# cumulative Poisson(1) CDF thresholds F(k) = e^{-1}·Σ_{i<=k} 1/i!, k = 0..8;
# nine literals shared VERBATIM with SQL oracles (repr on both sides), so the
# weight lookup is a pure threshold comparison — no exp/factorial at runtime
_POIS1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
    0.9999988747974021,
]


def poisson_bootstrap_means(
    df: DataFrame,
    id_col: str,
    value_col: str,
    n_boot: int = 32,
    scale: int = 100,
    seed: str = "boot",
) -> DataFrame:
    """Poisson bootstrap (the web-scale bootstrap: per-row weights drawn
    Poisson(1) instead of multinomial resampling, so no global coordination
    — each row decides its own replicate multiplicities independently;
    Chamandy et al., "Estimating Uncertainty for Massive Data Streams",
    Google 2012): ``n_boot`` resample means of ``value_col``.

    Derandomized: replicate b's weight for a row is the inverse-CDF lookup
    of ``u = (stage2_padded(id || ':' || b || ':' || seed)+1) / 2^31`` over
    the precomputed Poisson(1) CDF literals (capped at 9 — P(W>8) < 2e-6).
    Values are fixed-pointed (``round(v·scale)``, cents by default) so both
    per-replicate sums are exact BIGINTs; the mean is the one float.

    Output: one row per replicate ``(b, n_eff, mean)`` — the caller takes
    the spread (e.g. percentile CI) driver-side over n_boot rows.

    Scale: one explode (×n_boot) + one combinable groupBy on b — no
    shuffle of the raw table beyond the n_boot-row aggregate; memory is
    O(n_boot) per task."""
    from kgforge.datapipe.sketch import _stage2_padded

    d = df.filter(F.col(value_col).isNotNull()).select(
        F.col(id_col).cast("string").alias("_i"),
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("_x"),
        F.explode(
            F.sequence(F.lit(0), F.lit(int(n_boot) - 1))
        ).alias("b"),
    )
    u = (
        _stage2_padded(
            F.concat_ws(":", F.col("_i"), F.col("b").cast("string"),
                        F.lit(seed))
        )
        + F.lit(1)
    ).cast("double") / F.lit(2147483648.0)
    w = F.lit(9)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(w)
    return (
        d.withColumn("_w", w.cast("bigint"))
        .groupBy("b")
        .agg(
            F.sum("_w").cast("bigint").alias("n_eff"),
            F.sum(F.col("_w") * F.col("_x")).cast("bigint").alias("_s"),
        )
        .select(
            "b",
            "n_eff",
            F.round(
                F.when(
                    F.col("n_eff") > 0,
                    F.col("_s").cast("double") / F.col("n_eff") / scale,
                ),
                6,
            ).alias("mean"),
        )
    )


def corr_matrix(
    df: DataFrame, group_cols: list[str], value_cols: list[str]
) -> DataFrame:
    """Pairwise Pearson correlation matrix per group from exact int64
    moment sums — the one-pass profiling step a feature-engineering
    pipeline runs before dropping collinear columns.

    Every value column is cast to int64 so the d + d(d+1)/2 moment sums
    (Σxᵢ, Σxᵢxⱼ) are EXACT and order-independent; the only floating point
    is the shared closed form

        r = (nΣxy − ΣxΣy) / sqrt((nΣxx − (Σx)²)(nΣyy − (Σy)²))

    evaluated once per pair and rounded to 6 decimals (r ∈ [−1, 1], so the
    round absorbs cross-engine last-ulp division/sqrt drift).  NULL when
    either column is constant in the group.  Caller owns overflow headroom
    as in :func:`groupwise_ols` (n·Σxy must fit the double mantissa after
    the exact int64 sum — values bounded by V need n²V² < 2⁵³ for the
    final product to stay exact, and far looser for 6-decimal agreement).

    Output: one row per (group, colᵢ, colⱼ) with i < j in ``value_cols``
    order — ``(group_cols…, col_x, col_y, n, r)``.

    Scale shape: ONE map-side-combinable groupBy.agg (width O(d²) columns,
    d = len(value_cols) is small by construction), then a posexplode of the
    pair array — no joins, no second scan, skew-immune like every
    moment-sum operator here."""
    d = len(value_cols)
    cast = {c: F.col(c).cast("bigint") for c in value_cols}
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for i, ci in enumerate(value_cols):
        aggs.append(F.sum(cast[ci]).alias(f"_s{i}"))
        for j in range(i, d):
            aggs.append(F.sum(cast[ci] * cast[value_cols[j]]).alias(f"_p{i}_{j}"))
    g = df.groupBy(*group_cols).agg(*aggs)

    n = F.col("_n").cast("double")
    pair_structs = []
    for i in range(d):
        for j in range(i + 1, d):
            sx = F.col(f"_s{i}").cast("double")
            sy = F.col(f"_s{j}").cast("double")
            sxx = F.col(f"_p{i}_{i}").cast("double")
            syy = F.col(f"_p{j}_{j}").cast("double")
            sxy = F.col(f"_p{i}_{j}").cast("double")
            vx = n * sxx - sx * sx
            vy = n * syy - sy * sy
            r = F.when(
                (vx > 0) & (vy > 0),
                F.round((n * sxy - sx * sy) / F.sqrt(vx * vy), 6),
            )
            pair_structs.append(
                F.struct(
                    F.lit(value_cols[i]).alias("col_x"),
                    F.lit(value_cols[j]).alias("col_y"),
                    r.alias("r"),
                )
            )
    return (
        g.select(*group_cols, F.col("_n").alias("n"),
                 F.explode(F.array(*pair_structs)).alias("_pr"))
        .select(*group_cols, "_pr.col_x", "_pr.col_y", "n", "_pr.r")
    )

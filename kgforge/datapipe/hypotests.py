"""Distributed two-sample / independence hypothesis tests.

Data-curation pipelines constantly ask "did this distribution change?" —
between two corpus sources, before/after a filter, between a training and a
holdout split.  These operators answer it with the classical tests, built so
the heavy part is integer-exact and order-free (safe under any aggregation
order) and only the final one-row scalar math runs in floating point:

- :func:`ks_two_sample` — two-sample Kolmogorov–Smirnov.  D is computed as an
  INTEGER maximum ``max|ca·nb − cb·na|`` over the step points of the two
  empirical CDFs, divided once at the end; the p-value is the Kolmogorov
  asymptotic series with the Stephens small-sample correction
  (Numerical Recipes §14.3.3, public).
- :func:`mann_whitney_u` — Wilcoxon rank-sum with midrank tie handling and
  the tie-corrected normal approximation.  The rank sum is kept doubled
  (``2·R_a``) so midranks stay integers.
- :func:`chi_square_independence` — r×c contingency test via the identity
  ``χ² = Σ o²·N/(nx·ny) − N`` (zero cells contribute nothing), plus Cramér's
  V and a Wilson–Hilferty normal approximation for the p-value.
- :func:`spearman_corr` — Spearman's ρ with ties, as Pearson over doubled
  midranks (scaling both axes by 2 leaves ρ unchanged); every sum is an
  exact BIGINT, only the final one-row formula is floating point.

Normal/Kolmogorov tail probabilities use elementary-op approximations
(Abramowitz & Stegun 7.1.26 for erfc, |ε| ≤ 1.5e-7) written with the same
expression tree in the DuckDB oracle mirrors, so the driver's value-level
correctness gate checks them digit-for-digit at round-6.

Scale notes: the cumulative-CDF steps run over the DISTINCT-value table
(one row per distinct value), ordered with the range-partition + fused
per-partition-offset pattern from :mod:`kgforge.rank` — one collect of one
row per partition, never a single-partition global window.  The tests
checkpoint each cumulative table and release its range-partitioned cache,
so a result reads no cache.  Integer bounds:
rank sums stay under 2^63 while ``n < ~1.3e6 per test pair`` for Spearman
(``Σ(2r)² ≤ 4n³``) and tie cubes while the largest tie group is < ~2^21
rows; beyond that, swap the commented casts to ``decimal(38,0)``.

No counterpart in the reference (its KPIs stop at k-anonymity counting,
``Anonymization.java``); this layer serves the corpus-curation side.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgforge.rank import _ranged_with_pid


def _erfc_as(x):
    """Abramowitz & Stegun 7.1.26 complementary error function for x ≥ 0:
    ``erfc(x) ≈ poly(t)·e^{−x²}``, ``t = 1/(1+0.3275911·x)`` (|ε| ≤ 1.5e-7).
    The nesting below is mirrored verbatim in the SQL oracles — keep the
    expression tree identical so IEEE evaluation matches digit-for-digit."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = t * (
        F.lit(0.254829592)
        + t
        * (
            F.lit(-0.284496736)
            + t
            * (
                F.lit(1.421413741)
                + t * (F.lit(-1.453152027) + t * F.lit(1.061405429))
            )
        )
    )
    return poly * F.exp(-(x * x))


def _normal_sf2(z):
    """Two-sided normal tail ``P(|Z| > |z|) = erfc(|z|/√2)``."""
    return _erfc_as(F.abs(z) / F.lit(math.sqrt(2.0)))


def _with_cumsums(
    cells: DataFrame, order_col: str, sum_cols: list[str], cleanup: list,
) -> DataFrame:
    """Inclusive running sums of several BIGINT columns under ONE ordering in
    ONE range-partitioned pass: repartitionByRange on the sort key, a single
    fused per-partition agg collect (one row per partition, all columns at
    once — the fused-offsets pattern), then per-partition windows spliced by
    broadcast offsets.  ``cells`` must be unique on ``order_col`` (it is a
    groupBy output everywhere below), so tie order is a non-issue."""
    spark = cells.sparkSession
    npart = max(spark.sparkContext.defaultParallelism, 1)
    d = _ranged_with_pid(cells, [order_col], npart, cleanup)
    per_pid = d.groupBy("_pid").agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    ).collect()
    totals = {r["_pid"]: r for r in per_pid}
    acc = {c: 0 for c in sum_cols}
    offs = []
    for pid in sorted(totals):
        offs.append(tuple([pid] + [acc[c] for c in sum_cols]))
        for c in sum_cols:
            acc[c] += totals[pid][c] or 0
    schema = "_pid int, " + ", ".join(f"_off_{c} long" for c in sum_cols)
    off_df = spark.createDataFrame(
        offs or [tuple([0] + [0] * len(sum_cols))], schema=schema
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = d.join(F.broadcast(off_df), "_pid")
    for c in sum_cols:
        out = out.withColumn(f"cum_{c}", F.sum(c).over(w) + F.col(f"_off_{c}"))
    return out.drop("_pid", *[f"_off_{c}" for c in sum_cols])


def _two_group_cells(
    df: DataFrame, value_col: str, group_col: str, group_a, group_b
) -> DataFrame:
    """Distinct-value table with per-group counts: (v, na_v, nb_v).
    NULL values are dropped (a NULL has no place on either CDF axis)."""
    return (
        df.filter(F.col(group_col).isin([group_a, group_b]))
        .filter(F.col(value_col).isNotNull())
        .select(
            F.col(value_col).alias("v"),
            F.when(F.col(group_col) == F.lit(group_a), F.lit(1))
            .otherwise(F.lit(0))
            .alias("_ia"),
        )
        .groupBy("v")
        .agg(
            F.sum("_ia").cast("bigint").alias("na_v"),
            F.sum(F.lit(1) - F.col("_ia")).cast("bigint").alias("nb_v"),
        )
    )


def ks_two_sample(
    df: DataFrame, value_col: str, group_col: str, group_a, group_b,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test between two groups of one column.

    Output: one row ``(n_a, n_b, d_stat, p_value)``.  The supremum gap is
    exact: both empirical CDFs are step functions that only move at distinct
    data values, so ``D = max_v |F_a(v) − F_b(v)|`` over the distinct-value
    table, evaluated as the integer ``max|ca·nb − cb·na|`` and divided by
    ``na·nb`` once.  p-value: λ = (√ne + 0.12 + 0.11/√ne)·D with
    ne = na·nb/(na+nb), then the Kolmogorov series
    ``2·Σ_{k=1..100} (−1)^{k−1} e^{−2k²λ²}`` clamped to [0, 1].
    """
    cells = _two_group_cells(df, value_col, group_col, group_a, group_b)
    caches: list = []
    try:
        cum = _with_cumsums(
            cells, "v", ["na_v", "nb_v"], caches
        ).localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()
    tot = cells.agg(
        F.sum("na_v").cast("bigint").alias("na"),
        F.sum("nb_v").cast("bigint").alias("nb"),
    )
    d_num = (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("na").alias("na"),
            F.max("nb").alias("nb"),
            F.max(
                F.abs(
                    F.col("cum_na_v") * F.col("nb")
                    - F.col("cum_nb_v") * F.col("na")
                )
            ).alias("dnum"),
        )
    )
    d_col = F.col("dnum").cast("double") / (F.col("na") * F.col("nb"))
    en = F.sqrt(
        F.col("na").cast("double") * F.col("nb") / (F.col("na") + F.col("nb"))
    )
    lam = (en + F.lit(0.12) + F.lit(0.11) / en) * F.col("d")
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0.0),
        lambda acc, k: acc
        + F.when(k % 2 == 1, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.exp(F.lit(-2.0) * (k * k).cast("double") * F.col("lam") * F.col("lam")),
    )
    return (
        d_num.withColumn("d", d_col)
        .withColumn("lam", lam)
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.round(F.col("d"), 6).alias("d_stat"),
            F.round(
                F.least(
                    F.lit(1.0), F.greatest(F.lit(0.0), F.lit(2.0) * series)
                ),
                6,
            ).alias("p_value"),
        )
    )


def mann_whitney_u(
    df: DataFrame, value_col: str, group_col: str, group_a, group_b,
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) with midrank ties and the
    tie-corrected normal approximation.

    Output: one row ``(n_a, n_b, u_a, z, p_value)``; ``u_a`` is group-a's U.
    Midranks stay integer by doubling: a distinct value v with n_v members
    entering at inclusive cumulative count c has doubled midrank
    ``2·c − n_v + 1``, so ``2·R_a = Σ na_v·(2c − n_v + 1)`` is an exact
    BIGINT sum, ``2·U_a = 2·R_a − na(na+1)``, and
    ``z = (2U_a − na·nb) / (2σ)`` with the tie-corrected
    ``σ² = na·nb/12 · (N+1 − T/(N(N−1)))``, ``T = Σ(n_v³ − n_v)``.
    z (and p) are NULL when every value is tied (σ = 0).
    """
    cells = _two_group_cells(df, value_col, group_col, group_a, group_b)
    cells = cells.withColumn("n_v", F.col("na_v") + F.col("nb_v"))
    caches: list = []
    try:
        cum = _with_cumsums(cells, "v", ["n_v"], caches).localCheckpoint(
            eager=True
        )
    finally:
        for c in caches:
            c.unpersist()
    agg = cum.agg(
        F.sum("na_v").cast("bigint").alias("na"),
        F.sum("nb_v").cast("bigint").alias("nb"),
        F.sum(
            F.col("na_v")
            * (F.lit(2) * F.col("cum_n_v") - F.col("n_v") + F.lit(1))
        )
        .cast("bigint")
        .alias("two_ra"),
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .cast("bigint")
        .alias("tie_t"),
    )
    nn = F.col("na") + F.col("nb")
    two_ua = F.col("two_ra") - F.col("na") * (F.col("na") + F.lit(1))
    var = (
        F.col("na").cast("double")
        * F.col("nb")
        * (
            (nn + F.lit(1)).cast("double")
            - F.col("tie_t").cast("double") / (nn * (nn - F.lit(1))).cast("double")
        )
        / F.lit(12.0)
    )
    z = F.when(
        F.col("var") > 0,
        (F.col("two_ua").cast("double") - F.col("na").cast("double") * F.col("nb"))
        / (F.lit(2.0) * F.sqrt(F.col("var"))),
    )
    return (
        agg.withColumn("two_ua", two_ua)
        .withColumn("var", var)
        .withColumn("z0", z)
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            (F.col("two_ua").cast("double") / F.lit(2.0)).alias("u_a"),
            F.round(F.col("z0"), 6).alias("z"),
            F.round(_normal_sf2(F.col("z0")), 6).alias("p_value"),
        )
    )


def chi_square_independence(df: DataFrame, col_x: str, col_y: str) -> DataFrame:
    """Pearson chi-square test of independence between two categoricals.

    Output: one row ``(n, r_levels, c_levels, dof, chi2, cramers_v,
    p_value)``.  Uses ``χ² = Σ_cells o²·N/(nx·ny) − N`` (cells absent from
    the contingency table have o = 0 and contribute nothing, so only
    OBSERVED cells are scanned); Cramér's V = √(χ²/(N·min(r−1, c−1)));
    p-value by the Wilson–Hilferty cube-root normal approximation
    ``z = ((χ²/ν)^⅓ − (1 − 2/9ν)) / √(2/9ν)``, one-sided upper tail.
    dof = 0 (a single-level side) yields NULL chi2 diagnostics.

    Scale: one groupBy on (x, y) — the contingency table — marginals
    re-aggregated from the cells, broadcast back (same shape as
    :func:`kgforge.datapipe.stats.mutual_information`).  NULL categories
    group as ordinary values."""
    cells = (
        df.select(F.col(col_x).alias("x"), F.col(col_y).alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nxy"))
    )
    mx = cells.groupBy("x").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = cells.groupBy("y").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = cells.agg(F.sum("nxy").cast("bigint").alias("n"))
    dims = (
        mx.agg(F.count(F.lit(1)).cast("bigint").alias("r"))
        .crossJoin(F.broadcast(my.agg(F.count(F.lit(1)).cast("bigint").alias("c"))))
    )
    j = (
        cells.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "y")
        .crossJoin(F.broadcast(tot))
    )
    chi = j.agg(
        F.max("n").alias("n"),
        F.sum(
            F.col("nxy").cast("double")
            * F.col("nxy")
            * F.col("n")
            / (F.col("nx") * F.col("ny"))
        ).alias("s"),
    ).select("n", (F.col("s") - F.col("n")).alias("chi2"))
    out = chi.crossJoin(F.broadcast(dims))
    dof = (F.col("r") - F.lit(1)) * (F.col("c") - F.lit(1))
    out = out.withColumn("dof", dof)
    nu = F.col("dof").cast("double")
    z_wh = (
        F.cbrt(F.col("chi2") / nu)
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * nu))
    ) / F.sqrt(F.lit(2.0) / (F.lit(9.0) * nu))
    # one-sided upper tail: p = erfc(z/√2)/2 for z ≥ 0, 1 − erfc(|z|/√2)/2 below
    half = _erfc_as(F.abs(F.col("z_wh")) / F.lit(math.sqrt(2.0))) / F.lit(2.0)
    p = F.when(F.col("z_wh") >= 0, half).otherwise(F.lit(1.0) - half)
    return (
        out.withColumn("z_wh", F.when(dof > 0, z_wh))
        .select(
            "n",
            F.col("r").alias("r_levels"),
            F.col("c").alias("c_levels"),
            "dof",
            F.round(F.when(dof > 0, F.col("chi2")), 6).alias("chi2"),
            F.round(
                F.when(
                    dof > 0,
                    F.sqrt(
                        F.col("chi2")
                        / (
                            F.col("n")
                            * F.least(F.col("r") - F.lit(1), F.col("c") - F.lit(1))
                        )
                    ),
                ),
                6,
            ).alias("cramers_v"),
            F.round(F.when(dof > 0, p), 6).alias("p_value"),
        )
    )


def spearman_corr(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Spearman rank correlation with midrank ties.

    Output: one row ``(n, rho)``.  Scaling every midrank by 2 keeps them
    integer (``2·midrank = 2c − n_v + 1`` at inclusive cumulative count c)
    and leaves Pearson-over-ranks unchanged, so all five sufficient sums
    (Σx, Σy, Σx², Σy², Σxy over doubled ranks) are exact BIGINTs; only the
    final one-row formula runs in floating point.  Rows with a NULL on
    either axis are dropped.

    Scale: one distinct-value cumulative pass per axis (range-partitioned,
    fused offsets), two value-equality joins back onto the rows (AQE
    broadcasts the rank dictionaries when small), one sufficient-stats agg.
    BIGINT-safe while n < ~1.3e6 rows per call (Σ(2r)² ≤ 4n³ < 2^63)."""
    rows0 = (
        df.select(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )

    def ranks(col: str, out: str) -> DataFrame:
        c = rows0.groupBy(col).agg(F.count(F.lit(1)).cast("bigint").alias("n_v"))
        caches: list = []
        try:
            cum = _with_cumsums(c, col, ["n_v"], caches).localCheckpoint(
                eager=True
            )
        finally:
            for d in caches:
                d.unpersist()
        return cum.select(
            col,
            (F.lit(2) * F.col("cum_n_v") - F.col("n_v") + F.lit(1)).alias(out),
        )

    j = rows0.join(ranks("a", "r2a"), "a").join(ranks("b", "r2b"), "b")
    s = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("r2a").cast("bigint").alias("sx"),
        F.sum("r2b").cast("bigint").alias("sy"),
        F.sum(F.col("r2a") * F.col("r2a")).cast("bigint").alias("sxx"),
        F.sum(F.col("r2b") * F.col("r2b")).cast("bigint").alias("syy"),
        F.sum(F.col("r2a") * F.col("r2b")).cast("bigint").alias("sxy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        "n",
        F.round(F.when(den > 0, num / den), 6).alias("rho"),
    )


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str, scale: int = 100
) -> DataFrame:
    """One-way ANOVA: does the mean of ``value_col`` differ across the
    levels of ``group_col``?

    Output: one row ``(n, k_groups, f_stat, eta_sq, p_value)``.  Values are
    fixed-pointed to integers (``round(value·scale)`` — cents by default, so
    TPC-H two-decimal money is EXACT) making every sufficient sum (n_g,
    Σx_g, Σx²_g) an order-free BIGINT; the only cross-group float sum,
    ``Σ_g s_g²/n_g``, is folded over the group list SORTED BY GROUP KEY so
    the IEEE addition order is fixed and an external oracle reproduces it
    bit-for-bit.  p-value via the Paulson–Wilson–Hilferty cube-root normal
    approximation of the F distribution (elementary ops only, mirrored
    verbatim in SQL):

        z = [(1 − 2/(9·d2))·F^⅓ − (1 − 2/(9·d1))]
            / √(F^⅔·2/(9·d2) + 2/(9·d1))

    Scale: one map-side-combinable groupBy (k rows out), one single-row
    agg.  BIGINT-safe while Σx² < 2^63 (~10^5 rows of 10^6-cent values per
    ~10^6 groups; money-sized data never gets close).  NULL values drop;
    NULL group keys form their own level."""
    g = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(group_col).cast("string").alias("g"),
            F.round(F.col(value_col) * scale, 0).cast("bigint").alias("x"),
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_g"),
            F.sum("x").cast("bigint").alias("s_g"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("q_g"),
        )
    )
    one = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("bigint").alias("s"),
        F.sum("q_g").cast("bigint").alias("q"),
        F.aggregate(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.coalesce(F.col("g"), F.lit("\x00")).alias("g"),
                        (
                            F.col("s_g").cast("double")
                            * F.col("s_g")
                            / F.col("n_g")
                        ).alias("t"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("sw"),
    )
    n = F.col("n").cast("double")
    sstot = F.col("q") - F.col("s").cast("double") * F.col("s") / n
    ssb = F.col("sw") - F.col("s").cast("double") * F.col("s") / n
    ssw = sstot - ssb
    d1 = (F.col("k") - F.lit(1)).cast("double")
    d2 = (F.col("n") - F.col("k")).cast("double")
    fstat = (ssb / d1) / (ssw / d2)
    z = (
        (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * d2)) * F.cbrt(F.col("f"))
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * d1))
    ) / F.sqrt(
        F.cbrt(F.col("f")) * F.cbrt(F.col("f")) * F.lit(2.0) / (F.lit(9.0) * d2)
        + F.lit(2.0) / (F.lit(9.0) * d1)
    )
    half = _erfc_as(F.abs(F.col("z")) / F.lit(math.sqrt(2.0))) / F.lit(2.0)
    p = F.when(F.col("z") >= 0, half).otherwise(F.lit(1.0) - half)
    ok = (F.col("k") > 1) & (d2 > 0) & (ssw > 0)
    return (
        one.withColumn("f", F.when(ok, fstat))
        .withColumn("z", F.when(ok, z))
        .select(
            "n",
            F.col("k").alias("k_groups"),
            F.round(F.col("f"), 6).alias("f_stat"),
            F.round(F.when(sstot > 0, ssb / sstot), 6).alias("eta_sq"),
            F.round(F.when(ok, p), 6).alias("p_value"),
        )
    )


def welch_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    scale: int = 100,
) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between the rows where
    ``group_col`` equals ``group_a`` vs ``group_b``.

    Output: one row ``(n_a, n_b, t_stat, df_ws, p_value)``.  Same exactness
    scheme as :func:`anova_oneway`: values fixed-pointed to integers so the
    six sufficient sums are order-free BIGINTs, then ONE row of float math:

        t  = (m_a − m_b) / √(v_a/n_a + v_b/n_b)
        df = (v_a/n_a + v_b/n_b)² /
             [(v_a/n_a)²/(n_a−1) + (v_b/n_b)²/(n_b−1)]   (Welch–Satterthwaite)

    with v the unbiased sample variance.  The p-value uses the NORMAL
    approximation of the t distribution (two-sided ``erfc(|t|/√2)``) —
    accurate to ~1e-3 once df ≳ 100; this operator targets corpus-scale
    groups, and the approximation is documented so small-df callers know.

    Scale: one filtered conditional agg, no shuffle beyond the map-side
    combine."""
    d = df.filter(
        F.col(group_col).isin([group_a, group_b])
        & F.col(value_col).isNotNull()
    ).select(
        (F.col(group_col) == F.lit(group_a)).alias("ia"),
        F.round(F.col(value_col) * scale, 0).cast("bigint").alias("x"),
    )
    s = d.agg(
        F.sum(F.when(F.col("ia"), 1).otherwise(0)).cast("bigint").alias("na"),
        F.sum(F.when(~F.col("ia"), 1).otherwise(0)).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("ia"), F.col("x")).otherwise(0)).cast("bigint").alias("sa"),
        F.sum(F.when(~F.col("ia"), F.col("x")).otherwise(0)).cast("bigint").alias("sb"),
        F.sum(F.when(F.col("ia"), F.col("x") * F.col("x")).otherwise(0))
        .cast("bigint").alias("qa"),
        F.sum(F.when(~F.col("ia"), F.col("x") * F.col("x")).otherwise(0))
        .cast("bigint").alias("qb"),
    )
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    va = (F.col("qa") - F.col("sa").cast("double") * F.col("sa") / na) / (na - 1)
    vb = (F.col("qb") - F.col("sb").cast("double") * F.col("sb") / nb) / (nb - 1)
    ua, ub = va / na, vb / nb
    # numerator and denominator are both in scaled units, so t is
    # invariant to the fixed-point scale
    t = (F.col("sa").cast("double") / na - F.col("sb").cast("double") / nb) / F.sqrt(ua + ub)
    dfw = (ua + ub) * (ua + ub) / (ua * ua / (na - 1) + ub * ub / (nb - 1))
    ok = (F.col("na") > 1) & (F.col("nb") > 1) & ((va + vb) > 0)
    return s.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(F.when(ok, t), 6).alias("t_stat"),
        F.round(F.when(ok, dfw), 6).alias("df_ws"),
        F.round(F.when(ok, _normal_sf2(t)), 6).alias("p_value"),
    )


def kendall_tau(
    df: DataFrame,
    id_col: str,
    col_a: str,
    col_b: str,
    sample_mod: int = 1,
) -> DataFrame:
    """Kendall's τ-b rank correlation with tie corrections.

    Output: one row ``(n, concordant, discordant, ties_a, ties_b, tau_b)``
    — the four pair classes are exact BIGINTs; τ-b = (C − D) /
    √((C+D+Tx)(C+D+Ty)) is the only float, rounded to 6.

    Pair counting is inherently O(n²) (the merge-sort O(n log n) trick
    does not distribute without a global sort), so this operator REQUIRES
    a bounded input and enforces it: rows are pre-thinned to the
    deterministic portable-hash sample ``poly_hash(id) % sample_mod == 0``
    (``sample_mod=1`` keeps everything).  Size the sample to ≲5k rows —
    25M codegen pair comparisons, still sub-second — and treat the result
    as the estimate it is.  The self-join is a half-matrix ``id_a < id_b``
    broadcast-range join; both NULL axes drop."""
    from kgforge.datapipe.dedup import poly_hash

    base = (
        df.filter(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .select(
            F.col(id_col).cast("string").alias("i"),
            F.col(col_a).alias("a"),
            F.col(col_b).alias("b"),
        )
    )
    if sample_mod > 1:
        base = base.filter(poly_hash(F.col("i")) % sample_mod == 0)
    l, r = base.alias("l"), base.alias("r")
    pairs = l.join(r, F.col("l.i") < F.col("r.i"))
    sa = F.when(F.col("l.a") < F.col("r.a"), 1).when(
        F.col("l.a") > F.col("r.a"), -1
    ).otherwise(0)
    sb = F.when(F.col("l.b") < F.col("r.b"), 1).when(
        F.col("l.b") > F.col("r.b"), -1
    ).otherwise(0)
    cls = (
        pairs.select(sa.alias("sa"), sb.alias("sb"))
        .agg(
            F.sum(F.when((F.col("sa") * F.col("sb")) == 1, 1).otherwise(0))
            .cast("bigint").alias("c"),
            F.sum(F.when((F.col("sa") * F.col("sb")) == -1, 1).otherwise(0))
            .cast("bigint").alias("d"),
            F.sum(
                F.when((F.col("sa") == 0) & (F.col("sb") != 0), 1).otherwise(0)
            ).cast("bigint").alias("tx"),
            F.sum(
                F.when((F.col("sb") == 0) & (F.col("sa") != 0), 1).otherwise(0)
            ).cast("bigint").alias("ty"),
        )
        .crossJoin(
            F.broadcast(base.agg(F.count(F.lit(1)).cast("bigint").alias("n")))
        )
    )
    den = F.sqrt(
        (F.col("c") + F.col("d") + F.col("tx")).cast("double")
        * (F.col("c") + F.col("d") + F.col("ty"))
    )
    return cls.select(
        "n",
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("tx").alias("ties_a"),
        F.col("ty").alias("ties_b"),
        F.round(F.when(den > 0, (F.col("c") - F.col("d")) / den), 6)
        .alias("tau_b"),
    )


def bh_fdr(
    df: DataFrame,
    p_col: str,
    alpha: float,
    group_cols: list[str] | None = None,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Benjamini–Hochberg step-up FDR control over a table of p-values —
    the multiple-testing closer for this module's test family (run
    thousands of per-segment KS / chi-square / Mann-Whitney tests, then
    keep discoveries at FDR α).

    Per family (``group_cols``; one global family when None): sort the m
    p-values ascending (``id_cols`` break ties deterministically), find
    k* = max{ i : p₍ᵢ₎ ≤ i·α/m }, and reject exactly the hypotheses with
    p ≤ p₍k*₎ — the step-up rule, which rejects a prefix of the sorted
    list, so tied p-values always decide together regardless of the
    tiebreak.  The only floats are i·α/m comparisons of exact integers
    against the input p — identical in any IEEE engine.

    Output: the input keys plus ``(p, i, m, crit, rejected)`` where crit
    = i·α/m is emitted RAW (both engines compute the identical IEEE
    double from exact integers — rounding it would reintroduce exact-half
    divergence: 162·0.05/320 is a tie at the 6th decimal and HALF_UP vs
    half-even engines disagree).

    Scale shape: one window shuffle on the family key + one
    map-side-combinable agg for the per-family threshold, joined back
    broadcast-sized (one row per family).  Families are test batteries —
    bounded per-group cardinality; a single global family with billions of
    tests should pre-bucket p into a fixed grid first (the step-up rule
    only needs the grid counts)."""
    g = list(group_cols or [])
    ids = list(id_cols or [])
    d = df.select(*g, *ids, F.col(p_col).cast("double").alias("p"))
    if g:
        w = Window.partitionBy(*g).orderBy("p", *ids)
        d = d.withColumn("i", F.row_number().over(w).cast("bigint")).withColumn(
            "m", F.count(F.lit(1)).over(Window.partitionBy(*g)).cast("bigint")
        )
    else:
        # global family: NEVER a single-partition window — the range-
        # partitioned rank helper plus one driver-sized count scalar.  Both
        # downstream executions of d must read the SAME range partitioning,
        # so d is checkpointed before the helper's cache is released
        from kgforge.rank import with_global_rank

        m_total = d.count()
        caches: list = []
        try:
            d = with_global_rank(
                d, [F.col("p"), *[F.col(c) for c in ids]], out="i",
                cleanup=caches,
            ).localCheckpoint(eager=True)
        finally:
            for c in caches:
                c.unpersist()
        d = d.withColumn("i", F.col("i") + 1).withColumn(
            "m", F.lit(m_total).cast("bigint")
        )
    crit = F.col("i").cast("double") * F.lit(float(alpha)) / F.col("m").cast("double")
    d = d.withColumn("_ok", F.col("p") <= crit)
    thr = d.filter("_ok").groupBy(*g).agg(F.max("p").alias("_thr"))
    out = d.join(thr, g, "left") if g else d.crossJoin(
        F.broadcast(thr.select(F.col("_thr")))
    )
    return out.select(
        *g,
        *ids,
        "p",
        "i",
        "m",
        crit.alias("crit"),
        F.coalesce(F.col("p") <= F.col("_thr"), F.lit(False)).alias("rejected"),
    )

"""Privacy KPIs beyond k-anonymity: l-diversity and t-closeness.

The reference computes only k-anonymity (service/KpiService.java); these are
the standard companion metrics (Machanavajjhala et al. 2007; Li et al. 2007)
an anonymization engine reports alongside it.  Both reduce to map-side-
combinable aggregations over the quasi-identifier group key — no self-joins,
no pair sets — so a single giant group costs one combiner cell per
partition, not a pinned reducer.

l-diversity: a table is l-diverse when every quasi-identifier group contains
at least l distinct sensitive values.  The per-group entropy (and entropy
l-diversity = exp(entropy)) is reported alongside the distinct count.

t-closeness: a table is t-close when no group's sensitive-value distribution
is farther than t from the global distribution under total variation
distance.  For groups over present values only:
``TVD_g = 0.5 * (Σ_{v∈g} |p_gv − p_v| + (1 − Σ_{v∈g} p_v))`` — the second
term accounts for values absent from the group, so no group×value grid is
ever materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def l_diversity_by_group(
    df: DataFrame, group_cols: list[str], sensitive_col: str
) -> DataFrame:
    """Per quasi-identifier group: member count, distinct sensitive values
    (the l statistic), and Shannon entropy of the sensitive distribution
    (rounded to 6 — ln is the only libm call)."""
    gv = df.groupBy(*group_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    tot = gv.groupBy(*group_cols).agg(F.sum("_n").alias("_g"))
    p = F.col("_n") / F.col("_g")
    return (
        gv.join(tot, group_cols)
        .groupBy(*group_cols)
        .agg(
            F.max("_g").alias("group_size"),
            F.count(F.lit(1)).alias("l_distinct"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )


def l_diversity(df: DataFrame, group_cols: list[str], sensitive_col: str) -> int:
    """The table-level l: min distinct sensitive values over all groups."""
    row = (
        l_diversity_by_group(df, group_cols, sensitive_col)
        .agg(F.min("l_distinct"))
        .collect()[0]
    )
    return int(row[0]) if row[0] is not None else 0


def t_closeness_by_group(
    df: DataFrame, group_cols: list[str], sensitive_col: str
) -> DataFrame:
    """Per group: total variation distance of its sensitive distribution
    from the global one (categorical sensitive attribute), rounded to 6.

    Global per-value proportions are a tiny broadcast (one row per distinct
    sensitive value); everything else is combinable aggregation on the
    group key."""
    n_total = df.count()
    glob = (
        df.groupBy(sensitive_col)
        .agg((F.count(F.lit(1)) / F.lit(float(n_total))).alias("_pv"))
    )
    gv = df.groupBy(*group_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("_n")
    )
    tot = gv.groupBy(*group_cols).agg(F.sum("_n").alias("_g"))
    pgv = F.col("_n") / F.col("_g")
    return (
        gv.join(tot, group_cols)
        .join(F.broadcast(glob), sensitive_col)
        .groupBy(*group_cols)
        .agg(
            F.round(
                0.5
                * (
                    F.sum(F.abs(pgv - F.col("_pv")))
                    + (F.lit(1.0) - F.sum(F.col("_pv")))
                ),
                6,
            ).alias("tvd")
        )
    )


def t_closeness(df: DataFrame, group_cols: list[str], sensitive_col: str) -> float:
    """The table-level t: max TVD over all groups."""
    row = (
        t_closeness_by_group(df, group_cols, sensitive_col)
        .agg(F.max("tvd"))
        .collect()[0]
    )
    return float(row[0]) if row[0] is not None else 0.0


def suppress_small_groups(df: DataFrame, qi_cols: list[str], k: int,
                          mask: str = "*****") -> DataFrame:
    """Quasi-identifier suppression: rows whose QI combination occurs fewer
    than ``k`` times get every QI column replaced with ``mask`` (the
    generalize-then-suppress step that turns an almost-k-anonymous release
    into a k-anonymous one, at the cost of the suppressed cells; suppressed
    rows merge into one group, so the output is k-anonymous over the QI
    columns whenever the suppressed-row total itself reaches ``k``).

    Scale: one map-side-combinable groupBy over the QI tuple + ONE join of
    the group-count table back on the QI key — no second scan of the fact
    table; the count side is |distinct QI tuples| and AQE promotes it to a
    broadcast join at runtime when it is small (no hard broadcast hint: a
    high-cardinality QI space must be allowed to shuffle-join rather than
    OOM the driver).

    NULL quasi-identifier values form groups of their own: the join is
    null-safe (eqNullSafe per column), so a unique row with a NULL QI column
    is counted, matched, and suppressed like any other rare tuple — an
    equi-join would drop it to the unmasked branch and silently break the
    k-anonymity guarantee."""
    counts = df.groupBy(*qi_cols).agg(F.count(F.lit(1)).alias("_n"))
    counts = counts.select(
        *[F.col(c).alias(f"_qi{i}") for i, c in enumerate(qi_cols)], "_n"
    )
    cond = F.lit(True)
    for i, c in enumerate(qi_cols):
        cond = cond & df[c].eqNullSafe(counts[f"_qi{i}"])
    # every row's own tuple is in counts by construction → inner join keeps
    # all rows and _n is never null
    out = (
        df.join(counts, cond, "inner")
        .drop(*[f"_qi{i}" for i in range(len(qi_cols))])
        .withColumn("suppressed", F.col("_n") < k)
    )
    for c in qi_cols:
        out = out.withColumn(
            c,
            F.when(F.col("suppressed"), F.lit(mask)).otherwise(F.col(c).cast("string")),
        )
    return out.drop("_n")


def dp_group_counts(
    df: DataFrame,
    cols: list[str],
    epsilon: float,
    seed: str = "dp",
    sensitivity: float = 1.0,
) -> DataFrame:
    """ε-differentially-private group counts via the Laplace mechanism,
    derandomized: the uniform draw is a portable hash of the group key and
    ``seed``, pushed through the Laplace inverse CDF —

        u = (poly_hash(key || ':' || seed) + 1) / (2^31 + 1)   ∈ (0, 1)
        v = u - 0.5
        noise = -(sensitivity/ε) · sign(v) · ln(1 − 2·|v|)

    so the released counts are a pure function of (data, ε, seed) and an
    external SQL oracle reproduces them bit-for-bit (released value rounded
    to 6 decimals — cross-engine ``ln`` can differ in the last ulp).

    The ε-DP guarantee is the standard per-release one: reusing a seed
    across releases REUSES the noise (which composes like publishing the
    same release twice); a fresh release needs a fresh seed.  Counts have
    L1 sensitivity 1, hence the default.

    One map-side-combinable groupBy + codegen noise arithmetic; the noisy
    column never requires a second scan."""
    from kgforge.datapipe.dedup import _POLY_MOD, poly_hash

    key = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    u = (poly_hash(F.concat(key, F.lit(":" + seed))) + F.lit(1)).cast(
        "double"
    ) / F.lit(float(_POLY_MOD + 1))
    v = u - F.lit(0.5)
    b = float(sensitivity) / float(epsilon)
    noise = -F.lit(b) * F.signum(v) * F.log(F.lit(1.0) - 2.0 * F.abs(v))
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("released", F.round(F.col("n") + noise, 6))
    )


def microaggregate(
    df: DataFrame,
    value_col: str,
    k: int,
    id_col: str,
    out: str = "_centroid",
) -> DataFrame:
    """Univariate microaggregation: replace ``value_col`` with its
    k-member group centroid — numeric k-anonymity without a
    generalization hierarchy (Domingo-Ferrer & Mateo-Sanz 2002; for one
    attribute the optimal groups are contiguous in sorted order, Hansen &
    Sargent 2003).

    Rows are globally ranked by ``(value, id)`` (range partitioning +
    per-partition offsets — never a single-partition window), cut into
    consecutive groups of exactly ``k`` with the remainder absorbed into
    the last group (every group has k..2k-1 members, the standard fixed-k
    contract), and each row gets its group mean.  The group aggregation
    and join-back shuffle on the group id, so cost is two bounded
    shuffles regardless of value skew — a million ties still spread
    across ranks via the id tiebreaker.

    Returns the input columns plus ``out`` (double group centroid),
    ``{out}_n`` (group size) and ``{out}_gid``.  Requires ``k >= 1`` and
    a unique ``id_col`` for deterministic tie-breaking."""
    from kgforge.rank import with_global_rank

    if k < 1:
        raise ValueError("microaggregate requires k >= 1")
    n_total = df.count()
    if n_total == 0:
        return (
            df.withColumn(out, F.lit(None).cast("double"))
            .withColumn(f"{out}_n", F.lit(None).cast("bigint"))
            .withColumn(f"{out}_gid", F.lit(None).cast("bigint"))
        )
    n_groups = max(n_total // k, 1)
    caches: list = []
    try:
        ranked = with_global_rank(
            df, [F.col(value_col), F.col(id_col)], cleanup=caches
        )
        gid = F.least(
            F.expr(f"CAST(_rank AS BIGINT) div {int(k)}"),
            F.lit(n_groups - 1).cast("bigint"),
        ).alias(f"{out}_gid")
        # materialize before releasing the rank caches: the offsets were
        # collected against THIS range partitioning, so the assignment
        # must never be recomputed from source
        assigned = ranked.select(*df.columns, gid).localCheckpoint(
            eager=True
        )
    finally:
        for c in caches:
            c.unpersist()
    cents = assigned.groupBy(f"{out}_gid").agg(
        F.avg(F.col(value_col).cast("double")).alias(out),
        F.count(F.lit(1)).alias(f"{out}_n"),
    )
    return assigned.join(cents, f"{out}_gid").select(
        *df.columns, out, f"{out}_n", f"{out}_gid"
    )


def rank_swap(
    df: DataFrame,
    value_col: str,
    block: int,
    id_col: str,
    out: str = "_swapped",
) -> DataFrame:
    """Rank swapping: each row's ``value_col`` is exchanged with another
    row's value at most ``block - 1`` ranks away — the classic numeric
    SDC perturbation (Moore 1996; Domingo-Ferrer & Torra's comparative
    studies rank it among the best-scoring masking methods): values move
    between records, so marginal distributions are EXACTLY preserved
    while record linkage through the swapped attribute degrades.

    This is the deterministic block-reversal instance of the method:
    rows are globally ranked by ``(value, id)`` (range partitioning +
    per-partition offsets — never a single-partition window), the rank
    axis is cut into consecutive blocks of ``block``, and each block's
    values are assigned in REVERSED rank order (rank r takes the value
    at block_lo + block_hi - r).  Every row moves within its block, so
    the swap distance is bounded (the p%-proximity contract) and the
    result is a pure function of the data — reproducible across
    partitionings and engines, no RNG state to ship.

    Scale: the rank pass is the rank.py offsets discipline; the value
    exchange is ONE self-equi-join of the ranked frame on the mirrored
    rank (hash-partitioned on a dense bigint — never skewed).  Returns
    the input columns plus ``out`` (the swapped value).  Requires a
    unique ``id_col`` for deterministic tie-breaking and ``block >= 1``
    (block 1 is the identity)."""
    from kgforge.rank import with_global_rank

    if block < 1:
        raise ValueError("rank_swap requires block >= 1")
    n_total = df.count()
    if n_total == 0:
        return df.withColumn(out, F.lit(None).cast(dict(df.dtypes)[value_col]))
    caches: list = []
    try:
        ranked = with_global_rank(
            df, [F.col(value_col), F.col(id_col)], cleanup=caches
        )
        # materialize before releasing the rank caches: the offsets were
        # collected against THIS range partitioning, so the assignment
        # must never be recomputed from source
        assigned = ranked.select(*df.columns, "_rank").localCheckpoint(
            eager=True
        )
    finally:
        for c in caches:
            c.unpersist()
    b = int(block)
    blk_lo = F.expr(f"(_rank div {b}) * {b}")
    blk_hi = F.least(blk_lo + F.lit(b - 1), F.lit(n_total - 1))
    mirror = (blk_lo + blk_hi - F.col("_rank")).alias("_mirror")
    donors = assigned.select(
        F.col("_rank").alias("_mirror"), F.col(value_col).alias(out)
    )
    return (
        assigned.withColumn("_mirror", mirror)
        .join(donors, "_mirror")
        .select(*df.columns, out)
    )


def pseudonymize(
    df: DataFrame,
    col: str,
    out: str | None = None,
    prefix: str = "anon_",
    width: int = 9,
) -> DataFrame:
    """Deterministic pseudonym dictionary: every distinct value of
    ``col`` gets a stable opaque token ``<prefix><dense index>`` (the
    index is the value's 0-based position in sorted order), and rows are
    rewritten through the dictionary — consistent tokenization across
    the corpus (the same direct identifier always maps to the same
    pseudonym, so joins and group-bys still work downstream), with the
    original values recoverable only via the dictionary, which this
    function deliberately does not return.

    Scale: the dictionary is built on the DISTINCT values (one shuffle),
    indexed with the rank.py offsets discipline — never a
    single-partition window even for a billion-key dictionary — and
    joined back on the value (AQE broadcasts small dictionaries).
    Deterministic: sorted order, no RNG, reproducible across runs —
    callers needing unlinkability across releases should salt ``col``
    upstream.  Nulls stay null."""
    from kgforge.rank import with_global_rank

    out = out or f"{col}_pseudo"
    vals = df.select(col).filter(F.col(col).isNotNull()).distinct()
    caches: list = []
    try:
        ranked = with_global_rank(vals, [F.col(col)], cleanup=caches)
        dictionary = ranked.select(
            F.col(col),
            F.concat(
                F.lit(prefix), F.lpad(F.col("_rank").cast("string"), width, "0")
            ).alias(out),
        ).localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()
    return df.join(dictionary, col, "left")


def k_map(
    sample: DataFrame,
    population: DataFrame,
    qi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """Per-group k-map risk: for every quasi-identifier combination present
    in the RELEASED sample, how many records of the POPULATION share it.

    k-anonymity measures re-identifiability within the released table;
    k-map (El Emam & Dankar 2008) measures it against the population an
    attacker actually matches to — a released-unique row is safe if the
    population still hides it among ≥ k candidates.  Output: one row per
    sample QI group ``(*qi_cols, n_sample, n_population, at_risk)`` with
    ``at_risk = n_population < k`` (a sample group absent from the
    population — possible when ``population`` is itself a frame, e.g. a
    census projection — counts 0 and is at risk).

    Scale: two map-side-combinable groupBys (sample and population QI
    tables) and one join on the QI key — null-safe per column, so NULL QI
    values match their own population group instead of silently escaping
    the risk count (the suppress_small_groups lesson).  No broadcast hint:
    AQE broadcasts whichever side is small."""
    n_s = sample.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample")
    )
    n_p = population.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_population")
    )
    p = n_p
    for c in qi_cols:
        p = p.withColumnRenamed(c, f"_qi_{c}")
    cond = None
    for c in qi_cols:
        e = n_s[c].eqNullSafe(p[f"_qi_{c}"])
        cond = e if cond is None else (cond & e)
    joined = n_s.join(p, cond, "left")
    return joined.select(
        *[n_s[c] for c in qi_cols],
        "n_sample",
        F.coalesce(F.col("n_population"), F.lit(0).cast("bigint")).alias(
            "n_population"
        ),
        (
            F.coalesce(F.col("n_population"), F.lit(0).cast("bigint"))
            < F.lit(k)
        ).alias("at_risk"),
    )


def dp_group_sums(
    df: DataFrame,
    cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    epsilon: float,
    seed: str = "dpsum",
    scale: int = 100,
) -> DataFrame:
    """ε-DP group SUMS via clip + Laplace, derandomized like
    :func:`dp_group_counts` (same portable-hash inverse-CDF draw, so an
    external SQL oracle reproduces the release bit-for-bit).

    Each value is clamped to [lo, hi] — the clamp bounds the per-record L1
    sensitivity at max(|lo|, |hi|), which scales the noise — then
    fixed-pointed to ``round(v·scale)`` BIGINTs so the group sums are
    order-free and exact (cents by default; TPC-H money is exact at 100).
    NULL values count as 0 toward the sum (presence is already protected
    by the companion count release).  Released value = exact_sum + noise,
    rounded to 6 (cross-engine ``ln`` last-ulp).

    The per-release guarantee and seed-reuse caveat of dp_group_counts
    apply verbatim — and like there, the exact ``clipped_sum`` column is a
    NON-private diagnostic (publish only ``released``).  One combinable
    groupBy + codegen arithmetic."""
    from kgforge.datapipe.dedup import _POLY_MOD, poly_hash

    key = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols]
    )
    u = (poly_hash(F.concat(key, F.lit(":" + seed))) + F.lit(1)).cast(
        "double"
    ) / F.lit(float(_POLY_MOD + 1))
    v = u - F.lit(0.5)
    b = max(abs(lo), abs(hi)) / float(epsilon)
    noise = -F.lit(b) * F.signum(v) * F.log(F.lit(1.0) - 2.0 * F.abs(v))
    # Spark greatest/least IGNORE nulls (a NULL value would clip to a
    # bound, not to 0) — gate on non-null explicitly
    clipped = F.when(
        F.col(value_col).isNotNull(),
        F.round(
            F.greatest(
                F.lit(float(lo)), F.least(F.lit(float(hi)), F.col(value_col))
            )
            * scale,
            0,
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return (
        df.withColumn("_x", clipped)
        .groupBy(*cols)
        .agg(F.sum("_x").cast("bigint").alias("_s"))
        .select(
            *cols,
            (F.col("_s").cast("double") / scale).alias("clipped_sum"),
            F.round(F.col("_s").cast("double") / scale + noise, 6).alias(
                "released"
            ),
        )
    )


def randomized_response(
    df: DataFrame,
    id_col: str,
    col: str,
    categories: list[str],
    p_true: float = 0.75,
    seed: str = "rr",
) -> DataFrame:
    """Warner-style randomized response over a categorical column: each
    row reports its TRUE category with probability ``p_true``, otherwise a
    uniform draw from ``categories`` — the classic local-DP release (per
    row ε = ln(p + (1−p)/k) − ln((1−p)/k)).

    Derandomized like the Laplace operators: the keep/replace coin is the
    INTEGER comparison ``stage2(id:seed) < floor(p_true·2^31)`` (exact —
    no float boundary), and the replacement index is a second independent
    hash lane mod k.  Rows whose true value is outside ``categories`` are
    released as a uniform draw regardless (they cannot be represented
    truthfully without widening the domain).

    Output: the input frame with ``col`` replaced by the noisy value.  Use
    :func:`rr_frequency_estimate` to debias released counts.  Pure codegen
    — zero shuffle."""
    from kgforge.datapipe.sketch import _stage2_padded

    if not categories:
        raise ValueError("categories must not be empty")
    if not (0.0 < p_true <= 1.0):
        raise ValueError("p_true must be in (0, 1]")
    k = len(categories)
    thr = int(p_true * 2147483648.0)
    coin = _stage2_padded(
        F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))
    )
    pick = _stage2_padded(
        F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed + "#pick"))
    ) % F.lit(k)
    domain = F.array(*[F.lit(c) for c in sorted(categories)])
    noisy = F.when(
        (coin < F.lit(thr)) & F.col(col).isin(categories), F.col(col)
    ).otherwise(F.element_at(domain, (pick + F.lit(1)).cast("int")))
    return df.withColumn(col, noisy)


def rr_frequency_estimate(
    released: DataFrame, col: str, k: int, p_true: float = 0.75
) -> DataFrame:
    """Unbiased category-frequency estimator for a
    :func:`randomized_response` release: observed share
    ``q_c = p·π_c + (1−p)/k`` inverts to ``π̂_c = (q_c − (1−p)/k) / p``.

    Output: ``(category, n_obs, pi_hat)`` — counts exact, the estimate the
    one float (can be slightly negative for rare categories; that is the
    unbiasedness trade, not a bug).  One combinable groupBy."""
    n = released.groupBy(F.col(col).alias("category")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    tot = released.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    q = F.col("n_obs").cast("double") / F.col("_n")
    return (
        n.crossJoin(F.broadcast(tot))
        .select(
            "category",
            "n_obs",
            F.round(
                (q - F.lit((1.0 - p_true) / k)) / F.lit(p_true), 6
            ).alias("pi_hat"),
        )
    )


def dp_quantile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lo: int,
    hi: int,
    epsilon: float,
    seed: str = "dpq",
) -> DataFrame:
    """ε-DP median via the exponential mechanism (McSherry & Talwar 2007;
    the interval-sampling quantile form of Smith 2011), derandomized like
    every mechanism in this module: the two uniform draws are portable
    hashes of (group, seed), so the release is a pure function of
    (data, ε, seed) and mirrors bit-for-bit in SQL.

    The mechanism samples an inter-order-statistic gap with probability
    ∝ width·exp(−ε·|i − m|/2) (m = n div 2), then a point uniformly
    inside it.  Determinism discipline: each gap's exp factor is frozen
    to micro-units (round-6-family), widths are INTEGER domain units
    (``lo``/``hi`` integer bounds, integer-valued column — use cents),
    so the cumulative-weight ladder, threshold crossing, and released
    value are exact integer arithmetic — the kg_walks_biased ladder
    pattern.

    Privacy: standard per-release ε-DP with the usual caveats — bounds
    must be data-independent, a fresh release needs a fresh ``seed``
    (reuse republishes the same draw), and rank utility has sensitivity
    1.  Output: (group…, n, released).

    Scale shape: one rank window and one cumulative window per group
    (groups bounded), a per-group total + threshold join, no driver
    work."""
    from pyspark.sql import Window

    from kgforge.datapipe.dedup import _POLY_MOD
    from kgforge.datapipe.sketch import _stage2_padded

    if lo >= hi:
        raise ValueError("need lo < hi")
    g = [F.col(c) for c in group_cols]
    v = F.col(value_col).cast("bigint")
    d = df.select(*g, v.alias("_v")).filter(
        (F.col("_v") >= lo) & (F.col("_v") <= hi))

    w_rank = Window.partitionBy(*group_cols).orderBy("_v")
    ranked = d.withColumn("_i", F.row_number().over(w_rank))
    n_per = ranked.groupBy(*group_cols).agg(
        F.max("_i").cast("bigint").alias("_n"))

    # gap i (1..n): [v_i, next value); gap 0: [lo, min value)
    gaps_mid = ranked.withColumn(
        "_right", F.lead("_v", 1, hi).over(w_rank)
    ).select(*g, F.col("_i").alias("_gap"), F.col("_v").alias("_left"),
             "_right")
    gaps_zero = ranked.filter(F.col("_i") == 1).select(
        *g, F.lit(0).alias("_gap"), F.lit(lo).cast("bigint").alias("_left"),
        F.col("_v").alias("_right"))
    gaps = gaps_mid.unionByName(gaps_zero).join(n_per, group_cols)

    m = F.expr("_n div 2")
    dist = F.abs(F.col("_gap") - m)
    # clamp the frozen exp factor to >= 1 micro-unit: for a low-variance
    # column every far-from-median gap can round to 0, which would zero
    # _tot and make the group vanish from the release instead of
    # returning a value — the clamp keeps every non-empty group alive
    # (the [v_n, hi) gap always has nonzero width since lo < hi) at a
    # utility distortion below 1e-6 of the weight scale
    wf = F.greatest(
        F.round(F.exp(dist.cast("double") * F.lit(-float(epsilon) / 2.0))
                * 1_000_000).cast("bigint"),
        F.lit(1).cast("bigint"),
    )
    weighted = gaps.select(
        *g, "_gap", "_left", "_right", "_n",
        ((F.col("_right") - F.col("_left")) * wf).alias("_w"),
    )
    w_cum = Window.partitionBy(*group_cols).orderBy("_gap") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    laddered = weighted.withColumn("_cum", F.sum("_w").over(w_cum))
    totals = laddered.groupBy(*group_cols).agg(
        F.max("_cum").cast("bigint").alias("_tot"))

    key = F.concat_ws("|", *[F.coalesce(c.cast("string"), F.lit("\x00"))
                             for c in g])
    u1 = _stage2_padded(F.concat(key, F.lit(":" + seed + ":gap")))
    u2 = _stage2_padded(F.concat(key, F.lit(":" + seed + ":off")))
    # floor(tot·u1/M) WITHOUT the 63-bit overflow of tot·u1: split tot
    # into q·M + r — exact: q·u1 + floor(r·u1/M)
    with_t = laddered.join(totals, group_cols).withColumn(
        "_u1", u1
    ).withColumn(
        "_target",
        F.expr(
            f"(_tot div {_POLY_MOD}) * _u1"
            f" + ((_tot % {_POLY_MOD}) * _u1) div {_POLY_MOD}"
        ),
    )
    chosen = (
        with_t.filter(F.col("_cum") > F.col("_target"))
        .groupBy(*group_cols)
        .agg(F.min(F.struct("_gap", "_left", "_right", "_n")).alias("_c"))
        .select(*g, F.col("_c._gap").alias("_gap"),
                F.col("_c._left").alias("_left"),
                F.col("_c._right").alias("_right"),
                F.col("_c._n").alias("n"))
    )
    released = chosen.withColumn("_u2", u2).select(
        *g, "n",
        (F.col("_left")
         + F.expr(f"(_u2 * (_right - _left)) div {_POLY_MOD}"))
        .cast("bigint").alias("released"),
    )
    return released

"""Table profiling — ANALYZE-style per-column statistics in one pass.

The cluster equivalent of the reference's implicit "what predicates exist /
which are literal" introspection queries (QueryBuildingService.java:165-173),
generalized to the relational tables: every column gets non-null and
distinct counts plus type-appropriate min/max/mean, emitted in long format
``(column, metric, value: double)``.

Scale: ONE aggregation job over the table.  The multiple count-distincts
expand the input (Spark's expand operator — one pass, M×columns rows into a
map-side-combinable agg), which is exactly what `ANALYZE TABLE ... COMPUTE
STATISTICS FOR COLUMNS` does; no per-column scans, no collects beyond the
single stats row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_NUMERIC_PREFIXES = ("int", "bigint", "smallint", "tinyint", "double",
                     "float", "decimal")


def winsorize(df: DataFrame, col: str, lo: float = 0.01, hi: float = 0.99,
              out: str | None = None) -> DataFrame:
    """Clip ``col`` to its exact [lo, hi] quantiles (linear-interpolation
    percentile — the definition Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share), adding ``<out>`` (default ``<col>_clipped``)
    and a boolean ``<out>_was_clipped`` — the outlier-clamp step of a
    feature-cleaning pipeline.

    Scale: one scalar-aggregate job computes both bounds (no global sort —
    percentile aggregates per partition and merges), then a broadcast of
    the 1-row bounds and a codegen projection."""
    out = out or f"{col}_clipped"
    bounds = df.agg(
        F.percentile(F.col(col).cast("double"), F.lit([lo, hi])).alias("_q")
    ).select(F.col("_q")[0].alias("_qlo"), F.col("_q")[1].alias("_qhi"))
    c = F.col(col).cast("double")
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(out, F.least(F.greatest(c, F.col("_qlo")), F.col("_qhi")))
        .withColumn(f"{out}_was_clipped", (c < F.col("_qlo")) | (c > F.col("_qhi")))
        .drop("_qlo", "_qhi")
    )


def hourly_bursts(
    df: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    window: int = 24,
    min_history: int = 12,
    z_thresh: float = 2.0,
) -> DataFrame:
    """Per-type hourly burst flags: ``(type, hour, n, z, burst)`` where z
    scores each hour's event count against the TRAILING ``window`` observed
    hourly buckets of the same type (current hour excluded — a burst must
    not inflate its own baseline).

    The window runs over the AGGREGATED per-type hourly series and is
    partitioned by type, so its input cardinality is hours×types, never
    events — a year of data is 8,760 rows per type regardless of corpus
    size, which is what makes a windowed baseline viable at 100 TB (the
    raw-event shuffle happens once, in the map-side-combinable count).
    Mean/variance come from integer window sums (count/sum/sum-of-squares)
    with one fixed float expression at the end, so z is reproducible
    across engines and partitionings; z is NULL below ``min_history``
    observed buckets or at zero variance."""
    hourly = df.groupBy(
        F.col(type_col).alias("type"),
        F.date_trunc("hour", ts_col).alias("_hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("type")
        .orderBy("_hour")
        .rowsBetween(-window, -1)
    )
    cnt = F.count("n").over(w)
    s1 = F.sum("n").over(w)
    s2 = F.sum(F.col("n") * F.col("n")).over(w)
    scored = hourly.select(
        "type",
        F.date_format("_hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n",
        cnt.alias("_cnt"),
        s1.alias("_s1"),
        s2.alias("_s2"),
    )
    var = (
        F.col("_s2").cast("double")
        - (F.col("_s1") * F.col("_s1")).cast("double") / F.col("_cnt")
    ) / (F.col("_cnt") - 1)
    z = (F.col("n") - F.col("_s1").cast("double") / F.col("_cnt")) / F.sqrt(var)
    ok = (F.col("_cnt") >= min_history) & (var > 0)
    return scored.select(
        "type",
        "hour",
        "n",
        F.when(ok, z).alias("z"),
        F.when(ok, z >= z_thresh).otherwise(F.lit(False)).alias("burst"),
    )


def profile_table(df: DataFrame, columns: list[str] | None = None,
                  mean_decimal_scale: int = 6) -> DataFrame:
    """(column, metric, value) rows for every profiled column.

    Metrics: ``n_nonnull`` / ``n_distinct`` always; numeric columns add
    ``min`` / ``max`` / ``mean``; strings add ``len_min`` / ``len_max`` /
    ``len_mean``; timestamps add ``ts_min`` / ``ts_max`` (epoch seconds).
    Means of floating columns run through DECIMAL(18, ``mean_decimal_scale``)
    so the sum is exact and engine-portable (summation-order-independent);
    data with more fractional digits than the scale is rounded into it.
    """
    cols = columns or df.columns
    dtypes = dict(df.dtypes)
    aggs = []
    metrics: list[tuple[str, str, str]] = []  # (col, metric, agg alias)

    def add(col: str, metric: str, expr) -> None:
        alias = f"{col}__{metric}"
        aggs.append(expr.cast("double").alias(alias))
        metrics.append((col, metric, alias))

    for c in cols:
        t = dtypes[c]
        col = F.col(c)
        add(c, "n_nonnull", F.count(col))
        add(c, "n_distinct", F.countDistinct(col))
        if t.startswith(_NUMERIC_PREFIXES):
            add(c, "min", F.min(col))
            add(c, "max", F.max(col))
            if t in ("double", "float") or t.startswith("decimal"):
                dec = col.cast(f"decimal(18,{mean_decimal_scale})")
                add(c, "mean", F.sum(dec).cast("double") / F.count(col))
            else:
                # integral sums are exact longs; one double division at the end
                add(c, "mean", F.sum(col).cast("double") / F.count(col))
        elif t == "string":
            ln = F.length(col)
            add(c, "len_min", F.min(ln))
            add(c, "len_max", F.max(ln))
            add(c, "len_mean", F.sum(ln).cast("double") / F.count(col))
        elif t.startswith("timestamp") or t == "date":
            ep = F.unix_timestamp(col)
            add(c, "ts_min", F.min(ep))
            add(c, "ts_max", F.max(ep))

    stats = df.agg(*aggs)
    pairs = F.array(*[
        F.struct(
            F.lit(c).alias("column"),
            F.lit(m).alias("metric"),
            F.col(a).alias("value"),
        )
        for c, m, a in metrics
    ])
    return (
        stats.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.column").alias("column_name"),
            "p.metric",
            F.round("p.value", 6).alias("value"),
        )
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    group_cols: list[str] | None = None,
    bins: int = 256,
    qs: tuple = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Mergeable fixed-bin histogram quantile estimates:
    (*group_cols, q, n, est) with linear interpolation inside the
    winning bin.

    The 100-TB replacement for exact per-group percentiles: bin counts
    are associative/commutative (map-side combinable, union-mergeable
    across partitions, days, and clusters — merge yesterday's histogram
    with today's without rescanning either), and the estimate error is
    bounded by the bin width (hi-lo)/bins.  Values outside [lo, hi]
    clamp into the edge bins (they shift, never lose, mass).  Everything
    through the cumulative counts is exact int64; the single float
    expression at the end is identical in the oracle.

    The quantile pick is the unique bin with cum_before < q*n <= cum —
    empty bins can never win (cum_before == cum), so exactly one row
    survives per (group, q)."""
    gcols = list(group_cols or [])
    width = (hi - lo) / bins
    b = F.least(
        F.greatest(
            F.floor((F.col(value_col) - lo) / width).cast("long"), F.lit(0)
        ),
        F.lit(bins - 1),
    )
    counts = (
        df.select(*gcols, b.alias("_bin"))
        .groupBy(*gcols, "_bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    w = Window.partitionBy(*[F.col(c) for c in gcols] or [F.lit(1)]).orderBy(
        "_bin"
    )
    cum = counts.withColumn("_cum", F.sum("_cnt").over(w))
    totals = counts.groupBy(*gcols).agg(F.sum("_cnt").alias("n"))
    spark = df.sparkSession
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    joined = cum.join(totals, gcols) if gcols else cum.crossJoin(
        F.broadcast(totals)
    )
    qn = F.col("q") * F.col("n")
    picked = (
        joined.crossJoin(F.broadcast(qdf))
        .withColumn("_prev", F.col("_cum") - F.col("_cnt"))
        .filter((F.col("_prev") < qn) & (qn <= F.col("_cum")))
    )
    est = F.lit(float(lo)) + F.lit(float(width)) * (
        F.col("_bin") + (qn - F.col("_prev")) / F.col("_cnt")
    )
    # floor-at-micro instead of round(.., 6): floor over the SAME double is
    # bit-identical in every engine, while decimal rounding semantics
    # diverge exactly at half-way points — which dyadic bin widths make
    # common here (Spark rounds the shortest decimal repr HALF_UP; DuckDB
    # and Python round the true binary value)
    return picked.select(
        *gcols, "q", "n", (F.floor(est * 1e6) / F.lit(1e6)).alias("est")
    )


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 5,
) -> DataFrame:
    """Robust per-group outlier flags via the median absolute deviation:
    a row is an outlier when ``|x - median| > k * MAD`` — the
    std-deviation rule's robust cousin (one wild value corrupts a
    mean/stddev fence; the median/MAD fence shrugs it off), standard in
    data-quality gates over skewed feeds.

    Both medians are LOWER medians (the element at 1-indexed position
    ``(n+1) div 2`` of the values sorted ascending): pure position
    arithmetic on exact values, no interpolation, so integer inputs stay
    integers and the result is bit-identical across engines and
    partitionings (the classic ``1.4826·MAD ≈ σ`` rescaling is folded
    into the caller's choice of ``k``).

    Scale shape: two window rounds (rank the values, then rank the
    deviations), each partitioned by the group columns — per-task memory
    is bounded by the largest group, the natural per-key unit of work;
    for one giant group rank globally with the ``kgforge.rank`` offsets
    discipline instead.  Returns the input columns plus ``_median``,
    ``_mad`` and ``is_outlier``."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if k < 0:
        raise ValueError("k must be >= 0")
    part = Window.partitionBy(*group_cols)
    v = F.col(value_col)

    def _lower_median(frame: DataFrame, col, out: str) -> DataFrame:
        rn = F.row_number().over(part.orderBy(col)).cast("bigint")
        pos = F.floor((F.count(F.lit(1)).over(part) + 1) / 2)
        return frame.withColumn(
            out, F.max(F.when(rn == pos, col)).over(part)
        )

    d1 = _lower_median(df, v, "_median")
    d2 = _lower_median(d1, F.abs(v - F.col("_median")), "_mad")
    return d2.withColumn(
        "is_outlier", F.abs(v - F.col("_median")) > F.lit(k) * F.col("_mad")
    )


def fd_violations(
    df: DataFrame,
    lhs_cols: list[str],
    rhs_col: str,
) -> DataFrame:
    """Functional-dependency violation detector: rows whose ``lhs_cols``
    key maps to MORE than one distinct ``rhs_col`` value — the
    data-quality probe behind "order_id → customer_id should be
    functional" assertions, returned as evidence rows (the violating
    tuples plus ``n_rhs``, how many distinct right-hand sides the key
    has).

    Scale: one distinct + one map-side-combinable groupBy over the key,
    one semi-join back (AQE broadcasts small violation sets); never a
    self-join of rows against rows."""
    if not lhs_cols:
        raise ValueError("lhs_cols must be non-empty")
    viol = (
        df.select(*lhs_cols, rhs_col)
        .distinct()
        .groupBy(*lhs_cols)
        .agg(F.count(F.lit(1)).alias("n_rhs"))
        .filter(F.col("n_rhs") > 1)
    )
    return df.join(viol, lhs_cols)


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    slack: int = 0,
    threshold: int = 10,
) -> DataFrame:
    """Page's CUSUM upward-shift detector per key: the recurrence
    ``s_t = max(0, s_{t-1} + (x_t − μ − slack))`` flags a sustained
    level shift when ``s_t > threshold`` — the classic sequential
    change-point test (Page 1954), run here against each key's own mean.

    The max(0, ·) recurrence is NOT a window primitive, but it equals
    ``cum_t − min(0, min_{i<=t} cum_i)`` where ``cum`` is the plain
    running sum of deviations — two stacked windows per key, no
    recursion.  To stay integer-exact the mean never gets divided out:
    everything is scaled by the key's observation count n (deviation
    ``x_t·n − S − slack·n``), so ``cusum_scaled`` is s_t·n and the flag
    compares against ``threshold·n`` — bit-identical across engines and
    partitionings.  Detect downward shifts by negating the value
    upstream.

    Scale: two per-key windows sharing one exchange (cumsum, then
    running min of it) + per-key scalar aggregates as partition windows
    — per-task memory is the key's own history."""
    if slack < 0 or threshold <= 0:
        raise ValueError("slack must be >= 0 and threshold > 0")
    part = Window.partitionBy(key_col)
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    x = F.col(value_col).cast("long")
    n = F.count(F.lit(1)).over(part).cast("bigint")
    s = F.sum(x).over(part).cast("bigint")
    dev = x * n - s - F.lit(slack) * n
    d1 = df.select(
        key_col,
        ts_col,
        value_col,
        n.alias("_n"),
        F.sum(dev).over(w).alias("_cum"),
    )
    runmin = F.min(F.col("_cum")).over(
        Window.partitionBy(key_col)
        .orderBy(ts_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = F.col("_cum") - F.least(runmin, F.lit(0))
    return d1.select(
        key_col,
        ts_col,
        value_col,
        F.col("_n").alias("n"),
        cusum.alias("cusum_scaled"),
        (cusum > F.lit(threshold) * F.col("_n")).alias("shifted"),
    )


def fk_orphans(
    constraints: list[tuple[str, DataFrame, str, DataFrame, str]],
) -> DataFrame:
    """Referential-integrity audit: for each declared foreign key
    ``(name, child, child_key, parent, parent_key)`` report how many child
    rows carry a key with no matching parent row — the orphan scan behind
    "every order must reference a live customer" contracts (the KG twin of
    dangling-object detection: a triple whose object IRI has no subject
    row).  NULL foreign keys are counted separately, not as violations
    (SQL FK semantics: NULL never fails a reference).

    Output: one row per constraint —
    ``(fk_name, child_rows, null_keys, orphan_rows, orphan_keys)``.

    Scale: per constraint, one left-anti equi-join of the child's key
    column against the parent's distinct keys (AQE broadcasts small
    parents; big-big anti-joins shuffle on the key — the same plan a
    referential JOIN would need) plus map-side-combinable count
    aggregates.  The result is |constraints| rows; no row-level evidence
    is materialized (point a follow-up query at one constraint for that).
    """
    from functools import reduce

    if not constraints:
        raise ValueError("constraints must be non-empty")
    outs = []
    for name, child, ck, parent, pk in constraints:
        keys = child.select(F.col(ck).alias("_k"))
        parents = parent.select(F.col(pk).alias("_k")).distinct()
        orphans = keys.filter(F.col("_k").isNotNull()).join(
            parents, "_k", "left_anti"
        )
        totals = keys.agg(
            F.count(F.lit(1)).alias("child_rows"),
            F.count(F.when(F.col("_k").isNull(), 1)).alias("null_keys"),
        )
        bad = orphans.agg(
            F.count(F.lit(1)).alias("orphan_rows"),
            F.countDistinct("_k").alias("orphan_keys"),
        )
        outs.append(
            totals.crossJoin(bad).select(
                F.lit(name).alias("fk_name"),
                "child_rows",
                "null_keys",
                "orphan_rows",
                "orphan_keys",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def benford_digits(df: DataFrame, amount_col: str) -> DataFrame:
    """First-significant-digit (Benford's law) audit over a positive
    integer amount column: observed digit shares vs the Benford expectation
    ``log10(1 + 1/d)`` — the classic fabricated-data / unit-mixup smell
    test for financial columns (Benford 1938, Nigrini's audit usage).

    The first digit is taken from the integer's decimal string (exact —
    no float log10 near power-of-ten boundaries); callers convert money to
    integer cents upstream.  Non-positive values are excluded (Benford is
    defined on magnitudes).

    Output: ``(digit, n, share, benford_share, excess)`` — shares rounded
    to 6 decimals, ``excess = share − benford_share``.

    Scale: one map-side-combinable groupBy onto ≤9 rows; the total joins
    back as a broadcast one-row cross join (never a global window over
    the raw data)."""
    counts = (
        df.select(F.col(amount_col).cast("bigint").alias("_v"))
        .filter(F.col("_v") > 0)
        .select(
            F.substring(F.col("_v").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").cast("bigint").alias("_total"))
    share = F.col("n").cast("double") / F.col("_total")
    benford = F.log10(
        F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")
    )
    return counts.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.round(share, 6).alias("share"),
        F.round(benford, 6).alias("benford_share"),
        F.round(share - benford, 6).alias("excess"),
    )


def hbos_scores(
    df: DataFrame,
    id_col: str,
    feature_cols: list[str],
    bins: int = 16,
) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel 2012): per row,
    the sum over features of ``ln(tallest_bin / own_bin_count)`` on an
    equal-width histogram — the linear-time unsupervised anomaly score
    that assumes feature independence (that assumption is the price of
    never joining rows against rows).

    Features must be integral (convert money to cents upstream).  Binning
    is integer-exact: ``bin = ((v − min)·bins) div (max − min + 1)``;
    degenerate features (min == max) put everything in bin 0 and
    contribute 0.  The only float work is one ``ln`` per feature per row
    over a ratio of integer counts, summed and rounded to 6.

    Output: ``(id, <col>_bin per feature, hbos)``.

    Scale: per feature, one min/max scalar (broadcast cross join), one
    ≤bins-row count table (broadcast equi-join back) — the data is
    scanned once for binning and once for scoring; no shuffle wider than
    the bins tables."""
    if not feature_cols:
        raise ValueError("feature_cols must be non-empty")
    if bins < 2:
        raise ValueError("bins must be >= 2")
    out = df.select(F.col(id_col).alias("id"),
                    *[F.col(c).cast("bigint").alias(c) for c in feature_cols])
    score_terms = []
    for c in feature_cols:
        mm = out.agg(
            F.min(c).alias(f"_lo_{c}"), F.max(c).alias(f"_hi_{c}")
        )
        out = out.crossJoin(F.broadcast(mm)).withColumn(
            f"{c}_bin",
            F.expr(
                f"CAST((({c} - _lo_{c}) * {bins}) div (_hi_{c} - _lo_{c} + 1)"
                " AS BIGINT)"
            ),
        ).drop(f"_lo_{c}", f"_hi_{c}")
        counts = out.groupBy(f"{c}_bin").agg(
            F.count(F.lit(1)).cast("bigint").alias(f"_c_{c}")
        )
        maxc = counts.agg(F.max(f"_c_{c}").alias(f"_m_{c}"))
        out = out.join(F.broadcast(counts), f"{c}_bin").crossJoin(
            F.broadcast(maxc)
        )
        score_terms.append(
            F.log(F.col(f"_m_{c}").cast("double") / F.col(f"_c_{c}"))
        )
    total = score_terms[0]
    for t in score_terms[1:]:
        total = total + t
    return out.select(
        "id",
        *[F.col(f"{c}_bin") for c in feature_cols],
        F.round(total, 6).alias("hbos"),
    )


def psi_drift(
    base: DataFrame, current: DataFrame, value_col: str, bins: int = 10
) -> DataFrame:
    """Population Stability Index between a baseline and a current sample
    of one integral column — the standard model-monitoring drift score
    (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted):

        PSI = Σ_bins (p_b − q_b) · ln(p_b / q_b)

    Bins are equal-width on the BASELINE's [min, max] (integer binning,
    current values clamp into the edge bins — out-of-range mass lands
    where an operator would look for it), with add-one smoothing so empty
    bins never produce ±inf.

    Output: one row per bin ``(bin, n_base, n_curr, p_base, p_curr,
    term)`` plus the total in ``psi`` on every row (broadcast one-row
    join) — slice the first row for the scalar, keep the rest as the
    drill-down.

    Scale: two binned groupBys (≤bins rows each) against one broadcast
    min/max scalar; the bin spine is a ``sequence`` explode, so every bin
    is present even when empty."""
    if bins < 2:
        raise ValueError("bins must be >= 2")
    b = base.select(F.col(value_col).cast("bigint").alias("_v"))
    c = current.select(F.col(value_col).cast("bigint").alias("_v"))
    mm = b.agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi"))

    def binned(d: DataFrame, out: str) -> DataFrame:
        e = d.crossJoin(F.broadcast(mm)).select(
            F.least(
                F.greatest(
                    F.expr(
                        f"CAST(((_v - _lo) * {bins}) div (_hi - _lo + 1)"
                        " AS BIGINT)"
                    ),
                    F.lit(0),
                ),
                F.lit(bins - 1),
            ).alias("bin")
        )
        return e.groupBy("bin").agg(
            F.count(F.lit(1)).cast("bigint").alias(out)
        )

    spine = mm.select(
        F.explode(F.sequence(F.lit(0), F.lit(bins - 1))).alias("bin")
    ).select(F.col("bin").cast("bigint").alias("bin"))
    nb = binned(b, "_nb")
    nc = binned(c, "_nc")
    tot = b.agg(F.count(F.lit(1)).cast("bigint").alias("_tb")).crossJoin(
        c.agg(F.count(F.lit(1)).cast("bigint").alias("_tc"))
    )
    j = (
        spine.join(nb, "bin", "left")
        .join(nc, "bin", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.coalesce(F.col("_nb"), F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce(F.col("_nc"), F.lit(0)).cast("bigint").alias("n_curr"),
            "_tb",
            "_tc",
        )
    )
    p = (F.col("n_base") + 1).cast("double") / (F.col("_tb") + bins)
    q = (F.col("n_curr") + 1).cast("double") / (F.col("_tc") + bins)
    terms = j.select(
        "bin",
        "n_base",
        "n_curr",
        F.round(p, 6).alias("p_base"),
        F.round(q, 6).alias("p_curr"),
        F.round((p - q) * F.log(p / q), 6).alias("term"),
        ((p - q) * F.log(p / q)).alias("_raw"),
    )
    total = terms.agg(F.round(F.sum("_raw"), 6).alias("psi"))
    return terms.crossJoin(F.broadcast(total)).drop("_raw")


def gini_concentration(
    df: DataFrame, key_col: str, value_col: str
) -> DataFrame:
    """Gini coefficient of a non-negative integral quantity over keys —
    "how concentrated is revenue over customers / token mass over
    documents", the inequality profile that tells a pipeline whether a
    per-key partitioning will be skew-bound:

        G = 2·Σ_i i·x_(i) / (n·Σ x) − (n + 1)/n      (i = 1-based rank)

    Ranks come from the distributed range-partitioned rank
    (kgforge.rank.with_global_rank — never a single-partition window);
    equal values contribute the same Σ i·x regardless of tie order, and
    the tie-break on ``key_col`` keeps the plan deterministic anyway.
    All sums are exact int64; the two divisions happen once, rounded 6.
    The sums are checkpointed, so the result reads no cache.

    Output: one row ``(n, total, gini)`` (gini NULL when the total is 0).
    """
    from kgforge.rank import with_global_rank

    d = df.select(
        F.col(key_col).alias("_k"), F.col(value_col).cast("bigint").alias("_x")
    )
    caches: list = []
    try:
        ranked = with_global_rank(
            d, [F.col("_x"), F.col("_k")], out="_r", cleanup=caches
        )
        agg = ranked.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_x").cast("bigint").alias("total"),
            F.sum((F.col("_r") + 1) * F.col("_x")).cast("bigint").alias("_s2"),
        ).localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()
    return agg.select(
        "n",
        "total",
        F.when(
            F.col("total") > 0,
            F.round(
                (2 * F.col("_s2")).cast("double")
                / (F.col("n") * F.col("total"))
                - (F.col("n") + 1).cast("double") / F.col("n"),
                6,
            ),
        ).alias("gini"),
    )


def fd_discovery(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Functional-dependency discovery over candidate column pairs (the
    pairwise core of the TANE / FDep profiling family, Huhtala et al.
    1999): for each LHS→RHS pair report whether the FD holds exactly and
    its g3 violation cost (Kivinen & Mannila 1995 — the minimum number
    of rows to delete so it holds: Σ over LHS groups of rows − the
    majority RHS count).

    ONE corpus scan for ALL pairs: each row explodes into |pairs|
    (pair, lhs, rhs) structs (NULLs folded to a sentinel so they compare
    as values), then two map-side-combinable aggregations.  Integer
    outputs only.

    Output: (lhs, rhs, n_rows, n_groups, n_violating_groups, g3_rows,
    exact)."""
    if not pairs:
        raise ValueError("no candidate pairs")
    sent = F.lit("\x00null\x00")
    structs = [
        F.struct(
            F.lit(i).alias("pid"),
            F.coalesce(F.col(a).cast("string"), sent).alias("lhs_v"),
            F.coalesce(F.col(b).cast("string"), sent).alias("rhs_v"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    melted = df.select(F.explode(F.array(*structs)).alias("m")).select(
        F.col("m.pid").alias("pid"),
        F.col("m.lhs_v").alias("lhs_v"),
        F.col("m.rhs_v").alias("rhs_v"),
    )
    cells = melted.groupBy("pid", "lhs_v", "rhs_v").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"))
    groups = cells.groupBy("pid", "lhs_v").agg(
        F.sum("cnt").cast("bigint").alias("rows"),
        F.max("cnt").cast("bigint").alias("keep"),
        F.count(F.lit(1)).cast("bigint").alias("nd"),
    )
    agg = groups.groupBy("pid").agg(
        F.sum("rows").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        .cast("bigint").alias("n_violating_groups"),
        F.sum(F.col("rows") - F.col("keep")).cast("bigint").alias("g3_rows"),
    )
    names = df.sparkSession.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(pairs)],
        "pid int, lhs string, rhs string",
    )
    return agg.join(F.broadcast(names), "pid").select(
        "lhs", "rhs", "n_rows", "n_groups", "n_violating_groups", "g3_rows",
        (F.col("n_violating_groups") == 0).alias("exact"),
    )

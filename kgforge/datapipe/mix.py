"""Corpus composition operators: source-mix sampling and sequence packing.

Training-data pipelines rarely train on a corpus as-found — they resample it
to a target domain mix (so much web, so much code, so much books) and pack
variable-length chunks into fixed token budgets.  Both operators here are
deterministic pure functions of the input (portable hash sampling, fixed
global order), so reruns, resumes, and cross-engine oracles all agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_RATE_DENOM = 1_000_000


def source_mix_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    targets: dict[str, float],
) -> DataFrame:
    """Downsample each source so the output approximates the ``targets``
    proportions (values need not sum to 1; they are used as ratios), without
    upsampling any source.

    The achievable total is capped by the scarcest source relative to its
    target: ``T = min_s n_s / w_s`` with weights ``w_s`` normalized over the
    sources present; each source then keeps ``rate_s = w_s * T / n_s`` of its
    rows (the binding source keeps 100%).  Row selection is the portable
    polynomial id-hash (``poly_hash % 1e6 < floor(rate * 1e6)``) — a pure
    function of the id, reproducible across runs/partitionings/engines, like
    :func:`kgforge.datapipe.textstats.hash_sample`.

    Scale: per-source counts are one map-side-combinable groupBy over a
    handful of sources; rates join back via broadcast; the filter is a
    JVM-codegen expression.  No driver collect, no skew (selection is
    per-row).  Sources absent from ``targets`` are dropped.
    """
    from kgforge.datapipe.dedup import poly_hash

    if not targets:
        raise ValueError("targets must not be empty")
    total_w = sum(targets.values())
    if total_w <= 0:
        raise ValueError("target weights must sum to a positive value")
    spark = df.sparkSession
    w_df = spark.createDataFrame(
        [(s, w / total_w) for s, w in sorted(targets.items())],
        schema=f"{source_col} string, _w double",
    )
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    sized = counts.join(F.broadcast(w_df), source_col)
    # T = min over sources of n_s / w_s  (rows the smallest source can back)
    cap = sized.agg(F.min(F.col("_n") / F.col("_w")).alias("_cap"))
    rates = (
        sized.crossJoin(F.broadcast(cap))
        .select(
            source_col,
            F.floor(
                F.least(F.lit(1.0), F.col("_w") * F.col("_cap") / F.col("_n"))
                * _RATE_DENOM
            ).alias("_rate_ppm"),
        )
    )
    h = poly_hash(F.col(id_col).cast("string"), 1000003)
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(h % _RATE_DENOM < F.col("_rate_ppm"))
        .drop("_rate_ppm")
    )


def pack_chunks(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    out: str = "pack_id",
) -> DataFrame:
    """Assign each unit (document / chunk) to a fixed-token-budget pack:
    units are laid out in ``id_col`` order and ``pack_id =
    floor(cumulative_tokens_before / budget)`` — the prefix-sum packing used
    when sequence-packing pretraining data at scale (a unit may straddle a
    boundary; strict first-fit is inherently sequential and is approximated
    by this contiguous layout).

    The global prefix sum comes from :func:`kgforge.rank.
    with_global_running_sum` (range partition + per-partition offsets), so
    there is no single-partition window; determinism requires ``id_col``
    (the order key) to be unique.  The prefix sums are checkpointed, so the
    result reads no cache.
    """
    from kgforge.rank import with_global_running_sum

    if budget <= 0:
        raise ValueError("budget must be positive")
    caches: list = []
    try:
        d = with_global_running_sum(
            df, [id_col], tokens_col, out="_cum", cleanup=caches
        ).localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()
    return (
        d.withColumn(
            out,
            F.floor((F.col("_cum") - F.col(tokens_col)) / budget).cast("long"),
        )
        .drop("_cum")
    )


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    k: int = 100,
    n_buckets: int = 1024,
    scale: int = 1_000_000,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", re-derived for Spark):
    hashed bag-of-words features, a bucket-level affinity model of the
    target domain, per-document importance scores, hard top-``k`` selection.

    Deviation from the paper, deliberately: the per-bucket statistic is the
    INTEGER smoothed target share ``(c_target + 1) * scale div (c_all + 2)``
    (a monotone transform of the Laplace-smoothed p(target|bucket)) and the
    document score is the integer SUM of its tokens' bucket statistics —
    instead of the float log-ratio sum, which is addition-order-dependent
    and therefore not reproducible across engines/partitionings.  Integer
    sums are associative, so the score is partition-invariant and the DuckDB
    oracle matches bit-for-bit (``div`` on longs ≡ Java integer division,
    verified).  Paper-faithful Gumbel resampling would add an RNG; hard
    top-k is the paper's argmax variant.

    Scale: tokenize+hash is codegen; the bucket model is ONE
    map-side-combinable groupBy to ≤``n_buckets`` rows (broadcast back);
    scoring is one integer-sum groupBy per doc; selection is a TakeOrdered
    top-k, never a global sort materialization or single-partition window.

    Returns the selected rows: (id, n_tokens, score), score descending,
    id ascending as the tie-break.
    """
    from kgforge.datapipe.dedup import poly_hash

    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(target_col).cast("boolean").alias("_t"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
        ).alias("tok"),
    ).withColumn("b", F.pmod(poly_hash(F.col("tok")), F.lit(n_buckets)))
    model = (
        toks.groupBy("b")
        .agg(
            F.count(F.lit(1)).alias("c_all"),
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("c_t"),
        )
        .select(
            "b",
            F.expr(f"(c_t + 1) * CAST({scale} AS BIGINT) div (c_all + 2)")
            .alias("aff"),
        )
    )
    scored = (
        toks.join(F.broadcast(model), "b")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("aff").alias("score"),
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("id")).limit(k)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    n: int,
    salt: str = "ws",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, derandomized: the
    Efraimidis–Spirakis (2006) one-pass scheme with the uniform draw
    replaced by a portable id hash — every row gets
    ``key = u ** (1/w)`` with ``u = (poly_hash(str(id) || ':' salt) + 1)
    / 2^31`` ∈ (0, 1], and the sample is the top ``n`` keys.  Inclusion
    probability is proportional to weight (in the ES sense), and the
    sample is a pure function of (ids, weights, n, salt) — re-runs,
    engines, and partitionings all agree.

    The key is rounded to 9 decimals before ranking (cross-engine ``pow``
    can differ in the last ulp), ties broken by id.  Rows with
    non-positive or null weights are excluded (their ES key is 0 or
    undefined).  The top-n is a TakeOrdered (per-partition heaps + one
    k-row merge), never a global sort."""
    from kgforge.datapipe.dedup import _POLY_MOD, poly_hash

    u = (
        poly_hash(F.concat(F.col(id_col).cast("string"), F.lit(":" + salt)))
        + F.lit(1)
    ).cast("double") / F.lit(float(_POLY_MOD + 1))
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 9
    )
    return (
        df.filter(F.col(weight_col).cast("double") > 0)
        .withColumn("_wskey", key)
        .orderBy(F.col("_wskey").desc(), F.col(id_col).asc())
        .limit(n)
    )


def source_divergence(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-source distribution drift: ``(source, n_tokens, kl, js)`` —
    KL(p_source ‖ p_corpus) and Jensen-Shannon divergence between each
    source's add-alpha-smoothed unigram distribution and the whole
    corpus's, over the corpus vocabulary.  THE training-mix diagnostic:
    a source whose KL spikes is distributionally off and about to skew
    the mixture (Xie et al. 2023 DoReMi frames domain weights exactly in
    these terms).

    Scale shape: two token-count groupBys (map-side combinable) and a
    |sources| x |vocab| term grid; at 100-TB vocab, restrict the grid to
    a top-V vocabulary first (the tail's alpha-weight contribution is
    uniform and cancels in ranking).  Each per-term float is rounded to
    integer FEMTO-units (x1e15) and summed as int64 — partition-order
    exact, with total rounding error |V|·1e-15, invisible at round-6.
    """
    toks = df.select(
        F.col(source_col).alias("src"),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    cs = toks.groupBy("src", "tok").agg(F.count(F.lit(1)).alias("c_s"))
    call = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_all")).persist()
    try:
        tots = call.agg(
            F.count(F.lit(1)).alias("v"), F.sum("c_all").alias("n_all")
        )
        ns = cs.groupBy("src").agg(F.sum("c_s").alias("n_s"))
        grid = (
            call.crossJoin(F.broadcast(ns))
            .join(cs, ["src", "tok"], "left")
            .select(
                "src", "n_s", "c_all",
                F.coalesce("c_s", F.lit(0)).alias("c_s"),
            )
            .crossJoin(F.broadcast(tots))
        )
        p = (F.col("c_s") + alpha) / (F.col("n_s") + alpha * F.col("v"))
        q = (F.col("c_all") + alpha) / (F.col("n_all") + alpha * F.col("v"))
        m = (p + q) / 2
        kl_t = p * F.log(p / q)
        js_t = (p * F.log(p / m) + q * F.log(q / m)) / 2
        terms = grid.select(
            "src", "n_s",
            F.round(kl_t * 1e15).cast("long").alias("_kl"),
            F.round(js_t * 1e15).cast("long").alias("_js"),
        )
        out = (
            terms.groupBy("src", "n_s")
            .agg(F.sum("_kl").alias("_skl"), F.sum("_js").alias("_sjs"))
            .select(
                F.col("src").alias("source"),
                F.col("n_s").alias("n_tokens"),
                (F.col("_skl") / 1e15).alias("kl"),
                (F.col("_sjs") / 1e15).alias("js"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        call.unpersist()


def assign_split(
    df: DataFrame,
    id_col: str,
    splits: list[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    buckets: int = 10000,
) -> DataFrame:
    """Deterministic train/val/test assignment by portable id hash.

    Every engine, every partitioning, every rerun puts the same id in the
    same split: the id string is folded through the magnitude-uniform
    two-stage hash (``sketch._stage2_padded`` — the lpad-10 refold that
    fixed KMV's order stratification), reduced mod ``buckets``, and cut at
    the cumulative fraction thresholds ``round(Σfrac·buckets)``.  Adding
    documents later never moves an existing one between splits (the
    contamination guarantee a hash split exists to give); fractions are
    honored in expectation with O(1/√n) realized error.

    Output: the input frame plus a ``split`` string column.  Pure codegen
    (fold + CASE), zero shuffle, zero state."""
    fracs = [f for _, f in splits]
    if not splits or abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError("split fractions must sum to 1")
    from kgforge.datapipe.sketch import _stage2_padded

    b = _stage2_padded(F.col(id_col).cast("string")) % F.lit(buckets)
    acc = 0.0
    expr = None
    for name, frac in splits[:-1]:
        acc += frac
        thr = int(round(acc * buckets))
        cond = b < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def source_temperature_sample(
    df: DataFrame,
    id_col: str,
    source_col: str,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled source mixing (the multilingual-pretraining
    standard, e.g. mBERT/XLM-R exponent-smoothed sampling): target weight
    ``w_s ∝ n_s^α``, α < 1 flattening the source distribution toward
    uniform (α=1 keeps natural proportions, α=0 is fully uniform).  Since a
    batch sampler cannot upsample, the achievable total is capped by the
    binding source exactly as :func:`source_mix_sample`:
    ``T = min_s n_s/w_s``, ``rate_s = w_s·T/n_s`` — under temperature
    weights the binding source is the SMALLEST one (it keeps 100%), and
    every larger source keeps ``(n_bind/n_s)^(1-α)`` of its rows.

    Row selection is the portable id-hash, so the sample is a pure
    function of (table, α).  α = 0.5 (the default) computes weights with
    ``sqrt`` — IEEE-correctly-rounded in every engine, so the ppm rate
    thresholds reproduce bit-exactly in an external oracle; other α go
    through ``pow``, whose last ulp is engine-specific (documented
    boundary risk of one row per ~10⁶ at a ppm threshold).

    Scale: identical shape to source_mix_sample — one combinable groupBy
    over the source vocabulary, broadcast rates, codegen filter."""
    from kgforge.datapipe.dedup import poly_hash

    n = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    w = F.sqrt(F.col("_n")) if alpha == 0.5 else F.pow(F.col("_n"), F.lit(alpha))
    sized = n.withColumn("_w", w)
    cap = sized.agg(F.min(F.col("_n") / F.col("_w")).alias("_cap"))
    rates = (
        sized.crossJoin(F.broadcast(cap))
        .select(
            source_col,
            F.floor(
                F.least(F.lit(1.0), F.col("_w") * F.col("_cap") / F.col("_n"))
                * _RATE_DENOM
            ).alias("_rate_ppm"),
        )
    )
    h = poly_hash(F.col(id_col).cast("string"), 1000003)
    return (
        df.join(F.broadcast(rates), source_col)
        .filter(h % _RATE_DENOM < F.col("_rate_ppm"))
        .drop("_rate_ppm")
    )

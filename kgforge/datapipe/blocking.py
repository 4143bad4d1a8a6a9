"""Sorted-neighborhood blocking for entity resolution.

The Hernández–Stolfo merge/purge method: sort all records by a blocking
key, slide a window of ``w`` over the sorted order, and emit every pair
inside a window as a comparison candidate — O(n·w) candidates instead of
O(n²), with recall governed by how well the key clusters true matches.

Distributed shape: the global sort order is materialized as an exact
rank (range partitioning + per-partition offsets — never a
single-partition window), then the window pairing is ONE equi-join of
the ranked frame against itself on ``rank + offset`` for offsets
1..w-1 (an explode of w-1 literals on the probe side, joined on a dense
bigint — hash-partitioned, never skewed, no pair set wider than the
output).  This is exactly how the multi-pass merge/purge scales on MPP
engines; run it once per blocking key and union for the multi-pass
variant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 3,
) -> DataFrame:
    """Candidate pairs ``(id_a, key_a, id_b, key_b)`` for every two rows
    within ``window`` positions of each other in the ``(key, id)`` sort
    order (``id_a`` sorts strictly before ``id_b``; ``window >= 2`` —
    a window of w yields pairs at rank distance 1..w-1).

    Ties on the key are ordered by ``id_col``, so the pair set is a pure
    function of the data; ``id_col`` must be unique."""
    if window < 2:
        raise ValueError("window must be >= 2")
    from kgforge.rank import with_global_rank

    caches: list = []
    try:
        ranked = with_global_rank(
            df, [F.col(key_col), F.col(id_col)], cleanup=caches
        )
        # materialize before releasing the rank caches: the offsets were
        # collected against THIS range partitioning
        r = ranked.select(
            F.col(id_col).alias("_id"),
            F.col(key_col).alias("_key"),
            "_rank",
        ).localCheckpoint(eager=True)
    finally:
        for c in caches:
            c.unpersist()
    probe = r.select(
        F.col("_id").alias("id_a"),
        F.col("_key").alias("key_a"),
        F.explode(
            F.sequence(F.col("_rank") + 1, F.col("_rank") + (window - 1))
        ).alias("_rank"),
    )
    return probe.join(r, "_rank").select(
        "id_a",
        "key_a",
        F.col("_id").alias("id_b"),
        F.col("_key").alias("key_b"),
    )


# Fellegi-Sunter agreement weights are log-likelihood ratios log(m/u)
# (agreement) and log((1-m)/(1-u)) (disagreement) under the match/
# non-match hypotheses; fixed literal (m, u) per field keeps the score a
# deterministic literal expression in BOTH engines (EM-fitting them is a
# separate estimation problem, deliberately out of scope here).
def fellegi_sunter_scores(
    pairs: DataFrame,
    fields: list[tuple],
    upper: float,
    lower: float,
) -> DataFrame:
    """Fellegi-Sunter record-linkage decision model over candidate
    pairs: ``fields`` is a list of ``(agree_col, m, u)`` — a boolean
    agreement column plus its match/non-match probabilities — and each
    pair gets ``score = Σ log2(m/u) if agree else log2((1-m)/(1-u))``,
    classified ``match`` / ``possible`` / ``non_match`` against the two
    thresholds (the 1969 decision rule).

    Scale: pure projection over the candidate-pair table (blocking —
    e.g. :func:`sorted_neighborhood_pairs` — already bounded it);
    weights fold to literals, the sum is one codegen expression, rounded
    to 6 for engine parity."""
    import math

    if not fields or upper < lower:
        raise ValueError("need fields and upper >= lower")
    score = F.lit(0.0)
    for agree_col, m, u in fields:
        if not (0 < u < m < 1):
            raise ValueError(f"need 0 < u < m < 1 for {agree_col}")
        wa = math.log2(m / u)
        wd = math.log2((1 - m) / (1 - u))
        score = score + F.when(F.col(agree_col), F.lit(wa)).otherwise(
            F.lit(wd)
        )
    out = pairs.withColumn("score", F.round(score, 6))
    return out.withColumn(
        "decision",
        F.when(F.col("score") >= upper, F.lit("match"))
        .when(F.col("score") < lower, F.lit("non_match"))
        .otherwise(F.lit("possible")),
    )


def fellegi_sunter_weights(
    pairs: DataFrame,
    match_col: str,
    agreement_cols: list[str],
) -> DataFrame:
    """Fellegi–Sunter (1969) match/unmatch weights from a labeled pair
    sample: for each comparison field, ``m = P(agree | match)`` and
    ``u = P(agree | non-match)``, released with the decision weights

        w_agree    = log2(m / u)
        w_disagree = log2((1−m) / (1−u))

    — the training half of the model whose apply half is
    :func:`fellegi_sunter_scores` (feed these m/u straight into its
    ``fields``).  Probabilities are add-one smoothed (``(k+1)/(n+2)``) so
    zero cells yield finite weights; the smoothing is part of the contract
    and is mirrored by oracles.

    Output: one row per field ``(field, n_match, n_unmatch, agree_m,
    agree_u, m, u, w_agree, w_disagree)`` — the four counts exact BIGINTs,
    the rest derived floats rounded to 6.

    Scale: ONE conditional aggregate over the pair table (every field's
    two counters in the same pass — no per-field scans), then a constant
    explode.  The pair table itself comes from a blocking stage
    (:func:`sorted_neighborhood_pairs`, LSH, phonetic), never all-pairs."""
    if not agreement_cols:
        raise ValueError("agreement_cols must not be empty")
    is_m = F.col(match_col).cast("boolean")
    aggs = [
        F.sum(F.when(is_m, 1).otherwise(0)).cast("bigint").alias("_nm"),
        F.sum(F.when(~is_m, 1).otherwise(0)).cast("bigint").alias("_nu"),
    ]
    for c in agreement_cols:
        a = F.col(c).cast("boolean")
        aggs.append(
            F.sum(F.when(is_m & a, 1).otherwise(0)).cast("bigint").alias(f"_am_{c}")
        )
        aggs.append(
            F.sum(F.when(~is_m & a, 1).otherwise(0)).cast("bigint").alias(f"_au_{c}")
        )
    one = pairs.agg(*aggs)
    rows = one.select(
        "_nm",
        "_nu",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("field"),
                        F.col(f"_am_{c}").alias("agree_m"),
                        F.col(f"_au_{c}").alias("agree_u"),
                    )
                    for c in agreement_cols
                ]
            )
        ).alias("_r"),
    ).select(
        F.col("_r.field").alias("field"),
        F.col("_nm").alias("n_match"),
        F.col("_nu").alias("n_unmatch"),
        F.col("_r.agree_m").alias("agree_m"),
        F.col("_r.agree_u").alias("agree_u"),
    )
    m = (F.col("agree_m") + 1).cast("double") / (F.col("n_match") + 2)
    u = (F.col("agree_u") + 1).cast("double") / (F.col("n_unmatch") + 2)
    return rows.select(
        "field",
        "n_match",
        "n_unmatch",
        "agree_m",
        "agree_u",
        F.round(m, 6).alias("m"),
        F.round(u, 6).alias("u"),
        F.round(F.log2(m / u), 6).alias("w_agree"),
        F.round(F.log2((F.lit(1.0) - m) / (F.lit(1.0) - u)), 6).alias(
            "w_disagree"
        ),
    )

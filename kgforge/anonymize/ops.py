"""Column anonymization operators as DataFrame transforms.

Each operator consumes one attribute's column vector ``(subj, obj_value, ...)``
and returns NEW triples to union into the graph (the reference mutates its
Jena model in place — Masking.java:19-25, Generalization.java:59-62,
Randomization.java:72-75; we rebuild immutably).

Scale notes are inline: generalization uses a range-partitioned global rank
(never a single-partition window); randomization's sequential RNG contract
forces one task per attribute in fixture-parity mode (attributes run in
parallel — independent seeded streams per attribute, RandomizationNumeric.java:22),
with a documented partition-parallel scale mode.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.anonymize.values import (
    format_bound_col,
    format_randomized,
    median_col,
    parse_col,
)
from kgforge.javarandom import JavaRandom, java_math_round
from kgforge.rank import register_cache, with_global_rank
from kgforge.triples import (
    RDF_MAX,
    RDF_MIN,
    RDF_TYPE,
    RDFS_COMMENT,
    SOYA_URL,
)

MASK = "*****"
OBFUSCATED_LOWER = "For the lower bound the minimum value is obfuscated"
OBFUSCATED_UPPER = "For the higher bound the maximum value is obfuscated"


def mask(col_df: DataFrame, attr: str) -> DataFrame:
    """Masking (reference: Masking.java:19-25): constant '*****' per non-null."""
    return col_df.select(
        F.col("subj"),
        F.lit(attr + "_masked").alias("pred"),
        F.lit(MASK).alias("obj_value"),
        F.lit("string").alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )


def generalize(
    col_df: DataFrame,
    attr: str,
    datatype: str,
    g: int,
    n: int,
    order_col=None,
) -> DataFrame:
    """Equal-frequency generalization (reference: Generalization.java:30-104).

    bucket(i) = g*i/k (int arithmetic — NOT ntile, which distributes
    remainders differently); bucket b bounds are means of the sorted values
    adjacent to indices b*k/g and (b+1)*k/g - 1; edge buckets obfuscate the
    outer bound.  The global rank is computed with range partitioning +
    partition offsets (kgforge.rank) so the sort scales.

    Boundary extraction is fully distributed: the ≤4g boundary indices live
    in a ``spark.range(g)`` DataFrame that is *broadcast* into a join against
    the ranked table (no literal IN-list in the plan, no driver loop over g),
    and the g bucket-bound triples are built as DataFrame transforms via the
    column twins of median/format (kgforge.anonymize.values).  Plan size is
    O(1) in g, so g ≈ 10⁶ (k ≈ 10¹²) works.
    """
    spark = col_df.sparkSession
    d = col_df.withColumn("_v", parse_col(datatype, F.col("obj_value")))
    tiebreak = order_col if order_col is not None else F.col("subj")
    # persisted (read by the boundary join AND the bucket assignment) and
    # registered: the engine releases it after its per-type checkpoint
    ranked = register_cache(
        with_global_rank(d, [F.col("_v"), tiebreak], out="_rank").persist()
    )

    # boundary-adjacent sorted indices for all g buckets, as a DataFrame
    roles = F.array(
        F.struct(F.lit("lo_prev").alias("_role"), (F.col("_lb") - 1).alias("_i")),
        F.struct(F.lit("lo").alias("_role"), F.col("_lb").alias("_i")),
        F.struct(F.lit("hi").alias("_role"), F.col("_ub").alias("_i")),
        F.struct(F.lit("hi_next").alias("_role"), (F.col("_ub") + 1).alias("_i")),
    )
    bidx = (
        spark.range(g)
        .select(
            F.col("id").alias("_b"),
            F.expr(f"id * CAST({n} AS BIGINT) div {g}").alias("_lb"),
            F.expr(f"(id + 1) * CAST({n} AS BIGINT) div {g} - 1").alias("_ub"),
        )
        .select("_b", F.explode(roles).alias("_e"))
        .select("_b", F.col("_e._role").alias("_role"), F.col("_e._i").alias("_i"))
        .filter((F.col("_i") >= 0) & (F.col("_i") < n))
    )
    bvals = (
        ranked.select(F.col("_rank").alias("_i"), "_v")
        .join(F.broadcast(bidx), "_i")
        .groupBy("_b")
        .agg(
            F.max(F.when(F.col("_role") == "lo_prev", F.col("_v"))).alias("_vlp"),
            F.max(F.when(F.col("_role") == "lo", F.col("_v"))).alias("_vlo"),
            F.max(F.when(F.col("_role") == "hi", F.col("_v"))).alias("_vhi"),
            F.max(F.when(F.col("_role") == "hi_next", F.col("_v"))).alias("_vhn"),
        )
    )
    lower = median_col(datatype, F.col("_vlp"), F.col("_vlo"))
    upper = median_col(datatype, F.col("_vhi"), F.col("_vhn"))
    lower_lex, bound_dt = format_bound_col(datatype, lower)
    upper_lex, _ = format_bound_col(datatype, upper)
    bucket_iri = F.concat(F.lit(attr + "_"), F.col("_b").cast("string"))
    first_b, last_b = F.col("_b") == 0, F.col("_b") == g - 1

    def bucket_triple(pred, value, dtype):
        return F.struct(
            pred.alias("pred"), value.alias("obj_value"), dtype.alias("obj_dtype")
        )

    # one pass over bvals emits each bucket's three triples: the type —
    # reference addProperty(RDF.type, String) stores it as a *string
    # literal* (Generalization.java:75) — and the two bounds
    bucket_triples = bvals.select(
        bucket_iri.alias("subj"),
        F.explode(F.array(
            bucket_triple(
                F.lit(RDF_TYPE), F.lit(SOYA_URL + "generalization"), F.lit("string")
            ),
            bucket_triple(
                F.when(first_b, F.lit(RDFS_COMMENT)).otherwise(F.lit(RDF_MIN)),
                F.when(first_b, F.lit(OBFUSCATED_LOWER)).otherwise(lower_lex),
                F.when(first_b, F.lit("string")).otherwise(F.lit(bound_dt)),
            ),
            bucket_triple(
                F.when(last_b, F.lit(RDFS_COMMENT)).otherwise(F.lit(RDF_MAX)),
                F.when(last_b, F.lit(OBFUSCATED_UPPER)).otherwise(upper_lex),
                F.when(last_b, F.lit("string")).otherwise(F.lit(bound_dt)),
            ),
        )).alias("_t"),
    ).select(
        "subj", "_t.pred", "_t.obj_value", "_t.obj_dtype",
        F.lit(False).alias("obj_is_iri"),
    )

    # bucket(i) = g*i/k in integer arithmetic (Generalization.java:50)
    bucket_id = F.expr(f"CAST({g} AS BIGINT) * _rank DIV {n}")
    assign = ranked.select(
        F.col("subj"),
        F.lit(attr + "_generalized").alias("pred"),
        F.concat(F.lit(attr + "_"), bucket_id.cast("string")).alias("obj_value"),
        F.lit("iri").alias("obj_dtype"),
        F.lit(True).alias("obj_is_iri"),
    )
    return assign.unionByName(bucket_triples)


def generalize_object(
    triples: DataFrame,
    col_df: DataFrame,
    attr: str,
    attr_order: tuple[str, ...],
    g: int,
    n: int,
    hier_prefix: str,
) -> DataFrame:
    """Hierarchy generalization (reference: GeneralizationObject.java:27-58).

    Walk the attributeOrder ladder low→high; first level whose value groups
    satisfy (#groups ≤ g AND min group count > 0.5·n/g) wins; otherwise mask.
    Sub-property IRIs are hardcoded under the demo prefix
    (GeneralizationObject.java:31 — quirk preserved via hier_prefix).
    """
    gen_pred = attr + "_generalized"
    level_preds = [hier_prefix + level for level in attr_order]
    if level_preds:
        # every level's value per referenced object, in one pivot
        child = (
            triples.filter(F.col("pred").isin(level_preds) & ~F.col("obj_is_iri"))
            .groupBy(F.col("subj").alias("_ref"))
            .agg(*[
                F.first(F.when(F.col("pred") == p, F.col("obj_value")), True)
                .alias(f"_l{i}")
                for i, p in enumerate(level_preds)
            ])
        )
        vals = col_df.select("subj", F.col("obj_value").alias("_ref")).join(
            F.broadcast(child), "_ref", "left"
        ).select("subj", *[
            F.coalesce(F.col(f"_l{i}"), F.lit("")).alias(f"_l{i}")
            for i in range(len(level_preds))
        ])
        # the group statistics of every level in ONE action
        per_level = F.explode(F.array(*[
            F.struct(F.lit(i).alias("_lvl"), F.col(f"_l{i}").alias("_val"))
            for i in range(len(level_preds))
        ]))
        stats = {
            r["_lvl"]: r
            for r in vals.select(per_level.alias("_e"))
            .groupBy("_e._lvl", "_e._val")
            .count()
            .groupBy("_lvl")
            .agg(F.count(F.lit(1)).alias("ngroups"), F.min("count").alias("mincnt"))
            .collect()
        }
        for i in range(len(level_preds)):
            st = stats.get(i)
            if st is not None and st["ngroups"] <= g and st["mincnt"] > n * 0.5 / g:
                return vals.select(
                    "subj",
                    F.lit(gen_pred).alias("pred"),
                    F.col(f"_l{i}").alias("obj_value"),
                    F.lit("string").alias("obj_dtype"),
                    F.lit(False).alias("obj_is_iri"),
                )
    return col_df.select(
        "subj",
        F.lit(gen_pred).alias("pred"),
        F.lit(MASK).alias("obj_value"),
        F.lit("string").alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )


def _draw_numeric(rng: JavaRandom, v: float, dist: float, vmin: float, vmax: float) -> float:
    # RandomizationNumeric.java:30-40 — uniform noise, reflect, re-draw loop
    rv = float("inf")
    while rv > vmax or rv < vmin:
        noise = rng.next_double() * dist
        cand = v + noise
        rv = v - noise if (cand > vmax or cand < vmin) else cand
    return rv


def _draw_date(rng: JavaRandom, day: int, dist: float, dmin: int, dmax: int) -> int:
    # RandomizationDate.java:40-58 — gaussian days, negate-if-out, re-draw
    noise = 2**31 - 1
    while day + noise > dmax or day + noise < dmin:
        noise = int(java_math_round(rng.next_gaussian() * dist))
        if day + noise > dmax or day + noise < dmin:
            noise = -noise
    return day + noise


def _draw_datetime(rng: JavaRandom, sec: int, dist: float, smin: int, smax: int) -> int:
    # RandomizationDateTime.java:36-51 — gaussian seconds, (int) truncation
    noise = 2**31 - 1
    while sec + noise > smax or sec + noise < smin:
        noise = int(rng.next_gaussian() * dist)  # Java (int) cast truncates
        if sec + noise > smax or sec + noise < smin:
            noise = -noise
    return sec + noise


def randomize(
    col_df: DataFrame,
    attr: str,
    datatype: str,
    g: int,
    n: int,
    seed: int,
    order_col=None,
    mode: str = "exact",
) -> DataFrame:
    """Adaptive-noise randomization (reference: Randomization.java:27-59 +
    per-datatype draws).

    Window size rv = n/g (n-1 if rv == n); for each sorted value, a two-pointer
    pass finds the closest contiguous (rv+1)-window and the noise scale is the
    max distance to its ends.  Draws come from ONE java.util.Random(seed)
    stream consumed in ascending-value order with data-dependent retry loops —
    inherently sequential per attribute (RandomizationNumeric.java:22,
    fixtures pin seed=1234).  mode="exact" runs the attribute as a single
    applyInPandas group (attributes parallelize across tasks); mode
    ="partitioned" range-partitions and seeds each partition with seed ⊕ pid —
    a documented semantic extension for corpus scale.
    """
    d = col_df.withColumn("_v", parse_col(datatype, F.col("obj_value")))
    tiebreak = order_col if order_col is not None else F.col("subj")
    d = d.withColumn("_ord", tiebreak.cast("string"))

    def run_group(pdf: pd.DataFrame, seed_: int) -> pd.DataFrame:
        pdf = pdf.sort_values(["_v", "_ord"], kind="mergesort").reset_index(drop=True)
        vals = pdf["_v"].to_numpy()
        k = len(vals)
        if k == 0:
            return pd.DataFrame({"subj": [], "obj_value": []})
        rng = JavaRandom(seed_)
        vmin, vmax = vals[0], vals[-1]
        # window size from the group's own size (Randomization.java:29,37);
        # in exact mode the group IS the whole column, so this equals n/g
        rvv = k // g
        if rvv == k:
            rvv -= 1
        out = []
        lower = 0
        for idx in range(k):
            v = vals[idx]
            while lower < k - (rvv + 1) and (
                lower < idx - rvv
                or abs(vals[lower] - v) > abs(vals[lower + rvv + 1] - v)
            ):
                lower += 1
            dist = max(abs(vals[lower] - v), abs(vals[lower + rvv] - v))
            if datatype in ("integer", "double"):
                res = _draw_numeric(rng, float(v), float(dist), float(vmin), float(vmax))
            elif datatype == "date":
                res = _draw_date(rng, int(v), float(dist), int(vmin), int(vmax))
            else:
                res = _draw_datetime(rng, int(v), float(dist), int(vmin), int(vmax))
            out.append(format_randomized(datatype, res)[0])
        return pd.DataFrame({"subj": pdf["subj"], "obj_value": out})

    dtype = format_randomized(datatype, 0)[1]
    if mode == "partitioned":
        npart = max(d.sparkSession.sparkContext.defaultParallelism, 1)
        from pyspark import TaskContext

        def run_part(it):
            pid = TaskContext.get().partitionId()
            pdf = pd.concat(list(it)) if it else pd.DataFrame()
            frames = [pdf] if len(pdf) else []
            for f_ in frames:
                yield run_group(f_, seed ^ pid)

        randomized = (
            d.repartitionByRange(npart, "_v", "_ord")
            .mapInPandas(run_part, schema="subj string, obj_value string")
        )
    else:
        randomized = (
            d.withColumn("_grp", F.lit(1))
            .groupBy("_grp")
            .applyInPandas(
                lambda pdf: run_group(pdf, seed),
                schema="subj string, obj_value string",
            )
        )
    return randomized.select(
        "subj",
        F.lit(attr + "_randomized").alias("pred"),
        "obj_value",
        F.lit(dtype).alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )

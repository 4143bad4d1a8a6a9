"""Column anonymization operators as DataFrame transforms.

Each operator consumes the values of one or more attributes in long format
``(subj, _k, obj_value, ...)`` — ``_k`` selects the row's attribute among
the call's :class:`AttrSpec` list — and returns NEW triples to union into
the graph (the reference mutates its Jena model in place —
Masking.java:19-25, Generalization.java:59-62, Randomization.java:72-75; we
rebuild immutably).  The reference runs one operator per attribute; here
one call covers every attribute of its kind, so a request's Spark jobs do
not grow with its attribute count.  The per-attribute parameters (name,
datatype, bucket count, value count, rank offset) travel as a small
broadcast relation joined on ``_k``, never as per-attribute literals, so
plan size is O(1) in the attribute count and in the bucket count.

Generalization ranks all of its attributes with one range-partitioned global
rank over ``(_k, value, tie)`` (never a single-partition window unless the
session has a single slice); randomization's sequential RNG contract forces
one task per attribute in fixture-parity mode (one ``applyInPandas`` group
per attribute, each with its own seeded stream —
RandomizationNumeric.java:22), with a documented partition-parallel scale
mode.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.anonymize.values import (
    PARSED_DATATYPES,
    format_bound_sql,
    format_randomized,
    median_sql,
    parse_sql,
)
from kgforge.javarandom import JavaRandom, java_math_round
from kgforge.rank import with_global_rank
from kgforge.triples import (
    RDF_MAX,
    RDF_MIN,
    RDF_TYPE,
    RDFS_COMMENT,
    SOYA_URL,
    local_df,
)

MASK = "*****"
OBFUSCATED_LOWER = "For the lower bound the minimum value is obfuscated"
OBFUSCATED_UPPER = "For the higher bound the maximum value is obfuscated"


@dataclass(frozen=True)
class AttrSpec:
    """One attribute of an operator call: the rows whose ``_k`` is ``k``
    hold ``attr``'s values.  ``g`` (bucket count) and ``n`` (value count)
    are read by generalization and randomization only."""

    attr: str
    datatype: str = "string"
    g: int = 0
    n: int = 0
    k: int = 0


_PARAMS_SCHEMA = T.StructType([
    T.StructField("_k", T.IntegerType()),
    T.StructField("_attr", T.StringType()),
    T.StructField("_dt", T.StringType()),
    T.StructField("_g", T.LongType()),
    T.StructField("_n", T.LongType()),
    T.StructField("_koff", T.LongType()),
])


def _with_params(col_df: DataFrame, specs: list[AttrSpec]) -> DataFrame:
    """``col_df`` joined with its attributes' parameters
    ``(_attr, _dt, _g, _n, _koff)`` on ``_k``; rows of other attributes drop
    out.  ``_koff`` is the number of values of the attributes with a smaller
    ``k`` — where an attribute's block starts in a rank ordered by ``_k``
    first.  A frame without ``_k`` holds the single attribute of ``specs``.
    """
    if "_k" not in col_df.columns:
        (spec,) = specs
        col_df = col_df.withColumn("_k", F.lit(spec.k))
    rows, off = [], 0
    for s in sorted(specs, key=lambda s: s.k):
        rows.append((s.k, s.attr, s.datatype, s.g, s.n, off))
        off += s.n
    params = local_df(col_df.sparkSession, rows, _PARAMS_SCHEMA)
    return col_df.join(F.broadcast(params), "_k")


def _check_datatypes(specs: list[AttrSpec]) -> None:
    for s in specs:
        if s.datatype not in PARSED_DATATYPES:
            raise ValueError(f"unsupported datatype for value parsing: {s.datatype}")


def mask(col_df: DataFrame, specs: list[AttrSpec]) -> DataFrame:
    """Masking (reference: Masking.java:19-25): constant '*****' per value."""
    return _with_params(col_df, specs).selectExpr(
        "subj",
        "concat(_attr, '_masked') AS pred",
        f"'{MASK}' AS obj_value",
        "'string' AS obj_dtype",
        "false AS obj_is_iri",
    )


def _boundaries(lo: str, hi: str, before: str) -> str:
    """SQL: the boundaries ``lo``..``hi`` as ``(_c, _before)`` structs —
    none when hi < lo, where a bare ``sequence`` would count down."""
    return (
        f"transform(filter(sequence({lo}, greatest({lo}, {hi})), c -> c <= {hi}),"
        f" c -> named_struct('_c', c, '_before', {before}))"
    )


def _bucket_triple(b: str, pred: str, value: str, dtype: str) -> str:
    return (
        f"named_struct('subj', concat(_attr, '_', CAST({b} AS STRING)),"
        f" 'pred', {pred}, 'obj_value', {value}, 'obj_dtype', {dtype})"
    )


def generalize(
    col_df: DataFrame, specs: list[AttrSpec], order_col=None
) -> DataFrame:
    """Equal-frequency generalization (reference: Generalization.java:30-104)
    of every attribute in ``specs`` at once.

    Per attribute with n values in g buckets: bucket(i) = g*i/n (int
    arithmetic — NOT ntile, which distributes remainders differently).  The
    bucket bounds sit at the boundaries lb(c) = c*n/g, c = 0..g: boundary c
    has the value before it (sorted index lb(c)-1) and after it (index
    lb(c)); bucket b's lower bound is the mean at boundary b and its upper
    bound the mean at boundary b+1 (Generalization.java:94-103 — these
    indices do not align with the assignment formula; preserved); the first
    bucket's lower and the last bucket's upper bound are obfuscated.

    One global rank over ``(_k, value, tie)`` ranks every attribute; an
    attribute's rank is that minus its offset.  Each row works out the
    boundaries it is adjacent to (integer arithmetic, no join), and one
    ``groupBy(_k, boundary)`` yields every attribute's bounds — plan size is
    O(1) in g, so g ≈ 10⁶ (k ≈ 10¹²) works.  Expressions are SQL text: the
    plan is built in a few driver round trips, not one per expression node.
    """
    _check_datatypes(specs)
    tiebreak = order_col if order_col is not None else F.col("subj")
    d = _with_params(col_df, specs).withColumn(
        "_v", F.expr(parse_sql("_dt", "obj_value"))
    )
    ranked = with_global_rank(
        d, [F.col("_k"), F.col("_v"), tiebreak], out="_grank"
    ).withColumn("_rank", F.expr("_grank - _koff"))

    # first[j] = ceil((_rank + j) * g / n): the smallest boundary c with
    # lb(c) >= _rank + j.  The row is after the boundaries c with
    # lb(c) == _rank and before those with lb(c) == _rank + 1 (c <= g)
    first = [f"(((_rank + {j}) * _g + _n - 1) div _n)" for j in (0, 1, 2)]
    sides = (
        f"concat({_boundaries(first[0], f'{first[1]} - 1', 'false')},"
        f" {_boundaries(first[1], f'least({first[2]} - 1, _g)', 'true')})"
    )
    lex, bound_dt = format_bound_sql("_dt", median_sql("_dt", "_vb", "_va"))
    bounds = (
        ranked.selectExpr("_k", "_attr", "_dt", "_g", "_v", f"explode({sides}) AS _e")
        .groupBy("_k", "_attr", "_dt", "_g", "_e._c")
        .agg(
            F.expr("max(IF(_e._before, _v, NULL)) AS _vb"),
            F.expr("max(IF(_e._before, NULL, _v)) AS _va"),
        )
        .selectExpr("_attr", "_g", "_c", f"{lex} AS _lex", f"{bound_dt} AS _bdt")
    )
    # boundary c emits bucket c's type triple — reference
    # addProperty(RDF.type, String) stores it as a *string literal*
    # (Generalization.java:75) — and lower bound, and bucket c-1's upper
    # bound
    triples = [
        _bucket_triple(
            "_c", f"'{RDF_TYPE}'", f"'{SOYA_URL}generalization'", "'string'"
        ),
        _bucket_triple(
            "_c",
            f"IF(_c = 0, '{RDFS_COMMENT}', '{RDF_MIN}')",
            f"IF(_c = 0, '{OBFUSCATED_LOWER}', _lex)",
            "IF(_c = 0, 'string', _bdt)",
        ),
        _bucket_triple(
            "_c - 1",
            f"IF(_c = _g, '{RDFS_COMMENT}', '{RDF_MAX}')",
            f"IF(_c = _g, '{OBFUSCATED_UPPER}', _lex)",
            "IF(_c = _g, 'string', _bdt)",
        ),
    ]
    bucket_triples = bounds.selectExpr(
        f"explode(filter(array(IF(_c < _g, {triples[0]}, NULL),"
        f" IF(_c < _g, {triples[1]}, NULL), IF(_c > 0, {triples[2]}, NULL)),"
        " t -> t IS NOT NULL)) AS _t"
    ).selectExpr("_t.*", "false AS obj_is_iri")

    # bucket(i) = g*i/n in integer arithmetic (Generalization.java:50)
    assign = ranked.selectExpr(
        "subj",
        "concat(_attr, '_generalized') AS pred",
        "concat(_attr, '_', CAST(_g * _rank div _n AS STRING)) AS obj_value",
        "'iri' AS obj_dtype",
        "true AS obj_is_iri",
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
    specs: list[AttrSpec],
    seed: int,
    order_col=None,
    mode: str = "exact",
) -> DataFrame:
    """Adaptive-noise randomization (reference: Randomization.java:27-59 +
    per-datatype draws) of every attribute in ``specs`` at once.

    Window size rv = n/g (n-1 if rv == n); for each sorted value, a two-pointer
    pass finds the closest contiguous (rv+1)-window and the noise scale is the
    max distance to its ends.  Each attribute draws from its own
    java.util.Random(seed) stream consumed in ascending (value, tie) order
    with data-dependent retry loops — inherently sequential per attribute
    (RandomizationNumeric.java:22, fixtures pin seed=1234).  mode="exact"
    runs one applyInPandas group per attribute (attributes parallelize
    across tasks); mode="partitioned" range-partitions by (attribute, value)
    and seeds each partition's share of an attribute with seed ⊕ pid — a
    documented semantic extension for corpus scale.
    """
    _check_datatypes(specs)
    tiebreak = order_col if order_col is not None else F.col("subj")
    d = _with_params(col_df, specs).select(
        "subj", "_k", "_attr", "_dt", "_g",
        F.expr(parse_sql("_dt", "obj_value")).alias("_v"),
        tiebreak.cast("string").alias("_ord"),
    )

    def run_group(pdf: pd.DataFrame, seed_: int) -> pd.DataFrame:
        pdf = pdf.sort_values(["_v", "_ord"], kind="mergesort").reset_index(drop=True)
        vals = pdf["_v"].to_numpy()
        k = len(vals)
        datatype, g = pdf["_dt"].iat[0], int(pdf["_g"].iat[0])
        rng = JavaRandom(seed_)
        vmin, vmax = vals[0], vals[-1]
        # window size from the group's own size (Randomization.java:29,37);
        # in exact mode the group IS the attribute's column, so this is n/g
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
        return pd.DataFrame({
            "subj": pdf["subj"],
            "pred": pdf["_attr"] + "_randomized",
            "obj_value": out,
            "obj_dtype": format_randomized(datatype, 0)[1],
        })

    schema = "subj string, pred string, obj_value string, obj_dtype string"
    if mode == "partitioned":
        npart = max(d.sparkSession.sparkContext.defaultParallelism, 1)
        from pyspark import TaskContext

        def run_part(it):
            frames = list(it)
            if not frames:
                return
            pid = TaskContext.get().partitionId()
            for _, grp in pd.concat(frames).groupby("_k"):
                yield run_group(grp, seed ^ pid)

        randomized = d.repartitionByRange(npart, "_k", "_v", "_ord").mapInPandas(
            run_part, schema=schema
        )
    else:
        randomized = d.groupBy("_k").applyInPandas(
            lambda pdf: run_group(pdf, seed), schema=schema
        )
    return randomized.withColumn("obj_is_iri", F.lit(False))

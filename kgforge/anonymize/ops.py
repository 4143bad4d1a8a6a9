"""Column anonymization operators as DataFrame transforms.

Each operator consumes the values of one or more attributes in long format
``(subj, _k, obj_value, _v, ...)`` — ``_k`` selects the row's attribute
among the call's :class:`AttrSpec` list, ``_v`` is the value parsed by
:func:`kgforge.anonymize.values.parse_sql` (read by generalization and
randomization; the engine parses it once, in its pivot, and rejects a type
with a value that does not parse) — and returns NEW triples to union into
the graph (the reference mutates its Jena model in place —
Masking.java:19-25, Generalization.java:59-62, Randomization.java:72-75; we
rebuild immutably).  The reference runs one operator per attribute; here
one call covers every attribute of its kind, so a request's Spark jobs do
not grow with its attribute count.  The per-attribute parameters (name,
datatype, bucket count, value count, rank offset) travel as a small
array literal looked up by ``_k`` (:func:`kgforge.triples.array_sql`),
never as per-attribute expressions or inlined integers, so plan size is
O(1) in the attribute count and in the bucket count, and every call
compiles to the same classes whatever the configuration.

Generalization ranks all of its attributes with one range-partitioned
global rank over ``(_k, value, tie, subj)`` (never a single-partition
window unless the session has a single slice); randomization's sequential
RNG contract forces one task per attribute (one ``applyInPandas`` group per
attribute, each with its own seeded stream — RandomizationNumeric.java:22),
and so does object generalization's choice of level.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import accumulate

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.anonymize.values import format_bound, format_bound_sql, median_sql
from kgforge.config import DEMO_PREFIX
from kgforge.javarandom import JavaRandom, java_math_round
from kgforge.rank import with_global_rank
from kgforge.triples import (
    RDF_MAX,
    RDF_MIN,
    RDF_TYPE,
    RDFS_COMMENT,
    SOYA_URL,
    array_sql,
)

MASK = "*****"
OBFUSCATED_LOWER = "For the lower bound the minimum value is obfuscated"
OBFUSCATED_UPPER = "For the higher bound the maximum value is obfuscated"


@dataclass(frozen=True)
class AttrSpec:
    """One attribute of an operator call: the rows whose ``_k`` is ``k``
    hold ``attr``'s values.  ``g`` (bucket count) and ``n`` (value count)
    are read by the generalizations and randomization only, ``levels``
    (the attributeOrder ladder) by object generalization only."""

    attr: str
    datatype: str = "string"
    g: int = 0
    n: int = 0
    k: int = 0
    levels: tuple[str, ...] = ()


def _with_params(col_df: DataFrame, specs: list[AttrSpec]) -> DataFrame:
    """``col_df`` with its attributes' parameters ``(_attr, _dt, _g, _n,
    _koff)``, looked up by ``_k`` in array literals; rows of other
    attributes drop out.  ``_koff`` is the number of values of the
    attributes with a smaller ``k`` — where an attribute's block starts in
    a rank ordered by ``_k`` first.  A frame without ``_k`` holds the single
    attribute of ``specs``.
    """
    if "_k" not in col_df.columns:
        (spec,) = specs
        col_df = col_df.withColumn("_k", F.lit(spec.k))
    specs = sorted(specs, key=lambda s: s.k)
    offs = list(accumulate((s.n for s in specs), initial=0))[:-1]
    params = {
        "_attr": array_sql([s.attr for s in specs]),
        "_dt": array_sql([s.datatype for s in specs]),
        "_g": array_sql([s.g for s in specs], "bigint"),
        "_n": array_sql([s.n for s in specs], "bigint"),
        "_koff": array_sql(offs, "bigint"),
    }
    i = f"CAST(array_position({array_sql([s.k for s in specs], 'int')}, _k) AS INT)"
    return col_df.selectExpr("*", f"{i} AS _i").filter("_i > 0").selectExpr(
        *col_df.columns, *[f"element_at({arr}, _i) AS {name}" for name, arr in params.items()]
    )


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
        f" 'pred', {pred}, 'obj_value', {value}, 'obj_dtype', {dtype},"
        " 'obj_is_iri', false)"
    )


def generalize(
    col_df: DataFrame, specs: list[AttrSpec], order_col=None, *, cleanup: list
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

    One global rank over ``(_k, value, tie, subj)`` ranks every attribute
    (``subj`` orders the rows a null tie leaves tied); an attribute's rank
    is that minus its offset.  Each row works out the
    boundaries it is adjacent to (integer arithmetic, no join), and one
    ``groupBy(_k, boundary)`` yields every attribute's bounds — plan size is
    O(1) in g, so g ≈ 10⁶ (k ≈ 10¹²) works.  Expressions are SQL text: the
    plan is built in a few driver round trips, not one per expression node.
    The rank's persisted frame goes to ``cleanup``; the caller unpersists it
    after its last action over the result.
    """
    tiebreak = order_col if order_col is not None else F.col("subj")
    ranked = with_global_rank(
        _with_params(col_df, specs), [F.col("_k"), F.col("_v"), tiebreak, F.col("subj")],
        out="_grank", cleanup=cleanup,
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
    # one row per value's assignment (_c null, keyed by its unique rank) and
    # one per boundary it is adjacent to, so one aggregation serves both and
    # the ranked rows are read once
    entries = (
        f"concat(array(named_struct('_c', CAST(NULL AS BIGINT), '_before', false,"
        f" '_r', _rank, '_s', subj)), transform({sides},"
        f" e -> named_struct('_c', e._c, '_before', e._before,"
        f" '_r', CAST(NULL AS BIGINT), '_s', CAST(NULL AS STRING))))"
    )
    groups = (
        ranked.selectExpr("_k", "_attr", "_dt", "_g", "_n", "_v", f"explode({entries}) AS _e")
        .groupBy("_k", "_attr", "_dt", "_g", "_n", "_e._c", "_e._r", "_e._s")
        .agg(
            F.expr("max(IF(_e._before, _v, NULL)) AS _vb"),
            F.expr("max(IF(_e._before, NULL, _v)) AS _va"),
        )
        .selectExpr("_attr", "_g", "_n", "_c", "_r", "_s", f"{lex} AS _lex",
                    f"{bound_dt} AS _bdt")
    )
    # an assignment row emits its value's bucket, bucket(i) = g*i/n in
    # integer arithmetic (Generalization.java:50); boundary c emits bucket
    # c's type triple — reference addProperty(RDF.type, String) stores it as
    # a *string literal* (Generalization.java:75) — and lower bound, and
    # bucket c-1's upper bound
    assign = (
        "named_struct('subj', _s, 'pred', concat(_attr, '_generalized'),"
        " 'obj_value', concat(_attr, '_', CAST(_g * _r div _n AS STRING)),"
        " 'obj_dtype', 'iri', 'obj_is_iri', true)"
    )
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
    return groups.selectExpr(
        f"explode(IF(_c IS NULL, array({assign}), filter(array("
        f"IF(_c < _g, {triples[0]}, NULL), IF(_c < _g, {triples[1]}, NULL),"
        f" IF(_c > 0, {triples[2]}, NULL)), t -> t IS NOT NULL))) AS _t"
    ).select("_t.*")


def generalize_object(
    triples: DataFrame, col_df: DataFrame, specs: list[AttrSpec]
) -> DataFrame:
    """Hierarchy generalization (reference: GeneralizationObject.java:27-58)
    of every attribute in ``specs`` at once; ``col_df``'s values are the
    IRIs of the objects whose level values replace them.

    Walk each attribute's attributeOrder ladder (``AttrSpec.levels``)
    low→high; the first level whose value groups satisfy (#groups ≤ g AND
    min group count > 0.5·n/g) wins; otherwise mask.  Level sub-property
    IRIs are hardcoded under the demo prefix (GeneralizationObject.java:31
    — quirk preserved).

    Every value becomes one row per rung of its attribute's ladder, the
    mask rung last and always eligible; one ``applyInPandas`` group per
    attribute receives those rows and the referenced objects' level values,
    picks the lowest eligible rung and returns its rows — no driver round
    trip and no join, and the ladders are array literals, so the plan does
    not depend on them.
    """
    # every rung of every ladder: its attribute, level and level predicate
    # ('' for the mask rung)
    rungs = [(s.k, i, DEMO_PREFIX + lv) for s in specs for i, lv in enumerate(s.levels)]
    rungs += [(s.k, len(s.levels), "") for s in specs]
    ladder = [
        f"{array_sql([r[i] for r in rungs], t)} AS {name}"
        for i, (t, name) in enumerate((("int", "_rk"), ("int", "_rl"), ("string", "_rp")))
    ]
    # one row per (value, rung), and one per (level value of an object,
    # rung of its level predicate), both keyed by attribute
    values = _with_params(col_df, specs).selectExpr(
        "subj", "_k", "_attr", "_g", "_n", "obj_value AS _ref", *ladder
    ).selectExpr(
        "subj", "_k", "_attr", "_g", "_n", "_ref",
        "explode(filter(arrays_zip(_rk, _rl, _rp), r -> r._rk = _k)) AS _r",
    ).selectExpr(
        "subj", "_k", "_attr", "_g", "_n", "_ref", "_r._rl AS _lvl",
        "_r._rp AS _lpred", "CAST(NULL AS STRING) AS _val",
    )
    levels = triples.filter("NOT obj_is_iri").selectExpr(
        "subj AS _ref", "pred", "obj_value", *ladder
    ).selectExpr(
        "_ref", "obj_value AS _val",
        "explode(filter(arrays_zip(_rk, _rl, _rp), r -> r._rp = pred)) AS _r",
    ).selectExpr(
        "CAST(NULL AS STRING) AS subj", "_r._rk AS _k", "CAST(NULL AS STRING) AS _attr",
        "CAST(NULL AS BIGINT) AS _g", "CAST(NULL AS BIGINT) AS _n", "_ref",
        "_r._rl AS _lvl", "_r._rp AS _lpred", "_val",
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        is_value = pdf["subj"].notna()
        rows = pdf[is_value].drop(columns="_val")
        if rows.empty:
            return pd.DataFrame({"subj": [], "pred": [], "obj_value": []})
        # an object's first value of each level predicate
        found = pdf[~is_value & pdf["_val"].notna()].drop_duplicates(["_ref", "_lpred"])
        rows = rows.merge(found[["_ref", "_lpred", "_val"]], on=["_ref", "_lpred"],
                          how="left")
        rows["_val"] = rows["_val"].fillna("")
        rows.loc[rows["_lpred"] == "", "_val"] = MASK
        g, n = int(rows["_g"].iat[0]), int(rows["_n"].iat[0])
        for _, rung in rows.groupby("_lvl", sort=True):
            counts = rung["_val"].value_counts()
            if (rung["_lpred"] == "").all() or (
                len(counts) <= g and counts.min() > n * 0.5 / g
            ):
                break
        return pd.DataFrame({
            "subj": rung["subj"],
            "pred": rung["_attr"] + "_generalized",
            "obj_value": rung["_val"],
        })

    schema = "subj string, pred string, obj_value string"
    return values.unionByName(levels).groupBy("_k").applyInPandas(pick, schema).selectExpr(
        "subj", "pred", "obj_value", "'string' AS obj_dtype", "false AS obj_is_iri"
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
) -> DataFrame:
    """Adaptive-noise randomization (reference: Randomization.java:27-59 +
    per-datatype draws) of every attribute in ``specs`` at once.

    Window size rv = n/g (n-1 if rv == n); for each sorted value, a two-pointer
    pass finds the closest contiguous (rv+1)-window and the noise scale is the
    max distance to its ends.  Each attribute draws from its own
    java.util.Random(seed) stream consumed in ascending (value, tie) order,
    the tie compared as a string (``subj`` where it is null), with
    data-dependent retry loops — inherently sequential per attribute
    (RandomizationNumeric.java:22, fixtures pin seed=1234), so each
    attribute is one applyInPandas group (attributes parallelize across
    tasks).
    """
    tiebreak = order_col if order_col is not None else F.col("subj")
    d = _with_params(col_df, specs).select(
        "subj", "_k", "_attr", "_dt", "_g", "_v",
        F.coalesce(tiebreak.cast("string"), F.col("subj")).alias("_ord"),
    )

    def run_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["_v", "_ord"], kind="mergesort").reset_index(drop=True)
        vals = pdf["_v"].to_numpy()
        k = len(vals)
        datatype, g = pdf["_dt"].iat[0], int(pdf["_g"].iat[0])
        rng = JavaRandom(seed)
        vmin, vmax = vals[0], vals[-1]
        # window size n/g from the attribute's own value count
        # (Randomization.java:29,37)
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
            out.append(format_bound(datatype, res)[0])
        return pd.DataFrame({
            "subj": pdf["subj"],
            "pred": pdf["_attr"] + "_randomized",
            "obj_value": out,
            "obj_dtype": format_bound(datatype, 0)[1],
        })

    schema = "subj string, pred string, obj_value string, obj_dtype string"
    randomized = d.groupBy("_k").applyInPandas(run_group, schema=schema)
    return randomized.withColumn("obj_is_iri", F.lit(False))

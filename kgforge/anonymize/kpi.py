"""k-anonymity KPIs (reference: service/KpiService.java).

k-anonymity = min over resources of |generalization-group(r) ∩
(∩ per randomized attr: {r2 : orig(r2) within rand(r) ± benchmark})| where
benchmark = 2·mean(|orig − rand|) and null originals form their own
similarity group (KpiService.java:75-154).

One counter serves every input size.  The match predicate makes two
subjects share their generalization group and the null pattern of their
originals, so the subjects split into (group, null-pattern) strata and k is
the smallest of the strata's minima, each counted by :func:`_stratum_k`.
One bounded ``limit(…).collect()`` of the KPI rows decides where the
strata are counted: up to PAIR_THRESHOLD subjects (every request-sized
input) on the driver from the collected rows, with no other Spark action;
above it in Spark, one grouped ``applyInPandas`` task per stratum.  A
stratum of m subjects counts in O(m log m) for one randomized
attribute and in blocks of bounded size for more, so no pair or group-sized
square is ever built.  One stratum is one task: a single giant
generalization group runs on one core, and its rows are held whole in that
task's Python worker (a few numpy columns of m values per randomized
attribute).

Values parse as the operators parse them (:func:`values.parse_sql`): a
dateTime keeps its time of day, as the reference's ``literalToNumericDate``
does; a date is in days, not seconds, which moves no ``<=`` (its distances
are integers and their sums exact).

The benchmarks are the one input the two places do not compute alike: the
driver sums ``|o − r|`` exactly (``math.fsum``), Spark with its own
partition-ordered ``sum``.  When the two sums round to different doubles
and a distance falls between the two benchmarks, k differs between the
places.
"""

from __future__ import annotations

import math
from collections import defaultdict

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.anonymize.values import parse_sql
from kgforge.config import AttrConfig
from kgforge.triples import RDF_TYPE, SOYA_URL, array_sql, local_name, sql_str

KPI_OBJECT_URI = SOYA_URL + "kpi"
K_ANONYMITY = SOYA_URL + "kanonymity"
HAS_ATTRIBUTE = SOYA_URL + "hasAttribute"
ANONYMIZATION_TYP = SOYA_URL + "anonymizationTyp"
NR_BUCKETS = SOYA_URL + "nrBucketsUsed"

# subjects up to which k is counted on the driver from one collect
PAIR_THRESHOLD = 50_000


def attribute_info_rows(type_iri: str, attr: str, strategy: str, g: int) -> list[tuple]:
    """KpiService.addAttributeInformation:61-73 — called only for non-masking
    operators (Masking uses the constructor that never sets calculateKpi)."""
    kpi_obj = KPI_OBJECT_URI + local_name(type_iri)
    rows = [
        (kpi_obj, HAS_ATTRIBUTE, attr, "iri", True),
        (attr, ANONYMIZATION_TYP, strategy, "string", False),
    ]
    if strategy != "masking":
        rows.append((attr, NR_BUCKETS, str(g), "xsd:long", False))
    return rows


def kpi_object_rows(type_iri: str, k: int) -> list[tuple]:
    kpi_obj = KPI_OBJECT_URI + local_name(type_iri)
    # Reference quirk (KpiService.java:43-44): `anonymizationObject` is a
    # Resource of the CONFIG model, so `addProperty(soya:kpis, kpiObject)`
    # writes the (type, kpis, kpiObject) link into the discarded config
    # model, never the response model — the goldens contain only the KPI
    # node itself.  We reproduce that: no kpis link triple.
    return [
        # Jena Resource.addLiteral has no int overload, so the reference's
        # int k widens to long → typed xsd:long (KpiService.java:47)
        (kpi_obj, K_ANONYMITY, str(k), "xsd:long", False),
    ]


def k_anonymity(
    triples: DataFrame,
    type_iri: str,
    used_attrs: list[str],
    cfgs: dict[str, AttrConfig],
) -> tuple[int, str]:
    """Compute the k-anonymity KPI for one object type (KpiService.java:75-99);
    returns ``(k, mode)`` — ``mode`` is where the strata were counted,
    ``"driver"`` or ``"spark"``.

    Runs BEFORE original-value deletion, exactly like the reference (KPI at
    AnonymizationService.java:101-104, delete at :105-108).

    Both places count off the same rows (:func:`_kpi_cells`): each typed
    subject's type triple and its cells, folded per subject into the
    layout ``(subj, _g*, _o*, _r*, _po*, _pr*)`` — the generalization-group
    key of each used attribute and the parsed original and randomized
    values (plus their presence) of each randomized one.  ``max()`` picks
    one value per subject like the reference's pivot OPTIONAL binding, so
    rows that occur twice in ``triples`` change nothing.

    One ``limit(…).collect()`` of those rows decides: when it reads them
    all and they hold at most PAIR_THRESHOLD typed subjects (every
    request-sized input) the driver folds and counts them
    (:func:`_k_local`): one Spark action, no aggregation in Spark, nothing
    persisted.  Otherwise the subjects are folded in Spark
    (:func:`_kpi_frame`, :func:`_wide_frame`) and persisted, one
    aggregation gives the benchmarks and one ``applyInPandas`` counts each
    stratum in its own task (:func:`_k_spark`); with no used attribute, k
    is the subject count.  Both run :func:`_stratum_k` on the same strata
    with the same predicate; the benchmark sum is exact on the driver
    (``math.fsum``) and Spark's ``sum`` in Spark.
    """
    rand_attrs = [a for a in used_attrs if cfgs[a].strategy == "randomization"]
    n_used, n_rand = len(used_attrs), len(rand_attrs)
    cells = _kpi_cells(triples, type_iri, used_attrs, rand_attrs, cfgs)
    # the rows of PAIR_THRESHOLD typed subjects with one value per KPI
    # predicate, each row twice (the KPI input holds the unchanged rows
    # twice); a longer input takes the Spark path
    cap = min(PAIR_THRESHOLD * 2 * (2 + n_used + 2 * n_rand), 2**31 - 2)
    # one task reads the partitions in turn, so the read is one job
    rows = cells.coalesce(1).limit(cap + 1).collect()
    if len(rows) <= cap:
        subjects = _subject_rows(rows, n_used, n_rand)
        if not subjects:
            # reference quirk (QueryBuildingService.java:142-163 +
            # QueryService.java:215-235): with zero attributes the groups
            # query has NO GROUP BY, so the aggregate over zero rows still
            # yields one row whose empty GROUP_CONCAT splits into a single
            # empty-IRI resource — one group of size 1 ⇒ k = 1.  With
            # attributes (GROUP BY present) zero rows ⇒ no groups ⇒ k = 0.
            return (0 if used_attrs else 1), "driver"
        if len(subjects) <= PAIR_THRESHOLD:
            return _k_local(subjects, n_used, n_rand), "driver"
    frame = _kpi_frame(cells)
    if not used_attrs:
        # one stratum, every subject matches; it leaves no column to group
        # by or to hand to applyInPandas (no subject: the quirk above)
        return frame.count() or 1, "spark"
    frame = _wide_frame(frame, n_used, n_rand).persist()
    try:
        return _k_spark(frame, n_used, n_rand), "spark"
    finally:
        frame.unpersist()


def _kpi_cells(triples, type_iri, used_attrs, rand_attrs, cfgs) -> DataFrame:
    """(subj, _t, _c, _s, _x): one row per ``rdf:type type_iri`` triple
    (``_t`` true, no cell) and one per triple of a KPI predicate (a cell:
    ``_c`` the column of :func:`_k_local`'s row layout it fills, ``_s`` the
    lexical value and ``_x`` its parse, randomized attributes only).

    The row layout is ``(subj, _g<i> per used attribute, _o<j>, _r<j>,
    _po<j>, _pr<j> per randomized attribute)`` — the generalization group,
    the parsed original and randomized value, and whether each pred is
    PRESENT (independent of parse success; the benchmark denominator needs
    it).  The predicates, columns and datatypes reach the plan as array
    literals, so its shape does not depend on the configuration; the driver
    (:func:`_subject_rows`) or :func:`_kpi_frame` and :func:`_wide_frame`
    fold the rows into the layout."""
    cells = [(1 + i, a + "_generalized", None) for i, a in enumerate(used_attrs)]
    base = 1 + len(used_attrs)
    for j, attr in enumerate(rand_attrs):
        dt = cfgs[attr].datatype
        cells += [(base + 4 * j, attr, dt), (base + 4 * j + 1, attr + "_randomized", dt)]
    is_type = f"pred = '{RDF_TYPE}' AND obj_value = {sql_str(type_iri)}"
    cell = (
        f"named_struct('_c', e._cc, '_s', obj_value, '_x', {parse_sql('e._cd', 'obj_value')})"
    )
    return (
        triples.selectExpr(
            "subj", "pred", "obj_value", f"{is_type} AS _t",
            f"{array_sql([c for c, _, _ in cells], 'int')} AS _cc",
            f"{array_sql([p for _, p, _ in cells])} AS _cp",
            f"{array_sql([dt or '' for _, _, dt in cells])} AS _cd",
        )
        .selectExpr("subj", "_t", "explode_outer(transform(filter(arrays_zip(_cc, _cp,"
                    f" _cd), e -> e._cp = pred), e -> {cell})) AS _e")
        .filter("_t OR _e IS NOT NULL")
        .selectExpr("subj", "_t", "_e._c", "_e._s", "_e._x")
    )


def _kpi_frame(cells: DataFrame) -> DataFrame:
    """(subj, _cells): the cells of :func:`_kpi_cells` per typed
    subject."""
    return (
        cells.groupBy("subj")
        .agg(F.max("_t").alias("_typed"),
             F.collect_list(F.when(F.col("_c").isNotNull(),
                                   F.struct("_c", "_s", "_x"))).alias("_cells"))
        .filter("_typed")
        .select("subj", "_cells")
    )


def _subject_rows(rows, n_used: int, n_rand: int) -> list[tuple]:
    """The collected rows of :func:`_kpi_cells` as :func:`_wide_rows` of
    the typed subjects, in the order they first occur."""
    typed: dict = {}
    cells = defaultdict(list)
    for subj, t, c, s, x in rows:
        if t:
            typed[subj] = None
        if c is not None:
            cells[subj].append((c, s, x))
    return _wide_rows([(subj, cells[subj]) for subj in typed], n_used, n_rand)


def _spark_max(a, b):
    """``max`` as Spark aggregates it: nulls skipped, NaN above every
    double, the earlier value kept on ties."""
    if b is None:
        return a
    if a is None:
        return b
    if isinstance(b, float) and math.isnan(b):
        return b
    return b if b > a else a


def _wide_rows(rows, n_used: int, n_rand: int) -> list[tuple]:
    """``(subj, cells)`` pairs in the row layout :func:`_k_local` reads:
    each column the ``max`` of its cells, each presence flag whether the
    pred occurs."""
    base = 1 + n_used
    out = []
    for subj, cells in rows:
        row = [subj] + [None] * (n_used + 4 * n_rand)
        seen = set()
        for c, s, x in cells:
            seen.add(c)
            row[c] = _spark_max(row[c], s if c < base else x)
        for j in range(n_rand):
            o = base + 4 * j
            row[o + 2], row[o + 3] = o in seen, o + 1 in seen
        out.append(tuple(row))
    return out


def _wide_frame(frame, n_used: int, n_rand: int) -> DataFrame:
    """:func:`_wide_rows` as a Spark projection of the KPI frame, with the
    layout's column names."""
    def top(c, field):
        return f"array_max(transform(filter(_cells, e -> e._c = {c}), e -> e.{field}))"

    def seen(c):
        return f"exists(_cells, e -> e._c = {c})"

    base = 1 + n_used
    cols = ["subj"] + [f"{top(1 + i, '_s')} AS _g{i}" for i in range(n_used)]
    for j in range(n_rand):
        o = base + 4 * j
        cols += [f"{top(o, '_x')} AS _o{j}", f"{top(o + 1, '_x')} AS _r{j}",
                 f"{seen(o)} AS _po{j}", f"{seen(o + 1)} AS _pr{j}"]
    return frame.selectExpr(*cols)


def _k_local(rows, n_used: int, n_rand: int) -> int:
    """k over the typed subjects' rows in the layout of :func:`_kpi_cells`
    (as :func:`_wide_rows` returns them), at least one.

    The benchmark of attribute j is ``2·Σ|o − r| / c`` over the whole type:
    the sum runs over subjects whose two values both parsed, ``c`` counts
    subjects with both preds PRESENT (the reference's inner-join
    denominator; a c>0/all-unparseable attribute has benchmark 0), and no
    present pair leaves it empty (None).  ``math.fsum`` rounds the sum once,
    so it does not depend on the order the rows arrive in.
    """
    base = 1 + n_used
    cols = list(zip(*rows))
    orig, rand, rand_null, benches = [], [], [], []
    for j in range(n_rand):
        o, r, po, pr = cols[base + 4 * j: base + 4 * j + 4]
        c = sum(1 for x, y in zip(po, pr) if x and y)
        try:
            s = math.fsum(abs(x - y) for x, y in zip(o, r)
                          if x is not None and y is not None)
        except OverflowError:  # the exact sum is beyond float64: Spark's inf
            s = math.inf
        benches.append(2.0 * s / c if c else None)
        orig.append(np.array(o, dtype=float))  # None → NaN
        rand.append(np.array(r, dtype=float))
        rand_null.append(np.array([y is None for y in r]))
    strata: dict = defaultdict(list)
    for i, row in enumerate(rows):
        pattern = tuple(row[base + 4 * j] is None for j in range(n_rand))
        strata[(tuple(row[1:base]), pattern)].append(i)
    k = len(rows)
    for (_, pattern), idx in strata.items():
        k = min(k, _stratum_k(pattern, len(idx), [o[idx] for o in orig],
                              [r[idx] for r in rand],
                              [n[idx] for n in rand_null], benches))
        if not k:
            return 0
    return k


def _k_spark(frame, n_used: int, n_rand: int) -> int:
    """k over the persisted KPI frame (at least one used attribute; 0
    without a subject): the benchmarks (as in :func:`_k_local`, summed by
    Spark) in one aggregation, then one ``applyInPandas`` task per (group,
    null-pattern) stratum returns its :func:`_stratum_k`, and k is their
    minimum."""
    benches = []
    if n_rand:
        stats = []
        for j in range(n_rand):
            o, r = F.col(f"_o{j}"), F.col(f"_r{j}")
            stats += [
                F.sum(F.abs(o - r)).cast("double").alias(f"s{j}"),
                F.count(F.when(F.col(f"_po{j}") & F.col(f"_pr{j}"), 1)).alias(f"c{j}"),
            ]
        st = frame.agg(*stats).collect()[0]
        benches = [(2.0 * (st[f"s{j}"] or 0.0) / st[f"c{j}"]) if st[f"c{j}"] else None
                   for j in range(n_rand)]
    gcols = [f"_g{i}" for i in range(n_used)]
    strata = frame.select(
        *gcols,
        *[F.col(f"_o{j}").isNull().alias(f"_n{j}") for j in range(n_rand)],
        *[F.col(f"_{x}{j}") for j in range(n_rand) for x in "or"],
        *[F.col(f"_r{j}").isNull().alias(f"_rn{j}") for j in range(n_rand)],
    )

    def count(key, pdf):
        import pandas as pd

        def col(name):
            return [pdf[f"{name}{j}"].to_numpy(dtype=float) for j in range(n_rand)]

        rand_null = [pdf[f"_rn{j}"].to_numpy(dtype=bool) for j in range(n_rand)]
        k = _stratum_k(key[n_used:], len(pdf), col("_o"), col("_r"), rand_null,
                       benches)
        return pd.DataFrame({"_k": [k]})

    row = (
        strata.groupBy(*gcols, *[f"_n{j}" for j in range(n_rand)])
        .applyInPandas(count, "_k long")
        .agg(F.min("_k"))
        .collect()[0]
    )
    return 0 if row[0] is None else int(row[0])  # None: no typed subject


def _stratum_k(null_orig, m: int, orig, rand, rand_null, benches) -> int:
    """The smallest match count in one stratum of ``m`` subjects whose
    originals are null exactly for the attributes j with ``null_orig[j]``.

    ``orig``/``rand`` hold the stratum's values per randomized attribute
    (null → NaN), ``rand_null`` flags its null randomized values and
    ``benches`` are the type's benchmarks (None when empty).  Subject a
    matches subject b of the stratum when, for every attribute whose
    originals are not null, the benchmark is set and
    ``|o_b − r_a| <= benchmark`` in the float64 arithmetic and with the
    NaN ordering of Spark's ``abs(o_b - r_a) <= benchmark``.
    """
    nn = [j for j, null in enumerate(null_orig) if not null]
    if not nn:
        return m  # all originals null: every member matches
    # an empty benchmark, or a null randomized value (|o − null| is null),
    # leaves a non-null original with no match, itself included
    if any(benches[j] is None or rand_null[j].any() for j in nn):
        return 0
    return _min_matches([orig[j] for j in nn], [rand[j] for j in nn],
                        [benches[j] for j in nn])


# cells of one (queries × candidates) block that _min_matches verifies at once
BLOCK_CELLS = 1 << 20


def _min_matches(orig, rand, benches) -> int:
    """min over the rows a of one stratum of #{rows b : every attribute j has
    ``|orig_j[b] − rand_j[a]| <= benches_j``}, where no value is null.

    Spark orders NaN above every double, so a NaN benchmark holds for every
    pair and a NaN distance exceeds any other benchmark.  Points are sorted
    by the first remaining attribute, where each query's matches are one
    exact run (:func:`_runs`); with one attribute the run lengths are the
    counts.  Otherwise consecutive queries (sorted by their value) are
    verified together over the union of their runs in blocks of at most
    BLOCK_CELLS cells: memory stays bounded however large one group is, and
    a point outside a query's own run fails the exact test, so the union
    counts nothing extra.
    """
    keep = [j for j, b in enumerate(benches) if not math.isnan(b)]
    m = len(orig[0])
    if not keep:
        return m
    order = np.argsort(orig[keep[0]], kind="stable")
    pts_cols = [orig[j][order] for j in keep]
    qorder = np.argsort(rand[keep[0]], kind="stable")
    q_cols = [rand[j][qorder] for j in keep]
    bs = [benches[j] for j in keep]
    lo, hi = _runs(pts_cols[0], q_cols[0], bs[0])
    if len(keep) == 1:
        return int((hi - lo).min())
    lo, hi = lo.tolist(), hi.tolist()
    best = m
    i = 0
    with np.errstate(all="ignore"):
        while i < m:
            lo_b, hi_b, j = lo[i], hi[i], i + 1
            while j < m:
                lo_n, hi_n = min(lo_b, lo[j]), max(hi_b, hi[j])
                if (j + 1 - i) * (hi_n - lo_n) > BLOCK_CELLS:
                    break
                lo_b, hi_b, j = lo_n, hi_n, j + 1
            ok = None
            for p, q, b in zip(pts_cols, q_cols, bs):
                d = p[None, lo_b:hi_b] - q[i:j, None]
                hit = np.abs(d, out=d) <= b
                ok = hit if ok is None else np.logical_and(ok, hit, out=ok)
            best = min(best, int(np.count_nonzero(ok, axis=1).min()))
            if not best:
                return 0
            i = j
    return best


def _runs(pts, qs, b):
    """Per query r of ``qs``, the run ``[lo, hi)`` of the ascending ``pts``
    (NaN last) that holds exactly the points o with ``|o − r| <= b``
    (``b`` not NaN), as two index arrays.

    For finite r, ``fl(o − r)`` is monotone in o and never NaN for a
    non-NaN o, so ``lo`` is the first point with ``o − r >= −b`` and ``hi``
    the first with ``o − r > b``, both found by vectorized bisection on
    that exact arithmetic.  An infinite r is within an infinite benchmark
    of every point but itself and within no finite one; a NaN r matches
    nothing, and neither does a NaN point."""
    n = len(pts) - int(np.count_nonzero(np.isnan(pts)))
    pts = pts[:n]
    with np.errstate(invalid="ignore"):
        lo = _bisect(pts, qs, lambda o, r: o - r >= -b)
        hi = _bisect(pts, qs, lambda o, r: o - r > b)
    if math.isinf(b):
        top, bottom = qs == np.inf, qs == -np.inf
        lo[top], hi[top] = 0, np.searchsorted(pts, np.inf, "left")
        lo[bottom], hi[bottom] = np.searchsorted(pts, -np.inf, "right"), n
        empty = np.isnan(qs)
    else:
        empty = ~np.isfinite(qs)
    lo[empty] = hi[empty] = 0
    return lo, hi


def _bisect(pts, qs, test):
    """Per query r of ``qs``, the first index i of ``pts`` where
    ``test(pts[i], r)`` holds (``len(pts)`` if none), for a test that is
    false then true along ``pts``."""
    n = len(pts)
    lo = np.zeros(len(qs), dtype=np.intp)
    hi = np.full(len(qs), n, dtype=np.intp)
    for _ in range(n.bit_length()):
        mid = (lo + hi) >> 1
        t = test(pts[np.minimum(mid, n - 1)], qs)
        hi = np.where(t, np.minimum(mid, hi), hi)
        lo = np.where(t, lo, np.minimum(mid + 1, hi))
    return lo

"""k-anonymity KPIs (reference: service/KpiService.java).

k-anonymity = min over resources of |generalization-group(r) ∩
(∩ per randomized attr: {r2 : orig(r2) within rand(r) ± benchmark})| where
benchmark = 2·mean(|orig − rand|) and null originals form their own
similarity group (KpiService.java:75-154).

The input picks the counting path (:func:`auto_mode`); no caller chooses
it.  Up to PAIR_THRESHOLD subjects, a null-safe self-join on the
generalization group key plus one range predicate per randomized attribute
(``pairs``, O(Σ group²) pairs).  Above it, a distributed sort + running sum
for one randomized attribute (``ranges``) and slab-sliced cogrouped counting
for two or more (``sliced``).  Neither scale path materializes a pair, so one
giant generalization group (e.g. an all-masked config) spreads across
partitions instead of pinning one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.config import AttrConfig
from kgforge.triples import RDF_TYPE, SOYA_URL, local_name

KPI_OBJECT_URI = SOYA_URL + "kpi"
K_ANONYMITY = SOYA_URL + "kanonymity"
HAS_ATTRIBUTE = SOYA_URL + "hasAttribute"
ANONYMIZATION_TYP = SOYA_URL + "anonymizationTyp"
NR_BUCKETS = SOYA_URL + "nrBucketsUsed"

# subjects up to which k is counted with the pair join
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


def _kpi_parse(datatype: str, c):
    """KPI numeric domain: doubles, or epoch *seconds* for dates
    (KpiService.java:117-130 via RandomizationDateTime.literalToNumericDate).

    try_cast, not cast: under ANSI mode Catalyst constant-folds projection
    expressions of union branches BEFORE the pred filter prunes them, so a
    strict cast would error on non-numeric literals from other predicates.
    Values reaching the KPI are validated upstream — null means absent."""
    if datatype in ("date", "dateTime"):
        ts = F.coalesce(F.to_timestamp(F.to_date(c)), F.to_timestamp(c))
        return F.unix_timestamp(ts).cast("double")
    return c.try_cast("double")


def k_anonymity(
    triples: DataFrame,
    type_iri: str,
    used_attrs: list[str],
    cfgs: dict[str, AttrConfig],
) -> tuple[int, str]:
    """Compute the k-anonymity KPI for one object type (KpiService.java:75-99);
    returns ``(k, mode)`` — ``mode`` is the counting path that ran.

    Runs BEFORE original-value deletion, exactly like the reference (KPI at
    AnonymizationService.java:101-104, delete at :105-108).

    Every path counts off ONE conditional-aggregation frame, one row per
    subject of the type: ``(subj, _g*, _o*, _r*, _po*, _pr*)`` — the
    generalization-group key of each used attribute and the parsed original
    and randomized values (plus their presence) of each randomized one.
    ``max()`` picks one value per subject like the reference's pivot
    OPTIONAL binding, so rows that occur twice in ``triples`` change
    nothing.

    :func:`auto_mode` picks the counting path for randomized attributes
    from the subject count and the randomized-attribute count:

    - ``"pairs"`` — null-safe self-join on the generalization-group key plus
      one range predicate per attribute.  Simple and oracle-mirrored, but the
      pair set costs O(Σ group²): one huge/skewed group (e.g. an all-masked
      config ⇒ a single group) pins reducers at corpus scale.
    - ``"ranges"`` (one randomized attribute) — the reference's own
      ``TreeMap.subMap`` counting (KpiService.java:156-170) distributed:
      per-group sorted event stream of value points (+1) and query bounds
      (rand ± benchmark), a range-partitioned global running sum
      (kgforge.rank.with_global_running_sum), and per-resource counts as
      runsum(hi) − runsum(lo).  O(n log n) shuffle-sort, never materializes
      a pair, immune to group skew (the sort spreads a giant group across
      all partitions).
    - ``"sliced"`` (two or more randomized attributes) — stratify by (group,
      null-pattern); within a stratum, slice the first non-null attribute
      into slabs of width 2·benchmark so every query window overlaps at most
      two slabs (sequence-guarded against fp edge cases).  Points land in
      their own slab, queries are duplicated to the overlapping slabs, and a
      cogrouped applyInPandas counts matches per (group, slab) with
      ``searchsorted`` plus vectorized verification of the remaining
      attributes.  A giant group spreads across its slabs — no pair set, no
      single-partition group.

    With no randomized attribute, k is the size of the smallest
    generalization group and ``mode`` is ``"groups"``.

    All paths produce identical k (property-tested against each other with
    PAIR_THRESHOLD moved).
    """
    rand_attrs = [a for a in used_attrs if cfgs[a].strategy == "randomization"]
    frame = _kpi_frame(triples, type_iri, used_attrs, rand_attrs, cfgs).persist()
    try:
        return _dispatch(frame, len(used_attrs), rand_attrs)
    finally:
        frame.unpersist()


def auto_mode(n_subj: int, n_rand: int) -> str:
    """The counting path for ``n_subj`` subjects with ``n_rand``
    randomized attributes: ``pairs`` up to PAIR_THRESHOLD subjects (cheapest
    for request-sized inputs), else the scale path of the attribute count."""
    if not n_rand:
        return "groups"
    if n_subj <= PAIR_THRESHOLD:
        return "pairs"
    return "ranges" if n_rand == 1 else "sliced"


def _kpi_frame(triples, type_iri, used_attrs, rand_attrs, cfgs) -> DataFrame:
    """(subj, _g<i> per used attribute, _o<j>/_r<j>/_po<j>/_pr<j> per
    randomized attribute) for every subject typed ``type_iri``.  _po/_pr flag
    pred PRESENCE independent of parse success — the benchmark denominator
    needs them."""
    pred, val = F.col("pred"), F.col("obj_value")
    is_type = (pred == RDF_TYPE) & (val == type_iri)
    preds = [a + "_generalized" for a in used_attrs]
    aggs = [F.max(is_type).alias("_typed")] + [
        F.max(F.when(pred == p, val)).alias(f"_g{i}") for i, p in enumerate(preds)
    ]
    for j, attr in enumerate(rand_attrs):
        dtp, rnd = cfgs[attr].datatype, attr + "_randomized"
        preds += [attr, rnd]
        aggs += [
            F.max(F.when(pred == attr, _kpi_parse(dtp, val))).alias(f"_o{j}"),
            F.max(F.when(pred == rnd, _kpi_parse(dtp, val))).alias(f"_r{j}"),
            F.max(pred == attr).alias(f"_po{j}"),
            F.max(pred == rnd).alias(f"_pr{j}"),
        ]
    return (
        triples.filter(is_type | pred.isin(preds))
        .groupBy("subj")
        .agg(*aggs)
        .filter("_typed")
        .drop("_typed")
    )


def _dispatch(frame, n_used, rand_attrs) -> tuple[int, str]:
    all_gcols = [f"_g{i}" for i in range(n_used)]
    if not rand_attrs:
        # a group-key column that is null for every subject cannot change
        # the groups, so no presence check is needed here
        row = frame.groupBy(*all_gcols or [F.lit(1)]).count().agg(
            F.min("count").alias("k")
        ).collect()[0]
        if row["k"] is None:
            # reference quirk (QueryBuildingService.java:142-163 +
            # QueryService.java:215-235): with zero attributes the groups
            # query has NO GROUP BY, so the aggregate over zero rows still
            # yields one row whose empty GROUP_CONCAT splits into a single
            # empty-IRI resource — one group of size 1 ⇒ k = 1.  With
            # attributes (GROUP BY present) zero rows ⇒ no groups ⇒ k = 0.
            return (1 if not n_used else 0), "groups"
        return int(row["k"]), "groups"

    # ONE action: the subject count, each group column's non-null count and
    # every attribute's benchmark scalar (2·mean |o − r|, over the whole type
    # like the reference — never per group).  Denominator c counts subjects
    # with both preds PRESENT even when a value fails _kpi_parse (the
    # reference's inner-join denominator: SUM skips null |o−r| terms,
    # COUNT(*) over the join doesn't); a c>0/all-unparseable stratum
    # degenerates to s=0 ⇒ benchmark 0.
    stats = [F.count(F.lit(1)).alias("n")]
    stats += [F.count(c).alias(f"n{c}") for c in all_gcols]
    for j in range(len(rand_attrs)):
        o, r = F.col(f"_o{j}"), F.col(f"_r{j}")
        stats += [
            F.sum(F.abs(o - r)).cast("double").alias(f"s{j}"),
            F.count(F.when(F.col(f"_po{j}") & F.col(f"_pr{j}"), 1)).alias(f"c{j}"),
        ]
    st = frame.agg(*stats).collect()[0]
    # group columns with no value anywhere would only add a constant-null
    # field to every group key
    gcols = [c for c in all_gcols if st[f"n{c}"]]
    benches = [
        (2.0 * (st[f"s{j}"] or 0.0) / st[f"c{j}"]) if st[f"c{j}"] else None
        for j in range(len(rand_attrs))
    ]

    mode = auto_mode(int(st["n"]), len(rand_attrs))
    if mode == "pairs":
        k = _k_pairs(frame, gcols, benches)
    elif mode == "ranges":
        k = _k_ranges(frame, gcols, benches[0])
    else:
        k = _k_sliced(frame, gcols, benches)
    return k, mode


def _min_count(subjects, cnts) -> int:
    """min over every subject of its count (0 where ``cnts`` has no row)."""
    row = (
        subjects.join(cnts, "subj", "left")
        .select(F.min(F.coalesce(F.col("_cnt"), F.lit(0))).alias("k"))
        .collect()[0]
    )
    return int(row["k"]) if row["k"] is not None else 0


def _k_pairs(frame, gcols, benches) -> int:
    """Null-safe group-key self-join + range predicates (small-input path).
    Every subject pairs with itself on the group key, so the per-subject
    match counts cover every subject, zeros included."""
    nattrs = len(benches)
    a = frame.select(
        F.col("subj").alias("_sa"),
        *[F.col(c).alias(c + "_a") for c in gcols],
        *[F.col(f"_o{j}").alias(f"_oa{j}") for j in range(nattrs)],
        *[F.col(f"_r{j}").alias(f"_ra{j}") for j in range(nattrs)],
    )
    b = frame.select(
        *[F.col(c).alias(c + "_b") for c in gcols],
        *[F.col(f"_o{j}").alias(f"_ob{j}") for j in range(nattrs)],
    )
    same_group = F.lit(True)
    for c in gcols:
        same_group = same_group & F.col(c + "_a").eqNullSafe(F.col(c + "_b"))
    match = F.lit(True)
    for j, bench in enumerate(benches):
        oa, ob, ra = F.col(f"_oa{j}"), F.col(f"_ob{j}"), F.col(f"_ra{j}")
        null_pair = oa.isNull() & ob.isNull()
        if bench is None:
            match = match & null_pair
        else:
            in_range = oa.isNotNull() & ob.isNotNull() & (F.abs(ob - ra) <= F.lit(bench))
            match = match & (null_pair | in_range)
    row = (
        a.join(b, same_group)
        .groupBy("_sa")
        .agg(F.count(F.when(match, 1)).alias("_cnt"))
        .agg(F.min("_cnt").alias("k"))
        .collect()[0]
    )
    return int(row["k"]) if row["k"] is not None else 0


def _with_group_struct(ent, gcols):
    """Single group key ``_gs`` — a struct of the group columns, whose
    equality treats null fields as equal, which makes joins/groupBys on it
    null-safe (matches eqNullSafe).  Without group columns it is the
    constant 0: a primitive key keeps the one-group sort on the fast
    prefix comparison (``ranges`` with a constant struct key measured ~15%
    slower at 400k subjects on local[4])."""
    key = F.struct(*[F.col(c) for c in gcols]) if gcols else F.lit(0)
    return ent.withColumn("_gs", key)


def _counts_1d(stratum, bench, cleanup: list) -> "DataFrame":
    """(_cnt) interval counts within a (_gs, _o, _r) stratum — the
    distributed subMap event/prefix-sum core.

    Event stream per group: points (orig value, +1) and per-resource query
    bounds rand±benchmark (weight 0).  Sorted by (group, value, typ) with
    typ lo(0) < point(1) < hi(2) so both bounds are inclusive; the inclusive
    global running sum of weights then gives
    count(r) = runsum(hi_r) − runsum(lo_r) — points of other groups cancel
    because the group struct leads the sort order.  No pair is ever
    materialized and a single giant group spreads across all partitions.

    The three event kinds come from ONE explode over a 3-struct array — a
    single pass over the stratum instead of a 3-way self-union (one scan of
    the upstream cache, narrower stage graph at low parallelism).

    The lo/hi bound pair is keyed by a synthesized LONG row id, not the
    subject string: both events of a pair come from the SAME input row's
    explode, so ``monotonically_increasing_id`` pairs them with no
    cross-row stability requirement — and the event shuffle + pairing
    hash-aggregate move 8-byte longs instead of IRI strings.  This job is
    memory-bandwidth-bound, not CPU-bound, on wide executors (profiled:
    every phase scaled ~0.62 from 2→8 cores while pure-CPU work scaled
    0.93), so bytes-per-row is exactly what the N→4N efficiency buys back.
    """
    from kgforge.rank import with_global_running_sum

    if bench is None:
        return stratum.select(F.lit(0).cast("long").alias("_cnt"))
    events = F.array(
        F.struct(
            F.col("_o").alias("_val"), F.lit(1).alias("_typ"),
            F.lit(1).cast("long").alias("_delta"),
            F.lit(None).cast("long").alias("_q"),
        ),
        F.struct(
            (F.col("_r") - F.lit(bench)).alias("_val"), F.lit(0).alias("_typ"),
            F.lit(0).cast("long").alias("_delta"), F.col("_rid").alias("_q"),
        ),
        F.struct(
            (F.col("_r") + F.lit(bench)).alias("_val"), F.lit(2).alias("_typ"),
            F.lit(0).cast("long").alias("_delta"), F.col("_rid").alias("_q"),
        ),
    )
    ev = (
        stratum.withColumn("_rid", F.monotonically_increasing_id())
        .select("_gs", F.explode(events).alias("_e"))
        .select(
            "_gs", F.col("_e._val").alias("_val"), F.col("_e._typ").alias("_typ"),
            F.col("_e._delta").alias("_delta"), F.col("_e._q").alias("_q"),
        )
    )
    rs = with_global_running_sum(
        ev, [F.col("_gs"), F.col("_val"), F.col("_typ")], "_delta", out="_rs",
        cleanup=cleanup,
    )
    return rs.filter(F.col("_q").isNotNull()).groupBy("_q").agg(
        (
            F.max(F.when(F.col("_typ") == 2, F.col("_rs")))
            - F.max(F.when(F.col("_typ") == 0, F.col("_rs")))
        ).alias("_cnt")
    ).select("_cnt")


def _stratum_size_counts(stratum) -> "DataFrame":
    """(subj, _cnt) = size of the row's own (group, stratum) — the all-null
    pattern where every co-member matches."""
    ncnt = stratum.groupBy("_gs").agg(F.count(F.lit(1)).alias("_cnt"))
    return stratum.join(ncnt, "_gs").select("subj", "_cnt")


def _k_ranges(frame, gcols, bench) -> int:
    """Distributed subMap counting for ONE randomized attribute (see
    :func:`_counts_1d` for the event/prefix-sum core).  Only min(_cnt)
    survives, so subject strings never enter the job: every null-original
    member of a group matches the others, so the null stratum's counts are
    its per-group sizes."""
    cleanup: list = []
    # a projection of the caller's cached frame: no cache of its own
    base = _with_group_struct(
        frame.select(*gcols, F.col("_o0").alias("_o"), F.col("_r0").alias("_r")),
        gcols,
    )
    try:
        cnt_null = (
            base.filter(F.col("_o").isNull())
            .groupBy("_gs").agg(F.count(F.lit(1)).alias("_cnt"))
            .select("_cnt")
        )
        cnt_nonnull = _counts_1d(base.filter(F.col("_o").isNotNull()), bench, cleanup)
        # the two strata partition `base`, which holds every subject, so the
        # union covers all subjects — min() over it is the answer
        row = (
            cnt_nonnull.unionByName(cnt_null)
            .select(F.min("_cnt").alias("k")).collect()[0]
        )
    finally:
        for d in cleanup:
            d.unpersist()
    return int(row["k"]) if row["k"] is not None else 0


def _k_sliced(frame, gcols, benches) -> int:
    """Skew-immune counting for two or more randomized attributes (see
    :func:`k_anonymity`, ``"sliced"``).

    The pair predicate forces a candidate to share the resource's exact
    null pattern across all randomized attributes, so rows stratify by
    (group, null-pattern) — at most 2^d strata, iterated on the driver and
    counted by :func:`_sliced_counts`.
    """
    d = len(benches)
    full = _with_group_struct(
        frame.select(
            "subj", *gcols, *[F.col(f"_{x}{j}") for j in range(d) for x in "or"],
        ),
        gcols,
    ).persist()
    try:
        patterns = [
            tuple(r[f"_p{j}"] for j in range(d))
            for r in full.select(
                *[F.col(f"_o{j}").isNotNull().alias(f"_p{j}") for j in range(d)]
            ).distinct().collect()
        ]
        if not patterns:
            return 0  # no subject of the type
        parts = [_sliced_counts(full, pat, benches) for pat in patterns]
        cnts = parts[0]
        for p in parts[1:]:
            cnts = cnts.unionByName(p)
        return _min_count(frame.select("subj"), cnts)
    finally:
        full.unpersist()


def _sliced_counts(full, pat, benches) -> DataFrame:
    """(subj, _cnt) for the stratum of ``full`` whose null pattern is ``pat``.

    The first non-null attribute ``a`` is sliced into slabs of width
    ``2·benchmark_a``: a point belongs to exactly one slab, a query window
    ``rand_a ± benchmark_a`` (width = slab width) overlaps at most two
    adjacent slabs (``sequence(lo, hi)`` also covers the fp-rounding case
    where the endpoint slabs differ by 2).  Counting then runs as a
    cogrouped applyInPandas on (group, slab): ``searchsorted`` window on
    ``a`` plus vectorized range checks of the remaining attributes.  No pair
    set is materialized and a single giant group spreads across all its
    slabs.
    """
    cond = F.lit(True)
    for j, nonnull in enumerate(pat):
        c = F.col(f"_o{j}")
        cond = cond & (c.isNotNull() if nonnull else c.isNull())
    stratum = full.filter(cond)
    nn = [j for j, nonnull in enumerate(pat) if nonnull]
    if not nn:
        # all-null pattern: every co-member of the group matches
        return _stratum_size_counts(stratum.select("subj", "_gs"))
    if any(benches[j] is None for j in nn):
        # a non-null attribute with an empty benchmark matches nothing
        return stratum.select("subj", F.lit(0).cast("long").alias("_cnt"))
    a = nn[0]
    ba = benches[a]
    w = 2.0 * ba if ba > 0 else 1.0
    pts = stratum.select(
        "_gs",
        F.floor(F.col(f"_o{a}") / F.lit(w)).cast("long").alias("_slab"),
        *[F.col(f"_o{j}").alias(f"_po{j}") for j in nn],
    )
    qry = (
        stratum.filter(F.col(f"_r{a}").isNotNull())
        .select(
            "subj",
            # fresh exprId: both cogroup sides derive from `full`, and a
            # shared `_gs` attribute trips Spark's ambiguous-self-join check
            F.col("_gs").alias("_gs"),
            *[F.col(f"_r{j}").alias(f"_qr{j}") for j in nn],
            F.explode(
                F.sequence(
                    F.floor((F.col(f"_r{a}") - F.lit(ba)) / F.lit(w)).cast("long"),
                    F.floor((F.col(f"_r{a}") + F.lit(ba)) / F.lit(w)).cast("long"),
                )
            ).alias("_slab"),
        )
    )
    # a point lives in exactly one slab and a query only probes the slabs
    # its window overlaps, so summing per-slab counts is exact — never a
    # double count.
    return (
        pts.groupBy("_gs", "_slab")
        .cogroup(qry.groupBy("_gs", "_slab"))
        .applyInPandas(_slab_count_fn(nn, benches), "subj string, _cnt long")
        .groupBy("subj")
        .agg(F.sum("_cnt").alias("_cnt"))
    )


def _slab_count_fn(nn, benches):
    """Cogroup function for one (group, slab): per query, the points inside
    every non-null attribute's window (``nn[0]`` via ``searchsorted``)."""
    import numpy as np
    import pandas as pd

    a, ba = nn[0], benches[nn[0]]

    def count_fn(pts_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(q_pdf) or not len(pts_pdf):
            return pd.DataFrame({"subj": pd.Series([], dtype=object),
                                 "_cnt": pd.Series([], dtype="int64")})
        order = np.argsort(pts_pdf[f"_po{a}"].to_numpy(dtype=float), kind="stable")
        P = {j: pts_pdf[f"_po{j}"].to_numpy(dtype=float)[order] for j in nn}
        sorted_a = P[a]
        R = {j: q_pdf[f"_qr{j}"].to_numpy(dtype=float) for j in nn}
        lo = np.searchsorted(sorted_a, R[a] - ba, side="left")
        hi = np.searchsorted(sorted_a, R[a] + ba, side="right")
        counts = np.zeros(len(q_pdf), dtype=np.int64)
        for i in range(len(q_pdf)):
            if hi[i] <= lo[i]:
                continue
            ok = np.ones(hi[i] - lo[i], dtype=bool)
            for j in nn[1:]:
                seg = P[j][lo[i]:hi[i]]
                bj = benches[j]
                ok &= (seg >= R[j][i] - bj) & (seg <= R[j][i] + bj)
            counts[i] = int(ok.sum())
        return pd.DataFrame({"subj": q_pdf["subj"], "_cnt": counts})

    return count_fn

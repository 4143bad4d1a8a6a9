"""k-anonymity KPIs (reference: service/KpiService.java).

k-anonymity = min over resources of |generalization-group(r) ∩
(∩ per randomized attr: {r2 : orig(r2) within rand(r) ± benchmark})| where
benchmark = 2·mean(|orig − rand|) and null originals form their own
similarity group (KpiService.java:75-154).

Implemented as a null-safe self-join on the generalization group key plus one
range predicate per randomized attribute — no driver-side sets.  At corpus
scale the pair join is bounded by the largest group; AQE skew-join plus
salting on the group key is the documented mitigation (the k-statistic itself
only needs per-resource counts, which stay distributed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.config import AttrConfig
from kgforge.triples import RDF_TYPE, SOYA_URL, local_df, local_name

KPI_OBJECT_URI = SOYA_URL + "kpi"
K_ANONYMITY = SOYA_URL + "kanonymity"
HAS_ATTRIBUTE = SOYA_URL + "hasAttribute"
ANONYMIZATION_TYP = SOYA_URL + "anonymizationTyp"
NR_BUCKETS = SOYA_URL + "nrBucketsUsed"
KPIS_PRED = SOYA_URL + "kpis"

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
    mode: str = "auto",
    pair_threshold: int = 50_000,
    grid_group_budget: int = 500,
) -> tuple[int, str]:
    """Compute the k-anonymity KPI for one object type (KpiService.java:75-99);
    returns ``(k, mode)`` — ``mode`` is the counting path that ran, after
    ``"auto"`` resolution.

    Runs BEFORE original-value deletion, exactly like the reference (KPI at
    AnonymizationService.java:101-104, delete at :105-108).

    Every path counts off ONE conditional-aggregation frame, one row per
    subject of the type: ``(subj, _g*, _o*, _r*, _po*, _pr*)`` — the
    generalization-group key of each used attribute and the parsed original
    and randomized values (plus their presence) of each randomized one.
    ``max()`` picks one value per subject like the reference's pivot
    OPTIONAL binding, so rows that occur twice in ``triples`` change
    nothing.

    ``mode`` picks the counting strategy for randomized attributes:

    - ``"pairs"`` — null-safe self-join on the generalization-group key plus
      one range predicate per attribute.  Simple and oracle-mirrored, but the
      pair set costs O(Σ group²): one huge/skewed group (e.g. an all-masked
      config ⇒ a single group) pins reducers at corpus scale.
    - ``"ranges"`` (single randomized attribute) — the reference's own
      ``TreeMap.subMap`` counting (KpiService.java:156-170) distributed:
      per-group sorted event stream of value points (+1) and query bounds
      (rand ± benchmark), a range-partitioned global running sum
      (kgforge.rank.with_global_running_sum), and per-resource counts as
      runsum(hi) − runsum(lo).  O(n log n) shuffle-sort, never materializes
      a pair, immune to group skew (the sort spreads a giant group across
      all partitions).
    - ``"grid"`` (two randomized attributes) — distributed 2-D rectangle
      counting: rows partition by (group, null-pattern), the both-non-null
      stratum goes through a G×G grid whose per-group cell counts collapse
      to driver prefix-sum matrices (O(1) interior lookups) plus
      perimeter boundary cells exact-verified by a shuffle join against
      only those cells' points.  No pair set, immune to a single giant
      group.
    - ``"sliced"`` (≥2 randomized attributes, the ≥3-attr scale path) —
      stratify by (group, null-pattern); within a stratum, slice the first
      non-null attribute into slabs of width 2·benchmark so every query
      window overlaps at most two slabs (sequence-guarded against fp edge
      cases).  Points land in their own slab, queries are duplicated to the
      overlapping slabs, and a cogrouped applyInPandas counts matches per
      (group, slab) with ``searchsorted`` plus vectorized verification of
      the remaining attributes.  A giant group spreads across its slabs —
      no pair set, no single-partition group.
    - ``"auto"`` — ``pairs`` at or below ``pair_threshold`` subjects
      (cheapest for fixture-sized inputs), else ``ranges``/``grid``/
      ``sliced`` by randomized-attribute count.

    With no randomized attribute, k is the size of the smallest
    generalization group and ``mode`` is ``"groups"`` whatever was asked.

    All paths produce identical k (property-tested against each other).
    """
    rand_attrs = [a for a in used_attrs if cfgs[a].strategy == "randomization"]
    frame = _kpi_frame(triples, type_iri, used_attrs, rand_attrs, cfgs).persist()
    try:
        return _dispatch(frame, len(used_attrs), rand_attrs, mode,
                         pair_threshold, grid_group_budget)
    finally:
        frame.unpersist()


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


def _dispatch(frame, n_used, rand_attrs, mode, pair_threshold,
              grid_group_budget) -> tuple[int, str]:
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
            F.count(o).alias(f"no{j}"),
        ]
    st = frame.agg(*stats).collect()[0]
    n_subj = int(st["n"])
    # group columns with no value anywhere would only add a constant-null
    # field to every group key
    gcols = [c for c in all_gcols if st[f"n{c}"]]
    benches = [
        (2.0 * (st[f"s{j}"] or 0.0) / st[f"c{j}"]) if st[f"c{j}"] else None
        for j in range(len(rand_attrs))
    ]

    if mode == "auto":
        if n_subj <= pair_threshold:
            mode = "pairs"
        elif len(rand_attrs) == 1:
            mode = "ranges"
        elif len(rand_attrs) == 2:
            # grid collapses per-group cell counts to DRIVER prefix-sum
            # matrices — ~(grid+1)² int64 ≈ 0.5 MB each.  That is the right
            # trade only for FEW groups (the giant-group skew case it was
            # built for); many groups would accumulate GBs on the driver, so
            # route those to sliced, which is exact and executor-resident.
            n_groups = (
                _with_group_struct(frame, gcols)
                .agg(F.countDistinct("_gs").alias("n"))
                .collect()[0]["n"]
            )
            mode = "grid" if n_groups <= grid_group_budget else "sliced"
        else:
            mode = "sliced"
    if mode == "ranges" and len(rand_attrs) != 1:
        mode = "grid" if len(rand_attrs) == 2 else "sliced"
    if mode == "grid" and len(rand_attrs) != 2:
        mode = "ranges" if len(rand_attrs) == 1 else "sliced"
    if mode == "sliced" and len(rand_attrs) == 1:
        mode = "ranges"

    if mode == "pairs":
        k = _k_pairs(frame, gcols, benches)
    elif mode == "ranges":
        k = _k_ranges(frame, gcols, benches[0], (n_subj, int(st["no0"])))
    elif mode == "grid":
        k = _k_grid(frame, gcols, benches)
    elif mode == "sliced":
        k = _k_sliced(frame, gcols, benches)
    else:
        raise ValueError(f"unknown k-anonymity mode: {mode!r}")
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
    """Single struct group key — struct equality treats null fields as equal,
    which makes joins/groupBys on it null-safe (matches eqNullSafe)."""
    key = F.struct(*[F.col(c) for c in gcols]) if gcols else F.struct(F.lit(1))
    return ent.withColumn("_gs", key)


def _counts_1d(
    stratum, bench, cleanup: list | None = None, keep_subj: bool = True
) -> "DataFrame":
    """(subj, _cnt) interval counts within a (_gs, subj, _o, _r) stratum —
    the distributed subMap event/prefix-sum core.

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
    Callers that only take ``min(_cnt)`` downstream pass
    ``keep_subj=False`` and strings leave the event stream entirely; with
    ``keep_subj=True`` the subject rides only the single hi event.
    """
    from kgforge.rank import with_global_running_sum

    if bench is None:
        cnt0 = F.lit(0).cast("long").alias("_cnt")
        if keep_subj:
            return stratum.select("subj", cnt0)
        return stratum.select(cnt0)
    subj_hi = F.col("subj") if keep_subj else F.lit(None).cast("string")
    events = F.array(
        F.struct(
            F.col("_o").alias("_val"), F.lit(1).alias("_typ"),
            F.lit(1).cast("long").alias("_delta"),
            F.lit(None).cast("long").alias("_q"),
            F.lit(None).cast("string").alias("_s"),
        ),
        F.struct(
            (F.col("_r") - F.lit(bench)).alias("_val"), F.lit(0).alias("_typ"),
            F.lit(0).cast("long").alias("_delta"), F.col("_rid").alias("_q"),
            F.lit(None).cast("string").alias("_s"),
        ),
        F.struct(
            (F.col("_r") + F.lit(bench)).alias("_val"), F.lit(2).alias("_typ"),
            F.lit(0).cast("long").alias("_delta"), F.col("_rid").alias("_q"),
            subj_hi.alias("_s"),
        ),
    )
    ev = (
        stratum.withColumn("_rid", F.monotonically_increasing_id())
        .select("_gs", F.explode(events).alias("_e"))
        .select(
            "_gs", F.col("_e._val").alias("_val"), F.col("_e._typ").alias("_typ"),
            F.col("_e._delta").alias("_delta"), F.col("_e._q").alias("_q"),
            F.col("_e._s").alias("_s"),
        )
    )
    rs = with_global_running_sum(
        ev, [F.col("_gs"), F.col("_val"), F.col("_typ")], "_delta", out="_rs",
        cleanup=cleanup,
    )
    grouped = rs.filter(F.col("_q").isNotNull()).groupBy("_q")
    cnt = (
        F.max(F.when(F.col("_typ") == 2, F.col("_rs")))
        - F.max(F.when(F.col("_typ") == 0, F.col("_rs")))
    ).alias("_cnt")
    if keep_subj:
        return grouped.agg(cnt, F.max("_s").alias("subj")).select("subj", "_cnt")
    return grouped.agg(cnt).select("_cnt")


def _stratum_size_counts(stratum) -> "DataFrame":
    """(subj, _cnt) = size of the row's own (group, stratum) — the all-null
    pattern where every co-member matches."""
    ncnt = stratum.groupBy("_gs").agg(F.count(F.lit(1)).alias("_cnt"))
    return stratum.join(ncnt, "_gs").select("subj", "_cnt")


def _k_ranges(frame, gcols, bench, counts) -> int:
    """Distributed subMap counting for ONE randomized attribute (see
    :func:`_counts_1d` for the event/prefix-sum core).  ``counts`` is
    (subjects, subjects with a parsed original) from the caller's stats
    action."""
    cleanup: list = []
    if not gcols:
        # no generalization groups anywhere: every subject is in the one
        # group, so the null stratum's count is a single number (subjects
        # minus non-null-_o rows) and the event stream runs straight off
        # the frame — no subject strings in the job at all (this path is
        # memory-bandwidth-bound; see _counts_1d)
        n_subj, n_nonnull = counts
        cnt_nonnull = _counts_1d(
            frame.filter(F.col("_o0").isNotNull()).select(
                F.lit(0).alias("_gs"), F.col("_o0").alias("_o"), F.col("_r0").alias("_r")
            ),
            bench, cleanup, keep_subj=False,
        )
        row = cnt_nonnull.select(F.min("_cnt").alias("k")).collect()[0]
        for d in cleanup:
            d.unpersist()
        n_null = n_subj - n_nonnull
        cands = [v for v in (row["k"], n_null if n_null > 0 else None)
                 if v is not None]
        return int(min(cands)) if cands else 0
    base = _with_group_struct(
        frame.select("subj", *gcols, F.col("_o0").alias("_o"), F.col("_r0").alias("_r")),
        gcols,
    ).persist()

    cnt_null = _stratum_size_counts(
        base.filter(F.col("_o").isNull()).select("subj", "_gs")
    ).select("_cnt")
    # only min(_cnt) survives this function, so subject identity never
    # needs to come back out of the event stream (keep_subj=False: the
    # lo/hi pairing runs on longs, no strings in the big shuffle)
    cnt_nonnull = _counts_1d(
        base.filter(F.col("_o").isNotNull()), bench, cleanup, keep_subj=False
    )

    # the two strata partition `base`, which holds every subject, so cnts
    # already covers all subjects — min() over the union is the answer
    cnts = cnt_nonnull.unionByName(cnt_null)
    row = cnts.select(F.min("_cnt").alias("k")).collect()[0]
    base.unpersist()
    for d in cleanup:
        d.unpersist()
    return int(row["k"]) if row["k"] is not None else 0


def _grid_counts_2d(stratum, b0, b1, grid: int = 256) -> "DataFrame":
    """(subj, _cnt) rectangle counts within a
    (_gid, subj, _x, _y, _rx, _ry) stratum — distributed 2-D range counting
    without pair materialization.

    Uniform G×G grid over the global value range; per-(group, cell) counts
    collapse to a per-group 2-D prefix-sum matrix on the driver (bounded:
    the caller gates on few groups — the skew case this path exists for).
    Each query rectangle [rx±b0]×[ry±b1] then splits into

    - fully-covered interior cells → O(1) prefix-matrix lookup,
      vectorized per Arrow batch inside mapInPandas;
    - O(perimeter) partial boundary cells → exploded to (query, cell) rows,
      shuffle-joined against the points of just those cells, and verified
      with the exact inclusive bounds.

    Cell assignment and query spans use the SAME floor expression, so a
    boundary-cell membership decision is never split between paths; edge
    cells are always exact-verified, making grid placement a pure
    performance choice.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if b0 is None or b1 is None:
        return stratum.select("subj", F.lit(0).cast("long").alias("_cnt"))
    spark = stratum.sparkSession
    mm = stratum.agg(
        F.min("_x").alias("x0"), F.max("_x").alias("x1"),
        F.min("_y").alias("y0"), F.max("_y").alias("y1"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if not mm["n"]:
        return local_df(spark, [], T.StructType([
            T.StructField("subj", T.StringType()),
            T.StructField("_cnt", T.LongType()),
        ]))
    wx = (mm["x1"] - mm["x0"]) / grid or 1.0
    wy = (mm["y1"] - mm["y0"]) / grid or 1.0

    def cell(c, origin, w):
        return F.least(
            F.greatest(F.floor((c - F.lit(origin)) / F.lit(w)), F.lit(0)),
            F.lit(grid - 1),
        ).cast("int")

    pts = stratum.select(
        "_gid", "subj", "_x", "_y", "_rx", "_ry",
        cell(F.col("_x"), mm["x0"], wx).alias("_ci"),
        cell(F.col("_y"), mm["y0"], wy).alias("_cj"),
        cell(F.col("_rx") - F.lit(b0), mm["x0"], wx).alias("_qa"),
        cell(F.col("_rx") + F.lit(b0), mm["x0"], wx).alias("_qb"),
        cell(F.col("_ry") - F.lit(b1), mm["y0"], wy).alias("_qc"),
        cell(F.col("_ry") + F.lit(b1), mm["y0"], wy).alias("_qd"),
    ).persist()

    # per-group prefix-sum matrices (driver-side, gated small)
    prefix: dict = {}
    for r in pts.groupBy("_gid", "_ci", "_cj").count().collect():
        g = prefix.setdefault(r["_gid"], np.zeros((grid, grid), dtype=np.int64))
        g[r["_ci"], r["_cj"]] = r["count"]
    for g in prefix:
        m = np.zeros((grid + 1, grid + 1), dtype=np.int64)
        m[1:, 1:] = prefix[g].cumsum(axis=0).cumsum(axis=1)
        prefix[g] = m

    def interior(batches):
        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.int64)
            gids = pdf["_gid"].to_numpy()
            qa = pdf["_qa"].to_numpy(); qb = pdf["_qb"].to_numpy()
            qc = pdf["_qc"].to_numpy(); qd = pdf["_qd"].to_numpy()
            for g in np.unique(gids):
                m = prefix.get(int(g))
                if m is None:
                    continue
                sel = gids == g
                a, b = qa[sel] + 1, qb[sel]
                c, d = qc[sel] + 1, qd[sel]
                v = m[b, d] - m[a, d] - m[b, c] + m[a, c]
                has = (b - a >= 1) & (d - c >= 1)
                out[sel] = np.where(has, v, 0)
            yield pd.DataFrame({"subj": pdf["subj"], "_int": out})

    cnt_interior = pts.mapInPandas(
        interior, T.StructType([
            T.StructField("subj", T.StringType()),
            T.StructField("_int", T.LongType()),
        ]),
    )

    # boundary cells: rows _qa and _qb across [_qc.._qd], columns _qc and
    # _qd across (_qa.._qb) exclusive; array_distinct handles _qa == _qb
    row_cells = F.expr(
        "transform(sequence(_qc, _qd), j -> struct(_qa as i, j as j))"
    )
    row_cells2 = F.expr(
        "transform(sequence(_qc, _qd), j -> struct(_qb as i, j as j))"
    )
    col_cells = F.expr(
        "if(_qb - _qa >= 2,"
        " flatten(transform(sequence(_qa + 1, _qb - 1),"
        "  i -> array(struct(i as i, _qc as j), struct(i as i, _qd as j)))),"
        " array())"
    )
    qcells = pts.select(
        F.col("subj").alias("_q"), "_gid", "_rx", "_ry",
        F.explode(
            F.array_distinct(F.concat(row_cells, row_cells2, col_cells))
        ).alias("_c"),
    ).select(
        "_q", "_gid", "_rx", "_ry",
        F.col("_c.i").alias("_ci"), F.col("_c.j").alias("_cj"),
    )
    in_rect = (
        (F.col("_x") >= F.col("_rx") - F.lit(b0))
        & (F.col("_x") <= F.col("_rx") + F.lit(b0))
        & (F.col("_y") >= F.col("_ry") - F.lit(b1))
        & (F.col("_y") <= F.col("_ry") + F.lit(b1))
    )
    cnt_boundary = (
        qcells.join(pts.select("_gid", "_ci", "_cj", "_x", "_y"),
                    ["_gid", "_ci", "_cj"])
        .filter(in_rect)
        .groupBy("_q")
        .agg(F.count(F.lit(1)).alias("_bnd"))
        .select(F.col("_q").alias("subj"), "_bnd")
    )
    out = (
        cnt_interior.join(cnt_boundary, "subj", "left")
        .select(
            "subj",
            (F.col("_int") + F.coalesce(F.col("_bnd"), F.lit(0))).alias("_cnt"),
        )
    )
    out = out.localCheckpoint(eager=True)
    pts.unpersist()
    return out


def _k_grid(frame, gcols, benches, grid: int = 256) -> int:
    """Scalable k-anonymity for EXACTLY TWO randomized attributes.

    Rows partition by (group, null-pattern) — the pair predicate forces a
    candidate to share the resource's null pattern — and each stratum takes
    the cheapest exact path: both-null → stratum sizes, one-null → the 1-D
    event/prefix-sum counter on the non-null attribute, both-non-null → the
    2-D grid counter (:func:`_grid_counts_2d`).  No pair set anywhere.
    """
    b0, b1 = benches
    base = _with_group_struct(
        frame.select("subj", *gcols, "_o0", "_r0", "_o1", "_r1"), gcols
    )
    # dense integer group ids (broadcast-joined) so the grid path can key
    # its driver-side prefix matrices
    gid_map = (
        base.select("_gs").distinct()
        .withColumn("_gid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    base = base.join(F.broadcast(gid_map), "_gs").persist()

    n0, n1 = F.col("_o0").isNotNull(), F.col("_o1").isNotNull()
    cleanup: list = []
    parts = [
        _stratum_size_counts(base.filter(~n0 & ~n1).select("subj", "_gs")),
        _counts_1d(
            base.filter(n0 & ~n1).select(
                "_gs", "subj", F.col("_o0").alias("_o"), F.col("_r0").alias("_r")
            ),
            b0,
            cleanup,
        ),
        _counts_1d(
            base.filter(~n0 & n1).select(
                "_gs", "subj", F.col("_o1").alias("_o"), F.col("_r1").alias("_r")
            ),
            b1,
            cleanup,
        ),
        _grid_counts_2d(
            base.filter(n0 & n1).select(
                "_gid", "subj", F.col("_o0").alias("_x"), F.col("_o1").alias("_y"),
                F.col("_r0").alias("_rx"), F.col("_r1").alias("_ry"),
            ),
            b0, b1, grid,
        ),
    ]
    cnts = parts[0]
    for p in parts[1:]:
        cnts = cnts.unionByName(p)
    k = _min_count(frame.select("subj"), cnts)
    base.unpersist()
    for d in cleanup:
        d.unpersist()
    return k


def _k_sliced(frame, gcols, benches) -> int:
    """Skew-immune counting for ≥2 randomized attributes (the ≥3-attr scale
    path; see :func:`k_anonymity` ``mode="sliced"``).

    The pair predicate forces a candidate to share the resource's exact
    null pattern across all randomized attributes, so rows stratify by
    (group, null-pattern) — at most 2^d strata, iterated on the driver.
    Within a stratum, the first non-null attribute ``a`` is sliced into
    slabs of width ``2·benchmark_a``: a point belongs to exactly one slab,
    a query window ``rand_a ± benchmark_a`` (width = slab width) overlaps
    at most two adjacent slabs (``sequence(lo, hi)`` also covers the
    fp-rounding case where the endpoint slabs differ by 2).  Counting then
    runs as a cogrouped applyInPandas on (group, slab): ``searchsorted``
    window on ``a`` plus vectorized range checks of the remaining
    attributes.  No pair set is materialized and a single giant group
    spreads across all its slabs.
    """
    import numpy as np
    import pandas as pd

    d = len(benches)
    full = _with_group_struct(
        frame.select(
            "subj", *gcols, *[F.col(f"_{x}{j}") for j in range(d) for x in "or"],
        ),
        gcols,
    ).persist()

    patterns = [
        tuple(r[f"_p{j}"] for j in range(d))
        for r in full.select(
            *[F.col(f"_o{j}").isNotNull().alias(f"_p{j}") for j in range(d)]
        ).distinct().collect()
    ]

    parts: list[DataFrame] = []
    for pat in patterns:
        cond = F.lit(True)
        for j in range(d):
            c = F.col(f"_o{j}")
            cond = cond & (c.isNotNull() if pat[j] else c.isNull())
        stratum = full.filter(cond)
        nn = [j for j in range(d) if pat[j]]
        if not nn:
            # all-null pattern: every co-member of the group matches
            parts.append(_stratum_size_counts(stratum.select("subj", "_gs")))
            continue
        if any(benches[j] is None for j in nn):
            # a non-null attribute with an empty benchmark matches nothing
            parts.append(stratum.select("subj", F.lit(0).cast("long").alias("_cnt")))
            continue
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
        def make_count_fn(nn, a, ba, benches):
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

        # a point lives in exactly one slab and a query only probes the
        # slabs its window overlaps, so summing per-slab counts is exact —
        # never a double count.
        cnt = (
            pts.groupBy("_gs", "_slab")
            .cogroup(qry.groupBy("_gs", "_slab"))
            .applyInPandas(make_count_fn(nn, a, ba, benches), "subj string, _cnt long")
            .groupBy("subj")
            .agg(F.sum("_cnt").alias("_cnt"))
        )
        parts.append(cnt)

    cnts = parts[0]
    for p in parts[1:]:
        cnts = cnts.unionByName(p)
    k = _min_count(frame.select("subj"), cnts)
    full.unpersist()
    return k

"""Anonymization pipeline orchestrator.

Spark re-expression of AnonymizationService.applyAnonymizationForObject
(reference: service/AnonymizationService.java:74-116): per configured object
type — used-property check (J1), attribute column extraction (J2),
operator dispatch (Configuration.java:29-65), KPI write-back, original
deletion (QueryBuildingService.java:98-123), optional rename-to-original
(AnonymizationService.java:159-201).

Each type starts from ONE materialized pivot: a single ``groupBy(subj)``
over the pred-filtered triples yields the type's subjects, every configured
attribute's values (as arrays, so multi-valued attributes survive) and the
tie column.  J1's counts are observed while the pivot materializes; the
delete's victims and the long-format attribute frame
``(subj, _tie, _k, obj_value, …)`` — exploded once, ``_k`` the attribute's
index — all read that pivot; none re-derives the type's subjects from the
triple table.  The reference dispatches one operator per attribute; here
each operator kind runs once per type over all of its attributes (masking,
generalization, randomization — object generalization stays per
attribute), so a type's Spark jobs do not grow with its attribute count.
The config is driver-side; all data movement is DataFrame transforms.
Per-type results accumulate into the same triple table, exactly like the
reference's shared Jena model (M5).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from kgforge.anonymize import kpi as kpi_mod
from kgforge.anonymize import ops
from kgforge.anonymize.buckets import calculate_number_of_buckets
from kgforge.config import AnonymizationConfig, AttrConfig
from kgforge.triples import RDF_TYPE, triples_df

_SUFFIX = {
    "masking": "_masked",
    "generalization": "_generalized",
    "randomization": "_randomized",
}


@dataclass
class AnonymizationReport:
    """Bookkeeping for assertions / KPIs (also present as triples)."""

    k_anonymity: dict[str, int] = field(default_factory=dict)  # type -> k
    # type -> where kpi.k_anonymity counted the strata: "driver" up to
    # kpi.PAIR_THRESHOLD subjects, else "spark"
    k_mode: dict[str, str] = field(default_factory=dict)
    nr_buckets: dict[str, dict[str, int]] = field(default_factory=dict)
    used: dict[str, list[str]] = field(default_factory=dict)


def anonymize_triples(
    triples: DataFrame,
    config: AnonymizationConfig,
    *,
    calculate_kpi: bool = True,
    include_original_data: bool = False,
    use_adjusted_attributes: bool = True,
    random_seed: int | None = None,
    order_pred: str | None = None,
) -> tuple[DataFrame, AnonymizationReport]:
    """Apply the full anonymization pipeline; returns (new triples, report).

    ``order_pred`` names a predicate whose integer value fixes sort tie order
    (the flat codec's injected counter).  The reference's tie order is
    unspecified (HashMap iteration, Randomization.java:61-66); we make it
    deterministic — value multisets are tie-order-invariant so KPIs and bucket
    contents match the reference exactly, only tied rows may swap resources.
    """
    spark = triples.sparkSession
    seed = int(time.time() * 1000) if random_seed is None else random_seed
    report = AnonymizationReport()

    for type_iri, attrs_cfg in config.items():
        attrs = list(attrs_cfg)
        pivot, sizes = _type_pivot(triples, type_iri, attrs, order_pred)

        # J1: which configured predicates are actually used by this type
        counts = {a: n for a, n in zip(attrs, sizes) if n}
        used = [a for a in attrs if a in counts]
        report.used[type_iri] = used
        n_anon = sum(
            1
            for a in used
            if attrs_cfg[a].strategy in ("generalization", "randomization")
        )

        # every used attribute's values, one row per value; _k is the
        # attribute's index in ``attrs``
        long_df = pivot.select(
            "subj", "_tie",
            F.posexplode(F.array(*[f"_a{i}" for i in range(len(attrs))]))
            .alias("_k", "_vs"),
        ).select("subj", "_tie", "_k", F.explode("_vs").alias("_e")).select(
            "subj", "_tie", "_k", "_e.obj_value", "_e.obj_dtype", "_e.obj_is_iri"
        )
        new_parts: list[DataFrame] = []
        kpi_rows: list[tuple] = []
        report.nr_buckets[type_iri] = {}
        # operator kind -> the specs of its attributes, one call per kind
        batches: dict[str, list[ops.AttrSpec]] = {}

        for attr in used:
            cfg: AttrConfig = attrs_cfg[attr]
            n = counts[attr]
            k = attrs.index(attr)
            if cfg.strategy == "masking":
                # masking records no KPI attribute info (short ctor)
                batches.setdefault("masking", []).append(ops.AttrSpec(attr, k=k))
                continue
            if cfg.strategy not in ("generalization", "randomization"):
                raise ValueError(f"No Anonymization implementation for {cfg.strategy}")

            g = calculate_number_of_buckets(n, n_anon)
            report.nr_buckets[type_iri][attr] = g
            if calculate_kpi:
                kpi_rows.extend(
                    kpi_mod.attribute_info_rows(type_iri, attr, cfg.strategy, g)
                )
            if cfg.is_object_generalization:
                col_df = long_df.filter(F.col("_k") == k)
                new_parts.append(
                    ops.generalize_object(
                        triples, col_df, attr, cfg.attr_order, g, n
                    )
                )
            else:
                batches.setdefault(cfg.strategy, []).append(
                    ops.AttrSpec(attr, cfg.datatype, g, n, k)
                )

        order_col = F.col("_tie")
        # the rank caches generalize persists for this type; the checkpoint
        # below materializes every operator plan, so they go right after it
        caches: list[DataFrame] = []
        try:
            if "masking" in batches:
                new_parts.append(ops.mask(long_df, batches["masking"]))
            if "generalization" in batches:
                new_parts.append(
                    ops.generalize(
                        long_df, batches["generalization"], order_col, cleanup=caches
                    )
                )
            if "randomization" in batches:
                new_parts.append(
                    ops.randomize(
                        long_df, batches["randomization"], seed, order_col
                    )
                )

            written = triples
            if used:
                if not include_original_data:
                    written = _delete_originals(written, pivot, attrs, used)
                for part in new_parts:
                    written = written.unionByName(part.select(
                        "subj", "pred", "obj_value", "obj_dtype", "obj_is_iri"
                    ))
                if kpi_rows:
                    written = written.unionByName(triples_df(spark, kpi_rows))
                # Lineage truncation, not just caching: each operator stacks
                # a rank/bucket/noise subtree onto the shared triple table.
                # Without a checkpoint the analyzed plan grows
                # multiplicatively per type — analysis time dominates tiny
                # inputs and the driver can OOM just rendering plan strings
                # for the SQL listener.  One truncation per type covers the
                # write-back and the deletes; the KPI triple and the renames
                # below are narrow unions/projections on top.
                written = _truncate(written)
        finally:
            for c in caches:
                c.unpersist()

        if calculate_kpi:
            # the KPI runs on the pre-delete model, like the reference (KPI at
            # AnonymizationService.java:101-104, delete at :105-108): the
            # type's input plus what was written.  Rows present in both are
            # harmless — the KPI frame aggregates per subject with max().
            kpi_input = triples if written is triples else triples.unionByName(written)
            k, mode = kpi_mod.k_anonymity(kpi_input, type_iri, used, attrs_cfg)
            report.k_anonymity[type_iri] = k
            report.k_mode[type_iri] = mode
            written = written.unionByName(
                triples_df(spark, kpi_mod.kpi_object_rows(type_iri, k))
            )

        if not use_adjusted_attributes and used:
            written = _rename_to_original(
                written,
                {a + _SUFFIX[attrs_cfg[a].strategy]: a for a in used},
            )
        triples = written

    return triples, report


def _type_pivot(
    triples: DataFrame, type_iri: str, attrs: list[str], order_pred: str | None
) -> tuple[DataFrame, list[int | None]]:
    """(subj, _tie, _a0 … _aN), one row per subject typed ``type_iri``;
    ``_ai`` is the array of attribute i's (obj_value, obj_dtype,
    obj_is_iri) values — one entry per triple, like one OPTIONAL arm of the
    reference's pivot query (data/QueryBuildingService.java:31-46)
    restricted to present values.  Materialized: every later step of the
    type reads it.  Also returns each attribute's value count (J1), observed
    while the pivot materializes, so it costs no action of its own."""
    pred = F.col("pred")
    is_type = (pred == RDF_TYPE) & (F.col("obj_value") == type_iri)
    value = F.struct("obj_value", "obj_dtype", "obj_is_iri")
    aggs = [F.max(is_type).alias("_typed")] + [
        F.collect_list(F.when(pred == a, value)).alias(f"_a{i}")
        for i, a in enumerate(attrs)
    ]
    preds = list(attrs)
    if order_pred is not None:
        preds.append(order_pred)
        tie = F.when(pred == order_pred, F.col("obj_value").cast("long"))
        aggs.append(F.max(tie).alias("_tie"))
    pivot = (
        triples.filter(is_type | pred.isin(preds))
        .groupBy("subj")
        .agg(*aggs)
        .filter("_typed")
        .drop("_typed")
    )
    if order_pred is None:
        pivot = pivot.withColumn("_tie", F.col("subj"))
    if not attrs:
        return _truncate(pivot), []
    sizes = Observation()
    pivot = _truncate(pivot.observe(sizes, *[
        F.sum(F.size(f"_a{i}")).alias(f"_n{i}") for i in range(len(attrs))
    ]))
    return pivot, [sizes.get[f"_n{i}"] for i in range(len(attrs))]


def _delete_originals(
    triples: DataFrame, pivot: DataFrame, attrs: list[str], used: list[str]
) -> DataFrame:
    """Drop the type's values of the used attributes, plus a one-hop delete
    of the objects those values point to (drops address sub-objects —
    QueryBuildingService.java:98-123).  Both victim sets come from the
    pivot, as one broadcast ``(subj, pred)`` relation — ``pred`` null for a
    whole object — so one anti-join keeps the surviving rows in order."""
    victims = pivot.select(
        "subj", F.explode(F.array(*[F.lit(a) for a in used])).alias("pred")
    )
    values = F.concat(*[F.col(f"_a{attrs.index(a)}") for a in used])
    children = (
        pivot.select(F.explode(values).alias("_v"))
        .filter(F.col("_v.obj_is_iri"))
        .select(
            F.col("_v.obj_value").alias("subj"),
            F.lit(None).cast("string").alias("pred"),
        )
    )
    gone = F.broadcast(victims.unionByName(children).alias("_gone"))
    t = triples.alias("_t")
    hit = (F.col("_t.subj") == F.col("_gone.subj")) & (
        F.col("_gone.pred").isNull() | (F.col("_t.pred") == F.col("_gone.pred"))
    )
    return t.join(gone, hit, "left_anti")


def _rename_to_original(triples: DataFrame, renames: dict[str, str]) -> DataFrame:
    """Move each ``<attr>_<suffix>`` value onto ``<attr>`` and drop the old
    ``<attr>`` values — global rewrites, like listStatements(null, p, null)."""
    pred = F.col("pred")
    new_pred = pred
    for src, dst in renames.items():
        new_pred = F.when(pred == src, F.lit(dst)).otherwise(new_pred)
    return triples.filter(~pred.isin(list(renames.values()))).withColumn(
        "pred", new_pred
    )


def _truncate(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and cut its lineage: a reliable ``checkpoint`` when
    the session has a checkpoint dir (cluster-safe — replicated, survives
    executor loss), ``localCheckpoint`` otherwise (local mode / short-lived
    fixture jobs).  Always eager: under AQE a lazy checkpoint still runs
    every shuffle stage of the plan as soon as its RDD is built, so
    ``eager=False`` would defer nothing."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)

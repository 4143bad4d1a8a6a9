"""Anonymization pipeline orchestrator.

Spark re-expression of AnonymizationService.applyAnonymizationForObject
(reference: service/AnonymizationService.java:74-116): per configured object
type — used-property check (J1), attribute column extraction (J2),
operator dispatch (Configuration.java:29-65), KPI write-back, original
deletion (QueryBuildingService.java:98-123), optional rename-to-original
(AnonymizationService.java:159-201).

Each type starts from ONE materialized pivot in long layout, ``(subj,
_tie, _k, pred, obj_value, obj_dtype, obj_is_iri)``: a single
``groupBy(subj)`` over the triples finds the type's subjects and their
tie value and emits one row per value of a configured attribute, ``_k``
the attribute's index.  J1's counts are observed while the pivot
materializes; the operators and the delete's victims all read that pivot;
none re-derives the type's subjects from the triple table.  The pivot
parses each value once (``_v``); one that does not parse fails the type
with :class:`AnonymizationError` before any operator runs.  The reference
dispatches one operator per attribute; here each operator kind runs once
per type over all of its attributes (masking, generalization, object
generalization, randomization), so a type's Spark jobs do not grow with
its attribute count.

The configuration reaches the plans only as data: attribute names,
predicates, datatypes and bucket counts are array literals looked up by
``_k`` or ``pred`` (:func:`kgforge.triples.array_sql`), which generated code
reads by reference.  Every checkpoint a type reads has one schema (the
input is checkpointed first, all columns nullable).  So the pivot and KPI
plans are the same for every type, configuration and endpoint, and Spark
compiles their classes once per session instead of once per type; only a
write-back whose operator kinds differ compiles classes of its own.
The config is driver-side; all data movement is DataFrame transforms.
Per-type results accumulate into the same triple table, exactly like the
reference's shared Jena model (M5).
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.anonymize import kpi as kpi_mod
from kgforge.anonymize import ops
from kgforge.anonymize.buckets import calculate_number_of_buckets
from kgforge.anonymize.values import PARSED_DATATYPES, parse_sql
from kgforge.config import AnonymizationConfig, AttrConfig
from kgforge.triples import RDF_TYPE, TRIPLE_SCHEMA, array_sql, local_df, triples_df
from kgforge.util import release_checkpoint, truncate_lineage

_SUFFIX = {
    "masking": "_masked",
    "generalization": "_generalized",
    "randomization": "_randomized",
}


class AnonymizationError(RuntimeError):
    """Anonymization-process failure (500, GlobalExceptionHandler.java:49-56):
    a configured value that does not parse as its attribute's datatype."""


@dataclass
class AnonymizationReport:
    """Bookkeeping for assertions / KPIs (also present as triples)."""

    k_anonymity: dict[str, int] = field(default_factory=dict)  # type -> k
    # type -> where kpi.k_anonymity counted the strata: "driver" up to
    # kpi.PAIR_THRESHOLD subjects, else "spark"
    k_mode: dict[str, str] = field(default_factory=dict)
    nr_buckets: dict[str, dict[str, int]] = field(default_factory=dict)
    used: dict[str, list[str]] = field(default_factory=dict)
    # the local checkpoint the returned triples read (none when no type
    # wrote anything); its owner frees it with release() once done with them
    checkpoints: list[DataFrame] = field(default_factory=list)

    def release(self) -> None:
        """Free the blocks of :attr:`checkpoints`; the returned triples are
        unreadable afterwards."""
        while self.checkpoints:
            release_checkpoint(self.checkpoints.pop())


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

    The input is checkpointed first, and each type's KPI triple is written
    with the next type's write-back, so every type reads a checkpoint and
    runs the same plans, whatever its configuration.  Each type's pivot is
    freed once the type's write-back is materialized, and each checkpoint
    once the next one and its KPI are; the last one, which the returned
    triples read, is left in ``report.checkpoints`` for the caller to free
    (:meth:`AnonymizationReport.release`).
    """
    seed = int(time.time() * 1000) if random_seed is None else random_seed
    report = AnonymizationReport()
    # KPI triples of the types done so far that no write-back holds yet
    pending: list[tuple] = []
    try:
        triples = _truncate_triples(triples)
        report.checkpoints.append(triples)
        for type_iri, attrs_cfg in config.items():
            triples = _anonymize_type(
                triples, type_iri, attrs_cfg, report, seed, order_pred, pending,
                calculate_kpi=calculate_kpi,
                include_original_data=include_original_data,
                use_adjusted_attributes=use_adjusted_attributes,
            )
    except BaseException:
        report.release()
        raise
    if pending:
        triples = triples.unionByName(triples_df(triples.sparkSession, pending))
    return triples, report


def _anonymize_type(
    triples: DataFrame,
    type_iri: str,
    attrs_cfg: dict[str, AttrConfig],
    report: AnonymizationReport,
    seed: int,
    order_pred: str | None,
    pending: list[tuple],
    *,
    calculate_kpi: bool,
    include_original_data: bool,
    use_adjusted_attributes: bool,
) -> DataFrame:
    """One configured type of :func:`anonymize_triples`: returns
    ``triples`` with the type's values (and the ``pending`` KPI triples)
    written back, records the type's KPIs and write-back checkpoint in
    ``report`` and leaves its KPI triple in ``pending``."""
    spark = triples.sparkSession
    attrs = list(attrs_cfg)
    long_df, sizes, bad = _type_pivot(triples, type_iri, attrs_cfg, order_pred)
    # the rank caches generalize persists for this type; the checkpoint
    # below materializes every operator plan, so they and the pivot go right
    # after it
    caches: list[DataFrame] = []
    try:
        # J1: which configured predicates are actually used by this type
        counts = {a: n for a, n in zip(attrs, sizes) if n}
        used = [a for a in attrs if a in counts]
        report.used[type_iri] = used
        n_anon = sum(
            1
            for a in used
            if attrs_cfg[a].strategy in ("generalization", "randomization")
        )
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
            kind = "object" if cfg.is_object_generalization else cfg.strategy
            if kind != "object" and cfg.datatype not in PARSED_DATATYPES:
                raise ValueError(f"unsupported datatype for value parsing: {cfg.datatype}")
            batches.setdefault(kind, []).append(
                ops.AttrSpec(attr, cfg.datatype, g, n, k, cfg.attr_order)
            )
        if bad is not None:
            attr = attrs[bad["_k"]]
            raise AnonymizationError(
                f"Value '{bad['obj_value']}' of attribute {attr} is not a valid"
                f" {attrs_cfg[attr].datatype}"
            )

        order_col = F.col("_tie")
        parts: list[DataFrame] = []
        if "object" in batches:
            parts.append(ops.generalize_object(triples, long_df, batches["object"]))
        if "masking" in batches:
            parts.append(ops.mask(long_df, batches["masking"]))
        if "generalization" in batches:
            parts.append(
                ops.generalize(
                    long_df, batches["generalization"], order_col, cleanup=caches
                )
            )
        if "randomization" in batches:
            parts.append(
                ops.randomize(long_df, batches["randomization"], seed, order_col)
            )

        written = triples
        if used:
            if not include_original_data:
                written = _delete_originals(written, long_df)
            for part in parts:
                written = written.unionByName(part.select(
                    "subj", "pred", "obj_value", "obj_dtype", "obj_is_iri"
                ))
            if kpi_rows or pending:
                written = written.unionByName(triples_df(spark, kpi_rows + pending))
                pending.clear()
            # Lineage truncation, not just caching: each operator stacks
            # a rank/bucket/noise subtree onto the shared triple table.
            # Without a checkpoint the analyzed plan grows
            # multiplicatively per type — analysis time dominates tiny
            # inputs and the driver can OOM just rendering plan strings
            # for the SQL listener.  One truncation per type covers the
            # write-back and the deletes; the renames below are a
            # projection on top.
            written = _truncate_triples(written)
    finally:
        for c in caches:
            c.unpersist()
        release_checkpoint(long_df)

    # the previous checkpoint, read by ``triples`` until this type's KPI
    superseded = list(report.checkpoints) if used else []
    if used:
        report.checkpoints.append(written)
    if calculate_kpi:
        # the KPI runs on the pre-delete model, like the reference (KPI at
        # AnonymizationService.java:101-104, delete at :105-108): the
        # type's input plus what was written.  Rows present in both are
        # harmless — the KPI frame aggregates per subject with max().
        kpi_input = triples if written is triples else triples.unionByName(written)
        k, mode = kpi_mod.k_anonymity(kpi_input, type_iri, used, attrs_cfg)
        report.k_anonymity[type_iri] = k
        report.k_mode[type_iri] = mode
        pending.extend(kpi_mod.kpi_object_rows(type_iri, k))
    for c in superseded:
        report.checkpoints.remove(c)
        release_checkpoint(c)

    if not use_adjusted_attributes and used:
        written = _rename_to_original(
            written,
            {a + _SUFFIX[attrs_cfg[a].strategy]: a for a in used},
        )
    return written


def _type_pivot(
    triples: DataFrame, type_iri: str, attrs_cfg: dict[str, AttrConfig],
    order_pred: str | None,
) -> tuple[DataFrame, list[int], Row | None]:
    """The type's attribute values in long layout, ``(subj, _tie, _k, pred,
    obj_value, obj_dtype, obj_is_iri, _v)``: one row per value of attribute
    ``attrs[_k]`` held by a subject typed ``type_iri`` — one OPTIONAL arm
    of the reference's pivot query (data/QueryBuildingService.java:31-46)
    restricted to present values.  ``_tie`` is the subject's ``order_pred``
    value as a long, null without one; ``_v`` the value parsed by
    :func:`parse_sql`, null for masking and object generalization.  One
    ``groupBy(subj)`` finds the typed subjects; the attributes, datatypes
    and ``order_pred`` reach it as array literals, so every type,
    configuration and endpoint runs the same plan.  Materialized: every
    later step of the type reads it.  Also returns, observed while the
    pivot materializes, so at no action of its own, each attribute's value
    count (J1) and the smallest ``(_k, obj_value)`` with a datatype whose
    ``_v`` is null (None when every value parses)."""
    attrs = list(attrs_cfg)
    dts = array_sql(["" if c.strategy == "masking" or c.is_object_generalization
                     else c.datatype for c in attrs_cfg.values()])
    pred = F.col("pred")
    is_type = (pred == RDF_TYPE) & (F.col("obj_value") == type_iri)
    # a one-element array either way (no pred is empty): the optimizer folds
    # a lookup in an empty array away, which changes the plan
    is_tie = F.expr(f"array_contains({array_sql([order_pred or ''])}, pred)")
    k = F.expr(f"CAST(array_position({array_sql(attrs)}, pred) AS INT) - 1")
    value = F.struct("_k", "pred", "obj_value", "obj_dtype", "obj_is_iri")
    v = parse_sql(f"element_at({dts}, _e._k + 1)", "_e.obj_value")
    long_df = (
        triples.withColumn("_k", k)
        .filter(is_type | is_tie | (F.col("_k") >= 0))
        .groupBy("subj")
        .agg(
            F.max(is_type).alias("_typed"),
            # try_cast: a malformed tie value orders like a missing one
            F.max(F.when(is_tie, F.col("obj_value").try_cast("long"))).alias("_tie"),
            F.collect_list(F.when(F.col("_k") >= 0, value)).alias("_vs"),
        )
        .filter("_typed")
        .select("subj", "_tie", F.explode("_vs").alias("_e"))
        .selectExpr("subj", "_tie", "_e.*", f"{v} AS _v")
    )
    bad = f"element_at({dts}, _k + 1) <> '' AND obj_value IS NOT NULL AND _v IS NULL"
    stats = Observation()
    long_df = truncate_lineage(long_df.observe(
        stats,
        F.collect_list("_k").alias("_ks"),
        F.expr(f"min(IF({bad}, struct(_k, obj_value), NULL))").alias("_bad"),
    ))
    got = stats.get
    n = Counter(got["_ks"])
    return long_df, [n[i] for i in range(len(attrs))], got["_bad"]


def _delete_originals(triples: DataFrame, long_df: DataFrame) -> DataFrame:
    """Drop the type's values of the used attributes, plus a one-hop delete
    of the objects those values point to (drops address sub-objects —
    QueryBuildingService.java:98-123).  Both victim sets come from the
    long pivot, as one broadcast ``(subj, pred)`` relation — ``pred`` null
    for a whole object — so one anti-join keeps the surviving rows in
    order."""
    children = long_df.filter("obj_is_iri").select(
        F.col("obj_value").alias("subj"), F.lit(None).cast("string").alias("pred")
    )
    gone = F.broadcast(long_df.select("subj", "pred").unionByName(children).alias("_gone"))
    t = triples.alias("_t")
    hit = (F.col("_t.subj") == F.col("_gone.subj")) & (
        F.col("_gone.pred").isNull() | (F.col("_t.pred") == F.col("_gone.pred"))
    )
    return t.join(gone, hit, "left_anti")


def _rename_to_original(triples: DataFrame, renames: dict[str, str]) -> DataFrame:
    """Move each ``<attr>_<suffix>`` value onto ``<attr>`` and drop the old
    ``<attr>`` values — global rewrites, like listStatements(null, p, null).
    The pairs are two array literals, so the plan does not depend on them."""
    src, dst = array_sql(list(renames)), array_sql(list(renames.values()))
    return triples.filter(f"NOT array_contains({dst}, pred)").withColumn(
        "pred", F.expr(f"IF(array_contains({src}, pred),"
                       f" element_at({dst}, CAST(array_position({src}, pred) AS INT)), pred)")
    )


# the triple schema with every column nullable
_NULLABLE_TRIPLES = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in TRIPLE_SCHEMA.fields]
)


def _truncate_triples(df: DataFrame) -> DataFrame:
    """:func:`truncate_lineage` a triple table with every column nullable: the
    union with an empty nullable relation keeps the rows and widens the
    schema, so every checkpoint a type reads has one schema — generated
    code tests nullable columns for null, so a schema that differs in
    nullability alone compiles to other classes."""
    return truncate_lineage(df.unionByName(local_df(df.sparkSession, [], _NULLABLE_TRIPLES)))

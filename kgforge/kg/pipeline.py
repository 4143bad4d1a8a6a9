"""End-to-end KG construction: interleaved docs → (subj, pred, obj) triples.

Stages (north_rule): span explode → batched mention detection → entity-link
scoring → MinHash-LSH + connected-components surface canonicalization →
triple materialization with salted aggregation for hot entities → partitioned
graph write with snapshot lineage (kgforge.kg.io).

Every stage is a DataFrame transform; the only Python workers are the
Arrow-batched mention scans (kgforge.kg.mentions).  The
mention→entity aggregation is two-phase (salt then re-aggregate) so the ~100×
hot entities in the corpus never pin a single reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.kg.components import connected_components
from kgforge.kg.linking import link_mentions
from kgforge.kg.lsh import (
    jaccard_filter,
    pairs_from_signatures,
    shingle_df,
    signatures_from_shingles,
)
from kgforge.kg.mentions import detect_mentions
from kgforge.kg.synth import explode_spans
from kgforge.kg.vocab import DOC_NS, ENT_NS, KG
from kgforge.triples import RDF_TYPE, local_df

_SALT_BUCKETS = 16
# distinct surfaces up to which canonicalization clusters exactly on the
# driver; above it the MinHash-LSH + distributed connected-components path runs
SMALL_CANON_THRESHOLD = 20_000
_CANON_SCHEMA = T.StructType([
    T.StructField("surface", T.StringType()),
    T.StructField("canon_surface", T.StringType()),
])


def _lit_triple(df, subj, pred, value, dtype="string"):
    return df.select(
        subj.alias("subj"),
        F.lit(pred).alias("pred"),
        value.cast("string").alias("obj_value"),
        F.lit(dtype).alias("obj_dtype"),
        F.lit(False).alias("obj_is_iri"),
    )


def _iri_triple(df, subj, pred, value):
    return df.select(
        subj.alias("subj"),
        F.lit(pred).alias("pred"),
        value.alias("obj_value"),
        F.lit("iri").alias("obj_dtype"),
        F.lit(True).alias("obj_is_iri"),
    )


def _py_shingles(s: str) -> set:
    """Driver-side mirror of kgforge.kg.lsh.shingle_df (same 3-grams, same
    padding, same short-string quirk) so the small-vocabulary fast path and
    the distributed LSH path agree on Jaccard values."""
    p = "^" + s.lower() + "$"
    if len(p) <= 3:
        return {p}
    return {p[i : i + 3] for i in range(len(p) - 2)}


def _canonicalize_driver(spark, surface_list, threshold: float):
    """Exact all-pairs Jaccard + union-find for small surface vocabularies.
    O(n²) on the driver — only taken up to ``SMALL_CANON_THRESHOLD``; recall
    is a superset of the LSH-blocked distributed path (blocking exists purely
    to avoid the quadratic scan at scale)."""
    from kgforge.kg.components import union_find_components

    sh = {s: _py_shingles(s) for s in surface_list}
    edges = []
    for i, a in enumerate(surface_list):
        for b in surface_list[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter and inter / (len(sh[a]) + len(sh[b]) - inter) >= threshold:
                edges.append((min(a, b), max(a, b)))
    comp = union_find_components(edges)
    rows = [(s, comp.get(s, s)) for s in sorted(surface_list)]
    return local_df(spark, rows, _CANON_SCHEMA)


def _canonicalize_surfaces(
    spark, surfaces: DataFrame, threshold: float,
) -> tuple[DataFrame, int, str]:
    """(surface) → ((surface, canon_surface), distinct surfaces, path).

    One action decides: ``limit(SMALL_CANON_THRESHOLD + 1).collect()``.
    When the vocabulary fits, it is clustered exactly on the driver
    (``"driver"``; the result is a local relation, its rows already in the
    plan).  Otherwise the surfaces are persisted and counted and the
    MinHash-LSH + distributed connected-components path runs; its result
    is persisted (``"lsh"``).  Both paths agree on the synthetic vocabulary
    (tested)."""
    head = [r["surface"] for r in surfaces.limit(SMALL_CANON_THRESHOLD + 1).collect()]
    if len(head) <= SMALL_CANON_THRESHOLD:
        return _canonicalize_driver(spark, head, threshold), len(head), "driver"
    surfaces = surfaces.persist()
    n_surfaces = surfaces.count()
    # 96 lanes / 32 bands (r=3): ≥0.998 candidate recall at the 0.55
    # Jaccard threshold (24/8 missed ~23% of near-threshold pairs); the
    # exact-Jaccard verify prunes the extra sub-threshold candidates
    sig = signatures_from_shingles(
        shingle_df(surfaces, "surface", "surface"), "surface", num_hashes=96
    )
    pairs = pairs_from_signatures(sig, "surface", 96, 32)
    verified = jaccard_filter(pairs, surfaces, "surface", "surface", threshold)
    comps = connected_components(verified.select("a", "b"))
    canon = (
        surfaces.join(
            comps.withColumnRenamed("node", "surface"), "surface", "left"
        ).withColumn("canon_surface", F.coalesce(F.col("comp"), F.col("surface")))
        .select("surface", "canon_surface")
    ).persist()
    return canon, n_surfaces, "lsh"


def _neardup_triples(canon: DataFrame) -> DataFrame:
    """surface —nearDuplicateOf→ canonical surface, for every surface that is
    not its own cluster's label."""
    return canon.filter(F.col("surface") != F.col("canon_surface")).select(
        F.concat(F.lit(KG), F.lit("surface/"), F.col("surface")).alias("subj"),
        F.lit(KG + "nearDuplicateOf").alias("pred"),
        F.concat(F.lit(KG), F.lit("surface/"), F.col("canon_surface")).alias("obj_value"),
        F.lit("iri").alias("obj_dtype"),
        F.lit(True).alias("obj_is_iri"),
    )


def build_kg(
    docs: DataFrame,
    near_dup_threshold: float = 0.55,
    collect_metrics: bool = True,
    mention_vocab: list | None = None,
    mention_case_insensitive: bool = True,
    catalog: DataFrame | None = None,
) -> tuple[DataFrame, dict]:
    """Returns (triples, metrics).

    ``mention_vocab`` / ``mention_case_insensitive`` / ``catalog`` override
    the built-in demo entity vocabulary and link catalog so the pipeline runs
    over arbitrary domain corpora (catalog schema:
    ``norm string, eid string, canonical string, etype string``).

    ``collect_metrics=False`` skips the per-stage count actions (each is a
    full pipeline barrier) — used by throughput benchmarks; the numbers are
    still available from the graph-write snapshot (kgforge.kg.io).
    ``SMALL_CANON_THRESHOLD`` picks the canonicalization path, reported as
    ``metrics["canon_path"]``: up to that many distinct surfaces the
    vocabulary is collected and clustered exactly on the driver
    (``"driver"``); above it the MinHash-LSH + distributed
    connected-components path runs (``"lsh"``)."""
    metrics: dict = {}
    spark = docs.sparkSession
    spans = explode_spans(docs).persist()
    if collect_metrics:
        kind_counts = {
            r["kind"]: r["count"] for r in spans.groupBy("kind").count().collect()
        }
        metrics["spans_by_kind"] = kind_counts
        metrics["n_spans"] = int(sum(kind_counts.values()))

    mentions = detect_mentions(
        spans, vocab=mention_vocab, case_insensitive=mention_case_insensitive,
    )
    linked = link_mentions(mentions, cands=catalog).persist()
    if collect_metrics:
        metrics["n_mentions"] = linked.count()

    # --- canonicalization of surface forms ----------------------------------
    canon, metrics["n_surfaces"], metrics["canon_path"] = _canonicalize_surfaces(
        spark, linked.select("surface").distinct(), near_dup_threshold
    )
    if collect_metrics:
        metrics["n_surface_clusters"] = canon.select("canon_surface").distinct().count()

    doc_iri = F.concat(F.lit(DOC_NS), F.col("doc_id"))
    ent_iri = F.concat(F.lit(ENT_NS), F.col("eid"))

    # doc —mentions→ entity (distinct), plus per-mention occurrence count on
    # the doc for lineage-grade accounting
    doc_ent = linked.select("doc_id", "eid").distinct()
    t_mentions = _iri_triple(
        doc_ent, F.concat(F.lit(DOC_NS), F.col("doc_id")), KG + "mentions",
        F.concat(F.lit(ENT_NS), F.col("eid")),
    )

    # entity mention totals — two-phase salted aggregation (hot-entity skew)
    salted = (
        linked.withColumn("_salt", F.pmod(F.xxhash64("doc_id", "start"), F.lit(_SALT_BUCKETS)))
        .groupBy("eid", "_salt")
        .count()
    )
    ent_counts = salted.groupBy("eid").agg(F.sum("count").alias("n"))
    t_counts = _lit_triple(
        ent_counts, F.concat(F.lit(ENT_NS), F.col("eid")), KG + "mentionCount",
        F.col("n"), "xsd:long",
    )

    ent_info = linked.select("eid", "etype", "canonical").distinct()
    t_type = _iri_triple(
        ent_info, F.concat(F.lit(ENT_NS), F.col("eid")), RDF_TYPE,
        F.concat(F.lit(KG), F.col("etype")),
    )
    t_name = _lit_triple(
        ent_info, F.concat(F.lit(ENT_NS), F.col("eid")), KG + "canonicalName",
        F.col("canonical"),
    )

    surf = linked.select("eid", "surface").distinct()
    t_surface = _lit_triple(
        surf, F.concat(F.lit(ENT_NS), F.col("eid")), KG + "surfaceForm",
        F.col("surface"),
    )

    t_neardup = _neardup_triples(canon)

    media = spans.filter(F.col("kind") != "text")
    t_media = _iri_triple(
        media, F.concat(F.lit(DOC_NS), F.col("doc_id")), KG + "hasMedia",
        F.col("media_ref"),
    )
    t_media_kind = _lit_triple(
        media, F.col("media_ref"), KG + "mediaKind", F.col("kind")
    )

    # derived from the persisted span table — re-deriving from ``docs`` would
    # re-run the upstream scan/synthesis a second time in the final action.
    # Left-join back to the doc-id spine so zero-span docs (possible for
    # arbitrary caller input) still emit spanCount=0.
    grouped_counts = spans.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_n"))
    span_counts = (
        docs.select("doc_id")
        .join(grouped_counts, "doc_id", "left")
        .select("doc_id", F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n"))
    )
    t_spancount = _lit_triple(
        span_counts, F.concat(F.lit(DOC_NS), F.col("doc_id")), KG + "spanCount",
        F.col("n"), "xsd:long",
    )

    triples = t_mentions
    for part in (
        t_counts, t_type, t_name, t_surface, t_neardup, t_media, t_media_kind,
        t_spancount,
    ):
        triples = triples.unionByName(part)

    metrics["n_triples"] = None  # filled by the caller's action (avoid extra job)
    return triples, metrics


def span_sequence_check(docs: DataFrame) -> int:
    """Per-row span-sequence invariant: explode + reassemble must reproduce
    (kind, text, media_ref, order) exactly.  Returns #violations (0 = pass)."""
    spans = explode_spans(docs)
    rebuilt = (
        spans.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct("span_idx", "kind", "text", "media_ref", "offset")
                )
            ).alias("s2")
        )
        .select(
            "doc_id",
            F.expr(
                "transform(s2, x -> struct(x.kind as kind, x.text as text,"
                " x.media_ref as media_ref, x.offset as offset))"
            ).alias("spans2"),
        )
    )
    joined = docs.join(rebuilt, "doc_id", "left")
    return joined.filter(
        F.col("spans2").isNull() | (F.col("spans") != F.col("spans2"))
    ).count()


def update_kg(
    old_triples: DataFrame,
    new_docs: DataFrame,
    near_dup_threshold: float = 0.55,
    **build_kwargs,
) -> tuple[DataFrame, dict]:
    """Incremental KG maintenance: fold a batch of NEW documents into an
    existing triple graph, equal BY CONSTRUCTION to rebuilding from scratch
    over the union corpus (asserted in tests):

    - doc-scoped families (mentions / hasMedia / mediaKind / spanCount) and
      entity-identity families (rdf:type / canonicalName / surfaceForm) are
      per-doc / per-catalog-entry facts — distinct union suffices;
    - ``mentionCount`` is additive — old and new counts sum per entity;
    - ``nearDuplicateOf`` is the one corpus-GLOBAL family (a new surface can
      bridge two existing clusters), so it is recomputed from the union
      surface vocabulary — which the graph itself already stores as
      ``surfaceForm`` triples; no access to the old corpus is needed.

    Caller contract: ``new_docs`` doc_ids must be disjoint from already
    ingested ones (replays are the streaming sink's epoch-overwrite job).

    Scale: the increment costs mention/link/aggregate over the NEW docs
    only, plus one distinct over old surfaceForm triples and the
    canonicalization of the union vocabulary — nothing reprocesses old
    documents.
    """
    spark = old_triples.sparkSession
    new_triples, metrics = build_kg(
        new_docs,
        near_dup_threshold=near_dup_threshold,
        collect_metrics=False,
        **build_kwargs,
    )
    mc = KG + "mentionCount"
    nd = KG + "nearDuplicateOf"

    both = old_triples.unionByName(new_triples)
    rest = both.filter(~F.col("pred").isin(mc, nd)).distinct()

    counts = (
        both.filter(F.col("pred") == mc)
        .groupBy("subj")
        .agg(F.sum(F.col("obj_value").cast("long")).alias("n"))
    )
    t_counts = _lit_triple(counts, F.col("subj"), mc, F.col("n"), "xsd:long")

    surfaces = (
        rest.filter(F.col("pred") == KG + "surfaceForm")
        .select(F.col("obj_value").alias("surface"))
        .distinct()
    )
    canon, _, _ = _canonicalize_surfaces(spark, surfaces, near_dup_threshold)
    t_neardup = _neardup_triples(canon)
    metrics["incremental"] = True
    return rest.unionByName(t_counts).unionByName(t_neardup), metrics

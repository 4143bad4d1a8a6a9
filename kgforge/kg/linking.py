"""Entity-link scoring: mention surfaces → catalog entities.

A mention's candidates are the catalog rows whose ``norm`` equals its
lowercased surface; each is scored by trigram Jaccard between that ``norm``
and the candidate's canonical name, and the best ``(score, eid, etype,
canonical)`` wins.  Since the score depends only on the ``norm``, the winner
is computed once per catalog surface — JVM trigram expressions and a
max-struct aggregation over the (tiny) catalog — and broadcast-joined onto
the mentions: no per-mention scoring, no shuffle of the mention side and no
Python workers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.kg.vocab import ENTITIES
from kgforge.triples import local_df

CATALOG_SCHEMA = T.StructType([
    T.StructField("norm", T.StringType()),
    T.StructField("eid", T.StringType()),
    T.StructField("canonical", T.StringType()),
    T.StructField("etype", T.StringType()),
])


def candidate_table(spark) -> DataFrame:
    return local_df(
        spark,
        [(v.lower(), e.eid, e.canonical, e.etype)
         for e in ENTITIES for v in e.variants],
        CATALOG_SCHEMA,
    )


def trigram_jaccard_col(df: DataFrame, a: str, b: str) -> DataFrame:
    """``df`` plus ``score``: whole-stage-codegen trigram Jaccard between two
    string columns (lowercased, padded ``^…$``, distinct 3-character
    windows) — pure JVM, so scoring needs no Python worker."""
    ta, tb = f"_tri_{a}", f"_tri_{b}"
    d = df
    for col, tmp in ((a, ta), (b, tb)):
        d = d.withColumn(tmp + "_p", F.concat(F.lit("^"), F.lower(F.col(col)), F.lit("$")))
        d = d.withColumn(
            tmp,
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(length({tmp}_p) - 2, 1)),"
                    f" i -> substring({tmp}_p, i, 3))"
                )
            ),
        )
    inter = F.size(F.array_intersect(F.col(ta), F.col(tb)))
    union = F.size(ta) + F.size(tb) - inter
    return d.withColumn("score", inter.cast("double") / union).drop(
        ta, tb, ta + "_p", tb + "_p"
    )


def link_mentions(mentions: DataFrame,
                  cands: DataFrame | None = None) -> DataFrame:
    """(doc_id, span_idx, offset, surface, start) →
    (doc_id, span_idx, start, surface, eid, etype, canonical, score).

    ``cands`` overrides the built-in demo catalog with a caller-supplied
    (norm, eid, canonical, etype) DataFrame.  One output row per mention
    whose lowercased surface is a catalog ``norm``; mentions are unique on
    (doc_id, span_idx, start) in ``detect_mentions`` output."""
    if cands is None:
        cands = candidate_table(mentions.sparkSession)
    best = (
        trigram_jaccard_col(cands, "norm", "canonical")
        .groupBy("norm")
        .agg(F.max(F.struct("score", "eid", "etype", "canonical")).alias("m"))
        .select("norm", "m.*")
    )
    return mentions.join(
        F.broadcast(best), F.lower(F.col("surface")) == F.col("norm")
    ).select(
        "doc_id", "span_idx", "start", "surface", "eid", "etype", "canonical",
        "score",
    )


def entity_initials(name_col) -> F.Column:
    """Word-initial letters of ``name_col``, uppercased and concatenated
    ("International Business Machines" → "IBM").  Pure JVM expression,
    mirrored verbatim in DuckDB (list_transform + first char)."""
    words = F.filter(F.split(name_col, " "), lambda w: w != F.lit(""))
    return F.upper(F.array_join(
        F.transform(words, lambda w: F.substring(w, 1, 1)), ""))


def acronym_links(mentions: DataFrame, catalog: DataFrame) -> DataFrame:
    """Initialism entity linking: an ALL-CAPS single-token mention
    ``surface`` (≥2 letters) links to catalog entities whose word-initial
    letters of ``canonical`` spell it — the classic acronym block of
    entity-resolution blocking schemes (complementary to string-similarity
    scoring, which never fires on "IBM" vs "International Business
    Machines": trigram Jaccard = 0).

    Scale shape: the catalog gains one derived column and broadcasts; the
    mention side is filtered to the all-caps minority BEFORE the join, so
    the equi-join is a broadcast hash join with no corpus-sized shuffle.
    Ambiguous acronyms (two entities sharing initials) produce one row per
    candidate — downstream disambiguation keeps corpus-level support.
    """
    s = F.col("surface")
    m = mentions.filter(
        (F.length(s) >= 2)
        & (s == F.upper(s))
        & (~s.contains(" "))
        & s.rlike("^[A-Z]+$")
    )
    cand = catalog.withColumn("_initials", entity_initials(F.col("canonical")))
    return (
        m.join(F.broadcast(cand), s == F.col("_initials"))
        .drop("_initials")
    )

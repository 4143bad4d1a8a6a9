"""Batched mention detection over text spans.

Two interchangeable strategies (tested for equality on the synthetic corpus):

- ``pandas`` — Arrow-batched compiled-regex scan inside mapInPandas
  (longest-surface-first alternation; the matching itself runs in the C
  regex engine per batch).
- ``sql`` — pure JVM: tokenize, build 1..3-grams with
  ``transform(sequence(...))``, posexplode, broadcast-join the normalized
  vocabulary, then drop hits nested inside longer hits (regex-greedy
  equivalence).  Zero Python workers; whole-stage codegen end to end.

Both emit (doc_id, span_idx, offset, surface, start).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.kg.vocab import ALL_SURFACES
from kgforge.triples import local_df

_MENTION_SCHEMA = "doc_id string, span_idx int, offset int, surface string, start int"


def _alternation(vocab: list[str] | None = None) -> str:
    # longest first so 'Vienna Austria' wins over 'Vienna'
    parts = sorted(vocab if vocab is not None else ALL_SURFACES, key=len, reverse=True)
    return "(" + "|".join(re.escape(s) for s in parts) + ")"


def detect_mentions(spans: DataFrame, strategy: str = "pandas",
                    vocab: list[str] | None = None,
                    case_insensitive: bool = True) -> DataFrame:
    """``vocab`` overrides the entity-catalog surface list;
    ``case_insensitive=False`` drops the (?i)/IGNORECASE flag (callers that
    pre-lower the text get engine-portable exact matching)."""
    text_spans = spans.filter(F.col("kind") == "text").select(
        "doc_id", "span_idx", "offset", "text"
    )
    if strategy == "pandas":
        pattern = _alternation(vocab)

        ci = case_insensitive

        def scan(batches):
            import pandas as pd

            rx = re.compile(pattern, re.IGNORECASE if ci else 0)
            for pdf in batches:
                doc_ids, span_idxs, offsets, surfaces, starts = [], [], [], [], []
                for doc_id, span_idx, offset, txt in zip(
                    pdf["doc_id"], pdf["span_idx"], pdf["offset"], pdf["text"]
                ):
                    for mm in rx.finditer(txt):
                        doc_ids.append(doc_id)
                        span_idxs.append(span_idx)
                        offsets.append(offset)
                        surfaces.append(mm.group(0))
                        starts.append(mm.start())
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(doc_ids, dtype="object"),
                        "span_idx": pd.Series(span_idxs, dtype="int32"),
                        "offset": pd.Series(offsets, dtype="int32"),
                        "surface": pd.Series(surfaces, dtype="object"),
                        "start": pd.Series(starts, dtype="int32"),
                    }
                )

        return text_spans.mapInPandas(scan, schema=_MENTION_SCHEMA)

    if strategy == "regex":
        # pure-JVM twin of the pandas path: the same alternation evaluated by
        # java.util.regex inside codegen.  regexp_extract_all gives the match
        # texts; split on the same pattern gives the in-between segments, and
        # the start offset of match i is len(seg_0..i) + len(match_0..i-1).
        # No Python workers at all — this is the scale-mode default.
        pattern = ("(?i)" if case_insensitive else "") + _alternation(vocab)
        d = text_spans.select(
            "doc_id",
            "span_idx",
            "offset",
            F.regexp_extract_all("text", F.lit(pattern), 0).alias("ms"),
            F.split("text", pattern, -1).alias("segs"),
        )
        hits = d.select(
            "doc_id",
            "span_idx",
            "offset",
            F.explode(
                # sequence(1, 0) DESCENDS in Spark — zero-match spans must
                # yield an empty array, not out-of-range indices
                F.expr(
                    "if(size(ms) = 0, array(),"
                    " transform(sequence(1, size(ms)), i -> struct("
                    " ms[i-1] as surface,"
                    " aggregate(slice(segs, 1, i), 0, (a, x) -> a + length(x))"
                    " + aggregate(slice(ms, 1, i-1), 0, (a, x) -> a + length(x))"
                    " as start)))"
                )
            ).alias("m"),
        )
        return hits.select(
            "doc_id",
            "span_idx",
            "offset",
            F.col("m.surface").alias("surface"),
            F.col("m.start").cast("int").alias("start"),
        )

    if strategy == "sql":
        vocab_df = local_df(
            text_spans.sparkSession,
            [(s.lower(),) for s in (vocab if vocab is not None else ALL_SURFACES)],
            T.StructType([T.StructField("norm", T.StringType())]),
        )
        toks = text_spans.withColumn("toks", F.split(F.col("text"), " "))
        max_n = max(len(s.split()) for s in (vocab if vocab is not None else ALL_SURFACES))
        grams = [
            F.expr(
                f"transform(sequence(1, greatest(size(toks)-{n - 1}, 0)),"
                f" i -> struct(array_join(slice(toks, i, {n}), ' ') as g, i as tpos))"
            )
            for n in range(1, max_n + 1)
        ]
        cand = toks.select(
            "doc_id",
            "span_idx",
            "offset",
            "toks",
            F.explode(F.flatten(F.array(*grams))).alias("c"),
        ).select(
            "doc_id",
            "span_idx",
            "offset",
            "toks",
            F.lower(F.col("c.g")).alias("norm"),
            F.col("c.g").alias("surface"),
            F.col("c.tpos").alias("tpos"),
        )
        start = F.when(F.col("tpos") == 1, F.lit(0)).otherwise(
            F.length(F.array_join(F.slice(F.col("toks"), 1, F.col("tpos") - 1), " "))
            + 1
        )
        hits = (
            cand.join(F.broadcast(vocab_df), "norm", "inner")
            .select(
                "doc_id",
                "span_idx",
                "offset",
                "surface",
                start.cast("int").alias("start"),
            )
            .withColumn("end", F.col("start") + F.length("surface"))
        )
        # drop hits strictly nested inside a longer hit in the same span
        # (regex greedy-longest equivalence)
        outer = hits.select(
            F.col("doc_id").alias("o_doc"),
            F.col("span_idx").alias("o_span"),
            F.col("start").alias("o_start"),
            F.col("end").alias("o_end"),
        )
        nested = (
            (F.col("doc_id") == F.col("o_doc"))
            & (F.col("span_idx") == F.col("o_span"))
            & (F.col("o_start") <= F.col("start"))
            & (F.col("o_end") >= F.col("end"))
            & ((F.col("o_end") - F.col("o_start")) > (F.col("end") - F.col("start")))
        )
        return (
            hits.join(outer, nested, "left_anti")
            .drop("end")
            .dropDuplicates(["doc_id", "span_idx", "start", "surface"])
        )

    raise ValueError(f"unknown mention strategy {strategy!r}")

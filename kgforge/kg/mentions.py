"""Batched mention detection over text spans.

One Arrow-batched compiled-regex scan inside ``mapInPandas``: the surface
vocabulary is one longest-surface-first alternation, and the matching itself
runs in the C regex engine per batch.  It emits
(doc_id, span_idx, offset, surface, start).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.kg.vocab import ALL_SURFACES

_MENTION_SCHEMA = "doc_id string, span_idx int, offset int, surface string, start int"


def _alternation(vocab: list[str] | None = None) -> str:
    # longest first so 'Vienna Austria' wins over 'Vienna'
    parts = sorted(vocab if vocab is not None else ALL_SURFACES, key=len, reverse=True)
    return "(" + "|".join(re.escape(s) for s in parts) + ")"


def detect_mentions(spans: DataFrame, vocab: list[str] | None = None,
                    case_insensitive: bool = True) -> DataFrame:
    """``vocab`` overrides the entity-catalog surface list;
    ``case_insensitive=False`` drops the IGNORECASE flag (callers that
    pre-lower the text get engine-portable exact matching)."""
    text_spans = spans.filter(F.col("kind") == "text").select(
        "doc_id", "span_idx", "offset", "text"
    )
    pattern = _alternation(vocab)
    flags = re.IGNORECASE if case_insensitive else 0

    def scan(batches):
        import pandas as pd

        rx = re.compile(pattern, flags)
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

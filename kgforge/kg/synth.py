"""Deterministic synthesis of the interleaved text+media document table.

Input shape per BASELINE.json input_hint:

    doc_id  string
    spans   array<struct<kind string, text string, media_ref string, offset int>>

Every span sequence is a pure function of (seed, doc_id) — independent of
partitioning, task order, or parallelism level — which is what makes runs
at different parallelism comparable and lets the pipeline re-derive any
partition for checkpoint resume.  Randomness comes from a counter-based
splitmix64 stream, generated distributively inside mapInPandas (no
driver-side RNG, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.kg.vocab import EID_TO_ENTITY, FILLER_WORDS, WEIGHTED_EIDS

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA, False), False),
    ]
)

_MASK64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & _MASK64
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _MASK64
    return z ^ (z >> 31)


class _Stream:
    """Counter-based deterministic stream keyed by (seed, doc index)."""

    __slots__ = ("state",)

    def __init__(self, seed: int, key: int):
        self.state = _splitmix64((seed << 1) ^ _splitmix64(key))

    def next(self, mod: int | None = None) -> int:
        self.state = _splitmix64(self.state)
        return self.state % mod if mod else self.state


def make_spans(seed: int, idx: int, base_text: str | None = None) -> list[dict]:
    """Span sequence for one document — the single source of truth used by
    both the synthesizer and the testdata deriver.  Entities are drawn from
    WEIGHTED_EIDS, whose hot entities carry 100× weight."""
    st = _Stream(seed, idx)
    n_spans = 1 + st.next(16)
    spans: list[dict] = []
    offset = 0
    for _ in range(n_spans):
        roll = st.next(100)
        if roll < 80:
            n_words = 4 + st.next(10)
            words = [FILLER_WORDS[st.next(len(FILLER_WORDS))] for _ in range(n_words)]
            n_mentions = 1 + st.next(3)
            for _m in range(n_mentions):
                ent = EID_TO_ENTITY[WEIGHTED_EIDS[st.next(len(WEIGHTED_EIDS))]]
                surface = ent.variants[st.next(len(ent.variants))]
                pos = st.next(len(words) + 1)
                words.insert(pos, surface)
            if base_text:
                words.append(base_text[: 40 + st.next(40)])
            text = " ".join(words)
            spans.append({"kind": "text", "text": text, "media_ref": "", "offset": offset})
            offset += len(text) + 1
        else:
            kind = ("image", "audio", "video")[roll % 3]
            ref = f"media://{st.next():016x}"
            spans.append({"kind": kind, "text": "", "media_ref": ref, "offset": offset})
            offset += 1
    return spans


def synth_docs(spark: SparkSession, n_docs: int, seed: int = 42,
               num_partitions: int | None = None) -> DataFrame:
    """Generate the interleaved doc table distributively (one task per range
    slice; each row derived only from its global id).  The hottest entity
    holds ~31% of all mentions."""
    npart = num_partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_docs, 1, npart)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for idx in pdf["id"]:
                rows.append(
                    {
                        "doc_id": f"doc_{idx:012d}",
                        "spans": make_spans(seed, int(idx)),
                    }
                )
            yield pd.DataFrame(rows)

    return base.mapInPandas(gen, schema=DOCS_SCHEMA)


def docs_from_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the span-structured variant deterministically (stream seed 42)
    from the driver's documents.parquet (doc_id, text, ...) — FIXTURES.md
    §1."""
    raw = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        # testdata parquet is a single file → one input partition; spread the
        # per-doc Python synthesis across the cluster before mapInPandas
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for idx, txt in zip(pdf["doc_id"], pdf["text"]):
                rows.append(
                    {
                        "doc_id": f"doc_{int(idx):012d}",
                        "spans": make_spans(42, int(idx), base_text=txt),
                    }
                )
            yield pd.DataFrame(rows)

    return raw.mapInPandas(gen, schema=DOCS_SCHEMA)


def explode_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, span_idx, kind, text, media_ref, offset) — posexplode keeps
    the in-document order that the span-sequence invariant checks."""
    return docs.select(
        "doc_id", F.posexplode("spans").alias("span_idx", "span")
    ).select(
        "doc_id",
        "span_idx",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )

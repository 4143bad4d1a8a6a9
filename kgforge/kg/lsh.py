"""MinHash-LSH blocking — pure JVM implementation.

shingle → minhash → band → bucket-join → verify, one function per step, each
called directly by its users (``kg.pipeline`` canonicalization, the
``datapipe.dedup`` near-duplicate passes): :func:`shingle_df` builds
character 3-gram (or word 3-gram) shingles with ``transform(sequence(...))``,
:func:`signatures_from_shingles` computes K min-hash lanes from per-shingle
64-bit hashes (``xxhash64``) as K aggregate columns (one shuffle),
:func:`pairs_from_signatures` hashes each band with ``hash()`` and self-joins
on (band, band_hash), and :func:`jaccard_filter` keeps the candidates whose
exact 3-gram Jaccard reaches the threshold.  No Python in the path; the
self-join key space is the LSH bucket, so skew is bounded by bucket size,
not corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_P = (1 << 31) - 1  # Mersenne prime for the affine rehash; 31-bit operands
# keep every product below 2^63 (Spark 4 runs ANSI mode: overflow throws)
_LANE_SEED = 7  # seeds the per-lane rehash constants (lane_constants)


def shingle_df(df: DataFrame, key: str, text_col: str,
               mode: str = "char") -> DataFrame:
    """Distinct 3-gram shingles per key.

    ``char`` (default): padded character 3-grams — right for short surface
    strings.  ``word``: space-joined word 3-grams — right for documents,
    where char-grams of templated text are near-identical across rows and
    would flood LSH with candidate pairs."""
    if mode == "word":
        toks = F.split(F.lower(F.col(text_col)), r"\s+")
        d = df.withColumn("_toks", F.filter(toks, lambda t: t != ""))
        return d.select(
            key,
            F.explode(
                F.expr(
                    "if(size(_toks) >= 3,"
                    " transform(sequence(1, size(_toks)-2),"
                    " i -> array_join(slice(_toks, i, 3), ' ')),"
                    " array())"
                )
            ).alias("shingle"),
        ).dropDuplicates([key, "shingle"])
    padded = F.concat(F.lit("^"), F.lower(F.col(text_col)), F.lit("$"))
    d = df.withColumn("_padded", padded)
    return d.select(
        key,
        F.explode_outer(
            F.expr(
                "transform(sequence(1, greatest(length(_padded) - 2, 1)),"
                " i -> substring(_padded, i, 3))"
            )
        ).alias("shingle"),
    ).dropDuplicates([key, "shingle"])


def lane_constants(num_hashes: int) -> list[tuple[int, int]]:
    """The (a, b) affine rehash constants per minhash lane — exposed so an
    external oracle (DuckDB SQL) can reproduce the exact signatures."""
    from kgforge.kg.synth import _splitmix64

    return [
        (
            (_splitmix64(_LANE_SEED * 1000003 + i) % (_P - 1)) + 1,
            _splitmix64(_LANE_SEED * 7777777 + i) % _P,
        )
        for i in range(num_hashes)
    ]


def signatures_from_shingles(
    sh: DataFrame, key: str, num_hashes: int = 24, shingle_hash=None,
) -> DataFrame:
    """(key, _mh0.._mh{K-1}) from an exploded (key, shingle) table — split out
    so callers can persist the shingle table and reuse it for verification."""
    if shingle_hash is None:
        h = F.pmod(F.xxhash64("shingle"), F.lit(_P))  # 31-bit reduced hash
    else:
        h = shingle_hash(F.col("shingle"))
    # project the shingle hash ONCE — referencing the raw expression inside
    # every lane aggregate would re-evaluate the (potentially deep) hash
    # fold num_hashes times per row
    hashed = sh.select(key, h.alias("_h"))
    aggs = [
        F.min((F.col("_h") * F.lit(a) + F.lit(b)) % F.lit(_P)).alias(f"_mh{i}")
        for i, (a, b) in enumerate(lane_constants(num_hashes))
    ]
    return hashed.groupBy(key).agg(*aggs)


def pick_bands(num_hashes: int, threshold: float) -> int:
    """Choose the band count whose S-curve midpoint (1/b)^(1/r) sits just
    below the verify threshold: maximal pruning of sub-threshold pairs while
    keeping recall at the threshold high.  Returns bands (r = H/bands)."""
    best_bands = num_hashes // 2  # r=2 fallback for very low thresholds
    for r in range(2, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        if (1.0 / b) ** (1.0 / r) <= threshold * 0.95:
            best_bands = b
        else:
            break
    return best_bands


def pairs_from_signatures(
    sig: DataFrame, key: str, num_hashes: int, bands: int,
    portable_bands: bool = False,
) -> DataFrame:
    """Candidate pairs (a, b), a < b, from a signature table via band join."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands

    def _band_key(bi):
        lanes = [F.col(f"_mh{bi * rows + r}") for r in range(rows)]
        if portable_bands:
            return F.concat_ws("_", *[l.cast("string") for l in lanes])
        return F.hash(*lanes).cast("string")

    band_structs = [
        F.struct(F.lit(bi).alias("band"), _band_key(bi).alias("bh"))
        for bi in range(bands)
    ]
    banded = sig.select(
        F.col(key), F.explode(F.array(*band_structs)).alias("b")
    ).select(key, F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    left = banded.select(F.col(key).alias("a"), "band", "bh")
    right = banded.select(F.col(key).alias("b"), "band", "bh")
    return (
        left.join(right, ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_filter(
    pairs: DataFrame, df: DataFrame, key: str, text_col: str, threshold: float,
) -> DataFrame:
    """Verify candidates with exact character-3-gram Jaccard — set sizes +
    intersection via joins on the exploded shingle table (stays
    distributed)."""
    sh = shingle_df(df, key, text_col)
    sizes = sh.groupBy(key).count()
    za = sizes.select(F.col(key).alias("a"), F.col("count").alias("na"))
    zb = sizes.select(F.col(key).alias("b"), F.col("count").alias("nb"))
    # size-ratio prune: J <= min/max of the set sizes, so most non-dup pairs
    # never reach the shingle-intersection join
    cand = (
        pairs.join(za, "a").join(zb, "b")
        .filter(F.least("na", "nb") >= F.lit(threshold) * F.greatest("na", "nb"))
    )
    sa = sh.select(F.col(key).alias("a"), F.col("shingle"))
    sb = sh.select(F.col(key).alias("b"), F.col("shingle"))
    inter = (
        cand.select("a", "b", "na", "nb")
        .join(sa, "a").join(sb, ["b", "shingle"]).groupBy("a", "b", "na", "nb")
        .count()
        .withColumnRenamed("count", "inter")
    )
    return (
        inter
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )

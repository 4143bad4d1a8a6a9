"""Scalable global ordering primitives.

A naive ``row_number().over(Window.orderBy(...))`` funnels the whole dataset
through one task — fatal at scale.  These helpers compute exact global ranks
and running sums with range partitioning + per-partition offsets (the
zipWithIndex pattern), entirely JVM-side: repartitionByRange spreads the sort
across all partitions, ``spark_partition_id()`` stamps the range bucket, a
window PARTITIONED BY that bucket (bounded ~n/npart rows — never a global
window) does the per-bucket rank/cumsum in whole-stage codegen, and a
broadcast of one offset row per partition splices the buckets together.
The only driver traffic is one count/sum per partition.  With a single
range bucket (one partition) there are no offsets: ``with_global_rank`` is
then one window and persists nothing.

Cache lifecycle: each helper must persist its range-partitioned frame (the
offset collect and the windowed read must see the SAME partitioning — the
range partitioner samples bounds, so two independent executions could split
differently).  The helpers append every frame they persist to the
``cleanup`` list the caller passes in, and the caller owns it: it unpersists
the list in ``finally`` once its last action over the result has run, or
first materializes a result it returns with ``localCheckpoint(eager=True)``.
There is no module-level state, so concurrent callers never share a cache.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.triples import local_df


def _ranged_with_pid(df: DataFrame, order_cols: list, npart: int,
                     cleanup: list) -> DataFrame:
    """Range-partition by the sort key and stamp the partition id (persisted
    and appended to ``cleanup`` — see the module docstring)."""
    d = (
        df.repartitionByRange(npart, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    cleanup.append(d)
    return d


_OFFSETS_SCHEMA = T.StructType([
    T.StructField("_pid", T.IntegerType()),
    T.StructField("_off", T.LongType()),
])


def _offsets_df(spark, totals: dict) -> DataFrame:
    offsets, acc = [], 0
    for pid in sorted(totals):
        offsets.append((pid, acc))
        acc += totals[pid]
    return local_df(spark, offsets or [(0, 0)], _OFFSETS_SCHEMA)


def with_global_rank(df: DataFrame, order_cols: list, out: str = "_rank",
                     num_partitions: int | None = None, *,
                     cleanup: list) -> DataFrame:
    """Exact 0-based global rank under ``order_cols`` without a global window.

    Equal keys land in one range partition, so add a unique tiebreaker to
    ``order_cols`` for determinism.
    """
    npart = num_partitions or max(df.sparkSession.sparkContext.defaultParallelism, 1)
    if npart == 1:
        # one range bucket: every offset is 0, so one window ranks the frame
        # (no persisted frame, no offset collect)
        w = Window.orderBy(*order_cols)
        return df.withColumn(out, F.row_number().over(w).cast("long") - 1)
    d = _ranged_with_pid(df, order_cols, npart, cleanup)
    counts = {r["_pid"]: r["count"] for r in d.groupBy("_pid").count().collect()}
    off_df = _offsets_df(df.sparkSession, counts)
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    return (
        d.join(F.broadcast(off_df), "_pid")
        .withColumn(out, F.row_number().over(w).cast("long") - 1 + F.col("_off"))
        .drop("_pid", "_off")
    )


def with_global_running_sum(
    df: DataFrame, order_cols: list, value_col: str, out: str = "_runsum",
    num_partitions: int | None = None, *, cleanup: list,
) -> DataFrame:
    """Inclusive global running sum of ``value_col`` under ``order_cols``
    without a single-partition window.

    Rows with equal keys may order arbitrarily among themselves, so the
    result is deterministic only where ``value_col`` is constant across ties
    or ties carry value 0 — exactly the contract the k-anonymity range
    counting needs (queries have weight 0, tied points are interchangeable
    +1s).
    """
    npart = num_partitions or max(df.sparkSession.sparkContext.defaultParallelism, 1)
    d = _ranged_with_pid(df, order_cols, npart, cleanup)
    totals = {
        r["_pid"]: (r["t"] or 0)
        for r in d.groupBy("_pid").agg(F.sum(value_col).alias("t")).collect()
    }
    off_df = _offsets_df(df.sparkSession, totals)
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.join(F.broadcast(off_df), "_pid")
        .withColumn(out, F.sum(value_col).over(w) + F.col("_off"))
        .drop("_pid", "_off")
    )


def with_global_index(df: DataFrame, out: str = "_idx", *,
                      cleanup: list) -> DataFrame:
    """Contiguous 0-based global row index in partition order (zipWithIndex).

    No repartition: the existing partitioning is kept, each partition is
    numbered locally under ``monotonically_increasing_id()`` (which encodes
    the within-partition arrival order), and per-partition counts splice the
    partitions together — the same offset pattern as the rank/runsum helpers
    but with zero shuffle.  The frame is persisted so the offset collect and
    the final read see identical partition contents (appended to ``cleanup``
    like every rank-helper cache).
    """
    d = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_mono", F.monotonically_increasing_id())
        .persist()
    )
    cleanup.append(d)
    counts = {r["_pid"]: r["count"] for r in d.groupBy("_pid").count().collect()}
    off_df = _offsets_df(df.sparkSession, counts)
    w = Window.partitionBy("_pid").orderBy("_mono")
    return (
        d.join(F.broadcast(off_df), "_pid")
        .withColumn(out, F.row_number().over(w).cast("long") - 1 + F.col("_off"))
        .drop("_pid", "_off", "_mono")
    )

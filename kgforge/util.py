"""Small shared helpers for scale-aware operators."""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition narrow inputs so heavy per-row work spreads across cores.

    Local testdata is a single parquet file → one input partition, which
    serializes every downstream map (explode, hashing, Arrow UDFs).  On a
    real cluster the scan already has many splits and this is a no-op — the
    repartition only fires when the plan has fewer partitions than the
    session's parallelism, so it never adds a shuffle at scale.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Plan-lineage truncation: reliable ``checkpoint`` when the session has
    a checkpoint dir configured (cluster-safe — replicated blocks survive
    executor loss), ``localCheckpoint`` otherwise (local mode).  Always
    eager: under AQE a lazy checkpoint still runs every shuffle stage of
    the plan as soon as its RDD is built."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a (local) checkpoint: ``unpersist()`` drops only a
    cache entry, while a checkpoint lives in the persisted RDD its plan
    reads.  A reliable checkpoint's files stay in the checkpoint dir."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)

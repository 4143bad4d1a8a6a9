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

(Earlier versions ran the per-partition pass through Arrow ``mapInPandas``;
the Arrow round-trip dominated the runtime and anti-scaled with cores on
this host — the JVM window is both faster and scaling-clean.)

Cache lifecycle: each helper must persist its range-partitioned frame (the
offset collect and the windowed read must see the SAME partitioning — the
range partitioner samples bounds, so two independent executions could split
differently).  Every persisted frame is registered here; callers that own a
terminal action unpersist through the ``cleanup`` list they pass in, and
long-running sessions (benchmarks, services) can call
:func:`release_rank_caches` between jobs to drop anything still pinned by a
lazily-consumed result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgforge.triples import local_df

# persisted range-partitioned frames not yet released by a caller-owned
# cleanup list; see release_rank_caches().  The registry is THREAD-LOCAL:
# operators that release caches mid-path (microaggregate, snm blocking,
# quantile_normalize, the anonymize engine) run concurrently with other
# queries when a caller drives Spark from a thread pool (the oracle sweep,
# any multi-tenant service) — a global registry let thread B unpersist the
# range-partitioned frame thread A was mid-query on, and a partial
# recompute re-samples range bounds, mixing rows from two partitionings
# (caught as a flaky generalize_orderdate count diff under the sweep).
import threading as _threading

_tls = _threading.local()

# global view of every thread's cache list so a main-thread release can
# drain lists whose owner thread has exited (e.g. ThreadPoolExecutor
# workers in the oracle sweep that register caches but never release) —
# without it those frames are unreachable and stay persisted for the
# session lifetime.  Only DEAD threads' lists are drained cross-thread:
# draining a live thread's list would reintroduce the mid-query
# unpersist race the thread-local registry exists to prevent.
_all_lists: list[tuple[_threading.Thread, list]] = []
_all_lock = _threading.Lock()


def _cache_list() -> list:
    lst = getattr(_tls, "caches", None)
    if lst is None:
        lst = _tls.caches = []
        with _all_lock:
            _all_lists.append((_threading.current_thread(), lst))
    return lst


def _drain(lst: list) -> int:
    n = len(lst)
    while lst:
        try:
            lst.pop().unpersist()
        except Exception:  # noqa: BLE001 - a frame whose SparkContext was
            # stopped (callers that restart sessions between jobs, e.g. the
            # bench's scaling legs) is already gone — releasing it is a
            # no-op, not an error
            pass
    return n


def release_rank_caches() -> int:
    """Unpersist every rank-helper cache registered by this thread, plus
    any registered by threads that have since exited; returns the count.

    Safe to call at any job boundary: a consumer that re-executes a result
    DataFrame afterwards recomputes the range partitioning from scratch,
    which is only a correctness hazard if the consumer mixes rows from two
    executions of the SAME result — a terminal action (collect/write/count)
    never does, PROVIDED no live peer thread unpersists mid-action (hence:
    own list always; other threads' lists only once their thread is dead).
    """
    n = _drain(_cache_list())
    me = _threading.current_thread()
    # detach the dead threads' lists under the lock, unpersist after
    # releasing it: an unpersist is a blocking Spark call, and holding the
    # lock through it stalls every thread registering its first cache
    with _all_lock:
        dead = [(th, lst) for th, lst in _all_lists
                if th is not me and not th.is_alive()]
        for entry in dead:
            _all_lists.remove(entry)
    for _, lst in dead:
        n += _drain(lst)
    return n


def _register(d: DataFrame, cleanup: list | None) -> DataFrame:
    if cleanup is not None:
        cleanup.append(d)
    else:
        _cache_list().append(d)
    return d


def register_cache(d: DataFrame, cleanup: list | None = None) -> DataFrame:
    """Register an externally-persisted frame with the same lifecycle as the
    rank caches (released by the caller's ``cleanup`` list or by
    :func:`release_rank_caches`)."""
    return _register(d, cleanup)


def _ranged_with_pid(df: DataFrame, order_cols: list, npart: int,
                     cleanup: list | None = None) -> DataFrame:
    """Range-partition by the sort key and stamp the partition id (persisted —
    see the module docstring on cache lifecycle)."""
    d = (
        df.repartitionByRange(npart, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    return _register(d, cleanup)


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
                     num_partitions: int | None = None,
                     cleanup: list | None = None) -> DataFrame:
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
    num_partitions: int | None = None, cleanup: list | None = None,
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


def with_global_index(df: DataFrame, out: str = "_idx",
                      cleanup: list | None = None) -> DataFrame:
    """Contiguous 0-based global row index in partition order (zipWithIndex).

    No repartition: the existing partitioning is kept, each partition is
    numbered locally under ``monotonically_increasing_id()`` (which encodes
    the within-partition arrival order), and per-partition counts splice the
    partitions together — the same offset pattern as the rank/runsum helpers
    but with zero shuffle.  The frame is persisted so the offset collect and
    the final read see identical partition contents (registered for cleanup
    like every rank-helper cache).
    """
    d = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_mono", F.monotonically_increasing_id())
        .persist()
    )
    _register(d, cleanup)
    counts = {r["_pid"]: r["count"] for r in d.groupBy("_pid").count().collect()}
    off_df = _offsets_df(df.sparkSession, counts)
    w = Window.partitionBy("_pid").orderBy("_mono")
    return (
        d.join(F.broadcast(off_df), "_pid")
        .withColumn(out, F.row_number().over(w).cast("long") - 1 + F.col("_off"))
        .drop("_pid", "_off", "_mono")
    )

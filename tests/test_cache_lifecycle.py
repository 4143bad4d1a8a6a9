"""Every persisted frame has one owner that releases it.

For each function that persists (directly or through a ``kgforge.rank``
helper), the session's CacheManager holds as many entries after the call and
a ``collect()`` of its result as before: a function that returns a lazy
frame checkpoints it and releases its caches, and a function that takes a
``cleanup`` list hands every frame it persisted to that list, which the case
releases.  The same cases then run at once through a thread pool: each result
equals its serial result and no entry is left behind.

Each case reads an input unique to the case and the run (the ``_tag``
column below): CacheManager keeps one entry per distinct plan, so two calls
that persisted the same plan would share, and release, one entry.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from kgforge import rank
from kgforge.anonymize.ops import AttrSpec, generalize
from kgforge.anonymize.privacy import microaggregate, pseudonymize, rank_swap
from kgforge.api import anonymize_flat_json, anonymize_jsonld_response
from kgforge.datapipe import hypotests
from kgforge.datapipe.blocking import sorted_neighborhood_pairs
from kgforge.datapipe.classify import gini_tree2
from kgforge.datapipe.mix import pack_chunks
from kgforge.datapipe.profile import gini_concentration
from kgforge.datapipe.stats import quantile_normalize
from kgforge.ingest import flat_df_to_triples
from tests.test_anon_snapshot import flat_request, jsonld2_request

SLICES = 4
N = 60


def _frame(spark, tag, rows, schema):
    """``rows`` as a DataFrame whose plan is unique to ``tag``."""
    return spark.createDataFrame(
        [(*r, tag) for r in rows], f"{schema}, _tag string"
    ).drop("_tag")


def _values(spark, tag):
    # (id, v, g): ties in v, three groups
    return _frame(spark, tag, [(i, float((i * 7) % 23), f"g{i % 3}")
                               for i in range(N)], "id long, v double, g string")


def _owned(fn):
    """A case for a helper that takes ``cleanup``: collect, then release."""
    def run(spark, tag):
        caches: list = []
        try:
            return fn(spark, tag, caches).collect()
        finally:
            for d in caches:
                d.unpersist()
    return run


def _returned(fn):
    """A case for a function that owns its caches: collect its result."""
    return lambda spark, tag: fn(spark, tag).collect()


def _gen_input(spark, tag):
    rows = [(f"s{i}", str(float((i * 5) % 17)), float((i * 5) % 17), i) for i in range(N)]
    return _frame(spark, tag, rows, "subj string, obj_value string, _v double, _tie long")


def _cells(spark, tag):
    return _frame(spark, tag, [(float(i), i % 4 + 1) for i in range(N)],
                  "v double, n_v long")


def _two_groups(spark, tag):
    rows = [(float((i * 7) % 19), "a" if i % 2 else "b") for i in range(N)]
    return _frame(spark, tag, rows, "v double, grp string")


def _flat_api(spark, tag):
    seed = sum(map(ord, tag))
    return json.dumps(anonymize_flat_json(spark, flat_request(24, seed)),
                      sort_keys=True)


CASES = {
    "with_global_rank": _owned(lambda s, t, c: rank.with_global_rank(
        _values(s, t), [F.col("v"), F.col("id")], num_partitions=SLICES,
        cleanup=c)),
    "with_global_running_sum": _owned(lambda s, t, c: rank.with_global_running_sum(
        _values(s, t).withColumn("w", F.col("id") % 2), [F.col("v"), F.col("id")],
        "w", num_partitions=SLICES, cleanup=c)),
    "with_global_index": _owned(lambda s, t, c: rank.with_global_index(
        _values(s, t).repartition(3), cleanup=c)),
    "generalize": _owned(lambda s, t, c: generalize(
        _gen_input(s, t), [AttrSpec("x", "double", 4, N)], F.col("_tie"),
        cleanup=c)),
    "with_cumsums": _owned(lambda s, t, c: hypotests._with_cumsums(
        _cells(s, t), "v", ["n_v"], c)),
    "microaggregate": _returned(lambda s, t: microaggregate(
        _values(s, t), "v", 4, "id")),
    "rank_swap": _returned(lambda s, t: rank_swap(_values(s, t), "v", 4, "id")),
    "pseudonymize": _returned(lambda s, t: pseudonymize(_values(s, t), "g")),
    "quantile_normalize": _returned(lambda s, t: quantile_normalize(
        _values(s, t), "g", "v", "id")),
    "sorted_neighborhood_pairs": _returned(lambda s, t: sorted_neighborhood_pairs(
        _values(s, t), "id", "v", 3)),
    "flat_df_to_triples": _returned(lambda s, t: flat_df_to_triples(
        _values(s, t).drop("id").withColumnRenamed("g", "type"), "http://ex.org/")),
    "pack_chunks": _returned(lambda s, t: pack_chunks(
        _values(s, t).withColumn("n", F.col("id") % 9), "id", "n", 20)),
    "gini_concentration": _returned(lambda s, t: gini_concentration(
        _values(s, t), "id", "id")),
    "bh_fdr": _returned(lambda s, t: hypotests.bh_fdr(
        _values(s, t).withColumn("p", F.col("v") / 100), "p", 0.1, None, ["id"])),
    "ks_two_sample": _returned(lambda s, t: hypotests.ks_two_sample(
        _two_groups(s, t), "v", "grp", "a", "b")),
    "mann_whitney_u": _returned(lambda s, t: hypotests.mann_whitney_u(
        _two_groups(s, t), "v", "grp", "a", "b")),
    "spearman_corr": _returned(lambda s, t: hypotests.spearman_corr(
        _values(s, t).withColumn("w", F.col("id") % 7), "v", "w")),
    "gini_tree2": _returned(lambda s, t: gini_tree2(
        _values(s, t).withColumn("lab", (F.col("v") > 10).cast("string")),
        ["g"], "lab")),
    "flat_api_request": _flat_api,
}


def _result(out):
    return out if isinstance(out, str) else sorted(map(tuple, out), key=repr)


@pytest.fixture(scope="module", autouse=True)
def _slices(spark):
    # with one slice the rank helpers rank in one window and persist nothing
    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("needs more than one default slice")


@pytest.mark.parametrize("name", list(CASES))
def test_call_leaves_no_cache_entry(spark, cache_entries, name):
    before = cache_entries()
    CASES[name](spark, f"serial-{name}")
    assert cache_entries() == before


def test_concurrent_calls_leave_no_cache_entry(spark, cache_entries):
    before = cache_entries()
    serial = {n: _result(run(spark, f"pool-{n}")) for n, run in CASES.items()}
    with ThreadPoolExecutor(max_workers=4) as pool:
        futs = {n: pool.submit(run, spark, f"pool-{n}") for n, run in CASES.items()}
        pooled = {n: _result(f.result(timeout=600)) for n, f in futs.items()}
    assert pooled == serial
    assert cache_entries() == before


def _responses(spark, tag):
    """One flat and one JSON-LD response, each from a request unique to
    ``tag``."""
    seed = sum(map(ord, tag))
    return (json.dumps(anonymize_flat_json(spark, flat_request(24, seed)), sort_keys=True),
            json.dumps(anonymize_jsonld_response(spark, jsonld2_request(30, seed)),
                       sort_keys=True))


def test_responses_release_their_checkpoints(spark, cache_entries, persisted_rdds):
    """The API endpoints own the engine's local checkpoints (persisted RDDs
    without a cache entry): after a flat and a JSON-LD response, serially
    and four at a time through a thread pool, the context holds no
    persisted RDD it did not hold before and no new cache entry."""
    before, rdds = cache_entries(), persisted_rdds()
    serial = _responses(spark, "responses-serial")
    assert persisted_rdds() <= rdds
    with ThreadPoolExecutor(max_workers=4) as pool:
        pooled = list(pool.map(lambda t: _responses(spark, t),
                               ["responses-serial"] + [f"responses-{i}" for i in range(3)]))
    assert pooled[0] == serial
    assert persisted_rdds() <= rdds
    assert cache_entries() == before

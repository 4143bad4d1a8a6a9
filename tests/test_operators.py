"""Unit layer the reference lacks (SURVEY.md §5): bucket formula, explicit
floor-bucket assignment (≠ ntile), boundary medians, global rank, and the
randomization scale mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgforge.anonymize.buckets import calculate_number_of_buckets
from kgforge.anonymize.ops import generalize, randomize
from kgforge.rank import with_global_rank


@pytest.mark.parametrize(
    "n,attrs,expected",
    [
        (100, 1, 11),  # fixture 13 (adresse)
        (100, 2, 3),  # fixture 14 (longitude/geburtsdatum)
        (1000, 3, 4),  # flat fixture 12 (latitude/gehalt/start_pv)
        (1000, 2, 9),  # JSON-LD fixture 12 (latitude/start_pv)
        (27, 2, 1),  # fixture 16 Object2
        (15, 2, 1),  # fixture 16 Object1 gehalt
        (1, 1, 1),  # single value
    ],
)
def test_bucket_formula_golden_points(n, attrs, expected):
    assert calculate_number_of_buckets(n, attrs) == expected


def test_floor_bucket_differs_from_ntile(spark):
    """g*i/k with k=10, g=3 → sizes [4,3,3]; ntile(3) would give [4,4,2].
    The reference formula (Generalization.java:50) must win."""
    rows = [(str(i), str(float(i)), "c", False, i) for i in range(10)]
    col_df = spark.createDataFrame(
        rows, schema="subj string, obj_value string, obj_dtype string, obj_is_iri boolean, _tie long"
    )
    out = generalize(col_df, "x", "double", 3, 10, F.col("_tie"))
    got = {
        r["subj"]: int(r["obj_value"].rsplit("_", 1)[-1])
        for r in out.filter(F.col("pred") == "x_generalized").collect()
    }
    expected = {str(i): 3 * i // 10 for i in range(10)}
    assert got == expected  # sizes 4,3,3 — not ntile's 4,4,2


def test_bucket_bounds_medians_and_obfuscation(spark):
    rows = [(str(i), str(float(10 * i)), "c", False, i) for i in range(10)]
    col_df = spark.createDataFrame(
        rows, schema="subj string, obj_value string, obj_dtype string, obj_is_iri boolean, _tie long"
    )
    out = generalize(col_df, "x", "double", 3, 10, F.col("_tie")).collect()
    from kgforge.triples import RDF_MAX, RDF_MIN, RDFS_COMMENT

    by = {}
    for r in out:
        by.setdefault(r["subj"], {})[r["pred"]] = r["obj_value"]
    # NOTE the reference quirk: bound indices use b*k/g arithmetic
    # (Generalization.java:94-103), which does NOT align perfectly with the
    # assignment formula g*i/k — bucket 0 holds rows 0-3 but its upper bound
    # comes from positions (2,3).  Preserved faithfully (flat fixture 12
    # bounds match the goldens).
    # bucket 0: ub = 10//3-1 = 2 → upper = (v[2]+v[3])/2 = 25
    assert RDF_MIN not in by["x_0"] and by["x_0"][RDF_MAX] == "25.0"
    assert RDFS_COMMENT in by["x_0"]
    # bucket 1: lb = 3 → lower = (20+30)/2=25; ub = 5 → upper = (50+60)/2=55
    assert by["x_1"][RDF_MIN] == "25.0" and by["x_1"][RDF_MAX] == "55.0"
    # bucket 2: lb = 6 → lower = 55; upper obfuscated
    assert by["x_2"][RDF_MIN] == "55.0" and RDF_MAX not in by["x_2"]


def test_date_median_truncates_toward_zero(spark):
    # pre-1970 dates: Java (a+b)/2 long division truncates toward zero
    rows = [
        ("a", "1969-12-25", "c", False, 0),  # epoch day -7
        ("b", "1969-12-28", "c", False, 1),  # -4
        ("c", "1970-01-03", "c", False, 2),  # 2
        ("d", "1970-01-07", "c", False, 3),  # 6
    ]
    col_df = spark.createDataFrame(
        rows, schema="subj string, obj_value string, obj_dtype string, obj_is_iri boolean, _tie long"
    )
    out = generalize(col_df, "d", "date", 2, 4, F.col("_tie")).collect()
    from kgforge.triples import RDF_MIN

    mins = {r["subj"]: r["obj_value"] for r in out if r["pred"] == RDF_MIN}
    # boundary = (-4 + 2)/2 = -1 → 1969-12-31 (floor div would give -1 too);
    # adversarial case: (-7 + 2) = -5 → Java /2 = -2 vs Python //2 = -3
    from kgforge.anonymize.values import median_value

    assert median_value("date", -7, 2) == -2.0  # truncation toward zero
    assert mins["d_1"] == "1969-12-31"


def test_global_rank_matches_window(spark):
    import random

    rnd = random.Random(7)
    rows = [(i, rnd.random()) for i in range(500)]
    df = spark.createDataFrame(rows, schema="id long, v double")
    ranked = {
        r["id"]: r["_rank"]
        for r in with_global_rank(df, [F.col("v"), F.col("id")]).collect()
    }
    expect = {
        i: pos for pos, (i, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    assert ranked == expect


def test_randomize_partitioned_mode_runs(spark):
    rows = [(str(i), str(float(i)), "c", False, i) for i in range(100)]
    col_df = spark.createDataFrame(
        rows, schema="subj string, obj_value string, obj_dtype string, obj_is_iri boolean, _tie long"
    )
    out = randomize(col_df, "x", "double", 3, 100, seed=1234,
                    order_col=F.col("_tie"), mode="partitioned")
    vals = {r["subj"]: float(r["obj_value"]) for r in out.collect()}
    assert len(vals) == 100
    assert all(0.0 <= v <= 99.0 for v in vals.values())  # clamped to [min,max]
    # deterministic given fixed partitioning inputs
    out2 = randomize(col_df, "x", "double", 3, 100, seed=1234,
                     order_col=F.col("_tie"), mode="partitioned")
    vals2 = {r["subj"]: float(r["obj_value"]) for r in out2.collect()}
    assert vals == vals2


def test_randomize_exact_stays_in_range_and_seeded(spark):
    rows = [(str(i), str(float(i * 3 % 50)), "c", False, i) for i in range(50)]
    col_df = spark.createDataFrame(
        rows, schema="subj string, obj_value string, obj_dtype string, obj_is_iri boolean, _tie long"
    )
    a = {r["subj"]: r["obj_value"] for r in
         randomize(col_df, "x", "double", 2, 50, 99, F.col("_tie")).collect()}
    b = {r["subj"]: r["obj_value"] for r in
         randomize(col_df, "x", "double", 2, 50, 99, F.col("_tie")).collect()}
    assert a == b  # same seed → identical
    c = {r["subj"]: r["obj_value"] for r in
         randomize(col_df, "x", "double", 2, 50, 100, F.col("_tie")).collect()}
    assert a != c  # different seed → different


def test_global_running_sum_matches_python_reference(spark):
    """The JVM-window running sum under multiple partition counts must
    equal the sequential python prefix sum — three seeds, duplicate keys
    included (the weight-0 tie contract makes tied queries order-free)."""
    import random

    from kgforge.rank import with_global_running_sum

    for seed in (1, 2, 3):
        rnd = random.Random(seed)
        # duplicate-heavy keys; weights 1 on "points", 0 on "queries"
        rows = [
            (i, rnd.randrange(50), rnd.choice([0, 1]))
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, schema="id long, k long, w long")
        for nparts in (1, 3, 16):
            got = {
                r["id"]: r["_rs"]
                for r in with_global_running_sum(
                    df, [F.col("k"), F.col("id")], "w", out="_rs",
                    num_partitions=nparts,
                ).collect()
            }
            acc, expect = 0, {}
            for i, k, w in sorted(rows, key=lambda t: (t[1], t[0])):
                acc += w
                expect[i] = acc
            assert got == expect, (seed, nparts)


def test_with_global_index_contiguous_and_cleanup(spark):
    from kgforge import rank

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(257)], schema="id long, s string"
    ).repartition(7)
    cleanup = []
    got = rank.with_global_index(df, out="_idx", cleanup=cleanup).collect()
    idxs = sorted(r["_idx"] for r in got)
    assert idxs == list(range(257))  # contiguous 0..n-1, no gaps/dupes
    # one row per input id (the index is a bijection over the input)
    assert len({r["id"] for r in got}) == 257
    assert len(cleanup) == 1
    for d in cleanup:
        d.unpersist()


def test_release_rank_caches_drops_registered_frames(spark):
    from kgforge import rank

    df = spark.createDataFrame([(i,) for i in range(10)], schema="id long")
    rank.with_global_rank(df, [F.col("id")]).collect()
    assert rank.release_rank_caches() >= 1
    assert rank.release_rank_caches() == 0


def test_release_rank_caches_drains_dead_threads(spark):
    """Caches registered by a worker thread that exits without releasing
    (ThreadPoolExecutor sweeps) must be reachable from a later main-thread
    release — but never while the worker is still alive (that would
    reintroduce the cross-thread mid-query unpersist race)."""
    import threading
    import time

    from kgforge import rank

    df = spark.createDataFrame([(i,) for i in range(10)], schema="id long")
    rank.release_rank_caches()  # drain any leftovers from earlier tests
    gate = threading.Event()

    def worker():
        rank.with_global_rank(df, [F.col("id")]).collect()
        gate.wait(timeout=30)

    t = threading.Thread(target=worker)
    t.start()
    deadline = time.monotonic() + 30
    while not any(
        th is t for th, _ in rank._all_lists
    ) and t.is_alive():  # wait for the worker to register its list
        assert time.monotonic() < deadline, "worker never registered a cache"
        time.sleep(0.01)
    # worker alive: its caches are NOT drained by a main-thread release
    assert rank.release_rank_caches() == 0
    gate.set()
    t.join(timeout=60)
    assert not t.is_alive()
    # worker dead: the orphaned cache is drained exactly once
    assert rank.release_rank_caches() >= 1
    assert rank.release_rank_caches() == 0


def test_flat_df_to_triples_matches_driver_ingest(spark):
    """Distributed flat ingest (COVERAGE.md S2 scale path) must emit the
    same triple multiset as the driver-side row ingest, counters being a
    permutation of 0..n-1 over the same payloads."""
    from kgforge.ingest import flat_df_to_triples, flat_rows_to_triples

    rows = [
        {"type": "person", "name": f"n{i}", "age": i, "city": None if i % 3 else "x"}
        for i in range(40)
    ]
    pfx = "http://t/"
    df = spark.createDataFrame(
        [(r["type"], r["name"], r["age"], r["city"]) for r in rows],
        schema="type string, name string, age long, city string",
    ).repartition(5)
    got = flat_df_to_triples(df, pfx)
    want = flat_rows_to_triples(spark, rows, pfx)

    def norm(t_df):
        # group each subject's non-counter triples into a canonical payload
        rows_ = t_df.collect()
        by_subj: dict = {}
        for r in rows_:
            by_subj.setdefault(r["subj"], set())
            if r["pred"] != pfx + "counter":
                by_subj[r["subj"]].add(
                    (r["pred"], r["obj_value"], r["obj_dtype"], r["obj_is_iri"])
                )
        return sorted(tuple(sorted(v)) for v in by_subj.values()), sorted(
            int(r["obj_value"]) for r in rows_ if r["pred"] == pfx + "counter"
        )

    g_payloads, g_counters = norm(got)
    w_payloads, w_counters = norm(want)
    assert g_payloads == w_payloads
    assert g_counters == w_counters == list(range(40))

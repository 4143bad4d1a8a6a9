"""A6 k-anonymity: one stratum counter (``kpi._stratum_k``), run on the
driver up to ``kpi.PAIR_THRESHOLD`` subjects and in one Spark task per
stratum above it, must give the k of a plain-python KpiService mirror, also
on the skew case that kills a pair join (one generalization group = whole
table).

The subject count picks where the strata are counted, so these tests reach
the Spark path by moving ``kpi.PAIR_THRESHOLD`` (:func:`_k_via`).  The
counter itself is property-tested without Spark against an O(m²) mirror.
The numpy-mirror scale sweeps are ``slow``; small driver-vs-Spark
equivalence tests for one and two attributes and the cache-release checks
run in the default lane.
"""

from __future__ import annotations

import math
import random
import time

import numpy as np
import pytest

from kgforge.anonymize import kpi
from kgforge.anonymize.kpi import PAIR_THRESHOLD, k_anonymity
from kgforge.config import AttrConfig
from kgforge.triples import RDF_TYPE

T = "http://ex.org/Person"
A0 = "http://ex.org/salary"
A1 = "http://ex.org/age"
A2 = "http://ex.org/height"
AT = "http://ex.org/seen"
GEN = "http://ex.org/grp"


def _mk_triples(spark, n, *, n_groups, rand_attrs, null_frac=0.1, seed=7):
    rng = random.Random(seed)
    rows = []
    data = {}
    for i in range(n):
        s = f"http://ex.org/r{i:06d}"
        rows.append((s, RDF_TYPE, T, "iri", True))
        if n_groups > 1:
            grp = f"g{rng.randrange(n_groups)}"
            rows.append((s, GEN + "_generalized", grp, "iri", True))
        else:
            grp = None
        rec = {"grp": grp}
        for attr in rand_attrs:
            if rng.random() < null_frac:
                rec[attr] = (None, None)
            else:
                o = round(rng.uniform(0, 1000), 3)
                r = round(o + rng.uniform(-50, 50), 3)
                rows.append((s, attr, repr(o), "xsd:double", False))
                rows.append((s, attr + "_randomized", repr(r), "xsd:double", False))
                rec[attr] = (o, r)
        data[s] = rec
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_dtype string, obj_is_iri boolean"
    )
    return df, data


def _expected_k(data, rand_attrs):
    """Plain-python mirror of KpiService.calculateKAnonymity."""
    subs = list(data)
    benches = {}
    for attr in rand_attrs:
        ds = [
            abs(rec[attr][0] - rec[attr][1])
            for rec in data.values()
            if rec[attr][0] is not None
        ]
        benches[attr] = (2.0 * sum(ds) / len(ds)) if ds else None
    k = None
    for s in subs:
        cnt = 0
        for s2 in subs:
            if data[s]["grp"] != data[s2]["grp"]:
                continue
            ok = True
            for attr in rand_attrs:
                o1, r1 = data[s][attr]
                o2, _ = data[s2][attr]
                if o1 is None and o2 is None:
                    continue
                b = benches[attr]
                if o1 is None or o2 is None or b is None:
                    ok = False
                    break
                if not (r1 - b <= o2 <= r1 + b):
                    ok = False
                    break
            if ok:
                cnt += 1
        k = cnt if k is None else min(k, cnt)
    return k or 0


def _k_via(monkeypatch, path, triples, used):
    """(k, path that ran) with the size switch moved so that ``path`` is the
    one the input picks: ``driver`` up to any subject count, ``spark`` for
    any non-empty input."""
    threshold = 1 << 30 if path == "driver" else 0
    monkeypatch.setattr(kpi, "PAIR_THRESHOLD", threshold)
    return k_anonymity(triples, T, used, CFG)


CFG = {
    GEN: AttrConfig("double", "generalization"),
    A0: AttrConfig("double", "randomization"),
    A1: AttrConfig("double", "randomization"),
    A2: AttrConfig("double", "randomization"),
    AT: AttrConfig("dateTime", "randomization"),
}


def test_ranges_equals_pairs_single_attr(spark, monkeypatch):
    """One randomized attribute: the driver and the Spark path agree with
    the mirror."""
    triples, data = _mk_triples(spark, 400, n_groups=5, rand_attrs=[A0])
    used = [GEN, A0]
    k_driver, ran_driver = _k_via(monkeypatch, "driver", triples, used)
    k_spark, ran = _k_via(monkeypatch, "spark", triples, used)
    assert (ran_driver, ran) == ("driver", "spark")
    assert k_driver == k_spark == _expected_k(data, [A0])


@pytest.mark.slow
def test_spark_path_survives_single_giant_group(spark, monkeypatch):
    """The skew case: no generalization attr → every resource lands in ONE
    null group.  The pair join would build n² rows; the Spark path counts
    the group in one task in O(n log n) and must agree with a numpy
    oracle."""
    n = 30_000
    rng = np.random.default_rng(11)
    o = np.round(rng.uniform(0, 1000, n), 3)
    r = np.round(o + rng.uniform(-50, 50, n), 3)
    rows = []
    for i in range(n):
        s = f"http://ex.org/r{i:06d}"
        rows.append((s, RDF_TYPE, T, "iri", True))
        rows.append((s, A0, repr(float(o[i])), "xsd:double", False))
        rows.append((s, A0 + "_randomized", repr(float(r[i])), "xsd:double", False))
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_dtype string, obj_is_iri boolean"
    )
    k, ran = _k_via(monkeypatch, "spark", triples, [A0])
    assert ran == "spark"
    bench = 2.0 * np.abs(o - r).mean()
    so = np.sort(o)
    lo = np.searchsorted(so, r - bench, side="left")
    hi = np.searchsorted(so, r + bench, side="right")
    assert k == int((hi - lo).min())


def _triples_from(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_dtype string, obj_is_iri boolean"
    )


def _typed_only(spark, n, extra=()):
    rows = [(f"http://ex.org/r{i:02d}", RDF_TYPE, T, "iri", True) for i in range(n)]
    return _triples_from(spark, rows + list(extra))


@pytest.mark.slow
def test_nulls_and_empty_bench(spark, monkeypatch):
    # all originals null → bench None → only null-pairs count
    triples = _typed_only(spark, 20)
    for m, used in (("driver", [A0]), ("spark", [A0]),
                    ("driver", [A0, A1]), ("spark", [A0, A1])):
        k, ran = _k_via(monkeypatch, m, triples, used)
        assert (k, ran) == (20, m)
    # originals present but no _randomized triple → bench None and the
    # non-null stratum matches nothing
    extra = []
    for i in range(20):
        s = f"http://ex.org/r{i:02d}"
        extra += [(s, A0, repr(float(i)), "xsd:double", False),
                  (s, A0 + "_randomized", repr(i + 0.5), "xsd:double", False),
                  (s, A1, repr(float(2 * i)), "xsd:double", False)]
    triples = _typed_only(spark, 20, extra)
    for m, used in (("driver", [A1]), ("spark", [A1]),
                    ("driver", [A0, A1]), ("spark", [A0, A1])):
        k, ran = _k_via(monkeypatch, m, triples, used)
        assert (k, ran) == (0, m)


def test_k_anonymity_releases_its_caches(spark, monkeypatch, cache_entries,
                                         persisted_rdds):
    triples, _ = _mk_triples(spark, 60, n_groups=3, rand_attrs=[A0, A1])
    for used in ([GEN], [GEN, A0], [GEN, A0, A1]):
        before = cache_entries()
        _, got = _k_via(monkeypatch, "spark", triples, used)
        assert got == "spark"
        assert cache_entries() == before, used
    # the driver path persists nothing, not even for the length of the call
    monkeypatch.setattr(kpi, "PAIR_THRESHOLD", 1 << 30)
    for used in ([GEN], [GEN, A0], [GEN, A0, A1]):
        before, rdds = cache_entries(), persisted_rdds()
        k_anonymity(triples, T, used, CFG)
        assert cache_entries() == before, used
        assert persisted_rdds() <= rdds, used


def test_k_anonymity_releases_its_caches_on_failure(spark, monkeypatch,
                                                    cache_entries):
    """A stratum count that fails inside its Spark task, after the
    benchmark action filled the persisted KPI frame, must still release
    it."""
    triples, _ = _mk_triples(spark, 60, n_groups=3, rand_attrs=[A0, A1])

    def failing_stratum_k(*args):
        raise RuntimeError("injected")

    # the per-stratum function is pickled with this replacement, so the
    # failure happens in the task
    monkeypatch.setattr(kpi, "_stratum_k", failing_stratum_k)
    for used in ([GEN], [GEN, A0], [GEN, A0, A1]):
        before = cache_entries()
        with pytest.raises(Exception, match="injected"):
            _k_via(monkeypatch, "spark", triples, used)
        assert cache_entries() == before, used


def _subject(i, grp=None, a0=(None, None)):
    """Triples of one typed subject with ``a0`` = (original, randomized) of
    A0 (None leaves that triple out)."""
    s = f"http://ex.org/r{i:03d}"
    rows = [(s, RDF_TYPE, T, "iri", True)]
    if grp is not None:
        rows.append((s, GEN + "_generalized", grp, "iri", True))
    o, r = a0
    if o is not None:
        rows.append((s, A0, repr(o), "xsd:double", False))
    if r is not None:
        rows.append((s, A0 + "_randomized", repr(r), "xsd:double", False))
    return rows


def _one_action(monkeypatch, frame):
    """Count ``collect`` calls on ``frame``'s DataFrame class; fail on
    anything that persists or runs another kind of action."""
    DataFrame = type(frame)
    calls = []
    real = DataFrame.collect

    def collect(self):
        calls.append(1)
        return real(self)

    def forbidden(self, *args, **kwargs):
        raise AssertionError("the driver path persists or counts")

    monkeypatch.setattr(DataFrame, "collect", collect)
    for name in ("persist", "cache", "localCheckpoint", "checkpoint", "count",
                 "toPandas"):
        monkeypatch.setattr(DataFrame, name, forbidden)
    return calls


def test_driver_count_equals_mirror(spark, monkeypatch):
    """Request-sized inputs: one collect, nothing persisted, k equal to the
    plain-python mirror with nulls (a fifth of the values) and groups."""
    triples, data = _mk_triples(spark, 120, n_groups=4, rand_attrs=[A0, A1],
                                null_frac=0.2, seed=3)
    calls = _one_action(monkeypatch, triples)
    for attrs in ([A0], [A0, A1]):
        k, ran = k_anonymity(triples, T, [GEN, *attrs], CFG)
        assert (k, ran) == (_expected_k(data, attrs), "driver")
    k, ran = k_anonymity(triples, T, [GEN], CFG)
    sizes = {}
    for rec in data.values():
        sizes[rec["grp"]] = sizes.get(rec["grp"], 0) + 1
    assert (k, ran) == (min(sizes.values()), "driver")
    assert len(calls) == 3


def test_driver_count_includes_the_boundary(spark):
    """|o − r| equal to the benchmark matches: the benchmark is
    2·(1 + 0 + 0 + 0)/4 = 0.5, subject 0 (r = 1.0) matches only subject 1
    (o = 0.5, distance exactly 0.5), so k is 1 — 0 if the bound were
    exclusive.  Every value is dyadic, so the mirror is exact too."""
    values = [(0.0, 1.0), (0.5, 0.5), (3.0, 3.0), (3.0, 3.0)]
    rows = [r for i, v in enumerate(values) for r in _subject(i, a0=v)]
    data = {i: {"grp": None, A0: v} for i, v in enumerate(values)}
    assert _expected_k(data, [A0]) == 1
    assert k_anonymity(_triples_from(spark, rows), T, [A0], CFG) == (1, "driver")


def test_driver_count_nulls_and_empty_benchmark(spark):
    # all originals null: no benchmark, and every subject matches the
    # others of its group through the null pair
    rows = [r for i in range(6) for r in _subject(i, f"g{i % 2}")]
    assert k_anonymity(_triples_from(spark, rows), T, [GEN, A0], CFG) == (3, "driver")
    # originals present but no randomized value anywhere: the benchmark is
    # empty, so a subject with an original matches nothing
    rows = [r for i in range(6) for r in _subject(i, "g", a0=(float(i), None))]
    assert k_anonymity(_triples_from(spark, rows), T, [GEN, A0], CFG) == (0, "driver")
    # one subject lacks only its randomized value: |o − null| is null, so it
    # matches nothing while the others still count each other
    rows = [r for i in range(5) for r in _subject(i, "g", a0=(1.0, 1.0))]
    rows += _subject(5, "g", a0=(1.0, None))
    assert k_anonymity(_triples_from(spark, rows), T, [GEN, A0], CFG) == (0, "driver")
    # a NaN original makes the benchmark NaN, which Spark orders above every
    # distance: all non-null originals match each other, but a null
    # randomized value still matches nothing
    rows = [r for i in range(3) for r in _subject(i, a0=(float(i), 5.0))]
    rows += [("http://ex.org/r003", RDF_TYPE, T, "iri", True),
             ("http://ex.org/r003", A0, "NaN", "xsd:double", False),
             ("http://ex.org/r003", A0 + "_randomized", "1.0", "xsd:double", False)]
    assert k_anonymity(_triples_from(spark, rows), T, [A0], CFG) == (4, "driver")
    rows += _subject(4, a0=(1.0, None))
    assert k_anonymity(_triples_from(spark, rows), T, [A0], CFG) == (0, "driver")
    # a randomized value that does not parse leaves its subject no match
    rows = _subject(0, a0=(0.0, 2.0)) + _subject(1, a0=(1.5, 1.5))
    rows += [("http://ex.org/r002", RDF_TYPE, T, "iri", True),
             ("http://ex.org/r002", A0, "9.0", "xsd:double", False),
             ("http://ex.org/r002", A0 + "_randomized", "abc", "xsd:double", False)]
    assert k_anonymity(_triples_from(spark, rows), T, [A0], CFG) == (0, "driver")
    # an original that does not parse is null for matching but present for
    # the benchmark's denominator: 2·(2 + 0)/4 = 1.0 (2.0 if only parsed
    # pairs counted, which would give k = 2), so subjects 0 (r = 2.0) and 1
    # (r = 1.5) each reach only o = 1.5, and the two unparsed subjects
    # match each other
    rows = _subject(0, a0=(0.0, 2.0)) + _subject(1, a0=(1.5, 1.5))
    for s in ("http://ex.org/r002", "http://ex.org/r003"):
        rows += [(s, RDF_TYPE, T, "iri", True),
                 (s, A0, "xyz", "xsd:double", False),
                 (s, A0 + "_randomized", "5.0", "xsd:double", False)]
    assert k_anonymity(_triples_from(spark, rows), T, [A0], CFG) == (1, "driver")


def test_driver_count_ignores_rows_that_occur_twice(spark):
    triples, data = _mk_triples(spark, 80, n_groups=3, rand_attrs=[A0, A1], seed=5)
    k = _expected_k(data, [A0, A1])
    assert k_anonymity(triples.union(triples), T, [GEN, A0, A1], CFG) == (k, "driver")


@pytest.mark.parametrize("used, k", [([], 1), ([GEN], 0), ([GEN, A0], 0),
                                     ([A0, A1], 0)])
def test_no_subject(spark, used, k):
    """No subject of the type: 0 with attributes, 1 without (the
    reference's GROUP_CONCAT quirk), and no path runs."""
    triples = _typed_only(spark, 0, [("http://ex.org/x", A0, "1.0", "xsd:double", False)])
    assert k_anonymity(triples, T, used, CFG) == (k, "driver")


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_no_used_attribute_counts_every_subject(spark, monkeypatch, path):
    """No configured predicate occurs: one stratum of every subject, whose
    members all match, on both paths."""
    triples = _typed_only(spark, 30, [("http://ex.org/x", A0, "1.0", "xsd:double", False)])
    assert _k_via(monkeypatch, path, triples, []) == (30, path)


@pytest.mark.parametrize("n_attrs", [1, pytest.param(2, marks=pytest.mark.slow)])
def test_driver_count_single_giant_group(n_attrs):
    """One 50,000-subject group (PAIR_THRESHOLD subjects), counted on the
    driver within 60 s and 64 MB of traced allocations — an m×m match
    matrix alone would take 2.5 GB.  Integer values keep the numpy window
    oracle exact."""
    import tracemalloc

    n = 50_000
    assert n == PAIR_THRESHOLD
    rng = np.random.default_rng(23)
    o = [rng.integers(0, 1000, n).astype(float) for _ in range(n_attrs)]
    r = [oj + rng.integers(-50, 51, n) for oj in o]
    rows = [(f"s{i}", *[v for j in range(n_attrs)
                        for v in (float(o[j][i]), float(r[j][i]), True, True)])
            for i in range(n)]
    tracemalloc.start()
    t0 = time.perf_counter()
    try:
        k = kpi._k_local(rows, 0, n_attrs)
        elapsed = time.perf_counter() - t0
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    b = [2.0 * np.abs(o[j] - r[j]).sum() / n for j in range(n_attrs)]
    order = np.argsort(o[0], kind="stable")
    so = [oj[order] for oj in o]
    lo = np.searchsorted(so[0], r[0] - b[0], side="left")
    hi = np.searchsorted(so[0], r[0] + b[0], side="right")
    if n_attrs == 1:
        expected = int((hi - lo).min())
    else:
        expected = min(
            int(((so[1][lo[i]:hi[i]] >= r[1][i] - b[1])
                 & (so[1][lo[i]:hi[i]] <= r[1][i] + b[1])).sum())
            for i in range(n)
        )
    assert k == expected
    assert elapsed < 60, elapsed
    assert peak < 64 << 20, peak


@pytest.mark.parametrize("n, null_frac", [
    (300, 0.2),
    pytest.param(350, 0.15, marks=pytest.mark.slow),
])
def test_sliced_equals_pairs_two_attrs(spark, monkeypatch, n, null_frac):
    """Two randomized attributes: the driver and the Spark path agree with
    the mirror."""
    triples, data = _mk_triples(spark, n, n_groups=4, rand_attrs=[A0, A1],
                                null_frac=null_frac)
    used = [GEN, A0, A1]
    k_driver, ran_driver = _k_via(monkeypatch, "driver", triples, used)
    k_spark, ran = _k_via(monkeypatch, "spark", triples, used)
    assert (ran_driver, ran) == ("driver", "spark")
    assert k_driver == k_spark == _expected_k(data, [A0, A1])


@pytest.mark.slow
def test_spark_equals_driver_three_attrs(spark, monkeypatch):
    triples, data = _mk_triples(spark, 250, n_groups=3,
                                rand_attrs=[A0, A1, A2], null_frac=0.15)
    used = [GEN, A0, A1, A2]
    k_driver, ran_driver = _k_via(monkeypatch, "driver", triples, used)
    k_spark, ran = _k_via(monkeypatch, "spark", triples, used)
    assert (ran_driver, ran) == ("driver", "spark")
    assert k_driver == k_spark == _expected_k(data, [A0, A1, A2])


@pytest.mark.slow
def test_spark_path_survives_single_giant_group_three_attrs(spark, monkeypatch):
    """The ≥3-attr skew case: one group, 20k rows — a pair join would build
    4·10⁸ rows; the Spark path (one task, attr-0 runs + blockwise
    verification) must finish and match a numpy oracle."""
    n = 20_000
    rng = np.random.default_rng(17)
    o = [
        np.round(rng.uniform(0, 1000, n), 3),
        np.round(rng.uniform(-500, 500, n), 3),
        np.round(rng.uniform(100, 300, n), 3),
    ]
    r = [
        np.round(o[0] + rng.uniform(-40, 40, n), 3),
        np.round(o[1] + rng.uniform(-25, 25, n), 3),
        np.round(o[2] + rng.uniform(-10, 10, n), 3),
    ]
    attrs = [A0, A1, A2]
    rows = []
    for i in range(n):
        s = f"http://ex.org/r{i:06d}"
        rows.append((s, RDF_TYPE, T, "iri", True))
        for j, attr in enumerate(attrs):
            rows.append((s, attr, repr(float(o[j][i])), "xsd:double", False))
            rows.append(
                (s, attr + "_randomized", repr(float(r[j][i])), "xsd:double", False)
            )
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_dtype string, obj_is_iri boolean"
    )
    k, ran = _k_via(monkeypatch, "spark", triples, attrs)
    assert ran == "spark"
    b = [2.0 * np.abs(o[j] - r[j]).mean() for j in range(3)]
    order = np.argsort(o[0], kind="stable")
    so = [o[j][order] for j in range(3)]
    kmin = None
    for i in range(n):
        lo = np.searchsorted(so[0], r[0][i] - b[0], side="left")
        hi = np.searchsorted(so[0], r[0][i] + b[0], side="right")
        ok = np.ones(hi - lo, dtype=bool)
        for j in (1, 2):
            seg = so[j][lo:hi]
            ok &= (seg >= r[j][i] - b[j]) & (seg <= r[j][i] + b[j])
        c = int(ok.sum())
        kmin = c if kmin is None else min(kmin, c)
    assert k == kmin


@pytest.mark.slow
def test_spark_path_survives_single_giant_group_two_attrs(spark, monkeypatch):
    """The 2-attr skew case: one group, 20k rows — a pair join would build
    4·10⁸ pairs; the Spark path must finish and match a numpy
    rectangle-count oracle."""
    n = 20_000
    rng = np.random.default_rng(13)
    o0 = np.round(rng.uniform(0, 1000, n), 3)
    r0 = np.round(o0 + rng.uniform(-40, 40, n), 3)
    o1 = np.round(rng.uniform(-500, 500, n), 3)
    r1 = np.round(o1 + rng.uniform(-25, 25, n), 3)
    rows = []
    for i in range(n):
        s = f"http://ex.org/r{i:06d}"
        rows.append((s, RDF_TYPE, T, "iri", True))
        rows.append((s, A0, repr(float(o0[i])), "xsd:double", False))
        rows.append((s, A0 + "_randomized", repr(float(r0[i])), "xsd:double", False))
        rows.append((s, A1, repr(float(o1[i])), "xsd:double", False))
        rows.append((s, A1 + "_randomized", repr(float(r1[i])), "xsd:double", False))
    triples = spark.createDataFrame(
        rows, "subj string, pred string, obj_value string, obj_dtype string, obj_is_iri boolean"
    )
    k, ran = _k_via(monkeypatch, "spark", triples, [A0, A1])
    assert ran == "spark"
    b0 = 2.0 * np.abs(o0 - r0).mean()
    b1 = 2.0 * np.abs(o1 - r1).mean()
    # numpy oracle: sort by o0, window via searchsorted, verify o1
    order = np.argsort(o0, kind="stable")
    so0, so1 = o0[order], o1[order]
    kmin = None
    for i in range(n):
        lo = np.searchsorted(so0, r0[i] - b0, side="left")
        hi = np.searchsorted(so0, r0[i] + b0, side="right")
        seg = so1[lo:hi]
        c = int(((seg >= r1[i] - b1) & (seg <= r1[i] + b1)).sum())
        kmin = c if kmin is None else min(kmin, c)
    assert k == kmin


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_float_tie_counts_alike_on_both_paths(spark, monkeypatch, path):
    """The benchmark is 2·(1.5 + 28.8)/2 = 30.3 and |1.8 − 32.1| rounds to
    30.3 too, so subject 0 (r = 32.1) matches both originals and k is 2.
    ``32.1 − 30.3 <= 1.8`` rounds the other way (1.8000000000000007), so a
    counter that tests the window bounds instead of the distance reads 1."""
    rows = _subject(0, a0=(30.6, 32.1)) + _subject(1, a0=(1.8, 30.6))
    assert _k_via(monkeypatch, path, _triples_from(spark, rows), [A0]) == (2, path)


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_datetime_distances_keep_the_time_of_day(spark, monkeypatch, path):
    """A randomized dateTime is compared in seconds: six subjects seen
    within one day, in three pairs hours apart, each randomized by minutes,
    have k = 2, as the brute-force mirror in seconds counts it.  A parser
    that drops the time of day puts every value at midnight, where every
    subject matches all six."""
    import datetime as dt

    day = dt.datetime(2020, 5, 1, tzinfo=dt.timezone.utc)
    originals = [0, 600, 20000, 20500, 50000, 50900]
    shifts = [300, -200, 250, -300, 400, -500]
    rows, data = [], {}
    for i, (o, d) in enumerate(zip(originals, shifts)):
        s = f"http://ex.org/r{i:03d}"
        rows.append((s, RDF_TYPE, T, "iri", True))
        for pred, sec in ((AT, o), (AT + "_randomized", o + d)):
            lex = (day + dt.timedelta(seconds=sec)).strftime("%Y-%m-%dT%H:%M:%SZ")
            rows.append((s, pred, lex, "xsd:dateTime", False))
        data[s] = {"grp": None, AT: (day.timestamp() + o, day.timestamp() + o + d)}
    assert _expected_k(data, [AT]) == 2
    assert _k_via(monkeypatch, path, _triples_from(spark, rows), [AT]) == (2, path)


def _spark_le(x, b):
    """Spark's ``x <= b`` on doubles: NaN is above every other value."""
    if math.isnan(b):
        return True
    return not math.isnan(x) and x <= b


def _stratum_mirror(null_orig, m, orig, rand, rand_null, benches):
    """O(m²) mirror of ``kpi._stratum_k``: per subject a, the subjects b with
    ``abs(o_b − r_a) <= benchmark`` on every attribute whose originals are
    not null, an empty benchmark or a null ``r_a`` matching nothing."""
    best = m
    for a in range(m):
        cnt = 0
        for b in range(m):
            cnt += all(
                null or (benches[j] is not None and not rand_null[j][a]
                         and _spark_le(abs(float(orig[j][b]) - float(rand[j][a])),
                                   benches[j]))
                for j, null in enumerate(null_orig))
        best = min(best, cnt)
    return best


def _draw(rng, seen):
    """A double for the property test: mostly rounded decimals, often one
    drawn before (duplicates and exact ties), sometimes NaN or ±inf."""
    u = rng.random()
    if u < 0.06:
        return rng.choice([math.nan, math.inf, -math.inf])
    if u < 0.4 and seen:
        return rng.choice(seen)
    return round(rng.uniform(-20, 60), rng.choice([0, 1, 2]))


def _random_stratum(rng):
    d, m = rng.randint(1, 3), rng.randint(1, 30)
    null_orig = tuple(rng.random() < 0.25 for _ in range(d))
    orig, rand, rand_null, benches = [], [], [], []
    for j in range(d):
        seen: list = []
        o = [math.nan if null_orig[j] else _draw(rng, seen) for _ in range(m)]
        seen += o
        rn = np.array([rng.random() < 0.03 for _ in range(m)])
        r = np.where(rn, math.nan, [_draw(rng, seen) for _ in range(m)])
        u = rng.random()
        if u < 0.05:
            b = None
        elif u < 0.1:
            b = math.nan
        elif u < 0.15:
            b = math.inf
        else:
            b = round(rng.uniform(0, 30), rng.choice([0, 1, 2]))
            # half the time the benchmark is a distance that occurs, so
            # some pair sits exactly on the bound
            if rng.random() < 0.5:
                with np.errstate(invalid="ignore"):
                    x = abs(o[rng.randrange(m)] - r[rng.randrange(m)])
                if math.isfinite(x):
                    b = float(x)
        orig.append(np.array(o, dtype=float))
        rand.append(np.array(r, dtype=float))
        rand_null.append(rn)
        benches.append(b)
    return null_orig, m, orig, rand, rand_null, benches


@pytest.mark.parametrize("block_cells", [kpi.BLOCK_CELLS, 7])
def test_stratum_counter_equals_brute_force(monkeypatch, block_cells):
    """Spark-free: 1,500 random strata of one to three attributes with
    rounded-decimal ties, duplicate points, NaN, ±inf, null randomized
    values and empty, NaN, infinite and occurring-distance benchmarks.  A
    block of 7 cells splits every multi-attribute stratum into many
    blocks."""
    monkeypatch.setattr(kpi, "BLOCK_CELLS", block_cells)
    rng = random.Random(block_cells)
    for _ in range(1500):
        case = _random_stratum(rng)
        assert kpi._stratum_k(*case) == _stratum_mirror(*case), case


@pytest.mark.slow
def test_spark_path_one_attr_400k_group(spark, monkeypatch):
    """One 400,000-subject group with one randomized attribute through the
    Spark path, which counts it in one task: within 120 s on local[4]
    (about 10 s measured with a warm session), and equal to a numpy window
    oracle (integer values keep it exact)."""
    import pandas as pd

    n = 400_000
    rng = np.random.default_rng(29)
    o = rng.integers(0, 100_000, n).astype(float)
    r = o + rng.integers(-500, 501, n)
    subj = pd.Series([f"http://ex.org/r{i:06d}" for i in range(n)])
    pdf = pd.concat([
        pd.DataFrame({"subj": subj, "pred": RDF_TYPE, "obj_value": T,
                      "obj_dtype": "iri", "obj_is_iri": True}),
        pd.DataFrame({"subj": subj, "pred": A0, "obj_value": [repr(v) for v in o],
                      "obj_dtype": "xsd:double", "obj_is_iri": False}),
        pd.DataFrame({"subj": subj, "pred": A0 + "_randomized",
                      "obj_value": [repr(v) for v in r],
                      "obj_dtype": "xsd:double", "obj_is_iri": False}),
    ])
    triples = spark.createDataFrame(pdf).persist()
    try:
        triples.count()
        t0 = time.perf_counter()
        k, ran = _k_via(monkeypatch, "spark", triples, [A0])
        elapsed = time.perf_counter() - t0
    finally:
        triples.unpersist()
    bench = 2.0 * np.abs(o - r).sum() / n
    so = np.sort(o)
    lo = np.searchsorted(so, r - bench, side="left")
    hi = np.searchsorted(so, r + bench, side="right")
    assert (k, ran) == (int((hi - lo).min()), "spark")
    assert elapsed < 120, elapsed

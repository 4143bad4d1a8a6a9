"""A6 scale-path equivalence: the pairs / ranges / sliced k-anonymity
strategies must produce identical k, and the scalable paths must work on the
skew case that kills the pair join (one generalization group = whole table).

The input picks the path (``kpi.auto_mode``), so these tests reach each path
by moving ``kpi.PAIR_THRESHOLD`` (:func:`_k_via`).  The numpy-mirror scale
sweeps are ``slow``; one small equivalence test per scale path, the routing
rule and the cache-release checks run in the default lane.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from kgforge.anonymize import kpi
from kgforge.anonymize.kpi import PAIR_THRESHOLD, auto_mode, k_anonymity
from kgforge.config import AttrConfig
from kgforge.triples import RDF_TYPE

T = "http://ex.org/Person"
A0 = "http://ex.org/salary"
A1 = "http://ex.org/age"
A2 = "http://ex.org/height"
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
    one the input picks: ``pairs`` below any subject count, a scale path
    (``ranges`` for one randomized attribute, ``sliced`` for more) above."""
    threshold = 1 << 62 if path == "pairs" else -1
    monkeypatch.setattr(kpi, "PAIR_THRESHOLD", threshold)
    return k_anonymity(triples, T, used, CFG)


CFG = {
    GEN: AttrConfig("double", "generalization"),
    A0: AttrConfig("double", "randomization"),
    A1: AttrConfig("double", "randomization"),
    A2: AttrConfig("double", "randomization"),
}


def test_ranges_equals_pairs_single_attr(spark, monkeypatch):
    triples, data = _mk_triples(spark, 400, n_groups=5, rand_attrs=[A0])
    used = [GEN, A0]
    k_pairs, ran_pairs = _k_via(monkeypatch, "pairs", triples, used)
    k_ranges, ran = _k_via(monkeypatch, "ranges", triples, used)
    assert (ran_pairs, ran) == ("pairs", "ranges")
    assert k_pairs == k_ranges == _expected_k(data, [A0])


@pytest.mark.slow
def test_ranges_survives_single_giant_group(spark, monkeypatch):
    """The skew case: no generalization attr → every resource lands in ONE
    null group.  The pair join would build n² rows; the ranges path is a
    sort + prefix sum and must both finish and agree with a numpy oracle."""
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
    k, ran = _k_via(monkeypatch, "ranges", triples, [A0])
    assert ran == "ranges"
    bench = 2.0 * np.abs(o - r).mean()
    so = np.sort(o)
    lo = np.searchsorted(so, r - bench, side="left")
    hi = np.searchsorted(so, r + bench, side="right")
    assert k == int((hi - lo).min())


@pytest.mark.parametrize(
    "n_rand, at_threshold, above_threshold",
    [(0, "groups", "groups"), (1, "pairs", "ranges"),
     (2, "pairs", "sliced"), (3, "pairs", "sliced")],
)
def test_auto_mode_routes_by_subjects_and_attr_count(n_rand, at_threshold,
                                                     above_threshold):
    """Two attributes above the threshold route to sliced like three or more
    (the 2-D grid counter they once went to never beat it)."""
    assert auto_mode(PAIR_THRESHOLD, n_rand) == at_threshold
    assert auto_mode(PAIR_THRESHOLD + 1, n_rand) == above_threshold


def _typed_only(spark, n, extra=()):
    rows = [(f"http://ex.org/r{i:02d}", RDF_TYPE, T, "iri", True) for i in range(n)]
    return spark.createDataFrame(
        rows + list(extra),
        "subj string, pred string, obj_value string, obj_dtype string, obj_is_iri boolean",
    )


@pytest.mark.slow
def test_nulls_and_empty_bench(spark, monkeypatch):
    # all originals null → bench None → only null-pairs count
    triples = _typed_only(spark, 20)
    for m, used in (("pairs", [A0]), ("ranges", [A0]),
                    ("pairs", [A0, A1]), ("sliced", [A0, A1])):
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
    for m, used in (("pairs", [A1]), ("ranges", [A1]),
                    ("pairs", [A0, A1]), ("sliced", [A0, A1])):
        k, ran = _k_via(monkeypatch, m, triples, used)
        assert (k, ran) == (0, m)
    # no subject of the type at all
    for m in ("pairs", "sliced"):
        k, ran = _k_via(monkeypatch, m, _typed_only(spark, 0), [A0, A1])
        assert (k, ran) == (0, m)


def test_k_anonymity_releases_its_caches(spark, monkeypatch, cache_entries):
    triples, _ = _mk_triples(spark, 60, n_groups=3, rand_attrs=[A0, A1])
    # with no randomized attribute every threshold counts the groups
    for used, ran in (([GEN], "groups"), ([GEN, A0], "pairs"),
                      ([GEN, A0], "ranges"), ([GEN, A0, A1], "sliced")):
        before = cache_entries()
        _, got = _k_via(monkeypatch, ran, triples, used)
        assert got == ran
        assert cache_entries() == before, ran


def test_k_anonymity_releases_its_caches_on_failure(spark, monkeypatch,
                                                    cache_entries):
    """A counting job that fails after the path's caches are filled must
    still release them."""
    import kgforge.rank as rank

    triples, _ = _mk_triples(spark, 60, n_groups=3, rand_attrs=[A0, A1])
    real_runsum = rank.with_global_running_sum

    def failing_runsum(*args, **kwargs):
        real_runsum(*args, **kwargs)  # fills the base and range caches
        raise RuntimeError("injected")

    def failing_min_count(subjects, cnts):
        cnts.count()
        raise RuntimeError("injected")

    monkeypatch.setattr(rank, "with_global_running_sum", failing_runsum)
    monkeypatch.setattr(kpi, "_min_count", failing_min_count)
    for used, path in (([GEN, A0], "ranges"), ([GEN, A0, A1], "sliced")):
        before = cache_entries()
        with pytest.raises(RuntimeError, match="injected"):
            _k_via(monkeypatch, path, triples, used)
        assert cache_entries() == before, path


@pytest.mark.parametrize("n, null_frac", [
    (300, 0.2),
    pytest.param(350, 0.15, marks=pytest.mark.slow),
])
def test_sliced_equals_pairs_two_attrs(spark, monkeypatch, n, null_frac):
    triples, data = _mk_triples(spark, n, n_groups=4, rand_attrs=[A0, A1],
                                null_frac=null_frac)
    used = [GEN, A0, A1]
    k_pairs, ran_pairs = _k_via(monkeypatch, "pairs", triples, used)
    k_sliced, ran = _k_via(monkeypatch, "sliced", triples, used)
    assert (ran_pairs, ran) == ("pairs", "sliced")
    assert k_pairs == k_sliced == _expected_k(data, [A0, A1])


@pytest.mark.slow
def test_sliced_equals_pairs_three_attrs(spark, monkeypatch):
    triples, data = _mk_triples(spark, 250, n_groups=3,
                                rand_attrs=[A0, A1, A2], null_frac=0.15)
    used = [GEN, A0, A1, A2]
    k_pairs, ran_pairs = _k_via(monkeypatch, "pairs", triples, used)
    k_sliced, ran = _k_via(monkeypatch, "sliced", triples, used)
    assert (ran_pairs, ran) == ("pairs", "sliced")
    assert k_pairs == k_sliced == _expected_k(data, [A0, A1, A2])


@pytest.mark.slow
def test_sliced_survives_single_giant_group_three_attrs(spark, monkeypatch):
    """The ≥3-attr skew case: one group, 20k rows — `pairs` would build
    4·10⁸ rows; the sliced path (attr-0 slabs + cogrouped searchsorted) must finish
    distributed and match a numpy oracle."""
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
    k, ran = _k_via(monkeypatch, "sliced", triples, attrs)
    assert ran == "sliced"
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
def test_sliced_survives_single_giant_group_two_attrs(spark, monkeypatch):
    """The 2-attr skew case: one group, 20k rows — the pair join would build
    4·10⁸ pairs; the sliced path must finish and match a numpy
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
    k, ran = _k_via(monkeypatch, "sliced", triples, [A0, A1])
    assert ran == "sliced"
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

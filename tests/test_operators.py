"""Unit layer the reference lacks (SURVEY.md §5): bucket formula, explicit
floor-bucket assignment (≠ ntile), boundary medians, global rank, and the
randomization scale mode."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgforge.anonymize.buckets import calculate_number_of_buckets
from kgforge.anonymize.ops import AttrSpec, generalize, randomize
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


def test_floor_bucket_differs_from_ntile(spark, caches):
    """g*i/k with k=10, g=3 → sizes [4,3,3]; ntile(3) would give [4,4,2].
    The reference formula (Generalization.java:50) must win."""
    rows = [(str(i), str(float(i)), "c", False, i) for i in range(10)]
    col_df = spark.createDataFrame(
        rows, schema="subj string, obj_value string, obj_dtype string, obj_is_iri boolean, _tie long"
    )
    out = generalize(
        col_df, [AttrSpec("x", "double", 3, 10)], F.col("_tie"), cleanup=caches
    )
    got = {
        r["subj"]: int(r["obj_value"].rsplit("_", 1)[-1])
        for r in out.filter(F.col("pred") == "x_generalized").collect()
    }
    expected = {str(i): 3 * i // 10 for i in range(10)}
    assert got == expected  # sizes 4,3,3 — not ntile's 4,4,2


def test_bucket_bounds_medians_and_obfuscation(spark, caches):
    rows = [(str(i), str(float(10 * i)), "c", False, i) for i in range(10)]
    col_df = spark.createDataFrame(
        rows, schema="subj string, obj_value string, obj_dtype string, obj_is_iri boolean, _tie long"
    )
    out = generalize(
        col_df, [AttrSpec("x", "double", 3, 10)], F.col("_tie"), cleanup=caches
    ).collect()
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


def test_date_median_truncates_toward_zero(spark, caches):
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
    out = generalize(
        col_df, [AttrSpec("d", "date", 2, 4)], F.col("_tie"), cleanup=caches
    ).collect()
    from kgforge.triples import RDF_MIN

    mins = {r["subj"]: r["obj_value"] for r in out if r["pred"] == RDF_MIN}
    # boundary = (-4 + 2)/2 = -1 → 1969-12-31 (floor div would give -1 too);
    # adversarial case: (-7 + 2) = -5 → Java /2 = -2 vs Python //2 = -3
    from kgforge.anonymize.values import median_value

    assert median_value("date", -7, 2) == -2.0  # truncation toward zero
    assert mins["d_1"] == "1969-12-31"


def test_global_rank_matches_window(spark, caches):
    import random

    rnd = random.Random(7)
    rows = [(i, rnd.random()) for i in range(500)]
    df = spark.createDataFrame(rows, schema="id long, v double")
    expect = {
        i: pos for pos, (i, _) in enumerate(sorted(rows, key=lambda t: (t[1], t[0])))
    }
    # one range bucket (the single-window path) and several
    for nparts in (1, 4):
        ranked = {
            r["id"]: r["_rank"]
            for r in with_global_rank(
                df, [F.col("v"), F.col("id")], num_partitions=nparts,
                cleanup=caches,
            ).collect()
        }
        assert ranked == expect, nparts


def test_randomize_exact_stays_in_range_and_seeded(spark):
    rows = [(str(i), str(float(i * 3 % 50)), "c", False, i) for i in range(50)]
    col_df = spark.createDataFrame(
        rows, schema="subj string, obj_value string, obj_dtype string, obj_is_iri boolean, _tie long"
    )
    a = {r["subj"]: r["obj_value"] for r in
         randomize(col_df, [AttrSpec("x", "double", 2, 50)], 99, F.col("_tie")).collect()}
    b = {r["subj"]: r["obj_value"] for r in
         randomize(col_df, [AttrSpec("x", "double", 2, 50)], 99, F.col("_tie")).collect()}
    assert a == b  # same seed → identical
    c = {r["subj"]: r["obj_value"] for r in
         randomize(col_df, [AttrSpec("x", "double", 2, 50)], 100, F.col("_tie")).collect()}
    assert a != c  # different seed → different


# --- batched operators against a per-attribute brute-force mirror ----------

# (k, attr, datatype, g, values); every value is (subj, lexical, tie).  The
# k are sparse and unordered, the value lists hold tied values (equal
# lexicals on different subjects), multi-valued subjects (two values for one
# attribute), pre-1970 dates and a bucket count above the value count.
_BATCH = [
    (6, "int", "integer", 4, [
        (f"s{i}", str((i * 7) % 11), i) for i in range(23)
    ] + [("s3", "40", 3), ("s5", "-2", 5)]),
    (1, "dbl", "double", 3, [
        (f"s{i}", str([0.5, 2.25, 2.25, -1.0][i % 4] + (i // 8)), 100 - i)
        for i in range(17)
    ]),
    (4, "day", "date", 5, [
        (f"s{i}", f"{1966 + (i * 5) % 9}-0{1 + i % 9}-1{i % 10}", i)
        for i in range(12)
    ] + [("s2", "1969-12-25", 2), ("s7", "1969-12-25", 7)]),
    (3, "ts", "dateTime", 2, [
        (f"s{i}", f"20{10 + i % 4}-03-0{1 + i % 3}T0{i % 10}:1{i % 6}:0{i % 7}Z", i)
        for i in range(9)
    ]),
    (0, "few", "double", 5, [("s1", "3.0", 1), ("s2", "1.5", 2), ("s3", "3.0", 3)]),
]


def _batch_frame(spark, batch):
    rows = [
        (subj, k, lex, tie)
        for k, _a, _dt, _g, values in batch
        for subj, lex, tie in values
    ]
    return spark.createDataFrame(
        rows, "subj string, _k int, obj_value string, _tie long"
    ).repartition(3)


def _batch_specs(batch):
    return [AttrSpec(a, dt, g, len(values), k) for k, a, dt, g, values in batch]


def _parse(datatype, lex):
    import datetime as dt

    if datatype in ("integer", "double"):
        return float(lex)
    if datatype == "date":
        return float((dt.date.fromisoformat(lex) - dt.date(1970, 1, 1)).days)
    return float(int(dt.datetime.fromisoformat(lex).timestamp()))


def _mirror_generalize(attr, datatype, g, values):
    """One attribute, literally as Generalization.java:30-104 indexes it."""
    from kgforge.anonymize.values import format_bound, median_value
    from kgforge.triples import RDF_MAX, RDF_MIN, RDF_TYPE, RDFS_COMMENT, SOYA_URL

    from kgforge.anonymize.ops import OBFUSCATED_LOWER, OBFUSCATED_UPPER

    rows = sorted((_parse(datatype, lex), tie, subj) for subj, lex, tie in values)
    n = len(rows)
    sv = [v for v, _, _ in rows]
    out = [
        (subj, attr + "_generalized", f"{attr}_{g * i // n}", "iri", True)
        for i, (_, _, subj) in enumerate(rows)
    ]

    def at(i):
        return sv[i] if 0 <= i < n else None

    for b in range(g):
        lb, ub = b * n // g, (b + 1) * n // g - 1
        iri = f"{attr}_{b}"
        out.append((iri, RDF_TYPE, SOYA_URL + "generalization", "string", False))
        if b == 0:
            out.append((iri, RDFS_COMMENT, OBFUSCATED_LOWER, "string", False))
        else:
            lex, bdt = format_bound(datatype, median_value(datatype, at(lb - 1), at(lb)))
            out.append((iri, RDF_MIN, lex, bdt, False))
        if b == g - 1:
            out.append((iri, RDFS_COMMENT, OBFUSCATED_UPPER, "string", False))
        else:
            lex, bdt = format_bound(datatype, median_value(datatype, at(ub), at(ub + 1)))
            out.append((iri, RDF_MAX, lex, bdt, False))
    return out


def _mirror_randomize(attr, datatype, g, values, seed):
    """One attribute: its own java.util.Random(seed) stream, drawn in
    ascending (value, tie-as-string) order (Randomization.java:27-59,
    RandomizationNumeric/Date/DateTime draws)."""
    from kgforge.anonymize.values import format_bound
    from kgforge.javarandom import JavaRandom, java_math_round

    rows = sorted((_parse(datatype, lex), str(tie), subj) for subj, lex, tie in values)
    vals = [v for v, _, _ in rows]
    n, rng = len(vals), JavaRandom(seed)
    lo_v, hi_v = vals[0], vals[-1]
    rv = n // g if n // g != n else n - 1
    out, lower = [], 0
    for idx, (v, _, subj) in enumerate(rows):
        while lower < n - (rv + 1) and (
            lower < idx - rv or abs(vals[lower] - v) > abs(vals[lower + rv + 1] - v)
        ):
            lower += 1
        dist = max(abs(vals[lower] - v), abs(vals[lower + rv] - v))
        if datatype in ("integer", "double"):
            res = float("inf")
            while not lo_v <= res <= hi_v:
                noise = rng.next_double() * dist
                res = v - noise if not lo_v <= v + noise <= hi_v else v + noise
        else:
            noise = 2**31 - 1
            while not lo_v <= v + noise <= hi_v:
                x = rng.next_gaussian() * dist
                noise = int(java_math_round(x)) if datatype == "date" else int(x)
                if not lo_v <= v + noise <= hi_v:
                    noise = -noise
            res = v + noise
        lex, rdt = format_bound(datatype, res)
        out.append((subj, attr + "_randomized", lex, rdt, False))
    return out


def _triples(df):
    return sorted(tuple(r) for r in df.select(
        "subj", "pred", "obj_value", "obj_dtype", "obj_is_iri").collect())


def test_batched_generalize_matches_per_attribute_mirror(spark, caches):
    out = generalize(_batch_frame(spark, _BATCH), _batch_specs(_BATCH),
                     F.col("_tie"), cleanup=caches)
    expect = sorted(
        t for _k, a, dt, g, values in _BATCH
        for t in _mirror_generalize(a, dt, g, values)
    )
    assert _triples(out) == expect


def test_batched_randomize_matches_per_attribute_mirror(spark):
    out = randomize(
        _batch_frame(spark, _BATCH), _batch_specs(_BATCH), 4242, F.col("_tie")
    )
    expect = sorted(
        t for _k, a, dt, g, values in _BATCH
        for t in _mirror_randomize(a, dt, g, values, 4242)
    )
    assert _triples(out) == expect


def test_operator_jobs_do_not_grow_with_attribute_count(spark):
    """A type with 3 generalized and 2 randomized attributes runs no more
    Spark jobs than one with 1 and 1: one pass per operator kind."""
    from kgforge.anonymize.engine import anonymize_triples
    from kgforge.config import AttrConfig
    from kgforge.triples import RDF_TYPE, triples_df

    kinds = [("integer", "generalization"), ("double", "generalization"),
             ("date", "generalization"), ("double", "randomization"),
             ("date", "randomization")]
    rows = []
    for i in range(40):
        subj = f"http://t/s{i}"
        rows.append((subj, RDF_TYPE, "http://t/T", "iri", True))
        for a, (dt, _) in enumerate(kinds):
            lex = f"{1990 + i % 17}-0{1 + i % 9}-1{a}" if dt == "date" else str(i * (a + 3) % 29)
            rows.append((subj, f"http://t/a{a}", lex, "c", False))
    triples = triples_df(spark, rows)
    sc = spark.sparkContext
    runs = iter(range(3))

    def jobs(picked):
        config = {"http://t/T": {
            f"http://t/a{a}": AttrConfig(*kinds[a]) for a in picked
        }}
        group = f"ops-jobs-{next(runs)}"
        sc.setJobGroup(group, group)
        try:
            out, _ = anonymize_triples(
                triples, config, calculate_kpi=False, random_seed=7
            )
            out.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    jobs([0, 3])  # warm the session: both counts below run after this
    assert jobs([0, 1, 2, 3, 4]) <= jobs([0, 3])


def test_global_running_sum_matches_python_reference(spark, caches):
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
                    num_partitions=nparts, cleanup=caches,
                ).collect()
            }
            acc, expect = 0, {}
            for i, k, w in sorted(rows, key=lambda t: (t[1], t[0])):
                acc += w
                expect[i] = acc
            assert got == expect, (seed, nparts)


def test_with_global_index_contiguous_and_cleanup(spark, caches):
    from kgforge import rank

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(257)], schema="id long, s string"
    ).repartition(7)
    got = rank.with_global_index(df, out="_idx", cleanup=caches).collect()
    idxs = sorted(r["_idx"] for r in got)
    assert idxs == list(range(257))  # contiguous 0..n-1, no gaps/dupes
    # one row per input id (the index is a bijection over the input)
    assert len({r["id"] for r in got}) == 257
    assert len(caches) == 1


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


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_unmaterialized_flat_input_anonymizes_like_driver_ingest(spark, ansi):
    """``flat_df_to_triples`` → ``anonymize_triples`` with no action in
    between, under ANSI mode on and off, answers exactly as the driver
    ingest of the same valid rows: every operator kind (mask, generalize,
    randomize on integer, double and date attributes) and the k-anonymity
    KPI.  The engine's checkpointed pivot keeps the other attributes' rows
    away from the strict casts."""
    from kgforge.anonymize.engine import anonymize_triples
    from kgforge.config import ANONYMISATION_DEMO, DEMO_PREFIX
    from kgforge.ingest import flat_df_to_triples, flat_rows_to_triples

    rows = [
        {"type": "AnonymisationDemo", "name": f"Person {i}",
         "latitude": 46 + i % 4, "longitude": 9.5 + 0.61 * i,
         "start_pv": f"20{15 + i % 9}-0{1 + i % 9}-1{i % 9}",
         "geburtsdatum": f"19{60 + 3 * i}-1{i % 3}-2{i % 8}",
         "gehalt": 1800 + 377 * i}
        for i in range(12)
    ]
    cols = list(rows[0])
    df = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in rows],
        "type string, name string, latitude long, longitude double,"
        " start_pv string, geburtsdatum string, gehalt long",
    )
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        answers = []
        for triples in (flat_df_to_triples(df, DEMO_PREFIX),
                        flat_rows_to_triples(spark, rows, DEMO_PREFIX)):
            out, report = anonymize_triples(
                triples, ANONYMISATION_DEMO, random_seed=4242,
                order_pred=DEMO_PREFIX + "counter",
            )
            answers.append(({tuple(r) for r in out.collect()}, report.k_anonymity))
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    (got, got_k), (want, want_k) = answers
    assert got == want and got_k == want_k
    assert len(want) > 12 and all(k > 0 for k in want_k.values())

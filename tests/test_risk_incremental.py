from pyspark.sql import functions as F

from kgforge.anonymize.incremental import (
    apply_bounds,
    bucket_from_bounds,
    inner_boundaries,
)
from kgforge.anonymize.risk import group_risk, risk_summary


def test_group_risk_counts_and_nulls(spark):
    df = spark.createDataFrame(
        [("US", "A"), ("US", "A"), ("US", "B"), (None, "B")],
        "country string, seg string",
    )
    got = {
        (r["country"], r["seg"]): (r["k"], r["prosecutor_risk"], r["at_risk"])
        for r in group_risk(df, ["country", "seg"], k_threshold=2).collect()
    }
    assert got[("US", "A")] == (2, 0.5, False)
    assert got[("US", "B")] == (1, 1.0, True)
    assert got[(None, "B")] == (1, 1.0, True)  # NULL QI is its own group


def test_risk_summary_formulas(spark):
    df = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 2 + [("c",)] * 1, "qi string"
    )
    r = risk_summary(df, ["qi"], k_threshold=2).collect()[0]
    assert r["n_records"] == 7 and r["n_groups"] == 3 and r["min_k"] == 1
    assert r["journalist_risk"] == 1.0
    assert r["discernibility"] == 16 + 4 + 1
    assert r["records_at_risk"] == 1
    assert r["marketer_risk"] == round(3 / 7, 6)
    assert r["avg_group_size"] == round(7 / 3, 6)
    assert r["pct_at_risk"] == round(1 / 7, 6)


def test_bucket_from_bounds_ties_and_clamps(spark):
    df = spark.createDataFrame(
        [(1, -100.0), (2, 10.0), (3, 10.5), (4, 20.0), (5, 999.0), (6, None)],
        "id int, v double",
    )
    out = apply_bounds(df, "v", [10.0, 20.0])
    got = {r["id"]: r["bucket"] for r in out.collect()}
    assert got[1] == 0          # below everything clamps to first bucket
    assert got[2] == 0          # exactly on a boundary -> lower bucket
    assert got[3] == 1
    assert got[4] == 1          # tie rule again
    assert got[5] == 2          # above everything clamps to last bucket
    assert got[6] is None       # NULL stays NULL


def test_inner_boundaries_roundtrip(spark):
    bounds = spark.createDataFrame(
        [(0, None, 5.0), (1, 5.0, 9.0), (2, 9.0, None)],
        "bucket int, bmin double, bmax double",
    )
    assert inner_boundaries(bounds) == [5.0, 9.0]


def test_frozen_bounds_agree_with_generalize_interior(spark, caches):
    """Applying the published bounds back to the snapshot's own values
    reproduces generalize's rank-based buckets for every value strictly
    inside a bucket (only boundary ties may differ, by the documented
    value-function rule)."""
    from kgforge.anonymize.buckets import calculate_number_of_buckets
    from kgforge.anonymize.ops import AttrSpec, generalize
    from kgforge.triples import RDF_MAX, RDF_MIN

    vals = [(str(i), float(v)) for i, v in enumerate(
        [3, 8, 1, 9, 4, 7, 2, 12, 15, 11, 30, 22, 28, 25, 21, 40, 35, 38]
    )]
    df = spark.createDataFrame(vals, "subj string, obj_value string").select(
        "subj", F.col("obj_value").cast("string").alias("obj_value"),
        F.col("subj").cast("int").alias("_tie"),
    )
    n = len(vals)
    g = calculate_number_of_buckets(n, 1)
    out = generalize(df, [AttrSpec("v", "double", g, n)], F.col("_tie"),
                     cleanup=caches)
    orig = {
        r["subj"]: int(r["obj_value"].rsplit("_", 1)[-1])
        for r in out.filter(F.col("pred") == "v_generalized").collect()
    }
    bounds = (
        out.filter(F.col("pred").isin([RDF_MIN, RDF_MAX]))
        .groupBy(F.substring_index("subj", "_", -1).cast("int").alias("bucket"))
        .agg(
            F.first(
                F.when(F.col("pred") == RDF_MAX, F.col("obj_value")), True
            ).cast("double").alias("bmax"),
            F.first(
                F.when(F.col("pred") == RDF_MIN, F.col("obj_value")), True
            ).cast("double").alias("bmin"),
        )
    )
    cuts = inner_boundaries(bounds)
    applied = {
        r["subj"]: r["bucket"]
        for r in apply_bounds(
            spark.createDataFrame(vals, "subj string, v double"), "v", cuts
        ).collect()
    }
    for s, v in vals:
        if v in cuts:  # boundary tie — value rule may differ from rank rule
            continue
        assert applied[s] == orig[s], (s, v, applied[s], orig[s])


def test_bucket_expression_is_jvm_only(spark):
    df = spark.createDataFrame([(1, 5.0)], "id int, v double")
    plan = apply_bounds(df, "v", [1.0, 2.0])._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "Exchange" not in plan  # zero shuffles
    assert "Python" not in plan


def test_bucket_from_bounds_empty_boundaries(spark):
    # zero inner boundaries = single-bucket scheme: everything is bucket 0
    df = spark.createDataFrame([(1, 5.0), (2, -3.0)], "id int, v double")
    got = df.select(bucket_from_bounds(F.col("v"), []).alias("b")).collect()
    assert [r["b"] for r in got] == [0, 0]

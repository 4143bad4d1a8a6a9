"""Structured Streaming surface + spark-submit --py-files packaging."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F


def test_stream_event_counts_matches_batch(spark, tmp_path):
    from kgforge.streaming import stream_event_counts

    src = "/root/testdata/sf0.001"
    schema = spark.read.parquet(f"{src}/events.parquet").schema
    agg = stream_event_counts(
        spark, src, schema, watermark="1 hour", window="30 minutes",
        glob="events.parquet",
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("ev_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["win_start"], r["event_type"]): (r["n"], round(r["sum_value"], 6))
        for r in spark.sql("SELECT * FROM ev_out").collect()
    }
    batch = (
        spark.read.parquet(f"{src}/events.parquet")
        .groupBy(F.window("ts", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .select(F.col("window.start").alias("ws"), "event_type", "n", "s")
    )
    want = {
        (r["ws"], r["event_type"]): (r["n"], round(r["s"], 6))
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_stream_docs_to_triples_equals_batch_build_kg(spark, tmp_path):
    """End-to-end streaming ≡ batch: the streamed graph (drained
    incrementally over two document chunks, resuming from the checkpoint)
    must equal build_kg's kg:mentions triple set over the same corpus —
    value equality, not just counts."""
    from pyspark.sql import functions as F

    from kgforge.kg.pipeline import build_kg
    from kgforge.kg.synth import synth_docs
    from kgforge.kg.vocab import KG
    from kgforge.streaming import stream_docs_to_triples

    docs_dir = str(tmp_path / "docs")
    synth_docs(spark, 30, seed=42).write.parquet(docs_dir)
    schema = spark.read.parquet(docs_dir).schema
    out_dir = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ckpt")

    # chunk 1 drains, then chunk 2 lands and a second availableNow run picks
    # up ONLY the new file via the checkpoint (incremental ingestion)
    q = stream_docs_to_triples(spark, docs_dir, out_dir, ckpt, schema).start()
    assert q.awaitTermination(600), "drain 1 timed out (host throttled)"
    synth_docs(spark, 60, seed=42).filter(
        F.col("doc_id") >= "doc_000000000030"
    ).write.mode("append").parquet(docs_dir)
    # simulate a FAILED first attempt of the next epoch: a partial epoch=1
    # subtree must be REPLACED by the retry (idempotent dynamic overwrite)
    spark.createDataFrame(
        [("http://bogus/doc", "http://kgforge.dev/ns/mentions",
          "http://bogus/ent", "iri", True)],
        "subj string, pred string, obj_value string, obj_dtype string, obj_is_iri boolean",
    ).withColumn("epoch", F.lit(1)).write.mode("append").partitionBy(
        "epoch", "pred"
    ).parquet(out_dir)
    q2 = stream_docs_to_triples(spark, docs_dir, out_dir, ckpt, schema).start()
    assert q2.awaitTermination(600), "drain 2 timed out (host throttled)"

    rows = spark.read.parquet(out_dir).collect()
    got = {
        (r["subj"], r["pred"], r["obj_value"], r["obj_dtype"], r["obj_is_iri"])
        for r in rows
    }
    assert len(rows) == len(got), "duplicate triples across epochs"
    assert not any(r["subj"].startswith("http://bogus/") for r in rows), (
        "partial failed-epoch output survived the idempotent retry"
    )

    triples, _ = build_kg(spark.read.parquet(docs_dir), collect_metrics=False)
    want = {
        tuple(r)
        for r in triples.filter(F.col("pred") == KG + "mentions").collect()
    }
    assert got == want and len(got) > 0


@pytest.mark.slow
def test_spark_submit_py_files(tmp_path):
    """Ship the packaged zip through a real spark-submit run (local[2])."""
    sys.path.insert(0, "/root/repo/scripts")
    import package as pkg

    zip_path = pkg.build(str(tmp_path / "kgforge.zip"))
    out = str(tmp_path / "graph")
    spark_submit = shutil.which("spark-submit")
    assert spark_submit, "spark-submit not on PATH"
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    r = subprocess.run(
        [
            spark_submit,
            "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", zip_path,
            "/root/repo/scripts/submit_kg.py",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", out,
            "--n-docs", "60",
        ],
        capture_output=True, text=True, timeout=420, env=env,
        cwd=str(tmp_path),  # NOT the repo root — forces import from the zip
    )
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    payload = json.loads(lines[-1])
    assert payload["rows"] > 0 and payload["resumed"] is False

    # second run resumes from the committed snapshot
    r2 = subprocess.run(
        [
            spark_submit, "--master", "local[2]",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            "/root/repo/scripts/submit_kg.py",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", out, "--n-docs", "60",
        ],
        capture_output=True, text=True, timeout=420, env=env, cwd=str(tmp_path),
    )
    assert r2.returncode == 0, r2.stderr[-2000:]
    payload2 = json.loads([l for l in r2.stdout.splitlines() if l.startswith("{")][-1])
    assert payload2["resumed"] is True and payload2["rows"] == payload["rows"]


def test_stream_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: closed sessions match the batch
    gap-sessionization for every user whose last session is closed by a
    later event (open tail sessions stay in state)."""
    import datetime as dt

    from kgforge.streaming import stream_sessionize

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    # user a: two sessions (gap 2h closes the first: 3 events + 2 events)
    for off in (0, 60, 120, 7800, 7860):
        rows.append(("a", base + dt.timedelta(seconds=off)))
    # user b: one session then a far later single event closing it
    for off in (0, 30, 10000):
        rows.append(("b", base + dt.timedelta(seconds=off)))
    src = str(tmp_path / "events_src")
    spark.createDataFrame(rows, "user_id string, ts timestamp").write.parquet(src)

    schema = spark.read.parquet(src).schema
    out = stream_sessionize(spark, src, schema, gap_seconds=1800, use_timeout=False)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    want = {
        ("a", base, base + dt.timedelta(seconds=120)): 3,
        ("b", base, base + dt.timedelta(seconds=30)): 2,
    }
    assert got == want


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Streaming exact-dedup drains two chunks with cross-chunk duplicates
    and must keep exactly one row per distinct content (the batch distinct
    set), with state bounded by the watermark."""
    from pyspark.sql import types as T

    from kgforge.streaming import stream_dedup

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = str(tmp_path / "docs_in")
    os.makedirs(src)
    base = F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    rows1 = [(i, f"text {i % 6}") for i in range(12)]       # 6 distinct
    rows2 = [(100 + i, f"text {i % 8}") for i in range(16)]  # adds 2 new
    for n, rows in (("a", rows1), ("b", rows2)):
        (spark.createDataFrame(rows, "doc_id long, text string")
         .withColumn("ts", base + F.expr(f"make_interval(0,0,0,0,0,0, doc_id % 50)"))
         .coalesce(1).write.parquet(f"{src}/chunk_{n}"))
    out = stream_dedup(spark, f"{src}/chunk_*", schema, watermark="1 hour")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("dedup_out").trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()
    got = [r["text"] for r in spark.sql("SELECT text FROM dedup_out").collect()]
    assert sorted(set(got)) == sorted(f"text {i}" for i in range(8))
    assert len(got) == 8  # one survivor per content, none duplicated


def test_stream_followup_join_matches_batch_pairs(spark, tmp_path):
    """Stream-stream interval join ≡ batch range join on the same events:
    the (pid, oid) pair set from the watermarked two-stream join must equal
    the batch equi-key + interval join's matched pairs."""
    from kgforge.streaming import stream_followup_join

    src = "/root/testdata/sf0.001"
    schema = spark.read.parquet(f"{src}/events.parquet").schema
    joined = stream_followup_join(spark, src, schema, glob="events.parquet")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("followup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["pid"], r["oid"])
        for r in spark.sql("SELECT pid, oid FROM followup_out").collect()
    }

    ev = spark.read.parquet(f"{src}/events.parquet")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), F.col("user_id").alias("u"),
        F.col("ts").alias("pts"),
    )
    o = ev.select(F.col("event_id").alias("oid"), F.col("user_id").alias("ou"),
                  F.col("ts").alias("ots"))
    want = {
        (r["pid"], r["oid"])
        for r in p.join(
            o,
            (F.col("u") == F.col("ou"))
            & (F.col("ots") > F.col("pts"))
            & (F.col("ots") <= F.col("pts") + F.expr("INTERVAL 5 MINUTES")),
        ).select("pid", "oid").collect()
    }
    assert got == want and len(got) > 0


def test_stream_update_kg_equals_batch_rebuild(spark, tmp_path):
    """Streaming incremental maintenance: three single-file microbatches
    folded through update_kg_epoch must equal ONE batch build over the whole
    corpus (triple multiset equality), and a replayed epoch must be a
    no-op."""
    from kgforge.kg.pipeline import build_kg
    from kgforge.kg.synth import synth_docs
    from kgforge.streaming import read_kg, stream_update_kg, update_kg_epoch

    docs_dir = str(tmp_path / "docs_ukg")
    all_docs = synth_docs(spark, 45, seed=7)
    all_docs.repartition(3).write.parquet(docs_dir)
    schema = all_docs.schema

    graph_dir = str(tmp_path / "graph_ukg")
    ckpt = str(tmp_path / "ckpt_ukg")
    q = stream_update_kg(spark, docs_dir, graph_dir, ckpt, schema).start()
    q.awaitTermination(300)

    got = read_kg(spark, graph_dir)
    assert got is not None
    want, _ = build_kg(all_docs, collect_metrics=False)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(got) == rows(want)

    # replaying an already-committed epoch is a committed no-op
    some_batch = spark.read.parquet(docs_dir).limit(5)
    applied = update_kg_epoch(some_batch, 0, graph_dir)
    assert applied is False
    assert rows(read_kg(spark, graph_dir)) == rows(want)

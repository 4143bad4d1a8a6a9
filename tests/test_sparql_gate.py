"""Structural gate for the SPARQL compiler on a small built KG.

The six ``perfbench.workloads.QUERIES`` run over a 300-document graph built
by ``build_kg``, written pred-partitioned by ``write_graph`` and read back
from parquet (the benchmark's shape).  Each query must:

- return the recorded answers (``tests/data/sparql_gate_answers.json``);
- run within its Spark job budget (``JOB_BUDGET``, read through its own job
  group, like ``tests/test_anon_snapshot.py``);
- compile with at most ``PY4J_CEILING`` py4j round trips: a query is one
  ``spark.sql`` statement, not a Column tree built call by call;
- scan each constant-predicate pattern with ``pred`` under
  ``PartitionFilters``: parameter markers keep partition pruning.

Re-record only for an intended answer change, from the repository root:
``PYTHONPATH=. python tests/test_sparql_gate.py``.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench.workloads import QUERIES

RECORDINGS = os.path.join(os.path.dirname(__file__), "data",
                          "sparql_gate_answers.json")
N_DOCS, SEED = 300, 42

# Spark jobs per query with the test session's settings (local[4], four
# shuffle partitions, AQE on)
JOB_BUDGET = (3, 1, 6, 1, 2, 2)
# py4j round trips of one sparql_select call (parse + compile, no action)
PY4J_CEILING = 60
# constant-predicate patterns per query: each is one partition-pruned scan
CONST_PRED_SCANS = (2, 1, 4, 1, 1, 2)


def build_graph(spark, path: str):
    from kgforge.kg.io import write_graph
    from kgforge.kg.pipeline import build_kg
    from kgforge.kg.synth import synth_docs

    triples, _ = build_kg(synth_docs(spark, N_DOCS, seed=SEED),
                          collect_metrics=False)
    write_graph(triples, path, stage="sparql-gate", fingerprint="gate")
    return spark.read.parquet(path)


def answers(graph) -> list:
    from kgforge.sparql import sparql_select

    return [json.loads(json.dumps(sorted(map(list, sparql_select(graph, q).collect()))))
            for q in QUERIES]


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    return build_graph(spark, str(tmp_path_factory.mktemp("gate") / "graph"))


def test_answers_match_recordings(graph):
    with open(RECORDINGS) as f:
        want = json.load(f)
    assert answers(graph) == want


@pytest.mark.parametrize("i", range(len(QUERIES)))
def test_job_budget(spark, graph, i):
    from kgforge.sparql import sparql_select

    sc = spark.sparkContext
    group = f"sparql-gate-{i}"
    sc.setJobGroup(group, f"query {i}")
    try:
        sparql_select(graph, QUERIES[i]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= JOB_BUDGET[i], jobs


def test_py4j_round_trips_per_call(graph, monkeypatch):
    import py4j.clientserver as cs

    from kgforge.sparql import sparql_select

    calls = [0]
    send = cs.ClientServerConnection.send_command

    def counted(self, command, *args, **kwargs):
        calls[0] += 1
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    per_call = []
    for q in QUERIES:
        before = calls[0]
        sparql_select(graph, q)
        per_call.append(calls[0] - before)
    assert max(per_call) <= PY4J_CEILING, per_call


def test_constant_predicates_prune_partitions(graph):
    from kgforge.sparql import sparql_select

    for q, n in zip(QUERIES, CONST_PRED_SCANS):
        plan = sparql_select(graph, q)._jdf.queryExecution().executedPlan().toString()
        scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
        pruned = [ln for ln in scans if re.search(
            r"PartitionFilters: \[isnotnull\(pred#\d+\), \(pred#\d+ = ", ln)]
        assert len(scans) == n and len(pruned) == n, plan


if __name__ == "__main__":
    import tempfile

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    with tempfile.TemporaryDirectory() as d:
        got = answers(build_graph(spark, os.path.join(d, "graph")))
    with open(RECORDINGS, "w") as f:
        json.dump(got, f, indent=1, ensure_ascii=False)
        f.write("\n")
    spark.stop()

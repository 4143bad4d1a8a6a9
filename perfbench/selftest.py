"""Self-test of the benchmark harness (not part of the repository's test lane).

    python3 -m pytest perfbench/selftest.py        # from the repository root

Tiny-size smoke runs of both workloads check that every end-to-end metric
is printed with its unit and that the last line is the result object; a
run with ``--corrupt`` and hand-corrupted responses check that the
correctness gate trips.  The smoke runs start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402
from perfbench.tracer import per_layer_units  # noqa: E402

NAMED = {
    "kg_build": {"kg_triples_per_s": "triples/s", "kg_query_set_s": "s",
                 "kg_bytes_per_triple": "B", "error_rate": "ratio"},
    "anon_requests": {"request_p50_s": "s", "error_rate": "ratio"},
}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0", "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, (json.loads(lines[-1]) if lines else None)


@pytest.mark.parametrize("workload", ["kg_build", "anon_requests"])
def test_smoke_prints_every_metric_with_unit(workload):
    rc, lines, result = _run(workload)
    assert rc == 0, lines
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _bench()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    printed = {ln.split()[0]: ln.split(None, 2)[2] for ln in lines[:-1]
               if len(ln.split()) >= 3}
    for name, unit in {**want, **NAMED[workload]}.items():
        assert printed[name].startswith(unit), (name, printed.get(name))


def test_corrupted_output_trips_gate():
    rc, _lines, result = _run("anon_requests", "--corrupt")
    assert rc == 1
    assert result["correct"] is False and result["failed"] >= 1


def test_without_program_exits_nonzero_silently(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, lines, _ = _run("kg_build", cwd=str(tmp_path))
    assert rc != 0 and lines == []


def test_per_layer_metrics_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert declared == per_layer_units()


def test_kg_corpus_equals_synth_docs(tmp_path):
    from pyspark.sql import SparkSession

    from kgforge.kg.synth import synth_docs

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
    try:
        path = str(tmp_path / "docs.parquet")
        inputs._write_docs(path, 200, 11, 2)
        got = spark.read.parquet(path)
        want = synth_docs(spark, 200, seed=11)
        assert got.count() == 200
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    finally:
        spark.stop()


def _valid_flat_response(request: dict) -> dict:
    from kgforge.config import CONFIG_BY_URL

    attrs = next(iter(CONFIG_BY_URL[request["configurationUrl"]].values()))
    data = []
    for _row in request["data"]:
        out = {"types": ["AnonymisationDemo"]}
        for attr, cfg in attrs.items():
            key = attr.rsplit("/", 1)[-1] + checks.SUFFIX[cfg.strategy]
            out[key] = checks.MASK if cfg.strategy == "masking" else "x"
        data.append(out)
    block = {"k-Anonymity": 1}
    for attr, cfg in attrs.items():
        if cfg.strategy != "masking":
            block[attr.rsplit("/", 1)[-1]] = {"anonymization": cfg.strategy, "nrBuckets": 1}
    return {"data": data, "kpis": {"kpiAnonymisationDemo": block}}


def test_gate_checks_flat_responses():
    request = inputs.flat_demo_request(random.Random(0), 3)
    good = _valid_flat_response(request)
    assert checks.check_flat_response(request, good)[0] == []

    masked = json.loads(json.dumps(good))
    masked["data"][1]["name_masked"] = "Person 1"
    original_left = json.loads(json.dumps(good))
    original_left["data"][0]["gehalt"] = "4000"
    no_kpis = dict(good, kpis={})
    missing_row = dict(good, data=good["data"][:2])
    for bad in (masked, original_left, no_kpis, missing_row):
        assert checks.check_flat_response(request, bad)[0]


if __name__ == "__main__":
    sys.exit(pytest.main([__file__, "-q"]))

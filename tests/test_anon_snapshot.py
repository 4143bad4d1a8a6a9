"""Full-response snapshots and Spark job budgets of both API endpoints.

Seeded requests shaped like the benchmark's ``anon_requests`` workload: a
flat AnonymisationDemo request (every operator kind, the ``adresse``
hierarchy) and a JSON-LD AnonymisationDemo2 request (Object1 and Object2
nodes, a third of them carrying both types).  Each runs as sent and with
``includeOriginalData: true``, ``useAdjustedAttributes: false`` and
``calculateKpi: false``.  The responses are compared as parsed JSON with
recordings in ``tests/data/anon_snapshots.json``; the job count of each
request (read through its own Spark job group) must stay within
``JOB_BUDGET``.

Re-record only when a response change is intended:
``PYTHONPATH=. python tests/test_anon_snapshot.py`` (from the repository
root) rewrites the recordings.
"""

from __future__ import annotations

import json
import os
import random

import pytest

from kgforge.api import anonymize_flat_json, anonymize_jsonld_response
from kgforge.config import DEMO2_PREFIX, DEMO_PREFIX

SNAPSHOTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                         "anon_snapshots.json")
XSD = "http://www.w3.org/2001/XMLSchema#"
PLACES = (
    ("Wien", "Wien", "Austria"),
    ("Graz", "Steiermark", "Austria"),
    ("Linz", "Oberoesterreich", "Austria"),
    ("Salzburg", "Salzburg", "Austria"),
    ("Muenchen", "Bayern", "Germany"),
    ("Berlin", "Berlin", "Germany"),
    ("Zuerich", "Zuerich", "Switzerland"),
)
VARIANTS = {
    "as_sent": {},
    "original": {"includeOriginalData": True},
    "renamed": {"useAdjustedAttributes": False},
    "no_kpi": {"calculateKpi": False},
}
# Spark jobs per request with the test session's settings (local[4], four
# shuffle partitions, AQE on)
JOB_BUDGET = {
    "flat/as_sent": 53,
    "flat/original": 51,
    "flat/renamed": 53,
    "flat/no_kpi": 46,
    "jsonld2/as_sent": 50,
    "jsonld2/original": 46,
    "jsonld2/renamed": 50,
    "jsonld2/no_kpi": 38,
}


def _date(rng: random.Random, y0: int, y1: int) -> str:
    return f"{rng.randint(y0, y1):04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _person(rng: random.Random, i: int) -> dict:
    city, state, country = PLACES[rng.randrange(len(PLACES))]
    return {
        "name": f"Person {i}",
        "latitude": rng.randint(46, 49),
        "longitude": round(rng.uniform(9.5, 17.2), 6),
        "start_pv": _date(rng, 2015, 2024),
        "geburtsdatum": _date(rng, 1950, 2004),
        "gehalt": rng.randint(1800, 9000),
        "adresse": {"city": city, "state": state, "country": country},
    }


def flat_request(n: int = 64, seed: int = 11) -> dict:
    rng = random.Random(seed)
    rows = [{"type": "AnonymisationDemo", **_person(rng, i)} for i in range(n)]
    return {
        "configurationUrl": "https://soya.ownyourdata.eu/AnonymisationDemo",
        "prefix": DEMO_PREFIX,
        "randomSeed": 4242,
        "data": rows,
    }


def jsonld2_request(n: int = 90, seed: int = 12) -> dict:
    rng = random.Random(seed)
    nodes = []
    for i in range(n):
        p = _person(rng, i)
        types = [t for t, keep in (("oyd:Object1", i % 3 != 2),
                                   ("oyd:Object2", i % 3 != 0)) if keep]
        node = {"@id": f"oyd:o{i}", "@type": types if len(types) > 1 else types[0]}
        if "oyd:Object1" in types:
            node["oyd:name"] = p["name"]
            node["oyd:gehalt"] = p["gehalt"]
            node["oyd:geburtsdatum"] = {"@value": p["geburtsdatum"], "@type": "xsd:date"}
        if "oyd:Object2" in types:
            node["oyd:latitude"] = round(p["longitude"] / 3.0 + 43.0, 6)
            node["oyd:longitude"] = p["longitude"]
        nodes.append(node)
    return {
        "configurationUrl": "https://soya.ownyourdata.eu/AnonymisationDemo2",
        "randomSeed": 1717,
        "data": {"@context": {"oyd": DEMO2_PREFIX, "xsd": XSD}, "@graph": nodes},
    }


REQUESTS = {
    "flat": (anonymize_flat_json, flat_request),
    "jsonld2": (anonymize_jsonld_response, jsonld2_request),
}


def run_all(spark) -> dict[str, tuple[dict, int]]:
    """key → (parsed response, Spark jobs the request ran)."""
    sc = spark.sparkContext
    out = {}
    for kind, (endpoint, build) in REQUESTS.items():
        for variant, flags in VARIANTS.items():
            key = f"{kind}/{variant}"
            group = f"anon-snapshot-{kind}-{variant}"
            sc.setJobGroup(group, key)
            try:
                resp = endpoint(spark, {**build(), **flags})
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            # round-trip through JSON so tuples, key order and number types
            # compare exactly as a client would parse them
            out[key] = (json.loads(json.dumps(resp)), jobs)
    return out


@pytest.fixture(scope="module")
def runs(spark):
    return run_all(spark)


@pytest.fixture(scope="module")
def recorded():
    with open(SNAPSHOTS) as f:
        return json.load(f)


@pytest.mark.parametrize("key", sorted(JOB_BUDGET))
def test_response_matches_snapshot(runs, recorded, key):
    assert runs[key][0] == recorded[key]


@pytest.mark.parametrize("key", sorted(JOB_BUDGET))
def test_job_budget(runs, key):
    assert runs[key][1] <= JOB_BUDGET[key], (key, runs[key][1])


if __name__ == "__main__":
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.default.parallelism", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    results = run_all(session)
    os.makedirs(os.path.dirname(SNAPSHOTS), exist_ok=True)
    with open(SNAPSHOTS, "w") as f:
        json.dump({k: v[0] for k, v in results.items()}, f, indent=1, sort_keys=True)
        f.write("\n")
    for k, (_, jobs) in results.items():
        print(k, "jobs", jobs)
    session.stop()

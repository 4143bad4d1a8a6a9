"""Full-response snapshots and Spark job budgets of both API endpoints.

Seeded requests shaped like the benchmark's ``anon_requests`` workload: a
flat AnonymisationDemo request (every operator kind, the ``adresse``
hierarchy) and a JSON-LD AnonymisationDemo2 request (Object1 and Object2
nodes, a third of them carrying both types).  Each runs as sent and with
``includeOriginalData: true``, ``useAdjustedAttributes: false`` and
``calculateKpi: false``.  The responses are compared as parsed JSON with
recordings in ``tests/data/anon_snapshots.json``; the job count of each
request (read through its own Spark job group) must stay within
``JOB_BUDGET``.  The same requests are replayed in a second session with
one shuffle partition and one default slice — the settings of a service
answering request-sized inputs, where ranks take the single-window path —
against the same recordings, ``SERVICE_JOB_BUDGET``, ``PY4J_CEILING``
(py4j round trips between the Python driver and the JVM per request) and
``COMPILE_CEILING`` (classes Spark generates and compiles per request);
before them, that session alternates flat and JSON-LD requests like the
benchmark and counts the classes each JSON-LD type compiles.

Re-record only when a response change is intended:
``PYTHONPATH=. python tests/test_anon_snapshot.py`` (from the repository
root) rewrites the recordings.
"""

from __future__ import annotations

import gc
import json
import os
import random
import subprocess
import sys

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
    "flat/as_sent": 17,
    "flat/original": 16,
    "flat/renamed": 17,
    "flat/no_kpi": 16,
    "jsonld2/as_sent": 21,
    "jsonld2/original": 19,
    "jsonld2/renamed": 21,
    "jsonld2/no_kpi": 19,
}
# the same with one shuffle partition and one default slice
SERVICE_JOB_BUDGET = {
    "flat/as_sent": 10,
    "flat/original": 9,
    "flat/renamed": 10,
    "flat/no_kpi": 9,
    "jsonld2/as_sent": 14,
    "jsonld2/original": 12,
    "jsonld2/renamed": 14,
    "jsonld2/no_kpi": 12,
}
# py4j round trips per request in that session.  With no garbage collection
# inside the count (:meth:`_Counters.run`) three replays of a request moved
# by at most 3%; the as-sent flat request and the JSON-LD ones sit 4-7%
# above the most measured, the other flat ones keep the 15% they had when
# collections landed inside the count.  A plan built as a Column tree costs
# one round trip per expression node, so a path that goes back to one shows
# here first.
PY4J_CEILING = {
    "flat/as_sent": 2100,
    "flat/original": 2000,
    "flat/renamed": 2150,
    "flat/no_kpi": 2200,
    "jsonld2/as_sent": 2450,
    "jsonld2/original": 2150,
    "jsonld2/renamed": 2450,
    "jsonld2/no_kpi": 2400,
}

# classes Spark compiles per request in that session: plans that spell the
# configuration out compiled 83-120 per request (69-106 for JSON-LD); the
# counts move between runs as Spark's 100-entry code cache evicts (its
# segments evict independently), hence the headroom
COMPILE_CEILING = {
    "flat/as_sent": 75,
    "flat/original": 75,
    "flat/renamed": 80,
    "flat/no_kpi": 65,
    "jsonld2/as_sent": 50,
    "jsonld2/original": 35,
    "jsonld2/renamed": 40,
    "jsonld2/no_kpi": 25,
}
# the replay's key for steady_type_compiles
STEADY = "steady/jsonld2"


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


class _Counters:
    """Per-request counters of one session: py4j round trips (every
    command the Python driver sends), classes Spark compiles (its static
    ``CodegenMetrics`` counter, so cache hits count nothing) and where each
    configured type's pivot starts (``engine._type_pivot`` is wrapped)."""

    def __init__(self, spark):
        import py4j.clientserver as cs

        from kgforge.anonymize import engine

        self.spark, self._cs, self._engine = spark, cs, engine
        metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.compiled = metrics.METRIC_COMPILATION_TIME().getCount
        self.calls = 0
        self.type_starts: list[int] = []

    def __enter__(self):
        send, pivot = self._cs.ClientServerConnection.send_command, self._engine._type_pivot
        self._send, self._pivot = send, pivot

        def counted(conn, command, *args, **kwargs):
            self.calls += 1
            return send(conn, command, *args, **kwargs)

        def marked_pivot(*args, **kwargs):
            self.type_starts.append(self.compiled())
            return pivot(*args, **kwargs)

        self._cs.ClientServerConnection.send_command = counted
        self._engine._type_pivot = marked_pivot
        return self

    def __exit__(self, *exc):
        self._cs.ClientServerConnection.send_command = self._send
        self._engine._type_pivot = self._pivot

    def run(self, endpoint, request, group: str):
        """(parsed response, Spark jobs, py4j round trips, classes
        compiled, classes compiled from the start of each configured type's
        pivot to the next one's or to the end of the request)."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        self.type_starts.clear()
        # py4j detaches a JavaObject when the garbage collector frees it:
        # collect what earlier requests left before the count starts, and
        # run no collection inside it, so a request is not charged for them
        gc.collect()
        gc.disable()
        before, classes = self.calls, self.compiled()
        try:
            resp = endpoint(self.spark, request)
        finally:
            trips = self.calls - before
            gc.enable()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        end = self.compiled()
        starts = self.type_starts
        per_type = [b - a for a, b in zip(starts, starts[1:] + [end])]
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        # round-trip through JSON so tuples, key order and number types
        # compare exactly as a client would parse them
        return json.loads(json.dumps(resp)), jobs, trips, end - classes, per_type


def run_all(spark) -> dict[str, tuple[dict, int, int, int, list[int]]]:
    """key → :meth:`_Counters.run` of that request."""
    with _Counters(spark) as counters:
        return {
            f"{kind}/{variant}": counters.run(
                endpoint, {**build(), **flags}, f"anon-snapshot-{kind}-{variant}"
            )
            for kind, (endpoint, build) in REQUESTS.items()
            for variant, flags in VARIANTS.items()
        }


def steady_type_compiles(spark, rounds: int = 3) -> list[int]:
    """Classes compiled per configured type of the last of ``rounds``
    flat/JSON-LD pairs of as-sent requests — the alternation of the
    benchmark's ``anon_requests`` workload."""
    with _Counters(spark) as counters:
        for i in range(rounds):
            for kind, (endpoint, build) in REQUESTS.items():
                per_type = counters.run(endpoint, build(), f"anon-steady-{kind}-{i}")[4]
    return per_type


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


@pytest.fixture(scope="module")
def service_runs(tmp_path_factory):
    """The requests replayed by ``python tests/test_anon_snapshot.py
    --replay 1 <out>`` in a session of its own."""
    out = tmp_path_factory.mktemp("service") / "runs.json"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": root}
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--replay", "1", str(out)],
        cwd=root, env=env, check=True, timeout=1200,
    )
    with open(out) as f:
        return json.load(f)


@pytest.mark.parametrize("key", sorted(SERVICE_JOB_BUDGET))
def test_single_partition_response_matches_snapshot(service_runs, recorded, key):
    assert service_runs[key][0] == recorded[key]


@pytest.mark.parametrize("key", sorted(SERVICE_JOB_BUDGET))
def test_single_partition_job_budget(service_runs, key):
    assert service_runs[key][1] <= SERVICE_JOB_BUDGET[key], (key, service_runs[key][1])


@pytest.mark.parametrize("key", sorted(PY4J_CEILING))
def test_single_partition_py4j_ceiling(service_runs, key):
    assert service_runs[key][2] <= PY4J_CEILING[key], (key, service_runs[key][2])


@pytest.mark.parametrize("key", sorted(COMPILE_CEILING))
def test_single_partition_compile_ceiling(service_runs, key):
    assert service_runs[key][3] <= COMPILE_CEILING[key], (key, service_runs[key][3:])


def test_second_type_reuses_the_first_types_classes(service_runs):
    """In a fresh session's flat/JSON-LD alternation — the benchmark's
    ``anon_requests`` loop — the JSON-LD request's second type (Object2,
    randomization only) runs the pivot and KPI plans its first type
    (Object1, masking and generalization) just compiled, and the write-back
    plan of the previous request's Object2.  Plans that spell the
    configuration out compiled 47-49 classes there; this one compiles 6-8
    in this session (4 in the benchmark's), the write-back's own classes
    that the flat request in between evicted."""
    per_type = service_runs[STEADY]
    assert len(per_type) == 2 and per_type[1] <= 10, per_type


def _session(partitions: int):
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.default.parallelism", str(partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "2g")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    return session


if __name__ == "__main__":
    if sys.argv[1:2] == ["--replay"]:
        # --replay <partitions> <out.json>: the steady alternation in the
        # fresh session, then every request's response and counters; no
        # re-recording
        session = _session(int(sys.argv[2]))
        steady = steady_type_compiles(session)
        runs = run_all(session)
        runs[STEADY] = steady
        with open(sys.argv[3], "w") as f:
            json.dump(runs, f)
        session.stop()
        sys.exit(0)
    session = _session(4)
    results = run_all(session)
    os.makedirs(os.path.dirname(SNAPSHOTS), exist_ok=True)
    with open(SNAPSHOTS, "w") as f:
        json.dump({k: v[0] for k, v in results.items()}, f, indent=1, sort_keys=True)
        f.write("\n")
    for k, (_, jobs, trips, classes, per_type) in results.items():
        print(k, "jobs", jobs, "py4j", trips, "compiled", classes, per_type)
    session.stop()

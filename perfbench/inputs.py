"""Seeded workload inputs and their on-disk cache.

Every input is a pure function of (workload, seed, size).  Generated inputs
are cached under ``.perfbench/cache/<workload>/s<seed>-<size spec>/`` inside
the checkout, so a repeated run with the same seed and size skips
generation.
"""

from __future__ import annotations

import json
import os
import random
import shutil

from kgforge.config import DEMO2_PREFIX, DEMO_PREFIX

DEMO_URL = "https://soya.ownyourdata.eu/AnonymisationDemo"
DEMO2_URL = "https://soya.ownyourdata.eu/AnonymisationDemo2"
XSD = "http://www.w3.org/2001/XMLSchema#"

SIZES = {
    "kg_build": {
        "default": {"docs": 8_000, "warm_docs": 60},
        "tiny": {"docs": 300, "warm_docs": 60},
    },
    "anon_requests": {
        "default": {"min_rows": 10, "max_rows": 200},
        "tiny": {"min_rows": 4, "max_rows": 12},
    },
}

_PLACES = (
    ("Wien", "Wien", "Austria"),
    ("Graz", "Steiermark", "Austria"),
    ("Linz", "Oberoesterreich", "Austria"),
    ("Salzburg", "Salzburg", "Austria"),
    ("Muenchen", "Bayern", "Germany"),
    ("Berlin", "Berlin", "Germany"),
    ("Zuerich", "Zuerich", "Switzerland"),
)


def cache_dir(root: str, workload: str, seed: int, size: str) -> str:
    spec = "-".join(f"{k}{v}" for k, v in sorted(SIZES[workload][size].items()))
    return os.path.join(root, ".perfbench", "cache", workload, f"s{seed}-{spec}")


# --- kg_build -----------------------------------------------------------


def kg_docs(spark, root: str, seed: int, size: str):
    """(main corpus, warm-up corpus, their doc counts), the corpora read
    back from parquet.  Rows are exactly ``synth_docs(spark, n, seed)``'s —
    the same per-document generator (``make_spans``) — written with pyarrow
    as one file per core, so generation starts no Spark job."""
    spec = SIZES["kg_build"][size]
    d = cache_dir(root, "kg_build", seed, size)
    out = []
    for name, n, s in (
        ("docs", spec["docs"], seed),
        ("warm_docs", spec["warm_docs"], seed + 1_000_003),
    ):
        path = os.path.join(d, f"{name}.parquet")
        if not os.path.isdir(path):
            _write_docs(path, n, s, len(os.sched_getaffinity(0)))
        out.append(spark.read.parquet(path))
    return out[0], out[1], spec["docs"], spec["warm_docs"]


def _write_docs(path: str, n: int, seed: int, files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgforge.kg.synth import make_spans

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span))])
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    bounds = [n * i // files for i in range(files + 1)]
    for part, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        ids = range(lo, hi)
        table = pa.table({
            "doc_id": [f"doc_{i:012d}" for i in ids],
            "spans": [make_spans(seed, i) for i in ids],
        }, schema=schema)
        pq.write_table(table, os.path.join(tmp, f"part-{part:05d}.parquet"))
    os.replace(tmp, path)


# --- anon_requests ------------------------------------------------------


def _date(rng: random.Random, y0: int, y1: int) -> str:
    return f"{rng.randint(y0, y1):04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"


def _person(rng: random.Random, i: int) -> dict:
    city, state, country = _PLACES[rng.randrange(len(_PLACES))]
    return {
        "name": f"Person {i}",
        "latitude": rng.randint(46, 49),
        "longitude": round(rng.uniform(9.5, 17.2), 6),
        "start_pv": _date(rng, 2015, 2024),
        "geburtsdatum": _date(rng, 1950, 2004),
        "gehalt": rng.randint(1800, 9000),
        "adresse": {"city": city, "state": state, "country": country},
    }


def flat_demo_request(rng: random.Random, n: int) -> dict:
    """Flat-JSON request over the AnonymisationDemo config."""
    rows = []
    for i in range(n):
        p = _person(rng, i)
        rows.append({"type": "AnonymisationDemo", **p})
    return {
        "configurationUrl": DEMO_URL,
        "prefix": DEMO_PREFIX,
        "randomSeed": rng.randint(1, 2**31 - 1),
        "data": rows,
    }


def jsonld_demo2_request(rng: random.Random, n: int) -> dict:
    """JSON-LD request over the AnonymisationDemo2 config: Object1 and
    Object2 nodes, a third of them carrying both types."""
    nodes = []
    for i in range(n):
        p = _person(rng, i)
        types = [t for t, keep in (("oyd:Object1", i % 3 != 2), ("oyd:Object2", i % 3 != 0)) if keep]
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
        "configurationUrl": DEMO2_URL,
        "randomSeed": rng.randint(1, 2**31 - 1),
        "data": {"@context": {"oyd": DEMO2_PREFIX, "xsd": XSD}, "@graph": nodes},
    }


# request kind -> (endpoint, builder).  The untimed warm-up request is a
# flat AnonymisationDemo request (it runs every operator kind); timed
# requests alternate between a JSON-LD AnonymisationDemo2 request and a flat
# AnonymisationDemo request, so every run sends both configs to both
# endpoints.
WARMUP = "warmup"
_BUILDERS = {
    "warmup": ("flat", flat_demo_request),
    "jsonld2": ("jsonld", jsonld_demo2_request),
    "flat": ("flat", flat_demo_request),
}


def request_id(i: int) -> str:
    return f"r{i}-{('jsonld2', 'flat')[i % 2]}"


def anon_request(root: str, seed: int, size: str, req_id: str) -> tuple[str, dict]:
    """(endpoint, request dict) for ``req_id`` ('warmup' or 'r<k>-<kind>')."""
    kind = req_id.split("-", 1)[-1]
    endpoint, build = _BUILDERS[kind]
    path = os.path.join(cache_dir(root, "anon_requests", seed, size), f"{req_id}.json")
    if os.path.isfile(path):
        with open(path) as f:
            return endpoint, json.load(f)
    spec = SIZES["anon_requests"][size]
    rng = random.Random(f"anon_requests:{seed}:{req_id}")
    req = build(rng, rng.randint(spec["min_rows"], spec["max_rows"]))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(req, f)
    os.replace(path + ".tmp", path)
    return endpoint, req

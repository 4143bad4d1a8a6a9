"""Correctness gate: invariants checked on every seed, plus golden digests
for the seeds recorded in ``golden.json``.

Each check returns a list of failure messages (empty = pass).  The checks
read only the inputs the benchmark generated and the outputs kgforge
returned; they never call back into the code under test except to read the
demo anonymization configs.
"""

from __future__ import annotations

import hashlib
import json
import os

from kgforge.config import CONFIG_BY_URL

SUFFIX = {"masking": "_masked", "generalization": "_generalized",
          "randomization": "_randomized"}
MASK = "*****"
SOYA = "http://ns.ownyourdata.eu/ns/soya-context/"
KPI_PREFIX = SOYA + "kpi"
K_ANONYMITY = SOYA + "kanonymity"
NR_BUCKETS = SOYA + "nrBucketsUsed"

GOLDEN_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden.json")


def digest(obj) -> str:
    """Order-independent for lists of rows: callers sort before hashing."""
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()).hexdigest()[:16]


def golden(workload: str, size: str, seed: int) -> dict | None:
    with open(GOLDEN_PATH) as f:
        return json.load(f).get(workload, {}).get(size, {}).get(str(seed))


def compare_golden(expected: dict | None, got: dict) -> list[str]:
    if expected is None:
        return []
    return [
        f"golden {key}: expected {want}, got {got.get(key)}"
        for key, want in sorted(expected.items())
        if got.get(key) != want
    ]


def _local(iri: str) -> str:
    return iri.rsplit("/", 1)[-1].rsplit("#", 1)[-1]


# --- kg_build -----------------------------------------------------------


def kg_invariants(n_docs: int, span_counts: int, span_count_subjects: int,
                  rows_written: int, rows_read: int) -> list[str]:
    fails = []
    if span_counts != n_docs or span_count_subjects != n_docs:
        fails.append(
            f"expected one spanCount triple per doc ({n_docs}), got "
            f"{span_counts} triples on {span_count_subjects} subjects")
    if rows_written != rows_read:
        fails.append(f"write_graph reported {rows_written} rows, read back {rows_read}")
    if rows_written <= n_docs:
        fails.append(f"only {rows_written} triples for {n_docs} docs")
    return fails


# --- anon_requests ------------------------------------------------------


def _kpi_fails(kpis: dict[str, dict], config: dict, n_subjects: dict[str, int]) -> list[str]:
    """``kpis``: type local name → {"k": int, "buckets": {attr: int}}."""
    fails = []
    for type_iri, attrs in config.items():
        t = _local(type_iri)
        block = kpis.get(t)
        if block is None:
            fails.append(f"response has no KPI block for {t}")
            continue
        k, n = block.get("k"), n_subjects.get(t, 0)
        if not isinstance(k, int) or not 1 <= k <= max(n, 1):
            fails.append(f"{t}: k-anonymity {k!r} outside [1, {n}]")
        for attr, cfg in attrs.items():
            if cfg.strategy == "masking":
                continue
            g = block.get("buckets", {}).get(_local(attr))
            if not isinstance(g, int) or g < 1:
                fails.append(f"{t}.{_local(attr)}: bucket count {g!r}")
    return fails


def _attr_fails(subject: str, node: dict, present: list[str], config_attrs: dict,
                key) -> list[str]:
    """No original configured predicate left, exactly one suffixed value,
    masked values equal the mask."""
    fails = []
    for attr in present:
        cfg = config_attrs[attr]
        orig, new = key(attr), key(attr) + SUFFIX[cfg.strategy]
        if orig in node:
            fails.append(f"{subject}: original {_local(attr)} left in output")
        value = node.get(new)
        if value is None or isinstance(value, list):
            fails.append(f"{subject}: expected one {_local(new)} value, got {value!r}")
        elif cfg.strategy == "masking" and value != MASK:
            fails.append(f"{subject}: masked {_local(attr)} is {value!r}")
    return fails


def check_flat_response(request: dict, response: dict) -> tuple[list[str], dict]:
    """(failures, golden fields) for an anonymize_flat_json response."""
    config = CONFIG_BY_URL[request["configurationUrl"]]
    rows = request["data"]
    data = response.get("data")
    if not isinstance(data, list) or len(data) != len(rows):
        return [f"expected {len(rows)} output rows, got "
                f"{len(data) if isinstance(data, list) else data!r}"], {}
    fails = []
    for i, (row, out) in enumerate(zip(rows, data)):
        types = row["type"] if isinstance(row["type"], list) else [row["type"]]
        if out.get("types") != types:
            fails.append(f"row {i}: types {out.get('types')!r}, expected {types!r}")
        for t in types:
            attrs = {_local(a): c for a, c in config.get(request["prefix"] + t, {}).items()}
            present = [a for a in attrs if a in row]
            fails += _attr_fails(f"row {i}", out, present, attrs, lambda a: a)
    kpis = {}
    for name, block in (response.get("kpis") or {}).items():
        kpis[name[len("kpi"):]] = {
            "k": block.get("k-Anonymity"),
            "buckets": {a: v.get("nrBuckets") for a, v in block.items()
                        if isinstance(v, dict) and "nrBuckets" in v},
        }
    n_subjects = {}
    for row in rows:
        for t in row["type"] if isinstance(row["type"], list) else [row["type"]]:
            n_subjects[t] = n_subjects.get(t, 0) + 1
    fails += _kpi_fails(kpis, config, n_subjects)
    return fails, {"kpis": digest(kpis)}


def check_jsonld_response(request: dict, response: dict) -> tuple[list[str], dict]:
    """(failures, golden fields) for an anonymize_jsonld_response body."""
    config = CONFIG_BY_URL[request["configurationUrl"]]
    ctx = request["data"]["@context"]
    pfx, ns = next((k, v) for k, v in ctx.items() if k != "xsd")
    compact = lambda iri: pfx + ":" + iri[len(ns):] if iri.startswith(ns) else iri  # noqa: E731
    graph = response.get("@graph")
    if not isinstance(graph, list):
        return [f"response has no @graph: {sorted(response)[:5]}"], {}
    by_id = {n.get("@id"): n for n in graph}
    fails = []
    n_subjects: dict[str, int] = {}
    for node in request["data"]["@graph"]:
        types = node["@type"] if isinstance(node["@type"], list) else [node["@type"]]
        out = by_id.get(node["@id"])
        if out is None:
            fails.append(f"{node['@id']}: missing from the response")
            continue
        for t in types:
            type_iri = ns + t.split(":", 1)[1]
            if type_iri not in config:
                continue
            n_subjects[_local(type_iri)] = n_subjects.get(_local(type_iri), 0) + 1
            attrs = config[type_iri]
            present = [a for a in attrs if compact(a) in node]
            fails += _attr_fails(node["@id"], out, present, attrs, compact)
    kpis = {}
    for type_iri in config:
        kpi_node = by_id.get(KPI_PREFIX + _local(type_iri))
        if kpi_node is None:
            continue
        k = kpi_node.get(K_ANONYMITY, {})
        buckets = {}
        for attr in config[type_iri]:
            g = by_id.get(compact(attr), {}).get(NR_BUCKETS)
            if g is not None:
                buckets[_local(attr)] = int(g["@value"])
        kpis[_local(type_iri)] = {
            "k": int(k["@value"]) if isinstance(k, dict) and "@value" in k else k,
            "buckets": buckets,
        }
    fails += _kpi_fails(kpis, config, n_subjects)
    return fails, {"kpis": digest(kpis)}

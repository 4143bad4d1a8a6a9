"""The two workloads.  Each exposes ``prepare()`` (inputs) and ``warmup()``
(one checked warm-up operation) — both untimed and counted in ``setup_s`` —
``op(i)`` (one timed operation, returns its record), ``check_op(rec)`` and
``final_checks()`` (untimed invariants over the run's outputs).

Every call into kgforge goes through the module attribute
(``pipeline.build_kg``, ``api.anonymize_flat_json``, …) so traced runs see
the tracer's wrappers.
"""

from __future__ import annotations

import os
import shutil
from statistics import median

from perfbench import checks, inputs
from perfbench.clock import Interval
from perfbench.tracer import dir_bytes

# fixed SPARQL query set over the graph read back from disk
KG_NS = "http://kgforge.dev/ns/"
QUERIES = (
    # entity mentions per type (join + group)
    f"PREFIX kg: <{KG_NS}> SELECT ?t (COUNT(?d) AS ?n) "
    "WHERE { ?d kg:mentions ?e . ?e a ?t } GROUP BY ?t",
    # most-mentioned entities (top-k)
    f"PREFIX kg: <{KG_NS}> SELECT ?e ?c WHERE {{ ?e kg:mentionCount ?c }} "
    "ORDER BY DESC(?c) ?e LIMIT 5",
    # docs with an image that mention a person (4-way join)
    f"PREFIX kg: <{KG_NS}> SELECT (COUNT(DISTINCT ?d) AS ?n) WHERE {{ "
    '?d kg:hasMedia ?m . ?m kg:mediaKind "image" . ?d kg:mentions ?e . '
    "?e a kg:Person }",
    # near-duplicate surface clusters
    f"PREFIX kg: <{KG_NS}> SELECT ?s ?c WHERE {{ ?s kg:nearDuplicateOf ?c }}",
    # long documents (numeric filter over a large predicate partition)
    f"PREFIX kg: <{KG_NS}> SELECT (COUNT(?d) AS ?n) "
    "WHERE { ?d kg:spanCount ?c FILTER(?c > 8) }",
    # entity names with optional counts (left join)
    f"PREFIX kg: <{KG_NS}> SELECT ?n ?c WHERE {{ ?e kg:canonicalName ?n . "
    "OPTIONAL { ?e kg:mentionCount ?c } }",
)
QUERY_SET_REPEATS = 3


class KgBuild:
    """build_kg → write_graph → fixed SPARQL set over the stored graph."""

    def __init__(self, spark, root: str, seed: int, size: str):
        self.spark, self.root, self.seed, self.size = spark, root, seed, size
        self.work = os.path.join(root, ".perfbench", "work", "kg_build")
        self.results: list[dict] = []

    def prepare(self) -> None:
        self.docs, self.warm_docs, self.n_docs, self.n_warm = inputs.kg_docs(
            self.spark, self.root, self.seed, self.size)

    def warmup(self) -> list[str]:
        """One checked build → write on the small warm-up corpus.  The query
        set is not warmed here: each timed operation reports the median of
        its QUERY_SET_REPEATS runs, which drops the first, coldest one."""
        return self.check_op(
            self._cycle(self.warm_docs, self.n_warm, "warmup", repeats=0))

    def op(self, i: int) -> dict:
        rec = self._cycle(self.docs, self.n_docs, f"op{i}")
        self.results.append(rec)
        return rec

    def _cycle(self, docs, n_docs: int, tag: str,
               repeats: int = QUERY_SET_REPEATS) -> dict:
        from kgforge.kg import io as kgio
        from kgforge.kg import pipeline
        from kgforge import sparql

        path = os.path.join(self.work, "graph")
        shutil.rmtree(path, ignore_errors=True)
        with Interval() as build:
            triples, _metrics = pipeline.build_kg(docs, collect_metrics=False)
            snap = kgio.write_graph(
                triples, path, stage="kg_build", fingerprint=f"{self.seed}-{tag}")
        graph = self.spark.read.parquet(path)
        sets, answers = [], None
        for _ in range(repeats):
            with Interval() as qs:
                got = [sorted(map(tuple, sparql.sparql_select(graph, q).collect()))
                       for q in QUERIES]
            sets.append(qs)
            if answers is not None and got != answers:
                raise AssertionError("query results changed between repeats")
            answers = got
        return {
            "build_write_s": build.seconds,
            "build_write_wall_s": build.wall,
            "query_set_s": median(q.seconds for q in sets) if sets else None,
            "query_set_wall_s": median(q.wall for q in sets) if sets else None,
            "docs": n_docs,
            "triples": snap["rows"],
            "bytes": dir_bytes(path),
            "answers": answers,
            "graph": graph,
        }

    def check_op(self, rec: dict) -> list[str]:
        from pyspark.sql import functions as F

        g = rec["graph"]
        sc = g.filter(F.col("pred") == KG_NS + "spanCount").agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("subj").alias("s")).first()
        return checks.kg_invariants(
            rec["docs"], sc["n"], sc["s"], rec["triples"], g.count())

    def final_checks(self) -> tuple[list[str], dict]:
        from pyspark.sql import functions as F

        from kgforge.kg.pipeline import span_sequence_check

        fails = []
        violations = span_sequence_check(self.docs)
        if violations:
            fails.append(f"span_sequence_check reported {violations} violations")
        if any(r["answers"] != self.results[0]["answers"] for r in self.results):
            fails.append("query results differ between operations on the same graph")
        # order-independent digest: count + sum of per-row 64-bit hashes
        h = F.xxhash64("subj", "pred", "obj_value", "obj_dtype", "obj_is_iri")
        row = self.results[-1]["graph"].agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(h.cast("decimal(38,0)")).alias("h")).first()
        got = {"graph": f"{row['n']}:{row['h']}",
               "queries": checks.digest([list(map(list, a)) for a in self.results[-1]["answers"]])}
        return fails, got

    @staticmethod
    def summarize(records: list[dict]):
        """(throughput_per_s, latency_p50_s, workload-specific figures):
        triples written per second of build_kg + write_graph, and the median
        query-set time."""
        triples = sum(r["triples"] for r in records)
        rate = triples / sum(r["build_write_s"] for r in records)
        query = median(r["query_set_s"] for r in records)
        return rate, query, [
            ("kg_triples_per_s", rate, "triples/s"),
            ("kg_query_set_s", query, "s"),
            ("kg_bytes_per_triple", sum(r["bytes"] for r in records) / triples, "B"),
            ("wall_kg_triples_per_s",
             triples / sum(r["build_write_wall_s"] for r in records), "triples/s"),
            ("wall_kg_query_set_s", median(r["query_set_wall_s"] for r in records), "s"),
        ]


class AnonRequests:
    """Closed loop, one client: back-to-back requests to the two API
    endpoints, every response checked."""

    def __init__(self, spark, root: str, seed: int, size: str):
        self.spark, self.root, self.seed, self.size = spark, root, seed, size
        self.digests: dict[str, str] = {}

    def prepare(self) -> None:
        pass  # requests are generated (or read from the cache) per call

    def warmup(self) -> list[str]:
        return self.check_op(self._request(inputs.WARMUP))

    def op(self, i: int) -> dict:
        return self._request(inputs.request_id(i))

    def _request(self, req_id: str) -> dict:
        from kgforge import api

        endpoint, req = inputs.anon_request(self.root, self.seed, self.size, req_id)
        fn = api.anonymize_flat_json if endpoint == "flat" else api.anonymize_jsonld_response
        with Interval() as iv:
            resp = fn(self.spark, req)
        return {"id": req_id, "endpoint": endpoint, "latency_s": iv.seconds,
                "wall_s": iv.wall, "request": req, "response": resp}

    def check_op(self, rec: dict) -> list[str]:
        check = (checks.check_flat_response if rec["endpoint"] == "flat"
                 else checks.check_jsonld_response)
        fails, got = check(rec["request"], rec["response"])
        self.digests.update({f"{rec['id']}.{k}": v for k, v in got.items()})
        return [f"{rec['id']}: {m}" for m in fails]

    def final_checks(self) -> tuple[list[str], dict]:
        return [], dict(self.digests)

    @staticmethod
    def summarize(records: list[dict]):
        """(throughput_per_s, latency_p50_s, workload-specific figures):
        requests completed per second of request time, and the median
        request latency."""
        lat = [r["latency_s"] for r in records]
        p50 = median(lat)
        return len(lat) / sum(lat), p50, [
            ("request_p50_s", p50, f"s (n={len(lat)})"),
            ("wall_request_p50_s", median(r["wall_s"] for r in records), f"s (n={len(lat)})"),
        ]


WORKLOADS = {"kg_build": KgBuild, "anon_requests": AnonRequests}


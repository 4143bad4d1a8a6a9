"""Ingest codecs: flat JSON rows and (a narrow profile of) JSON-LD → triples.

Flat-row semantics follow the reference exactly (FaltJsonService.java:40-93):
one resource ``prefix + "object<i>"`` per row, typed ``prefix +
"anonymizationObject"``, an injected integer ``counter`` literal preserving
input order, ``type`` key (string or list) adding extra rdf:types, scalar
values stored as *string* literals via toString, one level of nested map
becoming a blank-node sub-resource with string properties, and key validation
``^[a-zA-Z_][a-zA-Z0-9_]*$`` over the whole key (FaltJsonService.java:267-277).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.javarandom import java_double_str
from kgforge.triples import RDF_TYPE, triples_df

FLAT_OBJECT_NAME = "anonymizationObject"
_KEY_RE = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*")


class RequestModelError(ValueError):
    """Invalid request model (reference: exceptions/RequestModelException.java;
    400, GlobalExceptionHandler.java:58-65)."""


def _scalar_to_string(value) -> str:
    """Jackson Object.toString() parity: ints → repr, doubles → Java
    Double.toString, bools → true/false (FaltJsonService.java:90-92)."""
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, float):
        return java_double_str(value)
    return str(value)


def flat_rows_to_triple_tuples(rows: list[dict], prefix: str) -> list[tuple]:
    """Driver-side flat ingest for request-sized payloads (fixture parity).

    For table-sized inputs use :func:`flat_df_to_triples` instead.
    """
    flat_type = prefix + FLAT_OBJECT_NAME
    out: list[tuple] = []
    bnode_n = 0
    for counter, entry in enumerate(rows):
        subj = f"{prefix}object{counter}"
        out.append((subj, RDF_TYPE, flat_type, "iri", True))
        out.append((subj, prefix + "counter", str(counter), "xsd:integer", False))
        for key, value in entry.items():
            if not _KEY_RE.fullmatch(key):
                raise RequestModelError(f"Invalid property key: {key}")
            if key == "type":
                vals = value if isinstance(value, list) else ([value] if value is not None else [])
                for v in vals:
                    out.append((subj, RDF_TYPE, prefix + str(v), "iri", True))
            elif isinstance(value, dict):
                bnode = f"_:b{bnode_n}"
                bnode_n += 1
                out.append((subj, prefix + key, bnode, "iri", True))
                for k2, v2 in value.items():
                    out.append((bnode, prefix + str(k2), _scalar_to_string(v2), "string", False))
            elif value is not None:
                out.append((subj, prefix + key, _scalar_to_string(value), "string", False))
    return out


def flat_rows_to_triples(spark: SparkSession, rows: list[dict], prefix: str) -> DataFrame:
    return triples_df(spark, flat_rows_to_triple_tuples(rows, prefix))


def flat_df_to_triples(df: DataFrame, prefix: str) -> DataFrame:
    """Distributed flat ingest: melt a wide DataFrame into the triple table.

    Scale path for the same semantics — scalar columns become string literals,
    subjects are minted from a global row number (counter), and a ``type``
    column adds one extra rdf:type per row.  The melt is a single
    ``posexplode`` over a struct array (no per-row Python); counter assignment
    uses zipWithIndex-style partition offsets, not a global window.
    The indexed frame is checkpointed, so the result reads no cache.
    """
    from kgforge.rank import with_global_index

    cols = [c for c in df.columns if c != "type"]
    caches: list = []
    try:
        d = with_global_index(df, out="_counter", cleanup=caches).localCheckpoint(
            eager=True
        )
    finally:
        for c in caches:
            c.unpersist()
    subj = F.concat(F.lit(prefix + "object"), F.col("_counter").cast("string"))
    d = d.withColumn("_subj", subj)

    flat_type = prefix + FLAT_OBJECT_NAME
    parts = [
        d.select(
            F.col("_subj").alias("subj"),
            F.lit(RDF_TYPE).alias("pred"),
            F.lit(flat_type).alias("obj_value"),
            F.lit("iri").alias("obj_dtype"),
            F.lit(True).alias("obj_is_iri"),
        ),
        d.select(
            F.col("_subj").alias("subj"),
            F.lit(prefix + "counter").alias("pred"),
            F.col("_counter").cast("string").alias("obj_value"),
            F.lit("xsd:integer").alias("obj_dtype"),
            F.lit(False).alias("obj_is_iri"),
        ),
    ]
    if "type" in df.columns:
        parts.append(
            d.select(
                F.col("_subj").alias("subj"),
                F.lit(RDF_TYPE).alias("pred"),
                F.concat(F.lit(prefix), F.col("type").cast("string")).alias("obj_value"),
                F.lit("iri").alias("obj_dtype"),
                F.lit(True).alias("obj_is_iri"),
            ).filter(F.col("obj_value").isNotNull())
        )
    if cols:
        kv = F.array(
            *[
                F.struct(
                    F.lit(prefix + c).alias("pred"),
                    F.col(c).cast("string").alias("obj_value"),
                )
                for c in cols
            ]
        )
        melted = (
            d.select("_subj", F.explode(kv).alias("kv"))
            .select(
                F.col("_subj").alias("subj"),
                F.col("kv.pred").alias("pred"),
                F.col("kv.obj_value").alias("obj_value"),
                F.lit("string").alias("obj_dtype"),
                F.lit(False).alias("obj_is_iri"),
            )
            .filter(F.col("obj_value").isNotNull())
        )
        parts.append(melted)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# JSON-LD (narrow profile used by the reference fixtures): @context prefix
# map, @graph node list, @id/@type, {"@value","@type"} typed literals,
# "@list", nested node refs.  The reference feeds this to Jena's JSON-LD
# parser (AnonymizationService.java:139-149); we normalize the same profile.
# --------------------------------------------------------------------------

_XSD_SHORT = {
    "http://www.w3.org/2001/XMLSchema#integer": "xsd:integer",
    "http://www.w3.org/2001/XMLSchema#long": "xsd:long",
    "http://www.w3.org/2001/XMLSchema#double": "xsd:double",
    "http://www.w3.org/2001/XMLSchema#decimal": "xsd:double",
    "http://www.w3.org/2001/XMLSchema#date": "xsd:date",
    "http://www.w3.org/2001/XMLSchema#dateTime": "xsd:dateTime",
    "http://www.w3.org/2001/XMLSchema#boolean": "xsd:boolean",
    "http://www.w3.org/2001/XMLSchema#string": "string",
}


class _Ctx:
    def __init__(self, context: dict | None):
        self.prefixes = {}
        if context:
            for k, v in context.items():
                if isinstance(v, str) and not k.startswith("@"):
                    self.prefixes[k] = v

    def expand(self, term: str) -> str:
        if term.startswith("@"):
            return term
        if ":" in term:
            pfx, rest = term.split(":", 1)
            if pfx in self.prefixes and not rest.startswith("//"):
                return self.prefixes[pfx] + rest
            if pfx in ("http", "https", "urn", "_"):
                return term
        if term in self.prefixes:
            return self.prefixes[term]
        return term


def jsonld_to_triple_tuples(doc: dict) -> list[tuple]:
    """Normalize the fixture JSON-LD profile into triple tuples."""
    ctx = _Ctx(doc.get("@context") if isinstance(doc, dict) else None)
    out: list[tuple] = []
    state = {"bnode_n": 0}

    def node_id(node: dict) -> str:
        nid = node.get("@id")
        if nid is None:
            state["bnode_n"] += 1
            return f"_:jb{state['bnode_n']}"
        return ctx.expand(nid)

    def emit_value(subj: str, pred: str, v):
        if isinstance(v, dict):
            if "@value" in v:
                dt = v.get("@type")
                dt_iri = ctx.expand(dt) if dt else None
                short = _XSD_SHORT.get(dt_iri, dt.split(":")[-1] if dt else "string")
                if dt and not dt_iri.startswith("http"):
                    short = _XSD_SHORT.get("http://www.w3.org/2001/XMLSchema#" + dt.split(":")[-1], "string")
                out.append((subj, pred, str(v["@value"]), "xsd:" + short.replace("xsd:", "") if short != "string" else "string", False))
            elif "@list" in v:
                emit_list(subj, pred, v["@list"])
            elif set(v.keys()) <= {"@id"}:
                out.append((subj, pred, ctx.expand(v["@id"]), "iri", True))
            else:
                child = walk(v)
                out.append((subj, pred, child, "iri", True))
        elif isinstance(v, bool):
            out.append((subj, pred, "true" if v else "false", "xsd:boolean", False))
        elif isinstance(v, int):
            out.append((subj, pred, str(v), "xsd:integer", False))
        elif isinstance(v, float):
            out.append((subj, pred, java_double_str(v), "xsd:double", False))
        else:
            out.append((subj, pred, str(v), "string", False))

    def emit_list(subj: str, pred: str, items):
        from kgforge.triples import RDF_FIRST, RDF_NIL, RDF_REST

        prev, prev_pred = subj, pred
        for item in items:
            state["bnode_n"] += 1
            cell = f"_:jl{state['bnode_n']}"
            out.append((prev, prev_pred, cell, "iri", True))
            emit_value(cell, RDF_FIRST, item)
            prev, prev_pred = cell, RDF_REST
        out.append((prev, prev_pred, RDF_NIL, "iri", True))

    def walk(node: dict) -> str:
        subj = node_id(node)
        for k, v in node.items():
            if k in ("@id", "@context"):
                continue
            if k == "@type":
                types = v if isinstance(v, list) else [v]
                for t in types:
                    t_iri = ctx.expand(t)
                    if ":" in t_iri:  # expansion drops non-IRI types
                        out.append((subj, RDF_TYPE, t_iri, "iri", True))
                continue
            pred = ctx.expand(k)
            if ":" not in pred:
                # JSON-LD expansion rule: a term that is neither a keyword,
                # an IRI, nor context-defined is DROPPED — this is how Jena
                # turns a flat-JSON payload sent to the JSON-LD endpoint
                # into an EMPTY model (error fixture 04's golden is the
                # k-Anonymity-1 KPI document, not an error)
                continue
            vals = v if isinstance(v, list) else [v]
            for item in vals:
                emit_value(subj, pred, item)
        return subj

    if isinstance(doc, list):
        # a bare node array is a valid JSON-LD document (no context)
        graph = doc
    else:
        graph = doc.get("@graph")
        if graph is None:
            graph = (
                [doc]
                if any(not k.startswith("@") or k == "@type" for k in doc)
                else []
            )
    for node in graph:
        walk(node)
    return out


def jsonld_to_triples(spark: SparkSession, doc: dict) -> DataFrame:
    return triples_df(spark, jsonld_to_triple_tuples(doc))


def jsonld_lines_to_triples(lines: DataFrame) -> DataFrame:
    """Distributed JSON-LD ingest: one JSON-LD document per row of the
    ``value`` column (the JSONL layout object stores ship at corpus scale,
    as ``spark.read.text`` reads it) → triple DataFrame.

    Each document is normalized independently inside an Arrow batch with the
    same profile as :func:`jsonld_to_triple_tuples`; blank-node labels are
    made globally unique by suffixing the intra-document label with a hash
    of the line *plus* the row's position (``monotonically_increasing_id``),
    so unioned documents never collide — including byte-identical duplicate
    lines, which are distinct documents and must keep distinct blank nodes.

    A malformed line fails the task, and with it the job (batch-job
    semantics: no line is dropped silently).
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("subj", T.StringType(), False),
            T.StructField("pred", T.StringType(), False),
            T.StructField("obj_value", T.StringType(), True),
            T.StructField("obj_dtype", T.StringType(), False),
            T.StructField("obj_is_iri", T.BooleanType(), False),
        ]
    )

    def normalize(batches):
        import hashlib
        import json as _json

        import pandas as pd

        for pdf in batches:
            rows = {"subj": [], "pred": [], "obj_value": [], "obj_dtype": [], "obj_is_iri": []}
            for line, rowid in zip(pdf["value"], pdf["_kgforge_rowid"]):
                if not line or not line.strip():
                    continue
                tag = hashlib.sha256(line.encode()).hexdigest()[:12] + f".{int(rowid)}"
                for s, p, o, dt, iri in jsonld_to_triple_tuples(_json.loads(line)):
                    if s.startswith("_:"):
                        s = f"{s}.{tag}"
                    if iri and isinstance(o, str) and o.startswith("_:"):
                        o = f"{o}.{tag}"
                    rows["subj"].append(s)
                    rows["pred"].append(p)
                    rows["obj_value"].append(o)
                    rows["obj_dtype"].append(dt)
                    rows["obj_is_iri"].append(iri)
            yield pd.DataFrame(rows)

    tagged = lines.withColumn(
        "_kgforge_rowid", F.monotonically_increasing_id()
    )
    return tagged.mapInPandas(normalize, schema=schema)

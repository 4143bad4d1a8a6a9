"""Triples → JSON-LD serialization (reference S4: Model.write(out, "JSON-LD"),
AnonymizationService.java:41-46).

``serialize_jsonld`` is the one serializer: it collects a request-sized
model and compacts it into the reference's response document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from kgforge.triples import RDF_MAX, RDF_MIN, RDF_TYPE

XSD_NS = "http://www.w3.org/2001/XMLSchema#"

# internal dtype tag → full datatype IRI (compacted against the request
# context at serialization time, so xsd:double with an xsd prefix prints
# "xsd:double" and without one prints the absolute IRI — both observed in
# the reference goldens, 12-generalization.json vs 16-multiple-objects.json)
_DTYPE_IRI = {
    "xsd:double": XSD_NS + "double",
    "xsd:float": XSD_NS + "float",
    "xsd:integer": XSD_NS + "integer",
    "xsd:long": XSD_NS + "long",
    "xsd:int": XSD_NS + "int",
    "xsd:date": XSD_NS + "date",
    "xsd:dateTime": XSD_NS + "dateTime",
    "xsd:boolean": XSD_NS + "boolean",
}


def serialize_jsonld(triples: DataFrame, context: dict | None = None) -> dict:
    """Byte-exact twin of the reference's response serialization
    (Jena Model.write JSON-LD 1.1, AnonymizationService.java:41-46):

    - IRIs (subjects, @type values, objects, predicates, datatypes) compact
      against the request's ``@context`` prefixes, longest namespace first;
      unmatched IRIs stay absolute.
    - rdf:type with an IRI object becomes ``@type`` (scalar when single,
      list when multiple); the bucket entities' *string-literal* rdf:type
      quirk stays a plain property under the absolute rdf:type IRI
      (Generalization.java:75).
    - plain strings serialize bare; typed literals as ``{"@value", "@type"}``.
    - date bucket bounds type as ``java:java.time.LocalDate`` — Jena has no
      registered mapping for LocalDate, so ``addLiteral(LocalDate)`` mints
      the adhoc ``java:`` datatype (observed in 12-generalization.json).
    - k-anonymity / nrBucketsUsed type as xsd:long (addLiteral(long)).
    - a single-subject model serializes as a bare node object (no @graph),
      and @context is omitted when empty — both per 04-no-json-ld.json.

    Node order inside @graph and value order inside arrays follow collection
    order (Jena's is hash-dependent); comparisons must be order-insensitive
    at those two spots.
    """
    ctx = {k: v for k, v in (context or {}).items() if not k.startswith("@")}
    prefixes = sorted(
        ((ns, pfx) for pfx, ns in ctx.items() if isinstance(ns, str)),
        key=lambda t: -len(t[0]),
    )

    def compact(iri: str) -> str:
        for ns, pfx in prefixes:
            if iri.startswith(ns) and len(iri) > len(ns):
                return f"{pfx}:{iri[len(ns):]}"
        return iri

    rows = triples.select("subj", "pred", "obj_value", "obj_dtype", "obj_is_iri").collect()
    by_subj: dict[str, list] = {}
    for r in rows:
        by_subj.setdefault(r["subj"], []).append(
            (r["pred"], r["obj_value"], r["obj_dtype"], r["obj_is_iri"])
        )

    def node_of(subj: str, prs: list) -> dict:
        node: dict = {"@id": compact(subj)}
        types: list = []
        for pred, value, dtype, is_iri in prs:
            if pred == RDF_TYPE and is_iri:
                types.append(compact(value))
                continue
            key = compact(pred)
            if is_iri:
                v: object = {"@id": compact(value)}
            elif dtype in (None, "string"):
                v = value
            else:
                if dtype == "xsd:date" and pred in (RDF_MIN, RDF_MAX):
                    dt_iri = "java:java.time.LocalDate"
                else:
                    dt_iri = _DTYPE_IRI.get(dtype, dtype)
                v = {"@value": value, "@type": compact(dt_iri)}
            if key in node:
                prev = node[key]
                node[key] = prev + [v] if isinstance(prev, list) else [prev, v]
            else:
                node[key] = v
        if types:
            node["@type"] = types[0] if len(types) == 1 else types
        return node

    nodes = [node_of(s, prs) for s, prs in sorted(by_subj.items())]
    if len(nodes) == 1:
        doc = dict(nodes[0])
    else:
        doc = {"@graph": nodes}
    if ctx:
        doc["@context"] = dict(ctx)
    return doc

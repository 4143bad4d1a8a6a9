"""Anonymization configuration: the catalog that drives the transform DAG.

Relational form of the SOyA configuration knowledge graph.  Extraction
semantics follow the reference's config SPARQL (data/QueryBuildingService.java:15-28):

    ?overlay a soya:OverlayClassification ; soya:onBase ?anonymizationObject .
    ?property rdfs:domain ?anonymizationObject ; rdfs:range ?datatype ;
              soya:classification ?anonymization .   # in {generalization, randomization, masking}

plus the ordered attributeOrder RDF list for object generalization
(QueryBuildingService.java:48-63).  The config is tiny (10s of rows), so it is
extracted driver-side and effectively broadcast into every generated plan.

The reference fetches this graph over HTTP (ConfigurationService.java:54-101);
here the loader is injectable — pass a parsed JSON-LD dict or triples.
"""

from __future__ import annotations

from dataclasses import dataclass, field

SOYA_NS = "https://w3id.org/soya/ns#"
RDFS_DOMAIN = "http://www.w3.org/2000/01/rdf-schema#domain"
RDFS_RANGE = "http://www.w3.org/2000/01/rdf-schema#range"

from kgforge.triples import RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, local_name


class OntologyError(ValueError):
    """Invalid / duplicate configuration (reference: exceptions/OntologyException.java)."""


@dataclass(frozen=True)
class AttrConfig:
    datatype: str  # integer | double | date | dateTime | string | <object, e.g. "address">
    strategy: str  # masking | generalization | randomization
    attr_order: tuple[str, ...] = field(default_factory=tuple)  # hierarchy ladder

    @property
    def is_object_generalization(self) -> bool:
        # generalization over a non-scalar datatype → hierarchy ladder
        # (reference: ConfigurationService.java:141-148)
        return self.strategy == "generalization" and self.datatype not in (
            "integer",
            "double",
            "date",
        )


# object_type IRI -> {attribute IRI -> AttrConfig}
AnonymizationConfig = dict[str, dict[str, AttrConfig]]


def extract_config(config_triples) -> AnonymizationConfig:
    """Extract the config from a list of triple tuples.

    Mirrors QueryService.getConfigurations + ConfigurationService.extractConfig:
    5-way self-join on the config graph, literal-only classification filtered to
    the three strategies, duplicate-property error, attributeOrder closure.
    """
    spo: dict[tuple[str, str], list] = {}
    for s, p, o, _dt, _iri in config_triples:
        spo.setdefault((s, p), []).append(o)

    def objs(s, p):
        return spo.get((s, p), [])

    configs: AnonymizationConfig = {}
    seen_props: set[str] = set()
    # ?overlay a soya:OverlayClassification ; soya:onBase ?obj
    overlays = [s for (s, p), vals in spo.items()
                if p == RDF_TYPE and SOYA_NS + "OverlayClassification" in vals]
    on_bases = {base for ov in overlays for base in objs(ov, SOYA_NS + "onBase")}
    # ?property rdfs:domain ?obj ; rdfs:range ?dt ; soya:classification ?anon
    for (s, p), vals in sorted(spo.items()):
        if p != RDFS_DOMAIN:
            continue
        prop = s
        for obj_type in vals:
            if obj_type not in on_bases:
                continue
            for dt in objs(prop, RDFS_RANGE):
                for anon in objs(prop, SOYA_NS + "classification"):
                    anon_str = local_name(str(anon))
                    if anon_str not in ("generalization", "randomization", "masking"):
                        continue  # VALUES filter; IRI-valued classification nodes skipped
                    if prop in seen_props:
                        raise OntologyError(
                            f"Duplicate Property key found in Ontology: {prop}"
                        )
                    seen_props.add(prop)
                    dt_str = local_name(str(dt))
                    order: tuple[str, ...] = ()
                    if anon_str == "generalization" and dt_str not in (
                        "integer", "double", "date",
                    ):
                        order = tuple(_attribute_order(spo, prop))
                    configs.setdefault(obj_type, {})[prop] = AttrConfig(
                        dt_str, anon_str, order
                    )
    return configs


def _attribute_order(spo, prop: str) -> list[str]:
    """Walk the RDF list behind soya:classification/attributeOrder
    (reference: QueryBuildingService.java:48-63, rdf:rest* closure)."""
    out: list[str] = []
    for cls_node in spo.get((prop, SOYA_NS + "classification"), []):
        for head in spo.get((str(cls_node), SOYA_NS + "attributeOrder"), []):
            cell = str(head)
            while cell and cell != RDF_NIL:
                for v in spo.get((cell, RDF_FIRST), []):
                    out.append(str(v))
                rest = spo.get((cell, RDF_REST), [])
                cell = str(rest[0]) if rest else None
    return out


def config_from_dict(d: dict) -> AnonymizationConfig:
    """Convenience builder: {type_iri: {attr_iri: (datatype, strategy[, order])}}."""
    out: AnonymizationConfig = {}
    for t, attrs in d.items():
        out[t] = {}
        for a, spec in attrs.items():
            dt, strat, *rest = spec
            order = tuple(rest[0]) if rest else ()
            out[t][a] = AttrConfig(dt, strat, order)
    return out


# --- demo configs replacing the hosted SOyA URLs used by the reference's
#     pytest corpus (inferred from fixtures; see repo FIXTURES.md §2) -------

DEMO_PREFIX = "https://soya.ownyourdata.eu/AnonymisationDemo/"
DEMO2_PREFIX = "https://soya.ownyourdata.eu/AnonymisationDemo2/"

ANONYMISATION_DEMO = config_from_dict(
    {
        DEMO_PREFIX + "AnonymisationDemo": {
            DEMO_PREFIX + "name": ("string", "masking"),
            DEMO_PREFIX + "latitude": ("integer", "generalization"),
            DEMO_PREFIX + "longitude": ("double", "randomization"),
            DEMO_PREFIX + "start_pv": ("date", "generalization"),
            DEMO_PREFIX + "geburtsdatum": ("date", "randomization"),
            DEMO_PREFIX + "gehalt": ("integer", "generalization"),
            DEMO_PREFIX + "adresse": (
                "address",
                "generalization",
                ["city", "state", "country"],
            ),
        }
    }
)

ANONYMISATION_DEMO2 = config_from_dict(
    {
        DEMO2_PREFIX + "Object1": {
            DEMO2_PREFIX + "name": ("string", "masking"),
            DEMO2_PREFIX + "gehalt": ("integer", "generalization"),
            DEMO2_PREFIX + "geburtsdatum": ("date", "generalization"),
        },
        DEMO2_PREFIX + "Object2": {
            DEMO2_PREFIX + "latitude": ("double", "randomization"),
            DEMO2_PREFIX + "longitude": ("double", "randomization"),
        },
    }
)

CONFIG_BY_URL = {
    "https://soya.ownyourdata.eu/AnonymisationDemo": ANONYMISATION_DEMO,
    "https://soya.ownyourdata.eu/AnonymisationDemo2": ANONYMISATION_DEMO2,
}


# --- HTTP config loading (reference: ConfigurationService.java:54-101) -----


def _default_transport(url: str) -> tuple[int, str | None]:
    """GET ``url`` → (status, body), 30 s timeout.  Raises OSError/ValueError
    on transport failure — exactly the failures :func:`fetch_config`
    converts to OntologyError like the reference's
    URISyntaxException/IOException arm."""
    import urllib.request

    with urllib.request.urlopen(url, timeout=30.0) as resp:  # noqa: S310
        body = resp.read()
        charset = resp.headers.get_content_charset() or "utf-8"
        return resp.status, body.decode(charset, errors="replace")


def fetch_config(url: str, transport=None) -> AnonymizationConfig:
    """Fetch + parse + extract a SOyA configuration graph from a URL with the
    reference's exact error semantics (ConfigurationService.fetchStringContent
    + getModel, ConfigurationService.java:54-101):

    - transport failure (bad URI, DNS, IO) →
      ``OntologyError("Failed to fetch ontology from URL: <url>")``
    - non-2xx status →
      ``OntologyError("Failed to fetch ontology from URL: <url>. HTTP status: <s>")``
    - 2xx with empty body →
      ``OntologyError("Successful request but empty response body ...")``
    - unparseable JSON-LD →
      ``OntologyError("Exception when parsing the fetched ontology")``

    ``transport`` is injectable: a callable ``url -> (status, body)`` —
    tests use in-memory fakes; production uses urllib.
    """
    import json as _json

    tp = transport or _default_transport
    try:
        status, body = tp(url)
    except (OSError, ValueError) as exc:
        # urllib raises HTTPError (an OSError) for non-2xx — preserve the
        # status-specific message in that case, like the Java HttpClient
        # which returns the response instead of throwing
        code = getattr(exc, "code", None)
        if code is not None:
            raise OntologyError(
                f"Failed to fetch ontology from URL: {url}. HTTP status: {code}"
            ) from exc
        raise OntologyError(f"Failed to fetch ontology from URL: {url}") from exc
    if not (200 <= status < 300):
        raise OntologyError(
            f"Failed to fetch ontology from URL: {url}. HTTP status: {status}"
        )
    if not body:
        raise OntologyError(
            "Successful request but empty response body for fetching ontology "
            f"from: {url}"
        )
    try:
        doc = _json.loads(body)
        from kgforge.ingest import jsonld_to_triple_tuples

        triples = jsonld_to_triple_tuples(doc)
    except OntologyError:
        raise
    except Exception as exc:
        raise OntologyError("Exception when parsing the fetched ontology") from exc
    return extract_config(triples)

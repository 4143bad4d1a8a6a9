"""Flat JSON output assembly (reference: service/FaltJsonService.java:101-265).

Rows = resources typed ``<prefix>anonymizationObject`` with ≥1 literal
property, ordered by the injected counter; literal attrs stringified; ``types``
lists the other rdf:types; per-attr generalization bounds appear only for
strategy=generalization with datatype ∈ {integer, float, date} — the
``float``≠``double`` mismatch is a preserved reference quirk
(FaltJsonService.java:113-118); absent bounds render "obfuscated".

``flat_json_output`` is the one serializer: it collects a request-sized
model into the reference's response dict.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from kgforge.anonymize.kpi import (
    ANONYMIZATION_TYP,
    HAS_ATTRIBUTE,
    K_ANONYMITY,
    KPI_OBJECT_URI,
    NR_BUCKETS,
)
from kgforge.config import AnonymizationConfig
from kgforge.ingest import FLAT_OBJECT_NAME
from kgforge.triples import RDF_MAX, RDF_MIN, RDF_TYPE, local_name

_BOUND_DATATYPES = ("integer", "float", "date")  # quirk: float, not double


_ABS_IRI_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")


def _flat_config(config: AnonymizationConfig) -> dict:
    flat = {}
    for attrs in config.values():
        flat.update(attrs)
    return flat


def flat_json_output(
    triples: DataFrame,
    config: AnonymizationConfig,
    prefix: str,
    calculate_kpi: bool = True,
) -> dict:
    # one collect: the response carries nearly every triple anyway, so the
    # row selection, types, bucket bounds and KPIs are read on the driver
    rows = triples.select(
        "subj", "pred", "obj_value", "obj_dtype", "obj_is_iri"
    ).collect()
    flat_type = prefix + FLAT_OBJECT_NAME
    # reference quirk (fixture 05-invalid-prefix): a prefix that is not an
    # absolute IRI makes the marker type a RELATIVE IRI; Jena resolves it
    # against the query base while the model stores it raw, so the row
    # selection matches nothing — data is empty, KPIs still emitted
    subs = (
        {s for s, p, o, _, _ in rows if p == RDF_TYPE and o == flat_type}
        if _ABS_IRI_RE.match(prefix)
        else set()
    )

    flat_cfg = _flat_config(config)
    # generalization bounds for the quirk-filtered attribute set
    gen_preds = {
        a + "_generalized"
        for a, c in flat_cfg.items()
        if c.strategy == "generalization" and c.datatype in _BOUND_DATATYPES
    }
    attrs_by_subj: dict[str, dict[str, str]] = {}
    counter_by_subj: dict[str, int] = {}
    types_by_subj: dict[str, list[str]] = {}
    assign: list[tuple[str, str, str]] = []
    bounds: dict[str, dict[str, str]] = {}
    k_by_obj: dict[str, int] = {}
    has_attr: list[tuple[str, str]] = []
    anon_typ: dict[str, str] = {}
    nr_buckets: dict[str, int] = {}
    for subj, pred, value, _, is_iri in rows:
        if pred in (RDF_MIN, RDF_MAX) and value is not None:
            bounds.setdefault(subj, {}).setdefault(
                "min" if pred == RDF_MIN else "max", value
            )
        elif pred == K_ANONYMITY:
            k_by_obj[subj] = int(value)
        elif pred == HAS_ATTRIBUTE:
            has_attr.append((subj, value))
        elif pred == ANONYMIZATION_TYP:
            anon_typ[subj] = value
        elif pred == NR_BUCKETS:
            nr_buckets[subj] = int(value)
        if subj not in subs:
            continue
        if not is_iri:
            # literal attributes per resource (getLiteralData)
            ln = local_name(pred)
            if ln == "counter":
                counter_by_subj[subj] = int(value)
            d = attrs_by_subj.setdefault(subj, {})
            if ln != "counter" and ln not in d:
                d[ln] = value
        if pred == RDF_TYPE and value != flat_type:
            # other types per resource, input order (getTypesForResources)
            lst = types_by_subj.setdefault(subj, [])
            ln = local_name(value)
            if ln not in lst:
                lst.append(ln)
        if pred in gen_preds:
            assign.append((subj, pred, value))

    gen_by_subj: dict[str, dict[str, dict]] = {}
    for subj, pred, bucket in assign:
        b = bounds.get(bucket, {})
        gen_by_subj.setdefault(subj, {})[local_name(pred)] = {
            "min": b.get("min", "obfuscated"),
            "max": b.get("max", "obfuscated"),
        }

    data = []
    all_subj = sorted(
        attrs_by_subj.keys(), key=lambda s: counter_by_subj.get(s, 2**31 - 1)
    )
    for subj in all_subj:
        node: dict = dict(attrs_by_subj.get(subj, {}))
        ts = types_by_subj.get(subj)
        if ts:
            node["types"] = ts
        for k, v in gen_by_subj.get(subj, {}).items():
            node[k] = v
        data.append(node)

    kpis: dict = {}
    if calculate_kpi:
        for type_iri in config:
            kpi_obj = KPI_OBJECT_URI + local_name(type_iri)
            if kpi_obj not in k_by_obj:
                continue
            node = {"k-Anonymity": k_by_obj[kpi_obj]}
            for s_, attr in has_attr:
                if s_ != kpi_obj:
                    continue
                info = {"anonymization": anon_typ.get(attr)}
                if attr in nr_buckets:
                    info["nrBuckets"] = nr_buckets[attr]
                node[local_name(attr)] = info
            kpis[local_name(kpi_obj)] = node

    return {"data": data, "kpis": kpis}

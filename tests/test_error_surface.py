"""S6 error surface: the reference's error fixtures mapped to typed
exceptions (GlobalExceptionHandler.java:25-93 returns 400/404 ProblemDetail;
this library raises instead — same trigger conditions, same messages where
the fixture asserts them).

Case 05 (invalid prefix) is NOT an error in the reference: the flat ingest
mints resource IRIs as prefix+object<i> without validating the prefix, the
pivot then matches nothing, and the response is an empty data list with
k-Anonymity 1 — we preserve that quirk.
"""

from __future__ import annotations

import json

import pytest

from kgforge.api import anonymize_flat_json

REF = "/root/reference/pytest/02_input_flat_json"


def _load(name):
    with open(f"{REF}/{name}.json") as f:
        return json.load(f)


def test_missing_configuration_url_raises(spark):
    # 01: DTO validation — configurationUrl is mandatory
    req = _load("01-missing-parameter")
    assert "configurationUrl" not in req
    with pytest.raises(ValueError, match="configuration"):
        anonymize_flat_json(spark, req)


def test_unknown_configuration_url_raises(spark):
    # 02: ontology fetch failure → typed error naming the URL
    req = _load("02-invalid-url")
    with pytest.raises(ValueError, match="invalidURL"):
        anonymize_flat_json(spark, req)


def test_invalid_prefix_yields_empty_output(spark):
    # 05: reference quirk — not an error; empty data + k-Anonymity 1
    req = _load("05-invalid-prefix")
    want = json.load(
        open("/root/reference/pytest/02_output_flat_json/05-invalid-prefix.json")
    )
    got = anonymize_flat_json(spark, req)
    assert got == want


# --- HTTP config loader error semantics (ConfigurationService.java:54-101) --

def _fake_transport(status, body):
    def tp(url):
        return status, body
    return tp


def test_http_non_2xx_raises_with_status(spark):
    from kgforge.config import OntologyError, fetch_config

    with pytest.raises(OntologyError, match="HTTP status: 404"):
        fetch_config("https://example.org/cfg", transport=_fake_transport(404, "x"))


def test_http_empty_body_raises(spark):
    from kgforge.config import OntologyError, fetch_config

    with pytest.raises(OntologyError, match="empty response body"):
        fetch_config("https://example.org/cfg", transport=_fake_transport(200, ""))


def test_http_unparseable_config_raises(spark):
    # 03: invalid configuration (content of URL no valid rdf)
    from kgforge.config import OntologyError, fetch_config

    with pytest.raises(OntologyError, match="parsing the fetched ontology"):
        fetch_config(
            "https://example.org/cfg",
            transport=_fake_transport(200, "this is not rdf"),
        )


def test_http_transport_failure_names_url(spark):
    from kgforge.config import OntologyError, fetch_config

    def boom(url):
        raise OSError("connection refused")

    with pytest.raises(OntologyError, match="https://example.org/cfg"):
        fetch_config("https://example.org/cfg", transport=boom)


def test_http_valid_jsonld_config_roundtrip(spark):
    """A minimal SOyA graph served through the fake transport must extract
    to the same AttrConfig the offline demo catalog declares."""
    import json

    from kgforge.config import AttrConfig, fetch_config

    ns = "https://w3id.org/soya/ns#"
    p = "https://soya.example/T/"
    doc = {
        "@graph": [
            {"@id": p + "overlay", "@type": ns + "OverlayClassification",
             ns + "onBase": {"@id": p + "Obj"}},
            {"@id": p + "name",
             "http://www.w3.org/2000/01/rdf-schema#domain": {"@id": p + "Obj"},
             "http://www.w3.org/2000/01/rdf-schema#range": {"@id": p + "string"},
             ns + "classification": {"@id": p + "masking"}},
        ]
    }
    cfg = fetch_config(
        "https://soya.example/T", transport=_fake_transport(200, json.dumps(doc))
    )
    assert cfg == {p + "Obj": {p + "name": AttrConfig("string", "masking")}}


# --- DTO validation parity (AnonymizationFlatJsonRequestDto.java:15-47) -----

def test_include_original_requires_adjusted_attributes(spark):
    from kgforge.api import RequestValidationError

    req = _load("11-maksing")
    req["includeOriginalData"] = True
    req["useAdjustedAttributes"] = False
    with pytest.raises(RequestValidationError) as ei:
        anonymize_flat_json(spark, req)
    assert ei.value.fields == {
        "validAttributeConfiguration":
            "useAdjustedAttributes must be true when includeOriginalData is true"
    }


def test_blank_prefix_and_empty_data_rejected(spark):
    from kgforge.api import RequestValidationError

    req = _load("11-maksing")
    req["prefix"] = "   "
    req["data"] = []
    with pytest.raises(RequestValidationError) as ei:
        anonymize_flat_json(spark, req)
    assert ei.value.fields == {
        "prefix": "Prefix is mandatory",
        "data": "data is mandatory",
    }


def test_jsonld_data_null_rejected_empty_ok(spark):
    from kgforge.api import RequestValidationError, anonymize_jsonld
    from kgforge.config import ANONYMISATION_DEMO

    with pytest.raises(RequestValidationError) as ei:
        anonymize_jsonld(
            spark, {"configurationUrl": "u", "data": None},
            config=ANONYMISATION_DEMO,
        )
    assert ei.value.fields == {"data": "data is mandatory"}
    # NotNull (not NotEmpty): an empty JSON-LD object must pass validation
    out, _ = anonymize_jsonld(
        spark,
        {"configurationUrl": "https://soya.ownyourdata.eu/AnonymisationDemo",
         "data": {}},
    )
    assert out.count() >= 0


# --- ProblemDetail parity: raised errors → the exact golden response bodies
# (GlobalExceptionHandler.java:25-93) ---------------------------------------

FLAT_INSTANCE = "/api/anonymization/flatjson"
LD_INSTANCE = "/api/anonymization"


def _golden(endpoint, name):
    d = "02_output_flat_json" if endpoint == "flat" else "01_output_json_ld"
    with open(f"/root/reference/pytest/{d}/{name}.json") as f:
        return json.load(f)


@pytest.mark.parametrize("endpoint,instance", [
    ("flat", FLAT_INSTANCE), ("ld", LD_INSTANCE),
])
def test_golden_01_missing_parameter_body(spark, endpoint, instance):
    from kgforge.api import (RequestValidationError, anonymize_flat_json,
                             anonymize_jsonld, problem_detail)

    d = "02_input_flat_json" if endpoint == "flat" else "01_input_json_ld"
    with open(f"/root/reference/pytest/{d}/01-missing-parameter.json") as f:
        req = json.load(f)
    call = anonymize_flat_json if endpoint == "flat" else anonymize_jsonld
    with pytest.raises(RequestValidationError) as ei:
        call(spark, req)
    assert problem_detail(ei.value, instance) == _golden(
        endpoint, "01-missing-parameter"
    )


@pytest.mark.parametrize("endpoint,instance", [
    ("flat", FLAT_INSTANCE), ("ld", LD_INSTANCE),
])
def test_golden_02_invalid_url_body(spark, endpoint, instance):
    from kgforge.api import (anonymize_flat_json, anonymize_jsonld,
                             problem_detail)
    from kgforge.config import OntologyError

    d = "02_input_flat_json" if endpoint == "flat" else "01_input_json_ld"
    with open(f"/root/reference/pytest/{d}/02-invalid-url.json") as f:
        req = json.load(f)

    def refused(url):  # offline stand-in for the DNS/connect failure
        raise OSError("connection refused")

    call = anonymize_flat_json if endpoint == "flat" else anonymize_jsonld
    with pytest.raises(OntologyError) as ei:
        call(spark, req, transport=refused)
    assert problem_detail(ei.value, instance) == _golden(endpoint, "02-invalid-url")


@pytest.mark.parametrize("endpoint,instance", [
    ("flat", FLAT_INSTANCE), ("ld", LD_INSTANCE),
])
def test_golden_03_invalid_config_body(spark, endpoint, instance):
    # the configured URL serves HTML, not RDF → parse-arm OntologyError whose
    # ProblemDetail equals the golden byte-for-byte
    from kgforge.api import (anonymize_flat_json, anonymize_jsonld,
                             problem_detail)
    from kgforge.config import OntologyError

    d = "02_input_flat_json" if endpoint == "flat" else "01_input_json_ld"
    with open(f"/root/reference/pytest/{d}/03-invalid-config.json") as f:
        req = json.load(f)
    call = anonymize_flat_json if endpoint == "flat" else anonymize_jsonld
    with pytest.raises(OntologyError) as ei:
        call(spark, req, transport=_fake_transport(200, "<html>not rdf</html>"))
    assert problem_detail(ei.value, instance) == _golden(
        endpoint, "03-invalid-config"
    )


def test_golden_04_flat_fed_jsonld_maps_to_500_body(spark):
    # flat endpoint fed a JSON-LD object: Jackson binding fails BEFORE
    # validation → 500 'Error creation Json output'.  The golden detail is a
    # Java-internal Jackson trace, so fields (type/title/status/instance)
    # are asserted exactly and the detail by intent.
    from kgforge.api import (MessageNotReadableError, anonymize_flat_json,
                             problem_detail)

    with open("/root/reference/pytest/02_input_flat_json/04-no-json-ld.json") as f:
        req = json.load(f)
    with pytest.raises(MessageNotReadableError) as ei:
        anonymize_flat_json(spark, req)
    got = problem_detail(ei.value, FLAT_INSTANCE)
    want = _golden("flat", "04-no-json-ld")
    assert {k: got[k] for k in ("type", "title", "status", "instance")} == {
        k: want[k] for k in ("type", "title", "status", "instance")
    }
    assert "data" in got["detail"] and "deserialize" in got["detail"].lower()


def test_golden_04_jsonld_fed_flat_list_yields_kpi_only_doc(spark):
    # JSON-LD endpoint fed a flat-JSON array: JSON-LD expansion drops every
    # non-IRI key → EMPTY model → the k-Anonymity-1 KPI document (the golden
    # is a SUCCESS body, not an error)
    from kgforge.api import anonymize_jsonld_response

    with open("/root/reference/pytest/01_input_json_ld/04-no-json-ld.json") as f:
        req = json.load(f)
    got = anonymize_jsonld_response(spark, req)
    assert got == _golden("ld", "04-no-json-ld")


@pytest.mark.parametrize("key", ["bad key", "abc\n"])
def test_invalid_flat_key_maps_to_400_body(key):
    # the whole key must match ^[a-zA-Z_][a-zA-Z0-9_]*$
    # (FaltJsonService.java:267-277); ingest rejects it before any Spark call
    # and the error maps to 400 'Invalid request model'
    # (GlobalExceptionHandler.java:58-65)
    from kgforge.api import RequestModelError, anonymize_flat_json, problem_detail
    from kgforge.config import ANONYMISATION_DEMO, DEMO_PREFIX

    req = {
        "configurationUrl": "https://soya.ownyourdata.eu/AnonymisationDemo",
        "prefix": DEMO_PREFIX,
        "data": [{"name": "a", key: 1}],
    }
    with pytest.raises(RequestModelError) as ei:
        anonymize_flat_json(None, req, config=ANONYMISATION_DEMO)
    assert problem_detail(ei.value, FLAT_INSTANCE) == {
        "type": "about:blank",
        "title": "Invalid request model",
        "status": 400,
        "detail": f"Invalid property key: {key}",
        "instance": FLAT_INSTANCE,
    }

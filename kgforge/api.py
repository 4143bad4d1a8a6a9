"""Library entry points mirroring the reference's two REST endpoints
(AnonymizationRestController.java:35-70) — no HTTP server; the config
loader fetches over HTTP with injectable transport (kgforge.config).

Request validation mirrors the DTO constraints
(dto/AnonymizationJsonLDRequestDto.java:16-44,
dto/AnonymizationFlatJsonRequestDto.java:15-47): NotBlank
configurationUrl / prefix, NotNull / NotEmpty data, and the AssertTrue rule
``useAdjustedAttributes must be true when includeOriginalData is true``.
Violations raise :class:`RequestValidationError` carrying the same
field → message map Spring's handler returns as the 400 body
(GlobalExceptionHandler.java:25-38).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kgforge.anonymize.engine import AnonymizationReport, anonymize_triples
from kgforge.anonymize.flat_output import flat_json_output
from kgforge.config import CONFIG_BY_URL, AnonymizationConfig, fetch_config
from kgforge.ingest import (
    RequestModelError,
    flat_rows_to_triples,
    jsonld_to_triples,
)


class RequestValidationError(ValueError):
    """DTO bean-validation failure (400 'Validation failed').  ``fields``
    maps field name → message like the reference's response body."""

    def __init__(self, fields: dict[str, str]):
        self.fields = dict(fields)
        super().__init__("Validation failed: " + "; ".join(
            f"{k}: {v}" for k, v in sorted(self.fields.items())
        ))


class MessageNotReadableError(ValueError):
    """Payload shape the DTO cannot bind — the reference surfaces this as the
    HttpMessageNotReadable arm, 500 'Error creation Json output'
    (GlobalExceptionHandler.java:78-86): e.g. the flat endpoint fed a JSON-LD
    object where ``data`` must be a list of objects (error fixture
    04-no-json-ld).  Binding happens BEFORE bean validation, exactly like
    Jackson runs before @Valid."""


class AnonymizationError(RuntimeError):
    """Anonymization-process failure (500, GlobalExceptionHandler.java:49-56)."""


def problem_detail(exc: Exception, instance: str) -> dict:
    """Map a raised error to the exact response body the reference's
    GlobalExceptionHandler (java:25-93) would emit — Spring ProblemDetail
    for typed errors, the bare map shape for bean-validation failures.
    ``instance`` is the endpoint path ('/api/anonymization' or
    '/api/anonymization/flatjson')."""
    from kgforge.config import OntologyError

    if isinstance(exc, RequestValidationError):
        return {
            "messages": dict(exc.fields),
            "error": "Validation failed",
            "status": 400,
        }
    if isinstance(exc, OntologyError):
        title, status = "Error in ontology fetching or parsing", 404
    elif isinstance(exc, MessageNotReadableError):
        title, status = "Error creation Json output", 500
    elif isinstance(exc, AnonymizationError):
        title, status = "Error during anonymization process", 500
    elif isinstance(exc, RequestModelError):
        title, status = "Invalid request model", 400
    else:
        return {
            "type": "about:blank",
            "title": "Unexpected error",
            "status": 500,
            "detail": "An unexpected error occurred. Please try again later.",
            "instance": instance,
        }
    return {
        "type": "about:blank",
        "title": title,
        "status": status,
        "detail": str(exc),
        "instance": instance,
    }


def _validate_request(request: dict, *, flat: bool) -> None:
    errors: dict[str, str] = {}
    url = request.get("configurationUrl")
    if not isinstance(url, str) or not url.strip():
        errors["configurationUrl"] = "configurationUrl is mandatory"
    if flat:
        prefix = request.get("prefix")
        if not isinstance(prefix, str) or not prefix.strip():
            errors["prefix"] = "Prefix is mandatory"
        data = request.get("data")
        if not data:  # NotEmpty: missing, None, or []
            errors["data"] = "data is mandatory"
    else:
        if request.get("data") is None:  # NotNull only
            errors["data"] = "data is mandatory"
    if request.get("includeOriginalData", False) and not request.get(
        "useAdjustedAttributes", True
    ):
        errors["validAttributeConfiguration"] = (
            "useAdjustedAttributes must be true when includeOriginalData is true"
        )
    if errors:
        raise RequestValidationError(errors)


def resolve_config(
    configuration_url: str | None,
    config: AnonymizationConfig | None,
    transport=None,
):
    """Explicit config > offline demo catalog > HTTP fetch with the
    reference's OntologyError semantics."""
    if config is not None:
        return config
    if configuration_url in CONFIG_BY_URL:
        return CONFIG_BY_URL[configuration_url]
    return fetch_config(configuration_url, transport=transport)


def anonymize_flat_json(
    spark: SparkSession,
    request: dict,
    config: AnonymizationConfig | None = None,
    transport=None,
) -> dict:
    """PUT /api/anonymization/flatjson equivalent: request dict → response dict."""
    # Jackson binds the DTO before @Valid runs: a ``data`` that is not a
    # list of objects fails deserialization first (error fixture 04 feeds
    # the flat endpoint a JSON-LD document)
    data = request.get("data")
    if data is not None and (
        not isinstance(data, list)
        or any(not isinstance(row, dict) for row in data)
    ):
        raise MessageNotReadableError(
            "Cannot deserialize value for field \"data\": expected a list of "
            "objects, got " + type(data).__name__
        )
    _validate_request(request, flat=True)
    cfg = resolve_config(request.get("configurationUrl"), config, transport)
    prefix = request["prefix"]
    triples = flat_rows_to_triples(spark, request["data"], prefix)
    calculate_kpi = request.get("calculateKpi", True)
    out, _report = anonymize_triples(
        triples,
        cfg,
        calculate_kpi=calculate_kpi,
        include_original_data=request.get("includeOriginalData", False),
        use_adjusted_attributes=request.get("useAdjustedAttributes", True),
        random_seed=request.get("randomSeed"),
        order_pred=prefix + "counter",
    )
    return flat_json_output(out, cfg, prefix, calculate_kpi)


def anonymize_jsonld_response(
    spark: SparkSession,
    request: dict,
    config: AnonymizationConfig | None = None,
    transport=None,
) -> dict:
    """PUT /api/anonymization equivalent INCLUDING the serialized JSON-LD
    response body: the anonymized model compacted against the request data's
    @context (kgforge.jsonld_out.serialize_jsonld — byte-exact twin of the
    reference's Jena writer output)."""
    from kgforge.jsonld_out import serialize_jsonld

    out, _report = anonymize_jsonld(spark, request, config, transport)
    data = request.get("data")
    context = data.get("@context") if isinstance(data, dict) else None
    return serialize_jsonld(out, context if isinstance(context, dict) else None)


def anonymize_jsonld(
    spark: SparkSession,
    request: dict,
    config: AnonymizationConfig | None = None,
    transport=None,
) -> tuple[DataFrame, AnonymizationReport]:
    """PUT /api/anonymization equivalent: returns the anonymized triple table."""
    _validate_request(request, flat=False)
    cfg = resolve_config(request.get("configurationUrl"), config, transport)
    triples = jsonld_to_triples(spark, request["data"])
    return anonymize_triples(
        triples,
        cfg,
        calculate_kpi=request.get("calculateKpi", True),
        include_original_data=request.get("includeOriginalData", False),
        use_adjusted_attributes=request.get("useAdjustedAttributes", True),
        random_seed=request.get("randomSeed"),
    )

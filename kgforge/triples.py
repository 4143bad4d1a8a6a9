"""Canonical triple DataFrame model.

The reference keeps all state in a Jena ``Model`` — a mutable bag of
(subject, predicate, object) triples (reference:
service/AnonymizationService.java:139-149).  Our universal interchange is a
DataFrame with this schema, partitionable by ``pred`` for predicate-scoped
scans at scale (Iceberg/parquet partition column):

    subj        string   -- IRI or blank-node id ("_:bN")
    pred        string   -- IRI
    obj_value   string   -- lexical form (IRI string when obj_is_iri)
    obj_dtype   string   -- "string" | "xsd:integer" | "xsd:long" |
                            "xsd:double" | "xsd:date" | "xsd:dateTime" |
                            "xsd:boolean" | "iri"
    obj_is_iri  boolean
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
RDFS_COMMENT = "http://www.w3.org/2000/01/rdf-schema#comment"
# the reference mints min/max in the rdf-schema namespace (Generalization.java:16-17)
RDF_MIN = "http://www.w3.org/2000/01/rdf-schema#min"
RDF_MAX = "http://www.w3.org/2000/01/rdf-schema#max"
SOYA_URL = "http://ns.ownyourdata.eu/ns/soya-context/"

XSD = "http://www.w3.org/2001/XMLSchema#"

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_value", T.StringType(), True),
        T.StructField("obj_dtype", T.StringType(), True),
        T.StructField("obj_is_iri", T.BooleanType(), False),
    ]
)


def local_df(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """Driver-built rows as a JVM ``LocalRelation``, via a pyarrow Table.

    ``spark.createDataFrame(<python list>)`` yields a Python-RDD-backed
    ``LogicalRDD``: every job that scans it starts a Python worker.  An
    Arrow-built relation is plain JVM rows — the optimizer folds filters and
    projections over it and a scan costs no Python round trip."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema=schema)


# joins the values of an array_sql literal; no IRI or datatype name holds it
_SEP = "\x1f"


def array_sql(values, element_type: str = "string") -> str:
    """SQL text of one array literal holding ``values`` (none null or
    holding the unit separator U+001F).  The optimizer folds the split of
    one string literal into a constant array that generated code reads by
    reference, like a string literal, so a plan that looks values up in it
    (``array_position``, ``element_at``) compiles to the same classes
    whatever the values and however many — unlike a chain of per-value
    expressions, or integers, which generated code inlines.  Written as
    SQL text it costs a few driver round trips whatever its length, and,
    unlike a broadcast relation, no Spark job."""
    if not values:
        return f"CAST(array() AS ARRAY<{element_type}>)"
    text = _SEP.join(map(str, values))
    if text.count(_SEP) != len(values) - 1 or any(v is None for v in values):
        raise ValueError(f"array_sql: a null value or one holding U+001F in {values!r}")
    return f"CAST(split({sql_str(text)}, '{_SEP}', -1) AS ARRAY<{element_type}>)"


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal (backslashes and quotes
    escaped)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def triples_df(spark: SparkSession, rows) -> DataFrame:
    """Build a triple DataFrame from (subj, pred, obj_value, obj_dtype, obj_is_iri) tuples."""
    return local_df(spark, rows, TRIPLE_SCHEMA)


def local_name(iri: str) -> str:
    """Last '/'- or '#'-segment (reference: ConfigurationService.java:151-154)."""
    i = max(iri.rfind("/"), iri.rfind("#"))
    return iri[i + 1 :] if i != -1 else iri

"""Typed value parsing/formatting for the anonymization operators.

Sortable numeric domain per reference datatype:
  integer/double → double (GeneralizationNumeric.java:25-34)
  date           → epoch days (GeneralizationDate.java:40-48, RandomizationDate.java:33-37)
  dateTime       → epoch seconds/millis (GeneralizationDateTime.java:33-46,
                   RandomizationDateTime.java:31-33)
"""

from __future__ import annotations

import datetime as _dt

from kgforge.javarandom import java_double_str, jdiv

EPOCH = _dt.date(1970, 1, 1)

NUMERIC_DATATYPES = ("integer", "double")
# the datatypes the generalization/randomization operators order by value
PARSED_DATATYPES = (*NUMERIC_DATATYPES, "date", "dateTime")


def _numeric(dt: str) -> str:
    # an OR of equalities, not IN: plan gates reject literal IN-lists
    return f"({dt} = 'integer' OR {dt} = 'double')"


def parse_sql(dt: str, c: str) -> str:
    """SQL expression: lexical column ``c`` → sortable double, per row by
    the datatype name in column ``dt`` (one of :data:`PARSED_DATATYPES`;
    anything else → null).  Expression text, not a Column: one parse on the
    JVM instead of a driver round trip per node."""
    # xsd:date-or-dateTime fallback parse (RandomizationDateTime.java:58-70)
    ts = f"coalesce(to_timestamp({c}), to_timestamp(to_date({c})))"
    return (
        f"CASE WHEN {_numeric(dt)} THEN CAST({c} AS DOUBLE)"
        f" WHEN {dt} = 'date'"
        f" THEN CAST(datediff(to_date({c}), '1970-01-01') AS DOUBLE)"
        f" WHEN {dt} = 'dateTime' THEN CAST(unix_timestamp({ts}) AS DOUBLE) END"
    )


def epoch_day_to_iso(day: int) -> str:
    return (EPOCH + _dt.timedelta(days=int(day))).isoformat()


def epoch_sec_to_lexical(sec: int) -> str:
    return _dt.datetime.fromtimestamp(int(sec), tz=_dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ"
    )


def median_value(datatype: str, v1: float | None, v2: float | None) -> float:
    """Reference getMedianValue: null-tolerant mean; integer domains use Java
    long division (truncates toward zero)."""
    if v1 is None:
        return v2
    if v2 is None:
        return v1
    if datatype in NUMERIC_DATATYPES:
        return (v1 + v2) / 2.0
    # date: epoch-day mean with Java long division (GeneralizationDate.java:47)
    # dateTime: epoch-millis mean — seconds here, same truncation semantics
    return float(jdiv(int(v1) + int(v2), 2))


def format_bound(datatype: str, v: float) -> tuple[str, str]:
    """(lexical, dtype) for a bucket min/max literal."""
    if datatype in NUMERIC_DATATYPES:
        return java_double_str(float(v)), "xsd:double"
    if datatype == "date":
        return epoch_day_to_iso(int(v)), "xsd:date"
    return epoch_sec_to_lexical(int(v)), "xsd:dateTime"


def median_sql(dt: str, v1: str, v2: str) -> str:
    """SQL twin of :func:`median_value` over columns ``v1``/``v2`` (same
    null-tolerance and Java long-division truncation) so bucket bounds can
    be built as a DataFrame transform instead of a driver loop.  ``dt`` as
    in :func:`parse_sql`."""
    # Java long division truncates toward zero; Spark's % keeps the
    # dividend's sign (like Java), so (s - s % 2) / 2 is exact
    s = f"(CAST({v1} AS BIGINT) + CAST({v2} AS BIGINT))"
    return (
        f"CASE WHEN {v1} IS NULL THEN {v2} WHEN {v2} IS NULL THEN {v1}"
        f" WHEN {_numeric(dt)} THEN ({v1} + {v2}) / 2.0D"
        f" ELSE CAST(({s} - {s} % 2) / 2 AS DOUBLE) END"
    )


def format_bound_sql(dt: str, v: str) -> tuple[str, str]:
    """SQL twin of :func:`format_bound`: (lexical, dtype) expressions.
    Spark's double→string cast calls JVM Double.toString, byte-identical to
    :func:`java_double_str` (verified over the fixture value domain);
    date/dateTime render in the session timezone, which the engine pins to
    UTC.  ``dt`` as in :func:`parse_sql`."""
    lexical = (
        f"CASE WHEN {dt} = 'date'"
        f" THEN CAST(date_add(to_date('1970-01-01'), CAST({v} AS INT)) AS STRING)"
        f" WHEN {dt} = 'dateTime' THEN date_format("
        f"timestamp_seconds(CAST({v} AS BIGINT)), \"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
        f" ELSE CAST({v} AS STRING) END"
    )
    dtype = (
        f"CASE WHEN {dt} = 'date' THEN 'xsd:date'"
        f" WHEN {dt} = 'dateTime' THEN 'xsd:dateTime' ELSE 'xsd:double' END"
    )
    return lexical, dtype


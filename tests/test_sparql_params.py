"""The SQL text of a compiled SPARQL query: query values travel only as
parameter markers, numeric coercion is ANSI-safe, and inline data is a
local relation rather than a Python-backed scan."""

from __future__ import annotations

import pytest

from kgforge.sparql import sparql_describe, sparql_select
from kgforge.triples import triples_df

EX = "http://ex.org/"
HOSTILE = "it's {g} } :p0 {r0}"
ODD = EX + "f'{g}}:p0"


@pytest.fixture(scope="module")
def graph(spark, tmp_path_factory):
    """Read back from parquet, so no plan node comes from the fixture's
    own Python rows."""
    rows = [
        (EX + "a", EX + "v", "abc", "string", False),
        (EX + "b", EX + "v", "10", "xsd:integer", False),
        (EX + "c", EX + "v", "3", "xsd:integer", False),
        (EX + "d", EX + "note", HOSTILE, "string", False),
        (EX + "e", EX + "note", "plain", "string", False),
        (ODD, EX + "note", "odd subject", "string", False),
    ]
    path = str(tmp_path_factory.mktemp("params") / "graph")
    triples_df(spark, rows).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(params=["true", "false"])
def ansi(spark, request):
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", before)


def _subjects(graph, where: str) -> list:
    out = sparql_select(graph, f"PREFIX ex: <{EX}> SELECT ?s WHERE {{ {where} }}")
    return sorted(r["s"] for r in out.collect())


@pytest.mark.parametrize("where, want", [
    ("?s ex:v ?o FILTER(?o > 5)", ["b"]),
    ("?s ex:v ?o FILTER(?o * 2 > 5)", ["b", "c"]),
    ("?s ex:v ?o FILTER(?o / 0 > 5 || ?o - 1 = 2)", ["c"]),
    ("?s ex:v ?o FILTER(ABS(?o) >= 3 && CEIL(?o) < 5)", ["c"]),
    ("?s ex:v ?o FILTER(FLOOR(?o) = 10 || ROUND(?o) = 3)", ["b", "c"]),
    ("?s ex:v ?o BIND(?o + 1 AS ?n) FILTER(bound(?n))", ["b", "c"]),
])
def test_numeric_coercion_is_ansi_safe(graph, ansi, where, want):
    """A lexical form that does not parse as a number makes the numeric
    expression NULL and drops the solution, as a SPARQL type error does —
    under ANSI mode too, where a strict cast would raise."""
    assert _subjects(graph, where) == [EX + s for s in want]


def test_hostile_literals_stay_parameters(graph):
    """Quotes, formatter braces and marker-shaped text in a literal or IRI
    reach Spark as parameter values, never as statement text."""
    assert _subjects(graph, f'?s ex:note "{HOSTILE}"') == [EX + "d"]
    assert _subjects(graph, f'?s ex:note ?n FILTER(?n = "{HOSTILE}")') == [EX + "d"]
    assert _subjects(graph, '?s ex:note ?n FILTER(CONTAINS(?n, "} :p0"))') == [EX + "d"]
    assert _subjects(graph, '?s ex:note ?n FILTER(regex(?n, "\'s [{]g"))') == [EX + "d"]
    assert _subjects(graph, f'?s ex:note ?n VALUES ?n {{ "{HOSTILE}" "x" }}') == [EX + "d"]
    assert _subjects(graph, "<" + ODD + "> ex:note ?n BIND(<" + ODD + "> AS ?s)") == [ODD]
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?b ?a ?r WHERE {{
          ?s ex:note ?n . FILTER(?n = "{HOSTILE}")
          BIND(STRBEFORE(?n, "{{g}}") AS ?b)
          BIND(STRAFTER(?n, ":p0") AS ?a)
          BIND(REPLACE(?n, "[{{}}]", "'") AS ?r)
        }}
    """).collect()
    assert [tuple(r) for r in out] == [("it's ", " {r0}", "it's 'g' ' :p0 'r0'")]
    rows = sparql_describe(graph, "DESCRIBE <" + ODD + ">").collect()
    assert [r["obj_value"] for r in rows] == ["odd subject"]


def test_inline_data_is_a_local_relation(graph):
    """VALUES and DESCRIBE's IRI list compile to SQL VALUES rows: their
    optimized plans hold no Python-backed ``LogicalRDD``, so no scan of
    them starts a Python worker."""
    values = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?n WHERE {{ ?s ex:note ?n . VALUES ?n {{ "plain" UNDEF }} }}
    """)
    describe = sparql_describe(graph, f"DESCRIBE <{EX}d> <{EX}e>")
    for df in (values, describe):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, plan
    assert [tuple(r) for r in values.collect()] == [(EX + "e", "plain")]
    assert sorted(r["subj"] for r in describe.collect()) == [EX + "d", EX + "e"]

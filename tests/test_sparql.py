"""SPARQL SELECT evaluator: parsing, BGP joins, OPTIONAL, FILTER, and the
plan properties (constant predicates prune the pred-partitioned sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgforge.sparql import SparqlError, sparql_select
from kgforge.triples import triples_df

EX = "http://ex.org/"


@pytest.fixture(scope="module")
def graph(spark):
    rows = [
        (EX + "p1", EX + "name", "Ada", "string", False),
        (EX + "p1", EX + "age", "36", "xsd:integer", False),
        (EX + "p1", EX + "knows", EX + "p2", "iri", True),
        (EX + "p1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         EX + "Person", "iri", True),
        (EX + "p2", EX + "name", "Grace", "string", False),
        (EX + "p2", EX + "age", "41", "xsd:integer", False),
        (EX + "p2", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         EX + "Person", "iri", True),
        (EX + "p3", EX + "name", "Linus", "string", False),
        # p3 has no age (OPTIONAL case), and is not a Person
        (EX + "p3", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
         EX + "Robot", "iri", True),
        # a literal that looks like an IRI string, NOT an IRI object
        (EX + "p3", EX + "homepage", EX + "p2", "string", False),
    ]
    return triples_df(spark, rows).persist()


def test_bgp_join_filter_order(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n ?a WHERE {{
          ?s ex:name ?n .
          ?s ex:age ?a .
          FILTER (?a > 36)
        }} ORDER BY ?n
    """).collect()
    assert [(r["n"], r["a"]) for r in out] == [("Grace", "41")]


def test_predicate_object_lists_and_a(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s a ex:Person ; ex:name ?n .
        }} ORDER BY ?n
    """).collect()
    assert [r["n"] for r in out] == ["Ada", "Grace"]


def test_optional_leaves_null(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n ?a WHERE {{
          ?s ex:name ?n .
          OPTIONAL {{ ?s ex:age ?a }}
        }} ORDER BY ?n
    """).collect()
    got = {r["n"]: r["a"] for r in out}
    assert got == {"Ada": "36", "Grace": "41", "Linus": None}


def test_iri_object_vs_literal_disambiguation(graph):
    # ex:knows with an IRI object: only the real edge, not the homepage
    # literal that merely looks like an IRI
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ?s ?p <{EX}p2> . }}
    """).collect()
    assert [r["s"] for r in out] == [EX + "p1"]

    out2 = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?s WHERE {{ ?s ex:homepage "{EX}p2" . }}
    """).collect()
    assert [r["s"] for r in out2] == [EX + "p3"]


def test_regex_bound_distinct_limit(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT DISTINCT ?n WHERE {{
          ?s ex:name ?n .
          FILTER (regex(?n, "^[AG]"))
        }} ORDER BY ?n LIMIT 1
    """).collect()
    assert [r["n"] for r in out] == ["Ada"]

    out2 = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n .
          OPTIONAL {{ ?s ex:age ?a }}
          FILTER (!bound(?a))
        }}
    """).collect()
    assert [r["n"] for r in out2] == ["Linus"]


def test_filter_boolean_connectives(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n . ?s ex:age ?a .
          FILTER (?a >= 41 || ?n = "Ada")
        }} ORDER BY ?n
    """).collect()
    assert [r["n"] for r in out] == ["Ada", "Grace"]


def test_select_star_and_var_equality(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT * WHERE {{ ?s ex:knows ?o . }}
    """)
    assert sorted(out.columns) == ["o", "s"]
    assert out.count() == 1


def test_matches_handwritten_dataframe_plan(graph):
    """The compiled query must agree value-for-value with the DataFrame
    composition a Spark engineer would write by hand."""
    got = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n ?o WHERE {{
          ?s ex:knows ?o . ?s ex:name ?n .
        }}
    """).collect()
    knows = graph.filter(F.col("pred") == EX + "knows").select(
        F.col("subj").alias("s"), F.col("obj_value").alias("o"))
    name = graph.filter(F.col("pred") == EX + "name").select(
        F.col("subj").alias("s"), F.col("obj_value").alias("n"))
    want = knows.join(name, "s").select("n", "o").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_errors(graph):
    with pytest.raises(SparqlError):
        sparql_select(graph, "ASK { ?s ?p ?o }")
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT ?x WHERE { ?s ?p ?o }")
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT ?s WHERE { ?s foo:bar ?o }")


def test_constant_pred_prunes_partitioned_sink(spark, graph, tmp_path):
    """A constant-predicate pattern must become a partition filter on the
    pred-partitioned graph sink — the scan reads ONE predicate's partition,
    which is the property that makes per-pattern scans viable at 100 TB."""
    path = str(tmp_path / "graph")
    graph.write.partitionBy("pred").parquet(path)
    t = spark.read.parquet(path)
    q = sparql_select(t, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?n WHERE {{ ?s ex:name ?n . }}
    """)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(pred" in plan or \
        f"pred = {EX}name" in plan.replace("#", " ").replace(")", " "), plan
    assert q.count() == 3


def test_union_pads_unshared_vars(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?n ?a WHERE {{
          {{ ?s ex:name ?n }} UNION {{ ?s ex:age ?a }}
        }} ORDER BY ?s ?n ?a
    """).collect()
    # every name row has a null, every age row has a null n
    names = [(r["s"], r["n"]) for r in out if r["n"] is not None]
    ages = [(r["s"], r["a"]) for r in out if r["a"] is not None]
    assert len(out) == 5 and len(names) == 3 and len(ages) == 2
    assert all(r["a"] is None for r in out if r["n"] is not None)


def test_union_joined_with_pattern(graph):
    # union block then joined on ?s with an outer pattern
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT DISTINCT ?n WHERE {{
          ?s ex:name ?n .
          {{ ?s a ex:Person }} UNION {{ ?s a ex:Robot }}
        }} ORDER BY ?n
    """).collect()
    assert [r["n"] for r in out] == ["Ada", "Grace", "Linus"]


def test_values_single_and_tuple(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?n WHERE {{
          ?s ex:name ?n .
          VALUES ?n {{ "Ada" "Linus" }}
        }} ORDER BY ?n
    """).collect()
    assert [r["n"] for r in out] == ["Ada", "Linus"]

    out2 = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n ?a WHERE {{
          ?s ex:name ?n . ?s ex:age ?a .
          VALUES (?n ?a) {{ ("Ada" 36) ("Grace" UNDEF) }}
        }} ORDER BY ?n
    """).collect()
    # ("Grace" UNDEF) row: UNDEF -> null join key never matches, so only Ada
    assert [(r["n"], r["a"]) for r in out2] == [("Ada", "36")]


def test_group_by_aggregates(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?t (COUNT(*) AS ?c) (AVG(?a) AS ?avg) WHERE {{
          ?s a ?t .
          OPTIONAL {{ ?s ex:age ?a }}
        }} GROUP BY ?t ORDER BY ?t
    """).collect()
    got = {r["t"]: (r["c"], r["avg"]) for r in out}
    assert got == {EX + "Person": (2, 38.5), EX + "Robot": (1, None)}


def test_global_aggregate_and_distinct_count(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT (COUNT(DISTINCT ?s) AS ?subs) (SUM(?a) AS ?tot) WHERE {{
          ?s ?p ?o .
          OPTIONAL {{ ?s ex:age ?a }}
        }}
    """).collect()
    assert out[0]["subs"] == 3 and out[0]["tot"] > 0


def test_having(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?t (COUNT(*) AS ?c) WHERE {{ ?s a ?t . }}
        GROUP BY ?t HAVING (?c >= 2)
    """).collect()
    assert [(r["t"], r["c"]) for r in out] == [(EX + "Person", 2)]


def test_aggregate_errors(graph):
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT ?s (COUNT(*) AS ?c) WHERE { ?s ?p ?o }")
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT * WHERE { ?s ?p ?o } GROUP BY ?s")
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT ?s WHERE { ?s ?p ?o } HAVING (?s > 1)")


def test_aggregate_matches_handwritten_plan(graph):
    got = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?t (MIN(?n) AS ?first) WHERE {{
          ?s a ?t . ?s ex:name ?n .
        }} GROUP BY ?t ORDER BY ?t
    """).collect()
    tdf = graph.filter(F.col("pred").endswith("#type")).select(
        F.col("subj").alias("s"), F.col("obj_value").alias("t"))
    ndf = graph.filter(F.col("pred") == EX + "name").select(
        F.col("subj").alias("s"), F.col("obj_value").alias("n"))
    want = (tdf.join(ndf, "s").groupBy("t").agg(F.min("n").alias("first"))
            .orderBy("t").collect())
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_ask(graph):
    from kgforge.sparql import sparql_ask
    assert sparql_ask(graph, f"""
        PREFIX ex: <{EX}>
        ASK {{ ?s ex:age ?a . FILTER (?a > 40) }}
    """) is True
    assert sparql_ask(graph, f"""
        PREFIX ex: <{EX}>
        ASK {{ ?s ex:age ?a . FILTER (?a > 99) }}
    """) is False


def test_construct_carries_binding_metadata(graph):
    from kgforge.sparql import sparql_construct
    out = sparql_construct(graph, f"""
        PREFIX ex: <{EX}>
        CONSTRUCT {{
          ?s ex:label ?n .
          ?s a ex:Named .
        }} WHERE {{ ?s ex:name ?n . }}
    """)
    assert out.columns == ["subj", "pred", "obj_value", "obj_dtype", "obj_is_iri"]
    collected = out.collect()
    assert len(collected) == 6  # 3 labels + 3 type triples
    rows = {(r["pred"], r["obj_value"]): r for r in collected}
    lbl = rows[(EX + "label", "Ada")]
    # the literal-ness and datatype of the source binding are preserved
    assert lbl["obj_is_iri"] is False and lbl["obj_dtype"] == "string"
    typ = rows[("http://www.w3.org/1999/02/22-rdf-syntax-ns#type", EX + "Named")]
    assert typ["obj_is_iri"] is True and typ["obj_dtype"] == "iri"


def test_construct_optional_unbound_emits_no_triple(graph):
    from kgforge.sparql import sparql_construct
    out = sparql_construct(graph, f"""
        PREFIX ex: <{EX}>
        CONSTRUCT {{ ?s ex:hasAge ?a . }} WHERE {{
          ?s ex:name ?n .
          OPTIONAL {{ ?s ex:age ?a }}
        }}
    """).collect()
    assert sorted(r["subj"] for r in out) == [EX + "p1", EX + "p2"]


def test_construct_composes_with_select(graph):
    from kgforge.sparql import sparql_construct
    derived = sparql_construct(graph, f"""
        PREFIX ex: <{EX}>
        CONSTRUCT {{ ?o ex:knownBy ?s . }} WHERE {{ ?s ex:knows ?o . }}
    """)
    out = sparql_select(derived, f"""
        PREFIX ex: <{EX}>
        SELECT ?who WHERE {{ <{EX}p2> ex:knownBy ?who . }}
    """).collect()
    assert [r["who"] for r in out] == [EX + "p1"]


def test_isiri_uses_real_flag_not_shape(graph):
    # p3's homepage literal LOOKS like an IRI; the real flag says it is not
    out2 = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?s ?o WHERE {{ ?s ex:homepage ?o . FILTER (!isIRI(?o)) }}
    """).collect()
    assert [(r["s"], r["o"]) for r in out2] == [(EX + "p3", EX + "p2")]


@pytest.fixture(scope="module")
def chain(spark):
    """a→b→c→d 'next' chain plus an rdf:rest/rdf:first linked list."""
    from kgforge.triples import triples_df
    rows = [
        (EX + "a", EX + "next", EX + "b", "iri", True),
        (EX + "b", EX + "next", EX + "c", "iri", True),
        (EX + "c", EX + "next", EX + "d", "iri", True),
        # cyclic ring to prove the closure terminates on cycles
        (EX + "r1", EX + "loop", EX + "r2", "iri", True),
        (EX + "r2", EX + "loop", EX + "r1", "iri", True),
        # cons-list: l1 -first-> "one", -rest-> l2 ... (the reference's
        # attributeOrder shape, reference data/OntologyService walk)
        (EX + "l1", EX + "first", "one", "string", False),
        (EX + "l1", EX + "rest", EX + "l2", "iri", True),
        (EX + "l2", EX + "first", "two", "string", False),
        (EX + "l2", EX + "rest", EX + "l3", "iri", True),
        (EX + "l3", EX + "first", "three", "string", False),
    ]
    return triples_df(spark, rows).persist()


def test_path_inverse(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?o ?s WHERE {{ ?o ^ex:knows ?s . }}
    """).collect()
    assert [(r["o"], r["s"]) for r in out] == [(EX + "p2", EX + "p1")]


def test_path_sequence(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{ ?s ex:knows/ex:name ?n . }}
    """).collect()
    assert [r["n"] for r in out] == ["Grace"]


def test_path_alternation(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?v WHERE {{ <{EX}p1> (ex:name|ex:age) ?v . }} ORDER BY ?v
    """).collect()
    assert [r["v"] for r in out] == ["36", "Ada"]


def test_path_plus(chain):
    out = sparql_select(chain, f"""
        PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ <{EX}a> ex:next+ ?x . }} ORDER BY ?x
    """).collect()
    assert [r["x"] for r in out] == [EX + "b", EX + "c", EX + "d"]


def test_path_plus_terminates_on_cycle(chain):
    out = sparql_select(chain, f"""
        PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ <{EX}r1> ex:loop+ ?x . }} ORDER BY ?x
    """).collect()
    assert [r["x"] for r in out] == [EX + "r1", EX + "r2"]


def test_path_star_includes_zero_length(chain):
    out = sparql_select(chain, f"""
        PREFIX ex: <{EX}>
        SELECT ?x WHERE {{ <{EX}b> ex:next* ?x . }} ORDER BY ?x
    """).collect()
    assert [r["x"] for r in out] == [EX + "b", EX + "c", EX + "d"]


def test_path_rest_star_first_list_walk(chain):
    # the cons-list idiom: every item reachable from the list head
    out = sparql_select(chain, f"""
        PREFIX ex: <{EX}>
        SELECT ?item WHERE {{ <{EX}l1> ex:rest*/ex:first ?item . }} ORDER BY ?item
    """).collect()
    assert [r["item"] for r in out] == ["one", "three", "two"]


def test_path_closure_keeps_only_its_result_checkpointed(spark, persisted_rdds):
    """Each closure round local-checkpoints its frontier and what it has
    reached; the superseded ones are released, so a call leaves at most the
    returned closure persisted."""
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    rows = []
    for i in range(6):
        cell = f"{EX}cell{i}"
        rows.append((cell, rdf + "first", f"v{i}", "string", False))
        rest = f"{EX}cell{i + 1}" if i < 5 else rdf + "nil"
        rows.append((cell, rdf + "rest", rest, "iri", True))
    cells = triples_df(spark, rows)
    query = f"""
        PREFIX rdf: <{rdf}>
        SELECT ?v WHERE {{ <{EX}cell0> rdf:rest*/rdf:first ?v . }} ORDER BY ?v
    """
    for _ in range(3):
        before = persisted_rdds()
        out = sparql_select(cells, query).collect()
        assert [r["v"] for r in out] == [f"v{i}" for i in range(6)]
        assert len(persisted_rdds() - before) <= 1


def test_path_joins_with_patterns_and_metadata(chain, graph):
    # path endpoint joins a plain pattern; companions flow (isIRI works)
    out = sparql_select(chain, f"""
        PREFIX ex: <{EX}>
        SELECT ?cell ?item WHERE {{
          <{EX}l1> ex:rest+ ?cell .
          ?cell ex:first ?item .
          FILTER (!isIRI(?item))
        }} ORDER BY ?item
    """).collect()
    assert [(r["cell"], r["item"]) for r in out] == [
        (EX + "l3", "three"), (EX + "l2", "two")]


def test_path_errors(graph):
    with pytest.raises(SparqlError):
        sparql_select(graph, "SELECT ?s WHERE { ?s ?p+ ?o }")
    from kgforge.sparql import sparql_construct
    with pytest.raises(SparqlError):
        sparql_construct(graph, f"""
            PREFIX ex: <{EX}>
            CONSTRUCT {{ ?s ex:a/ex:b ?o }} WHERE {{ ?s ex:name ?o }}
        """)


def test_not_exists_anti_join(graph):
    # people (any subject with a name) that have NO age — the q22 shape
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n .
          FILTER NOT EXISTS {{ ?s ex:age ?a . }}
        }} ORDER BY ?n
    """).collect()
    assert [r["n"] for r in out] == ["Linus"]


def test_exists_semi_join(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n .
          FILTER EXISTS {{ ?s ex:age ?a . }}
        }} ORDER BY ?n
    """).collect()
    assert [r["n"] for r in out] == ["Ada", "Grace"]


def test_minus_shared_vars(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n .
          MINUS {{ ?s a ex:Robot . }}
        }} ORDER BY ?n
    """).collect()
    assert [r["n"] for r in out] == ["Ada", "Grace"]


def test_minus_disjoint_domain_removes_nothing(graph):
    # spec corner: MINUS group binding only fresh variables is a no-op
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n .
          MINUS {{ ?x ex:age ?y . }}
        }} ORDER BY ?n
    """).collect()
    assert [r["n"] for r in out] == ["Ada", "Grace", "Linus"]


def test_not_exists_disjoint_nonempty_removes_all(graph):
    # spec corner: NOT EXISTS with no shared vars tests mere non-emptiness
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n .
          FILTER NOT EXISTS {{ ?x ex:age ?y . }}
        }}
    """).collect()
    assert out == []


def test_exists_disjoint_empty_removes_all(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n .
          FILTER EXISTS {{ ?x ex:nosuchpred ?y . }}
        }}
    """).collect()
    assert out == []


def test_negation_compiles_to_semi_anti_joins(graph):
    plan = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n .
          FILTER NOT EXISTS {{ ?s ex:age ?a . }}
          FILTER EXISTS {{ ?s a ex:Robot . }}
        }}
    """)._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and "LeftSemi" in plan


def test_not_exists_after_optional_and_filter_interplay(graph):
    # negation composes with OPTIONAL: keep nameless-age rows intact
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n ?a WHERE {{
          ?s ex:name ?n .
          OPTIONAL {{ ?s ex:age ?a . }}
          FILTER NOT EXISTS {{ ?s ex:homepage ?h . }}
        }} ORDER BY ?n
    """).collect()
    assert [(r["n"], r["a"]) for r in out] == [("Ada", "36"), ("Grace", "41")]


# --- BIND + expression functions ---------------------------------------------


def test_bind_arithmetic_and_precedence(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n ?x WHERE {{
          ?s ex:name ?n ; ex:age ?a .
          BIND(?a * 2 + 1 AS ?x)
        }} ORDER BY ?n
    """).collect()
    assert [(r["n"], r["x"]) for r in out] == [("Ada", "73.0"), ("Grace", "83.0")]


def test_bind_string_functions(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?u ?l ?ln ?sub ?cat WHERE {{
          ?s ex:name ?n .
          FILTER(?n = "Grace")
          BIND(UCASE(?n) AS ?u)
          BIND(LCASE(?n) AS ?l)
          BIND(STRLEN(?n) AS ?ln)
          BIND(SUBSTR(?n, 2, 3) AS ?sub)
          BIND(CONCAT(?n, "-", ?n) AS ?cat)
        }}
    """).collect()
    r = out[0]
    assert (r["u"], r["l"], r["ln"], r["sub"], r["cat"]) == (
        "GRACE", "grace", "5", "rac", "Grace-Grace"
    )


def test_bind_conditional_and_tests(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n ?tag WHERE {{
          ?s ex:name ?n .
          BIND(IF(STRSTARTS(?n, "A"), "vowel", "other") AS ?tag)
        }} ORDER BY ?n
    """).collect()
    assert [(r["n"], r["tag"]) for r in out] == [
        ("Ada", "vowel"), ("Grace", "other"), ("Linus", "other")
    ]


def test_bind_strbefore_strafter_replace(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?b ?a ?r WHERE {{
          ?s ex:name ?n .
          FILTER(?n = "Grace")
          BIND(STRBEFORE(?n, "ac") AS ?b)
          BIND(STRAFTER(?n, "ac") AS ?a)
          BIND(REPLACE(?n, "[aeiou]", "_") AS ?r)
        }}
    """).collect()
    assert [(r["b"], r["a"], r["r"]) for r in out] == [("Gr", "e", "Gr_c_")]


def test_strbefore_strafter_absent_needle_empty(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?b ?a WHERE {{
          ?s ex:name ?n . FILTER(?n = "Ada")
          BIND(STRBEFORE(?n, "zz") AS ?b)
          BIND(STRAFTER(?n, "zz") AS ?a)
        }}
    """).collect()
    assert [(r["b"], r["a"]) for r in out] == [("", "")]


def test_filter_numeric_functions(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n ; ex:age ?a .
          FILTER(FLOOR(?a / 10) = 4 && ABS(?a - 50) < 10)
        }}
    """).collect()
    assert [r["n"] for r in out] == ["Grace"]


def test_bind_coalesce_over_optional(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n ?aa WHERE {{
          ?s ex:name ?n .
          OPTIONAL {{ ?s ex:age ?a }}
          BIND(COALESCE(?a, "unknown") AS ?aa)
        }} ORDER BY ?n
    """).collect()
    assert [(r["n"], r["aa"]) for r in out] == [
        ("Ada", "36"), ("Grace", "41"), ("Linus", "unknown")
    ]


def test_bind_var_usable_in_filter_and_isliteral(graph):
    out = sparql_select(graph, f"""
        PREFIX ex: <{EX}>
        SELECT ?n WHERE {{
          ?s ex:name ?n .
          BIND(STRLEN(?n) AS ?ln)
          FILTER(?ln >= 5 && isLiteral(?ln))
        }} ORDER BY ?n
    """).collect()
    assert [r["n"] for r in out] == ["Grace", "Linus"]


def test_bind_rebinding_rejected(graph):
    with pytest.raises(SparqlError, match="rebind"):
        sparql_select(graph, f"""
            PREFIX ex: <{EX}>
            SELECT ?n WHERE {{
              ?s ex:name ?n . BIND(UCASE(?n) AS ?n)
            }}
        """).collect()


def test_bind_extends_unit_solution(graph):
    out = sparql_select(graph, """
        SELECT ?x WHERE { BIND(1 + 2 AS ?x) }
    """).collect()
    assert [r["x"] for r in out] == ["3.0"]

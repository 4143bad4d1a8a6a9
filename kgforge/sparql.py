"""Minimal SPARQL SELECT evaluator over the canonical triple DataFrame.

The reference interacts with its Jena ``Model`` exclusively through SPARQL
(11 templates built in ``data/QueryBuildingService.java``, executed by Jena
ARQ in ``data/QueryService.java``).  Those templates are each implemented as
dedicated operators elsewhere in this repo; this module adds what a Jena
user actually reaches for when they *switch*: ad-hoc SPARQL over the triple
table, compiled to ONE parameterized Spark SQL statement so Catalyst/AQE —
not a driver loop — plans and executes it.

Supported subset (covers every shape the reference's templates use, plus
the common exploratory forms):

- ``PREFIX pfx: <iri>`` declarations
- ``SELECT [DISTINCT] ?a ?b …``, ``SELECT *``, aggregate projections
  ``(COUNT(?v) AS ?alias)`` / ``COUNT(*)`` / ``COUNT(DISTINCT ?v)`` /
  ``SUM`` / ``AVG`` / ``MIN`` / ``MAX`` /
  ``GROUP_CONCAT(?v; SEPARATOR="…")`` (operands SORTED before joining so
  the result is partition-invariant — a documented divergence from Jena's
  encounter order, which is undefined under distribution), and projected
  ``(EXISTS { … } AS ?flag)`` (a LEFT join against the inner group's
  distinct shared variables, flag coalesced to false — lexical
  ``"true"``/``"false"`` bindings)
- ``DELETE { … } WHERE { … }`` updates via :func:`sparql_delete` — the
  template instantiates like CONSTRUCT and the graph is LEFT ANTI joined
  against it (the reference's delete-originals query runs verbatim)
- every SPARQL template the reference builds in
  ``data/QueryBuildingService.java`` parses and runs UNCHANGED after
  Jena's ``ParameterizedSparqlString`` parameter substitution
  (``tests/test_sparql_reference_templates.py`` executes all of them)
- ``WHERE { … }`` with:
  - basic graph patterns, ``.``-separated, with ``;`` predicate-object
    lists and ``,`` object lists; ``a`` sugar for rdf:type
  - property paths over constant predicates: ``^p`` (inverse), ``p1/p2``
    (sequence), ``p1|p2`` (alternation), ``p+``/``p*`` (transitive
    closure — a semi-naive iterated-DataFrame fixpoint, rounds bounded by
    the path diameter; ``*`` adds the spec's zero-length identity over the
    graph's terms), with parentheses — the ``rdf:rest*/rdf:first`` idiom
    the reference's attributeOrder closure walks
  - ``OPTIONAL { … }`` groups (compiled to left joins)
  - ``{ … } UNION { … }`` alternatives (compiled to ``UNION ALL`` with
    null-padding for variables bound on one side only)
  - negation: ``MINUS { … }`` and ``FILTER NOT EXISTS { … }`` compile to
    LEFT ANTI joins on the shared variables, ``FILTER EXISTS { … }`` to a
    LEFT SEMI join — the Spark-native forms (no row multiplication, AQE
    broadcasts the probe side when small).  Spec divergences kept: with NO
    shared variables MINUS removes nothing while (NOT) EXISTS tests the
    inner group's mere non-emptiness, both per spec; the inner group is
    compiled standalone, so correlated FILTERs that reference *outer*
    variables are not supported, and rows whose shared variable is unbound
    (from OPTIONAL) follow anti-join null semantics (kept) rather than the
    spec's unbound-is-compatible rule
  - ``{ SELECT … }`` subqueries (SPARQL 1.1 §12): evaluated bottom-up,
    only projected variables visible to the enclosing group (separate
    scope for inner non-projected names per spec); aggregate /
    DISTINCT / top-k (ORDER BY + LIMIT) subqueries all compile to the
    same SQL shapes as top-level queries and merge into the outer
    group as one more equi-join — the "join against a pre-aggregated
    side" idiom Catalyst/AQE already plans well at scale
  - ``VALUES ?v { … }`` / ``VALUES (?a ?b) { (…) … }`` inline data
    (``UNDEF`` → null), compiled to a SQL ``VALUES`` relation of parameter
    markers (a local relation, no Python-backed scan) joined in — at scale
    this is the broadcast-join idiom for "restrict to this ID list"
  - ``FILTER ( expr )`` with ``= != < <= > >= && || !``, arithmetic
    ``+ - * /`` (operands coerced to double, see below), ``regex(?v, "pat")``,
    ``bound(?v)``, ``isIRI(?v)``, ``isLiteral(?v)``, ``str(?v)``, and the
    SPARQL 1.1 builtins ``STRLEN UCASE LCASE CONCAT SUBSTR STRSTARTS
    STRENDS CONTAINS STRBEFORE STRAFTER REPLACE ABS CEIL FLOOR ROUND IF
    COALESCE`` — all compiled to JVM expressions, no Python in the row path
  - ``BIND ( expr AS ?var )`` — extends each solution with a computed
    literal binding (stored lexically like every binding, datatype in the
    companion column so CONSTRUCT emits a typed literal); applied after
    the group's pattern joins and before FILTER/negation, rebinding a
    bound variable is an error per spec, and a group of only BINDs
    extends the unit solution
  - a group of only OPTIONALs extends the spec's unit solution (one empty
    mapping), and an OPTIONAL sharing no variables is a true left join —
    the left row survives an empty inner group (both shapes appear in the
    reference's KPI-data template)
- ``GROUP BY ?a ?b`` + ``HAVING ( expr )`` (expr over aliases/keys)
- ``ORDER BY [ASC|DESC](?v) …``, ``LIMIT n`` and ``OFFSET n`` (either
  order; OFFSET without ORDER BY is implementation-defined per spec), and
  the ``SAMPLE`` aggregate (deterministically narrowed to the group MIN,
  like GROUP_CONCAT's sorted operands — documented divergences from
  Jena's arbitrary pick)

Aggregate typing over lexical bindings: ``COUNT`` counts non-null
bindings; ``SUM``/``AVG`` cast operands with ``try_cast`` to double
(SPARQL numeric aggregation over this engine's stored datatypes);
``MIN``/``MAX`` compare lexical forms (document the cast if you need
numeric extrema: ``xsd:integer`` lexical order ≠ numeric order).  ORDER BY
compares lexical forms too.

Terms: ``?var``, ``<iri>``, ``pfx:local``, ``"string"``, integers/decimals,
``true``/``false``.

Compilation model — each ``sparql_*`` call parses the query and makes ONE
``spark.sql(text, args, g=triples, …)`` call (class ``_Sql``):

- every relation is a derived table: a triple pattern is ``SELECT … FROM
  {g} WHERE pred = :pN …``, a group joins its parts on the shared variables
  (``JOIN … USING``; no shared variables → ``CROSS JOIN``), OPTIONAL is
  ``LEFT JOIN … USING``, UNION is a null-padded ``UNION ALL``, MINUS and
  FILTER NOT EXISTS are ``LEFT ANTI JOIN``, FILTER EXISTS is ``LEFT SEMI
  JOIN``, FILTER is ``WHERE``, BIND is a projection, and aggregates,
  DISTINCT, ORDER BY, LIMIT and OFFSET are the SQL clauses of the same
  name (ORDER BY + LIMIT collapses to TakeOrdered); the optimized plan is
  the one a hand-written DataFrame query gets;
- no query value reaches the statement text: every IRI, literal, regex,
  separator and replacement is a named parameter marker ``:pN`` bound to a
  literal before optimization, and variables are backquoted identifiers
  (the tokenizer limits them to ``[A-Za-z_][A-Za-z0-9_]*``).  Only the
  parser's integers (LIMIT, OFFSET, SUBSTR bounds) are written as text;
- a CONSTANT predicate is therefore still a partition-pruning filter on the
  pred-partitioned graph sink (``kgforge/kg/io.py``) — at 100 TB each
  pattern reads only its predicate's partitions — and constant
  subjects/objects push down as parquet filters;
- join order is left as written and joins are plain equi-joins on the
  shared variable columns — AQE picks broadcast/shuffle per side at
  runtime, exactly the decision we should not hand-schedule;
- a property path's closure (``_path_rel``) runs as DataFrame actions
  before the statement and enters it as one more relation argument;
- the Python side stays O(query size): a compiled query costs a few dozen
  py4j round trips, not one per Column node.

Variable bindings are lexical forms (strings).  Every numeric coercion — a
comparison with a numeric operand, arithmetic, ABS/CEIL/FLOOR/ROUND, a BIND
of either — is ``try_cast(… AS DOUBLE)`` and division is ``try_divide``,
matching SPARQL's numeric operator mapping for the datatypes this engine
stores: a lexical form that does not parse as a number yields NULL and the
solution drops, as a SPARQL type error does, whether or not Spark's ANSI
mode is on.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgforge.util import release_checkpoint

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


class SparqlError(ValueError):
    pass


# --- tokenizer ---------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRI><[^<>\s]*>)
  | (?P<VAR>\?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<STRING>"(?:[^"\\]|\\.)*")
  | (?P<NUMBER>[+-]?(?:\d+\.\d*|\.\d+|\d+))
  | (?P<PNAME>[A-Za-z_][A-Za-z0-9_-]*:[A-Za-z0-9_.-]*)
  | (?P<KEYWORD>[A-Za-z][A-Za-z0-9_]*)
  | (?P<OP><=|>=|!=|&&|\|\||[=<>!{}().;,*+/^|-])
    """,
    re.VERBOSE,
)


def _tokenize(q: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(q):
        m = _TOKEN_RE.match(q, i)
        if not m:
            raise SparqlError(f"unexpected character at offset {i}: {q[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind != "WS":
            out.append((kind, m.group()))
    out.append(("EOF", ""))
    return out


# --- AST ---------------------------------------------------------------------


@dataclass
class Term:
    kind: str  # "var" | "iri" | "str" | "num" | "bool"
    value: str


@dataclass
class Path:
    """Property-path expression over constant predicates.

    op ∈ {"iri", "inv", "seq", "alt", "plus", "star"}; args are child
    Paths ("iri" carries the IRI string instead)."""
    op: str
    args: list


@dataclass
class Pattern:
    s: Term
    p: Term | Path
    o: Term


@dataclass
class Group:
    patterns: list = field(default_factory=list)   # Pattern
    optionals: list = field(default_factory=list)  # Group
    filters: list = field(default_factory=list)    # expr AST tuples
    unions: list = field(default_factory=list)     # list[list[Group]]
    values: list = field(default_factory=list)     # (vars, rows) blocks
    subqueries: list = field(default_factory=list)  # Query ({ SELECT … })
    minuses: list = field(default_factory=list)    # Group (MINUS)
    exists: list = field(default_factory=list)     # Group (FILTER EXISTS)
    not_exists: list = field(default_factory=list)  # Group (FILTER NOT EXISTS)
    binds: list = field(default_factory=list)      # (expr AST, var) pairs

    def is_plain_triples(self) -> bool:
        return not (self.optionals or self.filters or self.unions
                    or self.values or self.minuses or self.exists
                    or self.not_exists or self.binds or self.subqueries)


@dataclass
class Agg:
    fn: str            # count | sum | avg | min | max | group_concat
    arg: str | None    # variable name, or None for COUNT(*)
    distinct: bool
    alias: str
    sep: str = " "     # GROUP_CONCAT separator (spec default: single space)


@dataclass
class ExistsProj:
    """``(EXISTS { … } AS ?alias)`` in a SELECT projection — evaluated as a
    LEFT join of the solutions against the inner group's distinct shared
    variables, flag coalesced to false (the Spark-native correlated-EXISTS
    plan; with no shared variables it degrades to a non-emptiness probe)."""
    group: Group
    alias: str


@dataclass
class Query:
    select: list  # var names / Agg items, or ["*"]
    distinct: bool
    where: Group
    group_by: list  # var names
    having: list    # expr AST tuples
    order_by: list  # (var, asc) pairs
    limit: int | None
    form: str = "select"            # select | ask | construct
    template: Group | None = None   # construct template (patterns only)
    offset: int | None = None       # OFFSET n (solution-slice skip)


class _Parser:
    def __init__(self, q: str):
        self.toks = _tokenize(q)
        self.i = 0
        self.prefixes: dict[str, str] = {}

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, text: str):
        k, v = self.next()
        if v.upper() != text.upper():
            raise SparqlError(f"expected {text!r}, got {v!r}")
        return v

    def kw(self, word: str) -> bool:
        k, v = self.peek()
        if k == "KEYWORD" and v.upper() == word.upper():
            self.next()
            return True
        return False

    # -- terms --
    def term(self) -> Term:
        k, v = self.next()
        if k == "VAR":
            return Term("var", v[1:])
        if k == "IRI":
            return Term("iri", v[1:-1])
        if k == "STRING":
            return Term("str", _unescape(v[1:-1]))
        if k == "NUMBER":
            return Term("num", v)
        if k == "PNAME":
            pfx, local = v.split(":", 1)
            if pfx not in self.prefixes:
                raise SparqlError(f"undeclared prefix {pfx!r}")
            return Term("iri", self.prefixes[pfx] + local)
        if k == "KEYWORD":
            if v == "a":
                return Term("iri", RDF_TYPE)
            if v.lower() in ("true", "false"):
                return Term("bool", v.lower())
        raise SparqlError(f"expected term, got {v!r}")

    # -- query --
    def parse(self) -> Query:
        while self.kw("PREFIX"):
            k, v = self.next()
            if k != "PNAME" or not v.endswith(":"):
                raise SparqlError(f"bad prefix name {v!r}")
            name = v[:-1]
            k2, v2 = self.next()
            if k2 != "IRI":
                raise SparqlError(f"bad prefix IRI {v2!r}")
            self.prefixes[name] = v2[1:-1]
        if self.kw("ASK"):
            where = self.group()
            k, v = self.next()
            if k != "EOF":
                raise SparqlError(f"trailing input at {v!r}")
            return Query([], False, where, [], [], [], None, form="ask")
        if self.kw("CONSTRUCT"):
            template = self.group()
            if not template.is_plain_triples():
                raise SparqlError("CONSTRUCT template must be plain triples")
            if any(isinstance(p.p, Path) for p in template.patterns):
                raise SparqlError("property paths are not valid in a CONSTRUCT template")
            if not template.patterns:
                raise SparqlError("empty CONSTRUCT template")
            if not self.kw("WHERE"):
                raise SparqlError("CONSTRUCT needs a WHERE clause")
            where = self.group()
            limit = None
            if self.kw("LIMIT"):
                k, v = self.next()
                if k != "NUMBER":
                    raise SparqlError("LIMIT expects a number")
                limit = int(v)
            k, v = self.next()
            if k != "EOF":
                raise SparqlError(f"trailing input at {v!r}")
            return Query([], False, where, [], [], [], limit,
                         form="construct", template=template)
        if self.kw("DESCRIBE"):
            terms = []
            while self.peek()[0] in ("VAR", "IRI", "PNAME"):
                terms.append(self.term())
            if not terms:
                raise SparqlError("empty DESCRIBE")
            where = Group()
            if self.kw("WHERE"):
                where = self.group()
            k, v = self.next()
            if k != "EOF":
                raise SparqlError(f"trailing input at {v!r}")
            return Query(terms, False, where, [], [], [], None, form="describe")
        if self.kw("DELETE"):
            template = self.group()
            if not template.is_plain_triples():
                raise SparqlError("DELETE template must be plain triples")
            if any(isinstance(p.p, Path) for p in template.patterns):
                raise SparqlError("property paths are not valid in a DELETE template")
            if not template.patterns:
                raise SparqlError("empty DELETE template")
            if not self.kw("WHERE"):
                raise SparqlError("DELETE needs a WHERE clause")
            where = self.group()
            k, v = self.next()
            if k != "EOF":
                raise SparqlError(f"trailing input at {v!r}")
            return Query([], False, where, [], [], [], None,
                         form="delete", template=template)
        q = self.select_query()
        k, v = self.next()
        if k != "EOF":
            raise SparqlError(f"trailing input at {v!r}")
        return q

    def select_query(self) -> Query:
        """``SELECT … WHERE { … } [GROUP BY/HAVING/ORDER BY/LIMIT]`` — the
        shared core of a top-level query and a ``{ SELECT … }`` subquery
        (which stops at the enclosing ``}`` instead of EOF)."""
        if not self.kw("SELECT"):
            raise SparqlError(
                "only SELECT/ASK/CONSTRUCT/DELETE queries are supported"
            )
        distinct = self.kw("DISTINCT")
        select: list = []
        while True:
            k, v = self.peek()
            if k == "VAR":
                select.append(self.next()[1][1:])
            elif v == "(":
                self.next()
                nk, nv = self.peek()
                if nk == "KEYWORD" and nv.upper() == "EXISTS":
                    self.next()
                    eg = self.group()
                    if not self.kw("AS"):
                        raise SparqlError("EXISTS projection needs AS ?alias")
                    a = self.term()
                    if a.kind != "var":
                        raise SparqlError("AS expects a variable")
                    self.expect(")")
                    select.append(ExistsProj(eg, a.value))
                else:
                    select.append(self.agg_item())
            elif v == "*":
                self.next()
                select = ["*"]
                break
            else:
                break
        if not select:
            raise SparqlError("empty SELECT clause")
        if not self.kw("WHERE"):
            raise SparqlError("missing WHERE")
        where = self.group()
        group_by: list[str] = []
        if self.kw("GROUP"):
            self.expect("BY")
            while self.peek()[0] == "VAR":
                group_by.append(self.next()[1][1:])
            if not group_by:
                raise SparqlError("empty GROUP BY")
        having: list = []
        if self.kw("HAVING"):
            self.expect("(")
            having.append(self.expr())
            self.expect(")")
        order_by: list[tuple[str, bool]] = []
        if self.kw("ORDER"):
            self.expect("BY")
            while True:
                k, v = self.peek()
                if k == "KEYWORD" and v.upper() in ("ASC", "DESC"):
                    asc = self.next()[1].upper() == "ASC"
                    self.expect("(")
                    var = self.term()
                    self.expect(")")
                elif k == "VAR":
                    asc, var = True, self.term()
                else:
                    break
                if var.kind != "var":
                    raise SparqlError("ORDER BY expects a variable")
                order_by.append((var.value, asc))
            if not order_by:
                raise SparqlError("empty ORDER BY")
        limit = offset = None
        while True:  # LIMIT / OFFSET accepted in either order, per spec
            if limit is None and self.kw("LIMIT"):
                k, v = self.next()
                if k != "NUMBER":
                    raise SparqlError("LIMIT expects a number")
                limit = int(v)
            elif offset is None and self.kw("OFFSET"):
                k, v = self.next()
                if k != "NUMBER":
                    raise SparqlError("OFFSET expects a number")
                offset = int(v)
            else:
                break
        return Query(select, distinct, where, group_by, having, order_by,
                     limit, offset=offset)

    def agg_item(self) -> Agg:
        """``AGG([DISTINCT] ?v | *) AS ?alias`` — the '(' is consumed.
        ``GROUP_CONCAT`` additionally accepts ``; SEPARATOR="…"``."""
        k, v = self.next()
        fn = v.lower()
        if k != "KEYWORD" or fn not in (
            "count", "sum", "avg", "min", "max", "group_concat", "sample"
        ):
            raise SparqlError(f"expected aggregate function, got {v!r}")
        self.expect("(")
        distinct = self.kw("DISTINCT")
        arg: str | None
        if self.peek()[1] == "*":
            if fn != "count":
                raise SparqlError(f"{fn.upper()}(*) is not valid")
            self.next()
            arg = None
        else:
            t = self.term()
            if t.kind != "var":
                raise SparqlError("aggregate argument must be a variable")
            arg = t.value
        sep = " "
        if self.peek()[1] == ";":
            if fn != "group_concat":
                raise SparqlError("only GROUP_CONCAT takes a SEPARATOR")
            self.next()
            if not self.kw("SEPARATOR"):
                raise SparqlError("expected SEPARATOR after ';'")
            self.expect("=")
            sk, sv = self.next()
            if sk != "STRING":
                raise SparqlError("SEPARATOR expects a string literal")
            sep = _unescape(sv[1:-1])
        self.expect(")")
        if not self.kw("AS"):
            raise SparqlError("aggregate projection needs AS ?alias")
        a = self.term()
        if a.kind != "var":
            raise SparqlError("AS expects a variable")
        self.expect(")")
        return Agg(fn, arg, distinct, a.value, sep)

    def group(self) -> Group:
        self.expect("{")
        g = Group()
        while True:
            k, v = self.peek()
            if v == "}":
                self.next()
                return g
            if k == "KEYWORD" and v.upper() == "OPTIONAL":
                self.next()
                g.optionals.append(self.group())
                continue
            if k == "KEYWORD" and v.upper() == "MINUS":
                self.next()
                g.minuses.append(self.group())
                continue
            if k == "KEYWORD" and v.upper() == "FILTER":
                self.next()
                nk, nv = self.peek()
                if nk == "KEYWORD" and nv.upper() == "EXISTS":
                    self.next()
                    g.exists.append(self.group())
                    continue
                if nk == "KEYWORD" and nv.upper() == "NOT":
                    self.next()
                    if not self.kw("EXISTS"):
                        raise SparqlError("expected EXISTS after FILTER NOT")
                    g.not_exists.append(self.group())
                    continue
                self.expect("(")
                g.filters.append(self.expr())
                self.expect(")")
                continue
            if k == "KEYWORD" and v.upper() == "VALUES":
                self.next()
                g.values.append(self.values_block())
                continue
            if k == "KEYWORD" and v.upper() == "BIND":
                self.next()
                self.expect("(")
                e = self.expr()
                if not self.kw("AS"):
                    raise SparqlError("expected AS in BIND(expr AS ?var)")
                t = self.term()
                if t.kind != "var":
                    raise SparqlError("BIND target must be a variable")
                self.expect(")")
                g.binds.append((e, t.value))
                if self.peek()[1] == ".":
                    self.next()
                continue
            if v == "{" and self.i + 1 < len(self.toks) and (
                self.toks[self.i + 1][0] == "KEYWORD"
                and self.toks[self.i + 1][1].upper() == "SELECT"
            ):  # { SELECT … } subquery
                self.next()
                g.subqueries.append(self.select_query())
                self.expect("}")
                if self.peek()[1] == ".":
                    self.next()
                continue
            if v == "{":  # { … } UNION { … } [UNION { … }]*
                alts = [self.group()]
                while self.kw("UNION"):
                    alts.append(self.group())
                g.unions.append(alts)  # a lone nested group is a 1-way union
                if self.peek()[1] == ".":
                    self.next()
                continue
            # triple pattern with ; and , lists
            s = self.term()
            while True:
                p = self.path()
                while True:
                    o = self.term()
                    g.patterns.append(Pattern(s, p, o))
                    if self.peek()[1] == ",":
                        self.next()
                        continue
                    break
                if self.peek()[1] == ";":
                    self.next()
                    if self.peek()[1] in ("}", "."):
                        break  # dangling ';' tolerated, Turtle-style
                    continue
                break
            if self.peek()[1] == ".":
                self.next()

    # -- property paths: alt → seq → step → primary --
    def path(self) -> Term | Path:
        """Predicate position: a variable, a plain IRI, or a property path
        (``^p``, ``p1/p2``, ``p1|p2``, ``p+``, ``p*``, parentheses)."""
        if self.peek()[0] == "VAR":
            return self.term()  # a var predicate admits no path operators
        node = self._path_seq()
        while self.peek()[1] == "|":
            self.next()
            node = Path("alt", [node, self._path_seq()])
        if isinstance(node, Path) and node.op == "iri":
            return Term("iri", node.args[0])  # plain predicate fast path
        return node

    def _path_seq(self) -> Path:
        node = self._path_step()
        while self.peek()[1] == "/":
            self.next()
            node = Path("seq", [node, self._path_step()])
        return node

    def _path_step(self) -> Path:
        inv = False
        if self.peek()[1] == "^":
            self.next()
            inv = True
        if self.peek()[1] == "(":
            self.next()
            node = self.path()
            if isinstance(node, Term):
                if node.kind != "iri":
                    raise SparqlError("variables cannot appear inside a path")
                node = Path("iri", [node.value])
            self.expect(")")
        else:
            t = self.term()
            if t.kind != "iri":
                raise SparqlError(f"property path expects an IRI, got {t!r}")
            node = Path("iri", [t.value])
        if inv:
            node = Path("inv", [node])
        nxt = self.peek()[1]
        if nxt in ("+", "*"):
            self.next()
            node = Path("plus" if nxt == "+" else "star", [node])
        return node

    def values_block(self) -> tuple[list[str], list[list]]:
        """``VALUES ?v { t … }`` or ``VALUES (?a ?b) { (t t) … }``."""
        vars_: list[str] = []
        if self.peek()[1] == "(":
            self.next()
            while self.peek()[0] == "VAR":
                vars_.append(self.next()[1][1:])
            self.expect(")")
        elif self.peek()[0] == "VAR":
            vars_.append(self.next()[1][1:])
        if not vars_:
            raise SparqlError("VALUES needs at least one variable")
        self.expect("{")
        rows: list[list] = []
        while self.peek()[1] != "}":
            if self.peek()[1] == "(":
                self.next()
                row = []
                while self.peek()[1] != ")":
                    row.append(self._values_term())
                self.next()
            else:
                row = [self._values_term()]
            if len(row) != len(vars_):
                raise SparqlError(
                    f"VALUES row width {len(row)} != {len(vars_)} variables"
                )
            rows.append(row)
        self.next()  # }
        return vars_, rows

    def _values_term(self):
        k, v = self.peek()
        if k == "KEYWORD" and v.upper() == "UNDEF":
            self.next()
            return None
        t = self.term()
        if t.kind == "var":
            raise SparqlError("VALUES data must be constants")
        return t.value

    # -- filter expressions: or → and → unary → cmp → primary --
    def expr(self):
        node = self.expr_and()
        while self.peek()[1] == "||":
            self.next()
            node = ("or", node, self.expr_and())
        return node

    def expr_and(self):
        node = self.expr_unary()
        while self.peek()[1] == "&&":
            self.next()
            node = ("and", node, self.expr_unary())
        return node

    def expr_unary(self):
        if self.peek()[1] == "!":
            self.next()
            return ("not", self.expr_unary())
        if self.peek()[1] == "(":
            self.next()
            node = self.expr()
            self.expect(")")
            return node
        return self.expr_cmp()

    def expr_cmp(self):
        left = self.expr_add()
        k, v = self.peek()
        if v in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            right = self.expr_add()
            return ("cmp", v, left, right)
        return ("truthy", left)

    def expr_add(self):
        node = self.expr_mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            node = ("arith", op, node, self.expr_mul())
        return node

    def expr_mul(self):
        node = self.primary()
        while self.peek()[1] in ("*", "/"):
            op = self.next()[1]
            node = ("arith", op, node, self.primary())
        return node

    _FUNCS = (
        "regex", "bound", "isiri", "isliteral", "str",
        "strlen", "ucase", "lcase", "concat", "substr",
        "strstarts", "strends", "contains", "strbefore", "strafter",
        "replace", "abs", "ceil", "floor", "round", "if", "coalesce",
    )

    def primary(self):
        k, v = self.peek()
        if k == "KEYWORD" and v.lower() in self._FUNCS:
            fn = self.next()[1].lower()
            self.expect("(")
            args = [self.expr()]
            while self.peek()[1] == ",":
                self.next()
                args.append(self.expr())
            self.expect(")")
            return ("fn", fn, args)
        if v == "(":
            self.next()
            node = self.expr()
            self.expect(")")
            return node
        return ("term", self.term())


def _unescape(s: str) -> str:
    return (
        s.replace("\\\\", "\x00").replace('\\"', '"').replace("\\n", "\n")
        .replace("\\t", "\t").replace("\x00", "\\")
    )


# --- compiler ----------------------------------------------------------------


def _m_iri(v: str) -> str:
    return f"__m_{v}_iri"


def _m_dt(v: str) -> str:
    return f"__m_{v}_dt"


_REL_COLS = ["_ps", "_ps_iri", "_ps_dt", "_po", "_po_iri", "_po_dt"]


def _path_rel(triples: DataFrame, path: Path, max_iter: int = 64) -> DataFrame:
    """Compile a property path to its binary relation: columns ``_ps … _po``
    with the endpoints' IRI-ness/datatype companions.

    ``seq``/``alt``/``inv`` are joins/unions/column swaps.  ``plus``/``star``
    run a semi-naive transitive-closure loop — per round one equi-join of the
    frontier against the base edges, a distinct, and an anti-join against
    what's already reached; rounds are bounded by the path's diameter, and
    each round ``localCheckpoint``s to keep the plan flat (the same shape as
    ``kgforge/kg/components.py``'s hash-min loop).  A round releases the
    checkpoints its successor supersedes, so the returned closure is the
    only one left.  ``star`` adds zero-length
    paths: per the SPARQL spec those connect every term IN THE GRAPH to
    itself, so the identity relation is built from the graph's subjects and
    objects."""
    if path.op == "iri":
        return triples.filter(F.col("pred") == path.args[0]).select(
            F.col("subj").alias("_ps"),
            F.lit(True).alias("_ps_iri"),
            F.lit("iri").alias("_ps_dt"),
            F.col("obj_value").alias("_po"),
            F.col("obj_is_iri").alias("_po_iri"),
            F.col("obj_dtype").alias("_po_dt"),
        )
    if path.op == "inv":
        r = _path_rel(triples, path.args[0], max_iter)
        return r.select(
            F.col("_po").alias("_ps"), F.col("_po_iri").alias("_ps_iri"),
            F.col("_po_dt").alias("_ps_dt"), F.col("_ps").alias("_po"),
            F.col("_ps_iri").alias("_po_iri"), F.col("_ps_dt").alias("_po_dt"),
        )
    if path.op == "seq":
        r1 = _path_rel(triples, path.args[0], max_iter)
        r2 = _path_rel(triples, path.args[1], max_iter).select(
            *[F.col(c).alias(f"{c}__r") for c in _REL_COLS]
        )
        return r1.join(r2, F.col("_po") == F.col("_ps__r")).select(
            "_ps", "_ps_iri", "_ps_dt",
            F.col("_po__r").alias("_po"), F.col("_po_iri__r").alias("_po_iri"),
            F.col("_po_dt__r").alias("_po_dt"),
        )
    if path.op == "alt":
        r1 = _path_rel(triples, path.args[0], max_iter)
        return r1.unionByName(_path_rel(triples, path.args[1], max_iter)).distinct()
    if path.op in ("plus", "star"):
        base = _path_rel(triples, path.args[0], max_iter).distinct()
        step = base.select(*[F.col(c).alias(f"{c}__r") for c in _REL_COLS])
        reach = frontier = base.localCheckpoint(eager=True)
        nxt = None
        done = False
        try:
            for _ in range(max_iter):
                nxt = (
                    frontier.join(step, F.col("_po") == F.col("_ps__r"))
                    .select(
                        "_ps", "_ps_iri", "_ps_dt",
                        F.col("_po__r").alias("_po"),
                        F.col("_po_iri__r").alias("_po_iri"),
                        F.col("_po_dt__r").alias("_po_dt"),
                    )
                    .distinct()
                    .join(reach, ["_ps", "_po"], "left_anti")
                    .localCheckpoint(eager=True)
                )
                if not nxt.limit(1).count():
                    break
                grown = reach.unionByName(nxt).localCheckpoint(eager=True)
                # the round's successor is materialized: what it supersedes
                # is read by nothing any more
                release_checkpoint(frontier)
                release_checkpoint(reach)
                frontier, reach, nxt = nxt, grown, None
            else:
                raise SparqlError(
                    f"property path closure did not converge in {max_iter} rounds"
                )
            done = True
        finally:
            # only the returned closure stays checkpointed
            for d in (frontier, nxt, reach):
                if d is not None and not (done and d is reach):
                    release_checkpoint(d)
        if path.op == "plus":
            return reach
        terms = triples.select(
            F.col("subj").alias("_t"), F.lit(True).alias("_t_iri"),
            F.lit("iri").alias("_t_dt"),
        ).unionByName(
            triples.select(
                F.col("obj_value").alias("_t"),
                F.col("obj_is_iri").alias("_t_iri"),
                F.col("obj_dtype").alias("_t_dt"),
            )
        ).distinct()
        ident = terms.select(
            F.col("_t").alias("_ps"), F.col("_t_iri").alias("_ps_iri"),
            F.col("_t_dt").alias("_ps_dt"), F.col("_t").alias("_po"),
            F.col("_t_iri").alias("_po_iri"), F.col("_t_dt").alias("_po_dt"),
        )
        return reach.unionByName(ident).distinct()
    raise SparqlError(f"unsupported path operator {path.op!r}")




def _q(name: str) -> str:
    """A backquoted SQL identifier.  Variable names are limited by the
    tokenizer to ``[A-Za-z_][A-Za-z0-9_]*``, so quoting cannot be escaped."""
    return f"`{name}`"


def _var_cols(v: str) -> list[str]:
    """A variable's binding column and its two companions."""
    return [_q(v), _q(_m_iri(v)), _q(_m_dt(v))]


def _col_list(names) -> str:
    return ", ".join(_q(v) for v in names)


# the canonical graph as it appears in the statement text; ``spark.sql``
# formats it into a temporary view name
_G = "{g}"

# the slots of a triple-table scan and of a path relation: (value column,
# IRI-ness, datatype, whether a literal constant may stand there)
_TRIPLE_SLOTS = (
    ("subj", "true", "'iri'", False),
    ("pred", "true", "'iri'", False),
    ("obj_value", "obj_is_iri", "obj_dtype", True),
)
_PATH_SLOTS = (
    ("_ps", "_ps_iri", "_ps_dt", True),
    ("_po", "_po_iri", "_po_dt", True),
)


_BOOL_FNS = ("regex", "bound", "isiri", "isliteral",
             "strstarts", "strends", "contains")


def _expr_dtype(node) -> str:
    """Static datatype of a BIND expression for the companion column."""
    if node[0] == "truthy":
        return _expr_dtype(node[1])
    if node[0] in ("or", "and", "not", "cmp"):
        return "boolean"
    if node[0] == "arith":
        return "double"
    if node[0] == "fn":
        fn = node[1]
        if fn in _BOOL_FNS:
            return "boolean"
        if fn in ("strlen", "ceil", "floor", "round"):
            return "long"
        if fn == "abs":
            return "double"
        if fn == "if":
            return _expr_dtype(node[2][1])
        if fn == "coalesce":
            return _expr_dtype(node[2][0])
        return "string"
    if node[0] == "term":
        t = node[1]
        return {"num": "double", "bool": "boolean"}.get(t.kind, "string")
    return "string"


def _unwrap_term(node) -> Term | None:
    """Peel ``truthy`` wrappers; return the underlying Term or None."""
    while node[0] == "truthy":
        node = node[1]
    return node[1] if node[0] == "term" else None


def _is_numeric_node(node) -> bool:
    if node[0] == "truthy":
        return _is_numeric_node(node[1])
    if node[0] == "arith":
        return True
    if node[0] == "fn":
        return node[1] in ("strlen", "abs", "ceil", "floor", "round")
    return node[0] == "term" and node[1].kind == "num"


def _lit_str(node, what: str) -> str:
    t = _unwrap_term(node)
    if t is None or t.kind != "str":
        raise SparqlError(f"{what} must be a string literal")
    return t.value


class _Sql:
    """One SPARQL request → one parameterized Spark SQL statement.

    Every relation (a pattern scan, a group, a subquery) is a derived
    table whose columns are, per bound variable ``v``, the binding ``v``
    and its companions ``__m_v_iri``/``__m_v_dt`` (other columns are
    internal and never projected out).  Every IRI, literal, regex and
    separator from the query is a named parameter marker ``:pN`` in
    ``args``; the text itself holds only identifiers, engine constants and
    the parser's integers (LIMIT, OFFSET, SUBSTR bounds)."""

    def __init__(self, triples: DataFrame):
        self.triples = triples
        self.args: dict = {}
        self.rels: dict = {"g": triples}

    def param(self, value) -> str:
        name = f"p{len(self.args)}"
        self.args[name] = value
        return ":" + name

    @staticmethod
    def sub(body: str) -> str:
        """A relation as a derived table: Spark analyzes nested derived
        tables faster than the same statement as a chain of CTEs."""
        return f"({body})"

    def relation(self, df: DataFrame) -> str:
        """A DataFrame argument (a property path's closure), referenced as
        ``{rN}`` and bound by ``spark.sql`` like the graph."""
        name = f"r{len(self.rels) - 1}"
        self.rels[name] = df
        return "{" + name + "}"

    def run(self, final: str) -> DataFrame:
        return self.triples.sparkSession.sql(final, self.args, **self.rels)

    # -- graph patterns ---------------------------------------------------

    def pattern(self, pat: Pattern) -> tuple[str, set]:
        """One triple pattern → a filtered scan projected to its variables.

        A constant predicate becomes ``pred = :pN``; the marker is bound to
        a literal before optimization, so the scan keeps its partition
        filter on the pred-partitioned sink.  Subject/predicate bindings
        are IRIs by RDF definition; object bindings copy the triple's
        ``obj_is_iri``/``obj_dtype``.  A property path binds its endpoints
        against the path's relation (either may be a literal)."""
        if isinstance(pat.p, Path):
            src = self.relation(_path_rel(self.triples, pat.p))
            slots = zip(_PATH_SLOTS, (pat.s, pat.o))
        else:
            src = _G
            slots = zip(_TRIPLE_SLOTS, (pat.s, pat.p, pat.o))
        where, proj, seen = [], [], {}
        for (col, iri, dt, literal_ok), term in slots:
            if term.kind == "var":
                if term.value in seen:  # e.g. ?x ?p ?x — intra-pattern equality
                    where.append(f"{col} = {seen[term.value]}")
                    continue
                seen[term.value] = col
                proj += [f"{col} AS {_q(term.value)}",
                         f"{iri} AS {_q(_m_iri(term.value))}",
                         f"{dt} AS {_q(_m_dt(term.value))}"]
            elif term.kind == "iri":
                where.append(f"{col} = {self.param(term.value)}")
                if iri != "true":
                    where.append(iri)
            elif not literal_ok:
                raise SparqlError("literals are only valid in object position")
            elif term.kind in ("str", "bool"):
                where.append(f"{col} = {self.param(term.value)} AND NOT {iri}")
            else:  # num
                where.append(
                    f"try_cast({col} AS DOUBLE) = {self.param(float(term.value))}")
        sql = f"SELECT {', '.join(proj) or '1 AS __unit'} FROM {src}"
        if where:
            sql += " WHERE " + " AND ".join(where)
        return self.sub(sql), set(seen)

    def union(self, alts: list) -> tuple[str, set]:
        """``{A} UNION {B}`` → ``UNION ALL`` with null-padding: a variable
        bound in only one branch is null in the other's rows."""
        parts = [self.group(alt) for alt in alts]
        all_vars = sorted(set().union(*(v for _, v in parts)))
        branches = []
        for rel, avars in parts:
            sel = []
            for v in all_vars:
                if v in avars:
                    sel += _var_cols(v)
                else:
                    sel += [f"CAST(NULL AS STRING) AS {_q(v)}",
                            f"CAST(NULL AS BOOLEAN) AS {_q(_m_iri(v))}",
                            f"CAST(NULL AS STRING) AS {_q(_m_dt(v))}"]
            branches.append(f"SELECT {', '.join(sel) or '1 AS __unit'} FROM {rel}")
        return self.sub(" UNION ALL ".join(branches)), set(all_vars)

    def values_rows(self, width: int, rows: list) -> str:
        """Inline data as a SQL ``VALUES`` relation ``t(c0, …)`` of
        parameter markers (``UNDEF`` → NULL): a local relation, no
        Python-backed scan."""
        cols = ", ".join(f"c{i}" for i in range(width))
        if not rows:
            nulls = ", ".join("NULL" for _ in range(width))
            return f"(SELECT {nulls} WHERE FALSE) AS t({cols})"
        body = ", ".join(
            "(" + ", ".join("NULL" if x is None else self.param(x) for x in r) + ")"
            for r in rows)
        return f"VALUES {body} AS t({cols})"

    def values(self, vars_: list, rows: list) -> tuple[str, set]:
        """``VALUES`` bindings carry literal-string companions (IRI terms
        still join fine — companions matter only in CONSTRUCT object slots
        and isIRI())."""
        sel = []
        for i, v in enumerate(vars_):
            sel += [f"CAST(c{i} AS STRING) AS {_q(v)}",
                    f"false AS {_q(_m_iri(v))}", f"'string' AS {_q(_m_dt(v))}"]
        return (self.sub(f"SELECT {', '.join(sel)} FROM "
                         f"{self.values_rows(len(vars_), rows)}"), set(vars_))

    def merge(self, acc, bound: set, rel: str, rvars: set, how: str = "inner"):
        """Join ``rel`` into the accumulated solutions on the shared
        variables (``USING``: the left side keeps the shared variables'
        companions).  No shared variables: a cross join, or for OPTIONAL a
        left join that keeps the left row when the inner group is empty."""
        if acc is None:
            return rel, set(rvars)
        shared = sorted(bound & rvars)
        sel = ", ".join(["a.*"] + [f"b.{c}" for v in sorted(rvars - bound)
                                   for c in _var_cols(v)])
        if shared:
            kind = "LEFT JOIN" if how == "left" else "JOIN"
            join = f"{kind} {rel} b USING ({_col_list(shared)})"
        elif how == "inner":
            join = f"CROSS JOIN {rel} b"
        else:
            join = f"LEFT JOIN {rel} b ON TRUE"
        return self.sub(f"SELECT {sel} FROM {acc} a {join}"), bound | rvars

    def group(self, g: Group) -> tuple[str, set]:
        """A group graph pattern → (derived table, bound variables).  Patterns,
        unions, VALUES and subqueries join in that order, then OPTIONALs
        (left joins), BINDs, MINUS, (NOT) EXISTS and finally FILTERs."""
        acc, bound = None, set()
        for pat in g.patterns:
            acc, bound = self.merge(acc, bound, *self.pattern(pat))
        for alts in g.unions:
            acc, bound = self.merge(acc, bound, *self.union(alts))
        for vars_, rows in g.values:
            acc, bound = self.merge(acc, bound, *self.values(vars_, rows))
        for sq in g.subqueries:
            acc, bound = self.merge(acc, bound, *self.subquery(sq))
        if acc is None:
            if not (g.optionals or g.exists or g.not_exists or g.binds):
                raise SparqlError("empty graph pattern")
            # the spec's unit solution: a group of only OPTIONALs/negation
            # extends one empty mapping (the reference's KPI-data query shape)
            acc = self.sub("SELECT true AS __unit")
        for og in g.optionals:
            acc, bound = self.merge(acc, bound, *self.group(og), how="left")
        for bexpr, bvar in g.binds:
            # BIND extends each solution with a computed literal binding,
            # after the group's joins (so it may reference any variable the
            # group binds) and before FILTER/negation; the value is stored
            # lexically like every binding, its datatype in the companion
            # so CONSTRUCT emits a typed literal
            if bvar in bound:
                raise SparqlError(f"BIND would rebind already-bound ?{bvar}")
            e = self.expr(bexpr, bound)
            acc = self.sub(
                f"SELECT *, CAST({e} AS STRING) AS {_q(bvar)}, "
                f"false AS {_q(_m_iri(bvar))}, "
                f"'{_expr_dtype(bexpr)}' AS {_q(_m_dt(bvar))} FROM {acc}")
            bound = bound | {bvar}
        for eg, how in ([(x, "MINUS") for x in g.minuses]
                        + [(x, "LEFT SEMI") for x in g.exists]
                        + [(x, "LEFT ANTI") for x in g.not_exists]):
            rel, evars = self.group(eg)
            shared = _col_list(sorted(bound & evars))
            if shared:
                join = "LEFT ANTI" if how == "MINUS" else how
                acc = self.sub(f"SELECT * FROM {acc} {join} JOIN "
                               f"(SELECT {shared} FROM {rel}) e USING ({shared})")
            elif how != "MINUS":
                # no shared variables: (NOT) EXISTS tests mere non-emptiness,
                # while MINUS removes nothing (both per spec)
                acc = self.sub(f"SELECT * FROM {acc} {how} JOIN "
                               f"(SELECT 1 FROM {rel} LIMIT 1) e ON TRUE")
        if g.filters:
            cond = " AND ".join(f"({self.expr(f, bound)})" for f in g.filters)
            acc = self.sub(f"SELECT * FROM {acc} WHERE {cond}")
        return acc, bound

    # -- expressions ------------------------------------------------------

    def term(self, t: Term, bound: set, numeric: bool = False) -> str:
        if t.kind == "var":
            if t.value not in bound:
                raise SparqlError(f"filter references unbound variable ?{t.value}")
            c = _q(t.value)
        elif t.kind == "num":
            return self.param(float(t.value))
        else:
            c = self.param(t.value)
        return f"try_cast({c} AS DOUBLE)" if numeric else c

    def operand(self, node, bound: set, numeric: bool, companions: bool) -> str:
        if node[0] == "term":
            return self.term(node[1], bound, numeric)
        e = self.expr(node, bound, companions)
        return f"try_cast({e} AS DOUBLE)" if numeric else e

    def expr(self, node, bound: set, companions: bool = True) -> str:
        """A FILTER/BIND/HAVING expression → SQL text.  Every numeric
        coercion is ``try_cast(… AS DOUBLE)`` (and division ``try_divide``):
        a value that does not parse yields NULL and drops the solution, as
        a SPARQL type error does, with or without ANSI mode.  With
        ``companions`` the bindings' IRI flags are in scope (not in HAVING,
        which sees only group keys and aggregate aliases)."""
        op = node[0]
        if op in ("or", "and"):
            left = self.expr(node[1], bound, companions)
            right = self.expr(node[2], bound, companions)
            return f"({left} {op.upper()} {right})"
        if op == "not":
            return f"(NOT {self.expr(node[1], bound, companions)})"
        if op == "truthy":
            return self.expr(node[1], bound, companions)
        if op in ("cmp", "arith"):
            _, sym, ln, rn = node
            numeric = op == "arith" or any(_is_numeric_node(n) for n in (ln, rn))
            lc = self.operand(ln, bound, numeric, companions)
            rc = self.operand(rn, bound, numeric, companions)
            if sym == "/":
                return f"try_divide({lc}, {rc})"
            return f"({lc} {sym} {rc})"
        if op == "fn":
            return self.call(node[1], node[2], bound, companions)
        if op == "term":
            return self.term(node[1], bound)
        raise SparqlError(f"unsupported filter expression {node!r}")

    def call(self, fn: str, args: list, bound: set, companions: bool) -> str:
        def S(i):  # string-typed operand
            return self.operand(args[i], bound, False, companions)

        def N(i):  # numeric-typed operand
            return self.operand(args[i], bound, True, companions)

        if fn == "regex":
            return f"({S(0)} RLIKE {self.param(_lit_str(args[1], 'regex() pattern'))})"
        if fn == "bound":
            return f"({S(0)} IS NOT NULL)"
        if fn in ("isiri", "isliteral"):
            t = _unwrap_term(args[0])
            if t is not None and t.kind == "var" and companions and t.value in bound:
                # the binding's real IRI flag, carried from the scan;
                # unbound (null) is neither an IRI nor a literal
                flag = _q(_m_iri(t.value))
                c = flag if fn == "isiri" else f"NOT {flag}"
                return f"coalesce({c}, false)"
            if t is not None and t.kind == "iri":
                return "true" if fn == "isiri" else "false"
            if t is not None and t.kind in ("str", "num", "bool"):
                return "true" if fn == "isliteral" else "false"
            # fallback (e.g. HAVING scope): approximate by lexical shape
            shaped = f"({S(0)} RLIKE '^[a-z][a-z0-9+.-]*:')"
            return shaped if fn == "isiri" else f"(NOT {shaped})"
        if fn == "str":
            return f"CAST({S(0)} AS STRING)"
        if fn in ("strlen", "ucase", "lcase"):
            sql_fn = {"strlen": "length", "ucase": "upper", "lcase": "lower"}[fn]
            return f"{sql_fn}({S(0)})"
        if fn == "concat":
            return f"concat({', '.join(S(i) for i in range(len(args)))})"
        if fn == "substr":
            # SPARQL SUBSTR is 1-based like Spark substring
            pos = _unwrap_term(args[1])
            if pos is None or pos.kind != "num":
                raise SparqlError("SUBSTR position must be a numeric literal")
            length = 2**31 - 1
            if len(args) > 2:
                ln = _unwrap_term(args[2])
                if ln is None or ln.kind != "num":
                    raise SparqlError("SUBSTR length must be a numeric literal")
                length = int(float(ln.value))
            return f"substring({S(0)}, {int(float(pos.value))}, {length})"
        if fn in ("strstarts", "strends", "contains"):
            sql_fn = {"strstarts": "startswith", "strends": "endswith"}.get(fn, fn)
            return f"{sql_fn}({S(0)}, {S(1)})"
        if fn in ("strbefore", "strafter"):
            needle = self.param(_lit_str(args[1], f"{fn.upper()} needle"))
            s = S(0)
            pos = f"locate({needle}, {s})"
            if fn == "strbefore":
                hit = f"substring_index({s}, {needle}, 1)"
            else:
                # everything after the FIRST occurrence (spec)
                hit = f"substring({s}, {pos} + length({needle}), length({s}))"
            return f"CASE WHEN {pos} > 0 THEN {hit} ELSE '' END"
        if fn == "replace":
            pat = self.param(_lit_str(args[1], "REPLACE pattern"))
            rep = self.param(_lit_str(args[2], "REPLACE replacement"))
            return f"regexp_replace({S(0)}, {pat}, {rep})"
        if fn in ("abs", "ceil", "floor"):
            return f"{fn}({N(0)})"
        if fn == "round":
            return f"round({N(0)}, 0)"
        if fn == "if":
            cond = self.expr(args[0], bound, companions)
            return f"CASE WHEN {cond} THEN {S(1)} ELSE {S(2)} END"
        if fn == "coalesce":
            return f"coalesce({', '.join(S(i) for i in range(len(args)))})"
        raise SparqlError(f"unsupported function {fn}()")

    # -- solution modifiers -----------------------------------------------

    def aggregate(self, acc: str, bound: set, q: Query,
                  with_companions: bool = False) -> str:
        """GROUP BY + aggregate projection → one hash aggregate, HAVING as a
        WHERE over its output (aliases and keys only).  ``with_companions``
        (subquery exports): group keys keep their real companions (every row
        in a group shares the key's lexical form; ``first`` resolves the rare
        same-lexical/different-type collision), aggregate aliases get
        derived ones (COUNT → xsd:integer, SUM/AVG → xsd:double, else
        string; never IRIs)."""
        keys = q.group_by
        plain = [s for s in q.select if not isinstance(s, Agg)]
        if q.select == ["*"]:
            raise SparqlError("SELECT * cannot be combined with aggregates")
        for v in set(plain) | set(keys):
            if v not in bound:
                raise SparqlError(f"GROUP BY/SELECT references unbound variable ?{v}")
        stray = [v for v in plain if v not in keys]
        if stray:
            raise SparqlError(f"non-aggregated SELECT variables not in GROUP BY: {stray}")
        aggs = [s for s in q.select if isinstance(s, Agg)]
        exprs = [_q(k) for k in keys]
        for a in aggs:
            if a.arg is None:
                if a.distinct:
                    raise SparqlError("COUNT(DISTINCT *) is not supported")
                c = "count(1)"
            else:
                if a.arg not in bound:
                    raise SparqlError(f"aggregate over unbound variable ?{a.arg}")
                col = _q(a.arg)
                dist = "DISTINCT " if a.distinct else ""
                if a.fn == "count":
                    c = f"count({dist}{col})"
                elif a.fn in ("sum", "avg"):
                    # SPARQL set semantics for DISTINCT: dedup the operand
                    c = f"{a.fn}({dist}try_cast({col} AS DOUBLE))"
                elif a.fn == "group_concat":
                    # Jena concatenates in encounter order, which is not a
                    # well-defined order under distribution; sort the
                    # operands so the result is partition-invariant
                    # (documented divergence — the reference's consumer
                    # splits and counts, so order never matters to it)
                    lst = "collect_set" if a.distinct else "collect_list"
                    c = f"array_join(array_sort({lst}({col})), {self.param(a.sep)})"
                elif a.fn == "sample":
                    # SAMPLE may return ANY value from the group per spec;
                    # pick min so the result is deterministic across engines
                    # and partitionings (a documented narrowing)
                    c = f"min({col})"
                else:  # DISTINCT under min/max is a semantic no-op
                    c = f"{a.fn}({col})"
            exprs.append(f"{c} AS {_q(a.alias)}")
        if with_companions:
            exprs += [f"first({_q(c)}) AS {_q(c)}"
                      for k in keys for c in (_m_iri(k), _m_dt(k))]
        sql = f"SELECT {', '.join(exprs)} FROM {acc}"
        if keys:
            sql += f" GROUP BY {_col_list(keys)}"
        out = self.sub(sql)
        names = [s if isinstance(s, str) else s.alias for s in q.select]
        proj = [_q(v) for v in names]
        if with_companions:
            derived = {a.alias: ("xsd:integer" if a.fn == "count" else "xsd:double"
                                 if a.fn in ("sum", "avg") else "string")
                       for a in aggs}
            proj = []
            for v in names:
                if v in derived:
                    proj += [_q(v), f"false AS {_q(_m_iri(v))}",
                             f"'{derived[v]}' AS {_q(_m_dt(v))}"]
                else:
                    proj += _var_cols(v)
        sql = f"SELECT {', '.join(proj)} FROM {out}"
        if q.having:
            scope = set(keys) | {a.alias for a in aggs}
            sql += " WHERE " + " AND ".join(
                f"({self.expr(h, scope, companions=False)})" for h in q.having)
        return self.sub(sql)

    def project(self, acc: str, bound: set, q: Query, subquery: bool) -> tuple[str, list]:
        """SELECT list, DISTINCT, ORDER BY, OFFSET and LIMIT → (SQL text,
        projected names).  A subquery exports companions too, and its bare
        ORDER BY (no LIMIT/OFFSET) is dropped: the solution SET it feeds is
        order-free, so a global sort would be wasted."""
        aggs = [s for s in q.select if isinstance(s, Agg)]
        if aggs or q.group_by:
            acc = self.aggregate(acc, bound, q, with_companions=subquery)
            names = [s if isinstance(s, str) else s.alias for s in q.select]
        elif q.having:
            raise SparqlError("HAVING requires GROUP BY or aggregates")
        else:
            names = sorted(bound) if q.select == ["*"] else [
                s if isinstance(s, str) else s.alias for s in q.select]
            missing = [v for v in names if v not in bound]
            if missing:
                raise SparqlError(f"SELECT references unbound variables: {missing}")
        cols = [c for v in names for c in _var_cols(v)] if subquery else [
            _q(v) for v in names]
        sql = (f"SELECT {'DISTINCT ' if q.distinct else ''}"
               f"{', '.join(cols) or '1 AS __unit'} FROM {acc}")
        if q.order_by and (not subquery or q.limit is not None or q.offset):
            sql += " ORDER BY " + ", ".join(
                f"{_q(v)} {'ASC' if asc else 'DESC'}" for v, asc in q.order_by)
        if q.limit is not None:
            sql += f" LIMIT {int(q.limit)}"
        if q.offset:
            # SPARQL slice: skip OFFSET solutions, then take LIMIT.  Without
            # an ORDER BY the skipped prefix is implementation-defined
            sql += f" OFFSET {int(q.offset)}"
        return sql, names

    def subquery(self, q: Query) -> tuple[str, set]:
        """``{ SELECT … }`` → (derived table, exported variables), evaluated bottom-up
        per SPARQL 1.1: only PROJECTED variables are visible to the
        enclosing group (inner non-projected names are a separate scope —
        the merge joins exclusively on exported names).  Exports carry
        companions so CONSTRUCT templates and isIRI() work on them."""
        if any(isinstance(s, ExistsProj) for s in q.select):
            raise SparqlError("EXISTS projections are not supported in subqueries")
        acc, bound = self.group(q.where)
        sql, names = self.project(acc, bound, q, subquery=True)
        return self.sub(sql), set(names)

    def exists_projection(self, acc: str, bound: set, ep: ExistsProj) -> str:
        """``(EXISTS { … } AS ?flag)`` → a LEFT join against the inner
        group's distinct shared variables, the flag coalesced to false and
        bound lexically as ``"true"``/``"false"``; with no shared variables
        it degrades to a non-emptiness probe."""
        rel, evars = self.group(ep.group)
        shared = _col_list(sorted(bound & evars))
        if shared:
            join = (f"LEFT JOIN (SELECT DISTINCT {shared}, true AS __e FROM {rel}) e "
                    f"USING ({shared})")
        else:
            join = f"LEFT JOIN (SELECT true AS __e FROM {rel} LIMIT 1) e ON TRUE"
        return self.sub(
            f"SELECT a.*, CASE WHEN coalesce(e.__e, false) THEN 'true' "
            f"ELSE 'false' END AS {_q(ep.alias)} FROM {acc} a {join}")

    # -- templates --------------------------------------------------------

    def template_term(self, term: Term, slot: str, bound: set):
        """One CONSTRUCT/DELETE template slot → (value, dtype, is_iri)."""
        if term.kind == "var":
            if term.value not in bound:
                raise SparqlError(
                    f"CONSTRUCT template uses unbound variable ?{term.value}")
            return (_q(term.value), _q(_m_dt(term.value)),
                    f"coalesce({_q(_m_iri(term.value))}, false)")
        if term.kind == "iri":
            return self.param(term.value), "'iri'", "true"
        if slot != "obj":
            raise SparqlError(f"literal is not a valid {slot} in a CONSTRUCT template")
        if term.kind == "num":
            dt = ("xsd:integer" if re.fullmatch(r"[+-]?\d+", term.value)
                  else "xsd:decimal")
        else:
            dt = "xsd:boolean" if term.kind == "bool" else "string"
        return self.param(term.value), f"'{dt}'", "false"

    def instantiate(self, acc: str, bound: set, template: Group) -> str:
        """Project a solution set through a plain-triples template: one
        triple family per template pattern, ``UNION ALL``, then DISTINCT
        (graph-set semantics).  Rows where any slot is unbound (an OPTIONAL
        variable) emit no triple, per spec."""
        fams = []
        for pat in template.patterns:
            sv, _, _ = self.template_term(pat.s, "subject", bound)
            pv, _, _ = self.template_term(pat.p, "predicate", bound)
            ov, od, oi = self.template_term(pat.o, "obj", bound)
            fams.append(
                f"SELECT * FROM (SELECT CAST({sv} AS STRING) AS subj, "
                f"CAST({pv} AS STRING) AS pred, CAST({ov} AS STRING) AS obj_value, "
                f"CAST({od} AS STRING) AS obj_dtype, "
                f"CAST({oi} AS BOOLEAN) AS obj_is_iri FROM {acc}) "
                "WHERE subj IS NOT NULL AND pred IS NOT NULL AND obj_value IS NOT NULL")
        return f"SELECT DISTINCT * FROM ({' UNION ALL '.join(fams)})"


_FORM_ERRORS = {
    "ask": "sparql_ask() expects an ASK query",
    "construct": "sparql_construct() expects a CONSTRUCT query",
    "describe": "sparql_describe() expects a DESCRIBE query",
    "delete": "sparql_delete() expects a DELETE WHERE update",
}


def _parse(query: str, form: str) -> Query:
    q = _Parser(query).parse()
    if q.form != form:
        raise SparqlError(_FORM_ERRORS.get(form) or (
            f"{q.form.upper()} is evaluated by sparql_{q.form}(), not sparql_select()"))
    return q


def sparql_select(triples: DataFrame, query: str) -> DataFrame:
    """Evaluate a SPARQL SELECT query over a canonical triple DataFrame.

    Returns a DataFrame with one column per selected variable (lexical
    forms; IRIs as their string value).  See the module docstring for the
    supported subset and the compilation model.
    """
    q = _parse(query, "select")
    sql = _Sql(triples)
    acc, bound = sql.group(q.where)
    eprojs = [s for s in q.select if isinstance(s, ExistsProj)]
    if eprojs and (q.group_by or any(isinstance(s, Agg) for s in q.select)):
        raise SparqlError("EXISTS projections cannot mix with aggregates")
    for ep in eprojs:
        acc = sql.exists_projection(acc, bound, ep)
        bound = bound | {ep.alias}
    text, names = sql.project(acc, bound, q, subquery=False)
    out = sql.run(text)
    return out if names else out.drop("__unit")


def sparql_ask(triples: DataFrame, query: str) -> bool:
    """Evaluate a SPARQL ASK query: does the pattern have any solution?

    Compiles the group exactly like SELECT and probes with ``LIMIT 1`` —
    Spark stops the scan at the first matching row."""
    q = _parse(query, "ask")
    sql = _Sql(triples)
    acc, _ = sql.group(q.where)
    return bool(sql.run(f"SELECT 1 FROM {acc} LIMIT 1").count())


def sparql_describe(triples: DataFrame, query: str) -> DataFrame:
    """Evaluate ``DESCRIBE <iri>… [?var…] [WHERE { … }]`` → the canonical
    triple rows whose SUBJECT is a described resource.

    Described resources are the explicit IRIs (a SQL ``VALUES`` relation)
    plus, for each DESCRIBE variable, its IRI-valued bindings in the WHERE
    solutions (literal bindings are not resources and are skipped, read
    from the IRI-ness companion — never guessed from lexical shape).  The
    description is the subject-rows form (Concise Bounded Description minus
    blank-node closure: this engine's graphs have no blank subjects after
    ingest, which labels every bnode).  One distinct resource set + one
    left-semi join — at scale the semi-join probe side is the small one and
    AQE broadcasts it."""
    q = _parse(query, "describe")
    sql = _Sql(triples)
    iris = [t.value for t in q.select if t.kind == "iri"]
    vars_ = [t.value for t in q.select if t.kind == "var"]
    parts = []
    if iris:
        parts.append("SELECT CAST(c0 AS STRING) AS subj FROM "
                     + sql.values_rows(1, [[i] for i in iris]))
    if vars_:
        if q.where.is_plain_triples() and not q.where.patterns:
            raise SparqlError("DESCRIBE ?var needs a WHERE clause")
        acc, bound = sql.group(q.where)
        for v in vars_:
            if v not in bound:
                raise SparqlError(f"DESCRIBE references unbound variable ?{v}")
            parts.append(f"SELECT {_q(v)} AS subj FROM {acc} "
                         f"WHERE coalesce({_q(_m_iri(v))}, false)")
    subs = sql.sub(f"SELECT DISTINCT subj FROM ({' UNION ALL '.join(parts)})")
    return sql.run(f"SELECT * FROM {_G} LEFT SEMI JOIN {subs} USING (subj)")


def sparql_construct(triples: DataFrame, query: str) -> DataFrame:
    """Evaluate a SPARQL CONSTRUCT query → a canonical triple DataFrame
    (``subj, pred, obj_value, obj_dtype, obj_is_iri``).

    Each template pattern projects the solution set into one triple family
    (same columns, narrow select) and the families union; DISTINCT gives
    CONSTRUCT's graph-set semantics, exactly how this repo's own KG pipeline
    materializes its triple families.  Rows where any slot is unbound (an
    OPTIONAL variable) emit no triple, per the SPARQL spec.  Subject/
    predicate slots must be IRIs or variables; a variable there emits
    whatever it is bound to (this engine does not re-check IRI-ness of
    subject bindings — bindings from subject/predicate positions are IRIs
    by construction)."""
    q = _parse(query, "construct")
    sql = _Sql(triples)
    acc, bound = sql.group(q.where)
    if q.limit is not None:
        acc = sql.sub(f"SELECT * FROM {acc} LIMIT {int(q.limit)}")
    return sql.run(sql.instantiate(acc, bound, q.template))


def sparql_delete(triples: DataFrame, query: str) -> DataFrame:
    """Evaluate a SPARQL UPDATE ``DELETE { … } WHERE { … }`` against the
    triple DataFrame and return the surviving graph.

    The template instantiates over the WHERE solutions exactly like
    CONSTRUCT (unbound slots — e.g. the reference's ``OPTIONAL { ?value ?p
    ?o }`` one-hop cascade — emit nothing for that solution), and the
    original graph is LEFT ANTI joined against the doomed set on
    ``(subj, pred, obj_value, obj_is_iri)`` — node identity is lexical form
    + IRI-ness, the same identity the anonymization engine's own delete
    path uses.  One shuffle, no driver materialization; covers the
    reference's ``deleteOriginalPropertyQuery`` (M3 delete-originals +
    one-hop) verbatim."""
    q = _parse(query, "delete")
    sql = _Sql(triples)
    acc, bound = sql.group(q.where)
    doomed = sql.sub(sql.instantiate(acc, bound, q.template))
    keys = "subj, pred, obj_value, obj_is_iri"
    return sql.run(f"SELECT * FROM {_G} LEFT ANTI JOIN "
                   f"(SELECT {keys} FROM {doomed}) d USING ({keys})")

"""The SPARQL front end (plans/sparql_af.py lexer + parser): positioned
syntax errors, pre-binding that substitutes variable tokens only — never
text inside a string literal — and desugar variables unique per query."""

from __future__ import annotations

import pytest

from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    RDF_TYPE,
    SH,
    XSD_INTEGER,
    ParseError,
    iri,
    lit_typed,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.plans.query import sparql_construct, sparql_select
from cmem_plugin_pyshacl_spark.plans.shacl import validate
from cmem_plugin_pyshacl_spark.plans.sparql_af import (
    SparqlParseError,
    parse_select_query,
    parse_update,
)
from cmem_plugin_pyshacl_spark.sources.turtle import TurtleParseError

# (case, entry point, text, (line, col, offset) of the offending token)
_MALFORMED = [
    (
        "unbalanced brace",  # reported at the '{' that is never closed
        parse_select_query,
        "SELECT ?s\nWHERE { ?s <urn:p> ?o\n  FILTER (?o != <urn:x>)",
        (2, 7, 16),
    ),
    (
        "unterminated string",  # reported at the opening quote
        parse_select_query,
        'SELECT ?s WHERE {\n  ?s <urn:p> "abc }',
        (2, 14, 31),
    ),
    (
        "stray UNION",
        parse_select_query,
        "SELECT ?s WHERE { ?s <urn:p> ?o .\n  UNION { ?s <urn:q> ?o } }",
        (2, 3, 36),
    ),
    (
        "VALUES arity",  # reported at the short row
        parse_select_query,
        "SELECT ?s WHERE { ?s <urn:p> ?o }\n"
        "VALUES (?s ?o) { (<urn:a> 1) (<urn:b>) }",
        (2, 30, 63),
    ),
    (
        "undeclared prefix",
        parse_select_query,
        "PREFIX ex: <urn:ex:>\nSELECT ?s WHERE { ?s ex:p ?o ; exx:q ?o }",
        (2, 32, 52),
    ),
    (
        "non-ASCII digit",  # '²' is a digit to str.isdigit, not to §19.8
        parse_select_query,
        "SELECT ?s WHERE {\n  ?s <urn:p> \u00b2 }",
        (2, 14, 31),
    ),
    (
        "trailing text after an update operation",
        parse_update,
        "INSERT DATA { <urn:a> <urn:p> <urn:b> }\nCLEAR ALL",
        (2, 1, 40),
    ),
]


@pytest.mark.parametrize(
    "fn,text,where", [c[1:] for c in _MALFORMED], ids=[c[0] for c in _MALFORMED]
)
def test_malformed_sparql_reports_its_position(fn, text, where):
    line, col, offset = where
    with pytest.raises(SparqlParseError) as err:
        fn(text)
    assert str(err.value).endswith(f"at line {line}, col {col} (offset {offset})")
    assert err.value.pos == offset


def test_parse_errors_share_one_positioned_base():
    assert issubclass(SparqlParseError, ParseError)
    assert issubclass(TurtleParseError, ParseError)
    assert issubclass(ParseError, ValueError)


def _people(spark, prop, values):
    rows = []
    for i, v in enumerate(values):
        rows += [
            (f"urn:p{i}", RDF_TYPE, iri(EX + "Person")),
            (f"urn:p{i}", EX + prop, lit_typed(v)),
        ]
    return triples_from_rows(spark, rows)


def test_parameter_prebinding_leaves_string_literals_alone(spark):
    """A custom component's validator compares against a literal that
    spells its own parameter: only the variable token takes the value."""
    select = (
        f"SELECT $this ?v WHERE {{ $this <{EX}note> ?v . "
        'FILTER (?v != "cost in $maxLen" && STRLEN(?v) > $maxLen) }'
    )
    shapes = triples_from_rows(
        spark,
        [
            ("urn:comp", RDF_TYPE, iri(SH + "ConstraintComponent")),
            ("urn:comp", SH + "parameter", iri("urn:comp/p1")),
            ("urn:comp/p1", SH + "path", iri(EX + "maxLen")),
            ("urn:comp", SH + "validator", iri("urn:comp/v")),
            ("urn:comp/v", SH + "select", lit_typed(select)),
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "Person")),
            (EX + "S", EX + "maxLen", lit_typed("3", XSD_INTEGER)),
        ],
    )
    data = _people(spark, "note", ["cost in $maxLen", "toolong", "ok"])
    res = validate(spark, data, shapes, advanced=True).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:p1", "toolong")}


def test_property_ask_value_inside_a_literal_stays_text(spark):
    """A property ASK validator whose literal contains "$value": ?value is
    pre-bound per (focus, value) pair, the literal is compared as written."""
    shapes = triples_from_rows(
        spark,
        [
            ("urn:comp", RDF_TYPE, iri(SH + "ConstraintComponent")),
            ("urn:comp", SH + "parameter", iri("urn:comp/p1")),
            ("urn:comp/p1", SH + "path", iri(EX + "maxLen")),
            ("urn:comp", SH + "propertyValidator", iri("urn:comp/v")),
            (
                "urn:comp/v",
                SH + "ask",
                lit_typed(
                    'ASK { FILTER ($value = "$value" || STRLEN(?value) <= $maxLen) }'
                ),
            ),
            (EX + "NS", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "NS", SH + "targetClass", iri(EX + "Person")),
            (EX + "NS", SH + "property", iri(EX + "NS/p")),
            (EX + "NS/p", SH + "path", iri(EX + "name")),
            (EX + "NS/p", EX + "maxLen", lit_typed("3", XSD_INTEGER)),
        ],
    )
    data = _people(spark, "name", ["ok", "waytoolong", "$value"])
    res = validate(spark, data, shapes, advanced=True).collect()
    assert {(r.focusNode, r.value, r.resultPath) for r in res} == {
        ("urn:p1", "waytoolong", EX + "name"),
    }


def test_fresh_path_variables_are_unique_per_query(spark):
    """Each sequence path hops through its own fresh variable: the OPTIONAL
    group's hop must not join with the outer group's."""
    data = triples_from_rows(
        spark,
        [
            ("urn:s", EX + "p", iri("urn:m1")),
            ("urn:m1", EX + "q", iri("urn:o")),
            ("urn:s", EX + "r", iri("urn:m2")),
            ("urn:m2", EX + "t", iri("urn:x")),
        ],
    )
    out = sparql_select(
        spark,
        data,
        f"SELECT ?o ?x WHERE {{ ?s <{EX}p>/<{EX}q> ?o "
        f"OPTIONAL {{ ?s <{EX}r>/<{EX}t> ?x }} }}",
    )
    assert [tuple(r) for r in out.collect()] == [("urn:o", "urn:x")]


def test_subject_only_bnode_list_constrains_its_objects(spark):
    """`[ verb objects ]` standing alone as a statement (§19 TriplesNode
    with an empty PropertyList) is its triples through a fresh variable:
    in a WHERE group it constrains ?s."""
    data = triples_from_rows(
        spark,
        [
            ("urn:s1", EX + "q", iri("urn:x")),
            ("urn:s2", EX + "q", iri("urn:x")),
            ("urn:a", EX + "p", iri("urn:s1")),
        ],
    )
    out = sparql_select(
        spark, data, f"SELECT ?s WHERE {{ ?s <{EX}q> ?x . [ <{EX}p> ?s ] }}"
    )
    assert [r[0] for r in out.collect()] == ["urn:s1"]
    out = sparql_select(spark, data, f"SELECT ?s WHERE {{ [ <{EX}p> ?s ] }}")
    assert [r[0] for r in out.collect()] == ["urn:s1"]
    # template blank nodes are outside the subset: the list's triples
    # reach the template check (and raise there) instead of vanishing
    with pytest.raises(ValueError, match=r"template variable \?_bp0 is not bound"):
        sparql_construct(
            spark,
            data,
            f"CONSTRUCT {{ [ <{EX}r> ?s ] }} WHERE {{ ?a <{EX}p> ?s }}",
        )


def test_having_aggregate_calls_are_parsed_into_hidden_aggregates():
    """HAVING's inline aggregate calls leave the parser as variables: the
    projected aggregate's alias when one computes the same call, else a
    hidden aggregate the query carries."""
    q = parse_select_query(
        "SELECT $this (COUNT(?v) AS ?n) WHERE { $this <urn:p> ?v } "
        "GROUP BY $this HAVING (COUNT(?v) > 1 && SUM(?v) < COUNT(DISTINCT ?v))"
    )
    assert [t.text for t in q.having] == [
        "?n", ">", "1", "&&", "?_hagg0", "<", "?_hagg1",
    ]
    assert [(a.fn, a.var, a.distinct, a.alias) for a in q.having_aggs] == [
        ("sum", "v", False, "_hagg0"),
        ("count", "v", True, "_hagg1"),
    ]

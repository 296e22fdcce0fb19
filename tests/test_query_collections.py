"""RDF collections ``( e1 e2 … )`` in query patterns — desugared by
the plans/sparql_af.py parser onto the rdf:first/rdf:rest chain the
Turtle reader (sources/turtle.py) stores, with path groups (the other
legal parens in a pattern body) left untouched."""

from __future__ import annotations

import pytest

from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    XSD_INTEGER,
    iri,
    lit_typed,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.plans.query import sparql_ask, sparql_select
from cmem_plugin_pyshacl_spark.plans.sparql_af import (
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    RDF_TYPE,
    parse_select_query,
    pattern_predicates,
)


@pytest.fixture(scope="module")
def graph(spark):
    bn = lambda x: (x, "bnode", None, None)  # noqa: E731
    return triples_from_rows(
        spark,
        [
            # urn:s ex:list ("x" "y")
            ("urn:s", EX + "list", bn("_:c1")),
            ("_:c1", RDF_FIRST, lit_typed("x")),
            ("_:c1", RDF_REST, bn("_:c2")),
            ("_:c2", RDF_FIRST, lit_typed("y")),
            ("_:c2", RDF_REST, iri(RDF_NIL)),
            # urn:t ex:list ()
            ("urn:t", EX + "list", iri(RDF_NIL)),
            # urn:u ex:list (1 ("inner"))
            ("urn:u", EX + "list", bn("_:c3")),
            ("_:c3", RDF_FIRST, lit_typed("1", XSD_INTEGER)),
            ("_:c3", RDF_REST, bn("_:c4")),
            ("_:c4", RDF_FIRST, bn("_:c5")),
            ("_:c4", RDF_REST, iri(RDF_NIL)),
            ("_:c5", RDF_FIRST, lit_typed("inner")),
            ("_:c5", RDF_REST, iri(RDF_NIL)),
            # plain edge for path-group checks
            ("urn:s", EX + "p", iri("urn:o1")),
        ],
    )


def test_collection_binds_members(spark, graph):
    out = sparql_select(
        spark,
        graph,
        f"SELECT ?a ?b WHERE {{ <urn:s> <{EX}list> ( ?a ?b ) }}",
    )
    assert [(r["a"], r["b"]) for r in out.collect()] == [("x", "y")]


def test_collection_length_must_match(spark, graph):
    # ( ?a ) demands rest == rdf:nil after one member — urn:s has two
    out = sparql_select(
        spark, graph, f"SELECT ?a WHERE {{ <urn:s> <{EX}list> ( ?a ) }}"
    )
    assert out.count() == 0


def test_empty_collection_is_nil(spark, graph):
    out = sparql_select(
        spark, graph, f"SELECT ?s WHERE {{ ?s <{EX}list> () }}"
    )
    assert [r["s"] for r in out.collect()] == ["urn:t"]


def test_collection_constant_members(spark, graph):
    assert sparql_ask(
        spark, graph, f'ASK {{ <urn:s> <{EX}list> ( "x" "y" ) }}'
    )
    assert not sparql_ask(
        spark, graph, f'ASK {{ <urn:s> <{EX}list> ( "x" "z" ) }}'
    )


def test_nested_collection(spark, graph):
    out = sparql_select(
        spark,
        graph,
        f"SELECT ?i WHERE {{ <urn:u> <{EX}list> ( 1 ( ?i ) ) }}",
    )
    assert [r["i"] for r in out.collect()] == ["inner"]


def test_collection_in_subject_position(spark, graph):
    # the chain head is a normal node: ( ?a ?b ) ?p ?o joins it back
    out = sparql_select(
        spark,
        graph,
        f"SELECT ?s WHERE {{ ?s <{EX}list> ( ?a ?b ) . "
        f'FILTER(?a = "x") }}',
    )
    assert [r["s"] for r in out.collect()] == ["urn:s"]


def test_path_groups_unaffected(spark, graph):
    # one-IRI group and alternation group both stay property paths
    out = sparql_select(
        spark, graph, f"SELECT ?o WHERE {{ <urn:s> (<{EX}p>) ?o }}"
    )
    assert [r["o"] for r in out.collect()] == ["urn:o1"]
    out = sparql_select(
        spark,
        graph,
        f"SELECT ?o WHERE {{ <urn:s> (<{EX}p>|<{EX}q>) ?o }}",
    )
    assert [r["o"] for r in out.collect()] == ["urn:o1"]


def test_select_star_hides_chain_vars(spark, graph):
    out = sparql_select(
        spark, graph, f"SELECT * WHERE {{ ?s <{EX}list> ( ?a ?b ) }}"
    )
    assert sorted(out.columns) == ["a", "b", "s"]


def test_invalid_member_raises(spark, graph):
    with pytest.raises(ValueError, match="collection member"):
        sparql_select(
            spark, graph, f"SELECT ?s WHERE {{ ?s <{EX}list> ( ?a a ) }}"
        )


def _block(where: str):
    return parse_select_query(f"SELECT ?s WHERE {{ {where} }}").block


def test_classifier_text_level():
    # in object position a paren group is a collection: one rdf:first /
    # rdf:rest pair per member
    for members in ("?a ?b", '"x" "y"', "1 2.5", "<urn:a> <urn:b>"):
        preds = [p.pred for p in _block(f"?s <urn:l> ( {members} )").patterns]
        assert preds.count(RDF_FIRST) == 2 and preds.count(RDF_REST) == 2
    (nil,) = _block("?s <urn:l> ( )").patterns  # () = rdf:nil
    assert (nil.obj.kind, nil.obj.value) == ("iri", RDF_NIL)
    # in predicate position it is a property-path group
    for path, preds in (
        ("(<urn:p>)", {"urn:p"}),  # single IRI: path group
        ("(<urn:p>|<urn:q>)", {"urn:p", "urn:q"}),
        ("(<urn:p>/<urn:q>)", {"urn:p", "urn:q"}),
        ("(^<urn:p>)", {"urn:p"}),
        ("(a)", {RDF_TYPE}),  # (a) = rdf:type path group
    ):
        assert pattern_predicates(_block(f"?s {path} ?o"))[0] == preds


def test_expand_emits_chain_text():
    head, first, rest = _block("?s <urn:p> ( ?a ) ").patterns
    cell = head.obj
    assert cell.kind == "var" and cell.value.startswith("_cl")
    assert (first.subj, first.pred, first.obj.value) == (cell, RDF_FIRST, "a")
    assert (rest.subj, rest.pred, rest.obj.value) == (cell, RDF_REST, RDF_NIL)


def test_one_member_group_in_object_position_raises(spark, graph):
    # round-4 ADVICE: (<p>) at end-of-statement can only be a one-element
    # collection (paths are not objects) — raise instead of silently
    # reading it as a path group
    for q in (
        f"SELECT ?s WHERE {{ ?s <{EX}list> (<urn:x>) }}",
        f"SELECT ?s WHERE {{ ?s <{EX}list> (a) . }}",
    ):
        with pytest.raises(ValueError, match="ambiguous one-member"):
            sparql_select(spark, graph, q)


def test_one_iri_path_group_with_operator_still_works(spark, graph):
    # (<p>)+ / (<p>)* keep their path meaning — the operator sits outside
    # the group, so only statement-final groups are ambiguous
    out = sparql_select(
        spark, graph, f"SELECT ?o WHERE {{ <urn:s> (<{EX}p>)+ ?o }}"
    )
    assert [r["o"] for r in out.collect()] == ["urn:o1"]

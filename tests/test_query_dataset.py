"""RDF dataset construction on the standalone query surface:
FROM / FROM NAMED clauses (plans/query.py::_dataset) and the
named-graphs-only range of GRAPH (SPARQL §13.2-13.3)."""

from __future__ import annotations

import pytest

from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    iri,
    lit_typed,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.plans.query import (
    sparql_ask,
    sparql_construct,
    sparql_select,
)

G1 = "urn:graph:one"
G2 = "urn:graph:two"


@pytest.fixture(scope="module")
def store(spark):
    """Default-graph rows (graph NULL) plus two named graphs."""
    default = triples_from_rows(
        spark,
        [
            ("urn:a", EX + "p", iri("urn:b")),
            ("urn:a", EX + "name", lit_typed("default")),
        ],
    )
    g1 = triples_from_rows(
        spark,
        [
            ("urn:c", EX + "p", iri("urn:d")),
            ("urn:c", EX + "name", lit_typed("one")),
        ],
        graph=G1,
    )
    g2 = triples_from_rows(
        spark,
        [("urn:e", EX + "p", iri("urn:f"))],
        graph=G2,
    )
    return default.unionByName(g1).unionByName(g2)


# ------------------------------------------------- GRAPH ranges over NAMED


def test_graph_var_excludes_default_graph(spark, store):
    out = sparql_select(
        spark,
        store,
        f"SELECT ?g ?s WHERE {{ GRAPH ?g {{ ?s <{EX}p> ?o }} }}",
    )
    rows = sorted(tuple(r) for r in out.collect())
    # urn:a lives in the default graph — no named graph binds for it
    assert rows == [(G1, "urn:c"), (G2, "urn:e")]


def test_graph_iri_excludes_default_graph(spark, store):
    out = sparql_select(
        spark,
        store,
        f"SELECT ?s WHERE {{ GRAPH <{G1}> {{ ?s <{EX}p> ?o }} }}",
    )
    assert [r["s"] for r in out.collect()] == ["urn:c"]


# ------------------------------------------------------------------ FROM


def test_from_restricts_default_graph(spark, store):
    out = sparql_select(
        spark,
        store,
        f"SELECT ?s FROM <{G1}> WHERE {{ ?s <{EX}p> ?o }}",
    )
    assert [r["s"] for r in out.collect()] == ["urn:c"]


def test_from_merges_multiple_graphs(spark, store):
    out = sparql_select(
        spark,
        store,
        f"SELECT ?s FROM <{G1}> FROM <{G2}> WHERE {{ ?s <{EX}p> ?o }}",
    )
    assert sorted(r["s"] for r in out.collect()) == ["urn:c", "urn:e"]


def test_from_graphs_are_defaulted_not_named(spark, store):
    # the FROM merge becomes the DEFAULT graph — GRAPH sees nothing
    out = sparql_select(
        spark,
        store,
        f"SELECT ?g FROM <{G1}> WHERE {{ GRAPH ?g {{ ?s <{EX}p> ?o }} }}",
    )
    assert out.count() == 0


# ------------------------------------------------------------ FROM NAMED


def test_from_named_enables_graph_only(spark, store):
    out = sparql_select(
        spark,
        store,
        f"""SELECT ?g ?s FROM NAMED <{G1}>
            WHERE {{ GRAPH ?g {{ ?s <{EX}p> ?o }} }}""",
    )
    assert sorted(tuple(r) for r in out.collect()) == [(G1, "urn:c")]


def test_from_named_without_graph_is_empty_default(spark, store):
    out = sparql_select(
        spark,
        store,
        f"SELECT ?s FROM NAMED <{G1}> WHERE {{ ?s <{EX}p> ?o }}",
    )
    assert out.count() == 0


def test_from_and_from_named_combined(spark, store):
    out = sparql_select(
        spark,
        store,
        f"""SELECT ?s ?t FROM <{G2}> FROM NAMED <{G1}>
            WHERE {{ ?s <{EX}p> ?o . GRAPH <{G1}> {{ ?t <{EX}p> ?u }} }}""",
    )
    # §13.2 spec-exact (round-4 ADVICE): the GRAPH arm sees only the
    # FROM NAMED G1 slice, and the plain pattern sees ONLY the FROM G2
    # merge — the named G1 rows are reachable through GRAPH alone
    assert sorted(tuple(r) for r in out.collect()) == [
        ("urn:e", "urn:c"),
    ]
    # default-graph rows of the store (urn:a) are excluded either way
    assert not any(r["s"] == "urn:a" for r in out.collect())


def test_disjoint_join_is_not_a_cartesian_product(spark, store):
    # the GRAPH arm shares no variable with the plain pattern: SPARQL's
    # cross product. The broadcast gate hints its small side, so Spark
    # plans a broadcast nested-loop join, not a CartesianProduct over
    # every pair of partitions
    out = sparql_select(
        spark,
        store,
        f"""SELECT ?s ?t FROM <{G2}> FROM NAMED <{G1}>
            WHERE {{ ?s <{EX}p> ?o . GRAPH <{G1}> {{ ?t <{EX}p> ?u }} }}""",
    )
    assert [tuple(r) for r in out.collect()] == [("urn:e", "urn:c")]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ------------------------------------------------- other query forms


def test_ask_with_from(spark, store):
    assert sparql_ask(
        spark, store, f"ASK FROM <{G1}> WHERE {{ <urn:c> <{EX}p> ?o }}"
    )
    assert not sparql_ask(
        spark, store, f"ASK FROM <{G2}> WHERE {{ <urn:c> <{EX}p> ?o }}"
    )


def test_construct_with_from_after_template(spark, store):
    out = sparql_construct(
        spark,
        store,
        f"""CONSTRUCT {{ ?s <{EX}q> ?o }} FROM <{G1}>
            WHERE {{ ?s <{EX}p> ?o }}""",
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["s"] == "urn:c"


def test_from_inside_braces_or_strings_is_untouched(spark, store):
    # a FILTER string containing "FROM <x>" must not be eaten
    out = sparql_select(
        spark,
        store,
        f"""SELECT ?s WHERE {{
            ?s <{EX}name> ?n . FILTER(?n != "FROM <x>")
        }}""",
    )
    assert sorted(r["s"] for r in out.collect()) == ["urn:a", "urn:c"]

"""Regression tests for the round-4 session-4 review findings: WITH
dataset scoping, GRAPH-keyword detection, update-request splitting on
'<' comparisons, cross-group INSERT dedup, BIND/VALUES-shared nested
groups, reserved-variable collision-proofing, escaped-backslash string
scanning, DELETE WHERE collection rejection, and LOAD SILENT over a
lazily-failing reader."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    iri,
    lit_typed,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.plans.query import (
    sparql_select,
    sparql_update,
)

G1 = "urn:graph:one"
G2 = "urn:graph:two"


@pytest.fixture()
def store(spark):
    default = triples_from_rows(
        spark,
        [("urn:a", EX + "p", iri("urn:b")),
         ("urn:a", EX + "age", lit_typed("12", EX.replace("example.org/", "www.w3.org/2001/XMLSchema#") + "integer"))],
    )
    g1 = triples_from_rows(
        spark, [("urn:c", EX + "p", iri("urn:d"))], graph=G1
    )
    g2 = triples_from_rows(
        spark, [("urn:e", EX + "p", iri("urn:f"))], graph=G2
    )
    return default.unionByName(g1).unionByName(g2)


# ------------------------------------------ update operations / '<' ops


def test_split_ops_filter_less_than_is_not_an_iri():
    from cmem_plugin_pyshacl_spark.plans.sparql_af import parse_update

    ops = parse_update(
        'INSERT { ?s <urn:minor> "y" } WHERE '
        "{ ?s <urn:age> ?a . FILTER(?a < 18) } ; CLEAR DEFAULT"
    )
    assert len(ops) == 2
    assert (ops[1].verb, ops[1].scope) == ("CLEAR", "DEFAULT")


def test_update_sequence_with_filter_comparison(spark, store):
    out = sparql_update(
        spark,
        store,
        "INSERT { ?s <urn:minor> \"y\" } WHERE "
        "{ ?s <http://example.org/age> ?a . FILTER(?a < 18) } ; "
        "CLEAR GRAPH <" + G2 + ">",
    )
    assert out.filter(F.col("p") == "urn:minor").count() == 1
    assert out.filter(F.col("graph") == G2).count() == 0


# ------------------------------------------------------- WITH scoping


def test_with_does_not_hide_other_named_graphs(spark, store):
    # §3.1.3: WITH only sets the default graph — an explicit
    # GRAPH <g2> pattern in the WHERE must still see g2's rows
    out = sparql_update(
        spark,
        store,
        "WITH <" + G1 + "> INSERT { ?s <urn:seen> \"1\" } WHERE "
        "{ GRAPH <" + G2 + "> { ?s <http://example.org/p> ?o } }",
    )
    ins = out.filter(F.col("p") == "urn:seen")
    # matched in g2, inserted into WITH's graph g1
    assert [(r["s"], r["graph"]) for r in ins.collect()] == [("urn:e", G1)]


def test_with_without_graph_patterns_scopes_exactly(spark, store):
    # no GRAPH in the WHERE: matching sees only g1 (spec-exact)
    out = sparql_update(
        spark,
        store,
        "WITH <" + G1 + "> INSERT { ?s <urn:seen> \"1\" } WHERE "
        "{ ?s <http://example.org/p> ?o }",
    )
    ins = out.filter(F.col("p") == "urn:seen")
    assert [r["s"] for r in ins.collect()] == ["urn:c"]


# ------------------------------------- GRAPH keyword false positives


def test_from_named_graph_word_inside_iri_not_keyword(spark):
    data = triples_from_rows(
        spark, [("urn:s", "http://ex/GRAPH/p", iri("urn:o"))], graph="urn:g"
    )
    # FROM NAMED only and no GRAPH *keyword*: the default graph is
    # empty — the word GRAPH inside the predicate IRI must not keep
    # the named slice visible to the plain pattern
    out = sparql_select(
        data.sparkSession,
        data,
        "SELECT ?s FROM NAMED <urn:g> WHERE { ?s <http://ex/GRAPH/p> ?o }",
    )
    assert out.count() == 0


# --------------------------------------------- INSERT cross-group dedup


def test_insert_data_duplicate_across_graph_groups(spark, store):
    out = sparql_update(
        spark,
        store,
        "INSERT DATA { GRAPH <urn:g9> { <urn:x> <urn:y> <urn:z> } "
        "GRAPH <urn:g9> { <urn:x> <urn:y> <urn:z> } }",
    )
    assert out.filter(F.col("s") == "urn:x").count() == 1


def test_modify_insert_duplicate_groups(spark, store):
    out = sparql_update(
        spark,
        store,
        "INSERT { GRAPH <urn:g9> { ?s <urn:t> \"v\" } "
        "GRAPH <urn:g9> { ?s <urn:t> \"v\" } } WHERE "
        "{ ?s <http://example.org/p> ?o . "
        "FILTER(?s = <urn:a>) }",
    )
    assert out.filter(F.col("p") == "urn:t").count() == 1


# ------------------------------------- BIND/VALUES-shared nested groups


def test_nested_group_bind_shared_var_raises_cleanly(spark, store):
    with pytest.raises(ValueError, match="BIND/VALUES/GRAPH"):
        sparql_select(
            spark,
            store,
            "SELECT ?s WHERE { ?s <http://example.org/p> ?o . "
            "{ <urn:a> <urn:q> ?x . BIND(STR(?x) AS ?s) } }",
        ).collect()


def test_nested_group_values_shared_var_raises_cleanly(spark, store):
    with pytest.raises(ValueError, match="BIND/VALUES/GRAPH"):
        sparql_select(
            spark,
            store,
            "SELECT ?s WHERE { ?s <http://example.org/p> ?o . "
            "{ ?y <urn:q> ?x . VALUES ?s { <urn:a> } } }",
        ).collect()


# --------------------------------------- reserved-variable collisions


def test_user_bp_variable_does_not_collide_with_bracket_mint(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:n1", EX + "p", lit_typed("hit")),
            ("urn:s", EX + "q", iri("urn:other")),
            ("urn:other", EX + "r", lit_typed("1")),
        ],
    )
    # ?_bp0 is a legal user variable; the bracket must mint a DIFFERENT
    # fresh name, so the two patterns stay unrelated
    out = sparql_select(
        data.sparkSession,
        data,
        "SELECT ?v WHERE { ?_bp0 <http://example.org/p> ?v . "
        "?s <http://example.org/q> [ <http://example.org/r> ?w ] }",
    )
    assert [r["v"] for r in out.collect()] == ["hit"]


# --------------------------------------- escaped-backslash string scan


def test_escaped_backslash_literal_before_bracket(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:s", EX + "p", lit_typed("x\\")),
            ("urn:s", EX + "q", iri("urn:b")),
            ("urn:b", EX + "r", lit_typed("1")),
        ],
    )
    # the literal ends in an escaped backslash — the scanner must find
    # the REAL closing quote and still expand the bracket after it
    out = sparql_select(
        data.sparkSession,
        data,
        'SELECT ?s WHERE { ?s <http://example.org/p> "x\\\\" . '
        "?s <http://example.org/q> [ <http://example.org/r> ?v ] }",
    )
    assert [r["s"] for r in out.collect()] == ["urn:s"]


# --------------------------------------- DELETE WHERE collection reject


def test_delete_where_collection_clean_error(spark, store):
    with pytest.raises(ValueError, match="collections are not"):
        sparql_update(
            spark, store, "DELETE WHERE { ?s <urn:p> ( 1 2 ) }"
        )


# ------------------------------------------------- string unescaping


def test_unescape_string_full_echar_set():
    from cmem_plugin_pyshacl_spark.plans.sparql_af import _unescape_string

    assert _unescape_string(r"a\\b") == "a\\b"
    assert _unescape_string(r"a\nb") == "a\nb"
    assert _unescape_string(r"a\\nb") == "a\\nb"  # escaped backslash + n
    assert _unescape_string(r"A\t\'x\'") == "A\t'x'"
    assert _unescape_string(r"\U0001F600") == "\U0001F600"


def test_unescape_string_single_pass_edge_cases():
    # round-4 ADVICE: the old chr(0)-sentinel two-pass decode turned a
    # decoded backslash-u0000 into a backslash; the single left-to-right pass
    # keeps it a NUL and still protects escaped-backslash pairs
    from cmem_plugin_pyshacl_spark.plans.sparql_af import _unescape_string

    assert _unescape_string("a" + chr(92) + "u0000b") == "a" + chr(0) + "b"
    assert _unescape_string(r"x\\u0041") == "x\\u0041"  # literal, not 'A'
    assert _unescape_string(r"A\\B") == "A\\B"


def test_unescape_string_preserves_unknown_escapes():
    # round-5 review: a backslash before a non-ECHAR char is outside the
    # escape grammar — pass it through verbatim rather than silently
    # dropping the backslash ('a\zb' must not become 'azb')
    from cmem_plugin_pyshacl_spark.plans.sparql_af import _unescape_string

    assert _unescape_string(r"a\zb") == r"a\zb"
    assert _unescape_string(r"C:\x\y") == r"C:\x\y"
    assert _unescape_string(r"mix\n\z\\q") == "mix\n" + r"\z" + "\\q"


def test_one_member_group_raises_in_subject_and_object_list_positions():
    # round-5 review: the ambiguity guard fired only at end-of-statement;
    # subject position and before a ',' object-list separator now raise
    # too instead of failing later with an unrelated parse error
    from cmem_plugin_pyshacl_spark.plans.sparql_af import parse_select

    def parse(body: str):
        return parse_select(f"SELECT ?s WHERE {{ {body} }}")[1]

    with pytest.raises(ValueError, match="one-member group"):
        parse("?s <urn:p> (<urn:x>) , <urn:y> .")
    with pytest.raises(ValueError, match="one-member group"):
        parse("(<urn:x>) <urn:p> ?o .")
    with pytest.raises(ValueError, match="one-member group"):
        parse("?a <urn:q> ?b . (<urn:x>) <urn:p> ?o .")
    # predicate position stays a legal path group
    (pat,) = parse("?s (<urn:p>) ?o .").patterns
    assert (pat.subj.value, pat.pred, pat.obj.value) == ("s", "urn:p", "o")


# ------------------------------------------------- LOAD SILENT laziness


def test_load_silent_swallows_lazy_reader_errors(spark, store, tmp_path):
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"@id": "urn:x", "@value-less garbage\n')
    out = sparql_update(
        spark,
        store,
        f"LOAD SILENT <file://{bad}> ; "
        "INSERT DATA { <urn:after> <urn:ok> <urn:yes> }",
    )
    # the malformed NDJSON fails at ACTION time inside mapInPandas —
    # SILENT must swallow it (eager probe) and the sequence continue
    assert out.filter(F.col("s") == "urn:after").count() == 1
    assert out.filter(F.col("s") == "urn:x").count() == 0


def test_load_not_silent_still_raises(spark, store, tmp_path):
    bad = tmp_path / "bad2.jsonl"
    bad.write_text('not json at all\n')
    with pytest.raises(Exception):
        sparql_update(
            spark, store, f"LOAD <file://{bad}>"
        ).collect()


# ----------------------------------- group collectors & escaped backslash


def test_extract_groups_escaped_backslash_in_group():
    from cmem_plugin_pyshacl_spark.plans.sparql_af import parse_select

    _, block = parse_select(
        'SELECT ?s WHERE { ?s <urn:p> ?o . OPTIONAL { ?s <urn:q> "x\\\\" } }'
    )
    (opt,) = block.optionals
    assert opt.patterns[0].obj.value == "x\\"  # the escaped backslash
    _, block = parse_select(
        'SELECT ?s WHERE { { ?s <urn:p> "a\\\\" } UNION { ?s <urn:q> ?o } }'
    )
    assert len(block.alternatives) == 2

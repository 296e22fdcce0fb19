"""SHACL-AF first slice: sh:sparql constraints (single BGP + FILTER subset)
compiled to DataFrame plans — W3C SHACL-AF §5-style fixtures."""

from __future__ import annotations

import pytest

from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    RDF_TYPE,
    SH,
    XSD,
    XSD_INTEGER,
    iri,
    lit_typed,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.plans.shacl import validate
from cmem_plugin_pyshacl_spark.plans.sparql_af import (
    SH_SPARQL_COMPONENT,
    parse_select,
)


def _af_shapes(spark, select, message="sparql violation"):
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "Person")),
        (EX + "S", SH + "sparql", iri("urn:af:c1")),
        ("urn:af:c1", SH + "select", lit_typed(select)),
        ("urn:af:c1", SH + "message", lit_typed(message)),
    ]
    return triples_from_rows(spark, rows)


def _people(spark):
    return triples_from_rows(
        spark,
        [
            ("urn:alice", RDF_TYPE, iri(EX + "Person")),
            ("urn:alice", EX + "age", lit_typed("17", XSD_INTEGER)),
            ("urn:alice", EX + "knows", iri("urn:bob")),
            ("urn:bob", RDF_TYPE, iri(EX + "Person")),
            ("urn:bob", EX + "age", lit_typed("42", XSD_INTEGER)),
            ("urn:carol", RDF_TYPE, iri(EX + "Person")),
            ("urn:carol", EX + "knows", iri("urn:carol")),
        ],
    )


def test_sparql_constraint_bgp_filter(spark):
    """W3C SHACL-AF §5.1-style: report persons whose age is under 18 —
    every SELECT solution is one sh:SPARQLConstraintComponent result."""
    select = (
        "SELECT $this ?age WHERE { "
        f"$this <{EX}age> ?age . FILTER (?age < 18) }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:alice", "17")}
    assert res[0].sourceConstraintComponent == SH_SPARQL_COMPONENT
    assert res[0].sourceShape == "urn:af:c1"
    assert res[0].resultMessage == "sparql violation"


def test_sparql_constraint_variable_predicate(spark):
    """A variable-predicate pattern ($this ?p "17") inside a sh:sparql
    constraint: the predicate slice must widen to a full scan
    (pattern_predicates reports the open scan) and ?p binds as an IRI."""
    select = 'SELECT $this ?p WHERE { $this ?p ?v . FILTER(str(?v) = "17") }'
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:alice", EX + "age")}


def test_sparql_constraint_this_in_object_position(spark):
    """Self-reference probe: $this may appear in the object position
    (persons who know themselves)."""
    select = f"SELECT $this WHERE {{ $this <{EX}knows> $this }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:carol"}
    assert res[0].value is None


def test_sparql_constraint_two_pattern_join_and_regex(spark):
    """Chained BGP: $this knows ?o, ?o has an age — regex filter on the
    joined variable's value."""
    select = (
        "SELECT $this ?o WHERE { "
        f"$this <{EX}knows> ?o . ?o <{EX}age> ?a . "
        'FILTER (regex(?a, "^4")) }'
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:alice", "urn:bob")}


def test_sparql_unsupported_select_raises(spark):
    for bad in (
        "ASK { $this a ?c }",
        "SELECT $this WHERE { { $this <urn:p> ?v } UNION ?v <urn:q> ?w }",
        "SELECT $this WHERE { }",
    ):
        with pytest.raises(ValueError):
            validate(
                spark, _people(spark), _af_shapes(spark, bad), advanced=True
            )


def test_sparql_ignored_without_advanced_flag(spark):
    """Without advanced=True the sh:sparql node is inert (core-only pass),
    matching the reference's flag-gated delegation."""
    select = (
        "SELECT $this ?age WHERE { "
        f"$this <{EX}age> ?age . FILTER (?age < 18) }}"
    )
    res = validate(spark, _people(spark), _af_shapes(spark, select))
    assert res.count() == 0


def test_parse_select_shapes():
    proj, block = parse_select(
        'SELECT $this ?v WHERE { $this a ?v . FILTER (?v != "x") }'
    )
    assert proj == ["v"]
    assert block.patterns[0].pred.endswith("#type")
    assert len(block.filters) == 1


def test_js_still_raises(spark):
    with pytest.raises(ValueError):
        validate(spark, _people(spark), _people(spark), js=True)


def test_sparql_filter_not_exists(spark):
    """The most common negation shape: persons with no age at all."""
    select = (
        "SELECT $this WHERE { "
        f"FILTER NOT EXISTS {{ $this <{EX}age> ?age }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:carol"}


def test_sparql_filter_exists(spark):
    """Positive probe: persons who know someone AND have an age."""
    select = (
        "SELECT $this ?w WHERE { "
        f"$this <{EX}knows> ?w . "
        f"FILTER EXISTS {{ $this <{EX}age> ?age }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:alice", "urn:bob")}


def test_sparql_optional_with_not_bound(spark):
    """The OPTIONAL + !bound() negation idiom gives the same answer as
    FILTER NOT EXISTS."""
    select = (
        "SELECT $this WHERE { "
        f"OPTIONAL {{ $this <{EX}age> ?age }} "
        "FILTER (!bound(?age)) }"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:carol"}


def test_sparql_optional_preserves_and_extends_bindings(spark):
    """OPTIONAL keeps every outer solution and adds NULLs for unmatched
    groups; matched groups project the optional variable as sh:value."""
    select = (
        "SELECT $this ?age WHERE { "
        f"$this a <{EX}Person> . "
        f"OPTIONAL {{ $this <{EX}age> ?age }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    got = {(r.focusNode, r.value) for r in res}
    assert got == {("urn:alice", "17"), ("urn:bob", "42"), ("urn:carol", None)}


def test_sparql_not_exists_with_shared_variable(spark):
    """The probe joins on shared variables, not just $this: known persons
    who themselves know nobody."""
    select = (
        "SELECT $this ?w WHERE { "
        f"$this <{EX}knows> ?w . "
        f"FILTER NOT EXISTS {{ ?w <{EX}knows> ?z }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    # alice knows bob (bob knows nobody) -> solution; carol knows carol
    # (carol knows carol) -> probe matches -> removed
    assert {(r.focusNode, r.value) for r in res} == {("urn:alice", "urn:bob")}


def test_sparql_nested_not_exists_inside_optional(spark):
    """Groups recurse: optional group with its own existence probe."""
    select = (
        "SELECT $this ?w WHERE { "
        f"OPTIONAL {{ $this <{EX}knows> ?w . "
        f"FILTER NOT EXISTS {{ ?w <{EX}age> ?za }} }} "
        "FILTER (bound(?w)) }"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    # alice knows bob but bob HAS an age -> optional unmatched -> !bound
    # carol knows carol, carol has no age -> bound
    assert {(r.focusNode, r.value) for r in res} == {("urn:carol", "urn:carol")}


def _starget_shapes(spark, select):
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "target", iri("urn:af:t1")),
        ("urn:af:t1", RDF_TYPE, iri(SH + "SPARQLTarget")),
        ("urn:af:t1", SH + "select", lit_typed(select)),
        (EX + "S", SH + "property", iri(EX + "S/p")),
        (EX + "S/p", SH + "path", iri(EX + "age")),
        (EX + "S/p", SH + "minCount", lit_typed("1", XSD_INTEGER)),
    ]
    return triples_from_rows(spark, rows)


def test_sparql_target_selects_focus_nodes(spark):
    """SHACL-AF §3: sh:target/sh:SPARQLTarget binds ?this via its own
    pattern — here 'everyone somebody knows' — and core constraints then
    run on that focus set (carol is known by nobody -> not a focus; bob
    has an age -> conforms; carol-known-by-carol is a focus and has no
    age -> MinCount violation)."""
    select = f"SELECT ?this WHERE {{ ?s <{EX}knows> ?this }}"
    res = validate(
        spark, _people(spark), _starget_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.sourceConstraintComponent.split("#")[-1]) for r in res} == {
        ("urn:carol", "MinCountConstraintComponent")
    }


def test_sparql_target_inert_without_advanced(spark):
    res = validate(spark, _people(spark), _starget_shapes(
        spark, f"SELECT ?this WHERE {{ ?s <{EX}knows> ?this }}"))
    assert res.count() == 0


def test_sparql_target_requires_this_projection(spark):
    bad = f"SELECT ?x WHERE {{ ?x <{EX}knows> ?y }}"
    with pytest.raises(ValueError, match="bind \\?this"):
        validate(
            spark, _people(spark), _starget_shapes(spark, bad), advanced=True
        ).collect()


def test_sparql_target_rejects_dollar_this(spark):
    bad = f"SELECT ?this WHERE {{ $this <{EX}knows> ?this }}"
    with pytest.raises(ValueError, match="SPARQLTarget"):
        validate(
            spark, _people(spark), _starget_shapes(spark, bad), advanced=True
        ).collect()


def test_non_sparql_target_node_raises(spark):
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "target", iri("urn:af:t2")),
        ("urn:af:t2", RDF_TYPE, iri(SH + "JSTarget")),
        ("urn:af:t2", SH + "select", lit_typed("x")),
    ]
    with pytest.raises(ValueError, match="only sh:SPARQLTarget"):
        validate(
            spark, _people(spark), triples_from_rows(spark, rows), advanced=True
        ).collect()


def test_sparql_target_combines_with_class_targets(spark):
    """sh:target unions with ordinary targets and min-part lineage."""
    select = f"SELECT ?this WHERE {{ ?s <{EX}knows> ?this }}"
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetNode", iri("urn:dave")),
        (EX + "S", SH + "target", iri("urn:af:t1")),
        ("urn:af:t1", RDF_TYPE, iri(SH + "SPARQLTarget")),
        ("urn:af:t1", SH + "select", lit_typed(select)),
        (EX + "S", SH + "property", iri(EX + "S/p")),
        (EX + "S/p", SH + "path", iri(EX + "age")),
        (EX + "S/p", SH + "minCount", lit_typed("1", XSD_INTEGER)),
    ]
    res = validate(
        spark, _people(spark), triples_from_rows(spark, rows), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:dave", "urn:carol"}


def test_sparql_union_of_groups(spark):
    """{A} UNION {B}: persons reported for being underage OR knowing
    themselves, one solution per branch match."""
    select = (
        "SELECT $this ?v WHERE { "
        f"{{ $this <{EX}age> ?v . FILTER (?v < 18) }} "
        f"UNION {{ $this <{EX}knows> $this }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    got = {(r.focusNode, r.value) for r in res}
    assert got == {("urn:alice", "17"), ("urn:carol", None)}


def test_sparql_union_inside_nested_group(spark):
    """Alternation nested under FILTER EXISTS."""
    select = (
        "SELECT $this WHERE { "
        f"FILTER EXISTS {{ {{ $this <{EX}age> ?a }} UNION "
        f"{{ $this <{EX}knows> ?k }} }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:alice", "urn:bob", "urn:carol"}


def test_sparql_union_embedded_joins_with_patterns(spark):
    """UNION mixed with other patterns (SPARQL Join of the alternation
    with the rest of the group): underage persons OR self-knowers, but
    only among subjects that are typed Person."""
    select = (
        "SELECT $this WHERE { "
        f"$this a <{EX}Person> . "
        f"{{ $this <{EX}age> ?a . FILTER (?a < 18) }} "
        f"UNION {{ $this <{EX}knows> $this }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:alice", "urn:carol"}


def test_sparql_union_binds_variable_for_later_pattern(spark):
    """A variable bound inside the embedded alternation joins with a
    pattern outside it: ?o is whoever $this knows OR who knows $this,
    and must have an age recorded."""
    select = (
        "SELECT $this ?o WHERE { "
        f"{{ $this <{EX}knows> ?o }} UNION {{ ?o <{EX}knows> $this }} . "
        f"?o <{EX}age> ?a }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    # alice knows bob (bob has age 42); bob is known by alice (age 17);
    # carol knows carol but carol has no age -> dropped by the join
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:alice", "urn:bob"),
        ("urn:bob", "urn:alice"),
    }


def test_sparql_bare_subgroup_joins(spark):
    """A bare braced sub-group joins with the enclosing group; its
    bindings are visible to the outer FILTER."""
    select = (
        "SELECT $this ?a WHERE { "
        f"$this a <{EX}Person> . {{ $this <{EX}age> ?a }} . "
        "FILTER (?a > 20) }"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:bob", "42")}


def test_sparql_union_three_branch_chain_embedded(spark):
    select = (
        "SELECT $this WHERE { "
        f"$this a <{EX}Person> . "
        f"{{ $this <{EX}age> ?a . FILTER (?a < 18) }} "
        f"UNION {{ $this <{EX}knows> $this }} "
        f"UNION {{ $this <{EX}age> ?b . FILTER (?b > 40) }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:alice", "urn:bob", "urn:carol"}


def test_sparql_minus_shared_variable(spark):
    """MINUS removes solutions compatible on the shared variable: persons
    $this knows, minus those who have an age recorded."""
    select = (
        "SELECT $this ?o WHERE { "
        f"$this <{EX}knows> ?o . MINUS {{ ?o <{EX}age> ?a }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    # alice knows bob (bob HAS an age -> removed); carol knows carol
    # (carol has no age -> kept)
    assert {(r.focusNode, r.value) for r in res} == {("urn:carol", "urn:carol")}


def test_sparql_minus_this_only(spark):
    """MINUS whose group mentions only $this: removes exactly the focus
    nodes the group matches."""
    select = (
        "SELECT $this WHERE { "
        f"$this a <{EX}Person> . MINUS {{ $this <{EX}age> ?a }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:carol"}


def test_sparql_minus_disjoint_domain_removes_nothing(spark):
    """The MINUS-vs-NOT-EXISTS litmus (SPARQL 1.1 §8.3.3): a group
    sharing NO variables with the outer pattern removes nothing, while
    FILTER NOT EXISTS with the same group removes everything."""
    minus_q = (
        "SELECT $this ?age WHERE { "
        f"$this <{EX}age> ?age . MINUS {{ ?x <{EX}knows> ?y }} }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, minus_q), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:alice", "urn:bob"}

    nexists_q = (
        "SELECT $this ?age WHERE { "
        f"$this <{EX}age> ?age . FILTER NOT EXISTS {{ ?x <{EX}knows> ?y }} }}"
    )
    res2 = validate(
        spark, _people(spark), _af_shapes(spark, nexists_q), advanced=True
    ).collect()
    assert res2 == []


def _component_shapes(spark, pattern_value, extra_rows=()):
    """SHACL-AF §6-style custom component: ex:PatternComponent with one
    mandatory parameter ex:cpattern and a SELECT validator reporting name
    values that do NOT match the pattern."""
    rows = [
        (EX + "PatternComponent", RDF_TYPE, iri(SH + "ConstraintComponent")),
        (EX + "PatternComponent", SH + "parameter", iri("_:param1")),
        ("_:param1", SH + "path", iri(EX + "cpattern")),
        (EX + "PatternComponent", SH + "validator", iri("_:v1")),
        (
            "_:v1",
            SH + "select",
            lit_typed(
                "SELECT $this ?v WHERE { "
                f"$this <{EX}name> ?v . "
                "FILTER (!regex(?v, $cpattern)) }"
            ),
        ),
        ("_:v1", SH + "message", lit_typed("name does not match {$cpattern}")),
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "Person")),
        (EX + "S", EX + "cpattern", lit_typed(pattern_value)),
        *extra_rows,
    ]
    return triples_from_rows(spark, rows)


def _named(spark):
    return triples_from_rows(
        spark,
        [
            ("urn:alice", RDF_TYPE, iri(EX + "Person")),
            ("urn:alice", EX + "name", lit_typed("Alice")),
            ("urn:bob", RDF_TYPE, iri(EX + "Person")),
            ("urn:bob", EX + "name", lit_typed("bob")),
        ],
    )


def test_custom_component_parameter_prebinding(spark):
    """A shape carrying the component's parameter gets one constraint
    instance; $cpattern pre-binds textually; results report the component
    IRI and the parameter-templated message."""
    res = validate(
        spark, _named(spark), _component_shapes(spark, "^[A-Z]"), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:bob", "bob")}
    assert res[0].sourceConstraintComponent == EX + "PatternComponent"
    assert res[0].sourceShape == EX + "S"
    assert res[0].resultMessage == "name does not match ^[A-Z]"


def test_custom_component_multiple_values_and_shapes(spark):
    """Two parameter values on one shape = two constraint instances (one
    per combination); a second shape with its own value is independent."""
    extra = [
        (EX + "S", EX + "cpattern", lit_typed("b$")),
    ]
    res = validate(
        spark,
        _named(spark),
        _component_shapes(spark, "^[A-Z]", extra),
        advanced=True,
    ).collect()
    got = {(r.focusNode, r.resultMessage) for r in res}
    # bob fails ^[A-Z]; Alice fails b$ — each instance reports its own
    # templated message
    assert got == {
        ("urn:bob", "name does not match ^[A-Z]"),
        ("urn:alice", "name does not match b$"),
    }


def test_custom_component_missing_mandatory_param_inert(spark):
    """A shape NOT carrying the mandatory parameter gets no instance of
    the component (and vocabulary-style components without validators are
    skipped, not fatal)."""
    rows = [
        (EX + "PatternComponent", RDF_TYPE, iri(SH + "ConstraintComponent")),
        (EX + "PatternComponent", SH + "parameter", iri("_:param1")),
        ("_:param1", SH + "path", iri(EX + "cpattern")),
        (EX + "PatternComponent", SH + "validator", iri("_:v1")),
        ("_:v1", SH + "select", lit_typed("SELECT $this WHERE { $this a ?c }")),
        # a vocabulary declaration with no validator: must be skipped
        (EX + "Decl", RDF_TYPE, iri(SH + "ConstraintComponent")),
        (EX + "Decl", SH + "parameter", iri("_:p2")),
        ("_:p2", SH + "path", iri(EX + "unused")),
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "Person")),
    ]
    res = validate(
        spark, _named(spark), triples_from_rows(spark, rows), advanced=True
    )
    assert res.count() == 0


def test_custom_component_iri_parameter(spark):
    """IRI-valued parameters render as <...>: a requires-property
    component whose parameter names the predicate to probe."""
    rows = [
        (EX + "RequiresComponent", RDF_TYPE, iri(SH + "ConstraintComponent")),
        (EX + "RequiresComponent", SH + "parameter", iri("_:rp")),
        ("_:rp", SH + "path", iri(EX + "requiresProp")),
        (EX + "RequiresComponent", SH + "nodeValidator", iri("_:rv")),
        (
            "_:rv",
            SH + "select",
            lit_typed(
                "SELECT $this WHERE { "
                "FILTER NOT EXISTS { $this $requiresProp ?v } }"
            ),
        ),
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "Person")),
        (EX + "S", EX + "requiresProp", iri(EX + "age")),
    ]
    res = validate(
        spark, _people(spark), triples_from_rows(spark, rows), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:carol"}


def _ask_component_shapes(spark, pattern_value):
    """SHACL-AF §6.2.2-style ASK validator: a focus node CONFORMS iff its
    name matches the parameter pattern (no solution -> violation)."""
    rows = [
        (EX + "AskPattern", RDF_TYPE, iri(SH + "ConstraintComponent")),
        (EX + "AskPattern", SH + "parameter", iri("_:ap")),
        ("_:ap", SH + "path", iri(EX + "cpattern")),
        (EX + "AskPattern", SH + "validator", iri("_:av")),
        (
            "_:av",
            SH + "ask",
            lit_typed(
                "ASK { " f"$this <{EX}name> ?v . " "FILTER (regex(?v, $cpattern)) }"
            ),
        ),
        ("_:av", SH + "message", lit_typed("name must match {$cpattern}")),
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "Person")),
        (EX + "S", EX + "cpattern", lit_typed(pattern_value)),
    ]
    return triples_from_rows(spark, rows)


def test_ask_validator_failing_focus_reported_as_value(spark):
    """ASK false (bob's name fails ^[A-Z]; so does a nameless person) ->
    one violation whose sh:value IS the focus node; component IRI and
    templated message carried through."""
    data = triples_from_rows(
        spark,
        [
            ("urn:alice", RDF_TYPE, iri(EX + "Person")),
            ("urn:alice", EX + "name", lit_typed("Alice")),
            ("urn:bob", RDF_TYPE, iri(EX + "Person")),
            ("urn:bob", EX + "name", lit_typed("bob")),
            ("urn:carol", RDF_TYPE, iri(EX + "Person")),  # no name at all
        ],
    )
    res = validate(
        spark, data, _ask_component_shapes(spark, "^[A-Z]"), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:bob", "urn:bob"),
        ("urn:carol", "urn:carol"),
    }
    assert all(r.sourceConstraintComponent == EX + "AskPattern" for r in res)
    assert all(r.resultMessage == "name must match ^[A-Z]" for r in res)


def test_ask_validator_all_conform(spark):
    """ASK true for every focus node -> conforming report."""
    res = validate(
        spark, _named(spark), _ask_component_shapes(spark, "."), advanced=True
    )
    assert res.count() == 0


def test_ask_validator_multi_valued_any_match_conforms(spark):
    """A focus node with several values conforms when ANY solution exists
    (EXISTS semantics of ASK) — solution multiplicity never multiplies
    the violation count."""
    data = triples_from_rows(
        spark,
        [
            ("urn:dan", RDF_TYPE, iri(EX + "Person")),
            ("urn:dan", EX + "name", lit_typed("dan")),
            ("urn:dan", EX + "name", lit_typed("Dan")),
            ("urn:dan", EX + "name", lit_typed("DAN")),
        ],
    )
    res = validate(
        spark, data, _ask_component_shapes(spark, "^[A-Z]"), advanced=True
    )
    assert res.count() == 0


def test_ask_parse_rejects_empty_body(spark):
    from cmem_plugin_pyshacl_spark.plans.sparql_af import parse_ask

    with pytest.raises(ValueError):
        parse_ask("ASK { }")
    block = parse_ask(f"ASK WHERE {{ $this <{EX}age> ?v }}")
    assert len(block.patterns) == 1


# ---- FILTER expression subset (SPARQL 1.1 builtins) ----


def _mixed_terms(spark):
    return triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "v", iri("urn:target")),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "v", lit_typed("5", XSD_INTEGER)),
            ("urn:c", RDF_TYPE, iri(EX + "Person")),
            ("urn:c", EX + "v", lit_typed("hello")),
            ("urn:d", RDF_TYPE, iri(EX + "Person")),
            ("urn:d", EX + "v", ("bonjour", "literal", None, "fr")),
            ("urn:e", RDF_TYPE, iri(EX + "Person")),
            ("urn:e", EX + "v", ("Guten Tag", "literal", None, "de-AT")),
        ],
    )


def _vq(select_filter):
    return (
        "SELECT $this ?v WHERE { "
        f"$this <{EX}v> ?v . FILTER ({select_filter}) }}"
    )


def _filter_hits(spark, data, flt):
    res = validate(
        spark, data, _af_shapes(spark, _vq(flt)), advanced=True
    ).collect()
    return {r.focusNode for r in res}


def test_filter_boolean_connectives_and_parens(spark):
    data = _mixed_terms(spark)
    got = _filter_hits(
        spark, data, '(?v = "hello" || ?v = "5") && !(?v < 3)'
    )
    assert got == {"urn:b", "urn:c"}


def test_filter_is_iri_is_literal_datatype(spark):
    data = _mixed_terms(spark)
    assert _filter_hits(spark, data, "isIRI(?v)") == {"urn:a"}
    assert _filter_hits(spark, data, "isLiteral(?v)") == {
        "urn:b", "urn:c", "urn:d", "urn:e",
    }
    # RDF 1.1 datatype(): typed -> declared, plain -> xsd:string,
    # lang-tagged -> rdf:langString
    xsd = "http://www.w3.org/2001/XMLSchema#"
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    assert _filter_hits(
        spark, data, f"datatype(?v) = <{xsd}integer>"
    ) == {"urn:b"}
    assert _filter_hits(
        spark, data, f"datatype(?v) = <{xsd}string>"
    ) == {"urn:c"}
    assert _filter_hits(
        spark, data, f"datatype(?v) = <{rdf}langString>"
    ) == {"urn:d", "urn:e"}


def test_filter_lang_and_langmatches(spark):
    data = _mixed_terms(spark)
    assert _filter_hits(spark, data, 'lang(?v) = "fr"') == {"urn:d"}
    # plain literal: lang() is the empty string
    assert _filter_hits(
        spark, data, 'isLiteral(?v) && lang(?v) = ""'
    ) == {"urn:b", "urn:c"}
    # basic RFC 4647 range: "de" matches de-AT; "*" matches any tagged
    assert _filter_hits(
        spark, data, 'langMatches(lang(?v), "de")'
    ) == {"urn:e"}
    assert _filter_hits(
        spark, data, 'langMatches(lang(?v), "*")'
    ) == {"urn:d", "urn:e"}


def test_filter_string_functions_and_regex_flags(spark):
    data = _mixed_terms(spark)
    assert _filter_hits(spark, data, 'STRSTARTS(?v, "bon")') == {"urn:d"}
    assert _filter_hits(spark, data, 'CONTAINS(?v, "ell")') == {"urn:c"}
    assert _filter_hits(spark, data, 'STRENDS(str(?v), "Tag")') == {"urn:e"}
    # case-insensitive flag; parens inside the pattern string must not
    # break the FILTER(...) capture
    assert _filter_hits(
        spark, data, 'regex(?v, "^(HELLO|BONJOUR)$", "i")'
    ) == {"urn:c", "urn:d"}


def test_filter_sameterm_full_term_identity(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:x", RDF_TYPE, iri(EX + "Person")),
            ("urn:x", EX + "v", lit_typed("5", XSD_INTEGER)),
            ("urn:y", RDF_TYPE, iri(EX + "Person")),
            ("urn:y", EX + "v", lit_typed("5")),  # xsd:string "5"
        ],
    )
    select = (
        "SELECT $this ?v ?w WHERE { "
        f"$this <{EX}v> ?v . ?other <{EX}v> ?w . "
        "FILTER (sameTerm(?v, ?w) && ?other != $this) }"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    # "5"^^xsd:integer and "5"^^xsd:string share a lexical form but are
    # DIFFERENT terms -> no cross-subject sameTerm solutions
    assert res == []


def test_filter_unsupported_expressions_raise(spark):
    data = _mixed_terms(spark)
    for bad in (
        "NOPE(?v) > 3",            # unsupported function
        "?v = ",                   # dangling comparison
        "(?v = \"x\"",             # unbalanced paren
        "bound(?nope)",            # unbound variable
        "?v ~ \"x\"",              # bogus operator
    ):
        with pytest.raises(ValueError):
            validate(
                spark, data, _af_shapes(spark, _vq(bad)), advanced=True
            )


def test_filter_in_and_not_in(spark):
    data = _mixed_terms(spark)
    assert _filter_hits(
        spark, data, '?v IN ("hello", "bonjour", 5)'
    ) == {"urn:b", "urn:c", "urn:d"}
    assert _filter_hits(
        spark, data, 'isLiteral(?v) && ?v NOT IN ("hello", 5)'
    ) == {"urn:d", "urn:e"}
    # empty lists: IN () is false, NOT IN () is true
    assert _filter_hits(spark, data, "?v IN ()") == set()
    assert _filter_hits(spark, data, "isIRI(?v) && ?v NOT IN ()") == {"urn:a"}


def test_filter_value_functions(spark):
    data = _mixed_terms(spark)
    # STRLEN: "hello"=5, "bonjour"=7, "Guten Tag"=9, "5"=1, iri len 10
    assert _filter_hits(
        spark, data, "isLiteral(?v) && STRLEN(?v) > 6"
    ) == {"urn:d", "urn:e"}
    assert _filter_hits(spark, data, 'UCASE(?v) = "HELLO"') == {"urn:c"}
    assert _filter_hits(spark, data, 'LCASE(?v) = "guten tag"') == {"urn:e"}
    assert _filter_hits(
        spark, data, 'CONCAT(?v, "!") = "hello!"'
    ) == {"urn:c"}
    assert _filter_hits(spark, data, "ABS(?v) = 5") == {"urn:b"}
    with pytest.raises(ValueError):
        validate(
            spark, data, _af_shapes(spark, _vq("STRLEN(?v, ?v) > 1")),
            advanced=True,
        )


def test_bind_expression_and_projection(spark):
    """BIND computes a new variable visible to later FILTERs and
    projectable as sh:value."""
    select = (
        "SELECT $this ?shout WHERE { "
        f"$this <{EX}v> ?v . "
        "BIND (UCASE(str(?v)) AS ?shout) "
        'FILTER (STRSTARTS(?shout, "H")) }'
    )
    res = validate(
        spark, _mixed_terms(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:c", "HELLO")}


def test_bind_constant_and_rebind_raises(spark):
    data = _mixed_terms(spark)
    select = (
        "SELECT $this ?w WHERE { "
        f"$this <{EX}v> ?v . "
        'BIND (CONCAT(?v, "-x") AS ?w) . FILTER (?w = "5-x") }'
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:b", "5-x")}
    with pytest.raises(ValueError):
        validate(
            spark, data,
            _af_shapes(
                spark,
                "SELECT $this WHERE { "
                f"$this <{EX}v> ?v . BIND (str(?v) AS ?v) }}",
            ),
            advanced=True,
        )


def _prop_component_rows(validator_pred, validator_body, body_pred):
    return [
        ("urn:comp", RDF_TYPE, iri(SH + "ConstraintComponent")),
        ("urn:comp", SH + "parameter", iri("urn:comp/p1")),
        ("urn:comp/p1", SH + "path", iri(EX + "maxLen")),
        ("urn:comp", validator_pred, iri("urn:comp/v")),
        ("urn:comp/v", body_pred, lit_typed(validator_body)),
        ("urn:comp/v", SH + "message", lit_typed("too long")),
        (EX + "NS", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "NS", SH + "targetClass", iri(EX + "Person")),
        (EX + "NS", SH + "property", iri(EX + "NS/p")),
        (EX + "NS/p", SH + "path", iri(EX + "name")),
        (EX + "NS/p", EX + "maxLen", lit_typed("3", XSD_INTEGER)),
    ]


def _named_people(spark):
    return triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "name", lit_typed("ok")),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "name", lit_typed("waytoolong")),
            ("urn:b", EX + "name", lit_typed("al")),
        ],
    )


def test_custom_component_property_validator_select(spark):
    """sh:propertyValidator with $PATH substitution: the component
    validates each value of the property shape's path; violations carry
    the path as resultPath."""
    select = (
        "SELECT $this ?value WHERE { "
        "$this $PATH ?value . FILTER (STRLEN(?value) > $maxLen) }"
    )
    shapes = triples_from_rows(
        spark,
        _prop_component_rows(SH + "propertyValidator", select, SH + "select"),
    )
    res = validate(spark, _named_people(spark), shapes, advanced=True).collect()
    assert {(r.focusNode, r.value, r.resultPath) for r in res} == {
        ("urn:b", "waytoolong", EX + "name"),
    }
    assert res[0].sourceConstraintComponent == "urn:comp"
    assert res[0].sourceShape == EX + "NS/p"
    assert res[0].resultMessage == "too long"


def test_custom_component_property_validator_ask(spark):
    """ASK propertyValidator: a FILTER-only body over the pre-bound
    ?value — each failing (focus, value) pair is one violation."""
    shapes = triples_from_rows(
        spark,
        _prop_component_rows(
            SH + "propertyValidator",
            "ASK { FILTER (STRLEN(?value) <= $maxLen) }",
            SH + "ask",
        ),
    )
    res = validate(spark, _named_people(spark), shapes, advanced=True).collect()
    assert {(r.focusNode, r.value, r.resultPath) for r in res} == {
        ("urn:b", "waytoolong", EX + "name"),
    }


def test_custom_component_property_complex_path_raises(spark):
    select = "SELECT $this ?value WHERE { $this $PATH ?value }"
    rows = _prop_component_rows(SH + "propertyValidator", select, SH + "select")
    # replace the simple path with a bnode (complex path marker)
    rows = [
        (s, p, ("b0", "bnode", None, None))
        if (s, p) == (EX + "NS/p", SH + "path")
        else (s, p, o)
        for s, p, o in rows
    ]
    with pytest.raises(ValueError, match="complex sh:path"):
        validate(
            spark, _named_people(spark), triples_from_rows(spark, rows),
            advanced=True,
        )


def test_custom_component_iri_named_complex_path_raises(spark):
    """A path node named by an IRI (a skolemized blank node, say) that
    carries sh:inversePath is a complex path too: it must raise instead of
    binding the node's IRI as $PATH."""
    select = "SELECT $this ?value WHERE { $this $PATH ?value }"
    rows = [
        (s, p, iri("urn:inv"))
        if (s, p) == (EX + "NS/p", SH + "path")
        else (s, p, o)
        for s, p, o in _prop_component_rows(
            SH + "propertyValidator", select, SH + "select"
        )
    ] + [("urn:inv", SH + "inversePath", iri(EX + "name"))]
    with pytest.raises(ValueError, match="complex sh:path"):
        validate(
            spark, _named_people(spark), triples_from_rows(spark, rows),
            advanced=True,
        )


def test_values_single_variable(spark):
    select = (
        "SELECT $this ?v WHERE { "
        f"$this <{EX}v> ?v . "
        'VALUES ?v { "hello" "bonjour" 5 } }'
    )
    res = validate(
        spark, _mixed_terms(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:b", "urn:c", "urn:d"}


def test_values_iri_terms_and_empty_block(spark):
    select = (
        "SELECT $this ?v WHERE { "
        f"$this <{EX}v> ?v . VALUES ?v {{ <urn:target> }} }}"
    )
    res = validate(
        spark, _mixed_terms(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:a"}
    # empty data block: join with the empty table -> no solutions
    empty = (
        "SELECT $this ?v WHERE { "
        f"$this <{EX}v> ?v . VALUES ?v {{ }} }}"
    )
    res = validate(
        spark, _mixed_terms(spark), _af_shapes(spark, empty), advanced=True
    ).collect()
    assert res == []


def test_values_multi_variable_with_undef(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "p", lit_typed("x")),
            ("urn:a", EX + "q", lit_typed("1", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "p", lit_typed("y")),
            ("urn:b", EX + "q", lit_typed("2", XSD_INTEGER)),
            ("urn:c", RDF_TYPE, iri(EX + "Person")),
            ("urn:c", EX + "p", lit_typed("z")),
            ("urn:c", EX + "q", lit_typed("3", XSD_INTEGER)),
        ],
    )
    select = (
        "SELECT $this ?pv WHERE { "
        f"$this <{EX}p> ?pv . $this <{EX}q> ?qv . "
        'VALUES (?pv ?qv) { ("x" 1) (UNDEF 3) } }'
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    # row 1 matches urn:a exactly; row 2 wildcards ?pv and matches urn:c
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "x"), ("urn:c", "z"),
    }


def test_values_errors(spark):
    data = _mixed_terms(spark)
    for bad in (
        # unbound VALUES variable
        "SELECT $this ?v WHERE { "
        f"$this <{EX}v> ?v . VALUES ?nope {{ \"x\" }} }}",
        # arity mismatch
        "SELECT $this ?v WHERE { "
        f"$this <{EX}v> ?v . VALUES (?v ?w) {{ (\"x\") }} }}",
        # ?this may not be constrained
        "SELECT $this ?v WHERE { "
        f"$this <{EX}v> ?v . VALUES ?this {{ <urn:a> }} }}",
        # variables are not constant terms
        "SELECT $this ?v WHERE { "
        f"$this <{EX}v> ?v . VALUES ?v {{ ?v }} }}",
    ):
        with pytest.raises(ValueError):
            validate(spark, data, _af_shapes(spark, bad), advanced=True)


# ---- property paths in BGP patterns ----


def test_path_sequence(spark):
    """p1/p2 desugars to a fresh-variable chain: age of someone $this
    knows."""
    select = (
        "SELECT $this ?a WHERE { "
        f"$this <{EX}knows>/<{EX}age> ?a }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:alice", "42")}


def test_path_inverse(spark):
    """^p swaps the operands: persons somebody knows."""
    select = f"SELECT $this ?who WHERE {{ $this ^<{EX}knows> ?who }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:bob", "urn:alice"),
        ("urn:carol", "urn:carol"),
    }


def test_path_alternative_and_sequence_combo(spark):
    """(p1|p2) desugars to a UNION sub-block joined on shared vars;
    combined with a sequence step."""
    select = (
        "SELECT $this ?x WHERE { "
        f"$this (<{EX}age>|<{EX}knows>/<{EX}age>) ?x }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    got = {(r.focusNode, r.value) for r in res}
    # alice: own age 17 AND bob's age 42 via knows/age; bob: own age
    assert got == {
        ("urn:alice", "17"),
        ("urn:alice", "42"),
        ("urn:bob", "42"),
    }


def test_path_inverse_of_sequence(spark):
    """^(p1/p2): the inverse distributes over the whole parenthesized
    sequence via operand swap."""
    select = (
        "SELECT $this ?who WHERE { "
        f"$this ^(<{EX}knows>/<{EX}age>) ?who }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    # ?who knows someone whose age is $this ... no Person focus has a
    # literal IRI, so no solutions; but the query must compile and run
    assert res == []


def test_path_negated_property_set_forward(spark):
    """!p: one hop over any predicate except p — forward edges only."""
    select = f"SELECT $this ?x WHERE {{ $this !<{EX}knows> ?x }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:alice", EX + "Person"),  # rdf:type edge
        ("urn:alice", "17"),
        ("urn:bob", EX + "Person"),
        ("urn:bob", "42"),
        ("urn:carol", EX + "Person"),
    }


def test_path_negated_set_with_a_keyword(spark):
    """!(a|<age>) leaves only the knows edges."""
    select = f"SELECT $this ?x WHERE {{ $this !(a|<{EX}age>) ?x }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:alice", "urn:bob"),
        ("urn:carol", "urn:carol"),
    }


def test_path_negated_set_mixed_arms(spark):
    """!(<age>|^<knows>): forward non-age edges PLUS reversed non-knows
    edges (none here) — the two spec arms with separate exclusions."""
    select = f"SELECT $this ?x WHERE {{ $this !(<{EX}age>|^<{EX}knows>) ?x }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:alice", EX + "Person"),
        ("urn:alice", "urn:bob"),
        ("urn:bob", EX + "Person"),
        ("urn:carol", EX + "Person"),
        ("urn:carol", "urn:carol"),
    }


def test_path_inverse_of_negated_set(spark):
    """^!<age> desugars by operand swap: who points at $this over a
    non-age predicate."""
    select = f"SELECT $this ?x WHERE {{ $this ^!<{EX}age> ?x }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:bob", "urn:alice"),  # alice knows bob
        ("urn:carol", "urn:carol"),
    }


def test_path_negated_set_under_closure(spark):
    """!(<age>)* — closure over the complement slice: the fixpoint
    traverses type and knows edges alike."""
    select = f"SELECT $this ?x WHERE {{ $this !<{EX}age>* ?x }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    got = {(r.focusNode, r.value) for r in res}
    assert {(f, x) for f, x in got if f == "urn:alice"} == {
        ("urn:alice", "urn:alice"),  # zero hops
        ("urn:alice", EX + "Person"),  # via rdf:type
        ("urn:alice", "urn:bob"),  # via knows
    }


def test_if_in_bind_and_filter(spark):
    """BIND(IF(cond, a, b) AS ?v): branch-following value; usable as the
    reported sh:value."""
    select = (
        "SELECT $this ?cat WHERE { "
        f"$this <{EX}age> ?age . "
        'BIND(IF(?age < 18, "minor", "adult") AS ?cat) . '
        'FILTER (?cat = "minor") }'
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:alice", "minor")}


def test_coalesce_with_optional_unbound(spark):
    """COALESCE falls through an OPTIONAL-unbound variable to the
    fallback literal — the classic default-value idiom."""
    select = (
        "SELECT $this ?v WHERE { "
        f"$this a <{EX}Person> . "
        f"OPTIONAL {{ $this <{EX}age> ?age }} . "
        'BIND(COALESCE(?age, "none") AS ?v) . '
        'FILTER (?v = "none") }'
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    # carol has no age -> fallback fires only for her
    assert {(r.focusNode, r.value) for r in res} == {("urn:carol", "none")}


def test_arithmetic_in_filter_and_bind(spark):
    """+ - * / with precedence and bracketted sub-expressions; integral
    results render without .0 (BIND(?age * 2 + 1) -> "35")."""
    select = (
        "SELECT $this ?v WHERE { "
        f"$this <{EX}age> ?age . "
        "BIND(?age * 2 + 1 AS ?v) . "
        "FILTER ((?age + 3) / 2 < 11 && -?age < 0) }"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    # alice 17: (17+3)/2 = 10 < 11 passes; bob 42: 22.5 fails
    assert {(r.focusNode, r.value) for r in res} == {("urn:alice", "35")}


def test_arithmetic_with_aggregate_proportion(spark):
    """The proportion idiom: HAVING (COUNT(?e) * 2 > 3)."""
    select = (
        "SELECT $this WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this "
        "HAVING (COUNT(?e) * 2 > 3)"
    )
    res = validate(
        spark, _emails(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:a"}  # 2 emails * 2 = 4 > 3


def test_arithmetic_non_numeric_nulls_out(spark):
    """A non-numeric operand turns the arithmetic result NULL, so the
    comparison is not satisfied (SPARQL type-error semantics)."""
    select = (
        "SELECT $this WHERE { "
        f"$this <{EX}v> ?v . FILTER (?v + 1 > 0) }}"
    )
    res = validate(
        spark, _mixed_terms(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    # only urn:b carries the numeric "5"^^xsd:integer value
    assert {r.focusNode for r in res} == {"urn:b"}


def test_string_and_rounding_builtins(spark):
    """SUBSTR/STRBEFORE/STRAFTER/REPLACE and ROUND/CEIL/FLOOR."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "v", lit_typed("foo:bar")),
            ("urn:a", EX + "n", lit_typed("2.6", XSD + "decimal")),
        ],
    )

    def hits(expr):
        select = (
            "SELECT $this WHERE { "
            f"$this <{EX}v> ?v . $this <{EX}n> ?n . FILTER ({expr}) }}"
        )
        return {
            r.focusNode
            for r in validate(
                spark, data, _af_shapes(spark, select), advanced=True
            ).collect()
        }

    assert hits('SUBSTR(?v, 1, 3) = "foo"') == {"urn:a"}
    assert hits('SUBSTR(?v, 5) = "bar"') == {"urn:a"}
    assert hits('STRBEFORE(?v, ":") = "foo"') == {"urn:a"}
    assert hits('STRAFTER(?v, ":") = "bar"') == {"urn:a"}
    assert hits('STRBEFORE(?v, "@") = ""') == {"urn:a"}  # absent needle
    assert hits('STRAFTER(?v, "") = ?v') == {"urn:a"}  # empty needle
    assert hits('REPLACE(?v, "[aeiou]", "_") = "f__:b_r"') == {"urn:a"}
    assert hits("ROUND(?n) = 3 && CEIL(?n) = 3 && FLOOR(?n) = 2") == {"urn:a"}
    assert hits("FLOOR(?v) = 0") == set()  # non-numeric -> NULL -> no hit


def test_hash_and_uri_builtins(spark):
    import hashlib

    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "v", lit_typed("Hello World~*")),
        ],
    )
    md5 = hashlib.md5(b"Hello World~*").hexdigest()
    sha256 = hashlib.sha256(b"Hello World~*").hexdigest()
    select = (
        "SELECT $this WHERE { "
        f"$this <{EX}v> ?v . "
        f'FILTER (MD5(?v) = "{md5}" && SHA256(?v) = "{sha256}" '
        '&& ENCODE_FOR_URI(?v) = "Hello%20World~%2A") }'
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:a"}


def test_datetime_accessors(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            (
                "urn:a",
                EX + "ts",
                lit_typed("2024-03-05T10:20:30", XSD + "dateTime"),
            ),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "ts", lit_typed("not a date")),
        ],
    )
    select = (
        "SELECT $this WHERE { "
        f"$this <{EX}ts> ?d . "
        "FILTER (YEAR(?d) = 2024 && MONTH(?d) = 3 && DAY(?d) = 5 "
        "&& HOURS(?d) = 10 && MINUTES(?d) = 20 && SECONDS(?d) = 30) }"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    # urn:b's malformed value NULLs out of every accessor
    assert {r.focusNode for r in res} == {"urn:a"}


# ---- closure path modifiers (* + ?) ----


def _chain(spark):
    """n1 -next-> n2 -next-> n3 -next-> n4 -next-> n5, all Persons."""
    rows = []
    for i in range(1, 6):
        rows.append((f"urn:n{i}", RDF_TYPE, iri(EX + "Person")))
        if i < 5:
            rows.append((f"urn:n{i}", EX + "next", iri(f"urn:n{i+1}")))
    return triples_from_rows(spark, rows)


def test_path_zero_or_more(spark):
    """p*: self (zero hops) plus transitive closure, set semantics —
    carol's knows-cycle contributes herself exactly once."""
    select = f"SELECT $this ?x WHERE {{ $this <{EX}knows>* ?x }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:alice", "urn:alice"),
        ("urn:alice", "urn:bob"),
        ("urn:bob", "urn:bob"),
        ("urn:carol", "urn:carol"),
    }


def test_path_one_or_more_multi_hop(spark):
    """p+ reaches the whole downstream chain (4 hops), never self
    without a cycle."""
    select = f"SELECT $this ?x WHERE {{ $this <{EX}next>+ ?x }}"
    res = validate(
        spark, _chain(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    got = {(r.focusNode, r.value) for r in res}
    assert ("urn:n1", "urn:n5") in got  # full 4-hop reachability
    assert ("urn:n1", "urn:n1") not in got  # no zero-length arm
    assert len(got) == 4 + 3 + 2 + 1


def test_path_one_or_more_cycle(spark):
    select = f"SELECT $this ?x WHERE {{ $this <{EX}knows>+ ?x }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:alice", "urn:bob"),
        ("urn:carol", "urn:carol"),
    }


def test_path_zero_or_one(spark):
    select = f"SELECT $this ?x WHERE {{ $this <{EX}next>? ?x }}"
    res = validate(
        spark, _chain(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    got = {(r.focusNode, r.value) for r in res}
    assert {(f, x) for f, x in got if f == "urn:n1"} == {
        ("urn:n1", "urn:n1"),
        ("urn:n1", "urn:n2"),
    }
    assert ("urn:n1", "urn:n3") not in got


def test_path_closure_in_sequence(spark):
    """p*/q: closure feeds the next step via the shared pairs relation."""
    select = f"SELECT $this ?a WHERE {{ $this <{EX}knows>*/<{EX}age> ?a }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:alice", "17"),
        ("urn:alice", "42"),
        ("urn:bob", "42"),
    }


def test_path_inverse_closure(spark):
    """^p+ — who transitively knows $this (inverse pushed to the leaf
    by normalization, closure evaluated over the reversed edges)."""
    select = f"SELECT $this ?x WHERE {{ $this ^<{EX}knows>+ ?x }}"
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:bob", "urn:alice"),
        ("urn:carol", "urn:carol"),
    }


def test_path_closure_object_seeded(spark):
    """Unbound subject + bound object: the REVERSED path evaluates from
    the object-side seeds (?y, bound by the first pattern)."""
    select = (
        "SELECT $this ?x WHERE { "
        f"$this <{EX}knows> ?y . ?x <{EX}knows>* ?y }}"
    )
    res = validate(
        spark, _people(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:alice", "urn:bob"),
        ("urn:alice", "urn:alice"),
        ("urn:carol", "urn:carol"),
    }


def test_single_scan_slice_with_closure_and_neg_paths(spark):
    """Regression: with >1 property constraints the single-scan predicate
    slice builds — closure-path LEAF predicates must feed it (else the
    fixpoint sees no edges), and a negated property set must disable
    slicing entirely (its complement hop can touch any predicate)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "knows", iri("urn:b")),
            ("urn:a", EX + "age", lit_typed("30", XSD_INTEGER)),
            ("urn:b", EX + "age", lit_typed("15", XSD_INTEGER)),
        ],
    )
    base = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "Person")),
        (EX + "S", SH + "property", iri(EX + "S/p1")),
        (EX + "S/p1", SH + "path", iri(EX + "age")),
        (EX + "S/p1", SH + "minCount", lit_typed("1", XSD_INTEGER)),
        (EX + "S", SH + "property", iri(EX + "S/p2")),
        (EX + "S/p2", SH + "path", iri(EX + "age")),
        (EX + "S/p2", SH + "maxCount", lit_typed("5", XSD_INTEGER)),
    ]
    closure_shapes = base + [
        (EX + "S", SH + "sparql", iri("urn:af:cs")),
        (
            "urn:af:cs",
            SH + "select",
            lit_typed(
                "SELECT $this ?a WHERE { "
                f"$this <{EX}knows>*/<{EX}age> ?a . FILTER (?a < 18) }}"
            ),
        ),
    ]
    res = validate(
        spark, data, triples_from_rows(spark, closure_shapes), advanced=True
    ).collect()
    af = {(r.focusNode, r.value) for r in res if r.sourceShape == "urn:af:cs"}
    assert af == {("urn:a", "15")}  # via knows, sliced data must keep it

    neg_shapes = base + [
        (EX + "S", SH + "sparql", iri("urn:af:cn")),
        (
            "urn:af:cn",
            SH + "select",
            lit_typed(
                f"SELECT $this ?x WHERE {{ $this !(a|<{EX}age>) ?x }}"
            ),
        ),
    ]
    res = validate(
        spark, data, triples_from_rows(spark, neg_shapes), advanced=True
    ).collect()
    afn = {(r.focusNode, r.value) for r in res if r.sourceShape == "urn:af:cn"}
    # the knows edge is outside every constraint predicate — it survives
    # only because negation forces the full scan
    assert afn == {("urn:a", "urn:b")}


def test_path_closure_both_unbound_raises(spark):
    select = f"SELECT $this ?x WHERE {{ ?x <{EX}knows>* ?y }}"
    with pytest.raises(ValueError, match="bound endpoint"):
        validate(
            spark, _people(spark), _af_shapes(spark, select), advanced=True
        )


# ---- aggregates: GROUP BY / HAVING / COUNT / SUM / AVG / MIN / MAX ----


def _emails(spark):
    return triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "email", lit_typed("a1@x")),
            ("urn:a", EX + "email", lit_typed("a2@x")),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "email", lit_typed("b@x")),
            ("urn:c", RDF_TYPE, iri(EX + "Person")),
        ],
    )


def test_agg_count_having(spark):
    """The classic SHACL-AF aggregate validator: more than one email."""
    select = (
        "SELECT $this (COUNT(?e) AS ?n) WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this HAVING (?n > 1)"
    )
    res = validate(
        spark, _emails(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:a", "2")}
    assert res[0].value_datatype.endswith("integer")


def test_agg_having_inline_call_no_projection(spark):
    """HAVING may call the aggregate inline (W3C example style); with no
    projected value the report's sh:value is NULL."""
    select = (
        "SELECT $this WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this HAVING (COUNT(?e) > 1)"
    )
    res = validate(
        spark, _emails(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:a", None)}


def test_agg_count_distinct(spark):
    """(p1|p2) duplicates a shared value in the solution multiset; COUNT
    counts both, COUNT(DISTINCT) collapses them."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "p1", lit_typed("x@x")),
            ("urn:a", EX + "p2", lit_typed("x@x")),
        ],
    )
    both = (
        "SELECT $this (COUNT(?e) AS ?n) (COUNT(DISTINCT ?e) AS ?d) WHERE { "
        f"$this (<{EX}p1>|<{EX}p2>) ?e }} GROUP BY $this HAVING (?n > 0)"
    )
    res = validate(
        spark, data, _af_shapes(spark, both), advanced=True
    ).collect()
    # first projected name is the report value
    assert {(r.focusNode, r.value) for r in res} == {("urn:a", "2")}
    # ... and DISTINCT must actually collapse: assert via HAVING
    only_distinct = (
        "SELECT $this WHERE { "
        f"$this (<{EX}p1>|<{EX}p2>) ?e }} GROUP BY $this "
        "HAVING (COUNT(DISTINCT ?e) = 1 && COUNT(?e) = 2)"
    )
    res = validate(
        spark, data, _af_shapes(spark, only_distinct), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:a"}


def test_agg_numeric_functions(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "score", lit_typed("1", XSD_INTEGER)),
            ("urn:a", EX + "score", lit_typed("2", XSD_INTEGER)),
            ("urn:a", EX + "score", lit_typed("9", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "score", lit_typed("5", XSD_INTEGER)),
        ],
    )
    select = (
        "SELECT $this (SUM(?s) AS ?total) WHERE { "
        f"$this <{EX}score> ?s }} GROUP BY $this "
        "HAVING (AVG(?s) >= 4 && MIN(?s) < 2 && MAX(?s) = 9)"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:a", "12.0")}
    assert res[0].value_datatype.endswith("double")


def test_agg_group_by_extra_var(spark):
    """GROUP BY $this ?cat groups per full term of the extra key."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "tag", lit_typed("red")),
            ("urn:a", EX + "tag", lit_typed("red")),
            ("urn:a", EX + "tag", lit_typed("blue")),
        ],
    )
    # triples are set-semantics, so duplicate (a,tag,red) collapses; use
    # an alternative to duplicate the red solution
    select = (
        "SELECT $this ?t WHERE { "
        f"$this (<{EX}tag>|<{EX}tag>) ?t }} GROUP BY $this ?t "
        "HAVING (COUNT(*) > 1)"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "red"),
        ("urn:a", "blue"),
    }


def test_agg_errors(spark):
    data = _emails(spark)
    for bad in (
        # aggregate without GROUP BY
        "SELECT $this (COUNT(?e) AS ?n) WHERE { "
        f"$this <{EX}email> ?e }}",
        # constraint mode must group by $this
        "SELECT $this (COUNT(?e) AS ?n) WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY ?e",
        # projected var that is neither aggregated nor a key
        "SELECT $this ?e (COUNT(?e) AS ?n) WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this",
        # aggregate over an unbound variable
        "SELECT $this (COUNT(?nope) AS ?n) WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this",
        # DISTINCT outside COUNT
        "SELECT $this (SUM(DISTINCT ?e) AS ?n) WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this",
        # trailing garbage after the LIMIT/OFFSET tail
        "SELECT $this (COUNT(?e) AS ?n) WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this ORDER BY ?n LIMIT 1 BOGUS 5",
        # OFFSET (like LIMIT) demands ORDER BY
        "SELECT $this (COUNT(?e) AS ?n) WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this OFFSET 5",
    ):
        with pytest.raises(ValueError):
            validate(spark, data, _af_shapes(spark, bad), advanced=True)


# ---- subqueries ----


def test_subquery_global_aggregate_cross_product(spark):
    """{ SELECT (MAX(?s) AS ?m) ... } with no shared variable cross-joins
    its single row; the outer FILTER compares against it — report the
    persons holding the global maximum score."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "score", lit_typed("3", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "score", lit_typed("9", XSD_INTEGER)),
            ("urn:c", RDF_TYPE, iri(EX + "Person")),
            ("urn:c", EX + "score", lit_typed("9", XSD_INTEGER)),
        ],
    )
    select = (
        "SELECT $this ?s WHERE { "
        f"$this <{EX}score> ?s . "
        f"{{ SELECT (MAX(?x) AS ?m) WHERE {{ ?p <{EX}score> ?x }} }} "
        "FILTER (?s = ?m) }"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:b", "9"),
        ("urn:c", "9"),
    }


def test_subquery_joins_on_shared_visible_var(spark):
    """A grouped subquery joins the outer pattern on its projected
    variable — flag scores that more than one person shares."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "score", lit_typed("9", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "score", lit_typed("9", XSD_INTEGER)),
            ("urn:c", RDF_TYPE, iri(EX + "Person")),
            ("urn:c", EX + "score", lit_typed("3", XSD_INTEGER)),
        ],
    )
    select = (
        "SELECT $this ?s WHERE { "
        f"$this <{EX}score> ?s . "
        f"{{ SELECT ?s WHERE {{ ?p <{EX}score> ?s }} GROUP BY ?s "
        "HAVING (COUNT(?p) > 1) } }"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "9"),
        ("urn:b", "9"),
    }


def test_subquery_with_prebound_this(spark):
    """SHACL-AF pre-binding: $this inside the subquery is seeded per
    focus node, so the aggregate is per-focus."""
    select = (
        "SELECT $this ?n WHERE { "
        f"{{ SELECT $this (COUNT(?e) AS ?n) WHERE {{ "
        f"$this <{EX}email> ?e }} GROUP BY $this }} "
        "FILTER (?n > 1) }"
    )
    res = validate(
        spark, _emails(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:a", "2")}


def test_subquery_inner_vars_do_not_escape(spark):
    """?p is bound only inside the subquery; referencing it outside must
    raise (projection scoping)."""
    select = (
        "SELECT $this ?p WHERE { "
        f"$this <{EX}score> ?s . "
        f"{{ SELECT ?s WHERE {{ ?p <{EX}score> ?s }} GROUP BY ?s }} }}"
    )
    with pytest.raises(ValueError, match="not bound"):
        validate(
            spark,
            triples_from_rows(
                spark,
                [
                    ("urn:a", RDF_TYPE, iri(EX + "Person")),
                    ("urn:a", EX + "score", lit_typed("3", XSD_INTEGER)),
                ],
            ),
            _af_shapes(spark, select),
            advanced=True,
        )


def test_subquery_select_distinct_collapses_multiplicity(spark):
    """Without DISTINCT the inner multiset (9,9,3) multiplies the outer
    count to 3; DISTINCT collapses it to (9,3) -> count 2. A top-level
    SELECT DISTINCT also parses (reports dedupe anyway)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "score", lit_typed("9", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "score", lit_typed("9", XSD_INTEGER)),
            ("urn:c", RDF_TYPE, iri(EX + "Person")),
            ("urn:c", EX + "score", lit_typed("3", XSD_INTEGER)),
        ],
    )

    def q(distinct, n):
        return (
            "SELECT DISTINCT $this (COUNT(?s) AS ?n) WHERE { "
            f"$this <{EX}score> ?x . "
            f"{{ SELECT {distinct}?s WHERE {{ ?p <{EX}score> ?s }} }} }} "
            f"GROUP BY $this HAVING (?n = {n})"
        )

    res = validate(
        spark, data, _af_shapes(spark, q("DISTINCT ", 2)), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:a", "urn:b", "urn:c"}
    res = validate(
        spark, data, _af_shapes(spark, q("", 3)), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:a", "urn:b", "urn:c"}


def test_subquery_order_by_limit_topk(spark):
    """{ SELECT ?s ... ORDER BY DESC(?s) LIMIT 2 }: numeric-aware top-k
    of distinct scores, joined back on the shared variable."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "score", lit_typed("9", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "score", lit_typed("30", XSD_INTEGER)),
            ("urn:c", RDF_TYPE, iri(EX + "Person")),
            ("urn:c", EX + "score", lit_typed("4", XSD_INTEGER)),
        ],
    )
    # lexical ordering would rank "9" above "30"; numeric-aware must not
    select = (
        "SELECT $this ?s WHERE { "
        f"$this <{EX}score> ?s . "
        f"{{ SELECT DISTINCT ?s WHERE {{ ?p <{EX}score> ?s }} "
        "ORDER BY DESC(?s) LIMIT 2 } }"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:b", "30"),
        ("urn:a", "9"),
    }


def test_order_by_limit_errors(spark):
    data = _people(spark)
    for bad in (
        # LIMIT without ORDER BY
        f"SELECT $this ?a WHERE {{ $this <{EX}age> ?a }} LIMIT 1",
        # ORDER BY over an invisible variable
        f"SELECT $this ?a WHERE {{ $this <{EX}age> ?a }} ORDER BY ?nope LIMIT 1",
    ):
        with pytest.raises(ValueError):
            validate(spark, data, _af_shapes(spark, bad), advanced=True)


def test_sparql_target_aggregate(spark):
    """sh:SPARQLTarget with GROUP BY ?this HAVING — targets only the
    multi-email nodes, then the shape's minCount applies to them."""
    data = _emails(spark)
    shapes = triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "target", iri("urn:t1")),
            ("urn:t1", RDF_TYPE, iri(SH + "SPARQLTarget")),
            (
                "urn:t1",
                SH + "select",
                lit_typed(
                    "SELECT ?this WHERE { "
                    f"?this <{EX}email> ?e }} GROUP BY ?this "
                    "HAVING (COUNT(?e) > 1)"
                ),
            ),
            (EX + "S", SH + "property", iri(EX + "S/p")),
            (EX + "S/p", SH + "path", iri(EX + "phone")),
            (EX + "S/p", SH + "minCount", lit_typed("1", XSD_INTEGER)),
        ],
    )
    res = validate(spark, data, shapes, advanced=True).collect()
    assert {r.focusNode for r in res} == {"urn:a"}


# ---- round 4: $this pre-binding semantics for ORDER BY / LIMIT ----


def _scored(spark):
    return triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "score", lit_typed("9", XSD_INTEGER)),
            ("urn:a", EX + "score", lit_typed("30", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "score", lit_typed("4", XSD_INTEGER)),
            ("urn:b", EX + "score", lit_typed("7", XSD_INTEGER)),
            ("urn:c", RDF_TYPE, iri(EX + "Person")),
            ("urn:c", EX + "score", lit_typed("100", XSD_INTEGER)),
        ],
    )


def test_order_limit_is_per_focus_node(spark):
    """pySHACL evaluates sh:sparql once PER focus node with $this
    pre-bound, so ORDER BY DESC(?s) LIMIT 1 reports the top solution of
    EVERY focus node — a global limit would keep one focus node's row
    and silently drop every other focus node's violations."""
    select = (
        "SELECT $this ?s WHERE { "
        f"$this <{EX}score> ?s }} ORDER BY DESC(?s) LIMIT 1"
    )
    res = validate(
        spark, _scored(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "30"),
        ("urn:b", "7"),
        ("urn:c", "100"),
    }


def test_order_limit_per_focus_after_aggregation(spark):
    """GROUP BY $this ORDER BY DESC(?n) LIMIT 1: after the per-focus
    aggregation each focus has one row — per-focus LIMIT keeps them all
    (the ADVICE under-reporting scenario)."""
    select = (
        "SELECT $this (COUNT(?s) AS ?n) WHERE { "
        f"$this <{EX}score> ?s }} GROUP BY $this "
        "ORDER BY DESC(?n) LIMIT 1"
    )
    res = validate(
        spark, _scored(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "2"),
        ("urn:b", "2"),
        ("urn:c", "1"),
    }


def test_subquery_limit_per_focus_when_this_bound(spark):
    """A $this-mentioning subquery with ORDER BY/LIMIT is a per-focus
    top-k (seeded per focus, limited per focus), not one global cut."""
    select = (
        "SELECT $this ?s WHERE { "
        f"$this a <{EX}Person> . "
        f"{{ SELECT ?s WHERE {{ $this <{EX}score> ?s }} "
        "ORDER BY DESC(?s) LIMIT 1 } }"
    )
    res = validate(
        spark, _scored(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "30"),
        ("urn:b", "7"),
        ("urn:c", "100"),
    }


def test_subquery_limit_stays_global_without_this(spark):
    """A focus-free subquery evaluates bottom-up ONCE over the graph —
    its LIMIT is a global top-k shared by all focus nodes (standard
    SPARQL 1.1 bottom-up subquery semantics, unchanged by pre-binding)."""
    select = (
        "SELECT $this ?s WHERE { "
        f"$this <{EX}score> ?s . "
        f"{{ SELECT DISTINCT ?s WHERE {{ ?p <{EX}score> ?s }} "
        "ORDER BY DESC(?s) LIMIT 2 } }"
    )
    res = validate(
        spark, _scored(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    # global top-2 distinct scores are 100 and 30
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:c", "100"),
        ("urn:a", "30"),
    }


def test_property_ask_validator_value_in_pattern(spark):
    """ASK propertyValidator whose body uses $value in a TRIPLE PATTERN
    (not just a FILTER): each value node must carry the status required
    by the component parameter. Regression: the collection-time parse in
    validate() must apply the same $value->?value substitution as the
    evaluator, or this supported body raises at compile time."""
    shapes = triples_from_rows(
        spark,
        [
            ("urn:comp2", RDF_TYPE, iri(SH + "ConstraintComponent")),
            ("urn:comp2", SH + "parameter", iri("urn:comp2/p1")),
            ("urn:comp2/p1", SH + "path", iri(EX + "requireStatus")),
            ("urn:comp2", SH + "propertyValidator", iri("urn:comp2/v")),
            (
                "urn:comp2/v",
                SH + "ask",
                lit_typed(
                    f"ASK {{ $value <{EX}status> ?s . "
                    "FILTER (?s = $requireStatus) }"
                ),
            ),
            ("urn:comp2/v", SH + "message", lit_typed("inactive dept")),
            (EX + "NS2", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "NS2", SH + "targetClass", iri(EX + "Person")),
            (EX + "NS2", SH + "property", iri(EX + "NS2/p")),
            (EX + "NS2/p", SH + "path", iri(EX + "dept")),
            (EX + "NS2/p", EX + "requireStatus", lit_typed("active")),
        ],
    )
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "dept", iri("urn:d1")),
            ("urn:d1", EX + "status", lit_typed("active")),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "dept", iri("urn:d2")),
            ("urn:d2", EX + "status", lit_typed("closed")),
        ],
    )
    res = validate(spark, data, shapes, advanced=True).collect()
    assert {(r.focusNode, r.value, r.resultPath) for r in res} == {
        ("urn:b", "urn:d2", EX + "dept"),
    }
    assert res[0].resultMessage == "inactive dept"


# ---- round 4: GROUP_CONCAT / SAMPLE aggregates, STRDT/STRLANG/IRI ----


def test_group_concat_aggregate(spark):
    """GROUP_CONCAT with a custom separator — values sorted before the
    join (deterministic under Spark's partition-order collect_list)."""
    select = (
        'SELECT $this (GROUP_CONCAT(?e; SEPARATOR=", ") AS ?all) WHERE { '
        f"$this <{EX}email> ?e }} GROUP BY $this "
        'HAVING (CONTAINS(?all, "@x"))'
    )
    res = validate(
        spark, _emails(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "a1@x, a2@x"),
        ("urn:b", "b@x"),
    }


def test_group_concat_distinct_default_separator(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "tag", lit_typed("x")),
            ("urn:a", EX + "tag2", lit_typed("x")),
            ("urn:a", EX + "tag2", lit_typed("y")),
        ],
    )
    # DISTINCT collapses the duplicate 'x' arriving via both patterns;
    # default separator is a single space
    select = (
        "SELECT $this (GROUP_CONCAT(DISTINCT ?t) AS ?ts) WHERE { "
        f"{{ $this <{EX}tag> ?t }} UNION {{ $this <{EX}tag2> ?t }} }} "
        "GROUP BY $this"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:a", "x y")}


def test_sample_aggregate_deterministic(spark):
    """SAMPLE picks the smallest term tuple — deterministic, and the
    picked term keeps its own kind/datatype (unlike SUM/AVG)."""
    select = (
        "SELECT $this (SAMPLE(?e) AS ?one) WHERE { "
        f"$this <{EX}email> ?e }} GROUP BY $this"
    )
    res = validate(
        spark, _emails(spark), _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "a1@x"),
        ("urn:b", "b@x"),
    }


def test_strdt_strlang_constructors(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "code", lit_typed("42")),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "code", lit_typed("7")),
        ],
    )
    # STRDT builds a typed literal whose datatype() is inspectable;
    # STRLANG builds a lang-tagged literal usable with langMatches
    select = (
        "SELECT $this ?v WHERE { "
        f"$this <{EX}code> ?c . "
        f'BIND (STRDT(?c, <{XSD}integer>) AS ?v) . '
        f'FILTER (datatype(?v) = <{XSD}integer> && ?v >= 10) }}'
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:a", "42")}
    select2 = (
        "SELECT $this ?w WHERE { "
        f"$this <{EX}code> ?c . "
        'BIND (STRLANG(?c, "EN") AS ?w) . '
        'FILTER (langMatches(lang(?w), "en")) }'
    )
    res2 = validate(
        spark, data, _af_shapes(spark, select2), advanced=True
    ).collect()
    assert {r.focusNode for r in res2} == {"urn:a", "urn:b"}


def test_iri_constructor(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "slug", lit_typed("alpha")),
        ],
    )
    select = (
        "SELECT $this ?u WHERE { "
        f"$this <{EX}slug> ?s . "
        f'BIND (IRI(CONCAT("{EX}page/", ?s)) AS ?u) . '
        "FILTER (isIRI(?u)) }"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", EX + "page/alpha")
    }


# ---- round 4: sh:sparql CATALOG scaling (VERDICT r3 next-round #8) ----


def _catalog_fixture(spark, n_constraints: int):
    """One shape carrying n sh:sparql SELECT constraints over n distinct
    predicates; persons carry every predicate, and constraint i fires for
    persons whose p{i} value exceeds a threshold that admits exactly one
    of the two targets."""
    shape_rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "Person")),
    ]
    for i in range(n_constraints):
        cid = f"urn:af:cat{i}"
        sel = (
            f"SELECT $this ?v WHERE {{ $this <{EX}p{i}> ?v . "
            "FILTER (?v > 5) }"
        )
        shape_rows += [
            (EX + "S", SH + "sparql", iri(cid)),
            (cid, SH + "select", lit_typed(sel)),
            (cid, SH + "message", lit_typed(f"cat{i}")),
        ]
    data_rows = [
        ("urn:hi", RDF_TYPE, iri(EX + "Person")),
        ("urn:lo", RDF_TYPE, iri(EX + "Person")),
    ]
    for i in range(n_constraints):
        data_rows.append(("urn:hi", EX + f"p{i}", lit_typed("9", XSD_INTEGER)))
        data_rows.append(("urn:lo", EX + f"p{i}", lit_typed("1", XSD_INTEGER)))
    return (
        triples_from_rows(spark, data_rows),
        triples_from_rows(spark, shape_rows),
    )


def test_sparql_catalog_100_constraints_bounded(spark):
    """A catalog of 100 sh:sparql constraints validates correctly and in
    time LINEAR in the catalog size (chunked lineage-truncated unions +
    ONE batched dropDuplicates across all SELECT-constraint frames — not
    one shuffle per constraint). Guards the analyzer-blowup failure mode:
    quadratic growth would put the 100-constraint run far above the
    linear extrapolation from the 20-constraint run."""
    import time as _time

    def run(n: int) -> float:
        data, shapes = _catalog_fixture(spark, n)
        t0 = _time.time()
        res = validate(spark, data, shapes, advanced=True).collect()
        dt = _time.time() - t0
        assert len(res) == n, (n, len(res))
        assert {r.focusNode for r in res} == {"urn:hi"}
        assert {r.resultMessage for r in res} == {f"cat{i}" for i in range(n)}
        return dt

    run(5)  # warm caches (Catalyst rule JIT, python-side parse paths)
    t20 = run(20)
    t100 = run(100)
    # linear extrapolation = 5x; quadratic would be ~25x. Allow generous
    # noise headroom on the shared host: 3x the linear bound + 20s fixed.
    assert t100 < 15 * t20 + 20, (t20, t100)


# ---- round 4: GRAPH keyword, subquery-in-UNION, generator builtins ----


def _two_graph_data(spark):
    """Person types in g1; ex:v values split across named graphs g1/g2
    (same subject, different graphs) — the GRAPH fixtures. Outside GRAPH
    the engine matches the union of all graphs (pySHACL validates one
    merged data graph); GRAPH restricts to one graph per solution."""
    g1 = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "v", lit_typed("in-g1")),
            ("urn:a", EX + "w", lit_typed("w-g1")),
        ],
        graph="urn:graph:g1",
    )
    g2 = triples_from_rows(
        spark,
        [
            ("urn:a", EX + "v", lit_typed("in-g2")),
            ("urn:b", EX + "v", lit_typed("b-g2")),
            ("urn:b", EX + "w", lit_typed("w-g2")),
        ],
        graph="urn:graph:g2",
    )
    return g1.unionByName(g2)


def test_graph_iri_scopes_sub_group(spark):
    """GRAPH <iri> { … }: the sub-group sees only that graph's slice."""
    select = (
        "SELECT $this ?v WHERE { "
        "GRAPH <urn:graph:g2> { " + f"$this <{EX}v> ?v " + "} }"
    )
    res = validate(
        spark, _two_graph_data(spark), _af_shapes(spark, select),
        advanced=True,
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "in-g2"),
        ("urn:b", "b-g2"),
    }


def test_graph_var_binds_and_colocates(spark):
    """GRAPH ?g { … }: ?g binds to the containing graph IRI and ALL the
    block's patterns co-locate in that one graph per solution — urn:a has
    ex:v and ex:w together only in g1, urn:b only in g2."""
    select = (
        "SELECT $this ?g WHERE { "
        f"GRAPH ?g {{ $this <{EX}v> ?v . $this <{EX}w> ?w }} }}"
    )
    res = validate(
        spark, _two_graph_data(spark), _af_shapes(spark, select),
        advanced=True,
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "urn:graph:g1"),
        ("urn:b", "urn:graph:g2"),
    }


def test_graph_var_filter_and_bound_reuse(spark):
    """A FILTER inside GRAPH ?g sees the graph variable; a second GRAPH
    block reusing an already-bound ?g joins on it."""
    select = (
        "SELECT $this ?g WHERE { "
        f"GRAPH ?g {{ $this <{EX}v> ?v . "
        'FILTER (STRENDS(str(?g), "g2")) } }'
    )
    res = validate(
        spark, _two_graph_data(spark), _af_shapes(spark, select),
        advanced=True,
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "urn:graph:g2"),
        ("urn:b", "urn:graph:g2"),
    }


def test_graph_var_rejects_nested_structure(spark):
    select = (
        "SELECT $this WHERE { GRAPH ?g { "
        f"OPTIONAL {{ $this <{EX}v> ?v }} }} }}"
    )
    with pytest.raises(ValueError, match="GRAPH .var"):
        validate(
            spark, _two_graph_data(spark), _af_shapes(spark, select),
            advanced=True,
        ).collect()


def test_subquery_as_union_branch(spark):
    """{ SELECT … } UNION { … }: the subquery evaluates as one branch
    from the same binding set (round-4 grammar extension — previously a
    documented ValueError)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "age", lit_typed("10", XSD_INTEGER)),
            ("urn:a", EX + "age", lit_typed("30", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "flag", lit_typed("bad")),
        ],
    )
    select = (
        "SELECT $this WHERE { "
        "{ SELECT $this (COUNT(?a) AS ?n) WHERE { "
        f"$this <{EX}age> ?a }} GROUP BY $this HAVING (?n > 1) }} "
        f'UNION {{ $this <{EX}flag> ?f . FILTER (?f = "bad") }} }}'
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {r.focusNode for r in res} == {"urn:a", "urn:b"}


def test_now_uuid_struuid_bnode_generators(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "v", lit_typed("x")),
        ],
    )
    select = (
        "SELECT $this ?u WHERE { "
        f"$this <{EX}v> ?v . "
        "BIND (UUID() AS ?u) . BIND (STRUUID() AS ?s) . "
        "BIND (NOW() AS ?t) . BIND (BNODE() AS ?bn) . "
        'FILTER (isIRI(?u) && STRSTARTS(str(?u), "urn:uuid:")) . '
        'FILTER (isLiteral(?s) && regex(?s, "^[0-9a-f-]{36}$")) . '
        f"FILTER (datatype(?t) = <{XSD}dateTime> && "
        '  regex(str(?t), "^[0-9]{4}-[0-9]{2}-[0-9]{2}T")) . '
        "FILTER (isBlank(?bn)) }"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert len(res) == 1 and res[0].focusNode == "urn:a"
    # UUID is an IRI, so its 36-hex-digit tail follows the urn:uuid: scheme
    assert res[0].value.startswith("urn:uuid:")


def test_timezone_and_tz_accessors(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "d",
             lit_typed("2024-01-10T14:45:13-05:00", XSD + "dateTime")),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "d",
             lit_typed("2024-06-01T08:00:00Z", XSD + "dateTime")),
            ("urn:c", RDF_TYPE, iri(EX + "Person")),
            ("urn:c", EX + "d",
             lit_typed("2024-06-01T08:00:00", XSD + "dateTime")),
        ],
    )
    select = (
        "SELECT $this ?z WHERE { "
        f"$this <{EX}d> ?d . BIND (TZ(?d) AS ?z) }}"
    )
    res = validate(
        spark, data, _af_shapes(spark, select), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res} == {
        ("urn:a", "-05:00"), ("urn:b", "Z"), ("urn:c", ""),
    }
    # TIMEZONE: xsd:dayTimeDuration; zone-less dateTime is a TYPE ERROR —
    # the BIND leaves ?tz unbound, and the FILTER drops that solution
    select2 = (
        "SELECT $this ?tz WHERE { "
        f"$this <{EX}d> ?d . BIND (TIMEZONE(?d) AS ?tz) . "
        "FILTER (bound(?tz)) }"
    )
    res2 = validate(
        spark, data, _af_shapes(spark, select2), advanced=True
    ).collect()
    assert {(r.focusNode, r.value) for r in res2} == {
        ("urn:a", "-PT5H"), ("urn:b", "PT0S"),
    }


# -------------------------------------------- SPARQL functions (SHACL-AF §7)
def _fn_rows(fn_iri, select, params):
    """(rows) declaring fn_iri as an sh:SPARQLFunction with ordered
    params [(path_iri, order), …] and the given select body."""
    rows = [(fn_iri, RDF_TYPE, iri(SH + "SPARQLFunction")),
            (fn_iri, SH + "select", lit_typed(select))]
    for i, (path, order) in enumerate(params):
        pnode = f"{fn_iri}#p{i}"
        rows += [
            (fn_iri, SH + "parameter", iri(pnode)),
            (pnode, SH + "path", iri(path)),
            (pnode, SH + "order", lit_typed(str(order), XSD_INTEGER)),
        ]
    return rows


def test_sparql_function_call_in_filter(spark):
    """A declared pure-expression function expands textually into the
    calling constraint's FILTER: square(age) > 400 flags only bob (42)."""
    sel = (
        f"SELECT $this ?age WHERE {{ $this <{EX}age> ?age . "
        f"FILTER (<{EX}square>(?age) > 400) }}"
    )
    shapes = triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "Person")),
            (EX + "S", SH + "sparql", iri("urn:af:cf")),
            ("urn:af:cf", SH + "select", lit_typed(sel)),
            *_fn_rows(
                EX + "square",
                "SELECT (?op * ?op AS ?result) WHERE {}",
                [(EX + "op", 0)],
            ),
        ],
    )
    res = validate(spark, _people(spark), shapes, advanced=True).collect()
    assert {r.focusNode for r in res} == {"urn:bob"}


def test_sparql_function_multi_param_order_and_nesting(spark):
    """sh:order fixes the parameter positions; functions may call other
    functions (bounded expansion)."""
    sel = (
        f"SELECT $this ?age WHERE {{ $this <{EX}age> ?age . "
        f"FILTER (<{EX}minus>(?age, 3) > <{EX}square>(6)) }}"
    )
    # minus(x, y) = x - y (NON-commutative, so a wrong parameter order
    # flips every verdict) — declared in reverse, sh:order restores (x, y)
    shapes = triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "Person")),
            (EX + "S", SH + "sparql", iri("urn:af:cf2")),
            ("urn:af:cf2", SH + "select", lit_typed(sel)),
            *_fn_rows(
                EX + "minus",
                "SELECT (?x - ?y AS ?out) WHERE {}",
                [(EX + "y", 1), (EX + "x", 0)],
            ),
            *_fn_rows(
                EX + "square",
                "SELECT (?op * ?op AS ?result) WHERE {}",
                [(EX + "op", 0)],
            ),
        ],
    )
    # ages: alice 17-3=14 < 36; bob 42-3=39 > 36; carol has no age.
    # (Swapped parameters would give 3-age, negative — nobody flagged.)
    res = validate(spark, _people(spark), shapes, advanced=True).collect()
    assert {r.focusNode for r in res} == {"urn:bob"}


def test_sparql_function_pattern_body_raises(spark):
    """Function bodies with graph patterns are outside the subset."""
    sel = (
        f"SELECT $this WHERE {{ $this <{EX}age> ?age . "
        f"FILTER (<{EX}bad>(?age) > 1) }}"
    )
    shapes = triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "Person")),
            (EX + "S", SH + "sparql", iri("urn:af:cf3")),
            ("urn:af:cf3", SH + "select", lit_typed(sel)),
            *_fn_rows(
                EX + "bad",
                f"SELECT (?v AS ?out) WHERE {{ ?s <{EX}v> ?v }}",
                [(EX + "v", 0)],
            ),
        ],
    )
    with pytest.raises(ValueError, match="pure-expression"):
        validate(spark, _people(spark), shapes, advanced=True)


def test_sparql_function_wrong_arity_raises(spark):
    sel = (
        f"SELECT $this WHERE {{ $this <{EX}age> ?age . "
        f"FILTER (<{EX}square>(?age, 2) > 1) }}"
    )
    shapes = triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "Person")),
            (EX + "S", SH + "sparql", iri("urn:af:cf4")),
            ("urn:af:cf4", SH + "select", lit_typed(sel)),
            *_fn_rows(
                EX + "square",
                "SELECT (?op * ?op AS ?result) WHERE {}",
                [(EX + "op", 0)],
            ),
        ],
    )
    with pytest.raises(ValueError, match="expects 1 arguments"):
        validate(spark, _people(spark), shapes, advanced=True)


def test_sparql_target_uses_declared_function(spark):
    """SHACL-AF §7 functions expand inside sh:SPARQLTarget selects too:
    the target picks people whose squared age exceeds 1000, then the
    shape's minCount on ex:email applies to them."""
    from cmem_plugin_pyshacl_spark.data_model import XSD_INTEGER

    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "Person")),
            ("urn:a", EX + "age", lit_typed("40", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "Person")),
            ("urn:b", EX + "age", lit_typed("10", XSD_INTEGER)),
        ],
    )
    sel = (
        f"SELECT ?this WHERE {{ ?this <{EX}age> ?a . "
        f"FILTER (<{EX}sq>(?a) > 1000) }}"
    )
    shapes = triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "target", iri("urn:t1")),
            ("urn:t1", RDF_TYPE, iri(SH + "SPARQLTarget")),
            ("urn:t1", SH + "select", lit_typed(sel)),
            (EX + "S", SH + "property", iri(EX + "S-p")),
            (EX + "S-p", SH + "path", iri(EX + "email")),
            (EX + "S-p", SH + "minCount",
             lit_typed("1", "http://www.w3.org/2001/XMLSchema#integer")),
            (EX + "sq", RDF_TYPE, iri(SH + "SPARQLFunction")),
            (EX + "sq", SH + "select",
             lit_typed("SELECT (?v * ?v AS ?r) WHERE {}")),
            (EX + "sq", SH + "parameter", iri("urn:sqp")),
            ("urn:sqp", SH + "path", iri(EX + "v")),
        ],
    )
    # only urn:a (40*40=1600 > 1000) targeted; it lacks ex:email -> 1 hit
    res = validate(spark, data, shapes, advanced=True).collect()
    assert [r.focusNode for r in res] == ["urn:a"]

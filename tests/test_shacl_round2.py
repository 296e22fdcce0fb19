"""Round-2 SHACL semantics: BCP-47 languageIn ranges, alternativePath
set-semantics, temporal value ranges, RDF term identity for sh:in /
sh:hasValue, rdf:langString datatypes, sh:zeroOrMore/oneOrMore/zeroOrOne
paths, literal values under shape-ref constraints, meta-SHACL structural
checks, and the large-catalog plan guard."""

from __future__ import annotations

import pytest

from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    RDF_TYPE,
    SH,
    XSD_DATE,
    XSD_INTEGER,
    XSD_STRING,
    iri,
    lit_typed,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.plans.shacl import validate

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_LANGSTRING = RDF_NS + "langString"


def _shape_rows(extra, path=EX + "p"):
    return [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
        (EX + "S", SH + "property", iri(EX + "S-p")),
        (EX + "S-p", SH + "path", iri(path)),
    ] + extra


def _rdf_list(prefix, items):
    rows = []
    for i, item in enumerate(items):
        node = f"urn:{prefix}:{i}"
        nxt = f"urn:{prefix}:{i + 1}" if i + 1 < len(items) else RDF_NS + "nil"
        rows.append((node, RDF_NS + "first", item))
        rows.append((node, RDF_NS + "rest", iri(nxt)))
    return rows


def test_language_in_range_semantics(spark):
    """languageIn ('en-GB') accepts en-GB and en-GB-oed ONLY — not en-US,
    not bare en (RFC 4647 basic filtering; round-1 ADVICE finding)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", ("colour", "literal", None, "en-GB")),
            ("urn:a", EX + "p", ("colour2", "literal", None, "en-GB-oed")),
            ("urn:a", EX + "p", ("color", "literal", None, "en-US")),
            ("urn:a", EX + "p", ("colr", "literal", None, "en")),
        ],
    )
    extra = [(EX + "S-p", SH + "languageIn", iri("urn:li:0"))]
    extra += _rdf_list("li", [("en-GB", "literal", None, None)])
    res = validate(spark, data, triples_from_rows(spark, _shape_rows(extra)))
    assert {r.value for r in res.collect()} == {"color", "colr"}


def test_alternative_path_no_double_count(spark):
    """A value node reachable via two alternatives counts ONCE for
    maxCount (round-1 ADVICE finding)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "name", ("Alice", "literal", XSD_STRING, None)),
            ("urn:a", EX + "prefLabel", ("Alice", "literal", XSD_STRING, None)),
        ],
    )
    alt = iri("urn:alt")
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
        (EX + "S", SH + "property", iri(EX + "S-p")),
        (EX + "S-p", SH + "path", iri("urn:altnode")),
        ("urn:altnode", SH + "alternativePath", iri("urn:ap:0")),
        (EX + "S-p", SH + "maxCount", lit_typed("1", XSD_INTEGER)),
    ]
    rows += _rdf_list("ap", [iri(EX + "name"), iri(EX + "prefLabel")])
    res = validate(spark, data, triples_from_rows(spark, rows))
    assert res.count() == 0  # identical term via both paths -> one value


def test_value_range_dates(spark):
    """xsd:date bounds compare temporally (round-1 ADVICE finding)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", lit_typed("2021-06-01", XSD_DATE)),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", lit_typed("2019-01-15", XSD_DATE)),
            ("urn:c", RDF_TYPE, iri(EX + "T")),
            ("urn:c", EX + "p", ("not-a-date", "literal", XSD_STRING, None)),
        ],
    )
    extra = [(EX + "S-p", SH + "minInclusive", lit_typed("2020-01-01", XSD_DATE))]
    res = validate(spark, data, triples_from_rows(spark, _shape_rows(extra)))
    assert {r.focusNode for r in res.collect()} == {"urn:b", "urn:c"}


def test_in_term_identity(spark):
    """sh:in compares RDF terms: plain ≡ xsd:string, but a datatyped
    integer or a lang-tagged literal is NOT the plain string."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", ("A", "literal", XSD_STRING, None)),  # in (≡ plain)
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", ("1", "literal", XSD_INTEGER, None)),  # int ≠ string
            ("urn:c", RDF_TYPE, iri(EX + "T")),
            ("urn:c", EX + "p", ("A", "literal", None, "en")),  # lang ≠ plain
        ],
    )
    extra = [(EX + "S-p", SH + "in", iri("urn:in:0"))]
    extra += _rdf_list(
        "in",
        [("A", "literal", None, None), ("1", "literal", None, None)],
    )
    res = validate(spark, data, triples_from_rows(spark, _shape_rows(extra)))
    assert {r.focusNode for r in res.collect()} == {"urn:b", "urn:c"}


def test_has_value_term_identity(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", lit_typed("5", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", ("5", "literal", XSD_STRING, None)),
        ],
    )
    extra = [(EX + "S-p", SH + "hasValue", lit_typed("5", XSD_INTEGER))]
    res = validate(spark, data, triples_from_rows(spark, _shape_rows(extra)))
    assert {r.focusNode for r in res.collect()} == {"urn:b"}


def test_datatype_langstring(spark):
    """xsd:string rejects lang-tagged literals; rdf:langString requires
    them (RDF 1.1 effective datatypes)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", ("plain", "literal", None, None)),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", ("tagged", "literal", None, "en")),
        ],
    )
    extra_s = [(EX + "S-p", SH + "datatype", iri(XSD_STRING))]
    res = validate(spark, data, triples_from_rows(spark, _shape_rows(extra_s)))
    assert {r.focusNode for r in res.collect()} == {"urn:b"}

    extra_l = [(EX + "S-p", SH + "datatype", iri(RDF_LANGSTRING))]
    res = validate(spark, data, triples_from_rows(spark, _shape_rows(extra_l)))
    assert {r.focusNode for r in res.collect()} == {"urn:a"}


# ------------------------------------------------------------- path closures
def _chain_data(spark):
    return triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:c", RDF_TYPE, iri(EX + "T")),
            ("urn:d", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "next", iri("urn:b")),
            ("urn:b", EX + "next", iri("urn:c")),
        ],
    )


def _closure_shape(spark, kind, extra):
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
        (EX + "S", SH + "property", iri(EX + "S-p")),
        (EX + "S-p", SH + "path", iri("urn:pathnode")),
        ("urn:pathnode", SH + kind, iri(EX + "next")),
    ] + extra
    return triples_from_rows(spark, rows)


def test_one_or_more_path(spark):
    """hasValue urn:c over next+ — a,b reach c; c,d have no next values."""
    shapes = _closure_shape(
        spark, "oneOrMorePath", [(EX + "S-p", SH + "hasValue", iri("urn:c"))]
    )
    res = validate(spark, _chain_data(spark), shapes)
    assert {r.focusNode for r in res.collect()} == {"urn:c", "urn:d"}


def test_zero_or_more_path(spark):
    """next* includes the focus itself, so c now reaches c."""
    shapes = _closure_shape(
        spark, "zeroOrMorePath", [(EX + "S-p", SH + "hasValue", iri("urn:c"))]
    )
    res = validate(spark, _chain_data(spark), shapes)
    assert {r.focusNode for r in res.collect()} == {"urn:d"}


def test_zero_or_one_path(spark):
    """next? = self + direct successor: a,b have 2 values; c,d have 1."""
    shapes = _closure_shape(
        spark, "zeroOrOnePath",
        [(EX + "S-p", SH + "minCount", lit_typed("2", XSD_INTEGER))],
    )
    res = validate(spark, _chain_data(spark), shapes)
    assert {r.focusNode for r in res.collect()} == {"urn:c", "urn:d"}


def test_one_or_more_cycle_terminates(spark):
    data = triples_from_rows(
        spark,
        [
            ("urn:x", RDF_TYPE, iri(EX + "T")),
            ("urn:x", EX + "next", iri("urn:y")),
            ("urn:y", EX + "next", iri("urn:x")),
        ],
    )
    shapes = _closure_shape(
        spark, "oneOrMorePath",
        [(EX + "S-p", SH + "minCount", lit_typed("2", XSD_INTEGER))],
    )
    res = validate(spark, data, shapes)
    # x reaches {y, x}, y reaches {x, y}: both satisfy minCount 2
    assert res.count() == 0


# ----------------------------------------------- literals under shape refs
def test_or_over_datatype_subshapes(spark):
    """The canonical SHACL idiom: sh:or (string-shape langString-shape)
    must REJECT an integer literal (round-1 ADVICE: literal values were
    silently conforming)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", ("ok", "literal", XSD_STRING, None)),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", ("also ok", "literal", None, "en")),
            ("urn:c", RDF_TYPE, iri(EX + "T")),
            ("urn:c", EX + "p", lit_typed("7", XSD_INTEGER)),
        ],
    )
    rows = _shape_rows([(EX + "S-p", SH + "or", iri("urn:or:0"))])
    rows += _rdf_list("or", [iri(EX + "StrShape"), iri(EX + "LangShape")])
    rows += [
        (EX + "StrShape", SH + "datatype", iri(XSD_STRING)),
        (EX + "LangShape", SH + "datatype", iri(RDF_LANGSTRING)),
    ]
    res = validate(spark, data, triples_from_rows(spark, rows))
    assert {r.focusNode for r in res.collect()} == {"urn:c"}


def test_node_ref_literal_values(spark):
    """sh:node over literal values: min-length sub-shape applies."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", ("long enough", "literal", XSD_STRING, None)),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", ("x", "literal", XSD_STRING, None)),
        ],
    )
    rows = _shape_rows([(EX + "S-p", SH + "node", iri(EX + "LenShape"))])
    rows += [(EX + "LenShape", SH + "minLength", lit_typed("3", XSD_INTEGER))]
    res = validate(spark, data, triples_from_rows(spark, rows))
    assert {r.focusNode for r in res.collect()} == {"urn:b"}


def test_not_ref_literal_values(spark):
    """sh:not over a datatype sub-shape: conforming literals violate."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", lit_typed("9", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", ("word", "literal", XSD_STRING, None)),
        ],
    )
    rows = _shape_rows([(EX + "S-p", SH + "not", iri(EX + "IntShape"))])
    rows += [(EX + "IntShape", SH + "datatype", iri(XSD_INTEGER))]
    res = validate(spark, data, triples_from_rows(spark, rows))
    assert {r.focusNode for r in res.collect()} == {"urn:a"}


# ---------------------------------------------------------------- meta-SHACL
def test_meta_shacl_missing_path(spark):
    data = triples_from_rows(spark, [("urn:a", RDF_TYPE, iri(EX + "T"))])
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
        (EX + "S", SH + "property", iri(EX + "S-p")),
        # no sh:path on the property shape
        (EX + "S-p", SH + "minCount", lit_typed("1", XSD_INTEGER)),
    ]
    with pytest.raises(ValueError, match="no sh:path"):
        validate(spark, data, triples_from_rows(spark, rows), meta_shacl=True)


def test_meta_shacl_bad_mincount_lexical(spark):
    data = triples_from_rows(spark, [("urn:a", RDF_TYPE, iri(EX + "T"))])
    rows = _shape_rows([])
    rows[-1:] = rows[-1:]  # keep path row
    bad = rows + [(EX + "S-p", SH + "maxLength", ("many", "literal", None, None))]
    with pytest.raises(ValueError, match="not an integer"):
        validate(spark, data, triples_from_rows(spark, bad), meta_shacl=True)


# ------------------------------------------------------- big-catalog guard
def test_large_catalog_bounded_plan(spark):
    """200 property shapes evaluate without plan-size blowup (chunked
    lineage-truncating union) and produce per-constraint results."""
    data_rows = [("urn:a", RDF_TYPE, iri(EX + "T"))]
    # a has p0..p9 present only
    for i in range(10):
        data_rows.append(("urn:a", EX + f"p{i}", ("v", "literal", XSD_STRING, None)))
    shape_rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
    ]
    for i in range(200):
        pid = f"{EX}S-p{i}"
        shape_rows += [
            (EX + "S", SH + "property", iri(pid)),
            (pid, SH + "path", iri(EX + f"p{i}")),
            (pid, SH + "minCount", lit_typed("1", XSD_INTEGER)),
        ]
    res = validate(
        spark,
        triples_from_rows(spark, data_rows),
        triples_from_rows(spark, shape_rows),
    )
    # p10..p199 are missing -> 190 MinCount violations
    assert res.count() == 190


def test_value_plans_do_not_grow_with_the_catalog(spark):
    """One constraint-table plan evaluates every value-local component:
    a shape yields as many result frames for 200 constraints as for one
    (per component mix), not one plan per constraint."""
    from cmem_plugin_pyshacl_spark.plans.shacl import _evaluate_shape, compile_shapes

    data = triples_from_rows(
        spark,
        [("urn:a", RDF_TYPE, iri(EX + "T")),
         ("urn:a", EX + "p0", ("v", "literal", XSD_STRING, None))],
    )
    focus = spark.createDataFrame([("urn:a", 0)], "focus string, part_id int")

    def frames(n, mix):
        rows = [(EX + "S", RDF_TYPE, iri(SH + "NodeShape"))]
        for i in range(n):
            pid = f"{EX}S-c{i}"
            rows += [(EX + "S", SH + "property", iri(pid)),
                     (pid, SH + "path", iri(EX + f"p{i % 10}")),
                     (pid, SH + mix[i % len(mix)], lit_typed("1", XSD_INTEGER))]
        (shape,) = compile_shapes(triples_from_rows(spark, rows)).shapes
        return len(_evaluate_shape(spark, data, focus, shape, {}, {EX + "S": shape}, 15, 0))

    counts_only = ["minCount"]
    assert frames(1, counts_only) == frames(15, counts_only) == frames(200, counts_only)
    mixed = ["minCount", "maxLength", "minLength"]
    assert frames(3, mixed) == frames(15, mixed) == frames(200, mixed)


def test_one_shape_mixes_path_kinds(spark):
    """sh:minCount + sh:datatype on ex:p AND on [sh:inversePath ex:p], plus
    a node-shape sh:in, in one shape: each result keeps its own
    resultPath and sourceShape — the inverse values never mix with the
    forward ones even though both paths name ex:p."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:c", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", lit_typed("5", XSD_INTEGER)),
            ("urn:x", EX + "p", iri("urn:a")),  # urn:a's one inverse value
            ("urn:b", EX + "p", ("x", "literal", XSD_STRING, None)),
        ],
    )
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
        (EX + "S", SH + "in", iri("urn:l:0")),
        (EX + "S", SH + "property", iri(EX + "S-fwd")),
        (EX + "S-fwd", SH + "path", iri(EX + "p")),
        (EX + "S", SH + "property", iri(EX + "S-inv")),
        (EX + "S-inv", SH + "path", iri("urn:inv")),
        ("urn:inv", SH + "inversePath", iri(EX + "p")),
    ] + _rdf_list("l", [iri("urn:a")])
    for pid in ("S-fwd", "S-inv"):
        rows += [(EX + pid, SH + "minCount", lit_typed("1", XSD_INTEGER)),
                 (EX + pid, SH + "datatype", iri(XSD_INTEGER))]
    got = sorted(
        (r.focusNode, r.resultPath or "", r.value or "", r.sourceShape,
         r.sourceConstraintComponent.split("#")[1])
        for r in validate(spark, data, triples_from_rows(spark, rows)).collect()
    )
    p = EX + "p"
    assert got == sorted([
        ("urn:a", p, "urn:x", EX + "S-inv", "DatatypeConstraintComponent"),
        ("urn:b", p, "x", EX + "S-fwd", "DatatypeConstraintComponent"),
        ("urn:b", p, "", EX + "S-inv", "MinCountConstraintComponent"),
        ("urn:b", "", "urn:b", EX + "S", "InConstraintComponent"),
        ("urn:c", p, "", EX + "S-fwd", "MinCountConstraintComponent"),
        ("urn:c", p, "", EX + "S-inv", "MinCountConstraintComponent"),
        ("urn:c", "", "urn:c", EX + "S", "InConstraintComponent"),
    ])


def test_sequence_path_does_not_hop_through_a_literal(spark):
    """A literal has no outgoing edges (W3C SHACL §2.3.1.2): the sequence
    (ex:p1 ex:p2) from urn:a stops at the literal "urn:x", even though
    its text equals the subject IRI urn:x, so urn:a has no value and
    fails sh:minCount 1. urn:b reaches "v" through the IRI urn:y."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", EX + "p1", lit_typed("urn:x", XSD_STRING)),
            ("urn:x", EX + "p2", lit_typed("v", XSD_STRING)),
            ("urn:b", EX + "p1", iri("urn:y")),
            ("urn:y", EX + "p2", lit_typed("v", XSD_STRING)),
        ],
    )
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetNode", iri("urn:a")),
        (EX + "S", SH + "targetNode", iri("urn:b")),
        (EX + "S", SH + "property", iri(EX + "S-p")),
        (EX + "S-p", SH + "path", iri("urn:seq:0")),
        (EX + "S-p", SH + "minCount", lit_typed("1", XSD_INTEGER)),
    ] + _rdf_list("seq", [iri(EX + "p1"), iri(EX + "p2")])
    got = {
        (r.focusNode, r.resultPath, r.sourceConstraintComponent.split("#")[1])
        for r in validate(spark, data, triples_from_rows(spark, rows)).collect()
    }
    assert got == {("urn:a", f"{EX}p1/{EX}p2", "MinCountConstraintComponent")}


# ------------------------------------------------- nested path expressions
def _nested_shape(spark, path_rows, extra):
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
        (EX + "S", SH + "property", iri(EX + "S-p")),
        (EX + "S-p", SH + "path", iri("urn:path")),
    ] + path_rows + extra
    return triples_from_rows(spark, rows)


def test_sequence_with_inverse_element(spark):
    """path = manages / ^worksFor : boss -> company -> its employees."""
    data = triples_from_rows(
        spark,
        [
            ("urn:boss", RDF_TYPE, iri(EX + "T")),
            ("urn:boss", EX + "manages", iri("urn:acme")),
            ("urn:e1", EX + "worksFor", iri("urn:acme")),
            ("urn:e2", EX + "worksFor", iri("urn:acme")),
            ("urn:e3", EX + "worksFor", iri("urn:other")),
        ],
    )
    path_rows = [
        ("urn:path", RDF_NS + "first", iri(EX + "manages")),
        ("urn:path", RDF_NS + "rest", iri("urn:path2")),
        ("urn:path2", RDF_NS + "first", iri("urn:invnode")),
        ("urn:path2", RDF_NS + "rest", iri(RDF_NS + "nil")),
        ("urn:invnode", SH + "inversePath", iri(EX + "worksFor")),
    ]
    shapes = _nested_shape(
        spark, path_rows,
        [(EX + "S-p", SH + "minCount", lit_typed("3", XSD_INTEGER))],
    )
    res = validate(spark, data, shapes).collect()
    # boss reaches e1, e2 (acme's employees) = 2 < 3 -> violation
    assert {(r.focusNode, r.resultPath) for r in res} == {
        ("urn:boss", EX + "manages/^" + "http://example.org/worksFor")
    }


def test_inverse_of_sequence_normalization(spark):
    """^(a/b) == ^b/^a: focus reached backwards through two hops."""
    data = triples_from_rows(
        spark,
        [
            ("urn:x", EX + "a", iri("urn:m")),
            ("urn:m", EX + "b", iri("urn:t")),
            ("urn:t", RDF_TYPE, iri(EX + "T")),
        ],
    )
    seq_rows = [
        ("urn:seq", RDF_NS + "first", iri(EX + "a")),
        ("urn:seq", RDF_NS + "rest", iri("urn:seq2")),
        ("urn:seq2", RDF_NS + "first", iri(EX + "b")),
        ("urn:seq2", RDF_NS + "rest", iri(RDF_NS + "nil")),
        ("urn:path", SH + "inversePath", iri("urn:seq")),
    ]
    shapes = _nested_shape(
        spark, seq_rows,
        [(EX + "S-p", SH + "hasValue", iri("urn:x"))],
    )
    # t -^(a/b)-> x : hasValue satisfied, no violations
    assert validate(spark, data, shapes).count() == 0


def test_alternative_of_sequences(spark):
    """path = (a/b) | c."""
    data = triples_from_rows(
        spark,
        [
            ("urn:f1", RDF_TYPE, iri(EX + "T")),
            ("urn:f1", EX + "a", iri("urn:m1")),
            ("urn:m1", EX + "b", ("viaAB", "literal", None, None)),
            ("urn:f2", RDF_TYPE, iri(EX + "T")),
            ("urn:f2", EX + "c", ("viaC", "literal", None, None)),
            ("urn:f3", RDF_TYPE, iri(EX + "T")),
        ],
    )
    path_rows = [
        ("urn:path", SH + "alternativePath", iri("urn:al:0")),
        ("urn:al:0", RDF_NS + "first", iri("urn:seqAB")),
        ("urn:al:0", RDF_NS + "rest", iri("urn:al:1")),
        ("urn:al:1", RDF_NS + "first", iri(EX + "c")),
        ("urn:al:1", RDF_NS + "rest", iri(RDF_NS + "nil")),
        ("urn:seqAB", RDF_NS + "first", iri(EX + "a")),
        ("urn:seqAB", RDF_NS + "rest", iri("urn:seqAB2")),
        ("urn:seqAB2", RDF_NS + "first", iri(EX + "b")),
        ("urn:seqAB2", RDF_NS + "rest", iri(RDF_NS + "nil")),
    ]
    shapes = _nested_shape(
        spark, path_rows,
        [(EX + "S-p", SH + "minCount", lit_typed("1", XSD_INTEGER))],
    )
    res = validate(spark, data, shapes).collect()
    assert {r.focusNode for r in res} == {"urn:f3"}


def test_closure_of_inverse(spark):
    """path = (^parentOf)+ : ancestors via inverse edges."""
    data = triples_from_rows(
        spark,
        [
            ("urn:gp", EX + "parentOf", iri("urn:p")),
            ("urn:p", EX + "parentOf", iri("urn:c")),
            ("urn:c", RDF_TYPE, iri(EX + "T")),
            ("urn:orphan", RDF_TYPE, iri(EX + "T")),
        ],
    )
    path_rows = [
        ("urn:path", SH + "oneOrMorePath", iri("urn:invp")),
        ("urn:invp", SH + "inversePath", iri(EX + "parentOf")),
    ]
    shapes = _nested_shape(
        spark, path_rows,
        [(EX + "S-p", SH + "hasValue", iri("urn:gp"))],
    )
    res = validate(spark, data, shapes).collect()
    # c's ancestors: p, gp (contains gp) -> ok; orphan has none -> violation
    assert {r.focusNode for r in res} == {"urn:orphan"}


def test_path_display_parens(spark):
    from cmem_plugin_pyshacl_spark.plans.shacl import (
        PAlt, PClosure, PInv, PPred, PSeq, _normalize_path, _path_display,
    )

    e = _normalize_path(PInv(PSeq((PPred("a"), PPred("b")))))
    assert _path_display(e) == "^b/^a"
    e2 = PClosure(PAlt((PPred("a"), PPred("b"))), "zeroOrMore")
    assert _path_display(e2) == "(a|b)*"
    assert _normalize_path(PInv(PInv(PPred("a")))) == PPred("a")


def test_qualified_value_shapes_disjoint(spark):
    """sh:qualifiedValueShapesDisjoint: a value conforming to a SIBLING
    qualified shape is excluded from this shape's qualified count."""
    def shapes(disjoint: bool):
        rows = [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "T")),
            (EX + "S", SH + "property", iri(EX + "S-a")),
            (EX + "S-a", SH + "path", iri(EX + "val")),
            (EX + "S-a", SH + "qualifiedValueShape", iri(EX + "AShape")),
            (EX + "S-a", SH + "qualifiedMinCount", lit_typed("1", XSD_INTEGER)),
            (EX + "S", SH + "property", iri(EX + "S-b")),
            (EX + "S-b", SH + "path", iri(EX + "val")),
            (EX + "S-b", SH + "qualifiedValueShape", iri(EX + "BShape")),
            (EX + "S-b", SH + "qualifiedMinCount", lit_typed("0", XSD_INTEGER)),
            (EX + "AShape", SH + "pattern", ("^a", "literal", None, None)),
            (EX + "BShape", SH + "pattern", ("b$", "literal", None, None)),
        ]
        if disjoint:
            rows.append(
                (EX + "S-a", SH + "qualifiedValueShapesDisjoint",
                 ("true", "literal", None, None))
            )
        return triples_from_rows(spark, rows)

    # focus urn:x has only "ab" — conforms to BOTH AShape and BShape
    data = triples_from_rows(
        spark,
        [
            ("urn:x", RDF_TYPE, iri(EX + "T")),
            ("urn:x", EX + "val", ("ab", "literal", XSD_STRING, None)),
        ],
    )
    # without disjoint: "ab" counts for AShape -> no violation
    res = validate(spark, data, shapes(disjoint=False))
    assert res.count() == 0
    # with disjoint: "ab" also conforms to sibling BShape -> excluded ->
    # qualifiedMinCount 1 violated
    res = validate(spark, data, shapes(disjoint=True))
    got = [(r.focusNode, r.sourceConstraintComponent) for r in res.collect()]
    assert got == [("urn:x", SH + "QualifiedMinCountConstraintComponent")]


def test_deactivated_shape_conforms_as_node_ref(spark):
    """W3C SHACL 2.1.3.2: a deactivated shape has no effect — values
    'validated' against it via sh:node always conform."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", ("x", "literal", XSD_STRING, None)),
            ("urn:a", EX + "q", iri("urn:other")),
        ],
    )
    def shapes(deactivated: bool):
        rows = _shape_rows([(EX + "S-p", SH + "node", iri(EX + "Strict"))])
        rows += [(EX + "Strict", SH + "minLength", lit_typed("5", XSD_INTEGER))]
        if deactivated:
            rows += [(EX + "Strict", SH + "deactivated", ("true", "literal", None, None))]
        return triples_from_rows(spark, rows)

    assert validate(spark, data, shapes(False)).count() == 1  # "x" too short
    assert validate(spark, data, shapes(True)).count() == 0  # deactivated


def test_value_components_expected_results(spark):
    """Every value-local component through the constraint-table evaluator,
    incl. custom messages and severities, yields EXACTLY the result set
    the W3C SHACL spec prescribes for this fixture (each row annotated)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "name", ("Jo", "literal", XSD_STRING, None)),
            ("urn:a", EX + "age", ("n/a", "literal", XSD_INTEGER, None)),
            ("urn:a", EX + "home", ("not-a-url", "literal", XSD_STRING, None)),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "name", ("Alexandra", "literal", XSD_STRING, None)),
            ("urn:b", EX + "name", ("Alex", "literal", XSD_STRING, None)),
            ("urn:b", EX + "age", ("15", "literal", XSD_INTEGER, None)),
            ("urn:b", EX + "home", iri("https://x.org")),
            ("urn:b", EX + "tag", ("x" * 40, "literal", XSD_STRING, None)),
            ("urn:a", EX + "knows", iri("urn:b")),       # typed T -> ok
            ("urn:a", EX + "knows", iri("urn:stranger")),  # untyped -> violates
            ("urn:b", EX + "knows", ("lit", "literal", XSD_STRING, None)),  # literal
            ("urn:a", EX + "seg", ("GOLD", "literal", XSD_STRING, None)),
            ("urn:b", EX + "seg", ("COPPER", "literal", XSD_STRING, None)),
            ("urn:a", EX + "label", ("hi", "literal", None, "en-GB")),
            ("urn:b", EX + "label", ("salut", "literal", None, "fr")),
        ],
    )
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
    ]
    specs = [
        ("p0", EX + "name", [(SH + "minCount", ("1", "literal", None, None)),
                             (SH + "maxCount", ("1", "literal", None, None))]),
        ("p1", EX + "age", [(SH + "datatype", iri(XSD_INTEGER)),
                            (SH + "minInclusive", ("18", "literal", None, None)),
                            (SH + "severity", iri(SH + "Warning")),
                            (SH + "message", ("age must be adult int", "literal", None, None))]),
        ("p2", EX + "home", [(SH + "nodeKind", iri(SH + "IRI"))]),
        ("p3", EX + "name", [(SH + "pattern", ("^[A-Z]", "literal", None, None)),
                             (SH + "minLength", ("3", "literal", None, None)),
                             (SH + "maxLength", ("20", "literal", None, None))]),
        ("p4", EX + "tag", [(SH + "maxLength", ("10", "literal", None, None))]),
        ("p5", EX + "missing", [(SH + "minCount", ("2", "literal", None, None))]),
        ("p6", EX + "knows", [(SH + "class", iri(EX + "T"))]),
        ("p7", EX + "seg", [(SH + "in", iri("urn:dl:0"))]),
        ("p8", EX + "seg", [(SH + "hasValue", ("GOLD", "literal", None, None))]),
        ("p9", EX + "label", [(SH + "languageIn", iri("urn:dll:0"))]),
    ]
    # absent-path constraints: every focus node has zero values
    for i in range(14):
        specs.append((f"pad{i}", EX + f"absent{i}",
                      [(SH + "minCount", ("1", "literal", None, None))]))
    rows += _rdf_list("dl", [("GOLD", "literal", None, None),
                             ("SILVER", "literal", None, None)])
    rows += _rdf_list("dll", [("en", "literal", None, None)])
    for sid, path, extras in specs:
        pid = f"{EX}S-{sid}"
        rows += [(EX + "S", SH + "property", iri(pid)), (pid, SH + "path", iri(path))]
        rows += [(pid, pred, obj) for pred, obj in extras]
    shapes = triples_from_rows(spark, rows)

    got = sorted(
        tuple("" if v is None else v for v in (
            r.focusNode, r.resultPath, r.value, r.sourceShape,
            r.sourceConstraintComponent, r.resultMessage, r.resultSeverity,
            r.value_kind, r.value_datatype,
        ))
        for r in validate(spark, data, shapes).collect()
    )
    V, W = SH + "Violation", SH + "Warning"
    lit = ("literal", XSD_STRING)

    def row(focus, path, value, sid, comp, msg, sev=V, term=("", "")):
        return (focus, EX + path, value, f"{EX}S-{sid}",
                SH + comp + "ConstraintComponent", msg, sev, *term)

    age_msg = "age must be adult int"
    expected = [
        # sh:minCount 1 on a path no focus node has (§4.2.1)
        row(f, f"absent{i}", "", f"pad{i}", "MinCount",
            f"Less than 1 values on {EX}absent{i}")
        for f in ("urn:a", "urn:b") for i in range(14)
    ] + [
        # minCount 2, zero values (§4.2.1)
        row(f, "missing", "", "p5", "MinCount", f"Less than 2 values on {EX}missing")
        for f in ("urn:a", "urn:b")
    ] + [
        # "n/a" is not in the lexical space of xsd:integer (§4.1.2) and
        # is comparable with 18 in neither domain (§4.3.2); custom
        # severity and message
        row("urn:a", "age", "n/a", "p1", "Datatype", age_msg, W, ("literal", XSD_INTEGER)),
        row("urn:a", "age", "n/a", "p1", "MinInclusive", age_msg, W, ("literal", XSD_INTEGER)),
        row("urn:b", "age", "15", "p1", "MinInclusive", age_msg, W, ("literal", XSD_INTEGER)),
        # a literal is not sh:IRI (§4.1.3)
        row("urn:a", "home", "not-a-url", "p2", "NodeKind",
            f"Value does not have node kind {SH}IRI", term=lit),
        # urn:stranger has no rdf:type; a literal is never an instance (§4.1.1)
        row("urn:a", "knows", "urn:stranger", "p6", "Class",
            f"Value is not an instance of {EX}T", term=("iri", "")),
        row("urn:b", "knows", "lit", "p6", "Class",
            f"Value is not an instance of {EX}T", term=lit),
        # "Jo" has 2 < 3 characters (§4.4.1); "x"*40 has 40 > 10 (§4.4.2)
        row("urn:a", "name", "Jo", "p3", "MinLength", "Value has less than 3 characters",
            term=lit),
        row("urn:b", "tag", "x" * 40, "p4", "MaxLength",
            "Value has more than 10 characters", term=lit),
        # urn:b has two names, maxCount 1 (§4.2.2)
        row("urn:b", "name", "", "p0", "MaxCount", f"More than 1 values on {EX}name"),
        # COPPER is not in (GOLD SILVER) (§4.8.3); urn:b lacks GOLD (§4.8.2)
        row("urn:b", "seg", "COPPER", "p7", "In", "Value is not in the allowed list",
            term=lit),
        row("urn:b", "seg", "", "p8", "HasValue", "Value GOLD is required"),
        # "salut"@fr does not match the range "en"; "hi"@en-GB does (§4.4.4)
        row("urn:b", "label", "salut", "p9", "LanguageIn",
            "Value has no language tag from the allowed list", term=("literal", "")),
    ]
    assert got == sorted(expected)

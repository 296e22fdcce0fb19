"""Graph-surgery + report-enrichment operator tests (R2/R3/R8-R14)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    RDF_TYPE,
    RDFS_LABEL,
    SH,
    SKOS_PREFLABEL,
    SKOSXL_LITERALFORM,
    SKOSXL_PREFLABEL,
    iri,
    lit_typed,
    to_ntriples,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.operators.graph_ops import (
    add_prov,
    add_shui_conforms,
    remove_graph_type,
    skolemize,
)
from cmem_plugin_pyshacl_spark.operators.labels import labels_table, with_labels


def test_remove_graph_type(spark):
    t = triples_from_rows(
        spark,
        [
            ("urn:g", RDF_TYPE, iri("urn:type:Dataset")),
            ("urn:g", RDF_TYPE, iri("urn:type:Other")),
            ("urn:x", RDF_TYPE, iri("urn:type:Dataset")),
        ],
    )
    out = remove_graph_type(t, "urn:g", "urn:type:Dataset").collect()
    assert len(out) == 2
    assert ("urn:g", "urn:type:Dataset") not in {(r.s, r.o_value) for r in out}


def test_skolemize_deterministic_and_complete(spark):
    t = triples_from_rows(
        spark,
        [
            ("_:b1", RDFS_LABEL, lit_typed("anon")),
            ("urn:s", EX + "ref", ("_:b1", "bnode", None, None)),
        ],
        graph="urn:g",
    )
    out1 = {(r.s, r.p, r.o_kind, r.o_value) for r in skolemize(t, "urn:base").collect()}
    out2 = {(r.s, r.p, r.o_kind, r.o_value) for r in skolemize(t, "urn:base").collect()}
    assert out1 == out2  # content-addressed, stable across runs
    kinds = {r[2] for r in out1}
    assert "bnode" not in kinds
    subj = next(r[0] for r in out1 if r[1] == RDFS_LABEL)
    obj = next(r[3] for r in out1 if r[1] == EX + "ref")
    assert subj == obj  # same bnode id -> same skolem IRI in both positions
    assert subj.startswith("urn:base/.well-known/genid/")


def test_label_precedence_and_language(spark):
    t = triples_from_rows(
        spark,
        [
            ("urn:a", SKOS_PREFLABEL, lit_typed("skos-a")),
            ("urn:a", RDFS_LABEL, lit_typed("rdfs-a")),
            ("urn:b", SKOS_PREFLABEL, lit_typed("skos-b")),
            ("urn:b", SKOSXL_PREFLABEL, iri("urn:b-xl")),
            ("urn:b-xl", SKOSXL_LITERALFORM, lit_typed("xl-b")),
            ("urn:c", RDFS_LABEL, ("de-label", "literal", None, "de")),
            ("urn:c", RDFS_LABEL, ("en-label", "literal", None, "en")),
        ],
    )
    labels = {r.s: r.label for r in labels_table(t).collect()}
    assert labels["urn:a"] == "rdfs-a"  # rdfs:label beats skos:prefLabel
    assert labels["urn:b"] == "xl-b"  # skosxl path beats skos:prefLabel
    en = {r.s: r.label for r in labels_table(t, language="en").collect()}
    assert en["urn:c"] == "en-label"
    de = {r.s: r.label for r in labels_table(t, language="de-DE").collect()}
    assert de["urn:c"] == "de-label"  # primary-tag match


def test_with_labels_broadcast_join(spark):
    t = triples_from_rows(spark, [("urn:a", RDFS_LABEL, lit_typed("A!"))])
    df = spark.createDataFrame([("urn:a",), ("urn:x",)], "node string")
    out = {r.node: r.label for r in with_labels(df, t, "node").collect()}
    assert out == {"urn:a": "A!", "urn:x": None}


def test_add_prov_and_shui(spark):
    base = triples_from_rows(spark, [("urn:r", RDF_TYPE, iri(SH + "ValidationReport"))])
    withprov = add_prov(
        spark, base, "urn:r", "urn:data", "urn:shapes", "2024-01-01T00:00:00Z"
    )
    rows = {(r.p, r.o_value) for r in withprov.collect()}
    assert ("http://www.w3.org/ns/prov#wasDerivedFrom", "urn:data") in rows
    assert ("http://www.w3.org/ns/prov#generatedAtTime", "2024-01-01T00:00:00Z") in rows

    results = spark.createDataFrame(
        [("urn:f1",), ("urn:f1",), ("urn:f2",)], "focusNode string"
    )
    marked = add_shui_conforms(results, base)
    shui = [r for r in marked.collect() if "shui" in r.p]
    assert len(shui) == 2  # one per DISTINCT focus node
    assert all(r.o_value == "false" and r.o_datatype.endswith("boolean") for r in shui)


def test_ntriples_serialization_escapes(spark):
    t = triples_from_rows(
        spark,
        [
            ("urn:s", EX + "p", iri("urn:o")),
            ("urn:s", EX + "q", lit_typed('say "hi"\nnow')),
            ("urn:s", EX + "r", ("5", "literal", "http://www.w3.org/2001/XMLSchema#integer", None)),
            ("urn:s", EX + "t", ("bonjour", "literal", None, "fr")),
        ],
    )
    lines = sorted(r.line for r in to_ntriples(t).collect())
    assert '<urn:s> <http://example.org/p> <urn:o> .' in lines
    assert '<urn:s> <http://example.org/q> "say \\"hi\\"\\nnow" .' in lines
    assert (
        '<urn:s> <http://example.org/r> "5"^^<http://www.w3.org/2001/XMLSchema#integer> .'
        in lines
    )
    assert '<urn:s> <http://example.org/t> "bonjour"@fr .' in lines


def test_ntriples_round_trip(spark):
    """from_ntriples is the exact inverse of to_ntriples (modulo the RDF 1.1
    plain≡xsd:string equivalence and graph/part metadata)."""
    from cmem_plugin_pyshacl_spark.data_model import (
        XSD_INTEGER,
        XSD_STRING,
        from_ntriples,
        to_ntriples,
        triples_from_rows,
    )

    rows = [
        ("urn:a", EX + "p", ("urn:b", "iri", None, None)),
        ("urn:a", EX + "q", ("plain", "literal", None, None)),
        ("urn:a", EX + "q", ("typed-str", "literal", XSD_STRING, None)),
        ("urn:a", EX + "r", ("42", "literal", XSD_INTEGER, None)),
        ("urn:a", EX + "s", ("hallo", "literal", None, "de-DE")),
        ("urn:a", EX + "t", ('esc "quoted" \\ back\nnewline', "literal", None, None)),
    ]
    t = triples_from_rows(spark, rows)
    lines = to_ntriples(t)
    back = from_ntriples(lines)
    got = {
        (r.s, r.p, r.o_kind, r.o_value, r.o_datatype, r.o_lang)
        for r in back.collect()
    }
    expected = {
        ("urn:a", EX + "p", "iri", "urn:b", None, None),
        # plain and explicitly-typed xsd:string both parse back as xsd:string
        ("urn:a", EX + "q", "literal", "plain", XSD_STRING, None),
        ("urn:a", EX + "q", "literal", "typed-str", XSD_STRING, None),
        ("urn:a", EX + "r", "literal", "42", XSD_INTEGER, None),
        ("urn:a", EX + "s", "literal", "hallo", None, "de-DE"),
        ("urn:a", EX + "t", "literal", 'esc "quoted" \\ back\nnewline', XSD_STRING, None),
    }
    assert got == expected
    # no Python UDFs in the parse plan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_post_graph_partitioned_nt_export_roundtrips(spark, tmp_path):
    """single_file=False writes a DIRECTORY of per-partition N-Triples part
    files (no coalesce(1) single-task write) that from_ntriples reads back
    as one graph (round-2 VERDICT nit)."""
    import glob

    from cmem_plugin_pyshacl_spark.data_model import from_ntriples
    from cmem_plugin_pyshacl_spark.operators.graph_ops import post_graph

    rows = [
        (f"urn:s{i}", EX + "p", (f"val {i}", "literal", None, None))
        for i in range(40)
    ]
    t = triples_from_rows(spark, rows).repartition(4)
    nt_dir = str(tmp_path / "nt_multi")
    post_graph(t, str(tmp_path / "pq"), ntriples_path=nt_dir, single_file=False)
    part_files = glob.glob(nt_dir + "/part-*")
    assert len(part_files) > 1  # genuinely partitioned output
    back = from_ntriples(spark.read.text(nt_dir), line_col="value")
    got = {(r.s, r.o_value) for r in back.collect()}
    assert got == {(f"urn:s{i}", f"val {i}") for i in range(40)}

    nt_one = str(tmp_path / "nt_single")
    post_graph(t, str(tmp_path / "pq2"), ntriples_path=nt_one, single_file=True)
    assert len(glob.glob(nt_one + "/part-*")) == 1  # reference POST semantics


def test_include_graphs_labels_copies_value_and_shape_labels(spark):
    """R10 include_graphs_labels: focusNode + IRI-value labels come from
    the DATA graph, sourceShape labels from the SHAPES graph; literal
    values get no label triple (reference plugin_pyshacl.py:405-424)."""
    from cmem_plugin_pyshacl_spark.data_model import (
        RDFS_LABEL,
        iri,
        lit_typed,
        triples_from_rows,
    )
    from cmem_plugin_pyshacl_spark.operators.graph_ops import (
        add_report_labels,
        results_to_report_graph,
    )
    from cmem_plugin_pyshacl_spark.plans.shacl import RESULT_SCHEMA

    results = spark.createDataFrame(
        [
            ("urn:f1", EX + "p", "urn:v1", EX + "shapeA", EX + "comp",
             "msg", "sev", 0, "iri", None),
            ("urn:f1", EX + "p", "a literal", EX + "shapeA", EX + "comp",
             "msg", "sev", 0, "literal", None),
        ],
        schema=RESULT_SCHEMA,
    )
    data = triples_from_rows(
        spark,
        [
            ("urn:f1", RDFS_LABEL, lit_typed("Focus One")),
            ("urn:v1", RDFS_LABEL, lit_typed("Value One")),
        ],
    )
    shapes = triples_from_rows(
        spark, [(EX + "shapeA", RDFS_LABEL, lit_typed("Shape A"))]
    )
    g, res_n = results_to_report_graph(spark, results, "urn:rep", False)
    out = add_report_labels(
        spark, g, res_n, "urn:rep", False,
        include_graphs_labels=True, data_triples=data, shapes_triples=shapes,
    )
    labels = {
        (r.s, r.o_value)
        for r in out.filter(
            (out.p == RDFS_LABEL) & ~out.s.startswith("urn:rep")
        ).collect()
    }
    assert ("urn:f1", "Focus One") in labels
    assert ("urn:v1", "Value One") in labels
    assert (EX + "shapeA", "Shape A") in labels
    assert not any(s == "a literal" for s, _ in labels)


def test_owlrl_downgrade_is_logged(spark, caplog):
    import logging

    from cmem_plugin_pyshacl_spark.data_model import RDF_TYPE, iri, triples_from_rows
    from cmem_plugin_pyshacl_spark.plans.inference import apply_inference

    data = triples_from_rows(spark, [("urn:a", RDF_TYPE, iri(EX + "T"))])
    with caplog.at_level(logging.WARNING):
        apply_inference(data, profile="owlrl").count()
    assert any(
        "NOT the full mutually-recursive OWL-RL fixpoint" in r.message
        for r in caplog.records
    )


def test_nquads_round_trip_with_graphs(spark):
    """to_nquads keeps the graph column NT drops; from_nquads restores it.
    Mixed default-graph (3-term) and named-graph (4-term) lines parse in
    one scan, IRI objects are never mistaken for graph labels, and
    literals containing <…> stay whole."""
    from cmem_plugin_pyshacl_spark.data_model import (
        XSD_INTEGER,
        XSD_STRING,
        from_nquads,
        to_nquads,
        triples_from_rows,
    )

    g1 = "urn:graph:one"
    rows_g1 = [
        ("urn:a", EX + "p", ("urn:b", "iri", None, None)),  # IRI obj + graph
        ("urn:a", EX + "r", ("42", "literal", XSD_INTEGER, None)),
        ("urn:a", EX + "s", ("hallo", "literal", None, "de")),
        ("urn:a", EX + "t", ("see <urn:x> here", "literal", None, None)),
        # raw Unicode line separators: legal in NT literals, but Java regex
        # treats them as line terminators — nt_term emits \\uXXXX escapes
        # (round-4 fix); also a literal backslash-u text must NOT decode
        (
            "urn:a",
            EX + "u",
            ("nel  ls   ps   raw \\u2028 end",
             "literal", None, None),
        ),
    ]
    rows_default = [
        ("urn:c", EX + "p", ("urn:d", "iri", None, None)),  # IRI obj, no graph
        ("urn:c", EX + "q", ("plain", "literal", None, None)),
    ]
    t = triples_from_rows(spark, rows_g1, graph=g1).unionByName(
        triples_from_rows(spark, rows_default, graph=None)
    )
    lines = to_nquads(t)
    rendered = {r.line for r in lines.collect()}
    assert f"<urn:a> <{EX}p> <urn:b> <{g1}> ." in rendered
    assert f"<urn:c> <{EX}p> <urn:d> ." in rendered
    back = from_nquads(lines)
    got = {
        (r.s, r.p, r.o_kind, r.o_value, r.o_datatype, r.o_lang, r.graph)
        for r in back.collect()
    }
    expected = {
        ("urn:a", EX + "p", "iri", "urn:b", None, None, g1),
        ("urn:a", EX + "r", "literal", "42", XSD_INTEGER, None, g1),
        ("urn:a", EX + "s", "literal", "hallo", None, "de", g1),
        ("urn:a", EX + "t", "literal", "see <urn:x> here", XSD_STRING, None, g1),
        ("urn:a", EX + "u", "literal",
         "nel \\u0085 ls \\u2028 ps \\u2029 raw \\\\u2028 end".encode()
         .decode("unicode_escape"), XSD_STRING, None, g1),
        ("urn:c", EX + "p", "iri", "urn:d", None, None, None),
        ("urn:c", EX + "q", "literal", "plain", XSD_STRING, None, None),
    }
    assert got == expected
    # still a pure-codegen parse — no Python UDFs
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_post_graph_quads_export(spark, tmp_path):
    """post_graph(quads=True) exports N-Quads that round-trip the graph
    column through from_nquads."""
    from cmem_plugin_pyshacl_spark.data_model import from_nquads
    from cmem_plugin_pyshacl_spark.operators.graph_ops import post_graph

    rows = [
        (f"urn:s{i}", EX + "p", (f"v{i}", "literal", None, None))
        for i in range(10)
    ]
    t = triples_from_rows(spark, rows, graph="urn:g:x")
    nq_dir = str(tmp_path / "nq")
    post_graph(t, str(tmp_path / "pq"), ntriples_path=nq_dir, quads=True)
    back = from_nquads(spark.read.text(nq_dir), line_col="value")
    assert {r.graph for r in back.collect()} == {"urn:g:x"}
    assert back.count() == 10


def test_report_graph_triples_exact(spark):
    """The report graph's exact triple set, including a result without a
    resultPath and one without a value or message: a NULL cell yields no
    triple, every other cell exactly one, and result IRIs are the sha256
    of (focus|path|value|shape|component) under the report node."""
    import hashlib

    from cmem_plugin_pyshacl_spark.data_model import KIND_IRI, KIND_LITERAL, XSD_BOOLEAN, XSD_STRING
    from cmem_plugin_pyshacl_spark.operators.graph_ops import results_to_report_graph
    from cmem_plugin_pyshacl_spark.plans.shacl import RESULT_SCHEMA

    viol = SH + "Violation"
    rows = [
        ("urn:f1", EX + "p", "v1", EX + "S", EX + "comp", "m1", viol, 0, KIND_LITERAL, XSD_STRING),
        ("urn:f2", None, "urn:f2", EX + "S", EX + "comp", "m2", viol, 1, KIND_IRI, None),
        ("urn:f3", EX + "p", None, EX + "S", EX + "comp", None, viol, 1, None, None),
    ]
    results = spark.createDataFrame(rows, schema=RESULT_SCHEMA)
    g, res_n = results_to_report_graph(spark, results, "urn:rep", False, graph="urn:g")

    def node(focus, path, value, shape, comp):
        key = "|".join([focus, path or "", value or "", shape, comp])
        return "urn:rep/.well-known/genid/" + hashlib.sha256(key.encode()).hexdigest()

    want = {
        ("urn:rep", RDF_TYPE, KIND_IRI, SH + "ValidationReport", None, None, "urn:g", 0),
        ("urn:rep", SH + "conforms", KIND_LITERAL, "false", XSD_BOOLEAN, None, "urn:g", 0),
    }
    for focus, path, value, shape, comp, msg, sev, part, _kind, _dt in rows:
        n = node(focus, path, value, shape, comp)
        cells = [
            (RDF_TYPE, KIND_IRI, SH + "ValidationResult", None),
            (SH + "focusNode", KIND_IRI, focus, None),
            (SH + "resultPath", KIND_IRI, path, None),
            (SH + "value", KIND_LITERAL, value, XSD_STRING),
            (SH + "sourceShape", KIND_IRI, shape, None),
            (SH + "sourceConstraintComponent", KIND_IRI, comp, None),
            (SH + "resultMessage", KIND_LITERAL, msg, XSD_STRING),
            (SH + "resultSeverity", KIND_IRI, sev, None),
        ]
        want.add(("urn:rep", SH + "result", KIND_IRI, n, None, None, "urn:g", part))
        want |= {(n, p, k, v, dt, None, "urn:g", part) for p, k, v, dt in cells if v is not None}
    got = [tuple(r) for r in g.collect()]
    assert len(got) == len(set(got)) == 2 + 3 + 8 + 7 + 6
    assert set(got) == want
    assert sorted(r.result_node for r in res_n.collect()) == sorted(node(*r[:5]) for r in rows)

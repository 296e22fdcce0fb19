"""R6 — execute_plugin: the reference plugin's whole execute() workflow
(parameter checks, graph loading with imports, validation, entities +
report-graph outputs) against a named-graph store."""

from __future__ import annotations

import pytest

from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    RDF_TYPE,
    SH,
    XSD_INTEGER,
    iri,
    lit_typed,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.plans.execute import execute_plugin

DATA_G = "urn:graph:data"
SHAPES_G = "urn:graph:shapes"
IMPORT_G = "urn:graph:extra"
VOID_DATASET = "http://rdfs.org/ns/void#Dataset"
SHAPE_CATALOG = "https://vocab.eccenca.com/shui/ShapeCatalog"
OWL_IMPORTS = "http://www.w3.org/2002/07/owl#imports"


def _store(spark):
    data = triples_from_rows(
        spark,
        [
            (DATA_G, RDF_TYPE, iri(VOID_DATASET)),
            (DATA_G, OWL_IMPORTS, iri(IMPORT_G)),
            ("urn:p1", RDF_TYPE, iri(EX + "Person")),
            ("urn:p1", EX + "age", lit_typed("44", XSD_INTEGER)),
            ("urn:p2", RDF_TYPE, iri(EX + "Person")),
        ],
        graph=DATA_G,
    )
    imported = triples_from_rows(
        spark,
        [("urn:p3", RDF_TYPE, iri(EX + "Person"))],
        graph=IMPORT_G,
    )
    shapes = triples_from_rows(
        spark,
        [
            (SHAPES_G, RDF_TYPE, iri(SHAPE_CATALOG)),
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "Person")),
            (EX + "S", SH + "property", iri(EX + "S-p")),
            (EX + "S-p", SH + "path", iri(EX + "age")),
            (EX + "S-p", SH + "minCount", lit_typed("1", XSD_INTEGER)),
        ],
        graph=SHAPES_G,
    )
    return data.unionByName(imported).unionByName(shapes)


def test_execute_plugin_entities_and_report(spark, tmp_path):
    store = _store(spark)
    res = execute_plugin(
        spark,
        store,
        data_graph_uri=DATA_G,
        shacl_graph_uri=SHAPES_G,
        generate_graph=True,
        validation_graph_uri="urn:graph:report",
        output_entities=True,
        add_shui_conforms_marks=True,
        output_path=str(tmp_path / "report"),
        utctime="2026-01-01T00:00:00Z",
    )
    assert res.conforms is False
    ents = res.entities.collect()
    # p2 (in the data graph) AND p3 (via owl:imports) lack ex:age
    assert sorted(e.focusNode for e in ents) == ["urn:p2", "urn:p3"]
    assert all(e.conforms == "false" for e in ents)
    assert all(e.wasDerivedFrom == DATA_G for e in ents)
    g = res.report_graph.collect()
    preds = {r.p for r in g}
    assert SH + "conforms" in preds
    assert "http://www.w3.org/ns/prov#generatedAtTime" in preds
    assert "https://vocab.eccenca.com/shui/conforms" in preds
    assert {r.graph for r in g} == {"urn:graph:report"}
    assert set(res.metrics) == {"t_load", "t_validate", "t_total", "results"}
    assert res.metrics["t_validate"] > 0
    assert res.metrics["results"] == 2
    # the posted parquet sink exists and round-trips the row count
    back = spark.read.parquet(str(tmp_path / "report"))
    assert back.count() == len(g)


def test_execute_plugin_owl_imports_off(spark):
    store = _store(spark)
    res = execute_plugin(
        spark,
        store,
        data_graph_uri=DATA_G,
        shacl_graph_uri=SHAPES_G,
        owl_imports=False,
        output_entities=True,
        utctime="2026-01-01T00:00:00Z",
    )
    assert sorted(e.focusNode for e in res.entities.collect()) == ["urn:p2"]


def test_execute_plugin_remove_graph_type(spark):
    """With a shape targeting void:Dataset, removing the dataset type
    from the data graph suppresses that violation (reference :610-616)."""
    extra_shape = triples_from_rows(
        spark,
        [
            (EX + "DS", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "DS", SH + "targetClass", iri(VOID_DATASET)),
            (EX + "DS", SH + "property", iri(EX + "DS-p")),
            (EX + "DS-p", SH + "path", iri(EX + "missing")),
            (EX + "DS-p", SH + "minCount", lit_typed("1", XSD_INTEGER)),
        ],
        graph=SHAPES_G,
    )
    store = _store(spark).unionByName(extra_shape)
    with_type = execute_plugin(
        spark, store, data_graph_uri=DATA_G, shacl_graph_uri=SHAPES_G,
        output_entities=True, utctime="2026-01-01T00:00:00Z",
    )
    focus = {e.focusNode for e in with_type.entities.collect()}
    assert DATA_G in focus  # the typed graph node violates ex:DS
    removed = execute_plugin(
        spark, store, data_graph_uri=DATA_G, shacl_graph_uri=SHAPES_G,
        output_entities=True, remove_dataset_graph_type=True,
        utctime="2026-01-01T00:00:00Z",
    )
    focus2 = {e.focusNode for e in removed.entities.collect()}
    assert DATA_G not in focus2
    assert focus - {DATA_G} == focus2


def test_execute_plugin_parameter_errors(spark):
    store = _store(spark)

    def run(**kw):
        args = dict(
            data_graph_uri=DATA_G, shacl_graph_uri=SHAPES_G,
            output_entities=True,
        )
        args.update(kw)
        return execute_plugin(spark, store, **args)

    with pytest.raises(ValueError, match="no output selected"):
        run(output_entities=False)
    with pytest.raises(ValueError, match="data graph URI"):
        run(data_graph_uri="not a uri")
    with pytest.raises(ValueError, match="Validation graph URI"):
        run(generate_graph=True, validation_graph_uri=None)
    with pytest.raises(ValueError, match="not found"):
        run(data_graph_uri="urn:graph:absent")
    with pytest.raises(ValueError, match="Invalid graph type for SHACL"):
        run(shacl_graph_uri=DATA_G)
    with pytest.raises(ValueError, match="inference"):
        run(inference="all")
    with pytest.raises(ValueError, match="depth"):
        run(max_validation_depth=0)
    with pytest.raises(ValueError, match="Ontology graph"):
        run(ontology_graph_uri="urn:graph:absent")
    # js delegates to the documented out-of-scope raise inside validate
    with pytest.raises(ValueError, match="SHACL-JS"):
        run(js=True)


def test_make_entities_gates_labels_without_a_job(spark, tmp_path):
    """The label path gates its broadcast hints on the results frame. A
    parquet-backed results frame has an informative size estimate, so
    building the labelled entities submits no job."""
    from pyspark.sql import functions as F

    from cmem_plugin_pyshacl_spark.operators.entities import make_entities
    from cmem_plugin_pyshacl_spark.plans.shacl import validate

    store = _store(spark)
    data = store.filter(F.col("graph") == DATA_G)
    shapes = store.filter(F.col("graph") == SHAPES_G)
    path = str(tmp_path / "results")
    validate(spark, data, shapes).write.parquet(path)
    results = spark.read.parquet(path)

    sc = spark.sparkContext
    group = "make_entities_call"
    sc.setJobGroup(group, group)
    try:
        entities = make_entities(
            results, data, shapes, False, DATA_G, SHAPES_G, "2026-01-01T00:00:00Z"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert entities.count() == results.count() == 1


def test_execute_plugin_evaluates_validation_once(spark, monkeypatch, tmp_path):
    """The validation results are evaluated once per request: the result
    count behind `conforms` reads the materialized frame (at most its two
    AQE jobs), building the report graph submits no job and the sink is
    one write job. Jobs are attributed with job groups: each spied call
    runs in its own group, everything else in the request's group, and
    `graph_types` skips the catalog collect, so that group holds only the
    count."""
    from cmem_plugin_pyshacl_spark.plans import execute

    sc = spark.sparkContext
    request = "execute_request"

    def spy(name):
        real = getattr(execute, name)

        def call(*args, **kwargs):
            sc.setJobGroup(name, name)
            try:
                return real(*args, **kwargs)
            finally:
                sc.setJobGroup(request, request)

        monkeypatch.setattr(execute, name, call)

    for name in (
        "load_graph",
        "validate",
        "materialize_results",
        "results_to_report_graph",
        "post_graph",
    ):
        spy(name)
    sc.setJobGroup(request, request)
    try:
        res = execute_plugin(
            spark,
            _store(spark),
            data_graph_uri=DATA_G,
            shacl_graph_uri=SHAPES_G,
            generate_graph=True,
            validation_graph_uri="urn:graph:report",
            output_entities=False,
            add_labels=False,
            output_path=str(tmp_path / "report"),
            graph_types={DATA_G: [VOID_DATASET], SHAPES_G: [SHAPE_CATALOG]},
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(group):
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert res.conforms is False
    assert jobs("results_to_report_graph") == 0
    assert 1 <= jobs(request) <= 2
    assert jobs("post_graph") == 1

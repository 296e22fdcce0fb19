"""R6 — the reference plugin's whole `execute()` workflow as ONE
orchestrated Spark plan, with the reference's complete parameter surface.

Reference: plugin_pyshacl.py:598-667 (execute), :544-590 (check_parameters),
:592-595 (remove_graph_type). A user of the reference drives it with graph
URIs + boolean flags against a named-graph store; this function accepts the
same names against a triples table with a `graph` column, so switching is a
parameter-for-parameter translation:

    result = execute_plugin(
        spark, store,
        data_graph_uri=..., shacl_graph_uri=...,
        generate_graph=True, validation_graph_uri=...,
        output_entities=True, owl_imports=True, add_labels=True, ...
    )
    result.conforms        # pySHACL's conforms bool
    result.entities        # 11-column entities DataFrame (or None)
    result.report_graph    # validation-report triples (or None)
    result.metrics         # {"t_load", "t_validate", "t_total", "results"}

The reference validates once and reads conforms, the results graph and
the report off pySHACL's one return tuple (:631-667). Here too the
validation results are evaluated once per request, into one frame sized
to its rows (plans.shacl.materialize_results), and `conforms` (its row
count is 0), the entities, the report graph and the sink all read it.
The other actions are the graph-catalog check (a tiny rdf:type collect
over graph nodes), the owl:imports walk in load_graph, the probes and
slice cache `validate` runs while planning, and the sink write.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data_model import (
    DATA_GRAPH_TYPES,
    RDF_TYPE,
    SHAPE_CATALOG_TYPE,
)
from ..operators.entities import make_entities
from ..operators.graph_ops import (
    add_prov,
    add_report_labels,
    add_shui_conforms,
    post_graph,
    remove_graph_type,
    results_to_report_graph,
    skolemize as skolemize_op,
)
from ..sources.graph_catalog import is_valid_graph_uri, load_graph
from .shacl import materialize_results, validate

_VOID_DATASET = "http://rdfs.org/ns/void#Dataset"
_THESAURUS = "https://vocab.eccenca.com/dsm/ThesaurusProject"
_OWL_ONTOLOGY = "http://www.w3.org/2002/07/owl#Ontology"


@dataclass
class ExecutionResult:
    conforms: bool
    entities: DataFrame | None
    report_graph: DataFrame | None
    metrics: dict = field(default_factory=dict)


def graph_catalog_types(store: DataFrame, uris: list[str]) -> dict[str, list[str]]:
    """{graph_uri: [rdf:type IRIs of the graph node]} — the reference's
    get_graphs_list() analogue (:558), derived from the store itself: a
    named graph is catalogued by typing its own graph node. Pushed-down
    filter over two string columns; the result is catalog-sized."""
    rows = (
        store.filter((F.col("p") == RDF_TYPE) & F.col("s").isin(uris))
        .select("s", "o_value")
        .distinct()
        .collect()
    )
    out: dict[str, list[str]] = {}
    for r in rows:
        out.setdefault(r.s, []).append(r.o_value)
    return out


def execute_plugin(
    spark: SparkSession,
    store: DataFrame,
    *,
    data_graph_uri: str,
    shacl_graph_uri: str,
    validation_graph_uri: str | None = None,
    generate_graph: bool = False,
    output_entities: bool = True,
    clear_validation_graph: bool = True,
    owl_imports: bool = True,
    skolemize: bool = False,
    add_labels: bool = True,
    include_graphs_labels: bool = False,
    add_shui_conforms_marks: bool = False,
    meta_shacl: bool = False,
    ontology_graph_uri: str | None = None,
    inference: str = "none",
    advanced: bool = False,
    js: bool = False,
    remove_dataset_graph_type: bool = False,
    remove_thesaurus_graph_type: bool = False,
    remove_shape_catalog_graph_type: bool = False,
    max_validation_depth: int = 15,
    language: str | None = None,
    output_path: str | None = None,
    graph_types: dict[str, list[str]] | None = None,
    utctime: str | None = None,
) -> ExecutionResult:
    """Run the reference plugin's validate workflow over a named-graph
    triples store. Raises ValueError for exactly the parameter problems
    the reference raises (:544-590); the returned DataFrames read the
    materialized results."""
    t_start = time.monotonic()

    # ---- check_parameters (reference :544-590) ----
    if not generate_graph and not output_entities:
        raise ValueError(
            "no output selected: enable generate_graph and/or output_entities"
        )
    for label, uri in (
        ("data graph URI", data_graph_uri),
        ("SHACL graph URI", shacl_graph_uri),
    ):
        if not is_valid_graph_uri(uri):
            raise ValueError(f"{label} parameter is invalid: {uri!r}")
    if generate_graph and not is_valid_graph_uri(validation_graph_uri or ""):
        raise ValueError("Validation graph URI parameter is invalid")
    if ontology_graph_uri is not None and not is_valid_graph_uri(
        ontology_graph_uri
    ):
        raise ValueError("Ontology graph URI parameter is invalid")
    if inference not in ("none", "rdfs", "owlrl", "both"):
        raise ValueError("Invalid value for inference parameter")
    if max_validation_depth not in range(1, 1000):
        raise ValueError("Invalid value for maximum evaluation depth")
    if not add_labels:
        include_graphs_labels = False

    check_uris = [data_graph_uri, shacl_graph_uri] + (
        [ontology_graph_uri] if ontology_graph_uri else []
    )
    catalog = (
        graph_types
        if graph_types is not None
        else graph_catalog_types(store, check_uris)
    )
    if data_graph_uri not in catalog:
        raise ValueError(f"Data graph <{data_graph_uri}> not found")
    if shacl_graph_uri not in catalog:
        raise ValueError(f"SHACL graph <{shacl_graph_uri}> not found")
    if not any(t in catalog[data_graph_uri] for t in DATA_GRAPH_TYPES):
        raise ValueError(
            f"Invalid graph type for data graph <{data_graph_uri}>"
        )
    if SHAPE_CATALOG_TYPE not in catalog[shacl_graph_uri]:
        raise ValueError(
            f"Invalid graph type for SHACL graph <{shacl_graph_uri}>"
        )
    if ontology_graph_uri:
        if ontology_graph_uri not in catalog:
            raise ValueError(
                f"Ontology graph <{ontology_graph_uri}> not found"
            )
        if _OWL_ONTOLOGY not in catalog[ontology_graph_uri]:
            raise ValueError(
                f"Invalid graph type for Ontology graph <{ontology_graph_uri}>"
            )

    # ---- load graphs (reference :606-627) ----
    t0 = time.monotonic()
    data = load_graph(store, data_graph_uri, owl_imports=owl_imports)
    if remove_dataset_graph_type:
        data = remove_graph_type(data, data_graph_uri, _VOID_DATASET)
    if remove_thesaurus_graph_type:
        data = remove_graph_type(data, data_graph_uri, _THESAURUS)
    if remove_shape_catalog_graph_type:
        data = remove_graph_type(data, data_graph_uri, SHAPE_CATALOG_TYPE)
    shapes = load_graph(store, shacl_graph_uri, owl_imports=owl_imports)
    ontology = (
        load_graph(store, ontology_graph_uri, owl_imports=owl_imports)
        if ontology_graph_uri
        else None
    )
    t_load = time.monotonic() - t0

    # ---- validate (reference :630-643) ----
    t0 = time.monotonic()
    results = materialize_results(
        validate(
            spark,
            data,
            shapes,
            ont_triples=ontology,
            inference=inference,
            meta_shacl=meta_shacl,
            advanced=advanced,
            js=js,
            max_validation_depth=max_validation_depth,
        )
    )
    n_results = results.count()
    did_conform = n_results == 0
    t_validate = time.monotonic() - t0

    if utctime is None:
        utctime = (
            datetime.now(tz=timezone.utc).strftime("%Y-%m-%dT%H:%M:%S") + "Z"
        )

    entities = None
    if output_entities:
        entities = make_entities(
            results,
            data,
            shapes,
            did_conform,
            data_graph_uri,
            shacl_graph_uri,
            utctime,
            add_labels=add_labels,
            language=language,
        )

    report_graph = None
    if generate_graph:
        report_node = f"{validation_graph_uri}#ValidationReport"
        g, res_n = results_to_report_graph(
            spark,
            results,
            report_node,
            conforms=did_conform,
            graph=validation_graph_uri,
        )
        if skolemize:
            g = skolemize_op(g, validation_graph_uri)
        if add_labels:
            g = add_report_labels(
                spark,
                g,
                res_n,
                report_node,
                did_conform,
                graph=validation_graph_uri,
                include_graphs_labels=include_graphs_labels,
                data_triples=data,
                shapes_triples=shapes,
                language=language,
            )
        if add_shui_conforms_marks:
            g = add_shui_conforms(res_n, g, graph=validation_graph_uri)
        g = add_prov(
            spark,
            g,
            report_node,
            data_graph_uri,
            shacl_graph_uri,
            utctime,
            graph=validation_graph_uri,
        )
        report_graph = g
        if output_path:
            post_graph(g, output_path, replace=clear_validation_graph)

    return ExecutionResult(
        conforms=did_conform,
        entities=entities,
        report_graph=report_graph,
        metrics={
            "t_load": round(t_load, 3),
            "t_validate": round(t_validate, 3),
            "t_total": round(time.monotonic() - t_start, 3),
            "results": n_results,
        },
    )

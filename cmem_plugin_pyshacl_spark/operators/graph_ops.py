"""Graph surgery + report-graph enrichment operators.

R3  remove_graph_type   (reference plugin_pyshacl.py:592-595)
R8  skolemize           (:647-649)
R9  add_prov            (:355-376)
R10 add_labels (report) (:378-425) — builds on operators/labels.py
R11 add_shui_conforms   (:427-442)
R12 post_graph sink     (:444-456) — parquet overwrite/append + N-Triples
R13/R14 live in operators/entities.py
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data_model import (
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    PROV,
    RDF_TYPE,
    RDFS_LABEL,
    SH,
    SHUI,
    TRIPLES_SCHEMA,
    XSD_BOOLEAN,
    XSD_DATETIME,
    XSD_STRING,
    is_small,
    maybe_broadcast,
    nt_term,
    to_nquads,
    to_ntriples,
)
from ..functions.hashing import skolem_iri


def remove_graph_type(triples: DataFrame, graph_uri: str, type_iri: str) -> DataFrame:
    """R3 — delete the single triple (graph_uri, rdf:type, type_iri); the
    reference does graph.remove((URIRef(uri), RDF.type, URIRef(iri)))."""
    return triples.filter(
        ~(
            (F.col("s") == graph_uri)
            & (F.col("p") == RDF_TYPE)
            & (F.col("o_kind") == KIND_IRI)
            & (F.col("o_value") == type_iri)
        )
    )


def skolemize(triples: DataFrame, base_uri: str) -> DataFrame:
    """R8 — rewrite every blank node to a deterministic content-addressed
    IRI under base_uri. The reference uses rdflib's sequential skolemizer;
    ours hashes the bnode id + graph so the rewrite is stable across
    partitions, re-runs and resumes (SURVEY.md hard part (b))."""
    sk = lambda c: skolem_iri(base_uri, c, F.coalesce(F.col("graph"), F.lit("")))
    return triples.select(
        F.when(F.col("s").startswith("_:"), sk(F.col("s"))).otherwise(F.col("s")).alias("s"),
        "p",
        F.when(F.col("o_kind") == KIND_BNODE, F.lit(KIND_IRI)).otherwise(F.col("o_kind")).alias("o_kind"),
        F.when(F.col("o_kind") == KIND_BNODE, sk(F.col("o_value"))).otherwise(F.col("o_value")).alias("o_value"),
        "o_datatype",
        "o_lang",
        "graph",
        "part_id",
    )


def add_prov(
    spark: SparkSession,
    report_triples: DataFrame,
    report_node: str,
    data_graph_uri: str,
    shacl_graph_uri: str,
    utctime: str,
    graph: str | None = None,
) -> DataFrame:
    """R9 — union 3 provenance triples onto the report graph
    (prov:wasDerivedFrom, prov:wasInformedBy, prov:generatedAtTime)."""
    rows = [
        (report_node, PROV + "wasDerivedFrom", KIND_IRI, data_graph_uri, None, None, graph, 0),
        (report_node, PROV + "wasInformedBy", KIND_IRI, shacl_graph_uri, None, None, graph, 0),
        (report_node, PROV + "generatedAtTime", KIND_LITERAL, utctime, XSD_DATETIME, None, graph, 0),
    ]
    return report_triples.unionByName(spark.createDataFrame(rows, schema=TRIPLES_SCHEMA))


def add_report_labels(
    spark: SparkSession,
    report_triples: DataFrame,
    results: DataFrame,
    report_node: str,
    conforms: bool,
    graph: str | None = None,
    include_graphs_labels: bool = False,
    data_triples: DataFrame | None = None,
    shapes_triples: DataFrame | None = None,
    language: str | None = None,
) -> DataFrame:
    """R10 — label the report node ("SHACL validation report,
    conforms={bool}", reference :391-394) and every result ("SHACL:
    {resultPath}: {resultMessage}", :395-404).

    With include_graphs_labels (reference param :188-208, branch
    :405-424), also COPY preferred labels into the report graph for each
    result's focusNode and IRI value (looked up in the DATA graph) and
    sourceShape (looked up in the SHAPES graph) — three broadcast label
    joins over the distinct node sets, the big graphs never shuffle."""
    report_label = spark.createDataFrame(
        [
            (
                report_node,
                RDFS_LABEL,
                KIND_LITERAL,
                f"SHACL validation report, conforms={conforms}",
                XSD_STRING,
                None,
                graph,
                0,
            )
        ],
        schema=TRIPLES_SCHEMA,
    )
    result_labels = results.select(
        F.col("result_node").alias("s"),
        F.lit(RDFS_LABEL).alias("p"),
        F.lit(KIND_LITERAL).alias("o_kind"),
        F.concat_ws(
            "",
            F.lit("SHACL: "),
            F.coalesce(F.col("resultPath"), F.lit("")),
            F.lit(": "),
            F.coalesce(F.col("resultMessage"), F.lit("")),
        ).alias("o_value"),
        F.lit(XSD_STRING).alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(graph).alias("graph"),
        F.col("part_id"),
    )
    out = report_triples.unionByName(report_label).unionByName(result_labels)

    if include_graphs_labels and data_triples is not None:
        from .labels import labels_table

        # label copying broadcasts the small DISTINCT-NODE side into the
        # (potentially full-graph-sized) label table, not the reverse
        # (round-2 ADVICE); gated once on the report rows
        _small_report = is_small(results)

        def _copied(nodes: DataFrame, col: str, labels: DataFrame) -> DataFrame:
            lab = labels.withColumnRenamed("s", col)
            return (
                lab.join(maybe_broadcast(nodes, _small_report), on=col)
                .select(
                    F.col(col).alias("s"),
                    F.lit(RDFS_LABEL).alias("p"),
                    F.lit(KIND_LITERAL).alias("o_kind"),
                    F.col("label").alias("o_value"),
                    F.lit(XSD_STRING).alias("o_datatype"),
                    F.lit(None).cast("string").alias("o_lang"),
                    F.lit(graph).alias("graph"),
                    F.col("part_id"),
                )
            )

        data_labels = labels_table(data_triples, language)
        focus_nodes = results.groupBy("focusNode").agg(
            F.min("part_id").alias("part_id")
        )
        out = out.unionByName(_copied(focus_nodes, "focusNode", data_labels))
        value_nodes = (
            results.filter(
                (F.col("value_kind") == KIND_IRI) & F.col("value").isNotNull()
            )
            .groupBy("value")
            .agg(F.min("part_id").alias("part_id"))
        )
        out = out.unionByName(_copied(value_nodes, "value", data_labels))
        if shapes_triples is not None:
            shape_labels = labels_table(shapes_triples, language)
            shape_nodes = results.groupBy("sourceShape").agg(
                F.min("part_id").alias("part_id")
            )
            out = out.unionByName(_copied(shape_nodes, "sourceShape", shape_labels))
    return out


def add_shui_conforms(
    results: DataFrame, report_triples: DataFrame, graph: str | None = None
) -> DataFrame:
    """R11 — mark each non-conforming focus node with
    (focusNode, shui:conforms, "false"^^xsd:boolean), one triple per
    distinct focus node (reference :427-442)."""
    marks = (
        results.select("focusNode")
        .distinct()
        .select(
            F.col("focusNode").alias("s"),
            F.lit(SHUI + "conforms").alias("p"),
            F.lit(KIND_LITERAL).alias("o_kind"),
            F.lit("false").alias("o_value"),
            F.lit(XSD_BOOLEAN).alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
            F.lit(graph).alias("graph"),
            F.lit(0).alias("part_id"),
        )
    )
    return report_triples.unionByName(marks)


def results_to_report_graph(
    spark: SparkSession,
    results: DataFrame,
    report_node: str,
    conforms: bool,
    graph: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """S12 — the validation report as triples: the report node
    (sh:ValidationReport, sh:conforms) plus one sh:ValidationResult node per
    result row, content-addressed (deterministic result IRIs).

    Each result row becomes its node's triples through one `inline` over an
    array of (p, o_kind, o_value, o_datatype) structs, dropping the cells
    that are NULL (resultPath, value, resultMessage). The report reads
    `results` twice (these triples and the sh:result links) and the
    enrichment steps read the returned frame again, so the caller hands in
    materialized results (plans.shacl.materialize_results); the report's
    partition count follows theirs.

    Returns (report_triples, results_with_node) — the latter carries the
    minted result_node column for R10/R11 enrichment.
    """
    results_n = results.withColumn(
        "result_node",
        skolem_iri(
            report_node,
            F.col("focusNode"),
            F.coalesce(F.col("resultPath"), F.lit("")),
            F.coalesce(F.col("value"), F.lit("")),
            F.col("sourceShape"),
            F.col("sourceConstraintComponent"),
        ),
    )
    head = spark.createDataFrame(
        [
            (report_node, RDF_TYPE, KIND_IRI, SH + "ValidationReport", None, None, graph, 0),
            (
                report_node,
                SH + "conforms",
                KIND_LITERAL,
                "true" if conforms else "false",
                XSD_BOOLEAN,
                None,
                graph,
                0,
            ),
        ],
        schema=TRIPLES_SCHEMA,
    )

    def _cell(p: str, kind: str, value_col, datatype: str | None = None):
        return F.struct(
            F.lit(p).alias("p"),
            F.lit(kind).alias("o_kind"),
            value_col.alias("o_value"),
            F.lit(datatype).cast("string").alias("o_datatype"),
        )

    cells = F.array(
        _cell(RDF_TYPE, KIND_IRI, F.lit(SH + "ValidationResult")),
        _cell(SH + "focusNode", KIND_IRI, F.col("focusNode")),
        _cell(SH + "resultPath", KIND_IRI, F.col("resultPath")),
        _cell(SH + "value", KIND_LITERAL, F.col("value"), XSD_STRING),
        _cell(SH + "sourceShape", KIND_IRI, F.col("sourceShape")),
        _cell(SH + "sourceConstraintComponent", KIND_IRI, F.col("sourceConstraintComponent")),
        _cell(SH + "resultMessage", KIND_LITERAL, F.col("resultMessage"), XSD_STRING),
        _cell(SH + "resultSeverity", KIND_IRI, F.col("resultSeverity")),
    )
    result_triples = results_n.select(
        F.col("result_node").alias("s"),
        F.inline(cells),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(graph).alias("graph"),
        "part_id",
    ).filter(F.col("o_value").isNotNull())
    links = results_n.select(
        F.lit(report_node).alias("s"),
        F.lit(SH + "result").alias("p"),
        F.lit(KIND_IRI).alias("o_kind"),
        F.col("result_node").alias("o_value"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(graph).alias("graph"),
        F.col("part_id"),
    )
    return head.unionByName(links).unionByName(result_triples), results_n


def node_cbd(triples: DataFrame, max_lines: int = 50) -> DataFrame:
    """R13 (check_object CBD branch) — bounded concise description per
    subject: the node's outgoing triples rendered as sorted N-Triples-ish
    lines, truncated to `max_lines` (the reference truncates the BNode CBD
    turtle serialization to 50 lines, plugin_pyshacl.py:479-489; with
    skolemization on, bnodes don't survive, so this is the best-effort
    relational equivalent: one-hop outgoing subgraph, deterministic order).

    Returns (s, cbd string, n_lines long). collect_list -> sort_array ->
    slice keeps the truncation inside the aggregate, so a pathological
    hub node contributes at most max_lines lines downstream."""
    lines = triples.select(
        "s",
        F.concat_ws(
            " ",
            F.concat(F.lit("<"), F.col("s"), F.lit(">")),
            F.concat(F.lit("<"), F.col("p"), F.lit(">")),
            nt_term(
                F.col("o_kind"), F.col("o_value"),
                F.col("o_datatype"), F.col("o_lang"),
            ),
            F.lit("."),
        ).alias("line"),
    )
    return lines.groupBy("s").agg(
        F.array_join(
            F.slice(F.sort_array(F.collect_list("line")), 1, max_lines), "\n"
        ).alias("cbd"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


def post_graph(
    triples: DataFrame,
    path: str,
    replace: bool = True,
    ntriples_path: str | None = None,
    single_file: bool = True,
    quads: bool = False,
) -> None:
    """R12 — sink. The reference POSTs a serialized N-Triples file with
    replace=clear_validation_graph (:444-456); ours writes parquet with
    overwrite-vs-append semantics plus an optional N-Triples text export.

    single_file=True keeps the reference's one-file POST semantics
    (coalesce(1) — a deliberate single-task write, only for graphs meant to
    be POSTed whole); single_file=False writes per-partition text files —
    the 100-TB export shape (N-Triples is line-oriented, so a directory of
    part files is still one valid graph and round-trips through
    from_ntriples, which reads a whole directory). quads=True exports
    N-Quads instead, preserving the `graph` column the NT form drops
    (round-trips through from_nquads)."""
    writer = triples.write.mode("overwrite" if replace else "append")
    writer.partitionBy("part_id").parquet(path)
    if ntriples_path:
        lines = to_nquads(triples) if quads else to_ntriples(triples)
        if single_file:
            lines = lines.coalesce(1)
        lines.write.mode("overwrite").text(ntriples_path)

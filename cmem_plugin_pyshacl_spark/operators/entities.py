"""R13/R14 — the fixed 11-column entities output table.

Reference: make_entities (/root/reference/cmem_plugin_pyshacl/
plugin_pyshacl.py:497-537) pivots the validation graph into one row per
sh:ValidationResult with 7 SHACL paths + conforms + 2 PROV columns +
generatedAtTime; check_object (:458-495) renders each cell:
  * URIRef -> preferred label if available, else the IRI (:470-478);
    label lookup suppressed for sourceConstraintComponent/resultSeverity
    (:471-474);
  * label source graph picked by predicate (:462-465): shapes graph for
    sourceShape, data graph for focusNode/value/resultPath;
  * Literal -> '"lex"^^<dt>' for sh:value (:490-492), plain string for
    resultMessage (:493-494);
  * BNode CBD rendering (:479-489) does not arise here — our results are
    born relational and skolemized.

In this engine the pivot is free: results never leave relational form.
Cell rendering is when/otherwise + three broadcast label joins (R2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data_model import (
    ENTITY_COLUMNS,
    KIND_LITERAL,
    XSD_STRING,
    is_small,
    maybe_broadcast,
)
from .labels import labels_table


def make_entities(
    results: DataFrame,
    data_triples: DataFrame,
    shapes_triples: DataFrame,
    conforms: bool,
    data_graph_uri: str,
    shacl_graph_uri: str,
    utctime: str,
    add_labels: bool = True,
    language: str | None = None,
) -> DataFrame:
    """Build the 11-column entities DataFrame (all string columns, FIXTURES
    §3 schema). One row per validation result."""
    df = results
    if add_labels:
        data_labels = labels_table(data_triples, language)
        shape_labels = labels_table(shapes_triples, language)
        # full-graph label tables are never force-broadcast (round-2
        # ADVICE): restrict each to the report's distinct nodes first and
        # hint only the restricted table, gated once on the report size
        small = is_small(results)

        def lab(col: str, labels: DataFrame, out: str) -> None:
            nonlocal df
            l = labels.withColumnRenamed("s", col).withColumnRenamed("label", f"_{out}")
            nodes = results.select(col).distinct()
            l = l.join(maybe_broadcast(nodes, small), on=col, how="left_semi")
            df = df.join(maybe_broadcast(l, small), on=col, how="left")

        lab("focusNode", data_labels, "focus_label")
        lab("sourceShape", shape_labels, "shape_label")
        # reference check_object labels EVERY URIRef cell except
        # sourceConstraintComponent/resultSeverity (:471-474): value and
        # resultPath cells are looked up in the DATA graph (:462-465)
        lab("value", data_labels, "value_label")
        lab("resultPath", data_labels, "path_label")
        focus_cell = F.coalesce(F.col("_focus_label"), F.col("focusNode"))
        shape_cell = F.coalesce(F.col("_shape_label"), F.col("sourceShape"))
        iri_value_cell = F.coalesce(F.col("_value_label"), F.col("value"))
        path_cell = F.coalesce(F.col("_path_label"), F.col("resultPath"))
    else:
        focus_cell = F.col("focusNode")
        shape_cell = F.col("sourceShape")
        iri_value_cell = F.col("value")
        path_cell = F.col("resultPath")

    # sh:value cell rendering (reference :490-492): typed literal as
    # '"lex"^^<dt>', plain/lang-tagged literal as '"lex"'; IRIs pass
    # through (labeled above when add_labels)
    literal_cell = F.when(
        F.col("value_datatype").isNotNull(),
        F.concat(
            F.lit('"'), F.col("value"), F.lit('"^^<'),
            F.col("value_datatype"), F.lit(">"),
        ),
    ).otherwise(F.concat(F.lit('"'), F.col("value"), F.lit('"')))
    value_cell = F.when(
        F.col("value_kind") == KIND_LITERAL, literal_cell
    ).otherwise(iri_value_cell)

    return df.select(
        focus_cell.alias("focusNode"),
        path_cell.alias("resultPath"),
        value_cell.alias("value"),
        shape_cell.alias("sourceShape"),
        F.col("sourceConstraintComponent"),
        F.col("resultMessage"),
        F.col("resultSeverity"),
        F.lit("true" if conforms else "false").alias("conforms"),
        F.lit(data_graph_uri).alias("wasDerivedFrom"),
        F.lit(shacl_graph_uri).alias("wasInformedBy"),
        F.lit(utctime).alias("generatedAtTime"),
    ).select(*ENTITY_COLUMNS)

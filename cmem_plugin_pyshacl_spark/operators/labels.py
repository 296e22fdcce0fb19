"""R2 — label lookup with property precedence and language filter
(reference get_label/preferred_label, /root/reference/cmem_plugin_pyshacl/
plugin_pyshacl.py:61-103), and R10 — report labeling (:378-425).

Reference semantics re-expressed relationally:
  * property precedence rdfs:label ≻ skosxl:prefLabel/skosxl:literalForm
    (a 2-hop property PATH -> self-join) ≻ skos:prefLabel (:74-78);
    first non-empty property wins (:98-102).
  * language filter: when `language` is set, labels with a matching
    BCP-47 primary tag or no tag qualify (:83-96).
  * one label per subject: window row_number over (prio, value) — the
    deterministic stand-in for the reference's "first label" iteration
    order (:61-66), which in rdflib is hash-order; we pin lexicographic
    order so output is stable across partitions and re-runs.

Scale: the label dimension is filtered from the triples table by a 3-IRI
isin (pushed to the scan) and windowed per subject; join sites first
semi-restrict it to the nodes actually being labeled and broadcast only the
restricted (size-gated) table — the full-graph label dimension itself is
never force-broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..data_model import (
    KIND_LITERAL,
    RDFS_LABEL,
    SKOS_PREFLABEL,
    SKOSXL_LITERALFORM,
    SKOSXL_PREFLABEL,
    is_small,
    maybe_broadcast,
)

LABEL_PRIO = {RDFS_LABEL: 0, SKOSXL_PREFLABEL: 1, SKOS_PREFLABEL: 2}


def labels_table(triples: DataFrame, language: str | None = None) -> DataFrame:
    """DataFrame[s, label] — one preferred label per subject."""
    direct = triples.filter(
        F.col("p").isin([RDFS_LABEL, SKOS_PREFLABEL]) & (F.col("o_kind") == KIND_LITERAL)
    ).select(
        "s",
        F.col("o_value").alias("label"),
        F.col("o_lang").alias("lang"),
        F.when(F.col("p") == RDFS_LABEL, F.lit(0)).otherwise(F.lit(2)).alias("prio"),
    )
    # skosxl 2-hop path: s -skosxl:prefLabel-> xlnode -skosxl:literalForm-> lit
    hop1 = triples.filter(F.col("p") == SKOSXL_PREFLABEL).select(
        "s", F.col("o_value").alias("xl")
    )
    hop2 = triples.filter(
        (F.col("p") == SKOSXL_LITERALFORM) & (F.col("o_kind") == KIND_LITERAL)
    ).select(F.col("s").alias("xl"), F.col("o_value").alias("label"), F.col("o_lang").alias("lang"))
    # both hops are tiny label-dimension slices; broadcast keeps the 2-hop
    # path out of SortMergeJoin (plan audit round 2)
    xl = hop1.join(F.broadcast(hop2), on="xl").select(
        "s", "label", "lang", F.lit(1).alias("prio")
    )

    alll = direct.unionByName(xl)
    if language is not None:
        primary = language.split("-")[0].lower()
        alll = alll.filter(
            F.col("lang").isNull()
            | (F.lower(F.col("lang")) == language.lower())
            | (F.split(F.lower(F.col("lang")), "-").getItem(0) == primary)
        )
    w = Window.partitionBy("s").orderBy(F.col("prio"), F.col("label"))
    return (
        alll.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("s", "label")
    )


def with_labels(
    df: DataFrame, triples: DataFrame, node_col: str, out_col: str = "label",
    language: str | None = None,
) -> DataFrame:
    """Left-join preferred labels onto any node column (the join pattern
    behind reference add_labels_val :405-424 and check_object :470-478).

    Scale posture (round-2 ADVICE): the FULL-graph label table is never
    force-broadcast — it grows with the graph. Instead the label dimension
    is first semi-restricted to df's distinct nodes (broadcasting the small
    node side when the gate allows), and only the restricted table — bounded
    by |distinct df nodes| — carries the hint."""
    lab = labels_table(triples, language).withColumnRenamed("s", node_col).withColumnRenamed(
        "label", out_col
    )
    small = is_small(df)
    nodes = df.select(node_col).distinct()
    lab = lab.join(maybe_broadcast(nodes, small), on=node_col, how="left_semi")
    return df.join(maybe_broadcast(lab, small), on=node_col, how="left")

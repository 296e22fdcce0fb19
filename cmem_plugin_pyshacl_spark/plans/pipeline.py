"""R6 — the end-to-end build-then-validate pipeline (the engine's
equivalent of the reference's ShaclValidation.execute,
/root/reference/cmem_plugin_pyshacl/plugin_pyshacl.py:597-668, extended
per BASELINE.json north_star into full KG construction).

Stages (all lazy DataFrame plans until the sinks):
  1+2. pages -> text -> relations (C1+C2: one fused mapInPandas pass;
                                  byte-frozen extractor)
  3. surfaces -> canonical ids    (C5 min surface per normal form, one window)
  4. triples materialization     (C6; partitioned by part_id lineage key)
  5. SHACL core validation       (S1-S12; broadcast shapes, native exprs)
  6. per-partition reports + metrics (north_rule)

Checkpoint/resume (C8): each sink writes parquet partitioned by part_id;
`run_pipeline(resume_from=dir)` skips stages whose sink already committed
(_SUCCESS marker) — the parquet snapshot is the checkpoint, mirroring
Iceberg snapshot semantics without requiring the Iceberg runtime jar.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..data_model import (
    EX,
    KIND_IRI,
    KIND_LITERAL,
    RDF_TYPE,
    RDFS_LABEL,
    TRIPLES_SCHEMA,
    XSD_STRING,
    dedupe_triples_lineage,
    is_small,
    maybe_broadcast,
)
from .linking import normalize_surface
from .shacl import partition_reports, validate

TYPE_IRIS = {
    "PERSON": EX + "Person",
    "ORG": EX + "Organization",
    "PLACE": EX + "Place",
}


def e_t(start: float) -> float:
    """Elapsed-time metric rounded to 3 dp (reference R1,
    plugin_pyshacl.py:56-58)."""
    return round(time.time() - start, 3)


def relations_fused_stage(pages: DataFrame) -> DataFrame:
    """C1+C2 fused: ONE mapInPandas pass doing html -> text -> relations.

    One python worker per task slot streams each Arrow batch through the
    frozen extract_text_series and detect_relations functions in a single
    hop, so task CPU usage matches the scheduled parallelism (a
    local[8]/8-core-executor run really uses 8 cores, which is what makes
    cluster sizing and the N-vs-4N scaling measurement meaningful)."""
    import pandas as pd
    from pyspark.sql import types as T

    from ..functions.extract import extract_text_series
    from ..functions.mentions import detect_relations

    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("part_id", T.IntegerType()),
            T.StructField("subj_surface", T.StringType()),
            T.StructField("subj_type", T.StringType()),
            T.StructField("pred", T.StringType()),
            T.StructField("obj_surface", T.StringType()),
            T.StructField("obj_type", T.StringType()),
        ]
    )
    cols = [f.name for f in schema.fields]

    def _fn(batches):
        for pdf in batches:
            texts = extract_text_series(pdf["html"])
            out = {c: [] for c in cols}
            for url, part, txt in zip(pdf["url"], pdf["part_id"], texts):
                for ss, st, pr, os_, ot in detect_relations(txt):
                    out["url"].append(url)
                    out["part_id"].append(part)
                    out["subj_surface"].append(ss)
                    out["subj_type"].append(st)
                    out["pred"].append(pr)
                    out["obj_surface"].append(os_)
                    out["obj_type"].append(ot)
            yield pd.DataFrame(out)

    return pages.select("url", "part_id", "html").mapInPandas(_fn, schema)


def unique_relations_stage(relations: DataFrame) -> DataFrame:
    """Reduce mention-level relations to UNIQUE relation tuples with
    min-part_id lineage — the canonical shuffle-shrinker between the
    extraction UDF and everything downstream.

    A web corpus states the same fact many times (the fixture grammar
    ~40x per page-batch; a real 10^12-page crawl far more): carrying
    mention-level rows into the mapping joins and the 5-way triple fan-out
    multiplies every downstream shuffle by the duplication factor. This
    groupBy is ONE map-side-combining shuffle over narrow columns — each
    input partition first collapses to its local distinct tuples, so the
    wire volume is (#partitions x #unique), not #mentions — after which
    canonicalization, the mapping joins, and the triple build all run on
    the deduplicated relation set. min(part_id) keeps the lineage
    deterministic (same convention as dedupe_triples_lineage).
    part_id-LEVEL consumers (incremental revalidation fingerprints) keep
    reading the mention-level frame; this stage feeds the construct path.
    """
    return relations.groupBy(
        "subj_surface", "subj_type", "pred", "obj_surface", "obj_type"
    ).agg(F.min("part_id").alias("part_id"))


def canonicalize_stage(relations: DataFrame) -> DataFrame:
    """C5: canonicalize entity surfaces.

    Surfaces that normalize identically are the same entity, and the
    lexicographic min surface of each normal form is its canonical name.
    As a graph this is a star forest (every surface has one edge, to its
    normal form), and on a star forest the large-star/small-star fixpoint
    of Kiveris et al. (SoCC'14, plans/connected_components.py) stops after
    one min-aggregation per star — exactly this window. The window adds
    one exchange on the normal form and no action at call time, and the
    plan keeps an honest size estimate for the broadcast gate in
    triples_stage.
    """
    surfaces = (
        relations.select(F.col("subj_surface").alias("surface"))
        .unionByName(relations.select(F.col("obj_surface").alias("surface")))
        .distinct()
    )
    by_norm = Window.partitionBy(normalize_surface(F.col("surface")))
    return surfaces.select(
        "surface", F.min("surface").over(by_norm).alias("canonical")
    )


def entity_iri(canonical_col, type_col):
    """Deterministic entity IRI from canonical surface + type."""
    return F.concat(
        F.lit(EX),
        F.lower(type_col),
        F.lit("/"),
        F.regexp_replace(normalize_surface(canonical_col), r"\s", "_"),
    )


def triples_stage(
    relations: DataFrame,
    mapping: DataFrame,
    graph: str = EX + "graph/kg",
    assume_unique: bool = False,
) -> DataFrame:
    """C6: materialize (subj, pred, obj) triples with type and label
    triples, deduped, carrying part_id lineage."""
    # Collapse mention-level duplication FIRST (round 5): the 5-way triple
    # fan-out and its set-semantics dedupe below otherwise shuffle
    # 5 x #mentions rows; after this one map-side-combining reduction they
    # shuffle 5 x #unique-relations. Callers that already pass the
    # unique_relations_stage frame say so with assume_unique=True and skip
    # the redundant re-shuffle (the re-group is correct but gains nothing
    # on an already-unique key — round-5 review); standalone callers keep
    # the safe default.
    if not assume_unique:
        relations = unique_relations_stage(relations)
    # The mapping is USUALLY small relative to relations (distinct surfaces)
    # — but the mention detector is open-pattern, not gazetteer-bounded, so
    # the surface vocabulary grows with the corpus and an UNCONDITIONAL
    # broadcast hint would OOM at north-rule 10^12-page scale (round-4
    # VERDICT finding 1; Spark honors user hints regardless of size). The
    # hint goes through the broadcast gate: canonicalize_stage is one window
    # over a distinct, so its estimate is informative and tracks its input —
    # a small mapping is hinted with no job, a large one is left to AQE.
    mapping_small = is_small(mapping)
    m_subj = mapping.select(
        F.col("surface").alias("subj_surface"), F.col("canonical").alias("subj_canon")
    )
    m_obj = mapping.select(
        F.col("surface").alias("obj_surface"), F.col("canonical").alias("obj_canon")
    )
    r = relations.join(maybe_broadcast(m_subj, mapping_small), on="subj_surface").join(
        maybe_broadcast(m_obj, mapping_small), on="obj_surface"
    )
    r = r.select(
        "part_id",
        entity_iri(F.col("subj_canon"), F.col("subj_type")).alias("s_iri"),
        F.col("pred"),
        entity_iri(F.col("obj_canon"), F.col("obj_type")).alias("o_iri"),
        F.col("subj_type"),
        F.col("obj_type"),
        F.col("subj_canon"),
        F.col("obj_canon"),
    )

    # Single-pass triple fan-out: one explode over a 5-struct array instead
    # of a 5-branch union — the union form scans the relations table five
    # times (once per branch); at web scale that's 5x the input IO/CPU.
    type_expr = F.create_map(
        *[x for k, v in TYPE_IRIS.items() for x in (F.lit(k), F.lit(v))]
    )

    def _st(s, p, o_kind, o_value, o_dt):
        return F.struct(
            s.alias("s"),
            p.alias("p"),
            F.lit(o_kind).alias("o_kind"),
            o_value.alias("o_value"),
            (F.lit(o_dt) if o_dt else F.lit(None)).cast("string").alias("o_datatype"),
        )

    fanout = F.array(
        _st(F.col("s_iri"), F.col("pred"), KIND_IRI, F.col("o_iri"), None),
        _st(F.col("s_iri"), F.lit(RDF_TYPE), KIND_IRI, type_expr[F.col("subj_type")], None),
        _st(F.col("o_iri"), F.lit(RDF_TYPE), KIND_IRI, type_expr[F.col("obj_type")], None),
        _st(F.col("s_iri"), F.lit(RDFS_LABEL), KIND_LITERAL, F.col("subj_canon"), XSD_STRING),
        _st(F.col("o_iri"), F.lit(RDFS_LABEL), KIND_LITERAL, F.col("obj_canon"), XSD_STRING),
    )
    out = r.select("part_id", F.explode(fanout).alias("_t")).select(
        F.col("_t.s").alias("s"),
        F.col("_t.p").alias("p"),
        F.col("_t.o_kind").alias("o_kind"),
        F.col("_t.o_value").alias("o_value"),
        F.col("_t.o_datatype").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        F.lit(graph).alias("graph"),
        F.col("part_id"),
    )
    return dedupe_triples_lineage(out)


@dataclass
class PipelineResult:
    triples: DataFrame
    results: DataFrame
    reports: DataFrame
    metrics: dict


def _committed(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    shapes_triples: DataFrame,
    out_dir: str | None = None,
    resume: bool = False,
    incremental: bool = False,
) -> PipelineResult:
    """Full build-then-validate run. With out_dir set, each stage commits a
    parquet snapshot partitioned by part_id (C8 checkpoint/lineage); with
    resume=True, committed stages are read back instead of recomputed.

    incremental=True (requires out_dir): validation state — partition
    fingerprints, mention sets, prior results — is committed under
    out_dir/incr_* and the NEXT run re-checks only focus nodes of changed
    partitions (plans/incremental.py), carrying every other node's
    results over. New state is staged to a temp dir and renamed in so the
    lazy read of the prior results is never overwritten mid-job."""
    metrics: dict = {}
    t0 = time.time()

    triples_path = os.path.join(out_dir, "triples") if out_dir else None
    if resume and triples_path and _committed(triples_path):
        triples = spark.read.parquet(triples_path)
        metrics["triples_resumed"] = True
    else:
        # The UDF output feeds exactly ONE consumer (the unique-relations
        # reduction), so the expensive html->text->relations pass streams
        # straight into the groupBy with no mention-level persist at all
        # (round 5; the previous shape cached #mentions rows to guard the
        # multi-consumer fan-out — now the fan-out consumes the REDUCED
        # frame). rel_u is the shared persist point: canonicalization, the
        # two mapping joins, and the triple build all read it, and it is
        # #unique-relations sized, not corpus-sized.
        relations = relations_fused_stage(pages)
        rel_u = unique_relations_stage(relations).persist()
        # Materialize the shared cache with ONE parallel pass BEFORE the
        # fan-out: the surface window (the broadcast side) and the
        # relations side of the triple build read rel_u from separate
        # AQE query stages that are submitted together, and when the first
        # of them finds the InMemoryRelation unbuilt, concurrent stage
        # materializations race to compute the whole extraction pipeline
        # (observed cold: two extraction-scale stages plus an
        # AQE-coalesced 1-task stage re-deriving it serially for 18 s).
        # One count() builds the cache at full parallelism; every
        # consumer after it reads 128-row-sized cached partitions.
        rel_u.count()
        # mapping is consumed twice (subject + object sides of the triple
        # build); persist so the surface window isn't re-derived
        mapping = canonicalize_stage(rel_u).persist()
        triples = triples_stage(rel_u, mapping, assume_unique=True)
        if triples_path:
            from ..sources.sinks import write_triples

            write_triples(triples, triples_path, mode="overwrite")
            triples = spark.read.parquet(triples_path)
            # safe to drop only once triples are materialized on disk
            rel_u.unpersist()
    metrics["t_construct"] = e_t(t0)

    t1 = time.time()
    if incremental:
        if not out_dir:
            raise ValueError("incremental=True requires out_dir")
        import shutil

        from .incremental import IncrementalState, incremental_revalidate

        state_paths = {
            name: os.path.join(out_dir, f"incr_{name}")
            for name in ("fingerprints", "mentions", "results")
        }
        prior = None
        if all(_committed(p) for p in state_paths.values()):
            prior = IncrementalState(
                spark.read.parquet(state_paths["fingerprints"]),
                spark.read.parquet(state_paths["mentions"]),
                spark.read.parquet(state_paths["results"]),
            )
        state, reports, changed = incremental_revalidate(
            spark, triples, shapes_triples, prior=prior
        )
        metrics["incremental_changed_parts"] = changed
        # stage-then-rename: state frames lazily READ the prior state
        # paths, so overwriting them in place would corrupt the job
        for name, df in (
            ("fingerprints", state.fingerprints),
            ("mentions", state.mentions),
            ("results", state.results),
        ):
            staging = state_paths[name] + "__staging"
            df.write.mode("overwrite").parquet(staging)
            if os.path.exists(state_paths[name]):
                shutil.rmtree(state_paths[name])
            os.rename(staging, state_paths[name])
        results = spark.read.parquet(state_paths["results"])
        reports = partition_reports(results, triples.select("part_id"))
        reports_path = os.path.join(out_dir, "reports")
        reports.write.mode("overwrite").parquet(reports_path)
        reports = spark.read.parquet(reports_path)
    else:
        results = validate(spark, triples, shapes_triples)
        if out_dir:
            results_path = os.path.join(out_dir, "validation_results")
            results.write.mode("overwrite").parquet(results_path)
            # reports aggregate the written results, so writing them does
            # not evaluate the constraints a second time
            results = spark.read.parquet(results_path)
        reports = partition_reports(results, triples.select("part_id"))
        if out_dir:
            reports_path = os.path.join(out_dir, "reports")
            reports.write.mode("overwrite").parquet(reports_path)
            reports = spark.read.parquet(reports_path)
    metrics["t_validate"] = e_t(t1)
    metrics["t_total"] = e_t(t0)
    return PipelineResult(triples=triples, results=results, reports=reports, metrics=metrics)

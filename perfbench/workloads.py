"""The benchmark's workloads: one op each, its traced twin and its golden
check.

An op drives the engine through its public entry point and forces the
outputs the way a caller would. The traced twin makes the same calls the
entry point makes, one layer at a time, each inside a span; it persists and
counts a layer's output at the span boundary, so the span covers the
layer's execution. Checks read the written outputs with pyarrow, outside
every timer, and compare them with the golden answer of ``inputs``.
"""

from __future__ import annotations

import collections
import os
import re
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq

import inputs as I


def _du_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    ) / 2**20


def _slice_predicates(shapes_rows: list[tuple]) -> set[str]:
    """Predicates a catalog reads: rdf:type, every sh:path and every IRI
    named inside a SPARQL text."""
    preds = {I.RDF_TYPE}
    for _s, p, _k, o, *_ in shapes_rows:
        if p == I.SH + "path":
            preds.add(o)
        elif p in (I.SH + "select", I.SH + "ask"):
            preds.update(re.findall(r"<([^>]+)>", o))
    return preds


class Workload:
    """One workload bound to a Spark session and a materialized input."""

    name = ""

    def __init__(self, spark, inp: I.Input, out_root: str) -> None:
        self.spark = spark
        self.inp = inp
        self.out = os.path.join(out_root, self.name)
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def triples_per_op(self) -> int:
        """Data-graph triples one op validates."""
        raise NotImplementedError

    def shapes_rows(self) -> list[tuple]:
        """The shapes catalog the ops validate against, as triple rows."""
        raise NotImplementedError

    def op(self, i: int) -> None:
        raise NotImplementedError

    def traced_op(self, i: int, tracer, op_id: str) -> dict:
        """Run op ``i`` layer by layer; return the rows counted at the
        layer boundaries, by span name."""
        raise NotImplementedError

    def outside_counts(self, i: int, rows: dict) -> dict:
        """After traced op ``i``: add the rows read from its written
        outputs to ``rows`` and return the extra per-layer metrics."""
        raise NotImplementedError

    def check(self, i: int) -> str | None:
        """None when op ``i``'s written outputs match the golden answer,
        else what differs."""
        raise NotImplementedError


class KgBuild(Workload):
    """``run_pipeline`` over seeded pages: build, write, validate, report."""

    name = "kg_build"

    def __init__(self, spark, inp, out_root) -> None:
        super().__init__(spark, inp, out_root)
        self.pages = spark.read.parquet(os.path.join(inp.path, "pages"))
        self.shapes = spark.read.parquet(os.path.join(inp.path, "shapes.parquet"))

    def triples_per_op(self) -> int:
        return self.inp.golden["triples"]

    def shapes_rows(self) -> list[tuple]:
        return I.kg_shapes_rows()

    def op(self, i: int) -> None:
        from cmem_plugin_pyshacl_spark.plans.pipeline import run_pipeline

        run_pipeline(self.spark, self.pages, self.shapes, out_dir=self.out)

    def traced_op(self, i: int, tracer, op_id: str) -> dict:
        from cmem_plugin_pyshacl_spark.plans.pipeline import (
            canonicalize_stage,
            relations_fused_stage,
            triples_stage,
            unique_relations_stage,
        )
        from cmem_plugin_pyshacl_spark.plans.shacl import partition_reports, validate
        from cmem_plugin_pyshacl_spark.sources.sinks import write_triples

        spark, out, rows = self.spark, self.out, {}
        with tracer.span("relations_fused_stage", op_id):
            rel = relations_fused_stage(self.pages).persist()
            rows["relations_fused_stage"] = rel.count()
        with tracer.span("unique_relations_stage", op_id):
            rel_u = unique_relations_stage(rel).persist()
            rows["unique_relations_stage"] = rel_u.count()
            rel.unpersist()
        with tracer.span("canonicalize_stage", op_id):
            mapping = canonicalize_stage(rel_u).persist()
            rows["canonicalize_stage"] = mapping.count()
        with tracer.span("triples_stage", op_id):
            triples = triples_stage(rel_u, mapping, assume_unique=True).persist()
            rows["triples_stage"] = triples.count()
        with tracer.span("write_triples", op_id):
            write_triples(triples, os.path.join(out, "triples"), mode="overwrite")
            rows["write_triples"] = rows["triples_stage"]
            written = spark.read.parquet(os.path.join(out, "triples"))
            rel_u.unpersist()
            triples.unpersist()
        with tracer.span("validate", op_id):
            results = validate(spark, written, self.shapes)
        with tracer.span("validate_eval", op_id):
            results = results.persist()
            results.write.mode("overwrite").parquet(os.path.join(out, "validation_results"))
            rows["validate_eval"] = results.count()
        with tracer.span("partition_reports", op_id):
            reports = partition_reports(results, written.select("part_id"))
            reports.write.mode("overwrite").parquet(os.path.join(out, "reports"))
            results.unpersist()
        return rows

    def outside_counts(self, i: int, rows: dict) -> dict:
        out = self.out
        rows["partition_reports"] = pq.read_table(os.path.join(out, "reports")).num_rows
        preds = _slice_predicates(self.shapes_rows())
        t = pq.read_table(os.path.join(out, "triples"), columns=["p"])
        rows["validate"] = pc.sum(pc.is_in(t["p"], value_set=_arrow_set(preds))).as_py()
        return {
            "unique_relations_stage.dedup_ratio": rows["unique_relations_stage"]
            / max(1, rows["relations_fused_stage"]),
            "canonicalize_stage.edges": rows["canonicalize_stage"],
            "triples_stage.fanout_ratio": rows["triples_stage"]
            / max(1, rows["unique_relations_stage"]),
            "validate.slice_rows": rows["validate"],
            "write_triples.mb_written": _du_mb(os.path.join(out, "triples")),
        }

    def check(self, i: int) -> str | None:
        g = self.inp.golden
        t = pq.read_table(os.path.join(self.out, "triples"))
        if t.num_rows != g["triples"]:
            return f"triples: {t.num_rows} != {g['triples']}"
        cols = [t[c].to_pylist() for c in ("s", "p", "o_kind", "o_value", "o_datatype", "o_lang", "graph", "part_id")]
        checksum = str(I.set_checksum(zip(*cols)))
        if checksum != g["checksum"]:
            return "triple checksum differs"
        rep = pq.read_table(os.path.join(self.out, "reports"), columns=["part_id", "violations"])
        got = {str(p): v for p, v in zip(rep["part_id"].to_pylist(), rep["violations"].to_pylist())}
        if got != g["violations_per_part"]:
            return "violations per part_id differ"
        return None


def _arrow_set(values):
    import pyarrow as pa

    return pa.array(sorted(values), pa.string())


class PluginAfRequests(Workload):
    """Short ``execute_plugin`` requests in SHACL-AF mode with RDFS
    inference, each against another small named graph of one store. The
    caller posts the validation graph without labels; it asks for no
    entities table."""

    name = "plugin_af_requests"

    def __init__(self, spark, inp, out_root) -> None:
        super().__init__(spark, inp, out_root)
        self.store = spark.read.parquet(os.path.join(inp.path, "store.parquet"))
        self.report = os.path.join(self.out, "report")

    def graph(self, i: int) -> int:
        return i % self.inp.facts["graphs"]

    def triples_per_op(self) -> int:
        return self.inp.facts["graph_triples"]

    def shapes_rows(self) -> list[tuple]:
        return I.af_shapes_rows()

    def op(self, i: int) -> None:
        from cmem_plugin_pyshacl_spark.plans.execute import execute_plugin

        execute_plugin(
            self.spark,
            self.store,
            data_graph_uri=I.af_data_graph(self.graph(i)),
            shacl_graph_uri=I.AF_SHAPES_GRAPH,
            validation_graph_uri=I.AF_REPORT_GRAPH,
            ontology_graph_uri=I.AF_ONTOLOGY_GRAPH,
            generate_graph=True,
            output_entities=False,
            add_labels=False,
            advanced=True,
            inference="rdfs",
            output_path=self.report,
        )

    def traced_op(self, i: int, tracer, op_id: str) -> dict:
        """execute_plugin's calls (plans/execute.py), one layer per span."""
        from cmem_plugin_pyshacl_spark.operators.graph_ops import (
            add_prov,
            post_graph,
            results_to_report_graph,
        )
        from cmem_plugin_pyshacl_spark.plans.execute import graph_catalog_types
        from cmem_plugin_pyshacl_spark.plans.shacl import conforms, validate
        from cmem_plugin_pyshacl_spark.sources.graph_catalog import load_graph

        spark, rows, g_out = self.spark, {}, I.AF_REPORT_GRAPH
        data_g, shapes_g, ont_g = I.af_data_graph(self.graph(i)), I.AF_SHAPES_GRAPH, I.AF_ONTOLOGY_GRAPH
        with tracer.span("load_graph", op_id):
            graph_catalog_types(self.store, [data_g, shapes_g, ont_g])
            data = load_graph(self.store, data_g)
            shapes = load_graph(self.store, shapes_g)
            ontology = load_graph(self.store, ont_g)
        rows["load_graph"] = self.inp.facts["graph_triples"]
        with tracer.span("validate", op_id):
            results = validate(spark, data, shapes, ont_triples=ontology, inference="rdfs", advanced=True)
        with tracer.span("validate_eval", op_id):
            results = results.persist()
            rows["validate_eval"] = results.count()
            ok = conforms(results)
        report_node = f"{g_out}#ValidationReport"
        with tracer.span("report_graph", op_id):
            g, _res_n = results_to_report_graph(spark, results, report_node, conforms=ok, graph=g_out)
            g = add_prov(spark, g, report_node, data_g, shapes_g, "2024-01-01T00:00:00Z", graph=g_out)
            g = g.persist()
            rows["report_graph"] = g.count()
        with tracer.span("post_graph", op_id):
            post_graph(g, self.report, replace=True)
            rows["post_graph"] = rows["report_graph"]
            g.unpersist()
            results.unpersist()
        return rows

    def outside_counts(self, i: int, rows: dict) -> dict:
        store = pq.read_table(os.path.join(self.inp.path, "store.parquet"), columns=["p", "graph"])
        mine = store.filter(pc.equal(store["graph"], I.af_data_graph(self.graph(i))))
        preds = _slice_predicates(self.shapes_rows())
        rows["validate"] = pc.sum(pc.is_in(mine["p"], value_set=_arrow_set(preds))).as_py()
        return {"validate.slice_rows": rows["validate"]}

    def check(self, i: int) -> str | None:
        want = self.inp.golden["by_shape"][self.graph(i)]
        report = pq.read_table(self.report, columns=["p", "o_value"])
        shapes = report.filter(pc.equal(report["p"], I.SH + "sourceShape"))["o_value"]
        got = dict(collections.Counter(shapes.to_pylist()))
        if got != want:
            return f"results per shape {got} != {want}"
        n_results = pc.sum(pc.equal(report["p"], I.SH + "result")).as_py() or 0
        if n_results != sum(want.values()):
            return f"report graph holds {n_results} results, want {sum(want.values())}"
        return None


WORKLOADS = {w.name: w for w in (KgBuild, PluginAfRequests)}

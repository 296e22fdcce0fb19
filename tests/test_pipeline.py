"""End-to-end pipeline tests: golden triple P/R, checkpoint/resume
equivalence, determinism."""

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
from cmem_plugin_pyshacl_spark.plans.pipeline import (
    canonicalize_stage,
    relations_fused_stage,
    run_pipeline,
    triples_stage,
    unique_relations_stage,
)
from cmem_plugin_pyshacl_spark.sources.pages import (
    ORGS,
    PERSONS,
    PLACES,
    _mention_sentences,
    generate_pages,
)

N = 400


def _shapes(spark):
    return triples_from_rows(
        spark,
        [
            (EX + "OrgShape", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "OrgShape", SH + "targetClass", iri(EX + "Organization")),
            (EX + "OrgShape", SH + "property", iri(EX + "OrgShape-p")),
            (EX + "OrgShape-p", SH + "path", iri(EX + "basedIn")),
            (EX + "OrgShape-p", SH + "minCount", lit_typed("1", XSD_INTEGER)),
        ],
    )


def _golden_triples() -> set[tuple[str, str, str]]:
    """Exact expected (s, p, o_value) set computed from the generator
    formulas — the pipeline's P/R reference (north_rule P/R >= 0.95)."""
    import re

    def norm(s: str) -> str:
        c = s.lower()
        c = re.sub(r"\s+(inc|corp|ltd|gmbh|llc)\.?$", "", c)
        c = re.sub(r"[^\w\s]", "", c)
        return re.sub(r"\s+", " ", c.strip())

    rels = []
    for i in range(N):
        if i % 5 in (0, 1, 2):
            p = PERSONS[(i * 7) % len(PERSONS)]
            o = ORGS[(i * 11) % len(ORGS)]
            surf = f"{o} Inc." if i % 3 == 0 else o
            rels.append((p, "PERSON", EX + "worksAt", surf, "ORG"))
        if i % 5 in (1, 3):
            o = ORGS[(i * 13) % len(ORGS)]
            pl = PLACES[(i * 17) % len(PLACES)]
            rels.append((o, "ORG", EX + "basedIn", pl, "PLACE"))
    surfaces = {s for r in rels for s in (r[0], r[3])}
    canon: dict[str, str] = {}
    by_norm: dict[str, list[str]] = {}
    for s in surfaces:
        by_norm.setdefault(norm(s), []).append(s)
    for grp in by_norm.values():
        c = min(grp)
        for s in grp:
            canon[s] = c
    type_iri = {"PERSON": EX + "Person", "ORG": EX + "Organization", "PLACE": EX + "Place"}

    def ent(surface, typ):
        return EX + typ.lower() + "/" + re.sub(r"\s", "_", norm(canon[surface]))

    out = set()
    for ss, st, pred, os_, ot in rels:
        s_iri, o_iri = ent(ss, st), ent(os_, ot)
        out.add((s_iri, pred, o_iri))
        out.add((s_iri, RDF_TYPE, type_iri[st]))
        out.add((o_iri, RDF_TYPE, type_iri[ot]))
        out.add((s_iri, "http://www.w3.org/2000/01/rdf-schema#label", canon[ss]))
        out.add((o_iri, "http://www.w3.org/2000/01/rdf-schema#label", canon[os_]))
    return out


def test_triples_match_golden_exactly(spark):
    pages = generate_pages(spark, N)
    rel = relations_fused_stage(pages)
    triples = triples_stage(rel, canonicalize_stage(rel))
    got = {(r.s, r.p, r.o_value) for r in triples.collect()}
    golden = _golden_triples()
    # north_rule requires P/R >= 0.95; the deterministic grammar gives 1.0
    assert got == golden


def test_triples_stage_mapping_broadcast_is_gated(spark, monkeypatch):
    """Round-4 VERDICT finding 1: the canonical-surface mapping broadcast
    in triples_stage goes through the stats-only size gate — the mention
    detector is open-pattern, so distinct surfaces grow with the corpus
    and a forced broadcast OOMs at 10^12-page scale.

    A large estimate leaves both mapping joins unhinted (AQE decides); a
    small estimate hints both, with no job. Both produce identical
    triples."""
    import cmem_plugin_pyshacl_spark.data_model as dm

    pages = generate_pages(spark, N)
    rel = relations_fused_stage(pages)

    mapping = canonicalize_stage(rel)
    monkeypatch.setattr(dm, "_plan_size_bytes", lambda df: 1 << 40)
    unhinted = triples_stage(rel, mapping)
    plan = unhinted._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in plan.lower(), plan
    got_unhinted = {(r.s, r.p, r.o_value) for r in unhinted.collect()}

    # fresh mapping frame — the gate memoizes its verdict on the DataFrame
    # object
    mapping2 = canonicalize_stage(rel)
    monkeypatch.setattr(dm, "_plan_size_bytes", lambda df: 1 << 10)
    hinted = triples_stage(rel, mapping2)
    plan2 = hinted._jdf.queryExecution().analyzed().toString()
    assert plan2.lower().count("broadcast") == 2, plan2
    assert {(r.s, r.p, r.o_value) for r in hinted.collect()} == got_unhinted


def test_canonicalize_stage_is_lazy_with_honest_estimate(spark):
    """The mapping broadcast gate in triples_stage trusts the Catalyst
    estimate alone, which is sound only because canonicalize_stage runs no
    job at call time and its plan's estimate is not saturated."""
    import cmem_plugin_pyshacl_spark.data_model as dm

    rel_u = unique_relations_stage(
        relations_fused_stage(generate_pages(spark, N))
    ).persist()
    rel_u.count()
    sc = spark.sparkContext
    group = "canonicalize_stage_call"
    sc.setJobGroup(group, group)
    mapping = canonicalize_stage(rel_u).persist()
    sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    est = dm._plan_size_bytes(mapping)
    mapping.unpersist()
    rel_u.unpersist()
    assert jobs == []
    assert est is not None and est < dm._EST_SATURATED, est


def test_pipeline_checkpoint_resume(spark, tmp_path):
    pages = generate_pages(spark, N)
    shapes = _shapes(spark)
    out = str(tmp_path / "run")
    r1 = run_pipeline(spark, pages, shapes, out_dir=out)
    t1 = sorted(map(tuple, r1.triples.select("s", "p", "o_value").collect()))
    res1 = r1.results.count()

    # resume: triples stage must be read back, not recomputed
    r2 = run_pipeline(spark, pages, shapes, out_dir=out, resume=True)
    assert r2.metrics.get("triples_resumed") is True
    t2 = sorted(map(tuple, r2.triples.select("s", "p", "o_value").collect()))
    assert t1 == t2
    assert r2.results.count() == res1


def test_pipeline_reports_cover_all_partitions(spark, tmp_path):
    pages = generate_pages(spark, N)
    r = run_pipeline(spark, pages, _shapes(spark))
    reports = {row.part_id: row for row in r.reports.collect()}
    triple_parts = {
        row.part_id for row in r.triples.select("part_id").distinct().collect()
    }
    assert set(reports) == triple_parts
    # every report row is consistent: conforms <=> zero results
    for row in reports.values():
        assert row.conforms == (row.results_count == 0)


def test_pipeline_reports_aggregate_written_results(spark, tmp_path, monkeypatch):
    """With out_dir set, the reports sink aggregates the written
    validation_results parquet: its plan scans that file and holds no
    InMemoryRelation of validate's eval slice, so the constraints are
    evaluated once per run."""
    import cmem_plugin_pyshacl_spark.plans.pipeline as pipeline_mod
    from cmem_plugin_pyshacl_spark.plans.shacl import partition_reports

    built = []

    def _spy(*args):
        built.append(partition_reports(*args))
        return built[-1]

    monkeypatch.setattr(pipeline_mod, "partition_reports", _spy)
    run_pipeline(spark, generate_pages(spark, N), _shapes(spark), out_dir=str(tmp_path / "run"))
    (reports,) = built
    assert any("validation_results" in f for f in reports.inputFiles())
    plan = reports._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan, plan


def test_mention_sentences_drive_relations(spark):
    # pages with no mention sentences produce no relations
    pages = generate_pages(spark, 40)
    rel = relations_fused_stage(pages).select("url").distinct().count()
    with_mentions = sum(1 for i in range(40) if _mention_sentences(i))
    assert rel == with_mentions


@pytest.mark.parametrize(
    "master",
    [
        "local[4]",
        # real separate executor JVMs: --py-files must actually SHIP the
        # zip to each executor's python workers across process
        # boundaries (the closest sandbox stand-in for the north rule's
        # multi-executor cluster; driver sys.path never reaches them)
        "local-cluster[2,2,4096]",
    ],
)
def test_spark_submit_py_files_ships_package(tmp_path, master):
    """north_rule: the job ships via `spark-submit --py-files`. Build the
    package zip, spark-submit tools/submit_job.py from OUTSIDE the repo
    with no PYTHONPATH, and check the pipeline ran end-to-end off the
    shipped zip alone."""
    import json
    import os
    import shutil
    import subprocess

    zip_base = str(tmp_path / "cmem_plugin_pyshacl_spark")
    shutil.make_archive(
        zip_base, "zip", root_dir="/root/repo", base_dir="cmem_plugin_pyshacl_spark"
    )
    out_dir = str(tmp_path / "out")
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH",)
    }
    proc = subprocess.run(
        [
            "/opt/spark/bin/spark-submit",
            "--master", master,
            "--py-files", zip_base + ".zip",
            "/root/repo/tools/submit_job.py", "200", out_dir,
        ],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    metrics = json.loads(open(os.path.join(out_dir, "metrics.json")).read())
    assert metrics["n_results"] > 0 and metrics["n_report_partitions"] > 0
    assert os.path.exists(os.path.join(out_dir, "triples", "_SUCCESS"))

"""Round-3 fixes (round-2 ADVICE + VERDICT):
  * from_ntriples unescape order (backslash before \\n / \\")
  * full RDF-term keys through shape-ref noncon sets (no lexical conflation)
  * literals never satisfy sh:class; qualifiedMinCount >= 1 fails literals
  * closure iteration bound warns on truncation
  * broadcast(focus) hints are size-gated
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from cmem_plugin_pyshacl_spark import data_model as dm
from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    RDF_TYPE,
    SH,
    XSD_DATE,
    XSD_INTEGER,
    XSD_STRING,
    from_ntriples,
    iri,
    lit_typed,
    to_ntriples,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.plans import shacl as shacl_mod
from cmem_plugin_pyshacl_spark.plans.shacl import validate


# ------------------------------------------------------- NT escape order
def test_from_ntriples_backslash_before_n_roundtrip(spark):
    """NT-escaped C:\\nightly must parse back to backslash+'nightly', not
    backslash+newline (round-2 ADVICE: unescape order)."""
    tricky = [
        "C:\\nightly",          # backslash then 'n' — the reported corruption
        "a\\b",                 # lone backslash
        "tab\there",            # raw tab
        "cr\rhere",             # raw carriage return
        'quote"inside',
        "newline\nhere",
        "\\\\double",           # two backslashes
        "\\n",                  # backslash + n again, leading
    ]
    rows = [
        (f"urn:s{i}", EX + "p", lit_typed(v, XSD_STRING))
        for i, v in enumerate(tricky)
    ]
    df = triples_from_rows(spark, rows)
    back = from_ntriples(to_ntriples(df))
    got = {r.s: r.o_value for r in back.collect()}
    assert got == {f"urn:s{i}": v for i, v in enumerate(tricky)}


# --------------------------------------------- term identity in shape refs
def _or_shapes(spark):
    rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
        (EX + "S", SH + "property", iri(EX + "S-p")),
        (EX + "S-p", SH + "path", iri(EX + "p")),
        (EX + "S-p", SH + "or", iri("urn:orlist:0")),
        ("urn:orlist:0", "http://www.w3.org/1999/02/22-rdf-syntax-ns#first", iri(EX + "IntShape")),
        ("urn:orlist:0", "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest", iri("urn:orlist:1")),
        ("urn:orlist:1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#first", iri(EX + "DateShape")),
        ("urn:orlist:1", "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest",
         iri("http://www.w3.org/1999/02/22-rdf-syntax-ns#nil")),
        (EX + "IntShape", SH + "datatype", iri(XSD_INTEGER)),
        (EX + "DateShape", SH + "datatype", iri(XSD_DATE)),
    ]
    return triples_from_rows(spark, rows)


def test_or_does_not_conflate_terms_sharing_lexical_form(spark):
    """"5"^^xsd:integer conforms to the integer alternative; "5"^^xsd:string
    fails both. Keyed by bare v_value they conflate and the integer 5 gets a
    false violation (round-2 ADVICE)."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", lit_typed("5", XSD_INTEGER)),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", lit_typed("5", XSD_STRING)),
        ],
    )
    res = validate(spark, data, _or_shapes(spark)).collect()
    assert {r.focusNode for r in res} == {"urn:b"}
    assert len(res) == 1
    assert res[0].value == "5"
    assert res[0].value_datatype == XSD_STRING


def test_or_does_not_conflate_iri_with_equal_lexical_literal(spark):
    """An IRI whose text equals a literal's lexical form is a DIFFERENT
    term: the literal's conformance must not leak onto the IRI."""
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", lit_typed("7", XSD_INTEGER)),  # conforms (int)
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", iri("7")),  # IRI "7" — fails both datatypes
        ],
    )
    res = validate(spark, data, _or_shapes(spark)).collect()
    assert {r.focusNode for r in res} == {"urn:b"}


# -------------------------------------------- literals vs class / qualified
def test_literal_never_instance_of_class_under_node_ref(spark):
    shapes = triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "T")),
            (EX + "S", SH + "property", iri(EX + "S-p")),
            (EX + "S-p", SH + "path", iri(EX + "p")),
            (EX + "S-p", SH + "node", iri(EX + "ClsShape")),
            (EX + "ClsShape", SH + "class", iri(EX + "Cls")),
        ],
    )
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", iri("urn:good")),
            ("urn:good", RDF_TYPE, iri(EX + "Cls")),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", lit_typed("just text", XSD_STRING)),
        ],
    )
    res = validate(spark, data, shapes).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:b", "just text")}


def test_qualified_min_count_fails_literal_under_node_ref(spark):
    """A literal checked against a shape whose property carries
    sh:qualifiedMinCount >= 1 can never conform (no outgoing edges)."""
    shapes = triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "T")),
            (EX + "S", SH + "property", iri(EX + "S-p")),
            (EX + "S-p", SH + "path", iri(EX + "p")),
            (EX + "S-p", SH + "node", iri(EX + "QShape")),
            (EX + "QShape", SH + "property", iri(EX + "QShape-q")),
            (EX + "QShape-q", SH + "path", iri(EX + "q")),
            (EX + "QShape-q", SH + "qualifiedValueShape", iri(EX + "QV")),
            (EX + "QShape-q", SH + "qualifiedMinCount", lit_typed("1", XSD_INTEGER)),
            (EX + "QV", SH + "nodeKind", iri(SH + "IRI")),
        ],
    )
    data = triples_from_rows(
        spark,
        [
            ("urn:a", RDF_TYPE, iri(EX + "T")),
            ("urn:a", EX + "p", iri("urn:good")),
            ("urn:good", EX + "q", iri("urn:anything")),
            ("urn:b", RDF_TYPE, iri(EX + "T")),
            ("urn:b", EX + "p", lit_typed("leafless", XSD_STRING)),
        ],
    )
    res = validate(spark, data, shapes).collect()
    assert {(r.focusNode, r.value) for r in res} == {("urn:b", "leafless")}


# ------------------------------------------------------ closure truncation
def _deep_chain(spark, n):
    rows = [("urn:n0", RDF_TYPE, iri(EX + "T"))]
    for i in range(n):
        rows.append((f"urn:n{i}", EX + "next", iri(f"urn:n{i + 1}")))
    return triples_from_rows(spark, rows)


def _chain_shapes(spark, target_value):
    return triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "T")),
            (EX + "S", SH + "property", iri(EX + "S-p")),
            (EX + "S-p", SH + "path", iri("urn:pathnode")),
            ("urn:pathnode", SH + "oneOrMorePath", iri(EX + "next")),
            (EX + "S-p", SH + "hasValue", iri(target_value)),
        ],
    )


def test_closure_bound_warns(spark, caplog):
    """The closure fixpoint runs at most 25 rounds: a 30-hop chain
    truncates there and the engine WARNS (no silent truncation), while a
    20-hop chain completes inside the bound with no warning."""
    logger = "cmem_plugin_pyshacl_spark.plans.shacl"
    depth = 30
    with caplog.at_level(logging.WARNING, logger=logger):
        truncated = validate(
            spark, _deep_chain(spark, depth), _chain_shapes(spark, f"urn:n{depth}")
        ).collect()
    assert any("closure reached" in r.message for r in caplog.records)
    # truncated: n0 cannot see urn:n30 -> false hasValue violation
    assert "urn:n0" in {r.focusNode for r in truncated}

    caplog.clear()
    depth = 20
    with caplog.at_level(logging.WARNING, logger=logger):
        full = validate(
            spark, _deep_chain(spark, depth), _chain_shapes(spark, f"urn:n{depth}")
        ).collect()
    assert not any("closure reached" in r.message for r in caplog.records)
    # full closure: n0 reaches n20
    assert "urn:n0" not in {r.focusNode for r in full}


# -------------------------------------------------------- broadcast gating
def _gate_fixture(spark, n_focus=40):
    rows = []
    for i in range(n_focus):
        rows.append((f"urn:f{i}", RDF_TYPE, iri(EX + "T")))
        if i % 2 == 0:
            rows.append((f"urn:f{i}", EX + "p", lit_typed(f"v{i}", XSD_STRING)))
    data = triples_from_rows(spark, rows)
    shapes = triples_from_rows(
        spark,
        [
            (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
            (EX + "S", SH + "targetClass", iri(EX + "T")),
            (EX + "S", SH + "property", iri(EX + "S-p")),
            (EX + "S-p", SH + "path", iri(EX + "p")),
            (EX + "S-p", SH + "minCount", lit_typed("1", XSD_INTEGER)),
        ],
    )
    return data, shapes


def _jobs_of(spark, group, fn):
    """Run fn() under a job group with AQE off (AQE submits one job per
    query stage; without it every action is exactly one job) and return
    (fn's value, the group's job ids)."""
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        value = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    return value, list(sc.statusTracker().getJobIdsForGroup(group))


def test_is_small_respects_threshold(spark):
    """data_model.is_small in its two steps: an informative Catalyst
    estimate decides alone with no job (small iff <= 256 MB); an
    uninformative one (an RDD-backed local frame reports
    defaultSizeInBytes) runs exactly one bounded probe, memoized per
    frame."""
    small = spark.range(5).select(F.concat(F.lit("urn:y"), F.col("id")).alias("focus"))
    assert _jobs_of(spark, "gate_est_small", lambda: dm.is_small(small)) == (True, [])
    big = spark.range(1 << 40)  # informative 8 TB estimate
    assert dm._plan_size_bytes(big) < dm._EST_SATURATED
    assert _jobs_of(spark, "gate_est_big", lambda: dm.is_small(big)) == (False, [])

    local = spark.createDataFrame([(f"urn:z{i}",) for i in range(5)], "focus string")
    assert dm._plan_size_bytes(local) >= dm._EST_SATURATED
    verdict, jobs = _jobs_of(spark, "gate_probe", lambda: dm.is_small(local))
    assert verdict is True and len(jobs) == 1, jobs
    assert _jobs_of(spark, "gate_probe_memo", lambda: dm.is_small(local)) == (True, [])


def test_large_focus_plan_is_unhinted_and_correct(spark, monkeypatch):
    """With an informative LARGE estimate (an honest file-size-backed big
    scan), validate() must build an UNHINTED plan (no broadcast hint
    anywhere in the analyzed tree) and still produce identical violations
    (round-2 VERDICT finding 1)."""
    data, shapes = _gate_fixture(spark)
    expected = {
        (r.focusNode, r.sourceConstraintComponent)
        for r in validate(spark, data, shapes).collect()
    }
    assert len(expected) == 20  # every odd focus lacks p

    monkeypatch.setattr(dm, "_plan_size_bytes", lambda df: 1 << 40)
    gated = validate(spark, data, shapes)
    plan = gated._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in plan.lower(), plan
    assert {
        (r.focusNode, r.sourceConstraintComponent) for r in gated.collect()
    } == expected


def test_small_focus_plan_keeps_broadcast_hint(spark, tmp_path):
    """A provably-small relation (parquet-backed: Catalyst reads its file
    size, the realistic shape of production inputs) keeps the broadcast
    hint with no probe. A python-local createDataFrame frame is RDD-backed
    with UNKNOWN stats, so the gate probes its focus frames, finds them
    small and hints them too — assert both."""
    data_local, shapes = _gate_fixture(spark)
    pq = str(tmp_path / "gate_data.parquet")
    data_local.write.mode("overwrite").parquet(pq)
    data = spark.read.parquet(pq)
    res = validate(spark, data, shapes)
    plan = res._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in plan.lower()

    probed = validate(spark, data_local, shapes)
    plan2 = probed._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in plan2.lower()
    assert {(r.focusNode, r.sourceConstraintComponent) for r in res.collect()} == {
        (r.focusNode, r.sourceConstraintComponent) for r in probed.collect()
    }


def test_saturated_estimate_count_fallback_restores_hint(spark, monkeypatch):
    """validate() builds its persisted predicate slice before planning any
    focus frame, so data with an UNINFORMATIVE estimate (python-local,
    RDD-backed) still gets hinted plans, and the slice count is the only
    data-side job at plan time: exactly one job more than the same call
    over a cache the caller already built (no slice, informative
    estimates). A finite LARGE estimate (an honest file-size-backed big
    scan) must stay unhinted."""
    data, shapes = _gate_fixture(spark)
    # second property shape so the slice persists (it is only taken when
    # more than one constraint reads it)
    shapes = shapes.unionByName(
        triples_from_rows(
            spark,
            [
                (EX + "S", SH + "property", iri(EX + "S-q")),
                (EX + "S-q", SH + "path", iri(EX + "p")),
                (EX + "S-q", SH + "datatype", iri(XSD_STRING)),
            ],
        )
    )
    expected = {
        (r.focusNode, r.sourceConstraintComponent)
        for r in validate(spark, data, shapes).collect()
    }

    data_built, _ = _gate_fixture(spark)
    data_built.persist().count()
    _, jobs_built = _jobs_of(
        spark, "validate_built", lambda: validate(spark, data_built, shapes)
    )
    data_built.unpersist()
    fresh, _ = _gate_fixture(spark)
    assert dm._plan_size_bytes(fresh) >= dm._EST_SATURATED
    hinted, jobs = _jobs_of(
        spark, "validate_sliced", lambda: validate(spark, fresh, shapes)
    )
    assert len(jobs) == len(jobs_built) + 1, (jobs, jobs_built)
    plan = hinted._jdf.queryExecution().analyzed().toString()
    assert "broadcast" in plan.lower(), plan
    assert {
        (r.focusNode, r.sourceConstraintComponent) for r in hinted.collect()
    } == expected

    # finite large (below the saturation band) -> no probe, unhinted
    monkeypatch.setattr(dm, "_plan_size_bytes", lambda df: 1 << 40)
    unhinted = validate(spark, data, shapes)
    plan2 = unhinted._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in plan2.lower(), plan2
    assert {
        (r.focusNode, r.sourceConstraintComponent) for r in unhinted.collect()
    } == expected


# -------------------------------------------------- eval-slice lifecycle
def test_eval_slice_bounded_and_releasable(spark):
    """Round-4 contract (drift bisect, BENCH.md): the persisted predicate
    slice stays cached ACROSS validate() calls so repeated validates over
    the same data reuse the warm CacheManager entry (the round-3 GC
    finalizer recomputed the derive+slice every call, ~+50% per rep), but
    the registry is bounded at ONE slice and release_eval_cache() frees
    it."""
    import time

    assert not hasattr(shacl_mod, "_EVAL_SLICE")  # r2's unbounded registry
    data, shapes = _gate_fixture(spark)

    def n_persisted() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    # a second property shape so n_constraints > 1 → the slice persists
    shapes = shapes.unionByName(
        triples_from_rows(
            spark,
            [
                (EX + "S", SH + "property", iri(EX + "S-q")),
                (EX + "S-q", SH + "path", iri(EX + "p")),
                (EX + "S-q", SH + "datatype", iri(XSD_STRING)),
            ],
        )
    )
    shacl_mod.release_eval_cache()
    base = n_persisted()
    for _ in range(3):
        res = validate(spark, data, shapes)
        assert res.count() == 20
        del res
    # bounded: repeated same-plan validates pin at most ONE extra slice
    assert n_persisted() <= base + 1
    assert len(shacl_mod._SLICE_CACHE) == 1
    shacl_mod.release_eval_cache()
    assert not shacl_mod._SLICE_CACHE
    for _ in range(20):  # unpersist is async; poll briefly
        if n_persisted() <= base:
            break
        time.sleep(0.25)
    assert n_persisted() <= base
"""Property-based tests (hypothesis): path-algebra invariants, term-key
injectivity, randomized count-constraint validation against a pure
python reference evaluator, and entity canonicalization against
connected components."""

from __future__ import annotations

import itertools

from hypothesis import example, given, settings, strategies as st

from cmem_plugin_pyshacl_spark.data_model import (
    EX,
    RDF,
    RDF_TYPE,
    SH,
    XSD_INTEGER,
    XSD_STRING,
    iri,
    lit_typed,
    triples_from_rows,
)
from cmem_plugin_pyshacl_spark.plans.shacl import (
    PAlt,
    PClosure,
    PInv,
    PPred,
    PSeq,
    _normalize_path,
    _path_display,
    _term_key_py,
    validate,
)

# ---------------------------------------------------------------- strategies
_preds = st.sampled_from(["a", "b", "c", "d"]).map(PPred)


def _trees():
    return st.recursive(
        _preds,
        lambda kids: st.one_of(
            kids.map(PInv),
            st.lists(kids, min_size=2, max_size=3).map(lambda xs: PSeq(tuple(xs))),
            st.lists(kids, min_size=2, max_size=3).map(lambda xs: PAlt(tuple(xs))),
            st.tuples(
                kids, st.sampled_from(["zeroOrMore", "oneOrMore", "zeroOrOne"])
            ).map(lambda t: PClosure(*t)),
        ),
        max_leaves=8,
    )


def _no_complex_inverse(e) -> bool:
    """Invariant: after normalization PInv only wraps PPred."""
    if isinstance(e, PPred):
        return True
    if isinstance(e, PInv):
        return isinstance(e.sub, PPred)
    if isinstance(e, (PSeq, PAlt)):
        return all(_no_complex_inverse(p) for p in e.parts)
    return _no_complex_inverse(e.sub)


@given(_trees())
@settings(max_examples=200, deadline=None)
def test_normalize_pushes_inverses_to_leaves(tree):
    n = _normalize_path(tree)
    assert _no_complex_inverse(n)


@given(_trees())
@settings(max_examples=200, deadline=None)
def test_normalize_idempotent(tree):
    n = _normalize_path(tree)
    assert _normalize_path(n) == n


@given(_trees())
@settings(max_examples=200, deadline=None)
def test_double_inverse_cancels(tree):
    n1 = _normalize_path(_normalize_path(PInv(PInv(tree))))
    n2 = _normalize_path(tree)
    assert _path_display(n1) == _path_display(n2)


# ------------------------------------------------------------ term identity
_vals = st.text(
    alphabet=st.characters(blacklist_characters="\x01", codec="utf-8"),
    min_size=0,
    max_size=12,
)
_terms = st.tuples(
    _vals,
    st.sampled_from(["iri", "literal"]),
    st.one_of(st.none(), st.sampled_from([XSD_STRING, XSD_INTEGER])),
    st.one_of(st.none(), st.sampled_from(["en", "en-GB", "de"])),
)


def _canon(t):
    """RDF 1.1 canonical form of a term tuple (mirrors _term_key_py)."""
    v, kind, dt, lang = t
    if kind != "literal":
        return (kind, v, None, None)
    eff = dt or ("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString" if lang else XSD_STRING)
    return (kind, v, eff, (lang or "").lower() or None)


@given(_terms, _terms)
@settings(max_examples=300, deadline=None)
def test_term_key_matches_canonical_equality(t1, t2):
    assert (_term_key_py(*t1) == _term_key_py(*t2)) == (_canon(t1) == _canon(t2))


# ------------------------------------------- randomized count constraints
@st.composite
def _graph_and_bounds(draw):
    n_subjects = draw(st.integers(min_value=1, max_value=8))
    counts = {
        f"urn:s{i}": draw(st.integers(min_value=0, max_value=4))
        for i in range(n_subjects)
    }
    min_c = draw(st.integers(min_value=0, max_value=3))
    max_c = draw(st.integers(min_value=min_c, max_value=4))
    return counts, min_c, max_c


@given(_graph_and_bounds())
@settings(max_examples=8, deadline=None)
def test_count_constraints_match_python_reference(spark, case):
    counts, min_c, max_c = case
    rows = []
    for s, k in counts.items():
        rows.append((s, RDF_TYPE, iri(EX + "T")))
        for j in range(k):
            rows.append((s, EX + "p", (f"v{j}", "literal", XSD_STRING, None)))
    data = triples_from_rows(spark, rows)
    shape_rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
        (EX + "S", SH + "property", iri(EX + "S-p")),
        (EX + "S-p", SH + "path", iri(EX + "p")),
        (EX + "S-p", SH + "minCount", lit_typed(str(min_c), XSD_INTEGER)),
        (EX + "S-p", SH + "maxCount", lit_typed(str(max_c), XSD_INTEGER)),
    ]
    res = validate(spark, data, triples_from_rows(spark, shape_rows))
    got = {(r.focusNode, r.sourceConstraintComponent) for r in res.collect()}
    expected = set()
    for s, k in counts.items():
        if min_c > 0 and k < min_c:
            expected.add((s, SH + "MinCountConstraintComponent"))
        if k > max_c:
            expected.add((s, SH + "MaxCountConstraintComponent"))
    assert got == expected


# ------------------------- value components vs a Python oracle (randomized)
_SAMPLE_VALUES = ["7", "42", "abc", "de", "2020-01-01", ""]
_AS_DOUBLE = {"7": 7.0, "42": 42.0}  # the samples Spark's try_cast reads as numbers


@st.composite
def _random_catalog(draw):
    """Random xsd:string values on ex:p + a random catalog of 1-18
    constraints mixing count/length/datatype/range components."""
    n_subj = draw(st.integers(min_value=1, max_value=5))
    data = {
        f"urn:s{i}": draw(st.lists(st.sampled_from(_SAMPLE_VALUES), max_size=3, unique=True))
        for i in range(n_subj)
    }
    n_constraints = draw(st.integers(min_value=1, max_value=18))
    constraints = [
        (
            j,
            draw(st.sampled_from(["min", "max", "minlen", "maxlen", "dt", "rng"])),
            draw(st.integers(min_value=0, max_value=3)),
        )
        for j in range(n_constraints)
    ]
    return data, constraints


def _oracle(data_map, constraints):
    """W3C SHACL §4.1.2, §4.2, §4.3.2 and §4.4.1-2 over the generated
    catalog, in plain Python: (focus, shape, component, value, message)."""
    out = set()
    for s, vals in data_map.items():
        for j, kind, n in constraints:
            sid = f"{EX}S-p{j}"

            def hit(comp, value, msg):
                out.add((s, sid, SH + comp + "ConstraintComponent", value, msg))

            if kind == "min" and len(vals) < n:
                hit("MinCount", "", f"Less than {n} values on {EX}p")
            if kind == "max" and len(vals) > n:
                hit("MaxCount", "", f"More than {n} values on {EX}p")
            for v in vals:
                if kind == "minlen" and len(v) < n:
                    hit("MinLength", v, f"Value has less than {n} characters")
                if kind == "maxlen" and len(v) > n:
                    hit("MaxLength", v, f"Value has more than {n} characters")
                if kind == "dt":  # every value is an xsd:string
                    hit("Datatype", v, f"Value does not have datatype {XSD_INTEGER}")
                # a non-numeric value is not comparable with a numeric bound
                if kind == "rng" and not _AS_DOUBLE.get(v, float("-inf")) >= 10 * n:
                    hit("MinInclusive", v, f"Value is not >= {10 * n}")
    return out


@given(_random_catalog())
@settings(max_examples=5, deadline=None)
def test_value_components_match_python_oracle_randomized(spark, case):
    data_map, constraints = case
    rows = []
    for s, vals in data_map.items():
        rows.append((s, RDF_TYPE, iri(EX + "T")))
        for v in vals:
            rows.append((s, EX + "p", (v, "literal", XSD_STRING, None)))
    data = triples_from_rows(spark, rows)
    shape_rows = [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "targetClass", iri(EX + "T")),
    ]
    params = {
        "min": "minCount", "max": "maxCount", "minlen": "minLength",
        "maxlen": "maxLength", "rng": "minInclusive",
    }
    for j, kind, n in constraints:
        pid = f"{EX}S-p{j}"
        shape_rows += [
            (EX + "S", SH + "property", iri(pid)),
            (pid, SH + "path", iri(EX + "p")),
        ]
        if kind == "dt":
            shape_rows.append((pid, SH + "datatype", iri(XSD_INTEGER)))
        else:
            bound = str(10 * n if kind == "rng" else n)
            shape_rows.append((pid, SH + params[kind], lit_typed(bound, XSD_INTEGER)))
    shapes = triples_from_rows(spark, shape_rows)
    got = [
        (r.focusNode, r.sourceShape, r.sourceConstraintComponent,
         "" if r.value is None else r.value, r.resultMessage)
        for r in validate(spark, data, shapes).collect()
    ]
    assert len(got) == len(set(got))  # one result per violation
    assert set(got) == _oracle(data_map, constraints)


# ------------------------------------------------- N-Quads round-trip (r4)
_lex = st.text(
    # printable + the escaped control chars nt_term handles; avoid
    # surrogates / NULs (the parser's internal sentinel)
    st.characters(codec="utf-8", exclude_characters="\x00", min_codepoint=9),
    max_size=40,
)
_iri_chars = st.text(
    st.sampled_from("abcdefghijklmnopqrstuvwxyz0123456789:/#._-"), min_size=1, max_size=20
)


@st.composite
def _quad_rows(draw):
    n = draw(st.integers(min_value=1, max_value=8))
    rows, graphs = [], []
    for i in range(n):
        s = "urn:s" + draw(_iri_chars)
        p = EX + draw(_iri_chars)
        kind = draw(st.sampled_from(["iri", "plain", "typed", "lang"]))
        if kind == "iri":
            obj = ("urn:o" + draw(_iri_chars), "iri", None, None)
        elif kind == "plain":
            obj = (draw(_lex), "literal", None, None)
        elif kind == "typed":
            obj = (draw(_lex), "literal", XSD_INTEGER, None)
        else:
            obj = (draw(_lex), "literal", None, draw(st.sampled_from(["en", "de-DE"])))
        rows.append((s, p, obj))
        graphs.append(draw(st.one_of(st.none(), st.just("urn:g:" + draw(_iri_chars)))))
    return rows, graphs


@given(_quad_rows())
@settings(max_examples=10, deadline=None)
def test_nquads_roundtrip_property(spark, case):
    """to_nquads ∘ from_nquads is the identity on term content + graph
    (modulo RDF 1.1 plain≡xsd:string), for arbitrary lexical forms
    including quotes/backslashes/newlines/angle brackets."""
    from cmem_plugin_pyshacl_spark.data_model import (
        from_nquads,
        to_nquads,
    )

    rows, graphs = case
    frames = []
    for (s, p, obj), g in zip(rows, graphs):
        frames.append(triples_from_rows(spark, [(s, p, obj)], graph=g))
    t = frames[0]
    for f in frames[1:]:
        t = t.unionByName(f)
    back = from_nquads(to_nquads(t))

    def norm(r):
        dt = r.o_datatype
        if r.o_kind == "literal" and dt is None and r.o_lang is None:
            dt = XSD_STRING
        return (r.s, r.p, r.o_kind, r.o_value, dt, r.o_lang, r.graph)

    assert sorted(norm(r) for r in back.collect()) == sorted(
        norm(r) for r in t.collect()
    )


@given(_quad_rows())
@settings(max_examples=8, deadline=None)
def test_trig_roundtrip_property(spark, case):
    """to_trig ∘ parse_trig is the identity on term content + graph for
    arbitrary lexical forms (IRI-safe graph names)."""
    from cmem_plugin_pyshacl_spark.sources.turtle import parse_trig, to_trig

    rows, graphs = case
    frames = []
    for (s, p, obj), g in zip(rows, graphs):
        frames.append(triples_from_rows(spark, [(s, p, obj)], graph=g))
    t = frames[0]
    for f in frames[1:]:
        t = t.unionByName(f)
    doc = "\n".join(r.line for r in to_trig(t).collect())
    back = parse_trig(doc)

    def norm_expected(r):
        dt = r.o_datatype
        if r.o_kind == "literal" and dt is None and r.o_lang is None:
            dt = XSD_STRING
        return (r.s, r.p, r.o_kind, r.o_value, dt, r.o_lang, r.graph)

    def norm_got(row):
        s, p, k, v, dt, lang, g, _pid = row
        if k == "literal" and dt is None and lang is None:
            dt = XSD_STRING
        return (s, p, k, v, dt, lang, g)

    assert sorted(map(norm_got, back)) == sorted(
        norm_expected(r) for r in t.collect()
    )


@given(_quad_rows())
@settings(max_examples=8, deadline=None)
def test_trig_bulk_roundtrip_property(spark, case):
    """to_trig(line_delimited=True) ∘ from_trig_lines is the identity on
    term content + graph for arbitrary lexical forms — the DISTRIBUTED
    round-trip (escaped newlines/quotes must survive the one-statement-
    per-line subset; differential vs the driver-side parse above)."""
    from cmem_plugin_pyshacl_spark.sources.trig_bulk import from_trig_lines
    from cmem_plugin_pyshacl_spark.sources.turtle import to_trig

    rows, graphs = case
    frames = []
    for (s, p, obj), g in zip(rows, graphs):
        frames.append(triples_from_rows(spark, [(s, p, obj)], graph=g))
    t = frames[0]
    for f in frames[1:]:
        t = t.unionByName(f)
    back = from_trig_lines(to_trig(t, line_delimited=True), line_col="line")

    def norm_expected(r):
        dt = r.o_datatype
        if r.o_kind == "literal" and dt is None and r.o_lang is None:
            dt = XSD_STRING
        return (r.s, r.p, r.o_kind, r.o_value, dt, r.o_lang, r.graph)

    def norm_got(r):
        dt = r.o_datatype
        if r.o_kind == "literal" and dt is None and r.o_lang is None:
            dt = XSD_STRING
        return (r.s, r.p, r.o_kind, r.o_value, dt, r.o_lang, r.graph)

    assert sorted(norm_got(r) for r in back.collect()) == sorted(
        norm_expected(r) for r in t.collect()
    )


# --------------------------------------------- SPARQL BGP differential
@st.composite
def _bgp_case(draw):
    """A random small graph plus a two-pattern join query with an
    optional numeric FILTER — compared against a naive Python evaluator."""
    subs = [f"urn:s{i}" for i in range(4)]
    n = draw(st.integers(min_value=5, max_value=14))
    triples = set()
    for _ in range(n):
        s = draw(st.sampled_from(subs))
        p = draw(st.sampled_from(["p0", "p1"]))
        if draw(st.booleans()):
            o = ("iri", draw(st.sampled_from(subs)))
        else:
            o = ("lit", str(draw(st.integers(min_value=0, max_value=5))))
        triples.add((s, p, o))
    use_filter = draw(st.booleans())
    k = draw(st.integers(min_value=0, max_value=5))
    return sorted(triples), use_filter, k


@given(_bgp_case())
@settings(max_examples=8, deadline=None)
def test_sparql_select_matches_python_reference(spark, case):
    """plans/query.py::sparql_select on `?x p0 ?y . ?y p1 ?z [FILTER]`
    agrees with a brute-force Python join over the same triple set —
    under the engine's documented comparison contract (numeric when the
    value casts to double, lexicographic string otherwise, so an IRI ?z
    compares as a string rather than dropping)."""
    from cmem_plugin_pyshacl_spark.plans.query import sparql_select

    triples, use_filter, k = case
    rows = [
        (s, EX + p, iri(o[1]) if o[0] == "iri" else lit_typed(o[1], XSD_INTEGER))
        for (s, p, o) in triples
    ]
    data = triples_from_rows(spark, rows)
    flt = f"FILTER(?z > {k})" if use_filter else ""
    q = (
        f"SELECT ?x ?y ?z WHERE {{ ?x <{EX}p0> ?y . "
        f"?y <{EX}p1> ?z . {flt} }}"
    )
    got = {
        (r["x"], r["y"], r["z"])
        for r in sparql_select(spark, data, q).collect()
    }
    expected = set()
    for s1, p1, o1 in triples:
        if p1 != "p0":
            continue
        for s2, p2, o2 in triples:
            if p2 != "p1" or s2 != o1[1]:
                continue
            if use_filter:
                try:
                    keep = float(o2[1]) > k
                except ValueError:
                    keep = o2[1] > str(k)
                if not keep:
                    continue
            expected.add((s1, o1[1], o2[1]))
    assert got == expected


# --------------------------- SPARQL syntax-invariance differentials (r4)


def _sparql_escape(s: str) -> str:
    """Render a Python string as a SPARQL double-quoted literal body."""
    out = s.replace("\\", "\\\\").replace('"', '\\"')
    return out.replace("\n", "\\n").replace("\r", "\\r").replace("\t", "\\t")


@st.composite
def _abbrev_case(draw):
    """One subject with 2-3 predicates, some multi-valued — rendered both
    as expanded triples and with Turtle ;/, abbreviations."""
    n_preds = draw(st.integers(min_value=2, max_value=3))
    po = []
    for i in range(n_preds):
        n_objs = draw(st.integers(min_value=1, max_value=2))
        po.append((f"p{i}", [draw(st.sampled_from(["urn:a", "urn:b", "urn:c"]))
                             for _ in range(n_objs)]))
    return po


@given(_abbrev_case())
@settings(max_examples=6, deadline=None)
def test_abbreviated_pattern_equals_expanded(spark, case):
    """`?s p1 o1 ; p2 o2a , o2b .` must bind exactly like the expanded
    triple list — the desugar is syntax only."""
    from cmem_plugin_pyshacl_spark.plans.query import sparql_select

    rows = []
    for i, (p, objs) in enumerate(case):
        for o in objs:
            rows.append(("urn:s0", EX + p, iri(o)))
    # an extra subject that matches only the first predicate
    rows.append(("urn:s1", EX + case[0][0], iri(case[0][1][0])))
    data = triples_from_rows(spark, rows)

    expanded = " . ".join(
        f"?s <{EX}{p}> <{o}>" for p, objs in case for o in objs
    )
    abbrev = " ; ".join(
        f"<{EX}{p}> " + " , ".join(f"<{o}>" for o in objs)
        for p, objs in case
    )
    q1 = f"SELECT ?s WHERE {{ {expanded} . }}"
    q2 = f"SELECT ?s WHERE {{ ?s {abbrev} . }}"
    r1 = sorted(r["s"] for r in sparql_select(spark, data, q1).collect())
    r2 = sorted(r["s"] for r in sparql_select(spark, data, q2).collect())
    assert r1 == r2


_tricky = st.text(
    st.characters(codec="utf-8", exclude_characters="\x00",
                  min_codepoint=9),
    min_size=1,
    max_size=15,
)


@given(_tricky)
@settings(max_examples=25, deadline=None)
def test_filter_string_escape_roundtrip(spark, s):
    """A literal containing arbitrary quotes/backslashes/control chars is
    findable via FILTER(?o = "<escaped>") — parser unescape must invert
    the writer escape exactly."""
    from cmem_plugin_pyshacl_spark.plans.query import sparql_select

    data = triples_from_rows(
        spark,
        [("urn:x", EX + "p", (s, "literal", None, None)),
         ("urn:y", EX + "p", (s + "!", "literal", None, None))],
    )
    q = (
        f'SELECT ?s WHERE {{ ?s <{EX}p> ?o . '
        f'FILTER(?o = "{_sparql_escape(s)}") }}'
    )
    got = [r["s"] for r in sparql_select(spark, data, q).collect()]
    assert got == ["urn:x"]


# ------------------------------------- SPARQL UPDATE sequence differential


@st.composite
def _update_case(draw):
    """A random default-graph store plus a random ;-sequence of update
    operations, mirrored by a pure-Python set reference."""
    subs = ["urn:s0", "urn:s1", "urn:s2"]
    objs = [("iri", "urn:o0"), ("iri", "urn:o1"),
            ("lit", "v0"), ("lit", "v1")]
    triple = st.tuples(
        st.sampled_from(subs), st.sampled_from(["p0", "p1"]),
        st.sampled_from(objs),
    )
    init = draw(st.sets(triple, min_size=1, max_size=8))
    ops = []
    for _ in range(draw(st.integers(min_value=1, max_value=3))):
        kind = draw(st.sampled_from(
            ["ins_data", "del_data", "del_where", "add", "rename"]
        ))
        if kind in ("ins_data", "del_data"):
            ops.append((kind, draw(st.sets(triple, min_size=1, max_size=2))))
        else:
            ops.append((kind, None))
    return sorted(init), ops


def _term_sparql(o):
    kind, v = o
    return f"<{v}>" if kind == "iri" else f'"{v}"'


@given(_update_case())
@settings(max_examples=6, deadline=None)
def test_update_sequence_matches_python_reference(spark, case):
    """sparql_update over a ;-sequence of INSERT DATA / DELETE DATA /
    DELETE WHERE / INSERT-WHERE / simultaneous-rename ops agrees with a
    Python set evaluator (default graph only; spec §3 sequencing, the
    rename op pins simultaneous delete-then-insert semantics)."""
    from cmem_plugin_pyshacl_spark.plans.query import sparql_update

    init, ops = case
    rows = [
        (s, EX + p, iri(v) if k == "iri" else (v, "literal", None, None))
        for (s, p, (k, v)) in init
    ]
    data = triples_from_rows(spark, rows)

    ref = {(s, p, o) for (s, p, o) in init}
    rendered = []
    for kind, arg in ops:
        if kind == "ins_data":
            body = " . ".join(
                f"<{s}> <{EX}{p}> {_term_sparql(o)}" for s, p, o in sorted(arg)
            )
            rendered.append(f"INSERT DATA {{ {body} }}")
            ref |= set(arg)
        elif kind == "del_data":
            body = " . ".join(
                f"<{s}> <{EX}{p}> {_term_sparql(o)}" for s, p, o in sorted(arg)
            )
            rendered.append(f"DELETE DATA {{ {body} }}")
            ref -= set(arg)
        elif kind == "del_where":
            rendered.append(f"DELETE WHERE {{ ?s <{EX}p0> ?o }}")
            ref = {(s, p, o) for (s, p, o) in ref if p != "p0"}
        elif kind == "add":
            rendered.append(
                f"INSERT {{ ?s <{EX}p2> ?o }} WHERE {{ ?s <{EX}p0> ?o }}"
            )
            ref |= {(s, "p2", o) for (s, p, o) in ref if p == "p0"}
        else:  # rename: simultaneous delete+insert from ONE binding set
            rendered.append(
                f"DELETE {{ ?s <{EX}p0> ?o }} INSERT {{ ?s <{EX}p1> ?o }} "
                f"WHERE {{ ?s <{EX}p0> ?o }}"
            )
            moved = {(s, "p1", o) for (s, p, o) in ref if p == "p0"}
            ref = {t for t in ref if t[1] != "p0"} | moved

    out = sparql_update(spark, data, " ; ".join(rendered))
    got = {
        (r.s, r.p.removeprefix(EX),
         ("iri", r.o_value) if r.o_kind == "iri" else ("lit", r.o_value))
        for r in out.collect()
    }
    assert got == ref


# ----------------------------- SPARQL algebra differentials (r4, fuzz)


@st.composite
def _algebra_graph(draw):
    """Random triples over a tiny universe: iri objects are other
    subjects (so chains exist); literal objects are small ints."""
    subs = [f"urn:s{i}" for i in range(4)]
    n = draw(st.integers(min_value=4, max_value=14))
    triples = set()
    for _ in range(n):
        s = draw(st.sampled_from(subs))
        p = draw(st.sampled_from(["p0", "p1"]))
        if draw(st.booleans()):
            o = ("iri", draw(st.sampled_from(subs)))
        else:
            o = ("lit", str(draw(st.integers(min_value=0, max_value=4))))
        triples.add((s, p, o))
    return sorted(triples)


def _algebra_frame(spark, triples):
    return triples_from_rows(
        spark,
        [
            (s, EX + p, iri(o[1]) if o[0] == "iri" else lit_typed(o[1], XSD_INTEGER))
            for (s, p, o) in triples
        ],
    )


@given(_algebra_graph(), st.integers(min_value=0, max_value=4))
@settings(max_examples=6, deadline=None)
def test_optional_with_inner_filter_matches_reference(spark, triples, k):
    """OPTIONAL { pattern FILTER } — the filter is part of the optional
    group (a non-matching filter leaves the var unbound, it does NOT
    drop the outer row)."""
    from cmem_plugin_pyshacl_spark.plans.query import sparql_select

    data = _algebra_frame(spark, triples)
    q = (
        f"SELECT ?x ?y ?z WHERE {{ ?x <{EX}p0> ?y . "
        f"OPTIONAL {{ ?y <{EX}p1> ?z . FILTER(?z > {k}) }} }}"
    )
    got = {
        (r["x"], r["y"], r["z"])
        for r in sparql_select(spark, data, q).collect()
    }
    expected = set()
    for s1, p1, o1 in triples:
        if p1 != "p0":
            continue
        exts = []
        for s2, p2, o2 in triples:
            if p2 != "p1" or s2 != o1[1]:
                continue
            try:
                keep = float(o2[1]) > k
            except ValueError:
                keep = o2[1] > str(k)
            if keep:
                exts.append(o2[1])
        if exts:
            expected |= {(s1, o1[1], z) for z in exts}
        else:
            expected.add((s1, o1[1], None))
    assert got == expected


@given(_algebra_graph())
@settings(max_examples=6, deadline=None)
def test_union_matches_reference(spark, triples):
    """{A} UNION {B} is bag-free solution union over shared vars."""
    from cmem_plugin_pyshacl_spark.plans.query import sparql_select

    data = _algebra_frame(spark, triples)
    q = (
        f"SELECT ?x ?y WHERE {{ {{ ?x <{EX}p0> ?y }} UNION "
        f"{{ ?x <{EX}p1> ?y }} }}"
    )
    got = {
        (r["x"], r["y"]) for r in sparql_select(spark, data, q).collect()
    }
    expected = {(s, o[1]) for (s, p, o) in triples if p in ("p0", "p1")}
    assert got == expected


@given(_algebra_graph())
@settings(max_examples=6, deadline=None)
def test_minus_matches_reference(spark, triples):
    """MINUS removes solutions with a compatible (shared-domain) minus
    solution: here ?x ?y are shared, so it is an exact anti join."""
    from cmem_plugin_pyshacl_spark.plans.query import sparql_select

    data = _algebra_frame(spark, triples)
    q = (
        f"SELECT ?x ?y WHERE {{ ?x <{EX}p0> ?y . "
        f"MINUS {{ ?x <{EX}p1> ?y }} }}"
    )
    got = {
        (r["x"], r["y"]) for r in sparql_select(spark, data, q).collect()
    }
    p1_pairs = {(s, o[1]) for (s, p, o) in triples if p == "p1"}
    expected = {
        (s, o[1])
        for (s, p, o) in triples
        if p == "p0" and (s, o[1]) not in p1_pairs
    }
    assert got == expected


@given(_algebra_graph())
@settings(max_examples=6, deadline=None)
def test_not_exists_matches_reference(spark, triples):
    """FILTER NOT EXISTS { ?y p1 ?z } drops rows whose ?y has ANY
    outgoing p1 edge."""
    from cmem_plugin_pyshacl_spark.plans.query import sparql_select

    data = _algebra_frame(spark, triples)
    q = (
        f"SELECT ?x ?y WHERE {{ ?x <{EX}p0> ?y . "
        f"FILTER NOT EXISTS {{ ?y <{EX}p1> ?z }} }}"
    )
    got = {
        (r["x"], r["y"]) for r in sparql_select(spark, data, q).collect()
    }
    p1_subjects = {s for (s, p, o) in triples if p == "p1"}
    expected = {
        (s, o[1])
        for (s, p, o) in triples
        if p == "p0" and o[1] not in p1_subjects
    }
    assert got == expected


# ------------------------- path EVALUATION differential (r4, fuzz of S5)


def _rel_py(expr, edges, universe):
    """Relation semantics of a path expression over an IRI-only graph:
    set of (x, y) pairs. Mirrors SPARQL 1.1 §9.3 / SHACL path semantics;
    zero-length arms are the identity over the universe (the engine
    restricts identity to nodes it reaches, which composes to the same
    final relation from any seed set)."""
    if isinstance(expr, PPred):
        return {(s, o) for (s, p, o) in edges if p == expr.iri}
    if isinstance(expr, PInv):
        return {(y, x) for (x, y) in _rel_py(expr.sub, edges, universe)}
    if isinstance(expr, PSeq):
        rel = {(x, x) for x in universe}
        for part in expr.parts:
            step = _rel_py(part, edges, universe)
            rel = {(x, z) for (x, y) in rel for (y2, z) in step if y == y2}
        return rel
    if isinstance(expr, PAlt):
        out = set()
        for part in expr.parts:
            out |= _rel_py(part, edges, universe)
        return out
    # PClosure
    base = _rel_py(expr.sub, edges, universe)
    ident = {(x, x) for x in universe}
    if expr.kind == "zeroOrOne":
        return base | ident
    closure = set(base)
    while True:
        nxt = closure | {
            (x, z) for (x, y) in closure for (y2, z) in base if y == y2
        }
        if nxt == closure:
            break
        closure = nxt
    return closure | ident if expr.kind == "zeroOrMore" else closure


@st.composite
def _path_eval_case(draw):
    nodes = [f"urn:n{i}" for i in range(5)]
    n_edges = draw(st.integers(min_value=3, max_value=10))
    edges = set()
    for _ in range(n_edges):
        edges.add((
            draw(st.sampled_from(nodes)),
            draw(st.sampled_from(["a", "b"])),
            draw(st.sampled_from(nodes)),
        ))
    tree = draw(
        st.recursive(
            st.sampled_from(["a", "b"]).map(PPred),
            lambda kids: st.one_of(
                kids.map(PInv),
                st.lists(kids, min_size=2, max_size=2).map(
                    lambda xs: PSeq(tuple(xs))
                ),
                st.lists(kids, min_size=2, max_size=2).map(
                    lambda xs: PAlt(tuple(xs))
                ),
                st.tuples(
                    kids,
                    st.sampled_from(["zeroOrMore", "oneOrMore", "zeroOrOne"]),
                ).map(lambda t: PClosure(*t)),
            ),
            max_leaves=4,
        )
    )
    focus = draw(st.sets(st.sampled_from(nodes), min_size=1, max_size=2))
    return sorted(edges), tree, sorted(focus)


def _shacl_path_rows(tree):
    """Render a path tree as SHACL path triples: IRI-named path nodes,
    RDF lists for sequences and alternatives. Returns (head node, rows)."""
    rows = []
    names = (f"urn:path:{i}" for i in itertools.count())

    def node(e):
        if isinstance(e, PPred):
            return e.iri
        n = next(names)
        if isinstance(e, PInv):
            rows.append((n, SH + "inversePath", iri(node(e.sub))))
        elif isinstance(e, PClosure):
            rows.append((n, SH + e.kind + "Path", iri(node(e.sub))))
        else:
            # a sequence IS its list; an alternative points at one
            cells = [n if isinstance(e, PSeq) else next(names)]
            cells += [next(names) for _ in e.parts[1:]]
            if isinstance(e, PAlt):
                rows.append((n, SH + "alternativePath", iri(cells[0])))
            for cell, nxt, part in zip(cells, cells[1:] + [RDF + "nil"], e.parts):
                rows.append((cell, RDF + "first", iri(node(part))))
                rows.append((cell, RDF + "rest", iri(nxt)))
        return n

    return node(tree), rows


@given(_path_eval_case())
@example(([("urn:n0", "a", "urn:n1")], PPred("a"), ["urn:n0"]))
@example(([("urn:n0", "a", "urn:n1"), ("urn:n1", "b", "urn:n2")],
          PSeq((PPred("a"), PPred("b"))), ["urn:n0"]))
@settings(max_examples=6, deadline=None)
def test_path_evaluation_matches_relation_reference(spark, case):
    """_eval_path_expr (sequence/alternative/inverse/closure over an
    IRI-only graph) agrees with a brute-force relation-algebra reference
    — the value-extraction core every path constraint rides on (S5).
    The engine contract: expressions are NORMALIZED before evaluation
    (_path_step only handles PInv-of-PPred), and normalization itself is
    pinned semantics-preserving here because the reference relation is
    computed from the RAW tree. The same tree rendered as SHACL path
    triples goes through the shape compiler too: compile_shapes (the one
    path parser) then _path_values (a predicate path as its slice, every
    other path through _eval_path_expr) must give the same relation."""
    from cmem_plugin_pyshacl_spark.plans.shacl import (
        _eval_path_expr,
        _path_values,
        compile_shapes,
    )

    edges, tree, focus = case
    nodes = {n for (s, _p, o) in edges for n in (s, o)} | set(focus)
    data = triples_from_rows(spark, [(s, p, iri(o)) for (s, p, o) in edges])
    focus_df = spark.createDataFrame(
        [(f, None) for f in focus], "focus string, part_id int"
    )
    rel = _rel_py(tree, set(edges), nodes)
    expected = {(f, y) for (f, y) in rel if f in set(focus)}
    got = {
        (r.focus, r.v_value)
        for r in _eval_path_expr(data, focus_df, _normalize_path(tree)).collect()
    }
    assert got == expected

    head, path_rows = _shacl_path_rows(tree)
    shapes = triples_from_rows(spark, [
        (EX + "S", RDF_TYPE, iri(SH + "NodeShape")),
        (EX + "S", SH + "property", iri(EX + "S-p")),
        (EX + "S-p", SH + "path", iri(head)),
    ] + path_rows)
    (c,) = compile_shapes(shapes).shapes[0].properties
    assert c.path_expr == _normalize_path(tree)
    got = {(r.focus, r.v_value) for r in _path_values(data, focus_df, c).collect()}
    assert got == expected


# ------------------------------------------------------------- BGP ordering

from cmem_plugin_pyshacl_spark.plans.sparql_af import (
    _Pattern as _SpPattern,
    _Term as _SpTerm,
    _order_patterns,
)

_pat_terms = st.one_of(
    st.sampled_from(["x", "y", "z", "w"]).map(lambda v: _SpTerm("var", v)),
    st.sampled_from(["urn:a", "urn:b"]).map(lambda v: _SpTerm("iri", v)),
)
_pat_preds = st.one_of(
    st.sampled_from(["urn:p", "urn:q"]),
    st.sampled_from(["p", "q"]).map(lambda v: _SpTerm("var", v)),
)
_bgps = st.lists(
    st.tuples(_pat_terms, _pat_preds, _pat_terms).map(
        lambda t: _SpPattern(t[0], t[1], t[2])
    ),
    min_size=1,
    max_size=6,
)


@given(_bgps, st.sets(st.sampled_from(["x", "y", "z", "p"]), max_size=2))
@settings(max_examples=300, deadline=None)
def test_order_patterns_invariants(pats, outer):
    """_order_patterns returns a permutation of its input, is
    deterministic, and never picks a disconnected pattern while a
    connected one remains (the no-needless-cross-join guarantee)."""
    pats = tuple(pats)
    out = _order_patterns(pats, outer)
    assert sorted(map(repr, out)) == sorted(map(repr, pats))
    assert out == _order_patterns(pats, outer)

    def tvars(p):
        vs = {t.value for t in (p.subj, p.obj) if t.kind == "var"}
        if isinstance(p.pred, _SpTerm):
            vs.add(p.pred.value)
        return vs

    bound = set(outer)
    remaining = list(pats)
    for chosen in out:
        connected = [p for p in remaining if tvars(p) & bound]
        if connected:
            assert tvars(chosen) & bound, (
                f"picked disconnected {chosen} while {connected} available"
            )
        remaining.remove(chosen)
        bound |= tvars(chosen)


# ------------------------------- canonicalization vs connected components
_STEMS = ["acme", "globex labs", "initech"]
_SUFFIXES = ["", " Inc.", " inc", " GmbH", " GMBH."]


@st.composite
def _surface_variant(draw):
    words = draw(st.sampled_from(_STEMS)).split(" ")
    case = draw(st.sampled_from([str.lower, str.upper, str.title]))
    words = [case(w) for w in words]
    punct = draw(st.sampled_from(["", ",", ".", "!", "-"]))
    sep = draw(st.sampled_from([" ", "  ", "\t"]))
    core = (punct + sep).join(words) if len(words) > 1 else words[0] + punct
    pad = draw(st.sampled_from(["", " "]))
    return pad + core + draw(st.sampled_from(_SUFFIXES)) + pad


@given(st.lists(_surface_variant(), min_size=1, max_size=8, unique=True))
@example(["norm:acme", "Acme Inc.", "acme"])
@settings(max_examples=6, deadline=None)
def test_canonicalize_stage_equals_hub_edge_cc(spark, surfaces):
    """canonicalize_stage (one window over the normal form) equals the
    connected components of the surface -> normal-form star forest, with
    node ids namespaced so a hub can never equal a raw surface: every
    surface is kept, and maps to the min surface of its component."""
    from pyspark.sql import functions as F

    from cmem_plugin_pyshacl_spark.plans.connected_components import (
        connected_components,
    )
    from cmem_plugin_pyshacl_spark.plans.linking import normalize_surface
    from cmem_plugin_pyshacl_spark.plans.pipeline import canonicalize_stage

    pairs = list(zip(surfaces, surfaces[1:] + surfaces[:1]))
    rel = spark.createDataFrame(pairs, "subj_surface string, obj_surface string")
    got = {r.surface: r.canonical for r in canonicalize_stage(rel).collect()}

    nodes = spark.createDataFrame([(x,) for x in surfaces], "surface string")
    edges = nodes.select(
        F.concat(F.lit("s:"), "surface").alias("src"),
        F.concat(F.lit("n:"), normalize_surface(F.col("surface"))).alias("dst"),
    )
    members: dict[str, list[str]] = {}
    for r in connected_components(edges).collect():
        if r.node.startswith("s:"):
            members.setdefault(r.component, []).append(r.node[2:])
    expected = {x: min(grp) for grp in members.values() for x in grp}
    assert got == expected


# ------------------------------------------------- SPARQL parse round trip

from cmem_plugin_pyshacl_spark.plans.shacl import PPred as _PPred  # noqa: E402
from cmem_plugin_pyshacl_spark.plans.sparql_af import (  # noqa: E402
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
    _Block,
    _Filter,
    _ValuesClause,
    lex,
    parse_select_query,
)

_XSD = "http://www.w3.org/2001/XMLSchema#"
_FRESH = ("_bp", "_cl", "_seq")
_rt_vars = st.sampled_from(["a", "b", "c", "d"]).map(lambda v: _SpTerm("var", v))
_rt_iris = st.sampled_from(["urn:x1", "urn:x2"]).map(lambda v: _SpTerm("iri", v))
_rt_lits = st.one_of(
    st.text(alphabet='ab "\\$#{}', max_size=6).map(
        lambda v: _SpTerm("lit", v, dt=_XSD + "string")
    ),
    st.integers(0, 99).map(lambda n: _SpTerm("lit", str(n), dt=_XSD + "integer")),
)
_rt_objs = st.one_of(_rt_vars, _rt_iris, _rt_lits)
_rt_preds = st.sampled_from(["urn:p", "urn:q"])
_rt_filters = st.sampled_from(
    ["?a < 5", 'regex(?b, "^x", "i")', "bound(?c) && !(?d = <urn:x1>)"]
).map(lambda text: _Filter(lex(text).toks[:-1]))


@st.composite
def _rt_blocks(draw, fresh: list, depth: int = 0) -> _Block:
    """A group whose patterns include sequence paths, closure paths, RDF
    collections and blank-node property lists in their desugared form:
    chains through fresh variables, the bnode-list triples and then the
    collection chains after the group's own statements. A list standing
    alone as a statement keeps its triples in statement order."""

    def mint(prefix: str) -> _SpTerm:
        fresh[0] += 1
        return _SpTerm("var", f"{prefix}{fresh[0]}")

    def pattern(s, p, o) -> _SpPattern:
        return _SpPattern(s, p, o)

    nil = _SpTerm("iri", RDF_NIL)
    main: list = []
    bnodes: list = []
    cells: list = []
    for _ in range(draw(st.integers(1, 3))):
        s = draw(st.one_of(_rt_vars, _rt_iris))
        p = draw(_rt_preds)
        kind = draw(
            st.sampled_from(["plain", "seq", "closure", "coll", "bnode", "bnode_subj"])
        )
        if kind == "seq":
            hop = mint("_seq")
            main += [pattern(s, p, hop), pattern(hop, draw(_rt_preds), draw(_rt_objs))]
        elif kind == "closure":
            mod = draw(st.sampled_from(["zeroOrMore", "oneOrMore"]))
            path = _normalize_path(PClosure(_PPred(p), mod))
            main.append(pattern(s, path, draw(_rt_objs)))
        elif kind == "coll":
            # no IRI members: a one-IRI group in object position is
            # rejected as ambiguous with a parenthesized path
            items = draw(st.lists(st.one_of(_rt_vars, _rt_lits), max_size=3))
            heads = [mint("_cl") for _ in items]
            main.append(pattern(s, p, heads[0] if heads else nil))
            for head, item, nxt in zip(heads, items, [*heads[1:], nil]):
                cells += [pattern(head, RDF_FIRST, item), pattern(head, RDF_REST, nxt)]
        elif kind == "bnode_subj":
            # `[ verb objects ] .` alone: its triples in statement order
            node = mint("_bp")
            for _ in range(draw(st.integers(1, 2))):
                main.append(pattern(node, draw(_rt_preds), draw(_rt_objs)))
        elif kind == "bnode":
            node = mint("_bp")
            main.append(pattern(s, p, node))
            for _ in range(draw(st.integers(1, 2))):
                bnodes.append(pattern(node, draw(_rt_preds), draw(_rt_objs)))
        else:
            main.append(pattern(s, p, draw(_rt_objs)))

    def blocks(lo: int, hi: int) -> tuple:
        if depth >= 2:
            return ()
        n = draw(st.integers(lo, hi))
        return tuple(draw(_rt_blocks(fresh, depth + 1)) for _ in range(n))

    unions = ()
    if draw(st.booleans()) and depth < 2:
        unions = (_Block((), (), (), (), blocks(2, 3)),)
    values = ()
    if draw(st.booleans()):
        names = tuple(
            draw(st.lists(st.sampled_from("abc"), min_size=1, max_size=2, unique=True))
        )
        cell = st.one_of(st.none(), _rt_iris, _rt_lits)
        rows = draw(st.lists(st.tuples(*[cell] * len(names)), max_size=3))
        values = (_ValuesClause(names, tuple(rows)),)
    return _Block(
        tuple(main + bnodes + cells),
        tuple(draw(st.lists(_rt_filters, max_size=2))),
        blocks(0, 1),  # OPTIONAL
        (),
        (),
        blocks(0, 1),  # MINUS
        unions,
        (),
        values,
    )


def _rt_term(t: _SpTerm) -> str:
    if t.kind == "var":
        return f"?{t.value}"
    if t.kind == "iri":
        return "()" if t.value == RDF_NIL else f"<{t.value}>"
    if t.dt == _XSD + "integer":
        return t.value
    return '"' + t.value.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _rt_render(b: _Block) -> str:
    """Test-local renderer: re-sugars fresh-variable chains into the
    surface syntax they desugar from."""
    by_subj: dict = {}
    for p in b.patterns:
        by_subj.setdefault(p.subj.value, []).append(p)

    def obj(t: _SpTerm) -> str:
        if t.kind == "var" and t.value.startswith("_cl"):
            items = []
            while t.kind == "var":
                first, rest = by_subj[t.value]
                items.append(_rt_term(first.obj))
                t = rest.obj
            return "( " + " ".join(items) + " )"
        if t.kind == "var" and t.value.startswith("_bp"):
            props = (f"<{p.pred}> {obj(p.obj)}" for p in by_subj[t.value])
            return "[ " + " ; ".join(props) + " ]"
        return _rt_term(t)

    referenced = {p.obj.value for p in b.patterns if p.obj.kind == "var"}
    out = []
    for p in b.patterns:
        subj = p.subj
        if subj.value.startswith("_bp") and subj.value not in referenced:
            out.append(f"{obj(subj)} .")  # a subject-only list
            referenced.add(subj.value)
            continue
        if subj.value.startswith(_FRESH):
            continue  # rendered inside the sugar that minted it
        if not isinstance(p.pred, str):  # PClosure(PPred)
            mod = {"zeroOrMore": "*", "oneOrMore": "+"}[p.pred.kind]
            pred = f"<{p.pred.sub.iri}>{mod}"
        elif p.obj.value.startswith("_seq"):
            (hop,) = by_subj[p.obj.value]
            pred, p = f"<{p.pred}>/<{hop.pred}>", hop
        else:
            pred = f"<{p.pred}>"
        out.append(f"{_rt_term(subj)} {pred} {obj(p.obj)} .")
    out += [f"FILTER ({' '.join(t.text for t in f.toks)})" for f in b.filters]
    out += [f"OPTIONAL {{ {_rt_render(x)} }}" for x in b.optionals]
    out += [f"MINUS {{ {_rt_render(x)} }}" for x in b.minuses]
    for g in b.groups:
        out.append(" UNION ".join(f"{{ {_rt_render(x)} }}" for x in g.alternatives))
    for vc in b.values_clauses:
        rows = " ".join(
            "(" + " ".join("UNDEF" if t is None else _rt_term(t) for t in row) + ")"
            for row in vc.rows
        )
        out.append(f"VALUES ({' '.join('?' + v for v in vc.vars)}) {{ {rows} }}")
    return " ".join(out)


def _rt_canon(x, names: dict):
    """x with fresh variables renamed by first appearance."""
    if isinstance(x, _SpTerm) and x.kind == "var" and x.value.startswith(_FRESH):
        return names.setdefault(x.value, f"#{len(names)}")
    if isinstance(x, (list, tuple)):
        return tuple(_rt_canon(y, names) for y in x)
    if hasattr(x, "__dataclass_fields__") and not isinstance(x, _SpTerm):
        return (type(x).__name__,) + tuple(
            _rt_canon(getattr(x, f.name), names)
            for f in x.__dataclass_fields__.values()
            if f.compare  # a token's spelling and offset are not its meaning
        )
    return x


@given(_rt_blocks([0]))
@settings(max_examples=150, deadline=None)
def test_sparql_parse_round_trips_rendered_blocks(block):
    """Rendering a group graph pattern and parsing it back gives the same
    _Block, up to the numbering of the fresh _bp/_cl/_seq variables."""
    text = f"SELECT * WHERE {{ {_rt_render(block)} }}"
    parsed = parse_select_query(text).block
    assert _rt_canon(parsed, {}) == _rt_canon(block, {}), text

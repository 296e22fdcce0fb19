"""Standalone SPARQL query surface over a triples DataFrame.

The reference plugin lives inside eccenca Corporate Memory, a platform
whose primary graph-access primitive is SPARQL (the plugin itself
fetches its data/shapes graphs from a SPARQL endpoint —
plugin_pyshacl.py:311-327 `get_graph` — and users of the platform query
the same graphs ad hoc). This module exposes the SHACL-AF evaluator
(plans/sparql_af.py) as that direct query surface: SELECT / ASK /
CONSTRUCT / DESCRIBE over any triples-schema DataFrame, no shapes graph
required.

Every request is lexed and parsed once by the plans/sparql_af.py front
end (``parse_query`` / ``parse_update``); the dataset clauses (FROM /
FROM NAMED, USING, WITH) come out of that parse, not out of the text.

Everything is the same set-based machinery the constraint engine uses —
a progressive whole-frame join per triple pattern, OPTIONAL as a left
outer join, [NOT] EXISTS as semi/anti joins over distinct keys,
aggregation as one hash aggregate — seeded from a single-row frame
instead of a focus set. No collects of data-scale frames, no UDFs; ASK
is the only driver-side scalar (it IS a scalar).

Scale posture: a query whose patterns all carry constant predicates
reads only those predicate slices (Catalyst pushes `p = <iri>` into the
parquet scan); a variable-predicate pattern reads the full relation —
that is the query's semantics, not an implementation artifact. ORDER BY
+ LIMIT compiles to TakeOrderedAndProject (no global sort
materialization). DESCRIBE's bnode-closure loop is bounded by
``max_hops`` and each hop is one semi-join — with skolemization on
(operators/graph_ops.skolemize) graphs carry no bnodes and the loop
exits after the first hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data_model import (
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    XSD,
    XSD_STRING,
    dedupe_triples,
)
from .sparql_af import (
    _Block,
    _Lexed,
    _Query,
    _SelectQuery,
    _STRICT_DEFAULT,
    _Term,
    _UpdateOp,
    _apply_aggregation,
    _apply_block,
    _apply_order_limit,
    _join_inline_data,
    lex,
    parse_query,
    parse_update,
    strict_default_graph,
)

_TERM_SUFFIXES = ("value", "kind", "datatype", "lang")


def _uses_graph(block: _Block) -> bool:
    """True when a GRAPH pattern occurs anywhere in the block tree."""
    subs = (
        *block.optionals, *(b for _neg, b in block.exists),
        *block.alternatives, *block.minuses, *block.groups,
        *(q.block for q in block.subselects),
    )
    return bool(block.graphs) or any(_uses_graph(b) for b in subs)


def _dataset(
    data: DataFrame,
    block: _Block | None,
    default_graphs: tuple | list,
    named_graphs: tuple | list,
) -> DataFrame:
    """Construct the query's RDF dataset (SPARQL §13.2) from the store:

      * no dataset clauses → the store as-is (this engine's documented
        model: plain patterns match ALL rows — a union default graph —
        and GRAPH matches the named slices);
      * ``FROM g…`` → the merge of those graphs becomes the default
        graph (their rows' ``graph`` column is nulled);
      * ``FROM NAMED n…`` → only those named graphs are visible to
        GRAPH patterns (the slice is dropped entirely when the query
        never says GRAPH — spec-correct: named graphs are unreachable
        without it).

    The callers evaluate a FROM/FROM NAMED-constructed dataset under
    ``strict_default_graph`` (plans/sparql_af.py), so plain patterns
    match ONLY the nulled default-graph role and named rows stay
    reachable through GRAPH blocks alone — spec-exact §13.2 (the
    engine's union-default-graph model applies only to a bare store
    with no dataset clauses). Round-4 ADVICE closed the old deviation
    where plain patterns also saw the FROM NAMED rows."""
    if not default_graphs and not named_graphs:
        return data
    if "graph" not in data.columns:
        raise ValueError(
            "FROM/FROM NAMED require the triples frame to carry its "
            "`graph` column (it was projected away upstream)"
        )
    parts: list[DataFrame] = []
    if default_graphs:
        parts.append(
            data.filter(F.col("graph").isin(*default_graphs)).withColumn(
                "graph", F.lit(None).cast("string")
            )
        )
    if named_graphs and block is not None and _uses_graph(block):
        parts.append(data.filter(F.col("graph").isin(*named_graphs)))
    if not parts:
        # FROM NAMED only, and the query never says GRAPH: the default
        # graph of the dataset is empty
        return data.filter(F.lit(False))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _prepare(query: str) -> _Lexed:
    """Lex the request (its PREFIX prologue resolves prefixed names) and
    reject $this — the focus-node pre-binding exists only inside a SHACL
    constraint context."""
    src = lex(query)
    if any(t.kind == "var" and t.text == "$this" for t in src.toks):
        raise ValueError(
            "$this is only bound inside a SHACL constraint/rule context — "
            "standalone queries must use ordinary variables"
        )
    return src


def _parse(query: str, form: str) -> _Query:
    q = parse_query(_prepare(query))
    if q.form != form:
        raise ValueError(f"expected a {form} query, got {q.form}")
    return q


def _strict(q: _Query) -> bool:
    """A FROM / FROM NAMED dataset matches plain patterns against its
    default graph only (see ``_dataset``)."""
    return bool(q.from_graphs or q.from_named) or _STRICT_DEFAULT.get()


def _seed(spark: SparkSession) -> DataFrame:
    return spark.range(1).select(F.lit(0).alias("_seed"))


def sparql_select(
    spark: SparkSession,
    data: DataFrame,
    query: str,
    include_term_columns: bool = False,
) -> DataFrame:
    """Evaluate a SPARQL SELECT over a triples-schema DataFrame.

    Returns one column per projected variable holding the term's lexical
    value (IRI string / literal lexical form), in projection order. With
    ``include_term_columns`` each variable also carries ``<v>_kind`` /
    ``<v>_datatype`` / ``<v>_lang`` columns — full RDF term identity.

    Supported subset = the sh:sparql grammar (plans/sparql_af.py module
    docstring): BGPs, property paths incl. closures, OPTIONAL / UNION /
    MINUS / FILTER [NOT] EXISTS / VALUES / BIND / GRAPH, subqueries,
    aggregates + GROUP BY / HAVING, ORDER BY / LIMIT, DISTINCT, and
    ``SELECT *`` — plus variable predicates. Anything outside raises
    ValueError at parse time.

    DISTINCT deduplicates on full RDF term identity (kind + datatype +
    lang, not just the lexical form) before ORDER BY/LIMIT, per the
    SPARQL algebra ordering of Distinct inside OrderBy/Slice.

    ``FROM <g>`` / ``FROM NAMED <g>`` dataset clauses construct the
    queried dataset first (see ``_dataset``).
    """
    parsed = _parse(query, "SELECT")
    data = _dataset(data, parsed.block, parsed.from_graphs, parsed.from_named)
    return _select(spark, data, parsed.select, _strict(parsed), include_term_columns)


def _select(
    spark: SparkSession,
    data: DataFrame,
    q: _SelectQuery,
    strict: bool,
    include_term_columns: bool,
) -> DataFrame:
    """Evaluate a parsed SELECT over the query's dataset."""
    bound_vars: set[str] = set()
    with strict_default_graph(strict):
        bound = _apply_block(
            data, _seed(spark), bound_vars, q.block, "uq", has_this=False
        )
    if q.aggs or q.group_by or q.having:
        bound, bound_vars = _apply_aggregation(
            bound, bound_vars, q, has_this=False
        )
    if q.values_clause is not None:
        # §18.2.4.2: Join(P, ToMultiset(data)) after aggregation, before
        # projection/DISTINCT/ORDER — the full join (unbound solution
        # vars fill from the data row), not the in-group filter
        bound = _join_inline_data(spark, bound, bound_vars, q.values_clause)
    # SELECT * never projects internal desugar variables: `_seq` path
    # hops and `_bp` bnode-list nodes (SPARQL does not project pattern
    # bnodes); `_`-prefixed names are reserved for the engine
    proj = (
        sorted(v for v in bound_vars if not v.startswith("_"))
        if q.star
        else list(q.proj)
    )
    if not proj:
        raise ValueError("the SELECT projects no variables")
    for v in proj:
        if v not in bound_vars:
            raise ValueError(
                f"projected variable ?{v} is not bound by the pattern"
            )
    # RDF 1.1: a simple literal IS an xsd:string — normalize the datatype
    # at the surface boundary (the data model stores either NULL or
    # xsd:string depending on the source; readers mint xsd:string) so
    # DISTINCT and the returned term columns treat the two forms as the
    # one term they are
    for v in proj:
        bound = bound.withColumn(
            f"{v}__datatype",
            F.when(
                (F.col(f"{v}__kind") == KIND_LITERAL)
                & F.col(f"{v}__lang").isNull(),
                F.coalesce(F.col(f"{v}__datatype"), F.lit(XSD_STRING)),
            ).otherwise(F.col(f"{v}__datatype")),
        )
    if q.distinct:
        cols = [f"{v}__{sfx}" for v in proj for sfx in _TERM_SUFFIXES]
        bound = bound.select(*cols).dropDuplicates()
        bound_vars = set(proj)
    bound = _apply_order_limit(bound, bound_vars, q, has_this=False)
    out_cols = []
    for v in proj:
        out_cols.append(F.col(f"{v}__value").alias(v))
        if include_term_columns:
            out_cols += [
                F.col(f"{v}__kind").alias(f"{v}_kind"),
                F.col(f"{v}__datatype").alias(f"{v}_datatype"),
                F.col(f"{v}__lang").alias(f"{v}_lang"),
            ]
    return bound.select(*out_cols)


def sparql_ask(spark: SparkSession, data: DataFrame, query: str) -> bool:
    """Evaluate a SPARQL ASK — True iff the pattern has any solution.
    The one-row probe (`LIMIT 1` under the hood) is the only driver-side
    action; the result is a scalar by definition. FROM / FROM NAMED
    dataset clauses are honored (see ``_dataset``)."""
    q = _parse(query, "ASK")
    data = _dataset(data, q.block, q.from_graphs, q.from_named)
    bound_vars: set[str] = set()
    with strict_default_graph(_strict(q)):
        bound = _apply_block(
            data, _seed(spark), bound_vars, q.block, "ua", has_this=False
        )
    return bound.limit(1).count() > 0


def _instantiate(
    bound: DataFrame,
    bound_vars: set[str],
    template: list,
    graph: str | None,
    context: str = "CONSTRUCT",
) -> DataFrame:
    """Instantiate a triple-pattern template from a binding set — the
    spec's rules: solutions with an unbound (OPTIONAL) template variable,
    a literal in subject position, or a non-IRI in predicate position
    instantiate no triple. Shared by CONSTRUCT and the UPDATE forms.

    plans/rules.py::_sparql_rule_dfs is the $this-bound sibling of this
    helper, deliberately NOT unified: rule output feeds validate()
    internals, which preserve the stored NULL-vs-xsd:string datatype and
    normalize at comparison points, whereas this public surface
    normalizes simple literals to xsd:string at instantiation (a rules
    merge would churn the shacl_rules oracle's o_datatype column).
    Template-grammar changes usually need mirroring in both."""
    null_s = F.lit(None).cast("string")

    def term_cols(term) -> tuple:
        if term.kind == "var":
            if term.value not in bound_vars:
                raise ValueError(
                    f"{context} template variable ?{term.value} is not "
                    "bound by the WHERE pattern"
                )
            v = term.value
            # simple literal ≡ xsd:string (RDF 1.1): normalize so a
            # var-copied plain literal and a quoted template constant
            # (minted as xsd:string) dedupe to the one term they are
            dt = F.when(
                (F.col(f"{v}__kind") == KIND_LITERAL)
                & F.col(f"{v}__lang").isNull(),
                F.coalesce(F.col(f"{v}__datatype"), F.lit(XSD_STRING)),
            ).otherwise(F.col(f"{v}__datatype"))
            return (
                F.col(f"{v}__value"),
                F.col(f"{v}__kind"),
                dt,
                F.col(f"{v}__lang"),
            )
        if term.kind == "iri":
            return (F.lit(term.value), F.lit(KIND_IRI), null_s, null_s)
        dt = term.dt or XSD + "string"
        return (F.lit(term.value), F.lit(KIND_LITERAL), F.lit(dt), null_s)

    frames: list[DataFrame] = []
    for t in template:
        sv, sk, _sd, _sl = term_cols(t.subj)
        ov, ok, od, ol = term_cols(t.obj)
        src = bound
        if t.subj.kind == "var":
            src = src.filter(sv.isNotNull() & (sk != F.lit(KIND_LITERAL)))
        if t.obj.kind == "var":
            src = src.filter(ov.isNotNull())
        if isinstance(t.pred, str):
            pv = F.lit(t.pred)
        else:  # variable predicate bound by the WHERE body
            pv, pk, _pd, _pl = term_cols(t.pred)
            src = src.filter(pv.isNotNull() & (pk == F.lit(KIND_IRI)))
        frames.append(
            src.select(
                sv.alias("s"),
                pv.alias("p"),
                ok.alias("o_kind"),
                ov.alias("o_value"),
                od.alias("o_datatype"),
                ol.alias("o_lang"),
                F.lit(graph).cast("string").alias("graph"),
                F.lit(0).cast("int").alias("part_id"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return dedupe_triples(out)


def sparql_construct(
    spark: SparkSession,
    data: DataFrame,
    query: str,
    graph: str | None = None,
) -> DataFrame:
    """Evaluate a SPARQL CONSTRUCT — returns a triples-schema DataFrame
    (set semantics: the emitted graph is deduplicated on term identity).
    ``graph`` stamps the emitted rows' graph column (None = default
    graph). The ``CONSTRUCT WHERE { … }`` shorthand (SPARQL §10.2.3 —
    the pattern doubles as the template) takes a plain triple-pattern
    block, same restriction as DELETE WHERE. FROM / FROM NAMED dataset
    clauses are honored (see ``_dataset``)."""
    q = _parse(query, "CONSTRUCT")
    data = _dataset(data, q.block, q.from_graphs, q.from_named)
    block, template = q.block, q.template
    if template is None:
        patterns = block.patterns
        if not patterns or block != _Block(patterns, (), (), ()):
            raise ValueError(
                "CONSTRUCT WHERE takes a plain non-empty triple-pattern "
                "block (use CONSTRUCT { … } WHERE { … } otherwise)"
            )
        for t in patterns:
            bad = not isinstance(t.pred, (str, _Term)) or any(
                term.kind == "var" and term.value.startswith("_seq")
                for term in (t.subj, t.obj)
            )
            if bad:
                raise ValueError(
                    "property paths are not allowed in CONSTRUCT WHERE — "
                    "the pattern doubles as the template"
                )
        template = patterns
    bound_vars: set[str] = set()
    with strict_default_graph(_strict(q)):
        bound = _apply_block(
            data, _seed(spark), bound_vars, block, "uc", has_this=False
        )
    return _instantiate(bound, bound_vars, template, graph)


_TERM_COLS = ["s", "p", "o_kind", "o_value", "o_datatype", "o_lang"]


def _term_eq(a: str, b: str, cols: list[str]):
    """Null-safe equality of two aliased triple rows on ``cols``, with
    the RDF 1.1 simple-literal normalization the rest of the engine
    applies at comparison points (plans/shacl.py): a literal whose
    datatype column is NULL and lang is NULL ≡ xsd:string."""

    def norm_dt(p: str):
        return F.when(
            (F.col(f"{p}.o_kind") == KIND_LITERAL)
            & F.col(f"{p}.o_lang").isNull(),
            F.coalesce(F.col(f"{p}.o_datatype"), F.lit(XSD_STRING)),
        ).otherwise(F.col(f"{p}.o_datatype"))

    cond = None
    for c in cols:
        if c == "o_datatype":
            eq = norm_dt(a).eqNullSafe(norm_dt(b))
        else:
            eq = F.col(f"{a}.{c}").eqNullSafe(F.col(f"{b}.{c}"))
        cond = eq if cond is None else cond & eq
    return cond


def _without(
    data: DataFrame, dels: DataFrame, graph: str | None
) -> DataFrame:
    """Remove every triple of ``dels`` from ``data`` — a null-safe
    left-anti join on the six term columns (graph-agnostic per the
    default-graph store model; pass ``graph`` to restrict the deletion
    to one named graph). The delete set is a query result and small
    relative to the store — AQE picks the broadcast anti join."""
    d = dels.select(*_TERM_COLS).dropDuplicates().alias("_del")
    base = data.alias("_base")
    cond = _term_eq("_base", "_del", _TERM_COLS)
    if graph is not None:
        cond = cond & F.col("_base.graph").eqNullSafe(F.lit(graph))
    return base.join(d, cond, "left_anti")


def _with_new(data: DataFrame, ins: DataFrame) -> DataFrame:
    """Union only genuinely NEW triples into the store (null-safe anti
    join on the seven key columns incl. graph): set semantics without
    touching existing rows' part_id lineage — an insert of an existing
    triple is a no-op, exactly rdflib's duplicate-add behavior."""
    i = ins.alias("_ins")
    base = data.alias("_base")
    cond = _term_eq("_ins", "_base", [*_TERM_COLS, "graph"])
    fresh = i.join(base, cond, "left_anti")
    return data.unionByName(fresh)


def _check_template_patterns(patterns: list, what: str, ground: bool) -> None:
    """Reject property paths (incl. the ``_seqN`` variables a sequence
    path desugars into) in any template; with ``ground`` also reject
    variables (the DATA forms take ground triples only)."""
    for t in patterns:
        if not isinstance(t.pred, (str, _Term)):
            raise ValueError(f"property paths are not allowed in a {what} template")
        for term in (t.subj, t.obj):
            if term.kind == "var" and term.value.startswith("_seq"):
                raise ValueError(
                    f"property paths are not allowed in a {what} template"
                )
            if term.kind == "var" and term.value.startswith(("_bp", "_cl")):
                # the desugar mints fresh vars per parse, so a template
                # bracket/paren could never match the WHERE side's chain —
                # reject up front instead of leaking ?_bpN/?_clN in an
                # 'unbound template variable' error later
                raise ValueError(
                    "blank-node property lists / RDF collections are not "
                    f"allowed in a {what} template — write the explicit "
                    "triples (rdf:first/rdf:rest for collections)"
                )
            if ground and term.kind in ("var", "this"):
                raise ValueError(f"{what} requires ground triples")
        if ground and not isinstance(t.pred, str):
            raise ValueError(f"{what} requires ground triples")


def _parse_quads(blk: _Block, what: str, ground: bool) -> list[tuple]:
    """Split a parsed template/DATA block into quad groups:
    ``[(graph-IRI-or-None, [patterns])]``. Triples outside any GRAPH
    block land in the None group; ``GRAPH <g> { … }`` groups carry their
    IRI. Anything beyond plain triple patterns (FILTER/OPTIONAL/…,
    variable graph names, nested GRAPH) is rejected."""
    if (
        blk.filters or blk.binds or blk.optionals or blk.exists
        or blk.minuses or blk.alternatives or blk.subselects
        or blk.values_clauses or blk.groups
    ):
        raise ValueError(f"{what} takes triple/quad patterns only")
    out: list[tuple] = []
    if blk.patterns:
        _check_template_patterns(list(blk.patterns), what, ground)
        out.append((None, list(blk.patterns)))
    for gterm, sub in blk.graphs:
        if gterm.kind != "iri":
            raise ValueError(
                f"{what}: a GRAPH name in a template must be an IRI"
            )
        if (
            sub.filters or sub.binds or sub.optionals or sub.exists
            or sub.minuses or sub.alternatives or sub.subselects
            or sub.values_clauses or sub.groups or sub.graphs
        ):
            raise ValueError(
                f"{what}: GRAPH template blocks take plain triple patterns only"
            )
        if not sub.patterns:
            raise ValueError(f"{what}: empty GRAPH template block")
        _check_template_patterns(list(sub.patterns), what, ground)
        out.append((gterm.value, list(sub.patterns)))
    if not out:
        raise ValueError(f"{what} block is empty")
    return out


def _graph_cond(g: str | None):
    return F.col("graph").eqNullSafe(F.lit(g).cast("string"))


def sparql_update(
    spark: SparkSession,
    data: DataFrame,
    update: str,
    graph: str | None = None,
) -> DataFrame:
    """Apply a SPARQL 1.1 Update request to a triples-schema DataFrame
    and return the updated frame (frames are immutable — the caller
    persists/writes the result; `sources/sinks.py` handles storage).

    A request is one or more ``;``-separated operations, applied in
    order, each seeing its predecessors' result (§3). The whole request
    is parsed first (plans/sparql_af.py ``parse_update``), so a syntax
    error anywhere applies nothing. Supported:

      * ``INSERT DATA`` / ``DELETE DATA`` — ground triples and
        ``GRAPH <g> { … }`` quad groups
      * ``DELETE WHERE { pattern }`` (the pattern, incl. GRAPH <iri>
        blocks, doubles as the template)
      * ``[WITH <g>] [DELETE { quads }] [INSERT { quads }]
        [USING [NAMED] <g>]* WHERE { pattern }``
      * graph management: ``CLEAR``/``DROP`` ``[SILENT]``
        ``GRAPH <g> | DEFAULT | NAMED | ALL``, ``CREATE [SILENT]
        GRAPH <g>`` (a no-op — the frame store has no empty-graph
        registry, so CREATE/DROP cannot differ from their CLEAR
        equivalents and SILENT is always implied), ``ADD``/``COPY``/
        ``MOVE`` ``[SILENT] (GRAPH <g>|DEFAULT) TO (GRAPH <g>|DEFAULT)``,
        and ``LOAD [SILENT] <path-iri> [INTO GRAPH <g>]`` via the
        format-sniffing reader (sources/io.read_rdf; file: scheme or
        plain path).

    Semantics: each operation's WHERE pattern is evaluated once against
    the PRE-operation store and both templates instantiate from that one
    binding set (the spec's simultaneous delete-then-insert). Deletion
    matches on full term identity across the six term columns; template
    triples inside ``GRAPH <g>`` delete from / insert into that graph,
    un-graphed template triples use ``WITH``'s graph when present, else
    the ``graph`` argument, else (legacy store model) delete
    graph-agnostically and insert into the default graph. ``WITH`` also
    scopes the WHERE matching to its graph; ``USING``/``USING NAMED``
    build the WHERE dataset exactly like FROM/FROM NAMED (see
    ``_dataset``) and override ``WITH`` for matching (§3.1.5.2).

    Scale posture: per operation, one pattern evaluation (the same
    progressive join the query surface uses), one anti join per deletion
    target, one union per insertion — no collects, no per-row Python."""
    for op in parse_update(_prepare(update)):
        data = _apply_update_op(spark, data, op, graph)
    return data


def _apply_update_op(
    spark: SparkSession,
    data: DataFrame,
    op: _UpdateOp,
    graph: str | None,
) -> DataFrame:
    """Apply ONE update operation (see ``sparql_update``)."""
    # ---------------------------------------------- graph management
    if op.verb == "CREATE":
        # the frame store holds no registry of (possibly empty) graphs —
        # a graph exists iff it has rows, so CREATE has nothing to do
        return data

    if op.verb == "CLEAR":  # CLEAR and DROP
        if op.scope == "GRAPH":
            return data.filter(~_graph_cond(op.src))
        if op.scope == "DEFAULT":
            return data.filter(F.col("graph").isNotNull())
        if op.scope == "NAMED":
            return data.filter(F.col("graph").isNull())
        return data.filter(F.lit(False))  # ALL

    if op.verb in ("ADD", "COPY", "MOVE"):
        src, dst = op.src, op.dst  # None for DEFAULT
        if src == dst:
            return data  # §3.2.3-5: same-graph COPY/MOVE/ADD is a no-op
        moved = data.filter(_graph_cond(src)).withColumn(
            "graph", F.lit(dst).cast("string")
        )
        if op.verb == "ADD":
            return _with_new(data, moved)
        keep = ~_graph_cond(dst)
        if op.verb == "MOVE":
            keep = keep & ~_graph_cond(src)
        return data.filter(keep).unionByName(moved)

    if op.verb == "LOAD":
        from ..sources.io import read_rdf

        path = op.src.removeprefix("file://")
        into = op.dst
        new = None
        try:
            new = read_rdf(spark, path, graph=into)
            if into is not None:
                # INTO GRAPH overrides any per-statement graph the
                # format carried (N-Quads/TriG)
                new = new.withColumn("graph", F.lit(into))
            if op.silent:
                # the distributed text readers (nt/nq/ndjson) surface
                # content errors lazily at the caller's first action —
                # after this try/except has returned. SILENT promises to
                # swallow them, so force evaluation here: cache + count
                # materializes once (later ops reuse the cached blocks
                # instead of re-reading the file) while KEEPING lineage,
                # so a lost executor in a long update sequence recomputes
                # from the file instead of failing unrecoverably (the
                # round-4 ADVICE against localCheckpoint's lineage cut).
                # Cache lifetime: the blocks stay pinned while the update
                # result still reads them; they are MEMORY_AND_DISK and
                # evictable under pressure, and sparql_update's caller
                # can drop them any time with spark.catalog.clearCache()
                # — unpersisting here would re-read the file per consumer.
                new = new.cache()
                new.count()
            return _with_new(data, new)
        except Exception:
            if op.silent:
                # don't leak the half-materialized cache entry of a frame
                # nobody will ever reference again (round-5 review)
                if new is not None:
                    try:
                        new.unpersist()
                    except Exception:  # pragma: no cover - defensive
                        pass
                return data
            raise

    # ------------------------------------------------- the data forms
    if op.verb in ("INSERT DATA", "DELETE DATA"):
        what = op.verb.split()[0]
        quads = _parse_quads(op.insert or op.delete, op.verb, ground=True)
        if what == "INSERT":
            frames = [
                _instantiate(
                    _seed(spark), set(), pats,
                    g if g is not None else graph, "INSERT DATA",
                )
                for g, pats in quads
            ]
            rows = frames[0]
            for f in frames[1:]:
                rows = rows.unionByName(f)
            # cross-group dedup: _with_new anti-joins against the BASE
            # only, so the same quad written in two GRAPH groups (or an
            # un-graphed group resolving to the same target) would enter
            # the store twice without this
            return _with_new(data, dedupe_triples(rows))
        for g, pats in quads:
            rows = _instantiate(_seed(spark), set(), pats, None, "DELETE DATA")
            data = _without(data, rows, g if g is not None else graph)
        return data

    if op.verb == "DELETE WHERE":
        blk = op.delete
        if (
            blk.filters or blk.binds or blk.optionals or blk.exists
            or blk.minuses or blk.alternatives or blk.subselects
            or blk.values_clauses or blk.groups
        ):
            raise ValueError(
                "DELETE WHERE takes a plain triple/quad-pattern block "
                "(use DELETE { … } WHERE { … } for filtered deletes)"
            )
        # the pattern doubles as the deletion template — a sequence path
        # desugars into chained `_seqN` patterns whose deletion would
        # destructively remove intermediate-hop triples the user never
        # templated (SPARQL 1.1 forbids paths here entirely)
        quads = _parse_quads(blk, "DELETE WHERE", ground=False)
        bound_vars: set[str] = set()
        bound = _apply_block(
            data, _seed(spark), bound_vars, blk, "ud", has_this=False
        )
        for g, pats in quads:
            dels = _instantiate(bound, bound_vars, pats, None, "DELETE")
            data = _without(data, dels, g if g is not None else graph)
        return data

    # -------------------- [WITH] [DELETE] [INSERT] [USING]* WHERE form
    with_graph = op.with_graph
    if with_graph is not None and graph is not None:
        raise ValueError(
            "both WITH and the graph= argument name a default graph — "
            "drop one (ambiguous)"
        )
    delete_quads = (
        _parse_quads(op.delete, "DELETE", ground=False) if op.delete else None
    )
    insert_quads = (
        _parse_quads(op.insert, "INSERT", ground=False) if op.insert else None
    )
    using, using_named = op.using, op.using_named
    strict = False
    if using or using_named:
        wdata = _dataset(data, op.where, using, using_named)
        strict = True
    elif with_graph is not None:
        # §3.1.3: WITH sets the DEFAULT graph for matching (USING
        # overrides). g's rows take the default-graph role (graph
        # nulled) and — when the WHERE says GRAPH — the store's named
        # graphs stay visible to explicit GRAPH blocks ONLY: under the
        # strict flag plain patterns match just the nulled role, per
        # spec (round-4 ADVICE closed the deviation where they also saw
        # every named row). g itself stays a named graph too, so
        # GRAPH <g> inside the WHERE still matches it.
        wdata = data.filter(F.col("graph") == with_graph).withColumn(
            "graph", F.lit(None).cast("string")
        )
        if _uses_graph(op.where):
            wdata = wdata.unionByName(
                data.filter(F.col("graph").isNotNull())
            )
        strict = True
    else:
        wdata = data
    bound_vars = set()
    with strict_default_graph(strict):
        bound = _apply_block(
            wdata, _seed(spark), bound_vars, op.where, "uu", has_this=False
        )
    default_graph = with_graph if with_graph is not None else graph
    out = data
    if delete_quads:
        for g, pats in delete_quads:
            dels = _instantiate(bound, bound_vars, pats, None, "DELETE")
            out = _without(out, dels, g if g is not None else default_graph)
    if insert_quads:
        frames = [
            _instantiate(
                bound, bound_vars, pats,
                g if g is not None else default_graph, "INSERT",
            )
            for g, pats in insert_quads
        ]
        ins = frames[0]
        for f in frames[1:]:
            ins = ins.unionByName(f)
        # cross-group dedup (see the INSERT DATA branch)
        out = _with_new(out, dedupe_triples(ins))
    return out


def sparql_describe(
    spark: SparkSession,
    data: DataFrame,
    query: str,
    max_hops: int = 8,
) -> DataFrame:
    """Evaluate a SPARQL DESCRIBE — returns the concise bounded
    description of the matched nodes as a triples-schema DataFrame: each
    node's outgoing triples, expanded recursively through blank-node
    objects (CBD, the de-facto DESCRIBE semantics), bounded by
    ``max_hops`` bnode hops.

    Two forms: ``DESCRIBE <iri> [<iri> …]`` and
    ``DESCRIBE ?v [?w …] WHERE { … }`` (each listed variable's IRI/bnode
    bindings are described; literal bindings have no description).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    q = _parse(query, "DESCRIBE")
    dg, ng = q.from_graphs, q.from_named
    data = _dataset(data, q.block, dg, ng)
    iris = [t.value for t in q.describe if t.kind == "iri"]
    tvars = [t.value for t in q.describe if t.kind == "var"]
    if q.block is None:
        if tvars:
            raise ValueError("DESCRIBE ?var requires a WHERE clause")
        nodes = spark.createDataFrame(
            [(i,) for i in iris], "node string"
        ).distinct()
    else:
        if not tvars:
            raise ValueError(
                "DESCRIBE with a WHERE clause must list at least one ?var"
            )
        bound = _select(
            spark, data, _SelectQuery(tuple(tvars), q.block), _strict(q), True
        )
        parts = [
            bound.filter(F.col(f"{v}_kind") != KIND_LITERAL).select(
                F.col(v).alias("node")
            )
            for v in tvars
        ]
        nodes = parts[0]
        for p in parts[1:]:
            nodes = nodes.unionByName(p)
        if iris:
            nodes = nodes.unionByName(
                spark.createDataFrame([(i,) for i in iris], "node string")
            )
        nodes = nodes.distinct()

    triple_cols = [
        "s", "p", "o_kind", "o_value", "o_datatype", "o_lang",
        "graph", "part_id",
    ]
    # with an explicit dataset the description is drawn from the
    # DEFAULT graph role (the FROM merge), mirroring strict matching
    if (dg or ng) and "graph" in data.columns:
        data = data.filter(F.col("graph").isNull())
    out: DataFrame | None = None
    frontier = nodes
    for _hop in range(max_hops):
        layer = data.join(
            frontier.withColumnRenamed("node", "s"), on="s", how="leftsemi"
        ).select(*triple_cols)
        out = layer if out is None else out.unionByName(layer)
        # next frontier: blank-node objects only (CBD recursion) — with
        # skolemized graphs this is empty after the first hop
        frontier = (
            layer.filter(F.col("o_kind") == KIND_BNODE)
            .select(F.col("o_value").alias("node"))
            .distinct()
        )
        if frontier.limit(1).count() == 0:
            break
    return dedupe_triples(out)

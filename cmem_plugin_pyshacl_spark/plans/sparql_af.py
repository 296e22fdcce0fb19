"""SHACL-AF first slice: sh:sparql constraints over a restricted SELECT
subset, compiled to DataFrame plans.

The reference delegates SHACL-AF wholesale to pySHACL
(/root/reference/cmem_plugin_pyshacl/plugin_pyshacl.py:250-257). A full
SPARQL engine is out of scope here; this module supports the shape of
sh:sparql constraint a reference user most commonly writes — a single
basic graph pattern plus optional FILTERs:

    SELECT $this ?value WHERE {
        $this <http://example.org/p> ?value .
        ?value <http://example.org/q> ?other .
        FILTER (?other < 10)
    }

Front end: one lexer and one recursive-descent parser over the SPARQL
1.1 grammar (§19) read every query text once — sh:select / sh:ask /
sh:construct bodies, SPARQL targets, the standalone query forms and
update requests of plans/query.py — into the ``_Block`` /
``_SelectQuery`` values the evaluator below consumes. The lexer follows
the §19.8 terminals (IRIREF, prefixed names, ?/$ variables, the four
string forms with SPARQL escapes, numbers, case-insensitive keywords,
``#`` comments) and reuses sources/turtle.py's IRI, prefixed-name and
number readers. Malformed or unsupported syntax raises
``SparqlParseError`` (a ValueError) whose message ends ``at line L, col C
(offset P)``. Term forms outside the subset raise there too:
language-tagged or typed literals in patterns, ``_:`` labels, booleans
and signed numbers.

Supported grammar (documented contract — anything outside raises
ValueError, matching validate()'s strictness for the unsupported rest):

  * SELECT list: ``$this`` plus any subset of pattern variables; the first
    non-$this variable becomes sh:value in the report.
  * graph patterns: ``subj pred obj .`` where subj/obj are ``$this``, a
    ``?var``, an ``<iri>``, a quoted literal, a ``[ … ]`` blank-node
    property list, or an RDF collection ``( e1 e2 … )`` (desugared onto
    the stored rdf:first/rdf:rest chain; ``()`` is rdf:nil); pred is an ``<iri>``,
    the keyword ``a`` (rdf:type), or a property path built from ``/``
    (sequence — desugared to fresh-variable chains), ``^`` (inverse —
    operand swap), ``|`` (alternative — desugared to UNION sub-blocks),
    parens, the closure modifiers ``*`` ``+`` ``?`` (evaluated by the
    core engine's bounded reachability fixpoint, seeded from the
    pattern's bound endpoint — a closure path with both endpoints
    unbound raises), and negated property sets ``!p`` / ``!(a|^b)``
    (one hop over the complement slice; mixed sets evaluate both arms
    per SPARQL §18.2.2.3). Patterns join left-to-right.
  * FILTER clauses — full boolean expressions over the SPARQL 1.1
    builtin subset: ``||`` / ``&&`` / ``!`` with parentheses;
    comparisons (=, !=, <, <=, >, >=) between vars / literals / numbers /
    IRIs (numeric when both sides cast to double, else string);
    bound(), isIRI()/isURI(), isLiteral(), isBlank(), sameTerm();
    regex(expr, "pattern"[, "flags"]) with i/s/m flags;
    STRSTARTS/STRENDS/CONTAINS; [NOT] IN lists; the term accessors
    str(), datatype() (RDF 1.1: rdf:langString / xsd:string defaults),
    lang(), langMatches(lang(?v), "range") incl. the "*" range; the
    value functions STRLEN/UCASE/LCASE/CONCAT/ABS; the term constructors
    STRDT/STRLANG/IRI()/URI(); the generators NOW() (fixed per query) /
    UUID() / STRUUID() / BNODE() (fresh per solution); and the timezone
    accessors TIMEZONE() (xsd:dayTimeDuration; type error when the
    dateTime carries no zone) / TZ() (simple literal, "" when absent) —
    both read the zone from the stored lexical form.
  * BIND(expr AS ?var) over the same value-expression subset — plus
    boolean expressions (``BIND(?a > 5 AS ?flag)`` binds an xsd:boolean
    literal) — evaluated after the group's patterns/nested groups,
    before its FILTERs; a NULL-evaluating expression leaves the
    variable unbound. The bound variable is projectable (usable as
    sh:value).
  * aggregates: ``SELECT $this (COUNT(?v) AS ?n) … GROUP BY $this [?g …]
    [(expr AS ?k) …] HAVING (expr)`` — expression keys desugar to an
    injected BIND — COUNT (incl. DISTINCT and ``*``), SUM, AVG, MIN,
    MAX (numeric via try_cast; non-numeric values turn NULL and drop
    from the aggregate, SPARQL's error-dropping behavior). Grouping is
    by full RDF term; HAVING takes the full FILTER expression grammar
    plus inline aggregate calls; constraint mode requires GROUP BY
    $this at the top level; a GROUP-BY-less aggregate is legal inside a
    subquery (one implicit whole-result group). ORDER BY ?v / ASC(?v) /
    DESC(?v) and LIMIT n are supported (LIMIT requires ORDER BY for
    determinism; sort keys order numerically when the value parses,
    lexically otherwise; LIMIT compiles to TakeOrderedAndProject).
    IF(cond, a, b) and COALESCE(...) work in FILTER and BIND, as does
    numeric arithmetic (+ - * /, unary minus, bracketted
    sub-expressions; evaluated in double via try_cast, so a non-numeric
    operand NULLs the result — SPARQL's type-error behavior — and
    integral results render without a trailing .0).
  * subqueries ``{ SELECT … [GROUP BY … HAVING …] }`` — evaluated
    bottom-up (seeded per focus node only when they mention the
    pre-bound $this), projected to their SELECT list (inner helper
    variables never escape), joined to the enclosing group on shared
    visible variables; no shared variable means the SPARQL cross
    product (the global-aggregate idiom). A subquery may also stand as
    a whole UNION branch (``{ SELECT … } UNION { … }``).
  * GRAPH <iri> { … } — the sub-group (any nesting) evaluates against
    the one-graph slice of the triples frame (pushed-down filter on the
    ``graph`` column) — and GRAPH ?g { … } — plain patterns + FILTERs,
    every pattern joined through ?g so the block co-locates in one named
    graph per solution and ?g binds to the graph IRI.
  * VALUES ?v { t1 t2 } and VALUES (?a ?b) { (t1 t2) (UNDEF t3) } inline
    data, compiled to a zero-shuffle OR-of-ANDs predicate (the inline
    table is query-text-sized); UNDEF is a wildcard, term matching is
    value+kind (consistent with pattern-object matching), and every
    VALUES variable must be bound by the group's patterns.
  * OPTIONAL { ... } groups (left-outer join over the distinct shared
    keys; combined with !bound() this covers the common negation idiom)
    and FILTER [NOT] EXISTS { ... } probes (semi/anti join) — nested
    groups recurse.
  * { ... } UNION { ... } alternations: every branch evaluates from the
    same binding set and the solutions union (branch-local variables are
    NULL in other branches). Both the whole-group form and an alternation
    (or a bare braced sub-group) embedded alongside other patterns are
    supported — the embedded form JOINS with the rest of the group on the
    shared variables, per SPARQL group-graph-pattern semantics.
  * MINUS { ... } groups: anti join on the variables shared between the
    group and the outer pattern ($this counts only when the group
    mentions it); a group sharing no variables removes nothing — the
    SPARQL disjoint-domain rule that distinguishes MINUS from
    FILTER NOT EXISTS.
  * PREFIX: inline ``PREFIX pfx: <ns>`` declarations, plus shapes-graph
    ``sh:prefixes``/``sh:declare`` ontologies (SHACL-AF §5.2) — the lexer
    resolves prefixed names to IRI tokens; an undeclared prefix raises.
  * pre-binding: custom-component parameters, ``$PATH`` and SPARQL
    function calls (SHACL-AF §6-7) substitute tokens (``_bind_var``,
    ``expand_function_calls``), so a ``$name`` inside a string literal
    or IRI is never rewritten; ``$value`` and ``?value`` are one variable.
  * CONSTRUCT (``parse_construct``, used by plans/rules.py for
    sh:SPARQLRule): same body grammar plus a template block of patterns
    over ``$this`` / bound vars / constants.

Per SHACL-AF §5.3, every solution of the query is one validation result
with sourceConstraintComponent sh:SPARQLConstraintComponent.

Scale posture: each triple pattern is a ``p == <iri>`` slice of the
(persisted, predicate-sliced) relation joined progressively into the
binding set — same join shape as S5; no collects, no UDFs.
"""

from __future__ import annotations

import contextlib
import contextvars
import itertools
import re
import dataclasses
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..data_model import (
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    RDF_LANGSTRING,
    RDF_TYPE,
    SH,
    XSD,
    XSD_STRING,
    ParseError,
    is_small,
    maybe_broadcast,
)
from ..sources.turtle import (
    _NUMBER_RE,
    _PN_PREFIX_RE,
    RDF_FIRST,
    RDF_NIL,
    RDF_REST,
)
from ..sources.turtle import _Parser as _TurtleReader

SH_SPARQL_COMPONENT = SH + "SPARQLConstraintComponent"


@dataclass(frozen=True)
class SparqlConstraint:
    node_shape: str  # owning node shape (focus targets come from it)
    constraint_id: str  # the sh:sparql node (sourceShape in reports)
    select: _Lexed | None  # the lexed SELECT (None for an ASK validator)
    message: str | None
    severity: str
    # custom constraint components (SHACL-AF §6) report their own IRI
    component: str = SH_SPARQL_COMPONENT
    # SPARQLAskValidator body (SHACL-AF §6.2.2): when set, `select` is
    # None and conformance means the ASK pattern has >=1 solution for
    # the focus node ($this pre-bound); no solution -> one violation.
    ask: _Lexed | None = None
    # property-shape application (SHACL-AF §6.2: sh:propertyValidator /
    # $PATH / $value): the property shape's simple sh:path IRI. When set,
    # results carry it as resultPath, SELECT validators have $PATH bound
    # to it, and ASK validators evaluate per (focus, value-of-path) pair
    # with ?value pre-bound.
    path: str | None = None


@dataclass(frozen=True)
class _Term:
    kind: str  # 'this' | 'var' | 'iri' | 'lit'
    value: str
    # literal datatype hint for CONSTRUCT templates: quoted -> xsd:string,
    # bare integer -> xsd:integer, bare decimal -> xsd:decimal
    dt: str | None = None


@dataclass(frozen=True)
class _Pattern:
    subj: _Term
    # a plain predicate IRI string, or (closure-bearing property paths
    # only) a normalized plans/shacl.py PathExpr tree evaluated by the
    # bounded reachability fixpoint
    pred: object
    obj: _Term


@dataclass(frozen=True)
class _Filter:
    toks: tuple  # the tokens inside FILTER ( … )


@dataclass(frozen=True)
class _Block:
    """One group graph pattern: its own triple patterns and filters plus
    nested OPTIONAL groups and FILTER [NOT] EXISTS probes. When
    `alternatives` is non-empty the block IS a `{…} UNION {…}`
    alternation and every other field is empty. `groups` holds nested
    braced sub-groups — including embedded alternations — that JOIN with
    the enclosing group (SPARQL Join of group graph patterns)."""

    patterns: tuple  # tuple[_Pattern, ...]
    filters: tuple  # tuple[_Filter, ...]
    optionals: tuple  # tuple[_Block, ...]
    exists: tuple  # tuple[(negated: bool, _Block), ...]
    alternatives: tuple = ()  # tuple[_Block, ...]
    minuses: tuple = ()  # tuple[_Block, ...]
    groups: tuple = ()  # tuple[_Block, ...]
    binds: tuple = ()  # tuple[(var: str, raw_expr: str), ...]
    values_clauses: tuple = ()  # tuple[_ValuesClause, ...]
    subselects: tuple = ()  # tuple[_SelectQuery, ...]
    graphs: tuple = ()  # tuple[(name: _Term {iri|var}, _Block), ...]

    def all_patterns(self):
        """Every triple pattern of this block and its nested groups —
        EXCLUDING subquery bodies (their non-projected variables are out
        of scope outside the subquery; walk all_subselects for them)."""
        yield from self.patterns
        for b in self.optionals:
            yield from b.all_patterns()
        for _neg, b in self.exists:
            yield from b.all_patterns()
        for b in self.alternatives:
            yield from b.all_patterns()
        for b in self.minuses:
            yield from b.all_patterns()
        for b in self.groups:
            yield from b.all_patterns()
        for _g, b in self.graphs:
            yield from b.all_patterns()

    def all_subselects(self):
        """Every nested { SELECT ... } at any depth (including inside
        other subqueries)."""
        yield from self.subselects
        for b in self.optionals:
            yield from b.all_subselects()
        for _neg, b in self.exists:
            yield from b.all_subselects()
        for b in self.alternatives:
            yield from b.all_subselects()
        for b in self.minuses:
            yield from b.all_subselects()
        for b in self.groups:
            yield from b.all_subselects()
        for _g, b in self.graphs:
            yield from b.all_subselects()
        for q in self.subselects:
            yield from q.block.all_subselects()


@dataclass(frozen=True)
class _ValuesClause:
    """An inline-data block: VALUES ?v { t1 t2 } or
    VALUES (?a ?b) { (t1 t2) (UNDEF t3) }. Rows hold _Term or None
    (UNDEF wildcard)."""

    vars: tuple  # tuple[str, ...]
    rows: tuple  # tuple[tuple[_Term | None, ...], ...]


def declared_prefixes(by_subject: dict, node: str) -> dict[str, str]:
    """SHACL-AF §5.2: ``node sh:prefixes ont`` where
    ``ont sh:declare [sh:prefix "ex"; sh:namespace "..."]``. The node's
    own subject is also checked for direct sh:declare edges."""
    prefixes: dict[str, str] = {}
    onts = [r.o_value for r in by_subject.get(node, {}).get(SH + "prefixes", [])]
    for ont in [*onts, node]:
        for decl in by_subject.get(ont, {}).get(SH + "declare", []):
            props = by_subject.get(decl.o_value, {})
            pfx = props.get(SH + "prefix", [])
            ns = props.get(SH + "namespace", [])
            if pfx and ns:
                prefixes[pfx[0].o_value] = ns[0].o_value
    return prefixes


def index_rows(shapes_rows: list) -> dict[str, dict[str, list]]:
    """Index collected shapes-graph rows as s -> p -> [rows]."""
    by_subject: dict[str, dict[str, list]] = {}
    for r in shapes_rows:
        by_subject.setdefault(r.s, {}).setdefault(r.p, []).append(r)
    return by_subject


def first_object(by_subject: dict[str, dict[str, list]]):
    """`obj(s, p)` over an index_rows index — the first object's value or
    None, the lookup plans/shacl.py::parse_shacl_path reads paths with."""
    return lambda s, p: next((r.o_value for r in by_subject.get(s, {}).get(p, ())), None)


def compile_sparql_constraints(shapes_rows: list) -> dict[str, list[SparqlConstraint]]:
    """From collected shapes-graph rows (s, p, o_value ... tuples as Row
    objects), gather sh:sparql constraint nodes grouped by owning shape.
    The select is lexed here: prefixed names resolve against its PREFIX
    prologue plus the node's sh:prefixes."""
    by_subject = index_rows(shapes_rows)
    out: dict[str, list[SparqlConstraint]] = {}
    for subj, preds in by_subject.items():
        for ref in preds.get(SH + "sparql", []):
            node = ref.o_value
            props = by_subject.get(node, {})
            selects = props.get(SH + "select", [])
            if not selects:
                raise ValueError(f"sh:sparql node {node} has no sh:select")
            msgs = props.get(SH + "message", [])
            sevs = props.get(SH + "severity", [])
            select = lex(selects[0].o_value, declared_prefixes(by_subject, node))
            out.setdefault(subj, []).append(
                SparqlConstraint(
                    node_shape=subj,
                    constraint_id=node,
                    select=select,
                    message=msgs[0].o_value if msgs else None,
                    severity=sevs[0].o_value if sevs else SH + "Violation",
                )
            )
    return out


SH_CONSTRAINT_COMPONENT = SH + "ConstraintComponent"


def _local_name(iri_str: str) -> str:
    """Parameter variable name per SHACL-AF §6.2.1: the local name of the
    parameter's sh:path IRI."""
    for sep in ("#", "/"):
        if sep in iri_str:
            iri_str = iri_str.rsplit(sep, 1)[1]
    return iri_str


def _render_param(row) -> str:
    """A parameter value row as a SPARQL constant. IRIs render as
    ``<iri>``; literals render as plain quoted strings of their lexical
    form (the pattern/filter grammar of this subset has no typed-literal
    tokens — regex/comparison parameters are exactly lexical)."""
    if row.o_kind == KIND_IRI:
        return f"<{row.o_value}>"
    esc = row.o_value.replace("\\", "\\\\").replace('"', '\\"')
    return f'"{esc}"'


def _bind_var(src: _Lexed, name: str, const: _Tok) -> _Lexed:
    """Pre-bind ``$name`` / ``?name`` to the constant token ``const``."""
    return src._replace(
        toks=tuple(
            dataclasses.replace(const, pos=t.pos)
            if t.kind == "var" and t.value == name
            else t
            for t in src.toks
        )
    )


def _fill_message(message: str, var: str, rendered: str, lexical: str) -> str:
    """Pre-bind a parameter in a message template (SHACL-AF §6.4; not
    SPARQL): ``{$var}`` / ``{?var}`` take the lexical form, a bare
    ``$var`` / ``?var`` the rendered constant."""
    message = re.sub(
        r"\{[?$]" + re.escape(var) + r"\}", lexical.replace("\\", "\\\\"), message
    )
    return re.sub(r"[?$]" + re.escape(var) + r"\b", rendered, message)


def compile_custom_components(
    shapes_rows: list,
    shapes_triples: DataFrame | None,
    all_rows: list | None = None,
) -> dict[str, list[SparqlConstraint]]:
    """SHACL-AF §6 custom constraint components, SELECT-validator subset:

      ex:C a sh:ConstraintComponent ;
          sh:parameter [ sh:path ex:pattern ] ;
          sh:validator [ sh:select "… $pattern …" ; sh:message "…" ] .

    A NODE SHAPE carrying values for every mandatory parameter gets one
    constraint instance per combination of parameter values; parameters
    pre-bind into the validator's tokens ($var / ?var variable tokens
    become IRI or plain string constants — never inside a literal) and
    into the message ({$var} templates, textual). Results report the
    component IRI as sourceConstraintComponent and the shape as
    sourceShape. Validators are SELECT-based (sh:validator /
    sh:nodeValidator with sh:select — each solution is a violation) or
    ASK-based (sh:ask — the focus node conforms iff the pre-bound pattern
    has a solution, SHACL-AF §6.2.2).

    A PROPERTY SHAPE (subject carrying sh:path) applies the component
    per value of its path under the OWNING node shape:
    sh:propertyValidator is preferred (sh:validator the fallback),
    ``$PATH`` binds to the path IRI in SELECT bodies,
    and ASK validators evaluate per (focus, value) pair with
    ``?value``/``$value`` pre-bound; complex sh:path stays outside the
    subset. Parameter values live on shape subjects under arbitrary
    predicates, so they are collected in a second tiny pass restricted
    to exactly the declared parameter paths."""
    from .shacl import PPred, parse_shacl_path

    by_subject = index_rows(shapes_rows)
    comps: list[tuple[str, list[tuple[str, bool]], str, str | None]] = []
    for subj, preds in by_subject.items():
        types = [r.o_value for r in preds.get(RDF_TYPE, [])]
        if SH_CONSTRAINT_COMPONENT not in types:
            continue
        params: list[tuple[str, bool]] = []
        for pref in preds.get(SH + "parameter", []):
            pprops = by_subject.get(pref.o_value, {})
            paths = pprops.get(SH + "path", [])
            if not paths:
                raise ValueError(
                    f"sh:parameter of component {subj} has no sh:path"
                )
            optional = any(
                r.o_value == "true" for r in pprops.get(SH + "optional", [])
            )
            params.append((paths[0].o_value, optional))
        def _validator_body(refs):
            """(body, is_ask, message) of the first executable validator
            reference, or None."""
            if not refs:
                return None
            vnode = refs[0].o_value
            vprops = by_subject.get(vnode, {})
            selects = vprops.get(SH + "select", [])
            asks = vprops.get(SH + "ask", [])
            if not selects and not asks:
                raise ValueError(
                    f"validator {vnode} of component {subj} has neither "
                    "sh:select nor sh:ask"
                )
            msgs = vprops.get(SH + "message", [])
            body = lex(
                (selects or asks)[0].o_value, declared_prefixes(by_subject, vnode)
            )
            return (
                body,
                bool(asks) and not selects,
                msgs[0].o_value if msgs else None,
            )

        node_v = _validator_body(
            preds.get(SH + "validator", []) or preds.get(SH + "nodeValidator", [])
        )
        prop_v = _validator_body(
            preds.get(SH + "propertyValidator", [])
            or preds.get(SH + "validator", [])
        )
        if not params or (node_v is None and prop_v is None):
            # vocabulary-style declaration (e.g. the SHACL namespace's own
            # core components) — nothing to execute, not an error
            import logging

            logging.getLogger(__name__).warning(
                "constraint component %s skipped (no %s declared)",
                subj,
                "sh:parameter" if not params else "executable validator",
            )
            continue
        comps.append((subj, params, node_v, prop_v))
    if not comps:
        return {}

    # property-shape subjects apply under their OWNING node shape
    prop_parent: dict[str, str] = {}
    for s2, preds2 in by_subject.items():
        for ref in preds2.get(SH + "property", []):
            prop_parent[ref.o_value] = s2

    param_paths = sorted({p for _c, ps, _nv, _pv in comps for p, _o in ps})
    if all_rows is not None:
        # the caller already collected the (tiny) shapes graph once —
        # slice driver-side instead of launching another Spark job
        _pset = set(param_paths)
        val_rows = [r for r in all_rows if r.p in _pset]
    else:
        val_rows = (
            shapes_triples.filter(F.col("p").isin(param_paths))
            .select("s", "p", "o_kind", "o_value", "o_datatype", "o_lang")
            .collect()
        )
    vals: dict[tuple[str, str], list] = {}
    for r in val_rows:
        vals.setdefault((r.s, r.p), []).append(r)

    # a path node's own triples (sh:inversePath, rdf:first, ...) may lie
    # outside shapes_rows, so paths read the whole collected graph
    path_obj = first_object(index_rows(all_rows) if all_rows is not None else by_subject)
    out: dict[str, list[SparqlConstraint]] = {}
    for comp_iri, params, node_v, prop_v in comps:
        path_set = {p for p, _o in params}
        shape_subjs = sorted({s for (s, p) in vals if p in path_set})
        for subj in shape_subjs:
            subj_props = by_subject.get(subj, {})
            path_rows = subj_props.get(SH + "path", [])
            prop_path: str | None = None
            owner = subj
            if path_rows:
                # property-shape application: the component validates each
                # value of the shape's path (SHACL-AF §6.2); only a
                # predicate path (an IRI) binds $PATH
                prow = path_rows[0]
                if prow.o_kind != KIND_IRI or not isinstance(
                    parse_shacl_path(path_obj, prow.o_value), PPred
                ):
                    raise ValueError(
                        f"property shape {subj} with a custom component "
                        "has a complex sh:path — outside the subset"
                    )
                prop_path = prow.o_value
                owner = prop_parent.get(subj, "")
                if not owner:
                    continue  # dangling property shape — never applied
            v = prop_v if prop_path else node_v
            if v is None:
                raise ValueError(
                    f"component {comp_iri} declares no "
                    f"{'property' if prop_path else 'node'} validator "
                    f"for shape {subj}"
                )
            select, is_ask, message = v
            if prop_path:
                select = _bind_var(
                    select, "PATH", _Tok("iri", prop_path, f"<{prop_path}>")
                )
            per_param: list[list] = []
            complete = True
            for path, optional in params:
                pv = vals.get((subj, path), [])
                if not pv:
                    if optional:
                        per_param.append([None])
                    else:
                        complete = False
                        break
                else:
                    per_param.append(sorted(pv, key=lambda r: r.o_value))
            if not complete:
                continue
            for combo in itertools.product(*per_param):
                sel, msg = select, message
                for (path, _opt), row in zip(params, combo):
                    if row is None:
                        continue
                    var = _local_name(path)
                    rendered = _render_param(row)
                    kind = "iri" if row.o_kind == KIND_IRI else "str"
                    sel = _bind_var(sel, var, _Tok(kind, row.o_value, rendered))
                    if msg:
                        msg = _fill_message(msg, var, rendered, row.o_value)
                out.setdefault(owner, []).append(
                    SparqlConstraint(
                        node_shape=owner,
                        constraint_id=subj,
                        select=None if is_ask else sel,
                        message=msg,
                        severity=SH + "Violation",
                        component=comp_iri,
                        ask=sel if is_ask else None,
                        path=prop_path,
                    )
                )
    return out


SH_SPARQL_FUNCTION = SH + "SPARQLFunction"


@dataclass
class SparqlFunction:
    """SHACL-AF §7 SPARQL function, pure-expression subset: the sh:select
    body must be ``SELECT (expr AS ?out) WHERE {}`` — a computation over
    the pre-bound parameters with no graph patterns (how SHACL functions
    are overwhelmingly written: expression wrappers). Calls expand into
    the calling validator's tokens before parsing, so the evaluator never
    sees the function — the same pre-binding strategy custom-component
    parameters use. Bodies with graph patterns would be
    correlated subqueries per call site; they raise (out of subset)."""

    iri: str
    params: list[str]  # ordered parameter variable names
    expr: tuple  # the expression's tokens over ?param names


def compile_sparql_functions(shapes_rows: list) -> dict[str, SparqlFunction]:
    """Gather sh:SPARQLFunction declarations keyed by function IRI.
    Parameters order by sh:order (then local name); the parameter variable
    name is the local name of the parameter's sh:path (§7.1, same rule as
    custom components)."""
    by_subject = index_rows(shapes_rows)
    out: dict[str, SparqlFunction] = {}
    for subj, preds in by_subject.items():
        types = [r.o_value for r in preds.get(RDF_TYPE, [])]
        if SH_SPARQL_FUNCTION not in types:
            continue
        plist: list[tuple[float, str]] = []
        for pref in preds.get(SH + "parameter", []):
            pprops = by_subject.get(pref.o_value, {})
            paths = pprops.get(SH + "path", [])
            if not paths:
                raise ValueError(
                    f"sh:parameter of function {subj} has no sh:path"
                )
            orders = pprops.get(SH + "order", [])
            try:
                order = float(orders[0].o_value) if orders else float("inf")
            except ValueError as e:
                raise ValueError(
                    f"function {subj}: non-numeric sh:order "
                    f"{orders[0].o_value!r}"
                ) from e
            plist.append((order, _local_name(paths[0].o_value)))
        selects = preds.get(SH + "select", [])
        if not selects:
            raise ValueError(
                f"sh:SPARQLFunction {subj} has no sh:select (only "
                "SELECT-expression functions are in the subset)"
            )
        p = _Parser(lex(selects[0].o_value, declared_prefixes(by_subject, subj)))
        try:
            p.expect_kw("SELECT")
            _out, expr = p.named_expr("expected (expr AS ?out)")
            p.accept_kw("WHERE")
            p.expect("{")
            p.expect("}")
            p.end("the function body")
        except SparqlParseError as e:
            raise ValueError(
                f"sh:SPARQLFunction {subj}: only pure-expression bodies "
                "'SELECT (expr AS ?out) WHERE {}' are in the subset"
            ) from e
        out[subj] = SparqlFunction(subj, [name for _o, name in sorted(plist)], expr)
    return out


def _call_args(toks: tuple, i: int) -> tuple[list[list[_Tok]], int]:
    """toks[i] is a call's '('. Its top-level comma-separated arguments
    and the index past the closing ')'."""
    args: list[list[_Tok]] = []
    cur: list[_Tok] = []
    depth = 0
    while toks[i].kind != "eof":
        t = toks[i]
        i += 1
        if t.kind == "op" and t.text in ("(", ")", ","):
            depth += (t.text == "(") - (t.text == ")")
            if depth == 0:
                if cur or args:
                    args.append(cur)
                return args, i
            if depth == 1 and t.text in "(,":
                if t.text == ",":
                    args.append(cur)
                    cur = []
                continue
        cur.append(t)
    raise ValueError("unbalanced function argument list")


def expand_function_calls(
    src: str | _Lexed, functions: dict[str, SparqlFunction], max_depth: int = 25
) -> _Lexed:
    """Expand every ``<fn-iri>(args…)`` call of a declared SPARQL function
    into its parenthesized expression with each parameter token replaced
    by the parenthesized argument tokens (precedence is preserved).
    Iterates for nested / mutually-referencing functions with a depth
    bound (cycles raise). Expanded tokens carry the call's position."""
    src = _lexed(src)
    toks = src.toks
    for _ in range(max_depth):
        out: list[_Tok] = []
        i = 0
        expanded = False
        while i < len(toks):
            t = toks[i]
            fn = functions.get(t.value) if t.kind == "iri" else None
            if fn is None or toks[i + 1].text != "(":
                out.append(t)
                i += 1
                continue
            args, i = _call_args(toks, i + 1)
            if len(args) != len(fn.params):
                raise SparqlParseError(
                    f"function <{fn.iri}> expects {len(fn.params)} "
                    f"arguments, got {len(args)}",
                    t.pos,
                    src.text,
                )
            bound = dict(zip(fn.params, args))
            out.append(_op("(", t.pos))
            for e in fn.expr:
                if e.kind == "var" and e.value in bound:
                    out += [_op("(", t.pos), *bound[e.value], _op(")", t.pos)]
                else:
                    out.append(dataclasses.replace(e, pos=t.pos))
            out.append(_op(")", t.pos))
            expanded = True
        if not expanded:
            return src._replace(toks=toks)
        toks = tuple(out)
    raise ValueError(
        "SPARQL function expansion did not terminate (recursive functions?)"
    )


SH_SPARQL_TARGET = SH + "SPARQLTarget"


def compile_sparql_targets(shapes_rows: list) -> dict[str, list[_Lexed]]:
    """SHACL-AF §3 custom targets: gather ``shape sh:target t`` where
    ``t a sh:SPARQLTarget ; sh:select "SELECT ?this WHERE { … }"``,
    grouped by owning shape, selects lexed (prefixes resolved). Any other
    sh:target node type raises — outside the supported subset."""
    by_subject = index_rows(shapes_rows)
    out: dict[str, list[str]] = {}
    for subj, preds in by_subject.items():
        for ref in preds.get(SH + "target", []):
            node = ref.o_value
            props = by_subject.get(node, {})
            types = [r.o_value for r in props.get(RDF_TYPE, [])]
            if SH_SPARQL_TARGET not in types:
                raise ValueError(
                    f"unsupported sh:target node {node} "
                    "(only sh:SPARQLTarget is supported)"
                )
            selects = props.get(SH + "select", [])
            if not selects:
                raise ValueError(f"sh:SPARQLTarget {node} has no sh:select")
            out.setdefault(subj, []).append(
                lex(selects[0].o_value, declared_prefixes(by_subject, node))
            )
    return out


def evaluate_target_select(
    spark: SparkSession, data: DataFrame, select: str | _Lexed
) -> DataFrame:
    """Evaluate a sh:SPARQLTarget select; returns DataFrame[focus]
    (distinct). Inside a target select ``?this`` is an ordinary variable
    BOUND BY the pattern (there is no outer focus set), so ``$this`` is
    rejected — SHACL-AF target queries project ``?this``."""
    q = _no_values(parse_select_query(select), "a sh:SPARQLTarget select")
    if q.star:
        raise ValueError(
            "SELECT * is not valid in a sh:SPARQLTarget select — project "
            "?this explicitly"
        )
    block = q.block
    if any(
        t.kind == "this"
        for p in block.all_patterns()
        for t in (p.subj, p.obj)
    ) or any(
        t.kind == "this"
        for qq in block.all_subselects()
        for p in qq.block.all_patterns()
        for t in (p.subj, p.obj)
    ):
        raise ValueError(
            "$this is not bound in a sh:SPARQLTarget select — project and "
            "bind ?this instead"
        )
    seed = spark.range(1).select(F.lit(0).alias("_seed"))
    bound_vars: set[str] = set()
    bound = _apply_block(data, seed, bound_vars, block, "t", has_this=False)
    if "this" not in bound_vars:
        raise ValueError("sh:SPARQLTarget select must bind ?this")
    if q.aggs or q.group_by or q.having:
        bound, bound_vars = _apply_aggregation(
            bound, bound_vars, q, has_this=False
        )
        if "this" not in bound_vars:
            raise ValueError(
                "an aggregate sh:SPARQLTarget select must GROUP BY ?this"
            )
    bound = _apply_order_limit(bound, bound_vars, q, has_this=False)
    return bound.select(F.col("this__value").alias("focus")).distinct()


_ECHAR = {
    "n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
# one alternation, scanned left-to-right: \uXXXX | \UXXXXXXXX | \<echar>.
# A single pass means an escaped backslash consumes both characters before
# the following text is looked at, so `\\u0041` stays a literal backslash+
# "u0041" AND a backslash-u0000 escape decodes to chr(0) — the sentinel
# version turned a decoded NUL back into a backslash (round-4 ADVICE).
_STR_ESCAPE_RE = re.compile(
    r"\\u([0-9A-Fa-f]{4})|\\U([0-9A-Fa-f]{8})|\\(.)", re.S
)


def _unescape_string(lex: str) -> str:
    """Resolve SPARQL string-literal escapes (§19.7 ECHAR + UCODE) in a
    single left-to-right pass. A backslash before anything outside the
    ECHAR/UCODE grammar is not an escape — it passes through verbatim
    (strictly it is a syntax error; preserving beats silently dropping
    the backslash, round-5 review)."""
    def _sub(m: re.Match) -> str:
        if m.group(1) is not None:
            return chr(int(m.group(1), 16))
        if m.group(2) is not None:
            return chr(int(m.group(2), 16))
        ch = m.group(3)
        return _ECHAR.get(ch, "\\" + ch)

    return _STR_ESCAPE_RE.sub(_sub, lex)

# SPARQL path modifier -> SHACL closure kind (sh:zeroOrMorePath etc.)
_CLOSURE_KINDS = {"*": "zeroOrMore", "+": "oneOrMore", "?": "zeroOrOne"}


def _has_closure(ast: tuple) -> bool:
    kind = ast[0]
    if kind == "clo":
        return True
    if kind in ("iri", "neg"):
        return False
    if kind == "inv":
        return _has_closure(ast[1])
    return any(_has_closure(x) for x in ast[1])  # seq / alt


def _to_path_expr(ast: tuple):
    """Convert a closure-bearing path AST into the core engine's
    normalized PathExpr tree (plans/shacl.py path algebra) so the
    bounded reachability fixpoint can evaluate it."""
    from .shacl import PAlt, PClosure, PInv, PNeg, PPred, PSeq, _normalize_path

    def conv(a: tuple):
        k = a[0]
        if k == "iri":
            return PPred(a[1])
        if k == "inv":
            return PInv(conv(a[1]))
        if k == "seq":
            return PSeq(tuple(conv(x) for x in a[1]))
        if k == "alt":
            return PAlt(tuple(conv(x) for x in a[1]))
        if k == "neg":
            return PNeg(a[1], a[2])  # ("neg", fwd|None, inv|None)
        return PClosure(conv(a[2]), a[1])  # ("clo", kind, inner)

    return _normalize_path(conv(ast))


# ------------------------------------------------------------ front end
# One lexer and one recursive-descent parser over the SPARQL 1.1 grammar
# (§19). Every query text — sh:select / sh:ask / sh:construct bodies,
# target selects, standalone queries, update requests — is lexed once
# (prefixed names resolve in the lexer) and parsed once into the _Block /
# _SelectQuery values the evaluator consumes. Pre-binding (component
# parameters, $PATH, SPARQL-function calls) substitutes tokens, so string
# literals and IRIs are never rewritten.


class SparqlParseError(ParseError):
    """Malformed or unsupported SPARQL, located in the query text."""


@dataclass(frozen=True, slots=True)
class _Tok:
    """One token. Tokens compare by meaning (kind, value): ``ex:p`` and
    its expanded ``<…>`` spelling are the same token."""

    kind: str  # iri | var | str | num | name | op | eof
    value: str  # IRI (prefix resolved) / variable name / decoded string / …
    text: str = field(compare=False)  # the source spelling
    pos: int = field(default=0, compare=False)  # offset into the lexed text


class _Lexed(NamedTuple):
    """A lexed SPARQL text: its tokens (ending in one eof token) and the
    text their offsets point into."""

    text: str
    toks: tuple


_IRIREF_RE = re.compile(r'<[^<>"{}|^`\\\x00-\x20]*>')
_VAR_RE = re.compile(r"[?$](\w+)")
_NAME_RE = re.compile(r"[^\W\d]\w*")
_OP_RE = re.compile(r"&&|\|\||!=|<=|>=|[=<>!(),+\-*/{}\[\].;|^?]")


class _Lexer(_TurtleReader):
    """turtle.py's cursor supplies whitespace/comment skipping and the
    IRIREF, prefixed-name and number readers; SPARQL adds variables,
    keywords, operators and its own string escapes (_unescape_string)."""

    def __init__(self, text: str, prefixes: dict[str, str]):
        super().__init__(text, None)
        self.prefixes = dict(prefixes)

    def _fail(self, message: str) -> None:
        raise SparqlParseError(message, self.i, self.text)

    def _string_body(self) -> str:
        """Raw body of the string literal at the cursor (any of the four
        quote forms); the cursor moves past its closing quote."""
        text, i = self.text, self.i
        q = text[i]
        delim = q * 3 if text.startswith(q * 3, i) else q
        j = i + len(delim)
        while j < self.n:
            if text[j] == "\\":
                j += 2
            elif text.startswith(delim, j):
                # quotes right before a long string's close are content
                while len(delim) == 3 and text.startswith(q, j + 3):
                    j += 1
                self.i = j + len(delim)
                return text[i + len(delim) : j]
            else:
                j += 1
        self._fail("unterminated string")

    def _prefix_decl(self) -> None:
        self._skip_ws()
        m = _PN_PREFIX_RE.match(self.text, self.i)
        end = m.end() if m else self.i
        if not self.text.startswith(":", end):
            self._fail("expected 'prefix:' after PREFIX")
        self.i = end + 1
        self._skip_ws()
        if not _IRIREF_RE.match(self.text, self.i):
            self._fail("expected <namespace> in a PREFIX declaration")
        self.prefixes[m.group(0) if m else ""] = self._read_iriref()

    def tokens(self) -> tuple:
        text, out = self.text, []
        while True:
            self._skip_ws()
            i = self.i
            if i >= self.n:
                out.append(_Tok("eof", "", "", i))
                return tuple(out)
            c = text[i]
            m = None
            if c == "<" and _IRIREF_RE.match(text, i):
                kind, value = "iri", self._read_iriref()
            elif c in "?$" and (m := _VAR_RE.match(text, i)):
                kind, value = "var", m.group(1)
            elif c in "\"'":
                kind, value = "str", _unescape_string(self._string_body())
            elif c.isdigit() and (m := _NUMBER_RE.match(text, i)):
                kind, value = "num", m.group(0)
            elif text.startswith("_:", i):
                self._fail("blank node labels are not supported (use a variable)")
            elif c == ":" or _NAME_RE.match(text, i):
                p = _PN_PREFIX_RE.match(text, i)
                if text.startswith(":", p.end() if p else i):
                    kind, value = "iri", self._read_pname()
                else:
                    kind, m = "name", _NAME_RE.match(text, i)
                    value = m.group(0)
                    if value.upper() == "PREFIX":
                        self.i = m.end()
                        self._prefix_decl()
                        continue
            elif m := _OP_RE.match(text, i):
                kind, value = "op", m.group(0)
            else:
                self._fail(f"unexpected character {c!r}")
            if m is not None:
                self.i = m.end()
            out.append(_Tok(kind, value, text[i : self.i], i))


def lex(text: str, prefixes: dict[str, str] | None = None) -> _Lexed:
    """Tokenize a SPARQL text. Its PREFIX declarations and ``prefixes``
    (shapes-graph sh:prefixes) resolve prefixed names to IRI tokens;
    an undeclared prefix raises."""
    return _Lexed(text, _Lexer(text, prefixes or {}).tokens())


def _lexed(src: str | _Lexed) -> _Lexed:
    return src if isinstance(src, _Lexed) else lex(src)


def _is_kw(t: _Tok, *words: str) -> bool:
    return t.kind == "name" and t.value.upper() in words


def _op(text: str, pos: int) -> _Tok:
    return _Tok("op", text, text, pos)


def _render(toks) -> str:
    return " ".join(t.text for t in toks)


_AGG_FNS = ("COUNT", "SUM", "MIN", "MAX", "AVG", "SAMPLE", "GROUP_CONCAT")


@dataclass
class _BList:
    """A ``[ … ]`` blank-node property list node: (verb, object) pairs."""

    props: list


@dataclass
class _Coll:
    """A ``( … )`` RDF collection node."""

    items: list


@dataclass(frozen=True)
class _Query:
    """A parsed standalone query (plans/query.py)."""

    form: str  # SELECT | ASK | CONSTRUCT | DESCRIBE
    block: _Block | None  # the WHERE group (None: DESCRIBE <iri> only)
    select: _SelectQuery | None = None
    template: tuple | None = None  # CONSTRUCT patterns; None = CONSTRUCT WHERE
    describe: tuple = ()  # DESCRIBE terms (_Term iri | var)
    from_graphs: tuple = ()
    from_named: tuple = ()


@dataclass(frozen=True)
class _UpdateOp:
    """One operation of an update request (plans/query.py)."""

    # CREATE, CLEAR (also DROP), ADD, COPY, MOVE, LOAD, INSERT DATA,
    # DELETE DATA, DELETE WHERE or MODIFY ([WITH] DELETE/INSERT … WHERE)
    verb: str
    silent: bool = False
    src: str | None = None  # CLEAR/ADD/COPY/MOVE graph, LOAD path (None: DEFAULT)
    dst: str | None = None  # ADD/COPY/MOVE target, LOAD INTO graph
    scope: str | None = None  # CLEAR/DROP: GRAPH | DEFAULT | NAMED | ALL
    with_graph: str | None = None
    delete: _Block | None = None  # DELETE DATA / DELETE WHERE / MODIFY
    insert: _Block | None = None
    using: tuple = ()
    using_named: tuple = ()
    where: _Block | None = None


class _Parser:
    """Recursive descent over one token stream. Fresh ``_bp`` (bnode
    list), ``_cl`` (collection) and ``_seq`` (sequence-path hop)
    variables are minted per parse, skipping names the query uses."""

    def __init__(self, src: str | _Lexed):
        self.src = _lexed(src)
        self.toks = self.src.toks
        self.i = 0
        self.used = {t.value for t in self.toks if t.kind == "var"}
        self.fresh: dict[str, int] = {}

    # -- token plumbing
    def peek(self, k: int = 0) -> _Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def take(self) -> _Tok:
        t = self.peek()
        if t.kind != "eof":
            self.i += 1
        return t

    def fail(self, message: str, tok: _Tok | None = None) -> None:
        raise SparqlParseError(message, (tok or self.peek()).pos, self.src.text)

    def accept(self, text: str) -> bool:
        if self.peek().kind == "op" and self.peek().text == text:
            self.i += 1
            return True
        return False

    def accept_kw(self, word: str) -> bool:
        if _is_kw(self.peek(), word):
            self.i += 1
            return True
        return False

    def expect(self, text: str, after: str = "") -> _Tok:
        t = self.peek()
        if not self.accept(text):
            where = f" after {after}" if after else ""
            self.fail(f"expected {text!r}{where}, found {t.text or 'end of query'!r}")
        return t

    def expect_kw(self, word: str) -> None:
        if not self.accept_kw(word):
            self.fail(f"expected {word}, found {self.peek().text or 'end of query'!r}")

    def end(self, what: str) -> None:
        if self.peek().kind != "eof":
            self.fail(f"unexpected {self.peek().text!r} after {what}")

    def mint(self, prefix: str) -> _Term:
        k = self.fresh.get(prefix, 0)
        while f"{prefix}{k}" in self.used:
            k += 1
        self.fresh[prefix] = k + 1
        self.used.add(f"{prefix}{k}")
        return _Term("var", f"{prefix}{k}")

    def span(self) -> tuple:
        """The tokens inside the balanced ``( … )`` at the cursor — a
        FILTER / BIND / HAVING / GROUP BY expression."""
        open_tok = self.expect("(")
        start, depth = self.i, 1
        while depth:
            t = self.take()
            if t.kind == "eof":
                self.fail("unbalanced parentheses", open_tok)
            if t.kind == "op":
                depth += (t.text == "(") - (t.text == ")")
        return self.toks[start : self.i - 1]

    def named_expr(self, message: str) -> tuple:
        """``( expr AS ?var )`` -> (var, expr tokens)."""
        at = self.peek()
        toks = self.span()
        if len(toks) < 3 or not _is_kw(toks[-2], "AS") or toks[-1].kind != "var":
            self.fail(message, at)
        return toks[-1].value, toks[:-2]

    # -- terms
    @staticmethod
    def term(t: _Tok) -> _Term:
        if t.kind == "var":
            return _Term("this", "this") if t.text == "$this" else _Term("var", t.value)
        if t.kind == "iri":
            return _Term("iri", t.value)
        if t.kind == "str":
            return _Term("lit", t.value, dt=XSD + "string")
        kind = "double" if "e" in t.value.lower() else (
            "decimal" if "." in t.value else "integer"
        )
        return _Term("lit", t.value, dt=XSD + kind)

    def node(self, after_comma: bool = False):
        """A subject/object: a term, ``[ … ]`` or ``( … )``."""
        t = self.peek()
        if t.kind in ("var", "iri", "str", "num"):
            return self.term(self.take())
        if self.accept("["):
            bl = _BList([])
            if not self.accept("]"):
                stmts: list = []
                self.property_list(bl, stmts)
                bl.props = [(v, o) for _s, v, o in stmts]
                self.expect("]", "a blank-node property list")
            return bl
        if t.text == "(" and t.kind == "op":
            inner = self.peek(1), self.peek(2)
            if (
                inner[1].text == ")"
                and (inner[0].kind == "iri" or inner[0].text == "a")
            ):
                self.fail(
                    f"ambiguous one-member group ({inner[0].text}) in "
                    "subject/object position — write the rdf:first/rdf:rest "
                    "chain explicitly for a one-element collection (a "
                    "parenthesized path cannot be a term)",
                    t,
                )
            self.take()
            items: list = []
            while not self.accept(")"):
                x = self.peek()
                if x.kind in ("var", "iri", "str", "num") or x.text in ("(", "["):
                    items.append(self.node())
                else:
                    self.fail(f"unsupported collection member near {x.text!r}")
            return _Coll(items)
        if after_comma:
            self.fail("empty ',' object-list continuation")
        self.fail(f"unsupported graph pattern near {t.text or 'end of group'!r}")

    def starts_verb(self) -> bool:
        t = self.peek()
        return t.kind in ("var", "iri") or t.text in ("a", "(", "^", "!")

    def verb(self, paths: bool):
        """A predicate: a variable, or a property path (an IRI / ``a`` is
        the one-step path)."""
        t = self.peek()
        if t.kind == "var":
            if t.text == "$this":
                self.fail(
                    "$this cannot appear in predicate position (the focus "
                    "node is a subject/object term)"
                )
            self.take()
            return _Term("var", t.value)
        start = self.i
        ast = self.path_alt()
        if not paths and self.i - start != 1:
            self.fail("property paths are not allowed in a CONSTRUCT template", t)
        return ast

    # path := seq ('|' seq)*; seq := step ('/' step)*; step := '^' step |
    # primary mod*; primary := '(' path ')' | iri | 'a' | '!' negset. Per
    # §19 a modifier binds tighter than '^': ``^<p>*`` is ``^(<p>*)``
    def path_alt(self) -> tuple:
        branches = [self.path_seq()]
        while self.accept("|"):
            branches.append(self.path_seq())
        return branches[0] if len(branches) == 1 else ("alt", branches)

    def path_seq(self) -> tuple:
        steps = [self.path_step()]
        while self.accept("/"):
            steps.append(self.path_step())
        return steps[0] if len(steps) == 1 else ("seq", steps)

    def path_iri(self, t: _Tok) -> str | None:
        if t.kind == "iri":
            return t.value
        return RDF_TYPE if t.text == "a" and t.kind == "name" else None

    def path_step(self) -> tuple:
        if self.accept("^"):
            return ("inv", self.path_step())
        t = self.peek()
        if self.accept("!"):
            # negated property set (§18.2.2.3): the forward and inverse
            # members form two arms, each present only with members
            sets: tuple = ([], [])
            group = self.accept("(")
            while True:
                inv = self.accept("^")
                member = self.peek()
                if self.path_iri(member) is None:
                    self.fail("unsupported negated property set member")
                sets[inv].append(self.path_iri(self.take()))
                if not (group and self.accept("|")):
                    break
            if group:
                self.expect(")", "a negated property set")
            node = ("neg", tuple(sets[0]) or None, tuple(sets[1]) or None)
        elif self.accept("("):
            node = self.path_alt()
            self.expect(")", "a property path group")
        elif self.path_iri(t) is not None:
            node = ("iri", self.path_iri(self.take()))
        else:
            self.fail(f"unsupported property path near {t.text or 'end of group'!r}")
        while self.peek().kind == "op" and self.peek().text in _CLOSURE_KINDS:
            node = ("clo", _CLOSURE_KINDS[self.take().text], node)
        return node

    def property_list(self, subj, out: list, paths: bool = True) -> None:
        """verb objects (';' [verb objects])* — Turtle's abbreviations:
        ',' repeats subject and verb, ';' the subject."""
        while True:
            verb = self.verb(paths)
            out.append((subj, verb, self.node()))
            while self.accept(","):
                out.append((subj, verb, self.node(after_comma=True)))
            if not self.accept(";"):
                return
            while self.accept(";"):
                pass
            if not self.starts_verb():
                return

    def triples(self, out: list, paths: bool = True) -> None:
        """TriplesSameSubject ('.' TriplesSameSubject?)*"""
        while True:
            subj = self.node()
            if isinstance(subj, _BList) and subj.props and not self.starts_verb():
                # `[ verb objects ] .` alone: the list's own triples are
                # the statement (its subject a fresh variable)
                b = self.mint("_bp")
                out.extend((b, v, o) for v, o in subj.props)
            else:
                self.property_list(subj, out, paths)
            if not self.accept("."):
                return
            t = self.peek()
            if not (t.kind in ("var", "iri", "str", "num") or t.text in ("(", "[")):
                return

    # -- statements -> patterns
    def desugar(self, stmts: list) -> list:
        """Replace ``[ … ]`` nodes, then ``( … )`` nodes, by fresh
        variables, appending their triples breadth-first (SPARQL reads a
        pattern bnode as a non-projectable variable; a collection is the
        rdf:first/rdf:rest chain the Turtle reader stores, ``()`` is
        rdf:nil)."""
        memo: dict[int, tuple] = {}

        def sub(node, kind):
            if id(node) in memo:
                return memo[id(node)][1]
            if kind is _BList and isinstance(node, _Coll):
                out = _Coll([sub(x, kind) for x in node.items])
            elif not isinstance(node, kind):
                return node
            elif kind is _BList:
                out = self.mint("_bp")
                stmts.extend((out, v, o) for v, o in node.props)
            elif not node.items:
                out = _Term("iri", RDF_NIL)
            else:
                cells = [self.mint("_cl") for _ in node.items]
                for k, item in enumerate(node.items):
                    nxt = cells[k + 1] if k + 1 < len(cells) else _Term("iri", RDF_NIL)
                    stmts.append((cells[k], ("iri", RDF_FIRST), item))
                    stmts.append((cells[k], ("iri", RDF_REST), nxt))
                out = cells[0]
            memo[id(node)] = (node, out)  # keeps `node` (and its id) alive
            return out

        for kind in (_BList, _Coll):
            k = 0
            while k < len(stmts):
                s, v, o = stmts[k]
                stmts[k] = (sub(s, kind), v, sub(o, kind))
                k += 1
        return stmts

    def patterns(self, stmts: list) -> tuple[list, list]:
        """Emit desugared statements as triple patterns plus the UNION
        sub-blocks of path alternatives."""
        pats: list = []
        groups: list = []
        for s, verb, o in self.desugar(stmts):
            if isinstance(verb, _Term) or _has_closure(verb):
                # a variable predicate (one full-relation join) or a
                # closure path (one PathExpr pattern for the bounded
                # fixpoint) stays one pattern
                if s.kind == "lit":
                    raise ValueError("literal subjects are not valid RDF")
                pred = verb if isinstance(verb, _Term) else _to_path_expr(verb)
                pats.append(_Pattern(s, pred, o))
            else:
                self.emit(s, verb, o, pats, groups)
        return pats, groups

    def emit(self, s_t: _Term, ast: tuple, o_t: _Term, pats: list, grps: list) -> None:
        """Desugar one closure-free path connecting s_t → o_t: sequence
        steps chain through fresh variables, inverse swaps operands,
        alternatives become a UNION sub-block."""
        kind = ast[0]
        if kind in ("iri", "neg"):
            if s_t.kind == "lit":
                raise ValueError("literal subjects are not valid RDF")
            if kind == "iri":
                pats.append(_Pattern(s_t, ast[1], o_t))
            else:
                # a negated set is still ONE hop over the complement slice
                from .shacl import PNeg

                pats.append(_Pattern(s_t, PNeg(ast[1], ast[2]), o_t))
        elif kind == "inv":
            self.emit(o_t, ast[1], s_t, pats, grps)
        elif kind == "seq":
            cur = s_t
            for idx, step in enumerate(ast[1]):
                nxt = o_t if idx == len(ast[1]) - 1 else self.mint("_seq")
                self.emit(cur, step, nxt, pats, grps)
                cur = nxt
        else:  # alt
            branches = []
            for b in ast[1]:
                bp: list = []
                bg: list = []
                self.emit(s_t, b, o_t, bp, bg)
                branches.append(_Block(tuple(bp), (), (), (), (), (), tuple(bg)))
            grps.append(_Block((), (), (), (), tuple(branches)))

    # -- group graph patterns
    def group(self) -> _Block:
        """'{' (SubSelect | GroupGraphPatternSub) '}'"""
        open_tok = self.expect("{")
        if _is_kw(self.peek(), "SELECT"):
            q = _no_values(self.select(), "a subquery")
            blk = _Block((), (), (), (), subselects=(q,))
        else:
            blk = self.group_body()
        if self.peek().kind == "eof":
            self.fail("unbalanced braces: this '{' is never closed", open_tok)
        self.expect("}", "a group graph pattern")
        return blk

    def group_body(self) -> _Block:
        stmts: list = []
        filters: list = []
        binds: list = []
        optionals: list = []
        exists: list = []
        minuses: list = []
        groups: list = []
        values: list = []
        subselects: list = []
        graphs: list = []
        items = 0
        chain = None
        while True:
            t = self.peek()
            if t.kind == "eof" or t.text == "}":
                break
            items += 1
            if self.accept("."):
                items -= 1
            elif self.accept_kw("FILTER"):
                neg = self.accept_kw("NOT")
                if neg or _is_kw(self.peek(), "EXISTS"):
                    self.expect_kw("EXISTS")
                    exists.append((neg, self.group()))
                elif self.peek().text != "(":
                    self.fail("expected '(' after FILTER")
                else:
                    filters.append(_Filter(self.span()))
            elif self.accept_kw("BIND"):
                if self.peek().text != "(":
                    self.fail("expected '(' after BIND")
                binds.append(self.named_expr("expected BIND(expr AS ?var)"))
            elif self.accept_kw("OPTIONAL"):
                optionals.append(self.group())
            elif self.accept_kw("MINUS"):
                minuses.append(self.group())
            elif self.accept_kw("GRAPH"):
                g = self.peek()
                if g.kind not in ("iri", "var") or g.text == "$this":
                    self.fail("GRAPH name must be an IRI or variable")
                graphs.append((self.term(self.take()), self.group()))
            elif _is_kw(t, "VALUES"):
                values.append(self.values())
            elif _is_kw(t, "UNION"):
                self.fail("unsupported sh:sparql syntax UNION (no group before it)")
            elif t.text == "{":
                subquery = _is_kw(self.peek(1), "SELECT")
                alts = [self.group()]
                while self.accept_kw("UNION"):
                    alts.append(self.group())
                if len(alts) > 1:
                    chain = _Block((), (), (), (), tuple(alts))
                    groups.append(chain)
                elif subquery:
                    subselects.extend(alts[0].subselects)
                else:
                    groups.append(alts[0])
            else:
                self.triples(stmts)
        if items == 1 and chain is not None:
            return chain  # the group IS the alternation
        patterns, path_groups = self.patterns(stmts)
        return _Block(
            tuple(patterns),
            tuple(filters),
            tuple(optionals),
            tuple(exists),
            (),
            tuple(minuses),
            tuple(path_groups + groups),
            tuple(binds),
            tuple(values),
            tuple(subselects),
            tuple(graphs),
        )

    def values(self) -> _ValuesClause:
        """VALUES ?v { t… } | VALUES (?a ?b) { (t t) (UNDEF t) … }"""
        self.expect_kw("VALUES")
        multi = self.accept("(")
        names: list[str] = []
        while self.peek().kind == "var" and (multi or not names):
            names.append(self.take().value)
        if multi:
            self.expect(")", "the VALUES variable list")
        if not names:
            self.fail("expected variable list after VALUES")
        if "this" in names:
            self.fail("VALUES may not constrain the focus variable ?this")
        self.expect("{", "the VALUES variable list")
        rows: list[tuple] = []
        while not self.accept("}"):
            start = self.peek()
            if multi and not self.accept("("):
                self.fail(f"expected '(' row in VALUES data near {start.text!r}")
            row: list = []
            while not (multi and self.accept(")")) and (multi or not row):
                t = self.take()
                if _is_kw(t, "UNDEF"):
                    row.append(None)
                elif t.kind in ("iri", "str", "num"):
                    row.append(self.term(t))
                elif t.kind == "var":
                    self.fail("VALUES data must be constant terms or UNDEF", t)
                else:
                    self.fail(f"unsupported VALUES data near {t.text!r}", t)
            if len(row) != len(names):
                self.fail(
                    f"VALUES row arity {len(row)} != {len(names)} variables", start
                )
            rows.append(tuple(row))
        return _ValuesClause(tuple(names), tuple(rows))

    def template(self) -> list:
        """A CONSTRUCT template: '{' triples '}' without paths or FILTER."""
        self.expect("{", "CONSTRUCT")
        stmts: list = []
        while not self.accept("}"):
            t = self.peek()
            if _is_kw(t, "FILTER", "BIND"):
                self.fail(f"{t.value.upper()} is not allowed in a CONSTRUCT template")
            if t.kind == "eof":
                self.fail("unbalanced braces in the CONSTRUCT template")
            if not self.accept("."):
                self.triples(stmts, paths=False)
        pats = self.patterns(stmts)[0]
        if not pats:
            raise ValueError("sh:construct template has no triple pattern")
        return pats

    # -- query forms
    def dataset(self) -> tuple[list, list]:
        graphs: tuple = ([], [])
        while self.accept_kw("FROM"):
            named = self.accept_kw("NAMED")
            t = self.take()
            if t.kind != "iri":
                self.fail("expected <graph IRI> after FROM", t)
            graphs[named].append(t.value)
        return graphs

    def select(self, dataset: list | None = None) -> _SelectQuery:
        """SELECT [DISTINCT|REDUCED] (* | proj…) [FROM…] [WHERE] {…}
        [GROUP BY …] [HAVING (…)] [ORDER BY …] [LIMIT n] [OFFSET n]
        [VALUES …]; ``dataset`` collects FROM clauses (standalone queries
        only)."""
        self.expect_kw("SELECT")
        distinct = self.accept_kw("DISTINCT") or self.accept_kw("REDUCED")
        proj: list[str] = []
        aggs: list[_Agg] = []
        star = self.accept("*")
        items = 0
        while not star:
            t = self.peek()
            if t.kind == "var":
                self.take()
                if t.text != "$this":
                    proj.append(t.value)
            elif t.text == "(":
                aggs.append(self.agg_projection())
                proj.append(aggs[-1].alias)
            else:
                break
            items += 1
        t = self.peek()
        body_next = t.text == "{" or _is_kw(t, "WHERE") or (
            dataset is not None and _is_kw(t, "FROM")
        )
        if not (star or items) or not body_next:
            self.fail(f"unsupported projection term near {t.text or 'end of query'!r}")
        if dataset is not None:
            for dst, src in zip(dataset, self.dataset()):
                dst.extend(src)
        self.accept_kw("WHERE")
        block = self.group()

        group_by: list[str] = []
        group_binds: list[tuple] = []
        if self.accept_kw("GROUP"):
            self.expect_kw("BY")
            while True:
                if self.peek().kind == "var":
                    group_by.append(self.take().value)
                elif self.peek().text == "(":
                    # GROUP BY (expr AS ?var): §18.2.4.1 extends the
                    # solution — an injected BIND plus a plain key
                    group_binds.append(self.named_expr(
                        "a GROUP BY expression must be named: GROUP BY (expr AS ?var)"
                    ))
                    group_by.append(group_binds[-1][0])
                else:
                    break
            if not group_by:
                self.fail("GROUP BY lists no variables")
        having, having_aggs = None, ()
        if self.accept_kw("HAVING"):
            if self.peek().text != "(":
                self.fail("HAVING requires a parenthesized expression")
            having, having_aggs = self.having(aggs)
        order_by: list[tuple[str, bool]] = []
        if self.accept_kw("ORDER"):
            self.expect_kw("BY")
            while True:
                t = self.peek()
                if _is_kw(t, "ASC", "DESC") and self.peek(1).text == "(":
                    self.i += 2
                    v = self.take()
                    if v.kind != "var":
                        self.fail("expected a variable sort key", v)
                    self.expect(")", "the sort key")
                    order_by.append((v.value, t.value.upper() == "DESC"))
                elif t.kind == "var":
                    order_by.append((self.take().value, False))
                else:
                    break
            if not order_by:
                self.fail("ORDER BY lists no sort keys")
        limit = offset = None
        while True:  # LIMIT / OFFSET in either order (§18)
            t = self.peek()
            if _is_kw(t, "LIMIT", "OFFSET") and self.peek(1).kind == "num":
                n = int(self.peek(1).value)
                if t.value.upper() == "LIMIT" and limit is None:
                    limit = n
                elif t.value.upper() == "OFFSET" and offset is None:
                    offset = n
                else:
                    break
                self.i += 2
            else:
                break
        if (limit is not None or offset is not None) and not order_by:
            raise ValueError(
                "LIMIT/OFFSET without ORDER BY is nondeterministic — "
                "outside the subset"
            )
        values_clause = self.values() if _is_kw(self.peek(), "VALUES") else None

        # a GROUP-BY-less aggregate query is one implicit whole-result
        # group (legal in subqueries; constraint/target evaluation still
        # demands grouping on $this/?this and raises there)
        alias_names = {a.alias for a in aggs}
        if aggs or group_by or having:
            for v in proj:
                if v not in alias_names and v not in group_by:
                    raise ValueError(
                        f"projected ?{v} is neither aggregated nor a GROUP BY key"
                    )
        if star and (aggs or group_by or having):
            raise ValueError("SELECT * cannot combine with GROUP BY/aggregates")
        if group_binds:
            if block.alternatives:
                # an alternation block carries nothing but branches —
                # wrap it so the binds evaluate over the union
                block = _Block((), (), (), (), (), (), (block,), tuple(group_binds))
            else:
                block = dataclasses.replace(
                    block, binds=block.binds + tuple(group_binds)
                )
        if not _has_pattern(block):
            raise ValueError("sh:sparql select has no graph pattern")
        return _SelectQuery(
            tuple(proj), block, tuple(aggs), tuple(group_by), having,
            distinct, tuple(order_by), limit, star, offset, values_clause,
            having_aggs,
        )

    def agg_projection(self) -> _Agg:
        """( FN ( [DISTINCT] ?v|* [; SEPARATOR = "s"] ) AS ?alias )"""
        at = self.peek()
        try:
            self.expect("(")
            call = self.agg_call()
            self.expect_kw("AS")
            alias = self.take()
            if alias.kind != "var":
                self.fail("bad alias", alias)
            self.expect(")")
        except SparqlParseError:
            self.fail(f"unsupported projection term near {at.text!r}", at)
        return dataclasses.replace(call, alias=alias.value)

    def agg_call(self) -> _Agg:
        """FN ( [DISTINCT] ?v|* [; SEPARATOR = "s"] ), its alias unset."""
        fn = self.take()
        if not _is_kw(fn, *_AGG_FNS):
            self.fail("not an aggregate", fn)
        self.expect("(")
        distinct = self.accept_kw("DISTINCT")
        arg = self.take()
        if arg.kind != "var" and arg.text != "*":
            self.fail("bad aggregate argument", arg)
        sep = None
        if self.accept(";"):
            self.expect_kw("SEPARATOR")
            self.expect("=")
            if self.peek().kind != "str":
                self.fail("SEPARATOR takes a string")
            sep = self.take().value
        self.expect(")")
        if sep is not None and fn.value.upper() != "GROUP_CONCAT":
            raise ValueError("SEPARATOR is only valid inside GROUP_CONCAT")
        return _Agg(
            fn.value.lower(),
            None if arg.text == "*" else arg.value,
            distinct,
            "",
            " " if sep is None else sep,
        )

    def having(self, aggs: list) -> tuple[tuple, tuple]:
        """HAVING ( expr ) -> (expr tokens, hidden aggregates): each inline
        aggregate call reads the projected aggregate computing it, or a
        hidden one minted here."""
        body = self.span()
        end = self.i
        self.i -= len(body) + 1
        seen = {dataclasses.replace(a, alias=""): a.alias for a in aggs}
        hidden: list[_Agg] = []
        toks: list[_Tok] = []
        while self.i < end - 1:
            t = self.peek()
            if _is_kw(t, *_AGG_FNS) and self.peek(1).text == "(":
                call = self.agg_call()
                if call not in seen:
                    seen[call] = self.mint("_hagg").value
                    hidden.append(dataclasses.replace(call, alias=seen[call]))
                toks.append(_Tok("var", seen[call], f"?{seen[call]}", t.pos))
            else:
                toks.append(self.take())
        self.i = end
        return tuple(toks), tuple(hidden)

    def ask_group(self, pattern_free: bool = False) -> _Block:
        """[WHERE] { … } of an ASK; ``pattern_free`` admits a group of
        FILTERs / BINDs only."""
        self.accept_kw("WHERE")
        block = self.group()
        if not _has_pattern(block) and not (
            pattern_free and (block.filters or block.binds)
        ):
            raise ValueError("sh:ask has no graph pattern")
        return block

    def query(self) -> _Query:
        """A standalone SELECT / ASK / CONSTRUCT / DESCRIBE query."""
        t = self.peek()
        dataset: tuple = ([], [])
        template = None
        select = None
        terms: list = []
        block = None
        if _is_kw(t, "SELECT"):
            select = self.select(dataset)
            block = select.block
        elif self.accept_kw("ASK"):
            dataset = self.dataset()
            block = self.ask_group()
        elif self.accept_kw("CONSTRUCT"):
            if self.peek().text == "{":
                template = tuple(self.template())
            dataset = self.dataset()
            if template is None:
                self.expect_kw("WHERE")
            else:
                self.accept_kw("WHERE")
            block = self.group()
        elif self.accept_kw("DESCRIBE"):
            while self.peek().kind in ("var", "iri"):
                terms.append(self.term(self.take()))
            if not terms:
                self.fail(
                    "unsupported DESCRIBE (expected DESCRIBE <iri>… or "
                    "DESCRIBE ?var… WHERE { … })"
                )
            dataset = self.dataset()
            if self.accept_kw("WHERE") or self.peek().text == "{":
                block = self.group()
        else:
            self.fail("expected SELECT, ASK, CONSTRUCT or DESCRIBE")
        self.end(f"the {t.value.upper()} query")
        return _Query(
            t.value.upper(), block, select, template, tuple(terms),
            tuple(dataset[0]), tuple(dataset[1]),
        )

    # -- update requests (SPARQL 1.1 Update §3)
    def graph_ref(self, default_ok: bool = True) -> str | None:
        """GRAPH <g> | <g> | DEFAULT (None)."""
        if default_ok and self.accept_kw("DEFAULT"):
            return None
        self.accept_kw("GRAPH")
        t = self.take()
        if t.kind != "iri":
            self.fail("expected GRAPH <iri>" + (" or DEFAULT" if default_ok else ""), t)
        return t.value

    def update(self) -> list[_UpdateOp]:
        """Operations separated by ';', applied in order."""
        ops: list[_UpdateOp] = []
        while self.peek().kind != "eof":
            if self.accept(";"):
                continue
            ops.append(self.update_op())
            if self.peek().kind != "eof" and not self.accept(";"):
                self.fail(
                    f"unexpected trailing text {self.peek().text!r} after the "
                    "update operation"
                )
        if not ops:
            raise ValueError("empty update request")
        return ops

    def update_op(self) -> _UpdateOp:
        t = self.peek()
        verb = t.value.upper() if t.kind == "name" else ""
        if verb in ("CREATE", "CLEAR", "DROP", "ADD", "COPY", "MOVE", "LOAD"):
            self.take()
            silent = self.accept_kw("SILENT")
            if verb == "CREATE":
                return _UpdateOp("CREATE", silent, self.graph_ref(False))
            if verb in ("CLEAR", "DROP"):
                nxt = self.peek()
                if _is_kw(nxt, "DEFAULT", "NAMED", "ALL"):
                    self.take()
                    return _UpdateOp("CLEAR", silent, scope=nxt.value.upper())
                return _UpdateOp("CLEAR", silent, self.graph_ref(False), scope="GRAPH")
            if verb == "LOAD":
                path = self.take()
                if path.kind != "iri":
                    self.fail("expected <path> after LOAD", path)
                into = None
                if self.accept_kw("INTO"):
                    into = self.graph_ref(False)
                return _UpdateOp("LOAD", silent, path.value, into)
            src = self.graph_ref()
            self.expect_kw("TO")
            return _UpdateOp(verb, silent, src, self.graph_ref())
        nxt = self.peek(1)
        if verb == "INSERT" and _is_kw(nxt, "DATA") or (
            verb == "DELETE" and _is_kw(nxt, "DATA", "WHERE")
        ):
            self.take()
            form = self.take().value.upper()
            blk = self.group()
            if form == "DATA" and verb == "INSERT":
                return _UpdateOp("INSERT DATA", insert=blk)
            return _UpdateOp(f"DELETE {form}", delete=blk)
        with_graph = None
        if self.accept_kw("WITH"):
            with_graph = self.graph_ref(False)
        delete = self.template_block() if self.accept_kw("DELETE") else None
        insert = self.template_block() if self.accept_kw("INSERT") else None
        if delete is None and insert is None:
            self.fail(
                "unsupported update (expected INSERT DATA / DELETE DATA / "
                "DELETE WHERE / [WITH <g>] [DELETE {…}] [INSERT {…}] "
                "[USING …] WHERE {…} / CLEAR / DROP / CREATE / ADD / COPY / "
                "MOVE / LOAD)",
                t,
            )
        using: tuple = ([], [])
        while self.accept_kw("USING"):
            named = self.accept_kw("NAMED")
            using[named].append(self.graph_ref(False))
        if not self.accept_kw("WHERE"):
            self.fail("DELETE/INSERT templates require a WHERE clause")
        return _UpdateOp(
            "MODIFY", with_graph=with_graph, delete=delete, insert=insert,
            using=tuple(using[0]), using_named=tuple(using[1]), where=self.group(),
        )

    def template_block(self) -> _Block:
        if self.peek().text != "{":
            self.fail(f"expected '{{' after {self.toks[self.i - 1].text}")
        return self.group()


def _has_pattern(block: _Block) -> bool:
    return bool(
        block.patterns or block.optionals or block.exists or block.alternatives
        or block.groups or block.subselects or block.graphs
    )


def pattern_predicates(block: _Block) -> tuple[set[str], bool]:
    """All predicate IRIs the block's patterns can touch, descending into
    the PathExpr trees of closure-bearing paths. The second element is
    True when a negated property set OR a variable predicate appears
    anywhere — either can read ANY predicate, so a caller building a
    predicate slice (plans/shacl.py single-scan mode) must not restrict
    the scan."""
    from .shacl import _path_leaf_preds

    preds: set[str] = set()
    has_neg = False
    patterns = [*block.all_patterns()]
    for q in block.all_subselects():
        patterns.extend(q.block.all_patterns())
    for p in patterns:
        if isinstance(p.pred, str):
            preds.add(p.pred)
            continue
        # a variable predicate or a negated property set: open scan
        leaf = None if isinstance(p.pred, _Term) else _path_leaf_preds(p.pred)
        if leaf is None:
            has_neg = True
        else:
            preds |= leaf
    return preds, has_neg


def _visible_subselect_proj(block: _Block) -> set[str]:
    """Variables that nested subqueries expose to this block — their
    SELECT lists only (a subquery's inner helper variables are out of
    scope, so a grandchild projection is visible solely through its
    parent's list)."""
    out: set[str] = set()
    for q in block.subselects:
        out |= set(q.proj)
    for b in block.optionals:
        out |= _visible_subselect_proj(b)
    for _neg, b in block.exists:
        out |= _visible_subselect_proj(b)
    for b in block.alternatives:
        out |= _visible_subselect_proj(b)
    for b in block.minuses:
        out |= _visible_subselect_proj(b)
    for b in block.groups:
        out |= _visible_subselect_proj(b)
    return out


@dataclass(frozen=True)
class _Agg:
    fn: str  # 'count' | 'sum' | 'min' | 'max' | 'avg' | 'sample' | 'group_concat'
    var: str | None  # None = COUNT(*)
    distinct: bool
    alias: str
    sep: str = " "  # GROUP_CONCAT separator (SPARQL default: single space)


@dataclass(frozen=True)
class _SelectQuery:
    """A parsed SELECT: ordered non-$this projection names (plain vars
    and aggregate aliases), the WHERE block, and the aggregate clause
    (empty for plain selects)."""

    proj: tuple
    block: _Block
    aggs: tuple = ()  # tuple[_Agg, ...]
    group_by: tuple = ()  # grouping names; 'this' covers $this/?this
    having: tuple | None = None  # the tokens inside HAVING ( … )
    distinct: bool = False  # SELECT DISTINCT (REDUCED treated the same)
    order_by: tuple = ()  # tuple[(var: str, desc: bool), ...]
    limit: int | None = None  # requires order_by (determinism)
    star: bool = False  # SELECT * — every visible variable (standalone
    # query surface only; constraint/target evaluation rejects it)
    offset: int | None = None  # requires order_by, like limit
    # trailing top-level VALUES (§10.2.2) — joined with the solutions
    # after aggregation (§18.2.4.2); standalone sparql_select only,
    # constraint/target/subquery evaluation rejects it
    values_clause: _ValuesClause | None = None
    # aggregates HAVING calls inline that no projection computes, each
    # under a hidden alias its rewritten tokens read
    having_aggs: tuple = ()  # tuple[_Agg, ...]


def _no_values(q: "_SelectQuery", where: str) -> "_SelectQuery":
    """Reject a top-level VALUES clause outside the standalone SELECT
    surface — subquery/constraint/target evaluation joins solutions
    through pre-bound keys and has no post-aggregation slot for the
    §18.2.4.2 inline-data join."""
    if q.values_clause is not None:
        raise ValueError(
            f"a trailing VALUES clause is not supported in {where} — "
            "move it into the group as an in-group VALUES, or use the "
            "standalone sparql_select surface"
        )
    return q


def parse_select_query(select: str | _Lexed) -> _SelectQuery:
    """Parse the supported SELECT subset — plain projections plus the
    aggregate form ``SELECT $this (COUNT(?v) AS ?n) … GROUP BY $this
    [?g …] HAVING (expr)``; ValueError on anything outside."""
    p = _Parser(select)
    if not _is_kw(p.peek(), "SELECT"):
        p.fail("unsupported sh:sparql select (expected SELECT ... WHERE { ... })")
    q = p.select()
    if p.peek().kind != "eof":
        p.fail(
            f"unsupported SELECT tail near {p.peek().text!r} (expected "
            "GROUP BY / HAVING (expr) / ORDER BY / LIMIT n / OFFSET n)"
        )
    return q


def parse_select(select: str | _Lexed) -> tuple[list[str], _Block]:
    """Back-compat view of parse_select_query: (projection names, block)."""
    q = parse_select_query(select)
    return list(q.proj), q.block


def parse_ask(ask: str | _Lexed, allow_pattern_free: bool = False) -> _Block:
    """Parse the sh:ask validator subset: ``ASK { <group> }`` with the same
    group grammar as parse_select's WHERE body. ``allow_pattern_free``
    admits a FILTER-only body — the usual shape of a property ASK
    validator, whose ?value/$this come pre-bound rather than from
    patterns."""
    p = _Parser(ask)
    if not p.accept_kw("ASK"):
        p.fail("unsupported sh:ask (expected ASK { ... })")
    block = p.ask_group(allow_pattern_free)
    p.end("the ASK group")
    return block


def parse_construct(construct: str | _Lexed) -> tuple[list[_Pattern], _Block]:
    """Parse the sh:SPARQLRule CONSTRUCT subset: a template block of triple
    patterns plus the same WHERE body grammar as parse_select. Returns
    (template, where_block)."""
    q = parse_query(construct)
    if q.form != "CONSTRUCT" or q.template is None or q.from_graphs or q.from_named:
        raise ValueError(
            "unsupported sh:construct (expected CONSTRUCT { ... } WHERE { ... })"
        )
    return list(q.template), q.block


def parse_query(query: str | _Lexed) -> _Query:
    """Parse a standalone SELECT / ASK / CONSTRUCT / DESCRIBE query."""
    return _Parser(query).query()


def parse_update(update: str | _Lexed) -> list[_UpdateOp]:
    """Parse a SPARQL 1.1 Update request into its operations."""
    return _Parser(update).update()


# ---------------------------------------------------- FILTER expressions
# Recursive-descent parser over the SPARQL 1.1 expression subset:
# ||, &&, ! and parentheses; comparisons (numeric when both sides cast to
# double, else string — the engine's documented ordering contract);
# bound/isIRI/isURI/isLiteral/isBlank/sameTerm; regex (with "i/s/m" flags);
# STRSTARTS/STRENDS/CONTAINS; str()/datatype()/lang() term accessors and
# langMatches. Everything outside raises ValueError (the module contract).

_F_BOOL_FUNCS = {
    "bound", "isiri", "isuri", "isliteral", "isblank", "sameterm",
    "regex", "strstarts", "strends", "contains", "langmatches",
}
_F_VALUE_FUNCS = {"str", "datatype", "lang"}


@dataclass(frozen=True)
class _Val:
    """A term-valued sub-expression: its lexical value plus the kind /
    datatype / lang columns needed by the term-inspection functions."""

    value: Column
    kind: Column
    datatype: Column
    lang: Column


_NUMERIC_DTS = [
    XSD + t
    for t in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "positiveInteger", "negativeInteger",
        "nonPositiveInteger", "unsignedLong", "unsignedInt",
        "unsignedShort", "unsignedByte",
    )
]


def _cmp_cols(a: Column, b: Column, op: str) -> Column:
    # try_cast, not cast: ANSI mode (Spark 4 default) makes cast THROW on
    # non-numeric strings; the contract is "numeric when both sides parse"
    an, bn = a.try_cast("double"), b.try_cast("double")
    num_ok = an.isNotNull() & bn.isNotNull()
    num = {"=": an == bn, "!=": an != bn, "<": an < bn,
           "<=": an <= bn, ">": an > bn, ">=": an >= bn}[op]
    s = {"=": a == b, "!=": a != b, "<": a < b,
         "<=": a <= b, ">": a > b, ">=": a >= b}[op]
    return F.when(num_ok, num).otherwise(s)


def _cmp_vals(a: _Val, b: _Val, op: str) -> Column:
    """Datatype-aware comparison (SPARQL §17.3 operator mapping): an
    operand that CLAIMS a numeric datatype but whose lexical form does not
    parse ('n/a'^^xsd:integer) is a TYPE ERROR — the solution drops
    (NULL), never a string fallback (pySHACL/rdflib behavior). Well-formed
    terms and literals with no numeric claim keep the engine's documented
    contract: numeric when both sides parse as numbers, lexical
    otherwise (so plain "hello" < 3 still falls back lexically rather
    than erroring — the pre-round-4 contract the test corpus pins)."""
    an, bn = a.value.try_cast("double"), b.value.try_cast("double")
    a_err = (
        F.coalesce(a.datatype.isin(_NUMERIC_DTS), F.lit(False)) & an.isNull()
    )
    b_err = (
        F.coalesce(b.datatype.isin(_NUMERIC_DTS), F.lit(False)) & bn.isNull()
    )
    return F.when(
        a_err | b_err, F.lit(None).cast("boolean")
    ).otherwise(_cmp_cols(a.value, b.value, op))


class _FilterParser:
    """One FILTER expression → one boolean Column. `cols` maps bound
    variable names (plus ``this``) to their __value columns; kind /
    datatype / lang columns are addressed by the naming convention the
    binding frame guarantees for every pattern-bound variable."""

    def __init__(
        self, toks: tuple, cols: dict[str, Column], bound_vars: set[str] = frozenset()
    ):
        self.toks = toks  # the expression's tokens (see _Parser.span)
        self.raw = _render(toks)
        self.cols = cols
        self.bound_vars = bound_vars
        self.i = 0

    # -- token plumbing
    def _peek(self) -> _Tok:
        return self.toks[self.i] if self.i < len(self.toks) else _Tok("", "", "")

    def _take(self) -> _Tok:
        t = self._peek()
        if not t.kind:
            raise ValueError(f"unexpected end of FILTER expression {self.raw!r}")
        self.i += 1
        return t

    def _at(self, *ops: str) -> bool:
        t = self._peek()
        return t.kind == "op" and t.value in ops

    def _accept(self, text: str) -> bool:
        if self._at(text):
            self.i += 1
            return True
        return False

    def _expect(self, text: str) -> None:
        if not self._accept(text):
            raise ValueError(
                f"expected {text!r} in FILTER expression {self.raw!r}"
            )

    # -- grammar
    def parse(self) -> Column:
        e = self._or()
        if self.i != len(self.toks):
            raise ValueError(f"unsupported FILTER expression {self.raw!r}")
        return e

    def parse_value(self) -> "_Val":
        """Entry point for BIND(expr AS ?var): one term-valued expression
        consuming the whole input. A boolean expression (comparison /
        &&-||-! combination — ``BIND(?a > 5 AS ?flag)``) binds an
        xsd:boolean literal; a type-erroring comparison (NULL) leaves
        the variable unbound, per SPARQL effective-boolean semantics."""
        save = self.i
        try:
            v = self._additive()
            if self.i == len(self.toks):
                return v
        except ValueError:
            pass
        self.i = save
        cond = self._or()
        if self.i != len(self.toks):
            raise ValueError(f"unsupported BIND expression {self.raw!r}")
        null_s = F.lit(None).cast("string")
        return _Val(
            F.when(cond, F.lit("true")).when(~cond, F.lit("false")),
            F.lit(KIND_LITERAL),
            F.lit(XSD + "boolean"),
            null_s,
        )

    def _or(self) -> Column:
        e = self._and()
        while self._accept("||"):
            e = e | self._and()
        return e

    def _and(self) -> Column:
        e = self._not()
        while self._accept("&&"):
            e = e & self._not()
        return e

    def _not(self) -> Column:
        if self._accept("!"):
            return ~self._not()
        return self._rel()

    def _rel(self) -> Column:
        if self._at("("):
            # a paren here is usually a boolean group, but SPARQL also
            # allows a bracketted NUMERIC expression as a comparison
            # operand — try the boolean route, backtrack to arithmetic
            save = self.i
            try:
                self.i += 1
                e = self._or()
                self._expect(")")
                return e
            except ValueError:
                self.i = save
        t = self._peek()
        if t.kind == "name" and t.value.lower() in _F_BOOL_FUNCS:
            return self._bool_func(t.value.lower())
        a = self._additive()
        op = self._take()
        if _is_kw(op, "IN"):
            return self._in_list(a, negated=False)
        if _is_kw(op, "NOT"):
            if not _is_kw(self._take(), "IN"):
                raise ValueError(
                    f"expected IN after NOT in FILTER expression {self.raw!r}"
                )
            return self._in_list(a, negated=True)
        if op.kind != "op" or op.value not in ("=", "!=", "<", "<=", ">", ">="):
            raise ValueError(
                f"expected comparison operator in FILTER expression {self.raw!r}"
            )
        b = self._additive()
        return _cmp_vals(a, b, op.value)

    def _in_list(self, a: _Val, negated: bool) -> Column:
        """SPARQL IN / NOT IN: disjunction of = comparisons (value
        equality, same promotion rules as the binary operators)."""
        self._expect("(")
        cond: Column = F.lit(False)
        if not self._at(")"):
            cond = _cmp_vals(a, self._additive(), "=")
            while self._accept(","):
                cond = cond | _cmp_vals(a, self._additive(), "=")
        self._expect(")")
        return ~cond if negated else cond

    # -- numeric arithmetic (SPARQL §17.3 operator mapping, evaluated in
    # double via try_cast — a non-numeric operand turns the result NULL,
    # SPARQL's type-error behavior; integral results render without .0)
    @staticmethod
    def _num_val(col: Column) -> _Val:
        shown = F.when(
            col.isNotNull() & (col == F.floor(col)),
            col.cast("bigint").cast("string"),
        ).otherwise(col.cast("string"))
        return _Val(
            shown,
            F.when(shown.isNotNull(), F.lit(KIND_LITERAL)),
            F.when(shown.isNotNull(), F.lit(XSD + "double")),
            F.lit(None).cast("string"),
        )

    def _additive(self) -> _Val:
        a = self._multiplicative()
        while self._at("+", "-"):
            op = self._take().value
            b = self._multiplicative()
            an, bn = a.value.try_cast("double"), b.value.try_cast("double")
            a = self._num_val(an + bn if op == "+" else an - bn)
        return a

    def _multiplicative(self) -> _Val:
        a = self._unary()
        while self._at("*", "/"):
            op = self._take().value
            b = self._unary()
            an, bn = a.value.try_cast("double"), b.value.try_cast("double")
            a = self._num_val(an * bn if op == "*" else an / bn)
        return a

    def _unary(self) -> _Val:
        if self._at("-"):
            self.i += 1
            a = self._unary()
            return self._num_val(-a.value.try_cast("double"))
        if self._at("("):
            # bracketted numeric sub-expression
            self.i += 1
            a = self._additive()
            self._expect(")")
            return a
        return self._value()

    # -- term-valued expressions
    def _var_val(self, tok: _Tok) -> _Val:
        name = tok.value
        if name not in self.cols:
            raise ValueError(f"FILTER references unbound variable {tok.text}")
        if name == "this" and "this" not in self.bound_vars:
            # the pre-bound focus column (constraint mode): always an IRI
            return _Val(
                self.cols["this"],
                F.lit(KIND_IRI),
                F.lit(None).cast("string"),
                F.lit(None).cast("string"),
            )
        return _Val(
            self.cols[name],
            F.col(f"{name}__kind"),
            F.col(f"{name}__datatype"),
            F.col(f"{name}__lang"),
        )

    def _value(self) -> _Val:
        t = self._take()
        kind, text = t.kind, t.value
        if kind == "var":
            return self._var_val(t)
        if kind == "str":
            return _Val(
                F.lit(text),
                F.lit(KIND_LITERAL),
                F.lit(XSD_STRING),
                F.lit(None).cast("string"),
            )
        if kind == "num":
            return _Val(
                F.lit(text),
                F.lit(KIND_LITERAL),
                F.lit(_Parser.term(t).dt),
                F.lit(None).cast("string"),
            )
        if kind == "iri":
            return _Val(
                F.lit(text),
                F.lit(KIND_IRI),
                F.lit(None).cast("string"),
                F.lit(None).cast("string"),
            )
        if kind == "name" and text.lower() in (
            "strlen", "ucase", "lcase", "concat", "abs", "round", "ceil",
            "floor", "substr", "strbefore", "strafter", "replace",
        ):
            fn = text.lower()
            self._expect("(")
            args = [self._additive()]
            while self._accept(","):
                args.append(self._additive())
            self._expect(")")
            n_req = {"substr": (2, 3), "strbefore": (2, 2),
                     "strafter": (2, 2), "replace": (3, 3)}.get(fn)
            if n_req and not (n_req[0] <= len(args) <= n_req[1]):
                raise ValueError(f"{fn}() takes {n_req[0]}-{n_req[1]} arguments")
            if fn == "concat":
                val, dt = F.concat(*(a.value for a in args)), XSD_STRING
            elif fn == "substr":
                # SPARQL SUBSTR is 1-based like Spark substring
                length = (
                    args[2].value.try_cast("int")
                    if len(args) == 3
                    else F.length(args[0].value)
                )
                val = args[0].value.substr(
                    args[1].value.try_cast("int"), length
                )
                dt = XSD_STRING
            elif fn == "strbefore":
                # empty string when the needle does not occur (SPARQL)
                pos = F.instr(args[0].value, args[1].value)
                val = F.when(pos > 0, args[0].value.substr(F.lit(1), pos - 1)).otherwise(F.lit(""))
                dt = XSD_STRING
            elif fn == "strafter":
                pos = F.instr(args[0].value, args[1].value)
                val = F.when(
                    pos > 0,
                    args[0].value.substr(
                        pos + F.length(args[1].value),
                        F.length(args[0].value),
                    ),
                ).otherwise(F.lit(""))
                dt = XSD_STRING
            elif fn == "replace":
                # pattern is a regex, as in SPARQL (fn:replace)
                val = F.regexp_replace(
                    args[0].value, args[1].value, args[2].value
                )
                dt = XSD_STRING
            elif len(args) != 1:
                raise ValueError(f"{fn}() takes exactly one argument")
            elif fn == "strlen":
                val, dt = F.length(args[0].value).cast("string"), XSD + "integer"
            elif fn == "abs":
                val = F.abs(args[0].value.try_cast("double")).cast("string")
                dt = XSD + "decimal"
            elif fn in ("round", "ceil", "floor"):
                num = args[0].value.try_cast("double")
                rounded = {
                    "round": F.round(num, 0),
                    "ceil": F.ceil(num).cast("double"),
                    "floor": F.floor(num).cast("double"),
                }[fn]
                return self._num_val(rounded)
            elif fn == "ucase":
                val, dt = F.upper(args[0].value), XSD_STRING
            else:
                val, dt = F.lower(args[0].value), XSD_STRING
            return _Val(
                val, F.lit(KIND_LITERAL), F.lit(dt), F.lit(None).cast("string")
            )
        if kind == "name" and text.lower() in (
            "md5", "sha1", "sha256", "sha384", "sha512", "encode_for_uri",
        ):
            fn = text.lower()
            self._expect("(")
            inner = self._additive()
            self._expect(")")
            if fn == "encode_for_uri":
                # SPARQL percent-encodes everything but unreserved chars;
                # url_encode is form-encoding, so re-map its three
                # divergences (space as +, ~ encoded, * kept)
                enc = F.url_encode(inner.value)
                enc = F.regexp_replace(enc, r"\+", "%20")
                enc = F.regexp_replace(enc, "%7E", "~")
                val = F.regexp_replace(enc, r"\*", "%2A")
            elif fn == "md5":
                val = F.md5(inner.value)
            elif fn == "sha1":
                val = F.sha1(inner.value)
            else:
                val = F.sha2(inner.value, int(fn[3:]))
            return _Val(
                val,
                F.lit(KIND_LITERAL),
                F.lit(XSD_STRING),
                F.lit(None).cast("string"),
            )
        if kind == "name" and text.lower() in (
            "year", "month", "day", "hours", "minutes", "seconds",
        ):
            # SPARQL §17.4.5 dateTime accessors over the lexical form
            # (try_to_timestamp: a non-dateTime operand NULLs the result;
            # SECONDS loses the fractional part — xsd:integer here)
            fn = text.lower()
            self._expect("(")
            inner = self._additive()
            self._expect(")")
            ts = F.try_to_timestamp(inner.value)
            part = {
                "year": F.year, "month": F.month, "day": F.dayofmonth,
                "hours": F.hour, "minutes": F.minute, "seconds": F.second,
            }[fn](ts)
            return _Val(
                part.cast("string"),
                F.when(part.isNotNull(), F.lit(KIND_LITERAL)),
                F.when(part.isNotNull(), F.lit(XSD + "integer")),
                F.lit(None).cast("string"),
            )
        if kind == "name" and text.lower() == "if":
            # IF(boolean, then, else) — the condition is a full boolean
            # expression; kind/datatype/lang follow the chosen branch
            self._expect("(")
            cond = self._or()
            self._expect(",")
            a = self._additive()
            self._expect(",")
            b = self._additive()
            self._expect(")")
            return _Val(
                F.when(cond, a.value).otherwise(b.value),
                F.when(cond, a.kind).otherwise(b.kind),
                F.when(cond, a.datatype).otherwise(b.datatype),
                F.when(cond, a.lang).otherwise(b.lang),
            )
        if kind == "name" and text.lower() == "coalesce":
            # first bound (non-NULL) argument wins; every term column
            # follows the winning argument
            self._expect("(")
            args = [self._additive()]
            while self._accept(","):
                args.append(self._additive())
            self._expect(")")

            def pick(field: str) -> Column:
                expr = None
                for a in args:
                    c = a.value.isNotNull()
                    expr = (
                        F.when(c, getattr(a, field))
                        if expr is None
                        else expr.when(c, getattr(a, field))
                    )
                return expr

            return _Val(
                pick("value"), pick("kind"), pick("datatype"), pick("lang")
            )
        if kind == "name" and text.lower() in ("strdt", "strlang"):
            # SPARQL §17.4.2.7/.8 term constructors: a typed / lang-tagged
            # literal from a lexical form. The datatype argument may be an
            # IRI constant or any IRI-valued expression.
            fn = text.lower()
            self._expect("(")
            lex = self._additive()
            self._expect(",")
            second = self._additive()
            self._expect(")")
            if fn == "strdt":
                return _Val(
                    lex.value,
                    F.when(lex.value.isNotNull(), F.lit(KIND_LITERAL)),
                    F.when(lex.value.isNotNull(), second.value),
                    F.lit(None).cast("string"),
                )
            return _Val(
                lex.value,
                F.when(lex.value.isNotNull(), F.lit(KIND_LITERAL)),
                F.lit(None).cast("string"),
                F.when(lex.value.isNotNull(), F.lower(second.value)),
            )
        if kind == "name" and text.lower() in ("iri", "uri"):
            # IRI(str): constructs an IRI term from a string (absolute
            # IRIs only in this engine — there is no base to resolve
            # against); an IRI argument passes through unchanged
            self._expect("(")
            inner = self._additive()
            self._expect(")")
            return _Val(
                inner.value,
                F.when(inner.value.isNotNull(), F.lit(KIND_IRI)),
                F.lit(None).cast("string"),
                F.lit(None).cast("string"),
            )
        if kind == "name" and text.lower() in ("now", "uuid", "struuid", "bnode"):
            # SPARQL §17.4.5.1/.2/.3 + §17.4.2.9. NOW() is fixed for the
            # whole query (Spark evaluates current_timestamp once per
            # query, the same single-moment contract); UUID()/STRUUID()/
            # BNODE() are fresh per solution row (Spark's uuid() is
            # per-row nondeterministic — exactly the spec's semantics).
            fn = text.lower()
            self._expect("(")
            self._expect(")")
            if fn == "now":
                return _Val(
                    F.date_format(
                        F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
                    ),
                    F.lit(KIND_LITERAL),
                    F.lit(XSD + "dateTime"),
                    F.lit(None).cast("string"),
                )
            if fn == "uuid":
                return _Val(
                    F.concat(F.lit("urn:uuid:"), F.expr("uuid()")),
                    F.lit(KIND_IRI),
                    F.lit(None).cast("string"),
                    F.lit(None).cast("string"),
                )
            if fn == "struuid":
                return _Val(
                    F.expr("uuid()"),
                    F.lit(KIND_LITERAL),
                    F.lit(XSD_STRING),
                    F.lit(None).cast("string"),
                )
            return _Val(  # bnode
                F.concat(F.lit("b"), F.regexp_replace(F.expr("uuid()"), "-", "")),
                F.lit(KIND_BNODE),
                F.lit(None).cast("string"),
                F.lit(None).cast("string"),
            )
        if kind == "name" and text.lower() in ("timezone", "tz"):
            # SPARQL §17.4.5.7/.8 over the xsd:dateTime LEXICAL form (the
            # engine stores literals lexically, so the zone is read from
            # the string — no session-timezone reinterpretation)
            fn = text.lower()
            self._expect("(")
            inner = self._additive()
            self._expect(")")
            zone = F.regexp_extract(
                inner.value, r"(Z|[+-][0-9]{2}:[0-9]{2})$", 1
            )
            if fn == "tz":
                # simple literal; "" when the dateTime carries no zone
                return _Val(
                    F.when(inner.value.isNotNull(), zone),
                    F.lit(KIND_LITERAL),
                    F.lit(XSD_STRING),
                    F.lit(None).cast("string"),
                )
            hh = F.substring(zone, 2, 2).cast("int")
            mm = F.substring(zone, 5, 2).cast("int")
            dur = (
                F.when(zone == "", F.lit(None).cast("string"))
                .when((zone == "Z") | ((hh == 0) & (mm == 0)), F.lit("PT0S"))
                .otherwise(
                    F.concat(
                        F.when(F.substring(zone, 1, 1) == "-", F.lit("-"))
                        .otherwise(F.lit("")),
                        F.lit("PT"),
                        F.when(hh > 0, F.concat(hh.cast("string"), F.lit("H")))
                        .otherwise(F.lit("")),
                        F.when(mm > 0, F.concat(mm.cast("string"), F.lit("M")))
                        .otherwise(F.lit("")),
                    )
                )
            )
            return _Val(
                dur,
                F.when(dur.isNotNull(), F.lit(KIND_LITERAL)),
                F.when(dur.isNotNull(), F.lit(XSD + "dayTimeDuration")),
                F.lit(None).cast("string"),
            )
        if kind == "name" and text.lower() in _F_VALUE_FUNCS:
            fn = text.lower()
            self._expect("(")
            inner = self._additive()
            self._expect(")")
            if fn == "str":
                return _Val(
                    inner.value,
                    F.lit(KIND_LITERAL),
                    F.lit(XSD_STRING),
                    F.lit(None).cast("string"),
                )
            if fn == "datatype":
                # RDF 1.1: lang-tagged → rdf:langString; plain → xsd:string
                dt = F.when(
                    inner.kind == KIND_LITERAL,
                    F.when(
                        inner.lang.isNotNull() & (inner.lang != ""),
                        F.lit(RDF_LANGSTRING),
                    ).otherwise(F.coalesce(inner.datatype, F.lit(XSD_STRING))),
                ).otherwise(F.lit(None).cast("string"))
                return _Val(
                    dt, F.lit(KIND_IRI),
                    F.lit(None).cast("string"), F.lit(None).cast("string"),
                )
            # lang(): "" for plain literals, unbound (NULL) for non-literals
            lg = F.when(
                inner.kind == KIND_LITERAL, F.coalesce(inner.lang, F.lit(""))
            ).otherwise(F.lit(None).cast("string"))
            return _Val(
                lg, F.lit(KIND_LITERAL),
                F.lit(XSD_STRING), F.lit(None).cast("string"),
            )
        raise ValueError(
            f"unsupported term {text!r} in FILTER expression {self.raw!r}"
        )

    # -- boolean functions
    def _bool_func(self, fn: str) -> Column:
        self.i += 1  # the name token
        self._expect("(")
        a = self._value()
        if fn == "bound":
            self._expect(")")
            return a.value.isNotNull()
        if fn in ("isiri", "isuri"):
            self._expect(")")
            return a.value.isNotNull() & (a.kind == KIND_IRI)
        if fn == "isliteral":
            self._expect(")")
            return a.value.isNotNull() & (a.kind == KIND_LITERAL)
        if fn == "isblank":
            self._expect(")")
            return a.value.isNotNull() & (a.kind == KIND_BNODE)
        self._expect(",")
        if fn == "regex":
            p = self._take()
            if p.kind != "str":
                raise ValueError("regex() pattern must be a string literal")
            # SPARQL §17.4.3.14: the pattern argument is a string literal,
            # string-unescaped by the lexer (source "\\d" reaches the
            # regex engine as \d)
            pat = p.value
            if self._accept(","):
                f = self._take()
                if f.kind != "str":
                    raise ValueError("regex() flags must be a string literal")
                flags = "".join(c for c in f.value if c in "ims")
                if flags:
                    pat = f"(?{flags}){pat}"
            self._expect(")")
            return a.value.rlike(pat)
        b = self._value()
        self._expect(")")
        if fn == "sameterm":
            return (
                (a.value == b.value)
                & (a.kind == b.kind)
                & a.datatype.eqNullSafe(b.datatype)
                & a.lang.eqNullSafe(b.lang)
            )
        if fn == "strstarts":
            return a.value.startswith(b.value)
        if fn == "strends":
            return a.value.endswith(b.value)
        if fn == "contains":
            return a.value.contains(b.value)
        # langMatches(lang-expr, range): "*" matches any non-empty tag;
        # otherwise exact tag or an extended-subtag prefix (RFC 4647 basic)
        rng = F.lower(b.value)
        tag = F.lower(a.value)
        return F.when(rng == "*", tag.isNotNull() & (tag != "")).otherwise(
            tag.isNotNull()
            & ((tag == rng) | tag.startswith(F.concat(rng, F.lit("-"))))
        )


def _filter_condition(
    f: _Filter, cols: dict[str, Column], bound_vars: set[str] = frozenset()
) -> Column:
    return _FilterParser(f.toks, cols, bound_vars).parse()


def _closure_path_rel(
    data: DataFrame,
    bound: DataFrame,
    bound_vars: set[str],
    pat: _Pattern,
    sfx: str,
) -> DataFrame:
    """Pairs relation for a property path carrying a closure modifier
    (``*`` ``+`` ``?``). Reachability cannot desugar to finitely many
    triple patterns, so this reuses the core engine's bounded path
    evaluator (plans/shacl.py::_eval_path_expr — per-round
    localCheckpoint lineage truncation, SET semantics, bounded by
    _CLOSURE_MAX_ROUNDS rounds with a truncation warning), seeded from
    whichever endpoint the binding set already constrains; an unbound
    subject with a bound object evaluates the REVERSED path from the
    object side. Paths with BOTH endpoints unbound are outside the
    subset (the zero-length arm would relate every term in the graph to
    itself) and raise.

    Returns the same five-column (_s/_ok/_ov/_od/_ol) pairs shape a
    simple-pattern slice produces, so the caller's join/condition logic
    is shared. Two documented narrowings: closure traversal starts only
    from IRI/bnode-kind bindings (a literal has no outgoing edges, and
    its zero-length self-match is dropped), and object-seeded traversal
    matches a literal seed by lexical value only (the reversed first hop
    cannot see the kind/datatype columns)."""
    from .shacl import PInv, _eval_path_expr, _normalize_path

    expr = pat.pred
    spark = data.sparkSession
    subj, obj = pat.subj, pat.obj
    _null = F.lit(None).cast("string")

    seeds = None
    if subj.kind == "this":
        seeds = bound.select(F.col("this").alias("focus")).distinct()
    elif subj.kind == "iri":
        seeds = spark.range(1).select(F.lit(subj.value).alias("focus"))
    elif subj.kind == "var" and subj.value in bound_vars:
        seeds = (
            bound.filter(
                F.col(f"{subj.value}__value").isNotNull()
                & (F.col(f"{subj.value}__kind") != KIND_LITERAL)
            )
            .select(F.col(f"{subj.value}__value").alias("focus"))
            .distinct()
        )
    if seeds is not None:
        pairs = _eval_path_expr(data, seeds, expr)
        return pairs.select(
            F.col("focus").alias(f"_s{sfx}"),
            F.col("v_kind").alias(f"_ok{sfx}"),
            F.col("v_value").alias(f"_ov{sfx}"),
            F.col("v_datatype").alias(f"_od{sfx}"),
            F.col("v_lang").alias(f"_ol{sfx}"),
        )

    # subject side unbound — seed the reversed path from the object
    if obj.kind == "this":
        seeds = bound.select(F.col("this").alias("focus")).distinct()
        okind, odt = F.lit(KIND_IRI), _null
    elif obj.kind == "iri":
        seeds = spark.range(1).select(F.lit(obj.value).alias("focus"))
        okind, odt = F.lit(KIND_IRI), _null
    elif obj.kind == "lit":
        seeds = spark.range(1).select(F.lit(obj.value).alias("focus"))
        okind, odt = F.lit(KIND_LITERAL), F.lit(obj.dt)
    elif obj.kind == "var" and obj.value in bound_vars:
        seeds = (
            bound.filter(F.col(f"{obj.value}__value").isNotNull())
            .select(F.col(f"{obj.value}__value").alias("focus"))
            .distinct()
        )
        # the caller's bound-variable condition compares values only
        okind, odt = _null, _null
    else:
        raise ValueError(
            "a property path with a closure modifier (* + ?) needs at "
            "least one bound endpoint ($this, a constant, or a variable "
            "bound by an earlier pattern)"
        )
    pairs = _eval_path_expr(data, seeds, _normalize_path(PInv(expr)))
    return pairs.select(
        F.col("v_value").alias(f"_s{sfx}"),
        okind.alias(f"_ok{sfx}"),
        F.col("focus").alias(f"_ov{sfx}"),
        odt.alias(f"_od{sfx}"),
        _null.alias(f"_ol{sfx}"),
    )


# Strict-dataset mode (SPARQL §13.2 / Update §3.1.3): while set, PLAIN
# triple patterns match only the dataset's DEFAULT graph (rows whose
# `graph` column is NULL — the dataset constructors null the FROM/WITH
# merge into that role) instead of the engine's union-default-graph
# store model. GRAPH blocks are unaffected (they re-slice by name), and
# the flag is cleared while descending into a GRAPH <iri> body, whose
# plain patterns match that one graph. Plan construction is driver-side
# and synchronous, so a contextvar scopes the flag correctly even across
# the evaluator's recursion.
_STRICT_DEFAULT = contextvars.ContextVar("sparql_strict_default", default=False)


@contextlib.contextmanager
def strict_default_graph(on: bool = True):
    """Scope the strict-dataset flag over a plan-construction region."""
    token = _STRICT_DEFAULT.set(on)
    try:
        yield
    finally:
        _STRICT_DEFAULT.reset(token)


def _order_patterns(
    patterns: tuple,
    bound_vars: set[str],
    graph_var: str | None = None,
) -> tuple:
    """Greedy selectivity ordering of a BGP's triple patterns.

    SPARQL BGP evaluation is a join of the patterns' solution relations;
    inner joins commute, so the evaluation order is semantics-free — but
    NOT cost-free: the progressive left-deep join below otherwise follows
    query text order, and a query written "broad pattern first" carries
    the widest intermediate relation through every subsequent join (at
    web scale, a variable-predicate pattern first means the FULL triple
    store as the seed). Classic static reordering (Stocker et al.,
    "SPARQL basic graph pattern optimization using selectivity
    estimation", WWW'08 — public literature) fixes this without
    statistics: repeatedly pick, among the patterns CONNECTED to the
    current binding set (those with a join condition — a shared variable,
    $this, or the GRAPH variable), the one whose unbound-term shape is
    most selective; fall back to the most selective remaining pattern
    when none is connected (the cross product then pairs the SMALLEST
    relations, instead of whichever came first textually). Catalyst
    cannot do this for us: without table statistics its join reordering
    never fires, and the per-pattern relations are all slices of one
    store anyway.

    Closure-bearing property paths are seeded from the endpoint the
    binding set constrains AT EVALUATION TIME, so their relative order
    changes the fixpoint's seed frontier — blocks containing one keep
    their textual order (conservative; plain-pattern blocks are the
    overwhelming case).

    Scores (lower evaluates earlier): an unbound variable predicate
    dominates (the relation is the whole store slice-free); a negated
    property set is a complement slice (broad, but bounded); unbound
    subject/object widen a constant-predicate slice less. Ties keep
    textual order, so the ordering — and the emitted plan — stays
    deterministic."""
    from .shacl import PNeg

    if len(patterns) < 2 or any(
        not isinstance(p.pred, (str, _Term, PNeg)) for p in patterns
    ):
        return patterns

    def term_vars(p) -> set[str]:
        vs = {t.value for t in (p.subj, p.obj) if t.kind == "var"}
        if isinstance(p.pred, _Term):
            vs.add(p.pred.value)
        return vs

    bound = set(bound_vars)

    def connected(p) -> bool:
        if p.subj.kind == "this" or p.obj.kind == "this":
            return True  # the focus column is always pre-bound
        if graph_var is not None and graph_var in bound:
            return True  # every pattern of a GRAPH ?g block joins on _g
        return bool(term_vars(p) & bound)

    def score(p) -> int:
        s = 0
        if isinstance(p.pred, _Term):
            s += 1 if p.pred.value in bound else 8
        elif isinstance(p.pred, PNeg):
            s += 4
        if p.subj.kind == "var" and p.subj.value not in bound:
            s += 2
        if p.obj.kind == "var" and p.obj.value not in bound:
            s += 1
        return s

    remaining = list(enumerate(patterns))
    out = []
    while remaining:
        pool = [ip for ip in remaining if connected(ip[1])] or remaining
        idx, pat = min(pool, key=lambda ip: (score(ip[1]), ip[0]))
        remaining.remove((idx, pat))
        out.append(pat)
        bound |= term_vars(pat)
        if graph_var is not None:
            bound.add(graph_var)
    return tuple(out)


def _cross_join(bound: DataFrame, other: DataFrame) -> DataFrame:
    """SPARQL's join of solution sets that share no variable: the cross
    product, with ``other`` broadcast when the one gate (is_small) allows
    it — unhinted, Spark plans a CartesianProduct of every partition
    pair."""
    return bound.crossJoin(maybe_broadcast(other, is_small(other)))


def _join_patterns(
    data: DataFrame,
    bound: DataFrame,
    bound_vars: set[str],
    patterns: tuple,
    ns: str,
    graph_var: str | None = None,
) -> DataFrame:
    """Progressively join triple patterns into the binding set (mutates
    bound_vars). ns namespaces the temp columns so nested blocks never
    collide with the enclosing evaluation. When ``graph_var`` is set
    (GRAPH ?g { … }) every pattern's relation also carries the triple's
    `graph` column, joined against — and binding — the graph variable, so
    all patterns of the block co-locate in one named graph per solution
    (SPARQL §13.3)."""
    from .shacl import PNeg

    gsel = (
        [F.col("graph")] if graph_var is not None else []
    )  # validated non-empty by the caller
    patterns = _order_patterns(patterns, bound_vars, graph_var)
    if graph_var is not None:
        # GRAPH ranges over the dataset's NAMED graphs only (SPARQL
        # §13.3): rows in the default graph (NULL graph column) are not
        # in any named graph and must not bind ?g
        data = data.filter(F.col("graph").isNotNull())
    elif _STRICT_DEFAULT.get() and "graph" in data.columns:
        # strict dataset (FROM/WITH/USING constructed it): plain patterns
        # match ONLY the default-graph role — a pushed-down null filter
        data = data.filter(F.col("graph").isNull())

    for i, pat in enumerate(patterns):
        sfx = f"{ns}{i}"
        if isinstance(pat.pred, str):
            rel = data.filter(F.col("p") == pat.pred).select(
                F.col("s").alias(f"_s{sfx}"),
                F.col("o_kind").alias(f"_ok{sfx}"),
                F.col("o_value").alias(f"_ov{sfx}"),
                F.col("o_datatype").alias(f"_od{sfx}"),
                F.col("o_lang").alias(f"_ol{sfx}"),
                *[g.alias(f"_g{sfx}") for g in gsel],
            )
        elif isinstance(pat.pred, _Term):
            # variable predicate: the whole relation, with p as an extra
            # bindable column — no slice possible (pattern_predicates
            # reports the open scan so plans/shacl.py keeps a full slice)
            rel = data.select(
                F.col("s").alias(f"_s{sfx}"),
                F.col("p").alias(f"_p{sfx}"),
                F.col("o_kind").alias(f"_ok{sfx}"),
                F.col("o_value").alias(f"_ov{sfx}"),
                F.col("o_datatype").alias(f"_od{sfx}"),
                F.col("o_lang").alias(f"_ol{sfx}"),
                *[g.alias(f"_g{sfx}") for g in gsel],
            )
        elif isinstance(pat.pred, PNeg):
            # negated property set: single hop over the complement slice
            # — still a declarative (anti-)filtered scan the optimizer
            # can push down, joined like any pattern; the inverse arm
            # drops literal landing nodes (no literal subjects)
            arms = []
            if pat.pred.fwd is not None:
                sl = (
                    data.filter(~F.col("p").isin(list(pat.pred.fwd)))
                    if pat.pred.fwd
                    else data
                )
                arms.append(
                    sl.select(
                        F.col("s").alias(f"_s{sfx}"),
                        F.col("o_kind").alias(f"_ok{sfx}"),
                        F.col("o_value").alias(f"_ov{sfx}"),
                        F.col("o_datatype").alias(f"_od{sfx}"),
                        F.col("o_lang").alias(f"_ol{sfx}"),
                        *[g.alias(f"_g{sfx}") for g in gsel],
                    )
                )
            if pat.pred.inv is not None:
                sl = (
                    data.filter(~F.col("p").isin(list(pat.pred.inv)))
                    if pat.pred.inv
                    else data
                )
                arms.append(
                    sl.filter(F.col("o_kind") != KIND_LITERAL).select(
                        F.col("o_value").alias(f"_s{sfx}"),
                        F.lit(KIND_IRI).alias(f"_ok{sfx}"),
                        F.col("s").alias(f"_ov{sfx}"),
                        F.lit(None).cast("string").alias(f"_od{sfx}"),
                        F.lit(None).cast("string").alias(f"_ol{sfx}"),
                        *[g.alias(f"_g{sfx}") for g in gsel],
                    )
                )
            rel = arms[0]
            for a in arms[1:]:
                rel = rel.unionByName(a)
        else:
            if graph_var is not None:
                # the reachability fixpoint collapses multi-hop chains and
                # cannot attribute one graph name to the whole chain
                raise ValueError(
                    "property-path closures inside GRAPH ?var are outside "
                    "the subset (use GRAPH <iri> to fix the graph first)"
                )
            # a closure-bearing property path: the pairs relation comes
            # from the bounded reachability fixpoint, seeded from the
            # endpoint the binding set already constrains
            rel = _closure_path_rel(data, bound, bound_vars, pat, sfx)
        conds: list[Column] = []
        pvar = pat.pred.value if isinstance(pat.pred, _Term) else None
        if pat.subj.kind == "this":
            conds.append(F.col(f"_s{sfx}") == F.col("this"))
        elif pat.subj.kind == "var":
            if pat.subj.value in bound_vars:
                conds.append(F.col(f"_s{sfx}") == F.col(f"{pat.subj.value}__value"))
        else:  # iri
            rel = rel.filter(F.col(f"_s{sfx}") == pat.subj.value)

        if pat.obj.kind == "this":
            conds.append(
                (F.col(f"_ov{sfx}") == F.col("this"))
                & (F.col(f"_ok{sfx}") == KIND_IRI)
            )
        elif pat.obj.kind == "var":
            if pat.obj.value in bound_vars:
                conds.append(F.col(f"_ov{sfx}") == F.col(f"{pat.obj.value}__value"))
            elif pat.subj.kind == "var" and pat.obj.value == pat.subj.value:
                # self-loop (?x <p> ?x): the object must be the SAME term
                # as the subject — a relation-side filter, since neither
                # occurrence is bound yet (subjects are never literals)
                rel = rel.filter(
                    (F.col(f"_ov{sfx}") == F.col(f"_s{sfx}"))
                    & (F.col(f"_ok{sfx}") != KIND_LITERAL)
                )
        elif pat.obj.kind == "iri":
            rel = rel.filter(
                (F.col(f"_ov{sfx}") == pat.obj.value)
                & (F.col(f"_ok{sfx}") == KIND_IRI)
            )
        else:  # literal
            rel = rel.filter(
                (F.col(f"_ov{sfx}") == pat.obj.value)
                & (F.col(f"_ok{sfx}") == KIND_LITERAL)
            )

        if pvar is not None:
            if pvar in bound_vars:
                # term matching is value+kind: a literal binding whose
                # lexical form looks like an IRI must NOT match the
                # predicate column (predicates are always IRIs)
                conds.append(
                    (F.col(f"_p{sfx}") == F.col(f"{pvar}__value"))
                    & (F.col(f"{pvar}__kind") == KIND_IRI)
                )
            elif pat.subj.kind == "var" and pat.subj.value == pvar:
                # repeated variable within the pattern (?x ?x ?o)
                rel = rel.filter(F.col(f"_p{sfx}") == F.col(f"_s{sfx}"))
            elif pat.obj.kind == "var" and pat.obj.value == pvar:
                rel = rel.filter(
                    (F.col(f"_p{sfx}") == F.col(f"_ov{sfx}"))
                    & (F.col(f"_ok{sfx}") == KIND_IRI)
                )

        if graph_var is not None and graph_var in bound_vars:
            conds.append(
                F.col(f"_g{sfx}") == F.col(f"{graph_var}__value")
            )
        elif graph_var is not None:
            # GRAPH ?g where ?g is also a term of this very pattern
            if pat.subj.kind == "var" and pat.subj.value == graph_var:
                rel = rel.filter(F.col(f"_g{sfx}") == F.col(f"_s{sfx}"))
            if pat.obj.kind == "var" and pat.obj.value == graph_var:
                rel = rel.filter(
                    (F.col(f"_g{sfx}") == F.col(f"_ov{sfx}"))
                    & (F.col(f"_ok{sfx}") == KIND_IRI)
                )
            if pvar is not None and pvar == graph_var:
                rel = rel.filter(F.col(f"_g{sfx}") == F.col(f"_p{sfx}"))

        if conds:
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
            bound = bound.join(rel, cond)
        elif set(bound.columns) == {"_seed"}:
            # whole-graph seeding (standalone queries, target selects):
            # the 1-row constant seed's cross product is a no-op — splice
            # the relation in directly instead of planning a
            # BroadcastNestedLoopJoin over the full relation
            bound = rel.withColumn("_seed", F.lit(0))
        else:
            # no shared variable: SPARQL cross-product semantics (rare but
            # legal — e.g. an existence probe); documented and allowed
            bound = _cross_join(bound, rel)

        # register newly bound variables
        if pat.subj.kind == "var" and pat.subj.value not in bound_vars:
            v = pat.subj.value
            bound = (
                bound.withColumn(f"{v}__value", F.col(f"_s{sfx}"))
                .withColumn(f"{v}__kind", F.lit(KIND_IRI))
                .withColumn(f"{v}__datatype", F.lit(None).cast("string"))
                .withColumn(f"{v}__lang", F.lit(None).cast("string"))
            )
            bound_vars.add(v)
        if pat.obj.kind == "var" and pat.obj.value not in bound_vars:
            v = pat.obj.value
            bound = (
                bound.withColumn(f"{v}__value", F.col(f"_ov{sfx}"))
                .withColumn(f"{v}__kind", F.col(f"_ok{sfx}"))
                .withColumn(f"{v}__datatype", F.col(f"_od{sfx}"))
                .withColumn(f"{v}__lang", F.col(f"_ol{sfx}"))
            )
            bound_vars.add(v)
        if pvar is not None and pvar not in bound_vars:
            bound = (
                bound.withColumn(f"{pvar}__value", F.col(f"_p{sfx}"))
                .withColumn(f"{pvar}__kind", F.lit(KIND_IRI))
                .withColumn(f"{pvar}__datatype", F.lit(None).cast("string"))
                .withColumn(f"{pvar}__lang", F.lit(None).cast("string"))
            )
            bound_vars.add(pvar)
        if graph_var is not None and graph_var not in bound_vars:
            bound = (
                bound.withColumn(f"{graph_var}__value", F.col(f"_g{sfx}"))
                .withColumn(f"{graph_var}__kind", F.lit(KIND_IRI))
                .withColumn(
                    f"{graph_var}__datatype", F.lit(None).cast("string")
                )
                .withColumn(f"{graph_var}__lang", F.lit(None).cast("string"))
            )
            bound_vars.add(graph_var)
        bound = bound.drop(
            f"_s{sfx}", f"_p{sfx}", f"_ok{sfx}", f"_ov{sfx}", f"_od{sfx}",
            f"_ol{sfx}", f"_g{sfx}",
        )
    return bound


def _sub_block_keys(
    bound_vars: set[str], sub: _Block, has_this: bool = True,
    strict: bool = True,
) -> list[str]:
    """Join-key columns linking an outer binding set to a nested group:
    ``this`` when the outer frame carries it (every constraint solution
    does — it keeps a disconnected group from silently becoming a cross
    join of the whole outer set) plus every outer variable the group
    mentions. In a target select (no outer focus) the group must share a
    variable explicitly — except plain nested groups (``strict=False``),
    whose disjoint case is SPARQL's legal join with an unrelated solution
    set (the caller cross-multiplies)."""
    sub_vars = {
        t.value
        for p in sub.all_patterns()
        for t in (p.subj, p.obj)
        if t.kind == "var"
    } | _visible_subselect_proj(sub)
    # variables the group can bind WITHOUT a pattern occurrence — BIND
    # targets, VALUES variables, GRAPH ?g names. The seeded-rejoin
    # evaluation can't pre-bind these (BIND to an in-scope var is a
    # SPARQL error inside the group), and leaving them out of the key
    # set would emit duplicate <v>__* columns into the outer frame —
    # reject with a clear error instead of an AMBIGUOUS_REFERENCE crash
    # (or, in the disjoint branch, a silently-wrong cross join).
    extra = _bindable_extra_vars(sub) - sub_vars
    clash = sorted(extra & bound_vars)
    if clash:
        raise ValueError(
            "nested group binds "
            + ", ".join(f"?{v}" for v in clash)
            + " via BIND/VALUES/GRAPH while the outer pattern also binds "
            "it — rename the inner variable (this engine joins nested "
            "groups on pattern-shared variables only)"
        )
    keys = (["this"] if has_this else []) + sorted(
        f"{v}__value" for v in sub_vars & bound_vars
    )
    if not keys and strict:
        raise ValueError(
            "OPTIONAL / FILTER EXISTS group in a target select must share "
            "a variable with the outer pattern"
        )
    return keys


def _bindable_extra_vars(blk: _Block) -> set[str]:
    """Variables a block tree can bind other than through a triple
    pattern: BIND targets, VALUES variables, and GRAPH ?g names —
    recursing the same scopes as ``all_patterns`` (subquery bodies
    excluded; their projection is handled by _visible_subselect_proj)."""
    out = {v for v, _expr in blk.binds}
    for vc in blk.values_clauses:
        out |= set(vc.vars)
    for gterm, _b in blk.graphs:
        if gterm.kind == "var":
            out.add(gterm.value)
    subs = (
        list(blk.optionals)
        + [b for _neg, b in blk.exists]
        + list(blk.alternatives)
        + list(blk.minuses)
        + list(blk.groups)
        + [b for _g, b in blk.graphs]
    )
    for b in subs:
        out |= _bindable_extra_vars(b)
    return out


def _optional_join(
    data: DataFrame,
    bound: DataFrame,
    bound_vars: set[str],
    sub: _Block,
    ns: str,
    has_this: bool = True,
) -> DataFrame:
    """OPTIONAL { … }: evaluate the group over the DISTINCT shared keys of
    the outer binding set, then left-outer join it back — unmatched outer
    solutions keep NULLs in the group's variables (SPARQL OPTIONAL
    semantics; bound()/!bound() filters read exactly those NULLs).

    A group sharing NO variable (possible only in focus-free contexts —
    constraint solutions always carry ``this``) is SPARQL's LeftJoin
    with a disjoint solution set: every outer row pairs with every group
    solution, and an EMPTY group leaves the outer rows with the group's
    variables unbound — exactly a left join on a TRUE condition."""
    key_cols = _sub_block_keys(bound_vars, sub, has_this, strict=False)
    if not key_cols:
        seed = bound.sparkSession.range(1).select(F.lit(0).alias("_seed"))
        inner_vars: set[str] = set()
        matched = _apply_block(data, seed, inner_vars, sub, ns, has_this)
        proj = [
            f"{v}__{part}"
            for v in sorted(inner_vars)
            for part in ("value", "kind", "datatype", "lang")
        ]
        bound = bound.join(matched.select(*proj), F.lit(True), "left")
        bound_vars |= inner_vars
        return bound
    keys = bound.select(*key_cols).distinct()
    inner_vars = {c[: -len("__value")] for c in key_cols if c.endswith("__value")}
    shared = set(inner_vars)
    matched = _apply_block(data, keys, inner_vars, sub, ns, has_this)
    new_vars = inner_vars - shared
    proj = key_cols + [
        f"{v}__{part}"
        for v in sorted(new_vars)
        for part in ("value", "kind", "datatype", "lang")
    ]
    bound = bound.join(matched.select(*proj), on=key_cols, how="left")
    bound_vars |= new_vars
    return bound


def _group_join(
    data: DataFrame,
    bound: DataFrame,
    bound_vars: set[str],
    sub: _Block,
    ns: str,
    has_this: bool = True,
) -> DataFrame:
    """A nested braced sub-group — including an embedded ``{…} UNION
    {…}`` alternation — JOINS with the enclosing group on their shared
    variables (SPARQL Join of group graph patterns). Evaluated over the
    DISTINCT shared keys of the outer binding set, then inner-joined
    back: outer solutions without a compatible group solution drop, and
    group-solution multiplicity multiplies (standard join semantics).
    Variables bound in only some UNION branches surface as NULL
    (unbound) in the other branches' solutions.

    A group sharing NO variable with the outer set (possible only in
    focus-free contexts — standalone queries, target selects; every
    constraint solution carries ``this``) is SPARQL's join with a
    disjoint solution set: evaluated once from a fresh 1-row seed, then
    spliced (pristine seed) or cross-multiplied into the outer set."""
    key_cols = _sub_block_keys(bound_vars, sub, has_this, strict=False)
    if not key_cols:
        seed = bound.sparkSession.range(1).select(F.lit(0).alias("_seed"))
        inner_vars: set[str] = set()
        matched = _apply_block(data, seed, inner_vars, sub, ns, has_this)
        proj = [
            f"{v}__{part}"
            for v in sorted(inner_vars)
            for part in ("value", "kind", "datatype", "lang")
        ]
        matched = matched.select(*proj)
        if set(bound.columns) == {"_seed"}:
            bound = matched.withColumn("_seed", F.lit(0))
        else:
            bound = _cross_join(bound, matched)
        bound_vars |= inner_vars
        return bound
    keys = bound.select(*key_cols).distinct()
    inner_vars = {c[: -len("__value")] for c in key_cols if c.endswith("__value")}
    shared = set(inner_vars)
    matched = _apply_block(data, keys, inner_vars, sub, ns, has_this)
    new_vars = inner_vars - shared
    proj = key_cols + [
        f"{v}__{part}"
        for v in sorted(new_vars)
        for part in ("value", "kind", "datatype", "lang")
    ]
    bound = bound.join(matched.select(*proj), on=key_cols, how="inner")
    bound_vars |= new_vars
    return bound


def _exists_join(
    data: DataFrame,
    bound: DataFrame,
    bound_vars: set[str],
    sub: _Block,
    negated: bool,
    ns: str,
    has_this: bool = True,
) -> DataFrame:
    """FILTER [NOT] EXISTS { … }: evaluate the group over the distinct
    shared keys and semi/anti-join the outer binding set against it —
    the standard relational compilation of the SPARQL existence probe.

    A group sharing NO variable (focus-free contexts only) is a GLOBAL
    probe — "does this match anywhere in the store" — the same for every
    outer row: compile it lazily as a one-row marker relation joined
    semi (EXISTS: all rows survive iff the marker exists) or anti
    (NOT EXISTS: all rows survive iff it does not)."""
    key_cols = _sub_block_keys(bound_vars, sub, has_this, strict=False)
    if not key_cols:
        seed = bound.sparkSession.range(1).select(F.lit(0).alias("_seed"))
        inner_vars: set[str] = set()
        marker = (
            _apply_block(data, seed, inner_vars, sub, ns, has_this)
            .select(F.lit(0).alias("_probe"))
            .limit(1)
        )
        return bound.join(
            marker, F.lit(True), "left_anti" if negated else "left_semi"
        )
    keys = bound.select(*key_cols).distinct()
    inner_vars = {c[: -len("__value")] for c in key_cols if c.endswith("__value")}
    matched = (
        _apply_block(data, keys, inner_vars, sub, ns, has_this)
        .select(*key_cols)
        .distinct()
    )
    return bound.join(
        matched, on=key_cols, how="left_anti" if negated else "left_semi"
    )


def _minus_join(
    data: DataFrame,
    bound: DataFrame,
    bound_vars: set[str],
    sub: _Block,
    ns: str,
    has_this: bool = True,
) -> DataFrame:
    """MINUS { … }: remove outer solutions compatible with some group
    solution on the shared variables (anti join on them). A group sharing
    NO variables with the outer pattern removes nothing — SPARQL MINUS's
    disjoint-domain rule, the semantic difference from FILTER NOT EXISTS.
    ``$this`` counts as shared only when the group actually mentions it.
    Outer rows whose shared variable is NULL (unbound via OPTIONAL) are
    never removed: an unbound variable is outside the solution's domain,
    and the anti join's equi-condition never matches NULL."""
    sub_vars: set[str] = set()
    mentions_this = False
    for p in sub.all_patterns():
        for t in (p.subj, p.obj):
            if t.kind == "var":
                sub_vars.add(t.value)
            elif t.kind == "this":
                mentions_this = True
    sub_vars |= _visible_subselect_proj(sub)
    shared = sub_vars & bound_vars
    # $this is the pre-bound focus column only in constraint mode; in a
    # target select (has_this=False) ?this is an ordinary variable and
    # stays in `shared` with its <v>__value column
    this_key = has_this and (mentions_this or "this" in sub_vars)
    if this_key:
        shared -= {"this"}
    if not shared and not this_key:
        return bound
    key_cols = (["this"] if this_key else []) + sorted(
        f"{v}__value" for v in shared
    )
    keys = bound.select(*key_cols).distinct()
    inner_vars = {c[: -len("__value")] for c in key_cols if c.endswith("__value")}
    matched = (
        _apply_block(data, keys, inner_vars, sub, ns, this_key)
        .select(*key_cols)
        .distinct()
    )
    return bound.join(matched, on=key_cols, how="left_anti")


def _join_inline_data(
    spark: SparkSession,
    bound: DataFrame,
    bound_vars: set[str],
    vc: _ValuesClause,
) -> DataFrame:
    """Top-level ``VALUES`` (§10.2.2): Join(P, ToMultiset(data)) per
    §18.2.4.2 — applied after aggregation, before projection. Unlike the
    in-group zero-shuffle filter (whose variables the group must bind),
    this is the FULL join: a solution is compatible with a data row when
    they agree on every shared variable that is bound on both sides —
    an unbound (NULL, from OPTIONAL) solution variable is compatible
    with anything and gets FILLED from the data row, UNDEF data cells
    are compatible with anything and fill nothing, and variables the
    pattern never binds join in as new columns. The inline table is
    query-text-sized, so the join broadcasts; multiplicity multiplies
    per matching data row (join semantics, not a filter)."""
    rows = []
    for r in vc.rows:
        row = []
        for t in r:
            if t is None:  # UNDEF
                row += [None, None, None, None, False]
            elif t.kind == "iri":
                row += [t.value, KIND_IRI, None, None, True]
            else:
                row += [t.value, KIND_LITERAL, t.dt, None, True]
        rows.append(tuple(row))
    fields = []
    for v in vc.vars:
        fields += [
            f"_vv_{v}__value string",
            f"_vv_{v}__kind string",
            f"_vv_{v}__datatype string",
            f"_vv_{v}__lang string",
            f"_vv_{v}__def boolean",
        ]
    vdf = spark.createDataFrame(rows, ", ".join(fields))
    conds = []
    for v in vc.vars:
        if v not in bound_vars:
            continue
        b_val, d_val = F.col(f"{v}__value"), F.col(f"_vv_{v}__value")
        # term equality under the engine's RDF 1.1 identity: plain
        # literal ≡ xsd:string (VALUES data always carries a datatype)
        b_dt = F.when(
            (F.col(f"{v}__kind") == KIND_LITERAL)
            & F.col(f"{v}__lang").isNull(),
            F.coalesce(F.col(f"{v}__datatype"), F.lit(XSD_STRING)),
        ).otherwise(F.col(f"{v}__datatype"))
        term_eq = (
            (b_val == d_val)
            & (F.col(f"{v}__kind") == F.col(f"_vv_{v}__kind"))
            & (
                F.when(
                    F.col(f"_vv_{v}__kind") == KIND_LITERAL,
                    (b_dt == F.col(f"_vv_{v}__datatype"))
                    & F.col(f"{v}__lang").isNull(),
                ).otherwise(F.lit(True))
            )
        )
        conds.append(
            ~F.col(f"_vv_{v}__def") | b_val.isNull() | term_eq
        )
    cond = F.lit(True)
    for c in conds:
        cond = cond & c
    out = bound.join(F.broadcast(vdf), cond)
    for v in vc.vars:
        if v in bound_vars:
            for part in ("value", "kind", "datatype", "lang"):
                out = out.withColumn(
                    f"{v}__{part}",
                    F.coalesce(
                        F.col(f"{v}__{part}"), F.col(f"_vv_{v}__{part}")
                    ),
                )
        else:
            for part in ("value", "kind", "datatype", "lang"):
                out = out.withColumn(
                    f"{v}__{part}", F.col(f"_vv_{v}__{part}")
                )
            bound_vars.add(v)
    return out.drop(
        *[
            f"_vv_{v}__{p}"
            for v in vc.vars
            for p in ("value", "kind", "datatype", "lang", "def")
        ]
    )


def _apply_order_limit(
    frame: DataFrame,
    vars_available: set[str],
    q: _SelectQuery,
    has_this: bool = True,
) -> DataFrame:
    """ORDER BY + LIMIT over a solution frame. Each sort key orders
    numerically when the value parses as a number, lexically otherwise
    (two physical sort columns per key). ORDER BY without LIMIT is a
    no-op downstream (every consumer is unordered) but validates its
    keys.

    In a ``$this``-pre-bound context (has_this) the query is conceptually
    evaluated once PER focus node (SHACL-AF pre-binding, pySHACL
    behavior), so ``LIMIT k`` is a per-focus top-k — a global limit would
    keep one focus node's solutions and silently drop every other focus
    node's violations. Compiled as a row_number window partitioned by
    ``this`` (one shuffle on the focus key, no global sort). Only
    focus-free frames (target selects, non-$this subqueries) take the
    global TakeOrderedAndProject path."""
    if not q.order_by and q.limit is None and q.offset is None:
        return frame
    sort_cols: list[Column] = []
    for v, desc in q.order_by:
        if v == "this" and has_this and "this" in frame.columns:
            base = F.col("this")
        elif v in vars_available:
            base = F.col(f"{v}__value")
        else:
            raise ValueError(
                f"ORDER BY variable ?{v} is not visible at this point"
            )
        for c in (base.try_cast("double"), base):
            sort_cols.append(c.desc() if desc else c.asc())
    if (
        (q.limit is not None or q.offset is not None)
        and has_this
        and "this" in frame.columns
    ):
        # deterministic tie-break over the remaining solution columns so
        # re-runs (and resume) pick the same k rows when sort keys tie
        tie = [
            F.col(c).asc()
            for c in sorted(frame.columns)
            if c != "this" and c.endswith("__value")
        ]
        order = (sort_cols + tie) or [F.lit(1)]
        w = Window.partitionBy("this").orderBy(*order)
        lo = q.offset or 0
        keep = F.col("__rn") > lo
        if q.limit is not None:
            keep = keep & (F.col("__rn") <= lo + q.limit)
        return (
            frame.withColumn("__rn", F.row_number().over(w))
            .filter(keep)
            .drop("__rn")
        )
    out = frame.orderBy(*sort_cols) if sort_cols else frame
    if q.offset is not None:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def _subselect_join(
    data: DataFrame,
    bound: DataFrame,
    bound_vars: set[str],
    q: _SelectQuery,
    ns: str,
    has_this: bool = True,
) -> DataFrame:
    """A nested ``{ SELECT … }`` subquery (SPARQL 1.1 §12): evaluated
    bottom-up over the graph — seeded per distinct outer focus node only
    when it mentions the pre-bound ``$this`` (SHACL-AF pre-binding) —
    aggregated when it carries GROUP BY / HAVING (a GROUP-BY-less
    aggregate is the implicit whole-result group), PROJECTED to its
    SELECT list (inner helper variables never escape), then inner-joined
    to the enclosing group on the shared visible variables. With no
    shared variable the join is the SPARQL cross product — the global-
    aggregate-compared-in-an-outer-FILTER idiom, one row by
    construction."""
    if q.star:
        raise ValueError(
            "SELECT * is not supported in a subquery — project explicit "
            "variables (the projection defines what escapes the subquery)"
        )
    sub = q.block
    spark = data.sparkSession
    mentions_this = has_this and (
        any(
            t.kind == "this"
            for p in sub.all_patterns()
            for t in (p.subj, p.obj)
        )
        or any(
            t.kind == "this"
            for qq in sub.all_subselects()
            for p in qq.block.all_patterns()
            for t in (p.subj, p.obj)
        )
    )
    seed = (
        bound.select("this").distinct()
        if mentions_this
        else spark.range(1).select(F.lit(0).alias("_seed"))
    )
    sub_vars: set[str] = set()
    inner = _apply_block(data, seed, sub_vars, sub, ns, mentions_this)
    if q.aggs or q.group_by or q.having:
        inner, sub_vars = _apply_aggregation(inner, sub_vars, q, mentions_this)
    for v in q.proj:
        if v not in sub_vars:
            raise ValueError(f"subquery projects unbound variable ?{v}")
    proj_set = set(q.proj)
    shared = sorted(proj_set & bound_vars)
    key_cols = (["this"] if mentions_this else []) + [
        f"{v}__value" for v in shared
    ]
    new_vars = proj_set - set(shared)
    proj_cols = key_cols + [
        f"{v}__{p}"
        for v in sorted(new_vars)
        for p in ("value", "kind", "datatype", "lang")
    ]
    inner = inner.select(*proj_cols)
    if q.distinct:
        # SELECT DISTINCT collapses the solution multiset BEFORE the
        # join, so inner duplicates cannot multiply outer solutions
        inner = inner.distinct()
    inner = _apply_order_limit(inner, proj_set, q, mentions_this)
    if key_cols:
        bound = bound.join(inner, on=key_cols, how="inner")
    else:
        bound = _cross_join(bound, inner)
    bound_vars |= new_vars
    return bound


def _apply_block(
    data: DataFrame,
    bound: DataFrame,
    bound_vars: set[str],
    block: _Block,
    ns: str,
    has_this: bool = True,
) -> DataFrame:
    """Evaluate one group graph pattern against the binding set: own
    patterns first, then OPTIONAL groups, then existence probes, then the
    group's FILTERs (so filters see optional-bound variables — the
    OPTIONAL + !bound() negation idiom). An alternation block evaluates
    every branch from the SAME incoming binding set and unions the
    solutions; variables bound in only some branches are NULL in the
    others (SPARQL UNION semantics)."""
    if block.alternatives:
        branches = []
        for idx, alt in enumerate(block.alternatives):
            bv = set(bound_vars)
            branches.append(
                (_apply_block(data, bound, bv, alt, f"{ns}u{idx}_", has_this), bv)
            )
        out = branches[0][0]
        for b, _bv in branches[1:]:
            out = out.unionByName(b, allowMissingColumns=True)
        for _b, bv in branches:
            bound_vars |= bv
        return out
    bound = _join_patterns(data, bound, bound_vars, block.patterns, ns)
    for k, sq in enumerate(block.subselects):
        bound = _subselect_join(
            data, bound, bound_vars, sq, f"{ns}q{k}_", has_this
        )
    for k, sub in enumerate(block.groups):
        bound = _group_join(data, bound, bound_vars, sub, f"{ns}g{k}_", has_this)
    for k, (gterm, sub) in enumerate(block.graphs):
        if "graph" not in data.columns:
            raise ValueError(
                "GRAPH requires the triples frame to carry its `graph` "
                "column (it was projected away upstream)"
            )
        if gterm.kind == "iri":
            # GRAPH <iri> { … }: the whole sub-group — any nested
            # structure — evaluates against the one-graph slice; a plain
            # pushed-down filter on the scan. The strict-dataset flag is
            # cleared for the descent: INSIDE the block the active graph
            # is <iri>, so its plain patterns must match that slice, not
            # the dataset's default role.
            gdata = data.filter(F.col("graph") == gterm.value)
            with strict_default_graph(False):
                bound = _group_join(
                    gdata, bound, bound_vars, sub, f"{ns}gr{k}_", has_this
                )
        else:
            # GRAPH ?g { … }: every pattern relation carries the graph
            # column and joins through ?g, so all the block's triples
            # co-locate in one named graph per solution and ?g binds to
            # it. Nested sub-structure under a graph VARIABLE is outside
            # the subset (each nested join would need the same threading).
            gv = gterm.value
            if (
                sub.optionals or sub.exists or sub.alternatives
                or sub.minuses or sub.groups or sub.subselects
                or sub.values_clauses or sub.graphs or sub.binds
            ):
                raise ValueError(
                    "GRAPH ?var supports plain triple patterns and FILTERs "
                    "only (nest GRAPH <iri> for structured bodies)"
                )
            if not sub.patterns:
                raise ValueError(
                    "GRAPH ?var needs at least one triple pattern to bind "
                    "the graph variable"
                )
            bound = _join_patterns(
                data, bound, bound_vars, sub.patterns, f"{ns}gr{k}_",
                graph_var=gv,
            )
            gcols: dict[str, Column] = {"this": F.col("this")}
            for v in bound_vars:
                gcols[v] = F.col(f"{v}__value")
            for f in sub.filters:
                bound = bound.filter(_filter_condition(f, gcols, bound_vars))
    for k, opt in enumerate(block.optionals):
        bound = _optional_join(data, bound, bound_vars, opt, f"{ns}o{k}_", has_this)
    for k, (neg, sub) in enumerate(block.exists):
        bound = _exists_join(data, bound, bound_vars, sub, neg, f"{ns}e{k}_", has_this)
    for k, sub in enumerate(block.minuses):
        bound = _minus_join(data, bound, bound_vars, sub, f"{ns}n{k}_", has_this)
    cols: dict[str, Column] = {"this": F.col("this")}
    for v in bound_vars:
        cols[v] = F.col(f"{v}__value")
    # BIND(expr AS ?var): evaluated after the group's patterns and nested
    # groups, before its FILTERs (which therefore see the bound value); a
    # NULL-evaluating expression leaves the variable unbound, per SPARQL
    for var, raw in block.binds:
        if var in bound_vars or var == "this":
            raise ValueError(f"BIND would rebind already-bound ?{var}")
        val = _FilterParser(raw, cols, bound_vars).parse_value()
        bound = (
            bound.withColumn(f"{var}__value", val.value)
            .withColumn(
                f"{var}__kind",
                F.when(val.value.isNotNull(), val.kind),
            )
            .withColumn(
                f"{var}__datatype",
                F.when(val.value.isNotNull(), val.datatype),
            )
            .withColumn(
                f"{var}__lang",
                F.when(val.value.isNotNull(), val.lang),
            )
        )
        bound_vars.add(var)
        cols[var] = F.col(f"{var}__value")
    # VALUES: the inline table is query-text-sized, so it compiles to a
    # zero-shuffle OR-of-ANDs predicate over the binding set (the
    # Spark-idiomatic form of joining a tiny inline relation); term
    # matching is value+kind, consistent with pattern-object matching.
    # Every VALUES variable must be bound by this group's patterns.
    for vc in block.values_clauses:
        for v in vc.vars:
            if v not in bound_vars:
                raise ValueError(
                    f"VALUES variable ?{v} is not bound by the group's patterns"
                )
        row_conds: list[Column] = []
        for vals in vc.rows:
            parts: list[Column] = []
            for v, term in zip(vc.vars, vals):
                if term is None:  # UNDEF wildcard
                    continue
                want_kind = KIND_IRI if term.kind == "iri" else KIND_LITERAL
                parts.append(
                    (F.col(f"{v}__value") == term.value)
                    & (F.col(f"{v}__kind") == want_kind)
                )
            cond = F.lit(True)
            for p in parts:
                cond = cond & p
            row_conds.append(cond)
        total: Column = F.lit(False)
        for rc in row_conds:
            total = total | rc
        bound = bound.filter(total)
    for f in block.filters:
        bound = bound.filter(_filter_condition(f, cols, bound_vars))
    return bound


def _apply_aggregation(
    bound: DataFrame,
    bound_vars: set[str],
    q: _SelectQuery,
    has_this: bool = True,
) -> tuple[DataFrame, set[str]]:
    """GROUP BY + aggregates + HAVING over the binding set (one hash
    aggregation with map-side partial combine — the plan Spark picks for
    a declarative groupBy). Grouping keys are full RDF terms (all four
    term columns per variable); SUM/AVG/MIN/MAX operate numerically via
    try_cast (non-numeric values become NULL and are ignored, SPARQL's
    error-solution-dropping behavior for numeric aggregates); COUNT
    supports DISTINCT and ``*``. HAVING may reference aggregate aliases
    or inline aggregate calls (the parser rewrote those to the hidden
    aggregates of ``q.having_aggs``).
    Constraint mode requires GROUP BY $this so every row still reports a
    focus node; part_id survives as min() per group."""
    if has_this and "this" not in q.group_by:
        raise ValueError(
            "an aggregate sh:sparql constraint select must GROUP BY $this"
        )
    keys: list[str] = []
    for g in q.group_by:
        if g == "this" and has_this:
            keys.append("this")
        elif g in bound_vars:
            keys += [f"{g}__{p}" for p in ("value", "kind", "datatype", "lang")]
        else:
            raise ValueError(
                f"GROUP BY variable ?{g} is not bound by the pattern"
            )

    all_aggs = q.aggs + q.having_aggs
    agg_exprs: list[Column] = []
    if has_this and "part_id" in bound.columns:
        # absent inside a subquery seeded from bare focus keys
        agg_exprs.append(F.min("part_id").alias("part_id"))
    for a in all_aggs:
        if a.alias in bound_vars:
            raise ValueError(
                f"aggregate alias ?{a.alias} rebinds a pattern variable"
            )
        if a.var is None:
            if a.distinct:
                raise ValueError("COUNT(DISTINCT *) is outside the subset")
            if a.fn != "count":
                raise ValueError(f"{a.fn.upper()}(*) is outside the subset")
            col = F.count(F.lit(1))
        else:
            if a.var not in bound_vars:
                raise ValueError(
                    f"aggregate references unbound variable ?{a.var}"
                )
            vcol = F.col(f"{a.var}__value")
            if a.fn == "count":
                col = F.count_distinct(vcol) if a.distinct else F.count(vcol)
            elif a.fn == "sample":
                # SAMPLE picks an implementation-defined value; this
                # engine picks the term with the smallest (value, kind,
                # datatype, lang) tuple — deterministic across re-runs
                # and resume. DISTINCT inside SAMPLE is a no-op.
                col = F.min(
                    F.struct(
                        vcol.alias("v"),
                        F.col(f"{a.var}__kind").alias("k"),
                        F.col(f"{a.var}__datatype").alias("d"),
                        F.col(f"{a.var}__lang").alias("l"),
                    )
                )
                agg_exprs.append(col.alias(f"{a.alias}__samp"))
                continue
            elif a.fn == "group_concat":
                # values are sorted before joining: SPARQL leaves
                # GROUP_CONCAT order implementation-defined, and a sorted
                # join is the only order stable under Spark's
                # partition-nondeterministic collect_list
                coll = (
                    F.collect_set(vcol) if a.distinct else F.collect_list(vcol)
                )
                col = F.array_join(F.array_sort(coll), a.sep)
            elif a.distinct:
                raise ValueError(
                    "DISTINCT is only supported inside COUNT/SAMPLE/"
                    "GROUP_CONCAT"
                )
            else:
                col = {
                    "sum": F.sum,
                    "avg": F.avg,
                    "min": F.min,
                    "max": F.max,
                }[a.fn](vcol.try_cast("double"))
        agg_exprs.append(col.cast("string").alias(f"{a.alias}__value"))

    if agg_exprs:
        out = bound.groupBy(*keys).agg(*agg_exprs)
    else:  # GROUP BY + HAVING without aggregates (target-select mode)
        out = bound.select(*keys).distinct()
    for a in all_aggs:
        if a.fn == "sample":
            samp = F.col(f"{a.alias}__samp")
            out = (
                out.withColumn(f"{a.alias}__value", samp["v"])
                .withColumn(f"{a.alias}__kind", samp["k"])
                .withColumn(f"{a.alias}__datatype", samp["d"])
                .withColumn(f"{a.alias}__lang", samp["l"])
                .drop(f"{a.alias}__samp")
            )
            continue
        if a.fn == "group_concat":
            # plain literal result (rdflib/pySHACL emit a plain literal)
            vcol = F.col(f"{a.alias}__value")
            out = (
                out.withColumn(
                    f"{a.alias}__kind",
                    F.when(vcol.isNotNull(), F.lit(KIND_LITERAL)),
                )
                .withColumn(
                    f"{a.alias}__datatype", F.lit(None).cast("string")
                )
                .withColumn(f"{a.alias}__lang", F.lit(None).cast("string"))
            )
            continue
        dt = XSD + ("integer" if a.fn == "count" else "double")
        vcol = F.col(f"{a.alias}__value")
        out = (
            out.withColumn(
                f"{a.alias}__kind",
                F.when(vcol.isNotNull(), F.lit(KIND_LITERAL)),
            )
            .withColumn(
                f"{a.alias}__datatype", F.when(vcol.isNotNull(), F.lit(dt))
            )
            .withColumn(f"{a.alias}__lang", F.lit(None).cast("string"))
        )

    new_vars = {g for g in q.group_by if not (g == "this" and has_this)} | {
        a.alias for a in all_aggs
    }
    if q.having:
        cols = {v: F.col(f"{v}__value") for v in new_vars}
        if has_this:
            cols["this"] = F.col("this")
        out = out.filter(_FilterParser(q.having, cols, new_vars).parse())
    return out, new_vars


def eval_bgp(
    data: DataFrame,
    focus: DataFrame,
    block: _Block,
) -> tuple[DataFrame, set[str]]:
    """Evaluate the WHERE block from the focus set. Returns the binding
    set — columns ``this``, ``part_id``, and ``<var>__value/kind/
    datatype/lang`` per bound variable — plus the bound variable names.

    Scale posture: each triple pattern is a ``p == <iri>`` slice of the
    (persisted, predicate-sliced) relation joined progressively into the
    binding set — same join shape as S5; OPTIONAL is a left-outer join
    and [NOT] EXISTS a semi/anti join over the DISTINCT shared keys (the
    probe never multiplies the outer cardinality); no collects, no UDFs."""
    bound = focus.select(
        F.col("focus").alias("this"), F.col("part_id").alias("part_id")
    )
    bound_vars: set[str] = set()
    bound = _apply_block(data, bound, bound_vars, block, "m")
    return bound, bound_vars


def evaluate_sparql_constraint(
    spark: SparkSession,
    data: DataFrame,
    focus: DataFrame,
    sc: SparqlConstraint,
    dedupe: bool = True,
) -> DataFrame:
    """Compile the constraint's SELECT into a progressive BGP join from the
    focus set and emit one RESULT_SCHEMA row per solution.

    ``dedupe=False`` skips the per-constraint dropDuplicates so a caller
    holding a CATALOG of sh:sparql constraints can union the result
    frames and dedupe once — one shuffle for the whole catalog instead
    of one per constraint (round-3 verdict finding 3; sourceShape is a
    result column, so a global all-column dedupe cannot merge rows
    across constraints)."""
    q = _no_values(parse_select_query(sc.select), "a sh:sparql constraint")
    if q.star:
        raise ValueError(
            "SELECT * is not valid in a sh:sparql constraint — project "
            "explicit variables (the first one becomes sh:value)"
        )
    proj, block = list(q.proj), q.block
    bound, bound_vars = eval_bgp(data, focus, block)
    if q.aggs or q.group_by or q.having:
        bound, bound_vars = _apply_aggregation(bound, bound_vars, q)
    bound = _apply_order_limit(bound, bound_vars, q)

    for v in proj:
        if v not in bound_vars:
            raise ValueError(f"projected variable ?{v} is not bound by the pattern")
    value_var = proj[0] if proj else None
    value_col = (
        F.col(f"{value_var}__value") if value_var else F.lit(None).cast("string")
    )
    value_kind = (
        F.col(f"{value_var}__kind") if value_var else F.lit(None).cast("string")
    )
    value_dt = (
        F.col(f"{value_var}__datatype") if value_var else F.lit(None).cast("string")
    )
    msg = sc.message or f"SPARQL constraint {sc.constraint_id} produced a solution"
    out = bound.select(
        F.col("this").alias("focusNode"),
        F.lit(sc.path).cast("string").alias("resultPath"),
        value_col.alias("value"),
        F.lit(sc.constraint_id).alias("sourceShape"),
        F.lit(sc.component).alias("sourceConstraintComponent"),
        F.lit(msg).alias("resultMessage"),
        F.lit(sc.severity).alias("resultSeverity"),
        F.col("part_id").alias("part_id"),
        value_kind.alias("value_kind"),
        value_dt.alias("value_datatype"),
    )
    # all-column dedupe, not a (focus, value, shape) subset: every other
    # column is constant per constraint or functionally dependent on the
    # focus node, EXCEPT value_kind/value_datatype — two solutions whose
    # values share a lexical form but differ as RDF terms are distinct
    # results (a subset dedupe would first() one away arbitrarily), and
    # a keys-only distinct stays in HashAggregate instead of the
    # SortAggregate that first()-over-strings forces
    return out.dropDuplicates() if dedupe else out


def evaluate_property_ask_constraint(
    spark: SparkSession,
    data: DataFrame,
    focus: DataFrame,
    sc: SparqlConstraint,
) -> DataFrame:
    """ASK propertyValidator (SHACL-AF §6.2.2 applied to a property
    shape): every (focus, value-of-path) pair must satisfy the ASK
    pattern with ``?value``/``$value`` PRE-BOUND to the pair's value
    term; a pair with no solution is one violation carrying the path as
    resultPath.

    Scale posture: the pair set is one `p == path` slice joined to the
    focus set; the ASK body evaluates once over the whole pair frame
    (the pre-bound ?value is just extra bound columns), and failing
    pairs drop out via a single anti join on a null-safe pair key."""
    block = parse_ask(sc.ask or "", allow_pattern_free=True)
    pair_key = F.concat_ws(
        "\x1f",
        F.col("this"),
        F.coalesce(F.col("value__value"), F.lit("\x00")),
        F.coalesce(F.col("value__kind"), F.lit("\x00")),
        F.coalesce(F.col("value__datatype"), F.lit("\x00")),
        F.coalesce(F.col("value__lang"), F.lit("\x00")),
    )
    pairs = (
        data.filter(F.col("p") == sc.path)
        .select(
            F.col("s").alias("this"),
            F.col("o_value").alias("value__value"),
            F.col("o_kind").alias("value__kind"),
            F.col("o_datatype").alias("value__datatype"),
            F.col("o_lang").alias("value__lang"),
        )
        .join(focus.select(F.col("focus").alias("this"), "part_id"), on="this")
        .withColumn("_pvk", pair_key)
    )
    bound_vars = {"value"}
    ok = (
        _apply_block(data, pairs, bound_vars, block, "pv")
        .select("_pvk")
        .distinct()
    )
    failing = pairs.join(ok, on="_pvk", how="left_anti")
    msg = sc.message or f"ASK validator of {sc.component} returned false"
    return failing.select(
        F.col("this").alias("focusNode"),
        F.lit(sc.path).alias("resultPath"),
        F.col("value__value").alias("value"),
        F.lit(sc.constraint_id).alias("sourceShape"),
        F.lit(sc.component).alias("sourceConstraintComponent"),
        F.lit(msg).alias("resultMessage"),
        F.lit(sc.severity).alias("resultSeverity"),
        F.col("part_id").alias("part_id"),
        F.col("value__kind").alias("value_kind"),
        F.col("value__datatype").alias("value_datatype"),
    )


def evaluate_ask_constraint(
    spark: SparkSession,
    data: DataFrame,
    focus: DataFrame,
    sc: SparqlConstraint,
) -> DataFrame:
    """SPARQLAskValidator applied to a node shape: evaluate the ASK body
    as a progressive BGP join from the focus set ($this pre-bound per
    focus node); a focus node with ZERO solutions fails. The violation
    reports the focus node itself as sh:value (node-shape application —
    the value node IS the focus node, SHACL-AF §6.2.2).

    Scale posture: one anti join of the focus set against the distinct
    solution keys — the probe side is deduplicated before the join, so
    solution multiplicity never multiplies the focus cardinality."""
    block = parse_ask(sc.ask or "")
    bound, _vars = eval_bgp(data, focus, block)
    failing = focus.join(
        bound.select(F.col("this").alias("focus")).distinct(),
        on="focus",
        how="left_anti",
    )
    msg = sc.message or (
        f"ASK validator of {sc.component} returned false"
    )
    return failing.select(
        F.col("focus").alias("focusNode"),
        F.lit(None).cast("string").alias("resultPath"),
        F.col("focus").alias("value"),
        F.lit(sc.constraint_id).alias("sourceShape"),
        F.lit(sc.component).alias("sourceConstraintComponent"),
        F.lit(msg).alias("resultMessage"),
        F.lit(sc.severity).alias("resultSeverity"),
        F.col("part_id").alias("part_id"),
        F.lit(None).cast("string").alias("value_kind"),
        F.lit(None).cast("string").alias("value_datatype"),
    )
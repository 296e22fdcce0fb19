"""SHACL-AF rules (sh:rule): sh:TripleRule and sh:SPARQLRule, compiled to
DataFrame plans that emit inferred triples into the data graph.

The reference delegates SHACL-AF wholesale to pySHACL
(/root/reference/cmem_plugin_pyshacl/plugin_pyshacl.py:250-265); pySHACL's
rule expansion (advanced=True, iterate_rules) is the behavioral model this
module mirrors natively:

  * rules attach to node shapes via ``sh:rule`` and fire once per focus
    node of the shape's targets (the same S2-S4 target machinery as
    validation);
  * ``sh:condition`` shape references pre-filter the focus set to nodes
    that CONFORM to the condition shape (evaluated with the engine's own
    ``_evaluate_shape`` — any validation result means nonconforming);
  * ``sh:order`` (ascending, default 0) fixes execution order within a
    shape; ``sh:deactivated true`` skips a rule;
  * ``sh:TripleRule``: sh:subject/sh:predicate/sh:object node expressions
    — ``sh:this``, a constant IRI/literal, or a ``[sh:path ...]`` path
    expression (full SHACL path algebra via the S5 path walker). One
    triple per combination of expression values (SHACL-AF §8.1);
  * ``sh:SPARQLRule``: ``sh:construct`` over the plans/sparql_af.py
    subset — CONSTRUCT template of triple patterns + BGP/FILTER body,
    with sh:prefixes / inline PREFIX expansion. Each WHERE solution
    instantiates every template pattern (SHACL-AF §8.2);
  * single ordered pass by default (pySHACL ``iterate_rules=False``);
    ``iterate=True`` repeats to a bounded fixpoint, logging if the bound
    is hit with rules still producing (same contract as the S5 closure
    cap).

Scale posture: everything is DataFrame joins — target selection is a
pushed-down isin/predicate filter, path expressions evaluate through the
shared S5 walker, BGP bodies through the shared progressive join, and the
new-triple check is a term-identity anti-join against the existing data.
No collects of data-graph rows; only the (tiny) shapes graph is collected,
exactly like shape compilation (S1).
"""

from __future__ import annotations

import logging
from collections import namedtuple
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..data_model import (
    KIND_IRI,
    KIND_LITERAL,
    RDF_TYPE,
    SH,
    XSD,
)
from .shacl import (
    PathExpr,
    _eval_path_expr,
    _evaluate_shape,
    _focus_nodes,
    compile_shapes,
    parse_shacl_path,
    subclass_closure,
)
from .sparql_af import (
    declared_prefixes,
    _Lexed,
    eval_bgp,
    first_object,
    index_rows,
    lex,
    parse_construct,
)

logger = logging.getLogger(__name__)

_TRIPLE_KEY = ["s", "p", "o_kind", "o_value", "o_datatype", "o_lang"]


@dataclass(frozen=True)
class _NodeExpr:
    kind: str  # 'this' | 'const' | 'path'
    value: str | None = None
    o_kind: str | None = None
    o_datatype: str | None = None
    o_lang: str | None = None
    path: PathExpr | None = None


@dataclass(frozen=True)
class Rule:
    shape_id: str
    rule_id: str
    kind: str  # 'triple' | 'sparql'
    order: float
    conditions: tuple[str, ...]
    subject: _NodeExpr | None = None
    predicate: _NodeExpr | None = None
    object: _NodeExpr | None = None
    construct: _Lexed | None = None  # the lexed sh:construct


def _node_expr(by_subject: dict, row) -> _NodeExpr:
    v = row.o_value
    if v == SH + "this":
        return _NodeExpr("this")
    props = by_subject.get(v, {})
    path_rows = props.get(SH + "path", [])
    if path_rows:
        return _NodeExpr(
            "path", path=parse_shacl_path(first_object(by_subject), path_rows[0].o_value)
        )
    # a non-path node expression (sh:union, sh:filterShape, ...) is
    # outside the supported subset — fail loudly, not silently. A plain
    # IRI that happens to have OTHER shapes-graph rows (e.g. a class
    # declaration used as sh:object) is still a constant.
    _node_expr_preds = (
        SH + "union", SH + "intersection", SH + "filterShape",
        SH + "nodes", SH + "minus",
    )
    if any(p in props for p in _node_expr_preds):
        raise ValueError(
            f"unsupported SHACL-AF node expression {v!r} (only sh:this, "
            "constants, and [sh:path ...] are supported)"
        )
    return _NodeExpr(
        "const",
        value=v,
        o_kind=row.o_kind,
        o_datatype=row.o_datatype,
        o_lang=row.o_lang,
    )


def compile_rules(shapes_rows: list) -> dict[str, list[Rule]]:
    """Gather sh:rule declarations grouped by owning shape, ordered by
    sh:order. ValueError for rule types outside TripleRule/SPARQLRule
    (sh:JSRule stays out of scope, like SHACL-JS in validate())."""
    by_subject = index_rows(shapes_rows)
    # SHACL-AF §7 functions are callable from rule bodies too — expand
    # them into the tokens before parsing, same as sh:sparql validators
    from .sparql_af import compile_sparql_functions, expand_function_calls

    functions = compile_sparql_functions(shapes_rows)
    out: dict[str, list[Rule]] = {}
    for subj, preds in by_subject.items():
        rules: list[Rule] = []
        for ref in preds.get(SH + "rule", []):
            node = ref.o_value
            props = by_subject.get(node, {})

            def obj(p: str) -> str | None:
                rows = props.get(p, [])
                return rows[0].o_value if rows else None

            if obj(SH + "deactivated") == "true":
                continue
            types = [r.o_value for r in props.get(RDF_TYPE, [])]
            order = float(obj(SH + "order") or 0)
            conditions = tuple(
                sorted(r.o_value for r in props.get(SH + "condition", []))
            )
            if SH + "TripleRule" in types:
                terms = {}
                for role in ("subject", "predicate", "object"):
                    rows = props.get(SH + role, [])
                    if not rows:
                        raise ValueError(
                            f"sh:TripleRule {node} is missing sh:{role}"
                        )
                    terms[role] = _node_expr(by_subject, rows[0])
                rules.append(
                    Rule(
                        shape_id=subj, rule_id=node, kind="triple",
                        order=order, conditions=conditions,
                        subject=terms["subject"],
                        predicate=terms["predicate"],
                        object=terms["object"],
                    )
                )
            elif SH + "SPARQLRule" in types:
                construct = obj(SH + "construct")
                if construct is None:
                    raise ValueError(f"sh:SPARQLRule {node} has no sh:construct")
                construct = expand_function_calls(
                    lex(construct, declared_prefixes(by_subject, node)), functions
                )
                parse_construct(construct)  # surface syntax errors at compile time
                rules.append(
                    Rule(
                        shape_id=subj, rule_id=node, kind="sparql",
                        order=order, conditions=conditions, construct=construct,
                    )
                )
            else:
                raise ValueError(
                    f"unsupported sh:rule type on {node} (expected "
                    "sh:TripleRule or sh:SPARQLRule)"
                )
        if rules:
            out[subj] = sorted(rules, key=lambda r: (r.order, r.rule_id))
    return out


def _null_str() -> F.Column:
    return F.lit(None).cast("string")


def _triple_rule_df(data: DataFrame, focus: DataFrame, rule: Rule) -> DataFrame:
    """One inferred triple per combination of the three node-expression
    value sets (SHACL-AF §8.1); focus nodes where any expression is empty
    emit nothing (inner joins)."""
    bound = focus.select("focus", "part_id")
    cols: dict[str, tuple] = {}
    for role, expr in (
        ("s", rule.subject), ("p", rule.predicate), ("o", rule.object)
    ):
        if expr.kind == "this":
            cols[role] = (F.col("focus"), F.lit(KIND_IRI), _null_str(), _null_str())
        elif expr.kind == "const":
            cols[role] = (
                F.lit(expr.value),
                F.lit(expr.o_kind),
                F.lit(expr.o_datatype).cast("string"),
                F.lit(expr.o_lang).cast("string"),
            )
        else:  # path — evaluate from the ORIGINAL focus set and join in;
            # multiple path roles cross-combine per focus, as specified
            vals = _eval_path_expr(data, focus, expr.path).select(
                "focus",
                F.col("v_value").alias(f"_{role}v"),
                F.col("v_kind").alias(f"_{role}k"),
                F.col("v_datatype").alias(f"_{role}d"),
                F.col("v_lang").alias(f"_{role}l"),
            )
            bound = bound.join(vals, on="focus")
            cols[role] = (
                F.col(f"_{role}v"), F.col(f"_{role}k"),
                F.col(f"_{role}d"), F.col(f"_{role}l"),
            )
    sv, sk, _sd, _sl = cols["s"]
    pv, pk, _pd, _pl = cols["p"]
    ov, ok, od, ol = cols["o"]
    # RDF well-formedness: subjects are never literals, predicates are
    # IRIs. For 'this'/'const' expressions the kind is known at compile
    # time — decide here instead of emitting a constant-folded filter
    # (which Spark logs as a trivially-true predicate warning).
    if rule.subject.kind == "const" and rule.subject.o_kind == KIND_LITERAL:
        bound = bound.filter(F.lit(False))
    elif rule.subject.kind == "path":
        bound = bound.filter(sk != F.lit(KIND_LITERAL))
    if rule.predicate.kind == "const" and rule.predicate.o_kind != KIND_IRI:
        bound = bound.filter(F.lit(False))
    elif rule.predicate.kind == "path":
        bound = bound.filter(pk == F.lit(KIND_IRI))
    return bound.select(
        sv.alias("s"),
        pv.alias("p"),
        ok.alias("o_kind"),
        ov.alias("o_value"),
        od.alias("o_datatype"),
        ol.alias("o_lang"),
        _null_str().alias("graph"),
        F.col("part_id"),
    )


def _sparql_rule_dfs(
    data: DataFrame, focus: DataFrame, rule: Rule
) -> list[DataFrame]:
    """Evaluate the CONSTRUCT body once, instantiate every template
    pattern from the binding set (SHACL-AF §8.2)."""
    template, block = parse_construct(rule.construct)
    bound, bound_vars = eval_bgp(data, focus, block)

    # plans/query.py::_instantiate is the focus-free sibling of this
    # instantiation (different datatype-normalization contract — see its
    # docstring); template-grammar changes usually need mirroring there.
    def term_cols(term) -> tuple:
        if term.kind == "this":
            return (F.col("this"), F.lit(KIND_IRI), _null_str(), _null_str())
        if term.kind == "var":
            if term.value not in bound_vars:
                raise ValueError(
                    f"CONSTRUCT template variable ?{term.value} is not bound "
                    "by the WHERE pattern"
                )
            v = term.value
            return (
                F.col(f"{v}__value"), F.col(f"{v}__kind"),
                F.col(f"{v}__datatype"), F.col(f"{v}__lang"),
            )
        if term.kind == "iri":
            return (F.lit(term.value), F.lit(KIND_IRI), _null_str(), _null_str())
        dt = term.dt or XSD + "string"
        return (F.lit(term.value), F.lit(KIND_LITERAL), F.lit(dt), _null_str())

    out: list[DataFrame] = []
    for t in template:
        sv, sk, _sd, _sl = term_cols(t.subj)
        ov, ok, od, ol = term_cols(t.obj)
        # only a VAR subject can bind a literal at runtime ('this'/'iri'
        # are IRIs by construction; literal subject consts are a parse
        # error) — gate the kind filter to avoid a constant-folded
        # trivially-true predicate
        src = bound.filter(sk != F.lit(KIND_LITERAL)) if t.subj.kind == "var" else bound
        # OPTIONAL-bound template variables can be NULL for unmatched
        # solutions; CONSTRUCT skips those (no triple is instantiated)
        if t.subj.kind == "var":
            src = src.filter(sv.isNotNull())
        if t.obj.kind == "var":
            src = src.filter(ov.isNotNull())
        if isinstance(t.pred, str):
            pv = F.lit(t.pred)
        else:  # variable predicate bound by the WHERE body (or $this)
            pv, pk, _pd, _pl = term_cols(t.pred)
            if t.pred.kind == "var":
                # only an IRI binding instantiates a predicate slot
                src = src.filter(pv.isNotNull() & (pk == F.lit(KIND_IRI)))
        rows = src.select(
            sv.alias("s"),
            pv.alias("p"),
            ok.alias("o_kind"),
            ov.alias("o_value"),
            od.alias("o_datatype"),
            ol.alias("o_lang"),
            _null_str().alias("graph"),
            F.col("part_id"),
        )
        out.append(rows)
    return out


def _condition_filtered(
    spark: SparkSession,
    data: DataFrame,
    focus: DataFrame,
    rule: Rule,
    closure: dict,
    shape_map: dict,
) -> DataFrame:
    """sh:condition — keep only focus nodes CONFORMING to every condition
    shape (any validation result, of any severity, means nonconforming —
    pySHACL's conformance test for rule conditions)."""
    out = focus
    for cond_ref in rule.conditions:
        cond_shape = shape_map.get(cond_ref)
        if cond_shape is None:
            raise ValueError(f"sh:condition references unknown shape {cond_ref}")
        res = _evaluate_shape(
            spark, data, out, cond_shape, closure, shape_map, 15, 0
        )
        if not res:
            continue
        noncon = res[0].select("focusNode")
        for df in res[1:]:
            noncon = noncon.unionByName(df.select("focusNode"))
        out = out.join(
            noncon.distinct().withColumnRenamed("focusNode", "focus"),
            on="focus",
            how="left_anti",
        )
    return out


def apply_rules(
    spark: SparkSession,
    data_triples: DataFrame,
    shapes_triples: DataFrame,
    iterate: bool = False,
    max_iterations: int = 25,
    shapes_rows: list | None = None,
) -> DataFrame:
    """Expand sh:rule declarations over the data graph; returns data plus
    inferred triples (TRIPLES_SCHEMA; inferred rows carry the focus node's
    part_id lineage and a null graph).

    iterate=False (default, pySHACL's iterate_rules default): one ordered
    pass. iterate=True: repeat until no new triples or max_iterations,
    logging a warning if the cap cuts off a still-producing ruleset.
    shapes_rows: pre-collected shapes rows (shacl.collect_shapes_rows) —
    validate() passes its one collected list so a rule-free advanced
    validation costs zero extra Spark jobs here."""
    rows = (
        shapes_rows
        if shapes_rows is not None
        else shapes_triples.select(
            "s", "p", "o_kind", "o_value", "o_datatype", "o_lang"
        ).collect()
    )
    rules_by_shape = compile_rules(rows)
    if not rules_by_shape:
        return data_triples

    compiled = compile_shapes(shapes_triples, rows=rows)
    shape_map = {s.shape_id: s for s in compiled.shapes}
    # condition shapes may be referenced only from rules — compile them too
    missing = {
        c
        for rl in rules_by_shape.values()
        for r in rl
        for c in r.conditions
        if c not in shape_map
    }
    if missing:
        # inline (untyped, targetless) condition shapes aren't picked up
        # by compile_shapes' node-shape scan — feed it the reachable rows
        # plus a synthetic sh:NodeShape typing row per missing ref, all
        # driver-side (the shapes list is already collected)
        by_subject = index_rows(rows)
        reach = set().union(*(_reachable(by_subject, m) for m in missing))
        _Row6 = namedtuple("_Row6", "s p o_kind o_value o_datatype o_lang")
        subset_rows = [r for r in rows if r.s in reach]
        typing_rows = [
            _Row6(m, RDF_TYPE, KIND_IRI, SH + "NodeShape", None, None)
            for m in sorted(missing)
        ]
        extra = compile_shapes(None, rows=subset_rows + typing_rows)
        for s in extra.shapes:
            shape_map.setdefault(s.shape_id, s)

    all_classes: set[str] = set()
    for s in compiled.shapes:
        all_classes.update(s.target_classes)
        if s.implicit_class_target:
            all_classes.add(s.shape_id)
        for c in s.properties + s.self_constraints:
            if c.class_ is not None:
                all_classes.add(c.class_)

    data = data_triples
    rounds = max_iterations if iterate else 1
    for rnd in range(rounds):
        closure = subclass_closure(data, all_classes)
        # sequential visibility (pySHACL rule-execution order): each rule
        # evaluates against the graph AS GROWN by earlier rules in this
        # pass — data_aug chains lazy unions of the per-rule outputs
        # (duplicates are fine for visibility; exact dedup happens once
        # below). Rule counts are driver-side tiny, so the chained plan
        # stays bounded.
        data_aug = data
        new_parts: list[DataFrame] = []
        for shape in compiled.shapes:
            rules = rules_by_shape.get(shape.shape_id)
            if not rules or shape.deactivated:
                continue
            for rule in rules:
                focus = _focus_nodes(spark, data_aug, shape, closure)
                if focus is None:
                    continue
                rfocus = _condition_filtered(
                    spark, data_aug, focus, rule, closure, shape_map
                )
                if rule.kind == "triple":
                    parts = [_triple_rule_df(data_aug, rfocus, rule)]
                else:
                    parts = _sparql_rule_dfs(data_aug, rfocus, rule)
                new_parts.extend(parts)
                for p in parts:
                    data_aug = data_aug.unionByName(p)
        if not new_parts:
            break
        inferred = new_parts[0]
        for df in new_parts[1:]:
            inferred = inferred.unionByName(df)
        # deterministic dedup: min part_id per distinct term (dropDuplicates
        # keeps an arbitrary row — unstable across runs/partitionings)
        f = (
            inferred.groupBy(*_TRIPLE_KEY)
            .agg(F.min("part_id").alias("part_id"))
            .select(
                "s", "p", "o_kind", "o_value", "o_datatype", "o_lang",
                _null_str().alias("graph"), "part_id",
            )
            .alias("f")
        )
        d = data.alias("d")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"f.{k}").eqNullSafe(F.col(f"d.{k}")) for k in _TRIPLE_KEY],
        )
        fresh = f.join(d, on=cond, how="left_anti")
        if not iterate:
            return data.unionByName(fresh)
        # fixpoint mode: materialize the grown graph so each round's plan
        # doesn't re-derive every earlier round (same localCheckpoint
        # pattern as the S5 closure walker)
        if fresh.limit(1).count() == 0:
            break
        data = data.unionByName(fresh).localCheckpoint()
        if rnd == rounds - 1:
            logger.warning(
                "sh:rule fixpoint stopped at max_iterations=%d with rules "
                "still producing new triples — inference is incomplete; "
                "raise max_iterations",
                max_iterations,
            )
    return data


def _reachable(by_subject: dict, node: str, seen: set | None = None) -> set[str]:
    """Transitively reachable subject closure from a shape node — enough
    of the shapes graph to compile a condition shape and its refs."""
    seen = seen if seen is not None else set()
    if node in seen or node not in by_subject:
        return seen
    seen.add(node)
    for rows in by_subject[node].values():
        for r in rows:
            if r.o_kind != KIND_LITERAL:
                _reachable(by_subject, r.o_value, seen)
    return seen

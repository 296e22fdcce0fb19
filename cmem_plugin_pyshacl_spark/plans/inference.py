"""RDFS inference subset (reference `inference` parameter,
/root/reference/cmem_plugin_pyshacl/plugin_pyshacl.py:238-249, delegated to
owlrl 7.1.4 forward chaining inside pySHACL).

We implement the RDFS entailment rules that affect core-SHACL outcomes —
the fixpoint of:

  rdfs9 : (x rdf:type c1), (c1 rdfs:subClassOf c2)    => (x rdf:type c2)
  rdfs11: (c1 subClassOf c2), (c2 subClassOf c3)       => (c1 subClassOf c3)
  rdfs7 : (x p y), (p rdfs:subPropertyOf q)            => (x q y)
  rdfs2 : (x p y), (p rdfs:domain c)                   => (x rdf:type c)
  rdfs3 : (x p y:iri), (p rdfs:range c)                => (y rdf:type c)

Scale posture: the SCHEMA side (subClassOf / subPropertyOf / domain / range
edges) is tiny — we close it driver-side and apply it to the huge instance
table with ONE broadcast join per rule, not an iterative join on the big
table. The only fixpoint loop runs over the collected schema (SURVEY.md §4:
fixpoint is the one primitive Catalyst lacks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..data_model import (
    KIND_IRI,
    KIND_LITERAL,
    RDF_TYPE,
    RDFS,
    RDFS_SUBCLASSOF,
    TRIPLES_SCHEMA,
    dedupe_triples,
)

RDFS_SUBPROPERTYOF = RDFS + "subPropertyOf"
RDFS_DOMAIN = RDFS + "domain"
RDFS_RANGE = RDFS + "range"
RDFS_DATATYPE = RDFS + "Datatype"
RDFS_LITERAL = RDFS + "Literal"

# The OWL 2 RL supported-datatype list (spec §4.1 / owlrl 7.1.4's
# datatype axioms) — the closed universe dt-type1 declares over
_XSD = "http://www.w3.org/2001/XMLSchema#"
OWL_RL_DATATYPES = [
    _XSD + t
    for t in (
        "string", "boolean", "decimal", "integer", "double", "float",
        "date", "time", "dateTime", "dateTimeStamp", "gYear", "gMonth",
        "gDay", "gYearMonth", "gMonthDay", "hexBinary", "base64Binary",
        "anyURI", "normalizedString", "token", "language", "Name",
        "NCName", "NMTOKEN", "byte", "short", "int", "long",
        "unsignedByte", "unsignedShort", "unsignedInt", "unsignedLong",
        "positiveInteger", "nonNegativeInteger", "negativeInteger",
        "nonPositiveInteger",
    )
] + [
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#PlainLiteral",
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#XMLLiteral",
    RDFS_LITERAL,
]
OWL = "http://www.w3.org/2002/07/owl#"
OWL_EQ_CLASS = OWL + "equivalentClass"
OWL_EQ_PROP = OWL + "equivalentProperty"
OWL_INVERSE_OF = OWL + "inverseOf"
OWL_SYMMETRIC = OWL + "SymmetricProperty"
OWL_TRANSITIVE = OWL + "TransitiveProperty"
OWL_SAMEAS = OWL + "sameAs"
OWL_PROP_CHAIN = OWL + "propertyChainAxiom"
OWL_FUNCTIONAL = OWL + "FunctionalProperty"
OWL_INV_FUNCTIONAL = OWL + "InverseFunctionalProperty"
OWL_ON_PROPERTY = OWL + "onProperty"
OWL_HAS_VALUE = OWL + "hasValue"
OWL_SOME_VALUES = OWL + "someValuesFrom"
OWL_ALL_VALUES = OWL + "allValuesFrom"
OWL_UNION_OF = OWL + "unionOf"
OWL_INTERSECTION_OF = OWL + "intersectionOf"
OWL_HAS_KEY = OWL + "hasKey"
RDF_FIRST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#first"
RDF_REST = "http://www.w3.org/1999/02/22-rdf-syntax-ns#rest"
RDF_NIL = "http://www.w3.org/1999/02/22-rdf-syntax-ns#nil"
_SCHEMA_PREDS = [RDFS_SUBCLASSOF, RDFS_SUBPROPERTYOF, RDFS_DOMAIN, RDFS_RANGE]
_OWL_SCHEMA_PREDS = [
    OWL_EQ_CLASS,
    OWL_EQ_PROP,
    OWL_INVERSE_OF,
    OWL_PROP_CHAIN,
    OWL_UNION_OF,
    OWL_INTERSECTION_OF,
    OWL_HAS_KEY,
]
_RESTRICTION_PREDS = [
    OWL_ON_PROPERTY,
    OWL_HAS_VALUE,
    OWL_SOME_VALUES,
    OWL_ALL_VALUES,
]


def _transitive_close(edges: set[tuple[str, str]]) -> set[tuple[str, str]]:
    """Driver-side transitive closure of a small edge set (rdfs5/rdfs11)."""
    closure = set(edges)
    changed = True
    while changed:
        changed = False
        by_src: dict[str, set[str]] = {}
        for a, b in closure:
            by_src.setdefault(a, set()).add(b)
        new = set()
        for a, b in closure:
            for c in by_src.get(b, ()):  # a->b->c
                if (a, c) not in closure:
                    new.add((a, c))
        if new:
            closure |= new
            changed = True
    return closure


def _mk_broadcast_map(
    spark, pairs: set[tuple[str, str]], a: str, b: str
) -> DataFrame:
    return F.broadcast(
        spark.createDataFrame(sorted(pairs), schema=f"{a} string, {b} string")
    )


def _transitive_instance_closure(edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """Transitive closure of an instance-level edge relation
    DataFrame[s, o] by PATH DOUBLING: each round joins the closure with
    itself, so round k covers chains of length 2^k — 20 rounds close any
    realistic hierarchy. Per-round localCheckpoint keeps the plan bounded;
    the join shuffles on the edge keys only (never the full triple table)."""
    acc = edges.localCheckpoint(eager=True)
    for _ in range(max_rounds):
        # explicit renames sidestep self-join attribute ambiguity on the
        # checkpointed relation
        hop = acc.select(F.col("s").alias("_hs"), F.col("o").alias("_ho"))
        stepped = (
            acc.join(hop, F.col("o") == F.col("_hs"))
            .select("s", F.col("_ho").alias("o"))
            .distinct()
        )
        prev = acc.select(F.col("s").alias("_ps"), F.col("o").alias("_po"))
        new = (
            stepped.join(
                prev,
                (F.col("s") == F.col("_ps")) & (F.col("o") == F.col("_po")),
                how="left_anti",
            )
        ).localCheckpoint(eager=True)
        if new.isEmpty():
            break
        acc = acc.unionByName(new).localCheckpoint(eager=True)
    else:  # pragma: no cover - 2^20-hop chains
        import logging

        logging.getLogger(__name__).warning(
            "TransitiveProperty closure still growing after %d doubling "
            "rounds — result may be incomplete",
            max_rounds,
        )
    return acc


def _walk_chain_lists(
    schema_src: DataFrame,
    heads: dict[str, str],
    min_len: int = 2,
    what: str = "owl:propertyChainAxiom",
) -> dict[str, list[str]]:
    """Parse `s <what> (m1 m2 ... mn)` RDF lists driver-side. heads maps
    the axiom subject -> list head node. Only the rdf:first/rdf:rest rows
    are collected, and only when at least one axiom exists — the lists are
    schema-sided and tiny, so this never touches the instance table's
    bulk. Malformed lists (missing first/rest, cycles) or lists shorter
    than min_len are skipped with a warning."""
    rows = (
        schema_src.filter(F.col("p").isin([RDF_FIRST, RDF_REST]))
        .select("s", "p", "o_value")
        .collect()
    )
    first = {r.s: r.o_value for r in rows if r.p == RDF_FIRST}
    rest = {r.s: r.o_value for r in rows if r.p == RDF_REST}
    chains: dict[str, list[str]] = {}
    for subj, head in heads.items():
        node, members, seen = head, [], set()
        ok = True
        while node != RDF_NIL:
            if node in seen or node not in first:
                ok = False
                break
            seen.add(node)
            members.append(first[node])
            node = rest.get(node, RDF_NIL)
        if ok and len(members) >= min_len:
            chains[subj] = members
        else:  # pragma: no cover - malformed schema
            import logging

            logging.getLogger(__name__).warning(
                "%s for %s skipped (malformed or too-short rdf list at %s)",
                what,
                subj,
                head,
            )
    return chains


def _apply_property_chains(
    base: DataFrame, chains: dict[str, list[str]]
) -> DataFrame:
    """prp-spo2: (x p1 y1), (y1 p2 y2), ..., (y_{n-1} pn z) => (x p z).

    Each chain is n-1 equi-joins over per-predicate slices of the triple
    table — Catalyst sees plain key joins (shuffle-or-broadcast by AQE),
    nothing iterative. Intermediate hops must be resources (IRI/bnode);
    the FINAL object keeps its own kind/datatype/lang, so chains ending
    in a literal-valued predicate entail literal objects, matching owlrl
    prp-spo2. Lineage (graph, part_id) follows the first hop."""
    out = base
    for super_p in sorted(chains):
        preds = chains[super_p]
        cur = (
            base.filter(
                (F.col("p") == preds[0]) & (F.col("o_kind") != "literal")
            )
            .select(
                "s", F.col("o_value").alias("_mid"), "graph", "part_id"
            )
        )
        for i, p_i in enumerate(preds[1:], start=2):
            last = i == len(preds)
            kind_ok = (
                F.lit(True) if last else (F.col("o_kind") != "literal")
            )
            step = base.filter((F.col("p") == p_i) & kind_ok).select(
                F.col("s").alias("_hs"),
                F.col("o_kind").alias("_hk"),
                F.col("o_value").alias("_hv"),
                F.col("o_datatype").alias("_hd"),
                F.col("o_lang").alias("_hl"),
            )
            joined = cur.join(step, F.col("_mid") == F.col("_hs"))
            if last:
                cur = joined.select(
                    "s",
                    F.lit(super_p).alias("p"),
                    F.col("_hk").alias("o_kind"),
                    F.col("_hv").alias("o_value"),
                    F.col("_hd").alias("o_datatype"),
                    F.col("_hl").alias("o_lang"),
                    "graph",
                    "part_id",
                )
            else:
                cur = joined.select(
                    "s", F.col("_hv").alias("_mid"), "graph", "part_id"
                )
        out = dedupe_triples(out.unionByName(cur.distinct()))
    return out


def _same_as_members(base: DataFrame) -> DataFrame | None:
    """DataFrame[node, component] over the owl:sameAs edge relation, or
    None when the graph has no sameAs edges. Uses the engine's connected-
    components plan (star-contraction at scale, union-find under 100k
    edges) — identity clusters are equivalence classes, exactly CC."""
    sa = (
        base.filter(
            (F.col("p") == OWL_SAMEAS) & (F.col("o_kind") != "literal")
        )
        .select(F.col("s").alias("src"), F.col("o_value").alias("dst"))
        .distinct()
    )
    if sa.isEmpty():
        return None
    from .connected_components import connected_components

    return connected_components(sa)


def _apply_same_as(base: DataFrame, members: DataFrame) -> DataFrame:
    """OWL-RL eq-sym/eq-trans/eq-rep-s/eq-rep-o materialization: every
    member of an identity cluster carries every triple of every other
    member, and all non-reflexive pairwise sameAs triples are entailed.

    Replication is QUADRATIC in cluster size by OWL-RL semantics — the
    per-cluster sizes are checked with one small agg over the membership
    table and a warning names the largest cluster when it exceeds 10k
    nodes (at that point `same_as_canonicalize` is the scale path). The
    membership/pair frames derive from the CC output (bounded by the
    sameAs edge count, tiny next to the triple table) and are broadcast
    only when the is_small gate allows."""
    import logging

    from ..data_model import is_small, maybe_broadcast

    biggest = (
        members.groupBy("component").count().agg(F.max("count")).collect()[0][0]
    )
    if biggest and biggest > 10_000:  # pragma: no cover - scale guard
        logging.getLogger(__name__).warning(
            "owl:sameAs materialization over a %d-node identity cluster is "
            "quadratic; prefer same_as_canonicalize() at this scale",
            biggest,
        )
    m1 = members.select(
        F.col("node").alias("_n1"), F.col("component").alias("_c")
    )
    m2 = members.select(
        F.col("node").alias("_n2"), F.col("component").alias("_c")
    )
    pairs = (
        m1.join(m2, on="_c")
        .filter(F.col("_n1") != F.col("_n2"))
        .select("_c", "_n1", "_n2")
    )
    small = is_small(pairs)
    pairs_b = maybe_broadcast(pairs, small)

    # eq-rep-s: replicate every triple of _n1 onto _n2
    subj_rep = base.join(pairs_b, base.s == pairs_b._n1).select(
        F.col("_n2").alias("s"),
        "p",
        "o_kind",
        "o_value",
        "o_datatype",
        "o_lang",
        "graph",
        "part_id",
    )
    # eq-rep-o: same for resource objects
    obj_rep = (
        base.filter(F.col("o_kind") != "literal")
        .join(pairs_b, base.o_value == pairs_b._n1)
        .select(
            "s",
            "p",
            "o_kind",
            F.col("_n2").alias("o_value"),
            "o_datatype",
            "o_lang",
            "graph",
            "part_id",
        )
    )
    # eq-sym + eq-trans: all non-reflexive pairwise sameAs triples, with
    # lineage from the cluster's own direct sameAs edges
    comp_meta = (
        base.filter(F.col("p") == OWL_SAMEAS)
        .join(
            maybe_broadcast(
                members.select(F.col("node").alias("s"), "component"),
                small,
            ),
            on="s",
        )
        .groupBy("component")
        .agg(F.min("graph").alias("graph"), F.min("part_id").alias("part_id"))
        .withColumnRenamed("component", "_c")
    )
    sa_triples = pairs.join(maybe_broadcast(comp_meta, small), on="_c").select(
        F.col("_n1").alias("s"),
        F.lit(OWL_SAMEAS).alias("p"),
        F.lit(KIND_IRI).alias("o_kind"),
        F.col("_n2").alias("o_value"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        "graph",
        "part_id",
    )
    # eq-ref (reflexive x sameAs x for every term) is deliberately NOT
    # entailed — owlrl's Table-4 eq-ref triples are pure noise for SHACL
    # outcomes — so replication-created reflexive sameAs rows are dropped
    # (user-asserted reflexive rows in `base` pass through untouched)
    not_reflexive_sameas = ~(
        (F.col("p") == OWL_SAMEAS) & (F.col("s") == F.col("o_value"))
    )
    return dedupe_triples(
        base.unionByName(subj_rep.filter(not_reflexive_sameas))
        .unionByName(obj_rep.filter(not_reflexive_sameas))
        .unionByName(sa_triples)
    )


def same_as_canonicalize(data: DataFrame) -> DataFrame:
    """The 100-TB alternative to OWL-RL sameAs materialization: rewrite
    every subject/resource-object to its identity cluster's canonical
    representative (min IRI, the CC component id) and drop the sameAs
    edges themselves. Output size is <= input size instead of quadratic
    in cluster sizes, and SHACL validation over the canonical graph is
    equivalent for value-local constraints. Two left joins against the
    (small, size-gated) membership table — the triple table shuffles on
    its own keys only when the membership side is too big to broadcast."""
    from ..data_model import is_small, maybe_broadcast

    members = _same_as_members(data)
    if members is None:
        return data
    small = is_small(members)
    ms = maybe_broadcast(
        members.select(F.col("node").alias("_sn"), F.col("component").alias("_sc")),
        small,
    )
    mo = maybe_broadcast(
        members.select(F.col("node").alias("_on"), F.col("component").alias("_oc")),
        small,
    )
    out = (
        data.filter(F.col("p") != OWL_SAMEAS)
        .join(ms, F.col("s") == F.col("_sn"), "left")
        .join(
            mo,
            (F.col("o_value") == F.col("_on"))
            & (F.col("o_kind") != "literal"),
            "left",
        )
        .select(
            F.coalesce(F.col("_sc"), F.col("s")).alias("s"),
            "p",
            "o_kind",
            F.coalesce(F.col("_oc"), F.col("o_value")).alias("o_value"),
            "o_datatype",
            "o_lang",
            "graph",
            "part_id",
        )
    )
    return dedupe_triples(out)


def apply_inference(
    data: DataFrame, ontology: DataFrame | None = None, profile: str = "rdfs"
) -> DataFrame:
    """Dispatch the reference's `inference` parameter
    (plugin_pyshacl.py:238-249). 'rdfs' runs the RDFS subset; 'owlrl' and
    'both' run RDFS plus the OWL equivalence/inverse/symmetric forward
    rules — a LOGGED approximation of owlrl 7.1.4's full OWL-RL closure
    (sameAs, property chains, hasValue restrictions etc. are not
    entailed)."""
    if profile in ("owlrl", "both"):
        import logging

        logging.getLogger(__name__).warning(
            "inference=%s: applying the RDFS + OWL equivalence/inverseOf/"
            "symmetric/transitive/functional/inverse-functional/sameAs/"
            "propertyChainAxiom/hasValue/someValuesFrom/allValuesFrom/"
            "unionOf/intersectionOf/hasKey subset in ONE ordered pass, "
            "NOT the full mutually-recursive OWL-RL fixpoint of owlrl "
            "7.1.4 (rule families do not re-feed each other across the "
            "pass)",
            profile,
        )
        return rdfs_inference(data, ontology, owl=True)
    return rdfs_inference(data, ontology)


def rdfs_inference(
    data: DataFrame, ontology: DataFrame | None = None, owl: bool = False
) -> DataFrame:
    """Forward-chain the RDFS subset onto the data triples; returns
    data ∪ entailed, deduplicated. The ontology graph (if given) mirrors
    the reference's ont_graph inoculation (plugin_pyshacl.py:227-237):
    its schema triples drive the rules and are unioned into the output.

    With owl=True, also applies (same broadcast-schema pattern — the
    schema side is tiny and closed driver-side, the instance table joins
    it once per rule):
      owl:equivalentClass  c1≡c2 => c1 subClassOf c2 AND c2 subClassOf c1
      owl:equivalentProperty p≡q => p subPropertyOf q AND q subPropertyOf p
      owl:inverseOf        (x p y), (p inverseOf q) => (y q x), both ways
      owl:SymmetricProperty (x p y) => (y p x)
      owl:TransitiveProperty (x p y), (y p z) => (x p z) — instance-level
        path-doubling fixpoint (prp-trp)
      owl:FunctionalProperty (x p y1), (x p y2) => y1 sameAs y2 (prp-fp,
        resource objects) and owl:InverseFunctionalProperty (x1 p y),
        (x2 p y) => x1 sameAs x2 (prp-ifp, full-term object key) — both
        feed the sameAs cluster step that follows
      owl:Restriction classes (onProperty + hasValue/someValuesFrom/
        allValuesFrom): cls-hv1 (x type R => x p v), cls-hv2 (x p v =>
        x type R, full-term match), cls-svf1 ((x p y),(y type D) =>
        x type R), cls-avf ((x type R),(x p y) => y type D) — the
        type-deriving directions run before rdfs9 so restriction types
        feed the subclass closure; the value-deriving ones run after it
      owl:unionOf / owl:intersectionOf: scm-uni/scm-int fold into the
        subclass closure (cls-uni falls out of rdfs9); cls-int1 (x typed
        with every member => x type intersection class) is a broadcast
        join + count-distinct conjunction check after rdfs9
      owl:hasKey (prp-key): instances of the keyed class sharing a value
        for every key property become sameAs — per-property term-keyed
        pair join + count-distinct intersection, feeding the sameAs step
    """
    spark = data.sparkSession
    schema_src = data if ontology is None else data.unionByName(ontology)
    schema_preds = _SCHEMA_PREDS + (_OWL_SCHEMA_PREDS if owl else [])
    schema_filter = F.col("p").isin(schema_preds)
    if owl:
        # symmetric/transitive-property declarations are the ONLY rdf:type
        # rows the schema needs — never collect the data graph's instance
        # types
        schema_filter = schema_filter | (
            (F.col("p") == RDF_TYPE)
            & (
                F.col("o_value").isin(
                    [
                        OWL_SYMMETRIC,
                        OWL_TRANSITIVE,
                        OWL_FUNCTIONAL,
                        OWL_INV_FUNCTIONAL,
                    ]
                )
            )
        )
    schema_rows = (
        schema_src.filter(schema_filter)
        .select("s", "p", "o_value")
        .distinct()
        .collect()
    )
    sub_class = {(r.s, r.o_value) for r in schema_rows if r.p == RDFS_SUBCLASSOF}
    sub_prop = {(r.s, r.o_value) for r in schema_rows if r.p == RDFS_SUBPROPERTYOF}
    domain = {(r.s, r.o_value) for r in schema_rows if r.p == RDFS_DOMAIN}
    range_ = {(r.s, r.o_value) for r in schema_rows if r.p == RDFS_RANGE}

    inverse_pairs: set[tuple[str, str]] = set()
    symmetric_props: set[str] = set()
    transitive_props: set[str] = set()
    functional_props: set[str] = set()
    inv_functional_props: set[str] = set()
    chain_heads: dict[str, str] = {}
    union_heads: dict[str, str] = {}
    inter_heads: dict[str, str] = {}
    haskey_heads: dict[str, str] = {}
    if owl:
        for r in schema_rows:
            if r.p == OWL_PROP_CHAIN:
                chain_heads[r.s] = r.o_value
            elif r.p == OWL_UNION_OF:
                union_heads[r.s] = r.o_value
            elif r.p == OWL_INTERSECTION_OF:
                inter_heads[r.s] = r.o_value
            elif r.p == OWL_HAS_KEY:
                haskey_heads[r.s] = r.o_value
            elif r.p == OWL_EQ_CLASS:
                sub_class.add((r.s, r.o_value))
                sub_class.add((r.o_value, r.s))
            elif r.p == OWL_EQ_PROP:
                sub_prop.add((r.s, r.o_value))
                sub_prop.add((r.o_value, r.s))
            elif r.p == OWL_INVERSE_OF:
                inverse_pairs.add((r.s, r.o_value))
                inverse_pairs.add((r.o_value, r.s))
            elif r.p == RDF_TYPE and r.o_value == OWL_SYMMETRIC:
                symmetric_props.add(r.s)
            elif r.p == RDF_TYPE and r.o_value == OWL_TRANSITIVE:
                transitive_props.add(r.s)
            elif r.p == RDF_TYPE and r.o_value == OWL_FUNCTIONAL:
                functional_props.add(r.s)
            elif r.p == RDF_TYPE and r.o_value == OWL_INV_FUNCTIONAL:
                inv_functional_props.add(r.s)

    # OWL restriction-class schema (cls-hv1/hv2, cls-svf1, cls-avf): the
    # owl:onProperty / hasValue / someValuesFrom / allValuesFrom rows are
    # schema-sided and tiny, but hasValue needs the FULL object term
    # ("5"^^xsd:integer must never conflate with "5"^^xsd:string), so they
    # get their own collect with kind/datatype/lang preserved.
    on_prop: dict[str, str] = {}
    has_value: dict[str, tuple[str, str, str | None, str | None]] = {}
    some_values: dict[str, str] = {}
    all_values: dict[str, str] = {}
    if owl:
        restr_rows = (
            schema_src.filter(F.col("p").isin(_RESTRICTION_PREDS))
            .select("s", "p", "o_kind", "o_value", "o_datatype", "o_lang")
            .distinct()
            .collect()
        )
        for r in restr_rows:
            if r.p == OWL_ON_PROPERTY:
                on_prop[r.s] = r.o_value
            elif r.p == OWL_HAS_VALUE:
                has_value[r.s] = (r.o_kind, r.o_value, r.o_datatype, r.o_lang)
            elif r.p == OWL_SOME_VALUES:
                some_values[r.s] = r.o_value
            elif r.p == OWL_ALL_VALUES:
                all_values[r.s] = r.o_value
    hv_restr = [
        (c, on_prop[c], *has_value[c]) for c in sorted(has_value) if c in on_prop
    ]
    svf_restr = [
        (c, on_prop[c], some_values[c])
        for c in sorted(some_values)
        if c in on_prop
    ]
    avf_restr = [
        (c, on_prop[c], all_values[c])
        for c in sorted(all_values)
        if c in on_prop
    ]

    # owl:unionOf / owl:intersectionOf — schema-side subclass entailments
    # (scm-uni: each member ci subClassOf the union class; scm-int: the
    # intersection class subClassOf each member), folded into the subclass
    # closure BEFORE it is transitively closed so rdfs9 carries them to
    # instances (cls-uni falls out of scm-uni + rdfs9 for free). The
    # instance-level conjunction direction (cls-int1) runs after rdfs9.
    inter_lists: dict[str, list[str]] = {}
    if union_heads:
        for c, members in _walk_chain_lists(
            schema_src, union_heads, min_len=1, what="owl:unionOf"
        ).items():
            for ci in members:
                sub_class.add((ci, c))
    if inter_heads:
        inter_lists = _walk_chain_lists(
            schema_src, inter_heads, min_len=1, what="owl:intersectionOf"
        )
        for c, members in inter_lists.items():
            for ci in members:
                sub_class.add((c, ci))
    haskey_lists: dict[str, list[str]] = {}
    if haskey_heads:
        haskey_lists = _walk_chain_lists(
            schema_src, haskey_heads, min_len=1, what="owl:hasKey"
        )

    sub_class = _transitive_close(sub_class)
    sub_prop = _transitive_close(sub_prop)

    out = data if ontology is None else dedupe_triples(data.unionByName(ontology))
    extras: list[DataFrame] = []

    # owl:inverseOf / owl:SymmetricProperty flip (x p y:iri) => (y q x)
    # BEFORE property entailment so inverse edges feed rdfs7/domain/range
    flips = {(p, q) for p, q in inverse_pairs} | {(p, p) for p in symmetric_props}
    if flips:
        m = _mk_broadcast_map(spark, flips, "p", "inv_p")
        flipped = (
            out.filter(F.col("o_kind") == KIND_IRI)
            .join(m, on="p")
            .select(
                F.col("o_value").alias("s"),
                F.col("inv_p").alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.col("s").alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                "graph",
                "part_id",
            )
        )
        out = dedupe_triples(out.unionByName(flipped))

    def _mk_map(pairs: set[tuple[str, str]], a: str, b: str) -> DataFrame:
        return F.broadcast(
            spark.createDataFrame(sorted(pairs), schema=f"{a} string, {b} string")
        )

    # rdfs7 first (property entailment feeds type rules)
    if sub_prop:
        m = _mk_map(sub_prop, "p", "super_p")
        extras.append(
            out.join(m, on="p")
            .select(
                "s",
                F.col("super_p").alias("p"),
                "o_kind",
                "o_value",
                "o_datatype",
                "o_lang",
                "graph",
                "part_id",
            )
        )
    base = out if not extras else dedupe_triples(out.unionByName(extras[0]))
    extras = []

    # owl:propertyChainAxiom (prp-spo2) — after rdfs7 so super-property
    # edges feed the chains, before TransitiveProperty so chain-entailed
    # edges of a transitive property close properly
    if chain_heads:
        chains = _walk_chain_lists(schema_src, chain_heads)
        if chains:
            base = _apply_property_chains(base, chains)

    # owl:TransitiveProperty — the one INSTANCE-level fixpoint (reference
    # parity driver: owlrl 7.1.4 prp-trp, plugin_pyshacl.py:238-249). Runs
    # AFTER rdfs7 (so super-property edges feed it) and BEFORE domain/
    # range/rdfs9 (so entailed edges feed the type rules). Path-doubling
    # join with per-round localCheckpoint (same lineage posture as
    # plans/connected_components.py): 20 rounds covers chains to 2^20.
    for p_t in sorted(transitive_props):
        edges = (
            base.filter((F.col("p") == p_t) & (F.col("o_kind") == KIND_IRI))
            .select("s", F.col("o_value").alias("o"))
            .distinct()
        )
        closed = _transitive_instance_closure(edges)
        # lineage: entailed (s, o) pairs report into the min partition /
        # graph of s's direct edges (deterministic; s always has >=1 edge)
        src_meta = (
            base.filter(F.col("p") == p_t)
            .groupBy("s")
            .agg(F.min("graph").alias("graph"), F.min("part_id").alias("part_id"))
        )
        entailed_t = closed.join(src_meta, on="s").select(
            "s",
            F.lit(p_t).alias("p"),
            F.lit(KIND_IRI).alias("o_kind"),
            F.col("o").alias("o_value"),
            F.lit(None).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
            "graph",
            "part_id",
        )
        base = dedupe_triples(base.unionByName(entailed_t))

    # owl:FunctionalProperty (prp-fp) / owl:InverseFunctionalProperty
    # (prp-ifp) — entail owl:sameAs edges, placed immediately BEFORE the
    # sameAs step so the derived identities feed the cluster closure.
    # Scale shape: one partial+final agg on the group key + one join back
    # (each non-canonical member links to the group MIN — linear in group
    # size; the CC closure downstream restores the full pairwise
    # equivalence, so the quadratic owlrl pair set is never materialized).
    # prp-fp is applied to RESOURCE objects only (the engine's sameAs
    # machinery is resource-sided; literal-valued functional clashes are a
    # consistency violation owlrl reports separately, out of scope here).
    # prp-ifp keys on the FULL object term (kind/value/datatype/lang) so
    # "5"^^xsd:integer and "5"^^xsd:string never conflate.
    fp_edges: list[DataFrame] = []
    if functional_props:
        slice_fp = base.filter(
            F.col("p").isin(sorted(functional_props))
            & (F.col("o_kind") != KIND_LITERAL)
        )
        canon = slice_fp.groupBy("p", "s").agg(
            F.min("o_value").alias("_canon")
        )
        fp_edges.append(
            slice_fp.join(canon, on=["p", "s"])
            .filter(F.col("o_value") != F.col("_canon"))
            .select(
                F.col("o_value").alias("s"),
                F.lit(OWL_SAMEAS).alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.col("_canon").alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                "graph",
                "part_id",
            )
        )
    if inv_functional_props:
        # composite term key (null-safe: NULL datatype/lang coalesce into
        # the concat) — a plain multi-column equi-join would silently drop
        # rows whose o_lang/o_datatype is NULL
        tk = F.concat_ws(
            "\x1f",
            F.col("p"),
            F.col("o_kind"),
            F.col("o_value"),
            F.coalesce(F.col("o_datatype"), F.lit("")),
            F.coalesce(F.col("o_lang"), F.lit("")),
        )
        slice_ifp = base.filter(
            F.col("p").isin(sorted(inv_functional_props))
        ).withColumn("_tk", tk)
        canon = slice_ifp.groupBy("_tk").agg(F.min("s").alias("_canon"))
        fp_edges.append(
            slice_ifp.join(canon, on="_tk")
            .filter(F.col("s") != F.col("_canon"))
            .select(
                "s",
                F.lit(OWL_SAMEAS).alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.col("_canon").alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                "graph",
                "part_id",
            )
        )
    if haskey_lists:
        # prp-key: x,y both typed c and sharing >=1 value for EVERY key
        # property => x sameAs y. Per-property candidate pairs come from a
        # self-join on the full object-term key (so "5"^^xsd:integer never
        # matches "5"^^xsd:string), then the intersection across the c's
        # key properties is a countDistinct(kp) == n check. Pair volume is
        # bounded by per-(property, value) group sizes — hub values are
        # the skew risk, same posture as the LSH bucket join; the sameAs
        # cluster step downstream restores full pairwise equivalence.
        rows = [
            (c, p, len(props))
            for c, props in sorted(haskey_lists.items())
            for p in props
        ]
        m = F.broadcast(
            spark.createDataFrame(rows, schema="kcls string, kp string, n int")
        )
        tk = F.concat_ws(
            "\x1f",
            F.col("o_kind"),
            F.col("o_value"),
            F.coalesce(F.col("o_datatype"), F.lit("")),
            F.coalesce(F.col("o_lang"), F.lit("")),
        )
        typed = (
            base.filter(F.col("p") == RDF_TYPE)
            .select(F.col("s").alias("_kx"), F.col("o_value").alias("_tc"))
            .distinct()
        )
        kvals = (
            base.join(m, F.col("p") == F.col("kp"))
            .join(
                typed,
                (F.col("s") == F.col("_kx")) & (F.col("kcls") == F.col("_tc")),
            )
            .select("kcls", "kp", "n", "s", tk.alias("_tk"), "graph", "part_id")
        )
        other = kvals.select(
            F.col("kcls").alias("_kc2"),
            F.col("kp").alias("_kp2"),
            F.col("_tk").alias("_tk2"),
            F.col("s").alias("_pb"),
        )
        pairs = (
            kvals.join(
                other,
                (F.col("kcls") == F.col("_kc2"))
                & (F.col("kp") == F.col("_kp2"))
                & (F.col("_tk") == F.col("_tk2"))
                & (F.col("s") < F.col("_pb")),
            )
            .select(
                "kcls",
                "kp",
                "n",
                F.col("s").alias("_pa"),
                "_pb",
                "graph",
                "part_id",
            )
        )
        matched = (
            pairs.groupBy("kcls", "n", "_pa", "_pb")
            .agg(
                F.countDistinct("kp").alias("_k"),
                F.min("graph").alias("graph"),
                F.min("part_id").alias("part_id"),
            )
            .filter(F.col("_k") == F.col("n"))
        )
        fp_edges.append(
            matched.select(
                F.col("_pb").alias("s"),
                F.lit(OWL_SAMEAS).alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.col("_pa").alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                "graph",
                "part_id",
            )
        )

    for e in fp_edges:
        base = dedupe_triples(base.unionByName(e.distinct()))

    # owl:sameAs (eq-sym/eq-trans/eq-rep-s/eq-rep-o) — after the edge
    # rules so entailed edges replicate too, before domain/range/rdfs9 so
    # replicated triples feed the type rules
    if owl:
        members = _same_as_members(base)
        if members is not None:
            base = _apply_same_as(base, members)

    # Restriction rules that DERIVE types run before domain/range/rdfs9 so
    # the entailed `x rdf:type Restriction` rows feed the subclass closure
    # (R subClassOf C => x type C); the value-deriving directions (cls-hv1,
    # cls-avf) run after rdfs9 so subclass-entailed restriction types feed
    # them. One ordered pass, not the owlrl mutual fixpoint — documented in
    # apply_inference's warning.
    def _hv_map() -> DataFrame:
        return F.broadcast(
            spark.createDataFrame(
                hv_restr,
                schema=(
                    "cls string, rp string, v_kind string, v_value string,"
                    " v_datatype string, v_lang string"
                ),
            )
        )

    type_cols = [
        F.lit(RDF_TYPE).alias("p"),
        F.lit(KIND_IRI).alias("o_kind"),
        F.col("cls").alias("o_value"),
        F.lit(None).cast("string").alias("o_datatype"),
        F.lit(None).cast("string").alias("o_lang"),
        "graph",
        "part_id",
    ]
    if hv_restr:
        # cls-hv2: (x p v) => (x rdf:type R) — full-term match on v
        m = _hv_map()
        matched = base.join(
            m,
            (base.p == m.rp)
            & (base.o_kind == m.v_kind)
            & (base.o_value == m.v_value)
            & base.o_datatype.eqNullSafe(m.v_datatype)
            & base.o_lang.eqNullSafe(m.v_lang),
        ).select("s", *type_cols)
        base = dedupe_triples(base.unionByName(matched.distinct()))
    if svf_restr:
        # cls-svf1: (x p y), (y rdf:type D) => (x rdf:type R)
        m = F.broadcast(
            spark.createDataFrame(
                svf_restr, schema="cls string, rp string, d string"
            )
        )
        vals = (
            base.filter(F.col("o_kind") != KIND_LITERAL)
            .join(m, F.col("p") == m.rp)
            .select("s", F.col("o_value").alias("_y"), "cls", "d", "graph", "part_id")
        )
        typed = base.filter(F.col("p") == RDF_TYPE).select(
            F.col("s").alias("_ty"), F.col("o_value").alias("_td")
        )
        ent = vals.join(
            typed, (F.col("_y") == F.col("_ty")) & (F.col("d") == F.col("_td"))
        ).select("s", *type_cols)
        base = dedupe_triples(base.unionByName(ent.distinct()))

    if domain:
        m = _mk_map(domain, "p", "cls")
        extras.append(
            base.join(m, on="p").select(
                "s",
                F.lit(RDF_TYPE).alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.col("cls").alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                "graph",
                "part_id",
            )
        )
    if range_:
        m = _mk_map(range_, "p", "cls")
        extras.append(
            base.filter(F.col("o_kind") == KIND_IRI)
            .join(m, on="p")
            .select(
                F.col("o_value").alias("s"),
                F.lit(RDF_TYPE).alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.col("cls").alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                "graph",
                "part_id",
            )
        )
    for e in extras:
        base = base.unionByName(e)
    base = dedupe_triples(base)

    # rdfs9: broadcast the (closed) subclass map against the type triples
    if sub_class:
        m = _mk_map(sub_class, "cls", "super_cls")
        types = base.filter(F.col("p") == RDF_TYPE)
        entailed = types.join(m, types.o_value == m.cls).select(
            "s",
            F.lit(RDF_TYPE).alias("p"),
            F.lit(KIND_IRI).alias("o_kind"),
            F.col("super_cls").alias("o_value"),
            F.lit(None).cast("string").alias("o_datatype"),
            F.lit(None).cast("string").alias("o_lang"),
            "graph",
            "part_id",
        )
        base = dedupe_triples(base.unionByName(entailed))

    if inter_lists:
        # cls-int1: x typed with EVERY member of an intersection class =>
        # x rdf:type c. One shuffle on the subject key (partial+final
        # count-distinct); the member map broadcasts. Entailed types take
        # one extra subclass hop so intersection superclasses still apply
        # within this ordered pass.
        rows = [
            (ci, c, len(members))
            for c, members in sorted(inter_lists.items())
            for ci in members
        ]
        m = F.broadcast(
            spark.createDataFrame(rows, schema="mem string, icls string, n int")
        )
        types = base.filter(F.col("p") == RDF_TYPE)
        ent = (
            types.join(m, types.o_value == m.mem)
            .groupBy("s", "icls", "n")
            .agg(
                F.countDistinct("mem").alias("_k"),
                F.min("graph").alias("graph"),
                F.min("part_id").alias("part_id"),
            )
            .filter(F.col("_k") == F.col("n"))
            .select(
                "s",
                F.lit(RDF_TYPE).alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.col("icls").alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                "graph",
                "part_id",
            )
        )
        if sub_class:
            m2 = _mk_map(sub_class, "cls", "super_cls")
            hop = ent.join(m2, ent.o_value == m2.cls).select(
                "s",
                F.lit(RDF_TYPE).alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.col("super_cls").alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                "graph",
                "part_id",
            )
            ent = ent.unionByName(hop)
        base = dedupe_triples(base.unionByName(ent))

    if hv_restr:
        # cls-hv1: (x rdf:type R) => (x p v)
        m = _hv_map()
        types = base.filter(F.col("p") == RDF_TYPE)
        ent = types.join(m, types.o_value == m.cls).select(
            "s",
            F.col("rp").alias("p"),
            F.col("v_kind").alias("o_kind"),
            F.col("v_value").alias("o_value"),
            F.col("v_datatype").alias("o_datatype"),
            F.col("v_lang").alias("o_lang"),
            "graph",
            "part_id",
        )
        base = dedupe_triples(base.unionByName(ent.distinct()))
    if avf_restr:
        # cls-avf: (x rdf:type R), (x p y) => (y rdf:type D) — resource
        # objects only (a type triple on a literal is meaningless; owlrl's
        # literal case is a consistency report, out of scope). The schema
        # map broadcasts; the instance-side type/edge join shuffles on its
        # own keys and AQE picks the strategy.
        m = F.broadcast(
            spark.createDataFrame(
                avf_restr, schema="rcls string, rp string, d string"
            )
        )
        typed_r = (
            base.filter(F.col("p") == RDF_TYPE)
            .join(m, F.col("o_value") == m.rcls)
            .select(F.col("s").alias("_x"), F.col("rp").alias("_rp"), "d")
        )
        ent = (
            base.filter(F.col("o_kind") != KIND_LITERAL)
            .join(
                typed_r,
                (F.col("s") == F.col("_x")) & (F.col("p") == F.col("_rp")),
            )
            .select(
                F.col("o_value").alias("s"),
                F.lit(RDF_TYPE).alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.col("d").alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                "graph",
                "part_id",
            )
        )
        base = dedupe_triples(base.unionByName(ent.distinct()))

    if owl:
        # dt-type1 (owlrl 7.1.4 datatype axioms, round-4 VERDICT #7):
        # every OWL-RL-supported datatype that actually APPEARS in the
        # graph is declared `d rdf:type rdfs:Datatype` — a distinct-agg
        # over one column against the closed supported list. dt-type2's
        # literal-node typing and dt-eq/dt-diff literal identity are not
        # expressible as RDF triples (literal subjects) and stay out of
        # scope — documented in COVERAGE.md.
        used = (
            base.filter(
                F.col("o_datatype").isNotNull()
                & F.col("o_datatype").isin(OWL_RL_DATATYPES)
            )
            .select(F.col("o_datatype").alias("s"))
            .distinct()
            .select(
                "s",
                F.lit(RDF_TYPE).alias("p"),
                F.lit(KIND_IRI).alias("o_kind"),
                F.lit(RDFS_DATATYPE).alias("o_value"),
                F.lit(None).cast("string").alias("o_datatype"),
                F.lit(None).cast("string").alias("o_lang"),
                F.lit(None).cast("string").alias("graph"),
                F.lit(0).cast("int").alias("part_id"),
            )
        )
        base = dedupe_triples(base.unionByName(used))
    return base


OWL_IRREFLEXIVE = OWL + "IrreflexiveProperty"
OWL_ASYMMETRIC = OWL + "AsymmetricProperty"
OWL_DISJOINT_WITH = OWL + "disjointWith"
OWL_PROP_DISJOINT = OWL + "propertyDisjointWith"
OWL_DIFFERENT_FROM = OWL + "differentFrom"
OWL_NOTHING = OWL + "Nothing"
OWL_THING = OWL + "Thing"
OWL_MAX_CARD = OWL + "maxCardinality"
OWL_MAX_QCARD = OWL + "maxQualifiedCardinality"
OWL_ON_CLASS = OWL + "onClass"
OWL_SRC_INDIVIDUAL = OWL + "sourceIndividual"
OWL_ASSERTION_PROP = OWL + "assertionProperty"
OWL_TGT_INDIVIDUAL = OWL + "targetIndividual"
OWL_TGT_VALUE = OWL + "targetValue"


def consistency_report(
    data: DataFrame, ontology: DataFrame | None = None
) -> DataFrame:
    """OWL-RL consistency detection — the profile's `false`-conclusion
    rules, which owlrl 7.1.4 (the reference's inference engine,
    plugin_pyshacl.py:238-249) raises as inconsistency errors. Returns
    DataFrame[node, rule, detail, part_id] with one row per detected
    clash instead of raising, so a 100 TB run can SURFACE every
    inconsistency in one pass rather than dying on the first:

      prp-irp   p a owl:IrreflexiveProperty, (x p x)        -> clash on x
      prp-asyp  p a owl:AsymmetricProperty, (x p y),(y p x) -> clash on x
      prp-pdw   p1 owl:propertyDisjointWith p2, (x p1 y),(x p2 y)
      cax-dw    c1 owl:disjointWith c2, (x type c1),(x type c2)
      eq-diff1  (x sameAs y) and (x differentFrom y) — either orientation
                (both predicates are symmetric)
      cls-nothing2  x type owl:Nothing
      prp-npa1  owl:NegativePropertyAssertion (sourceIndividual i,
                assertionProperty p, targetIndividual j) with (i p j)
      prp-npa2  same with owl:targetValue — FULL-term literal match
      cls-maxc1   R owl:maxCardinality 0 / owl:onProperty p,
                  (x type R), (x p y)                      -> clash on x
      cls-maxqc2  R owl:maxQualifiedCardinality 0 + owl:onClass c
                  (c = owl:Thing folds into the unqualified case; else
                  requires (y type c))                     -> clash on x

    Scale posture: property/class declarations are tiny and collected
    driver-side; every rule is then either a pushed-down `p isin` filter
    (prp-irp, cls-nothing2) or one self-equi-join of a predicate slice
    keyed on (s, o) (prp-asyp/pdw, cax-dw, eq-diff1) — no fixpoints, no
    UDFs, no driver loops over instance data."""
    schema_src = data if ontology is None else data.unionByName(ontology)
    decl = (
        schema_src.filter(
            (
                (F.col("p") == RDF_TYPE)
                & F.col("o_value").isin([OWL_IRREFLEXIVE, OWL_ASYMMETRIC])
            )
            | F.col("p").isin([OWL_DISJOINT_WITH, OWL_PROP_DISJOINT])
        )
        .select("s", "p", "o_value")
        .distinct()
        .collect()
    )
    irrefl = sorted(
        r.s for r in decl if r.p == RDF_TYPE and r.o_value == OWL_IRREFLEXIVE
    )
    asym = sorted(
        r.s for r in decl if r.p == RDF_TYPE and r.o_value == OWL_ASYMMETRIC
    )
    dis_cls = sorted(
        (r.s, r.o_value) for r in decl if r.p == OWL_DISJOINT_WITH
    )
    dis_prp = sorted(
        (r.s, r.o_value) for r in decl if r.p == OWL_PROP_DISJOINT
    )
    spark = data.sparkSession

    def row(src: DataFrame, node, rule: str, detail) -> DataFrame:
        return src.select(
            node.alias("node"),
            F.lit(rule).alias("rule"),
            detail.alias("detail"),
            F.col("part_id").alias("part_id"),
        )

    outs: list[DataFrame] = []
    resources = F.col("o_kind") != KIND_LITERAL

    if irrefl:
        self_loops = data.filter(
            F.col("p").isin(irrefl) & resources & (F.col("s") == F.col("o_value"))
        )
        outs.append(row(self_loops, F.col("s"), "prp-irp", F.col("p")))

    if asym:
        edges = data.filter(F.col("p").isin(asym) & resources).select(
            "s", "p", F.col("o_value").alias("o"), "part_id"
        )
        rev = edges.select(
            F.col("o").alias("s"), "p", F.col("s").alias("o")
        )
        both = edges.join(rev, on=["s", "p", "o"], how="left_semi")
        outs.append(row(both, F.col("s"), "prp-asyp", F.col("p")))

    if dis_prp:
        pairs = spark.createDataFrame(dis_prp, "p1 string, p2 string")
        slices = data.filter(
            F.col("p").isin(sorted({p for pr in dis_prp for p in pr}))
        ).select(
            "s",
            "p",
            "o_kind",
            "o_value",
            "o_datatype",
            "o_lang",
            "part_id",
        )
        e1 = slices.join(F.broadcast(pairs), slices["p"] == pairs["p1"])
        e2 = slices.select(
            F.col("s").alias("s2"),
            F.col("p").alias("q2"),
            F.col("o_kind").alias("k2"),
            F.col("o_value").alias("v2"),
            F.col("o_datatype").alias("d2"),
            F.col("o_lang").alias("l2"),
        )
        clash = e1.join(
            e2,
            (F.col("s") == F.col("s2"))
            & (F.col("p2") == F.col("q2"))
            & (F.col("o_kind") == F.col("k2"))
            & (F.col("o_value") == F.col("v2"))
            & F.col("o_datatype").eqNullSafe(F.col("d2"))
            & F.col("o_lang").eqNullSafe(F.col("l2")),
        )
        outs.append(
            row(
                clash,
                F.col("s"),
                "prp-pdw",
                F.concat_ws("|", F.col("p1"), F.col("p2")),
            )
        )

    types = data.filter(F.col("p") == RDF_TYPE).select(
        "s", F.col("o_value").alias("cls"), "part_id"
    )
    if dis_cls:
        cpairs = spark.createDataFrame(dis_cls, "c1 string, c2 string")
        t1 = types.join(F.broadcast(cpairs), types["cls"] == cpairs["c1"])
        t2 = types.select(F.col("s").alias("s2"), F.col("cls").alias("cls2"))
        clash = t1.join(
            t2,
            (F.col("s") == F.col("s2")) & (F.col("c2") == F.col("cls2")),
        )
        outs.append(
            row(
                clash,
                F.col("s"),
                "cax-dw",
                F.concat_ws("|", F.col("c1"), F.col("c2")),
            )
        )

    outs.append(
        row(
            types.filter(F.col("cls") == OWL_NOTHING),
            F.col("s"),
            "cls-nothing2",
            F.lit(OWL_NOTHING),
        )
    )

    # --- maxCardinality-0 restrictions: schema rows are tiny (restriction
    # bnodes in the ontology) and collected driver-side. NPA reifications
    # are deliberately NOT collected — they are instance-scale assertions
    # (a graph can carry millions), handled below as pure joins.
    extra = (
        schema_src.filter(
            F.col("p").isin(
                [
                    OWL_MAX_CARD,
                    OWL_MAX_QCARD,
                    OWL_ON_PROPERTY,
                    OWL_ON_CLASS,
                ]
            )
        )
        .select("s", "p", "o_kind", "o_value", "o_datatype", "o_lang")
        .distinct()
        .collect()
    )
    on_prop: dict[str, str] = {}
    on_cls: dict[str, str] = {}
    max0: set[str] = set()
    maxq0: set[str] = set()
    for r in extra:
        if r.p == OWL_ON_PROPERTY:
            on_prop[r.s] = r.o_value
        elif r.p == OWL_ON_CLASS:
            on_cls[r.s] = r.o_value
        elif r.p == OWL_MAX_CARD and r.o_value.strip() == "0":
            max0.add(r.s)
        elif r.p == OWL_MAX_QCARD and r.o_value.strip() == "0":
            maxq0.add(r.s)

    # cls-maxc1 (+ cls-maxqc2's owl:Thing-qualified case, which is the
    # same rule): any (x p y) while x is typed with the 0-restriction
    unqual = sorted(
        (c, on_prop[c])
        for c in (max0 | {c for c in maxq0 if on_cls.get(c) == OWL_THING})
        if c in on_prop
    )
    if unqual:
        up = spark.createDataFrame(unqual, "r string, restr_p string")
        inst = types.join(F.broadcast(up), types["cls"] == up["r"])
        hit = inst.join(
            data.select(F.col("s").alias("s2"), F.col("p").alias("p2")),
            (inst["s"] == F.col("s2")) & (F.col("p2") == F.col("restr_p")),
            "left_semi",
        )
        outs.append(row(hit, F.col("s"), "cls-maxc1", F.col("restr_p")))

    # cls-maxqc2 with a real qualifying class: (x p y) & (y type c)
    qual = sorted(
        (c, on_prop[c], on_cls[c])
        for c in maxq0
        if c in on_prop and on_cls.get(c) not in (None, OWL_THING)
    )
    if qual:
        qp = spark.createDataFrame(qual, "r string, restr_p string, restr_c string")
        inst = types.join(F.broadcast(qp), types["cls"] == qp["r"])
        edges = data.filter(resources).select(
            F.col("s").alias("s2"), F.col("p").alias("p2"),
            F.col("o_value").alias("o2"),
        )
        et = edges.join(
            types.select(F.col("s").alias("o2"), F.col("cls").alias("ocls")),
            "o2",
        )
        hit = inst.join(
            et,
            (inst["s"] == F.col("s2"))
            & (F.col("p2") == F.col("restr_p"))
            & (F.col("ocls") == F.col("restr_c")),
            "left_semi",
        )
        outs.append(row(hit, F.col("s"), "cls-maxqc2", F.col("restr_p")))

    # prp-npa1 / prp-npa2 — NPA reifications are ASSERTIONS, not schema:
    # a graph may carry millions, so they never touch the driver. Pivot
    # the reification rows into one (source, property, target…) row per
    # NPA node with a conditional aggregate, then equi-join against the
    # data slice; broadcast is left to Catalyst/AQE's size estimate (the
    # pivoted frame is small for ontology-held NPAs, data-scale for bulk
    # reifications — exactly the case a forced broadcast hint would OOM).
    npa_rows = schema_src.filter(
        F.col("p").isin(
            [
                OWL_SRC_INDIVIDUAL,
                OWL_ASSERTION_PROP,
                OWL_TGT_INDIVIDUAL,
                OWL_TGT_VALUE,
            ]
        )
    ).select("s", "p", "o_value", "o_datatype", "o_lang")

    def _first(pred: str, col: str) -> F.Column:
        # deterministic pick for malformed multi-valued reifications
        return F.min(F.when(F.col("p") == pred, F.col(col)))

    npa = npa_rows.groupBy("s").agg(
        _first(OWL_SRC_INDIVIDUAL, "o_value").alias("ni"),
        _first(OWL_ASSERTION_PROP, "o_value").alias("np"),
        _first(OWL_TGT_INDIVIDUAL, "o_value").alias("nj"),
        _first(OWL_TGT_VALUE, "o_value").alias("nv"),
        _first(OWL_TGT_VALUE, "o_datatype").alias("nd"),
        _first(OWL_TGT_VALUE, "o_lang").alias("nl"),
    )
    ni = npa.filter(
        F.col("ni").isNotNull()
        & F.col("np").isNotNull()
        & F.col("nj").isNotNull()
    ).select("ni", "np", "nj").distinct()
    hit = data.filter(resources).join(
        ni,
        (F.col("s") == F.col("ni"))
        & (F.col("p") == F.col("np"))
        & (F.col("o_value") == F.col("nj")),
        "left_semi",
    )
    outs.append(row(hit, F.col("s"), "prp-npa1", F.col("p")))
    nv = npa.filter(
        F.col("ni").isNotNull()
        & F.col("np").isNotNull()
        & F.col("nv").isNotNull()
    ).select("ni", "np", "nv", "nd", "nl").distinct()
    hit = data.filter(F.col("o_kind") == KIND_LITERAL).join(
        nv,
        (F.col("s") == F.col("ni"))
        & (F.col("p") == F.col("np"))
        & (F.col("o_value") == F.col("nv"))
        & F.col("o_datatype").eqNullSafe(F.col("nd"))
        & F.col("o_lang").eqNullSafe(F.col("nl")),
        "left_semi",
    )
    outs.append(row(hit, F.col("s"), "prp-npa2", F.col("p")))

    # eq-diff1: both predicates are symmetric, so normalize each edge to
    # its sorted endpoint pair before the join — one equi-join catches
    # every orientation combination
    def norm(pred: str, tag: str) -> DataFrame:
        e = data.filter((F.col("p") == pred) & resources)
        return e.select(
            F.least(F.col("s"), F.col("o_value")).alias("a"),
            F.greatest(F.col("s"), F.col("o_value")).alias("b"),
            "part_id",
        ).withColumnRenamed("part_id", f"part_id_{tag}")

    same = norm(OWL_SAMEAS, "s")
    diff = norm(OWL_DIFFERENT_FROM, "d").drop("part_id_d")
    clash = same.join(diff, on=["a", "b"], how="left_semi")
    outs.append(
        clash.select(
            F.col("a").alias("node"),
            F.lit("eq-diff1").alias("rule"),
            F.col("b").alias("detail"),
            F.col("part_id_s").alias("part_id"),
        )
    )

    out = outs[0]
    for df in outs[1:]:
        out = out.unionByName(df)
    return out.distinct()

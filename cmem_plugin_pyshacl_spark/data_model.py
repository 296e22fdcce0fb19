"""Canonical data model: the triples table and RDF term encoding.

The reference holds data as an in-memory ``rdflib.Graph`` — an unordered set
of (subject, predicate, object) triples with tagged term kinds (URIRef /
BNode / Literal; /root/reference/cmem_plugin_pyshacl/plugin_pyshacl.py:31-44,
:541-543). We encode the same model columnar-first so Catalyst can prune,
push down, and codegen over it:

    triples(s, p, o_kind, o_value, o_datatype, o_lang, graph, part_id)

Blank nodes are always skolemized before any shuffle (their ids are not
stable across partitions); the reference does the same at sink time
(plugin_pyshacl.py:647-649).

Set semantics of rdflib.Graph (duplicate add is a no-op) are restored with
``dedupe_triples`` before any sink.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

class ParseError(ValueError):
    """Malformed input text (Turtle, SPARQL); the message ends with the
    error's position: ``at line L, col C (offset P)``."""

    def __init__(self, message: str, pos: int, text: str):
        line = text.count("\n", 0, pos) + 1
        col = pos - (text.rfind("\n", 0, pos) + 1) + 1
        super().__init__(f"{message} at line {line}, col {col} (offset {pos})")
        self.pos = pos


# ---------------------------------------------------------------- namespaces
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
XSD = "http://www.w3.org/2001/XMLSchema#"
SH = "http://www.w3.org/ns/shacl#"
SKOS = "http://www.w3.org/2004/02/skos/core#"
SKOSXL = "http://www.w3.org/2008/05/skos-xl#"  # reference: plugin_pyshacl.py:46
PROV = "http://www.w3.org/ns/prov#"
SHUI = "https://vocab.eccenca.com/shui/"
EX = "http://example.org/"

RDF_TYPE = RDF + "type"
RDF_LANGSTRING = RDF + "langString"  # RDF 1.1: datatype of lang-tagged literals
RDFS_LABEL = RDFS + "label"
RDFS_SUBCLASSOF = RDFS + "subClassOf"
SKOS_PREFLABEL = SKOS + "prefLabel"
SKOSXL_PREFLABEL = SKOSXL + "prefLabel"
SKOSXL_LITERALFORM = SKOSXL + "literalForm"

XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
XSD_BOOLEAN = XSD + "boolean"
XSD_DATETIME = XSD + "dateTime"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_DATE = XSD + "date"

# graph-type catalog constants (reference DATA_GRAPH_TYPES,
# plugin_pyshacl.py:47-53)
DATA_GRAPH_TYPES = [
    "https://vocab.eccenca.com/di/Dataset",
    "http://rdfs.org/ns/void#Dataset",
    "https://vocab.eccenca.com/shui/ShapeCatalog",
    "http://www.w3.org/2002/07/owl#Ontology",
    "https://vocab.eccenca.com/dsm/ThesaurusProject",
]
SHAPE_CATALOG_TYPE = "https://vocab.eccenca.com/shui/ShapeCatalog"

# term kinds (o_kind column values)
KIND_IRI = "iri"
KIND_LITERAL = "literal"
KIND_BNODE = "bnode"  # transient: must not survive past skolemization

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("s", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o_kind", T.StringType(), False),
        T.StructField("o_value", T.StringType(), False),
        T.StructField("o_datatype", T.StringType(), True),
        T.StructField("o_lang", T.StringType(), True),
        T.StructField("graph", T.StringType(), True),
        T.StructField("part_id", T.IntegerType(), True),
    ]
)

TRIPLE_COLS = [f.name for f in TRIPLES_SCHEMA.fields]
TRIPLE_KEY_COLS = ["s", "p", "o_kind", "o_value", "o_datatype", "o_lang", "graph"]

# fixed 11-column entities schema (reference plugin_pyshacl.py:502-511,
# :526-533; `detail` deliberately omitted as the reference comments it out
# at :508)
ENTITY_COLUMNS = [
    "focusNode",
    "resultPath",
    "value",
    "sourceShape",
    "sourceConstraintComponent",
    "resultMessage",
    "resultSeverity",
    "conforms",
    "wasDerivedFrom",
    "wasInformedBy",
    "generatedAtTime",
]


def iri(value: str) -> tuple[str, str, None, None]:
    """Python-side helper for building literal rows of triples."""
    return (value, KIND_IRI, None, None)


def lit_typed(value: str, datatype: str | None = None, lang: str | None = None):
    return (value, KIND_LITERAL, datatype, lang)


def triples_from_rows(spark, rows, graph: str | None = None) -> DataFrame:
    """Build a triples DataFrame from python tuples.

    Accepts rows of (s, p, (o_value, o_kind, o_datatype, o_lang)) or full
    8-tuples. Used for tiny fixture graphs (shapes graphs are small by
    design — the reference's fixture is pySHACL's own shacl-shacl.ttl).
    """
    full = []
    for r in rows:
        if len(r) == 3:
            s, p, (o_value, o_kind, o_dt, o_lang) = r
            full.append((s, p, o_kind, o_value, o_dt, o_lang, graph, 0))
        else:
            full.append(tuple(r))
    return spark.createDataFrame(full, schema=TRIPLES_SCHEMA)


# ------------------------------------------------------- broadcast gating
_BROADCAST_GATE_BYTES = 256 << 20
# row bound of the probe: LIMIT n+1 stops after ~1 partition on a big frame
_BROADCAST_GATE_ROWS = 1_000_000
# estimates at or above this carry no information (see is_small)
_EST_SATURATED = 1 << 50  # ~1 PiB
_PROBED: weakref.WeakKeyDictionary[DataFrame, bool] = weakref.WeakKeyDictionary()


def _plan_size_bytes(df: DataFrame) -> int | None:
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - connect mode / stats failure
        return None


def is_small(df: DataFrame) -> bool:
    """The one broadcast gate: True when `df` may carry a broadcast hint.

    Spark honors an explicit F.broadcast() hint REGARDLESS of size (AQE
    demotes only its own conversions, never user hints), so a hint on a
    frame that grows with the data (a billion-node targetClass focus set,
    an open-pattern surface vocabulary) would hard-fail past the 8 GB
    broadcast limit. A frame this gate calls large is left unhinted, and
    AQE picks the join at runtime from real shuffle stats
    (autoBroadcastJoinThreshold, session.py).

    1. An informative Catalyst estimate (optimized-plan sizeInBytes below
       _EST_SATURATED) decides alone, with no job: small iff <= 256 MB.
       Without CBO table stats, size-only propagation never shrinks a
       Filter below its child and grows joins multiplicatively, so a small
       estimate is a trustworthy upper bound. Parquet scans read their
       file sizes, and a persisted frame that has been built reports its
       cache's real size to every plan made over it (validate() builds
       its predicate slice before planning focus frames for this reason).
    2. An uninformative estimate runs ONE bounded probe,
       limit(ROWS+1).count() <= ROWS, memoized per frame object. Estimates
       saturate toward Long.MaxValue on derived plans (unions of
       concat-projections; the sameAs membership frames out of
       connected_components) and RDD-backed frames report
       spark.sql.defaultSizeInBytes. An estimate-only gate there silently
       unhinted every join of derived graphs (~25% slower shacl_full,
       BENCH.md round 4)."""
    est = _plan_size_bytes(df)
    if est is not None and est < _EST_SATURATED:
        return est <= _BROADCAST_GATE_BYTES
    small = _PROBED.get(df)
    if small is None:
        try:
            small = df.limit(_BROADCAST_GATE_ROWS + 1).count() <= _BROADCAST_GATE_ROWS
        except Exception:  # pragma: no cover - probe failure → conservative
            small = False
        _PROBED[df] = small
    return small


def maybe_broadcast(df: DataFrame, small: bool) -> DataFrame:
    """Apply the broadcast hint only when is_small() allowed it; otherwise
    leave the join unhinted for AQE to pick the strategy."""
    return F.broadcast(df) if small else df


def dedupe_triples(df: DataFrame) -> DataFrame:
    """Restore rdflib set semantics: duplicate add is a no-op."""
    return df.dropDuplicates(TRIPLE_KEY_COLS)


def dedupe_triples_lineage(df: DataFrame) -> DataFrame:
    """Set semantics with DETERMINISTIC lineage: when the same triple is
    derived in several partitions, keep part_id = min — dropDuplicates would
    keep an arbitrary one, making re-runs/resumes diff on part_id."""
    return df.groupBy(TRIPLE_KEY_COLS).agg(F.min("part_id").alias("part_id"))


def nt_term(kind: Column, value: Column, datatype: Column, lang: Column) -> Column:
    """Serialize one RDF term to its N-Triples form (JVM-side expression).

    Mirrors the reference's typed-literal rendering ``"lex"^^<dt>``
    (plugin_pyshacl.py:490-492) and the N-Triples sink format (:444-448).
    """
    escaped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(value, r"\\", r"\\\\"), '"', r'\\"'
                ),
                "\n",
                r"\\n",
            ),
            "\r",
            r"\\r",
        ),
        "\t",
        r"\\t",
    )
    # Unicode line separators (U+0085 NEL, U+2028 LS, U+2029 PS) are legal
    # RAW in N-Triples literals, but Java regex treats them as line
    # terminators, which breaks the reader's `.`-based single-line parse
    # (and any line-oriented consumer). \uXXXX escapes are equally legal
    # output (NT spec UCHAR) — emit those, decode them in _nt_object_cols.
    for cp, esc in (
        (0x0085, r"\\u0085"),
        (0x2028, r"\\u2028"),
        (0x2029, r"\\u2029"),
    ):
        escaped = F.regexp_replace(escaped, chr(cp), esc)
    return (
        F.when(kind == KIND_IRI, F.concat(F.lit("<"), value, F.lit(">")))
        .when(
            (kind == KIND_LITERAL) & lang.isNotNull(),
            F.concat(F.lit('"'), escaped, F.lit('"@'), lang),
        )
        .when(
            (kind == KIND_LITERAL)
            & datatype.isNotNull()
            & (datatype != XSD_STRING),
            F.concat(F.lit('"'), escaped, F.lit('"^^<'), datatype, F.lit(">")),
        )
        .otherwise(F.concat(F.lit('"'), escaped, F.lit('"')))
    )


def to_ntriples(df: DataFrame) -> DataFrame:
    """Project a triples DataFrame to one N-Triples line per row."""
    return df.select(
        F.concat_ws(
            " ",
            F.concat(F.lit("<"), F.col("s"), F.lit(">")),
            F.concat(F.lit("<"), F.col("p"), F.lit(">")),
            nt_term(
                F.col("o_kind"),
                F.col("o_value"),
                F.col("o_datatype"),
                F.col("o_lang"),
            ),
            F.lit("."),
        ).alias("line")
    )


def to_nquads(df: DataFrame) -> DataFrame:
    """Project a triples DataFrame to one N-Quads line per row — N-Triples
    plus the graph label as the 4th term. Null-graph rows serialize as
    default-graph statements (3 terms), so the export round-trips the
    `graph` column that ``to_ntriples`` drops. concat_ws skips NULLs, so
    the optional term costs no branch."""
    return df.select(
        F.concat_ws(
            " ",
            F.concat(F.lit("<"), F.col("s"), F.lit(">")),
            F.concat(F.lit("<"), F.col("p"), F.lit(">")),
            nt_term(
                F.col("o_kind"),
                F.col("o_value"),
                F.col("o_datatype"),
                F.col("o_lang"),
            ),
            F.when(
                F.col("graph").isNotNull(),
                F.concat(F.lit("<"), F.col("graph"), F.lit(">")),
            ),
            F.lit("."),
        ).alias("line")
    )


def from_ntriples(
    lines: DataFrame,
    line_col: str = "line",
    graph: str | None = None,
    part_id_expr: Column | None = None,
) -> DataFrame:
    """Parse N-Triples lines into the TRIPLES_SCHEMA relation — the source
    twin of ``to_ntriples`` (round-trips exactly on its output; accepts the
    standard single-line `<s> <p> object .` form, comments and blank lines
    skipped). Pure codegen regexp extraction — no Python UDFs.

    Object forms: `<iri>`, `"lex"`, `"lex"@lang`, `"lex"^^<dt>`; the
    N-Triples escapes emitted by nt_term (backslash, quote, newline, CR,
    tab) are unescaped. Escaped backslashes are resolved FIRST (into a
    sentinel) so that e.g. NT `C:\\nightly` parses back to ``C:\nightly``
    rather than backslash+newline — the pairs must not be re-interpreted
    by the later `\n`/`\"` passes.
    """
    line = F.col("_l")
    body = F.regexp_extract(line, r"^<([^>]*)>\s+<([^>]*)>\s+(.*?)\s*\.$", 3)
    s = F.regexp_extract(line, r"^<([^>]*)>", 1)
    p = F.regexp_extract(line, r"^<[^>]*>\s+<([^>]*)>", 1)
    parsed = (
        lines.select(F.trim(F.col(line_col)).alias("_l"))
        .filter((F.length("_l") > 0) & ~F.col("_l").startswith("#"))
        .select(
            s.alias("s"),
            p.alias("p"),
            *_nt_object_cols(body),
        )
        .filter(F.col("s") != "")
    )
    pid = part_id_expr if part_id_expr is not None else F.lit(0).cast("int")
    return parsed.select(
        "s", "p", "o_kind", "o_value", "o_datatype", "o_lang",
        F.lit(graph).cast("string").alias("graph"),
        pid.alias("part_id"),
    )


def _nt_object_cols(body: Column) -> list[Column]:
    """The (o_kind, o_value, o_datatype, o_lang) projection of one
    N-Triples/N-Quads object term — shared by from_ntriples/from_nquads.
    Pure codegen regexp expressions; see from_ntriples for the
    escape-order rationale."""
    is_iri = body.startswith("<")
    lex_raw = F.regexp_extract(body, r'^"((?:[^"\\]|\\.)*)"', 1)
    _sent = "\x00"  # never occurs in NT source (control chars are escaped)
    lex = F.regexp_replace(lex_raw, r"\\\\", _sent)
    lex = F.regexp_replace(lex, r"\\n", "\n")
    lex = F.regexp_replace(lex, r"\\r", "\r")
    lex = F.regexp_replace(lex, r"\\t", "\t")
    # decode the UCHAR forms nt_term emits for Unicode line separators
    # (escaped backslashes are already sentinel'd, so a literal "\\u2028"
    # in source text cannot be misread as an escape)
    for cp in (0x0085, 0x2028, 0x2029):
        lex = F.regexp_replace(lex, rf"\\u{cp:04x}", chr(cp))
    lex = F.regexp_replace(lex, r'\\"', '"')
    lex = F.regexp_replace(lex, _sent, r"\\")
    lang = F.regexp_extract(body, r'^"(?:[^"\\]|\\.)*"@([A-Za-z0-9-]+)$', 1)
    dt = F.regexp_extract(body, r'^"(?:[^"\\]|\\.)*"\^\^<([^>]*)>$', 1)
    return [
        F.when(is_iri, F.lit(KIND_IRI)).otherwise(F.lit(KIND_LITERAL)).alias(
            "o_kind"
        ),
        F.when(is_iri, F.regexp_extract(body, r"^<([^>]*)>$", 1))
        .otherwise(lex)
        .alias("o_value"),
        F.when(~is_iri & (dt != ""), dt)
        .when(~is_iri & (lang == "") & (dt == ""), F.lit(XSD_STRING))
        .cast("string")
        .alias("o_datatype"),
        F.when(~is_iri & (lang != ""), lang).cast("string").alias("o_lang"),
    ]


def from_nquads(
    lines: DataFrame,
    line_col: str = "line",
    part_id_expr: Column | None = None,
) -> DataFrame:
    """Parse N-Quads lines into the TRIPLES_SCHEMA relation — the source
    twin of ``to_nquads``. A 4th ``<graph>`` term populates the `graph`
    column; 3-term (default-graph) lines yield a NULL graph, so mixed
    N-Triples/N-Quads files parse with graph fidelity. Same splittable
    one-statement-per-line scan and pure-codegen posture as from_ntriples.

    Both the body and the optional graph label extract with the SAME
    pattern (different groups), so the lazy-body/optional-graph
    backtracking resolves identically: `<s> <p> <o> .` keeps `<o>` as the
    object (the graph group only matches a whitespace-separated trailing
    IRI), and literals containing `<…>` stay whole."""
    line = F.col("_l")
    pat = r"^<[^>]*>\s+<[^>]*>\s+(.+?)(?:\s+<([^>]*)>)?\s*\.$"
    body = F.regexp_extract(line, pat, 1)
    g = F.regexp_extract(line, pat, 2)
    s = F.regexp_extract(line, r"^<([^>]*)>", 1)
    p = F.regexp_extract(line, r"^<[^>]*>\s+<([^>]*)>", 1)
    parsed = (
        lines.select(F.trim(F.col(line_col)).alias("_l"))
        .filter((F.length("_l") > 0) & ~F.col("_l").startswith("#"))
        .select(
            s.alias("s"),
            p.alias("p"),
            *_nt_object_cols(body),
            F.when(g != "", g).cast("string").alias("graph"),
        )
        .filter(F.col("s") != "")
    )
    pid = part_id_expr if part_id_expr is not None else F.lit(0).cast("int")
    return parsed.select(
        "s", "p", "o_kind", "o_value", "o_datatype", "o_lang", "graph",
        pid.alias("part_id"),
    )

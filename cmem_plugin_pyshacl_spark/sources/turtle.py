"""Turtle (W3C Turtle 1.1 subset) reader — driver-side parse for
shapes-sized graphs.

Shapes and ontology graphs in the wild ship as Turtle: the reference plugin
receives them from the CMEM store as rdflib Graphs (rdflib parses .ttl
natively), and pySHACL's own fixture corpus — including the shacl-shacl.ttl
the reference validates against — is Turtle. Until now this engine could
ingest only parquet triples and N-Triples; this module closes the gap.

Scale posture — deliberate asymmetry with `data_model.from_ntriples`:
N-Triples is line-oriented and therefore SPLITTABLE (one parquet/text split
per executor, pure-codegen regexp parse, no driver involvement) — that is
the 100-TB bulk-data path. Turtle is stateful (prefix map, base, multi-line
bnode property lists), which makes it non-splittable; parsing it
distributed would serialize on a single task anyway. So we parse Turtle on
the DRIVER and `createDataFrame` — the right call for the kilobyte-to-
megabyte shapes/ontology graphs it is meant for, and documented as NOT the
path for bulk data (use N-Triples or parquet there).

Grammar coverage (everything commonly found in shapes files):
  * `@prefix` / `@base` and SPARQL-style `PREFIX` / `BASE` directives
  * IRIs (with `\\u`/`\\U` escapes) and relative-IRI resolution against base
  * prefixed names incl. empty prefix and `%`-/`\\`-escaped local parts
  * `a` for rdf:type; predicate lists (`;`) and object lists (`,`)
  * blank node labels, anonymous bnodes `[]`, bnode property lists `[ … ]`
  * RDF collections `( … )` -> rdf:first/rdf:rest/rdf:nil chains
  * short and long, single- and double-quoted strings with ECHAR/UCHAR
    escapes; `@lang`; `^^datatype`
  * numeric abbreviations (xsd:integer / xsd:decimal / xsd:double) and
    `true` / `false`
  * comments (`# …`) anywhere outside strings/IRIs

Anything malformed raises TurtleParseError with the offending position.
Every N-Triples document is valid Turtle, so this parser also accepts the
output of ``to_ntriples`` byte-for-byte (differential-tested against
``from_ntriples``).

Term encoding matches TRIPLES_SCHEMA conventions (data_model.py): plain
literals get o_datatype = xsd:string, language literals get o_lang and a
NULL datatype, blank nodes become fresh `_:bN` labels (o_kind = "bnode" in
object position) to be skolemized before any shuffle.
"""

from __future__ import annotations

import re
from urllib.parse import urljoin

from pyspark.sql import DataFrame, SparkSession

from ..data_model import (
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    ParseError,
    RDF,
    TRIPLES_SCHEMA,
    XSD,
    XSD_BOOLEAN,
    XSD_DECIMAL,
    XSD_DOUBLE,
    XSD_INTEGER,
    XSD_STRING,
)

RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"


class TurtleParseError(ParseError):
    """Raised on malformed Turtle, with the character offset."""


_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*:")
_PN_PREFIX_RE = re.compile(r"[A-Za-zÀ-￿_][\wÀ-￿.\-]*")
# PN_LOCAL approximation: word chars, dots, hyphens, colons, %XX escapes and
# backslash-escaped punctuation. Trailing dots are statement terminators and
# are stripped after the match (PN_LOCAL must not end with '.').
_PN_LOCAL_RE = re.compile(
    r"(?:[\wÀ-￿:\-.]|%[0-9A-Fa-f]{2}|\\[_~.\-!$&'()*+,;=/?#@%])*"
)
_LANGTAG_RE = re.compile(r"@([A-Za-z]+(?:-[A-Za-z0-9]+)*)")
_NUMBER_RE = re.compile(
    r"[+-]?(?:"
    r"\d+\.\d*[eE][+-]?\d+|\.\d+[eE][+-]?\d+|\d+[eE][+-]?\d+"  # double
    r"|\d*\.\d+"  # decimal
    r"|\d+"  # integer
    r")"
)
_BNODE_LABEL_RE = re.compile(r"_:[\wÀ-￿][\wÀ-￿.\-]*")
_ECHARS = {
    "t": "\t",
    "b": "\b",
    "n": "\n",
    "r": "\r",
    "f": "\f",
    '"': '"',
    "'": "'",
    "\\": "\\",
}
_LOCAL_ESCAPABLE = set("_~.-!$&'()*+,;=/?#@%")


def _unescape_uchars(raw: str, pos: int, text: str) -> str:
    """Resolve \\uXXXX / \\UXXXXXXXX (the only escapes allowed in IRIs)."""

    def sub(m: re.Match) -> str:
        return chr(int(m.group(1) or m.group(2), 16))

    try:
        return re.sub(r"\\u([0-9A-Fa-f]{4})|\\U([0-9A-Fa-f]{8})", sub, raw)
    except ValueError as exc:  # pragma: no cover - surrogate halves
        raise TurtleParseError(f"bad \\u escape: {exc}", pos, text) from exc


class _Parser:
    def __init__(self, text: str, graph: str | None):
        self.text = text
        self.n = len(text)
        self.i = 0
        self.graph = graph
        self.prefixes: dict[str, str] = {}
        self.base: str | None = None
        self.bnode_map: dict[str, str] = {}
        self.bnode_n = 0
        self.triples: list[tuple] = []
        # TriG: the label of the wrapped graph block being parsed, if any;
        # None (top level / default-graph block) falls back to self.graph
        self.cur_graph: str | None = None

    # ------------------------------------------------------------- scanner
    def _skip_ws(self) -> None:
        while self.i < self.n:
            c = self.text[self.i]
            if c in " \t\r\n":
                self.i += 1
            elif c == "#":
                j = self.text.find("\n", self.i)
                self.i = self.n if j < 0 else j + 1
            else:
                return

    def _peek(self) -> str:
        return self.text[self.i] if self.i < self.n else ""

    def _expect(self, token: str) -> None:
        self._skip_ws()
        if not self.text.startswith(token, self.i):
            raise TurtleParseError(
                f"expected {token!r}, found {self.text[self.i:self.i + 10]!r}",
                self.i,
                self.text,
            )
        self.i += len(token)

    def _fail(self, message: str) -> None:
        raise TurtleParseError(message, self.i, self.text)

    # --------------------------------------------------------------- terms
    def _fresh_bnode(self) -> str:
        self.bnode_n += 1
        return f"_:b{self.bnode_n}"

    def _named_bnode(self, label: str) -> str:
        if label not in self.bnode_map:
            self.bnode_map[label] = self._fresh_bnode()
        return self.bnode_map[label]

    def _resolve(self, ref: str) -> str:
        if _SCHEME_RE.match(ref) or self.base is None:
            return ref
        if ref == "":
            return self.base
        if _SCHEME_RE.match(self.base):
            return urljoin(self.base, ref)
        return self.base + ref  # pragma: no cover - non-URL base fallback

    def _read_iriref(self) -> str:
        # caller verified text[i] == '<'
        j = self.text.find(">", self.i + 1)
        if j < 0:
            self._fail("unterminated IRI")
        raw = self.text[self.i + 1 : j]
        if any(c in raw for c in ' <"{}|^`') or "\n" in raw:
            self._fail("illegal character in IRI")
        self.i = j + 1
        return self._resolve(_unescape_uchars(raw, self.i, self.text))

    def _read_pname(self) -> str:
        start = self.i
        m = _PN_PREFIX_RE.match(self.text, self.i)
        prefix = ""
        if m:
            prefix = m.group(0)
            self.i = m.end()
        if self._peek() != ":":
            self.i = start
            self._fail("expected prefixed name")
        self.i += 1
        m = _PN_LOCAL_RE.match(self.text, self.i)
        local = m.group(0) if m else ""
        # PN_LOCAL must not end with '.', trailing dots close the statement
        while local.endswith("."):
            local = local[:-1]
        self.i += len(local)
        if prefix not in self.prefixes:
            self.i = start
            self._fail(f"undeclared prefix {prefix!r}")
        # resolve PN_LOCAL escapes: %XX stays verbatim (percent-encoded IRI),
        # backslash-escapes map to the bare character
        out = []
        k = 0
        while k < len(local):
            if local[k] == "\\" and k + 1 < len(local) and local[k + 1] in _LOCAL_ESCAPABLE:
                out.append(local[k + 1])
                k += 2
            else:
                out.append(local[k])
                k += 1
        return self.prefixes[prefix] + "".join(out)

    def _read_string_body(self) -> str:
        q = self.text[self.i]
        long_q = self.text.startswith(q * 3, self.i)
        delim = q * 3 if long_q else q
        self.i += len(delim)
        out: list[str] = []
        while True:
            if self.i >= self.n:
                self._fail("unterminated string")
            if self.text.startswith(delim, self.i):
                if long_q:
                    # quotes immediately preceding the closing delimiter
                    # belong to the content (`"""a""""` -> a")
                    while self.text.startswith(q, self.i + 3):
                        out.append(q)
                        self.i += 1
                self.i += len(delim)
                return "".join(out)
            c = self.text[self.i]
            if c == "\\":
                if self.i + 1 >= self.n:
                    self._fail("dangling escape")
                e = self.text[self.i + 1]
                if e in _ECHARS:
                    out.append(_ECHARS[e])
                    self.i += 2
                elif e == "u":
                    out.append(chr(int(self.text[self.i + 2 : self.i + 6], 16)))
                    self.i += 6
                elif e == "U":
                    out.append(chr(int(self.text[self.i + 2 : self.i + 10], 16)))
                    self.i += 10
                else:
                    self._fail(f"unknown escape \\{e}")
            else:
                if not long_q and c in "\n\r":
                    self._fail("newline in short string")
                out.append(c)
                self.i += 1

    def _read_literal(self) -> tuple:
        value = self._read_string_body()
        # optional @lang or ^^datatype (no whitespace allowed before @,
        # Turtle allows whitespace before ^^)
        m = _LANGTAG_RE.match(self.text, self.i)
        if m:
            self.i = m.end()
            return (KIND_LITERAL, value, None, m.group(1))
        save = self.i
        self._skip_ws()
        if self.text.startswith("^^", self.i):
            self.i += 2
            self._skip_ws()
            dt = self._read_iri_or_pname()
            return (KIND_LITERAL, value, dt, None)
        self.i = save
        return (KIND_LITERAL, value, XSD_STRING, None)

    def _read_iri_or_pname(self) -> str:
        if self._peek() == "<":
            return self._read_iriref()
        return self._read_pname()

    def _read_object(self) -> tuple:
        """Returns (kind, value, datatype, lang)."""
        self._skip_ws()
        c = self._peek()
        if c == "":
            self._fail("unexpected end of input, expected object")
        if c == "<":
            return (KIND_IRI, self._read_iriref(), None, None)
        if c in "\"'":
            return self._read_literal()
        if c == "[":
            return (KIND_BNODE, self._read_bnode_property_list(), None, None)
        if c == "(":
            return (*self._read_collection(), None, None)
        if self.text.startswith("_:", self.i):
            m = _BNODE_LABEL_RE.match(self.text, self.i)
            if not m:
                self._fail("malformed blank node label")
            self.i = m.end()
            return (KIND_BNODE, self._named_bnode(m.group(0)), None, None)
        m = _NUMBER_RE.match(self.text, self.i)
        if m and not _PN_PREFIX_RE.match(self.text, self.i):
            lex = m.group(0)
            self.i = m.end()
            if "e" in lex.lower():
                return (KIND_LITERAL, lex, XSD_DOUBLE, None)
            if "." in lex:
                return (KIND_LITERAL, lex, XSD_DECIMAL, None)
            return (KIND_LITERAL, lex, XSD_INTEGER, None)
        for kw in ("true", "false"):
            if self.text.startswith(kw, self.i) and not re.match(
                r"[\w\-:]", self.text[self.i + len(kw) : self.i + len(kw) + 1] or " "
            ):
                self.i += len(kw)
                return (KIND_LITERAL, kw, XSD_BOOLEAN, None)
        return (KIND_IRI, self._read_pname(), None, None)

    # ----------------------------------------------------- nested subjects
    def _read_bnode_property_list(self) -> str:
        """`[ pred obj ; … ]` (or bare `[]`): emits the inner triples, returns
        the bnode id."""
        self._expect("[")
        node = self._fresh_bnode()
        self._skip_ws()
        if self._peek() == "]":
            self.i += 1
            return node
        self._read_predicate_object_list(node)
        self._expect("]")
        return node

    def _read_collection(self) -> tuple[str, str]:
        """`( o1 o2 … )` -> rdf:first/rest chain. Returns (kind, head)."""
        self._expect("(")
        items: list[tuple] = []
        while True:
            self._skip_ws()
            if self._peek() == ")":
                self.i += 1
                break
            items.append(self._read_object())
        if not items:
            return (KIND_IRI, RDF_NIL)
        nodes = [self._fresh_bnode() for _ in items]
        for k, (node, item) in enumerate(zip(nodes, items)):
            self._emit(node, RDF_FIRST, item)
            nxt = (
                (KIND_BNODE, nodes[k + 1], None, None)
                if k + 1 < len(nodes)
                else (KIND_IRI, RDF_NIL, None, None)
            )
            self._emit(node, RDF_REST, nxt)
        return (KIND_BNODE, nodes[0])

    # ------------------------------------------------------------ emitters
    def _emit(self, s: str, p: str, o: tuple) -> None:
        kind, value, dt, lang = o
        g = self.cur_graph if self.cur_graph is not None else self.graph
        self.triples.append((s, p, kind, value, dt, lang, g, 0))

    def _read_predicate_object_list(self, subject: str) -> None:
        while True:
            self._skip_ws()
            if self.text.startswith("a", self.i) and not re.match(
                r"[\w\-:]", self.text[self.i + 1 : self.i + 2] or " "
            ):
                self.i += 1
                pred = RDF_TYPE
            else:
                pred = self._read_iri_or_pname()
            while True:
                self._emit(subject, pred, self._read_object())
                self._skip_ws()
                if self._peek() == ",":
                    self.i += 1
                    continue
                break
            if self._peek() == ";":
                # consume runs of ';' (grammar allows `;;` and trailing ';')
                while self._peek() in "; \t\r\n" and self.i < self.n:
                    if self._peek() == ";":
                        self.i += 1
                    self._skip_ws()
                if self._peek() in ".]":
                    return
                continue
            return

    # ---------------------------------------------------------- statements
    def _read_directive(self) -> bool:
        """Returns True when a directive was consumed."""
        for form, dot in (("@prefix", True), ("PREFIX", False)):
            got = self.text[self.i : self.i + len(form)]
            matched = got == form if dot else got.upper() == form
            if matched and (
                dot
                # SPARQL-style keyword must be followed by whitespace so a
                # subject pname `prefix:foo` is not mistaken for a directive
                or (self.text[self.i + len(form) : self.i + len(form) + 1] or " ")
                in " \t\r\n"
            ):
                self.i += len(form)
                self._skip_ws()
                m = _PN_PREFIX_RE.match(self.text, self.i)
                prefix = ""
                if m:
                    prefix = m.group(0)
                    self.i = m.end()
                self._expect(":")
                self._skip_ws()
                if self._peek() != "<":
                    self._fail("expected IRI in prefix directive")
                self.prefixes[prefix] = self._read_iriref()
                if dot:
                    self._expect(".")
                return True
        for form, dot in (("@base", True), ("BASE", False)):
            got = self.text[self.i : self.i + len(form)]
            matched = got == form if dot else got.upper() == form
            if matched and (
                dot
                or (self.text[self.i + len(form) : self.i + len(form) + 1] or " ")
                in " \t\r\n<"
            ):
                self.i += len(form)
                self._skip_ws()
                if self._peek() != "<":
                    self._fail("expected IRI in base directive")
                self.base = self._read_iriref()
                if dot:
                    self._expect(".")
                return True
        return False

    def _read_subject(self) -> str:
        c = self._peek()
        if c == "<":
            return self._read_iriref()
        if self.text.startswith("_:", self.i):
            m = _BNODE_LABEL_RE.match(self.text, self.i)
            if not m:
                self._fail("malformed blank node label")
            self.i = m.end()
            return self._named_bnode(m.group(0))
        if c == "(":
            kind, head = self._read_collection()
            return head
        return self._read_pname()

    # ------------------------------------------------------- TriG blocks
    def _read_graph_label(self) -> str:
        self._skip_ws()
        c = self._peek()
        if c == "<":
            return self._read_iriref()
        if self.text.startswith("_:", self.i):
            m = _BNODE_LABEL_RE.match(self.text, self.i)
            if not m:
                self._fail("malformed blank node graph label")
            self.i = m.end()
            return self._named_bnode(m.group(0))
        return self._read_pname()

    def _read_wrapped_graph(self, label: str | None) -> None:
        """TriG wrappedGraph: ``{ triples… }`` — statements inside emit
        into `label` (None = the default graph). The terminating ``.`` of
        each inner triples statement is optional before ``}`` (TriG §2.2),
        and the same label may be wrapped repeatedly (graph union)."""
        self._expect("{")
        prev = self.cur_graph
        self.cur_graph = label
        try:
            while True:
                self._skip_ws()
                if self._peek() == "}":
                    self.i += 1
                    return
                if self.i >= self.n:
                    self._fail("unterminated graph block (missing '}')")
                if self._peek() == "[":
                    subject = self._read_bnode_property_list()
                    self._skip_ws()
                    if self._peek() not in ".}":
                        self._read_predicate_object_list(subject)
                else:
                    subject = self._read_subject()
                    self._read_predicate_object_list(subject)
                self._skip_ws()
                if self._peek() == ".":
                    self.i += 1
        finally:
            self.cur_graph = prev

    def parse(self) -> list[tuple]:
        while True:
            self._skip_ws()
            if self.i >= self.n:
                return self.triples
            if self._peek() in "@PBpb" and self._read_directive():
                continue
            # TriG: GRAPH <label> { … }
            if self.text.startswith(("GRAPH", "graph"), self.i) and not re.match(
                r"[\w\-:]", self.text[self.i + 5 : self.i + 6] or " "
            ):
                self.i += 5
                self._read_wrapped_graph(self._read_graph_label())
                continue
            # TriG: bare { … } — the default graph
            if self._peek() == "{":
                self._read_wrapped_graph(None)
                continue
            if self._peek() == "[":
                subject = self._read_bnode_property_list()
                self._skip_ws()
                if self._peek() != ".":
                    self._read_predicate_object_list(subject)
            else:
                subject = self._read_subject()
                self._skip_ws()
                # TriG: <label> { … } — the term was a graph label
                if self._peek() == "{":
                    self._read_wrapped_graph(subject)
                    continue
                self._read_predicate_object_list(subject)
            self._expect(".")


def parse_turtle(text: str, graph: str | None = None) -> list[tuple]:
    """Parse a Turtle document into TRIPLES_SCHEMA rows (driver-side).
    The grammar accepted is actually TriG (Turtle's named-graph superset,
    of which every Turtle document is a valid instance): ``<g> { … }`` /
    ``GRAPH <g> { … }`` blocks populate the `graph` column, a bare
    ``{ … }`` block and top-level statements land in the default graph
    (the ``graph`` argument)."""
    return _Parser(text, graph).parse()


# explicit TriG names — same parser, Turtle ⊂ TriG
parse_trig = parse_turtle


def from_turtle(
    spark: SparkSession, text: str, graph: str | None = None
) -> DataFrame:
    """Parse Turtle text into a triples DataFrame.

    Driver-side by design: see module docstring — this is the shapes/
    ontology ingest path; bulk data uses the splittable N-Triples reader
    (``data_model.from_ntriples``) or parquet. Blank nodes arrive with
    o_kind = 'bnode' and MUST be skolemized (operators/graph_ops.skolemize)
    before any shuffle-sensitive use, matching the engine's bnode contract.
    """
    rows = parse_turtle(text, graph)
    return spark.createDataFrame(rows, schema=TRIPLES_SCHEMA)


def read_turtle(
    spark: SparkSession, path: str, graph: str | None = None
) -> DataFrame:
    """Read one .ttl file from the local filesystem (shapes-sized)."""
    with open(path, encoding="utf-8") as fh:
        return from_turtle(spark, fh.read(), graph)


__all__ = [
    "TurtleParseError",
    "parse_turtle",
    "parse_trig",
    "from_turtle",
    "read_turtle",
]


# --------------------------------------------------------------- writer
# Export twin of the reader. Turtle permits directives between statements
# and every subject block below is self-contained, so per-partition files
# that each start with their own @prefix header concatenate into (and
# individually are) valid Turtle — which is what makes a DISTRIBUTED
# Turtle sink legal, unlike a single global header would be.

_PN_LOCAL_OK_RE = r"^[A-Za-z_][A-Za-z0-9_.\-]*$"


def _compact_iri(col, prefixes: dict[str, str]):
    """Column expr: `pfx:local` when the IRI starts with a declared
    namespace and the remainder is a safe PN_LOCAL (conservative ASCII
    subset, no trailing dot), else `<iri>`. Longest namespace wins."""
    from pyspark.sql import functions as F

    expr = F.concat(F.lit("<"), col, F.lit(">"))
    for pfx, ns in sorted(prefixes.items(), key=lambda kv: len(kv[1])):
        local = F.substring(col, len(ns) + 1, 1 << 24)
        ok = (
            col.startswith(ns)
            & local.rlike(_PN_LOCAL_OK_RE)
            & ~local.endswith(".")
        )
        expr = F.when(ok, F.concat(F.lit(pfx + ":"), local)).otherwise(expr)
    return expr


def _escape_lit(col):
    from pyspark.sql import functions as F

    out = F.regexp_replace(col, r"\\", r"\\\\")
    out = F.regexp_replace(out, '"', r'\\"')
    out = F.regexp_replace(out, "\n", r"\\n")
    out = F.regexp_replace(out, "\r", r"\\r")
    return F.regexp_replace(out, "\t", r"\\t")


def _ttl_term(kind, value, dt, lang, prefixes: dict[str, str]):
    from pyspark.sql import functions as F

    esc = _escape_lit(value)
    return (
        F.when(kind == KIND_IRI, _compact_iri(value, prefixes))
        .when(kind == KIND_BNODE, value)  # `_:label` is already valid Turtle
        .when(
            (kind == KIND_LITERAL) & lang.isNotNull(),
            F.concat(F.lit('"'), esc, F.lit('"@'), lang),
        )
        .when(
            (kind == KIND_LITERAL)
            & dt.isNotNull()
            & (dt != XSD_STRING),
            F.concat(F.lit('"'), esc, F.lit('"^^'), _compact_iri(dt, prefixes)),
        )
        .otherwise(F.concat(F.lit('"'), esc, F.lit('"')))
    )


def turtle_header(prefixes: dict[str, str]) -> str:
    return "".join(
        f"@prefix {p}: <{ns}> .\n" for p, ns in sorted(prefixes.items())
    )


def to_turtle(df: DataFrame, prefixes: dict[str, str] | None = None) -> DataFrame:
    """Serialize a triples DataFrame to Turtle subject blocks — one
    ``subj p1 o1 , o2 ;\\n    p2 o3 .`` row per subject: rdf:type as
    ``a``, IRIs compacted against `prefixes`, multiple objects of the
    same (subject, predicate) grouped into a ``,`` object list. Pure
    Column expressions; two hash aggregations — per-(s, p) object-list
    fold (map-side partial), then the per-subject body — with sorted
    lists at both levels for determinism.

    The output deliberately round-trips through parse_turtle (tested);
    prepend ``turtle_header(prefixes)`` when writing to a file, or use
    write_turtle which does it per partition."""
    from pyspark.sql import functions as F

    pfx = prefixes or {}
    pred = F.when(F.col("p") == RDF_TYPE, F.lit("a")).otherwise(
        _compact_iri(F.col("p"), pfx)
    )
    obj = _ttl_term(
        F.col("o_kind"),
        F.col("o_value"),
        F.col("o_datatype"),
        F.col("o_lang"),
        pfx,
    )
    per_pred = (
        df.withColumn("_pred", pred)
        .withColumn("_obj", obj)
        .groupBy("s", "_pred")
        .agg(
            F.concat_ws(" , ", F.sort_array(F.collect_list("_obj"))).alias(
                "_objs"
            )
        )
    )
    po = F.concat(F.col("_pred"), F.lit(" "), F.col("_objs"))
    return (
        per_pred.withColumn("_po", po)
        .groupBy("s")
        .agg(
            F.concat_ws(" ;\n    ", F.sort_array(F.collect_list("_po"))).alias(
                "_body"
            )
        )
        .select(
            F.concat(
                F.when(F.col("s").startswith("_:"), F.col("s")).otherwise(
                    _compact_iri(F.col("s"), pfx)
                ),
                F.lit(" "),
                F.col("_body"),
                F.lit(" ."),
            ).alias("line")
        )
    )


def write_turtle(
    df: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    single_file: bool = True,
    num_files: int | None = None,
) -> None:
    """Write a triples DataFrame as .ttl text. single_file=True coalesces
    to one ordered file (header first); single_file=False keeps the
    partitioning (or repartitions to num_files — AQE otherwise coalesces
    a small groupBy output to one partition) and prepends the @prefix
    header to EVERY part file via mapInPandas, so each part is
    standalone-valid Turtle and the parts concatenate validly — the
    distributed path for big report graphs."""
    import pandas as pd
    from pyspark.sql import functions as F

    pfx = prefixes or {}
    body = to_turtle(df, pfx)
    if num_files and not single_file:
        body = body.repartition(num_files)
    header = turtle_header(pfx).rstrip("\n")
    if single_file:
        spark = df.sparkSession
        rows = ([(0, header)] if header else []) + []
        head_df = spark.createDataFrame(
            rows or [(0, "")], "k int, line string"
        ).filter(F.col("line") != "")
        out = (
            head_df.unionByName(body.select(F.lit(1).alias("k"), "line"))
            .coalesce(1)
            .sortWithinPartitions("k", "line")
            .select("line")
        )
        out.write.mode("overwrite").text(path)
        return

    def _with_header(batches):
        emitted = False
        for pdf in batches:
            if not emitted and header and len(pdf):
                yield pd.DataFrame({"line": [header]})
                emitted = True
            yield pdf

    body.mapInPandas(_with_header, "line string").write.mode(
        "overwrite"
    ).text(path)


def to_trig(
    df: DataFrame,
    prefixes: dict[str, str] | None = None,
    line_delimited: bool = False,
) -> DataFrame:
    """Serialize a triples DataFrame to TriG — the named-graph twin of
    to_turtle. Each subject block renders exactly as to_turtle does but
    grouped per (graph, subject); named-graph subjects wrap in their own
    ``<g> { … }`` block. TriG allows the same label to be wrapped any
    number of times (the graph is the union), so per-subject blocks keep
    the sink fully DISTRIBUTED — no graph-level aggregation that would
    fold a 100-TB graph's subjects into one row. Null-graph rows render
    as bare (default-graph) Turtle statements, so a graph-column-free
    frame round-trips as plain Turtle.

    ``line_delimited=True`` renders each statement on ONE physical line
    (``;`` separators and graph braces inline) — the splittable subset
    `sources.trig_bulk.read_trig_bulk` ingests distributed, so bulk TriG
    round-trips with both the writer and the reader scale-out."""
    from pyspark.sql import functions as F

    pfx = prefixes or {}
    po_sep = " ; " if line_delimited else " ;\n    "
    g_open, g_close = (" { ", " }") if line_delimited else (" {\n", "\n}")
    pred = F.when(F.col("p") == RDF_TYPE, F.lit("a")).otherwise(
        _compact_iri(F.col("p"), pfx)
    )
    obj = _ttl_term(
        F.col("o_kind"),
        F.col("o_value"),
        F.col("o_datatype"),
        F.col("o_lang"),
        pfx,
    )
    per_pred = (
        df.withColumn("_pred", pred)
        .withColumn("_obj", obj)
        .groupBy("graph", "s", "_pred")
        .agg(
            F.concat_ws(" , ", F.sort_array(F.collect_list("_obj"))).alias(
                "_objs"
            )
        )
    )
    po = F.concat(F.col("_pred"), F.lit(" "), F.col("_objs"))
    per_subj = (
        per_pred.withColumn("_po", po)
        .groupBy("graph", "s")
        .agg(
            F.concat_ws(po_sep, F.sort_array(F.collect_list("_po"))).alias(
                "_body"
            )
        )
    )
    stmt = F.concat(
        F.when(F.col("s").startswith("_:"), F.col("s")).otherwise(
            _compact_iri(F.col("s"), pfx)
        ),
        F.lit(" "),
        F.col("_body"),
        F.lit(" ."),
    )
    return per_subj.select(
        F.when(
            F.col("graph").isNotNull(),
            F.concat(
                _compact_iri(F.col("graph"), pfx),
                F.lit(g_open),
                stmt,
                F.lit(g_close),
            ),
        )
        .otherwise(stmt)
        .alias("line")
    )


def write_trig(
    df: DataFrame,
    path: str,
    prefixes: dict[str, str] | None = None,
    single_file: bool = True,
    num_files: int | None = None,
    line_delimited: bool = False,
    bnode_labels_global: bool = False,
) -> None:
    """Write a triples DataFrame as .trig text — same header/partitioning
    contract as write_turtle (every part file standalone-valid, parts
    concatenate validly because repeated graph labels union).

    ``line_delimited=True`` emits the one-statement-per-line subset that
    `sources.trig_bulk.read_trig_bulk` reads back fully distributed —
    the bulk-export shape (pair with ``single_file=False`` at scale).
    That reader renames bnode labels per line BY DEFAULT, which would
    silently sever a label serialized onto more than one statement line
    (a bnode referenced across subjects or graphs), so this writer checks
    for the shape — one cheap agg over the bnode-occurrence rows — and
    refuses with the remedies unless ``bnode_labels_global=True``
    acknowledges the reader will run with ``keep_bnode_labels=True``."""
    import pandas as pd
    from pyspark.sql import functions as F

    pfx = prefixes or {}
    if line_delimited and not bnode_labels_global:
        occ = (
            df.filter(F.col("s").startswith("_:"))
            .select(F.col("s").alias("label"), "graph", F.col("s").alias("line_s"))
            .unionByName(
                df.filter(F.col("o_kind") == "bnode").select(
                    F.col("o_value").alias("label"), "graph", F.col("s").alias("line_s")
                )
            )
            .distinct()
        )
        spans = (
            occ.groupBy("label")
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if spans:
            raise ValueError(
                f"write_trig(line_delimited=True): bnode label "
                f"'{spans[0]['label']}' spans multiple statement lines; the "
                f"default read_trig_bulk renames labels per line and would "
                f"sever the co-reference. Either (a) read back with "
                f"keep_bnode_labels=True and pass bnode_labels_global=True "
                f"here, (b) skolemize() the frame first "
                f"(operators/graph_ops), or (c) export N-Quads, where "
                f"labels are document-scoped."
            )
    body = to_trig(df, pfx, line_delimited=line_delimited)
    if num_files and not single_file:
        body = body.repartition(num_files)
    header = turtle_header(pfx).rstrip("\n")
    if single_file:
        spark = df.sparkSession
        head_df = spark.createDataFrame(
            [(0, header or "")], "k int, line string"
        ).filter(F.col("line") != "")
        out = (
            head_df.unionByName(body.select(F.lit(1).alias("k"), "line"))
            .coalesce(1)
            .sortWithinPartitions("k", "line")
            .select("line")
        )
        out.write.mode("overwrite").text(path)
        return

    def _with_header(batches):
        emitted = False
        for pdf in batches:
            if not emitted and header and len(pdf):
                yield pd.DataFrame({"line": [header]})
                emitted = True
            yield pdf

    body.mapInPandas(_with_header, "line string").write.mode(
        "overwrite"
    ).text(path)

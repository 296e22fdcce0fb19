"""Seeded input generators and their golden answers.

Every generator is a pure function of ``(seed, scale)``. It writes its input
to parquet with pyarrow (no Spark, so no timer of the benchmark runs while
inputs are made) and returns the golden answer computed in plain Python from
the generator's own spec, never from the engine:

* ``kg_build``: Zipf-skewed pages in the sentence grammar that
  ``functions/mentions.py`` parses, with alias variants per entity. Golden:
  the triple count, an order-independent triple checksum, and the number of
  violations per ``part_id``.
* ``plugin_af_requests``: one store with many small named graphs, an
  ontology graph and a SHACL-AF catalog, with violations planted at known
  rates. Golden: results per source shape for every request.

An input is reused only when the checksum recorded beside it matches the
checksum of the files on disk.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EX = "http://example.org/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
XSD = "http://www.w3.org/2001/XMLSchema#"
SH = "http://www.w3.org/ns/shacl#"
OWL = "http://www.w3.org/2002/07/owl#"
RDF_TYPE = RDF + "type"
RDFS_LABEL = RDFS + "label"
RDFS_SUBCLASSOF = RDFS + "subClassOf"
XSD_STRING = XSD + "string"
XSD_INTEGER = XSD + "integer"
DATASET_TYPE = "https://vocab.eccenca.com/di/Dataset"
SHAPE_CATALOG_TYPE = "https://vocab.eccenca.com/shui/ShapeCatalog"
OWL_ONTOLOGY = OWL + "Ontology"

TRIPLES_SCHEMA = pa.schema(
    [
        ("s", pa.string()),
        ("p", pa.string()),
        ("o_kind", pa.string()),
        ("o_value", pa.string()),
        ("o_datatype", pa.string()),
        ("o_lang", pa.string()),
        ("graph", pa.string()),
        ("part_id", pa.int32()),
    ]
)
PART_IDS = 64


def row_digest(row) -> int:
    """Stable 64-bit digest of one row (tuple of str/int/None)."""
    text = "\x1f".join("\x00" if v is None else str(v) for v in row)
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def set_checksum(rows) -> int:
    """Order-independent checksum of a row collection: the sum of row
    digests modulo 2**64 (a multiset hash, so duplicates count)."""
    return sum(row_digest(r) for r in rows) % (1 << 64)


def _zipf(rng: np.random.Generator, n_items: int, size: int, s: float) -> np.ndarray:
    """``size`` draws from a bounded Zipf(s) over ``n_items`` ids; the rank
    to id map is a seeded permutation, so hot ids are scattered."""
    weights = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    cdf = np.cumsum(weights)
    cdf /= cdf[-1]
    ranks = np.minimum(np.searchsorted(cdf, rng.random(size)), n_items - 1)
    return rng.permutation(n_items)[ranks]


def _triples_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in TRIPLES_SCHEMA]
    return pa.table(
        {f.name: pa.array(list(c), type=f.type) for f, c in zip(TRIPLES_SCHEMA, cols)},
        schema=TRIPLES_SCHEMA,
    )


def _dir_checksum(path: str) -> str:
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            fp = os.path.join(root, name)
            h.update(os.path.relpath(fp, path).encode())
            with open(fp, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


@dataclass
class Input:
    """A materialized input: its directory, the golden answer and the
    facts a workload needs to drive it."""

    path: str
    golden: dict
    facts: dict


def materialize(kind: str, seed: int, scale: str, root: str) -> tuple[Input, bool]:
    """Return the input for (kind, seed, size of scale) under ``root``, generating
    it unless a previous run left one whose recorded checksum matches the
    files. The second value says whether the input was reused."""
    size = SCALES[kind][scale]
    tag = "x".join(map(str, size)) if isinstance(size, tuple) else str(size)
    path = os.path.join(root, f"{kind}-{tag}-s{seed}")
    meta_path = path + ".json"
    if os.path.exists(meta_path) and os.path.isdir(path):
        with open(meta_path) as fh:
            meta = json.load(fh)
        if meta.get("checksum") == _dir_checksum(path):
            return Input(path, meta["golden"], meta["facts"]), True
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    golden, facts = GENERATORS[kind](seed, size, path)
    meta = {"checksum": _dir_checksum(path), "golden": golden, "facts": facts}
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return Input(path, golden, facts), False


# --------------------------------------------------------------- kg_build
_FILLER = [
    "the quick brown fox jumps over the lazy dog",
    "lorem ipsum dolor sit amet consectetur",
    "a journey of a thousand miles begins with a single step",
    "all that glitters is not gold",
    "practice makes perfect every single day",
]
_LANGS = ["en", "de", "fr", "es", "zh"]
TYPE_IRIS = {"PERSON": EX + "Person", "ORG": EX + "Organization", "PLACE": EX + "Place"}
WORKS_AT = EX + "worksAt"
BASED_IN = EX + "basedIn"
KG_GRAPH = EX + "graph/kg"
KG_MAX_EMPLOYERS = 3


def _normalize(surface: str) -> str:
    """Python twin of linking.normalize_surface for this grammar."""
    c = surface.lower()
    c = re.sub(r"\s+(inc|corp|ltd|gmbh|llc)\.?$", "", c)
    c = re.sub(r"[^\w\s]", "", c)
    return re.sub(r"\s+", " ", c.strip())


def _variant(kind: str, k: int, v: int) -> str:
    base = f"{kind}{k}"
    if v == 1:
        return base.capitalize()
    if v == 2:
        return base + " Inc."
    return base


def kg_shapes_rows() -> list[tuple]:
    """The kg_build shapes catalog: three node shapes, two of which the
    Zipf-skewed corpus violates (orgs never `basedIn`, persons with more
    than three employers)."""
    rows = []
    for name, target, path, comp, value, dt in [
        ("OrganizationShape", EX + "Organization", BASED_IN, "minCount", "1", XSD_INTEGER),
        ("PersonShape", EX + "Person", WORKS_AT, "maxCount", str(KG_MAX_EMPLOYERS), XSD_INTEGER),
        ("PlaceShape", EX + "Place", RDFS_LABEL, "datatype", XSD_STRING, None),
    ]:
        sid, pid = EX + name, EX + name + "-p"
        g = EX + "graph/kgshapes"
        rows += [
            (sid, RDF_TYPE, "iri", SH + "NodeShape", None, None, g, 0),
            (sid, SH + "targetClass", "iri", target, None, None, g, 0),
            (sid, SH + "property", "iri", pid, None, None, g, 0),
            (pid, SH + "path", "iri", path, None, None, g, 0),
            (pid, SH + comp, "iri" if dt is None else "literal", value, dt, None, g, 0),
        ]
    return rows


def gen_kg_build(seed: int, n_pages: int, path: str) -> tuple[dict, dict]:
    rng = np.random.default_rng([seed, 1])
    n_persons, n_orgs, n_places = n_pages, max(8, n_pages // 2), max(8, n_pages // 20)
    has_work = rng.random(n_pages) < 0.9
    has_base = rng.random(n_pages) < 0.5
    w_person = _zipf(rng, n_persons, n_pages, 0.8)
    w_person_v = (rng.random(n_pages) < 0.2).astype(np.int64)
    w_org = _zipf(rng, n_orgs, n_pages, 0.8)
    w_org_v = rng.choice(3, n_pages, p=[0.6, 0.2, 0.2])
    b_org = _zipf(rng, n_orgs, n_pages, 0.8)
    b_org_v = rng.choice(3, n_pages, p=[0.6, 0.2, 0.2])
    b_place = _zipf(rng, n_places, n_pages, 0.8)
    b_place_v = (rng.random(n_pages) < 0.2).astype(np.int64)
    n_filler = rng.integers(1, 3, n_pages)
    filler0 = rng.integers(0, len(_FILLER), n_pages)

    urls, htmls, texts, part_ids, relations = [], [], [], [], []
    for i in range(n_pages):
        part = i % PART_IDS
        sentences = []
        if has_work[i]:
            ps = _variant("person", int(w_person[i]), int(w_person_v[i]))
            os_ = _variant("org", int(w_org[i]), int(w_org_v[i]))
            sentences.append(f"{ps} works at {os_}.")
            relations.append((ps, "PERSON", WORKS_AT, os_, "ORG", part))
        if has_base[i]:
            os_ = _variant("org", int(b_org[i]), int(b_org_v[i]))
            pl = _variant("place", int(b_place[i]), int(b_place_v[i]))
            sentences.append(f"{os_} is based in {pl}.")
            relations.append((os_, "ORG", BASED_IN, pl, "PLACE", part))
        sentences += [
            _FILLER[(filler0[i] + j) % len(_FILLER)] + "." for j in range(n_filler[i])
        ]
        title = f"Page {i} of site{i % 97}"
        body = "".join(f"<p>{s}</p>" for s in sentences)
        htmls.append(
            f"<html><head><title>{title}</title><script>var x={i};</script>"
            f"</head><body><h1>{title}</h1>{body}<!-- c{i} --></body></html>".encode()
        )
        texts.append("\n".join([title, title] + sentences))
        urls.append(f"https://example.org/site{i % 97}/page{i}")
        part_ids.append(part)
    ids = np.arange(n_pages, dtype=np.int64)
    table = pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(
                (np.datetime64("2024-01-01T00:00:00", "us") + ids * 37_000_000), pa.timestamp("us", tz="UTC")
            ),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[i % 5] for i in range(n_pages)], pa.string()),
            "part_id": pa.array(part_ids, pa.int32()),
            "id": pa.array(ids, pa.int64()),
        }
    )
    os.makedirs(os.path.join(path, "pages"))
    for k, chunk in enumerate(table.to_batches(max_chunksize=max(1, n_pages // 16))):
        pq.write_table(pa.Table.from_batches([chunk]), os.path.join(path, "pages", f"part-{k:03d}.parquet"))
    pq.write_table(_triples_table(kg_shapes_rows()), os.path.join(path, "shapes.parquet"))
    return kg_golden(relations), {"pages": n_pages, "relations": len(relations)}


def kg_golden(relations: list[tuple]) -> dict:
    """Expected run_pipeline output for the relation mentions of a corpus."""
    unique: dict[tuple, int] = {}
    for *key, part in relations:
        k = tuple(key)
        unique[k] = min(part, unique.get(k, part))
    canonical: dict[str, str] = {}
    for ss, _st, _p, os_, _ot in unique:
        for s in (ss, os_):
            n = _normalize(s)
            canonical[n] = min(s, canonical.get(n, s))

    def ent(surface: str, typ: str) -> tuple[str, str]:
        canon = canonical[_normalize(surface)]
        return EX + typ.lower() + "/" + re.sub(r"\s", "_", _normalize(canon)), canon

    triples: dict[tuple, int] = {}

    def add(key: tuple, part: int) -> None:
        triples[key] = min(part, triples.get(key, part))

    for (ss, st, p, os_, ot), part in unique.items():
        s_iri, s_lab = ent(ss, st)
        o_iri, o_lab = ent(os_, ot)
        add((s_iri, p, "iri", o_iri, None, None, KG_GRAPH), part)
        add((s_iri, RDF_TYPE, "iri", TYPE_IRIS[st], None, None, KG_GRAPH), part)
        add((o_iri, RDF_TYPE, "iri", TYPE_IRIS[ot], None, None, KG_GRAPH), part)
        add((s_iri, RDFS_LABEL, "literal", s_lab, XSD_STRING, None, KG_GRAPH), part)
        add((o_iri, RDFS_LABEL, "literal", o_lab, XSD_STRING, None, KG_GRAPH), part)

    typed: dict[tuple[str, str], int] = {}
    employers: dict[str, set] = {}
    based: set = set()
    for (s, p, _k, o, *_rest), part in triples.items():
        if p == RDF_TYPE:
            typed[(s, o)] = part
        elif p == WORKS_AT:
            employers.setdefault(s, set()).add(o)
        elif p == BASED_IN:
            based.add(s)
    violations = {str(part): 0 for part in set(triples.values())}
    for (s, cls), part in typed.items():
        bad = (cls == EX + "Organization" and s not in based) or (
            cls == EX + "Person" and len(employers.get(s, ())) > KG_MAX_EMPLOYERS
        )
        violations[str(part)] += int(bad)
    return {
        "triples": len(triples),
        "checksum": str(set_checksum(k + (part,) for k, part in triples.items())),
        "violations_per_part": violations,
    }


# ----------------------------------------------------- plugin_af_requests
AF_SHAPES_GRAPH = EX + "graph/af-shapes"
AF_ONTOLOGY_GRAPH = EX + "graph/ontology"
AF_REPORT_GRAPH = EX + "graph/report"
AF_MAX_NAME = 12
AF_COMPONENT = EX + "MaxLengthComponent"


def af_data_graph(k: int) -> str:
    return f"{EX}graph/request/{k}"


def _lit(s, p, value, dt, g):
    return (s, p, "literal", value, dt, None, g, 0)


def _iri(s, p, o, g):
    return (s, p, "iri", o, None, None, g, 0)


def af_shapes_rows() -> list[tuple]:
    """SHACL-AF catalog: a sh:sparql SELECT constraint, a custom constraint
    component with an ASK property validator, a SPARQL target and a
    sh:TripleRule whose derived type another shape targets."""
    g = AF_SHAPES_GRAPH
    age_select = f"SELECT $this ?age WHERE {{ $this <{EX}age> ?age . FILTER (?age < 18) }}"
    return [
        _iri(g, RDF_TYPE, SHAPE_CATALOG_TYPE, g),
        # sh:sparql SELECT: every minor
        _iri(EX + "AgeShape", RDF_TYPE, SH + "NodeShape", g),
        _iri(EX + "AgeShape", SH + "targetClass", EX + "Person", g),
        _iri(EX + "AgeShape", SH + "sparql", EX + "AgeShape/minor", g),
        _lit(EX + "AgeShape/minor", SH + "select", age_select, None, g),
        _lit(EX + "AgeShape/minor", SH + "message", "person is a minor", None, g),
        # custom component, ASK property validator: names longer than maxLength
        _iri(AF_COMPONENT, RDF_TYPE, SH + "ConstraintComponent", g),
        _iri(AF_COMPONENT, SH + "parameter", AF_COMPONENT + "/param", g),
        _iri(AF_COMPONENT + "/param", SH + "path", EX + "maxLength", g),
        _iri(AF_COMPONENT, SH + "propertyValidator", AF_COMPONENT + "/validator", g),
        _lit(AF_COMPONENT + "/validator", SH + "ask",
             "ASK { FILTER (STRLEN(?value) <= $maxLength) }", None, g),
        _lit(AF_COMPONENT + "/validator", SH + "message", "name too long", None, g),
        _iri(EX + "NameShape", RDF_TYPE, SH + "NodeShape", g),
        _iri(EX + "NameShape", SH + "targetClass", EX + "Person", g),
        _iri(EX + "NameShape", SH + "property", EX + "NameShape/name", g),
        _iri(EX + "NameShape/name", SH + "path", EX + "name", g),
        _lit(EX + "NameShape/name", EX + "maxLength", str(AF_MAX_NAME), XSD_INTEGER, g),
        # SPARQL target: everyone somebody knows must work somewhere
        _iri(EX + "KnownShape", RDF_TYPE, SH + "NodeShape", g),
        _iri(EX + "KnownShape", SH + "target", EX + "KnownShape/target", g),
        _iri(EX + "KnownShape/target", RDF_TYPE, SH + "SPARQLTarget", g),
        _lit(EX + "KnownShape/target", SH + "select",
             f"SELECT ?this WHERE {{ ?s <{EX}knows> ?this }}", None, g),
        _iri(EX + "KnownShape", SH + "property", EX + "KnownShape/works", g),
        _iri(EX + "KnownShape/works", SH + "path", EX + "worksFor", g),
        _lit(EX + "KnownShape/works", SH + "minCount", "1", XSD_INTEGER, g),
        # sh:rule: every person is an agent; agents need an email
        _iri(EX + "RuleShape", RDF_TYPE, SH + "NodeShape", g),
        _iri(EX + "RuleShape", SH + "targetClass", EX + "Person", g),
        _iri(EX + "RuleShape", SH + "rule", EX + "RuleShape/agent", g),
        _iri(EX + "RuleShape/agent", RDF_TYPE, SH + "TripleRule", g),
        _iri(EX + "RuleShape/agent", SH + "subject", SH + "this", g),
        _iri(EX + "RuleShape/agent", SH + "predicate", RDF_TYPE, g),
        _iri(EX + "RuleShape/agent", SH + "object", EX + "Agent", g),
        _iri(EX + "AgentShape", RDF_TYPE, SH + "NodeShape", g),
        _iri(EX + "AgentShape", SH + "targetClass", EX + "Agent", g),
        _iri(EX + "AgentShape", SH + "property", EX + "AgentShape/email", g),
        _iri(EX + "AgentShape/email", SH + "path", EX + "email", g),
        _lit(EX + "AgentShape/email", SH + "minCount", "1", XSD_INTEGER, g),
    ]


def af_ontology_rows() -> list[tuple]:
    g = AF_ONTOLOGY_GRAPH
    return [
        _iri(g, RDF_TYPE, OWL_ONTOLOGY, g),
        _iri(EX + "Engineer", RDFS_SUBCLASSOF, EX + "Employee", g),
        _iri(EX + "Employee", RDFS_SUBCLASSOF, EX + "Person", g),
    ]


def gen_plugin_af_requests(seed: int, size: tuple[int, int], path: str) -> tuple[dict, dict]:
    """``size`` = (named data graphs, persons per graph). Persons are typed
    only by subclasses of ex:Person, so the RDFS ontology decides who the
    shapes target."""
    n_graphs, n_persons = size
    rng = np.random.default_rng([seed, 2])
    rows = af_shapes_rows() + af_ontology_rows()
    expected = []
    for k in range(n_graphs):
        g = af_data_graph(k)
        rows.append(_iri(g, RDF_TYPE, DATASET_TYPE, g))
        person = [f"{g}/person/{i}" for i in range(n_persons)]
        minor = rng.random(n_persons) < 0.1
        long_name = rng.random(n_persons) < 0.08
        no_email = rng.random(n_persons) < 0.12
        no_work = rng.random(n_persons) < 0.15
        ages = np.where(minor, rng.integers(5, 18, n_persons), rng.integers(18, 90, n_persons))
        knows = rng.integers(0, n_persons, (n_persons, 2))
        n_orgs = max(1, n_persons // 20)
        works = rng.integers(0, n_orgs, n_persons)
        for j in range(n_orgs):
            rows.append(_iri(f"{g}/org/{j}", RDF_TYPE, EX + "Organization", g))
        for i, s in enumerate(person):
            rows.append(_iri(s, RDF_TYPE, EX + ("Engineer" if i % 3 else "Employee"), g))
            name = f"Person{i}" + ("-with-a-long-name" if long_name[i] else "")
            rows.append(_lit(s, EX + "name", name, XSD_STRING, g))
            rows.append(_lit(s, EX + "age", str(int(ages[i])), XSD_INTEGER, g))
            if not no_email[i]:
                rows.append(_lit(s, EX + "email", f"p{i}@example.org", XSD_STRING, g))
            if not no_work[i]:
                rows.append(_iri(s, EX + "worksFor", f"{g}/org/{works[i]}", g))
            for t in set(knows[i].tolist()):
                rows.append(_iri(s, EX + "knows", person[t], g))
        known = set(knows.ravel().tolist())
        expected.append(
            {
                EX + "AgeShape/minor": int(minor.sum()),
                EX + "NameShape/name": int(long_name.sum()),
                EX + "KnownShape/works": sum(1 for i in known if no_work[i]),
                EX + "AgentShape/email": int(no_email.sum()),
            }
        )
    rows.sort(key=lambda r: r[6])
    # small row groups sorted by graph: a request's `graph IN (...)` filter
    # reads only the row groups of its own graphs
    pq.write_table(_triples_table(rows), os.path.join(path, "store.parquet"), row_group_size=2048)
    golden = {"results_per_request": [sum(e.values()) for e in expected], "by_shape": expected}
    return golden, {"graphs": n_graphs, "store_triples": len(rows),
                    "graph_triples": (len(rows) - len(af_shapes_rows()) - 3) // n_graphs}


GENERATORS = {"kg_build": gen_kg_build, "plugin_af_requests": gen_plugin_af_requests}
SCALES = {
    "kg_build": {"tiny": 400, "bench": 12_000, "full": 100_000},
    "plugin_af_requests": {"tiny": (4, 60), "bench": (64, 300), "full": (64, 1500)},
}

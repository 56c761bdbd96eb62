"""One term rule from plan to wire: every value gets the same kind
(``uri`` | ``bnode`` | ``literal``) and lexical form in every result
format, through the HTTP server and ``cli.run``, in N-Triples through
CONSTRUCT, and in the FILTER functions ``isIRI``/``isLiteral``/
``isBlank``."""

from __future__ import annotations

import csv
import io
import json
import re
import xml.etree.ElementTree as ET
from urllib.parse import urlencode
from urllib.request import urlopen

import pytest

from ontario_spark.catalog import serde
from ontario_spark.catalog.model import (
    Catalog,
    DataSource,
    LogicalSource,
    TripleMap,
    ref,
    tpl,
)
from ontario_spark.catalog.tpch_rdf import EX, tpch_catalog
from ontario_spark.cli import run
from ontario_spark.compiler.query import SparqlEngine
from ontario_spark.server import SparqlHTTPServer

NS = "http://ex.org/terms/"
VIEW = "term_values"
# one row per case: (value, variable it binds, kind, lexical form);
# kind None = unbound
CASES = [
    ("http://x.ex/a", "s", "uri", "http://x.ex/a"),
    ("https://x.ex/a", "s", "uri", "https://x.ex/a"),
    ("urn:isbn:0451450523", "s", "uri", "urn:isbn:0451450523"),
    ("mailto:a@x.ex", "s", "uri", "mailto:a@x.ex"),
    ("ftp://x.ex/f", "s", "uri", "ftp://x.ex/f"),
    ("s3://bucket/key", "s", "uri", "s3://bucket/key"),
    ("_:b0", "s", "bnode", "_:b0"),
    ("plain", "s", "literal", "plain"),
    ('a,"b"\nc', "s", "literal", 'a,"b"\nc'),
    ("<&>", "s", "literal", "<&>"),
    ("http://a b", "s", "literal", "http://a b"),
    (True, "b", "literal", "true"),
    (1e7, "d", "literal", "1.0E7"),
    (None, "s", None, None),
]
IDS = [f"{i}-{c[0]!r}" for i, c in enumerate(CASES)]
VARS = ["s", "b", "d"]
SELECT = (
    f"PREFIX t: <{NS}>\nSELECT ?id ?s ?b ?d WHERE {{ ?r t:id ?id . "
    "OPTIONAL { ?r t:s ?s } OPTIONAL { ?r t:b ?b } OPTIONAL { ?r t:d ?d } }"
)
CONSTRUCT = (
    f"PREFIX t: <{NS}>\nCONSTRUCT {{ ?r t:s ?s . ?r t:b ?b . ?r t:d ?d }} "
    "WHERE { ?r t:id ?id . OPTIONAL { ?r t:s ?s } OPTIONAL { ?r t:b ?b } "
    "OPTIONAL { ?r t:d ?d } }"
)
FORMATS = ["json", "srj", "csv", "tsv", "xml"]


def _catalog() -> Catalog:
    cat = Catalog()
    cat.add(
        DataSource("terms", "view"),
        TripleMap(
            "Term",
            LogicalSource(VIEW),
            tpl(NS + "{id}"),
            predicates=tuple((NS + c, ref(c)) for c in ["id", *VARS]),
        ),
    )
    return cat


@pytest.fixture(scope="module")
def surfaces(spark, tmp_path_factory):
    """Every surface's answer, parsed to ``{id: {var: (kind, lexical)}}``
    (CSV carries no kind: ``None``)."""
    rows = [
        (i, *(v if var == x else None for x in VARS))
        for i, (v, var, _, _) in enumerate(CASES)
    ]
    spark.createDataFrame(
        rows, "id long, s string, b boolean, d double"
    ).createOrReplaceTempView(VIEW)
    cat = _catalog()
    path = str(tmp_path_factory.mktemp("terms") / "cat.json")
    serde.save(cat, path)
    engine = SparqlEngine(spark, cat)
    srv = SparqlHTTPServer(engine).start()
    try:
        out = {}
        for fmt in FORMATS:
            q = urlencode({"query": SELECT, "format": fmt})
            with urlopen(f"http://127.0.0.1:{srv.port}/sparql?{q}", timeout=120) as r:
                out["server", fmt] = _parse(fmt, r.read().decode())
            got = run(path, SELECT, spark=spark, results_format=fmt)
            text = json.dumps(got) if fmt == "json" else got["serialized"]
            out["cli", fmt] = _parse(fmt, text)
        q = urlencode({"query": CONSTRUCT, "format": "nt"})
        with urlopen(f"http://127.0.0.1:{srv.port}/sparql?{q}", timeout=120) as r:
            out["server", "nt"] = _parse_nt(r.read().decode())
        for fn in ("isIRI", "isLiteral", "isBlank"):
            for var in VARS:
                hits = engine.query(
                    f"PREFIX t: <{NS}>\nSELECT ?id WHERE "
                    f"{{ ?r t:id ?id ; t:{var} ?v . FILTER({fn}(?v)) }}"
                ).collect()
                out[fn, var] = {int(r["id"]) for r in hits}
        yield out
    finally:
        srv.stop()
        spark.catalog.dropTempView(VIEW)


def _by_id(bindings) -> dict:
    """{id: {var: (kind, lexical)}} from SPARQL-JSON bindings."""
    out = {}
    for b in bindings:
        out[int(b["id"]["value"])] = {
            v: (t["type"], ("_:" if t["type"] == "bnode" else "") + t["value"])
            for v, t in b.items()
            if v != "id"
        }
    return out


def _nt_term(tok: str):
    if tok == "":
        return None
    if tok.startswith("<"):
        return "uri", tok[1:-1]
    if tok.startswith("_:"):
        return "bnode", tok
    unescaped = re.sub(
        r"\\(.)", lambda m: {"n": "\n", "r": "\r", "t": "\t"}.get(m[1], m[1]),
        tok[1:-1],
    )
    return "literal", unescaped


def _parse(fmt: str, text: str) -> dict:
    if fmt == "json":
        return _by_id(json.loads(text)["result"])
    if fmt == "srj":
        return _by_id(json.loads(text)["results"]["bindings"])
    out = {}
    if fmt == "csv":
        records = list(csv.reader(io.StringIO(text, newline="")))
        head = records[0]
        for rec in records[1:]:
            row = dict(zip(head, rec))
            key = int(row.pop("id"))
            out[key] = {v: (None, x) for v, x in row.items() if x}
        return out
    if fmt == "tsv":
        lines = text.split("\n")
        head = [h[1:] for h in lines[0].split("\t")]
        for line in lines[1:]:
            if line:
                row = dict(zip(head, map(_nt_term, line.split("\t"))))
                key = int(row.pop("id")[1])
                out[key] = {v: t for v, t in row.items() if t}
        return out
    ns = "{http://www.w3.org/2005/sparql-results#}"
    for result in ET.fromstring(text).iter(f"{ns}result"):
        row = {}
        for b in result:
            kind = b[0].tag[len(ns):]
            row[b.get("name")] = (kind, ("_:" if kind == "bnode" else "") + b[0].text)
        out[int(row.pop("id")[1])] = row
    return out


def _parse_nt(text: str) -> dict:
    out = {}
    for line in filter(None, text.split("\n")):
        subj, pred, obj = line[:-2].split(" ", 2)
        out.setdefault(int(subj[1:-1].rsplit("/", 1)[1]), {})[
            pred[1:-1][len(NS):]
        ] = _nt_term(obj)
    return out


@pytest.mark.parametrize("case", range(len(CASES)), ids=IDS)
def test_term_kind_and_lexical_form_agree_everywhere(surfaces, case):
    _, var, kind, lexical = CASES[case]
    want = {} if kind is None else {var: (kind, lexical)}
    for fmt in FORMATS:
        for via in ("server", "cli"):
            got = surfaces[via, fmt][case]
            if fmt == "csv":  # CSV writes the lexical form only
                assert got == {v: (None, x) for v, (_, x) in want.items()}, (via, fmt)
            else:
                assert got == want, (via, fmt)
    assert surfaces["server", "nt"].get(case, {}) == want
    for fn, k in (("isIRI", "uri"), ("isLiteral", "literal"), ("isBlank", "bnode")):
        assert (case in surfaces[fn, var]) == (kind == k), fn


def test_graph_name_is_an_iri(spark, sf_small):
    """``urn:graph:<source>`` names are IRIs on the wire and in FILTER."""
    engine = SparqlEngine(spark, tpch_catalog(sf_small))
    query = (
        f"PREFIX ex: <{EX}>\nSELECT ?g WHERE "
        "{ GRAPH ?g { ?n a ex:Nation } FILTER(isIRI(?g)) }"
    )
    srv = SparqlHTTPServer(engine).start()
    try:
        q = urlencode({"query": query, "format": "srj"})
        with urlopen(f"http://127.0.0.1:{srv.port}/sparql?{q}", timeout=120) as r:
            bindings = json.loads(r.read().decode())["results"]["bindings"]
    finally:
        srv.stop()
    assert len(bindings) == 25
    assert {b["g"]["type"] for b in bindings} == {"uri"}
    assert {b["g"]["value"] for b in bindings} == {"urn:graph:tpch_lake"}


@pytest.mark.xfail(
    strict=True,
    reason="lang/datatype carry to the wire: BFrame.project drops the "
    "__lang/__dt side columns (ROADMAP direction 3 follow-up)",
)
def test_service_lang_tag_reaches_srj(spark, sf_small):
    """A SERVICE binding {"type": "literal", "value": "chat",
    "xml:lang": "en"} (arriving as the executor's ``__type``/``__lang``
    side keys) keeps its ``xml:lang`` in the srj document."""

    def endpoint(query):
        return [{"w": "chat", "w__type": "literal", "w__lang": "en"}]

    engine = SparqlEngine(
        spark, tpch_catalog(sf_small),
        service_executors={"http://remote.example/sparql": endpoint},
    )
    query = (
        f"PREFIX ex: <{EX}>\nSELECT ?w WHERE "
        "{ SERVICE <http://remote.example/sparql> { ?x ex:word ?w } }"
    )
    srv = SparqlHTTPServer(engine).start()
    try:
        q = urlencode({"query": query, "format": "srj"})
        with urlopen(f"http://127.0.0.1:{srv.port}/sparql?{q}", timeout=120) as r:
            bindings = json.loads(r.read().decode())["results"]["bindings"]
    finally:
        srv.stop()
    assert bindings == [{"w": {"type": "literal", "value": "chat", "xml:lang": "en"}}]

"""HTTP endpoint tests — reference parity for the Flask /sparql API
(response shape per reference README.md:205-219) incl. the
non-blocking /nextresult protocol."""

from __future__ import annotations

import json
from urllib.parse import urlencode
from urllib.request import Request, urlopen

import pytest

from ontario_spark.catalog.tpch_rdf import EX, tpch_catalog
from ontario_spark.compiler.query import SparqlEngine
from ontario_spark.server import SparqlHTTPServer

QUERY = (
    f"PREFIX ex: <{EX}>\n"
    "SELECT ?c ?name WHERE { ?c a ex:Customer ; ex:name ?name } LIMIT 5"
)

ASK_QUERY = (
    f"PREFIX ex: <{EX}>\n"
    "ASK { ?c a ex:Customer ; ex:acctbal ?b . FILTER(?b > 0.0) }"
)

CONSTRUCT_QUERY = (
    f"PREFIX ex: <{EX}>\n"
    "CONSTRUCT { ?c <http://ex.org/hasName> ?name } WHERE "
    "{ ?c a ex:Customer ; ex:name ?name }"
)


@pytest.fixture(scope="module")
def server(spark, sf_small):
    srv = SparqlHTTPServer(SparqlEngine(spark, tpch_catalog(sf_small))).start()
    yield srv
    srv.stop()


def _get(url: str) -> dict:
    with urlopen(url, timeout=120) as r:
        return json.loads(r.read().decode())


def test_blocking_query(server):
    from urllib.parse import urlencode

    out = _get(f"http://127.0.0.1:{server.port}/sparql?" + urlencode({"query": QUERY}))
    assert out["vars"] == ["c", "name"]
    assert out["totalRows"] == 5 and len(out["result"]) == 5
    assert out["execTime"] >= out["firstResult"] >= 0
    b = out["result"][0]
    assert b["c"]["type"] == "uri" and b["name"]["type"] == "literal"


def test_post_sparql_query_body(server):
    req = Request(
        f"http://127.0.0.1:{server.port}/sparql",
        data=QUERY.encode(),
        headers={"Content-Type": "application/sparql-query"},
    )
    with urlopen(req, timeout=120) as r:
        out = json.loads(r.read().decode())
    assert out["totalRows"] == 5


def test_non_blocking_nextresult(server):
    from urllib.parse import urlencode

    q = urlencode({"query": QUERY, "mode": "non-blocking"})
    out = _get(f"http://127.0.0.1:{server.port}/sparql?{q}")
    qid = out["qid"]
    seen = []
    for _ in range(10):
        nxt = _get(f"http://127.0.0.1:{server.port}/nextresult?qid={qid}")
        if nxt["result"] == "EOF":
            break
        seen.append(nxt["result"])
    assert len(seen) == 5
    # drained qid is forgotten
    with pytest.raises(Exception):
        _get(f"http://127.0.0.1:{server.port}/nextresult?qid={qid}")


def test_bad_query_is_400(server):
    from urllib.error import HTTPError
    from urllib.parse import urlencode

    q = urlencode({"query": "SELECT WHERE nonsense"})
    with pytest.raises(HTTPError) as ei:
        _get(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert ei.value.code == 400


def test_concurrent_nextresult_no_generator_race(server):
    """ThreadingHTTPServer serves each request on its own thread: two
    clients polling the same qid simultaneously must serialize on the
    per-query lock instead of hitting 'generator already executing'."""
    import threading
    from urllib.parse import urlencode

    base = f"http://127.0.0.1:{server.port}"
    out = _get(
        f"{base}/sparql?" + urlencode({"query": QUERY, "mode": "non-blocking"})
    )
    qid = out["qid"]
    results, errors = [], []

    def drain():
        try:
            while True:
                r = _get(f"{base}/nextresult?qid={qid}")
                if r.get("result") == "EOF" or "error" in r:
                    if "error" in r:
                        errors.append(r["error"])
                    return
                results.append(r["result"])
        except Exception as ex:  # pragma: no cover
            errors.append(str(ex))

    threads = [threading.Thread(target=drain) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    # unknown-qid errors are fine after EOF cleanup; generator races not
    assert not any("generator" in e for e in errors), errors
    assert len(results) == 5


def test_pending_is_bounded(server):
    from urllib.parse import urlencode

    base = f"http://127.0.0.1:{server.port}"
    for _ in range(3):
        _get(f"{base}/sparql?" + urlencode({"query": QUERY, "mode": "non-blocking"}))
    assert len(server._pending) <= SparqlHTTPServer.MAX_PENDING


def test_blocking_mode_streams_without_collect(server, spark):
    """Round-5: blocking /sparql must serve through toLocalIterator —
    never a driver-side collect() of the result set. Proven by
    poisoning DataFrame.collect for the request window (the server
    shares this process) and fetching a NO-LIMIT result bigger than
    one partition batch; the chunked payload must still be complete
    and correctly shaped."""
    from urllib.parse import urlencode

    from pyspark.sql import DataFrame

    q = (
        f"PREFIX ex: <{EX}>\n"
        "SELECT ?c ?name WHERE { ?c a ex:Customer ; ex:name ?name }"
    )
    orig = DataFrame.collect
    def poisoned(self):
        raise AssertionError("blocking /sparql called DataFrame.collect()")
    DataFrame.collect = poisoned
    try:
        out = _get(
            f"http://127.0.0.1:{server.port}/sparql?" + urlencode({"query": q})
        )
    finally:
        DataFrame.collect = orig
    assert out["vars"] == ["c", "name"]
    assert out["totalRows"] == len(out["result"]) == 150
    assert out["execTime"] >= out["firstResult"] >= 0
    assert out["result"][0]["c"]["type"] == "uri"


def _get_raw(url: str):
    with urlopen(url, timeout=120) as r:
        return r.headers.get("Content-Type"), r.read().decode()


def test_blocking_csv_format(server):
    from urllib.parse import urlencode

    q = urlencode({"query": QUERY, "format": "csv"})
    ctype, body = _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert ctype.startswith("text/csv")
    lines = body.split("\r\n")
    assert lines[0] == "c,name"
    assert len([l for l in lines[1:] if l]) == 5
    # IRIs bare (no angle brackets) in CSV
    assert lines[1].startswith("http://ex.org/tpch/customer/")


def test_blocking_tsv_format(server):
    from urllib.parse import urlencode

    q = urlencode({"query": QUERY, "format": "tsv"})
    ctype, body = _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert ctype.startswith("text/tab-separated-values")
    lines = body.strip().split("\n")
    assert lines[0] == "?c\t?name"
    iri, lit = lines[1].split("\t")
    assert iri.startswith("<http://") and iri.endswith(">")
    assert lit.startswith('"') and lit.endswith('"')


def test_blocking_xml_format(server):
    import xml.etree.ElementTree as ET
    from urllib.parse import urlencode

    q = urlencode({"query": QUERY, "format": "xml"})
    ctype, body = _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert ctype.startswith("application/sparql-results+xml")
    root = ET.fromstring(body)
    ns = "{http://www.w3.org/2005/sparql-results#}"
    vars_ = [v.get("name") for v in root.find(f"{ns}head")]
    assert vars_ == ["c", "name"]
    results = root.find(f"{ns}results").findall(f"{ns}result")
    assert len(results) == 5
    kinds = {b.get("name"): b[0].tag for b in results[0]}
    assert kinds == {"c": f"{ns}uri", "name": f"{ns}literal"}


def test_unknown_format_is_400(server):
    from urllib.error import HTTPError
    from urllib.parse import urlencode

    q = urlencode({"query": QUERY, "format": "turtle"})
    with pytest.raises(HTTPError) as ei:
        _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert ei.value.code == 400


def _frame(spark, rows, ddl):
    """A one-partition frame, so ``toLocalIterator`` keeps row order."""
    return spark.createDataFrame(rows, ddl).coalesce(1)


def test_csv_quoting_and_tsv_escapes(spark):
    """RFC 4180 quoting and TSV ECHAR escapes on adversarial values."""
    from ontario_spark.sinks import stream

    df = _frame(spark, [('a,"b"\nc',), ("tab\there",), (None,)], "v string")
    csv_out = "".join(stream(df, "csv"))
    assert '"a,""b""\nc"' in csv_out
    assert csv_out.endswith("\r\n")
    tsv_out = "".join(stream(df, "tsv"))
    assert '"tab\\there"' in tsv_out
    assert tsv_out.splitlines()[3] == ""  # unbound → empty field


def test_accept_header_negotiation(server):
    from urllib.parse import urlencode

    req = Request(
        f"http://127.0.0.1:{server.port}/sparql?"
        + urlencode({"query": QUERY}),
        headers={"Accept": "text/csv"},
    )
    with urlopen(req, timeout=120) as r:
        assert r.headers.get("Content-Type").startswith("text/csv")
        assert r.read().decode().splitlines()[0] == "c,name"


def test_negotiate_q_values():
    from ontario_spark.server import _negotiate

    # q=0 refuses a format even when listed first; the W3C json mime
    # maps to the W3C srj document (round-8)
    assert _negotiate("text/csv;q=0, application/sparql-results+json") == "srj"
    # highest q wins regardless of listing order
    assert (
        _negotiate("text/csv;q=0.3, application/sparql-results+xml;q=0.9")
        == "xml"
    )
    # equal q: client listing order breaks the tie
    assert _negotiate("text/tab-separated-values, text/csv") == "tsv"
    # unknown types fall through to the JSON default (None)
    assert _negotiate("text/html, image/png") is None
    assert _negotiate("") is None


def test_negotiate_wildcards_rfc7231():
    """RFC 7231 §5.3.2: wildcard media ranges match the supported
    formats at their stated q; the MOST SPECIFIC matching range
    decides each format's q (round-7 advice: wildcards were ignored
    entirely, so ``application/json;q=0, */*`` 406'd)."""
    from ontario_spark.server import NOT_ACCEPTABLE, _negotiate

    # bare */* serves the default legacy json (server preference)
    assert _negotiate("*/*") == "json"
    # the reproduced ADVICE case: json refused at the exact level,
    # everything else allowed by */* → a non-legacy format
    got = _negotiate("application/json;q=0, */*")
    assert got is not None and got != "json" and got != NOT_ACCEPTABLE
    # subtype wildcards match their major type only
    assert _negotiate("text/*") in ("csv", "tsv")
    assert _negotiate("application/*") == "json"
    # exact beats wildcard regardless of q order
    assert _negotiate("*/*;q=1, text/csv;q=0.5") == "json"
    assert _negotiate("text/csv, */*;q=0.1") == "csv"
    # */*;q=0 refuses everything incl. the default → 406 sentinel
    assert _negotiate("*/*;q=0") == NOT_ACCEPTABLE
    # exact q=0 under an allowing wildcard refuses just that format
    assert _negotiate("text/*, text/csv;q=0") == "tsv"
    # malformed q is IGNORED (param dropped → q=1), not a refusal
    assert _negotiate("text/csv;q=abc") == "csv"
    assert _negotiate("application/json;q=oops") == "json"


def test_wildcard_accept_end_to_end(server):
    """The live reproduction from the round-7 verdict: a client that
    refuses the legacy json but offers */* must get 200 in some other
    supported format — previously 406."""
    req = Request(
        f"http://127.0.0.1:{server.port}/sparql?"
        + urlencode({"query": QUERY}),
        headers={"Accept": "application/json;q=0, */*"},
    )
    with urlopen(req, timeout=120) as r:
        assert r.status == 200
        ctype = r.headers.get("Content-Type")
        assert not ctype.startswith("application/json"), ctype
        r.read()


def test_blocking_srj_format(server):
    """?format=srj serves the W3C SPARQL 1.1 Query Results JSON
    document with its registered media type (round-7: this returned
    HTTP 400 — the format passed validation but had no dispatch)."""
    q = urlencode({"query": QUERY, "format": "srj"})
    ctype, body = _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert ctype.startswith("application/sparql-results+json")
    doc = json.loads(body)
    assert doc["head"]["vars"] == ["c", "name"]
    bindings = doc["results"]["bindings"]
    assert len(bindings) == 5
    assert bindings[0]["c"]["type"] == "uri"
    assert bindings[0]["name"]["type"] == "literal"
    # the W3C document has no legacy keys
    assert "result" not in doc and "vars" not in doc


def test_accept_w3c_json_negotiates_srj(server):
    """Accept: application/sparql-results+json → the W3C document
    under the W3C media type; Accept: application/json keeps the
    legacy shape (round-7 advice item 2)."""
    base = f"http://127.0.0.1:{server.port}/sparql?" + urlencode(
        {"query": QUERY}
    )
    req = Request(
        base, headers={"Accept": "application/sparql-results+json"}
    )
    with urlopen(req, timeout=120) as r:
        assert r.headers.get("Content-Type").startswith(
            "application/sparql-results+json"
        )
        doc = json.loads(r.read().decode())
    assert set(doc) == {"head", "results"}
    assert len(doc["results"]["bindings"]) == 5

    req = Request(base, headers={"Accept": "application/json"})
    with urlopen(req, timeout=120) as r:
        assert r.headers.get("Content-Type").startswith("application/json")
        legacy = json.loads(r.read().decode())
    assert legacy["vars"] == ["c", "name"] and legacy["totalRows"] == 5


def test_406_message_formats_all_serve_200(server):
    """The invariant round 7 broke: every media type the 406 help text
    advertises as supported must actually serve 200 when requested
    via Accept."""
    from ontario_spark.server import _ACCEPT_FORMATS

    from ontario_spark import sinks

    for mime, fmt in _ACCEPT_FORMATS.items():
        # negotiation is query-form-aware: a graph format needs a
        # graph query to be on offer (a SELECT simply keeps its
        # default for an N-Triples Accept)
        query = CONSTRUCT_QUERY if fmt in sinks.GRAPH_FORMATS else QUERY
        req = Request(
            f"http://127.0.0.1:{server.port}/sparql?"
            + urlencode({"query": query}),
            headers={"Accept": mime},
        )
        with urlopen(req, timeout=120) as r:
            assert r.status == 200, mime
            assert r.headers.get("Content-Type").split(";")[0] == mime.split(";")[0], mime
            r.read()
    # and ?format= accepts every registered format key (graph formats
    # against a graph query)
    for fmt in sinks.RESULT_MIME:
        query = CONSTRUCT_QUERY if fmt in sinks.GRAPH_FORMATS else QUERY
        q = urlencode({"query": query, "format": fmt})
        ctype, _ = _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
        assert ctype.split(";")[0] == sinks.RESULT_MIME[fmt].split(";")[0]


def test_format_registries_consistent():
    """Drift guard (the round-7 failure class): the format table, the
    Accept map, and the preference order must cover each other — a
    format advertised anywhere must be servable everywhere."""
    from ontario_spark import sinks
    from ontario_spark.server import _ACCEPT_FORMATS, _FORMAT_PREF

    assert set(sinks.RESULT_MIME) == set(sinks.FORMATS)
    assert set(_ACCEPT_FORMATS.values()) <= set(sinks.RESULT_MIME)
    assert set(_ACCEPT_FORMATS.values()) <= set(_FORMAT_PREF)
    assert set(_FORMAT_PREF) == set(sinks.RESULT_MIME)
    # per-query-form tables (round-9): boolean documents shadow
    # bindings formats; graph formats are disjoint from bindings; every
    # form table only names registered formats
    from ontario_spark.server import _FORM_FORMATS

    assert set(sinks.BOOLEAN_DOCS) <= set(sinks.FORMATS) - sinks.GRAPH_FORMATS
    assert sinks.GRAPH_FORMATS == {"nt", "ttl"}
    for form, fmts in _FORM_FORMATS.items():
        assert fmts <= set(sinks.RESULT_MIME), form
    assert _FORM_FORMATS["ask"] - {"json"} <= set(sinks.BOOLEAN_DOCS)
    assert _FORM_FORMATS["ask"].isdisjoint(sinks.ASK_UNSUPPORTED)
    assert sinks.GRAPH_FORMATS <= _FORM_FORMATS["construct"]


def test_ask_accept_w3c_json_boolean_document(server):
    """ASK negotiated via the W3C media type returns the W3C *boolean*
    document ({"head": {}, "boolean": …}), not a bindings document
    (round-9 advice: a standards client reads the `boolean` key)."""
    req = Request(
        f"http://127.0.0.1:{server.port}/sparql?"
        + urlencode({"query": ASK_QUERY}),
        headers={"Accept": "application/sparql-results+json"},
    )
    with urlopen(req, timeout=120) as r:
        assert r.status == 200
        assert r.headers.get("Content-Type").startswith(
            "application/sparql-results+json"
        )
        doc = json.loads(r.read().decode())
    assert doc == {"head": {}, "boolean": True}


def test_ask_xml_boolean_document(server):
    q = urlencode({"query": ASK_QUERY, "format": "xml"})
    ctype, body = _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert ctype.startswith("application/sparql-results+xml")
    assert "<boolean>true</boolean>" in body and "<results>" not in body
    # false case: an unsatisfiable pattern
    q = urlencode({
        "query": ASK_QUERY.replace("?b > 0.0", "?b > 1.0E18"),
        "format": "srj",
    })
    ctype, body = _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert json.loads(body) == {"head": {}, "boolean": False}


def test_ask_csv_format_is_400(server):
    q = urlencode({"query": ASK_QUERY, "format": "csv"})
    with pytest.raises(Exception) as ex:
        urlopen(f"http://127.0.0.1:{server.port}/sparql?{q}", timeout=120)
    assert "400" in str(ex.value)


def test_ask_csv_accept_falls_back_to_json(server):
    """Accept: text/csv on an ASK: csv is not on the ASK format menu,
    so negotiation keeps the legacy JSON default instead of picking an
    unservable format."""
    req = Request(
        f"http://127.0.0.1:{server.port}/sparql?"
        + urlencode({"query": ASK_QUERY}),
        headers={"Accept": "text/csv"},
    )
    with urlopen(req, timeout=120) as r:
        assert r.status == 200
        assert r.headers.get("Content-Type").startswith("application/json")
        out = json.loads(r.read().decode())
    assert out["vars"] == ["ask"]


def test_construct_nt_streams_ntriples(server):
    """?format=nt on a CONSTRUCT streams application/n-triples."""
    q = urlencode({"query": CONSTRUCT_QUERY, "format": "nt"})
    ctype, body = _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert ctype.startswith("application/n-triples")
    lines = [ln for ln in body.split("\n") if ln]
    assert len(lines) > 0
    for ln in lines:
        assert ln.startswith("<http://ex.org/tpch/customer/")
        assert " <http://ex.org/hasName> " in ln
        assert ln.endswith(" .")


def test_construct_accept_ntriples_negotiates_nt(server):
    req = Request(
        f"http://127.0.0.1:{server.port}/sparql?"
        + urlencode({"query": CONSTRUCT_QUERY}),
        headers={"Accept": "application/n-triples"},
    )
    with urlopen(req, timeout=120) as r:
        assert r.status == 200
        assert r.headers.get("Content-Type").startswith(
            "application/n-triples"
        )
        body = r.read().decode()
    assert " <http://ex.org/hasName> " in body


def test_select_nt_format_is_400(server):
    q = urlencode({"query": QUERY, "format": "nt"})
    with pytest.raises(Exception) as ex:
        urlopen(f"http://127.0.0.1:{server.port}/sparql?{q}", timeout=120)
    assert "400" in str(ex.value)


def test_select_accept_ntriples_keeps_default(server):
    """Accept: application/n-triples on a SELECT: nt is not on the
    SELECT menu — the request keeps the legacy JSON default."""
    req = Request(
        f"http://127.0.0.1:{server.port}/sparql?"
        + urlencode({"query": QUERY}),
        headers={"Accept": "application/n-triples"},
    )
    with urlopen(req, timeout=120) as r:
        assert r.status == 200
        assert r.headers.get("Content-Type").startswith("application/json")
        r.read()


def test_srj_serializer_unit(spark):
    """The srj document: empty results, unbound variables, comma
    placement (round-7 advice: the serializer shipped untested)."""
    from ontario_spark.sinks import stream

    ddl = "a string, b string"
    empty = json.loads("".join(stream(_frame(spark, [], ddl), "srj")))
    assert empty == {"head": {"vars": ["a", "b"]}, "results": {"bindings": []}}

    rows = [
        ("http://x/1", None),  # unbound b → omitted
        ("lit", "_:n0"),
        (None, None),  # fully unbound row → {}
    ]
    doc = json.loads("".join(stream(_frame(spark, rows, ddl), "srj")))
    b = doc["results"]["bindings"]
    assert len(b) == 3
    assert b[0] == {"a": {"type": "uri", "value": "http://x/1"}}
    assert b[1]["a"]["type"] == "literal" and b[1]["b"]["type"] == "bnode"
    assert b[2] == {}


def test_error_terminators_close_payloads_well_formed(spark):
    """Each streaming JSON format's mid-stream error terminator must
    close ITS nesting as well-formed JSON (round-8: the old shared
    terminator produced malformed srj bodies)."""
    from ontario_spark.server import SparqlHTTPServer
    from ontario_spark.sinks import stream

    df = _frame(spark, [("x",)], "v string")
    # srj: prefix + one row, then the terminator
    srj_parts = list(stream(df, "srj"))[:-1]
    term = SparqlHTTPServer._ERR_TERMINATORS["srj"] % json.dumps("boom")
    doc = json.loads("".join(srj_parts) + term)
    assert doc["error"] == "boom" and doc["truncated"] is True
    assert doc["results"]["bindings"][0]["v"]["value"] == "x"
    # legacy shape: header + one row, then the terminator
    legacy = "".join(list(stream(df, "json"))[:-1]) + (
        SparqlHTTPServer._ERR_TERMINATORS["json"] % json.dumps("boom")
    )
    doc = json.loads(legacy)
    assert doc["error"] == "boom" and doc["result"][0]["v"]["value"] == "x"


class _RaisingEngine:
    """Engine stand-in answering every query with a two-partition frame
    whose second partition fails lazily — exercises the chunked error
    path over real HTTP after one row has gone out."""

    def __init__(self, spark):
        from pyspark.sql import functions as F

        self.df = spark.range(0, 2, 1, 2).select(
            F.when(F.col("id") == 0, F.lit("http://x/1"))
            .otherwise(F.raise_error(F.lit("mid-stream boom")))
            .alias("v")
        )

    def query(self, text, default_graph_uris=None, named_graph_uris=None):
        return self.df


def test_srj_mid_stream_error_stays_well_formed_http(spark):
    srv = SparqlHTTPServer(_RaisingEngine(spark)).start()
    try:
        for fmt in ("srj", "json"):
            q = urlencode({"query": "SELECT ?v WHERE {}", "format": fmt})
            with urlopen(
                f"http://127.0.0.1:{srv.port}/sparql?{q}", timeout=30
            ) as r:
                assert r.status == 200
                body = r.read().decode()
            doc = json.loads(body)  # must stay well-formed JSON
            assert doc["truncated"] is True
            assert "mid-stream boom" in doc["error"]
    finally:
        srv.stop()


def test_all_json_refused_is_406(server):
    from urllib.error import HTTPError
    from urllib.parse import urlencode

    req = Request(
        f"http://127.0.0.1:{server.port}/sparql?"
        + urlencode({"query": QUERY}),
        headers={
            "Accept": "application/sparql-results+json;q=0, "
            "application/json;q=0"
        },
    )
    with pytest.raises(HTTPError) as ei:
        urlopen(req, timeout=120)
    assert ei.value.code == 406
    # refusing only an unsupported type still serves the JSON default
    from ontario_spark.server import _negotiate

    assert _negotiate("text/html;q=0") is None


def test_concurrent_blocking_queries(server):
    """ThreadingHTTPServer serves each request on its own thread; six
    parallel blocking queries with distinct limits must each get their
    own complete result (engine compile state is thread-local)."""
    from concurrent.futures import ThreadPoolExecutor
    from urllib.parse import urlencode

    from ontario_spark.catalog.tpch_rdf import EX

    def one(i: int) -> int:
        q = urlencode({
            "query": f"PREFIX ex: <{EX}>\n"
            "SELECT ?c ?name WHERE { ?c a ex:Customer ; ex:name ?name } "
            f"LIMIT {i + 1}"
        })
        out = _get(f"http://127.0.0.1:{server.port}/sparql?{q}")
        assert len(out["result"]) == out["totalRows"]
        return out["totalRows"]

    with ThreadPoolExecutor(6) as ex:
        got = sorted(ex.map(one, range(6)))
    assert got == [1, 2, 3, 4, 5, 6]


def test_protocol_default_graph_uri_param(spark, sf_small):
    """default-graph-uri request parameter scopes the dataset."""
    from urllib.parse import urlencode

    from ontario_spark.catalog.tpch_rdf import EX, tpch_federated_catalog
    from ontario_spark.compiler.query import SparqlEngine

    srv = SparqlHTTPServer(
        SparqlEngine(spark, tpch_federated_catalog(sf_small))
    ).start()
    try:
        base = f"http://127.0.0.1:{srv.port}/sparql?"
        text = (
            f"PREFIX ex: <{EX}>\n"
            "SELECT ?name WHERE { ?c a ex:Customer ; ex:name ?name }"
        )
        unscoped = _get(base + urlencode({"query": text}))
        assert unscoped["totalRows"] > 0
        scoped = _get(base + urlencode(
            {"query": text, "default-graph-uri": "urn:graph:tpch_lake"}
        ))
        assert scoped["totalRows"] == 0  # customers live on the remote member
    finally:
        srv.stop()


# --- /nextresult W3C-format parity (round 9) ---------------------------


def _next_frag(base: str, qid: str):
    """One /nextresult pop of a W3C-format stream → (fragment,
    content-type, ended)."""
    with urlopen(f"{base}/nextresult?qid={qid}", timeout=120) as r:
        return (
            r.read().decode(),
            r.headers.get("Content-Type"),
            r.headers.get("X-Stream-End") == "true",
        )


def _drain_frags(base: str, qid: str, cap: int = 50):
    frags, ctypes = [], set()
    for _ in range(cap):
        frag, ctype, ended = _next_frag(base, qid)
        frags.append(frag)
        ctypes.add(ctype)
        if ended:
            return "".join(frags), ctypes
    raise AssertionError("stream never signalled X-Stream-End")


def test_nextresult_srj_fragments(server):
    """Non-blocking + format=srj: /nextresult pops W3C srj document
    fragments; the concatenation is the exact bindings document the
    blocking path serves (round-8 VERDICT item 8)."""
    base = f"http://127.0.0.1:{server.port}"
    out = _get(
        f"{base}/sparql?"
        + urlencode({"query": QUERY, "mode": "non-blocking", "format": "srj"})
    )
    assert out["format"] == "srj" and out["vars"] == ["c", "name"]
    doc, ctypes = _drain_frags(base, out["qid"])
    assert ctypes == {"application/sparql-results+json"}
    parsed = json.loads(doc)
    assert parsed["head"]["vars"] == ["c", "name"]
    assert len(parsed["results"]["bindings"]) == 5
    assert parsed["results"]["bindings"][0]["c"]["type"] == "uri"
    # drained qid is forgotten
    with pytest.raises(Exception):
        _next_frag(base, out["qid"])


def test_nextresult_csv_fragments(server):
    base = f"http://127.0.0.1:{server.port}"
    out = _get(
        f"{base}/sparql?"
        + urlencode({"query": QUERY, "mode": "non-blocking", "format": "csv"})
    )
    doc, ctypes = _drain_frags(base, out["qid"])
    assert ctypes == {"text/csv; charset=utf-8"}
    lines = doc.strip().split("\r\n")
    assert lines[0] == "c,name" and len(lines) == 6


def test_nextresult_accept_negotiated_srj(server):
    """The Accept header picks the /nextresult fragment format the
    same way it picks the blocking document."""
    base = f"http://127.0.0.1:{server.port}"
    req = Request(
        f"{base}/sparql?" + urlencode({"query": QUERY, "mode": "non-blocking"}),
        headers={"Accept": "application/sparql-results+json"},
    )
    with urlopen(req, timeout=120) as r:
        out = json.loads(r.read().decode())
    assert out["format"] == "srj"
    doc, _ = _drain_frags(base, out["qid"])
    assert json.loads(doc)["head"]["vars"] == ["c", "name"]


def test_nextresult_ask_boolean_document(server):
    """Non-blocking ASK under srj streams the W3C *boolean* document,
    not a bindings document."""
    base = f"http://127.0.0.1:{server.port}"
    out = _get(
        f"{base}/sparql?"
        + urlencode(
            {"query": ASK_QUERY, "mode": "non-blocking", "format": "srj"}
        )
    )
    doc, _ = _drain_frags(base, out["qid"])
    assert json.loads(doc) == {"head": {}, "boolean": True}


def test_nextresult_legacy_default_unchanged(server):
    """No format param + default Accept keeps the legacy one-binding-
    per-call protocol (backwards compatibility)."""
    base = f"http://127.0.0.1:{server.port}"
    out = _get(
        f"{base}/sparql?" + urlencode({"query": QUERY, "mode": "non-blocking"})
    )
    assert out.get("format", "json") == "json"
    nxt = _get(f"{base}/nextresult?qid={out['qid']}")
    assert nxt["result"] != "EOF" and "c" in nxt["result"]


def test_construct_turtle_format_and_accept(server):
    """text/turtle (round 9): ?format=ttl streams the canonical
    line-per-triple form (N-Triples ⊂ Turtle) under the Turtle media
    type, and Accept: text/turtle negotiates it; SELECT refuses it."""
    q = urlencode({"query": CONSTRUCT_QUERY, "format": "ttl"})
    ctype, body = _get_raw(f"http://127.0.0.1:{server.port}/sparql?{q}")
    assert ctype.startswith("text/turtle")
    lines = [ln for ln in body.split("\n") if ln]
    assert lines and all(ln.endswith(" .") for ln in lines)

    req = Request(
        f"http://127.0.0.1:{server.port}/sparql?"
        + urlencode({"query": CONSTRUCT_QUERY}),
        headers={"Accept": "text/turtle"},
    )
    with urlopen(req, timeout=120) as r:
        assert r.status == 200
        assert r.headers.get("Content-Type").startswith("text/turtle")
        assert " <http://ex.org/hasName> " in r.read().decode()

    with pytest.raises(Exception) as ex:
        urlopen(
            f"http://127.0.0.1:{server.port}/sparql?"
            + urlencode({"query": QUERY, "format": "ttl"}),
            timeout=120,
        )
    assert "400" in str(ex.value)

"""HTTP SPARQL endpoint — parity with the reference's Flask API
(``app/query.py``: ``POST/GET /sparql`` :83, blocking response
``{vars, result[], execTime, firstResult, totalRows}`` :147 /
``README.md:205-219``; non-blocking mode parks the result and
``/nextresult`` pops one binding per call :49-81, ``'EOF'`` at end).

Stdlib-only (no Flask in this environment): a ThreadingHTTPServer over
one shared SparkSession/engine. BOTH modes stream from
``toLocalIterator()`` — non-blocking holds the iterator per query id
(one binding — or, under a W3C ?format=, one document fragment — per
/nextresult call); blocking (round-5) streams the rows straight into
a chunked HTTP response — so the driver never materializes a full
result set in either mode, the Spark analogue of the reference's
queue-parking with bounded memory for large results.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ontario_spark import sinks


_ACCEPT_FORMATS = {
    "text/csv": "csv",
    "text/tab-separated-values": "tsv",
    "application/sparql-results+xml": "xml",
    # the W3C media type gets the W3C document (round-7 advice: the
    # legacy shape was being served under the W3C label)
    "application/sparql-results+json": "srj",
    "application/json": "json",
    # graph serializations — only offered for CONSTRUCT/DESCRIBE
    # (``_FORM_FORMATS``); an N-Triples/Turtle Accept on a SELECT/ASK
    # simply doesn't match and the request keeps its default
    "application/n-triples": "nt",
    "text/turtle": "ttl",
}

# tie-break when ONE wildcard range matches several formats (same q,
# same specificity, same position): server preference — legacy json
# default first (so ``Accept: */*`` keeps the historical response),
# then the W3C serializations
_FORMAT_PREF = ["json", "srj", "xml", "csv", "tsv", "nt", "ttl"]

# which formats each query form can serve (round-9 advice: per-form
# result documents). ASK has no csv/tsv document; graph forms
# additionally serve N-Triples (their bindings formats serialize the
# s/p/o rows, which stays useful and is explicitly requested by
# ?format=). Negotiation is restricted to the form's set, so e.g.
# ``Accept: text/csv`` on an ASK falls through to the json default
# instead of picking an unservable format.
_FORM_FORMATS = {
    "select": frozenset(("json", "srj", "csv", "tsv", "xml")),
    "ask": frozenset(("json", "srj", "xml")),
    "construct": frozenset(("json", "srj", "csv", "tsv", "xml", "nt", "ttl")),
    "describe": frozenset(("json", "srj", "csv", "tsv", "xml", "nt", "ttl")),
}

# drift guards (round-8 review): a format reachable through Accept
# negotiation must have a preference rank (else _negotiate raises on
# every matching request) and an entry in the format table. Not
# assert — must survive python -O.
if not set(_ACCEPT_FORMATS.values()) <= set(_FORMAT_PREF) or not (
    set(_ACCEPT_FORMATS.values()) <= set(sinks.FORMATS)
):
    raise RuntimeError(
        "Accept-format registry drift: "
        f"{sorted(set(_ACCEPT_FORMATS.values()))} not covered by "
        f"pref {_FORMAT_PREF} / formats {sorted(sinks.FORMATS)}"
    )
if (
    not all(v <= set(sinks.FORMATS) for v in _FORM_FORMATS.values())
    or not _FORM_FORMATS["ask"] - {"json"} <= set(sinks.BOOLEAN_DOCS)
    or not _FORM_FORMATS["ask"].isdisjoint(sinks.ASK_UNSUPPORTED)
    or not sinks.GRAPH_FORMATS <= _FORM_FORMATS["construct"]
):
    raise RuntimeError("per-query-form format table drift")


def _cause(ex: Exception) -> str:
    """The message of a JVM error's innermost cause: a failed Spark job
    reaches Python wrapped in Py4J call-site frames whose own message
    does not say what went wrong."""
    cause = getattr(ex, "java_exception", None)
    if cause is None:
        return str(ex)
    while cause.getCause() is not None:
        cause = cause.getCause()
    return str(cause.getMessage())


# sentinel: the client explicitly refused every supported format
# INCLUDING the JSON default → the only honest answer is 406
NOT_ACCEPTABLE = "__not_acceptable__"


def _query_form(text: str) -> str:
    """select|ask|construct|describe for ``text``. Parsing twice (here
    and inside ``engine.query``) is microseconds of pure Python against
    a distributed execution — and keeps the engine's dataset-clause
    state handling in ONE place. Empty text defers to ``_sparql``'s
    missing-query error."""
    if not text:
        return "select"
    from ontario_spark.sparql.parser import parse

    return parse(text).query_type


def _negotiate(accept: str, supported: "frozenset | None" = None) -> "str | None":
    """RFC 7231 Accept negotiation over the supported result formats.

    Each supported media type takes its q from the MOST SPECIFIC
    matching range (exact > ``type/*`` > ``*/*`` — §5.3.2); q=0 at
    that level refuses the format even if a broader wildcard would
    allow it. Among acceptable formats the highest q wins, tiebreaks:
    specificity, the client's listing order, then ``_FORMAT_PREF``
    (only reachable when one wildcard covers several formats). A
    malformed q is IGNORED (param dropped, q stays 1 — §5.3.1; the
    round-6 code treated it as q=0, i.e. an explicit refusal).
    Unknown/absent types → None (caller keeps the JSON default);
    ``NOT_ACCEPTABLE`` when the client refused json explicitly and
    nothing acceptable remains."""
    entries = []  # (media-range, q, pos)
    for pos, part in enumerate(accept.split(",")):
        bits = part.strip().split(";")
        mtype = bits[0].strip().lower()
        if not mtype:
            continue
        qv = 1.0
        for p in bits[1:]:
            k, _, v = p.strip().partition("=")
            if k.strip() == "q":
                try:
                    qv = float(v)
                except ValueError:
                    pass  # unparseable qvalue → ignore the param
        entries.append((mtype, qv, pos))
    best = None  # (-q, specificity, pos, pref, fmt)
    json_refused = False
    for mime, fmt in _ACCEPT_FORMATS.items():
        if supported is not None and fmt not in supported:
            continue
        major = mime.split("/", 1)[0]
        top = None  # (specificity, pos, q) — most specific match wins
        for mtype, qv, pos in entries:
            if mtype == mime:
                spec = 0
            elif mtype == major + "/*":
                spec = 1
            elif mtype == "*/*":
                spec = 2
            else:
                continue
            if top is None or (spec, pos) < top[:2]:
                top = (spec, pos, qv)
        if top is None:
            continue
        spec, pos, qv = top
        if qv <= 0:
            if fmt == "json":
                json_refused = True
            continue
        cand = (-qv, spec, pos, _FORMAT_PREF.index(fmt), fmt)
        if best is None or cand < best:
            best = cand
    if best is not None:
        return best[4]
    return NOT_ACCEPTABLE if json_refused else None


class SparqlHTTPServer:
    """``SparqlHTTPServer(engine).start()`` → serve /sparql and
    /nextresult until ``stop()``. Port 0 picks an ephemeral port
    (exposed as ``.port``)."""

    MAX_PENDING = 64  # abandoned non-blocking queries evict LRU-first

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        self._pending: dict[str, dict] = {}  # insertion-ordered
        self._lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # chunked transfer (the streaming blocking path) needs 1.1;
            # all fixed replies still send Content-Length
            protocol_version = "HTTP/1.1"

            def log_message(self, *a):  # quiet
                pass

            def _reply(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _reply_raw(
                self, text: str, ctype: str, ended: bool
            ) -> None:
                """One /nextresult fragment of a W3C result document.
                The raw formats (csv/tsv, and fragments of srj/xml)
                have no in-band end-of-stream channel the way the
                legacy ``{"result": "EOF"}`` shape does, so the end is
                signalled out-of-band with the ``X-Stream-End: true``
                header. The document's closing fragment arrives as the
                LAST ordinary pop (ended=false); the terminal pop's
                body is always empty — clients must concatenate every
                body they receive, including the ones after the
                document visually closes."""
                body = text.encode()
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.send_header(
                    "X-Stream-End", "true" if ended else "false"
                )
                self.end_headers()
                self.wfile.write(body)

            def _reply_chunked(
                self, chunks, ctype: str = "application/json",
                err_terminator: "str | None" = None,
            ) -> None:
                """Stream an iterable of text fragments as one chunked
                200 response — driver memory stays bounded by one row,
                not the result set.

                Mid-stream execution errors (a lazily-evaluated cast,
                a dead SERVICE endpoint, an executor failure) arrive
                AFTER the 200 + headers are out, so a status change is
                impossible. JSON payloads pass a format-specific
                ``err_terminator`` (a ``%s`` template taking the
                json-encoded message) that closes the payload as
                well-formed JSON — the legacy shape and the W3C srj
                document nest differently, so each serializer's caller
                supplies the right closer (round-8: the old single
                hard-coded terminator produced malformed srj bodies).
                CSV/TSV/XML have no in-band error channel
                (``err_terminator=None``), so the payload just
                truncates. Either way the chunked encoding is closed
                properly and the connection is NOT kept alive — a
                pipelined client never reads garbage."""
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Transfer-Encoding", "chunked")
                self.end_headers()

                def emit(text: str) -> None:
                    data = text.encode()
                    if data:
                        self.wfile.write(
                            f"{len(data):X}\r\n".encode() + data + b"\r\n"
                        )

                try:
                    for chunk in chunks:
                        emit(chunk)
                except Exception as ex:
                    if err_terminator is not None:
                        emit(err_terminator % json.dumps(_cause(ex)[:500]))
                    self.close_connection = True
                self.wfile.write(b"0\r\n\r\n")

            def do_GET(self):
                self._handle(parse_qs(urlparse(self.path).query))

            def do_POST(self):
                n = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(n).decode()
                ctype = self.headers.get("Content-Type", "")
                if "application/sparql-query" in ctype:
                    q = parse_qs(urlparse(self.path).query)
                    q["query"] = [raw]
                else:
                    # the POSTed form body carries the operation; URL
                    # params only fill gaps (round-5 review fix: the
                    # old update() order let ?query= override the body)
                    q = parse_qs(urlparse(self.path).query)
                    q.update(parse_qs(raw))
                self._handle(q)

            def _handle(self, q: dict) -> None:
                path = urlparse(self.path).path
                streaming = False
                try:
                    if path == "/sparql":
                        # content negotiation: explicit ?format= wins,
                        # else the Accept header picks among the
                        # standard result serializations (q-values
                        # honored: highest q wins, q=0 refuses —
                        # round-6 review fix for fixed-priority
                        # substring matching). Negotiation is QUERY-
                        # FORM-AWARE (round-9): ASK offers only the
                        # formats with a boolean document, CONSTRUCT/
                        # DESCRIBE additionally offer N-Triples.
                        form = _query_form((q.get("query") or [""])[0])
                        if "format" not in q:
                            fmt = _negotiate(
                                self.headers.get("Accept", "") or "",
                                _FORM_FORMATS[form],
                            )
                            if fmt == NOT_ACCEPTABLE:
                                self._reply(406, {
                                    "error": "no acceptable result "
                                    "format; supported: "
                                    + ", ".join(sorted(_ACCEPT_FORMATS)),
                                })
                                return
                            if fmt is not None:
                                q["format"] = [fmt]
                        out = outer._sparql(q, form)
                        if isinstance(out, dict):
                            self._reply(200, out)
                        else:  # blocking mode streams its result rows
                            streaming = True
                            chunks, ctype, err_term = out
                            self._reply_chunked(chunks, ctype, err_term)
                    elif path == "/nextresult":
                        out = outer._nextresult(q)
                        if isinstance(out, dict):  # legacy json shape
                            self._reply(200, out)
                        else:  # W3C document fragment
                            frag, ctype, ended = out
                            self._reply_raw(frag, ctype, ended)
                    else:
                        self._reply(404, {"error": f"no route {path}"})
                except Exception as ex:
                    if streaming:
                        # headers already went out; a second status
                        # line would corrupt the chunk stream — this is
                        # a socket-level failure, just drop the link
                        self.close_connection = True
                    else:  # surface compile errors as 400
                        self._reply(400, {"error": str(ex)})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    # --- routes ---------------------------------------------------------

    # per-format mid-stream error terminator templates (``%s`` = the
    # json-encoded message): each closes ITS payload's open nesting as
    # well-formed JSON. Legacy shape is one level deep after the rows;
    # the W3C srj document is two (bindings array inside "results").
    _ERR_TERMINATORS = {
        "json": '], "error": %s, "truncated": true}',
        "srj": ']}, "error": %s, "truncated": true}',
    }

    def _sparql(self, q: dict, form: str = "select"):
        """Returns a dict (non-blocking handshake) or a
        ``(chunks, content_type, err_terminator)`` triple for the
        streaming blocking modes. ``form`` is the parsed query form —
        it picks the W3C result *document* family: boolean for ASK,
        graph (N-Triples) for CONSTRUCT/DESCRIBE, bindings otherwise."""
        text = (q.get("query") or [""])[0]
        if not text:
            raise ValueError("missing ?query=")
        t0 = time.perf_counter()
        # SPARQL Protocol dataset parameters (repeatable; override the
        # query's own FROM / FROM NAMED — §2.1.4)
        df = self.engine.query(
            text,
            default_graph_uris=q.get("default-graph-uri"),
            named_graph_uris=q.get("named-graph-uri"),
        )
        # Result format via ?format= (json default; negotiation filled
        # q["format"] from Accept). Validated up front so BOTH modes
        # get the same per-query-form refusals (negotiation never
        # picks these — _FORM_FORMATS filters them out).
        fmt = (q.get("format") or ["json"])[0]
        if fmt not in sinks.FORMATS:
            raise ValueError(
                f"unknown format {fmt!r} (one of {sorted(sinks.FORMATS)})"
            )
        if form == "ask" and fmt in sinks.ASK_UNSUPPORTED:
            raise ValueError(
                f"ASK has no {fmt} result document; use srj, xml, or json"
            )
        if fmt in sinks.GRAPH_FORMATS and form not in (
            "construct", "describe"
        ):
            raise ValueError(
                f"{fmt} is a graph serialization; query form is {form}"
            )
        nonblocking = (q.get("mode") or ["blocking"])[0] == "non-blocking"
        if nonblocking and fmt == "json":
            # legacy protocol: one binding per /nextresult call
            return self._park(
                {
                    "vars": df.columns,
                    "it": sinks.lines(df, fmt).toLocalIterator(),
                    "qlock": threading.Lock(),
                },
                df.columns,
                fmt,
            )
        # document streams — ONE construction shared by blocking
        # (chunked response) and non-blocking (/nextresult pops one
        # fragment per call; round-9: format parity for /nextresult).
        if form == "ask" and fmt in sinks.BOOLEAN_DOCS:
            # the 1-row ask frame evaluates BEFORE headers go out, so
            # execution errors still surface as a clean 400
            value = "true" if df.first()["ask"] else "false"
            chunks = iter([sinks.BOOLEAN_DOCS[fmt] % value])
            err_term = None
        else:
            # the blocking legacy shape streams rows through
            # toLocalIterator(): one job per partition, holding only that
            # partition on the driver, never a driver-side collect() (the
            # reference Flask app drains its whole queue into one
            # response, app/query.py:147); driver-fetched source rows
            # are one partition, so their answer is one result job
            chunks = sinks.stream(df, fmt, t0)
            err_term = self._ERR_TERMINATORS.get(fmt)
        if nonblocking:
            return self._park(
                {
                    "gen": chunks,
                    "mime": sinks.RESULT_MIME[fmt],
                    "qlock": threading.Lock(),
                },
                df.columns,
                fmt,
            )
        return (chunks, sinks.RESULT_MIME[fmt], err_term)

    def _park(self, entry: dict, cols: list, fmt: str) -> dict:
        """Store a non-blocking query's iterator/generator under a
        fresh qid and return the handshake payload."""
        qid = uuid.uuid4().hex
        with self._lock:
            # bound driver state: a client that abandons a qid
            # without draining to EOF would otherwise leak its
            # iterator forever; evict LEAST-RECENTLY-TOUCHED past
            # the cap (every /nextresult refreshes recency, so an
            # actively-draining client is never killed mid-result
            # unless all 64 slots are actively draining)
            while len(self._pending) >= self.MAX_PENDING:
                self._pending.pop(next(iter(self._pending)))
            self._pending[qid] = entry
        return {"qid": qid, "vars": cols, "format": fmt}

    def _nextresult(self, q: dict):
        """Legacy json entries → one binding dict per call (``{"result":
        "EOF"}`` at end). W3C-format entries (round-9 parity) → one
        document fragment per call as ``(fragment, mime, ended)``; the
        closing fragment is the last ordinary pop, then one final
        empty-body pop with ended=True ends the stream."""
        qid = (q.get("qid") or [""])[0]
        with self._lock:
            entry = self._pending.get(qid)
            if entry is not None:  # refresh recency (dict = LRU order)
                self._pending[qid] = self._pending.pop(qid)
        if entry is None:
            raise ValueError(f"unknown qid {qid!r}")
        # per-query lock: ThreadingHTTPServer serves each request on
        # its own thread, and next() on a shared generator from two
        # threads raises "generator already executing"
        if "gen" in entry:
            try:
                with entry["qlock"]:
                    frag = next(entry["gen"])
            except StopIteration:
                with self._lock:
                    self._pending.pop(qid, None)
                return ("", entry["mime"], True)
            except Exception:
                # a mid-stream execution error (lazy cast, dead
                # SERVICE) kills the stream; drop the qid so the slot
                # is reclaimed, surface the error as this call's 400
                with self._lock:
                    self._pending.pop(qid, None)
                raise
            return (frag, entry["mime"], False)
        try:
            with entry["qlock"]:
                row = next(entry["it"])
        except StopIteration:
            with self._lock:
                self._pending.pop(qid, None)
            return {"result": "EOF"}
        return {"result": json.loads(row[0]), "vars": entry["vars"]}

    # --- lifecycle ------------------------------------------------------

    def start(self) -> "SparqlHTTPServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._thread.is_alive():  # shutdown() blocks unless serving
            self._httpd.shutdown()
        self._httpd.server_close()

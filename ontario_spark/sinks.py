"""Result sinks: every result format is one Spark projection.

The reference's only sinks are the output queue drained by the CLI
(``run_query.py:46-59``) and the Flask HTTP response (``app/query.py``);
it builds a SPARQL-JSON term dict per binding in its wrappers
(``sparql2spark.py:189-229``) and formats CONSTRUCT results as
N-Triples tuple-at-a-time in Python (``Xconstruct.get_template_impl``
:46-105). Here one term rule (``IRI_PATTERN`` / ``term_kind``) types
every value as ``uri``, ``bnode`` or ``literal`` — for the FILTER
functions ``isIRI``/``isLiteral``/``isBlank``/``DATATYPE``, for the
VALUES terms sent to remote endpoints, and for every result format —
and ``lines(df, fmt)`` formats each solution as one string column
JVM-side. ``stream()`` is the one generator that wraps those lines in
the document's header and footer; the HTTP server (blocking and
``/nextresult``) and the CLI both serve from it. A value's lexical form
is ``cast("string")`` (booleans ``true``, doubles in Java's
``1.0E7`` form). Any ``df.write`` target is a sink too
(``write_results``).
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Callable
from typing import NamedTuple
from xml.sax.saxutils import quoteattr

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The one IRI rule: a hierarchical ``scheme://``, ``urn:`` or ``mailto:``
# prefix and none of the characters an IRIREF may not hold (so a value
# sent to an endpoint as ``<...>`` cannot break out of its brackets).
# ASCII classes and a lookahead instead of ``$`` (which both engines
# also match before a final newline), so Java ``rlike`` and Python
# ``re.match`` read it the same way.
_IRI_FORBIDDEN = r' <>"{}|\\^`\n\r\t'
IRI_PATTERN = (
    r"^(?:[A-Za-z][A-Za-z0-9+.-]*://|urn:|mailto:)"
    f"(?![^{_IRI_FORBIDDEN}]*[{_IRI_FORBIDDEN}])"
)


def term_kind(col: Column) -> Column:
    """``uri`` | ``bnode`` (``_:`` prefix) | ``literal`` for a value's
    lexical form; NULL for an unbound value."""
    s = col.cast("string")
    return (
        F.when(s.rlike(IRI_PATTERN), "uri")
        .when(s.startswith("_:"), "bnode")
        .when(s.isNotNull(), "literal")
    )


def _term_nt(col: Column) -> Column:
    """RDF term → N-Triples token: IRIs angle-bracketed, blank nodes
    passed through, anything else a quoted literal with the full ECHAR
    set escaped — backslash, quote, and the control characters
    (LF/CR/TAB) that would otherwise split a triple across physical
    lines and break every line-oriented N-Triples parser."""
    s = col.cast("string")
    kind = term_kind(s)
    escaped = F.regexp_replace(
        F.regexp_replace(s, r"\\", r"\\\\"), '"', r"\\\""
    )
    escaped = F.regexp_replace(escaped, "\n", r"\\n")
    escaped = F.regexp_replace(escaped, "\r", r"\\r")
    escaped = F.regexp_replace(escaped, "\t", r"\\t")
    return (
        F.when(kind == "uri", F.concat(F.lit("<"), s, F.lit(">")))
        .when(kind == "bnode", s)
        .otherwise(F.concat(F.lit('"'), escaped, F.lit('"')))
    )


def ntriples(construct_df: DataFrame) -> DataFrame:
    """CONSTRUCT result (s/p/o columns) → one ``ntriple`` string column
    (reference parity: ``Xconstruct`` N-Triples formatting, done here as
    a single codegen'd projection). Rows with ANY unbound (NULL) term
    are OMITTED per SPARQL CONSTRUCT semantics — concat_ws would
    otherwise silently drop just the NULL component and emit a
    truncated, malformed line."""
    construct_df = construct_df.filter(
        F.col("s").isNotNull() & F.col("p").isNotNull() & F.col("o").isNotNull()
    )
    return construct_df.select(
        F.concat_ws(
            " ",
            _term_nt(F.col("s")),
            F.concat(F.lit("<"), F.col("p").cast("string"), F.lit(">")),
            _term_nt(F.col("o")),
            F.lit("."),
        ).alias("ntriple")
    )


def write_results(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a result set. ``partition_by`` drives directory layout —
    at lake scale, partition by the column downstream reads filter on
    (partition pruning makes those reads touch only matching dirs)."""
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", True)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


# --- SPARQL result documents -------------------------------------------
#
# Beyond the reference (its only encodings are SPARQL-JSON and the
# N-Triples CONSTRUCT sink): the W3C JSON, CSV/TSV and XML result
# formats (https://www.w3.org/TR/sparql11-results-json/, -csv-tsv/,
# rdf-sparql-XMLres/). A solution's line is built JVM-side; the driver
# only adds separators, so its memory stays bounded by one row.


def _terms(cols: list[str]):
    """Per variable: name, lexical form, kind, and the SPARQL-JSON/XML
    value (a blank node's label without its ``_:``)."""
    for c in cols:
        s = F.col(c).cast("string")
        kind = term_kind(s)
        label = s.substr(3, 1 << 30)
        yield c, s, kind, F.when(kind == "bnode", label).otherwise(s)


def _binding_line(cols: list[str]) -> Column:
    # an unbound variable is a NULL struct, which to_json omits
    terms = [
        F.when(
            s.isNotNull(), F.struct(kind.alias("type"), value.alias("value"))
        ).alias(c)
        for c, s, kind, value in _terms(cols)
    ]
    return F.to_json(F.struct(*terms))


def _csv_line(cols: list[str]) -> Column:
    # IRIs bare, blank nodes ``_:label``, unbound empty; RFC 4180
    # quoting for fields holding a comma, quote or line break
    fields = []
    for c in cols:
        s = F.col(c).cast("string")
        quoted = F.concat(F.lit('"'), F.regexp_replace(s, '"', '""'), F.lit('"'))
        field = F.when(s.rlike('[,"\r\n]'), quoted).otherwise(s)
        fields.append(F.coalesce(field, F.lit("")))
    return F.concat_ws(",", *fields)


def _tsv_line(cols: list[str]) -> Column:
    # terms in SPARQL syntax; coalesce first, as concat_ws skips NULLs
    terms = [F.coalesce(_term_nt(F.col(c)), F.lit("")) for c in cols]
    return F.concat_ws("\t", *terms)


def _xml_line(cols: list[str]) -> Column:
    # an unbound variable's binding is NULL, which concat_ws skips
    bindings = []
    for c, _s, kind, value in _terms(cols):
        text = value
        for ch, entity in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
            text = F.regexp_replace(text, ch, entity)  # "&" first
        bindings.append(F.concat(
            F.lit(f"<binding name={quoteattr(c)}><"), kind, F.lit(">"),
            text, F.lit("</"), kind, F.lit("></binding>"),
        ))
    return F.concat_ws("", F.lit("<result>"), *bindings, F.lit("</result>"))


class ResultFormat(NamedTuple):
    mime: str
    head: Callable[[list[str]], str]
    line: "Callable[[list[str]], Column] | None"  # None: ntriples()
    sep: str  # between two lines
    end: str  # after each line
    tail: str  # a %-template over the stream's totals


_XML_HEAD = (
    '<?xml version="1.0"?>\n'
    '<sparql xmlns="http://www.w3.org/2005/sparql-results#">\n'
)


def _no_head(cols: list[str]) -> str:
    return ""


# ONE format table for the HTTP server and the CLI: which formats
# exist, their media type, and how their documents are framed.
FORMATS = {
    # the legacy engine response shape ({"vars", "result", ...} — the
    # reference's Flask body, app/query.py:147): NOT the W3C document,
    # so NOT the W3C media type
    "json": ResultFormat(
        "application/json",
        lambda cols: '{"vars": %s, "result": [' % json.dumps(cols),
        _binding_line, ",", "",
        '], "execTime": %(execTime)s, "firstResult": %(firstResult)s, '
        '"totalRows": %(totalRows)d}',
    ),
    # W3C SPARQL 1.1 Query Results JSON Format
    "srj": ResultFormat(
        "application/sparql-results+json",
        lambda cols: '{"head": {"vars": %s}, "results": {"bindings": ['
        % json.dumps(cols),
        _binding_line, ",", "", "]}}",
    ),
    "csv": ResultFormat(
        "text/csv; charset=utf-8",
        lambda cols: ",".join(cols) + "\r\n",
        _csv_line, "", "\r\n", "",
    ),
    "tsv": ResultFormat(
        "text/tab-separated-values; charset=utf-8",
        lambda cols: "\t".join("?" + c for c in cols) + "\n",
        _tsv_line, "", "\n", "",
    ),
    "xml": ResultFormat(
        "application/sparql-results+xml",
        lambda cols: _XML_HEAD + "<head>"
        + "".join(f"<variable name={quoteattr(c)}/>" for c in cols)
        + "</head>\n<results>\n",
        _xml_line, "", "\n", "</results>\n</sparql>\n",
    ),
    # graph serializations (CONSTRUCT / DESCRIBE only). N-Triples is a
    # subset of Turtle, so the canonical line-per-triple stream IS a
    # Turtle document; no prefix compaction, since streaming forbids a
    # second pass to discover namespaces.
    "nt": ResultFormat("application/n-triples", _no_head, None, "", "\n", ""),
    "ttl": ResultFormat("text/turtle", _no_head, None, "", "\n", ""),
}
RESULT_MIME = {fmt: spec.mime for fmt, spec in FORMATS.items()}
GRAPH_FORMATS = frozenset(f for f, spec in FORMATS.items() if spec.line is None)

# ASK under srj/xml is the W3C *boolean* document, not a bindings
# document; csv/tsv define none, so callers refuse them
BOOLEAN_DOCS = {
    "srj": '{"head": {}, "boolean": %s}',
    "xml": _XML_HEAD + "<head/>\n<boolean>%s</boolean>\n</sparql>\n",
}
ASK_UNSUPPORTED = frozenset(("csv", "tsv"))


def lines(df: DataFrame, fmt: str) -> DataFrame:
    """One string column per solution: its ``fmt`` line."""
    if fmt in GRAPH_FORMATS:
        return ntriples(df)
    return df.select(_line(fmt, tuple(df.columns)))


@functools.lru_cache(maxsize=256)
def _line(fmt: str, cols: tuple[str, ...]) -> Column:
    # Each Column call costs ~1.5 ms (PySpark 4 captures the Python
    # call site), ~0.1 s for a five-variable line; the unresolved
    # expression depends only on the format and the variables, so a
    # repeated query shape reuses it
    return FORMATS[fmt].line(list(cols)).alias("line")


def stream(df: DataFrame, fmt: str, t0: "float | None" = None):
    """The ``fmt`` document of ``df`` as text chunks: the header, one
    chunk per solution fetched through ``toLocalIterator()``, then the
    footer. The variables are ``df``'s columns; the projection is
    built and analysed here, before the first chunk. ``t0`` anchors
    the legacy shape's ``execTime``/``firstResult``."""
    spec, cols, rows = FORMATS[fmt], df.columns, lines(df, fmt)
    t0 = time.perf_counter() if t0 is None else t0

    def chunks():
        yield spec.head(cols)
        n, first = 0, None
        for (line,) in rows.toLocalIterator():
            if first is None:
                first = time.perf_counter() - t0
            yield (spec.sep if n else "") + line + spec.end
            n += 1
        t_all = time.perf_counter() - t0
        yield spec.tail % {
            "execTime": round(t_all, 4),
            "firstResult": round(t_all if first is None else first, 4),
            "totalRows": n,
        }

    return chunks()

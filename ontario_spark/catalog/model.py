"""Catalog model: data sources, RML-style triple maps, URI templates.

Re-expresses the reference's two metadata layers (SURVEY.md §1.4):

- ``RDFMT``/``DataSource`` (``ontario/model/rdfmt_model.py:8-95``) —
  here folded into ``Catalog``'s indexes.
- ``TripleMap``/``LogicalSource``/term maps with TEMPLATE/REFERENCE/
  CONSTANT types (``ontario/model/rml_model.py:7-68``) — here
  ``TripleMap``/``TermMap``/``Template``.

The key Spark-first change: URI templates are parsed ONCE into
``Template`` objects exposing (a) a Column expression builder
(``format``), (b) an inverse (``extract`` a key from a constant URI),
and (c) structural equality — so joins on template-derived variables
can run on the underlying native key columns instead of formatted
strings (SURVEY.md §7.3 "URI template join keys").
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_TPL_RE = re.compile(r"\{([^{}]+)\}")


@dataclass(frozen=True)
class Template:
    """A URI/literal template like ``http://ex.org/customer/{c_custkey}``.

    ``parts`` alternates literal strings and column references:
    ("http://ex.org/customer/", ("c_custkey",)).
    """

    raw: str

    @property
    def columns(self) -> tuple[str, ...]:
        return tuple(_TPL_RE.findall(self.raw))

    def format(self, col=F.col) -> Column:
        """Column expression producing the formatted lexical string."""
        pieces: list[Column] = []
        pos = 0
        for m in _TPL_RE.finditer(self.raw):
            if m.start() > pos:
                pieces.append(F.lit(self.raw[pos : m.start()]))
            pieces.append(col(m.group(1)).cast("string"))
            pos = m.end()
        if pos < len(self.raw):
            pieces.append(F.lit(self.raw[pos:]))
        return F.concat(*pieces) if len(pieces) > 1 else pieces[0]

    def to_regex(self) -> str:
        out = []
        pos = 0
        for m in _TPL_RE.finditer(self.raw):
            out.append(re.escape(self.raw[pos : m.start()]))
            out.append("(.+)")
            pos = m.end()
        out.append(re.escape(self.raw[pos:]))
        return "^" + "".join(out) + "$"

    def extract(self, uri: str) -> tuple[str, ...] | None:
        """Inverse: pull key values out of a constant URI (None if the
        URI doesn't match the template). DOTALL so keys containing
        newlines still round-trip (format() imposes no such limit)."""
        m = re.match(self.to_regex(), uri, re.DOTALL)
        return m.groups() if m else None

    def same_shape(self, other: "Template") -> bool:
        """True iff the literal skeletons are identical (key columns may
        differ) — then equality of the formatted URIs is equivalent to
        equality of the key tuples, and joins can use raw keys."""
        return self.shape_key() == other.shape_key()

    def shape_key(self) -> str:
        """Hashable literal-skeleton key: two templates with equal keys
        are ``same_shape``."""
        return _TPL_RE.sub("{}", self.raw)


# Term map kinds (reference: TripleMapType, rml_model.py:64-68)
TEMPLATE = "template"
REFERENCE = "reference"
CONSTANT = "constant"


@dataclass(frozen=True)
class TermMap:
    kind: str  # TEMPLATE | REFERENCE | CONSTANT
    value: str  # template string, column name, or constant lexical

    @property
    def template(self) -> Template:
        assert self.kind == TEMPLATE
        return Template(self.value)

    @property
    def columns(self) -> tuple[str, ...]:
        if self.kind == REFERENCE:
            return (self.value,)
        if self.kind == TEMPLATE:
            return self.template.columns
        return ()


def ref(column: str) -> TermMap:
    return TermMap(REFERENCE, column)


def tpl(template: str) -> TermMap:
    return TermMap(TEMPLATE, template)


def const(value: str) -> TermMap:
    return TermMap(CONSTANT, value)


@dataclass(frozen=True)
class LogicalSource:
    """Where a triple map's rows come from (reference:
    rml_model.py:38-55). ``table`` is resolved against the DataSource
    at query time; ``fmt`` overrides the source default; ``iterator``
    is an RML ``rml:iterator`` / XML rowTag path (e.g.
    ``customers[*]``) — reference paths in term maps resolve relative
    to it (see ``ontario_spark.sources.nested``)."""

    table: str
    fmt: str | None = None  # parquet | csv | json | view | jdbc ...
    options: tuple[tuple[str, str], ...] = ()
    iterator: str | None = None


@dataclass(frozen=True)
class TripleMap:
    name: str
    source: LogicalSource
    subject: TermMap  # TEMPLATE (typical) or REFERENCE
    subject_class: str | None = None  # rdf:type IRI
    predicates: tuple[tuple[str, TermMap], ...] = ()  # predicate IRI → object map

    @property
    def pom(self) -> dict[str, TermMap]:
        return dict(self.predicates)


@dataclass(frozen=True)
class DataSource:
    """reference: rdfmt_model.DataSource (:8-62). ``base_path`` is a
    directory for file formats, a URL for jdbc/sparql."""

    name: str
    dstype: str  # 'parquet' | 'csv' | 'json' | 'jdbc' | 'sparql' | 'view'
    base_path: str = ""
    params: tuple[tuple[str, str], ...] = ()


def _src_path(src: "DataSource", tm: "TripleMap") -> str:
    """File path of a flat-file logical source. An empty base_path
    keeps the table path AS-IS (cwd-relative) instead of rooting it at
    '/' (round-5 review fix); hoisted so every format branch shares
    one rule (round-6 review fix)."""
    return (
        f"{src.base_path}/{tm.source.table}"
        if src.base_path
        else tm.source.table
    )


@dataclass
class Catalog:
    """RDF-MT equivalent: indexes over the triple maps.

    ``predicate_index`` mirrors the reference's ``predicateMTindex``
    (``ontario/config/__init__.py:73,89-107``) — predicate IRI → set of
    triple-map names; ``class_index`` maps rdf:type IRI → map names.
    """

    sources: dict[str, DataSource] = field(default_factory=dict)
    triple_maps: dict[str, TripleMap] = field(default_factory=dict)
    map_source: dict[str, str] = field(default_factory=dict)  # map name → source name
    predicate_index: dict[str, set[str]] = field(default_factory=dict)
    class_index: dict[str, set[str]] = field(default_factory=dict)
    # Remote-source executors (source name → callable taking the
    # translated native query and returning row dicts). Injected, so
    # the engine stays testable without DB servers; production wiring
    # would pass pymysql/pymongo/neo4j-driver/HTTP closures here.
    executors: dict[str, object] = field(default_factory=dict)

    REMOTE_TYPES = ("mysql", "ansi", "drill", "derby", "mongodb", "neo4j", "sparql")

    def source_of(self, tm: TripleMap) -> DataSource:
        return self.sources[self.map_source[tm.name]]

    def executor_for(self, tm: TripleMap):
        src = self.source_of(tm)
        try:
            return self.executors[src.name]
        except KeyError:
            raise ValueError(
                f"remote source {src.name!r} ({src.dstype}) has no executor"
            ) from None

    def add(self, source: DataSource, *maps: TripleMap) -> None:
        self.sources[source.name] = source
        for tm in maps:
            self.triple_maps[tm.name] = tm
            self.map_source[tm.name] = source.name
            if tm.subject_class:
                self.class_index.setdefault(tm.subject_class, set()).add(tm.name)
            for pred, _ in tm.predicates:
                self.predicate_index.setdefault(pred, set()).add(tm.name)

    def maps_for_class(self, cls: str) -> set[str]:
        return set(self.class_index.get(cls, set()))

    def load_source_df(self, spark: SparkSession, tm: TripleMap) -> DataFrame:
        src = self.sources[self.map_source[tm.name]]
        fmt = tm.source.fmt or src.dstype
        if fmt == "view":
            return spark.table(tm.source.table)
        if fmt == "rest":
            # REST JSON rows materialize driver-side (bounded API
            # responses), then flow through the normal local star path —
            # iterators and nested references included (sources/rest.py).
            from ontario_spark.sources.rest import rest_executor, rows_to_df

            fetch = self.executors.get(src.name) or rest_executor(src.base_path)
            return rows_to_df(spark, list(fetch(tm.source.table)))
        if fmt == "parquet":
            from ontario_spark.data import table as load_table

            return load_table(spark, src.base_path, tm.source.table)
        if fmt in ("csv", "tsv", "json"):
            reader = spark.read.options(**dict(tm.source.options))
            path = _src_path(src, tm)
            if fmt == "json":
                return reader.json(path)
            sep = "\t" if fmt == "tsv" else ","
            return reader.option("sep", sep).option("header", "true").csv(path)
        if fmt in ("orc", "avro"):
            # ORC is a native Spark format; Avro needs the spark-avro
            # package and is gated like XML (absent in minimal builds).
            reader = spark.read.options(**dict(tm.source.options))
            path = _src_path(src, tm)
            if fmt == "orc":
                return reader.orc(path)
            try:
                return reader.format("avro").load(path)
            except Exception as exc:  # pragma: no cover - build-dependent
                # only the missing-datasource failure gets the
                # packaging hint; real errors (bad path, schema)
                # propagate untouched (round-6 review fix)
                msg = str(exc)
                if "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg:
                    raise ValueError(
                        "Avro source requires the spark-avro data "
                        "source; re-materialize as parquet/orc instead"
                    ) from exc
                raise
        if fmt == "xml":
            # the reference reads XML via com.databricks.spark.xml with
            # the RML iterator as rowTag (sparql2sparksql.py:79-95);
            # Spark 4 ships spark-xml in-box. Gated: absent in minimal
            # builds, and the nested-JSON path (sources/nested.py)
            # covers the same reference-path semantics.
            try:
                reader = spark.read.format("xml").options(**dict(tm.source.options))
                if tm.source.iterator:
                    reader = reader.option(
                        "rowTag", tm.source.iterator.replace("[*]", "")
                    )
                return reader.load(_src_path(src, tm))
            except Exception as exc:  # pragma: no cover - depends on build
                raise ValueError(
                    "XML source requires the spark-xml data source; "
                    "re-materialize as JSON and use the nested-path "
                    "catalog instead"
                ) from exc
        if fmt == "jdbc":
            return (
                spark.read.format("jdbc")
                .option("url", src.base_path)
                .option("dbtable", tm.source.table)
                .options(**dict(src.params))
                .options(**dict(tm.source.options))
                .load()
            )
        raise ValueError(f"unsupported source format {fmt!r} for map {tm.name}")

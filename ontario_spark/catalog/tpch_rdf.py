"""RDF mapping of the driver's TPC-H-ish parquet tables.

Plays the role of the reference's demo RML mappings
(``/root/reference/demo/mappings/*``): each table becomes a TripleMap
with a subject URI template and predicate→column maps, giving the
SPARQL engine a federated-shape lake to query. Object properties
(customer→nation, order→customer, …) use URI TEMPLATE object maps so
star-to-star joins exercise the template-aware key-join path.
"""

from __future__ import annotations

from ontario_spark.catalog.model import (
    Catalog,
    DataSource,
    LogicalSource,
    TripleMap,
    ref,
    tpl,
)
from ontario_spark.sources.docstore import (
    executor_from_collections,
    parquet_doc_loader,
)

EX = "http://ex.org/tpch/"


def tpch_catalog(sf_dir: str) -> Catalog:
    cat = Catalog()
    lake = DataSource(name="tpch_lake", dstype="parquet", base_path=sf_dir)

    def t(name: str) -> LogicalSource:
        return LogicalSource(table=name)

    cat.add(
        lake,
        TripleMap(
            name="RegionMap",
            source=t("region"),
            subject=tpl(EX + "region/{r_regionkey}"),
            subject_class=EX + "Region",
            predicates=((EX + "name", ref("r_name")),),
        ),
        TripleMap(
            name="NationMap",
            source=t("nation"),
            subject=tpl(EX + "nation/{n_nationkey}"),
            subject_class=EX + "Nation",
            predicates=(
                (EX + "name", ref("n_name")),
                (EX + "region", tpl(EX + "region/{n_regionkey}")),
            ),
        ),
        TripleMap(
            name="CustomerMap",
            source=t("customer"),
            subject=tpl(EX + "customer/{c_custkey}"),
            subject_class=EX + "Customer",
            predicates=(
                (EX + "name", ref("c_name")),
                (EX + "acctbal", ref("c_acctbal")),
                (EX + "mktsegment", ref("c_mktsegment")),
                (EX + "nation", tpl(EX + "nation/{c_nationkey}")),
            ),
        ),
        TripleMap(
            name="SupplierMap",
            source=t("supplier"),
            subject=tpl(EX + "supplier/{s_suppkey}"),
            subject_class=EX + "Supplier",
            predicates=(
                (EX + "name", ref("s_name")),
                (EX + "acctbal", ref("s_acctbal")),
                (EX + "nation", tpl(EX + "nation/{s_nationkey}")),
            ),
        ),
        TripleMap(
            name="PartMap",
            source=t("part"),
            subject=tpl(EX + "part/{p_partkey}"),
            subject_class=EX + "Part",
            predicates=(
                (EX + "name", ref("p_name")),
                (EX + "brand", ref("p_brand")),
                (EX + "type", ref("p_type")),
                (EX + "size", ref("p_size")),
                (EX + "retailprice", ref("p_retailprice")),
            ),
        ),
        TripleMap(
            name="OrderMap",
            source=t("orders"),
            subject=tpl(EX + "order/{o_orderkey}"),
            subject_class=EX + "Order",
            predicates=(
                (EX + "customer", tpl(EX + "customer/{o_custkey}")),
                (EX + "orderstatus", ref("o_orderstatus")),
                (EX + "totalprice", ref("o_totalprice")),
                (EX + "orderdate", ref("o_orderdate")),
                (EX + "orderpriority", ref("o_orderpriority")),
            ),
        ),
        TripleMap(
            name="LineitemMap",
            source=t("lineitem"),
            subject=tpl(EX + "lineitem/{l_orderkey}-{l_linenumber}"),
            subject_class=EX + "Lineitem",
            predicates=(
                (EX + "order", tpl(EX + "order/{l_orderkey}")),
                (EX + "part", tpl(EX + "part/{l_partkey}")),
                (EX + "supplier", tpl(EX + "supplier/{l_suppkey}")),
                (EX + "quantity", ref("l_quantity")),
                (EX + "extendedprice", ref("l_extendedprice")),
                (EX + "discount", ref("l_discount")),
                (EX + "shipdate", ref("l_shipdate")),
                (EX + "returnflag", ref("l_returnflag")),
            ),
        ),
        TripleMap(
            name="DocumentMap",
            source=t("documents"),
            subject=tpl(EX + "doc/{doc_id}"),
            subject_class=EX + "Document",
            predicates=(
                (EX + "text", ref("text")),
                (EX + "lang", ref("lang")),
                (EX + "docsource", ref("source")),
                (EX + "nchars", ref("n_chars")),
            ),
        ),
    )
    return cat


def nested_fixture_path(spark, sf_dir: str) -> tuple[str, str]:
    """Materialize (once per sf_dir) a nested-JSON mirror of the lake:
    one document per nation with an embedded ``customers`` array —
    the fixture for the nested/XML-style source path (the reference's
    SPARKXMLWrapper scenario). Returns (base_dir, table_name)."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from ontario_spark.data import table

    base = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".cache", "nested")
    key = "nc_" + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out = os.path.join(base, key)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        cust = table(spark, sf_dir, "customer")
        nat = table(spark, sf_dir, "nation")
        nested = (
            cust.groupBy("c_nationkey")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("c_custkey", "c_name", "c_acctbal"))
                ).alias("customers")
            )
            .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
            .select("n_nationkey", "n_name", "customers")
        )
        nested.coalesce(1).write.mode("overwrite").json(out)
    return base, key


def tpch_nested_catalog(spark, sf_dir: str) -> Catalog:
    """Catalog over the nested-JSON mirror: the Customer molecule lives
    INSIDE the nation document (RML iterator ``customers[*]``), with
    parent (``../``) references for the enclosing nation fields."""
    base, tbl = nested_fixture_path(spark, sf_dir)
    cat = Catalog()
    src = DataSource(name="nested_lake", dstype="json", base_path=base)
    doc = LogicalSource(table=tbl, fmt="json")
    cat.add(
        src,
        TripleMap(
            name="NationNestedMap",
            source=doc,
            subject=tpl(EX + "nation/{n_nationkey}"),
            subject_class=EX + "Nation",
            predicates=((EX + "name", ref("n_name")),),
        ),
        TripleMap(
            name="CustomerNestedMap",
            source=LogicalSource(table=tbl, fmt="json", iterator="customers[*]"),
            subject=tpl(EX + "customer/{c_custkey}"),
            subject_class=EX + "Customer",
            predicates=(
                (EX + "name", ref("c_name")),
                (EX + "acctbal", ref("c_acctbal")),
                (EX + "nationname", ref("../n_name")),
                (EX + "nation", tpl(EX + "nation/{../n_nationkey}")),
            ),
        ),
    )
    return cat


def _move_map(cat: Catalog, name: str) -> TripleMap:
    """Detach a triple map from its source (so it can be re-added under
    another one)."""
    tm = cat.triple_maps.pop(name)
    for p in list(cat.predicate_index):
        cat.predicate_index[p].discard(name)
    if tm.subject_class:
        cat.class_index[tm.subject_class].discard(name)
    del cat.map_source[name]
    return tm


def duckdb_sql_executor(sf_dir: str, tables: tuple[str, ...] = ("customer",)):
    """SQL executor backed by DuckDB over the lake's parquet — stands in
    for a remote MySQL in tests/demos (same row-dict contract a
    pymysql-backed executor would have)."""

    def run(sql: str) -> list[dict]:
        import duckdb

        con = duckdb.connect()
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        return [dict(zip(cols, r)) for r in cur.fetchall()]

    return run


def _serve_remote(cat: Catalog, map_name: str, source: str, dstype: str, executor) -> Catalog:
    """Move a molecule's triple map off the lake and serve it through a
    remote executor — the one pattern every federation-shaped catalog
    variant repeats (review fix: four inlined copies)."""
    tm = _move_map(cat, map_name)
    cat.add(DataSource(name=source, dstype=dstype, base_path=""), tm)
    cat.executors[source] = executor
    return cat


def tpch_federated_catalog(sf_dir: str) -> Catalog:
    """Federation-shaped catalog: the Customer molecule is served by a
    remote SQL source (DuckDB executor standing in for the reference's
    MySQL drugbank), every other molecule stays Spark-resident parquet
    — the reference's demo topology (MySQL + SPARQL + TSV lake)."""
    return _serve_remote(
        tpch_catalog(sf_dir), "CustomerMap", "remote_sql", "ansi",
        duckdb_sql_executor(sf_dir),
    )


def tpch_mongo_catalog(sf_dir: str, spark=None) -> Catalog:
    """Federation-shaped catalog with the Customer molecule served by a
    DOCUMENT store: the star is translated to a Mongo aggregation
    pipeline (``translate.star_mongo``) and executed through the
    ``sources.docstore`` seam — the driver-side pipeline interpreter
    over documents loaded from the same parquet the oracle reads. The
    rows enter Spark as one local partition, like every other
    driver-side fetch; a live deployment injects an executor that calls
    its Mongo server. ``spark`` is accepted and ignored: callers that
    pass a session positionally keep working.
    Reference: ``ontario/wrappers/mongodb/sparql2mongo.py:68``."""
    return _serve_remote(
        tpch_catalog(sf_dir), "CustomerMap", "remote_mongo", "mongodb",
        executor_from_collections(parquet_doc_loader(sf_dir)),
    )


def tpch_cypher_catalog(sf_dir: str) -> Catalog:
    """Federation-shaped catalog with the Customer molecule served by a
    GRAPH store: the star is translated to Cypher
    (``translate.star_cypher``) and executed through
    ``graphstore.bolt_executor`` — the PRODUCTION call path (session
    context manager, record.data() materialization) — over an
    in-process transport backed by the interpreter (round 11: the
    bench row now measures the bolt seam, not a direct interpreter
    call). Reference: ``ontario/wrappers/neo4j/sparql2cypher.py:129``
    executing via the bolt client at ``:11-127``."""
    from ontario_spark.sources.graphstore import (
        bolt_executor,
        interpreter_bolt_driver,
    )

    load = parquet_doc_loader(sf_dir)
    return _serve_remote(
        tpch_catalog(sf_dir), "CustomerMap", "remote_graph", "neo4j",
        bolt_executor(
            database="tpch",
            driver=interpreter_bolt_driver(
                lambda: {"Customer": load("customer")}
            ),
        ),
    )


def tpch_drill_catalog(sf_dir: str) -> Catalog:
    """Federation-shaped catalog with the Customer molecule served by
    an Apache-Drill-dialect source over Drill's HTTP REST protocol
    (round 11): the star translates with backtick quoting
    (``DIALECTS['drill']``) and executes through
    ``drillrest.drill_rest_executor`` — a real POST /query.json
    round-trip against the embedded DuckDB drillbit stand-in.
    Reference: ``ontario/wrappers/drill/sparql2drill.py:94-150``."""
    from ontario_spark.sources.drillrest import (
        drill_rest_executor,
        duckdb_drillbit,
    )

    def run(sql: str) -> list[dict]:
        # Resolve the drillbit URL at FIRST execution, not catalog
        # construction (round-12 ADVICE): building a catalog must not
        # start an HTTP server for a star that may never be queried.
        # duckdb_drillbit caches per (sf_dir, tables), so repeated
        # calls reuse one server.
        return drill_rest_executor(duckdb_drillbit(sf_dir))(sql)

    return _serve_remote(
        tpch_catalog(sf_dir), "CustomerMap", "remote_drill", "drill", run
    )


def tpch_split_catalog(sf_dir: str) -> Catalog:
    """ChEBI-style variant: Customer predicates split across TWO triple
    maps sharing one subject template — exercises the multi-map star
    self-join path (reference: ``sparqltosql.join_condition:446-481``)."""
    cat = tpch_catalog(sf_dir)
    base = cat.triple_maps.pop("CustomerMap")
    for p in list(cat.predicate_index):
        cat.predicate_index[p].discard("CustomerMap")
    cat.class_index[EX + "Customer"].discard("CustomerMap")
    del cat.map_source["CustomerMap"]
    a = TripleMap(
        name="CustomerNameMap",
        source=base.source,
        subject=base.subject,
        subject_class=base.subject_class,
        predicates=((EX + "name", ref("c_name")),),
    )
    b = TripleMap(
        name="CustomerFinMap",
        source=base.source,
        subject=base.subject,
        subject_class=base.subject_class,
        predicates=(
            (EX + "acctbal", ref("c_acctbal")),
            (EX + "mktsegment", ref("c_mktsegment")),
            (EX + "nation", tpl(EX + "nation/{c_nationkey}")),
        ),
    )
    cat.add(cat.sources["tpch_lake"], a, b)
    return cat


def tpch_trisource_catalog(sf_dir: str) -> Catalog:
    """The reference demo's THREE-engine topology in one catalog
    (``demo/docker-compose.yml``: MySQL drugbank + Virtuoso KEGG + TSV
    ChEBI lake): the Customer molecule is served by a remote SQL
    executor (DuckDB stand-in for MySQL), the Supplier molecule by the
    document store (Mongo aggregation-pipeline seam), and every other
    molecule stays Spark-resident parquet. A query touching all three
    molecules exercises two different wrapper translations plus the
    lake in ONE plan — the reference's core value proposition."""
    cat = _serve_remote(
        tpch_catalog(sf_dir), "CustomerMap", "remote_sql", "ansi",
        duckdb_sql_executor(sf_dir),
    )
    return _serve_remote(
        cat, "SupplierMap", "remote_mongo", "mongodb",
        executor_from_collections(parquet_doc_loader(sf_dir)),
    )


DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def derby_customer_url(spark, sf_dir: str) -> str:
    """Seed (once per ``sf_dir``) an embedded Derby database with the
    customer table from the lake's parquet and return its JDBC URL.

    Derby is the real-JDBC stand-in for the reference demo's MySQL
    (``demo/docker-compose.yml``): it runs inside Spark's own JVM (its
    jars ship with Spark), so the ``sources.jdbc`` executor exercises
    the PRODUCTION fetch path — translated star SQL executed by the
    remote database, rows landing directly in executor partitions —
    without needing a database server in the sandbox. String columns
    are created as VARCHAR explicitly: Spark's Derby dialect would
    otherwise map StringType to CLOB, which Derby refuses to compare
    or GROUP BY, breaking any pushed-down filter."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), f"ontario_derby_{key}")
    db = os.path.join(base, "db")
    url = f"jdbc:derby:{db}"
    marker = os.path.join(base, "_seeded")
    if os.path.exists(marker):
        return url
    os.makedirs(base, exist_ok=True)
    from ontario_spark.data import table

    df = table(spark, sf_dir, "customer")
    coltypes = ", ".join(
        f"{f.name} VARCHAR(256)"
        for f in df.schema.fields
        if f.dataType.simpleString() == "string"
    )
    (
        df.write.mode("overwrite")
        .option("createTableColumnTypes", coltypes)
        # quoted lowercase: the ANSI translator emits "customer", and
        # Derby case-folds unquoted identifiers to uppercase
        .jdbc(url + ";create=true", '"customer"', properties=DERBY_PROPS)
    )
    with open(marker, "w") as fh:
        fh.write("ok")
    return url


def tpch_trisource_jdbc_catalog(spark, sf_dir: str) -> Catalog:
    """``tpch_trisource_catalog`` with the SQL star served by the
    PRODUCTION Spark-JDBC executor against embedded Derby instead of
    the driver-side DuckDB stand-in — the bench registry routes
    ``lslod_cq6_trisource`` through this catalog so its measured time
    is evidence of the partitioned executor-side fetch path (round-9
    advice; the JDBC path itself is integration-tested in
    ``tests/test_jdbc.py``). The fetch is split into 4 disjoint
    MOD-slices on the subject key whenever the translated SQL projects
    it — one remote connection per partition, the Spark-native
    equivalent of the reference's hand-rolled parallel fetch
    (``wrappers/mysql/sparql2sql.py:108-166``). The Derby star is the
    one distributed remote fetch; the Mongo star runs through the
    driver-side pipeline interpreter, as in ``tpch_mongo_catalog``, and
    its rows join inside the result job."""
    from ontario_spark.sources.jdbc import jdbc_executor

    url = derby_customer_url(spark, sf_dir)

    def preds(sql: str) -> "list[str] | None":
        # Spark's predicate strings apply to the OUTER scope
        # (``SELECT * FROM (sql) AS q WHERE <pred>``), so they must
        # reference the star's projected ALIAS of the numeric subject
        # key, not the inner table column
        import re as _re

        m = _re.search(r'"c_custkey" AS "([A-Za-z0-9_]+)"', sql)
        if m is None:
            return None
        return [f'MOD("{m.group(1)}", 4) = {i}' for i in range(4)]

    cat = _serve_remote(
        tpch_catalog(sf_dir), "CustomerMap", "remote_sql", "derby",
        jdbc_executor(
            spark, url, properties=DERBY_PROPS, predicates_for=preds
        ),
    )
    return _serve_remote(
        cat, "SupplierMap", "remote_mongo", "mongodb",
        executor_from_collections(parquet_doc_loader(sf_dir)),
    )

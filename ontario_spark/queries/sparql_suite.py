"""SPARQL queries registered on the driver correctness surface.

Each entry runs a SPARQL text through the full engine (parse →
decompose → source-select → compile) against the TPC-H RDF catalog and
is validated against handwritten ANSI SQL on DuckDB — proving Ontario
parity end-to-end: star decomposition, RDF-MT-style source selection,
RML template materialization/inversion, template-keyed joins, OPTIONAL,
UNION, FILTER semantics, modifiers, ASK, CONSTRUCT, and the
beyond-reference SPARQL 1.1 aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ontario_spark.catalog.tpch_rdf import (
    EX,
    tpch_catalog,
    tpch_cypher_catalog,
    tpch_drill_catalog,
    tpch_federated_catalog,
    tpch_mongo_catalog,
    tpch_nested_catalog,
    tpch_split_catalog,
)
from ontario_spark.compiler.query import SparqlEngine

PFX = f"PREFIX ex: <{EX}>\n"

URI_C = "'http://ex.org/tpch/customer/' || CAST(c_custkey AS VARCHAR)"
URI_O = "'http://ex.org/tpch/order/' || CAST(o_orderkey AS VARCHAR)"

_CATALOGS = {
    "base": lambda spark, sf: tpch_catalog(sf),
    "split": lambda spark, sf: tpch_split_catalog(sf),
    "nested": tpch_nested_catalog,
    "federated": lambda spark, sf: tpch_federated_catalog(sf),
    "mongo": lambda spark, sf: tpch_mongo_catalog(sf),
    "cypher": lambda spark, sf: tpch_cypher_catalog(sf),
    "drill": lambda spark, sf: tpch_drill_catalog(sf),
}


def _runner(sparql: str, catalog: str | bool = "base"):
    if catalog is True:
        catalog = "split"
    if catalog is False:
        catalog = "base"

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        cat = _CATALOGS[catalog](spark, sf_dir)
        return SparqlEngine(spark, cat).query(PFX + sparql)

    return run


_DEFS: dict[str, tuple[str, str | None, bool | str]] = {
    # name: (sparql, oracle_sql, catalog kind)
    "sparql_star_filter": (
        """SELECT ?c ?name ?acctbal WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:acctbal ?acctbal .
             FILTER (?acctbal > 5000.0) }""",
        f"""SELECT {URI_C} AS c, c_name AS name, c_acctbal AS acctbal
            FROM customer WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL
              AND c_acctbal > 5000.0""",
        False,
    ),
    "sparql_star_join": (
        """SELECT ?cname ?nname ?rname WHERE {
             ?c a ex:Customer ; ex:name ?cname ; ex:nation ?n .
             ?n ex:name ?nname ; ex:region ?r .
             ?r ex:name ?rname .
             FILTER (?rname = "ASIA") }""",
        """SELECT c_name AS cname, n_name AS nname, r_name AS rname
           FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE c_name IS NOT NULL AND n_name IS NOT NULL
             AND r_name IS NOT NULL AND r_name = 'ASIA'""",
        False,
    ),
    "sparql_optional": (
        """SELECT ?c ?name ?ostatus WHERE {
             ?c a ex:Customer ; ex:name ?name .
             OPTIONAL { ?o a ex:Order ; ex:customer ?c ; ex:orderstatus ?ostatus } }""",
        f"""SELECT {URI_C} AS c, c_name AS name, o_orderstatus AS ostatus
            FROM customer LEFT OUTER JOIN orders
              ON o_custkey = c_custkey AND o_orderstatus IS NOT NULL
            WHERE c_name IS NOT NULL""",
        False,
    ),
    "sparql_union": (
        """SELECT ?name WHERE {
             { ?c a ex:Customer ; ex:name ?name }
             UNION { ?s a ex:Supplier ; ex:name ?name } }""",
        """SELECT c_name AS name FROM customer WHERE c_name IS NOT NULL
           UNION ALL
           SELECT s_name AS name FROM supplier WHERE s_name IS NOT NULL""",
        False,
    ),
    "sparql_source_union": (
        # predicate-index source selection with NO type constraint:
        # ex:name lives on five molecules → automatic 5-way union
        "SELECT ?name WHERE { ?s ex:name ?name }",
        """SELECT c_name AS name FROM customer WHERE c_name IS NOT NULL
           UNION ALL SELECT n_name FROM nation WHERE n_name IS NOT NULL
           UNION ALL SELECT p_name FROM part WHERE p_name IS NOT NULL
           UNION ALL SELECT r_name FROM region WHERE r_name IS NOT NULL
           UNION ALL SELECT s_name FROM supplier WHERE s_name IS NOT NULL""",
        False,
    ),
    "sparql_distinct_orderby_page": (
        """SELECT ?o ?price WHERE { ?o a ex:Order ; ex:totalprice ?price }
           ORDER BY DESC(?price) ?o LIMIT 10 OFFSET 10""",
        f"""SELECT {URI_O} AS o, o_totalprice AS price FROM orders
            WHERE o_totalprice IS NOT NULL
            ORDER BY price DESC, o ASC LIMIT 10 OFFSET 10""",
        False,
    ),
    "sparql_filter_functions": (
        """SELECT ?name ?type WHERE {
             ?p a ex:Part ; ex:name ?name ; ex:type ?type .
             FILTER (CONTAINS(?type, "BRASS") || REGEX(?name, "a.*e")) }""",
        """SELECT p_name AS name, p_type AS type FROM part
           WHERE p_name IS NOT NULL AND p_type IS NOT NULL
             AND (p_type LIKE '%BRASS%' OR regexp_matches(p_name, 'a.*e'))""",
        False,
    ),
    "sparql_string_functions": (
        # SPARQL 1.1 string/hash function library (all absent from the
        # reference's closed Xfilter set): STRBEFORE/STRAFTER, MD5/SHA256,
        # ISNUMERIC, chained BINDs
        """SELECT ?name ?tag ?digest ?sha WHERE {
             ?c a ex:Customer ; ex:name ?name .
             BIND (STRAFTER(?name, "#") AS ?tag)
             BIND (MD5(?name) AS ?digest)
             BIND (SHA256(?tag) AS ?sha)
             FILTER (STRBEFORE(?name, "#") = "Customer"
                     && ISNUMERIC(?tag) && STRLEN(?name) > 5) }""",
        """SELECT name, tag, md5(name) AS digest, sha256(tag) AS sha
           FROM (
             SELECT c_name AS name,
               CASE WHEN strpos(c_name, '#') > 0
                    THEN substr(c_name, strpos(c_name, '#') + 1)
                    ELSE '' END AS tag,
               CASE WHEN strpos(c_name, '#') > 0
                    THEN substr(c_name, 1, strpos(c_name, '#') - 1)
                    ELSE '' END AS head
             FROM customer WHERE c_name IS NOT NULL) t
           WHERE head = 'Customer'
             AND TRY_CAST(tag AS DOUBLE) IS NOT NULL
             AND length(name) > 5""",
        False,
    ),
    "sparql_term_functions": (
        # round-5 function tail (§17.4 completeness beyond the
        # reference's closed functor list): STRDT constructs a typed
        # literal whose datatype DATATYPE() reads back via the __dt
        # side column; STRLANG tags a literal LANG() reads back;
        # TZ/TIMEZONE on a native timestamp column (session-zone
        # instants → UTC). UUID/STRUUID/BNODE/RAND are the
        # non-deterministic rest of the tail — pytest-only.
        """SELECT ?o ?d ?p2 ?lang ?dtype ?zone ?tzd WHERE {
             ?o a ex:Order ; ex:orderdate ?d ; ex:totalprice ?p .
             BIND (STRDT(STR(?p), <http://www.w3.org/2001/XMLSchema#double>) AS ?p2)
             BIND (STRLANG("chat", "en-US") AS ?tagged)
             BIND (LANG(?tagged) AS ?lang)
             BIND (DATATYPE(?p2) AS ?dtype)
             BIND (TZ(?d) AS ?zone)
             BIND (TIMEZONE(?d) AS ?tzd)
             FILTER (?p > 400000.0) }""",
        f"""SELECT {URI_O} AS o, o_orderdate AS d, o_totalprice AS p2,
               'en-us' AS lang,
               'http://www.w3.org/2001/XMLSchema#double' AS dtype,
               'Z' AS zone, 'PT0S' AS tzd
            FROM orders
            WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
              AND o_totalprice > 400000.0""",
        False,
    ),
    "sparql_date_filter_bind": (
        """SELECT ?o ?d ?rounded WHERE {
             ?o a ex:Order ; ex:orderdate ?d ; ex:totalprice ?p .
             BIND (ROUND(?p) AS ?rounded)
             FILTER (?d >= "1999-01-01"^^<http://www.w3.org/2001/XMLSchema#date>) }""",
        f"""SELECT {URI_O} AS o, o_orderdate AS d, ROUND(o_totalprice) AS rounded
            FROM orders WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
              AND o_orderdate >= TIMESTAMP '1999-01-01'""",
        False,
    ),
    "sparql_construct": (
        """CONSTRUCT { ?c ex:label ?name } WHERE { ?c a ex:Customer ; ex:name ?name }""",
        f"""SELECT DISTINCT {URI_C} AS s, 'http://ex.org/tpch/label' AS p, c_name AS o
            FROM customer WHERE c_name IS NOT NULL""",
        False,
    ),
    "sparql_ask": (
        """ASK { ?c a ex:Customer ; ex:acctbal ?b . FILTER (?b > 1000.0) }""",
        """SELECT EXISTS(SELECT 1 FROM customer
                         WHERE c_acctbal IS NOT NULL AND c_acctbal > 1000.0) AS ask""",
        False,
    ),
    "sparql_aggregate": (
        """SELECT ?seg (COUNT(?c) AS ?n) (SUM(?bal) AS ?total) WHERE {
             ?c a ex:Customer ; ex:mktsegment ?seg ; ex:acctbal ?bal }
           GROUP BY ?seg""",
        """SELECT c_mktsegment AS seg, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total
           FROM customer
           WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
           GROUP BY c_mktsegment""",
        False,
    ),
    "sparql_multimap_selfjoin": (
        """SELECT ?name ?seg WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:mktsegment ?seg . }""",
        """SELECT t1.c_name AS name, t2.c_mktsegment AS seg
           FROM customer t1 JOIN customer t2 ON t1.c_custkey = t2.c_custkey
           WHERE t1.c_name IS NOT NULL AND t2.c_mktsegment IS NOT NULL""",
        True,
    ),
    "sparql_lineitem_star": (
        # multi-column subject template + three object-property joins
        """SELECT ?li ?pname ?qty WHERE {
             ?li a ex:Lineitem ; ex:part ?p ; ex:quantity ?qty .
             ?p ex:name ?pname .
             FILTER (?qty >= 45.0) }""",
        """SELECT 'http://ex.org/tpch/lineitem/' || CAST(l_orderkey AS VARCHAR)
                  || '-' || CAST(l_linenumber AS VARCHAR) AS li,
                  p_name AS pname, l_quantity AS qty
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_name IS NOT NULL AND l_quantity IS NOT NULL
             AND l_quantity >= 45.0""",
        False,
    ),
    "sparql_nested_iterator": (
        # nested-JSON source: Customer molecule embedded in nation docs
        # (RML iterator customers[*]) with a parent (../) reference
        """SELECT ?name ?acctbal ?nname WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:acctbal ?acctbal ;
                ex:nationname ?nname .
             FILTER (?acctbal > 9000.0) }""",
        """SELECT c_name AS name, c_acctbal AS acctbal, n_name AS nname
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL
             AND n_name IS NOT NULL AND c_acctbal > 9000.0""",
        "nested",
    ),
    "sparql_nested_star_join": (
        # exploded nested star ⋈ root-document star on template keys
        """SELECT ?cname ?nname WHERE {
             ?c a ex:Customer ; ex:name ?cname ; ex:nation ?n .
             ?n a ex:Nation ; ex:name ?nname . }""",
        """SELECT c_name AS cname, n_name AS nname
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_name IS NOT NULL AND n_name IS NOT NULL""",
        "nested",
    ),
    "sparql_property_path": (
        # sequence path = chained joins through fresh variables
        """SELECT ?name ?rname WHERE {
             ?c a ex:Customer ; ex:name ?name ;
                ex:nation/ex:region/ex:name ?rname .
             FILTER (?rname = "ASIA") }""",
        """SELECT c_name AS name, r_name AS rname
           FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE c_name IS NOT NULL
             AND r_name IS NOT NULL AND r_name = 'ASIA'""",
        "base",
    ),
    "sparql_describe": (
        # DESCRIBE: resource molecule as (s,p,o) rows — all mapped
        # forward predicates + rdf:type (impl-defined per §16.4)
        """DESCRIBE ?c WHERE { ?c a ex:Customer ; ex:acctbal ?b .
             FILTER (?b > 9900.0) }""",
        f"""WITH rich AS (SELECT * FROM customer WHERE c_acctbal > 9900.0)
            SELECT {URI_C} AS s,
              'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS p,
              'http://ex.org/tpch/Customer' AS o FROM rich
            UNION ALL SELECT {URI_C}, 'http://ex.org/tpch/name', c_name FROM rich
            UNION ALL SELECT {URI_C}, 'http://ex.org/tpch/acctbal',
              CAST(c_acctbal AS VARCHAR) FROM rich
            UNION ALL SELECT {URI_C}, 'http://ex.org/tpch/mktsegment',
              c_mktsegment FROM rich
            UNION ALL SELECT {URI_C}, 'http://ex.org/tpch/nation',
              'http://ex.org/tpch/nation/' || CAST(c_nationkey AS VARCHAR)
            FROM rich""",
        "base",
    ),
    "sparql_path_zero_or_one": (
        # p? — identity pairs over the edge node domain + single step
        """SELECT ?n ?x WHERE { ?n ex:region? ?x }""",
        """SELECT 'http://ex.org/tpch/nation/' || CAST(n_nationkey AS VARCHAR) AS n,
              'http://ex.org/tpch/region/' || CAST(n_regionkey AS VARCHAR) AS x
            FROM nation
            UNION ALL
            SELECT 'http://ex.org/tpch/nation/' || CAST(n_nationkey AS VARCHAR),
                   'http://ex.org/tpch/nation/' || CAST(n_nationkey AS VARCHAR)
            FROM nation
            UNION ALL
            SELECT DISTINCT
              'http://ex.org/tpch/region/' || CAST(n_regionkey AS VARCHAR),
              'http://ex.org/tpch/region/' || CAST(n_regionkey AS VARCHAR)
            FROM nation""",
        "base",
    ),
    "sparql_negated_path": (
        # !(...) — complement of the excluded predicates against the
        # catalog's predicate universe; the Customer join prunes the
        # other classes' branches
        """SELECT ?c ?v WHERE {
             ?c a ex:Customer .
             ?c !(ex:name|ex:acctbal|ex:nation) ?v }""",
        f"""SELECT {URI_C} AS c, c_mktsegment AS v FROM customer
            WHERE c_mktsegment IS NOT NULL""",
        "base",
    ),
    "sparql_group_by_expr": (
        # GROUP BY (expr AS ?v) — computed grouping key
        """SELECT ?y (COUNT(?o) AS ?n) (SUM(?p) AS ?total) WHERE {
             ?o a ex:Order ; ex:orderdate ?d ; ex:totalprice ?p }
           GROUP BY (YEAR(?d) AS ?y)""",
        """SELECT EXTRACT(year FROM o_orderdate) AS y, COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
           FROM orders
           WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
           GROUP BY EXTRACT(year FROM o_orderdate)""",
        "base",
    ),
    "sparql_agg_distinct": (
        # DISTINCT aggregates: nations + distinct balance sum per segment
        """SELECT ?seg (COUNT(DISTINCT ?n) AS ?nn) (SUM(DISTINCT ?bal) AS ?sb)
           WHERE { ?c a ex:Customer ; ex:mktsegment ?seg ; ex:nation ?n ;
                   ex:acctbal ?bal } GROUP BY ?seg""",
        """SELECT c_mktsegment AS seg, COUNT(DISTINCT c_nationkey) AS nn,
                  CAST(SUM(DISTINCT CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS sb
           FROM customer
           WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL
             AND c_acctbal IS NOT NULL
           GROUP BY c_mktsegment""",
        "base",
    ),
    "sparql_group_concat": (
        # GROUP_CONCAT with explicit separator (sorted for determinism)
        """SELECT ?rname (GROUP_CONCAT(?nname ; SEPARATOR="|") AS ?nations)
           WHERE { ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
                   ?r ex:name ?rname } GROUP BY ?rname""",
        """SELECT r_name AS rname,
                  string_agg(n_name, '|' ORDER BY n_name) AS nations
           FROM nation JOIN region ON n_regionkey = r_regionkey
           WHERE n_name IS NOT NULL AND r_name IS NOT NULL
           GROUP BY r_name""",
        "base",
    ),
    "sparql_subquery": (
        # SPARQL 1.1 nested SELECT: customers holding their segment's
        # max balance — the aggregate subquery joins back on ?seg
        """SELECT ?name ?mb WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:mktsegment ?seg ;
                ex:acctbal ?bal .
             { SELECT ?seg (MAX(?bal2) AS ?mb) WHERE {
                 ?c2 a ex:Customer ; ex:mktsegment ?seg ; ex:acctbal ?bal2 .
               } GROUP BY ?seg }
             FILTER (?bal = ?mb) }""",
        """SELECT c_name AS name, mb FROM customer JOIN (
             SELECT c_mktsegment AS seg, MAX(c_acctbal) AS mb FROM customer
             WHERE c_mktsegment IS NOT NULL AND c_acctbal IS NOT NULL
             GROUP BY c_mktsegment) m
           ON c_mktsegment = m.seg
           WHERE c_acctbal = mb AND c_name IS NOT NULL""",
        "base",
    ),
    "sparql_path_closure": (
        # transitive path: customers/suppliers reach their nation AND
        # (two hops) region; oracle is a recursive CTE over the same
        # lexical edge relation
        """SELECT ?x ?loc WHERE { ?x (ex:nation|ex:region)+ ?loc . }""",
        """WITH RECURSIVE edges AS (
             SELECT 'http://ex.org/tpch/customer/' || CAST(c_custkey AS VARCHAR) AS src,
                    'http://ex.org/tpch/nation/' || CAST(c_nationkey AS VARCHAR) AS dst
             FROM customer WHERE c_nationkey IS NOT NULL
             UNION ALL
             SELECT 'http://ex.org/tpch/supplier/' || CAST(s_suppkey AS VARCHAR),
                    'http://ex.org/tpch/nation/' || CAST(s_nationkey AS VARCHAR)
             FROM supplier WHERE s_nationkey IS NOT NULL
             UNION ALL
             SELECT 'http://ex.org/tpch/nation/' || CAST(n_nationkey AS VARCHAR),
                    'http://ex.org/tpch/region/' || CAST(n_regionkey AS VARCHAR)
             FROM nation WHERE n_regionkey IS NOT NULL
           ), reach(src, dst) AS (
             SELECT src, dst FROM edges
             UNION
             SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
           )
           SELECT src AS x, dst AS loc FROM reach""",
        "base",
    ),
    "sparql_path_grouped": (
        # COMPOUND property path (round-10, VERDICT r9 task 7): a
        # grouped alternation nested inside a quantified sequence —
        # the closure operator iterates over the COMPILED inner-path
        # frame (a union of two branches chained into a second hop),
        # not a single predicate's edge list. Customer/Supplier reach
        # their region through the nation hop; the order→customer
        # branch contributes no composite edge (customers carry
        # ex:nation, not ex:region), exercising an empty union branch
        # inside the step.
        """SELECT ?x ?r WHERE { ?x ((ex:nation|ex:customer)/ex:region)+ ?r . }""",
        f"""SELECT DISTINCT src AS x, dst AS r FROM (
             SELECT {URI_C} AS src,
                    'http://ex.org/tpch/region/' || CAST(n_regionkey AS VARCHAR) AS dst
             FROM customer JOIN nation ON c_nationkey = n_nationkey
             UNION ALL
             SELECT 'http://ex.org/tpch/supplier/' || CAST(s_suppkey AS VARCHAR),
                    'http://ex.org/tpch/region/' || CAST(n_regionkey AS VARCHAR)
             FROM supplier JOIN nation ON s_nationkey = n_nationkey
           )""",
        "base",
    ),
    "sparql_values_inline": (
        """SELECT ?name ?price WHERE {
             ?o a ex:Order ; ex:orderpriority ?name ; ex:totalprice ?price .
             VALUES ?name { "1-URGENT" "2-HIGH" }
             FILTER (?price > 400000.0) }""",
        """SELECT o_orderpriority AS name, o_totalprice AS price
           FROM orders
           WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
             AND o_totalprice IS NOT NULL AND o_totalprice > 400000.0""",
        "base",
    ),
    "sparql_minus_setop": (
        """SELECT ?c WHERE {
             ?c a ex:Customer .
             MINUS { ?o a ex:Order ; ex:customer ?c ;
                     ex:orderpriority "1-URGENT" } }""",
        f"""SELECT {URI_C} AS c FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                              AND o_orderpriority = '1-URGENT')""",
        "base",
    ),
    "sparql_exists_filter": (
        """SELECT ?c ?name WHERE {
             ?c a ex:Customer ; ex:name ?name .
             FILTER EXISTS { ?o a ex:Order ; ex:customer ?c ;
                             ex:orderpriority "1-URGENT" } }""",
        f"""SELECT {URI_C} AS c, c_name AS name FROM customer
            WHERE c_name IS NOT NULL AND EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey
                AND o_orderpriority = '1-URGENT')""",
        "base",
    ),
    "sparql_optional_compat": (
        # full §10.2 join compatibility (round 8, maybe_null tracking):
        # the first OPTIONAL binds ?x only for AMERICA nations; the
        # second OPTIONAL shares ?x, so rows with ?x UNBOUND are
        # compatible with ALL its solutions and the merge takes the
        # inner binding — a plain equi-LeftJoin (NULL matches nothing)
        # would leave them NULL. Exercises _join_compat's NULL-mask
        # decomposition end-to-end.
        """SELECT ?nname ?x WHERE {
             ?n a ex:Nation ; ex:name ?nname .
             OPTIONAL { ?n ex:region ?r . ?r ex:name ?x .
                        FILTER (STRSTARTS(?x, 'AM')) }
             OPTIONAL { ?r3 a ex:Region ; ex:name ?x .
                        FILTER (STRENDS(?x, 'PE')) } }""",
        """WITH l AS (
             SELECT n_name AS nname,
                    CASE WHEN r_name LIKE 'AM%' THEN r_name END AS x
             FROM nation JOIN region ON n_regionkey = r_regionkey
             WHERE n_name IS NOT NULL),
           r AS (SELECT r_name AS x FROM region WHERE r_name LIKE '%PE')
           SELECT l.nname AS nname, COALESCE(l.x, r.x) AS x
           FROM l LEFT JOIN r ON l.x IS NULL OR l.x = r.x""",
        "base",
    ),
    "sparql_values_undef": (
        # VALUES with UNDEF cells (§10.2): an UNDEF constrains nothing,
        # so each data row contributes its bound-column restriction
        # only, and a solution matching BOTH rows appears twice (bag
        # semantics — the oracle's UNION ALL replicates the multiset).
        """SELECT ?o ?prio ?stat WHERE {
             ?o a ex:Order ; ex:orderpriority ?prio ;
                ex:orderstatus ?stat .
             VALUES (?prio ?stat) { ("1-URGENT" UNDEF) (UNDEF "F") } }""",
        f"""SELECT {URI_O} AS o, o_orderpriority AS prio,
                   o_orderstatus AS stat
            FROM orders
            WHERE o_orderstatus IS NOT NULL
              AND o_orderpriority = '1-URGENT'
            UNION ALL
            SELECT {URI_O}, o_orderpriority, o_orderstatus
            FROM orders
            WHERE o_orderpriority IS NOT NULL
              AND o_orderstatus = 'F'""",
        "base",
    ),
    "sparql_exists_expr": (
        # [NOT] EXISTS in EXPRESSION position (§17.4.1.4, round 8):
        # inside || and IF — beyond the whole-filter fast path; each
        # occurrence compiles to a semi-join mark column.
        """SELECT ?nname ?tag WHERE {
             ?n a ex:Nation ; ex:name ?nname .
             BIND (IF(EXISTS { ?n ex:region ?r . ?r ex:name 'ASIA' },
                      'asia', 'other') AS ?tag)
             FILTER (STRSTARTS(?nname, 'NATION_1')
                     || NOT EXISTS { ?n ex:region ?r2 .
                                     ?r2 ex:name 'EUROPE' }) }""",
        """SELECT n_name AS nname,
                  CASE WHEN EXISTS (SELECT 1 FROM region
                                    WHERE r_regionkey = n_regionkey
                                      AND r_name = 'ASIA')
                       THEN 'asia' ELSE 'other' END AS tag
           FROM nation
           WHERE n_name IS NOT NULL AND (
             n_name LIKE 'NATION_1%'
             OR NOT EXISTS (SELECT 1 FROM region
                            WHERE r_regionkey = n_regionkey
                              AND r_name = 'EUROPE'))""",
        "base",
    ),
    "sparql_exists_orders": (
        # the SCALE-path form of expression-EXISTS: correlated mark
        # join over the Order star (the registry's biggest table), so
        # the 1x/10x/100x probes measure real data growth — see
        # SCALE.md; sparql_exists_expr above is the semantics-focused
        # small-dim variant
        """SELECT ?o ?prio WHERE {
             ?o a ex:Order ; ex:orderpriority ?prio ;
                ex:orderstatus ?st .
             FILTER (?prio = '1-URGENT'
                     || EXISTS { ?o ex:customer ?c .
                                 ?c ex:mktsegment 'BUILDING' }) }""",
        f"""SELECT {URI_O} AS o, o_orderpriority AS prio
            FROM orders
            WHERE o_orderpriority IS NOT NULL
              AND o_orderstatus IS NOT NULL
              AND (o_orderpriority = '1-URGENT'
                   OR EXISTS (SELECT 1 FROM customer
                              WHERE c_custkey = o_custkey
                                AND c_mktsegment = 'BUILDING'))""",
        "base",
    ),
    "sparql_federated_join": (
        # cross-engine federation: Customer star answered by a remote
        # SQL executor (DuckDB as stand-in MySQL), Nation star by the
        # parquet lake; joined on template keys Spark-side
        """SELECT ?name ?nname WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
             ?n a ex:Nation ; ex:name ?nname .
             FILTER (STRSTARTS(?nname, "NATION_1")) }""",
        """SELECT c_name AS name, n_name AS nname
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_name IS NOT NULL AND n_name IS NOT NULL
             AND starts_with(n_name, 'NATION_1')""",
        "federated",
    ),
    "sparql_named_graph": (
        # SPARQL 1.1 dataset clause over the federation: each member
        # source is a named graph (urn:graph:<source>); GRAPH ?g
        # evaluates the Customer star once per source (only the remote
        # SQL member can answer it — the lake branch is statically
        # empty), binds ?g, and the result joins the lake's Nation star
        """SELECT ?g ?name ?nname WHERE {
             GRAPH ?g { ?c a ex:Customer ; ex:name ?name ; ex:nation ?n }
             ?n a ex:Nation ; ex:name ?nname .
             FILTER (STRSTARTS(?nname, "NATION_1")) }""",
        """SELECT 'urn:graph:remote_sql' AS g, c_name AS name, n_name AS nname
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_name IS NOT NULL AND n_name IS NOT NULL
             AND starts_with(n_name, 'NATION_1')""",
        "federated",
    ),
    "sparql_mongo_join": (
        # document-store federation: Customer star translated to a
        # Mongo aggregation pipeline and EXECUTED through the docstore
        # seam (sargable ?bal FILTER pushed into $match); joined
        # Spark-side on template keys against the parquet Order star
        """SELECT ?name ?oprio WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:acctbal ?bal .
             ?o a ex:Order ; ex:customer ?c ; ex:orderpriority ?oprio .
             FILTER (?bal > 8000.0)
             FILTER (?oprio = "1-URGENT") }""",
        """SELECT c_name AS name, o_orderpriority AS oprio
           FROM customer JOIN orders ON o_custkey = c_custkey
           WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL
             AND c_acctbal > 8000.0 AND o_orderpriority = '1-URGENT'""",
        "mongo",
    ),
    "sparql_drill_join": (
        # Drill-dialect federation over the REST seam (round 11): the
        # Customer star translates with backtick quoting and executes
        # through a REAL POST /query.json round-trip (sources/
        # drillrest.py; pushed ?bal conjunct in the remote WHERE);
        # joined Spark-side against the lake's Nation star
        """SELECT ?name ?bal ?nname WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:acctbal ?bal ;
                ex:nation ?n .
             ?n a ex:Nation ; ex:name ?nname .
             FILTER (?bal > 9000.0) }""",
        """SELECT c_name AS name, c_acctbal AS bal, n_name AS nname
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL
             AND n_name IS NOT NULL AND c_acctbal > 9000.0""",
        "drill",
    ),
    "sparql_drill_bound_join": (
        # bound-join pushdown over the Drill REST seam (round 12,
        # NestedHashJoinFilter posture — reference
        # ontario/wrappers/drill/sparql2drill.py:94-150 +
        # NestedHashJoinFilter.makeInstantiation:166-234): the lake's
        # Nation star is filtered to ONE nation, so the engine pushes
        # the observed ?n join keys as an IN-list into the SQL POSTed
        # to /query.json — the remote Customer fetch is restricted to
        # that nation's rows instead of the whole table (asserted by
        # the POST spy in tests/test_federation.py)
        """SELECT ?name ?bal WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:acctbal ?bal ;
                ex:nation ?n .
             ?n a ex:Nation ; ex:name 'NATION_1' . }""",
        """SELECT c_name AS name, c_acctbal AS bal
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL
             AND n_name = 'NATION_1'""",
        "drill",
    ),
    "sparql_cypher_join": (
        # graph-store federation: Customer star translated to Cypher
        # and executed through the graphstore interpreter (pushed
        # STRSTARTS → STARTS WITH); joined against the parquet lake
        """SELECT ?name ?nname WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
             ?n a ex:Nation ; ex:name ?nname .
             FILTER (STRSTARTS(?name, "Customer#00000001")) }""",
        """SELECT c_name AS name, n_name AS nname
           FROM customer JOIN nation ON c_nationkey = n_nationkey
           WHERE c_name IS NOT NULL AND n_name IS NOT NULL
             AND starts_with(c_name, 'Customer#00000001')""",
        "cypher",
    ),
}

def _service_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit SERVICE federation: the region molecule is served by a
    'remote' endpoint (loopback executor reading the same parquet via
    DuckDB — stands in for an HTTP SPARQL endpoint, same bindings-out
    contract) and joined against the local nation star."""
    import duckdb

    def endpoint(query: str):
        # a stand-in that ignored its query could green-light a broken
        # SERVICE translation (round-5 review fix): assert the engine
        # shipped the expected pattern + projection before answering
        if "?r" not in query or "?rname" not in query or "name" not in query:
            raise AssertionError(f"unexpected SERVICE query: {query}")
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"SELECT r_regionkey, r_name FROM '{sf_dir}/region.parquet'"
            ).fetchall()
        finally:
            con.close()
        return [
            {"r": f"{EX}region/{k}", "rname": name} for k, name in rows
        ]

    cat = tpch_catalog(sf_dir)
    eng = SparqlEngine(
        spark, cat, service_executors={"http://remote.example/sparql": endpoint}
    )
    return eng.query(
        PFX
        + """SELECT ?nname ?rname WHERE {
              ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
              SERVICE <http://remote.example/sparql> { ?r ex:name ?rname } }"""
    )


_SERVICE_JOIN_SQL = """
SELECT n_name AS nname, r_name AS rname
FROM nation JOIN region ON n_regionkey = r_regionkey
WHERE n_name IS NOT NULL AND r_name IS NOT NULL
"""


QUERIES = {name: _runner(sparql, kind) for name, (sparql, _, kind) in _DEFS.items()}
QUERIES["sparql_service_join"] = _service_join
ORACLE = {name: sql for name, (_, sql, _) in _DEFS.items() if sql is not None}
ORACLE["sparql_service_join"] = _SERVICE_JOIN_SQL

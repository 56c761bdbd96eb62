"""End-to-end federation: SPARQL queries whose stars are answered by
different engines (remote SQL / MongoDB / SPARQL endpoint / parquet
lake), joined Spark-side — the reference's core value proposition
(``demo/docker-compose.yml``: MySQL drugbank + Virtuoso KEGG + TSV
ChEBI) with injected executors instead of servers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontario_spark.catalog.model import (
    Catalog,
    DataSource,
    LogicalSource,
    TripleMap,
    ref,
    tpl,
)
from ontario_spark.catalog.tpch_rdf import (
    EX,
    tpch_catalog,
    tpch_federated_catalog,
)
from ontario_spark.compiler.query import SparqlEngine
from ontario_spark.data import table

PFX = f"PREFIX ex: <{EX}>\n"


def test_remote_sql_star(spark, sf_small):
    cat = tpch_federated_catalog(sf_small)
    df = SparqlEngine(spark, cat).query(
        PFX + "SELECT ?name WHERE { ?c a ex:Customer ; ex:name ?name }"
    )
    exp = table(spark, sf_small, "customer").where(F.col("c_name").isNotNull()).count()
    assert df.count() == exp > 0


def test_remote_sql_joins_parquet_star(spark, sf_small):
    cat = tpch_federated_catalog(sf_small)
    df = SparqlEngine(spark, cat).query(
        PFX
        + """SELECT ?name ?nname WHERE {
              ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
              ?n a ex:Nation ; ex:name ?nname . }"""
    )
    cust = table(spark, sf_small, "customer")
    nat = table(spark, sf_small, "nation")
    exp = {
        (r["c_name"], r["n_name"])
        for r in cust.join(nat, cust.c_nationkey == nat.n_nationkey).collect()
    }
    got = {(r["name"], r["nname"]) for r in df.collect()}
    assert got == exp and len(got) > 0


def _mongo_catalog(sf_small, docs):
    """Nation molecule served by a fake-Mongo source."""
    cat = tpch_catalog(sf_small)
    from ontario_spark.catalog.tpch_rdf import _move_map

    _move_map(cat, "NationMap")
    mongo = DataSource(name="mongo_src", dstype="mongodb")
    cat.add(
        mongo,
        TripleMap(
            name="NationMongo",
            source=LogicalSource(table="nations"),
            subject=tpl(EX + "nation/{nid}"),
            subject_class=EX + "Nation",
            predicates=((EX + "name", ref("nname")),),
        ),
    )
    from tests.test_translate import run_pipeline

    cat.executors["mongo_src"] = lambda coll, pipe: run_pipeline(docs[coll], pipe)
    return cat


def test_mongo_star_federated_join(spark, sf_small):
    nat = [
        {"nid": int(r["n_nationkey"]), "nname": r["n_name"]}
        for r in table(spark, sf_small, "nation").collect()
    ]
    cat = _mongo_catalog(sf_small, {"nations": nat})
    df = SparqlEngine(spark, cat).query(
        PFX
        + """SELECT ?name ?nname WHERE {
              ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
              ?n a ex:Nation ; ex:name ?nname . }"""
    )
    cust = table(spark, sf_small, "customer")
    natdf = table(spark, sf_small, "nation")
    exp = cust.join(natdf, cust.c_nationkey == natdf.n_nationkey).count()
    assert df.count() == exp > 0


def test_sparql_endpoint_star(spark, sf_small):
    """Region molecule behind a fake SPARQL endpoint (binding dicts),
    joined with the parquet nation star."""
    cat = tpch_catalog(sf_small)
    from ontario_spark.catalog.tpch_rdf import _move_map

    _move_map(cat, "RegionMap")
    ep = DataSource(name="kegg_like", dstype="sparql")
    cat.add(
        ep,
        TripleMap(
            name="RegionRemote",
            source=LogicalSource(table="-"),
            subject=tpl(EX + "region/{r_regionkey}"),
            subject_class=EX + "Region",
            predicates=((EX + "name", ref("r_name")),),
        ),
    )
    reg = table(spark, sf_small, "region").collect()

    captured = {}

    def endpoint(query: str):
        captured["q"] = query
        assert query.startswith("SELECT")
        return [
            {"r": f"{EX}region/{row['r_regionkey']}", "rname": row["r_name"]}
            for row in reg
        ]

    cat.executors["kegg_like"] = endpoint
    df = SparqlEngine(spark, cat).query(
        PFX
        + """SELECT ?nname ?rname WHERE {
              ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
              ?r a ex:Region ; ex:name ?rname . }"""
    )
    natdf = table(spark, sf_small, "nation")
    regdf = table(spark, sf_small, "region")
    exp = natdf.join(regdf, natdf.n_regionkey == regdf.r_regionkey).count()
    assert df.count() == exp > 0
    # the star was shipped verbatim as SPARQL text
    assert "ex.org" in captured["q"] and "?rname" in captured["q"]


def test_missing_executor_raises(spark, sf_small):
    cat = tpch_federated_catalog(sf_small)
    cat.executors.clear()
    with pytest.raises(Exception, match="no executor"):
        SparqlEngine(spark, cat).query(
            PFX + "SELECT ?name WHERE { ?c a ex:Customer ; ex:name ?name }"
        ).collect()


def test_service_clause(spark, sf_small):
    """Explicit SPARQL 1.1 SERVICE: inner pattern ships as SPARQL text
    to the endpoint, bindings join the local group."""
    cat = tpch_catalog(sf_small)
    reg = table(spark, sf_small, "region").collect()
    captured = {}

    def endpoint(query: str):
        captured["q"] = query
        return [
            {"r": f"{EX}region/{row['r_regionkey']}", "rname": row["r_name"]}
            for row in reg
        ]

    eng = SparqlEngine(
        spark, cat, service_executors={"http://remote.example/sparql": endpoint}
    )
    df = eng.query(
        PFX
        + """SELECT ?nname ?rname WHERE {
              ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
              SERVICE <http://remote.example/sparql> {
                ?r ex:name ?rname . FILTER (?rname != "ASIA") } }"""
    )
    rows = df.collect()
    assert captured["q"].startswith("SELECT ?r ?rname WHERE")
    assert "FILTER" not in captured["q"]  # filters applied locally
    assert len(rows) == 20  # 25 nations minus ASIA's 5
    assert all(r["rname"] != "ASIA" for r in rows)


def test_service_silent_failure(spark, sf_small):
    cat = tpch_catalog(sf_small)

    def broken(query: str):
        raise RuntimeError("endpoint down")

    eng = SparqlEngine(
        spark, cat, service_executors={"http://down.example/sparql": broken}
    )
    df = eng.query(
        PFX
        + """SELECT ?n ?x WHERE {
              ?n a ex:Nation .
              OPTIONAL { SERVICE SILENT <http://down.example/sparql> {
                ?n ex:unknown ?x } } }"""
    )
    assert df.count() == 25  # nations survive, ?x unbound
    import pytest as _pytest

    eng2 = SparqlEngine(
        spark, cat, service_executors={"http://down.example/sparql": broken}
    )
    with _pytest.raises(Exception):
        eng2.query(
            PFX
            + """SELECT ?n ?x WHERE {
                  SERVICE <http://down.example/sparql> { ?n ex:unknown ?x } }"""
        ).collect()


def test_service_bound_join_pushdown(spark, sf_small):
    """Local join keys ship into the SERVICE query as VALUES batches —
    the endpoint only ever sees observed keys."""
    cat = tpch_catalog(sf_small)
    reg = {f"{EX}region/{r['r_regionkey']}": r["r_name"]
           for r in table(spark, sf_small, "region").collect()}
    queries = []

    def endpoint(query: str):
        queries.append(query)
        # honor the VALUES block like a real endpoint
        import re
        m = re.search(r"VALUES \?r \{ ([^}]*)\}", query)
        wanted = re.findall(r"<([^>]+)>", m.group(1)) if m else list(reg)
        return [{"r": u, "rname": reg[u]} for u in wanted if u in reg]

    eng = SparqlEngine(
        spark, cat, service_executors={"http://remote.example/sparql": endpoint}
    )
    df = eng.query(
        PFX
        + """SELECT ?nname ?rname WHERE {
              ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
              SERVICE <http://remote.example/sparql> { ?r ex:name ?rname } }"""
    )
    assert df.count() == 25
    assert all("VALUES ?r {" in q for q in queries)  # pushdown happened
    # only the 5 observed region URIs shipped
    import re as _re
    shipped = {u for q in queries for u in _re.findall(r"<([^>]+region[^>]+)>", q)}
    assert shipped == set(reg)


REGIONS = "http://remote.example/sparql"


def _region_endpoint(spark, sf):
    """An injected SPARQL endpoint answering ``?r ex:name ?rname`` for
    every region but region 1, only for the regions of a ``VALUES ?r``
    batch when the query carries one. Returns the region names by IRI,
    the list of queries the endpoint is asked, and the endpoint."""
    import re

    reg = {f"{EX}region/{r['r_regionkey']}": r["r_name"]
           for r in table(spark, sf, "region").collect()}
    queries = []

    def endpoint(query: str):
        queries.append(query)
        m = re.search(r"VALUES \?r \{ ([^}]*)\}", query)
        wanted = re.findall(r"<([^>]+)>", m.group(1)) if m else list(reg)
        # one region the endpoint lacks: its nations stay unbound
        return [{"r": u, "rname": reg[u]} for u in wanted
                if u in reg and not u.endswith("/1")]

    return reg, queries, endpoint


def test_optional_service_reads_outer_keys(spark, sf_small, monkeypatch):
    """A SERVICE block inside OPTIONAL gets the outer frame's keys as
    VALUES batches, read from the held outer rows with no Spark key
    pass; non-matching outer rows keep the OPTIONAL side unbound, and
    an empty outer frame asks the endpoint nothing."""
    import re

    from ontario_spark.sources import pushdown

    cat = tpch_catalog(sf_small)
    reg, queries, endpoint = _region_endpoint(spark, sf_small)
    passes = []
    observed = pushdown.observed_keys
    monkeypatch.setattr(
        pushdown, "observed_keys",
        lambda df, col, n: passes.append(col) or observed(df, col, n),
    )
    eng = SparqlEngine(spark, cat, service_executors={REGIONS: endpoint})
    text = PFX + """SELECT ?nname ?rname WHERE {
              { ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
                FILTER (?nname IN (%s)) }
              OPTIONAL { SERVICE <http://remote.example/sparql> {
                ?r ex:name ?rname } } }"""
    nations = {r["n_name"]: r["n_regionkey"]
               for r in table(spark, sf_small, "nation").collect()}
    picked = sorted(n for n, k in nations.items() if k in (0, 1))
    got = sorted(
        (r["nname"], r["rname"])
        for r in eng.query(
            text % ", ".join(f'"{n}"' for n in picked)
        ).collect()
    )
    want = sorted(
        (n, None if nations[n] == 1 else reg[f"{EX}region/{nations[n]}"])
        for n in picked
    )
    assert got == want and passes == []
    shipped = {u for q in queries for u in re.findall(r"<([^>]+region/[^>]+)>", q)}
    assert queries and shipped == {f"{EX}region/0", f"{EX}region/1"}

    queries.clear()
    assert eng.query(text % '"NO SUCH NATION"').collect() == []
    assert queries == []


def test_optional_service_keys_from_block_hold_no_outer(
    spark, sf_small, monkeypatch
):
    """When the OPTIONAL block's own frame shares the SERVICE var, that
    frame feeds the key list (``_service``'s source order) and is the
    only frame held: the outer frame, which binds the var too, is not
    collected for a key list nothing reads."""
    reg, queries, endpoint = _region_endpoint(spark, sf_small)
    holds = []
    hold = SparqlEngine._hold
    monkeypatch.setattr(
        SparqlEngine, "_hold",
        lambda self, bf: holds.append(sorted(bf.variables)) or hold(self, bf),
    )
    eng = SparqlEngine(
        spark, tpch_catalog(sf_small), service_executors={REGIONS: endpoint}
    )
    got = sorted(
        (r["nname"], r["rname"])
        for r in eng.query(PFX + """SELECT ?nname ?rname WHERE {
              ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
              OPTIONAL { ?n ex:region ?r .
                SERVICE <http://remote.example/sparql> {
                  ?r ex:name ?rname } } }""").collect()
    )
    want = sorted(
        (r["n_name"], None if r["n_regionkey"] == 1
         else reg[f"{EX}region/{r['n_regionkey']}"])
        for r in table(spark, sf_small, "nation").collect()
    )
    assert got == want
    assert holds == [["n", "r"]]
    assert any("VALUES ?r" in q for q in queries)


def test_exists_expression_service_shares_keyed_outer_var(spark, sf_small):
    """An expression-position EXISTS whose block is a SERVICE sharing a
    keyed outer var: the outer hold formats that var, and the filter
    and the projection read the formatted frame."""
    reg, queries, endpoint = _region_endpoint(spark, sf_small)
    eng = SparqlEngine(
        spark, tpch_catalog(sf_small), service_executors={REGIONS: endpoint}
    )
    nations = {r["n_name"]: r["n_regionkey"]
               for r in table(spark, sf_small, "nation").collect()}
    kept = min(n for n, k in nations.items() if k == 1)
    got = sorted(
        (r["nname"], r["r"])
        for r in eng.query(PFX + """SELECT ?nname ?r WHERE {
              ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
              FILTER (?nname = "%s" || EXISTS {
                SERVICE <http://remote.example/sparql> {
                  ?r ex:name ?rname } }) }""" % kept).collect()
    )
    want = sorted(
        (n, f"{EX}region/{k}")
        for n, k in nations.items()
        if k != 1 or n == kept
    )
    assert got == want and len(got) < len(nations)
    assert any("VALUES ?r" in q for q in queries)


def test_service_skips_fetch_when_build_side_is_empty(spark, sf_small):
    """A local FILTER that rejects every build row leaves no observed
    keys: the SERVICE result would be inner-joined to nothing, so the
    endpoint must not be asked for its whole pattern."""
    cat = tpch_catalog(sf_small)
    calls = []

    def endpoint(query: str):
        calls.append(query)
        return [{"r": f"{EX}region/0", "rname": "AFRICA"}]

    eng = SparqlEngine(
        spark, cat, service_executors={"http://remote.example/sparql": endpoint}
    )
    df = eng.query(
        PFX
        + """SELECT ?nname ?rname WHERE {
              ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
              FILTER (?nname = "NO SUCH NATION")
              SERVICE <http://remote.example/sparql> { ?r ex:name ?rname } }"""
    )
    assert df.collect() == []
    assert calls == []


def test_values_term_per_key_classification():
    """Each VALUES key is rendered by its own kind — mixed IRI/literal/
    numeric sets and quote-bearing literals all survive (the reference
    samples a prefix and picks one rendering for the whole batch)."""
    from ontario_spark.sources.pushdown import sparql_value_term, values_block

    assert sparql_value_term("http://ex.org/a/1") == "<http://ex.org/a/1>"
    assert sparql_value_term('say "hi"') == '"say \\"hi\\""'
    assert sparql_value_term("back\\slash") == '"back\\\\slash"'
    assert sparql_value_term("http://bad iri/with space") == '"http://bad iri/with space"'
    assert sparql_value_term(42) == "42"
    assert sparql_value_term(True) == "true"
    block = values_block("k", ["http://ex.org/x", 'O"Brien', 7])
    assert block == 'VALUES ?k { <http://ex.org/x> "O\\"Brien" 7 }'


def test_bound_join_mixed_keys_roundtrip(spark, service_fetch):
    """Mixed IRI + literal build keys all reach the endpoint and all
    matching bindings come back (previously literal keys in a mostly-
    IRI batch were emitted as malformed IRIs and dropped)."""
    import re

    data = {
        "http://ex.org/r/1": "one",
        "plain key": "two",
        'quote "key"': "three",
        **{f"k{i}": f"v{i}" for i in range(18)},
    }
    seen = []

    def endpoint(query: str):
        seen.append(query)
        m = re.search(r"VALUES \?k \{ (.*?)\}", query)
        assert m, query
        keys = [
            t[1:-1] if t.startswith("<") else t[1:-1].replace('\\"', '"').replace("\\\\", "\\")
            for t in re.findall(r'<[^>]*>|"(?:[^"\\]|\\.)*"', m.group(1))
        ]
        return [{"k": k, "v": data[k]} for k in keys if k in data]

    build = spark.createDataFrame([(k,) for k in data], "k string")
    for held in (False, True):
        seen.clear()
        fetched = service_fetch(build, "?k <http://ex.org/p> ?v", endpoint, held)
        got = {(r["k"], r["v"]) for r in build.join(fetched.df, on="k").collect()}
        assert got == {(k, v) for k, v in data.items()}
        assert len(seen) == 2  # 21 keys, window 20 -> 2 batches


def test_fetch_all_is_concurrent():
    """Batch fetches overlap instead of serially blocking the driver."""
    import threading
    import time

    from ontario_spark.sources.pushdown import fetch_all

    threads = set()

    def slow_executor(q: str):
        threads.add(threading.get_ident())
        time.sleep(0.15)
        return [{"q": q}]

    t0 = time.perf_counter()
    out = fetch_all(slow_executor, [f"q{i}" for i in range(8)])
    elapsed = time.perf_counter() - t0
    assert [b["q"] for b in out] == [f"q{i}" for i in range(8)]  # order kept
    assert len(threads) > 1
    assert elapsed < 8 * 0.15  # strictly faster than serial


def test_wrapper_bound_join_pushes_in_list(spark, sf_small):
    """A remote SQL star joined to a selective LOCAL star fetches only
    the observed join keys (IN-list in the emitted SQL) — the
    NestedHashJoinFilter posture for wrapper sources, not just
    SERVICE."""
    cat = tpch_federated_catalog(sf_small)
    seen: list[str] = []
    for name, ex in list(cat.executors.items()):
        def wrap(q, _ex=ex):
            seen.append(q)
            return _ex(q)
        cat.executors[name] = wrap
    df = SparqlEngine(spark, cat).query(
        PFX
        + """SELECT ?name ?nname WHERE {
              ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
              ?n a ex:Nation ; ex:name ?nname .
              FILTER (?nname = "NATION_7") }"""
    )
    rows = df.collect()
    assert rows and all(r["nname"] == "NATION_7" for r in rows)
    remote = [q for q in seen if "IN (" in q]
    assert remote, f"no IN-list pushed; remote saw: {seen}"
    # exactly the one observed nation key shipped
    import re
    in_lists = re.findall(r"IN \(([^)]*)\)", remote[-1])
    assert any(lst.strip() == "7" for lst in in_lists), remote[-1]
    # correctness cross-check vs the all-local catalog
    local = SparqlEngine(spark, tpch_catalog(sf_small)).query(
        PFX
        + """SELECT ?name ?nname WHERE {
              ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
              ?n a ex:Nation ; ex:name ?nname .
              FILTER (?nname = "NATION_7") }"""
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, local.collect()))


def test_optional_remote_star_bound_join(spark, sf_small):
    """A remote star inside OPTIONAL gets the OUTER frame's keys pushed
    (NestedHashOptionalFilter posture) and the left-outer semantics
    survive: non-matching outer rows keep NULL."""
    cat = tpch_federated_catalog(sf_small)
    seen: list[str] = []
    for name, ex in list(cat.executors.items()):
        def wrap(q, _ex=ex):
            seen.append(q)
            return _ex(q)
        cat.executors[name] = wrap
    q = (
        PFX
        + """SELECT ?nname ?name WHERE {
              ?n a ex:Nation ; ex:name ?nname .
              FILTER (?nname = "NATION_7")
              OPTIONAL { ?c a ex:Customer ; ex:name ?name ; ex:nation ?n } }"""
    )
    rows = SparqlEngine(spark, cat).query(q).collect()
    assert rows and all(r["nname"] == "NATION_7" for r in rows)
    remote = [s for s in seen if "IN (" in s]
    assert remote, f"outer keys not pushed into OPTIONAL star: {seen}"
    local = SparqlEngine(spark, tpch_catalog(sf_small)).query(q).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, local))


def test_streamed_bound_join_answer_is_one_result_job(spark, sf_small):
    """A bound-join answer over driver-fetched rows streams through
    ``sinks.stream`` in at most two jobs: the fetched rows and the held
    build side are one partition each, so their join runs inside the
    one result job (no broadcast job), and ``toLocalIterator`` does not
    start one job per ``defaultParallelism`` slice."""
    import json
    import uuid

    from ontario_spark import sinks

    cat = tpch_federated_catalog(sf_small)
    fetched: list[dict] = []
    for name, ex in list(cat.executors.items()):
        def wrap(q, _ex=ex):
            rows = _ex(q)
            if "IN (" in q:
                fetched.extend(rows)
            return rows
        cat.executors[name] = wrap
    df = SparqlEngine(spark, cat).query(
        PFX
        + """SELECT ?name ?nname WHERE {
              ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
              ?n a ex:Nation ; ex:name ?nname .
              FILTER (STRSTARTS(?nname, "NATION_1")) }"""
    )
    sc = spark.sparkContext
    assert len(fetched) >= 2 * sc.defaultParallelism
    chunks = sinks.stream(df, "json")
    group = f"stream-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        doc = json.loads("".join(chunks))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert doc["totalRows"] == len(doc["result"]) == len(fetched)


BOUND_JOIN = PFX + """SELECT ?name ?nname WHERE {
              ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
              ?n a ex:Nation ; ex:name ?nname .
              FILTER (STRSTARTS(?nname, "%s")) }"""


def test_bound_join_request_is_two_jobs(spark, sf_small, monkeypatch):
    """One bound-join request, built AND streamed through
    ``sinks.stream`` under one job group, starts at most two Spark
    jobs: the one collect of the held build side (whose rows give the
    remote IN-list in Python) and the result job. Past ``HOLD_ROWS``
    the lazy path still pushes the keys and the answer is identical;
    an empty build side, held or lazy, makes no remote call."""
    import json
    import uuid

    from ontario_spark import sinks
    from ontario_spark.sources import pushdown

    cat = tpch_federated_catalog(sf_small)
    calls: list[str] = []
    for name, ex in list(cat.executors.items()):
        def spy(*args, _ex=ex):
            calls.append(str(args[0]))
            return _ex(*args)
        cat.executors[name] = spy
    eng = SparqlEngine(spark, cat)
    # warm: a session's first read of a table runs a job of its own
    eng.query(BOUND_JOIN % "NATION_1").collect()
    sc = spark.sparkContext
    group = f"request-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = eng.query(BOUND_JOIN % "NATION_1")
        doc = json.loads("".join(sinks.stream(df, "json")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    assert any("IN (" in q for q in calls), calls
    held = sorted(map(tuple, df.collect()))
    assert doc["totalRows"] == len(held) > 0

    # 11 nations start with NATION_1: a cap of 1 keeps the build side lazy
    monkeypatch.setattr(pushdown, "HOLD_ROWS", 1)
    calls.clear()
    lazy = eng.query(BOUND_JOIN % "NATION_1").collect()
    assert any("IN (" in q for q in calls), calls
    assert sorted(map(tuple, lazy)) == held

    for cap in (1, 10_000):
        monkeypatch.setattr(pushdown, "HOLD_ROWS", cap)
        calls.clear()
        assert eng.query(BOUND_JOIN % "NO SUCH NATION").collect() == []
        assert calls == []


# the inner group filters the nations before the block hangs off them
# (a group's own FILTERs apply after its OPTIONAL/MINUS blocks)
HANGING = PFX + """SELECT * WHERE {
              { ?n a ex:Nation ; ex:name ?nname .
                FILTER (STRSTARTS(?nname, "%s")) }
              %s }"""
AUTO = '?c a ex:Customer ; ex:nation ?n ; ex:mktsegment "AUTOMOBILE"'
REMOTE_BLOCKS = {
    "optional": "OPTIONAL { ?c a ex:Customer ; ex:name ?name ; ex:nation ?n }",
    # ?nname is outer-only: the filter is the LeftJoin condition
    "optional_condition": """OPTIONAL { ?c a ex:Customer ; ex:name ?name ;
                                ex:nation ?n . FILTER (?nname != "NATION_11") }""",
    "minus": "MINUS { %s }" % AUTO,
    "exists": "FILTER EXISTS { %s }" % AUTO,
    "not_exists": "FILTER NOT EXISTS { %s }" % AUTO,
    "exists_expression": 'FILTER (?nname = "NATION_10" || EXISTS { %s })' % AUTO,
}


@pytest.mark.parametrize("block", sorted(REMOTE_BLOCKS))
def test_outer_frame_is_held_for_remote_key_lists(
    spark, sf_small, monkeypatch, block
):
    """A remote star inside OPTIONAL, MINUS or [NOT] EXISTS reads its
    key list from the outer frame, held once: no Spark key pass
    (``observed_keys``), the IN-list still pushed, and the all-local
    answer. Past ``HOLD_ROWS`` the lazy outer frame gives the same
    answer, and an empty outer frame makes no remote call."""
    from ontario_spark.sources import pushdown

    cat = tpch_federated_catalog(sf_small)
    calls: list[str] = []
    orig = cat.executors["remote_sql"]

    def spy(sql):
        calls.append(sql)
        return orig(sql)

    cat.executors["remote_sql"] = spy
    passes: list[str] = []
    observed = pushdown.observed_keys

    def key_pass(df, col, max_keys):
        passes.append(col)
        return observed(df, col, max_keys)

    monkeypatch.setattr(pushdown, "observed_keys", key_pass)
    eng = SparqlEngine(spark, cat)
    text = HANGING % ("NATION_1", REMOTE_BLOCKS[block])
    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    got = rows(eng.query(text))
    assert passes == []
    assert any("IN (" in q for q in calls), calls
    local = SparqlEngine(spark, tpch_catalog(sf_small)).query(text)
    assert got == rows(local) and got

    # 11 nations start with NATION_1: a cap of 1 keeps the outer lazy
    monkeypatch.setattr(pushdown, "HOLD_ROWS", 1)
    assert rows(eng.query(text)) == got
    monkeypatch.setattr(pushdown, "HOLD_ROWS", 10_000)

    calls.clear()
    empty = HANGING % ("NO SUCH NATION", REMOTE_BLOCKS[block])
    assert eng.query(empty).collect() == []
    assert calls == []


def test_local_nested_block_is_not_held(spark, sf_small):
    """An OPTIONAL block no remote key list reads from leaves the
    outer frame lazy: building the query starts no Spark job."""
    from tests.test_plans import _build_jobs

    eng = SparqlEngine(spark, tpch_federated_catalog(sf_small))
    text = HANGING % ("NATION_1", "OPTIONAL { ?n ex:region ?r }")
    eng.query(text).collect()  # a session's first read runs a job
    assert _build_jobs(spark, lambda: eng.query(text)) == 0


def test_early_filter_waits_for_maybe_unbound_vars(spark, sf_small):
    """A FILTER over a var the build side may leave unbound (here ?c,
    bound in one UNION branch only) waits for the group's final pass:
    the remote Customer star still binds ?c on the other branch's
    rows, so ``BOUND(?c)`` applied before the fetch would drop
    answers the all-local catalog returns."""
    sparql = PFX + """SELECT ?o ?c ?name WHERE {
        { ?o a ex:Order ; ex:customer ?c ; ex:orderpriority "1-URGENT" }
        UNION
        { ?o a ex:Order ; ex:orderpriority "5-LOW" ; ex:orderstatus "P" }
        ?c a ex:Customer ; ex:name ?name ; ex:acctbal ?bal .
        FILTER (?bal > 9000.0) FILTER (BOUND(?c)) }"""

    def answers(cat):
        df = SparqlEngine(spark, cat).query(sparql)
        return sorted(tuple(r) for r in df.collect())

    local = answers(tpch_catalog(sf_small))
    assert answers(tpch_federated_catalog(sf_small)) == local
    assert len(local) > 0


def _request_jobs(spark, run, sf_dir) -> tuple[int, dict]:
    """Spark jobs of one warm request: ``run`` built and streamed
    through ``sinks.stream`` as JSON under one job group."""
    import json
    import uuid

    from ontario_spark import sinks

    run(spark, sf_dir).collect()  # warm: first reads run jobs of their own
    sc = spark.sparkContext
    group = f"request-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        doc = json.loads("".join(sinks.stream(run(spark, sf_dir), "json")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), doc


def test_trisource_request_jobs(spark, sf_small):
    """``lslod_cq6_trisource`` (Derby JDBC customers, Mongo suppliers,
    lake nations, OPTIONAL customer balance), built and streamed
    through ``sinks.stream`` under one job group, starts at most 8
    Spark jobs: its OPTIONAL block reads the customer keys from the
    held outer frame, so the outer plan runs once, with no key pass
    over it (13 jobs when it did), and the Mongo suppliers join as
    driver rows inside the result job."""
    from ontario_spark.queries.lslod_shapes import ORACLE, QUERIES
    from tests.oracle import run_oracle

    jobs, doc = _request_jobs(spark, QUERIES["lslod_cq6_trisource"], sf_small)
    assert jobs <= 8
    want = run_oracle(ORACLE["lslod_cq6_trisource"], sf_small)
    assert doc["totalRows"] == len(want) > 0


def test_mongo_join_request_jobs(spark, sf_small):
    """``sparql_mongo_join`` starts at most 2 Spark jobs per request:
    the Mongo star's rows come from the driver-side pipeline
    interpreter as one local partition, so they join the held Order
    side inside the result job with no broadcast job."""
    from ontario_spark.queries.sparql_suite import ORACLE, QUERIES
    from tests.oracle import run_oracle

    jobs, doc = _request_jobs(spark, QUERIES["sparql_mongo_join"], sf_small)
    assert jobs <= 2
    want = run_oracle(ORACLE["sparql_mongo_join"], sf_small)
    assert doc["totalRows"] == len(want) > 0


def test_over_cap_prefix_settles_overflow_without_a_job(spark, monkeypatch):
    """Past ``HOLD_ROWS`` the build side stays lazy, but the rows the
    hold collected already settle a key list that overflows
    ``max_keys``, with no Spark job; any other key list still comes
    from Spark's ``observed_keys``."""
    import uuid

    from ontario_spark.catalog.model import Catalog
    from ontario_spark.compiler.frame import LEXICAL, BFrame, TermMeta
    from ontario_spark.compiler.query import _keys
    from ontario_spark.data import local_frame
    from ontario_spark.sources import pushdown

    monkeypatch.setattr(pushdown, "HOLD_ROWS", 3)
    df = local_frame(spark, [(f"k{i}", i % 2) for i in range(6)], "k string, p long")
    meta = {"k": TermMeta(LEXICAL), "p": TermMeta(LEXICAL)}
    held = SparqlEngine(spark, Catalog())._hold(BFrame(df, meta))
    assert not held.whole and len(held.rows) == 4 and held.df is df
    sc = spark.sparkContext
    group = f"prefix-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        assert _keys(held, "k", 2) is None  # 4 distinct keys already
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert _keys(held, "k", 10) == [f"k{i}" for i in range(6)]
    assert _keys(held, "p", 10) == [0, 1]


def test_key_rule_matches_spark_distinct(spark):
    """The one key rule gives the same list from driver rows as
    Spark's ``distinct`` does (``observed_keys``) on mixed IRI/literal
    and typed keys, with NULLs and with the ``max_keys`` overflow."""
    import datetime
    from decimal import Decimal

    from ontario_spark.data import local_frame
    from ontario_spark.sources.pushdown import distinct_keys, observed_keys

    nan = float("nan")
    cases = [
        ("k string", ["http://ex.org/a", "plain", 'q "x"', "urn:x:1",
                      "http://ex.org/a", None, "_:b", "", "plain"]),
        ("k bigint", [3, 1, None, 3, 2, -(2**40)]),
        ("k int", [7, None, 7, 0]),
        ("k double", [1.5, -0.0, 0.0, None, nan, nan, 1e7, 1e-4]),
        ("k decimal(10,2)", [Decimal("1.50"), Decimal("-2.00"), None,
                             Decimal("1.50")]),
        ("k date", [datetime.date(2024, 1, 2), None,
                    datetime.date(1999, 12, 31), datetime.date(2024, 1, 2)]),
        # NULL with overflow: the cap is crossed whatever the NULL does
        ("k string", [f"k{i}" for i in range(5)] + [None]),
    ]
    for schema, values in cases:
        df = local_frame(spark, [(v,) for v in values], schema)
        rows = df.collect()
        full = observed_keys(df, "k", 100)
        assert distinct_keys((r[0] for r in rows), 100) == full, schema
        assert distinct_keys((r[0] for r in rows), len(full)) == full, schema
        cap = len(full) - 1
        assert observed_keys(df, "k", cap) is None, schema
        assert distinct_keys((r[0] for r in rows), cap) is None, schema


def test_fetcher_retries_transient_failures():
    from urllib.error import HTTPError, URLError

    from ontario_spark.sources.sparql_endpoint import with_retries

    calls = []

    def flaky(endpoint, query):
        calls.append(1)
        if len(calls) == 1:
            raise URLError("connection reset")
        if len(calls) == 2:
            raise HTTPError(endpoint, 503, "busy", {}, None)
        return {"results": {"bindings": [{"x": {"value": "ok"}}]}}

    out = with_retries(flaky, retries=3, backoff=0.01)("http://e", "q")
    assert out["results"]["bindings"][0]["x"]["value"] == "ok"
    assert len(calls) == 3

    def forbidden(endpoint, query):
        calls.append(1)
        raise HTTPError(endpoint, 403, "no", {}, None)

    calls.clear()
    import pytest as _pytest
    with _pytest.raises(HTTPError):
        with_retries(forbidden, retries=3, backoff=0.01)("http://e", "q")
    assert len(calls) == 1  # 4xx: no retry


def test_service_term_fidelity_lang_and_datatype(spark, sf_small):
    """Round-4 fix: SPARQL-JSON type/xml:lang/datatype survive the
    SERVICE lift as side columns, so LANG()/LANGMATCHES()/DATATYPE()
    filter remote bindings correctly (the reference ships full term
    dicts end-to-end, wrappers/triplestore/__init__.py:82-102)."""
    cat = tpch_catalog(sf_small)
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"

    def endpoint(query):
        return [
            {"r": f"{EX}region/0", "r__type": "uri",
             "rname": "Europa", "rname__type": "literal", "rname__lang": "de"},
            {"r": f"{EX}region/1", "r__type": "uri",
             "rname": "Europe", "rname__type": "literal", "rname__lang": "en"},
            {"r": f"{EX}region/2", "r__type": "uri",
             "rname": "42", "rname__type": "literal", "rname__dt": xsd_int},
        ]

    eng = SparqlEngine(
        spark, cat, service_executors={"http://remote.example/sparql": endpoint}
    )
    svc = "SERVICE <http://remote.example/sparql> { ?r ex:name ?rname . %s }"
    q = lambda f: eng.query(  # noqa: E731
        PFX + "SELECT ?rname WHERE { " + (svc % f) + " }"
    )
    assert [r["rname"] for r in q('FILTER (LANG(?rname) = "en")').collect()] == [
        "Europe"
    ]
    assert [
        r["rname"]
        for r in q('FILTER (LANGMATCHES(LANG(?rname), "de"))').collect()
    ] == ["Europa"]
    assert [
        r["rname"]
        for r in q(f'FILTER (DATATYPE(?rname) = "{xsd_int}")').collect()
    ] == ["42"]
    # lang-tagged literals have datatype rdf:langString; plain-dict
    # executors (no metadata) degrade to xsd:string, never crash
    got = q(
        'FILTER (DATATYPE(?rname) = '
        '"http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")'
    ).collect()
    assert sorted(r["rname"] for r in got) == ["Europa", "Europe"]


def test_paged_bindings_full_terms():
    from ontario_spark.sources.sparql_endpoint import paged_bindings

    def fake_fetcher(endpoint, query):
        return {
            "results": {
                "bindings": [
                    {
                        "x": {"type": "literal", "value": "hi", "xml:lang": "en"},
                        "y": {"type": "uri", "value": "http://a/b"},
                    }
                ]
            }
        }

    (row,) = list(
        paged_bindings("http://e", "SELECT", fetcher=fake_fetcher, full_terms=True)
    )
    assert row["x"] == "hi" and row["x__lang"] == "en"
    assert row["x__type"] == "literal" and row["x__dt"] is None
    assert row["y__type"] == "uri"
    plain = list(paged_bindings("http://e", "SELECT", fetcher=fake_fetcher))
    assert plain == [{"x": "hi", "y": "http://a/b"}]


def test_langmatches_subtag_and_shared_service_var(spark, sf_small):
    """RFC 4647 basic filtering: range "en" must match subtagged
    "en-US" (live once SERVICE term fidelity ships real subtags); and
    joining two SERVICE frames sharing a variable must not leave
    duplicate __lang side columns behind (ambiguous reference)."""
    cat = tpch_catalog(sf_small)

    def ep_a(query):
        return [
            {"r": f"{EX}region/1", "r__type": "uri",
             "a": "color", "a__type": "literal", "a__lang": "en-US"},
            {"r": f"{EX}region/2", "r__type": "uri",
             "a": "colour", "a__type": "literal", "a__lang": "en-GB"},
            {"r": f"{EX}region/3", "r__type": "uri",
             "a": "Farbe", "a__type": "literal", "a__lang": "de"},
        ]

    def ep_b(query):
        return [
            {"r": f"{EX}region/1", "r__type": "uri",
             "b": "x", "b__type": "literal"},
            {"r": f"{EX}region/2", "r__type": "uri",
             "b": "y", "b__type": "literal"},
            {"r": f"{EX}region/3", "r__type": "uri",
             "b": "z", "b__type": "literal"},
        ]

    eng = SparqlEngine(
        spark,
        cat,
        service_executors={
            "http://a.example/sparql": ep_a,
            "http://b.example/sparql": ep_b,
        },
    )
    df = eng.query(
        PFX
        + """SELECT ?a ?b WHERE {
             SERVICE <http://a.example/sparql> { ?r ex:name ?a }
             SERVICE <http://b.example/sparql> { ?r ex:name ?b }
             FILTER (LANGMATCHES(LANG(?a), "en")) }"""
    )
    assert sorted((r["a"], r["b"]) for r in df.collect()) == [
        ("color", "x"),
        ("colour", "y"),
    ]


def test_service_silent_failure_is_join_identity(spark, sf_small):
    """SERVICE SILENT + endpoint failure = the single empty solution
    (SPARQL 1.1 Federation): local rows SURVIVE with the service's
    variables unbound even WITHOUT an OPTIONAL wrapper."""
    cat = tpch_catalog(sf_small)

    def broken(query: str):
        raise RuntimeError("endpoint down")

    eng = SparqlEngine(
        spark, cat, service_executors={"http://down.example/sparql": broken}
    )
    df = eng.query(
        PFX
        + """SELECT ?n ?x WHERE {
              ?n a ex:Nation .
              SERVICE SILENT <http://down.example/sparql> {
                ?n ex:unknown ?x } }"""
    )
    rows = df.collect()
    assert len(rows) == 25
    assert all(r["x"] is None for r in rows)


def test_cost_ranked_ordering_flips_in_list_direction(spark, sf_small):
    """Round-5 (reference Tree.py leaf sort): with TWO remote SQL
    stars, the MORE-CONSTANT star must fetch first regardless of its
    position in the query text, so the other remote star's SQL carries
    an IN-list of the observed keys. The query below lists the
    unconstrained Order star FIRST; document-order compilation would
    fetch orders unfiltered — cost ranking makes the constant-heavy
    Customer star the build side instead."""
    from ontario_spark.catalog.tpch_rdf import _move_map, duckdb_sql_executor

    cat = tpch_catalog(sf_small)
    cmap = _move_map(cat, "CustomerMap")
    omap = _move_map(cat, "OrderMap")
    cat.add(DataSource(name="remote_sql_c", dstype="ansi", base_path=""), cmap)
    cat.add(DataSource(name="remote_sql_o", dstype="ansi", base_path=""), omap)
    seen: dict[str, list[str]] = {"c": [], "o": []}
    c_ex = duckdb_sql_executor(sf_small, ("customer",))
    o_ex = duckdb_sql_executor(sf_small, ("orders",))
    cat.executors["remote_sql_c"] = lambda q: (seen["c"].append(q), c_ex(q))[1]
    cat.executors["remote_sql_o"] = lambda q: (seen["o"].append(q), o_ex(q))[1]
    df = SparqlEngine(spark, cat).query(
        PFX
        + """SELECT ?o ?name WHERE {
              ?o a ex:Order ; ex:customer ?c .
              ?c a ex:Customer ; ex:name ?name ; ex:mktsegment "BUILDING" . }"""
    )
    rows = df.collect()
    assert seen["c"] and seen["o"]
    # the customer fetch goes out WITHOUT observed-key bounds (it is
    # the build side); the orders fetch carries the IN-list
    assert all("IN (" not in q for q in seen["c"]), seen["c"]
    assert any("IN (" in q for q in seen["o"]), seen["o"]
    # correctness unchanged vs the all-local catalog
    local = SparqlEngine(spark, tpch_catalog(sf_small)).query(
        PFX
        + """SELECT ?o ?name WHERE {
              ?o a ex:Order ; ex:customer ?c .
              ?c a ex:Customer ; ex:name ?name ; ex:mktsegment "BUILDING" . }"""
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, local.collect()))


# --- round-5 sources review fixes ----------------------------------------


def test_bound_join_fetch_empty_build_side(spark, service_fetch):
    """Empty (or all-NULL-key) build side: zero remote batches, empty
    result — review fix: ThreadPoolExecutor(max_workers=0) crashed."""
    calls: list[str] = []

    def executor(q):
        calls.append(q)
        return [{"x": "1", "y": "a"}]

    empty = spark.createDataFrame([], "x string")
    nulls = spark.createDataFrame([(None,), (None,)], "x string")
    for build in (empty, nulls):
        for held in (False, True):
            out = service_fetch(build, "?x ?p ?y", executor, held)
            assert out.df.count() == 0 and calls == []


def test_bound_join_null_does_not_mask_overflow(spark, service_fetch, monkeypatch):
    """With max_keys exceeded AND a NULL key present, the fetch must
    fall back to the UNFILTERED remote query — review fix: filtering
    NULLs after limit() shrank the overflow sentinel away and silently
    dropped join keys."""
    from ontario_spark.sources import pushdown

    monkeypatch.setattr(pushdown, "SERVICE_MAX_KEYS", 4)
    seen: list[str] = []

    def executor(q):
        seen.append(q)
        return []

    rows = [(f"k{i}",) for i in range(5)] + [(None,)]
    build = spark.createDataFrame(rows, "x string")
    rdf_type = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"
    for held in (False, True):
        seen.clear()
        service_fetch(build, "?x a ?t", executor, held)
        # unfiltered fallback
        assert seen == [f"SELECT ?t ?x WHERE {{ ?x {rdf_type} ?t . }}"]
    assert pushdown.observed_keys(build, "x", 4) is None
    assert pushdown.distinct_keys((r[0] for r in rows), 4) is None


def test_paged_bindings_orders_and_refuses_truncation():
    from ontario_spark.sources.sparql_endpoint import paged_bindings

    issued: list[str] = []

    def fake(endpoint, q):
        issued.append(q)
        # always a full page → pager must eventually refuse, not truncate
        return {"results": {"bindings": [
            {"v": {"type": "literal", "value": "x"}}] * 2}}

    import pytest

    with pytest.raises(RuntimeError, match="max_pages"):
        list(paged_bindings("http://e", "SELECT ?v WHERE { ?v a ?t }",
                            page_size=2, fetcher=fake, max_pages=3,
                            order_vars=["v"]))
    assert len(issued) == 3
    assert all("ORDER BY ?v" in q for q in issued)  # stable paging order


def test_rest_empty_payload_yields_zero_rows(spark):
    from ontario_spark.sources.rest import rows_to_df

    df = rows_to_df(spark, [])
    assert df.count() == 0


# --- bound-join pushdown × §10.2 compatibility (round-8 review) --------


def test_wrapper_pushdown_skips_maybe_null_vars(spark, sf_small):
    """A UNION branch leaves ?n unbound, so the remote Customer star's
    IN-list pushdown must NOT batch on ?n: the unbound rows join as
    §10.2 wildcards against EVERY customer, which an observed-keys
    fetch would under-serve. The guard skips flagged vars (unfiltered
    fetch) and the federated answer equals the all-local one."""
    q = (
        PFX
        + """SELECT ?name ?nname WHERE {
              { ?n a ex:Nation ; ex:name ?nname .
                FILTER (?nname = "NATION_7") }
              UNION
              { ?r a ex:Region ; ex:name ?rname .
                FILTER (?rname = "ASIA") }
              ?c a ex:Customer ; ex:name ?name ; ex:nation ?n . }"""
    )
    cat = tpch_federated_catalog(sf_small)
    seen: list[str] = []
    for name, ex in list(cat.executors.items()):
        def wrap(sql, _ex=ex):
            seen.append(sql)
            return _ex(sql)
        cat.executors[name] = wrap
    rows = SparqlEngine(spark, cat).query(q).collect()
    # no IN-list batched on the maybe-unbound join var
    assert not any("IN (" in s for s in seen), seen
    local = SparqlEngine(spark, tpch_catalog(sf_small)).query(q).collect()
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    assert sorted(map(tuple, rows), key=key) == sorted(
        map(tuple, local), key=key
    )
    # shape check: nation-7 customers bound + ALL customers wildcarded
    n_cust = table(spark, sf_small, "customer").count()
    n_cust7 = (
        table(spark, sf_small, "customer")
        .filter(F.col("c_nationkey") == 7)
        .count()
    )
    assert len(rows) == n_cust7 + n_cust
    assert sum(r["nname"] is None for r in rows) == n_cust


def test_service_pushdown_skips_maybe_null_vars(spark, sf_small):
    """Same guard on the SERVICE seam: when the shared var can be
    unbound on the build side, no VALUES batching — the endpoint gets
    the unfiltered pattern so wildcard rows can match every remote
    binding."""
    reg = {f"{EX}region/{r['r_regionkey']}": r["r_name"]
           for r in table(spark, sf_small, "region").collect()}
    queries: list[str] = []

    def endpoint(query: str):
        queries.append(query)
        import re
        m = re.search(r"VALUES \?r \{ ([^}]*)\}", query)
        wanted = re.findall(r"<([^>]+)>", m.group(1)) if m else list(reg)
        return [{"r": u, "rname": reg[u]} for u in wanted if u in reg]

    eng = SparqlEngine(
        spark,
        tpch_catalog(sf_small),
        service_executors={"http://remote.example/sparql": endpoint},
    )
    rows = eng.query(
        PFX
        + """SELECT ?nname ?rname WHERE {
              { ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
                FILTER (?nname = "NATION_7") }
              UNION
              { ?r2 a ex:Region ; ex:name ?rn2 . FILTER (?rn2 = "ASIA") }
              SERVICE <http://remote.example/sparql> { ?r ex:name ?rname } }"""
    ).collect()
    assert not any("VALUES ?r" in s for s in queries), queries
    # branch 1: nation 7's single region; branch 2: ?r unbound → all 5
    assert len(rows) == 1 + len(reg)
    assert sum(r["nname"] is None for r in rows) == len(reg)


def test_service_partial_bindings_join_as_wildcards(spark, sf_small):
    """A lenient endpoint returning bindings that MISS a variable
    yields NULL columns; the SERVICE frame flags them maybe_null, so
    the local join treats those rows as §10.2 wildcards (merge takes
    the local binding) instead of equi-dropping them."""
    def endpoint(query: str):
        return [
            {"r": f"{EX}region/1", "rname": "AMERICA"},
            {"rname": "EVERYWHERE"},  # ?r unbound in this binding
        ]

    eng = SparqlEngine(
        spark,
        tpch_catalog(sf_small),
        service_executors={"http://remote.example/sparql": endpoint},
    )
    rows = eng.query(
        PFX
        + """SELECT ?nname ?r ?rname WHERE {
              ?n a ex:Nation ; ex:name ?nname ; ex:region ?r .
              SERVICE <http://remote.example/sparql> { ?r ex:name ?rname } }"""
    ).collect()
    nat = table(spark, sf_small, "nation")
    n_total = nat.count()
    n_region1 = nat.filter(F.col("n_regionkey") == 1).count()
    # bound binding matches region-1 nations; unbound one matches ALL
    assert len(rows) == n_region1 + n_total
    assert sum(r["rname"] == "EVERYWHERE" for r in rows) == n_total
    # the wildcard rows took the LOCAL ?r binding (merge, not NULL)
    assert all(r["r"] is not None for r in rows)


def test_hint_template_pruning_drops_unjoinable_remote_fetch(spark, sf_small):
    """Round-8 hint-template pruning: an OPTIONAL star whose predicate
    several molecules offer (ex:acctbal: Customer AND Supplier) only
    fetches the molecule whose subject template matches the outer
    frame's keyed join var — the Supplier fetch through the Mongo
    wrapper is provably dead work for a Customer-keyed ?c."""
    from ontario_spark.catalog.tpch_rdf import tpch_trisource_catalog

    cat = tpch_trisource_catalog(sf_small)
    mongo_colls: list[str] = []
    mg = cat.executors["remote_mongo"]
    cat.executors["remote_mongo"] = lambda c, p: (
        mongo_colls.append(c),
        mg(c, p),
    )[1]
    q = (
        PFX
        + """SELECT ?name ?nname ?bal WHERE {
              ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
              ?n a ex:Nation ; ex:name ?nname .
              FILTER (STRSTARTS(?nname, "NATION_1"))
              OPTIONAL { ?c ex:acctbal ?bal } }"""
    )
    rows = SparqlEngine(spark, cat).query(q).collect()
    # the OPTIONAL star never touched the supplier collection
    assert mongo_colls == [], mongo_colls
    # answers match the all-local catalog (pruning is plan-only);
    # remote frames carry lexical forms, so compare stringified values
    local = SparqlEngine(spark, tpch_catalog(sf_small)).query(q).collect()

    def canon(rws):
        return sorted(
            tuple("" if x is None else str(x) for x in t)
            for t in map(tuple, rws)
        )

    assert canon(rows) == canon(local)
    assert rows and all(r["bal"] is not None for r in rows)


def test_trailing_values_feeds_service_pushdown(spark, sf_small):
    """Round-9 (lifting the parser's documented trade): a trailing
    W3C VALUES clause with never-UNDEF columns feeds SERVICE bound-join
    pushdown — the endpoint sees VALUES batches of the clause's keys —
    while join semantics stay the finished-pattern join (results
    unchanged)."""
    cat = tpch_catalog(sf_small)
    reg = {f"{EX}region/{r['r_regionkey']}": r["r_name"]
           for r in table(spark, sf_small, "region").collect()}
    queries = []

    def endpoint(query: str):
        queries.append(query)
        import re
        m = re.search(r"VALUES \?r \{ ([^}]*)\}", query)
        wanted = re.findall(r"<([^>]+)>", m.group(1)) if m else list(reg)
        return [{"r": u, "rname": reg[u]} for u in wanted if u in reg]

    eng = SparqlEngine(
        spark, cat, service_executors={"http://remote.example/sparql": endpoint}
    )
    two = sorted(reg)[:2]
    df = eng.query(
        PFX
        + """SELECT ?r ?rname WHERE {
              SERVICE <http://remote.example/sparql> { ?r ex:name ?rname } }
           VALUES ?r { <%s> <%s> }""" % (two[0], two[1])
    )
    rows = {(r["r"], r["rname"]) for r in df.collect()}
    assert rows == {(u, reg[u]) for u in two}
    # the endpoint received ONLY the two trailing-VALUES keys
    assert queries and all("VALUES ?r {" in q for q in queries)
    import re as _re
    shipped = {
        u for q in queries for u in _re.findall(r"<([^>]+region[^>]+)>", q)
    }
    assert shipped == set(two)


def test_trailing_values_undef_column_never_pushes(spark, sf_small):
    """An UNDEF-bearing trailing-VALUES column is a §10.2 wildcard —
    it must NOT prune the SERVICE fetch (the unfiltered query ships),
    and the wildcard row joins every remote binding."""
    cat = tpch_catalog(sf_small)
    reg = {f"{EX}region/{r['r_regionkey']}": r["r_name"]
           for r in table(spark, sf_small, "region").collect()}
    queries = []

    def endpoint(query: str):
        queries.append(query)
        assert "VALUES" not in query  # wildcard column: no batches
        return [{"r": u, "rname": n} for u, n in reg.items()]

    eng = SparqlEngine(
        spark, cat, service_executors={"http://remote.example/sparql": endpoint}
    )
    one = sorted(reg)[0]
    df = eng.query(
        PFX
        + """SELECT ?r ?rname WHERE {
              SERVICE <http://remote.example/sparql> { ?r ex:name ?rname } }
           VALUES ?r { <%s> UNDEF }""" % one
    )
    assert df.count() == len(reg) + 1  # wildcard row matches all + the key


def test_trailing_values_feeds_sql_star_in_list(spark, sf_small):
    """Trailing VALUES on a reference-bound var of a remote SQL star
    lands in the translated WHERE as an IN-list (bound-join pushdown
    through _bound_key_conds), with unchanged results."""
    from ontario_spark.catalog.tpch_rdf import tpch_federated_catalog

    cat = tpch_federated_catalog(sf_small)
    captured = []
    orig = cat.executors["remote_sql"]

    def spy(sql):
        captured.append(sql)
        return orig(sql)

    cat.executors["remote_sql"] = spy
    eng = SparqlEngine(spark, cat)
    df = eng.query(
        PFX
        + """SELECT ?c ?seg WHERE {
              ?c a ex:Customer ; ex:mktsegment ?seg . }
           VALUES ?seg { "BUILDING" "MACHINERY" }"""
    )
    out = {r["seg"] for r in df.collect()}
    assert out == {"BUILDING", "MACHINERY"}
    assert captured and any(
        "IN ('BUILDING', 'MACHINERY')" in q for q in captured
    ), captured


def _values_keys_start_no_job(spark, sf_small, text):
    """Build ``text`` (a Customer star joined with ``VALUES ?seg``):
    no Spark job, the segment IN-list in the one remote SQL, and the
    lake's answer."""
    from ontario_spark.catalog.tpch_rdf import tpch_federated_catalog
    from tests.test_plans import _build_jobs

    cat = tpch_federated_catalog(sf_small)
    captured = []
    orig = cat.executors["remote_sql"]

    def spy(sql):
        captured.append(sql)
        return orig(sql)

    cat.executors["remote_sql"] = spy
    eng = SparqlEngine(spark, cat)
    built = []
    assert _build_jobs(spark, lambda: built.append(eng.query(text))) == 0
    assert captured == [
        'SELECT t0."c_custkey" AS "c__k0", t0."c_mktsegment" AS "seg" '
        'FROM "customer" t0 WHERE t0."c_custkey" IS NOT NULL AND '
        "t0.\"c_mktsegment\" IS NOT NULL AND "
        "t0.\"c_mktsegment\" IN ('BUILDING', 'MACHINERY')"
    ]
    got = sorted((r["c"], r["seg"]) for r in built[0].collect())
    want = sorted(
        (f"{EX}customer/{r['c_custkey']}", r["c_mktsegment"])
        for r in table(spark, sf_small, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .collect()
    )
    assert got == want and got


def test_trailing_values_keys_start_no_job(spark, sf_small):
    """The trailing-VALUES hint is built from the query text and held:
    its key list is read from the driver rows, so building the query
    starts no Spark job (a lazy hint cost an ``observed_keys`` pass)
    while the remote call and the answer stay the same."""
    _values_keys_start_no_job(
        spark,
        sf_small,
        PFX
        + """SELECT ?c ?seg WHERE {
              ?c a ex:Customer ; ex:mktsegment ?seg . }
           VALUES ?seg { "BUILDING" "MACHINERY" }""",
    )


def test_group_values_keys_start_no_job(spark, sf_small):
    """An inline VALUES block inside the group is the group's whole
    build side and is already held, so ``_hold`` hands it back with no
    collect: building starts no Spark job (a re-collect cost one), the
    remote SQL and the answer stay the same."""
    _values_keys_start_no_job(
        spark,
        sf_small,
        PFX
        + """SELECT ?c ?seg WHERE {
              ?c a ex:Customer ; ex:mktsegment ?seg .
              VALUES ?seg { "BUILDING" "MACHINERY" } }""",
    )


def test_cypher_join_through_bolt_executor_injected_transport(spark, sf_small):
    """Round-10 (VERDICT r9 task 6): run sparql_cypher_join's SPARQL
    through ``graphstore.bolt_executor`` — the PRODUCTION call path
    (long-lived driver, session context manager, record.data()
    materialization) — with an injected transport speaking the neo4j
    driver's exact session surface, backed by the tested interpreter
    (the Derby pattern: same executor code as production, sandbox-
    available backend). Results must equal the interpreter-direct
    executor's."""
    from ontario_spark.catalog.tpch_rdf import tpch_cypher_catalog
    from ontario_spark.sources.docstore import parquet_doc_loader
    from ontario_spark.sources.graphstore import bolt_executor, run_cypher

    load = parquet_doc_loader(sf_small)
    graph = {"Customer": load("customer")}
    sessions: list[dict] = []

    class FakeRecord:
        def __init__(self, row: dict):
            self._row = row

        def data(self) -> dict:
            return dict(self._row)

    class FakeSession:
        def __init__(self, database):
            self.database = database
            self.closed = False
            self.ran: list[str] = []

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.closed = True
            return False

        def run(self, cypher: str):
            self.ran.append(cypher)
            return [FakeRecord(r) for r in run_cypher(cypher, graph)]

    class FakeBoltDriver:
        def session(self, database=None):
            s = FakeSession(database)
            sessions.append(s.__dict__)
            self.last = s
            return s

    sparql = (
        PFX
        + """SELECT ?name ?nname WHERE {
             ?c a ex:Customer ; ex:name ?name ; ex:nation ?n .
             ?n a ex:Nation ; ex:name ?nname .
             FILTER (STRSTARTS(?name, "Customer#00000001")) }"""
    )
    cat = tpch_cypher_catalog(sf_small)
    cat.executors["remote_graph"] = bolt_executor(
        database="tpch", driver=FakeBoltDriver()
    )
    got = sorted(
        (r["name"], r["nname"])
        for r in SparqlEngine(spark, cat).query(sparql).collect()
    )
    # interpreter-DIRECT baseline (round 11: the catalog itself now
    # wires the bolt path, so rebuild the executor without it)
    from ontario_spark.sources.graphstore import executor_from_graph

    cat2 = tpch_cypher_catalog(sf_small)
    cat2.executors["remote_graph"] = executor_from_graph(
        lambda: {"Customer": load("customer")}
    )
    want = sorted(
        (r["name"], r["nname"])
        for r in SparqlEngine(spark, cat2).query(sparql).collect()
    )
    assert got == want and len(got) > 0
    # the executor used the injected transport correctly: a session per
    # call, the configured database, context-managed closure, and the
    # translated Cypher (pushed STARTS WITH included) went through run()
    assert sessions and all(s["closed"] for s in sessions)
    assert all(s["database"] == "tpch" for s in sessions)
    assert any("STARTS WITH" in q for s in sessions for q in s["ran"])


def test_bolt_executor_gated_without_driver():
    """Without an injected transport the real neo4j wheel is required;
    its absence must surface as the documented environment gate, not an
    ImportError mid-query."""
    import pytest as _pytest

    from ontario_spark.sources.graphstore import bolt_executor

    try:
        import neo4j  # noqa: F401

        _pytest.skip("neo4j driver present; gate not exercisable")
    except ImportError:
        pass
    with _pytest.raises(NotImplementedError, match="bolt"):
        bolt_executor("bolt://localhost:7687", auth=("u", "p"))


def test_drill_rest_round_trip(spark, sf_small):
    """Round 11: the Drill seam executes through a REAL HTTP POST
    /query.json round-trip (sources/drillrest.py) — translation with
    backtick quoting, the REST request/response shape a drillbit
    serves, and NATIVE result typing (a projected remote numeric must
    surface as a number, not its lexical form)."""
    from ontario_spark.catalog.tpch_rdf import tpch_drill_catalog
    from ontario_spark.sources.drillrest import (
        drill_rest_executor,
        duckdb_drillbit,
    )

    # protocol level: the executor speaks Drill REST verbatim
    run = drill_rest_executor(duckdb_drillbit(sf_small))
    rows = run("SELECT `c_custkey`, `c_acctbal` FROM `customer` "
               "WHERE `c_custkey` <= 3 ORDER BY `c_custkey`")
    assert rows and [r["c_custkey"] for r in rows] == sorted(
        int(r["c_custkey"]) for r in rows
    )
    assert all(isinstance(r["c_acctbal"], float) for r in rows)
    import pytest

    with pytest.raises(RuntimeError, match="drill error"):
        run("SELECT nope FROM missing_table")

    # dialect rewrite is literal-aware (round-12 ADVICE): a backtick
    # INSIDE a pushed string constant must survive the quote swap
    lit = run("SELECT `c_custkey` FROM `customer` "
              "WHERE 'a`b' = 'a`b' AND `c_custkey` = 1")
    assert [r["c_custkey"] for r in lit] == [1]

    # engine level: the federated star answers through the same seam
    # and numeric bindings stay numeric end-to-end
    cat = tpch_drill_catalog(sf_small)
    got = (
        SparqlEngine(spark, cat)
        .query(
            PFX
            + """SELECT ?name ?bal WHERE {
                  ?c a ex:Customer ; ex:name ?name ; ex:acctbal ?bal .
                  FILTER (?bal > 9000.0) }"""
        )
        .collect()
    )
    assert got and all(
        isinstance(r["bal"], float) and r["bal"] > 9000.0 for r in got
    )


def test_drill_bound_join_pushes_in_list(spark, sf_small):
    """Round 12 (VERDICT r11 task 5): a selective lake star restricts
    the remote Drill fetch — the observed ?n join keys must appear as
    an IN-list in the SQL actually POSTed to /query.json, and the
    answer must equal the lake-only equivalent. Reference posture:
    NestedHashJoinFilter.makeInstantiation."""
    from ontario_spark.catalog.tpch_rdf import (
        _serve_remote,
        tpch_catalog,
    )
    from ontario_spark.sources.drillrest import (
        drill_rest_executor,
        duckdb_drillbit,
    )

    posted = []
    inner = drill_rest_executor(duckdb_drillbit(sf_small))

    def spy(sql: str):
        posted.append(sql)
        return inner(sql)

    cat = _serve_remote(
        tpch_catalog(sf_small), "CustomerMap", "remote_drill", "drill", spy
    )
    got = (
        SparqlEngine(spark, cat)
        .query(
            PFX
            + """SELECT ?name ?bal WHERE {
                  ?c a ex:Customer ; ex:name ?name ; ex:acctbal ?bal ;
                     ex:nation ?n .
                  ?n a ex:Nation ; ex:name 'NATION_1' . }"""
        )
        .collect()
    )
    assert got  # NATION_1 customers exist at sf0.001
    # exactly one nation survives the lake filter; its raw key must be
    # the remote IN-list (not an unfiltered full-table fetch)
    import duckdb

    key = duckdb.connect().execute(
        f"SELECT n_nationkey FROM '{sf_small}/nation.parquet' "
        "WHERE n_name = 'NATION_1'"
    ).fetchone()[0]
    cust_sqls = [s for s in posted if "customer" in s.lower()]
    assert cust_sqls, posted
    assert any(
        "IN (" in s.upper().replace("IN(", "IN (") and str(key) in s
        for s in cust_sqls
    ), cust_sqls
    # the pushdown is transfer-only: the answer equals the lake truth
    rows = duckdb.connect().execute(
        "SELECT c_name, c_acctbal FROM "
        f"'{sf_small}/customer.parquet' c JOIN '{sf_small}/nation.parquet' n"
        " ON c_nationkey = n_nationkey WHERE n_name = 'NATION_1'"
    ).fetchall()
    assert sorted((r["name"], round(r["bal"], 6)) for r in got) == sorted(
        (n, round(float(b), 6)) for n, b in rows
    )

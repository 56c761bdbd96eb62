"""Federation sources: SPARQL endpoint bridge (paged fetch, sharding),
bound-join pushdown, and non-parquet catalog formats (csv/tsv/json)
through the full SPARQL engine."""

from __future__ import annotations

import json
import shutil

import pytest

from ontario_spark.data import local_frame
from ontario_spark.sources.pushdown import instantiate_query
from ontario_spark.sources.sparql_endpoint import paged_bindings, sharded_queries

# --- endpoint bridge ----------------------------------------------------


def fake_endpoint(data: list[dict[str, str]]):
    """Fake SPARQL endpoint honoring LIMIT/OFFSET — validates the
    paging protocol without a network."""
    calls: list[str] = []

    def fetcher(endpoint: str, query: str) -> dict:
        calls.append(query)
        limit = offset = None
        for line in query.splitlines():
            if line.startswith("LIMIT"):
                parts = line.split()
                limit, offset = int(parts[1]), int(parts[3])
        rows = data[offset : offset + limit]
        return {
            "results": {
                "bindings": [
                    {k: {"type": "literal", "value": v} for k, v in r.items()}
                    for r in rows
                ]
            }
        }

    fetcher.calls = calls
    return fetcher


def test_paged_fetch_until_short_page(spark):
    data = [{"x": str(i), "y": f"v{i}"} for i in range(25)]
    f = fake_endpoint(data)
    out = list(paged_bindings("http://fake", "SELECT ?x ?y WHERE { ?x ?p ?y }", 10, f))
    assert len(out) == 25
    assert len(f.calls) == 3  # 10 + 10 + 5(short page stops)
    assert out[0] == {"x": "0", "y": "v0"}


def test_paged_bindings_to_local_frame(spark):
    data = [{"x": str(i), "y": f"v{i}"} for i in range(7)]
    f = fake_endpoint(data)
    rows = [
        (b["x"], b["y"])
        for b in paged_bindings(
            "http://fake", "SELECT ?x ?y WHERE { ?s ?p ?o }", 10, f,
            order_vars=["x", "y"],
        )
    ]
    df = local_frame(spark, rows, "x string, y string")
    assert df.count() == 7
    assert df.columns == ["x", "y"]
    assert all("\nORDER BY ?x ?y\nLIMIT 10 OFFSET " in q for q in f.calls)


def test_sharded_queries_disjoint():
    """Shard predicates use only SPARQL 1.1 builtins (MD5/SUBSTR/IN)
    and partition the hex-digit space disjointly and completely."""
    import re as _re

    qs = sharded_queries("SELECT ?s WHERE { ?s a <C> }", "s", 4)
    assert len(qs) == 4
    assert all("SUBSTR(MD5(STR(?s)), 1, 1) IN (" in q for q in qs)
    seen: list[str] = []
    for q in qs:
        seen += _re.findall(r'"([0-9a-f])"', q)
    assert sorted(seen) == sorted("0123456789abcdef")  # disjoint + complete
    # >16 shards widen to two hex chars
    qs2 = sharded_queries("SELECT ?s WHERE { ?s a <C> }", "s", 20)
    assert all("SUBSTR(MD5(STR(?s)), 1, 2) IN (" in q for q in qs2)
    seen2: list[str] = []
    for q in qs2:
        seen2 += _re.findall(r'"([0-9a-f]{2})"', q)
    assert len(seen2) == 256 and len(set(seen2)) == 256


# --- bound-join pushdown ------------------------------------------------


def test_bound_join_batches_and_joins(spark, service_fetch):
    build = spark.createDataFrame(
        [(f"http://x/{i}", i) for i in range(45)], "k string, payload int"
    )
    remote_rows = {f"http://x/{i}": f"name{i}" for i in range(0, 90, 2)}
    executed: list[str] = []

    def executor(query: str):
        executed.append(query)
        assert "VALUES ?k {" in query
        keys = [t[1:-1] for t in query.split("{", 2)[2].split("}")[0].split()]
        return [{"k": k, "name": remote_rows[k]} for k in keys if k in remote_rows]

    for held in (False, True):
        executed.clear()
        fetched = service_fetch(build, "?k <http://ex.org/p> ?name", executor, held)
        rows = build.join(fetched.df, on="k").collect()
        # 45 distinct keys → 3 VALUES batches of ≤20 (reference WINDOW_SIZE)
        assert len(executed) == 3
        assert len(rows) == 23  # even ids 0..44
        assert {r.name for r in rows} == {f"name{i}" for i in range(0, 45, 2)}


def test_instantiate_query_injects_values():
    q = instantiate_query("SELECT ?v WHERE { ?v <p> ?o }", "v", ["http://a", "http://b"])
    assert "VALUES ?v { <http://a> <http://b> }" in q


# --- csv/tsv/json catalog sources through the SPARQL engine -------------


@pytest.fixture(scope="module")
def flat_file_dir(spark, sf_small):
    """Export the customer fixture as csv + json under a repo-local
    scratch dir, mirroring the reference's LOCAL_CSV/LOCAL_JSON demo
    sources."""
    import duckdb

    scratch = "/root/repo/tests/.scratch/flatfiles"
    shutil.rmtree(scratch, ignore_errors=True)
    import os

    os.makedirs(scratch, exist_ok=True)
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT c_custkey, c_name, c_acctbal FROM read_parquet('{sf_small}/customer.parquet')) "
        f"TO '{scratch}/customer.csv' (HEADER, DELIMITER ',')"
    )
    rows = con.execute(
        f"SELECT n_nationkey, n_name FROM read_parquet('{sf_small}/nation.parquet')"
    ).fetchall()
    with open(f"{scratch}/nation.json", "w") as fh:
        for k, n in rows:
            fh.write(json.dumps({"n_nationkey": k, "n_name": n}) + "\n")
    yield scratch
    shutil.rmtree("/root/repo/tests/.scratch", ignore_errors=True)


def test_sparql_over_csv_and_json(spark, flat_file_dir, sf_small):
    from ontario_spark.catalog.model import (
        Catalog,
        DataSource,
        LogicalSource,
        TripleMap,
        ref,
        tpl,
    )
    from ontario_spark.compiler.query import SparqlEngine
    from tests.oracle import assert_match, run_oracle

    EX = "http://ex.org/tpch/"
    cat = Catalog()
    cat.add(
        DataSource(name="flat", dstype="csv", base_path=flat_file_dir),
        TripleMap(
            name="CustomerCsv",
            source=LogicalSource(table="customer.csv", fmt="csv",
                                 options=(("inferSchema", "true"),)),
            subject=tpl(EX + "customer/{c_custkey}"),
            subject_class=EX + "Customer",
            predicates=((EX + "name", ref("c_name")), (EX + "acctbal", ref("c_acctbal"))),
        ),
        TripleMap(
            name="NationJson",
            source=LogicalSource(table="nation.json", fmt="json"),
            subject=tpl(EX + "nation/{n_nationkey}"),
            subject_class=EX + "Nation",
            predicates=((EX + "name", ref("n_name")),),
        ),
    )
    eng = SparqlEngine(spark, cat)
    df = eng.query(
        f'PREFIX ex: <{EX}>\n'
        "SELECT ?name ?bal WHERE { ?c a ex:Customer ; ex:name ?name ; ex:acctbal ?bal . "
        'FILTER (?bal > 5000.0) }'
    )
    oracle = run_oracle(
        """SELECT c_name AS name, c_acctbal AS bal FROM customer
           WHERE c_name IS NOT NULL AND c_acctbal IS NOT NULL AND c_acctbal > 5000.0""",
        sf_small,
    )
    assert_match(df, oracle, "csv_source")
    # json source
    dfn = eng.query(
        f"PREFIX ex: <{EX}>\nSELECT ?name WHERE {{ ?n a ex:Nation ; ex:name ?name }}"
    )
    on = run_oracle("SELECT n_name AS name FROM nation WHERE n_name IS NOT NULL", sf_small)
    assert_match(dfn, on, "json_source")


def test_same_shape_maps_of_different_classes_union(spark, tmp_path):
    """Round-5 planner fix: two maps sharing ONE subject-template
    skeleton but describing DIFFERENT classes must BOTH answer an
    untyped star (one union branch per molecule) — the shape-grouped
    greedy cover previously picked one map and silently dropped the
    other class's rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ontario_spark.catalog.model import (
        Catalog,
        DataSource,
        LogicalSource,
        TripleMap,
        ref,
        tpl,
    )
    from ontario_spark.compiler.query import SparqlEngine

    pq.write_table(
        pa.table({"id": [1, 2], "name": ["p1", "p2"]}),
        f"{tmp_path}/people.parquet",
    )
    pq.write_table(
        pa.table({"id": [7], "name": ["c7"]}), f"{tmp_path}/companies.parquet"
    )
    src = DataSource(name="lake", dstype="parquet", base_path=str(tmp_path))
    person = TripleMap(
        name="PersonMap",
        source=LogicalSource(table="people"),
        subject=tpl("http://e/res/{id}"),
        subject_class="http://e/Person",
        predicates=(("http://e/name", ref("name")),),
    )
    company = TripleMap(
        name="CompanyMap",
        source=LogicalSource(table="companies"),
        subject=tpl("http://e/res/{id}"),
        subject_class="http://e/Company",
        predicates=(("http://e/name", ref("name")),),
    )
    cat = Catalog()
    cat.add(src, person, company)
    eng = SparqlEngine(spark, cat)
    rows = eng.query("SELECT ?n WHERE { ?s <http://e/name> ?n }").collect()
    assert sorted(r["n"] for r in rows) == ["c7", "p1", "p2"]
    # type-variable star: ?t binds BOTH classes, not just the first
    trows = eng.query(
        "SELECT ?t WHERE { ?s a ?t }"
    ).collect()
    assert {r["t"] for r in trows} == {"http://e/Person", "http://e/Company"}


def test_sparql_over_orc(spark, tmp_path, sf_small):
    """ORC lake format (round 6): native Spark reader wired through the
    catalog's format dispatch, full engine end-to-end."""
    from ontario_spark.catalog.model import (
        Catalog,
        DataSource,
        LogicalSource,
        TripleMap,
        ref,
        tpl,
    )
    from ontario_spark.compiler.query import SparqlEngine
    from ontario_spark.data import table
    from tests.oracle import assert_match, run_oracle

    table(spark, sf_small, "nation").write.mode("overwrite").orc(
        f"{tmp_path}/nation_orc"
    )
    EX = "http://ex.org/tpch/"
    cat = Catalog()
    cat.add(
        DataSource(name="orclake", dstype="orc", base_path=str(tmp_path)),
        TripleMap(
            name="NationOrc",
            source=LogicalSource(table="nation_orc", fmt="orc"),
            subject=tpl(EX + "nation/{n_nationkey}"),
            subject_class=EX + "Nation",
            predicates=((EX + "name", ref("n_name")),),
        ),
    )
    eng = SparqlEngine(spark, cat)
    df = eng.query(
        f"PREFIX ex: <{EX}>\nSELECT ?name WHERE {{ ?n a ex:Nation ; ex:name ?name }}"
    )
    oracle = run_oracle(
        "SELECT n_name AS name FROM nation WHERE n_name IS NOT NULL", sf_small
    )
    assert_match(df, oracle, "orc_source")

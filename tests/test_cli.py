"""CLI runner + SPARQL-JSON encoding (reference: run_query.py response
shape, README.md:205-219)."""

from __future__ import annotations

from ontario_spark.cli import run


def test_cli_run_end_to_end(spark, sf_small, tmp_path):
    from ontario_spark.catalog import serde
    from ontario_spark.catalog.tpch_rdf import EX, tpch_catalog

    p = str(tmp_path / "cat.json")
    serde.save(tpch_catalog(sf_small), p)
    out = run(
        p,
        f"PREFIX ex: <{EX}>\n"
        "SELECT ?r ?name WHERE { ?r a ex:Region ; ex:name ?name } ORDER BY ?name",
        spark=spark,
    )
    assert out["vars"] == ["r", "name"]
    assert out["totalRows"] == 5
    assert out["execTime"] > 0 and out["firstResult"] > 0
    b0 = out["result"][0]
    assert b0["r"]["type"] == "uri" and b0["name"]["type"] == "literal"
    names = [b["name"]["value"] for b in out["result"]]
    assert names == sorted(names)


def test_cli_trace_mode(spark, sf_small, tmp_path):
    from ontario_spark.catalog.serde import save
    from ontario_spark.catalog.tpch_rdf import EX, tpch_catalog
    from ontario_spark.cli import run

    cat_path = str(tmp_path / "cat.json")
    save(tpch_catalog(sf_small), cat_path)
    out = run(
        cat_path,
        f"PREFIX ex: <{EX}>\nSELECT ?name WHERE {{ ?c a ex:Customer ; ex:name ?name }} LIMIT 7",
        spark=spark,
        trace=True,
    )
    assert out["totalRows"] == 7 and len(out["trace"]) == 7
    assert out["trace"] == sorted(out["trace"])  # nondecreasing arrivals
    assert out["firstResult"] == out["trace"][0]
    assert out["execTime"] >= out["trace"][-1]


def test_cli_accepts_rml_mappings(spark, tmp_path, capsys):
    (tmp_path / "people.csv").write_text("pid,name\n1,Ada\n2,Erwin\n")
    (tmp_path / "m.ttl").write_text("""
    @prefix rr: <http://www.w3.org/ns/r2rml#> .
    @prefix rml: <http://semweb.mmlab.be/ns/rml#> .
    @prefix ql: <http://semweb.mmlab.be/ns/ql#> .
    @prefix : <http://m#> .
    :P rml:logicalSource [ rml:source "people.csv";
                           rml:referenceFormulation ql:CSV ];
       rr:subjectMap [ rr:template "http://e/person/{pid}";
                       rr:class <http://e/Person> ];
       rr:predicateObjectMap [ rr:predicate <http://e/name>;
                               rr:objectMap [ rml:reference "name" ] ] .
    """)
    from ontario_spark.cli import run

    out = run(
        f"{tmp_path}/m.ttl::{tmp_path}",
        "PREFIX e: <http://e/> SELECT ?n WHERE { ?p a e:Person ; e:name ?n }",
        spark=spark,
    )
    names = sorted(b["n"]["value"] for b in out["result"])
    assert names == ["Ada", "Erwin"]


def test_cli_write_sink(spark, tmp_path):
    """--write persists results as a distributed dataset; the driver
    never collects the bindings."""
    from ontario_spark.catalog.serde import save
    from ontario_spark.catalog.tpch_rdf import tpch_catalog
    from ontario_spark.cli import run

    cat_path = str(tmp_path / "cat.json")
    save(tpch_catalog("/root/testdata/sf0.001"), cat_path)
    out_path = str(tmp_path / "out")
    out = run(
        cat_path,
        "PREFIX ex: <http://ex.org/tpch/> "
        "SELECT ?name WHERE { ?r a ex:Region ; ex:name ?name }",
        spark=spark,
        write_path=out_path,
    )
    assert out["written"] == out_path and out["totalRows"] == 5
    assert "result" not in out  # nothing collected
    assert spark.read.parquet(out_path).count() == 5


def test_cli_write_with_limit_print(monkeypatch, tmp_path):
    """--write + --limit-print: the stats payload has no 'result' list;
    main() must not crash slicing it (regression). run() is stubbed so
    the shared test session isn't torn down by the CLI's own session
    lifecycle."""
    import json as _json
    import sys
    from io import StringIO

    import ontario_spark.cli as cli

    stats = {"vars": ["name"], "written": "/x", "format": "parquet",
             "totalRows": 5, "execTime": 0.1}
    monkeypatch.setattr(cli, "run", lambda *a, **k: dict(stats))
    qf = tmp_path / "q.sparql"
    qf.write_text("SELECT ?s WHERE { ?s ?p ?o }")
    old = sys.stdout
    sys.stdout = StringIO()
    try:
        rc = cli.main([
            "--catalog", "c.json", "--query", str(qf),
            "--write", "/x", "--limit-print", "2",
        ])
        payload = _json.loads(sys.stdout.getvalue())
    finally:
        sys.stdout = old
    assert rc == 0 and payload["written"] == "/x"
    assert "result" not in payload


def test_cli_csv_results_format(spark, sf_small, tmp_path):
    from ontario_spark.catalog import serde
    from ontario_spark.catalog.tpch_rdf import tpch_catalog

    p = str(tmp_path / "cat.json")
    serde.save(tpch_catalog(sf_small), p)
    out = run(
        p,
        "PREFIX ex: <http://ex.org/tpch/>\n"
        "SELECT ?name WHERE { ?n a ex:Nation ; ex:name ?name } LIMIT 3",
        spark=spark,
        results_format="csv",
    )
    assert out["totalRows"] == 3 and out["format"] == "csv"
    lines = out["serialized"].split("\r\n")
    assert lines[0] == "name" and len([l for l in lines[1:] if l]) == 3


def test_cli_srj_results_format(spark, sf_small, tmp_path):
    """--results-format srj emits the W3C SPARQL 1.1 Query Results
    JSON document (round-8: the serializer existed but the CLI did
    not offer it)."""
    from ontario_spark.catalog import serde
    from ontario_spark.catalog.tpch_rdf import tpch_catalog

    p = str(tmp_path / "cat.json")
    serde.save(tpch_catalog(sf_small), p)
    out = run(
        p,
        "PREFIX ex: <http://ex.org/tpch/>\n"
        "SELECT ?name WHERE { ?n a ex:Nation ; ex:name ?name } LIMIT 3",
        spark=spark,
        results_format="srj",
    )
    import json as _json

    assert out["totalRows"] == 3 and out["format"] == "srj"
    doc = _json.loads(out["serialized"])
    assert doc["head"]["vars"] == ["name"]
    assert len(doc["results"]["bindings"]) == 3
    assert doc["results"]["bindings"][0]["name"]["type"] == "literal"


def test_cli_ask_boolean_documents(spark, sf_small, tmp_path):
    """ASK under --results-format srj/xml emits the W3C *boolean*
    document, not a bindings document (round-9 advice)."""
    import json as _json

    from ontario_spark.catalog import serde
    from ontario_spark.catalog.tpch_rdf import tpch_catalog

    p = str(tmp_path / "cat.json")
    serde.save(tpch_catalog(sf_small), p)
    ask = (
        "PREFIX ex: <http://ex.org/tpch/>\n"
        "ASK { ?n a ex:Nation ; ex:name ?name }"
    )
    out = run(p, ask, spark=spark, results_format="srj")
    assert _json.loads(out["serialized"]) == {"head": {}, "boolean": True}
    out = run(p, ask, spark=spark, results_format="xml")
    assert "<boolean>true</boolean>" in out["serialized"]
    assert "<results>" not in out["serialized"]
    # csv/tsv have no ASK document — refused before execution
    import pytest

    with pytest.raises(ValueError, match="ASK has no csv"):
        run(p, ask, spark=spark, results_format="csv")


def test_cli_construct_ntriples(spark, sf_small, tmp_path):
    """CONSTRUCT under --results-format nt emits N-Triples lines; nt
    on a SELECT is refused before execution."""
    import pytest

    from ontario_spark.catalog import serde
    from ontario_spark.catalog.tpch_rdf import tpch_catalog

    p = str(tmp_path / "cat.json")
    serde.save(tpch_catalog(sf_small), p)
    out = run(
        p,
        "PREFIX ex: <http://ex.org/tpch/>\n"
        "CONSTRUCT { ?n <http://ex.org/named> ?name } WHERE "
        "{ ?n a ex:Nation ; ex:name ?name }",
        spark=spark,
        results_format="nt",
    )
    assert out["format"] == "nt" and out["totalRows"] == 25
    lines = [ln for ln in out["serialized"].split("\n") if ln]
    assert len(lines) == 25
    assert all(
        ln.startswith("<http://ex.org/tpch/nation/")
        and " <http://ex.org/named> " in ln
        and ln.endswith(" .")
        for ln in lines
    )
    with pytest.raises(ValueError, match="graph serialization"):
        run(
            p,
            "PREFIX ex: <http://ex.org/tpch/>\n"
            "SELECT ?name WHERE { ?n a ex:Nation ; ex:name ?name }",
            spark=spark,
            results_format="nt",
        )


def test_dief_metrics():
    sys_path_hack = __import__("sys").path
    import os
    sys_path_hack.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from dief import dief_at_k, dief_at_t

    # three answers at 1s, 2s, 3s; horizon 4s → areas 3 + 2 + 1
    assert dief_at_t([1.0, 2.0, 3.0], 4.0) == 6.0
    # answers after the horizon don't count
    assert dief_at_t([1.0, 2.0, 9.0], 4.0) == 5.0
    # dief@2: horizon is the 2nd arrival (2s) → areas 1 + 0
    assert dief_at_k([1.0, 2.0, 3.0], 2) == 1.0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dief_at_k([1.0], 2)


def test_cli_explain_mode(spark, sf_small, tmp_path):
    from ontario_spark.catalog import serde
    from ontario_spark.catalog.tpch_rdf import EX, tpch_catalog

    p = str(tmp_path / "cat.json")
    serde.save(tpch_catalog(sf_small), p)
    out = run(
        p,
        f"PREFIX ex: <{EX}>\n"
        "SELECT ?name WHERE { ?n a ex:Nation ; ex:name ?name }",
        spark=spark,
        explain=True,
    )
    assert set(out) == {"explain"}  # plan only, nothing executed
    assert "== Federation plan" in out["explain"]
    assert "NationMap[parquet]" in out["explain"]

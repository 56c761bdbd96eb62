"""SPARQL serving process: one ``SparqlHTTPServer`` per catalog kind,
all over one SparkSession.

    python3 perfbench/server_proc.py DATA_DIR KIND[,KIND...] TRACE_OUT|-

Prints one JSON line with the servers' ports once they listen, then
serves until a ``stop`` line arrives on stdin. With a trace path, the
layer wrappers are installed before anything is built, and spans,
counters and the Spark status store's jobs are written there on stop.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

EX = "http://ex.org/tpch/"
SERVICE_ENDPOINT = "http://remote.example/sparql"


def service_executor(data_dir: str):
    """Stand-in SPARQL endpoint for the region molecule: DuckDB over the
    same parquet, bindings out (the registry's SERVICE row uses the
    same stand-in)."""
    import duckdb

    def endpoint(query: str):
        if "?r" not in query or "?rname" not in query:
            raise AssertionError(f"unexpected SERVICE query: {query}")
        con = duckdb.connect()
        try:
            rows = con.execute(
                f"SELECT r_regionkey, r_name FROM '{data_dir}/region.parquet'"
            ).fetchall()
        finally:
            con.close()
        return [{"r": f"{EX}region/{k}", "rname": name} for k, name in rows]

    return endpoint


def catalog(kind: str, spark, data_dir: str):
    from ontario_spark.catalog import tpch_rdf as r

    return {
        "service": lambda: r.tpch_catalog(data_dir),
        "federated": lambda: r.tpch_federated_catalog(data_dir),
        "mongo": lambda: r.tpch_mongo_catalog(data_dir, spark),
        "drill": lambda: r.tpch_drill_catalog(data_dir),
        "cypher": lambda: r.tpch_cypher_catalog(data_dir),
        "trisource": lambda: r.tpch_trisource_jdbc_catalog(spark, data_dir),
    }[kind]()


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> None:
    data_dir, kinds, trace_out = sys.argv[1], sys.argv[2].split(","), sys.argv[3]
    tracer = None
    if trace_out != "-":
        import tracing as tr

        tracer = tr.Tracer()
        tr.install_engine_layers(tracer)

    from ontario_spark.compiler.query import SparqlEngine
    from ontario_spark.server import SparqlHTTPServer
    from ontario_spark.session import get_spark

    spark = get_spark("perfbench-server")
    spark.sparkContext.setLogLevel("ERROR")
    if tracer is not None:
        tr.install_server(tracer, spark)

    servers, ports, build_s = [], {}, 0.0
    for kind in kinds:
        t0 = time.monotonic()
        cat = catalog(kind, spark, data_dir)
        build_s += time.monotonic() - t0
        service = {}
        if kind == "service":
            service[SERVICE_ENDPOINT] = service_executor(data_dir)
        if tracer is not None:
            tr.wrap_catalog(tracer, cat)
            service = {k: tr.wrap_executor(tracer, f, service=True)
                       for k, f in service.items()}
        engine = SparqlEngine(spark, cat, service_executors=service or None)
        srv = SparqlHTTPServer(engine).start()
        servers.append(srv)
        ports[kind] = srv.port
    print(json.dumps({"ports": ports, "catalog_build_s": build_s}), flush=True)

    for line in sys.stdin:
        if line.strip() == "reset" and tracer is not None:
            tracer.reset()
        elif line.strip() == "stop":
            break
    for srv in servers:
        srv.stop()
    if tracer is not None:
        dump = tracer.dump()
        dump["jobs"] = tr.spark_jobs(spark)
        dump["catalog_build_s"] = build_s
        dump["clock_offset"] = time.time() - time.monotonic()
        with open(trace_out, "w") as fh:
            json.dump(dump, fh)
    stop_spark(spark)
    print("stopped", flush=True)


if __name__ == "__main__":
    main()

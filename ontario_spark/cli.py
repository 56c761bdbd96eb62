"""Command-line one-shot query runner + SPARQL-JSON results.

Parity with the reference's entry points: the CLI (``run_query.py:4-63``
— parse, plan, execute, print rows + timings) and the HTTP endpoint's
response shape (``app/query.py:83-145`` / ``README.md:205-219``:
``{vars, result[], execTime, firstResult, totalRows}``). Every result
format streams through ``sinks.stream``, the generator the HTTP server
also serves from.

Usage::

    python -m ontario_spark.cli --catalog catalog.json \
        --query query.sparql [--limit-print 20]
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def run(
    catalog_path: str,
    query_text: str,
    spark=None,
    trace: bool = False,
    write_path: str | None = None,
    write_format: str = "parquet",
    results_format: str = "json",
    explain: bool = False,
) -> dict:
    """Execute one query; returns the reference's response shape with
    the bindings in W3C SPARQL-JSON, or the ``results_format`` document
    as ``serialized`` — the same ``sinks.stream`` the HTTP server
    sends. ``trace=True`` additionally records the elapsed time at
    which each answer arrived (driver parity with the reference's
    dief@t continuous-efficiency harness,
    ``scripts/run_dief_experiment.py:28-180`` — one timestamp per
    answer)."""
    from ontario_spark.catalog.serde import load
    from ontario_spark.compiler.query import SparqlEngine

    # validate BEFORE any execution: a bad format (library callers —
    # argparse already constrains the CLI) or a trace/serialization
    # conflict must not cost a full distributed run first (round-6
    # review fixes; mirrors the --trace/--write guard)
    from ontario_spark import sinks

    if results_format not in sinks.FORMATS:  # shared registry
        raise ValueError(
            f"unknown results format {results_format!r} "
            f"(one of {'|'.join(sorted(sinks.FORMATS))})"
        )
    # per-query-form validation (round-9): ASK has no csv/tsv document
    # and N-Triples only serializes graph results — both checked BEFORE
    # any execution (the parse costs microseconds)
    from ontario_spark.sparql.parser import parse as _parse

    form = _parse(query_text).query_type
    if form == "ask" and results_format in sinks.ASK_UNSUPPORTED:
        raise ValueError(
            f"ASK has no {results_format} result document; "
            "use srj, xml, or json"
        )
    if results_format in sinks.GRAPH_FORMATS and form not in (
        "construct", "describe"
    ):
        raise ValueError(
            f"{results_format} is a graph serialization; "
            f"query form is {form}"
        )
    if trace and results_format != "json":
        raise ValueError(
            "--trace emits per-answer timings inside the JSON response "
            "shape; it cannot be combined with --results-format "
            f"{results_format}"
        )
    own_session = spark is None
    if own_session:
        from ontario_spark.session import get_spark

        spark = get_spark("ontario-spark-cli")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        path_part, _, root = catalog_path.partition("::")
        if path_part.endswith(".ttl"):
            # RML Turtle mappings are a first-class catalog source:
            # comma-separate multiple files; optional '::<data-root>'
            # suffix anchors relative rml:source file paths.
            from ontario_spark.catalog.rml import load_rml_files

            cat = load_rml_files(path_part.split(","), data_root=root)
        else:
            cat = load(catalog_path)
        t0 = time.perf_counter()
        engine = SparqlEngine(spark, cat)
        if explain:
            # plan report only — nothing executes beyond compilation
            return {"explain": engine.explain(query_text)}
        df = engine.query(query_text)
        if write_path is not None:
            if trace:
                raise ValueError(
                    "--trace needs driver-side row arrival; it cannot be "
                    "combined with --write (distributed sink)"
                )
            # distributed sink: results land as a partitioned dataset
            # straight from the executors — the driver never holds the
            # result set (the scale path for large answers)
            from pyspark.sql import functions as F
            from pyspark.sql.observation import Observation

            if results_format in sinks.GRAPH_FORMATS:
                df = sinks.ntriples(df)
            # row count observed DURING the write (free — a metric on
            # the outgoing rows) instead of re-reading the whole
            # written dataset afterward
            obs = Observation("written_rows")
            sinks.write_results(
                df.observe(obs, F.count(F.lit(1)).alias("n")),
                write_path,
                fmt=write_format,
            )
            n = obs.get["n"]
            return {
                "vars": df.columns,
                "written": write_path,
                "format": write_format,
                "totalRows": n,
                "execTime": round(time.perf_counter() - t0, 4),
            }
        if form == "ask" and results_format in sinks.BOOLEAN_DOCS:
            # W3C boolean document ({"head":{},"boolean":…} / <boolean>)
            value = "true" if df.first()["ask"] else "false"
            t_all = round(time.perf_counter() - t0, 4)
            return {
                "vars": df.columns,
                "execTime": t_all,
                "firstResult": t_all,
                "totalRows": 1,
                "serialized": sinks.BOOLEAN_DOCS[results_format] % value,
                "format": results_format,
            }
        # ONE execution (round-5 review fix): stream the document and
        # note when each chunk arrives; between the header and the
        # footer, every chunk is one answer
        chunks, arrivals = [], []
        for chunk in sinks.stream(df, results_format, t0):
            chunks.append(chunk)
            arrivals.append(round(time.perf_counter() - t0, 4))
        answer_times = arrivals[1:-1]
        t_all = round(time.perf_counter() - t0, 4)
        out = {
            "vars": df.columns,
            "execTime": t_all,
            "firstResult": answer_times[0] if answer_times else t_all,
            "totalRows": len(answer_times),
        }
        if results_format == "json":
            out["result"] = json.loads("".join(chunks))["result"]
        else:
            out["serialized"] = "".join(chunks)
            out["format"] = results_format
        if trace:
            out["trace"] = answer_times
        return out
    finally:
        if own_session:
            spark.stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--catalog", required=True,
        help="catalog JSON (serde.save), or RML Turtle mapping file(s): "
             "'a.ttl,b.ttl::/data/root'",
    )
    ap.add_argument("--query", required=True, help="file with SPARQL text, or '-' for stdin")
    ap.add_argument("--limit-print", type=int, default=None,
                    help="print at most N bindings (full count still reported)")
    ap.add_argument("--trace", action="store_true",
                    help="record per-answer arrival times (dief@t-style)")
    ap.add_argument("--write", default=None,
                    help="write results to this path (distributed sink; "
                         "no driver collect) instead of printing bindings")
    ap.add_argument("--write-format", default="parquet",
                    help="sink format for --write (parquet|csv|json)")
    from ontario_spark import sinks as _sinks

    ap.add_argument("--results-format", default="json",
                    choices=("json", *sorted(
                        f for f in _sinks.FORMATS if f != "json"
                    )),
                    help="stdout serialization: SPARQL-JSON response "
                         "shape (default) or raw W3C srj/csv/tsv/xml "
                         "text (srj = SPARQL 1.1 Query Results JSON; "
                         "ASK under srj/xml emits the boolean "
                         "document) or nt = N-Triples for "
                         "CONSTRUCT/DESCRIBE")
    ap.add_argument("--explain", action="store_true",
                    help="print the federation + Spark plan report "
                         "instead of executing the query")
    args = ap.parse_args(argv)
    text = sys.stdin.read() if args.query == "-" else open(args.query).read()
    out = run(args.catalog, text, trace=args.trace,
              write_path=args.write, write_format=args.write_format,
              results_format=args.results_format, explain=args.explain)
    if "explain" in out:
        sys.stdout.write(out["explain"] + "\n")
        return 0
    if "serialized" in out:
        sys.stdout.write(out["serialized"])
        return 0
    if args.limit_print is not None and "result" in out:
        # --write mode returns write stats, not materialized bindings
        out["result"] = out["result"][: args.limit_print]
    json.dump(out, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())

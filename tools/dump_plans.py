"""Print or dump the plan of named registry queries.

Usage: python tools/dump_plans.py QUERY [QUERY...] [--sf DIR]
       [--mode formatted|simple|extended|cost] [--out plans/r12 --tag TAG]

Without ``--out`` each plan prints to stdout — the manual companion to
tests/test_plans.py's pinned assertions: use it after touching an
operator to confirm the plan is still the one you want (scan pushdown
visible, codegen spans wide, no Python nodes in hot paths, joins on
hashed keys). With ``--out DIR --tag T`` each plan goes to
``DIR/<query>_<T>.txt`` and one summary line per query prints.
Streaming queries (stream_*) record the executed last-micro-batch plan
captured by streaming.events.STREAM_EXPLAINS after running the query.
Every localCheckpoint taken while the query is built (the truncating
pins of the iterative operators) appends the plan it executed, so a
loop's per-round plans are visible, not just the final scan of the
last checkpoint.
"""
from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--mode", default="formatted",
                    choices=["formatted", "simple", "extended", "cost"])
    ap.add_argument("--out", help="write DIR/<query>_<tag>.txt instead of stdout")
    ap.add_argument("--tag")
    args = ap.parse_args()
    if (args.out is None) != (args.tag is None):
        ap.error("--out and --tag go together")

    from pyspark.sql.classic.dataframe import DataFrame

    from ontario_spark.queries import all_queries
    from ontario_spark.session import get_spark

    spark = get_spark("ontario-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        args.mode
    )
    registry = all_queries()
    unknown = sorted(set(args.queries) - set(registry))
    if unknown:
        raise SystemExit(f"not in registry: {unknown}")
    if args.out:
        os.makedirs(args.out, exist_ok=True)

    pins: list[str] = []
    checkpoint = DataFrame.localCheckpoint

    def recorded(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        pins.append(self._jdf.queryExecution().explainString(mode))
        return out

    DataFrame.localCheckpoint = recorded
    for name in args.queries:
        pins.clear()
        df = registry[name](spark, args.sf)
        if name.startswith("stream_"):
            # run to completion so the executed micro-batch plan exists
            df.limit(1).collect()
            from ontario_spark.streaming import events as sev
            plan = sev.STREAM_EXPLAINS.get(name) or sev.LAST_STREAM_EXPLAIN or ""
            plan = "(executed last micro-batch plan)\n" + plan
        else:
            plan = df._jdf.queryExecution().explainString(mode)
        ex = plan.count("Exchange")
        py = plan.count("EvalPython") + plan.count("MapInPandas") + plan.count("MapInArrow")
        for i, pin_plan in enumerate(pins):
            plan += f"\n=== localCheckpoint {i}: the plan it executed ===\n{pin_plan}"
        if not args.out:
            print(f"{'=' * 20} {name} {'=' * 20}\n{plan}")
            continue
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: exchanges={ex} python_nodes={py} pins={len(pins)} -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

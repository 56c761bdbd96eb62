"""Dump .explain('formatted') for named registry queries to plans/<dir>/<query>_<tag>.txt.

Usage: python tools/dump_plans.py TAG QUERY [QUERY...] [--sf DIR] [--out plans/r12]
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
    ap.add_argument("tag")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="plans/r12")
    args = ap.parse_args()

    from pyspark.sql.classic.dataframe import DataFrame

    from ontario_spark.queries import all_queries
    from ontario_spark.session import get_spark

    spark = get_spark("ontario-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    registry = all_queries()
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
        path = os.path.join(args.out, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: exchanges={ex} python_nodes={py} pins={len(pins)} -> {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

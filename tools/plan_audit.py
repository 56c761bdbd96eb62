"""Sweep EVERY registry query's physical plan for pathology markers —
the automated version of the pinned spot-checks in tests/test_plans.py:

- row-wise / Arrow Python nodes outside the families that declare them
  (mm_* decode stubs, stream_* stateful operators)
- CartesianProduct / BroadcastNestedLoopJoin (a temporal or similarity
  join that regressed to a nested loop)
- higher-order-function lambdas cloned into Filter nodes by constraint
  inference (the round-9 CDC bug class: the expensive expression runs
  once per consumer)

Prints one line per query with findings; exits 1 if any unexpected
marker appears. Streaming queries are audited via the EXECUTED
physical plan of the availableNow replay's last micro-batch (captured
by streaming.events.run_available_now — round 11; previously skipped).

Usage: python tools/plan_audit.py [--sf /root/testdata/sf0.001]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PY_OK_PREFIXES = ("mm_", "stream_")

# Triaged by-design markers (round-9 audit): BroadcastNestedLoopJoin is
# the CORRECT physical join for a cross against a broadcast frame of
# one-or-few rows — brute-force ANN's broadcast query set (and the ANN
# tiers' rerank stage reusing it), BM25's single corpus-stats row, the
# perplexity vocab-stats row, the Bloom bit-array row, TPC-H q22's
# scalar avg, the skew profile's total row, and the §10.2
# compatibility join's NULL-mask legs (tiny VALUES/UNDEF frames).
# Lambdas living in an INTENDED Filter (a quality gate IS a filter)
# are fine; the pathology is a lambda CLONED into a filter by
# constraint inference while the same lambda feeds a Project above.
EXPECTED = {
    "ann_topk_bruteforce": {"BNLJ:BuildRight"},
    # brute-force ranking leg (broadcast query set) feeding the NDCG agg
    "eval_retrieval_ndcg": {"BNLJ:BuildRight"},
    "eval_retrieval_mrr": {"BNLJ:BuildRight"},
    "eval_ann_recall": {"BNLJ:BuildRight"},  # exact leg of the recall check
    "ann_topk_int8": {"BNLJ:BuildRight"},  # broadcast query set
    "sample_dsir_weights": {"BNLJ:BuildRight"},  # one LM-totals row
    "ann_topk_ivf": {"BNLJ:BuildRight"},
    "ann_topk_ivfpq": {"BNLJ:BuildRight"},
    "ann_topk_pq": {"BNLJ:BuildRight"},
    "bm25_topk": {"BNLJ:BuildRight"},
    "contamination_bloom": {"BNLJ:BuildRight"},
    "lslod_cq2_bridge_optional": {"BNLJ:BuildRight"},
    "q22_idle_customers": {"BNLJ:BuildRight"},
    "q_skew_suppkey": {"BNLJ:BuildRight"},
    "retrieval_rrf_fusion": {"BNLJ:BuildRight"},
    "sparql_optional_compat": {"BNLJ:BuildRight"},
    # round 12: the compat legs now build from the explicitly-broadcast
    # VALUES block (query-text-bounded) instead of the pattern scan —
    # the build side flipped Left -> Right with the batch-4 hint
    "sparql_values_undef": {"BNLJ:BuildRight"},
    "text_perplexity": {"BNLJ:BuildRight"},
    "train_hard_negatives": {"BNLJ:BuildRight"},  # broadcast query set
    "text_tfidf_terms": {"BNLJ:BuildRight"},  # one corpus-size row
    "retrieval_prf_expansion": {"BNLJ:BuildRight"},  # one (N, avgdl) row
    # source-pair grid: cross of per-SOURCE size tables (dozens of
    # rows each, broadcast) — the |sources|² output is the point
    "corpus_source_overlap": {"BNLJ:BuildRight"},
    # users × broadcast item VOCABULARY (bounded, ~|distinct items|):
    # the candidate grid negative sampling needs before the anti-join
    "sample_negative_pairs": {"BNLJ:BuildRight"},
    "pipeline_training_set": {"BNLJ:BuildRight"},  # same negative grid
    # day grid × type vocabulary: both sides broadcast one-row/bounded
    # metadata frames — the grid is the POINT of gap-fill resampling
    "events_daily_gapfill": {"BNLJ:BuildLeft"},

    "pipeline_web_curation": {"lambda-in-Filter"},  # the quality GATE
    # round 11: the image leg's synth+parse is the mm_* Arrow-batched
    # decode stage, declared by design for this composed pipeline
    "pipeline_image_text_curation": {"MapInPandas"},
    # the DQ summary combines four ONE-ROW check aggregates via
    # broadcast crosses — the single-row combine class
    "q_dq_constraints": {"BNLJ:BuildRight"},
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument(
        "names",
        nargs="*",
        help="optional query names — audit only these (fast iteration)",
    )
    args = ap.parse_args()

    from ontario_spark.queries import all_queries
    from ontario_spark.session import get_spark

    spark = get_spark("ontario-plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    bad = audited = streamed = errors = 0
    registry = all_queries()
    if args.names:
        unknown = sorted(set(args.names) - set(registry))
        if unknown:
            print(f"unknown queries: {unknown}")
            return 1
        registry = {n: registry[n] for n in args.names}
    for name, fn in sorted(registry.items()):
        try:
            if name.startswith("stream_"):
                # round 11: streaming plans only exist inside the
                # running StreamingQuery, so RUN the availableNow
                # replay (cheap at sf0.001) and audit the captured
                # last-batch EXECUTED physical plan
                from ontario_spark.streaming import events as sev

                sev.LAST_STREAM_EXPLAIN = None
                fn(spark, args.sf)
                plan = sev.LAST_STREAM_EXPLAIN
                if plan is None:
                    raise RuntimeError("no streaming plan captured")
                streamed += 1
            else:
                df = fn(spark, args.sf)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "simple"
                    )
                )
        except Exception as ex:  # audit must cover the rest either way
            print(f"ERROR {name}: {type(ex).__name__}: {ex}")
            bad += 1
            errors += 1
            continue
        audited += 1
        findings = []
        if "CartesianProduct" in plan:
            findings.append("CartesianProduct")
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            if marker in plan and not name.startswith(PY_OK_PREFIXES):
                findings.append(marker)
        # BroadcastNestedLoopJoin is legitimate ONLY for the tiny
        # broadcast-one-row shapes (bloom bit-array, corpus-stats row)
        for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
            findings.append(f"BNLJ:{m.group(1)}")
        # lambda cloned into a Filter (constraint-inference dup): a
        # Filter line that itself contains a lambdafunction
        for line in plan.splitlines():
            s = line.strip()
            if s.startswith(("Filter", "+- Filter", ":- Filter")) and (
                "lambdafunction" in s
            ):
                findings.append("lambda-in-Filter")
                break
        unexpected = sorted(set(findings) - EXPECTED.get(name, set()))
        if unexpected:
            bad += 1
            print(f"{name}: {', '.join(unexpected)}")
    print(
        f"audited {audited} ({streamed} streaming via executed last-batch "
        f"plans, {errors} errored); {bad} queries with findings"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Traced-run report from the results a run leaves in perfbench/.work.

    python3 perfbench/report.py [WORKLOAD ...]

For each workload with a traced result: the per-layer metrics grouped
by layer, the tracing overhead (traced minus the median of the
untraced runs, per end-to-end metric) and, for pipeline_batch, the
build-job counts next to the reference probe's.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(HERE, ".work", "results")

# Spark jobs fired while building the DataFrame, from the ROADMAP's
# probe: warm second repetition, sf0.1, local[4]. The benchmark runs the
# jobs at sf0.001, where data-dependent loops may run a different
# number of rounds.
PROBE_BUILD_JOBS = {
    "events_pagerank": "46",
    "text_bpe_encode": "18",
    "er_record_links": "0",
}


def load(workload: str, trace: int) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(
            RESULTS, f"{workload}-trace{trace}-seed*.json"))):
        with open(path) as fh:
            out.append(json.load(fh))
    return out


def report(workload: str) -> None:
    traced, plain = load(workload, 1), load(workload, 0)
    if not traced:
        print(f"{workload}: no traced run yet "
              f"(run.py --workload {workload} --trace 1)")
        return
    t = traced[-1]
    print(f"== {workload} (seed {t['env']['seed']}, {t['samples']} operations)")
    layers: dict[str, list[str]] = {}
    for name, value in t["per_layer"].items():
        layers.setdefault(name.split(".")[0], []).append(f"{name}={value:.6g}")
    for layer, items in layers.items():
        print(f"  {layer:9s} " + "  ".join(items))
    if plain:
        print(f"  tracing overhead (traced - median of {len(plain)} untraced):")
        for k, m in t["end_to_end"].items():
            base = [p["end_to_end"][k]["value"] for p in plain]
            if m["value"] is None or None in base:
                continue
            base = statistics.median(base)
            diff = m["value"] - base
            share = f"{diff / base:+.1%}" if base else "n/a"
            print(f"    {k:15s} {diff:+.4f} {m['unit']}  ({share})")
    if workload == "pipeline_batch":
        print("  build jobs per job (this run | reference probe):")
        for job, probe in PROBE_BUILD_JOBS.items():
            got = t["per_layer"].get(f"operators.{job}.build_jobs")
            if got is not None:
                print(f"    {job:22s} {got:6.1f} | {probe}")


if __name__ == "__main__":
    for w in sys.argv[1:] or ["fed_sparql", "pipeline_batch"]:
        report(w)

"""Per-layer metrics of a traced run, named by module.

Every value is per measured operation (one HTTP request, or one
pipeline job) unless its name says otherwise: times are self seconds,
counts are means. Spark work is attributed to an operation by its job
group; jobs submitted before the operation's build span ended count as
build jobs, the rest as execution.
"""

from __future__ import annotations

from collections import defaultdict

import templates as T

UNITS = {
    "sparql.parse_s": "s", "sparql.parse_calls": "count",
    "planner.select_s": "s", "planner.stars": "count",
    "planner.branches_selected": "count", "planner.branches_kept": "count",
    "planner.branch_keep_ratio": "ratio",
    "compiler.build_s": "s", "compiler.build_jobs": "count",
    "compiler.build_job_s": "s",
    "sources.remote_calls": "count", "sources.remote_s": "s",
    "sources.remote_rows": "count", "sources.bound_join_keys": "count",
    "sources.bound_join_batches": "count",
    "sources.unfiltered_fetches": "count", "sources.to_frame_s": "s",
    "sources.errors": "count",
    "spark.plan_s": "s", "spark.exec_s": "s", "spark.fetch_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.task_skew": "ratio",
    "sinks.serialize_s": "s", "sinks.rows_out": "count",
    "sinks.bytes_out": "bytes",
    "server.requests": "count", "server.wait_s": "s", "server.handler_s": "s",
    "catalog.build_s": "s", "operators.cache_entries": "count",
}
for _job in T.PIPELINE:
    UNITS[f"operators.{_job}.build_s"] = "s"
    UNITS[f"operators.{_job}.build_jobs"] = "count"
    UNITS[f"operators.{_job}.exec_s"] = "s"

# span name -> metric fed by its self time
_SELF = {
    "sparql.parse": "sparql.parse_s",
    "planner.select": "planner.select_s",
    "compiler.build": "compiler.build_s",
    "compiler.bound_keys": "compiler.build_s",
    "sources.remote": "sources.remote_s",
    "sources.to_frame": "sources.to_frame_s",
    "spark.plan": "spark.plan_s",
    "spark.fetch": "spark.fetch_s",
    "sinks.serialize": "sinks.serialize_s",
}
_COUNTS = (
    "sparql.parse_calls", "planner.stars", "planner.branches_selected",
    "planner.branches_kept", "sources.remote_calls", "sources.remote_rows",
    "sources.bound_join_keys", "sources.bound_join_batches",
    "sources.unfiltered_fetches", "sources.errors", "sinks.rows_out",
    "sinks.bytes_out", "server.wait_s",
)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def per_layer(workload: str, dump: dict, rec, extra: dict) -> dict:
    n = max(rec.attempted, 1)
    out = {k: 0.0 for k in UNITS}
    for span, metric in _SELF.items():
        out[metric] += dump["self_s"].get(span, 0.0) / n
    counters = dump["counters"]
    for c in _COUNTS:
        out[c] = counters.get(c, 0) / n
    out["server.requests"] = counters.get("server.requests", 0)
    sel = counters.get("planner.branches_selected", 0)
    out["planner.branch_keep_ratio"] = (
        counters.get("planner.branches_kept", 0) / sel if sel else 0.0)
    out["catalog.build_s"] = dump.get("catalog_build_s", 0.0)
    out["operators.cache_entries"] = max(extra.get("cache_entries") or [0])

    # build boundary per operation, on the wall clock the jobs use
    off = dump["clock_offset"]
    build_end: dict[str, float] = {}
    durations: dict[str, list[float]] = defaultdict(list)
    for name, start, end, _, rid in dump["spans"]:
        if name == "server.handler":
            out["server.handler_s"] += (end - start) / n
        if rid is None:
            continue
        if name == "compiler.build" or (
                name.startswith("operators.") and name.endswith(".build")):
            build_end[rid] = max(build_end.get(rid, 0.0), end + off)
        if name.startswith("operators."):
            durations[name].append(end - start)
    for job in T.PIPELINE:
        b = durations.get(f"operators.{job}.build", [])
        e = durations.get(f"operators.{job}.exec", [])
        out[f"operators.{job}.build_s"] = sum(b) / len(b) if b else 0.0
        out[f"operators.{job}.exec_s"] = sum(e) / len(e) if e else 0.0

    build_iv, exec_iv = defaultdict(list), defaultdict(list)
    stages: dict[int, dict] = {}
    jobs_per_name: dict[str, int] = defaultdict(int)
    for j in dump["jobs"]:
        rid = j["group"]
        if rid not in build_end or j["submitted"] is None:
            continue
        iv = (j["submitted"], j["completed"] or j["submitted"])
        if j["submitted"] < build_end[rid]:
            build_iv[rid].append(iv)
            jobs_per_name[rid.split("#")[0]] += 1
        else:
            exec_iv[rid].append(iv)
        out["spark.jobs"] += 1 / n
        out["spark.tasks"] += j["tasks"] / n
        for sid, sd in j["stage_data"].items():
            stages[sid] = sd
    out["compiler.build_jobs"] = sum(len(v) for v in build_iv.values()) / n
    out["compiler.build_job_s"] = sum(_union(v) for v in build_iv.values()) / n
    out["spark.exec_s"] = sum(_union(v) for v in exec_iv.values()) / n
    out["spark.stages"] = len(stages) / n
    out["spark.shuffle_read_bytes"] = sum(s["shuffle_read"] for s in stages.values()) / n
    out["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in stages.values()) / n
    out["spark.spill_bytes"] = sum(s["spill"] for s in stages.values()) / n
    out["spark.task_skew"] = max([s["skew"] for s in stages.values()] or [0.0])
    for job in T.PIPELINE:
        runs = len(durations.get(f"operators.{job}.build", []))
        out[f"operators.{job}.build_jobs"] = (
            jobs_per_name.get(job, 0) / runs if runs else 0.0)
    if workload == "pipeline_batch":
        # operator build jobs are reported per job above, not as compiler work
        out["compiler.build_jobs"] = out["compiler.build_job_s"] = 0.0
    return out


def coverage_problems(workload: str, m: dict) -> list[str]:
    """A workload that drifts off the layers it exists to exercise (or
    to bypass) makes the run fail."""
    problems = []
    if workload == "fed_sparql" and not m["sources.remote_calls"] > 0:
        problems.append("fed_sparql made no remote source calls")
    if workload == "pipeline_batch" and (
            m["sparql.parse_calls"] != 0 or m["server.requests"] != 0):
        problems.append("pipeline_batch reached the SPARQL parser or server")
    return problems

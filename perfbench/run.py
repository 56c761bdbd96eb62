"""ontario_spark benchmark: a SPARQL-endpoint and a pipeline workload.

    python3 perfbench/run.py --workload fed_sparql --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run in a checkout generates the
data and the expected answers under ``perfbench/.work``; later runs
reuse them. The last line of stdout is the result JSON; the line before
it is the full report (every end-to-end metric of the workload with its
unit, sample counts, environment). See perfbench/README.md for the
workloads and every metric.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import random
import statistics
import subprocess
import sys
import time
import urllib.parse
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# name: (sf, timed passes at least). One pipeline pass is three jobs,
# short enough that a few seconds of host slowdown swing it, so it takes
# two.
WORKLOADS = {"fed_sparql": (0.01, 1), "pipeline_batch": (0.001, 2)}
DRIVER_MEM = "2g"

# printed on the result line for every workload (BENCHMARK.json end_to_end)
END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "throughput_qps": "1/s"}
# every end-to-end metric a workload defines, printed on the report line
REPORTED = {
    "fed_sparql": {
        "setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
        "ttfr_p50_s": "s", "throughput_qps": "1/s", "error_rate": "fraction",
        "peak_rss_mb": "MB",
    },
    "pipeline_batch": {
        "setup_s": "s", "pass_s": "s", "error_rate": "fraction",
        "peak_rss_mb": "MB",
    },
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(trace: bool) -> None:
    """Spark sizing and every scratch path, inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    java_opts = (f"-Djava.io.tmpdir={tmp} "
                 f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}")
    confs = ""
    if trace:
        from tracing import RETAIN_CONF

        confs = " ".join(f"--conf {k}={v}" for k, v in RETAIN_CONF.items())
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_LOCAL_DIRS": local,
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS":
            f'--driver-java-options "{java_opts}" {confs} pyspark-shell',
        "PYTHONHASHSEED": "0",
    })
    os.environ.pop("PYSPARK_DRIVER_PYTHON", None)


def rss_tree_mb(pid: int) -> float:
    """Peak RSS (VmHWM) summed over ``pid`` and its descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def tail(values: list[float], q: float) -> "float | None":
    """The q-quantile, only when at least ten samples lie beyond it."""
    if len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100)[int(q * 100) - 1]


class Recorder:
    """Samples of one run: per-operation latency/ttfr, passes, failures."""

    def __init__(self) -> None:
        self.lat: list[float] = []
        self.ttfr: list[float] = []
        self.by_op: dict[str, list[float]] = {}
        self.passes: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def ok(self, name: str, lat: float, ttfr: "float | None" = None) -> None:
        self.attempted += 1
        self.lat.append(lat)
        self.by_op.setdefault(name, []).append(lat)
        if ttfr is not None:
            self.ttfr.append(ttfr)

    def fail(self, name: str, why: str) -> None:
        self.attempted += 1
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{name}: {why}"[:300])


def closed_loop(make_pass, do_op, seconds: float, min_passes: int,
                rec: Recorder) -> float:
    """One client, closed loop: each operation is sent once the previous
    one has completed. Whole passes over the operation list run until
    ``seconds`` have passed and at least ``min_passes`` are done; a
    started pass always completes, so every operation kind is sampled
    equally. Returns the timed wall."""
    t0 = time.monotonic()
    while len(rec.passes) < min_passes or time.monotonic() - t0 < seconds:
        start = time.monotonic()
        for op in make_pass():
            do_op(op)
        rec.passes.append(time.monotonic() - start)
    return time.monotonic() - t0


# --- SPARQL over HTTP --------------------------------------------------

_FIRST_ROW = b'"result": ['


def http_query(port: int, text: str, rid: str) -> tuple:
    """POST one blocking /sparql request (legacy JSON shape). Returns
    (latency, ttfr, status, body): latency ends at the last byte, ttfr
    at the first result row (or at the end, for an empty result)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    body = urllib.parse.urlencode({"query": text, "format": "json"})
    t0 = time.monotonic()
    path = "/sparql?" + urllib.parse.urlencode({"rid": rid, "t_send": repr(t0)})
    try:
        conn.request("POST", path, body,
                     {"Content-Type": "application/x-www-form-urlencoded"})
        resp = conn.getresponse()
        buf, first = bytearray(), None
        while chunk := resp.read1(1 << 16):
            buf += chunk
            if first is None:
                at = buf.find(_FIRST_ROW)
                if at >= 0 and len(buf) > at + len(_FIRST_ROW):
                    first = time.monotonic()
        t1 = time.monotonic()
        return t1 - t0, (first or t1) - t0, resp.status, bytes(buf)
    finally:
        conn.close()


def answer_rows(body: bytes) -> int:
    """Rows in a response. Raises when the document carries the
    mid-stream error/truncation keys."""
    doc = json.loads(body)
    if "error" in doc or "truncated" in doc:
        raise ValueError(f"stream error: {doc.get('error')}")
    return len(doc["result"])


def sparql_op(spec, binding, ports, oracle, rec, rid) -> None:
    try:
        lat, ttfr, status, body = http_query(ports[spec.kind], spec.text(binding), rid)
        if status != 200:
            raise ValueError(f"HTTP {status}: {body[:200]!r}")
        got, want = answer_rows(body), oracle.rows(spec, binding)
        if got != want:
            raise ValueError(f"{got} rows, expected {want} ({binding})")
    except Exception as ex:  # noqa: BLE001 — every failure is counted
        rec.fail(spec.name, repr(ex))
        return
    rec.ok(spec.name, lat, ttfr)


class ServerProcess:
    def __init__(self, data_dir: str, kinds: list[str], trace_out: "str | None"):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "server_proc.py"), data_dir,
             ",".join(kinds), trace_out or "-"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=ROOT,
        )
        line = self.proc.stdout.readline()
        if not line:
            self.proc.wait(timeout=60)
            raise RuntimeError(f"server process exited with {self.proc.returncode}")
        ready = json.loads(line)
        self.ports = ready["ports"]
        self.catalog_build_s = ready["catalog_build_s"]

    def send(self, command: str) -> None:
        self.proc.stdin.write(command + "\n")
        self.proc.stdin.flush()

    def stop(self) -> None:
        if self.proc.poll() is None:
            try:
                self.send("stop")
                self.proc.stdin.close()
                self.proc.wait(timeout=120)
            except Exception:
                self.proc.kill()
                self.proc.wait()


def run_sparql(data_dir, seed, seconds, trace_out):
    from oracle import Oracle
    from templates import fed_specs

    specs = fed_specs()
    oracle = Oracle(data_dir, specs, {})
    rng = random.Random(seed)
    seq = iter(range(1 << 30))

    def make_pass() -> list:
        order = list(specs)
        rng.shuffle(order)
        return [(spec, {a: rng.choice(d) for a, d in spec.params.items()},
                 f"{spec.name}#{next(seq)}") for spec in order]

    def op(item, rec):
        spec, binding, rid = item
        sparql_op(spec, binding, server.ports, oracle, rec, rid)

    t0 = time.monotonic()
    server = ServerProcess(data_dir, sorted({s.kind for s in specs}), trace_out)
    try:
        ready_s = time.monotonic() - t0
        # warm-up pass, its requests spread over nproc connections
        warm = [Recorder() for _ in specs]
        with ThreadPoolExecutor(nproc()) as pool:
            list(pool.map(op, make_pass(), warm))
        failures = [f for r in warm for f in r.failures]
        if failures:
            raise RuntimeError(f"warm-up failed: {failures}")
        setup_s = time.monotonic() - t0
        if trace_out:
            server.send("reset")
        rec = Recorder()
        wall = closed_loop(make_pass, lambda item: op(item, rec), seconds,
                           WORKLOADS["fed_sparql"][1], rec)
        rss = rss_tree_mb(server.proc.pid)
    finally:
        server.stop()
    phases = {"server_ready_s": ready_s, "warmup_s": setup_s - ready_s}
    return rec, wall, setup_s, rss, {"catalog_build_s": server.catalog_build_s,
                                     "setup_phases": phases}


# --- pipeline jobs, in process -----------------------------------------


def run_pipeline(data_dir, seed, seconds, tracer):
    from oracle import Oracle
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from templates import PIPELINE

    t0 = time.monotonic()
    from ontario_spark.queries import all_oracle_sql, all_queries
    from ontario_spark.session import get_spark

    registry, sqls = all_queries(), all_oracle_sql()
    t_oracle = time.monotonic()
    oracle = Oracle(data_dir, [], {j: sqls[j] for j in PIPELINE})
    oracle_s = time.monotonic() - t_oracle
    spark = get_spark("perfbench-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    session_s = time.monotonic() - t0 - oracle_s
    cache_entries: list[int] = []
    rng = random.Random(seed)
    seq = iter(range(1 << 30))

    def make_pass() -> list:
        order = list(PIPELINE)
        rng.shuffle(order)
        return [(job, next(seq)) for job in order]

    def one(op, rec: Recorder) -> None:
        job, n = op
        rid = f"{job}#{n}"
        if tracer:
            tracer.rid = rid
            sc.setJobGroup(rid, "perfbench job", interruptOnCancel=False)
        try:
            a = time.monotonic()
            if tracer:
                with tracer.span(f"operators.{job}.build"):
                    df = registry[job](spark, data_dir)
            else:
                df = registry[job](spark, data_dir)
            # the noop sink reports no row count of its own; an
            # Observation counts the written rows in the same pass
            obs = Observation(f"rows_{n}")
            write = (df.observe(obs, F.count(F.lit(1)).alias("n"))
                     .write.format("noop").mode("overwrite"))
            if tracer:
                with tracer.span(f"operators.{job}.exec"):
                    write.save()
            else:
                write.save()
            b = time.monotonic()
            got, want = obs.get["n"], oracle.job_rows(job)
            if got != want:
                raise ValueError(f"{got} rows, expected {want}")
        except Exception as ex:  # noqa: BLE001 — every failure is counted
            rec.fail(job, repr(ex))
            return
        rec.ok(job, b - a)
        if tracer:
            cache_entries.append(sc._jsc.getPersistentRDDs().size())

    # warm-up pass, its jobs side by side on nproc threads
    warm = [Recorder() for _ in PIPELINE]
    with ThreadPoolExecutor(nproc()) as pool:
        list(pool.map(one, make_pass(), warm))
    failures = [f for r in warm for f in r.failures]
    if failures:
        raise RuntimeError(f"warm-up failed: {failures}")
    setup_s = time.monotonic() - t0 - oracle_s
    if tracer:
        tracer.reset()
    rec = Recorder()
    wall = closed_loop(make_pass, lambda op: one(op, rec), seconds,
                       WORKLOADS["pipeline_batch"][1], rec)
    rss = rss_tree_mb(os.getpid())
    phases = {"session_s": session_s, "warmup_s": setup_s - session_s}
    return rec, wall, setup_s, rss, {"cache_entries": cache_entries,
                                     "spark": spark, "setup_phases": phases}


# --- metrics -----------------------------------------------------------


def end_to_end(rec: Recorder, wall: float, setup_s: float, rss: float) -> dict:
    return {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(rec.lat),
        "latency_p90_s": tail(rec.lat, 0.90),
        "ttfr_p50_s": statistics.median(rec.ttfr) if rec.ttfr else None,
        "throughput_qps": (rec.attempted - rec.failed) / wall,
        "pass_s": statistics.median(rec.passes),
        "error_rate": rec.failed / rec.attempted,
        "peak_rss_mb": rss,
    }


def environment(workload: str, seed: int) -> dict:
    import duckdb
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except Exception:
        pass
    return {
        "nproc": nproc(), "sf": WORKLOADS[workload][0], "seed": seed,
        "clients": 1, "commit": commit,
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__, "driver_memory": DRIVER_MEM,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "ontario_spark", "__init__.py")):
        print("perfbench: run from a checkout that holds the ontario_spark "
              "package", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    trace = bool(args.trace)
    pin_environment(trace)

    import datagen
    import layers

    data_dir = datagen.ensure(os.path.join(WORK, "data"), WORKLOADS[args.workload][0])
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    trace_out = (os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
                 if trace else None)

    tracer = None
    if args.workload == "pipeline_batch":
        if trace:
            import tracing

            tracer = tracing.Tracer()
            tracing.install_engine_layers(tracer)
        rec, wall, setup_s, rss, extra = run_pipeline(
            data_dir, args.seed, args.seconds, tracer)
    else:
        rec, wall, setup_s, rss, extra = run_sparql(
            data_dir, args.seed, args.seconds, trace_out)
    e2e = end_to_end(rec, wall, setup_s, rss)

    report = {
        "workload": args.workload, "trace": trace,
        "env": environment(args.workload, args.seed),
        "end_to_end": {k: {"value": e2e[k], "unit": u}
                       for k, u in REPORTED[args.workload].items()},
        "samples": len(rec.lat), "passes": len(rec.passes),
        "per_operation_median_s": {
            k: statistics.median(v) for k, v in sorted(rec.by_op.items())},
        "failures": rec.failures,
        "setup_phases": extra["setup_phases"],
        "result_metrics": {k: e2e[k] for k in END_TO_END},
    }
    if trace:
        if tracer is not None:
            dump = tracer.dump()
            dump["jobs"] = tracing.spark_jobs(extra["spark"])
            dump["clock_offset"] = time.time() - time.monotonic()
        else:
            with open(trace_out) as fh:
                dump = json.load(fh)
        per_layer = layers.per_layer(args.workload, dump, rec, extra)
        report["per_layer"] = per_layer
        report["coverage_problems"] = layers.coverage_problems(
            args.workload, per_layer)
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    if "spark" in extra:
        from server_proc import stop_spark

        stop_spark(extra["spark"])
    with open(os.path.join(
            results, f"{args.workload}-trace{int(trace)}-seed{args.seed}.json"),
            "w") as fh:
        json.dump(report, fh, indent=1)
    print(json.dumps({"report": report}))
    if trace and report["coverage_problems"]:
        print("perfbench: layer coverage check failed: "
              + "; ".join(report["coverage_problems"]), file=sys.stderr)
        return 3
    print(json.dumps({"correct": rec.failed == 0, "attempted": rec.attempted,
                      "failed": rec.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

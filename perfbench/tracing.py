"""Spans and counters for the traced run.

Every wrapper here lives in the benchmark: it patches a public function
of one layer at the name the caller looks it up by, records a span
(name, start, end, parent, request id) around the call, and bumps the
layer's counters. Spans stay in memory and are written out once, when
the run ends. Times are ``time.monotonic()``, which is system-wide on
Linux, so spans from the server process and the client line up.

A layer's self time is its spans' duration minus the part covered by
their child spans.
"""

from __future__ import annotations

import functools
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (name, start, end, parent, rid)
        self.counters: Counter = Counter()
        self.by_op: Counter = Counter()  # (operation, counter) -> count
        self._lock = threading.Lock()
        self._local = threading.local()

    # --- recording -----------------------------------------------------

    @property
    def rid(self) -> "str | None":
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value: "str | None") -> None:
        self._local.rid = value

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            idx = len(self.spans)
            self.spans.append(None)
        parent = stack[-1] if stack else None
        stack.append(idx)
        start = time.monotonic()
        try:
            yield idx
        finally:
            end = time.monotonic()
            stack.pop()
            self.spans[idx] = (name, start, end, parent, self.rid)

    def reset(self) -> None:
        """Forget everything recorded so far (the warm-up pass)."""
        with self._lock:
            self.spans.clear()
            self.counters.clear()
            self.by_op.clear()

    def count(self, name: str, n: float = 1) -> None:
        """Bump a counter, in total and for the current operation (the
        request id up to its ``#``)."""
        op = (self.rid or "-").split("#")[0]
        with self._lock:
            self.counters[name] += n
            self.by_op[f"{op} {name}"] += n

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned call; ``after(result,
        args, kwargs)`` may count on the result."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        setattr(owner, attr, wrapper)

    # --- reading -------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        spans = [s for s in self.spans if s is not None]
        child = defaultdict(float)
        for name, start, end, parent, _ in spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[str, float] = defaultdict(float)
        for idx, (name, start, end, _, _) in enumerate(spans):
            out[name] += (end - start) - child.get(idx, 0.0)
        return dict(out)

    def dump(self) -> dict:
        return {
            "spans": [s for s in self.spans if s is not None],
            "counters": dict(self.counters),
            "counters_by_operation": dict(self.by_op),
            "self_s": self.self_times(),
        }


def timed_iter(tracer: Tracer, it, name: str, counter: "str | None" = None):
    """Yield from ``it`` with each ``next()`` recorded as a span."""
    it = iter(it)
    while True:
        with tracer.span(name):
            try:
                item = next(it)
            except StopIteration:
                return
        if counter:
            tracer.count(counter)
        yield item


def install_engine_layers(tracer: Tracer) -> None:
    """Parser, planner, compiler, source and Spark-fetch wrappers."""
    import ontario_spark.compiler.query as cq
    import ontario_spark.sources.translate as tr
    import ontario_spark.sparql.parser as sp
    from ontario_spark.compiler.frame import KEYED, LEXICAL
    from pyspark.sql.classic.dataframe import DataFrame

    def parsed(out, args, kwargs):
        tracer.count("sparql.parse_calls")

    # server._query_form imports parse from the parser module at call
    # time; compiler/query.py bound the name at import
    tracer.wrap(sp, "parse", "sparql.parse", parsed)
    tracer.wrap(cq, "parse", "sparql.parse", parsed)

    tracer.wrap(cq, "bgp_stars", "planner.select",
                lambda out, a, k: tracer.count("planner.stars", len(out)))
    tracer.wrap(cq, "select_sources", "planner.select",
                lambda out, a, k: tracer.count(
                    "planner.branches_selected", len(out.alternatives)))
    tracer.wrap(cq, "prune_connected", "planner.select",
                lambda out, a, k: tracer.count(
                    "planner.branches_kept",
                    sum(len(p.alternatives) for p in out)))

    def build_then_plan(orig):
        @functools.wraps(orig)
        def query(self, *args, **kwargs):
            with tracer.span("compiler.build"):
                df = orig(self, *args, **kwargs)
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            tracer.count("compiler.queries")
            return df

        return query

    cq.SparqlEngine.query = build_then_plan(cq.SparqlEngine.query)

    def bound_keys(out, args, kwargs):
        bf, star_vars = args[1], args[2]
        eligible = {
            v for v in star_vars & bf.variables
            if v not in bf.maybe_null
            and (bf.meta[v].kind == LEXICAL
                 or (bf.meta[v].kind == KEYED and bf.meta[v].nkeys == 1))
        }
        if eligible - set(out):
            tracer.count("sources.unfiltered_fetches")
        for conds in out.values():
            tracer.count("sources.bound_join_batches", len(conds))
            tracer.count("sources.bound_join_keys",
                         sum(len(c.value) for c in conds))

    tracer.wrap(cq.SparqlEngine, "_bound_key_conds", "compiler.bound_keys",
                bound_keys)
    tracer.wrap(tr, "rows_to_bframe", "sources.to_frame")
    tracer.wrap(tr, "df_to_bframe", "sources.to_frame")

    orig_iter = DataFrame.toLocalIterator

    @functools.wraps(orig_iter)
    def to_local_iterator(self, *args, **kwargs):
        return timed_iter(tracer, orig_iter(self, *args, **kwargs),
                          "spark.fetch", "sinks.rows_out")

    DataFrame.toLocalIterator = to_local_iterator


def wrap_executor(tracer: Tracer, fn, service: bool = False):
    """A remote executor that records calls, time, rows and errors."""

    @functools.wraps(fn)
    def run(*args, **kwargs):
        tracer.count("sources.remote_calls")
        if service and "VALUES" in str(args[0] if args else ""):
            tracer.count("sources.bound_join_batches")
        try:
            with tracer.span("sources.remote"):
                rows = fn(*args, **kwargs)
        except Exception:
            tracer.count("sources.errors")
            raise
        if isinstance(rows, list):
            tracer.count("sources.remote_rows", len(rows))
        return rows

    return run


def wrap_catalog(tracer: Tracer, cat) -> None:
    for name, fn in list(cat.executors.items()):
        cat.executors[name] = wrap_executor(tracer, fn)


def install_server(tracer: Tracer, spark) -> None:
    """Request scope for ``SparqlHTTPServer._sparql``: job group, wait
    time from the client's send stamp, handler time, serialization."""
    from ontario_spark.server import SparqlHTTPServer

    orig = SparqlHTTPServer._sparql
    sc = spark.sparkContext

    @functools.wraps(orig)
    def _sparql(self, q, form="select"):
        entered = time.monotonic()
        rid = (q.get("rid") or ["-"])[0]
        sent = float((q.get("t_send") or [entered])[0])
        tracer.rid = rid
        tracer.count("server.requests")
        tracer.count("server.wait_s", max(entered - sent, 0.0))
        sc.setJobGroup(rid, "perfbench request", interruptOnCancel=False)
        handler = tracer.span("server.handler")
        handler.__enter__()
        try:
            out = orig(self, q, form)
        except BaseException:
            handler.__exit__(None, None, None)
            raise
        if isinstance(out, dict):
            handler.__exit__(None, None, None)
            return out
        chunks, ctype, err = out

        def serialized():
            try:
                for chunk in timed_iter(tracer, chunks, "sinks.serialize"):
                    tracer.count("sinks.bytes_out", len(chunk.encode()))
                    yield chunk
            finally:
                handler.__exit__(None, None, None)

        return serialized(), ctype, err

    SparqlHTTPServer._sparql = _sparql


# --- Spark status store ------------------------------------------------


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


def spark_jobs(spark) -> list[dict]:
    """Every job the status store retained, with its stages' metrics.
    The store works with the UI disabled."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quant = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    stages: dict[int, dict] = {}
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        sids = []
        sit = j.stageIds().iterator()
        while sit.hasNext():
            sids.append(int(sit.next()))
        jobs.append({
            "group": _opt(j.jobGroup(), ""),
            "submitted": sub.getTime() / 1000.0 if sub else None,
            "completed": done.getTime() / 1000.0 if done else None,
            "tasks": int(j.numTasks()),
            "stages": sids,
        })
        for sid in sids:
            if sid in stages:
                continue
            try:
                s = store.lastStageAttempt(sid)
            except Exception:
                continue  # skipped stage: never attempted
            skew = 0.0
            summ = store.taskSummary(sid, s.attemptId(), quant)
            if summ.isDefined():
                run = summ.get().executorRunTime()
                med, mx = float(run.apply(0)), float(run.apply(1))
                skew = mx / med if med > 0 else 0.0
            stages[sid] = {
                "tasks": int(s.numTasks()),
                "shuffle_read": int(s.shuffleReadBytes()),
                "shuffle_write": int(s.shuffleWriteBytes()),
                "spill": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
                "skew": skew,
            }
    # a skipped stage (its shuffle output reused) has no data
    return [dict(j, stage_data={s: stages[s] for s in j["stages"] if s in stages})
            for j in jobs]


# status store retention high enough that a traced run keeps every job
RETAIN_CONF = {
    "spark.ui.retainedJobs": "200000",
    "spark.ui.retainedStages": "200000",
    "spark.ui.retainedTasks": "2000000",
    "spark.sql.ui.retainedExecutions": "200000",
}

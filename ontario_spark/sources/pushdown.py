"""Bound-join (dependent join) pushdown for remote sources.

Ports the semantics of the reference's ``NestedHashJoinFilter``
(ANAPSID/FedX-style bound join, ``ontario/operators/nonblocking/
NestedHashJoinFilter.py``): buffer build-side join values into batches
of ``WINDOW_SIZE`` (:20 — default 20) and rewrite the probe-side query
with the observed values (``makeInstantiation`` :166-234, which emits
``FILTER ((?v=<x1> && ...) || ...)``; we emit the equivalent SPARQL 1.1
``VALUES`` block).

For Spark-resident data this operator is pointless — a plain ``join``
with AQE/DPP subsumes it (SURVEY.md §2.1). It exists ONLY for remote
sources where shipping the full right side would dominate: collect the
distinct build keys (bounded by ``max_keys``), push them into the
remote query in batches, union the batch results, then join locally.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ontario_spark.data import local_frame
from ontario_spark.sinks import IRI_PATTERN

# executor: (query_text) -> list of solution-mapping dicts
RemoteExecutor = Callable[[str], list[dict[str, str | None]]]

WINDOW_SIZE = 20  # reference default batch size
FETCH_THREADS = 16  # concurrent remote batch fetches


class PushdownError(Exception):
    pass


def sparql_value_term(key) -> str:
    """Render ONE build-side key as a SPARQL VALUES term, classified
    per key (the reference samples a prefix and picks one rendering
    for the whole batch — ``NestedHashJoinFilter.makeInstantiation``
    — which silently drops rows on mixed IRI/literal or typed keys):
    strings the one IRI rule accepts (``sinks.IRI_PATTERN``, whose
    forbidden characters keep a value inside its brackets) become
    ``<iri>``, every other string a quoted literal with ``\\`` and
    ``"`` escaped, bools/ints/floats bare numeric literals. VALUES
    blocks may mix term kinds freely, so a mixed key set needs no
    fallback."""
    if isinstance(key, bool):
        return "true" if key else "false"
    if isinstance(key, (int, float)):
        return repr(key)
    s = str(key)
    if re.match(IRI_PATTERN, s):
        return f"<{s}>"
    escaped = (
        s.replace("\\", "\\\\")
        .replace('"', '\\"')
        .replace("\n", "\\n")
        .replace("\r", "\\r")
    )
    return f'"{escaped}"'


def values_block(var: str, keys: list) -> str:
    terms = " ".join(sparql_value_term(k) for k in keys)
    return f"VALUES ?{var} {{ {terms} }}"


def instantiate_query(query: str, var: str, keys: list) -> str:
    """Inject a VALUES block binding ``var`` to ``keys`` into the
    query's outermost group graph pattern."""
    idx = query.find("{")
    if idx < 0:
        raise PushdownError("query has no group graph pattern")
    return query[: idx + 1] + " " + values_block(var, keys) + " " + query[idx + 1 :]


def fetch_all(executor: RemoteExecutor, queries: list[str]) -> list[dict]:
    """Run the batch queries through ``executor`` concurrently (HTTP
    round-trips, so a thread pool — not the driver serially blocking on
    up to max_keys/WINDOW_SIZE sequential calls) and concatenate
    bindings in deterministic batch order. Any batch failure
    propagates, matching the serial semantics. No queries, no calls."""
    if not queries:
        return []
    if len(queries) == 1:
        return list(executor(queries[0]))
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(FETCH_THREADS, len(queries))) as pool:
        results = list(pool.map(executor, queries))
    return [b for batch in results for b in batch]


def observed_keys(df: DataFrame, col: str, max_keys: int) -> list | None:
    """The distinct non-NULL values of ``df[col]``, sorted by ``str``
    (a stable batch order), or ``None`` when there are more than
    ``max_keys`` of them. NULLs are filtered BEFORE the limit: filtering
    after could let a NULL row mask the ``max_keys + 1`` overflow
    sentinel and silently drop join keys past the cap."""
    keys = [
        r[0]
        for r in df.select(col)
        .filter(df[col].isNotNull())
        .distinct()
        .limit(max_keys + 1)
        .collect()
    ]
    return None if len(keys) > max_keys else sorted(keys, key=str)


def values_batches(
    query: str, var: str, keys: list, window_size: int = WINDOW_SIZE
) -> list[str]:
    """``query`` instantiated once per ``window_size`` window of
    ``keys`` (no queries for no keys)."""
    return [
        instantiate_query(query, var, keys[i : i + window_size])
        for i in range(0, len(keys), window_size)
    ]


def bound_join_fetch(
    spark: SparkSession,
    build: DataFrame,
    join_var: str,
    remote_query: str,
    remote_vars: list[str],
    executor: RemoteExecutor,
    window_size: int = WINDOW_SIZE,
    max_keys: int = 100_000,
) -> DataFrame:
    """Fetch only the remote bindings that can join: distinct build-side
    keys → VALUES-batched remote queries (fetched concurrently) →
    unioned DataFrame.

    ``max_keys`` guards the driver: beyond it, fall back to the
    unfiltered remote query (same fallback posture as the reference's
    non-selective path)."""
    keys = observed_keys(build, join_var, max_keys)
    if keys is None:
        queries = [remote_query]
    else:
        # empty (or all-NULL) build side: no batches — the inner join is
        # empty, and an unbatched fetch would pull the whole remote
        # relation for nothing
        queries = values_batches(remote_query, join_var, keys, window_size)
    rows = [
        tuple(b.get(v) for v in remote_vars)
        for b in fetch_all(executor, queries)
    ]
    schema = ", ".join(f"{v} string" for v in remote_vars)
    return local_frame(spark, rows, schema)

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
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame

from ontario_spark.sinks import IRI_PATTERN

# executor: (query_text) -> list of solution-mapping dicts
RemoteExecutor = Callable[[str], list[dict[str, str | None]]]

WINDOW_SIZE = 20  # reference default batch size
FETCH_THREADS = 16  # concurrent remote batch fetches
# A bound-join build side or outer frame of at most this many rows is
# collected once and held on the driver (``SparqlEngine._hold``): its
# rows feed every key list read from it in Python and it re-enters
# Spark as one partition. Larger frames stay lazy and feed
# ``observed_keys``.
HOLD_ROWS = 10_000
SERVICE_MAX_KEYS = 100_000  # distinct SERVICE keys before an unfiltered fetch
BOUND_JOIN_MAX_KEYS = 1000  # remote-star IN-list size before an unfiltered fetch


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


_NAN = float("nan")


def distinct_keys(values: Iterable, max_keys: int) -> list | None:
    """The bound-join key rule, shared by both feeders (Spark's
    ``observed_keys`` and a held build side's driver rows): the
    distinct non-NULL ``values`` sorted by ``str`` (a stable batch
    order), or ``None`` when there are more than ``max_keys`` of them.
    NULLs are dropped BEFORE the cap, so a NULL can never mask the
    overflow. Floats compare as Spark's ``distinct`` does: one NaN, and
    -0.0 is 0.0."""
    keys = list(
        dict.fromkeys(
            (_NAN if v != v else v + 0.0) if isinstance(v, float) else v
            for v in values
            if v is not None
        )
    )
    return None if len(keys) > max_keys else sorted(keys, key=str)


def observed_keys(df: DataFrame, col: str, max_keys: int) -> list | None:
    """``distinct_keys`` of ``df[col]``, computed by Spark: NULLs are
    filtered before ``limit(max_keys + 1)`` (filtering after could let
    a NULL row take the overflow sentinel's place). Two jobs under AQE
    (the distinct's shuffle-map stage, then the result), so it serves
    only frames too large to hold (``HOLD_ROWS``): a group's build side
    or the outer frame an OPTIONAL/MINUS/EXISTS block hangs off, both
    held otherwise (``SparqlEngine._hold_for_keys``)."""
    rows = (
        df.select(col)
        .filter(df[col].isNotNull())
        .distinct()
        .limit(max_keys + 1)
        .collect()
    )
    return distinct_keys((r[0] for r in rows), max_keys)


def values_batches(query: str, var: str, keys: list) -> list[str]:
    """``query`` instantiated once per ``WINDOW_SIZE`` window of
    ``keys`` (no queries for no keys)."""
    return [
        instantiate_query(query, var, keys[i : i + WINDOW_SIZE])
        for i in range(0, len(keys), WINDOW_SIZE)
    ]

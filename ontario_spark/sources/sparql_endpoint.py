"""Remote SPARQL endpoint bridge.

The one genuinely custom runtime piece of the federation (SURVEY.md
§4.3): no JVM connector exists for SPARQL endpoints, so bindings are
pulled driver-side and handed to Spark. Semantics ported from the
reference's ``RDFStore`` wrapper (``ontario/wrappers/triplestore/
__init__.py``): HTTP GET with ``application/sparql-results+json``
(:52-118) and paged pulls re-issuing the query with ``LIMIT k OFFSET
n*k`` until a short page (:28-46).

Scale path: a single OFFSET-paged pull is inherently serial and served
by one endpoint worker; ``sharded_queries`` splits a query into N
disjoint FILTER shards (hash-mod over a shard variable) that can be
fetched by parallel driver threads or mapped over executors, which is
how the 100 TB federation ambition stays bounded by the remote store,
not this bridge.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from urllib.parse import urlencode

# fetcher: (endpoint_url, query_text) -> SPARQL-JSON result dict
Fetcher = Callable[[str, str], dict]


def with_retries(fetcher: Fetcher, retries: int = 2, backoff: float = 1.0) -> Fetcher:
    """Wrap a fetcher with bounded exponential-backoff retry. Retries
    transient failures only (network errors, HTTP 5xx/429); 4xx are
    the caller's bug and raise immediately. Paged pulls re-issue whole
    pages, so retrying a page is idempotent."""
    import time
    from urllib.error import HTTPError, URLError

    def run(endpoint: str, query: str) -> dict:
        for attempt in range(retries + 1):
            try:
                return fetcher(endpoint, query)
            except HTTPError as ex:
                if attempt == retries or (ex.code < 500 and ex.code != 429):
                    raise
            except (URLError, OSError, TimeoutError):
                if attempt == retries:
                    raise
            time.sleep(backoff * (2**attempt))
        raise AssertionError("unreachable")

    return run


def _http_once(endpoint: str, query: str) -> dict:
    from urllib.request import Request, urlopen

    url = f"{endpoint}?{urlencode({'query': query, 'format': 'json'})}"
    req = Request(url, headers={"Accept": "application/sparql-results+json"})
    with urlopen(req, timeout=60) as resp:  # pragma: no cover - network
        return json.loads(resp.read().decode("utf-8"))


# Default fetcher: stdlib urllib with transient-failure retry (kept
# import-light; tests inject fakes instead of hitting the network).
http_fetcher = with_retries(_http_once)


def _simple_value(term: dict) -> str | None:
    return term.get("value") if term else None


# Suffixes for the side columns carrying full SPARQL-JSON term fidelity
# (reference ships {'type','value','datatype','xml:lang'} dicts end to
# end, ``wrappers/triplestore/__init__.py:82-102``; here the lexical
# value is the main column and type/lang/datatype ride as side columns
# so LANG()/DATATYPE()/LANGMATCHES work on remote bindings).
TERM_SIDE_SUFFIXES = ("__type", "__lang", "__dt")


def _full_term(var: str, term: dict | None) -> dict[str, str | None]:
    term = term or {}
    return {
        var: term.get("value"),
        f"{var}__type": term.get("type"),
        f"{var}__lang": term.get("xml:lang"),
        f"{var}__dt": term.get("datatype"),
    }


def paged_bindings(
    endpoint: str,
    query: str,
    page_size: int = 10000,
    fetcher: Fetcher = http_fetcher,
    max_pages: int = 10000,
    full_terms: bool = False,
    order_vars: "list[str] | None" = None,
) -> Iterator[dict[str, str | None]]:
    """Yield solution mappings, re-issuing with LIMIT/OFFSET until a
    short page (reference :28-46). The input query must not already
    carry LIMIT/OFFSET. ``full_terms=True`` additionally carries each
    binding's SPARQL-JSON type/xml:lang/datatype as ``var__type`` /
    ``var__lang`` / ``var__dt`` keys.

    ``order_vars`` appends ``ORDER BY`` so successive OFFSET windows
    see ONE stable solution order — SPARQL endpoints (Virtuoso
    notoriously) do not guarantee order across separate executions, so
    unordered paging can duplicate or silently skip bindings past the
    first page (round-5 review fix; the endpoint pays a sort, which is
    the price of correct paging). Exhausting ``max_pages`` with a full
    final page raises instead of silently truncating the result."""
    offset = 0
    suffix = (
        "\nORDER BY " + " ".join(f"?{v}" for v in order_vars)
        if order_vars
        else ""
    )
    for _ in range(max_pages):
        paged = f"{query}{suffix}\nLIMIT {page_size} OFFSET {offset}"
        result = fetcher(endpoint, paged)
        rows = result.get("results", {}).get("bindings", [])
        for row in rows:
            if full_terms:
                out: dict[str, str | None] = {}
                for var, term in row.items():
                    out.update(_full_term(var, term))
                yield out
            else:
                yield {var: _simple_value(term) for var, term in row.items()}
        if len(rows) < page_size:
            return
        offset += page_size
    raise RuntimeError(
        f"paged_bindings: result exceeds max_pages={max_pages} × "
        f"page_size={page_size}; raise the limits (silent truncation "
        "would be a wrong answer)"
    )


def sharded_queries(query: str, shard_var: str, n_shards: int) -> list[str]:
    """Split a SPARQL query into N disjoint shards via a deterministic
    hash filter on one variable — each shard is independently pageable
    and fetchable in parallel. Built from SPARQL 1.1 builtins ONLY
    (MD5 + SUBSTR + IN): shard membership is the leading hex digits of
    MD5(STR(?v)) partitioned round-robin across shards, so any
    spec-compliant endpoint (Jena/Virtuoso/Blazegraph/GraphDB) accepts
    the query. 1 < n_shards ≤ 256."""
    if not 1 < n_shards <= 256:
        raise ValueError("n_shards must be in (1, 256]")
    marker = "}"
    idx = query.rstrip().rfind(marker)
    if idx < 0:
        raise ValueError("query has no group graph pattern to shard")
    width = 1 if n_shards <= 16 else 2
    buckets = [f"{b:0{width}x}" for b in range(16**width)]
    out = []
    for s in range(n_shards):
        mine = ", ".join(
            f'"{h}"' for i, h in enumerate(buckets) if i % n_shards == s
        )
        shard_filter = (
            f" FILTER (SUBSTR(MD5(STR(?{shard_var})), 1, {width})"
            f" IN ({mine})) "
        )
        out.append(query[:idx] + shard_filter + query[idx:])
    return out

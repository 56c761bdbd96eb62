"""Document-store execution seam for the MongoDB wrapper path.

The reference executes its translated pipelines at the source
(``ontario/wrappers/mongodb/sparql2mongo.py:68`` —
``collection.aggregate(pipeline, allowDiskUse=True)``) and hands rows
back to the mediator. This module is the stand-in for that call:
``aggregate`` is a clean-room interpreter of exactly the stage subset
our translator emits ($match/$unwind/$project with the $eq/$ne/
$exists/$regex/$lt/$lte/$gt/$gte/$in/$all operators) over plain Python
dicts, and ``executor_from_collections`` wraps it in the
``Catalog.executors`` call convention ``executor(collection, pipeline)
-> [row dict]``. ``parquet_doc_loader`` serves the documents from the
same parquet the oracle reads. The rows land like every other
driver-side fetch (Drill, Cypher, SPARQL): through
``rows_to_bframe`` → ``data.local_frame`` as one partition. A live
deployment injects an executor that calls its Mongo server through
``Catalog.executors``; everything from the pipeline text to the
ColSpec lifting is shared.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterable


def _get(doc: dict, dotted: str):
    cur = doc
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None
        cur = cur[part]
    return cur


def _set(doc: dict, dotted: str, value) -> None:
    """Write ``dotted`` path, COPYING each dict along the path first:
    callers hold shallow top-level copies (``dict(d)`` per $unwind
    element), so writing through a shared nested dict would alias every
    unwound row to the LAST element. Only the written path is copied;
    unrelated subtrees stay shared (read-only)."""
    parts = dotted.split(".")
    cur = doc
    for p in parts[:-1]:
        nxt = cur.get(p)
        nxt = dict(nxt) if isinstance(nxt, dict) else {}
        cur[p] = nxt
        cur = nxt
    cur[parts[-1]] = value


def _matches_array(arr: list, cond) -> bool:
    """Mongo ARRAY-field match semantics (round 12, backing the
    translator's $all sequence for multi-valued predicates — reference
    ``sparql2mongo.py:144-180``): a document-level condition on an
    intact array is element-CONTAINMENT — bare/``$eq`` values match if
    any element equals, comparisons/``$regex`` if any element
    satisfies, ``$ne`` only if NO element equals, and ``$all`` when
    every listed value is present."""
    if not isinstance(cond, dict):
        return cond in arr
    for op, arg in cond.items():
        if op == "$all":
            if any(x not in arr for x in arg):
                return False
        elif op == "$exists":
            if not arg:
                return False  # the array field IS present
        elif op == "$eq":
            if arg != arr and arg not in arr:
                return False
        elif op == "$ne":
            if arg == arr or arg in arr:
                return False
        elif op == "$in":
            whole = any(
                arr == (list(a) if isinstance(a, tuple) else a) for a in arg
            )
            if not whole and not any(x in arr for x in arg):
                return False
        elif op == "$regex":
            if not any(
                x is not None and re.search(arg, str(x)) for x in arr
            ):
                return False
        elif op in ("$lt", "$lte", "$gt", "$gte"):
            cmp = {
                "$lt": lambda x: x < arg,
                "$lte": lambda x: x <= arg,
                "$gt": lambda x: x > arg,
                "$gte": lambda x: x >= arg,
            }[op]
            if not any(cmp(x) for x in arr if x is not None):
                return False
        else:
            raise ValueError(f"unsupported $match operator {op}")
    return True


def _matches(doc: dict, spec: dict) -> bool:
    for field, cond in spec.items():
        v = _get(doc, field)
        if isinstance(v, list):
            if not _matches_array(v, cond):
                return False
            continue
        if not isinstance(cond, dict):
            if v != cond:
                return False
            continue
        for op, arg in cond.items():
            if op == "$all":
                # non-array field: matches only if it equals every
                # listed value (Mongo's degenerate-scalar $all)
                if any(x != v for x in arg):
                    return False
            elif op == "$exists":
                if (v is not None) != arg:
                    return False
            elif op == "$eq":
                if v != arg:
                    return False
            elif op == "$ne":
                if v == arg:
                    return False
            elif op == "$in":
                if v not in arg:
                    return False
            elif op == "$regex":
                if v is None or not re.search(arg, str(v)):
                    return False
            elif op in ("$lt", "$lte", "$gt", "$gte"):
                if v is None:
                    return False
                ok = {
                    "$lt": v < arg,
                    "$lte": v <= arg,
                    "$gt": v > arg,
                    "$gte": v >= arg,
                }[op]
                if not ok:
                    return False
            else:
                raise ValueError(f"unsupported $match operator {op}")
    return True


def aggregate(docs: Iterable[dict], pipeline: list[dict]) -> list[dict]:
    """Reference semantics for the emitted aggregation-stage subset
    (mirrors ``collection.aggregate`` for pipelines our translator can
    produce; see reference ``sparql2mongo.py:144-241``)."""
    out = [dict(d) for d in docs]
    for stage in pipeline:
        ((op, arg),) = stage.items()
        if op == "$match":
            out = [d for d in out if _matches(d, arg)]
        elif op == "$unwind":
            field = arg[1:]  # "$path"
            nxt = []
            for d in out:
                for item in _get(d, field) or []:
                    nd = dict(d)
                    _set(nd, field, item)
                    nxt.append(nd)
            out = nxt
        elif op == "$project":
            nxt = []
            for d in out:
                nd = {}
                for out_name, src in arg.items():
                    if out_name == "_id":
                        continue
                    nd[out_name] = (
                        _get(d, src[1:]) if isinstance(src, str) else None
                    )
                nxt.append(nd)
            out = nxt
        else:
            raise ValueError(f"unsupported stage {op}")
    return out


def executor_from_collections(
    collections: dict[str, list[dict]] | Callable[[str], list[dict]],
) -> Callable[[str, list[dict]], list[dict]]:
    """Build a ``Catalog.executors`` entry with the mongodb call
    convention ``executor(collection, pipeline) -> [row dict]``.
    ``collections`` maps collection name → documents, or is a loader
    callable (name → documents) for lazy/parquet-backed stand-ins."""

    def execr(collection: str, pipeline: list[dict]) -> list[dict]:
        docs = (
            collections(collection)
            if callable(collections)
            else collections.get(collection, [])
        )
        return aggregate(docs, pipeline)

    return execr


def parquet_doc_loader(sf_dir: str) -> Callable[[str], list[dict]]:
    """Loader serving parquet tables as document collections (the
    driver-query stand-in for a live Mongo server; decimals cast to
    DOUBLE so documents carry plain JSON-ish types). Caches per table —
    the executor may be called once per bound-join batch."""
    import duckdb

    cache: dict[str, list[dict]] = {}

    def load(name: str) -> list[dict]:
        if name not in cache:
            con = duckdb.connect()
            cur = con.execute(
                f"SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
            )
            cols = [
                d[0] for d in cur.description
            ]
            typed = []
            for r in cur.fetchall():
                d = dict(zip(cols, r))
                for k, v in d.items():
                    # Decimal → float: documents in a real store carry
                    # JSON numbers, and Spark lifting wants plain types
                    if type(v).__name__ == "Decimal":
                        d[k] = float(v)
                typed.append(d)
            cache[name] = typed
            con.close()
        return cache[name]

    return load


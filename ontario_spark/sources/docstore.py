"""Document-store execution seam for the MongoDB wrapper path.

The reference executes its translated pipelines live
(``ontario/wrappers/mongodb/sparql2mongo.py:68`` —
``collection.aggregate(pipeline, allowDiskUse=True)``); this sandbox
has no MongoDB server, so the same seam is served two ways:

- **Production shape** (``mongo_spark_reader``): the Spark MongoDB
  connector path — ``spark.read.format("mongodb")`` with the
  aggregation pipeline pushed down — gated behind an import-try since
  the connector jar isn't available here. Returns a distributed
  DataFrame that ``compile_star._compile_remote`` lifts without a
  driver round-trip (same contract as ``sources/jdbc.py``).
- **Stand-in** (``aggregate`` + ``executor_from_collections``): a
  clean-room interpreter of exactly the stage subset our translator
  emits ($match/$unwind/$project with the $eq/$ne/
  $exists/$regex/$lt/$lte/$gt/$gte/$in operators), run over plain
  Python dicts. Used by the integration tests (documents loaded from
  the same parquet the oracle reads — the Derby-JDBC test pattern).
  At scale the stand-in's role is played by the connector; everything
  from the pipeline text to the ColSpec lifting is shared.
- **Distributed stand-in** (``spark_doc_executor``): the SAME
  interpreter run per-partition via Arrow-batched ``mapInPandas`` over
  the parquet-loaded document frame — the driver queries
  (``sparql_mongo_join``, ``lslod_cq6_trisource``) route through this
  so their bench rows measure a distributed plan shape, not a
  driver-side doc loop.
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


def _resolve_type(schema, dotted: str):
    """Type of a dotted document path within a Spark StructType (None
    when the path doesn't exist)."""
    from pyspark.sql.types import StructType

    cur = schema
    for part in dotted.split("."):
        if not isinstance(cur, StructType) or part not in cur.fieldNames():
            return None
        cur = cur[part].dataType
    return cur


def _unwound(schema, parts: list[str]):
    """Schema after ``$unwind`` of the dotted path ``parts``: the array
    field becomes its element type, the struct chain above it is
    rebuilt unchanged."""
    from pyspark.sql.types import ArrayType, StructField, StructType

    fields = []
    for f in schema.fields:
        if f.name != parts[0]:
            fields.append(f)
        elif len(parts) > 1:
            fields.append(StructField(f.name, _unwound(f.dataType, parts[1:]), True))
        else:
            dt = (
                f.dataType.elementType
                if isinstance(f.dataType, ArrayType)
                else f.dataType
            )
            fields.append(StructField(f.name, dt, True))
    return StructType(fields)


def pipeline_schema(schema, stages: list[dict]):
    """Result schema of interpreting ``stages`` over documents shaped
    like ``schema`` — $match keeps it, $unwind element-izes one array
    path, $project renames/narrows (unknown source paths surface as
    nullable strings)."""
    from pyspark.sql.types import StringType, StructField, StructType

    cur = schema
    for stage in stages:
        ((op, arg),) = stage.items()
        if op == "$unwind":
            cur = _unwound(cur, arg[1:].split("."))
        elif op == "$project":
            fields = []
            for out, src in arg.items():
                if out == "_id":
                    continue
                t = _resolve_type(cur, src[1:]) if isinstance(src, str) else None
                fields.append(StructField(out, t or StringType(), True))
            cur = StructType(fields)
    return cur


def _jsonish(v):
    """Arrow-batch cell → the plain-Python document value the
    interpreter expects: numpy scalars/arrays unboxed, NaN (pandas'
    null for numeric columns) → None (a missing field, matching the
    driver-side loader where nulls never enter the dict)."""
    import numpy as np

    if isinstance(v, dict):
        return {k: _jsonish(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_jsonish(x) for x in v]
    if isinstance(v, np.ndarray):
        return [_jsonish(x) for x in v.tolist()]
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and v != v:
        return None
    return v


def spark_doc_executor(spark, sf_dir: str):
    """DISTRIBUTED stand-in executor with the mongodb call convention
    ``executor(collection, pipeline) -> DataFrame``: the collection is
    the parquet-loaded document frame and ``aggregate`` runs PER
    PARTITION inside an Arrow-batched ``mapInPandas`` stage — the plan
    the connector path would produce (partitioned remote read + pushed
    pipeline), so bench rows over a Mongo star measure a distributed
    plan instead of a driver-side Python loop (round-9 verdict item 1).
    Results are identical to ``executor_from_collections(
    parquet_doc_loader(sf_dir))``: same interpreter, same documents.
    Every stage the translator emits is per-document, so the pipeline
    runs whole inside each partition."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DecimalType

    from ontario_spark.data import table

    def execr(collection: str, pipeline: list[dict]):
        df = table(spark, sf_dir, collection)
        # mirror parquet_doc_loader: documents in a real store carry
        # JSON numbers, so decimals become doubles BEFORE interpreting
        df = df.select(
            *[
                F.col(f.name).cast("double").alias(f.name)
                if isinstance(f.dataType, DecimalType)
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )
        out_schema = pipeline_schema(df.schema, pipeline)
        out_cols = [f.name for f in out_schema.fields]

        def interpret(batches):
            import pandas as pd

            for pdf in batches:
                docs = [
                    {k: _jsonish(v) for k, v in rec.items()}
                    for rec in pdf.to_dict("records")
                ]
                rows = aggregate(docs, pipeline)
                yield pd.DataFrame(
                    [[r.get(c) for c in out_cols] for r in rows],
                    columns=out_cols,
                )

        return df.mapInPandas(interpret, schema=out_schema)

    return execr


def mongo_spark_reader(
    spark,
    uri: str,
    database: str,
    collection: str,
    pipeline: list[dict] | None = None,
):
    """Production fetch path: Spark MongoDB connector with the
    aggregation pipeline pushed down — a distributed, partitioned read
    (partitioner splits on _id ranges), never a driver materialization.
    Gated: the connector jar isn't shipped in this sandbox."""
    try:
        import json

        reader = (
            spark.read.format("mongodb")
            .option("connection.uri", uri)
            .option("database", database)
            .option("collection", collection)
        )
        if pipeline:
            reader = reader.option("aggregation.pipeline", json.dumps(pipeline))
        return reader.load()
    except Exception as e:  # pragma: no cover - connector not in sandbox
        raise NotImplementedError(
            "MongoDB Spark connector not available in this environment; "
            "use executor_from_collections for the stand-in path"
        ) from e

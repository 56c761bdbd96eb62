"""Test-data table loading (driver-generated parquet per TESTDATA.md) and
the one way driver-side rows become a DataFrame (``local_frame``)."""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def events_ts_kind(path: str) -> str:
    """How ``events.parquet`` physically stores ``ts``: ``"nanos"`` when
    the footer declares TIMESTAMP(NANOS) (which Spark's vectorized
    reader rejects without the nanosAsLong escape hatch), else
    ``"native"`` (µs/ms timestamps Spark reads directly). Driven by the
    parquet footer, not an assumption — the generator has shipped both
    encodings across rounds. Falls back to ``"native"`` when the footer
    isn't locally readable (e.g. a remote URI): the common case, and the
    nanos branch exists only for the legacy local fixture."""
    try:
        import pyarrow.parquet as pq

        return (
            "nanos"
            if str(pq.read_schema(path).field("ts").type) == "timestamp[ns]"
            else "native"
        )
    except Exception:
        return "native"


# One DataFrame per (session, dir, table). spark.read.parquet re-lists
# the directory and re-reads footers for schema inference on every call
# (~0.1 s each); reusing the immutable base plan skips that. Keyed
# weakly on the session so a stopped session's plans are collectable.
_table_cache: "WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    WeakKeyDictionary()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _table_cache.setdefault(spark, {})
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is not None:
        return df
    if name == "events" and events_ts_kind(f"{sf_dir}/{name}.parquet") == "nanos":
        # Legacy fixture: ts is TIMESTAMP(NANOS), which Spark's vectorized
        # parquet reader rejects. Read nanos as long and truncate to
        # microseconds — byte-identical with DuckDB's ns→µs truncation.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    per_session[key] = df
    return df


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: "str | StructType"
) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` column order) as a
    one-partition DataFrame typed by ``schema``: DDL, or the
    ``StructType`` of the frame the rows were collected from. The rows
    travel as a pyarrow Table, which Spark turns into a JVM
    ``LocalRelation`` with known size stats: scanning it never starts
    a Python worker, unlike the row path's ``LogicalRDD`` over a
    pickled ``PythonRDD`` (~0.2 s per Python task on a 4-core host,
    paid by every job that scans the frame).

    One partition, because the rows are already whole in driver memory.
    A scan would otherwise slice them into ``defaultParallelism``
    partitions, and an answer streamed from that slicing through
    ``toLocalIterator`` pays one serial Spark job per slice (~65 ms
    each on a 4-core host) for no parallel work. ``coalesce(1)`` is a
    ``Repartition 1, false``: no exchange, and an empty fetch still
    folds to an empty ``LocalRelation``.

    Timestamp columns are built tz-naive and localized with the session
    time zone, as the row path reads a naive ``datetime``. A schema
    with no columns yields one empty row per input row."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    if not struct.fields:
        return spark.range(0, len(rows), 1, 1).select()
    types = [
        pa.timestamp("us") if pa.types.is_timestamp(f.type) else f.type
        for f in to_arrow_schema(struct)
    ]
    columns = list(zip(*rows)) if rows else [()] * len(types)
    table = pa.Table.from_arrays(
        [pa.array(c, type=t) for c, t in zip(columns, types)],
        names=struct.names,
    )
    return spark.createDataFrame(table, schema=struct).coalesce(1)

"""``data.local_frame``: driver-side rows enter Spark as an Arrow-built
``LocalRelation`` in one partition, with exactly the rows the classic
row path (``spark.createDataFrame(rows, schema)``) produces, and the
federation entry points that turn fetched rows into frames plan the
same way."""

from __future__ import annotations

import datetime

import pytest

from ontario_spark.data import local_frame

CASES = {
    "string": ("v string", [("a",), (None,), ("",), ("ünï",)]),
    "long": ("v long", [(1,), (None,), (-(2**62),), (0,)]),
    "double": ("v double", [(1.5,), (None,), (-0.25,), (float("inf"),)]),
    "boolean": ("v boolean", [(True,), (None,), (False,)]),
    "timestamp": (
        "v timestamp",
        [
            (datetime.datetime(2024, 3, 10, 2, 30),),
            (None,),
            (datetime.datetime(1999, 12, 31, 23, 59, 59, 123456),),
        ],
    ),
    "array_double": (
        "v array<double>",
        [([1.0, None, 2.5],), (None,), ([],)],
    ),
    "mixed_all_none_column": (
        "`a b` string, n long, d double, f boolean, t timestamp, "
        "xs array<double>, nothing string",
        [
            ("x", 1, 0.5, True, datetime.datetime(2020, 1, 1), [1.0], None),
            (None, None, None, None, None, None, None),
        ],
    ),
    "zero_rows": ("s string, n long, t timestamp, xs array<double>", []),
}


def plan_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def assert_local(df) -> None:
    plan = plan_of(df)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_row_path(spark, case):
    schema, rows = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema=schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert_local(got)


def test_local_frame_without_columns_keeps_row_count(spark):
    assert local_frame(spark, [(), ()], "").count() == 2
    assert local_frame(spark, [], "").count() == 0
    assert local_frame(spark, [()] * 20, "").rdd.getNumPartitions() == 1


@pytest.mark.parametrize("n", [0, 1, 3, 1000])
def test_local_frame_is_one_partition(spark, n):
    """Driver-held rows are one partition, so streaming them through
    ``toLocalIterator`` is one job, not one per ``defaultParallelism``
    slice; the plan is still a ``LocalRelation``."""
    df = local_frame(spark, [(str(i), i) for i in range(n)], "s string, n long")
    assert df.rdd.getNumPartitions() == 1
    assert_local(df)
    assert df.count() == n


def test_rows_to_bframe_plans_local(spark):
    from ontario_spark.sources.translate import REFERENCE, ColSpec, rows_to_bframe

    rows = [{"x": "a", "n": 1}, {"x": None, "n": 2.5}]
    specs = [ColSpec("x", "x", REFERENCE), ColSpec("n", "n", REFERENCE)]
    bf = rows_to_bframe(spark, rows, specs)
    assert sorted(bf.df.collect(), key=str) == sorted(
        spark.createDataFrame(
            [("a", 1.0), (None, 2.5)], "x string, n double"
        ).collect(),
        key=str,
    )
    assert_local(bf.df)


def test_bound_join_fetch_plans_local(spark, service_fetch):
    build = spark.createDataFrame([("k1",), ("k2",)], "k string")

    def executor(query):
        return [{"k": "k1", "v": "one"}, {"k": "k2", "v": None}]

    for held in (False, True):
        out = service_fetch(build, "?k <http://ex.org/p> ?v", executor, held).df
        assert sorted(out.select("k", "v").collect(), key=str) == sorted(
            spark.createDataFrame(
                [("k1", "one"), ("k2", None)], "k string, v string"
            ).collect(),
            key=str,
        )
        assert_local(out)


def test_held_frame_is_exact(spark):
    """A held build side collects equal to its source frame, keeps its
    schema (types and nullability), meta and ``maybe_null``, and is
    one local partition."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from ontario_spark.catalog.model import Catalog
    from ontario_spark.compiler.frame import LEXICAL, BFrame, HeldFrame, TermMeta
    from ontario_spark.compiler.query import SparqlEngine

    schema = (
        "i int, b bigint, d decimal(12,2), x double, dt date, "
        "ts timestamp, s string"
    )
    rows = [
        (1, 2**40, Decimal("12.34"), 0.5, datetime.date(2024, 1, 2),
         datetime.datetime(2024, 3, 10, 2, 30, 0, 123456), "a"),
        (None, None, None, None, None, None, None),
        (-7, -(2**62), Decimal("-0.01"), -1e-4, datetime.date(1999, 12, 31),
         datetime.datetime(1999, 12, 31, 23, 59, 59), "ünï"),
    ]
    src = spark.createDataFrame(rows, schema).withColumn("c", F.lit("const"))
    meta = {c: TermMeta(LEXICAL) for c in src.columns}
    eng = SparqlEngine(spark, Catalog())
    held = eng._hold(BFrame(src, meta, frozenset({"s"})))
    assert isinstance(held, HeldFrame)
    assert held.df.schema == src.schema
    assert not held.df.schema["c"].nullable
    assert held.df.collect() == src.collect() == held.rows
    assert held.meta == meta and held.maybe_null == {"s"}
    assert held.df.rdd.getNumPartitions() == 1
    assert_local(held.df)


def test_values_block_plans_local(spark, sf_small):
    from ontario_spark.catalog.tpch_rdf import tpch_catalog
    from ontario_spark.compiler.query import SparqlEngine
    from ontario_spark.sparql.ast import Term, ValuesBlock

    xsd = "http://www.w3.org/2001/XMLSchema#"
    block = ValuesBlock(
        ["name", "n", "undef"],
        [
            (
                Term("literal", "ASIA"),
                Term("literal", "1", f"{xsd}integer", py=1),
                None,
            ),
            (Term("iri", "http://ex.org/x"), None, None),
        ],
    )
    bf = SparqlEngine(spark, tpch_catalog(sf_small))._values(block)
    assert bf.df.collect() == spark.createDataFrame(
        [("ASIA", 1, None), ("http://ex.org/x", None, None)],
        "name string, n long, undef string",
    ).collect()
    assert bf.maybe_null == {"n", "undef"}
    assert_local(bf.df)

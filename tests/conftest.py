from __future__ import annotations

import pytest

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from ontario_spark.session import get_spark

    s = get_spark("ontario-spark-tests")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    yield s


@pytest.fixture(scope="session")
def sf_small():
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_med():
    return SF_MED


@pytest.fixture
def service_fetch(spark):
    """``SparqlEngine._service`` over a given build side:
    ``fetch(build_df, pattern, executor, held=False)`` ships
    ``SERVICE <http://e> { pattern }`` to ``executor`` with the columns
    of ``build_df`` as lexical key sources (held on the driver first
    when ``held``), and returns the fetched frame."""
    from ontario_spark.catalog.model import Catalog
    from ontario_spark.compiler.frame import LEXICAL, BFrame, TermMeta
    from ontario_spark.compiler.query import SparqlEngine
    from ontario_spark.sparql.parser import parse

    def fetch(build, pattern, executor, held=False):
        eng = SparqlEngine(
            spark, Catalog(), service_executors={"http://e": executor}
        )
        q = parse(f"SELECT * WHERE {{ SERVICE <http://e> {{ {pattern} }} }}")
        bf = BFrame(build, {c: TermMeta(LEXICAL) for c in build.columns})
        if held:
            bf = eng._hold(bf)
            assert bf is not None
        return eng._service(q.where.elements[0], (bf,))

    return fetch

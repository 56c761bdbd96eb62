"""The timing core every measuring tool shares: ``bench.timed`` and the
conf switch of ``tools/ab.py``."""

from __future__ import annotations

import importlib.util
import os

import pytest

from ontario_spark.queries import all_queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_ab():
    spec = importlib.util.spec_from_file_location(
        "ab_tool", os.path.join(ROOT, "tools", "ab.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("action", ["noop", "collect"])
def test_timed_clears_cache_and_job_description(spark, sf_small, action):
    from bench import timed

    from ontario_spark.persist import _dropped

    held = spark.range(50).selectExpr("id * 3 AS x").persist()
    held.count()
    assert not _dropped(held)
    query = all_queries()["q1_pricing_summary"]
    sec, df, out = timed(
        spark, "timing-test", lambda: query(spark, sf_small), action, repeat=2
    )
    assert _dropped(held)
    assert sec > 0
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
    if action == "collect":
        assert len(out) == df.count() > 0
    else:
        assert out is None


def test_ab_conf_switch_sets_b_and_restores_a(spark):
    ab = _load_ab()
    was_set, was_unset = "spark.sql.shuffle.partitions", "spark.ontario.ab.probe"
    before = spark.conf.get(was_set)
    spark.conf.unset(was_unset)
    to_a, to_b = ab.conf_switches(spark, {was_set: "3", was_unset: "on"})
    try:
        to_b()
        assert spark.conf.get(was_set) == "3"
        assert spark.conf.get(was_unset) == "on"
        to_a()
        assert spark.conf.get(was_set) == before
        assert spark.conf.get(was_unset, None) is None
    finally:
        spark.conf.set(was_set, before)
        spark.conf.unset(was_unset)

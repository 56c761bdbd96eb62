"""Snapshot versioning: diff classification + hash portability."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from ontario_spark.operators.versioning import snapshot_diff


def test_snapshot_diff_classifies_all_statuses(spark):
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, None), (5, "e")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in snapshot_diff(old, new).collect()}
    assert rows[1]["status"] == "removed" and rows[1]["new_hash"] is None
    assert rows[2]["status"] == "unchanged"
    assert rows[3]["status"] == "changed"
    assert rows[3]["old_hash"] != rows[3]["new_hash"]
    assert rows[4]["status"] == "unchanged"  # NULL == NULL content
    assert rows[5]["status"] == "added" and rows[5]["old_hash"] is None


def test_snapshot_diff_multi_column_separator(spark):
    """("ab","c") must not hash like ("a","bc") — the unit-separator
    concat prevents boundary aliasing across content columns."""
    old = spark.createDataFrame([(1, "ab", "c")], "doc_id long, a string, b string")
    new = spark.createDataFrame([(1, "a", "bc")], "doc_id long, a string, b string")
    [r] = snapshot_diff(old, new, content_cols=("a", "b")).collect()
    assert r["status"] == "changed"


def test_content_hash_matches_duckdb(spark):
    """The md5-over-separator-concat convention is engine-portable:
    DuckDB reproduces the hash bit-for-bit (the oracle contract)."""
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    [r] = snapshot_diff(df, df).collect()
    [(expected,)] = (
        duckdb.connect().execute("SELECT md5('hello world')").fetchall()
    )
    assert r["old_hash"] == expected == r["new_hash"]


def test_snapshot_diff_null_keys_classify_by_side(spark):
    """Review fix: a NULL key never joins, so classification keys on
    the hash columns' nullity — an old-side NULL-key row is 'removed'
    (it exists only in old), not 'added'."""
    old = spark.createDataFrame([(None, "x"), (1, "a")], "doc_id long, text string")
    new = spark.createDataFrame([(None, "y"), (1, "a")], "doc_id long, text string")
    rows = snapshot_diff(old, new).collect()
    by_status = {}
    for r in rows:
        by_status.setdefault(r["status"], []).append(r)
    assert len(by_status["removed"]) == 1  # old NULL-key row
    assert by_status["removed"][0]["old_hash"] is not None
    assert len(by_status["added"]) == 1  # new NULL-key row
    assert by_status["added"][0]["new_hash"] is not None
    assert len(by_status["unchanged"]) == 1


class TestApplyChangelog:
    def test_merge_semantics_by_hand(self, spark):
        from ontario_spark.operators.versioning import apply_changelog

        base = spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "v"]
        )
        ch = spark.createDataFrame(
            [
                (1, "U", 11.0, 1, 1),   # update key 1
                (1, "U", 12.0, 2, 2),   # later update wins
                (2, "D", 0.0, 1, 3),    # delete key 2
                (4, "U", 40.0, 1, 4),   # insert new key 4
                (5, "D", 0.0, 1, 5),    # delete of absent key: no row
                (6, "U", 60.0, 1, 6),   # insert then delete → no row
                (6, "D", 0.0, 2, 7),
            ],
            ["k", "op", "v", "ts", "eid"],
        )
        out = {
            r.k: (r.v, r.status)
            for r in apply_changelog(
                base, ch, key="k", payload="v", order_cols=("ts", "eid")
            ).collect()
        }
        assert out == {
            1: (12.0, "updated"),
            3: (30.0, "unchanged"),
            4: (40.0, "inserted"),
        }

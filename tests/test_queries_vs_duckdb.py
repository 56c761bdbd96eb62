"""Golden-output gate: every registered query hash-matches its DuckDB
oracle at sf0.001 (fast) — mirrors the driver's t2 check at sf0.01."""

from __future__ import annotations

import os

import pytest

from ontario_spark.queries import all_oracle_sql, all_queries
from tests.oracle import assert_match, run_oracle

QUERIES = all_queries()
ORACLE = all_oracle_sql()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_small, name):
    df = QUERIES[name](spark, sf_small)
    if name not in ORACLE:
        assert df.count() >= 0  # rows-only check for non-SQL-expressible ops
        return
    assert_match(df, run_oracle(ORACLE[name], sf_small), name)


def test_all_queries_have_oracle_or_are_declared():
    missing = sorted(n for n in QUERIES if n not in ORACLE)
    # EXACTLY the five intrinsically engine-specific estimates may
    # omit oracles (k-means quantizer / sketch estimates have no DuckDB
    # equivalent; their error bounds are pytest-checked and their
    # oracle-able forms — ann_topk_bucketed, sketch_hll_check — sit on
    # the driver surface instead). Anything else missing is a bug.
    assert missing == [
        "ann_topk_ivf", "ann_topk_ivfpq", "ann_topk_pq",
        "sketch_event_stats", "sketch_hll_rollup",
    ], f"queries without oracle: {missing}"


def test_registry_counts_are_consistent():
    """Derived, not hand-maintained (round-3 advice: README/COVERAGE
    counts drifted): the registry and oracle sizes must track each
    other exactly, and every oracle key must name a registered query."""
    assert set(ORACLE) <= set(QUERIES)
    assert len(ORACLE) == len(QUERIES) - 5  # the five declared above


@pytest.mark.skipif(
    bool(os.environ.get("ONTARIO_SKIP_SF01_GATE")),
    reason="10x-scale oracle gate disabled via ONTARIO_SKIP_SF01_GATE",
)
def test_all_oracles_match_at_sf01(spark):
    """Every oracle-backed query hash-matches DuckDB at sf0.1 — ten
    times the driver's gate scale, catching tie-break or float
    nondeterminism that only appears with more data. Default-ON since
    round 5: oracle results are disk-cached across sessions
    (tests/oracle.py), so the test pays mostly for the Spark side it
    exists to check. Opt out with ONTARIO_SKIP_SF01_GATE=1."""
    from ontario_spark.queries import all_oracle_sql, all_queries

    q, o = all_queries(), all_oracle_sql()
    sf = "/root/testdata/sf0.1"
    for name in sorted(o):
        assert_match(q[name](spark, sf), run_oracle(o[name], sf), name)


def test_bpe_train_merges_hand_computed(spark):
    """Pin the iterated loop's semantics on a corpus small enough to
    run BPE by hand — argmax tiebreak, greedy left-to-right
    non-overlapping application, and merged symbols feeding the next
    round's counts."""
    from ontario_spark.operators.textops import bpe_train_merges

    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "aab")], ["doc_id", "text"]
    )
    # word freqs: aaab=2, aab=1
    # r1 pairs: aaab -> (a,a)x2, (a,b) each x2; aab -> (a,a), (a,b)
    #   (a,a)=5, (a,b)=3 -> merge (a,a)
    #   greedy: aaab -> [aa,a,b]; aab -> [aa,b]
    # r2 pairs: (aa,a)=2, (a,b)=2, (aa,b)=1 -> tie 2/2 broken
    #   lexicographically: (a,b) < (aa,a) -> merge (a,b)
    #   aaab -> [aa,ab]; aab -> [aa,b] (no a before b any more? aab is
    #   [aa,b]: pair (aa,b) untouched)
    # r3 pairs: (aa,ab)=2, (aa,b)=1 -> merge (aa,ab)
    out = {
        r.merge_rank: (r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in bpe_train_merges(df, "text", rounds=3).collect()
    }
    assert out[1] == ("a", "a", "aa", 5)
    assert out[2] == ("a", "b", "ab", 2)
    assert out[3] == ("aa", "ab", "aaab", 2)

    # encoding with all 3 merges applied: aaab -> [aaab] (1 token),
    # aab -> [aa, b] (2: merge 2's (a,b) can't fire — the 'a' fused
    # into 'aa' in round 1; merge 3 needs 'ab' on the right)
    from ontario_spark.operators.textops import bpe_encode_stats

    enc = {
        r.doc_id: (r.n_words, r.n_chars, r.n_tokens)
        for r in bpe_encode_stats(df, "doc_id", "text", rounds=3).collect()
    }
    assert enc[1] == (2, 8, 2)
    assert enc[2] == (1, 3, 2)

    # pairs run out: every word is one symbol after the first merge, so
    # rounds 2-3 find no pair — one merge row, and the vocab the later
    # rounds leave is empty in both engines (the oracle's cross join
    # with an empty argmax row)
    import pandas as pd
    from pyspark.sql import functions as F

    from ontario_spark.operators.textops import (
        _bpe_sql_ctes,
        _bpe_train_core,
        bpe_train_sql,
    )

    pdf = pd.DataFrame({"doc_id": [1], "text": ["ab ab ab"]})
    df = spark.createDataFrame(pdf)
    got = sorted(tuple(r) for r in bpe_train_merges(df, "text", rounds=3).collect())
    assert got == [(1, "a", "b", "ab", 3)]
    assert got == sorted(_bpe_duckdb(pdf, bpe_train_sql("docs", "text", rounds=3)))
    assert _bpe_train_core(df, "text", 3).select(F.size("v")).first()[0] == 0
    ctes = _bpe_sql_ctes("docs", "text", 3, apply_last=True)
    assert _bpe_duckdb(pdf, ctes + " SELECT COUNT(*) FROM wf3") == [(0,)]

    # non-ASCII symbols: every word has frequency 2, so each round is a
    # tie among the pairs left, broken by the smallest (left, right) in
    # code points — 'z' (U+007A) < 'é' (U+00E9) < 'α' (U+03B1), where a
    # locale order would put 'é' before 'z'; (a,z) < (a,é) on the right
    pdf = pd.DataFrame(
        {"doc_id": [1, 2], "text": ["αa éa za aé az", "za éa αa aé az"]}
    )
    df = spark.createDataFrame(pdf)
    got = sorted(tuple(r) for r in bpe_train_merges(df, "text", rounds=5).collect())
    assert got == [
        (1, "a", "z", "az", 2),
        (2, "a", "é", "aé", 2),
        (3, "z", "a", "za", 2),
        (4, "é", "a", "éa", 2),
        (5, "α", "a", "αa", 2),
    ]
    assert got == sorted(_bpe_duckdb(pdf, bpe_train_sql("docs", "text", rounds=5)))


def _bpe_duckdb(pdf, sql: str) -> list:
    import duckdb

    con = duckdb.connect()
    try:
        con.register("docs", pdf)
        return con.execute(sql).fetchall()
    finally:
        con.close()


def test_bpe_merge_candidates_hand_counted(spark):
    from ontario_spark.operators.textops import bpe_merge_candidates

    df = spark.createDataFrame(
        [(1, "aba aba cd"), (2, "ab e")], ["doc_id", "text"]
    )
    # word freqs: aba=2, cd=1, ab=1 ('e' dropped: length < 2)
    # pairs: aba -> ab, ba (x2 each); cd -> cd; ab -> ab
    out = {r.pair: (r.merge_rank, r.pair_count) for r in
           bpe_merge_candidates(df, "text", k=10).collect()}
    assert out["ab"] == (1, 3)
    assert out["ba"] == (2, 2)
    assert out["cd"] == (3, 1)
    assert len(out) == 3

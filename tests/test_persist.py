"""Persistence lifecycle (``ontario_spark.persist``): every frame an
operator persists is released by its ``pinned()`` scope or held by a
bounded ``FrameCache``, across repeated calls in one session."""

from __future__ import annotations

import sys
import threading

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from ontario_spark import persist
from ontario_spark.operators import dedup, graph, retrieval, similarity

CACHES = (persist.INTERMEDIATES, persist.INDEXES)


def _live(df) -> bool:
    return not persist._dropped(df)


def _cache_owned() -> set[int]:
    return {
        id(f)
        for c in CACHES
        for entry in list(c._entries.values())
        for f in persist._frames(entry)
    }


@pytest.fixture
def persisted_frames(monkeypatch):
    """Every frame ``persist()``-ed while the test runs."""
    seen: list = []
    orig = DataFrame.persist

    def record(self, *args, **kwargs):
        seen.append(self)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", record)
    return seen


def _assert_owned(seen) -> None:
    owned = _cache_owned()
    leaked = [df for df in seen if id(df) not in owned and _live(df)]
    assert not leaked, f"{len(leaked)} persisted frame(s) outlived their scope"
    for c in CACHES:
        assert len(c) <= c.bound


@pytest.fixture(scope="module")
def frames(spark):
    # tiny inputs: two shuffle partitions keep the per-round jobs cheap
    width = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (5, 6)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (5,)], "node long")
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "a slow green turtle walks under the busy bridge"),
            (4, "quick brown foxes and lazy dogs share a field"),
        ],
        "id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float((i * j) % 7 - 3) + 0.1 * j for j in range(8)]) for i in range(16)],
        "vec_id long, embedding array<float>",
    )
    yield edges, seeds, docs, vecs
    spark.conf.set("spark.sql.shuffle.partitions", width)


def _families(frames):
    edges, seeds, docs, vecs = frames
    chain = edges.sparkSession.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long"
    )

    def cc_error():
        with pytest.raises(graph.ClosureError):
            graph.connected_components(chain, max_iter=1)

    return {
        "closure": lambda: graph.transitive_closure(chain).count(),
        "cc": lambda: graph.connected_components(edges).count(),
        "cc_error": cc_error,
        "pagerank": lambda: graph.pagerank(edges, iters=2).count(),
        "ppr": lambda: graph.personalized_pagerank(edges, seeds, iters=2).count(),
        "bfs": lambda: graph.bfs_depths(edges, seeds, max_depth=3).count(),
        "kcore": lambda: graph.kcore(edges, k=2).count(),
        "dedup_join": lambda: dedup.minhash_lsh_pairs(
            docs, "id", "text", threshold=0.3
        ).count(),
        "bm25": lambda: retrieval.bm25_scores(
            docs, "id", "text", ["quick", "fox"]
        ).count(),
        "rm3": lambda: retrieval.rm3_topk(
            docs, "id", "text", ["quick"], fb_docs=2, k=3
        ).count(),
        "ivf_pq": lambda: similarity.ivfpq_topk(
            vecs, vecs.limit(3), k=2, n_centroids=4, n_lists=2, n_probe=2
        ).count(),
    }


FAMILIES = [
    "closure", "cc", "cc_error", "pagerank", "ppr", "bfs", "kcore",
    "dedup_join", "bm25", "rm3", "ivf_pq",
]


@pytest.mark.parametrize("family", FAMILIES)
def test_operator_releases_what_it_persists(frames, persisted_frames, family):
    run = _families(frames)[family]
    for _ in range(2):
        run()
        _assert_owned(persisted_frames)


def test_pinned_releases_on_exception(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with persist.pinned():
            kept = persist.pin(spark.range(10), truncate=False)
            assert _live(kept)
            raise RuntimeError("boom")
    assert not _live(kept)


def test_partition_keeping_pin_needs_a_scope(spark):
    with pytest.raises(RuntimeError):
        persist.pin(spark.range(3), truncate=False)


def test_truncating_pin_fallback_outside_a_scope_is_cache_owned(
    spark, monkeypatch, persisted_frames
):
    """When ``localCheckpoint`` raises outside a ``pinned()`` scope, the
    persisted fallback belongs to a ``FrameCache``, not to nobody."""

    def refuse(self, *args, **kwargs):
        raise RuntimeError("checkpoint rewrite failed")

    monkeypatch.setattr(DataFrame, "localCheckpoint", refuse)
    pinned = persist.pin(spark.range(4), truncate=True)
    assert pinned.count() == 4 and _live(pinned)
    assert id(pinned) in _cache_owned()
    _assert_owned(persisted_frames)


def test_bm25_rebuilds_per_doc_frame_after_clear_cache(spark, frames):
    """``clearCache()`` drops a frame's data while ``is_cached`` stays
    true; a cache hit must persist the frame again rather than hand
    every consumer an uncached plan."""
    docs = frames[2]
    terms = ["quick", "fox"]
    key = ("bm25_per_doc", docs, "id", "text", tuple(terms))
    first = sorted(retrieval.bm25_scores(docs, "id", "text", terms).collect())
    per_doc = persist.INDEXES._entries[key]
    spark.catalog.clearCache()
    assert per_doc.is_cached and not _live(per_doc)
    second = sorted(retrieval.bm25_scores(docs, "id", "text", terms).collect())
    assert persist.INDEXES._entries[key] is per_doc
    assert _live(per_doc)
    assert first == second


def test_frame_cache_build_race_keeps_one_frame(spark):
    """Threads racing on one cold key all get the winner's frame, which
    stays persisted; no loser's frame is ever persisted, and the cache
    stays within its bound."""
    cache = persist.FrameCache(2)
    built: list = []
    lock = threading.Lock()

    def build():
        df = spark.range(5)
        with lock:
            built.append(df)
        return df

    results: list = []
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        workers = [
            threading.Thread(target=lambda: results.append(cache.get("k", build)))
            for _ in range(8)
        ]
        for w in workers:
            w.start()
        for w in workers:
            w.join(timeout=60)
        assert not any(w.is_alive() for w in workers)
    finally:
        sys.setswitchinterval(interval)
    winner = results[0]
    assert len(results) == 8 and all(r is winner for r in results)
    assert _live(winner)
    assert [df for df in built if df is not winner and df.is_cached] == []
    for key in ("a", "b"):
        cache.get(key, lambda: spark.range(2))
    assert len(cache) == 2 and not _live(winner)  # evicted and released

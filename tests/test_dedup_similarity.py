"""Semantic invariants for the non-SQL-expressible operators (the ones
the driver checks rows-only): MinHash-LSH and SimHash, plus recall
cross-checks between approximate and exact paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontario_spark.data import table
from ontario_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return table(spark, sf_small, "documents")


def _planted(spark):
    """Corpus with planted near-duplicates (the synthetic docs are all
    distinct, so plant our own)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different words about spark queries and shuffles here"),
        (5, "another unrelated document mentioning joins aggregates and scans"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_lsh_finds_planted_dups(spark):
    df = _planted(spark)
    pairs = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", num_hashes=16, bands=8, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found  # exact dup must be found at est=1.0
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}
    assert est[(1, 2)] == 1.0
    # near dup (one word changed) should bucket together with 8 bands
    assert (1, 3) in found and (2, 3) in found
    # unrelated docs must not pair
    assert not any(4 in p or 5 in p for p in found)


def test_lsh_candidates_subset_of_exact_jaccard(spark, docs):
    """Every LSH pair at high threshold must also appear in the exact
    n-gram Jaccard join at a lower threshold (LSH estimates the same
    quantity)."""
    lsh = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", num_hashes=16, bands=4, threshold=0.75
    )
    exact = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3)
    lsh_pairs = {(r.id_a, r.id_b) for r in lsh.collect()}
    exact_pairs = {(r.id_a, r.id_b) for r in exact.collect()}
    assert lsh_pairs <= exact_pairs


def test_simhash_similar_docs_close(spark):
    df = _planted(spark)
    fp = {r.doc_id: r.simhash for r in dedup.simhash(df, "doc_id", "text").collect()}
    assert fp[1] == fp[2]  # identical text → identical fingerprint

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(fp[1], fp[3]) < hamming(fp[1], fp[4])


def test_simhash_deterministic(spark, docs):
    a = dedup.simhash(docs.limit(50), "doc_id", "text").collect()
    b = dedup.simhash(docs.limit(50), "doc_id", "text").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_bucketed_topk_recall_vs_bruteforce(spark, sf_small):
    emb = table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    bf = similarity.brute_force_topk(emb, queries, k=3).collect()
    bk = similarity.bucketed_topk(emb, queries, k=3, bits=4).collect()
    # bucketed is ANN: per query it can only do as well as exact search,
    # never better, and must answer every query (a query always shares
    # its own bucket)
    assert {r.query_id for r in bk} == {r.query_id for r in bf}
    bf_best = {r.query_id: r.score for r in bf if r.rank == 1}
    bk_best = {r.query_id: r.score for r in bk if r.rank == 1}
    for qid, s in bk_best.items():
        assert s <= bf_best[qid] + 1e-12
    assert all(1 <= r.rank <= 3 for r in bk)


def test_anchor_jaccard_recall_and_exact_scores(spark, sf_small):
    """The round-11 bounded registry tier: anchor-candidate Jaccard
    must emit a SUBSET of the exact self-join's pairs (candidates can
    only miss, never invent) with IDENTICAL scores on shared pairs,
    and at the default k=16 the miss probability per true pair is
    ≤1e-6 — so on this fixture the recall is exactly 1."""
    docs = table(spark, sf_small, "documents")
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 12)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.35, max_doc_freq=1000
        ).collect()
    }
    anch = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 12)
        for r in dedup.anchor_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.35
        ).collect()
    }
    assert exact  # fixture must contain near-dups or this test is vacuous
    assert anch == exact  # full recall AND exact scores at fixture scale


def test_anchor_jaccard_tight_k_still_subset(spark, sf_small):
    """Starving the sketch (k=1) degrades recall but NEVER correctness:
    every emitted pair is still exact-verified, so scores match the
    exact join's on whatever survives."""
    docs = table(spark, sf_small, "documents")
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 12)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.35, max_doc_freq=1000
        ).collect()
    }
    tight = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 12)
        for r in dedup.anchor_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.35, k_anchors=1
        ).collect()
    }
    assert set(tight) <= set(exact)
    assert all(exact[p] == s for p, s in tight.items())


def test_highrecall_banded_jaccard_vs_exact(spark, sf_small):
    """The round-11 registry tier for dedup_ngram_jaccard: 24 two-row
    bands + exact verify. Candidates can only miss, never invent —
    emitted pairs are a subset of the exact join's with IDENTICAL
    scores — and at 1-(1-J²)²⁴ the measured recall on the fixture's
    pair population must clear 0.9 (it is 1.0 on this fixture)."""
    docs = table(spark, sf_small, "documents")
    exact = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 12)
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.35, max_doc_freq=1000
        ).collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 12)
        for r in dedup.lsh_verified_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.35,
            num_hashes=48, bands=24,
        ).collect()
    }
    assert exact
    assert set(banded) <= set(exact)
    assert all(exact[p] == s for p, s in banded.items())
    assert len(banded) / len(exact) >= 0.9


def test_prefix_jaccard_complete_vs_exact(spark, sf_small):
    """The prefix-filtering theorem in practice: the candidate-pruned
    join must return EXACTLY the exact self-join's pairs (complete
    recall, identical scores) — unlike the df-capped or MinHash tiers,
    this tier is lossless by construction."""
    docs = table(spark, sf_small, "documents")
    exact = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    pref = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 12))
        for r in dedup.prefix_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    assert exact  # fixture must contain near-dups or this test is vacuous
    assert pref == exact


def test_record_link_scores_fellegi_sunter(spark):
    """FS semantics: a pair with one disagreeing field still links when
    agreement elsewhere outweighs it; a pair below threshold doesn't;
    composite blocking never pairs records from different blocks."""
    rows = [
        # near-identical except size (numeric disagree) — links
        (1, "acme rocket skates", "B1", 10),
        (2, "acme rocket skatez", "B1", 99),
        # same name, different block — NEVER a candidate
        (3, "acme rocket skates", "B2", 10),
        # same block, name too far — scores below threshold
        (4, "zzz completely other", "B1", 10),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "brand", "size"])
    got = dedup.record_link_scores(
        df,
        "id",
        "name",
        name_weights=(4.0, -2.0),
        max_dist=2,
        exact_fields=[("brand", 3.0, -1.5)],
        numeric_fields=[("size", 2, 1.5, -0.75)],
        threshold=6.0,
        block_col="brand",
    ).collect()
    links = {(r["id_a"], r["id_b"]): r for r in got}
    assert set(links) == {(1, 2)}
    r = links[(1, 2)]
    # name agrees (dist 1), brand agrees, size disagrees: 4+3-0.75
    assert r["score"] == 6.25 and r["n_agree"] == 2 and r["name_dist"] == 1


def test_int8_topk_recall_vs_bruteforce(spark, sf_small):
    """Int8-dot ranking must stay close to exact cosine: recall@3 floor
    pinned (like the IVF/PQ tiers), every query answered, and the
    integer scores must be reproducible run-to-run (exact arithmetic —
    collect twice, identical)."""
    emb = table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(emb, queries, k=3)
    quant = similarity.int8_topk(emb, queries, k=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = quant.collect()
    q8 = {(r["query_id"], r["neighbor_id"]) for r in a}
    assert {r.query_id for r in a} == {t[0] for t in e}
    recall = len(e & q8) / len(e)
    assert recall >= 0.5, recall
    b = quant.collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_int8_quantize_bounds(spark, sf_small):
    """Codes live in [-127, 127]; the max-|x| dimension quantizes to
    exactly ±127 (floor of an exact ±127.0 quotient); zero vectors
    would code to all-zeros (guard path)."""
    q = similarity.int8_quantize(table(spark, sf_small, "embeddings"))
    rows = q.select(
        "vec_id",
        F.array_min("codes").alias("lo"),
        F.array_max("codes").alias("hi"),
        F.col("maxabs"),
    ).collect()
    assert rows
    for r in rows:
        assert -127 <= r["lo"] <= r["hi"] <= 127
        if r["maxabs"] > 0:
            assert r["hi"] == 127 or r["lo"] == -127


# --- IVF ANN + multimodal feature composition ----------------------------


def test_ivf_topk_recall_vs_bruteforce(spark, sf_small):
    from ontario_spark.data import table
    from ontario_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = table(spark, sf_small, "embeddings")
    queries = emb.orderBy("vec_id").limit(5)
    exact = brute_force_topk(emb, queries, k=3)
    approx = ivf_topk(emb, queries, k=3, n_lists=8, n_probe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(a) == len(e)  # k results per query
    recall = len(e & a) / len(e)
    assert recall >= 0.5, recall


def test_ivf_deterministic(spark, sf_small):
    from ontario_spark.data import table
    from ontario_spark.operators.similarity import ivf_topk

    emb = table(spark, sf_small, "embeddings")
    queries = emb.orderBy("vec_id").limit(3)
    r1 = sorted(map(tuple, ivf_topk(emb, queries, k=2).collect()))
    r2 = sorted(map(tuple, ivf_topk(emb, queries, k=2).collect()))
    assert r1 == r2


def test_frame_sample_fanout_and_reassembly(spark, sf_small):
    from ontario_spark.data import table
    from ontario_spark.operators.multimodal import frame_sample, media_from_text
    from pyspark.sql import functions as F

    docs = table(spark, sf_small, "documents").limit(50)
    media = media_from_text(docs, "doc_id", "text")
    frames = frame_sample(media, n_frames=4)
    # concatenating a media's frames in order reassembles the payload
    joined = (
        frames.groupBy("media_id")
        .agg(
            F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list(F.struct("frame_idx", "frame"))), lambda s: s["frame"].cast("string"))
            ).alias("rebuilt"),
            F.count(F.lit(1)).alias("n"),
        )
        .join(media, "media_id")
    )
    bad = joined.filter(
        F.col("rebuilt") != F.col("payload").cast("string")
    ).count()
    assert bad == 0
    assert joined.filter(F.col("n") > 4).count() == 0


def test_extract_features_compose_with_ann(spark, sf_small):
    from ontario_spark.data import table
    from ontario_spark.operators.multimodal import extract_features, media_from_text
    from ontario_spark.operators.similarity import brute_force_topk
    from pyspark.sql import functions as F

    docs = table(spark, sf_small, "documents").limit(100)
    feats = extract_features(media_from_text(docs, "doc_id", "text"))
    # histogram normalized
    s = feats.select(F.aggregate("features", F.lit(0.0), lambda a, x: a + x).alias("s"))
    assert s.filter((F.col("s") < 0.999) | (F.col("s") > 1.001)).count() == 0
    # composes with the ANN operator (media → embedding → top-k)
    corpus = feats.select(F.col("media_id").alias("vec_id"), F.col("features").alias("embedding"))
    out = brute_force_topk(corpus, corpus.limit(3), k=2)
    assert out.count() == 6


def test_ngram_jaccard_doc_freq_cap_bounds_candidates(spark):
    """A stopword shingle shared by every document generates all-pairs
    candidates without the cap; with it, the ubiquitous shingle is
    dropped before the self-join and the candidate stream is bounded."""
    from ontario_spark.operators.dedup import ngram_jaccard_pairs

    docs = [(i, f"aaa bbb ccc u{i}a u{i}b u{i}c") for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.01)
    assert uncapped.count() == 20 * 19 // 2  # all-pairs via 'aaa bbb ccc'

    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.01, max_doc_freq=5
    )
    assert capped.count() == 0  # shared shingle df=20 > 5 -> dropped

    # true near-dups still found: their overlap is in rare shingles
    near = [(100, "xxx yyy zzz www vvv"), (101, "xxx yyy zzz www qqq")]
    df2 = spark.createDataFrame(docs + near, "doc_id long, text string")
    got = ngram_jaccard_pairs(df2, "doc_id", "text", threshold=0.4, max_doc_freq=5)
    assert {(r["id_a"], r["id_b"]) for r in got.collect()} == {(100, 101)}


def test_image_metadata_parses_real_headers(spark):
    """PNG IHDR and JPEG SOF headers are parsed from raw bytes — no
    codec library involved; unknown payloads get NULL dims."""
    import struct

    from ontario_spark.operators.multimodal import image_metadata

    def png(w, h):
        return (
            b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
        )

    def jpeg(w, h):
        # SOI + APP0 stub + SOF0 with dims + EOI
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
        return b"\xff\xd8" + app0 + sof + b"\xff\xd9"

    def gif(w, h):
        # header + logical screen descriptor (LE dims) + trailer
        return (
            b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x3b"
        )

    rows = [
        (1, "image", png(640, 480)),
        (2, "image", jpeg(1920, 1080)),
        (3, "image", b"not an image at all"),
        (4, "image", gif(320, 200)),
        (5, "image", b"GIF89a\x40"),  # truncated before the descriptor
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary"
    )
    got = {r["media_id"]: (r["format"], r["width"], r["height"])
           for r in image_metadata(media).collect()}
    assert got[1] == ("png", 640, 480)
    assert got[2] == ("jpeg", 1920, 1080)
    assert got[3] == (None, None, None)
    assert got[4] == ("gif", 320, 200)
    assert got[5] == (None, None, None)


def test_jpeg_scan_fill_bytes_and_post_sos_garbage():
    """Round-3 advice: 0xFF fill bytes must be skipped (not parsed as a
    zero-length segment), and scanning must STOP at SOS/EOI — marker-
    like byte pairs inside entropy-coded data after SOS are not
    segments, so a truncated payload yields (None,)*3, not garbage."""
    import struct

    from ontario_spark.operators.multimodal import parse_image_header

    sof = (
        b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
        + struct.pack(">HH", 480, 640) + b"\x03" + b"\x00" * 9
    )
    # fill bytes (FF FF FF) before a real SOF marker: still parsed
    filled = b"\xff\xd8" + b"\xff\xff" + sof + b"\xff\xd9"
    assert parse_image_header(filled) == ("jpeg", 640, 480)
    # truncated: SOS then entropy data containing a fake SOF pair —
    # must NOT be read as dimensions
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x00" * 6
    fake_sof_in_data = b"\xff\xc1" + struct.pack(">H", 17) + b"\x99" * 20
    truncated = b"\xff\xd8" + sos + fake_sof_in_data
    assert parse_image_header(truncated) == (None, None, None)


def test_pipeline_operators_handle_empty_corpus(spark):
    """Empty partitions/corpora are routine at lake scale (a filter can
    eliminate everything); every operator must return an empty result
    with the right schema, not fail."""
    from ontario_spark.operators import dedup, textops
    from ontario_spark.operators.packing import pack_sequences

    empty = spark.createDataFrame([], "doc_id long, text string, n_chars int")
    assert dedup.exact_dedup(empty, "doc_id", "text").count() == 0
    assert dedup.ngram_jaccard_pairs(
        empty, "doc_id", "text", max_doc_freq=5
    ).count() == 0
    assert dedup.minhash_lsh_pairs(empty, "doc_id", "text").count() == 0
    assert dedup.simhash(empty, "doc_id", "text").count() == 0
    assert textops.token_stats(empty, "doc_id", "text").count() == 0
    assert textops.lang_id(empty, "doc_id", "text").count() == 0
    assert textops.fingerprint(empty, "doc_id", "text").count() == 0
    out = pack_sequences(empty, "doc_id", "n_chars", budget=100)
    assert out.count() == 0
    assert set(out.columns) == {"doc_id", "shard", "bin", "offset"}
    assert dedup.remove_boilerplate(empty, "doc_id", "text").count() == 0
    assert dedup.fuzzy_string_pairs(empty, "text").count() == 0


def test_temporal_joins_handle_empty_sides(spark):
    from ontario_spark.operators.asof import asof_join, range_join

    left = spark.createDataFrame(
        [(1, __import__("datetime").datetime(2024, 1, 1), 5.0)],
        "k int, ts timestamp, v double",
    )
    empty = spark.createDataFrame([], "k int, ts timestamp, v double")
    # empty right: left rows survive with NULL payload
    rows = asof_join(left, empty, on="k").collect()
    assert len(rows) == 1 and rows[0]["r_v"] is None
    # empty left: no rows, full schema
    out = asof_join(empty, left, on="k")
    assert out.count() == 0
    assert "r_v" in out.columns
    assert range_join(left, empty, on="k").count() == 0
    assert range_join(empty, left, on="k").count() == 0


# --- hyperplane LSH (round 4: replaces sign-of-leading-dims) -------------


def test_hyperplane_buckets_mix_all_dims(spark, sf_small):
    """Random projections must not key on leading dims only: two
    vectors equal in their first 8 dims but different elsewhere should
    (generically) land in different buckets."""
    from ontario_spark.operators.similarity import hyperplane_lsh_bucket

    rows = [
        (1, [1.0] * 8 + [5.0] * 56),
        (2, [1.0] * 8 + [-5.0] * 56),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["b"]
        for r in df.select(
            "vec_id",
            hyperplane_lsh_bucket("embedding", dim=64, bits=8).alias("b"),
        ).collect()
    }
    assert got[1] != got[2]


def test_neardup_bucket_cap_bounds_fanout(spark):
    """max_bucket_size policies on a planted hot bucket (many identical
    vectors): 'drop' removes it entirely (round-4 behavior); 'split'
    (round-5 default, after the 10x probe caught drop discarding the
    whole corpus) subdivides it into salted sub-buckets — bounded
    fan-out, partial recall instead of zero. Normal pairs survive
    either way."""
    from ontario_spark.operators.similarity import (
        hyperplane_lsh_bucket,
        neardup_pairs,
    )

    hot = [(i, [1.0, 2.0, 3.0, 4.0] * 16) for i in range(40)]
    pair = [(100, [9.0, -1.0, 2.0, 0.5] * 16), (101, [9.0, -1.0, 2.0, 0.5] * 16)]
    df = spark.createDataFrame(hot + pair, "vec_id long, embedding array<float>")
    buckets = (
        df.select(hyperplane_lsh_bucket("embedding", 64, 4).alias("b"))
        .groupBy("b").count().filter(F.col("count") > 10).count()
    )
    assert buckets >= 1  # the planted hot bucket really is over cap

    dropped = neardup_pairs(
        df, threshold=0.5, bits=4, dim=64, max_bucket_size=10, hot_bucket="drop"
    ).collect()
    ids = {r["id_a"] for r in dropped} | {r["id_b"] for r in dropped}
    assert ids == {100, 101}  # hot bucket (40 > cap) dropped, pair kept

    split = neardup_pairs(
        df, threshold=0.5, bits=4, dim=64, max_bucket_size=10
    ).collect()
    split_ids = {r["id_a"] for r in split} | {r["id_b"] for r in split}
    assert {100, 101} <= split_ids  # normal pair still there
    assert split_ids & set(range(40))  # hot-bucket recall no longer zero
    # fan-out bound: ceil(40/10)=4 sub-buckets of ~10 → ≤ 4·C(10.. ,2)
    # pairs from the hot bucket, far under the uncapped C(40,2)=780
    n_hot = sum(
        1 for r in split if r["id_a"] in range(40) and r["id_b"] in range(40)
    )
    assert 0 < n_hot < 40 * 39 / 2 / 2
    # under-cap corpora: split is the IDENTITY (one sub-bucket) —
    # results equal the uncapped run
    small = [(i, [float(i % 7) + 1, 2.0, -1.0, 0.5] * 16) for i in range(12)]
    sdf = spark.createDataFrame(small, "vec_id long, embedding array<float>")
    capped = neardup_pairs(sdf, threshold=0.0, bits=4, dim=64, max_bucket_size=500)
    uncapped = neardup_pairs(sdf, threshold=0.0, bits=4, dim=64)
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, uncapped.collect())
    )


def test_minhash_bucket_cap_bounds_fanout(spark):
    """Round-5 (mirrors neardup_pairs): a duplicate-heavy corpus —
    many identical docs landing in ONE bucket in EVERY band — must not
    fan out m²/2 candidates when max_bucket_size caps it. 'drop'
    removes the hot group outright; 'split' (default) keeps bounded
    partial recall. Distinct near-dup pairs in normal buckets survive
    either way."""
    from ontario_spark.operators.dedup import minhash_lsh_pairs

    hot = [(i, "the same boilerplate line repeated everywhere") for i in range(40)]
    pair = [
        (100, "a genuinely distinctive document about spark shuffles"),
        (101, "a genuinely distinctive document about spark shuffled"),
    ]
    df = spark.createDataFrame(hot + pair, "doc_id long, text string")
    dropped = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.3, max_bucket_size=10,
        hot_bucket="drop",
    ).collect()
    ids = {r["id_a"] for r in dropped} | {r["id_b"] for r in dropped}
    assert 100 in ids and 101 in ids  # normal near-dup pair kept
    assert not (ids & set(range(40)))  # hot-bucket docs dropped

    split = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.3, max_bucket_size=10
    ).collect()
    split_ids = {r["id_a"] for r in split} | {r["id_b"] for r in split}
    assert {100, 101} <= split_ids
    assert split_ids & set(range(40))  # partial hot-group recall
    n_hot = sum(
        1 for r in split if r["id_a"] in range(40) and r["id_b"] in range(40)
    )
    assert 0 < n_hot < 40 * 39 / 2 / 2  # far below uncapped C(40,2)

    # uncapped, the hot bucket pairs all 40 duplicates
    full = minhash_lsh_pairs(df, "doc_id", "text", threshold=0.3).collect()
    full_ids = {r["id_a"] for r in full} | {r["id_b"] for r in full}
    assert set(range(40)) <= full_ids
    # under-cap corpora: the cap is the identity
    capped = minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.3, max_bucket_size=500
    ).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, full))


def test_ivf_invariant_to_input_order(spark, sf_small):
    """The quantizer trains on an md5-ordered sample, so IVF results
    must be identical whether the corpus arrives sorted, reversed, or
    repartitioned (round-3 verdict: limit() sampled the first
    partitions — a biased, order-dependent slice)."""
    from ontario_spark.data import table
    from ontario_spark.operators.similarity import ivf_topk

    emb = table(spark, sf_small, "embeddings")
    queries = emb.orderBy("vec_id").limit(3)
    base = sorted(map(tuple, ivf_topk(emb, queries, k=2).collect()))
    shuffled = emb.orderBy(F.desc("vec_id")).repartition(7)
    got = sorted(map(tuple, ivf_topk(shuffled, queries, k=2).collect()))
    assert base == got


# --- contamination ------------------------------------------------------


def test_contamination_overlap_counts(spark):
    from ontario_spark.operators.dedup import contamination_overlap

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e"),      # shingles: abc bcd cde
            (2, "x y z w"),        # shingles: xyz yzw
            (3, "a b c q r s"),    # shingles: abc bcq cqr qrs
        ],
        schema="doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "a b c d")],  # shingles: abc bcd
        schema="doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_shingles"], r["n_hits"], r["overlap"])
        for r in contamination_overlap(
            corpus, bench, "doc_id", "text", threshold=0.0
        ).collect()
    }
    assert rows[1] == (3, 2, round(2 / 3, 6))
    assert rows[2] == (2, 0, 0.0)
    assert rows[3] == (4, 1, 0.25)


def test_contamination_threshold_filters(spark):
    from ontario_spark.operators.dedup import contamination_overlap

    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w")], schema="doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [(9, "a b c d e")], schema="doc_id long, text string"
    )
    out = contamination_overlap(corpus, bench, "doc_id", "text", threshold=0.5)
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_frequent_terms_ranks(spark):
    from ontario_spark.operators.textops import frequent_terms

    df = spark.createDataFrame(
        [(1, "b a a"), (2, "a B c"), (3, "b")],
        schema="doc_id long, text string",
    )
    got = [tuple(r) for r in frequent_terms(df, "doc_id", "text", k=2).collect()]
    # a: 3 occurrences in 2 docs; b: 3 in 3 docs (lowercased) -> tie, term asc
    assert got == [("a", 1, 3, 2), ("b", 2, 3, 3)]


def test_repetition_stats_values(spark):
    from ontario_spark.operators.textops import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),  # tokens 5 distinct 2; 2grams: ab ba ab ba -> 4/2; 3grams: aba bab aba -> 3/2
            (2, "x y z"),      # no repetition
            (3, "q q"),        # 2 tokens 1 distinct; 1 2gram; no 3gram
        ],
        schema="doc_id long, text string",
    )
    rows = {r["doc_id"]: r.asDict() for r in repetition_stats(df, "doc_id", "text").collect()}
    assert rows[1]["dup_token_frac"] == 0.6
    assert rows[1]["dup_2gram_frac"] == 0.5
    assert rows[1]["dup_3gram_frac"] == round(1 / 3, 6)
    assert rows[2]["dup_token_frac"] == 0.0 and rows[2]["dup_3gram_frac"] == 0.0
    assert rows[3]["dup_token_frac"] == 0.5 and rows[3]["dup_2gram_frac"] == 0.0


def test_keep_best_picks_by_ordering(spark):
    from pyspark.sql import functions as F

    from ontario_spark.operators.dedup import keep_best

    df = spark.createDataFrame(
        [
            (1, "same text", 9),
            (2, "same text", 20),   # longest copy wins
            (3, "same text", 20),   # tie -> lowest id
            (4, "unique", 6),
        ],
        schema="doc_id long, text string, n_chars long",
    )
    out = {
        r["doc_id"]: r["n_copies"]
        for r in keep_best(
            df, "doc_id", "text", order=[F.desc("n_chars"), F.asc("doc_id")]
        ).collect()
    }
    assert out == {2: 3, 4: 1}


# --- product quantization ----------------------------------------------


def test_pq_roundtrip_and_recall(spark, sf_small):
    from ontario_spark.data import table
    from ontario_spark.operators.similarity import (
        brute_force_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = table(spark, sf_small, "embeddings")
    queries = emb.filter("vec_id < 3")
    # 16 subspaces x 16 centroids = 16 bytes/vector (16x compression
    # vs float32) — recall 0.78 on the fixture with 8x rerank
    books = pq_codebooks(emb, m=16, k=16)
    assert len(books) == 16 and len(books[0]) == 16
    codes = pq_encode(emb, books)
    crow = codes.first()
    assert {f"code{j}" for j in range(16)} <= set(codes.columns)
    assert all(0 <= crow[f"code{j}"] < 16 for j in range(16))

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(
            emb, queries, k=3, rerank=8, books=books, codes=codes
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_pq_deterministic(spark, sf_small):
    from ontario_spark.data import table
    from ontario_spark.operators.similarity import pq_codebooks, pq_topk

    emb = table(spark, sf_small, "embeddings")
    queries = emb.filter("vec_id < 2")
    b1 = pq_codebooks(emb, m=4, k=16)
    # shuffled input -> identical codebooks (md5-ordered sample)
    b2 = pq_codebooks(emb.orderBy(F.desc("vec_id")), m=4, k=16)
    assert b1 == b2
    r1 = sorted(map(tuple, pq_topk(emb, queries, k=2, books=b1).collect()))
    r2 = sorted(map(tuple, pq_topk(emb, queries, k=2, books=b2).collect()))
    assert r1 == r2


def test_pq_no_python_in_encode_plan(spark, sf_small):
    from ontario_spark.data import table
    from ontario_spark.operators.similarity import pq_codebooks, pq_encode

    emb = table(spark, sf_small, "embeddings")
    books = pq_codebooks(emb, m=4, k=16)
    plan = pq_encode(emb, books)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pq_query_path_stays_off_the_driver(spark, sf_small):
    """Round-5 fix: with precomputed books+codes, building the pq/ivfpq
    query plan must launch ZERO Spark jobs — the round-4 form collected
    every query row to the driver to build ADC tables, putting the
    driver on the per-query path. Probed with a 10^4-row synthetic
    query batch under a dedicated job group."""
    from ontario_spark.data import table
    from ontario_spark.operators.similarity import (
        ivfpq_topk,
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    emb = table(spark, sf_small, "embeddings")
    books = pq_codebooks(emb, m=4, k=16)
    codes = pq_encode(emb, books)
    big_queries = spark.range(10_000).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), i -> CAST(sin(id * 64 + i) AS FLOAT))"
        ).alias("embedding"),
    )
    sc = spark.sparkContext
    group = "pq-plan-build-probe"
    sc.setJobGroup(group, "assert no jobs during plan construction")
    try:
        df = pq_topk(emb, big_queries, k=3, books=books, codes=codes)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert df.columns == ["query_id", "neighbor_id", "rank", "score"]
    finally:
        sc.setJobGroup("", "")
    # ivfpq additionally needs the (cached-offline) coarse quantizer;
    # build it first, then the query-path construction must also be lazy
    ivfpq_topk(emb, emb.filter("vec_id < 2"), books=books, codes=codes).first()
    sc.setJobGroup(group + "2", "ivfpq plan construction")
    try:
        df2 = ivfpq_topk(emb, big_queries, k=3, books=books, codes=codes)
        assert sc.statusTracker().getJobIdsForGroup(group + "2") == []
        assert df2.columns == ["query_id", "neighbor_id", "rank", "score"]
    finally:
        sc.setJobGroup("", "")


def test_ivfpq_recall_and_plan(spark, sf_small):
    """IVF×PQ recall must not fall below the full-scan PQ path on the
    fixture (the verdict's bar), and the candidate join must be the
    cell-pruned equality join, not a cross join of the full code
    table."""
    from ontario_spark.data import table
    from ontario_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
        pq_topk,
    )

    emb = table(spark, sf_small, "embeddings")
    queries = emb.filter("vec_id < 3")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(emb, queries, k=3, m=16, rerank=8).collect()
    }
    ivfpq = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            emb, queries, k=3, m=16, rerank=8, n_lists=8, n_probe=8
        ).collect()
    }
    # n_probe = n_lists probes everything -> must match full-scan PQ
    assert ivfpq == pq
    pruned = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(
            emb, queries, k=3, m=16, rerank=8, n_lists=8, n_probe=3
        ).collect()
    }
    recall_pq = len(exact & pq) / len(exact)
    recall_pruned = len(exact & pruned) / len(exact)
    assert recall_pruned >= recall_pq - 0.34  # at most one lost neighbor
    plan = ivfpq_topk(
        emb, queries, k=3, m=16, rerank=8, n_lists=8, n_probe=3
    )._jdf.queryExecution().optimizedPlan().toString()
    # the code-table candidate join keys on the probed cell
    assert "cell" in plan


def test_pii_scan_detects_and_redacts(spark):
    """pii_scan (round 5): planted PII of each category is counted and
    redacted; clean text scores zero; redaction applies in declared
    order (an email with an IP-shaped domain is consumed by [EMAIL])."""
    from ontario_spark.operators.textops import pii_scan

    rows = [
        (1, "write to alice.smith+x@corp.example.org or bob@1.2.3.4 today"),
        (2, "server 192.168.0.12 and 10.0.0.1 rebooted"),
        (3, "ssn 123-45-6789 phone +4915123456789 done"),
        (4, "perfectly clean text with numbers 1234 and words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in pii_scan(df, "doc_id", "text").collect()}
    # bob@1.2.3.4 is NOT an email (no alphabetic TLD) — its numeric
    # domain is instead flagged as an IPv4
    assert out[1]["n_email"] == 1 and out[1]["n_ipv4"] == 1
    assert out[2]["n_ipv4"] == 2 and out[2]["n_email"] == 0
    assert out[3]["n_ssn"] == 1 and out[3]["n_phone"] == 1
    assert out[4]["n_pii"] == 0
    assert out[1]["n_pii"] == 2 and out[3]["n_pii"] == 2
    # redacted hash equals the hash of the expected redacted text
    import hashlib

    exp = "write to [EMAIL] or bob@[IPV4] today"
    assert out[1]["redacted_hash"] == hashlib.md5(exp.encode()).hexdigest()
    # clean text: hash unchanged
    assert out[4]["redacted_hash"] == hashlib.md5(rows[3][1].encode()).hexdigest()


def test_pii_counts_are_sequential_no_double_count(spark):
    """A span matching two categories is counted once: a phone shape
    inside an email's local part is consumed by [EMAIL] before the
    phone pass, so n_pii equals the number of tags in the redacted
    text (review fix, round 5)."""
    from ontario_spark.operators.textops import pii_scan

    df = spark.createDataFrame(
        [(1, "mail a+4915123456789@x.com now")], "doc_id long, text string"
    )
    r = pii_scan(df, "doc_id", "text").collect()[0]
    assert r["n_email"] == 1 and r["n_phone"] == 0
    assert r["n_pii"] == 1
    import hashlib

    assert r["redacted_hash"] == hashlib.md5(b"mail [EMAIL] now").hexdigest()


def test_mm_decode_stats_oracle_is_byte_true(spark):
    """The decode-stats oracle must count UTF-8 BYTES like the Spark
    kernel — non-ASCII and empty documents included (round-5 review
    fix: the old codepoint-based oracle only agreed on pure ASCII)."""
    import duckdb

    from ontario_spark.operators.multimodal import decode_stats, media_from_text
    from ontario_spark.queries.pipeline_suite import MM_DECODE_STATS_SQL

    rows = [(1, "héllo"), (2, ""), (3, "a€ b"), (4, "plain ascii")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["media_id"]: (r["n_bytes"], r["first_byte"], r["byte_sum_mod"])
        for r in decode_stats(media_from_text(df, "doc_id", "text")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    exp = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(MM_DECODE_STATS_SQL).fetchall()
    }
    assert got == exp
    assert got[1][0] == 6  # 'héllo' is six UTF-8 bytes
    assert got[2] == (0, -1, 0)


def test_url_scan_extracts_and_blocks(spark):
    """url_scan (round 5): URLs extracted, domains lower-cased +
    deduped + sorted, blocklist hits counted; no-URL docs score
    zero with an empty domain string."""
    from ontario_spark.operators.textops import url_scan

    rows = [
        (1, "see https://A.com/x and http://b.org/y and https://a.com/z"),
        (2, "spam at http://Bad.example.com/buy?now=1 ok"),
        (3, "no links here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in url_scan(
            df, "doc_id", "text", blocklist=["bad.example.com"]
        ).collect()
    }
    assert out[1]["n_urls"] == 3
    assert out[1]["domains"] == "a.com,b.org"  # lower-cased, deduped, sorted
    assert out[1]["n_blocked"] == 0
    assert out[2]["n_blocked"] == 1
    assert out[3]["n_urls"] == 0 and out[3]["domains"] == ""


def test_containment_catches_subdocument_quote(spark):
    """A short doc quoted verbatim inside a long doc scores containment
    1.0 while Jaccard stays below a useful threshold."""
    short = "alpha beta gamma delta epsilon zeta"
    long = (
        "one two three four five six seven eight nine ten "
        + short
        + " eleven twelve thirteen fourteen fifteen sixteen"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words only here")],
        ["doc_id", "text"],
    )
    cont = dedup.ngram_containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.9
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in cont] == [(1, 2)]
    assert cont[0]["containment"] == 1.0
    jac = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.35
    ).collect()
    assert jac == []  # union denominator hides the quote


def test_semantic_dedup_one_keeper_per_cluster(spark, sf_small):
    out = similarity.semantic_dedup(
        table(spark, sf_small, "embeddings"),
        threshold=0.2,
        bits=4,
        dim=64,
        max_bucket_size=200,
    )
    rows = out.collect()
    n_vecs = table(spark, sf_small, "embeddings").count()
    assert len(rows) == n_vecs  # total: every vector gets a verdict
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        keepers = [r for r in members if r["keep"]]
        assert len(keepers) == 1 and keepers[0]["vec_id"] == cid == min(
            r["vec_id"] for r in members
        )
    assert any(len(m) > 1 for m in by_cluster.values())  # real clusters


def test_chunk_documents_windows_and_edges(spark):
    from ontario_spark.operators import textops

    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame(
        [(1, text), (2, "a b c"), (3, ""), (4, None)], ["doc_id", "text"]
    )
    out = textops.chunk_documents(df, "doc_id", "text", chunk_size=64, overlap=16)
    rows = {(r["doc_id"], r["chunk_id"]): r for r in out.collect()}
    # 100 tokens, step 48 → 2 chunks; overlap region repeats
    assert {k for k in rows if k[0] == 1} == {(1, 0), (1, 1)}
    c0, c1 = rows[(1, 0)], rows[(1, 1)]
    assert c0["n_chunk_tokens"] == 64 and c0["chunk_text"].startswith("t0 ")
    assert c1["n_chunk_tokens"] == 52  # tokens 48..99
    assert c1["chunk_text"].split()[0] == "t48"
    assert c0["chunk_text"].split()[48:] == c1["chunk_text"].split()[:16]
    # short, empty, and NULL docs each yield exactly one chunk
    assert rows[(2, 0)]["chunk_text"] == "a b c"
    assert rows[(3, 0)]["chunk_text"] == "" and rows[(3, 0)]["n_chunk_tokens"] == 1
    assert rows[(4, 0)]["chunk_text"] == ""
    with pytest.raises(ValueError):
        textops.chunk_documents(df, "doc_id", "text", chunk_size=8, overlap=8)


def test_anchor_containment_matches_exact_tier(spark):
    """The two-tier anchor path finds the planted quote pair with the
    SAME exact score the all-pairs tier computes."""
    short = "alpha beta gamma delta epsilon zeta"
    long = (
        "one two three four five six seven eight nine ten "
        + short
        + " eleven twelve thirteen fourteen fifteen sixteen"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words only here")],
        ["doc_id", "text"],
    )
    got = dedup.anchor_containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.9, k_anchors=4
    ).collect()
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in got] == [
        (1, 2, 1.0)
    ]
    # verify_semi_join is a pure physical-plan option: identical output
    semi = dedup.anchor_containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.9, k_anchors=4,
        verify_semi_join=True,
    ).collect()
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in semi] == [
        (1, 2, 1.0)
    ]


def test_anchor_candidate_budget_subset_and_exact_scores(spark, sf_small):
    """The round-12 per-doc candidate budget: a budgeted run emits a
    SUBSET of the unbudgeted anchor tier's pairs (the budget can only
    cut candidates, never invent), scores stay EXACT on every emitted
    pair, and at the registry budget (64) the fixture corpus — whose
    per-doc candidate counts sit far below the budget — is returned
    unchanged."""
    docs = table(spark, sf_small, "documents")
    free = {
        (r["id_a"], r["id_b"]): round(r["containment"], 12)
        for r in dedup.anchor_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    b64 = {
        (r["id_a"], r["id_b"]): round(r["containment"], 12)
        for r in dedup.anchor_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, candidate_budget=64
        ).collect()
    }
    assert free  # fixture must contain containment pairs
    assert b64 == free  # long-tail corpus: budget 64 is recall-free
    b1 = {
        (r["id_a"], r["id_b"]): round(r["containment"], 12)
        for r in dedup.anchor_containment_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, candidate_budget=1
        ).collect()
    }
    assert set(b1) <= set(free)
    assert all(free[p] == s for p, s in b1.items())


def test_anchor_candidate_budget_bounds_fixed_vocab_corpus(spark):
    """The budget's reason to exist: on a FIXED-VOCABULARY corpus
    (every doc drawn from the same tiny word set — the uncapped
    generator's adversarial class, SCALE.md) the candidate stage is
    bounded at budget pairs per anchor-side doc, and the planted
    containment pair STILL survives because the contained side's rare
    shingles rank its true partner first."""
    vocab = [f"w{i}" for i in range(8)]
    rows = []
    for d in range(40):
        # every doc cycles the same 8 words → all shingle dfs saturate
        words = [vocab[(d + j) % 8] for j in range(30)]
        rows.append((d, " ".join(words)))
    # planted pair: rare-word quote contained in a noisy container
    quote = "zeta eta theta iota kappa lambdaa"
    rows.append((100, quote))
    rows.append((101, " ".join(vocab * 3) + " " + quote + " " + " ".join(vocab)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.anchor_containment_pairs(
        df, "doc_id", "text", n=3, threshold=0.9,
        k_anchors=4, max_anchor_freq=1000, candidate_budget=2,
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (100, 101) in pairs  # the true pair survives a budget of 2
    # the budget bound itself: re-run the internal candidate stage and
    # assert no src doc kept more than budget partners
    from ontario_spark.operators.dedup import _anchor_pair_counts

    inter = _anchor_pair_counts(
        df, "doc_id", "text", 3, 4, 1000, False, candidate_budget=2
    )
    n_docs = df.count()
    # the budget bound: every verified pair was kept by SOME doc's
    # budget, so total pairs ≤ N_docs × budget — the linear guarantee
    # the verify stage's cost rests on (vs ~N² uncapped on this corpus)
    assert inter.count() <= n_docs * 2


def test_wav_metadata_parses_real_riff_headers(spark):
    """RIFF/WAVE fmt+data chunks are parsed from raw bytes (the audio
    counterpart of the PNG/JPEG test): the chunk WALK is exercised by
    a junk LIST chunk before fmt; odd-length chunks are word-aligned;
    non-RIFF and truncated payloads yield all-NULL rows."""
    import struct

    from ontario_spark.operators.multimodal import (
        audio_metadata,
        parse_wav_header,
        synth_wav,
    )

    plain = synth_wav(16000, 2, 16, 100)
    junked = synth_wav(44100, 1, 16, 64, junk=True)
    rows = [
        (1, "audio", plain),
        (2, "audio", junked),
        (3, "audio", b"RIFFxxxxNOPE"),  # RIFF but not WAVE
        (4, "audio", b"definitely not audio"),
        (5, "audio", plain[:20]),  # truncated before fmt completes
    ]
    media = spark.createDataFrame(
        rows, "media_id long, media_type string, payload binary"
    )
    got = {
        r["media_id"]: (
            r["format"], r["sample_rate"], r["channels"], r["bits"], r["n_samples"]
        )
        for r in audio_metadata(media).collect()
    }
    assert got[1] == ("wav", 16000, 2, 16, 100)
    assert got[2] == ("wav", 44100, 1, 16, 64)
    assert got[3] == (None,) * 5
    assert got[4] == (None,) * 5
    assert got[5] == (None,) * 5
    # odd-length chunk word alignment: a 3-byte junk chunk must not
    # desync the walk (pad byte per the RIFF spec)
    odd = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE"
        + b"JUNK" + struct.pack("<I", 3) + b"abc\x00"
    )
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 2, 2, 16)
    odd += b"fmt " + struct.pack("<I", 16) + fmt
    odd += b"data" + struct.pack("<I", 4) + b"\x00" * 4
    assert parse_wav_header(odd) == ("wav", 8000, 1, 16, 2)


def test_wav_hostile_fmt_values_yield_nulls(spark):
    """Review fix: a fmt chunk declaring sample_rate >= 2^31 (uint32 on
    disk, int32 in the output schema) or a non-byte-aligned bit depth
    must yield a NULL row, never a failed Arrow batch."""
    import struct

    from ontario_spark.operators.multimodal import audio_metadata, parse_wav_header

    def wav_with(rate, bits):
        fmt = struct.pack("<HHIIHH", 1, 1, rate, 1, 2, bits)
        body = b"fmt " + struct.pack("<I", 16) + fmt
        body += b"data" + struct.pack("<I", 4) + b"\x00" * 4
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    assert parse_wav_header(wav_with(2**31, 16)) == (None,) * 5
    assert parse_wav_header(wav_with(8000, 12)) == (None,) * 5
    media = spark.createDataFrame(
        [(1, "audio", wav_with(2**31, 16))],
        "media_id long, media_type string, payload binary",
    )
    [r] = audio_metadata(media).collect()
    assert r["sample_rate"] is None and r["format"] is None


def test_ann_recall_at_k_pinned_registry_params(spark, sf_small):
    """Recall@3 vs brute force for the three approximate ANN tiers at
    EXACTLY the registry queries' parameters (pipeline_suite
    ann_topk_ivf/pq/ivfpq), over 20 queries on the fixture corpus.
    Pinned floors sit just under the measured values (ivf 0.60,
    pq 0.77, ivfpq 0.53 — every stage is md5/seed-deterministic, so a
    drop means a refactor silently degraded recall, the round-9
    VERDICT ask). The 1x/10x probe-corpus recall curve is recorded in
    SCALE.md (0.93-1.0 there: the fixture's 500 random vectors are the
    HARD case — real clustered corpora quantize better)."""
    from ontario_spark.data import table
    from ontario_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
        pq_topk,
    )

    emb = table(spark, sf_small, "embeddings")
    queries = emb.orderBy("vec_id").limit(20)
    k = 3
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=k).collect()
    }

    def recall(df) -> float:
        approx = {
            (r["query_id"], r["neighbor_id"]) for r in df.collect()
        }
        return len(exact & approx) / len(exact)

    floors = {
        "ivf": (ivf_topk(emb, queries, k=k, n_lists=8, n_probe=3), 0.55),
        "pq": (
            pq_topk(emb, queries, k=k, m=16, n_centroids=16, rerank=8),
            0.70,
        ),
        "ivfpq": (
            ivfpq_topk(
                emb, queries, k=k, m=16, n_centroids=16, rerank=8,
                n_lists=8, n_probe=3,
            ),
            0.50,
        ),
    }
    for name, (df, floor) in floors.items():
        r = recall(df)
        assert r >= floor, f"{name} recall@3 degraded: {r:.3f} < {floor}"


def test_dup_gram_stats_marks_planted_spans(spark):
    """A 5-gram shared by two docs marks exactly its positions as
    duplicated; a unique doc scores 0; docs under 5 tokens are
    omitted (no spans to dedup)."""
    shared = "the quick brown fox jumps"
    rows = [
        (1, shared + " over the lazy dog"),        # 5 grams, 1 dup
        (2, "intro words " + shared),              # 3 grams, 1 dup
        (3, "totally unique text with no repeats here"),  # 0 dup
        (4, "too short"),                          # omitted
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.dup_gram_stats(df, "doc_id", "text", n=5).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["n_grams"] == 5 and out[1]["n_dup_grams"] == 1
    assert out[2]["n_grams"] == 3 and out[2]["n_dup_grams"] == 1
    assert out[3]["n_dup_grams"] == 0 and out[3]["dup_fraction"] == 0.0
    assert abs(out[1]["dup_fraction"] - 0.2) < 1e-9


def test_dup_gram_stats_counts_positions_not_set(spark):
    """A doc repeating a duplicated phrase counts each OCCURRENCE
    (multiset positions), the Lee-et-al span semantics — a set-based
    count would understate how much of the doc is duplicated."""
    phrase = "alpha beta gamma delta epsilon"
    rows = [
        (1, phrase + " filler " + phrase),  # the dup gram appears twice
        (2, phrase),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.dup_gram_stats(df, "doc_id", "text", n=5).collect()
    }
    # doc 1: 7 gram positions, the two exact-phrase positions are dup
    assert out[1]["n_grams"] == 7 and out[1]["n_dup_grams"] == 2
    assert out[2]["n_grams"] == 1 and out[2]["n_dup_grams"] == 1


def test_seeded_cluster_assign_deterministic_and_total(spark, sf_small):
    emb = table(spark, sf_small, "embeddings")
    a = similarity.seeded_cluster_assign(emb, k=8)
    b = similarity.seeded_cluster_assign(
        emb.orderBy(F.desc("vec_id")).repartition(7), k=8
    )
    ra = sorted((r["vec_id"], r["cluster_id"]) for r in a.collect())
    rb = sorted((r["vec_id"], r["cluster_id"]) for r in b.collect())
    assert ra == rb and len(ra) == emb.count()
    # seeds assign to themselves with cosine ~1
    for r in a.filter(F.col("vec_id") < 8).collect():
        assert r["cluster_id"] == r["vec_id"]
        assert abs(r["score"] - 1.0) < 1e-9


def test_seeded_cluster_assign_plan_is_shuffle_free(spark, sf_small):
    """The assignment stage must be a narrow projection over the scan:
    no hash/range shuffle, no window sort, no Python — the op's 100 TB
    posture. (The only permitted Exchange is spread()'s round-robin
    fan-out of a small local fixture, which a real multi-partition
    scan never has.)"""
    emb = table(spark, sf_small, "embeddings")
    plan = similarity.seeded_cluster_assign(emb, k=8)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Window" not in plan, plan


def test_winnow_fingerprints_shared_run_guarantee(spark):
    """Winnowing guarantee: any shared token run of >= k+w-1 (=8)
    tokens yields at least one common fingerprint; disjoint docs
    share none."""
    from ontario_spark.operators import textops

    run = "q w e r t y u i"  # 8 shared tokens
    rows = [
        (1, "prefix tokens here " + run + " suffix bits"),
        (2, run + " completely different tail words"),
        (3, "nothing in common with those documents at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = textops.winnow_fingerprints(df, "doc_id", "text", k=4, w=5)
    by_doc = {
        r["id"]: set()
        for r in df.select(F.col("doc_id").alias("id")).collect()
    }
    for r in fps.collect():
        by_doc[r["id"]].add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 8-token run must share a fp"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])


def test_winnow_fingerprints_short_doc_clipped_window(spark):
    """Fewer grams than the window -> exactly one fingerprint (min of
    all grams); fewer tokens than k -> no rows."""
    from ontario_spark.operators import textops

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z")],  # 2 grams; 0 grams
        "doc_id long, text string",
    )
    out = textops.winnow_fingerprints(df, "doc_id", "text", k=4, w=5).collect()
    assert len(out) == 1 and out[0]["id"] == 1


def test_regex_token_stats_classes(spark):
    from ontario_spark.operators import textops

    df = spark.createDataFrame(
        [(1, "It's 42 cats, dogs!"), (2, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           textops.regex_token_stats(df, "doc_id", "text").collect()}
    r = out[1]
    # It |'s | 42 | cats | , | dogs | !
    assert r["n_bpe_tokens"] == 7
    assert r["n_word_tokens"] == 3   # It, cats, dogs
    assert r["n_num_tokens"] == 1    # 42
    assert r["n_other_tokens"] == 3  # 's , !
    assert out[2]["n_bpe_tokens"] == 0


def test_winnow_overlap_pairs_detects_local_quote(spark):
    """A 10-token run quoted inside two otherwise-unrelated documents
    must pair (position-local detection); unrelated docs must not."""
    quote = "one two three four five six seven eight nine ten"
    filler_a = " ".join(f"alpha{i}" for i in range(40))
    filler_b = " ".join(f"beta{i}" for i in range(40))
    rows = [
        (1, filler_a + " " + quote),
        (2, quote + " " + filler_b),
        (3, " ".join(f"gamma{i}" for i in range(50))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.winnow_overlap_pairs(
            df, "doc_id", "text", k=4, w=5, min_shared=2
        ).collect()
    }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


class TestBloomContamination:
    def test_tiny_filter_still_exact(self, spark, sf_small):
        """With m_bits=1024 the Bloom saturates (high false-positive
        rate), so the prefilter passes nearly everything — the confirm
        join must still make the output EXACTLY equal the exact
        operator's."""
        from pyspark.sql import functions as F

        from ontario_spark.data import table
        from ontario_spark.operators import dedup

        docs = table(spark, sf_small, "documents")
        corpus = docs.filter(F.col("doc_id") % 97 != 0)
        bench = docs.filter(F.col("doc_id") % 97 == 0)
        exact = dedup.contamination_overlap(
            corpus, bench, "doc_id", "text", n=3, threshold=0.08
        )
        bloom = dedup.bloom_contamination_overlap(
            corpus, bench, "doc_id", "text", n=3, threshold=0.08,
            m_bits=1 << 10, k_hashes=2,
        )
        assert sorted(map(tuple, exact.collect())) == sorted(
            map(tuple, bloom.collect())
        )

    def test_rejects_non_power_of_two(self, spark, sf_small):
        import pytest

        from ontario_spark.data import table
        from ontario_spark.operators import dedup

        docs = table(spark, sf_small, "documents")
        with pytest.raises(ValueError):
            dedup.bloom_contamination_overlap(
                docs, docs, "doc_id", "text", m_bits=1000
            )


class TestCDCChunks:
    def _chunks(self, spark, rows):
        from ontario_spark.operators.dedup import cdc_chunks

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = cdc_chunks(df, "doc_id", "text").collect()
        by_doc = {}
        for r in sorted(out, key=lambda r: (r["id"], r["chunk_id"])):
            by_doc.setdefault(r["id"], []).append(r["chunk_text"])
        return by_doc

    def test_chunks_reassemble_to_original(self, spark):
        import hashlib

        base = " ".join(
            hashlib.md5(str(i).encode()).hexdigest()[:5] for i in range(120)
        )
        got = self._chunks(spark, [(1, base), (2, "tiny"), (3, "")])
        assert "".join(got[1]) == base
        assert got[2] == ["tiny"]  # shorter than the window: one chunk
        assert 3 not in got  # empty doc -> zero chunks
        assert len(got[1]) > 3  # boundaries actually fire on 700 chars

    def test_prefix_insertion_preserves_suffix_chunks(self, spark):
        """THE content-defined property: prepending text shifts every
        character position, but boundaries depend only on local
        content, so all chunks after the first resync point are
        IDENTICAL — fixed-size chunking would lose every one."""
        import hashlib

        base = " ".join(
            hashlib.md5(str(i).encode()).hexdigest()[:5] for i in range(200)
        )
        got = self._chunks(spark, [(1, base), (2, "INSERTED PREFIX " + base)])
        shared = set(got[1]) & set(got[2])
        assert len(shared) >= len(got[1]) - 2  # all but the head region


class TestURLCanonical:
    def test_hand_cases(self, spark):
        from pyspark.sql import functions as F

        from ontario_spark.operators.textops import canonical_url

        cases = [
            (1, "https://CDN.Example.com:443/a/b/"),
            (2, "https://cdn.example.com/a/b"),
            (3, "http://Host.com:80/x?utm_source=s&b=2&a=1#frag"),
            (4, "http://host.com/x?a=1&b=2"),
            (5, "not a url"),
            (6, "https://h.com/"),
            (7, "HTTPS://UP.Example.com/x"),  # uppercase SCHEME too
        ]
        df = spark.createDataFrame(cases, ["i", "u"])
        got = {
            r["i"]: r["c"]
            for r in df.select("i", canonical_url(F.col("u")).alias("c")).collect()
        }
        assert got[1] == got[2] == "https://cdn.example.com/a/b"
        assert got[3] == got[4] == "http://host.com/x?a=1&b=2"
        assert got[5] is None
        assert got[6] == "https://h.com"
        assert got[7] == "https://up.example.com/x"


def test_quality_gates_edge_docs(spark):
    from ontario_spark.operators.textops import quality_gates

    rows = [
        (1, ""),  # empty: 1 empty token, every gate fails
        (2, " ".join(["the", "of", "and", "data"] * 10)),  # 40 words, passes
        (3, " ".join(["zq9"] * 60)),  # no stopwords -> gate_stopwords false
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in quality_gates(df, "doc_id", "text").collect()}
    assert not got[1]["pass_all"] and got[1]["n_words"] == 1
    assert got[2]["pass_all"]
    assert got[3]["gate_word_count"] and not got[3]["gate_stopwords"]
    assert not got[3]["pass_all"]


def test_minhash_lsh_recall_vs_exact_jaccard_pinned(spark, sf_small):
    """Recall pin for the LSH tier (the near-dup analogue of the ANN
    recall@k pin): every pair the EXACT n-gram Jaccard join reports at
    threshold 0.5 must be recovered by MinHash-LSH at its registry
    parameters (16 hashes / 8 bands, est threshold 0.4) — banding with
    r=2 rows per band gives a >=0.5-similar pair a miss probability of
    (1 - s^r)^b <= (1-0.25)^8 ~= 10%, and the fixture's duplicate
    structure sits far above the threshold, so measured recall is 1.0
    at both sf0.001 and sf0.1. Pinned as a floor so a refactor of the
    signature/banding machinery cannot silently degrade it."""
    from ontario_spark.data import table
    from ontario_spark.operators import dedup

    docs = table(spark, sf_small, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5, max_doc_freq=1000
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.4
        ).collect()
    }
    assert exact, "fixture lost its duplicate structure"
    recall = len(exact & lsh) / len(exact)
    assert recall >= 0.95, f"LSH recall degraded: {recall:.3f}"


def test_lsh_verified_jaccard_precision_and_recall(spark, sf_small):
    """Round-10 verified-LSH pair join (the dedup_clusters scale
    rebase): PRECISION is exact by construction — every emitted pair
    must also be reported by the uncapped exact join at the same
    threshold with the SAME true-Jaccard score — and RECALL against
    the exact join is pinned (the fixture's duplicate structure sits
    far above 0.35, where the 8-band S-curve is near 1)."""
    from ontario_spark.data import table
    from ontario_spark.operators import dedup

    docs = table(spark, sf_small, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.35
        ).collect()
    }
    verified = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.lsh_verified_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.35
        ).collect()
    }
    assert exact, "fixture lost its duplicate structure"
    # precision: verified ⊆ exact, scores identical (true Jaccard)
    for pair, score in verified.items():
        assert pair in exact and score == exact[pair], pair
    recall = len(verified) / len(exact)
    assert recall >= 0.9, f"verified-LSH recall degraded: {recall:.3f}"


def test_mp4_metadata_parses_real_box_trees(spark):
    """Round-10 ISO-BMFF leg: the parser walks NESTED boxes (junk
    free/udta boxes force it), handles 64-bit largesize and size-0
    to-end boxes, and yields NULLs — never a failed Arrow batch — on
    corrupt/truncated payloads."""
    import struct

    from ontario_spark.operators.multimodal import (
        parse_mp4_header,
        synth_mp4,
        video_metadata,
    )

    plain = synth_mp4(90000, 5400, 1920, 1080)
    junked = synth_mp4(600, 77, 640, 360, junk=True)
    assert parse_mp4_header(plain) == ("mp4", 90000, 5400, 1920, 1080)
    assert parse_mp4_header(junked) == ("mp4", 600, 77, 640, 360)

    # 64-bit largesize on the moov box: size field 1 + 8-byte size
    ftyp_len = 8 + len(b"isom") + 4 + len(b"isomiso2")
    moov = plain[ftyp_len:]
    (sz,) = struct.unpack(">I", moov[:4])
    large = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", sz + 8) + moov[8:]
    assert parse_mp4_header(plain[:ftyp_len] + large) == (
        "mp4", 90000, 5400, 1920, 1080,
    )
    # size-0 box extends to end of file
    tail = struct.pack(">I", 0) + b"moov" + moov[8:]
    assert parse_mp4_header(plain[:ftyp_len] + tail) == (
        "mp4", 90000, 5400, 1920, 1080,
    )
    # corrupt: truncated mid-box / not a container / inner size lies
    assert parse_mp4_header(plain[:20]) == (None,) * 5
    assert parse_mp4_header(b"clearly not video bytes") == (None,) * 5
    lying = bytearray(plain)
    lying[ftyp_len : ftyp_len + 4] = struct.pack(">I", len(plain) * 9)
    assert parse_mp4_header(bytes(lying)) == (None,) * 5

    media = spark.createDataFrame(
        [(1, "video", bytearray(plain)), (2, "video", bytearray(b"junk"))],
        "media_id long, media_type string, payload binary",
    )
    rows = {r["media_id"]: r for r in video_metadata(media).collect()}
    assert rows[1]["width"] == 1920 and rows[1]["timescale"] == 90000
    assert rows[2]["format"] is None and rows[2]["duration"] is None


def test_simhash_hamming_pairs_complete_recall(spark, docs):
    """Pigeonhole guarantee: with no bucket cap binding, the banded
    join finds EVERY pair within the hamming radius — cross-checked
    against exact all-pairs hamming over the fingerprints."""
    sub = docs.filter(F.col("doc_id") < 120)
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_hamming_pairs(
            sub, "doc_id", "text", bits=60, max_hamming=3, band_cap=10**9
        ).collect()
    }
    fps = dedup.simhash(sub, "doc_id", "text", bits=60).collect()
    exact = {}
    for i, a in enumerate(fps):
        for b in fps[i + 1 :]:
            h = bin(a.simhash ^ b.simhash).count("1")
            if h <= 3:
                key = (min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id))
                exact[key] = h
    assert banded == exact
    assert exact, "fixture must contain at least one near-dup pair"


def test_simhash_hamming_pairs_planted(spark):
    """Exact duplicates are hamming-0; unrelated docs don't pair."""
    pairs = dedup.simhash_hamming_pairs(
        _planted(spark), "doc_id", "text", bits=60, max_hamming=3
    ).collect()
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert found.get((1, 2)) == 0
    assert not any(4 in p or 5 in p for p in found)


def test_source_overlap_grid_and_bounds(spark, docs):
    """Full |sources|C2 grid, jaccard in [0,1], and a self-consistency
    check: a source unioned with itself under a new label is jaccard
    1.0 against the original."""
    out = dedup.source_ngram_overlap(docs, "text", "source").collect()
    n_sources = docs.select("source").distinct().count()
    assert len(out) == n_sources * (n_sources - 1) // 2
    for r in out:
        assert 0.0 <= r.jaccard <= 1.0
        assert r.n_common <= min(r.n_a, r.n_b)
    one = docs.filter(F.col("source") == out[0].source_a)
    both = one.unionByName(one.withColumn("source", F.lit("zz_clone")))
    dup = {
        (r.source_a, r.source_b): r.jaccard
        for r in dedup.source_ngram_overlap(both, "text", "source").collect()
    }
    # a source relabeled and unioned back is jaccard 1.0 vs itself
    assert dup == {(out[0].source_a, "zz_clone"): 1.0}


def test_label_outliers_flags_planted_outlier(spark):
    from ontario_spark.operators.similarity import label_outliers

    rows = []
    for i in range(6):
        rows.append((i, [1.0 + 0.01 * i, 0.0], "a"))
        rows.append((10 + i, [0.0, 2.0 + 0.01 * i], "b"))
    rows.append((99, [9.0, 9.0], "a"))  # planted far outlier in label a
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = label_outliers(df, "vec_id", "embedding", "label", k=2).collect()
    a1 = [r for r in out if r.label == "a" and r.out_rank == 1]
    assert len(a1) == 1 and a1[0].vec_id == 99
    assert all(1 <= r.out_rank <= 2 for r in out)


def test_tiff_parse_roundtrip_both_byte_orders():
    from ontario_spark.operators.multimodal import parse_image_header, synth_tiff

    assert parse_image_header(synth_tiff(640, 480)) == ("tiff", 640, 480)
    assert parse_image_header(synth_tiff(17, 9, big_endian=True)) == ("tiff", 17, 9)
    # magic without a reachable IFD: recognized container, NULL dims
    assert parse_image_header(b"II*\x00\xff\xff\xff\xff") == ("tiff", None, None)
    # truncated below the header threshold: unknown
    assert parse_image_header(b"II*\x00") == (None, None, None)

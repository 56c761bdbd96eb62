"""Training-data pipeline queries on the driver correctness surface:
dedup, similarity search, text analysis, multimodal plumbing — all over
the ``documents`` / ``embeddings`` tables.

Oracles: every operator that can be expressed in ANSI SQL gets a DuckDB
oracle reproducing it bit-for-bit (md5-based hashing + double
arithmetic with deterministic summation order makes this possible).
``minhash_``/``simhash_`` entries are checked rows-only by the driver
(banding layout is engine-specific); their semantics are covered by
dedicated pytest invariants instead (tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontario_spark.data import table
from ontario_spark.operators import dedup, similarity, textops
from ontario_spark.operators.multimodal import (
    decode_stats,
    extract_features,
    frame_sample,
    media_from_text,
)
from ontario_spark.persist import persisted

# --- deterministic sampling / corpus mixing -----------------------------


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language keep rates (corpus rebalancing) via deterministic
    md5-bucket sampling — reproducible across engines and re-runs."""
    from ontario_spark.operators.sampling import stratified_sample

    docs = table(spark, sf_dir, "documents")
    return stratified_sample(
        docs.select("doc_id", "lang", "source"),
        key="doc_id",
        stratum="lang",
        rates={"en": 1.0, "de": 0.5, "fr": 0.25},
        default_rate=0.1,
    )


SAMPLE_STRATIFIED_SQL = """
SELECT doc_id, lang, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 6) <
  CASE lang WHEN 'en' THEN 'g' WHEN 'de' THEN '800000'
            WHEN 'fr' THEN '400000' ELSE '199999' END
"""


def sample_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint deterministic train/test tagging + per-split stats."""
    from ontario_spark.operators.sampling import train_test_split

    docs = table(spark, sf_dir, "documents")
    return (
        train_test_split(docs, key="doc_id", test_rate=0.2)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SAMPLE_TRAIN_TEST_SQL = """
SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || 'split'), 1, 6)
            < '333333' THEN 'test' ELSE 'train' END AS split,
  lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1, 2
"""


def sample_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE grouped train/test split (round 10): the split key
    is the GROUP (``source`` — a crawl's domain / provenance bucket),
    not the document, so near-duplicates and templated pages within a
    group can never straddle the train/test boundary — the standard
    contamination control a per-doc hash split silently lacks. Pure
    scan-stage predicate (a function of the group key), zero shuffle
    before the stats rollup; per-(source, split) counts prove group
    atomicity structurally: each source appears on exactly one side."""
    from ontario_spark.operators.sampling import train_test_split

    docs = table(spark, sf_dir, "documents")
    return (
        train_test_split(docs, key="source", test_rate=0.25, salt="groups")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


SAMPLE_GROUP_SPLIT_SQL = """
SELECT source,
  CASE WHEN substr(md5(CAST(source AS VARCHAR) || 'groups'), 1, 6)
       < '400000' THEN 'test' ELSE 'train' END AS split,
  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1, 2
"""


def sample_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mix of two deterministic slices of the corpus (the
    multi-source training-mix primitive)."""
    from ontario_spark.operators.sampling import mix_datasets

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    web = docs.filter(F.col("source") != "src0")
    curated = docs.filter(F.col("source") == "src0")
    return mix_datasets(
        [(curated, "curated", 1.0), (web, "web", 0.3)], key="doc_id"
    )


SAMPLE_CORPUS_MIX_SQL = """
SELECT doc_id, lang, source, 'curated' AS mix_source FROM documents
WHERE source = 'src0'
  AND substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 6) < 'g'
UNION ALL
SELECT doc_id, lang, source, 'web' AS mix_source FROM documents
WHERE source <> 'src0'
  AND substr(md5(CAST(doc_id AS VARCHAR) || 'mix'), 1, 6) < '4ccccc'
"""


def sample_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling (round 8): at most 40 docs per
    source — the crawl-curation cap bounding any one origin's corpus
    share. Deterministic salted-md5 ranks, so the DuckDB oracle
    replicates the exact selected set."""
    from ontario_spark.operators.sampling import group_cap_sample

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return group_cap_sample(docs, "source", "doc_id", cap=40)


SAMPLE_GROUP_CAP_SQL = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || 'cap'), doc_id
         ) AS rn
  FROM documents WHERE doc_id IS NOT NULL
) WHERE rn <= 40
"""


def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absolute token-budget mixing (round 8): ~30k chars from src0,
    ~12k from every other source — the "N tokens per source" training
    mix. Running-sum selection over deterministic md5 ranks; the
    oracle replicates the exact kept set."""
    from ontario_spark.operators.sampling import token_budget_mix

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return token_budget_mix(
        docs, "source", "doc_id", "n_chars",
        budgets={"src0": 30000}, default_budget=12000,
    )


SAMPLE_TOKEN_BUDGET_SQL = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR) || 'budget'), doc_id
         ) AS run,
         CASE WHEN source = 'src0' THEN 30000 ELSE 12000 END AS budget
  FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
) WHERE run <= budget AND budget > 0
"""


def sample_fixed_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size eval holdout (round 8): exactly 200 docs by
    deterministic md5 rank — TakeOrderedAndProject, no global sort.
    The oracle replicates the exact selected set."""
    from ontario_spark.operators.sampling import fixed_size_sample

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return fixed_size_sample(docs, "doc_id", n=200, salt="holdout")


SAMPLE_FIXED_HOLDOUT_SQL = """
SELECT doc_id, source, n_chars FROM documents
WHERE doc_id IS NOT NULL
ORDER BY md5(CAST(doc_id AS VARCHAR) || 'holdout'), doc_id
LIMIT 200
"""


# --- dedup --------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(table(spark, sf_dir, "documents"), "doc_id", "text")


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded HIGH-RECALL n-gram Jaccard join (round 11, retiring the
    last 100× exclusion): 24 two-row MinHash bands generate
    similarity-selective candidates, each verified with TRUE n-gram
    Jaccard — recall 1-(1-J²)²⁴ (95.7% at the 0.35 threshold, >99.9%
    at the J ≥ 0.5 pairs dedup acts on) vs ``dedup_lsh_verified``'s
    standard 16/8 tier (64% at 0.35); scores exact for every emitted
    pair. Why not the other bounded generators (measured on the
    10×/50k-doc probe corpus, SCALE.md round-11 section): single-
    shared-shingle candidacy — the exact self-join AND the bottom-k
    anchor sketch (``dedup.anchor_jaccard_pairs``) — is doc-frequency-
    driven and quadratic under a fixed vocabulary (46.8M anchor
    candidates = 937/doc; disk-full at 10×), and 1-row banding
    degenerates the same way (15.6M); 2-row banding held at 281k
    candidates = 5.6/doc. The exact tier stays a pytest fixture op;
    anchors stay the long-tail-corpus/near-total-recall tier,
    recall-pinned in pytest."""
    return dedup.lsh_verified_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.35,
        num_hashes=48,
        bands=24,
    )


# DEDUP_JACCARD_SQL is assigned below, after _lsh_verified_sql (the
# shared generator both verified-LSH rows unroll from) is defined.


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram CONTAINMENT pairs (round 6): |A∩B| / min(|A|,|B|) — the
    sub-document duplication detector Jaccard's union denominator
    misses (a short doc wholly quoted inside a long one scores 1.0
    here). Shares the Jaccard query's candidate machinery and skew
    cap."""
    return dedup.ngram_containment_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        max_doc_freq=1000,
    )


# Same shingle/pair CTEs as DEDUP_JACCARD_SQL; only the score changes.
DEDUP_CONTAINMENT_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), ex AS (
  SELECT doc_id, array_length(shingles) AS n_sh, unnest(shingles) AS shingle
  FROM sh
), rare AS (
  SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 1000
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common,
         ANY_VALUE(a.n_sh) AS n_a, ANY_VALUE(b.n_sh) AS n_b
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN rare r ON a.shingle = r.shingle
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE) / LEAST(n_a, n_b) AS containment
FROM pairs
WHERE CAST(n_common AS DOUBLE) / LEAST(n_a, n_b) >= 0.5
"""


def dedup_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup posture (round 9): per-document fraction
    of 5-gram positions whose gram occurs in ≥2 documents — the
    'duplicated span' signal from suffix-array training-data dedup,
    re-expressed as two bounded hash aggregations (see
    operators/dedup.py::dup_gram_stats for the 100 TB design)."""
    return dedup.dup_gram_stats(
        table(spark, sf_dir, "documents"), "doc_id", "text", n=5, min_docs=2
    )


DEDUP_DUP_SPANS_SQL = """
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, array_length(w) - 3),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
                || ' ' || w[i+4])) AS gram
  FROM w WHERE array_length(w) >= 5
), per AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, gram
), freq AS (
  SELECT gram, COUNT(*) AS n_docs FROM per GROUP BY gram
)
SELECT p.doc_id,
       CAST(SUM(p.cnt) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN f.n_docs >= 2 THEN p.cnt ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       ROUND(CAST(SUM(CASE WHEN f.n_docs >= 2 THEN p.cnt ELSE 0 END)
                  AS DOUBLE) / SUM(p.cnt), 6) AS dup_fraction
FROM per p JOIN freq f USING (gram)
GROUP BY p.doc_id
"""


def dedup_containment_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path containment (round 6): bottom-k anchor candidates +
    exact verify restricted to candidates — the 100×-safe variant of
    ``dedup_containment`` (miss probability ≤ 1.5e-5 per true pair at
    these parameters; scores exact). Round 12: three bounds make the
    plan finite on EVERY corpus class — the expansion bound (only
    each doc's 8 rarest anchors generate candidates), the
    inverted-list budget (each anchor expands to ≤64 partners; the
    occurrence stream is therefore ≤ N×8×64 rows), and the per-doc
    candidate budget (rarest-shared-anchor top-64 partners per doc,
    capping verify work at N×64 pairs). All previously-unprobed on
    the fixed-vocabulary class (SCALE.md); all replicated verbatim in
    the DuckDB oracle, recall pinned in pytest."""
    return dedup.anchor_containment_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.5,
        k_anchors=16,
        max_anchor_freq=1000,
        candidate_budget=64,
        inv_list_budget=64,
        anchor_expand=8,
    )


DEDUP_CONTAINMENT_ANCHORS_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), hx AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h
  FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM hx GROUP BY doc_id
), inv AS (
  SELECT doc_id, h FROM hx
  WHERE h NOT IN (SELECT h FROM hx GROUP BY h HAVING COUNT(*) > 1000)
), anch0 AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h) AS rn
    FROM inv
  ) WHERE rn <= 16
), dfreq AS (
  SELECT h, COUNT(*) AS df FROM inv GROUP BY h
), anch AS (
  SELECT doc_id, h FROM (
    SELECT a.doc_id, a.h,
           ROW_NUMBER() OVER (PARTITION BY a.doc_id
                              ORDER BY f.df, a.h) AS ar
    FROM anch0 a JOIN dfreq f ON f.h = a.h
  ) WHERE ar <= 8
), invb AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h,
           ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS ir
    FROM inv
  ) WHERE ir <= 64
), cand_occ AS (
  SELECT a.doc_id AS src, b.doc_id AS dst, f.df, a.h
  FROM anch a
  JOIN invb b ON a.h = b.h AND a.doc_id <> b.doc_id
  JOIN dfreq f ON f.h = a.h
), best AS (
  SELECT src, dst, df, h FROM (
    SELECT src, dst, df, h,
           ROW_NUMBER() OVER (PARTITION BY src, dst ORDER BY df, h) AS rp
    FROM cand_occ
  ) WHERE rp = 1
), kept AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY df, h, dst) AS rn
    FROM best
  ) WHERE rn <= 64
), cand AS (
  SELECT DISTINCT LEAST(src, dst) AS id_a, GREATEST(src, dst) AS id_b
  FROM kept
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN hx ea ON ea.doc_id = c.id_a
  JOIN hx eb ON eb.doc_id = c.id_b AND eb.h = ea.h
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(n_common AS DOUBLE) / LEAST(sa.n_sh, sb.n_sh) >= 0.5
"""


def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering exact Jaccard join (round 10, PPJoin family):
    complete recall at subquadratic candidate cost — rare-first global
    shingle ordering, per-doc prefixes, prefix-collision candidates,
    exact verify (operators/dedup.py::prefix_jaccard_pairs;
    completeness vs the exact self-join is pytest-asserted)."""
    return dedup.prefix_jaccard_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        n=3, threshold=0.5,
    )


DEDUP_PREFIX_JACCARD_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), hx AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h
  FROM sh
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM hx GROUP BY doc_id
), dfreq AS (
  SELECT h, COUNT(*) AS df FROM hx GROUP BY h
), ranked AS (
  SELECT hx.doc_id, hx.h, sizes.n_sh,
         ROW_NUMBER() OVER (PARTITION BY hx.doc_id
                            ORDER BY dfreq.df, hx.h) AS rn
  FROM hx JOIN dfreq ON dfreq.h = hx.h
  JOIN sizes ON sizes.doc_id = hx.doc_id
), prefix AS (
  SELECT doc_id, h, rn, n_sh FROM ranked
  WHERE rn <= n_sh - CEIL(0.5 * n_sh) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM prefix a JOIN prefix b ON a.h = b.h AND a.doc_id < b.doc_id
  WHERE GREATEST(a.n_sh, b.n_sh) * 0.5 <= LEAST(a.n_sh, b.n_sh)
    AND 1 + LEAST(a.n_sh - a.rn, b.n_sh - b.rn)
        >= CEIL(0.3333333333333333 * (a.n_sh + b.n_sh))
), inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_common
  FROM cand c
  JOIN hx ea ON ea.doc_id = c.id_a
  JOIN hx eb ON eb.doc_id = c.id_b AND eb.h = ea.h
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
         AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the LONGEST copy per content hash (tiebreak
    lowest id) — the multi-source merge rule."""
    return dedup.keep_best(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        order=[F.desc("n_chars"), F.asc("doc_id")],
    )


DEDUP_KEEP_BEST_SQL = """
WITH r AS (
  SELECT doc_id, md5(text) AS content_hash,
         ROW_NUMBER() OVER (PARTITION BY md5(text)
                            ORDER BY n_chars DESC, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
  FROM documents
)
SELECT doc_id, content_hash, n_copies FROM r WHERE rn = 1
"""


def dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style line-level dedup: drop 4-word chunks appearing in
    >= 3 distinct documents, reassemble, report removal stats + the
    cleaned text's md5 (compact hash-comparable output)."""
    return dedup.remove_boilerplate(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        chunk=4,
        min_doc_freq=3,
    )


DEDUP_BOILERPLATE_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), chunks AS (
  SELECT doc_id, s AS pos, array_to_string(ws[s+1:s+4], ' ') AS line
  FROM w, LATERAL unnest(range(0, len(ws), 4)) AS t(s)
), lines AS (
  SELECT doc_id, pos, line, md5(line) AS line_hash FROM chunks
), boiler AS (
  SELECT line_hash FROM lines GROUP BY line_hash
  HAVING COUNT(DISTINCT doc_id) >= 3
)
SELECT l.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN b.line_hash IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       md5(COALESCE(string_agg(
         CASE WHEN b.line_hash IS NULL THEN l.line END, ' ' ORDER BY l.pos),
         '')) AS clean_hash
FROM lines l LEFT JOIN boiler b ON l.line_hash = b.line_hash
GROUP BY l.doc_id
"""


def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup — the daily pipeline shape: a NEW batch
    (docs with doc_id % 10 == 7, the stand-in for today's crawl) is
    checked against the HISTORICAL corpus (everything else) and each
    new doc is accepted or rejected with a reason and the blocking
    corpus doc:

    1. exact duplicate of a corpus doc (md5 content hash join), else
    2. near-duplicate (n-gram Jaccard >= 0.35 vs corpus — new×corpus
       pairs only, never corpus×corpus: the historical index is
       already deduped, so incremental cost scales with the BATCH),
    3. else accepted.

    One lazy plan; the shingle joins carry 8-byte hashed keys like
    ``dedup.ngram_jaccard_pairs``."""
    from ontario_spark.operators.textops import exploded_shingles

    docs = table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % 10) == 7
    new, corpus = docs.filter(is_new), docs.filter(~is_new)

    nh = new.select("doc_id", F.md5("text").alias("h"))
    ch = corpus.select(F.col("doc_id").alias("cid"), F.md5("text").alias("h"))
    exact = (
        nh.join(ch, "h")
        .groupBy("doc_id")
        .agg(F.min("cid").alias("exact_dup_of"))
    )

    sn = exploded_shingles(new, "doc_id", "text", 3)
    sc = exploded_shingles(corpus, "doc_id", "text", 3)
    kn = sn.select(F.col("id").alias("doc_id"), F.xxhash64("shingle").alias("k"))
    kc = sc.select(F.col("id").alias("cid"), F.xxhash64("shingle").alias("k"))
    # Set sizes as MAP-ONLY array expressions (round 12, guide §2.2):
    # the old groupBy-count aggregates re-tokenized both halves AND
    # paid an id-keyed shuffle each, purely to count rows the shingle
    # arrays already knew the length of (``shingle_set_sizes`` is the
    # scalar twin of exploded_shingles(distinct=True).groupBy.count).
    from ontario_spark.operators.textops import shingle_set_sizes

    nsz = shingle_set_sizes(new, "doc_id", "text", 3).select(
        "doc_id", F.col("n_shingles").alias("n_a")
    )
    csz = shingle_set_sizes(corpus, "doc_id", "text", 3).select(
        F.col("doc_id").alias("cid"), F.col("n_shingles").alias("n_b")
    )
    inter = kn.join(kc, "k").groupBy("doc_id", "cid").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    near = (
        inter.join(F.broadcast(nsz), "doc_id")
        # csz is one row per CORPUS document — broadcasting it breaks
        # the 'cost scales with the batch' contract at a real corpus
        # size (round-5 review fix); AQE may still pick broadcast at
        # fixture scale, but the plan must not force it
        .join(csz, "cid")
        .filter(jac >= 0.35)
        .groupBy("doc_id")
        .agg(F.min("cid").alias("near_dup_of"))
    )

    return (
        new.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_dup_of").isNotNull(), "exact_dup")
            .when(F.col("near_dup_of").isNotNull(), "near_dup")
            .otherwise("accepted")
            .alias("status"),
            F.coalesce("exact_dup_of", "near_dup_of").alias("dup_of"),
        )
    )


PIPELINE_INCREMENTAL_SQL = """
WITH new_docs AS (SELECT * FROM documents WHERE doc_id % 10 = 7),
corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 7),
exact AS (
  SELECT n.doc_id, MIN(c.doc_id) AS exact_dup_of
  FROM new_docs n JOIN corpus c ON md5(n.text) = md5(c.text)
  GROUP BY n.doc_id
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents WHERE len(trim(text)) > 0)
), ex AS (
  SELECT doc_id, array_length(shingles) AS n_sh, unnest(shingles) AS shingle
  FROM sh
), near AS (
  SELECT doc_id, MIN(cid) AS near_dup_of FROM (
    SELECT a.doc_id AS doc_id, b.doc_id AS cid, COUNT(*) AS n_common,
           ANY_VALUE(a.n_sh) AS n_a, ANY_VALUE(b.n_sh) AS n_b
    FROM ex a JOIN ex b ON a.shingle = b.shingle
    WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7
    GROUP BY a.doc_id, b.doc_id
  ) pairs
  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.35
  GROUP BY doc_id
)
SELECT n.doc_id,
       CASE WHEN e.exact_dup_of IS NOT NULL THEN 'exact_dup'
            WHEN nr.near_dup_of IS NOT NULL THEN 'near_dup'
            ELSE 'accepted' END AS status,
       COALESCE(e.exact_dup_of, nr.near_dup_of) AS dup_of
FROM new_docs n
LEFT JOIN exact e ON e.doc_id = n.doc_id
LEFT JOIN near nr ON nr.doc_id = n.doc_id
"""


def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy match: distinct part-name pairs within
    Levenshtein 3 that share a character trigram (q-gram blocking —
    recall caveat in operators/dedup.py; the oracle mirrors the
    blocking so the contract is checked end-to-end)."""
    return dedup.fuzzy_string_pairs(
        table(spark, sf_dir, "part"), "p_name", max_dist=3, q=3
    )


FUZZY_PART_NAMES_SQL = """
WITH names AS (SELECT DISTINCT p_name AS name FROM part),
grams AS (
  SELECT name, unnest(list_distinct(list_transform(
    range(1, GREATEST(len(name) - 1, 1)), i -> substr(name, i, 3)))) AS gram
  FROM names
), cand AS (
  SELECT DISTINCT a.name AS name_a, b.name AS name_b
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.name < b.name
)
SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
FROM cand WHERE levenshtein(name_a, name_b) <= 3
"""


def er_record_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over parts (round
    10): candidate pairs from COMPOSITE blocking (same brand AND a
    shared name trigram — multi-pass blocking keeps the candidate set
    linear-ish where bare trigram blocking measured 77x superlinear
    growth on this name generator), scored by per-field log-odds
    weights — name within Levenshtein 3 (+4/−2), brand equality
    (+3/−1.5), container equality (+2/−1), size within ±2
    (+1.5/−0.75); links at score ≥ 8 — brand is the block, so a
    link needs name+type agreement and size is the field allowed to
    disagree (the probabilistic-ER point). Dyadic weights keep the
    fixed-order double sum engine-exact
    (operators/dedup.py::record_link_scores)."""
    # COMBO COLLAPSE (round-10 scale fix): this generator draws names
    # from a tiny fixed vocabulary, so identical-attribute groups grow
    # linearly with data and the raw pair set grows QUADRATICALLY — a
    # 10× probe measured the naive per-record pair join going from
    # 12M to 1.24B candidate comparisons. Distinct attribute combos,
    # however, SATURATE (19,605 at sf0.1 AND at 10× — the vocabulary
    # product). So: score pairs over the distinct-combo relation
    # (constant cost at any corpus size), then expand the per-record
    # profile analytically — records in the same combo all pairwise
    # link at the full-agreement score, and a record's cross-combo
    # links are its combo's links weighted by partner multiplicity.
    # Results are IDENTICAL to the naive per-record form (the DuckDB
    # oracle still computes that form, so the hash match IS the
    # equivalence proof); cost is constant + two linear joins.
    key = ["p_name", "p_brand", "p_type", "p_size"]
    recs = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("rid"), *key
    )
    combos = recs.groupBy(*key).agg(
        F.count(F.lit(1)).alias("m"), F.min("rid").alias("id1")
    )
    id2 = (
        recs.join(combos.select(*key, "id1"), key)
        .filter(F.col("rid") != F.col("id1"))
        .groupBy(*key)
        .agg(F.min("rid").alias("id2"))
    )
    # combos is referenced ~6× downstream (the blocking join's gram
    # explode + both scoring sides inside record_link_scores, cm, prof,
    # and the final expansion join) — unpersisted, the two groupBys +
    # join above re-run per consumer. The frame saturates at the
    # attribute-vocabulary product (19,605 rows at ANY corpus size —
    # the combo-collapse invariant), so persisting it is O(1) memory.
    combos = persisted(combos.join(id2, key, "left_outer"))
    combo_recs = combos.select(F.col("id1").alias("p_partkey"), *key)
    pairs = dedup.record_link_scores(
        combo_recs,
        "p_partkey",
        "p_name",
        name_weights=(4.0, -2.0),
        max_dist=3,
        exact_fields=[("p_brand", 3.0, -1.5), ("p_type", 2.0, -1.0)],
        numeric_fields=[("p_size", 2, 1.5, -0.75)],
        threshold=8.0,
        block_col="p_brand",
    )
    # full agreement: +4 (name) +3 (brand) +2 (type) +1.5 (size)
    self_score = 4.0 + 3.0 + 2.0 + 1.5
    cm = combos.select(F.col("id1").alias("pcid"), F.col("m").alias("pm"))
    sym = pairs.select(
        F.col("id_a").alias("cid"), F.col("id_b").alias("pcid"), "score"
    ).unionAll(
        pairs.select(
            F.col("id_b").alias("cid"), F.col("id_a").alias("pcid"), "score"
        )
    )
    link_agg = (
        sym.join(cm, "pcid")
        .groupBy("cid")
        .agg(
            F.sum("pm").alias("linked_m"),
            F.max("score").alias("max_link_score"),
            F.min("pcid").alias("min_linked_id"),
        )
    )
    # Round 13 (VERDICT item 3, resolved one step further): this was
    # the row's ONLY SortMergeJoin — the planner can't size link_agg
    # (aggregate over createDataFrame-free but stats-less chains), so
    # it shuffled+sorted BOTH sides. link_agg is bounded by the same
    # combo-collapse invariant as combos itself (≤ one row per combo,
    # 19,605 at ANY corpus size — the vocabulary product), which makes
    # it broadcast-safe at every scale: stronger than the shuffled-hash
    # hint the round-12 verdict suggested (no exchange, no sorts, and
    # the cached combos side never moves).
    prof = combos.join(
        F.broadcast(link_agg), combos["id1"] == link_agg["cid"], "left_outer"
    )
    sibling_min = F.when(F.col("rid") != F.col("id1"), F.col("id1")).otherwise(
        F.col("id2")
    )
    out = recs.join(prof, key).select(
        F.col("rid").alias("id"),
        (F.col("m") - 1 + F.coalesce(F.col("linked_m"), F.lit(0)))
        .cast("long")
        .alias("n_links"),
        F.greatest(
            F.when(F.col("m") > 1, F.lit(self_score)), F.col("max_link_score")
        ).alias("best_score"),
        F.least(sibling_min, F.col("min_linked_id")).alias("min_partner"),
    )
    return out.filter(F.col("n_links") > 0)


ER_RECORD_LINKS_SQL = """
WITH recs AS (
  SELECT p_partkey AS id, p_name AS name, p_brand, p_type, p_size
  FROM part
), grams AS (
  SELECT id, p_brand || '|' || unnest(list_distinct(list_transform(
    range(1, GREATEST(len(name) - 1, 1)), i -> substr(name, i, 3)))) AS gram
  FROM recs
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
), scored AS (
  SELECT id_a, id_b,
         levenshtein(ra.name, rb.name) AS name_dist,
         (ra.p_brand = rb.p_brand) AS brand_ok,
         (ra.p_type = rb.p_type) AS cont_ok,
         (abs(ra.p_size - rb.p_size) <= 2) AS size_ok
  FROM cand
  JOIN recs ra ON ra.id = cand.id_a
  JOIN recs rb ON rb.id = cand.id_b
), links AS (
  SELECT id_a, id_b,
         CAST((CASE WHEN name_dist <= 3 THEN 4.0 ELSE -2.0 END)
              + (CASE WHEN brand_ok THEN 3.0 ELSE -1.5 END)
              + (CASE WHEN cont_ok THEN 2.0 ELSE -1.0 END)
              + (CASE WHEN size_ok THEN 1.5 ELSE -0.75 END) AS DOUBLE)
           AS score
  FROM scored
  WHERE (CASE WHEN name_dist <= 3 THEN 4.0 ELSE -2.0 END)
        + (CASE WHEN brand_ok THEN 3.0 ELSE -1.5 END)
        + (CASE WHEN cont_ok THEN 2.0 ELSE -1.0 END)
        + (CASE WHEN size_ok THEN 1.5 ELSE -0.75 END) >= 8.0
), sym AS (
  SELECT id_a AS id, id_b AS partner, score FROM links
  UNION ALL
  SELECT id_b AS id, id_a AS partner, score FROM links
)
SELECT id, CAST(COUNT(*) AS BIGINT) AS n_links,
       MAX(score) AS best_score,
       MIN(partner) AS min_partner
FROM sym GROUP BY id
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS → duplicate CLUSTERS: connected components (min-
    label propagation) over the VERIFIED-LSH Jaccard pair graph,
    labeled by the min doc_id per component — the step that turns a
    similarity join into "keep one canonical doc per cluster".

    Round-10 scale rebase: the pair graph comes from
    ``dedup.lsh_verified_jaccard_pairs`` (banded-MinHash candidates +
    exact Jaccard verification) instead of the exact shared-shingle
    self-join — the 100× probe measured the old ``max_doc_freq=1000``
    guard admitting a 10.2-billion-row candidate stream once shingle
    doc-frequencies scaled with the corpus (SCALE.md), while the
    banded path's candidate count stays corpus × bands. Every emitted
    edge still carries TRUE Jaccard ≥ 0.35 (verified, not estimated),
    and the whole pipeline is md5-deterministic so the DuckDB oracle
    replicates it bucket-for-bucket."""
    from ontario_spark.operators.graph import connected_components
    from pyspark.sql.window import Window

    pairs = dedup.lsh_verified_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.35,
        num_hashes=16,
        bands=8,
    )
    comp = connected_components(pairs, "id_a", "id_b")
    return comp.select(
        F.col("n").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.count(F.lit(1)).over(Window.partitionBy("component")).alias("n_members"),
    )


# MinHash banding CTEs (same determinism story as _minhash_lsh_sql) +
# exact-Jaccard verification of the banded candidates, then components
# via a recursive min-reachability CTE (r = every node reachable from
# n; cluster_id = MIN(r) — identical labeling rule to min propagation).
def _dedup_clusters_sql() -> str:
    from ontario_spark.operators.dedup import _MERSENNE, _seed_coeffs

    k, bands = 16, 8
    r = k // bands
    mins = ",\n    ".join(
        f"MIN((h * {a} + {b}) % {_MERSENNE}) AS mh{i}"
        for i, (a, b) in enumerate(_seed_coeffs(k))
    )
    banded = "\n  UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, md5("
        + " || '|' || ".join(f"mh{band * r + j}::VARCHAR" for j in range(r))
        + ") AS bucket FROM sig"
        for band in range(bands)
    )
    return f"""
WITH RECURSIVE sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), ex AS (
  SELECT doc_id, array_length(shingles) AS n_sh, unnest(shingles) AS shingle
  FROM sh
), base AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MERSENNE} AS h
  FROM ex
), sig AS (
  SELECT doc_id,
    {mins}
  FROM base GROUP BY doc_id
), banded AS (
  {banded}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), pairs AS (
  SELECT id_a, id_b, COUNT(*) AS n_common,
         ANY_VALUE(a.n_sh) AS n_a, ANY_VALUE(b.n_sh) AS n_b
  FROM cand
  JOIN ex a ON a.doc_id = id_a
  JOIN ex b ON b.doc_id = id_b AND b.shingle = a.shingle
  GROUP BY id_a, id_b
), jac AS (
  SELECT id_a, id_b FROM pairs
  WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= 0.35
), edges AS (
  SELECT id_a AS a, id_b AS b FROM jac
  UNION SELECT id_b AS a, id_a AS b FROM jac
), reach(n, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.n
), comp AS (
  SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
FROM comp
"""


DEDUP_CLUSTERS_SQL = _dedup_clusters_sql()


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: docs whose distinct-shingle
    overlap with the (deterministic ``doc_id % 97 == 0``) benchmark
    slice clears the flag threshold — the pre-training
    decontamination gate. Threshold 0.08 sits in the tail of the
    synthetic corpus's overlap distribution (p99 ≈ 0.07 at sf0.01), so
    the flagged set is small but non-empty at every test SF."""
    docs = table(spark, sf_dir, "documents")
    return dedup.contamination_overlap(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        "doc_id",
        "text",
        n=3,
        threshold=0.08,
    )


CONTAMINATION_SQL = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0
), ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 <> 0
), per AS (
  SELECT e.doc_id, COUNT(*) AS n_shingles,
         CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits
  FROM ex e LEFT JOIN bench b ON e.shingle = b.shingle
  GROUP BY e.doc_id
)
SELECT doc_id, n_shingles, n_hits,
       ROUND(CAST(n_hits AS DOUBLE) / n_shingles, 6) AS overlap
FROM per
WHERE CAST(n_hits AS DOUBLE) / n_shingles >= 0.08
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.repetition_stats(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


TEXT_REPETITION_SQL = """
WITH g AS (
  SELECT doc_id, array_length(w) AS nt,
         array_length(list_distinct(w)) AS dt,
         CASE WHEN array_length(w) >= 2
              THEN list_transform(range(1, array_length(w)),
                                  i -> w[i] || ' ' || w[i+1])
              ELSE CAST([] AS VARCHAR[]) END AS g2,
         CASE WHEN array_length(w) >= 3
              THEN list_transform(range(1, array_length(w) - 1),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
              ELSE CAST([] AS VARCHAR[]) END AS g3
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
)
SELECT doc_id, CAST(nt AS INT) AS n_tokens,
  ROUND(CASE WHEN nt > 0
        THEN (nt - dt) / CAST(nt AS DOUBLE) ELSE 0.0 END, 6)
    AS dup_token_frac,
  ROUND(CASE WHEN array_length(g2) > 0
        THEN (array_length(g2) - array_length(list_distinct(g2)))
             / CAST(array_length(g2) AS DOUBLE) ELSE 0.0 END, 6)
    AS dup_2gram_frac,
  ROUND(CASE WHEN array_length(g3) > 0
        THEN (array_length(g3) - array_length(list_distinct(g3)))
             / CAST(array_length(g3) AS DOUBLE) ELSE 0.0 END, 6)
    AS dup_3gram_frac
FROM g
"""


def frequent_terms_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.frequent_terms(
        table(spark, sf_dir, "documents"), "doc_id", "text", k=50
    )


FREQUENT_TERMS_SQL = """
WITH tok AS (
  SELECT doc_id,
         lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS term
  FROM documents
), agg AS (
  SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
  FROM tok GROUP BY term
)
SELECT term,
       CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, term) AS INT)
         AS rank,
       n_occurrences, n_docs
FROM agg
QUALIFY rank <= 50
"""


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        num_hashes=16,
        bands=8,
        threshold=0.4,
    )


def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified-LSH exact-Jaccard pairs (round 10): banded-MinHash
    candidates, each verified with TRUE n-gram Jaccard — the
    candidate/verify composition production dedup runs at corpus scale
    (see dedup_clusters for why the fixed-doc-freq-cap exact self-join
    does not survive 100×). Surfaced as its own row so the operator's
    scores are externally checkable, not just the downstream
    clusters."""
    return dedup.lsh_verified_jaccard_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n=3,
        threshold=0.35,
        num_hashes=16,
        bands=8,
    )


def _lsh_verified_sql(k: int, bands: int, threshold: float) -> str:
    """Shared unrolled replay of ``dedup.lsh_verified_jaccard_pairs``
    for any (num_hashes, bands) configuration — used by both the
    standard-recall row (``dedup_lsh_verified``, 16/8) and the
    high-recall row (``dedup_ngram_jaccard``, 48/24, round 11)."""
    from ontario_spark.operators.dedup import _MERSENNE, _seed_coeffs

    r = k // bands
    mins = ",\n    ".join(
        f"MIN((h * {a} + {b}) % {_MERSENNE}) AS mh{i}"
        for i, (a, b) in enumerate(_seed_coeffs(k))
    )
    banded = "\n  UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, md5("
        + " || '|' || ".join(f"mh{band * r + j}::VARCHAR" for j in range(r))
        + ") AS bucket FROM sig"
        for band in range(bands)
    )
    return f"""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), ex AS (
  SELECT doc_id, array_length(shingles) AS n_sh, unnest(shingles) AS shingle
  FROM sh
), base AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MERSENNE} AS h
  FROM ex
), sig AS (
  SELECT doc_id,
    {mins}
  FROM base GROUP BY doc_id
), banded AS (
  {banded}
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
), pairs AS (
  SELECT id_a, id_b, COUNT(*) AS n_common,
         ANY_VALUE(a.n_sh) AS n_a, ANY_VALUE(b.n_sh) AS n_b
  FROM cand
  JOIN ex a ON a.doc_id = id_a
  JOIN ex b ON b.doc_id = id_b AND b.shingle = a.shingle
  GROUP BY id_a, id_b
)
SELECT id_a, id_b,
       CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
FROM pairs
WHERE CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) >= {threshold}
"""


DEDUP_LSH_VERIFIED_SQL = _lsh_verified_sql(16, 8, 0.35)
DEDUP_JACCARD_SQL = _lsh_verified_sql(48, 24, 0.35)


def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style paragraph-instance dedup (round 10): duplicated
    paragraphs keep their first (doc, pos) instance, every other
    instance is marked for removal — singleton-preserving, unlike the
    frequency-gated boilerplate pass."""
    return dedup.dedup_paragraph_instances(
        table(spark, sf_dir, "documents"), "doc_id", "text", chunk=4
    )


DEDUP_PARAGRAPHS_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), chunks AS (
  SELECT doc_id, s AS pos, md5(array_to_string(ws[s+1:s+4], ' ')) AS line_hash
  FROM w, LATERAL unnest(range(0, len(ws), 4)) AS t(s)
)
SELECT line_hash, doc_id, pos,
       (ROW_NUMBER() OVER (PARTITION BY line_hash ORDER BY doc_id, pos)) = 1
         AS is_canonical
FROM chunks
QUALIFY COUNT(*) OVER (PARTITION BY line_hash) >= 2
"""


def _minhash_lsh_sql() -> str:
    """DuckDB oracle for the full MinHash-LSH pipeline. Possible only
    because every hash in the operator is md5-derived (engine-
    independent): base hash = hex-parsed md5 prefix, the k affine
    hashes use the same deterministic seed coefficients, band buckets
    are md5 of the '|'-joined signature slice."""
    from ontario_spark.operators.dedup import _MERSENNE, _seed_coeffs

    k, bands = 16, 8
    r = k // bands
    mins = ",\n    ".join(
        f"MIN((h * {a} + {b}) % {_MERSENNE}) AS mh{i}"
        for i, (a, b) in enumerate(_seed_coeffs(k))
    )
    banded = "\n  UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, md5("
        + " || '|' || ".join(f"mh{band * r + j}::VARCHAR" for j in range(r))
        + ") AS bucket FROM sig"
        for band in range(bands)
    )
    eqs = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), base AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MERSENNE} AS h
  FROM sh
), sig AS (
  SELECT doc_id,
    {mins}
  FROM base GROUP BY doc_id
), banded AS (
  {banded}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST({eqs} AS DOUBLE) / {k}.0 AS est_jaccard
FROM pairs
JOIN sig sa ON id_a = sa.doc_id
JOIN sig sb ON id_b = sb.doc_id
WHERE CAST({eqs} AS DOUBLE) / {k}.0 >= 0.4
"""


MINHASH_LSH_SQL = _minhash_lsh_sql()


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(table(spark, sf_dir, "documents"), "doc_id", "text")


SIMHASH_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(w), 25, 8))::BIGINT AS h FROM tok
), bits AS (
  SELECT doc_id, b.i,
         SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(32)) AS i) b
  GROUP BY doc_id, b.i
)
SELECT doc_id,
       SUM(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id
"""


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs within hamming distance 3 of a 60-bit SimHash,
    via pigeonhole banding (4×15-bit chunks) + exact bit_count verify
    — the Manku WWW'07 web-dedup join, no all-pairs step."""
    return dedup.simhash_hamming_pairs(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        bits=60, max_hamming=3, band_cap=200,
    )


# 60-bit simhash (trailing 15 md5 hex chars), banded into 4 chunks of
# 15 bits, bucket cap 200 mirrored via a window count — character-for-
# character the plan dedup.simhash_hamming_pairs builds.
DEDUP_SIMHASH_PAIRS_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
  FROM documents
), th AS (
  SELECT doc_id, ('0x' || substr(md5(w), 18, 15))::BIGINT AS h FROM tok
), bits AS (
  SELECT doc_id, b.i,
         SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(60)) AS i) b
  GROUP BY doc_id, b.i
), fp AS (
  SELECT doc_id,
         SUM(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS sh
  FROM bits GROUP BY doc_id
), banded AS (
  SELECT doc_id, sh, b.band, (sh >> (b.band * 15)) & 32767 AS chunk
  FROM fp CROSS JOIN (SELECT unnest(range(4)) AS band) b
), kept AS (
  SELECT doc_id, sh, band, chunk FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY band, chunk) AS bn FROM banded
  ) WHERE bn <= 200
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.sh AS sh_a, b.sh AS sh_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise exact 3-gram Jaccard between SOURCES (the corpus-
    selection overlap matrix): distinct shingles per source, shingle-
    keyed intersection join, |sources|² output grid."""
    return dedup.source_ngram_overlap(
        table(spark, sf_dir, "documents"), "text", "source", n=3
    )


CORPUS_SOURCE_OVERLAP_SQL = """
WITH sh AS (
  SELECT DISTINCT source, shingle FROM (
    SELECT source,
           unnest(list_transform(
             range(1, GREATEST(array_length(w) - 1, 1)),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS w
          FROM documents)
  )
), sizes AS (
  SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa.source AS source_a, sb.source AS source_b,
       sa.n_sh AS n_a, sb.n_sh AS n_b,
       COALESCE(i.n_common, 0) AS n_common,
       CAST(COALESCE(i.n_common, 0) AS DOUBLE)
         / (sa.n_sh + sb.n_sh - COALESCE(i.n_common, 0)) AS jaccard
FROM sizes sa JOIN sizes sb ON sa.source < sb.source
LEFT JOIN inter i ON i.source_a = sa.source AND i.source_b = sb.source
"""


def vocab_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates (adjacent character pairs by
    corpus frequency) — one vocabulary-induction round computed where
    the corpus lives (operators/textops.py::bpe_merge_candidates)."""
    from ontario_spark.operators.textops import bpe_merge_candidates

    return bpe_merge_candidates(table(spark, sf_dir, "documents"), "text", k=20)


VOCAB_MERGE_SQL = """
WITH tok AS (
  SELECT lower(unnest(regexp_split_to_array(trim(text), '\\s+'))) AS w
  FROM documents
), wf AS (
  SELECT w, COUNT(*) AS f FROM tok GROUP BY w HAVING length(w) >= 2
), pairs AS (
  SELECT unnest(list_transform(
           range(1, length(w)),
           i -> substr(w, CAST(i AS INT), 2))) AS pair, f
  FROM wf
), agg AS (
  SELECT pair, SUM(f) AS pair_count FROM pairs GROUP BY pair
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS INT)
         AS merge_rank,
       pair, CAST(pair_count AS BIGINT) AS pair_count
FROM (SELECT * FROM agg ORDER BY pair_count DESC, pair LIMIT 20)
"""


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight iterated BPE merge rounds (round 11): each round's argmax
    pair is APPLIED to every word's symbol sequence before the next
    count — real tokenizer training, not the single-round candidate
    profile (operators/textops.py::bpe_train_merges; greedy-fold
    semantics hand-pinned in pytest)."""
    from ontario_spark.operators.textops import bpe_train_merges

    return bpe_train_merges(table(spark, sf_dir, "documents"), "text", rounds=8)


def _bpe_train_sql() -> str:
    from ontario_spark.operators.textops import bpe_train_sql

    return bpe_train_sql("documents", "text", rounds=8)


TEXT_BPE_MERGES_SQL = _bpe_train_sql()


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer application (round 11): the 8 trained merges applied
    to every document via the distinct-word vocab join; per-doc word /
    char / BPE-token counts (operators/textops.py::bpe_encode_stats) —
    the token-budget accounting a training-data pipeline runs with the
    tokenizer it just trained."""
    from ontario_spark.operators.textops import bpe_encode_stats

    return bpe_encode_stats(
        table(spark, sf_dir, "documents"), "doc_id", "text", rounds=8
    )


def _bpe_encode_sql() -> str:
    from ontario_spark.operators.textops import bpe_encode_sql

    return bpe_encode_sql("documents", "doc_id", "text", rounds=8)


TEXT_BPE_ENCODE_SQL = _bpe_encode_sql()


def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer FERTILITY (round 11) — the multilingual
    tokenizer-quality readout (tokens/word; chars/token) for the BPE
    vocab just trained: completes the train → apply → evaluate story
    (`text_bpe_merges` → `text_bpe_encode` → this). A tokenizer that
    fragments one language 2× more than another silently halves that
    language's effective context — this is the table that catches it.
    Exact integer sums joined per doc to `lang`, one bounded
    per-language aggregate."""
    from ontario_spark.operators.textops import bpe_encode_stats

    docs = table(spark, sf_dir, "documents")
    enc = bpe_encode_stats(docs, "doc_id", "text", rounds=8)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.sum("n_words"), 6
            ).alias("tokens_per_word"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_tokens"), 6
            ).alias("chars_per_token"),
        )
    )


def _tokenizer_fertility_sql() -> str:
    from ontario_spark.operators.textops import bpe_encode_sql

    enc = bpe_encode_sql("documents", "doc_id", "text", rounds=8)
    return f"""
WITH enc AS ({enc})
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words), 6)
         AS tokens_per_word,
       ROUND(CAST(SUM(enc.n_chars) AS DOUBLE) / SUM(n_tokens), 6)
         AS chars_per_token
FROM enc JOIN documents USING (doc_id)
GROUP BY lang
"""


TEXT_TOKENIZER_FERTILITY_SQL = _tokenizer_fertility_sql()


def train_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing (round 11): per
    SOURCE (the shard unit — strata pack in parallel, no global sort),
    documents concatenate in doc_id order and the token stream cuts
    into 2048-token packs; each doc reports its pack span and offset
    (operators/sampling.py::token_packing)."""
    from ontario_spark.operators.sampling import token_packing

    return token_packing(
        table(spark, sf_dir, "documents"), "doc_id", "text", "source",
        seq_len=2048,
    )


def _token_packing_sql() -> str:
    from ontario_spark.operators.sampling import token_packing_sql

    return token_packing_sql("documents", "doc_id", "text", "source", 2048)


TRAIN_TOKEN_PACKING_SQL = _token_packing_sql()


def text_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF,
    round-then-rank deterministic (see retrieval.tfidf_top_terms)."""
    from ontario_spark.operators.retrieval import tfidf_top_terms

    return tfidf_top_terms(table(spark, sf_dir, "documents"), "doc_id", "text", k=3)


def _tfidf_sql() -> str:
    from ontario_spark.operators.retrieval import tfidf_sql

    return tfidf_sql("documents", "doc_id", "text", k=3)


TEXT_TFIDF_SQL = _tfidf_sql()


# --- similarity search --------------------------------------------------


def _queries_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)


ANN_ORACLE_CTE = """
WITH c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.qv, c.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.v, c.v)))
           AS score
  FROM c, q WHERE c.vec_id != q.query_id {extra}
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored) t
WHERE rank <= 3
"""


def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(emb, _queries_subset(spark, sf_dir), k=3)


ANN_BRUTEFORCE_SQL = ANN_ORACLE_CTE.format(extra="")


def ann_topk_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.bucketed_topk(
        emb, _queries_subset(spark, sf_dir), k=3, bits=4, dim=64
    )


def _ann_bucketed_sql() -> str:
    bucket = similarity.hyperplane_bucket_sql("v", dim=64, bits=4)
    return f"""
WITH c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cb AS (
  SELECT vec_id, v, {bucket} AS bucket FROM c
), q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM cb WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, cb.vec_id AS neighbor_id,
         list_dot_product(q.qv, cb.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cb.v, cb.v)))
           AS score
  FROM cb JOIN q ON cb.bucket = q.bucket AND cb.vec_id != q.query_id
)
SELECT query_id, neighbor_id, rank, score FROM (
  SELECT query_id, neighbor_id, score,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC) AS rank
  FROM scored) t
WHERE rank <= 3
"""


ANN_BUCKETED_SQL = _ann_bucketed_sql()


def emb_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded clustering (round 9): every embedding
    assigned to its highest-cosine seed among the 8 lowest-id vectors
    — shuffle-free per-row argmax over in-plan literal centroids (see
    operators/similarity.py::seeded_cluster_assign)."""
    return similarity.seeded_cluster_assign(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=8
    )


EMB_CLUSTER_ASSIGN_SQL = """
WITH c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id AS cid, v AS sv FROM c ORDER BY vec_id LIMIT 8
), scored AS (
  SELECT c.vec_id, s.cid,
         list_dot_product(c.v, s.sv)
           / (sqrt(list_dot_product(c.v, c.v))
              * sqrt(list_dot_product(s.sv, s.sv))) AS score
  FROM c, s
)
SELECT vec_id, cid AS cluster_id, score FROM (
  SELECT vec_id, cid, score,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, cid ASC) AS rn
  FROM scored) t
WHERE rn = 1
"""


def emb_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization stats (round 10): code
    sums / saturation counts are pure integer arithmetic over
    floor-quantized codes, so DuckDB reproduces them bit-for-bit
    (operators/similarity.py::int8_quantize)."""
    q = similarity.int8_quantize(table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "n_dims",
        "maxabs",
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_codes"),
        F.aggregate(
            "codes", F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("sum_abs_codes"),
        F.size(F.filter("codes", lambda c: F.abs(c) == 127))
        .cast("int")
        .alias("n_saturated"),
    )


EMB_INT8_QUANT_SQL = """
WITH m AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS maxabs
  FROM embeddings
), c AS (
  SELECT vec_id, maxabs, len(v) AS n_dims,
         list_transform(v, x -> CASE WHEN maxabs > 0
             THEN CAST(floor(x / maxabs * 127.0) AS INT) ELSE 0 END) AS codes
  FROM m
)
SELECT vec_id, CAST(n_dims AS INT) AS n_dims, maxabs,
       CAST(list_sum(codes) AS BIGINT) AS sum_codes,
       CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT)
         AS sum_abs_codes,
       CAST(len(list_filter(codes, x -> abs(x) = 127)) AS INT) AS n_saturated
FROM c
"""


def ann_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized ANN serving (round 10): top-3 neighbors by the exact
    INTEGER dot product of int8 codes — the compressed-index tier
    between brute force and IVF/PQ; integer scores make the ranking
    engine-exact, recall vs brute force is pytest-pinned
    (operators/similarity.py::int8_topk)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.int8_topk(emb, _queries_subset(spark, sf_dir), k=3)


ANN_INT8_SQL = """
WITH m AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS maxabs
  FROM embeddings
), c AS (
  SELECT vec_id,
         list_transform(v, x -> CASE WHEN maxabs > 0
             THEN CAST(floor(x / maxabs * 127.0) AS BIGINT) ELSE 0 END)
           AS codes
  FROM m
), q AS (SELECT vec_id AS query_id, codes AS qcodes FROM c WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_dot_product(q.qcodes, c.codes) AS BIGINT) AS qdot
  FROM c JOIN q ON c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, rank, qdot FROM (
  SELECT query_id, neighbor_id, qdot,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY qdot DESC, neighbor_id ASC) AS rank
  FROM scored) t
WHERE rank <= 3
"""


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection 64→16 with the norm-preservation ratio
    (round 10): seeded dyadic plane literals + strict-order folds make
    the doubles engine-exact
    (operators/similarity.py::random_projection_stats)."""
    return similarity.random_projection_stats(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        dim=64, out_dim=16,
    )


def _emb_random_projection_sql() -> str:
    proj, norm = similarity.random_projection_sql("v", dim=64, out_dim=16)
    return f"""
WITH c AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), s AS (
  SELECT vec_id, {norm} AS norm_sq, {proj} AS proj_norm_sq FROM c
)
SELECT vec_id, norm_sq, proj_norm_sq,
       CASE WHEN norm_sq > 0
            THEN proj_norm_sq * 4.0 / norm_sq END AS jl_ratio,
       CASE WHEN norm_sq > 0
            THEN proj_norm_sq * 4.0 / norm_sq BETWEEN 0.2 AND 5.0
       END AS jl_ok
FROM s
"""


EMB_RANDOM_PROJECTION_SQL = _emb_random_projection_sql()


def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means coarse quantizer). No SQL oracle — DuckDB has no
    k-means; recall-vs-bruteforce and determinism are pytest-covered
    (tests/test_dedup_similarity.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb, _queries_subset(spark, sf_dir), k=3, n_lists=8, n_probe=3
    )


def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (codebook ADC + exact rerank). No SQL
    oracle — DuckDB has no k-means; recall-vs-bruteforce, determinism
    under input shuffling, and the no-Python encode plan are
    pytest-covered (tests/test_dedup_similarity.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.pq_topk(
        emb, _queries_subset(spark, sf_dir), k=3, m=16, n_centroids=16, rerank=8
    )


def ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × PQ composed (round-5): coarse cells prune to n_probe
    lists, ADC scores only those cells' codes, exact rerank repairs
    recall. No SQL oracle — DuckDB has no k-means; recall-vs-bruteforce
    and the no-driver-collect query path are pytest-covered
    (tests/test_dedup_similarity.py)."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        emb, _queries_subset(spark, sf_dir), k=3, m=16, n_centroids=16,
        rerank=8, n_lists=8, n_probe=3,
    )


def emb_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket_size caps self-join fan-out per bucket (the skew
    # guard); over-cap buckets split into salted sub-buckets (round-5:
    # the 10x scale probe showed the old drop policy discarding the
    # whole corpus once average bucket population crossed the cap).
    # The oracle replicates the split exactly (same md5-derived sub
    # ids), so the contract is checked end-to-end.
    return similarity.neardup_pairs(
        table(spark, sf_dir, "embeddings"),
        threshold=0.2,
        bits=4,
        dim=64,
        max_bucket_size=200,
    )


def _emb_cc_ctes() -> str:
    """Shared CTE prefix replicating ``neardup_pairs``'s seeded
    hyperplane bucketing + md5 sub-bucket split (cap 200) in DuckDB —
    used by both the pair oracle and the semantic-dedup oracle, so the
    two stay definitionally identical."""
    bucket = similarity.hyperplane_bucket_sql("v", dim=64, bits=4)
    return f"""c0 AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), c AS (
  SELECT vec_id, v, {bucket} AS bucket FROM c0
), cnt AS (
  SELECT bucket, COUNT(*) AS n FROM c GROUP BY bucket
), cc AS (
  SELECT c.vec_id, c.v, c.bucket,
         CAST(('0x' || substring(md5(CAST(c.vec_id AS VARCHAR)), 1, 7)) AS BIGINT)
           % GREATEST(CAST(ceil(CAST(n AS DOUBLE) / 200) AS BIGINT), 1) AS sub
  FROM c JOIN cnt USING (bucket)
)"""


EMB_NEARDUP_SQL = f"""
WITH {_emb_cc_ctes()}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.v, b.v)
         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         AS score
FROM cc a JOIN cc b
  ON a.bucket = b.bucket AND a.sub = b.sub AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.2
"""


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style per-document verdict (round 6): the emb_neardup
    pair graph closed into clusters (min-label connected components),
    keeping the min-id representative per cluster; singletons keep
    themselves. Same LSH parameters as ``emb_neardup_pairs`` so the
    oracle shares its bucketing CTEs verbatim."""
    return similarity.semantic_dedup(
        table(spark, sf_dir, "embeddings"),
        threshold=0.2,
        bits=4,
        dim=64,
        max_bucket_size=200,
    )


SEMANTIC_DEDUP_SQL = f"""
WITH RECURSIVE {_emb_cc_ctes()}, p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM cc a JOIN cc b
    ON a.bucket = b.bucket AND a.sub = b.sub AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.2
), edges AS (
  SELECT id_a AS a, id_b AS b FROM p
  UNION SELECT id_b AS a, id_a AS b FROM p
), reach(n, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.n
), comp AS (
  SELECT n, MIN(r) AS cluster FROM reach GROUP BY n
)
SELECT e.vec_id,
       COALESCE(c2.cluster, e.vec_id) AS cluster_id,
       e.vec_id = COALESCE(c2.cluster, e.vec_id) AS keep
FROM embeddings e LEFT JOIN comp c2 ON c2.n = e.vec_id
"""


# --- text analysis ------------------------------------------------------


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_stats(table(spark, sf_dir, "documents"), "doc_id", "text")


TEXT_TOKEN_STATS_SQL = """
SELECT doc_id,
       array_length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\\s+'),
                     w -> CAST(ceil(length(w) / 4.0) AS INT))) AS INT) AS n_subword_est,
       length(text) AS n_chars
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_score(table(spark, sf_dir, "documents"), "doc_id", "text")


TEXT_QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
       array_length(toks) AS n_tokens,
       CAST(length(text) - (array_length(toks) - 1) AS DOUBLE)
         / array_length(toks) AS mean_word_len,
       CAST(len(list_filter(toks,
              w -> w IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
         / array_length(toks) AS stopword_ratio,
       CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
         / length(text) AS alpha_ratio
FROM t
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(table(spark, sf_dir, "documents"), "doc_id", "text")


TEXT_LANGID_SQL = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
), s AS (
  SELECT doc_id,
    len(list_filter(toks, w -> lower(w) IN ('the','a','of','and','to'))) AS s_en,
    len(list_filter(toks, w -> lower(w) IN ('der','die','das','und','ein'))) AS s_de,
    len(list_filter(toks, w -> lower(w) IN ('le','la','les','et','un'))) AS s_fr,
    len(list_filter(toks, w -> lower(w) IN ('el','los','las','y','una'))) AS s_es
  FROM t
)
SELECT doc_id,
  CASE WHEN GREATEST(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_de = GREATEST(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_en = GREATEST(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_es = GREATEST(s_en, s_de, s_fr, s_es) THEN 'es'
       ELSE 'fr' END AS pred_lang,
  GREATEST(s_en, s_de, s_fr, s_es) AS marker_hits
FROM s
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprint(table(spark, sf_dir, "documents"), "doc_id", "text")


TEXT_FINGERPRINT_SQL = """
WITH sh AS (
  SELECT doc_id, text,
         list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
)
SELECT doc_id, md5(text) AS content_hash,
       list_min(list_transform(shingles, s -> md5(s))) AS shingle_anchor
FROM sh
"""


def text_winnow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True winnowing fingerprints (round 9): per-doc count of
    window-minimum 4-gram hashes at w=5 plus the global minimum — any
    shared token run of ≥8 tokens between two docs shares a
    fingerprint (see operators/textops.py::winnow_fingerprints)."""
    return textops.winnow_profile(
        table(spark, sf_dir, "documents"), "doc_id", "text", k=4, w=5
    )


TEXT_WINNOW_SQL = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(array_length(w) - 2, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
           AS grams
  FROM t WHERE array_length(w) >= 4
), h AS (
  SELECT doc_id,
         unnest(list_transform(grams,
           g -> CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT))) AS h,
         generate_subscripts(grams, 1) AS pos,
         array_length(grams) AS n
  FROM g
), wins AS (
  SELECT doc_id, pos, n,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
  FROM h
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= GREATEST(n - 4, 1)
)
SELECT doc_id, COUNT(*) AS n_fps, MIN(fp) AS min_fp
FROM fps GROUP BY doc_id
"""


def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting (round 9): real GPT-2-family
    pretokenizer matches with a word/number/other class split (see
    operators/textops.py::regex_token_stats; the pattern is
    constrained to Java-regex ∩ RE2 so the oracle tokenizes
    identically)."""
    return textops.regex_token_stats(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


_BPE_PAT_SQL = textops.BPE_TOKEN_PATTERN.replace("'", "''")

TEXT_REGEX_TOKENS_SQL = f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(text, '{_BPE_PAT_SQL}') AS toks
  FROM documents
)
SELECT doc_id,
  len(toks) AS n_bpe_tokens,
  len(list_filter(toks,
      x -> regexp_matches(substring(ltrim(x), 1, 1), '\\p{{L}}')))
    AS n_word_tokens,
  len(list_filter(toks,
      x -> regexp_matches(substring(ltrim(x), 1, 1), '\\p{{N}}')))
    AS n_num_tokens,
  len(toks)
    - len(list_filter(toks,
        x -> regexp_matches(substring(ltrim(x), 1, 1), '\\p{{L}}')))
    - len(list_filter(toks,
        x -> regexp_matches(substring(ltrim(x), 1, 1), '\\p{{N}}')))
    - len(list_filter(toks, x -> trim(x) = ''))
    AS n_other_tokens
FROM t
"""


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing inverted-index pairs (round 9): docs sharing ≥2
    window-minimum 4-gram hashes — position-local overlap detection
    (see operators/dedup.py::winnow_overlap_pairs)."""
    return dedup.winnow_overlap_pairs(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=4,
        w=5,
        min_shared=2,
        max_fp_freq=1000,
    )


DEDUP_WINNOW_PAIRS_SQL = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, GREATEST(array_length(w) - 2, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
           AS grams
  FROM t WHERE array_length(w) >= 4
), h AS (
  SELECT doc_id,
         unnest(list_transform(grams,
           g -> CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT))) AS h,
         generate_subscripts(grams, 1) AS pos,
         array_length(grams) AS n
  FROM g
), wins AS (
  SELECT doc_id, pos, n,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp
  FROM h
), fps AS (
  SELECT DISTINCT doc_id, fp FROM wins WHERE pos <= GREATEST(n - 4, 1)
), rare AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 1000
), capped AS (
  SELECT f.doc_id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared_fps
FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING COUNT(*) >= 2
"""


def text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combined text-analysis profile: token counting, quality scoring,
    language ID, and fingerprinting in one result keyed on doc_id —
    the one-row-per-document feature table a curation pipeline
    actually materializes. The per-row metrics are pure projections
    (shared scan); langid and the shingle anchor each need their own
    explode→aggregate, re-joined on doc_id (co-partitioned by the
    aggregation's own shuffle, so the joins add no extra exchange of
    the large side)."""
    docs = table(spark, sf_dir, "documents")
    ts = textops.token_stats(docs, "doc_id", "text")
    q = textops.quality_score(docs, "doc_id", "text").drop("n_tokens")
    li = textops.lang_id(docs, "doc_id", "text")
    fp = textops.fingerprint(docs, "doc_id", "text")
    return ts.join(q, "doc_id").join(li, "doc_id").join(fp, "doc_id")


TEXT_METRICS_SQL = f"""
SELECT t.doc_id, t.n_tokens, t.n_subword_est, t.n_chars,
       q.mean_word_len, q.stopword_ratio, q.alpha_ratio,
       l.pred_lang, l.marker_hits,
       f.content_hash, f.shingle_anchor
FROM ({TEXT_TOKEN_STATS_SQL}) t
JOIN ({TEXT_QUALITY_SQL}) q ON t.doc_id = q.doc_id
JOIN ({TEXT_LANGID_SQL}) l ON t.doc_id = l.doc_id
JOIN ({TEXT_FINGERPRINT_SQL}) f ON t.doc_id = f.doc_id
"""


def text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM negative log-prob per document (round 6) — the
    perplexity-style quality filter, self-trained on the corpus; the
    DECIMAL-summed contributions make the score exactly reproducible
    in the DuckDB oracle."""
    return textops.unigram_logprob(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


TEXT_PERPLEXITY_SQL = """
WITH tok AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), vocab AS (
  SELECT term, COUNT(*) AS c FROM tok GROUP BY term
), tot AS (
  SELECT COUNT(*) AS n, COUNT(DISTINCT term) AS v FROM tok
), contrib AS (
  SELECT doc_id, tf,
         CAST(ROUND(
           CAST(tf AS DOUBLE)
             * ln(CAST(n + v AS DOUBLE) / CAST(c + 1 AS DOUBLE)),
           6) AS DECIMAL(18,6)) AS s
  FROM tf JOIN vocab USING (term) CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(tf) AS INT) AS n_tokens,
       CAST(SUM(s) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) AS avg_neg_logprob
FROM contrib GROUP BY doc_id
"""


def text_url_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + domain-blocklist gate (round 5). The synthetic
    corpus carries no URLs, so deterministic ones are planted on doc_id
    residues (both engines construct identical text); counts, the
    sorted distinct domain set, and blocklist hits are all
    oracle-checked."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 9 == 0,
                F.concat(F.lit(" see https://Example.com/a/"), did),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 15 == 0,
                F.lit(" via http://Spam.bad-site.com/x?y=1 now"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return textops.url_scan(
        planted, "doc_id", "text",
        blocklist=["spam.bad-site.com", "tracker.example.net"],
    )


TEXT_URL_SCAN_SQL = """
WITH planted AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 9 = 0
            THEN ' see https://Example.com/a/' || CAST(doc_id AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 15 = 0
            THEN ' via http://Spam.bad-site.com/x?y=1 now' ELSE '' END AS text
  FROM documents
), u AS (
  SELECT doc_id,
         regexp_extract_all(
           COALESCE(text, ''),
           'https?://[A-Za-z0-9.-]+(?:/[^ \\t\\n\\x0B\\f\\r]*)?') AS urls
  FROM planted
), d AS (
  SELECT doc_id, len(urls) AS n_urls,
         list_sort(list_distinct(list_transform(
           urls, x -> lower(regexp_extract(x, 'https?://([A-Za-z0-9.-]+)', 1))
         ))) AS doms
  FROM u
)
SELECT doc_id, CAST(n_urls AS INT) AS n_urls,
       COALESCE(array_to_string(doms, ','), '') AS domains,
       CAST(len(list_intersect(
         doms, ['spam.bad-site.com', 'tracker.example.net'])) AS INT)
         AS n_blocked
FROM d
"""


def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (round 6): 64-token windows
    every 48 tokens (16-token overlap) — the RAG/embedding passage
    prep. Map-only explode+slice; chunk ids, texts, and sizes are all
    oracle-checked."""
    return textops.chunk_documents(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        chunk_size=64,
        overlap=16,
    )


# chunk windows: start every 48 tokens, 64 long, 1-based inclusive
# list slicing in DuckDB == slice(start, length) in Spark.
DOC_CHUNKS_SQL = """
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(COALESCE(text, '')), '\\s+') AS w
  FROM documents
), n AS (
  SELECT doc_id, w, array_length(w) AS n FROM t
), c AS (
  SELECT doc_id, w,
         GREATEST(CAST(ceil(CAST(n - 16 AS DOUBLE) / 48) AS INT), 1)
           AS n_chunks
  FROM n
), e AS (
  SELECT doc_id, w, unnest(range(n_chunks)) AS chunk_id FROM c
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       array_to_string(
         w[CAST(chunk_id * 48 + 1 AS INT):CAST(chunk_id * 48 + 64 AS INT)],
         ' ') AS chunk_text,
       CAST(len(
         w[CAST(chunk_id * 48 + 1 AS INT):CAST(chunk_id * 48 + 64 AS INT)]
       ) AS INT) AS n_chunk_tokens
FROM e
"""


def pipeline_rag_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed RAG ingestion prep (round 6): chunk documents into
    overlapping token windows → drop sub-8-token tail scraps → exact-
    dedup chunks on content hash keeping the first (doc_id, chunk_id)
    occurrence — ONE lazy plan (chunking is map-only; the dedup window
    is the only shuffle, keyed on the 16-byte hash, never the text)."""
    from pyspark.sql.window import Window

    chunks = textops.chunk_documents(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        chunk_size=64, overlap=16,
    ).filter(F.col("n_chunk_tokens") >= 8)
    h = F.md5(F.col("chunk_text"))
    w = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_id")
    return (
        chunks.select(
            "doc_id", "chunk_id", h.alias("chunk_hash"), "n_chunk_tokens"
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


PIPELINE_RAG_PREP_SQL = """
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(COALESCE(text, '')), '\\s+') AS w
  FROM documents
), c AS (
  SELECT doc_id, w,
         GREATEST(CAST(ceil(CAST(array_length(w) - 16 AS DOUBLE) / 48)
                       AS INT), 1) AS n_chunks
  FROM t
), e AS (
  SELECT doc_id, w, unnest(range(n_chunks)) AS chunk_id FROM c
), ch AS (
  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         array_to_string(
           w[CAST(chunk_id * 48 + 1 AS INT):CAST(chunk_id * 48 + 64 AS INT)],
           ' ') AS chunk_text,
         CAST(len(
           w[CAST(chunk_id * 48 + 1 AS INT):CAST(chunk_id * 48 + 64 AS INT)]
         ) AS INT) AS n_chunk_tokens
  FROM e
), hashed AS (
  SELECT doc_id, chunk_id, md5(chunk_text) AS chunk_hash, n_chunk_tokens,
         ROW_NUMBER() OVER (PARTITION BY md5(chunk_text)
                            ORDER BY doc_id, chunk_id) AS rn
  FROM ch WHERE n_chunk_tokens >= 8
)
SELECT doc_id, chunk_id, chunk_hash, n_chunk_tokens
FROM hashed WHERE rn = 1
"""


def sample_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-2 training-order DEFINITION (round 6): the
    md5 permutation rule materialized as (position, doc_id), verified
    cross-engine. The ``epoch_shuffle`` OPERATOR (whose physical row
    order a sorted-columns hash compare cannot observe) is verified by
    ``test_sampling.py::test_epoch_shuffle_order`` against this same
    rule — re-deriving the key here rather than wrapping the operator
    keeps the query one window, not a wasted double sort (round-6
    review fix)."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents").select("doc_id")
    okey = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|e2|s")))
    return docs.select(
        F.row_number()
        .over(Window.orderBy(okey, "doc_id"))
        .alias("position"),
        "doc_id",
    )


SAMPLE_EPOCH_ORDER_SQL = """
SELECT ROW_NUMBER() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || '|e2|s'), doc_id
       ) AS position,
       doc_id
FROM documents
"""


def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level profile of the documents table (round 6): one-pass
    null/distinct/extreme stats per column (``storage.profile_table``),
    the first diagnostic run against any new lake table."""
    from ontario_spark.storage import profile_table

    return profile_table(
        table(spark, sf_dir, "documents"),
        ["doc_id", "lang", "source", "n_chars"],
    )


PROFILE_DOCUMENTS_SQL = """
WITH one AS (
  SELECT COUNT(*) AS n,
         COUNT(doc_id) AS nn_doc_id, COUNT(DISTINCT doc_id) AS nd_doc_id,
         CAST(MIN(doc_id) AS VARCHAR) AS mn_doc_id,
         CAST(MAX(doc_id) AS VARCHAR) AS mx_doc_id,
         COUNT(lang) AS nn_lang, COUNT(DISTINCT lang) AS nd_lang,
         CAST(MIN(lang) AS VARCHAR) AS mn_lang,
         CAST(MAX(lang) AS VARCHAR) AS mx_lang,
         COUNT(source) AS nn_source, COUNT(DISTINCT source) AS nd_source,
         CAST(MIN(source) AS VARCHAR) AS mn_source,
         CAST(MAX(source) AS VARCHAR) AS mx_source,
         COUNT(n_chars) AS nn_n_chars, COUNT(DISTINCT n_chars) AS nd_n_chars,
         CAST(MIN(n_chars) AS VARCHAR) AS mn_n_chars,
         CAST(MAX(n_chars) AS VARCHAR) AS mx_n_chars
  FROM documents
)
SELECT 'doc_id' AS "column", CAST(n AS BIGINT) AS n_rows,
       CAST(n - nn_doc_id AS BIGINT) AS n_nulls,
       CAST(nd_doc_id AS BIGINT) AS n_distinct,
       mn_doc_id AS min_value, mx_doc_id AS max_value FROM one
UNION ALL
SELECT 'lang', CAST(n AS BIGINT), CAST(n - nn_lang AS BIGINT),
       CAST(nd_lang AS BIGINT), mn_lang, mx_lang FROM one
UNION ALL
SELECT 'source', CAST(n AS BIGINT), CAST(n - nn_source AS BIGINT),
       CAST(nd_source AS BIGINT), mn_source, mx_source FROM one
UNION ALL
SELECT 'n_chars', CAST(n AS BIGINT), CAST(n - nn_n_chars AS BIGINT),
       CAST(nd_n_chars AS BIGINT), mn_n_chars, mx_n_chars FROM one
"""


def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative n-gram novelty per document (round 6) — the
    diversity signal dual to the contamination scan; exact counts,
    one final division, oracle-checked end-to-end."""
    return textops.novelty_score(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


TEXT_NOVELTY_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), hx AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(shingle), 1, 15)) AS BIGINT) AS h
  FROM sh
), freq AS (
  SELECT h, COUNT(*) AS df FROM hx GROUP BY h
)
SELECT hx.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM hx JOIN freq USING (h)
GROUP BY hx.doc_id
"""


def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixing (round 5): per-language keep rates
    ∝ sqrt(n_lang) flatten the language distribution toward uniform at
    an overall ~40% budget — the multilingual resampling recipe, fully
    deterministic (md5-prefix decisions, window-ordered weight sums)."""
    from ontario_spark.operators.sampling import temperature_mix

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    return temperature_mix(
        docs, key="doc_id", stratum="lang", alpha=0.5, target_frac=0.4
    )


def _temperature_mix_sql() -> str:
    from ontario_spark.operators.sampling import temperature_mix_sql

    return temperature_mix_sql(
        "(SELECT doc_id, lang FROM documents)", "doc_id", "lang", 0.4
    )


SAMPLE_TEMPERATURE_MIX_SQL = _temperature_mix_sql()


def text_license_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License/copyright compliance gate (round 10): per-source counts
    of documents carrying rights markers — the legal filter every
    training-corpus build runs before ingestion. Like text_pii_scan,
    the synthetic corpus carries no markers, so deterministic fakes
    are planted first (doc_id-residue-keyed copyright lines, SPDX
    identifiers, CC-license phrases — both engines construct identical
    text), making every count data-dependent and oracle-checked.
    Pure regexp_count column expressions; one bounded per-source
    aggregate."""
    docs = table(spark, sf_dir, "documents")
    rem = F.col("doc_id") % 5
    planted = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                rem == 0,
                F.concat(
                    # 2000 + doc_id%30 is ALWAYS four digits, so every
                    # rem==0 plant is visible to the \d{4} copyright
                    # pattern (round-11 ADVICE: '20' || residue yielded
                    # 3-digit years for single-digit residues, silently
                    # halving n_copyright's data-dependence)
                    F.lit(" Copyright (c) "),
                    (F.col("doc_id") % 30 + 2000).cast("string"),
                    F.lit(" Example Corp. All rights reserved."),
                ),
            )
            .when(rem == 1, F.lit(" SPDX-License-Identifier: MIT"))
            .when(
                rem == 2,
                F.lit(
                    " This work is licensed under a Creative Commons"
                    " Attribution 4.0 International License."
                ),
            )
            .otherwise(F.lit("")),
        ).alias("__t"),
    )
    t = F.col("__t")
    has_copyright = (
        F.regexp_count(t, F.lit(r"(?i)copyright \(c\) \d{4}")) > 0
    ).cast("int")
    has_spdx = (
        F.regexp_count(t, F.lit(r"SPDX-License-Identifier: [A-Za-z0-9.\-]+")) > 0
    ).cast("int")
    has_cc = (
        F.regexp_count(t, F.lit(r"(?i)creative commons attribution")) > 0
    ).cast("int")
    rights_reserved = (
        F.regexp_count(t, F.lit(r"(?i)all rights reserved")) > 0
    ).cast("int")
    per_doc = planted.select(
        "source",
        has_copyright.alias("__c"),
        has_spdx.alias("__s"),
        has_cc.alias("__cc"),
        rights_reserved.alias("__rr"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__c").cast("long").alias("n_copyright"),
        F.sum("__s").cast("long").alias("n_spdx"),
        F.sum("__cc").cast("long").alias("n_cc_license"),
        F.sum("__rr").cast("long").alias("n_rights_reserved"),
        F.sum(
            F.when(
                (F.col("__c") + F.col("__s") + F.col("__cc") + F.col("__rr"))
                > 0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_flagged"),
    )


TEXT_LICENSE_SCAN_SQL = """
WITH planted AS (
  SELECT doc_id, source,
         text || CASE doc_id % 5
           WHEN 0 THEN ' Copyright (c) ' || CAST(doc_id % 30 + 2000 AS VARCHAR)
                       || ' Example Corp. All rights reserved.'
           WHEN 1 THEN ' SPDX-License-Identifier: MIT'
           WHEN 2 THEN ' This work is licensed under a Creative Commons'
                       || ' Attribution 4.0 International License.'
           ELSE '' END AS t
  FROM documents
), per_doc AS (
  SELECT source,
    CASE WHEN regexp_matches(t, 'copyright \\(c\\) \\d{4}', 'i')
         THEN 1 ELSE 0 END AS c,
    CASE WHEN regexp_matches(t, 'SPDX-License-Identifier: [A-Za-z0-9.\\-]+')
         THEN 1 ELSE 0 END AS s,
    CASE WHEN regexp_matches(t, 'creative commons attribution', 'i')
         THEN 1 ELSE 0 END AS cc,
    CASE WHEN regexp_matches(t, 'all rights reserved', 'i')
         THEN 1 ELSE 0 END AS rr
  FROM planted
)
SELECT source, COUNT(*) AS n_docs,
  CAST(SUM(c) AS BIGINT) AS n_copyright,
  CAST(SUM(s) AS BIGINT) AS n_spdx,
  CAST(SUM(cc) AS BIGINT) AS n_cc_license,
  CAST(SUM(rr) AS BIGINT) AS n_rights_reserved,
  CAST(SUM(CASE WHEN c + s + cc + rr > 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_flagged
FROM per_doc GROUP BY source
"""


def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection/redaction gate (round 5). The synthetic corpus
    carries no PII, so deterministic fakes are planted first (emails /
    IPv4s / phone / SSN shapes keyed on doc_id residues — both engines
    construct the identical text), making every count column and the
    redacted-text hash data-dependent and oracle-checked."""
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit(" contact user"), did, F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 250).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 17 == 0, F.lit(" call +4915123456789 ok")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 19 == 0, F.lit(" ssn 123-45-6789.")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return textops.pii_scan(planted, "doc_id", "text")


def _pii_sql() -> str:
    pats = textops.PII_PATTERNS
    # sequential counting, mirroring pii_scan: each category is counted
    # on the text with all PREVIOUS categories already redacted, so
    # cross-category double matches are impossible
    red = "text"
    count_exprs = []
    for k, p in pats.items():
        count_exprs.append(
            f"CAST(len(regexp_extract_all({red}, '{p}')) AS INT) AS n_{k}"
        )
        red = f"regexp_replace({red}, '{p}', '[{k.upper()}]', 'g')"
    counts = ",\n       ".join(count_exprs)
    total = " + ".join(f"n_{k}" for k in pats)
    return f"""
WITH planted AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 11 = 0
            THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
            ELSE '' END
    || CASE WHEN doc_id % 13 = 0
            THEN ' from 10.0.' || CAST(doc_id % 250 AS VARCHAR) || '.7'
            ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN ' call +4915123456789 ok' ELSE '' END
    || CASE WHEN doc_id % 19 = 0 THEN ' ssn 123-45-6789.' ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       {counts},
       CAST({total} AS INT) AS n_pii,
       md5({red}) AS redacted_hash
FROM planted
"""


TEXT_PII_SQL = _pii_sql()


def pipeline_decontaminated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 curation chain, end-to-end in ONE lazy plan:
    repetition gate (dup-3-gram fraction ≤ 0.2) → benchmark
    decontamination (anti-join on the contamination scan) → exact-dedup
    canonical survivors → per-(source, lang) doc/token budget.

    Round-12 shape: the rep stats ride the corpus scan (map-only
    passthrough — no doc_id self-join to reunite columns that were
    never apart), and "is canonical" is a min-over-md5(text) window on
    the SAME narrow frame instead of the exact_dedup aggregate plus a
    two-sided doc_id semi-join (a doc's id is unique, so id == group
    min ⟺ id ∈ exact_dedup's canonical set). One content-hash
    exchange of (doc_id, source, lang, n_tokens, frac, md5) carries
    the whole gate; the contamination anti-join side stays the tiny
    flagged set."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    bench = docs.filter(F.col("doc_id") % 97 == 0)

    contam = dedup.contamination_overlap(
        corpus, bench, "doc_id", "text", n=3, threshold=0.08
    ).select("doc_id")
    rep = textops.repetition_stats(
        corpus.withColumn("__h", F.md5("text")),
        "doc_id",
        "text",
        keep=("source", "lang", "__h"),
    ).select("doc_id", "source", "lang", "__h", "n_tokens", "dup_3gram_frac")
    kept = (
        rep.withColumn("__canon", F.min("doc_id").over(Window.partitionBy("__h")))
        .filter(
            (F.col("doc_id") == F.col("__canon"))
            & (F.col("dup_3gram_frac") <= 0.2)
        )
        .join(contam, "doc_id", "left_anti")
    )
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


PIPELINE_DECONTAM_SQL = """
WITH base AS (
  SELECT doc_id, source, lang, text,
         regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents WHERE doc_id % 97 <> 0
), rep AS (
  SELECT doc_id, array_length(w) AS n_tokens,
         CASE WHEN array_length(w) >= 3 THEN
           list_transform(range(1, array_length(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE CAST([] AS VARCHAR[]) END AS g3
  FROM base
), rep_keep AS (
  SELECT doc_id, n_tokens FROM rep
  WHERE ROUND(CASE WHEN array_length(g3) > 0
        THEN (array_length(g3) - array_length(list_distinct(g3)))
             / CAST(array_length(g3) AS DOUBLE) ELSE 0.0 END, 6) <= 0.2
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), bench AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0
), ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 <> 0
), contam AS (
  SELECT e.doc_id
  FROM ex e LEFT JOIN bench b ON e.shingle = b.shingle
  GROUP BY e.doc_id
  HAVING SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) >= 0.08
), canon AS (
  SELECT MIN(doc_id) AS doc_id FROM base GROUP BY md5(text)
), kept AS (
  SELECT d.doc_id, d.source, d.lang, r.n_tokens
  FROM base d JOIN rep_keep r USING (doc_id)
  WHERE d.doc_id NOT IN (SELECT doc_id FROM contam)
    AND d.doc_id IN (SELECT doc_id FROM canon)
)
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM kept GROUP BY source, lang
"""


def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline a training-data run actually
    executes, end-to-end in ONE lazy plan: exact dedup (keep canonical
    per content hash) → quality gate (alpha ratio + minimum length) →
    language filter (en) → deterministic hash sample → per-source token
    budget report. Every stage is one of this engine's operators; the
    whole chain is shuffle-minimal (dedup agg, two metric aggs, final
    group-by — the sample is a scan-stage predicate).

    Round-12 shape: canonicality is a min-over-md5(text) window on the
    scan (doc_id unique ⇒ id == group min ⟺ id ∈ exact_dedup's
    canonical set — the same equivalence the decontamination row
    uses), the quality metrics ride that frame map-only (``keep``
    passthrough), and lang-ID carries source/n_tokens as
    functionally-dependent group keys. The three corpus-wide doc_id
    joins are gone; the plan's only exchanges are the content-hash
    window, lang-ID's doc-granularity partial aggregate, and the final
    source group-by."""
    from ontario_spark.operators import sampling
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    kept = (
        docs.withColumn("__h", F.md5("text"))
        .withColumn("__canon", F.min("doc_id").over(Window.partitionBy("__h")))
        .filter(F.col("doc_id") == F.col("__canon"))
        .select("doc_id", "source", "text")
    )
    quality = textops.quality_score(
        kept, "doc_id", "text", keep=("source", "text")
    ).filter((F.col("alpha_ratio") >= 0.5) & (F.col("n_tokens") >= 5))
    english = textops.lang_id(
        quality, "doc_id", "text", keep=("source", "n_tokens")
    ).filter(F.col("pred_lang") == "en")
    sampled = sampling.hash_sample(english, "doc_id", 0.5, salt="curate")
    return (
        sampled.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("source")
    )


PIPELINE_CURATION_SQL = f"""
WITH canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), kept AS (
  SELECT d.* FROM documents d JOIN canon USING (doc_id)
), quality AS (
  SELECT doc_id, n_tokens FROM ({TEXT_QUALITY_SQL.replace("documents", "kept")})
  WHERE alpha_ratio >= 0.5 AND n_tokens >= 5
), english AS (
  SELECT doc_id FROM ({TEXT_LANGID_SQL.replace("documents", "kept")})
  WHERE pred_lang = 'en'
), sampled AS (
  SELECT k.source, q.n_tokens FROM kept k
  JOIN quality q USING (doc_id) JOIN english USING (doc_id)
  WHERE substr(md5(CAST(k.doc_id AS VARCHAR) || 'curate'), 1, 6) < '800000'
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM sampled GROUP BY source ORDER BY source
"""


def pack_doc_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing over the corpus: documents grouped into 4000-
    char training bins, sharded for parallelism (operators/packing.py)."""
    from ontario_spark.operators.packing import pack_sequences

    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_sequences(docs, "doc_id", "n_chars", budget=4000)


def _pack_sql() -> str:
    from ontario_spark.operators.packing import pack_sql

    return pack_sql("documents", "doc_id", "n_chars", budget=4000)


PACK_DOC_SEQUENCES_SQL = _pack_sql()


# --- multimodal plumbing ------------------------------------------------


def mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_from_text(table(spark, sf_dir, "documents"), "doc_id", "text")
    return decode_stats(media)


# byte-TRUE oracle (round-5 review fix: the old ascii(substr(text,i,1))
# form counted CODEPOINTS — it agreed with the Spark kernel only while
# the fixture stayed pure ASCII; hex(encode(text)) indexes actual UTF-8
# bytes, so non-ASCII and empty documents match too)
MM_DECODE_STATS_SQL = """
WITH b AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text)) AS n_bytes,
         hex(encode(text)) AS h
  FROM documents
)
SELECT media_id, n_bytes,
       CASE WHEN n_bytes = 0 THEN -1
            ELSE ('0x' || substr(h, 1, 2))::INT END AS first_byte,
       CAST(COALESCE(list_sum(list_transform(
              range(n_bytes),
              i -> ('0x' || substr(h, CAST(2 * i + 1 AS INT), 2))::BIGINT)), 0)
            AS BIGINT) % 1000003 AS byte_sum_mod
FROM b
"""


def mm_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame byte counts from the frame_sample fan-out — the
    SQL-checkable projection of the video-frame-sampling plumbing."""
    media = media_from_text(table(spark, sf_dir, "documents"), "doc_id", "text")
    return frame_sample(media, n_frames=4).select(
        "media_id",
        "frame_idx",
        F.length("frame").cast("int").alias("frame_bytes"),
    )


MM_FRAME_STATS_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS n FROM documents
), f AS (
  SELECT media_id, n, LEAST(4, n) AS k,
         CAST(unnest(range(LEAST(4, n))) AS INT) AS frame_idx
  FROM m WHERE n > 0
)
SELECT media_id, frame_idx,
       CAST((n * (frame_idx + 1)) // k - (n * frame_idx) // k AS INT) AS frame_bytes
FROM f
"""


def mm_feature_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_features output exploded to (bucket, weight) scalars so
    the float32 histogram is hash-comparable against DuckDB."""
    media = media_from_text(table(spark, sf_dir, "documents"), "doc_id", "text")
    return (
        extract_features(media)
        .select("media_id", F.posexplode("features").alias("bucket", "weight"))
        .select("media_id", "bucket", F.col("weight").cast("double").alias("weight"))
    )


MM_FEATURE_HIST_SQL = """
WITH tot AS (
  SELECT doc_id AS media_id, hex(encode(text)) AS h,
         octet_length(encode(text)) AS n
  FROM documents
), byt AS (
  SELECT media_id,
         ('0x' || substr(h, CAST(2 * i + 1 AS INT), 2))::INT // 32 AS bucket
  FROM tot, unnest(range(n)) AS u(i)
), cnt AS (
  SELECT media_id, bucket, COUNT(*) AS c FROM byt GROUP BY media_id, bucket
)
SELECT t.media_id, CAST(g.bucket AS INT) AS bucket,
       CASE WHEN t.n = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE CAST(CAST(COALESCE(c.c, 0) / t.n AS REAL) AS DOUBLE) END AS weight
FROM tot t
CROSS JOIN (SELECT unnest(range(8)) AS bucket) g
LEFT JOIN cnt c ON c.media_id = t.media_id AND c.bucket = g.bucket
"""


def sketch_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct users + approximate quantiles per event type —
    single partial-agg pass, no distinct shuffle. Engine-specific
    estimates → rows-only driver check; error bounds are pytest-covered
    (tests/test_sketches.py)."""
    from ontario_spark.operators.sketches import approx_event_stats

    return approx_event_stats(table(spark, sf_dir, "events"))


def sketch_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Datasketches-HLL rollup: daily user sketches merged to
    per-type cardinality — the stored-sketch re-aggregation pattern."""
    from ontario_spark.operators.sketches import hll_rollup

    return hll_rollup(table(spark, sf_dir, "events"))


def sketch_hll_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-able form of the HLL rollup: join the sketch estimate
    against the exact distinct count and emit the *derived exactness*
    — sketch-merge structure (daily-sketch count) plus a boolean
    asserting the estimate lands within 5% of exact. The estimate
    itself is engine-specific; the bound either holds (hash-matches
    the oracle's TRUE) or the round fails loudly."""
    from ontario_spark.operators.sketches import hll_rollup

    events = table(spark, sf_dir, "events")
    est = hll_rollup(events)
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_users",
        "n_daily_sketches",
        (
            F.abs(
                F.col("approx_users").cast("double") / F.col("exact_users") - 1.0
            )
            <= 0.05
        ).alias("within_bound"),
    )


SKETCH_HLL_CHECK_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_daily_sketches,
       TRUE AS within_bound
FROM events GROUP BY event_type
"""


def sketch_stats_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-exactness form of ``sketch_event_stats`` (the
    ``sketch_hll_check`` pattern): the HLL++ distinct estimate and the
    approximate quantiles are engine-specific, so what hash-matches is
    each estimate's BOUND — distinct within 5% of exact, approx p50
    inside the exact [p25, p75], approx p95 inside [p85, max]. The
    booleans either hold (matching the oracle's literal TRUE) or the
    round fails loudly. Bounds are deliberately wide so only a broken
    sketch — not float interpolation at a boundary — can flip them."""
    from ontario_spark.operators.sketches import approx_event_stats

    events = table(spark, sf_dir, "events")
    est = approx_event_stats(events)
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("percentile(value, array(0.25, 0.75, 0.85))").alias("__p"),
        F.max("value").alias("__vmax"),
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "n_events",
        "exact_users",
        (
            F.abs(
                F.col("approx_users").cast("double") / F.col("exact_users") - 1.0
            )
            <= 0.05
        ).alias("users_ok"),
        F.col("p50_value").between(F.col("__p")[0], F.col("__p")[1]).alias(
            "p50_ok"
        ),
        F.col("p95_value").between(F.col("__p")[2], F.col("__vmax")).alias(
            "p95_ok"
        ),
    ).orderBy("event_type")


SKETCH_STATS_CHECK_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS users_ok, TRUE AS p50_ok, TRUE AS p95_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (round 10): per-document unigram
    log-likelihood ratio of the English slice (the 'target domain')
    vs the whole corpus — the importance-resampling selection score
    (operators/textops.py::dsir_logratio; DECIMAL-summed contributions
    make it engine-exact like text_perplexity)."""
    docs = table(spark, sf_dir, "documents")
    return textops.dsir_logratio(
        docs, "doc_id", "text", target=F.col("lang") == "en"
    )


SAMPLE_DSIR_WEIGHTS_SQL = """
WITH tok AS (
  SELECT doc_id, (lang = 'en') AS t,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
), vocab AS (
  SELECT term, COUNT(*) AS cr,
         COUNT(CASE WHEN t THEN 1 END) AS ct
  FROM tok GROUP BY term
), tot AS (
  SELECT COUNT(*) AS nr, COUNT(CASE WHEN t THEN 1 END) AS nt,
         COUNT(DISTINCT term) AS v
  FROM tok
), contrib AS (
  SELECT doc_id, tf,
         CAST(ROUND(
           CAST(tf AS DOUBLE)
             * (ln(CAST(ct + 1 AS DOUBLE) / CAST(nt + v AS DOUBLE))
                - ln(CAST(cr + 1 AS DOUBLE) / CAST(nr + v AS DOUBLE))),
           6) AS DECIMAL(18,6)) AS s
  FROM tf JOIN vocab USING (term) CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(tf) AS INT) AS n_tokens,
       CAST(SUM(s) AS DOUBLE) AS dsir_logratio,
       (SUM(s) > 0) AS keep
FROM contrib GROUP BY doc_id
"""


def sketch_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-bin histogram quantiles (round 10): daily
    per-type value histograms merged per type by summing bin counts —
    the stored-sketch rollup pattern of ``sketch_hll_rollup`` with a
    LOSSLESS merge, so the p50/p95 bin edges hash-match a DuckDB
    oracle exactly (operators/sketches.py::histogram_quantile_rollup)."""
    from ontario_spark.operators.sketches import histogram_quantile_rollup

    return histogram_quantile_rollup(
        table(spark, sf_dir, "events"), bin_width=5.0, qs=(0.5, 0.95)
    )


SKETCH_QUANTILE_ROLLUP_SQL = """
WITH daily AS (
  SELECT event_type AS g, CAST(ts AS DATE) AS day,
         CAST(floor(CAST(value AS DOUBLE) / 5.0) AS BIGINT) AS bin,
         COUNT(*) AS cnt
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2, 3
), cells AS (
  SELECT g, COUNT(*) AS n_hist_cells FROM daily GROUP BY g
), merged AS (
  SELECT g, bin, SUM(cnt) AS cnt FROM daily GROUP BY g, bin
), cum AS (
  SELECT g, bin, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS total
  FROM merged
)
SELECT cum.g AS event_type,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       CAST(MAX(n_hist_cells) AS BIGINT) AS n_hist_cells,
       MIN(CASE WHEN cum >= CAST(floor(0.5 * (total - 1)) AS BIGINT) + 1
                THEN bin * 5.0 END) AS q50_lo,
       MIN(CASE WHEN cum >= CAST(floor(0.95 * (total - 1)) AS BIGINT) + 1
                THEN bin * 5.0 END) AS q95_lo
FROM cum JOIN cells ON cells.g = cum.g
GROUP BY cum.g
"""


def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 for a fixed keyword query — lexical
    retrieval on the driver surface (operators/retrieval.py)."""
    from ontario_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["spark", "vector", "merge"],
        k=20,
    )


def _bm25_sql() -> str:
    from ontario_spark.operators.retrieval import bm25_sql

    return bm25_sql("documents", "doc_id", "text", ["spark", "vector", "merge"], k=20)


BM25_TOPK_SQL = _bm25_sql()


def _media_schema():
    """(media_id, media_type, payload) — the one schema every
    synthesized-media mapInPandas stage emits."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("media_id", LongType()),
            StructField("media_type", StringType()),
            StructField("payload", BinaryType()),
        ]
    )


def _synth_image_media(docs: DataFrame) -> DataFrame:
    """Documents → synthesized image payloads (media_id, media_type,
    payload): each doc becomes a PNG / JPEG / GIF / TIFF whose
    dimensions derive from doc_id, every 5th payload corrupt text
    bytes. Shared by ``mm_image_metadata`` and the round-11
    ``pipeline_image_text_curation`` row so both parse the SAME real
    container bytes."""
    from ontario_spark.operators.multimodal import (
        synth_gif,
        synth_jpeg,
        synth_png,
        synth_tiff,
    )
    media_schema = _media_schema()

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for i, txt in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                w, h = 16 + (i * 7) % 1000, 16 + (i * 13) % 800
                kind = i % 5
                if kind == 0:
                    payloads.append(synth_png(w, h))
                elif kind == 1:
                    payloads.append(synth_jpeg(w, h))
                elif kind == 2:
                    payloads.append(synth_gif(w, h))
                elif kind == 3:
                    payloads.append(synth_tiff(w, h, big_endian=(i // 5) % 2 == 0))
                else:
                    payloads.append((txt or "").encode("utf-8"))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "media_type": "image",
                    "payload": payloads,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(synth, media_schema)


def mm_image_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image container parsing over synthesized payloads (round
    10 — the image sibling of mm_audio/mm_video): each document
    becomes a PNG, JPEG, GIF, or TIFF whose dimensions derive from
    doc_id (every 5th payload is corrupt text bytes that must yield
    NULLs); parse_image_header recovers format + dims from raw bytes —
    PNG IHDR (big-endian), JPEG SOF scan, GIF logical screen
    descriptor (little-endian), TIFF IFD walk under BOTH byte orders
    (alternating II/MM by doc_id — the EXIF container) — and the
    oracle recomputes them arithmetically, verifying the byte
    roundtrip end-to-end."""
    from ontario_spark.operators.multimodal import image_metadata

    return image_metadata(
        _synth_image_media(table(spark, sf_dir, "documents"))
    )


MM_IMAGE_METADATA_SQL = """
SELECT doc_id AS media_id,
       CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
            WHEN 2 THEN 'gif' WHEN 3 THEN 'tiff' ELSE NULL END AS format,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE 16 + (doc_id * 7) % 1000 END::INT AS width,
       CASE WHEN doc_id % 5 = 4 THEN NULL
            ELSE 16 + (doc_id * 13) % 800 END::INT AS height
FROM documents
"""


def mm_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RIFF/WAVE header parsing over synthesized audio payloads:
    each document becomes a canonical PCM WAV whose parameters derive
    from doc_id (some with a junk LIST chunk forcing the chunk walk,
    some corrupt — raw text bytes — that must yield NULLs), and the
    parser recovers them. The oracle recomputes the same parameters
    arithmetically, so the byte roundtrip is verified end-to-end."""
    from ontario_spark.operators.multimodal import audio_metadata, synth_wav
    media_schema = _media_schema()

    def synth(batches):
        import pandas as pd

        rates = (8000, 16000, 44100)
        for pdf in batches:
            payloads = []
            for i, txt in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                if i % 17 == 4:  # corrupt payload: not a RIFF container
                    payloads.append((txt or "").encode("utf-8"))
                else:
                    payloads.append(
                        synth_wav(
                            sample_rate=rates[i % 3],
                            channels=1 + i % 2,
                            bits=16,
                            n_samples=64 + i % 37,
                            junk=(i % 5 == 0),
                        )
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "media_type": "audio",
                    "payload": payloads,
                }
            )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    media = docs.mapInPandas(synth, media_schema)
    return audio_metadata(media)


MM_AUDIO_METADATA_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 17 = 4 THEN NULL ELSE 'wav' END AS format,
       CASE WHEN doc_id % 17 = 4 THEN NULL
            ELSE (CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                  ELSE 44100 END) END::INT AS sample_rate,
       CASE WHEN doc_id % 17 = 4 THEN NULL
            ELSE 1 + doc_id % 2 END::INT AS channels,
       CASE WHEN doc_id % 17 = 4 THEN NULL ELSE 16 END::INT AS bits,
       CASE WHEN doc_id % 17 = 4 THEN NULL
            ELSE 64 + doc_id % 37 END::BIGINT AS n_samples
FROM documents
"""


def mm_video_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO-BMFF (MP4) box-tree parsing over synthesized video
    containers (round 10 — the video leg beside PNG/JPEG and
    RIFF/WAVE): each document becomes a minimal ftyp+moov skeleton
    whose mvhd timescale/duration and tkhd 16.16 width/height derive
    from doc_id (some with free/udta junk boxes forcing the nested
    walk, some corrupt — raw text bytes — that must yield NULLs), and
    the parser recovers them. The oracle recomputes the parameters
    arithmetically, verifying the byte roundtrip end-to-end."""
    from ontario_spark.operators.multimodal import synth_mp4, video_metadata
    media_schema = _media_schema()

    def synth(batches):
        import pandas as pd

        scales = (600, 1000, 90000)
        dims = ((640, 360), (1280, 720), (1920, 1080), (3840, 2160))
        for pdf in batches:
            payloads = []
            for i, txt in zip(pdf["doc_id"], pdf["text"]):
                i = int(i)
                if i % 19 == 6:  # corrupt payload: not an ISO-BMFF box
                    payloads.append((txt or "").encode("utf-8"))
                else:
                    w, h = dims[i % 4]
                    payloads.append(
                        synth_mp4(
                            timescale=scales[i % 3],
                            duration=1000 + i % 977,
                            width=w,
                            height=h,
                            junk=(i % 7 == 0),
                        )
                    )
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "media_type": "video",
                    "payload": payloads,
                }
            )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    media = docs.mapInPandas(synth, media_schema)
    return video_metadata(media)


MM_VIDEO_METADATA_SQL = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 19 = 6 THEN NULL ELSE 'mp4' END AS format,
       CASE WHEN doc_id % 19 = 6 THEN NULL
            ELSE (CASE doc_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                  ELSE 90000 END) END::INT AS timescale,
       CASE WHEN doc_id % 19 = 6 THEN NULL
            ELSE 1000 + doc_id % 977 END::BIGINT AS duration,
       CASE WHEN doc_id % 19 = 6 THEN NULL
            ELSE (CASE doc_id % 4 WHEN 0 THEN 640 WHEN 1 THEN 1280
                  WHEN 2 THEN 1920 ELSE 3840 END) END::INT AS width,
       CASE WHEN doc_id % 19 = 6 THEN NULL
            ELSE (CASE doc_id % 4 WHEN 0 THEN 360 WHEN 1 THEN 720
                  WHEN 2 THEN 1080 ELSE 2160 END) END::INT AS height
FROM documents
"""


# --- snapshot versioning --------------------------------------------------


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff two deterministic snapshot views of the documents table:
    'old' drops doc_id % 11 == 3 (later additions), 'new' drops
    doc_id % 13 == 5 (retractions) and upper-cases the text of
    doc_id % 7 == 2 (simulated edits) — so all four statuses appear
    and the classification is data-dependent end-to-end."""
    from ontario_spark.operators.versioning import snapshot_diff

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 11 != 3)
    new = docs.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 2, F.upper(F.col("text"))).otherwise(
            F.col("text")
        ),
    )
    return snapshot_diff(old, new, key="doc_id", content_cols=("text",))


CORPUS_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id, md5(coalesce(text, '')) AS h
  FROM documents WHERE doc_id % 11 != 3),
new AS (
  SELECT doc_id,
         md5(coalesce(CASE WHEN doc_id % 7 = 2 THEN upper(text)
                           ELSE text END, '')) AS h
  FROM documents WHERE doc_id % 13 != 5)
SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.h IS NULL THEN 'added'
            WHEN new.h IS NULL THEN 'removed'
            WHEN old.h = new.h THEN 'unchanged'
            ELSE 'changed' END AS status,
       old.h AS old_hash, new.h AS new_hash
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
"""


def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis
    exponential sort keys): a 120-doc sample of ``documents`` with
    inclusion probability proportional to ``n_chars`` — the weighted
    corpus-mixing primitive (operators/sampling.py::weighted_topk).
    Selection is a distributed TakeOrderedAndProject, no shuffle."""
    from ontario_spark.operators.sampling import weighted_topk

    return weighted_topk(
        table(spark, sf_dir, "documents"), "doc_id", "n_chars", n=120
    )


def _weighted_topk_sql() -> str:
    from ontario_spark.operators.sampling import weighted_topk_sql

    return weighted_topk_sql("documents", "doc_id", "n_chars", n=120)


SAMPLE_WEIGHTED_TOPK_SQL = _weighted_topk_sql()


def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (lexical) and exact-cosine top-20
    for the vec_id=0 query embedding (dense) fused with Reciprocal
    Rank Fusion — the two candidate lists full-outer-join on doc_id
    and ``rrf = sum 1/(60+rank)`` ranks the union
    (operators/retrieval.py::rrf_fuse). Both inputs are top-k frames
    (rows bounded by k, not the corpus), so the fusion join and final
    window are O(k)."""
    from ontario_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = bm25_topk(
        docs, "doc_id", "text", ["spark", "vector", "merge"], k=20
    ).select("doc_id", "rank")
    sem = similarity.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=20
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([("lex", lex), ("sem", sem)], "doc_id")


def _rrf_fusion_sql() -> str:
    from ontario_spark.operators.retrieval import bm25_sql

    lex = bm25_sql("documents", "doc_id", "text", ["spark", "vector", "merge"], k=20)
    return f"""
WITH lex AS (
  SELECT doc_id, rank FROM ({lex}) t
), sem AS (
  WITH c AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
  ), q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id = 0),
  scored AS (
    SELECT c.vec_id AS doc_id,
           list_dot_product(q.qv, c.v)
             / (sqrt(list_dot_product(q.qv, q.qv))
                * sqrt(list_dot_product(c.v, c.v))) AS score
    FROM c, q WHERE c.vec_id != q.query_id
  )
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored) t
  WHERE rank <= 20
), fused AS (
  SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
         CAST(l.rank AS INT) AS lex_rank, CAST(s.rank AS INT) AS sem_rank,
         (CASE WHEN l.rank IS NOT NULL
               THEN 1.0 / (60.0 + CAST(l.rank AS DOUBLE)) ELSE 0.0 END)
         + (CASE WHEN s.rank IS NOT NULL
                 THEN 1.0 / (60.0 + CAST(s.rank AS DOUBLE)) ELSE 0.0 END)
           AS rrf_score
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score,
       CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS INT)
         AS fused_rank
FROM fused
"""


RETRIEVAL_RRF_SQL = _rrf_fusion_sql()


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``contamination_check`` through the Bloom-prefilter path: the
    benchmark shingle set rides as a 128 KiB bit array (O(1) in data
    size) instead of a broadcast key set, candidates that pass the
    k-probe test pay an exact confirm join, and the output contract is
    IDENTICAL to the exact operator — same oracle, different (and at
    100 TB, the only feasible) physical shape
    (operators/dedup.py::bloom_contamination_overlap)."""
    docs = table(spark, sf_dir, "documents")
    return dedup.bloom_contamination_overlap(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        "doc_id",
        "text",
        n=3,
        threshold=0.08,
    )


def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup report: documents split at
    rolling-fingerprint boundaries (operators/dedup.py::cdc_chunks —
    boundaries move WITH the content, so shifted near-duplicates still
    share chunks), then chunks shared by ≥ 2 documents grouped on the
    16-byte chunk hash. The grouping shuffles only (hash, id, len) —
    never chunk text."""
    ch = dedup.cdc_chunks(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )
    return (
        ch.groupBy(F.md5("chunk_text").alias("chunk_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("id").alias("canonical_doc"),
            F.min(F.length("chunk_text")).alias("chunk_len"),
        )
        .filter(F.col("n_copies") >= 2)
    )


DEDUP_CDC_SQL = """
WITH c AS (
  SELECT doc_id, text, length(text) AS L,
         CASE WHEN length(text) >= 16 THEN
           list_filter(range(16, length(text) + 1),
                       i -> substr(md5(text[i-15:i]), 1, 2) <= '07')
         ELSE CAST([] AS BIGINT[]) END AS bs
  FROM documents
), e AS (
  SELECT doc_id, text, [0] || bs || [L] AS edges FROM c
), ch AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(edges)),
                j -> text[edges[j]+1 : edges[j+1]])) AS chunk_text
  FROM e
)
SELECT md5(chunk_text) AS chunk_hash,
       COUNT(*) AS n_copies,
       MIN(doc_id) AS canonical_doc,
       CAST(MIN(length(chunk_text)) AS INT) AS chunk_len
FROM ch
WHERE length(chunk_text) > 0
GROUP BY md5(chunk_text)
HAVING COUNT(*) >= 2
"""


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (the first pass of web-crawl curation): planted
    syntactic variants of the same resource — host case, default
    ports, trailing slashes, utm_* tracking params, fragments, query
    param order — collapse to one canonical key
    (operators/textops.py::canonical_url) and group. One shuffle on
    the canonical string."""
    docs = table(spark, sf_dir, "documents")
    item = (F.col("doc_id") % 50).cast("string")
    url = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("https://cdn.example.com/item/"), item))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("https://CDN.EXAMPLE.COM/item/"), item, F.lit("/")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("https://cdn.example.com:443/item/"), item,
                       F.lit("?utm_source=feed")))
        .otherwise(
            F.concat(F.lit("http://cdn.example.com/item/"), item,
                     F.lit("?b=2&utm_campaign=z&a=1#frag")))
    )
    planted = docs.select("doc_id", url.alias("url"))
    return (
        planted.select("doc_id", textops.canonical_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_doc"))
    )


def _url_canonical_sql() -> str:
    canon = textops.canonical_url_sql("url")
    return f"""
WITH planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 4 = 0
         THEN 'https://cdn.example.com/item/' || CAST(doc_id % 50 AS VARCHAR)
         WHEN doc_id % 4 = 1
         THEN 'https://CDN.EXAMPLE.COM/item/' || CAST(doc_id % 50 AS VARCHAR) || '/'
         WHEN doc_id % 4 = 2
         THEN 'https://cdn.example.com:443/item/' || CAST(doc_id % 50 AS VARCHAR)
              || '?utm_source=feed'
         ELSE 'http://cdn.example.com/item/' || CAST(doc_id % 50 AS VARCHAR)
              || '?b=2&utm_campaign=z&a=1#frag' END AS url
  FROM documents
)
SELECT {canon} AS canonical_url, COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_doc
FROM planted GROUP BY canonical_url
"""


DEDUP_URL_CANONICAL_SQL = _url_canonical_sql()


def text_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule gates over ``documents`` — per-rule boolean
    flags + the conjunctive verdict
    (operators/textops.py::quality_gates)."""
    return textops.quality_gates(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


TEXT_QUALITY_GATES_SQL = r"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id,
         array_length(toks) AS n_words,
         CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum')
              AS DOUBLE) / array_length(toks) AS mean_wl,
         CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
              AS DOUBLE) / array_length(toks) AS alpha_frac,
         len(list_filter(toks, w -> lower(w) IN
             ('the','be','to','of','and','that','have','with'))) AS stop_hits
  FROM t
)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
       (n_words >= 20 AND n_words <= 100000) AS gate_word_count,
       (mean_wl >= 3.0 AND mean_wl <= 10.0) AS gate_mean_word_len,
       (alpha_frac >= 0.8) AS gate_alpha_words,
       (stop_hits >= 2) AS gate_stopwords,
       ((n_words >= 20 AND n_words <= 100000)
        AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
        AND (alpha_frac >= 0.8) AND (stop_hits >= 2)) AS pass_all
FROM m
"""


def pipeline_image_text_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pair curation (round 11, VERDICT r10 task 5) — the
    standard pre-CLIP-training filter chain over (image, caption)
    pairs, all engine-portable expressions in ONE lazy plan: the
    image leg REALLY parses the synthesized container bytes
    (``_synth_image_media`` → ``image_metadata``, the
    mm_image_metadata machinery) and gates on parse success, minimum
    dimension (≥64px), and aspect ratio (longest side ≤ 3× the
    shortest — integer arithmetic, no division); the caption leg runs
    the Gopher quality gates; the two join on the pair id and the
    output is the per-source cumulative funnel every curation run
    reports. The oracle recomputes the image columns arithmetically
    (verifying the byte roundtrip) and replays the caption gates."""
    docs = table(spark, sf_dir, "documents")
    from ontario_spark.operators.multimodal import image_metadata

    img = image_metadata(_synth_image_media(docs)).select(
        F.col("media_id").alias("doc_id"),
        F.col("format").isNotNull().alias("__parsed"),
        ((F.col("width") >= 64) & (F.col("height") >= 64)).alias("__size_ok"),
        (
            (F.col("width") <= 3 * F.col("height"))
            & (F.col("height") <= 3 * F.col("width"))
        ).alias("__aspect_ok"),
    )
    cap = textops.quality_gates(docs, "doc_id", "text").select(
        "doc_id", F.col("pass_all").alias("__cap_ok")
    )
    pairs = (
        docs.select("doc_id", "source")
        .join(img, "doc_id")
        .join(cap, "doc_id")
    )
    i1 = F.col("__parsed")
    i2 = i1 & F.col("__size_ok")
    i3 = i2 & F.col("__aspect_ok")
    return pairs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(i1.cast("int")).cast("long").alias("n_img_parsed"),
        F.sum(i2.cast("int")).cast("long").alias("n_img_sized"),
        F.sum(i3.cast("int")).cast("long").alias("n_img_ok"),
        F.sum(F.col("__cap_ok").cast("int")).cast("long").alias("n_caption_ok"),
        F.sum((i3 & F.col("__cap_ok")).cast("int")).cast("long").alias("n_kept"),
    )


PIPELINE_IMAGE_TEXT_CURATION_SQL = r"""
WITH img AS (
  SELECT doc_id, source,
         (doc_id % 5 <> 4) AS parsed,
         CASE WHEN doc_id % 5 = 4 THEN NULL
              ELSE 16 + (doc_id * 7) % 1000 END AS width,
         CASE WHEN doc_id % 5 = 4 THEN NULL
              ELSE 16 + (doc_id * 13) % 800 END AS height
  FROM documents
), gates AS (
  SELECT doc_id,
         (n_words >= 20 AND n_words <= 100000
          AND mean_wl >= 3.0 AND mean_wl <= 10.0
          AND alpha_frac >= 0.8 AND stop_hits >= 2) AS cap_ok
  FROM (
    SELECT doc_id,
           array_length(toks) AS n_words,
           CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum')
                AS DOUBLE) / array_length(toks) AS mean_wl,
           CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                AS DOUBLE) / array_length(toks) AS alpha_frac,
           len(list_filter(toks, w -> lower(w) IN
               ('the','be','to','of','and','that','have','with'))) AS stop_hits
    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
          FROM documents)
  )
), flags AS (
  SELECT source,
         parsed AS i1,
         (parsed AND width >= 64 AND height >= 64) AS i2,
         (parsed AND width >= 64 AND height >= 64
          AND width <= 3 * height AND height <= 3 * width) AS i3,
         cap_ok
  FROM img JOIN gates USING (doc_id)
)
SELECT source, COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN i1 THEN 1 ELSE 0 END) AS BIGINT) AS n_img_parsed,
       CAST(SUM(CASE WHEN i2 THEN 1 ELSE 0 END) AS BIGINT) AS n_img_sized,
       CAST(SUM(CASE WHEN i3 THEN 1 ELSE 0 END) AS BIGINT) AS n_img_ok,
       CAST(SUM(CASE WHEN cap_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_caption_ok,
       CAST(SUM(CASE WHEN i3 AND cap_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM flags GROUP BY source
"""


def pipeline_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-9 additions composed end-to-end in ONE lazy plan, the
    way a web-crawl curation run chains them: Gopher-style quality
    gates (map-only) → content-defined-chunk duplication gate (docs
    whose CDC chunks are mostly shared with OTHER documents are
    near-duplicate boilerplate; chunk doc-frequency is one hash
    aggregate) → exact-dedup canonical survivors → per-(source, lang)
    doc/word budget report. Chunk-level stats join back on doc_id;
    chunk text never shuffles."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    # Round-12 shape: the Gopher gates ride the scan map-only with
    # source/lang/md5 carried through, and canonicality is a
    # min-over-md5 window on that same narrow frame (id unique ⇒
    # id == group min ⟺ id ∈ exact_dedup's canonical set) — the gate
    # inner-join and the exact-dedup semi-join (two corpus-wide doc_id
    # exchanges plus the content_hash aggregate) collapse into ONE
    # content-hash exchange.
    gated = (
        textops.quality_gates(
            docs.withColumn("__h", F.md5("text")),
            "doc_id",
            "text",
            keep=("source", "lang", "__h"),
        )
        .withColumn("__canon", F.min("doc_id").over(Window.partitionBy("__h")))
        .filter(F.col("pass_all") & (F.col("doc_id") == F.col("__canon")))
        .select("doc_id", "source", "lang", "n_words")
    )
    # chunk doc-frequency as a whole-partition window on the one
    # h-keyed exchange the rejoin needed anyway (guide §2.4, the same
    # fusion as the anchor/tfidf rows). The operator only needs
    # "shared by ≥2 DISTINCT docs", which is min(id)≠max(id) over the
    # h-group — O(1) window state, no count_distinct, skew-safe on
    # boilerplate chunks shared by millions of docs. With the
    # docfreq-aggregate consumer gone the (id, h) frame has ONE
    # consumer, so the round-9 persist (and its materialization cost)
    # is deleted — the per-character CDC boundary scan still runs once.
    wh = Window.partitionBy("h")
    dupfrac = (
        dedup.cdc_chunks(docs, "doc_id", "text")
        .select("id", F.md5("chunk_text").alias("h"))
        .withColumn(
            "__dup", (F.min("id").over(wh) != F.max("id").over(wh)).cast("int")
        )
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("__dup").alias("n_dup_chunks"),
        )
        .filter(
            F.col("n_dup_chunks").cast("double") / F.col("n_chunks") <= 0.5
        )
        .select("doc_id")
    )
    kept = gated.join(dupfrac, "doc_id", "left_semi")
    return kept.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
    )


PIPELINE_WEB_CURATION_SQL = r"""
WITH t AS (
  SELECT doc_id, source, lang, text,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), gates AS (
  SELECT doc_id, array_length(toks) AS n_words
  FROM (
    SELECT doc_id, toks,
           CAST(list_aggregate(list_transform(toks, w -> length(w)), 'sum')
                AS DOUBLE) / array_length(toks) AS mean_wl,
           CAST(len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                AS DOUBLE) / array_length(toks) AS alpha_frac,
           len(list_filter(toks, w -> lower(w) IN
               ('the','be','to','of','and','that','have','with'))) AS stop_hits
    FROM t)
  WHERE array_length(toks) >= 20 AND array_length(toks) <= 100000
    AND mean_wl >= 3.0 AND mean_wl <= 10.0
    AND alpha_frac >= 0.8 AND stop_hits >= 2
), c AS (
  SELECT doc_id, text, length(text) AS L,
         CASE WHEN length(text) >= 16 THEN
           list_filter(range(16, length(text) + 1),
                       i -> substr(md5(text[i-15:i]), 1, 2) <= '07')
         ELSE CAST([] AS BIGINT[]) END AS bs
  FROM documents
), e AS (
  SELECT doc_id, text, [0] || bs || [L] AS edges FROM c
), ch AS (
  SELECT doc_id,
         md5(unnest(list_transform(range(1, len(edges)),
                    j -> text[edges[j]+1 : edges[j+1]]))) AS h
  FROM e
), chf AS (
  SELECT doc_id, h FROM ch WHERE h != md5('')
), docfreq AS (
  SELECT h, COUNT(DISTINCT doc_id) AS df FROM chf GROUP BY h
), dupfrac AS (
  SELECT c2.doc_id
  FROM chf c2 JOIN docfreq USING (h)
  GROUP BY c2.doc_id
  HAVING SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) <= 0.5
), canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), kept AS (
  SELECT d.doc_id, d.source, d.lang, g.n_words
  FROM documents d
  JOIN gates g USING (doc_id)
  WHERE d.doc_id IN (SELECT doc_id FROM dupfrac)
    AND d.doc_id IN (SELECT doc_id FROM canon)
)
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS total_words
FROM kept GROUP BY source, lang
"""


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled embedding per label (class prototypes / cluster
    summaries) with exact DECIMAL component sums so the centroid is
    engine- and order-independent
    (operators/similarity.py::label_centroids)."""
    return similarity.label_centroids(
        table(spark, sf_dir, "embeddings"), "label", "embedding"
    )


EMB_LABEL_CENTROIDS_SQL = """
WITH ix AS (
  SELECT label, embedding, unnest(range(len(embedding))) AS pos
  FROM embeddings
), ex AS (
  SELECT label, pos, CAST(embedding[CAST(pos AS INT) + 1] AS DOUBLE) AS v
  FROM ix
), comp AS (
  SELECT label, pos,
         ROUND(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*), 9) AS c,
         COUNT(*) AS n
  FROM ex GROUP BY label, pos
)
SELECT label, CAST(MAX(n) AS BIGINT) AS n_vecs,
       list(c ORDER BY pos) AS centroid
FROM comp GROUP BY label
"""


def emb_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 per-label outlier candidates by squared euclidean
    distance to the own-label centroid — the mislabel/label-noise
    first pass (operators/similarity.py::label_outliers)."""
    return similarity.label_outliers(
        table(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label", k=5
    )


EMB_LABEL_OUTLIERS_SQL = """
WITH ix AS (
  SELECT label, embedding, unnest(range(len(embedding))) AS pos
  FROM embeddings
), ex AS (
  SELECT label, pos, CAST(embedding[CAST(pos AS INT) + 1] AS DOUBLE) AS v
  FROM ix
), comp AS (
  SELECT label, pos,
         ROUND(CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*), 9) AS c
  FROM ex GROUP BY label, pos
), cent AS (
  SELECT label, list(c ORDER BY pos) AS centroid FROM comp GROUP BY label
), v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
  FROM embeddings
), d AS (
  SELECT v.vec_id, v.label,
         ROUND(list_dot_product(v.dv, v.dv)
               - 2.0 * list_dot_product(v.dv, c.centroid)
               + list_dot_product(c.centroid, c.centroid), 6) AS d2_r
  FROM v JOIN cent c USING (label)
)
SELECT label,
       CAST(ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY d2_r DESC, vec_id) AS INT) AS out_rank,
       vec_id, d2_r
FROM d
QUALIFY out_rank <= 5
"""


def retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3-style pseudo-relevance-feedback retrieval: original BM25
    pass → top-10 feedback docs → 5 heaviest expansion terms →
    re-scored top-20, all ONE lazy relational plan with exact
    DECIMAL score sums (operators/retrieval.py::rm3_topk)."""
    from ontario_spark.operators.retrieval import rm3_topk

    return rm3_topk(
        table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        ["spark", "vector", "merge"],
        k=20,
    )


def _rm3_sql() -> str:
    from ontario_spark.operators.retrieval import rm3_sql

    return rm3_sql("documents", "doc_id", "text", ["spark", "vector", "merge"], k=20)


RETRIEVAL_PRF_SQL = _rm3_sql()


def pipeline_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH near-dup: today's batch (doc_id % 10 ==
    7, the same split as ``pipeline_incremental_ingest``) probes the
    historical corpus through band buckets — candidate cost is batch ×
    bands, never corpus² (operators/dedup.py::incremental_lsh_pairs)."""
    docs = table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % 10) == 7
    return dedup.incremental_lsh_pairs(
        docs.filter(is_new),
        docs.filter(~is_new),
        "doc_id",
        "text",
        threshold=0.4,
    )


def _incremental_lsh_sql() -> str:
    """Two-sided variant of ``_minhash_lsh_sql``: banded batch probes
    banded corpus."""
    from ontario_spark.operators.dedup import _MERSENNE, _seed_coeffs

    k, bands = 16, 8
    r = k // bands
    mins = ",\n    ".join(
        f"MIN((h * {a} + {b}) % {_MERSENNE}) AS mh{i}"
        for i, (a, b) in enumerate(_seed_coeffs(k))
    )
    banded = "\n  UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, md5("
        + " || '|' || ".join(f"mh{band * r + j}::VARCHAR" for j in range(r))
        + ") AS bucket FROM sig"
        for band in range(bands)
    )
    eqs = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(k)
    )
    return f"""
WITH sh AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, GREATEST(array_length(w) - 1, 1)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents)
), base AS (
  SELECT doc_id,
         ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {_MERSENNE} AS h
  FROM sh
), sig AS (
  SELECT doc_id,
    {mins}
  FROM base GROUP BY doc_id
), banded AS (
  {banded}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 != 7
)
SELECT id_new, id_corpus,
       CAST({eqs} AS DOUBLE) / {k}.0 AS est_jaccard
FROM pairs
JOIN sig sa ON id_new = sa.doc_id
JOIN sig sb ON id_corpus = sb.doc_id
WHERE CAST({eqs} AS DOUBLE) / {k}.0 >= 0.4
"""


PIPELINE_INCR_NEARDUP_SQL = _incremental_lsh_sql()


def train_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query
    embedding (vec_id < 5), the top-5 cosine neighbors EXCLUDING
    near-duplicates (the split-bucket LSH near-dup pairs — a
    near-duplicate of the anchor is a FALSE negative that poisons a
    contrastive batch, the standard mining pitfall). Composition of
    two probed operators in one lazy plan: brute-force top-k over the
    broadcast query set (FIXED anchor count — linear in corpus),
    anti-join against the near-dup pair set on the (anchor, candidate)
    key, re-rank the survivors. Round 12: the near-dup leg carries the
    same split-bucket cap as ``emb_neardup_pairs`` — uncapped it was
    the registry's last quadratic LSH self-join (16 buckets → m²/2
    pairs per bucket; 70× at the 10× probe); the cap bounds a bucket's
    work to m·cap/2, and the oracle reuses ``_emb_cc_ctes`` verbatim
    so both rows stay definitionally identical."""
    from pyspark.sql.window import Window

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cand = similarity.brute_force_topk(emb, queries, k=20)
    pairs = similarity.neardup_pairs(
        emb, "vec_id", "embedding", threshold=0.92, bits=4, dim=64,
        max_bucket_size=200,
    )
    # near-dup pairs are (lo, hi); normalize the candidate edge the
    # same way so the anti-join hits regardless of direction
    dup_edges = pairs.select(
        F.col("id_a").alias("__lo"), F.col("id_b").alias("__hi")
    )
    normalized = cand.select(
        "query_id",
        "neighbor_id",
        "score",
        F.least("query_id", "neighbor_id").alias("__lo"),
        F.greatest("query_id", "neighbor_id").alias("__hi"),
    )
    kept = normalized.join(dup_edges, ["__lo", "__hi"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        kept.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 5)
        .select("query_id", F.col("neighbor_id").alias("negative_id"),
                "neg_rank", "score")
    )


def _hard_negatives_sql() -> str:
    # the near-dup exclusion leg reuses emb_neardup_pairs' bucketing
    # CTEs verbatim (bits=4, dim=64, split cap 200) — c0 is the raw
    # vector table, cc the sub-bucketed one (round 12)
    return f"""
WITH {_emb_cc_ctes()},
q AS (SELECT vec_id AS query_id, v AS qv FROM c0 WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c0.vec_id AS neighbor_id,
         list_dot_product(q.qv, c0.v)
           / (sqrt(list_dot_product(q.qv, q.qv))
              * sqrt(list_dot_product(c0.v, c0.v))) AS score
  FROM c0, q WHERE c0.vec_id != q.query_id
), cand AS (
  SELECT query_id, neighbor_id, score FROM (
    SELECT query_id, neighbor_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id ASC) AS rank
    FROM scored) t
  WHERE rank <= 20
), dup AS (
  SELECT a.vec_id AS lo, b.vec_id AS hi
  FROM cc a JOIN cc b
    ON a.bucket = b.bucket AND a.sub = b.sub AND a.vec_id < b.vec_id
  WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.92
)
SELECT query_id, neighbor_id AS negative_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id ASC) AS INT)
         AS neg_rank,
       score
FROM cand
WHERE NOT EXISTS (
  SELECT 1 FROM dup
  WHERE dup.lo = LEAST(cand.query_id, cand.neighbor_id)
    AND dup.hi = GREATEST(cand.query_id, cand.neighbor_id)
)
QUALIFY neg_rank <= 5
"""


TRAIN_HARD_NEGATIVES_SQL = _hard_negatives_sql()


def train_pit_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct training features (round 10): for every
    purchase event, features computed ONLY from the user's history
    strictly BEFORE the event — the leakage-safe feature join a
    training pipeline needs (a feature that peeks at or past the label
    timestamp poisons the model). Three window frames over one
    per-user epoch-micros ordering: a 7-day trailing click count
    (RANGE frame ending at 1 μs preceding, so same-instant peers are
    excluded in both engines), an all-history prior-spend DECIMAL sum,
    and a prior-signup flag. One shuffle on user_id; frames are
    range-based so timestamp ties cannot reorder results."""
    from pyspark.sql.window import Window

    from ontario_spark.operators.asof import ts_micros

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            ts_micros(F.col("ts")).alias("__t"),
        )
    )
    week = 7 * 86_400_000_000
    base = Window.partitionBy("user_id").orderBy("__t")
    w7 = base.rangeBetween(-week, -1)
    wall = base.rangeBetween(Window.unboundedPreceding, -1)
    feat = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "click", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).over(w7),
            F.lit(0),
        )
        .cast("long")
        .alias("prior_clicks_7d"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,6)"),
                )
            )
            .over(wall)
            .cast("double"),
            F.lit(0.0),
        ).alias("prior_spend"),
        F.coalesce(
            F.max(
                F.when(F.col("event_type") == "signup", F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).over(wall),
            F.lit(0),
        ).alias("signed_up"),
    )
    return feat.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("value").alias("label_value"),
        "prior_clicks_7d",
        "prior_spend",
        "signed_up",
    )


TRAIN_PIT_FEATURES_SQL = """
WITH ev AS (
  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS t
  FROM events WHERE user_id IS NOT NULL
), f AS (
  SELECT event_id, user_id, event_type, value,
    CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER (
      PARTITION BY user_id ORDER BY t
      RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      AS prior_clicks_7d,
    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(18,6)) END) OVER (
      PARTITION BY user_id ORDER BY t
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS DOUBLE), 0.0)
      AS prior_spend,
    COALESCE(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) OVER (
      PARTITION BY user_id ORDER BY t
      RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS signed_up
  FROM ev
)
SELECT event_id, user_id, value AS label_value,
       prior_clicks_7d, prior_spend, signed_up
FROM f WHERE event_type = 'purchase'
"""


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model counts (round 10): adjacent-token
    pair frequencies plus the conditional probability p(w2|w1) — the
    count tables an n-gram LM (or a tokenizer-health / repetitive-text
    report) trains from. Bigrams come from zipping each token array
    with its own tail (map-side, no window over an exploded corpus —
    the per-doc array never leaves the row until the single count
    shuffle); the probability divides two exact integers so the
    rounded double is engine-identical. Pairs seen < 3 times are cut
    to keep the table the LM-relevant head, and the cut is applied
    AFTER the conditional denominator so p is the true corpus
    probability, not a renormalized one."""
    toks = textops.tokens(F.lower(F.col("text")))
    n = F.size(toks)
    tail = F.greatest(n - 1, F.lit(0))
    bi = F.zip_with(
        F.slice(toks, 1, tail),
        F.slice(toks, 2, tail),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    docs = table(spark, sf_dir, "documents").select(
        F.explode(bi).alias("__b")
    )
    counts = docs.groupBy(
        F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2")
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql.window import Window

    tot = Window.partitionBy("w1")
    return counts.select(
        "w1",
        "w2",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"), 9
        ).alias("p"),
    ).filter(F.col("n") >= 3)


TEXT_BIGRAM_LM_SQL = """
WITH t AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
  FROM documents
), b AS (
  SELECT u[1] AS w1, u[2] AS w2
  FROM (
    SELECT unnest(list_zip(toks[:len(toks) - 1], toks[2:])) AS u
    FROM t WHERE len(toks) >= 2
  )
), c AS (
  SELECT w1, w2, COUNT(*) AS n FROM b GROUP BY w1, w2
)
SELECT w1, w2, n, p FROM (
  SELECT w1, w2, n,
         ROUND(CAST(n AS DOUBLE)
               / CAST(SUM(n) OVER (PARTITION BY w1) AS DOUBLE), 9) AS p
  FROM c
) WHERE n >= 3
"""


def sample_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded negative sampling for recommendation/contrastive
    training (round 10): each purchasing user's positive (user, item)
    pairs plus exactly 2 deterministic negatives — items the user
    never interacted with in ANY event, ranked by md5(user:item) so
    every engine (and every re-run on resharded data) samples the
    SAME negatives. The candidate space is users × the distinct-item
    vocabulary (a bounded broadcast side — item vocab, not corpus,
    drives the fan-out), anti-joined against interactions; at lake
    scale the item list stays a broadcast and the anti-join shuffles
    only on user_id."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    inter = (
        ev.select(F.col("user_id").alias("u"), k.alias("i"))
        .filter(F.col("u").isNotNull() & F.col("i").isNotNull())
        .distinct()
    )
    pos = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("u"), k.alias("i"))
        .filter(F.col("u").isNotNull() & F.col("i").isNotNull())
        .distinct()
    )
    items = F.broadcast(inter.select("i").distinct())
    users = pos.select("u").distinct()
    cand = users.crossJoin(items).join(inter, ["u", "i"], "left_anti")
    from pyspark.sql.window import Window

    w = Window.partitionBy("u").orderBy(
        F.md5(F.concat_ws(":", F.col("u").cast("string"), F.col("i"))), "i"
    )
    neg = (
        cand.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 2)
        .select("u", "i")
    )
    return pos.select(
        F.col("u").alias("user_id"), F.col("i").alias("item"), F.lit(1).alias("label")
    ).unionAll(
        neg.select(
            F.col("u").alias("user_id"),
            F.col("i").alias("item"),
            F.lit(0).alias("label"),
        )
    )


SAMPLE_NEGATIVE_PAIRS_SQL = """
WITH inter AS (
  SELECT DISTINCT user_id AS u, json_extract_string(props, '$.k') AS i
  FROM events
  WHERE user_id IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
), pos AS (
  SELECT DISTINCT user_id AS u, json_extract_string(props, '$.k') AS i
  FROM events
  WHERE event_type = 'purchase' AND user_id IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
), items AS (SELECT DISTINCT i FROM inter),
users AS (SELECT DISTINCT u FROM pos),
cand AS (
  SELECT users.u, items.i FROM users CROSS JOIN items
  WHERE NOT EXISTS (SELECT 1 FROM inter x WHERE x.u = users.u AND x.i = items.i)
), neg AS (
  SELECT u, i FROM (
    SELECT u, i,
           ROW_NUMBER() OVER (PARTITION BY u
                              ORDER BY md5(u::VARCHAR || ':' || i), i) AS r
    FROM cand) t WHERE r <= 2
)
SELECT u AS user_id, i AS item, 1 AS label FROM pos
UNION ALL
SELECT u AS user_id, i AS item, 0 AS label FROM neg
"""


def pipeline_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed temporal training-set build (round 10): the classic
    time-split recipe in ONE lazy plan — labels from the last ~half of
    the event log (purchases on/after Jan 16), features STRICTLY from
    the days before it (click count, DECIMAL spend, distinct items),
    and 2 seeded md5-ranked negatives per labeled user drawn from the
    feature-window item vocabulary (so the negative sampler cannot see
    the label window either). The temporal wall makes the whole table
    leakage-free by construction; every piece reuses this round's
    primitives (PIT-style windows, negative sampling) and the single
    plan keeps Catalyst free to share the events scan."""
    cutoff = "2024-01-16"
    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    k = F.get_json_object(F.col("props"), "$.k")
    pre = ev.filter(F.date_format("ts", "yyyy-MM-dd") < cutoff)
    post = ev.filter(F.date_format("ts", "yyyy-MM-dd") >= cutoff)
    pos = (
        post.filter((F.col("event_type") == "purchase") & k.isNotNull())
        .select(F.col("user_id").alias("u"), k.alias("i"))
        .distinct()
    )
    feat = pre.groupBy(F.col("user_id").alias("u")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("n_clicks_pre"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(18,6)"),
                )
            ).cast("double"),
            F.lit(0.0),
        ).alias("spend_pre"),
        F.count_distinct(k).alias("n_items_pre"),
    )
    inter_pre = (
        pre.select(F.col("user_id").alias("u"), k.alias("i"))
        .filter(k.isNotNull())
        .distinct()
    )
    items = F.broadcast(inter_pre.select("i").distinct())
    users = pos.select("u").distinct()
    from pyspark.sql.window import Window

    w = Window.partitionBy("u").orderBy(
        F.md5(F.concat_ws(":", F.col("u").cast("string"), F.col("i"))), "i"
    )
    neg = (
        users.crossJoin(items)
        .join(inter_pre, ["u", "i"], "left_anti")
        .join(pos, ["u", "i"], "left_anti")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= 2)
        .select("u", "i")
    )
    pairs = pos.select("u", "i", F.lit(1).alias("label")).unionAll(
        neg.select("u", "i", F.lit(0).alias("label"))
    )
    return pairs.join(feat, "u", "left_outer").select(
        F.col("u").alias("user_id"),
        F.col("i").alias("item"),
        "label",
        F.coalesce("n_clicks_pre", F.lit(0)).cast("long").alias("n_clicks_pre"),
        F.coalesce("spend_pre", F.lit(0.0)).alias("spend_pre"),
        F.coalesce("n_items_pre", F.lit(0)).cast("long").alias("n_items_pre"),
    )


PIPELINE_TRAINING_SET_SQL = """
WITH ev AS (
  SELECT user_id AS u, event_type, value,
         json_extract_string(props, '$.k') AS i,
         strftime(ts, '%Y-%m-%d') AS day
  FROM events WHERE user_id IS NOT NULL
), pre AS (SELECT * FROM ev WHERE day < '2024-01-16'),
post AS (SELECT * FROM ev WHERE day >= '2024-01-16'),
pos AS (
  SELECT DISTINCT u, i FROM post
  WHERE event_type = 'purchase' AND i IS NOT NULL
), feat AS (
  SELECT u,
    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_clicks_pre,
    COALESCE(CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE), 0.0)
      AS spend_pre,
    CAST(COUNT(DISTINCT i) AS BIGINT) AS n_items_pre
  FROM pre GROUP BY u
), inter_pre AS (
  SELECT DISTINCT u, i FROM pre WHERE i IS NOT NULL
), items AS (SELECT DISTINCT i FROM inter_pre),
users AS (SELECT DISTINCT u FROM pos),
neg AS (
  SELECT u, i FROM (
    SELECT c.u, c.i,
           ROW_NUMBER() OVER (PARTITION BY c.u
                              ORDER BY md5(c.u::VARCHAR || ':' || c.i), c.i) AS r
    FROM (SELECT users.u, items.i FROM users CROSS JOIN items) c
    WHERE NOT EXISTS (SELECT 1 FROM inter_pre x WHERE x.u = c.u AND x.i = c.i)
      AND NOT EXISTS (SELECT 1 FROM pos p WHERE p.u = c.u AND p.i = c.i)
  ) t WHERE r <= 2
), pairs AS (
  SELECT u, i, 1 AS label FROM pos
  UNION ALL SELECT u, i, 0 AS label FROM neg
)
SELECT pairs.u AS user_id, pairs.i AS item, label,
       COALESCE(n_clicks_pre, 0) AS n_clicks_pre,
       COALESCE(spend_pre, 0.0) AS spend_pre,
       COALESCE(n_items_pre, 0) AS n_items_pre
FROM pairs LEFT JOIN feat ON feat.u = pairs.u
"""


QUERIES = {
    "sample_stratified": sample_stratified,
    "pipeline_training_set": pipeline_training_set,
    "sample_train_test": sample_train_test,
    "sample_group_split": sample_group_split,
    "sample_corpus_mix": sample_corpus_mix,
    "sample_temperature_mix": sample_temperature_mix,
    "sample_group_cap": sample_group_cap,
    "sample_token_budget": sample_token_budget,
    "sample_fixed_holdout": sample_fixed_holdout,
    "sample_weighted_topk": sample_weighted_topk,
    "sketch_event_stats": sketch_event_stats,
    "sketch_hll_rollup": sketch_hll_rollup,
    "sketch_hll_check": sketch_hll_check,
    "sketch_stats_check": sketch_stats_check,
    "sketch_quantile_rollup": sketch_quantile_rollup,
    "sample_dsir_weights": sample_dsir_weights,
    "bm25_topk": bm25_topk_docs,
    "retrieval_rrf_fusion": retrieval_rrf_fusion,
    "retrieval_prf_expansion": retrieval_prf_expansion,
    "emb_label_outliers": emb_label_outliers,
    "dedup_exact": dedup_exact,
    "dedup_cdc_chunks": dedup_cdc_chunks,
    "dedup_url_canonical": dedup_url_canonical,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_containment": dedup_containment,
    "dedup_containment_anchors": dedup_containment_anchors,
    "dedup_dup_spans": dedup_dup_spans,
    "dedup_winnow_pairs": dedup_winnow_pairs,
    "dedup_clusters": dedup_clusters,
    "semantic_dedup": semantic_dedup,
    "dedup_keep_best": dedup_keep_best,
    "dedup_prefix_jaccard": dedup_prefix_jaccard,
    "dedup_boilerplate": dedup_boilerplate,
    "fuzzy_part_names": fuzzy_part_names,
    "er_record_links": er_record_links,
    "pipeline_incremental_ingest": pipeline_incremental_ingest,
    "pipeline_incremental_neardup": pipeline_incremental_neardup,
    "corpus_snapshot_diff": corpus_snapshot_diff,
    "contamination_check": contamination_check,
    "contamination_bloom": contamination_bloom,
    "frequent_terms": frequent_terms_top,
    "text_repetition": text_repetition,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "dedup_lsh_verified": dedup_lsh_verified,
    "dedup_paragraphs": dedup_paragraphs,
    "simhash_fingerprints": simhash_fingerprints,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "corpus_source_overlap": corpus_source_overlap,
    "text_tfidf_terms": text_tfidf_terms,
    "vocab_merge_candidates": vocab_merge_candidates,
    "text_bpe_merges": text_bpe_merges,
    "text_bpe_encode": text_bpe_encode,
    "train_token_packing": train_token_packing,
    "text_tokenizer_fertility": text_tokenizer_fertility,
    "ann_topk_bruteforce": ann_topk_bruteforce,
    "ann_topk_bucketed": ann_topk_bucketed,
    "ann_topk_int8": ann_topk_int8,
    "emb_int8_quant": emb_int8_quant,
    "emb_random_projection": emb_random_projection,
    "ann_topk_ivf": ann_topk_ivf,
    "ann_topk_pq": ann_topk_pq,
    "ann_topk_ivfpq": ann_topk_ivfpq,
    "emb_cluster_assign": emb_cluster_assign,
    "emb_label_centroids": emb_label_centroids,
    "emb_neardup_pairs": emb_neardup_pairs,
    "train_hard_negatives": train_hard_negatives,
    "train_pit_features": train_pit_features,
    "text_bigram_lm": text_bigram_lm,
    "sample_negative_pairs": sample_negative_pairs,
    "text_token_stats": text_token_stats,
    "text_quality": text_quality,
    "text_quality_gates": text_quality_gates,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_winnow_profile": text_winnow_profile,
    "text_regex_tokens": text_regex_tokens,
    "text_metrics": text_metrics,
    "text_pii_scan": text_pii_scan,
    "text_license_scan": text_license_scan,
    "text_url_scan": text_url_scan,
    "text_perplexity": text_perplexity,
    "doc_chunks": doc_chunks,
    "pipeline_rag_prep": pipeline_rag_prep,
    "profile_documents": profile_documents,
    "sample_epoch_order": sample_epoch_order,
    "text_novelty": text_novelty,
    "pipeline_corpus_curation": pipeline_corpus_curation,
    "pipeline_web_curation": pipeline_web_curation,
    "pipeline_image_text_curation": pipeline_image_text_curation,
    "pipeline_decontaminated_corpus": pipeline_decontaminated_corpus,
    "pack_doc_sequences": pack_doc_sequences,
    "mm_decode_stats": mm_decode_stats,
    "mm_frame_stats": mm_frame_stats,
    "mm_feature_hist": mm_feature_hist,
    "mm_audio_metadata": mm_audio_metadata,
    "mm_image_metadata": mm_image_metadata,
    "mm_video_metadata": mm_video_metadata,
}

ORACLE = {
    "sketch_hll_check": SKETCH_HLL_CHECK_SQL,
    "sketch_stats_check": SKETCH_STATS_CHECK_SQL,
    "sketch_quantile_rollup": SKETCH_QUANTILE_ROLLUP_SQL,
    "sample_dsir_weights": SAMPLE_DSIR_WEIGHTS_SQL,
    "bm25_topk": BM25_TOPK_SQL,
    "retrieval_rrf_fusion": RETRIEVAL_RRF_SQL,
    "retrieval_prf_expansion": RETRIEVAL_PRF_SQL,
    "emb_label_outliers": EMB_LABEL_OUTLIERS_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "sample_train_test": SAMPLE_TRAIN_TEST_SQL,
    "sample_group_split": SAMPLE_GROUP_SPLIT_SQL,
    "sample_corpus_mix": SAMPLE_CORPUS_MIX_SQL,
    "sample_temperature_mix": SAMPLE_TEMPERATURE_MIX_SQL,
    "sample_group_cap": SAMPLE_GROUP_CAP_SQL,
    "sample_token_budget": SAMPLE_TOKEN_BUDGET_SQL,
    "sample_fixed_holdout": SAMPLE_FIXED_HOLDOUT_SQL,
    "sample_weighted_topk": SAMPLE_WEIGHTED_TOPK_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_cdc_chunks": DEDUP_CDC_SQL,
    "dedup_url_canonical": DEDUP_URL_CANONICAL_SQL,
    "dedup_ngram_jaccard": DEDUP_JACCARD_SQL,
    "dedup_containment": DEDUP_CONTAINMENT_SQL,
    "dedup_containment_anchors": DEDUP_CONTAINMENT_ANCHORS_SQL,
    "semantic_dedup": SEMANTIC_DEDUP_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_keep_best": DEDUP_KEEP_BEST_SQL,
    "dedup_prefix_jaccard": DEDUP_PREFIX_JACCARD_SQL,
    "dedup_boilerplate": DEDUP_BOILERPLATE_SQL,
    "fuzzy_part_names": FUZZY_PART_NAMES_SQL,
    "er_record_links": ER_RECORD_LINKS_SQL,
    "pipeline_incremental_ingest": PIPELINE_INCREMENTAL_SQL,
    "pipeline_incremental_neardup": PIPELINE_INCR_NEARDUP_SQL,
    "corpus_snapshot_diff": CORPUS_SNAPSHOT_DIFF_SQL,
    "dedup_dup_spans": DEDUP_DUP_SPANS_SQL,
    "dedup_winnow_pairs": DEDUP_WINNOW_PAIRS_SQL,
    "contamination_check": CONTAMINATION_SQL,
    "contamination_bloom": CONTAMINATION_SQL,
    "frequent_terms": FREQUENT_TERMS_SQL,
    "text_repetition": TEXT_REPETITION_SQL,
    "minhash_lsh_pairs": MINHASH_LSH_SQL,
    "dedup_lsh_verified": DEDUP_LSH_VERIFIED_SQL,
    "dedup_paragraphs": DEDUP_PARAGRAPHS_SQL,
    "simhash_fingerprints": SIMHASH_SQL,
    "dedup_simhash_pairs": DEDUP_SIMHASH_PAIRS_SQL,
    "corpus_source_overlap": CORPUS_SOURCE_OVERLAP_SQL,
    "text_tfidf_terms": TEXT_TFIDF_SQL,
    "vocab_merge_candidates": VOCAB_MERGE_SQL,
    "text_bpe_merges": TEXT_BPE_MERGES_SQL,
    "text_bpe_encode": TEXT_BPE_ENCODE_SQL,
    "train_token_packing": TRAIN_TOKEN_PACKING_SQL,
    "text_tokenizer_fertility": TEXT_TOKENIZER_FERTILITY_SQL,
    "ann_topk_bruteforce": ANN_BRUTEFORCE_SQL,
    "ann_topk_bucketed": ANN_BUCKETED_SQL,
    "ann_topk_int8": ANN_INT8_SQL,
    "emb_int8_quant": EMB_INT8_QUANT_SQL,
    "emb_random_projection": EMB_RANDOM_PROJECTION_SQL,
    "emb_cluster_assign": EMB_CLUSTER_ASSIGN_SQL,
    "emb_label_centroids": EMB_LABEL_CENTROIDS_SQL,
    "emb_neardup_pairs": EMB_NEARDUP_SQL,
    "train_hard_negatives": TRAIN_HARD_NEGATIVES_SQL,
    "train_pit_features": TRAIN_PIT_FEATURES_SQL,
    "text_bigram_lm": TEXT_BIGRAM_LM_SQL,
    "sample_negative_pairs": SAMPLE_NEGATIVE_PAIRS_SQL,
    "pipeline_training_set": PIPELINE_TRAINING_SET_SQL,
    "text_token_stats": TEXT_TOKEN_STATS_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_quality_gates": TEXT_QUALITY_GATES_SQL,
    "text_langid": TEXT_LANGID_SQL,
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
    "text_winnow_profile": TEXT_WINNOW_SQL,
    "text_regex_tokens": TEXT_REGEX_TOKENS_SQL,
    "text_metrics": TEXT_METRICS_SQL,
    "text_pii_scan": TEXT_PII_SQL,
    "text_license_scan": TEXT_LICENSE_SCAN_SQL,
    "text_url_scan": TEXT_URL_SCAN_SQL,
    "text_perplexity": TEXT_PERPLEXITY_SQL,
    "doc_chunks": DOC_CHUNKS_SQL,
    "pipeline_rag_prep": PIPELINE_RAG_PREP_SQL,
    "profile_documents": PROFILE_DOCUMENTS_SQL,
    "sample_epoch_order": SAMPLE_EPOCH_ORDER_SQL,
    "text_novelty": TEXT_NOVELTY_SQL,
    "pipeline_corpus_curation": PIPELINE_CURATION_SQL,
    "pipeline_web_curation": PIPELINE_WEB_CURATION_SQL,
    "pipeline_image_text_curation": PIPELINE_IMAGE_TEXT_CURATION_SQL,
    "pipeline_decontaminated_corpus": PIPELINE_DECONTAM_SQL,
    "pack_doc_sequences": PACK_DOC_SEQUENCES_SQL,
    "mm_decode_stats": MM_DECODE_STATS_SQL,
    "mm_frame_stats": MM_FRAME_STATS_SQL,
    "mm_feature_hist": MM_FEATURE_HIST_SQL,
    "mm_audio_metadata": MM_AUDIO_METADATA_SQL,
    "mm_image_metadata": MM_IMAGE_METADATA_SQL,
    "mm_video_metadata": MM_VIDEO_METADATA_SQL,
}

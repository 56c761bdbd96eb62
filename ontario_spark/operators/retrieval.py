"""Lexical retrieval scoring: TF-IDF / BM25 over a document corpus.

The lexical complement to ``operators.similarity``'s embedding ANN —
corpus curation uses both (near-dup detection wants embeddings;
keyword-targeted subset mining wants BM25). All relational: one token
explode, term/document frequencies as aggregations, the score as a
join + weighted sum. No Python UDFs, and **no driver-side actions**:
the corpus size and average document length are tiny single-row
aggregates broadcast-cross-joined onto the term table (the scalar-
subquery pattern of ``queries/tpch_full.py`` q11/q15), so building the
plan never scans the corpus eagerly.

Scale notes: df (document frequency) is one small per-term aggregate —
broadcast to the tf side, so scoring any query is a scan + broadcast
join, never a shuffle of the corpus. The expensive ``term_stats``
explode→aggregate is persisted because three downstream branches (rel,
avgdl, df) share it. At 100 TB the tf table is the big side and stays
put; everything joined onto it is tiny.

Determinism: the per-document score is the sum of one contribution per
query term. Summing them with ``F.sum`` would add partial aggregates in
shuffle-arrival order — nondeterministic for doubles. Instead each
term's contribution becomes its own aggregate column (terms are known
constants) and the final score adds those columns in fixed left-to-
right order, so the result is bit-stable and DuckDB-reproducible.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ontario_spark.data import local_frame
from ontario_spark.operators.textops import spread, tokens
from ontario_spark.persist import INDEXES, persisted


def term_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf, dl): term frequency per document + document
    length — the inverted-index building block."""
    tok = spread(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).select(id_col, F.lower(F.col("term")).alias("term"))
    return (
        tok.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("dl", F.sum("tf").over(Window.partitionBy(id_col)))
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 score of every document against ``query_terms``
    (documents containing none score 0 and are omitted). idf uses the
    standard Robertson-Sparck-Jones form with +1 smoothing.

    Because the query's term set is a small compile-time constant,
    scoring needs NO corpus shuffle at all: per-document term
    frequencies are ``size(filter(tokens, = term))`` per-row
    expressions, document length is ``size(tokens)``, and the only
    aggregate is ONE row (n_docs, avgdl, df per term) broadcast back
    onto the compact per-doc frame. The general explode→aggregate
    inverted index (``term_stats``) remains for index-building use
    cases, but query scoring never pays for it."""
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    toks = spread(df).select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), lambda x: F.lower(x)).alias("__toks"),
    )
    # Compact integer profile per document: dl + tf per query term.
    # Persisted because the corpus-stats aggregate and the scoring scan
    # both read it; it is one row per doc of (m+2) ints, not the text.
    # (closure helper: a `lambda x, t=t:` default would be read by
    # PySpark as the two-arg (element, index) lambda form)
    def _tf(i: int, t: str):
        return F.size(F.filter("__toks", lambda x: x == F.lit(t))).alias(f"__tf{i}")

    per_doc = INDEXES.get(
        ("bm25_per_doc", df, id_col, text_col, tuple(terms)),
        lambda: toks.select(
            F.col(id_col),
            F.size("__toks").alias("dl"),
            *[_tf(i, t) for i, t in enumerate(terms)],
        ),
    )
    # ONE scalar-aggregate row, broadcast-cross-joined (the q11/q15
    # scalar-subquery pattern). dl is integer-valued so the double sum
    # inside avg() is exact and order-independent — deterministic.
    corpus = F.broadcast(
        per_doc.agg(
            F.count(F.lit(1)).alias("__n_docs"),
            F.avg(F.col("dl").cast("double")).alias("__avgdl"),
            *[
                F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
                for i in range(len(terms))
            ],
        )
    )
    scored = per_doc.crossJoin(corpus)
    # Fixed left-to-right per-term summation — deterministic doubles.
    score = F.lit(0.0)
    any_hit = F.lit(False)
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}").cast("double")
        dfreq = F.col(f"__df{i}").cast("double")
        idf = F.log(
            (F.col("__n_docs").cast("double") - dfreq + 0.5) / (dfreq + 0.5) + 1.0
        )
        denom = tf + k1 * (
            1.0 - b + b * F.col("dl").cast("double") / F.col("__avgdl")
        )
        score = score + F.when(
            F.col(f"__tf{i}") > 0, idf * tf * (k1 + 1.0) / denom
        ).otherwise(F.lit(0.0))
        any_hit = any_hit | (F.col(f"__tf{i}") > 0)
    return (
        scored.filter(any_hit)
        .select(F.col(id_col), score.alias("bm25"))
        .orderBy(F.desc("bm25"), F.asc(id_col))
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """Top-k documents by BM25, score rounded to a hash-stable
    precision and ranked with a unique tiebreak (rounded score desc,
    id asc) so the selected set is engine-independent.

    The k rows are selected with ``orderBy().limit(k)`` — Spark's
    distributed ``TakeOrderedAndProject`` (per-partition heaps merged
    on the driver) — NOT a global row_number window, which would sort
    the whole scored corpus in one task. The rank window then runs
    over just the k survivors."""
    scored = bm25_scores(df, id_col, text_col, query_terms, k1=k1, b=b).select(
        F.col(id_col), F.round(F.col("bm25"), round_to).alias("bm25_r")
    )
    order = [F.desc("bm25_r"), F.asc(id_col)]
    top = scored.orderBy(*order).limit(k)
    return (
        top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .select(id_col, "rank", "bm25_r")
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF — the keyword
    extraction / doc-labeling primitive (corpus topical profiling,
    cluster naming, cheap keyword targeting before a BM25 pass).

    idf uses the smoothed form ``ln((N+1)/(df+1)) + 1`` (never
    negative, defined for df = N). Determinism discipline matches
    ``bm25_topk``: the score is rounded to ``round_to`` decimals
    BEFORE ranking and ties break on the term string, so the selected
    terms are engine-independent and the DuckDB oracle hash-matches.

    Scale shape: ``term_stats`` is the one explode+aggregate pass over
    the corpus (the inverted-index build); document frequency is a
    per-term aggregate joined BACK onto the term table (AQE broadcasts
    it when the vocabulary is small; at web scale it shuffles on the
    term key, which is exactly the partitioning term_stats already
    produced). N is ONE scalar row, broadcast-cross-joined — no
    driver-side action anywhere. The per-doc top-k window partitions
    on the document id — the same key the tf table is already hashed
    by, so ranking adds no extra shuffle."""
    ts = term_stats(df, id_col, text_col).select(id_col, "term", "tf")
    n_docs = F.broadcast(ts.agg(F.countDistinct(id_col).alias("__n")))
    # ts is distinct per (id, term), so doc frequency = rows per term —
    # a whole-partition window count over the term key (round 12, the
    # same §2.4 fusion as the anchor/prefix dedup rows): the separate
    # ``dfreq`` aggregate re-executed the whole tokenize+explode+agg
    # subtree and then joined it back, shuffling the term table by
    # term a second time; the window computes the identical count on
    # the one term-keyed exchange the scoring needs anyway.
    idf = F.log(
        (F.col("__n").cast("double") + 1.0) / (F.col("__df").cast("double") + 1.0)
    ) + F.lit(1.0)
    scored = (
        ts.withColumn(
            "__df", F.count(F.lit(1)).over(Window.partitionBy("term"))
        )
        .crossJoin(n_docs)
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("tf"),
            F.round(F.col("tf").cast("double") * idf, round_to).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "term_rank", "term", "tf", "tfidf")
    )


def tfidf_sql(
    table: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    round_to: int = 6,
) -> str:
    """DuckDB mirror of ``tfidf_top_terms`` — same tokenization as
    ``bm25_sql``, same smoothed idf, same round-then-rank discipline."""
    return f"""
WITH tok AS (
  SELECT {id_col}, lower(unnest(regexp_split_to_array(trim({text_col}), '\\s+'))) AS term
  FROM {table}
), tf AS (
  SELECT {id_col}, term, COUNT(*) AS tf FROM tok GROUP BY {id_col}, term
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (SELECT COUNT(DISTINCT {id_col}) AS n FROM tf),
scored AS (
  SELECT tf.{id_col}, tf.term, tf.tf,
         ROUND(CAST(tf.tf AS DOUBLE)
               * (ln((CAST(n.n AS DOUBLE) + 1.0) / (CAST(df.df AS DOUBLE) + 1.0)) + 1.0),
               {round_to}) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT {id_col},
       CAST(ROW_NUMBER() OVER (PARTITION BY {id_col}
                               ORDER BY tfidf DESC, term) AS INT) AS term_rank,
       term, tf, tfidf
FROM scored
QUALIFY term_rank <= {k}
"""


def rm3_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    fb_docs: int = 10,
    fb_terms: int = 5,
    exp_weight: float = 0.5,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM3-style): score
    the corpus with the original terms, take the ``fb_docs`` best
    documents as implicit relevance feedback, pick the ``fb_terms``
    heaviest non-query terms inside them (by summed tf — exact
    integers, tie on the term string), and re-score the corpus with
    the expanded weighted term set. The classic recall-widening step
    between keyword search and dense retrieval.

    Unlike ``bm25_scores`` (compile-time constants → one column per
    term, fixed-order double sum), the expanded term set is DATA-
    dependent, so both scoring passes are fully RELATIONAL: terms live
    in a small weighted frame broadcast-joined onto the inverted
    index, and each document's score is a sum of per-term
    contributions cast to DECIMAL(28,12) — exact and order-
    independent (the ``label_centroids`` discipline), so no column
    enumeration is needed and the DuckDB oracle hash-matches. The
    whole expansion is ONE lazy plan — no driver-side action anywhere.

    Scale shape: ``term_stats`` (the explode+aggregate inverted-index
    build) runs once and feeds both passes plus the df/avgdl stats
    (persisted in ``persist.INDEXES``); every join against it
    is either a broadcast (term frames, corpus-stats row) or keyed on
    the term/id partitioning it already has. Top-fb and top-k
    selections are ``orderBy().limit()`` — distributed TakeOrdered,
    never a global sort."""
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    spark = df.sparkSession
    ts = INDEXES.get(
        ("term_stats", df, id_col, text_col),
        lambda: term_stats(df, id_col, text_col),
    )
    docs = ts.groupBy(id_col).agg(F.max("dl").alias("dl"))
    # dl is integer-valued: the double sum inside avg() is exact and
    # order-independent (same argument as bm25_scores)
    stats = F.broadcast(
        docs.agg(
            F.count(F.lit(1)).alias("__n"),
            F.avg(F.col("dl").cast("double")).alias("__avgdl"),
        )
    )
    # dfreq feeds both scoring passes (original + expanded) — persist
    # lazily so the per-term aggregate over the cached index runs once
    # (round 12; vocabulary-sized).
    dfreq = persisted(
        ts.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    )

    def scored(term_frame: DataFrame, out_col: str) -> DataFrame:
        j = (
            ts.join(F.broadcast(term_frame), "term")
            .join(dfreq, "term")
            .crossJoin(stats)
        )
        idf = F.log(
            (F.col("__n").cast("double") - F.col("__df") + 0.5)
            / (F.col("__df") + 0.5)
            + 1.0
        )
        tf = F.col("tf").cast("double")
        denom = tf + k1 * (
            1.0 - b + b * F.col("dl").cast("double") / F.col("__avgdl")
        )
        contrib = F.col("w") * idf * (tf * (k1 + 1.0)) / denom
        return (
            j.select(F.col(id_col), contrib.cast("decimal(28,12)").alias("__c"))
            .groupBy(id_col)
            .agg(F.sum("__c").alias("__s"))
            .select(
                F.col(id_col),
                F.round(F.col("__s").cast("double"), round_to).alias(out_col),
            )
        )

    orig = local_frame(spark, [(t, 1.0) for t in terms], "term string, w double")
    fb = (
        scored(orig, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(fb_docs)
        .select(id_col)
    )
    exp = (
        ts.join(fb, id_col, "left_semi")
        .filter(~F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("tf").alias("__w"))
        .orderBy(F.desc("__w"), F.asc("term"))
        .limit(fb_terms)
        .select("term", F.lit(float(exp_weight)).alias("w"))
    )
    top = (
        scored(orig.unionByName(exp), "rm3_r")
        .orderBy(F.desc("rm3_r"), F.asc(id_col))
        .limit(k)
    )
    order = [F.desc("rm3_r"), F.asc(id_col)]
    return top.withColumn("rank", F.row_number().over(Window.orderBy(*order))).select(
        id_col, "rank", "rm3_r"
    )


def rm3_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    fb_docs: int = 10,
    fb_terms: int = 5,
    exp_weight: float = 0.5,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> str:
    """DuckDB mirror of ``rm3_topk`` — same tokenization, same
    relational DECIMAL-sum scoring, same feedback selection."""
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    vals = ", ".join(f"(CAST('{t}' AS VARCHAR), CAST(1.0 AS DOUBLE))" for t in terms)
    not_in = ", ".join(f"'{t}'" for t in terms)
    contrib = f"""o.w * ln((CAST(s.n AS DOUBLE) - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
               * (CAST(ts.tf AS DOUBLE) * ({k1} + 1.0))
               / (CAST(ts.tf AS DOUBLE)
                  + {k1} * (1.0 - {b} + {b} * CAST(ts.dl AS DOUBLE) / s.avgdl))"""
    return f"""
WITH tok AS (
  SELECT {id_col}, lower(unnest(regexp_split_to_array(trim({text_col}), '\\s+'))) AS term
  FROM {table}
), tf AS (
  SELECT {id_col}, term, COUNT(*) AS tf FROM tok GROUP BY {id_col}, term
), doc AS (
  SELECT {id_col}, SUM(tf) AS dl FROM tf GROUP BY {id_col}
), ts AS (
  SELECT tf.{id_col}, tf.term, tf.tf, doc.dl FROM tf JOIN doc USING ({id_col})
), stats AS (
  SELECT COUNT(*) AS n, AVG(CAST(dl AS DOUBLE)) AS avgdl FROM doc
), dfq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), orig(term, w) AS (
  VALUES {vals}
), score0 AS (
  SELECT ts.{id_col},
         ROUND(CAST(SUM(CAST({contrib} AS DECIMAL(28,12))) AS DOUBLE), {round_to})
           AS score
  FROM ts JOIN orig o USING (term) JOIN dfq USING (term) CROSS JOIN stats s
  GROUP BY ts.{id_col}
), fb AS (
  SELECT {id_col} FROM score0 ORDER BY score DESC, {id_col} LIMIT {fb_docs}
), exp AS (
  SELECT term, CAST({exp_weight} AS DOUBLE) AS w FROM (
    SELECT term, SUM(tf) AS w_ FROM ts
    WHERE {id_col} IN (SELECT {id_col} FROM fb) AND term NOT IN ({not_in})
    GROUP BY term ORDER BY w_ DESC, term LIMIT {fb_terms}
  )
), allt AS (
  SELECT term, w FROM orig UNION ALL SELECT term, w FROM exp
), scoref AS (
  SELECT ts.{id_col},
         ROUND(CAST(SUM(CAST({contrib} AS DECIMAL(28,12))) AS DOUBLE), {round_to})
           AS rm3_r
  FROM ts JOIN allt o USING (term) JOIN dfq USING (term) CROSS JOIN stats s
  GROUP BY ts.{id_col}
)
SELECT {id_col},
       CAST(ROW_NUMBER() OVER (ORDER BY rm3_r DESC, {id_col}) AS INT) AS rank,
       rm3_r
FROM (SELECT * FROM scoref ORDER BY rm3_r DESC, {id_col} LIMIT {k})
"""


def bm25_sql(
    table: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> str:
    """DuckDB oracle replicating ``bm25_topk`` bit-for-bit: same
    tokenization, same fixed-order per-term summation, same rounded
    tiebreak."""
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    in_list = ", ".join(f"'{t}'" for t in terms)
    fixed_sum = " + ".join(
        f"COALESCE(MAX(CASE WHEN term = '{t}' THEN c END), 0.0)" for t in terms
    )
    return f"""
WITH tok AS (
  SELECT {id_col}, lower(unnest(regexp_split_to_array(trim({text_col}), '\\s+'))) AS term
  FROM {table}
), stats AS (
  SELECT {id_col}, term, COUNT(*) AS tf,
         SUM(COUNT(*)) OVER (PARTITION BY {id_col}) AS dl
  FROM tok GROUP BY {id_col}, term
), nd AS (SELECT COUNT(*) AS n_docs FROM {table}),
ad AS (SELECT AVG(dl) AS avgdl FROM (SELECT DISTINCT {id_col}, dl FROM stats)),
rel AS (SELECT * FROM stats WHERE term IN ({in_list})),
dfreq AS (SELECT term, COUNT(DISTINCT {id_col}) AS df FROM rel GROUP BY term),
contrib AS (
  SELECT r.{id_col}, r.term,
         ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
           * CAST(tf AS DOUBLE) * ({k1} + 1.0)
           / (CAST(tf AS DOUBLE)
              + {k1} * (1.0 - {b} + {b} * CAST(dl AS DOUBLE) / avgdl)) AS c
  FROM rel r JOIN dfreq USING (term) CROSS JOIN nd CROSS JOIN ad
), pv AS (
  SELECT {id_col}, 0.0 + {fixed_sum} AS bm25
  FROM contrib GROUP BY {id_col}
)
SELECT {id_col},
       CAST(ROW_NUMBER() OVER (ORDER BY ROUND(bm25, {round_to}) DESC, {id_col}) AS INT)
         AS rank,
       ROUND(bm25, {round_to}) AS bm25_r
FROM pv
QUALIFY rank <= {k}
"""


def rrf_fuse(
    ranked: list[tuple[str, DataFrame]],
    id_col: str,
    k0: int = 60,
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal Rank Fusion over N ranked candidate lists (the
    standard hybrid-retrieval merge: lexical BM25 + dense cosine lists
    fused as ``score(d) = Σ_lists 1 / (k0 + rank_list(d))``, Cormack et
    al. 2009). Each input is ``(label, df)`` where ``df`` has
    ``(id_col, rank_col)``; a document missing from a list contributes
    0 for that list. Output: one row per document seen in ANY list,
    with per-list ranks (NULL when absent), the fused score, and a
    total-order ``fused_rank`` (score desc, id asc).

    Determinism: each addend is a single IEEE division of exact small
    integers and the addends are summed in the fixed label order, so
    the fused score is bit-identical on any engine — no rounding
    needed.

    Scale: the candidate lists are top-k outputs (thousands of rows at
    most, NOT corpus-sized), so every join is a broadcast of an
    already-tiny frame and the window runs over ≤ Σk rows on one
    partition by construction."""
    if len(ranked) < 2:
        raise ValueError("rrf_fuse needs at least two ranked lists")
    labels = [label for label, _ in ranked]
    if len(set(labels)) != len(labels):
        raise ValueError(f"rrf_fuse labels must be unique, got {labels}")
    # labels are interpolated into column names resolved via F.col();
    # a '.', space, or backtick would produce a confusing analyzer
    # error (ambiguous/unresolvable reference) instead of failing here
    bad = [l for l in labels if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", l)]
    if bad:
        raise ValueError(
            f"rrf_fuse labels must be identifiers ([A-Za-z_][A-Za-z0-9_]*), got {bad}"
        )
    fused = None
    for label, df in ranked:
        leg = df.select(
            F.col(id_col), F.col(rank_col).alias(f"{label}_rank")
        )
        fused = leg if fused is None else fused.join(leg, id_col, "full_outer")
    score = None
    for label, _ in ranked:
        addend = F.when(
            F.col(f"{label}_rank").isNotNull(),
            F.lit(1.0) / (F.lit(float(k0)) + F.col(f"{label}_rank").cast("double")),
        ).otherwise(F.lit(0.0))
        score = addend if score is None else score + addend
    out = fused.withColumn("rrf_score", score)
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return out.withColumn("fused_rank", F.row_number().over(w))

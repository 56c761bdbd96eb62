"""Text-analysis operators for training-data pipelines (beyond the
reference — BASELINE.json north star).

All hot-path logic is built-in Column expressions (JVM-side, inside
whole-stage codegen): tokenization via ``split``, shingling via
``transform``/``sequence``, hashing via ``md5`` (engine-independent, so
DuckDB oracles can replicate results bit-for-bit — unlike
``xxhash64``/``hash`` whose seeds are Spark-specific). No Python UDFs
anywhere in this module.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ontario_spark.persist import pin

# Marker stopwords per language for the n-gram/marker language-ID
# heuristic. Deterministic and tiny by design — the point is the
# Spark-side shape (scoring + argmax over languages), not model quality.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ein"),
    "fr": ("le", "la", "les", "et", "un"),
    "es": ("el", "los", "las", "y", "una"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def spread(df: DataFrame) -> DataFrame:
    """Ensure at least full-core parallelism before CPU-heavy per-row
    work.

    Small corpora often arrive as ONE parquet file = one partition, so
    hashing/shingling would run on a single core. Only repartitions when
    the input has FEWER partitions than cores — at real scale the input
    is already thousands of splits and a forced repartition would be a
    full-corpus shuffle for nothing.

    The partition probe (``df.rdd``) runs full physical planning
    (~50 ms per call), so the result is memoized per input DataFrame —
    a hit every time the caller passes a registry-stable table
    (``ontario_spark.data.table`` caches those); derived frames just
    re-probe. The already-parallel case caches a sentinel, not the
    frame itself: a value that references its own weak key would pin
    the entry forever."""
    cached = _spread_cache.get(df)
    if cached is not None:
        return df if cached is _ALREADY_SPREAD else cached
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        wide_enough = df.rdd.getNumPartitions() >= target
    except Exception:
        wide_enough = False  # unknown → repartition (the safe side)
    out = df if wide_enough else df.repartition(target)
    _spread_cache[df] = _ALREADY_SPREAD if wide_enough else out
    return out


_ALREADY_SPREAD = object()  # sentinel: input needs no repartition
_spread_cache: "WeakKeyDictionary[DataFrame, object]" = WeakKeyDictionary()


def tokens(col: Column) -> Column:
    """Whitespace tokenization; trim first so interior/edge whitespace
    never yields empty tokens. Deliberate edge: an EMPTY (or all-
    whitespace) document tokenizes to ``[""]`` — one empty token, not
    ``[]`` — because ``split("", pat)`` behaves that way in BOTH Spark
    and DuckDB (``regexp_split_to_array``), and every oracle-checked
    consumer (token stats, BM25 dl/avgdl, language-ID) relies on the
    two engines agreeing. Callers that need true emptiness filter
    ``trim(col) != ''`` first."""
    return F.split(F.trim(col), r"\s+")


def grams_of(toks: Column, n: int = 3) -> Column:
    """Word n-gram MULTISET (order-preserving, duplicates kept) from a
    MATERIALIZED token-array column; empty array when fewer than n
    tokens.

    Important: ``toks`` must be a projected column reference, not an
    inline ``split(...)`` expression — expressions inside higher-order-
    function lambdas are NOT common-subexpression-eliminated, so an
    inline split would re-tokenize the document for every element_at
    (O(doc_len × n_shingles) instead of O(doc_len))."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (see grams_of for the
    materialization requirement on ``toks``)."""
    return F.array_distinct(grams_of(toks, n))


def with_shingles(
    df: DataFrame, text_col: str, n: int = 3, out: str = "sh"
) -> DataFrame:
    """Two-step tokenize→shingle with the token array materialized as a
    real projection between the steps (see shingles_of)."""
    return (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .withColumn(out, shingles_of(F.col("__toks"), n))
        .drop("__toks")
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Inline shingle expression — convenience for tests/small inputs;
    hot paths must use exploded_shingles (see shingles_of docstring)."""
    return shingles_of(tokens(col), n)


def exploded_shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle) rows — one word n-gram per row.

    Hot-path shingler: n shifted ``slice``s of the token array zipped
    with ``arrays_zip`` and exploded — all regular codegen expressions,
    ZERO shuffle (a ``transform`` lambda runs interpreted, ~12× slower;
    a posexplode+lead-window variant costs a partitionBy shuffle —
    measured 2× slower at sf0.1).

    ``distinct=True`` (per-document shingle SET) is required by
    set-based consumers (n-gram Jaccard); min-aggregating consumers
    (MinHash, fingerprint anchors) pass False — min(multiset) ==
    min(set), so dedup would be pure overhead.

    PRECONDITION for ``distinct=True``: ``id_col`` must be unique per
    input row (one row per document). The dedup happens INSIDE each
    row's gram array, so if the same id spanned multiple rows,
    duplicate shingles across those rows would survive where a global
    per-(id, shingle) distinct would have removed them. Every current
    caller passes one-row-per-doc tables and the oracle's
    ``list_distinct`` is per-row too.

    Round 12 (guide §2.4, remove shuffles outright): the distinct is
    PER DOCUMENT (id is part of the key), so it is computable inside
    the row — ``array_distinct`` over the zipped-slices tuple array
    BEFORE the explode — and the old global ``.distinct()``, which
    shuffled the full (id, shingle TEXT) stream once per consumer
    (text_novelty's plan paid that wide exchange twice), is gone.
    Tokens are whitespace-split, so the space-joined shingle string is
    injective on the token tuple: struct-tuple distinctness == shingle
    -text distinctness — the same equivalence ``shingle_set_sizes``
    and ``repetition_stats`` already rely on, and exactly the oracle's
    per-row ``list_distinct``. (A multi-MB document makes the per-row
    distinct quadratic in the worst case, but such a document made the
    OLD form a single-key straggler in the distinct exchange too; the
    gram array for it already existed per-row either way.)"""
    base = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).filter(F.size("toks") >= n)
    m = F.size("toks") - (n - 1)
    z = F.arrays_zip(*[F.slice("toks", i + 1, m) for i in range(n)])
    if distinct:
        z = F.array_distinct(z)
    return base.select("id", F.explode(z).alias("z")).select(
        "id",
        F.concat_ws(" ", *[F.col("z").getField(str(i)) for i in range(n)]).alias(
            "shingle"
        ),
    )


def shingle_set_sizes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """Per-document distinct word-n-gram count as a MAP-ONLY pass:
    ``size(array_distinct(...))`` over the zipped-slices gram array —
    the scalar twin of ``exploded_shingles(distinct=True).groupBy(id)
    .count()``, with zero shuffle. Tokens are whitespace-split so the
    space-joined shingle string is injective on the token tuple:
    struct-array distinctness == shingle-text distinctness (the same
    equivalence ``repetition_stats`` relies on). Docs with fewer than
    ``n`` tokens emit no row, matching the exploded form. Same
    one-row-per-id precondition as ``exploded_shingles``.

    It lives beside ``exploded_shingles``, whose consumers in dedup.py
    and pipeline_suite.py both import it."""
    base = spread(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= n)
    m = F.size("__toks") - (n - 1)
    z = F.arrays_zip(*[F.slice("__toks", i + 1, m) for i in range(n)])
    return base.select(
        F.col(id_col),
        F.size(F.array_distinct(z)).cast("long").alias("n_shingles"),
    )


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish subword estimate
    (word-chunks of ≤4 chars — ceil(len/4) per word)."""
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    subwords = F.aggregate(
        toks,
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"),
    )
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        subwords.alias("n_subword_est"),
        F.length(F.col(text_col)).alias("n_chars"),
    )


def quality_score(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Heuristic quality features: mean word length, stopword ratio,
    alpha ratio, and a composite score. Single-division doubles so a
    SQL oracle reproduces values exactly.

    ``keep`` carries extra input columns through unchanged (the pass is
    map-only, so passthrough is free and saves the caller a corpus-wide
    rejoin on ``id_col``)."""
    text = F.col(text_col)
    toks = tokens(text)
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    mean_word_len = (F.length(text) - (n_tokens - 1)).cast("double") / n_tokens
    stop_ratio = n_stop.cast("double") / n_tokens
    alpha_ratio = n_alpha.cast("double") / F.length(text)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_tokens.alias("n_tokens"),
        mean_word_len.alias("mean_word_len"),
        stop_ratio.alias("stopword_ratio"),
        alpha_ratio.alias("alpha_ratio"),
    )


def lang_id(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Marker-word language ID: score = #tokens in each language's
    marker set; predict argmax (ties broken by language code order),
    'und' when all scores are zero.

    Shape: explode tokens ONCE, then one conditional count per language
    inside a single hash aggregate — everything whole-stage codegen.
    (A per-language ``F.filter`` higher-order lambda re-tokenizes the
    document per language and runs interpreted: measured ~10× slower.)
    ``explode_outer`` keeps empty documents in the output.

    ``keep`` columns ride the aggregate as extra group keys — they are
    functionally determined by ``id_col``, so the groups (and the
    partial-aggregation doc-granularity shuffle) are unchanged; this
    saves the caller a corpus-wide rejoin on ``id_col``."""
    tok = spread(df).select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.explode_outer(tokens(F.col(text_col))).alias("w"),
    ).select(id_col, *keep, F.lower(F.col("w")).alias("w"))
    langs = sorted(LANG_MARKERS)
    aggs = [
        F.count(F.when(F.col("w").isin(*LANG_MARKERS[lang]), 1))
        .cast("int")
        .alias(f"s_{lang}")
        for lang in langs
    ]
    hits = tok.groupBy(id_col, *keep).agg(*aggs)
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in reversed(langs):  # reversed so earlier codes win ties
        s = F.col(f"s_{lang}")
        best = F.when(s >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, s)
    return hits.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        best.alias("pred_lang"),
        best_score.alias("marker_hits"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Document fingerprinting: full-content md5 plus a winnowing-style
    anchor = min md5 over word n-gram shingles (stable under
    append/prepend edits, unlike the full hash)."""
    anchors = (
        exploded_shingles(df, id_col, text_col, n, distinct=False)
        .groupBy("id")
        .agg(F.min(F.md5(F.col("shingle"))).alias("shingle_anchor"))
    )
    hashes = spread(df).select(
        F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    return hashes.join(
        anchors.withColumnRenamed("id", id_col), id_col, "left_outer"
    ).select(id_col, "content_hash", "shingle_anchor")


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 4, w: int = 5
) -> DataFrame:
    """True winnowing fingerprints (the MOSS local-fingerprinting
    scheme): hash every word ``k``-gram, slide a window of ``w``
    consecutive hashes, keep each window's minimum, emit the DISTINCT
    minima as ``(id, fp)`` rows. Guarantee the bottom-1 anchor in
    ``fingerprint`` lacks: ANY shared token run of length ≥ k + w - 1
    between two documents shares at least one fingerprint, so an
    inverted index on fp finds local overlaps (plagiarism-style
    sub-document matches), not just whole-document similarity.

    Scale design: everything up to the final explode is per-row array
    expressions over the corpus scan (tokens → grams → 60-bit md5
    hashes → per-window minima → distinct) — map-only, zero shuffle;
    the fp stream is ~n_grams/w rows of 8-byte hashes. Hashes are
    md5-derived (engine-portable) so the DuckDB oracle reproduces
    every fingerprint bit-for-bit. Documents with fewer than ``k``
    tokens emit nothing; documents with fewer than ``w`` grams emit
    one fingerprint (the minimum over all their grams — the clipped
    final window, matching the SQL frame semantics)."""
    base = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks")
    ).filter(F.size("__toks") >= k)
    base = base.select("id", grams_of(F.col("__toks"), k).alias("__grams"))
    h60 = base.select(
        "id",
        F.transform(
            F.col("__grams"),
            lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast(
                "long"
            ),
        ).alias("__hs"),
    )
    m = F.greatest(F.size("__hs") - (w - 1), F.lit(1))
    wins = F.transform(
        F.sequence(F.lit(1), m),
        lambda i: F.array_min(F.slice(F.col("__hs"), i, w)),
    )
    return h60.select(
        "id", F.explode(F.array_distinct(wins)).alias("fp")
    )


def winnow_profile(
    df: DataFrame, id_col: str, text_col: str, k: int = 4, w: int = 5
) -> DataFrame:
    """Per-document winnowing profile over ``winnow_fingerprints``:
    fingerprint count and the global minimum (the bottom-1 anchor,
    recovering ``fingerprint``'s shingle_anchor semantics as the
    degenerate case)."""
    fps = winnow_fingerprints(df, id_col, text_col, k, w)
    return fps.groupBy(F.col("id").alias(id_col)).agg(
        F.count(F.lit(1)).alias("n_fps"),
        F.min("fp").alias("min_fp"),
    )


# GPT-2-style pretokenizer, constrained to constructs BOTH Java regex
# (Spark) and RE2 (DuckDB) support identically: no lookarounds (RE2 has
# none — the original GPT-2 pattern's trailing-space lookahead is
# dropped), leftmost-first alternation (both engines' default), and
# unicode classes \p{L}/\p{N} (both). Order matters: contractions
# before letter runs, letters before numbers before punctuation runs.
BPE_TOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def regex_token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """BPE-ish token counting: real pretokenizer matches (the
    GPT-2-family regex above), not the length/4 estimate
    ``token_stats`` keeps for cheap profiling. Per document: total
    regex tokens plus the class split (word / number / other, by the
    match's first non-space character). Pure per-row
    ``regexp_extract_all`` + array expressions — map-only, zero
    shuffle, whole-stage codegen."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(BPE_TOKEN_PATTERN), 0)
    first = lambda t: F.substring(F.ltrim(t), 1, 1)  # noqa: E731
    n_words = F.size(F.filter(toks, lambda t: first(t).rlike(r"\p{L}")))
    n_nums = F.size(F.filter(toks, lambda t: first(t).rlike(r"\p{N}")))
    n_ws = F.size(F.filter(toks, lambda t: F.trim(t) == ""))
    return spread(df).select(
        F.col(id_col),
        F.size(toks).alias("n_bpe_tokens"),
        n_words.alias("n_word_tokens"),
        n_nums.alias("n_num_tokens"),
        (F.size(toks) - n_words - n_nums - n_ws).alias("n_other_tokens"),
    )


def frequent_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 50
) -> DataFrame:
    """Corpus heavy hitters: the top-``k`` vocabulary terms by total
    occurrences, with document frequency, ranked with a unique
    (count desc, term asc) tiebreak so the selected set is
    engine-independent.

    Scale design: one explode feeding a map-side-combinable groupBy on
    the term (vocabulary cardinality is sublinear in corpus size, so
    the shuffled aggregate is small); top-k selection is the
    distributed ``orderBy().limit(k)`` TakeOrderedAndProject path —
    per-partition heaps, never a global sort. The rank window runs
    over just the k survivors."""
    from pyspark.sql.window import Window

    tok = spread(df).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).select(id_col, F.lower(F.col("term")).alias("term"))
    agg = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )
    order = [F.desc("n_occurrences"), F.asc("term")]
    top = agg.orderBy(*order).limit(k)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order)).cast("int")
    ).select("term", "rank", "n_occurrences", "n_docs")


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str, keep: tuple[str, ...] = ()
) -> DataFrame:
    """Intra-document repetition signals (the Gopher-style quality
    gates): the fraction of duplicate tokens / word-2-grams /
    word-3-grams within each document. Highly repetitive documents
    (boilerplate, generation loops, keyword stuffing) score high and
    get filtered before training.

    Entirely per-row array expressions — NO shuffle, NO explode: each
    fraction is 1 - |distinct|/|multiset| over arrays materialized once
    per document, so at 100 TB this is a single map-only pass. Grams
    are built as ``arrays_zip`` of shifted ``slice``s (an n-gram = a
    struct of n tokens; ``array_distinct`` dedups struct arrays
    directly) — all whole-stage-codegen expressions. The equivalent
    ``transform``-lambda form runs interpreted and is re-evaluated per
    use (no CSE inside lambdas): measured 31 s vs <1 s at sf0.1.

    ``keep`` names extra input columns to carry through unchanged —
    the pass is map-only, so passthrough is free, and it lets a caller
    that needs stats NEXT TO other attributes avoid a corpus-sized
    self-join back on ``id_col`` (round 12: the decontamination
    pipeline's rep-gate join was two full doc_id exchanges for columns
    that were never apart)."""

    def zgrams(n: int):
        m = F.size("__toks") - (n - 1)
        z = F.arrays_zip(*[F.slice("__toks", i + 1, m) for i in range(n)])
        return F.when(F.size("__toks") >= n, z).otherwise(F.array())

    base = spread(df).select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        tokens(F.col(text_col)).alias("__toks"),
    )
    g = base.select(
        id_col,
        *keep,
        F.size("__toks").alias("nt"),
        F.size(F.array_distinct("__toks")).alias("dt"),
        *[F.size(zgrams(n)).alias(f"ng{n}") for n in (2, 3)],
        *[F.size(F.array_distinct(zgrams(n))).alias(f"dg{n}") for n in (2, 3)],
    )

    def frac(total, distinct):
        return F.round(
            F.when(
                total > 0,
                (total - distinct).cast("double") / total.cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        )

    return g.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.col("nt").alias("n_tokens"),
        frac(F.col("nt"), F.col("dt")).alias("dup_token_frac"),
        frac(F.col("ng2"), F.col("dg2")).alias("dup_2gram_frac"),
        frac(F.col("ng3"), F.col("dg3")).alias("dup_3gram_frac"),
    )


# PII patterns, applied in DICT ORDER for redaction (emails first so an
# IP-shaped mail domain is consumed by [EMAIL] before the ipv4 pass).
# ASCII character classes only — identical semantics under Java regex
# (Spark) and RE2 (DuckDB), so oracles replicate counts and redactions
# exactly. Leftmost non-overlapping matching in both engines.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"\+\d{9,15}\b",
}


def pii_scan(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII detection + redaction over a text column — the
    data-curation gate that runs before a corpus ships to training:
    per-document match counts per category (email / SSN-shaped /
    IPv4 / international-phone-shaped), a total, and the md5 of the
    REDACTED text (each match replaced by its ``[CATEGORY]`` tag) so
    the cleaned form is verifiable without materializing it.

    Scale shape: pure per-row ``regexp_count``/``regexp_replace``
    column expressions — map-only, whole-stage codegen, zero shuffles,
    zero Python. Patterns are deliberately ASCII/RE2-safe so the DuckDB
    oracle reproduces every count and the redaction hash bit-for-bit.
    Counts are taken SEQUENTIALLY on the progressively-redacted text
    (each category counted after the previous categories' spans were
    replaced), so a span matching two categories — a phone shape inside
    an email's local part, an IP-shaped mail domain — is counted
    exactly once and ``n_pii`` always equals the number of redaction
    tags in the text ``redacted_hash`` attests. Precision/recall of the
    regexes is the standard trade (SSN/phone shapes over-match) — the
    operator's contract is deterministic flagging, not NER."""
    counts = []
    red = F.col(text_col)
    for k, p in PII_PATTERNS.items():
        counts.append(F.regexp_count(red, F.lit(p)).alias(f"n_{k}"))
        red = F.regexp_replace(red, p, f"[{k.upper()}]")
    total = None
    for k in PII_PATTERNS:
        c = F.col(f"n_{k}")
        total = c if total is None else total + c
    return (
        spread(df)
        .select(F.col(id_col), *counts, F.md5(red).alias("redacted_hash"))
        .select(id_col, *[f"n_{k}" for k in PII_PATTERNS],
                total.alias("n_pii"), "redacted_hash")
    )


# URL + registrable-domain patterns — ASCII/RE2-safe like PII_PATTERNS,
# so Spark (Java regex) and DuckDB (RE2) extract identical matches.
# The path class spells out Java's \s ([ \t\n\x0B\f\r]) explicitly:
# RE2's \s lacks \x0B, so a bare [^\s] diverges on vertical-tab text
# (round-6 review fix).
URL_PATTERN = r"https?://[A-Za-z0-9.-]+(?:/[^ \t\n\x0B\f\r]*)?"
_DOMAIN_PATTERN = r"https?://([A-Za-z0-9.-]+)"


def url_scan(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocklist: "list[str] | None" = None,
) -> DataFrame:
    """URL extraction + domain blocklist flagging — the curation gate
    that drops documents sourced from (or heavily citing) unwanted
    domains: per document, the URL count, the sorted distinct
    lower-cased domain set (comma-joined — a string, so cross-engine
    hash comparison stays simple), and how many of those domains hit
    the ``blocklist``. Downstream filters on ``n_blocked == 0``.

    Scale shape: pure per-row ``regexp_extract_all`` + array column
    expressions — map-only, zero shuffles, zero Python; the blocklist
    is a literal array (a corpus-scale list would broadcast-join on an
    exploded domain column instead)."""
    # NULL text ⇒ no URLs (not NULL counts/domains) — keeps the
    # operator total and the DuckDB oracle definition equivalent
    # (round-6 review fix: one-sided COALESCE in the oracle).
    urls = F.regexp_extract_all(
        F.coalesce(F.col(text_col), F.lit("")), F.lit(URL_PATTERN), 0
    )
    doms = F.array_sort(
        F.array_distinct(
            F.transform(
                urls,
                lambda u: F.lower(
                    F.regexp_extract(u, _DOMAIN_PATTERN, 1)
                ),
            )
        )
    )
    cols = [
        F.col(id_col),
        F.size(urls).alias("n_urls"),
        F.array_join(doms, ",").alias("domains"),
    ]
    if blocklist is not None:
        blocked = F.array_intersect(
            doms, F.array(*[F.lit(b.lower()) for b in sorted(blocklist)])
        )
        cols.append(F.size(blocked).alias("n_blocked"))
    return spread(df).select(*cols)


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Overlapping token-window chunking — the RAG/embedding prep step
    that turns documents into fixed-budget passages: whitespace tokens,
    windows of ``chunk_size`` tokens starting every ``chunk_size -
    overlap`` tokens, last window clipped at the document tail (and
    every document yields ≥1 chunk, so empty/short docs survive).
    Output: ``(id, chunk_id, chunk_text, n_chunk_tokens)``.

    Scale shape: tokenize once, then ``explode(sequence(...))`` +
    ``slice`` — map-only column expressions, zero shuffles, zero
    Python; output row count is ~n_tokens/step per doc, linear in
    corpus size. NULL text chunks as empty (total operator, mirrors
    ``url_scan``)."""
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"need 0 <= overlap < chunk_size, got {overlap}/{chunk_size}"
        )
    step = chunk_size - overlap
    toks = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    base = spread(df).select(F.col(id_col), toks.alias("__toks"))
    n = F.size(F.col("__toks"))
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(step)).cast("int"),
        F.lit(1),
    )
    exploded = base.select(
        F.col(id_col),
        F.col("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("__toks"), F.col("chunk_id") * F.lit(step) + F.lit(1), chunk_size
    )
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-document mean negative log-probability under an add-one-
    smoothed corpus unigram LM — the KenLM-style "perplexity filter"
    tier of a quality pipeline (high score = rare/OOV-heavy text):
    ``(id, n_tokens, avg_neg_logprob)`` with
    ``avg_neg_logprob = (1/n) Σ_term tf·ln((N+V)/(c_term+1))``.

    Cross-engine determinism: each per-term contribution is rounded to
    ``round_to`` decimals and cast DECIMAL(18,6) BEFORE the per-doc
    sum, so the sum is exact integer arithmetic and order-independent
    (a raw double sum over thousands of tokens re-associates
    differently per engine/partitioning — same discipline as the
    TPC-H dsum/davg pattern); exact ties at the rounding grid are
    impossible for ln of a rational ≠ 1. Scale shape: one
    explode→groupBy for the vocabulary, tf⋈vocab on the term key
    (both sides compact), corpus totals as ONE broadcast row (the
    bm25 stats pattern), zero Python."""
    tok = spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = tok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("term").alias("v"),
    )
    contrib = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "id",
            "tf",
            F.round(
                F.col("tf").cast("double")
                * F.log(
                    (F.col("n") + F.col("v")).cast("double")
                    / (F.col("c") + F.lit(1)).cast("double")
                ),
                round_to,
            )
            # scale follows round_to, else a coarser cast would
            # re-round with a different step than the oracle's ROUND
            # (round-6 review fix)
            .cast(f"decimal(18,{round_to})")
            .alias("s"),
        )
    )
    return contrib.groupBy("id").agg(
        F.sum("tf").cast("int").alias("n_tokens"),
        (
            F.sum("s").cast("double") / F.sum("tf").cast("double")
        ).alias("avg_neg_logprob"),
    ).select(F.col("id").alias(id_col), "n_tokens", "avg_neg_logprob")


def dsir_logratio(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target: Column,
    round_to: int = 6,
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every document by how much more
    likely its unigrams are under a TARGET-domain LM than under the raw
    corpus LM — ``logratio = Σ_term tf·(ln p_t(term) − ln p_r(term))``
    with both LMs add-one smoothed over the SHARED raw vocabulary
    (so target-OOV terms stay defined and drag the score down). The
    classic use: ``target`` marks a small trusted slice (wiki/books),
    and the top-weighted raw documents are resampled into the training
    mix. Returns ``(id, n_tokens, dsir_logratio, keep)`` where ``keep``
    is the logratio>0 gate.

    Determinism discipline = ``unigram_logprob``: each per-term
    contribution is rounded to ``round_to`` decimals and summed as
    DECIMAL, so the score is order-independent and engine-exact (ln of
    rational ratios never lands on the rounding grid). Scale shape:
    ONE tokenize pass feeds both LMs (the target counts are a
    conditional aggregate of the same explode — not a second scan),
    term joins are vocab-sized, corpus totals are one broadcast row."""
    tok = spread(df).select(
        F.col(id_col).alias("id"),
        target.alias("__t"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = tok.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tok.groupBy("term").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(F.when(F.col("__t"), 1)).alias("ct"),
    )
    tot = tok.agg(
        F.count(F.lit(1)).alias("nr"),
        F.count(F.when(F.col("__t"), 1)).alias("nt"),
        F.countDistinct("term").alias("v"),
    )
    contrib = (
        tf.join(vocab, "term")
        .crossJoin(F.broadcast(tot))
        .select(
            "id",
            "tf",
            F.round(
                F.col("tf").cast("double")
                * (
                    F.log(
                        (F.col("ct") + 1).cast("double")
                        / (F.col("nt") + F.col("v")).cast("double")
                    )
                    - F.log(
                        (F.col("cr") + 1).cast("double")
                        / (F.col("nr") + F.col("v")).cast("double")
                    )
                ),
                round_to,
            )
            .cast(f"decimal(18,{round_to})")
            .alias("s"),
        )
    )
    return (
        contrib.groupBy("id")
        .agg(
            F.sum("tf").cast("int").alias("n_tokens"),
            F.sum("s").alias("__sum"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.col("__sum").cast("double").alias("dsir_logratio"),
            (F.col("__sum") > 0).alias("keep"),
        )
    )


def novelty_score(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Corpus-relative novelty: the fraction of a document's distinct
    word n-grams that appear in NO other document —
    ``(id, n_shingles, n_novel, novelty)``. The diversity dual of the
    contamination scan: high novelty marks original content, near-zero
    novelty marks templated/boilerplate-heavy text. Deterministic and
    engine-portable (60-bit md5 shingle hashes, exact counts, one
    final division).

    Scale shape: one explode → global doc-frequency aggregate on the
    8-byte hash → rejoin → per-doc conditional count. Two hash
    shuffles, payloads never carry shingle text."""
    sh = exploded_shingles(df, id_col, text_col, n)
    h60 = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    hashed = sh.select("id", h60.alias("h"))
    freq = hashed.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    return (
        hashed.join(freq, "h")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("int")).alias("n_novel"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_shingles").cast("long"),
            F.col("n_novel").cast("long"),
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty"),
        )
    )


def canonical_url(url: Column) -> Column:
    """Canonicalize an http(s) URL for dedup keying: lowercase scheme
    and host, strip the scheme's default port (:80 / :443), drop the
    fragment, strip trailing path slashes, drop ``utm_*`` tracking
    params, and SORT the surviving query params — so syntactic
    variants of the same resource collapse to one key (web-crawl
    dedup's first, cheapest pass: URL-level dedup removes refetches
    before any content hashing). Pure regexp/array column expressions,
    mirrored 1:1 by the DuckDB oracle; non-URL input yields NULL."""
    scheme = F.lower(F.regexp_extract(url, r"^([Hh][Tt][Tt][Pp][Ss]?)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[Hh][Tt][Tt][Pp][Ss]?://([^/?#]+)", 1))
    host = F.when(
        scheme == "https", F.regexp_replace(hostport, r":443$", "")
    ).otherwise(F.regexp_replace(hostport, r":80$", ""))
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[Hh][Tt][Tt][Pp][Ss]?://[^/?#]+([^?#]*)", 1),
        r"/+$",
        "",
    )
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    return F.when(
        scheme != "",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
        ),
    )


def canonical_url_sql(url_expr: str) -> str:
    """DuckDB expression replicating ``canonical_url`` bit-for-bit."""
    scheme = f"lower(regexp_extract({url_expr}, '^([Hh][Tt][Tt][Pp][Ss]?)://', 1))"
    hostport = f"lower(regexp_extract({url_expr}, '^[Hh][Tt][Tt][Pp][Ss]?://([^/?#]+)', 1))"
    host = (
        f"CASE WHEN {scheme} = 'https' THEN regexp_replace({hostport}, ':443$', '')"
        f" ELSE regexp_replace({hostport}, ':80$', '') END"
    )
    path = (
        f"regexp_replace(regexp_extract({url_expr},"
        f" '^[Hh][Tt][Tt][Pp][Ss]?://[^/?#]+([^?#]*)', 1), '/+$', '')"
    )
    params = (
        f"array_to_string(list_sort(list_filter("
        f"string_split(regexp_extract({url_expr}, '\\?([^#]*)', 1), '&'),"
        f" p -> p != '' AND NOT starts_with(p, 'utm_'))), '&')"
    )
    return (
        f"CASE WHEN {scheme} != '' THEN {scheme} || '://' || {host} || {path}"
        f" || CASE WHEN {params} != '' THEN '?' || {params} ELSE '' END END"
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def quality_gates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style rule-based quality gate (Rae et al. 2021 §A1.1.2
    repetition/format rules adapted to this corpus): per-document
    boolean gates — word-count bounds, mean-word-length bounds,
    fraction of words containing an alphabetic character, and presence
    of common-stopword evidence — plus the conjunctive ``pass_all``.
    Emitting the individual gate flags (not just the verdict) is the
    curation-pipeline contract: rejected-by-which-rule drives corpus
    triage dashboards. Pure column expressions, map-only, no shuffle.
    ``keep`` carries extra input columns through unchanged (free for a
    map-only pass; saves the caller a corpus-wide rejoin)."""
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    # EXACT mean word length (sum of token lengths / count) — the
    # (length - separators) shortcut credits every EXTRA whitespace
    # char to the words, letting multi-space/newline-separated junk
    # through the [3, 10] band (review finding, round 9)
    mean_wl = (
        F.aggregate(
            F.transform(toks, lambda w: F.length(w)),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double")
        / n_words
    )
    alpha_frac = (
        F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("double")
        / n_words
    )
    stop_hits = F.size(
        F.filter(toks, lambda w: F.lower(w).isin(*_GOPHER_STOPWORDS))
    )
    g_count = (n_words >= min_words) & (n_words <= max_words)
    g_wl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    g_alpha = alpha_frac >= min_alpha_word_frac
    g_stop = stop_hits >= min_stopword_hits
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        n_words.alias("n_words"),
        g_count.alias("gate_word_count"),
        g_wl.alias("gate_mean_word_len"),
        g_alpha.alias("gate_alpha_words"),
        g_stop.alias("gate_stopwords"),
        (g_count & g_wl & g_alpha & g_stop).alias("pass_all"),
    )


def bpe_train_merges(
    df: DataFrame, text_col: str, rounds: int = 8
) -> DataFrame:
    """Iterated BPE tokenizer training (round 11, VERDICT r10 task 4):
    ``rounds`` full merge rounds — each round counts adjacent symbol
    pairs over the corpus, picks the argmax (count desc, then
    lexicographic (left,right) — fully deterministic), APPLIES that
    merge greedily left-to-right/non-overlapping to every word's
    symbol sequence, and recounts. Returns the merge table
    ``(merge_rank, left_sym, right_sym, merged, pair_count)`` —
    exactly what a BPE tokenizer persists as its vocab-build artifact.
    ``bpe_merge_candidates`` below is the single-round top-k profile;
    this is the real training loop. When no word has two symbols left,
    training stops early: the table has fewer than ``rounds`` rows.

    Scale shape: like that single round, the corpus collapses FIRST to
    the distinct-word frequency table (vocabulary is sublinear in
    corpus size — the classic BPE-training trick). Training is then
    ONE task over that table, held as one row, so the table must fit
    in one row; every round is a map over that row, with no shuffle
    and no Spark job per round. ``rounds`` is fixed (not
    convergence-probed), so a DuckDB oracle can unroll the identical
    rounds (``bpe_train_sql``) and hash-match the merge table.

    The greedy merge is a fold over the word's symbol array: acc
    starts as the first symbol; each next symbol either fuses with a
    trailing ``left`` (when it equals ``right``) or appends. A fused
    symbol is ``left||right`` ≠ ``left``, so it can never re-fuse in
    the same round — exactly textbook left-to-right non-overlapping
    semantics, pinned by a hand-computed pytest."""
    merges = _bpe_train_core(df, text_col, rounds).select(F.inline("m"))
    return merges.select(
        "merge_rank",
        "left_sym",
        "right_sym",
        F.concat("left_sym", "right_sym").alias("merged"),
        F.col("cnt").alias("pair_count"),
    )


def _bpe_fold(syms: Column, l: Column, r: Column) -> Column:
    """One greedy left-to-right non-overlapping merge application over
    a symbol array (``_bpe_sql_ctes`` replays it over chr(31)-joined
    strings)."""

    def step(acc, s):
        return F.when(
            (F.element_at(acc, -1) == l) & (s == r),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.concat(l, r))
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(_tail(syms), F.slice(syms, 1, 1), step)


def _tail(syms: Column) -> Column:
    return F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0)))


_BPE_MERGES = (
    "array<struct<merge_rank:int,left_sym:string,right_sym:string,cnt:bigint>>"
)


def _bpe_best_pair(v: Column) -> Column:
    """The round's argmax pair over the vocab ``v`` as ``(l, r, cnt)``;
    ``cnt`` is 0 when no word has two symbols. The pairs are sorted by
    ``(l, r)`` and one scan sums each run of equal pairs, keeping a run
    only when it beats the best so far, so ties go to the smallest
    ``(l, r)``."""
    pairs = F.array_sort(
        F.flatten(
            F.transform(
                v,
                lambda x: F.transform(
                    _tail(x["s"]),
                    lambda r, i: F.struct(
                        F.element_at(x["s"], i + 1).alias("l"),
                        r.alias("r"),
                        x["f"].alias("f"),
                    ),
                ),
            )
        )
    )

    def run(l, r, cnt):
        return F.struct(l.alias("l"), r.alias("r"), cnt.alias("cnt"))

    def best(acc):
        cur, top = acc["cur"], acc["top"]
        return F.when(cur["cnt"] > top["cnt"], cur).otherwise(top)

    def step(acc, p):
        cur = acc["cur"]
        same = (p["l"] == cur["l"]) & (p["r"] == cur["r"])
        return F.when(
            same,
            F.struct(
                run(cur["l"], cur["r"], cur["cnt"] + p["f"]).alias("cur"),
                acc["top"].alias("top"),
            ),
        ).otherwise(
            F.struct(
                run(p["l"], p["r"], p["f"]).alias("cur"),
                best(acc).alias("top"),
            )
        )

    nil = F.lit(None).cast("string")
    none = run(nil, nil, F.lit(0).cast("long"))
    return F.aggregate(
        pairs, F.struct(none.alias("cur"), none.alias("top")), step, best
    )


def _bpe_train_core(df: DataFrame, text_col: str, rounds: int) -> DataFrame:
    """Shared BPE training loop over one row: ``v`` is the distinct-word
    vocab ``array<struct<w, s: array<string>, f>>`` with every merge
    applied, ``m`` the merge table ``array<struct<merge_rank,
    left_sym, right_sym, cnt>>``. A round that finds no pair empties
    ``v``, so every later round finds none either (the same rows the
    unrolled oracle's cross join with an empty argmax gives)."""
    state = (
        spread(df)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .select(F.lower(F.col("w")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.length("w") >= 2)
        .agg(
            F.collect_list(
                F.struct("w", F.split(F.col("w"), "").alias("s"), "f")
            ).alias("v")
        )
        .select("v", F.array().cast(_BPE_MERGES).alias("m"))
    )
    # The round's Columns are built once: constructing them (py4j calls
    # plus analysis) is most of what a round costs while it is built.
    best = _bpe_best_pair(F.col("v")).alias("b")
    b = F.col("b")
    found = b["cnt"] > 0
    v = F.transform(
        F.filter("v", lambda _: found),
        lambda x: F.struct(
            x["w"].alias("w"),
            _bpe_fold(x["s"], b["l"], b["r"]).alias("s"),
            x["f"].alias("f"),
        ),
    ).alias("v")
    m = F.when(
        found,
        F.concat(
            "m",
            F.array(
                F.struct(
                    (F.size("m") + 1).alias("merge_rank"),
                    b["l"].alias("left_sym"),
                    b["r"].alias("right_sym"),
                    b["cnt"].alias("cnt"),
                )
            ),
        ),
    ).otherwise(F.col("m")).alias("m")
    for _ in range(rounds):
        # truncated per round, or the optimizer's project collapsing
        # over the nested rounds exhausts the JVM heap; no round has
        # an exchange, so the lazy checkpoint fires no job of its own
        state = pin(
            state.select("v", "m", best).select(v, m),
            truncate=True,
            eager=False,
        )
    return state


def bpe_encode_stats(
    df: DataFrame, id_col: str, text_col: str, rounds: int = 8
) -> DataFrame:
    """Tokenizer APPLICATION (round 11): train ``rounds`` BPE merges on
    the corpus, apply them all, and report per-document token stats —
    ``(id, n_words, n_chars, n_tokens)`` where n_tokens counts the
    BPE symbols each word ends with. The word-level work rides the
    distinct-word VOCAB (sublinear in corpus size); documents join
    back to it on the word — the standard tokenize-by-vocab-join
    shape. Words the trainer never saw (length < 2) count 1 token;
    n_chars counts lowercased word characters (whitespace excluded),
    so n_tokens/n_chars is the compression the learned merges buy."""
    v = _bpe_train_core(df, text_col, rounds).select(F.inline("v")).select(
        "w", F.size("s").alias("__n_sym")
    )
    words = (
        spread(df)
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("w"))
        .select(id_col, F.lower(F.col("w")).alias("w"))
    )
    return (
        words.join(v, "w", "left_outer")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum(F.coalesce(F.col("__n_sym"), F.lit(1)))
            .cast("long")
            .alias("n_tokens"),
        )
    )


def _bpe_sql_ctes(
    source: str, text_col: str, rounds: int, apply_last: bool
) -> str:
    """The WITH-chain both BPE oracles share: tok → wf0 → per-round
    (p{n} pair counts, b{n} argmax, wf{n} merge-applied vocab). It
    replays ``_bpe_train_core``'s rounds relationally: a word's symbols
    are one chr(31)-joined string, and a round with no argmax row
    empties the vocab through the cross join with ``b{n}``."""
    parts = [
        f"""WITH tok AS (
  SELECT lower(unnest(regexp_split_to_array(trim({text_col}), '\\s+'))) AS w
  FROM {source}
), wf0 AS (
  SELECT w, array_to_string(regexp_split_to_array(w, ''), chr(31)) AS seq,
         COUNT(*) AS f
  FROM tok WHERE length(w) >= 2 GROUP BY w
)"""
    ]
    for n in range(1, rounds + 1):
        prev = f"wf{n - 1}"
        parts.append(
            f""", p{n} AS (
  SELECT unnest(list_transform(range(1, array_length(sy)),
                i -> struct_pack(l := sy[i], r := sy[i + 1]))) AS p, f
  FROM (SELECT string_to_array(seq, chr(31)) AS sy, f FROM {prev})
), b{n} AS (
  SELECT {n} AS merge_rank, p.l AS left_sym, p.r AS right_sym,
         SUM(f) AS cnt
  FROM p{n} GROUP BY p.l, p.r ORDER BY cnt DESC, p.l, p.r LIMIT 1
)"""
        )
        if n < rounds or apply_last:
            parts.append(
                f""", wf{n} AS (
  SELECT w, list_reduce(string_to_array(seq, chr(31)),
    (acc, s) -> CASE
      WHEN (acc = b.left_sym OR suffix(acc, chr(31) || b.left_sym))
           AND s = b.right_sym
      THEN substr(acc, 1, length(acc) - length(b.left_sym))
           || b.left_sym || b.right_sym
      ELSE acc || chr(31) || s END) AS seq, f
  FROM {prev}, b{n} AS b
)"""
            )
    return "".join(parts)


def bpe_train_sql(source: str, text_col: str, rounds: int = 8) -> str:
    """The unrolled DuckDB replay of ``bpe_train_merges`` — identical
    tokenization, pair counts, argmax tiebreak, and greedy fold
    (``list_reduce`` over chr(31)-joined symbol sequences)."""
    union = "\nUNION ALL\n".join(f"SELECT * FROM b{n}" for n in range(1, rounds + 1))
    return (
        _bpe_sql_ctes(source, text_col, rounds, apply_last=False)
        + f"""
SELECT CAST(merge_rank AS INT) AS merge_rank, left_sym, right_sym,
       left_sym || right_sym AS merged, CAST(cnt AS BIGINT) AS pair_count
FROM ({union})"""
    )


def bpe_encode_sql(
    source: str, id_col: str, text_col: str, rounds: int = 8
) -> str:
    """The unrolled DuckDB replay of ``bpe_encode_stats``: the same
    training chain with every merge APPLIED, then documents tokenize
    by joining the final vocab."""
    return (
        _bpe_sql_ctes(source, text_col, rounds, apply_last=True)
        + f""", vocab AS (
  SELECT w, array_length(string_to_array(seq, chr(31))) AS n_sym
  FROM wf{rounds}
), dw AS (
  SELECT {id_col},
         lower(unnest(regexp_split_to_array(trim({text_col}), '\\s+'))) AS w
  FROM {source}
)
SELECT {id_col}, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(w)) AS BIGINT) AS n_chars,
       CAST(SUM(COALESCE(n_sym, 1)) AS BIGINT) AS n_tokens
FROM dw LEFT JOIN vocab USING (w)
GROUP BY {id_col}"""
    )


def bpe_merge_candidates(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """One byte-pair-encoding merge round over the corpus: the top-k
    adjacent character pairs by corpus frequency — the inner loop of
    vocabulary induction (BPE/WordPiece training), expressed
    relationally so a tokenizer can be trained where the corpus lives
    instead of sampling it down to one machine.

    Scale shape: the corpus collapses to the DISTINCT lowercased word
    table with frequencies FIRST (one hash aggregate — vocabulary is
    sublinear in corpus size), so the character-pair explode runs over
    unique words, weighted by the word count; pair totals are one more
    hash aggregate and the top-k is a distributed TakeOrdered. Exact
    integer counts end-to-end, id tiebreak on the pair string."""
    wf = (
        spread(df)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .select(F.lower(F.col("w")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
        .filter(F.length("w") >= 2)
    )
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "f",
    )
    top = (
        pairs.groupBy("pair")
        .agg(F.sum("f").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(k)
    )
    from pyspark.sql.window import Window

    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return top.withColumn("merge_rank", F.row_number().over(w)).select(
        "merge_rank", "pair", "pair_count"
    )

"""Deduplication operators for training-data pipelines.

Scale notes (the design target is ~100 TB of documents on a 1000-
executor cluster):

- Exact dedup is one hash-shuffle on the content hash (md5 of the
  text), not the text itself — shuffle payload stays small.
- MinHash+LSH is the classic shingle → minhash → band → bucket-join
  pipeline: only documents sharing a band bucket are ever paired, so
  the quadratic all-pairs step never materializes. Band buckets are
  computed with md5 (engine-independent, deterministic across runs —
  required for resumable pipelines and cross-engine validation).
- SimHash packs a document into one 32-bit integer; near-dup candidates
  share band bytes. Everything is Column expressions — no Python UDFs.
- n-gram Jaccard is exact verification: explode distinct shingles,
  self-join per shingle, count intersections. Used standalone for
  small/medium corpora or as the verify stage after LSH.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ontario_spark.persist import persisted


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content: one row per distinct text,
    keeping the smallest id as canonical + the duplicate count."""
    h = F.md5(F.col(text_col))
    return (
        df.select(F.col(id_col), h.alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _pair_cols(id_col: str):
    return (F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs (a < b) with
    |A∩B| / |A∪B| >= threshold over distinct word n-gram shingles.

    Shuffle hygiene for scale: the self-join key is a 64-bit hash of
    the shingle (not the string), the join payload is just (id, key),
    and the per-doc set sizes rejoin AFTER pair aggregation from a
    small broadcast side — so the quadratic candidate stream carries 16
    bytes/row instead of the shingle text + counters.

    ``max_doc_freq`` is the skew guard for corpus scale: a shingle
    appearing in d documents contributes d² candidate rows, so ONE
    stopword-ish shingle shared by a million documents would emit 10¹²
    rows out of a single join key (one task). Setting a cap drops
    shingles with document frequency > cap before the self-join,
    bounding any key's fan-out at cap². Recall trade, documented:
    intersections THROUGH capped shingles are lost, so Jaccard is
    underestimated for pairs whose overlap is mostly ubiquitous
    shingles — exactly the pairs exact dedup shouldn't report anyway.
    Set-size denominators stay uncapped (exact). None = exact
    semantics (small/verify-stage corpora)."""
    inter = _ngram_pair_counts(df, id_col, text_col, n, max_doc_freq)
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return inter.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT similarity join: pairs (a < b) with
    |A∩B| / min(|A|, |B|) >= threshold — the sub-document duplication
    detector. Jaccard misses a short document wholly quoted inside a
    long one (the union denominator swamps the overlap); containment
    scores that pair 1.0. Same shuffle hygiene and ``max_doc_freq``
    skew guard as ``ngram_jaccard_pairs`` (shared candidate
    machinery)."""
    inter = _ngram_pair_counts(df, id_col, text_col, n, max_doc_freq)
    cont = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    )
    return inter.select(
        "id_a", "id_b", cont.alias("containment")
    ).filter(F.col("containment") >= threshold)


def _anchor_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    k_anchors: int,
    max_anchor_freq: int | None,
    verify_semi_join: bool,
    candidate_budget: int | None = None,
    inv_list_budget: int | None = None,
    anchor_expand: int | None = None,
) -> DataFrame:
    """Shared candidate+verify core of the anchor-sketch similarity
    joins (``anchor_containment_pairs`` / ``anchor_jaccard_pairs``):
    ``(id_a, id_b, n_common, n_a, n_b)`` — bottom-k anchor candidates,
    exact intersection verify. See ``anchor_containment_pairs`` for
    the recall/skew analysis; only the final score formula differs
    between consumers:

    1. CANDIDATES: each document samples its ``k_anchors`` smallest
       60-bit md5 shingle hashes (a bottom-k sketch = uniform sample
       of its shingle SET); a pair becomes a candidate when one doc's
       anchor appears ANYWHERE in the other doc's shingle set — an
       inverted-index join on the anchor hash, doc-frequency-capped by
       ``max_anchor_freq`` (same skew bound as ``max_doc_freq``).
       Recall: a pair whose smaller side has true containment c is
       missed with probability ≤ (1-c')^k, where c' is the containment
       restricted to sub-cap shingles — at the default k=16 and the
       0.5 threshold, ~1.5e-5 (anchors uniformly sample the capped
       shingle set of the contained side, and EVERY sampled shingle of
       a contained region exists in the container; overlap carried
       only by over-cap shingles is invisible, the same documented
       trade as ``max_doc_freq``).
    2. VERIFY: exact intersection counts restricted to candidate
       pairs (cost Σ|A| over candidates — linear, never corpus²) via
       two hash-keyed joins; containment = n_common / min(|A|,|B|) is
       EXACT for every emitted pair.

    The hashes are md5-derived (engine-portable), so the DuckDB oracle
    replicates candidates AND scores bit-for-bit."""
    from ontario_spark.operators.textops import exploded_shingles
    from pyspark.sql.window import Window

    sh = exploded_shingles(df, id_col, text_col, n)
    h60 = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    hashed = persisted(sh.select("id", h60.alias("h")))
    sizes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Fused inverted-index stage (round 12, guide §2.4 "two operations
    # keyed the same way share one exchange"): ONE h-keyed shuffle
    # computes the doc-frequency as a whole-partition window count,
    # applies the df cap as a row filter (the old anti-join against
    # over-cap keys removed entire h-groups, so filtering rows by
    # their own group's count is identical — and for surviving groups
    # df over the full relation equals df over the capped one), and
    # ranks the inverted list in the same pass. The old form paid
    # three h-keyed shuffles of the full occurrence stream (heavy-key
    # aggregate, dfreq aggregate, inverted-list window) plus a
    # dfreq⋈anchors join; ``df`` now just rides along. Measured at
    # sf0.1: 4.4 s → ~2.9 s solo; at lake scale this halves the
    # operator's dominant shuffle bytes.
    wh = Window.partitionBy("h")
    invh = hashed.withColumn("df", F.count(F.lit(1)).over(wh))
    if max_anchor_freq is not None:
        invh = invh.filter(F.col("df") <= max_anchor_freq)
    if inv_list_budget is not None:
        # Inverted-list bound (round 12): each anchor hash expands to
        # at most ``inv_list_budget`` partner docs (deterministic —
        # first by doc id), so the candidate OCCURRENCE stream is hard-
        # bounded at N × k × L rows even when every shingle's doc
        # frequency saturates toward ``max_anchor_freq`` (the fixed-
        # vocabulary class: uncapped, the stream is N × k × cap ≈ 8B
        # rows at the 100× probe — the shuffle spill filled the disk).
        # Unlike TIGHTENING the df cap — which drops a hot anchor
        # entirely — the bound keeps the anchor matchable against L
        # partners, strictly better recall at the same stream size. On
        # long-tail corpora (df ≪ L) it is a no-op. Replicated
        # verbatim in the DuckDB oracle.
        invh = invh.withColumn(
            "__ir", F.row_number().over(wh.orderBy("id"))
        )
    # invh feeds both join legs (anchors + inverted lists); persist so
    # the h-shuffle/window pass runs once, mirroring ``hashed``.
    invh = persisted(invh)
    inv_b = (
        invh.filter(F.col("__ir") <= inv_list_budget).select("id", "h")
        if inv_list_budget is not None
        else invh.select("id", "h")
    )
    # Anchors sample the FREQ-CAPPED set: a heavy shingle's hash can't
    # match the inverted side anyway, so sampling it would waste one of
    # the k slots (recall) while a hot anchor×inv join key would carry
    # cap×k rows (skew). Candidate fan-out per doc is bounded by
    # k_anchors × max_anchor_freq — on corpora whose shingle
    # doc-frequencies saturate toward the cap (tiny vocabularies), that
    # product is the knob to tighten; see SCALE.md.
    # bottom-k per doc via a row_number window. A collect_list→sort→
    # slice aggregation measured ~20% faster warm at sf0.1, but it
    # materializes EVERY document's full distinct-shingle hash list in
    # one aggregation buffer — a single pathological multi-MB document
    # would OOM an executor, while the window sort spills (round-6
    # review: memory safety at the operator's stated corpus scale
    # outweighs the toy-scale win). Both per-doc windows share one
    # id-keyed exchange (same partitioning, chained sorts).
    wid = Window.partitionBy("id")
    anchors = invh.withColumn(
        "__rn", F.row_number().over(wid.orderBy("h"))
    ).filter(F.col("__rn") <= k_anchors)
    if anchor_expand is not None:
        # Expansion bound (round 12): only each doc's ``anchor_expand``
        # RAREST anchors (by capped doc-frequency, then hash) generate
        # candidates, shrinking the occurrence stream to N × R × L
        # rows. Containment recall is preserved by construction: every
        # anchor of a contained doc exists in its container, so the
        # pair is reachable through the doc's rarest anchors too; the
        # partners lost are those sharing ONLY the doc's commonest
        # anchors — the same pairs the rarest-anchor candidate budget
        # ranks last and cuts anyway. Deterministic, oracle-replicated.
        anchors = anchors.withColumn(
            "__ar", F.row_number().over(wid.orderBy("df", "h"))
        ).filter(F.col("__ar") <= anchor_expand)
    anchors = anchors.select("id", "h", "df")
    cand_occ = (
        anchors.alias("a")
        .join(inv_b.alias("b"), "h")
        .filter(F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("src"),
            F.col("b.id").alias("dst"),
            "h",
            F.col("a.df").alias("df"),
        )
    )
    if candidate_budget is not None:
        # Per-doc candidate budget (round 12): rank each anchor-side
        # doc's candidate partners by the RAREST shared anchor —
        # (df(h), h) ascending, partner id as the final tie-break — and
        # keep only the top ``candidate_budget`` per src doc. This
        # bounds the verify stage at N × budget pairs on EVERY corpus
        # class, including fixed-vocabulary corpora where shingle
        # doc-frequencies saturate toward ``max_anchor_freq`` and the
        # uncapped candidate set degenerates toward k × cap per doc
        # (measured 46.8M pairs at the 10× probe; SCALE.md). The
        # candidate OCCURRENCE stream stays linear (≤ N·k·cap rows) and
        # flows through map-side-combinable aggregations only — the
        # expensive exact-verify joins see just the budgeted pairs.
        # Rarest-anchor ranking keeps the pairs a containment/Jaccard
        # match actually explains (a truly-shared region shares the
        # docs' rare shingles; partners met only through common
        # shingles rank last and are the ones cut). A pair survives if
        # EITHER endpoint keeps it within budget (the least/greatest
        # union below), so the short contained side — whose anchors
        # all hit the container — protects high-containment pairs.
        # Every step is deterministic integer arithmetic on md5-derived
        # hashes, replicated verbatim in the DuckDB oracles.
        # ONE shuffle for the whole two-level ranking: hash(src)
        # satisfies ClusteredDistribution for BOTH the (src, dst)
        # groupBy and the per-src window, so after the explicit
        # repartition neither re-shuffles — halving this stage's
        # shuffle-spill footprint (the 100× probe's disk budget is the
        # binding constraint; measured: the two-shuffle form exhausted
        # local disk at 500k docs × saturated vocabulary). ``df``
        # arrives on the candidate stream itself (carried from the
        # fused inverted-index stage) — no dfreq join.
        best = (
            cand_occ.repartition("src")
            .groupBy("src", "dst")
            .agg(F.min(F.struct("df", "h")).alias("best"))
        )
        cand_occ = (
            best.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("src").orderBy(
                        F.col("best.df"), F.col("best.h"), F.col("dst")
                    )
                ),
            )
            .filter(F.col("__rn") <= candidate_budget)
            .select("src", "dst")
        )
    cand = (
        cand_occ.select(
            F.least(F.col("src"), F.col("dst")).alias("id_a"),
            F.greatest(F.col("src"), F.col("dst")).alias("id_b"),
        )
        .distinct()
    )
    # verify_semi_join pre-restricts the verify relation to candidate
    # documents' ids before the (id, h) hash joins. MEASURED at sf0.1
    # (A/B, warm): OFF 4.6 s / ON 7.5-12.9 s — the semi-join costs an
    # extra full shuffle + distinct of `hashed`, and on this fixture
    # (31-word vocab → nearly every doc is a candidate) it filters
    # nothing, so it's pure overhead. It only pays when candidates ≪
    # corpus (long-tail doc-frequency corpora, tight caps) AND the
    # composite-key verify shuffle dominates — hence opt-in, default
    # off.
    ver = hashed
    if verify_semi_join:
        cand_ids = (
            cand.select(F.col("id_a").alias("id"))
            .union(cand.select(F.col("id_b").alias("id")))
            .distinct()
        )
        ver = hashed.join(cand_ids, "id", "left_semi")
    inter = (
        cand.join(ver.select(F.col("id").alias("id_a"), "h"), "id_a")
        .join(ver.select(F.col("id").alias("id_b"), "h"), ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # sizes is one row per DOCUMENT — unbounded at corpus scale, so no
    # broadcast hint (the same rule as remove_boilerplate below: let
    # AQE pick broadcast when the stats say it fits; a forced hint is
    # a hard job failure at 10^9 docs). Round-8 VERDICT fix.
    return inter.join(
        sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")),
        "id_a",
    ).join(
        sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")),
        "id_b",
    )


def anchor_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    k_anchors: int = 16,
    max_anchor_freq: int | None = 1000,
    verify_semi_join: bool = False,
    candidate_budget: int | None = None,
    inv_list_budget: int | None = None,
    anchor_expand: int | None = None,
) -> DataFrame:
    """Two-tier sub-document containment — the CORPUS-SCALE path that
    replaces ``ngram_containment_pairs``'s all-shared-shingles
    candidate stream (the exact generator's candidate volume grows
    with shingle doc-frequencies; see SCALE.md's 100× boundary).
    Candidates + exact verify in ``_anchor_pair_counts`` above;
    containment = n_common / min(|A|,|B|) is EXACT for every emitted
    pair; the miss probability for a true pair is ≤ (1-c')^k (~1.5e-5
    at k=16, threshold 0.5).

    ``candidate_budget`` (round 12) additionally caps each document's
    candidate partners at the top-``budget`` ranked by rarest shared
    anchor, bounding verify work at N × budget pairs on every corpus
    class — including fixed-vocabulary corpora, the uncapped
    generator's adversarial case (SCALE.md). Recall on long-tail
    corpora is unchanged at sane budgets (the cut pairs are the ones
    sharing only common shingles); on saturated-vocabulary corpora the
    trade is quantified in SCALE.md."""
    inter = _anchor_pair_counts(
        df, id_col, text_col, n, k_anchors, max_anchor_freq,
        verify_semi_join, candidate_budget, inv_list_budget, anchor_expand,
    )
    cont = F.col("n_common").cast("double") / F.least(
        F.col("n_a"), F.col("n_b")
    )
    return inter.select(
        "id_a", "id_b", cont.alias("containment")
    ).filter(F.col("containment") >= threshold)


def anchor_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    k_anchors: int = 16,
    max_anchor_freq: int | None = 1000,
    verify_semi_join: bool = False,
    candidate_budget: int | None = None,
    inv_list_budget: int | None = None,
    anchor_expand: int | None = None,
) -> DataFrame:
    """Bounded exact-score n-gram Jaccard join — the CORPUS-SCALE
    default for ``ngram_jaccard_pairs``'s semantics (round 11,
    retiring the last documented 100× exclusion): the exact self-join
    generator's candidate stream grows with Σ df(shingle)², which no
    cap on df alone keeps single-task-safe at corpus scale; the
    bottom-k anchor sketch bounds per-doc candidate fan-out at
    k_anchors × max_anchor_freq regardless of corpus size.

    Same two tiers as ``anchor_containment_pairs``: bottom-k anchor
    candidates (inverted-index join on the anchor hash, df-capped),
    then an exact intersection verify restricted to candidates.
    Jaccard = n_common / (|A| + |B| - n_common) is EXACT for every
    emitted pair; a true pair at Jaccard j is missed with probability
    ≤ (1-j')^(2k) (both docs sample anchors; j' is the overlap
    restricted to sub-cap shingles) — ≤ 1e-6 at k=16, threshold 0.35.
    md5-derived hashes keep candidates + scores engine-portable for
    the DuckDB oracle. ``candidate_budget`` — see
    ``anchor_containment_pairs``."""
    inter = _anchor_pair_counts(
        df, id_col, text_col, n, k_anchors, max_anchor_freq,
        verify_semi_join, candidate_budget, inv_list_budget, anchor_expand,
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return inter.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _ngram_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared candidate stage of the exact n-gram similarity joins:
    ``(id_a, id_b, n_common, n_a, n_b)`` for every pair sharing ≥1
    (df-capped) shingle. See ``ngram_jaccard_pairs`` for the scale
    notes on hashing, persistence, and the heavy-key anti-join."""
    from ontario_spark.operators.textops import exploded_shingles

    sh = exploded_shingles(df, id_col, text_col, n)
    # The hashed shingle table feeds three consumers (set sizes + both
    # self-join sides); persist the compact (id, 8-byte key) form so
    # shingling — the expensive scan — runs once, not three times. At
    # lake scale this intermediate is what you'd checkpoint to storage.
    exploded = persisted(sh.select("id", F.xxhash64("shingle").alias("k")))
    sizes = exploded.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    joinable = exploded
    if max_doc_freq is not None:
        # Anti-join against the HEAVY keys (df > cap), not an inner
        # join against the rare ones: heavy keys are few by definition
        # (≤ total-occurrences / cap), so AQE turns this into a
        # broadcast anti-join — no second shuffle of the exploded
        # table. (The rare-side inner join re-shuffled everything:
        # measured 2× the whole operator's cost at sf0.1.)
        heavy = (
            exploded.groupBy("k")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("k")
        )
        joinable = exploded.join(heavy, "k", "left_anti")
    a = joinable.select(F.col("id").alias("id_a"), "k")
    b = joinable.select(F.col("id").alias("id_b"), "k")
    inter = (
        a.join(b, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # no broadcast hint on sizes (one row per DOCUMENT — unbounded);
    # AQE decides, same rationale as in anchor_containment_pairs /
    # remove_boilerplate. Round-8 VERDICT fix.
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
    )


# Universal-hash family over a Mersenne prime: h_i(x) = (a_i·x + b_i)
# mod p. One md5 per shingle provides the base integer; the k seeded
# hashes are then pure arithmetic (vs. k md5 calls per shingle).
# Operands stay < 2^31 so a·x + b < 2^62 never overflows a Spark long.
_MERSENNE = (1 << 31) - 1


def _seed_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs derived from md5 of the seed index
    — no RNG state, reproducible everywhere."""
    import hashlib

    out = []
    for i in range(num_hashes):
        d = hashlib.md5(f"minhash-seed-{i}".encode()).hexdigest()
        a = (int(d[:8], 16) | 1) % _MERSENNE or 1  # odd, nonzero
        b = int(d[8:16], 16) % _MERSENNE
        out.append((a, b))
    return out


def _shingle_base_hash() -> Column:
    """Base shingle hash shared by the MinHash family: low 60 bits of
    md5(shingle) (round-5 review fix: 7 hex chars was a 28-bit space,
    colliding ~0.3% of distinct shingles at 10^6 scale and making the
    % reduction a no-op); the mod brings it under ``_MERSENNE`` so the
    affine (h*a + b) stays within long range. Engine-reproducible —
    the DuckDB oracles replicate it character-for-character."""
    return (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
        % F.lit(_MERSENNE)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    n: int = 3,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """MinHash signature per document (num_hashes bigint columns
    ``mh0..``): base hash = ``_shingle_base_hash``, then k universal
    hashes, min-aggregated per document. ``hashed`` injects an already
    base-hashed ``(id_col, h)`` frame so a caller that ALSO needs the
    per-doc hash sets (verified-LSH) shingles the corpus once —
    min(set) == min(multiset), so a distinct frame is equivalent."""
    if hashed is None:
        from ontario_spark.operators.textops import exploded_shingles

        sh = exploded_shingles(
            df, id_col, text_col, n, distinct=False
        ).withColumnRenamed("id", id_col)
        hashed = sh.select(id_col, _shingle_base_hash().alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_seed_coeffs(num_hashes))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _banded_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    n: int,
    max_bucket_size: int | None,
    hot_bucket: str,
    hashed: DataFrame | None,
) -> DataFrame:
    """KEYS-ONLY banding core for ``lsh_verified_jaccard_pairs``:
    returns the DISTINCT banded candidate pair ids ``(id_a, id_b)``.
    Factored out in round 12 for the verified path, which re-scores
    every candidate with TRUE Jaccard and therefore needs neither the
    signature estimate nor the signatures past the banding — the
    banded frame carries just (id, band, bucket) through the bucket
    self-join (guide §2.3: shuffle keys, not payloads; at 48 hashes ×
    24 bands the old wide frame shuffled ~25× the bytes), and the
    signature aggregation is consumed exactly once so nothing persists
    beyond the banded keys. ``minhash_lsh_pairs`` keeps its wide
    banded frame: its estimate needs every signature column on each
    candidate anyway, and measured at sf0.1 the pair-level re-join
    variant was slower at 16 hashes (extra exchanges + a second
    persisted materialization outweigh the narrower shuffle).

    With r = num_hashes/bands rows per band, the usual S-curve
    guarantees apply; candidate generation is linear in corpus size ×
    band count, never quadratic — PER BUCKET it is still m²/2, so
    ``max_bucket_size`` is the corpus-scale skew guard (mirroring
    ``neardup_pairs`` / ``ngram_jaccard_pairs``): a million identical
    boilerplate docs land in the same bucket in EVERY band, and one
    such hot key would concentrate quadratic work on one task. Over-cap
    (band, bucket) groups follow the same two policies as
    ``similarity.neardup_pairs``: ``"split"`` (default) subdivides them
    into ``ceil(m/cap)`` salted md5(id) sub-buckets — bounded fan-out,
    recall ~cap/m inside the hot group (the sub assignment depends only
    on the id, so it is the SAME in every band — no cross-band rescue
    for a specific pair, same trade as neardup); ``"drop"`` removes
    them outright. A duplicate group that large is better handled by
    ``exact_dedup`` first either way."""
    assert num_hashes % bands == 0
    if hot_bucket not in ("split", "drop"):
        raise ValueError(f"hot_bucket must be split|drop, got {hot_bucket!r}")
    r = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n, hashed=hashed)
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    band_keys = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(c) for c in mh_cols[b * r : (b + 1) * r]]))
            for b in range(bands)
        ]
    )
    # Both self-join sides read the banded keys; persist so the
    # shingle→minhash→banding pipeline (the expensive part) runs once.
    # sig itself is consumed only here — no second materialization.
    banded = persisted(
        sig.withColumn("bk", band_keys)
        .select(id_col, F.posexplode("bk").alias("band", "bucket"))
    )
    if max_bucket_size is None:
        banded = banded.withColumn("__sub", F.lit(0).cast("long"))
    else:
        counts = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__n")
        )
        # unlike neardup's ≤2^bits buckets, (band, bucket) cardinality
        # here is ~corpus × bands — only the HEAVY groups (≤ rows/cap,
        # tiny in practice) ever broadcast; under-cap groups default to
        # one sub-bucket via the left-join miss
        heavy = counts.filter(F.col("__n") > max_bucket_size)
        if hot_bucket == "drop":
            banded = banded.join(
                F.broadcast(heavy.select("band", "bucket")),
                ["band", "bucket"],
                "left_anti",
            ).withColumn("__sub", F.lit(0).cast("long"))
        else:
            h = F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10
            ).cast("long")
            k = F.greatest(
                F.ceil(
                    F.coalesce(F.col("__n"), F.lit(0)) / F.lit(max_bucket_size)
                ).cast("long"),
                F.lit(1),
            )
            banded = (
                banded.join(F.broadcast(heavy), ["band", "bucket"], "left")
                .withColumn("__sub", F.pmod(h, k))
                .drop("__n")
            )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__sub") == F.col("b.__sub"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(*_pair_cols(id_col))
        .dropDuplicates(["id_a", "id_b"])
    )
    return cand


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    hot_bucket: str = "split",
    hashed: DataFrame | None = None,
) -> DataFrame:
    """MinHash LSH near-dup join: band the signature, bucket-join per
    band, then filter candidates by estimated Jaccard (= fraction of
    matching minhashes) >= threshold. ``hashed`` forwards a shared
    base-hashed shingle frame to ``minhash_signatures``. The banded
    frame deliberately carries the full signature through the bucket
    self-join: the estimate needs every column on each candidate, and
    the pair-level re-join alternative measured slower at the default
    16 hashes (see ``_banded_candidate_pairs``). S-curve/skew notes:
    ``_banded_candidate_pairs`` docstring above."""
    assert num_hashes % bands == 0
    if hot_bucket not in ("split", "drop"):
        raise ValueError(f"hot_bucket must be split|drop, got {hot_bucket!r}")
    r = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n, hashed=hashed)
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    band_keys = F.array(
        *[
            F.md5(F.concat_ws("|", *[F.col(c) for c in mh_cols[b * r : (b + 1) * r]]))
            for b in range(bands)
        ]
    )
    # Both join sides reference the banded signatures; persist so the
    # shingle→minhash pipeline (the expensive part) runs once.
    banded = persisted(
        sig.withColumn("bk", band_keys)
        .select(id_col, *mh_cols, F.posexplode("bk").alias("band", "bucket"))
    )
    if max_bucket_size is None:
        banded = banded.withColumn("__sub", F.lit(0).cast("long"))
    else:
        counts = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__n")
        )
        # unlike neardup's ≤2^bits buckets, (band, bucket) cardinality
        # here is ~corpus × bands — only the HEAVY groups (≤ rows/cap,
        # tiny in practice) ever broadcast; under-cap groups default to
        # one sub-bucket via the left-join miss
        heavy = counts.filter(F.col("__n") > max_bucket_size)
        if hot_bucket == "drop":
            banded = banded.join(
                F.broadcast(heavy.select("band", "bucket")),
                ["band", "bucket"],
                "left_anti",
            ).withColumn("__sub", F.lit(0).cast("long"))
        else:
            h = F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10
            ).cast("long")
            k = F.greatest(
                F.ceil(
                    F.coalesce(F.col("__n"), F.lit(0)) / F.lit(max_bucket_size)
                ).cast("long"),
                F.lit(1),
            )
            banded = (
                banded.join(F.broadcast(heavy), ["band", "bucket"], "left")
                .withColumn("__sub", F.pmod(h, k))
                .drop("__n")
            )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__sub") == F.col("b.__sub"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(*_pair_cols(id_col), *[
            (F.col(f"a.{c}") == F.col(f"b.{c}")).cast("int").alias(f"eq{i}")
            for i, c in enumerate(mh_cols)
        ])
        .dropDuplicates(["id_a", "id_b"])
    )
    est = sum(F.col(f"eq{i}") for i in range(num_hashes)) / F.lit(float(num_hashes))
    return cand.select("id_a", "id_b", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def lsh_verified_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 8,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """EXACT-threshold Jaccard pairs at corpus scale: banded-MinHash
    candidate generation + exact n-gram Jaccard verification of ONLY
    the candidates — the candidate/verify composition every production
    dedup pipeline runs. Returns ``(id_a, id_b, jaccard)`` with the
    TRUE Jaccard (not the signature estimate) ≥ threshold.

    Why this exists (round-10 scale finding): ``ngram_jaccard_pairs``'s
    shared-shingle self-join is intrinsically Σd² in the shingle
    doc-frequencies, and its fixed ``max_doc_freq`` cap stops meaning
    anything once frequencies scale with the corpus — at the 100×
    probe (500k docs) a cap of 1000 admitted a 10.2-BILLION-row
    candidate stream (29.7k shingles, d ≈ 100..1135) and the job died;
    no fixed cap is simultaneously a no-op at 1× and a guard at 100×.
    Here candidate count is corpus × bands (banding collapses each
    duplicate cluster to bucket-sized groups), verification touches
    |candidates| × shingles-per-doc rows, and the only quadratic term
    is per-bucket — guarded by ``max_bucket_size`` exactly as in
    ``minhash_lsh_pairs``. Recall is the LSH S-curve's (a true pair is
    missed only when EVERY band differs — for 8 bands × 2 rows at
    J=0.35 that's ~(1-J²)⁸; rises steeply toward 1 for the J≥0.5 pairs
    dedup acts on); precision is exact because every emitted pair is
    verified. Deterministic end-to-end (md5-seeded hashes), so a
    DuckDB oracle replicates bucket-for-bucket."""
    from ontario_spark.operators.textops import exploded_shingles

    # ONE corpus shingling serves both legs: the distinct (id, 60-bit
    # md5 hash) sets drive the exact-intersection counts AND feed the
    # signature min-aggregation (min over the set == min over the
    # multiset). At lake scale the shingling scan is the dominant cost
    # of this operator's build side — paying it twice was pure waste.
    sh = exploded_shingles(df, id_col, text_col, n).withColumnRenamed("id", id_col)
    hs = persisted(sh.select(id_col, _shingle_base_hash().alias("h")))
    # keep ALL banded candidates (no estimate threshold) — the verify
    # decides. Round 12: going through the keys-only banding core skips
    # the estimate that the old ``minhash_lsh_pairs(threshold=0.0)``
    # detour computed and immediately discarded, and the bucket
    # self-join no longer drags the signature columns through its
    # shuffle (guide §2.3).
    cand = _banded_candidate_pairs(
        df,
        id_col,
        text_col,
        num_hashes,
        bands,
        n,
        max_bucket_size,
        "split",
        hs,
    )
    sizes = hs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(hs.select(F.col(id_col).alias("id_a"), "h"), "id_a")
        .join(hs.select(F.col(id_col).alias("id_b"), "h"), ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        ).join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return out.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """SimHash fingerprint: md5-derived per-token hash; bit i of the
    fingerprint is the sign of the sum over tokens of ±1 per token-bit.
    One integer per document; hamming-close fingerprints ≈ similar
    token multisets. ``bits`` up to 60 (the token hash is the trailing
    ``ceil(bits/4)`` hex chars of the md5 — 15 chars = 60 bits keeps
    the unsigned value inside a BIGINT on every engine)."""
    from ontario_spark.operators.textops import spread, tokens

    if not 1 <= bits <= 60:
        raise ValueError("bits must be in 1..60")
    width = (bits + 3) // 4
    tok = spread(df).select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
    # trailing hex chars of md5 → `bits`-bit unsigned token hash
    th = F.conv(F.substring(F.md5(F.col("tok")), 33 - width, width), 16, 10).cast("long")
    tok = tok.select(id_col, th.alias("th"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*bit_sums)
    fp = sum(
        F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0)) for i in range(bits)
    )
    return per_doc.select(F.col(id_col), fp.cast("long").alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 60,
    max_hamming: int = 3,
    band_cap: int = 200,
) -> DataFrame:
    """Near-duplicate pairs within SimHash hamming distance
    ``max_hamming``, found WITHOUT an all-pairs comparison.

    Pigeonhole banding (the Manku/Jain/Sarma WWW'07 web-dedup
    construction): split the ``bits``-bit fingerprint into
    ``max_hamming + 1`` equal-width chunks — two fingerprints within
    hamming distance ``max_hamming`` must agree EXACTLY on at least one
    chunk, so per-chunk equi-joins have complete recall over un-capped
    buckets. Candidates are verified with an exact
    ``bit_count(a XOR b) <= max_hamming``.

    Scale shape (100 TB): the join carries one (id, fingerprint) row
    per doc per band — never the text. Chunk width ``bits//(k+1)``
    (default 15 bits) keys the self-join on up to 32k buckets per band;
    the bucket-size table is bounded by ``bands * 2^width`` rows
    (≤131k), so the skew filter is a broadcast join regardless of
    corpus size. A degenerate chunk shared by millions of docs (near-
    empty texts) would make one bucket quadratic — ``band_cap`` drops
    buckets larger than the cap deterministically (the standard banded-
    LSH recall/cost dial; the DuckDB oracle mirrors the cap exactly).
    """
    from pyspark.sql.window import Window

    n_bands = max_hamming + 1
    width, rem = divmod(bits, n_bands)
    if rem:
        raise ValueError("bits must divide evenly into max_hamming+1 bands")
    fp = persisted(simhash(df, id_col, text_col, bits=bits))
    chunks = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("chunk"),
            )
            for b in range(n_bands)
        ]
    )
    banded = (
        fp.select(F.col(id_col), F.col("simhash"), F.explode(chunks).alias("bc"))
        .select(
            id_col,
            "simhash",
            F.col("bc.band").alias("band"),
            F.col("bc.chunk").alias("chunk"),
        )
    )
    # bucket-size cap as a whole-partition window count on the
    # (band, chunk) exchange the banded self-join partitioning needs
    # anyway (guide §2.4, same fusion as the anchor/prefix/tfidf
    # rows): the old aggregate + broadcast join removed whole over-cap
    # buckets, and filtering rows by their own group's count keeps
    # exactly the same membership. The window's hashpartitioning
    # (band, chunk) feeds both self-join sides directly, so the
    # separate cap aggregate and its join are gone. `fp` stays
    # persisted: a persist-free variant was A/B'd and ran the
    # 60-bit-sum fingerprint aggregate once per join side (exchange
    # reuse does not cover it) — measured ~1.8× slower cold.
    banded = (
        banded.withColumn(
            "__bn",
            F.count(F.lit(1)).over(Window.partitionBy("band", "chunk")),
        )
        .filter(F.col("__bn") <= band_cap)
        .drop("__bn")
    )
    a = banded.select(
        F.col("band"), F.col("chunk"),
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
    )
    b = banded.select(
        F.col("band"), F.col("chunk"),
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
    )
    cand = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        # fingerprints are functions of the ids, so any surviving row
        # per pair carries identical sh_a/sh_b values
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def source_ngram_overlap(
    df: DataFrame,
    text_col: str,
    source_col: str,
    n: int = 3,
) -> DataFrame:
    """Corpus-level overlap matrix: exact n-gram-shingle Jaccard for
    every unordered pair of sources (crawl snapshots, vendors, dumps).
    The source-selection complement of the per-document dedup joins —
    "how much of vendor B is already in snapshot A" BEFORE paying for
    document-level dedup of the union.

    Scale shape: documents collapse to DISTINCT (source, shingle-hash)
    rows — one explode + one dedup shuffle keyed by the 64-bit shingle
    hash, never the text. The intersection self-join is keyed on the
    shingle hash and its fan-out per shingle is bounded by the NUMBER
    OF SOURCES (not documents) squared — sources are dozens, so no
    doc-frequency cap is needed, unlike the per-document joins. The
    final pair grid is |sources|² rows: driver-trivial.
    """
    from ontario_spark.operators.textops import exploded_shingles

    sh = (
        exploded_shingles(df, source_col, text_col, n, distinct=False)
        .select(F.col("id").alias("source"), F.xxhash64("shingle").alias("sk"))
        .dropDuplicates(["source", "sk"])
    )
    sh = persisted(sh)
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "sk")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    grid = (
        sizes.alias("sa")
        .crossJoin(F.broadcast(sizes.alias("sb")))
        .filter(F.col("sa.source") < F.col("sb.source"))
        .select(
            F.col("sa.source").alias("source_a"),
            F.col("sb.source").alias("source_b"),
            F.col("sa.n_sh").alias("n_a"),
            F.col("sb.n_sh").alias("n_b"),
        )
    )
    out = grid.join(inter, ["source_a", "source_b"], "left").withColumn(
        "n_common", F.coalesce(F.col("n_common"), F.lit(0))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return out.select(
        "source_a", "source_b", "n_a", "n_b", "n_common", jac.alias("jaccard")
    )


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark-contamination detection: for every corpus document,
    the fraction of its distinct word n-gram shingles that appear in
    ANY benchmark document. Rows with ``overlap >= threshold`` are
    flagged (returned); training-data pipelines anti-join the flagged
    ids to decontaminate before training.

    Scale design: the benchmark side (eval sets) is MBs while the
    corpus is TBs, so the benchmark's distinct shingle-hash set is
    broadcast — the corpus NEVER crosses an exchange at shingle
    granularity. The per-doc denominator (distinct-shingle count) is a
    map-side array expression (``textops.shingle_set_sizes``), which
    frees the exploded stream to feed ONLY the hit side: a broadcast left-SEMI
    join drops every non-matching shingle executor-side, so the only
    shuffles are a dedup + tiny aggregate over the HIT rows (usually a
    sliver of the corpus) and the one-row-per-doc totals join.
    Documents with fewer than ``n`` tokens
    emit no shingles and are OMITTED from the output (they cannot be
    contaminated at n-gram granularity; corpus-level stats derived from
    this output should count them separately). Membership is tested on xxhash64 of
    the shingle (8 bytes/row through the join, not shingle text); the
    hit dedup keys on the shingle TEXT, so hash collisions cannot merge
    distinct shingles any differently than the exploded form did.
    """
    from ontario_spark.operators.textops import exploded_shingles, shingle_set_sizes

    bench_set = F.broadcast(
        exploded_shingles(benchmark, id_col, text_col, n)
        .select(F.xxhash64("shingle").alias("k"))
        .dropDuplicates(["k"])
    )
    totals = shingle_set_sizes(corpus, id_col, text_col, n)
    hits = (
        exploded_shingles(corpus, id_col, text_col, n, distinct=False)
        .withColumn("k", F.xxhash64("shingle"))
        .join(bench_set, "k", "left_semi")
        .dropDuplicates(["id", "shingle"])
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_doc = totals.join(hits, id_col, "left").select(
        id_col,
        "n_shingles",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
    )
    overlap = F.col("n_hits").cast("double") / F.col("n_shingles")
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_hits",
        F.round(overlap, 6).alias("overlap"),
    ).filter(overlap >= threshold)


def dup_gram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-n-gram statistics — the scalable,
    set-free core of exact-substring dedup (the "dedup training data"
    posture: a word n-gram occurring in ``min_docs``-or-more documents
    marks a duplicated span). For each document with at least ``n``
    tokens: the total n-gram POSITIONS (multiset, not set — a doc that
    repeats a duplicated phrase is counted per occurrence), how many of
    those positions carry a corpus-duplicated gram, and the fraction.
    Downstream policies threshold ``dup_fraction`` to drop or trim.

    Scale design: grams are hashed to xxhash64 immediately (8-byte
    shuffle keys, never gram text). Two aggregations, both with
    map-side partial combine: (gram, doc) → occurrence count first —
    so a ubiquitous gram's rows collapse per-document BEFORE the
    per-gram doc-frequency aggregate, bounding the skew any single
    gram can produce at one row per document — then gram → doc
    frequency. The join back is hash-long vs hash-long; AQE picks
    broadcast when the duplicated-gram side is small. No all-pairs
    step exists anywhere: cost is linear in total corpus positions.
    Documents with fewer than ``n`` tokens emit no grams and are
    omitted (they have no n-gram spans to dedup)."""
    from ontario_spark.operators.textops import exploded_shingles

    pos = exploded_shingles(df, id_col, text_col, n, distinct=False).select(
        "id", F.xxhash64("shingle").alias("g")
    )
    per = pos.groupBy("g", "id").agg(F.count(F.lit(1)).alias("cnt"))
    freq = per.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    dup_cnt = F.sum(
        F.when(F.col("n_docs") >= min_docs, F.col("cnt")).otherwise(F.lit(0))
    )
    return (
        per.join(freq, "g")
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.sum("cnt").alias("n_grams"),
            dup_cnt.alias("n_dup_grams"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6),
        )
    )


def winnow_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_fp_freq: int | None = 1000,
) -> DataFrame:
    """Local-overlap pair detection via winnowing fingerprints (the
    MOSS inverted-index step): documents pair when they share at least
    ``min_shared`` window-minimum k-gram hashes. Winnowing's guarantee
    makes this POSITION-LOCAL: any shared token run of ≥ k+w-1 tokens
    is detected regardless of how dissimilar the rest of the documents
    are — the case Jaccard's union denominator and the bottom-k anchor
    sample both dilute (a paragraph quoted inside two large unrelated
    documents).

    Scale design: fingerprint generation is map-only per-row arrays
    (textops.winnow_fingerprints); the stream is ~n_grams/w 8-byte
    hashes; the self-join is fp-keyed with the same doc-frequency cap
    as the shingle joins (``max_fp_freq`` bounds any fp's fan-out at
    cap²); shared-fp counting is one pair-keyed aggregate with
    map-side combine. md5-derived hashes keep the DuckDB oracle
    bit-exact."""
    from ontario_spark.operators.textops import winnow_fingerprints

    fps = persisted(winnow_fingerprints(df, id_col, text_col, k, w))
    if max_fp_freq is not None:
        rare = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_fp_freq)
            .select("fp")
        )
        fps = fps.join(rare, "fp")
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= min_shared)
    )


def keep_best(
    df: DataFrame,
    id_col: str,
    text_col: str,
    order: list[Column],
) -> DataFrame:
    """Exact dedup that keeps the BEST copy per content hash under an
    explicit ordering (e.g. longest document, most-trusted source)
    rather than the smallest id — the multi-source merge rule of real
    corpus builds. ``order`` must end in a unique tiebreak for
    deterministic survivors.

    One hash-partitioned window (same shuffle as the groupBy form);
    the payload through the shuffle is (id, hash, ordering keys), not
    the text."""
    from pyspark.sql.window import Window

    hashed = df.select("*", F.md5(F.col(text_col)).alias("content_hash"))
    w = Window.partitionBy("content_hash").orderBy(*order)
    return (
        hashed.select(
            id_col,
            "content_hash",
            F.row_number().over(w).alias("__rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("content_hash"))
            .alias("n_copies"),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def chunk_lines(
    df: DataFrame, id_col: str, text_col: str, chunk: int = 4
) -> DataFrame:
    """Explode each document into fixed-size word chunks ("lines" for a
    corpus whose text carries no newlines): (id, pos, line) where pos
    is the 0-based word offset. Pure Column ops — split once, then
    ``transform`` over a stride sequence with ``slice``; ``spread``
    guarantees full-core parallelism when the corpus arrives as one
    parquet split."""
    from ontario_spark.operators.textops import spread

    df = spread(df)
    ws = F.split(F.col(text_col), " ")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(ws) - 1, F.lit(0)), F.lit(chunk)
    )
    chunks = F.transform(
        starts,
        lambda s: F.struct(
            s.alias("pos"),
            F.array_join(F.slice(ws, s + 1, chunk), " ").alias("line"),
        ),
    )
    return df.select(F.col(id_col), F.explode(chunks).alias("c")).select(
        id_col, F.col("c.pos").alias("pos"), F.col("c.line").alias("line")
    )


def remove_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk: int = 4,
    min_doc_freq: int = 3,
) -> DataFrame:
    """Line-level (chunk-level) boilerplate removal, the CCNet-style
    counterpart to document dedup: drop every line that appears in
    >= ``min_doc_freq`` DISTINCT documents, reassemble the survivors in
    order, and report per-doc removal stats plus the md5 of the cleaned
    text (compact, hash-comparable output).

    Scale shape: document frequency is one groupBy on md5(line) — the
    16-byte hash shuffles, never the line text. The boilerplate set is
    bounded by total_lines / min_doc_freq — at corpus scale with a low
    ``min_doc_freq`` that bound can be a large fraction of all distinct
    lines, which does NOT reliably fit in a broadcast, so the re-join
    carries no forced hint: AQE broadcasts when the set is actually
    small (observed at bench scale) and falls back to a shuffled hash
    join when it isn't, instead of OOMing the build side at 100×. The
    reassembly groupBy rides the same doc-id partitioning with
    ``collect_list`` of (pos, line) structs sorted in-memory per doc —
    per-doc state, never a global sort."""
    lines = chunk_lines(df, id_col, text_col, chunk).withColumn(
        "line_hash", F.md5(F.col("line"))
    )
    boiler = (
        lines.groupBy("line_hash")
        .agg(F.countDistinct(id_col).alias("doc_freq"))
        .filter(F.col("doc_freq") >= min_doc_freq)
        .select("line_hash", F.lit(True).alias("is_boiler"))
    )
    marked = lines.join(boiler, "line_hash", "left")
    kept = F.when(
        F.col("is_boiler").isNull(),
        F.struct(F.col("pos"), F.col("line")),
    )
    return marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("is_boiler"), 1).otherwise(0)).alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda x: x["line"]
                ),
                " ",
            )
        ).alias("clean_hash"),
    )


def dedup_paragraph_instances(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk: int = 4,
    min_instances: int = 2,
) -> DataFrame:
    """Paragraph-INSTANCE exact dedup (the Dolma-style sub-document
    pass): every paragraph (fixed word chunk here — the corpus carries
    no newlines) that occurs ≥ ``min_instances`` times ACROSS the
    corpus keeps one canonical instance — the first by (doc, position)
    order — and every other instance is marked for removal. Documents
    survive with duplicated paragraphs dropped; corpus-unique content
    is preserved exactly once.

    Complements ``remove_boilerplate``, which drops over-frequent
    lines from EVERY document including the first: frequency gating
    loses singleton-preserving semantics, instance gating keeps them.

    Returns ``(line_hash, id, pos, is_canonical)`` for the instances
    of duplicated paragraphs only (the actionable set; unique
    paragraphs are implicitly canonical).

    Scale shape: one md5(line) hash shuffle carrying (id, pos, 16-byte
    hash) — never the text; the canonical choice is a row_number
    window over the same partitioning (no second shuffle), and the
    duplicated-only restriction is a windowed count on that
    partitioning too."""
    from pyspark.sql.window import Window

    lines = chunk_lines(df, id_col, text_col, chunk).select(
        F.md5(F.col("line")).alias("line_hash"), F.col(id_col), F.col("pos")
    )
    w = Window.partitionBy("line_hash")
    rn = F.row_number().over(w.orderBy(id_col, "pos"))
    return (
        lines.select(
            "line_hash",
            id_col,
            "pos",
            (rn == 1).alias("is_canonical"),
            F.count(F.lit(1)).over(w).alias("__n"),
        )
        .filter(F.col("__n") >= min_instances)
        .drop("__n")
    )


def fuzzy_string_pairs(
    df: DataFrame,
    text_col: str,
    max_dist: int = 2,
    q: int = 3,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Entity-resolution fuzzy match over a string column: DISTINCT
    value pairs (name_a < name_b) within Levenshtein ``max_dist``,
    candidate-limited to pairs sharing at least one character ``q``-gram
    — the classic q-gram blocking + edit-distance verify.

    Recall is bounded by the blocking, not just the distance: a pair
    within ``max_dist`` that shares NO ``q``-gram is never returned.
    Guaranteed-safe only when min string length >= q*(max_dist+1)+q-1
    (the pigeonhole bound — e.g. 'aaa'/'aab' at q=3 share no trigram
    despite distance 1); strings shorter than ``q`` emit no grams and
    never pair at all. Size q to the shortest strings that matter, or
    pad upstream. ``max_gram_freq`` mirrors the
    other dedup skew guards: a gram appearing in d values fans out d²
    candidates on one join key, so ubiquitous grams (e.g. a shared
    prefix at corpus scale) can be dropped before the self-join,
    bounding any key at cap² — with the documented recall trade.

    Scale shape: blocking is a self-join on 3-byte gram keys over the
    DISTINCT value set (typically ≪ corpus rows); the O(len²)
    ``levenshtein`` runs only on surviving candidates, JVM-side."""
    names = df.select(F.col(text_col).alias("name")).distinct()
    starts = F.when(
        F.length("name") >= q,
        F.sequence(F.lit(1), F.length("name") - q + 1),
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = names.select(
        "name",
        F.explode(
            F.array_distinct(
                F.transform(starts, lambda i: F.col("name").substr(i, F.lit(q)))
            )
        ).alias("gram"),
    )
    if max_gram_freq is not None:
        heavy = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_gram_freq)
            .select("gram")
        )
        grams = grams.join(F.broadcast(heavy), "gram", "left_anti")
    a, b = grams.alias("a"), grams.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    return cand.withColumn(
        "dist", F.levenshtein("name_a", "name_b")
    ).filter(F.col("dist") <= max_dist)


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Prefix-filtering similarity join (PPJoin family): exact n-gram
    Jaccard ≥ ``threshold`` with COMPLETE recall at subquadratic
    candidate cost — the third candidate-generation tier alongside the
    doc-freq-capped self-join (lossy on ubiquitous-shingle overlap)
    and banded MinHash (probabilistic recall). Shingles are globally
    ordered by (document frequency ASC, hash ASC); each document
    indexes only its first ``|x| − ⌈t·|x|⌉ + 1`` shingles in that
    order — two sets with Jaccard ≥ t MUST collide inside these
    prefixes (|A∩B| ≥ t·|A∪B| leaves too few non-prefix slots to hide
    the whole intersection), so filtering to prefix-collisions loses
    nothing, while rare-first ordering makes collisions scarce. Exact
    verify then computes true Jaccard on candidates only.

    Scale shape: one shingle scan (persisted compact as 8-byte
    md5-derived keys — engine-portable so the oracle replays the
    ordering), a doc-freq aggregate, one per-doc window for the rank,
    a prefix×prefix equi-join (rare keys ⇒ small fan-out), and the
    linear candidate-restricted verify. Completeness vs the exact
    self-join is pytest-asserted, not just claimed."""
    from pyspark.sql.window import Window

    from ontario_spark.operators.textops import exploded_shingles

    sh = exploded_shingles(df, id_col, text_col, n)
    h60 = F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10).cast("long")
    hashed = persisted(sh.select("id", h60.alias("h")))
    sizes = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # Fused ranking stage (round 12, guide §2.4): the doc-frequency
    # rides a whole-partition window count over ONE h-keyed exchange
    # (replacing the dfreq aggregate + hashed⋈dfreq join), and the
    # per-doc size rides the same id-keyed exchange the rank window
    # already pays (replacing the sizes join). Two exchanges total for
    # the prefix ranking where the old form paid four plus two
    # aggregates — at lake scale this halves the shuffle bytes of the
    # operator's dominant stage (the full shingle stream).
    wid = Window.partitionBy("id")
    ranked = (
        hashed.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .withColumn("rn", F.row_number().over(wid.orderBy("df", "h")))
        .withColumn("n_sh", F.count(F.lit(1)).over(wid))
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    ).select("id", "h", "rn", "n_sh")
    # Length + positional filters (the rest of the PPJoin family, both
    # recall-preserving): J ≥ t forces t·max(|x|,|y|) ≤ min(|x|,|y|),
    # and a collision at prefix positions (i, j) can witness at most
    # 1 + min(|x|−i, |y|−j) overlapping shingles, which must reach the
    # equivalent-overlap bound α = ⌈t/(1+t)·(|x|+|y|)⌉. Measured on the
    # 10× probe corpus (saturating shingle vocabulary — the hostile
    # case): collision rows 107M → 18M, candidate pairs 38M → 17.6M.
    alpha_factor = threshold / (1.0 + threshold)
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.greatest(F.col("a.n_sh"), F.col("b.n_sh")) * F.lit(threshold)
                <= F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            )
            & (
                1
                + F.least(
                    F.col("a.n_sh") - F.col("a.rn"),
                    F.col("b.n_sh") - F.col("b.rn"),
                )
                >= F.ceil(
                    F.lit(alpha_factor) * (F.col("a.n_sh") + F.col("b.n_sh"))
                )
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    inter = (
        cand.join(
            hashed.select(F.col("id").alias("id_a"), "h"), "id_a"
        )
        .join(hashed.select(F.col("id").alias("id_b"), "h"), ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def record_link_scores(
    df: DataFrame,
    id_col: str,
    name_col: str,
    name_weights: tuple[float, float] = (4.0, -2.0),
    max_dist: int = 2,
    exact_fields: list[tuple[str, float, float]] | None = None,
    numeric_fields: list[tuple[str, int, float, float]] | None = None,
    threshold: float = 4.0,
    q: int = 3,
    max_gram_freq: int | None = None,
    block_col: str | None = None,
) -> DataFrame:
    """Fellegi–Sunter record linkage: candidate record pairs from
    q-gram blocking on ``name_col`` (the ``fuzzy_string_pairs``
    machinery, applied to record ids) — optionally COMPOSITE with
    ``block_col`` (candidates must also share that value: the classic
    multi-pass blocking that keeps q-gram fan-out from going
    quadratic when names draw from a small vocabulary; measured 77×
    superlinear candidate growth on the TPC-H name generator without
    it) — scored by summing per-field log-odds weights — agreement adds ``w_agree``, disagreement adds
    ``w_disagree`` (negative). Fields: the name itself (agreement =
    Levenshtein ≤ ``max_dist``), ``exact_fields`` (equality), and
    ``numeric_fields`` (|a−b| ≤ tol). Pairs scoring ≥ ``threshold``
    are links. This is the probabilistic-ER layer above the plain
    fuzzy match: one field can disagree (a typo'd brand) and strong
    agreement elsewhere still links the records.

    Determinism: weights are caller-supplied literals — use dyadic
    rationals (4.0, -2.0, 1.5, …) and the ≤6-term fixed-order double
    sum is exact on every engine, so a DuckDB oracle hash-matches
    scores. Recall inherits the q-gram blocking caveat documented on
    ``fuzzy_string_pairs``; ``max_gram_freq`` is the same skew guard.

    Scale shape: blocking self-joins 3-byte gram keys over the record
    projection (ids + compared fields only — never payload columns);
    Levenshtein and the weight CASEs run JVM-side on surviving
    candidates."""
    exact_fields = exact_fields or []
    numeric_fields = numeric_fields or []
    cols = (
        [F.col(id_col).alias("id"), F.col(name_col).alias("name")]
        + [F.col(c).alias(c) for c, _, _ in exact_fields]
        + [F.col(c).alias(c) for c, _, _, _ in numeric_fields]
    )
    if block_col is not None and block_col not in {c for c, *_ in exact_fields} | {
        c for c, *_ in numeric_fields
    }:
        cols.append(F.col(block_col).alias(block_col))
    recs = df.select(*cols)
    starts = F.when(
        F.length("name") >= q,
        F.sequence(F.lit(1), F.length("name") - q + 1),
    ).otherwise(F.expr("array()").cast("array<int>"))
    gram = F.explode(
        F.array_distinct(
            F.transform(starts, lambda i: F.col("name").substr(i, F.lit(q)))
        )
    ).alias("gram")
    if block_col is not None:
        grams = recs.select(
            "id", F.col(block_col).cast("string").alias("__blk"), gram
        ).withColumn(
            "gram", F.concat(F.col("__blk"), F.lit("|"), F.col("gram"))
        )
    else:
        grams = recs.select("id", gram)
    grams = grams.select("id", "gram")
    if max_gram_freq is not None:
        heavy = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_gram_freq)
            .select("gram")
        )
        grams = grams.join(F.broadcast(heavy), "gram", "left_anti")
    cand = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ra = recs.select(
        F.col("id").alias("id_a"),
        F.col("name").alias("__na"),
        *[F.col(c).alias(f"__a_{c}") for c, _, _ in exact_fields],
        *[F.col(c).alias(f"__a_{c}") for c, _, _, _ in numeric_fields],
    )
    rb = recs.select(
        F.col("id").alias("id_b"),
        F.col("name").alias("__nb"),
        *[F.col(c).alias(f"__b_{c}") for c, _, _ in exact_fields],
        *[F.col(c).alias(f"__b_{c}") for c, _, _, _ in numeric_fields],
    )
    scored = cand.join(ra, "id_a").join(rb, "id_b").withColumn(
        "name_dist", F.levenshtein("__na", "__nb")
    )
    # fixed evaluation order: name first, then fields in declaration
    # order — the oracle adds the same terms in the same order
    score = F.when(
        F.col("name_dist") <= max_dist, F.lit(name_weights[0])
    ).otherwise(F.lit(name_weights[1]))
    agree_terms = []
    for c, wa, wd in exact_fields:
        a = F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
        agree_terms.append(a)
        score = score + F.when(a, F.lit(wa)).otherwise(F.lit(wd))
    for c, tol, wa, wd in numeric_fields:
        a = F.abs(F.col(f"__a_{c}") - F.col(f"__b_{c}")) <= tol
        agree_terms.append(a)
        score = score + F.when(a, F.lit(wa)).otherwise(F.lit(wd))
    n_agree = (
        F.when(F.col("name_dist") <= max_dist, 1).otherwise(0)
        if not agree_terms
        else sum(
            (F.when(t, 1).otherwise(0) for t in agree_terms),
            F.when(F.col("name_dist") <= max_dist, 1).otherwise(0),
        )
    )
    return (
        scored.withColumn("score", score)
        .withColumn("n_agree", n_agree.cast("int"))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "name_dist", "n_agree", "score")
    )


def bloom_contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """``contamination_overlap`` with a Bloom-filter prefilter — the
    runtime-filter shape for when even the benchmark's distinct
    shingle-hash SET is too large to broadcast (billions of eval-suite
    shingles): only the ``m_bits``-bit array (128 KiB at the default,
    O(1) in data size) rides to every task, corpus shingles that fail
    any of the ``k_hashes`` probes are dropped executor-side, and only
    the tiny surviving candidate set pays the exact confirm join
    against the real key set. Results are EXACT — the Bloom admits
    false positives but the confirm join removes them, so the output
    contract (and oracle) is identical to ``contamination_overlap``.

    The bit array is built distributed: probe positions explode from
    the benchmark keys, one ``bit_or`` aggregate packs them into ≤
    ``m_bits/64`` words, and a single bounded ``collect_list`` (bounded
    by the filter SIZE, never the data) assembles the word→bits map
    that broadcasts with the plan. Membership tests are pure column
    expressions (xxhash64 + shift/AND) inside codegen — no UDFs, no
    driver-side set."""
    from ontario_spark.operators.textops import exploded_shingles, shingle_set_sizes

    if m_bits & (m_bits - 1):
        raise ValueError("m_bits must be a power of two")

    # power-of-two m_bits lets probe positions come from a bitwise AND
    # of the hash's low bits instead of a modulo — that is WHY the
    # constructor enforces the constraint
    def _probes(key):
        return [
            F.xxhash64(key, F.lit(i)).bitwiseAND(F.lit(m_bits - 1))
            for i in range(k_hashes)
        ]

    def _word(pos):
        return F.shiftright(pos, 6)

    # mask for the bit within its 64-bit word (expr: PySpark's
    # shiftleft wrapper takes only literal shift amounts)
    _mask = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(__pos, 64) AS INT))")

    # bench_k feeds the bit-array build AND the confirm join — persist
    # or the benchmark shingle explode runs twice. The CORPUS stream is
    # deliberately NOT persisted (round 12): the per-doc totals are a
    # map-side array expression (``textops.shingle_set_sizes``), so the
    # exploded stream has exactly one consumer (the candidate probe) —
    # at 100 TB materializing the full corpus shingle stream was the
    # operator's dominant memory/spill cost, paid only to count rows.
    bench_k = persisted(
        exploded_shingles(benchmark, id_col, text_col, n)
        .select(F.xxhash64("shingle").alias("k"))
        .dropDuplicates(["k"])
    )
    words = (
        bench_k.select(F.explode(F.array(*_probes(F.col("k")))).alias("__pos"))
        .select(_word(F.col("__pos")).alias("word"), _mask.alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    bloom = words.groupBy().agg(
        F.map_from_entries(F.collect_list(F.struct("word", "bits"))).alias("__bloom")
    )

    totals = shingle_set_sizes(corpus, id_col, text_col, n)

    tests = []
    for i in range(k_hashes):
        pos = f"(xxhash64(k, {i}) & {m_bits - 1})"
        tests.append(
            f"(coalesce(element_at(__bloom, shiftright({pos}, 6)),"
            f" CAST(0 AS BIGINT))"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod({pos}, 64) AS INT)))"
            f" != 0"
        )
    candidate = F.expr(" AND ".join(tests))
    # multiset stream (distinct=False): the bloom probe is per-row and
    # the post-confirm dedup keys on (id, shingle TEXT), so duplicate
    # occurrences and hash collisions resolve exactly as the
    # distinct-exploded form did — only the tiny candidate set pays the
    # dedup + confirm shuffles
    cand = (
        exploded_shingles(corpus, id_col, text_col, n, distinct=False)
        .withColumn("k", F.xxhash64("shingle"))
        .crossJoin(F.broadcast(bloom))
        .filter(candidate)
        .select("id", "shingle", "k")
    )
    hits = (
        cand.join(bench_k, "k", "left_semi")
        .dropDuplicates(["id", "shingle"])
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_doc = totals.withColumnRenamed(id_col, "id").join(
        hits, "id", "left"
    ).select(
        F.col("id").alias(id_col),
        "n_shingles",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
    )
    overlap = F.col("n_hits").cast("double") / F.col("n_shingles")
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_hits",
        F.round(overlap, 6).alias("overlap"),
    ).filter(overlap >= threshold)


def cdc_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 16,
    boundary_max: str = "07",
) -> DataFrame:
    """Content-defined chunking: a chunk boundary falls AFTER every
    position whose trailing ``window``-char rolling fingerprint
    (md5 of the window, a content-only function of the local text)
    sorts at or below ``boundary_max`` in its first two hex digits —
    expected boundary rate (boundary_max+1)/256, so the default cuts
    ~every 32 chars. Because boundaries depend only on LOCAL content,
    an insertion early in a document shifts at most one chunk while
    every later chunk re-aligns — the property that makes CDC dedup
    find shared content that fixed-size chunking misses (the rsync /
    LBFS / backup-dedup design; ``doc_chunks``' fixed token windows
    are the contrast).

    Scale: map-only — boundary detection and splitting are column
    expressions (higher-order ``filter``/``transform`` over character
    positions) evaluated per document with NO shuffle and no UDF; cost
    is O(total chars) fingerprints, embarrassingly parallel across
    partitions. Downstream consumers group by chunk hash (8-byte key),
    never by chunk text.

    Documents shorter than ``window`` become a single chunk. Emits
    (id, chunk_id, chunk_text); empty trailing chunks (boundary at the
    last char) are suppressed."""
    if len(boundary_max) != 2:
        raise ValueError("boundary_max must be two hex digits")
    t = text_col
    bs = (
        f"CASE WHEN length({t}) >= {window} THEN "
        f"filter(sequence({window}, length({t})), i -> "
        f"substr(md5(substring({t}, i - {window - 1}, {window})), 1, 2)"
        f" <= '{boundary_max}') ELSE CAST(array() AS ARRAY<INT>) END"
    )
    edges = f"concat(array(0), {bs}, array(length({t})))"
    # The boundary scan (one md5 per character position) must run ONCE
    # per document: materialize the edges array at a Generate (explode)
    # node so every downstream reference is an ATTRIBUTE, not a
    # re-inlined copy of the scan — higher-order functions evaluate
    # interpreted with no common-subexpression elimination, so the
    # naive nested expression recomputes the full scan per CHUNK
    # (measured 40x slower at sf0.1).
    # coalesce makes the never-null edges array PROVABLY non-null:
    # without it, Generate's inferred NOT-NULL constraint on its input
    # clones the ENTIRE boundary-scan expression into a Filter below
    # the Project — the md5-per-character scan would run twice per
    # document (verified in the physical plan; the fallback branch
    # never fires because concat of non-null arrays is non-null)
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__t"),
        F.expr(f"coalesce({edges}, array(0))").alias("__edges"),
    )
    ex = base.select(
        "id",
        "__t",
        "__edges",
        F.explode(F.expr("sequence(1, size(__edges) - 1)")).alias("chunk_id"),
    )
    return ex.select(
        "id",
        "chunk_id",
        F.expr(
            "substring(__t, element_at(__edges, chunk_id) + 1, "
            "element_at(__edges, chunk_id + 1) - element_at(__edges, chunk_id))"
        ).alias("chunk_text"),
    ).filter(F.length("chunk_text") > 0)


def incremental_lsh_pairs(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental MinHash-LSH near-dup check: today's BATCH probes the
    HISTORICAL corpus through band buckets — the index shape a daily
    ingest actually runs. ``pipeline_incremental_ingest`` verifies
    new×corpus pairs through the shingle-hash index (exact Jaccard,
    cost ∝ batch shingles × index hits); this is the tier above it for
    when even that probe is too wide: candidates exist only where a
    batch doc and a corpus doc share a (band, bucket), so probe cost is
    batch size × bands lookups. At production scale the corpus side's
    banded signatures are a PERSISTED index maintained across runs —
    here both sides derive from the fixture in one plan (the corpus
    side is persisted so its shingle→minhash pipeline runs once per
    call).

    Output: (id_new, id_corpus, est_jaccard ≥ threshold), the estimate
    being the fraction of equal minhashes — identical estimator to
    ``minhash_lsh_pairs``, so the same md5-portable oracle machinery
    checks it. ``max_bucket_size`` drops over-cap CORPUS (band, bucket)
    groups (a bucket that hot is boilerplate exact-dedup should have
    removed; same documented trade as ``hot_bucket="drop"``)."""
    bn = banded_signature_index(new, id_col, text_col, num_hashes, bands, n)
    bc = persisted(
        banded_signature_index(corpus, id_col, text_col, num_hashes, bands, n)
    )
    return probe_banded_index(
        bn, bc, id_col, num_hashes, threshold, max_bucket_size
    )


def banded_signature_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    n: int = 3,
) -> DataFrame:
    """The corpus-side banded-signature INDEX of incremental near-dup
    (factored out of ``incremental_lsh_pairs`` in round 12 so the
    streaming ingest twin can persist it once and probe it per
    micro-batch): one row per (doc, band) carrying the full minhash
    signature and the band's bucket key."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    sig = minhash_signatures(df, id_col, text_col, num_hashes, n)
    keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(c) for c in mh_cols[b * r : (b + 1) * r]]
                )
            )
            for b in range(bands)
        ]
    )
    return sig.withColumn("bk", keys).select(
        id_col, *mh_cols, F.posexplode("bk").alias("band", "bucket")
    )


def probe_banded_index(
    bn: DataFrame,
    bc: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    threshold: float = 0.4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Probe stage of incremental near-dup: banded NEW rows ``bn``
    against the (persisted) corpus index ``bc`` — bucket-equi-join,
    then the minhash-agreement estimate on candidate pairs. Identical
    estimator to ``minhash_lsh_pairs`` (same md5-portable oracle
    machinery)."""
    mh_cols = [f"mh{i}" for i in range(num_hashes)]
    if max_bucket_size is not None:
        heavy = bc.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("__n")
        ).filter(F.col("__n") > max_bucket_size)
        bc = bc.join(
            F.broadcast(heavy.select("band", "bucket")),
            ["band", "bucket"],
            "left_anti",
        )
    a, b = bn.alias("a"), bc.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_new"),
            F.col(f"b.{id_col}").alias("id_corpus"),
            *[
                (F.col(f"a.{c}") == F.col(f"b.{c}")).cast("int").alias(f"eq{i}")
                for i, c in enumerate(mh_cols)
            ],
        )
        .dropDuplicates(["id_new", "id_corpus"])
    )
    est = sum(F.col(f"eq{i}") for i in range(num_hashes)) / F.lit(
        float(num_hashes)
    )
    return cand.select("id_new", "id_corpus", est.alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )

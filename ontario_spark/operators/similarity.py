"""Similarity search over embedding columns (``array<float>``).

Two paths, mirroring how a 100 TB pipeline would tier them:

- ``brute_force_topk`` — exact cosine top-k. The query set is
  broadcast; the corpus is scanned once, fully parallel; a window
  takes top-k per query. Baseline/verification path.
- ``hyperplane_lsh`` bucketing — random-hyperplane LSH: the bucket key
  is the sign pattern of projections onto ``bits`` md5-seeded
  pseudo-random hyperplanes (deterministic, no RNG state to ship, and
  engine-reproducible so DuckDB oracles can replicate buckets exactly).
  Candidates only pair within a bucket, so the all-pairs product never
  materializes; the scale path for ANN joins and near-dup detection.
  Unlike sign-of-leading-dims bucketing (round 3), random projections
  mix ALL dimensions, so correlated/non-centered real embeddings don't
  collapse into one hot bucket; ``neardup_pairs`` additionally caps
  bucket fan-out (mirroring ``dedup.max_doc_freq``) so one pathological
  bucket can never turn the self-join quadratic.

Dot products run as ``zip_with`` + ``aggregate`` Column expressions in
double precision — JVM-side, deterministic left-to-right summation
(bit-reproducible against the DuckDB oracle).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ontario_spark.data import local_frame
from ontario_spark.persist import INDEXES


def _dvec(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column) -> Column:
    da = _dvec(a)
    return F.sqrt(dot(da, da))


def cosine(a: Column, b: Column) -> Column:
    da, db = _dvec(a), _dvec(b)
    return dot(da, db) / (F.sqrt(dot(da, da)) * F.sqrt(dot(db, db)))


def _staged_cosine(qvec: Column, cvec: Column, qnorm: Column, cnorm: Column) -> Column:
    """cosine() with the two self-dots hoisted to per-ROW projections
    (``norm``): a candidate join evaluates one dot per PAIR instead of
    three — same subexpressions, so values stay bit-identical to
    ``cosine()`` and to the oracle."""
    return dot(_dvec(qvec), _dvec(cvec)) / (qnorm * cnorm)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus scan; rank per query with a deterministic tiebreak."""
    from ontario_spark.operators.textops import spread

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _staged_cosine(
                F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def int8_quantize(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization — the 4× compression tier
    an embedding store runs before ANN serving: ``(id, n_dims, maxabs,
    codes)`` with ``codes[i] = floor(x[i] / maxabs · 127)`` (all zeros
    when ``maxabs`` is 0).

    ``floor`` — not ``round`` — by design: the only exact-integer
    quotients are the extremes (x = ±maxabs → ±127, where floor is
    well-defined identically on every engine), so there is no rounding
    half-boundary for Spark (HALF_UP) and DuckDB (half-away) to break
    differently; every downstream statistic and the int8 dot product
    are pure integer arithmetic. Map-only: one projection, zero
    shuffles, whole-stage codegen."""
    maxabs = F.array_max(F.transform(_dvec(F.col(vec_col)), F.abs))
    codes = F.transform(
        _dvec(F.col("__v")),
        lambda x: F.when(
            F.col("maxabs") > 0,
            F.floor(x / F.col("maxabs") * F.lit(127.0)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.size(F.col(vec_col)).alias("n_dims"),
            maxabs.alias("maxabs"),
            F.col(vec_col).alias("__v"),
        )
        .withColumn("codes", codes)
        .select(F.col("id").alias(id_col), "n_dims", "maxabs", "codes")
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
) -> DataFrame:
    """ANN serving over int8 codes: rank by the INTEGER dot product of
    quantized vectors (exact on every engine — no float accumulation
    order to disagree about), deterministic id tiebreak. The quantized
    score is a monotone-enough proxy for cosine on normalized-ish
    embeddings; recall vs brute force is pytest-pinned. Same broadcast
    shape as ``brute_force_topk``: the query side is small, the corpus
    scan stays map-only until one TakeOrdered-style window per query."""
    from ontario_spark.operators.textops import spread

    q = int8_quantize(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("codes").alias("qcodes")
    )
    c = int8_quantize(spread(corpus), id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("codes").alias("ccodes")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    F.col("qcodes"),
                    F.col("ccodes"),
                    lambda a, b: (a * b).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("qdot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("qdot"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "qdot")
    )


LSH_SEED = "hyperplane-lsh"


def _hyperplanes(dim: int, bits: int, seed: str = LSH_SEED) -> list[list[float]]:
    """``bits`` deterministic pseudo-random hyperplanes in R^dim: each
    component is an md5-derived dyadic rational in [-1, 1) — exactly
    representable as a double, so Spark literals and DuckDB SQL
    literals are bit-identical."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}|{j}|{i}".encode()).hexdigest()[:8], 16)
            / 2147483648.0
            - 1.0
            for i in range(dim)
        ]
        for j in range(bits)
    ]


def hyperplane_lsh_bucket(
    vec_expr: str, dim: int, bits: int = 8, seed: str = LSH_SEED
) -> Column:
    """Bucket key: '1'/'0' sign pattern of the vector's projection onto
    ``bits`` seeded hyperplanes, over a SQL array expression (usually
    just the column name — same convention as
    ``hyperplane_bucket_sql``, its DuckDB mirror).

    Built as ONE ``F.expr`` SQL string rather than composed Column
    objects: the plane matrix is bits × dim literals, and building
    that tree through the Python Column API costs ~500 py4j round
    trips PER CALL — measured ~1.4 s of driver-side construction +
    analysis at bits=8/dim=64, re-paid every time a query function is
    invoked. The single parsed string takes the same plan through one
    py4j call (~0.3 s total, and execution is unchanged: the per-plane
    ``aggregate`` fold keeps the strict i=0..dim-1 order, so
    projections stay bit-identical to the oracle's
    ``list_dot_product``)."""
    planes = _hyperplanes(dim, bits, seed)
    dv = f"transform({vec_expr}, x -> CAST(x AS DOUBLE))"
    parts = []
    for j in range(bits):
        arr = "array(" + ", ".join(f"{w!r}D" for w in planes[j]) + ")"
        proj = (
            f"aggregate(zip_with({dv}, {arr}, (x, y) -> x * y), "
            "0.0D, (acc, x) -> acc + x)"
        )
        parts.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    # Guard the declared dim against the actual vector length: zip_with
    # NULL-pads a mismatched vector, every projection goes NULL, and
    # every row would silently share one all-'0' bucket — turning the
    # bucket-local join into the full cross product the LSH exists to
    # avoid. Fail loudly instead.
    # coalesce makes the bucket PROVABLY non-null (the value branch is
    # a concat of non-null literals; the guard branch throws): without
    # it, equi-joining on the bucket makes constraint inference clone
    # this ENTIRE bits×dim projection fold into a Filter under the
    # scan, evaluating it twice per row (round-9 plan audit; the same
    # bug class as the CDC boundary scan)
    return F.expr(
        f"coalesce(CASE WHEN size({vec_expr}) = {dim} THEN concat("
        + ", ".join(parts)
        + f") ELSE raise_error(concat('hyperplane_lsh_bucket: vector length ', "
        f"CAST(size({vec_expr}) AS STRING), ' != dim {dim}')) END, '')"
    )


def hyperplane_bucket_sql(
    vec_expr: str, dim: int, bits: int = 8, seed: str = LSH_SEED
) -> str:
    """DuckDB expression reproducing ``hyperplane_lsh_bucket`` over a
    list-of-DOUBLE SQL expression, bit-for-bit (same plane literals,
    same sequential dot product)."""
    cases = []
    for p in _hyperplanes(dim, bits, seed):
        lits = ", ".join(repr(x) for x in p)
        cases.append(
            f"CASE WHEN list_dot_product({vec_expr}, [{lits}]) >= 0"
            " THEN '1' ELSE '0' END"
        )
    return " || ".join(cases)


JL_SEED = "jl-projection"


def random_projection_stats(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    out_dim: int = 16,
    seed: str = JL_SEED,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection with a verifiable
    norm-preservation readout: project each embedding onto ``out_dim``
    seeded dyadic hyperplanes (the ``_hyperplanes`` family — literals
    identical on every engine) and emit ``ratio = ||Px||²·(dim/out_dim)
    / ||x||²``, the quantity JL says concentrates near 1, plus a
    wide-bound ``jl_ok`` flag. This is the dimensionality-reduction
    tier of an embedding pipeline (4× smaller vectors for clustering /
    coarse search), made oracle-checkable: every fold keeps the strict
    i=0..dim-1 order, so doubles match DuckDB's ``list_dot_product``
    bit-for-bit.

    Map-only: one projection expression per row, zero shuffles,
    whole-stage codegen — same single-``F.expr`` construction as
    ``hyperplane_lsh_bucket`` (bits×dim literals through one py4j
    call). Zero vectors yield NULL ratio/flag (guarded division)."""
    planes = _hyperplanes(dim, out_dim, seed)
    dv = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    projs = []
    for j in range(out_dim):
        arr = "array(" + ", ".join(f"{w!r}D" for w in planes[j]) + ")"
        projs.append(
            f"aggregate(zip_with({dv}, {arr}, (x, y) -> x * y), "
            "0.0D, (acc, x) -> acc + x)"
        )
    proj_norm_sq = " + ".join(f"({p} * {p})" for p in projs)
    norm_sq = (
        f"aggregate(zip_with({dv}, {dv}, (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x)"
    )
    scale = float(dim) / float(out_dim)
    return df.select(
        F.col(id_col),
        F.expr(norm_sq).alias("norm_sq"),
        F.expr(
            f"CASE WHEN size({vec_col}) = {dim} THEN {proj_norm_sq} "
            f"ELSE raise_error('random_projection_stats: bad dim') END"
        ).alias("proj_norm_sq"),
    ).select(
        id_col,
        "norm_sq",
        "proj_norm_sq",
        F.when(
            F.col("norm_sq") > 0,
            F.col("proj_norm_sq") * F.lit(scale) / F.col("norm_sq"),
        ).alias("jl_ratio"),
        F.when(
            F.col("norm_sq") > 0,
            (F.col("proj_norm_sq") * F.lit(scale) / F.col("norm_sq"))
            .between(0.2, 5.0),
        ).alias("jl_ok"),
    )


def random_projection_sql(
    vec_expr: str,
    dim: int = 64,
    out_dim: int = 16,
    seed: str = JL_SEED,
) -> tuple[str, str]:
    """DuckDB (proj_norm_sq, norm_sq) expressions reproducing
    ``random_projection_stats`` bit-for-bit over a list-of-DOUBLE SQL
    expression."""
    planes = _hyperplanes(dim, out_dim, seed)
    projs = []
    for p in planes:
        # literals must parse STRING→DOUBLE: a bare decimal literal is
        # DECIMAL in DuckDB and `1.23::DOUBLE` double-rounds through
        # the DECIMAL intermediate — ~1-ulp drift vs Spark's (and
        # strtod's) correctly-rounded parse on ~30% of the plane
        # components (the sign-only bucket SQL never noticed; an
        # exact-value oracle does)
        lits = ", ".join(f"'{x!r}'::DOUBLE" for x in p)
        projs.append(f"list_dot_product({vec_expr}, [{lits}])")
    proj_norm_sq = " + ".join(f"({p} * {p})" for p in projs)
    return proj_norm_sq, f"list_dot_product({vec_expr}, {vec_expr})"


def bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: score only within the query's hyperplane-LSH bucket.
    Trades recall for a bucket-local join instead of a full cross
    product."""
    from ontario_spark.operators.textops import spread

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
        hyperplane_lsh_bucket(vec_col, dim, bits).alias("bucket"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
        hyperplane_lsh_bucket(vec_col, dim, bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _staged_cosine(
                F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def _coarse_quantizer(
    corpus: DataFrame, vec_col: str, n_lists: int, seed: int, id_col: str
) -> DataFrame:
    """Fit (or fetch) the k-means coarse quantizer; returns
    ``(cdf, centers)`` — the tiny ``(cell, center)`` DataFrame that
    probe joins broadcast, plus the same centroids as a plain Python
    list (they are computed driver-side by the fit anyway), which the
    corpus-assignment fast path embeds as in-plan literals (round 12).
    Index construction is the OFFLINE half of IVF: at 100 TB the
    centroids live in storage and queries only probe them, so the fit
    is cached in ``persist.INDEXES`` and repeated queries (two server
    threads included) do not pay the driver-blocking k-means fit again."""
    centers = INDEXES.get(
        ("ivf_quantizer", corpus, vec_col, n_lists, seed, id_col),
        lambda: _fit_centers(corpus, vec_col, n_lists, seed, id_col),
    )
    cdf = local_frame(
        corpus.sparkSession, centers, "cell int, center array<double>"
    ).withColumn("center_norm", norm(F.col("center")))
    return cdf, centers


def _fit_centers(
    corpus: DataFrame, vec_col: str, n_lists: int, seed: int, id_col: str
) -> "list[tuple[int, list[float]]]":
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # FAISS-style: train the coarse quantizer on a bounded sample —
    # centroid quality needs O(100) points per cell, not the corpus.
    # Sampled by md5-of-id order (TakeOrderedAndProject: a per-partition
    # top-n heap + driver merge, never a full sort): deterministic under
    # ANY input ordering/partitioning AND unbiased — a plain limit()
    # takes the first partitions, which on a corpus sorted or
    # partitioned by anything meaningful is a skewed slice. At 100 TB
    # training cost stays independent of corpus size.
    train = (
        corpus.select(
            F.md5(F.col(id_col).cast("string")).alias("__h"),
            array_to_vector(_dvec(F.col(vec_col))).alias("features"),
        )
        .orderBy("__h")
        .limit(max(256 * n_lists, 2048))
        .select("features")
    )
    km = KMeans(k=n_lists, seed=seed, maxIter=10).fit(train)
    return [
        (i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())
    ]


def _argmax_cell_expr(
    centers: "list[tuple[int, list[float]]]", vec: str, vnorm: str
) -> Column:
    """Nearest-centroid cell id as ONE map-side expression over the
    centroid literals (round 12): per-cell cosine = the exact
    ``_staged_cosine`` arithmetic (same zip_with/aggregate fold order,
    centroid norms pre-folded driver-side with the identical
    left-to-right IEEE sequence), argmax via ``array_max`` over
    ``struct(score, -cell, cell)`` — ties break to the SMALLER cell,
    bit-for-bit the ``row_number() over (desc(score), asc(cell))``
    rank-1 row of ``_nearest_cells``. Replaces the n=1 window path's
    Exchange+Sort of (corpus × n_lists) rows with zero shuffles; one
    parsed ``F.expr`` string (the hyperplane-LSH py4j lesson)."""
    mat = (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")"
            for _, c in centers
        )
        + ")"
    )

    def _fold_norm(c: "list[float]") -> float:
        acc = 0.0
        for x in c:
            acc = acc + x * x
        return math.sqrt(acc)

    norms = (
        "array("
        + ", ".join(f"{_fold_norm(c)!r}D" for _, c in centers)
        + ")"
    )
    return F.expr(
        f"array_max(transform({mat}, (c, i) -> struct("
        f"aggregate(zip_with(c, {vec}, (x, y) -> x * y), 0.0D,"
        f" (acc, x) -> acc + x)"
        f" / (element_at({norms}, i + 1) * {vnorm}) AS s,"
        f" -i AS nc, i AS cell))).cell"
    )


def _nearest_cells(
    side: DataFrame,
    cdf: DataFrame,
    id_col: str,
    vec_col: str,
    n: int,
    out: str,
) -> DataFrame:
    """Assign each vector its n closest centroids (rank ≤ n) via a
    broadcast centroid join — O(n_lists) comparisons per row."""
    scored = side.withColumn("__vnorm", norm(F.col(vec_col))).crossJoin(
        F.broadcast(cdf)
    ).withColumn(
        "__d",
        _staged_cosine(
            F.col("center"),
            F.col(vec_col),
            F.col("center_norm"),
            F.col("__vnorm"),
        ),
    )
    w = Window.partitionBy(side[id_col]).orderBy(F.desc("__d"), F.asc("cell"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n)
        .drop("center", "center_norm", "__vnorm", "__d", "__r")
        .withColumnRenamed("cell", out)
    )


def _corpus_cells(
    corpus: DataFrame,
    centers: "list[tuple[int, list[float]]]",
    id_col: str,
    vec_col: str,
    n_lists: int,
    seed: int,
) -> DataFrame:
    """Cached persisted (id, cell) assignment of every corpus vector to
    its nearest coarse centroid — at 100 TB this is precomputed and
    stored partitioned by cell; here the cache plays that role.
    Assignment is the ``_argmax_cell_expr`` map-only projection
    (round 12): the old ``_nearest_cells(n=1)`` route paid an
    id-keyed Exchange + Sort of the (corpus × n_lists) crossJoin just
    to rank each id's n_lists candidate rows — a per-row argmax needs
    no shuffle at all, and the scores/tie-breaks are bit-identical."""
    return INDEXES.get(
        ("ivf_cells", corpus, id_col, vec_col, n_lists, seed),
        lambda: corpus.select(
            F.col(id_col),
            _dvec(F.col(vec_col)).alias("__vd"),
            norm(F.col(vec_col)).alias("__vnorm"),
        ).select(
            F.col(id_col),
            _argmax_cell_expr(centers, "__vd", "__vnorm").alias("cell"),
        ),
    )


def seeded_cluster_assign(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Deterministic seeded clustering — one Lloyd assignment step with
    the ``k`` lowest-id vectors as seed centroids: every vector is
    assigned to its highest-cosine seed (ties → lowest seed id). The
    deterministic complement of the k-means IVF tier: semantic-domain
    bucketing for corpus mixing where resumability and cross-engine
    reproducibility matter more than centroid quality (re-running on
    an appended corpus keeps every old assignment; k-means would move
    all of them).

    Scale design: the seeds are a bounded driver pull (``k`` rows via
    TakeOrderedAndProject, no full sort), inlined into the plan as a
    literal array — assignment is then a SINGLE narrow projection over
    the corpus scan: per-row argmax across k in-plan centroids via
    ``array_max`` over a ``transform`` lambda. No hash/range shuffle,
    no window, no crossJoin row multiplication (the only exchange is
    ``spread()``'s round-robin fan-out of small local fixtures, absent
    on a real multi-partition scan) — at 100 TB the stage count is the
    scan itself, and whole-stage codegen keeps the k×dim multiply-adds
    JVM-side."""
    seeds = (
        corpus.select(
            F.col(id_col).cast("long").alias("cid"),
            _dvec(F.col(vec_col)).alias("sv"),
        )
        .orderBy("cid")
        .limit(k)
        .collect()
    )
    seed_arr = F.array(
        *[
            F.struct(
                F.lit(int(r["cid"])).alias("cid"),
                F.array(*[F.lit(float(x)) for x in r["sv"]]).alias("sv"),
            )
            for r in seeds
        ]
    )
    # full cosine inside the lambda (seed norms re-derived with the
    # same sqrt(dot()) expression shape the oracle uses, so scores stay
    # bit-comparable); struct ordering = (score desc via max, then
    # smaller cid via the negated field)
    best = F.array_max(
        F.transform(
            seed_arr,
            lambda s: F.struct(
                (
                    dot(_dvec(F.col(vec_col)), s["sv"])
                    / (F.col("__vnorm") * F.sqrt(dot(s["sv"], s["sv"])))
                ).alias("score"),
                (-s["cid"]).alias("__nc"),
                s["cid"].alias("cid"),
            ),
        )
    )
    from ontario_spark.operators.textops import spread

    return (
        spread(corpus)
        .withColumn("__vnorm", norm(F.col(vec_col)))
        .select(
            F.col(id_col),
            best["cid"].alias("cluster_id"),
            best["score"].alias("score"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    n_lists: int = 16,
    n_probe: int = 2,
    seed: int = 7,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: a k-means coarse quantizer
    (Spark ML, fixed seed → deterministic) partitions the corpus into
    ``n_lists`` cells; each query scores only its ``n_probe`` nearest
    cells. The classic FAISS-style tiering: centroids are tiny and
    broadcast, the corpus is scanned once to assign cells (at scale this
    assignment is precomputed and stored partitioned-by-cell), and the
    probe join touches n_probe/n_lists of the data."""
    cdf, centers = _coarse_quantizer(corpus, vec_col, n_lists, seed, id_col)

    def nearest_cells(side: DataFrame, n: int, out: str) -> DataFrame:
        return _nearest_cells(side, cdf, id_col, vec_col, n, out)

    # corpus side rides the cached stored-index assignment; only the
    # (small) query side computes nearest cells per call
    c = corpus.join(
        _corpus_cells(corpus, centers, id_col, vec_col, n_lists, seed), id_col
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
        "cell",
    )
    q = nearest_cells(queries, n_probe, "cell").select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        norm(F.col(vec_col)).alias("qnorm"),
        "cell",
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _staged_cosine(
                F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm")
            ).alias("score"),
        )
        # no dedup needed: each corpus row sits in exactly ONE cell
        # (rank ≤ 1) and a query's probed cells are distinct, so
        # (query_id, neighbor_id) pairs are already unique — the old
        # dropDuplicates shuffled the full candidate stream for nothing
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def neardup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 8,
    dim: int = 64,
    max_bucket_size: int | None = None,
    hot_bucket: str = "split",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b) with score >=
    threshold, candidate-limited to shared hyperplane-LSH buckets.

    ``max_bucket_size`` is the corpus-scale skew guard (mirroring
    ``dedup.ngram_jaccard_pairs``'s ``max_doc_freq``): a bucket holding
    m vectors fans out m²/2 candidate pairs on ONE join key, so a
    single hot bucket — possible on real correlated embeddings even
    with random projections — would concentrate quadratic work on one
    task. Two policies for over-cap buckets:

    - ``hot_bucket="split"`` (default): subdivide the bucket into
      ``ceil(m/cap)`` salted sub-buckets by a deterministic md5 hash of
      the id; pairs form only within a sub-bucket. Fan-out per join key
      stays ≤ cap², TOTAL work in a hot bucket stays ≤ m·cap/2
      (linear in m, not m²), and recall degrades gracefully to ~cap/m
      within that bucket instead of collapsing. The round-5 scale
      probe found the old drop policy returning ZERO pairs at 10×
      scale — average bucket population crossed the cap and the entire
      corpus was discarded; splitting is cliff-free: buckets under the
      cap get one sub-bucket and results are IDENTICAL to uncapped.
    - ``hot_bucket="drop"``: the round-4 behavior — over-cap buckets
      are removed via a broadcast anti-join (maximal throughput, zero
      recall inside the hot bucket).
    """
    from ontario_spark.operators.textops import spread

    if hot_bucket not in ("split", "drop"):
        raise ValueError(f"hot_bucket must be split|drop, got {hot_bucket!r}")
    # coalesce makes the norm PROVABLY non-null: the downstream
    # `score >= threshold` filter otherwise infers
    # isnotnull(score) → isnotnull(nrm) and constraint inference
    # clones the O(dim) SQRT(aggregate(zip_with(...))) lambda into a
    # Filter below BOTH scans (the CDC/LSH-bucket bug class, caught by
    # tools/plan_audit.py on train_hard_negatives). A null vec yields
    # a null dot product, so the score stays null and the pair is
    # dropped either way — values are unchanged, the inferred NOT-NULL
    # check constant-folds away.
    c = spread(corpus).select(
        F.col(id_col),
        F.col(vec_col).alias("vec"),
        F.coalesce(norm(F.col(vec_col)), F.lit(0.0)).alias("nrm"),
        hyperplane_lsh_bucket(vec_col, dim, bits).alias("bucket"),
    )
    if max_bucket_size is None:
        c = c.withColumn("__sub", F.lit(0).cast("long"))
    else:
        counts = c.groupBy("bucket").agg(F.count(F.lit(1)).alias("__n"))
        if hot_bucket == "drop":
            heavy = counts.filter(F.col("__n") > max_bucket_size).select("bucket")
            c = c.join(F.broadcast(heavy), "bucket", "left_anti").withColumn(
                "__sub", F.lit(0).cast("long")
            )
        else:
            # ≤ 2^bits buckets → the count table is tiny, broadcast it;
            # md5-derived sub id is engine-reproducible (DuckDB oracle)
            h = F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 7), 16, 10
            ).cast("long")
            k = F.greatest(
                F.ceil(F.col("__n") / F.lit(max_bucket_size)).cast("long"),
                F.lit(1),
            )
            c = (
                c.join(F.broadcast(counts), "bucket")
                .withColumn("__sub", F.pmod(h, k))
                .drop("__n")
            )
    a, b = c.alias("a"), c.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__sub") == F.col("b.__sub"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _staged_cosine(
                F.col("a.vec"), F.col("b.vec"), F.col("a.nrm"), F.col("b.nrm")
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 8,
    dim: int = 64,
    max_bucket_size: "int | None" = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication verdict per document:
    ``(id, cluster_id, keep)`` where near-duplicate PAIRS (hyperplane-
    LSH-bucketed cosine, ``neardup_pairs``) are closed into CLUSTERS
    (min-label connected components) and one canonical row — the
    minimum id — survives per cluster. Rows with no near-duplicate
    form singleton clusters (``cluster_id = id``, ``keep = true``).

    This is the embedding-space analogue of ``dedup_clusters`` over
    n-gram Jaccard pairs (composition, not new machinery: both halves
    carry their own corpus-scale skew guards — bucket splitting in the
    pair join, edge-count-sized shuffles in the propagation loop).
    Reference scope: the reference engine has no embedding operators;
    this extends the training-data-pipeline surface."""
    from ontario_spark.operators.graph import connected_components

    pairs = neardup_pairs(
        corpus,
        id_col,
        vec_col,
        threshold=threshold,
        bits=bits,
        dim=dim,
        max_bucket_size=max_bucket_size,
    )
    comp = connected_components(pairs, "id_a", "id_b").select(
        F.col("n").alias(id_col), "component"
    )
    out = corpus.select(F.col(id_col)).join(comp, id_col, "left")
    cluster = F.coalesce(F.col("component"), F.col(id_col))
    return out.select(
        F.col(id_col),
        cluster.alias("cluster_id"),
        (F.col(id_col) == cluster).alias("keep"),
    )


# --- product quantization (PQ) -----------------------------------------
#
# The 100 TB vector-search compression tier: vectors become m one-byte
# codes (32-64× smaller than float32), queries score rows by LOOKUPS
# into a per-query distance table instead of touching the vectors.
# Training is offline on a bounded deterministic sample; encode is one
# map-only pass; search is a broadcast join + m array lookups per row.


def pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 10,
) -> "tuple[list[list[list[float]]], DataFrame]":
    """Train-or-fetch the (codebooks, encoded-corpus) pair for a
    corpus — the cached offline half of PQ search."""

    def build():
        books = pq_codebooks(corpus, id_col, vec_col, m, k, iters)
        return books, pq_encode(corpus, books, id_col, vec_col)

    return INDEXES.get(("pq", corpus, id_col, vec_col, m, k, iters), build)


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    k: int = 16,
    iters: int = 10,
) -> list[list[list[float]]]:
    """Train m per-subspace codebooks of k centroids each via Lloyd
    k-means over a bounded md5-ordered sample (same determinism posture
    as the IVF coarse quantizer: reproducible under any input order,
    unbiased, cost independent of corpus size). Returns plain Python
    lists — codebooks[j][c] is the c-th centroid of subspace j — tiny
    (k × D floats) and embedded into encode/search plans as literals."""
    import numpy as np

    sample = (
        corpus.select(
            F.md5(F.col(id_col).cast("string")).alias("__h"),
            _dvec(F.col(vec_col)).alias("v"),
        )
        .orderBy("__h")
        .limit(max(256 * k, 2048))
        .select("v")
        .collect()
    )
    # L2-normalize: ranking is by COSINE, and squared L2 on the unit
    # sphere is 2 - 2cos — monotone with it. PQ on raw vectors would
    # rank by a distance the ground truth doesn't use.
    X = np.asarray([r["v"] for r in sample], dtype=np.float64)
    if X.size == 0:
        raise ValueError("pq_codebooks: empty corpus — nothing to train on")
    if len(X) < k:
        raise ValueError(
            f"pq_codebooks: training sample has {len(X)} vectors, "
            f"fewer than k={k} centroids — shrink k or grow the corpus"
        )
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books: list[list[list[float]]] = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        # deterministic init: the k sample points coming first in the
        # md5 order (the sample is already md5-sorted)
        C = S[:k].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                pts = S[assign == c]
                if len(pts):
                    C[c] = pts.mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def _unit(vec: Column) -> Column:
    """L2-normalized copy of the vector (cosine ⇔ unit-sphere L2)."""
    v = _dvec(vec)
    n = F.greatest(norm(v), F.lit(1e-12))
    return F.transform(v, lambda x: x / n)


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, code0..code{m-1}): nearest-centroid code per subspace —
    pure Column expressions (the codebooks are literals), one map-only
    pass, no Python in the row path. At scale this output is what you
    persist; the float vectors stay cold.

    Expression shape matters twice over: ONE ``transform`` over the
    subspace's centroid-matrix literal computes all k distances in a
    single pass and ``array_position(array_min)`` picks the argmin — m
    HOF expressions total (the per-centroid form, m×k separate
    aggregates + a k-deep when-chain, took ~20 s vs ~2 s at sf0.1).
    And each subspace expression is ONE parsed ``F.expr`` string: the
    m × k × sub centroid literals built through the Python Column API
    cost ~1000 py4j round trips of driver-side plan construction per
    call (the hyperplane-LSH lesson, similarity.py:123)."""
    from ontario_spark.operators.textops import spread

    sub = len(books[0][0])
    out = spread(corpus).select(
        F.col(id_col), _unit(F.col(vec_col)).alias("__uv")
    )
    code_exprs = []
    for j, book in enumerate(books):
        mat = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")"
                for c in book
            )
            + ")"
        )
        dists = (
            f"transform({mat}, c -> aggregate("
            f"zip_with(slice(__uv, {j * sub + 1}, {sub}), c, "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))"
        )
        code_exprs.append(
            F.expr(
                f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
            ).alias(f"code{j}")
        )
    return out.select(F.col(id_col), *code_exprs)


def _adc_table_expr(books: list[list[list[float]]], vec: str = "__uv") -> Column:
    """Flat (m × k) ADC lookup table as ONE Column expression over the
    unit-normalized query vector column: entry ``j*k + c`` is the
    squared L2 distance between query subvector j and centroid c.
    Executor-side — the round-4 implementation collected every query to
    the driver and built the tables in numpy, putting the driver on the
    per-query path; the codebooks are literals, so the same arithmetic
    (identical sequential fold order) runs where the queries are. Same
    single-``F.expr``-string construction as ``pq_encode`` (the
    hyperplane-LSH py4j lesson, similarity.py:131)."""
    sub = len(books[0][0])
    parts = []
    for j, book in enumerate(books):
        mat = (
            "array("
            + ", ".join(
                "array(" + ", ".join(f"{float(x)!r}D" for x in c) + ")"
                for c in book
            )
            + ")"
        )
        parts.append(
            f"transform({mat}, c -> aggregate("
            f"zip_with(slice({vec}, {j * sub + 1}, {sub}), c, "
            "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x))"
        )
    return F.expr("concat(" + ", ".join(parts) + ")")


def _adc_rank_and_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    rerank: int,
) -> DataFrame:
    """Shared PQ tail: keep the ``rerank×k`` best-ADC candidates per
    query, fetch only their true vectors, exact-cosine rerank."""
    wc = Window.partitionBy("query_id").orderBy(F.asc("adc"), F.asc("neighbor_id"))
    cand = cand.withColumn("crank", F.row_number().over(wc)).filter(
        F.col("crank") <= rerank * k
    )
    cvec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        norm(F.col(vec_col)).alias("cnorm"),
    )
    qvec = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            norm(F.col(vec_col)).alias("qnorm"),
        )
    )
    scored = (
        cand.join(cvec, "neighbor_id")
        .join(qvec, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _staged_cosine(
                F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def _adc_expr(m: int, kc: int) -> Column:
    adc = F.lit(0.0)
    for j in range(m):
        adc = adc + F.element_at(F.col("tbl"), F.col(f"code{j}") + j * kc + 1)
    return adc


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 4,
    n_centroids: int = 16,
    rerank: int = 4,
    books: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ ANN top-k by asymmetric distance (ADC) + exact cosine rerank:
    each query becomes an (m × k) lookup table of subspace distances to
    every centroid — built EXECUTOR-side from the codebook literals
    (round-5: no driver collect of queries, so a 10⁶-query offline
    scoring job keeps the driver out of the per-query path); candidate
    scoring is m ``element_at`` lookups per row — no vector math
    touches the corpus. The top ``rerank×k`` ADC candidates fetch their
    true vectors for an exact cosine rerank, the standard recall
    repair. Pass precomputed ``books``/``codes`` to skip the offline
    phase (how a stored index is used). For large corpora compose with
    coarse cells via ``ivfpq_topk`` — this full-scan form ADC-scans
    every code per query."""
    if books is None and codes is None:
        books, codes = pq_index(corpus, id_col, vec_col, m, n_centroids)
    elif books is None:
        books = pq_codebooks(corpus, id_col, vec_col, m, n_centroids)
    elif codes is None:
        codes = pq_encode(corpus, books, id_col, vec_col)
    m, kc = len(books), len(books[0])

    qdf = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), _unit(F.col(vec_col)).alias("__uv")
        ).select("query_id", _adc_table_expr(books).alias("tbl"))
    )
    cand = (
        codes.crossJoin(qdf)
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            F.col(id_col).alias("neighbor_id"), "query_id",
            _adc_expr(m, kc).alias("adc"),
        )
    )
    return _adc_rank_and_rerank(cand, corpus, queries, id_col, vec_col, k, rerank)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    m: int = 4,
    n_centroids: int = 16,
    rerank: int = 4,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    books: list[list[list[float]]] | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF × PQ — the full FAISS-style tiering composed (round-5): the
    coarse quantizer prunes candidates to each query's ``n_probe``
    nearest cells, PQ ADC lookups score ONLY the probed cells' codes
    (n_probe/n_lists of the corpus instead of a full code scan), and
    the exact cosine rerank repairs recall. Both offline halves are
    cached/stored artifacts (``_coarse_quantizer``, ``pq_index``); the
    query path is a broadcast of (query cell probes ⋈ ADC tables) —
    all executor-side, no driver collect of queries. At 100 TB the
    codes live partitioned by cell, so the cell join is partition
    pruning, not a shuffle."""
    if books is None and codes is None:
        books, codes = pq_index(corpus, id_col, vec_col, m, n_centroids)
    elif books is None:
        books = pq_codebooks(corpus, id_col, vec_col, m, n_centroids)
    elif codes is None:
        codes = pq_encode(corpus, books, id_col, vec_col)
    m, kc = len(books), len(books[0])
    cdf, centers = _coarse_quantizer(corpus, vec_col, n_lists, seed, id_col)

    ccell = _corpus_cells(corpus, centers, id_col, vec_col, n_lists, seed)
    coded = codes.join(ccell, id_col)
    q_adc = queries.select(
        F.col(id_col).alias("query_id"), _unit(F.col(vec_col)).alias("__uv")
    ).select("query_id", _adc_table_expr(books).alias("tbl"))
    qcells = _nearest_cells(queries, cdf, id_col, vec_col, n_probe, "cell").select(
        F.col(id_col).alias("query_id"), "cell"
    )
    # corpus rows sit in exactly one cell and a query's probed cells are
    # distinct → (query, neighbor) pairs are already unique, no dedup
    qdf = F.broadcast(qcells.join(q_adc, "query_id"))
    cand = (
        coded.join(qdf, "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            F.col(id_col).alias("neighbor_id"), "query_id",
            _adc_expr(m, kc).alias("adc"),
        )
    )
    return _adc_rank_and_rerank(cand, corpus, queries, id_col, vec_col, k, rerank)


def label_centroids(
    df: DataFrame,
    label_col: str,
    vec_col: str,
    round_to: int = 9,
) -> DataFrame:
    """Per-group mean-pooled embedding (the pooling step of doc-level
    representations, cluster summaries, or class prototypes): one
    centroid vector per label. Components are summed as
    DECIMAL(28,12) — exact and ORDER-INDEPENDENT, so the result is
    identical on any engine, partitioning, or shuffle arrival order
    (a plain double sum would drift in the last ulp per reduction
    tree) — then divided once and rounded.

    Scale: posexplode → one (label, pos) hash aggregate → one (label)
    re-assembly aggregate. Shuffle volume is rows × dim scalar cells,
    the unavoidable minimum for exact pooling; no vector ever rides a
    collect. Dim is bounded (embedding width), so the collected
    per-label struct list in the re-assembly stage is O(dim)."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    comp = ex.groupBy("label", "pos").agg(
        # exact decimal SUM (order-independent), then ONE double
        # division — dividing decimal BY decimal lands in Spark's
        # precision-overflow rule and silently truncates the result
        # scale to 6; the float leg widens to double first (a direct
        # float→decimal cast goes through the float's shortest string
        # repr and loses everything past ~7 sig digits)
        F.round(
            F.sum(F.col("v").cast("double").cast("decimal(28,12)"))
            .cast("double")
            / F.count(F.lit(1)).cast("double"),
            round_to,
        ).alias("c"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        comp.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid"),
            F.max("__n").alias("n_vecs"),
        )
        .select("label", "n_vecs", "centroid")
    )


def label_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    k: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Per-label outlier candidates — the label-noise / mislabel
    detector: each vector's squared euclidean distance to its OWN
    label's centroid, top-k most-distant per label. The cheap first
    pass of confident-learning-style cleanup (vectors far from their
    class prototype are review candidates).

    Determinism: centroids come from ``label_centroids`` (exact
    DECIMAL component sums, rounded — engine-independent); the
    distance expands to ``|v|² − 2·v·c + |c|²`` — three index-ordered
    folds combined in one fixed expression, so the double is
    bit-identical on any engine; it is then rounded before ranking
    with an id tiebreak (the bm25_topk discipline).

    Scale shape: centroids are one row per label (broadcast); the
    distance pass is map-only over the embedding scan; the per-label
    top-k is a row_number window partitioned on the label — the same
    key the join just hashed by."""
    from pyspark.sql.window import Window

    cent = label_centroids(df, label_col, vec_col)
    joined = df.select(
        F.col(id_col), F.col(label_col).alias("label"), F.col(vec_col).alias("__v")
    ).join(F.broadcast(cent.select("label", "centroid")), "label")
    dv = _dvec(F.col("__v"))
    c = F.col("centroid")
    d2 = dot(dv, dv) - 2.0 * dot(dv, c) + dot(c, c)
    w = Window.partitionBy("label").orderBy(F.desc("d2_r"), F.asc(id_col))
    return (
        joined.select(
            F.col(id_col), "label", F.round(d2, round_to).alias("d2_r")
        )
        .withColumn("out_rank", F.row_number().over(w))
        .filter(F.col("out_rank") <= k)
        .select("label", "out_rank", id_col, "d2_r")
    )

"""Iterative graph operators: transitive closure for SPARQL property
paths ``p+`` / ``p*``.

The reference has no property paths at all (SURVEY.md §2.5); this is
beyond-reference surface. Spark has no native fixpoint operator, so the
closure is the standard semi-naive Datalog iteration expressed as
DataFrame joins:

    delta_0 = edges
    delta_i = project(delta_{i-1} ⋈ edges) − acc      (only NEW pairs)
    acc     = acc ∪ delta_i                            until delta = ∅

Scale design (100 TB): each iteration is a shuffled equi-join on the
frontier only — the delta, not the accumulated closure, drives the join,
so per-iteration cost tracks the number of *new* pairs (semi-naive, not
naive). Every delta is truncated (``pin(..., truncate=True)``, a
``localCheckpoint``); without it the plan doubles per step and Catalyst
analysis time explodes after ~15 iterations. The closure's loop runs
inside a ``pinned()`` scope, which releases its persisted frames when
the operator returns or raises (ownership rules:
``ontario_spark/persist.py``). The other loops pin no round: a round
of ``pagerank``, ``personalized_pagerank``, ``bfs_depths`` or
``connected_components`` is one aggregate that reads the previous
round once, so rounds chain lazily. The first three build one lazy
plan; components truncates its edge set once and its labels at each
convergence check, every ``CC_ROUNDS_PER_CHECK`` rounds. Diameter of real
hierarchies (org charts, geo containment, categories) is small —
``max_iter`` is a cycle guard, not an expected bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontario_spark.persist import persisted, pin, pinned


class ClosureError(Exception):
    pass


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
    include_identity: bool = False,
) -> DataFrame:
    """Distinct reachability pairs of ``edges`` under 1-or-more steps
    (SPARQL ``p+``). With ``include_identity``, zero-step pairs
    ``(n, n)`` for every node appearing in the edge relation are added
    (SPARQL ``p*`` restricted to the path's node domain).

    Cycles terminate naturally: a cycle only re-derives already-seen
    pairs, so the anti-join empties the delta.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull()
    )
    with pinned():
        e = pin(e.dropDuplicates(["src", "dst"]), truncate=True)
        acc = e
        delta = e
        for _ in range(max_iter):
            # pin step BEFORE the anti-join so no checkpointed plan holds
            # two copies of the same relation (e in the join + e in acc)
            step = pin(
                delta.alias("d")
                .join(e.alias("e"), F.col("d.dst") == F.col("e.src"))
                .select(
                    F.col("d.src").alias("src"), F.col("e.dst").alias("dst")
                )
                .dropDuplicates(["src", "dst"]),
                truncate=True,
            )
            new = pin(
                step.join(acc, on=["src", "dst"], how="left_anti"),
                truncate=True,
            )
            if new.isEmpty():
                break
            acc = acc.unionByName(new)
            delta = new
        else:
            raise ClosureError(
                f"closure did not converge in {max_iter} iterations"
            )

    if include_identity:
        nodes = (
            e.select(F.col("src").alias("n"))
            .unionByName(e.select(F.col("dst").alias("n")))
            .dropDuplicates(["n"])
        )
        acc = acc.unionByName(
            nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
        ).dropDuplicates(["src", "dst"])
    return acc


# Min-label rounds run between two convergence checks. Propagation is
# idempotent past its fixpoint, so rounds run after convergence return
# the same labels.
CC_ROUNDS_PER_CHECK = 2


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Undirected connected components: ``(node, component)`` where
    ``component`` is the MINIMUM node id in the node's component —
    deterministic, engine-independent labels.

    The duplicate-clustering step of a dedup pipeline: near-dup PAIRS
    (from LSH/Jaccard) become CLUSTERS so one canonical doc per cluster
    survives. Standard min-label propagation: each round every node
    takes the min of its own label and its neighbors' labels. Converges
    in O(component diameter) rounds — duplicate clusters are
    near-cliques (diameter ≤ ~2-3), so this beats the O(log n)
    large-star/small-star variant's constant factor in practice; for
    adversarially long path graphs at lake scale, swap in
    large-star/small-star behind the same signature.

    Scale shape: a round is ONE aggregate, ``labels ⋈ e'`` grouped by
    node taking ``min(label)``, where ``e'`` is the symmetrised edge
    set plus one self-loop per node (the node keeps its own label in
    the min). Each round reads the previous labels once, so rounds
    stay lazy: ``CC_ROUNDS_PER_CHECK`` of them run between convergence
    checks, and a graph that converges within them pays one truncating
    pin and one check while it is built, whatever ``max_iter``. The
    check is exact for every id type: the last round flags a node whose
    label dropped below its own previous label, and labels have
    converged when no node is flagged. ``ClosureError`` is raised when
    round ``max_iter`` still moves a label."""
    pairs = edges.select(F.col(src).alias("n"), F.col(dst).alias("m")).filter(
        F.col("n").isNotNull() & F.col("m").isNotNull() & (F.col("n") != F.col("m"))
    )
    # both directions and both self-loops in ONE projection, so the
    # upstream pair DAG (often an expensive similarity join) is
    # referenced once. The edge set is truncated once: every round reads
    # it, and a plan that carries the pair DAG costs more to analyse and
    # match against the cache than the rounds cost to run.
    e = pin(
        pairs.select(
            F.explode(
                F.array(
                    F.struct("n", "m"),
                    F.struct(F.col("m").alias("n"), F.col("n").alias("m")),
                    F.struct("n", F.col("n").alias("m")),
                    F.struct(F.col("m").alias("n"), "m"),
                )
            ).alias("e")
        )
        .select("e.n", "e.m")
        .distinct(),
        truncate=True,
    )
    labels = e.filter(F.col("n") == F.col("m")).select("n", F.col("n").alias("label"))
    own = F.min(F.when(F.col("n") == F.col("m"), F.col("label")))
    for done in range(1, max_iter + 1):
        labels = (
            labels.select("n", "label")
            .join(e, "n")
            .groupBy(F.col("m").alias("n"))
            .agg(F.min("label").alias("label"), (F.min("label") < own).alias("moved"))
        )
        if done % CC_ROUNDS_PER_CHECK and done < max_iter:
            continue
        labels = pin(labels, truncate=True)
        if labels.filter("moved").isEmpty():
            return labels.select("n", F.col("label").alias("component"))
    raise ClosureError(f"components did not converge in {max_iter} iterations")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    round_to: int = 10,
) -> DataFrame:
    """Fixed-iteration PageRank → ``(node, rank)`` — the link-graph
    importance score a curation pipeline uses to rank domains/sources
    (simplified: dangling mass is not redistributed, the standard
    "leaked" variant — both engines implement the identical recurrence
    so the simplification cancels in the oracle comparison).

    Determinism discipline (same as ``unigram_logprob``): every
    per-edge contribution r(src)/deg(src) is rounded to
    ``round_to + 4`` decimals and summed as DECIMAL; each updated rank
    is rounded to ``round_to``. The GRIDS DIFFER BY DESIGN: with one
    shared grid the damped product of already-quantized sums lands
    EXACTLY on rounding half-boundaries, where Spark (HALF_UP on the
    shortest decimal repr) and DuckDB (binary-double rounding) break
    ties differently — observed as 1-ulp rank drift at sf0.01. Four
    orders of separation make a rank-grid half-tie require a binary
    coincidence (~1e-9 per value) instead of a certainty.

    Scale shape: ranks live keyed by node; one round is one
    aggregate (see ``_rank_rounds``). The result is ONE lazy plan with
    no Spark job fired while it is built: each round reads the previous
    ranks once, so the plan grows linearly in ``iters``, and the
    loop-invariant edge, node and degree frames are plain frames whose
    identical exchanges Spark reuses across rounds. The node count is
    a scalar subquery. ``iters`` is fixed (not convergence-probed) so
    the oracle can unroll the exact same number of steps."""
    dec = f"decimal(28,{round_to})"
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    n = nodes.agg(F.count(F.lit(1))).scalar().cast("double")
    ranks = nodes.select(
        "node", F.round(F.lit(1.0) / n, round_to).cast(dec).alias("r")
    )
    base = nodes.select("node", (F.lit(_teleport(damping)) / n).alias("__tele"))
    return _rank_rounds(e, base, ranks, iters, damping, round_to)


def _teleport(damping: float) -> float:
    # 1.0 - 0.85 is the double 0.15000000000000002 — one ulp above the
    # 0.15 literal an unrolled SQL oracle writes; re-round so both
    # engines feed the identical teleport constant into the rank grid
    # (round-6 review fix)
    return round(1.0 - damping, 12)


def _rank_rounds(
    e: DataFrame,
    base: DataFrame,
    ranks: DataFrame,
    iters: int,
    damping: float,
    round_to: int,
) -> DataFrame:
    """``iters`` damped rank rounds over the edge set ``e(a, b)`` from
    the start ``ranks(node, r)`` → ``(node, rank)``. ``base`` holds
    every node once with its teleport share ``__tele``.

    A round is ONE aggregate: each edge's contribution r(a)/deg(a)
    (rounded to ``round_to + 4``, summed as DECIMAL) plus one zero row
    per node from ``base``, grouped by node. That is the oracle's
    ``nodes LEFT JOIN contributions`` without the join: a node with no
    in-edge sums to the same 0 as the join miss's coalesce(NULL, 0),
    and the decimal sum is exact in any order.

    Sparse frontier (round 12): zero-rank sources are dropped before
    the edge join. A zero rank contributes round(0/deg) = 0 to the
    inflow sum, so this is bit-exact, while a personalized rank whose
    mass starts on a few seeds joins only its reachable frontier for
    the first hops — the "accounts near these flagged ones" shape at
    scale (measured flat at sf0.1, whose graph saturates within ~2
    hops). The round's Columns are built once, before the loop."""
    cdec = f"decimal(28,{round_to + 4})"
    dec = f"decimal(28,{round_to})"
    deg = e.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    base = base.select("node", F.lit(0).cast(cdec).alias("c"), "__tele")
    live = F.col("r") != 0
    src_rank = [F.col("node").alias("a"), "r"]
    contrib = [
        F.col("b").alias("node"),
        F.round(
            F.col("r").cast("double") / F.col("deg").cast("double"),
            round_to + 4,
        )
        .cast(cdec)
        .alias("c"),
        F.lit(0.0).alias("__tele"),
    ]
    sums = [F.sum("c").alias("inflow"), F.max("__tele").alias("__tele")]
    rank = (
        F.round(
            F.col("__tele") + F.lit(damping) * F.col("inflow").cast("double"),
            round_to,
        )
        .cast(dec)
        .alias("r")
    )
    for _ in range(iters):
        ranks = (
            e.join(ranks.filter(live).select(*src_rank), "a")
            .join(deg, "a")
            .select(*contrib)
            .unionByName(base)
            .groupBy("node")
            .agg(*sums)
            .select("node", rank)
        )
    return ranks.select("node", F.col("r").cast("double").alias("rank"))


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph
    (the classic cohesion / community-structure statistic; beyond-
    reference surface like the other graph operators here).

    Input edges may be directed, duplicated, or contain self-loops —
    they are canonicalized to a distinct undirected edge set first.

    Scale design (100 TB of edges): the naive ``a<b<c`` three-way
    self-join is quadratic in the max degree (a hub with d neighbors
    drives d² wedge rows through the shuffle). Instead each undirected
    edge is ORIENTED from its lower-(degree, id) endpoint to the
    higher one; every node's oriented out-degree is then O(sqrt(m)),
    wedges are enumerated only from oriented adjacency (Σ out_deg² ≤
    m^1.5 rows total — the optimal bound for triangle listing), and a
    wedge closes iff its (y, z) pair is itself an oriented edge: one
    more equi-join. Each triangle is found exactly once. All joins are
    plain shuffles on node keys; nothing collects.
    """
    # und feeds the degree count (twice, via the endpoint union), the
    # orientation join, and the closing-edge semi-join; oriented feeds
    # both wedge legs and the closing set — unpersisted, the whole
    # upstream edge-construction lineage re-evaluates ~5x per run
    # (measured 2.6 s -> the persist cuts the event-scan fan-out)
    und = persisted(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    # degree of every endpoint, then orient low → high on (deg, id)
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = persisted(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("x"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("y"),
        )
    )
    # wedges x→y, x→z with y < z (each unordered wedge once), closed by
    # an oriented edge between y and z in EITHER orientation
    e1 = oriented.select(F.col("x"), F.col("y"))
    e2 = oriented.select(F.col("x"), F.col("y").alias("z"))
    wedges = e1.join(e2, "x").filter(F.col("y") < F.col("z"))
    closing = oriented.select(
        F.least("x", "y").alias("y"), F.greatest("x", "y").alias("z")
    )
    tris = wedges.join(closing, ["y", "z"], "left_semi")
    return (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def kcore(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 3,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round k-core peel → ``(node, deg)`` for the nodes that
    still carry edges after ``rounds`` iterations of "drop every node
    with degree < k, then drop its edges". The k-core is the standard
    density filter over interaction graphs (spam rings, dense
    communities, robust co-occurrence sets); the peel is the textbook
    distributed algorithm — no per-node ordering, just degree counts.

    Like ``pagerank``, the round count is FIXED (not convergence-
    probed) so a DuckDB oracle can unroll exactly the same number of
    peels and hash-match the survivors; convergence at fixture scale
    is pytest-checked by peeling once more and asserting a fixpoint
    (tests/test_graph_extra.py).

    Scale shape: input is canonicalized to a distinct undirected edge
    set once (same as ``triangle_counts``); each round is one degree
    aggregate (shuffle on node) + two semi-joins filtering the
    symmetric edge list (shuffles on each endpoint) — per-round cost
    is O(|edges alive|); each round's edge set is persisted lazily
    (see the note below)."""
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .dropDuplicates(["a", "b"])
    )
    # Fixed-round peel as ONE lazy job (round 12): every round's edge
    # set is persisted LAZILY — each round references its predecessor
    # three times (degree aggregate + two semi-joins), so the cache is
    # what keeps the recomputation tree linear, but materializing it
    # eagerly per round (the old localCheckpoint) paid ``rounds`` extra
    # actions and blocked AQE across the peel. The final action
    # populates each round's cache on first use; ``INTERMEDIATES``
    # (rounds+1 ≤ 8 entries) evicts leftovers across queries.
    sym = persisted(
        und.unionAll(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
    )
    for _ in range(rounds):
        alive = (
            sym.groupBy("a")
            .agg(F.count(F.lit(1)).alias("__d"))
            .filter(F.col("__d") >= k)
            .select("a")
        )
        sym = persisted(
            sym.join(alive, "a", "left_semi").join(
                alive.withColumnRenamed("a", "b"), "b", "left_semi"
            )
        )
    return sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg")).select(
        F.col("a").alias("node"), "deg"
    )


def bfs_depths(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 6,
    node_col: str = "node",
) -> DataFrame:
    """Multi-source BFS: ``(node, depth)`` with the MINIMUM hop count
    from any seed node, depth capped at ``max_depth``. The
    distance-labeling primitive behind "within k hops of a flagged
    account" expansion, influence radii, and seed-set crawl scheduling.

    Scale shape (100 TB of edges): unlike ``transitive_closure`` the
    state is one row per VISITED NODE, never reachability pairs. A
    level is ONE aggregate, ``state ⋈ e'`` grouped by node taking
    ``min(depth + w)``: ``e'`` is the edge set with ``w = 1`` plus one
    ``w = 0`` self row for every node a level can hold (edge targets
    and seeds), so a visited node keeps its depth and a seed with no
    edges keeps depth 0. Each level reads the previous state once, so
    the result is one lazy plan of ``max_depth`` levels and building it
    starts no Spark job. The price is that every level rescans the
    visited set, not only the newest frontier."""
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("to")).filter(
        F.col("node").isNotNull() & F.col("to").isNotNull()
    )
    state = (
        seeds.select(F.col(node_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).alias("depth"))
    )
    nodes = e.select(F.col("to").alias("node")).union(state.select("node")).distinct()
    e = e.select("node", "to", F.lit(1).alias("w")).unionByName(
        nodes.select("node", F.col("node").alias("to"), F.lit(0).alias("w"))
    )
    for _ in range(max_depth):
        state = (
            state.join(e, "node")
            .groupBy(F.col("to").alias("node"))
            .agg(F.min(F.col("depth") + F.col("w")).alias("depth"))
        )
    return state


def bipartite_cooccurrence(
    df: DataFrame,
    user_col: str,
    item_col: str,
    min_common: int = 2,
    max_items_per_user: int | None = None,
) -> DataFrame:
    """Item-item co-occurrence projection of a user↔item bipartite
    graph: for every item pair sharing ≥ ``min_common`` users, the
    co-user count and its cosine normalization
    ``n_common / sqrt(deg_a · deg_b)`` — the classic item-similarity
    prep for co-view/co-purchase features and retrieval negatives.

    Scale shape (100 TB of interactions): the projection self-joins
    the DISTINCT (user, item) relation on the user key, so a power
    user with d items emits d² pairs — ``max_items_per_user`` drops
    those users via an anti-join against the (few, by definition)
    heavy keys before the join, bounding any key's fan-out at cap²
    (the max_doc_freq discipline of the shingle joins). Degrees are
    computed from the UNCAPPED relation, so cosine denominators stay
    exact; the join payload is two item ids, never attributes.
    Determinism: cosine = exact-integer count / sqrt(exact-integer
    product) — two correctly-rounded IEEE ops, engine-identical."""
    ui = (
        df.select(F.col(user_col).alias("u"), F.col(item_col).alias("i"))
        .filter(F.col("u").isNotNull() & F.col("i").isNotNull())
        .dropDuplicates(["u", "i"])
    )
    # Eager pin kept (round 12): the lazy-persist variant was A/B'd —
    # 1.88 s vs 1.45 s at sf0.1 — the pinned LogicalRDD lets AQE plan
    # both consumers (deg, per-user stage) against known sizes, which
    # beats saving the pin's materializing action here.
    ui = pin(ui, truncate=True)
    deg = ui.groupBy("i").agg(F.count(F.lit(1)).alias("deg"))
    # One u-keyed exchange serves the whole per-user stage (round 12):
    # the power-user cap is a whole-partition window count (no lists
    # materialized for the users it drops, so a monster key costs O(d)
    # state, never O(d) payload), the survivors' item lists are
    # collected by a groupBy("u") that REUSES the window's
    # hashpartitioning(u) (ClusteredDistribution(u) is already
    # satisfied — no second exchange), and the i<j pairs are generated
    # map-side by a double explode over the ≤cap-item array. The old
    # shape paid three u-exchanges of the full relation (heavy-user
    # aggregate, anti-join, self-join legs) plus the join's hash-table
    # build to emit the same pair multiset; per-pair rows now exist
    # only in the generator feeding the partial aggregate.
    joinable = ui
    if max_items_per_user is not None:
        from pyspark.sql.window import Window

        wd = Window.partitionBy("u")
        joinable = (
            ui.withColumn("__d", F.count(F.lit(1)).over(wd))
            .filter(F.col("__d") <= max_items_per_user)
            .drop("__d")
        )
    lists = joinable.groupBy("u").agg(F.collect_list("i").alias("__items"))
    pairs = (
        lists.select(F.explode("__items").alias("item_a"), "__items")
        .select("item_a", F.explode("__items").alias("item_b"))
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    out = (
        pairs.join(
            deg.select(F.col("i").alias("item_a"), F.col("deg").alias("deg_a")),
            "item_a",
        )
        .join(
            deg.select(F.col("i").alias("item_b"), F.col("deg").alias("deg_b")),
            "item_b",
        )
    )
    cos = F.col("n_common").cast("double") / F.sqrt(
        (F.col("deg_a") * F.col("deg_b")).cast("double")
    )
    return out.select(
        "item_a", "item_b", "n_common", "deg_a", "deg_b", cos.alias("cosine")
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    damping: float = 0.85,
    round_to: int = 10,
    node_col: str = "node",
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank: the teleport mass lands
    only on the ``seeds`` set (uniformly), so ranks measure proximity
    to the seeds rather than global importance — the standard
    seed-expansion scorer (related-item discovery, trust propagation,
    "accounts near these flagged ones"). Dangling mass is not
    redistributed, matching ``pagerank``'s leaked variant.

    Same determinism discipline as ``pagerank`` (per-edge
    contributions rounded to ``round_to + 4`` and summed as DECIMAL,
    ranks re-rounded to ``round_to``; separated grids), and the seed
    teleport is ONE double division ``(1-d)/|S|`` written identically
    in the oracle, so the unrolled DuckDB SQL hash-matches. Same
    one-aggregate rounds and one lazy plan as ``pagerank``; the
    per-node seed flag comes from one left join against the seed set
    and ``|S|`` is a scalar subquery."""
    dec = f"decimal(28,{round_to})"
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a").isNotNull() & F.col("b").isNotNull()
    )
    s = seeds.select(F.col(node_col).alias("node")).dropDuplicates(["node"])
    ns = s.agg(F.count(F.lit(1))).scalar().cast("double")
    flagged = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .union(s)
        .distinct()
        .join(s.select("node", F.lit(True).alias("__seed")), "node", "left")
    )
    seed = F.col("__seed").isNotNull()
    ranks = flagged.select(
        "node",
        F.round(F.when(seed, F.lit(1.0) / ns).otherwise(F.lit(0.0)), round_to)
        .cast(dec)
        .alias("r"),
    )
    base = flagged.select(
        "node",
        F.when(seed, F.lit(_teleport(damping)) / ns)
        .otherwise(F.lit(0.0))
        .alias("__tele"),
    )
    return _rank_rounds(e, base, ranks, iters, damping, round_to)


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round synchronous label propagation → ``(node, label)``
    community assignments: every node starts as its own label; each
    round it adopts the label held by the PLURALITY of its neighbors,
    ties broken by minimum label — fully deterministic, so the same
    rounds unroll in a DuckDB oracle and hash-match. Communities are
    the classic unsupervised grouping over interaction graphs
    (near-dup families, user cliques, topic clusters) when components
    are too coarse (one giant blob) and modularity solvers are too
    order-sensitive to reproduce across engines.

    Scale shape: same canonical distinct undirected edge set as
    ``kcore``/``triangle_counts``, symmetrized once and pinned; each
    round is one join (neighbor labels, shuffle on node id), one
    (node, label) count aggregate, and one per-node argmax window —
    O(|edges|) per round, no per-node adjacency list materialization,
    lineage pinned per round so the plan does not grow."""
    from pyspark.sql.window import Window

    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(
            F.col("a").isNotNull()
            & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .dropDuplicates(["a", "b"])
    )
    # Fixed-round recurrence as ONE lazy job (round 12) — same
    # rationale as ``pagerank``/``kcore``: each round's label frame is
    # consumed exactly once by the next round, so no pinning is needed
    # at all; the symmetrized edge set (one consumer per round)
    # persists lazily. No per-round eager checkpoint actions.
    sym = persisted(
        und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("a").orderBy(F.col("__c").desc(), F.col("label"))
    for _ in range(rounds):
        nb = sym.join(labels, sym["b"] == labels["node"]).select(
            sym["a"], labels["label"]
        )
        cnt = nb.groupBy("a", "label").agg(F.count(F.lit(1)).alias("__c"))
        labels = (
            cnt.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(F.col("a").alias("node"), "label")
        )
    return labels

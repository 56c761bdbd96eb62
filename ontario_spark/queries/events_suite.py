"""Temporal-join and semi-structured queries over the ``events`` table:
as-of join (point-in-time-correct feature alignment), bounded range
join (bucketed, never a nested loop), and JSON property extraction.

Beyond-reference scope (SURVEY.md §2.5). Oracles: DuckDB 1.0 has native
``ASOF LEFT JOIN`` with the same inclusive-backward semantics as
``asof_join(direction="backward")``, so the as-of entry is checked
against the real thing rather than a window re-derivation; the range
join oracles against a plain inequality join (DuckDB plans an IEJoin —
fine at oracle scale; the Spark side deliberately does NOT use the
inequality-join formulation because Spark would plan it as a
broadcast-nested-loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontario_spark.data import local_frame, table
from ontario_spark.operators.asof import (
    asof_join,
    range_join,
    scd2_from_changelog,
    ts_micros,
)

FIVE_MIN_US = 5 * 60 * 1_000_000


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every click annotated with the user's most recent prior (or
    simultaneous) purchase: purchase value + age of that purchase in
    microseconds. Clicks with no prior purchase keep NULLs."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    out = asof_join(clicks, purchases, on="user_id")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("r_value").alias("purchase_value"),
        (ts_micros(F.col("ts")) - ts_micros(F.col("r_ts"))).alias(
            "purchase_age_us"
        ),
    )


EVENTS_ASOF_SQL = """
SELECT c.event_id, c.user_id, c.ts,
       p.value AS purchase_value,
       date_diff('microsecond', p.ts, c.ts) AS purchase_age_us
FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN
     (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
ON c.user_id = p.user_id AND c.ts >= p.ts
"""


def events_range_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How often does event type B follow event type A for the same
    user within 5 minutes? Bucketed range self-join, then a pair-type
    rollup (value sums decimal-exact for the cross-engine hash)."""
    ev = table(spark, sf_dir, "events")
    a = ev.select("user_id", "ts", "event_type", "value")
    b = ev.select("user_id", "ts", "event_type", "event_id")
    pairs = range_join(
        a, b, on="user_id", lower_micros=0, upper_micros=FIVE_MIN_US
    )
    return (
        pairs.groupBy(
            F.col("event_type").alias("type_a"),
            F.col("r_event_type").alias("type_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("sum_a_value"),
        )
        .orderBy("type_a", "type_b")
    )


EVENTS_RANGE_SQL = """
SELECT a.event_type AS type_a, b.event_type AS type_b,
       COUNT(*) AS n_pairs,
       CAST(SUM(CAST(a.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_a_value
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 5 MINUTE
GROUP BY 1, 2
ORDER BY 1, 2
"""


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type stats over the JSON ``props`` payload: the extraction
    runs JVM-side (``get_json_object``), the mean derives from an exact
    integer sum so the double is cross-engine deterministic."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(k) AS n_with_k,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k
FROM (SELECT event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events)
GROUP BY event_type
ORDER BY event_type
"""


def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history of each user's event-type state: consecutive
    same-type events collapse into one episode with
    [valid_from, valid_to) bounds and a current flag — the changelog →
    versioned-dimension build (one key shuffle, two window passes)."""
    ev = table(spark, sf_dir, "events")
    return scd2_from_changelog(
        ev, key="user_id", ts_col="ts", attr_cols=["event_type"]
    )


EVENTS_SCD2_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), changes AS (
  SELECT user_id, ts, event_type FROM ordered
  WHERE prev IS DISTINCT FROM event_type
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
FROM changes
"""


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-event-type value quantiles (round 6): p50/p90/p99 by
    explicit rank selection — rank r_p = floor(p·(n-1)) + 1 over the
    value ordering — so BOTH engines pick a set MEMBER (no
    interpolation arithmetic whose float evaluation order could
    drift). One shuffle on event_type; at lake scale the same shape
    runs per partition-pruned day."""
    from pyspark.sql.window import Window

    # NULL values are excluded BEFORE ranking: Spark windows default
    # NULLS FIRST, DuckDB NULLS LAST, so a single NULL would shift
    # every rank differently per engine (round-6 review fix; quantiles
    # over the non-null population is also the standard semantics)
    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )

    def pick(p: float, name: str):
        r = F.floor(F.lit(p) * (F.col("n") - 1)).cast("long") + 1
        return F.min(F.when(F.col("rn") == r, F.col("value"))).alias(name)

    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            pick(0.5, "p50"),
            pick(0.9, "p90"),
            pick(0.99, "p99"),
        )
        .orderBy("event_type")
    )


EVENTS_QUANTILES_SQL = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
       MIN(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
                THEN value END) AS p50,
       MIN(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
                THEN value END) AS p90,
       MIN(CASE WHEN rn = CAST(floor(0.99 * (n - 1)) AS BIGINT) + 1
                THEN value END) AS p99
FROM ranked
GROUP BY event_type
ORDER BY event_type
"""


def events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the user→item interaction graph (round 6): nodes
    are 'u<user_id>' and 'k<props.k>', 5 damped iterations with
    per-step DECIMAL rounding — rank values are engine-exact, so the
    unrolled-iteration DuckDB oracle hash-matches them."""
    from ontario_spark.operators.graph import pagerank

    ev = table(spark, sf_dir, "events")
    edges = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(
            F.lit("k"), F.get_json_object(F.col("props"), "$.k")
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    return pagerank(edges, "src", "dst", iters=5, damping=0.85)


def _pagerank_sql(iters: int = 5) -> str:
    prev = "r0"
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""r{i} AS (
  SELECT nodes.node,
         CAST(ROUND(0.15 / (SELECT n FROM nn)
           + 0.85 * CAST(COALESCE(SUM(c.c), 0) AS DOUBLE), 10)
           AS DECIMAL(28,10)) AS r
  FROM nodes LEFT JOIN (
    SELECT e.dst,
           CAST(ROUND(CAST(r.r AS DOUBLE) / deg.deg, 14)
             AS DECIMAL(28,14)) AS c
    FROM edges e JOIN {prev} r ON r.node = e.src JOIN deg ON deg.src = e.src
  ) c ON c.dst = nodes.node
  GROUP BY nodes.node
)""")
        prev = f"r{i}"
    chain = ", ".join(steps)
    return f"""
WITH edges AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
         'k' || json_extract_string(props, '$.k') AS dst
  FROM events
  WHERE user_id IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
  UNION SELECT DISTINCT dst FROM edges
), nn AS (SELECT COUNT(*) AS n FROM nodes),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (
  SELECT node,
         CAST(ROUND(1.0 / (SELECT n FROM nn), 10) AS DECIMAL(28,10)) AS r
  FROM nodes
), {chain}
SELECT node, CAST(r AS DOUBLE) AS rank FROM {prev}
"""


EVENTS_PAGERANK_SQL = _pagerank_sql(5)


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel (round 6): per user the earliest
    signup, the earliest click strictly after it, the earliest
    purchase strictly after that — then users-per-stage. The classic
    ordered-sequence analytics shape: three conditional min-aggregates
    cascaded by per-user joins (each a key shuffle on user_id, no
    windows over the full event stream needed)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    t1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    # stay LAZY and distributed (no driver-side count() at build):
    # union the stage memberships under literal labels, roll up, and
    # left-join a literal stage list so an empty stage reports 0
    stages = (
        t1.select(F.lit("1_signup").alias("stage"))
        .union(t2.select(F.lit("2_click_after_signup").alias("stage")))
        .union(t3.select(F.lit("3_purchase_after_click").alias("stage")))
    )
    counts = stages.groupBy("stage").agg(
        F.count(F.lit(1)).alias("__n")
    )
    base = local_frame(
        spark,
        [("1_signup",), ("2_click_after_signup",),
         ("3_purchase_after_click",)],
        "stage string",
    )
    return base.join(counts, "stage", "left").select(
        "stage", F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_users")
    )


EVENTS_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN t1 ON t1.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.ts > t1.t1
  GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN t2 ON t2.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > t2.t2
  GROUP BY e.user_id
)
SELECT '1_signup' AS stage, CAST((SELECT COUNT(*) FROM t1) AS BIGINT) AS n_users
UNION ALL
SELECT '2_click_after_signup', CAST((SELECT COUNT(*) FROM t2) AS BIGINT)
UNION ALL
SELECT '3_purchase_after_click', CAST((SELECT COUNT(*) FROM t3) AS BIGINT)
"""


def events_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement features: per user, the
    exponentially time-decayed event count and value sum (half-life
    7 days against a FIXED anchor instant — never now(), so the
    feature is reproducible). The standard freshness feature for
    ranking/credit models.

    Determinism: ages derive from TZ-less whole-second epochs (the
    retention-cohort discipline); each per-event weight
    ``exp(-λ·age)`` is cast to DECIMAL(28,13) and summed exactly —
    order-independent — then rounded once at 9 decimals. The grids are
    FOUR orders apart (the pagerank discipline): with less separation
    a sum landing exactly on a 9th-decimal half-boundary gets
    tie-broken differently by Spark (HALF_UP on the shortest repr)
    and DuckDB (binary-double rounding) — observed as a 1e-9 flip on
    one sf0.01 row at scale 12. Scale shape: map-only weight computation + ONE
    user-keyed hash aggregate."""
    import math

    lam = math.log(2.0) / (7 * 86400)  # half-life: 7 days, in seconds
    anchor = 1706745600  # 2024-02-01 00:00:00 UTC, after the fixture range
    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    secs = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
        * F.lit(86400)
        + F.hour("ts") * F.lit(3600)
        + F.minute("ts") * F.lit(60)
        + F.second("ts")
    )
    age = (F.lit(anchor) - secs).cast("double")
    w = F.exp(F.lit(-lam) * age)
    return (
        ev.select(
            "user_id",
            w.cast("decimal(28,13)").alias("__w"),
            (F.coalesce(F.col("value"), F.lit(0.0)) * w)
            .cast("decimal(28,13)")
            .alias("__wv"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("__w").cast("double"), 9).alias("decayed_count"),
            F.round(F.sum("__wv").cast("double"), 9).alias("decayed_value"),
        )
    )


def _decayed_sql() -> str:
    import math

    lam = math.log(2.0) / (7 * 86400)
    return f"""
WITH aged AS (
  SELECT user_id, value,
         CAST(1706745600 - floor(epoch(ts)) AS DOUBLE) AS age
  FROM events WHERE user_id IS NOT NULL
)
SELECT user_id, COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(exp({-lam!r} * age) AS DECIMAL(28,13)))
             AS DOUBLE), 9) AS decayed_count,
       ROUND(CAST(SUM(CAST(COALESCE(value, 0.0) * exp({-lam!r} * age)
             AS DECIMAL(28,13))) AS DOUBLE), 9) AS decayed_value
FROM aged GROUP BY user_id
"""


EVENTS_DECAYED_SQL = _decayed_sql()


def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality anomaly scan: events whose value sits ≥3 standard
    deviations from their type's mean. The two moments are exact
    DECIMAL(28,12) sums (order-independent), so mean/std/z are fixed
    expressions over exact aggregates — engine-identical; z is rounded
    before thresholding so the flagged set is deterministic. One
    bounded per-type aggregate broadcast back onto the scan."""
    dec = "decimal(28,12)"
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("value").cast(dec)).alias("__s"),
        F.sum((F.col("value") * F.col("value")).cast(dec)).alias("__sq"),
    )
    j = ev.join(F.broadcast(stats), "event_type")
    n = F.col("__n").cast("double")
    mean = F.col("__s").cast("double") / n
    var = F.greatest(
        F.col("__sq").cast("double") / n - mean * mean, F.lit(0.0)
    )
    z = F.round((F.col("value") - mean) / F.sqrt(var), 6)
    return (
        j.select("event_id", "event_type", "value", z.alias("z"))
        .filter(F.abs(F.col("z")) >= 3.0)
    )


EVENTS_ANOMALY_SQL = """
WITH v AS (
  SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL
), st AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(CAST(value AS DECIMAL(28,12))) AS s,
         SUM(CAST(value * value AS DECIMAL(28,12))) AS sq
  FROM v GROUP BY event_type
), scored AS (
  SELECT v.event_id, v.event_type, v.value,
         ROUND((v.value - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
               / sqrt(GREATEST(
                   CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
                   - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                     * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)),
                   0.0)), 6) AS z
  FROM v JOIN st USING (event_type)
)
SELECT event_id, event_type, value, z FROM scored WHERE ABS(z) >= 3.0
"""


def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency discretization (feature binning): NTILE(10)
    bucket edges + counts of the value distribution per event type,
    with a unique (value, event_id) ordering so bucket assignment is
    engine-deterministic. One window pass + one bounded aggregate."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(10).over(w).alias("decile"))
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


EVENTS_DECILES_SQL = """
WITH t AS (
  SELECT event_type, value,
         NTILE(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS decile
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, decile, COUNT(*) AS n, MIN(value) AS lo, MAX(value) AS hi
FROM t GROUP BY event_type, decile
"""


def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (round 6): users grouped by first-seen
    week, activity counted per (cohort_week, weeks_since) — the
    retention-matrix shape. Two aggregations: first-seen per user
    (shuffle on user_id), then the matrix rollup (shuffle on the
    cohort pair); date bucketing stays in whole-stage codegen."""
    ev = table(spark, sf_dir, "events").select("user_id", "ts")
    # TZ-LESS week bucketing: unix_timestamp interprets the NTZ wall
    # time in the session zone (DST-dependent shift), while the
    # oracle's epoch(ts) is timezone-less — derive epoch seconds from
    # wall-clock date + time parts instead, which is TZ-invariant on
    # both engines (round-6 review fix; sub-second parts cannot move
    # the floor across an integer week boundary)
    secs = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
        * F.lit(86400)
        + F.hour("ts") * F.lit(3600)
        + F.minute("ts") * F.lit(60)
        + F.second("ts")
    )
    wk = F.floor(secs / F.lit(604800)).cast("long")
    first = (
        ev.select("user_id", wk.alias("w"))
        .groupBy("user_id")
        .agg(F.min("w").alias("cohort_w"))
    )
    return (
        ev.select("user_id", wk.alias("w"))
        .join(first, "user_id")
        .groupBy("cohort_w", (F.col("w") - F.col("cohort_w")).alias("weeks_since"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.col("cohort_w").cast("long"),
            F.col("weeks_since").cast("long"),
            F.col("n_users").cast("long"),
        )
    )


EVENTS_RETENTION_SQL = """
WITH wks AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 604800) AS BIGINT) AS w
  FROM events
), first AS (
  SELECT user_id, MIN(w) AS cohort_w FROM wks GROUP BY user_id
)
SELECT f.cohort_w, wks.w - f.cohort_w AS weeks_since,
       CAST(COUNT(DISTINCT wks.user_id) AS BIGINT) AS n_users
FROM wks JOIN first f ON f.user_id = wks.user_id
GROUP BY f.cohort_w, wks.w - f.cohort_w
"""


def events_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item triangle counts over the co-interaction graph: item
    keys (``props.$.k``) are linked when the same user touched both.
    The projection runs through the BOUNDED side of the bipartite
    graph — items-per-user is capped (≤ 80; the generator holds it
    ~constant as users scale), so per-user pair fan-out is O(cap²)
    at ANY corpus size, where the user-per-item side grows with the
    corpus and would blow up a user-projected graph (measured: its
    item degrees grow 13 → 795 from sf0.001 → sf0.1, leaving a
    degree-capped user graph with ZERO triangles past sf0.001).
    Triangle listing is the degree-oriented wedge join
    (operators/graph.py::triangle_counts), O(m^1.5)."""
    from ontario_spark.operators.graph import triangle_counts

    ev = table(spark, sf_dir, "events")
    ui = (
        ev.select(
            "user_id", F.get_json_object("props", "$.k").alias("k")
        )
        .filter(F.col("user_id").isNotNull() & F.col("k").isNotNull())
        .distinct()
    )
    ok = ui.groupBy("user_id").agg(F.count(F.lit(1)).alias("__d")).filter(
        F.col("__d") <= 80
    ).select("user_id")
    a = ui.select(F.col("user_id"), F.col("k").alias("ka"))
    b = ui.select(F.col("user_id").alias("ub"), F.col("k").alias("kb"))
    pairs = (
        a.join(ok, "user_id", "left_semi")
        .join(b, (F.col("user_id") == F.col("ub")) & (F.col("ka") < F.col("kb")))
        .select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
    )
    # no dropDuplicates here: triangle_counts canonicalizes + dedups
    # the edge set itself; doing it twice shuffles the full edge list
    # for nothing (review finding, round 9)
    return triangle_counts(pairs, "src", "dst")


EVENTS_TRIANGLES_SQL = """
WITH ui AS (
  SELECT DISTINCT user_id, json_extract_string(props, '$.k') AS k
  FROM events
  WHERE user_id IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
), ok AS (
  SELECT user_id FROM ui GROUP BY user_id HAVING COUNT(*) <= 80
), e AS (
  SELECT DISTINCT a.k AS a, b.k AS b
  FROM ui a JOIN ok USING (user_id) JOIN ui b
    ON a.user_id = b.user_id AND a.k < b.k
), tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
), nodes AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, COUNT(*) AS n_triangles FROM nodes GROUP BY node
"""


def events_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the item co-interaction graph (round 10): repeatedly
    peel items linked to fewer than 3 other items until only the
    dense co-occurrence core survives — the graph-density filter a
    curation pipeline uses to find robustly connected entities. Same
    bounded-side bipartite projection as ``events_triangles``; fixed
    3-round peel so the DuckDB oracle unrolls identically
    (operators/graph.py::kcore)."""
    from ontario_spark.operators.graph import kcore

    ev = table(spark, sf_dir, "events")
    ui = (
        ev.select(
            "user_id", F.get_json_object("props", "$.k").alias("k")
        )
        .filter(F.col("user_id").isNotNull() & F.col("k").isNotNull())
        .distinct()
    )
    ok = ui.groupBy("user_id").agg(F.count(F.lit(1)).alias("__d")).filter(
        F.col("__d") <= 80
    ).select("user_id")
    a = ui.select(F.col("user_id"), F.col("k").alias("ka"))
    b = ui.select(F.col("user_id").alias("ub"), F.col("k").alias("kb"))
    pairs = (
        a.join(ok, "user_id", "left_semi")
        .join(b, (F.col("user_id") == F.col("ub")) & (F.col("ka") < F.col("kb")))
        .select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
    )
    return kcore(pairs, "src", "dst", k=3, rounds=3)


def _kcore_sql(k: int = 3, rounds: int = 3) -> str:
    prev = "s0"
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""a{i} AS (
  SELECT a FROM {prev} GROUP BY a HAVING COUNT(*) >= {k}
), s{i} AS (
  SELECT e.a, e.b FROM {prev} e
  JOIN a{i} x ON x.a = e.a JOIN a{i} y ON y.a = e.b
)""")
        prev = f"s{i}"
    chain = ", ".join(steps)
    return f"""
WITH ui AS (
  SELECT DISTINCT user_id, json_extract_string(props, '$.k') AS k
  FROM events
  WHERE user_id IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
), ok AS (
  SELECT user_id FROM ui GROUP BY user_id HAVING COUNT(*) <= 80
), e AS (
  SELECT DISTINCT a.k AS a, b.k AS b
  FROM ui a JOIN ok USING (user_id) JOIN ui b
    ON a.user_id = b.user_id AND a.k < b.k
), s0 AS (
  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
), {chain}
SELECT a AS node, COUNT(*) AS deg FROM {prev} GROUP BY a
"""


EVENTS_KCORE_SQL = _kcore_sql(3, 3)


def sketch_countmin_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Count-Min frequency sketch (round 10): per-day 4×256
    counter grids over the event item keys, merged by cell-wise sum,
    probed with the 8 lowest keys — estimates and the ≥-exact
    guarantee are integer-exact, so the DuckDB oracle hash-matches
    them (operators/sketches.py::countmin_rollup)."""
    from ontario_spark.operators.sketches import countmin_rollup

    ev = table(spark, sf_dir, "events")
    keyed = ev.select(
        F.get_json_object("props", "$.k").alias("k"), "ts"
    ).filter(F.col("k").isNotNull())
    probes = keyed.select("k").distinct().orderBy("k").limit(8)
    return countmin_rollup(keyed, "k", "ts", probes, depth=4, width=256)


SKETCH_COUNTMIN_SQL = """
WITH keyed AS (
  SELECT json_extract_string(props, '$.k') AS k, CAST(ts AS DATE) AS day
  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL
), dk AS (
  SELECT day, k, COUNT(*) AS cnt FROM keyed GROUP BY day, k
), cells AS (
  SELECT j, bucket, SUM(cell) AS cell FROM (
    SELECT day, j, bucket, SUM(cnt) AS cell FROM (
      SELECT day, cnt, j,
             ('0x' || substr(md5('cm' || CAST(j AS VARCHAR) || '|' || k),
                             1, 15))::BIGINT % 256 AS bucket
      FROM dk CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
    ) GROUP BY day, j, bucket
  ) GROUP BY j, bucket
), probes AS (
  SELECT DISTINCT k FROM keyed ORDER BY k LIMIT 8
), pr AS (
  SELECT k, j,
         ('0x' || substr(md5('cm' || CAST(j AS VARCHAR) || '|' || k),
                         1, 15))::BIGINT % 256 AS bucket
  FROM probes CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS j)
), est AS (
  SELECT k, MIN(cell) AS cm_estimate
  FROM pr JOIN cells USING (j, bucket) GROUP BY k
), exact AS (
  SELECT keyed.k, COUNT(*) AS exact_count
  FROM keyed JOIN probes ON probes.k = keyed.k GROUP BY keyed.k
)
SELECT exact.k, CAST(exact_count AS BIGINT) AS exact_count,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       (cm_estimate >= exact_count) AS never_undercounts
FROM exact JOIN est ON est.k = exact.k
"""


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization — the batch twin of
    ``stream_user_sessions``: a new session starts when a user's
    inter-event gap exceeds 30 minutes; one output row per session
    with its span and event count. Two window passes over ONE
    user-keyed shuffle (lag for the gap flag, running sum for the
    session index) and a final per-session aggregate — the standard
    sessionization shape at any scale (the shuffle key is user_id;
    sessions never cross keys)."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    # TZ-invariant whole-second epoch from wall-clock parts (the
    # retention-cohort idiom): NTZ timestamps cannot cast to long, and
    # unix_timestamp would shift with the session zone
    secs = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
        * F.lit(86400)
        + F.hour("ts") * F.lit(3600)
        + F.minute("ts") * F.lit(60)
        + F.second("ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_flag = (
        F.col("__secs") - F.lag("__secs").over(w) > 1800
    ).cast("int")
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        secs.alias("__secs"),
    ).select(
        "user_id",
        "ts",
        "event_id",
        "__secs",
        F.coalesce(gap_flag, F.lit(0)).alias("__new"),
    ).withColumn(
        "session_idx",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.max("__secs") - F.min("__secs")).alias("duration_s"),
    )


def events_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user features (round 11): for every event,
    the count and exact value sum of the same user's events in the
    preceding hour (inclusive) — a RANGE (value-based) frame over
    whole-second epochs, so events sharing a timestamp are frame PEERS
    in both engines; a ROWS frame would be arrival-order-
    nondeterministic under duplicate timestamps. The point-in-time
    trailing-feature shape feature stores serve, as one user-keyed
    window pass (interval frames need no self-join)."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    secs = (
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long")
        * F.lit(86400)
        + F.hour("ts") * F.lit(3600)
        + F.minute("ts") * F.lit(60)
        + F.second("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__secs")
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id", "user_id", secs.alias("__secs"), "value"
    ).select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_trailing_1h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("value_trailing_1h"),
    )


EVENTS_TRAILING_WINDOW_SQL = """
SELECT event_id, user_id,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_1h,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
         AS value_trailing_1h
FROM (SELECT event_id, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS secs, value
      FROM events WHERE user_id IS NOT NULL)
WINDOW w AS (PARTITION BY user_id ORDER BY secs
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
"""


EVENTS_SESSIONS_SQL = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                    - lag(CAST(floor(epoch(ts)) AS BIGINT))
                OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_flag
  FROM events WHERE user_id IS NOT NULL
), s AS (
  SELECT user_id, ts, event_id,
         SUM(new_flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(floor(epoch(MAX(ts))) AS BIGINT)
         - CAST(floor(epoch(MIN(ts))) AS BIGINT) AS duration_s
FROM s GROUP BY user_id, session_idx
"""


def events_bfs_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier BFS: minimum hop count from three seed users over the
    UNDIRECTED user↔item interaction graph (same node naming as
    events_pagerank — 'u<user_id>' / 'k<props.k>'), depth ≤ 4. The
    "within k hops of a flagged account" expansion shape; state is one
    row per visited node, one frontier⋈edges shuffle per level."""
    from ontario_spark.operators.graph import bfs_depths

    ev = table(spark, sf_dir, "events")
    fwd = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(
            F.lit("k"), F.get_json_object(F.col("props"), "$.k")
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull() & F.col("user_id").isNotNull())
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = local_frame(spark, [("u1",), ("u2",), ("u3",)], "node string")
    return bfs_depths(edges, seeds, max_depth=4)


EVENTS_BFS_SQL = """
WITH RECURSIVE eb AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
         'k' || json_extract_string(props, '$.k') AS dst
  FROM events
  WHERE user_id IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
), e AS (
  SELECT src, dst FROM eb UNION SELECT dst, src FROM eb
), walk(node, depth) AS (
  SELECT * FROM (VALUES ('u1', 0), ('u2', 0), ('u3', 0)) v(node, depth)
  UNION
  SELECT e.dst, walk.depth + 1
  FROM walk JOIN e ON e.src = walk.node
  WHERE walk.depth < 4
)
SELECT node, CAST(MIN(depth) AS INT) AS depth FROM walk GROUP BY node
"""


def events_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the three seed users over the
    UNDIRECTED user↔item interaction graph — seed-proximity scoring
    (related-item discovery / trust expansion), 5 DECIMAL-grid
    iterations so the unrolled DuckDB oracle hash-matches
    (operators/graph.py::personalized_pagerank)."""
    from ontario_spark.operators.graph import personalized_pagerank

    ev = table(spark, sf_dir, "events")
    fwd = ev.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("src"),
        F.concat(
            F.lit("k"), F.get_json_object(F.col("props"), "$.k")
        ).alias("dst"),
    ).filter(F.col("dst").isNotNull() & F.col("user_id").isNotNull())
    # DISTINCT interaction graph (the oracle's UNION dedups too): PPR
    # proximity should count a user-item relationship once, not once
    # per repeat event — unlike events_pagerank, which deliberately
    # weights edges by interaction multiplicity
    fwd = fwd.dropDuplicates(["src", "dst"])
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = local_frame(spark, [("u1",), ("u2",), ("u3",)], "node string")
    return personalized_pagerank(edges, seeds, iters=5, damping=0.85)


def _ppr_sql(iters: int = 5) -> str:
    seed_list = "('u1', 'u2', 'u3')"
    prev = "r0"
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""r{i} AS (
  SELECT nodes.node,
         CAST(ROUND(CASE WHEN nodes.node IN {seed_list}
                         THEN 0.15 / (SELECT ns FROM nsn) ELSE 0.0 END
           + 0.85 * CAST(COALESCE(SUM(c.c), 0) AS DOUBLE), 10)
           AS DECIMAL(28,10)) AS r
  FROM nodes LEFT JOIN (
    SELECT e.dst,
           CAST(ROUND(CAST(r.r AS DOUBLE) / deg.deg, 14)
             AS DECIMAL(28,14)) AS c
    FROM e JOIN {prev} r ON r.node = e.src JOIN deg ON deg.src = e.src
  ) c ON c.dst = nodes.node
  GROUP BY nodes.node
)""")
        prev = f"r{i}"
    chain = ", ".join(steps)
    return f"""
WITH eb AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS src,
         'k' || json_extract_string(props, '$.k') AS dst
  FROM events
  WHERE user_id IS NOT NULL
    AND json_extract_string(props, '$.k') IS NOT NULL
), e AS (
  SELECT src, dst FROM eb UNION SELECT dst, src FROM eb
), nodes AS (
  SELECT DISTINCT src AS node FROM e
  UNION SELECT DISTINCT dst FROM e
  UNION SELECT * FROM (VALUES ('u1'), ('u2'), ('u3')) s(node)
), nsn AS (SELECT COUNT(*) AS ns FROM (VALUES ('u1'), ('u2'), ('u3')) s(node)),
deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (
  SELECT node,
         CAST(ROUND(CASE WHEN node IN {seed_list}
                         THEN 1.0 / (SELECT ns FROM nsn) ELSE 0.0 END, 10)
           AS DECIMAL(28,10)) AS r
  FROM nodes
), {chain}
SELECT node, CAST(r AS DOUBLE) AS rank FROM {prev}
"""


EVENTS_PPR_SQL = _ppr_sql(5)


def events_item_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence over the user↔item bipartite graph
    (co-interaction counts + cosine normalization) — the recsys /
    feature-prep projection; power users capped at 100 items so no
    user key fans out quadratically
    (operators/graph.py::bipartite_cooccurrence)."""
    from ontario_spark.operators.graph import bipartite_cooccurrence

    ev = table(spark, sf_dir, "events")
    ui = ev.select(
        F.col("user_id").alias("u"),
        F.get_json_object(F.col("props"), "$.k").alias("i"),
    )
    return bipartite_cooccurrence(
        ui, "u", "i", min_common=2, max_items_per_user=100
    )


EVENTS_COOC_SQL = """
WITH ui AS (
  SELECT DISTINCT user_id AS u, json_extract_string(props, '$.k') AS i
  FROM events
  WHERE user_id IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
), deg AS (
  SELECT i, COUNT(*) AS deg FROM ui GROUP BY i
), heavy AS (
  SELECT u FROM ui GROUP BY u HAVING COUNT(*) > 100
), j AS (
  SELECT * FROM ui WHERE u NOT IN (SELECT u FROM heavy)
), pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_common
  FROM j a JOIN j b ON a.u = b.u AND a.i < b.i
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT p.item_a, p.item_b, p.n_common, da.deg AS deg_a, db.deg AS deg_b,
       CAST(p.n_common AS DOUBLE)
         / sqrt(CAST(da.deg * db.deg AS DOUBLE)) AS cosine
FROM pairs p
JOIN deg da ON da.i = p.item_a
JOIN deg db ON db.i = p.item_b
"""


def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral Markov chain: adjacent event-type bigram
    counts and transition probabilities. One lead-window pass over the
    per-user timeline ((ts, event_id) unique ordering — deterministic),
    then a bounded |event types|² aggregate; the probability divides
    two exact integers, so the double is engine-identical."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("next_type", F.lead("event_type").over(w)).filter(
        F.col("next_type").isNotNull()
    )
    counts = pairs.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(tot).cast("double"), 9
        ).alias("p"),
    )


EVENTS_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
), c AS (
  SELECT event_type, next_type, COUNT(*) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
)
SELECT event_type, next_type, n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE), 9) AS p
FROM c
"""


def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with gap fill (round 10): per-type daily
    event counts on the COMPLETE day grid between the corpus min and
    max day — missing (type, day) cells emit 0 instead of vanishing,
    which is what any downstream forecasting/alerting consumer needs.
    The grid is one broadcast row exploded through ``sequence()``
    (days × types is bounded metadata, never data-sized); the counts
    aggregate is the only shuffle."""
    ev = table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("__d"), "event_type"
    )
    bounds = ev.agg(
        F.min("__d").alias("d0"), F.max("__d").alias("d1")
    )
    grid_days = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("__d")
    )
    types = ev.select("event_type").distinct()
    grid = F.broadcast(grid_days).crossJoin(F.broadcast(types))
    daily = ev.groupBy("__d", "event_type").agg(
        F.count(F.lit(1)).alias("__n")
    )
    return grid.join(daily, ["__d", "event_type"], "left_outer").select(
        F.date_format("__d", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.coalesce("__n", F.lit(0)).cast("long").alias("n_events"),
    )


EVENTS_GAPFILL_SQL = """
WITH ev AS (
  SELECT CAST(ts AS DATE) AS d, event_type FROM events
), bounds AS (
  SELECT MIN(d) AS d0, MAX(d) AS d1 FROM ev
), grid AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d,
         event_type
  FROM bounds CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
), daily AS (
  SELECT d, event_type, COUNT(*) AS n FROM ev GROUP BY d, event_type
)
SELECT strftime(grid.d, '%Y-%m-%d') AS day, grid.event_type,
       CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
FROM grid LEFT JOIN daily
  ON daily.d = grid.d AND daily.event_type = grid.event_type
"""


def events_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics over the lake (round 10): the event stream
    replayed as a CDC changelog against the customer dimension —
    errors delete the key, any other final event upserts the account
    balance to its value, untouched customers pass through, unknown
    keys insert (operators/versioning.py::apply_changelog; one
    changelog window + one full-outer key join, both single
    shuffles)."""
    from ontario_spark.operators.versioning import apply_changelog

    base = table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_acctbal")
    )
    ch = (
        table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.col("user_id").alias("c_custkey"),
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("value").alias("c_acctbal"),
            "ts",
            "event_id",
        )
    )
    return apply_changelog(
        base,
        ch,
        key="c_custkey",
        payload="c_acctbal",
        order_cols=("ts", "event_id"),
    )


EVENTS_APPLY_CHANGELOG_SQL = """
WITH ch AS (
  SELECT user_id AS k,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value AS new_v,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events WHERE user_id IS NOT NULL
), last AS (SELECT k, op, new_v FROM ch WHERE rn = 1)
SELECT COALESCE(c_custkey, k) AS c_custkey,
       COALESCE(new_v, c_acctbal) AS c_acctbal,
       CASE WHEN op IS NULL THEN 'unchanged'
            WHEN c_custkey IS NULL THEN 'inserted'
            ELSE 'updated' END AS status
FROM customer FULL OUTER JOIN last ON c_custkey = last.k
WHERE op IS NULL OR op != 'D'
"""


def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution (round 10): each purchase is
    credited to the user's most recent preceding click/view within a
    24h lookback, else the 'none' channel; revenue rolls up per
    (channel, day). One running ``last(..., ignorenulls)`` window over
    the per-user timeline ((ts, event_id) total order — deterministic
    ROWS frame), then a bounded channel×day aggregate; revenue sums as
    DECIMAL so the double is order-independent. Zone note: both touch
    and purchase epochs shift by the same session-zone offset, so the
    24h difference is zone-free (same argument as events_asof_join)."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    ).filter(F.col("user_id").isNotNull())
    t = ts_micros(F.col("ts"))
    is_touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = ev.select(
        "event_type",
        "ts",
        "value",
        t.alias("__t"),
        F.last(F.when(is_touch, t), ignorenulls=True).over(w).alias("__touch_t"),
        F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
        .over(w)
        .alias("__touch_c"),
    )
    pur = tagged.filter(F.col("event_type") == "purchase").select(
        F.when(
            F.col("__touch_t").isNotNull()
            & (F.col("__t") - F.col("__touch_t") <= F.lit(86_400_000_000)),
            F.col("__touch_c"),
        )
        .otherwise(F.lit("none"))
        .alias("channel"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    return pur.groupBy("channel", "day").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("revenue"),
    )


def events_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plurality-label communities over the item co-interaction graph
    (round 10): 3 synchronous label-propagation rounds, ties to the
    minimum label — the unsupervised grouping between connected
    components (too coarse) and modularity solvers (not reproducible
    across engines). Same bounded bipartite projection as
    events_kcore; DuckDB unrolls the identical 3 rounds
    (operators/graph.py::label_propagation)."""
    from ontario_spark.operators.graph import label_propagation

    ev = table(spark, sf_dir, "events")
    ui = (
        ev.select("user_id", F.get_json_object("props", "$.k").alias("k"))
        .filter(F.col("user_id").isNotNull() & F.col("k").isNotNull())
        .distinct()
    )
    ok = (
        ui.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("__d"))
        .filter(F.col("__d") <= 80)
        .select("user_id")
    )
    a = ui.select(F.col("user_id"), F.col("k").alias("ka"))
    b = ui.select(F.col("user_id").alias("ub"), F.col("k").alias("kb"))
    pairs = (
        a.join(ok, "user_id", "left_semi")
        .join(b, (F.col("user_id") == F.col("ub")) & (F.col("ka") < F.col("kb")))
        .select(F.col("ka").alias("src"), F.col("kb").alias("dst"))
    )
    return label_propagation(pairs, "src", "dst", rounds=3)


def _communities_sql(rounds: int = 3) -> str:
    prev = "l0"
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""l{i} AS (
  SELECT a AS node, label FROM (
    SELECT s.a, l.label,
           ROW_NUMBER() OVER (PARTITION BY s.a
                              ORDER BY COUNT(*) DESC, l.label) AS rn
    FROM sym s JOIN {prev} l ON l.node = s.b
    GROUP BY s.a, l.label
  ) t WHERE rn = 1
)""")
        prev = f"l{i}"
    chain = ", ".join(steps)
    return f"""
WITH ui AS (
  SELECT DISTINCT user_id, json_extract_string(props, '$.k') AS k
  FROM events
  WHERE user_id IS NOT NULL AND json_extract_string(props, '$.k') IS NOT NULL
), ok AS (
  SELECT user_id FROM ui GROUP BY user_id HAVING COUNT(*) <= 80
), e AS (
  SELECT DISTINCT a.k AS a, b.k AS b
  FROM ui a JOIN ok USING (user_id) JOIN ui b
    ON a.user_id = b.user_id AND a.k < b.k
), sym AS (
  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
), l0 AS (
  SELECT DISTINCT a AS node, a AS label FROM sym
), {chain}
SELECT node, label FROM {prev}
"""


EVENTS_COMMUNITIES_SQL = _communities_sql(3)


EVENTS_ATTRIBUTION_SQL = """
WITH ev AS (
  SELECT user_id, ts, event_id, event_type, value, epoch_us(ts) AS t
  FROM events WHERE user_id IS NOT NULL
), w AS (
  SELECT event_type, ts, value, t,
    LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN t END
               IGNORE NULLS) OVER win AS touch_t,
    LAST_VALUE(CASE WHEN event_type IN ('click', 'view') THEN event_type END
               IGNORE NULLS) OVER win AS touch_c
  FROM ev
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), p AS (
  SELECT CASE WHEN touch_t IS NOT NULL AND t - touch_t <= 86400000000
              THEN touch_c ELSE 'none' END AS channel,
         strftime(ts, '%Y-%m-%d') AS day, value
  FROM w WHERE event_type = 'purchase'
)
SELECT channel, day, COUNT(*) AS n_purchases,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM p GROUP BY channel, day
"""


QUERIES = {
    "events_asof_join": events_asof_join,
    "events_attribution": events_attribution,
    "events_communities": events_communities,
    "events_daily_gapfill": events_daily_gapfill,
    "events_apply_changelog": events_apply_changelog,
    "events_bfs_depth": events_bfs_depth,
    "events_transitions": events_transitions,
    "events_item_cooccurrence": events_item_cooccurrence,
    "events_ppr": events_ppr,
    "events_decayed_engagement": events_decayed_engagement,
    "events_value_deciles": events_value_deciles,
    "events_anomaly_zscore": events_anomaly_zscore,
    "events_scd2_history": events_scd2_history,
    "events_range_pairs": events_range_pairs,
    "events_json_stats": events_json_stats,
    "events_value_quantiles": events_value_quantiles,
    "events_pagerank": events_pagerank,
    "events_triangles": events_triangles,
    "events_kcore": events_kcore,
    "sketch_countmin_check": sketch_countmin_check,
    "events_funnel": events_funnel,
    "events_sessions": events_sessions,
    "events_trailing_window": events_trailing_window,
    "events_retention_cohorts": events_retention_cohorts,
}

ORACLE = {
    "events_asof_join": EVENTS_ASOF_SQL,
    "events_bfs_depth": EVENTS_BFS_SQL,
    "events_transitions": EVENTS_TRANSITIONS_SQL,
    "events_item_cooccurrence": EVENTS_COOC_SQL,
    "events_ppr": EVENTS_PPR_SQL,
    "events_decayed_engagement": EVENTS_DECAYED_SQL,
    "events_value_deciles": EVENTS_DECILES_SQL,
    "events_anomaly_zscore": EVENTS_ANOMALY_SQL,
    "events_scd2_history": EVENTS_SCD2_SQL,
    "events_range_pairs": EVENTS_RANGE_SQL,
    "events_json_stats": EVENTS_JSON_SQL,
    "events_value_quantiles": EVENTS_QUANTILES_SQL,
    "events_pagerank": EVENTS_PAGERANK_SQL,
    "events_triangles": EVENTS_TRIANGLES_SQL,
    "events_kcore": EVENTS_KCORE_SQL,
    "sketch_countmin_check": SKETCH_COUNTMIN_SQL,
    "events_funnel": EVENTS_FUNNEL_SQL,
    "events_sessions": EVENTS_SESSIONS_SQL,
    "events_trailing_window": EVENTS_TRAILING_WINDOW_SQL,
    "events_retention_cohorts": EVENTS_RETENTION_SQL,
    "events_attribution": EVENTS_ATTRIBUTION_SQL,
    "events_communities": EVENTS_COMMUNITIES_SQL,
    "events_daily_gapfill": EVENTS_GAPFILL_SQL,
    "events_apply_changelog": EVENTS_APPLY_CHANGELOG_SQL,
}

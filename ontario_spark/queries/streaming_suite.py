"""Streaming queries on the driver surface. Each runs through the real
Structured Streaming engine (AvailableNow replay of the events parquet,
state store + watermark active) and returns the final result table —
then hash-checked against a batch ANSI-SQL oracle, proving the
streaming path computes exactly what batch does over the same rows."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontario_spark.streaming.events import (
    chained_daily_rollup,
    user_budget_cut,
    dedup_events,
    enriched_segment_counts,
    interval_join,
    read_event_stream,
    run_available_now,
    scd2_enrich,
    user_event_gaps,
    user_sessions,
    windowed_counts,
)


def stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir)
    return run_available_now(windowed_counts(stream), "stream_events_hourly_sink")


STREAM_EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
"""


def stream_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static broadcast join (events × customer dim) feeding a
    watermarked windowed aggregation."""
    from ontario_spark.data import table

    stream = read_event_stream(spark, sf_dir)
    dim = table(spark, sf_dir, "customer")
    return run_available_now(
        enriched_segment_counts(stream, dim), "stream_enriched_segments_sink"
    )


STREAM_ENRICHED_SEGMENTS_SQL = """
SELECT date_trunc('hour', ts) AS hour, c_mktsegment AS segment,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY date_trunc('hour', ts), c_mktsegment
"""


def stream_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_event_stream(spark, sf_dir)
    df = run_available_now(
        user_sessions(stream, gap_minutes=30), "stream_user_sessions_sink"
    )
    # session_end = last event + gap is engine-layout-specific; project
    # the oracle-comparable columns
    return df.select("user_id", "session_start", "n_events", "session_value")


# Session boundary: Spark's session_window is end-EXCLUSIVE [t, t+gap),
# so a gap of EXACTLY `gap` seconds starts a NEW session — the oracle
# must use >=, not > (a fixture with an exact-gap pair would otherwise
# hash-mismatch).
STREAM_USER_SESSIONS_SQL = """
WITH x AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), y AS (
  SELECT user_id, ts, value,
    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM x
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
FROM y GROUP BY user_id, sess_id
"""


def stream_user_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user max
    inter-event gap. The events fixture is one file → one batch, so the
    update-mode sink holds exactly one row per user."""
    stream = read_event_stream(spark, sf_dir)
    return run_available_now(
        user_event_gaps(stream), "stream_user_gaps_sink", output_mode="update"
    )


STREAM_USER_GAPS_SQL = """
WITH g AS (
  SELECT user_id,
    epoch_us(ts) - lag(epoch_us(ts))
      OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
  FROM events)
SELECT user_id, COUNT(*) AS n_events, MAX(gap_us) AS max_gap_us
FROM g GROUP BY user_id
"""


def stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream interval join (click → purchase within 1h per
    user), through the real streaming engine in append mode."""
    stream = read_event_stream(spark, sf_dir)
    return run_available_now(
        interval_join(stream), "stream_click_purchase_sink", output_mode="append"
    )


STREAM_CLICK_PURCHASE_SQL = """
SELECT c.user_id, c.event_id AS l_event, p.event_id AS r_event,
       c.ts AS l_ts, p.ts AS r_ts
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def stream_click_purchase_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream LEFT OUTER interval join (round-10, VERDICT r9
    task 8): converted clicks pair with their purchases; clicks that
    did NOT convert emit with NULL purchase columns once the watermark
    passes the end of their 1h attribution interval. The oracle
    replays the watermark arithmetic: the global watermark is the min
    across both inputs of (max event time − 2h delay), and an
    unmatched click surfaces only when click_ts + 1h falls strictly
    behind it — the final click of the replay stays correctly held in
    state, so the batch oracle must hold it back too. The STRICT ``<``
    here vs the rollup oracle's ``<=`` is deliberate: Spark evicts
    join state strictly but emits windows whose end EQUALS the
    watermark — both comparators are pinned on-the-boundary by
    tests/test_streaming.py::
    test_watermark_boundary_emission_conventions (round-11 ADVICE)."""
    stream = read_event_stream(spark, sf_dir)
    return run_available_now(
        interval_join(stream, how="left_outer"),
        "stream_click_purchase_outer_sink",
        output_mode="append",
    )


STREAM_CLICK_PURCHASE_OUTER_SQL = """
WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
wm AS (SELECT least((SELECT max(ts) FROM c), (SELECT max(ts) FROM p))
              - INTERVAL 2 HOUR AS w)
SELECT c.user_id, c.event_id AS l_event, p.event_id AS r_event,
       c.ts AS l_ts, p.ts AS r_ts
FROM c JOIN p
  ON c.user_id = p.user_id
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
UNION ALL
SELECT c.user_id, c.event_id AS l_event, CAST(NULL AS BIGINT) AS r_event,
       c.ts AS l_ts, CAST(NULL AS TIMESTAMP) AS r_ts
FROM c, wm
WHERE NOT EXISTS (
        SELECT 1 FROM p
        WHERE p.user_id = c.user_id
          AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
  AND c.ts + INTERVAL 1 HOUR < wm.w
"""


def stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static point-in-time enrichment (round 11): streaming
    purchases join the SCD2 episode dimension (built batch-side from
    the NON-purchase events) valid at each purchase's event time —
    ``valid_from <= ts < valid_to``. The late-event-gets-the-
    version-that-was-true-then pattern; no join state, the static dim
    re-plans per micro-batch (streaming/events.py::scd2_enrich)."""
    from ontario_spark.operators.asof import scd2_from_changelog
    from ontario_spark.data import table as batch_table

    dim = scd2_from_changelog(
        batch_table(spark, sf_dir, "events").filter(
            F.col("event_type") != "purchase"
        ),
        key="user_id",
        ts_col="ts",
        attr_cols=["event_type"],
    )
    stream = read_event_stream(spark, sf_dir)
    return run_available_now(
        scd2_enrich(stream, dim),
        "stream_scd2_enrich_sink",
        output_mode="append",
    )


STREAM_SCD2_ENRICH_SQL = """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events WHERE event_type <> 'purchase'
), changes AS (
  SELECT user_id, ts, event_type FROM ordered
  WHERE prev IS DISTINCT FROM event_type
), dim AS (
  SELECT user_id, event_type, ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
  FROM changes
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       d.event_type AS state_type, d.valid_from
FROM events p JOIN dim d
  ON p.user_id = d.user_id
 AND d.valid_from <= p.ts
 AND (d.valid_to IS NULL OR p.ts < d.valid_to)
WHERE p.event_type = 'purchase'
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-store streaming dedup — the streaming face of the exact-
    dedup pipeline operator; append mode emits each key once."""
    stream = read_event_stream(spark, sf_dir)
    return run_available_now(
        dedup_events(stream), "stream_dedup_sink", output_mode="append"
    )


STREAM_DEDUP_SQL = "SELECT DISTINCT user_id, event_type FROM events"


def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed counts maintained by the streaming engine; top-k rank
    per window as the batch serving view over the sink table."""
    from ontario_spark.streaming.events import trending_topk

    stream = read_event_stream(spark, sf_dir)
    counts = run_available_now(windowed_counts(stream), "stream_trending_sink")
    return trending_topk(counts, k=3)


STREAM_TRENDING_TOPK_SQL = """
WITH c AS (
  SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT hour, event_type, n_events,
       CAST(ROW_NUMBER() OVER (PARTITION BY hour
            ORDER BY n_events DESC, event_type) AS INT) AS rank
FROM c
QUALIFY rank <= 3
"""


def stream_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-buffered per-user running-budget cut (keep events in
    event-time order while cumulative value stays within budget) — the
    streaming form of the batch token-budget mix, folding exact
    integer cents (streaming/events.py::user_budget_cut, on
    ``applyInPandasWithState``)."""
    stream = read_event_stream(spark, sf_dir).filter(
        F.col("user_id").isNotNull()
    )
    sink = run_available_now(
        user_budget_cut(stream), "stream_budget_cut_sink", output_mode="update"
    )
    # the update-mode memory sink APPENDS one row per key per batch;
    # n_seen (events ever received) is STRICTLY monotone per key —
    # n_kept is not, a late-but-in-watermark expensive event can shrink
    # the provisional fold — so max-by-n_seen IS the final state,
    # robust to the fixture ever splitting into multiple micro-batches
    # (review finding, round 9)
    return (
        sink.groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_seen", "n_kept", "kept_cents", "budget_hit")
            ).alias("__s")
        )
        .select(
            "user_id",
            F.col("__s.n_kept").alias("n_kept"),
            F.col("__s.kept_cents").alias("kept_cents"),
            F.col("__s.budget_hit").alias("budget_hit"),
        )
    )


STREAM_BUDGET_CUT_SQL = """
WITH c AS (
  SELECT user_id,
         SUM(CAST(ROUND(value * 100) AS BIGINT))
           OVER (PARTITION BY user_id
                 ORDER BY ts, CAST(ROUND(value * 100) AS BIGINT)
                 ROWS UNBOUNDED PRECEDING) AS run
  FROM events
  WHERE user_id IS NOT NULL AND value IS NOT NULL
    AND CAST(ROUND(value * 100) AS BIGINT) >= 0
)
SELECT user_id,
       CAST(COUNT(*) FILTER (run <= 150000) AS BIGINT) AS n_kept,
       CAST(COALESCE(MAX(run) FILTER (run <= 150000), 0) AS BIGINT)
         AS kept_cents,
       (MAX(run) > 150000) AS budget_hit
FROM c GROUP BY user_id
"""


def stream_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained multi-stateful streaming pipeline (round 10): hourly
    tumbling window → daily window-on-window rollup, both stateful
    operators in ONE append-mode query (streaming/events.py::
    chained_daily_rollup). The oracle replays the append-mode cutoff:
    a daily window emits once the watermark (max event ts − 2h) passes
    its end, so the final partial day is correctly held in state and
    the batch SQL must hold it back too. Window ends emit ON equality
    (``<=``), unlike join-state eviction's strict ``<`` — both pinned
    by tests/test_streaming.py::
    test_watermark_boundary_emission_conventions (round-11 ADVICE)."""
    stream = read_event_stream(spark, sf_dir)
    return run_available_now(
        chained_daily_rollup(stream),
        "stream_daily_rollup_sink",
        output_mode="append",
    )


STREAM_DAILY_ROLLUP_SQL = """
WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
SELECT date_trunc('day', ts) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events, wm
WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm.w
GROUP BY date_trunc('day', ts), event_type
"""


def stream_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest near-dup (round 12): new documents (doc_id %
    10 == 7, the ``pipeline_incremental_neardup`` split) REPLAYED as a
    multi-file micro-batch stream, each batch probing the PERSISTED
    banded-signature index of the historical corpus through
    ``foreachBatch`` — the composition a production ingest dedup runs
    (streaming/events.py::run_incremental_neardup). Per-doc signatures
    are batch-independent, so the result equals the one-shot batch
    operator's and shares its DuckDB oracle."""
    import tempfile

    from ontario_spark.data import table

    docs = table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % 10) == 7
    from ontario_spark.streaming.events import scratch_dir

    base = tempfile.mkdtemp(prefix="stream_incr_neardup_src_", dir=scratch_dir())
    # 4 files → 4 micro-batches at maxFilesPerTrigger=1
    docs.filter(is_new).repartition(4).write.mode("overwrite").parquet(
        f"{base}/new"
    )
    from ontario_spark.streaming.events import run_incremental_neardup

    return run_incremental_neardup(
        spark, f"{base}/new", docs.filter(~is_new), threshold=0.4
    )


QUERIES = {
    "stream_click_purchase": stream_click_purchase,
    "stream_incremental_neardup": stream_incremental_neardup,
    "stream_daily_rollup": stream_daily_rollup,
    "stream_click_purchase_outer": stream_click_purchase_outer,
    "stream_dedup": stream_dedup,
    "stream_scd2_enrich": stream_scd2_enrich,
    "stream_enriched_segments": stream_enriched_segments,
    "stream_events_hourly": stream_events_hourly,
    "stream_user_sessions": stream_user_sessions,
    "stream_user_gaps": stream_user_gaps,
    "stream_budget_cut": stream_budget_cut,
    "stream_trending_topk": stream_trending_topk,
}

def _incr_neardup_oracle() -> str:
    # the streaming replay computes exactly the batch operator's
    # result, so it shares pipeline_incremental_neardup's oracle
    from ontario_spark.queries.pipeline_suite import (
        PIPELINE_INCR_NEARDUP_SQL,
    )

    return PIPELINE_INCR_NEARDUP_SQL


ORACLE = {
    "stream_click_purchase": STREAM_CLICK_PURCHASE_SQL,
    "stream_incremental_neardup": _incr_neardup_oracle(),
    "stream_daily_rollup": STREAM_DAILY_ROLLUP_SQL,
    "stream_click_purchase_outer": STREAM_CLICK_PURCHASE_OUTER_SQL,
    "stream_dedup": STREAM_DEDUP_SQL,
    "stream_scd2_enrich": STREAM_SCD2_ENRICH_SQL,
    "stream_enriched_segments": STREAM_ENRICHED_SEGMENTS_SQL,
    "stream_events_hourly": STREAM_EVENTS_HOURLY_SQL,
    "stream_user_sessions": STREAM_USER_SESSIONS_SQL,
    "stream_user_gaps": STREAM_USER_GAPS_SQL,
    "stream_budget_cut": STREAM_BUDGET_CUT_SQL,
    "stream_trending_topk": STREAM_TRENDING_TOPK_SQL,
}

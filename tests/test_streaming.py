"""Streaming operators run through the real streaming engine
(AvailableNow replay of the events fixture) and must agree with batch
computation over the same rows."""

from __future__ import annotations

from pyspark.sql import functions as F

from ontario_spark.data import table
from ontario_spark.streaming.events import (
    read_event_stream,
    run_available_now,
    user_sessions,
    windowed_counts,
)


def test_windowed_counts_match_batch(spark, sf_small):
    stream = read_event_stream(spark, sf_small)
    got = run_available_now(windowed_counts(stream), "t_windowed").collect()

    batch = (
        table(spark, sf_small, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "total_value")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_sessionization_matches_batch_gaps(spark, sf_small):
    stream = read_event_stream(spark, sf_small)
    got = run_available_now(user_sessions(stream, gap_minutes=30), "t_sessions")
    # batch oracle: gaps-and-islands with a 30-minute gap
    e = table(spark, sf_small, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    batch = (
        e.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (F.col("prev").isNull())
            | (F.expr("timestampdiff(SECOND, prev, ts)") > 1800),
        )
        .withColumn("sess_id", F.sum(F.col("new_sess").cast("int")).over(w))
        .groupBy("user_id", "sess_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("session_value"),
        )
        .select("user_id", "n_events", "session_value")
    )
    got_simple = got.select("user_id", "n_events", "session_value")
    a = sorted(map(tuple, got_simple.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b


def test_user_event_gaps_state_spans_batches(spark, tmp_path):
    """Two files replayed as two micro-batches; user 7's largest gap
    spans the file boundary, so it is only computable with keyed state
    carried across batches."""
    import os
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from ontario_spark.streaming.events import (
        EVENT_SCHEMA_NANOS,
        run_available_now,
        user_event_gaps,
    )

    d = str(tmp_path / "ev")
    os.makedirs(d)

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        path = f"{d}/{name}"
        pdf.to_parquet(path)
        os.utime(path, (mtime, mtime))

    us = 1_000  # ns per µs
    base = 1_700_000_000_000_000_000  # ns epoch
    # batch 1: events at t=0s and t=10s; batch 2: t=3600s (gap 3590s) and t=3605s
    write("b1.parquet", [
        (1, base, 7, "a", 1.0, ""),
        (2, base + 10_000_000 * us, 7, "a", 1.0, ""),
    ], mtime=time.time() - 100)
    write("b2.parquet", [
        (3, base + 3_600_000_000 * us, 7, "a", 1.0, ""),
        (4, base + 3_605_000_000 * us, 7, "a", 1.0, ""),
    ], mtime=time.time())

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENT_SCHEMA_NANOS)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    out = run_available_now(
        user_event_gaps(raw), "gaps_span_sink", output_mode="update"
    )
    # update-mode sink holds one row per batch; the final state is the
    # row with the highest event count
    final = max(
        (r for r in out.collect() if r["user_id"] == 7),
        key=lambda r: r["n_events"],
    )
    assert final["n_events"] == 4
    # 3600s - 10s = 3590s boundary-spanning gap, in µs
    assert final["max_gap_us"] == 3_590_000_000_000 // 1000


def test_stream_dedup_matches_distinct(spark, sf_small):
    from ontario_spark.queries.streaming_suite import stream_dedup
    from ontario_spark.data import table
    from pyspark.sql import functions as F

    got = {tuple(r) for r in stream_dedup(spark, sf_small).collect()}
    exp = {
        tuple(r)
        for r in table(spark, sf_small, "events")
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == exp


def test_stream_dedup_within_watermark_plumbs(spark, sf_small):
    # watermarked variant: same engine path with bounded state; on the
    # bounded replay every duplicate arrives inside the delay, so the
    # result still equals global distinct
    from ontario_spark.streaming.events import (
        dedup_events,
        read_event_stream,
        run_available_now,
    )

    stream = read_event_stream(spark, sf_small)
    df = run_available_now(
        dedup_events(stream, within_watermark="365 days"),
        "stream_dedup_wm_sink",
        output_mode="append",
    )
    n = df.count()
    assert n == df.dropDuplicates().count() and n > 0


def test_user_event_gaps_out_of_order_replay(spark, tmp_path):
    """Round-4 fix: the gap operator buffers on the watermark, so
    replaying batches OUT of event-time order yields the identical
    final answer to sorted replay (previously it assumed in-order
    arrival across batches)."""
    import os
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from ontario_spark.streaming.events import (
        EVENT_SCHEMA_NANOS,
        run_available_now,
        user_event_gaps,
    )

    us = 1_000  # ns per µs
    base = 1_700_000_000_000_000_000  # ns epoch
    t = [base, base + 3_600_000_000 * us, base + 4_000_000_000 * us,
         base + 10_000_000_000 * us]  # gaps: 3600s, 400s, 6000s

    def replay(order_name, batches):
        d = str(tmp_path / order_name)
        os.makedirs(d)
        for i, rows in enumerate(batches):
            pdf = pd.DataFrame(
                [(j, ts, 7, "a", 1.0, "") for j, ts in enumerate(rows)],
                columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
            )
            path = f"{d}/b{i}.parquet"
            pdf.to_parquet(path)
            mtime = time.time() - 100 + i
            os.utime(path, (mtime, mtime))
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = (
            spark.readStream.schema(EVENT_SCHEMA_NANOS)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
        out = run_available_now(
            user_event_gaps(raw), f"gaps_{order_name}_sink", output_mode="update"
        )
        return max(
            (r for r in out.collect() if r["user_id"] == 7),
            key=lambda r: r["n_events"],
        )

    in_order = replay("inorder", [[t[0], t[1]], [t[2], t[3]]])
    # batch 1 delivers the LATEST events, batch 2 the earliest — the
    # boundary-spanning gaps only come out right if event-time order,
    # not arrival order, drives the fold
    shuffled = replay("shuffled", [[t[2], t[3]], [t[0], t[1]]])
    assert in_order["n_events"] == 4 and shuffled["n_events"] == 4
    assert in_order["max_gap_us"] == 6_000_000_000_000 // 1000
    assert shuffled["max_gap_us"] == in_order["max_gap_us"]


def test_trending_topk_rank_logic(spark):
    from datetime import datetime

    from ontario_spark.streaming.events import trending_topk

    counts = spark.createDataFrame(
        [
            (datetime(2024, 1, 1, 0), "click", 10),
            (datetime(2024, 1, 1, 0), "view", 10),
            (datetime(2024, 1, 1, 0), "buy", 3),
            (datetime(2024, 1, 1, 1), "buy", 7),
        ],
        schema="hour timestamp, event_type string, n_events long",
    )
    got = [tuple(r) for r in trending_topk(counts, k=2).orderBy("hour", "rank").collect()]
    assert got == [
        (datetime(2024, 1, 1, 0), "click", 10, 1),  # tie -> type asc
        (datetime(2024, 1, 1, 0), "view", 10, 2),
        (datetime(2024, 1, 1, 1), "buy", 7, 1),
    ]


def test_checkpoint_recovery_resumes_mid_stream(spark, sf_small, tmp_path):
    """Kill a streaming aggregation mid-replay and restart it from the
    SAME checkpoint: the recovered run must consume only the remaining
    files and still produce exactly the uninterrupted answer — the
    exactly-once contract a production restart depends on."""
    import time

    from ontario_spark.streaming.events import EVENT_SCHEMA

    # events split into 4 parquet files -> 4 AvailableNow micro-batches
    src = str(tmp_path / "events_split")
    events = table(spark, sf_small, "events")
    total = events.count()
    events.repartition(4).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")

    def start(name):
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        try:
            return (
                windowed_counts(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    # phase 1: stop after the first completed batch, before the last
    q = start("t_recover_a")
    for _ in range(600):
        done = [p for p in q.recentProgress if p["numInputRows"] is not None]
        if len(done) >= 1:
            break
        time.sleep(0.05)
    q.stop()
    q.awaitTermination()
    consumed_before = sum(p["numInputRows"] for p in q.recentProgress)
    if consumed_before >= total:
        import pytest

        pytest.skip("stream finished before stop() landed — nothing to recover")

    # phase 2: restart from the same checkpoint; must finish the rest.
    # An uncommitted-but-sunk batch may legitimately replay (its state
    # rolls back to the last committed snapshot), so the row accounting
    # is >=; the bit-exact final answer below is the actual contract.
    q2 = start("t_recover_b")
    q2.awaitTermination()
    consumed_after = sum(p["numInputRows"] for p in q2.recentProgress)
    assert consumed_after > 0  # the restart really resumed
    assert consumed_before + consumed_after >= total  # no gaps

    got = spark.table("t_recover_b").collect()
    batch = (
        table(spark, sf_small, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour"), "event_type", "n_events", "total_value"
        )
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))


def test_budget_cut_state_spans_batches(spark, tmp_path):
    """Two files replayed as two micro-batches; user 7's budget is
    exhausted by an event in the SECOND batch, so the cut point is
    only computable with the running total carried across batches.
    Also pins the no-backfill contract: the cheap event after the
    overflow is NOT admitted."""
    import os
    import time

    import pandas as pd
    from pyspark.sql import functions as F

    from ontario_spark.streaming.events import (
        EVENT_SCHEMA_NANOS,
        run_available_now,
        user_budget_cut,
    )

    d = str(tmp_path / "ev_budget")
    os.makedirs(d)

    def write(name, rows, mtime):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        path = f"{d}/{name}"
        pdf.to_parquet(path)
        os.utime(path, (mtime, mtime))

    us = 1_000
    base = 1_700_000_000_000_000_000
    # budget 1000 cents: batch1 admits 4.00 + 5.00 (900); batch2's
    # 2.00 overflows (1100 > 1000) and the later 0.50 must NOT backfill
    write("b1.parquet", [
        (1, base, 7, "a", 4.00, ""),
        (2, base + 10_000_000 * us, 7, "a", 5.00, ""),
    ], mtime=time.time() - 100)
    write("b2.parquet", [
        (3, base + 3_600_000_000 * us, 7, "a", 2.00, ""),
        (4, base + 3_605_000_000 * us, 7, "a", 0.50, ""),
    ], mtime=time.time())

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(EVENT_SCHEMA_NANOS)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    out = run_available_now(
        user_budget_cut(raw, budget_cents=1000),
        "budget_span_sink",
        output_mode="update",
    )
    # update sink: one row per batch; n_seen is strictly monotone per
    # key, so max-by-n_seen is the final state (the same selector the
    # registry query uses)
    final = max(
        (r for r in out.collect() if r["user_id"] == 7),
        key=lambda r: r["n_seen"],
    )
    assert final["n_seen"] == 4
    assert final["n_kept"] == 2
    assert final["kept_cents"] == 900
    assert final["budget_hit"] is True


def test_chained_daily_rollup_holds_back_open_day(spark, sf_small):
    """The chained hourly→daily query must emit exactly the days whose
    window END the propagated watermark (max ts − 2h) has passed —
    the last (partial) day of the replay stays in state."""
    from ontario_spark.data import table
    from ontario_spark.streaming.events import (
        chained_daily_rollup,
        read_event_stream,
        run_available_now,
    )
    import pyspark.sql.functions as F

    out = run_available_now(
        chained_daily_rollup(read_event_stream(spark, sf_small)),
        "chained_rollup_test_sink",
        output_mode="append",
    )
    ev = table(spark, sf_small, "events")
    wm = ev.agg(F.max("ts")).first()[0]
    emitted_days = {r.day.date() for r in out.select("day").distinct().collect()}
    import datetime

    cutoff = (wm - datetime.timedelta(hours=2)).date()
    # every emitted day window ends on or before the watermark day
    assert max(emitted_days) < cutoff
    # and the day count matches the number of CLOSED days exactly
    all_days = {
        r.d.date() if hasattr(r.d, "date") else r.d
        for r in ev.select(F.to_date("ts").alias("d")).distinct().collect()
    }
    closed = {d for d in all_days if d + datetime.timedelta(days=1) <= cutoff}
    assert emitted_days == closed


def test_watermark_boundary_emission_conventions(spark, tmp_path):
    """Pin Spark's ON-THE-BOUNDARY emission semantics that the replay
    oracles encode (round-11 ADVICE: the two oracles use different
    comparators — prove both match the engine rather than unifying
    them wrongly). Empirically, with the final watermark landing
    EXACTLY on the cutoff:

    - windowed aggregation (append): a window whose END == watermark
      IS emitted → the rollup oracle's ``window_end <= wm`` is right;
    - outer stream–stream join: an unmatched left row whose interval
      end (l_ts + within) == watermark is NOT emitted (state eviction
      is strict) → the outer-join oracle's ``l_ts + within < wm`` is
      right.
    """
    import os

    import pandas as pd

    from ontario_spark.streaming.events import (
        EVENT_SCHEMA,
        chained_daily_rollup,
        interval_join,
        run_available_now,
    )

    def write_events(d, rows):
        os.makedirs(d, exist_ok=True)
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
        pdf.to_parquet(f"{d}/events.parquet", coerce_timestamps="us")

    def stream(d):
        return (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .parquet(d)
        )

    # max ts 02:00:00 → wm = day-02 00:00:00 == end of the day-01 window
    d1 = str(tmp_path / "agg_on")
    write_events(d1, [
        (1, "2024-01-01 05:00:00", 1, "click", 1.0, ""),
        (2, "2024-01-01 23:30:00", 1, "click", 2.0, ""),
        (3, "2024-01-02 02:00:00", 1, "click", 4.0, ""),
    ])
    out = run_available_now(
        chained_daily_rollup(stream(d1)), "wm_bound_agg", output_mode="append"
    )
    days = {str(r["day"])[:10] for r in out.collect()}
    assert "2024-01-01" in days  # emit-on-equality for window ends
    assert "2024-01-02" not in days  # open day held in state

    # wm = min(max_l, max_r) - 2h = 11:00 == unmatched click's ts + 1h
    d2 = str(tmp_path / "join_on")
    write_events(d2, [
        (1, "2024-01-01 10:00:00", 7, "click", 1.0, ""),
        (2, "2024-01-01 13:00:00", 7, "purchase", 1.0, ""),
        (3, "2024-01-01 13:00:00", 8, "click", 1.0, ""),
    ])
    out2 = run_available_now(
        interval_join(stream(d2), how="left_outer"),
        "wm_bound_join",
        output_mode="append",
    )
    unmatched = {r["l_event"] for r in out2.collect() if r["r_event"] is None}
    assert 1 not in unmatched  # strict eviction: equality still held

    # one second past the boundary the same click DOES surface
    d3 = str(tmp_path / "join_past")
    write_events(d3, [
        (1, "2024-01-01 10:00:00", 7, "click", 1.0, ""),
        (2, "2024-01-01 13:00:01", 7, "purchase", 1.0, ""),
        (3, "2024-01-01 13:00:01", 8, "click", 1.0, ""),
    ])
    out3 = run_available_now(
        interval_join(stream(d3), how="left_outer"),
        "wm_past_join",
        output_mode="append",
    )
    unmatched3 = {r["l_event"] for r in out3.collect() if r["r_event"] is None}
    assert 1 in unmatched3


def test_incremental_neardup_stream_equals_batch_operator(spark, sf_small, tmp_path):
    """Round 12 (VERDICT r11 task 6): the foreachBatch ingest near-dup
    must (a) actually replay MULTIPLE micro-batches against the
    persisted index, (b) record an executed probe plan for the audit,
    and (c) return EXACTLY the one-shot batch operator's pairs — the
    union-over-batches identity its oracle reuse rests on."""
    from ontario_spark.operators import dedup
    from ontario_spark.streaming import events as sev

    docs = table(spark, sf_small, "documents")
    is_new = (F.col("doc_id") % 10) == 7
    new, corpus = docs.filter(is_new), docs.filter(~is_new)
    src = str(tmp_path / "new")
    new.repartition(3).write.parquet(src)

    sev.LAST_STREAM_EXPLAIN = None
    got = sorted(
        (r["id_new"], r["id_corpus"], round(r["est_jaccard"], 12))
        for r in sev.run_incremental_neardup(
            spark, src, corpus, threshold=0.4
        ).collect()
    )
    want = sorted(
        (r["id_new"], r["id_corpus"], round(r["est_jaccard"], 12))
        for r in dedup.incremental_lsh_pairs(
            new, corpus, "doc_id", "text", threshold=0.4
        ).collect()
    )
    assert want, "fixture must contain cross-split near-dups"
    assert got == want
    # executed probe plan captured for tools/plan_audit (bucket
    # equi-join — never a cartesian or Python eval)
    plan = sev.LAST_STREAM_EXPLAIN
    assert plan is not None
    assert "CartesianProduct" not in plan and "BatchEvalPython" not in plan
    assert sev.STREAM_EXPLAINS.get("stream_incremental_neardup") == plan

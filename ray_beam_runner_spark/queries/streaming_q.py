"""Streaming query coverage for the correctness gate: a real Structured
Streaming job (file-drop micro-batches → watermarked windowed aggregation →
availableNow drain) whose emitted output is deterministic and SQL-oracle
checkable.

Emission semantics (pinned down in tests/test_streaming.py): append mode
emits exactly the windows whose end <= final watermark = max(ts) - delay;
later windows stay in state and are not emitted. The DuckDB oracle computes
that same closed-window subset from the batch table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ray_beam_runner_spark.queries import query, scratch_dir, t


@query(
    "q_streaming_window",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS final_wm FROM events)
    SELECT date_trunc('hour', ts) AS w_start, event_type,
           count(*) AS cnt, round(sum(value), 6) AS sum_value
    FROM events
    GROUP BY w_start, event_type
    HAVING w_start + INTERVAL '1 hour' <= (SELECT final_wm FROM wm)
    """,
)
def q_streaming_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window count/sum over the events table dropped
    as 3 ts-ordered file slices with a 10-minute watermark, drained with
    availableNow: 3 data micro-batches, then 1 no-data batch that emits
    the windows the final watermark closed. The reference's windowed-aggregation path on a live
    stream (WindowInto + GBK under the portability runner), with emitted
    output equal to the batch computation on watermark-closed windows."""
    from ray_beam_runner_spark.streaming import FileDropStream, run_to_memory, windowed_agg_stream

    events = t(spark, sf_dir, "events")
    drop_dir = os.path.join(scratch_dir("rbrs_stream_"), "events")
    stream = FileDropStream(spark, drop_dir).write_slices(events, "ts", n_slices=3).read_stream()
    agg = windowed_agg_stream(
        stream,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 6).alias("sum_value")],
        watermark_delay="10 minutes",
    )
    # Streaming state instances = shuffle partitions; 32 state stores per
    # micro-batch is pure overhead at this volume. Fresh checkpoint each
    # run, so narrowing is safe here.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        return run_to_memory(agg, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@query(
    "q_streaming_stateful",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS cnt, round(sum(value), 6) AS total
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store-backed per-key streaming state (applyInPandasWithState): the
    events table replayed as 3 micro-batches through a per-key running
    (count, sum) whose state persists across batches; after the
    availableNow drain, each key's LAST emitted cumulative row must equal
    the batch aggregate over the whole table — which is exactly what the
    oracle computes. Streaming shape of the reference's stateful tests
    (ray_runner_test.py:363-393, 508-575) with a hash gate instead of a
    rows-only check."""
    from ray_beam_runner_spark.streaming import FileDropStream, run_to_memory
    from ray_beam_runner_spark.streaming.stateful import running_aggregate

    events = t(spark, sf_dir, "events")
    drop_dir = os.path.join(scratch_dir("rbrs_stateful_"), "events")
    stream = FileDropStream(spark, drop_dir).write_slices(events, "ts", n_slices=3).read_stream()
    agg = running_aggregate(stream, "event_type", "value")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        updates = run_to_memory(agg, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        updates.groupBy(F.col("key").alias("event_type"))
        .agg(
            F.max("cnt").alias("cnt"),
            F.round(F.max_by("total", "cnt"), 6).alias("total"),
        )
        .orderBy("event_type")
    )


@query(
    "q_streaming_dedup",
    oracle="""
    SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: dropDuplicatesWithinWatermark over
    (user_id, event_type) with per-key state carried across micro-batches
    and evicted by the watermark — the bounded-state production operator
    (plain dropDuplicates without the ts column in the key never evicts,
    so its state grows with distinct keys forever). The 60-day delay
    exceeds the table's 30-day span, so within this run nothing is
    evicted and the emitted first-occurrences are exactly the distinct
    pairs — making the streaming run hash-checkable against the batch
    DISTINCT. (Eviction / re-admission under a short watermark is pinned
    separately in tests/test_streaming.py — deliberately NOT part of the
    oracle, which would have to replicate Spark's one-batch-late eviction
    timing.) Only the key columns are kept upstream of the dedup, so
    per-key state is a few bytes and within-batch arrival order cannot
    leak into the output."""
    from ray_beam_runner_spark.streaming import FileDropStream, run_to_memory

    events = t(spark, sf_dir, "events")
    drop_dir = os.path.join(scratch_dir("rbrs_dedup_"), "events")
    stream = FileDropStream(spark, drop_dir).write_slices(events, "ts", n_slices=3).read_stream()
    dedup = (
        stream.select("user_id", "event_type", "ts")
        .withWatermark("ts", "60 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        firsts = run_to_memory(dedup, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        firsts.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("event_type")
    )


@query(
    "q_streaming_join",
    oracle="""
    SELECT p.user_id, count(*)::BIGINT AS n_pairs
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 2 HOUR
     AND c.ts <= p.ts
    GROUP BY p.user_id
    ORDER BY p.user_id
    """,
)
def q_streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases x clicks within a 2-hour
    lookback per user), both sides replayed as ts-ordered micro-batches.
    The watermark + time-range condition is what bounds join state in
    production; here the delay covers the table span so no match can be
    dropped as late and the drained output equals the batch interval
    join — the hash gate. The same operator under a short watermark
    (bounded state, exact within the window) is pinned in
    tests/test_streaming.py::test_stream_stream_interval_join."""
    from ray_beam_runner_spark.streaming import FileDropStream, run_to_memory
    from ray_beam_runner_spark.streaming.ops import interval_join_streams

    events = t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"), F.col("ts").alias("p_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("uid"), F.col("ts").alias("c_ts")
    )
    base = scratch_dir("rbrs_sjoin_")
    sp = FileDropStream(spark, os.path.join(base, "p")).write_slices(
        purchases, "p_ts", n_slices=3
    ).read_stream()
    sc = FileDropStream(spark, os.path.join(base, "c")).write_slices(
        clicks, "c_ts", n_slices=3
    ).read_stream()
    joined = interval_join_streams(
        sp, sc, "uid", "p_ts", "c_ts", "'2' HOURS", watermark_delay="60 days"
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        matches = run_to_memory(joined, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        matches.groupBy(F.col("uid").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@query(
    "q_streaming_outer_join",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
         -- Spark's watermark is floor-to-millisecond of the max event time
         -- (EventTimeStats tracks ms), global wm = min over both streams
         wm AS (SELECT date_trunc('millisecond', least(max(p.ts), max(c.ts)))
                       - INTERVAL 3 DAY AS w
                FROM p, c),
         m AS (SELECT p.user_id FROM p JOIN c ON c.user_id = p.user_id
               AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts),
         e AS (SELECT p.user_id FROM p
               WHERE p.ts < (SELECT w FROM wm)
                 AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                                 AND c.ts >= p.ts - INTERVAL 2 HOUR
                                 AND c.ts <= p.ts)),
         u AS (SELECT user_id FROM m UNION SELECT user_id FROM e)
    SELECT u.user_id,
           (SELECT count(*) FROM m WHERE m.user_id = u.user_id)::BIGINT AS n_pairs,
           (SELECT count(*) FROM e WHERE e.user_id = u.user_id)::BIGINT AS n_expired
    FROM u ORDER BY user_id
    """,
)
def q_streaming_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join (purchases left-joined to
    clicks within a 2-hour per-user lookback) — the null-emission timing
    case. Append-mode Spark emits a matched pair in the micro-batch where
    the match forms, but an UNMATCHED purchase emits its null row only
    when the watermark evicts its state: measured on this exact shape
    (pinned in tests/test_streaming.py::test_outer_join_null_emission),
    eviction fires for p_ts strictly below the final global watermark =
    floor-to-ms(min(max p_ts, max c_ts)) - delay, and Trigger.AvailableNow
    runs a finalization batch so those nulls do drain. Purchases still
    inside the watermark produce NOTHING — where Beam's default trigger
    would have emitted an on-time pane and later retracted/updated it,
    Spark append mode stays silent until the state closes; that
    divergence is exactly what the oracle's split between n_pairs /
    n_expired (emitted) and the absent still-open purchases encodes.
    Both sides replay as ts-ordered micro-batch slices, so no match can
    be lost to eviction (a yet-unseen click's ts exceeds every evicted
    purchase's match window — see the derivation in the test)."""
    from ray_beam_runner_spark.streaming import FileDropStream, run_to_memory

    events = t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"), F.col("ts").alias("p_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_uid"), F.col("ts").alias("c_ts")
    )
    base = scratch_dir("rbrs_sojoin_")
    sp = FileDropStream(spark, os.path.join(base, "p")).write_slices(
        purchases, "p_ts", n_slices=3
    ).read_stream()
    sc = FileDropStream(spark, os.path.join(base, "c")).write_slices(
        clicks, "c_ts", n_slices=3
    ).read_stream()
    l = sp.withWatermark("p_ts", "3 days")
    r = sc.withWatermark("c_ts", "3 days")
    cond = (
        (l["uid"] == r["r_uid"])
        & (r["c_ts"] >= l["p_ts"] - F.expr("INTERVAL 2 HOURS"))
        & (r["c_ts"] <= l["p_ts"])
    )
    joined = l.join(r, cond, "left_outer").drop("r_uid")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        out = run_to_memory(joined, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        out.groupBy(F.col("uid").alias("user_id"))
        .agg(
            F.count("c_ts").alias("n_pairs"),
            F.sum(F.when(F.col("c_ts").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_expired"),
        )
        .orderBy("user_id")
    )


@query(
    "q_streaming_session",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS final_wm FROM events),
    marks AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      -- running sum ordered by the SAME (ts, event_id) key as marks:
      -- ordering by ts alone leaves session membership nondeterministic
      -- for events tied on (user_id, ts) at a session boundary
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks)
    SELECT user_id, min(ts) AS s_start, count(*) AS n_events,
           round(sum(value), 6) AS sum_value
    FROM sess GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL '30 minutes' <= (SELECT final_wm FROM wm)
    """,
)
def q_streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows (30-minute gap, 10-minute watermark):
    per-user sessions merge across micro-batches in the state store and
    append-mode emits each session once the watermark passes its end
    (last event + gap — Spark's exclusive session_window.end). An emitted
    session can never re-open: a merging event would need ts < end while
    clearing the watermark >= end. The oracle computes the same
    gaps-and-islands sessions in batch and keeps those closed by the
    final watermark; still-open sessions stay in state, unemitted —
    the same append-mode parity contract as q_streaming_window."""
    from ray_beam_runner_spark.streaming import FileDropStream, run_to_memory

    events = t(spark, sf_dir, "events")
    drop_dir = os.path.join(scratch_dir("rbrs_sess_"), "events")
    stream = FileDropStream(spark, drop_dir).write_slices(events, "ts", n_slices=3).read_stream()
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("s_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        out = run_to_memory(agg, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.select("user_id", "s_start", "n_events", "sum_value")


@query(
    "q_streaming_full_outer",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
         wm AS (SELECT date_trunc('millisecond', least(max(p.ts), max(c.ts)))
                       - INTERVAL 3 DAY AS w
                FROM p, c),
         m AS (SELECT p.user_id FROM p JOIN c ON c.user_id = p.user_id
               AND c.ts >= p.ts - INTERVAL 2 HOUR AND c.ts <= p.ts),
         -- unmatched purchase: state closes when wm passes its ts
         e AS (SELECT p.user_id FROM p
               WHERE p.ts < (SELECT w FROM wm)
                 AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                                 AND c.ts >= p.ts - INTERVAL 2 HOUR
                                 AND c.ts <= p.ts)),
         -- unmatched click: its future-match window is [ts, ts + 2h];
         -- state closes when wm passes ts + 2h (strictly)
         x AS (SELECT c.user_id FROM c
               WHERE c.ts < (SELECT w FROM wm) - INTERVAL 2 HOUR
                 AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                                 AND p.ts >= c.ts
                                 AND p.ts <= c.ts + INTERVAL 2 HOUR)),
         u AS (SELECT user_id FROM m UNION SELECT user_id FROM e
               UNION SELECT user_id FROM x)
    SELECT u.user_id,
           (SELECT count(*) FROM m WHERE m.user_id = u.user_id)::BIGINT AS n_pairs,
           (SELECT count(*) FROM e WHERE e.user_id = u.user_id)::BIGINT
               AS n_expired_left,
           (SELECT count(*) FROM x WHERE x.user_id = u.user_id)::BIGINT
               AS n_expired_right
    FROM u ORDER BY user_id
    """,
)
def q_streaming_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join: both sides null-emit on
    state eviction, at DIFFERENT watermark boundaries — the asymmetry is
    the point of the oracle. An unmatched purchase closes when the
    global watermark passes its own timestamp (it can only match PAST
    clicks), but an unmatched click must outlive its entire
    future-match window [c_ts, c_ts + lookback]: measured (pinned in
    tests/test_streaming.py::test_full_outer_join_null_emission), its
    null row appears iff c_ts < wm - lookback strictly, where wm =
    floor-to-ms(min(max p_ts, max c_ts)) - delay. Matched pairs emit
    when formed; rows still inside their windows stay silent (the Beam
    retraction divergence, as in q_streaming_outer_join). Ts-ordered
    slice replay keeps matches from being lost to eviction on either
    side."""
    from ray_beam_runner_spark.streaming import FileDropStream, run_to_memory

    events = t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("uid"), F.col("ts").alias("p_ts")
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_uid"), F.col("ts").alias("c_ts")
    )
    base = scratch_dir("rbrs_sfjoin_")
    sp = FileDropStream(spark, os.path.join(base, "p")).write_slices(
        purchases, "p_ts", n_slices=3
    ).read_stream()
    sc = FileDropStream(spark, os.path.join(base, "c")).write_slices(
        clicks, "c_ts", n_slices=3
    ).read_stream()
    l = sp.withWatermark("p_ts", "3 days")
    r = sc.withWatermark("c_ts", "3 days")
    cond = (
        (l["uid"] == r["r_uid"])
        & (r["c_ts"] >= l["p_ts"] - F.expr("INTERVAL 2 HOURS"))
        & (r["c_ts"] <= l["p_ts"])
    )
    joined = l.join(r, cond, "full_outer")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        out = run_to_memory(joined, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        out.groupBy(F.coalesce(F.col("uid"), F.col("r_uid")).alias("user_id"))
        .agg(
            F.count(
                F.when(F.col("p_ts").isNotNull() & F.col("c_ts").isNotNull(), 1)
            ).alias("n_pairs"),
            F.count(
                F.when(F.col("p_ts").isNotNull() & F.col("c_ts").isNull(), 1)
            ).alias("n_expired_left"),
            F.count(
                F.when(F.col("p_ts").isNull() & F.col("c_ts").isNotNull(), 1)
            ).alias("n_expired_right"),
        )
        .orderBy("user_id")
    )


@query(
    "q_streaming_cdc",
    oracle="""
    SELECT user_id, ts, event_id, value FROM (
      SELECT user_id, ts, event_id, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1 ORDER BY user_id
    """,
)
def q_streaming_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC into a snapshot table, end-to-end: the events
    stream replays as ts-ordered micro-batches into
    sources.snapshots.stream_upsert (foreachBatch MERGE keyed on
    user_id, per-batch last-wins compaction by (ts, event_id), batch-id
    transaction markers), and the published table must converge to
    exactly SQL's latest-row-per-key — each user's state is their most
    recent event. The oracle is that window; a sink that loses a batch,
    double-applies a replay, or compacts to the wrong row diverges.
    At scale this is the standing-state table a feature store keeps:
    per-batch cost is one bounded window + one stats-pruned merge."""
    from ray_beam_runner_spark.streaming import FileDropStream

    events = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    base = scratch_dir("rbrs_scdc_")
    stream = FileDropStream(spark, os.path.join(base, "drop")).write_slices(
        events, "ts", n_slices=4
    ).read_stream()
    from ray_beam_runner_spark.sources import snapshots as snap

    table = os.path.join(base, "state")
    q = snap.stream_upsert(
        stream,
        table,
        keys=["user_id"],
        checkpoint_dir=os.path.join(base, "ckpt"),
        dedupe_last_by=["ts", "event_id"],
    )
    q.awaitTermination()
    return snap.read_snapshot(spark, table).orderBy("user_id")


@query(
    "q_streaming_enrich",
    oracle="""
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS final_wm FROM events)
    SELECT date_trunc('hour', e.ts) AS w_start, c.c_mktsegment,
           count(*) AS cnt, round(sum(e.value), 6) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY w_start, c_mktsegment
    HAVING w_start + INTERVAL '1 hour' <= (SELECT final_wm FROM wm)
    ORDER BY w_start, c_mktsegment
    """,
)
def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the events stream joins the static
    customer dimension per micro-batch (STATELESS — the static side is
    broadcast, no join state, no watermark interaction; the canonical
    dimension-enrichment pattern), then a watermarked tumbling window
    aggregates per market segment, emitting exactly the closed windows.
    At scale the dim broadcast is per-executor-once and the stream never
    shuffles for the join — only the windowed agg pays its keyed
    exchange."""
    from ray_beam_runner_spark.streaming import (
        FileDropStream,
        run_to_memory,
        windowed_agg_stream,
    )

    events = t(spark, sf_dir, "events")
    dim = t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    drop_dir = os.path.join(scratch_dir("rbrs_senrich_"), "events")
    stream = (
        FileDropStream(spark, drop_dir)
        .write_slices(events, "ts", n_slices=3)
        .read_stream()
        # customer is corpus-proportional: no broadcast hint — the
        # stream-static equi join shuffles per micro-batch at scale and
        # Spark still broadcasts while the dim fits its threshold.
        .join(dim, F.col("user_id") == F.col("c_custkey"), "inner")
    )
    agg = windowed_agg_stream(
        stream,
        "ts",
        "1 hour",
        ["c_mktsegment"],
        [F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 6).alias("sum_value")],
        watermark_delay="10 minutes",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        out = run_to_memory(agg, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out.orderBy("w_start", "c_mktsegment")


@query(
    "q_streaming_scd2_enrich",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 4 = 0),
    dim AS (
      SELECT c_custkey, c_mktsegment AS segment,
             0::BIGINT AS ef,
             CASE WHEN c_custkey % 12 = 0 THEN 100 END::BIGINT AS et
      FROM c
      UNION ALL
      SELECT c_custkey, c_mktsegment || '-v2', 100::BIGINT,
             CASE WHEN c_custkey % 24 = 0 THEN 200 END::BIGINT
      FROM c WHERE c_custkey % 12 = 0
      UNION ALL
      SELECT c_custkey, c_mktsegment || '-v3', 200::BIGINT, NULL::BIGINT
      FROM c WHERE c_custkey % 24 = 0),
    ev AS (SELECT event_id, user_id, event_id % 300 AS te FROM events)
    SELECT ev.event_id, ev.user_id, ev.te, d.segment
    FROM ev JOIN dim d
      ON ev.user_id = d.c_custkey
     AND d.ef <= ev.te AND (d.et IS NULL OR ev.te < d.et)
    """,
)
def q_streaming_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming enrichment against an SCD Type-2 dimension with
    EVENT-TIME as-of semantics — the production dimension join
    (q_streaming_enrich joins today's dim row; correct pipelines join
    the version that was current WHEN THE EVENT HAPPENED, or a late
    event silently picks up a future attribute). The dimension is a
    real SCD2 snapshot table built through scd2_upsert (open rows at
    t=0, re-segmentations at t=100/200 closing prior versions); the
    events stream (file-drop micro-batches, availableNow drain) carries
    its temporal coordinate te = event_id % 300 and each micro-batch
    resolves its rows against the history table with the
    interval predicate ef <= te < et — stateless per batch, no join
    state, no watermark interaction; exactly one version matches per
    event by the SCD2 non-overlap invariant. The oracle rebuilds the
    history relationally and replays the as-of join; one event resolved
    to the wrong version generation breaks the hash."""
    from ray_beam_runner_spark.sources import snapshots as snap
    from ray_beam_runner_spark.streaming import FileDropStream, run_to_memory

    cust = t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 == 0)
    base = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("effective_from"),
        F.lit(None).cast("long").alias("effective_to"),
    )
    tdir = scratch_dir("rbrs_sscd2_")
    snap.write_snapshot(base, tdir, cluster_by=["c_custkey"], n_files=4)
    for mod, at, suffix in ((12, 100, "-v2"), (24, 200, "-v3")):
        upd = cust.filter(F.col("c_custkey") % mod == 0).select(
            "c_custkey",
            F.concat(F.col("c_mktsegment"), F.lit(suffix)).alias("segment"),
            F.lit(at).cast("long").alias("effective_from"),
        )
        snap.scd2_upsert(spark, tdir, upd, ["c_custkey"])
    dim = snap.read_snapshot(spark, tdir).select(
        "c_custkey", "segment", "effective_from", "effective_to"
    )

    events = t(spark, sf_dir, "events")
    drop_dir = os.path.join(scratch_dir("rbrs_sscd2ev_"), "events")
    stream = (
        FileDropStream(spark, drop_dir)
        .write_slices(events, "ts", n_slices=3)
        .read_stream()
        .withColumn("te", F.col("event_id") % 300)
    )
    # history scales with customer x versions: no broadcast hint — the
    # equi component (user_id == c_custkey) keeps a shuffle join
    # available per micro-batch; the interval terms post-filter.
    joined = stream.join(
        dim,
        (stream["user_id"] == dim["c_custkey"])
        & (dim["effective_from"] <= F.col("te"))
        & (dim["effective_to"].isNull() | (F.col("te") < dim["effective_to"])),
        "inner",
    ).select("event_id", "user_id", "te", "segment")
    return run_to_memory(joined, output_mode="append")


def _sq_oracle(alpha: float, qs: list[float]) -> str:
    """Streaming-quantile oracle: the q_streaming_window closed-window
    subset composed with the DDSketch bucket walk (same pinned literals
    as q_sketch_quantiles' _ddq_oracle). The zero-value CASE mirrors
    dd_bucket's sentinel bucket exactly like _ddq_oracle's guard — a
    HARNESS fix (r16 verdict ask #7): sf0.1's events carry value = 0
    rows that made DuckDB's ln() error out, so the differential harness
    could not cover this query at sf0.1. At the declared check SFs
    (0.001/0.01) every value is > 0 and the CASE is an identity — the
    oracle result (and hash) there is unchanged."""
    import math

    g = (1.0 + alpha) / (1.0 - alpha)
    lg, g1 = repr(math.log(g)), repr(g + 1.0)
    qlist = ", ".join(repr(float(q)) for q in qs)
    return f"""
    WITH wm AS (SELECT max(ts) - INTERVAL '10 minutes' AS final_wm FROM events),
    ev AS (
      SELECT date_trunc('hour', ts) AS w_start, value FROM events
      WHERE date_trunc('hour', ts) + INTERVAL '1 hour' <= (SELECT final_wm FROM wm)),
    b AS (
      SELECT w_start,
             (CASE WHEN value = 0 THEN -1000000000
                   ELSE ceil(round(ln(value) / {lg}, 9)) END)::BIGINT AS bucket,
             count(*)::BIGINT AS cnt
      FROM ev GROUP BY 1, 2),
    cum AS (
      SELECT w_start, bucket, cnt,
             sum(cnt) OVER (PARTITION BY w_start ORDER BY bucket) AS c,
             sum(cnt) OVER (PARTITION BY w_start) AS n
      FROM b),
    qs AS (SELECT unnest([{qlist}]) AS q),
    hit AS (
      SELECT w_start, q, bucket FROM cum CROSS JOIN qs
      WHERE c >= floor(1 + q * (n - 1)) AND c - cnt < floor(1 + q * (n - 1)))
    SELECT w_start, q,
           CASE WHEN bucket = -1000000000 THEN 0.0
                ELSE round(2 * power({repr(g)}, bucket) / {g1}, 6) END AS est
    FROM hit
    """


@query("q_streaming_quantiles", oracle=_sq_oracle(0.05, [0.5, 0.95]))
def q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-window quantiles via the DDSketch decomposition:
    full-precision quantiles are not a streaming aggregate (state would
    hold every value), but DD log-buckets ARE — the stream aggregates
    (window, bucket) counts under the watermark (bounded state:
    O(buckets) per open window), append mode emits each window's
    bucket histogram once closed, and the batch tail walks the emitted
    buckets into p50/p95 with the relative-error guarantee. This is
    the standard production answer to "p95 latency per hour" on an
    unbounded stream, composed from q_streaming_window's watermark
    semantics and q_sketch_quantiles' bucket arithmetic — both already
    hash-checked; the oracle composes their two oracles."""
    from ray_beam_runner_spark.functions.sketch import dd_bucket, dd_quantile
    from ray_beam_runner_spark.streaming import (
        FileDropStream,
        run_to_memory,
        windowed_agg_stream,
    )

    alpha, qs = 0.05, [0.5, 0.95]
    events = t(spark, sf_dir, "events")
    drop_dir = os.path.join(scratch_dir("rbrs_squant_"), "events")
    stream = (
        FileDropStream(spark, drop_dir)
        .write_slices(events, "ts", n_slices=3)
        .read_stream()
        .withColumn("bucket", dd_bucket(F.col("value"), alpha))
    )
    agg = windowed_agg_stream(
        stream,
        "ts",
        "1 hour",
        ["bucket"],
        [F.count(F.lit(1)).alias("cnt")],
        watermark_delay="10 minutes",
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        hist = run_to_memory(agg, output_mode="append")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    sk = hist.withColumn("_dd_a", F.lit(float(alpha)))
    return dd_quantile(sk, ["w_start"], qs)

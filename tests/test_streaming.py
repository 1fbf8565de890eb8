"""Streaming semantics tests: file-drop micro-batches (the TestStream
replacement — the reference rejects TestStream, ray_fn_runner.py:92-93)
driven with availableNow; expected outputs computed on the batch union
(FIXTURES.md §B streaming variants).
"""

import pytest
from pyspark.sql import functions as F

from ray_beam_runner_spark.session import read_parquet_normalized
from ray_beam_runner_spark.streaming import FileDropStream, run_to_memory, windowed_agg_stream


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return read_parquet_normalized(spark, f"{sf_dir}/events.parquet").limit(500).cache()


def test_windowed_agg_matches_batch(spark, events, tmp_path):
    # streaming tumbling-window count == batch computation on the union
    stream = (
        FileDropStream(spark, str(tmp_path / "drop"))
        .write_slices(events, "ts", n_slices=5)
        .read_stream()
    )
    agg = windowed_agg_stream(
        stream,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 6).alias("sum_value")],
        watermark_delay="10 minutes",
    )
    got = run_to_memory(agg, output_mode="append")
    # Append mode emits a window only once the watermark passes its end, so
    # windows still open at end-of-stream stay in state (documented
    # divergence from batch — SURVEY §7 hard part #2). Compare the
    # watermark-closed prefix.
    import datetime as dt

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    final_wm = max_ts - dt.timedelta(minutes=10)
    expected = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "cnt",
            "sum_value",
        )
        .filter(F.col("w_end") <= F.lit(final_wm))
        .drop("w_end")
    )
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, expected.collect()))
    assert len(g) >= len(e) > 0
    assert set(e) <= set(g), f"closed windows missing from stream output: {set(e) - set(g)}"
    # and nothing extra beyond the still-open windows
    extra = set(g) - set(e)
    assert all(ws > final_wm - dt.timedelta(hours=1) for ws, *_ in extra), extra


def test_foreach_batch_finalization(spark, events, tmp_path):
    # bundle-finalization analog (reference execution.py:131-139, tests 1021-1081):
    # the on_batch callback runs once per committed micro-batch.
    stream = (
        FileDropStream(spark, str(tmp_path / "drop2"))
        .write_slices(events.limit(50), "ts", n_slices=3)
        .read_stream()
    )
    seen: list[int] = []
    out = run_to_memory(
        stream.select("event_id"),
        output_mode="append",
        on_batch=lambda df, bid: seen.append(bid),
    )
    assert len(seen) >= 3  # one finalization per micro-batch (3 slices)
    assert out.count() == 50


def test_late_data_dropped(spark, tmp_path):
    # Beam default-trigger parity: data later than watermark delay is
    # dropped from its (already emitted) window in append mode.
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, base, "a", 1.0),
        (2, base + dt.timedelta(minutes=5), "a", 1.0),
        # jump far ahead -> watermark advances past window [0:00,1:00)
        (3, base + dt.timedelta(hours=5), "a", 1.0),
        # one more batch so the first window's state is EVICTED (Spark
        # evicts/emits at the end of the batch where the watermark passes
        # the window end; a late row merging into still-live state is NOT
        # dropped — observed semantics, append mode)
        (5, base + dt.timedelta(hours=5, minutes=1), "a", 1.0),
        # late element for the first window, beyond the 10m delay
        (4, base + dt.timedelta(minutes=20), "a", 100.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    # preserve arrival order: one slice per row, in the order above
    drop_dir = str(tmp_path / "drop3")
    import os

    from ray_beam_runner_spark.streaming.fixtures import _stamp_mtime

    os.makedirs(drop_dir)
    for i, r in enumerate(rows):
        path = f"{drop_dir}/s_{i:03d}.parquet"
        spark.createDataFrame([r], df.schema).coalesce(1).write.parquet(path)
        _stamp_mtime(path, i)
    stream = (
        spark.readStream.schema(df.schema).option("maxFilesPerTrigger", 1).parquet(drop_dir + "/*")
    )
    agg = windowed_agg_stream(
        stream, "ts", "1 hour", ["event_type"], [F.count(F.lit(1)).alias("cnt")],
        watermark_delay="10 minutes",
    )
    got = {(r["w_start"], r["cnt"]) for r in run_to_memory(agg, "append").collect()}
    first_window_counts = {c for (ws, c) in got if ws == base}
    # the late row (event 4) must NOT be in the first window's count
    assert first_window_counts == {2}, got


def test_stream_stream_interval_join(spark, events, tmp_path):
    # stream-stream join with watermark + time-range condition == batch
    # interval join on the union (SURVEY §2.3 window-interval joins)
    from ray_beam_runner_spark.streaming.ops import interval_join_streams

    ev = events.limit(300).cache()
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts")
    )
    sp = (
        FileDropStream(spark, str(tmp_path / "pj")).write_slices(purchases, "p_ts", 3).read_stream()
    )
    sc_ = (
        FileDropStream(spark, str(tmp_path / "cj")).write_slices(clicks, "c_ts", 3).read_stream()
    )
    joined = interval_join_streams(
        sp.withColumnRenamed("user_id", "uid"),
        sc_.withColumnRenamed("c_user", "uid"),
        "uid",
        "p_ts",
        "c_ts",
        "'2' HOURS",
        watermark_delay="10 minutes",
    ).select("p_id", "c_id")
    got = {(r.p_id, r.c_id) for r in run_to_memory(joined, "append").collect()}
    expected = {
        (r.p_id, r.c_id)
        for r in purchases.join(
            clicks,
            (purchases.user_id == clicks.c_user)
            & (clicks.c_ts >= purchases.p_ts - F.expr("INTERVAL 2 HOURS"))
            & (clicks.c_ts <= purchases.p_ts),
        ).collect()
    }
    # stream-stream inner join emits matches whose inputs were both within
    # watermark bounds; on a bounded replay every batch match must appear
    assert got == expected, (len(got), len(expected))


def test_outer_join_null_emission(spark, tmp_path):
    # Pins the left-outer stream-stream join emission timing that
    # q_streaming_outer_join's oracle encodes:
    #   1. a match arriving in a LATER micro-batch (but within watermark)
    #      joins normally — no premature null for its left row;
    #   2. an unmatched left row null-emits iff p_ts < final watermark
    #      (strictly), wm = floor-ms(min(max p_ts, max c_ts)) - delay,
    #      and Trigger.AvailableNow runs the finalization batch that
    #      drains those nulls;
    #   3. unmatched left rows at/above the watermark emit NOTHING (the
    #      Beam divergence: no on-time pane, no retraction — silence
    #      until state closes).
    import datetime as dt

    D = dt.datetime
    # final wm = min(max p_ts, max c_ts) - 2h = 12:00 - 2h = 10:00
    purch = spark.createDataFrame(
        [
            (1, D(2024, 1, 1, 1, 0)),   # matched by c1 (same batch region)
            (2, D(2024, 1, 1, 2, 0)),   # matched by c2 arriving 2 slices later
            (3, D(2024, 1, 1, 9, 59, 59)),  # unmatched, < wm -> null row
            (4, D(2024, 1, 1, 10, 0)),  # unmatched, == wm -> silent (strict <)
            (5, D(2024, 1, 1, 11, 30)), # unmatched, > wm -> silent
            (6, D(2024, 1, 1, 12, 0)),  # matched filler fixing max p_ts
        ],
        "uid int, p_ts timestamp",
    )
    fd_p = FileDropStream(spark, str(tmp_path / "po")).write_slices(purch, "p_ts", 3)
    fd_c = FileDropStream(spark, str(tmp_path / "co"))
    # click slices arrive in scripted order: c2 (matching p2) lands in the
    # LAST slice even though its event time is early -> a late-arriving
    # update that must still join (its ts stays above the watermark)
    fd_c.write_slices(
        spark.createDataFrame(
            [(1, D(2024, 1, 1, 0, 30)), (9, D(2024, 1, 1, 6, 0))],
            "uid int, c_ts timestamp",
        ),
        "c_ts", 1,
    )
    fd_c.append_slices(
        spark.createDataFrame([(6, D(2024, 1, 1, 11, 0))], "uid int, c_ts timestamp"),
        "c_ts", 1,
    )
    fd_c.append_slices(
        spark.createDataFrame(
            [(2, D(2024, 1, 1, 1, 45)), (9, D(2024, 1, 1, 12, 0))],
            "uid int, c_ts timestamp",
        ),
        "c_ts", 1,
    )
    l = fd_p.read_stream().withWatermark("p_ts", "2 hours")
    r = (
        fd_c.read_stream()
        .withColumnRenamed("uid", "r_uid")
        .withWatermark("c_ts", "2 hours")
    )
    cond = (
        (l["uid"] == F.col("r_uid"))
        & (F.col("c_ts") >= l["p_ts"] - F.expr("INTERVAL 2 HOURS"))
        & (F.col("c_ts") <= l["p_ts"])
    )
    out = run_to_memory(l.join(r, cond, "left_outer").drop("r_uid"), "append")
    rows = out.collect()
    matched = {(x.uid, x.c_ts) for x in rows if x.c_ts is not None}
    nulls = {x.uid for x in rows if x.c_ts is None}
    assert matched == {
        (1, D(2024, 1, 1, 0, 30)),
        (2, D(2024, 1, 1, 1, 45)),   # the late-arriving match joined
        (6, D(2024, 1, 1, 11, 0)),
    }, rows
    assert nulls == {3}, rows


def test_streaming_session_windows(spark, events, tmp_path):
    # native session_window on a live stream with watermark: closed
    # sessions must match the batch session computation
    ev = events.limit(400).cache()
    stream = (
        FileDropStream(spark, str(tmp_path / "sess"))
        .write_slices(ev, "ts", n_slices=4)
        .read_stream()
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s_start"), "n")
    )
    got = {(r.user_id, r.s_start, r.n) for r in run_to_memory(agg, "append").collect()}
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s_start"), F.col("w.end").alias("s_end"), "n")
    )
    import datetime as dt

    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    final_wm = max_ts - dt.timedelta(minutes=10)
    expected_closed = {
        (r.user_id, r.s_start, r.n) for r in batch.collect() if r.s_end <= final_wm
    }
    assert expected_closed <= got, expected_closed - got


def test_streaming_dedup_eviction_readmits(spark, tmp_path):
    # Plain dropDuplicates without the event-time column in the key NEVER
    # evicts state (the watermark does not apply to it) — the bounded-state
    # operator is dropDuplicatesWithinWatermark, whose state is evicted
    # once the watermark passes a key's event time. A duplicate key
    # arriving AFTER eviction (with a fresh, non-late timestamp) is
    # re-admitted and re-emitted: short watermarks trade memory for
    # re-emits, which is why q_streaming_dedup's exact-distinct oracle
    # needs a span-covering delay.
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        ("A", base),                              # batch 1: first A
        ("B", base + dt.timedelta(hours=1)),       # batch 2: wm -> 00:50
        ("B", base + dt.timedelta(hours=2)),       # batch 3: wm -> 01:50, A evicted
        ("A", base + dt.timedelta(hours=3)),       # batch 4: A re-admitted
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    stream = (
        FileDropStream(spark, str(tmp_path / "dedup_evict"))
        .write_slices(df, "ts", n_slices=4)
        .read_stream()
    )
    out = run_to_memory(
        stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(["k"]),
        output_mode="append",
    )
    per_key = {r.k: r.n for r in out.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per_key["A"] == 2, per_key  # re-emitted after state eviction
    assert per_key["B"] == 1, per_key  # duplicate inside the state window dropped


def test_checkpoint_resume_exactly_once(spark, events, tmp_path):
    # the exactly-once contract across restarts: a checkpointed file-sink
    # query drained with availableNow, stopped, then re-started after new
    # files arrive must emit every input row exactly once — the resumed
    # run processes ONLY the new files (source offsets live in the
    # checkpoint, sink commits are transactional via the file-sink log)
    ev = events.limit(400).select("event_id", "ts", "event_type")
    first = ev.orderBy("ts").limit(200)
    rest = ev.orderBy(F.desc("ts")).limit(200)
    drop = FileDropStream(spark, str(tmp_path / "resume_drop"))
    drop.write_slices(first, "ts", n_slices=2)
    out = str(tmp_path / "resume_out")
    ck = str(tmp_path / "resume_ck")

    def drain():
        q = (
            drop.read_stream()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == 200
    drop.append_slices(rest, "ts", n_slices=2)
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 400  # no dropped rows, no duplicates
    assert got.select("event_id").distinct().count() == 400
    # re-draining with NO new data appends nothing (idempotent restart)
    drain()
    assert spark.read.parquet(out).count() == 400


def test_full_outer_join_null_emission(spark, tmp_path):
    # Pins the FULL OUTER emission asymmetry q_streaming_full_outer's
    # oracle encodes (wm = min(max p_ts, max c_ts) - 2h = 10:00):
    #   left (purchase) nulls: p_ts < wm strictly — same rule as the
    #   left-outer join;
    #   right (click) nulls: the click's future-match window is
    #   [c_ts, c_ts + 2h], so its state closes iff c_ts + 2h < wm
    #   strictly (c_ts < 8:00 here); at the boundary it stays silent.
    import datetime as dt

    D = dt.datetime
    purch = spark.createDataFrame(
        [
            (1, D(2024, 1, 1, 1, 0)),      # matched by click 0:30
            (3, D(2024, 1, 1, 9, 59, 59)), # unmatched < wm -> null right
            (4, D(2024, 1, 1, 10, 0)),     # unmatched == wm -> silent
            (6, D(2024, 1, 1, 12, 0)),     # filler: max p_ts
        ],
        "uid int, p_ts timestamp",
    )
    clicks = spark.createDataFrame(
        [
            (1, D(2024, 1, 1, 0, 30)),     # matched
            (21, D(2024, 1, 1, 7, 59, 59)),# unmatched, c+2h < wm -> null left
            (22, D(2024, 1, 1, 8, 0)),     # unmatched, c+2h == wm -> silent
            (23, D(2024, 1, 1, 9, 0)),     # unmatched, c+2h > wm -> silent
            (24, D(2024, 1, 1, 12, 0)),    # filler: max c_ts
        ],
        "uid int, c_ts timestamp",
    )
    fd_p = FileDropStream(spark, str(tmp_path / "pf")).write_slices(purch, "p_ts", 2)
    fd_c = FileDropStream(spark, str(tmp_path / "cf")).write_slices(clicks, "c_ts", 2)
    l = fd_p.read_stream().withWatermark("p_ts", "2 hours")
    r = (
        fd_c.read_stream()
        .withColumnRenamed("uid", "r_uid")
        .withWatermark("c_ts", "2 hours")
    )
    cond = (
        (l["uid"] == F.col("r_uid"))
        & (F.col("c_ts") >= l["p_ts"] - F.expr("INTERVAL 2 HOURS"))
        & (F.col("c_ts") <= l["p_ts"])
    )
    rows = run_to_memory(l.join(r, cond, "full_outer"), "append").collect()
    pairs = {(x.uid, x.r_uid) for x in rows if x.uid is not None and x.r_uid is not None}
    left_nulls = {x.uid for x in rows if x.r_uid is None}
    right_nulls = {x.r_uid for x in rows if x.uid is None}
    assert pairs == {(1, 1)}, rows
    assert left_nulls == {3}, rows
    assert right_nulls == {21}, rows


def test_write_slices_distributed_boundaries_and_order(spark, tmp_path):
    """r16 §14 regression pin: write_slices slices with ONE distributed
    write (no whole-table driver collect) but must keep the original
    contract exactly — ceil-division slice sizes [per, ..., remainder],
    ts-ordered rows within and across slices, strictly increasing slice
    mtimes, and append_slices continuing the index/mtime sequence."""
    import os

    df = spark.range(10).select(
        F.col("id").alias("k"), (F.lit(100) - F.col("id")).alias("ts")
    )
    d = str(tmp_path / "slices")
    fds = FileDropStream(spark, d).write_slices(df, "ts", n_slices=3)

    slices = sorted(e for e in os.listdir(d) if e.startswith("slice_"))
    assert slices == ["slice_00000.parquet", "slice_00001.parquet", "slice_00002.parquet"]
    # ceil(10/3)=4 -> sizes [4, 4, 2], split on ascending ts
    sizes, all_ts, mtimes = [], [], []
    for s in slices:
        p = os.path.join(d, s)
        rows = spark.read.parquet(p).collect()
        sizes.append(len(rows))
        ts = sorted(r.ts for r in rows)
        all_ts.append(ts)
        mtimes.append(os.stat(p).st_mtime)
    assert sizes == [4, 4, 2]
    # slices partition the ts-sorted stream: max(slice k) < min(slice k+1)
    assert all_ts[0][-1] < all_ts[1][0] < all_ts[1][-1] < all_ts[2][0]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    # schema survives for the streaming reader
    assert [f.name for f in fds.schema.fields] == ["k", "ts"]

    # append continues the sequence with strictly later mtimes
    more = spark.range(3).select(
        (F.col("id") + 50).alias("k"), (F.lit(200) + F.col("id")).alias("ts")
    )
    fds.append_slices(more, "ts", n_slices=2)
    slices2 = sorted(e for e in os.listdir(d) if e.startswith("slice_"))
    assert len(slices2) == 5
    m4 = os.stat(os.path.join(d, slices2[-1])).st_mtime
    assert m4 > mtimes[-1]


def test_run_to_memory_leaves_no_memory_sink_view(spark, sf_dir):
    # each drain used to leave its mem_* view registered, pinning the
    # sink's rows for the session's life; results must not change, and
    # an earlier drain's rows stay readable after later drains
    from ray_beam_runner_spark.plans.differential import compare
    from ray_beam_runner_spark.queries import ORACLE, QUERIES

    def mem_views():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")}

    before = mem_views()
    outs = [QUERIES["q_streaming_window"](spark, sf_dir) for _ in range(3)]
    assert mem_views() == before
    rows = [sorted(map(tuple, df.collect())) for df in outs]
    assert rows[0] and rows[0] == rows[1] == rows[2]
    ok, msg = compare(outs[0], ORACLE["q_streaming_window"], sf_dir)
    assert ok, msg

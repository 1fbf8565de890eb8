"""Streaming operators: watermarked windowed aggregation, drain-to-memory
execution, foreachBatch finalization hook.

Parity notes (SURVEY.md §2.5): Beam's default trigger fires a window when
the watermark passes its end and drops later data — Spark's append mode
with ``withWatermark`` gives the same observable output for bounded
replays. Drain (`is_drain=True`, reference ray_fn_runner.py:131-196,
tests 761-819) maps to ``Trigger.AvailableNow``: process everything
available, flush final state, stop. Bundle finalization
(`execution.py:131-139`, tests 1021-1081) maps to ``foreachBatch``
running user code after each committed micro-batch.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_agg_stream(
    stream: DataFrame,
    ts_col: str,
    window_duration: str,
    group_cols: list[str],
    aggs: list,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Event-time tumbling-window aggregation with a watermark: the
    streaming twin of q_events_window. Append-mode emits each window once
    the watermark passes its end (Beam default-trigger parity)."""
    agg_df = (
        stream.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(ts_col, window_duration).alias("w"), *group_cols)
        .agg(*aggs)
    )
    agg_cols = [c for c in agg_df.columns if c != "w" and c not in group_cols]
    return agg_df.select(F.col("w.start").alias("w_start"), *group_cols, *agg_cols)


def run_to_memory(
    agg: DataFrame,
    output_mode: str = "append",
    on_batch=None,
    timeout_sec: int = 300,
) -> DataFrame:
    """Drain a streaming DataFrame with Trigger.AvailableNow into an
    in-memory table and return it as a (batch) DataFrame.

    ``on_batch(df, batch_id)`` is the bundle-finalization analog — called
    after each micro-batch commit (reference execution.py:131-139). Uses
    foreachBatch when given, else the memory sink directly, whose view
    is dropped before returning (the rows stay readable)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    spark = agg.sparkSession
    if on_batch is not None:
        rows: list = []

        def handle(batch_df: DataFrame, batch_id: int):
            pdf = batch_df.toPandas()
            rows.append((batch_id, pdf))
            on_batch(batch_df, batch_id)

        q = agg.writeStream.outputMode(output_mode).foreachBatch(handle).trigger(
            availableNow=True
        ).start()
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise TimeoutError(f"stream drain exceeded {timeout_sec}s")
        import pandas as pd

        all_pdf = (
            pd.concat([p for _, p in rows], ignore_index=True)
            if rows
            else agg.limit(0).toPandas()
        )
        return spark.createDataFrame(all_pdf, schema=agg.schema) if len(all_pdf) else spark.createDataFrame([], schema=agg.schema)
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        # Returning partial mid-stream results would silently corrupt the
        # caller's comparison; stop the leaked query and fail loudly.
        q.stop()
        raise TimeoutError(f"stream drain exceeded {timeout_sec}s")
    # The returned DataFrame holds the analyzed plan, and so the sink's
    # rows; the view would pin them for the session's life.
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lookback: str,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: match right rows with the same key whose
    timestamp falls in [left_ts - lookback, left_ts]. The watermark plus
    the time-range condition bound the join state Spark must retain
    (SURVEY §2.3: window-interval/as-of joins map to stream-stream joins
    with watermark + time-range condition). Both input streams must carry
    distinct column names apart from the key."""
    l = left.withWatermark(left_ts, watermark_delay)
    r = right.withColumnRenamed(on, f"__r_{on}").withWatermark(right_ts, watermark_delay)
    cond = (
        (l[on] == F.col(f"__r_{on}"))
        & (F.col(right_ts) >= l[left_ts] - F.expr(f"INTERVAL {lookback}"))
        & (F.col(right_ts) <= l[left_ts])
    )
    return l.join(r, cond, "inner").drop(f"__r_{on}")

"""Streaming over the events table: replay, windowed aggregation, late data.

Batch/stream parity is the design goal: ``windowed_counts`` applied to the
batch frame and to a replayed stream must agree (tested in
tests/test_streaming.py) — Structured Streaming's incremental execution of
the same logical plan.

Scale notes: watermark bounds state (late rows beyond 1 hour are dropped);
the shuffle for the windowed groupBy is keyed on (window, event_type) —
at high event-type cardinality add AQE/salting exactly as for batch skew.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# Raw schema as stored. ts is parquet TIMESTAMP(NANOS): requested as
# TIMESTAMP_NTZ (read natively, nanos truncated to Spark's micro precision —
# the same truncation DuckDB applies), then converted to an instant below.
# NOTE: do NOT request LongType here — pyspark 4.1+ silently converts the
# nanos column to MICROS when a long is requested (the pre-4.1 nanosAsLong
# behavior delivered raw nanos), so a raw-long read is version-ambiguous.
_EVENTS_RAW = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampNTZType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)

# one drain at a time: run_to_memory swaps session confs around start() and
# unloads every state store after the query ends
_DRAIN = threading.Lock()
# Spark's default checkpoint manager goes through Hadoop's FileContext, which
# without the native Hadoop library forks `readlink` on every rename and
# status check; the FileSystem-based one does not
_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source replay of the events table (readStream over the parquet
    glob; new files arriving under the path would stream incrementally).

    ``ts`` becomes a TIMESTAMP (instant) via exact integer micros — watermarks
    demand instant semantics (TIMESTAMP_NTZ is rejected). The stored naive
    wall-clock is taken as UTC, matching the batch/DuckDB view; the
    conversion is session-timezone-independent (session.instant_ts).
    """
    from ..session import instant_ts, stage_dir

    # The file-stream source requires a DIRECTORY to watch; the testdata table
    # is a single parquet file. Stage a symlink dir (local-mode shim — in a
    # real deployment readStream points at the directory files arrive in).
    src = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    stage = stage_dir("/tmp/gaia_spark_stream", sf_dir, "events")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    stream = spark.readStream.schema(_EVENTS_RAW).parquet(stage)
    return instant_ts(stream, "ts")


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    """Event-time tumbling-window counts with a late-data watermark. Works on
    both batch and streaming frames (streaming adds the state bound).

    ``ts`` must be TIMESTAMP (instant). Tumbling windows are epoch-aligned
    (pure duration arithmetic), and the window label is rebuilt from epoch
    seconds through TIMESTAMP_NTZ — so the output is identical under any
    session timezone (the driver's session may not be UTC).
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    ntz_start = (
        "TIMESTAMP_NTZ '1970-01-01 00:00:00' "
        "+ make_dt_interval(0, 0, 0, unix_timestamp(w.start))"
    )
    return (
        events.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.expr(ntz_start), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user session windows with an inactivity gap — the custom stateful
    operator surface. ``session_window`` merges events closer than ``gap``
    into one growing window; on a stream the watermark closes sessions and
    bounds state (the applyInPandasWithState-class capability, expressed with
    the built-in operator so state management stays JVM-side).

    Equivalent batch SQL: lag-gap flag + running sum → group (the oracle).
    Output is timezone-independent (epoch-arithmetic window label).
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    ntz_start = (
        "TIMESTAMP_NTZ '1970-01-01 00:00:00' "
        "+ make_dt_interval(0, 0, 0, unix_timestamp(w.start))"
    )
    return (
        events.groupBy(
            F.session_window("ts", gap).alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            "user_id",
            F.date_format(F.expr(ntz_start), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "sum_value",
        )
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    (event count, value sum) maintained in GroupState across micro-batches and
    emitted each time the user appears in a batch.

    This is the escape hatch for stateful logic the built-in operators can't
    express (the reference's hand-written Reducer-with-state analog); state is
    a fixed-width tuple per user, so memory is O(distinct users) — bound it
    with a state TTL in production (GroupStateTimeout) when key cardinality
    is unbounded.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType(), False),
            StructField("n_events", LongType(), False),
            StructField("sum_value", DoubleType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType(), False),
            StructField("s", DoubleType(), False),
        ]
    )

    def update(key, pdfs, state: GroupState):
        import math

        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            # accumulate in pandas' order — the same left-fold any engine
            # applies to this partition-ordered stream
            s += float(pdf["value"].sum())
        state.update((n, s))
        # floor-trick rounding (engine-portable HALF-UP) — Python round()
        # is banker's rounding, which no SQL engine matches
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "sum_value": [math.floor(s * 100 + 0.5) / 100],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_exactly_once(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exactly-once dedup: drop replayed/duplicate events by id.

    At-least-once sources (replayed files, retried producers) deliver
    duplicates; ``dropDuplicates`` keyed on (event_id, ts) keeps the first
    arrival. The event-time watermark column is part of the dedup key so
    Spark can EVICT state older than the watermark — without it the seen-ids
    state grows unboundedly, which is the thing that kills this op at 100 TB.
    Works on batch frames too (plain dropDuplicates semantics).
    """
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return events.dropDuplicates(["event_id", "ts"])


def attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream interval join: attribute each purchase to every click by
    the same user within the preceding ``window`` (last-touch attribution's
    candidate set). On streams BOTH sides carry event-time watermarks and the
    join condition bounds the time range — that pair is what lets Spark evict
    per-key join state older than watermark+window, the thing that makes a
    stream-stream join viable on an unbounded source. On batch frames it is
    the identical plain interval equi-join.

    ``ts`` must be instant (TIMESTAMP) on both inputs; ``delay_s`` is exact
    integer seconds via unix_micros arithmetic (tz-independent).
    """
    if clicks.isStreaming:
        clicks = clicks.withWatermark("ts", watermark)
    if purchases.isStreaming:
        purchases = purchases.withWatermark("ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {window}"))
    )
    return c.join(p, cond).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.expr("(unix_micros(p_ts) - unix_micros(c_ts)) DIV 1000000").alias(
            "delay_s"
        ),
        "purchase_value",
    )


def run_to_memory(
    stream_df: DataFrame,
    table_name: str,
    spark: SparkSession,
    output_mode: str | None = None,
) -> DataFrame:
    """Drain a (bounded) stream into an in-memory sink with availableNow —
    the batch-replay harness used by the tests.

    ``output_mode`` defaults per Structured Streaming's rules: 'complete' for
    aggregated streams, 'append' otherwise (Spark rejects 'complete' on a
    non-aggregated query, so draining e.g. an exactly-once dedup stream needs
    'append'). Pass explicitly to override — e.g. 'update' for watermarked
    aggregations where late partials should surface.

    State is sized to the cores. Streaming is the one path AQE cannot
    coalesce: a stateful query fixes its state-partition count from
    ``spark.sql.shuffle.partitions`` when it starts (and records it in the
    checkpoint), and every micro-batch then runs one state-store task per
    partition whatever the batch size. The drain therefore starts with
    ``min(spark.sql.shuffle.partitions, defaultParallelism)`` partitions — one
    wave of tasks per batch — and restores the session value once ``start()``
    returns or raises. ``StreamExecution`` clones the session in its
    constructor, so the running query keeps the smaller count while batch
    queries keep the session's value. The drain's checkpoints go through
    ``FileSystemBasedCheckpointFileManager``, swapped in and restored the
    same way: the default FileContext manager forks a ``readlink`` per
    rename and status check when the native Hadoop library is missing.

    Drains run one at a time (a module lock around the swap, ``start()``,
    ``awaitTermination()`` and the ``StateStore.stop()`` unload below): two
    overlapping swaps would restore each other's values, and the unload
    would drop a running query's state stores."""
    if output_mode is None:
        plan = stream_df._jdf.queryExecution().analyzed().toString()
        output_mode = "complete" if "Aggregate" in plan else "append"
    parts = "spark.sql.shuffle.partitions"
    manager = "spark.sql.streaming.checkpointFileManagerClass"
    with _DRAIN:
        # None for a key the session never set (get(key, None) does not fall
        # back to Spark's default): it is unset again afterwards
        saved = {key: spark.conf.get(key, None) for key in (parts, manager)}
        spark.conf.set(
            parts,
            str(min(int(spark.conf.get(parts)), spark.sparkContext.defaultParallelism)),
        )
        spark.conf.set(manager, _CHECKPOINT_MANAGER)
        try:
            q = (
                stream_df.writeStream.format("memory")
                .queryName(table_name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
        finally:
            for key, value in saved.items():
                if value is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, value)
        q.awaitTermination()
        # r12 (guide §5): unload the terminated query's state-store providers.
        # Stateful availableNow drains (dropDuplicates, stream-stream joins,
        # flatMapGroupsWithState) leave their HDFSBackedStateStoreProvider maps
        # loaded until a lazy maintenance unload — measured r11: back-to-back
        # re-drains of stream_dedup_counts in ONE session grew 7.9 → 14.0 →
        # 68.5 s and eventually OOMed the probe session. StateStore.stop()
        # unloads every provider and halts the maintenance task; the next
        # streaming query re-initializes both on demand. Safe here because the
        # drained query has terminated and no other drain runs (``_DRAIN``);
        # a service running CONCURRENT stateful streams must not call it
        # mid-flight (it would drop live providers to a cold reload).
        try:
            jvm = spark._jvm
            jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:
            pass  # py4j surface moved — the drain result is already materialized
    return spark.table(table_name)


def sliding_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding event-time window counts (each event lands in window/slide
    overlapping windows). Same tz-independent label rebuild as
    :func:`windowed_counts`; on a stream the watermark bounds state to the
    open windows."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    ntz_start = (
        "TIMESTAMP_NTZ '1970-01-01 00:00:00' "
        "+ make_dt_interval(0, 0, 0, unix_timestamp(w.start))"
    )
    return (
        events.groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.expr(ntz_start), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
        )
    )


def rank_topk_per_window(agg: DataFrame, k: int = 3) -> DataFrame:
    """Batch-side rank over a drained sliding-window aggregate — the standard
    trending-topk split: streaming does the stateful counting (no window
    functions exist on unbounded streams), the tiny per-window result ranks
    in a follow-up batch step (a foreachBatch body in production). The
    window partition holds |event_types| rows, never corpus rows."""
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("window_start", "event_type", "n", "rank")
    )

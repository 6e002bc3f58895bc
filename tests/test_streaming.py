"""Batch/stream parity: the windowed rollup computed by Structured Streaming
replay must equal the same logical plan run as a batch query — Structured
Streaming is incremental execution of the identical plan.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _batch_events_instant(spark, sf_dir):
    """Batch view of events with instant (TIMESTAMP) semantics, same as
    read_events_stream: naive stored nanos taken as UTC wall-clock."""
    import os

    from hadoop_3_0_0_beta1_gaia_spark.session import instant_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    return instant_ts(df, "ts")


def test_stream_equals_batch_windowed_counts(spark, sf_dir):
    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        windowed_counts,
    )

    stream_out = run_to_memory(
        windowed_counts(read_events_stream(spark, sf_dir)),
        "parity_sink",
        spark,
    )
    batch_out = windowed_counts(_batch_events_instant(spark, sf_dir))

    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    s = {key(r): (r["n"], r["sum_value"]) for r in stream_out.collect()}
    b = {key(r): (r["n"], r["sum_value"]) for r in batch_out.collect()}
    assert s == b
    assert len(s) > 0


def test_run_to_memory_drains_non_aggregate_stream(spark, sf_dir):
    """A non-aggregated stream (exactly-once dedup) must drain through the
    generic helper: output mode auto-selects 'append' (Structured Streaming
    rejects 'complete' for non-aggregate queries)."""
    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        dedup_exactly_once,
        read_events_stream,
        run_to_memory,
    )

    out = run_to_memory(
        dedup_exactly_once(read_events_stream(spark, sf_dir)),
        "dedup_append_sink",
        spark,
    )
    n_stream = out.count()
    n_batch = dedup_exactly_once(_batch_events_instant(spark, sf_dir)).count()
    assert n_stream == n_batch > 0


def test_repeated_stateful_drains_unload_state_stores(spark, sf_dir):
    """r12 (guide §5): back-to-back availableNow drains of a STATEFUL query
    in one session must not accrue state-store providers — r11 measured
    repeat drains of stream_dedup_counts growing 7.9 → 14.0 → 68.5 s until
    a probe session OOMed, because dropDuplicates state maps from prior
    drains unload only lazily. run_to_memory now stops the state store
    after each drain: the maintenance task must be gone and a re-drain must
    return identical rows (a fresh provider, not a poisoned reload)."""
    from hadoop_3_0_0_beta1_gaia_spark.plans.media_stream import (
        stream_dedup_counts,
    )

    first = sorted(map(tuple, stream_dedup_counts(spark, sf_dir).collect()))
    ss = spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    assert not ss.isMaintenanceRunning()
    second = sorted(map(tuple, stream_dedup_counts(spark, sf_dir).collect()))
    assert first == second and len(first) > 0
    assert not ss.isMaintenanceRunning()


def test_stream_sessionize_equals_batch(spark, sf_dir):
    """Session windows computed incrementally (availableNow drain) must match
    the batch session_window aggregation — closed-session parity."""
    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sessionize,
    )

    stream_out = run_to_memory(
        sessionize(read_events_stream(spark, sf_dir)), "session_sink", spark
    )
    batch_out = sessionize(_batch_events_instant(spark, sf_dir))
    key = lambda r: (r["user_id"], r["session_start"])  # noqa: E731
    s = {key(r): (r["n_events"], r["sum_value"]) for r in stream_out.collect()}
    b = {key(r): (r["n_events"], r["sum_value"]) for r in batch_out.collect()}
    assert s == b and len(s) > 0


def test_apply_in_pandas_with_state_totals(spark, sf_dir):
    """Custom GroupState operator: after draining the bounded stream, the
    latest per-user running totals must equal the batch groupBy totals."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        read_events_stream,
        running_user_totals,
    )

    q = (
        running_user_totals(read_events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName("state_sink")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode appends one row per (user, batch); keep the last per user
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in spark.table("state_sink").collect()
    }

    batch = (
        _batch_events_instant(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    expected = {r["user_id"]: (r["n"], r["s"]) for r in batch.collect()}
    assert got == expected


def test_watermark_bounds_state(spark, sf_dir):
    """The streaming plan carries the watermark node (state-bound contract)."""
    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        read_events_stream,
        windowed_counts,
    )

    plan = windowed_counts(read_events_stream(spark, sf_dir))
    assert plan.isStreaming
    assert "EventTimeWatermark" in plan._jdf.queryExecution().analyzed().toString()


def test_stream_interval_join_equals_batch(spark, sf_dir):
    """Stream-stream interval join (clicks→purchases attribution) drained with
    availableNow must equal the identical batch interval join, and every match
    must respect the [0, 30 min] attribution window."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        attribution_join,
        read_events_stream,
        run_to_memory,
    )

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    stream_out = run_to_memory(
        attribution_join(*split(read_events_stream(spark, sf_dir))),
        "interval_join_sink",
        spark,
    )
    batch_out = attribution_join(*split(_batch_events_instant(spark, sf_dir)))

    key = lambda r: (r["click_id"], r["purchase_id"])  # noqa: E731
    s = {key(r): (r["user_id"], r["delay_s"], r["purchase_value"]) for r in stream_out.collect()}
    b = {key(r): (r["user_id"], r["delay_s"], r["purchase_value"]) for r in batch_out.collect()}
    assert s == b and len(s) > 0
    assert all(0 <= d <= 1800 for (_u, d, _v) in s.values())


def test_instant_ts_handles_both_stored_shapes(spark):
    """pyspark <=4.0 reads parquet TIMESTAMP(NANOS) as bigint under the
    legacy nanosAsLong conf; 4.1+ ignores that conf and yields TIMESTAMP_NTZ.
    instant_ts must produce the identical instant from either shape, without
    consulting the session timezone."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.session import instant_ts

    nanos = 1704067207179575123  # 2024-01-01 00:00:07.179575123 UTC
    as_long = spark.range(1).select(F.lit(nanos).alias("ts"))
    as_ntz = spark.range(1).select(
        F.expr(
            "TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval(0, 0, 0, "
            f"CAST({nanos} DIV 1000 AS DECIMAL(20,0)) / 1000000)"
        ).alias("ts")
    )
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        got = {
            kind: instant_ts(df).select(F.unix_micros("ts")).collect()[0][0]
            for kind, df in [("long", as_long), ("ntz", as_ntz)]
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert got["long"] == got["ntz"] == nanos // 1000
    passthrough = instant_ts(as_long).select(F.col("ts"))
    assert instant_ts(passthrough).schema["ts"].dataType.simpleString() == "timestamp"


def test_stream_equals_batch_sliding_topk(spark, sf_dir):
    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        rank_topk_per_window,
        read_events_stream,
        run_to_memory,
        sliding_counts,
    )

    stream_out = rank_topk_per_window(
        run_to_memory(
            sliding_counts(read_events_stream(spark, sf_dir)),
            "sliding_parity_sink",
            spark,
        )
    )
    batch_out = rank_topk_per_window(
        sliding_counts(_batch_events_instant(spark, sf_dir))
    )
    key = lambda r: (r["window_start"], r["rank"])  # noqa: E731
    s = {key(r): (r["event_type"], r["n"]) for r in stream_out.collect()}
    b = {key(r): (r["event_type"], r["n"]) for r in batch_out.collect()}
    assert s == b and len(s) > 0
    # sliding: every event lands in exactly 2 windows -> window count is
    # one more than the tumbling hour count
    assert max(r["rank"] for r in batch_out.collect()) <= 3


def test_run_to_memory_sizes_state_to_cores(spark, sf_dir):
    """A drained stateful query runs min(shuffle.partitions,
    defaultParallelism) state partitions — streaming is the path AQE cannot
    coalesce — while the session keeps its own value afterwards, also when
    start() raises."""
    import threading

    import pytest
    from pyspark.errors import AnalysisException
    from pyspark.sql.streaming import StreamingQueryListener

    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sliding_counts,
    )

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.parts = []
            self.done = threading.Event()

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.parts += [s.numShufflePartitions for s in event.progress.stateOperators]

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            self.done.set()

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    before = spark.conf.get(key)
    # more partitions than cores, so the drain must size down
    spark.conf.set(key, str(cores + 3))
    listener = Listener()
    spark.streams.addListener(listener)
    try:
        run_to_memory(
            sliding_counts(read_events_stream(spark, sf_dir)),
            "state_sizing_sink",
            spark,
        )
        assert listener.done.wait(60)
        assert spark.conf.get(key) == str(cores + 3)
        assert listener.parts and set(listener.parts) == {cores}

        # complete mode on a non-aggregated stream fails inside start()
        with pytest.raises(AnalysisException):
            run_to_memory(
                read_events_stream(spark, sf_dir),
                "state_sizing_bad_sink",
                spark,
                output_mode="complete",
            )
        assert spark.conf.get(key) == str(cores + 3)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set(key, before)


def test_checkpoint_restart_resumes_incrementally(spark, tmp_path):
    """Exactly-once across restarts: a checkpointed file-source stream stopped
    and restarted with MORE files must process only the new files (offset
    recovery), and the downstream parquet sink must contain each input row
    exactly once."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    def write_batch(name, ids):
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64())}), str(src / name)
        )

    def run_once():
        stream = (
            spark.readStream.schema("id long").parquet(str(src))
            .withColumn("doubled", F.col("id") * 2)
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch("a.parquet", [1, 2, 3])
    run_once()
    first = spark.read.parquet(str(sink)).count()
    assert first == 3

    write_batch("b.parquet", [10, 11])
    run_once()
    rows = sorted(
        (r["id"], r["doubled"]) for r in spark.read.parquet(str(sink)).collect()
    )
    # no reprocessing of a.parquet, both new rows present, all exactly once
    assert rows == [(1, 2), (2, 4), (3, 6), (10, 20), (11, 22)]


def test_late_data_drop_semantics(spark, sf_dir):
    """Pins Spark 4.1's actual late-data contract, which the
    stream_late_data_drop oracle encodes: the late filter uses the PREVIOUS
    micro-batch's watermark (one-batch propagation delay), so the first
    straggler wave is ADMITTED (its windows appear) while the second wave —
    arriving after the watermark has propagated — is DROPPED (its windows
    are absent and never update-emitted twice)."""
    from hadoop_3_0_0_beta1_gaia_spark.plans.media_stream import (
        _HOUR_US,
        _LATE_CUT_A_US,
        _LATE_CUT_B_US,
    )
    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import queries

    import duckdb

    con = duckdb.connect()
    tmax, tmin = con.execute(
        f"SELECT max(epoch_ns(ts) // 1000), min(epoch_ns(ts) // 1000) "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchone()
    con.close()
    cuta = ((tmax - _LATE_CUT_A_US) // _HOUR_US) * _HOUR_US
    cutb = ((tmax - _LATE_CUT_B_US) // _HOUR_US) * _HOUR_US
    assert tmin < cutb  # wave 2 is nonempty: the drop is actually exercised

    rows = queries()["stream_late_data_drop"](spark, sf_dir).collect()
    import datetime as dt

    def win_us(r):
        t = dt.datetime.strptime(r["window_start"], "%Y-%m-%d %H:%M")
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000

    assert all(win_us(r) >= cutb for r in rows)  # wave 2 fully dropped
    assert any(win_us(r) < cuta for r in rows)  # wave 1 admitted (delay)
    assert any(win_us(r) >= cuta for r in rows)  # on-time present
    # hour-aligned splits: no window was update-emitted twice
    keys = [(r["window_start"], r["event_type"]) for r in rows]
    assert len(keys) == len(set(keys))


def test_drain_checkpoints_through_filesystem_manager(spark, sf_dir, monkeypatch):
    """The drain's offset and commit logs go through the FileSystem-based
    checkpoint manager (the FileContext one forks a ``readlink`` per file
    operation without the native Hadoop library), and the session's own
    value of the setting is back afterwards."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sliding_counts,
    )

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    key = "spark.sql.streaming.checkpointFileManagerClass"
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    session_value = pkg + "FileContextBasedCheckpointFileManager"
    spark.conf.set(key, session_value)
    try:
        out = run_to_memory(
            sliding_counts(read_events_stream(spark, sf_dir)), "fs_manager_sink", spark
        )
        assert out.count() > 0
        assert spark.conf.get(key) == session_value
    finally:
        spark.conf.unset(key)
    (q,) = started
    execution = q._jsq.streamingQuery()
    for log in (execution.offsetLog(), execution.commitLog()):
        assert log.fileManager().getClass().getName() == pkg + "FileSystemBasedCheckpointFileManager"


def test_concurrent_drains_run_one_at_a_time(spark, sf_dir):
    """Two threads draining at once get the results each drain gets alone,
    and the session values the drain swaps read back unchanged."""
    import threading

    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sliding_counts,
        windowed_counts,
    )

    kernels = {"sliding": sliding_counts, "windowed": windowed_counts}

    def drain(name, sink):
        rows = run_to_memory(kernels[name](read_events_stream(spark, sf_dir)), sink, spark)
        return sorted(tuple(r) for r in rows.collect())

    parts = "spark.sql.shuffle.partitions"
    manager = "spark.sql.streaming.checkpointFileManagerClass"
    before = spark.conf.get(parts)
    spark.conf.set(parts, str(spark.sparkContext.defaultParallelism + 3))
    try:
        alone = {name: drain(name, f"alone_{name}_sink") for name in kernels}
        together, errors = {}, []

        def run(name):
            try:
                together[name] = drain(name, f"together_{name}_sink")
            except Exception as err:  # noqa: BLE001 - reported below
                errors.append(err)

        threads = [threading.Thread(target=run, args=(name,)) for name in kernels]
        for t in threads:
            t.start()
        for t in threads:
            t.join(300)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert together == alone and all(alone.values())
        assert spark.conf.get(parts) == str(spark.sparkContext.defaultParallelism + 3)
        assert spark.conf.get(manager, None) is None
    finally:
        spark.conf.set(parts, before)


def test_drain_on_a_session_without_shuffle_partitions_set(spark, sf_dir, monkeypatch):
    """A session that never set ``spark.sql.shuffle.partitions`` (a plain
    ``SparkSession``, as the driver protocol builds) drains with
    min(Spark's default 200, cores) state partitions, and the setting is
    unset again afterwards."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        sliding_counts,
    )

    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.unset(key)
    try:
        assert spark.conf.get(key, None) is None
        out = run_to_memory(
            sliding_counts(read_events_stream(spark, sf_dir)), "unset_parts_sink", spark
        )
        assert out.count() > 0
        assert spark.conf.get(key, None) is None
    finally:
        spark.conf.set(key, before)
    (q,) = started
    parts = {
        op.numShufflePartitions()
        for progress in q._jsq.recentProgress()
        for op in progress.stateOperators()
    }
    assert parts == {min(200, spark.sparkContext.defaultParallelism)}


def test_drain_keeps_a_running_stream_state_stores(spark, sf_dir, tmp_path):
    """A drain while another stateful query of the session runs leaves the
    state stores loaded: the running query stays active without an error,
    and its next batch counts what a batch query over the same files counts.
    Once no query runs, a drain unloads them again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_3_0_0_beta1_gaia_spark.streaming.events import (
        read_events_stream,
        run_to_memory,
        windowed_counts,
    )

    src = tmp_path / "src"
    src.mkdir()

    def write(name, keys):
        pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}), str(src / name))

    def drain(sink):
        return run_to_memory(windowed_counts(read_events_stream(spark, sf_dir)), sink, spark)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    ss = spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore
    write("a.parquet", [1, 1, 2])
    live = (
        spark.readStream.schema("k long").parquet(str(src))
        .groupBy("k").count()
        .writeStream.format("memory").queryName("live_counts_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        live.processAllAvailable()
        assert ss.isMaintenanceRunning()
        assert rows(drain("beside_live_sink"))
        assert live.isActive and live.exception() is None
        assert ss.isMaintenanceRunning()

        write("b.parquet", [1, 3])
        live.processAllAvailable()
        assert live.isActive and live.exception() is None
        expected = rows(spark.read.parquet(str(src)).groupBy("k").count())
        assert rows(spark.table("live_counts_sink")) == expected == [(1, 3), (2, 1), (3, 1)]
    finally:
        live.stop()
    drain("after_live_sink")
    assert not ss.isMaintenanceRunning()

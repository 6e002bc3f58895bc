"""The workloads: which jobs they run and how each job is checked.

``llm_pipeline`` and ``stream_replay`` are the workloads BENCHMARK.json
names. ``relational`` and ``terasort`` run the same way from the command
line; with their 15-20 s cold passes on a 4-core host, four workloads do not
fit the benchmark's hour of repeated runs.

A job is a name plus ``run(ctx) -> Output``. ``run`` makes the calls into
the engine's modules (inside tracer spans) and returns the DataFrame whose
every row and column the pass materializes, or, for TeraSort, the
validation result. The output check compares a job's collected rows with its
registry oracle SQL evaluated by DuckDB over the same generated files.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable

# Input scale per workload, as a multiple of the sf0.1 row counts.
SCALES = {"relational": 0.5, "llm_pipeline": 0.2, "terasort": 0.5, "stream_replay": 0.1}

RELATIONAL = [
    "q1_pricing_summary", "join_inner_nway", "join_broadcast_parts",
    "join_theta_datajoin", "top_k_orders", "global_sort_rank",
    "secondary_sort", "events_hour_rollup",
]
LLM_PIPELINE = [
    "word_count", "dedup_minhash_lsh", "dsir_importance_select", "knn_cosine_topk",
]
STREAM_REPLAY = ["stream_sliding_topk"]
TERASORT = ["teragen_checksum", "terasort_write", "teravalidate"]

WORKLOADS = {
    "relational": RELATIONAL,
    "llm_pipeline": LLM_PIPELINE,
    "terasort": TERASORT,
    "stream_replay": STREAM_REPLAY,
}

# oracle views per workload: table the DuckDB side registers -> its files
VIEWS = {
    "relational": {t: f"{t}.parquet" for t in (
        "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")},
    "llm_pipeline": {"documents": "documents.parquet", "embeddings": "embeddings.parquet"},
    "stream_replay": {"events": "stream/*.parquet"},
    "terasort": {"tera": "tera.parquet"},
}


@dataclass
class Ctx:
    """What a job needs: the session, the input directory and the tracer."""

    spark: Any
    in_dir: str
    work_dir: str
    tracer: Any
    state: dict = field(default_factory=dict)


@dataclass
class Output:
    df: Any = None  # materialized by the pass (noop sink)
    layer: str = "plans"  # layer the materializing action is charged to
    ok: bool | None = None  # set when the job validates itself (TeraSort)


def relational_job(name: str) -> Callable[[Ctx], Output]:
    def run(ctx: Ctx) -> Output:
        from hadoop_3_0_0_beta1_gaia_spark.plans.registry import all_entries

        entry = all_entries()[name]
        with ctx.tracer.span("build", "plans"):
            df = entry.build(ctx.spark, ctx.in_dir)
        return Output(df=df)

    return run


# ---------------------------------------------------------------------------
# stream_replay: availableNow drains over the staged event files
# ---------------------------------------------------------------------------


def _event_stream(ctx: Ctx):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType,
    )

    from hadoop_3_0_0_beta1_gaia_spark.session import instant_ts

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ])
    # one staged file per micro-batch
    raw = ctx.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        os.path.join(ctx.in_dir, "stream"))
    with ctx.tracer.span("instant_ts", "session"):
        return instant_ts(raw, "ts")


def _drain(ctx: Ctx, df, sink: str):
    from hadoop_3_0_0_beta1_gaia_spark.streaming import events as ev

    with ctx.tracer.span("run_to_memory", "streaming"):
        return ev.run_to_memory(df, sink, ctx.spark)


def stream_sliding_topk(ctx: Ctx) -> Output:
    from hadoop_3_0_0_beta1_gaia_spark.streaming import events as ev

    with ctx.tracer.span("sliding_counts", "streaming"):
        agg = ev.sliding_counts(_event_stream(ctx), window="2 hours", slide="1 hour")
    drained = _drain(ctx, agg, "pb_stream_sliding_topk")
    with ctx.tracer.span("rank_topk_per_window", "streaming"):
        return Output(df=ev.rank_topk_per_window(drained, k=3), layer="streaming")


# ---------------------------------------------------------------------------
# terasort: checksum -> total-order sort -> parquet write -> read-back -> validate
# ---------------------------------------------------------------------------


def _tera_partitions(ctx: Ctx) -> int:
    return 2 * ctx.spark.sparkContext.defaultParallelism


def teragen_checksum(ctx: Ctx) -> Output:
    from hadoop_3_0_0_beta1_gaia_spark.operators import terasort as ts

    with ctx.tracer.span("read_parquet", "sources"):
        src = ctx.spark.read.parquet(os.path.join(ctx.in_dir, "tera.parquet"))
    with ctx.tracer.span("checksum", "operators"):
        ctx.state["checksum_in"] = ts.checksum(src)
    return Output()


def terasort_write(ctx: Ctx) -> Output:
    from hadoop_3_0_0_beta1_gaia_spark.operators import terasort as ts
    from hadoop_3_0_0_beta1_gaia_spark.sources.writers import write_parquet

    src = ctx.spark.read.parquet(os.path.join(ctx.in_dir, "tera.parquet"))
    with ctx.tracer.span("terasort", "operators"):
        sorted_df = ts.terasort(src, num_partitions=_tera_partitions(ctx))
    with ctx.tracer.span("write_parquet", "sources"):
        write_parquet(sorted_df, os.path.join(ctx.work_dir, "tera_sorted"))
    return Output()


def teravalidate(ctx: Ctx) -> Output:
    from hadoop_3_0_0_beta1_gaia_spark.operators import terasort as ts

    out = os.path.join(ctx.work_dir, "tera_sorted")
    parts = sorted(f for f in os.listdir(out) if f.startswith("part-"))
    # one read per part file, unioned in part order: the read-back keeps
    # the sort's partition order (a single directory scan would pack small
    # files into splits by size and lose it)
    with ctx.tracer.span("read_back", "sources"):
        back = reduce(
            lambda a, b: a.unionAll(b),
            [ctx.spark.read.parquet(os.path.join(out, f)) for f in parts],
        )
    with ctx.tracer.span("teravalidate", "operators"):
        v = ts.teravalidate(back, ctx.state["checksum_in"])
    ctx.state["validation"] = v
    return Output(ok=v.ok and v.n_rows == ctx.state["tera_rows"])


_STREAM_JOBS = {"stream_sliding_topk": stream_sliding_topk}
_TERA_JOBS = {f.__name__: f for f in (teragen_checksum, terasort_write, teravalidate)}


def job_runner(workload: str, name: str) -> Callable[[Ctx], Output]:
    if workload == "stream_replay":
        return _STREAM_JOBS[name]
    if workload == "terasort":
        return _TERA_JOBS[name]
    return relational_job(name)


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------


def norm(rows, cols) -> list[tuple]:
    """Order-insensitive form of a result: columns sorted by name, floats
    rounded to 9 digits, rows sorted, as ``tools/driver_check.py`` compares
    (a copy, so that no change outside the benchmark's own files can alter
    its check)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return out


def oracle_connection(workload: str, in_dir: str):
    import duckdb

    con = duckdb.connect()
    for t, files in VIEWS[workload].items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(in_dir, files)}'")
    return con


def check(con, name: str, spark_cols: list[str], spark_rows: list[tuple]) -> str | None:
    """Compare a job's collected result with the registry oracle of ``name``;
    None when equal."""
    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import all_entries

    sql = all_entries()[name].oracle
    if sql is None:
        return f"{name}: no oracle"
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(spark_cols) != sorted(duck_cols):
        return f"{name}: columns {spark_cols} vs {duck_cols}"
    if len(spark_rows) != len(duck_rows):
        return f"{name}: {len(spark_rows)} rows vs {len(duck_rows)}"
    ns, nd = norm(spark_rows, spark_cols), norm(duck_rows, duck_cols)
    if ns != nd:
        first = next((a, b) for a, b in zip(ns, nd) if a != b)
        return f"{name}: values differ, first {first}"
    return None

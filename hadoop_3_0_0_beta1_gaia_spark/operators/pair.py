"""Pair-ops kernel — the MapReduce programming model on DataFrames.

The reference's fundamental surface is (key, value) pair streams through
map → partition/sort/shuffle → reduce (Mapper.java:113-142, Reducer.java:147-167,
Partitioner.java:58 — SURVEY §1.1/§2.12). This module is the idiomatic-Spark
home for that model: a thin veneer over DataFrame ops so "a MapReduce job"
is expressible while Catalyst still owns planning.

Design notes:
- map/flat_map take *expressions* (JVM path); arbitrary-Python mappers are a
  plain ``df.mapInPandas`` (Arrow batches), never row-at-a-time RDD lambdas.
- reduce_by_key / combine_by_key are groupBy.agg — partial aggregation (the
  Combiner) is automatic in Catalyst's HashAggregate.
- counters use DataFrame.observe (exact, unlike accumulators under retries —
  SURVEY §7.3 risk list).
- group_sorted_values is the secondary-sort contract: values per key in a
  deterministic order (SecondarySort.java pattern).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def to_kv(df: DataFrame, key: Column | str, value: Column | str) -> DataFrame:
    """Project any DataFrame to the canonical (key, value) shape."""
    k = F.col(key) if isinstance(key, str) else key
    v = F.col(value) if isinstance(value, str) else value
    return df.select(k.alias("key"), v.alias("value"))


def map_kv(df: DataFrame, key_expr: Column, value_expr: Column) -> DataFrame:
    """Mapper with 1→1 emit: pure projection (stays in codegen)."""
    return df.select(key_expr.alias("key"), value_expr.alias("value"))


def flat_map_values(df: DataFrame, values_expr: Column) -> DataFrame:
    """Mapper with 1→N emit over an array expression (explode — the
    TokenCounterMapper shape)."""
    return df.select(F.col("key"), F.explode(values_expr).alias("value"))


def reduce_by_key(df: DataFrame, agg: Column, out: str = "value") -> DataFrame:
    """Reducer with a declarative aggregate (IntSumReducer family):
    groupBy(key).agg — Catalyst inserts the map-side partial agg."""
    return df.groupBy("key").agg(agg.alias(out))


def combine_by_key(df: DataFrame, *aggs: Column) -> DataFrame:
    """Multi-aggregate reduce (the ValueAggregator shape)."""
    return df.groupBy("key").agg(*aggs)


def partition_by(df: DataFrame, num_partitions: int, *cols: Column | str) -> DataFrame:
    """HashPartitioner analog (HashPartitioner.java:31): co-locate equal keys.
    With no cols, partitions on `key`."""
    cols = cols or ("key",)
    return df.repartition(num_partitions, *cols)


def sort_by(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Global total-order sort (TotalOrderPartitioner + shuffle sort)."""
    return df.orderBy(*cols)


def group_sorted_values(
    df: DataFrame,
    order: list[Column] | None = None,
) -> DataFrame:
    """Reducer-iteration contract: (key, values sorted by `order`) — the
    secondary-sort guarantee. Spark does NOT promise group order, so the sort
    is explicit: array_sort over collected (order-cols, value) structs."""
    order = order or [F.col("value")]
    packed = F.struct(*order, F.col("value").alias("__v"))
    return (
        df.groupBy("key")
        .agg(F.array_sort(F.collect_list(packed)).alias("__sorted"))
        .select(
            "key",
            F.transform(F.col("__sorted"), lambda s: s["__v"]).alias("values"),
        )
    )


def group_by_comparator(
    df: DataFrame,
    group_expr: Column,
    order: list[Column],
    value_col: str = "value",
) -> DataFrame:
    """Grouping-comparator contract (JobConf.setOutputValueGroupingComparator;
    the SecondarySort.java FirstGroupingComparator pattern — SURVEY §2.4):
    reduce groups are formed by a COARSER comparator than the full sort key —
    expressed here as the derived ``group_expr`` — while values still iterate
    in full key-sort ``order``, and the reducer observes the FIRST full key of
    each group (the reference hands it the first-arriving composite key).

    Output: (group, first_key struct of the order columns, values array in
    order). Group state is the group's own rows only — same memory posture as
    the reference's reduce iterator.
    """
    packed = F.struct(*order, F.col(value_col).alias("__v"))
    g = df.groupBy(group_expr.alias("group")).agg(
        F.array_sort(F.collect_list(packed)).alias("__s")
    )
    first = F.element_at("__s", 1)
    return g.select(
        "group",
        first.dropFields("__v").alias("first_key"),
        F.transform("__s", lambda s: s["__v"]).alias("values"),
    )


def reduce_groups_pandas(
    df: DataFrame,
    fn: Callable,
    schema: str,
    key_col: str = "key",
) -> DataFrame:
    """Procedural Reducer (Reducer.java:147): per-group Python over Arrow
    batches via applyInPandas. The fn receives the whole group as a pandas
    DataFrame — sort inside fn if iteration order matters (Spark does not
    guarantee it)."""
    return df.groupBy(key_col).applyInPandas(fn, schema=schema)


def reduce_groups_arrow(
    df: DataFrame,
    fn: Callable,
    schema: str,
    key_col: str = "key",
) -> DataFrame:
    """Procedural Reducer on the low-overhead Arrow surface: per-group Python
    via applyInArrow — the fn receives a ``pyarrow.Table`` and skips the
    pandas conversion applyInPandas pays per group (~6x faster on many small
    groups; same per-group call semantics). Sort inside fn if iteration
    order matters."""
    return df.groupBy(key_col).applyInArrow(fn, schema=schema)


def with_counter(
    df: DataFrame, name: str, *exprs: Column
) -> tuple[DataFrame, Observation]:
    """Distributed named counters (Counter.java → df.observe; exact under
    task retries, unlike raw accumulators). Read obs.get after an action."""
    obs = Observation(name)
    return df.observe(obs, *exprs), obs

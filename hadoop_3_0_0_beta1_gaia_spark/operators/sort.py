"""Total-order sort / global ranking — TotalOrderPartitioner family.

Re-expresses the reference's global-sort surface (SURVEY §2.4/§2.7):
- TotalOrderPartitioner + InputSampler (LIB/partition/TotalOrderPartitioner.java,
  InputSampler.java:97-312): range-partition by sampled split points →
  ``repartitionByRange`` (Spark's RangePartitioner reservoir-samples keys
  internally, exactly the InputSampler.writePartitionFile job).
- Sort example (MR-EX/Sort.java:98-167) → ``df.orderBy``.
- Global rank assignment: the scalable replacement for a single-partition
  window — two-phase (per-partition rank + partition offset), the same trick
  the reference's TotalOrderPartitioner enables for its single-reducer-free
  total sort.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import owned_persist

from ..functions.dedup import md5_long


def total_order_sort(df: DataFrame, *cols: Column | str) -> DataFrame:
    """Globally-ordered output: RangePartitioning + per-partition sort —
    exactly TotalOrderPartitioner + the always-on shuffle sort."""
    return df.orderBy(*cols)


def binary_partition(
    df: DataFrame,
    num_partitions: int,
    key: Column | str,
    left_offset: int = 0,
    right_offset: int | None = None,
) -> DataFrame:
    """BinaryPartitioner (LIB/partition/BinaryPartitioner.java): co-locate
    rows by a byte/char-range slice of the key — ``repartition`` on the
    substring. Offsets are 0-based; ``right_offset`` is inclusive (the
    reference's left/right offset config), None = through end of key."""
    k = F.col(key) if isinstance(key, str) else key
    if right_offset is None:
        sl = F.substring(k.cast("string"), left_offset + 1, 1 << 30)
    else:
        sl = F.substring(k.cast("string"), left_offset + 1, right_offset - left_offset + 1)
    return df.repartition(num_partitions, sl)


def record_stats(df: DataFrame, key: str = "kv_key", value: str = "kv_value") -> DataFrame:
    """SortValidator record-stats triple (MR-JC .../mapred/SortValidator.java:54-357
    RecordStatsChecker): (record count, byte count, xor of per-record hashes).

    Order-insensitive multiset summary — equal stats on a sort's input and
    output prove the output is byte-identical content-wise (permutation
    check a), b), d) of the reference). One partial-aggregated pass, no
    shuffle beyond the 1-row final combine.
    """
    pair = F.concat(F.col(key), F.lit("\x00"), F.col(value))
    return df.select(
        F.count("*").cast("long").alias("n_records"),
        F.sum(F.octet_length(F.col(key)) + F.octet_length(F.col(value)))
        .cast("long")
        .alias("n_bytes"),
        F.bit_xor(md5_long(pair)).alias("xor_checksum"),
    )


@dataclass(frozen=True)
class SortValidationReport:
    """SortValidator verdict: record-stats parity + output order checks."""

    records_in: int
    records_out: int
    bytes_in: int
    bytes_out: int
    checksum_in: int
    checksum_out: int
    n_disorder: int
    n_boundary_violations: int
    deep_mismatches: int | None = None  # None unless deep=True

    @property
    def ok(self) -> bool:
        return (
            self.records_in == self.records_out
            and self.bytes_in == self.bytes_out
            and self.checksum_in == self.checksum_out
            and self.n_disorder == 0
            and self.n_boundary_violations == 0
            and not self.deep_mismatches
        )


def sort_validator(
    input_df: DataFrame,
    sorted_df: DataFrame,
    key: str = "kv_key",
    value: str = "kv_value",
    deep: bool = False,
) -> SortValidationReport:
    """Validate a total-order sort the SortValidator way (SortValidator.java:54-357):

    a) input and output have the same record and byte counts;
    b) xor'd per-record hashes match (content permutation proof);
    c) output is globally ordered (in-partition physical order + partition
       boundary keys — the TeraValidate scan);
    d) ``deep=True`` = the reference's ``-deep`` mode: prove every individual
       record appears in both sides with equal multiplicity — two distributed
       ``exceptAll`` passes instead of the reference's record-by-record job.
    """
    from .terasort import teravalidate

    si = record_stats(input_df, key, value).collect()[0]
    so = record_stats(sorted_df, key, value).collect()[0]
    order = teravalidate(sorted_df, checksum_in=0, key=key, value=value)
    deep_mismatches = None
    if deep:
        a = input_df.select(key, value)
        b = sorted_df.select(key, value)
        deep_mismatches = a.exceptAll(b).count() + b.exceptAll(a).count()
    return SortValidationReport(
        records_in=int(si["n_records"]),
        records_out=int(so["n_records"]),
        bytes_in=int(si["n_bytes"] or 0),
        bytes_out=int(so["n_bytes"] or 0),
        checksum_in=int(si["xor_checksum"] or 0),
        checksum_out=int(so["xor_checksum"] or 0),
        n_disorder=order.n_disorder,
        n_boundary_violations=order.n_boundary_violations,
        deep_mismatches=deep_mismatches,
    )


def global_rank(
    df: DataFrame,
    sort_cols: list[Column],
    rank_name: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign a 1-based dense global row number under a total order, at scale.

    A naive ``row_number() OVER (ORDER BY …)`` collapses the whole dataset
    into ONE partition — fine at sf0.01, fatal at 100 TB. Instead:

    1. ``repartitionByRange`` on the sort key (sampled split points — the
       InputSampler analog) and sort within partitions;
    2. count rows per range partition (tiny driver-side list, one row per
       partition);
    3. rank = row_number within partition + the partition's cumulative offset.

    The sort key must be a total order (add tie-breaker columns) so ranks are
    deterministic. The repartitioned frame is persisted so the count pass and
    the output pass see identical partitioning.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    part, counts = owned_persist(
        df.repartitionByRange(n, *sort_cols)
        .withColumn("__pid", F.spark_partition_id()),
        lambda f: dict(f.groupBy("__pid").count().collect()),
    )  # ≤ n entries — scale-safe
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_expr = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    w = Window.partitionBy("__pid").orderBy(*sort_cols)
    return (
        part.withColumn(
            rank_name,
            (F.row_number().over(w) + off_expr[F.col("__pid")]).cast("long"),
        )
        .drop("__pid")
    )


def global_running_total(
    df: DataFrame,
    sort_cols: list[Column],
    value_col: str,
    total_name: str = "running_total",
    num_partitions: int | None = None,
) -> DataFrame:
    """Inclusive global running sum of ``value_col`` under a total order, at
    scale — the prefix-sum sibling of :func:`global_rank`.

    Same two-phase shape: range-partition on the sort key, per-partition sums
    become a tiny offsets map (one row per partition on the driver), and the
    in-partition window sum plus the partition offset is the global prefix
    sum. A single-partition ``sum() OVER (ORDER BY …)`` would serialize the
    whole dataset through one task at 100 TB.

    ``value_col`` must be an integral column: integer prefix sums are exact
    and association-order-free, so the two-phase result is deterministic.
    A float column would silently truncate through the offsets map — rejected
    instead.

    The range-partitioned frame stays persisted after return (the returned
    DataFrame is lazy — unpersisting here would recompute it under the
    caller's action, losing the guarantee that both phases saw identical
    partitioning). Loop drivers (bench/soak) call
    ``spark.catalog.clearCache()`` between iterations; one-shot callers can
    do the same after their final action.
    """
    kind = df.schema[value_col].dataType.simpleString()
    if kind not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"global_running_total needs an integral value_col; got {kind!r}"
        )
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    part, sums = owned_persist(
        df.repartitionByRange(n, *sort_cols)
        .withColumn("__pid", F.spark_partition_id()),
        lambda f: dict(f.groupBy("__pid").agg(F.sum(value_col).alias("s")).collect()),
    )  # ≤ n entries — scale-safe
    offsets, acc = {}, 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += int(sums[pid] or 0)
    off_expr = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w = (
        Window.partitionBy("__pid")
        .orderBy(*sort_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        part.withColumn(
            total_name,
            (F.sum(value_col).over(w) + off_expr[F.col("__pid")]).cast("long"),
        )
        .drop("__pid")
    )

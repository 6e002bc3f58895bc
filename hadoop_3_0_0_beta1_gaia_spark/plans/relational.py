"""Relational inventory queries (SURVEY §2.3-§2.9).

Each entry pairs an idiomatic-Spark builder with a DuckDB oracle. Aggregates
over doubles are rounded identically on both sides (float sums are
order-dependent; rounding to 2-4 digits makes the hash comparison robust).
Dimension-table joins broadcast automatically under the session's
autoBroadcastJoinThreshold — the reference's DistributedCache replicated-join
idiom, now Catalyst's decision.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.aggregate import duckdb_value_histogram, value_aggregate, value_histogram
from ..operators.fieldsel import duckdb_field_select, field_select
from ..operators.join import broadcast_join, datajoin_theta, override_join
from ..operators.keyfield import duckdb_order_by, keyfield_sort_columns
from ..functions.dedup import duck_md5_long, expand_bucket_pairs, md5_long
from ..operators.sort import global_rank, record_stats, total_order_sort
from ..session import owned_persist, stage_dir
from ..session import table as T
from .registry import register

# ---------------------------------------------------------------------------
# §2.5 aggregation: the full map/combine/shuffle/reduce pipeline in one chain
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    # Exact-integer money arithmetic (round-5 fix): summing the raw DOUBLE
    # expressions is order-dependent, and at sf10 the two engines' partial-agg
    # orders drifted sum_charge across a cent boundary (…344.535: Spark .54,
    # DuckDB .53). Money columns are integral in cents / discount+tax in
    # percent (verified on the data), so every sum is an exact BIGINT — in
    # cents, cents·pct, cents·pct·pct units — and the 2-decimal outputs are
    # integer half-up division, identical on both engines at any SF below
    # BIGINT range (sum_charge < 2^63 cents·pct² ≈ sf3000). Averages divide
    # exact integers and fround (floor trick) the bit-identical quotient.
    oracle="""
        WITH f AS (
            SELECT l_returnflag, l_linestatus,
                   CAST(l_quantity AS BIGINT)                    AS qty,
                   CAST(round(l_extendedprice * 100) AS BIGINT)  AS cents,
                   CAST(round(l_discount * 100) AS BIGINT)       AS dpct,
                   CAST(round(l_tax * 100) AS BIGINT)            AS tpct
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        ),
        g AS (
            SELECT l_returnflag, l_linestatus,
                   sum(qty) AS sq, sum(cents) AS sc,
                   sum(cents * (100 - dpct)) AS sd,
                   sum(cents * (100 - dpct) * (100 + tpct)) AS sch,
                   sum(dpct) AS sdis, count(*) AS n
            FROM f GROUP BY l_returnflag, l_linestatus
        )
        SELECT l_returnflag, l_linestatus,
               CAST(sq AS DOUBLE)                        AS sum_qty,
               sc / 100.0                                AS sum_base_price,
               ((sd + 50) // 100) / 100.0                AS sum_disc_price,
               ((sch + 5000) // 10000) / 100.0           AS sum_charge,
               floor((sq / n) * 10000 + 0.5) / 10000     AS avg_qty,
               floor(((sc / n) / 100.0) * 10000 + 0.5) / 10000 AS avg_price,
               floor(((sdis / n) / 100.0) * 10000 + 0.5) / 10000 AS avg_disc,
               n                                         AS count_order
        FROM g
    """,
    ref="flagship: scan→filter→partial+final agg (Combiner, MapTask.java:1594) →Reducer.java:147",
)
def q1_pricing_summary(spark, sf_dir):
    from ..functions.rounding import fround

    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    f = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round(F.col("l_discount") * 100).cast("long").alias("dpct"),
        F.round(F.col("l_tax") * 100).cast("long").alias("tpct"),
    )
    g = f.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sq"),
        F.sum("cents").alias("sc"),
        F.sum(F.col("cents") * (100 - F.col("dpct"))).alias("sd"),
        F.sum(
            F.col("cents") * (100 - F.col("dpct")) * (100 + F.col("tpct"))
        ).alias("sch"),
        F.sum("dpct").alias("sdis"),
        F.count("*").alias("n"),
    )
    # integer half-up division back to 2-decimal dollars (exact at any SF
    # below BIGINT range); averages = fround of exact-integer quotients
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sq").cast("double").alias("sum_qty"),
        (F.col("sc") / 100.0).alias("sum_base_price"),
        (F.expr("(sd + 50) div 100") / 100.0).alias("sum_disc_price"),
        (F.expr("(sch + 5000) div 10000") / 100.0).alias("sum_charge"),
        fround(F.col("sq") / F.col("n"), 4).alias("avg_qty"),
        fround((F.col("sc") / F.col("n")) / 100.0, 4).alias("avg_price"),
        fround((F.col("sdis") / F.col("n")) / 100.0, 4).alias("avg_disc"),
        F.col("n").alias("count_order"),
    )


@register(
    "agg_value_descriptors",
    oracle="""
        SELECT event_type,
               round(sum(value), 2)                    AS sum_value,
               max(value)                              AS max_value,
               min(value)                              AS min_value,
               count(DISTINCT user_id)                 AS uniq_users,
               least(count(DISTINCT user_id), 26)      AS uniq_users_cap25,
               count(*)                                AS n_events
        FROM events GROUP BY event_type
    """,
    ref="ValueAggregator framework LIB/aggregate/ValueAggregatorBaseDescriptor.java:39-83; UniqValueCount.java:63-75 cap=truncation",
)
def agg_value_descriptors(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    # The ValueAggregator descriptor compiler builds the single groupBy.agg;
    # rounding the float sum afterwards keeps the oracle hash stable.
    out = value_aggregate(
        ev,
        "event_type",
        {
            "sum_value": ("DoubleValueSum", "value"),
            "uniq_users": ("UniqValueCount", "user_id"),
            "uniq_users_cap25": ("UniqValueCount:25", "user_id"),
        },
    )
    extra = ev.groupBy("event_type").agg(
        F.max("value").alias("max_value"),
        F.min("value").alias("min_value"),
        F.count("*").alias("n_events"),
    )
    return out.withColumn("sum_value", F.round("sum_value", 2)).join(
        extra, "event_type"
    )


@register(
    "agg_string_minmax",
    oracle="""
        SELECT c_nationkey,
               max(c_name) AS max_name, min(c_name) AS min_name,
               max(c_acctbal) AS max_bal, min(c_acctbal) AS min_bal,
               count(*) AS n_customers
        FROM customer GROUP BY c_nationkey
    """,
    ref="StringValueMax/Min, LongValueMax/Min — LIB/aggregate/*.java (SURVEY §2.5)",
)
def agg_string_minmax(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.max("c_name").alias("max_name"),
        F.min("c_name").alias("min_name"),
        F.max("c_acctbal").alias("max_bal"),
        F.min("c_acctbal").alias("min_bal"),
        F.count("*").alias("n_customers"),
    )


@register(
    "value_histogram_events",
    oracle=duckdb_value_histogram("events", "event_type", "user_id"),
    ref="ValueHistogram.java:38-169 — stats over the value-frequency distribution",
)
def value_histogram_events(spark, sf_dir):
    return value_histogram(T(spark, sf_dir, "events"), "event_type", "user_id")


# ---------------------------------------------------------------------------
# §2.6 joins
# ---------------------------------------------------------------------------


@register(
    "join_inner_nway",
    oracle="""
        SELECT r_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(DISTINCT o_orderkey) AS n_orders
        FROM region
        JOIN nation   ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY r_name
    """,
    ref="CompositeInputFormat inner join LIB/join/InnerJoinRecordReader.java:34-45; N-way chained",
)
def join_inner_nway(spark, sf_dir):
    region = T(spark, sf_dir, "region")
    nation = T(spark, sf_dir, "nation")
    customer = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    lineitem = T(spark, sf_dir, "lineitem")
    joined = (
        # customer grows with SF (largest TPC-H dimension) — no forced hint;
        # AQE/threshold picks broadcast at small SF and shuffle join at scale.
        # region/nation are bounded (5/25 rows) so their hints are always safe.
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("r_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


@register(
    "join_outer_full",
    oracle="""
        WITH oagg AS (
            SELECT o_custkey, count(*) AS n_open
            FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
        )
        SELECT coalesce(c_custkey, o_custkey) AS custkey,
               c_name,
               coalesce(n_open, 0) AS n_open
        FROM customer FULL OUTER JOIN oagg ON c_custkey = o_custkey
    """,
    ref="OuterJoinRecordReader.java:34-45 — full outer, unwritten TupleWritable slots → NULL",
)
def join_outer_full(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    oagg = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_open"))
    )
    return cust.join(oagg, cust.c_custkey == oagg.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        F.coalesce("n_open", F.lit(0)).alias("n_open"),
    )


@register(
    "join_override",
    oracle="""
        WITH s1 AS (SELECT c_custkey AS k, c_mktsegment AS v FROM customer),
             s2 AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
             s3 AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
             keys AS (SELECT k FROM s1 UNION SELECT k FROM s2 UNION SELECT k FROM s3)
        SELECT keys.k AS key,
               CASE WHEN s3.k IS NOT NULL THEN 'open'
                    WHEN s2.k IS NOT NULL THEN 'finished'
                    ELSE s1.v END AS value
        FROM keys
        LEFT JOIN s1 ON keys.k = s1.k
        LEFT JOIN s2 ON keys.k = s2.k
        LEFT JOIN s3 ON keys.k = s3.k
    """,
    ref="OverrideRecordReader.java:42-84 — rightmost source with the key wins",
)
def join_override(spark, sf_dir):
    cust = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_mktsegment").alias("value")
    )
    orders = T(spark, sf_dir, "orders")
    fin = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
        .withColumn("value", F.lit("finished"))
    )
    opn = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("key"))
        .distinct()
        .withColumn("value", F.lit("open"))
    )
    return override_join([("cust", cust), ("fin", fin), ("open", opn)])


@register(
    "join_semi",
    oracle="""
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
    ref="left-semi: free in Spark (SURVEY §2.6 'not present' row); reduce-side idiom in reference",
)
def join_semi(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    urgent = T(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@register(
    "join_anti",
    oracle="""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    ref="left-anti derivation (SURVEY §2.6); datajoin outer + null-filter idiom in reference",
)
def join_anti(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_theta_datajoin",
    oracle="""
        SELECT o_orderpriority,
               count(*) AS n_pairs,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_extendedprice > o_totalprice * 0.5
        GROUP BY o_orderpriority
    """,
    ref="hadoop-datajoin DataJoinReducerBase.java:47 — per-key cross product + arbitrary pair predicate",
)
def join_theta_datajoin(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    pairs = datajoin_theta(
        orders,
        li,
        on=orders.o_orderkey == li.l_orderkey,
        theta=F.col("l_extendedprice") > F.col("o_totalprice") * 0.5,
    )
    return pairs.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_pairs"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@register(
    "join_broadcast_parts",
    oracle="""
        SELECT p_brand,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON p_partkey = l_partkey
        GROUP BY p_brand
    """,
    ref="DistributedCache replicated join idiom (SURVEY §2.6) → BroadcastHashJoin",
)
def join_broadcast_parts(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    return (
        broadcast_join(li, part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4/§2.7 partitioning, sorting, top-k
# ---------------------------------------------------------------------------


@register(
    "top_k_orders",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
    ref="top-k idiom (single reducer) — SURVEY §2.7; here orderBy().limit() with tie-break",
)
def top_k_orders(spark, sf_dir):
    return (
        T(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "global_sort_rank",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               row_number() OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rank
        FROM lineitem
    """,
    ref="TotalOrderPartitioner.java + Sort.java:98-167 — scalable 2-phase rank, no single-partition window",
)
def global_sort_rank(spark, sf_dir):
    # Project to the 3 needed columns BEFORE the range shuffle — column
    # pruning doesn't cross repartitionByRange on its own, and shuffling the
    # full 16-column lineitem row would move ~5x the bytes.
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    ranked = global_rank(
        li,
        [F.col("l_extendedprice"), F.col("l_orderkey"), F.col("l_linenumber")],
        rank_name="rank",
    )
    return ranked.select("l_orderkey", "l_linenumber", "rank")


@register(
    "sort_validator_stats",
    oracle=f"""
        WITH kv AS (
            SELECT concat(l_orderkey, '#', l_linenumber) AS kv_key,
                   concat_ws('|', l_returnflag, l_linestatus, l_suppkey, l_partkey) AS kv_value
            FROM lineitem
        ),
        stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_records,
                   CAST(sum(strlen(kv_key) + strlen(kv_value)) AS BIGINT) AS n_bytes,
                   bit_xor({duck_md5_long("kv_key || chr(0) || kv_value")}) AS xor_checksum
            FROM kv
        )
        SELECT side, n_records, n_bytes, xor_checksum
        FROM stats, (VALUES ('input'), ('output')) sides(side)
    """,
    ref="SortValidator RecordStatsChecker MR-JC .../mapred/SortValidator.java:54-357 — "
    "records/bytes/xor-of-hashes equal on sort input and output (permutation proof); "
    "the Spark side really runs the total-order sort, the oracle asserts stats invariance",
)
def sort_validator_stats(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    kv = li.select(
        F.concat_ws("#", "l_orderkey", "l_linenumber").alias("kv_key"),
        F.concat_ws("|", "l_returnflag", "l_linestatus", "l_suppkey", "l_partkey").alias(
            "kv_value"
        ),
    )
    s_in = record_stats(kv).withColumn("side", F.lit("input"))
    s_out = record_stats(total_order_sort(kv, "kv_key")).withColumn("side", F.lit("output"))
    return s_in.unionByName(s_out).select("side", "n_records", "n_bytes", "xor_checksum")


@register(
    "secondary_sort",
    oracle="""
        SELECT user_id, event_id,
               row_number() OVER (PARTITION BY user_id ORDER BY value, event_id) AS seq
        FROM events
    """,
    ref="SecondarySort pattern MR-EX/SecondarySort.java:57,133-145 — partition by k1, order by (k1,k2)",
)
def secondary_sort(spark, sf_dir):
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("value", "event_id")
    return ev.select(
        "user_id", "event_id", F.row_number().over(w).cast("long").alias("seq")
    )


@register(
    "keyfield_sorted_lines",
    oracle=f"""
        WITH lines AS (
            SELECT concat_ws('|', s_name,
                             CAST(round(s_acctbal * 100, 0) AS BIGINT),
                             s_nationkey) AS line
            FROM supplier
        )
        SELECT line,
               row_number() OVER (ORDER BY {duckdb_order_by("-k2,2nr -k1,1", "line", "|")}, line) AS rank
        FROM lines
    """,
    ref="KeyFieldBasedComparator.java:41-67 — '-k2,2nr -k1,1' numeric/reverse subfield sort",
)
def keyfield_sorted_lines(spark, sf_dir):
    sup = T(spark, sf_dir, "supplier")
    lines = sup.select(
        F.concat_ws(
            "|",
            F.col("s_name"),
            F.round(F.col("s_acctbal") * 100, 0).cast("long"),
            F.col("s_nationkey"),
        ).alias("line")
    )
    arr = F.split(F.col("line"), "\\|")
    sort_cols = keyfield_sort_columns("-k2,2nr -k1,1", arr, "|") + [F.col("line")]
    return global_rank(lines, sort_cols, rank_name="rank").select("line", "rank")


_KF_CHAR_SPEC = "-k2.1,2.2r -k1.10,1.18n"


@register(
    "keyfield_char_sort",
    oracle=f"""
        WITH lines AS (
            SELECT concat_ws('|', s_name,
                             CAST(round(s_acctbal * 100, 0) AS BIGINT),
                             s_nationkey) AS line
            FROM supplier
        )
        SELECT line,
               row_number() OVER (ORDER BY {duckdb_order_by(_KF_CHAR_SPEC, "line", "|")}, line) AS rank
        FROM lines
    """,
    ref="KeyFieldHelper.java:31-39,118-157 char-offset sub-addressing '-k f.c,f.c' "
    "(TestKeyFieldHelper.java start/end-offset cases): key = raw joined-line slice; "
    "here the 2-char balance prefix (text desc) then the numeric supplier id digits "
    "(s_name chars 10-18)",
)
def keyfield_char_sort(spark, sf_dir):
    sup = T(spark, sf_dir, "supplier")
    lines = sup.select(
        F.concat_ws(
            "|",
            F.col("s_name"),
            F.round(F.col("s_acctbal") * 100, 0).cast("long"),
            F.col("s_nationkey"),
        ).alias("line")
    )
    arr = F.split(F.col("line"), "\\|")
    sort_cols = keyfield_sort_columns(_KF_CHAR_SPEC, arr, "|") + [F.col("line")]
    return global_rank(lines, sort_cols, rank_name="rank").select("line", "rank")


# ---------------------------------------------------------------------------
# §2.3 field selection / KV-text parsing / identity-family mappers
# ---------------------------------------------------------------------------

_FIELDSEL_LINE = "concat_ws('|', c_custkey, c_name, c_mktsegment, c_nationkey)"
_FS_KEY, _FS_VAL = duckdb_field_select(_FIELDSEL_LINE, "0,3:1-", "|")


@register(
    "fieldsel_project",
    oracle=f"SELECT {_FS_KEY} AS key, {_FS_VAL} AS value FROM customer",
    ref="FieldSelectionHelper.java:37-71 spec '0,3:1-' — cut(1)-style key/value projection",
)
def fieldsel_project(spark, sf_dir):
    cust = T(spark, sf_dir, "customer")
    lines = cust.select(
        F.concat_ws(
            "|", "c_custkey", "c_name", "c_mktsegment", "c_nationkey"
        ).alias("line")
    )
    return field_select(lines, "0,3:1-", sep="|")


@register(
    "kv_text_parse",
    oracle="""
        WITH lines AS (
            SELECT event_id, concat_ws(chr(9), event_type, props, user_id) AS line
            FROM events
        )
        SELECT event_id,
               CASE WHEN strpos(line, chr(9)) = 0 THEN line
                    ELSE substr(line, 1, strpos(line, chr(9)) - 1) END AS key,
               CASE WHEN strpos(line, chr(9)) = 0 THEN ''
                    ELSE substr(line, strpos(line, chr(9)) + 1) END AS value
        FROM lines
    """,
    ref="KeyValueTextInputFormat / KeyValueLineRecordReader — split at FIRST separator",
)
def kv_text_parse(spark, sf_dir):
    from ..sources.text import parse_kv_lines

    ev = T(spark, sf_dir, "events")
    lines = ev.select(
        "event_id",
        F.concat_ws("\t", "event_type", "props", "user_id").alias("line"),
    )
    return parse_kv_lines(lines, sep="\t", line_col="line", keep=["event_id"])


@register(
    "map_inverse",
    oracle="SELECT o_orderpriority AS key, o_orderkey AS value FROM orders",
    ref="InverseMapper.java:34 — emit (v, k)",
)
def map_inverse(spark, sf_dir):
    return T(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("key"), F.col("o_orderkey").alias("value")
    )


# ---------------------------------------------------------------------------
# §2.8 set operations / §2.1 multi-input union
# ---------------------------------------------------------------------------


@register(
    "distinct_segments",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
    ref="distinct idiom (emit key + identity reduce) — SURVEY §2.8",
)
def distinct_segments(spark, sf_dir):
    return T(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "set_intersect",
    oracle="""
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    ref="intersect (free in Spark; hand-written reducer in reference) — SURVEY §2.8",
)
def set_intersect(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return o.intersect(f)


@register(
    "set_except",
    oracle="""
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    ref="except (free in Spark) — SURVEY §2.8. Customers minus those with "
    "an OPEN ('O') order: the subtracted side is status-filtered because "
    "the unfiltered form (customers minus ALL order customers) is empty "
    "at every fixture SF — a 0-row gate output is the weakest possible "
    "driver evidence (the rotation-#10 lesson that kept this entry out "
    "of the window); the filtered form returns 49 rows at gate SF so the "
    "hash compare actually exercises values. The status filter pushes "
    "into the orders scan below the EXCEPT's aggregate",
)
def set_except(spark, sf_dir):
    cust = T(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    ordc = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return cust.subtract(ordc)


@register(
    "union_multi_input",
    oracle="""
        SELECT src, count(*) AS n, count(DISTINCT k) AS uniq FROM (
            SELECT 'orders' AS src, o_orderkey AS k FROM orders
            UNION ALL
            SELECT 'lineitem' AS src, l_orderkey AS k FROM lineitem
        ) GROUP BY src
    """,
    ref="MultipleInputs.java / DelegatingInputFormat.java — per-path source + unionByName",
)
def union_multi_input(spark, sf_dir):
    o = T(spark, sf_dir, "orders").select(
        F.lit("orders").alias("src"), F.col("o_orderkey").alias("k")
    )
    l = T(spark, sf_dir, "lineitem").select(
        F.lit("lineitem").alias("src"), F.col("l_orderkey").alias("k")
    )
    return (
        o.unionByName(l)
        .groupBy("src")
        .agg(F.count("*").alias("n"), F.countDistinct("k").alias("uniq"))
    )


# ---------------------------------------------------------------------------
# events rollup (batch windowing over the stream table)
# ---------------------------------------------------------------------------


@register(
    "events_hour_rollup",
    oracle="""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
               event_type,
               count(*) AS n,
               round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    ref="batch time-bucket rollup over the events table (reference has no streaming ops — SURVEY §2.11)",
)
def events_hour_rollup(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias(
            "hour"
        ),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# Trending detection: half-life W = 1 day (one decay bucket per day of
# age), horizon B buckets (older events weigh exactly 0 — documented
# truncation), top K items reported. Weights are exact powers of two so
# the decayed score is an order-free BIGINT sum.
_TREND_W_MICROS = 86_400 * 1_000_000
_TREND_B = 20
_TREND_K = 10


@register(
    "trending_decay_topk",
    oracle=f"""
        WITH e AS (
            SELECT CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS item,
                   epoch_ns(ts) // 1000 AS t
            FROM events
        ),
        m AS (SELECT max(t) AS tmax FROM e),
        w AS (
            SELECT item, CAST((tmax - t) // {_TREND_W_MICROS} AS BIGINT) AS bucket
            FROM e CROSS JOIN m
        ),
        s AS (
            SELECT item,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CASE WHEN bucket <= {_TREND_B}
                                 THEN (1::BIGINT << ({_TREND_B} - bucket))
                                 ELSE 0 END) AS BIGINT) AS score_q
            FROM w GROUP BY item
        )
        SELECT item, n_events, score_q, rank FROM (
            SELECT *, CAST(row_number() OVER (
                ORDER BY score_q DESC, item) AS BIGINT) AS rank
            FROM s
        ) WHERE rank <= {_TREND_K}
    """,
    ref="trending detection via exponentially-decayed counts (the "
    "trending-topics / hot-items primitive: a plain count window ranks "
    "stale-but-large items above recently-hot ones; exponential decay "
    "downweights age smoothly): each event of an item (the numeric key in "
    "its props payload, one regexp_extract on both engines) contributes "
    "weight 2^-age, with age measured in whole 1-day half-life buckets "
    "back from the corpus max timestamp. Engine portability: "
    "piecewise-constant decay makes every weight an exact power of two — "
    "score = sum of 2^(B - bucket) as a BIGINT shift, an ORDER-FREE "
    f"integer sum (a float e^-lambda*t fold is order-sensitive at the last "
    f"ulp); events older than B={_TREND_B} buckets weigh exactly 0 "
    "(documented truncation — 2^-20 is below any ranking relevance). "
    "Timestamps travel as exact integer micros (instant_ts / epoch_ns "
    "// 1000 on the two engines — the repo-wide NANOS contract). 100 TB "
    "posture: one map-side expression per event, one hash aggregation "
    "with map-side partials keyed by item, a 1-row max broadcast, and a "
    "TakeOrdered top-k — no window over the event stream, no shuffle "
    "beyond the item agg; incremental maintenance halves every stored "
    "score once per bucket boundary and adds new events' weights",
)
def trending_decay_topk(spark, sf_dir):
    from pyspark.sql import Window

    from ..session import instant_ts

    ev = instant_ts(T(spark, sf_dir, "events"))
    base = ev.select(
        F.regexp_extract(F.col("props"), "[0-9]+", 0).cast("long").alias("item"),
        F.unix_micros(F.col("ts")).alias("t"),
    )
    tmax = base.agg(F.max("t").alias("tmax"))
    bucket = F.expr(f"(tmax - t) DIV {_TREND_W_MICROS}").cast("long")
    weighted = base.crossJoin(F.broadcast(tmax)).select(
        "item", bucket.alias("bucket")
    )
    score = F.sum(
        F.when(
            F.col("bucket") <= _TREND_B,
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), "
                f"CAST({_TREND_B} - bucket AS INT))"
            ),
        ).otherwise(F.lit(0).cast("long"))
    )
    s = weighted.groupBy("item").agg(
        F.count("*").cast("long").alias("n_events"),
        score.cast("long").alias("score_q"),
    )
    topk = s.orderBy(F.col("score_q").desc(), F.col("item")).limit(_TREND_K)
    w = Window.orderBy(F.col("score_q").desc(), F.col("item"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


@register(
    "q3_shipping_priority",
    oracle="""
        SELECT o_orderkey,
               CAST(round(revenue, 2) * 100 AS BIGINT) AS revenue_cents,
               strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        FROM (
            SELECT o_orderkey, o_orderdate,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(1 - l_discount AS DECIMAL(12,10))) AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15'
              AND l_shipdate  > TIMESTAMP '1995-03-15'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey
            LIMIT 10
        )
    """,
    ref="composite star-join workload (TPC-H Q3 shape): selective filters pushed to "
    "every scan → shuffle join chain (no forced hints: orders and even the filtered "
    "customer segment grow with SF, so a forced broadcast OOMs at cluster scale; AQE "
    "still picks BroadcastHashJoin whenever a side lands under the threshold) → "
    "grouped DECIMAL-exact revenue → top-10 via orderBy.limit (TakeOrderedAndProject "
    "— no full sort materialization). Ordering/top-k happen on the EXACT decimal "
    "revenue; only the emitted column is canonicalized to BIGINT cents via round(x,2) "
    "— Spark round and DuckDB round() both round halves away from zero for positive "
    "money (DuckDB's decimal CAST would round half-to-even — off-by-a-cent) — then "
    "x100 is integral, because decimal128(38,x) Spark output columns fail the driver "
    "hash (r1+r2)",
)
def q3_shipping_priority(spark, sf_dir):
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1) - F.col("l_discount")).cast("decimal(12,10)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(revenue.alias("revenue"))
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            (F.round(F.col("revenue"), 2) * 100)
            .cast("bigint")
            .alias("revenue_cents"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
    )


@register(
    "xml_records_parse",
    oracle="""
        SELECT event_id AS rec_id, event_type AS rec_type FROM events
    """,
    ref="StreamXmlRecordReader (hadoop-streaming StreamXmlRecordReader.java, SURVEY "
    "§2.1) round trip: events are written as XML-tag-delimited text (distributed "
    "df.write.text — never collected to the driver), read back through the "
    "end-tag-split scan (a record cannot span splits, the reference's guarantee), "
    "and field-extracted. The oracle is the original table, proving write + "
    "tag-split read + extraction are lossless",
)
def xml_records_parse(spark, sf_dir):
    from ..sources.text import read_xml_records

    ev = T(spark, sf_dir, "events")
    stage = stage_dir("/tmp/gaia_spark_xml", sf_dir, "events")
    xml = ev.select(
        F.concat(
            F.lit("<record><id>"),
            F.col("event_id").cast("string"),
            F.lit("</id><type>"),
            F.col("event_type"),
            F.lit("</type></record>"),
        ).alias("value")
    )
    xml.write.mode("overwrite").text(stage)
    recs = read_xml_records(spark, stage, "<record>", "</record>")
    return recs.select(
        F.regexp_extract("record", r"<id>([0-9]+)</id>", 1).cast("long").alias("rec_id"),
        F.regexp_extract("record", r"<type>([^<]*)</type>", 1).alias("rec_type"),
    )


_MAPFILE_LOOKUP_KEYS = (100, 2500, 7777, 11000, 14999)


@register(
    "mapfile_point_lookup",
    oracle=f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders WHERE o_orderkey IN {_MAPFILE_LOOKUP_KEYS}
    """,
    ref="MapFileOutputFormat.getEntry point lookup (LIB/output/MapFileOutputFormat.java:"
    "127 + BloomMapFile): orders are written range-partitioned and sorted on the key "
    "with a parquet bloom filter (the MapFile index + bloom analog), then looked up "
    "by key — min/max row-group pruning + bloom skip serve the read, asserted via "
    "PushedFilters in the plan tests",
)
def mapfile_point_lookup(spark, sf_dir):
    from ..sources.writers import write_sorted

    stage = stage_dir("/tmp/gaia_spark_mapfile", sf_dir, "orders")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    write_sorted(o, stage, key="o_orderkey", bloom_cols=["o_orderkey"])
    stored = spark.read.parquet(stage)
    return stored.filter(F.col("o_orderkey").isin(*_MAPFILE_LOOKUP_KEYS))


@register(
    "codec_roundtrip_gzip",
    oracle="""
        SELECT o_orderkey, o_orderpriority,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
        FROM orders
    """,
    ref="compression codec surface (COMMON/io/compress/GzipCodec.java, SURVEY §1.3): "
    "orders written as gzip csv and read back must reproduce the table — the "
    "splittability caveat (gzip = 1 task per file, like the reference) is why the "
    "write goes through multiple part files. The staged CSV carries the DECIMAL "
    "text form (codec fidelity is the point); only the emitted column is exact "
    "BIGINT cents, the driver-hash-safe primitive type",
)
def codec_roundtrip_gzip(spark, sf_dir):
    stage = stage_dir("/tmp/gaia_spark_codec", sf_dir, "orders_gz")
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    (
        o.repartition(8)
        .write.mode("overwrite")
        .option("compression", "gzip")
        .option("header", "true")
        .csv(stage)
    )
    back = (
        spark.read.option("header", "true")
        .schema("o_orderkey long, o_orderpriority string, price decimal(18,2)")
        .csv(stage)
    )
    return back.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("price") * 100).cast("bigint").alias("price_cents"),
    )


@register(
    "skip_bad_records_audit",
    oracle="""
        SELECT lang,
               CAST(sum(CASE WHEN doc_id % 17 = 3 THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_good,
               CAST(sum(CASE WHEN doc_id % 17 = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bad,
               CAST(sum(CASE WHEN doc_id % 17 = 3 THEN 0 ELSE n_chars END)
                    AS BIGINT) AS sum_chars_kept
        FROM documents
        GROUP BY lang
    """,
    ref="SkipBadRecords (reference: mapred/SkipBadRecords.java + the skip-"
    "range machinery in mapred/MapRunner.java:60-80, exercised by "
    "TestBadRecords.java): a job survives unparseable input records by "
    "skipping and COUNTING them instead of failing. Spark analog: "
    "PERMISSIVE parse mode with columnNameOfCorruptRecord — every record "
    "whose typed parse fails surfaces as a row with the raw line captured "
    "(fields that did parse are retained, so the audit can still group by "
    "them), and the per-group good/bad counts are the reference's "
    "skipped-record counters. The staged file deterministically corrupts "
    "the numeric field of every doc_id % 17 == 3 row, so the oracle "
    "reproduces the audit from the corruption rule without parsing "
    "anything. DROPMALFORMED (= the reference's skip-and-continue mode) is "
    "pinned equal to the good set in tests. CAVEAT (test-pinned): corrupt "
    "detection happens at PARSE time and CSV column pruning skips "
    "unreferenced fields — a consumer that prunes away every typed column "
    "sees zero corrupt rows; this audit always carries the n_chars-"
    "dependent sum so the full parse runs. At 100 TB this is the "
    "difference between a 3-day job dying at hour 70 and a complete run "
    "with a quantified bad-record report",
)
def skip_bad_records_audit(spark, sf_dir):
    stage = stage_dir("/tmp/gaia_spark_badrec", sf_dir, "docs_csv")
    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    line = F.when(
        F.col("doc_id") % 17 == 3,
        F.concat_ws(",", F.col("doc_id"), F.col("lang"), F.lit("#corrupt#")),
    ).otherwise(F.concat_ws(",", "doc_id", "lang", "n_chars"))
    d.select(line.alias("value")).repartition(4).write.mode("overwrite").text(stage)
    back = (
        spark.read.schema("doc_id long, lang string, n_chars long, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(stage)
    )
    return back.groupBy("lang").agg(
        F.sum(F.when(F.col("_bad").isNull(), 1).otherwise(0)).cast("long").alias(
            "n_good"
        ),
        F.sum(F.when(F.col("_bad").isNull(), 0).otherwise(1)).cast("long").alias(
            "n_bad"
        ),
        F.sum(
            F.when(F.col("_bad").isNull(), F.col("n_chars")).otherwise(0)
        ).cast("long").alias("sum_chars_kept"),
    )


@register(
    "partitioned_output_lookup",
    oracle="""
        SELECT event_id, user_id, event_type FROM events
        WHERE event_type IN ('click', 'purchase')
    """,
    ref="MultipleOutputs / MultipleOutputFormat per-key routing (LIB/output/"
    "MultipleOutputs.java:311, mapred/lib/MultipleOutputFormat.java:90,144) as a "
    "partitioned sink: events written partitionBy(event_type), then two named "
    "outputs read back through partition PRUNING (the scan lists only the two "
    "matching directories — asserted via PartitionFilters in the plan tests)",
)
def partitioned_output_lookup(spark, sf_dir):
    stage = stage_dir("/tmp/gaia_spark_partout", sf_dir, "events_by_type")
    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(stage)
    back = spark.read.parquet(stage)
    return back.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "event_type"
    )


@register(
    "join_bucketed_colocated",
    oracle="""
        SELECT c_nationkey, count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS revenue_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_nationkey
    """,
    ref="TRUE CompositeInputFormat semantics (LIB/join/CompositeInputFormat.java:60-96: "
    "sources 'identically partitioned and sorted' merge map-side, no shuffle): both "
    "sides written as bucketed+sorted tables on the join key, then a merge-hinted "
    "join reads co-located buckets — SortMergeJoin with ZERO Exchange on either side "
    "(plan-asserted in tests/test_plans.py). The one-time bucketed write is the "
    "analog of the reference requiring inputs laid out by a prior job's partitioner; "
    "every subsequent join on the key is shuffle-free",
)
def join_bucketed_colocated(spark, sf_dir):
    from ..operators.join import bucketed_colocated_join

    o = T(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_nationkey"
    )
    prefix = "gaia_bkt_" + sf_dir.strip("/").replace("/", "_").replace(".", "_")
    joined = bucketed_colocated_join(
        spark, o, c, key="custkey", num_buckets=8, table_prefix=prefix
    )
    return joined.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"),
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("revenue_cents"),
    )


@register(
    "join_expr_language",
    oracle="""
        SELECT c_nationkey AS key,
               count(*) AS n_pairs,
               CAST(sum(c_custkey + s_suppkey) AS BIGINT) AS pair_sum
        FROM customer JOIN supplier ON c_nationkey = s_nationkey
        GROUP BY c_nationkey
    """,
    ref="the join-expression little language END TO END (CompositeInputFormat.java:"
    "60-96 grammar + Parser.java): the string 'inner(tbl(Format,\"c\"), s)' is "
    "tokenized, parsed, and compiled to the composite inner join — exercising the "
    "tbl() form, bare-identifier shorthand, and per-key cross-product semantics "
    "(every (customer, supplier) pair within a nation), summarized per key",
)
def join_expr_language(spark, sf_dir):
    from ..operators.join import compile_join_expr

    c = T(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("key"), F.col("c_custkey").alias("value")
    )
    s = T(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("key"), F.col("s_suppkey").alias("value")
    )
    out = compile_join_expr(
        'inner(tbl(SequenceFileInputFormat,"c"), s)', {"c": c, "s": s}
    )
    return out.groupBy("key").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.col("value.v_n1s0") + F.col("value.v_n1s1"))
        .cast("bigint")
        .alias("pair_sum"),
    )


@register(
    "events_anomaly_zscore",
    oracle="""
        WITH hourly AS (
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type, count(*) AS nh,
                   CAST(sum(n) AS BIGINT) AS s1,
                   CAST(sum(n * n) AS BIGINT) AS s2
            FROM hourly GROUP BY event_type
        )
        SELECT hour, event_type, n,
               (floor(((n - s1 / (1.0 * nh))
                 / sqrt(greatest(s2 / (1.0 * nh) - (s1 / (1.0 * nh)) * (s1 / (1.0 * nh)), 1e-300)))
                 * 10000 + 0.5) / 10000) AS z,
               CAST(CASE WHEN abs(
                   (floor(((n - s1 / (1.0 * nh))
                     / sqrt(greatest(s2 / (1.0 * nh) - (s1 / (1.0 * nh)) * (s1 / (1.0 * nh)), 1e-300)))
                     * 10000 + 0.5) / 10000)
               ) >= 2.0 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        FROM hourly JOIN stats USING (event_type)
    """,
    ref="hourly event-volume anomaly detection: per-type z-score of hourly counts "
    "against the type's own mean/std. The moment sums (s1, s2) are EXACT integer "
    "aggregates of integer counts, so mean/variance/z derive from identical "
    "doubles on any engine at any parallelism (the integer-basis determinism "
    "rule); the per-type stats frame is |event_types| rows and broadcasts back "
    "onto the hourly rollup — monitoring-pipeline shape: one rollup shuffle, "
    "zero extra passes over raw events",
)
def events_anomaly_zscore(spark, sf_dir):
    from ..functions.rounding import fround

    hourly = (
        T(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count("*").alias("nh"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mean = F.col("s1") / (F.lit(1.0) * F.col("nh"))
    var = F.col("s2") / (F.lit(1.0) * F.col("nh")) - mean * mean
    z = fround((F.col("n") - mean) / F.sqrt(F.greatest(var, F.lit(1e-300))), 4)
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .select(
            "hour",
            "event_type",
            "n",
            "z",
            (F.abs(F.col("z")) >= 2.0).cast("long").alias("is_anomaly"),
        )
    )


@register(
    "events_daily_gapfill",
    oracle="""
        WITH bounds AS (
            SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
            FROM events
        ),
        spine AS (
            SELECT event_type,
                   strftime(unnest(generate_series(lo, hi, INTERVAL 1 DAY)),
                            '%Y-%m-%d') AS day
            FROM bounds CROSS JOIN (SELECT DISTINCT event_type FROM events)
        ),
        daily AS (
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT spine.day, spine.event_type,
               CAST(coalesce(n, 0) AS BIGINT) AS n,
               CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS BIGINT) AS gap
        FROM spine LEFT JOIN daily
          ON daily.day = spine.day AND daily.event_type = spine.event_type
    """,
    ref="time-series resample / gap-fill: a complete (day x event_type) spine is "
    "generated from the observed min/max bounds (a 1-row agg CROSS JOIN the "
    "distinct-type frame — spine size = |days| x |types|, tiny at any corpus "
    "scale) and left-joins the daily rollup so silent days appear as explicit "
    "zeros with a gap marker — the prerequisite for any window/trend math over "
    "sparse activity (a moving average over missing days is wrong without it)",
)
def events_daily_gapfill(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    types = ev.select("event_type").distinct()
    spine = (
        bounds.crossJoin(types)
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.expr("interval 1 day"))
            ).alias("d"),
        )
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"), "event_type")
    )
    daily = ev.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(F.count("*").alias("n0"))
    return (
        spine.join(daily, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce("n0", F.lit(0)).cast("long").alias("n"),
            F.col("n0").isNull().cast("long").alias("gap"),
        )
    )


@register(
    "events_weekly_moving_avg",
    oracle="""
        WITH daily AS (
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT day, event_type, n,
               (floor((CAST(sum(n) OVER w AS BIGINT)
                       / (1.0 * count(*) OVER w)) * 10000 + 0.5) / 10000) AS ma7
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    ref="7-day trailing moving average per event type over the daily rollup — "
    "the trend smoother that pairs with events_daily_gapfill. The window "
    "partitions by event_type over |days| rows per type (never corpus rows, so "
    "the per-partition sort is trivial at any scale); the mean folds integer "
    "count sums over an exact integer window frame, fround-ed identically",
)
def events_weekly_moving_avg(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.rounding import fround

    daily = (
        T(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day",
        "event_type",
        "n",
        fround(
            F.sum("n").over(w) / (F.lit(1.0) * F.count("*").over(w)), 4
        ).alias("ma7"),
    )


@register(
    "order_priority_transitions",
    oracle="""
        WITH seq AS (
            SELECT o_custkey,
                   o_orderpriority AS cur,
                   lag(o_orderpriority) OVER (
                       PARTITION BY o_custkey
                       ORDER BY epoch_ns(o_orderdate) // 1000, o_orderkey
                   ) AS prev
            FROM orders
        )
        SELECT prev, cur, count(*) AS n
        FROM seq WHERE prev IS NOT NULL
        GROUP BY prev, cur
    """,
    ref="order-sequence transition matrix (Markov counts of consecutive order "
    "priorities per customer) — the sequence-mining shape: lag() windows "
    "partition BY CUSTOMER (bounded partitions, shuffle keyed on custkey — "
    "never a global sort), then one hash agg over the |states|^2 matrix. "
    "Ordering truncates the nanos timestamp to micros with an orderkey "
    "tie-break on BOTH engines (the running_total_supplier lesson)",
)
def order_priority_transitions(spark, sf_dir):
    from pyspark.sql import Window

    # Spark's reader already truncated the NANOS column to micro-precision
    # NTZ, so ordering by the column equals the oracle's epoch_ns // 1000 key
    # (the running_total_supplier contract).
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = T(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderpriority").alias("cur"),
        F.lag("o_orderpriority").over(w).alias("prev"),
    )
    return (
        seq.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count("*").alias("n"))
    )


def _copurchase_baskets(spark, sf_dir):
    """Sorted distinct part set of every order with >= 2 parts (lazy): the
    co-purchase graph entries' shared input."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )


def _copurchase_edges(spark, sf_dir):
    """Distinct undirected co-purchase edges (a, b), a < b, from in-row basket
    pair expansion (lazy); each entry picks its own sampling, persist and
    symmetrization."""
    return (
        expand_bucket_pairs(_copurchase_baskets(spark, sf_dir))
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .distinct()
    )


@register(
    "copurchase_part_pairs",
    oracle="""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        pairs AS (
            SELECT parts[i] AS part_a, parts[j] AS part_b
            FROM baskets,
                 unnest(generate_series(1, len(parts))) AS t1(i),
                 unnest(generate_series(1, len(parts))) AS t2(j)
            WHERE i < j
        ),
        counted AS (
            SELECT part_a, part_b, count(*) AS n
            FROM pairs GROUP BY part_a, part_b
        )
        SELECT part_a, part_b, n, rank FROM (
            SELECT part_a, part_b, n,
                   CAST(row_number() OVER (
                       ORDER BY n DESC, part_a, part_b
                   ) AS BIGINT) AS rank
            FROM counted
        ) WHERE rank <= 20
    """,
    ref="market-basket co-occurrence (the frequent-itemset primitive): parts "
    "bought in the same order, counted over IN-ROW pair expansion of the "
    "per-order sorted part set — basket size bounds the expansion (TPC-H "
    "lineitems/order <= 7, so <= 21 pairs/basket; a retail-scale cap would "
    "drop mega-baskets exactly like the LSH bucket cap), ONE groupBy on the "
    "pair key, TakeOrdered top-k. Never an order-to-order join",
)
def copurchase_part_pairs(spark, sf_dir):
    from pyspark.sql import Window

    counted = (
        expand_bucket_pairs(_copurchase_baskets(spark, sf_dir))
        .groupBy(
            F.col("id_a").alias("part_a"), F.col("id_b").alias("part_b")
        )
        .agg(F.count("*").alias("n"))
    )
    topk = counted.orderBy(
        F.col("n").desc(), F.col("part_a"), F.col("part_b")
    ).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("part_a"), F.col("part_b"))
    return topk.withColumn("rank", F.row_number().over(w).cast("long"))


# int/string columns only: double->VARCHAR formatting differs across engines
_PROFILE_COLS = ("o_orderstatus", "o_orderpriority", "o_custkey", "o_orderkey")


@register(
    "profile_orders_columns",
    oracle=f"""
        {' UNION ALL '.join(
            f'''SELECT '{c}' AS col,
                       count(*) AS n_rows,
                       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
                       count(DISTINCT {c}) AS n_distinct,
                       min({c}::VARCHAR) AS min_str,
                       max({c}::VARCHAR) AS max_str
                FROM orders'''
            for c in _PROFILE_COLS)}
    """,
    ref="table profiling (the Deequ/data-quality surface): per-column row/null/"
    "exact-distinct counts plus min/max, one result row per column. Each "
    "column profiles in its own scan branch — the scans are column-pruned to "
    "ONE column each (so total IO ~= one full-width scan) and the distinct "
    "agg is per-branch partial+final; a melt-style single pass would carry "
    "every column through one huge exploded shuffle instead",
)
def profile_orders_columns(spark, sf_dir):
    orders = T(spark, sf_dir, "orders")
    parts = []
    for c in _PROFILE_COLS:
        parts.append(
            orders.select(F.col(c).cast("string").alias("v")).agg(
                F.lit(c).alias("col"),
                F.count("*").alias("n_rows"),
                (F.count("*") - F.count("v")).alias("n_nulls"),
                F.count_distinct("v").alias("n_distinct"),
                F.min("v").alias("min_str"),
                F.max("v").alias("max_str"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "cdc_upsert_orders",
    oracle="""
        WITH changes AS (
            -- deterministic synthetic CDC batch: every 101st order flips to
            -- status 'X' with a bumped cent price; keys shifted by 10^9 are
            -- brand-new inserts
            SELECT o_orderkey, 'X' AS o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) + 1 AS price_cents
            FROM orders WHERE o_orderkey % 101 = 0
            UNION ALL
            SELECT o_orderkey + 1000000000, 'N',
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
            FROM orders WHERE o_orderkey % 211 = 0
        ),
        base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
            FROM orders
        ),
        merged AS (
            SELECT * FROM changes
            UNION ALL
            SELECT * FROM base
            WHERE NOT EXISTS (SELECT 1 FROM changes c
                              WHERE c.o_orderkey = base.o_orderkey)
        )
        SELECT o_orderstatus, count(*) AS n,
               CAST(sum(price_cents) AS BIGINT) AS total_cents,
               min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        FROM merged GROUP BY o_orderstatus
    """,
    ref="CDC upsert / MERGE (last-writer-wins): the lakehouse mutation op — "
    "base rows whose key appears in the change batch are replaced (left_anti "
    "+ union, the Delta MERGE plan shape), new keys insert. The anti-join is "
    "keyed on the primary key (co-partitioned shuffle; at table scale this is "
    "exactly Delta/Iceberg MERGE's join) and the verification aggregates the "
    "merged state so replaced rows, survivors, and inserts all land in the "
    "hash. Money as exact BIGINT cents throughout",
)
def cdc_upsert_orders(spark, sf_dir):
    base = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )
    updates = base.filter(F.col("o_orderkey") % 101 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("price_cents") + 1).alias("price_cents"),
    )
    inserts = base.filter(F.col("o_orderkey") % 211 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        "price_cents",
    )
    changes = updates.unionByName(inserts)
    survivors = base.join(
        changes.select("o_orderkey"), "o_orderkey", "left_anti"
    )
    merged = changes.unionByName(survivors)
    return merged.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum("price_cents").alias("total_cents"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )

@register(
    "price_qty_corr_by_flag",
    oracle="""
        WITH m AS (
            SELECT l_returnflag AS flag,
                   CAST(l_quantity AS BIGINT) AS q,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
            FROM lineitem
        ),
        s AS (
            SELECT flag,
                   CAST(count(*) AS HUGEINT) AS n,
                   CAST(sum(q) AS HUGEINT) AS sq,
                   CAST(sum(p) AS HUGEINT) AS sp,
                   CAST(sum(q * q) AS HUGEINT) AS sqq,
                   CAST(sum(CAST(p AS HUGEINT) * p) AS HUGEINT) AS spp,
                   CAST(sum(q * p) AS HUGEINT) AS sqp
            FROM m GROUP BY flag
        )
        SELECT flag, CAST(n AS BIGINT) AS n,
               (floor(((n * sqp - sq * sp)
                 / sqrt((n * sqq - sq * sq) * 1.0)
                 / sqrt((n * spp - sp * sp) * 1.0)) * 1000000 + 0.5) / 1000000)
                   AS corr_qty_price
        FROM s
    """,
    ref="Pearson correlation per group from EXACT integer moment sums (quantity "
    "as int, price as DECIMAL-derived cents): the five sums are order-free "
    "integers, so r derives from identical doubles on any engine at any "
    "parallelism — the built-in corr() aggregates floats in partial-agg order "
    "and cannot hash-match across engines (the k-means float-mean lesson). "
    "Products run in HUGEINT/DECIMAL(38,0) (sp^2 overflows int64) and convert "
    "to double only at the final division. One hash agg; the formula runs on "
    "the |groups|-row frame",
)
def price_qty_corr_by_flag(spark, sf_dir):
    from ..functions.rounding import fround

    m = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("q"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("p"),
    )
    s = m.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p").cast("decimal(38,0)") * F.col("p")).alias("spp"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    num = (d38("n") * d38("sqp") - d38("sq") * d38("sp")).cast("double")
    vq = (d38("n") * d38("sqq") - d38("sq") * d38("sq")).cast("double")
    vp = (d38("n") * d38("spp") - d38("sp") * d38("sp")).cast("double")
    return s.select(
        "flag",
        F.col("n").alias("n"),
        fround(num / F.sqrt(vq) / F.sqrt(vp), 6).alias("corr_qty_price"),
    )


@register(
    "scd2_order_history",
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                       AS price_cents
            FROM orders
        ),
        changes AS (
            SELECT o_orderkey, 'X' AS o_orderstatus, price_cents + 1 AS price_cents
            FROM base WHERE o_orderkey % 101 = 0
        ),
        v1 AS (
            SELECT o_orderkey, o_orderstatus, price_cents,
                   CAST(1 AS BIGINT) AS version,
                   CAST(CASE WHEN o_orderkey % 101 = 0 THEN 0 ELSE 1 END AS BIGINT)
                       AS is_current
            FROM base
        ),
        v2 AS (
            SELECT o_orderkey, o_orderstatus, price_cents,
                   CAST(2 AS BIGINT) AS version, CAST(1 AS BIGINT) AS is_current
            FROM changes
        ),
        hist AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        SELECT version, is_current, count(*) AS n,
               CAST(sum(price_cents) AS BIGINT) AS total_cents,
               count(DISTINCT o_orderkey) AS n_keys
        FROM hist GROUP BY version, is_current
    """,
    ref="SCD Type 2 history build (the versioned complement of cdc_upsert_orders): "
    "changed keys close out their version-1 row (is_current=0) and append a "
    "version-2 current row; unchanged keys stay current at version 1. The "
    "close-out flag is derived map-side from the change predicate — at table "
    "scale it is an anti/semi-join against the change batch on the primary key, "
    "the same co-partitioned shuffle as MERGE. Verification aggregates the "
    "full history so closed, current, and appended rows all land in the hash",
)
def scd2_order_history(spark, sf_dir):
    base = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("price_cents"),
    )
    changed = F.col("o_orderkey") % 101 == 0
    v1 = base.select(
        "o_orderkey",
        "o_orderstatus",
        "price_cents",
        F.lit(1).cast("long").alias("version"),
        F.when(changed, 0).otherwise(1).cast("long").alias("is_current"),
    )
    v2 = base.filter(changed).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("price_cents") + 1).alias("price_cents"),
        F.lit(2).cast("long").alias("version"),
        F.lit(1).cast("long").alias("is_current"),
    )
    hist = v1.unionByName(v2)
    return hist.groupBy("version", "is_current").agg(
        F.count("*").alias("n"),
        F.sum("price_cents").alias("total_cents"),
        F.count_distinct("o_orderkey").alias("n_keys"),
    )


@register(
    "copurchase_triangles",
    oracle="""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        edges AS (
            SELECT DISTINCT parts[i] AS a, parts[j] AS b
            FROM baskets,
                 unnest(generate_series(1, len(parts))) AS t1(i),
                 unnest(generate_series(1, len(parts))) AS t2(j)
            WHERE i < j
        ),
        wedges AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM edges e1 JOIN edges e2 ON e1.b = e2.a
        ),
        tris AS (
            SELECT count(*) AS n_triangles
            FROM wedges w JOIN edges e ON e.a = w.a AND e.b = w.c
        )
        SELECT n_triangles,
               (SELECT count(*) FROM edges) AS n_edges,
               (SELECT count(DISTINCT a) FROM
                   (SELECT a FROM edges UNION ALL SELECT b FROM edges)) AS n_nodes
        FROM tris
    """,
    ref="triangle counting over the co-purchase graph (the graph-analytics "
    "kernel beyond dedup_components' connected components): distinct edges "
    "from in-row basket pair expansion, DEGREE-ORDERED orientation (edges "
    "point from lower to higher (degree, id)), wedge join on the low vertex, "
    "closure check against the oriented edge set. Degree orientation bounds "
    "per-vertex wedge fan-out by O(sqrt(m)) (the arboricity trick) — found "
    "by the sf10 sweep, where id-orientation let popular parts fan out "
    "quadratically (880 s cap blown); each triangle still has exactly one "
    "lowest vertex in the (degree, id) total order, so it is counted once. "
    "The oracle keeps the simpler id-orientation: triangle COUNT is "
    "orientation-invariant, so the engines agree by construction. All joins "
    "are hash joins keyed on vertex ids",
)
def copurchase_triangles(spark, sf_dir):
    und, _ = owned_persist(_copurchase_edges(spark, sf_dir))
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("d_a"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("d_b"))
    a_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b"))
    )
    # the wedge sides and the closure all read e
    e, _ = owned_persist(
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("d_b")).otherwise(F.col("d_a")).alias("d_dst"),
        )
    )
    w1 = e.select("src", F.col("dst").alias("v"), F.col("d_dst").alias("d_v"))
    w2 = e.select("src", F.col("dst").alias("w"), F.col("d_dst").alias("d_w"))
    wedges = (
        w1.join(w2, "src")
        .filter(
            (F.col("d_v") < F.col("d_w"))
            | ((F.col("d_v") == F.col("d_w")) & (F.col("v") < F.col("w")))
        )
        .select("v", "w")
    )
    closure = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closure, ["v", "w"]).agg(F.count("*").alias("n_triangles"))
    n_edges = und.agg(F.count("*").alias("n_edges"))
    n_nodes = deg.agg(F.count_distinct("v").alias("n_nodes"))
    return tris.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(n_nodes))


# Row gate of the co-purchase graph entries' vertex-sized broadcasts
# (degrees, BFS frontier/visited): up to ~16M vertices (≈256 MB built) the
# side broadcasts; above it the join stays a SortMergeJoin, the 100 TB
# fallback. ``n`` is a row count the caller already has (a populate count).
_GRAPH_BCAST_MAX_ROWS = 16_000_000


def _bcast_if_small(f, n: int):
    return F.broadcast(f) if n <= _GRAPH_BCAST_MAX_ROWS else f


# DOULION edge-sampling probability 1/_TRI_PINV (Tsourakakis et al., KDD'09):
# keep an edge iff its 60-bit md5 fraction < 2^60/_TRI_PINV — deterministic on
# both engines, so the oracle reproduces the SAMPLE, not just the estimator.
_TRI_PINV = 4
_TRI_THRESH = (1 << 60) // _TRI_PINV


@register(
    "copurchase_triangles_sampled",
    oracle=f"""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        edges AS (
            SELECT DISTINCT parts[i] AS a, parts[j] AS b
            FROM baskets,
                 unnest(generate_series(1, len(parts))) AS t1(i),
                 unnest(generate_series(1, len(parts))) AS t2(j)
            WHERE i < j
        ),
        sampled AS (
            SELECT a, b FROM edges
            WHERE (('0x' || substr(md5(CAST(a AS VARCHAR) || '_' ||
                       CAST(b AS VARCHAR)), 1, 15))::BIGINT) < {_TRI_THRESH}
        ),
        wedges AS (
            SELECT e1.a, e1.b, e2.b AS c
            FROM sampled e1 JOIN sampled e2 ON e1.b = e2.a
        ),
        tris AS (
            SELECT count(*) AS n FROM wedges w
            JOIN sampled e ON e.a = w.a AND e.b = w.c
        )
        SELECT CAST(n AS BIGINT) AS n_triangles_sampled,
               CAST(n * {_TRI_PINV ** 3} AS BIGINT) AS n_triangles_est,
               (SELECT count(*) FROM sampled) AS n_edges_sampled
        FROM tris
    """,
    ref="the 100 TB twin of copurchase_triangles: DOULION edge sampling "
    "(Tsourakakis et al., KDD'09) — each distinct undirected edge survives "
    "with probability 1/4 decided by its own md5 (deterministic, so the "
    "DuckDB oracle reproduces the exact sampled graph, the minhash-cap "
    "precedent), triangles are counted on the sampled graph with the same "
    "degree-orientation wedge join, and the unbiased estimate is "
    "sampled_count * 4^3. Wedge volume scales ~p^2, so the sf10 exact "
    "entry's 908 s honest-but-heavy wedge join drops ~16x while the "
    "estimator's relative error stays O(1/sqrt(p^3 * T)) — measured vs the "
    "exact count at sf1 in the sweep artifact",
)
def copurchase_triangles_sampled(spark, sf_dir):
    se, _ = owned_persist(
        _copurchase_edges(spark, sf_dir).filter(
            md5_long(F.concat_ws("_", F.col("a"), F.col("b"))) < F.lit(_TRI_THRESH)
        )
    )
    # r12 (guide §3.1, the pagerank precedent): deg is VERTEX-sized while se
    # is the sampled edge list — joining the degrees back as SortMergeJoins
    # shuffled se twice; broadcast both degree sides so the orientation pass
    # stays map-side over the cache. deg is persisted (it feeds BOTH join
    # sides) and its populate count gates the broadcast exactly as in
    # copurchase_pagerank (_bcast_if_small).
    deg, n_v = owned_persist(
        se.select(F.col("a").alias("v"))
        .unionByName(se.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    da = _bcast_if_small(
        deg.select(F.col("v").alias("a"), F.col("d").alias("d_a")), n_v
    )
    db = _bcast_if_small(
        deg.select(F.col("v").alias("b"), F.col("d").alias("d_b")), n_v
    )
    a_first = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("a") < F.col("b"))
    )
    # the wedge sides and the closure all read e
    e, _ = owned_persist(
        se.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("d_b")).otherwise(F.col("d_a")).alias("d_dst"),
        )
    )
    w1 = e.select("src", F.col("dst").alias("v"), F.col("d_dst").alias("d_v"))
    w2 = e.select("src", F.col("dst").alias("w"), F.col("d_dst").alias("d_w"))
    wedges = (
        w1.join(w2, "src")
        .filter(
            (F.col("d_v") < F.col("d_w"))
            | ((F.col("d_v") == F.col("d_w")) & (F.col("v") < F.col("w")))
        )
        .select("v", "w")
    )
    closure = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closure, ["v", "w"]).agg(
        F.count("*").alias("n_triangles_sampled"),
        (F.count("*") * F.lit(_TRI_PINV**3)).alias("n_triangles_est"),
    )
    n_edges = se.agg(F.count("*").alias("n_edges_sampled"))
    return tris.crossJoin(F.broadcast(n_edges))


_PR_SCALE = 1_000_000
_PR_ITERS = 2
_PR_TOPK = 20


@register(
    "copurchase_pagerank",
    oracle=f"""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        und AS (
            SELECT DISTINCT parts[i] AS a, parts[j] AS b
            FROM baskets,
                 unnest(generate_series(1, len(parts))) AS t1(i),
                 unnest(generate_series(1, len(parts))) AS t2(j)
            WHERE i < j
        ),
        edges AS (SELECT a AS src, b AS dst FROM und
                  UNION ALL SELECT b, a FROM und),
        deg AS (SELECT src AS v, count(*) AS d FROM edges GROUP BY src),
        r0 AS (SELECT v, CAST({_PR_SCALE} AS BIGINT) AS r FROM deg),
        r1 AS (
            SELECT deg.v,
                   CAST(floor(0.15 * {_PR_SCALE})
                        + floor(0.85 * coalesce(s, 0)) AS BIGINT) AS r
            FROM deg LEFT JOIN (
                SELECT dst AS v, CAST(sum(r // d) AS BIGINT) AS s
                FROM edges JOIN deg ON deg.v = edges.src
                           JOIN r0 ON r0.v = edges.src
                GROUP BY dst
            ) USING (v)
        ),
        r2 AS (
            SELECT deg.v,
                   CAST(floor(0.15 * {_PR_SCALE})
                        + floor(0.85 * coalesce(s, 0)) AS BIGINT) AS r
            FROM deg LEFT JOIN (
                SELECT dst AS v, CAST(sum(r // d) AS BIGINT) AS s
                FROM edges JOIN deg ON deg.v = edges.src
                           JOIN r1 ON r1.v = edges.src
                GROUP BY dst
            ) USING (v)
        )
        SELECT part, r, rank FROM (
            SELECT v AS part, r,
                   CAST(row_number() OVER (ORDER BY r DESC, v) AS BIGINT) AS rank
            FROM r2
        ) WHERE rank <= {_PR_TOPK}
    """,
    ref="PageRank over the co-purchase graph in FIXED-POINT integer arithmetic "
    f"(2 unrolled iterations, damping 0.85, scale {_PR_SCALE}): contributions "
    "are integer-DIV floors, neighbor sums are exact order-free integers, and "
    "0.85*S is one correctly-rounded double op floored back to an integer — "
    "so ranks are bit-identical on any engine at any parallelism (float "
    "PageRank sums diverge exactly like the k-means float means). Per "
    "iteration: one join keyed on src + one hash agg on dst — the standard "
    "distributed PageRank shape; the driver only sees the loop counter",
)
def copurchase_pagerank(spark, sf_dir):
    from pyspark.sql import Window

    # r12 (guide §3.1/§2.4): every per-iteration join probes the 2·|pairs|
    # edge stream against a VERTEX-sized frame. The r11 shape joined edges
    # twice per iteration as SortMergeJoins (plan: 12 SMJ / 78 Exchange —
    # the 240M-row sf10 edge list crossed a shuffle four times for the two
    # iterations). Now deg⋈r pre-joins vertex-to-vertex into one per-vertex
    # contribution frame (r DIV d), and the edge stream joins ONCE per
    # iteration — broadcast when the vertex count allows it
    # (_bcast_if_small), so the edge list is never shuffled by src at all;
    # above the cap the planner falls back to SMJ (a 100 TB part table
    # outgrows any broadcast) and still pays half the r11 join work.
    #
    # und and deg are persisted UNCONDITIONALLY. History: r7/r11 measured
    # persists as sf1 LOSSES (7.6 -> 11.6 s) because the old single-action
    # SMJ mega-DAG deduped the expansion through ReusedExchange — but that
    # same pipelining OOMed at 10^8 pairs (the r11 byte-gate). With the
    # broadcast shape the economics invert: every per-iteration broadcast
    # BUILD is its own job, so without a cache the expansion would re-run
    # per build (r12 interleaved A/B at sf1: unpersisted 10.5-11.3 s vs
    # persisted 5.0-5.4 s min-of-3; sf10: 60.8-122.6 -> 17.7 s). The
    # persist barrier also removes the concurrent-stage OOM geometry the
    # r11 gate existed for, so the fixture-calibrated byte proxy (ADVICE
    # r11) is gone rather than re-tuned. deg's populate count doubles as
    # the broadcast gate.
    und, _ = owned_persist(_copurchase_edges(spark, sf_dir))
    edges = und.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        und.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg, n_v = owned_persist(
        edges.groupBy("src").agg(F.count("*").alias("d")).withColumnRenamed(
            "src", "v"
        )
    )
    r = deg.select("v", F.lit(_PR_SCALE).cast("long").alias("r"))
    base = F.floor(F.lit(0.15 * _PR_SCALE)).cast("long")
    for _ in range(_PR_ITERS):
        per_v = (
            deg.join(r.withColumnRenamed("v", "rv"), F.col("v") == F.col("rv"))
            .select("v", F.expr("r DIV d").alias("c"))
        )
        contrib = (
            edges.join(_bcast_if_small(per_v, n_v), edges.src == per_v.v)
            .select("dst", "c")
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .withColumnRenamed("dst", "v")
        )
        r = deg.join(contrib, "v", "left").select(
            "v",
            (
                base
                + F.floor(F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0))).cast(
                    "long"
                )
            ).alias("r"),
        )
    topk = r.orderBy(F.col("r").desc(), F.col("v")).limit(_PR_TOPK)
    w = Window.orderBy(F.col("r").desc(), F.col("v"))
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("long"))
        .select(F.col("v").alias("part"), "r", "rank")
    )


_BFS_DEPTH = 3


@register(
    "copurchase_bfs_depth",
    oracle=f"""
        WITH RECURSIVE baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        und AS (
            SELECT DISTINCT parts[i] AS a, parts[j] AS b
            FROM baskets,
                 unnest(generate_series(1, len(parts))) AS t1(i),
                 unnest(generate_series(1, len(parts))) AS t2(j)
            WHERE i < j
        ),
        edges AS (SELECT a AS src, b AS dst FROM und
                  UNION ALL SELECT b, a FROM und),
        walk(v, depth) AS (
            SELECT (SELECT min(a) FROM und), 0
            UNION
            SELECT e.dst, w.depth + 1
            FROM walk w JOIN edges e ON e.src = w.v
            WHERE w.depth < {_BFS_DEPTH}
        ),
        bfs AS (SELECT v, CAST(min(depth) AS BIGINT) AS depth
                FROM walk GROUP BY v)
        SELECT depth, count(*) AS n_nodes,
               min(v) AS min_part, max(v) AS max_part
        FROM bfs GROUP BY depth
    """,
    ref="BFS to bounded depth over the co-purchase graph (iterative frontier "
    "expansion — the graph-traversal sibling of dedup_components' label "
    "propagation and copurchase_pagerank's fixed-point loop): each round is "
    "one join keyed on src + an anti join against the visited set, the "
    "standard Pregel superstep as DataFrame ops. The frontier is "
    "localCheckpoint-persisted per round (unbounded lineage re-executes the "
    "whole prefix otherwise — the connected-components lesson). Depth labels "
    "are first-reached = min over walks, so the output is order-free; the "
    "oracle is a recursive CTE bounded by the same depth. Driver sees only "
    "the loop counter",
)
def copurchase_bfs_depth(spark, sf_dir):
    und = _copurchase_edges(spark, sf_dir)
    # single-pass symmetrization (the r7 connected_components lesson): the
    # union-of-two-selects shape ran the basket pair expansion once per
    # branch even though the result is persisted — the explode reads it once
    edges = (
        und.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist()
    )
    edges.count()  # populate cache; every later consumer reads it
    # min(src) over the symmetric edges == min(a) over und (the oracle's
    # start node) — derived from the cache instead of a third expansion run
    src0 = edges.agg(F.min("src").alias("v")).select(
        "v", F.lit(0).cast("long").alias("depth")
    )
    visited = src0.localCheckpoint(eager=True)
    frontier = visited
    # r12 (guide §3.1): frontier and visited are VERTEX-bounded while edges
    # is the 2·|pairs| stream — before, each round's frontier⋈edges ran as a
    # SortMergeJoin shuffling the full 240M-row sf10 edge cache by src (and
    # the anti-join shuffled the candidate set again). Broadcasting the
    # checkpointed small sides keeps the edge cache map-side for all
    # _BFS_DEPTH rounds. Gated per round on the actual frontier/visited row
    # count (free: the frames are checkpointed) — a graph whose reachable
    # set outgrows the gate falls back to SMJ (_bcast_if_small).
    n_visited = 1
    for d in range(1, _BFS_DEPTH + 1):
        nxt = (
            _bcast_if_small(frontier, n_visited)
            .join(edges, frontier.v == edges.src)
            .select(F.col("dst").alias("v"))
            .distinct()
            .join(_bcast_if_small(visited, n_visited), "v", "left_anti")
            .select("v", F.lit(d).cast("long").alias("depth"))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        n_visited = visited.count()
        frontier = nxt
    out = visited.groupBy("depth").agg(
        F.count("*").alias("n_nodes"),
        F.min("v").alias("min_part"),
        F.max("v").alias("max_part"),
    )
    out = out.localCheckpoint(eager=True)
    edges.unpersist()
    return out


@register(
    "price_qty_ols_by_flag",
    oracle="""
        WITH m AS (
            SELECT l_returnflag AS flag,
                   CAST(l_quantity AS BIGINT) AS q,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS p
            FROM lineitem
        ),
        s AS (
            SELECT flag,
                   CAST(count(*) AS HUGEINT) AS n,
                   CAST(sum(q) AS HUGEINT) AS sq,
                   CAST(sum(p) AS HUGEINT) AS sp,
                   CAST(sum(q * q) AS HUGEINT) AS sqq,
                   CAST(sum(q * p) AS HUGEINT) AS sqp
            FROM m GROUP BY flag
        )
        SELECT flag, CAST(n AS BIGINT) AS n,
               (floor(((n * sqp - sq * sp) / ((n * sqq - sq * sq) * 1.0))
                      * 10000 + 0.5) / 10000) AS slope_cents_per_unit,
               (floor(((sp * 1.0) / n - ((n * sqp - sq * sp)
                       / ((n * sqq - sq * sq) * 1.0)) * ((sq * 1.0) / n))
                      * 10000 + 0.5) / 10000) AS intercept_cents
        FROM s
    """,
    ref="ordinary-least-squares fit per group from EXACT integer moment sums "
    "(the regression sibling of price_qty_corr_by_flag — built-in regr_slope "
    "aggregates floats in partial-agg order and cannot hash-match across "
    "engines): slope = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) and the intercept "
    "derive from order-free HUGEINT/DECIMAL(38,0) sums, converting to double "
    "only in the final division sequence (identical op order on both sides). "
    "One hash agg over the fact table; the formula runs on the |groups|-row "
    "frame",
)
def price_qty_ols_by_flag(spark, sf_dir):
    from ..functions.rounding import fround

    m = T(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("q"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("p"),
    )
    s = m.groupBy("flag").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
    )
    d38 = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    # identical float-op ORDER as the oracle: num / (den * 1.0), then a/n etc.
    num = (d38("n") * d38("sqp") - d38("sq") * d38("sp")).cast("double")
    den = (d38("n") * d38("sqq") - d38("sq") * d38("sq")).cast("double")
    slope = num / den
    mean_p = d38("sp").cast("double") / F.col("n")
    mean_q = d38("sq").cast("double") / F.col("n")
    return s.select(
        "flag",
        F.col("n").alias("n"),
        fround(slope, 4).alias("slope_cents_per_unit"),
        fround(mean_p - slope * mean_q, 4).alias("intercept_cents"),
    )


@register(
    "validate_orders_constraints",
    oracle="""
        SELECT * FROM (
            SELECT 'pk_unique' AS check_name,
                   CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
                       AS n_violations
            FROM orders
            UNION ALL
            SELECT 'custkey_not_null',
                   CAST(count(*) FILTER (o_custkey IS NULL) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'fk_customer',
                   CAST(count(*) AS BIGINT)
            FROM orders o WHERE NOT EXISTS
                (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            UNION ALL
            SELECT 'totalprice_positive',
                   CAST(count(*) FILTER (o_totalprice <= 0) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'status_in_domain',
                   CAST(count(*) FILTER (o_orderstatus NOT IN ('O','F','P'))
                        AS BIGINT)
            FROM orders
        )
    """,
    ref="Deequ-style constraint validation over the orders table (the assertive "
    "complement of profile_orders_columns): primary-key uniqueness, non-null, "
    "referential integrity to customer (NOT EXISTS anti join), value range, and "
    "set-domain membership — each check one named row with its violation count, "
    "so a pipeline gate reads pass/fail relationally. Filter-aggregates share "
    "one column-pruned scan per branch; the FK check is an anti join that "
    "broadcasts the dim at test SF and shuffles at 100 TB. The reference's "
    "analog is a counter-emitting audit job (Counters, SURVEY §2.5)",
)
def validate_orders_constraints(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").select("c_custkey")

    def one(name, cnt):
        return cnt.select(
            F.lit(name).alias("check_name"), F.col("n").cast("long").alias("n_violations")
        )

    pk = one(
        "pk_unique",
        o.agg((F.count("*") - F.count_distinct("o_orderkey")).alias("n")),
    )
    nn = one(
        "custkey_not_null",
        o.agg(F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("n")),
    )
    fk = one(
        "fk_customer",
        o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(
            F.count("*").alias("n")
        ),
    )
    rng = one(
        "totalprice_positive",
        o.agg(F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n")),
    )
    dom = one(
        "status_in_domain",
        o.agg(
            F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)).alias("n")
        ),
    )
    return pk.unionByName(nn).unionByName(fk).unionByName(rng).unionByName(dom)


@register(
    "csv_roundtrip_parse",
    oracle="""
        SELECT event_id, event_type, user_id FROM events
    """,
    ref="delimited-text source round trip (TextInputFormat + the KeyValue/"
    "CSV-parse idiom, LIB/input/KeyValueLineRecordReader.java — here the full "
    "quoted-CSV dialect Spark's csv source implements): events are written as "
    "CSV (distributed write, never collected), read back with an EXPLICIT "
    "schema + FAILFAST (schema inference would re-scan the data and silently "
    "widen types at 100 TB; explicit schema is the scale posture), and "
    "projected. The oracle is the original table — write + parse are lossless",
)
def csv_roundtrip_parse(spark, sf_dir):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    ev = T(spark, sf_dir, "events").select("event_id", "event_type", "user_id")
    stage = stage_dir("/tmp/gaia_spark_csv", sf_dir, "events")
    ev.write.mode("overwrite").option("header", "true").csv(stage)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("user_id", LongType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "FAILFAST")
        .csv(stage)
    )


@register(
    "orc_roundtrip_scan",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        WHERE o_orderkey % 7 = 0
    """,
    ref="columnar container breadth beyond parquet (SequenceFile/MapFile are the "
    "reference's containers, SURVEY §2.1-2.2; ORC is the columnar equivalent "
    "Spark ships natively): orders written as ORC, read back with a pushed "
    "filter — ORC carries min/max stripe stats exactly like parquet row "
    "groups, so the scan prunes server-side. Round trip proves the sink+source "
    "pair; the modulo filter runs post-scan on both engines",
)
def orc_roundtrip_scan(spark, sf_dir):
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus")
    stage = stage_dir("/tmp/gaia_spark_orc", sf_dir, "orders")
    o.write.mode("overwrite").orc(stage)
    return spark.read.orc(stage).filter(F.col("o_orderkey") % 7 == 0)


@register(
    "jsonl_roundtrip_extract",
    oracle="""
        SELECT event_id, event_type, user_id,
               CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)
                   AS value_micro
        FROM events
    """,
    ref="JSON-lines source/sink round trip (completes the text-container "
    "family next to csv/orc/xml: newline-delimited JSON is THE interchange "
    "format crawl dumps and API exports arrive in): events write as .jsonl "
    "(distributed, one JSON object per line), read back with an EXPLICIT "
    "schema + FAILFAST (inference re-scans and silently widens at 100 TB), "
    "and project. Doubles canonicalize through DECIMAL(18,6) micro-units "
    "because a raw double survives the decimal-text round trip to the "
    "shortest representation — exact — but must be compared as exact "
    "integers across engines (the cents rule at 6 digits)",
)
def jsonl_roundtrip_extract(spark, sf_dir):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ev = T(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    stage = stage_dir("/tmp/gaia_spark_jsonl", sf_dir, "events")
    ev.write.mode("overwrite").json(stage)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "FAILFAST")
        .json(stage)
        .select(
            "event_id",
            "event_type",
            "user_id",
            (F.col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")
            .alias("value_micro"),
        )
    )


@register(
    "schema_evolution_merge",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 2 = 1
                    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               END AS price_cents,
               CAST(o_orderkey % 2 AS BIGINT) AS batch_v
        FROM orders
    """,
    ref="schema evolution on read (the lakehouse reality the reference's rigid "
    "Writable containers cannot express — SURVEY §1.3): batch v0 wrote "
    "(orderkey, status), a later batch v1 added price_cents; mergeSchema=true "
    "reconciles the union schema at scan time and v0 rows surface the new "
    "column as NULL — no rewrite of old files, the append-only contract at "
    "100 TB. The oracle derives the same union from the source table (price "
    "present iff the row shipped in v1). Money through DECIMAL(18,2) cents",
)
def schema_evolution_merge(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    stage = stage_dir("/tmp/gaia_spark_evolve", sf_dir, "orders")
    v0 = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    v1 = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    v0.write.mode("overwrite").parquet(stage + "/v=0")
    v1.write.mode("overwrite").parquet(stage + "/v=1")
    merged = spark.read.option("mergeSchema", "true").parquet(
        stage + "/v=0", stage + "/v=1"
    )
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        "price_cents",
        (F.col("o_orderkey") % 2).cast("long").alias("batch_v"),
    )


@register(
    "copurchase_lift_rules",
    oracle="""
        WITH baskets AS (
            SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey
        ),
        tot AS (SELECT count(*) AS n_baskets FROM baskets),
        item AS (
            SELECT part, count(*) AS n_item
            FROM (SELECT l_orderkey, unnest(parts) AS part FROM baskets)
            GROUP BY part
        ),
        pairs AS (
            SELECT parts[i] AS part_a, parts[j] AS part_b
            FROM baskets,
                 unnest(generate_series(1, len(parts))) AS t1(i),
                 unnest(generate_series(1, len(parts))) AS t2(j)
            WHERE i < j
        ),
        counted AS (
            SELECT part_a, part_b, count(*) AS n_ab
            FROM pairs GROUP BY part_a, part_b
        ),
        rules AS (
            SELECT part_a, part_b, n_ab,
                   ia.n_item AS n_a, ib.n_item AS n_b, n_baskets,
                   (1000000 * n_ab) // n_baskets AS support_ppm,
                   (1000000 * n_ab) // ia.n_item AS confidence_ppm,
                   (1000000 * n_ab * n_baskets) // (ia.n_item * ib.n_item)
                       AS lift_ppm
            FROM counted
            JOIN item ia ON ia.part = part_a
            JOIN item ib ON ib.part = part_b
            CROSS JOIN tot
            WHERE n_ab >= 3
        )
        SELECT part_a, part_b,
               CAST(n_ab AS BIGINT) AS n_ab,
               CAST(support_ppm AS BIGINT) AS support_ppm,
               CAST(confidence_ppm AS BIGINT) AS confidence_ppm,
               CAST(lift_ppm AS BIGINT) AS lift_ppm,
               rank
        FROM (
            SELECT *, CAST(row_number() OVER (
                       ORDER BY lift_ppm DESC, part_a, part_b
                   ) AS BIGINT) AS rank
            FROM rules
        ) WHERE rank <= 20
    """,
    ref="association rules on top of copurchase_part_pairs' co-occurrence "
    "counts: support / confidence(A->B) / LIFT in exact integer ppm — "
    "(1e6*n_ab*n_baskets) DIV (n_a*n_b) never touches a float, so the rule "
    "ranking is bit-identical across engines (a float lift would tie-break "
    "nondeterministically). min-support n_ab >= 3 prunes the rule set "
    "BEFORE the item joins (the a-priori downward-closure shortcut); item "
    "counts broadcast (|parts|-sized); top-20 by lift via TakeOrdered",
)
def copurchase_lift_rules(spark, sf_dir):
    from pyspark.sql import Window

    li = T(spark, sf_dir, "lineitem")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ids"))
    )
    n_baskets = baskets.agg(F.count("*").alias("n_baskets"))
    item = (
        baskets.select(F.explode("ids").alias("part"))
        .groupBy("part")
        .agg(F.count("*").alias("n_item"))
    )
    counted = (
        expand_bucket_pairs(baskets.filter(F.size("ids") >= 2))
        .groupBy(F.col("id_a").alias("part_a"), F.col("id_b").alias("part_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 3)
    )
    ia = item.select(F.col("part").alias("part_a"), F.col("n_item").alias("n_a"))
    ib = item.select(F.col("part").alias("part_b"), F.col("n_item").alias("n_b"))
    rules = (
        counted.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "part_a",
            "part_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.expr("(1000000 * n_ab) DIV n_baskets").alias("support_ppm"),
            F.expr("(1000000 * n_ab) DIV n_a").alias("confidence_ppm"),
            F.expr("(1000000 * n_ab * n_baskets) DIV (n_a * n_b)").alias(
                "lift_ppm"
            ),
        )
    )
    w = Window.orderBy(F.col("lift_ppm").desc(), "part_a", "part_b")
    return (
        rules.orderBy(F.col("lift_ppm").desc(), "part_a", "part_b")
        .limit(20)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


@register(
    "incremental_agg_maintenance",
    oracle="""
        WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        delta AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
        base_mv AS (
            SELECT o_orderstatus, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM base GROUP BY o_orderstatus
        ),
        delta_agg AS (
            SELECT o_orderstatus, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM delta GROUP BY o_orderstatus
        ),
        merged AS (
            SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n_orders,
                   CAST(sum(cents) AS BIGINT) AS cents
            FROM (SELECT * FROM base_mv UNION ALL SELECT * FROM delta_agg)
            GROUP BY o_orderstatus
        ),
        full_mv AS (
            SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM orders GROUP BY o_orderstatus
        )
        SELECT m.o_orderstatus, m.n_orders, m.cents,
               m.n_orders = f.n_orders AND m.cents = f.cents AS matches_recompute
        FROM merged m JOIN full_mv f USING (o_orderstatus)
    """,
    ref="incremental view maintenance — the materialized-view refresh a "
    "warehouse runs on every ingest batch: the stored per-status aggregate "
    "absorbs a delta batch by MERGING partial aggregates (count/sum are "
    "algebraic — merge = sum of partials, never a rescan of the base), and "
    "the query VERIFIES the maintained view equals a full recompute "
    "in-query (matches_recompute column, the hll_merge_daily verify-not-"
    "assert pattern). At 100 TB the base aggregate is |statuses| rows and "
    "the refresh touches only the delta — the entire point of IVM; "
    "complements cdc_upsert_orders (row-level MERGE) with aggregate-level "
    "maintenance. Exact BIGINT cents via DECIMAL(18,2)",
)
def incremental_agg_maintenance(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    cents = (F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)).cast("long")

    def agg(df):
        return df.groupBy("o_orderstatus").agg(
            F.count("*").alias("n"), cents.alias("cents")
        )

    base_mv = agg(o.filter(F.col("o_orderkey") % 10 != 0))
    delta_agg = agg(o.filter(F.col("o_orderkey") % 10 == 0))
    merged = (
        base_mv.unionByName(delta_agg)
        .groupBy("o_orderstatus")
        .agg(F.sum("n").cast("long").alias("n_orders"), F.sum("cents").cast("long").alias("cents"))
    )
    full_mv = agg(o).select(
        "o_orderstatus",
        F.col("n").cast("long").alias("f_n"),
        F.col("cents").alias("f_cents"),
    )
    return merged.join(full_mv, "o_orderstatus").select(
        "o_orderstatus",
        "n_orders",
        "cents",
        (
            (F.col("n_orders") == F.col("f_n"))
            & (F.col("cents") == F.col("f_cents"))
        ).alias("matches_recompute"),
    )


@register(
    "events_daily_ewma",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        packed AS (
            SELECT event_type,
                   list(struct_pack(day := day, n := n) ORDER BY day) AS xs
            FROM daily GROUP BY event_type
        ),
        folded AS (
            SELECT event_type, xs,
                   list_reduce(
                       list_transform(xs, v -> [CAST(v.n AS DOUBLE)]),
                       (acc, x) -> list_append(
                           acc,
                           CAST(0.3 AS DOUBLE) * x[1]
                           + CAST(0.7 AS DOUBLE) * acc[len(acc)])
                   ) AS arr
            FROM packed
        )
        SELECT event_type, xs[CAST(i AS INT)].day AS day,
               xs[CAST(i AS INT)].n AS n,
               (floor(arr[CAST(i AS INT)] * 1000000 + 0.5) / 1000000) AS ewma
        FROM folded, unnest(generate_series(1, len(arr))) AS u(i)
    """,
    ref="exponentially-weighted moving average per event type (alpha=0.3, "
    "seeded at the first observed day) — the recursive smoother no window "
    "frame can express (each value depends on the PREVIOUS smoothed value, "
    "not a fixed frame of inputs). Per type the day-ordered daily counts "
    "collect into one bounded array (|days| elements — thousands at any "
    "corpus scale, the same bound as events_weekly_moving_avg) and ONE "
    "left fold produces the full EWMA trajectory; both engines fold in "
    "identical day order with the identical a = 0.3*x + 0.7*a expression, "
    "so the floats are bit-identical (the value-sorted-fold rule's sibling: "
    "here the fold order is the KEYED order, deterministic because days "
    "are unique per type). DuckDB's list_reduce has no initial-accumulator "
    "form, so the fold runs over single-element lists ([v] elements, list "
    "accumulator) — the element-type trick; Spark mirrors with "
    "F.aggregate(slice(xs, 2, n-1), array(x0), append). Complements "
    "events_weekly_moving_avg (frame-based) and events_anomaly_zscore",
)
def events_daily_ewma(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            ),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    packed = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "n"))).alias("xs")
    )
    folded = packed.withColumn(
        "arr",
        F.aggregate(
            F.expr("slice(xs, 2, size(xs) - 1)"),
            F.array(F.col("xs")[0]["n"].cast("double")),
            lambda acc, x: F.array_append(
                acc,
                F.lit(0.3) * x["n"].cast("double")
                + F.lit(0.7) * F.element_at(acc, -1),
            ),
        ),
    )
    exploded = folded.select(
        "event_type", F.posexplode("arr").alias("i0", "ewma_raw"), F.col("xs")
    )
    return exploded.select(
        "event_type",
        F.col("xs")[F.col("i0")]["day"].alias("day"),
        F.col("xs")[F.col("i0")]["n"].alias("n"),
        (F.floor(F.col("ewma_raw") * 1000000 + F.lit(0.5)) / 1000000).alias("ewma"),
    )


@register(
    "events_cusum_drift",
    oracle="""
        WITH daily AS (
            SELECT event_type,
                   strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   CAST(count(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ),
        stats AS (
            SELECT event_type,
                   CAST(sum(n) AS BIGINT) / CAST(count(*) AS BIGINT) AS mu,
                   CAST(count(*) AS BIGINT) AS n_days
            FROM daily GROUP BY event_type
        ),
        packed AS (
            SELECT d.event_type, s.n_days,
                   list(CAST(d.n AS DOUBLE) - s.mu ORDER BY d.day) AS devs
            FROM daily d JOIN stats s ON s.event_type = d.event_type
            GROUP BY d.event_type, s.n_days
        ),
        folded AS (
            SELECT event_type, n_days,
                   list_reduce(
                       [[CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)]]
                           || list_transform(devs, d -> [d, CAST(0 AS DOUBLE)]),
                       (acc, x) -> [greatest(acc[1] + x[1], 0),
                                    greatest(acc[2], greatest(acc[1] + x[1], 0))]
                   ) AS st
            FROM packed
        )
        SELECT event_type, n_days,
               (floor(st[1] * 1000000 + 0.5) / 1000000) AS cusum_final,
               (floor(st[2] * 1000000 + 0.5) / 1000000) AS cusum_max
        FROM folded
    """,
    ref="one-sided CUSUM drift detection per event type — the sequential "
    "change-point statistic s_t = max(0, s_{t-1} + (x_t - mean)): another "
    "recursive fold no window frame expresses (the EWMA sibling; together "
    "with events_anomaly_zscore these are the monitoring readouts over the "
    "daily rollup). The per-type mean is ONE division of exact integer "
    "sums; deviations are a single subtraction each; the fold carries a "
    "2-slot [s, s_max] accumulator over day-ordered deviations with "
    "identical IEEE op order on both engines. DuckDB's list_reduce takes "
    "no initial accumulator, so a [0,0] seed element is prepended and the "
    "deviations ride as [d, 0] two-slot elements (the same element-type "
    "trick as events_daily_ewma). State is |days| per type — bounded at "
    "any corpus scale",
)
def events_cusum_drift(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            ),
        )
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        (F.sum("n").cast("long") / F.count("*").cast("long")).alias("mu"),
        F.count("*").cast("long").alias("n_days"),
    )
    packed = (
        daily.join(stats, "event_type")
        .groupBy("event_type", "n_days")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct("day", (F.col("n").cast("double") - F.col("mu")).alias("d"))
                    )
                ),
                lambda s: s["d"],
            ).alias("devs")
        )
    )
    # DuckDB has no explicit init, so its fold prepends a [0,0] seed element;
    # Spark's F.aggregate takes the same [0,0] as the real init and folds the
    # two-slot deviations directly — identical iteration sequence.
    two_slot = F.transform(F.col("devs"), lambda d: F.array(d, F.lit(0.0)))
    folded = packed.withColumn(
        "st",
        F.aggregate(
            two_slot,
            F.array(F.lit(0.0), F.lit(0.0)),
            lambda acc, x: F.array(
                F.greatest(F.element_at(acc, 1) + F.element_at(x, 1), F.lit(0.0)),
                F.greatest(
                    F.element_at(acc, 2),
                    F.greatest(
                        F.element_at(acc, 1) + F.element_at(x, 1), F.lit(0.0)
                    ),
                ),
            ),
        ),
    )
    return folded.select(
        "event_type",
        "n_days",
        (F.floor(F.element_at("st", 1) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "cusum_final"
        ),
        (F.floor(F.element_at("st", 2) * 1000000 + F.lit(0.5)) / 1000000).alias(
            "cusum_max"
        ),
    )


@register(
    "incremental_agg_retraction",
    oracle="""
        WITH base AS (SELECT * FROM orders WHERE o_orderkey % 10 <> 0),
        inserts AS (SELECT * FROM orders WHERE o_orderkey % 10 = 0),
        deletes AS (SELECT * FROM base WHERE o_orderkey % 7 = 0),
        base_mv AS (
            SELECT o_orderstatus, count(*) AS n,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM base GROUP BY o_orderstatus
        ),
        delta AS (
            SELECT o_orderstatus,
                   CAST(sum(sgn) AS BIGINT) AS n,
                   CAST(sum(sgn * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                       AS BIGINT)) AS BIGINT) AS cents
            FROM (
                SELECT o_orderstatus, o_totalprice, 1 AS sgn FROM inserts
                UNION ALL
                SELECT o_orderstatus, o_totalprice, -1 AS sgn FROM deletes
            )
            GROUP BY o_orderstatus
        ),
        merged AS (
            SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n_orders,
                   CAST(sum(cents) AS BIGINT) AS cents
            FROM (SELECT * FROM base_mv UNION ALL SELECT * FROM delta)
            GROUP BY o_orderstatus
            HAVING sum(n) > 0
        ),
        truth AS (
            SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
                       AS cents
            FROM (
                SELECT * FROM base WHERE o_orderkey % 7 <> 0
                UNION ALL SELECT * FROM inserts
            )
            GROUP BY o_orderstatus
        )
        SELECT m.o_orderstatus, m.n_orders, m.cents,
               m.n_orders = t.n_orders AND m.cents = t.cents
                   AS matches_recompute
        FROM merged m JOIN truth t USING (o_orderstatus)
    """,
    ref="incremental view maintenance WITH RETRACTIONS — the half of IVM "
    "that incremental_agg_maintenance's insert-only delta doesn't cover: a "
    "CDC batch carries deletes too, and algebraic aggregates absorb them "
    "as SIGNED partials (sgn=+1 inserts / -1 deletes — count and sum are "
    "self-inverse, so retraction is merge with negated partials, never a "
    "base rescan; this is exactly how Flink/Materialize-style engines "
    "retract). Groups whose count reaches zero drop out (HAVING n > 0 — "
    "the retraction-to-empty edge). Verified in-query against a full "
    "recompute of (base - deletes + inserts). Exact BIGINT cents "
    "throughout; at 100 TB the refresh touches only the delta batch",
)
def incremental_agg_retraction(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    cents_col = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")

    base = o.filter(F.col("o_orderkey") % 10 != 0)
    inserts = o.filter(F.col("o_orderkey") % 10 == 0)
    deletes = base.filter(F.col("o_orderkey") % 7 == 0)

    base_mv = base.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    signed = inserts.select(
        "o_orderstatus", cents_col.alias("c"), F.lit(1).alias("sgn")
    ).unionByName(
        deletes.select(
            "o_orderstatus", cents_col.alias("c"), F.lit(-1).alias("sgn")
        )
    )
    delta = signed.groupBy("o_orderstatus").agg(
        F.sum("sgn").cast("long").alias("n"),
        F.sum(F.col("sgn") * F.col("c")).cast("long").alias("cents"),
    )
    merged = (
        base_mv.unionByName(delta)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
        .filter(F.col("n_orders") > 0)
    )
    truth = (
        base.filter(F.col("o_orderkey") % 7 != 0)
        .unionByName(inserts)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("t_n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("t_cents"),
        )
    )
    return merged.join(truth, "o_orderstatus").select(
        "o_orderstatus",
        "n_orders",
        "cents",
        (
            (F.col("n_orders") == F.col("t_n"))
            & (F.col("cents") == F.col("t_cents"))
        ).alias("matches_recompute"),
    )

"""Per-operator unit tests — the analog of the reference's
`mapreduce/lib/**` test classes (SURVEY §5.1): tiny deterministic inputs with
analytically known answers.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- pair kernel


def test_pair_kernel_roundtrip(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators import pair

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3), ("b", 4), ("a", 5)], ["k", "v"]
    )
    kv = pair.to_kv(df, "k", "v")
    assert kv.columns == ["key", "value"]

    summed = {r["key"]: r["value"] for r in pair.reduce_by_key(kv, F.sum("value")).collect()}
    assert summed == {"a": 9, "b": 6}

    multi = pair.combine_by_key(
        kv, F.sum("value").alias("s"), F.count("*").alias("c")
    ).collect()
    assert {(r["key"], r["s"], r["c"]) for r in multi} == {("a", 9, 3), ("b", 6, 2)}


def test_pair_flat_map_and_inverse(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators import pair

    df = spark.createDataFrame([("d1", "x y x")], ["k", "text"])
    kv = pair.to_kv(df, "k", "text")
    words = pair.flat_map_values(kv, F.split(F.col("value"), " "))
    assert sorted(r["value"] for r in words.collect()) == ["x", "x", "y"]


def test_pair_group_sorted_values_secondary_sort(spark):
    """SecondarySort.java contract: values per key in deterministic order."""
    from hadoop_3_0_0_beta1_gaia_spark.operators import pair

    rows = [("u1", 30), ("u1", 10), ("u2", 7), ("u1", 20), ("u2", 3)]
    kv = pair.to_kv(spark.createDataFrame(rows, ["k", "v"]), "k", "v")
    out = {r["key"]: r["values"] for r in pair.group_sorted_values(kv).collect()}
    assert out == {"u1": [10, 20, 30], "u2": [3, 7]}


def test_pair_counters_observe(spark):
    """Counter.java → df.observe: exact counts after an action."""
    from hadoop_3_0_0_beta1_gaia_spark.operators import pair

    df = spark.range(100).select(F.col("id").alias("key"), F.col("id").alias("value"))
    observed, obs = pair.with_counter(
        df, "counters", F.count("*").alias("records"), F.sum("value").alias("vsum")
    )
    observed.write.format("noop").mode("overwrite").save()
    assert obs.get["records"] == 100
    assert obs.get["vsum"] == 4950


# ------------------------------------------------------------ chain / control


def test_chain_composes_in_order(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.chain import chain

    df = spark.range(10)
    f = chain(
        lambda d: d.filter(F.col("id") % 2 == 0),
        lambda d: d.select((F.col("id") * 10).alias("x")),
        lambda d: d.agg(F.sum("x").alias("s")),
    )
    assert f(df).collect()[0]["s"] == 200  # (0+2+4+6+8)*10


def test_jobcontrol_dag_and_failure_propagation():
    from hadoop_3_0_0_beta1_gaia_spark.operators.chain import (
        ControlledJob,
        JobControl,
        JobState,
    )

    log: list[str] = []
    jc = JobControl()
    jc.add_job(ControlledJob("a", lambda: log.append("a")))
    jc.add_job(ControlledJob("b", lambda: 1 / 0, depends_on=["a"]))
    jc.add_job(ControlledJob("c", lambda: log.append("c"), depends_on=["b"]))
    jc.add_job(ControlledJob("d", lambda: log.append("d"), depends_on=["a"]))
    states = jc.run()
    assert states == {
        "a": JobState.SUCCESS,
        "b": JobState.FAILED,
        "c": JobState.DEPENDENT_FAILED,
        "d": JobState.SUCCESS,
    }
    assert log == ["a", "d"]


def test_jobcontrol_cycle_detection():
    from hadoop_3_0_0_beta1_gaia_spark.operators.chain import ControlledJob, JobControl

    jc = JobControl()
    jc.add_job(ControlledJob("a", lambda: None, depends_on=["b"]))
    jc.add_job(ControlledJob("b", lambda: None, depends_on=["a"]))
    with pytest.raises(ValueError, match="cycle"):
        jc.run()


# ------------------------------------------------------------------- terasort


def test_terasort_teravalidate(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.terasort import (
        checksum,
        terasort,
        teravalidate,
    )
    from hadoop_3_0_0_beta1_gaia_spark.sources.generators import teragen

    gen = teragen(spark, 5000, num_partitions=8)
    csum_in = checksum(gen)
    sorted_df = terasort(gen, num_partitions=8)
    v = teravalidate(sorted_df, csum_in)
    assert v.ok, v
    assert v.n_rows == 5000
    assert csum_in > 0


def test_teravalidate_flags_disorder(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.terasort import checksum, teravalidate
    from hadoop_3_0_0_beta1_gaia_spark.sources.generators import teragen

    gen = teragen(spark, 2000).repartition(4)  # hash-scattered: NOT sorted
    v = teravalidate(gen, checksum(gen))
    assert v.checksum_in == v.checksum_out  # same records
    assert v.n_boundary_violations > 0  # but no total order


def test_teravalidate_flags_in_partition_disorder(spark):
    """Range-partitioned but UNSORTED within partitions: boundary min/max and
    checksum both pass (they are order-insensitive), so only the physical-
    order disorder scan can catch it — the check must order by row position,
    not by the key itself."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.operators.terasort import checksum, teravalidate
    from hadoop_3_0_0_beta1_gaia_spark.sources.generators import teragen

    gen = teragen(spark, 2000)
    bad = gen.repartitionByRange(4, F.col("kv_key")).sortWithinPartitions(
        F.col("kv_key").desc()  # reversed inside each range partition
    )
    v = teravalidate(bad, checksum(gen))
    assert v.checksum_in == v.checksum_out
    assert v.n_boundary_violations == 0  # ranges are still disjoint
    assert v.n_disorder > 0  # ...but physical order is wrong
    assert not v.ok


def test_sort_validator_passes_on_real_sort(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.sort import sort_validator
    from hadoop_3_0_0_beta1_gaia_spark.operators.terasort import terasort
    from hadoop_3_0_0_beta1_gaia_spark.sources.generators import teragen

    gen = teragen(spark, 3000, num_partitions=6)
    report = sort_validator(gen, terasort(gen, num_partitions=6), deep=True)
    assert report.ok, report
    assert report.records_in == 3000
    assert report.deep_mismatches == 0


def test_sort_validator_flags_lost_record(spark):
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.operators.sort import sort_validator
    from hadoop_3_0_0_beta1_gaia_spark.operators.terasort import terasort
    from hadoop_3_0_0_beta1_gaia_spark.sources.generators import teragen

    gen = teragen(spark, 1000, num_partitions=4)
    first_key = gen.agg(F.min("kv_key")).collect()[0][0]
    lossy = terasort(gen.filter(F.col("kv_key") != first_key), num_partitions=4)
    report = sort_validator(gen, lossy)
    assert report.records_out == report.records_in - 1
    assert report.checksum_in != report.checksum_out
    assert not report.ok


def test_sort_validator_xor_catches_same_length_corruption(spark):
    """A record mutated in place (same byte count) passes the count/byte
    checks — only the xor-of-hashes (and -deep) can catch it, exactly the
    scenario SortValidator's checksum exists for."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.operators.sort import sort_validator
    from hadoop_3_0_0_beta1_gaia_spark.operators.terasort import terasort
    from hadoop_3_0_0_beta1_gaia_spark.sources.generators import teragen

    gen = teragen(spark, 1000, num_partitions=4)
    first_key = gen.agg(F.min("kv_key")).collect()[0][0]
    corrupt = terasort(
        gen.withColumn(
            "kv_value",
            F.when(F.col("kv_key") == first_key, F.reverse(F.col("kv_value"))).otherwise(
                F.col("kv_value")
            ),
        ),
        num_partitions=4,
    )
    report = sort_validator(gen, corrupt, deep=True)
    assert report.records_in == report.records_out
    assert report.bytes_in == report.bytes_out
    assert report.checksum_in != report.checksum_out
    assert report.deep_mismatches == 2  # one record differs on each side
    assert not report.ok


def test_salted_join_rejects_outer_how(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.skew import salted_join

    big = spark.range(10).withColumnRenamed("id", "k")
    small = spark.range(3).withColumnRenamed("id", "sk")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, "k", "sk", salt_source="k", how="full")
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(big, small, "k", "sk", salt_source="k", how="right")


# ----------------------------------------------------------------------- pipe


def test_pipe_df_identity_and_transform(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.pipe import pipe_df

    df = spark.createDataFrame([("k1", "alpha"), ("k2", "beta")], ["k", "v"])
    out = {r["key"]: r["value"] for r in pipe_df(df, "cat").collect()}
    assert out == {"k1": "alpha", "k2": "beta"}

    upper = {r["key"]: r["value"] for r in pipe_df(df, "tr a-z A-Z").collect()}
    assert upper == {"K1": "ALPHA", "K2": "BETA"}


def test_pipe_num_key_fields(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.pipe import pipe_df

    df = spark.createDataFrame([("a", "b", "c d")], ["x", "y", "z"])
    row = pipe_df(df, "cat", num_key_fields=2).collect()[0]
    assert (row["key"], row["value"]) == ("a\tb", "c d")


# -------------------------------------------------------------------- writers


def test_write_text_and_partitioned(spark, tmp_path):
    from hadoop_3_0_0_beta1_gaia_spark.sources.writers import (
        write_partitioned,
        write_text,
    )

    df = spark.createDataFrame(
        [("a", 1, "us"), ("b", 2, "eu"), ("c", 3, "us")], ["k", "v", "geo"]
    )
    tpath = str(tmp_path / "text")
    write_text(df, tpath, sep="\t")
    lines = sorted(r["value"] for r in spark.read.text(tpath).collect())
    assert lines == ["a\t1\tus", "b\t2\teu", "c\t3\tus"]

    ppath = str(tmp_path / "part")
    write_partitioned(df, ppath, ["geo"])
    back = spark.read.parquet(ppath)
    # partition pruning surface: geo is a partition column
    assert sorted(r["k"] for r in back.filter(F.col("geo") == "us").collect()) == ["a", "c"]


def test_write_named_outputs_and_sorted(spark, tmp_path):
    from hadoop_3_0_0_beta1_gaia_spark.sources.writers import (
        write_named_outputs,
        write_sorted,
    )

    df = spark.range(100).select(F.col("id"), (F.col("id") % 2 == 0).alias("even"))
    base = str(tmp_path / "named")
    write_named_outputs(
        df, base, {"evens": F.col("even"), "big": F.col("id") >= 90}
    )
    assert spark.read.parquet(f"{base}/evens").count() == 50
    assert spark.read.parquet(f"{base}/big").count() == 10

    spath = str(tmp_path / "sorted")
    write_sorted(spark.range(1000).select((999 - F.col("id")).alias("id")), spath, "id", 4)
    files = spark.read.parquet(spath)
    assert files.count() == 1000


# ----------------------------------------------------------------- skew ops


def test_salted_agg_equals_plain_groupby(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.skew import salted_agg

    rows = [("hot", i, float(i)) for i in range(900)] + [
        ("cold", i, float(i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["key", "rid", "v"])
    salted = salted_agg(
        df,
        "key",
        [("n", F.count("*"), F.sum("n")), ("s", F.sum("v"), F.sum("s"))],
        num_salts=8,
        salt_source="rid",
    )
    got = {r["key"]: (r["n"], r["s"]) for r in salted.collect()}
    assert got == {"hot": (900, float(sum(range(900)))), "cold": (100, float(sum(range(100))))}


def test_salted_join_equals_plain_join(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(i, i % 3, f"r{i}") for i in range(300)], ["rid", "k", "payload"]
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["sk", "tag"])
    plain = sorted(
        (r["rid"], r["tag"])
        for r in big.join(small, big["k"] == small["sk"]).collect()
    )
    salted = sorted(
        (r["rid"], r["tag"])
        for r in salted_join(
            big, small, big_key="k", small_key="sk", num_salts=4, salt_source="rid"
        ).collect()
    )
    assert salted == plain and len(salted) == 300


def test_range_join_bucketed_equals_nonequi(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.skew import range_join_bucketed

    probe = spark.createDataFrame(
        [(i, f"2024-03-{d:02d}") for i, d in enumerate([1, 5, 9, 14, 28], 1)],
        ["pid", "d"],
    ).select("pid", F.to_timestamp("d").alias("ts"))
    iv = spark.createDataFrame(
        [(10, "2024-03-01", "2024-03-06"), (20, "2024-03-04", "2024-03-15")],
        ["iid", "s", "e"],
    ).select("iid", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))

    got = {
        (r["pid"], r["iid"])
        for r in range_join_bucketed(probe, iv, "ts", "s", "e", bucket_days=3).collect()
    }
    plain = {
        (r["pid"], r["iid"])
        for r in probe.join(
            iv, (F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e"))
        ).collect()
    }
    assert got == plain == {(1, 10), (2, 10), (2, 20), (3, 20), (4, 20)}


def test_asof_join_semantics(spark):
    from hadoop_3_0_0_beta1_gaia_spark.operators.skew import asof_join

    left = spark.createDataFrame(
        [(1, 10, "l@10"), (1, 20, "l@20"), (1, 5, "l@5"), (2, 50, "l2@50")],
        ["k", "t", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 15, 150.0), (2, 60, 600.0)], ["k", "t", "val"]
    )
    out = {
        r["tag"]: r["asof_val"]
        for r in asof_join(
            left, right, key="k", ts="t", right_value="val", out_name="asof_val"
        ).collect()
    }
    assert out == {
        "l@5": None,  # nothing at-or-before t=5
        "l@10": 100.0,  # equal timestamp matches (inclusive)
        "l@20": 150.0,  # latest at-or-before
        "l2@50": None,  # right exists only later
    }


# -------------------------------------------------------------- partitioning


def test_binary_partition_colocates_key_slices(spark):
    """BinaryPartitioner contract: equal key-slices land in one partition."""
    from hadoop_3_0_0_beta1_gaia_spark.operators.sort import binary_partition

    df = spark.createDataFrame(
        [(f"{p}x{i}",) for p in "abcd" for i in range(25)], ["k"]
    )
    out = binary_partition(df, 8, "k", left_offset=0, right_offset=0)
    pid = out.withColumn("pid", F.spark_partition_id())
    # every first-char group maps to exactly one partition id
    per_group = pid.groupBy(F.substring("k", 1, 1)).agg(
        F.countDistinct("pid").alias("n_pids")
    )
    assert all(r["n_pids"] == 1 for r in per_group.collect())


@pytest.mark.parametrize(
    "how",
    ["map_kv+partition_by", "partition_by_expr", "keyfield_field", "keyfield_slice"],
)
def test_key_partitioners_colocate_equal_keys(spark, how):
    """Mapper emit + HashPartitioner and KeyFieldBasedPartitioner contracts:
    rows with equal keys land in one partition, and the keys spread over
    more than one."""
    from hadoop_3_0_0_beta1_gaia_spark.operators.keyfield import (
        keyfield_partition_columns,
    )
    from hadoop_3_0_0_beta1_gaia_spark.operators.pair import map_kv, partition_by

    df = spark.createDataFrame(
        [(f"{p}{i % 2}\t{i % 5}\tz{i}",) for p in "abcdefgh" for i in range(12)],
        ["line"],
    )
    fields = F.split(F.col("line"), "\t")
    if how == "map_kv+partition_by":
        kv = map_kv(df, F.substring("line", 1, 1), F.col("line"))
        assert kv.columns == ["key", "value"] and kv.count() == 96
        out, group = partition_by(kv, 8), F.col("key")
    elif how == "partition_by_expr":
        out, group = partition_by(df, 8, fields[1]), fields[1]
    elif how == "keyfield_field":  # -k2,2: the whole second field
        out = df.repartition(8, *keyfield_partition_columns("-k2,2", fields))
        group = fields[1]
    else:  # -k1.1,1.1: a char slice, the first char of the first field
        out = df.repartition(8, *keyfield_partition_columns("-k1.1,1.1", fields))
        group = F.substring("line", 1, 1)
    pid = out.withColumn("pid", F.spark_partition_id())
    per_group = pid.groupBy(group.alias("g")).agg(
        F.countDistinct("pid").alias("n_pids")
    )
    assert all(r["n_pids"] == 1 for r in per_group.collect())
    assert pid.select("pid").distinct().count() > 1


# ----------------------------------------------------------------- similarity


def test_lsh_near_dup_subset_of_bruteforce(spark, sf_dir):
    """Bucketed LSH near-dup returns a subset of the exact O(n²) pairs (same
    cosine values; recall < 1 from cross-bucket misses)."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
        cosine_near_dup,
        cosine_near_dup_lsh,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    emb = T(spark, sf_dir, "embeddings")
    exact = {
        (r["a_id"], r["b_id"]): r["cos"]
        for r in cosine_near_dup(emb, threshold=0.3).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"]): r["cos"]
        for r in cosine_near_dup_lsh(emb, threshold=0.3).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, cos in lsh.items():
        assert cos == exact[pair]  # identical cosine on shared pairs


def test_lsh_tile_decomposition_invariant(spark, sf_dir):
    """The (bucket, block)-tile execution shape is an implementation detail:
    any num_blocks must produce the identical pair set and cosines (pins the
    r11 tile rewrite — cross-block tiles may not drop, duplicate, or
    mis-orient pairs)."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
        cosine_near_dup_lsh,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    emb = T(spark, sf_dir, "embeddings")

    def run(k):
        rows = cosine_near_dup_lsh(emb, threshold=0.3, num_blocks=k).collect()
        out = {(r["a_id"], r["b_id"]): r["cos"] for r in rows}
        assert len(out) == len(rows)  # no duplicate pairs
        assert all(a < b for a, b in out)  # orientation
        return out

    single = run(1)  # one tile per bucket — no cross-block path at all
    assert single == run(4)
    assert single == run(7)  # block count coprime with nothing special
    assert single == run(None)  # r12: K derived from bucket-size stats


def test_semantic_tile_decomposition_invariant(spark, sf_dir):
    """semantic_dedup's (cluster, block)-tile verify is an implementation
    detail: any num_blocks (including the data-derived default) must produce
    the identical keep set (pins the r11 tile rewrite of the within-cluster
    pair join)."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import semantic_dedup
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    emb = T(spark, sf_dir, "embeddings")

    def run(k):
        rows = semantic_dedup(emb, num_centroids=4, threshold=0.35, num_blocks=k)
        out = {r["vec_id"]: (r["centroid_id"], r["keep"]) for r in rows.collect()}
        return out

    default = run(None)  # ceil(n / (4·4096)) — 1 at test SFs
    assert default == run(1)
    assert default == run(3)
    assert default == run(7)


def test_ivf_multiprobe_recall_monotone_and_exact_at_full_probe(spark, sf_dir):
    """nprobe is the IVF recall dial: results at nprobe=1 ⊆ candidates of
    higher nprobe (recall monotone), and nprobe=num_centroids probes every
    bucket — identical to brute-force top-k (same rounding contract)."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    emb = T(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") < 20

    def run(nprobe):
        return {
            (r["q_id"], r["rank"]): (r["n_id"], r["cos"])
            for r in ivf_topk(
                emb, k=5, num_centroids=4, query_filter=F.col("id") < 20, nprobe=nprobe
            ).collect()
        }

    full = run(4)
    brute = {
        (r["q_id"], r["rank"]): (r["n_id"], r["cos"])
        for r in cosine_topk(emb, k=5, query_filter=qf).collect()
    }
    assert full == brute  # full probe = exact search

    # recall is monotone in nprobe: the candidate pool only grows, so each
    # query's best-found cosine is non-decreasing, and never beats exact
    one, two = run(1), run(2)
    for q in {q for q, _ in full}:
        b1 = max((c for (qq, _), (_n, c) in one.items() if qq == q), default=-2.0)
        b2 = max((c for (qq, _), (_n, c) in two.items() if qq == q), default=-2.0)
        bx = max(c for (qq, _), (_n, c) in brute.items() if qq == q)
        assert b1 <= b2 <= bx


def test_ivf_filtered_full_probe_equals_filtered_brute_force(spark, sf_dir):
    """Filtered IVF at full probe must equal the filtered brute-force anchor:
    the metadata predicate restricts the same neighbor set on both paths."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
        cosine_topk_filtered,
        ivf_topk,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    emb = T(spark, sf_dir, "embeddings")
    ivf = {
        (r["q_id"], r["rank"]): (r["n_id"], r["cos"])
        for r in ivf_topk(
            emb, k=5, num_centroids=4, nprobe=4,
            query_filter=F.col("id") < 20,
            neighbor_filter=F.col("label") == 1,
        ).collect()
    }
    brute = {
        (r["q_id"], r["rank"]): (r["n_id"], r["cos"])
        for r in cosine_topk_filtered(
            emb, k=5,
            query_filter=F.col("vec_id") < 20,
            neighbor_filter=F.col("label") == 1,
        ).collect()
    }
    assert ivf == brute and len(ivf) > 0


# ----------------------------------------------------------------- multimodal


def test_multimodal_decode_features_deterministic(spark):
    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        FEATURE_DIM,
        decode_features,
    )

    rows = [
        (1, "image", b"imgbytes", "jpeg", 8, 8, None),
        (2, "audio", b"wavbytes", "wav", None, None, 1000),
    ]
    cols = ["media_id", "kind", "media", "format", "width", "height", "duration_ms"]
    df = spark.createDataFrame(rows, cols)
    a = decode_features(df).collect()
    b = decode_features(df).collect()
    assert [r["features"] for r in a] == [r["features"] for r in b]  # deterministic
    assert all(len(r["features"]) == FEATURE_DIM for r in a)
    assert all(0.0 <= x < 1.0 for r in a for x in r["features"])


def test_multimodal_real_decode_raises(spark):
    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
    )

    df = spark.createDataFrame(
        [(1, "image", b"x", "jpeg", 1, 1, None)], MEDIA_SCHEMA
    )
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        decode_features(df, decode="real").collect()


def test_multimodal_resize_updates_metadata(spark):
    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        resize_stub,
    )

    df = spark.createDataFrame(
        [(1, "image", b"x", "jpeg", 100, 50, None)], MEDIA_SCHEMA
    )
    r = resize_stub(df, 32, 32).collect()[0]
    assert (r["width"], r["height"]) == (32, 32)
    assert r["media"] is not None and bytes(r["media"]) != b"x"


def test_kmv_estimate_tracks_true_distinct(spark):
    from hadoop_3_0_0_beta1_gaia_spark.functions.sketch import kmv_distinct

    rows = [("big", i) for i in range(2000)] + [("small", i) for i in range(10)]
    df = spark.createDataFrame(rows, ["key", "v"])
    got = {r["key"]: r for r in kmv_distinct(df, "key", "v", k=64).collect()}
    # below k: exact
    assert got["small"]["n_seen"] == 10 and got["small"]["kmv_estimate"] == 10.0
    # above k: bounded state (n_seen == k), estimate within ~4 standard errors
    assert got["big"]["n_seen"] == 64
    assert abs(got["big"]["kmv_estimate"] - 2000) / 2000 < 0.5


def test_fold_matches_python_left_fold():
    """The shared numpy fold equals a plain Python 0.0-seeded left fold bit
    for bit — across accumulator chunks (n·m > 32768), signed zeros, and an
    empty side on either end."""
    import numpy as np

    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
        fold_dots,
        fold_norms,
    )

    def left_fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    rng = np.random.default_rng(7)
    for n, m, d in [(700, 60, 5), (3, 4, 6), (0, 4, 3), (4, 0, 3)]:
        A = rng.standard_normal((n, d)).astype(np.float32).astype(np.float64)
        B = rng.standard_normal((m, d)).astype(np.float32).astype(np.float64)
        if n and m:
            A[0] = -0.0
            B[0, 0] = -0.0
        got = fold_dots(A, B)
        want = np.array([[left_fold(a, b) for b in B] for a in A], dtype=np.float64)
        assert got.shape == (n, m) and got.tobytes() == want.tobytes()
        assert fold_norms(A).tobytes() == np.array(
            [left_fold(a, a) for a in A], dtype=np.float64
        ).tobytes()


def test_cosine_topk_vectorized_bit_identical(spark, sf_dir):
    """The numpy kernel must reproduce the expression fold EXACTLY (same IEEE
    op order) — this is what licenses using it on the oracle-checked path."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
        cosine_topk,
        cosine_topk_vectorized,
    )
    from hadoop_3_0_0_beta1_gaia_spark.plans.dedup_sim import _jl_np_project
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    df = T(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, cosine_topk(df, k=5, query_filter=F.col("id") < 50).collect()))
    b = sorted(
        map(
            tuple,
            cosine_topk_vectorized(df, k=5, query_filter=F.col("id") < 50).collect(),
        )
    )
    assert a == b
    # a filter that matches no query: zero rows, the reference's columns and
    # no exception, with and without a per-batch vector transform
    ref = cosine_topk(df, k=5, query_filter=F.col("id") < -1)
    assert ref.collect() == []
    for vt in (None, _jl_np_project):
        got = cosine_topk_vectorized(
            df, k=5, query_filter=F.col("id") < -1, vec_transform=vt
        )
        assert got.columns == ref.columns and got.collect() == []


def test_salted_join_drops_null_keys_like_plain_join(spark):
    """SQL equi-join semantics: NULL keys match nothing — salting must not
    change that (the salt equality can't accidentally pair two NULL-key rows)."""
    from hadoop_3_0_0_beta1_gaia_spark.operators.skew import salted_join

    big = spark.createDataFrame(
        [(1, 0, "a"), (2, None, "b"), (3, 1, "c")],
        "rid INT, k INT, payload STRING",
    )
    small = spark.createDataFrame([(0, "x"), (1, "y"), (None, "z")], "sk INT, tag STRING")
    out = sorted(
        (r["rid"], r["tag"])
        for r in salted_join(
            big, small, big_key="k", small_key="sk", num_salts=4, salt_source="rid"
        ).collect()
    )
    assert out == [(1, "x"), (3, "y")]


def test_cosine_near_dup_blocked_bit_identical(spark, sf_dir):
    """The distributed block-tile kernel (the registered entry's path) must
    equal the expression fold exactly — same per-dimension IEEE op order —
    including across an uneven block count that forces cross-block pairs."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
        cosine_near_dup,
        cosine_near_dup_blocked,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    df = T(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, cosine_near_dup(df, threshold=0.3).collect()))
    for k in (1, 7):
        b = sorted(
            map(
                tuple,
                cosine_near_dup_blocked(df, threshold=0.3, num_blocks=k).collect(),
            )
        )
        assert a == b and len(a) > 0


def test_winnow_kernel_bit_identical(spark, sf_dir):
    """The hashlib/numpy winnow kernel must equal the expression formulation
    exactly (integer-exact md5 + sliding min — no float concerns)."""
    from hadoop_3_0_0_beta1_gaia_spark.plans.textops import (
        _winnow_frame,
        _winnow_frame_expr,
    )

    a = sorted(map(tuple, _winnow_frame_expr(spark, sf_dir).collect()))
    b = sorted(map(tuple, _winnow_frame(spark, sf_dir).collect()))
    assert a == b and len(a) > 0


def test_fuzzy_wildcard_keys_kernel_equals_expression(spark, sf_dir):
    """The vectorized deletion-neighborhood key kernel must emit the exact
    (id, nm, i, bkh) rows of the expression fold — fixture customers plus
    adversarial rows covering the unicode and >55-byte fallback paths and
    equal/1-char names."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.plans.dedup_sim import (
        _fuzzy_wildcard_keys,
        _fuzzy_wildcard_keys_expr,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    names = T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("nm")
    ).unionByName(
        spark.createDataFrame(
            [
                (9_000_001, "exact"),
                (9_000_002, "exact"),
                (9_000_003, "exacz"),
                (9_000_004, "x"),
                (9_000_005, "ümläut name"),  # multi-byte: hashlib fallback
                (9_000_006, "a" * 56),  # > one md5 block: hashlib fallback
            ],
            "id long, nm string",
        )
    )
    e = sorted(map(tuple, _fuzzy_wildcard_keys_expr(names).collect()))
    k = sorted(map(tuple, _fuzzy_wildcard_keys(names).collect()))
    assert e == k and len(e) > 0
    assert sum(1 for r in k if r[0] == 9_000_006) == 56


def test_pq_kernels_equal_expression_folds(spark, sf_dir):
    """The PQ encode kernel and the ADC scoring kernel must reproduce the
    expression formulations bit-for-bit (float32→float64 widening, per-dim
    fold order, floor-round, first-min codeword, (adc, n_id) ranking)."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
        pq_encode,
        pq_encode_expr,
        pq_topk,
        pq_topk_expr,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    emb = T(spark, sf_dir, "embeddings")
    e = sorted(map(tuple, pq_encode_expr(emb, m=8, k=16).collect()))
    kk = sorted(map(tuple, pq_encode(emb, m=8, k=16).collect()))
    assert e == kk and len(e) > 0
    a = sorted(
        map(
            tuple,
            pq_topk_expr(
                emb, k=5, m=8, num_codewords=16, query_filter=F.col("id") < 20
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            pq_topk(
                emb, k=5, m=8, num_codewords=16, query_filter=F.col("id") < 20
            ).collect(),
        )
    )
    assert a == b and len(a) > 0
    # empty query batch: both paths produce an empty, well-typed frame
    z = pq_topk(
        emb, k=5, m=8, num_codewords=16, query_filter=F.col("id") < -1
    )
    assert z.count() == 0 and set(z.columns) == {"q_id", "n_id", "adc_dist", "rk"}


def test_repetition_metrics_kernel_equals_expression(spark, sf_dir):
    """The Counter-based repetition kernel must equal the sort_array +
    run-length expression fold exactly (two fround divisions mirrored
    op-for-op; NULL-text degenerate outputs preserved) — fixture corpus
    plus adversarial rows."""
    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import (
        repetition_metrics,
        repetition_metrics_expr,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    docs = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [
                (9_000_001, "a b a b a b a b"),  # dominant bigram
                (9_000_002, "   "),  # no tokens
                (9_000_003, "single"),
                (9_000_004, None),  # NULL text: -1/-1.0 degenerate row
                (9_000_005, "x y"),
                (9_000_006, "alpha beta gamma alpha beta gamma"),
            ],
            "doc_id long, text string",
        )
    )
    e = {r["doc_id"]: tuple(r) for r in repetition_metrics_expr(docs).collect()}
    k = {r["doc_id"]: tuple(r) for r in repetition_metrics(docs).collect()}
    assert e == k and len(e) > 0
    assert k[9_000_004][1] is None and k[9_000_004][2] is None
    assert k[9_000_001][3] == 4  # "a b" occurs 4 times


def test_kmeans_kernel_equals_expression(spark, sf_dir):
    """The Lloyd kernel must reproduce the expression path EXACTLY — the
    integer grid makes equality order-free (every dot/sum ≪ 2^53), so this
    pins assignment argmin ties, the floor(sum/n + 0.5) update, the
    empty-cluster drop rule, and the final d2 rounding, across two
    (k, iters) shapes."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
        kmeans_lloyd,
        kmeans_lloyd_expr,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    emb = T(spark, sf_dir, "embeddings")
    for k, iters in ((8, 2), (3, 4)):
        a = sorted(map(tuple, kmeans_lloyd_expr(emb, k=k, iters=iters).collect()))
        b = sorted(map(tuple, kmeans_lloyd(emb, k=k, iters=iters).collect()))
        assert a == b and len(a) > 0


def test_md5np_matches_hashlib_every_length():
    """The vectorized single-block md5 (functions/md5np.py) must equal
    ``int(hashlib.md5(m).hexdigest()[:15], 16)`` bit-for-bit over random
    bytes at every supported length (1..55) — it feeds the winnow
    fingerprint kernel, whose values are oracle-pinned."""
    import hashlib
    import random

    import numpy as np

    from hadoop_3_0_0_beta1_gaia_spark.functions.md5np import (
        md5_60bit_fixed_len,
    )

    rng = random.Random(41)
    for length in (1, 2, 8, 9, 15, 16, 31, 32, 54, 55):
        msgs = [
            bytes(rng.randrange(256) for _ in range(length)) for _ in range(257)
        ]
        arr = np.frombuffer(b"".join(msgs), dtype=np.uint8).reshape(-1, length)
        got = md5_60bit_fixed_len(arr)
        want = np.array(
            [int(hashlib.md5(m).hexdigest()[:15], 16) for m in msgs],
            dtype=np.int64,
        )
        assert (got == want).all(), length
    try:
        md5_60bit_fixed_len(np.zeros((1, 56), dtype=np.uint8))
        raise AssertionError("length 56 must be rejected (needs two blocks)")
    except ValueError:
        pass


def test_md5_60_equals_both_spellings_and_spark_md5_long(spark):
    """The one scalar md5 intern (functions/md5np.md5_60) equals both
    spellings the kernels used to inline — ``digest()[:8] >> 4`` and
    ``int(hexdigest()[:15], 16)`` — and Spark's ``md5_long`` on the same
    text: ASCII, non-ASCII (multi-byte UTF-8) and the empty string."""
    import hashlib

    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import md5_long
    from hadoop_3_0_0_beta1_gaia_spark.functions.md5np import (
        md5_60,
        md5_64,
        md5_hex,
    )

    texts = ["", "a", "the quick brown fox", "café au lait", "ümläut tökens",
             "日本語のテキスト", "\x01wild", "x" * 200]
    for t in texts:
        b = t.encode("utf-8")
        assert md5_60(t) == int.from_bytes(hashlib.md5(b).digest()[:8], "big") >> 4
        assert md5_60(t) == int(hashlib.md5(b).hexdigest()[:15], 16)
        assert md5_60(t) == md5_64(t) >> 4
        assert md5_hex(t) == hashlib.md5(b).hexdigest()
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {r["i"]: r["h"] for r in df.select("i", md5_long(F.col("t")).alias("h")).collect()}
    assert got == {i: md5_60(t) for i, t in enumerate(texts)}


def test_md5_intern_is_transparent_and_bounded():
    """Md5Intern returns fn(k) for every key across forced clears and never
    holds more than INTERN_MAX_ENTRIES entries or INTERN_MAX_CHARS key
    characters — driven past the entry bound with short keys and past the
    character bound with long ones (pure Python, no Spark)."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.md5np import (
        INTERN_MAX_CHARS,
        INTERN_MAX_ENTRIES,
        Md5Intern,
        md5_60,
        md5_hex,
    )

    def drive(intern, keys, chunk, fn=md5_60):
        clears = 0
        prev = 0
        for lo in range(0, len(keys), chunk):
            part = keys[lo : lo + chunk]
            assert intern.hash_all(part) == [fn(k) for k in part]
            held = len(intern.cache)
            assert held <= INTERN_MAX_ENTRIES
            assert intern.chars <= INTERN_MAX_CHARS
            assert intern.chars == sum(map(len, intern.cache))
            clears += held < prev
            prev = held
        return clears

    short = [f"k{i}" for i in range(INTERN_MAX_ENTRIES + 100_000)]
    intern = Md5Intern()
    assert drive(intern, short, 20_000) >= 1
    # hits after a clear still return the right values (repeats re-enter)
    assert drive(intern, short[:10_000] * 2, 5_000) == 0

    long_keys = [f"{i:08d}" * 500 for i in range(INTERN_MAX_CHARS // 4_000 + 200)]
    intern = Md5Intern(md5_hex)
    assert drive(intern, long_keys, 100, md5_hex) >= 1
    # a single key longer than the character budget is hashed, not kept
    huge = "y" * (INTERN_MAX_CHARS + 1)
    assert intern.hash_all([huge, "z"]) == [md5_hex(huge), md5_hex("z")]
    assert huge not in intern.cache and intern.chars <= INTERN_MAX_CHARS


def test_py_tokens_equal_spark_tokens(spark):
    """text_metrics.py_tokens (the kernels' tokenizer) equals the Spark
    ``tokens`` expression on \\x0b/\\x0c (whitespace to Java ``\\s`` and to
    Python alike), on U+00A0, \\x1c-\\x1f, U+0085 and U+3000 (whitespace
    to ``str.split()`` but not to Java ``\\s``), on runs of spaces,
    leading/trailing spaces and ``""``, and on non-ASCII case mappings
    (dotted capital I, capital sharp s, final sigma, the DZ digraphs,
    Cyrillic, Armenian); py_ngrams equals the ``array_join(slice(...))``
    n-grams over those tokens. The session lowercases with JVM ``String``
    case mapping (ICU off), so the non-ASCII cases stay at characters JDK 17
    (Unicode 13) and CPython 3.11 (Unicode 14) map alike: CPython, for one,
    lowercases U+A7C0 and JDK 17 does not."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.text_metrics import (
        py_ngrams,
        py_tokens,
        tokens,
    )

    texts = ["a\x0bb", "a\x0cb", "a\u00a0b", "a\x1cb\x1dc\x1ed\x1fe",
             "x\u0085y\u3000z", "one   two\t\tthree", "  lead and trail  ",
             "", " ", "MiXeD Case\nLines\rCR", "ab cd ef gh",
             "\u0130STANBUL \u0130i", "STRA\u1e9eE",
             "\u039f\u0394\u039f\u03a3 \u039f\u0394\u039f\u03a3. \u03a3\u039f\u03a3\u03a3",
             "\u01c4EMAL \u01c5emal", "\u041c\u041e\u0421\u041a\u0412\u0410 \u0401\u0416",
             "\u0531\u0550\u0531\u0550\u0531\u054f"]
    n = 3
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    toks = tokens(F.col("t"))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    rows = df.select("i", toks.alias("toks"), grams.alias("grams")).collect()
    for r in rows:
        t = texts[r["i"]]
        assert py_tokens(t) == list(r["toks"]), repr(t)
        assert list(py_ngrams(py_tokens(t), n)) == list(r["grams"]), repr(t)
    # the cases above really split differently under str.split()
    assert "a\u00a0b".split() != py_tokens("a\u00a0b")
    # and the non-ASCII ones really map outside ASCII, one code point to two
    # for the dotted I, the sigma by its position
    assert py_tokens("\u0130STANBUL")[0] == "i\u0307stanbul"
    assert py_tokens("\u039f\u0394\u039f\u03a3 \u03a3\u039f\u03a3\u03a3") == [
        "\u03bf\u03b4\u03bf\u03c2", "\u03c3\u03bf\u03c3\u03c2"
    ]


def test_winnow_kernel_nonascii_fallback(spark, tmp_path):
    """Non-ASCII documents (multi-byte UTF-8, where char offsets != byte
    offsets) must take the per-doc hashlib fallback and still equal the
    expression formulation exactly."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_3_0_0_beta1_gaia_spark.plans.textops import (
        _winnow_frame,
        _winnow_frame_expr,
    )

    rows = [
        (1, "café au lait tastes nice in the morning sun"),
        (2, "plain ascii document with enough characters here"),
        (3, "ümläut heavy tökens ümläut heavy tökens again"),
    ]
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["t"] * len(rows), pa.string()),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    a = sorted(map(tuple, _winnow_frame_expr(spark, sf).collect()))
    b = sorted(map(tuple, _winnow_frame(spark, sf).collect()))
    assert a == b and len(a) > 0
    assert any(r[0] in (1, 3) for r in a)  # non-ascii docs produced fps


def test_global_running_total_matches_single_partition_window(spark):
    """Two-phase prefix sum == the naive single-partition window result."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.operators.sort import global_running_total

    rows = [(i, (i * 37) % 11 + 1) for i in range(1, 501)]
    df = spark.createDataFrame(rows, "id long, n long")
    got = {
        r["id"]: r["cum"]
        for r in global_running_total(
            df, [F.col("id")], "n", total_name="cum", num_partitions=7
        ).collect()
    }
    acc, want = 0, {}
    for i, n in rows:
        acc += n
        want[i] = acc
    assert got == want


def test_pack_training_sequences_invariants(spark, sf_dir):
    """Token conservation + pack geometry: every pack except the last holds
    exactly MAX_LEN tokens, pack ids are contiguous from 0, and the total
    packed token count equals the corpus token count."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import (
        _MAX_LEN,
        pack_training_sequences,
    )
    from hadoop_3_0_0_beta1_gaia_spark.functions.text_metrics import tokens
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    packs = sorted(
        (r["pack_id"], r["n_tokens"])
        for r in pack_training_sequences(spark, sf_dir).collect()
    )
    ids = [p for p, _ in packs]
    assert ids == list(range(len(ids)))
    assert all(n == _MAX_LEN for _, n in packs[:-1])
    assert 0 < packs[-1][1] <= _MAX_LEN
    total = (
        T(spark, sf_dir, "documents")
        .select(F.size(tokens(F.col("text"))).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert sum(n for _, n in packs) == total


def test_doc_chunk_tokens_covers_every_token(spark, sf_dir):
    """Chunk geometry: chunk 0 starts at token 1, consecutive chunk ids step
    by the stride, every chunk holds <= CHUNK tokens, and the final chunk of
    each doc reaches the doc's last token (full coverage)."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import (
        _CHUNK,
        _STRIDE,
        doc_chunk_tokens,
    )
    from hadoop_3_0_0_beta1_gaia_spark.functions.text_metrics import tokens
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    chunks = {}
    for r in doc_chunk_tokens(spark, sf_dir).collect():
        chunks.setdefault(r["doc_id"], []).append((r["chunk_id"], r["n_chunk_tokens"]))
    doc_len = {
        r["doc_id"]: r["n"]
        for r in T(spark, sf_dir, "documents")
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n"))
        .collect()
        if r["n"] >= 1
    }
    assert set(chunks) == set(doc_len)
    for doc_id, cl in chunks.items():
        cl.sort()
        assert [c for c, _ in cl] == list(range(len(cl)))
        assert all(1 <= n <= _CHUNK for _, n in cl)
        last_id, last_n = cl[-1]
        assert last_id * _STRIDE + last_n == doc_len[doc_id]


def test_lsh_bucket_cap_on_boilerplate_corpus(spark):
    """A boilerplate-heavy corpus (hundreds of near-identical docs) lands in
    one mega-bucket per band; without a cap the in-row pair expansion builds
    k^2 pairs from a single giant collect_set row. With max_bucket_size the
    mega-buckets are DROPPED (counted via the lsh_bucket_cap observation)
    while distinct small clusters still pair up. Each capped plan reports
    its own drops through its diag: a cap-400 plan built after the cap-10
    one (it keeps the mega-bucket) does not take over the cap-10 counts."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        cap_counter,
        minhash_lsh_pairs,
    )

    boiler = [(i, "the quick brown fox jumps over the lazy dog again and again")
              for i in range(300)]
    # one small genuine near-dup cluster with distinct shingles
    cluster = [
        (1000, "completely different legal disclaimer text block version one"),
        (1001, "completely different legal disclaimer text block version one"),
    ]
    singles = [(2000 + i, f"unique document number {i} with its own words {i*7}")
               for i in range(5)]
    df = spark.createDataFrame(boiler + cluster + singles, ["doc_id", "text"])
    lsh = dict(n=3, num_hashes=16, rows_per_band=4)

    uncapped = minhash_lsh_pairs(df, **lsh)
    assert uncapped.count() >= 300 * 299 // 2  # quadratic blowup is real

    diag: dict = {}
    diag400: dict = {}
    capped = minhash_lsh_pairs(df, **lsh, max_bucket_size=10, diag=diag)
    capped400 = minhash_lsh_pairs(df, **lsh, max_bucket_size=400, diag=diag400)
    pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    capped400.collect()
    assert (1000, 1001) in pairs  # small clusters survive the cap
    assert not any(a < 300 and b < 300 for a, b in pairs)  # mega-bucket gone
    metrics = cap_counter(diag)
    assert metrics["lsh_dropped_buckets"] >= 1
    assert metrics["lsh_dropped_ids"] >= 300
    assert cap_counter(diag400) == {"lsh_dropped_buckets": 0, "lsh_dropped_ids": 0}


def test_capped_lsh_entry_diverges_and_counts_drops(spark, sf_dir):
    """VERDICT r3 item 2: the registered dedup_minhash_lsh_capped entry is the
    100 TB configuration, and the cap must demonstrably FIRE at test SF — the
    capped pair set is a strict subset of the uncapped one, and the drop
    counter reports the dropped buckets after the action. The capped set is
    built as the entry builds it (its own _MINHASH, max_bucket_size=2) so
    the counter is read from that plan's diag."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        cap_counter,
        minhash_lsh_pairs,
    )
    from hadoop_3_0_0_beta1_gaia_spark.plans.dedup_sim import _MINHASH
    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import queries
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    qs = queries()
    uncapped = {
        (r.id_a, r.id_b) for r in qs["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    diag: dict = {}
    capped_df = minhash_lsh_pairs(
        T(spark, sf_dir, "documents"), **_MINHASH, max_bucket_size=2, diag=diag
    )
    capped = {(r.id_a, r.id_b) for r in capped_df.collect()}
    assert capped <= uncapped
    metrics = cap_counter(diag)
    assert metrics["lsh_dropped_buckets"] >= 1  # cap=2 fires on size-3 buckets
    assert metrics["lsh_dropped_ids"] >= 3


def test_png_codec_roundtrip_and_filters():
    """Pure-stdlib PNG codec: encode→decode round trip, plus hand-filtered
    scanlines (Sub/Up/Average/Paeth) decoded against hand-computed pixels."""
    import struct
    import zlib

    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        PNG_MAGIC,
        png_decode,
        png_encode,
    )

    # round trip: 3x2 RGB gradient
    px = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90,
                15, 25, 35, 45, 55, 65, 75, 85, 95])
    data = png_encode(3, 2, 3, px)
    assert data.startswith(PNG_MAGIC)
    assert png_decode(data) == (3, 2, 3, px)

    # gray + alpha and RGBA round trips
    ga = bytes(range(8))
    assert png_decode(png_encode(2, 2, 1, bytes([0, 128, 255, 7])))[3] == bytes(
        [0, 128, 255, 7]
    )
    assert png_decode(png_encode(1, 2, 4, ga))[3] == ga

    # hand-filtered grayscale 3x4, one row per filter type:
    # row0 Sub:   raw 5, +3, +3      → 5, 8, 11
    # row1 Up:    raw +1,+1,+1       → 6, 9, 12
    # row2 Avg:   raw 2, 2, 2        → 2+(0+6)//2=5, 2+(5+9)//2=9, 2+(9+12)//2=12
    # row3 Paeth: raw 1, 1, 1        → predictors: a=0,b=5,c=0→b; then
    #             a=6,b=9,c=5: p=10 → pa=4,pb=1,pc=5 → b=9+1=10;
    #             a=10,b=12,c=9: p=13 → pa=3,pb=1,pc=4 → b=12+1=13
    scanlines = (
        bytes([1, 5, 3, 3])
        + bytes([2, 1, 1, 1])
        + bytes([3, 2, 2, 2])
        + bytes([4, 1, 1, 1])
    )

    def chunk(typ, payload):
        return (
            struct.pack(">I", len(payload))
            + typ
            + payload
            + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF)
        )

    handmade = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 4, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(scanlines))
        + chunk(b"IEND", b"")
    )
    w, h, ch, got = png_decode(handmade)
    assert (w, h, ch) == (3, 4, 1)
    assert got == bytes([5, 8, 11, 6, 9, 12, 5, 9, 12, 6, 10, 13])

    # palette expansion
    plte = bytes([255, 0, 0, 0, 255, 0])  # idx0=red idx1=green
    pal = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(bytes([0, 1, 0])))
        + chunk(b"IEND", b"")
    )
    # scanline = filter byte 0 then indices [1, 0] → green, red
    assert png_decode(pal) == (2, 1, 3, bytes([0, 255, 0, 255, 0, 0]))

    # 16-bit grayscale (VERDICT r3 item 5): filters operate on BYTES with a
    # 2-byte-per-pixel offset; decoded samples downsample to the high byte.
    # row0 None: samples 0x0102 0x0304
    # row1 Sub:  final bytes 05 06 07 08 → raw 05 06 (07-05) (08-06)
    # row2 Up:   final bytes 15 16 17 18 → raw = final - row1 = 10 10 10 10
    s16 = (
        bytes([0, 0x01, 0x02, 0x03, 0x04])
        + bytes([1, 0x05, 0x06, 0x02, 0x02])
        + bytes([2, 0x10, 0x10, 0x10, 0x10])
    )
    png16 = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 3, 16, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(s16))
        + chunk(b"IEND", b"")
    )
    assert png_decode(png16) == (2, 3, 1, bytes([0x01, 0x03, 0x05, 0x07, 0x15, 0x17]))

    # 16-bit RGB: one Sub-filtered row, bpp = 6 bytes — the second pixel's
    # deltas land on the FIRST pixel's bytes six back, not two back
    rgb16 = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 2, 0, 0, 0))
        + chunk(
            b"IDAT",
            zlib.compress(
                bytes([1])
                + bytes([0x10, 0x00, 0x20, 0x00, 0x30, 0x00])  # pixel 0 raw
                + bytes([0x01, 0x00, 0x02, 0x00, 0x03, 0x00])  # pixel 1 deltas
            ),
        )
        + chunk(b"IEND", b"")
    )
    assert png_decode(rgb16) == (2, 1, 3, bytes([0x10, 0x20, 0x30, 0x11, 0x22, 0x33]))

    # 16-bit palette is not a PNG variant — rejected, not mis-decoded
    bad = (
        PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0))
        + chunk(b"PLTE", bytes([0, 0, 0]))
        + chunk(b"IDAT", zlib.compress(bytes([0, 0, 0])))
        + chunk(b"IEND", b"")
    )
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        png_decode(bad)


def test_jpeg_codec_baseline():
    """Pure-stdlib baseline JPEG codec (functions/jpeg.py): flat and
    block-mosaic images are BIT-EXACT at quality=100 (DC-only blocks with
    unit quantizers — the property jpeg_decode_blocks' oracle relies on);
    gradients and RGB content round-trip within tight error bounds; 4:2:0
    subsampled chroma decodes through the upsampling path; non-baseline
    input is rejected, not mis-decoded."""
    import pytest as _pytest

    from hadoop_3_0_0_beta1_gaia_spark.functions.jpeg import (
        jpeg_decode,
        jpeg_encode,
    )

    # flat gray: bit-exact at q100
    px = bytes([77] * 64)
    assert jpeg_decode(jpeg_encode(8, 8, 1, px, quality=100)) == (8, 8, 1, px)

    # four flat 8x8 blocks: DC prediction chain across blocks, still exact
    levels = [10, 200, 128, 55]
    buf = bytearray(256)
    for b, (by, bx) in enumerate(((0, 0), (0, 8), (8, 0), (8, 8))):
        for y in range(8):
            for x in range(8):
                buf[(by + y) * 16 + bx + x] = levels[b]
    assert jpeg_decode(jpeg_encode(16, 16, 1, bytes(buf), quality=100)) == (
        16, 16, 1, bytes(buf),
    )

    # gradient gray, quality 92: DCT quantization error stays tiny
    grad = bytes([(x * 3 + y * 5) % 256 for y in range(24) for x in range(16)])
    w, h, ch, back = jpeg_decode(jpeg_encode(16, 24, 1, grad, quality=92))
    assert (w, h, ch) == (16, 24, 1)
    assert max(abs(a - b) for a, b in zip(grad, back)) <= 4

    # RGB 4:4:4 through YCbCr and back
    rgb = bytes([200, 30, 40] * 64 + [20, 180, 220] * 64)  # 16x8
    w, h, ch, back = jpeg_decode(jpeg_encode(16, 8, 3, rgb, quality=95))
    assert (w, h, ch) == (16, 8, 3)
    assert max(abs(a - b) for a, b in zip(rgb, back)) <= 4

    # RGB 4:2:0, non-multiple-of-16 dimensions (edge replication + upsample)
    w0, h0 = 20, 12
    smooth = bytes(
        b
        for y in range(h0)
        for x in range(w0)
        for b in (min(255, 100 + x * 4), min(255, 50 + y * 8), 90)
    )
    w, h, ch, back = jpeg_decode(
        jpeg_encode(w0, h0, 3, smooth, quality=90, subsample=True)
    )
    assert (w, h, ch) == (w0, h0, 3)
    assert max(abs(a - b) for a, b in zip(smooth, back)) <= 16

    # progressive (SOF2) is rejected with a clear boundary error
    baseline = bytearray(jpeg_encode(8, 8, 1, px, quality=90))
    sof = baseline.find(b"\xff\xc0")
    baseline[sof + 1] = 0xC2
    with _pytest.raises(NotImplementedError):
        jpeg_decode(bytes(baseline))


def test_jpeg_decode_batch_bit_identical():
    """jpeg_decode_batch (the MJPEG per-frame path: shared header parse +
    one cross-image IDCT) is bit-identical to per-image jpeg_decode over a
    mixed batch — flat gray tiles (shared header, the MJPEG case), a
    gradient, RGB 4:4:4, and 4:2:0 subsampled color with odd dimensions
    (distinct headers mixed into the same batch)."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.jpeg import (
        jpeg_decode,
        jpeg_decode_batch,
        jpeg_encode,
    )

    payloads = [
        jpeg_encode(8, 8, 1, bytes([lv]) * 64, quality=100)
        for lv in (0, 17, 137, 255)
    ]
    grad = bytes([(x * 11 + y * 7) % 256 for y in range(24) for x in range(16)])
    payloads.append(jpeg_encode(16, 24, 1, grad, quality=92))
    rgb = bytes(
        b for i in range(16 * 8) for b in ((i * 5) % 256, (i * 9) % 256, (i * 13) % 256)
    )
    payloads.append(jpeg_encode(16, 8, 3, rgb, quality=95))
    smooth = bytes(
        b
        for y in range(12)
        for x in range(20)
        for b in (min(255, 100 + x * 4), min(255, 50 + y * 8), 90)
    )
    payloads.append(jpeg_encode(20, 12, 3, smooth, quality=90, subsample=True))

    assert jpeg_decode_batch(payloads) == [jpeg_decode(p) for p in payloads]
    assert jpeg_decode_batch([]) == []
    assert jpeg_decode_batch(payloads[:1]) == [jpeg_decode(payloads[0])]


def test_multimodal_real_jpeg_features(spark):
    """decode=real now extracts features from JPEG bytes through the same
    mapInPandas kernel as PNG — the container dispatch is by magic bytes."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.jpeg import jpeg_encode
    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
    )

    solid = jpeg_encode(8, 8, 3, bytes([200, 100, 50] * 64), quality=100)
    rows = [(1, "image", bytearray(solid), "jpeg", 8, 8, None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r.media_id: r.features for r in decode_features(df, decode="real").collect()}
    f = feats[1]
    assert abs(f[0] - 8 / 4096) < 1e-6 and abs(f[2] - 3 / 4) < 1e-6
    # channel means within JPEG error of the source color
    for slot, val in ((3, 200), (4, 100), (5, 50)):
        assert abs(f[slot] * 255 - val) <= 4, (slot, f[slot] * 255)


def test_multimodal_real_png_decode_end_to_end(spark):
    """decode=real runs a GENUINE PNG decode inside the mapInPandas kernel:
    features are actual pixel statistics, and non-PNG bytes raise at the
    codec boundary. Resize is a real nearest-neighbor resample whose output
    re-decodes to the requested dimensions."""
    import pytest as _pytest

    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
        png_decode,
        png_encode,
        resize_stub,
    )

    # solid-color 4x4 RGB: mean R=200, G=100, B=50
    solid = png_encode(4, 4, 3, bytes([200, 100, 50] * 16))
    # black/white checker 2x2 gray
    checker = png_encode(2, 2, 1, bytes([0, 255, 255, 0]))
    rows = [
        (1, "image", bytearray(solid), "png", 4, 4, None),
        (2, "image", bytearray(checker), "png", 2, 2, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)

    feats = {r["media_id"]: r["features"] for r in
             decode_features(df, decode="real").collect()}
    f1 = feats[1]
    assert abs(f1[0] - 4 / 4096) < 1e-6 and abs(f1[2] - 3 / 4) < 1e-6
    assert abs(f1[3] - 200 / 255) < 1e-4  # channel means are REAL pixel stats
    assert abs(f1[4] - 100 / 255) < 1e-4
    assert abs(f1[5] - 50 / 255) < 1e-4
    f2 = feats[2]
    assert abs(f2[3] - 127.5 / 255) < 1e-4
    # luminance histogram: half the pixels at 0 (bin 0), half at 255 (bin 8)
    assert abs(f2[7] - 0.5) < 1e-6 and abs(f2[15] - 0.5) < 1e-6

    resized = {r["media_id"]: r for r in
               resize_stub(df, 2, 2, decode="real").collect()}
    w, h, ch, px = png_decode(bytes(resized[1]["media"]))
    assert (w, h, ch) == (2, 2, 3)
    assert px == bytes([200, 100, 50] * 4)  # solid stays solid
    assert (resized[1]["width"], resized[1]["height"]) == (2, 2)

    # unknown container (neither JPEG SOI nor PNG magic) raises at the codec
    # plug point; a JPEG-tagged stream with garbage after SOI raises a
    # malformed-stream error from the real jpeg decoder
    bad = spark.createDataFrame(
        [(3, "image", bytearray(b"GIF89anotanimg"), "gif", 1, 1, None)],
        MEDIA_SCHEMA,
    )
    with _pytest.raises(Exception, match="PNG|NotImplementedError"):
        decode_features(bad, decode="real").collect()
    badjpeg = spark.createDataFrame(
        [(4, "image", bytearray(b"\xff\xd8notajpeg"), "jpeg", 1, 1, None)],
        MEDIA_SCHEMA,
    )
    with _pytest.raises(Exception, match="marker|JPEG"):
        decode_features(badjpeg, decode="real").collect()


def test_multimodal_real_wav_decode_end_to_end(spark):
    """decode=real also genuinely decodes PCM WAV audio (stdlib `wave`):
    RMS/zero-crossing features match the analytically known values of a
    generated sine tone and silence."""
    import io
    import math
    import struct
    import wave

    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
        wav_decode,
    )

    def make_wav(samples, fr=8000, ch=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(2)
            w.setframerate(fr)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        return buf.getvalue()

    fr, amp, freq = 8000, 16384, 440.0
    sine = [round(amp * math.sin(2 * math.pi * freq * i / fr)) for i in range(800)]
    tone = make_wav(sine, fr)
    silence = make_wav([0] * 400, fr)

    ch, got_fr, sw, samples = wav_decode(tone)
    assert (ch, got_fr, sw, len(samples)) == (1, 8000, 2, 800)
    assert samples == sine  # decode is lossless

    rows = [
        (1, "audio", bytearray(tone), "wav", None, None, 100),
        (2, "audio", bytearray(silence), "wav", None, None, 50),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r["features"] for r in
             decode_features(df, decode="real").collect()}
    f_tone, f_sil = feats[1], feats[2]
    assert abs(f_tone[0] - 0.1 / 60) < 1e-6          # duration 0.1 s
    assert abs(f_tone[2] - 8000 / 48000) < 1e-6      # framerate
    # sine RMS = amp/sqrt(2): 16384/32768/1.414 ≈ 0.3536
    assert abs(f_tone[3] - (amp / 32768.0) / math.sqrt(2)) < 0.01
    # zero crossings ≈ 2·f/fr = 0.11
    assert abs(f_tone[4] - 2 * freq / fr) < 0.01
    assert f_sil[3] == 0.0 and f_sil[4] == 0.0       # silence: zero RMS/ZCR
    assert abs(f_sil[5] - 1.0) < 1e-9                # all samples in bin 0


def test_avi_mjpeg_video_codec():
    """Pure-stdlib MJPEG-in-AVI video codec (functions/video.py): the RIFF
    container round-trips geometry/fps/frame-count exactly; flat frames at
    quality=100 survive container + JPEG BIT-EXACTLY (the property the
    video_frames_sample oracle relies on); gradient frames round-trip within
    the JPEG error bound; non-MJPG handlers and non-AVI RIFF are rejected at
    the documented boundary, not mis-decoded."""
    import pytest as _pytest

    from hadoop_3_0_0_beta1_gaia_spark.functions.jpeg import (
        jpeg_decode,
        jpeg_encode,
    )
    from hadoop_3_0_0_beta1_gaia_spark.functions.video import (
        avi_decode_mjpeg,
        avi_encode_mjpeg,
        video_features,
    )

    # flat frames: container + codec bit-exact at q100
    levels = [17, 250, 0, 133]
    frames = [jpeg_encode(16, 16, 1, bytes([lv]) * 256, quality=100) for lv in levels]
    avi = avi_encode_mjpeg(16, 16, frames, fps=25)
    w, h, fps, payloads = avi_decode_mjpeg(avi)
    assert (w, h, fps, len(payloads)) == (16, 16, 25, 4)
    for lv, p in zip(levels, payloads):
        assert jpeg_decode(p) == (16, 16, 1, bytes([lv]) * 256)

    # gradient frames survive the container unchanged (payload passthrough)
    grad = bytes([(x * 7 + y * 3) % 256 for y in range(16) for x in range(16)])
    gavi = avi_encode_mjpeg(16, 16, [jpeg_encode(16, 16, 1, grad, quality=92)])
    _, _, _, (gp,) = avi_decode_mjpeg(gavi)
    _, _, _, back = jpeg_decode(gp)
    assert max(abs(a - b) for a, b in zip(grad, back)) <= 4

    # video features are a genuine function of every frame's pixels
    feats = video_features(avi, 16)
    assert abs(feats[0] - 4 / 1000) < 1e-9          # n_frames
    assert abs(feats[1] - 25 / 60) < 1e-9           # fps
    assert abs(feats[5] - levels[0] / 255) < 1e-9   # first-frame luminance
    assert abs(feats[7] - levels[-1] / 255) < 1e-9  # last-frame luminance

    # a non-MJPG vids handler is a boundary, not a mis-decode
    bad = bytearray(avi)
    pos = bad.find(b"vidsMJPG")
    bad[pos + 4 : pos + 8] = b"H264"
    with _pytest.raises(NotImplementedError):
        avi_decode_mjpeg(bytes(bad))

    # RIFF-but-not-AVI (e.g. WAV) routes to the plug point
    with _pytest.raises(NotImplementedError):
        avi_decode_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")

    # a truncated frame chunk is a clear malformed-container error, not a
    # silently short payload that fails later inside jpeg_decode
    # (rfind would hit the idx1 index, which repeats the fourcc)
    truncated = avi[: avi.find(b"00dc", avi.find(b"movi")) + 8 + 4]  # mid-payload
    with _pytest.raises(ValueError, match="truncated frame chunk"):
        avi_decode_mjpeg(truncated)


def test_multimodal_real_video_features(spark):
    """decode=real dispatches RIFF/AVI bytes to the MJPEG video decoder
    through the same mapInPandas kernel as image/audio."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.jpeg import jpeg_encode
    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        decode_features,
    )
    from hadoop_3_0_0_beta1_gaia_spark.functions.video import avi_encode_mjpeg

    frames = [jpeg_encode(8, 8, 1, bytes([lv]) * 64, quality=100) for lv in (0, 255)]
    avi = avi_encode_mjpeg(8, 8, frames, fps=5)
    df = spark.createDataFrame(
        [(1, "video", bytearray(avi), "avi", 8, 8, 400)], MEDIA_SCHEMA
    )
    (row,) = decode_features(df, decode="real").collect()
    f = row["features"]
    assert abs(f[0] - 2 / 1000) < 1e-6   # two frames
    assert abs(f[1] - 5 / 60) < 1e-6     # fps
    assert abs(f[5] - 0.0) < 1e-6        # first frame black
    assert abs(f[7] - 1.0) < 1e-6        # last frame white


def test_simhash_hamming_pairs_equals_bruteforce(spark, sf_dir):
    """Pigeonhole completeness: the banded bucket search must find EXACTLY
    the pairs a brute-force scan of the fingerprints finds within the radius
    (bands can only add candidates, never lose a within-radius pair)."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        simhash32,
        simhash_hamming_pairs,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    docs = T(spark, sf_dir, "documents")
    sims = {r["id"]: r["simhash"] for r in simhash32(docs).collect()}
    ids = sorted(sims)
    brute = {
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_hamming_pairs(docs, radius=3).collect()
    }
    assert got == brute
    assert brute, "fixture produced no within-radius pairs; test is vacuous"


def test_simhash64_matches_python_reference(spark):
    """The 63-bit fingerprint must equal an INDEPENDENT pure-Python md5
    construction (not the shared Spark/DuckDB formula — the
    product_type_profit lesson: oracle parity cannot catch a bug both
    engines share, only an external ground truth can)."""
    import hashlib
    import re

    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import simhash64

    def py_simhash64(text: str) -> int:
        toks = {t for t in re.split(r"\s+", text.lower()) if t}
        votes = [0] * 63
        for t in toks:
            h = hashlib.md5(t.encode()).hexdigest()
            hi, lo = int(h[:8], 16), int(h[8:16], 16)
            for b in range(63):
                bit = (lo >> b) & 1 if b < 32 else (hi >> (b - 32)) & 1
                votes[b] += 1 if bit else -1
        return sum(1 << b for b in range(63) if votes[b] > 0)

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "pack my box with five dozen liquor jugs",
        "Sphinx of black quartz judge my vow",
        "one",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert got == {i: py_simhash64(t) for i, t in enumerate(texts)}
    # and the high bits are actually exercised (a 32-bit-truncation bug
    # would still pass a small-value comparison)
    assert any(v >> 32 for v in got.values())


def test_simhash64_kernel_equals_expression_fold(spark, sf_dir):
    """The Arrow fingerprint kernel (the scale path at sf10 — the expression
    fold paid 425 s rebuilding a 64-long accumulator per token, interpreted)
    must be BIT-IDENTICAL to the expression fold: fixture corpus plus
    adversarial whitespace/empty/unicode-token strings. All-integer math, so
    equality is exact, not ulp-bounded."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        simhash64,
        simhash64_kernel,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    docs = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [
                (9_000_001, "alpha  beta\tgamma\ndelta "),
                (9_000_002, "   "),  # whitespace-only: both paths drop it
                (9_000_003, "MiXeD CaSe TOKENS MiXeD"),
                (9_000_004, "x"),
                (9_000_005, "1 22 333 4444 55555 666666"),
                # U+00A0 is NOT whitespace to Java's default \s — the kernel
                # must keep "alpha beta" as ONE token too (re.ASCII)
                (9_000_006, "alpha\u00a0beta gamma"),
            ],
            "doc_id long, text string",
        )
    )
    expr = {r["id"]: r["simhash"] for r in simhash64(docs).collect()}
    kern = {r["id"]: r["simhash"] for r in simhash64_kernel(docs).collect()}
    assert kern == expr
    assert 9_000_002 not in kern and 9_000_001 in kern


def test_shingle_kernel_equals_expression_fold(spark, sf_dir):
    """The Arrow shingle kernel (the r11 scale path — the expression fold
    paid ~8 µs/gram in the interpreted HOF evaluator, 7.5 s of the capped
    dedup family's sf10 wall) must be BIT-IDENTICAL to the expression fold,
    including element ORDER (dict.fromkeys == array_distinct first-occurrence
    order): fixture corpus plus adversarial whitespace/empty/unicode/
    repeated-gram/NULL rows. All integer/md5 arithmetic — exact equality.
    The MinHash kernel shares the shingle loop: its shingles equal the fold
    too, and its signature equals a plain-Python-int reference."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        _MINHASH_P,
        _minhash_coeffs,
        minhash_shingles,
        shingle_arrays,
        shingle_arrays_expr,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    docs = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [
                (9_000_001, "alpha  beta\tgamma\ndelta "),
                (9_000_002, "   "),  # whitespace-only: both paths drop it
                (9_000_003, "MiXeD CaSe TOKENS MiXeD CaSe TOKENS"),
                (9_000_004, "x y"),  # < n tokens: both paths drop it
                (9_000_005, "a b c a b c a b c"),  # repeated grams: distinct
                # U+00A0 is NOT whitespace to Java's default \s — the kernel
                # must keep "alpha beta" as ONE token too (re.ASCII)
                (9_000_006, "alpha beta gamma delta"),
                (9_000_007, None),  # NULL text: both paths drop it
            ],
            "doc_id long, text string",
        )
    )
    expr = {r["id"]: r["shingles"] for r in shingle_arrays_expr(docs, 3).collect()}
    kern = {r["id"]: r["shingles"] for r in shingle_arrays(docs, 3).collect()}
    assert kern == expr
    assert 9_000_005 in kern and len(kern[9_000_005]) == 3  # distinct-ed
    assert 9_000_002 not in kern and 9_000_004 not in kern
    assert 9_000_007 not in kern

    mh = {r["id"]: (r["shingles"], r["sig"]) for r in minhash_shingles(docs, 3, 16).collect()}
    assert {i: sh for i, (sh, _) in mh.items()} == expr
    coeffs = _minhash_coeffs(16)
    for i, (_, sig) in mh.items():
        assert sig == [
            min((a * (h % _MINHASH_P) + b) % _MINHASH_P for h in expr[i]) for a, b in coeffs
        ], i


def test_positional_grams_kernel_equals_expression_fold(spark, sf_dir):
    """The positional k-gram kernel feeding the exact-substring family must
    emit the IDENTICAL (id, pos, gh) row set as the expression fold (pos is
    1-based; gh the 60-bit md5 intern) — same adversarial posture as the
    shingle test. Repeated grams keep every position (no distinct here)."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        positional_grams,
        positional_grams_expr,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    docs = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [
                (9_000_001, "a b c d e f g h a b c d e f g h"),
                (9_000_002, "   "),
                (9_000_003, "one two three four five six seven eight nine"),
                (9_000_004, None),
            ],
            "doc_id long, text string",
        )
    )
    expr = sorted(map(tuple, positional_grams_expr(docs, 8).collect()))
    kern = sorted(map(tuple, positional_grams(docs, 8).collect()))
    assert kern == expr
    # doc 9_000_001: 16 tokens -> 9 grams, duplicates at shifted positions
    n1 = sum(1 for t in kern if t[0] == 9_000_001)
    assert n1 == 9


def test_lsh_verify_kernel_equals_set_reference(spark):
    """The LSH bucket verify kernel reads each pair's shingle intersection
    off a 0/1 matmul; it must equal plain Python set intersection: every
    pair id_a < id_b of a bucket that shares a shingle, with both set sizes
    oriented with the ids. Zero-overlap pairs and a pair of equal ids emit
    nothing; 60-bit shingle values stay exact. With ``split`` only pairs
    id_a < split <= id_b come out. The per-bucket counts are the same for
    every incidence block width, including a wide bucket (U ≈ k·|doc|)
    read in many blocks."""
    import random

    import numpy as np

    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        _bucket_intersections,
        _verify_bucket_pairs,
    )

    rng = random.Random(7)
    vocab = list(range(1, 400)) + [2**59 + 3, 2**60 - 1]
    buckets = []
    for k in (2, 2, 3, 5, 9, 40):
        base = rng.sample(vocab, 30)
        buckets.append(
            [
                (
                    rng.randrange(10**6),
                    list(dict.fromkeys(rng.sample(base, 25) + rng.sample(vocab, 3))),
                )
                for _ in range(k)
            ]
        )
    buckets.append([(rng.randrange(10**6), rng.sample(range(6000), 300)) for _ in range(12)])
    buckets.append([(5, [1, 2, 3]), (6, [4, 5])])  # nothing shared
    buckets.append([(7, [1, 2]), (7, [1, 2]), (8, [2, 2**60 - 1])])  # repeated id
    df = spark.createDataFrame(
        [(b,) for b in buckets], "docs array<struct<id long, shingles array<long>>>"
    )
    got = sorted(map(tuple, _verify_bucket_pairs(df).collect()))
    want = []
    for b in buckets:
        members = sorted(b, key=lambda m: m[0])
        for i, (ia, sa) in enumerate(members):
            for ib, sb in members[i + 1 :]:
                inter = len(set(sa) & set(sb))
                if ia < ib and inter:
                    want.append((ia, ib, inter, len(sa), len(sb)))
    assert got == sorted(want)
    assert (7, 8, 1, 2, 2) in got and not any(r[0] == 5 for r in got)
    split = 500_000
    cross = sorted(map(tuple, _verify_bucket_pairs(df, split).collect()))
    assert cross == sorted(r for r in want if r[0] < split <= r[1])
    for b in buckets:
        ids = np.array([m[0] for m in b], dtype=np.int64)
        sz = np.array([len(m[1]) for m in b], dtype=np.int64)
        flat = np.array([v for m in b for v in m[1]], dtype=np.int64)
        for cut in (None, split):
            ref = sorted(
                (ia, ib, len(set(sa) & set(sb)))
                for ia, sa in b
                for ib, sb in b
                if ia < ib and set(sa) & set(sb) and (cut is None or ia < cut <= ib)
            )
            for block in (1, 50, 1 << 22):
                a, c, inter = _bucket_intersections(ids, sz, flat, cut, block)
                pairs = zip(ids[a].tolist(), ids[c].tolist(), inter.tolist())
                assert sorted(pairs) == ref, (len(b), cut, block)


def test_expand_bucket_pairs_kernel_equals_expression(spark, sf_dir):
    """The Arrow pair-expansion kernel (r12 — the HOF transform/slice/
    flatten chain evaluated interpreted per pair, ~10^8 expansions at the
    co-purchase fixture) must emit the IDENTICAL pair MULTISET as the
    expression path: fixture baskets plus adversarial buckets (empty,
    singleton, NULL array, duplicate ids within the multiset contract,
    mixed lengths). Row order is not part of the contract (every consumer
    aggregates) — compared as sorted multisets."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        expand_bucket_pairs,
        expand_bucket_pairs_expr,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    baskets = (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    adversarial = spark.createDataFrame(
        [
            ([1, 2],),
            ([10, 20, 30],),
            ([5, 5, 6],),  # duplicate id (not produced upstream, pinned)
            ([100, 200, 300, 400, 500],),
        ],
        "ids array<long>",
    )
    for frame in (adversarial, baskets):
        expr = sorted(map(tuple, expand_bucket_pairs_expr(frame).collect()))
        kern = sorted(map(tuple, expand_bucket_pairs(frame).collect()))
        assert kern == expr
    # the adversarial multiset, explicitly: 1+3+3+10 pairs
    kern = sorted(map(tuple, expand_bucket_pairs(adversarial).collect()))
    assert len(kern) == 17
    assert (5, 5) in kern  # duplicate-id pair kept, like the expression path
    # degenerate buckets the callers' size>=2 filters exclude (the expression
    # path is undefined below size 2 — slice length goes negative): the
    # kernel simply emits no pairs
    degenerate = spark.createDataFrame(
        [([],), ([7],), (None,)], "ids array<long>"
    )
    assert expand_bucket_pairs(degenerate).count() == 0
    # no expression fallback: ids that are not array<bigint> raise, naming
    # the column type
    for ddl, shown in (("ids array<int>", "array<int>"),
                       ("ids array<string>", "array<string>")):
        with pytest.raises(TypeError, match=shown):
            expand_bucket_pairs(spark.createDataFrame([], ddl))


def test_substring_cut_fast_path_matches_reconstruction(spark):
    """The no-cut fast path (join toks directly when no interval row exists)
    must agree with the per-token reconstruction on every document class:
    uncut docs, fully-cut docs, head/tail/middle cuts, and empty docs. The
    oracle replica pins the same thing corpus-wide; this is the focused
    boundary fixture."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        exact_substring_cut,
    )

    # two identical 10-token docs (cut everything from the higher id), one
    # shared 8-token prefix (head cut), one unique doc (no cut)
    ten = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    docs = spark.createDataFrame(
        [
            (1, ten),
            (2, ten),  # doc 2 fully cut -> kept_md5 = md5("")
            (3, "t0 t1 t2 t3 t4 t5 t6 t7 zz yy"),  # head cut, keeps "zz yy"
            (4, "unique tokens only here nothing shared at all"),
            (5, "  "),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in exact_substring_cut(docs, k=8).collect()}
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert out[2]["cut_tokens"] == 10 and out[2]["kept_md5"] == md5("")
    assert out[3]["cut_tokens"] == 8 and out[3]["kept_md5"] == md5("zz yy")
    assert out[4]["cut_tokens"] == 0 and out[4]["kept_md5"] == md5(
        "unique tokens only here nothing shared at all"
    )
    assert out[5]["cut_tokens"] == 0 and out[5]["kept_md5"] == md5("")
    assert out[1]["cut_tokens"] == 0  # keep-first: lower id survives


def test_simhash64_hamming_pairs_equals_bruteforce(spark, sf_dir):
    """Pigeonhole completeness at 63 bits: banded search == brute force
    within the radius. Crafted near-identical docs guarantee non-vacuity
    (whitespace-only variation -> same token set -> hamming 0)."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        simhash64,
        simhash64_hamming_pairs,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    docs = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [
                (9_000_001, "alpha beta gamma delta epsilon zeta"),
                (9_000_002, "alpha  beta gamma\tdelta epsilon zeta"),
                (9_000_003, "alpha beta gamma delta epsilon zeta eta"),
            ],
            "doc_id long, text string",
        )
    )
    sims = {r["id"]: r["simhash"] for r in simhash64(docs).collect()}
    ids = sorted(sims)
    brute = {
        (a, b, bin(sims[a] ^ sims[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sims[a] ^ sims[b]).count("1") <= 3
    }
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash64_hamming_pairs(docs, radius=3).collect()
    }
    assert got == brute
    assert (9_000_001, 9_000_002, 0) in brute  # the crafted exact-token dup


def test_image_dhash_groups_logos_and_cap(spark):
    """Perceptual image dHash hand-verified on a 9-doc frame: the kernel's
    codec-in-the-loop fingerprint equals the pure-Python pixel reference
    (PNG round trip is lossless), the logo cohort shares ONE fingerprint,
    one-pixel group perturbations stay within Hamming 4 (<= 2 bits per
    perturbed member), radius-4 banded search returns exactly brute force,
    and the bucket cap drops the logo pairs (cohort 5 > cap 4) while the
    4-member perturbed group passes untouched."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import hamming63_pairs
    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        dhash63_of_pixels,
        dhash_pixels,
        image_dhash63,
    )

    group = [8, 9, 10, 11]        # doc_id // 4 == 2, no member % 20 == 7
    logos = [7, 27, 47, 67, 87]   # doc_id % 20 == 7 -> one shared image
    docs = spark.createDataFrame(
        [(i, "t") for i in group + logos], "doc_id long, text string"
    )
    fps = {r["id"]: r["dhash"] for r in image_dhash63(docs).collect()}
    assert fps == {
        i: dhash63_of_pixels(dhash_pixels(i)) for i in group + logos
    }
    assert len({fps[i] for i in logos}) == 1          # constant logo image
    ham = lambda a, b: bin(fps[a] ^ fps[b]).count("1")  # noqa: E731
    assert all(ham(8, m) <= 2 for m in (9, 10, 11))   # <= 2 bits vs base
    assert all(
        ham(a, b) <= 4 for i, a in enumerate(group) for b in group[i + 1 :]
    )

    sims = image_dhash63(docs)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming63_pairs(sims, radius=4, fp_col="dhash").collect()
    }
    ids = sorted(fps)
    brute = {
        (a, b, ham(a, b))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(a, b) <= 4
    }
    assert got == brute
    group_pairs = {t for t in brute if t[0] in group and t[1] in group}
    logo_pairs = {t for t in brute if t[0] in logos}
    assert len(group_pairs) == 6 and len(logo_pairs) == 10
    assert all(t[2] == 0 for t in logo_pairs)

    capped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming63_pairs(
            image_dhash63(docs), radius=4, max_bucket_size=4, fp_col="dhash"
        ).collect()
    }
    assert capped == group_pairs  # logo buckets (5 > 4) dropped, group kept


def test_audio_fingerprint_groups_jingles_and_cap(spark):
    """Perceptual audio fingerprint hand-verified on a 9-doc frame: the
    kernel's codec-in-the-loop fingerprint (G.711 RIFF encode -> wav_decode
    chunk walk + µ-law expansion) equals the pure-Python expansion
    reference, the jingle cohort shares ONE fingerprint, one-frame group
    replacements stay within Hamming 4 (<= 2 bits per perturbed member),
    radius-4 banded search returns exactly brute force, and the bucket cap
    drops the jingle pairs (cohort 5 > cap 4) while the 4-member group
    passes untouched — the image-dhash proof, audio modality."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import hamming63_pairs
    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        _ulaw_to_linear,
        audio_fingerprint63,
        audio_ulaw_bytes,
        audiofp63_of_samples,
    )

    group = [8, 9, 10, 11]         # doc_id // 4 == 2, no member % 20 == 7
    jingles = [7, 27, 47, 67, 87]  # doc_id % 20 == 7 -> one shared clip
    docs = spark.createDataFrame(
        [(i, "t") for i in group + jingles], "doc_id long, text string"
    )
    fps = {r["id"]: r["afp"] for r in audio_fingerprint63(docs).collect()}
    assert fps == {
        i: audiofp63_of_samples(
            [_ulaw_to_linear(b) for b in audio_ulaw_bytes(i)]
        )
        for i in group + jingles
    }
    assert len({fps[i] for i in jingles}) == 1        # constant jingle clip
    ham = lambda a, b: bin(fps[a] ^ fps[b]).count("1")  # noqa: E731
    assert all(ham(8, m) <= 2 for m in (9, 10, 11))   # <= 2 bits vs base
    assert all(
        ham(a, b) <= 4 for i, a in enumerate(group) for b in group[i + 1 :]
    )
    assert any(ham(a, b) > 0 for a in group for b in group if a < b)

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming63_pairs(
            audio_fingerprint63(docs), radius=4, fp_col="afp"
        ).collect()
    }
    ids = sorted(fps)
    brute = {
        (a, b, ham(a, b))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(a, b) <= 4
    }
    assert got == brute
    group_pairs = {t for t in brute if t[0] in group and t[1] in group}
    jingle_pairs = {t for t in brute if t[0] in jingles}
    assert len(group_pairs) == 6 and len(jingle_pairs) == 10
    assert all(t[2] == 0 for t in jingle_pairs)

    capped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming63_pairs(
            audio_fingerprint63(docs), radius=4, max_bucket_size=4, fp_col="afp"
        ).collect()
    }
    assert capped == group_pairs  # jingle buckets (5 > 4) dropped, group kept


def test_video_fingerprint_groups_trailers_and_cap(spark):
    """Perceptual video fingerprint hand-verified on a 9-doc frame: the
    kernel's codec-chain fingerprint (per-frame JPEG q100 -> AVI container
    -> parse -> per-frame entropy decode) equals the pure-Python levels
    reference (flat frames are DC-only, bit-exact), the trailer cohort
    shares ONE fingerprint, one-frame group recuts stay within Hamming 4,
    radius-4 banded search returns exactly brute force, and the bucket cap
    drops the trailer pairs (cohort 5 > cap 4) while the group passes —
    the image/audio proof, fourth modality."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import hamming63_pairs
    from hadoop_3_0_0_beta1_gaia_spark.functions.video import (
        video_fingerprint63,
        video_levels,
        videofp63_of_levels,
    )

    group = [8, 9, 10, 11]          # doc_id // 4 == 2, no member % 20 == 7
    trailers = [7, 27, 47, 67, 87]  # doc_id % 20 == 7 -> one shared clip
    docs = spark.createDataFrame(
        [(i, "t") for i in group + trailers], "doc_id long, text string"
    )
    fps = {r["id"]: r["vfp"] for r in video_fingerprint63(docs).collect()}
    assert fps == {
        i: videofp63_of_levels(video_levels(i)) for i in group + trailers
    }
    assert len({fps[i] for i in trailers}) == 1      # constant trailer clip
    ham = lambda a, b: bin(fps[a] ^ fps[b]).count("1")  # noqa: E731
    assert all(ham(8, m) <= 2 for m in (9, 10, 11))
    assert all(
        ham(a, b) <= 4 for i, a in enumerate(group) for b in group[i + 1 :]
    )

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming63_pairs(
            video_fingerprint63(docs), radius=4, fp_col="vfp"
        ).collect()
    }
    ids = sorted(fps)
    brute = {
        (a, b, ham(a, b))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if ham(a, b) <= 4
    }
    assert got == brute
    group_pairs = {t for t in brute if t[0] in group and t[1] in group}
    trailer_pairs = {t for t in brute if t[0] in trailers}
    assert len(group_pairs) == 6 and len(trailer_pairs) == 10
    assert all(t[2] == 0 for t in trailer_pairs)

    capped = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming63_pairs(
            video_fingerprint63(docs), radius=4, max_bucket_size=4, fp_col="vfp"
        ).collect()
    }
    assert capped == group_pairs


def test_image_dhash_id_type_contract(spark):
    """image_dhash63 declares BOTH output fields LongType regardless of the
    input id column's width (ADVICE r9: declaring the input's own type
    mis-declared an int32 id at Arrow conversion — kernel always emits
    int64), and rejects non-integral id columns loudly."""
    import pytest as _pytest

    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        dhash63_of_pixels,
        dhash_pixels,
        image_dhash63,
    )

    docs32 = spark.createDataFrame([(8, "t"), (9, "t")], "doc_id int, text string")
    out = image_dhash63(docs32)
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "bigint",
    ]
    got = {r["id"]: r["dhash"] for r in out.collect()}
    assert got == {i: dhash63_of_pixels(dhash_pixels(i)) for i in (8, 9)}

    strdocs = spark.createDataFrame([("a", "t")], "doc_id string, text string")
    with _pytest.raises(TypeError, match="integral id column"):
        image_dhash63(strdocs)


def test_connected_components_pointer_jumping(spark):
    """Pointer jumping must reach the same fixpoint as plain min-label
    propagation (same labels, jump-oblivious oracle) and must converge in
    O(log diameter) rounds — pinned on a 40-node path, where plain
    propagation needs the full 40 rounds (and would silently MISconverge
    under the default max_iter=20; the jump path is why the default is safe
    at any realistic cluster diameter)."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import connected_components

    # a 40-node path (diameter 39) + a disjoint triangle with a non-min root
    edges = [(i, i + 1) for i in range(39)] + [(100, 102), (101, 102), (100, 101)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {i: 0 for i in range(40)} | {i: 100 for i in (100, 101, 102)}

    jump_diag: dict = {}
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs, diag=jump_diag).collect()
    }
    assert got == want
    assert jump_diag["converged"]
    jump_rounds = jump_diag["rounds"]
    assert jump_rounds <= 9  # ~log2(39) + convergence-detect rounds

    flat_diag: dict = {}
    flat = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            pairs, jump=False, max_iter=50, diag=flat_diag
        ).collect()
    }
    assert flat == want
    assert flat_diag["converged"]
    assert flat_diag["rounds"] > jump_rounds  # plain propagation pays diameter


def test_exact_substring_spans_match_token_level_reference(spark):
    """Span extraction (anchor join + diagonal island merge) must emit exactly
    the maximal common token runs >= k, with 1-based positions and exact
    lengths — pinned against an independent token-level diagonal walk (no
    gram hashing, no SQL) on a fixture with: one long shared run, a doc pair
    sharing TWO separate runs, a run broken by a one-token mismatch (two
    islands on one diagonal), and a sub-k overlap that must NOT appear."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import exact_substring_spans

    docs = {
        1: "a b c d e f g h i j",          # shares c..i with 2 (run 7)
        2: "x c d e f g h i y z c d e w",  # also a second short c d e (sub-k)
        3: "a b c d e f X h i j",          # mismatch at g -> two runs vs 1
        4: "p q r s t u v w p2 q2",        # no overlap
    }
    k = 3
    want = set()
    ids = sorted(docs)
    for i, da in enumerate(ids):
        for db in ids[i + 1 :]:
            ta, tb = docs[da].lower().split(), docs[db].lower().split()
            for diag in range(-len(tb), len(ta) + 1):
                run = 0
                for ia in range(1, len(ta) + 2):
                    ib = ia - diag
                    ok = (
                        ia <= len(ta)
                        and 1 <= ib <= len(tb)
                        and ta[ia - 1] == tb[ib - 1]
                    )
                    if ok:
                        run += 1
                    else:
                        if run >= k:
                            sa = ia - run
                            want.add((da, db, sa, sa - diag, run))
                        run = 0
    df = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"])
        for r in exact_substring_spans(df, k=k).collect()
    }
    assert got == want
    # fixture sanity: the interesting shapes are actually present
    assert (1, 2, 3, 2, 7) in want          # the long merged run
    assert (1, 3, 1, 1, 6) in want          # pre-mismatch island
    assert (1, 3, 8, 8, 3) in want          # post-mismatch island
    assert not any(a == 2 and b == 4 for a, b, *_ in want)


def test_exact_substring_occ_cap_drops_and_splits(spark):
    """The occurrence cap must drop grams with corpus occurrence > max_occ
    BEFORE the join: a boilerplate middle gram shared by 3 docs splits the
    2-doc span containing it, and the drop counters report the volume."""
    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import (
        cap_counter,
        exact_substring_spans,
    )

    # docs 1+2 share a 7-token run; its MIDDLE gram 'c3 c4 c5' also appears
    # in doc 3 (occurrence 3 > cap 2), so the capped result splits the run
    docs = [
        (1, "c1 c2 c3 c4 c5 c6 c7"),
        (2, "z c1 c2 c3 c4 c5 c6 c7"),
        (3, "q r c3 c4 c5 s t"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    unc = {
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"])
        for r in exact_substring_spans(df, k=3).collect()
    }
    assert (1, 2, 1, 2, 7) in unc  # uncapped: one maximal 7-token span
    diag = {}
    cap = exact_substring_spans(df, k=3, max_occ=2, diag=diag)
    got = {
        (r["doc_a"], r["doc_b"], r["start_a"], r["start_b"], r["span_tokens"])
        for r in cap.collect()
    }
    obs = cap_counter(diag)
    assert obs["occ_dropped_grams"] >= 1 and obs["occ_dropped_rows"] >= 3
    # the 7-token 1<->2 span survives only as fragments not containing the
    # dropped middle gram; no fragment may span the full 7 tokens
    frags = {t for t in got if t[0] == 1 and t[1] == 2}
    assert frags and all(t[4] < 7 for t in frags)


def test_connected_components_misconvergence_is_loud(spark):
    """Exhausting max_iter without the sum-converged break must RAISE, never
    return silently-wrong labels (ADVICE r7: reachable via jump=False on a
    diameter past the round budget). The diag dict still reports the attempt."""
    import pytest as _pytest

    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import connected_components

    edges = [(i, i + 1) for i in range(39)]  # diameter-39 path
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    diag: dict = {}
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, jump=False, max_iter=5, diag=diag)
    assert diag == {"rounds": 5, "converged": False}


def test_gopher_rules_match_python_reference(spark):
    """The Gopher thresholds are applied by integer cross-multiplication and
    the formula is codegen-shared with the DuckDB oracle — so oracle parity
    cannot catch a shared bug. This INDEPENDENT float-arithmetic reference
    (real-number mean/ratio comparisons, exactly as the paper states them)
    must agree on crafted boundary docs sitting exactly ON each threshold."""
    import re

    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import (
        _GOPHER_STOPS,
        gopher_rules,
    )

    def ref(text: str) -> str:
        toks = [t for t in re.split(r"\s+", text.lower(), flags=re.ASCII) if t]
        n = len(toks)
        if n < 50:
            return "too_few_words"
        if n > 100_000:
            return "too_many_words"
        mean = sum(len(t) for t in toks) / n
        if mean < 3 or mean > 10:
            return "bad_mean_word_length"
        if text.count("#") / n > 0.1 or text.count("...") / n > 0.1:
            return "high_symbol_ratio"
        alpha = sum(1 for t in toks if re.search("[a-z]", t)) / n
        if alpha < 0.8:
            return "low_alpha_fraction"
        if len(set(toks) & set(_GOPHER_STOPS)) < 2:
            return "few_stop_words"
        return "keep"

    # every doc passes all rules EXCEPT the one its fixture targets, and the
    # targeted metric sits exactly ON (keep) or one unit OFF (drop) the bar
    ok = "the of " + " ".join(f"abc{i%10}" for i in range(48))  # 50 words, mean 4
    fixtures = [
        ok,  # keep (50 words exactly: boundary of the word-count rule)
        "the of " + " ".join(f"w{i%10}" for i in range(47)),  # 49 words
        "the of " + " ".join("abcdefgh" for _ in range(48)),  # mean 7.96 keep
        # mean word length exactly 3.0 (50 3-char words): keep (inclusive)
        "the and " + " ".join("abc" for _ in range(48)),
        # mean just under 3: 149 chars over 50 words
        "the and " + " ".join("abc" for _ in range(47)) + " ab",
        ok + " #####",  # 5 hashes in ONE extra token: 5/51 <= 0.1 keep
        ok + " # # # # #",  # 55 words, 5 hashes: 5/55 <= 0.1 keep
        ok + " # # # # # #",  # 56 words, 6 hashes: 6/56 > 0.1 drop
        ok + " ... ... ... ... ...",  # 55 words 5 ellipses keep
        "the of " + " ".join("1234" for _ in range(38)) + " "
        + " ".join(f"a{i%10}" for i in range(10)),  # 12 alpha of 50: drop
        # exactly 80% alpha: 40 alpha of 50 words -> keep
        "the of " + " ".join(f"abc{i%10}" for i in range(38)) + " "
        + " ".join("123" for _ in range(10)),
        "the " + " ".join(f"abc{i%10}" for i in range(49)),  # 1 stop: drop
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(fixtures)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["reason"] for r in gopher_rules(docs).collect()}
    want = {i: ref(t) for i, t in enumerate(fixtures)}
    assert got == want
    # the fixtures must actually exercise every reason at least once
    assert {"keep", "too_few_words", "bad_mean_word_length",
            "high_symbol_ratio", "low_alpha_fraction",
            "few_stop_words"} <= set(want.values())


def test_gopher_repetition_matches_python_reference(spark):
    """The nine n-gram folds vs an independent Counter-based reimplementation
    of the declared semantics (top = max-count gram, ties to the smallest;
    dup = multiplicity char sum). Includes a tie fixture where two grams of
    DIFFERENT char lengths share the max count — the tie rule materially
    changes the fraction, so a wrong tie-break fails here."""
    import math
    import re
    from collections import Counter

    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import (
        _GOPHER_DUP_PCT,
        _GOPHER_TOP_PCT,
        gopher_repetition,
    )

    def fr(x):
        return math.floor(x * 10_000 + 0.5) / 10_000

    def ref(text):
        toks = [t for t in re.split(r"\s+", text.lower(), flags=re.ASCII) if t]
        total = max(len(" ".join(toks)), 1)

        def grams(n):
            return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

        row = {
            "n_tokens": len(toks),
            "total_chars": len(" ".join(toks)),
        }
        rep = False
        for n, pct in _GOPHER_TOP_PCT.items():
            c = Counter(grams(n))
            if c:
                m = max(c.values())
                g = min(k for k, v in c.items() if v == m)
                chars = m * len(g)
            else:
                chars = 0
            row[f"top_{n}_frac"] = fr(chars / total)
            rep = rep or chars * 100 > row["total_chars"] * pct
        for n, pct in _GOPHER_DUP_PCT.items():
            c = Counter(grams(n))
            chars = sum(v * len(k) for k, v in c.items() if v >= 2)
            row[f"dup_{n}_frac"] = fr(chars / total)
            rep = rep or chars * 100 > row["total_chars"] * pct
        row["repetitive"] = rep
        return row

    fixtures = [
        "spam ham " * 30,  # whole doc duplicated: every dup_n fires
        " ".join(f"u{i}" for i in range(40)),  # all-unique: every signal 0
        # max-count TIE between 'aa b' (4 chars) and 'cc ddd' (6 chars):
        # the smallest gram must win, so top_2 counts 2*4, not 2*6
        "aa b aa b cc ddd cc ddd",
        "one two three one two four one two five",  # top-3 'one two x' ties
        "x",  # single token: no n-grams at any n
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(fixtures)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}
    for i, t in enumerate(fixtures):
        want = {"doc_id": i, **ref(t)}
        assert got[i] == want, f"doc {i}: {got[i]} != {want}"
    assert got[0]["repetitive"] and not got[1]["repetitive"]


def test_gopher_repetition_kernel_equals_expression(spark, sf_dir):
    """The Counter kernel (the entry's path — the nine interpreted folds cost
    49.3 s at sf1) must match the expression folds row-for-row on the fixture
    corpus plus the crafted tie/degenerate docs — including the float
    fractions bit-for-bit (single fround division, same IEEE op order)."""
    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import (
        gopher_repetition,
        gopher_repetition_kernel,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    docs = T(spark, sf_dir, "documents").select("doc_id", "text").unionByName(
        spark.createDataFrame(
            [
                (9_000_001, "spam ham " * 30),
                (9_000_002, "aa b aa b cc ddd cc ddd"),
                (9_000_003, "x"),
                (9_000_004, "  "),
                # NULL text = empty document (zeros) in BOTH paths and the
                # oracle's coalesce(text, '') — ADVICE r6: the kernel already
                # emitted zeros while the expression fold propagated NULL
                (9_000_005, None),
            ],
            "doc_id long, text string",
        )
    )
    expr = {r["doc_id"]: r.asDict() for r in gopher_repetition(docs).collect()}
    kern = {
        r["doc_id"]: r.asDict() for r in gopher_repetition_kernel(docs).collect()
    }
    assert kern == expr
    assert kern[9_000_001]["repetitive"]
    assert kern[9_000_005]["n_tokens"] == 0
    assert not kern[9_000_005]["repetitive"]


def test_c4_rules_match_python_reference(spark):
    """C4 line/page rules vs an independent pure-Python reimplementation on
    crafted multi-line pages — reason AND the md5 of the kept text (the
    content pin, not just counts)."""
    import hashlib

    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import c4_rules

    def ref(page: str):
        lines = page.split("\n")
        kept = [
            l
            for l in lines
            if l[-1:] in (".", "!", "?")
            and len([w for w in l.split(" ") if w]) >= 5
            and "javascript" not in l
        ]
        if "lorem ipsum" in page:
            reason = "lorem_ipsum"
        elif "{" in page:
            reason = "curly_brace"
        elif len(kept) < 3:
            reason = "too_few_sentences"
        else:
            reason = "keep"
        return (
            len(lines),
            len(kept),
            reason,
            hashlib.md5("\n".join(kept).encode()).hexdigest(),
        )

    fixtures = [
        "one good sentence lives right here.\nanother proper sentence "
        "follows it now!\na third keeps the page alive?",  # keep
        "only two good sentences survive here.\nthe second one is also "
        "fine.\nno punct line\nshort one.",  # too_few_sentences
        "a perfectly fine sentence sits here.\nbut lorem ipsum poisons "
        "the page entirely.\nso every line dies with it.",  # lorem_ipsum
        "the opening sentence is acceptable prose.\nvar x = { nested: 1 "
        "}\nbraces kill whole pages in c4.",  # curly_brace
        "please enable javascript to continue reading.\nthis sentence "
        "is long enough to keep.\nso is this other pleasant one.\nand a "
        "third proper sentence too.",  # keep (js line dropped, 3 remain)
        "word\n\n\nends with period but too short.\n"
        "five whole words end here.",  # too_few_sentences, empty lines
        # CRLF page: split on '\n' leaves '\r' on every line, so NO line ends
        # in terminal punctuation (the '\r' is the last char) — a '$'-anchored
        # Java regex would wrongly keep them all (ADVICE r6: Java's '$'
        # matches before a final line terminator; the reference and the
        # oracle anchor at true end-of-string)
        "this carriage return sentence would pass.\r\n"
        "and so would this other fine one!\r\n"
        "a third crlf sentence completes the page.",  # last line has no \r
    ]
    docs = spark.createDataFrame(
        [(i, p) for i, p in enumerate(fixtures)], "doc_id long, page string"
    )
    want = {i: ref(p) for i, p in enumerate(fixtures)}
    # BOTH paths — the expression chain (the oracle's structural twin) and
    # the Arrow kernel (the entry's path) — must match the reference
    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import c4_rules_kernel

    for chain in (c4_rules, c4_rules_kernel):
        got = {
            r["doc_id"]: (
                r["n_lines"], r["n_kept_lines"], r["reason"], r["kept_md5"]
            )
            for r in chain(docs).collect()
        }
        assert got == want, chain.__name__
    assert {"keep", "too_few_sentences", "lorem_ipsum", "curly_brace"} <= {
        v[2] for v in want.values()
    }


def test_c4_rules_kernel_equals_expression(spark, sf_dir):
    """The Arrow line-rules kernel (the entry's path — the interpreted
    higher-order filter chain was the only sf10-swept entry behind DuckDB)
    must match the expression chain row-for-row on the REAL derived pages of
    the fixture corpus (the entry's own injection) plus NULL — all-string
    computation, so equality is exact."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import (
        c4_rules,
        c4_rules_kernel,
    )
    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import all_entries
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    entry = all_entries()["c4_line_filter"]
    # the registered entry (kernel path) vs the expression chain over the
    # same derived pages: reconstruct the injection by diffing is fragile, so
    # run the expression chain on crafted pages AND compare the entry's
    # kernel output against the expression chain applied to the entry's own
    # page derivation via monkeypatch-free recomputation
    pages = spark.createDataFrame(
        [
            (1, "good sentence one lives here today.\r\nwindows line endings!"),
            (2, None),
            (3, "a { brace page with sentences.\nmore of the same here."),
            (4, "one fine sentence stands alone in this page."),
        ],
        "doc_id long, page string",
    )
    expr = {r["doc_id"]: r.asDict() for r in c4_rules(pages).collect()}
    kern = {r["doc_id"]: r.asDict() for r in c4_rules_kernel(pages).collect()}
    assert kern == expr
    # and on the real fixture corpus through the registered entry's injection
    did = F.col("doc_id")
    nl = F.lit("\n")

    def inject(cond, line):
        return F.when(cond, F.concat(nl, F.lit(line))).otherwise(F.lit(""))

    page = F.concat(
        F.col("text"), nl, F.lit("this page has exactly five words."),
        inject(did % 2 == 0, "short line."),
        inject(did % 3 == 0, "enable javascript to view this page."),
        inject(did % 3 == 1, "another perfectly valid sentence appears here!"),
        inject(did % 2 == 1, "odd documents receive one extra proper sentence."),
        inject(did % 5 == 0, "lorem ipsum dolor sit amet consectetur."),
        inject(did % 7 == 0, "config = { key: value }"),
    )
    derived = T(spark, sf_dir, "documents").select("doc_id", page.alias("page"))
    expr2 = {r["doc_id"]: r.asDict() for r in c4_rules(derived).collect()}
    kern2 = {
        r["doc_id"]: r.asDict()
        for r in entry.build(spark, sf_dir).collect()
    }
    assert kern2 == expr2


class TestNewInventorySemantics:
    """Semantics pins for the round-3 session-2 additions."""

    def test_semantic_dedup_kept_set_has_no_dominating_neighbor(self, spark, sf_dir):
        """Every dropped vector must have a LOWER-id kept-or-dropped neighbor
        in its cluster above threshold; every kept vector must have none.
        Verified against the exact within-cluster pair set."""
        from pyspark.sql import functions as F

        from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import (
            dot,
            ivf_assign,
            semantic_dedup,
            with_norm,
        )
        from hadoop_3_0_0_beta1_gaia_spark.functions.rounding import fround
        from hadoop_3_0_0_beta1_gaia_spark.session import table as T

        emb = T(spark, sf_dir, "embeddings")
        res = semantic_dedup(emb, num_centroids=4, threshold=0.35)
        base = with_norm(emb).select(F.col("vec_id").alias("id"), "__v", "__n2")
        assigned = base.join(
            ivf_assign(emb, 4).select(F.col("vec_id").alias("id"), "centroid_id"),
            "id",
        )
        a = assigned.select(
            F.col("id").alias("i"), F.col("centroid_id").alias("b"),
            F.col("__v").alias("vi"), F.col("__n2").alias("ni"),
        )
        bb = assigned.select(
            F.col("id").alias("j"), F.col("centroid_id").alias("b"),
            F.col("__v").alias("vj"), F.col("__n2").alias("nj"),
        )
        cos = fround(
            dot(F.col("vi"), F.col("vj")) / F.sqrt(F.col("ni") * F.col("nj")), 6
        )
        has_lower = (
            a.join(bb, "b")
            .filter((F.col("j") < F.col("i")) & (cos >= 0.35))
            .select(F.col("i").alias("vec_id"))
            .distinct()
            .withColumn("dominated", F.lit(True))
        )
        joined = res.join(has_lower, "vec_id", "left").collect()
        for r in joined:
            assert r.keep == (r.dominated is None), r

    def test_domain_quota_matches_single_window_rank(self, spark, sf_dir):
        """The salted two-level top-N must equal the naive single-window
        per-source rank (exactness of top-N-of-top-N)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import (
            _QUOTA_CAP,
            domain_quota_filter,
        )
        from hadoop_3_0_0_beta1_gaia_spark.session import table as T

        fast = {
            (r.source): (r.n_docs, r.n_kept, r.min_kept_doc, r.kept_id_sum)
            for r in domain_quota_filter(spark, sf_dir).collect()
        }
        d = T(spark, sf_dir, "documents").select(
            "source", "doc_id",
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":quota"))).alias("rk"),
        )
        w = Window.partitionBy("source").orderBy("rk", "doc_id")
        naive = (
            d.withColumn("rnk", F.row_number().over(w))
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.when(F.col("rnk") <= _QUOTA_CAP, 1).otherwise(0)).alias("n_kept"),
                F.min(F.when(F.col("rnk") <= _QUOTA_CAP, F.col("doc_id"))).alias("mn"),
                F.sum(F.when(F.col("rnk") <= _QUOTA_CAP, F.col("doc_id")).otherwise(0)).alias("sm"),
            )
            .collect()
        )
        for r in naive:
            assert fast[r.source] == (r.n_docs, r.n_kept, r.mn, r.sm), r.source

    def test_quantile_sketch_within_error_bound(self, spark, sf_dir):
        """Every sketch estimate must be within err_bound_micro of the TRUE
        exact quantile (the sketch's contract, checked against percentile)."""
        from pyspark.sql import functions as F

        from hadoop_3_0_0_beta1_gaia_spark.plans.registry import queries
        from hadoop_3_0_0_beta1_gaia_spark.session import table as T

        rows = queries()["value_quantile_sketch"](spark, sf_dir).collect()
        ev = T(spark, sf_dir, "events").select(
            (F.col("value").cast("decimal(18,6)") * 1000000).cast("long").alias("vm")
        )
        for r in rows:
            q = r.quantile_pct / 100.0
            true = ev.agg(
                F.expr(f"percentile(vm, {q})").alias("p")
            ).collect()[0].p
            assert abs(r.est_micro - true) <= r.err_bound_micro + 1, (
                r.quantile_pct, r.est_micro, true, r.err_bound_micro
            )

    def test_hll_merge_equals_direct(self, spark, sf_dir):
        from hadoop_3_0_0_beta1_gaia_spark.plans.registry import queries

        row = queries()["hll_merge_daily"](spark, sf_dir).collect()[0]
        assert row.estimates_equal
        assert row.merged_estimate == row.direct_estimate
        assert row.n_slices > 1  # the merge actually merged several days

    def test_bpe_merge_fold_is_greedy_nonoverlapping(self, spark):
        """[a a a a] under pair (a,a) must merge to [aa aa] — greedy
        left-to-right non-overlap, not [aa a a] (single replace) nor
        [aaa a] (re-merging the fresh token)."""
        from pyspark.sql import functions as F

        from hadoop_3_0_0_beta1_gaia_spark.plans.textops import _spark_fold

        df = spark.createDataFrame(
            [("a a a a",), ("a b a b",), ("b a a b",)], ["rep"]
        ).select(
            _spark_fold(F.col("rep"), F.lit("a"), F.lit("a")).alias("m_aa"),
            _spark_fold(F.col("rep"), F.lit("a"), F.lit("b")).alias("m_ab"),
            F.col("rep"),
        )
        got = {r.rep: (r.m_aa, r.m_ab) for r in df.collect()}
        assert got["a a a a"] == ("aa aa", "a a a a")
        assert got["a b a b"] == ("a b a b", "ab ab")
        assert got["b a a b"] == ("b aa b", "b a ab")

    @staticmethod
    def _vocab(spark, words):
        from pyspark.sql import functions as F

        return spark.createDataFrame(words, ["word", "cnt"]).select(
            "word",
            F.col("cnt").cast("long"),
            F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("rep"),
        )

    def test_bpe_collapsed_word_does_not_crash(self, spark):
        """ADVICE r3 (high): after round 1 merges (t, o), the word 'to'
        collapses to the SINGLE symbol 'to' (length 2, one element). The old
        length(rep) > 1 filter kept that row, and under ANSI mode
        element_at(syms, 2) threw INVALID_ARRAY_INDEX_IN_ELEMENT_AT while the
        DuckDB oracle's empty generate_series succeeded. Pin the fixed
        behavior: round 2 proceeds and finds the (to, n) pair."""
        from hadoop_3_0_0_beta1_gaia_spark.plans.textops import bpe_merge_table

        v = self._vocab(spark, [("to", 10), ("ton", 2)])
        rows = {r.round: r for r in bpe_merge_table(v, 2).collect()}
        assert (rows[1].left_sym, rows[1].right_sym, rows[1].freq) == ("t", "o", 12)
        assert (rows[2].left_sym, rows[2].right_sym, rows[2].freq) == ("to", "n", 2)

    def test_bpe_stops_when_vocab_fully_merged(self, spark):
        """A fully merged vocabulary yields no further pairs: the loop stops
        early instead of cross-joining an empty argmax (which would silently
        empty the vocabulary)."""
        from hadoop_3_0_0_beta1_gaia_spark.plans.textops import bpe_merge_table

        v = self._vocab(spark, [("ab", 3)])
        rows = bpe_merge_table(v, 5).collect()
        assert len(rows) == 1
        assert (rows[0].left_sym, rows[0].right_sym) == ("a", "b")

    def test_bpe_25_rounds_bounded_cache(self, spark):
        """VERDICT r3 item 3: a 25-round run must not accumulate one cached
        vocabulary frame per round. Cached-RDD growth is bounded by the
        returned merge table plus the periodic lineage checkpoints."""
        from hadoop_3_0_0_beta1_gaia_spark.plans.textops import bpe_merge_table

        word = "abcdefghijklmnopqrstuvwxyz0123456789"  # 35 mergeable pairs
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        merges = bpe_merge_table(self._vocab(spark, [(word, 1)]), 25)
        rows = merges.collect()
        assert len(rows) == 25
        after = jsc.getPersistentRDDs().size()
        # Bounded state: 25 one-ROW argmax checkpoints (the result itself)
        # plus <=3 vocabulary checkpoints pending ContextCleaner GC — no
        # vocabulary frame stays persisted, and the old exponential-lineage
        # form OOMed the driver before producing any result at 25 rounds.
        assert after - before <= 25 + 5, (before, after)

    def test_asof_nearest_matches_bruteforce(self, spark):
        """asof_nearest_join vs a per-row brute-force nearest over adversarial
        data: equal timestamps, exact-tie distances (backward must win),
        out-of-tolerance gaps, keys with no right rows."""
        import datetime as dt

        from pyspark.sql import functions as F

        from hadoop_3_0_0_beta1_gaia_spark.operators.skew import asof_nearest_join

        base = dt.datetime(2000, 1, 1)

        def ts(sec):
            return base + dt.timedelta(seconds=sec)

        # left: (key, ts) probes; right: (key, ts, value)
        left_rows = [
            (1, ts(100)), (1, ts(200)), (1, ts(305)),
            (2, ts(50)),                       # no right rows for key 2
            (3, ts(100)),                      # exact tie: right at 90 and 110
            (4, ts(100)),                      # right at same instant
            (5, ts(1000)),                     # nearest beyond tolerance
        ]
        right_rows = [
            (1, ts(90), 1.0), (1, ts(210), 2.0), (1, ts(300), 3.0),
            (3, ts(90), 4.0), (3, ts(110), 5.0),
            (4, ts(100), 6.0),
            (5, ts(1500), 7.0),
        ]
        tol = 120 * 1000000  # 120 s
        left = spark.createDataFrame(left_rows, "key long, ts timestamp")
        right = spark.createDataFrame(right_rows, "key long, ts timestamp, value double")
        got = {
            (r.key, r.ts): (r.nearest_value, r.direction)
            for r in asof_nearest_join(
                left, right, key="key", ts="ts", right_value="value",
                tolerance_micros=tol,
            ).collect()
        }

        def brute(k, t):
            cands = [
                (abs((t - rt).total_seconds()), rt <= t, v)
                for (rk, rt, v) in right_rows if rk == k
                if abs((t - rt).total_seconds()) * 1000000 <= tol
            ]
            if not cands:
                return (None, None)
            # min distance; backward (rt <= t) wins exact ties
            d, back, v = min(cands, key=lambda c: (c[0], not c[1]))
            return (v, "backward" if back else "forward")

        for (k, t) in left_rows:
            assert got[(k, t)] == brute(k, t), (k, t, got[(k, t)], brute(k, t))

    def test_quantile_sketch_degenerate_constant_column(self, spark, tmp_path):
        """All-equal values: hi == lo makes every row bucket 0 and the error
        bound 0 — estimates must equal the constant exactly."""
        import shutil

        from pyspark.sql import functions as F

        from hadoop_3_0_0_beta1_gaia_spark.plans.index_sketch import (
            value_quantile_sketch,
        )

        src = "/root/testdata/sf0.001"
        dst = tmp_path / "sfconst"
        dst.mkdir()
        for t in ("events",):
            df = spark.read.parquet(f"{src}/{t}.parquet").withColumn(
                "value", F.lit(7.25)
            )
            df.write.mode("overwrite").parquet(str(dst / f"{t}.parquet"))
        for t in (
            "region nation customer supplier part orders lineitem documents embeddings"
        ).split():
            shutil.copy(f"{src}/{t}.parquet", dst / f"{t}.parquet")
        rows = value_quantile_sketch(spark, str(dst)).collect()
        assert len(rows) == 5
        for r in rows:
            assert r.bucket == 0
            assert r.est_micro == 7250000
            assert r.err_bound_micro == 0


def test_wav_g711_decode_matches_reference():
    """G.711 µ-law/A-law WAV decode: the pure-Python ITU expansion formulas
    must agree with the platform reference (audioop, the battle-tested C
    implementation) on ALL 256 code bytes, and a hand-built format-7 WAV
    routes through the manual RIFF walk (the stdlib wave module rejects
    non-PCM outright)."""
    import struct
    import warnings

    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
        _alaw_to_linear,
        _ulaw_to_linear,
        wav_decode,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        # stdlib in 3.11, removed in 3.13 (hence our own tables): skip the
        # cross-check on newer interpreters, wav_decode tests keep coverage
        audioop = pytest.importorskip("audioop")

    for code in range(256):
        (ref_u,) = struct.unpack("<h", audioop.ulaw2lin(bytes([code]), 2))
        (ref_a,) = struct.unpack("<h", audioop.alaw2lin(bytes([code]), 2))
        assert _ulaw_to_linear(code) == ref_u, f"ulaw byte {code:#x}"
        assert _alaw_to_linear(code) == ref_a, f"alaw byte {code:#x}"

    def g711_wav(fmt_code, payload, ch=1, fr=8000):
        fmt = struct.pack("<HHIIHH", fmt_code, ch, fr, fr * ch, ch, 8)
        chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        chunks += b"data" + struct.pack("<I", len(payload)) + payload
        return b"RIFF" + struct.pack("<I", len(chunks)) + chunks

    payload = bytes(range(0, 256, 16))
    ch, fr, sw, samples = wav_decode(g711_wav(7, payload))
    assert (ch, fr, sw) == (1, 8000, 2)
    assert samples == [_ulaw_to_linear(b) for b in payload]
    ch, fr, sw, samples = wav_decode(g711_wav(6, payload, ch=2, fr=16000))
    assert (ch, fr, sw) == (2, 16000, 2)
    assert samples == [_alaw_to_linear(b) for b in payload]

    # malformed G.711 containers are clear errors, not silent truncation:
    # a data chunk whose declared length overruns the buffer...
    overrun = bytearray(g711_wav(7, payload))
    dpos = bytes(overrun).rfind(b"data")
    overrun[dpos + 4 : dpos + 8] = struct.pack("<I", len(payload) + 64)
    with pytest.raises(ValueError, match="data chunk overruns"):
        wav_decode(bytes(overrun))
    # ...and a fmt-but-no-data file (would otherwise yield zero samples)
    fmt = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
    nodata = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    nodata = b"RIFF" + struct.pack("<I", len(nodata)) + nodata
    with pytest.raises(ValueError, match="no data chunk"):
        wav_decode(nodata)


def test_mp3_probe_headers_walk():
    """MP3 header probe: walks a multi-frame chain via the header length
    formula (including VBR bitrate changes and padding bits), reports
    duration from the 1152-samples/frame constant, stops at a broken sync,
    and rejects non-MPEG bytes and non-Layer-III headers at the documented
    boundary."""
    import pytest as _pytest

    from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import mp3_probe

    def frame(br_idx, sr_idx, pad=0):
        from hadoop_3_0_0_beta1_gaia_spark.functions.multimodal import (
            _MP3_BITRATES,
            _MP3_RATES,
        )

        flen = 144 * _MP3_BITRATES[br_idx] * 1000 // _MP3_RATES[sr_idx] + pad
        return bytes([0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2) | (pad << 1), 0]) + (
            b"\x00" * (flen - 4)
        )

    # CBR: 3 frames at 128 kbps / 44100 Hz; duration floors per frame
    n, sr, br, dur = mp3_probe(frame(9, 0) * 3)
    assert (n, sr, br) == (3, 44100, 128)
    assert dur == 3 * (1152 * 1000 // 44100)

    # VBR chain with padding and a mid-chain rate change: lengths come from
    # each frame's own header, duration from each frame's own rate, and the
    # headline sample rate/bitrate are the FIRST frame's
    chain = frame(9, 0) + frame(14, 0, pad=1) + frame(1, 2)
    n, sr, br, dur = mp3_probe(chain)
    assert (n, sr, br) == (3, 44100, 128)
    assert dur == 2 * (1152 * 1000 // 44100) + 1152 * 1000 // 32000

    # trailing garbage after the chain stops the walk, doesn't crash it
    n, _, _, _ = mp3_probe(frame(9, 0) * 2 + b"\x12\x34")
    assert n == 2

    # a truncated final frame is NOT counted as complete
    full = frame(9, 0)
    n, _, _, dur = mp3_probe(full + full[:50])
    assert n == 1 and dur == 1152 * 1000 // 44100
    with _pytest.raises(ValueError):
        mp3_probe(full[:50])  # no complete frame at all

    with _pytest.raises(NotImplementedError):
        mp3_probe(b"ID3\x04garbage")  # not a frame sync
    bad_layer = bytearray(frame(9, 0))
    bad_layer[1] = 0xFD  # Layer II
    with _pytest.raises(NotImplementedError):
        mp3_probe(bytes(bad_layer))
    bad_rate = bytearray(frame(9, 0))
    bad_rate[2] |= 0x0C  # reserved samplerate index 3
    with _pytest.raises(ValueError):
        mp3_probe(bytes(bad_rate))


def test_skip_bad_records_dropmalformed_equals_good(spark, sf_dir):
    """The reference's skip-and-continue mode (SkipBadRecords) maps to
    DROPMALFORMED: reading the deterministically-corrupted staging file with
    DROPMALFORMED must yield exactly the PERMISSIVE audit's good records —
    same count, same doc_id set, no corrupt row leaking through."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import queries
    from hadoop_3_0_0_beta1_gaia_spark.session import stage_dir

    # Collect the FULL audit rows: corrupt-record detection happens at parse
    # time and Spark's CSV column pruning skips unreferenced fields — a
    # consumer that re-aggregates only n_bad would prune n_chars away, the
    # malformed field would never be parsed, and every row would read as
    # good (pinned below; the entry's own output always carries the
    # n_chars-dependent column, so the driver gate parses fully).
    rows = queries()["skip_bad_records_audit"](spark, sf_dir).collect()
    n_good = sum(r["n_good"] for r in rows)
    n_bad = sum(r["n_bad"] for r in rows)
    assert n_bad > 0  # the corruption rule fires at every SF

    # the pruning gotcha itself, pinned: aggregating ONLY n_bad re-parses
    # just (lang, _bad), the corrupt field is never typed, n_bad reads 0
    audit2 = queries()["skip_bad_records_audit"](spark, sf_dir)
    pruned_bad = audit2.agg(F.sum("n_bad")).collect()[0][0]
    assert pruned_bad == 0, "CSV pruning semantics changed — revisit entry docs"

    stage = stage_dir("/tmp/gaia_spark_badrec", sf_dir, "docs_csv")
    dropped = (
        spark.read.schema("doc_id long, lang string, n_chars long")
        .option("mode", "DROPMALFORMED")
        .csv(stage)
    )
    # DROPMALFORMED shares the parse-time semantics: a bare count() parses
    # no typed column, detects nothing, and returns the raw line count —
    # pinned first, then the real skip behavior via a full-parse aggregate.
    assert dropped.count() == n_good + n_bad
    assert dropped.agg(F.count("n_chars")).collect()[0][0] == n_good
    assert (
        dropped.filter(
            F.col("n_chars").isNotNull() & (F.col("doc_id") % 17 == 3)
        ).count()
        == 0
    )


def test_bbp_digits_match_known_pi_hex(spark, sf_dir):
    """The BBP entry's digits must equal pi's KNOWN hex expansion
    3.243F6A88... — an external ground truth, not just engine agreement."""
    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import queries

    rows = {
        r["pos"]: r["hex_digit"]
        for r in queries()["bbp_pi_hex_digits"](spark, sf_dir).collect()
    }
    known = "243F6A88"  # first 8 hex digits of pi after the point
    for i, ch in enumerate(known, start=1):
        assert rows[i] == int(ch, 16), (i, ch, rows[i])


def test_q9_profit_amounts_net_of_cost(spark, sf_dir):
    """Q9's profit must be revenue NET of a same-unit cost: with the cost
    term correctly scaled by the revenue's (100 - discount) percent factor,
    some line items price below retail (negative amounts) — the semantics a
    unit mismatch silently destroys (profit would be ~99% of revenue and
    never negative; caught in review, pinned here at the line level)."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.plans.tpch_rest import _cents, _rev_units
    from hadoop_3_0_0_beta1_gaia_spark.session import table as T

    li = T(spark, sf_dir, "lineitem").select(
        "l_partkey",
        _rev_units().alias("rev"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    p = T(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%")).select(
        "p_partkey", _cents("p_retailprice").alias("retail_cents")
    )
    amounts = li.join(p, li.l_partkey == p.p_partkey).select(
        (F.col("rev") - F.col("qty") * F.col("retail_cents") * 100).alias("a")
    )
    row = amounts.agg(F.min("a").alias("lo"), F.max("a").alias("hi")).collect()[0]
    assert row["lo"] < 0 < row["hi"]


def test_jpeg_batch_path_bit_identical_to_scalar():
    """The numpy batched encode/decode path (batch IDCT/FDCT matmul, np.rint,
    vectorized color transform/downsample/quantizer) produces BIT-IDENTICAL
    bytes to the dependency-free scalar path, across gray/RGB, 4:4:4/4:2:0,
    odd dimensions and the q100 flat-block oracle regime — so the LUT/batch
    speedups can never drift the oracle-checked decode output."""
    import random

    import hadoop_3_0_0_beta1_gaia_spark.functions.jpeg as J

    random.seed(7)
    cases = []
    for w, h, ch, sub, q in [
        (16, 16, 1, False, 100),
        (24, 17, 1, False, 85),
        (16, 16, 3, False, 92),
        (24, 18, 3, True, 75),
        (33, 9, 3, True, 60),
    ]:
        px = bytes(random.randrange(256) for _ in range(w * h * ch))
        cases.append((w, h, ch, sub, q, px))

    fast_enc = [
        J.jpeg_encode(w, h, ch, px, quality=q, subsample=sub)
        for (w, h, ch, sub, q, px) in cases
    ]
    fast_dec = [J.jpeg_decode(e) for e in fast_enc]
    saved = J._np
    try:
        J._np = None  # force the scalar fallback
        slow_enc = [
            J.jpeg_encode(w, h, ch, px, quality=q, subsample=sub)
            for (w, h, ch, sub, q, px) in cases
        ]
        slow_dec = [J.jpeg_decode(e) for e in fast_enc]
    finally:
        J._np = saved
    assert fast_enc == slow_enc  # byte-identical encodings
    assert fast_dec == slow_dec  # byte-identical decodes of the same bytes


def test_paragraph_dedup_keep_first_rule(spark):
    """Corpus-level paragraph dedup: every distinct paragraph survives exactly
    once at its first (doc_id, pos) occurrence — cross-document copies AND a
    within-document repeat (same doc, later pos) must both drop; documents
    reassemble from surviving paragraphs in original order."""
    import hashlib

    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import paragraph_dedup

    pages = spark.createDataFrame(
        [
            (1, "alpha\nboiler\nbeta\nboiler"),  # within-doc repeat at pos 3
            (2, "boiler\ngamma"),                # cross-doc copy of boiler
            (3, "boiler\nalpha"),                # nothing survives
        ],
        "doc_id bigint, page string",
    )
    got = {
        r["doc_id"]: (r["n_paras"], r["n_kept"], r["kept_md5"])
        for r in paragraph_dedup(pages).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (4, 3, md5("alpha\nboiler\nbeta"))
    assert got[2] == (2, 1, md5("gamma"))
    assert got[3] == (2, 0, md5(""))


def test_ccnet_bucket_exclusive_prefix_and_volume_thirds(spark):
    """CCNet bucketing cuts by cumulative CHARACTER volume, not doc count,
    on an EXCLUSIVE prefix: a language whose best-scored doc alone exceeds a
    third of the volume still puts that doc in 'head' (exclusive prefix = 0),
    and boundaries are integer cross-multiplication — pinned on a hand-walked
    fixture with an oversized head doc and a second language whose volume
    splits unevenly."""
    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import ccnet_bucket

    docs = spark.createDataFrame(
        [
            # lang a, total 100 chars: scores order d1 > d2 > d3
            (1, "a", 60, 900),   # rel 0  -> head (alone > 1/3 of volume)
            (2, "a", 30, 500),   # rel 60 -> 180 >= 100, 180 < 200 -> middle
            (3, "a", 10, 100),   # rel 90 -> 270 >= 200 -> tail
            # lang b, total 30: three equal docs, score ties broken by doc_id
            (4, "b", 10, 700),   # rel 0  -> head
            (5, "b", 10, 700),   # rel 10 -> 30 >= 30, 30 < 60 -> middle
            (6, "b", 10, 700),   # rel 20 -> 60 >= 60 -> tail
        ],
        "doc_id bigint, lang string, n_chars bigint, score_ppm bigint",
    )
    got = {r["doc_id"]: r["bucket"] for r in ccnet_bucket(docs).collect()}
    assert got == {1: "head", 2: "middle", 3: "tail",
                   4: "head", 5: "middle", 6: "tail"}


def test_exact_substring_cut_rewrites_documents(spark):
    """The ExactSubstr remediation: doc_a's copy survives, every doc_b range
    is cut, overlapping ranges from different pairs merge before counting
    (no double-billed cut_tokens), a fully-duplicated doc cuts to empty, and
    untouched docs pass through — all hand-computed on a 4-doc fixture."""
    import hashlib

    from hadoop_3_0_0_beta1_gaia_spark.functions.dedup import exact_substring_cut

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "z z a b c d e f g h i j y y"),
            (3, "a b c d e f g h i j"),
            (4, "a b c d e f g h w x c d e f g h i j"),
            (5, "   \t  "),  # whitespace-only: zero tokens, must not crash
            (6, ""),         # empty text: zero tokens, must not crash
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_toks"], r["cut_tokens"], r["kept_md5"])
        for r in exact_substring_cut(docs, k=8).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (10, 0, md5("a b c d e f g h i j"))   # lowest id keeps
    assert got[2] == (14, 10, md5("z z y y"))              # interior run cut
    assert got[3] == (10, 10, md5(""))                     # exact copy -> empty
    assert got[4] == (18, 16, md5("w x"))                  # [1,8]+[11,18] merged
    # zero-token docs pass through (sequence(1, 0) is DESCENDING in Spark;
    # ungarded element_at(toks, 0) threw INVALID_ARRAY_INDEX_IN_ELEMENT_AT)
    assert got[5] == (0, 0, md5(""))
    assert got[6] == (0, 0, md5(""))


def test_gopher_dup_line_metrics_thresholds(spark):
    """Gopher A1.2 line-duplication signals, hand-computed: every occurrence
    of a non-unique line counts (including the first), both fractions are
    integer cross-multiplied, and the verdict sits exactly ON the published
    thresholds — a doc at dup_line_frac == 0.30 is NOT repetitive (strict
    >), one just past it is."""
    from hadoop_3_0_0_beta1_gaia_spark.plans.llm_quality import (
        gopher_dup_line_metrics,
    )

    pages = spark.createDataFrame(
        [
            # 10 lines, 3 of them the same SHORT dup -> 3/10 == 0.30 exactly
            # (strict >: keep); dup chars 3 of 143 (3x1 "d" + 7x20 unique)
            # stay under the char rule
            (1, "\n".join(["d", "d", "d"] + [f"unique line number {i}" for i in range(7)])),
            # 10 lines, 4 dup occurrences -> 0.40 > 0.30: repetitive
            (2, "\n".join(["d", "d", "d", "d"] + [f"unique line number {i}" for i in range(6)])),
            # line frac 2/10 = 0.2 BUT the dup line is long: char frac fires
            (3, "\n".join(["x" * 50, "x" * 50] + [f"u{i}" for i in range(8)])),
            # no duplicates at all
            (4, "\n".join(f"u{i}" for i in range(5))),
        ],
        "doc_id bigint, page string",
    )
    got = {
        r["doc_id"]: (r["n_lines"], r["dup_lines"], r["repetitive"])
        for r in gopher_dup_line_metrics(pages).collect()
    }
    assert got[1] == (10, 3, False)   # exactly ON 0.30 -> not repetitive
    assert got[2] == (10, 4, True)    # past the line-fraction threshold
    assert got[3] == (10, 2, True)    # char-fraction fires (100 of 116 chars:
                                      # 2x50 'x' lines + 8x2 'u{i}' lines)
    assert got[4] == (5, 0, False)


def test_translate_counts_equal_regex_counts(spark):
    """r11 optimization pin: the translate()-based character-class counts in
    quality_score / quality_classifier_score are value-identical to the
    regexp_replace formulations they replaced (the oracle still uses the
    regex form, so any divergence fails the driver hash-compare too).
    Adversarial inputs: every Java \\s member, unicode whitespace that \\s
    does NOT match (NBSP, ideographic space), digits, unicode letters,
    emoji, empty string."""
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.text_metrics import (
        ALNUM_LOWER,
        WS_CHARS,
    )

    rows = [
        ("plain words and 123 numbers!",),
        (" \t\n\x0b\x0c\r",),                     # all six Java \s chars
        ("  　",),                  # unicode WS: NOT \s in Java
        ("punct!!! ###$%^&*()",),
        ("ÜmläütÉ çhârs ß and 漢字 🚀",),          # non-ASCII letters + emoji
        ("",),
        ("0123456789",),
        ("a,b.c;d:e'f\"g",),
    ]
    df = spark.createDataFrame(rows, "text string")
    t = F.lower(F.col("text"))
    regex_non_ws = F.length(F.regexp_replace(t, r"\s+", ""))
    regex_punct = F.length(t) - F.length(
        F.regexp_replace(t, r"[^a-z0-9\s]", "")
    )
    tr_non_ws = F.length(F.translate(t, WS_CHARS, ""))
    tr_punct = F.length(F.translate(t, ALNUM_LOWER + WS_CHARS, ""))
    got = df.select(
        regex_non_ws.alias("rn"),
        tr_non_ws.alias("tn"),
        regex_punct.alias("rp"),
        tr_punct.alias("tp"),
    ).collect()
    for r in got:
        assert r["rn"] == r["tn"], r
        assert r["rp"] == r["tp"], r


def test_retention_lead_window_semantics(spark):
    """r11 optimization pin for the events_daily_retention rewrite: within a
    user the distinct days are unique and sorted, so lead(day) == day+1 is
    exactly 'active on the next calendar day' — including month/year
    boundaries, gaps, and single-day users."""
    from pyspark.sql import functions as F

    rows = [
        # u1: consecutive across a month boundary + a gap
        (1, "2024-01-31 10:00:00"), (1, "2024-02-01 09:00:00"),
        (1, "2024-02-03 09:00:00"),
        # u2: single day only
        (2, "2024-01-31 23:59:59"),
        # u3: same day twice (distinct collapses), then next day
        (3, "2024-01-31 01:00:00"), (3, "2024-01-31 02:00:00"),
        (3, "2024-02-01 01:00:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts string").select(
        "user_id", F.col("ts").cast("timestamp_ntz").alias("ts")
    )
    import hadoop_3_0_0_beta1_gaia_spark.plans.mrops as M

    orig = M.T
    try:
        M.T = lambda spark, sf_dir, name: ev
        got = {r["day"]: (r["dau"], r["retained"]) for r in
               M.events_daily_retention(spark, "unused").collect()}
    finally:
        M.T = orig
    assert got["2024-01-31"] == (3, 2)   # u1 and u3 retained, u2 not
    assert got["2024-02-01"] == (2, 0)   # u1 gap to 02-03, u3 ends
    assert got["2024-02-03"] == (1, 0)


def test_jl_numpy_projection_matches_expression(spark, sf_dir):
    """r11 optimization pin: jl_projection_recall evaluates the JL signed
    projection inside the numpy kernel (vec_transform) instead of as the
    generated 16x64-term expression column. Both are the same left fold
    ``((s0*v0) + s1*v1) + ...`` so every projected double must be
    BIT-identical on the real fixture vectors."""
    import numpy as np
    from pyspark.sql import functions as F

    from hadoop_3_0_0_beta1_gaia_spark.functions.similarity import as_double
    from hadoop_3_0_0_beta1_gaia_spark.plans.dedup_sim import (
        _jl_np_project,
        _jl_project_exprs,
    )
    from hadoop_3_0_0_beta1_gaia_spark.session import table

    spark_proj, _ = _jl_project_exprs()
    emb = table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    expr_rows = (
        emb.select("vec_id", F.array(*spark_proj(v)).alias("p"))
        .orderBy("vec_id")
        .collect()
    )
    raw_rows = emb.select("vec_id", v.alias("v")).orderBy("vec_id").collect()
    V = np.array([r["v"] for r in raw_rows], dtype=np.float64)
    got = _jl_np_project(V)
    want = np.array([r["p"] for r in expr_rows], dtype=np.float64)
    assert got.shape == want.shape
    # bit-for-bit: identical IEEE fold order on both paths
    assert np.array_equal(
        got.view(np.int64), want.view(np.int64)
    ), "numpy JL projection diverged from the expression chain"

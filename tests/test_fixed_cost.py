"""Fixed per-task and per-job costs of a small pass.

- Python workers keep each unchanged zip archive's directory across
  ``importlib.invalidate_caches()`` (``pydaemon``), and still re-read one
  that changed.
- ``session.table`` runs no schema job on a repeated read of an unchanged
  file, and sees a rewritten file's new schema.
- The DSIR fit runs in the one collect of its bucket counts.
- MinHash-LSH dedup runs in one scan, one bucket shuffle and one dedupe
  shuffle: no cache, no join.
"""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from hadoop_3_0_0_beta1_gaia_spark import session


def _jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran)."""
    sc = spark.sparkContext
    group = f"fixed-cost-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_worker_keeps_unchanged_zip_directories(spark):
    # defined in the test so it pickles by value: workers cannot import tests/
    def zip_dirs_survive(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        before = {
            p: zipimport._zip_directory_cache.get(p) for p in sys.path if p.endswith(".zip")
        }
        importlib.invalidate_caches()
        for _ in batches:
            for p, files in before.items():
                if files is not None:
                    same = zipimport._zip_directory_cache.get(p) is files
                    yield pa.RecordBatch.from_arrays(
                        [pa.array([p]), pa.array([same])], names=["archive", "same"]
                    )

    rows = (
        spark.range(4)
        .repartition(2)
        .mapInArrow(zip_dirs_survive, "archive string, same boolean")
        .collect()
    )
    assert any(r["archive"].endswith("pyspark.zip") for r in rows), rows
    assert all(r["same"] for r in rows), rows


def _write_zip(path, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{os.path.basename(path)[:-4]}.py", f"VALUE = {value!r}\n")


def test_pydaemon_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    from hadoop_3_0_0_beta1_gaia_spark import pydaemon

    mod = f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{mod}.zip")
    _write_zip(archive, 1)
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, mod, raising=False)
    assert importlib.import_module(mod).VALUE == 1

    importlib.invalidate_caches()  # the first call stamps the archive
    files = zipimport._zip_directory_cache[archive]
    n = reads.count(archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == n
    assert zipimport._zip_directory_cache[archive] is files

    _write_zip(archive, "rewritten")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert reads.count(archive) == n + 1
    del sys.modules[mod]
    assert importlib.import_module(mod).VALUE == "rewritten"


def test_table_schema_memo(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    first = session.table(spark, str(tmp_path), "region")
    again, n = _jobs(spark, lambda: session.table(spark, str(tmp_path), "region"))
    assert n == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}),
        path,
    )
    changed = session.table(spark, str(tmp_path), "region")
    assert changed.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r["r_comment"] for r in changed.collect()) == ["x", "y"]


def test_dsir_fit_runs_in_two_jobs_with_the_same_log_ratios(spark, sf_dir, monkeypatch):
    from hadoop_3_0_0_beta1_gaia_spark.plans import llm_quality
    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import all_entries

    seen = []
    log_ratios = llm_quality._dsir_log_ratios

    def recording(spark_, cnt):
        seen.append((cnt, log_ratios(spark_, cnt)))
        return seen[-1][1]

    monkeypatch.setattr(llm_quality, "_dsir_log_ratios", recording)
    session.table(spark, sf_dir, "documents")  # schema memo warm, as in a pass
    _, n = _jobs(spark, lambda: all_entries()["dsir_importance_select"].build(spark, sf_dir))
    assert n <= 2
    (cnt, lr_arr), = seen
    hit = [r["b"] for r in cnt]
    assert hit and np.isfinite(lr_arr[hit]).all()

    # reference: the totals and log-ratios as a 1-row aggregate broadcast
    # into a cross join over the bucket frame
    cnt_df = spark.createDataFrame(cnt, "b long, cs long, ct long")
    tot = cnt_df.agg(F.sum("cs").alias("ns"), F.sum("ct").alias("nt"))
    ref = cnt_df.crossJoin(F.broadcast(tot)).select(
        "b",
        (
            F.log((F.col("ct") + 1) * 1.0 / (F.col("nt") + 512))
            - F.log((F.col("cs") + 1) * 1.0 / (F.col("ns") + 512))
        ).alias("lr"),
    )
    ref_arr = np.full(512, np.nan, dtype=np.float64)
    for row in ref.collect():
        ref_arr[row["b"]] = row["lr"]
    assert (lr_arr[hit] == ref_arr[hit]).all()
    assert lr_arr.view(np.int64).tolist() == ref_arr.view(np.int64).tolist()


def test_minhash_lsh_runs_in_four_jobs_without_cache_or_join(spark, sf_dir):
    import io
    from contextlib import redirect_stdout

    from hadoop_3_0_0_beta1_gaia_spark.plans.registry import all_entries

    entry = all_entries()["dedup_minhash_lsh"]
    session.table(spark, sf_dir, "documents")  # schema memo warm, as in a pass

    def run():
        df = entry.build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df

    try:
        df, n = _jobs(spark, run)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
    finally:
        session.release_owned()
    assert n <= 4
    plan = buf.getvalue()
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    assert "Join" not in plan, plan

"""Fixed per-task and per-job costs of a small pass.

- Python workers keep each unchanged zip archive's directory across
  ``importlib.invalidate_caches()`` (``pydaemon``), and still re-read one
  that changed.
- ``session.table`` runs no schema job on a repeated read of an unchanged
  file, and sees a rewritten file's new schema.
- The DSIR fit runs in the one collect of its bucket counts.
- MinHash-LSH dedup runs in one scan, one bucket shuffle and one dedupe
  shuffle: no cache, no join.
- The driver JVM starts from a class-data archive named after the JDK and
  the Spark jars; only a complete archive is mapped or promoted, and a conf
  directory with a real file leaves the launch as it was.
- The driver JVM alone gets the compile policy, once, whatever the archive
  mode; Spark's broadcast chunks are not humongous G1 objects.
- ``lower()`` runs without ICU, so no query builds ICU's title-case table,
  and Python workers are forked from a daemon that has pandas and pyarrow
  loaded.
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

from hadoop_3_0_0_beta1_gaia_spark import cds, session


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


def _fake_install(tmp_path, monkeypatch):
    """A Spark home with two jars and a JDK with a ``java`` file, a fresh
    cache, and no variable that would turn the archive off."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    for name in ("a.jar", "b.jar"):
        (home / "jars" / name).write_bytes(b"PK" + name.encode())
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "bin" / "java").write_bytes(b"java")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.setattr(cds, "LAST", cds.LAST)  # the test session's launch
    for var in (*cds._CLASSPATH_ENV, "SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS",
                "PYSPARK_GATEWAY_PORT"):
        monkeypatch.delenv(var, raising=False)
    return home


def test_cds_archive_name_follows_jar_size_and_mtime(tmp_path, monkeypatch):
    home = _fake_install(tmp_path, monkeypatch)
    java = cds.java_binary()
    key = cds.archive_key(str(home), java)
    assert cds.archive_key(str(home), java) == key

    jar = home / "jars" / "b.jar"
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    touched = cds.archive_key(str(home), java)
    assert touched != key

    with open(jar, "ab") as fh:  # same mtime, new size
        fh.write(b"more")
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert cds.archive_key(str(home), java) not in (key, touched)


def test_cds_maps_and_promotes_only_a_complete_archive(spark, tmp_path, monkeypatch):
    _fake_install(tmp_path, monkeypatch)
    key, root = cds.site()
    archive = os.path.join(root, f"{key}.jsa")
    good = cds.MAGIC.to_bytes(4, sys.byteorder) + b"rest"

    def dumping(body):
        def dump(path):
            with open(path, "wb") as fh:
                fh.write(body)
        monkeypatch.setattr(cds, "_dump_classes", dump)

    for head in (b"\0\0\0\0", b"\xba\xba\x0b\xf0", b"\xa8"):
        with open(archive, "wb") as fh:
            fh.write(head + b"old")
        # a lock whose owner is gone (this process did not start at tick 0)
        dead = f"{key}.1.x.part"
        with open(os.path.join(root, dead), "wb") as fh:
            fh.write(good)
        with open(os.path.join(root, f"{key}.lock"), "w") as fh:
            fh.write(f"{os.getpid()} 0 {dead}\n")
        launch = cds.prepare("-Dx=1")
        # the incomplete archive is not mapped, the dead owner's file is dropped
        assert launch.mode == "dump", head
        assert launch.java_opts == f"-Dx=1 {cds.DUMP_OPTS} {cds.LOG_OFF}"
        assert not os.path.exists(os.path.join(root, dead))
        assert cds.prepare("-Dx=1").mode == "busy"  # this process holds the lock
        dumping(head + b"new")
        with launch:
            pass
        launch.write_archive(spark)
        # an incomplete dump is not promoted; the lock and the dump are gone
        with open(archive, "rb") as fh:
            assert fh.read() == head + b"old"
        assert set(os.listdir(root)) == {"conf", f"{key}.jsa", "mutex", "warm.parquet"}

    launch = cds.prepare("-Dx=1")
    dumping(good)
    with launch:
        pass
    launch.write_archive(spark)
    assert set(os.listdir(root)) == {"conf", f"{key}.jsa", "mutex", "warm.parquet"}
    launch = cds.prepare("-Dx=1")
    assert launch.mode == "use"
    assert launch.java_opts == f"-Dx=1 -XX:SharedArchiveFile={archive} {cds.LOG_OFF}"


def test_cds_real_conf_file_launches_as_without_archive(tmp_path, monkeypatch):
    home = _fake_install(tmp_path, monkeypatch)
    (home / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    launch = cds.prepare("-Dx=1")
    assert (launch.mode, launch.java_opts) == (None, "-Dx=1")
    with launch:
        assert "SPARK_CONF_DIR" not in os.environ
    assert "SPARK_CONF_DIR" not in os.environ

    own = tmp_path / "own-conf"
    own.mkdir()
    (own / "log4j2.properties").write_text("rootLogger.level = warn\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    (home / "conf" / "spark-defaults.conf").unlink()
    launch = cds.prepare("-Dx=1")
    assert (launch.mode, launch.java_opts) == (None, "-Dx=1")
    with launch:
        assert os.environ["SPARK_CONF_DIR"] == str(own)
    assert os.environ["SPARK_CONF_DIR"] == str(own)

    monkeypatch.delenv("SPARK_CONF_DIR")
    launch = cds.prepare("-Dx=1")
    assert launch.mode == "dump"
    with launch:
        assert os.environ["SPARK_CONF_DIR"] == launch.conf_dir
        assert os.listdir(launch.conf_dir) == []
    assert "SPARK_CONF_DIR" not in os.environ


def test_session_jvm_starts_with_one_cds_flag_and_the_locale(spark):
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert "-Duser.language=en" in args
    flags = [
        a.split("=")[0] for a in args if "SharedArchiveFile" in a or "DynamicDumpInfo" in a
    ]
    launch = cds.LAST
    assert launch is not None, "the test session's JVM was not launched by get_session"
    if cds.site() is not None:  # CDS applies on this machine
        assert launch.mode in ("use", "dump", "busy"), launch.mode
    expected = {"use": ["-XX:SharedArchiveFile"], "dump": ["-XX:+RecordDynamicDumpInfo"]}
    assert flags == expected.get(launch.mode, []), (launch.mode, args)
    if launch.mode in expected:
        assert "-Xlog:cds=off" in args
    if launch.mode == "dump":  # written as soon as the session was up
        assert cds.complete(launch.archive)


def test_jit_flags_once_on_the_driver_only(spark, tmp_path):
    flags = session.JIT_OPTS.split()
    assert flags and all(f.startswith("-XX:") for f in flags)
    args = list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    )
    assert all(args.count(f) == 1 for f in flags), args
    executor = spark.sparkContext.getConf().get("spark.executor.extraJavaOptions")
    assert executor.endswith(session.JAVA_OPTS)  # Spark puts its module options first
    assert not any(f.split("=")[0] in executor for f in flags)

    # every way get_session can start the driver: mapping an archive, writing
    # one, while another session writes one, and without one
    archive = str(tmp_path / "k.jsa")
    launches = [
        cds.Launch(session.DRIVER_OPTS, "use", archive=archive),
        cds.Launch(session.DRIVER_OPTS, "dump", archive=archive,
                   lock=str(tmp_path / "k.lock"), part=str(tmp_path / "k.part")),
        cds.Launch(session.DRIVER_OPTS, "busy"),
        cds.Launch(session.DRIVER_OPTS),
    ]
    for launch in launches:
        opts = launch.java_opts.split()
        assert all(opts.count(f) == 1 for f in flags), (launch.mode, opts)
        assert opts[:2] == session.JAVA_OPTS.split()


def test_broadcast_chunks_below_g1_humongous_threshold(spark):
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("UseG1GC").getValue() == "true"
    half_region = int(bean.getVMOption("G1HeapRegionSize").getValue()) // 2
    conf = jvm.org.apache.spark.SparkEnv.get().conf()
    chunk = conf.getSizeAsKb("spark.broadcast.blockSize", "4m") * 1024
    assert chunk + 16 < half_region, (chunk, half_region)
    heap = session.heap_bytes(spark.sparkContext.getConf().get("spark.driver.memory"))
    assert chunk == session.broadcast_block_bytes(heap)

    assert [session.heap_bytes(m) for m in ("8g", "8G", "4096m", "512", "2gb", "64k")] == [
        8 << 30, 8 << 30, 4 << 30, 512 << 20, 2 << 30, 64 << 10
    ]
    # G1's region: heap / 2048 as a power of two within [1 MB, 32 MB]
    assert [session.broadcast_block_bytes(h << 30) for h in (1, 8, 12, 16, 64, 512)] == [
        256 << 10, 1 << 20, 1 << 20, 2 << 20, 8 << 20, 8 << 20
    ]


def test_lower_leaves_icu_case_mapping_table_unbuilt(spark):
    from hadoop_3_0_0_beta1_gaia_spark.functions.text_metrics import tokens

    assert spark.conf.get("spark.sql.icu.caseMappings.enabled") == "false"
    df = spark.createDataFrame([("\u0130STANBUL Stra\u1e9ee",), ("Plain ASCII",)], "t string")
    assert [len(r[0]) for r in df.select(tokens(F.col("t"))).collect()] == [2, 2]
    jvm = spark._jvm
    # Class.forName without initializing; the class's static initializer
    # builds the table on its first use
    icu = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String",
        False,
        spark._jsc.getClass().getClassLoader(),
    )
    field = jvm.java.lang.Class.forName("sun.misc.Unsafe").getDeclaredField("theUnsafe")
    field.setAccessible(True)
    assert field.get(None).shouldBeInitialized(icu)


def test_workers_fork_with_pandas_and_pyarrow_loaded(spark):
    # defined in the test so it pickles by value: workers cannot import tests/
    def daemon_libraries(batches):
        import os

        import pyarrow as pa

        for _ in batches:
            pass
        daemon = os.getppid()
        with open(f"/proc/{daemon}/cmdline", "rb") as f:
            cmdline = f.read().replace(b"\0", b" ").decode()
        with open(f"/proc/{daemon}/maps") as f:
            paths = {line.split()[-1] for line in f if "/" in line}
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([cmdline]),
                pa.array([any("/libarrow.so" in p for p in paths)]),
                pa.array([any("/pandas/_libs/" in p and ".so" in p for p in paths)]),
            ],
            names=["cmdline", "arrow", "pandas"],
        )

    rows = (
        spark.range(4)
        .repartition(2)
        .mapInArrow(daemon_libraries, "cmdline string, arrow boolean, pandas boolean")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert "hadoop_3_0_0_beta1_gaia_spark.pydaemon" in r["cmdline"], r
        assert r["arrow"] and r["pandas"], r
